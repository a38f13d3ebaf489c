package geobench

/**
 * Expected results computed from the generated input arrays with plain
 * formulas. Nothing here calls engine code, so an engine defect cannot hide
 * in its own oracle. Each check returns None when the result is right and
 * otherwise a description of the first mismatch.
 */
object Oracle {
  private val MaxLat = 85.05112877980659

  /** Web-mercator x in [0, 1). */
  def mercX(lon: Double): Double = {
    val x = (lon + 180.0) / 360.0
    if (x < 0) 0.0 else if (x >= 1) math.nextDown(1.0) else x
  }

  /** Web-mercator y in [0, 1), growing southward. */
  def mercY(lat: Double): Double = {
    val s = math.sin(math.toRadians(math.max(-MaxLat, math.min(MaxLat, lat))))
    val y = 0.5 - math.log((1 + s) / (1 - s)) / (4 * math.Pi)
    if (y < 0) 0.0 else if (y >= 1) math.nextDown(1.0) else y
  }

  /** Slippy-map tile index of a mercator coordinate at `zoom`. */
  def tile(m: Double, zoom: Int): Long = math.min((m * (1L << zoom)).toLong, (1L << zoom) - 1)

  /** Z-order cell id at `zoom`: x bits on even positions, y bits on odd. */
  def cell(lon: Double, lat: Double, zoom: Int): Long = {
    val x = tile(mercX(lon), zoom); val y = tile(mercY(lat), zoom)
    var c = 0L; var b = 0
    while (b < zoom) {
      c |= ((x >>> b) & 1L) << (2 * b)
      c |= ((y >>> b) & 1L) << (2 * b + 1)
      b += 1
    }
    c
  }

  final case class Rect(id: String, xmin: Double, ymin: Double, xmax: Double, ymax: Double)

  /** (zone, tx, ty) -> number of points inside the zone (closed bounds), the
    * result of the q08 join + tile aggregate. Zones are bucketed by the
    * whole degrees of longitude they span so each point tests only nearby
    * zones. */
  def pipTileCounts(lon: Array[Double], lat: Array[Double], zones: Seq[Rect],
                    zoom: Int): Map[(String, Long, Long), Long] = {
    val byDeg = Array.fill(361)(List.empty[Rect])
    zones.foreach { z =>
      var d = math.floor(z.xmin).toInt
      while (d <= math.floor(z.xmax).toInt) { byDeg(d + 180) ::= z; d += 1 }
    }
    val out = scala.collection.mutable.HashMap.empty[(String, Long, Long), Long]
    var i = 0
    while (i < lon.length) {
      val x = lon(i); val y = lat(i)
      byDeg(math.floor(x).toInt + 180).foreach { z =>
        if (x >= z.xmin && x <= z.xmax && y >= z.ymin && y <= z.ymax) {
          val k = (z.id, tile(mercX(x), zoom), tile(mercY(y), zoom))
          out(k) = out.getOrElse(k, 0L) + 1
        }
      }
      i += 1
    }
    out.toMap
  }

  /** (tx, ty) -> number of images at `zoom`. */
  def tileCounts(lon: Array[Double], lat: Array[Double], zoom: Int): Map[(Long, Long), Long] =
    lon.indices.groupBy(i => (tile(mercX(lon(i)), zoom), tile(mercY(lat(i)), zoom)))
      .map { case (k, is) => k -> is.size.toLong }

  /** The k smallest squared distances from (qx, qy) to the points, ascending. */
  def knnDistances(nx: Array[Double], ny: Array[Double], qx: Double, qy: Double, k: Int): Array[Double] = {
    val best = Array.fill(k)(Double.PositiveInfinity)
    var i = 0
    while (i < nx.length) {
      val d2 = (nx(i) - qx) * (nx(i) - qx) + (ny(i) - qy) * (ny(i) - qy)
      if (d2 < best(k - 1)) {
        var j = k - 1
        while (j > 0 && best(j - 1) > d2) { best(j) = best(j - 1); j -= 1 }
        best(j) = d2
      }
      i += 1
    }
    best
  }

  def sameCounts[K](what: String, want: Map[K, Long], got: Map[K, Long]): Option[String] =
    want.find { case (k, n) => !got.get(k).contains(n) }
      .map { case (k, n) => s"$what: $k expected $n, got ${got.get(k)}" }
      .orElse(got.keys.find(k => !want.contains(k)).map(k => s"$what: unexpected $k"))

  def sameIds(what: String, want: Seq[String], got: Seq[String]): Option[String] = {
    val (w, g) = (want.sorted, got.sorted)
    if (w == g) None
    else Some(s"$what: expected ${w.size} ids, got ${g.size}; first difference " +
      w.diff(g).headOption.map(x => s"missing $x").orElse(g.diff(w).headOption.map(x => s"extra $x")).getOrElse("in order"))
  }

  def equal[T](what: String, want: T, got: T): Option[String] =
    if (want == got) None else Some(s"$what: expected $want, got $got")

  /** Order-independent checksum of table rows. */
  def checksum(rows: Seq[Product]): Long =
    rows.foldLeft(0L)((acc, r) => acc + scala.util.hashing.MurmurHash3.productHash(r).toLong * 0x9E3779B97F4A7C15L)
}
