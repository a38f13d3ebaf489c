package geobench

import graft.cell.Cells
import graft.data.GeoTables
import graft.join.SpatialJoins
import graft.tile.{IceLite, TileJob}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** One metric as reported: value, unit and, for percentiles, the sample count. */
final case class Metric(name: String, value: Double, unit: String, samples: Int = 0)

/**
 * A workload: inputs generated from the seed with the engine's own
 * generators, written as tables the program reads, and a closed loop of
 * program calls with one client thread. Point and image indices are offset
 * by `seed << 32`, so each seed draws a disjoint slice of the generators'
 * streams with the same size mix, 80/20 PNG/JPEG split and 0.1 degree hot
 * box as the fixtures.
 */
abstract class Workload(val spark: SparkSession, val seed: Long, val dir: String) {
  import Workload._
  protected val base: Long = seed << 32
  protected val parts: Int = spark.sparkContext.defaultParallelism

  /** The op kind whose latency is the run's `op_ms_p50` metric. */
  def latencyOp: String
  /** The op kinds that process the image table; images_per_s divides by their time. */
  def throughputOps: Set[String]
  /** Generates the input tables; run several times, the last copy is used. */
  def setup(tr: Tracer): Unit
  /** The input arrays the oracle reads, and the expected results; untimed. */
  def prepareOracle(): Unit
  /** One cycle of the closed loop; ops after the first stop at the deadline. */
  def cycle(p: Phase, cycleNo: Int, deadline: Long): Unit
  /** Traced runs only, after the timed phase: direct calls into single
    * layers, and the per-layer metrics only this workload can compute.
    * Call `p.tracer.drain()` before reading attributed task metrics. */
  def layerMetrics(p: Phase): Seq[Metric] = Nil
  /** Workload-specific end-to-end metrics, by the names the notes list. */
  def report(p: Phase): Seq[Metric]

  protected def before(deadline: Long): Boolean = System.nanoTime() < deadline

  protected def latency(p: Phase, kind: String, prefix: String): Seq[Metric] = {
    val xs = p.latencyMs.getOrElse(kind, Nil).toSeq
    val tail = Stats.tailPct(xs.size)
    Metric(s"${prefix}_p50", Stats.median(xs), "ms", xs.size) +:
      (if (tail > 50) Seq(Metric(s"${prefix}_p$tail", Stats.pct(xs, tail), "ms", xs.size)) else Nil)
  }

  protected def stored(p: Phase): Metric =
    Metric("stored_bytes_per_image", Stats.median(p.storedBytesPerImage.toSeq), "bytes")

  /** A seeded random stream per (seed, stream, index). */
  protected def rng(stream: Long, i: Long): java.util.SplittableRandom =
    new java.util.SplittableRandom(seed * 1000003L + stream * 7919L + i)

  protected def readRange(p: Phase, root: String, cells: Array[Long], ids: Array[String],
                          r: java.util.SplittableRandom): Unit = {
    // a range is the zoom-8 descendants of a level-3..5 ancestor of a random
    // image's cell, so reads follow the data's skew toward the hot box
    val shift = 2 * (Zoom - (3 + r.nextInt(3)))
    val lo = (cells(r.nextInt(cells.length)) >>> shift) << shift
    val hi = lo + (1L << shift) - 1
    val want = cells.indices.filter(i => cells(i) >= lo && cells(i) <= hi).map(ids)
    p.op("tile.read") {
      TileJob.readCellRange(spark, root, lo, hi).collect()
    } { rows => Oracle.sameIds(s"cells [$lo, $hi]", want, rows.map(_.getAs[String]("image_id")).toSeq) }
  }
}

object Workload {
  val Zoom = 8
  val BucketLevel = 2

  def apply(name: String, spark: SparkSession, seed: Long, dir: String, small: Boolean): Workload =
    name match {
      case "geo_query" =>
        if (small) new GeoQuery(spark, seed, dir, 3000, 60, 2)
        else new GeoQuery(spark, seed, dir, 400000, 1000, 2)
      case "tile_build" =>
        if (small) new TileBuild(spark, seed, dir, 300, 2)
        else new TileBuild(spark, seed, dir, 6000, 12)
      case "stream_ingest" =>
        if (small) new StreamIngest(spark, seed, dir, 20, 4, 2)
        else new StreamIngest(spark, seed, dir, 50, 40, 4)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

  def rmTree(p: Path): Unit = if (Files.exists(p)) {
    val w = Files.walk(p)
    try w.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f)) finally w.close()
  }

  private def parquetSizes(dir: String): Seq[Long] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) Nil
    else {
      val w = Files.walk(p)
      try w.iterator().asScala.filter(f => f.getFileName.toString.endsWith(".parquet"))
        .map(f => Files.size(f)).toList
      finally w.close()
    }
  }
  def parquetBytes(dir: String): Long = parquetSizes(dir).sum
  def parquetFiles(dir: String): Int = parquetSizes(dir).size

  /** Bytes of the data files the current snapshot references. */
  def liveBytes(root: String): Long =
    IceLite.currentSnapshot(root).toSeq.flatMap(_.buckets.map(_.dataDir)).distinct.map(parquetBytes).sum

  def rowTotal(s: IceLite.Snapshot): Long = s.buckets.map(_.rows).sum
}

/**
 * geo_query: a points-only location table and a rectangle zone table. The
 * zones are the fixture grid for every seed, a fixed dimension table: which
 * grid zones overlap the hot box moves the join output by about 40 %, so a
 * seeded zone grid would make runs of different seeds incomparable. Each
 * cycle runs the q08 shape (PIP join, then a (zone, tx, ty) tile count) and
 * then kNN calls of a few probes each over the same location table. It
 * loads cell / geom / join and no image decode or table write.
 */
final class GeoQuery(spark: SparkSession, seed: Long, dir: String,
                     nPoints: Int, nZones: Int, knnPerCycle: Int) extends Workload(spark, seed, dir) {
  import spark.implicits._
  import Workload._
  private val K = 5
  private val ProbesPerCall = 4
  private val pointsPath = s"$dir/points.parquet"
  private val zonesPath = s"$dir/zones.parquet"
  private val knnLevel = (math.log(nPoints.toDouble) / math.log(4.0)).toInt
  private var nx, ny: Array[Double] = _
  private var pipWant: Map[(String, Long, Long), Long] = _
  private var joinRowsWant = 0L

  def latencyOp = "join.knn"
  def throughputOps = Set("join.pip")

  def setup(tr: Tracer): Unit = tr.span("data.gen") {
    val (b, nz) = (base, nZones)
    spark.range(0, nPoints, 1, parts).map { j =>
      val i = b + j
      val (x, y) = (GeoTables.lonOf(i), GeoTables.latOf(i))
      (f"img$i%08d", x, y, Cells.normX(x), Cells.normY(y))
    }.toDF("image_id", "lon", "lat", "nx", "ny")
      .write.mode("overwrite").parquet(pointsPath)
    spark.range(0, nz, 1, 1).map(z => GeoTables.zoneRow(z, nz))
      .write.mode("overwrite").parquet(zonesPath)
  }

  def prepareOracle(): Unit = {
    val is = (0 until nPoints).map(base + _)
    val lon = is.map(GeoTables.lonOf).toArray; val lat = is.map(GeoTables.latOf).toArray
    nx = lon.map(Cells.normX); ny = lat.map(Cells.normY)
    val zones = (0L until nZones).map(z => GeoTables.zoneRow(z, nZones))
      .map(z => Oracle.Rect(z.zone_id, z.xmin, z.ymin, z.xmax, z.ymax))
    pipWant = Oracle.pipTileCounts(lon, lat, zones, Zoom)
    joinRowsWant = pipWant.values.sum
  }

  private def pointsDf: DataFrame = spark.read.parquet(pointsPath)

  def cycle(p: Phase, cycleNo: Int, deadline: Long): Unit = {
    p.op("join.pip") {
      SpatialJoins.pipJoin(pointsDf, spark.read.parquet(zonesPath), level = Zoom)
        .withColumn("tx", call_function("st_tile_x", col("lon"), lit(Zoom)))
        .withColumn("ty", call_function("st_tile_y", col("lat"), lit(Zoom)))
        .groupBy("zone_id", "tx", "ty").agg(count(lit(1)).as("n"))
        .collect()
    } { rows =>
      Oracle.sameCounts("pip tile counts", pipWant,
        rows.map(r => (r.getString(0), r.getLong(1), r.getLong(2)) -> r.getLong(3)).toMap)
    }.foreach(_ => p.images += nPoints)
    var c = 0
    while (c < knnPerCycle && before(deadline)) {
      knnCall(p, cycleNo * knnPerCycle + c)
      c += 1
    }
  }

  private def knnCall(p: Phase, callNo: Int): Unit = {
    val r = rng(1, callNo)
    val probes = Seq.tabulate(ProbesPerCall) { q =>
      val i = r.nextInt(nPoints)
      // jitter keeps probes off the stored points themselves
      (s"q$callNo-$q", nx(i) + (r.nextDouble() - 0.5) * 1e-4, ny(i) + (r.nextDouble() - 0.5) * 1e-4)
    }
    p.op("join.knn") {
      SpatialJoins.knn(pointsDf.select(col("image_id").as("id"), col("nx"), col("ny")),
        probes.toDF("id", "nx", "ny"), k = K, level = knnLevel).collect()
    } { rows => checkKnn(probes, rows) }
  }

  private def checkKnn(probes: Seq[(String, Double, Double)], rows: Array[Row]): Option[String] = {
    val byQ = rows.groupBy(_.getAs[String]("q_id"))
    probes.iterator.map { case (id, qx, qy) =>
      val got = byQ.getOrElse(id, Array.empty).sortBy(_.getAs[Int]("rank"))
      val want = Oracle.knnDistances(nx, ny, qx, qy, K).toSeq
      def d2Of(pid: String): Double = {
        val i = (pid.stripPrefix("img").toLong - base).toInt
        (nx(i) - qx) * (nx(i) - qx) + (ny(i) - qy) * (ny(i) - qy)
      }
      Oracle.equal(s"knn $id distances", want, got.map(_.getAs[Double]("d2")).toSeq)
        .orElse(Oracle.equal(s"knn $id ranks", (1 to K).toSeq, got.map(_.getAs[Int]("rank")).toSeq))
        .orElse(got.find(g => d2Of(g.getAs[String]("p_id")) != g.getAs[Double]("d2"))
          .map(g => s"knn $id: ${g.getAs[String]("p_id")} is not at distance ${g.getAs[Double]("d2")}"))
    }.collectFirst { case Some(e) => e }
  }

  override def layerMetrics(p: Phase): Seq[Metric] = {
    val zones = spark.read.parquet(zonesPath)
    val cover = p.op("cell.cover") { SpatialJoins.zoneCover(zones, Zoom).count() } { n =>
      if (n >= nZones) None else Some(s"$n cover cells for $nZones zones")
    }
    p.op("cell.cellid") {
      pointsDf.select(call_function("st_cellid", col("lon"), col("lat"), lit(Zoom)).as("c"))
        .agg(count(col("c"))).first().getLong(0)
    } { n => Oracle.equal("cellid rows", nPoints.toLong, n) }
    // the cell equi-join pipJoin refines: every candidate pair before the exact test
    val candidates = p.op("geom.candidates") {
      pointsDf.withColumn("cell", call_function("st_cellid", col("lon"), col("lat"), lit(Zoom)))
        .join(broadcast(SpatialJoins.zoneCover(zones, Zoom).select("cell")), "cell").count()
    } { n => if (n >= joinRowsWant) None else Some(s"$n candidates < $joinRowsWant join rows") }
    def ms(kind: String) = p.latencyMs(kind).last
    Seq(Metric("cell.cover_cells", cover.fold(0.0)(_.toDouble), "count"),
      Metric("cell.cover_s", ms("cell.cover") / 1e3, "s"),
      Metric("cell.cellid_rows_per_s", nPoints / (ms("cell.cellid") / 1e3), "1/s"),
      Metric("geom.refine_candidates", candidates.fold(0.0)(_.toDouble), "count"),
      Metric("geom.refine_hit_ratio", candidates.fold(0.0)(joinRowsWant.toDouble / _), "ratio"))
  }

  def report(p: Phase): Seq[Metric] = {
    val pips = p.latencyMs.getOrElse("join.pip", Nil)
    Metric("join_rows_per_s", p.images / nPoints * joinRowsWant / (pips.sum / 1e3), "1/s") +:
      latency(p, "join.knn", "knn_ms")
  }
}

/**
 * tile_build: a decode-bearing image + caption table. Each cycle runs
 * TileJob.run into a fresh table root, reads the whole table back through
 * readCurrent to verify it, then serves cell-range lookups. It runs no join.
 */
final class TileBuild(spark: SparkSession, seed: Long, dir: String,
                      nImages: Int, readsPerCycle: Int) extends Workload(spark, seed, dir) {
  import spark.implicits._
  import Workload._
  val imagesPath = s"$dir/images.parquet"
  private var ids: Array[String] = _
  private var cells: Array[Long] = _
  private var tilesWant: Map[(Long, Long), Long] = _

  def latencyOp = "tile.read"
  def throughputOps = Set("tile.run", "tile.verify")

  def setup(tr: Tracer): Unit = tr.span("data.gen") {
    val b = base
    spark.range(0, nImages, 1, parts).map(j => GeoTables.imageRow(b + j))
      .write.mode("overwrite").parquet(imagesPath)
  }

  def prepareOracle(): Unit = {
    val is = (0 until nImages).map(base + _)
    val lon = is.map(GeoTables.lonOf).toArray; val lat = is.map(GeoTables.latOf).toArray
    ids = is.map(i => f"img$i%08d").toArray
    cells = lon.indices.map(i => Oracle.cell(lon(i), lat(i), Zoom)).toArray
    tilesWant = Oracle.tileCounts(lon, lat, Zoom)
  }

  def cycle(p: Phase, cycleNo: Int, deadline: Long): Unit = {
    val root = s"$dir/tiles-$cycleNo"
    p.op("tile.run") {
      TileJob.run(spark, imagesPath, root, zoom = Zoom, bucketLevel = BucketLevel)
    } { snap => Oracle.equal("rows in snapshot", nImages.toLong, rowTotal(snap)) }
      .foreach(_ => p.images += nImages)
    p.op("tile.verify") {
      TileJob.readCurrent(spark, root).groupBy("tx", "ty")
        .agg(count(lit(1)).as("n"), sum(when(col("phash_ok"), 1L).otherwise(0L)).as("ok"))
        .collect()
    } { rows =>
      rows.find(r => r.getLong(2) != r.getLong(3))
        .map(r => s"tile (${r.getLong(0)}, ${r.getLong(1)}): ${r.getLong(3)} of ${r.getLong(2)} phash_ok")
        .orElse(Oracle.sameCounts("tile counts", tilesWant,
          rows.map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap))
    }
    p.storedBytesPerImage += liveBytes(root).toDouble / nImages
    filesWritten += parquetFiles(s"$root/data")
    val r = rng(2, cycleNo)
    var k = 0
    while (k < readsPerCycle && before(deadline)) { readRange(p, root, cells, ids, r); k += 1 }
    rmTree(Paths.get(root))
  }

  override def layerMetrics(p: Phase): Seq[Metric] = {
    p.op("img.decode") {
      spark.read.parquet(imagesPath)
        .where(call_function("img_phash", col("bytes")) === col("phash")).count()
    } { n => Oracle.equal("images whose pHash re-decodes equal", nImages.toLong, n) }
    p.tracer.drain()
    val decode = p.tracer.named("img.decode").last
    val runs = p.tracer.named("tile.run").map(s => p.tracer.listener.of(s.id).inputRecords.toDouble)
    Seq(Metric("img.decode_images_per_s", nImages / decode.seconds, "1/s"),
      Metric("img.decode_cpu_ms_per_image", p.tracer.listener.of(decode.id).cpuNs / 1e6 / nImages, "ms"),
      Metric("tile.input_rows_per_table_row", Stats.mean(runs) / nImages, "ratio"),
      Metric("tile.files_written", Stats.mean(filesWritten.toSeq), "count"))
  }

  /** Parquet files each TileJob.run wrote. */
  private val filesWritten = scala.collection.mutable.ArrayBuffer.empty[Double]

  def report(p: Phase): Seq[Metric] = latency(p, "tile.read", "read_ms") :+ stored(p)
}

/**
 * stream_ingest: many small micro-batches through TileJob.ingestBatch, one
 * commit each, with cell-range reads on the growing table, then compaction
 * and snapshot expiry. Bound by per-commit metadata rather than bulk decode.
 */
final class StreamIngest(spark: SparkSession, seed: Long, dir: String,
                         batchSize: Int, batches: Int, readEvery: Int) extends Workload(spark, seed, dir) {
  import Workload._
  import spark.implicits._
  private val srcPath = s"$dir/stream-src"
  private var ids: Array[String] = _
  private var cells: Array[Long] = _
  private var txy: Array[(Long, Long)] = _
  private var phash: Map[String, Long] = _

  def latencyOp = "tile.ingest"
  def throughputOps = Set("tile.ingest", "tile.compact", "tile.expire")

  def setup(tr: Tracer): Unit = tr.span("data.gen") {
    val (b, bs) = (base, batchSize)
    spark.range(0, batches.toLong * batchSize, 1, parts).map(j => (j / bs, GeoTables.imageRow(b + j)))
      .select(col("_1").as("batch"), col("_2.*"))
      .write.mode("overwrite").partitionBy("batch").parquet(srcPath)
  }

  def prepareOracle(): Unit = {
    val is = (0L until batches.toLong * batchSize).map(base + _)
    val lon = is.map(GeoTables.lonOf).toArray; val lat = is.map(GeoTables.latOf).toArray
    ids = is.map(i => f"img$i%08d").toArray
    cells = lon.indices.map(i => Oracle.cell(lon(i), lat(i), Zoom)).toArray
    txy = lon.indices.map(i => (Oracle.tile(Oracle.mercX(lon(i)), Zoom), Oracle.tile(Oracle.mercY(lat(i)), Zoom))).toArray
    phash = spark.read.parquet(srcPath).select("image_id", "phash").as[(String, Long)].collect().toMap
  }

  /** (image_id, tx, ty, phash, phash_ok) of every row in the current snapshot. */
  private def tableRows(root: String): Seq[(String, Long, Long, Long, Boolean)] =
    TileJob.readCurrent(spark, root).select("image_id", "tx", "ty", "phash", "phash_ok")
      .as[(String, Long, Long, Long, Boolean)].collect().toSeq

  private def checkRows(rows: Seq[(String, Long, Long, Long, Boolean)], n: Int): Option[String] = {
    val want = (0 until n).map(i => (ids(i), txy(i)._1, txy(i)._2, phash(ids(i)), true))
    Oracle.equal("table rows", n, rows.size)
      .orElse(Oracle.equal("table checksum", Oracle.checksum(want), Oracle.checksum(rows)))
  }

  def cycle(p: Phase, cycleNo: Int, deadline: Long): Unit = {
    val root = s"$dir/stream-$cycleNo"
    val r = rng(3, cycleNo)
    var b = 0
    while (b < batches && (b == 0 || before(deadline))) {
      val (batch, n) = (b, (b + 1) * batchSize)
      p.op("tile.ingest") {
        TileJob.ingestBatch(spark, spark.read.parquet(s"$srcPath/batch=$batch"), root, batch,
          zoom = Zoom, bucketLevel = BucketLevel, runId = s"bench$cycleNo")
      } { snap => Oracle.equal(s"rows after batch $batch", n.toLong, rowTotal(snap)) }
        .foreach(_ => p.images += batchSize)
      b += 1
      if (b % readEvery == 0) readRange(p, root, cells.take(n), ids.take(n), r)
    }
    val n = b * batchSize
    snapshotJsonBytes = math.max(snapshotJsonBytes,
      IceLite.currentSnapshot(root).fold(0)(s => IceLite.toJson(s).length))
    p.op("tile.compact") { TileJob.compact(spark, root) } { snap =>
      Oracle.equal("rows after compaction", n.toLong, rowTotal(snap)).orElse(checkRows(tableRows(root), n))
    }
    p.op("tile.expire") { IceLite.expireSnapshots(root, keep = 1) } { _ =>
      Oracle.equal("snapshots after expiry", 1, IceLite.listSnapshots(root).size)
        .orElse(checkRows(tableRows(root), n))
    }
    p.storedBytesPerImage += liveBytes(root).toDouble / n
    rmTree(Paths.get(root))
  }

  /** Largest snapshot manifest written by any cycle, before compaction. */
  private var snapshotJsonBytes = 0

  override def layerMetrics(p: Phase): Seq[Metric] =
    Seq(Metric("tile.snapshot_json_bytes", snapshotJsonBytes, "bytes"))

  def report(p: Phase): Seq[Metric] =
    latency(p, "tile.ingest", "batch_ms") ++ latency(p, "tile.read", "read_ms") :+ stored(p)
}
