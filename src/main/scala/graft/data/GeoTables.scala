package graft.data

import graft.img.Images
import org.apache.spark.sql.{DataFrame, Encoder, SparkSession}
import org.apache.spark.storage.StorageLevel
import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}

/**
 * Deterministic synthesized geo tables (FIXTURES.md §F2; binding schema
 * from BASELINE.json `input_hint`):
 *
 *   images(image_id string, bytes binary, w int, h int, fmt string,
 *          caption string, phash bigint, lon double, lat double)
 *   zones (zone_id string, xmin double, ymin double, xmax double,
 *          ymax double, wkt string)
 *
 * lon/lat are derived from splitmix64(image index) — NOT re-computable in
 * ANSI SQL, so they are materialized as columns for the DuckDB oracle
 * (FIXTURES §F2 ruling); the engine re-derives and asserts equality in
 * tests. 20% of images are forced into one hot 0.1° cell to exercise
 * salting + AQE skew handling. Zones are axis-aligned rectangles on a
 * jittered grid so every oracle query stays SQL-expressible
 * (`lon BETWEEN xmin AND xmax AND lat BETWEEN ymin AND ymax`).
 *
 * Written once per scale factor to /tmp/graft_geo/<sfName>/ with an
 * atomic tmp→rename commit so Bench/Verify query functions stay pure.
 * Every derived fixture (triangles, shift grid, near-dup/xmodal plants,
 * text features, media, the 16 image-feature tables) is built through
 * [[derived]], additive to that base dir under its own marker.
 */
object GeoTables {

  val HOT_LON = 10.0; val HOT_LAT = 45.0; val HOT_SPAN = 0.1

  def sfName(sfDir: String): String = new File(sfDir).getName
  def sfOf(sfDir: String): Double = {
    val n = sfName(sfDir)
    try n.stripPrefix("sf").toDouble catch { case _: NumberFormatException => 0.01 }
  }
  /** Fixture-cache GENERATION: bump whenever generated CONTENT semantics
    * change (e.g. the pHash DCT went separable in round 5, which can move
    * coefficient/median ties by an ulp; g3: JPEG pHash gray tiles read the
    * FastJpeg Y plane instead of ImageIO's RGB round-trip) so every cached
    * scale factor regenerates in lockstep with the code that verifies it. */
  val GEN = "g3"
  def baseDir(sfDir: String): String = s"/tmp/graft_geo/$GEN/${sfName(sfDir)}"
  def imagesPath(sfDir: String): String = s"${baseDir(sfDir)}/images.parquet"
  def zonesPath(sfDir: String): String = s"${baseDir(sfDir)}/zones.parquet"

  def nImages(sfDir: String): Int = math.max(2000, (sfOf(sfDir) * 2e6).toInt)
  def nZones(sfDir: String): Int = math.max(50, (sfOf(sfDir) * 1e4).toInt)

  final case class ImageRow(image_id: String, bytes: Array[Byte], w: Int, h: Int,
                            fmt: String, caption: String, phash: Long,
                            lon: Double, lat: Double, nx: Double, ny: Double)
  final case class ZoneRow(zone_id: String, xmin: Double, ymin: Double,
                           xmax: Double, ymax: Double, wkt: String)

  def lonOf(i: Long): Double = {
    val hotFrac = frac(Images.splitmix64(i ^ 0x5EEDL))
    if (hotFrac < 0.2) HOT_LON + frac(Images.splitmix64(i ^ 0xA11CEL)) * HOT_SPAN
    else -180.0 + 360.0 * frac(Images.splitmix64(i ^ 0x10AL))
  }
  def latOf(i: Long): Double = {
    val hotFrac = frac(Images.splitmix64(i ^ 0x5EEDL))
    if (hotFrac < 0.2) HOT_LAT + frac(Images.splitmix64(i ^ 0xB0BL)) * HOT_SPAN
    else -85.0 + 170.0 * frac(Images.splitmix64(i ^ 0x20BL))
  }
  @inline private def frac(h: Long): Double = (h >>> 11).toDouble / (1L << 53).toDouble

  def imageRow(i: Long): ImageRow = {
    val id = f"img$i%08d"
    val h1 = Images.splitmix64(i)
    val w = Array(16, 32, 64)((h1 & 0x7FFFFFFF).toInt % 3)
    val h = Array(16, 32, 64)(((h1 >>> 32) & 0x7FFFFFFF).toInt % 3)
    val fmt = if (frac(Images.splitmix64(i ^ 0xF07L)) < 0.8) "png" else "jpg"
    val rgb = Images.synthRgb(i, w, h)
    val bytes = Images.encode(w, h, rgb, fmt)
    // phash over the ENCODED bytes' decode so img_phash(bytes) == phash exactly
    val ph = Images.phash(bytes)
    val scenes = Array("city", "forest", "coast", "desert", "mountain")
    val counts = Array("two", "three", "many", "no")
    val caption = s"synthetic image $i in ${scenes((h1 & 0xFFF).toInt % 5)} " +
      s"scene with ${counts(((h1 >>> 12) & 0xFFF).toInt % 4)} objects"
    val lon = lonOf(i); val lat = latOf(i)
    ImageRow(id, bytes, w, h, fmt, caption, ph, lon, lat,
      graft.cell.Cells.normX(lon), graft.cell.Cells.normY(lat))
  }

  def zoneRow(z: Long, n: Int): ZoneRow = {
    // jittered grid over the world; zone 0 pinned over the hot cell
    if (z == 0) {
      val (x0, y0, x1, y1) = (HOT_LON - 0.5, HOT_LAT - 0.5, HOT_LON + 1.0, HOT_LAT + 1.0)
      ZoneRow("zone00000", x0, y0, x1, y1, rectWkt(x0, y0, x1, y1))
    } else {
      val cols = math.max(1, math.ceil(math.sqrt(n * 2.0)).toInt)
      val rows = math.max(1, (n + cols - 1) / cols)
      val ci = (z % cols).toInt; val ri = (z / cols % rows).toInt
      val cw = 360.0 / cols; val ch = 170.0 / rows
      val jx = frac(Images.splitmix64(z ^ 0xCAFEL)) * cw * 0.3
      val jy = frac(Images.splitmix64(z ^ 0xBEEFL)) * ch * 0.3
      val wspan = cw * (0.4 + 0.5 * frac(Images.splitmix64(z ^ 0xD00DL)))
      val hspan = ch * (0.4 + 0.5 * frac(Images.splitmix64(z ^ 0xF00DL)))
      val x0 = -180.0 + ci * cw + jx
      val y0 = -85.0 + ri * ch + jy
      val x1 = math.min(180.0, x0 + wspan)
      val y1 = math.min(85.0, y0 + hspan)
      ZoneRow(f"zone$z%05d", x0, y0, x1, y1, rectWkt(x0, y0, x1, y1))
    }
  }

  private def rectWkt(x0: Double, y0: Double, x1: Double, y1: Double): String =
    s"POLYGON (($x0 $y0, $x1 $y0, $x1 $y1, $x0 $y1, $x0 $y0))"

  // ---------------- triangle zones (general-polygon oracle fixture) ----------------
  //
  // Axis-aligned rectangles keep every oracle SQL-expressible but also let
  // the engine's rectangle fast paths short-circuit the general PIP/cover
  // kernels (judge finding r1 #3). Triangles close that gap: point-in-
  // triangle is three orient() sign tests, still exact ANSI SQL over the
  // materialized vertex doubles.

  final case class TriRow(tri_id: String, ax: Double, ay: Double, bx: Double,
                          by: Double, cx: Double, cy: Double, wkt: String)

  def triZonesPath(sfDir: String): String = s"${baseDir(sfDir)}/tri_zones.parquet"
  def nTris(sfDir: String): Int = math.max(60, (sfOf(sfDir) * 6e3).toInt)

  def triRow(t: Long, n: Int): TriRow = {
    val cols = math.max(1, math.ceil(math.sqrt(n * 2.0)).toInt)
    val rows = math.max(1, (n + cols - 1) / cols)
    val ci = (t % cols).toInt; val ri = (t / cols % rows).toInt
    val cw = 360.0 / cols; val ch = 170.0 / rows
    val bx0 = -180.0 + ci * cw; val by0 = -85.0 + ri * ch
    @inline def pt(salt: Long): (Double, Double) =
      (bx0 + frac(Images.splitmix64(t ^ salt)) * cw,
       by0 + frac(Images.splitmix64(t ^ (salt * 31))) * ch)
    val (ax, ay) = pt(0x7A1L)
    val (bx, by) = pt(0x7B2L)
    val (cx, cy) = pt(0x7C3L)
    // CCW orientation so the oracle's three sign tests are all >= 0
    val o = (bx - ax) * (cy - ay) - (by - ay) * (cx - ax)
    val (rbx, rby, rcx, rcy) = if (o >= 0) (bx, by, cx, cy) else (cx, cy, bx, by)
    TriRow(f"tri$t%05d", ax, ay, rbx, rby, rcx, rcy,
      s"POLYGON (($ax $ay, $rbx $rby, $rcx $rcy, $ax $ay))")
  }

  def triZones(spark: SparkSession, sfDir: String): DataFrame = {
    ensureTri(spark, sfDir)
    spark.read.parquet(triZonesPath(sfDir))
  }

  def ensureTri(spark: SparkSession, sfDir: String): Unit = derived(spark, sfDir, "TRI") {
    import spark.implicits._
    val n = nTris(sfDir)
    spark.range(0, n, 1, 8).map(t => triRow(t, n))
      .write.mode("overwrite").parquet(triZonesPath(sfDir))
  }

  // ---------------- NTv2 shift-grid fixture (q70) ----------------
  // Coverage lon [0,20] × lat [40,50] deliberately contains the hot cell
  // (10, 45) so ~20% of images fall inside and exercise interpolation.
  val GRID_LON0 = 0.0; val GRID_LAT0 = 40.0; val GRID_INC = 0.5
  val GRID_COLS = 41; val GRID_ROWS = 21

  def gridGsbPath(sfDir: String): String = s"${baseDir(sfDir)}/shift_grid.gsb"
  def gridNodesPath(sfDir: String): String = s"${baseDir(sfDir)}/grid_nodes.parquet"

  final case class GridNodeRow(ci: Int, ri: Int, dlon_sec: Float, dlat_sec: Float)

  /** Smooth deterministic shift field, a few arc-seconds — synthetic (no
    * real grid ships in the zero-egress sandbox; the machinery is the
    * deliverable, FIXTURES §F2 style). Float32 exactly as NTv2 stores. */
  def gridNode(ci: Int, ri: Int): (Float, Float) = {
    val lon = GRID_LON0 + ci * GRID_INC; val lat = GRID_LAT0 + ri * GRID_INC
    val dlon = (2.0 + 1.5 * math.sin(lon * 0.31) * math.cos(lat * 0.17) +
      0.3 * math.sin(lat * 0.7)).toFloat
    val dlat = (-1.0 + 1.2 * math.cos(lon * 0.23) * math.sin(lat * 0.19) +
      0.4 * math.cos(lon * 0.5)).toFloat
    (dlon, dlat)
  }

  /** Writes the .gsb the engine loads AND the same nodes as parquet for
    * the DuckDB oracle's bilinear reconstruction. */
  def ensureGrid(spark: SparkSession, sfDir: String): Unit = derived(spark, sfDir, "GRID") {
    import spark.implicits._
    val n = GRID_COLS * GRID_ROWS
    val lonS = new Array[Float](n); val latS = new Array[Float](n)
    val rows = new scala.collection.mutable.ArrayBuffer[GridNodeRow](n)
    var ri = 0
    while (ri < GRID_ROWS) {
      var ci = 0
      while (ci < GRID_COLS) {
        val (dlon, dlat) = gridNode(ci, ri)
        lonS(ri * GRID_COLS + ci) = dlon
        latS(ri * GRID_COLS + ci) = dlat
        rows += GridNodeRow(ci, ri, dlon, dlat)
        ci += 1
      }
      ri += 1
    }
    graft.geom.GridShift.write(
      graft.geom.GridShift.ShiftGrid(GRID_LON0, GRID_LAT0, GRID_INC, GRID_INC,
        GRID_COLS, GRID_ROWS, lonS, latS),
      gridGsbPath(sfDir))
    rows.toSeq.toDF().coalesce(1).write.mode("overwrite").parquet(gridNodesPath(sfDir))
  }

  def nearDupImagesPath(sfDir: String): String = s"${baseDir(sfDir)}/neardup_images.parquet"

  def nearDupImages(spark: SparkSession, sfDir: String): DataFrame = {
    ensureNearDup(spark, sfDir)
    spark.read.parquet(nearDupImagesPath(sfDir))
  }

  /** 1–`flips` deterministic bit flips seeded by (phash, index) — the ONE
    * planted-variant recipe shared by the q12 near-dup and q156 xmodal
    * fixtures (review: two verbatim copies incl. a 4th splitmix64 clone). */
  private def plantedPhashVariant(ph: Long, i: Int, flips: Int): Long = {
    var v = ph
    var h = Images.splitmix64(ph ^ i)
    val seen = scala.collection.mutable.Set.empty[Int]
    while (seen.size < flips) {
      h = Images.splitmix64(h)
      val pos = (h >>> 58).toInt // 0..63
      if (!seen.contains(pos)) { seen += pos; v ^= 1L << pos }
    }
    v
  }

  /**
   * Near-duplicate pHash fixture: the synthetic phashes are near-uniform
   * (min pairwise hamming ≈ 8), so true near-dups are PLANTED — every
   * 10th of the first min(5000, n) images gets a variant row whose phash
   * differs in 1–4 deterministic bit positions. Gives the phash near-dup
   * join (q12) a realistic cluster structure with a brute-forceable oracle.
   */
  def ensureNearDup(spark: SparkSession, sfDir: String): Unit = derived(spark, sfDir, "NEARDUP") {
    import spark.implicits._
    val n = math.min(5000L, nImages(sfDir)).toInt
    val baseRows = spark.read.parquet(imagesPath(sfDir))
      .select("image_id", "phash").orderBy("image_id").limit(n)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val variants = baseRows.zipWithIndex.collect { case ((id, ph), i) if i % 10 == 0 =>
      (s"${id}_v", plantedPhashVariant(ph, i, 1 + (i / 10) % 4))
    }
    spark.createDataset((baseRows ++ variants).toSeq).toDF("id", "phash")
      .repartition(4).write.mode("overwrite").parquet(nearDupImagesPath(sfDir))
  }

  def xmodalPath(sfDir: String): String = s"${baseDir(sfDir)}/xmodal.parquet"

  final case class XmodalRow(id: String, phash: Long, caption: String)

  def xmodal(spark: SparkSession, sfDir: String): DataFrame = {
    ensureXmodal(spark, sfDir)
    spark.read.parquet(xmodalPath(sfDir))
  }

  /** Cross-modal near-dup fixture: image+caption rows where every 10th
    * row gets a planted variant that is ALWAYS a pHash near-dup (1–4
    * deterministic bit flips, the ensureNearDup recipe) but only
    * SOMETIMES a caption near-dup — even-indexed plants
    * keep the caption verbatim, odd-indexed ones pass it through
    * variantText (1–4 OOV token substitutions), so the cross-modal
    * conjunction in q156 has pairs that pass the image gate and fail the
    * text gate and vice-versa nothing is ever a text-only near-dup (base
    * captions are pairwise distinct). */
  def ensureXmodal(spark: SparkSession, sfDir: String): Unit = derived(spark, sfDir, "XMODAL") {
    import spark.implicits._
    val n = math.min(3000L, nImages(sfDir)).toInt
    val baseRows = spark.read.parquet(imagesPath(sfDir))
      .select("image_id", "phash", "caption").orderBy("image_id").limit(n)
      .collect().map(r => XmodalRow(r.getString(0), r.getLong(1), r.getString(2)))
    val variants = baseRows.zipWithIndex.collect { case (row, i) if i % 10 == 0 =>
      val v = plantedPhashVariant(row.phash, i, 1 + (i / 10) % 4)
      // even plants: caption verbatim (J=1). Odd plants: replace the
      // k = 1 + (i/10) % 5 leading tokens with OOV — on the 9-token
      // captions k ≤ 3 keeps 2·|∩| ≥ |∪| (passes) and k ∈ {4,5} fails,
      // so the text gate genuinely rejects some phash-near pairs.
      val cap = if ((i / 10) % 2 == 0) row.caption
      else {
        val toks = row.caption.split(' ')
        val k = math.min(toks.length, 1 + (i / 10) % 5)
        (0 until k).foreach(j => toks(j) = s"zq${i}x$j")
        toks.mkString(" ")
      }
      XmodalRow(s"${row.id}_v", v, cap)
    }
    spark.createDataset((baseRows ++ variants).toSeq).toDF()
      .repartition(4).write.mode("overwrite").parquet(xmodalPath(sfDir))
  }

  // ---------------- text-dedup fixtures (q16–q20 exact oracles) ----------------
  //
  // The r3 judge ruling: language-ID / MinHash / SimHash / shingle values
  // are engine-only, but — exactly like lon/lat — they become oracle-able
  // once MATERIALIZED into a fixture parquet both engines read; DuckDB then
  // verifies the JOIN/AGGREGATION algorithm over them (brute-force
  // xor+bit_count ≡ pigeonhole, unnest ≡ explode), the q12 template. The
  // synthetic documents are near-orthogonal (no natural near-dups), so true
  // near-duplicates are PLANTED: every 5th doc gets a variant with 1–4
  // deterministic token substitutions (mirrors the pHash planted-bit-flip
  // fixture).

  def docsAugPath(sfDir: String): String = s"${baseDir(sfDir)}/docs_aug.parquet"
  def textFeaturesPath(sfDir: String): String = s"${baseDir(sfDir)}/text_features.parquet"

  final case class DocRow(doc_id: Long, source: String, text: String)
  final case class FeatRow(doc_id: Long, source: String, lang_pred: String,
                           quality_c: Long, fp: Long, sim: Long, sim_hi: Long,
                           sim_lo: Long, bpe_tokens: Long, bands: Array[Long],
                           n_sh: Long, shingles: Array[Long])

  /** Variant id namespace: base doc_ids are dense from 0; variants live at
    * +10^7 so the two never collide at any SF this sandbox reaches. */
  val VARIANT_OFFSET = 10000000L

  /** Deterministic near-duplicate text: substitute 1–4 token positions
    * (seeded by doc_id) with out-of-vocabulary tokens. */
  def variantText(id: Long, text: String): String = {
    val toks = graft.text.Text.tokens(text)
    if (toks.isEmpty) return "zq0"
    val m = 1 + ((id / 5) % 4).toInt
    val out = toks.clone()
    var h = Images.splitmix64(id ^ 0x7E47B00CL)
    var i = 0
    while (i < m) {
      h = Images.splitmix64(h)
      val pos = ((h >>> 33) % toks.length).toInt
      out(pos) = "zq" + ((h & 0x7FFFFFFF) % 97)
      i += 1
    }
    out.mkString(" ")
  }

  def featRow(doc_id: Long, source: String, text: String): FeatRow = {
    import graft.text.Text
    val q = Text.qualityScore(text)
    val s128 = Text.simhash128(text)
    val sh = Text.shingles(text, 4)
    FeatRow(doc_id, source,
      Text.langId(text),
      math.floor(q * 1000000.0 + 0.5).toLong,
      Text.fingerprint(text),
      Text.simhash(text), s128(0), s128(1),
      Text.tokenCountBpeish(text).toLong,
      Text.lshBands(Text.minhash(text, 16), 4),
      sh.length.toLong, sh)
  }

  def docsAug(spark: SparkSession, sfDir: String): DataFrame = {
    ensureTextFeat(spark, sfDir)
    spark.read.parquet(docsAugPath(sfDir))
  }

  def textFeatures(spark: SparkSession, sfDir: String): DataFrame = {
    ensureTextFeat(spark, sfDir)
    spark.read.parquet(textFeaturesPath(sfDir))
  }

  /** docs_aug = documents ∪ planted variants; text_features = per-doc
    * derived columns computed by the SAME Text kernels the expressions wrap. */
  def ensureTextFeat(spark: SparkSession, sfDir: String): Unit = derived(spark, sfDir, "TEXTFEAT") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "source", "text").as[DocRow]
    val variants = docs.filter(_.doc_id % 5 == 0)
      .map(d => DocRow(d.doc_id + VARIANT_OFFSET, d.source, variantText(d.doc_id, d.text)))
    val aug = docs.union(variants)
    aug.repartition(8).write.mode("overwrite").parquet(docsAugPath(sfDir))
    spark.read.parquet(docsAugPath(sfDir)).as[DocRow]
      .map(d => featRow(d.doc_id, d.source, d.text))
      .write.mode("overwrite").parquet(textFeaturesPath(sfDir))
  }

  // ---------------- image-feature fixtures (one decode pass) ----------------
  //
  // Sixteen per-image tables, each computed through the SAME kernel the
  // matching SQL expression wraps: a query that recomputes a feature
  // in-engine must match its fixture row for row, and the oracle then
  // checks the relational logic over it (the q12 phash precedent; closed-
  // form kernel cases live in the img specs). [[ensureImgFixtures]] builds
  // all sixteen from one scan of images.parquet and one decode per image.

  def imgColorPath(sfDir: String): String = s"${baseDir(sfDir)}/img_color.parquet"
  def imgEdgePath(sfDir: String): String = s"${baseDir(sfDir)}/img_edge.parquet"
  def imgExpoPath(sfDir: String): String = s"${baseDir(sfDir)}/img_expo.parquet"
  def imgGammaPath(sfDir: String): String = s"${baseDir(sfDir)}/img_gamma.parquet"
  def imgMomPath(sfDir: String): String = s"${baseDir(sfDir)}/img_moments.parquet"
  def imgThumbPath(sfDir: String): String = s"${baseDir(sfDir)}/img_thumb.parquet"
  def imgEqPath(sfDir: String): String = s"${baseDir(sfDir)}/img_eq.parquet"
  def imgMedPath(sfDir: String): String = s"${baseDir(sfDir)}/img_med.parquet"
  def imgDitherPath(sfDir: String): String = s"${baseDir(sfDir)}/img_dither.parquet"
  def imgGlcmPath(sfDir: String): String = s"${baseDir(sfDir)}/img_glcm.parquet"
  def imgTexPath(sfDir: String): String = s"${baseDir(sfDir)}/img_tex.parquet"
  def imgHaarPath(sfDir: String): String = s"${baseDir(sfDir)}/img_haar.parquet"
  def imgMcPath(sfDir: String): String = s"${baseDir(sfDir)}/img_mc.parquet"
  def imgWbPath(sfDir: String): String = s"${baseDir(sfDir)}/img_wb.parquet"
  def imgSsimPath(sfDir: String): String = s"${baseDir(sfDir)}/img_ssim.parquet"
  def imgQualityPath(sfDir: String): String = s"${baseDir(sfDir)}/img_quality.parquet"

  /** 64-bin 4×4×4 RGB histogram: dominant bin by FIRST max (the tie rule
    * Spark's array_position shares), its count, the pixel total (q151). */
  final case class ImgColorRow(image_id: String, dom_bin: Long, dom_cnt: Long, n_px: Long)
  /** Sobel edge count, gradient sum, 8-octant orientation histogram and the
    * dominant octant by FIRST max, 1-based (array_position / list_position). */
  final case class ImgEdgeRow(image_id: String, edge_cnt: Long, grad_sum: Long,
                              octs: Array[Long], dom_oct: Long)
  /** 16-bin luma (exposure) histogram. */
  final case class ImgExpoRow(image_id: String, hist: Array[Long], n_px: Long)
  /** Gamma-2.2 tone curve: the mapped buffer's md5 pins every byte; channel
    * sums and L1 distortion carry the analytics payload (q167/q221). */
  final case class ImgGammaRow(image_id: String, gam_md5: String,
                               cs: Array[Long], sad: Long)
  /** Raw luma moment sums. */
  final case class ImgMomRow(image_id: String, mom: Array[Long])
  /** 16×16 thumbnail: its phash, its md5 (lowercase hex, Spark's md5()
    * convention) and the hamming distance to the stored full-size phash. */
  final case class ImgThumbRow(image_id: String, t_phash: Long, t_md5: String, f_ham: Long)
  /** Histogram-equalized buffer: md5 and 16-bin luma histogram (q211). */
  final case class ImgEqRow(image_id: String, eq_md5: String, eq_hist: Array[Long])
  /** 3×3 median filter: buffer md5, sharpness before and after (q230). */
  final case class ImgMedRow(image_id: String, med_md5: String,
                             sharp_before: Long, sharp_after: Long)
  /** Floyd–Steinberg dither: buffer md5, lit-channel sum, L1 distortion (q241). */
  final case class ImgDitherRow(image_id: String, dit_md5: String,
                                on_sum: Long, sad: Long)
  /** 8-level GLCM: contrast, energy, homogeneity ×1000 and pair total (q230). */
  final case class ImgGlcmRow(image_id: String, contrast: Long, energy: Long,
                              homog_milli: Long, n_pairs: Long)
  /** LBP / Harris / hue / 3-3-2 palette (q276–q278). The LBP uniform
    * predicate mirrors the query's SQL text exactly: bit_count(p XOR
    * rotl8(p)) ≤ 2, rotl8(p) = (p·2) mod 256 + p div 128; the top pattern
    * ties to the smallest index. */
  final case class ImgTexRow(image_id: String,
                             lbp_n: Long, lbp_uniform: Long, lbp_top: Long, lbp_topc: Long,
                             ha_eval: Long, ha_pos: Long, ha_rmax: Long, ha_x: Long, ha_y: Long,
                             h0: Long, h1: Long, h2: Long, h3: Long, h4: Long, h5: Long,
                             gray: Long,
                             pal_n: Long, pal_top: Long, pal_topc: Long, pal_qerr: Long)
  /** Haar subband energies (q212). */
  final case class ImgHaarRow(image_id: String, w: Long, h: Long,
                              ll2: Long, lh2: Long, hl2: Long, hh2: Long,
                              lh1: Long, hl1: Long, hh1: Long)
  /** Median-cut palette (q212). */
  final case class ImgMcRow(image_id: String, n_colors: Long, dom_count: Long,
                            dom_r: Long, dom_g: Long, dom_b: Long, l1_qerr: Long)
  /** Gray-world white balance: exact per-channel byte sums (q212). */
  final case class ImgWbRow(image_id: String, sr: Long, sg: Long, sb: Long, npx: Long)
  /** SSIM against itself (exactly 1e6) and against the 3×3 box blur. */
  final case class ImgSsimRow(image_id: String, ssim_self: Long, ssim_blur: Long)
  /** Laplacian sharpness, raw and after one 3×3 box blur (q126). */
  final case class ImgQualityRow(image_id: String, sharp: Long, sharp_blur: Long)

  /** All sixteen fixture rows of one image. */
  final case class ImgFeatures(color: ImgColorRow, edge: ImgEdgeRow, expo: ImgExpoRow,
                               gamma: ImgGammaRow, mom: ImgMomRow, thumb: ImgThumbRow,
                               eq: ImgEqRow, med: ImgMedRow, dither: ImgDitherRow,
                               glcm: ImgGlcmRow, tex: ImgTexRow, haar: ImgHaarRow,
                               mc: ImgMcRow, wb: ImgWbRow, ssim: ImgSsimRow,
                               quality: ImgQualityRow)

  private def md5Hex(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("MD5").digest(b).map(x => f"${x & 0xFF}%02x").mkString

  private def firstMax(a: Array[Long]): Int = a.indexOf(a.max)

  /** Decodes one image once and applies every kernel to the shared pixels
    * (each kernel returns a fresh buffer and never writes its input). */
  def imgFeatures(id: String, bytes: Array[Byte], phash: Long): ImgFeatures = {
    val (w, h, rgb) = Images.decode(bytes)
    val hist = Images.colorHist64(rgb)
    val dom = firstMax(hist)
    val es = Images.sobelStats(w, h, rgb)
    val octs = es.slice(2, 10)
    val luma = Images.lumaHist16(rgb)
    val gam = Images.gammaRgb(rgb, 2200)
    val thumb = Images.resizeRgb(w, h, rgb, 16, 16)
    val tp = Images.phashOfRgb(16, 16, thumb)
    val eq = Images.equalizeRgb(rgb)
    val med = Images.median3Rgb(w, h, rgb)
    val dit = Images.ditherFsRgb(w, h, rgb)
    val blur = Images.boxBlur3Rgb(w, h, rgb)
    val sharp = Images.sharpness(w, h, rgb)
    val g = Images.glcm8(w, h, rgb)
    var contrast = 0L; var energy = 0L; var homog = 0L
    var k = 0
    while (k < 64) {
      val d = k / 8 - k % 8; val c = g(k)
      contrast += c * d * d
      energy += c * c
      homog += (c * 1000L) / (1 + math.abs(d))
      k += 1
    }
    val lbp = Images.lbpHist(w, h, rgb)
    val lbpTop = firstMax(lbp)
    var uni = 0L
    var p = 0
    while (p < 256) {
      if (java.lang.Integer.bitCount(p ^ ((p * 2) % 256 + p / 128)) <= 2) uni += lbp(p)
      p += 1
    }
    val ha = Images.harris(w, h, rgb)
    val hu = Images.hueHist(rgb)
    val pl = Images.pal332(rgb)
    val e = Images.haarEnergy(w, h, rgb)
    val mc = Images.medianCut8(rgb)
    val cs = Images.channelSums(rgb)
    ImgFeatures(
      ImgColorRow(id, dom.toLong, hist(dom), hist.sum),
      ImgEdgeRow(id, es(0), es(1), octs, firstMax(octs) + 1L),
      ImgExpoRow(id, luma, luma.sum),
      ImgGammaRow(id, md5Hex(gam), Images.channelSums(gam), Images.sad(rgb, gam)),
      ImgMomRow(id, Images.moments(rgb, w, h)),
      ImgThumbRow(id, tp, md5Hex(thumb), java.lang.Long.bitCount(phash ^ tp).toLong),
      ImgEqRow(id, md5Hex(eq), Images.lumaHist16(eq)),
      ImgMedRow(id, md5Hex(med), sharp, Images.sharpness(w, h, med)),
      ImgDitherRow(id, md5Hex(dit), Images.channelSums(dit).take(3).sum, Images.sad(rgb, dit)),
      ImgGlcmRow(id, contrast, energy, homog, g.sum),
      ImgTexRow(id, lbp.sum, uni, lbpTop.toLong, lbp(lbpTop),
        ha(0), ha(1), ha(2), ha(3), ha(4),
        hu(0), hu(1), hu(2), hu(3), hu(4), hu(5), hu(6),
        pl(0), pl(1), pl(2), pl(3)),
      ImgHaarRow(id, w.toLong, h.toLong, e(0), e(1), e(2), e(3), e(4), e(5), e(6)),
      ImgMcRow(id, mc(0), mc(1), mc(2), mc(3), mc(4), mc(5)),
      ImgWbRow(id, cs(0), cs(1), cs(2), cs(3)),
      ImgSsimRow(id, Images.ssimQ(w, h, rgb, rgb), Images.ssimQ(w, h, rgb, blur)),
      ImgQualityRow(id, sharp, Images.sharpness(w, h, blur)))
  }

  /** Builds all sixteen image-feature fixtures from ONE scan of
    * images.parquet: the feature rows are computed once and cached, and
    * each fixture is a typed projection of the cache, so every table keeps
    * the schema of its row class. */
  def ensureImgFixtures(spark: SparkSession, sfDir: String): Unit = derived(spark, sfDir, "IMG") {
    import spark.implicits._
    val all = images(spark, sfDir)
      .select("image_id", "bytes", "phash").as[(String, Array[Byte], Long)]
      .map { case (id, bytes, ph) => imgFeatures(id, bytes, ph) }
      .persist(StorageLevel.MEMORY_AND_DISK)
    def write[T: Encoder](path: String => String)(row: ImgFeatures => T): Unit =
      all.map(row).write.mode("overwrite").parquet(path(sfDir))
    try {
      write(imgColorPath)(_.color)
      write(imgEdgePath)(_.edge)
      write(imgExpoPath)(_.expo)
      write(imgGammaPath)(_.gamma)
      write(imgMomPath)(_.mom)
      write(imgThumbPath)(_.thumb)
      write(imgEqPath)(_.eq)
      write(imgMedPath)(_.med)
      write(imgDitherPath)(_.dither)
      write(imgGlcmPath)(_.glcm)
      write(imgTexPath)(_.tex)
      write(imgHaarPath)(_.haar)
      write(imgMcPath)(_.mc)
      write(imgWbPath)(_.wb)
      write(imgSsimPath)(_.ssim)
      write(imgQualityPath)(_.quality)
    } finally all.unpersist()
  }

  // ---- multimodal media fixture (GMV1 opaque-binary; stub codec) ----

  def mediaPath(sfDir: String): String = s"${baseDir(sfDir)}/media.parquet"
  def nMedia(sfDir: String): Int = math.max(200, (sfOf(sfDir) * 4000).toInt)

  final case class MediaRow(media_id: Long, kind: String, fmt: String, bytes: Array[Byte],
                            exp_n_parts: Long, exp_feat_c: Long, exp_dur_ms: Long,
                            exp_f0_phash: Long, p256_0: Long, p256_1: Long,
                            p256_2: Long, p256_3: Long)

  /** Every 10th video opens with a shared "intro" frame perturbed by a
    * per-video watermark (4 high-bit pixel flips) — a planted frame-level
    * NEAR-duplicate cluster for q64, mirroring the q12 image fixture. */
  private def introFrame(i: Long, w: Int, h: Int): Array[Byte] = {
    import graft.img.Media
    val f = Media.synthFrames(424242L, w, h, 1)(0)
    var hsh = Images.splitmix64(i ^ 0x51DE0L)
    var k = 0
    while (k < 4) {
      hsh = Images.splitmix64(hsh)
      val p = ((hsh >>> 33) % f.length).toInt
      f(p) = (f(p) ^ 0x80).toByte
      k += 1
    }
    f
  }

  /** Expected columns computed from the PRE-encoding synth arrays (frames /
    * PCM); the engine re-derives them by decoding the container through the
    * media_* expressions — the oracle therefore pins the codec round-trip
    * AND the explode/feature plumbing. */
  def mediaRow(i: Long): MediaRow = {
    import graft.img.Media
    if (i % 2 == 0) {
      val w = 16; val h = 12; val fps = 10
      val nf = 8 + (i % 5).toInt * 4 // 8..24 frames
      if (i % 10 == 4) {
        // JPEG-coded video (r5): smooth synthRgb frames encoded at q=0.995
        // per frame (PSNR≥40dB vs the pre-encode frames — MediaSpec pins
        // it); expected columns computed from the REFERENCE DECODE of the
        // payloads, so matching pins ImageIO round-trip AND plumbing.
        val frames = Array.tabulate(nf)(f => Images.synthRgb(i * 1009 + f, w, h))
        val payloads = frames.map(Images.encode(w, h, _, "jpg", 0.995f))
        val dec = payloads.map(p => Images.decode(p)._3)
        val sampled = Array.range(0, nf, 3).map(dec(_))
        val lumaC = sampled.map(f => math.floor(Images.lumaMean(f) * 100 + 0.5).toLong).sum
        val p256 = Images.phash256OfRgb(w, h, dec(0))
        MediaRow(i, "video", "jpeg", Media.encodeVideoCoded(w, h, fps, payloads),
          sampled.length.toLong, lumaC, nf.toLong * 1000 / fps,
          Images.phashOfRgb(w, h, dec(0)), p256(0), p256(1), p256(2), p256(3))
      } else {
      val frames = Media.synthFrames(i, w, h, nf)
      if (i % 10 == 0) frames(0) = introFrame(i, w, h)
      val sampled = Array.range(0, nf, 3).map(frames(_))
      val lumaC = sampled.map(f => math.floor(Images.lumaMean(f) * 100 + 0.5).toLong).sum
      val p256 = Images.phash256OfRgb(w, h, frames(0))
      MediaRow(i, "video", "raw", Media.encodeVideo(w, h, fps, frames),
        sampled.length.toLong, lumaC, nf.toLong * 1000 / fps,
        Images.phashOfRgb(w, h, frames(0)), p256(0), p256(1), p256(2), p256(3))
      }
    } else {
      val rate = 8000
      val ns = 4000 + (i % 7).toInt * 1000
      val samples = Media.synthSamples(i, ns)
      val rms = Media.audioRmsOf(samples, 800)
      val rmsC = rms.map(v => math.floor(v * 100 + 0.5).toLong).sum
      // every i%10==7 audio row ships a REAL RIFF/WAV payload (kind 3,
      // decoded via javax.sound.sampled — lossless, so the expecteds are
      // the same samples)
      if (i % 10 == 7)
        MediaRow(i, "audio", "wav", Media.encodeAudioWav(rate, samples),
          rms.length.toLong, rmsC, ns.toLong * 1000 / rate, 0L, 0L, 0L, 0L, 0L)
      else
      MediaRow(i, "audio", "pcm", Media.encodeAudio(rate, samples),
        rms.length.toLong, rmsC, ns.toLong * 1000 / rate, 0L, 0L, 0L, 0L, 0L)
    }
  }

  def media(spark: SparkSession, sfDir: String): DataFrame = {
    ensureMedia(spark, sfDir)
    spark.read.parquet(mediaPath(sfDir))
  }

  // ---- delta-coded video fixture (kind 4, q100) ----

  def mediaDeltaPath(sfDir: String): String = s"${baseDir(sfDir)}/media_delta.parquet"
  def nMediaDelta(sfDir: String): Int = math.max(100, (sfOf(sfDir) * 2000).toInt)

  /** Expected values computed from the RAW frames (codec-independent), so
    * the q100 engine-vs-oracle match proves the kind-4 decode is lossless:
    * the engine recomputes f0/last phash by DECODING the delta container. */
  final case class MediaDeltaRow(media_id: String, bytes: Array[Byte], w: Int, h: Int,
                                 n_frames: Int, exp_f0_phash: Long, exp_last_phash: Long,
                                 delta_len: Int, raw_len: Int)

  def mediaDeltaRow(i: Long): MediaDeltaRow = {
    import graft.img.{Images, Media}
    val w = 24 + (i % 4).toInt * 8  // 24..48
    val h = 18 + (i % 3).toInt * 6  // 18..30
    val n = 8 + (i % 9).toInt       // 8..16 frames
    val frames = Media.synthSmoothFrames(1000L + i, w, h, n)
    val b = Media.encodeVideoDelta(w, h, 8, frames)
    MediaDeltaRow(f"md${i}%06d", b, w, h, n,
      Images.phashOfRgb(w, h, frames(0)), Images.phashOfRgb(w, h, frames(n - 1)),
      b.length, 21 + n * w * h * 3)
  }

  def mediaDelta(spark: SparkSession, sfDir: String): DataFrame = {
    ensureMediaDelta(spark, sfDir)
    spark.read.parquet(mediaDeltaPath(sfDir))
  }

  def ensureMediaDelta(spark: SparkSession, sfDir: String): Unit =
    derived(spark, sfDir, "MEDIA_DELTA_V1") {
      import spark.implicits._
      spark.range(0, nMediaDelta(sfDir), 1, genParts(spark)).map(mediaDeltaRow(_))
        .write.mode("overwrite").parquet(mediaDeltaPath(sfDir))
    }

  def mediaZcrPath(sfDir: String): String = s"${baseDir(sfDir)}/media_zcr.parquet"

  final case class MediaZcrRow(media_id: Long, wi: Long, zcr: Long)

  /** q258's expected zero-crossing counts, computed from the PRE-encoding
    * synth arrays (mediaRow's contract: the engine must re-derive them by
    * DECODING the GMV1/WAV container — so the oracle pins the codec
    * round-trip AND the window kernel). */
  def ensureMediaZcr(spark: SparkSession, sfDir: String): Unit = derived(spark, sfDir, "MEDIA_ZCR") {
    import spark.implicits._
    spark.range(0, nMedia(sfDir), 1, genParts(spark))
      .filter(_ % 2 == 1) // audio rows (mediaRow: odd ids)
      .flatMap { i =>
        val ns = 4000 + (i % 7).toInt * 1000
        graft.img.Media.audioZcrOf(graft.img.Media.synthSamples(i, ns), 800)
          .zipWithIndex.map { case (z, wi) => MediaZcrRow(i, wi.toLong, z) }
      }
      .write.mode("overwrite").parquet(mediaZcrPath(sfDir))
  }

  /** The tag carries a version: bump it when the synthesis changes. */
  def ensureMedia(spark: SparkSession, sfDir: String): Unit = derived(spark, sfDir, "MEDIA_V6") {
    import spark.implicits._
    spark.range(0, nMedia(sfDir), 1, genParts(spark)).map(mediaRow(_))
      .write.mode("overwrite").parquet(mediaPath(sfDir))
  }

  /** Fixed table schemas (the binding input_hint shape). Passing these to
    * the reader skips the parquet footer-inference job Spark otherwise
    * runs per `spark.read.parquet` — one fewer serial driver job at every
    * session start (it shows up in the N→4N Amdahl budget: ~100 ms + gap
    * per read on this host, paid before any executor works). */
  lazy val imagesSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.Encoders.product[ImageRow].schema
  lazy val zonesSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.Encoders.product[ZoneRow].schema

  /** Idempotent, atomic: generate-if-absent, then read. */
  def images(spark: SparkSession, sfDir: String): DataFrame = {
    ensure(spark, sfDir)
    spark.read.schema(imagesSchema).parquet(imagesPath(sfDir))
  }

  def zones(spark: SparkSession, sfDir: String): DataFrame = {
    ensure(spark, sfDir)
    spark.read.schema(zonesSchema).parquet(zonesPath(sfDir))
  }

  /** Every derived fixture, for callers that must build them all before a
    * timed region (graft.Bench). */
  def ensureAllDerived(spark: SparkSession, sfDir: String): Unit = {
    ensureTri(spark, sfDir)
    ensureGrid(spark, sfDir)
    ensureNearDup(spark, sfDir)
    ensureXmodal(spark, sfDir)
    ensureTextFeat(spark, sfDir)
    ensureMedia(spark, sfDir)
    ensureMediaDelta(spark, sfDir)
    ensureMediaZcr(spark, sfDir)
    ensureImgFixtures(spark, sfDir)
  }

  /** The one builder every derived fixture goes through: under the object
    * lock and after the base tables exist, `build` runs only while the
    * `_<tag>_DONE` marker is absent, and the marker is written only after
    * `build` returns, so an interrupted build reruns (builds write with
    * mode "overwrite"). Bump a tag to regenerate its fixtures; bump [[GEN]]
    * to regenerate everything. */
  private def derived(spark: SparkSession, sfDir: String, tag: String)(build: => Unit): Unit =
    synchronized {
      ensure(spark, sfDir)
      val marker = Paths.get(s"${baseDir(sfDir)}/_${tag}_DONE")
      if (!Files.exists(marker)) { build; Files.createFile(marker) }
    }

  private def genParts(spark: SparkSession): Int = math.max(spark.sparkContext.defaultParallelism, 8)

  def ensure(spark: SparkSession, sfDir: String): Unit = synchronized {
    val base = baseDir(sfDir)
    if (Files.exists(Paths.get(s"$base/_DONE"))) return
    import spark.implicits._
    val nImg = nImages(sfDir)
    val nZ = nZones(sfDir)
    val tmp = s"$base.tmp${ProcessHandle.current().pid()}"
    // partition the generation so image encoding parallelizes across cores;
    // sort by cell-morton-friendly id order is free (ids are sequential)
    val parts = genParts(spark)
    spark.range(0, nImg, 1, parts).map(i => imageRow(i))
      .write.mode("overwrite").parquet(s"$tmp/images.parquet")
    spark.range(0, nZ, 1, math.min(parts, 8)).map(z => zoneRow(z, nZ))
      .write.mode("overwrite").parquet(s"$tmp/zones.parquet")
    Files.createDirectories(Paths.get("/tmp/graft_geo"))
    // atomic-ish commit: rename tmp dir into place, marker last
    val target = Paths.get(base)
    if (!Files.exists(target)) {
      try Files.move(Paths.get(tmp), target, StandardCopyOption.ATOMIC_MOVE)
      catch { case _: java.nio.file.FileAlreadyExistsException | _: java.nio.file.AtomicMoveNotSupportedException => }
    }
    if (Files.exists(target.resolve("images.parquet")) && !Files.exists(target.resolve("_DONE")))
      Files.createFile(target.resolve("_DONE"))
  }
}
