package graft.data

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** Pins the content of every derived fixture GeoTables synthesizes at
  * sf0.001: per fixture path, the row count and an order-independent XOR
  * of xxhash64 over all columns. The constants were captured from freshly
  * generated fixtures; any change to a generator, a kernel or a column
  * type moves at least one of them. To check generation rather than the
  * cache, delete `GeoTables.baseDir(sfDir)` first.
  * Also pins that the sixteen image-feature fixtures cost one scan of the
  * image table. */
class FixtureDigestSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val sfDir = "/root/testdata/sf0.001"

  /** fixture path → (rows, xor of xxhash64 over all columns) */
  val expected: Seq[(String => String, Long, Long)] = Seq(
    (GeoTables.triZonesPath _, 60L, -123942417988338279L),
    (GeoTables.gridNodesPath _, 861L, -5899407165314927571L),
    (GeoTables.gridGsbPath _, 1L, -5206883900547784666L),
    (GeoTables.nearDupImagesPath _, 2200L, 2154357548381531240L),
    (GeoTables.xmodalPath _, 2200L, -5982027435620724828L),
    (GeoTables.docsAugPath _, 600L, -6095998937017149921L),
    (GeoTables.textFeaturesPath _, 600L, 586875087284046976L),
    (GeoTables.mediaPath _, 200L, 180151553296779945L),
    (GeoTables.mediaDeltaPath _, 100L, -3557904659879838255L),
    (GeoTables.mediaZcrPath _, 840L, -4392493019285032682L),
    (GeoTables.imgColorPath _, 2000L, 4485382397155010684L),
    (GeoTables.imgEdgePath _, 2000L, -2786417137141422637L),
    (GeoTables.imgExpoPath _, 2000L, 7761598937254491036L),
    (GeoTables.imgGammaPath _, 2000L, -1506300261087693955L),
    (GeoTables.imgMomPath _, 2000L, 4636700512513858310L),
    (GeoTables.imgThumbPath _, 2000L, -2063121320667317752L),
    (GeoTables.imgEqPath _, 2000L, 7486670580857350761L),
    (GeoTables.imgMedPath _, 2000L, -5233614268541157467L),
    (GeoTables.imgDitherPath _, 2000L, 1280470506710457268L),
    (GeoTables.imgGlcmPath _, 2000L, 6967950164766702173L),
    (GeoTables.imgTexPath _, 2000L, 8194891175522344396L),
    (GeoTables.imgHaarPath _, 2000L, 5945339676949501016L),
    (GeoTables.imgMcPath _, 2000L, -3843228893955968294L),
    (GeoTables.imgWbPath _, 2000L, 5381648911832323547L),
    (GeoTables.imgSsimPath _, 2000L, 3163703180485571894L),
    (GeoTables.imgQualityPath _, 2000L, -7304827521762928596L))

  def digest(path: String): (Long, Long) = {
    val df =
      if (path.endsWith(".parquet")) spark.read.parquet(path)
      else spark.read.format("binaryFile").load(path).select("content")
    val r = df.select(count(lit(1)), bit_xor(xxhash64(df.columns.map(col).toSeq: _*))).head()
    (r.getLong(0), r.getLong(1))
  }

  test("every derived fixture matches its pinned row count and content digest") {
    spark.sparkContext.setLogLevel("WARN")
    GeoTables.ensureAllDerived(spark, sfDir)
    val bad = expected.flatMap { case (pathOf, n, x) =>
      val p = pathOf(sfDir)
      val (gn, gx) = digest(p)
      if ((gn, gx) == (n, x)) None
      else Some(s"${p.substring(p.lastIndexOf('/') + 1)}: got (${gn}L, ${gx}L) want (${n}L, ${x}L)")
    }
    if (bad.nonEmpty) fail(bad.mkString("\n", "\n", ""))
  }

  test("the image-feature pass scans images.parquet once: nImages rows, not 16x") {
    // a scale name of its own, so the pass always runs from scratch
    val dir = "sf0.0005"
    deleteRecursively(Paths.get(GeoTables.baseDir(dir)))
    GeoTables.ensure(spark, dir)
    // every scan of the image table, by plan-node identity: a scan that
    // feeds a cache is reached through each plan reading the cache, but
    // counts once
    val scans = java.util.Collections.synchronizedSet(
      java.util.Collections.newSetFromMap(new java.util.IdentityHashMap[FileSourceScanExec, java.lang.Boolean]()))
    def collectScans(p: SparkPlan): Unit = p match {
      case s: FileSourceScanExec =>
        if (s.relation.location.rootPaths.exists(_.toString.endsWith(GeoTables.imagesPath(dir)))) scans.add(s)
      case a: AdaptiveSparkPlanExec => collectScans(a.executedPlan)
      case q: QueryStageExec => collectScans(q.plan)
      case m: InMemoryTableScanExec => collectScans(m.relation.cachedPlan)
      case o => o.children.foreach(collectScans)
    }
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = collectScans(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      GeoTables.ensureImgFixtures(spark, dir)
      ListenerBusDrain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    val nScans = scans.size
    val rowsRead = scans.asScala.toSeq.map(_.metrics("numOutputRows").value).sum
    assert(nScans == 1)
    assert(rowsRead == GeoTables.nImages(dir))
    assert(spark.read.parquet(GeoTables.imgTexPath(dir)).count() == GeoTables.nImages(dir))
    deleteRecursively(Paths.get(GeoTables.baseDir(dir)))
  }

  private def deleteRecursively(p: java.nio.file.Path): Unit =
    if (Files.exists(p)) Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
}
