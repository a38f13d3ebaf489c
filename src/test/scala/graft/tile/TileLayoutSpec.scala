package graft.tile

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import graft.data.GeoTables
import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** The cost and layout contract of TileJob.run: every image is decoded
  * once (the range bounds come from the sort keys alone), and the write
  * is one wave of contiguous, sorted key ranges. */
class TileLayoutSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  // GeoTables keys its synthesized tables by the scale name alone
  val sfDir = "sf0.001"

  private def images: String = {
    spark.sparkContext.setLogLevel("WARN")
    GeoTables.ensure(spark, sfDir)
    GeoTables.imagesPath(sfDir)
  }

  private def list(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try s.iterator().asScala.toList.sortBy(_.toString) finally s.close()
  }

  test("TileJob.run scans the image bytes once: the img_phash input is nImages rows") {
    val path = images
    // scans of the image table that read `bytes` (the img_phash input),
    // by plan-node identity
    val scans = java.util.Collections.synchronizedSet(
      java.util.Collections.newSetFromMap(new java.util.IdentityHashMap[FileSourceScanExec, java.lang.Boolean]()))
    def collectScans(p: SparkPlan): Unit = p match {
      case s: FileSourceScanExec =>
        if (s.relation.location.rootPaths.exists(_.toString.endsWith(path)) &&
            s.requiredSchema.fieldNames.contains("bytes")) scans.add(s)
      case a: AdaptiveSparkPlanExec => collectScans(a.executedPlan)
      case q: QueryStageExec => collectScans(q.plan)
      case o => o.children.foreach(collectScans)
    }
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = collectScans(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val root = Files.createTempDirectory("tilelayout_decode").toString
    spark.listenerManager.register(listener)
    try {
      TileJob.run(spark, path, root)
      ListenerBusDrain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    assert(scans.size == 1)
    // a range sample over the whole projection re-runs this scan: 2x
    assert(scans.asScala.toSeq.map(_.metrics("numOutputRows").value).sum == GeoTables.nImages(sfDir))
  }

  test("TileJob.run writes one task wave of contiguous, sorted (cell, image_id) ranges") {
    val root = Files.createTempDirectory("tilelayout_ranges").toString
    val snap = TileJob.run(spark, images, root)
    val nonEmpty = snap.buckets.count(_.rows > 0)
    val cores = spark.sparkContext.defaultParallelism
    val bucketDirs = list(Paths.get(root, "data")).filter(_.getFileName.toString.startsWith("bucket="))
    val files = bucketDirs.map(d => d -> list(d).filter { f =>
      val n = f.getFileName.toString
      n.startsWith("part-") && n.endsWith(".parquet")
    })
    assert(bucketDirs.size == nonEmpty)
    val nFiles = files.map(_._2.size).sum
    assert(nFiles <= cores + nonEmpty - 1, s"$nFiles part files for $nonEmpty buckets")

    val keyOrder = Ordering[(Long, String)]
    val rowsPerBucket = files.map { case (dir, parts) =>
      val keys = parts.map { f =>
        val k = spark.read.parquet(f.toString).select("cell", "image_id").collect()
          .map(r => (r.getLong(0), r.getString(1))).toSeq
        assert(k.nonEmpty, s"$f is empty")
        assert(k.sliding(2).forall(p => p.size < 2 || keyOrder.lt(p(0), p(1))),
          s"$f is not sorted by (cell, image_id)")
        k
      }
      // disjoint key ranges: two files share at most the cell a range
      // bound splits by image_id
      val ranges = keys.map(k => (k.head, k.last)).sortBy(_._1)(keyOrder)
      ranges.zip(ranges.drop(1)).foreach { case (a, b) =>
        assert(keyOrder.lt(a._2, b._1), s"$dir: files overlap: $a and $b")
      }
      keys.map(_.size).sum
    }
    assert(rowsPerBucket.sum == GeoTables.nImages(sfDir))
  }
}
