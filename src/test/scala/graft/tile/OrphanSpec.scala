package graft.tile

import graft.data.GeoTables
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import java.nio.charset.StandardCharsets

/** remove_orphan_files analog: reclaims exactly the data dirs no
  * committed snapshot references (crashed-commit leftovers), never a
  * referenced dir, and composes with expireSnapshots. */
class OrphanSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val sfDir = "/root/testdata/sf0.001"

  test("orphan dirs reclaimed; referenced dirs and reads untouched") {
    spark.sparkContext.setLogLevel("WARN")
    GeoTables.ensure(spark, sfDir)
    val images = spark.read.parquet(GeoTables.imagesPath(sfDir))
      .orderBy("image_id").limit(30).cache()
    val root = Files.createTempDirectory("orphan").toString

    val s1 = TileJob.ingestBatch(spark, images.limit(20), root, batchId = 0, zoom = 6)
    val s2 = TileJob.ingestBatch(spark, images.orderBy(org.apache.spark.sql.functions.desc("image_id")).limit(10),
      root, batchId = 1, zoom = 6)
    val rowsBefore = TileJob.readCurrent(spark, root).count()

    // plant a crashed-commit leftover: data written, manifest never published
    val orphan = Paths.get(root, "data-s99", "bucket=0")
    Files.createDirectories(orphan)
    Files.write(orphan.resolve("part-00000.parquet"), "junk".getBytes(StandardCharsets.UTF_8))
    // and a stray top-level FILE, which is not a reclamation unit
    Files.write(Paths.get(root, "stray.txt"), "x".getBytes(StandardCharsets.UTF_8))

    val removed = IceLite.removeOrphanFiles(root)
    // the reclamation unit may be the orphan bucket dir itself or its
    // (then-empty) per-commit parent — both leave the same end state
    assert(removed == Seq(orphan.toString) || removed == Seq(orphan.getParent.toString),
      s"unexpected removal set: $removed")
    assert(!Files.exists(orphan))
    assert(Files.exists(Paths.get(root, "stray.txt")))

    // every referenced dir survives; both snapshots still read exactly
    assert(TileJob.readCurrent(spark, root).count() == rowsBefore)
    assert(TileJob.readAt(spark, root, s1.snapshotId).count() == 20)
    assert(TileJob.readAt(spark, root, s2.snapshotId).count() == rowsBefore)

    // idempotent: a second sweep finds nothing
    assert(IceLite.removeOrphanFiles(root).isEmpty)

    // composes with retention GC: expire old snapshots, then the sweep
    // still reports nothing (expireSnapshots already took the data),
    // and the current snapshot remains readable
    IceLite.expireSnapshots(root, keep = 1)
    assert(IceLite.removeOrphanFiles(root).isEmpty)
    assert(TileJob.readCurrent(spark, root).count() == rowsBefore)
    images.unpersist()
  }

  test("listSnapshots closes its directory stream") {
    val root = Files.createTempDirectory("listsnaps").toString
    IceLite.commit(root, IceLite.Snapshot(1L, -1L, "t", Vector.empty))
    def openFds(): Int = new java.io.File("/proc/self/fd").list().length
    val before = openFds()
    (1 to 2000).foreach(_ => assert(IceLite.listSnapshots(root) == Seq("snap-1.json")))
    // a leaked stream holds one descriptor per call; the slack covers
    // descriptors other threads of the JVM open meanwhile
    assert(openFds() - before < 100)
  }
}
