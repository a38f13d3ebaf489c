package graft.tile

import graft.sql.GraftFunctions
import org.apache.spark.RangePartitioner
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/**
 * Raster↔vector tiling job with checkpointed manifests and exact resume
 * (SURVEY.md §2.6 #48/#51; north_rule: "resumable from checkpoint with
 * per-partition lineage + metrics").
 *
 * Work is partitioned into `nBuckets` contiguous ranges of the level-
 * `bucketLevel` Morton cell space — the checkpoint granularity. Each bucket:
 *   images in range → tile assignment (zoom z) + pHash verification
 *   → one immutable parquet dir → lineage rows → snapshot commit.
 * A rerun reads the current snapshot and skips completed buckets; outputs
 * are deterministic, so resume-after-crash produces byte-identical results
 * (ResumeSpec pins this).
 *
 * At 10^12 scale, buckets = coarse Morton ranges ≡ Iceberg partition ranges:
 * each bucket is an independent distributed job over a cell-range predicate
 * that prunes at the parquet/row-group level (min/max on the cell column).
 */
object TileJob {

  /** Deterministic per-row checksum, folded order-independently with XOR
    * (no overflow under ANSI mode, which Spark 4 enables by default). */
  private def checksumCol = xxhash64(col("image_id"), col("tx"), col("ty"), col("phash"))

  /** A bucket's (rows, cellMin, cellMax, checksum, lineage). */
  private type BucketStats = (Long, Long, Long, Long, Seq[IceLite.LineageRow])

  /** Per-bucket [[BucketStats]] from ONE
    * read-back of the committed files under `basePath` (what readers
    * will see), keyed by bucket id. `schema` is the schema of the frame
    * the caller just wrote, so the read runs no footer-inference job. */
  private def bucketStats(spark: SparkSession, basePath: String, dirs: Seq[String],
      jobId: String, schema: StructType): Map[Long, BucketStats] = {
    if (dirs.isEmpty) return Map.empty
    // ONE job: per-(bucket, partition) stats collected once; bucket
    // totals fold in the driver (rows/cmin/cmax by sum/min/max, checksum
    // by XOR over disjoint partition sets — commutes with the 53-bit
    // mask). Was two full read-back jobs per call; on the streaming
    // ingest path that is one job per micro-batch saved.
    val perPid = spark.read
      .schema(schema)
      .option("basePath", basePath)
      .parquet(dirs: _*)
      .withColumn("pid", spark_partition_id())
      .withColumn("cs", checksumCol)
      .groupBy("bucket", "pid")
      .agg(count(lit(1)).as("rows"), min("cell").as("cmin"),
        max("cell").as("cmax"), expr("bit_xor(cs)").as("cs"))
      .collect()
    perPid.groupBy(_.getLong(0)).map { case (b, rows) =>
      val lineage = rows.sortBy(_.getInt(1)).map(r => IceLite.LineageRow(
        jobId, r.getInt(1), r.getLong(2), r.getLong(2),
        IceLite.mask53(r.getLong(5)))).toSeq
      b -> ((rows.map(_.getLong(2)).sum,
        rows.map(_.getLong(3)).min, rows.map(_.getLong(4)).max,
        IceLite.mask53(rows.map(_.getLong(5)).reduce(_ ^ _)), lineage))
    }
  }

  /** The tile-assignment projection shared by the batch job and the
    * streaming ingest: bucket (coarse Morton cell), tile x/y, fine cell,
    * and the per-row pHash revalidation. */
  private val coreCols = Seq("bucket", "image_id", "caption", "w", "h",
    "fmt", "lon", "lat", "cell", "tx", "ty", "phash", "phash_ok")

  /** The sort-key columns: bucket (level-`bucketLevel` cell) and cell
    * (level-`zoom` cell), both from lon/lat; with image_id they order
    * every table file. */
  private def withKeys(df: DataFrame, zoom: Int, bucketLevel: Int): DataFrame =
    df.withColumn("bucket",
        call_function("st_cellid", col("lon"), col("lat"), lit(bucketLevel)))
      .withColumn("cell", call_function("st_cellid", col("lon"), col("lat"), lit(zoom)))

  private def tileProjection(df: DataFrame, zoom: Int, bucketLevel: Int,
                             extraCols: Seq[String] = Nil): DataFrame = {
    val clash = extraCols.filter(c => coreCols.contains(c.toLowerCase))
    require(clash.isEmpty,
      s"extraCols ${clash.mkString(",")} collide with core table columns")
    withKeys(df, zoom, bucketLevel)
      .withColumn("tx", call_function("st_tile_x", col("lon"), lit(zoom)))
      .withColumn("ty", call_function("st_tile_y", col("lat"), lit(zoom)))
      .withColumn("phash_ok", call_function("img_phash", col("bytes")) === col("phash"))
      // add-column evolution (opt-in so the core table layout stays
      // byte-stable): named batch columns beyond the core contract ride
      // through to the table files — the ingest side of ADD COLUMN
      .select((coreCols ++ extraCols).map(col): _*)
  }

  /**
   * EXACTLY-ONCE streaming micro-batch append (the `foreachBatch` +
   * idempotent-sink pattern; driven by [[graft.streaming.Streams.tileIngest]]):
   * batch rows → tile assignment → one immutable per-batch dir
   * (`data-s<batchId>/bucket=<b>`) → ONE snapshot commit whose jobId
   * records the batchId. A replayed batch (crash after the commit but
   * before the streaming checkpoint advanced) finds its jobId already on
   * the snapshot chain and returns without writing, so rows are never
   * duplicated; a crash BEFORE the commit leaves an orphan dir no
   * manifest references, which the retry's mode("overwrite") reclaims.
   * Buckets therefore repeat across snapshots (one entry per batch per
   * bucket) — readers union entry dirs, [[compact]] merges same-bucket
   * entries, [[IceLite.expireSnapshots]] reclaims per-batch dirs.
   */
  def ingestBatch(spark: SparkSession, batch: DataFrame, outRoot: String,
                  batchId: Long, zoom: Int = 8, bucketLevel: Int = 2,
                  runId: String = "stream",
                  extraCols: Seq[String] = Nil): IceLite.Snapshot = {
    GraftFunctions.install(spark)
    val jobId = s"$runId-$batchId"
    val prev = IceLite.currentSnapshot(outRoot)
    // Idempotence is RETENTION-PROOF: a durable marker file per committed
    // batch (meta/ingest-<jobId>.done, written after the commit, never
    // GC'd by expireSnapshots which only deletes snap-*.json) — without
    // it, compact + expireSnapshots between a commit and the streaming
    // checkpoint advancing would truncate the jobId off the snapshot
    // chain and a replay would double-ingest. The chain scan stays as a
    // secondary for the crash window between commit and marker write.
    // The key includes `runId` because batchId alone is only meaningful
    // per checkpoint: restarting with a FRESH checkpoint renumbers
    // batches from 0, so reusing the old runId would silently skip them
    // — pass a new runId when the checkpoint does not carry over.
    val marker = IceLite.metaDir(outRoot).resolve(s"ingest-$jobId.done")
    def chainHas(id: String): Boolean = {
      var cur = prev
      while (cur.isDefined) {
        if (cur.get.jobId == id) return true
        cur = if (cur.get.parentId < 0) None
              else IceLite.snapshotById(outRoot, cur.get.parentId)
      }
      false
    }
    if (Files.exists(marker) || chainHas(jobId))
      return prev.getOrElse(throw new IllegalStateException(
        s"ingest marker $marker exists but the table has no current snapshot"))

    val base = s"$outRoot/data-s$batchId"
    val tiles = tileProjection(batch, zoom, bucketLevel, extraCols)
    tiles.sortWithinPartitions("bucket", "cell", "image_id")
      .write.mode("overwrite").partitionBy("bucket").parquet(base)

    val dirs = {
      val p = Paths.get(base)
      if (!Files.exists(p)) Seq.empty[String]
      else {
        val s = Files.list(p)
        try s.iterator().asScala.map(_.toString)
          .filter(_.contains("bucket=")).toSeq.sorted
        finally s.close()
      }
    }
    val stats = bucketStats(spark, base, dirs, jobId, tiles.schema)
    val entries = prev.map(_.buckets.toVector).getOrElse(Vector.empty) ++
      stats.toSeq.sortBy(_._1).map { case (b, (rows, cmin, cmax, cs, lineage)) =>
        IceLite.BucketEntry(b.toInt, rows, cs, cmin, cmax, s"$base/bucket=$b", lineage)
      }
    val snap = IceLite.Snapshot(prev.map(_.snapshotId).getOrElse(0L) + 1,
      prev.map(_.snapshotId).getOrElse(-1L), jobId, entries)
    IceLite.commit(outRoot, snap)
    val tmp = IceLite.metaDir(outRoot).resolve(s"ingest-$jobId.done.tmp")
    Files.write(tmp, Array.emptyByteArray)
    Files.move(tmp, marker,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    snap
  }

  /** The range partition of each row of `keys` (bucket, cell, image_id)
    * among `nParts` contiguous key ranges, whose bounds come from ONE
    * sampling job over `keys` alone (the sketch of Spark's own
    * `repartitionByRange`). Strings compare as UTF-8 bytes, Spark's sort
    * order, so each range is one contiguous slice of the sorted table. */
  private def rangePartitionId(keys: DataFrame, nParts: Int): Column = {
    def key(b: Long, c: Long, id: String) =
      (b, c, if (id == null) UTF8String.EMPTY_UTF8 else UTF8String.fromString(id))
    val sample = keys.select("bucket", "cell", "image_id").rdd
      .map(r => (key(r.getLong(0), r.getLong(1), r.getString(2)), ()))
    val ranges = new RangePartitioner(nParts, sample)
    udf((b: Long, c: Long, id: String) => ranges.getPartition(key(b, c, id)))
      .apply(col("bucket"), col("cell"), col("image_id"))
  }

  final case class Failpoint(afterBuckets: Int) extends RuntimeException(
    s"injected failure after $afterBuckets buckets (test hook)")

  def run(spark: SparkSession, imagesPath: String, outRoot: String,
          zoom: Int = 8, bucketLevel: Int = 2, failAfter: Int = -1): IceLite.Snapshot = {
    GraftFunctions.install(spark)
    val nBuckets = 1 << (2 * bucketLevel) // full level-L morton space
    val prev = IceLite.currentSnapshot(outRoot)
    val done = prev.map(_.buckets.map(_.bucket).toSet).getOrElse(Set.empty)
    val jobId = s"tile-z$zoom-L$bucketLevel"

    val pending = (0 until nBuckets).filterNot(done.contains)

    // ONE pass over the input for all pending buckets, in one task wave.
    //  - Bounds without decode: the range bounds come from a sample of the
    //    sort keys (bucket, cell, image_id) alone, which reads lon, lat and
    //    image_id. `repartitionByRange` would sample its whole child, so
    //    every image would be decoded for the sample and again for the
    //    write; here `img_phash` runs once per input row, map-side, and
    //    the image bytes never cross the exchange.
    //  - One wave: `defaultParallelism` contiguous, sorted key ranges, one
    //    write task per core; a big bucket spans several tasks, and a task
    //    writes one file per bucket its range touches (at most
    //    parallelism + non-empty buckets - 1 files in all).
    //  - The bucket filter is pushed below the projection by Catalyst
    //    (alias substitution), so nothing runs on skipped buckets, and
    //    dynamic partition overwrite replaces only the bucket dirs written:
    //    buckets committed by a previous run are never touched.
    //  - Known-schema read-back: stats + lineage for every pending bucket
    //    come from one read-back of the committed files (what readers will
    //    see), read with the schema just written, so no footer-inference
    //    job runs.
    val statRows: Map[Long, BucketStats] = if (pending.isEmpty) Map.empty else {
      val images = spark.read.parquet(imagesPath)
      val inPending = col("bucket").isInCollection(pending.map(_.toLong))
      val nParts = spark.sparkContext.defaultParallelism
      val rangeId = rangePartitionId(
        withKeys(images, zoom, bucketLevel).where(inPending), nParts)
      val tiles = tileProjection(images, zoom, bucketLevel).where(inPending)
      tiles.repartitionById(nParts, rangeId)
        .sortWithinPartitions("bucket", "cell", "image_id")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("bucket")
        .parquet(s"$outRoot/data")
      bucketStats(spark, s"$outRoot/data",
        pending.map(b => s"$outRoot/data/bucket=$b")
          .filter(d => Files.exists(Paths.get(d))), jobId, tiles.schema)
    }

    // per-bucket snapshot commits (driver-only) keep the resume granularity:
    // a crash between commits loses at most one bucket's bookkeeping
    var entries = prev.map(_.buckets.toVector).getOrElse(Vector.empty)
    var snapId = prev.map(_.snapshotId).getOrElse(0L)
    var parent = prev.map(_.snapshotId).getOrElse(-1L)
    var processed = 0
    pending.foreach { b =>
      if (failAfter >= 0 && processed >= failAfter) throw Failpoint(failAfter)
      val dataDir = s"$outRoot/data/bucket=$b"
      val (rows, cmin, cmax, cs, lineage) =
        statRows.getOrElse(b.toLong, (0L, Long.MaxValue, Long.MinValue, 0L, Seq.empty))
      entries :+= IceLite.BucketEntry(b, rows, cs, cmin, cmax, dataDir, lineage)
      snapId += 1
      IceLite.commit(outRoot, IceLite.Snapshot(snapId, parent, jobId, entries))
      parent = snapId
      processed += 1
    }
    IceLite.currentSnapshot(outRoot).getOrElse(
      throw new IllegalStateException("no snapshot after run"))
  }

  /**
   * COMPACTION — the small-file problem at 10^12 rows: a resumed/parallel
   * ingest leaves each bucket dir with many small parquet files, and scan
   * cost at scale is dominated by file-open overhead + lost row-group
   * locality. Rewrites every bucket whose dir holds more than
   * `maxFilesPerBucket` part files into EXACTLY ONE sorted file under a
   * fresh immutable dir (`data-c<snapId>/bucket=<b>`), verifies the
   * rewrite (row count + order-independent xxhash64 checksum must equal
   * the manifest entry — a mismatch aborts BEFORE publishing, leaving
   * only orphan files readers never see), then commits one new snapshot
   * whose entries point at the new dirs. Old dirs are untouched, so time
   * travel to pre-compaction snapshots keeps working; space is reclaimed
   * separately by [[IceLite.expireSnapshots]]. One distributed job
   * rewrites all selected buckets (repartition on the bucket key — a
   * bucket lives in exactly one task, so each new dir gets exactly one
   * file); nothing is collected to the driver but the per-bucket stats.
   */
  def compact(spark: SparkSession, outRoot: String,
              maxFilesPerBucket: Int = 1): IceLite.Snapshot = {
    val snap = IceLite.currentSnapshot(outRoot)
      .getOrElse(throw new IllegalArgumentException(s"no snapshot at $outRoot"))
    def partFiles(dir: String): Int = {
      val p = Paths.get(dir)
      if (!Files.exists(p)) 0
      else {
        val s = Files.list(p)
        try s.iterator().asScala.count { f =>
          val n = f.getFileName.toString
          n.startsWith("part-") && n.endsWith(".parquet")
        } finally s.close()
      }
    }
    // entries grouped by bucket id: a streamed table (ingestBatch) holds
    // one entry per micro-batch per bucket — compaction merges them into
    // one entry with one file. Expected merged checksum = XOR of entry
    // checksums (disjoint row sets; XOR commutes with the 53-bit mask).
    val grouped = snap.buckets.filter(_.rows > 0).groupBy(_.bucket)
    val selected = grouped.filter { case (_, es) =>
      es.size > 1 || es.iterator.map(e => partFiles(e.dataDir)).sum > maxFilesPerBucket
    }.toSeq.sortBy(_._1)
    if (selected.isEmpty) return snap

    val newId = snap.snapshotId + 1
    val newRoot = s"$outRoot/data-c$newId"
    def newDir(b: Int): String = s"$newRoot/bucket=$b"
    // bucket rides as a literal per source (the dir-name partition column
    // is not stored in the files), so one union plan rewrites every
    // selected bucket in a single job
    // ONE multi-path scan per bucket (not per entry): a standing stream
    // accumulates one entry per micro-batch per bucket, and a per-entry
    // union would grow the plan with stream length — per-bucket it stays
    // bounded by the bucket count like the batch table
    // mergeSchema + allowMissingColumns: an evolved table holds entries
    // written before a column was added; a plain read takes ONE footer's
    // schema nondeterministically (dropping the added column from the
    // rewrite = data loss), and strict unionByName throws across buckets
    // of different widths. The rewrite materializes the UNION schema with
    // NULLs for pre-evolution rows — Iceberg's rewrite-at-current-schema.
    bucketUnion(spark, selected)
      .repartition(selected.size, col("bucket"))
      .sortWithinPartitions("bucket", "cell", "image_id")
      // overwrite: a compaction that crashed between write and commit
      // leaves data-c<id> orphaned (no manifest references it) — the
      // retry recomputes the same id and must be able to reclaim it
      .write.mode("overwrite").partitionBy("bucket").parquet(newRoot)

    // verify the rewrite against the committed manifest BEFORE publishing
    verifyRewrite(spark, "compaction", newDir, selected.map { case (b, es) =>
      b -> ((es.map(_.rows).sum, es.map(_.checksum).reduce(_ ^ _)))
    })

    val merged = selected.map { case (b, es) =>
      val rows = es.map(_.rows).sum; val cs = es.map(_.checksum).reduce(_ ^ _)
      b -> (Some(IceLite.BucketEntry(b, rows, cs,
        es.map(_.cellMin).min, es.map(_.cellMax).max, newDir(b),
        es.flatMap(_.lineage) :+ IceLite.LineageRow("compact", b, rows, rows, cs))): Option[IceLite.BucketEntry])
    }.toMap
    val out = IceLite.Snapshot(newId, snap.snapshotId, s"compact-${snap.jobId}",
      replaceEntries(snap, merged))
    IceLite.commit(outRoot, out)
    out
  }

  /**
   * PARTITION-SPEC EVOLUTION (Iceberg's `REPLACE PARTITION FIELD`), COW:
   * rewrite the table at a NEW bucket level. Each row's new bucket
   * derives from its STORED fine cell (`st_cell_parent(cell, zoom,
   * newLevel)`) — cells nest, so no lon/lat recompute and no decode.
   *
   * Two passes, deliberately: pass 1 aggregates expected per-new-bucket
   * stats (rows, XOR checksum, cell range) reading ONLY the narrow
   * columns (Parquet pruning skips `bytes`); pass 2 rewrites. Before
   * anything publishes, (a) pass 1's totals must CONSERVE the manifest's
   * global row count and XOR checksum exactly — a split/merge cannot
   * invent or drop a row — and (b) the written files are read back and
   * verified per new bucket ([[verifyRewrite]]). Old snapshots keep
   * referencing the old layout: time travel still reads it, and
   * [[IceLite.expireSnapshots]] reclaims it. Scale: write amplification
   * is the table size ONCE — the explicit cost of changing partition
   * layout, paid without taking the table offline.
   */
  def rebucket(spark: SparkSession, outRoot: String, zoom: Int,
               newBucketLevel: Int): IceLite.Snapshot = {
    GraftFunctions.install(spark)
    require(newBucketLevel >= 0 && newBucketLevel <= zoom,
      s"newBucketLevel $newBucketLevel out of range [0, zoom=$zoom]")
    val snap = IceLite.currentSnapshot(outRoot)
      .getOrElse(throw new IllegalArgumentException(s"no snapshot at $outRoot"))
    val live = snap.buckets.filter(_.rows > 0)
    if (live.isEmpty) return snap
    val grouped = live.groupBy(_.bucket).toSeq.sortBy(_._1)
    val newId = snap.snapshotId + 1
    val newRoot = s"$outRoot/data-r$newId"
    def newDir(b: Int): String = s"$newRoot/bucket=$b"
    val src = bucketUnion(spark, grouped)
      .drop("bucket")
      .withColumn("bucket", call_function("st_cell_parent",
        col("cell"), lit(zoom), lit(newBucketLevel)))

    val expected = src
      .withColumn("cs", checksumCol)
      .groupBy("bucket")
      .agg(count(lit(1)).as("rows"), expr("bit_xor(cs)").as("cs"),
        min("cell").as("cmin"), max("cell").as("cmax"))
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), IceLite.mask53(r.getLong(2)), r.getLong(3), r.getLong(4))))
      .toMap

    // global conservation vs the COMMITTED manifest before any write
    val expRows = expected.values.map(_._1).sum
    val expCs = IceLite.mask53(expected.values.map(_._2).reduce(_ ^ _))
    val oldRows = live.map(_.rows).sum
    val oldCs = IceLite.mask53(live.map(_.checksum).reduce(_ ^ _))
    if (expRows != oldRows || expCs != oldCs)
      throw new IllegalStateException(
        s"rebucket conservation failed: rows $expRows vs $oldRows, " +
          s"checksum $expCs vs $oldCs — nothing written")

    val nParts = math.max(spark.sparkContext.defaultParallelism, expected.size)
    src.repartitionByRange(nParts, col("bucket"), col("cell"), col("image_id"))
      .sortWithinPartitions("bucket", "cell", "image_id")
      .write.mode("overwrite").partitionBy("bucket").parquet(newRoot)

    verifyRewrite(spark, "rebucket", newDir,
      expected.toSeq.sortBy(_._1).map { case (b, (r, cs, _, _)) => b.toInt -> ((r, cs)) })

    val entries = expected.toSeq.sortBy(_._1).map { case (b, (r, cs, cmin, cmax)) =>
      IceLite.BucketEntry(b.toInt, r, cs, cmin, cmax, newDir(b.toInt),
        Seq(IceLite.LineageRow(s"rebucket-L$newBucketLevel", b.toInt, r, r, cs)))
    }
    val out = IceLite.Snapshot(newId, snap.snapshotId,
      s"rebucket-L$newBucketLevel-${snap.jobId}", entries)
    IceLite.commit(outRoot, out)
    out
  }

  /** ONE multi-path scan per bucket over its manifest entries, bucket id as
    * a literal column (dir-name partition columns are not stored in the
    * files), at the table's UNION schema (mergeSchema + allowMissingColumns
    * — see [[compact]]'s evolution note). Plan size rides the bucket count,
    * never the entry (micro-batch) count. */
  private def bucketUnion(spark: SparkSession,
      groups: Seq[(Int, Seq[IceLite.BucketEntry])]): DataFrame =
    groups.map { case (b, es) =>
        spark.read.option("mergeSchema", "true").parquet(es.map(_.dataDir): _*)
          .withColumn("bucket", lit(b.toLong)) }
      .reduce(_.unionByName(_, allowMissingColumns = true))

  /** Verify freshly rewritten bucket dirs against manifest-derived
    * expectations BEFORE a snapshot publishes them: row count and
    * order-independent xxhash64 XOR checksum must match per bucket.
    * `expected` maps bucket → (rows, checksum); buckets expecting 0 rows
    * must have no dir at all (partitionBy writes nothing for them). */
  private def verifyRewrite(spark: SparkSession, op: String,
      newDir: Int => String, expected: Seq[(Int, (Long, Long))]): Unit = {
    val nonEmpty = expected.filter(_._2._1 > 0)
    val back =
      if (nonEmpty.isEmpty) Map.empty[Long, (Long, Long)]
      else nonEmpty.map { case (b, _) => spark.read.parquet(newDir(b))
          .withColumn("bucket", lit(b.toLong)) }
        .reduce(_ unionByName _)
        .withColumn("cs", checksumCol)
        .groupBy("bucket")
        .agg(count(lit(1)).as("rows"), expr("bit_xor(cs)").as("cs"))
        .collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), IceLite.mask53(r.getLong(2)))))
        .toMap
    expected.foreach { case (b, (expRows, expCs)) =>
      if (expRows == 0) {
        if (Files.exists(Paths.get(newDir(b))))
          throw new IllegalStateException(
            s"$op verify failed for bucket $b: expected empty, dir exists — not committed")
      } else {
        val (rows, cs) = back.getOrElse(b.toLong, (-1L, -1L))
        if (rows != expRows || cs != expCs)
          throw new IllegalStateException(
            s"$op verify failed for bucket $b: rows $rows vs $expRows, " +
              s"checksum $cs vs $expCs — not committed")
      }
    }
  }

  /** Manifest entries after a copy-on-write rewrite: each touched bucket's
    * entries collapse to ONE entry at the FIRST slot of that bucket (or
    * drop entirely when the rewrite left it empty); untouched entries pass
    * through byte-identical. */
  private def replaceEntries(snap: IceLite.Snapshot,
      repl: Map[Int, Option[IceLite.BucketEntry]]): Seq[IceLite.BucketEntry] = {
    val seen = scala.collection.mutable.Set.empty[Int]
    snap.buckets.flatMap { b =>
      if (b.rows == 0 || !repl.contains(b.bucket)) Some(b)
      else if (seen.add(b.bucket)) repl(b.bucket)
      else None
    }
  }

  /**
   * ROW-LEVEL DELETE, copy-on-write (Iceberg's COW `DELETE FROM ... WHERE`):
   * rows where `cond` is TRUE disappear from the new snapshot — rows where
   * it is false OR NULL are kept, the SQL DELETE contract (a predicate on
   * an added column is NULL on pre-evolution rows, which must survive).
   *
   * Only buckets that actually contain matches are rewritten (to a fresh
   * immutable `data-d<snapId>` dir); every rewrite is VERIFIED before the
   * commit publishes: the expected kept-checksum is derived from the
   * manifest in the same scan that finds the matches (old XOR deleted —
   * XOR commutes with the 53-bit mask), so a rewrite that drops or
   * duplicates even one row aborts with nothing published. Untouched
   * buckets keep their files byte-identical. Old snapshots still reference
   * the old dirs — time travel shows deleted rows exactly as committed;
   * the hard-delete (GDPR reclaim) is [[IceLite.expireSnapshots]] retiring
   * the superseded dirs. Scale: one distributed match scan (Parquet
   * pushdown prunes where `cond` allows) + a rewrite of matched buckets
   * only — write amplification is bounded by match locality, not table
   * size.
   */
  def deleteWhere(spark: SparkSession, outRoot: String,
                  cond: Column): IceLite.Snapshot = {
    val snap = IceLite.currentSnapshot(outRoot)
      .getOrElse(throw new IllegalArgumentException(s"no snapshot at $outRoot"))
    val grouped = snap.buckets.filter(_.rows > 0).groupBy(_.bucket).toSeq.sortBy(_._1)
    if (grouped.isEmpty) return snap
    // NULL never deletes: SQL's WHERE keeps only TRUE, so the delete set is
    // cond IS TRUE and the kept set is its complement
    val del = coalesce(cond, lit(false))

    // ONE pass: per-bucket match count, matched-row checksum, kept stats
    val stats = bucketUnion(spark, grouped)
      .withColumn("_del", del)
      .withColumn("_cs", checksumCol)
      .groupBy("bucket")
      .agg(sum(when(col("_del"), 1L).otherwise(0L)).as("n_del"),
        expr("bit_xor(CASE WHEN _del THEN _cs END)").as("del_cs"),
        count(lit(1)).as("n_all"),
        min(when(!col("_del"), col("cell"))).as("cmin"),
        max(when(!col("_del"), col("cell"))).as("cmax"))
      .collect()
      .map(r => r.getLong(0).toInt ->
        ((r.getLong(1), if (r.isNullAt(2)) 0L else r.getLong(2), r.getLong(3),
          if (r.isNullAt(4)) Long.MaxValue else r.getLong(4),
          if (r.isNullAt(5)) Long.MinValue else r.getLong(5))))
      .toMap
    val affected = grouped.filter { case (b, _) => stats(b)._1 > 0 }
    if (affected.isEmpty) return snap

    val newId = snap.snapshotId + 1
    val newRoot = s"$outRoot/data-d$newId"
    def newDir(b: Int): String = s"$newRoot/bucket=$b"
    // filter the FULL union to affected buckets rather than re-unioning
    // only them: the union schema must match the stats scan exactly (a
    // cond like `added_col IS NULL` matches rows in buckets whose files
    // lack the column — a narrower union would fail to resolve it), and
    // each source carries its bucket as a literal, so the optimizer folds
    // the IN-filter per source and prunes non-affected scans entirely
    bucketUnion(spark, grouped)
      .where(col("bucket").isInCollection(affected.map(_._1.toLong)))
      .where(!del)
      .repartition(affected.size, col("bucket"))
      .sortWithinPartitions("bucket", "cell", "image_id")
      // overwrite: a crashed delete leaves data-d<id> orphaned; the retry
      // recomputes the same id and must reclaim it (compact's contract)
      .write.mode("overwrite").partitionBy("bucket").parquet(newRoot)

    val expected = affected.map { case (b, es) =>
      val (nDel, delCs, nAll, _, _) = stats(b)
      val oldCs = es.map(_.checksum).reduce(_ ^ _)
      b -> ((nAll - nDel, IceLite.mask53(oldCs ^ delCs)))
    }
    verifyRewrite(spark, "delete", newDir, expected)

    val repl = affected.map { case (b, es) =>
      val (nDel, delCs, nAll, cmin, cmax) = stats(b)
      val rows = nAll - nDel
      val cs = IceLite.mask53(es.map(_.checksum).reduce(_ ^ _) ^ delCs)
      b -> (if (rows == 0) None
      else Some(IceLite.BucketEntry(b, rows, cs, cmin, cmax, newDir(b),
        es.flatMap(_.lineage) :+ IceLite.LineageRow("delete", b, nAll, rows, cs))))
    }.toMap
    val out = IceLite.Snapshot(newId, snap.snapshotId,
      s"delete-${snap.jobId}", replaceEntries(snap, repl))
    IceLite.commit(outRoot, out)
    out
  }

  /**
   * MERGE / UPSERT, copy-on-write (Iceberg's `MERGE INTO ... WHEN MATCHED
   * THEN UPDATE WHEN NOT MATCHED THEN INSERT`, keyed on image_id): every
   * update row REPLACES the table row carrying its image_id — wherever
   * that row lives, so a changed lon/lat hops buckets correctly (the old
   * copy is keyed out by id while the new copy lands in its recomputed
   * bucket) — and ids the table has never seen INSERT. Updates must be
   * unique by image_id (a MERGE with two sources for one target row is
   * ambiguous — Iceberg throws, and so do we). Update rows run the same
   * tile projection as ingest (bucket/tile/cell assignment + pHash
   * revalidation); `extraCols` rides through for evolved tables.
   *
   * Write amplification is bounded by MATCH locality, not insert volume:
   * only buckets that lose a row (a matched id) are rewritten; buckets
   * that merely RECEIVE inserts get an appended entry (the streaming-
   * ingest multi-entry shape — [[compact]] merges them later), so a
   * pure-insert merge writes exactly its own rows.
   *
   * Same verify-before-publish contract as [[deleteWhere]]: expected
   * checksum = old XOR removed XOR added per bucket, derived independently
   * of the rewrite it checks. Untouched buckets keep their files;
   * time travel to pre-merge snapshots is unaffected.
   */
  def mergeUpsert(spark: SparkSession, outRoot: String, updates: DataFrame,
                  zoom: Int = 8, bucketLevel: Int = 2,
                  extraCols: Seq[String] = Nil): IceLite.Snapshot = {
    val snap = IceLite.currentSnapshot(outRoot)
      .getOrElse(throw new IllegalArgumentException(s"no snapshot at $outRoot"))
    val grouped = snap.buckets.filter(_.rows > 0).groupBy(_.bucket).toSeq.sortBy(_._1)
    // EVOLVED columns ride through automatically on MERGE (a matched row is
    // REPLACED wholesale — projecting the update down to core columns would
    // silently blank evolved values the verify checksum cannot see, since
    // it hashes core columns only). Updates that lack an evolved table
    // column are rejected: the caller must carry it (explicit NULLs if
    // blanking is intended), the Iceberg MERGE schema-match contract.
    val evolved: Seq[String] =
      if (grouped.isEmpty) Nil
      else bucketUnion(spark, grouped).columns.toSeq
        .filterNot(c => coreCols.contains(c))
    val missing = evolved.filterNot(c =>
      updates.columns.contains(c) || extraCols.contains(c))
    require(missing.isEmpty,
      s"mergeUpsert updates lack evolved table column(s) ${missing.mkString(",")} — " +
        "supply them (explicit NULLs if blanking is intended)")
    val rideThrough = (extraCols ++ evolved).distinct
    // materialized once: read by the uniqueness probe, the add-side stats,
    // and the rewrite union (the projection re-decodes images otherwise)
    val proj = tileProjection(updates, zoom, bucketLevel, rideThrough)
      .localCheckpoint()
    val dup = proj.groupBy("image_id").agg(count(lit(1)).as("n"))
      .where(col("n") > 1).limit(1).collect()
    require(dup.isEmpty,
      s"mergeUpsert updates must be unique by image_id (duplicate: ${dup.headOption.map(_.get(0))})")

    // add-side stats per TARGET bucket (new tile assignment of each update)
    val addStats = proj.withColumn("_cs", checksumCol)
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_add"), expr("bit_xor(_cs)").as("add_cs"),
        min("cell").as("cmin"), max("cell").as("cmax"))
      .collect()
      .map(r => r.getAs[Long]("bucket").toInt ->
        ((r.getAs[Long]("n_add"), r.getAs[Long]("add_cs"),
          r.getAs[Long]("cmin"), r.getAs[Long]("cmax"))))
      .toMap

    val ids = proj.select(col("image_id").as("_mid")).distinct()
    // matched-side stats per EXISTING bucket (rows keyed out by id); no
    // broadcast hint — AQE converts the shuffle join when the id side is
    // small, and a billion-row MERGE source must not OOM the driver
    val matchStats =
      if (grouped.isEmpty) Map.empty[Int, (Long, Long, Long, Long, Long)]
      else bucketUnion(spark, grouped)
        .join(ids.withColumn("_hit", lit(true)),
          col("image_id") === col("_mid"), "left")
        .withColumn("_del", coalesce(col("_hit"), lit(false)))
        .withColumn("_cs", checksumCol)
        .groupBy("bucket")
        .agg(sum(when(col("_del"), 1L).otherwise(0L)).as("n_del"),
          expr("bit_xor(CASE WHEN _del THEN _cs END)").as("del_cs"),
          count(lit(1)).as("n_all"),
          min(when(!col("_del"), col("cell"))).as("cmin"),
          max(when(!col("_del"), col("cell"))).as("cmax"))
        .collect()
        .map(r => r.getLong(0).toInt ->
          ((r.getLong(1), if (r.isNullAt(2)) 0L else r.getLong(2), r.getLong(3),
            if (r.isNullAt(4)) Long.MaxValue else r.getLong(4),
            if (r.isNullAt(5)) Long.MinValue else r.getLong(5))))
        .toMap

    val byBucket = grouped.toMap
    val rewriteB = matchStats.filter(_._2._1 > 0).keySet.toSeq.sorted
    val touched = (rewriteB ++ addStats.keySet).distinct.sorted
    if (touched.isEmpty) return snap

    val newId = snap.snapshotId + 1
    val newRoot = s"$outRoot/data-m$newId"
    def newDir(b: Int): String = s"$newRoot/bucket=$b"
    // one write job: rewritten buckets carry kept-old + added rows;
    // insert-only buckets carry ONLY added rows (their old files stay)
    val keptOld = {
      val existing = rewriteB.flatMap(b => byBucket.get(b).map(b -> _))
      if (existing.isEmpty) None
      else Some(bucketUnion(spark, existing)
        .join(ids, col("image_id") === col("_mid"), "left_anti"))
    }
    keptOld.map(_.unionByName(proj, allowMissingColumns = true)).getOrElse(proj)
      .repartition(touched.size, col("bucket"))
      .sortWithinPartitions("bucket", "cell", "image_id")
      .write.mode("overwrite").partitionBy("bucket").parquet(newRoot)

    val expected = touched.map { b =>
      val (nAdd, addCs, _, _) = addStats.getOrElse(b, (0L, 0L, Long.MaxValue, Long.MinValue))
      if (!rewriteB.contains(b)) b -> ((nAdd, IceLite.mask53(addCs)))
      else {
        val (nDel, delCs, nAll, _, _) = matchStats(b)
        val oldCs = byBucket(b).map(_.checksum).reduce(_ ^ _)
        b -> ((nAll - nDel + nAdd, IceLite.mask53(oldCs ^ delCs ^ addCs)))
      }
    }
    verifyRewrite(spark, "merge", newDir, expected)

    val expMap = expected.toMap
    // rewritten buckets REPLACE their entries; insert-only buckets APPEND
    // one entry (the ingestBatch multi-entry shape, compact merges later)
    val repl = rewriteB.map { b =>
      val (rows, cs) = expMap(b)
      val (_, _, nAll, kmin, kmax) = matchStats(b)
      val (_, _, amin, amax) = addStats.getOrElse(b, (0L, 0L, Long.MaxValue, Long.MinValue))
      b -> (if (rows == 0) None
      else Some(IceLite.BucketEntry(b, rows, cs,
        math.min(kmin, amin), math.max(kmax, amax), newDir(b),
        byBucket(b).flatMap(_.lineage) :+
          IceLite.LineageRow("merge", b, nAll, rows, cs))))
    }.toMap
    val appended = touched.filterNot(rewriteB.contains).map { b =>
      val (rows, cs) = expMap(b)
      val (_, _, amin, amax) = addStats(b)
      IceLite.BucketEntry(b, rows, cs, amin, amax, newDir(b),
        Seq(IceLite.LineageRow("merge-insert", b, rows, rows, cs)))
    }
    val out = IceLite.Snapshot(newId, snap.snapshotId,
      s"merge-${snap.jobId}", replaceEntries(snap, repl) ++ appended)
    IceLite.commit(outRoot, out)
    out
  }

  /** Read the table as of the current snapshot (manifest-driven file list). */
  def readCurrent(spark: SparkSession, outRoot: String): DataFrame = {
    val snap = IceLite.currentSnapshot(outRoot)
      .getOrElse(throw new IllegalArgumentException(s"no snapshot at $outRoot"))
    val dirs = snap.buckets.map(_.dataDir).filter(d => Files.exists(Paths.get(d)))
    spark.read.parquet(dirs: _*)
  }

  /** TIME TRAVEL: read the table as of an older committed snapshot.
    * Data files are immutable and snapshots are never rewritten, so any
    * historical id reproduces exactly the rows visible at that commit —
    * the audit/rollback read an Iceberg catalog would serve with
    * `VERSION AS OF`. */
  def readAt(spark: SparkSession, outRoot: String, snapshotId: Long): DataFrame = {
    val snap = IceLite.snapshotById(outRoot, snapshotId)
      .getOrElse(throw new IllegalArgumentException(
        s"no snapshot $snapshotId at $outRoot (have: ${IceLite.listSnapshots(outRoot).mkString(", ")})"))
    val dirs = snap.buckets.map(_.dataDir).filter(d => Files.exists(Paths.get(d)))
    if (dirs.isEmpty) readCurrent(spark, outRoot).limit(0)
    else spark.read.parquet(dirs: _*)
  }

  /** SCHEMA EVOLUTION on read (the Iceberg add-column contract): bucket
    * files written before a column was added lack it on disk; plain
    * `spark.read.parquet(dirs)` picks ONE file's schema nondeterministically
    * — the added column silently vanishes whenever an old file wins.
    * `mergeSchema` unions every file footer instead, and rows from
    * pre-evolution files carry NULL in the added columns — exactly the
    * read-side semantics an Iceberg catalog serves after ADD COLUMN.
    * Scale note: footer-union cost rides the FILE count (manifest-bounded
    * here), not rows; type changes / renames are out of scope (the
    * add-column path is the one a training pipeline actually takes when
    * it starts logging a new feature). Old snapshots read via [[readAt]]
    * keep their own narrower schema — time travel is schema-faithful. */
  def readEvolved(spark: SparkSession, outRoot: String): DataFrame = {
    val snap = IceLite.currentSnapshot(outRoot)
      .getOrElse(throw new IllegalArgumentException(s"no snapshot at $outRoot"))
    val dirs = snap.buckets.map(_.dataDir).filter(d => Files.exists(Paths.get(d)))
    spark.read.option("mergeSchema", "true").parquet(dirs: _*)
  }

  /** Manifest-driven pruning: only buckets whose cell range intersects. */
  def readCellRange(spark: SparkSession, outRoot: String,
                    cellMin: Long, cellMax: Long): DataFrame = {
    val snap = IceLite.currentSnapshot(outRoot)
      .getOrElse(throw new IllegalArgumentException(s"no snapshot at $outRoot"))
    val dirs = snap.buckets
      .filter(b => b.rows > 0 && b.cellMin <= cellMax && b.cellMax >= cellMin)
      .map(_.dataDir)
    if (dirs.isEmpty) TileJob.readCurrent(spark, outRoot).limit(0)
    else spark.read.parquet(dirs: _*)
      .where(col("cell") >= cellMin && col("cell") <= cellMax)
  }

  /** The manifest-level prune behind [[snapshotDiff]]: data dirs present
    * in one snapshot but not the other. Data files are IMMUTABLE (every
    * mutation writes new dirs and republishes the manifest), so a bucket
    * entry pointing at the same dir in both snapshots provably carries
    * identical rows and is never read — incremental-diff cost rides the
    * CHANGED buckets only. */
  private[tile] def changedDirs(from: IceLite.Snapshot, to: IceLite.Snapshot): (Seq[String], Seq[String]) = {
    val f = from.buckets.map(_.dataDir).toSet
    val t = to.buckets.map(_.dataDir).toSet
    // empty buckets (rows == 0) legitimately have no dir; a rows > 0
    // entry whose dir is gone is data loss / out-of-band GC — failing
    // loudly beats silently emitting a truncated (wrong) changelog
    def live(es: Seq[IceLite.BucketEntry]): Seq[String] = {
      val ds = es.filter(_.rows > 0).map(_.dataDir).distinct
      val missing = ds.filterNot(d => Files.exists(Paths.get(d)))
      require(missing.isEmpty,
        s"snapshotDiff: manifest references missing data dirs (GC'd or lost?): ${missing.mkString(", ")}")
      ds
    }
    (live(from.buckets.filterNot(b => t.contains(b.dataDir))),
     live(to.buckets.filterNot(b => f.contains(b.dataDir))))
  }

  /** CDC CHANGELOG between two committed snapshots — Iceberg's
    * incremental/changelog scan: one row per changed image_id with
    * op ∈ insert | delete | update. Buckets whose manifest entry points
    * at the same immutable data dir in both snapshots are pruned WITHOUT
    * reading (see [[changedDirs]]); inside the changed set, a full outer
    * join on image_id compares an all-columns fingerprint (footer-union
    * reads, so evolved columns participate; binary columns hash via md5,
    * everything else via a null-sentineled string cast). Rows that moved
    * buckets with identical content (e.g. rebucket) correctly vanish
    * from the changelog. At 10^12 rows an incremental consumer pays for
    * the delta, never the table. */
  def snapshotDiff(spark: SparkSession, outRoot: String,
                   fromId: Long, toId: Long): DataFrame = {
    import org.apache.spark.sql.types.BinaryType
    val from = IceLite.snapshotById(outRoot, fromId).getOrElse(
      throw new IllegalArgumentException(s"no snapshot $fromId at $outRoot"))
    val to = IceLite.snapshotById(outRoot, toId).getOrElse(
      throw new IllegalArgumentException(s"no snapshot $toId at $outRoot"))
    val (fDirs, tDirs) = changedDirs(from, to)
    val empty = spark.range(0).select(lit("insert").as("op"), lit("").as("image_id"))
    def rd(dirs: Seq[String]): Option[DataFrame] =
      if (dirs.isEmpty) None
      else Some(spark.read.option("mergeSchema", "true").parquet(dirs: _*))
    (rd(fDirs), rd(tDirs)) match {
      case (None, None) => empty.limit(0)
      case (a, b) =>
        // Fingerprint over the union of both sides' columns, sorted by
        // name. ONE sentinel for both "column absent from this side's
        // schema" and "value is NULL": Iceberg's ADD COLUMN produces no
        // CDC rows, so a rewrite that merely materializes a new all-NULL
        // column must fingerprint identically to the pre-evolution file
        // (distinct sentinels would flag every untouched row as an
        // update). Every branch is coalesced -- xxhash64 SKIPS null
        // children rather than hashing them, so an uncoalesced md5(null)
        // would silently drop the column from the hash.
        val types = (a.toSeq ++ b.toSeq)
          .flatMap(_.schema.fields.map(f => f.name -> f.dataType)).toMap
        val names = types.keys.toSeq.sorted.filter(_ != "image_id")
        val nullSentinel = lit("\u0000null")
        def fp(df: DataFrame): Column = xxhash64(names.map { n =>
          if (!df.columns.contains(n)) nullSentinel
          else if (types(n) == BinaryType) coalesce(md5(col(n)), nullSentinel)
          else coalesce(col(n).cast("string"), nullSentinel)
        }: _*)
        def side(df: Option[DataFrame], hname: String): DataFrame = df match {
          case Some(d) => d.select(col("image_id"), fp(d).as(hname))
          case None => spark.range(0).select(lit("").as("image_id"), lit(0L).as(hname))
        }
        side(a, "h_from").join(side(b, "h_to"), Seq("image_id"), "full_outer")
          .select(col("image_id"),
            when(col("h_from").isNull, "insert")
              .when(col("h_to").isNull, "delete")
              .when(col("h_from") =!= col("h_to"), "update").as("op"))
          .where(col("op").isNotNull)
          .select("op", "image_id")
    }
  }

  /** The per-tile aggregate the incremental maintainer keeps: row count
    * and width sum per (tx, ty). ONE definition shared by the full
    * recompute and the incremental path, so equality between them is a
    * real invariant rather than two copies drifting. */
  def tileAggOf(df: DataFrame): DataFrame =
    df.groupBy("tx", "ty")
      .agg(count(lit(1)).as("n_img"), sum(col("w").cast("long")).as("sum_w"))

  def tileAggAt(spark: SparkSession, outRoot: String, snapshotId: Long): DataFrame =
    tileAggOf(readAt(spark, outRoot, snapshotId))

  /** INCREMENTAL MATERIALIZED-VIEW MAINTENANCE — the consumer the CDC
    * machinery exists for: advance a per-tile aggregate from snapshot
    * `fromId` to `toId` reading ONLY the buckets whose data dirs changed
    * ([[changedDirs]] prune, same as [[snapshotDiff]]). Count/sum are
    * self-inverting, so the delta is one union-with-sign aggregate:
    * removed-dir rows at −1, added-dir rows at +1, summed per key, then
    * full-outer-merged into the previous MV; keys whose count reaches 0
    * drop out (a full recompute would not emit them). Rewrites that
    * merely move identical rows (compact, rebucket) produce a zero delta
    * and leave the MV bit-identical. At 10^12 rows the maintainer pays
    * for the delta buckets, never the table — the full recompute exists
    * only as the spec's ground truth. */
  def incrementalTileAgg(spark: SparkSession, outRoot: String, prev: DataFrame,
                         fromId: Long, toId: Long): DataFrame = {
    val from = IceLite.snapshotById(outRoot, fromId).getOrElse(
      throw new IllegalArgumentException(s"no snapshot $fromId at $outRoot"))
    val to = IceLite.snapshotById(outRoot, toId).getOrElse(
      throw new IllegalArgumentException(s"no snapshot $toId at $outRoot"))
    val (fDirs, tDirs) = changedDirs(from, to)
    val sides = Seq(fDirs -> -1L, tDirs -> 1L).collect { case (dirs, sgn) if dirs.nonEmpty =>
      spark.read.option("mergeSchema", "true").parquet(dirs: _*)
        .select(col("tx"), col("ty"), lit(sgn).as("sgn"), col("w").cast("long").as("w"))
    }
    if (sides.isEmpty) return prev
    val delta = sides.reduce(_ unionByName _)
      .groupBy("tx", "ty")
      .agg(sum(col("sgn")).as("dn"), sum(col("sgn") * col("w")).as("dw"))
    prev.join(delta, Seq("tx", "ty"), "full_outer")
      .select(col("tx"), col("ty"),
        (coalesce(col("n_img"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n_img"),
        (coalesce(col("sum_w"), lit(0L)) + coalesce(col("dw"), lit(0L))).as("sum_w"))
      .where(col("n_img") > 0)
  }
}
