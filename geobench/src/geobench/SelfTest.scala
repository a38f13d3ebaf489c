package geobench

import graft.tile.IceLite
import org.apache.spark.sql.{Row, SparkSession}

/**
 * Checker self-test: every workload runs one full cycle on small inputs,
 * and every op's check must pass on the program's real result. Then each
 * result is corrupted — one row dropped from a collected result (a lost
 * join row, neighbour, tile group or range-read row), or one row taken off
 * a snapshot's row total — and the same check must flag it.
 */
object SelfTest {
  def corrupt(v: Any): Option[Any] = v match {
    case rows: Array[Row] if rows.nonEmpty => Some(rows.tail)
    case s: IceLite.Snapshot =>
      val i = s.buckets.indexWhere(_.rows > 0)
      if (i < 0) None
      else Some(s.copy(buckets = s.buckets.updated(i, s.buckets(i).copy(rows = s.buckets(i).rows - 1))))
    case _ => None
  }

  def run(spark: SparkSession, work: String): Int = {
    val tracer = new Tracer(spark.sparkContext)
    var bad = 0
    for (name <- Seq("geo_query", "tile_build", "stream_ingest")) {
      val w = Workload(name, spark, seed = 7, dir = s"$work/selftest-$name", small = true)
      w.setup(tracer)
      w.prepareOracle()
      val p = new Phase(tracer)
      p.keep = true
      w.cycle(p, 0, Long.MaxValue)
      if (p.failed > 0) {
        bad += 1
        println(s"$name: the program's own results failed their checks: ${p.failures.mkString("; ")}")
      }
      var flagged = 0
      p.kept.foreach { case (kind, (result, check)) =>
        corrupt(result).foreach { c =>
          check(c) match {
            case Some(why) => flagged += 1; println(s"$name $kind: corrupted result flagged: $why")
            case None => bad += 1; println(s"$name $kind: corrupted result NOT flagged")
          }
        }
      }
      if (flagged == 0) { bad += 1; println(s"$name: no corruptible result") }
      println(s"$name: ${p.attempted} ops clean, $flagged corruptions flagged")
    }
    println(if (bad == 0) "SELFTEST OK" else s"SELFTEST FAILED ($bad problems)")
    if (bad == 0) 0 else 1
  }
}
