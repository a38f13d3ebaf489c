package graft.sql

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** GraftFunctions.install raises the ObjectHashAggregate fallback
  * threshold only for a session that has not set it. */
class InstallConfSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val key = GraftFunctions.ObjAggFallbackKey

  test("install keeps a session's own fallback threshold") {
    val s = spark.newSession()
    s.conf.set(key, "256")
    GraftFunctions.install(s)
    assert(s.conf.get(key) == "256")
  }

  test("install raises an unset fallback threshold to 16384") {
    val s = spark.newSession()
    s.conf.unset(key)
    GraftFunctions.install(s)
    assert(s.conf.get(key) == "16384")
  }
}
