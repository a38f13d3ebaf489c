package graft.sql

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** topk_pairs over STRING ids read straight from a parquet scan and from a
  * shuffle read. Both readers hand the aggregate rows whose buffers they
  * reuse for the next row, so a buffered id must be a copy; the result
  * must equal the `row_number() ≤ K` window it replaces. */
class TopKPairsSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val K = 5

  lazy val tmp: java.nio.file.Path = java.nio.file.Files.createTempDirectory("topk_pairs")

  lazy val path: String = {
    val dir = s"$tmp/t.parquet"
    spark.range(0, 50000, 1, 4)
      .select((col("id") % 8).as("g"),
        (pmod(xxhash64(col("id")), lit(1000003L)) / 1000003.0).as("o"),
        concat(lit("id-"), col("id").cast("string"), lit("-"),
          expr("repeat('x', cast(id % 7 as int))")).as("id"))
      .write.parquet(dir)
    dir
  }

  override def afterAll(): Unit =
    if (java.nio.file.Files.exists(tmp)) java.nio.file.Files.walk(tmp)
      .sorted(java.util.Comparator.reverseOrder()).forEach(java.nio.file.Files.delete(_))

  def viaTopK(df: DataFrame): Set[(Long, Int, Double, String)] =
    df.groupBy("g")
      .agg(call_function("topk_pairs", col("o"), col("id"), lit(K)).as("tk"))
      .select(col("g"), posexplode(col("tk")))
      .collect().map(r => (r.getLong(0), r.getInt(1) + 1,
        r.getStruct(2).getDouble(0), r.getStruct(2).getString(1))).toSet

  def viaWindow(df: DataFrame): Set[(Long, Int, Double, String)] =
    df.withColumn("rank", row_number().over(Window.partitionBy("g").orderBy("o", "id")))
      .where(col("rank") <= K)
      .collect().map(r => (r.getLong(0), r.getInt(3), r.getDouble(1), r.getString(2))).toSet

  test("topk_pairs over string ids from a parquet scan equals the row_number window") {
    GraftFunctions.install(spark)
    val df = spark.read.parquet(path)
    val want = viaWindow(df)
    assert(want.size == 8 * K)
    assert(viaTopK(df) == want)
  }

  test("topk_pairs over string ids from a shuffle read equals the row_number window") {
    GraftFunctions.install(spark)
    val df = spark.read.parquet(path).repartition(3)
    assert(viaTopK(df) == viaWindow(spark.read.parquet(path)))
  }
}
