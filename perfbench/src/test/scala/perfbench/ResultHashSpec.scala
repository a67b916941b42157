package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class ResultHashSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.driver.host", "127.0.0.1")
    .config("spark.driver.bindAddress", "127.0.0.1")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def sample = spark.range(0, 500).select(
    col("id"), (col("id") % 7).as("k"), (col("id") / 3.0).as("x"),
    concat(lit("s"), col("id").cast("string")).as("s"),
    array(col("id"), col("id") + 1).as("a"),
    map(lit("m"), col("id")).as("m"))

  test("the digest does not change with row order or partitioning") {
    val base = ResultHash.of(sample)
    assert(base._1 == 500)
    assert(ResultHash.of(sample.orderBy(col("id").desc)) == base)
    assert(ResultHash.of(sample.repartition(7)) == base)
    assert(ResultHash.of(sample.coalesce(1)) == base)
    assert(ResultHash.of(sample.repartition(3, col("k")).sortWithinPartitions("x")) == base)
  }

  test("the digest sees every column and duplicate rows") {
    val base = ResultHash.of(sample)
    assert(ResultHash.of(sample.withColumn("s", when(col("id") === 42, lit("t")).otherwise(col("s")))) != base)
    assert(ResultHash.of(sample.withColumn("x", col("x") + 1e-9)) != base)
    assert(ResultHash.of(sample.drop("m")) != base)
    // a duplicated row changes both the count and the digest
    val dup = ResultHash.of(sample.union(sample.limit(1)))
    assert(dup._1 == 501 && dup._2 != base._2)
  }

  test("duplicate column names and empty results hash") {
    val df = spark.range(3).select(col("id"), col("id"))
    assert(ResultHash.of(df)._1 == 3)
    assert(ResultHash.of(sample.filter(lit(false))) == (0L, "0:0000000000000000"))
  }
}
