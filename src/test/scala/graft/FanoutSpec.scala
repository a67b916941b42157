package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Tables.fanout gate logic: repartition fires only for a degenerate
  * (fewer-partitions-than-parallelism) scan whose size estimate is both
  * KNOWN and at least spark.graft.fanout.minBytes; keyed fanout must be
  * absorbed by a downstream aggregation on the same keys (one exchange
  * total). Uses its own session, derived with newSession() from the
  * shared one, so the minBytes conf and tiny-threshold experiments cannot
  * leak into the shared-suite session.
  */
class FanoutSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.session.newSession()

  private def withMinBytes[A](v: Long)(body: => A): A =
    ConfWindow.withConf(spark, "spark.graft.fanout.minBytes" -> v.toString)(body)

  private def scanDf = Tables.lineitem(spark, "/root/testdata/sf0.001")
    .select("l_orderkey", "l_partkey")

  test("fanout is the identity below the size threshold") {
    val df = scanDf // sf0.001 lineitem is ~100 kB — far below the default 2 MB
    val out = Tables.fanout(df)
    assert(out.queryExecution.optimizedPlan eq df.queryExecution.optimizedPlan,
      "sub-threshold input must come back untouched")
  }

  test("fanout spreads a degenerate scan when the estimate clears the threshold") {
    withMinBytes(1L) {
      val out = Tables.fanout(scanDf)
      assert(out.rdd.getNumPartitions ==
        spark.sparkContext.defaultParallelism,
        "above-threshold degenerate scan must fan to defaultParallelism")
    }
  }

  test("keyed fanout is absorbed by the downstream aggregation (one exchange)") {
    withMinBytes(1L) {
      val agg = Tables.fanout(scanDf, col("l_orderkey"))
        .groupBy("l_orderkey").agg(count(lit(1)).as("n"))
      val p = agg.queryExecution.executedPlan.toString
      val exchanges = "Exchange".r.findAllIn(p).length
      assert(exchanges == 1,
        s"groupBy must reuse the fanout exchange, found $exchanges:\n$p")
      assert(p.contains("hashpartitioning(l_orderkey"),
        "fanout must hash by the aggregation key")
    }
  }

  test("tiny checkpointed inputs are not fanned under the default threshold") {
    // Spark 4's LogicalRDD propagates ORIGIN stats through
    // localCheckpoint, so a small checkpointed frame (q151's ~1.6k-row
    // bucket tables) estimates small and stays untouched under the
    // default 2 MB gate; the Long.MaxValue/4 sentinel guard in
    // shouldFan additionally covers RDD-backed frames without origin
    // stats.
    val ck = scanDf.limit(50).localCheckpoint()
    try {
      val out = Tables.fanout(ck, col("l_orderkey"))
      assert(out.queryExecution.optimizedPlan eq ck.queryExecution.optimizedPlan,
        "tiny checkpointed frame must not fan under the default threshold")
    } finally ck.unpersist(blocking = false)
  }

  test("fanout preserves the exact row multiset") {
    withMinBytes(1L) {
      val base = scanDf
      val a = base.groupBy("l_orderkey").agg(sum("l_partkey").as("s"))
        .orderBy("l_orderkey").collect()
      val b = Tables.fanout(base).groupBy("l_orderkey")
        .agg(sum("l_partkey").as("s")).orderBy("l_orderkey").collect()
      assert(a.sameElements(b))
    }
  }
}
