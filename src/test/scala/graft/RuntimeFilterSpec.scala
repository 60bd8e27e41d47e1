package graft

import org.apache.spark.sql.functions._

/** Runtime bloom-filter join pruning (Catalyst `InjectRuntimeFilter`):
  * on a shuffle join where one side carries a selective filter, the
  * optimizer builds a bloom filter over the filtered side's join keys
  * and pushes `might_contain` into the other side's SCAN — at 100 TB
  * the fact table drops non-joining rows before the shuffle instead
  * of shipping them. Free with declarative plans; this spec pins the
  * plan shape so a config regression can't silently lose it.
  *
  * The production thresholds (creation side < 10 MB, application side
  * > 10 GB) are exactly the 100 TB fact⋈dim shape; test data is far
  * below them, so the spec lowers the application-side threshold to
  * demonstrate the injection and restores every conf after.
  */
class RuntimeFilterSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.01"

  test("selective dim filter injects a bloom runtime filter into the fact scan") {
    withConf(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1", // force the shuffle-join shape
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0") {
      val fact = Tables.load(spark, sf, "lineitem")
      val dim = Tables.load(spark, sf, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"))
      val joined = fact.join(dim, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_returnflag")).agg(count(lit(1)).as("n"))
      val optimized = joined.queryExecution.optimizedPlan.toString
      assert(optimized.contains("might_contain"),
        s"expected a bloom runtime filter (might_contain) in:\n$optimized")
      // and the filtered result is still exactly the unfiltered-plan result
      val expected = Tables.load(spark, sf, "lineitem").join(
          Tables.load(spark, sf, "orders")
            .filter(col("o_orderpriority") === "1-URGENT")
            .select(col("o_orderkey")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_returnflag")).agg(count(lit(1)).as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val got = joined.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got == expected && got.nonEmpty)
    }
  }

  test("broadcast-eligible dim join does not pay the bloom filter") {
    // with broadcast enabled the small side ships whole; injecting a
    // bloom filter would be pure overhead and Catalyst skips it
    val fact = Tables.load(spark, sf, "lineitem")
    val dim = Tables.load(spark, sf, "orders")
      .filter(col("o_orderpriority") === "1-URGENT").select(col("o_orderkey"))
    val joined = fact.join(dim, col("l_orderkey") === col("o_orderkey"))
    assert(!joined.queryExecution.optimizedPlan.toString.contains("might_contain"))
  }
}
