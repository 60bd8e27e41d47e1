package graft

import org.apache.spark.metrics.source.CodegenMetrics

import graft.operators.Dedup

/** Generated code is compiled once per JVM: after one warm-up pass of the
  * four near-dup families, a second identical pass must be served wholly
  * from Spark's codegen cache. It fails when the session's cache is
  * smaller than the pass's working set (LRU evicts each class before the
  * next pass reuses it; `GraftSession.CodegenCacheEntries`), and when an
  * operator starts generating per-call code, such as a literal that
  * changes from call to call.
  */
class CodegenCacheSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def nearDupPass(): Unit = {
    Dedup.minhashDupGroups(spark, sf).collect()
    Dedup.simhashNearDups(spark, sf).collect()
    Dedup.dupGroupKeepBest(spark, sf).collect()
    Dedup.embeddingNearDupsIndexed(spark, sf, 0.95).collect()
  }

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("a repeated near-dup pass compiles no generated class") {
    // earlier suites in this JVM may have compiled some of these already
    val warm0 = compiles
    nearDupPass()
    val warmCompiles = compiles - warm0
    val c0 = compiles
    nearDupPass()
    assert(compiles == c0, s"the second pass recompiled ${compiles - c0} classes " +
      s"(warm-up compiled $warmCompiles; cache maxEntries " +
      s"${spark.conf.get("spark.sql.codegen.cache.maxEntries")})")
  }
}
