package graft.core

import org.apache.spark.metrics.source.CodegenMetrics

import graft.SparkSpec

/** Spark keeps compiled generated classes in one JVM-wide LRU, sized by
  * `GraftSession.local`. A working set larger than Spark's default of 100
  * entries must be compiled once, not again on every pass. */
class CodegenCacheSpec extends SparkSpec {

  test("a working set larger than Spark's default class cache compiles once") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ===
      GraftSession.CodegenCacheEntries.toString)
    // 150 projections that differ only in an inlined integer literal, so
    // each is its own generated class
    def round(): Long = {
      val before = CodegenMetrics.METRIC_SOURCE_CODE_SIZE.getCount
      (0 until 150).foreach { i =>
        spark.range(3).selectExpr(s"id * 7919 + ${1000003 + i} AS v").collect()
      }
      CodegenMetrics.METRIC_SOURCE_CODE_SIZE.getCount - before
    }
    val first = round()
    assert(first > 100, s"$first compiles: the set must outgrow Spark's default cache")
    assert(round() === 0L, "the second round recompiled classes the cache should hold")
  }
}
