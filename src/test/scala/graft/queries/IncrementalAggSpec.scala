package graft.queries

import java.nio.file.Files

import graft.SparkSpec

/** q74's avg_price rounds HALF_UP in exact integer arithmetic and must
  * floor its integer division like the DuckDB oracle's `//`. TPC-H
  * totals are positive, so the corpus cannot tell floor from Spark's
  * truncating `div`; a negative total here can. */
class IncrementalAggSpec extends SparkSpec {
  import spark.implicits._

  test("q74: a negative average floors like the oracle's //") {
    val dir = Files.createTempDirectory("graft-q74")
    try {
      def ts(d: String) = java.sql.Timestamp.valueOf(s"$d 00:00:00")
      // June 1997 on both sides of q74's mid-month cutoff: sum -2.00006
      // over 2 orders, average -1.00003, which rounds to -1.0000 (the
      // truncating form gives -0.9999)
      Seq(("F", -1.0, ts("1997-06-02")), ("F", -1.00006, ts("1997-06-20")),
        ("O", 2.00006, ts("1997-07-01")))
        .toDF("o_orderstatus", "o_totalprice", "o_orderdate")
        .write.parquet(dir.resolve("orders.parquet").toString)
      val got = RelationalQueries.q74IncrementalAgg(spark, dir.toString)
        .select("status", "cnt", "avg_price").as[(String, Long, Double)].collect().toSeq
      assert(got === Seq(("F", 2L, -1.0), ("O", 1L, 2.0001)))
    } finally graft.core.TempDirs.deleteQuietly(dir, "q74spec")
  }

  test("q74: orders at the price type's largest magnitude average exactly") {
    val dir = Files.createTempDirectory("graft-q74")
    try {
      def ts(d: String) = java.sql.Timestamp.valueOf(s"$d 00:00:00")
      // the largest DECIMAL(18,6) price, q74's per-order type: a sum of
      // two on each side of the cutoff, and one negative
      val top = BigDecimal("999999999999.999999")
      Seq(("F", top, ts("1997-06-02")), ("F", top, ts("1997-06-20")),
        ("O", -top, ts("1997-07-01")))
        .toDF("o_orderstatus", "o_totalprice", "o_orderdate")
        .select($"o_orderstatus", $"o_totalprice".cast("decimal(18,6)"), $"o_orderdate")
        .write.parquet(dir.resolve("orders.parquet").toString)
      val got = RelationalQueries.q74IncrementalAgg(spark, dir.toString)
        .select("status", "cnt", "avg_price").as[(String, Long, Double)].collect().toSeq
      // 999999999999.999999 rounds HALF_UP to 1000000000000.0000
      assert(got === Seq(("F", 2L, 1.0e12), ("O", 1L, -1.0e12)))
    } finally graft.core.TempDirs.deleteQuietly(dir, "q74spec")
  }
}
