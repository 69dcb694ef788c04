package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Pins the two properties s13's gate cannot distinguish from luck:
  * cdcBatch's seq-gated tombstone fold reaches the SAME final state
  * from any batch arrival order, and re-applying a batch (foreachBatch
  * replay after a sink failure) is a no-op. The gate only sees the
  * order the file source happened to list; these tests drive the fold
  * directly with adversarial orders.
  */
class StreamingCdcSpec extends SparkSpec {

  private def base: DataFrame = {
    import spark.implicits._
    Seq(
      (1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0), (4L, "d", 40.0)
    ).toDF("c_custkey", "c_name", "c_acctbal")
  }

  /** Change batches: seq1 updates keys 1,2; seq2 deletes keys 2,3;
    * seq3 re-updates key 3 (delete-then-higher-seq: must resurrect)
    * and inserts key 9. Expected final state: 1→a+1, 2 deleted,
    * 3→c3 (resurrected), 4 untouched, 9 inserted. */
  private def batches: Map[Int, DataFrame] = {
    import spark.implicits._
    def df(rows: Seq[(Long, Option[String], Option[Double], String, Int)]) =
      rows.toDF("c_custkey", "c_name", "c_acctbal", "op", "seq")
    Map(
      1 -> df(Seq((1L, Some("a1"), Some(11.0), "U", 1),
        (2L, Some("b1"), Some(21.0), "U", 1))),
      2 -> df(Seq((2L, None, None, "D", 2), (3L, None, None, "D", 2))),
      3 -> df(Seq((3L, Some("c3"), Some(33.0), "U", 3),
        (9L, Some("i"), Some(90.0), "U", 3))))
  }

  private def runOrder(order: Seq[Int], replay: Seq[Int] = Nil): Set[(Long, String, Double)] = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-cdcspec")
    try {
      val store = tmp.resolve("state").toString
      StateVersions.seed(store, base.withColumn("seq", lit(0)).withColumn("deleted", lit(false)))
      val bs = batches
      (order ++ replay).zipWithIndex.foreach { case (b, i) =>
        StreamingIngest.cdcBatch(store)(bs(b), i.toLong)
      }
      StateVersions.current(spark, store).filter(!col("deleted"))
        .select("c_custkey", "c_name", "c_acctbal")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    } finally graft.core.TempDirs.deleteQuietly(tmp, "cdcspec")
  }

  private val expected = Set(
    (1L, "a1", 11.0), (3L, "c3", 33.0), (4L, "d", 40.0), (9L, "i", 90.0))

  test("in-order apply reaches the expected state") {
    assert(runOrder(Seq(1, 2, 3)) == expected)
  }

  test("every arrival order reaches the same state (tombstone + seq gate)") {
    for (order <- Seq(1, 2, 3).permutations) {
      assert(runOrder(order) == expected, s"diverged for order $order")
    }
  }

  test("replaying batches is a no-op (foreachBatch retry safety)") {
    assert(runOrder(Seq(1, 2, 3), replay = Seq(2, 1, 3)) == expected)
    assert(runOrder(Seq(3, 1), replay = Seq(1, 1, 2)) == expected)
  }
}
