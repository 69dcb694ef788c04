package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec

case class Ev(uid: String, name: String, segment: String, ts: java.sql.Timestamp)

/** Structured Streaming ingest: watermarked dedup + foreachBatch
  * idempotent upsert (SURVEY §2.10). */
class StreamingIngestSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("streaming upsert: duplicates across batches collapse, updates fill") {
    val dir = Files.createTempDirectory("graft-stream").toString + "/nodes"
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Ev]
    val nodes = StreamingIngest.dedup(mem.toDF(), "uid", "ts", "10 minutes")
      .select(lit("Thing").as("label"), col("uid"), col("name"), col("segment"),
        col("ts").as("created_at"), col("ts").as("updated_at"))
    val q = nodes.writeStream
      .outputMode("update")
      .option("checkpointLocation", dir + "-ckpt")
      .foreachBatch(StreamingIngest.upsertBatch(dir, Seq("segment")) _)
      .start()
    try {
      mem.addData(
        Ev("u1", "Alpha", "S1", ts("2026-01-01 10:00:00")),
        Ev("u1", "Alpha", "S1", ts("2026-01-01 10:00:01")), // in-batch dup
        Ev("u2", "Beta", "S2", ts("2026-01-01 10:00:02")))
      q.processAllAvailable()
      val after1 = spark.read.parquet(dir)
      assert(after1.count() === 2)

      mem.addData(
        Ev("u1", "Alpha", "S9", ts("2026-01-01 10:01:00")), // cross-batch update
        Ev("u3", "Gamma", "", ts("2026-01-01 10:01:30")))
      q.processAllAvailable()
      val after2 = spark.read.parquet(dir)
      assert(after2.count() === 3)
      val u1 = after2.filter(col("uid") === "u1").head()
      assert(u1.getAs[String]("segment") === "S9") // non-empty incoming wins
      val u3 = after2.filter(col("uid") === "u3").head()
      assert(u3.getAs[String]("segment") === "")
    } finally q.stop()
  }

  test("edge sink: the store is the per-key min/max of all batches; replay is idempotent") {
    val store = Files.createTempDirectory("graft-edges").toString + "/edges"
    val b0 = Seq(("a", "b", "R", 10L, 20L), ("a", "c", "R", 5L, 5L), ("a", "b", "S", 7L, 9L))
      .toDF("src_uid", "dst_uid", "rel_type", "first_us", "last_us")
    val b1 = Seq(("a", "b", "R", 3L, 15L), ("a", "c", "R", 6L, 40L), ("d", "a", "R", 1L, 2L))
      .toDF("src_uid", "dst_uid", "rel_type", "first_us", "last_us")
    def stored() = spark.read.parquet(store)
      .select("src_uid", "dst_uid", "rel_type", "first_us", "last_us")
      .collect().map(_.toString).sorted.toSeq
    StreamingIngest.upsertEdgeBatch(store)(b0, 0L)
    StreamingIngest.upsertEdgeBatch(store)(b1, 1L)
    val expected = b0.unionByName(b1).groupBy("src_uid", "dst_uid", "rel_type")
      .agg(min("first_us").as("first_us"), max("last_us").as("last_us"))
      .collect().map(_.toString).sorted.toSeq
    val after = stored()
    assert(after === expected)
    assert(after.size === 4)
    // a checkpoint retry re-delivers batch 1: the store is unchanged
    StreamingIngest.upsertEdgeBatch(store)(b1, 1L)
    assert(stored() === after)
  }

  test("rollup sink: cross-batch partial merge equals one-pass; replay is idempotent") {
    val store = Files.createTempDirectory("graft-rollup").toString + "/rollup"
    def ev(t: String, day: String, v: Double) =
      (t, ts(s"$day 10:00:00"), v)
    val b0 = Seq(ev("click", "2026-01-01", 1.5), ev("click", "2026-01-01", 2.5),
      ev("view", "2026-01-02", 4.0)).toDF("event_type", "ts", "value")
    val b1 = Seq(ev("click", "2026-01-01", 3.0), ev("view", "2026-01-03", 0.5))
      .toDF("event_type", "ts", "value")
    StreamingIngest.rollupBatch(store)(b0, 0L)
    StreamingIngest.rollupBatch(store)(b1, 1L)
    // a checkpoint retry re-delivers batch 1: the overwrite of its own
    // partition must leave the store unchanged
    StreamingIngest.rollupBatch(store)(b1, 1L)
    val merged = spark.read.parquet(store)
      .groupBy("event_type", "d")
      .agg(sum("cnt").as("cnt"), sum("total").as("total"),
        min("vmin").as("vmin"), max("vmax").as("vmax"))
    val onePass = b0.unionByName(b1)
      .groupBy(col("event_type"), to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("value").cast("decimal(18,6)")).as("total"),
        min(col("value")).as("vmin"), max(col("value")).as("vmax"))
    val m = merged.collect().map(_.toString).sorted.toSeq
    val o = onePass.collect().map(_.toString).sorted.toSeq
    assert(m === o)
  }

  test("sketch sink: unioned cross-batch partials estimate like one-pass; replay is idempotent") {
    val store = Files.createTempDirectory("graft-sketch").toString + "/sk"
    def ev(t: String, uid: Long) = (t, uid)
    // users 1..40 on click split across batches WITH overlap (30..35 in
    // both) — union must not double-count the overlap
    val b0 = ((1L to 35L).map(ev("click", _)) ++ (1L to 10L).map(ev("view", _)))
      .toDF("event_type", "user_id")
    val b1 = ((30L to 40L).map(ev("click", _)) ++ (5L to 12L).map(ev("view", _)))
      .toDF("event_type", "user_id")
    StreamingIngest.sketchBatch(store)(b0, 0L)
    StreamingIngest.sketchBatch(store)(b1, 1L)
    // checkpoint retry: rewriting batch 1's partition changes nothing
    StreamingIngest.sketchBatch(store)(b1, 1L)
    val merged = spark.read.parquet(store)
      .groupBy("event_type")
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"),
        sum("cnt").as("cnt"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val onePass = b0.unionByName(b1).groupBy("event_type")
      .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"), 14)).as("est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // counts are exact partial sums; estimates from the union of
    // same-lgK partials match the one-shot sketch
    assert(merged("click")._2 === 46L && merged("view")._2 === 18L)
    assert(merged("click")._1 === onePass("click"))
    assert(merged("view")._1 === onePass("view"))
    // at these cardinalities the HLL estimate is exact
    assert(merged("click")._1 === 40L)
    assert(merged("view")._1 === 12L)
  }
}
