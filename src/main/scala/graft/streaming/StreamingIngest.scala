package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.graph.GraphStore
import graft.graph.GraphStore.Rewrite

/** Structured Streaming ingest over the same batch upsert core
  * (SURVEY.md §2.10 — the north-star streaming extension; the reference
  * itself is batch-only).
  *
  * Design: `readStream → withWatermark + dropDuplicates(uid) →
  * foreachBatch(idempotent node upsert)`. The watermarked dedup bounds
  * state (late duplicates beyond the delay are handled by the upsert's
  * idempotency anyway — two layers, both required at scale: dedup for
  * state size, upsert for exactly-once-effect on re-delivery after
  * watermark eviction or batch replay).
  */
object StreamingIngest {

  /** Event-time dedup on (uid, ts): a redelivered event carries the same
    * timestamp and is dropped; a later *update* to the same uid has a new
    * timestamp and passes through (keying on uid alone would silently
    * swallow updates — dropDuplicates keeps only the first arrival).
    */
  def dedup(stream: DataFrame, uidCol: String, tsCol: String, delay: String): DataFrame =
    stream.withWatermark(tsCol, delay).dropDuplicates(uidCol, tsCol)

  /** The per-microbatch sink body: idempotent upsert of node-shaped rows
    * into a parquet-backed node store, read with [[GraphStore.readOr]]
    * (empty scaffold on the first batch; a read failure fails the batch,
    * which the checkpoint retries) and rewritten by [[GraphStore.commit]].
    */
  def upsertBatch(storePath: String, propCols: Seq[String])(batch: DataFrame, batchId: Long): Unit = {
    val existing = GraphStore.readOr(batch.sparkSession, storePath, batch.limit(0))
    // upsertNodes requires uid-unique incoming: reduce the microbatch to
    // latest-per-uid first (several updates can land in one batch).
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("uid").orderBy(col("updated_at").desc)
    val latest = batch.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1).drop("_rn")
    GraphStore.commit(Rewrite.flat(
      GraphStore.upsertNodes(existing, latest, current_timestamp(), propCols), storePath))
  }

  /** The aggregate-state microbatch sink (q74's partial-merge algebra
    * under streaming delivery), in the idempotent-under-replay form:
    * each batch OVERWRITES its own partial-rollup partition
    * (`store/batch=<id>`), so a checkpoint-retried batch rewrites the
    * same bytes instead of double-counting — additive folds are NOT
    * idempotent (unlike the edge sink's min/max), and per-batch
    * partition isolation is what restores exactly-once on top of them.
    * Reading the store then merges the partials by key: the
    * append-deltas, compact-on-read shape of production incremental
    * views. */
  def rollupBatch(storePath: String)(batch: DataFrame, batchId: Long): Unit =
    batch.groupBy(col("event_type"), to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("value").cast("decimal(18,6)")).as("total"),
        min(col("value")).as("vmin"), max(col("value")).as("vmax"))
      .write.mode("overwrite").parquet(s"$storePath/batch=$batchId")

  /** The sketch-state microbatch sink (a02's mergeable-HLL algebra
    * under streaming delivery): each batch overwrites its OWN
    * partition with per-key PARTIAL HLL sketches + row counts —
    * rollupBatch's idempotent-under-replay discipline with a sketch
    * payload. Compact-on-read merges with `hll_union_agg`: sketch
    * union is associative and order-free, so any batch split (or a
    * checkpoint replay, which rewrites the same bytes) yields the
    * same profile — the shape that lets 1000 executors profile
    * 100 TB/day with one pass and a few KB of state per key. */
  def sketchBatch(storePath: String)(batch: DataFrame, batchId: Long): Unit =
    batch.groupBy(col("event_type"))
      .agg(hll_sketch_agg(col("user_id"), 14).as("sk"),
        count(lit(1)).as("cnt"))
      .write.mode("overwrite").parquet(s"$storePath/batch=$batchId")

  /** CDC micro-batch apply (q63's general MERGE, incrementally): each
    * change row carries (key, full new values, op ∈ U/D, seq). The
    * store keeps per-key (values, seq, deleted) where `deleted` is a
    * TOMBSTONE, not a dropped row — with the seq gate (a change applies
    * only when its seq ≥ the stored seq) that makes the final state
    * independent of both batch ARRIVAL ORDER and REPLAY: a late-arriving
    * older update loses to the tombstone's seq instead of resurrecting
    * a deleted key, and re-applying any batch is a no-op. Dropping
    * deleted rows instead would be replay-safe but arrival-order-
    * dependent; the tombstone is what buys commutativity.
    */
  def cdcBatch(storePath: String)(batch: DataFrame, batchId: Long): Unit = {
    // the store is seeded with the base snapshot before the stream
    // starts — a missing store is a bug, not an empty state
    val existing = batch.sparkSession.read.parquet(storePath)
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("c_custkey").orderBy(col("seq").desc)
    val latest = batch.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1).drop("_rn")
    val applied = col("c.seq").isNotNull &&
      (col("b.seq").isNull || col("c.seq") >= col("b.seq"))
    val merged = existing.as("b")
      .join(latest.as("c"), Seq("c_custkey"), "full_outer")
      .select(col("c_custkey"),
        when(applied && col("c.op") === "D", lit(null).cast("string"))
          .when(applied, col("c.c_name")).otherwise(col("b.c_name"))
          .as("c_name"),
        when(applied && col("c.op") === "D", lit(null).cast("double"))
          .when(applied, col("c.c_acctbal")).otherwise(col("b.c_acctbal"))
          .as("c_acctbal"),
        when(applied, col("c.seq").cast("int")).otherwise(col("b.seq"))
          .as("seq"),
        when(applied, col("c.op") === "D")
          .otherwise(coalesce(col("b.deleted"), lit(false))).as("deleted"))
    GraphStore.commit(Rewrite.flat(merged, storePath))
  }

  /** The edge-side microbatch sink (S5's relationship MERGE under
    * streaming delivery): edges keyed (src_uid, dst_uid, rel_type)
    * carrying first/last-seen stats, merged by per-column MIN/MAX.
    * Unlike a count, min/max merges are idempotent AND associative —
    * replaying a batch or splitting it differently leaves the store
    * byte-identical, which is the only property that makes a
    * checkpoint-retried sink safe. Same read-then-overwrite path as
    * [[upsertBatch]]. */
  def upsertEdgeBatch(storePath: String)(batch: DataFrame, batchId: Long): Unit =
    GraphStore.commit(Rewrite.flat(
      GraphStore.readOr(batch.sparkSession, storePath, batch.limit(0)).unionByName(batch)
        .groupBy("src_uid", "dst_uid", "rel_type")
        .agg(min("first_us").as("first_us"), max("last_us").as("last_us")),
      storePath))
}
