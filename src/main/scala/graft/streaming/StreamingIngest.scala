package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.graph.GraphStore

/** Structured Streaming ingest over the same batch upsert core
  * (SURVEY.md §2.10 — the north-star streaming extension; the reference
  * itself is batch-only).
  *
  * Design: `readStream → withWatermark + dropDuplicates(uid) →
  * foreachBatch(idempotent node upsert)`. The watermarked dedup bounds
  * state (late duplicates beyond the delay are handled by the upsert's
  * idempotency anyway — two layers, both required at scale: dedup for
  * state size, upsert for exactly-once-effect on re-delivery after
  * watermark eviction or batch replay). Every sink's store is a
  * [[StateVersions]] store: batch n folds v{n} into v{n+1}, so a
  * replayed batch refolds the same prior instead of its own output.
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
    * into a parquet-backed node store (empty before the first batch). */
  def upsertBatch(storePath: String, propCols: Seq[String])(batch: DataFrame, batchId: Long): Unit = {
    val existing = StateVersions.read(batch.sparkSession, storePath, batchId, batch.limit(0))
    // upsertNodes requires uid-unique incoming: reduce the microbatch to
    // latest-per-uid first (several updates can land in one batch).
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("uid").orderBy(col("updated_at").desc)
    val latest = batch.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1).drop("_rn")
    StateVersions.write(storePath, batchId,
      GraphStore.upsertNodes(existing, latest, current_timestamp(), propCols))
  }

  /** The aggregate-state microbatch sink (q74's partial-merge algebra
    * under streaming delivery): per (event_type, day) the state keeps
    * count, decimal sum, min and max, and each batch folds its rows into
    * it — counts and sums add, min/max fold. The sum's type is cast back
    * after each fold, so every version has one schema. Additive folds
    * are not idempotent by themselves (unlike the edge sink's min/max);
    * the versioned store is what keeps a replayed batch from counting
    * twice. */
  def rollupBatch(storePath: String)(batch: DataFrame, batchId: Long): Unit = {
    val rows = batch.select(col("event_type"), to_date(col("ts")).as("d"),
      lit(1L).as("cnt"), col("value").cast("decimal(18,6)").as("total"),
      col("value").as("vmin"), col("value").as("vmax"))
    StateVersions.fold(storePath, batchId, rows)(_.groupBy("event_type", "d")
      .agg(sum("cnt").as("cnt"), sum("total").cast("decimal(28,6)").as("total"),
        min("vmin").as("vmin"), max("vmax").as("vmax")))
  }

  /** The sketch-state microbatch sink (a02's mergeable-HLL algebra
    * under streaming delivery): per key the state keeps one HLL sketch
    * and a row count, and each batch unions its PARTIAL sketches into
    * it with `hll_union_agg`. Sketch union is associative and
    * order-free, so any batch split (or a replayed batch, which refolds
    * the same prior) yields the same profile — the shape that lets 1000
    * executors profile 100 TB/day with one pass and a few KB of state
    * per key. */
  def sketchBatch(storePath: String)(batch: DataFrame, batchId: Long): Unit =
    StateVersions.fold(storePath, batchId, batch.groupBy(col("event_type"))
      .agg(hll_sketch_agg(col("user_id"), 14).as("sk"), count(lit(1)).as("cnt")))(
      _.groupBy("event_type").agg(hll_union_agg(col("sk")).as("sk"), sum("cnt").as("cnt")))

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
    // the store is seeded with the base snapshot as version 0 before the
    // stream starts — a missing store is a bug, not an empty state
    val existing = StateVersions.read(batch.sparkSession, storePath, batchId,
      sys.error(s"cdcBatch: no seeded snapshot under $storePath"))
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
    StateVersions.write(storePath, batchId, merged)
  }

  /** The edge-side microbatch sink (S5's relationship MERGE under
    * streaming delivery): edges keyed (src_uid, dst_uid, rel_type)
    * carrying first/last-seen stats, merged by per-column MIN/MAX.
    * Unlike a count, min/max merges are idempotent AND associative —
    * replaying a batch or splitting it differently leaves the store
    * byte-identical, which is the only property that makes a
    * checkpoint-retried sink safe. */
  def upsertEdgeBatch(storePath: String)(batch: DataFrame, batchId: Long): Unit =
    StateVersions.fold(storePath, batchId, batch)(_.groupBy("src_uid", "dst_uid", "rel_type")
      .agg(min("first_us").as("first_us"), max("last_us").as("last_us")))
}
