package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental connected components over a streaming edge feed via
  * star-compressed state (the streaming twin of
  * [[graft.graph.ComponentsDF]], wired by s18).
  *
  * The algebra that makes CC incrementally maintainable under edge
  * ADDITIONS: components only ever merge, and a star forest
  * (member → root) preserves BOTH the connectivity of everything seen
  * so far AND each component's minimum id (the root IS the min). So
  * per micro-batch it suffices to run CC over
  * `star(prior state) ∪ newEdges` — an input of size
  * O(vertices + batch), never O(all history) — and the result after
  * the last batch is bit-identical to batch CC over every edge ever
  * seen, in any arrival order or slicing. The state is a
  * [[StateVersions]] store (batch n folds v{n} into v{n+1}), so a
  * Spark retry of batch n refolds the same deterministic inputs — the
  * replay rule every foreachBatch sink here shares.
  *
  * At 100 TB/day the state is one row per vertex ever seen —
  * unavoidable for exact CC — and each micro-batch costs a CC run on
  * |V| + |batch| edges with O(log) star rounds; edge DELETIONS would
  * break the monotonicity and need full recompute (decremental CC has
  * no cheap exact incremental form), which is why the store is
  * add-only.
  */
object StreamingCC {

  /** foreachBatch body: fold one micro-batch of `events` rows into the
    * bipartite co-click incidence (user at 2·id, bucket at 2·b+1, the
    * g49 encoding) and advance the component state one version.
    * `ComponentsDF.run` takes duplicate edges, so the incidence keeps them. */
  def mergeBatch(stateRoot: String)(batch: DataFrame, batchId: Long): Unit = {
    val incidence = batch.filter(col("event_type") === "click")
      .select((col("user_id") * 2).as("src"),
        (expr("unix_timestamp(ts) div 300") * 2 + 1).as("dst"))
    val prior = StateVersions.read(batch.sparkSession, stateRoot, batchId,
      incidence.select(col("dst").as("vid"), col("src").as("component")).limit(0))
    StateVersions.write(stateRoot, batchId, graft.graph.ComponentsDF.run(
      incidence.unionByName(prior.select(col("component").as("src"), col("vid").as("dst")))))
  }
}
