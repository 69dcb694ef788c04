package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

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
  * seen, in any arrival order or slicing. State lives in versioned
  * parquet (`v{n}` written from `v{n-1}` + batch n−1), so a Spark
  * retry of batch n rewrites v{n+1} from the same deterministic
  * inputs — idempotent by construction, the same replay contract as
  * the s05/s11 upsert stores.
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
    * g49 encoding) and advance the component state one version. */
  def mergeBatch(stateRoot: String)(batch: DataFrame, batchId: Long): Unit = {
    val s = batch.sparkSession
    val incidence = batch.filter(col("event_type") === "click")
      .select((col("user_id") * 2).as("src"),
        (expr("unix_timestamp(ts) div 300") * 2 + 1).as("dst"))
      .distinct()
    val prior = new java.io.File(s"$stateRoot/v$batchId")
    val edges =
      if (prior.isDirectory)
        incidence.unionByName(s.read.schema(StateSchema).parquet(prior.toString)
          .select(col("component").as("src"), col("vid").as("dst")))
      else incidence
    graft.graph.ComponentsDF.run(edges)
      .write.mode("overwrite").parquet(s"$stateRoot/v${batchId + 1}")
  }

  /** The component state: one (vid, component) row per vertex seen.
    * Fixed, so state reads pass it instead of inferring it per batch. */
  private val StateSchema: StructType = StructType(Seq(
    StructField("vid", LongType), StructField("component", LongType)))

  /** The latest state version under `stateRoot` (the final assignment). */
  def latest(s: SparkSession, stateRoot: String): DataFrame = {
    val vs = Option(new java.io.File(stateRoot).listFiles()).toSeq.flatten
      .map(_.getName).filter(_.matches("v\\d+")).map(_.drop(1).toInt)
    require(vs.nonEmpty, s"StreamingCC: no state versions under $stateRoot")
    s.read.schema(StateSchema).parquet(s"$stateRoot/v${vs.max}")
  }
}
