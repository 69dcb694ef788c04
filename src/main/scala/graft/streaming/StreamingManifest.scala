package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental dataset-release manifest (d42's streaming twin, wired
  * by s20): per-shard (n_docs, n_chars, content_fp) partials folded
  * per micro-batch — counts and volumes ADD, fingerprints XOR (each
  * document enters as a one-row partial beside the prior state, so a
  * batch is one aggregation). Both
  * folds are associative AND commutative, so the running manifest is
  * independent of slicing and arrival order (stronger than s19, whose
  * first-sight law needs ordered arrival). The manifest is a
  * [[StateVersions]] store, so a batch retry refolds the same v{n}
  * into the same v{n+1} (the s18 replay rule). State is O(shards) —
  * four rows — which is what makes a manifest maintainable inline with
  * a 100 TB/day ingest. */
object StreamingManifest {

  def foldBatch(stateRoot: String)(batch: DataFrame, batchId: Long): Unit = {
    val h0 = md5(concat_ws(":", col("doc_id"), lit(0)))
    val docs = batch.select(
      ((instr(lit("0123456789abcdef"), substring(h0, 1, 1)) - 1) % 4).cast("int").as("shard"),
      lit(1L).as("n_docs"),
      length(col("text")).cast("long").as("n_chars"),
      conv(substring(md5(col("text")), 1, 15), 16, 10).cast("long").as("content_fp"))
    StateVersions.fold(stateRoot, batchId, docs)(_.groupBy("shard")
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("n_chars")).as("n_chars"),
        bit_xor(col("content_fp")).as("content_fp")))
  }
}
