package graft.graph

import scala.concurrent.duration._

import org.apache.spark.sql.Observation
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.ObservedCheckpoint

/** The loop fusion of the iterative kernels (ComponentsDF / Traversal /
  * k-core peeling) rides one Spark contract, through
  * [[ObservedCheckpoint]]: `localCheckpoint(eager = true)` executes
  * through `withAction`, so an `observe` on the checkpointed frame
  * completes WITH the materialization job — no second
  * count/fingerprint job per round. This spec pins that the observed
  * aggregates equal a direct re-aggregation of the checkpointed rows,
  * and that a missing observation fails with the helper's named error
  * after its bounded wait instead of hanging the loop.
  */
class ObservedCheckpointSpec extends SparkSpec {

  test("observe metrics complete with localCheckpoint(eager) and match a direct agg") {
    val df = spark.range(0, 50000)
      .selectExpr("id AS u", "(id * 37) % 101 AS v")
    val (ck, m) = ObservedCheckpoint.aggregate(df,
      count(lit(1)).as("n"),
      coalesce(bit_xor(xxhash64(col("u"), col("v"))), lit(0L)).as("h"))
    val r = ck.agg(count(lit(1)),
      coalesce(bit_xor(xxhash64(col("u"), col("v"))), lit(0L))).head()
    assert(m.getLong(0) === r.getLong(0))
    assert(m.getLong(1) === r.getLong(1))
  }

  test("observed count sees every row exactly once on an empty frame too") {
    val (ck, n) = ObservedCheckpoint.count(spark.range(0, 10).filter(col("id") < 0)
      .select(col("id").as("u"), col("id").as("v")))
    assert(n === 0L) // the fixpoint loops' termination test
    assert(ck.collect().isEmpty)
  }

  test("an observation that never completes fails with a named error after the wait") {
    val never = Observation("never-run") // observed on no action
    val t0 = System.nanoTime()
    val err = intercept[ObservedCheckpoint.ObservedMetricsTimeout] {
      ObservedCheckpoint.await(never, 200.millis)
    }
    assert(err.getMessage.contains("never-run"))
    assert((System.nanoTime() - t0).nanos < 30.seconds)
  }
}
