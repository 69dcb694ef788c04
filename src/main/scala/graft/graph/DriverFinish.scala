package graft.graph

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** The memory rule the loop kernels ([[ComponentsDF.run]],
  * [[Traversal.reachFixpoint]], [[Traversal.reachFixpointWitness]]) use
  * to pick between their two paths. The driver finish holds the whole
  * edge input — and, for the closures, the whole result — in driver
  * heap, so it runs only while both fit `spark.sql.autoBroadcastJoinThreshold`,
  * the budget under which Spark's own planner already holds a relation
  * whole on the driver to broadcast it. A larger input or result, or any
  * input when the threshold is −1, runs the distributed loop, one Spark
  * round per iteration, whose levels can spill.
  *
  * The threshold is a memory bound, not the point where the loop starts
  * to win on time. Measured on 4 local cores, the driver finish won up
  * to the default 10 MB on every graph shape tried; above it the winner
  * depends on the kernel and the shape (BENCH_NOTES, "Loop kernels:
  * where each path wins").
  *
  * One size rule, in Catalyst's unit, the one the threshold is defined
  * in: estimate first, then the observed count. An edge input fits when
  * the optimizer's size estimate of its plan does (the number
  * `JoinSelection` compares with the threshold), and the kernel then
  * collects it without running anything first. When the estimate does
  * not fit, a kernel that observes the row count anyway on its loop's
  * first checkpoint ([[ComponentsDF.run]]) still finishes on the driver
  * if rows × [[rowBytes]] — the size Catalyst gives a relation of known
  * row count — fits, so an overestimated input never leaves the driver
  * finish for the loop.
  */
private[graph] object DriverFinish {

  /** The session's broadcast budget in bytes, or None when it is −1. */
  def budget(spark: SparkSession): Option[Long] =
    Some(spark.sessionState.conf.autoBroadcastJoinThreshold).filter(_ >= 0)

  /** True when `bytes` fits the session's broadcast budget. */
  def fits(spark: SparkSession, bytes: BigInt): Boolean =
    budget(spark).exists(bytes <= _)

  /** Catalyst's per-row size estimate for `schema` (row header plus
    * each column's default size — `EstimationUtils.getSizePerRow`). */
  def rowBytes(schema: StructType): Long = 8L + schema.map(_.dataType.defaultSize.toLong).sum
}
