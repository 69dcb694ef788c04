package graft.core

import scala.concurrent.Await
import scala.concurrent.duration._

import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
import org.apache.spark.sql.functions.lit

/** Eager `localCheckpoint` with aggregates observed ON the
  * materialization job — the iterative loops' per-round probe (row
  * count, convergence fingerprint) without a second job per round.
  *
  * This rides one Spark contract: `localCheckpoint(eager = true)` runs
  * through `withAction`, so the observed metrics complete with the
  * checkpoint job. If a Spark upgrade broke that, the metrics would never
  * arrive; instead of blocking forever the wait is bounded and fails with
  * [[ObservedMetricsTimeout]].
  */
object ObservedCheckpoint {

  /** Upper bound on the wait for a finished checkpoint's metrics. The
    * job has already completed when the wait starts, so only listener
    * delivery is left to wait for. */
  val MetricsWait: FiniteDuration = 60.seconds

  final class ObservedMetricsTimeout(msg: String) extends RuntimeException(msg)

  /** Checkpoint `df` and return it with its row count. */
  def count(df: DataFrame): (DataFrame, Long) = {
    val (ck, m) = aggregate(df, org.apache.spark.sql.functions.count(lit(1)).as("n"))
    (ck, m.getLong(0))
  }

  /** Checkpoint `df` and return it with the observed `metrics`, one
    * field per metric in argument order. */
  def aggregate(df: DataFrame, metric: Column, more: Column*): (DataFrame, Row) = {
    val obs = Observation()
    val ck = df.observe(obs, metric, more: _*).localCheckpoint(true)
    (ck, await(obs, MetricsWait))
  }

  /** The metrics of `obs`, observed on a checkpoint that has already
    * run, or [[ObservedMetricsTimeout]] after `wait`. */
  private[graft] def await(obs: Observation, wait: FiniteDuration): Row =
    try Await.result(obs.future, wait)
    catch {
      case _: java.util.concurrent.TimeoutException =>
        throw new ObservedMetricsTimeout(
          s"observed metrics '${obs.name}' did not arrive within $wait of " +
            "the job they were observed on; that action may no longer " +
            "complete observations")
    }
}
