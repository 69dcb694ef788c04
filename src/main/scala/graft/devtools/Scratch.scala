package graft.devtools

import org.apache.spark.sql.Observation
import org.apache.spark.sql.functions._

import graft.core.ObservedCheckpoint

/** Dev-only micro-profiler (scratch space — contents change per
  * investigation; currently: does `observe` deliver metrics through an
  * eager `localCheckpoint` action, so iterative loops can fuse their
  * convergence fingerprint into the materialization job instead of
  * paying a second aggregate job per round?). */
object Scratch {
  def time[A](label: String)(f: => A): A = {
    val t0 = System.nanoTime(); val r = f
    println(f"$label%-28s ${(System.nanoTime() - t0) / 1e9}%.2fs"); r
  }

  def main(args: Array[String]): Unit = {
    val spark = graft.core.GraftSession.local(32, "graft-scratch")
    spark.range(1000000).selectExpr("sum(id)").collect()

    val df = spark.range(0, 100000).selectExpr("id AS u", "id % 97 AS v")
    val obs = Observation()
    val ck = df
      .observe(obs, count(lit(1)).as("n"),
        coalesce(bit_xor(xxhash64(col("u"), col("v"))), lit(0L)).as("h"))
      .localCheckpoint(true)
    // If localCheckpoint(eager) runs through withAction, the metrics
    // arrive without any further action. The wait is bounded so a miss is
    // a clean verdict, not a hang.
    val got =
      try {
        val m = ObservedCheckpoint.await(obs, concurrent.duration.Duration(10, "s"))
        println(s"observe-through-localCheckpoint: YES  $m")
        true
      } catch {
        case _: ObservedCheckpoint.ObservedMetricsTimeout =>
          println("observe-through-localCheckpoint: NO (timed out)")
          false
      }
    if (got) {
      // cross-check against a plain agg
      val r = ck.agg(count(lit(1)), bit_xor(xxhash64(col("u"), col("v")))).head()
      println(s"direct agg: n=${r.getLong(0)} h=${r.getLong(1)}")
    }
    spark.stop()
  }
}
