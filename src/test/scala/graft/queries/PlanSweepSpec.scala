package graft.queries

import graft.{SparkEntry, SparkSpec}

/** Whole-surface sweep: every registered query must run at the smoke
  * scale factor, and none may plan an unbroadcast cartesian product —
  * the one join shape that cannot survive any scale-up. (Broadcast
  * nested-loop against a deliberately tiny side, as in the kNN scoring
  * queries, is fine — the blocked shape is CartesianProduct, where both
  * sides are unbounded.)
  */
class PlanSweepSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** Each query's sorted rows from the sweep, reused as run 1 of the
    * determinism comparison so a query runs twice per suite, not three
    * times. Empty when the sweep did not run (e.g. under `-z`). */
  private val swept = scala.collection.mutable.Map.empty[String, Seq[String]]

  test("all queries execute and none plans a cartesian product") {
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val res =
        try {
          val df = fn(spark, dir)
          swept(name) = df.collect().map(_.toString).toSeq.sorted
          val plan = df.queryExecution.executedPlan.toString
          if (plan.contains("CartesianProduct")) Some(s"$name: CartesianProduct in plan")
          else None
        } catch {
          case e: Throwable => Some(s"$name: ${e.getClass.getSimpleName} ${e.getMessage}")
        }
      // free checkpoint/cache blocks so the sweep doesn't accumulate
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      res
    }
    assert(failures.isEmpty, s"\n${failures.mkString("\n")}")
  }

  test("the flagship entry query returns rows (driver smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query is run-to-run deterministic (the oracle hash contract)") {
    // clear the Dataset CacheManager too, or a query that cache()s
    // internally serves run 2 from run 1's cache and the determinism
    // comparison proves nothing
    def release(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    }
    release()
    val diffs = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      def run(): Seq[String] = {
        val rows = fn(spark, dir).collect().map(_.toString).toSeq.sorted
        release()
        rows
      }
      val a = swept.getOrElse(name, run())
      val b = run()
      if (a == b) None
      else Some(s"$name: ${a.size} vs ${b.size} rows, first diff: " +
        a.zip(b).find { case (x, y) => x != y }.orElse(Some(("size", "mismatch"))).get)
    }
    assert(diffs.isEmpty, s"\n${diffs.mkString("\n")}")
  }
}
