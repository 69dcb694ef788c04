package graft.devtools

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.json4s.JObject
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods.{compact, render}

/** Dev-only plan and job differential: for each SparkEntry query whose
  * name matches one of the regexes, one JSON line: `build_jobs` (Spark
  * jobs run while the frame is built), `jobs` (those plus one
  * `collect`'s), and the optimized logical plan with expression ids,
  * plan ids and UUIDs renumbered by first appearance, and its node
  * count; or `error`. Jobs are counted on a warm repetition (caches
  * cleared), so a first read's schema inference is not charged to
  * whichever query runs first.
  * Usage: tools/run.sh graft.devtools.PlanDump <sfDir> <name-regex...>
  * (env SPARK_GRAFT_CPUS, default 4).
  */
object PlanDump {
  private val ExprId = "#\\d+".r
  private val PlanId = "(plan_id|dataframeId)=\\d+".r
  private val Uuid = "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}".r

  /** `s` with each distinct match of `re` replaced by `tag` plus its
    * rank of first appearance. */
  private def renumber(s: String, re: scala.util.matching.Regex,
                       tag: String => String): String = {
    val seen = mutable.LinkedHashMap.empty[String, Int]
    re.replaceAllIn(s, m => scala.util.matching.Regex.quoteReplacement(
      tag(m.group(0)) + seen.getOrElseUpdate(m.group(0), seen.size + 1)))
  }

  private[graft] def normalize(plan: String): String = {
    val ids = renumber(plan, ExprId, _ => "#")
    val pids = renumber(ids, PlanId, m => m.takeWhile(_ != '=') + "=")
    renumber(pids, Uuid, _ => "uuid-")
  }

  /** Counts jobs through a public listener. [[drain]] runs a sentinel job
    * in its own group and waits to see it start; the bus delivers in
    * order, so every earlier job is counted by then (`Tracer`'s drain). */
  private final class JobCount(sc: SparkContext) extends SparkListener {
    private var jobs, sentinels = 0L
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == "sentinel")) {
        sentinels += 1
        notifyAll()
      } else jobs += 1
    }
    /** The jobs started before this call. */
    def drain(): Long = {
      val target = synchronized(sentinels) + 1
      sc.setJobGroup("sentinel", "listener drain", interruptOnCancel = false)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.currentTimeMillis() + 30000
      synchronized {
        while (sentinels < target) {
          require(System.currentTimeMillis() < deadline, "listener drain timed out")
          wait(1000)
        }
        jobs
      }
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: PlanDump <sfDir> <name-regex...>")
    val filters = args.drop(1).map(_.r)
    val names = graft.SparkEntry.queries.keys.toSeq.sorted
      .filter(n => filters.exists(_.findFirstIn(n).isDefined))
    require(names.nonEmpty, s"no query matches ${args.drop(1).mkString(" ")}")
    val spark = graft.core.GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt, "graft-plandump")
    val count = new JobCount(spark.sparkContext)
    spark.sparkContext.addSparkListener(count)
    names.foreach { name =>
      val build = () => graft.SparkEntry.queries(name)(spark, args(0))
      // a query that fails is a record too, so a differential reports it
      val rec: JObject = try {
        build().collect()
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
        val j0 = count.drain()
        val df = build()
        val j1 = count.drain()
        val plan = df.queryExecution.optimizedPlan
        df.collect()
        ("build_jobs" -> (j1 - j0)) ~ ("jobs" -> (count.drain() - j0)) ~
          ("nodes" -> plan.collect { case p => p }.size) ~ ("plan" -> normalize(plan.toString))
      } catch { case e: Exception => ("error" -> String.valueOf(e.getMessage)) }
      println(compact(render(("query" -> name) ~ rec)))
    }
    spark.stop()
  }
}
