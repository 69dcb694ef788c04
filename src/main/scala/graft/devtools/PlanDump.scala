package graft.devtools

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.json4s._
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods.{compact, parse, render}

/** Dev-only plan and job differential: one JSON line per read, with
  * `build_jobs` (Spark jobs run while the frame is built), `jobs` (those
  * plus one `collect`'s), `compiles` (generated classes compiled during
  * the second warm repetition, so a read that recompiles on every run
  * shows), and the optimized logical plan with expression ids, plan ids
  * and UUIDs renumbered by first appearance, and its node count; or
  * `error`. Each read is built and collected once cold, then its jobs
  * are counted on two warm repetitions (caches cleared before each), so
  * a first read's schema inference is not charged to whichever query
  * runs first; when the two counts differ the record also carries
  * `"jobs_unstable": [a, b]` and `jobs` is the first. Two modes:
  * {{{
  * tools/run.sh graft.devtools.PlanDump <sfDir> <name-regex...>
  *   # each SparkEntry query whose name matches a regex
  * tools/run.sh graft.devtools.PlanDump --statements <storeDir> <file.jsonl>
  *   # each {"cypher", "params"} line through one GraphDb over the store:
  *   # a read is recorded (with its line number and "tpl", if any), a
  *   # write is applied
  * }}}
  * (env SPARK_GRAFT_CPUS, default 4; `tools/chat_statements.py` writes
  * the benchmark's chat session as such a file).
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
  private[graft] final class JobCount(sc: SparkContext) extends SparkListener {
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

  /** `build`'s record: built and collected once cold, then counted on
    * two warm repetitions. */
  private def record(spark: SparkSession, count: JobCount, build: () => DataFrame): JObject =
    try {
      build().collect()
      def warm(): (Long, Long, LogicalPlan) = {
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
        val j0 = count.drain()
        val df = build()
        val j1 = count.drain()
        val plan = df.queryExecution.optimizedPlan
        df.collect()
        (j1 - j0, count.drain() - j0, plan)
      }
      val (buildJobs, jobs, plan) = warm()
      val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val again = warm()._2
      val rec = ("build_jobs" -> buildJobs) ~ ("jobs" -> jobs) ~
        ("compiles" -> (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled)) ~
        ("nodes" -> plan.collect { case p => p }.size) ~ ("plan" -> normalize(plan.toString))
      if (again == jobs) rec else rec ~ ("jobs_unstable" -> List(jobs, again))
    } catch { case e: Exception => "error" -> String.valueOf(e.getMessage) }

  /** A JSON parameter value as the Scala value `GraphDb.query` binds. */
  private def param(v: JValue): Any = v match {
    case JString(s) => s
    case JInt(i) => i.toLong
    case JDouble(d) => d
    case JBool(b) => b
    case JArray(xs) => xs.map(param)
    case JObject(fs) => fs.map { case (k, x) => k -> param(x) }.toMap
    case _ => null
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: PlanDump <sfDir> <name-regex...> | PlanDump --statements <storeDir> <file.jsonl>")
    val spark = graft.core.GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt, "graft-plandump")
    val count = new JobCount(spark.sparkContext)
    spark.sparkContext.addSparkListener(count)
    if (args(0) == "--statements") {
      require(args.length == 3, "usage: PlanDump --statements <storeDir> <file.jsonl>")
      // one clock literal for every write, so two runs' plans compare
      val clock = () => org.apache.spark.sql.functions.lit(new java.sql.Timestamp(1700000000000L))
      val db = graft.graph.GraphDb.load(spark, args(1), clock)
      val src = scala.io.Source.fromFile(args(2), "UTF-8")
      try src.getLines().filter(_.trim.nonEmpty).zipWithIndex.foreach { case (line, i) =>
        val st = parse(line)
        val cypher = param(st \ "cypher") match {
          case c: String => c
          case _ => sys.error(s"line ${i + 1}: no \"cypher\" string")
        }
        val params = param(st \ "params") match {
          case m: Map[_, _] => m.asInstanceOf[Map[String, Any]]
          case _ => Map.empty[String, Any]
        }
        if (graft.graph.CypherWrite.isWrite(cypher)) db.query(cypher, params)
        else {
          val tpl = param(st \ "tpl") match { case t: String => Some(t); case _ => None }
          val rec = record(spark, count, () => db.query(cypher, params))
          println(compact(render(("statement" -> (i + 1)) ~ ("tpl" -> tpl) ~ rec)))
        }
      } finally src.close()
    } else {
      val filters = args.drop(1).map(_.r)
      val names = graft.SparkEntry.queries.keys.toSeq.sorted
        .filter(n => filters.exists(_.findFirstIn(n).isDefined))
      require(names.nonEmpty, s"no query matches ${args.drop(1).mkString(" ")}")
      names.foreach { name =>
        val rec = record(spark, count, () => graft.SparkEntry.queries(name)(spark, args(0)))
        println(compact(render(("query" -> name) ~ rec)))
      }
    }
    spark.stop()
  }
}
