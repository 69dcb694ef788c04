package graft.devtools

/** Dev-only plan differential: for each SparkEntry query whose name
  * matches one of the given regexes, print one JSON line
  * `{"query": ..., "nodes": ..., "plan": ...}` — the optimized logical
  * plan with expression ids (`#123`), plan ids and UUIDs (observation
  * names) renumbered in order of first appearance, plus its node count;
  * `{"query": ..., "error": ...}` when the query fails to build. Two
  * builds' outputs are equal line for line exactly when every selected
  * query compiles to the same optimized plan.
  *
  * Usage: tools/run.sh graft.devtools.PlanDump <sfDir> <name-regex...>
  *   e.g. `... PlanDump ../testdata/sf0.001 '^g' > plans.jsonl`
  * Env: SPARK_GRAFT_CPUS (default 4).
  *
  * Building a query's DataFrame runs its eager stages (fixpoint loops,
  * staged streams, localCheckpoints); the dumped plan is the returned
  * frame's.
  */
object PlanDump {
  private val ExprId = "#\\d+".r
  private val PlanId = "(plan_id|dataframeId)=\\d+".r
  private val Uuid = "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}".r

  /** `s` with each distinct match of `re` replaced by `tag` plus its
    * rank of first appearance. */
  private def renumber(s: String, re: scala.util.matching.Regex,
                       tag: String => String): String = {
    val seen = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    re.replaceAllIn(s, m => scala.util.matching.Regex.quoteReplacement(
      tag(m.group(0)) + seen.getOrElseUpdate(m.group(0), seen.size + 1)))
  }

  private[graft] def normalize(plan: String): String = {
    val ids = renumber(plan, ExprId, _ => "#")
    val pids = renumber(ids, PlanId, m => m.takeWhile(_ != '=') + "=")
    renumber(pids, Uuid, _ => "uuid-")
  }

  private def json(s: String): String = s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case '\t' => "\\t"; case '\r' => "\\r"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: PlanDump <sfDir> <name-regex...>")
    val sfDir = args(0)
    val filters = args.drop(1).map(_.r)
    val names = graft.SparkEntry.queries.keys.toSeq.sorted
      .filter(n => filters.exists(_.findFirstIn(n).isDefined))
    require(names.nonEmpty, s"no query matches ${args.drop(1).mkString(" ")}")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = graft.core.GraftSession.local(cpus, "graft-plandump")
    names.foreach { name =>
      // a query that fails to build is a record too, so a differential
      // reports it instead of stopping
      val rec = try {
        val plan = graft.SparkEntry.queries(name)(spark, sfDir).queryExecution.optimizedPlan
        s""""nodes": ${plan.collect { case p => p }.size}, "plan": "${json(normalize(plan.toString))}""""
      } catch { case e: Exception => s""""error": "${json(String.valueOf(e.getMessage))}"""" }
      println(s"""{"query": "$name", $rec}""")
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    }
    spark.stop()
  }
}
