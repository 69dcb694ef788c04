package graft.etl

import org.apache.spark.sql.functions._

import graft.core.GraftSession
import graft.graph.GraphStore

/** CLI parity with the reference's three entry points (SURVEY.md §3):
  *
  * {{{
  * tools/run.sh graft.etl.EtlMain --store /tmp/graph \
  *   --schema --facilities data.json --waste-items items.csv --stats
  * tools/run.sh graft.etl.EtlMain --store /tmp/graph --reset
  * tools/run.sh graft.etl.EtlMain --store /tmp/graph --dry-run \
  *   --waste-items items.csv
  * }}}
  *
  * `--dry-run` computes the full plan + would-be stats without writing
  * (P6, `waste_items.py:329-353`).
  */
object EtlMain {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(
      cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt, appName = "graft-etl")
    try run(spark, args) finally spark.stop()
  }

  /** Session-agnostic body (specs drive this with the shared test
    * session; `main` owns session lifecycle). */
  def run(spark: org.apache.spark.sql.SparkSession, args: Array[String]): Unit = {
    val a = args.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") => k -> v
    }.toMap
    val flags = args.filter(_.startsWith("--")).toSet
    val store = a.getOrElse("--store", sys.error("--store required"))
    // one driver-side literal per run: current_timestamp() re-resolves
    // per action, so nodes and edges written by separate jobs in the
    // same run would get different created_at stamps (the store's
    // injected-clock contract exists to prevent exactly that)
    val clock = lit(new java.sql.Timestamp(System.currentTimeMillis()))
    val dry = flags("--dry-run")

    if (flags("--reset")) { Pipeline.reset(spark, store); println(s"reset: $store cleared") }
    if (flags("--schema")) {
      val rules = Pipeline.applySchema()
      println(s"schema: ${rules.size} rules registered " +
        s"(${rules.count(_.isInstanceOf[graft.graph.SchemaRegistry.UniqueConstraint])} constraints)")
    }
    a.get("--facilities").foreach { json =>
      if (dry) {
        val n = Facilities.facilityNodes(spark, json).count()
        println(s"dry-run: would import $n facilities")
      } else println(s"facilities imported: ${Pipeline.importFacilities(spark, json, store, clock)}")
    }
    a.get("--waste-items").foreach { csv =>
      if (dry) {
        val targets = WasteItems.loadTargets(spark, csv).localCheckpoint(true)
        val cls = WasteItems.classified(targets)
        val streams = WasteItems.streamNodes(cls).count()
        // a corrupt store fails the dry-run instead of reporting every
        // target as unmatched: readOr only falls back when there is no store
        val knownFacilities = GraphStore.readOr(spark, Pipeline.nodesPath(store),
            cls.select(lit("").as("label"), lit("").as("uid"), col("target").as("name")).limit(0))
          .filter(col("label") === "Facility").select("uid", "name")
        val unmatched = WasteItems.unmatchedFacilities(cls, knownFacilities)
          .collect().map(_.getString(0))
        println(s"dry-run: ${WasteItems.itemNodes(targets).count()} items, " +
          s"$streams streams needed, unmatched facilities: ${unmatched.mkString(", ")}")
      } else {
        val (items, streams, edges) = Pipeline.importWasteItems(spark, csv, store, clock)
        println(s"waste items imported: $items items, $streams streams, $edges relationships")
      }
    }
    if (flags("--stats")) {
      val st = Pipeline.stats(spark, store)
      st.labels.toSeq.sortBy(_._1).foreach { case (l, c) => println(f"  $l%-14s $c%6d") }
      println(f"  total nodes: ${st.totalNodes}; total relationships: ${st.totalEdges}")
    }
  }
}
