package graft.etl

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{ObservedCheckpoint, Tables}
import graft.graph.{GraphStore, SchemaRegistry}

/** End-to-end ETL orchestration — the reference's three entry points
  * (`facilities.py` phase 1, `waste_items.py` phase 2,
  * `init_db.py --reset/--schema/--stats`, SURVEY.md §3) as one
  * set-oriented pipeline over a parquet-backed GraphStore directory.
  *
  * Idempotent by construction: node upserts key on deterministic uids,
  * edge upserts dedup on (src, dst, rel_type), and re-running any phase
  * changes nothing (the reference's MERGE contract).
  */
object Pipeline {

  case class Stats(labels: Map[String, Long], totalNodes: Long, totalEdges: Long)

  private[etl] def nodesPath(store: String) = s"$store/nodes"
  private def edgesPath(store: String) = s"$store/edges"

  /** Existence check, NOT a catch-all: swallowing a transient read
    * error would hand back the empty scaffold and the phase's final
    * overwrite would wipe the store. A real read failure must fail the
    * run. */
  private[etl] def readOr(spark: SparkSession, path: String, scaffold: DataFrame): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) Tables.parquet(spark, path) else scaffold
  }

  /** Align a stored frame to the expected column ORDER by name (the
    * partitioned store moves `label` to the end on read). Same column
    * set in a different order → reorder; anything else → fail loudly.
    * (Silently substituting an empty scaffold here would make the
    * subsequent overwrite erase the store.) */
  private def aligned(existing: DataFrame, expected: DataFrame): DataFrame =
    if (existing.columns.sameElements(expected.columns)) existing
    else if (existing.columns.sorted.sameElements(expected.columns.sorted))
      existing.select(expected.columns.toIndexedSeq.map(col): _*)
    else sys.error(s"store schema [${existing.columns.mkString(",")}] does not match " +
      s"expected [${expected.columns.mkString(",")}] — refusing to overwrite")

  /** `init_db --schema`: parse + validate the built-in DDL registry.
    * Returns the registry (idempotent; reference `init_db.py:23-66`). */
  def applySchema(): Seq[SchemaRegistry.Rule] = SchemaRegistry.builtin

  /** `init_db --reset`: truncate the store (S6, `neo4j_db.py:151-158`). */
  def reset(spark: SparkSession, store: String): Unit = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(store).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(store), true)
  }

  /** Phase 1 (`facilities.py`): JSON → dedup-merge → Facility node
    * upsert. Returns facilities imported.
    *
    * Import counters (SURVEY A5) ride the write job via `observe` —
    * the distributed replacement for the reference's per-row counter
    * increments. No extra pass over the store: at 100 TB a post-hoc
    * count() is a full re-scan per metric. The wait for the observed
    * counters is bounded ([[ObservedCheckpoint.await]]), so a lost
    * listener event fails the import instead of hanging it. */
  def importFacilities(spark: SparkSession, jsonPath: String, store: String,
                       clock: Column): Long = {
    val incoming = Facilities.facilityNodes(spark, jsonPath)
      .withColumn("created_at", clock).withColumn("updated_at", clock)
    val existing = aligned(readOr(spark, nodesPath(store), incoming.limit(0)), incoming)
    val merged = GraphStore.upsertNodes(existing, incoming, clock, Facilities.fieldNames)
      .localCheckpoint(true)
    val obs = org.apache.spark.sql.Observation()
    GraphStore.writeNodes(merged.observe(obs,
      coalesce(sum(when(col("label") === "Facility", 1L)), lit(0L)).as("facilities")),
      nodesPath(store)) // label-partitioned
    counters(obs).getLong(0)
  }

  /** Phase 2 (`waste_items.py`): CSV → parse/classify → WasteItem +
    * WasteStream nodes, DISPOSED_IN/DISPOSED_AT edges. Returns
    * (items, streams, edges) counts. */
  def importWasteItems(spark: SparkSession, csvPath: String, store: String,
                       clock: Column): (Long, Long, Long) = {
    val targets = WasteItems.loadTargets(spark, csvPath).localCheckpoint(true)
    val cls = WasteItems.classified(targets).localCheckpoint(true)

    // node upsert: items + streams (name-only nodes; facility prop
    // columns null for them)
    val newNodes = WasteItems.itemNodes(targets).unionByName(WasteItems.streamNodes(cls))
    val scaffolded = Facilities.fieldNames.foldLeft(newNodes)((d, c) =>
      d.withColumn(c, lit(null).cast("string")))
      .withColumn("created_at", clock).withColumn("updated_at", clock)

    // a store with no prior facilities import is fine (the reference
    // warns, not fails: DISPOSED_IN edges need no facilities at all)
    val existingNodes =
      aligned(readOr(spark, nodesPath(store), scaffolded.limit(0)), scaffolded)
    val facilities = existingNodes.filter(col("label") === "Facility")
      .select("uid", "name")
    // materialize BOTH merge results before any overwrite — every plan
    // below reads the paths being rewritten (read-then-overwrite hazard)
    val mergedNodes = GraphStore.upsertNodes(existingNodes, scaffolded, clock, Facilities.fieldNames)
      .localCheckpoint(true)
    val incomingEdges = WasteItems.edges(cls, facilities, clock)
    val existingEdges = readOr(spark, edgesPath(store), incomingEdges.limit(0))
    val mergedEdges = GraphStore.upsertEdges(existingEdges, incomingEdges).localCheckpoint(true)

    // counters ride the two write jobs (observe), not three extra scans
    val nodeObs = org.apache.spark.sql.Observation()
    val edgeObs = org.apache.spark.sql.Observation()
    GraphStore.writeNodes(mergedNodes.observe(nodeObs,
      coalesce(sum(when(col("label") === "WasteItem", 1L)), lit(0L)).as("items"),
      coalesce(sum(when(col("label") === "WasteStream", 1L)), lit(0L)).as("streams")),
      nodesPath(store)) // label-partitioned
    GraphStore.writeEdges(mergedEdges.observe(edgeObs, count(lit(1)).as("edges")),
      edgesPath(store)) // rel_type-partitioned

    val nodeCounts = counters(nodeObs)
    (nodeCounts.getLong(0), nodeCounts.getLong(1), counters(edgeObs).getLong(0))
  }

  /** The counters observed on a finished write job, in `observe` order. */
  private def counters(obs: org.apache.spark.sql.Observation) =
    ObservedCheckpoint.await(obs, ObservedCheckpoint.MetricsWait)

  /** `init_db --stats` (`neo4j_db.py:122-148`): label counts from one
    * aggregation plus an edge count, two jobs each (AQE runs the shuffle
    * stage as its own job). Right after an import it runs 6 jobs: the
    * rewritten node and edge directories each need a schema-inference
    * job first; on an unchanged store it runs 4. */
  def stats(spark: SparkSession, store: String): Stats = {
    val nodes = readOr(spark, nodesPath(store),
      spark.emptyDataFrame.withColumn("label", lit("")))
    val edges = readOr(spark, edgesPath(store),
      spark.emptyDataFrame.withColumn("rel_type", lit("")))
    val labels = nodes.groupBy("label").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    Stats(labels, labels.values.sum, edges.count())
  }
}
