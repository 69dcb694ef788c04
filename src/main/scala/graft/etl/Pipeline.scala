package graft.etl

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.graph.{GraphStore, SchemaRegistry}
import graft.graph.GraphStore.{readOr, Rewrite}

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
    * Import counters (SURVEY A5) ride the commit's checkpoint job
    * ([[GraphStore.commit]]) — the distributed replacement for the
    * reference's per-row counter increments. No extra pass over the
    * store: at 100 TB a post-hoc count() is a full re-scan per metric. */
  def importFacilities(spark: SparkSession, jsonPath: String, store: String,
                       clock: Column): Long = {
    val incoming = Facilities.facilityNodes(spark, jsonPath)
      .withColumn("created_at", clock).withColumn("updated_at", clock)
    val existing = aligned(readOr(spark, nodesPath(store), incoming.limit(0)), incoming)
    val Seq((_, nodes)) = GraphStore.commit(Rewrite.nodes(
      GraphStore.upsertNodes(existing, incoming, clock, Facilities.fieldNames),
      nodesPath(store), labelCount("Facility")))
    nodes.getLong(1)
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
    val incomingEdges = WasteItems.edges(cls, facilities, clock)
    val Seq((_, nodes), (_, edges)) = GraphStore.commit(
      Rewrite.nodes(GraphStore.upsertNodes(existingNodes, scaffolded, clock, Facilities.fieldNames),
        nodesPath(store), labelCount("WasteItem"), labelCount("WasteStream")),
      Rewrite.edges(GraphStore.upsertEdges(readOr(spark, edgesPath(store), incomingEdges.limit(0)),
        incomingEdges), edgesPath(store)))
    (nodes.getLong(1), nodes.getLong(2), edges.getLong(0))
  }

  /** The number of `label` nodes in a frame, as an observable metric. */
  private def labelCount(label: String): Column =
    coalesce(sum(when(col("label") === label, 1L)), lit(0L)).as(label)

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
