package graft.graph

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{ObservedCheckpoint, Tables}

/** Property-graph storage on columnar tables (SURVEY.md §1.4).
  *
  * The reference keeps a Neo4j labeled property graph
  * (`schema.cql:1-10`) and writes one node/edge per driver round-trip
  * (`facilities.py:104-135`). Here the graph is two parquet table
  * families — nodes partitioned by `label`, edges partitioned by
  * `rel_type` — so every reference query becomes a set-oriented scan
  * with partition pruning instead of N round-trips.
  *
  * Scale notes: partitioning by label/rel_type makes `MATCH (n:Label)`
  * and `[:REL]` filters prune files before any IO; node/edge uids are
  * deterministic (graft.core.Uid) so upserts are idempotent joins, and
  * repeated traversal joins can be co-located by bucketing on uid.
  *
  * One commit rule: every rewrite of a stored table (the ETL imports,
  * `GraphDb.save`, the streaming sinks) reads it with [[readOr]] and
  * writes it back with [[commit]].
  */
object GraphStore {

  /** Idempotent batch node upsert — the Cypher `MERGE` contract
    * (`facilities.py:109-135`) as one full-outer join:
    *   - key match → update: per-property, a non-empty incoming value
    *     wins, else the existing value survives (F11 semantics,
    *     `facilities.py:120-124`); `created_at` is preserved.
    *   - no existing → insert with created_at = updated_at = `clock`.
    *
    * `clock` is injected (not `current_timestamp()`) so re-runs are
    * byte-identical — SURVEY §7 hard-part 4.
    */
  def upsertNodes(existing: DataFrame, incoming: DataFrame, clock: Column,
                  propCols: Seq[String]): DataFrame = {
    val e = existing.as("e")
    val i = incoming.as("i")
    // key = (label, uid): uid is sha256(name) with no label component
    // (the reference's F1 contract, byte-identical), and Neo4j's MERGE
    // is per-label — keying on uid alone would collide a WasteItem and
    // a Facility sharing a name into one corrupted row
    val merged = e.join(i,
      col("e.uid") === col("i.uid") && col("e.label") === col("i.label"), "full_outer")
    val isNew = col("e.uid").isNull
    // ON CREATE: incoming verbatim (even empty, facilities.py:113-118);
    // ON MATCH: non-empty incoming wins, else keep (F11, :120-124).
    def pick(c: String): Column =
      when(isNew, col(s"i.$c"))
        .when(col(s"i.$c").isNotNull && trim(col(s"i.$c").cast("string")) =!= "", col(s"i.$c"))
        .otherwise(col(s"e.$c")).as(c)
    merged.select(
      Seq(
        coalesce(col("e.label"), col("i.label")).as("label"),
        coalesce(col("e.uid"), col("i.uid")).as("uid"),
        pick("name")) ++
      propCols.map(pick) ++
      Seq(
        coalesce(col("e.created_at"), clock).as("created_at"),
        when(col("i.uid").isNotNull, clock).otherwise(col("e.updated_at")).as("updated_at")): _*)
  }

  /** Idempotent edge upsert: union + drop duplicate (src,dst,rel_type)
    * — edge identity, the `waste_items.py:383-419` MERGE key — keeping
    * the earliest created_at (re-runs don't churn timestamps).
    */
  def upsertEdges(existing: DataFrame, incoming: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("src_uid", "dst_uid", "rel_type").orderBy("created_at")
    existing.unionByName(incoming)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn")
  }

  /** get_stats parity (`neo4j_db.py:122-148`) in ONE job instead of the
    * reference's per-label query loop: per-label node counts + totals.
    */
  def stats(nodes: DataFrame, edges: DataFrame): DataFrame = {
    val perLabel = nodes.groupBy(col("label")).agg(count(lit(1)).as("cnt"))
    val totalNodes = nodes.groupBy(lit("_total_nodes").as("label")).agg(count(lit(1)).as("cnt"))
    val totalEdges = edges.groupBy(lit("_total_relationships").as("label")).agg(count(lit(1)).as("cnt"))
    perLabel.unionByName(totalNodes).unionByName(totalEdges).orderBy("label")
  }

  /** Constraint validation — Neo4j uniqueness constraints
    * (`schema.cql:18-98`) become assertions since Spark has no enforced
    * index: returns (constraint_name, total, distinct, ok) per label.
    */
  def validateUnique(nodes: DataFrame, keyCol: String = "uid"): DataFrame =
    nodes.groupBy("label").agg(
      count(lit(1)).as("total"),
      countDistinct(col(keyCol)).as("distinct_keys"))
      .withColumn("ok", col("total") === col("distinct_keys"))
      .orderBy("label")

  /** 1-hop pattern join (J5, `etl_implementation.md:243-246`):
    * `MATCH (s)-[r]->(d) RETURN s.name, type(r), d.label, d.name`.
    */
  def expand(nodes: DataFrame, edges: DataFrame): DataFrame =
    edges
      .join(nodes.select(col("uid").as("src_uid"), col("name").as("src_name")), "src_uid")
      .join(nodes.select(col("uid").as("dst_uid"), col("name").as("dst_name")), "dst_uid")
      .select(col("src_name"), col("rel_type"), col("dst_label"), col("dst_name"))

  /** Negated-pattern anti-join (J6): nodes with no outgoing edge of the
    * given types (`etl_implementation.md:237-238` orphan check).
    */
  def orphans(nodes: DataFrame, edges: DataFrame, relTypes: Seq[String]): DataFrame =
    nodes.join(
      edges.filter(col("rel_type").isin(relTypes: _*)).select(col("src_uid").as("uid")).distinct(),
      Seq("uid"), "left_anti")

  /** Reads go through [[graft.core.Tables.parquet]]: an unchanged store
    * reuses its inferred schema instead of running a footer job per read. */
  def readNodes(spark: SparkSession, path: String): DataFrame = Tables.parquet(spark, path)
  def readEdges(spark: SparkSession, path: String): DataFrame = Tables.parquet(spark, path)

  /** The stored table at `path`, or `scaffold` when there is none. An
    * existence check, NOT a catch-all: a read error handed back as the
    * scaffold would be committed over the store, so it fails the caller. */
  def readOr(spark: SparkSession, path: String, scaffold: DataFrame): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path)
    if (p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)) Tables.parquet(spark, path)
    else scaffold
  }

  /** One table a [[commit]] rewrites: its new contents, its path, its
    * partition column and the counters its checkpoint observes. */
  final class Rewrite private (val frame: DataFrame, val path: String,
                               val partitionBy: Option[String], val counters: Seq[Column])

  /** The store layout (SURVEY §4): nodes partition by label, edges by
    * rel_type, so `MATCH (:Label)` / `[:REL]` predicates prune files
    * before any IO — the columnar replacement for Neo4j's label/type
    * indexes. At cluster scale add `.bucketBy(n, "uid")` (table format
    * permitting) to co-locate repeated traversal joins. */
  object Rewrite {
    def nodes(frame: DataFrame, path: String, counters: Column*): Rewrite =
      new Rewrite(frame, path, Some("label"), counters)
    def edges(frame: DataFrame, path: String, counters: Column*): Rewrite =
      new Rewrite(frame, path, Some("rel_type"), counters)
    /** A table with no partition layout (a streaming sink's state). */
    def flat(frame: DataFrame, path: String): Rewrite = new Rewrite(frame, path, None, Nil)
  }

  /** Overwrite the tables of one step. The frames usually read the paths
    * they replace, and Spark deletes a path before its write job runs, so
    * ALL frames are checkpointed first (one job each, observing the row
    * count and the counters), then each path is overwritten. A table with
    * no rows is written unpartitioned, so it reads back with its schema.
    * Returns each table as written with its metrics (rows, counters...). */
  def commit(tables: Rewrite*): Seq[(DataFrame, Row)] = {
    val done = tables.map(t =>
      ObservedCheckpoint.aggregate(t.frame, count(lit(1)).as("rows"), t.counters: _*))
    tables.zip(done).foreach { case (t, (ck, m)) =>
      val w = if (m.getLong(0) == 0) ck.write else t.partitionBy.fold(ck.write)(ck.write.partitionBy(_))
      w.mode("overwrite").parquet(t.path)
    }
    done
  }

  /** The 100 TB layout (SURVEY §4 "bucketing node/edge tables by uid"):
    * nodes bucketed+sorted by `uid`, edges by `src_uid`, same bucket
    * count. A hop join (edges.src_uid = nodes.uid) then plans as a
    * sort-merge join with NO Exchange on either side — the shuffle was
    * paid once at write time, and every subsequent MATCH / expand /
    * fixpoint iteration over the stored graph is exchange-free
    * (BucketedStoreSpec pins this on the physical plan). On a
    * 1000-executor cluster this is the difference between one shuffle
    * per traversal step and none.
    */
  def writeNodesBucketed(nodes: DataFrame, table: String, buckets: Int = 32): Unit =
    nodes.write.mode("overwrite").format("parquet")
      .bucketBy(buckets, "uid").sortBy("uid").saveAsTable(table)

  def writeEdgesBucketed(edges: DataFrame, table: String, buckets: Int = 32): Unit =
    edges.write.mode("overwrite").format("parquet")
      .bucketBy(buckets, "src_uid").sortBy("src_uid").saveAsTable(table)

  def readTable(spark: SparkSession, table: String): DataFrame = spark.table(table)
}
