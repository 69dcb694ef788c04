package graft.graph

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference's `Neo4jDatabase` facade (`/root/reference/src/db/
  * neo4j_db.py:20-160`) re-expressed engine-side: ONE object that holds
  * the graph state and routes `query(cypher, params)` — reads compile
  * through [[CypherFrontend]] to DataFrame plans, `MERGE` templates
  * through [[CypherWrite]] to whole-batch [[GraphStore]] upserts that
  * replace the held frames. A user of the reference can port their
  * call sites verbatim:
  *
  *   - `query(cypher, params)` — the arbitrary-Cypher entry point
  *     (`neo4j_db.py:93-106`). Write templates accept the reference's
  *     per-item params dict (one-row bind) or, the set-oriented form,
  *     a whole params DataFrame via [[merge]] — one distributed upsert
  *     job for the batch instead of a driver round-trip per row.
  *   - `getStats` — per-label node counts + relationship count
  *     (`neo4j_db.py:117-146`, the label histogram + `MATCH ()-[r]->()
  *     RETURN count(r)` pair) as one DataFrame.
  *   - `clearAll()` — `MATCH (n) DETACH DELETE n` (`neo4j_db.py:148-155`):
  *     the held frames become empty with schema preserved.
  *   - `save(dir)` / [[GraphDb.load]] — durability via the partitioned
  *     parquet store through [[GraphStore.commit]] and
  *     [[GraphStore.readOr]], standing in for the bolt server's own
  *     persistence: saving to the directory the session loaded is safe,
  *     and an empty table or a missing edge table loads as an empty one.
  *   - `isConnected` — session liveness (`neo4j_db.py:108-115`).
  *
  * State is an immutable frame pair swapped atomically on write —
  * readers compiled against the previous value keep their plan (the
  * same snapshot semantics a Neo4j transaction gives a reader).
  */
final class GraphDb private (val spark: SparkSession,
                             @volatile private var g: CypherWrite.Graph,
                             clock: () => Column) {

  def nodes: DataFrame = g.nodes
  def edges: DataFrame = g.edges
  def graph: CypherWrite.Graph = g

  /** DDL rules registered via `CREATE CONSTRAINT`/`CREATE INDEX`
    * statements (the reference's `init_db.py` surface). Spark enforces
    * no constraints, so uniqueness rules run as load-time validation
    * ([[validateSchema]]) and indexes stand for layout hints. */
  private val ddlRules =
    scala.collection.mutable.LinkedHashSet.empty[SchemaRegistry.Rule]
  def schemaRules: Seq[SchemaRegistry.Rule] = synchronized { ddlRules.toSeq }

  /** Run every registered uniqueness constraint against the held node
    * table — one row per constraint with an `ok` verdict. */
  def validateSchema: DataFrame = SchemaRegistry.validate(schemaRules, g.nodes)

  /** Node-table property columns between identity (label, uid, name)
    * and the managed timestamps — the `propCols` contract the
    * CypherWrite/GraphStore upserts share. */
  private def propCols: Seq[String] =
    g.nodes.columns
      .filterNot(Set("label", "uid", "name", "created_at", "updated_at")).toSeq

  /** `query(cypher, params)` — the reference's single entry point.
    * Reads return their result frame. A write statement ([[merge]])
    * with the reference's per-item params dict binds ONE row, an
    * `UNWIND $batch AS row` template its list of dicts, applies, and
    * returns an empty frame (the driver returns `[]` for writes).
    * The two admin procedures `get_stats` issues verbatim
    * (`neo4j_db.py:128`, `CALL db.labels()` /
    * `CALL db.relationshipTypes()`) answer from the held frames. */
  def query(cypher: String, params: Map[String, Any] = Map.empty): DataFrame = {
    val trimmed = cypher.trim.stripSuffix(";").replaceAll("\\s+", " ")
    if (trimmed.equalsIgnoreCase("MATCH (n) DETACH DELETE n")) {
      // the reference's clear_all() issues exactly this (neo4j_db.py:153)
      clearAll()
      spark.emptyDataFrame
    } else if (trimmed.equalsIgnoreCase("CALL db.labels()"))
      g.nodes.select(col("label")).distinct().orderBy("label")
    else if (trimmed.equalsIgnoreCase("CALL db.relationshipTypes()"))
      g.edges.select(col("rel_type").as("relationshipType")).distinct()
        .orderBy("relationshipType")
    else if (trimmed.equalsIgnoreCase("CALL db.propertyKeys()")) {
      // property keys = the held frames' non-identity columns (this
      // engine's schema is columnar, so key presence is schema-level)
      val keys = (g.nodes.columns.filterNot(Set("label", "uid")) ++
        g.edges.columns.filterNot(Set("src_uid", "dst_uid", "rel_type")))
        .distinct.sorted.toIndexedSeq
      val sp = spark
      import sp.implicits._
      keys.toDF("propertyKey")
    }
    else if (trimmed.matches("(?is)CREATE\\s+(CONSTRAINT|INDEX)\\b.*")) {
      // the reference's init_db.py:41-66 executes schema.cql line by
      // line through this same entry point with already-exists
      // tolerance — the registry is a set, so re-CREATE is a no-op
      val (rules, unparsed) = SchemaRegistry.parse(trimmed + ";")
      require(unparsed.isEmpty,
        s"unsupported DDL statement: ${unparsed.mkString("; ")}")
      synchronized { ddlRules ++= rules }
      spark.emptyDataFrame
    }
    else if (trimmed.length >= 8 && trimmed.substring(0, 8).equalsIgnoreCase("EXPLAIN ")) {
      // Neo4j's `EXPLAIN <query>` string form: plan rows, no execution
      val (lo, ph) = explain(trimmed.substring(8), params)
      val sp = spark
      import sp.implicits._
      Seq("optimized_logical" -> lo, "physical" -> ph).toDF("stage", "plan")
    } else if (CypherWrite.isWrite(cypher)) {
      // validate the batch-binding contract BEFORE compiling: a name
      // mismatch or a list param on a non-UNWIND template otherwise
      // surfaces as an unresolved-column AnalysisException far from
      // the cause (round-10 ADVICE)
      CypherWrite.unwindParam(cypher) match {
        case Some(p) =>
          params.getOrElse(p, sys.error(
            s"UNWIND $$$p: no parameter '$p' supplied " +
              s"(got: ${params.keys.toSeq.sorted.mkString(", ")})")) match {
            case rows: Seq[_] if rows.isEmpty =>
              // Neo4j's UNWIND over an empty list is a zero-row no-op
              // — a driver loop's legitimate empty final batch
            case rows: Seq[_] if rows.forall(_.isInstanceOf[Map[_, _]]) =>
              require(params.size == 1,
                s"UNWIND $$$p binds the whole batch; extra params not " +
                  s"supported: ${(params.keySet - p).toSeq.sorted.mkString(", ")}")
              // one row per dict, `_seq` = the list position (the driver
              // loop's first-seen order)
              val dicts = rows.map(_.asInstanceOf[Map[String, Any]])
              val cols = dicts.flatMap(_.keys).distinct.sorted
              merge(cypher, spark.createDataFrame(
                java.util.Arrays.asList(dicts.zipWithIndex.map { case (d, i) =>
                  Row.fromSeq((i + 1L) +: cols.map(c =>
                    d.get(c).flatMap(Option(_)).map(_.toString).orNull))
                }: _*),
                StructType(StructField("_seq", LongType) +: cols.map(StructField(_, StringType)))))
            case other => sys.error(
              s"UNWIND $$$p needs a list-of-maps parameter, got " +
                s"${other.getClass.getSimpleName}")
          }
        case None =>
          params.collectFirst { case (k, _: Seq[_]) => k }.foreach(k => sys.error(
            "a list parameter on a write template needs the bulk " +
              s"idiom: UNWIND $$$k AS row ..."))
          merge(cypher, oneRow(params))
      }
      spark.emptyDataFrame
    } else CypherFrontend.run(cypher, g.nodes, g.edges, params)
  }

  /** Set-oriented write: the whole params batch through one compiled
    * template ([[CypherWrite.apply]]) — one distributed plan per
    * statement. `MERGE` upserts (first-seen-wins in-batch dedup per the
    * `_seq` column when present), `CREATE` appends (uid uniqueness
    * checked), `SET` and `REMOVE` update properties (last-write-wins;
    * REMOVE nulls), `[DETACH] DELETE` deletes. */
  def merge(template: String, params: DataFrame): Unit = synchronized {
    g = CypherWrite(template, params, g, clock(), propCols)
  }

  /** The reference's stats dict as a frame: one row per label plus
    * `_total_nodes` / `_total_relationships` (`neo4j_db.py:117-146`). */
  def getStats: DataFrame = GraphStore.stats(g.nodes, g.edges)

  /** Neo4j's `EXPLAIN <query>` parity for the compiled engine: the
    * Catalyst plan of a read query, as (optimized logical, physical)
    * strings — what a reference user pastes to see why a traversal is
    * slow. Nothing executes; write statements are rejected (Neo4j's
    * EXPLAIN of a write also plans without applying; here writes run
    * through [[query]]). */
  def explain(cypher: String, params: Map[String, Any] = Map.empty): (String, String) = {
    require(!CypherWrite.isWrite(cypher),
      "EXPLAIN covers read queries; writes run through GraphDb.query")
    val df = CypherFrontend.run(cypher, g.nodes, g.edges, params)
    (df.queryExecution.optimizedPlan.toString,
      df.queryExecution.executedPlan.toString)
  }

  /** `MATCH (n) DETACH DELETE n` — schema-preserving truncate. */
  def clearAll(): Unit = synchronized {
    g = CypherWrite.Graph(g.nodes.limit(0), g.edges.limit(0))
  }

  def isConnected: Boolean = !spark.sparkContext.isStopped

  /** Persist both frames to the partitioned parquet store; the session
    * then holds them as written, not the files the save replaced. */
  def save(dir: String): Unit = synchronized {
    val Seq((n, _), (e, _)) = GraphStore.commit(
      GraphStore.Rewrite.nodes(g.nodes, s"$dir/nodes"),
      GraphStore.Rewrite.edges(g.edges, s"$dir/edges"))
    g = CypherWrite.Graph(n, e)
  }

  /** The reference's per-item params dict as a one-row frame. Nulls
    * need a type; strings are the template surface's currency. A
    * param-less statement (a literal-only CREATE) still binds one row —
    * Neo4j executes it once. */
  private def oneRow(params: Map[String, Any]): DataFrame = {
    if (params.isEmpty)
      return spark.range(1).select(lit(1L).as("_seq"))
    val keys = params.keys.toSeq.sorted
    val fields = keys.map { k =>
      val dt = params(k) match {
        case _: Int | _: Long => LongType
        case _: Double | _: Float => DoubleType
        case _: Boolean => BooleanType
        case _ => StringType
      }
      StructField(k, dt, nullable = true)
    }
    val vals = keys.map { k =>
      params(k) match {
        case i: Int => i.toLong
        case f: Float => f.toDouble
        case null => null
        case v @ (_: Long | _: Double | _: Boolean) => v
        case v => v.toString
      }
    }
    spark.createDataFrame(
      java.util.Arrays.asList(Row.fromSeq(vals)), StructType(fields))
  }
}

object GraphDb {

  /** Fresh database over the engine-wide graph schema: `(label, uid,
    * name, <props...>, created_at, updated_at)` nodes and `(src_uid,
    * rel_type, dst_uid, src_label, dst_label, created_at)` edges —
    * the shapes the [[GraphStore]] upserts maintain. `props` adds
    * string property columns between name and the timestamps. */
  def empty(spark: SparkSession, props: Seq[String] = Seq.empty,
            clock: () => Column = () => current_timestamp()): GraphDb = {
    val nodeSchema = StructType(
      Seq(StructField("label", StringType), StructField("uid", StringType),
        StructField("name", StringType)) ++
        props.map(p => StructField(p, StringType)) ++
        Seq(StructField("created_at", TimestampType),
          StructField("updated_at", TimestampType)))
    val edgeSchema = StructType(Seq(
      StructField("src_uid", StringType), StructField("rel_type", StringType),
      StructField("dst_uid", StringType), StructField("src_label", StringType),
      StructField("dst_label", StringType),
      StructField("created_at", TimestampType)))
    val n = spark.createDataFrame(java.util.Collections.emptyList[Row](), nodeSchema)
    val e = spark.createDataFrame(java.util.Collections.emptyList[Row](), edgeSchema)
    new GraphDb(spark, CypherWrite.Graph(n, e), clock)
  }

  /** Wrap existing node/edge frames. */
  def apply(spark: SparkSession, nodes: DataFrame, edges: DataFrame,
            clock: () => Column = () => current_timestamp()): GraphDb =
    new GraphDb(spark, CypherWrite.Graph(nodes, edges), clock)

  /** Reopen a [[GraphDb#save]]d store (or an ETL store: one without
    * edges yet loads them empty). A store without nodes fails the load. */
  def load(spark: SparkSession, dir: String,
           clock: () => Column = () => current_timestamp()): GraphDb =
    new GraphDb(spark, CypherWrite.Graph(GraphStore.readNodes(spark, s"$dir/nodes"),
      GraphStore.readOr(spark, s"$dir/edges", empty(spark).edges)), clock)
}
