package graft.graph

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The [[GraphDb]] facade — the reference's `Neo4jDatabase` lifecycle
  * (`neo4j_db.py:20-160`) ported call-site-for-call-site: one
  * `query()` entry point that routes reads and MERGE templates, stats,
  * clear_all, and save/load durability. */
class GraphDbSpec extends SparkSpec {
  import spark.implicits._

  private val clk = () => to_timestamp(lit("2024-06-01 12:00:00"))

  // waste_items.py:366-373 — the reference's item MERGE, verbatim
  private val itemTemplate =
    """MERGE (w:WasteItem {name: $name})
      |ON CREATE SET
      |    w.uid = $uid,
      |    w.created_at = datetime()
      |ON MATCH SET
      |    w.updated_at = datetime()""".stripMargin

  // waste_items.py:383-396 — item → stream edge, verbatim
  private val streamTemplate =
    """MATCH (w:WasteItem {name: $item_name})
      |MERGE (s:WasteStream {name: $stream_name})
      |ON CREATE SET
      |    s.uid = $stream_uid,
      |    s.created_at = datetime()
      |MERGE (w)-[r:DISPOSED_IN]->(s)
      |ON CREATE SET r.created_at = datetime()""".stripMargin

  private def uidOf(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(16)

  test("the reference call pattern: per-item query() dicts build the graph") {
    val db = GraphDb.empty(spark, clock = clk)
    assert(db.isConnected)
    // the reference loops items and calls query(template, params) per row
    Seq("Bauschutt", "Asche").foreach { n =>
      val out = db.query(itemTemplate, Map("name" -> n, "uid" -> uidOf(n)))
      assert(out.isEmpty) // writes return [] (neo4j_db.py:93-106)
    }
    db.query(streamTemplate, Map(
      "item_name" -> "Asche", "stream_name" -> "Restmuell",
      "stream_uid" -> uidOf("Restmuell")))
    // reads flow through the same entry point
    val names = db.query(
      "MATCH (w:WasteItem) RETURN w.name AS n ORDER BY n").as[String].collect()
    assert(names.toSeq === Seq("Asche", "Bauschutt"))
    val hop = db.query(
      """MATCH (w:WasteItem)-[r:DISPOSED_IN]->(s:WasteStream)
        |RETURN w.name AS item, type(r) AS rel, s.name AS stream""".stripMargin)
      .as[(String, String, String)].collect()
    assert(hop.toSeq === Seq(("Asche", "DISPOSED_IN", "Restmuell")))
    // run-twice idempotency: the MERGE contract (upsert, not append)
    db.query(itemTemplate, Map("name" -> "Asche", "uid" -> uidOf("Asche")))
    assert(db.nodes.filter(col("label") === "WasteItem").count() === 2)

    // the admin procedures get_stats issues verbatim (neo4j_db.py:128)
    assert(db.query("CALL db.labels()").as[String].collect().toSeq ===
      Seq("WasteItem", "WasteStream"))
    assert(db.query("CALL db.relationshipTypes()").as[String].collect().toSeq ===
      Seq("DISPOSED_IN"))
    // property keys: the non-identity columns of the held frames
    val keys = db.query("CALL db.propertyKeys()").as[String].collect().toSeq
    assert(keys.nonEmpty && !keys.contains("uid") && !keys.contains("label")
      && !keys.contains("src_uid") && !keys.contains("rel_type"))
    assert(keys === keys.sorted && keys.distinct === keys)

    // getStats = the reference's label histogram + relationship count
    val stats = db.getStats.as[(String, Long)].collect().toMap
    assert(stats === Map("WasteItem" -> 2L, "WasteStream" -> 1L,
      "_total_nodes" -> 3L, "_total_relationships" -> 1L))

    // durability round trip
    val dir = java.nio.file.Files.createTempDirectory("graft-graphdb").toString
    db.save(dir)
    val re = GraphDb.load(spark, dir, clk)
    assert(re.query("MATCH (n) RETURN count(*) AS c").as[Long].head() === 3L)

    // clear_all: schema-preserving truncate — the reference issues the
    // literal Cypher (neo4j_db.py:153), accepted verbatim
    db.query("MATCH (n) DETACH DELETE n")
    assert(db.nodes.isEmpty && db.edges.isEmpty)
    assert(db.nodes.columns.toSeq ===
      Seq("label", "uid", "name", "created_at", "updated_at"))
  }

  test("save to the directory the session was loaded from keeps old and new nodes") {
    val dir = java.nio.file.Files.createTempDirectory("graft-graphdb-resave").toString
    val db = GraphDb.empty(spark, clock = clk)
    db.query(itemTemplate, Map("name" -> "Asche", "uid" -> uidOf("Asche")))
    db.query(streamTemplate, Map("item_name" -> "Asche",
      "stream_name" -> "Restmuell", "stream_uid" -> uidOf("Restmuell")))
    db.save(dir)
    val re = GraphDb.load(spark, dir, clk)
    re.query(itemTemplate, Map("name" -> "Laub", "uid" -> uidOf("Laub")))
    re.save(dir) // the merged frame reads the files this save replaces
    // the saving session keeps answering after its own save
    assert(re.query("MATCH (n) RETURN count(*) AS c").as[Long].head() === 3L)
    val names = GraphDb.load(spark, dir, clk)
      .query("MATCH (n) RETURN n.name AS name ORDER BY name").as[String].collect().toSeq
    assert(names === Seq("Asche", "Laub", "Restmuell"))
  }

  test("a graph with nodes and no edges saves and loads back") {
    val dir = java.nio.file.Files.createTempDirectory("graft-graphdb-noedges").toString
    val db = GraphDb.empty(spark, clock = clk)
    db.query(itemTemplate, Map("name" -> "Asche", "uid" -> uidOf("Asche")))
    db.save(dir)
    val re = GraphDb.load(spark, dir, clk)
    assert(re.query("MATCH (n) RETURN count(*) AS c").as[Long].head() === 1L)
    assert(re.query("MATCH ()-[r]->() RETURN count(r) AS c").as[Long].head() === 0L)
    assert(re.edges.columns.toSet === db.edges.columns.toSet)
  }

  test("loading a directory with no saved nodes fails instead of opening an empty graph") {
    val missing = java.nio.file.Files.createTempDirectory("graft-graphdb-missing").toString + "/nope"
    intercept[org.apache.spark.sql.AnalysisException](GraphDb.load(spark, missing, clk))
  }

  test("batch form: one distributed upsert for a whole params frame") {
    val db = GraphDb.empty(spark, clock = clk)
    val batch = (1 to 50).map(i => (s"Item $i", uidOf(s"Item $i"))).toDF("name", "uid")
    db.merge(itemTemplate, batch)
    assert(db.nodes.count() === 50)
    db.merge(itemTemplate, batch) // idempotent
    assert(db.nodes.count() === 50)
  }

  test("CREATE through query(): data statements, DDL registry, literal-only form") {
    val db = GraphDb.empty(spark, props = Seq("type"), clock = clk)
    // the reference's init_db.py:41-66 pushes schema.cql CREATEs through
    // this entry point with already-exists tolerance
    db.query("CREATE CONSTRAINT waste_item_uid IF NOT EXISTS FOR (w:WasteItem) REQUIRE w.uid IS UNIQUE")
    db.query("CREATE INDEX tip_type IF NOT EXISTS FOR (t:Tip) ON (t.type)")
    db.query("CREATE CONSTRAINT waste_item_uid IF NOT EXISTS FOR (w:WasteItem) REQUIRE w.uid IS UNIQUE") // re-run: no-op
    assert(db.schemaRules === Seq(
      SchemaRegistry.UniqueConstraint("waste_item_uid", "WasteItem", "uid"),
      SchemaRegistry.Index("tip_type", "Tip", "type")))
    val bad = intercept[IllegalArgumentException](
      db.query("CREATE CONSTRAINT c1 FOR (n:X) REQUIRE n.uid IS NODE KEY"))
    assert(bad.getMessage.contains("unsupported DDL"))
    // a literal-only CREATE binds one row (Neo4j executes it once)
    db.query("CREATE (t:Tip {name: 'Mehrweg nutzen', type: 'reuse'})")
    db.query("CREATE (w:WasteItem {name: $name})", Map("name" -> "Altglas"))
    db.query(
      """MATCH (w:WasteItem {name: $name})
        |CREATE (w)-[r:HAS_TIP]->(t:Tip {name: 'Pfand zurück', type: 'deposit'})""".stripMargin,
      Map("name" -> "Altglas"))
    assert(db.query("MATCH (t:Tip) RETURN t.name AS n ORDER BY n")
      .as[String].collect().toSeq === Seq("Mehrweg nutzen", "Pfand zurück"))
    assert(db.query(
      """MATCH (w:WasteItem)-[r:HAS_TIP]->(t:Tip)
        |RETURN w.name AS w, t.type AS tt""".stripMargin)
      .as[(String, String)].collect().toSeq === Seq(("Altglas", "deposit")))
    // the registered uniqueness constraint validates green
    val ok = db.validateSchema.select("constraint", "ok")
      .as[(String, Boolean)].collect().toMap
    assert(ok === Map("waste_item_uid" -> true))
    // a second CREATE of the same Tip key violates the uid constraint
    val clash = intercept[IllegalArgumentException](
      db.query("CREATE (t:Tip {name: 'Mehrweg nutzen', type: 'again'})"))
    assert(clash.getMessage.contains("uniqueness"))
  }

  test("UNWIND $batch AS row: the Neo4j bulk-write idiom binds the whole list") {
    val db = GraphDb.empty(spark, props = Seq("type"), clock = clk)
    val batch = Seq(
      Map[String, Any]("name" -> "Altöl", "uid" -> uidOf("Altöl")),
      Map[String, Any]("name" -> "Asche", "uid" -> uidOf("Asche")))
    db.query(
      """UNWIND $batch AS row
        |MERGE (w:WasteItem {name: row.name})
        |ON CREATE SET w.uid = row.uid, w.created_at = datetime()
        |ON MATCH SET w.updated_at = datetime()""".stripMargin,
      Map("batch" -> batch))
    assert(db.nodes.count() === 2)
    assert(db.query("MATCH (w:WasteItem {name: 'Asche'}) RETURN w.uid AS u")
      .as[String].head() === uidOf("Asche"))
    // run-twice idempotency through the UNWIND form too
    db.query(
      """UNWIND $batch AS row
        |MERGE (w:WasteItem {name: row.name})
        |ON CREATE SET w.uid = row.uid, w.created_at = datetime()
        |ON MATCH SET w.updated_at = datetime()""".stripMargin,
      Map("batch" -> batch))
    assert(db.nodes.count() === 2)
    // CREATE form with a literal mixed in
    db.query(
      "UNWIND $batch AS r CREATE (t:WasteStream {name: r.name, type: 'bin'})",
      Map("batch" -> Seq(
        Map[String, Any]("name" -> "Restmuell"),
        Map[String, Any]("name" -> "Biomuell"))))
    assert(db.query("MATCH (s:WasteStream) RETURN count(*) AS c")
      .as[Long].head() === 2L)
  }

  test("UNWIND batch-binding contract validates before compiling (round-10 ADVICE)") {
    val db = GraphDb.empty(spark, props = Seq("type"), clock = clk)
    // an EMPTY final batch from a driver loop is Neo4j's zero-row
    // no-op, not an unresolved-column error
    db.query("UNWIND $batch AS row MERGE (w:WasteItem {name: row.name})",
      Map("batch" -> Seq.empty[Map[String, Any]]))
    assert(db.nodes.count() === 0)
    // wrong param name → named error at the facade, not a deep
    // AnalysisException
    val wrongName = intercept[RuntimeException](db.query(
      "UNWIND $batch AS row MERGE (w:WasteItem {name: row.name})",
      Map("rows" -> Seq(Map[String, Any]("name" -> "X")))))
    assert(wrongName.getMessage.contains("no parameter 'batch'"))
    // a list param without the UNWIND idiom → pointed at the idiom
    val noUnwind = intercept[RuntimeException](db.query(
      "MERGE (w:WasteItem {name: $rows})",
      Map("rows" -> Seq(Map[String, Any]("name" -> "X")))))
    assert(noUnwind.getMessage.contains("UNWIND"))
    // a non-list value on an UNWIND template → named error
    val notList = intercept[RuntimeException](db.query(
      "UNWIND $batch AS row MERGE (w:WasteItem {name: row.name})",
      Map("batch" -> "oops")))
    assert(notList.getMessage.contains("list-of-maps"))
  }

  test("write detection is token-level, not substring") {
    assert(CypherWrite.isWrite("MERGE (n:X {uid: $u}) RETURN n"))
    assert(!CypherWrite.isWrite(
      "MATCH (n) WHERE n.name = 'MERGE SET DELETE' RETURN n.name AS x"))
  }

  test("EXPLAIN: plans without executing; writes are rejected") {
    val db = GraphDb.empty(spark, clock = clk)
    db.merge(itemTemplate,
      Seq(("Altholz", uidOf("Altholz"))).toDF("name", "uid"))
    // the string form routes through query() and returns plan rows
    val rows = db.query("EXPLAIN MATCH (w:WasteItem) RETURN w.name AS n ORDER BY n")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(rows.keySet === Set("optimized_logical", "physical"))
    assert(rows("physical").contains("Sort") || rows("physical").contains("TakeOrdered"))
    // the typed form returns both plan strings
    val (lo, ph) = db.explain("MATCH (w:WasteItem) RETURN count(*) AS c")
    assert(lo.nonEmpty && ph.nonEmpty)
    assert(ph.contains("HashAggregate") || ph.contains("Aggregate"))
    val e = intercept[IllegalArgumentException](
      db.explain("MERGE (n:X {uid: $u})"))
    assert(e.getMessage.contains("read"))
  }
}
