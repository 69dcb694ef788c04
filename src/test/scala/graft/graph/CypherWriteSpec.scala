package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.Uid
import graft.etl.{Facilities, WasteItems}

/** The write front-end against the reference's VERBATIM Cypher MERGE
  * templates (`facilities.py:109-135`, `waste_items.py:366-419`),
  * bound to the fixture corpus as whole-batch params frames: golden
  * cardinalities (2 facilities, 8 items, 3 streams, 4+3 edges — the
  * PipelineSpec numbers), equivalence with the native ETL path, and
  * run-twice idempotency with preserved created_at.
  */
class CypherWriteSpec extends SparkSpec {
  import spark.implicits._

  private val propCols = Facilities.fieldNames
  private val clock = lit("2026-01-01 00:00:00").cast("timestamp")
  private val clock2 = lit("2027-06-01 00:00:00").cast("timestamp")

  private def emptyGraph: CypherWrite.Graph = CypherWrite.Graph(
    Seq.empty[(String, String, String, String, String, String, String, String,
      java.sql.Timestamp, java.sql.Timestamp)]
      .toDF((Seq("label", "uid", "name") ++ propCols ++
        Seq("created_at", "updated_at")): _*),
    Seq.empty[(String, String, String, String, String, java.sql.Timestamp)]
      .toDF("src_uid", "dst_uid", "rel_type", "src_label", "dst_label", "created_at"))

  // facilities.py:109-135, verbatim
  private val facilityTemplate =
    """MERGE (f:Facility {uid: $uid})
      |ON CREATE SET
      |    f.name = $name,
      |    f.address = $address,
      |    f.opening_hours = $opening_hours,
      |    f.contact = $contact,
      |    f.additional_info = $additional_info,
      |    f.link = $link,
      |    f.created_at = datetime()
      |ON MATCH SET
      |    f.address = CASE WHEN $address <> '' THEN $address ELSE f.address END,
      |    f.opening_hours = CASE WHEN $opening_hours <> '' THEN $opening_hours ELSE f.opening_hours END,
      |    f.contact = CASE WHEN $contact <> '' THEN $contact ELSE f.contact END,
      |    f.additional_info = CASE WHEN $additional_info <> '' THEN $additional_info ELSE f.additional_info END,
      |    f.link = CASE WHEN $link <> '' THEN $link ELSE f.link END,
      |    f.updated_at = datetime()
      |RETURN f.uid AS uid, f.name AS name""".stripMargin

  // waste_items.py:366-373, verbatim
  private val itemTemplate =
    """MERGE (w:WasteItem {name: $name})
      |ON CREATE SET
      |    w.uid = $uid,
      |    w.created_at = datetime()
      |ON MATCH SET
      |    w.updated_at = datetime()""".stripMargin

  // waste_items.py:383-396, verbatim
  private val streamTemplate =
    """MATCH (w:WasteItem {name: $item_name})
      |MERGE (s:WasteStream {name: $stream_name})
      |ON CREATE SET
      |    s.uid = $stream_uid,
      |    s.created_at = datetime()
      |MERGE (w)-[r:DISPOSED_IN]->(s)
      |ON CREATE SET r.created_at = datetime()
      |RETURN s.name AS stream, type(r) AS rel_type""".stripMargin

  // waste_items.py:404-411, verbatim
  private val facilityEdgeTemplate =
    """MATCH (w:WasteItem {name: $item_name})
      |MATCH (f:Facility {name: $facility_name})
      |MERGE (w)-[r:DISPOSED_AT]->(f)
      |ON CREATE SET r.created_at = datetime()
      |RETURN f.name AS facility, type(r) AS rel_type""".stripMargin

  private def facParams: DataFrame =
    Facilities.load(spark, fixture("disposal_map_db.json"))
      .select((col("source_order").as("_seq") +:
        Uid.uid(col("name")).as("uid") +: col("name") +:
        propCols.map(col)): _*)

  private lazy val targets =
    WasteItems.loadTargets(spark, fixture("abfall_abc.csv")).localCheckpoint(true)
  private lazy val cls = WasteItems.classified(targets).localCheckpoint(true)

  private def itemParams: DataFrame =
    targets.select(col("item_name").as("name")).distinct()
      .select(col("name"), Uid.uid(col("name")).as("uid"))

  private def streamParams: DataFrame =
    cls.filter(col("kind") === "stream")
      .select(col("item_name"), col("target").as("stream_name"),
        Uid.uid(col("target")).as("stream_uid"))

  private def facilityEdgeParams: DataFrame =
    cls.filter(col("kind") === "facility")
      .select(col("item_name"), col("target").as("facility_name"))

  private def runAll(g0: CypherWrite.Graph, clk: org.apache.spark.sql.Column): CypherWrite.Graph = {
    // the reference's statement order: facilities, items, then per-item
    // stream/facility targets — each template once, whole batch bound
    val g1 = CypherWrite(facilityTemplate, facParams, g0, clk, propCols)
    val g2 = CypherWrite(itemTemplate, itemParams, g1, clk, propCols)
    val g3 = CypherWrite(streamTemplate, streamParams, g2, clk, propCols)
    val g4 = CypherWrite(facilityEdgeTemplate, facilityEdgeParams, g3, clk, propCols)
    CypherWrite.Graph(g4.nodes.localCheckpoint(true), g4.edges.localCheckpoint(true))
  }

  test("reference MERGE templates reproduce the golden cardinalities") {
    val g = runAll(emptyGraph, clock)
    val byLabel = g.nodes.groupBy("label").count().as[(String, Long)].collect().toMap
    assert(byLabel === Map("Facility" -> 2L, "WasteItem" -> 8L, "WasteStream" -> 3L))
    val byType = g.edges.groupBy("rel_type").count().as[(String, Long)].collect().toMap
    assert(byType === Map("DISPOSED_IN" -> 4L, "DISPOSED_AT" -> 3L))
    // facility nodes == the native ETL path's (same dedup-merge law)
    val viaCypher = g.nodes.filter(col("label") === "Facility")
      .select((col("uid") +: col("name") +: propCols.map(col)): _*)
      .collect().map(_.toSeq).toSet
    val viaEtl = Facilities.facilityNodes(spark, fixture("disposal_map_db.json"))
      .select((col("uid") +: col("name") +: propCols.map(col)): _*)
      .collect().map(_.toSeq).toSet
    assert(viaCypher === viaEtl)
    // edges resolve: every endpoint uid exists in the node table
    val uids = g.nodes.select("uid")
    assert(g.edges.join(uids, g.edges("src_uid") === uids("uid"), "left_anti").count() === 0)
    assert(g.edges.join(uids, g.edges("dst_uid") === uids("uid"), "left_anti").count() === 0)
  }

  test("run-twice idempotency: counts stable, created_at preserved, updated_at bumped") {
    val g1 = runAll(emptyGraph, clock)
    val g2 = runAll(g1, clock2)
    assert(g2.nodes.count() === g1.nodes.count())
    assert(g2.edges.count() === g1.edges.count())
    // ON MATCH never rewrites created_at; the second clock only lands in updated_at
    assert(g2.nodes.filter(col("created_at") =!= "2026-01-01 00:00:00").count() === 0)
    assert(g2.edges.filter(col("created_at") =!= "2026-01-01 00:00:00").count() === 0)
    assert(g2.nodes.filter(col("updated_at") === "2027-06-01 00:00:00").count() ===
      g2.nodes.count())
    // property values survive the re-run byte-identically
    val p1 = g1.nodes.orderBy("uid").collect().map(r =>
      r.toSeq.updated(r.fieldIndex("updated_at"), ())).toSeq
    val p2 = g2.nodes.orderBy("uid").collect().map(r =>
      r.toSeq.updated(r.fieldIndex("updated_at"), ())).toSeq
    assert(p1 === p2)
  }

  test("in-batch duplicate keys merge first-non-empty in _seq order (the sequential-loop law)") {
    val params = Seq(
      (1L, "u:h1", "Hof Ost", "", "Mo-Fr"),
      (2L, "u:h1", "Hof Ost", "Parkweg 9", ""),
      (3L, "u:h1", "Hof Ost ALT", "IGNORIERT", "Sa")) // later values never beat earlier non-empty
      .toDF("_seq", "uid", "name", "address", "opening_hours")
    val t =
      """MERGE (f:Facility {uid: $uid})
        |ON CREATE SET f.name = $name, f.address = $address,
        |    f.opening_hours = $opening_hours, f.created_at = datetime()
        |ON MATCH SET
        |    f.address = CASE WHEN $address <> '' THEN $address ELSE f.address END,
        |    f.opening_hours = CASE WHEN $opening_hours <> '' THEN $opening_hours ELSE f.opening_hours END,
        |    f.updated_at = datetime()""".stripMargin
    val g = CypherWrite(t, params, emptyGraph, clock, propCols)
    val row = g.nodes.select("name", "address", "opening_hours").as[(String, String, String)].head()
    assert(row === (("Hof Ost", "Parkweg 9", "Mo-Fr")))
  }

  test("MATCH...SET: batch update, last-write-wins on duplicate keys, unmatched untouched") {
    val g = runAll(emptyGraph, clock)
    val params = Seq(
      (1L, "Wertstoffhof Nord", "Mo 8-12"),
      (2L, "Wertstoffhof Nord", "Di 9-17"), // later _seq wins — the loop's final state
      (1L, "Gibt Es Nicht", "Nie"))      // MATCH finds nothing: no-op
      .toDF("_seq", "name", "opening_hours")
    val g2 = CypherWrite("MATCH (f:Facility {name: $name}) SET f.opening_hours = $opening_hours",
      params, g, clock2, propCols)
    val target = g2.nodes.filter(col("name") === "Wertstoffhof Nord")
    assert(target.select("opening_hours").as[String].head() === "Di 9-17")
    assert(target.filter(col("updated_at") === "2027-06-01 00:00:00").count() === 1)
    // every other node untouched, including updated_at
    assert(g2.nodes.filter(col("name") =!= "Wertstoffhof Nord" &&
      col("updated_at") =!= "2026-01-01 00:00:00").count() === 0)
    assert(g2.nodes.count() === g.nodes.count())
    // SET on a property the schema lacks fails loudly
    val bad = intercept[IllegalArgumentException](CypherWrite(
      "MATCH (f:Facility {name: $name}) SET f.nope = $opening_hours",
      params, g, clock2, propCols))
    assert(bad.getMessage.contains("unknown propert"))
  }

  test("MATCH...REMOVE: property nulled on matched nodes only, updated_at bumped") {
    val g = runAll(emptyGraph, clock)
    val withHours = g.nodes.filter(col("opening_hours").isNotNull).count()
    assert(withHours > 0)
    val params = Seq("Wertstoffhof Nord").toDF("name")
    val g2 = CypherWrite("MATCH (f:Facility {name: $name}) REMOVE f.opening_hours",
      params, g, clock2, propCols)
    val target = g2.nodes.filter(col("name") === "Wertstoffhof Nord")
    assert(target.filter(col("opening_hours").isNull).count() === target.count())
    assert(target.filter(col("updated_at") === "2027-06-01 00:00:00").count() === target.count())
    // unmatched nodes keep their property values and timestamps
    assert(g2.nodes.filter(col("opening_hours").isNotNull).count() ===
      g.nodes.filter(col("opening_hours").isNotNull &&
        col("name") =!= "Wertstoffhof Nord").count())
    // REMOVE of a property the schema lacks fails loudly
    val bad = intercept[IllegalArgumentException](CypherWrite(
      "MATCH (f:Facility {name: $name}) REMOVE f.nope", params, g, clock2, propCols))
    assert(bad.getMessage.contains("unknown propert"))
  }

  test("MATCH...DELETE: plain refuses on incident edges, DETACH cascades") {
    val g = runAll(emptyGraph, clock)
    val params = Seq("Wertstoffhof Nord").toDF("name")
    // plain DELETE: Wertstoffhof A has DISPOSED_AT edges → constraint violation
    val violation = intercept[IllegalArgumentException](CypherWrite(
      "MATCH (f:Facility {name: $name}) DELETE f", params, g, clock2, propCols))
    assert(violation.getMessage.contains("DETACH"))
    // DETACH DELETE removes the node and every incident edge
    val g2 = CypherWrite("MATCH (f:Facility {name: $name}) DETACH DELETE f",
      params, g, clock2, propCols)
    assert(g2.nodes.count() === g.nodes.count() - 1)
    assert(g2.nodes.filter(col("name") === "Wertstoffhof Nord").count() === 0)
    val uids = g2.nodes.select("uid")
    assert(g2.edges.join(uids, g2.edges("src_uid") === uids("uid"), "left_anti").count() === 0)
    assert(g2.edges.join(uids, g2.edges("dst_uid") === uids("uid"), "left_anti").count() === 0)
    // a node with no relationships CAN be plain-DELETEd: merge an
    // isolated one, delete it, counts return to where they were
    val g3a = CypherWrite(
      """MERGE (f:Facility {uid: $uid})
        |ON CREATE SET f.name = $name, f.created_at = datetime()""".stripMargin,
      Seq(("u:tmp", "Temp Hof")).toDF("uid", "name"), g2, clock2, propCols)
    val g3 = CypherWrite("MATCH (f:Facility {name: $name}) DELETE f",
      Seq("Temp Hof").toDF("name"), g3a, clock2, propCols)
    assert(g3a.nodes.count() === g2.nodes.count() + 1)
    assert(g3.nodes.count() === g2.nodes.count())
  }

  test("CREATE nodes: one per params row, literals + params mix, appended verbatim") {
    val params = Seq(
      ("Hof Nord", "Weg 1"),
      ("Hof Süd", "Weg 2")).toDF("name", "address")
    val g = CypherWrite(
      "CREATE (f:Facility {name: $name, address: $address, contact: 'rathaus'})",
      params, emptyGraph, clock, propCols)
    assert(g.nodes.count() === 2)
    val rows = g.nodes.select("label", "uid", "name", "address", "contact")
      .as[(String, String, String, String, String)].collect().sortBy(_._3)
    assert(rows.map(_._1).toSet === Set("Facility"))
    assert(rows.map(r => (r._3, r._4, r._5)).toSeq ===
      Seq(("Hof Nord", "Weg 1", "rathaus"), ("Hof Süd", "Weg 2", "rathaus")))
    // uid = F1 hash of name (the engine-wide law), timestamps = clock
    assert(rows.map(_._2).toSeq ===
      rows.map(r => Uid.uidOf(r._3)).toSeq)
    assert(g.nodes.filter(col("created_at") =!= "2026-01-01 00:00:00" ||
      col("updated_at") =!= "2026-01-01 00:00:00").count() === 0)
  }

  test("CREATE enforces the schema's uid uniqueness: existing key and in-batch dup both refuse") {
    val g1 = CypherWrite("CREATE (f:Facility {name: $name})",
      Seq("Hof Nord").toDF("name"), emptyGraph, clock, propCols)
    // same key again → Neo4j-with-constraint behavior: violation
    val clash = intercept[IllegalArgumentException](CypherWrite(
      "CREATE (f:Facility {name: $name})",
      Seq("Hof Nord").toDF("name"), g1, clock, propCols))
    assert(clash.getMessage.contains("uniqueness"))
    // in-batch duplicate key → same violation
    val dup = intercept[IllegalArgumentException](CypherWrite(
      "CREATE (f:Facility {name: $name})",
      Seq("Hof West", "Hof West").toDF("name"), emptyGraph, clock, propCols))
    assert(dup.getMessage.contains("uniqueness"))
    // a DIFFERENT label may reuse the name (per-label constraint)
    val g2 = CypherWrite("CREATE (w:WasteItem {name: $name})",
      Seq("Hof Nord").toDF("name"), g1, clock, propCols)
    assert(g2.nodes.count() === 2)
    // unknown property → loud
    val bad = intercept[IllegalArgumentException](CypherWrite(
      "CREATE (f:Facility {name: $name, nope: $name})",
      Seq("X").toDF("name"), emptyGraph, clock, propCols))
    assert(bad.getMessage.contains("unknown propert"))
  }

  test("CREATE relationships: inline chain and MATCH-bound endpoints") {
    // inline chain creates both nodes and the edge in one statement
    val params = Seq(("Altöl", "Schadstoffmobil")).toDF("item", "stream")
    val g1 = CypherWrite(
      """CREATE (w:WasteItem {name: $item})-[r:DISPOSED_IN]->(s:WasteStream {name: $stream})
        |RETURN w.name""".stripMargin,
      params, emptyGraph, clock, propCols)
    assert(g1.nodes.count() === 2)
    val e = g1.edges.select("src_uid", "dst_uid", "rel_type", "src_label", "dst_label")
      .as[(String, String, String, String, String)].head()
    assert(e === ((Uid.uidOf("Altöl"), Uid.uidOf("Schadstoffmobil"),
      "DISPOSED_IN", "WasteItem", "WasteStream")))
    // MATCH-bound endpoints: unmatched params rows produce no edge
    val g2 = CypherWrite(facilityTemplate, facParams, g1, clock, propCols)
    val edgeParams = Seq(
      ("Altöl", "Wertstoffhof Nord"),
      ("Gibt Es Nicht", "Wertstoffhof Nord")).toDF("item_name", "facility_name")
    val g3 = CypherWrite(
      """MATCH (w:WasteItem {name: $item_name})
        |MATCH (f:Facility {name: $facility_name})
        |CREATE (w)-[r:DISPOSED_AT]->(f)""".stripMargin,
      edgeParams, g2, clock, propCols)
    assert(g3.edges.filter(col("rel_type") === "DISPOSED_AT").count() === 1)
    // edge props beyond the schema refuse loudly
    val bad = intercept[IllegalArgumentException](CypherWrite(
      """MATCH (w:WasteItem {name: $item_name})
        |MATCH (f:Facility {name: $facility_name})
        |CREATE (w)-[r:DISPOSED_AT {weight: '2'}]->(f)""".stripMargin,
      edgeParams, g2, clock, propCols))
    assert(bad.getMessage.contains("edge schema"))
    // an unbound endpoint refuses loudly (fresh name — the node-create
    // arm must pass so the edge resolution is what fires)
    val unbound = intercept[RuntimeException](CypherWrite(
      "CREATE (w)-[r:DISPOSED_AT]->(f:Facility {name: $facility_name})",
      Seq(("Altöl", "Neuer Hof")).toDF("item_name", "facility_name"),
      g2, clock, propCols))
    assert(unbound.getMessage.contains("bound by no MATCH/CREATE"))
  }

  test("documented divergence: identical KEY-LESS CREATE rows collide on the derived uid and refuse") {
    // no uid/name prop and no _seq column: uid = xxhash64(all prop
    // columns), so two IDENTICAL rows collide and the statement
    // refuses — Neo4j CREATE would make two anonymous nodes. The
    // refusal names the derivation contract, not a user constraint.
    val dup = intercept[IllegalArgumentException](CypherWrite(
      "CREATE (f:Facility {address: $address})",
      Seq("Weg 9", "Weg 9").toDF("address"), emptyGraph, clock, propCols))
    assert(dup.getMessage.contains("xxhash64"),
      s"expected the uid-derivation contract in: ${dup.getMessage}")
    // distinct key-less rows create one node each
    val g = CypherWrite("CREATE (f:Facility {address: $address})",
      Seq("Weg 1", "Weg 2").toDF("address"), emptyGraph, clock, propCols)
    assert(g.nodes.count() === 2)
  }

  test("clause order: a leading MATCH resolves against the PRE-statement snapshot, not same-statement CREATEs") {
    // the statement CREATEs WasteItem 'Phantom' and MATCHes the same
    // name — Neo4j's clause scoping has the (textually leading) MATCH
    // see only pre-CREATE state, so the node appends but NO edge forms
    val g = CypherWrite(
      """MATCH (w:WasteItem {name: $n})
        |CREATE (x:WasteItem {name: $n2})
        |CREATE (w)-[r:DISPOSED_AT]->(x)""".stripMargin,
      Seq(("Phantom", "Phantom")).toDF("n", "n2"),
      emptyGraph, clock, propCols)
    assert(g.nodes.count() === 1)
    assert(g.edges.count() === 0)
  }

  test("documented divergence: an ON-CREATE-only property follows non-empty-wins on match") {
    // CypherWrite.scala's header documents this: Neo4j applies an ON
    // CREATE SET property only at creation; this engine's upsert law is
    // per-property non-empty-incoming-wins, so a SECOND merge with a
    // different non-empty value DOES overwrite. The reference's
    // templates pair every such property in ON MATCH, so they compile
    // exactly; this pin keeps the divergence visible to refactors.
    val t =
      """MERGE (f:Facility {uid: $uid})
        |ON CREATE SET f.name = $name, f.address = $address, f.created_at = datetime()
        |ON MATCH SET f.updated_at = datetime()""".stripMargin
    val g1 = CypherWrite(t, Seq(("u:1", "Hof", "Weg 1")).toDF("uid", "name", "address"),
      emptyGraph, clock, propCols)
    val g2 = CypherWrite(t, Seq(("u:1", "Hof", "Weg 2")).toDF("uid", "name", "address"),
      g1, clock2, propCols)
    // Neo4j would keep 'Weg 1'; the engine's law takes the non-empty incoming
    assert(g2.nodes.select("address").as[String].head() === "Weg 2")
    // …but an EMPTY incoming never clobbers (the shared non-empty-wins law)
    val g3 = CypherWrite(t, Seq(("u:1", "Hof", "")).toDF("uid", "name", "address"),
      g1, clock2, propCols)
    assert(g3.nodes.select("address").as[String].head() === "Weg 1")
  }

  test("unparseable write shapes fail with clear errors") {
    val bad1 = intercept[RuntimeException](CypherWrite(
      "MERGE (f:Facility {uid: $uid}) ON MATCH SET f.x = f.y + 1",
      facParams, emptyGraph, clock, propCols))
    assert(bad1.getMessage.contains("SET value") || bad1.getMessage.contains("expected"))
    val bad2 = intercept[RuntimeException](CypherWrite(
      "MATCH (a:X {name: $n}) DELETE a extra", facParams, emptyGraph, clock, propCols))
    assert(bad2.getMessage.contains("unexpected"))
  }

  test("edge MERGE ON CREATE SET takes only r.created_at = datetime()") {
    val g = runAll(emptyGraph, clock)
    val edgeParams = Seq(("Altpapier", "Wertstoffhof Nord"))
      .toDF("item_name", "facility_name")
    def edgeMerge(onCreate: String) = CypherWrite(
      s"""MATCH (w:WasteItem {name: $$item_name})
         |MATCH (f:Facility {name: $$facility_name})
         |MERGE (w)-[r:DISPOSED_AT]->(f)
         |ON CREATE SET $onCreate""".stripMargin,
      edgeParams, g, clock2, propCols)
    for ((set, prop) <- Seq("r.weight = datetime()" -> "r.weight",
        "r.created_at = $item_name" -> "r.created_at")) {
      val e = intercept[RuntimeException](edgeMerge(set))
      assert(e.getMessage.contains(prop), e.getMessage)
    }
    // the accepted form: the edge forms, created_at = the upsert clock
    val g2 = edgeMerge("r.created_at = datetime()")
    assert(g2.edges.count() === g.edges.count() + 1)
    assert(g2.edges.filter(col("created_at") === "2027-06-01 00:00:00")
      .select("rel_type").as[String].collect().toSeq === Seq("DISPOSED_AT"))
  }

  test("clause order: MERGE resolves a MATCH endpoint against the PRE-statement snapshot") {
    // on an empty graph the MATCH finds nothing, so Neo4j forms no edge;
    // the node MERGE still runs (node clauses are not gated by MATCH)
    val g = CypherWrite(
      """MATCH (a:X {name: $p})
        |MERGE (b:X {name: $p})
        |MERGE (a)-[:R]->(b)""".stripMargin,
      Seq("x").toDF("p"), emptyGraph, clock, propCols)
    assert(g.nodes.select("label", "name").as[(String, String)].collect().toSeq ===
      Seq(("X", "x")))
    assert(g.edges.count() === 0)
  }

  test("clause order: a MATCH after an updating clause is refused") {
    val e = intercept[IllegalArgumentException](CypherWrite(
      """MERGE (a:X {name: $p})
        |MATCH (b:X {name: $p})
        |MERGE (a)-[:R]->(b)""".stripMargin,
      Seq("x").toDF("p"), emptyGraph, clock, propCols))
    assert(e.getMessage.contains("WITH is required between MERGE and MATCH"), e.getMessage)
  }

  test("clause order: SET updates a MERGE variable's node, and a MATCH variable's only if the snapshot held it") {
    val g = CypherWrite(
      """MATCH (a:Facility {name: $n})
        |MERGE (b:Facility {name: $n})
        |SET b.contact = $c
        |SET a.address = $c""".stripMargin,
      Seq(("Hof", "Weg 1")).toDF("n", "c"), emptyGraph, clock, propCols)
    // the MATCH found nothing on the empty graph: only b's SET lands
    assert(g.nodes.select("name", "contact", "address")
      .as[(String, String, String)].collect().toSeq === Seq(("Hof", "Weg 1", null)))
  }

  test("a write statement with none of the write verbs names all five") {
    val e = intercept[RuntimeException](CypherWrite(
      "MATCH (n:X {uid: $u}) DETACH n", Seq("x").toDF("u"), emptyGraph,
      clock, propCols))
    for (verb <- Seq("MERGE", "CREATE", "SET", "REMOVE", "DELETE"))
      assert(e.getMessage.contains(verb), e.getMessage)
  }
}
