package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The Cypher front-end against the reference's OWN validation queries
  * (`etl_implementation.md:235-255`, `neo4j_db.py:29-157`), run over an
  * in-memory waste graph whose expected answers are hand-checkable, and
  * cross-checked against the typed operators (GraphStore.orphans) they
  * compile to the same plans as.
  */
class CypherFrontendSpec extends SparkSpec {
  import spark.implicits._

  // WasteItem w1 -> DISPOSED_IN -> Restmuell; w1 -> DISPOSED_AT -> Hof A
  // WasteItem w2 -> DISPOSED_IN -> Restmuell
  // WasteItem w3 -> DISPOSED_IN -> Biomuell
  // WasteItem w4 (orphan: no disposal edge)
  private lazy val nodes: DataFrame = Seq(
    ("WasteItem", "u:w1", "Bauschutt", null.asInstanceOf[String]),
    ("WasteItem", "u:w2", "Asche", null.asInstanceOf[String]),
    ("WasteItem", "u:w3", "Laub", null.asInstanceOf[String]),
    ("WasteItem", "u:w4", "Altlack", null.asInstanceOf[String]),
    ("WasteStream", "u:s1", "Restmuell", null.asInstanceOf[String]),
    ("WasteStream", "u:s2", "Biomuell", null.asInstanceOf[String]),
    ("Facility", "u:f1", "Wertstoffhof A", "Campusallee 1"),
    ("Facility", "u:f2", "Wertstoffhof B", "Nordring 7"))
    .toDF("label", "uid", "name", "address")

  private lazy val edges: DataFrame = Seq(
    ("u:w1", "DISPOSED_IN", "u:s1"),
    ("u:w2", "DISPOSED_IN", "u:s1"),
    ("u:w3", "DISPOSED_IN", "u:s2"),
    ("u:w1", "DISPOSED_AT", "u:f1"))
    .toDF("src_uid", "rel_type", "dst_uid")

  private def run(cypher: String, params: Map[String, Any] = Map.empty) =
    CypherFrontend.run(cypher, nodes, edges, params)

  test("label histogram: MATCH (n) RETURN labels(n)[0], count(*) (etl_implementation.md:235)") {
    val got = run(
      "MATCH (n) RETURN labels(n)[0] AS label, count(*) AS count ORDER BY count DESC, label")
      .as[(String, Long)].collect().toSeq
    assert(got === Seq(("WasteItem", 4L), ("Facility", 2L), ("WasteStream", 2L)))
  }

  test("UNION dedups, UNION ALL keeps multiplicity, mixing is rejected") {
    val union = run(
      """MATCH (w:WasteItem)-[:DISPOSED_IN]->(s:WasteStream {name: 'Restmuell'})
        |RETURN s.name AS name
        |UNION
        |MATCH (s:WasteStream) RETURN s.name AS name""".stripMargin)
      .as[String].collect().toSeq.sorted
    assert(union === Seq("Biomuell", "Restmuell")) // 2 Restmuell rows collapse
    val unionAll = run(
      """MATCH (w:WasteItem)-[:DISPOSED_IN]->(s:WasteStream {name: 'Restmuell'})
        |RETURN s.name AS name
        |UNION ALL
        |MATCH (s:WasteStream) RETURN s.name AS name""".stripMargin)
      .as[String].collect().toSeq.sorted
    assert(unionAll === Seq("Biomuell", "Restmuell", "Restmuell", "Restmuell"))
    val mixed = intercept[IllegalArgumentException](run(
      """MATCH (s:WasteStream) RETURN s.name AS name
        |UNION
        |MATCH (f:Facility) RETURN f.name AS name
        |UNION ALL
        |MATCH (w:WasteItem) RETURN w.name AS name""".stripMargin))
    assert(mixed.getMessage.contains("mix"))
    val cols = intercept[IllegalArgumentException](run(
      "MATCH (s:WasteStream) RETURN s.name AS a UNION MATCH (f:Facility) RETURN f.name AS b"))
    assert(cols.getMessage.contains("same column"))
    // trailing ORDER BY + LIMIT scope over the WHOLE union, not the
    // last branch: the global top-2 spans both branches
    val top = run(
      """MATCH (s:WasteStream) RETURN s.name AS name
        |UNION ALL
        |MATCH (f:Facility) RETURN f.name AS name
        |ORDER BY name LIMIT 2""".stripMargin).as[String].collect().toSeq
    assert(top === Seq("Biomuell", "Restmuell")) // streams sort before facilities
  }

  test("unbounded [*]: reachability fixpoint semantics; *lo.. open ranges; unbounded shortestPath") {
    // w1 reaches s1 and f1 (depth 1); the graph is depth-1, so [*]
    // equals the one-hop closure here — the semantics check is that
    // pairs are DISTINCT (reachability), not per-walk
    val got = run(
      """MATCH (w:WasteItem {name: 'Bauschutt'})-[*]->(t)
        |RETURN t.name AS name ORDER BY name""".stripMargin)
      .as[String].collect().toSeq
    assert(got === Seq("Restmuell", "Wertstoffhof A"))
    // typed unbounded: only the DISPOSED_IN closure
    val typed = run(
      "MATCH (w:WasteItem)-[:DISPOSED_IN*]->(t) RETURN count(*) AS n")
      .as[Long].head()
    assert(typed === 3L)
    // `*lo..` (open upper bound, lo > 1): ∃ walk of length ≥ lo.
    // The waste graph is depth-1 → zero rows at *2..
    val open = run(
      "MATCH (w:WasteItem)-[:DISPOSED_IN*2..]->(t) RETURN t.name AS name")
    assert(open.count() === 0L)
    // chain graph A->B->C->D (+ diamond): depth ≥ 2 from A is {C, D};
    // depth ≥ 3 is {D}
    val deep2 = CypherFrontend.run(
      "MATCH (a:Cat {name: 'A'})-[:CHILD_OF*2..]->(b) RETURN DISTINCT b.name AS n ORDER BY n",
      chainNodes, chainEdges).as[String].collect().toSeq
    assert(deep2 === Seq("C", "D"))
    val deep3 = CypherFrontend.run(
      "MATCH (a:Cat {name: 'A'})-[:CHILD_OF*3..]->(b) RETURN DISTINCT b.name AS n ORDER BY n",
      chainNodes, chainEdges).as[String].collect().toSeq
    assert(deep3 === Seq("D"))
    // unbounded shortestPath: the BFS fixpoint's first-reach depth IS
    // the shortest length; A->C is 2 hops (diamond), A->D is 3
    val sp = CypherFrontend.run(
      """MATCH p = shortestPath((a:Cat {name: 'A'})-[:CHILD_OF*]->(b:Cat))
        |RETURN b.name AS n, length(p) AS len ORDER BY n""".stripMargin,
      chainNodes, chainEdges).as[(String, Long)].collect().toSeq
    assert(sp === Seq(("B", 1L), ("C", 2L), ("D", 3L), ("X", 1L), ("Y", 1L)))
    // lo > 1 + unbounded shortestPath stays rejected (min-depth pairs
    // cannot skip shorter walks)
    val bad = intercept[IllegalArgumentException](CypherFrontend.run(
      "MATCH p = shortestPath((a:Cat)-[:CHILD_OF*2..]->(b)) RETURN length(p)",
      chainNodes, chainEdges))
    assert(bad.getMessage.contains("lo <= 1"))
    // one rule for every shortestPath: a bounded lo > 1 is refused too
    val badBounded = intercept[IllegalArgumentException](CypherFrontend.run(
      "MATCH p = shortestPath((a:Cat)-[:CHILD_OF*2..3]->(b)) RETURN length(p)",
      chainNodes, chainEdges))
    assert(badBounded.getMessage.contains("lo <= 1"))
  }

  test("unbounded means unbounded: [*], *2.. and shortestPath(*) walk a 60-node chain to its end") {
    val n = 60
    val lineNodes = (0 until n).map(i => ("N", s"u$i", s"n$i")).toDF("label", "uid", "name")
    val lineEdges = (0 until n - 1).map(i => (s"u$i", "R", s"u${i + 1}"))
      .toDF("src_uid", "rel_type", "dst_uid")
    def one(cypher: String): Long =
      CypherFrontend.run(cypher, lineNodes, lineEdges).as[Long].head()
    assert(one("MATCH (a:N {name: 'n0'})-[*]->(b) RETURN count(*) AS c") === n - 1L)
    assert(one("MATCH (a:N {name: 'n0'})-[*2..]->(b) RETURN count(*) AS c") === n - 2L)
    val sp = CypherFrontend.run(
      """MATCH p = shortestPath((a:N {name: 'n0'})-[*]->(b))
        |RETURN count(*) AS c, max(length(p)) AS m""".stripMargin,
      lineNodes, lineEdges).as[(Long, Long)].head()
    assert(sp === ((n - 1L, n - 1L)))
  }

  test("a relationship variable shared between clauses or comma chains joins on the edge's identity") {
    val ns2 = Seq(("N", "u:a", "a"), ("N", "u:b", "b"), ("N", "u:c", "c"))
      .toDF("label", "uid", "name")
    val es2 = Seq(("u:a", "R", "u:b"), ("u:b", "R", "u:c")).toDF("src_uid", "rel_type", "dst_uid")
    for (q <- Seq(
        "MATCH (a)-[r]->(b) MATCH (c)-[r]->(d) RETURN count(*) AS c",
        "MATCH (a)-[r]->(b), (c)-[r]->(d) RETURN count(*) AS c"))
      assert(CypherFrontend.run(q, ns2, es2).as[Long].head() === 2L, q)
    // a name bound as a relationship cannot be rebound as a node
    val clash = intercept[IllegalArgumentException](CypherFrontend.run(
      "MATCH (a)-[r]->(b) MATCH (r) RETURN count(*) AS c", ns2, es2))
    assert(clash.getMessage.contains("both as a node and as a relationship"))
  }

  test("unbounded shortestPath RETURN p: witness at first-reach depth, diamond tie-break = min witness, ≡ bounded form") {
    // A->B->C->D plus the A->X->C / A->Y->C diamond: three tied 2-hop
    // shortest paths A~>C must collapse to ONE deterministic witness —
    // the lexicographic min (via u:b) — and D's witness composes from
    // C's elected prefix (greedy min-prefix composition).
    val q = (range: String) =>
      s"""MATCH p = shortestPath((a:Cat {name: 'A'})-[:CHILD_OF$range]->(b:Cat))
         |RETURN b.name AS n, p AS path ORDER BY n""".stripMargin
    val unbounded = CypherFrontend.run(q("*"), chainNodes, chainEdges)
      .as[(String, String)].collect().toSeq
    assert(unbounded === Seq(
      ("B", "u:a|CHILD_OF|u:b"),
      ("C", "u:a|CHILD_OF|u:b|CHILD_OF|u:c"),
      ("D", "u:a|CHILD_OF|u:b|CHILD_OF|u:c|CHILD_OF|u:d"),
      ("X", "u:a|CHILD_OF|u:x"),
      ("Y", "u:a|CHILD_OF|u:y")))
    // the bounded form, capped at depth 3, elects the identical witnesses
    val bounded = CypherFrontend.run(q("*..3"), chainNodes, chainEdges)
      .as[(String, String)].collect().toSeq
    assert(bounded === unbounded)
  }

  test("lambda-bound pattern predicates/EXISTS chains: explode route probe battery") {
    // any + direct pattern on the lambda variable (collect(node) list):
    // Restmuell's w1 has a DISPOSED_AT edge; Biomuell's w3 does not
    def streams(quant: String, body: String): Seq[String] = run(
      s"""MATCH (s:WasteStream)<-[:DISPOSED_IN]-(w:WasteItem)
         |WITH s, collect(w) AS items
         |WHERE $quant(x IN items WHERE $body)
         |RETURN s.name AS name ORDER BY name""".stripMargin)
      .as[String].collect().toSeq
    assert(streams("any", "(x)-[:DISPOSED_AT]->(:Facility)") === Seq("Restmuell"))
    assert(streams("none", "(x)-[:DISPOSED_AT]->(:Facility)") === Seq("Biomuell"))
    // single: Restmuell has exactly one such item (w1 yes, w2 no)
    assert(streams("single", "(x)-[:DISPOSED_AT]->(:Facility)") === Seq("Restmuell"))
    // all + NOT pattern: every Biomuell item lacks a facility edge
    assert(streams("all", "NOT (x)-[:DISPOSED_AT]->(:Facility)") === Seq("Biomuell"))
    // mixed with a plain lambda predicate AND an outer predicate
    val mixed = run(
      """MATCH (s:WasteStream)<-[:DISPOSED_IN]-(w:WasteItem)
        |WITH s, collect(w.uid) AS ids
        |WHERE any(x IN ids WHERE (x)-[:DISPOSED_AT]->(:Facility)
        |                         AND x STARTS WITH 'u:')
        |  AND s.name STARTS WITH 'R'
        |RETURN s.name AS name""".stripMargin).as[String].collect().toSeq
    assert(mixed === Seq("Restmuell"))
    // uid-STRING lists work the same as identity-struct lists
    val uidList = run(
      """MATCH (s:WasteStream)<-[:DISPOSED_IN]-(w:WasteItem)
        |WITH s, collect(w.uid) AS ids
        |WHERE any(x IN ids WHERE (x)-[:DISPOSED_AT]->(:Facility))
        |RETURN s.name AS name""".stripMargin).as[String].collect().toSeq
    assert(uidList === Seq("Restmuell"))
    // EXISTS {} chain on the lambda variable, inner WHERE on the
    // chain's interior variable
    val chain = run(
      """MATCH (s:WasteStream)<-[:DISPOSED_IN]-(w:WasteItem)
        |WITH s, collect(w) AS items
        |WHERE any(x IN items WHERE EXISTS { (x)-[:DISPOSED_AT]->(f:Facility)
        |                                    WHERE f.name ENDS WITH 'A' })
        |RETURN s.name AS name""".stripMargin).as[String].collect().toSeq
    assert(chain === Seq("Restmuell"))
    // lambda variable in TARGET position (flipped probe): facilities
    // that receive disposals — f1 yes, f2 no
    val target = run(
      """MATCH (f:Facility)
        |WITH collect(f) AS fs
        |WHERE single(x IN fs WHERE (:WasteItem)-[:DISPOSED_AT]->(x))
        |RETURN 'exactly-one' AS tag""".stripMargin).as[String].collect().toSeq
    assert(target === Seq("exactly-one"))
    // VALUE position: the quantifier as a per-row boolean in RETURN
    val valuePos = run(
      """MATCH (s:WasteStream)<-[:DISPOSED_IN]-(w:WasteItem)
        |WITH s, collect(w) AS items
        |RETURN s.name AS name,
        |  any(x IN items WHERE (x)-[:DISPOSED_AT]->(:Facility)) AS flagged
        |ORDER BY name""".stripMargin)
      .as[(String, Boolean)].collect().toSeq
    assert(valuePos === Seq(("Biomuell", false), ("Restmuell", true)))
    // plain-HOF quantifiers (no lambda pattern) keep the codegen route:
    // same query shape, no explode needed — regression check
    val plainHof = run(
      """MATCH (s:WasteStream)<-[:DISPOSED_IN]-(w:WasteItem)
        |WITH s, collect(w.name) AS names
        |WHERE any(x IN names WHERE x STARTS WITH 'A')
        |RETURN s.name AS name""".stripMargin).as[String].collect().toSeq
    assert(plainHof === Seq("Restmuell")) // Asche
  }

  test("collect() and collect(DISTINCT ...) list aggregates") {
    val got = run(
      """MATCH (w:WasteItem)-[:DISPOSED_IN]->(s:WasteStream)
        |RETURN s.name AS stream, collect(w.name) AS items
        |ORDER BY stream""".stripMargin)
      .select($"stream", array_sort($"items"))
      .as[(String, Seq[String])].collect().toSeq
    assert(got === Seq(
      ("Biomuell", Seq("Laub")),
      ("Restmuell", Seq("Asche", "Bauschutt"))))
    // DISTINCT collapses duplicate values: two items share one stream
    val dist = run(
      """MATCH (w:WasteItem)-[:DISPOSED_IN]->(s:WasteStream)
        |RETURN collect(DISTINCT s.name) AS streams""".stripMargin)
      .select(array_sort($"streams")).as[Seq[String]].collect().head
    assert(dist === Seq("Biomuell", "Restmuell"))
  }

  test("orphan anti-join: WHERE NOT (w)-[:DISPOSED_IN|DISPOSED_AT]->() (line 238)") {
    val got = run(
      "MATCH (w:WasteItem) WHERE NOT (w)-[:DISPOSED_IN|DISPOSED_AT]->() RETURN w.name")
      .as[String].collect().toSeq
    assert(got === Seq("Altlack"))
    // same rows as the typed operator it shadows
    val typed = GraphStore.orphans(nodes.filter($"label" === "WasteItem"), edges,
        Seq("DISPOSED_IN", "DISPOSED_AT"))
      .select("name").as[String].collect().toSeq
    assert(got.sorted === typed.sorted)
  }

  test("projection + LIMIT: MATCH (f:Facility) RETURN f.name, f.address LIMIT 20 (line 241)") {
    val df = run("MATCH (f:Facility) RETURN f.name, f.address ORDER BY f.name LIMIT 20")
    assert(df.columns.toSeq === Seq("f.name", "f.address")) // Cypher text naming
    assert(df.collect().map(_.toSeq).toSeq ===
      Seq(Seq("Wertstoffhof A", "Campusallee 1"), Seq("Wertstoffhof B", "Nordring 7")))
  }

  test("untyped rel + type(r)/labels(target)[0]: the line-244 audit query") {
    val got = run(
      """MATCH (w:WasteItem)-[r]->(target)
        |RETURN w.name, type(r), labels(target)[0], target.name
        |ORDER BY w.name, type(r), target.name""".stripMargin)
      .collect().map(_.toSeq).toSeq
    assert(got === Seq(
      Seq("Asche", "DISPOSED_IN", "WasteStream", "Restmuell"),
      Seq("Bauschutt", "DISPOSED_AT", "Facility", "Wertstoffhof A"),
      Seq("Bauschutt", "DISPOSED_IN", "WasteStream", "Restmuell"),
      Seq("Laub", "DISPOSED_IN", "WasteStream", "Biomuell")))
  }

  test("grouped hop: items per stream DESC (line 249) and backward hop (line 254)") {
    val streams = run(
      """MATCH (w:WasteItem)-[:DISPOSED_IN]->(s:WasteStream)
        |RETURN s.name AS stream, count(w) AS items ORDER BY items DESC, stream""".stripMargin)
      .as[(String, Long)].collect().toSeq
    assert(streams === Seq(("Restmuell", 2L), ("Biomuell", 1L)))
    val fac = run(
      """MATCH (f:Facility)<-[:DISPOSED_AT]-(w:WasteItem)
        |RETURN f.name AS facility, count(w) AS items ORDER BY items DESC LIMIT 10""".stripMargin)
      .as[(String, Long)].collect().toSeq
    assert(fac === Seq(("Wertstoffhof A", 1L)))
  }

  test("node/edge counts: the neo4j_db.py stats queries (lines 33/137/142)") {
    assert(run("MATCH (n) RETURN count(n)").as[Long].head() === 8L)
    assert(run("MATCH (n:`WasteItem`) RETURN count(n) as count").as[Long].head() === 4L)
    assert(run("MATCH ()-[r]->() RETURN count(r) as count").as[Long].head() === 4L)
  }

  test("property map + $param substitution (neo4j_db.py params dict)") {
    val got = run(
      "MATCH (w:WasteItem {name: $name})-[:DISPOSED_IN]->(s) RETURN s.name AS stream",
      Map("name" -> "Laub")).as[String].collect().toSeq
    assert(got === Seq("Biomuell"))
  }

  test("comma patterns join on shared variables") {
    val got = run(
      """MATCH (w:WasteItem)-[:DISPOSED_IN]->(s:WasteStream),
        |      (w)-[:DISPOSED_AT]->(f:Facility)
        |RETURN w.name AS item, s.name AS stream, f.name AS facility""".stripMargin)
      .collect().map(_.toSeq).toSeq
    assert(got === Seq(Seq("Bauschutt", "Restmuell", "Wertstoffhof A")))
  }

  test("WHERE battery: comparison, CONTAINS, boolean ops, IS NULL, DISTINCT") {
    assert(run(
      "MATCH (n) WHERE n.name CONTAINS 'hof' AND n.address IS NOT NULL RETURN count(*)")
      .as[Long].head() === 2L)
    assert(run(
      "MATCH (w:WasteItem) WHERE w.name STARTS WITH 'A' OR w.name = 'Laub' RETURN count(*)")
      .as[Long].head() === 3L)
    assert(run(
      "MATCH (w:WasteItem)-[:DISPOSED_IN]->(s) RETURN DISTINCT labels(s)[0] AS l")
      .as[String].collect().toSeq === Seq("WasteStream"))
  }

  test("positive pattern predicate is a semi join") {
    val got = run(
      "MATCH (w:WasteItem) WHERE (w)-[:DISPOSED_AT]->(:Facility) RETURN w.name")
      .as[String].collect().toSeq
    assert(got === Seq("Bauschutt"))
  }

  test("OPTIONAL MATCH: null-padded left join, count skips unmatched (DSL outOptional twin)") {
    val got = run(
      """MATCH (s:WasteStream)
        |OPTIONAL MATCH (w:WasteItem)-[:DISPOSED_IN]->(s)
        |RETURN s.name AS stream, count(w) AS items ORDER BY stream""".stripMargin)
      .as[(String, Long)].collect().toSeq
    assert(got === Seq(("Biomuell", 1L), ("Restmuell", 2L)))
    // a stream nobody uses still appears, with items = 0
    val extraNodes = nodes.unionByName(
      Seq(("WasteStream", "u:s3", "Sondermuell", null.asInstanceOf[String]))
        .toDF("label", "uid", "name", "address"))
    val padded = CypherFrontend.run(
      """MATCH (s:WasteStream)
        |OPTIONAL MATCH (w:WasteItem)-[:DISPOSED_IN]->(s)
        |RETURN s.name AS stream, count(w) AS items ORDER BY stream""".stripMargin,
      extraNodes, edges)
      .as[(String, Long)].collect().toSeq
    assert(padded === Seq(("Biomuell", 1L), ("Restmuell", 2L), ("Sondermuell", 0L)))
  }

  test("randomized equivalence: front-end == typed operators on seeded graphs") {
    val rng = new scala.util.Random(42)
    (1 to 6).foreach { _ =>
      val nNodes = 4 + rng.nextInt(8)
      val ns = (0 until nNodes).map { i =>
        val label = if (rng.nextBoolean()) "A" else "B"
        (label, s"u$i", s"n$i", null.asInstanceOf[String])
      }
      val nodesDf = ns.toDF("label", "uid", "name", "address")
      val es = (0 until nNodes * 2).flatMap { _ =>
        val a = rng.nextInt(nNodes); val b = rng.nextInt(nNodes)
        if (a != b) Some((s"u$a", if (rng.nextBoolean()) "R" else "S", s"u$b")) else None
      }.distinct
      val edgesDf = es.toDF("src_uid", "rel_type", "dst_uid")

      // orphan anti-join == GraphStore.orphans
      val cy = CypherFrontend.run(
        "MATCH (w:A) WHERE NOT (w)-[:R]->() RETURN w.name", nodesDf, edgesDf)
        .as[String].collect().sorted.toSeq
      val typed = GraphStore.orphans(nodesDf.filter($"label" === "A"), edgesDf, Seq("R"))
        .select("name").as[String].collect().sorted.toSeq
      assert(cy === typed, s"orphans diverged on graph: $ns / $es")

      // every single-hop pattern subquery == its braced `WHERE true`
      // form, which compiles the full chain instead of the hop probe.
      // The generated edges join existing nodes only: an edge whose
      // unbound endpoint is no node matches the hop probe but not the
      // chain, by design
      def rows(q: String) = CypherFrontend.run(q, nodesDf, edgesDf)
        .collect().map(_.toSeq.mkString("|")).sorted.toSeq
      for ((hop, braced) <- Seq(
          "(w)-[:R]->()" -> "EXISTS { (w)-[:R]->() WHERE true }",
          "NOT (w)-[:R|S]-()" -> "NOT EXISTS { (w)-[:R|S]-() WHERE true }",
          "(w)-[:R]->(:B) OR w.name = 'n0'" ->
            "EXISTS { (w)-[:R]->(:B) WHERE true } OR w.name = 'n0'",
          "NOT (x:A)-[:S]->(w:A)" -> "NOT EXISTS { (x:A)-[:S]->(w:A) WHERE true }",
          "(w)<-[:R]-(v:B)" -> "EXISTS { (w)<-[:R]-(v:B) WHERE true }")) {
        val q = s"MATCH (w) WHERE %s RETURN w.name"
        assert(rows(q.format(hop)) === rows(q.format(braced)),
          s"$hop diverged from its chain form on graph: $ns / $es")
      }
      for ((hop, braced) <- Seq(
          "COUNT { (w)-[:R|S]-() }" -> "COUNT { (w)-[:R|S]-() WHERE true }",
          "COUNT { (w)-[:R]->(:A) }" -> "COUNT { (w)-[:R]->(:A) WHERE true }",
          "exists((w)<-[:S]-(:A))" -> "EXISTS { (w)<-[:S]-(:A) WHERE true }",
          "exists((w)-[:S]->(v:B))" -> "EXISTS { (w)-[:S]->(v:B) WHERE true }")) {
        val q = s"MATCH (w:A) RETURN w.name, %s AS x"
        assert(rows(q.format(hop)) === rows(q.format(braced)),
          s"$hop diverged from its chain form on graph: $ns / $es")
      }
      // both endpoints bound: the pair correlates
      for (neg <- Seq("", "NOT ")) {
        val q = "MATCH (a:A), (b:B) WHERE %s RETURN a.name, b.name"
        assert(rows(q.format(neg + "(a)-[:R]->(b:B)")) ===
          rows(q.format(neg + "EXISTS { (a)-[:R]->(b:B) WHERE true }")),
          s"$neg(a)-[:R]->(b) diverged from its chain form on graph: $ns / $es")
      }

      // grouped hop == direct DataFrame aggregation
      val cyG = CypherFrontend.run(
        """MATCH (a:A)-[:R]->(b)
          |RETURN b.name AS target, count(a) AS n ORDER BY target""".stripMargin,
        nodesDf, edgesDf).as[(String, Long)].collect().toSeq
      val direct = nodesDf.filter($"label" === "A")
        .join(edgesDf.filter($"rel_type" === "R"), $"uid" === $"src_uid")
        .join(nodesDf.select($"uid".as("dst_uid"), $"name".as("target")), "dst_uid")
        .groupBy("target").agg(count(lit(1)).as("n"))
        .orderBy("target").as[(String, Long)].collect().toSeq
      assert(cyG === direct, s"grouped hop diverged on graph: $ns / $es")

      // shortestPath == reference BFS on the materialized graph: the
      // min depth, and as witness the UTF-8-minimal extension of the
      // previous depth's witnesses
      def cyS() = CypherFrontend.run(
        """MATCH p = shortestPath((a:A)-[:R|S*..4]->(b:B))
          |RETURN a.uid AS src, b.uid AS dst, length(p) AS len, p AS path""".stripMargin,
        nodesDf, edgesDf).as[(String, String, Int, String)].collect().toSet
      def utf8Min(x: String, y: String): String =
        if (java.util.Arrays.compareUnsigned(x.getBytes("UTF-8"), y.getBytes("UTF-8")) <= 0) x
        else y
      def bfs(start: String): Map[String, (Int, String)] = {
        var reached = Map(start -> ((0, start)))
        var frontier = Map(start -> start)
        for (d <- 1 to 4) {
          frontier = frontier.toSeq.flatMap { case (u, w) =>
            es.collect { case (`u`, rel, v) if !reached.contains(v) => v -> s"$w|$rel|$v" }
          }.groupMapReduce(_._1)(_._2)(utf8Min)
          frontier.foreach { case (v, w) => reached += v -> ((d, w)) }
        }
        reached
      }
      val labelOf = ns.map(n => n._2 -> n._1).toMap
      val expected = (for {
        a <- ns if a._1 == "A"
        (b, (d, w)) <- bfs(a._2) if d >= 1 && labelOf(b) == "B"
      } yield (a._2, b, d, w)).toSet
      assert(cyS() === expected, s"shortestPath diverged on graph: $ns / $es")
      // the same rows from the distributed level loop
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try assert(cyS() === expected, s"shortestPath loop diverged on graph: $ns / $es")
      finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("WHERE after OPTIONAL MATCH filters the matches, not the null-padded rows") {
    // Cypher scoping: every stream still appears; only the matches are
    // restricted to w.name = 'Laub'. A post-join filter would drop
    // Restmuell entirely (its matched rows have w.name != 'Laub').
    val got = run(
      """MATCH (s:WasteStream)
        |OPTIONAL MATCH (w:WasteItem)-[:DISPOSED_IN]->(s) WHERE w.name = 'Laub'
        |RETURN s.name AS stream, count(w) AS items ORDER BY stream""".stripMargin)
      .as[(String, Long)].collect().toSeq
    assert(got === Seq(("Biomuell", 1L), ("Restmuell", 0L)))
  }

  test("v IS NULL tests the binding: the Cypher unmatched-rows idiom") {
    val extraNodes = nodes.unionByName(
      Seq(("WasteStream", "u:s3", "Sondermuell", null.asInstanceOf[String]))
        .toDF("label", "uid", "name", "address"))
    val got = CypherFrontend.run(
      """MATCH (s:WasteStream)
        |OPTIONAL MATCH (w:WasteItem)-[:DISPOSED_IN]->(s)
        |RETURN s.name AS stream, count(w) AS items ORDER BY stream""".stripMargin,
      extraNodes, edges)
    assert(got.count() === 3) // sanity: padded group present
    val unmatched = CypherFrontend.run(
      """MATCH (s:WasteStream)
        |OPTIONAL MATCH (w:WasteItem)-[:DISPOSED_IN]->(s)
        |WHERE w.name CONTAINS 'niemals'
        |RETURN DISTINCT s.name AS stream ORDER BY stream""".stripMargin,
      extraNodes, edges).as[String].collect().toSeq
    assert(unmatched === Seq("Biomuell", "Restmuell", "Sondermuell"))
    val isNull = CypherFrontend.run(
      """MATCH (s:WasteStream)
        |OPTIONAL MATCH (w:WasteItem)-[:DISPOSED_IN]->(s)
        |RETURN s.name AS stream, count(w) AS items ORDER BY stream""".stripMargin,
      extraNodes, edges).filter(col("items") === 0).count()
    assert(isNull === 1L)
    // the idiom itself: IS NULL on the variable after the left join
    val idiom = CypherFrontend.run(
      "MATCH (s:WasteStream) OPTIONAL MATCH (w:WasteItem)-[:DISPOSED_IN]->(s) " +
        "WHERE w.name CONTAINS 'x' RETURN s.name AS stream, count(w) AS n ORDER BY stream",
      extraNodes, edges).as[(String, Long)].collect()
    assert(idiom.forall(_._2 == 0L)) // no item contains 'x'; all padded, none dropped
  }

  test("count(DISTINCT r) counts edges, not distinct sources") {
    // u:w1 has TWO outgoing edges — distinct-on-src would report 1
    val cnt = run(
      "MATCH (w:WasteItem {name: 'Bauschutt'})-[r]->(t) RETURN count(DISTINCT r) AS n")
      .as[Long].head()
    assert(cnt === 2L)
  }

  // AVV-style hierarchy for var-length paths: A -> B -> C -> D, plus a
  // diamond A -> X -> C / A -> Y -> C for path multiplicity
  private lazy val chainNodes: DataFrame = Seq(
    ("Cat", "u:a", "A"), ("Cat", "u:b", "B"), ("Cat", "u:c", "C"),
    ("Cat", "u:d", "D"), ("Cat", "u:x", "X"), ("Cat", "u:y", "Y"))
    .toDF("label", "uid", "name")
  private lazy val chainEdges: DataFrame = Seq(
    ("u:a", "CHILD_OF", "u:b"), ("u:b", "CHILD_OF", "u:c"),
    ("u:c", "CHILD_OF", "u:d"),
    ("u:a", "CHILD_OF", "u:x"), ("u:x", "CHILD_OF", "u:c"),
    ("u:a", "CHILD_OF", "u:y"), ("u:y", "CHILD_OF", "u:c"))
    .toDF("src_uid", "rel_type", "dst_uid")

  test("var-length *1..3: union of unrolled depths, walk multiplicity (GraphDSL.outVar twin)") {
    val got = CypherFrontend.run(
      "MATCH (a:Cat {name: 'A'})-[:CHILD_OF*1..3]->(b) RETURN b.name AS n, count(*) AS walks ORDER BY n",
      chainNodes, chainEdges).as[(String, Long)].collect().toSeq
    // depth1: B,X,Y; depth2: C (via B), C (via X), C (via Y); depth3: D + 2×(C->D)... D via B->C->D, X->C->D, Y->C->D
    assert(got === Seq(("B", 1L), ("C", 3L), ("D", 3L), ("X", 1L), ("Y", 1L)))
  }

  // diamond: a→b, a→c, b→d, c→d (two distinct paths a⇒d)
  private lazy val diamondNodes: DataFrame = Seq(
    ("Start", "a", "A"), ("Mid", "b", "B"), ("Mid", "c", "C"), ("End", "d", "D"))
    .toDF("label", "uid", "name")
  private lazy val diamondEdges: DataFrame = Seq(
    ("a", "R", "b"), ("a", "R", "c"), ("b", "R", "d"), ("c", "R", "d"))
    .toDF("src_uid", "rel_type", "dst_uid")

  test("diamond: a two-hop gives one row per path; DISTINCT one") {
    val paths = CypherFrontend.run(
      "MATCH (s:Start)-[:R]->()-[:R]->(x) RETURN x.uid AS uid",
      diamondNodes, diamondEdges).as[String].collect().toSeq
    assert(paths === Seq("d", "d"))
    val distinct = CypherFrontend.run(
      "MATCH (s:Start)-[:R]->()-[:R]->(x) RETURN DISTINCT x.uid AS uid",
      diamondNodes, diamondEdges).as[String].collect().toSeq
    assert(distinct === Seq("d"))
  }

  test("diamond: length(p) over *1..2 counts each walk's hops") {
    val got = CypherFrontend.run(
      "MATCH p = (s:Start)-[:R*1..2]->(x) RETURN length(p) AS hops, x.uid AS uid ORDER BY hops, uid",
      diamondNodes, diamondEdges).as[(Int, String)].collect().toSeq
    // depth 1: b, c; depth 2: d twice (one per path)
    assert(got === Seq((1, "b"), (1, "c"), (2, "d"), (2, "d")))
  }

  test("var-length exact *2 and *..2 bounds") {
    val exact = CypherFrontend.run(
      "MATCH (a:Cat {name: 'A'})-[:CHILD_OF*2]->(b) RETURN DISTINCT b.name AS n ORDER BY n",
      chainNodes, chainEdges).as[String].collect().toSeq
    assert(exact === Seq("C"))
    val upTo = CypherFrontend.run(
      "MATCH (a:Cat {name: 'A'})-[:CHILD_OF*..2]->(b) RETURN DISTINCT b.name AS n ORDER BY n",
      chainNodes, chainEdges).as[String].collect().toSeq
    assert(upTo === Seq("B", "C", "X", "Y"))
  }

  test("var-length guardrails: bare * is the fixpoint closure; deep unroll and bound rel var rejected") {
    // bare `*` compiles to the reachability fixpoint (no longer
    // rejected): from A the full closure, one level deeper than the
    // *..2 window sees
    val star = CypherFrontend.run(
      "MATCH (a:Cat {name: 'A'})-[:CHILD_OF*]->(b) RETURN DISTINCT b.name AS n ORDER BY n",
      chainNodes, chainEdges).as[String].collect().toSeq
    assert(star === Seq("B", "C", "D", "X", "Y"))
    val e2 = intercept[IllegalArgumentException](CypherFrontend.run(
      "MATCH (a)-[:CHILD_OF*1..20]->(b) RETURN b.name", chainNodes, chainEdges))
    assert(e2.getMessage.contains("unbounded"))
    // a BOUND var-length binding is now legal (size(r) projects) —
    // the round-7 frontier test covers it; only unbounded stays out
    val e3 = intercept[IllegalArgumentException](CypherFrontend.run(
      "MATCH (a)-[r:CHILD_OF*]->(b) RETURN size(r)", chainNodes, chainEdges))
    assert(e3.getMessage.contains("unbounded"))
  }

  test("WITH aggregate + WHERE (HAVING) + continuation MATCH on the carried variable") {
    val got = run(
      """MATCH (w:WasteItem)-[:DISPOSED_IN]->(s:WasteStream)
        |WITH s, count(w) AS n WHERE n >= 2
        |MATCH (w2:WasteItem)-[:DISPOSED_IN]->(s)
        |RETURN s.name AS stream, n, count(w2) AS again""".stripMargin)
      .as[(String, Long, Long)].collect().toSeq
    // only Restmuell has >= 2 items; re-matching finds the same 2
    assert(got === Seq(("Restmuell", 2L, 2L)))
  }

  test("WITH DISTINCT projection narrows the frame; scalar alias flows to RETURN/ORDER BY") {
    val got = run(
      """MATCH (w:WasteItem)-[r]->(t)
        |WITH DISTINCT t
        |RETURN labels(t)[0] AS l, count(*) AS c ORDER BY l""".stripMargin)
      .as[(String, Long)].collect().toSeq
    assert(got === Seq(("Facility", 1L), ("WasteStream", 2L)))
    val scalar = run(
      """MATCH (w:WasteItem)-[:DISPOSED_IN]->(s:WasteStream)
        |WITH s.name AS stream, count(w) AS n
        |RETURN stream, n ORDER BY n DESC, stream""".stripMargin)
      .as[(String, Long)].collect().toSeq
    assert(scalar === Seq(("Restmuell", 2L), ("Biomuell", 1L)))
  }

  test("WITH items that are not bare variables require AS aliases") {
    val e = intercept[IllegalArgumentException](run(
      "MATCH (w:WasteItem) WITH w.name RETURN w"))
    assert(e.getMessage.contains("AS alias"))
  }

  test("writes are rejected with a pointer to the sinks") {
    val e = intercept[IllegalArgumentException] {
      run("MATCH (n) DETACH DELETE n")
    }
    assert(e.getMessage.contains("GraphDb.query"))
    intercept[IllegalArgumentException] {
      run("MERGE (c:Container {uid: 'x'}) RETURN c")
    }
  }

  test("chained WITH stages: aggregate, re-project, HAVING at each step") {
    val got = run(
      """MATCH (w:WasteItem)-[:DISPOSED_IN]->(s:WasteStream)
        |WITH s, count(w) AS items
        |WITH s, items WHERE items >= 2
        |RETURN s.name AS stream, items""".stripMargin)
      .as[(String, Long)].collect().toSeq
    assert(got === Seq(("Restmuell", 2L)))
  }

  test("UNWIND a literal list, correlate the MATCH via WHERE") {
    val got = run(
      """UNWIND ['Restmuell', 'Biomuell', 'Sondermuell'] AS nm
        |MATCH (s:WasteStream) WHERE s.name = nm
        |RETURN nm, s.uid AS uid ORDER BY nm""".stripMargin)
      .as[(String, String)].collect().toSeq
    // Sondermuell matches nothing → inner-join semantics drop it
    assert(got === Seq(("Biomuell", "u:s2"), ("Restmuell", "u:s1")))
  }

  test("UNWIND $param list (the driver's parameterized batch-lookup idiom)") {
    val got = run(
      """UNWIND $names AS nm
        |MATCH (w:WasteItem) WHERE w.name = nm
        |RETURN nm ORDER BY nm""".stripMargin,
      Map("names" -> Seq("Asche", "Laub", "Niemals")))
      .as[String].collect().toSeq
    assert(got === Seq("Asche", "Laub"))
  }

  test("UNWIND a collect() alias re-expands the grouped list") {
    val got = run(
      """MATCH (w:WasteItem)-[:DISPOSED_IN]->(s:WasteStream)
        |WITH s, collect(w.name) AS names
        |UNWIND names AS nm
        |RETURN s.name AS stream, nm ORDER BY stream, nm""".stripMargin)
      .as[(String, String)].collect().toSeq
    assert(got === Seq(("Biomuell", "Laub"),
      ("Restmuell", "Asche"), ("Restmuell", "Bauschutt")))
  }

  test("CASE searched form, and conditional aggregation via sum(CASE...)") {
    val got = run(
      """MATCH (w:WasteItem)-[:DISPOSED_IN]->(s:WasteStream)
        |WITH s, count(w) AS items
        |RETURN s.name AS stream,
        |  CASE WHEN items >= 2 THEN 'busy' ELSE 'quiet' END AS status
        |ORDER BY stream""".stripMargin)
      .as[(String, String)].collect().toSeq
    assert(got === Seq(("Biomuell", "quiet"), ("Restmuell", "busy")))
    val agg = run(
      """MATCH (n)
        |RETURN sum(CASE WHEN labels(n)[0] = 'WasteItem' THEN 1 ELSE 0 END) AS items,
        |  sum(CASE WHEN labels(n)[0] = 'Facility' THEN 1 ELSE 0 END) AS facilities""".stripMargin)
      .as[(Long, Long)].collect().head
    assert(agg === ((4L, 2L)))
  }

  test("CASE simple form compares the operand to each WHEN value") {
    val got = run(
      """MATCH (s:WasteStream)
        |RETURN s.name AS stream,
        |  CASE s.name WHEN 'Restmuell' THEN 'grau' WHEN 'Biomuell' THEN 'braun' END AS bin
        |ORDER BY stream""".stripMargin)
      .as[(String, String)].collect().toSeq
    assert(got === Seq(("Biomuell", "braun"), ("Restmuell", "grau")))
  }

  test("IN over list literals and $param lists") {
    val lits = run(
      "MATCH (w:WasteItem) WHERE w.name IN ['Asche', 'Laub'] RETURN w.name AS n ORDER BY n")
      .as[String].collect().toSeq
    assert(lits === Seq("Asche", "Laub"))
    val par = run(
      "MATCH (w:WasteItem) WHERE NOT w.name IN $xs RETURN w.name AS n ORDER BY n",
      Map("xs" -> Seq("Asche", "Laub")))
      .as[String].collect().toSeq
    assert(par === Seq("Altlack", "Bauschutt"))
  }

  test("arithmetic: precedence, unary minus, grouping parens, modulo") {
    val got = run(
      """MATCH (w:WasteItem)-[:DISPOSED_IN]->(s:WasteStream)
        |WITH s, count(w) AS items
        |RETURN s.name AS stream, items * 10 + 1 AS scaled,
        |  (items + 1) * 2 AS grouped, items % 2 AS parity
        |ORDER BY stream""".stripMargin)
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(got === Seq(("Biomuell", 11L, 4L, 1L), ("Restmuell", 21L, 6L, 0L)))
    val neg = run("MATCH (s:WasteStream) RETURN count(*) AS c, -2 + 1 AS m")
      .as[(Long, Long)].collect().head
    assert(neg === ((2L, -1L)))
  }

  test("WITH ORDER BY + LIMIT: top-N mid-pipeline, then continue matching") {
    val got = run(
      """MATCH (w:WasteItem)-[:DISPOSED_IN]->(s:WasteStream)
        |WITH s, count(w) AS items ORDER BY items DESC, s.name LIMIT 1
        |MATCH (x:WasteItem)-[:DISPOSED_IN]->(s)
        |RETURN s.name AS stream, x.name AS item ORDER BY item""".stripMargin)
      .as[(String, String)].collect().toSeq
    assert(got === Seq(("Restmuell", "Asche"), ("Restmuell", "Bauschutt")))
    // SKIP past the top row instead
    val skipped = run(
      """MATCH (w:WasteItem)-[:DISPOSED_IN]->(s:WasteStream)
        |WITH s, count(w) AS items ORDER BY items DESC, s.name SKIP 1
        |RETURN s.name AS stream, items""".stripMargin)
      .as[(String, Long)].collect().toSeq
    assert(skipped === Seq(("Biomuell", 1L)))
  }

  test("scalar function battery: case, substring, replace, casts, coalesce, id") {
    val got = run(
      """MATCH (f:Facility)
        |RETURN toLower(f.name) AS lo, toUpper(left(f.name, 4)) AS up,
        |  substring(f.name, 0, 5) AS sub, replace(f.address, 'allee', 'weg') AS addr,
        |  coalesce(f.address, 'n/a') AS addr2, id(f) AS uid
        |ORDER BY lo""".stripMargin)
      .as[(String, String, String, String, String, String)].collect().toSeq
    assert(got === Seq(
      ("wertstoffhof a", "WERT", "Werts", "Campusweg 1", "Campusallee 1", "u:f1"),
      ("wertstoffhof b", "WERT", "Werts", "Nordring 7", "Nordring 7", "u:f2")))
    val nums = run(
      """MATCH (s:WasteStream)
        |RETURN count(*) AS c, abs(-3) AS a, floor(2.7) AS fl, ceil(2.1) AS ce,
        |  round(2.456, 2) AS r2, toInteger('42') AS i""".stripMargin)
      .as[(Long, Long, Long, Long, Double, Long)].collect().head
    assert(nums === ((2L, 3L, 2L, 3L, 2.46, 42L)))
  }

  test("split + UNWIND + size: list functions round-trip") {
    val got = run(
      """MATCH (f:Facility {uid: 'u:f1'})
        |UNWIND split(f.name, 'stoff') AS part
        |RETURN part ORDER BY part""".stripMargin)
      .as[String].collect().toSeq
    assert(got === Seq("Wert", "hof A"))
    val sz = run(
      """MATCH (w:WasteItem)-[:DISPOSED_IN]->(s:WasteStream)
        |WITH s, collect(w.name) AS names
        |RETURN s.name AS stream, size(names) AS n ORDER BY stream""".stripMargin)
      .as[(String, Long)].collect().toSeq
    assert(sz.map { case (k, v) => (k, v) } === Seq(("Biomuell", 1L), ("Restmuell", 2L)))
  }

  test("shortestPath: min hop count, diamond collapses to the short arc") {
    val got = run(
      """MATCH p = shortestPath((w:WasteItem)-[:DISPOSED_IN|DISPOSED_AT*..3]->(t))
        |RETURN w.name AS item, labels(t)[0] AS target, length(p) AS len
        |ORDER BY item, target""".stripMargin)
      .as[(String, String, Int)].collect().toSeq
    assert(got === Seq(
      ("Asche", "WasteStream", 1), ("Bauschutt", "Facility", 1),
      ("Bauschutt", "WasteStream", 1), ("Laub", "WasteStream", 1)))
    // diamond: a→b→c (len 2) AND a→c (len 1) → shortest is 1
    val dn = Seq(("N", "a", "x", null.asInstanceOf[String]),
      ("N", "b", "y", null.asInstanceOf[String]),
      ("N", "c", "z", null.asInstanceOf[String]))
      .toDF("label", "uid", "name", "address")
    val de = Seq(("a", "R", "b"), ("b", "R", "c"), ("a", "R", "c"))
      .toDF("src_uid", "rel_type", "dst_uid")
    val diamond = CypherFrontend.run(
      """MATCH p = shortestPath((s:N {uid: 'a'})-[:R*..4]->(t:N {uid: 'c'}))
        |RETURN length(p) AS len""".stripMargin, dn, de)
      .as[Int].collect().toSeq
    assert(diamond === Seq(1))
    // guardrails: the pattern needs one var-length hop
    val e = intercept[IllegalArgumentException](run(
      "MATCH p = shortestPath((a)-[:DISPOSED_IN]->(b)) RETURN length(p) AS l"))
    assert(e.getMessage.contains("var-length"))
  }

  test("aggregates nest inside expressions: count(*) * 2, ratios, CASE") {
    val got = run(
      """MATCH (w:WasteItem)-[:DISPOSED_IN]->(s:WasteStream)
        |RETURN s.name AS stream, count(*) * 2 AS dbl,
        |  toFloat(count(w)) / 4 AS ratio,
        |  CASE WHEN count(*) >= 2 THEN 'busy' ELSE 'quiet' END AS status
        |ORDER BY stream""".stripMargin)
      .as[(String, Long, Double, String)].collect().toSeq
    assert(got === Seq(("Biomuell", 2L, 0.25, "quiet"),
      ("Restmuell", 4L, 0.5, "busy")))
    // the same lift in WITH, with a structural-dedup check
    // (count(*) appears twice but computes once)
    val w = run(
      """MATCH (w:WasteItem)-[:DISPOSED_IN]->(s:WasteStream)
        |WITH s, count(*) + count(*) AS twice
        |RETURN s.name AS stream, twice ORDER BY stream""".stripMargin)
      .as[(String, Long)].collect().toSeq
    assert(w === Seq(("Biomuell", 2L), ("Restmuell", 4L)))
    // global (keyless) nested aggregate
    val g = run("MATCH (n) RETURN count(*) * 10 AS c10")
      .as[Long].collect().toSeq
    assert(g === Seq(80L))
  }

  test("EXISTS { pattern } subquery: the braced modern form of the pattern predicate") {
    val got = run(
      """MATCH (w:WasteItem) WHERE EXISTS { (w)-[:DISPOSED_AT]->(:Facility) }
        |RETURN w.name AS n""".stripMargin)
      .as[String].collect().toSeq
    assert(got === Seq("Bauschutt"))
    val neg = run(
      """MATCH (w:WasteItem) WHERE NOT EXISTS { (w)-[:DISPOSED_IN|DISPOSED_AT]->() }
        |RETURN w.name AS n""".stripMargin)
      .as[String].collect().toSeq
    assert(neg === Seq("Altlack"))
  }

  test("ORDER BY a non-returned expression sorts pre-projection") {
    val got = run(
      """MATCH (w:WasteItem)-[:DISPOSED_IN]->(s:WasteStream)
        |RETURN w.name AS item ORDER BY s.name DESC, w.name""".stripMargin)
      .as[String].collect().toSeq
    // sorted by stream (Restmuell > Biomuell) then item, but only the
    // item column is returned
    assert(got === Seq("Asche", "Bauschutt", "Laub"))
    // aggregation destroys non-output columns → clear rejection
    val e = intercept[IllegalArgumentException](run(
      """MATCH (w:WasteItem)-[:DISPOSED_IN]->(s:WasteStream)
        |RETURN s.name AS stream, count(*) AS n ORDER BY w.name""".stripMargin))
    assert(e.getMessage.contains("returned items"))
  }

  test("=~ is a FULL regex match, not find-anywhere") {
    val got = run(
      "MATCH (n) WHERE n.name =~ 'Wertstoffhof .' RETURN n.name AS n ORDER BY n")
      .as[String].collect().toSeq
    assert(got === Seq("Wertstoffhof A", "Wertstoffhof B"))
    // 'schutt' appears INSIDE Bauschutt; a full match must reject it
    assert(run("MATCH (n) WHERE n.name =~ 'schutt' RETURN n.name AS n").count() === 0)
    assert(run("MATCH (n) WHERE n.name =~ '.*schutt' RETURN n.name AS n")
      .as[String].collect().toSeq === Seq("Bauschutt"))
  }

  test("XOR binds between OR and AND") {
    val got = run(
      """MATCH (n:WasteItem)
        |WHERE n.name = 'Asche' XOR n.name STARTS WITH 'A'
        |RETURN n.name AS n ORDER BY n""".stripMargin)
      .as[String].collect().toSeq
    assert(got === Seq("Altlack")) // Asche: true XOR true = false
  }

  test("size() measures strings in chars and lists in elements") {
    val s = run("MATCH (n:WasteItem {name: 'Asche'}) RETURN size(n.name) AS c")
      .as[Long].collect().toSeq
    assert(s === Seq(5L))
    val l = run("MATCH (n:WasteItem) RETURN size(collect(n.name)) AS c")
      .as[Long].collect().toSeq
    assert(l === Seq(4L))
    val sp = run("MATCH (f:Facility {name: 'Wertstoffhof A'}) " +
      "RETURN size(split(f.name, ' ')) AS c").as[Long].collect().toSeq
    assert(sp === Seq(2L))
  }

  test("postfix [i] indexes any list expression, 0-based, negative from the end") {
    val got = run(
      "MATCH (f:Facility) RETURN split(f.name, ' ')[1] AS t ORDER BY t")
      .as[String].collect().toSeq
    assert(got === Seq("A", "B"))
    val last = run(
      "MATCH (f:Facility {name: 'Wertstoffhof B'}) RETURN split(f.name, ' ')[-1] AS t")
      .as[String].collect().toSeq
    assert(last === Seq("B"))
  }

  test("list comprehension filters and maps via codegen'd higher-order functions") {
    val got = run(
      """MATCH (f:Facility {name: 'Wertstoffhof A'})
        |RETURN [x IN split(f.address, ' ') WHERE size(x) > 1 | toUpper(x)] AS parts""".stripMargin)
      .as[Seq[String]].collect().head
    assert(got === Seq("CAMPUSALLEE")) // '1' filtered by size > 1
  }

  test("reduce() folds a list; range() is inclusive; UNWIND takes any list expression") {
    val r = run("UNWIND [1] AS one RETURN reduce(acc = 0, x IN range(1, 4) | acc + x) AS s")
      .as[Long].collect().toSeq
    assert(r === Seq(10L))
    val u = run("UNWIND range(2, 6, 2) AS i RETURN i ORDER BY i")
      .as[Long].collect().toSeq
    assert(u === Seq(2L, 4L, 6L))
  }

  test("properties() maps only the SET properties; keys() lists them") {
    val p = run("MATCH (f:Facility {name: 'Wertstoffhof B'}) RETURN properties(f) AS p")
      .as[Map[String, String]].collect().head
    assert(p === Map("name" -> "Wertstoffhof B", "address" -> "Nordring 7"))
    // w4 has no address — absent props must not appear
    val k = run("MATCH (w:WasteItem {name: 'Altlack'}) RETURN keys(w) AS k")
      .as[Seq[String]].collect().head
    assert(k === Seq("name"))
  }

  test("named path: length(p) counts hops across fixed and var-length chains") {
    val fixed = run(
      """MATCH p = (w:WasteItem {name: 'Bauschutt'})-[:DISPOSED_IN]->(s)
        |RETURN s.name AS s, length(p) AS len""".stripMargin)
      .as[(String, Int)].collect().toSeq
    assert(fixed === Seq(("Restmuell", 1)))
    // var-length: every walk of 1..2 hops out of w1 (graph is a DAG of
    // depth 1 from items, so only depth-1 walks exist)
    val varlen = run(
      """MATCH p = (w:WasteItem {name: 'Bauschutt'})-[*1..2]->(x)
        |RETURN x.name AS x, length(p) AS len ORDER BY x""".stripMargin)
      .as[(String, Int)].collect().toSeq
    assert(varlen === Seq(("Restmuell", 1), ("Wertstoffhof A", 1)))
    // unbounded * with a named path is refused (length not finite)
    val e = intercept[IllegalArgumentException](run(
      "MATCH p = (w:WasteItem)-[*]->(x) RETURN length(p) AS l"))
    assert(e.getMessage.contains("bound the range"))
  }

  test("round-6 frontier: label predicate, quantifiers, CASE in WHERE") {
    // n:Label in WHERE — no pattern label needed
    val byPred = run("MATCH (n) WHERE n:WasteStream RETURN n.name AS name ORDER BY name")
      .as[String].collect().toSeq
    assert(byPred === Seq("Biomuell", "Restmuell"))
    // quantified list predicates over the filter higher-order function
    val q = run(
      """MATCH (w:WasteItem)
        |WHERE all(x IN [1, 2] WHERE x > 0) AND any(y IN [0, 1] WHERE y = 1)
        |  AND none(z IN [1] WHERE z < 0) AND single(u IN [1, 2] WHERE u = 2)
        |RETURN count(*) AS n""".stripMargin).as[Long].head()
    assert(q === 4) // vacuous-true quantifiers keep all 4 items
    assert(run(
      "MATCH (w:WasteItem) WHERE single(u IN [2, 2] WHERE u = 2) RETURN count(*) AS n")
      .as[Long].head() === 0) // two matches: single() is false
    // CASE as a parenthesized expression under a comparison
    val c = run(
      """MATCH (n) WHERE (CASE WHEN n.address IS NULL THEN 0 ELSE 1 END) = 1
        |RETURN count(*) AS n""".stripMargin).as[Long].head()
    assert(c === 2) // the two facilities carry addresses
  }

  test("round-6 frontier: head/last, power, map projection, EXISTS long form") {
    val hl = run(
      """MATCH (f:Facility) WHERE f.name ENDS WITH 'A'
        |RETURN head(split(f.name, ' ')) AS h, last(split(f.name, ' ')) AS l""".stripMargin)
      .as[(String, String)].head()
    assert(hl === ("Wertstoffhof", "A"))
    // ^ is right-associative: 2^3^2 = 2^9 = 512
    assert(run("UNWIND [1] AS i RETURN 2 ^ 3 ^ 2 AS p").as[Double].head() === 512.0)
    // map projection: the selected property subset, nulls kept
    val m = run("MATCH (f:Facility) RETURN f {.name, .address} AS m ORDER BY f.name LIMIT 1")
      .as[Map[String, String]].head()
    assert(m === Map("name" -> "Wertstoffhof A", "address" -> "Campusallee 1"))
    // EXISTS { MATCH ... } long form = the brace pattern predicate
    val ex = run(
      """MATCH (w:WasteItem) WHERE EXISTS { MATCH (w)-[:DISPOSED_AT]->(:Facility) }
        |RETURN w.name AS name""".stripMargin).as[String].collect().toSeq
    assert(ex === Seq("Bauschutt"))
  }

  test("round-6 frontier: uncorrelated CALL subquery") {
    // head position: seeds the frame
    val atHead = run(
      "CALL { MATCH (s:WasteStream) RETURN count(s) AS ns } RETURN ns")
      .as[Long].head()
    assert(atHead === 2)
    // mid-pipeline: the 1-row aggregate cross-multiplies by broadcast
    val mid = run(
      """MATCH (w:WasteItem)-[:DISPOSED_IN]->(s)
        |CALL { MATCH (f:Facility) RETURN count(f) AS nf }
        |RETURN w.name AS w, nf ORDER BY w""".stripMargin)
      .as[(String, Long)].collect().toSeq
    assert(mid === Seq(("Asche", 2L), ("Bauschutt", 2L), ("Laub", 2L)))
  }

  test("round-7 frontier: correlated CALL { WITH ... } subqueries") {
    // RETURN-only body: the imports alone seed the inner frame
    val names = run(
      "MATCH (w:WasteItem) CALL { WITH w RETURN w.name AS x } RETURN x ORDER BY x")
      .as[String].collect().toSeq
    assert(names === Seq("Altlack", "Asche", "Bauschutt", "Laub"))
    // per-binding keyless aggregate: counts group by the import key;
    // a binding with zero matches KEEPS its row (Neo4j semantics: an
    // aggregating subquery returns exactly one row per binding)
    val counts = run(
      """MATCH (s:WasteStream)
        |CALL { WITH s
        |  MATCH (w:WasteItem)-[:DISPOSED_IN]->(s)
        |  RETURN count(w) AS c }
        |RETURN s.name AS stream, c ORDER BY stream""".stripMargin)
      .as[(String, Long)].collect().toSeq
    assert(counts === Seq(("Biomuell", 1L), ("Restmuell", 2L)))
    // zero-match binding (Wertstoffhof B has no DISPOSED_AT edges):
    // count → 0, sum/arith-over-count folds at zero rows, min → null,
    // collect → [] — exactly Neo4j's empty-aggregation values
    val zeroMatch = run(
      """MATCH (f:Facility)
        |CALL { WITH f
        |  MATCH (w:WasteItem)-[:DISPOSED_AT]->(f)
        |  RETURN count(w) AS c, min(w.name) AS firstw,
        |    collect(w.name) AS ws, count(w) * 10 + 1 AS scaled }
        |RETURN f.name AS fac, c, firstw, ws, scaled ORDER BY fac""".stripMargin)
      .as[(String, Long, Option[String], Seq[String], Long)].collect().toSeq
    assert(zeroMatch === Seq(
      ("Wertstoffhof A", 1L, Some("Bauschutt"), Seq("Bauschutt"), 11L),
      ("Wertstoffhof B", 0L, None, Seq.empty[String], 1L)))
    // non-aggregate bodies keep the openCypher inner-join contract:
    // zero subquery rows eliminates the outer row
    val nonAgg = run(
      """MATCH (f:Facility)
        |CALL { WITH f
        |  MATCH (w:WasteItem)-[:DISPOSED_AT]->(f)
        |  RETURN w.name AS item }
        |RETURN f.name AS fac, item ORDER BY fac""".stripMargin)
      .as[(String, String)].collect().toSeq
    assert(nonAgg === Seq(("Wertstoffhof A", "Bauschutt")))
    // per-binding ORDER BY + LIMIT = top-k per import key (the
    // Graph-RAG retrieval idiom) — one row_number window, no driver loop
    val topk = run(
      """MATCH (s:WasteStream)
        |CALL { WITH s
        |  MATCH (w:WasteItem)-[:DISPOSED_IN]->(s)
        |  RETURN w.name AS item ORDER BY item LIMIT 1 }
        |RETURN s.name AS stream, item ORDER BY stream""".stripMargin)
      .as[(String, String)].collect().toSeq
    assert(topk === Seq(("Biomuell", "Laub"), ("Restmuell", "Asche")))
    // scalar-alias import, correlated via WHERE (equi-join, no cartesian)
    val scalarImp = run(
      """MATCH (s:WasteStream) WITH s.name AS sname
        |CALL { WITH sname
        |  MATCH (w:WasteItem)-[:DISPOSED_IN]->(x:WasteStream)
        |  WHERE x.name = sname
        |  RETURN count(w) AS c }
        |RETURN sname, c ORDER BY sname""".stripMargin)
      .as[(String, Long)].collect().toSeq
    assert(scalarImp === Seq(("Biomuell", 1L), ("Restmuell", 2L)))
    // unbound imports and output-name shadowing stay rejected
    val e1 = intercept[IllegalArgumentException](run(
      "MATCH (w:WasteItem) CALL { WITH z RETURN z.name AS x } RETURN x"))
    assert(e1.getMessage.contains("not bound"))
    val e2 = intercept[IllegalArgumentException](run(
      """MATCH (w:WasteItem)
        |CALL { MATCH (f:Facility) RETURN count(f) AS w }
        |RETURN w.name AS n""".stripMargin))
    assert(e2.getMessage.contains("already bound"))
    // correlated LIMIT without ORDER BY is nondeterministic — rejected
    val e3 = intercept[IllegalArgumentException](run(
      """MATCH (s:WasteStream)
        |CALL { WITH s MATCH (w:WasteItem)-[:DISPOSED_IN]->(s)
        |  RETURN w.name AS item LIMIT 1 }
        |RETURN item""".stripMargin))
    assert(e3.getMessage.contains("ORDER BY"))
  }

  test("round-7 frontier: correlated CALL with interior WITH stages") {
    // the correlation key threads through a projection that drops the
    // imported variable
    val t1 = run(
      """MATCH (s:WasteStream)
        |CALL { WITH s
        |  MATCH (w:WasteItem)-[:DISPOSED_IN]->(s)
        |  WITH w.name AS item
        |  RETURN item ORDER BY item LIMIT 1 }
        |RETURN s.name AS stream, item ORDER BY stream""".stripMargin)
      .as[(String, String)].collect().toSeq
    assert(t1 === Seq(("Biomuell", "Laub"), ("Restmuell", "Asche")))
    // an interior aggregate groups PER BINDING even when the import is
    // dropped from the projection
    val t2 = run(
      """MATCH (s:WasteStream)
        |CALL { WITH s
        |  MATCH (w:WasteItem)-[:DISPOSED_IN]->(s)
        |  WITH count(w) AS c
        |  RETURN c }
        |RETURN s.name AS stream, c ORDER BY stream""".stripMargin)
      .as[(String, Long)].collect().toSeq
    assert(t2 === Seq(("Biomuell", 1L), ("Restmuell", 2L)))
    // interior WITH ... ORDER BY ... LIMIT paginates per binding
    val t3 = run(
      """MATCH (s:WasteStream)
        |CALL { WITH s
        |  MATCH (w:WasteItem)-[:DISPOSED_IN]->(s)
        |  WITH w.name AS item ORDER BY item DESC LIMIT 1
        |  RETURN item }
        |RETURN s.name AS stream, item ORDER BY stream""".stripMargin)
      .as[(String, String)].collect().toSeq
    assert(t3 === Seq(("Biomuell", "Laub"), ("Restmuell", "Bauschutt")))
  }

  test("round-7 frontier: OPTIONAL shortestPath and pattern predicates under OR") {
    // only w1 reaches a Facility; the others keep their row null-padded
    val opt = run(
      """MATCH (w:WasteItem)
        |OPTIONAL MATCH p = shortestPath((w)-[:DISPOSED_IN|DISPOSED_AT*..2]->(f:Facility))
        |RETURN w.name AS item, coalesce(f.name, 'none') AS target,
        |  coalesce(length(p), -1) AS len
        |ORDER BY item""".stripMargin)
      .as[(String, String, Long)].collect().toSeq
    assert(opt === Seq(
      ("Altlack", "none", -1L),
      ("Asche", "none", -1L),
      ("Bauschutt", "Wertstoffhof A", 1L),
      ("Laub", "none", -1L)))
    // pattern predicates under OR, with NOT inside the disjunction:
    // w1 (has DISPOSED_AT) plus every node with no outgoing disposal
    // edge at all (w4, both streams, both facilities)
    val or = run(
      """MATCH (x)
        |WHERE (x)-[:DISPOSED_AT]->(:Facility) OR NOT (x)-[:DISPOSED_IN|DISPOSED_AT]->()
        |RETURN x.name AS name ORDER BY name""".stripMargin)
      .as[String].collect().toSeq
    assert(or === Seq("Altlack", "Bauschutt", "Biomuell", "Restmuell",
      "Wertstoffhof A", "Wertstoffhof B"))
    // the flags compose with plain predicates under XOR too
    val mixed = run(
      """MATCH (w:WasteItem)
        |WHERE (w)-[:DISPOSED_IN]->(:WasteStream) XOR w.name = 'Altlack'
        |RETURN count(*) AS c""".stripMargin).as[Long].head()
    assert(mixed === 4) // w1..w3 via the pattern, w4 via the name
  }

  test("round-7 frontier: binding a var-length relationship projects size(r)") {
    val got = run(
      """MATCH (w:WasteItem)-[r:DISPOSED_IN|DISPOSED_AT*1..2]->(t)
        |RETURN w.name AS item, t.name AS target, size(r) AS hops
        |ORDER BY item, target""".stripMargin)
      .as[(String, String, Int)].collect().toSeq
    // the graph is depth-1: every walk has exactly one hop
    assert(got === Seq(
      ("Asche", "Restmuell", 1),
      ("Bauschutt", "Restmuell", 1),
      ("Bauschutt", "Wertstoffhof A", 1),
      ("Laub", "Biomuell", 1)))
    // unbounded '*' carries no per-walk list — binding stays rejected
    val e1 = intercept[IllegalArgumentException](run(
      "MATCH (w)-[r:DISPOSED_IN*]->(t) RETURN size(r)"))
    assert(e1.getMessage.contains("unbounded"))
    // round 8: the hop list ITSELF materializes — (src, rel_type, dst)
    // structs in walk order; r[i] indexes it
    val hops = run(
      """MATCH (w:WasteItem {name: 'Bauschutt'})-[r:DISPOSED_IN*1..2]->(t)
        |RETURN r AS walk, r[0] AS first""".stripMargin)
      .select(col("walk.rel_type"), col("first.src"), col("first.dst"))
      .as[(Seq[String], String, String)].collect().toSeq
    assert(hops === Seq((Seq("DISPOSED_IN"), "u:w1", "u:s1")))
    // a 2-hop walk lists both hops in order (chain graph A->B->C)
    val two = CypherFrontend.run(
      """MATCH (a:Cat {name: 'A'})-[r:CHILD_OF*2]->(b:Cat {name: 'C'})
        |RETURN b.name AS n, r[0] AS h0, r[1] AS h1""".stripMargin,
      chainNodes, chainEdges)
      .select(col("h0.src"), col("h0.dst"), col("h1.src"), col("h1.dst"))
      .as[(String, String, String, String)].collect().toSeq.sorted
    assert(two === Seq(
      ("u:a", "u:b", "u:b", "u:c"),
      ("u:a", "u:x", "u:x", "u:c"),
      ("u:a", "u:y", "u:y", "u:c")))
  }

  test("round-7 frontier: COUNT {} subqueries; pattern predicates in OPTIONAL WHERE") {
    // COUNT {} in WHERE: a degree threshold EXISTS cannot express
    val deg = run(
      """MATCH (s:WasteStream)
        |WHERE COUNT { (s)<-[:DISPOSED_IN]-(:WasteItem) } >= 2
        |RETURN s.name AS name""".stripMargin).as[String].collect().toSeq
    assert(deg === Seq("Restmuell"))
    // COUNT {} as a RETURN item: per-row degree, zero for no matches
    val ret = run(
      """MATCH (w:WasteItem)
        |RETURN w.name AS item,
        |  COUNT { (w)-[:DISPOSED_IN|DISPOSED_AT]->() } AS d
        |ORDER BY item""".stripMargin)
      .as[(String, Long)].collect().toSeq
    assert(ret === Seq(("Altlack", 0L), ("Asche", 1L),
      ("Bauschutt", 2L), ("Laub", 1L)))
    // COUNT {} as a WITH item feeding a HAVING-style WHERE
    val via = run(
      """MATCH (w:WasteItem)
        |WITH w.name AS item, COUNT { (w)-[:DISPOSED_IN]->() } AS d
        |WHERE d = 1
        |RETURN item ORDER BY item""".stripMargin).as[String].collect().toSeq
    assert(via === Seq("Asche", "Bauschutt", "Laub"))
    // pattern predicate in an OPTIONAL MATCH WHERE filters the matches
    // INSIDE the left join — unmatched streams keep a null-padded row
    val opt = run(
      """MATCH (s:WasteStream)
        |OPTIONAL MATCH (w:WasteItem)-[:DISPOSED_IN]->(s)
        |WHERE (w)-[:DISPOSED_AT]->(:Facility)
        |RETURN s.name AS stream, w.name AS item ORDER BY stream""".stripMargin)
      .collect().map(r => (r.getString(0), Option(r.getString(1)))).toSeq
    assert(opt === Seq(("Biomuell", None), ("Restmuell", Some("Bauschutt"))))
  }

  test("round-7 frontier: multi-hop EXISTS { } pattern subqueries") {
    // inner WHERE filters the existential match: streams receiving a
    // 'B'-item
    val b = run(
      """MATCH (s:WasteStream)
        |WHERE EXISTS { (w:WasteItem)-[:DISPOSED_IN]->(s) WHERE w.name STARTS WITH 'B' }
        |RETURN s.name AS n ORDER BY n""".stripMargin).as[String].collect().toSeq
    assert(b === Seq("Restmuell"))
    // the shared variable may sit at the chain's TAIL (reverse probe)
    val f = run(
      """MATCH (f:Facility)
        |WHERE EXISTS { (w:WasteItem)-[:DISPOSED_AT]->(f) }
        |RETURN f.name AS n""".stripMargin).as[String].collect().toSeq
    assert(f === Seq("Wertstoffhof A"))
    // comma chains inside EXISTS join on their shared inner variable
    val both = run(
      """MATCH (f:Facility)
        |WHERE EXISTS { (o:WasteItem)-[:DISPOSED_AT]->(f),
        |  (o)-[:DISPOSED_IN]->(x:WasteStream {name: 'Restmuell'}) }
        |RETURN f.name AS n""".stripMargin).as[String].collect().toSeq
    assert(both === Seq("Wertstoffhof A"))
    // NOT EXISTS anti-joins on the same distinct probe
    val not = run(
      """MATCH (s:WasteStream)
        |WHERE NOT EXISTS { (w:WasteItem)-[:DISPOSED_IN]->(s) WHERE w.name = 'Laub' }
        |RETURN s.name AS n""".stripMargin).as[String].collect().toSeq
    assert(not === Seq("Restmuell"))
    // an existential that shares nothing with the outer scope is refused
    val e = intercept[IllegalArgumentException](run(
      """MATCH (s:WasteStream)
        |WHERE EXISTS { (w:WasteItem)-[:DISPOSED_AT]->(:Facility) }
        |RETURN s.name""".stripMargin))
    assert(e.getMessage.contains("share"))
  }

  test("round-7 frontier: undirected relationships match both orientations") {
    // fixed hop: a stream reaches its items against the edge direction
    val items = run(
      """MATCH (s:WasteStream {name: 'Restmuell'})-[:DISPOSED_IN]-(w:WasteItem)
        |RETURN w.name AS n ORDER BY n""".stripMargin).as[String].collect().toSeq
    assert(items === Seq("Asche", "Bauschutt"))
    // undirected var-length (walk semantics: immediate backtrack is a
    // legal walk, the engine-wide divergence from Neo4j's relationship
    // uniqueness — so the start node itself appears at depth 2)
    val two = run(
      """MATCH (w:WasteItem {name: 'Bauschutt'})-[:DISPOSED_IN|DISPOSED_AT*1..2]-(t)
        |RETURN DISTINCT t.name AS n ORDER BY n""".stripMargin)
      .as[String].collect().toSeq
    assert(two === Seq("Asche", "Bauschutt", "Restmuell", "Wertstoffhof A"))
    // undirected shortestPath: item → stream → item → facility
    val sp = run(
      """MATCH p = shortestPath((a:WasteItem {name: 'Asche'})-[:DISPOSED_IN|DISPOSED_AT*..3]-(b:Facility))
        |RETURN b.name AS n, length(p) AS l""".stripMargin)
      .as[(String, Int)].collect().toSeq
    assert(sp === Seq(("Wertstoffhof A", 3)))
    // undirected pattern predicate and COUNT {} probe both endpoints
    val deg = run(
      "MATCH (x) WHERE (x)-[:DISPOSED_IN]-() RETURN count(*) AS c")
      .as[Long].head()
    assert(deg === 5L) // three items + both streams
    val cnt = run(
      """MATCH (s:WasteStream)
        |RETURN s.name AS n, COUNT { (s)-[:DISPOSED_IN]-() } AS d
        |ORDER BY n""".stripMargin).as[(String, Long)].collect().toSeq
    assert(cnt === Seq(("Biomuell", 1L), ("Restmuell", 2L)))
  }

  test("round-7 frontier: multi-hop COUNT { } counts matches per binding") {
    // comma chains: per stream, items that ALSO dispose at a facility
    val cnt = run(
      """MATCH (s:WasteStream)
        |RETURN s.name AS n,
        |  COUNT { (w:WasteItem)-[:DISPOSED_IN]->(s),
        |          (w)-[:DISPOSED_AT]->(:Facility) } AS d
        |ORDER BY n""".stripMargin).as[(String, Long)].collect().toSeq
    assert(cnt === Seq(("Biomuell", 0L), ("Restmuell", 1L))) // only w1
    // an inner WHERE routes the chain form (trailing tokens after the
    // single pattern), counting only the filtered matches
    val wh = run(
      """MATCH (f:Facility)
        |WHERE COUNT { (w:WasteItem)-[:DISPOSED_AT]->(f)
        |  WHERE w.name STARTS WITH 'B' } = 1
        |RETURN f.name AS n""".stripMargin).as[String].collect().toSeq
    assert(wh === Seq("Wertstoffhof A"))
  }

  test("round-8 frontier: multi-hop EXISTS { } under OR / XOR / mixed boolean trees") {
    // chains as flag columns: reachable one way OR the other — the
    // Graph-RAG "retrievable via either route" idiom. Restmuell gets a
    // 'B'-item; Biomuell gets an item that also disposes at a facility?
    // (no — only w1 does, and w1 is in Restmuell) → only Restmuell
    val or = run(
      """MATCH (s:WasteStream)
        |WHERE EXISTS { (w:WasteItem)-[:DISPOSED_IN]->(s) WHERE w.name STARTS WITH 'B' }
        |   OR EXISTS { (o:WasteItem)-[:DISPOSED_IN]->(s),
        |               (o)-[:DISPOSED_AT]->(:Facility) }
        |RETURN s.name AS n ORDER BY n""".stripMargin).as[String].collect().toSeq
    assert(or === Seq("Restmuell"))
    // one arm true for each stream → both survive the OR
    val or2 = run(
      """MATCH (s:WasteStream)
        |WHERE EXISTS { (w:WasteItem)-[:DISPOSED_IN]->(s) WHERE w.name = 'Laub' }
        |   OR EXISTS { (o:WasteItem)-[:DISPOSED_IN]->(s) WHERE o.name = 'Asche' }
        |RETURN s.name AS n ORDER BY n""".stripMargin).as[String].collect().toSeq
    assert(or2 === Seq("Biomuell", "Restmuell"))
    // NOT over an OR'd chain, mixed with a plain predicate
    val mixed = run(
      """MATCH (s:WasteStream)
        |WHERE NOT EXISTS { (w:WasteItem)-[:DISPOSED_IN]->(s) WHERE w.name = 'Laub' }
        |   AND (s.name CONTAINS 'muell' OR EXISTS { (x)-[:DISPOSED_IN]->(s) })
        |RETURN s.name AS n""".stripMargin).as[String].collect().toSeq
    assert(mixed === Seq("Restmuell"))
    // XOR: exactly one of the two chains holds
    val xor = run(
      """MATCH (s:WasteStream)
        |WHERE EXISTS { (w:WasteItem)-[:DISPOSED_IN]->(s) }
        |  XOR EXISTS { (w2:WasteItem)-[:DISPOSED_IN]->(s) WHERE w2.name = 'Laub' }
        |RETURN s.name AS n""".stripMargin).as[String].collect().toSeq
    assert(xor === Seq("Restmuell")) // Biomuell: true XOR true = false
  }

  test("round-8 frontier: COLLECT { } subqueries build per-binding lists") {
    // per stream, its item names (no ORDER BY → ascending by value,
    // the engine's deterministic default)
    val lists = run(
      """MATCH (s:WasteStream)
        |RETURN s.name AS stream,
        |  COLLECT { (w:WasteItem)-[:DISPOSED_IN]->(s) RETURN w.name } AS items
        |ORDER BY stream""".stripMargin)
      .as[(String, Seq[String])].collect().toSeq
    assert(lists === Seq(
      ("Biomuell", Seq("Laub")),
      ("Restmuell", Seq("Asche", "Bauschutt"))))
    // inner ORDER BY DESC + LIMIT: top-1 per binding; a facility with
    // zero matches keeps its row with an EMPTY list (not null)
    val top = run(
      """MATCH (f:Facility)
        |RETURN f.name AS fac,
        |  COLLECT { (w:WasteItem)-[:DISPOSED_AT]->(f)
        |    RETURN w.name ORDER BY w.name DESC LIMIT 1 } AS top
        |ORDER BY fac""".stripMargin)
      .as[(String, Seq[String])].collect().toSeq
    assert(top === Seq(
      ("Wertstoffhof A", Seq("Bauschutt")),
      ("Wertstoffhof B", Seq.empty)))
    // inner WHERE + reduce() over the collected list; size() in WHERE
    val red = run(
      """MATCH (s:WasteStream)
        |WHERE size(COLLECT { (w:WasteItem)-[:DISPOSED_IN]->(s)
        |  WHERE w.name STARTS WITH 'B' RETURN w.name }) >= 1
        |RETURN s.name AS stream,
        |  reduce(acc = 0, x IN COLLECT { (w:WasteItem)-[:DISPOSED_IN]->(s)
        |    RETURN size(w.name) } | acc + x) AS chars""".stripMargin)
      .as[(String, Long)].collect().toSeq
    assert(red === Seq(("Restmuell", 14L))) // Asche(5) + Bauschutt(9)
    // 2-hop chain body: per facility, the streams its items also use
    val chain2 = run(
      """MATCH (f:Facility)
        |RETURN f.name AS fac,
        |  COLLECT { (w:WasteItem)-[:DISPOSED_AT]->(f),
        |            (w)-[:DISPOSED_IN]->(x:WasteStream)
        |    RETURN x.name } AS streams
        |ORDER BY fac""".stripMargin)
      .as[(String, Seq[String])].collect().toSeq
    assert(chain2 === Seq(
      ("Wertstoffhof A", Seq("Restmuell")),
      ("Wertstoffhof B", Seq.empty)))
  }

  test("round-8 frontier: allShortestPaths keeps every tied shortest walk") {
    // diamond: A reaches C in 2 hops via B, X, or Y — three tied paths
    val all = CypherFrontend.run(
      """MATCH p = allShortestPaths((a:Cat {name: 'A'})-[:CHILD_OF*..3]->(b:Cat {name: 'C'}))
        |RETURN b.name AS n, length(p) AS len""".stripMargin,
      chainNodes, chainEdges).as[(String, Long)].collect().toSeq
    assert(all === Seq.fill(3)(("C", 2L)))
    // shortestPath collapses the same pairs to ONE row each
    val one = CypherFrontend.run(
      """MATCH p = shortestPath((a:Cat {name: 'A'})-[:CHILD_OF*..3]->(b:Cat {name: 'C'}))
        |RETURN b.name AS n, length(p) AS len""".stripMargin,
      chainNodes, chainEdges).as[(String, Long)].collect().toSeq
    assert(one === Seq(("C", 2L)))
    // longer walks to the same pair (A->B->C->D vs tied A->*->C->D) do
    // not survive; D has three tied 3-hop paths
    val d = CypherFrontend.run(
      """MATCH p = allShortestPaths((a:Cat {name: 'A'})-[:CHILD_OF*..3]->(b:Cat {name: 'D'}))
        |RETURN count(*) AS paths, min(length(p)) AS len""".stripMargin,
      chainNodes, chainEdges).as[(Long, Long)].collect().head
    assert(d === ((3L, 3L)))
    // unbounded allShortestPaths is rejected with a pointer
    val e = intercept[IllegalArgumentException](CypherFrontend.run(
      "MATCH p = allShortestPaths((a:Cat)-[:CHILD_OF*]->(b)) RETURN length(p)",
      chainNodes, chainEdges))
    assert(e.getMessage.contains("bounded"))
  }

  test("round-8 frontier: pattern predicates and EXISTS chains in expression positions") {
    // CASE condition in a RETURN item: the flag column rides the
    // projection (the former column-only refusal)
    val tags = run(
      """MATCH (w:WasteItem)
        |RETURN w.name AS name,
        |  CASE WHEN (w)-[:DISPOSED_AT]->(:Facility) THEN 'facility'
        |       WHEN (w)-[:DISPOSED_IN]->() THEN 'stream'
        |       ELSE 'orphan' END AS route
        |ORDER BY name""".stripMargin)
      .as[(String, String)].collect().toSeq
    assert(tags === Seq(("Altlack", "orphan"), ("Asche", "stream"),
      ("Bauschutt", "facility"), ("Laub", "stream")))
    // CASE over pattern flags as a GROUPING key under aggregation
    val grouped = run(
      """MATCH (w:WasteItem)
        |RETURN CASE WHEN (w)-[:DISPOSED_IN]->() THEN 'routed'
        |       ELSE 'orphan' END AS tag, count(*) AS n
        |ORDER BY tag""".stripMargin)
      .as[(String, Long)].collect().toSeq
    assert(grouped === Seq(("orphan", 1L), ("routed", 3L)))
    // multi-hop EXISTS chain inside a WITH item's CASE; the alias
    // then filters downstream (HAVING shape)
    val withCase = run(
      """MATCH (s:WasteStream)
        |WITH s, CASE WHEN EXISTS { (w:WasteItem)-[:DISPOSED_IN]->(s),
        |                           (w)-[:DISPOSED_AT]->(:Facility) }
        |        THEN 1 ELSE 0 END AS reachable
        |WHERE reachable = 1
        |RETURN s.name AS name""".stripMargin)
      .as[String].collect().toSeq
    assert(withCase === Seq("Restmuell"))
    // pattern predicate inside OPTIONAL MATCH WHERE still filters the
    // matches, not the rows (regression guard for the shared machinery)
    val opt = run(
      """MATCH (s:WasteStream)
        |OPTIONAL MATCH (w:WasteItem)-[:DISPOSED_IN]->(s)
        |  WHERE (w)-[:DISPOSED_AT]->(:Facility)
        |RETURN s.name AS name, count(w) AS n ORDER BY name""".stripMargin)
      .as[(String, Long)].collect().toSeq
    assert(opt === Seq(("Biomuell", 0L), ("Restmuell", 1L)))
  }

  test("round-8 frontier: an undirected self-loop matches once (Neo4j parity)") {
    val loopEdges = edges.unionByName(
      Seq(("u:s1", "FEEDS", "u:s1")).toDF("src_uid", "rel_type", "dst_uid"))
    // fixed undirected hop: one row for the loop, not two
    val m = CypherFrontend.run(
      "MATCH (a:WasteStream)-[:FEEDS]-(b) RETURN count(*) AS c",
      nodes, loopEdges).as[Long].head()
    assert(m === 1L)
    // undirected COUNT {} degree and pattern-predicate probe agree
    val d = CypherFrontend.run(
      "MATCH (s:WasteStream {name: 'Restmuell'}) RETURN COUNT { (s)-[:FEEDS]-() } AS d",
      nodes, loopEdges).as[Long].head()
    assert(d === 1L)
    val p = CypherFrontend.run(
      "MATCH (x) WHERE (x)-[:FEEDS]-() RETURN count(*) AS c",
      nodes, loopEdges).as[Long].head()
    assert(p === 1L)
  }

  test("pipeline aliases cannot leak into property maps") {
    val e = intercept[RuntimeException](run(
      """UNWIND ['Restmuell'] AS nm
        |MATCH (s:WasteStream {name: nm}) RETURN s.uid""".stripMargin))
    assert(e.getMessage.contains("WHERE"))
    // and a truly disconnected MATCH is still refused
    val e2 = intercept[IllegalArgumentException](run(
      """MATCH (w:WasteItem) MATCH (f:Facility) RETURN count(*) AS c"""))
    assert(e2.getMessage.contains("cross product"))
  }

  test("ORDER BY sorts null as the LARGEST value (Neo4j null ordering)") {
    // ascending: the two facilities with addresses come first; the six
    // address-less nodes sort LAST (Spark's default would lead with them)
    val asc = run(
      "MATCH (n) RETURN n.name AS name, n.address AS addr ORDER BY addr LIMIT 2")
      .as[(String, String)].collect().toSeq
    assert(asc === Seq(("Wertstoffhof A", "Campusallee 1"),
      ("Wertstoffhof B", "Nordring 7")))
    // descending: nulls FIRST (null is largest)
    val desc = run(
      "MATCH (n) RETURN n.address AS addr ORDER BY addr DESC LIMIT 6")
      .as[String].collect().toSeq
    assert(desc.count(_ == null) === 6)
  }

  test("Cypher + concatenates strings and lists, adds numbers (static types)") {
    val row = run(
      """MATCH (f:Facility {name: 'Wertstoffhof A'})
        |RETURN f.name + '!' AS bang,
        |  'at: ' + f.address AS at,
        |  f.name + 1 AS mixed,
        |  [1] + [2, 3] AS lst,
        |  [1, 2] + 3 AS lstel,
        |  1 + 2 AS num""".stripMargin)
      .collect().head
    assert(row.getString(0) === "Wertstoffhof A!")
    assert(row.getString(1) === "at: Campusallee 1")
    assert(row.getString(2) === "Wertstoffhof A1") // string side wins
    assert(row.getSeq[Long](3) === Seq(1L, 2L, 3L))
    assert(row.getSeq[Long](4) === Seq(1L, 2L, 3L))
    assert(row.getLong(5) === 3L)
  }

  test("pattern comprehensions are COLLECT {} sugar (ordered, empty-refilled)") {
    val got = run(
      """MATCH (s:WasteStream)
        |RETURN s.name AS s,
        |  [(w:WasteItem)-[:DISPOSED_IN]->(s) | w.name] AS ws,
        |  [(w:WasteItem)-[:DISPOSED_IN]->(s)
        |    WHERE w.name STARTS WITH 'A' | toLower(w.name)] AS a_ws,
        |  size([(x)-[:DISPOSED_AT]->(s) | x.name]) AS at_deg
        |ORDER BY s""".stripMargin)
      .as[(String, Seq[String], Seq[String], Int)].collect().toSeq
    assert(got === Seq(
      ("Biomuell", Seq("Laub"), Seq(), 0),
      ("Restmuell", Seq("Asche", "Bauschutt"), Seq("asche"), 0)))
    // backtracking: a parenthesized first element is still a list literal
    val lit = run("MATCH (f:Facility) RETURN [(1+2), 3] AS xs LIMIT 1")
      .as[Seq[Long]].head()
    assert(lit === Seq(3L, 3L))
  }

  test("stDev / stDevP / percentileCont / percentileDisc (Neo4j contracts)") {
    val row = run(
      """UNWIND [2, 4, 4, 4, 5, 5, 7, 9] AS x
        |RETURN round(stDev(x), 6) AS sd, stDevP(x) AS sdp,
        |  percentileCont(x, 0.5) AS med, percentileDisc(x, 0.5) AS medd""".stripMargin)
      .collect().head
    assert(row.getDouble(0) === 2.13809) // sample: n-1
    assert(row.getDouble(1) === 2.0) // population: n
    assert(row.getDouble(2) === 4.5) // interpolated
    assert(row.getLong(3) === 4L) // nearest-rank: ceil(0.5*8) = 4th value
    // percentileDisc at a boundary fraction: ceil(0.25*4) = 1st value
    val d25 = run(
      "UNWIND [10, 20, 30, 40] AS x RETURN percentileDisc(x, 0.25) AS p")
      .as[Long].head()
    assert(d25 === 10L)
  }

  test("var-length / multi-hop bare pattern predicates and rel property maps") {
    // only Bauschutt reaches a Facility within 2 hops (direct edge)
    val reach = run(
      """MATCH (w:WasteItem) WHERE (w)-[*1..2]->(:Facility)
        |RETURN w.name AS w""".stripMargin).as[String].collect().toSeq
    assert(reach === Seq("Bauschutt"))
    // bound target pairs each item with ITS stream (1 hop)
    val pairs = run(
      """MATCH (w:WasteItem) MATCH (s:WasteStream)
        |WHERE (w)-[*1..1]->(s)
        |RETURN w.name AS w, s.name AS s ORDER BY w""".stripMargin)
      .as[(String, String)].collect().toSeq
    assert(pairs === Seq(("Asche", "Restmuell"), ("Bauschutt", "Restmuell"),
      ("Laub", "Biomuell")))
    // multi-hop bare predicate without EXISTS keyword
    val two = run(
      """MATCH (w:WasteItem)
        |WHERE NOT (w)-[:DISPOSED_IN]->()-[:FEEDS]->()
        |RETURN count(*) AS c""".stripMargin).as[Long].head()
    assert(two === 4L) // no FEEDS edges: nothing matches, NOT keeps all
    // relationship property maps filter on the edge frame's columns
    val propEdges = Seq(
      ("u:w1", "DISPOSED_IN", "u:s1", 2L),
      ("u:w2", "DISPOSED_IN", "u:s1", 1L))
      .toDF("src_uid", "rel_type", "dst_uid", "weight")
    val byProp = CypherFrontend.run(
      "MATCH (a)-[r:DISPOSED_IN {weight: 2}]->(b) RETURN a.name AS a",
      nodes, propEdges).as[String].collect().toSeq
    assert(byProp === Seq("Bauschutt"))
    // pipeline aliases still cannot leak into rel property maps
    val e = intercept[RuntimeException](CypherFrontend.run(
      """UNWIND [2] AS k MATCH (a)-[r:DISPOSED_IN {weight: k}]->(b)
        |RETURN a.name AS a""".stripMargin, nodes, propEdges))
    assert(e.getMessage.contains("WHERE"))
  }

  test("bound-target pattern predicates: set difference and OR flags") {
    // items NOT disposed in Restmuell: w3 (Biomuell) and w4 (orphan)
    val diff = run(
      """MATCH (w:WasteItem) MATCH (s:WasteStream {name: 'Restmuell'})
        |WHERE NOT (w)-[:DISPOSED_IN]->(s)
        |RETURN w.name AS w ORDER BY w""".stripMargin)
      .as[String].collect().toSeq
    assert(diff === Seq("Altlack", "Laub"))
    // positive form under OR compiles to a two-key flag column
    val or = run(
      """MATCH (w:WasteItem) MATCH (s:WasteStream {name: 'Biomuell'})
        |WHERE (w)-[:DISPOSED_IN]->(s) OR w.name = 'Asche'
        |RETURN w.name AS w ORDER BY w""".stripMargin)
      .as[String].collect().toSeq
    assert(or === Seq("Asche", "Laub"))
    // EXISTS {} with a bound target correlates the pair too
    val ex = run(
      """MATCH (w:WasteItem) MATCH (f:Facility)
        |WHERE EXISTS { (w)-[:DISPOSED_AT]->(f) }
        |RETURN w.name AS w, f.name AS f""".stripMargin)
      .as[(String, String)].collect().toSeq
    assert(ex === Seq(("Bauschutt", "Wertstoffhof A")))
    // an UNCORRELATED disconnected pair is still refused
    val e = intercept[IllegalArgumentException](run(
      "MATCH (w:WasteItem) MATCH (f:Facility) WHERE w.name = 'Asche' RETURN w.name"))
    assert(e.getMessage.contains("cross product"))
  }

  test("RETURN * / WITH * expand to the named scope; entity functions") {
    val star = run(
      """MATCH (w:WasteItem)-[:DISPOSED_IN]->(s:WasteStream)
        |WITH w.name AS item, s.name AS stream
        |RETURN * ORDER BY item""".stripMargin)
    assert(star.columns.toSeq === Seq("item", "stream"))
    assert(star.count() === 3)
    // WITH * carries pattern vars forward for later MATCHes
    val carried = run(
      """MATCH (w:WasteItem {name: 'Bauschutt'}) WITH *
        |MATCH (w)-[:DISPOSED_AT]->(f) RETURN f.name AS f""".stripMargin)
      .as[String].collect().toSeq
    assert(carried === Seq("Wertstoffhof A"))
    val fns = run(
      """MATCH (w:WasteItem {name: 'Bauschutt'})-[r:DISPOSED_IN]->(s)
        |RETURN labels(w) AS ls, reverse(w.name) AS rev,
        |  reverse([1, 2, 3]) AS rl""".stripMargin).collect().head
    assert(fns.getSeq[String](0) === Seq("WasteItem"))
    assert(fns.getString(1) === "ttuhcsuaB")
    assert(fns.getSeq[Long](2) === Seq(3L, 2L, 1L))
    // startNode/endNode need carried endpoint labels on the edge frame
    val labeled = edges.unionByName(edges.limit(0))
      .withColumn("src_label", lit("WasteItem"))
      .withColumn("dst_label",
        when(col("rel_type") === "DISPOSED_AT", "Facility")
          .otherwise("WasteStream"))
    val ends = CypherFrontend.run(
      """MATCH ()-[r:DISPOSED_AT]->()
        |RETURN [x IN [startNode(r), endNode(r)] | x.label] AS ls""".stripMargin,
      nodes, labeled).as[Seq[String]].head()
    assert(ends === Seq("WasteItem", "Facility"))
    // chained comparisons desugar to AND of adjacent pairs
    val chain = run(
      "UNWIND [1, 2, 3] AS x WITH x WHERE 1 < x <= 2 RETURN x")
      .as[Long].collect().toSeq
    assert(chain === Seq(2L))
  }

  test("nodes(p) / relationships(p) on fixed-length named paths") {
    val got = run(
      """MATCH p = (w:WasteItem)-[:DISPOSED_IN]->(s:WasteStream)
        |RETURN w.name AS w, [x IN nodes(p) | x.label] AS ls,
        |  [e IN relationships(p) | e.rel_type] AS rs, length(p) AS len
        |ORDER BY w""".stripMargin)
      .as[(String, Seq[String], Seq[String], Int)].collect().toSeq
    assert(got.map(_._1) === Seq("Asche", "Bauschutt", "Laub"))
    assert(got.forall(_._2 === Seq("WasteItem", "WasteStream")))
    assert(got.forall(_._3 === Seq("DISPOSED_IN")))
    assert(got.forall(_._4 === 1))
    // var-length walks refuse with a pointer (interior isn't columns)
    val e = intercept[RuntimeException](run(
      "MATCH p = (w:WasteItem)-[:DISPOSED_IN*1..2]->(x) RETURN nodes(p) AS ns"))
    assert(e.getMessage.contains("fixed-length"))
  }

  test("list range slices (0-based, end-exclusive, clamped) and map literals") {
    val row = run(
      """MATCH (f:Facility {name: 'Wertstoffhof A'})
        |RETURN [1,2,3,4,5][1..3] AS mid, [1,2,3][..2] AS head2,
        |  [1,2,3][1..] AS tail2, [1,2,3,4][-2..] AS last2,
        |  [1,2,3][1..99] AS clampedHi, [1,2,3][-9..1] AS clampedLo,
        |  [1,2,3][2..1] AS emptyRange,
        |  {name: f.name, deg: 1 + 1} AS m""".stripMargin)
      .collect().head
    assert(row.getSeq[Long](0) === Seq(2L, 3L))
    assert(row.getSeq[Long](1) === Seq(1L, 2L))
    assert(row.getSeq[Long](2) === Seq(2L, 3L))
    assert(row.getSeq[Long](3) === Seq(3L, 4L))
    assert(row.getSeq[Long](4) === Seq(2L, 3L))
    assert(row.getSeq[Long](5) === Seq(1L))
    assert(row.getSeq[Long](6) === Seq())
    val m = row.getStruct(7)
    assert(m.getAs[String]("name") === "Wertstoffhof A")
    assert(m.getAs[Long]("deg") === 2L)
    // slicing a property-derived list + expression bounds
    val got = run(
      """MATCH (s:WasteStream) WITH s, size(s.name) - 7 AS k
        |RETURN s.name AS n, split(s.name, 'm')[0..k] AS pre ORDER BY n""".stripMargin)
      .as[(String, Seq[String])].collect().toSeq
    assert(got.map(_._1) === Seq("Biomuell", "Restmuell"))
  }

  test("exists(n.prop), toBoolean, and bare boolean predicates") {
    val withAddr = run(
      "MATCH (n) WHERE exists(n.address) RETURN count(*) AS c").as[Long].head()
    assert(withAddr === 2L)
    // bare WITH-bound boolean alias as the whole predicate
    val viaAlias = run(
      """MATCH (n) WITH n, exists(n.address) AS has
        |WHERE has RETURN count(*) AS c""".stripMargin).as[Long].head()
    assert(viaAlias === 2L)
    val tb = run(
      "MATCH (f:Facility) WHERE toBoolean('true') RETURN count(*) AS c")
      .as[Long].head()
    assert(tb === 2L)
    // exists() in a RETURN item (expression position)
    val flags = run(
      """MATCH (n:Facility) RETURN n.name AS name, exists(n.address) AS has
        |ORDER BY name""".stripMargin)
      .as[(String, Boolean)].collect().toSeq
    assert(flags === Seq(("Wertstoffhof A", true), ("Wertstoffhof B", true)))
  }

  test("var-length relationship property maps filter EVERY hop (g77)") {
    // an all-DISPOSED_IN map keeps only the 1-hop item→stream walks;
    // w1's DISPOSED_AT hop and any 2-hop continuation are filtered out
    val g = run(
      """MATCH (w:WasteItem)-[r*1..2 {rel_type: 'DISPOSED_IN'}]->(t)
        |RETURN w.name AS w, t.name AS t, size(r) AS hops ORDER BY w""".stripMargin)
      .as[(String, String, Int)].collect().toSeq
    assert(g === Seq(("Asche", "Restmuell", 1),
      ("Bauschutt", "Restmuell", 1), ("Laub", "Biomuell", 1)))
    // the unbounded reachability closure applies the map per hop too
    val open = run(
      """MATCH (w:WasteItem)-[* {rel_type: 'DISPOSED_AT'}]->(t)
        |RETURN w.name AS w, t.name AS t""".stripMargin)
      .as[(String, String)].collect().toSeq
    assert(open === Seq(("Bauschutt", "Wertstoffhof A")))
    // shortestPath's BFS draws from the filtered edge set
    val sp = run(
      """MATCH p = shortestPath((w:WasteItem)-[*1..3 {rel_type: 'DISPOSED_IN'}]->(t))
        |RETURN w.name AS w, t.name AS t, length(p) AS len ORDER BY w""".stripMargin)
      .as[(String, String, Int)].collect().toSeq
    assert(sp === Seq(("Asche", "Restmuell", 1),
      ("Bauschutt", "Restmuell", 1), ("Laub", "Biomuell", 1)))
    // a non-matching map yields zero walks, not an error
    assert(run(
      "MATCH (w)-[r*1..2 {rel_type: 'NOPE'}]->(t) RETURN w.name AS w")
      .count() === 0)
  }

  test("pattern existence as a VALUE: RETURN item, CASE result, aggregation key (g78)") {
    // legacy exists(pattern) as a RETURN item
    val g1 = run(
      """MATCH (w:WasteItem)
        |RETURN w.name AS name, exists((w)-[:DISPOSED_IN]->(:WasteStream)) AS d
        |ORDER BY name""".stripMargin)
      .as[(String, Boolean)].collect().toSeq
    assert(g1 === Seq(("Altlack", false), ("Asche", true),
      ("Bauschutt", true), ("Laub", true)))
    // as a GROUPING key under aggregation
    val g2 = run(
      """MATCH (w:WasteItem)
        |RETURN exists((w)-[:DISPOSED_IN]->()) AS d, count(*) AS n ORDER BY d""".stripMargin)
      .as[(Boolean, Long)].collect().toSeq
    assert(g2 === Seq((false, 1L), (true, 3L)))
    // EXISTS { } in a CASE RESULT (not condition) position
    val g3 = run(
      """MATCH (w:WasteItem)
        |RETURN w.name AS name,
        |  CASE WHEN w.name STARTS WITH 'A'
        |       THEN EXISTS { (w)-[:DISPOSED_IN]->(:WasteStream) }
        |       ELSE false END AS flag
        |ORDER BY name""".stripMargin)
      .as[(String, Boolean)].collect().toSeq
    assert(g3 === Seq(("Altlack", false), ("Asche", true),
      ("Bauschutt", false), ("Laub", false)))
    // a chain subquery (inner WHERE) as a value — rides the EXISTS
    // chain flag machinery
    val g4 = run(
      """MATCH (s:WasteStream)
        |RETURN s.name AS name,
        |  EXISTS { (w:WasteItem)-[:DISPOSED_IN]->(s) WHERE w.name = 'Asche' } AS hasAsche
        |ORDER BY name""".stripMargin)
      .as[(String, Boolean)].collect().toSeq
    assert(g4 === Seq(("Biomuell", false), ("Restmuell", true)))
  }

  test("pattern predicate: a written label on a BOUND target endpoint still binds") {
    // (x existential)-[:DISPOSED_IN]->(t:WasteStream): label agrees
    val ok = run(
      """MATCH (t) WHERE (x)-[:DISPOSED_IN]->(t:WasteStream)
        |RETURN t.name AS name ORDER BY name""".stripMargin)
      .as[String].collect().toSeq
    assert(ok === Seq("Biomuell", "Restmuell"))
    // label contradicts the bound node: no DISPOSED_IN edge targets a
    // Facility — zero rows, not the label-dropped stream set
    assert(run(
      """MATCH (t) WHERE (x)-[:DISPOSED_IN]->(t:Facility)
        |RETURN t.name AS name""".stripMargin).count() === 0)
    // NOT form keeps label-failing endpoints: NOT(edge AND label)
    val n = run(
      """MATCH (t) WHERE NOT (x)-[:DISPOSED_IN]->(t:Facility)
        |RETURN count(*) AS n""".stripMargin).as[Long].head()
    assert(n === 8L)
    // flag-column route (under OR): same label enforcement
    val or = run(
      """MATCH (t) WHERE (x)-[:DISPOSED_IN]->(t:Facility) OR t.name = 'Altlack'
        |RETURN t.name AS name ORDER BY name""".stripMargin)
      .as[String].collect().toSeq
    assert(or === Seq("Altlack"))
  }

  test("RETURN * / WITH * include rel, var-length and path variables (Neo4j scope)") {
    // a fixed rel variable rides * as its identity struct
    val r1 = run(
      "MATCH (w:WasteItem)-[r:DISPOSED_IN]->(s) RETURN * ORDER BY w.name")
    assert(r1.columns.sorted.toSeq === Seq("r", "s", "w"))
    assert(r1.count() === 3)
    // WITH * carries a named path's bookkeeping so length(p) resolves
    val r2 = run(
      """MATCH p = (w:WasteItem)-[:DISPOSED_IN]->(s)
        |WITH * RETURN w.name AS n, length(p) AS len ORDER BY n""".stripMargin)
      .as[(String, Int)].collect().toSeq
    assert(r2 === Seq(("Asche", 1), ("Bauschutt", 1), ("Laub", 1)))
    // a var-length binding surfaces its hop list through * and WITH *
    val r3 = run(
      "MATCH (w:WasteItem)-[r*1..1]->(t:WasteStream) RETURN * ORDER BY w.name")
    assert(r3.columns.sorted.toSeq === Seq("r", "t", "w"))
    val r4 = run(
      """MATCH (w:WasteItem)-[r*1..2]->(t:WasteStream)
        |WITH * RETURN w.name AS n, size(r) AS k ORDER BY n""".stripMargin)
      .as[(String, Int)].collect().toSeq
    assert(r4 === Seq(("Asche", 1), ("Bauschutt", 1), ("Laub", 1)))
    // a bare path under * projects its canonical serialized value
    // (round-10: the r9 refusal closed by the pathstr column)
    val r5 = run(
      "MATCH p = (w:WasteItem)-[:DISPOSED_IN]->(s) RETURN * ORDER BY w.name")
    assert(r5.columns.sorted.toSeq === Seq("p", "s", "w"))
    assert(r5.select("p").as[String].collect().toSeq === // Asche, Bauschutt, Laub
      Seq("u:w2|DISPOSED_IN|u:s1", "u:w1|DISPOSED_IN|u:s1", "u:w3|DISPOSED_IN|u:s2"))
  }

  test("RETURN p: canonical path values for fixed and var-length paths (g81)") {
    // fixed-length: pure column concat, uid|rel_type|uid in walk order
    val fixed = run(
      """MATCH p = (w:WasteItem)-[:DISPOSED_IN]->(s:WasteStream)
        |RETURN p AS path ORDER BY path""".stripMargin)
      .as[String].collect().toSeq
    assert(fixed === Seq(
      "u:w1|DISPOSED_IN|u:s1", "u:w2|DISPOSED_IN|u:s1", "u:w3|DISPOSED_IN|u:s2"))
    // var-length: the interior folds over the materialized hop list
    val varlen = run(
      """MATCH p = (w:WasteItem {name: 'Bauschutt'})-[*1..2]->(t)
        |RETURN p AS path ORDER BY path""".stripMargin)
      .as[String].collect().toSeq
    assert(varlen === Seq(
      "u:w1|DISPOSED_AT|u:f1", "u:w1|DISPOSED_IN|u:s1"))
    // the value survives WITH and expands under RETURN *
    val star = run(
      """MATCH p = (w:WasteItem)-[:DISPOSED_AT]->(f:Facility)
        |WITH p RETURN *""".stripMargin)
    assert(star.columns.toSeq === Seq("p"))
    assert(star.as[String].collect().toSeq === Seq("u:w1|DISPOSED_AT|u:f1"))
    // BOUNDED shortestPath projects its deterministic witness path
    // (lexicographic-min among tied shortest) — w1 is the only item
    // reaching a facility
    val sp = run(
      """MATCH p = shortestPath((w:WasteItem)-[*1..2]->(f:Facility))
        |RETURN p AS path""".stripMargin)
      .as[String].collect().toSeq
    assert(sp === Seq("u:w1|DISPOSED_AT|u:f1"))
    // allShortestPaths serializes EVERY tied path
    val asp = run(
      """MATCH p = allShortestPaths((w:WasteItem {name: 'Bauschutt'})-[*1..2]->(t))
        |RETURN p AS path ORDER BY path""".stripMargin)
      .as[String].collect().toSeq
    assert(asp === Seq("u:w1|DISPOSED_AT|u:f1", "u:w1|DISPOSED_IN|u:s1"))
    // UNBOUNDED shortestPath now projects the witness fixpoint's value
    // (round-10 verdict #4) — w1's unique walk to a facility
    val ub = run(
      "MATCH p = shortestPath((w:WasteItem)-[*]->(f:Facility)) RETURN p AS path")
      .as[String].collect().toSeq
    assert(ub === Seq("u:w1|DISPOSED_AT|u:f1"))
  }

  test("pattern predicates / EXISTS under OPTIONAL MATCH WHERE and aggregated WITH...WHERE (g79)") {
    // (a) pattern predicate inside OPTIONAL MATCH WHERE: matches filter
    // INSIDE the left join; unmatched rows aggregate as zero
    val opt = run(
      """MATCH (s:WasteStream)
        |OPTIONAL MATCH (s)<-[r:DISPOSED_IN]-(w:WasteItem)
        |WHERE (w)-[:DISPOSED_AT]->(:Facility)
        |RETURN s.name AS stream, count(w) AS cnt ORDER BY stream""".stripMargin)
      .as[(String, Long)].collect().toSeq
    assert(opt === Seq(("Biomuell", 0L), ("Restmuell", 1L)))
    // (b) EXISTS {} chain in the same position, mixed with a plain pred
    val optEx = run(
      """MATCH (s:WasteStream)
        |OPTIONAL MATCH (s)<-[r:DISPOSED_IN]-(w:WasteItem)
        |WHERE EXISTS { (w)-[:DISPOSED_AT]->(f:Facility)
        |               WHERE f.name ENDS WITH 'A' }
        |  AND w.name STARTS WITH 'B'
        |RETURN s.name AS stream, count(w) AS cnt ORDER BY stream""".stripMargin)
      .as[(String, Long)].collect().toSeq
    assert(optEx === Seq(("Biomuell", 0L), ("Restmuell", 1L)))
    // (c) WITH ... WHERE after aggregation: pattern semi-join and
    // EXISTS probe against the grouped frame's carried uid
    val agg = run(
      """MATCH (w:WasteItem)-[:DISPOSED_IN]->(s:WasteStream)
        |WITH s, count(w) AS members
        |WHERE EXISTS { (s)<-[:DISPOSED_IN]-(w2:WasteItem)
        |               WHERE w2.name = 'Asche' }
        |RETURN s.name AS stream, members""".stripMargin)
      .as[(String, Long)].collect().toSeq
    assert(agg === Seq(("Restmuell", 2L)))
    val aggPat = run(
      """MATCH (w:WasteItem)-[:DISPOSED_IN]->(s:WasteStream)
        |WITH s, count(w) AS members
        |WHERE (s)<-[:DISPOSED_IN]-(:WasteItem) AND members >= 2
        |RETURN s.name AS stream, members""".stripMargin)
      .as[(String, Long)].collect().toSeq
    assert(aggPat === Seq(("Restmuell", 2L)))
  }

  test("quantifier bodies: patterns on OUTER vars flag-join; lambda-var patterns explode-compile") {
    val got = run(
      """MATCH (w:WasteItem)
        |WHERE any(x IN ['a'] WHERE (w)-[:DISPOSED_AT]->(:Facility))
        |RETURN w.name AS n""".stripMargin).as[String].collect().toSeq
    assert(got === Seq("Bauschutt"))
    val none = run(
      """MATCH (w:WasteItem)
        |WHERE all(x IN [1, 2] WHERE (w)-[:DISPOSED_IN]->(:WasteStream))
        |RETURN count(*) AS n""".stripMargin).as[Long].head()
    assert(none === 3L) // w1..w3 dispose somewhere; w4 fails the body
    // a lambda-var pattern on a non-uid list compiles via the explode
    // route and simply never matches (was a refusal before round 11)
    val noMatch = run(
      "MATCH (w:WasteItem) WHERE any(x IN ['a'] WHERE (x)-[:R]->()) RETURN w.name AS n")
    assert(noMatch.count() === 0L)
  }

  test("percentile fractions accept $param (g70 closure)") {
    val viaLit = run(
      """MATCH (n:WasteItem)
        |RETURN percentileCont(size(n.name), 0.5) AS p,
        |  percentileDisc(size(n.name), 0.5) AS pd""".stripMargin).collect().toSeq
    val viaParam = run(
      """MATCH (n:WasteItem)
        |RETURN percentileCont(size(n.name), $f) AS p,
        |  percentileDisc(size(n.name), $f) AS pd""".stripMargin,
      Map("f" -> 0.5)).collect().toSeq
    assert(viaLit === viaParam)
    val bad = intercept[Exception](run(
      "MATCH (n) RETURN percentileCont(size(n.name), $f) AS p",
      Map("f" -> 1.5)))
    assert(bad.getMessage.contains("out of [0,1]"))
  }

  test("exists(pattern) = true filters exactly like the bare pattern predicate") {
    def names(where: String): Seq[String] =
      run(s"MATCH (w:WasteItem) WHERE $where RETURN w.name AS n ORDER BY n")
        .as[String].collect().toSeq
    val bare = names("(w)-[:DISPOSED_IN]->()")
    assert(bare === Seq("Asche", "Bauschutt", "Laub"))
    assert(names("exists((w)-[:DISPOSED_IN]->()) = true") === bare)
    assert(names("exists((w)-[:DISPOSED_IN]->()) = false") === Seq("Altlack"))
  }

  test("COUNT { } inside a quantifier counts each row's matches") {
    // w1 has two disposal edges, w2 and w3 one, w4 none
    val got = run(
      """MATCH (w:WasteItem)
        |WHERE all(k IN [1, 2] WHERE COUNT { (w)-[:DISPOSED_IN|DISPOSED_AT]->() } >= k)
        |RETURN w.name AS n""".stripMargin).as[String].collect().toSeq
    assert(got === Seq("Bauschutt"))
    val one = run(
      """MATCH (w:WasteItem)
        |WHERE any(k IN [1] WHERE COUNT { (w)-[:DISPOSED_IN|DISPOSED_AT]->() } = k)
        |RETURN w.name AS n ORDER BY n""".stripMargin).as[String].collect().toSeq
    assert(one === Seq("Asche", "Laub"))
    // on the lambda variable itself, COUNT { } takes the explode route
    // like a pattern predicate does: one count per list element
    val lambda = run(
      """MATCH (s:WasteStream)<-[:DISPOSED_IN]-(w:WasteItem)
        |WITH s, collect(w) AS items
        |WHERE any(x IN items WHERE COUNT { (x)-[:DISPOSED_AT]->() } >= 1)
        |RETURN s.name AS n""".stripMargin).as[String].collect().toSeq
    assert(lambda === Seq("Restmuell"))
  }

  test("OPTIONAL MATCH WHERE refuses every subquery term on a variable bound only before the clause") {
    // w is bound by the first MATCH, not by the OPTIONAL MATCH whose
    // WHERE reads it: compiled against the clause's frame it would be
    // existential (a silent wrong answer: the only row is [Asche, null])
    // or, read in an inner WHERE, an unresolved column
    for (term <- Seq(
        "(w)-[:DISPOSED_AT]->()",
        "(w)-[:DISPOSED_AT]->()<-[:DISPOSED_AT]-(o)",
        "COUNT { (w)-[:DISPOSED_AT]->()<-[:DISPOSED_AT]-(o) } > 0",
        "COUNT { (w)-[:DISPOSED_AT]->() } > 0",
        "EXISTS { (w)-[:DISPOSED_AT]->(f:Facility) WHERE f.name IS NOT NULL }",
        "EXISTS { (o)-[:DISPOSED_AT]->(f) WHERE f.name = w.name }")) {
      val e = intercept[IllegalArgumentException](run(
        s"""MATCH (w:WasteItem)-[:DISPOSED_IN]->(s:WasteStream)
           |OPTIONAL MATCH (s)<-[:DISPOSED_IN]-(o:WasteItem) WHERE $term
           |RETURN w.name, o.name""".stripMargin).collect())
      assert(e.getMessage.contains("'w' is bound outside this clause"), s"$term: ${e.getMessage}")
    }
  }

  // the fixture graph plus a stream that shares a facility's name and
  // more disposal edges: w1 reaches two streams and both facilities
  private lazy val corrNodes = nodes.unionByName(
    Seq(("WasteStream", "u:s3", "Wertstoffhof A", null.asInstanceOf[String]))
      .toDF("label", "uid", "name", "address"))
  private lazy val corrEdges = edges.unionByName(Seq(
    ("u:w1", "DISPOSED_IN", "u:s3"),
    ("u:w1", "DISPOSED_AT", "u:f2"),
    ("u:w2", "DISPOSED_AT", "u:f2"),
    ("u:w3", "DISPOSED_AT", "u:f1"),
    ("u:w4", "DISPOSED_AT", "u:f1")).toDF("src_uid", "rel_type", "dst_uid"))
  private def corrRows(cypher: String): Seq[String] =
    CypherFrontend.run(cypher, corrNodes, corrEdges, Map.empty)
      .collect().map(_.toSeq.map {
        case l: scala.collection.Seq[_] => l.mkString("[", ", ", "]")
        case v => String.valueOf(v)
      }.mkString("|")).sorted.toSeq

  test("EXISTS { } correlates an inner WHERE on an outer variable its pattern does not bind") {
    val head = "MATCH (w:WasteItem)-[:DISPOSED_AT]->(f:Facility)"
    val sub = "EXISTS { (w)-[:DISPOSED_IN]->(s) WHERE f.name = 'Wertstoffhof A' }"
    val moved = "(f.name = 'Wertstoffhof A' AND EXISTS { (w)-[:DISPOSED_IN]->(s) })"
    for ((where, rewrite, expected) <- Seq(
        (sub, moved, Seq("Bauschutt|Wertstoffhof A", "Laub|Wertstoffhof A")),
        (s"NOT $sub", s"NOT $moved",
          Seq("Altlack|Wertstoffhof A", "Asche|Wertstoffhof B", "Bauschutt|Wertstoffhof B")),
        (s"w.name = 'Asche' OR $sub", s"w.name = 'Asche' OR $moved",
          Seq("Asche|Wertstoffhof B", "Bauschutt|Wertstoffhof A", "Laub|Wertstoffhof A")))) {
      val got = corrRows(s"$head WHERE $where RETURN w.name, f.name")
      assert(got === expected, where)
      assert(got === corrRows(s"$head WHERE $rewrite RETURN w.name, f.name"), where)
    }
  }

  test("COUNT { } and COLLECT { } correlate inner reads of outer nodes and scalars") {
    val head = "MATCH (w:WasteItem)-[:DISPOSED_AT]->(f:Facility)"
    // per (w, f) row, the streams of w not named like f
    val decorrelated = corrRows(
      s"""$head OPTIONAL MATCH (w)-[:DISPOSED_IN]->(s) WHERE s.name <> f.name
         |WITH w, f, count(s) AS c RETURN w.name, f.name, c""".stripMargin)
    assert(decorrelated === Seq("Altlack|Wertstoffhof A|0", "Asche|Wertstoffhof B|1",
      "Bauschutt|Wertstoffhof A|1", "Bauschutt|Wertstoffhof B|2", "Laub|Wertstoffhof A|1"))
    assert(corrRows(s"""$head RETURN w.name, f.name,
         |COUNT { (w)-[:DISPOSED_IN]->(s) WHERE s.name <> f.name } AS c""".stripMargin)
      === decorrelated)
    // the same read through a scalar alias
    assert(corrRows(s"""$head WITH w, f, f.name AS fn RETURN w.name, fn,
         |COUNT { (w)-[:DISPOSED_IN]->(s) WHERE s.name <> fn } AS c""".stripMargin)
      === decorrelated)
    // COLLECT's WHERE, ORDER BY and RETURN read the outer row too
    val lists = corrRows(s"""$head RETURN w.name, f.name, COLLECT {
         |MATCH (w)-[:DISPOSED_IN]->(s) WHERE s.name <> f.name
         |RETURN s.name + '@' + f.name ORDER BY s.name DESC } AS l""".stripMargin)
    assert(lists === Seq("Altlack|Wertstoffhof A|[]",
      "Asche|Wertstoffhof B|[Restmuell@Wertstoffhof B]",
      "Bauschutt|Wertstoffhof A|[Restmuell@Wertstoffhof A]",
      "Bauschutt|Wertstoffhof B|[Wertstoffhof A@Wertstoffhof B, Restmuell@Wertstoffhof B]",
      "Laub|Wertstoffhof A|[Biomuell@Wertstoffhof A]"))
  }

  test("OPTIONAL MATCH WHERE with a lambda-bound quantifier keeps the null-padded rows") {
    // w1 is Restmuell's only item with a facility edge; Biomuell's w3
    // has none, so its binding is rejected and padded, not dropped
    val where = "WHERE any(x IN [w.uid] WHERE (x)-[:DISPOSED_AT]->())"
    val opt = run(
      s"""MATCH (s:WasteStream)
         |OPTIONAL MATCH (s)<-[:DISPOSED_IN]-(w:WasteItem)
         |$where
         |RETURN s.name AS s, w.name AS w ORDER BY s""".stripMargin)
      .as[(String, String)].collect().toSeq
    assert(opt === Seq(("Biomuell", null), ("Restmuell", "Bauschutt")))
    val plain = run(
      s"""MATCH (s:WasteStream)<-[:DISPOSED_IN]-(w:WasteItem)
         |$where
         |RETURN s.name AS s, w.name AS w""".stripMargin)
      .as[(String, String)].collect().toSeq
    assert(plain === Seq(("Restmuell", "Bauschutt")))
  }

  test("correlated CALL: a list comprehension over collect() is [] for zero matches") {
    val got = run(
      """MATCH (s:WasteStream)
        |CALL { WITH s
        |  MATCH (s)<-[:DISPOSED_IN]-(w:WasteItem) WHERE w.name STARTS WITH 'B'
        |  RETURN [x IN collect(w.name) | toUpper(x)] AS upper,
        |         collect(w.name) AS names }
        |RETURN s.name AS s, upper, names ORDER BY s""".stripMargin)
      .as[(String, Seq[String], Seq[String])].collect().toSeq
    assert(got === Seq(("Biomuell", Nil, Nil),
      ("Restmuell", Seq("BAUSCHUTT"), Seq("Bauschutt"))))
  }

  test("COLLECT { } shares a variable whatever its name") {
    // `v` and `s0` are also the suffixes of COLLECT's value and first
    // sort-key scratch columns
    for (v <- Seq("v", "s0")) {
      val got = run(
        s"""MATCH ($v:WasteStream)
           |RETURN $v.name AS s,
           |  COLLECT { MATCH (w)-[:DISPOSED_IN]->($v) RETURN w.name } AS ws
           |ORDER BY s""".stripMargin)
        .as[(String, Seq[String])].collect().toSeq
      assert(got === Seq(("Biomuell", Seq("Laub")),
        ("Restmuell", Seq("Asche", "Bauschutt"))))
    }
  }

  test("subquery terms pre-join in a WITH ORDER BY key") {
    // order by degree: Bauschutt has two outgoing edges, the rest one or none
    val got = run(
      """MATCH (w:WasteItem)
        |WITH w ORDER BY COUNT { (w)-->() } DESC, w.name LIMIT 2
        |RETURN w.name AS n""".stripMargin).as[String].collect().toSeq
    assert(got === Seq("Bauschutt", "Asche"))
    val flagged = run(
      """MATCH (w:WasteItem)
        |WITH w ORDER BY exists((w)-[:DISPOSED_AT]->()) DESC, w.name LIMIT 1
        |RETURN w.name AS n""".stripMargin).as[String].collect().toSeq
    assert(flagged === Seq("Bauschutt"))
  }

  test("subquery terms pre-join in an UNWIND list") {
    val got = run(
      """MATCH (s:WasteStream)
        |UNWIND COLLECT { MATCH (w)-[:DISPOSED_IN]->(s) RETURN w.name } AS item
        |RETURN s.name AS s, item ORDER BY s, item""".stripMargin)
      .as[(String, String)].collect().toSeq
    assert(got === Seq(("Biomuell", "Laub"), ("Restmuell", "Asche"),
      ("Restmuell", "Bauschutt")))
  }

  test("subquery terms pre-join in a COLLECT { } RETURN and ORDER BY") {
    val got = run(
      """MATCH (s:WasteStream)
        |RETURN s.name AS s,
        |  COLLECT { MATCH (w)-[:DISPOSED_IN]->(s) RETURN COUNT { (w)-->() } } AS degrees,
        |  COLLECT { MATCH (w)-[:DISPOSED_IN]->(s) RETURN w.name
        |            ORDER BY COUNT { (w)-->() } DESC } AS byDegree
        |ORDER BY s""".stripMargin)
      .as[(String, Seq[Long], Seq[String])].collect().toSeq
    assert(got === Seq(("Biomuell", Seq(1L), Seq("Laub")),
      ("Restmuell", Seq(1L, 2L), Seq("Bauschutt", "Asche"))))
  }

  // three A nodes point at one B node; x2 is the oldest
  private lazy val ages: (DataFrame, DataFrame) = (
    Seq(("A", "u:x1", "x1", 30L), ("A", "u:x2", "x2", 50L),
      ("A", "u:x3", "x3", 40L), ("B", "u:y", "y", 0L))
      .toDF("label", "uid", "name", "age"),
    Seq(("u:x1", "R", "u:y"), ("u:x2", "R", "u:y"), ("u:x3", "R", "u:y"))
      .toDF("src_uid", "rel_type", "dst_uid"))
  private def runAges(cypher: String) = CypherFrontend.run(cypher, ages._1, ages._2)

  test("correlated CALL: a WITH ORDER BY key on a dropped variable sorts before the projection") {
    for (finish <- Seq(
        "WITH a.name AS an ORDER BY a.age DESC LIMIT 1 RETURN an",
        "RETURN a.name AS an ORDER BY a.age DESC LIMIT 1")) {
      val got = runAges(
        s"""MATCH (b:B)
           |CALL { WITH b MATCH (a:A)-->(b) $finish }
           |RETURN b.name AS b, an""".stripMargin)
        .as[(String, String)].collect().toSeq
      assert(got === Seq(("y", "x2")), finish)
    }
  }

  test("WITH refuses an ORDER BY key on a dropped variable when it aggregates") {
    val e = intercept[IllegalArgumentException](runAges(
      "MATCH (n) WITH n.label AS l, count(*) AS c ORDER BY n.age RETURN l, c"))
    assert(e.getMessage.contains(
      "ORDER BY keys must be returned items when RETURN aggregates or is DISTINCT"))
  }

  test("WITH DISTINCT refuses an ORDER BY key on a dropped variable") {
    val e = intercept[IllegalArgumentException](runAges(
      "MATCH (n) WITH DISTINCT n.label AS l ORDER BY n.age RETURN l"))
    assert(e.getMessage.contains(
      "ORDER BY keys must be returned items when RETURN aggregates or is DISTINCT"))
  }

  test("subquery terms on a list comprehension or reduce() variable are refused by the compiler") {
    for ((q, what) <- Seq(
        "MATCH (s:B) RETURN [x IN COLLECT { MATCH (w)-->(s) RETURN w } | COUNT { (x)-->() }] AS c" ->
          "COUNT { } subqueries",
        "MATCH (s:B) RETURN reduce(a = 0, x IN [s] | a + COUNT { (x)-->() }) AS c" ->
          "COUNT { } subqueries",
        "MATCH (s:B) RETURN [x IN [s] | any(y IN [x] WHERE (y)<--())] AS c" ->
          "pattern predicates and EXISTS { }")) {
      val e = intercept[Exception](runAges(q))
      assert(e.getMessage.startsWith(s"$what compile in") &&
        e.getMessage.contains("list comprehension or reduce()"), e.getMessage)
    }
    // a quantifier that reads no comprehension variable still pre-joins
    val got = runAges("MATCH (s:B) RETURN [x IN [1, 2] | any(y IN [s] WHERE (y)<--())] AS c")
      .as[Seq[Boolean]].collect().toSeq
    assert(got === Seq(Seq(true, true)))
  }

  // a -R-> b -R-> c: three nodes, two edges
  private lazy val chain3: (DataFrame, DataFrame) = (
    Seq(("A", "u:a", "a"), ("B", "u:b", "b"), ("C", "u:c", "c"))
      .toDF("label", "uid", "name"),
    Seq(("u:a", "R", "u:b"), ("u:b", "R", "u:c"))
      .toDF("src_uid", "rel_type", "dst_uid"))
  private def runChain3(cypher: String) = CypherFrontend.run(cypher, chain3._1, chain3._2)

  /** A WITH ends the scope of every variable it does not project: each
    * later reference is the compiler's refusal, as in Neo4j. */
  private def assertDropped(v: String, cypher: String): Unit = {
    val e = intercept[IllegalArgumentException](runChain3(cypher).collect())
    assert(e.getMessage === s"Variable `$v` not defined", cypher)
  }

  test("scope: a scalar a WITH dropped is refused in ORDER BY") {
    assertDropped("nm",
      "MATCH (a:A) WITH a, a.name AS nm WITH a RETURN a.name AS n ORDER BY nm")
  }

  test("scope: a scalar a WITH dropped is refused in RETURN") {
    assertDropped("nm", "MATCH (a:A) WITH a, a.name AS nm WITH a RETURN nm")
  }

  test("scope: a relationship a WITH dropped is refused, bare and in type()") {
    assertDropped("r", "MATCH (a:A)-[r]->(b) WITH a RETURN r")
    assertDropped("r", "MATCH (a:A)-[r]->(b) WITH a RETURN type(r) AS t")
  }

  test("scope: a fixed path a WITH dropped is refused in length()") {
    assertDropped("p", "MATCH p = (a:A)-->(b) WITH a RETURN length(p) AS l")
  }

  test("scope: a shortestPath a WITH dropped is refused in length()") {
    assertDropped("p",
      "MATCH p = shortestPath((a:A)-[*..3]->(c:C)) WITH a RETURN length(p) AS l")
  }

  test("scope: a var-length relationship a WITH dropped is refused in size()") {
    assertDropped("r", "MATCH (a:A)-[r*1..2]->(b) WITH a RETURN size(r) AS s")
  }

  test("scope: a node a WITH dropped is refused in a property read") {
    assertDropped("b", "MATCH (a:A)-->(b) WITH a RETURN b.name AS n")
  }

  test("scope: a WITH may rebind a dropped relationship's name as a scalar") {
    val got = runChain3("MATCH (a:A)-[r]->(b) WITH a, a.name AS r RETURN r")
      .as[String].collect().toSeq
    assert(got === Seq("a"))
  }

  test("scope: only a node or relationship variable has properties") {
    // `p.len` used to read the shortestPath's hop-count scratch column
    for (q <- Seq(
        "MATCH p = shortestPath((a:A)-[*..3]->(c:C)) RETURN p.len AS x",
        "MATCH (a:A)-[r*1..2]->(b) RETURN r.x AS x",
        "MATCH (a:A) WITH a.name AS m RETURN m.x AS x")) {
      val e = intercept[RuntimeException](runChain3(q).collect())
      assert(e.getMessage.contains("only a node or relationship variable has properties"), q)
    }
  }

  test("scope: a correlated CALL body sees only its imports") {
    assertDropped("nm",
      "MATCH (a:A) WITH a, a.name AS nm CALL { WITH a RETURN nm AS x } RETURN x")
  }
}
