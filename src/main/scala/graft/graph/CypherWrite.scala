package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.graph.CypherFrontend.{TId, TKw, TNum, TStr, TSym, Tok}

/** Cypher WRITE-statement front-end — the reference's ETL `MERGE`
  * templates (`facilities.py:109-135`, `waste_items.py:366-419`)
  * compiled to the [[GraphStore]] upsert sinks instead of rejected.
  *
  * The reference binds one params dict per item and round-trips the
  * template once per row. Here the TEMPLATE compiles once and the
  * params bind as a whole DataFrame — one distributed upsert job per
  * statement for the entire batch (the set-oriented re-expression of
  * the row-at-a-time driver loop). Supported statement shape = the
  * reference's write surface:
  *
  *   - `MATCH (v:Label {prop: $param})` — endpoint lookup; rows whose
  *     param finds no node produce no edge (the reference logs and
  *     skips, `waste_items.py:412-419`)
  *   - `MERGE (v:Label {key: $param})` with optional
  *     `ON CREATE SET v.p = $x | datetime()` and
  *     `ON MATCH SET v.p = CASE WHEN $x <> '' THEN $x ELSE v.p END |
  *     $x | datetime()` — compiled to [[GraphStore.upsertNodes]],
  *     whose contract IS this template: ON CREATE takes incoming
  *     verbatim, ON MATCH non-empty-incoming-wins, `created_at`
  *     preserved, `updated_at` bumped to the injected clock
  *   - `MERGE (a)-[r:TYPE]->(b)` with optional
  *     `ON CREATE SET r.created_at = datetime()` — compiled to
  *     [[GraphStore.upsertEdges]] (idempotent on (src, dst, type),
  *     earliest `created_at` kept)
  *   - a trailing `RETURN ...` is accepted and ignored (the merge
  *     result is the returned Graph, not a per-row cursor)
  *
  * Batch-order determinism: Neo4j's loop makes "first seen" well
  * defined; a distributed batch needs an explicit order, so duplicate
  * merge keys within one batch merge per-property by FIRST NON-EMPTY
  * in `_seq` order when the params carry a `_seq` column (the same
  * first-seen-wins law as `etl.Facilities.dedupMerge`), else in a
  * deterministic xxhash64 order of the whole row.
  *
  * Known divergence (documented): a property set in ON CREATE but NOT
  * in ON MATCH (other than the key/uid/created_at, which are handled
  * structurally) still follows the engine's non-empty-wins law on
  * match. The reference's templates pair every such property, so they
  * compile exactly.
  */
object CypherWrite {

  /** The node+edge tables a write statement reads and produces. */
  final case class Graph(nodes: DataFrame, edges: DataFrame)

  // ------------------------------------------------------------- AST
  private sealed trait SetVal
  private case object ClockVal extends SetVal              // datetime()
  private case class ParamVal(name: String) extends SetVal // $param
  /** CASE WHEN $p <> '' THEN $p ELSE v.prop END */
  private case class NonEmptyWins(name: String) extends SetVal
  /** REMOVE v.prop — the property goes to null (Neo4j's removal). */
  private case object RemoveVal extends SetVal
  /** A literal in a CREATE props map ('str', 42, true). */
  private case class LitVal(value: String) extends SetVal

  private case class NodeMatch(v: String, label: String,
                               keyProp: String, keyParam: String)
  private case class UpdateStmt(m: NodeMatch, sets: Seq[(String, SetVal)])
  private case class DeleteStmt(m: NodeMatch, detach: Boolean)
  private case class NodeMerge(v: String, label: String,
                               keyProp: String, keyParam: String,
                               onCreate: Seq[(String, SetVal)],
                               onMatch: Seq[(String, SetVal)])
  private case class EdgeMerge(src: String, relType: String, dst: String)
  private case class WriteStmt(matches: Seq[NodeMatch],
                               nodeMerges: Seq[NodeMerge],
                               edgeMerges: Seq[EdgeMerge])
  /** `CREATE (v:Label {props})` — a multi-prop map (params, literals,
    * datetime()); no match arm. */
  private case class NodeCreate(v: String, label: String,
                                props: Seq[(String, SetVal)])
  /** `CREATE (a)-[r:TYPE {props}]->(b)` — endpoints bound by MATCH or a
    * CREATE node pattern in the same statement. */
  private case class EdgeCreate(src: String, relType: String, dst: String,
                                props: Seq[(String, SetVal)])
  private case class CreateStmt(matches: Seq[NodeMatch],
                                nodeCreates: Seq[NodeCreate],
                                edgeCreates: Seq[EdgeCreate])

  // ---------------------------------------------------------- parser
  private final class Parser(toks: Vector[Tok]) {
    private var pos = 0
    private def peek: Option[Tok] = toks.lift(pos)
    private def atKw(kw: String): Boolean =
      peek.exists { case TKw(k) => k == kw; case _ => false }
    private def atSym(s: String): Boolean =
      peek.exists { case TSym(x) => x == s; case _ => false }
    private def eatKw(kw: String): Unit =
      require(atKw(kw) && { pos += 1; true },
        s"expected $kw at token $pos (${peek.map(_.text)})")
    private def eatSym(s: String): Unit =
      require(atSym(s) && { pos += 1; true },
        s"expected '$s' at token $pos (${peek.map(_.text)})")
    private def ident(): String = { val t = toks(pos); pos += 1; t match {
      case TId(x) => x
      case other => sys.error(s"expected identifier, got '${other.text}'")
    }}
    /** The Neo4j bulk-write idiom `UNWIND $batch AS row ...`: the
      * params FRAME is already the batch, so the prefix only binds the
      * row alias — `row.col` thereafter references params column
      * `col`, exactly like `$col`. */
    private var unwindAlias: Option[String] = None
    def maybeUnwind(): Unit = if (atKw("UNWIND")) {
      eatKw("UNWIND"); eatSym("$"); ident() // the batch param, by convention the frame itself
      eatKw("AS"); unwindAlias = Some(ident())
    }
    private def param(): String =
      if (atSym("$")) { eatSym("$"); ident() }
      else peek match {
        case Some(TId(a)) if unwindAlias.contains(a) =>
          pos += 1; eatSym("."); ident()
        case other => sys.error(s"expected $$param or " +
          s"${unwindAlias.getOrElse("<unwind-alias>")}.<col>, got " +
          s"'${other.map(_.text).getOrElse("<eof>")}'")
      }

    /** `(v:Label {prop: $param})` — the only node form the write
      * templates use. */
    private def nodeKeyPat(): (String, String, String, String) = {
      eatSym("(")
      val v = ident()
      eatSym(":"); val label = ident()
      eatSym("{"); val prop = ident(); eatSym(":"); val p = param(); eatSym("}")
      eatSym(")")
      (v, label, prop, p)
    }

    private def setVal(owner: String, prop: String): SetVal =
      if (atKw("CASE")) {
        eatKw("CASE"); eatKw("WHEN")
        val p1 = param()
        eatSym("<>")
        toks(pos) match {
          case TStr("") => pos += 1
          case t => sys.error(s"expected '' in CASE guard, got '${t.text}'")
        }
        eatKw("THEN")
        val p2 = param()
        require(p1 == p2, s"CASE guard and value differ: $$${p1} vs $$${p2}")
        eatKw("ELSE")
        val v = ident(); eatSym("."); val keep = ident()
        require(v == owner && keep == prop,
          s"CASE fallback must keep $owner.$prop, got $v.$keep")
        eatKw("END")
        NonEmptyWins(p1)
      } else if (peek.exists { case TId("datetime") => true; case _ => false }) {
        pos += 1; eatSym("("); eatSym(")")
        ClockVal
      } else if (atSym("$") ||
          peek.exists { case TId(a) => unwindAlias.contains(a); case _ => false })
        ParamVal(param())
      else sys.error(s"unsupported SET value at '${peek.map(_.text)}': " +
        "expected $param, datetime(), or the CASE non-empty-wins form")

    /** `v.prop = value [, ...]` until the next clause keyword. */
    private def assigns(owner: String): Seq[(String, SetVal)] = {
      val out = Seq.newBuilder[(String, SetVal)]
      var more = true
      while (more) {
        val v = ident(); eatSym("."); val prop = ident(); eatSym("=")
        out += (prop -> setVal(v, prop))
        require(v == owner, s"SET on $v inside a merge of $owner")
        if (atSym(",")) eatSym(",") else more = false
      }
      out.result()
    }

    /** `MATCH (v:L {k: $p}) SET v.prop = value [, ...]` — the
      * standalone property-update statement. */
    def updateStmt(): UpdateStmt = {
      maybeUnwind()
      eatKw("MATCH")
      val (v, l, kp, p) = nodeKeyPat()
      eatKw("SET")
      val sets = assigns(v)
      if (atKw("RETURN")) pos = toks.length
      require(peek.isEmpty,
        s"unexpected trailing token '${peek.map(_.text).getOrElse("")}' in SET statement")
      UpdateStmt(NodeMatch(v, l, kp, p), sets)
    }

    /** `MATCH (v:L {k: $p}) REMOVE v.prop [, v.prop2 ...]` — property
      * removal, compiled as an update to null. */
    def removeStmt(): UpdateStmt = {
      maybeUnwind()
      eatKw("MATCH")
      val (v, l, kp, p) = nodeKeyPat()
      eatKw("REMOVE")
      val sets = Seq.newBuilder[(String, SetVal)]
      var more = true
      while (more) {
        val ov = ident(); eatSym("."); val prop = ident()
        require(ov == v, s"REMOVE on unbound variable $ov (MATCH binds $v)")
        sets += (prop -> RemoveVal)
        if (atSym(",")) eatSym(",") else more = false
      }
      if (atKw("RETURN")) pos = toks.length
      require(peek.isEmpty,
        s"unexpected trailing token '${peek.map(_.text).getOrElse("")}' in REMOVE statement")
      UpdateStmt(NodeMatch(v, l, kp, p), sets.result())
    }

    /** `MATCH (v:L {k: $p}) [DETACH] DELETE v`. */
    def deleteStmt(): DeleteStmt = {
      maybeUnwind()
      eatKw("MATCH")
      val (v, l, kp, p) = nodeKeyPat()
      val detach = atKw("DETACH")
      if (detach) { eatKw("DETACH") }
      eatKw("DELETE")
      val dv = ident()
      require(dv == v, s"DELETE of unbound variable $dv (MATCH binds $v)")
      require(peek.isEmpty,
        s"unexpected trailing token '${peek.map(_.text).getOrElse("")}' in DELETE statement")
      DeleteStmt(NodeMatch(v, l, kp, p), detach)
    }

    /** A value inside a CREATE props map: `$param`, a string/number
      * literal, TRUE/FALSE, or `datetime()`. */
    private def createVal(): SetVal =
      if (atSym("$")) ParamVal(param())
      else if (atKw("TRUE")) { pos += 1; LitVal("true") }
      else if (atKw("FALSE")) { pos += 1; LitVal("false") }
      else peek match {
        case Some(TStr(s)) => pos += 1; LitVal(s)
        case Some(TNum(n)) => pos += 1; LitVal(n)
        case Some(TId("datetime")) => pos += 1; eatSym("("); eatSym(")"); ClockVal
        case Some(TId(a)) if unwindAlias.contains(a) => ParamVal(param())
        case other => sys.error(s"unsupported CREATE property value at " +
          s"'${other.map(_.text).getOrElse("<eof>")}': expected $$param, " +
          "a string/number/boolean literal, or datetime()")
      }

    /** `{k: v [, ...]}` — the multi-prop map a CREATE pattern carries. */
    private def propsMap(): Seq[(String, SetVal)] = {
      eatSym("{")
      val out = Seq.newBuilder[(String, SetVal)]
      var more = !atSym("}")
      while (more) {
        val k = ident(); eatSym(":")
        out += (k -> createVal())
        if (atSym(",")) eatSym(",") else more = false
      }
      eatSym("}")
      out.result()
    }

    /** One node position inside a CREATE pattern: `(v:Label {props})`
      * registers a creation; bare `(v)` references an already-bound
      * variable. Returns the variable name. */
    private def createNodePart(creates: scala.collection.mutable.Builder[NodeCreate, Seq[NodeCreate]]): String = {
      eatSym("(")
      val v = ident()
      if (atSym(":")) {
        eatSym(":"); val label = ident()
        val props = if (atSym("{")) propsMap() else Seq.empty
        eatSym(")")
        creates += NodeCreate(v, label, props)
      } else eatSym(")")
      v
    }

    /** `MATCH (v:L {k:$p})* CREATE <pattern> [, <pattern>]* [RETURN …]`
      * where a pattern is a node part optionally chained through
      * `-[r:TYPE {props}]->` hops (each hop creates one relationship).
      */
    def createStmt(): CreateStmt = {
      maybeUnwind()
      val matches = Seq.newBuilder[NodeMatch]
      val nodeCreates = Seq.newBuilder[NodeCreate]
      val edgeCreates = Seq.newBuilder[EdgeCreate]
      var done = false
      while (!done) {
        if (atKw("MATCH")) {
          eatKw("MATCH")
          val (v, l, kp, p) = nodeKeyPat()
          matches += NodeMatch(v, l, kp, p)
        } else if (atKw("CREATE")) {
          eatKw("CREATE")
          var morePatterns = true
          while (morePatterns) {
            var left = createNodePart(nodeCreates)
            while (atSym("-")) {
              eatSym("-"); eatSym("[")
              peek match { // rel var unused: edge identity is the triple
                case Some(TId(_)) => ident()
                case _ =>
              }
              eatSym(":"); val relType = ident()
              val props = if (atSym("{")) propsMap() else Seq.empty
              eatSym("]"); eatSym("->")
              val right = createNodePart(nodeCreates)
              edgeCreates += EdgeCreate(left, relType, right, props)
              left = right
            }
            if (atSym(",")) eatSym(",") else morePatterns = false
          }
        } else if (atKw("RETURN")) {
          pos = toks.length // accepted, ignored: the batch is the result
          done = true
        } else if (peek.isEmpty) done = true
        else sys.error(s"unexpected token '${peek.map(_.text).getOrElse("")}' " +
          "in CREATE statement (MATCH / CREATE / RETURN)")
      }
      CreateStmt(matches.result(), nodeCreates.result(), edgeCreates.result())
    }

    def stmt(): WriteStmt = {
      maybeUnwind()
      val matches = Seq.newBuilder[NodeMatch]
      val nodeMerges = Seq.newBuilder[NodeMerge]
      val edgeMerges = Seq.newBuilder[EdgeMerge]
      var done = false
      while (!done) {
        if (atKw("MATCH")) {
          eatKw("MATCH")
          val (v, l, kp, p) = nodeKeyPat()
          matches += NodeMatch(v, l, kp, p)
        } else if (atKw("MERGE")) {
          eatKw("MERGE")
          // node merge `(v:L {k: $p})` vs edge merge `(a)-[r:T]->(b)`
          val save = pos
          eatSym("(")
          val v = ident()
          if (atSym(")")) { // edge merge
            eatSym(")")
            eatSym("-"); eatSym("[")
            peek match { // rel var unused: edge identity is the triple
              case Some(TId(_)) => ident()
              case _ =>
            }
            eatSym(":"); val relType = ident(); eatSym("]")
            eatSym("->")
            eatSym("("); val dst = ident(); eatSym(")")
            // edge ON CREATE SET r.created_at = datetime() is the
            // upsertEdges clock contract; parse and discard
            if (atKw("ON")) {
              eatKw("ON"); eatKw("CREATE"); eatKw("SET")
              ident(); eatSym("."); ident(); eatSym("=")
              pos += 1; eatSym("("); eatSym(")") // datetime()
            }
            edgeMerges += EdgeMerge(v, relType, dst)
          } else {
            pos = save
            val (mv, l, kp, p) = nodeKeyPat()
            var onCreate = Seq.empty[(String, SetVal)]
            var onMatch = Seq.empty[(String, SetVal)]
            while (atKw("ON")) {
              eatKw("ON")
              if (atKw("CREATE")) { eatKw("CREATE"); eatKw("SET"); onCreate = assigns(mv) }
              else { eatKw("MATCH"); eatKw("SET"); onMatch = assigns(mv) }
            }
            nodeMerges += NodeMerge(mv, l, kp, p, onCreate, onMatch)
          }
        } else if (atKw("RETURN")) {
          pos = toks.length // accepted, ignored: the batch is the result
          done = true
        } else if (peek.isEmpty) done = true
        else sys.error(s"unexpected token '${peek.map(_.text).getOrElse("")}' " +
          "in write statement (MATCH / MERGE / RETURN)")
      }
      WriteStmt(matches.result(), nodeMerges.result(), edgeMerges.result())
    }
  }

  // -------------------------------------------------------- compiler

  /** Does the statement contain a write clause? (Token-level — string
    * literals can spell MERGE without tripping this.) The [[GraphDb]]
    * facade uses it to route `query()` between the read compiler and
    * the upsert path. */
  def isWrite(cypher: String): Boolean =
    CypherFrontend.tokenize(cypher).exists {
      case TKw(k) =>
        Set("MERGE", "CREATE", "SET", "DELETE", "DETACH", "REMOVE")(k)
      case _ => false
    }

  /** The `UNWIND $param AS alias` batch-param NAME of a write
    * template, if present — [[GraphDb.query]] validates the supplied
    * params against it BEFORE compiling (a name mismatch or a list
    * param on a non-UNWIND template otherwise surfaces as an
    * unresolved-column AnalysisException far from the cause), and
    * routes an EMPTY batch to Neo4j's zero-row no-op. Token-level,
    * same tokenizer as [[isWrite]]. */
  def unwindParam(template: String): Option[String] = {
    val toks = CypherFrontend.tokenize(template)
    toks.zipWithIndex.collectFirst {
      case (TKw("UNWIND"), i) => i
    }.flatMap { i =>
      (toks.lift(i + 1), toks.lift(i + 2)) match {
        case (Some(TSym("$")), Some(TId(p))) => Some(p)
        case _ => None
      }
    }
  }

  /** Apply one write template to the graph for a whole params batch,
    * routed by clause: `MERGE` templates to [[merge]], `CREATE` to
    * [[create]], `MATCH...[DETACH] DELETE` to [[delete]], `MATCH...SET`
    * and `REMOVE` to [[update]]. One entry point so [[GraphDb.query]]
    * can accept the reference's full write surface.
    *
    * `params` columns = the template's `$names` (all strings, like the
    * driver's params dicts), plus an optional `_seq` LONG giving the
    * reference's loop order for in-batch duplicate-key merging.
    * `propCols` = the property columns of the nodes table (between
    * `name` and `created_at`, the layout [[GraphDb.empty]] builds).
    */
  def apply(template: String, params: DataFrame, graph: Graph,
            clock: Column, propCols: Seq[String]): Graph = {
    val kws = CypherFrontend.tokenize(template).collect { case TKw(k) => k }.toSet
    if (kws("MERGE")) merge(template, params, graph, clock, propCols)
    else if (kws("CREATE")) create(template, params, graph, clock, propCols)
    else if (kws("DELETE")) delete(template, params, graph)
    else if (kws("SET") || kws("REMOVE")) update(template, params, graph, clock, propCols)
    else sys.error(
      "unsupported write statement: expected MERGE, CREATE, SET, REMOVE, or DELETE")
  }

  /** `MATCH (v:Label {key: $p}) SET v.prop = <$x | datetime() | CASE
    * non-empty-wins>` — or `... REMOVE v.prop [, ...]`, which compiles
    * to the same plan with a null incoming value (Neo4j's property
    * removal) — for a whole params batch: one equi-join on the
    * key property, matched rows take the SET values and an
    * `updated_at` bump, unmatched nodes pass through untouched (and
    * unmatched PARAMS are no-ops — MATCH found nothing, Neo4j's
    * behavior). Duplicate keys within the batch resolve LAST-write-wins
    * in `_seq` order — the final state of the reference's sequential
    * per-row loop (the dual of merge's first-seen law, which applies to
    * creation). */
  def update(template: String, params: DataFrame, graph: Graph,
             clock: Column, propCols: Seq[String]): Graph = {
    val toks = CypherFrontend.tokenize(template)
    val isRemove = toks.exists { case TKw("REMOVE") => true; case _ => false }
    val stmt =
      if (isRemove) new Parser(toks).removeStmt()
      else new Parser(toks).updateStmt()
    val badProps = stmt.sets.map(_._1).filterNot(propCols.contains)
    require(badProps.isEmpty,
      s"SET on unknown propert${if (badProps.size == 1) "y" else "ies"} " +
        s"${badProps.mkString(", ")} (node schema has: ${propCols.mkString(", ")})")
    val seqCol: Column =
      if (params.columns.contains("_seq")) col("_seq")
      else xxhash64(params.columns.sorted.map(col): _*)
    def incomingCol(sv: SetVal): Column = sv match {
      case ParamVal(p) => col(p)
      case NonEmptyWins(p) => col(p)
      case ClockVal => clock
      case RemoveVal => lit(null)
    }
    val aggs = stmt.sets.map { case (p, sv) =>
      max_by(incomingCol(sv).cast("string"), seqCol).as(s"_set_$p")
    }
    val upd = params.groupBy(col(stmt.m.keyParam).as("_key"))
      .agg(aggs.head, aggs.tail: _*)
    val matched = col("_key").isNotNull
    val setByProp = stmt.sets.toMap
    val out = graph.nodes
      .join(upd, col(stmt.m.keyProp) === col("_key") &&
        col("label") === stmt.m.label, "left")
      .select(graph.nodes.columns.toSeq.map {
        case p if setByProp.contains(p) =>
          val inc = col(s"_set_$p")
          (setByProp(p) match {
            case NonEmptyWins(_) =>
              when(matched && inc.isNotNull && trim(inc) =!= "", inc)
                .otherwise(col(p))
            case _ => when(matched, inc).otherwise(col(p))
          }).as(p)
        case "updated_at" =>
          when(matched, clock).otherwise(col("updated_at")).as("updated_at")
        case c => col(c)
      }: _*)
    Graph(out, graph.edges)
  }

  /** `MATCH (v:Label {key: $p}) [DETACH] DELETE v` for a whole params
    * batch: resolve the doomed uid set (one equi-join), anti-join it
    * out of the node table; DETACH also anti-joins both edge endpoints
    * (Neo4j's cascade). A plain DELETE on a node that still has
    * relationships is a constraint violation in Neo4j — enforced here
    * eagerly with one semi-join count, failing the whole batch LOUDLY
    * rather than leaving dangling edges. */
  def delete(template: String, params: DataFrame, graph: Graph): Graph = {
    val stmt = new Parser(CypherFrontend.tokenize(template)).deleteStmt()
    val doomed = graph.nodes
      .join(params.select(col(stmt.m.keyParam).as("_key")).distinct(),
        col(stmt.m.keyProp) === col("_key") && col("label") === stmt.m.label)
      .select(col("uid").as("_doomed"))
      .localCheckpoint(true) // reused by up to 4 joins below
    if (!stmt.detach) {
      val incident =
        graph.edges.join(doomed, col("src_uid") === col("_doomed"), "left_semi")
          .unionByName(
            graph.edges.join(doomed, col("dst_uid") === col("_doomed"), "left_semi"))
          .count()
      require(incident == 0,
        s"DELETE of ${stmt.m.v}: $incident incident relationship(s) exist; " +
          "use DETACH DELETE")
    }
    val nodes = graph.nodes.join(doomed,
      col("uid") === col("_doomed"), "left_anti")
    val edges =
      if (!stmt.detach) graph.edges
      else graph.edges
        .join(doomed, col("src_uid") === col("_doomed"), "left_anti")
        .join(doomed, col("dst_uid") === col("_doomed"), "left_anti")
    Graph(nodes, edges)
  }

  /** Bare `CREATE` statements — the MERGE machinery minus the match
    * arm, the first write every Neo4j user issues
    * (`/root/reference/src/db/neo4j_db.py:93-106` accepts arbitrary
    * Cypher):
    *
    *   - `CREATE (n:Label {k: $p, k2: 'lit', ...})` — one node per
    *     params row, appended (never matched). uid derives from the
    *     props map (`uid` key > F1 hash of `name` > F1 hash of the
    *     row's `_seq` + label, so key-less creates are still
    *     deterministic per batch position).
    *   - `CREATE (a)-[r:TYPE]->(b)` / inline chains
    *     `CREATE (a:L {..})-[:R]->(b:M {..})` — endpoints bound by
    *     MATCH or a CREATE node pattern in the same statement.
    *
    * The reference's schema declares `REQUIRE uid IS UNIQUE`
    * (`schema.cql:18-98`), under which a CREATE of an existing key is a
    * constraint violation in Neo4j — enforced here EAGERLY with one
    * distributed duplicate-count job per node clause (the set-oriented
    * analog of Neo4j's per-row index check), failing the whole batch
    * loudly rather than corrupting the uid-keyed store. Use MERGE to
    * upsert.
    *
    * Divergences, documented: edge identity stays (src, dst, type) — a
    * repeated CREATE of the same relationship is idempotent here where
    * Neo4j would stack a parallel edge; edge property maps bind only
    * columns the edge frame actually has (`created_at` is always the
    * injected clock), and unknown edge props fail loudly; a KEY-LESS
    * node CREATE (no uid/name) derives its uid from label+_seq or
    * xxhash64(all props), so identical key-less rows collide and
    * refuse where Neo4j would create anonymous twins (CypherWriteSpec
    * pins it). Clause order is Neo4j's: MATCH endpoints resolve
    * against the PRE-statement snapshot, never same-statement CREATEs.
    */
  def create(template: String, params: DataFrame, graph: Graph,
             clock: Column, propCols: Seq[String]): Graph = {
    val stmt = new Parser(CypherFrontend.tokenize(template)).createStmt()
    require(stmt.nodeCreates.nonEmpty || stmt.edgeCreates.nonEmpty,
      "CREATE statement creates nothing")
    val seqCol: Column =
      if (params.columns.contains("_seq")) col("_seq")
      else xxhash64(params.columns.sorted.map(col): _*)

    def valCol(sv: SetVal): Column = sv match {
      case ParamVal(p) => col(p)
      case LitVal(v) => lit(v)
      case ClockVal => clock
      case other => sys.error(s"unsupported CREATE value $other")
    }

    def uidCol(m: NodeCreate): Column =
      m.props.collectFirst { case ("uid", sv) => valCol(sv).cast("string") }
        .orElse(m.props.collectFirst { case ("name", sv) =>
          graft.core.Uid.uid(valCol(sv).cast("string")) })
        .getOrElse(graft.core.Uid.uid(
          concat_ws("", lit(m.label), seqCol.cast("string"))))
    def nameCol(m: NodeCreate): Column =
      m.props.collectFirst { case ("name", sv) => valCol(sv).cast("string") }
        .getOrElse(lit(null).cast("string"))

    var nodes = graph.nodes
    stmt.nodeCreates.foreach { m =>
      val sets = m.props.toMap -- Seq("uid", "name", "created_at", "updated_at")
      val badProps = sets.keys.filterNot(propCols.contains).toSeq.sorted
      require(badProps.isEmpty,
        s"CREATE sets unknown propert${if (badProps.size == 1) "y" else "ies"} " +
          s"${badProps.mkString(", ")} (node schema has: ${propCols.mkString(", ")})")
      val incoming = params.select(
        (lit(m.label).as("label") +:
          uidCol(m).as("uid") +:
          nameCol(m).as("name") +:
          propCols.map(p => sets.get(p).map(valCol).getOrElse(lit(null))
            .cast("string").as(p)) :+
          clock.as("created_at") :+ clock.as("updated_at")): _*)
        .localCheckpoint(true) // reused by the constraint probe + union
      // REQUIRE uid IS UNIQUE: in-batch duplicates and collisions with
      // existing nodes of the label are both violations (one job).
      val clash = incoming.select("uid")
        .unionAll(nodes.filter(col("label") === m.label).select("uid"))
        .groupBy("uid").count().filter(col("count") > 1).count()
      // key-less CREATE (no uid/name prop) derives uid from label+_seq,
      // or xxhash64(all prop columns) when the params frame has no
      // _seq — two IDENTICAL rows then collide and the whole statement
      // refuses, where Neo4j CREATE would make two anonymous nodes.
      // Documented divergence (eager-constraint stance), pinned by
      // CypherWriteSpec; the error names the derivation contract
      // instead of blaming a constraint the user never declared.
      val keyless = !m.props.exists(kv => kv._1 == "uid" || kv._1 == "name")
      require(clash == 0,
        if (keyless && !params.columns.contains("_seq"))
          s"CREATE (:${m.label}) without a uid/name prop derives uid = " +
            s"xxhash64(all prop columns): $clash identical row(s) collide " +
            "(Neo4j CREATE would make distinct anonymous nodes — bind " +
            "distinct props, supply a _seq column, or use MERGE)"
        else
          s"CREATE (:${m.label}) violates uid uniqueness for $clash key(s) " +
            "(node exists or batch repeats a key); use MERGE to upsert")
      nodes = nodes.unionByName(incoming)
    }

    var edges = graph.edges
    if (stmt.edgeCreates.nonEmpty) {
      val createsByVar = stmt.nodeCreates.map(m => m.v -> m).toMap
      val matchesByVar = stmt.matches.map(m => m.v -> m).toMap
      val extraEdgeCols =
        graph.edges.columns.filterNot(edgeIdentityCols.contains).toSeq
      stmt.edgeCreates.foreach { em =>
        val badProps = em.props.map(_._1)
          .filterNot(p => p == "created_at" || extraEdgeCols.contains(p))
        require(badProps.isEmpty,
          s"CREATE relationship props ${badProps.mkString(", ")} are not " +
            s"in the edge schema (${graph.edges.columns.mkString(", ")})")
        var frame = params.select(params.columns.map(col) :+ seqCol.as("_create_seq"): _*)
        def resolve(v: String): (Column, String) =
          createsByVar.get(v) match {
            case Some(m) =>
              val uid = // re-derive against _create_seq (seqCol may ref _seq)
                m.props.collectFirst { case ("uid", sv) => valCol(sv).cast("string") }
                  .orElse(m.props.collectFirst { case ("name", sv) =>
                    graft.core.Uid.uid(valCol(sv).cast("string")) })
                  .getOrElse(graft.core.Uid.uid(
                    concat_ws("", lit(m.label), col("_create_seq").cast("string"))))
              (uid, m.label)
            case None =>
              val nm = matchesByVar.getOrElse(v,
                sys.error(s"edge endpoint $v is bound by no MATCH/CREATE"))
              // Cypher clause order: MATCH sees only PRE-statement
              // state (graph.nodes, the snapshot), never nodes this
              // statement's own CREATE clauses appended — those bind
              // through their CREATE variable instead (round-10
              // ADVICE; pinned by CypherWriteSpec).
              frame = frame.join(
                graph.nodes.filter(col("label") === nm.label)
                  .select(col("uid").as(s"_${v}_uid"),
                    col(nm.keyProp).as(s"_${v}_key")),
                col(s"_${v}_key") === col(nm.keyParam))
              (col(s"_${v}_uid"), nm.label)
          }
        val (srcUid, srcLabel) = resolve(em.src)
        val (dstUid, dstLabel) = resolve(em.dst)
        val propByName = em.props.toMap
        val incoming = frame.select(
          (srcUid.as("src_uid") +: dstUid.as("dst_uid") +:
            lit(em.relType).as("rel_type") +:
            lit(srcLabel).as("src_label") +: lit(dstLabel).as("dst_label") +:
            clock.as("created_at") +:
            extraEdgeCols.map(p => propByName.get(p).map(valCol)
              .getOrElse(lit(null)).cast("string").as(p))): _*)
        edges = GraphStore.upsertEdges(edges, incoming)
      }
    }
    Graph(nodes, edges)
  }

  /** The canonical edge-identity/bookkeeping columns; anything else on
    * the edge frame is a property column a CREATE map may bind. */
  private val edgeIdentityCols =
    Set("src_uid", "dst_uid", "rel_type", "src_label", "dst_label", "created_at")

  def merge(template: String, params: DataFrame, graph: Graph,
            clock: Column, propCols: Seq[String]): Graph = {
    val stmt = new Parser(CypherFrontend.tokenize(template)).stmt()
    val seqCol: Column =
      if (params.columns.contains("_seq")) col("_seq")
      else xxhash64(params.columns.sorted.map(col): _*)

    def valCol(sv: SetVal): Column = sv match {
      case ParamVal(p) => col(p)
      case NonEmptyWins(p) => col(p)
      case ClockVal => clock
    }

    // uid/name of a merged node, derived from the key + ON CREATE SET:
    // uid-keyed templates carry $uid directly; name-keyed ones either
    // SET v.uid = $p or fall back to the engine-wide F1 hash of name.
    def uidCol(m: NodeMerge): Column =
      if (m.keyProp == "uid") col(m.keyParam)
      else (m.onCreate ++ m.onMatch).collectFirst { case ("uid", sv) => valCol(sv) }
        .getOrElse(graft.core.Uid.uid(col(m.keyParam)))
    def nameCol(m: NodeMerge): Column =
      if (m.keyProp == "name") col(m.keyParam)
      else (m.onCreate ++ m.onMatch).collectFirst { case ("name", sv) => valCol(sv) }
        .getOrElse(lit(null).cast("string"))

    var nodes = graph.nodes
    stmt.nodeMerges.foreach { m =>
      val sets = (m.onCreate ++ m.onMatch).toMap -- Seq("uid", "name", "created_at", "updated_at")
      val rows = params.select(
        (seqCol.as("_seq") +:
          uidCol(m).as("uid") +:
          nameCol(m).as("name") +:
          propCols.map(p => sets.get(p).map(valCol).getOrElse(lit(null))
            .cast("string").as(p))): _*)
      // in-batch dedup: first non-empty per property in _seq order —
      // the sequential loop's first-seen-wins law, as one hash agg
      def firstNonEmpty(c: String): Column =
        min_by(col(c), when(col(c).isNotNull && trim(col(c)) =!= "", col("_seq"))).as(c)
      val incoming = rows.groupBy("uid").agg(
        min_by(col("name"), col("_seq")).as("name"),
        propCols.map(firstNonEmpty): _*)
        .select(
          (lit(m.label).as("label") +: col("uid") +: col("name") +:
            propCols.map(col) :+
            clock.as("created_at") :+ clock.as("updated_at")): _*)
      nodes = GraphStore.upsertNodes(nodes, incoming, clock, propCols)
    }

    var edges = graph.edges
    if (stmt.edgeMerges.nonEmpty) {
      val mergesByVar = stmt.nodeMerges.map(m => m.v -> m).toMap
      val matchesByVar = stmt.matches.map(m => m.v -> m).toMap
      stmt.edgeMerges.foreach { em =>
        // resolve each endpoint to (uid column, label) on the params
        // frame: MERGE vars carry their uid expression directly; MATCH
        // vars equi-join the (post-merge) node table on the key prop —
        // unmatched rows drop, the reference's skip-and-log behavior
        var frame = params.select(params.columns.map(col): _*)
        def resolve(v: String, side: String): (Column, String) =
          mergesByVar.get(v) match {
            case Some(m) => (uidCol(m), m.label)
            case None =>
              val nm = matchesByVar.getOrElse(v,
                sys.error(s"edge endpoint $v is bound by no MATCH/MERGE"))
              frame = frame.join(
                nodes.filter(col("label") === nm.label)
                  .select(col("uid").as(s"_${v}_uid"),
                    col(nm.keyProp).as(s"_${v}_key")),
                col(s"_${v}_key") === col(nm.keyParam))
              (col(s"_${v}_uid"), nm.label)
          }
        val (srcUid, srcLabel) = resolve(em.src, "src")
        val (dstUid, dstLabel) = resolve(em.dst, "dst")
        val incoming = frame.select(
          srcUid.as("src_uid"), dstUid.as("dst_uid"),
          lit(em.relType).as("rel_type"),
          lit(srcLabel).as("src_label"), lit(dstLabel).as("dst_label"),
          clock.as("created_at"))
        edges = GraphStore.upsertEdges(edges, incoming)
      }
    }
    Graph(nodes, edges)
  }
}
