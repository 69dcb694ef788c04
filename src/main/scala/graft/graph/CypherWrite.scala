package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.Uid
import graft.graph.CypherFrontend.{TId, TKw, TNum, TStr, TSym, Tok}

/** Cypher WRITE statements — the reference's ETL `MERGE` templates
  * (`facilities.py:109-135`, `waste_items.py:366-419`) and the rest of
  * Neo4j's updating clauses — compiled to whole-batch plans over the
  * node and edge frames.
  *
  * The reference binds one params dict per item and round-trips the
  * template once per row. Here the TEMPLATE compiles once and the params
  * bind as a whole DataFrame (one row per item): one distributed plan per
  * statement for the entire batch. The grammar:
  *
  * {{{
  * statement := [UNWIND $batch AS row] match* update+ [RETURN ...]
  * match     := MATCH (v:Label {key: $param})
  * update    := MERGE (v:Label {key: $param}) [ON CREATE SET sets | ON MATCH SET sets]*
  *            | MERGE (a)-[r:TYPE]->(b) [ON CREATE SET r.created_at = datetime()]
  *            | CREATE pattern [, pattern]*
  *            | SET sets
  *            | REMOVE v.prop [, v.prop]*
  *            | [DETACH] DELETE v
  * pattern   := node [-[r:TYPE {prop: value, ...}]->node]*
  * node      := (v:Label {prop: value, ...})  -- created
  *            | (v)                           -- a bound variable
  * sets      := v.prop = value [, v.prop = value]*
  * value     := $param | row.col | 'str' | 42 | TRUE | FALSE | datetime()
  *            | CASE WHEN $p <> '' THEN $p ELSE v.prop END   -- SET positions
  * }}}
  *
  * `row.col` reads params column `col`, exactly like `$col`: the params
  * frame already is the UNWIND batch. The trailing RETURN is accepted and
  * ignored (the result is the returned Graph, not a per-row cursor).
  * Clauses compile in order:
  *
  *   - MATCH binds against the PRE-statement snapshot, as in Neo4j; a
  *     params row whose key finds no node forms no edge and updates
  *     nothing (the reference logs and skips, `waste_items.py:412-419`).
  *     A MATCH after an updating clause is refused with Neo4j's own
  *     error, "WITH is required between MERGE and MATCH".
  *   - MERGE of a node is [[GraphStore.upsertNodes]], whose contract IS
  *     the reference's template: ON CREATE takes incoming verbatim, ON
  *     MATCH non-empty-incoming-wins, `created_at` preserved, `updated_at`
  *     bumped to the injected clock. Duplicate keys within one batch merge
  *     per property by FIRST NON-EMPTY in `_seq` order when the params
  *     carry a `_seq` column (the first-seen-wins law of
  *     `etl.Facilities.dedupMerge`), else in a deterministic xxhash64
  *     order of the whole row.
  *   - MERGE of a relationship is [[GraphStore.upsertEdges]]: idempotent
  *     on (src, dst, type), earliest `created_at` kept.
  *   - CREATE appends one node per params row. The reference's schema
  *     declares `REQUIRE uid IS UNIQUE` (`schema.cql:18-98`), so a
  *     created key that exists, or repeats in the batch, fails the whole
  *     statement — one eager duplicate-count job per created node. Use
  *     MERGE to upsert. Relationship maps bind only the edge frame's
  *     property columns (`created_at` is always the clock).
  *   - SET / REMOVE update the bound node by one equi-join on its key:
  *     matched nodes take the values (REMOVE: null) and an `updated_at`
  *     bump. Duplicate keys resolve LAST-write-wins in `_seq` order, the
  *     final state of the reference's per-row loop.
  *   - DELETE anti-joins the bound node. A plain DELETE of a node with
  *     relationships is Neo4j's constraint violation, checked eagerly
  *     with one count; DETACH also drops the incident edges.
  *
  * A node's uid is its explicit `uid` value, else the F1 hash
  * ([[Uid.uid]]) of its MERGE key, else of its `name`, else of its label
  * and batch position.
  *
  * Divergences from Neo4j, pinned by CypherWriteSpec:
  *   - Node clauses are not gated by MATCH: a MERGE or CREATE node runs
  *     for every params row, also where the statement's MATCH found
  *     nothing (Neo4j would have no row left to run it on).
  *   - A property set in ON CREATE but not in ON MATCH (other than
  *     uid/name/created_at, handled structurally) still follows the
  *     upsert's non-empty-wins law on match. The reference's templates
  *     pair every such property, so they compile exactly.
  *   - Edge identity is (src, dst, type): a repeated CREATE of the same
  *     relationship is idempotent where Neo4j stacks a parallel edge.
  *   - A key-less CREATE (no uid/name) derives its uid from label and
  *     `_seq`, or from xxhash64 of the whole params row when there is no
  *     `_seq`, so identical key-less rows collide and refuse where Neo4j
  *     would create anonymous twins.
  */
object CypherWrite {

  /** The node+edge tables a write statement reads and produces. */
  final case class Graph(nodes: DataFrame, edges: DataFrame)

  // ------------------------------------------------------------- AST
  private sealed trait SetVal
  private case object ClockVal extends SetVal              // datetime()
  private case class ParamVal(name: String) extends SetVal // $param, row.col
  private case class LitVal(value: String) extends SetVal  // 'str', 42, TRUE
  /** CASE WHEN $p <> '' THEN $p ELSE v.prop END */
  private case class NonEmptyWins(name: String) extends SetVal
  /** REMOVE v.prop — the property goes to null (Neo4j's removal). */
  private case object RemoveVal extends SetVal

  private type Props = Seq[(String, SetVal)]
  /** `(v:Label {props})`; no label = a reference to a bound variable. */
  private case class NodePat(v: String, label: Option[String], props: Props)
  private case class EdgePat(src: String, relType: String, dst: String, props: Props)

  private sealed trait Clause
  private case class Match(n: NodePat) extends Clause
  /** `sets` = ON CREATE then ON MATCH assignments. */
  private case class MergeNode(n: NodePat, sets: Props) extends Clause
  private case class MergeEdge(e: EdgePat) extends Clause
  private case class Create(nodes: Seq[NodePat], edges: Seq[EdgePat]) extends Clause
  /** SET or REMOVE (`verb`) on one bound variable. */
  private case class Update(verb: String, v: String, sets: Props) extends Clause
  private case class Delete(v: String, detach: Boolean) extends Clause

  // ---------------------------------------------------------- parser
  private final class Parser(toks: Vector[Tok]) {
    private var pos = 0
    private def peek: Option[Tok] = toks.lift(pos)
    private def here: String = peek.map(_.text).getOrElse("<eof>")
    private def atKw(kw: String): Boolean = peek.contains(TKw(kw))
    private def atSym(s: String): Boolean = peek.contains(TSym(s))
    private def eatKw(kw: String): Unit =
      require(atKw(kw) && { pos += 1; true }, s"expected $kw at token $pos ('$here')")
    private def eatSym(s: String): Unit =
      require(atSym(s) && { pos += 1; true }, s"expected '$s' at token $pos ('$here')")
    private def ident(): String = peek match {
      case Some(TId(x)) => pos += 1; x
      case _ => sys.error(s"expected identifier at token $pos, got '$here'")
    }
    private def more(): Boolean = atSym(",") && { pos += 1; true }

    /** The alias of `UNWIND $batch AS row`: `row.col` reads params
      * column `col`, exactly like `$col`. */
    private var unwindAlias: Option[String] = None

    /** The one value parser. `target` is the `v.prop` being assigned,
      * which the CASE form must keep; a pattern map (`inMap`) takes no
      * CASE — there is no existing value to keep. */
    private def value(where: String, target: String, inMap: Boolean): SetVal = {
      val at = here
      if (atSym("$")) { pos += 1; ParamVal(ident()) }
      else if (peek.exists { case TId(a) => unwindAlias.contains(a); case _ => false }) {
        pos += 1; eatSym("."); ParamVal(ident())
      } else if (atKw("TRUE") || atKw("FALSE")) { pos += 1; LitVal(at.toLowerCase) }
      else if (atKw("CASE") && !inMap) {
        eatKw("CASE"); eatKw("WHEN")
        val guard = value(where, target, inMap = true)
        eatSym("<>")
        require(peek.contains(TStr("")), s"expected '' in the CASE guard of $target, got '$here'")
        pos += 1; eatKw("THEN")
        val taken = value(where, target, inMap = true)
        eatKw("ELSE")
        val kept = { val v = ident(); eatSym("."); s"$v.${ident()}" }
        eatKw("END")
        (guard, taken) match {
          case (ParamVal(a), ParamVal(b)) if a == b && kept == target => NonEmptyWins(a)
          case _ => sys.error(s"$where $target: the CASE form must be " +
            s"CASE WHEN $$p <> '' THEN $$p ELSE $target END")
        }
      } else peek match {
        case Some(TStr(str)) => pos += 1; LitVal(str)
        case Some(TNum(n)) => pos += 1; LitVal(n)
        case Some(TId("datetime")) => pos += 1; eatSym("("); eatSym(")"); ClockVal
        case _ => sys.error(s"unsupported value '$at' for $target in $where: expected " +
          "$param, a string/number/boolean literal or datetime()" +
          (if (inMap) "" else s", or CASE WHEN $$p <> '' THEN $$p ELSE $target END"))
      }
    }

    /** `{k: value, ...}` of node or relationship `v`. */
    private def propsMap(where: String, v: String): Props = {
      val out = Seq.newBuilder[(String, SetVal)]
      eatSym("{")
      if (!atSym("}")) while ({
        val k = ident(); eatSym(":")
        out += (k -> value(where, s"$v.$k", inMap = true))
        more()
      }) ()
      eatSym("}")
      out.result()
    }

    /** `(v[:Label] [{props}])` */
    private def node(where: String): NodePat = {
      eatSym("(")
      val v = ident()
      val label = if (atSym(":")) { pos += 1; Some(ident()) } else None
      val props = if (atSym("{")) propsMap(where, v) else Nil
      eatSym(")")
      NodePat(v, label, props)
    }

    /** `node [-[r:TYPE {props}]->node]*` — the one path parser. */
    private def path(where: String): (Seq[NodePat], Seq[EdgePat]) = {
      val nodes = Seq.newBuilder[NodePat]
      val edges = Seq.newBuilder[EdgePat]
      var left = node(where)
      nodes += left
      while (atSym("-")) {
        pos += 1; eatSym("[")
        val r = if (atSym(":")) "r" else ident() // identity is the triple
        eatSym(":"); val relType = ident()
        val props = if (atSym("{")) propsMap(where, r) else Nil
        eatSym("]"); eatSym("->")
        val right = node(where)
        nodes += right
        edges += EdgePat(left.v, relType, right.v, props)
        left = right
      }
      (nodes.result(), edges.result())
    }

    /** A MATCH or MERGE node must be `(v:Label {key: $param})`. */
    private def keyed(verb: String, n: NodePat): NodePat = {
      require(n.label.nonEmpty && (n.props match {
        case Seq((_, ParamVal(_))) => true
        case _ => false
      }), s"$verb (${n.v}) takes a label and one key bound to a parameter: " +
        s"(${n.v}:Label {key: $$param})")
      n
    }

    /** `v.prop = value [, ...]` as (v, prop, value). */
    private def assigns(where: String): Seq[(String, String, SetVal)] = {
      val out = Seq.newBuilder[(String, String, SetVal)]
      while ({
        val v = ident(); eatSym("."); val p = ident(); eatSym("=")
        out += ((v, p, value(where, s"$v.$p", inMap = false)))
        more()
      }) ()
      out.result()
    }

    private def merge(): Clause = path("MERGE") match {
      case (Seq(n0), Seq()) =>
        val n = keyed("MERGE", n0)
        val sets = Seq.newBuilder[(String, SetVal)]
        while (atKw("ON")) {
          pos += 1
          val where = if (atKw("CREATE")) "ON CREATE SET" else "ON MATCH SET"
          if (atKw("CREATE")) pos += 1 else eatKw("MATCH")
          eatKw("SET")
          assigns(where).foreach { case (v, p, sv) =>
            require(v == n.v, s"$where on $v inside a merge of ${n.v}")
            sets += (p -> sv)
          }
        }
        MergeNode(n, sets.result())
      case (ends, Seq(e)) if ends.forall(n => n.label.isEmpty && n.props.isEmpty) =>
        require(e.props.isEmpty,
          "MERGE of a relationship takes no property map (its identity is (src, dst, type))")
        // the edge's created_at IS the upsert clock, its one ON CREATE
        if (atKw("ON")) {
          pos += 1; eatKw("CREATE"); eatKw("SET")
          assigns("relationship ON CREATE SET").foreach {
            case (_, "created_at", ClockVal) =>
            case (v, p, _) => sys.error(s"MERGE relationship ON CREATE SET $v.$p: " +
              "only created_at = datetime() is supported (the upsert clock)")
          }
        }
        MergeEdge(e)
      case _ => sys.error("MERGE takes one node (v:Label {key: $param}) or one " +
        "relationship (a)-[r:TYPE]->(b) between bound variables")
    }

    /** The one clause loop: UNWIND? MATCH* updating-clause+ RETURN? */
    def statement(): Seq[Clause] = {
      if (atKw("UNWIND")) {
        pos += 1; eatSym("$"); ident() // the batch: the params frame itself
        eatKw("AS"); unwindAlias = Some(ident())
      }
      val out = Seq.newBuilder[Clause]
      var verb = "" // the last updating clause
      while (peek.nonEmpty && !atKw("RETURN")) { // RETURN: accepted, ignored
        val kw = peek.collect { case TKw(k) => k }.getOrElse("")
        pos += 1
        kw match {
          case "MATCH" =>
            require(verb.isEmpty, s"WITH is required between $verb and MATCH")
            out += Match(keyed("MATCH", node("MATCH")))
          case "MERGE" => out += merge()
          case "CREATE" =>
            val parts = Seq.newBuilder[(Seq[NodePat], Seq[EdgePat])]
            while ({ parts += path("CREATE"); more() }) ()
            val (ns, es) = parts.result().unzip
            val c = Create(ns.flatten.filter(_.label.nonEmpty), es.flatten)
            require(c.nodes.nonEmpty || c.edges.nonEmpty, "CREATE statement creates nothing")
            out += c
          case "SET" | "REMOVE" =>
            val sets =
              if (kw == "SET") assigns("SET")
              else {
                val b = Seq.newBuilder[(String, String, SetVal)]
                while ({ val v = ident(); eatSym("."); b += ((v, ident(), RemoveVal)); more() }) ()
                b.result()
              }
            sets.map(_._1).distinct.foreach(v =>
              out += Update(kw, v, sets.collect { case (`v`, p, sv) => p -> sv }))
          case "DETACH" if atKw("DELETE") => pos += 1; out += Delete(ident(), detach = true)
          case "DELETE" => out += Delete(ident(), detach = false)
          case _ =>
            pos -= 1
            sys.error(s"unexpected token '$here' in write statement: expected " +
              "MATCH, MERGE, CREATE, SET, REMOVE, [DETACH] DELETE or RETURN")
        }
        if (kw != "MATCH") verb = if (kw == "DETACH") "DELETE" else kw
      }
      require(verb.nonEmpty,
        "unsupported write statement: expected MERGE, CREATE, SET, REMOVE, or DELETE")
      out.result()
    }
  }

  // -------------------------------------------------------- compiler

  /** Does the statement contain a write clause? (Token-level — string
    * literals can spell MERGE without tripping this.) The [[GraphDb]]
    * facade uses it to route `query()` between the read compiler and
    * [[apply]]. */
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

  /** The canonical edge-identity/bookkeeping columns; anything else on
    * the edge frame is a property column a CREATE map may bind. */
  private val edgeIdentityCols =
    Set("src_uid", "dst_uid", "rel_type", "src_label", "dst_label", "created_at")

  /** Apply one write template to the graph for a whole params batch —
    * the one entry point behind [[GraphDb.query]] and [[GraphDb.merge]].
    *
    * `params` columns = the template's `$names` (all strings, like the
    * driver's params dicts), plus an optional `_seq` LONG giving the
    * reference's loop order for in-batch duplicate keys. `propCols` =
    * the property columns of the nodes table (between `name` and
    * `created_at`, the layout [[GraphDb.empty]] builds).
    */
  def apply(template: String, params: DataFrame, graph: Graph,
            clock: Column, propCols: Seq[String]): Graph = {
    val clauses = new Parser(CypherFrontend.tokenize(template)).statement()
    // the batch order: the reference's loop order, else a row hash
    val seq: Column =
      if (params.columns.contains("_seq")) col("_seq")
      else xxhash64(params.columns.toSeq.sorted.map(col): _*)
    def valCol(sv: SetVal): Column = sv match {
      case ParamVal(p) => col(p)
      case NonEmptyWins(p) => col(p) // the keep-if-empty arm is the caller's
      case LitVal(v) => lit(v)
      case ClockVal => clock
      case RemoveVal => lit(null)
    }
    def strCol(props: Map[String, SetVal], p: String): Column =
      props.get(p).map(valCol).getOrElse(lit(null)).cast("string")
    def requireProps(where: String, props: Iterable[String]): Unit = {
      val bad = props.filterNot(propCols.contains).toSeq.distinct.sorted
      require(bad.isEmpty, s"$where: unknown propert" +
        s"${if (bad.size == 1) "y" else "ies"} ${bad.mkString(", ")} " +
        s"(node schema has: ${propCols.mkString(", ")})")
    }

    val extraEdgeCols = graph.edges.columns.filterNot(edgeIdentityCols).toSeq
    var nodes = graph.nodes
    var edges = graph.edges
    // every variable -> the clause that bound it and its pattern (a
    // MERGE node's props are its key, then its ON CREATE/MATCH sets)
    var bound = Map.empty[String, (String, NodePat)]
    /** (uid, name) of a written node: its `uid`, else the F1 hash of
      * its MERGE key, else of its `name`, else of its label and batch
      * order joined by U+0001. */
    def identity(verb: String, n: NodePat): (Column, Column) = {
      val props = n.props.reverse.toMap // the first assignment wins
      def str(p: String) = props.get(p).map(valCol(_).cast("string"))
      val hashed = (if (verb == "MERGE") Seq(n.props.head._1, "name") else Seq("name"))
        .flatMap(str).headOption.map(Uid.uid)
      (str("uid").orElse(hashed)
        .getOrElse(Uid.uid(concat_ws("\u0001", lit(n.label.get), seq.cast("string")))),
        str("name").getOrElse(lit(null).cast("string")))
    }
    /** The node a SET/REMOVE/DELETE names, with its key (prop, param)
      * and the table that key resolves in: a MATCH sees the
      * pre-statement snapshot, a MERGE its own result. */
    def target(verb: String, v: String) = bound.get(v) match {
      case Some((by, n @ NodePat(_, Some(_), (k, ParamVal(p)) +: _))) if by != "CREATE" =>
        (n, k, p, if (by == "MATCH") graph.nodes else nodes)
      case _ => sys.error(s"$verb on $v: only a variable bound by MATCH or " +
        s"MERGE can be updated (bound: ${bound.keys.toSeq.sorted.mkString(", ")})")
    }
    /** Resolve endpoint `v` on the params-row frame `f` to its (frame,
      * uid, label): a MATCH variable equi-joins the pre-statement
      * snapshot on its key — rows whose key finds no node drop — and a
      * node this statement writes derives its uid on the row. */
    def endpoint(f: DataFrame, v: String): (DataFrame, Column, String) =
      bound.get(v) match {
        case Some(("MATCH", NodePat(_, Some(label), Seq((k, ParamVal(p)))))) =>
          (f.join(graph.nodes.filter(col("label") === label)
              .select(col("uid").as(s"_${v}_uid"), col(k).as(s"_${v}_key")),
            col(s"_${v}_key") === col(p)),
            col(s"_${v}_uid"), label)
        case Some((verb, n)) => (f, identity(verb, n)._1, n.label.get)
        case None => sys.error(s"edge endpoint $v is bound by no MATCH/CREATE/MERGE")
      }

    /** One relationship per params row whose endpoints resolve, into
      * [[GraphStore.upsertEdges]]. */
    def addEdge(e: EdgePat): Unit = {
      val bad = e.props.map(_._1)
        .filterNot(p => p == "created_at" || extraEdgeCols.contains(p))
      require(bad.isEmpty,
        s"CREATE relationship props ${bad.mkString(", ")} are not " +
          s"in the edge schema (${graph.edges.columns.mkString(", ")})")
      val (f1, srcUid, srcLabel) = endpoint(params, e.src)
      val (f2, dstUid, dstLabel) = endpoint(f1, e.dst)
      val props = e.props.toMap
      edges = GraphStore.upsertEdges(edges, f2.select(
        (srcUid.as("src_uid") +: dstUid.as("dst_uid") +:
          lit(e.relType).as("rel_type") +:
          lit(srcLabel).as("src_label") +: lit(dstLabel).as("dst_label") +:
          clock.as("created_at") +:
          extraEdgeCols.map(p => strCol(props, p).as(p))): _*))
    }
    clauses.foreach {
      case Match(n) => bound += n.v -> ("MATCH", n)

      case MergeNode(n0, sets) =>
        val n = n0.copy(props = n0.props ++ sets)
        bound += n.v -> ("MERGE", n)
        val props = n.props.toMap -- Seq("uid", "name", "created_at", "updated_at")
        requireProps(s"MERGE (${n.v}:${n.label.get})", props.keys)
        val (uid, name) = identity("MERGE", n)
        val rows = params.select((seq.as("_seq") +: uid.as("uid") +:
          name.as("name") +: propCols.map(p => strCol(props, p).as(p))): _*)
        // in-batch dedup: first non-empty per property in _seq order —
        // the sequential loop's first-seen-wins law, as one hash agg
        def firstNonEmpty(c: String): Column =
          min_by(col(c), when(col(c).isNotNull && trim(col(c)) =!= "", col("_seq"))).as(c)
        val incoming = rows.groupBy("uid").agg(
          min_by(col("name"), col("_seq")).as("name"),
          propCols.map(firstNonEmpty): _*)
          .select((lit(n.label.get).as("label") +: col("uid") +: col("name") +:
            propCols.map(col) :+
            clock.as("created_at") :+ clock.as("updated_at")): _*)
        nodes = GraphStore.upsertNodes(nodes, incoming, clock, propCols)

      case Create(creates, rels) =>
        creates.foreach { n =>
          bound += n.v -> ("CREATE", n)
          val label = n.label.get
          val props = n.props.toMap -- Seq("uid", "name", "created_at", "updated_at")
          requireProps(s"CREATE (${n.v}:$label)", props.keys)
          val (uid, name) = identity("CREATE", n)
          val incoming = params.select((lit(label).as("label") +: uid.as("uid") +:
            name.as("name") +: propCols.map(p => strCol(props, p).as(p)) :+
            clock.as("created_at") :+ clock.as("updated_at")): _*)
            .localCheckpoint(true) // reused by the constraint probe + union
          // REQUIRE uid IS UNIQUE: in-batch duplicates and collisions with
          // existing nodes of the label are both violations (one job)
          val clash = incoming.select("uid")
            .unionAll(nodes.filter(col("label") === label).select("uid"))
            .groupBy("uid").count().filter(col("count") > 1).count()
          // without _seq a key-less row's uid is its row hash: name that
          // derivation, not a constraint the user never declared
          val keyless = !n.props.exists(kv => kv._1 == "uid" || kv._1 == "name")
          require(clash == 0,
            if (keyless && !params.columns.contains("_seq"))
              s"CREATE (:$label) without a uid/name prop derives uid = " +
                s"xxhash64(all prop columns): $clash identical row(s) collide " +
                "(Neo4j CREATE would make distinct anonymous nodes — bind " +
                "distinct props, supply a _seq column, or use MERGE)"
            else
              s"CREATE (:$label) violates uid uniqueness for $clash key(s) " +
                "(node exists or batch repeats a key); use MERGE to upsert")
          nodes = nodes.unionByName(incoming)
        }
        rels.foreach(addEdge)

      case MergeEdge(e) => addEdge(e)

      case Update(verb, v, sets) =>
        val (n, k, p, table) = target(verb, v)
        requireProps(verb, sets.map(_._1))
        val label = n.label.get
        val aggs = sets.map { case (prop, sv) =>
          max_by(valCol(sv).cast("string"), seq).as(s"_set_$prop")
        }
        var upd = params.groupBy(col(p).as("_key")).agg(aggs.head, aggs.tail: _*)
        if (table ne nodes) // keys only this statement wrote match nothing
          upd = upd.join(table.filter(col("label") === label).select(col(k).as("_key")),
            Seq("_key"), "left_semi")
        val matched = col("_key").isNotNull
        val setByProp = sets.toMap
        nodes = nodes
          .join(upd, col(k) === col("_key") && col("label") === label, "left")
          .select(graph.nodes.columns.toSeq.map {
            case c if setByProp.contains(c) =>
              val inc = col(s"_set_$c")
              (setByProp(c) match {
                case NonEmptyWins(_) =>
                  when(matched && inc.isNotNull && trim(inc) =!= "", inc).otherwise(col(c))
                case _ => when(matched, inc).otherwise(col(c))
              }).as(c)
            case "updated_at" =>
              when(matched, clock).otherwise(col("updated_at")).as("updated_at")
            case c => col(c)
          }: _*)

      case Delete(v, detach) =>
        val (n, k, p, table) = target("DELETE", v)
        val doomed = table
          .join(params.select(col(p).as("_key")).distinct(),
            col(k) === col("_key") && col("label") === n.label.get)
          .select(col("uid").as("_doomed"))
          .localCheckpoint(true) // reused by up to 4 joins below
        if (!detach) {
          val incident =
            edges.join(doomed, col("src_uid") === col("_doomed"), "left_semi")
              .unionByName(
                edges.join(doomed, col("dst_uid") === col("_doomed"), "left_semi"))
              .count()
          require(incident == 0,
            s"DELETE of $v: $incident incident relationship(s) exist; use DETACH DELETE")
        }
        nodes = nodes.join(doomed, col("uid") === col("_doomed"), "left_anti")
        if (detach) edges = edges
          .join(doomed, col("src_uid") === col("_doomed"), "left_anti")
          .join(doomed, col("dst_uid") === col("_doomed"), "left_anti")
    }

    Graph(nodes, edges)
  }
}
