package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, DoubleType, LongType, StringType, StructType}

/** Cypher-string front-end over node/edge DataFrames — the reference's
  * arbitrary-Cypher query API (`neo4j_db.py:93-106`) for its READ
  * surface, parsed and compiled to DataFrame plans, so Catalyst
  * optimizes the whole chain (label filters push into the node scan,
  * hops are uid equi-joins, implicit Cypher grouping is one hash
  * aggregate).
  *
  * Supported subset = every read query shape the reference issues or
  * documents (`etl_implementation.md:229-257`, `neo4j_db.py:29-157`):
  * `MATCH` / `OPTIONAL MATCH` chains with labels, property maps and
  * directed OR undirected relationships — `-[:T]-` compiles over the
  * symmetric edge closure, one keyed join, walk orientation defining
  * the bound rel's src/dst (incl. `|` type alternation,
  * comma-separated chains joined on shared variables, bounded
  * variable-length `-[:R*lo..hi]->` hops compiled to a union of
  * unrolled joins — walk semantics, depth capped at 10 — and
  * unbounded `-[:R*]->` compiled to the `Traversal.reachFixpoint`
  * reachability closure, distinct pairs),
  * `p = shortestPath((a)-[:T*lo..hi]->(b))` with `length(p)` and
  * `RETURN p` (one rule for every form, `lo <= 1`: the seeded
  * `Traversal.reachFixpointWitness` BFS to depth `hi`, or to the
  * graph's depth for `*`), general named paths
  * `p = (a)-[:T*1..2]->(b)` whose `length(p)` is the walk's hop count
  * (fixed hops count 1, a var-length hop its unrolled depth — a
  * constant column per k-fold chain, zero data cost), per-clause
  * `WHERE` with Cypher scoping (an OPTIONAL MATCH's predicate filters
  * its matches inside the left join, never the null-padded rows) over
  * comparisons / boolean ops / string
  * predicates (`CONTAINS`/`STARTS WITH`/`ENDS WITH`, plus `=~`
  * full-match regex — anchored rlike) / `IS [NOT] NULL` / `e IN list`
  * / `XOR` / `[NOT] (n)-[:R]->()`
  * pattern predicates, chained `WITH items [WHERE pred]` pipeline
  * stages (projection or implicit-grouping aggregation; the WHERE is
  * HAVING; later MATCHes join on the carried variables, or correlate
  * via WHERE on a scalar alias), `UNWIND list AS x` (literal, `$param`
  * list, or a `collect(...)` alias), `CASE` expressions (searched and
  * simple forms), list literals, postfix `[i]` indexing of any list
  * expression (0-based, negative from the end), list comprehensions
  * `[x IN list WHERE p | e]` and `reduce(acc = init, x IN list | e)`
  * (codegen'd `filter`/`transform`/`aggregate` higher-order
  * functions), arithmetic (`+ - * / %`), the scalar
  * function battery ([[scalarFns]]: coalesce, case/trim/substring/
  * replace/split/left/right string ops, casts, abs/round/floor/ceil,
  * size — chars for strings, elements for lists, by shape — id,
  * range, properties/keys), `RETURN [DISTINCT]`
  * with `AS` aliases, `count(*)` /
  * `count([DISTINCT] n)` / `min` / `max` / `sum` / `avg` / `collect`,
  * `labels(n)[0]`, `type(r)`, property access, `$param` substitution,
  * `ORDER BY ... [ASC|DESC]`, `SKIP`, `LIMIT` (RETURN and WITH share
  * one projection body and one ORDER BY rule, see [[Projection]]).
  * Write statements are not compiled here: [[GraphDb.query]] routes
  * `MERGE`, `CREATE`, `SET`, `REMOVE` and `DELETE` through
  * [[CypherWrite]] to the [[GraphStore]] upserts, and [[run]] rejects
  * them with a pointer.
  *
  * Node tables are `(label, uid, <props...>)`, edge tables
  * `(src_uid, rel_type, dst_uid, <props...>)` — the engine-wide graph
  * shape. Aggregation follows Cypher semantics: the presence of any
  * aggregate in RETURN groups by all non-aggregated return items.
  */
object CypherFrontend {

  // ---------------------------------------------------------------- AST

  /** An expression or a predicate — the node type of the one tree walk
    * ([[mapChildren]], [[children]], [[subterms]]). */
  private sealed trait Term
  private sealed trait Expr extends Term
  private case class EVar(name: String) extends Expr
  private case class EProp(v: String, key: String) extends Expr
  private case class ELit(v: Any) extends Expr
  private case class EParam(name: String) extends Expr
  private case class EAgg(fn: String, arg: Option[Expr], distinct: Boolean) extends Expr
  private case class ELabels0(v: String) extends Expr
  private case class EType(v: String) extends Expr
  /** `[e1, e2, ...]` list literal. */
  private case class EList(items: Seq[Expr]) extends Expr
  /** `CASE [operand] WHEN cond THEN value ... [ELSE e] END`: searched
    * form carries Pred conditions (operand = None), simple form
    * compares the operand to each WHEN value. */
  private case class ECase(operand: Option[Expr],
                           whens: Seq[(Either[Pred, Expr], Expr)],
                           els: Option[Expr]) extends Expr
  /** Binary arithmetic `+ - * / %` (numeric semantics; Cypher's
    * string `+` is CONTAINS-era sugar we don't emulate). */
  private case class EArith(op: String, l: Expr, r: Expr) extends Expr
  /** Whitelisted scalar function call (see [[scalarFns]]). */
  private case class EFn(fn: String, args: Seq[Expr]) extends Expr
  /** Postfix list index `base[i]` — Cypher 0-based; a negative index
    * counts from the end (both map to `element_at`). */
  private case class EIndex(base: Expr, idx: Expr) extends Expr
  /** `list[lo..hi]` range slice — Cypher 0-based, end-EXCLUSIVE, open
    * ends allowed (`[..2]`, `[1..]`), negatives count from the end. */
  private case class ESlice(base: Expr, lo: Option[Expr], hi: Option[Expr]) extends Expr
  /** `{k: expr, ...}` map literal — compiles to a struct (Cypher maps
    * are heterogeneous; a Spark map would force one value type). */
  private case class EMapLit(entries: Seq[(String, Expr)]) extends Expr
  /** `[x IN list WHERE p | e]` list comprehension — filter and/or map;
    * compiles to the codegen'd `filter`/`transform` higher-order
    * functions with `x` bound as a lambda variable. */
  private case class EComp(v: String, list: Expr, where: Option[Pred],
                           map: Option[Expr]) extends Expr
  /** `reduce(acc = init, x IN list | body)` — compiles to the
    * `aggregate` higher-order function. */
  private case class EReduce(acc: String, init: Expr, v: String,
                             list: Expr, body: Expr) extends Expr
  /** `v {.k1, .k2}` map projection — the selected subset of
    * properties(v), same string-valued map contract. */
  private case class EMapProj(v: String, keys: Seq[String]) extends Expr
  /** `COUNT { [MATCH] chains [WHERE pred] }` (Neo4j 5's counting
    * sibling of EXISTS {}): the number of MATCHES (walks) of the
    * pattern per binding of the shared variables. Compiles to one
    * grouped count of the matched frame ([[Compiler]]'s `chainFrame`),
    * left-joined on the shared keys (zero for no matches). */
  private case class ECountChain(chains: Seq[Chain], where: Option[Pred]) extends Expr
  /** `COLLECT { [MATCH] chains [WHERE p] RETURN expr [ORDER BY ...]
    * [LIMIT n] }` (Neo4j 5.6's list-building subquery): the inner
    * RETURN values collected into one list per binding of the shared
    * variables — the Graph-RAG per-entity list builder. Compiles to
    * ONE ordered window collect over the compiled pattern frame +
    * one left join (empty list for no matches), never per-row
    * subquery execution. Element order: the inner ORDER BY keys, the
    * returned value appended as a final tiebreaker (deterministic
    * engine choice — Neo4j leaves tie order unspecified); with no
    * ORDER BY, ascending by value. */
  private case class ECollect(chains: Seq[Chain], where: Option[Pred],
                              ret: Expr, orderBy: Seq[OrderKey],
                              limit: Option[Long]) extends Expr
  /** A pattern predicate / EXISTS subquery used as a boolean VALUE —
    * `RETURN exists((a)-[:R]->(b))`, `EXISTS { }` in a CASE RESULT or
    * any other expression position. Rides the SAME pre-joined flag
    * columns the predicate positions use (the tree walk finds it,
    * predCol resolves it), so the 100 TB cost stays one
    * DISTINCT-probe left join per distinct pattern — never per-row
    * subquery execution. The bare pattern-as-list-of-paths value form
    * stays refused (its value is a path list, not a boolean). */
  private case class EPredVal(p: Pred) extends Expr

  private sealed trait Pred extends Term
  private case class PCmp(op: String, l: Expr, r: Expr) extends Pred
  private case class PStr(op: String, l: Expr, r: Expr) extends Pred
  private case class PAnd(l: Pred, r: Pred) extends Pred
  private case class POr(l: Pred, r: Pred) extends Pred
  /** Cypher XOR (precedence between OR and AND). */
  private case class PXor(l: Pred, r: Pred) extends Pred
  private case class PNot(p: Pred) extends Pred
  private case class PIsNull(e: Expr, negated: Boolean) extends Pred
  /** Bare boolean expression in predicate position (`WHERE flag`,
    * `WHERE exists(n.prop)`) — Cypher truthiness is boolean-only:
    * compiles to `expr = true`, so a null stays null and filters out. */
  private case class PBoolE(e: Expr) extends Pred
  /** `e IN list` — literal/param lists compile to `isin` (pushdown-
    * friendly), column-valued lists to `array_contains`. */
  private case class PIn(l: Expr, r: Expr) extends Pred
  /** `n:Label` label predicate in WHERE. */
  private case class PHasLabel(v: String, label: String) extends Pred
  /** Every pattern subquery in predicate position: the bare pattern
    * predicate `(a)-[:X]->(b)`, `exists((...))` and `EXISTS { [MATCH]
    * chains [WHERE pred] }`. Compiles to a semi/anti join (or a flag
    * column) of the matched frame ([[Compiler]]'s `chainFrame`) on every
    * variable shared with the outer scope: a bound variable correlates,
    * an unbound one is existential. Same walk semantics as MATCH (no
    * relationship-uniqueness constraint — the engine-wide divergence
    * documented for var-length paths). */
  private case class PExistsChain(chains: Seq[Chain], where: Option[Pred]) extends Pred
  /** `all/any/none/single(x IN list WHERE p)` quantified list
    * predicates — compile to a size() over the `filter` higher-order
    * function (codegen'd, no explode). */
  private case class PQuant(q: String, v: String, list: Expr,
                            where: Pred) extends Pred

  private case class NodePat(v: Option[String], label: Option[String],
                             props: Map[String, Expr])
  /** hi marker for `-[:R*]->` (unbounded reachability). */
  private val Unbounded = Int.MaxValue
  /** `varLen = Some((lo, hi))` for `-[:R*lo..hi]->` bounded
    * variable-length relationships; `hi == Unbounded` for `*`. */
  private case class RelPat(v: Option[String], types: Seq[String], forward: Boolean,
                            varLen: Option[(Int, Int)] = None,
                            /** `-[:T]-` both-ways match: compiled over
                              * the symmetric edge closure with
                              * `forward = true`. */
                            undirected: Boolean = false,
                            /** `-[r:T {key: val}]->` relationship
                              * property map — equality filters on the
                              * edge frame's columns. */
                            props: Map[String, Expr] = Map.empty)
  private case class Chain(head: NodePat, hops: Seq[(RelPat, NodePat)])
  /** One MATCH / OPTIONAL MATCH clause: comma chains + its own WHERE —
    * Cypher scopes a WHERE to the clause it follows, which matters for
    * OPTIONAL MATCH (the predicate filters the MATCHES, it must not
    * drop null-padded rows post-join). */
  private case class MatchClause(chains: Seq[Chain], optional: Boolean,
                                 where: Option[Pred],
                                 /** `p = shortestPath((a)-[:T*lo..hi]->(b))`
                                   * (lo <= 1, hi bounded or `*`): the
                                   * bound path variable. */
                                 shortest: Option[String] = None,
                                 /** allShortestPaths: keep EVERY walk
                                   * tied at the min depth (one row per
                                   * path), not one row per pair. */
                                 shortestAll: Boolean = false,
                                 /** `p = (a)-[:T*1..2]->(b)`: a named
                                   * (non-shortest) path on the FIRST
                                   * chain; only `length(p)` projects. */
                                 named: Option[String] = None)
  private case class RetItem(expr: Expr, alias: Option[String], text: String) {
    /** The output column name: the alias, else the item's token text. */
    def name: String = alias.getOrElse(text)
  }
  /** ORDER BY key: `ref` is the key's token text, which names an output
    * item by its text or alias; `expr` is the key as an expression. */
  private case class OrderKey(expr: Expr, ref: String, asc: Boolean)
  /** One projection body, the part RETURN and WITH share:
    * `[DISTINCT] items|* [ORDER BY keys] [SKIP n] [LIMIT n]`.
    *
    * Sub-clauses run in openCypher order: items (implicit grouping by
    * every non-aggregate item when any item aggregates, then DISTINCT),
    * ORDER BY, SKIP, LIMIT; a WITH's WHERE filters the paged frame. WITH
    * carries a bare variable through with all its columns; RETURN
    * projects its value.
    *
    * The one ORDER BY rule: a key that names an output item, or reads
    * only the stage's outputs (its aliases and carried variables),
    * sorts the projected frame. Any other key reads a variable the
    * stage drops, and sorts the frame before the projection on its
    * pre-projection expression (an alias inside it stands for its
    * item); that is allowed only when the stage neither aggregates nor
    * is DISTINCT, which drop the rows it would read. The rule is the
    * same for RETURN, WITH, a correlated CALL body and the UNION tail
    * (a DISTINCT-like stage over the output names). SKIP/LIMIT page
    * the whole frame, or, inside a correlated CALL, each import
    * binding. */
  private case class Projection(distinct: Boolean, items: Seq[RetItem],
                                orderBy: Seq[OrderKey], skip: Option[Long],
                                limit: Option[Long], star: Boolean = false)
  /** Reading clauses compose as a PIPELINE of stages (openCypher's
    * "query is a sequence of clauses, each feeding the next"): any
    * interleaving of MATCH groups, WITH projections, and UNWINDs,
    * terminated by one RETURN. */
  private sealed trait Stage
  private case class SMatch(cl: MatchClause) extends Stage
  /** `WITH projection [WHERE pred]`: the WHERE filters the projected,
    * paged frame (SQL HAVING after an aggregation); later MATCH clauses
    * join on the carried variables. */
  private case class SWith(p: Projection, where: Option[Pred]) extends Stage
  private case class SUnwind(e: Expr, alias: String) extends Stage
  /** `CALL { <subquery> }` subquery stage. `imports` empty = the
    * UNCORRELATED form: compiled in its own scope; at the pipeline
    * head it seeds the frame, mid-pipeline its rows cross-multiply
    * the incoming ones (Neo4j's per-row execution of an import-free
    * block). `imports` non-empty = the CORRELATED form
    * `CALL { WITH a, b ... }` (openCypher's importing WITH — bare
    * variable references only): the inner plan runs once over the
    * DISTINCT import bindings and joins back on the correlation key,
    * with per-binding aggregate grouping and per-binding
    * ORDER BY + SKIP/LIMIT via a row_number window — the distributed
    * form of per-row subquery execution (the Graph-RAG per-item
    * top-k retrieval idiom). */
  private case class SCall(inner: Query, imports: Seq[String] = Nil) extends Stage
  /** The reading stages, then the final RETURN. */
  private case class Query(stages: Seq[Stage], ret: Projection)

  // ---------------------------------------------------------- tree walk

  /** `t` with `f` applied to each of its direct children — the one place
    * the shape of [[Expr]] and [[Pred]] is spelled out. `f` must map an
    * expression to an expression and a predicate to a predicate.
    * Subquery terms ([[PExistsChain]], [[ECountChain]], [[ECollect]])
    * are leaves: their chains and inner
    * WHERE / RETURN compile in their own frame (`chainFrame`), not in the
    * enclosing scope. */
  private def mapChildren(t: Term)(f: Term => Term): Term = {
    def e(x: Expr): Expr = f(x).asInstanceOf[Expr]
    def p(x: Pred): Pred = f(x).asInstanceOf[Pred]
    t match {
      case EAgg(fn, a, d) => EAgg(fn, a.map(e), d)
      case EList(xs) => EList(xs.map(e))
      case ECase(op, ws, els) =>
        ECase(op.map(e), ws.map { case (c, v) =>
          (c.fold(x => Left(p(x)), x => Right(e(x))), e(v)) }, els.map(e))
      case EArith(op, l, r) => EArith(op, e(l), e(r))
      case EFn(fn, as) => EFn(fn, as.map(e))
      case EIndex(b, ix) => EIndex(e(b), e(ix))
      case ESlice(b, lo, hi) => ESlice(e(b), lo.map(e), hi.map(e))
      case EMapLit(es) => EMapLit(es.map { case (k, v) => (k, e(v)) })
      case EComp(v, l, w, m) => EComp(v, e(l), w.map(p), m.map(e))
      case EReduce(acc, init, v, l, body) => EReduce(acc, e(init), v, e(l), e(body))
      case EPredVal(x) => EPredVal(p(x))
      case PCmp(op, l, r) => PCmp(op, e(l), e(r))
      case PStr(op, l, r) => PStr(op, e(l), e(r))
      case PIn(l, r) => PIn(e(l), e(r))
      case PAnd(l, r) => PAnd(p(l), p(r))
      case POr(l, r) => POr(p(l), p(r))
      case PXor(l, r) => PXor(p(l), p(r))
      case PNot(x) => PNot(p(x))
      case PIsNull(x, neg) => PIsNull(e(x), neg)
      case PBoolE(x) => PBoolE(e(x))
      case PQuant(q, v, l, w) => PQuant(q, v, e(l), p(w))
      case _: EVar | _: EProp | _: ELit | _: EParam | _: ELabels0 | _: EType |
           _: EMapProj | _: ECountChain | _: ECollect | _: PHasLabel |
           _: PExistsChain => t
    }
  }

  /** The direct children of `t`, in source order (read off
    * [[mapChildren]], so the two cannot disagree). */
  private def children(t: Term): Seq[Term] = {
    val out = Seq.newBuilder[Term]
    mapChildren(t) { c => out += c; c }
    out.result()
  }

  /** `t` and every term under it, pre-order. */
  private def subterms(t: Term): Seq[Term] = t +: children(t).flatMap(subterms)

  /** `e` with every outermost expression that `pf` matches replaced. */
  private def rewrite(e: Expr)(pf: PartialFunction[Expr, Expr]): Expr = {
    def go(t: Term): Term = t match {
      case x: Expr if pf.isDefinedAt(x) => pf(x)
      case _ => mapChildren(t)(go)
    }
    go(e).asInstanceOf[Expr]
  }

  /** The variables a subquery term binds; None for every other term. */
  private def subqueryVars(t: Term): Option[Set[String]] = {
    def chainVars(cs: Seq[Chain]): Set[String] =
      cs.flatMap(c => c.head.v.toSeq ++
        c.hops.flatMap { case (r, n) => r.v.toSeq ++ n.v.toSeq }).toSet
    t match {
      case PExistsChain(cs, _) => Some(chainVars(cs))
      case ECountChain(cs, _) => Some(chainVars(cs))
      case ec: ECollect => Some(chainVars(ec.chains))
      case _ => None
    }
  }

  /** The terms a subquery term compiles over its own matched frame: its
    * inner WHERE, and COLLECT's RETURN and ORDER BY keys. */
  private def subqueryReads(t: Term): Seq[Term] = t match {
    case PExistsChain(_, w) => w.toSeq
    case ECountChain(_, w) => w.toSeq
    case ec: ECollect => ec.where.toSeq ++ (ec.ret +: ec.orderBy.map(_.expr))
    case _ => Nil
  }

  /** The subquery terms in a quantifier's body that bind its OWN lambda
    * variable — the parts the higher-order `filter` cannot evaluate (a
    * join per element), compiled by the explode route instead. */
  private def lambdaBound(q: PQuant): Seq[Term] =
    subterms(q.where).filter(t => subqueryVars(t).exists(_(q.v)))

  /** The terms under `t` that pre-join as columns of the frame, in walk
    * order: every subquery term, and every quantifier with a
    * [[lambdaBound]] body (the explode route). The one filter: a term
    * that reads an enclosing lambda variable (a quantifier's, a list
    * comprehension's, or reduce()'s accumulator or element) is not the
    * frame's — it belongs to that quantifier, or is refused where it is
    * compiled. */
  private def probeTerms(t: Term, lambdas: Set[String] = Set.empty): Seq[Term] = t match {
    case q: PQuant =>
      children(q).flatMap(probeTerms(_, lambdas + q.v)) ++
        (if ((refs(q) & lambdas).isEmpty && lambdaBound(q).nonEmpty) Seq(q) else Nil)
    case c: EComp =>
      probeTerms(c.list, lambdas) ++
        (c.where.toSeq ++ c.map).flatMap(probeTerms(_, lambdas + c.v))
    case r: EReduce =>
      Seq(r.init, r.list).flatMap(probeTerms(_, lambdas)) ++
        probeTerms(r.body, lambdas + r.acc + r.v)
    case _ => subqueryVars(t) match {
      case Some(vs) => if ((vs & lambdas).isEmpty) Seq(t) else Nil
      case None => children(t).flatMap(probeTerms(_, lambdas))
    }
  }

  /** The variable names `t` reads, subquery variables included. */
  private def refs(t: Term): Set[String] = subterms(t).flatMap {
    case EVar(v) => Seq(v)
    case EProp(v, _) => Seq(v)
    case ELabels0(v) => Seq(v)
    case EType(v) => Seq(v)
    case EMapProj(v, _) => Seq(v)
    case PHasLabel(v, _) => Seq(v)
    case x => subqueryVars(x).toSeq.flatten
  }.toSet

  // ---------------------------------------------------------- tokenizer

  private[graph] sealed trait Tok { def text: String }
  private[graph] case class TId(text: String) extends Tok // identifier (incl. backticked)
  private[graph] case class TKw(text: String) extends Tok // uppercased keyword form
  private[graph] case class TStr(text: String) extends Tok
  private[graph] case class TNum(text: String) extends Tok
  private[graph] case class TSym(text: String) extends Tok

  private val keywords = Set("MATCH", "WHERE", "RETURN", "ORDER", "BY", "ASC",
    "DESC", "LIMIT", "SKIP", "AND", "OR", "NOT", "XOR", "DISTINCT", "AS",
    "CONTAINS", "STARTS", "ENDS", "WITH", "IS", "NULL", "TRUE", "FALSE",
    "IN", "MERGE", "SET", "DELETE", "DETACH", "CREATE", "REMOVE", "EXISTS",
    "OPTIONAL", "ON", "CASE", "WHEN", "THEN", "ELSE", "END", "UNWIND",
    "UNION", "ALL")

  /** Whitelisted Cypher scalar functions (Neo4j's everyday battery),
    * each compiling to one codegen'd Catalyst function. Divergences,
    * documented: `id(n)` returns the engine's string uid (Neo4j's
    * numeric ids are storage-internal); `size` is list-size for list
    * literals and string-length otherwise. */
  private val scalarFns = Set("coalesce", "tolower", "toupper", "tostring",
    "tointeger", "tofloat", "toboolean", "substring", "replace", "split",
    "trim", "ltrim", "rtrim", "left", "right", "abs", "round", "floor",
    "ceil", "size", "id", "length", "range", "properties", "keys", "head",
    "last", "exists", "nodes", "relationships", "reverse", "labels",
    "startnode", "endnode")

  private[graph] def tokenize(src: String): Vector[Tok] = {
    val out = Vector.newBuilder[Tok]
    var i = 0
    val n = src.length
    while (i < n) {
      val c = src(i)
      if (c.isWhitespace) i += 1
      else if (c == '/' && i + 1 < n && src(i + 1) == '/') {
        while (i < n && src(i) != '\n') i += 1
      } else if (c == '`') {
        val j = src.indexOf('`', i + 1)
        require(j > 0, s"unterminated backtick identifier at $i")
        out += TId(src.substring(i + 1, j)); i = j + 1
      } else if (c == '\'' || c == '"') {
        val sb = new StringBuilder; i += 1
        while (i < n && src(i) != c) {
          if (src(i) == '\\' && i + 1 < n) { sb.append(src(i + 1)); i += 2 }
          else { sb.append(src(i)); i += 1 }
        }
        require(i < n, "unterminated string literal")
        out += TStr(sb.toString); i += 1
      } else if (c.isDigit) {
        val j0 = i
        while (i < n && (src(i).isDigit || src(i) == '.')) i += 1
        out += TNum(src.substring(j0, i))
      } else if (c.isLetter || c == '_') {
        val j0 = i
        while (i < n && (src(i).isLetterOrDigit || src(i) == '_')) i += 1
        val w = src.substring(j0, i)
        if (keywords(w.toUpperCase)) out += TKw(w.toUpperCase) else out += TId(w)
      } else {
        val two = if (i + 1 < n) src.substring(i, i + 2) else ""
        if (Set("<>", "<=", ">=", "->", "<-", "=~").contains(two)) { out += TSym(two); i += 2 }
        else { out += TSym(c.toString); i += 1 }
      }
    }
    out.result()
  }

  // ------------------------------------------------------------- parser

  private final class Parser(toks: Vector[Tok]) {
    private var pos = 0
    private def peek: Option[Tok] = toks.lift(pos)
    private def next(): Tok = { val t = toks(pos); pos += 1; t }
    private def atKw(kw: String): Boolean = peek.exists { case TKw(k) => k == kw; case _ => false }
    private def atSym(s: String): Boolean = peek.exists { case TSym(x) => x == s; case _ => false }
    private def eatKw(kw: String): Unit =
      require(atKw(kw) && { pos += 1; true }, s"expected $kw at token $pos (${peek.map(_.text)})")
    private def eatSym(s: String): Unit =
      require(atSym(s) && { pos += 1; true }, s"expected '$s' at token $pos (${peek.map(_.text)})")
    private def ident(): String = next() match {
      case TId(t) => t
      case t => sys.error(s"expected identifier, got '${t.text}'")
    }

    def query(allowEmptyStages: Boolean = false): Query = {
      for (w <- Seq("MERGE", "SET", "DELETE", "DETACH", "CREATE", "REMOVE"))
        require(!toks.exists { case TKw(k) => k == w; case _ => false },
          s"$w is a write clause: run it through graft.graph.GraphDb.query, " +
            "which compiles MERGE, CREATE, SET, REMOVE and DELETE with " +
            "graft.graph.CypherWrite.apply")
      def matchClause(optional: Boolean): MatchClause = {
        eatKw("MATCH")
        // `p = shortestPath((a)-[:T*lo..hi]->(b))` — one var-length hop
        if (peek.exists(_.isInstanceOf[TId]) &&
            toks.lift(pos + 1).exists(_.text == "=") &&
            toks.lift(pos + 2).exists(t => t.isInstanceOf[TId] &&
              (t.text.equalsIgnoreCase("shortestPath") ||
                t.text.equalsIgnoreCase("allShortestPaths")))) {
          val pv = ident(); eatSym("=")
          val all = ident().equalsIgnoreCase("allShortestPaths")
          eatSym("(")
          val ch = chain()
          eatSym(")")
          require(ch.hops.size == 1 && ch.hops.head._1.varLen.isDefined,
            "shortestPath needs exactly one var-length relationship, " +
              "e.g. shortestPath((a)-[:T*..4]->(b))")
          val (lo, hi) = ch.hops.head._1.varLen.get
          if (all) require(hi != Unbounded, "allShortestPaths needs a bounded hop " +
            "range (tied-path multiplicity rides the unrolled walks); use *..k")
          // Neo4j too refuses a shortestPath minimal length other than 0 or 1
          else require(lo <= 1, "shortestPath needs lo <= 1 " +
            "(min-depth pairs cannot skip shorter walks); use *..k or *")
          // OPTIONAL shortestPath: the compiled (pairs, min-depth)
          // frame left-joins the pipeline like any optional clause —
          // unreachable endpoints null-pad r and length(p)
          val w = if (atKw("WHERE")) { eatKw("WHERE"); Some(pred()) } else None
          return MatchClause(Seq(ch), optional, w, shortest = Some(pv),
            shortestAll = all)
        }
        // `p = (a)-[:T*1..2]->(b)` — a named path; length(p) projects
        // the hop count (fixed hops count 1 each, a bounded var-length
        // hop contributes its unrolled depth)
        val named =
          if (peek.exists(_.isInstanceOf[TId]) &&
              toks.lift(pos + 1).exists(_.text == "=") &&
              toks.lift(pos + 2).exists(_.text == "(")) {
            val pv = ident(); eatSym("="); Some(pv)
          } else None
        val cs = Seq.newBuilder[Chain]
        cs += chain()
        while (atSym(",")) { eatSym(","); cs += chain() }
        val w = if (atKw("WHERE")) { eatKw("WHERE"); Some(pred()) } else None
        MatchClause(cs.result(), optional, w, named = named)
      }
      // the reading pipeline: MATCH / OPTIONAL MATCH / WITH / UNWIND
      // stages in any order (each feeds the next), one RETURN at the end
      val stages = Seq.newBuilder[Stage]
      var go = true
      while (go) {
        if (atKw("MATCH") || atKw("OPTIONAL")) {
          val opt = atKw("OPTIONAL")
          if (opt) eatKw("OPTIONAL")
          stages += SMatch(matchClause(opt))
        } else if (atKw("WITH")) {
          eatKw("WITH")
          val p = projection()
          val w = if (atKw("WHERE")) { eatKw("WHERE"); Some(pred()) } else None
          stages += SWith(p, w)
        } else if (atKw("UNWIND")) {
          eatKw("UNWIND")
          val e = expr()
          eatKw("AS")
          stages += SUnwind(e, ident())
        } else if (peek.exists(t => t.text.equalsIgnoreCase("CALL")) &&
            toks.lift(pos + 1).exists(_.text == "{")) {
          pos += 1; eatSym("{")
          // openCypher importing WITH: bare variable references only,
          // no aliases/expressions/WHERE — anything else is a parse
          // error here, not a silent reinterpretation
          val imports =
            if (atKw("WITH")) {
              eatKw("WITH")
              val vs = Seq.newBuilder[String]
              vs += ident()
              while (atSym(",")) { eatSym(","); vs += ident() }
              require(atKw("MATCH") || atKw("OPTIONAL") || atKw("UNWIND") ||
                  atKw("WITH") || atKw("RETURN") ||
                  peek.exists(t => t.text.equalsIgnoreCase("CALL")),
                "CALL { WITH ... } imports are bare variables only " +
                  "(no AS / expressions / WHERE), followed by a clause")
              vs.result()
            } else Nil
          val inner = query(allowEmptyStages = imports.nonEmpty)
          eatSym("}")
          stages += SCall(inner, imports)
        } else go = false
      }
      eatKw("RETURN")
      val ret = projection()
      // "}" ends a nested CALL { } subquery's frame
      require(pos == toks.length || atKw("UNION") || atSym("}"),
        s"trailing tokens from '${peek.map(_.text).getOrElse("")}'")
      val st = stages.result()
      // a correlated CALL body may be RETURN-only (the imports seed it)
      require(st.nonEmpty || allowEmptyStages,
        "query needs at least one reading clause before RETURN")
      Query(st, ret)
    }

    /** `query [UNION [ALL] query]*` — Cypher's top level. Mixing UNION
      * and UNION ALL in one statement is rejected (Neo4j's rule). */
    def unionQuery(): (Seq[Query], Boolean) = {
      val parts = Seq.newBuilder[Query]
      parts += query()
      var all: Option[Boolean] = None
      while (atKw("UNION")) {
        eatKw("UNION")
        val thisAll = atKw("ALL")
        if (thisAll) eatKw("ALL")
        require(all.forall(_ == thisAll),
          "cannot mix UNION and UNION ALL in one statement")
        all = Some(thisAll)
        parts += query()
      }
      require(pos == toks.length,
        s"trailing tokens from '${peek.map(_.text).getOrElse("")}'")
      (parts.result(), all.getOrElse(false))
    }

    private def num(): Long = next() match {
      case TNum(t) => t.toLong
      case t => sys.error(s"expected number, got '${t.text}'")
    }

    private def chain(): Chain = {
      val head = nodePat()
      val hops = Seq.newBuilder[(RelPat, NodePat)]
      while (atSym("-") || atSym("<-")) hops += hopPat()
      Chain(head, hops.result())
    }

    private def nodePat(): NodePat = {
      eatSym("(")
      val v = peek match { case Some(TId(_)) => Some(ident()); case _ => None }
      val label = if (atSym(":")) { eatSym(":"); Some(ident()) } else None
      val props =
        if (atSym("{")) {
          eatSym("{")
          val m = Map.newBuilder[String, Expr]
          while (!atSym("}")) {
            val k = ident(); eatSym(":"); m += (k -> atom())
            if (atSym(",")) eatSym(",")
          }
          eatSym("}")
          m.result()
        } else Map.empty[String, Expr]
      eatSym(")")
      NodePat(v, label, props)
    }

    /** -[r:T1|T2]->(m), <-[:T]-(m), -[r]->(m), -[:T*1..3]->(m);
      * `-[:T]-` (undirected) matches both orientations over the
      * symmetric edge closure. Var-length bounds: `*n` (exact),
      * `*lo..hi`, `*..hi` (lo=1), `*lo..` and bare `*` (unbounded —
      * the reachability fixpoint). */
    private def hopPat(): (RelPat, NodePat) = {
      val back0 = atSym("<-")
      if (back0) eatSym("<-") else eatSym("-")
      var v: Option[String] = None
      var types: Seq[String] = Nil
      var varLen: Option[(Int, Int)] = None
      var props: Map[String, Expr] = Map.empty
      if (atSym("[")) {
        eatSym("[")
        peek match { case Some(TId(_)) => v = Some(ident()); case _ => }
        if (atSym(":")) {
          eatSym(":")
          val ts = Seq.newBuilder[String]
          ts += ident()
          while (atSym("|")) { eatSym("|"); if (atSym(":")) eatSym(":"); ts += ident() }
          types = ts.result()
        }
        if (atSym("*")) {
          eatSym("*")
          varLen = peek match {
            case Some(TNum(t)) if t.contains("..") => // "1..3" lexes as one number token
              pos += 1
              val parts = t.split("\\.\\.", -1)
              require(parts.length == 2 && parts(0).nonEmpty, s"bad hop range *$t")
              if (parts(1).isEmpty) // "*lo.." open upper bound: lo>1
                // compiles as an exact (lo-1)-hop prefix into the
                // reachability closure (∃ walk of length ≥ lo)
                Some((parts(0).toInt, Unbounded))
              else Some((parts(0).toInt, parts(1).toInt))
            case Some(TNum(t)) => pos += 1; Some((t.toInt, t.toInt))
            case Some(TSym(".")) => // *..hi
              eatSym("."); eatSym(".")
              Some((1, num().toInt))
            case _ => Some((1, Unbounded)) // bare `*`: 1..∞ reachability
          }
          val (lo, hi) = varLen.get
          require(lo >= 1 && hi >= lo, s"bad hop range *$lo..$hi")
          require(hi <= 10 || hi == Unbounded,
            s"*..$hi unrolls $hi chained joins; depth > 10 belongs to the unbounded '*'")
        }
        if (atSym("{")) { // relationship property map
          eatSym("{")
          val m = Map.newBuilder[String, Expr]
          while (!atSym("}")) {
            val k = ident(); eatSym(":"); m += (k -> atom())
            if (atSym(",")) eatSym(",")
          }
          eatSym("}")
          props = m.result()
          // on a var-length hop the map filters EVERY hop's edge
          // (Neo4j's contract) — compiled as one edge-set filter
          // below the k-fold joins, see propsFilter
        }
        eatSym("]")
      }
      val fwd = atSym("->")
      if (fwd) eatSym("->") else eatSym("-")
      require(!(fwd && back0), "a relationship cannot point both ways")
      // `-[:T]-`: both-ways match over the symmetric edge closure
      val undirected = !fwd && !back0
      // a bounded var-length binding projects its hop count via
      // size(r); the unbounded reachability closure carries no
      // per-walk hop list, so binding it stays rejected
      require(varLen.isEmpty || v.isEmpty || varLen.get._2 != Unbounded,
        "binding a variable to an unbounded '*' relationship is not " +
          "supported (reachability pairs carry no per-walk list); " +
          "bound the range (*lo..hi) and project size(r)")
      (RelPat(v, types, forward = fwd || undirected, varLen,
        undirected = undirected, props = props), nodePat())
    }

    /** The projection body after RETURN or WITH (see [[Projection]]). */
    private def projection(): Projection = {
      val distinct = if (atKw("DISTINCT")) { eatKw("DISTINCT"); true } else false
      val star = atSym("*")
      val items = Seq.newBuilder[RetItem]
      if (star) eatSym("*") else items += retItem()
      while (atSym(",")) { eatSym(","); items += retItem() }
      val order = orderBy()
      val skip = if (atKw("SKIP")) { eatKw("SKIP"); Some(num()) } else None
      val limit = if (atKw("LIMIT")) { eatKw("LIMIT"); Some(num()) } else None
      Projection(distinct, items.result(), order, skip, limit, star)
    }

    /** `[ORDER BY key [ASC|DESC], ...]`. */
    private def orderBy(): Seq[OrderKey] =
      if (!atKw("ORDER")) Nil
      else {
        eatKw("ORDER"); eatKw("BY")
        val keys = Seq.newBuilder[OrderKey]
        keys += orderKey()
        while (atSym(",")) { eatSym(","); keys += orderKey() }
        keys.result()
      }

    private def retItem(): RetItem = {
      val p0 = pos
      val e = expr()
      val text = toks.slice(p0, pos).map(_.text).mkString
      val alias = if (atKw("AS")) { eatKw("AS"); Some(ident()) } else None
      RetItem(e, alias, text)
    }

    private def orderKey(): OrderKey = {
      val p0 = pos
      val e = expr()
      val text = toks.slice(p0, pos).map(_.text).mkString
      val asc =
        if (atKw("DESC")) { eatKw("DESC"); false }
        else { if (atKw("ASC")) eatKw("ASC"); true }
      OrderKey(e, text, asc)
    }

    // expression grammar with arithmetic precedence (+,- over *,/,%):
    // expr := term (('+'|'-') term)* ; term := factor (('*'|'/'|'%') factor)*
    // factor := fn(...) | CASE ... END | labels(v)[0] | type(v) | atom
    private def expr(): Expr = {
      var l = term()
      while (atSym("+") || atSym("-")) {
        val op = next().text
        l = EArith(op, l, term())
      }
      l
    }

    private def term(): Expr = {
      var l = power()
      while (atSym("*") || atSym("/") || atSym("%")) {
        val op = next().text
        l = EArith(op, l, power())
      }
      l
    }

    /** `^` exponentiation — binds tighter than * / %, right-associative
      * (Cypher: 2^3^2 = 2^(3^2)). */
    private def power(): Expr = {
      val b = factor()
      if (atSym("^")) { eatSym("^"); EArith("^", b, power()) } else b
    }

    /** factorBase plus any postfix `[index]` chain (Cypher 0-based
      * list indexing on any expression: `split(s,' ')[1]`,
      * `collect(x)[0]`). `labels(v)[0]` keeps its dedicated form. */
    private def factor(): Expr = {
      // the lexer folds digit ranges into ONE number token ("0..2",
      // "1.."), same as the var-length hop parse — peel those apart
      def numRange(t: String, negLo: Boolean): (Expr, Option[Expr]) = {
        val parts = t.split("\\.\\.", -1)
        require(parts.length == 2 && parts(0).nonEmpty, s"bad slice range $t")
        val lo = ELit(if (negLo) -parts(0).toLong else parts(0).toLong)
        val hi =
          if (parts(1).nonEmpty) Some(ELit(parts(1).toLong))
          else if (atSym("]")) None
          else Some(expr()) // "1..n": the number token ends at the ident
        (lo, hi)
      }
      var b = factorBase()
      while (atSym("[")) {
        eatSym("[")
        if (atSym(".")) { // l[..hi] — ".." lexes as two dot symbols
          eatSym("."); eatSym(".")
          val hi = if (atSym("]")) None else Some(expr())
          eatSym("]")
          b = ESlice(b, None, hi)
        } else {
          val negRange = atSym("-") && toks.lift(pos + 1).exists {
            case TNum(t) => t.contains(".."); case _ => false
          }
          peek match {
            case _ if negRange => // l[-2..] / l[-3..-1]
              pos += 1
              val t = toks(pos) match {
                case TNum(x) => pos += 1; x
                case other => sys.error(s"number expected, got $other")
              }
              val (lo, hi) = numRange(t, negLo = true)
              eatSym("]")
              b = ESlice(b, Some(lo), hi)
            case Some(TNum(t)) if t.contains("..") => // l[0..2] / l[1..]
              pos += 1
              val (lo, hi) = numRange(t, negLo = false)
              eatSym("]")
              b = ESlice(b, Some(lo), hi)
            case _ =>
              val first = expr()
              if (atSym(".")) { // l[x..y] with expression bounds
                eatSym("."); eatSym(".")
                val hi = if (atSym("]")) None else Some(expr())
                eatSym("]")
                b = ESlice(b, Some(first), hi)
              } else { eatSym("]"); b = EIndex(b, first) }
          }
        }
      }
      b
    }

    private def factorBase(): Expr = peek match {
      case Some(TKw("CASE")) =>
        eatKw("CASE")
        val operand = if (atKw("WHEN")) None else Some(expr())
        val whens = Seq.newBuilder[(Either[Pred, Expr], Expr)]
        while (atKw("WHEN")) {
          eatKw("WHEN")
          val cond: Either[Pred, Expr] =
            if (operand.isDefined) Right(expr()) else Left(pred())
          eatKw("THEN")
          whens += (cond -> expr())
        }
        val els = if (atKw("ELSE")) { eatKw("ELSE"); Some(expr()) } else None
        eatKw("END")
        val ws = whens.result()
        require(ws.nonEmpty, "CASE needs at least one WHEN branch")
        ECase(operand, ws, els)
      case Some(TSym("(")) => // grouping (patterns never reach expr())
        eatSym("("); val e = expr(); eatSym(")"); e
      case Some(TId("labels")) if toks.lift(pos + 1).exists(_.text == "(") =>
        pos += 1; eatSym("("); val v = ident(); eatSym(")")
        if (atSym("[")) { // labels(n)[0] fast form — the scalar label
          eatSym("["); require(num() == 0L, "labels(n)[i]: only index 0 exists (single-label engine)"); eatSym("]")
          ELabels0(v)
        } else EFn("labels", Seq(EVar(v))) // full list: [label]
      case Some(TId("type")) if toks.lift(pos + 1).exists(_.text == "(") =>
        pos += 1; eatSym("("); val v = ident(); eatSym(")"); EType(v)
      case Some(TKw("EXISTS")) if toks.lift(pos + 1).exists(_.text == "{") =>
        // value-position EXISTS { } — identical parse to the predicate
        // form (basePred owns the brace grammar), wrapped as a boolean
        // VALUE that rides a pre-joined flag column
        EPredVal(basePred())
      case Some(t) if (t == TKw("ALL") || (t match {
            case TId(q) => Set("any", "none", "single")(q.toLowerCase)
            case _ => false
          })) &&
          toks.lift(pos + 1).exists(_.text == "(") &&
          toks.lift(pos + 3).exists(_.text.equalsIgnoreCase("IN")) =>
        // value-position quantifier — `RETURN any(x IN l WHERE p) AS b`
        // — same grammar as the predicate form, wrapped as a boolean
        // VALUE (plain bodies compile to the codegen'd HOF,
        // lambda-bound patterns to the explode route's flag column)
        val qn = t match { case TId(q) => q.toLowerCase; case _ => "all" }
        pos += 1; eatSym("(")
        val v = ident(); eatKw("IN"); val lst = expr()
        eatKw("WHERE"); val w = pred(); eatSym(")")
        EPredVal(PQuant(qn, v, lst, w))
      case Some(TKw("EXISTS")) if toks.lift(pos + 1).exists(_.text == "(") =>
        // EXISTS lexes as a keyword, so the generic scalar-function
        // branch can't reach it. Two meanings share this shape:
        // exists((a)-[:R]->(b)) — the 3.x pattern-existence value —
        // parses the pattern first (flag column); exists(n.prop) falls
        // back to the legacy property-existence function.
        pos += 1; eatSym("(")
        val save = pos
        patternOpt().filter(_ => atSym(")")) match {
          case Some(ch) => eatSym(")"); EPredVal(PExistsChain(Seq(ch), None))
          case None =>
            pos = save
            val a = expr(); eatSym(")")
            EFn("exists", Seq(a))
        }
      case Some(TId(fn)) if fn.equalsIgnoreCase("reduce")
          && toks.lift(pos + 1).exists(_.text == "(") =>
        pos += 1; eatSym("(")
        val accName = ident(); eatSym("="); val init = expr(); eatSym(",")
        val v = ident(); eatKw("IN"); val lst = expr()
        eatSym("|"); val body = expr()
        eatSym(")")
        EReduce(accName, init, v, lst, body)
      case Some(TId(fn)) if fn.equalsIgnoreCase("count")
          && toks.lift(pos + 1).exists(_.text == "{") =>
        // COUNT { ... } subquery expression — EXISTS's counting
        // sibling, the same braced pattern body
        pos += 1
        val (cs, w) = subqueryBody()
        eatSym("}")
        ECountChain(cs, w)
      case Some(TId(fn)) if fn.equalsIgnoreCase("collect")
          && toks.lift(pos + 1).exists(_.text == "{") =>
        // COLLECT { ... RETURN expr } subquery expression — the
        // list-building sibling of COUNT {}
        pos += 1
        val (cs, w) = subqueryBody()
        eatKw("RETURN")
        val ret = expr()
        val ob = orderBy()
        val lim = if (atKw("LIMIT")) { eatKw("LIMIT"); Some(num()) } else None
        eatSym("}")
        ECollect(cs, w, ret, ob, lim)
      case Some(TId(fn)) if Set("count", "sum", "min", "max", "avg", "collect",
          "stdev", "stdevp")(fn.toLowerCase)
          && toks.lift(pos + 1).exists(_.text == "(") =>
        pos += 1; eatSym("(")
        val distinct = if (atKw("DISTINCT")) { eatKw("DISTINCT"); true } else false
        val arg = if (atSym("*")) { eatSym("*"); None } else Some(expr())
        eatSym(")")
        EAgg(fn.toLowerCase, arg, distinct)
      case Some(TId(fn)) if Set("percentilecont", "percentiledisc")(fn.toLowerCase)
          && toks.lift(pos + 1).exists(_.text == "(") =>
        // percentileCont(x, p) / percentileDisc(x, p): the literal
        // fraction rides INSIDE the fn name (`percentilecont:0.5`) so
        // the tree walk sees one argument — fn is opaque to it
        pos += 1; eatSym("(")
        val arg = expr()
        eatSym(",")
        // a `$param` fraction rides as `$name` in the tag, resolved
        // (and range-checked) at compile time from the params map
        val p: String = atom() match {
          case ELit(d: Double) =>
            require(d >= 0.0 && d <= 1.0, s"percentile fraction out of [0,1]: $d")
            d.toString
          case ELit(n: Long) =>
            require(n >= 0L && n <= 1L, s"percentile fraction out of [0,1]: $n")
            n.toDouble.toString
          case EParam(name) => "$" + name
          case other =>
            sys.error(s"percentile fraction must be a literal or $$param, got $other")
        }
        eatSym(")")
        EAgg(fn.toLowerCase + ":" + p, Some(arg), distinct = false)
      case Some(TId(fn)) if scalarFns(fn.toLowerCase)
          && toks.lift(pos + 1).exists(_.text == "(") =>
        pos += 1; eatSym("(")
        val args = Seq.newBuilder[Expr]
        if (!atSym(")")) {
          args += expr()
          while (atSym(",")) { eatSym(","); args += expr() }
        }
        eatSym(")")
        EFn(fn.toLowerCase, args.result())
      case _ => atom()
    }

    private def atom(): Expr = next() match {
      case TSym("$") => EParam(ident())
      case TSym("{") =>
        // map literal {k: expr, ...} — expression position only (a
        // pattern's property map is parsed by the pattern grammar)
        val entries = Seq.newBuilder[(String, Expr)]
        if (!atSym("}")) {
          def entry(): Unit = {
            val k = ident(); eatSym(":"); entries += k -> expr()
          }
          entry()
          while (atSym(",")) { eatSym(","); entry() }
        }
        eatSym("}")
        EMapLit(entries.result())
      case TSym("[") =>
        // `[x IN list ...]` is a comprehension, not a list literal —
        // a literal can't have `IN` after its first element
        def listLiteral(): Expr = {
          val items = Seq.newBuilder[Expr]
          while (!atSym("]")) {
            items += expr()
            if (atSym(",")) eatSym(",")
          }
          eatSym("]")
          EList(items.result())
        }
        if (peek.exists(_.isInstanceOf[TId]) &&
            toks.lift(pos + 1).exists { case TKw("IN") => true; case _ => false }) {
          val v = ident(); eatKw("IN")
          val lst = expr()
          val wh = if (atKw("WHERE")) { eatKw("WHERE"); Some(pred()) } else None
          val mp = if (atSym("|")) { eatSym("|"); Some(expr()) } else None
          eatSym("]")
          require(wh.isDefined || mp.isDefined,
            "comprehension needs a WHERE filter or a | projection")
          EComp(v, lst, wh, mp)
        } else if (peek.exists(_.text == "(")) {
          // pattern comprehension `[(a)-[:R]->(b) WHERE p | e]` —
          // sugar for COLLECT { MATCH ... RETURN e }, parsed into the
          // same ECollect node (one ordered window collect + left
          // join with empty-list refill at the use site). A
          // parenthesized first element (`[(1+2), 3]`) fails the
          // pattern parse and backtracks to the list literal.
          val save = pos
          scala.util.Try {
            val ch = chain()
            val w = if (atKw("WHERE")) { eatKw("WHERE"); Some(pred()) } else None
            eatSym("|")
            val ret = expr()
            eatSym("]")
            ECollect(Seq(ch), w, ret, Nil, None)
          }.getOrElse { pos = save; listLiteral() }
        } else listLiteral()
      case TSym("-") => atom() match { // negative literal (write `< -1` spaced)
        case ELit(v: Long) => ELit(-v)
        case ELit(v: Double) => ELit(-v)
        case other => sys.error(s"'-' before non-numeric $other")
      }
      case TStr(sv) => ELit(sv)
      case TNum(t) => if (t.contains('.')) ELit(t.toDouble) else ELit(t.toLong)
      case TKw("TRUE") => ELit(true)
      case TKw("FALSE") => ELit(false)
      case TKw("NULL") => ELit(null)
      case TId(v) =>
        if (atSym(".")) { eatSym("."); EProp(v, ident()) }
        else if (atSym("{") && toks.lift(pos + 1).exists(_.text == ".")) {
          // map projection `v {.k1, .k2}` (the leading '.' separates it
          // from every other brace form)
          eatSym("{")
          val keys = Seq.newBuilder[String]
          eatSym("."); keys += ident()
          while (atSym(",")) { eatSym(","); eatSym("."); keys += ident() }
          eatSym("}")
          EMapProj(v, keys.result())
        } else EVar(v)
      case t => sys.error(s"unexpected token '${t.text}' in expression")
    }

    // predicate grammar with Cypher precedence: OR < XOR < AND < NOT < cmp
    private def pred(): Pred = {
      var l = xorPred()
      while (atKw("OR")) { eatKw("OR"); l = POr(l, xorPred()) }
      l
    }
    private def xorPred(): Pred = {
      var l = andPred()
      while (atKw("XOR")) { eatKw("XOR"); l = PXor(l, andPred()) }
      l
    }
    private def andPred(): Pred = {
      var l = notPred()
      while (atKw("AND")) { eatKw("AND"); l = PAnd(l, notPred()) }
      l
    }
    private def notPred(): Pred =
      if (atKw("NOT")) { eatKw("NOT"); PNot(notPred()) }
      else basePred()

    private def basePred(): Pred = {
      // modern existential subquery: EXISTS { (v)-[:T]->(:L) } — the
      // braced form of the bare pattern predicate (Neo4j 5 deprecates
      // the bare form); compiles to the same semi/anti join
      if (atKw("EXISTS") && toks.lift(pos + 1).exists(_.text == "{")) {
        eatKw("EXISTS")
        val (cs, w) = subqueryBody()
        eatSym("}")
        return PExistsChain(cs, w)
      }
      // all/any/none/single(x IN list WHERE p) quantified predicates
      // ("ALL" tokenizes as a keyword — UNION ALL — the others as ids)
      val quant = peek match {
        case Some(TKw("ALL")) => Some("all")
        case Some(TId(q)) if Set("any", "none", "single")(q.toLowerCase) =>
          Some(q.toLowerCase)
        case _ => None
      }
      if (quant.isDefined && toks.lift(pos + 1).exists(_.text == "(")) {
        pos += 1; eatSym("(")
        val v = ident(); eatKw("IN"); val lst = expr()
        eatKw("WHERE"); val w = pred()
        eatSym(")")
        return PQuant(quant.get, v, lst, w)
      }
      // parenthesized: a pattern predicate (v)-[:T]->(), a grouped
      // (pred), or a parenthesized EXPRESSION under a comparison like
      // `(CASE ... END) = 1` — tried in that order, backtracking
      if (atSym("(")) {
        val save = pos
        // a bare pattern predicate compiles as the equivalent EXISTS {}
        // subquery (shared-variable semi/anti join; every bound
        // endpoint correlates)
        patternOpt() match {
          case Some(ch) => return PExistsChain(Seq(ch), None)
          case None => pos = save
        }
        val predErr: Exception =
          try {
            eatSym("(")
            val p = pred()
            eatSym(")")
            return p
          } catch {
            case e: Exception => pos = save; e
          }
        // expr-comparison fallback — narrowed: if the group does NOT
        // re-parse as a comparison either, surface the ORIGINAL
        // predicate-parse error (closest to the real fault), not a
        // misleading 'unexpected token' from the expression re-lex
        return try exprCmp() catch {
          case _: Exception => pos = save; throw predErr
        }
      }
      exprCmp()
    }

    /** Expression followed by a comparison / string / null / label
      * predicate — basePred's non-parenthesized tail, shared with the
      * grouped-predicate fallback. */
    private def exprCmp(): Pred = {
      val l = expr()
      // `n:Label` label predicate
      if (atSym(":")) {
        l match {
          case EVar(v) => eatSym(":"); return PHasLabel(v, ident())
          case _ => sys.error("label predicate needs a node variable, e.g. n:Label")
        }
      }
      peek match {
        case Some(TKw("IS")) =>
          eatKw("IS")
          val neg = if (atKw("NOT")) { eatKw("NOT"); true } else false
          eatKw("NULL")
          PIsNull(l, neg)
        case Some(TKw("IN")) => eatKw("IN"); PIn(l, expr())
        case Some(TKw("CONTAINS")) => eatKw("CONTAINS"); PStr("contains", l, atom())
        case Some(TKw("STARTS")) => eatKw("STARTS"); eatKw("WITH"); PStr("starts", l, atom())
        case Some(TKw("ENDS")) => eatKw("ENDS"); eatKw("WITH"); PStr("ends", l, atom())
        case Some(TSym("=~")) => eatSym("=~"); PStr("regex", l, atom())
        case Some(TSym(op)) if Set("=", "<>", "<", "<=", ">", ">=")(op) =>
          // chained comparisons (1 < x <= 2) desugar to AND of pairs
          // (openCypher's non-associative comparison chain)
          eatSym(op)
          var r = expr()
          var acc: Pred = PCmp(op, l, r)
          while (peek.exists {
            case TSym(o2) => Set("=", "<>", "<", "<=", ">", ">=")(o2)
            case _ => false
          }) {
            val o2 = next().text
            val r2 = expr()
            acc = PAnd(acc, PCmp(o2, r, r2))
            r = r2
          }
          acc
        // bare boolean expression as the whole predicate — only forms
        // that can plausibly BE boolean (a literal, a bound alias, a
        // boolean-returning function); anything else keeps the
        // comparison-expected error
        case _ if boolishExpr(l) => PBoolE(l)
        case t => sys.error(s"expected comparison after expression, got '${t.map(_.text)}'")
      }
    }

    /** Can this expression plausibly be a bare boolean predicate? */
    private def boolishExpr(e: Expr): Boolean = e match {
      case ELit(_: Boolean) => true
      case EVar(_) => true // a WITH-bound boolean alias (typed at analysis)
      case EFn("exists" | "toboolean", _) => true
      case _ => false
    }

    /** A chain of at least one hop here, or None with the position
      * unspecified (the caller backtracks). */
    private def patternOpt(): Option[Chain] =
      scala.util.Try(chain()).toOption.filter(_.hops.nonEmpty)

    /** The braced body of EXISTS { }, COUNT { } and COLLECT { } up to
      * its RETURN or closing brace: `{ [MATCH] chains [WHERE pred]`. */
    private def subqueryBody(): (Seq[Chain], Option[Pred]) = {
      eatSym("{")
      if (atKw("MATCH")) eatKw("MATCH")
      val cs = Seq.newBuilder[Chain]
      cs += chain()
      while (atSym(",")) { eatSym(","); cs += chain() }
      val w = if (atKw("WHERE")) { eatKw("WHERE"); Some(pred()) } else None
      (cs.result(), w)
    }
  }

  // ----------------------------------------------------------- compiler

  /** Column namespace for a pattern variable: `v$uid`, `v$label`,
    * `v$<prop>` — keeps every bound variable's fields side by side in
    * one flat row without struct overhead. */
  private def ns(v: String, c: String) = s"$v$$$c"

  /** What a variable in scope is bound to, with the columns its kind
    * reads. */
  private sealed trait Binding
  /** A node: its `v$uid`, `v$label`, `v$<prop>` column family. */
  private case object Node extends Binding
  /** A fixed-hop relationship: its `v$src_uid`, `v$rel_type`,
    * `v$dst_uid`, `v$<prop>` column family. */
  private case object Rel extends Binding
  /** A WITH, UNWIND or CALL alias, or an imported scalar: the plain
    * column `v`. */
  private case object Scalar extends Binding
  /** A bounded var-length relationship: its per-walk hop count (what
    * `size(r)` reads) and its materialized hop list of (src, rel_type,
    * dst) structs in walk orientation (what `r` and `r[i]` read). */
  private case class VarLenRel(lenCol: String, hopsCol: String) extends Binding
  /** A named path: its hop count (`length(p)`) and its canonical value
    * (`RETURN p`): `uid|rel_type|uid|...` in walk order, the g43 law's
    * `|`-join (direction rides the order, not arrows). */
  private sealed trait PathBinding extends Binding {
    def lenCol: String
    def strCol: String
  }
  /** A fixed-length named path, with its node variables in walk order
    * and its relationship variables in hop order — the
    * nodes(p)/relationships(p) surface. */
  private case class FixedPath(lenCol: String, strCol: String,
                               nodes: Seq[String], rels: Seq[String]) extends PathBinding
  /** A shortestPath / allShortestPaths path, or a named path with a
    * var-length hop: its interior is not per-row columns (the value
    * rides the hop list or, for shortestPath, the lexicographic-min
    * witness of [[Traversal.reachFixpointWitness]]). */
  private case class WalkPath(lenCol: String, strCol: String) extends PathBinding
  /** The variable of a list comprehension, reduce() or quantifier body:
    * the higher-order function's element (or accumulator) column, and
    * whether it iterates strings (split(), keys(), string-literal
    * lists), which decides size()'s chars-vs-elements dispatch. */
  private case class Lambda(c: Column, strings: Boolean) extends Binding
  /** The variables in scope, by name. A stage's scope holds exactly the
    * variables it binds: a WITH ends the scope of every variable it does
    * not project. */
  private type Scope = Map[String, Binding]

  private final class Compiler(nodes: DataFrame, edges: DataFrame,
                               params: Map[String, Any], imports: Scope = Map.empty) {
    private val nodeProps = nodes.columns.filterNot(Set("uid", "label")).toSeq
    private val edgeProps =
      edges.columns.filterNot(Set("src_uid", "dst_uid", "rel_type", "src_label", "dst_label")).toSeq
    private var anon = 0
    private def freshVar(): String = { anon += 1; s"_anon$anon" }
    /** The scope the compiler stands in: the current stage's, widened by
      * a clause's pattern variables, a subquery pattern's or the lambda
      * variables of an enclosing body. Replaced, never mutated: a stage
      * sets its successor's scope, a widening restores the enclosing one
      * ([[scoped]]). A correlated CALL body starts from its imports. */
    private var scope: Scope = imports
    private def scoped[T](s: Scope)(body: => T): T = {
      val saved = scope
      scope = s
      try body finally scope = saved
    }
    /** The one variable lookup: `v`'s binding, or the refusal of a name
      * no pattern, WITH, UNWIND, CALL or lambda binds here. */
    private def resolve(v: String): Binding = scope.getOrElse(v,
      throw new IllegalArgumentException(s"Variable `$v` not defined"))
    /** `body` with `v` bound to the element `x` of `list`; a lambda
      * shadows an outer binding of its name (Cypher scoping). */
    private def withLambda(v: String, list: Expr, x: Column)(body: => Column): Column =
      scoped(scope + (v -> Lambda(x, stringElems(list))))(body)
    /** The pattern variables (nodes and fixed-hop relationships) of a
      * scope: the names frames join on. */
    private def patternVars(s: Scope): Set[String] =
      s.collect { case (v, Node | Rel) => v }.toSet
    /** The columns of variable `v`, bound as `b`, in frame `d`: a
      * scalar's own, a path's or a var-length rel's scratch columns
      * (length(p), size(r) and [h IN r | ...] resolve through them), else
      * its namespaced family. */
    private def varCols(v: String, b: Binding, d: DataFrame): Seq[String] = b match {
      case Scalar => Seq(v)
      case p: PathBinding => Seq(p.lenCol, p.strCol)
      case VarLenRel(len, hops) => Seq(len, hops)
      case _ => d.columns.filter(_.startsWith(v + "$")).toSeq
    }
    /** Best-effort: does this list expression carry string elements? */
    private def stringElems(list: Expr): Boolean = list match {
      case EFn("split", _) | EFn("keys", _) => true
      case EList(items) if items.nonEmpty =>
        items.forall { case ELit(_: String) => true; case _ => false }
      case EComp(_, l2, _, None) => stringElems(l2)
      case EComp(_, _, _, Some(m)) => m match {
        case ELit(_: String) | EProp(_, _) |
             EFn("tolower" | "toupper" | "tostring" | "trim" | "ltrim" |
                 "rtrim" | "replace" | "substring" | "left" | "right", _) => true
        case _ => false
      }
      case _ => false
    }

    /** One variable's node table, all columns namespaced. */
    private def nodeSide(p: NodePat, v: String): DataFrame = {
      val df = p.label.fold(nodes)(l => nodes.filter(col("label") === l))
      propsFilter(df, p.props)
        .select((Seq("uid", "label") ++ nodeProps).map(c => col(c).as(ns(v, c))): _*)
    }

    /** A node or relationship property map as equality filters on the
      * node or edge frame. A relationship's map is a per-EDGE filter: on
      * a var-length hop EVERY hop of the walk must satisfy it (Neo4j's
      * `-[:T*1..3 {k: v}]->` contract), so it applies to the edge set
      * each k-fold join draws from — pushed below the joins, never a
      * post-hoc hop-list scan. A scalar alias lives outside the
      * pattern's frame, so a map cannot read one. */
    private def propsFilter(df: DataFrame, props: Map[String, Expr]): DataFrame =
      props.foldLeft(df) { case (d, (k, e)) =>
        e match {
          case EVar(sv) if scope.get(sv).contains(Scalar) => sys.error(
            s"property map cannot reference pipeline alias '$sv' (it lives " +
              "outside the pattern's frame); correlate with WHERE instead")
          case _ =>
        }
        d.filter(col(k) === exprCol(e))
      }

    /** The edge set one hop of `r` draws from, with the names of its
      * walk-orientation (from, to) columns: the type filter, the
      * relationship property map ([[propsFilter]]) and, for
      * `-[:T]-`, the symmetric closure. In that closure `src_uid` is the
      * traversal ORIGIN (walk orientation, not storage orientation — the
      * documented undirected divergence), and a self-loop's reversed
      * copy is left out: an undirected loop is ONE match per hop, not
      * two (Neo4j parity). Endpoint labels ride along when the edge
      * frame carries them — startNode(r)/endNode(r) project them as the
      * node's label — and swap with the orientation. */
    private def hopEdges(r: RelPat): (DataFrame, String, String) = {
      var df = edges
      if (r.types.nonEmpty) df = df.filter(col("rel_type").isin(r.types: _*))
      df = propsFilter(df, r.props)
      val labelCols =
        if (Seq("src_label", "dst_label").forall(edges.columns.contains))
          Seq("src_label", "dst_label")
        else Nil
      val cols = Seq("src_uid", "dst_uid", "rel_type") ++ labelCols ++ edgeProps
      val base = df.select(cols.map(col): _*)
      val set =
        if (!r.undirected) base
        else base.unionByName(df.filter(col("src_uid") =!= col("dst_uid"))
          .select((Seq(col("dst_uid").as("src_uid"),
            col("src_uid").as("dst_uid"), col("rel_type")) ++
            labelCols.map(c =>
              col(if (c == "src_label") "dst_label" else "src_label").as(c)) ++
            edgeProps.map(col)): _*))
      if (r.forward) (set, "src_uid", "dst_uid") else (set, "dst_uid", "src_uid")
    }

    /** Compile one chain to a DataFrame of namespaced columns; returns
      * (df, the chain's bindings). A `pathVar` (MATCH p = ...)
      * additionally materializes the walk's hop count as a `pathlen$p`
      * column — fixed hops contribute 1 each, a bounded var-length hop
      * its unrolled depth — and its value as a `pathstr$p` column. */
    private def compileChain(ch: Chain,
                             pathVar: Option[String] = None): (DataFrame, Scope) = {
      val headVar = ch.head.v.getOrElse(freshVar())
      var df = nodeSide(ch.head, headVar)
      var chainScope: Scope = Map(headVar -> Node)
      var cur = headVar
      val lenParts = Seq.newBuilder[Column]
      // nodes(p)/relationships(p) bookkeeping (fixed-length chains)
      val nodeOrder = Seq.newBuilder[String]
      nodeOrder += headVar
      val relOrder = Seq.newBuilder[String]
      var hasVarLen = false
      // RETURN p bookkeeping: each hop appends its `|rel_type|uid`
      // piece(s); var-length hops contribute a fold over their
      // materialized hop list. Pure string concat over columns the
      // chain joins already carry — no extra joins.
      val serialParts = Seq.newBuilder[Column]
      serialParts += col(ns(headVar, "uid"))
      val serialScratch = Seq.newBuilder[String]
      ch.hops.foreach { case (rel, nodePat) =>
        rel.varLen match {
          case Some((lo, hi)) =>
            // bounded var-length: union of k-fold edge chains, k in
            // lo..hi (g12, g32), one declarative plan with no driver
            // loop. Path-multiplicity (walk) semantics: a destination
            // appears once per distinct walk.
            //
            // UNBOUNDED `*` (hi == Unbounded) instead compiles to the
            // Traversal.reachFixpoint REACHABILITY closure: DISTINCT
            // (from, to) pairs, cycle-safe — walk multiplicity over an
            // unbounded depth is not finite on cyclic graphs, so the
            // semantics shift is forced and documented (parser pins
            // lo == 1 for this form).
            val endCol = freshVar() // unique reach-endpoint column per hop
            val nv = nodePat.v.getOrElse(freshVar())
            hasVarLen = true
            nodeOrder += nv
            val reachDf =
              if (hi == Unbounded) {
                require(pathVar.isEmpty,
                  "length(p) over an unbounded `*` hop is not finite " +
                    "on cyclic graphs; bound the range (*1..k)")
                val (e, fromC, toC) = hopEdges(rel)
                val reachEdges =
                  e.select(col(fromC).as("src_uid"), col(toC).as("dst_uid"))
                // When the closure's STARTS join directly against the
                // chain's head frame (first hop, lo <= 1 — the `lo > 1`
                // form instead joins the closure on the exact-prefix's
                // TARGETS, which the head set does not cover), seed the
                // fixpoint with the head pattern's uid set (a cheap
                // label projection) instead of computing all-pairs
                // reach from every node and discarding the rest
                // (hub-safe at scale, fewer frontier rows at any
                // scale). Mid-chain hops stay unseeded: re-deriving
                // the current frontier would re-execute the chain
                // prefix.
                if (lo <= 1) {
                  val seed =
                    if (cur == headVar)
                      Some(df.select(col(ns(cur, "uid")).as("src_uid")))
                    else None
                  Traversal.reachFixpoint(reachEdges, seed = seed)
                    .select(col("start").as(s"$endCol$$from"),
                      col("reached").as(s"$endCol$$to"))
                } else {
                  // `*lo..` (lo > 1): an exact (lo-1)-hop walk prefix
                  // chained into the 1..∞ closure — ∃ walk of length
                  // ≥ lo; DISTINCT pairs keep reachability semantics.
                  // The prefix seeds from the chain head when this hop
                  // binds it (the lo ≤ 1 hub-safety), deduplicates
                  // (only PAIRS survive the final distinct) and is
                  // materialized once — it feeds the closure's seed
                  // AND the chain join. The closure BFS then starts
                  // only from the prefix's TARGET set: the old form
                  // ran the (eager) fixpoint from EVERY node of the
                  // graph and immediately discarded all starts the
                  // prefix join dropped — the textbook wasted pass
                  // (guide §1.2); results for kept starts are
                  // identical by reachFixpoint's seeding contract.
                  val prefixSeed =
                    if (cur == headVar)
                      Some(df.select(col(ns(cur, "uid"))
                        .as(s"$endCol$$from")).distinct())
                    else None
                  val prefix =
                    varReach(rel, lo - 1, lo - 1, endCol,
                        seedFrom = prefixSeed)
                      .withColumnRenamed(s"$endCol$$to", s"$endCol$$pre")
                      .distinct()
                      .localCheckpoint(true)
                  val closure = Traversal.reachFixpoint(reachEdges,
                      seed = Some(prefix
                        .select(col(s"$endCol$$pre").as("src_uid"))))
                    .select(col("start").as(s"$endCol$$pre"),
                      col("reached").as(s"$endCol$$to"))
                  prefix.join(closure, s"$endCol$$pre")
                    .drop(s"$endCol$$pre")
                    .distinct()
                }
              } else varReach(rel, lo, hi, endCol,
                withLen = pathVar.isDefined || rel.v.isDefined,
                // a named path serializes its interior from the hop
                // list, so `p = (a)-[*1..2]->(b)` materializes hops
                // even without a bound rel variable
                withHops = rel.v.isDefined || pathVar.isDefined)
            if (pathVar.isDefined) lenParts += col(s"$endCol$$len")
            df = df.join(reachDf,
              col(ns(cur, "uid")) === col(s"$endCol$$from"))
              .drop(s"$endCol$$from")
            if (chainScope.contains(nv)) {
              df = df.filter(col(s"$endCol$$to") === col(ns(nv, "uid")))
                .drop(s"$endCol$$to")
            } else {
              df = df.join(nodeSide(nodePat, nv),
                col(s"$endCol$$to") === col(ns(nv, "uid")))
                .drop(s"$endCol$$to")
              chainScope += nv -> Node
            }
            // a bound var-length variable surfaces its per-walk hop
            // count as size(r) (the tagged depth column, a literal per
            // chain) AND its hop list as `r` — the materialized
            // (src, rel_type, dst) struct array, walk orientation
            rel.v.foreach { rv =>
              val c = s"rellen$$$rv"
              df = df.withColumn(c, col(s"$endCol$$len"))
              if (pathVar.isEmpty) df = df.drop(s"$endCol$$len")
              val hc = s"relhops$$$rv"
              df = df.withColumn(hc, col(s"$endCol$$hops"))
                .drop(s"$endCol$$hops")
              chainScope += rv -> VarLenRel(c, hc)
            }
            if (pathVar.isDefined) {
              // the serialized interior folds over the hop list (walk
              // orientation, so each hop's dst IS the next node)
              val hc = rel.v.map(rv => s"relhops$$$rv").getOrElse {
                serialScratch += s"$endCol$$hops"
                s"$endCol$$hops"
              }
              serialParts += aggregate(col("`" + hc + "`"), lit(""),
                (acc, h) => concat(acc, lit("|"), h.getField("rel_type"),
                  lit("|"), h.getField("dst")))
            }
            cur = nv
          case None =>
            if (pathVar.isDefined) lenParts += lit(1)
            val rv = rel.v.getOrElse(freshVar())
            relOrder += rv
            // the bound rel's columns keep the hop set's orientation
            val (hop, fromC, toC) = hopEdges(rel)
            df = df.join(hop.select(hop.columns.toSeq.map(c => col(c).as(ns(rv, c))): _*),
              col(ns(cur, "uid")) === col(ns(rv, fromC)))
            val nv = nodePat.v.getOrElse(freshVar())
            nodeOrder += nv
            if (chainScope.contains(nv)) { // cycle back to an already-bound variable
              df = df.filter(col(ns(rv, toC)) === col(ns(nv, "uid")))
            } else {
              df = df.join(nodeSide(nodePat, nv), col(ns(rv, toC)) === col(ns(nv, "uid")))
              chainScope += nv -> Node
            }
            chainScope += rv -> Rel
            if (pathVar.isDefined)
              serialParts += concat(lit("|"), col(ns(rv, "rel_type")),
                lit("|"), col(ns(nv, "uid")))
            cur = nv
        }
      }
      pathVar.foreach { pv =>
        val parts = lenParts.result()
        val lenCol = s"pathlen$$$pv"
        df = df.withColumn(lenCol,
          if (parts.isEmpty) lit(0) else parts.reduce(_ + _))
        // the per-hop depth scratch columns fold into the total
        df = df.drop(df.columns.filter(c =>
          c.endsWith("$len") && c != lenCol).toIndexedSeq: _*)
        // the canonical path VALUE (`RETURN p`): uid|rel_type|uid|…
        val strCol = s"pathstr$$$pv"
        df = df.withColumn(strCol, concat(serialParts.result(): _*))
          .drop(serialScratch.result(): _*)
        chainScope += pv -> (if (hasVarLen) WalkPath(lenCol, strCol)
          else FixedPath(lenCol, strCol, nodeOrder.result(), relOrder.result()))
      }
      (df, chainScope)
    }

    /** `p = shortestPath((a)-[:T*lo..hi]->(b))` (lo <= 1): the seeded
      * witness fixpoint [[Traversal.reachFixpointWitness]] to depth `hi`
      * (to the graph's depth for `*`). BFS first reach is the min depth,
      * so `length(p)` projects it, and each endpoint pair keeps the
      * per-level min witness path string, which `RETURN p` projects.
      * `allShortestPaths` instead keeps every walk tied at the min depth
      * from the unrolled [[varReach]]. Returns (df, the endpoints' and
      * the path's bindings). */
    private def compileShortest(ch: Chain, pv: String,
                                all: Boolean = false): (DataFrame, Scope) = {
      val (rel, tailPat) = ch.hops.head
      val (lo, hi) = rel.varLen.get
      val headVar = ch.head.v.getOrElse(freshVar())
      val tailVar = tailPat.v.getOrElse(freshVar())
      require(headVar != tailVar, "shortestPath endpoints must be distinct variables")
      val headFrame = nodeSide(ch.head, headVar)
      val strCol = s"pathstr$$$pv"
      val binds: Scope = Map(headVar -> Node, tailVar -> Node, pv -> WalkPath(s"$pv$$len", strCol))
      if (all) {
        // EVERY walk tied at the pair's min depth — walk multiplicity
        // from the unrolled varReach (no level dedup, SEEDED from the
        // head set), one endpoint-pair window to find the min, one
        // filter. Neo4j's cardinality: one row per tied shortest path.
        // Hops materialize so `RETURN p` serializes each tied path
        // (fixed-width structs — extra width, not extra rows).
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(s"$pv$$from", s"$pv$$to")
        val headSeed = headFrame
          .select(col(ns(headVar, "uid")).as(s"$pv$$from")).distinct()
        val walks = varReach(rel, lo, hi, pv, withLen = true,
            withHops = true, seedFrom = Some(headSeed))
          .withColumn(s"$pv$$minlen", min(col(s"$pv$$len")).over(w))
          .filter(col(s"$pv$$len") === col(s"$pv$$minlen"))
          .drop(s"$pv$$minlen")
        val df = headFrame
          .join(walks, col(ns(headVar, "uid")) === col(s"$pv$$from"))
          .drop(s"$pv$$from")
          .join(nodeSide(tailPat, tailVar), col(s"$pv$$to") === col(ns(tailVar, "uid")))
          .drop(s"$pv$$to")
          .withColumn(strCol, concat(col(ns(headVar, "uid")),
            aggregate(col(s"$pv$$hops"), lit(""),
              (acc, h) => concat(acc, lit("|"), h.getField("rel_type"),
                lit("|"), h.getField("dst")))))
          .drop(s"$pv$$hops")
        return (df, binds)
      }
      val (e, fromC, toC) = hopEdges(rel)
      // the closure is joined to the head frame right away, so the BFS
      // starts only from the head endpoint's uids (hub-safe)
      val reach = Traversal.reachFixpointWitness(
          e.select(col(fromC).as("src_uid"), col(toC).as("dst_uid"), col("rel_type")),
          maxIter = hi,
          seed = Some(headFrame.select(col(ns(headVar, "uid")).as("src_uid"))))
        .select(col("start").as(s"$pv$$from"), col("reached").as(s"$pv$$to"),
          col("depth").as(s"$pv$$len"), col("path").as(strCol))
      val df = headFrame
        .join(reach, col(ns(headVar, "uid")) === col(s"$pv$$from"))
        .drop(s"$pv$$from")
        .join(nodeSide(tailPat, tailVar), col(s"$pv$$to") === col(ns(tailVar, "uid")))
        .drop(s"$pv$$to")
      (df, binds)
    }

    /** (from, to) pairs reachable by lo..hi chained hops of `rel`'s
      * edge set: hi-1 chained equi-joins, depths >= lo unioned — path
      * multiplicity preserved, no iteration state on the driver. */
    private def varReach(rel: RelPat, lo: Int, hi: Int, nsCol: String,
                         withLen: Boolean = false,
                         withHops: Boolean = false,
                         seedFrom: Option[DataFrame] = None): DataFrame = {
      val (e, fromC, toC) = hopEdges(rel)
      val from = s"$nsCol$$from"; val to = s"$nsCol$$to"
      val hops = s"$nsCol$$hops"; val mid = s"$nsCol$$mid"
      // `withHops`: a BOUND rel variable materializes the walk's hop
      // list — one (src, rel_type, dst) struct per hop, walk
      // orientation (the undirected divergence) — accumulated by array
      // concat through the k-fold joins. Cost is walks × depth rows of
      // fixed-width structs, exactly the result Neo4j returns for `r`.
      def sel(a: String, b: String, src: DataFrame): DataFrame =
        if (withHops) src.select(col(a).as(from), col(b).as(to),
          array(struct(col(a).as("src"), col("rel_type"),
            col(b).as("dst"))).as(hops))
        else src.select(col(a).as(from), col(b).as(to))
      val e1 = sel(fromC, toC, e)
      // each k-fold chain tags its constant depth when a named path
      // needs length(p); the column is a literal, so it costs nothing
      def tag(df: DataFrame, k: Int): DataFrame =
        if (withLen) df.withColumn(s"$nsCol$$len", lit(k)) else df
      // seeded enumeration: when the head endpoint is restricted (a
      // labeled/filtered start set), the FIRST hop semi-joins it so
      // walks from irrelevant sources never materialize — a hub graph
      // makes the unseeded 2-hop frame O(hub degree squared) per hub
      var step = seedFrom.fold(e1)(sd => e1.join(sd, Seq(from), "left_semi"))
      var acc: Option[DataFrame] = if (lo <= 1) Some(tag(step, 1)) else None
      for (k <- 2 to hi) {
        val joined = step
          .select((Seq(col(from), col(to).as(mid)) ++
            (if (withHops) Seq(col(hops)) else Nil)): _*)
          .join(e1.select((Seq(col(from).as(mid), col(to)) ++
            (if (withHops) Seq(col(hops).as(s"$hops#2")) else Nil)): _*), mid)
        step =
          if (withHops) joined.select(col(from), col(to),
            concat(col(hops), col(s"$hops#2")).as(hops))
          else joined.select(from, to)
        if (k >= lo) acc = Some(acc.fold(tag(step, k))(_.unionByName(tag(step, k))))
      }
      acc.get
    }

    /** The pattern variables scopes `a` and `b` both bind, name-sorted,
      * with their bindings; a name that is a node on one side and a
      * relationship on the other is refused. */
    private def sharedVars(a: Scope, b: Scope): Seq[(String, Binding)] =
      (patternVars(a) & patternVars(b)).toSeq.sorted.map { v =>
        require(a(v) == b(v), s"`$v` is bound both as a node and as a relationship")
        v -> a(v)
      }

    /** Join `right` (a clause's frame) to `left` on the identity of each
      * shared variable: a node's uid, a relationship's (src_uid,
      * rel_type, dst_uid) — the `GraphStore.upsertEdges` MERGE key, in
      * walk orientation for an undirected match. Duplicated shared-var
      * columns are renamed with an exact marker set (never a suffix
      * heuristic — user property names may end in any suffix) and
      * dropped after the join. `extraCond` rides the join condition
      * itself (the OPTIONAL WHERE). */
    private def joinOnShared(left: DataFrame, right: DataFrame,
                             shared: Seq[(String, Binding)], joinType: String,
                             extraCond: Option[DataFrame => Column]): DataFrame = {
      val dupCols = right.columns.filter(c =>
        shared.exists { case (v, _) => c.startsWith(v + "$") })
      val renamed = dupCols.foldLeft(right)((d, c) => d.withColumnRenamed(c, c + "#dup"))
      val keys = shared.flatMap {
        case (v, Rel) => Seq("src_uid", "rel_type", "dst_uid").map(ns(v, _))
        case (v, _) => Seq(ns(v, "uid"))
      }
      var cond = keys.map(k => left(k) === renamed(k + "#dup")).reduce(_ && _)
      extraCond.foreach(f => cond = cond && f(renamed))
      left.join(renamed, cond, joinType).drop(dupCols.map(_ + "#dup").toSeq: _*)
    }

    def compile(q: Query): DataFrame = compileWith(q, None, Nil)

    /** Correlated-subquery variant: `seed` carries the imported
      * variables, which the compiler's starting scope binds (pattern
      * vars ride their full namespaced column families so inner clauses
      * still reach `v.prop`; scalar aliases ride as plain columns), and
      * `corrCols` is the per-outer-row correlation key the finish stage
      * preserves — aggregates group by it, ORDER BY + SKIP/LIMIT become
      * a per-key row_number window. */
    private def compileWith(q0: Query, seed: Option[DataFrame],
                            corrCols: Seq[String]): DataFrame = {
      var df: DataFrame = seed.orNull
      // RETURN * / WITH * expansion: every NAMED variable in scope, the
      // pattern, path and var-length relationship variables name-sorted,
      // then the scalar aliases name-sorted (deterministic; results are
      // compared column-order-blind), in front of the written items,
      // which may not shadow them
      def withStar(p: Projection): Projection = if (!p.star) p else {
        require(df != null, "RETURN * / WITH * needs a reading clause")
        val (scals, vars) = scope.keys.toSeq.sorted.partition(scope(_) == Scalar)
        val expanded = (vars.filterNot(_.startsWith("_anon")) ++
          scals.filterNot(_.startsWith("_"))).map(v => RetItem(EVar(v), None, v))
        val clash = expanded.map(_.text).toSet intersect
          p.items.map(_.name).toSet
        require(clash.isEmpty,
          s"RETURN * / WITH *: extra items shadow variables: ${clash.mkString(", ")}")
        p.copy(items = expanded ++ p.items)
      }
      // name hygiene: a CALL's outputs must not shadow ANY name in scope
      // or any materialized column
      def requireFresh(outs: Seq[String]): Unit = {
        val clash = outs.toSet intersect (df.columns.toSet ++ scope.keySet)
        require(clash.isEmpty,
          s"CALL { } returns names already bound: ${clash.mkString(", ")}")
      }
      def applyClause(cl: MatchClause): Unit = {
        // a clause's comma chains join on shared vars (inner, one pattern)
        var (cdf, cscope) = cl.shortest match {
          case Some(pv) => compileShortest(cl.chains.head, pv, cl.shortestAll)
          case None => compileChain(cl.chains.head, cl.named)
        }
        cl.chains.tail.foreach { ch =>
          val (chDf, chScope) = compileChain(ch)
          val shared = sharedVars(cscope, chScope)
          if (shared.isEmpty) {
            // legal only when the clause WHERE correlates the chains
            // (pattern predicate spanning both / EXISTS {} touching
            // both) — applied right after the join below
            require(cl.where.exists(p =>
                predLinks(p, patternVars(cscope), patternVars(chScope))),
              "disconnected comma patterns would be a cross product; " +
                "share a variable or correlate them in WHERE")
            cdf = cdf.crossJoin(chDf)
          } else cdf = joinOnShared(cdf, chDf, shared, "inner", None)
          cscope ++= chScope
        }
        val shared = sharedVars(scope, cscope)
        if (df != null && shared.isEmpty) {
          // no shared pattern variable: legal only when the clause's
          // WHERE correlates it to the pipeline's scalar columns
          // (`UNWIND $keys AS k MATCH (n) WHERE n.key = k`) — the
          // equality lands in the join condition, so Catalyst plans
          // an equi-join, not a cartesian (PlanSweepSpec's law)
          require(!cl.optional,
            "OPTIONAL MATCH needs a shared variable with the rows so far")
          require(cl.where.exists(refsScalar) ||
              cl.where.exists(p => predLinks(p, patternVars(scope), patternVars(cscope))),
            "disconnected MATCH patterns would be a cross product; " +
              "share a variable or correlate via WHERE on a WITH/UNWIND " +
              "alias or a pattern predicate spanning both")
        }
        // the clause's WHERE reads the pipeline's and the clause's names
        scope ++= cscope
        if (df != null && cl.optional) {
          // Cypher scoping: OPTIONAL MATCH's WHERE filters the
          // matches INSIDE the left join — unmatched rows stay
          // null-padded instead of being dropped post-join. Subquery
          // terms in that WHERE pre-join their columns onto the
          // CLAUSE frame, so the whole predicate stays a Column
          // inside the join condition
          val terms = cl.where.toSeq.flatMap(probeTerms(_))
          // a subquery term here compiles against the CLAUSE frame: a
          // pattern variable bound only in the OUTER pipeline would
          // silently degrade to an existential, and its inner WHERE or
          // RETURN could not read one — refuse and point at the
          // correlated form instead
          def binds(d: DataFrame, v: String) = d.columns.exists(c => c == v || c.startsWith(v + "$"))
          terms.flatMap(t => subqueryVars(t).toSeq.flatten ++ subqueryReads(t).flatMap(refs))
            .distinct.foreach { r =>
              require(!binds(df, r) || binds(cdf, r),
                s"OPTIONAL MATCH WHERE: variable '$r' is bound outside " +
                  "this clause; write the pattern into the OPTIONAL MATCH itself")
            }
          df = withProbes(cdf, terms) { wide =>
            joinOnShared(df, wide, shared, "left_outer",
              cl.where.map(p => (_: DataFrame) => predCol(p)))
          }
        } else {
          df =
            if (df == null) cdf
            else if (shared.isEmpty) df.crossJoin(cdf)
            else joinOnShared(df, cdf, shared, "inner", None)
          cl.where.foreach(p => df = applyPred(df, p, negated = false))
        }
      }
      q0.stages.foreach {
        case SMatch(cl) => applyClause(cl)
        case SWith(p, where) =>
          require(df != null, "WITH before any MATCH/UNWIND has no rows to project")
          val (pdf, next) = project(withStar(p), df, corrCols, carry = true)
          df = pdf
          scope = next
          where.foreach(w => df = applyPred(df, w, negated = false))
        case SUnwind(e, alias) =>
          require(!scope.contains(alias), s"UNWIND alias '$alias' is already bound")
          // one output row per list element; at the pipeline head the
          // list (a literal or $param) seeds a single-row frame
          df =
            if (df == null)
              nodes.sparkSession.range(1).select(explode(exprCol(e)).as(alias))
            else withProbes(df, probeTerms(e))(
              _.withColumn(alias, explode(exprCol(e))))
          scope += alias -> Scalar
        case SCall(inner, imports) if imports.nonEmpty =>
          // correlated subquery: CALL { WITH a, b ... }. The inner
          // plan runs ONCE over the DISTINCT import bindings (the
          // subquery is a pure function of its imports) and joins
          // back on the correlation key — the distributed equivalent
          // of Neo4j's per-row execution: one shuffle-join instead of
          // N driver-side invocations, and NOTHING rides a broadcast
          // unless Catalyst/AQE decides the side is small
          require(df != null,
            "correlated CALL { WITH ... } needs rows to import from")
          val importScope: Scope = imports.map { v =>
            val b = scope.getOrElse(v, throw new IllegalArgumentException(
              s"CALL { WITH $v }: '$v' is not bound"))
            require(b != Rel,
              s"CALL { WITH $v }: relationship variables cannot be " +
                "imported (no stable single-column key); import the " +
                "endpoint nodes instead")
            require(b == Node || b == Scalar, s"CALL { WITH $v }: only " +
              "node variables and scalar aliases can be imported")
            v -> b
          }.toMap
          val nodeImports = imports.filter(importScope(_) == Node)
          val scalarImports = imports.filterNot(nodeImports.contains)
          val seedCols = nodeImports.flatMap(v =>
            df.columns.filter(_.startsWith(v + "$"))) ++ scalarImports
          val corr = nodeImports.map(v => ns(v, "uid")) ++ scalarImports
          val seedDf = df.select(seedCols.map(c => col("`" + c + "`")): _*).distinct()
          val idf = new Compiler(nodes, edges, params, importScope)
            .compileWith(inner, Some(seedDf), corr)
          val newCols = idf.columns.filterNot(corr.contains)
          requireFresh(newCols.toSeq)
          // Join-back semantics (Neo4j per-row execution): a subquery
          // whose RETURN items are ALL aggregates yields exactly ONE
          // row per binding even when zero rows reach its RETURN —
          // count()/sum() evaluate to 0, collect() to [], min/max/avg
          // to null. The keyed aggregation above only produces rows
          // for bindings that matched, so those bodies join back LEFT
          // and the zero-match bindings are refilled with each item's
          // zero-row value (aggregate sub-terms replaced by their
          // empty-input results, folded in the OUTER scope so
          // imported scalars still resolve). Non-aggregate bodies
          // keep the inner join: zero subquery rows eliminates the
          // outer row (the openCypher CALL contract).
          val aggOnly = inner.ret.items.nonEmpty &&
            inner.ret.items.forall(i => hasAgg(i.expr))
          df = df.join(idf, corr, if (aggOnly) "left_outer" else "inner")
          if (aggOnly) {
            val joinedSchema = df.schema
            inner.ret.items.foreach { i =>
              val n = i.name
              if (newCols.contains(n))
                df = try df.withColumn(n, coalesce(col("`" + n + "`"),
                    exprCol(zeroRowExpr(i.expr)).cast(joinedSchema(n).dataType)))
                  catch { case e: Exception =>
                    throw new IllegalArgumentException(s"CALL { } item '$n' " +
                      "has no value for an import binding with zero matches: " +
                      e.getMessage, e)
                  }
            }
          }
          scope ++= newCols.map(_ -> Scalar)
        case SCall(inner, _) =>
          // fresh scope, like a UNION part; output columns join the
          // pipeline as scalar aliases
          val idf = new Compiler(nodes, edges, params).compile(inner)
          if (df != null) requireFresh(idf.columns.toSeq)
          // uncorrelated block: rows cross-multiply the incoming frame
          // (Neo4j's per-row execution of an import-free subquery). The
          // inner frame broadcasts ONLY when provably small — a keyless
          // aggregate (one row by construction) or an explicit LIMIT —
          // turning the cross-multiply into a BroadcastNestedLoopJoin
          // (PlanSweepSpec's law). An arbitrary-cardinality inner
          // result must NOT ship through the driver as a broadcast at
          // 100 TB: it crossJoins plainly and Catalyst picks the
          // strategy from its own size estimates.
          val innerSmall = inner.ret.limit.exists(_ <= 100000) ||
            inner.ret.items.forall(i => hasAgg(i.expr))
          df =
            if (df == null) idf
            else if (innerSmall) df.crossJoin(broadcast(idf))
            else df.crossJoin(idf)
          scope ++= idf.columns.map(_ -> Scalar)
      }

      project(withStar(q0.ret), df, corrCols, carry = false)._1
    }

    /** The one projection stage — RETURN, WITH, and the finish of a
      * correlated CALL body — in the order and with the ORDER BY rule
      * [[Projection]] states; returns the projected frame and the next
      * stage's scope, which holds exactly the stage's outputs. `carry`
      * (WITH) passes a bare variable through with its whole column
      * family and binding (so later clauses still reach `v.prop`); every
      * other WITH item needs an `AS` alias and becomes a plain scalar
      * column. Any aggregate item triggers
      * Cypher's implicit grouping by the non-aggregate items — grouping
      * a carried variable groups by ALL its columns (functionally
      * dependent on uid, so one hash aggregate, no re-join to recover
      * properties). Inside a correlated CALL (`corrCols` non-empty) the
      * correlation key threads through every stage even when the
      * projection drops the imported variable: aggregates group PER
      * BINDING (the per-row execution contract), paging is per binding,
      * and the join back finds its key. Subquery terms in items and
      * keys pre-join their columns onto the frame they are read in. */
    private def project(p: Projection, in: DataFrame, corrCols: Seq[String],
                        carry: Boolean): (DataFrame, Scope) = {
      val carried = p.items.filter(i => carry && i.alias.isEmpty && i.expr.isInstanceOf[EVar])
      val carriedScope: Scope =
        carried.map(_.expr).collect { case EVar(v) => v -> resolve(v) }.toMap
      val exprItems = p.items.filterNot(carried.contains)
      if (carry) exprItems.foreach(i => require(i.alias.isDefined,
        s"WITH item '${i.text}' needs an AS alias"))
      val aggItems = exprItems.filter(i => hasAgg(i.expr))
      // WITH's frame is read by name, so it lays carried columns first
      // and aggregates last; RETURN keeps the written order
      val order =
        if (carry) carried ++ exprItems.filterNot(aggItems.contains) ++ aggItems
        else p.items
      def names(i: RetItem): Seq[String] = i.expr match {
        case EVar(v) if carried.contains(i) => varCols(v, carriedScope(v), in)
        case _ => Seq(i.name)
      }
      def byName(i: RetItem): Seq[Column] = names(i).map(c => col("`" + c + "`"))
      def itemCols(i: RetItem): Seq[Column] =
        if (carried.contains(i)) byName(i) else Seq(exprCol(i.expr).as(i.name))
      val corrKeep = corrCols.filterNot(order.flatMap(names).contains)
        .filter(in.columns.contains).map(c => col("`" + c + "`"))
      val proj = (d: DataFrame) =>
        if (aggItems.isEmpty) {
          val sel = d.select(corrKeep ++ order.flatMap(itemCols): _*)
          if (p.distinct) sel.distinct() else sel
        } else {
          // nested aggregates (count(*) * 2) lift to temp columns: one
          // hash aggregate computes the temps, a projection on top
          // applies the surrounding expression, the temps in scope
          val keyCols = corrKeep ++ order.filterNot(aggItems.contains).flatMap(itemCols)
          val lifted = scala.collection.mutable.ArrayBuffer[(String, Expr)]()
          val rewritten = aggItems.map(i => i -> liftAggs(i.expr, lifted)).toMap
          val aggCols = lifted.toSeq.map { case (tmp, agg) => aggCol(agg).as(tmp) }
          val grouped = d.groupBy(keyCols: _*).agg(aggCols.head, aggCols.tail: _*)
          scoped(scope ++ lifted.map(_._1 -> Scalar))(
            grouped.select(corrKeep ++ order.flatMap(i => rewritten.get(i)
              .fold(byName(i))(re => Seq(exprCol(re).as(i.name)))): _*))
        }
      // the ORDER BY rule: a key is read after the projection unless it
      // reads a variable the projection drops
      val aliases = exprItems.flatMap(i => i.alias.map(_ -> i.expr)).toMap
      val next = carriedScope ++ aliases.keys.map(_ -> Scalar)
      val dropped = scope.keySet -- next.keySet
      def named(k: OrderKey) = exprItems.find(i => i.text == k.ref || i.alias.contains(k.ref))
      val preSort = p.orderBy.exists(k => named(k).isEmpty && (refs(k.expr) & dropped).nonEmpty)
      require(!preSort || (aggItems.isEmpty && !p.distinct),
        "ORDER BY keys must be returned items when RETURN aggregates or is DISTINCT")
      val itemTerms = p.items.flatMap(i => probeTerms(i.expr))
      val out =
        if (!preSort) {
          // the keys read the projected frame, so they resolve in the
          // next stage's scope
          val projected = withProbes(in, itemTerms)(proj)
          scoped(next)(withProbes(projected, p.orderBy.filter(named(_).isEmpty)
              .flatMap(k => probeTerms(k.expr)))(d =>
            page(d, p.orderBy.map(k => sortKey(named(k).fold(exprCol(k.expr))(
              i => col("`" + i.name + "`")), k.asc)), p.skip, p.limit, corrCols)(identity)))
        } else {
          val keys = p.orderBy.map(k => k.copy(expr = named(k).fold(rewrite(k.expr) {
            case EVar(a) if aliases.contains(a) => aliases(a)
          })(_.expr)))
          withProbes(in, itemTerms ++ keys.flatMap(k => probeTerms(k.expr)))(d =>
            page(d, keys.map(k => sortKey(exprCol(k.expr), k.asc)),
              p.skip, p.limit, corrCols)(proj))
        }
      (out, next)
    }

    /** WHERE compilation. Pattern subqueries become semi/anti joins on
      * the shared variables' uids; everything else is a Column filter.
      * NOT distributes into pattern subqueries (anti join), else negates
      * the Column. */
    private def applyPred(df: DataFrame, p: Pred, negated: Boolean): DataFrame = p match {
      case PNot(inner) => applyPred(df, inner, !negated)
      case PAnd(l, r) if !negated => applyPred(applyPred(df, l, false), r, false)
      case pe: PExistsChain =>
        // compile the pattern into its matched frame, then semi/anti
        // join the outer frame on its keys. A compiled chain's keys are
        // made DISTINCT first (its walks multiply per key); a hop probe
        // ships one row per edge
        val m = chainFrame(pe, df)
        val keys = m.keys(v => s"_ex$$$v")
        val probe = if (m.hop) keys else keys.distinct()
        df.join(probe, m.on(df, probe, v => s"_ex$$$v"),
          if (negated) "left_anti" else "left_semi")
      case other =>
        // pattern predicates nested under OR/XOR/NOT-of-OR positions
        // cannot be whole-frame semi/anti joins, and COUNT {}
        // subqueries are values, not joins — each subquery term becomes
        // a pre-joined flag / count column (one keyed left join per
        // distinct term) and the boolean expression compiles over them
        withProbes(df, probeTerms(other)) { d =>
          val c = predCol(other)
          d.filter(if (negated) !c else c)
        }
    }

    /** A pattern subquery's matched frame: one row per match, with the
      * `v$uid` key of each variable in `shared` (bound in the outer
      * frame, sorted), the `corr` key columns of the outer variables its
      * inner reads correlate on (see [[chainFrame]]), and the scope the
      * subquery reads in. `hop`: the frame is one hop's edges (the shape
      * rule of [[chainFrame]]), and `labels` are labels written on shared
      * variables that the outer row must carry (a compiled chain filters
      * them itself). */
    private case class Matched(df: DataFrame, shared: Seq[String], scope: Scope,
                               hop: Boolean = false, labels: Seq[(String, String)] = Nil,
                               corr: Seq[String] = Nil) {
      /** The key names: each shared variable, then each `corr` column. */
      def names: Seq[String] = shared ++ corr
      /** The key columns of the frame, key `k` named `name(k)`. */
      def keyCols(name: String => String): Seq[Column] =
        shared.map(v => col(ns(v, "uid")).as(name(v))) ++ corr.map(c => col("`" + c + "`").as(name(c)))
      /** The keys of every match. */
      def keys(name: String => String): DataFrame = df.select(keyCols(name): _*)
      /** The condition joining outer frame `d` to `probe`, whose key `k`
        * is `name(k)`; a `corr` key matches null to null. */
      def on(d: DataFrame, probe: DataFrame, name: String => String): Column =
        (shared.map(v => d(ns(v, "uid")) === probe(name(v))) ++
          corr.map(c => d("`" + c + "`") <=> probe("`" + name(c) + "`")) ++
          labels.map { case (v, l) => d(ns(v, "label")) === lit(l) }).reduce(_ && _)
    }

    /** Compile an EXISTS/COUNT/COLLECT subquery term `t`, read from
      * frame `outer`, into its [[Matched]] frame (inner WHERE applied),
      * the common front half of the semi-join, flag-column, count-column
      * and list-column compilations. EXISTS and COUNT read only the keys;
      * COLLECT's RETURN reads the match.
      *
      * An outer variable that the inner WHERE (or COLLECT's RETURN or
      * ORDER BY) reads but the pattern does not bind correlates, as in
      * Neo4j: the outer frame's distinct tuples of the shared keys and of
      * those variables are joined into the matched frame before the
      * WHERE, and each such variable's key (a node's uid, a
      * relationship's identity, a scalar's value) joins the key of the
      * probe.
      *
      * The one shape rule: when the caller reads only keys and the
      * subquery is one chain of one fixed hop with no relationship
      * variable and no inner WHERE, whose two endpoints are distinct
      * variables or anonymous, each either bound in the outer frame
      * without a property map or unbound with at most a label, the
      * matched frame is the hop's edge set ([[hopEdges]]) projected to
      * the bound endpoints' uids: no node join for an unbound unlabeled
      * endpoint, a join with the label's node uids for an unbound labeled
      * one, and a bound endpoint's label in the join condition. So a
      * dangling edge (its unbound endpoint is no node) matches the hop
      * probe but not a compiled chain. Every other subquery compiles its
      * chains as MATCH does. */
    private def chainFrame(t: Term, outer: DataFrame): Matched = {
      val (chains, wh, what) = t match {
        case PExistsChain(cs, w) => (cs, w, "EXISTS { }")
        case ECountChain(cs, w) => (cs, w, "COUNT { }")
        case ec: ECollect => (ec.chains, ec.where, "COLLECT { }")
        case other => sys.error(s"not a subquery term: $other")
      }
      val outerCols = outer.columns
      def bound(n: NodePat) = n.v.exists(v => outerCols.contains(ns(v, "uid")))
      // a bound endpoint's label is checked on the outer row's label
      def checkable(n: NodePat) =
        n.props.isEmpty && (!bound(n) || n.label.isEmpty || outerCols.contains(ns(n.v.get, "label")))
      chains match {
        case Seq(Chain(head, Seq((rel, tail))))
            if !t.isInstanceOf[ECollect] && wh.isEmpty && rel.v.isEmpty && rel.varLen.isEmpty &&
              (head.v.isEmpty || head.v != tail.v) && (bound(head) || bound(tail)) &&
              checkable(head) && checkable(tail) =>
          val (e, fromC, toC) = hopEdges(rel)
          val ends = Seq(head -> fromC, tail -> toC)
          val hop = ends.foldLeft(e) {
            case (d, (n, c)) if !bound(n) && n.label.isDefined =>
              d.join(nodes.filter(col("label") === n.label.get).select(col("uid").as(c)), c)
            case (d, _) => d
          }
          val keyed = ends.filter(x => bound(x._1)).sortBy(_._1.v)
          Matched(hop.select(keyed.map { case (n, c) => col(c).as(ns(n.v.get, "uid")) }: _*),
            keyed.flatMap(_._1.v), scope, hop = true,
            keyed.flatMap { case (n, _) => n.label.map(n.v.get -> _) })
        case _ =>
          var (cdf, cscope) = compileChain(chains.head)
          chains.tail.foreach { ch =>
            val (chDf, chScope) = compileChain(ch)
            val shared = sharedVars(cscope, chScope)
            require(shared.nonEmpty,
              s"disconnected $what patterns would be a cross product; share a variable")
            cdf = joinOnShared(cdf, chDf, shared, "inner", None)
            cscope ++= chScope
          }
          val shared = patternVars(cscope).toSeq
            .filter(v => outerCols.contains(ns(v, "uid"))).sorted
          require(shared.nonEmpty,
            s"$what must share at least one variable with the outer MATCH")
          val corrVars = (subqueryReads(t).flatMap(refs).toSet -- cscope.keySet).toSeq.sorted
            .filter(v => scope.get(v).exists(b => !b.isInstanceOf[Lambda] &&
              varCols(v, b, outer).exists(outerCols.contains)))
          val corr = corrVars.flatMap(v => scope(v) match {
            case Node => Seq(ns(v, "uid"))
            case Rel => Seq("src_uid", "rel_type", "dst_uid").map(ns(v, _))
            case b => varCols(v, b, outer)
          })
          if (corr.nonEmpty) {
            val sharedKeys = shared.map(ns(_, "uid"))
            val carried = sharedKeys ++ corrVars.flatMap(v => varCols(v, scope(v), outer))
            cdf = cdf.join(outer.select(carried.map(c => col("`" + c + "`")): _*)
              .dropDuplicates(sharedKeys ++ corr), sharedKeys)
          }
          val inner = scope ++ cscope
          wh.foreach(p => cdf = scoped(inner)(applyPred(cdf, p, negated = false)))
          Matched(cdf, shared, inner, corr = corr)
      }
    }

    /** Does the predicate CORRELATE variable sets `a` and `b` — a
      * subquery term whose variables span both (a pattern predicate
      * from one set to the other, an EXISTS {} chain touching both)?
      * Gates the disconnected-pattern relaxation:
      * `MATCH (w) MATCH (s) WHERE NOT (w)-[:R]->(s)` is the
      * set-difference idiom (inherently pairwise, same as Neo4j), so
      * the cross join is the semantics, not an accident. */
    private def predLinks(p: Pred, a: Set[String], b: Set[String]): Boolean =
      probeTerms(p).flatMap(subqueryVars).exists(vs =>
        (vs & a).nonEmpty && (vs & b).nonEmpty)

    /** The pre-joined column of each subquery term in scope — a boolean
      * flag for a pattern, an EXISTS {} chain or an explode-routed
      * quantifier, a match count for COUNT {}, a list for COLLECT {} —
      * set by [[withProbes]] while its body is evaluated. */
    private var probeCols: Map[Term, String] = Map.empty
    /** Numbers scratch columns, so nested scopes never reuse a name. */
    private var probeSeq = 0

    /** The one pre-join: left-join one scratch column per distinct term
      * of `terms` onto `df` ([[joinProbe]]), evaluate `body` over the
      * widened frame with those columns in [[probeCols]], and drop them
      * from its result. Explode-routed quantifiers join last — their
      * per-element bodies may read the other columns. The map is saved
      * and restored around the call, so a nested scope (an inner WHERE,
      * a quantifier body) adds to the enclosing terms, never erases
      * them. */
    private def withProbes(df: DataFrame, terms: Seq[Term])(
        body: DataFrame => DataFrame): DataFrame = {
      val saved = probeCols
      try {
        var wide = df
        val added = terms.distinct.sortBy(_.isInstanceOf[PQuant]).map { t =>
          probeSeq += 1
          val c = s"_probe$$$probeSeq"
          wide = joinProbe(wide, t, c)
          probeCols += t -> c
          c
        }
        val out = body(wide)
        val scratch = added.filter(out.columns.contains)
        if (scratch.isEmpty) out else out.drop(scratch: _*)
      } finally probeCols = saved
    }

    /** Left-join subquery term `t`'s column `c` onto `d`: one keyed join
      * against a probe of DISTINCT keys or one aggregate row per key,
      * never the match multiset, so `d` keeps its rows. A pattern
      * predicate or EXISTS {} flags the DISTINCT shared-key tuples of
      * its matched frame; COUNT {} counts that frame per shared-key
      * tuple — the MATCHES per binding, walk multiplicity included, zero
      * supplied by coalesce at the use site. COLLECT {} is one ordered
      * window collect over the compiled frame, the empty list for no
      * matches. A quantifier takes the explode route. */
    private def joinProbe(d: DataFrame, t: Term, c: String): DataFrame = t match {
      case pe: PExistsChain =>
        val m = chainFrame(pe, d)
        val probe = m.keys(v => s"$c$$$v").distinct().withColumn(c, lit(true))
        d.join(probe, m.on(d, probe, v => s"$c$$$v"), "left_outer")
          .drop(m.names.map(v => s"$c$$$v"): _*)
      case q: PQuant => joinLambdaQuantFlag(d, q, c)
      case cc: ECountChain =>
        val m = chainFrame(cc, d)
        val counts = m.df.groupBy(m.keyCols(v => s"$c$$$v"): _*).agg(count(lit(1)).as(c))
        d.join(counts, m.on(d, counts, v => s"$c$$$v"), "left_outer")
          .drop(m.names.map(v => s"$c$$$v"): _*)
      case ec: ECollect =>
        val m = chainFrame(ec, d)
        val (cdf, names, inner) = (m.df, m.names, m.scope)
        // the keys ride as `k$<name>`, apart from the sort (`s<j>`)
        // and value (`v`) columns whatever the variables are named;
        // the returned value rides as the FINAL sort key so tie
        // order (and the no-ORDER-BY default) is deterministic
        val keys = ec.orderBy :+ OrderKey(ec.ret, "", asc = true)
        val proj = scoped(inner)(withProbes(cdf, keys.flatMap(k => probeTerms(k.expr)))(
          _.select(m.keyCols(v => s"$c$$k$$$v") ++
            keys.zipWithIndex.map { case (k, j) =>
              exprCol(k.expr).as(s"$c$$s$j") } :+
            exprCol(ec.ret).as(s"$c$$v"): _*)))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(names.map(v => col(s"$c$$k$$$v")): _*)
          .orderBy(keys.zipWithIndex.map { case (k, j) =>
            sortKey(col(s"$c$$s$j"), k.asc) }: _*)
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.unboundedFollowing)
        var lists = proj
          .withColumn(c, collect_list(col(s"$c$$v")).over(w))
          .select(names.map(v => col(s"$c$$k$$$v")) :+ col(c): _*)
          .dropDuplicates(names.map(v => s"$c$$k$$$v"))
        ec.limit.foreach(n =>
          lists = lists.withColumn(c, slice(col(c), 1, n.toInt)))
        val dt = lists.schema(c).dataType
        // empty-list refill happens HERE, where the element type
        // is known (the use site cannot type an empty array)
        d.join(lists, m.on(d, lists, v => s"$c$$k$$$v"), "left_outer")
          .drop(names.map(v => s"$c$$k$$$v"): _*)
          .withColumn(c, coalesce(col("`" + c + "`"),
            array().cast(dt)))
      case other => sys.error(s"not a subquery term: $other")
    }

    /** Quantifier bodies that bind the LAMBDA variable inside a
      * pattern predicate or EXISTS {} chain — the last flag-column
      * hole: the codegen'd higher-order `filter` cannot run a join per
      * element, so the list EXPLODES (rowid-keyed, all outer columns
      * carried), each element masquerades as a bound node variable
      * (its uid/label columns synthesized from the element value),
      * [[withProbes]] pre-joins the [[lambdaBound]] terms against it,
      * the body evaluates per element over those columns, and the match
      * count re-aggregates by rowid —
      * the COLLECT {} machinery's shape. Scale: one explode + the
      * same DISTINCT probes outer patterns use + one keyed
      * count-aggregate; never per-row subqueries. */
    private def joinLambdaQuantFlag(d0: DataFrame, q: PQuant, flag: String): DataFrame = {
      val rid = s"$flag$$rid"; val szC = s"$flag$$sz"
      val elemC = s"$flag$$elem"; val cntC = s"$flag$$n"
      val d = d0.withColumn(rid, monotonically_increasing_id())
        .withColumn(szC, size(exprCol(q.list)))
      var ex = d.select(col("*"), explode(exprCol(q.list)).as(elemC))
      // the element's node identity: identity structs (collect(n),
      // nodes(p)) expose a …$uid/label field; plain string lists ARE
      // uid lists
      val elemT = ex.schema.apply(elemC).dataType
      def field(suffix: String): Option[Column] = elemT match {
        case st: StructType =>
          st.fieldNames.find(f => f == suffix || f.endsWith("$" + suffix))
            .map(f => col(elemC).getField(f))
        case _ if suffix == "uid" => Some(col(elemC))
        case _ => None
      }
      val elemUid = field("uid").getOrElse(sys.error(
        "a pattern predicate on a quantifier's lambda variable needs " +
          "a list of nodes (collect(n)/nodes(p)) or of uid strings"))
      ex = ex.withColumn(ns(q.v, "uid"), elemUid)
      field("label").foreach(c => ex = ex.withColumn(ns(q.v, "label"), c))
      // per-element body: the lambda variable resolves to the element
      // value, lambda-bound terms to their fresh columns, outer
      // columns ride along from the carried frame
      val counts = withProbes(ex, lambdaBound(q)) { ex2 =>
        ex2.filter(withLambda(q.v, q.list, col(elemC))(predCol(q.where)))
          .groupBy(rid).agg(count(lit(1)).as(cntC))
      }
      val n = coalesce(col(cntC), lit(0L))
      val bool = q.q match {
        case "all" => n === col(szC).cast("long")
        case "any" => n > 0L
        case "none" => n === 0L
        case "single" => n === 1L
        case other => sys.error(s"unknown quantifier $other")
      }
      // null list → null quantifier value (Cypher's ternary logic)
      d.join(counts, Seq(rid), "left_outer")
        .withColumn(flag,
          when(col(szC).isNull, lit(null).cast("boolean")).otherwise(bool))
        .drop(rid, szC, cntC)
    }

    private def predCol(p: Pred): Column = p match {
      case t: PExistsChain if probeCols.contains(t) =>
        coalesce(col(probeCols(t)), lit(false))
      case q: PQuant if probeCols.contains(q) => col(probeCols(q))
      case PCmp("=", l, r) => exprCol(l) === exprCol(r)
      case PCmp("<>", l, r) => exprCol(l) =!= exprCol(r)
      case PCmp("<", l, r) => exprCol(l) < exprCol(r)
      case PCmp("<=", l, r) => exprCol(l) <= exprCol(r)
      case PCmp(">", l, r) => exprCol(l) > exprCol(r)
      case PCmp(">=", l, r) => exprCol(l) >= exprCol(r)
      case PCmp(op, _, _) => sys.error(s"unknown comparison $op")
      case PIn(l, EList(items)) if items.forall(_.isInstanceOf[ELit]) =>
        exprCol(l).isin(items.map(_.asInstanceOf[ELit].v): _*)
      case PIn(l, EParam(n)) => params.getOrElse(n,
        sys.error(s"missing parameter $$${n}")) match {
        case xs: Seq[_] => exprCol(l).isin(xs: _*)
        case xs: Array[_] => exprCol(l).isin(xs.toSeq: _*)
        case other => sys.error(s"IN $$${n} needs a list parameter, got $other")
      }
      case PIn(l, r) => array_contains(exprCol(r), exprCol(l))
      case PStr("contains", l, r) => exprCol(l).contains(exprCol(r))
      case PStr("starts", l, r) => exprCol(l).startsWith(exprCol(r))
      case PStr("ends", l, r) => exprCol(l).endsWith(exprCol(r))
      case PStr("regex", l, r) => r match {
        // Cypher `=~` is a FULL match — anchor the pattern (Spark's
        // rlike is find-anywhere)
        case ELit(p: String) => exprCol(l).rlike("^(?:" + p + ")$")
        case _ => sys.error("=~ needs a string-literal pattern")
      }
      case PStr(op, _, _) => sys.error(s"unknown string predicate $op")
      case PIsNull(e, neg) =>
        val c = keyCol(e)
        if (neg) c.isNotNull else c.isNull
      case PBoolE(e) => exprCol(e) === lit(true)
      case PAnd(l, r) => predCol(l) && predCol(r)
      case POr(l, r) => predCol(l) || predCol(r)
      case PXor(l, r) => predCol(l) =!= predCol(r)
      case PNot(i) => !predCol(i)
      case PHasLabel(v, label) => family(v, "label") === label
      case PQuant(q, v, lst, w) =>
        // counts over the codegen'd `filter` higher-order function —
        // no explode, evaluated per row
        val lc = exprCol(lst)
        val matches = size(filter(lc, x => withLambda(v, lst, x)(predCol(w))))
        q match {
          case "all" => matches === size(lc)
          case "any" => matches > 0
          case "none" => matches === 0
          case "single" => matches === 1
          case other => sys.error(s"unknown quantifier $other")
        }
      case _: PExistsChain =>
        sys.error(s"pattern predicates and EXISTS { } $probedPositions")
    }

    /** Best-effort STATIC type of an expression — drives Cypher's
      * overloaded `+` (concatenation vs addition). None = unknown
      * (WITH-bound scalars, opaque params): both-unknown operands keep
      * numeric addition, so only provably-string/list operands change
      * the compiled form. Property types come from the node/edge
      * frame schemas, so a string property concatenates without any
      * annotation. */
    private def staticType(e: Expr): Option[DataType] = e match {
      case ELit(_: String) => Some(StringType)
      case ELit(_: Long) => Some(LongType)
      case ELit(_: Double) => Some(DoubleType)
      case ELit(_: Boolean) => Some(BooleanType)
      case EProp(v, k) =>
        val sch = scope.get(v).collect {
          case Node => nodes.schema
          case Rel => edges.schema
        }
        sch.flatMap(_.fields.find(_.name == k).map(_.dataType))
      case EList(xs) =>
        Some(ArrayType(xs.flatMap(staticType).headOption.getOrElse(StringType)))
      case ELabels0(_) | EType(_) => Some(StringType)
      case EFn(f, as) => f match {
        case "tolower" | "toupper" | "tostring" | "trim" | "ltrim" |
             "rtrim" | "replace" | "substring" | "left" | "right" =>
          Some(StringType)
        case "tointeger" | "size" | "length" | "abs" | "round" |
             "floor" | "ceil" => Some(LongType)
        case "tofloat" => Some(DoubleType)
        case "split" => Some(ArrayType(StringType))
        case "range" => Some(ArrayType(LongType))
        case "coalesce" => as.flatMap(staticType).headOption
        case "head" | "last" => as.headOption.flatMap(staticType).collect {
          case ArrayType(et, _) => et
        }
        case _ => None
      }
      case EArith("+", l, r) =>
        (staticType(l), staticType(r)) match {
          case (Some(a: ArrayType), _) => Some(a)
          case (_, Some(a: ArrayType)) => Some(a)
          case (a, b) if a.contains(StringType) || b.contains(StringType) =>
            Some(StringType)
          case (a, _) => a
        }
      case ESlice(b, _, _) => staticType(b)
      case EIndex(b, _) => staticType(b).collect { case ArrayType(et, _) => et }
      case ECase(_, whens, els) =>
        (whens.map(_._2) ++ els).flatMap(staticType).headOption
      case EPredVal(_) => Some(BooleanType)
      case _ => None
    }

    /** Where [[withProbes]] pre-joins subquery terms — named by each
      * refusal of a term it did not reach. */
    private val probedPositions = "compile in WHERE, RETURN/WITH items " +
      "and ORDER BY keys, UNWIND lists and COLLECT { } RETURN/ORDER BY, but " +
      "not on the variable of a list comprehension or reduce(), nor on the " +
      "lambda variable of a quantifier that reads the variable of an " +
      "enclosing quantifier, list comprehension or reduce()"

    /** Column `c` of variable `v`'s namespaced family, once `v` resolves. */
    private def family(v: String, c: String): Column = { resolve(v); col(ns(v, c)) }

    /** The column that is null exactly when `e` is: a node's or a
      * relationship's key (left-join padding; its identity struct is
      * never null), else `e`'s value. What IS NULL and count(e) read. */
    private def keyCol(e: Expr): Column = e match {
      case EVar(v) => resolve(v) match {
        case Node => col(ns(v, "uid"))
        case Rel => col(ns(v, "src_uid"))
        case _ => exprCol(e)
      }
      case _ => exprCol(e)
    }

    private def exprCol(e: Expr): Column = e match {
      case EVar(v) => resolve(v) match {
        case Lambda(c, _) => c
        case Scalar => col(v)
        case VarLenRel(_, hops) => col("`" + hops + "`") // the walk's hop-struct list
        case p: PathBinding => col("`" + p.strCol + "`") // the canonical path value
        // a bare node/rel variable projects its identity
        case Rel => struct(col(ns(v, "rel_type")), col(ns(v, "src_uid")), col(ns(v, "dst_uid")))
        case Node => struct(col(ns(v, "label")), col(ns(v, "uid")))
      }
      case e: ECountChain =>
        probeCols.get(e)
          .map(n => coalesce(col("`" + n + "`"), lit(0L)))
          .getOrElse(sys.error(
            s"COUNT { } subqueries $probedPositions"))
      case e: ECollect => // empty-list refill applied at the join site
        probeCols.get(e).map(n => col("`" + n + "`"))
          .getOrElse(sys.error(
            s"COLLECT { } subqueries $probedPositions"))
      case EPredVal(p) =>
        // a pattern/EXISTS value resolves through the flag columns the
        // enclosing projection pre-joined; the null refill keeps Neo4j
        // semantics (no match = false, not null)
        predCol(p)
      case EProp(v, k) => resolve(v) match {
        case Lambda(c, _) => c.getField(k) // struct element inside a lambda body
        case Node | Rel => col(ns(v, k))
        case _ => sys.error(s"$v.$k: only a node or relationship variable has properties")
      }
      case ELit(null) => lit(null)
      case ELit(x) => lit(x)
      case EParam(n) => params.getOrElse(n,
        sys.error(s"missing parameter $$${n}")) match {
        // list parameters surface as array columns (UNWIND $ids AS id)
        case xs: Seq[_] => array(xs.map(x => lit(x)): _*)
        case xs: Array[_] => array(xs.toIndexedSeq.map(x => lit(x)): _*)
        case v => lit(v)
      }
      case ELabels0(v) => family(v, "label")
      case EType(v) => family(v, "rel_type")
      case EList(items) => array(items.map(exprCol): _*)
      case EArith(op, l, r) =>
        val (lc, rc) = (exprCol(l), exprCol(r))
        op match {
          case "+" =>
            // Cypher's overloaded `+`: list ++ element/list, string
            // concatenation when EITHER operand is a string ('a'+1 =
            // 'a1'), numeric addition otherwise. Resolved statically
            // from literal/property/function types — both-unknown
            // operands (WITH scalars, params) stay numeric addition.
            (staticType(l), staticType(r)) match {
              case (Some(_: ArrayType), Some(_: ArrayType)) => concat(lc, rc)
              case (Some(_: ArrayType), _) => concat(lc, array(rc))
              case (_, Some(_: ArrayType)) => concat(array(lc), rc)
              case (a, b) if a.contains(StringType) || b.contains(StringType) =>
                concat(lc.cast("string"), rc.cast("string"))
              case _ => lc + rc
            }
          case "-" => lc - rc; case "*" => lc * rc
          case "/" => lc / rc; case "%" => lc % rc
          case "^" => pow(lc, rc) // Cypher ^ returns float, as pow does
          case other => sys.error(s"unknown arithmetic operator $other")
        }
      case EMapProj(v, keys) =>
        require(resolve(v) == Node, s"map projection needs a node variable, got '$v'")
        keys.foreach(k => require(nodeProps.contains(k),
          s"unknown property '$k' in map projection on '$v'"))
        // the selected subset of properties(v): string-valued map,
        // missing (null) properties kept as null entries (Neo4j map
        // projection semantics, vs properties()' SET-only map)
        map(keys.flatMap(k => Seq(lit(k), col(ns(v, k)).cast("string"))): _*)
      case EFn(fn, args) => fnCol(fn, args)
      case ESlice(b, lo, hi) =>
        // Cypher range slice: 0-based, end-exclusive, negatives from
        // the end, out-of-range clamped (Neo4j returns the overlap,
        // never an error) — normalize then one codegen'd slice()
        val bc = exprCol(b)
        val n = size(bc)
        def norm(e: Option[Expr], dflt: Column): Column = e.map { x =>
          val c = exprCol(x).cast("int")
          when(c < 0, c + n).otherwise(c)
        }.getOrElse(dflt)
        val loC = greatest(lit(0), norm(lo, lit(0)))
        val hiC = least(n, norm(hi, n))
        slice(bc, loC + 1, greatest(lit(0), hiC - loC))
      case EMapLit(entries) =>
        // Cypher maps are heterogeneous → struct, field per key
        struct(entries.map { case (k, v) => exprCol(v).as(k) }: _*)
      case EIndex(b, ix) =>
        // Cypher 0-based (element_at is 1-based); negative = from end,
        // which element_at already speaks
        val bc = exprCol(b)
        val ic = exprCol(ix).cast("int")
        when(ic >= 0, element_at(bc, ic + lit(1))).otherwise(element_at(bc, ic))
      case EComp(v, lst, wh, mp) =>
        val lc = exprCol(lst)
        val filtered = wh.fold(lc)(p =>
          filter(lc, x => withLambda(v, lst, x)(predCol(p))))
        mp.fold(filtered)(m =>
          transform(filtered, x => withLambda(v, lst, x)(exprCol(m))))
      case EReduce(accN, init, v, lst, body) =>
        aggregate(exprCol(lst), exprCol(init), (acc, x) =>
          scoped(scope + (accN -> Lambda(acc, strings = false)))(
            withLambda(v, lst, x)(exprCol(body))))
      case ECase(operand, whens, els) =>
        val branches = whens.map {
          case (Left(p), t) => (predCol(p), exprCol(t))
          case (Right(v), t) => (exprCol(operand.get) === exprCol(v), exprCol(t))
        }
        val chain = branches.tail.foldLeft(when(branches.head._1, branches.head._2)) {
          case (acc, (c, t)) => acc.when(c, t)
        }
        els.fold(chain)(e => chain.otherwise(exprCol(e)))
      case EAgg(_, _, _) => sys.error("aggregate in scalar position")
    }

    /** Scalar-function compilation — every entry is one codegen'd
      * Catalyst function. `substring` keeps Cypher's 0-based start;
      * `split` quotes its literal delimiter (Cypher splits literally,
      * Spark's split is regex); `size` is LIST size (string `size` is
      * deprecated Cypher — Neo4j 5 points at char_length). */
    private def fnCol(fn: String, args: Seq[Expr]): Column = {
      def a(i: Int): Column = exprCol(args(i))
      // string-valued property map, absent (null) props filtered out —
      // Neo4j's map of SET properties. Values cast to string for a
      // uniform map type (documented divergence for non-string columns)
      def propMap(v: String, props: Seq[String]): Column = map_filter(
        map(props.flatMap(p => Seq(lit(p), col(ns(v, p)).cast("string"))): _*),
        (_, pv) => pv.isNotNull)
      // the one variable argument of properties(), labels(), keys(),
      // id(), startNode()/endNode(), length(), nodes(), relationships()
      lazy val varArg: Option[(String, Binding)] = args match {
        case Seq(EVar(v)) => Some(v -> resolve(v))
        case _ => None
      }
      // nodes(p)/relationships(p) read a fixed-length path's pattern
      // variables, which a WITH that carries only the path drops
      def members(pv: String, vs: Seq[String], kind: Binding): Seq[String] = {
        require(vs.forall(scope.get(_).contains(kind)),
          s"nodes($pv) and relationships($pv) read the path's pattern " +
            "variables, which a WITH dropped; project them before the WITH")
        vs
      }
      def arity(ok: Boolean): Unit =
        require(ok, s"wrong number of arguments (${args.size}) for $fn()")
      fn match {
        case "coalesce" => arity(args.nonEmpty); coalesce(args.map(exprCol): _*)
        case "tolower" => arity(args.size == 1); lower(a(0))
        case "toupper" => arity(args.size == 1); upper(a(0))
        case "tostring" => arity(args.size == 1); a(0).cast("string")
        case "tointeger" => arity(args.size == 1); a(0).cast("long")
        case "tofloat" => arity(args.size == 1); a(0).cast("double")
        case "toboolean" => arity(args.size == 1); a(0).cast("boolean")
        case "exists" => args match {
          // legacy exists(n.prop) property-existence form
          case Seq(EProp(_, _)) => a(0).isNotNull
          case _ => sys.error(
            "exists() takes a property access (exists(n.prop)); " +
              "pattern existence is EXISTS { ... }")
        }
        case "substring" =>
          arity(args.size == 2 || args.size == 3)
          val len = if (args.size == 3) a(2) else lit(Int.MaxValue)
          a(0).substr(a(1) + lit(1), len)
        case "replace" => arity(args.size == 3); replace(a(0), a(1), a(2))
        case "split" =>
          arity(args.size == 2)
          args(1) match {
            case ELit(d: String) => split(a(0), java.util.regex.Pattern.quote(d))
            case _ => sys.error("split() needs a literal string delimiter")
          }
        case "head" => arity(args.size == 1); element_at(a(0), 1)
        case "last" => arity(args.size == 1); element_at(a(0), -1)
        case "trim" => arity(args.size == 1); trim(a(0))
        case "ltrim" => arity(args.size == 1); ltrim(a(0))
        case "rtrim" => arity(args.size == 1); rtrim(a(0))
        case "left" => arity(args.size == 2); call_function("left", a(0), a(1))
        case "right" => arity(args.size == 2); call_function("right", a(0), a(1))
        case "abs" => arity(args.size == 1); abs(a(0))
        case "round" =>
          arity(args.size == 1 || args.size == 2)
          if (args.size == 1) round(a(0))
          else args(1) match {
            case ELit(n: Long) => round(a(0), n.toInt)
            case _ => sys.error("round() scale must be an integer literal")
          }
        case "floor" => arity(args.size == 1); floor(a(0))
        case "ceil" => arity(args.size == 1); ceil(a(0))
        case "size" =>
          arity(args.size == 1)
          // list-size vs string-length by the argument's shape: props,
          // string literals and string-producing functions measure in
          // chars; everything list-shaped (literals, split/range/keys,
          // comprehensions, lifted collect() temps) in elements
          args(0) match {
            case EVar(v) => resolve(v) match {
              // a var-length relationship binding: size(r) is the walk's
              // hop count (the materialized depth column)
              case VarLenRel(len, _) => col(len)
              case Lambda(_, true) => length(a(0))
              case _ => size(a(0))
            }
            case EProp(_, _) | ELit(_: String) |
                 EFn("tolower" | "toupper" | "tostring" | "trim" | "ltrim" |
                     "rtrim" | "replace" | "substring" | "left" | "right", _) =>
              length(a(0))
            case _ => size(a(0))
          }
        case "range" =>
          arity(args.size == 2 || args.size == 3)
          // Cypher range() is inclusive on both ends, like sequence()
          if (args.size == 2) sequence(a(0).cast("long"), a(1).cast("long"))
          else sequence(a(0).cast("long"), a(1).cast("long"), a(2).cast("long"))
        case "properties" => varArg match {
          case Some((v, Node)) => propMap(v, nodeProps)
          // relationship property map: the non-identity edge columns
          case Some((v, Rel)) => if (edgeProps.isEmpty) map() else propMap(v, edgeProps)
          case _ => sys.error("properties() takes one bound node or relationship variable")
        }
        case "labels" => varArg match {
          // full label list — single-label engine, so a 1-element array
          case Some((v, Node)) => array(col(ns(v, "label")))
          case _ => sys.error("labels() takes one bound node variable")
        }
        case "reverse" => arity(args.size == 1); reverse(a(0))
        case "startnode" | "endnode" => varArg match {
          // the endpoint as a node entity — needs src_label/dst_label
          // on the edge frame (GraphStore edges carry them)
          case Some((v, Rel)) =>
            val side = if (fn == "startnode") "src" else "dst"
            struct(col(ns(v, s"${side}_label")).as("label"),
              col(ns(v, s"${side}_uid")).as("uid"))
          case _ => sys.error(s"$fn() takes one bound relationship variable")
        }
        case "keys" => varArg match {
          case Some((v, Node)) => map_keys(propMap(v, nodeProps))
          case _ => sys.error("keys() takes one bound node variable")
        }
        case "length" => varArg match {
          case Some((_, b: PathBinding)) => col(b.lenCol)
          case _ => sys.error(
            "length() takes a bound path variable (hop count), " +
              "e.g. MATCH p = (a)-[:T*1..2]->(b) RETURN length(p)")
        }
        case "id" => varArg match {
          case Some((v, Node)) => col(ns(v, "uid"))
          case _ => sys.error("id() takes one bound node variable (returns the string uid)")
        }
        case "nodes" => varArg match {
          // fixed-length path: the walk's nodes as (label, uid)
          // structs in order — pure projection, zero extra data cost
          case Some((pv, fp: FixedPath)) =>
            array(members(pv, fp.nodes, Node).map(v => struct(
              col(ns(v, "label")).as("label"),
              col(ns(v, "uid")).as("uid"))): _*)
          case Some((_, _: WalkPath)) => sys.error(
            "nodes(p) needs a fixed-length path; a var-length/" +
              "shortestPath walk exposes length(p) and the bound " +
              "relationship's hop list instead")
          case _ => sys.error("nodes() takes a named path variable")
        }
        case "relationships" => varArg match {
          case Some((pv, fp: FixedPath)) =>
            array(members(pv, fp.rels, Rel).map(rv => struct(
              col(ns(rv, "rel_type")).as("rel_type"),
              col(ns(rv, "src_uid")).as("src_uid"),
              col(ns(rv, "dst_uid")).as("dst_uid"))): _*)
          case Some((_, _: WalkPath)) => sys.error(
            "relationships(p) needs a fixed-length path; a var-length " +
              "walk's hops are the bound relationship variable's list")
          case _ => sys.error("relationships() takes a named path variable")
        }
        case other => sys.error(s"unsupported function $other()")
      }
    }

    /** Does the predicate reference any WITH/UNWIND scalar alias?
      * (Gates the correlated no-shared-variable MATCH join.) Lambda-bound
      * names shadow scalars; the over-approximation (not excluding
      * them) only ever widens the correlated path. */
    private def refsScalar(p: Pred): Boolean =
      subterms(p).exists { case EVar(v) => scope.get(v).contains(Scalar); case _ => false }

    /** Does the expression contain an aggregate anywhere? (Cypher
      * allows aggregates inside arithmetic/functions/CASE in RETURN
      * and WITH: `count(*) * 2`, `sum(x) / count(*)`.) */
    private def hasAgg(e: Expr): Boolean = subterms(e).exists(_.isInstanceOf[EAgg])

    /** `e` evaluated over ZERO input rows (Neo4j's empty-aggregation
      * results): count/sum → 0, collect → [], every other aggregate →
      * null; non-aggregate sub-terms are left intact so imported
      * scalars resolve in the outer scope. Used to refill zero-match
      * bindings after a correlated CALL{} left join. */
    private def zeroRowExpr(e: Expr): Expr = rewrite(e) {
      case EAgg("count" | "sum", _, _) => ELit(0L)
      case EAgg("collect", _, _) => EList(Nil)
      case _: EAgg => ELit(null)
    }

    /** Lift every nested EAgg out of `e`: each distinct aggregate gets
      * a temp column (structural dedup — `count(*) + count(*)` computes
      * once), and the rewritten expression references the temps as
      * scalar columns. The caller aggregates the temps, registers them
      * as scalar vars, and projects the rewritten expression on top —
      * one hash aggregate plus one projection, never two passes. */
    private def liftAggs(e: Expr,
                         acc: scala.collection.mutable.ArrayBuffer[(String, Expr)]): Expr =
      rewrite(e) { case a: EAgg =>
        EVar(acc.find(_._2 == a).map(_._1).getOrElse {
          val t = s"_agg${acc.size}$$tmp"
          acc += (t -> a)
          t
        })
      }

    private def aggCol(e: Expr): Column = e match {
      case EAgg("count", None, _) => count(lit(1))
      case EAgg("count", Some(EVar(v)), true) if resolve(v) == Rel =>
        // a relationship's identity is the full (src, type, dst) edge —
        // distinct on src alone would merge parallel edges. This is the
        // ENGINE's edge-identity contract (GraphStore.upsertEdges keys
        // on exactly this triple, so duplicate triples cannot exist
        // in a stored graph); it diverges from Neo4j only for ad-hoc
        // edge frames that carry duplicate (src, type, dst) rows, where
        // Neo4j's per-relationship element ids would count each copy
        countDistinct(col(ns(v, "src_uid")), col(ns(v, "rel_type")), col(ns(v, "dst_uid")))
      case EAgg("count", Some(a), true) => countDistinct(keyCol(a))
      case EAgg("count", Some(a), false) => count(keyCol(a))
      case EAgg("collect", Some(a), d) =>
        val c = exprCol(a)
        if (d) collect_set(c) else collect_list(c)
      case EAgg(fn, Some(a), _) =>
        val c = exprCol(a)
        fn match {
          case "sum" => sum(c); case "min" => min(c); case "max" => max(c)
          case "avg" => avg(c)
          case "stdev" => stddev_samp(c) // Neo4j stDev = sample (n-1)
          case "stdevp" => stddev_pop(c)
          case pc if pc.startsWith("percentilecont:") =>
            // linear interpolation — Spark's exact `percentile`
            call_function("percentile", c,
              lit(percentileFrac(pc.stripPrefix("percentilecont:"))))
          case pd if pd.startsWith("percentiledisc:") =>
            // Neo4j percentileDisc: the ceil(p*n)-th smallest VALUE
            // (1-based, nearest-rank). Materializes the group as a
            // sorted list — group-sized memory, the same cost Neo4j
            // pays; fine for analytics-sized groups, not for a
            // billion-row group (use percentileCont there).
            val p = percentileFrac(pd.stripPrefix("percentiledisc:"))
            val sorted = sort_array(collect_list(c))
            element_at(sorted,
              greatest(lit(1), ceil(size(sorted) * lit(p))).cast("int"))
          case other => sys.error(s"unsupported aggregate $other")
        }
      case other => sys.error(s"not an aggregate: $other")
    }

    /** Resolve a percentile fraction tag: a literal rides verbatim, a
      * `$name` resolves from the params map; both range-checked. */
    private def percentileFrac(tag: String): Double = {
      val p =
        if (tag.startsWith("$"))
          params.getOrElse(tag.drop(1),
            sys.error(s"missing parameter $tag")) match {
            case n: java.lang.Number => n.doubleValue()
            case o => sys.error(
              s"percentile fraction parameter $tag must be numeric, got $o")
          }
        else tag.toDouble
      require(p >= 0.0 && p <= 1.0, s"percentile fraction out of [0,1]: $p")
      p
    }

  }

  /** Parse + compile a read-only Cypher query over `(nodes, edges)`.
    * `params` substitutes `$name` references (the neo4j driver's params
    * dict, `neo4j_db.py:93-106`). */
  def run(cypher: String, nodes: DataFrame, edges: DataFrame,
          params: Map[String, Any] = Map.empty): DataFrame = {
    val (parts0, all) = new Parser(tokenize(cypher)).unionQuery()
    // DELIBERATE DIVERGENCE (like the walk-semantics note): a trailing
    // ORDER BY / SKIP / LIMIT after the last UNION part applies to the
    // WHOLE union here. The openCypher grammar attaches these
    // sub-clauses to the last single query's RETURN (branch-local);
    // Neo4j itself rejects most branch-local forms and tells users to
    // wrap the union in CALL {} to paginate it. This engine implements
    // the wrapped meaning directly — a trailing LIMIT caps the combined
    // result, which is what every observed user query intends —
    // instead of silently paginating one branch. Strip it from the
    // last part and re-apply post-union.
    val tail = parts0.last.ret
    val parts =
      if (parts0.size == 1) parts0
      else parts0.init :+ parts0.last.copy(ret = tail.copy(orderBy = Nil, skip = None, limit = None))
    // one Compiler per part: var-binding state is per-subquery scope
    val frames = parts.map(q => new Compiler(nodes, edges, params).compile(q))
    frames.tail.foreach { f =>
      require(java.util.Arrays.equals(
        f.columns.asInstanceOf[Array[AnyRef]],
        frames.head.columns.asInstanceOf[Array[AnyRef]]),
        "UNION parts must return the same column names: " +
          s"${frames.head.columns.mkString(", ")} vs ${f.columns.mkString(", ")}")
    }
    if (parts.size == 1) frames.head
    else {
      val u = frames.reduce(_ unionByName _)
      // the tail is a DISTINCT-like stage over the output names: its
      // keys must name output columns
      val keys = tail.orderBy.map { k =>
        require(u.columns.contains(k.ref),
          s"ORDER BY after UNION must use output column names (got '${k.ref}')")
        sortKey(col("`" + k.ref + "`"), k.asc)
      }
      page(if (all) u else u.distinct(), keys, tail.skip, tail.limit, Nil)(identity)
    }
  }

  /** Cypher's null ordering on a sort key: null sorts as the LARGEST
    * value, last ascending and first descending. */
  private def sortKey(c: Column, asc: Boolean): Column =
    if (asc) c.asc_nulls_last else c.desc_nulls_first

  /** The one paging step: sort `df` by `keys`, apply `proj`, then SKIP
    * and LIMIT (ORDER BY + LIMIT plans as one TakeOrderedAndProject
    * top-N). Inside a correlated CALL (`corrCols` non-empty) SKIP/LIMIT
    * page each import binding instead: one row_number window partitioned
    * by the correlation key (one window shuffle on the key, not one
    * query per binding), then `proj`. */
  private def page(df: DataFrame, keys: Seq[Column], skip: Option[Long],
                   limit: Option[Long], corrCols: Seq[String])(
      proj: DataFrame => DataFrame): DataFrame =
    if (corrCols.nonEmpty && (skip.isDefined || limit.isDefined)) {
      require(keys.nonEmpty, "correlated CALL: SKIP/LIMIT needs ORDER BY " +
        "(per-binding pagination must be deterministic)")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(corrCols.map(c => col("`" + c + "`")): _*).orderBy(keys: _*)
      val lo = skip.getOrElse(0L)
      proj(df.withColumn("_rn$", row_number().over(w))
        .filter(col("_rn$") > lit(lo) &&
          limit.fold(lit(true))(n => col("_rn$") <= lit(lo + n)))
        .drop("_rn$"))
    } else {
      val sorted = proj(if (keys.isEmpty) df else df.orderBy(keys: _*))
      val skipped = skip.fold(sorted)(n => sorted.offset(n.toInt))
      limit.fold(skipped)(n => skipped.limit(n.toInt))
    }
}
