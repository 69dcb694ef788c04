package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.graph.GraphStore

/** Graph-operator surface (SURVEY.md §1.4, §2.1 S4-S7, §2.3 J5/J6)
  * driven through the DuckDB gate: the driver corpus is recast as a
  * labeled property graph — Customer/Supplier/Nation/Region nodes,
  * IN_NATION/IN_REGION/PLACED edges — and each GraphStore op runs as a
  * checkable query.
  *
  * Scale notes: node/edge construction is pure projection (no shuffle);
  * expand joins shuffle on uid exactly once each; stats is one partial+
  * final hash agg; at 100 TB the node/edge tables would be bucketed by
  * uid so repeated traversal joins co-locate (SURVEY §4).
  */
object GraphQueries extends QueryPack {

  /** uid scheme for corpus entities: "<label>:<key>" — deterministic,
    * collision-free across labels, and SQL-reproducible (unlike hashes,
    * readable in failures). */
  private def uidOf(label: String, key: Column): Column =
    concat(lit(label), lit(":"), key.cast("string"))

  def nodes(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir).select(
      lit("Customer").as("label"), uidOf("Customer", col("c_custkey")).as("uid"),
      col("c_name").as("name"))
    val su = Tables.supplier(s, dir).select(
      lit("Supplier").as("label"), uidOf("Supplier", col("s_suppkey")).as("uid"),
      col("s_name").as("name"))
    val n = Tables.nation(s, dir).select(
      lit("Nation").as("label"), uidOf("Nation", col("n_nationkey")).as("uid"),
      col("n_name").as("name"))
    val r = Tables.region(s, dir).select(
      lit("Region").as("label"), uidOf("Region", col("r_regionkey")).as("uid"),
      col("r_name").as("name"))
    c.unionByName(su).unionByName(n).unionByName(r)
  }

  def edges(s: SparkSession, dir: String): DataFrame = {
    val cn = Tables.customer(s, dir).select(
      uidOf("Customer", col("c_custkey")).as("src_uid"),
      uidOf("Nation", col("c_nationkey")).as("dst_uid"),
      lit("IN_NATION").as("rel_type"),
      lit("Customer").as("src_label"), lit("Nation").as("dst_label"))
    val sn = Tables.supplier(s, dir).select(
      uidOf("Supplier", col("s_suppkey")).as("src_uid"),
      uidOf("Nation", col("s_nationkey")).as("dst_uid"),
      lit("IN_NATION").as("rel_type"),
      lit("Supplier").as("src_label"), lit("Nation").as("dst_label"))
    val nr = Tables.nation(s, dir).select(
      uidOf("Nation", col("n_nationkey")).as("src_uid"),
      uidOf("Region", col("n_regionkey")).as("dst_uid"),
      lit("IN_REGION").as("rel_type"),
      lit("Nation").as("src_label"), lit("Region").as("dst_label"))
    cn.unionByName(sn).unionByName(nr)
  }

  /** g01 — GraphStore.stats: per-label counts + totals in one job
    * (A1/A2 parity, `neo4j_db.py:122-148`). */
  def g01Stats(s: SparkSession, dir: String): DataFrame =
    GraphStore.stats(nodes(s, dir), edges(s, dir))
      .select(col("label"), col("cnt")).orderBy("label")

  /** g02 — GraphStore.expand: 1-hop pattern join (J5), restricted to
    * IN_REGION so the result is small and fully checkable. */
  def g02Expand(s: SparkSession, dir: String): DataFrame =
    GraphStore.expand(nodes(s, dir),
        edges(s, dir).filter(col("rel_type") === "IN_REGION"))
      .orderBy("src_name", "dst_name")

  /** g03 — GraphStore.orphans (J6): customers with no PLACED edge =
    * the reference's no-disposal-route anti-join. */
  def g03Orphans(s: SparkSession, dir: String): DataFrame = {
    val placed = Tables.orders(s, dir).select(
      uidOf("Customer", col("o_custkey")).as("src_uid"),
      uidOf("Order", col("o_orderkey")).as("dst_uid"),
      lit("PLACED").as("rel_type"),
      lit("Customer").as("src_label"), lit("Order").as("dst_label"))
    val customers = nodes(s, dir).filter(col("label") === "Customer")
    GraphStore.orphans(customers, placed, Seq("PLACED"))
      .select("uid", "name").orderBy("uid")
  }

  /** g04 — GraphStore.upsertNodes (J4/S4): the MERGE contract under the
    * oracle. Incoming = high-balance customers with uppercased name; a
    * non-empty incoming value wins, others survive. */
  def g04Upsert(s: SparkSession, dir: String): DataFrame = {
    val clock = lit("2026-01-01 00:00:00").cast("timestamp")
    val base = Tables.customer(s, dir).select(
      lit("Customer").as("label"), uidOf("Customer", col("c_custkey")).as("uid"),
      col("c_name").as("name"), col("c_mktsegment").as("segment"),
      clock.as("created_at"), clock.as("updated_at"))
    val incoming = Tables.customer(s, dir).filter(col("c_acctbal") > 5000).select(
      lit("Customer").as("label"), uidOf("Customer", col("c_custkey")).as("uid"),
      upper(col("c_name")).as("name"), lit("").as("segment"),
      clock.as("created_at"), clock.as("updated_at"))
    GraphStore.upsertNodes(base, incoming, clock, Seq("segment"))
      .select("uid", "name", "segment").orderBy("uid")
  }

  /** g05 — constraint validation (S3/§1.3): uid uniqueness per label. */
  def g05Validate(s: SparkSession, dir: String): DataFrame =
    GraphStore.validateUnique(nodes(s, dir))

  /** g06 — bounded 2-hop traversal (J7/J8 bounded case): customer →
    * nation → region, aggregated per region. Two chained joins; the
    * small hops are broadcast. */
  def g06TwoHop(s: SparkSession, dir: String): DataFrame = {
    val e = edges(s, dir)
    val hop1 = e.filter(col("rel_type") === "IN_NATION")
      .filter(col("src_label") === "Customer")
      .select(col("src_uid"), col("dst_uid").as("mid_uid"))
    val hop2 = broadcast(e.filter(col("rel_type") === "IN_REGION")
      .select(col("src_uid").as("mid_uid"), col("dst_uid").as("end_uid")))
    val regions = broadcast(nodes(s, dir).filter(col("label") === "Region")
      .select(col("uid").as("end_uid"), col("name").as("region_name")))
    hop1.join(hop2, "mid_uid").join(regions, "end_uid")
      .groupBy("region_name").agg(count(lit(1)).as("n_customers"))
      .orderBy("region_name")
  }

  /** g07 — unbounded traversal to fixpoint (J8): a decimal-decade
    * hierarchy over partkeys (partkey → partkey div 10, the AVV
    * "08 01 11* → 08 01 → 08" shape) walked by the iterative-join
    * engine; oracle = recursive CTE. Depth is unknown to the engine —
    * it iterates until the frontier empties.
    */
  def g07Fixpoint(s: SparkSession, dir: String): DataFrame = {
    val edges = Tables.part(s, dir).filter(col("p_partkey") >= 10)
      .select(col("p_partkey").as("src_uid"),
        expr("p_partkey div 10").as("dst_uid"))
    graft.graph.Traversal.reachFixpoint(edges)
      .filter(col("start") < 500)
      .select(col("start"), col("reached"), col("depth"))
      .orderBy("start", "reached", "depth")
  }

  /** g08 — connected components ([[graft.graph.ComponentsDF]]) over
    * the customer–nation–region forest. Stable long vids chosen so the
    * component representative (min vid) is the region key — making the
    * result exactly SQL-checkable. A vertex on no edge is its own
    * component.
    */
  def g08Components(s: SparkSession, dir: String): DataFrame = {
    val e1 = Tables.customer(s, dir).select(
      (col("c_custkey") + 1000).cast("long").as("src"),
      (col("c_nationkey") + 100).cast("long").as("dst"))
    val e2 = Tables.nation(s, dir).select(
      (col("n_nationkey") + 100).cast("long").as("src"),
      col("n_regionkey").cast("long").as("dst"))
    forestVertices(s, dir)
      .join(graft.graph.ComponentsDF.run(e1.unionByName(e2)), Seq("vid"), "left")
      .select(col("vid"), coalesce(col("component"), col("vid")).as("component"))
      .orderBy("vid")
  }

  /** Every vertex of the g08/g11 forest: regions at their key, nations
    * at 100 + key, customers at 1000 + key. */
  private def forestVertices(s: SparkSession, dir: String): DataFrame =
    Tables.region(s, dir).select(col("r_regionkey").cast("long").as("vid"))
      .unionByName(Tables.nation(s, dir).select((col("n_nationkey") + 100).cast("long").as("vid")))
      .unionByName(Tables.customer(s, dir).select((col("c_custkey") + 1000).cast("long").as("vid")))

  /** g09 — customers per region over a two-hop chain through an
    * anonymous nation node, compiled by [[graft.graph.CypherFrontend]]
    * to two uid equi-joins and one hash aggregate. */
  def g09DslTwohop(s: SparkSession, dir: String): DataFrame =
    graft.graph.CypherFrontend.run(
      """MATCH (c:Customer)-[:IN_NATION]->()-[:IN_REGION]->(r)
        |RETURN r.name AS region_name, count(*) AS cnt
        |ORDER BY cnt DESC, region_name""".stripMargin,
      nodes(s, dir), edges(s, dir))

  /** g10 — the anti-pattern `WHERE NOT (c)-[:PLACED]->()` over g03's
    * edge set: customers without a 1998 order, one left-anti join. */
  def g10DslOrphans(s: SparkSession, dir: String): DataFrame = {
    val placed = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= lit("1998-01-01").cast("timestamp")).select(
      uidOf("Customer", col("o_custkey")).as("src_uid"),
      uidOf("Order", col("o_orderkey")).as("dst_uid"),
      lit("PLACED").as("rel_type"),
      lit("Customer").as("src_label"), lit("Order").as("dst_label"))
    graft.graph.CypherFrontend.run(
      """MATCH (c:Customer) WHERE NOT (c)-[:PLACED]->()
        |RETURN c.uid AS uid, c.name AS name ORDER BY uid""".stripMargin,
      nodes(s, dir), placed)
  }

  /** g11 — hop distance per vertex to the nearest region landmark
    * (regions 0, nations 1, customers 2 in the forest, −1 when no
    * landmark is reachable) — checkably deterministic unlike
    * float-scored graph analytics. Distances follow edge direction
    * (customer→nation→region containment), so they are the depths of a
    * reach fixpoint over the REVERSED edges seeded from the landmarks.
    */
  def g11ShortestPaths(s: SparkSession, dir: String): DataFrame = {
    val landmarks = Tables.region(s, dir).select(col("r_regionkey").cast("long").as("src_uid"))
    val reversed = Tables.nation(s, dir).select(col("n_regionkey").cast("long").as("src_uid"),
        (col("n_nationkey") + 100).cast("long").as("dst_uid"))
      .unionByName(Tables.customer(s, dir).select(
        (col("c_nationkey") + 100).cast("long").as("src_uid"),
        (col("c_custkey") + 1000).cast("long").as("dst_uid")))
    val depths = graft.graph.Traversal.reachFixpoint(reversed, seed = Some(landmarks))
      .select(col("reached").as("vid"), col("depth"))
      .unionByName(landmarks.select(col("src_uid").as("vid"), lit(0).as("depth")))
      .groupBy("vid").agg(min(col("depth")).as("depth"))
    forestVertices(s, dir).join(depths, Seq("vid"), "left")
      .select(col("vid"), coalesce(col("depth"), lit(-1)).as("dist"))
      .orderBy("vid")
  }

  /** g12 — variable-length path over both containment types from
    * customers: depth 1 lands on nations, depth 2 on regions; grouped
    * by (`length(p)`, name). Unrolled joins in a single plan — no
    * driver-side iteration. */
  def g12DslVarLength(s: SparkSession, dir: String): DataFrame =
    graft.graph.CypherFrontend.run(
      """MATCH p = (c:Customer)-[:IN_NATION|IN_REGION*1..2]->(x)
        |RETURN length(p) AS hops, x.name AS name, count(*) AS cnt
        |ORDER BY hops, name""".stripMargin,
      nodes(s, dir), edges(s, dir))

  /** g13 — PageRank in integer fixed-point (damping 0.85, 3 iterations,
    * rank scaled by 1e9, floor division): float PageRank sums
    * contributions in shuffle order, so two runs — or two engines —
    * disagree in the last bit; integer arithmetic makes every iteration
    * bit-reproducible on any cluster size AND SQL-expressible, which is
    * what lets an oracle check a ranking algorithm exactly. Dangling
    * mass (regions) is dropped, the standard simplification. Per-node
    * form: pr' = 0.15·S + 0.85·Σ pr/outdeg over in-edges, S = 1e9.
    * Top 30 by (pr desc, uid) covers every node that accumulates mass
    * (nations + regions) plus leading leaf ties — deterministic because
    * (pr, uid) is a total order. 3 unrolled iterative joins in ONE
    * declarative plan; at 100 TB each iteration is an edge×rank shuffle
    * co-locatable by bucketing both tables on uid (SURVEY §4). */
  def g13PageRank(s: SparkSession, dir: String): DataFrame = {
    val scale = 1000000000L
    val e = edges(s, dir).select(col("src_uid").as("src"), col("dst_uid").as("dst"))
    val deg = e.groupBy("src").agg(count(lit(1)).as("outdeg"))
    // (src, dst, outdeg) is loop-invariant: stage it once instead of
    // re-deriving edges+degrees inside every iteration's plan arm (a
    // persisted/staged table at cluster scale, same idea as shingled())
    val weighted = e.join(deg, "src").localCheckpoint(true)
    // the node list feeds the init + one dangling-refill join per
    // iteration — materialize the 4-way union once (the g22/g24 move)
    val n = nodes(s, dir).select("uid").localCheckpoint(true)
    var pr = n.withColumn("pr", lit(scale))
    for (_ <- 1 to 3) {
      // contribution sums run in decimal(38,0): a long sum would wrap
      // silently once aggregate in-neighbor rank reaches ~1.1e17 (85·x
      // > 2^63) — a hub node on a 100 TB graph gets there; the DuckDB
      // oracle's HUGEINT sums don't wrap, so the overflow would also be
      // an engine divergence. `div` on the decimal returns the exact
      // integral part as a long again.
      val contribs = weighted
        .join(pr.withColumnRenamed("uid", "src"), "src")
        .select(col("dst").as("uid"), expr("pr div outdeg").as("c"))
        .groupBy("uid").agg(sum(col("c").cast("decimal(38,0)")).as("contrib"))
      pr = n.join(contribs, Seq("uid"), "left")
        .select(col("uid"),
          (lit(scale * 15 / 100) +
            expr("(85 * coalesce(contrib, CAST(0 AS DECIMAL(38,0)))) div 100")).as("pr"))
    }
    pr.orderBy(desc("pr"), asc("uid")).limit(30)
  }

  /** g14 — reverse traversal `(n:Nation)<-[:IN_NATION]-(m)`: the
    * backward hop, counting residents per label with path multiplicity
    * — the same plan shape as a forward hop, joined on dst_uid instead
    * of src_uid. */
  def g14DslReverse(s: SparkSession, dir: String): DataFrame =
    graft.graph.CypherFrontend.run(
      """MATCH (n:Nation)<-[:IN_NATION]-(m) WHERE n.name < 'NATION_2'
        |RETURN labels(m)[0] AS label, count(*) AS cnt ORDER BY label""".stripMargin,
      nodes(s, dir), edges(s, dir))

  /** g15 — out-degree distribution per label: the first profiling query
    * run on any new graph (degree histograms expose skew — the hot-key
    * hazard of every traversal join — before it bites). Left join keeps
    * zero-degree nodes (regions) in the histogram. */
  def g15DegreeHistogram(s: SparkSession, dir: String): DataFrame = {
    val deg = edges(s, dir).groupBy(col("src_uid").as("uid"))
      .agg(count(lit(1)).as("out_deg"))
    nodes(s, dir).join(deg, Seq("uid"), "left")
      .select(col("label"), coalesce(col("out_deg"), lit(0L)).as("out_deg"))
      .groupBy("label", "out_deg").agg(count(lit(1)).as("n_nodes"))
      .orderBy("label", "out_deg")
  }

  /** g16 — triangle counting (the classic cohesion metric) over a
    * derived co-occurrence graph: users clicking in the same 5-minute
    * bucket share an edge; a triangle is three users pairwise
    * connected. Canonical u1<u2 edges stop double counting, and the
    * enumeration is the standard two-path + closing-edge join — all
    * shuffles on user keys. At scale the bucket self-join is the skew
    * hazard (a hot bucket fans out quadratically — AQE skew-split
    * handles it), and the join order would follow degree (node-iterator
    * style) to bound fan-out; the per-user participation counts double
    * as the local clustering numerator. */
  /** Canonical edge list (u1 < u2, distinct) of the click
    * co-occurrence graph g16/g17/g18 share: users co-clicking in the
    * same 5-minute bucket. localCheckpointed because every consumer
    * reads it from several join legs — one materialization instead of
    * replaying scan + bucket self-join + distinct per leg (d17/q41
    * pattern). */
  /** Distinct (user, 5-minute-bucket) click incidence — the bipartite
    * table every co-occurrence query derives from (coClickPairs' edge
    * list, g20's lift marginals). One projection so the bucket width
    * and the click predicate live in one place. */
  private def clickBuckets(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .filter(col("event_type") === "click")
      .select(col("user_id"), expr("unix_timestamp(ts) div 300").as("b"))
      .distinct()

  /** Hot-bucket cap (SCALE.md §4b): every bucket self-join below is
    * quadratic in the hottest bucket's membership, and AQE skew-split
    * only re-partitions that output — it cannot shrink it. Before any
    * self-join, per-bucket membership is capped at
    * `graft.coclick.bucketCap` members (default 1000), chosen
    * deterministically (smallest xxhash64, user_id tiebreak) so re-runs
    * and the oracle agree. A celebrity bucket at 100× then contributes
    * at most cap·(cap−1)/2 pairs instead of ~10¹⁰; buckets at or under
    * the cap pass through untouched (the driver corpus maxes at 10
    * members/bucket, so the gates see identical results). The
    * row_number window hash-partitions on the same bucket key the
    * self-join shuffles on, so the exchange is reused — net extra cost
    * is one per-bucket sort, linear in bucket size.
    *
    * Oracle-validity contract: the g16–g26 DuckDB oracles model the
    * UNCAPPED graph, so the gates are exact iff every bucket is at or
    * under the cap (true for the driver corpus by two orders of
    * magnitude; HotBucketSpec pins the capped behavior separately).
    * Above the cap, the deterministically-subsampled co-click graph IS
    * the defined semantics — a documented estimator, not silent
    * truncation. */
  private[queries] def capBuckets(buckets: DataFrame, cap: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    buckets
      .withColumn("rn", row_number().over(
        Window.partitionBy("b").orderBy(xxhash64(col("user_id")), col("user_id"))))
      .filter(col("rn") <= cap)
      .drop("rn")
  }

  private[queries] def bucketCap(s: SparkSession): Int =
    s.conf.get("graft.coclick.bucketCap", "1000").toInt

  /** Canonical u1<u2 co-click pair list from a capped incidence table;
    * the shared pair kernel behind g16/g17/g18/g21/g25. Exposed on a
    * caller-supplied buckets DF so HotBucketSpec can drive it with a
    * synthetic celebrity bucket. */
  private[queries] def coClickPairsOf(buckets: DataFrame, cap: Int): DataFrame = {
    val c = capBuckets(buckets, cap)
    // LOUD SCALE GUARD (round-10 verdict #5): the pair multiset is
    // Σ m·(m−1)/2 over the capped buckets — the cap bounds TIME
    // quadratically, but the pair multiset still materializes and
    // checkpoints, and SCALE §7e measured its 218M-pair checkpoint
    // OOM a 12 GiB heap at 100× events (still spilling at 24 GiB).
    // One tiny pre-aggregate estimates the count and refuses loudly
    // ABOVE the budget, pointing at the bound-peeling route
    // (kCoreMembersBipartite / g21b) instead of dying mid-shuffle.
    // `graft.coclick.maxPairs` raises the budget deliberately.
    val maxPairs = buckets.sparkSession.conf
      .get("graft.coclick.maxPairs", "50000000").toLong
    val estRow = c.groupBy("b").agg(count(lit(1)).as("m"))
      .agg(sum(col("m") * (col("m") - 1) / 2).as("pairs"))
      .head()
    val est = if (estRow.isNullAt(0)) 0L else estRow.getDouble(0).toLong
    require(est <= maxPairs,
      s"co-click pair kernel would materialize ~$est pairs " +
        s"(budget $maxPairs): this pair-producer OOMs at that scale — " +
        "use the bound-peeling route (g21b / kCoreMembersBipartite) " +
        "for k-core membership, or raise graft.coclick.maxPairs " +
        "deliberately")
    c.select(col("b"), col("user_id").as("u1"))
      .join(c.select(col("b"), col("user_id").as("u2")), "b")
      .filter(col("u1") < col("u2"))
      .select("u1", "u2").distinct()
      .localCheckpoint(true)
  }

  private[queries] def coClickPairs(s: SparkSession, dir: String): DataFrame =
    coClickPairsOf(clickBuckets(s, dir), bucketCap(s))

  /** Per-node triangle counts over a canonical (u1<u2) edge list: the
    * two-path + closing-edge join on ordered vertices, each triangle
    * found exactly once, then exploded to its three corners. Shared by
    * g16 (the counts themselves) and g25 (clustering coefficient). */
  private def triangleCounts(pairs: DataFrame): DataFrame = {
    val tri = pairs.as("e1")
      .join(pairs.as("e2"),
        col("e2.u1") === col("e1.u1") && col("e1.u2") < col("e2.u2"))
      .join(pairs.as("e3"),
        col("e3.u1") === col("e1.u2") && col("e3.u2") === col("e2.u2"))
      .select(col("e1.u1").as("a"), col("e1.u2").as("bb"), col("e2.u2").as("cc"))
    tri.select(explode(array(col("a"), col("bb"), col("cc"))).as("user_id"))
      .groupBy("user_id").agg(count(lit(1)).as("tri_cnt"))
  }

  def g16Triangles(s: SparkSession, dir: String): DataFrame =
    triangleCounts(coClickPairs(s, dir)).orderBy("user_id")

  /** g25 — local clustering coefficient: for every node of degree ≥ 2,
    * 2·tri / (deg·(deg−1)) — the fraction of its neighbor pairs that
    * are themselves connected, the standard local-density feature for
    * community/bot detection. Reuses g16's one-per-triangle join (the
    * scalable formulation — never materializing per-node neighbor
    * pairs, which blow up quadratically on hubs) plus g17's degree
    * view; nodes in no triangle coalesce to 0. Integer 2·tri and
    * deg·(deg−1) divide once as doubles and round, so both engines
    * agree bit-for-bit. Both the degree and triangle legs derive from
    * the SAME capped pair graph (coClickPairs), so the coefficient is
    * internally consistent at any cap — it is the exact lcc of the
    * capped graph, which equals the true graph's below the cap (see
    * capBuckets' oracle-validity contract). */
  def g25ClusteringCoeff(s: SparkSession, dir: String): DataFrame = {
    val pairs = coClickPairs(s, dir)
    val (_, deg) = adjAndDeg(pairs)
    deg.filter(col("deg") >= 2)
      .join(triangleCounts(pairs), col("u1") === col("user_id"), "left")
      .select(col("u1").as("user_id"), col("deg"),
        coalesce(col("tri_cnt"), lit(0L)).as("tri_cnt"),
        round((coalesce(col("tri_cnt"), lit(0L)) * 2) /
          (col("deg") * (col("deg") - 1)).cast("double"), 4).as("lcc"))
      .orderBy("user_id")
  }

  /** g17 — neighbor-set Jaccard (link prediction / node similarity)
    * over g16's click co-occurrence graph: for user pairs sharing ≥2
    * common neighbors, |N(a)∩N(b)| / |N(a)∪N(b)|. The common-neighbor
    * count is ONE equi-join on the neighbor key (each 2-path counted at
    * its midpoint) — never a neighbor-set cross product — and degrees
    * join in as two aggregate sides; inclusion-exclusion gives the
    * union size. Integer ratio → engine-exact after round. This is the
    * same shuffle shape as d18's shingle overlap, on graph adjacency. */
  /** Directed adjacency (both orientations of the canonical edges) and
    * per-node degrees — the two derived views every neighborhood
    * similarity query (g17/g18) reads. */
  private def adjAndDeg(pairs: DataFrame): (DataFrame, DataFrame) = {
    val adj = pairs.unionByName(
      pairs.select(col("u2").as("u1"), col("u1").as("u2")))
    (adj, adj.groupBy("u1").agg(count(lit(1)).as("deg")))
  }

  def g17NeighborJaccard(s: SparkSession, dir: String): DataFrame = {
    val pairs = coClickPairs(s, dir)
    val (adj, deg) = adjAndDeg(pairs)
    val common = adj.select(col("u1").as("a"), col("u2").as("n"))
      .join(adj.select(col("u1").as("bb"), col("u2").as("n")), "n")
      .filter(col("a") < col("bb"))
      .groupBy("a", "bb").agg(count(lit(1)).as("common"))
      .filter(col("common") >= 2)
    common
      .join(deg.select(col("u1").as("a"), col("deg").as("deg_a")), "a")
      .join(deg.select(col("u1").as("bb"), col("deg").as("deg_b")), "bb")
      .select(col("a").as("user_a"), col("bb").as("user_b"), col("common"),
        round(col("common") /
          (col("deg_a") + col("deg_b") - col("common")).cast("double"), 4)
          .as("jaccard"))
      .orderBy("user_a", "user_b")
  }

  /** g18 — Adamic-Adar link prediction over the same co-click graph:
    * candidate pairs scored by Σ 1/ln(deg(n)) over common neighbors n —
    * rare shared neighbors count more than hubs, the classic
    * degree-discounted variant of g17's Jaccard. Same midpoint
    * equi-join shape (each 2-path counted once at its shared neighbor,
    * never a neighbor-set cross product), with the neighbor's degree
    * joined in as an aggregate dimension BEFORE the pair group-by, so
    * the discount weight rides the same shuffle as the count. A common
    * neighbor has degree ≥ 2 by construction, so ln never hits zero.
    * Determinism (the g17/m05 integer-ratio law): a raw double
    * Σ 1/ln(deg) is order-dependent — partition order could flap the
    * 4th decimal and with it top-20 membership. Each term is therefore
    * FIXED-POINT: round(1e6/ln(deg)) as a BIGINT micro-unit, so the
    * sum is exact integer math in any order and the ORDER BY + LIMIT
    * ranks on the exact micro sum; aa_score is the micro sum scaled
    * back, identical in both engines because int/int division is
    * correctly rounded. Only ln(deg) itself touches libm, on a handful
    * of distinct small-integer degrees.
    */
  def g18AdamicAdar(s: SparkSession, dir: String): DataFrame = {
    val pairs = coClickPairs(s, dir)
    val (adj, deg) = adjAndDeg(pairs)
    val termMicro =
      round(lit(1000000.0) / log(col("deg_n").cast("double"))).cast("long")
    adj.select(col("u1").as("a"), col("u2").as("n"))
      .join(adj.select(col("u1").as("bb"), col("u2").as("n")), "n")
      .filter(col("a") < col("bb"))
      .join(deg.select(col("u1").as("n"), col("deg").as("deg_n")), "n")
      .groupBy("a", "bb")
      .agg(count(lit(1)).as("common"),
        sum(termMicro).as("aa_micro"))
      .filter(col("common") >= 2)
      .select(col("a").as("user_a"), col("bb").as("user_b"), col("common"),
        round(col("aa_micro").cast("double") / lit(1000000.0), 4)
          .as("aa_score"), col("aa_micro"))
      .orderBy(desc("aa_micro"), col("user_a"), col("user_b"))
      .limit(20)
      .drop("aa_micro")
  }

  /** g19 — `OPTIONAL MATCH (n)-[:IN_NATION]->(m)`: every node
    * survives the hop; per label, how many rows matched and how many
    * distinct nations they reach —
    * Customer/Supplier rows match (each has exactly one nation edge),
    * Nation/Region rows come back null-padded. The left join broadcasts
    * the edge and dimension sides exactly like the required-match hop.
    */
  def g19DslOptional(s: SparkSession, dir: String): DataFrame =
    graft.graph.CypherFrontend.run(
      """MATCH (n) OPTIONAL MATCH (n)-[:IN_NATION]->(m)
        |RETURN labels(n)[0] AS label, count(*) AS n_rows,
        |       count(m) AS n_matched, count(DISTINCT m.name) AS n_nations
        |ORDER BY label""".stripMargin,
      nodes(s, dir), edges(s, dir))

  /** g20 — co-occurrence lift (PMI's ratio form) over the click
    * bipartite graph: for user pairs sharing ≥2 five-minute buckets,
    * lift = P(a,b) / (P(a)·P(b)) over the bucket universe — the
    * association score that separates "both users are everywhere" from
    * "these two actually move together" (g17/g18 score neighborhoods;
    * this scores the CO-OCCURRENCE itself). All counts are integers
    * from two aggregates of the same distinct (bucket, user) table —
    * one equi-join on the bucket key for the pair counts, two
    * broadcast-sized marginal joins — so the ratio is engine-exact
    * after round. */
  def g20CooccurrenceLift(s: SparkSession, dir: String): DataFrame = {
    val c = clickBuckets(s, dir)
      .localCheckpoint(true) // pair join + marginals + universe reuse it
    val universe = c.agg(countDistinct("b").as("n_buckets"))
    val marg = c.groupBy("user_id").agg(count(lit(1)).as("n_u"))
    // marginals/universe stay on the FULL incidence (they are linear);
    // only the quadratic pair-generation leg gets the hot-bucket cap.
    // Deliberate asymmetry: above the cap, n_ab is subsampled while
    // n_a/n_b stay exact, so a celebrity pair's lift is a DOWNWARD-
    // biased estimate — conservative for association mining (capping
    // the marginals too would instead inflate P(a)·P(b) accuracy loss
    // into every pair that touches a hot user). Below the cap (all
    // gated data) the estimator is exact; see capBuckets' contract.
    val cc = capBuckets(c, bucketCap(s))
    val pairCnt = cc.select(col("b"), col("user_id").as("u1"))
      .join(cc.select(col("b"), col("user_id").as("u2")), "b")
      .filter(col("u1") < col("u2"))
      .groupBy("u1", "u2").agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= 2)
    pairCnt
      .join(marg.select(col("user_id").as("u1"), col("n_u").as("n_a")), "u1")
      .join(marg.select(col("user_id").as("u2"), col("n_u").as("n_b")), "u2")
      .crossJoin(broadcast(universe))
      .select(col("u1").as("user_a"), col("u2").as("user_b"), col("n_ab"),
        round(col("n_ab") * col("n_buckets") /
          (col("n_a") * col("n_b")).cast("double"), 4).as("lift"))
      .orderBy("user_a", "user_b")
  }

  /** Bounded k-core peeling: drop nodes of induced degree < k, re-induce
    * the edge set, repeat `iters` times. Split from g21 so the spec can
    * assert convergence (one more round changes nothing at test scale —
    * making the bounded unroll THE fixpoint, the same contract as g13's
    * fixed-iteration PageRank). Each round is one degree aggregate plus
    * two semi-join-shaped inner joins against the checkpointed survivor
    * set; lineage resets per round so the plan never grows with the
    * iteration count. */
  private[queries] def kCoreEdges(pairs: DataFrame, k: Int, iters: Int): DataFrame = {
    var edges = pairs
    var prevAlive = -1L
    var converged = false
    var it = 0
    while (it < iters && !converged) {
      // Early convergence exit: the survivor set only ever SHRINKS, so
      // an unchanged count means an unchanged set and every remaining
      // round is the identity — the bounded unroll's result at round
      // `iters` equals the fixpoint already reached (the spec pins
      // convergence within `iters`). The count rides the checkpoint job
      // as an observed metric. On equality `edges` stands from the
      // previous round, built from the SAME survivor set.
      val (alive, n) = graft.core.ObservedCheckpoint.count(
        edges.select(col("u1").as("u"))
          .unionAll(edges.select(col("u2").as("u")))
          .groupBy("u").agg(count(lit(1)).as("deg"))
          .filter(col("deg") >= k).select("u"))
      if (n == prevAlive) converged = true
      else {
        prevAlive = n
        edges = pairs.join(alive.select(col("u").as("u1")), "u1")
          .join(alive.select(col("u").as("u2")), "u2")
          .select("u1", "u2")
        it += 1
      }
    }
    edges
  }

  /** Exact k-core peeling WITHOUT the pair-producer (round-9 verdict
    * task 4): per round, a node's projected-graph degree (distinct
    * co-click partners among survivors) is resolved through two
    * O(E)-computable BOUNDS on the union-of-cliques structure —
    * each bucket is a clique, so
    *
    *   max_b(m_b − 1)  ≤  deg(u)  ≤  Σ_b(m_b − 1)
    *
    * (m_b = surviving members of bucket b ∋ u). Nodes with the upper
    * bound below k are safely dropped; nodes with the lower bound at
    * or above k certainly stay — and that covers EVERY member of a
    * hot bucket, so celebrity buckets never enumerate pairs at all.
    * Only the uncertain sliver (sum ≥ k but every bucket ≤ k members
    * — by definition ALL its buckets are small) gets an exact
    * distinct-partner count, whose join output is ≤ k rows per
    * incidence row. Total per round: three keyed aggregates + one
    * small-bucket join = O(k·E), versus the pair list's Σ m_b²
    * (10¹⁰-shaped for a 100k-member bucket). Re-measured in SCALE
    * §7d; no `bucketCap` knob anywhere. Survivor sets are provably
    * identical to pair-based peeling round for round (the bounds are
    * exact implications, the uncertain arm is exact counting). */
  private[queries] def kCoreMembersBipartite(incidence0: DataFrame, k: Int,
                                             iters: Int): DataFrame = {
    var (inc, prevRows) = graft.core.ObservedCheckpoint.count(incidence0) // distinct (user_id, b)
    var converged = false
    var it = 0
    while (it < iters && !converged) {
      val m = inc.groupBy("b").agg(count(lit(1)).as("m"))
      val bounds = inc.join(m, "b")
        .groupBy("user_id")
        .agg(sum(col("m") - 1).as("sumB"), max(col("m") - 1).as("maxB"))
        .localCheckpoint(true) // feeds the certain AND uncertain arms
      val certain = bounds.filter(col("maxB") >= k).select("user_id")
      val uncertain = bounds.filter(col("maxB") < k && col("sumB") >= k)
        .select("user_id")
      val exact = inc.join(uncertain, "user_id") // every bucket here ≤ k members
        .join(inc.select(col("b"), col("user_id").as("v")), "b")
        .filter(col("v") =!= col("user_id"))
        .groupBy("user_id").agg(countDistinct("v").as("deg"))
        .filter(col("deg") >= k).select("user_id")
      // `alive` is consumed exactly once (the inc re-induction join),
      // so it needs no checkpoint of its own — both its arms read the
      // checkpointed `bounds`/`inc`, and the next line's checkpoint
      // resets lineage for the whole round (one materialization job per
      // round instead of three: alive ckpt + inc ckpt + count).
      val alive = certain.unionByName(exact)
      // Early convergence exit (same argument as kCoreEdges): the
      // incidence only SHRINKS round over round, so an unchanged row
      // count means an unchanged table and every remaining round is the
      // identity; the count rides the checkpoint job as an observed
      // metric.
      val (inc2, rows) = graft.core.ObservedCheckpoint.count(inc.join(alive, "user_id"))
      inc = inc2
      if (rows == prevRows) converged = true
      else { prevRows = rows; it += 1 }
    }
    inc
  }

  /** g21b — EXACT UNCAPPED k-core membership via
    * [[kCoreMembersBipartite]]: which users survive k=2 peeling of the
    * co-click graph (the set a training pipeline routes to per-node
    * scoring). Output is membership, not degree — the final
    * isolated-survivor filter (deg ≥ 1 ⟺ Σ(m_b−1) ≥ 1) is also
    * bound-exact, so NO stage of this query enumerates within-bucket
    * pairs and the whole plan is ~linear in the incidence. The oracle
    * is the same unrolled peeling CTE as g21's, final select reduced
    * to the distinct survivor list — i.e. the UNCAPPED semantics g21's
    * oracle already models, now exact at any bucket size. */
  def g21bKCoreBipartite(s: SparkSession, dir: String): DataFrame = {
    val core = kCoreMembersBipartite(clickBuckets(s, dir), k = 2,
      iters = kCoreIters)
    val m = core.groupBy("b").agg(count(lit(1)).as("m"))
    core.join(m, "b")
      .groupBy("user_id").agg(sum(col("m") - 1).as("sumB"))
      .filter(col("sumB") >= 1)
      .select("user_id").orderBy("user_id")
  }

  /** g21 — k-core decomposition (k=2, the densest-subgraph peeling every
    * community/spam pipeline runs before expensive per-node scoring):
    * iteratively strip nodes with fewer than k neighbors in the induced
    * co-click subgraph until stable, then report each survivor's
    * in-core degree. Deterministic fixed-iteration form (8 rounds,
    * convergence pinned by KCoreSpec) so the DuckDB oracle is the same
    * peeling unrolled — the g13 technique for iterative algorithms the
    * oracle can't express as one query. */
  def g21KCore(s: SparkSession, dir: String): DataFrame =
    kCoreEdges(coClickPairs(s, dir), k = 2, iters = kCoreIters)
      .select(explode(array(col("u1"), col("u2"))).as("user_id"))
      .groupBy("user_id").agg(count(lit(1)).as("core_deg"))
      .orderBy("user_id")

  private val kCoreIters = 8

  /** The same bounded peeling unrolled as a DuckDB CTE chain — a{i} is
    * the survivor set after round i, e{i} the edges induced on a{i-1}.
    * Every stage is AS MATERIALIZED: DuckDB inlines plain CTEs, and
    * since each a{i} expands e{i} twice and each e{i} expands a{i-1}
    * twice, inlining makes the unroll EXPONENTIAL in `iters` (it
    * exhausted file handles re-opening the parquet scan before it ever
    * finished planning). Materialization keeps it linear. */
  private def kCoreOracle(k: Int, iters: Int,
                          membersOnly: Boolean = false): String = {
    val sb = new StringBuilder(
      """WITH c AS MATERIALIZED (
        |  SELECT DISTINCT user_id, CAST(floor(epoch(ts)/300) AS BIGINT) AS b
        |  FROM events WHERE event_type = 'click'),
        |p AS MATERIALIZED (
        |  SELECT DISTINCT a.user_id AS u1, b2.user_id AS u2
        |  FROM c a JOIN c b2 USING (b) WHERE a.user_id < b2.user_id),
        |a0 AS MATERIALIZED (SELECT u1 AS u FROM p UNION SELECT u2 FROM p)""".stripMargin)
    for (i <- 1 to iters) {
      sb ++= s""",
        |e$i AS MATERIALIZED (SELECT u1, u2 FROM p
        |  WHERE u1 IN (SELECT u FROM a${i - 1})
        |    AND u2 IN (SELECT u FROM a${i - 1})),
        |a$i AS MATERIALIZED (SELECT u FROM (
        |    SELECT u, count(*) AS deg FROM (
        |      SELECT u1 AS u FROM e$i UNION ALL SELECT u2 FROM e$i) GROUP BY u)
        |  WHERE deg >= $k)""".stripMargin
    }
    sb ++= s""",
      |ef AS MATERIALIZED (SELECT u1, u2 FROM p
      |  WHERE u1 IN (SELECT u FROM a$iters)
      |    AND u2 IN (SELECT u FROM a$iters))
      |""".stripMargin
    sb ++= (if (membersOnly)
      """SELECT DISTINCT user_id FROM (
        |  SELECT u1 AS user_id FROM ef UNION ALL SELECT u2 FROM ef)
        |ORDER BY user_id""".stripMargin
    else
      """SELECT user_id, CAST(count(*) AS BIGINT) AS core_deg FROM (
        |  SELECT u1 AS user_id FROM ef UNION ALL SELECT u2 FROM ef)
        |GROUP BY user_id ORDER BY user_id""".stripMargin)
    sb.toString
  }

  /** g22 — synchronous label propagation (community detection), made
    * deterministic: every node starts labeled with its own uid; each
    * round every node adopts the most frequent label among its
    * undirected neighbors, ties broken by MIN label (classic async LPA
    * breaks ties randomly and is irreproducible — useless for a gated
    * engine). Three unrolled rounds, then community sizes.
    *
    * Scale: each round is one shuffle-join (edges × labels on dst) +
    * one (node, label) count agg + one per-node top-1 window — all
    * keyed on uid, so a uid-bucketed edge table co-locates every
    * round. The undirected edge table is staged once (localCheckpoint,
    * same discipline as g13's weighted-edge table), and each round's
    * label frame enters the next round's plan exactly once (the
    * isolated-node fallback coalesces to the uid column, not to the
    * previous label frame), so the unrolled plan grows LINEARLY in
    * rounds. Neighbor counts, not neighbor lists, cross the wire: the
    * window top-1 reads (node, label, cnt), never an adjacency list. */
  def g22LabelPropagation(s: SparkSession, dir: String): DataFrame = {
    val e = edges(s, dir).select(col("src_uid").as("src"), col("dst_uid").as("dst"))
    val und = e.unionAll(e.select(col("dst").as("src"), col("src").as("dst")))
      .localCheckpoint(true)
    // the node list feeds the init + one isolated-node join per round —
    // materialize the 4-way union once, like the edge list
    val n = nodes(s, dir).select("uid").localCheckpoint(true)
    var lab = n.select(col("uid"), col("uid").as("label"))
    for (_ <- 1 to 3) {
      val counts = und
        .join(lab.select(col("uid").as("dst"), col("label").as("nl")), "dst")
        .groupBy("src", "nl").agg(count(lit(1)).as("cnt"))
      // argmax by (cnt desc, nl asc) as min(struct(-cnt, nl)) — the
      // same row the old row_number window picked, but a hash aggregate
      // with map-side partials instead of a per-group sort (guide §2.3)
      val pick = counts
        .groupBy("src").agg(min(struct((-col("cnt")).as("nc"),
          col("nl").as("nl"))).as("m"))
        .select(col("src").as("uid"), col("m.nl").as("newlab"))
      // isolated nodes keep their initial self-label (= uid), so the
      // left-join + coalesce to uid is exact, and `lab` appears in the
      // next round's plan exactly once
      // per-round materialization: label state is |V| rows of two
      // columns, and cutting lineage here keeps round k's stage graph
      // the size of ONE round instead of k chained rounds (g13/g21 law)
      lab = n.join(pick, Seq("uid"), "left")
        .select(col("uid"), coalesce(col("newlab"), col("uid")).as("label"))
        .localCheckpoint(true)
    }
    lab.groupBy("label").agg(count(lit(1)).as("size"))
      .orderBy(desc("size"), asc("label"))
  }

  private def lpaOracle(rounds: Int): String = {
    val sb = new StringBuilder(
      """WITH nodes AS MATERIALIZED (
        |  SELECT 'Customer:' || c_custkey AS uid FROM customer
        |  UNION ALL SELECT 'Supplier:' || s_suppkey FROM supplier
        |  UNION ALL SELECT 'Nation:' || n_nationkey FROM nation
        |  UNION ALL SELECT 'Region:' || r_regionkey FROM region),
        |dedges AS MATERIALIZED (
        |  SELECT 'Customer:' || c_custkey AS src, 'Nation:' || c_nationkey AS dst FROM customer
        |  UNION ALL SELECT 'Supplier:' || s_suppkey, 'Nation:' || s_nationkey FROM supplier
        |  UNION ALL SELECT 'Nation:' || n_nationkey, 'Region:' || n_regionkey FROM nation),
        |und AS MATERIALIZED (
        |  SELECT src, dst FROM dedges UNION ALL SELECT dst, src FROM dedges),
        |l0 AS MATERIALIZED (SELECT uid, uid AS label FROM nodes)""".stripMargin)
    for (i <- 1 to rounds) {
      sb ++= s""",
        |c$i AS MATERIALIZED (
        |  SELECT u.src, l.label, count(*) AS cnt
        |  FROM und u JOIN l${i - 1} l ON u.dst = l.uid GROUP BY u.src, l.label),
        |p$i AS MATERIALIZED (
        |  SELECT src AS uid, label AS newlab FROM (
        |    SELECT src, label,
        |      row_number() OVER (PARTITION BY src ORDER BY cnt DESC, label) AS rn
        |    FROM c$i) t WHERE rn = 1),
        |l$i AS MATERIALIZED (
        |  SELECT n.uid, COALESCE(p.newlab, n.uid) AS label
        |  FROM nodes n LEFT JOIN p$i p ON n.uid = p.uid)""".stripMargin
    }
    sb ++= s"""
      |SELECT label, CAST(count(*) AS BIGINT) AS size FROM l$rounds
      |GROUP BY label ORDER BY size DESC, label""".stripMargin
    sb.toString
  }

  /** g23 — personalized PageRank (random walk with restart): g13's
    * integer fixed-point iteration with the teleport mass restricted
    * to a SEED SET (customers of nation 0) instead of uniform — the
    * node-similarity / recommendation primitive ("rank everything by
    * proximity to THESE nodes"). Non-seed nodes receive mass only
    * through in-edges, so rank decays with distance from the seeds;
    * all arithmetic is integer fixed-point (decimal(38,0) contribution
    * sums, `div` flooring) so every iteration is bit-reproducible at
    * any parallelism — same determinism law as g13, different teleport
    * vector. Three unrolled iterations, top 30.
    *
    * Scale: identical plan shape to g13 (staged weighted edges, one
    * contribution join + agg per round, linear unrolled lineage); the
    * seed vector rides a broadcast-joined flag column, never a
    * filter-and-union of two rank frames. */
  def g23PersonalizedPagerank(s: SparkSession, dir: String): DataFrame = {
    val scale = 1000000000L
    val e = edges(s, dir).select(col("src_uid").as("src"), col("dst_uid").as("dst"))
    val deg = e.groupBy("src").agg(count(lit(1)).as("outdeg"))
    val weighted = e.join(deg, "src").localCheckpoint(true)
    val seeds = Tables.customer(s, dir).filter(col("c_nationkey") === 0)
      .select(concat(lit("Customer:"), col("c_custkey")).as("uid"),
        lit(scale).as("seed_mass"))
    val base = nodes(s, dir).select("uid")
      .join(seeds, Seq("uid"), "left")
      .select(col("uid"), coalesce(col("seed_mass"), lit(0L)).as("seed_mass"))
      .localCheckpoint(true)
    var pr = base.select(col("uid"), col("seed_mass").as("pr"))
    for (_ <- 1 to 3) {
      val contribs = weighted
        .join(pr.withColumnRenamed("uid", "src"), "src")
        .select(col("dst").as("uid"), expr("pr div outdeg").as("c"))
        .groupBy("uid").agg(sum(col("c").cast("decimal(38,0)")).as("contrib"))
      pr = base.join(contribs, Seq("uid"), "left")
        .select(col("uid"),
          (expr("(15 * seed_mass) div 100") +
            expr("(85 * coalesce(contrib, CAST(0 AS DECIMAL(38,0)))) div 100"))
            .as("pr"))
    }
    pr.filter(col("pr") > 0).orderBy(desc("pr"), asc("uid")).limit(30)
  }

  /** g24 — HITS hubs & authorities (Kleinberg) in integer fixed-point:
    * two rounds of the mutual recursion a = Eᵀh, h = Ea over the
    * containment graph, each score vector max-normalized back to scale
    * 1e9. Max-norm instead of the textbook L2 keeps every operation
    * rational (no sqrt) — normalization choice doesn't change the
    * ranking for any positive-homogeneous norm — so every round is
    * bit-reproducible at any parallelism AND SQL-expressible, the
    * g13/g23 determinism law applied to a two-vector recursion.
    * Customers/suppliers act as pure hubs, nations as both, regions as
    * pure authorities. Top 30 by (authority desc, uid).
    *
    * Scale: per round one edge×score join + agg per direction, over a
    * localCheckpointed loop-invariant edge list; the normalizer is a
    * 1-row broadcast, not a window over all nodes. Same bucketing
    * co-location argument as g13 at 100 TB. */
  def g24Hits(s: SparkSession, dir: String): DataFrame = {
    val scale = 1000000000L
    val e = edges(s, dir).select(col("src_uid").as("src"), col("dst_uid").as("dst"))
      .localCheckpoint(true)
    // the node list is read five times (h0 + both normalizing joins per
    // direction) — materialize the 4-way union once like the edge list
    val n = nodes(s, dir).select("uid").localCheckpoint(true)
    // one half-round each direction: authority from the incoming hub
    // vector, then hubs from that fresh authority vector (a_k = Eᵀh_{k-1},
    // h_k = E a_k). decimal(38,0) sums for the same wrap-safety reason
    // as g13.
    def authFrom(hub: DataFrame): DataFrame = {
      val araw = e.join(hub.withColumnRenamed("uid", "src"), "src")
        .groupBy(col("dst").as("uid"))
        .agg(sum(col("h").cast("decimal(38,0)")).as("araw"))
      val amax = araw.agg(max("araw").as("amax"))
      n.join(araw, Seq("uid"), "left").crossJoin(broadcast(amax))
        .select(col("uid"),
          expr("(coalesce(araw, CAST(0 AS DECIMAL(38,0))) * 1000000000) div amax")
            .as("a"))
    }
    def hubFrom(auth: DataFrame): DataFrame = {
      val hraw = e.join(auth.withColumnRenamed("uid", "dst"), "dst")
        .groupBy(col("src").as("uid"))
        .agg(sum(col("a").cast("decimal(38,0)")).as("hraw"))
      val hmax = hraw.agg(max("hraw").as("hmax"))
      n.join(hraw, Seq("uid"), "left").crossJoin(broadcast(hmax))
        .select(col("uid"),
          expr("(coalesce(hraw, CAST(0 AS DECIMAL(38,0))) * 1000000000) div hmax")
            .as("h"))
    }
    // materialize the two reused vectors: h1 feeds a2, and a2 feeds
    // BOTH h2 and the final join — without the checkpoints the a2
    // subtree (and h1's inside it) re-executes per consumer, which
    // profiled at ~2× the whole query's work. Iteration state is tiny
    // (|V| rows of two columns); the same move g13/g21 make per round.
    val h1 = hubFrom(authFrom(n.withColumn("h", lit(scale))))
      .localCheckpoint(true)
    val a2 = authFrom(h1).localCheckpoint(true)
    a2.join(hubFrom(a2), "uid")
      .select(col("uid"), col("a").as("authority"), col("h").as("hub"))
      .orderBy(desc("authority"), asc("uid")).limit(30)
  }

  /** g26 — butterfly counting (bipartite 4-cycles): for user pairs
    * sharing ≥2 click buckets, C(common, 2) butterflies — THE cohesion
    * motif of bipartite graphs (user×item, user×time-bucket), where
    * triangles cannot exist by construction. Counted at the wedge
    * midpoint: one self-equi-join of the incidence table on the bucket
    * key + one pair aggregate — 4-cycles are never enumerated
    * (C(common,2) is per-pair arithmetic), the same law as g17's
    * common-neighbor join. Integer binomial via `div`, engine-exact.
    * Top-20 under a total order. */
  def g26Butterflies(s: SparkSession, dir: String): DataFrame = {
    val c = capBuckets(clickBuckets(s, dir), bucketCap(s))
    c.select(col("b"), col("user_id").as("u1"))
      .join(c.select(col("b"), col("user_id").as("u2")), "b")
      .filter(col("u1") < col("u2"))
      .groupBy("u1", "u2").agg(count(lit(1)).as("common_buckets"))
      .filter(col("common_buckets") >= 2)
      .select(col("u1").as("user_a"), col("u2").as("user_b"),
        col("common_buckets"),
        expr("common_buckets * (common_buckets - 1) div 2").as("butterflies"))
      .orderBy(desc("butterflies"), asc("user_a"), asc("user_b"))
      .limit(20)
  }

  /** g27–g31 — the Cypher STRING front-end (`graph.CypherFrontend`, the
    * reference's arbitrary-Cypher query API `neo4j_db.py:93-106`) gated
    * end-to-end: actual Cypher text in, parsed + compiled onto the same
    * node/edge tables, hash-matched against SQL oracles. g27 is the
    * reference's label-histogram validation query, g28 its
    * grouped-hop shape, g29 a filtered two-hop with string predicate.
    * In the compiled plans label filters push into the node scan, hops are uid equi-joins, the implicit Cypher grouping is one
    * hash aggregate. */
  def g27CypherLabels(s: SparkSession, dir: String): DataFrame =
    graft.graph.CypherFrontend.run(
      "MATCH (n) RETURN labels(n)[0] AS label, count(*) AS cnt ORDER BY cnt DESC, label",
      nodes(s, dir), edges(s, dir))

  def g28CypherTopNations(s: SparkSession, dir: String): DataFrame =
    graft.graph.CypherFrontend.run(
      """MATCH (c:Customer)-[:IN_NATION]->(n:Nation)
        |RETURN n.name AS nation, count(c) AS customers
        |ORDER BY customers DESC, nation LIMIT 10""".stripMargin,
      nodes(s, dir), edges(s, dir))

  def g29CypherTwoHop(s: SparkSession, dir: String): DataFrame =
    graft.graph.CypherFrontend.run(
      """MATCH (c:Customer)-[:IN_NATION]->(n:Nation)-[:IN_REGION]->(r:Region)
        |WHERE r.name = $region AND c.name CONTAINS '1'
        |RETURN c.name AS customer, n.name AS nation
        |ORDER BY customer, nation""".stripMargin,
      nodes(s, dir), edges(s, dir), Map("region" -> "EUROPE"))

  def g30CypherOptional(s: SparkSession, dir: String): DataFrame =
    graft.graph.CypherFrontend.run(
      """MATCH (n:Nation)
        |OPTIONAL MATCH (c:Customer)-[:IN_NATION]->(n)
        |RETURN n.name AS nation, count(c) AS customers ORDER BY nation""".stripMargin,
      nodes(s, dir), edges(s, dir))

  def g31CypherPaging(s: SparkSession, dir: String): DataFrame =
    graft.graph.CypherFrontend.run(
      """MATCH (n:Nation)-[:IN_REGION]->(r:Region)
        |RETURN n.name AS nation, r.name AS region
        |ORDER BY nation SKIP 5 LIMIT 10""".stripMargin,
      nodes(s, dir), edges(s, dir))

  /** g32 — bounded variable-length path in Cypher TEXT form
    * (`-[:T1|T2*1..2]->`): depth-1 walks reach Nation (from customers/
    * suppliers) and Region (from nations); depth-2 walks reach Region
    * via a nation. Compiles to the same unrolled-join union as g12's
    * plan — path multiplicity preserved, so
    * the per-(src,dst)-label path counts are exactly checkable. */
  def g32CypherVarLength(s: SparkSession, dir: String): DataFrame =
    graft.graph.CypherFrontend.run(
      """MATCH (a)-[:IN_NATION|IN_REGION*1..2]->(b)
        |RETURN labels(a)[0] AS src, labels(b)[0] AS dst, count(*) AS paths
        |ORDER BY src, dst""".stripMargin,
      nodes(s, dir), edges(s, dir))

  /** g33 — WITH pipeline in Cypher TEXT form: aggregate per nation,
    * HAVING-filter on the aggregate, then a SECOND MATCH joins on the
    * carried node variable — the reference-promised free-form shape
    * (`neo4j_db.py:93-106`) that needs a mid-query projection
    * boundary. One hash aggregate + one broadcast-sized hop join. */
  def g33CypherWith(s: SparkSession, dir: String): DataFrame =
    graft.graph.CypherFrontend.run(
      """MATCH (c:Customer)-[:IN_NATION]->(n:Nation)
        |WITH n, count(c) AS customers WHERE customers >= 20
        |MATCH (n)-[:IN_REGION]->(r:Region)
        |RETURN r.name AS region, n.name AS nation, customers
        |ORDER BY region, nation""".stripMargin,
      nodes(s, dir), edges(s, dir))

  /** g34 — CHAINED WITH stages (aggregate → re-project+HAVING →
    * continuation MATCH): the free-form pipeline shape the r5 front-end
    * rejected at the second WITH. Same compiled plan family as g33 —
    * each WITH is one hash aggregate / projection, HAVING a filter. */
  def g34CypherMultiWith(s: SparkSession, dir: String): DataFrame =
    graft.graph.CypherFrontend.run(
      """MATCH (c:Customer)-[:IN_NATION]->(n:Nation)
        |WITH n, count(c) AS customers
        |WITH n, customers WHERE customers >= 20
        |MATCH (n)-[:IN_REGION]->(r:Region)
        |WITH r, sum(customers) AS big_customers
        |RETURN r.name AS region, big_customers
        |ORDER BY region""".stripMargin,
      nodes(s, dir), edges(s, dir))

  /** g35 — UNWIND + parameterized IN: the driver's batch-lookup idiom
    * (`UNWIND $list AS x MATCH ... WHERE key = x`). The scalar
    * correlation lands in the join condition, so Catalyst plans a
    * broadcast equi-join of the 3-row literal frame against the node
    * scan — no cartesian anywhere. */
  def g35CypherUnwind(s: SparkSession, dir: String): DataFrame =
    graft.graph.CypherFrontend.run(
      """UNWIND $regions AS rname
        |MATCH (r:Region) WHERE r.name = rname
        |MATCH (n:Nation)-[:IN_REGION]->(r)
        |RETURN rname AS region, count(n) AS nations
        |ORDER BY region""".stripMargin,
      nodes(s, dir), edges(s, dir),
      Map("regions" -> Seq("EUROPE", "ASIA", "ATLANTIS")))

  /** g36 — CASE expressions: searched-form bucketing feeding Cypher's
    * implicit grouping, plus sum(CASE...) conditional aggregation —
    * one hash aggregate over codegen'd when-chains. */
  def g36CypherCase(s: SparkSession, dir: String): DataFrame =
    graft.graph.CypherFrontend.run(
      """MATCH (c:Customer)-[:IN_NATION]->(n:Nation)-[:IN_REGION]->(r:Region)
        |RETURN
        |  CASE WHEN r.name IN ['EUROPE', 'ASIA'] THEN 'east' ELSE 'other' END AS zone,
        |  count(c) AS customers,
        |  sum(CASE WHEN n.name CONTAINS 'A' THEN 1 ELSE 0 END) AS in_a_nations
        |ORDER BY zone""".stripMargin,
      nodes(s, dir), edges(s, dir))

  /** g37 — WITH ORDER BY/LIMIT mid-pipeline (one TakeOrdered top-N,
    * tie-broken to stay deterministic) feeding a continuation MATCH,
    * plus RETURN-level arithmetic — the "top nations, then their
    * regions" free-form idiom. */
  def g37CypherTopnPipeline(s: SparkSession, dir: String): DataFrame =
    graft.graph.CypherFrontend.run(
      """MATCH (c:Customer)-[:IN_NATION]->(n:Nation)
        |WITH n, count(c) AS customers ORDER BY customers DESC, n.name LIMIT 5
        |MATCH (n)-[:IN_REGION]->(r:Region)
        |RETURN n.name AS nation, r.name AS region, customers * 2 - 1 AS score
        |ORDER BY nation""".stripMargin,
      nodes(s, dir), edges(s, dir))

  /** g38 — the scalar-function battery in one pipeline: string ops and
    * casts feeding implicit grouping. All codegen'd Catalyst functions;
    * the grouped prefix key collapses nations that share a 3-letter
    * lowercase prefix, exercising function-result group keys. */
  def g38CypherFunctions(s: SparkSession, dir: String): DataFrame =
    graft.graph.CypherFrontend.run(
      """MATCH (n:Nation)-[:IN_REGION]->(r:Region)
        |RETURN substring(toLower(n.name), 0, 3) AS prefix,
        |  count(*) AS nations, min(toUpper(left(r.name, 4))) AS region4
        |ORDER BY prefix""".stripMargin,
      nodes(s, dir), edges(s, dir))

  /** g39 — `shortestPath` in Cypher text: the head-seeded witness BFS
    * of [[graft.graph.Traversal.reachFixpointWitness]] to depth 3, whose
    * first reach is the min depth, joined to both endpoint scans. The
    * census below is fully determined by the schema:
    * customers/suppliers sit 2 hops from their region (1 from their
    * nation), nations 1 hop — min depth, not walk multiplicity. */
  def g39CypherShortestPath(s: SparkSession, dir: String): DataFrame =
    graft.graph.CypherFrontend.run(
      """MATCH p = shortestPath((a)-[:IN_NATION|IN_REGION*..3]->(r:Region))
        |RETURN labels(a)[0] AS src, length(p) AS len, count(*) AS n
        |ORDER BY src, len""".stripMargin,
      nodes(s, dir), edges(s, dir))

  /** g40 — the GraphDb facade lifecycle under the gate: an empty db,
    * the reference's MERGE-template shape batch-bound twice (run-twice
    * idempotency is part of the assertion — duplicate upserts would
    * double the rows), then a read through the same `query()` entry
    * point. The write is one distributed upsert job; the read is the
    * compiled label-scan projection. */
  def g40GraphDbLifecycle(s: SparkSession, dir: String): DataFrame = {
    val db = graft.graph.GraphDb.empty(s,
      clock = () => to_timestamp(lit("2024-06-01 12:00:00")))
    val params = Tables.nation(s, dir).select(
      col("n_name").as("name"),
      concat(lit("Nation:"), col("n_nationkey")).as("uid"))
    val template =
      """MERGE (n:Nation {uid: $uid})
        |ON CREATE SET n.name = $name, n.created_at = datetime()
        |ON MATCH SET n.updated_at = datetime()""".stripMargin
    db.merge(template, params)
    db.merge(template, params)
    db.query("MATCH (n:Nation) RETURN n.name AS name, n.uid AS uid ORDER BY name")
  }

  /** g41 — deterministic random-walk corpus (the node2vec/DeepWalk
    * input: walks over the graph that a skip-gram embedding trains
    * on): from a deterministic seed subset, 3 walk steps over the
    * undirected co-click graph, each step choosing the neighbor that
    * MINIMIZES sha256(cur || step || neighbor) — a hash-derived
    * "random" choice that is bit-reproducible on any cluster and
    * recomputable by the oracle (the engine-wide determinism law
    * applied to stochastic-flavored ops; swap the hash for a seeded
    * RNG and nothing else changes). Each step is one equi-join on the
    * current node + one per-seed top-1 window — keyed shuffles only,
    * bounded by the seed count, no driver iteration. */
  def g41WalkCorpus(s: SparkSession, dir: String): DataFrame = {
    val p = coClickPairs(s, dir).select(col("u1"), col("u2"))
    val adj = p.unionByName(p.select(col("u2").as("u1"), col("u1").as("u2")))
      .localCheckpoint(true)
    var walk = adj.select(col("u1").as("start")).distinct()
      .filter(col("start") % 17 === 0)
      .select(col("start"), col("start").as("cur"))
    var acc = walk.select(col("start"), lit(0).as("step"), col("cur").as("node"))
    for (t <- 1 to 3) {
      // per-start argmin by (h, u2) as a struct-min hash aggregate:
      // same selection as the old row_number window (ORDER BY h, u2,
      // rn = 1) but with map-side partial aggregation — the shuffle
      // carries one candidate per (start, partition) instead of every
      // neighbor row, and no per-group sort (guide §2.3 aggregate
      // before you shuffle)
      walk = walk.join(adj, col("cur") === col("u1"))
        .select(col("start"), struct(
          sha2(concat_ws(":", col("cur"), lit(t), col("u2")), 256).as("h"),
          col("u2").as("u2")).as("hu"))
        .groupBy("start").agg(min(col("hu")).as("m"))
        .select(col("start"), col("m.u2").as("cur"))
      acc = acc.unionByName(
        walk.select(col("start"), lit(t).as("step"), col("cur").as("node")))
    }
    acc.orderBy("start", "step")
  }

  /** g42 — skip-gram training pairs from the walk corpus (the actual
    * tensor a DeepWalk/node2vec embedding consumes): within each walk,
    * every (center, context) node pair at distance ≤ 2, counted. One
    * self-join keyed on the walk id + one hash aggregate — walks are
    * length-4, so the pair fan-out is a constant 10 per walk. */
  def g42SkipgramPairs(s: SparkSession, dir: String): DataFrame = {
    val w = g41WalkCorpus(s, dir)
    val a = w.select(col("start"), col("step").as("i"), col("node").as("center"))
    val b = w.select(col("start"), col("step").as("j"), col("node").as("context"))
    a.join(b, Seq("start"))
      .filter(col("i") =!= col("j") && abs(col("i") - col("j")) <= 2)
      .groupBy("center", "context").agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), asc("center"), asc("context"))
      .limit(50)
  }

  /** g43 — `collect()` / `collect(DISTINCT ...)` list aggregates in
    * Cypher TEXT form — the aggregate a Graph-RAG user reaches for to
    * pull a neighborhood into one row (Neo4j's list constructor).
    * Compiles to `collect_list`/`collect_set`; element order is
    * UNSPECIFIED in both Cypher and Spark, so the gate canonicalizes
    * with `array_sort` before hashing (the d-family determinism law:
    * never let shuffle arrival order reach a gated value). The gated
    * projection serializes the list to a `|`-joined scalar so the
    * driver's pandas row-sort (which cannot hash numpy arrays) sees a
    * plain string; the array-typed Cypher surface itself stays
    * asserted in CypherFrontendSpec. */
  def g43CypherCollect(s: SparkSession, dir: String): DataFrame =
    graft.graph.CypherFrontend.run(
      """MATCH (n:Nation)-[:IN_REGION]->(r:Region)
        |RETURN r.name AS region, collect(n.name) AS nations,
        |  count(DISTINCT n) AS n_nations
        |ORDER BY region""".stripMargin,
      nodes(s, dir), edges(s, dir))
      .select(col("region"),
        array_join(array_sort(col("nations")), "|").as("nations"),
        col("n_nations"))
      .orderBy("region")

  /** g44 — the remaining Cypher WRITE statements beyond MERGE:
    * `MATCH...SET` (batch property update, last-write-wins) and
    * `MATCH...DETACH DELETE` (batch delete with edge cascade), the two
    * statements a reference user issues for corrections and
    * retractions. Full lifecycle through [[graft.graph.GraphDb]]: MERGE
    * nations + regions + IN_REGION edges (the reference's template
    * shapes), SET a status flag on a name-matched subset, DETACH DELETE
    * one region, then read the surviving topology back in Cypher. Every
    * statement is one distributed job — key-equi-joins and anti-joins,
    * no per-row driver loop. */
  def g44CypherSetDelete(s: SparkSession, dir: String): DataFrame = {
    val db = graft.graph.GraphDb.empty(s, props = Seq("status"),
      clock = () => to_timestamp(lit("2024-06-01 12:00:00")))
    db.merge(
      """MERGE (n:Nation {uid: $uid})
        |ON CREATE SET n.name = $name, n.created_at = datetime()""".stripMargin,
      Tables.nation(s, dir).select(col("n_name").as("name"),
        concat(lit("Nation:"), col("n_nationkey")).as("uid")))
    db.merge(
      """MERGE (r:Region {uid: $uid})
        |ON CREATE SET r.name = $name, r.created_at = datetime()""".stripMargin,
      Tables.region(s, dir).select(col("r_name").as("name"),
        concat(lit("Region:"), col("r_regionkey")).as("uid")))
    db.merge(
      """MATCH (a:Nation {uid: $src}) MATCH (b:Region {uid: $dst})
        |MERGE (a)-[rel:IN_REGION]->(b)""".stripMargin,
      Tables.nation(s, dir).select(
        concat(lit("Nation:"), col("n_nationkey")).as("src"),
        concat(lit("Region:"), col("n_regionkey")).as("dst")))
    db.merge(
      "MATCH (n:Nation {name: $name}) SET n.status = $status",
      Tables.nation(s, dir).filter(col("n_name").contains("A"))
        .select(col("n_name").as("name"), lit("flagged").as("status")))
    db.merge(
      "MATCH (r:Region {name: $name}) DETACH DELETE r",
      Tables.region(s, dir).filter(col("r_name") === "AFRICA")
        .select(col("r_name").as("name")))
    db.query(
      """MATCH (n:Nation)-[:IN_REGION]->(r:Region)
        |RETURN r.name AS region, n.name AS nation, n.status AS status
        |ORDER BY region, nation""".stripMargin)
  }

  /** g45 — Cypher `UNION` across subqueries: two independently
    * compiled pipelines with identical RETURN columns, combined with
    * set semantics (UNION dedups — the many-customers-per-nation
    * multiplicity of the first arm collapses; UNION ALL is spec-
    * covered). Each arm is its own scope (variables do not leak), the
    * union is one `unionByName` + distinct — a single shuffle on the
    * output row, exactly SQL UNION's cost shape. */
  def g45CypherUnion(s: SparkSession, dir: String): DataFrame =
    graft.graph.CypherFrontend.run(
      """MATCH (c:Customer)-[:IN_NATION]->(n:Nation)-[:IN_REGION]->(r:Region {name: 'EUROPE'})
        |RETURN n.name AS nation
        |UNION
        |MATCH (n:Nation)-[:IN_REGION]->(r:Region {name: 'AFRICA'})
        |RETURN n.name AS nation""".stripMargin,
      nodes(s, dir), edges(s, dir)).orderBy("nation")

  /** g46 — UNBOUNDED variable-length Cypher in text form:
    * `(c:Customer)-[*]->(t)` compiles to the
    * [[graft.graph.Traversal.reachFixpoint]] reachability closure
    * (distinct (from, to) pairs, cycle-safe, min-depth dedup) instead
    * of the bounded unrolled-join union — the documented semantics
    * shift, since walk multiplicity over unbounded depth is not finite
    * on cyclic graphs. Over the Customer→Nation→Region hierarchy every
    * customer reaches exactly its nation (depth 1) and its region
    * (depth 2), so the per-target source counts are the two dimension
    * joins the oracle runs. Scale: the fixpoint iterates
    * frontier⋈edges with per-round localCheckpoint and level dedup —
    * depth-bounded by the graph's diameter, not the query text. */
  def g46CypherUnboundedStar(s: SparkSession, dir: String): DataFrame =
    graft.graph.CypherFrontend.run(
      """MATCH (c:Customer)-[*]->(t)
        |RETURN t.name AS target, count(*) AS n_sources
        |ORDER BY target""".stripMargin,
      nodes(s, dir), edges(s, dir))

  /** g50 — Cypher named-path walk profile: every 1..2-hop walk out of
    * a regex-sliced customer cohort, grouped by target label and hop
    * count. Exercises the round-6 front-end surface in one gated
    * query: `MATCH p = ...` named paths with `length(p)` over a
    * var-length hop (the unrolled union tags each k-fold chain with a
    * constant depth — zero data cost), and `=~` full-match regex
    * (anchored rlike — Neo4j's `=~` is a full match, Spark's bare
    * rlike is find-anywhere; an unanchored compile would silently
    * match 10× the cohort). The compiled plan is the g32 unrolled
    * var-length shape plus a constant-depth column: label filter in
    * the node scan, uid equi-joins per hop, one hash aggregate. */
  def g50CypherPathProfile(s: SparkSession, dir: String): DataFrame =
    graft.graph.CypherFrontend.run(
      """MATCH p = (c:Customer)-[*1..2]->(x)
        |WHERE c.name =~ 'Customer#0000000[0-9]{2}'
        |RETURN labels(x)[0] AS target, length(p) AS hops, count(*) AS walks
        |ORDER BY target, hops""".stripMargin,
      nodes(s, dir), edges(s, dir))

  /** g51 — Cypher list-kernel aggregation: per-region roll-up whose
    * measures run THROUGH the collected list — `reduce(acc = 0, x IN
    * collect(size(n.name)) | acc + x)` (a fold over the group's
    * collected values) and `size([x IN collect(n.name) WHERE x
    * CONTAINS '1'])` (a filter comprehension counted). Both compile
    * to codegen'd higher-order functions (`aggregate`, `filter`) over
    * ONE `collect_list` per group — the aggregate computes once, the
    * list kernels are row-local projections on top; no second
    * aggregation pass, no UDF. size() dispatches by shape: chars for
    * the property string, elements for the comprehension result. */
  def g51CypherListKernels(s: SparkSession, dir: String): DataFrame =
    graft.graph.CypherFrontend.run(
      """MATCH (n:Nation)-[:IN_REGION]->(r:Region)
        |RETURN r.name AS region,
        |  reduce(acc = 0, x IN collect(size(n.name)) | acc + x) AS name_chars,
        |  size([x IN collect(n.name) WHERE x CONTAINS '1']) AS with_1
        |ORDER BY region""".stripMargin,
      nodes(s, dir), edges(s, dir))

  /** g52 — round-6 Cypher frontier features in one gated statement:
    * a LABEL PREDICATE in WHERE (`n:Nation`, compiling to the label
    * column equality — no pre-labeled pattern needed), a QUANTIFIED
    * list predicate (`any(x IN split(...) WHERE x IN [...])`, the
    * codegen'd `filter` + size, no explode), `last()` list access,
    * the `^` power operator (right-assoc, pow semantics), and an
    * uncorrelated `CALL { }` subquery whose 1-row aggregate
    * cross-multiplies the pipeline by BROADCAST (never a cartesian —
    * PlanSweepSpec's law). All row-local except the CALL's keyless
    * count; at 100 TB the statement costs one node scan. */
  def g52CypherFrontier(s: SparkSession, dir: String): DataFrame =
    graft.graph.CypherFrontend.run(
      """MATCH (n) WHERE n:Nation AND any(x IN split(n.name, '_') WHERE x IN ['1', '2', '3'])
        |CALL { MATCH (r:Region) RETURN count(r) AS n_regions }
        |RETURN n.name AS nation, last(split(n.name, '_')) AS suffix,
        |  toInteger(last(split(n.name, '_'))) ^ 2 AS sq, n_regions
        |ORDER BY nation""".stripMargin,
      nodes(s, dir), edges(s, dir))

  /** g53 — CORRELATED `CALL { WITH ... }` subqueries (openCypher's
    * importing WITH), the Graph-RAG per-item retrieval idiom: for
    * every region, a correlated keyless aggregate (nation count) and
    * a correlated per-binding top-k (first two nations by name —
    * ORDER BY + LIMIT inside the subquery). Compilation is the
    * distributed form of Neo4j's per-row execution
    * (`neo4j_db.py:93-106` promises arbitrary Cypher): each inner
    * plan runs ONCE over the DISTINCT import bindings — aggregates
    * group by the correlation key, the top-k becomes one row_number
    * window partitioned by it — then joins back on the key. No
    * broadcast of unbounded inner results, no per-row driver loop;
    * at 100 TB each CALL costs one keyed shuffle. Aggregate-only
    * bodies keep zero-match bindings (left join + zero-row refill —
    * Neo4j's one-row-per-binding contract, gated by g59); non-agg
    * bodies keep openCypher inner-join semantics. Oracle: DuckDB
    * LATERAL. */
  def g53CypherCallCorrelated(s: SparkSession, dir: String): DataFrame =
    graft.graph.CypherFrontend.run(
      """MATCH (r:Region)
        |CALL { WITH r
        |  MATCH (n:Nation)-[:IN_REGION]->(r)
        |  RETURN count(n) AS n_nations }
        |CALL { WITH r
        |  MATCH (n:Nation)-[:IN_REGION]->(r)
        |  RETURN n.name AS top_nation
        |  ORDER BY top_nation
        |  LIMIT 2 }
        |RETURN r.name AS region, n_nations, top_nation
        |ORDER BY region, top_nation""".stripMargin,
      nodes(s, dir), edges(s, dir))

  /** g59 — correlated CALL{} with an aggregate-only body over a
    * PLANTED zero-match slice: only region 4's nations end with '4'
    * (NATION_4/14/24), so four of the five regions reach the inner
    * RETURN with zero rows. Neo4j's per-binding contract keeps those
    * rows — count/sum refill to 0, min to null, and the arithmetic
    * item folds at zero rows (0*10+1 = 1). Compiled as ONE keyed
    * aggregate + ONE left join with zero-row coalesce; DuckDB oracle
    * is a plain LATERAL (an ungrouped aggregate subquery always
    * yields one row — the exact semantics being gated). */
  def g59CypherCallZeroMatch(s: SparkSession, dir: String): DataFrame =
    graft.graph.CypherFrontend.run(
      """MATCH (r:Region)
        |CALL { WITH r
        |  MATCH (n:Nation)-[:IN_REGION]->(r)
        |  WHERE n.name ENDS WITH '4'
        |  RETURN count(n) AS n4, sum(size(n.name)) AS chars4,
        |    min(n.name) AS first4, count(n) * 10 + 1 AS scaled }
        |RETURN r.name AS region, n4, chars4, first4, scaled
        |ORDER BY region""".stripMargin,
      nodes(s, dir), edges(s, dir))

  /** g60 — multi-hop `EXISTS { }` chains under OR / XOR / NOT (the
    * round-7 refusal, now compiled): each distinct chain becomes ONE
    * boolean flag column — its DISTINCT shared-key probe left-joined
    * onto the outer frame — so the WHERE tree combines chains freely
    * instead of forcing semi/anti-join shapes. The Graph-RAG
    * "retrievable via either route" idiom. Branch 1: nations with a
    * '1'-suffixed customer OR no supplier at all. Branch 2: regions
    * where exactly one of two 2-hop reachability chains holds (XOR).
    * At 100 TB each flag is one keyed aggregate-free probe join on
    * uids — never the match multiset. */
  def g60CypherExistsOr(s: SparkSession, dir: String): DataFrame =
    graft.graph.CypherFrontend.run(
      """MATCH (n:Nation)
        |WHERE EXISTS { (c:Customer)-[:IN_NATION]->(n) WHERE c.name ENDS WITH '1' }
        |   OR NOT EXISTS { (sp:Supplier)-[:IN_NATION]->(n) }
        |RETURN n.name AS name, 'or' AS tag
        |UNION ALL
        |MATCH (r:Region)
        |WHERE EXISTS { (c:Customer)-[:IN_NATION]->(:Nation)-[:IN_REGION]->(r)
        |      WHERE c.name ENDS WITH '1' }
        |  XOR EXISTS { (sp:Supplier)-[:IN_NATION]->(:Nation)-[:IN_REGION]->(r)
        |      WHERE sp.name ENDS WITH '01' }
        |RETURN r.name AS name, 'xor' AS tag""".stripMargin,
      nodes(s, dir), edges(s, dir))
      .orderBy("tag", "name")

  /** g61 — the OPEN-RANGE var-length surface (extends g46's bare `*`):
    * `*2..` compiles as an exact (lo−1)-hop walk prefix chained into
    * the reachability fixpoint (∃ walk of length ≥ lo, DISTINCT
    * pairs), and UNBOUNDED shortestPath rides the fixpoint's
    * first-reach depth (BFS level order + the visited-set anti-join
    * make first-reach = min depth — no unroll bound needed, only the
    * graph's diameter). Over Customer→Nation→Region, depth ≥ 2 from a
    * customer is exactly its region, and the shortest customer→region
    * path is always 2 hops — the oracle is the two dimension joins. */
  def g61CypherOpenRange(s: SparkSession, dir: String): DataFrame =
    graft.graph.CypherFrontend.run(
      """MATCH (c:Customer)-[*2..]->(t)
        |RETURN t.name AS target, -1 AS hops, count(*) AS n_sources
        |UNION ALL
        |MATCH p = shortestPath((c:Customer)-[*]->(r:Region))
        |RETURN r.name AS target, length(p) AS hops, count(*) AS n_sources""".stripMargin,
      nodes(s, dir), edges(s, dir))
      .orderBy("target", "hops")

  /** g62 — `COLLECT { }` subquery expressions (Neo4j 5.6's
    * list-building sibling of COUNT {}): per region, the ordered
    * nation list, a DESC + LIMIT top-2, and a filtered collect that is
    * EMPTY for four of the five regions (only region 4's nations end
    * with '4') — gating the empty-list refill. Compilation: ONE
    * ordered window collect over the compiled pattern frame per
    * distinct subquery + one left join; the returned value rides as
    * the final sort key so element order is deterministic. At 100 TB
    * each COLLECT is one keyed window shuffle — never per-row
    * subquery execution. */
  def g62CypherCollectSub(s: SparkSession, dir: String): DataFrame =
    graft.graph.CypherFrontend.run(
      """MATCH (r:Region)
        |RETURN r.name AS region,
        |  COLLECT { (n:Nation)-[:IN_REGION]->(r) RETURN n.name } AS nations,
        |  COLLECT { (n:Nation)-[:IN_REGION]->(r)
        |    RETURN n.name ORDER BY n.name DESC LIMIT 2 } AS top2,
        |  COLLECT { (n:Nation)-[:IN_REGION]->(r)
        |    WHERE n.name ENDS WITH '4' RETURN n.name } AS four
        |ORDER BY region""".stripMargin,
      nodes(s, dir), edges(s, dir))
      // g43 law: gate lists serialize to `|`-joined scalars (sorted
      // where Cypher leaves order unspecified; top2 is an explicit
      // ORDER BY DESC LIMIT 2, so it joins positionally, unsorted).
      // The array-typed surface stays asserted in CypherFrontendSpec.
      .select(col("region"),
        array_join(array_sort(col("nations")), "|").as("nations"),
        array_join(col("top2"), "|").as("top2"),
        array_join(array_sort(col("four")), "|").as("four"))
      .orderBy("region")

  /** g66 — `allShortestPaths` (Neo4j's tied-paths sibling of
    * shortestPath): one row PER tied shortest walk, compiled as the
    * unrolled walk frame (multiplicity preserved) + one endpoint-pair
    * window min + a filter — never a per-pair subsearch. Undirected
    * form: suppliers reach the '1'-suffixed customers of their nation
    * in exactly one tied 2-hop path each (supplier—nation—customer),
    * so the path count per supplier equals the customer count the
    * oracle joins directly; diamond-shaped tie multiplicity is pinned
    * by the ScalaTest spec (the TPC-H graph is a tree — no ties
    * exist to plant). */
  def g66CypherAllShortest(s: SparkSession, dir: String): DataFrame =
    graft.graph.CypherFrontend.run(
      """MATCH p = allShortestPaths((sp:Supplier)-[*..2]-(c:Customer))
        |WHERE c.name ENDS WITH '1'
        |RETURN sp.name AS supplier, count(*) AS reachable,
        |  min(length(p)) AS len
        |ORDER BY supplier""".stripMargin,
      nodes(s, dir), edges(s, dir))

  /** g65 — var-length relationship BINDINGS materialize their hop
    * list (the last round-7 refusal): `r` is the walk's ordered
    * (src, rel_type, dst) struct array — accumulated by array concat
    * through the k-fold joins, walks × depth fixed-width rows, exactly
    * what Neo4j returns — and comprehensions/indexing project from it
    * per hop. Per region: the 2-hop walk count, the (constant) type
    * sequence, and the distinct second-hop sources (= nations). */
  def g65CypherRelBinding(s: SparkSession, dir: String): DataFrame =
    graft.graph.CypherFrontend.run(
      """MATCH (c:Customer)-[r*2..2]->(t:Region)
        |RETURN t.name AS region, [h IN r | h.rel_type] AS types,
        |  count(*) AS walks,
        |  count(DISTINCT [h IN r | h.src][1]) AS via_nations
        |ORDER BY region""".stripMargin,
      nodes(s, dir), edges(s, dir))
      // g43 law: the hop-type sequence is positional — join unsorted.
      .select(col("region"), array_join(col("types"), "|").as("types"),
        col("walks"), col("via_nations"))
      .orderBy("region")

  /** g64 — pattern predicates and EXISTS {} chains in EXPRESSION
    * positions (the round-7 column-only refusal, now compiled): a
    * CASE over a pattern predicate used as a GROUPING key under
    * aggregation, and a CASE over a 2-hop EXISTS chain — each distinct
    * pattern/chain pre-joins ONE boolean flag column (DISTINCT-probe
    * left join) onto the frame before projection, so the CASE is a
    * plain codegen'd expression and the aggregate groups by it; the
    * scratch flag never surfaces past the projection. */
  def g64CypherPatternExpr(s: SparkSession, dir: String): DataFrame =
    graft.graph.CypherFrontend.run(
      """MATCH (n:Nation)
        |RETURN CASE WHEN (n)<-[:IN_NATION]-(:Supplier) THEN 'supplied'
        |       ELSE 'bare' END AS tag, count(*) AS n
        |UNION ALL
        |MATCH (r:Region)
        |RETURN CASE WHEN EXISTS { (c:Customer)-[:IN_NATION]->(:Nation)-[:IN_REGION]->(r)
        |                          WHERE c.name ENDS WITH '1' }
        |       THEN 'reached' ELSE 'dark' END AS tag, count(*) AS n""".stripMargin,
      nodes(s, dir), edges(s, dir))
      .orderBy("tag", "n")

  /** g63 — AVV star-suffix hazard derivation END-TO-END (the one
    * spec'd-but-never-exercised reference rule, `schema.cql:31` +
    * PDF §6: trailing '*' ⇒ hazardous): leaf codes synthesized from
    * part keys (deterministic `%02d %02d %02d` triples, every 5th
    * starred; a base generated both ways is hazardous if ANY generator
    * starred it), the 2-/1-level parents derived from the leaf
    * prefixes, [[graft.graph.Rules.avvHierarchy]] assigning
    * level/is_hazardous/parent_code, and
    * [[graft.graph.Rules.avvHazardRollup]] propagating the star UP the
    * HAS_PARENT chain — a level-1 code reports contains_hazard exactly
    * when some starred leaf sits under it. Two grouped boolean ors +
    * two keyed joins; no fixpoint (the hierarchy is 3 levels by
    * spec). */
  def g63AvvHazard(s: SparkSession, dir: String): DataFrame = {
    val k = col("p_partkey")
    val leaves = Tables.part(s, dir)
      .select(format_string("%02d %02d %02d",
          (k % 18 + 1).cast("int"), (k % 9 + 1).cast("int"),
          (k % 9 + 1).cast("int")).as("base"),
        (k % 5 === 0).as("star"))
      .groupBy("base").agg(max(col("star")).as("star"))
      .select(concat(col("base"),
        when(col("star"), "*").otherwise("")).as("code"))
    val l2 = leaves.select(substring(col("code"), 1, 5).as("code")).distinct()
    val l1 = leaves.select(substring(col("code"), 1, 2).as("code")).distinct()
    val hier = graft.graph.Rules.avvHierarchy(
      leaves.unionByName(l2).unionByName(l1))
    graft.graph.Rules.avvHazardRollup(hier)
      .select("code", "level", "is_hazardous", "contains_hazard", "parent_code")
      .orderBy("code")
  }

  /** g54 — the two read-side frontier forms the parser used to refuse
    * (r6 verdict task 6), gated: OPTIONAL shortestPath (the compiled
    * pairs+min-depth frame LEFT-joins the pipeline — unreachable
    * endpoints keep their row with r and length(p) null-padded; the
    * optional WHERE filters matches INSIDE the join, Cypher scoping)
    * and pattern predicates under OR/NOT (each distinct pattern
    * becomes one boolean flag column via a DISTINCT-probe left join —
    * broadcast-eligible endpoint sets, never the edge multiset — so
    * arbitrary boolean combinations compile instead of whole-frame
    * semi/anti joins). */
  def g54CypherOptionalFrontier(s: SparkSession, dir: String): DataFrame =
    graft.graph.CypherFrontend.run(
      """MATCH (n:Nation)
        |OPTIONAL MATCH p = shortestPath((n)-[:IN_REGION*..2]->(r:Region))
        |WHERE r.name STARTS WITH 'A'
        |RETURN n.name AS name, coalesce(r.name, 'none') AS tag,
        |  coalesce(length(p), -1) AS v
        |UNION ALL
        |MATCH (x)
        |WHERE (x)-[:IN_REGION]->(:Region) OR NOT (x)-[:IN_NATION|IN_REGION]->()
        |RETURN x.name AS name, labels(x)[0] AS tag, 0 AS v""".stripMargin,
      nodes(s, dir), edges(s, dir))
      .orderBy("name", "tag", "v")

  /** g55 — `COUNT { }` subquery expressions (Neo4j 5's counting
    * sibling of EXISTS {}), in both WHERE (a degree threshold EXISTS
    * cannot express) and RETURN positions. Compilation: each distinct
    * subquery becomes ONE grouped count of the filtered edge set (the
    * degree table) left-joined on the variable's uid — per-row values
    * with zero for no matches, never a per-row subquery execution; at
    * 100 TB it is one keyed aggregate + one keyed join. */
  def g55CypherCountSub(s: SparkSession, dir: String): DataFrame =
    graft.graph.CypherFrontend.run(
      """MATCH (n:Nation)
        |WHERE COUNT { (n)<-[:IN_NATION]-() } >= 1
        |RETURN n.name AS nation,
        |  COUNT { (n)<-[:IN_NATION]-() } AS members
        |ORDER BY nation""".stripMargin,
      nodes(s, dir), edges(s, dir))

  /** g56 — MULTI-HOP `EXISTS { }` pattern subqueries: comma chains
    * sharing the outer variable (nations with BOTH a customer and a
    * supplier) and a 2-hop chain with an inner WHERE (regions
    * reachable from a '1'-suffixed customer). Each existential
    * compiles to the chain compiler's frame filtered and reduced to a
    * DISTINCT shared-key probe, then one semi join — the match
    * multiset never widens the outer frame. */
  def g56CypherExistsChain(s: SparkSession, dir: String): DataFrame =
    graft.graph.CypherFrontend.run(
      """MATCH (n:Nation)
        |WHERE EXISTS { (c:Customer)-[:IN_NATION]->(n), (s:Supplier)-[:IN_NATION]->(n) }
        |RETURN n.name AS name, 'both' AS tag
        |UNION ALL
        |MATCH (r:Region)
        |WHERE EXISTS { (c:Customer)-[:IN_NATION]->(:Nation)-[:IN_REGION]->(r)
        |  WHERE c.name ENDS WITH '1' }
        |RETURN r.name AS name, 'reach' AS tag""".stripMargin,
      nodes(s, dir), edges(s, dir))
      .orderBy("tag", "name")

  /** g57 — UNDIRECTED relationships (`-[:T]-`, the both-ways match a
    * Neo4j user writes when edge direction is storage detail): per
    * nation, every neighbor over IN_NATION|IN_REGION regardless of
    * orientation — customers and suppliers arrive against the edge
    * direction, the region along it. Compiles over the symmetric edge
    * closure (each edge contributes both orientations before the uid
    * equi-join), so the plan stays one keyed join; no per-direction
    * union of whole subplans. */
  def g57CypherUndirected(s: SparkSession, dir: String): DataFrame =
    graft.graph.CypherFrontend.run(
      """MATCH (n:Nation)-[:IN_NATION|IN_REGION]-(x)
        |RETURN n.name AS nation, count(*) AS neighbors
        |ORDER BY nation""".stripMargin,
      nodes(s, dir), edges(s, dir))

  /** g58 — multi-hop `COUNT { }` chains: per region, the number of
    * 2-hop customer→nation→region matches — the counting sibling of
    * g56's existential chains. One grouped count of the compiled
    * pattern frame keyed on the shared variable, one left join,
    * coalesce 0 for empty bindings; walk multiplicity counts, per
    * Neo4j's match-count semantics. */
  def g58CypherCountChain(s: SparkSession, dir: String): DataFrame =
    graft.graph.CypherFrontend.run(
      """MATCH (r:Region)
        |RETURN r.name AS region,
        |  COUNT { (c:Customer)-[:IN_NATION]->(n:Nation)-[:IN_REGION]->(r) }
        |    AS customers
        |ORDER BY region""".stripMargin,
      nodes(s, dir), edges(s, dir))

  /** g47 — time-RESPECTING 2-hop influence paths over the click
    * stream: an edge u→v exists when both click in the same 5-minute
    * bucket and u's first click precedes v's (time gives the
    * direction); a 2-hop path u→v→w is counted only when v's outgoing
    * click is AT OR AFTER v's arrival (`e2.t_src ≥ e1.t_dst`) — the
    * temporal-graph constraint that separates real influence cascades
    * from static 2-hop counting (a static count happily routes through
    * v BACKWARD in time). Output: distinct 2-hop reach per source.
    *
    * Scale shape: edge generation is the capped-bucket equi-join
    * (every co-click kernel's bound — cap·(cap−1)/2 per hot bucket),
    * the hop is one keyed join on the midpoint with the time predicate
    * riding the join condition, and reach is a distinct aggregate.
    * No temporal cross join anywhere. */
  def g47TemporalReach(s: SparkSession, dir: String): DataFrame = {
    val firsts = Tables.events(s, dir)
      .filter(col("event_type") === "click")
      .groupBy(col("user_id"), expr("unix_timestamp(ts) div 300").as("b"))
      .agg(min(expr("unix_timestamp(ts)")).as("t"))
    val capped = capBuckets(firsts, bucketCap(s)).localCheckpoint(true)
    val edges = capped.select(col("b"), col("user_id").as("src"), col("t").as("t_src"))
      .join(capped.select(col("b"), col("user_id").as("dst"), col("t").as("t_dst")), "b")
      .filter(col("t_src") < col("t_dst") ||
        (col("t_src") === col("t_dst") && col("src") < col("dst")))
      .select("src", "dst", "t_src", "t_dst")
      .localCheckpoint(true)
    edges.select(col("src").as("u"), col("dst").as("v"), col("t_dst").as("arrive"))
      .join(edges.select(col("src").as("v"), col("dst").as("w"),
        col("t_src").as("depart")), "v")
      .filter(col("depart") >= col("arrive") && col("w") =!= col("u"))
      .groupBy(col("u").as("user_id"))
      .agg(countDistinct(col("w")).as("reach2"))
      .orderBy(desc("reach2"), asc("user_id"))
      .limit(30)
  }

  /** g48 — DataFrame-native connected components over the co-click
    * user graph ([[graft.graph.ComponentsDF]], alternating
    * large-star/small-star — Kiveris et al. SoCC'14): per clicking
    * user, the component id (min user_id in the component, the same
    * contract as g08) and the component size; users sharing no
    * bucket with anyone are their own singleton component. This is the
    * 100 TB CC path: the whole iteration stays inside Catalyst (AQE
    * skew-split, runtime coalescing, one window + one distinct per
    * star step), with no RDD conversion and no Pregel runtime —
    * ComponentsDFSpec pins equivalence against the GraphX engine
    * across chains/cycles/stars/forests. Oracle: recursive-CTE
    * transitive closure with min-origin per vertex — engine-exact
    * because both sides compute the same min-id fixpoint
    * (cap-valid like every co-click gate). */
  def g48CcNative(s: SparkSession, dir: String): DataFrame = {
    val edges = coClickPairs(s, dir)
      .select(col("u1").as("src"), col("u2").as("dst"))
    val assigned = graft.graph.ComponentsDF.run(edges)
      .withColumnRenamed("vid", "user_id")
    val full = clickBuckets(s, dir).select(col("user_id")).distinct()
      .join(assigned, Seq("user_id"), "left")
      .select(col("user_id"),
        coalesce(col("component"), col("user_id")).as("component"))
    full.join(full.groupBy(col("component"))
        .agg(count(lit(1)).as("comp_size")), "component")
      .select("user_id", "component", "comp_size")
      .orderBy("user_id")
  }

  /** g49 — the same user components as g48 WITHOUT ever materializing
    * co-click pairs: run CC on the BIPARTITE incidence graph directly
    * (user —sharesBucket→ bucket, users at 2·id, buckets at 2·b+1),
    * then re-key each mixed component to its minimum USER id and count
    * users only. Connectivity through a shared bucket is identical to
    * pair-edge connectivity, but the edge count is O(incidence) — a
    * celebrity bucket with a million members costs a million edges
    * here versus ~5·10¹¹ pairs in the quadratic formulation, which is
    * why THIS is the connectivity path that needs no bucket cap at
    * all (the cap contract exists only for pair-producing analytics).
    * Same oracle as g48: on gate data (below cap) the two must agree
    * row-for-row, which the shared recursive-CTE closure enforces. */
  def g49CcBipartite(s: SparkSession, dir: String): DataFrame = {
    val c = clickBuckets(s, dir)
    val assigned = graft.graph.ComponentsDF.run(
      c.select((col("user_id") * 2).as("src"), (col("b") * 2 + 1).as("dst")))
    val users = assigned.filter(col("vid") % 2 === 0)
      .select(expr("vid div 2").as("user_id"), col("component"))
    val full = users.join(
        users.groupBy("component").agg(min(col("user_id")).as("comp_user")),
        "component")
      .select(col("user_id"), col("comp_user").as("component"))
    full.join(full.groupBy(col("component"))
        .agg(count(lit(1)).as("comp_size")), "component")
      .select("user_id", "component", "comp_size")
      .orderBy("user_id")
  }

  /** g67 — ORDER BY null-ordering parity (Neo4j: null sorts as the
    * LARGEST value — last ascending, first descending; Spark's default
    * is the opposite). The CASE plants nulls on the '2'-suffixed
    * nations; the LIMITs make the ordering observable through WHICH
    * rows survive (the driver compare is row-order-insensitive).
    * Compiled as `asc_nulls_last` / `desc_nulls_first` at every
    * ORDER BY site, so the fix rides windows, UNION tails and
    * correlated-CALL pagination too. */
  def g67CypherNullOrder(s: SparkSession, dir: String): DataFrame = {
    def q(dirWord: String, tag: String, lim: Int) =
      graft.graph.CypherFrontend.run(
        s"""MATCH (n:Nation)
           |RETURN n.name AS name,
           |  CASE WHEN n.name ENDS WITH '2' THEN NULL
           |       ELSE toInteger(size(n.name)) END AS k,
           |  '$tag' AS tag
           |ORDER BY k $dirWord, name LIMIT $lim""".stripMargin,
        nodes(s, dir), edges(s, dir))
    q("ASC", "asc", 12).unionByName(q("DESC", "desc", 3))
  }

  /** g68 — Cypher's overloaded `+`: string concatenation when either
    * operand is a string ('a'+1 = 'a1'), list concatenation for list
    * operands, numeric addition otherwise — resolved STATICALLY from
    * literal/property/function types (the node frame's schema types
    * the properties), so the concat compiles to codegen'd `concat`,
    * never a UDF. Pre-fix this compiled to numeric addition and
    * silently returned null. */
  def g68CypherConcat(s: SparkSession, dir: String): DataFrame =
    graft.graph.CypherFrontend.run(
      """MATCH (n:Nation)-[:IN_REGION]->(r:Region)
        |WHERE n.name ENDS WITH '3'
        |RETURN n.name + '@' + r.name AS tagged,
        |  'key=' + n.name AS keyed,
        |  size([n.name] + [r.name]) AS n_both,
        |  n.name + '#' + toInteger(size(n.name)) AS numtail
        |ORDER BY tagged""".stripMargin,
      nodes(s, dir), edges(s, dir))

  /** g69 — pattern comprehensions `[(a)-[:R]->(b) WHERE p | e]`
    * (Neo4j's inline neighbor-list idiom, the form a Graph-RAG prompt
    * builder writes before reaching for COLLECT {}): parsed into the
    * SAME ECollect node as COLLECT { } subqueries — one ordered window
    * collect per distinct comprehension + one left join with
    * empty-list refill — so the 100 TB cost is one keyed shuffle,
    * never per-row subquery execution. The filtered comprehension is
    * empty for four of five regions (gating the refill through
    * size()). */
  def g69CypherPatternComp(s: SparkSession, dir: String): DataFrame =
    graft.graph.CypherFrontend.run(
      """MATCH (r:Region)
        |RETURN r.name AS region,
        |  [(n:Nation)-[:IN_REGION]->(r) | n.name] AS nations,
        |  size([(n:Nation)-[:IN_REGION]->(r)
        |    WHERE n.name ENDS WITH '4' | n.name]) AS fours
        |ORDER BY region""".stripMargin,
      nodes(s, dir), edges(s, dir))
      // g43 law: comprehension order is unspecified — sort then join.
      .select(col("region"),
        array_join(array_sort(col("nations")), "|").as("nations"),
        col("fours"))
      .orderBy("region")

  /** g70 — statistics aggregates (Neo4j's stDev/stDevP/
    * percentileCont/percentileDisc): sample/population stddev map to
    * Spark's codegen'd partial-merge aggregates; percentileCont to
    * exact interpolated `percentile`; percentileDisc to Neo4j's
    * nearest-rank contract (the ceil(p·n)-th smallest value) via a
    * sorted group list. Rounded to 6 decimals on both sides so the
    * gate checks semantics, not float ulps. */
  def g70CypherStatsAggs(s: SparkSession, dir: String): DataFrame =
    graft.graph.CypherFrontend.run(
      """MATCH (c:Customer)-[:IN_NATION]->(n:Nation)
        |RETURN n.name AS nation,
        |  round(stDev(size(c.name)), 6) AS sd,
        |  round(stDevP(size(c.name)), 6) AS sdp,
        |  round(percentileCont(size(c.name), 0.5), 6) AS med,
        |  percentileDisc(size(c.name), 0.5) AS medd,
        |  count(c) AS n_cust
        |ORDER BY nation""".stripMargin,
      nodes(s, dir), edges(s, dir))

  /** g71 — map literals `{k: expr}` (heterogeneous → struct, the
    * result-shaping idiom a Graph-RAG API layer writes) and LIST RANGE
    * SLICES `l[lo..hi]` (0-based, end-exclusive, negative-from-end,
    * out-of-range clamped — Neo4j's contract). The three slices of the
    * same pattern comprehension compile against ONE shared window
    * collect (structural dedup), then slice as codegen'd expressions:
    * zero extra shuffles for any number of views over the list. */
  def g71CypherMapSlice(s: SparkSession, dir: String): DataFrame =
    graft.graph.CypherFrontend.run(
      """MATCH (r:Region)
        |RETURN r.name AS region,
        |  {region: r.name,
        |   n_nations: size([(x:Nation)-[:IN_REGION]->(r) | x.name])} AS info,
        |  [(x:Nation)-[:IN_REGION]->(r) | x.name][0..2] AS first2,
        |  [(x:Nation)-[:IN_REGION]->(r) | x.name][-1..] AS last1,
        |  [(x:Nation)-[:IN_REGION]->(r) | x.name][1..][..2] AS mid
        |ORDER BY region""".stripMargin,
      nodes(s, dir), edges(s, dir))
      // g43 law: the struct gates as compact JSON (both engines render
      // {"k":v} identically); slices of the ordered collect are
      // positional — join unsorted.
      .select(col("region"), to_json(col("info")).as("info"),
        array_join(col("first2"), "|").as("first2"),
        array_join(col("last1"), "|").as("last1"),
        array_join(col("mid"), "|").as("mid"))
      .orderBy("region")

  /** g72 — nodes(p) / relationships(p) over fixed-length named paths:
    * the walk's nodes/relationships as ordered struct arrays (the path
    * rendering a Graph-RAG answer cites). Pure projection over columns
    * the chain join already carries — zero extra joins, zero extra
    * data cost; var-length walks refuse with a pointer to length(p) +
    * the bound rel's hop list (their interior is not per-row columns). */
  def g72CypherPathFns(s: SparkSession, dir: String): DataFrame =
    graft.graph.CypherFrontend.run(
      """MATCH p = (c:Customer)-[:IN_NATION]->(n:Nation)-[:IN_REGION]->(r:Region)
        |WHERE c.name ENDS WITH '01'
        |RETURN c.name AS customer,
        |  [x IN nodes(p) | x.label] AS labels,
        |  [e IN relationships(p) | e.rel_type] AS rels,
        |  size(nodes(p)) AS n_nodes, length(p) AS len
        |ORDER BY customer""".stripMargin,
      nodes(s, dir), edges(s, dir))
      // g43 law: path sequences are positional — join unsorted.
      .select(col("customer"), array_join(col("labels"), "|").as("labels"),
        array_join(col("rels"), "|").as("rels"),
        col("n_nodes"), col("len"))
      .orderBy("customer")

  /** g73 — pattern predicates with BOTH endpoints bound (the
    * set-difference idiom `MATCH (a) MATCH (b) WHERE NOT (a)-[:R]->(b)`
    * — inherently pairwise, same cost Neo4j pays): the predicate
    * compiles to ONE distinct edge-pair probe anti/semi-joined on both
    * uids. Under OR it becomes a two-key boolean flag column, so the
    * WHERE tree still combines freely. Disconnected MATCH clauses are
    * accepted exactly when the WHERE correlates them. */
  def g73CypherBoundPattern(s: SparkSession, dir: String): DataFrame =
    graft.graph.CypherFrontend.run(
      """MATCH (sp:Supplier) MATCH (n:Nation)
        |WHERE n.name ENDS WITH '2' AND NOT (sp)-[:IN_NATION]->(n)
        |RETURN n.name AS nation, count(sp) AS cnt, 'not' AS tag
        |UNION ALL
        |MATCH (sp:Supplier) MATCH (n:Nation)
        |WHERE n.name ENDS WITH '2'
        |  AND ((sp)-[:IN_NATION]->(n) OR sp.name ENDS WITH '9')
        |RETURN n.name AS nation, count(sp) AS cnt, 'or' AS tag""".stripMargin,
      nodes(s, dir), edges(s, dir))
      .orderBy("tag", "nation")

  /** g74 — entity functions: labels(n) (full list), reverse (string),
    * startNode(r)/endNode(r) (endpoint entities off the edge frame's
    * carried labels — pure projection, no node join). */
  def g74CypherEntityFns(s: SparkSession, dir: String): DataFrame =
    graft.graph.CypherFrontend.run(
      """MATCH (n:Nation)-[r:IN_REGION]->(rg:Region)
        |WHERE n.name ENDS WITH '3'
        |RETURN n.name AS nation, labels(n) AS ls, reverse(n.name) AS rev,
        |  [x IN [startNode(r), endNode(r)] | x.label] AS endpoints
        |ORDER BY nation""".stripMargin,
      nodes(s, dir), edges(s, dir))
      // g43 law: labels(n) order-canonicalized; the start/end pair is
      // positional — join unsorted.
      .select(col("nation"), array_join(array_sort(col("ls")), "|").as("ls"),
        col("rev"), array_join(col("endpoints"), "|").as("endpoints"))
      .orderBy("nation")

  /** g75 — `RETURN *` / `WITH *`: expansion to every in-scope named
    * variable (name-sorted), the REPL idiom every Neo4j user types
    * first. Expansion happens post-pipeline where the scope is known;
    * extra items compose (`WITH *, expr AS x`). */
  def g75CypherStar(s: SparkSession, dir: String): DataFrame =
    graft.graph.CypherFrontend.run(
      """MATCH (n:Nation)-[r:IN_REGION]->(rg:Region)
        |WITH n.name AS nation, rg.name AS region, type(r) AS rel
        |WITH *, replace(nation, 'NATION', 'N') AS k
        |WHERE nation ENDS WITH '3'
        |RETURN * ORDER BY nation""".stripMargin,
      nodes(s, dir), edges(s, dir))

  /** g76 — VAR-LENGTH and multi-hop bare pattern predicates:
    * `WHERE (c)-[*2..2]->(:Region)` / `WHERE (c)-[*1..2]->(r)` with a
    * bound target — parsed as full chains and compiled to the SAME
    * EXISTS{} machinery (distinct shared-key probes, semi joins), so
    * the var-length walk frame never widens the outer row set. */
  def g76CypherVarlenPred(s: SparkSession, dir: String): DataFrame =
    graft.graph.CypherFrontend.run(
      """MATCH (c:Customer)
        |WHERE (c)-[*2..2]->(:Region) AND c.name ENDS WITH '00'
        |RETURN c.name AS customer, 'reach2' AS tag
        |UNION ALL
        |MATCH (c:Customer) MATCH (r:Region)
        |WHERE (c)-[*1..2]->(r) AND c.name ENDS WITH '00'
        |RETURN c.name AS customer, r.name AS tag""".stripMargin,
      nodes(s, dir), edges(s, dir))
      .orderBy("customer", "tag")

  /** g77 — property maps on VAR-LENGTH relationships (the last
    * property-map position the parser refused): `-[r*1..2 {k: v}]->`
    * filters EVERY hop's edge (Neo4j's contract), compiled as ONE
    * edge-set filter below the k-fold joins — never a post-hoc
    * hop-list scan, so at 100 TB the walk frame shrinks BEFORE it
    * joins. Bounded arm: only 1-hop customer→nation walks survive an
    * all-IN_NATION map (the 2-hop leg needs IN_REGION). Open arm: the
    * unbounded reachability closure over an all-IN_REGION edge set =
    * exactly the nation→region dimension hop. */
  def g77CypherVarlenProps(s: SparkSession, dir: String): DataFrame =
    graft.graph.CypherFrontend.run(
      """MATCH (c:Customer)-[r*1..2 {rel_type: 'IN_NATION'}]->(t)
        |RETURN t.name AS target, 'bounded' AS tag, count(*) AS walks
        |UNION ALL
        |MATCH (n:Nation)-[* {rel_type: 'IN_REGION'}]->(t)
        |RETURN t.name AS target, 'open' AS tag, count(*) AS walks""".stripMargin,
      nodes(s, dir), edges(s, dir))
      .orderBy("tag", "target")

  /** g78 — pattern existence as a VALUE (the round-8 column-only
    * refusal, now compiled): legacy `exists((n)<-[:R]-(:L))` as a WITH
    * item and an EXISTS {} chain inside a CASE CONDITION feeding the
    * same aggregation — both ride pre-joined DISTINCT-probe flag
    * columns (one keyed left join per distinct pattern), so the
    * aggregate groups by plain boolean/string columns and the 100 TB
    * cost is two broadcast-sized probes, never per-row subqueries. */
  def g78CypherExistsValue(s: SparkSession, dir: String): DataFrame =
    graft.graph.CypherFrontend.run(
      """MATCH (n)
        |WITH n, exists((n)<-[:IN_NATION]-(:Supplier)) AS supplied,
        |  CASE WHEN EXISTS { (c:Customer)-[:IN_NATION]->(n)
        |                     WHERE c.name ENDS WITH '01' }
        |       THEN 'c01' ELSE 'none' END AS ctag
        |RETURN supplied, ctag, count(*) AS n_nodes
        |ORDER BY supplied, ctag""".stripMargin,
      nodes(s, dir), edges(s, dir))

  /** g79 — pattern predicates / multi-hop EXISTS under the two
    * aggregation-adjacent positions the round-9 verdict flagged:
    * (a) OPTIONAL MATCH WHERE mixing an EXISTS {} chain (endpoint in
    * the clause frame) with a plain predicate — the flag column is
    * pre-joined onto the CLAUSE frame so the whole predicate rides the
    * left-join condition and unmatched rows stay null-padded for the
    * aggregate; (b) WITH ... WHERE AFTER aggregation, where a pattern
    * predicate semi-joins the grouped frame on the carried node uid
    * and an EXISTS {} chain does the same with its distinct-key probe.
    * Both plans stay probe-shaped: one DISTINCT broadcast-sized probe
    * per pattern, never per-row subqueries. */
  def g79CypherOptAggPred(s: SparkSession, dir: String): DataFrame =
    graft.graph.CypherFrontend.run(
      """MATCH (n:Nation)
        |OPTIONAL MATCH (n)-[r:IN_REGION]->(rg:Region)
        |WHERE EXISTS { (sp:Supplier)-[:IN_NATION]->(n)
        |               WHERE sp.name ENDS WITH '1' }
        |  AND rg.name ENDS WITH '1'
        |RETURN n.name AS nation, count(rg) AS cnt, 'opt' AS tag
        |UNION ALL
        |MATCH (c:Customer)-[:IN_NATION]->(n:Nation)
        |WITH n, count(c) AS members
        |WHERE (n)-[:IN_REGION]->(:Region)
        |  AND EXISTS { (sp:Supplier)-[:IN_NATION]->(n)
        |               WHERE sp.name ENDS WITH '1' }
        |RETURN n.name AS nation, members AS cnt, 'agg' AS tag""".stripMargin,
      nodes(s, dir), edges(s, dir))
      .orderBy("tag", "nation")

  /** g81 — `RETURN p` path VALUES (the Neo4j REPL's most common
    * query): a named path projects its canonical serialization,
    * `uid|rel_type|uid|…` in walk order (the g43 law's `|`-join;
    * direction rides the order). Fixed-length paths are pure column
    * concat; var-length paths fold the materialized hop list — no
    * extra joins either way. A shortestPath projects the BFS witness
    * of [[graft.graph.Traversal.reachFixpointWitness]]: the
    * lexicographic-min path at the pair's first-reach depth. */
  def g81CypherReturnPath(s: SparkSession, dir: String): DataFrame =
    graft.graph.CypherFrontend.run(
      """MATCH p = (c:Customer)-[*2..2]->(r:Region)
        |WHERE c.name ENDS WITH '01'
        |RETURN p AS path
        |UNION ALL
        |MATCH p = (n:Nation)-[:IN_REGION]->(r:Region)
        |WHERE n.name ENDS WITH '2'
        |RETURN p AS path
        |UNION ALL
        |MATCH p = shortestPath((c:Customer)-[*1..2]->(r:Region))
        |WHERE c.name ENDS WITH '005'
        |RETURN p AS path""".stripMargin,
      nodes(s, dir), edges(s, dir))
      .orderBy("path")

  /** g83 — pattern predicates / EXISTS {} chains binding a
    * quantifier's LAMBDA variable (the last flag-column hole): the
    * explode route — the list explodes rowid-keyed, each element
    * flag-joins like a bound node variable through the SAME distinct
    * probes outer patterns use, and the match count re-aggregates.
    * Three arms: any()+EXISTS chain with an inner WHERE (nations whose
    * customers' nation — themselves — ends in '3'), single()+direct
    * pattern (nations with exactly one supplier: the pattern holds for
    * every supplier, so single ⟺ count 1), all()+direct pattern mixed
    * with an outer predicate. Never per-row subqueries — one explode +
    * keyed joins + one count-aggregate per quantifier. */
  def g83CypherLambdaQuant(s: SparkSession, dir: String): DataFrame =
    graft.graph.CypherFrontend.run(
      """MATCH (n:Nation)<-[:IN_NATION]-(c:Customer)
        |WITH n, collect(c) AS cs, count(c) AS cnt
        |WHERE any(x IN cs WHERE EXISTS { (x)-[:IN_NATION]->(m:Nation)
        |                                 WHERE m.name ENDS WITH '3' })
        |RETURN 'chain' AS tag, n.name AS name, cnt
        |UNION ALL
        |MATCH (n:Nation)<-[:IN_NATION]-(sp:Supplier)
        |WITH n, collect(sp) AS ss, count(sp) AS cnt
        |WHERE single(x IN ss WHERE (x)-[:IN_NATION]->(:Nation))
        |RETURN 'single' AS tag, n.name AS name, cnt
        |UNION ALL
        |MATCH (r:Region)<-[:IN_REGION]-(n:Nation)
        |WITH r, collect(n) AS nl, count(n) AS cnt
        |WHERE all(x IN nl WHERE (x)-[:IN_REGION]->(:Region)) AND r.name >= 'A'
        |RETURN 'all' AS tag, r.name AS name, cnt""".stripMargin,
      nodes(s, dir), edges(s, dir))
      .orderBy("tag", "name")

  /** g82 — `RETURN p` on an UNBOUNDED shortestPath (the last refused
    * path-value form): the witness-carrying reachability fixpoint
    * ([[graft.graph.Traversal.reachFixpointWitness]]) carries the
    * per-level lexicographic-min serialization through the BFS, so
    * `shortestPath((a)-[*]->(b))` projects a real path value at its
    * first-reach depth — the one witness rule of every shortestPath,
    * bounded or not. Over the Customer→Nation→Region forest
    * each source has exactly ONE walk to its region, so the oracle
    * rebuilds the identical strings with plain dimension joins; the
    * multi-path tie-break (min witness at the shortest depth) is
    * pinned by CypherFrontendSpec on a diamond graph. */
  def g82CypherShortestUnbounded(s: SparkSession, dir: String): DataFrame =
    graft.graph.CypherFrontend.run(
      """MATCH p = shortestPath((c:Customer)-[*]->(r:Region))
        |WHERE c.name ENDS WITH '005'
        |RETURN p AS path, length(p) AS hops
        |UNION ALL
        |MATCH p = shortestPath((n:Nation)-[*]->(r:Region))
        |WHERE n.name ENDS WITH '2'
        |RETURN p AS path, length(p) AS hops""".stripMargin,
      nodes(s, dir), edges(s, dir))
      .orderBy("path")

  /** g80 — bare CREATE statements round-tripped through the [[GraphDb]]
    * facade (the last write shape the front-end refused): batch-create
    * Nation nodes and Customer nodes (multi-prop map, param + literal
    * mix), CREATE the IN_NATION edges between MATCH-bound endpoints,
    * then read the graph back through the same `query()` entry point
    * and aggregate. Each CREATE is one distributed append plus one
    * uniqueness-constraint job (the set-oriented analog of Neo4j's
    * per-row index check) — no per-row driver loop anywhere. */
  def g80CypherCreate(s: SparkSession, dir: String): DataFrame = {
    val db = graft.graph.GraphDb.empty(s, props = Seq("segment"),
      clock = () => lit("2026-01-01 00:00:00").cast("timestamp"))
    db.merge("CREATE (n:Nation {name: $name})",
      Tables.nation(s, dir).select(col("n_name").as("name")))
    db.merge("CREATE (c:Customer {name: $name, segment: $segment})",
      Tables.customer(s, dir)
        .select(col("c_name").as("name"), col("c_mktsegment").as("segment")))
    db.merge(
      """MATCH (c:Customer {name: $cname}) MATCH (n:Nation {name: $nname})
        |CREATE (c)-[r:IN_NATION]->(n)""".stripMargin,
      Tables.customer(s, dir)
        .join(broadcast(Tables.nation(s, dir)),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_name").as("cname"), col("n_name").as("nname")))
    db.query(
      """MATCH (c:Customer)-[:IN_NATION]->(n:Nation)
        |RETURN n.name AS nation, c.segment AS segment, count(*) AS cnt
        |ORDER BY nation, segment""".stripMargin)
  }

  val queries: Map[String, QueryFn] = Map(
    "g83_cypher_lambda_quant" -> (g83CypherLambdaQuant _),
    "g82_cypher_shortest_unbounded" -> (g82CypherShortestUnbounded _),
    "g81_cypher_return_path" -> (g81CypherReturnPath _),
    "g80_cypher_create" -> (g80CypherCreate _),
    "g79_cypher_opt_agg_pred" -> (g79CypherOptAggPred _),
    "g78_cypher_exists_value" -> (g78CypherExistsValue _),
    "g77_cypher_varlen_props" -> (g77CypherVarlenProps _),
    "g76_cypher_varlen_pred" -> (g76CypherVarlenPred _),
    "g75_cypher_star" -> (g75CypherStar _),
    "g74_cypher_entity_fns" -> (g74CypherEntityFns _),
    "g73_cypher_bound_pattern" -> (g73CypherBoundPattern _),
    "g72_cypher_path_fns" -> (g72CypherPathFns _),
    "g71_cypher_map_slice" -> (g71CypherMapSlice _),
    "g70_cypher_stats_aggs" -> (g70CypherStatsAggs _),
    "g69_cypher_pattern_comp" -> (g69CypherPatternComp _),
    "g68_cypher_concat" -> (g68CypherConcat _),
    "g67_cypher_null_order" -> (g67CypherNullOrder _),
    "g66_cypher_all_shortest" -> (g66CypherAllShortest _),
    "g65_cypher_rel_binding" -> (g65CypherRelBinding _),
    "g64_cypher_pattern_expr" -> (g64CypherPatternExpr _),
    "g63_avv_hazard" -> (g63AvvHazard _),
    "g62_cypher_collect_sub" -> (g62CypherCollectSub _),
    "g61_cypher_open_range" -> (g61CypherOpenRange _),
    "g60_cypher_exists_or" -> (g60CypherExistsOr _),
    "g59_cypher_call_zero_match" -> (g59CypherCallZeroMatch _),
    "g58_cypher_count_chain" -> (g58CypherCountChain _),
    "g57_cypher_undirected" -> (g57CypherUndirected _),
    "g56_cypher_exists_chain" -> (g56CypherExistsChain _),
    "g55_cypher_count_sub" -> (g55CypherCountSub _),
    "g54_cypher_optional_frontier" -> (g54CypherOptionalFrontier _),
    "g53_cypher_call_correlated" -> (g53CypherCallCorrelated _),
    "g50_cypher_path_profile" -> (g50CypherPathProfile _),
    "g51_cypher_list_kernels" -> (g51CypherListKernels _),
    "g52_cypher_frontier" -> (g52CypherFrontier _),
    "g49_cc_bipartite"   -> (g49CcBipartite _),
    "g48_cc_native"      -> (g48CcNative _),
    "g47_temporal_reach" -> (g47TemporalReach _),
    "g46_cypher_unbounded" -> (g46CypherUnboundedStar _),
    "g45_cypher_union"   -> (g45CypherUnion _),
    "g44_cypher_set_delete" -> (g44CypherSetDelete _),
    "g43_cypher_collect" -> (g43CypherCollect _),
    "g42_skipgram_pairs" -> (g42SkipgramPairs _),
    "g41_walk_corpus"    -> (g41WalkCorpus _),
    "g40_graphdb_lifecycle" -> (g40GraphDbLifecycle _),
    "g39_cypher_shortest" -> (g39CypherShortestPath _),
    "g38_cypher_functions" -> (g38CypherFunctions _),
    "g37_cypher_topn_pipeline" -> (g37CypherTopnPipeline _),
    "g36_cypher_case"    -> (g36CypherCase _),
    "g35_cypher_unwind"  -> (g35CypherUnwind _),
    "g34_cypher_multiwith" -> (g34CypherMultiWith _),
    "g33_cypher_with"    -> (g33CypherWith _),
    "g32_cypher_varlength" -> (g32CypherVarLength _),
    "g31_cypher_paging"  -> (g31CypherPaging _),
    "g30_cypher_optional" -> (g30CypherOptional _),
    "g29_cypher_twohop"  -> (g29CypherTwoHop _),
    "g28_cypher_top_nations" -> (g28CypherTopNations _),
    "g27_cypher_labels"  -> (g27CypherLabels _),
    "g26_butterflies"    -> (g26Butterflies _),
    "g25_clustering_coeff" -> (g25ClusteringCoeff _),
    "g24_hits"           -> (g24Hits _),
    "g23_personalized_pagerank" -> (g23PersonalizedPagerank _),
    "g22_label_propagation" -> (g22LabelPropagation _),
    "g21_kcore"          -> (g21KCore _),
    "g21b_kcore_bipartite" -> (g21bKCoreBipartite _),
    "g20_cooccurrence_lift" -> (g20CooccurrenceLift _),
    "g19_dsl_optional"   -> (g19DslOptional _),
    "g18_adamic_adar"    -> (g18AdamicAdar _),
    "g17_neighbor_jaccard" -> (g17NeighborJaccard _),
    "g16_triangles"      -> (g16Triangles _),
    "g15_degree_histogram" -> (g15DegreeHistogram _),
    "g14_dsl_reverse"    -> (g14DslReverse _),
    "g13_pagerank"       -> (g13PageRank _),
    "g12_dsl_varlength"  -> (g12DslVarLength _),
    "g11_shortest_paths" -> (g11ShortestPaths _),
    "g09_dsl_twohop"    -> (g09DslTwohop _),
    "g10_dsl_orphans"   -> (g10DslOrphans _),
    "g07_graph_fixpoint"   -> (g07Fixpoint _),
    "g08_graph_components" -> (g08Components _),
    "g01_graph_stats"   -> (g01Stats _),
    "g02_graph_expand"  -> (g02Expand _),
    "g03_graph_orphans" -> (g03Orphans _),
    "g04_graph_upsert"  -> (g04Upsert _),
    "g05_graph_validate" -> (g05Validate _),
    "g06_graph_twohop"  -> (g06TwoHop _))

  /** Shared CTE chain for g41/g42: co-click adjacency, seed subset,
    * three unrolled hash-argmin walk steps, union'd into `walks`. */
  private val walkCtes: String =
    """c AS (
      |  SELECT DISTINCT user_id, CAST(floor(epoch(ts)/300) AS BIGINT) AS b
      |  FROM events WHERE event_type = 'click'),
      |p AS (
      |  SELECT DISTINCT a.user_id AS u1, b2.user_id AS u2
      |  FROM c a JOIN c b2 USING (b) WHERE a.user_id < b2.user_id),
      |adj AS (
      |  SELECT u1, u2 FROM p UNION ALL SELECT u2, u1 FROM p),
      |s0 AS (SELECT DISTINCT u1 AS start FROM adj WHERE u1 % 17 = 0),
      |w1 AS (SELECT start, u2 AS cur FROM (
      |  SELECT s.start, a.u2, row_number() OVER (PARTITION BY s.start
      |    ORDER BY sha256(s.start || ':1:' || a.u2), a.u2) AS rn
      |  FROM s0 s JOIN adj a ON a.u1 = s.start) WHERE rn = 1),
      |w2 AS (SELECT start, u2 AS cur FROM (
      |  SELECT w.start, a.u2, row_number() OVER (PARTITION BY w.start
      |    ORDER BY sha256(w.cur || ':2:' || a.u2), a.u2) AS rn
      |  FROM w1 w JOIN adj a ON a.u1 = w.cur) WHERE rn = 1),
      |w3 AS (SELECT start, u2 AS cur FROM (
      |  SELECT w.start, a.u2, row_number() OVER (PARTITION BY w.start
      |    ORDER BY sha256(w.cur || ':3:' || a.u2), a.u2) AS rn
      |  FROM w2 w JOIN adj a ON a.u1 = w.cur) WHERE rn = 1),
      |walks AS (
      |  SELECT start, 0 AS step, start AS node FROM s0
      |  UNION ALL SELECT start, 1, cur FROM w1
      |  UNION ALL SELECT start, 2, cur FROM w2
      |  UNION ALL SELECT start, 3, cur FROM w3)""".stripMargin

  val oracles: Map[String, String] = Map(
    "g27_cypher_labels" ->
      """WITH n AS (
        |  SELECT 'Customer' AS label FROM customer
        |  UNION ALL SELECT 'Supplier' FROM supplier
        |  UNION ALL SELECT 'Nation' FROM nation
        |  UNION ALL SELECT 'Region' FROM region)
        |SELECT label, count(*) AS cnt FROM n
        |GROUP BY label ORDER BY cnt DESC, label""".stripMargin,
    "g28_cypher_top_nations" ->
      """SELECT n_name AS nation, count(*) AS customers
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY customers DESC, nation LIMIT 10""".stripMargin,
    "g29_cypher_twohop" ->
      """SELECT c_name AS customer, n_name AS nation
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'EUROPE' AND c_name LIKE '%1%'
        |ORDER BY customer, nation""".stripMargin,
    "g30_cypher_optional" ->
      """SELECT n_name AS nation, count(c_custkey) AS customers
        |FROM nation LEFT JOIN customer ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY nation""".stripMargin,
    "g31_cypher_paging" ->
      """SELECT n_name AS nation, r_name AS region
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |ORDER BY nation OFFSET 5 LIMIT 10""".stripMargin,
    // g32: the walk census of the typed 2-bounded expansion — every
    // customer/supplier contributes one depth-1 walk to its nation and
    // one depth-2 walk to its region; every nation one depth-1 walk to
    // its region. Counts are table cardinalities.
    "g32_cypher_varlength" ->
      """SELECT src, dst, paths FROM (
        |  SELECT 'Customer' AS src, 'Nation' AS dst, count(*) AS paths FROM customer
        |  UNION ALL SELECT 'Customer', 'Region', count(*) FROM customer
        |  UNION ALL SELECT 'Supplier', 'Nation', count(*) FROM supplier
        |  UNION ALL SELECT 'Supplier', 'Region', count(*) FROM supplier
        |  UNION ALL SELECT 'Nation', 'Region', count(*) FROM nation)
        |ORDER BY src, dst""".stripMargin,
    "g33_cypher_with" ->
      """SELECT r_name AS region, n_name AS nation, customers FROM (
        |  SELECT c_nationkey AS nk, count(*) AS customers
        |  FROM customer GROUP BY c_nationkey HAVING count(*) >= 20) g
        |JOIN nation ON n_nationkey = g.nk
        |JOIN region ON n_regionkey = r_regionkey
        |ORDER BY region, nation""".stripMargin,
    "g34_cypher_multiwith" ->
      """SELECT r_name AS region, CAST(sum(customers) AS BIGINT) AS big_customers FROM (
        |  SELECT c_nationkey AS nk, count(*) AS customers
        |  FROM customer GROUP BY c_nationkey HAVING count(*) >= 20) g
        |JOIN nation ON n_nationkey = g.nk
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY region""".stripMargin,
    "g35_cypher_unwind" ->
      """SELECT r_name AS region, count(*) AS nations
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name IN ('EUROPE', 'ASIA')
        |GROUP BY r_name ORDER BY region""".stripMargin,
    "g40_graphdb_lifecycle" ->
      """SELECT n_name AS name, 'Nation:' || n_nationkey AS uid
        |FROM nation ORDER BY name""".stripMargin,
    // g41/g42: the same hash-choice walk unrolled — valid below the
    // bucket cap like every co-click oracle (cap contract documented
    // at capBuckets).
    // g47: same first-click buckets, same time-directed edges, same
    // at-or-after hop constraint (cap-valid like every co-click gate).
    // g50: the two walk grains written out — 1 hop lands on the
    // customer's nation, 2 hops on its region; the regex cohort is the
    // same full-match slice.
    "g50_cypher_path_profile" ->
      """WITH sel AS (
        |  SELECT c_custkey, c_nationkey FROM customer
        |  WHERE regexp_full_match(c_name, 'Customer#0000000[0-9]{2}'))
        |SELECT 'Nation' AS target, CAST(1 AS INT) AS hops,
        |  CAST(count(*) AS BIGINT) AS walks FROM sel
        |UNION ALL
        |SELECT 'Region', CAST(2 AS INT), CAST(count(*) AS BIGINT)
        |FROM sel JOIN nation ON c_nationkey = n_nationkey
        |ORDER BY target, hops""".stripMargin,
    // g51: the list kernels ARE plain SQL aggregates — the fold over
    // collected name lengths is sum(length), the counted comprehension
    // a filtered count.
    // g52: label predicate = the label column; any(...) over the split
    // parts = the suffix membership; ^ = pow (double); CALL count = the
    // region cardinality on every row.
    // g58: 2-hop match counts per region; empty bindings count 0.
    "g58_cypher_count_chain" ->
      """SELECT r_name AS region,
        |  CAST(count(c_custkey) AS BIGINT) AS customers
        |FROM region
        |LEFT JOIN nation ON n_regionkey = r_regionkey
        |LEFT JOIN customer ON c_nationkey = n_nationkey
        |GROUP BY r_name ORDER BY region""".stripMargin,
    // g57: undirected neighbors = members (against the edges) + the
    // region (along it).
    "g57_cypher_undirected" ->
      """SELECT n_name AS nation, members + 1 AS neighbors FROM nation JOIN (
        |  SELECT k, count(*) AS members FROM (
        |    SELECT c_nationkey AS k FROM customer
        |    UNION ALL SELECT s_nationkey FROM supplier) GROUP BY k) m
        |ON n_nationkey = m.k
        |ORDER BY nation""".stripMargin,
    // g56: the two existential shapes as plain IN-subqueries.
    "g56_cypher_exists_chain" ->
      """SELECT name, tag FROM (
        |  SELECT n_name AS name, 'both' AS tag FROM nation
        |  WHERE n_nationkey IN (SELECT c_nationkey FROM customer)
        |    AND n_nationkey IN (SELECT s_nationkey FROM supplier)
        |  UNION ALL
        |  SELECT r_name, 'reach' FROM region
        |  WHERE r_regionkey IN (
        |    SELECT n_regionkey FROM nation
        |    JOIN customer ON c_nationkey = n_nationkey
        |    WHERE c_name LIKE '%1'))
        |ORDER BY tag, name""".stripMargin,
    // g55: COUNT {} degree = customers + suppliers per nation.
    "g55_cypher_count_sub" ->
      """SELECT n_name AS nation, members FROM nation JOIN (
        |  SELECT k, count(*) AS members FROM (
        |    SELECT c_nationkey AS k FROM customer
        |    UNION ALL SELECT s_nationkey FROM supplier) GROUP BY k) m
        |ON n_nationkey = m.k
        |WHERE members >= 1
        |ORDER BY nation""".stripMargin,
    // g54: OPTIONAL shortestPath — nations reach their region (depth 1)
    // only when it starts with 'A', else the row survives null-padded;
    // the OR-pattern branch keeps nations (have IN_REGION) and regions
    // (no outgoing edge at all), dropping customers/suppliers.
    "g54_cypher_optional_frontier" ->
      """SELECT name, tag, v FROM (
        |  SELECT n_name AS name,
        |    CASE WHEN r_name LIKE 'A%' THEN r_name ELSE 'none' END AS tag,
        |    CASE WHEN r_name LIKE 'A%' THEN 1 ELSE -1 END AS v
        |  FROM nation JOIN region ON n_regionkey = r_regionkey
        |  UNION ALL
        |  SELECT n_name, 'Nation', 0 FROM nation
        |  UNION ALL
        |  SELECT r_name, 'Region', 0 FROM region)
        |ORDER BY name, tag, v""".stripMargin,
    // g83: each arm's quantifier collapses to plain relational logic —
    // chain: customers' own nation ends in '3'; single: exactly one
    // supplier; all: trivially true over the nation→region forest.
    "g83_cypher_lambda_quant" ->
      """SELECT tag, name, cnt FROM (
        |  SELECT 'chain' AS tag, n_name AS name,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM customer JOIN nation ON c_nationkey = n_nationkey
        |  WHERE n_name LIKE '%3' GROUP BY n_name
        |  UNION ALL
        |  SELECT 'single', n_name, CAST(count(*) AS BIGINT)
        |  FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |  GROUP BY n_name HAVING count(*) = 1
        |  UNION ALL
        |  SELECT 'all', r_name, CAST(count(*) AS BIGINT)
        |  FROM nation JOIN region ON n_regionkey = r_regionkey
        |  GROUP BY r_name)
        |ORDER BY tag, name""".stripMargin,
    // g82: each source's unique walk to its region — the witness the
    // fixpoint must elect — rebuilt by string concat over the joins.
    "g82_cypher_shortest_unbounded" ->
      """SELECT path, hops FROM (
        |  SELECT 'Customer:' || c_custkey || '|IN_NATION|Nation:' ||
        |    n_nationkey || '|IN_REGION|Region:' || r_regionkey AS path,
        |    2 AS hops
        |  FROM customer JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  WHERE c_name LIKE '%005'
        |  UNION ALL
        |  SELECT 'Nation:' || n_nationkey || '|IN_REGION|Region:' ||
        |    r_regionkey, 1
        |  FROM nation JOIN region ON n_regionkey = r_regionkey
        |  WHERE n_name LIKE '%2')
        |ORDER BY path""".stripMargin,
    // g81: the canonical path strings rebuilt by string concat over
    // the same joins (uids in the g-graph are 'Label:key').
    "g81_cypher_return_path" ->
      """SELECT path FROM (
        |  SELECT 'Customer:' || c_custkey || '|IN_NATION|Nation:' ||
        |    n_nationkey || '|IN_REGION|Region:' || r_regionkey AS path
        |  FROM customer JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  WHERE c_name LIKE '%01'
        |  UNION ALL
        |  SELECT 'Nation:' || n_nationkey || '|IN_REGION|Region:' || r_regionkey
        |  FROM nation JOIN region ON n_regionkey = r_regionkey
        |  WHERE n_name LIKE '%2'
        |  UNION ALL
        |  -- shortestPath witness: each customer's unique 2-hop walk to
        |  -- its region (no 1-hop customer->region edges exist)
        |  SELECT 'Customer:' || c_custkey || '|IN_NATION|Nation:' ||
        |    n_nationkey || '|IN_REGION|Region:' || r_regionkey
        |  FROM customer JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  WHERE c_name LIKE '%005')
        |ORDER BY path""".stripMargin,
    // g79: arm (a) = one optional region row per nation, matched iff
    // the nation has a %1 supplier AND its region ends in 1; arm (b)
    // = customer counts for nations with a %1 supplier.
    "g79_cypher_opt_agg_pred" ->
      """SELECT nation, cnt, tag FROM (
        |  SELECT n_name AS nation,
        |    CAST(CASE WHEN n_nationkey IN (
        |        SELECT s_nationkey FROM supplier WHERE s_name LIKE '%1')
        |      AND EXISTS (SELECT 1 FROM region
        |        WHERE r_regionkey = n_regionkey AND r_name LIKE '%1')
        |      THEN 1 ELSE 0 END AS BIGINT) AS cnt, 'opt' AS tag
        |  FROM nation
        |  UNION ALL
        |  SELECT n_name, CAST(count(*) AS BIGINT), 'agg'
        |  FROM customer JOIN nation ON c_nationkey = n_nationkey
        |  WHERE n_nationkey IN (
        |    SELECT s_nationkey FROM supplier WHERE s_name LIKE '%1')
        |  GROUP BY n_name)
        |ORDER BY tag, nation""".stripMargin,
    // g80: the created graph IS customer⋈nation — the round-trip
    // aggregate must equal the relational group-by.
    "g80_cypher_create" ->
      """SELECT n_name AS nation, c_mktsegment AS segment,
        |  CAST(count(*) AS BIGINT) AS cnt
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY 1, 2 ORDER BY nation, segment""".stripMargin,
    // g78: the flag columns as plain boolean/CASE SQL over
    // IN-subqueries, grouped.
    "g78_cypher_exists_value" ->
      """SELECT supplied, ctag, CAST(count(*) AS BIGINT) AS n_nodes FROM (
        |  SELECT n_nationkey IN (SELECT s_nationkey FROM supplier) AS supplied,
        |    CASE WHEN n_nationkey IN (
        |           SELECT c_nationkey FROM customer WHERE c_name LIKE '%01')
        |         THEN 'c01' ELSE 'none' END AS ctag
        |  FROM nation
        |  UNION ALL SELECT FALSE, 'none' FROM customer
        |  UNION ALL SELECT FALSE, 'none' FROM supplier
        |  UNION ALL SELECT FALSE, 'none' FROM region)
        |GROUP BY 1, 2 ORDER BY supplied, ctag""".stripMargin,
    // g77: an all-IN_NATION hop map keeps only the 1-hop
    // customer→nation walks; the open all-IN_REGION closure is the
    // nation→region hop.
    "g77_cypher_varlen_props" ->
      """SELECT target, tag, walks FROM (
        |  SELECT n_name AS target, 'bounded' AS tag,
        |    CAST(count(*) AS BIGINT) AS walks
        |  FROM customer JOIN nation ON c_nationkey = n_nationkey
        |  GROUP BY n_name
        |  UNION ALL
        |  SELECT r_name, 'open', CAST(count(*) AS BIGINT)
        |  FROM nation JOIN region ON n_regionkey = r_regionkey
        |  GROUP BY r_name)
        |ORDER BY tag, target""".stripMargin,
    // g76: every customer reaches exactly its region in 2 hops
    // (cust→nation→region); the bound-target form pairs each customer
    // with that one region.
    "g76_cypher_varlen_pred" ->
      """SELECT customer, tag FROM (
        |  SELECT c_name AS customer, 'reach2' AS tag
        |  FROM customer WHERE c_name LIKE '%00'
        |  UNION ALL
        |  SELECT c_name, r_name
        |  FROM customer JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  WHERE c_name LIKE '%00')
        |ORDER BY customer, tag""".stripMargin,
    // g73: pair anti-join = total minus in-nation; OR-flag branch =
    // in-nation or '9'-suffixed suppliers, per '2'-nation.
    "g73_cypher_bound_pattern" ->
      """SELECT nation, cnt, tag FROM (
        |  SELECT n_name AS nation,
        |    (SELECT count(*) FROM supplier) -
        |    (SELECT count(*) FROM supplier WHERE s_nationkey = n_nationkey) AS cnt,
        |    'not' AS tag
        |  FROM nation WHERE n_name LIKE '%2'
        |  UNION ALL
        |  SELECT n_name,
        |    (SELECT count(*) FROM supplier
        |     WHERE s_nationkey = n_nationkey OR s_name LIKE '%9'),
        |    'or'
        |  FROM nation WHERE n_name LIKE '%2')
        |ORDER BY tag, nation""".stripMargin,
    // g74: entity functions are constants/string ops over the chain;
    // lists pre-serialized per the g43 law (driver-hashable scalars).
    "g74_cypher_entity_fns" ->
      """SELECT n_name AS nation, 'Nation' AS ls, reverse(n_name) AS rev,
        |  'Nation|Region' AS endpoints
        |FROM nation WHERE n_name LIKE '%3' ORDER BY nation""".stripMargin,
    // g75: RETURN * expands to the name-sorted scope (k, nation,
    // region, rel) — the compare sorts columns by name anyway.
    "g75_cypher_star" ->
      """SELECT replace(n_name, 'NATION', 'N') AS k, n_name AS nation, r_name AS region,
        |  'IN_REGION' AS rel
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |WHERE n_name LIKE '%3' ORDER BY nation""".stripMargin,
    // g72: every customer has exactly one nation→region chain, so the
    // path arrays are the constant label/type sequences.
    "g72_cypher_path_fns" ->
      """SELECT c_name AS customer,
        |  'Customer|Nation|Region' AS labels,
        |  'IN_NATION|IN_REGION' AS rels,
        |  CAST(3 AS INT) AS n_nodes, CAST(2 AS INT) AS len
        |FROM customer WHERE c_name LIKE '%01'
        |ORDER BY customer""".stripMargin,
    // g71: DuckDB struct literals + 1-based-inclusive list slicing
    // mirror the Cypher 0-based-exclusive forms; struct gated as
    // compact JSON and slices as '|'-joins per the g43 law (both
    // engines render {"k":v} identically — verified byte-equal).
    "g71_cypher_map_slice" ->
      """WITH nl AS (
        |  SELECT r_name,
        |    (SELECT coalesce(list(n_name ORDER BY n_name), CAST([] AS VARCHAR[]))
        |     FROM nation WHERE n_regionkey = r_regionkey) AS L,
        |    (SELECT CAST(count(*) AS INT) FROM nation
        |     WHERE n_regionkey = r_regionkey) AS n
        |  FROM region)
        |SELECT r_name AS region,
        |  CAST(to_json({'region': r_name, 'n_nations': n}) AS VARCHAR) AS info,
        |  array_to_string(L[1:2], '|') AS first2,
        |  array_to_string(L[-1:], '|') AS last1,
        |  array_to_string(L[2:][1:2], '|') AS mid
        |FROM nl ORDER BY region""".stripMargin,
    // g70: stddev/percentile aggregates; quantile_cont matches
    // Spark's exact interpolated percentile, and at p=0.5 the
    // discrete forms (Neo4j ceil(p*n) nearest-rank, DuckDB/Postgres
    // first-value-at-cume>=p) coincide for every n.
    "g70_cypher_stats_aggs" ->
      """SELECT n_name AS nation,
        |  round(stddev_samp(length(c_name)), 6) AS sd,
        |  round(stddev_pop(length(c_name)), 6) AS sdp,
        |  round(quantile_cont(length(c_name), 0.5), 6) AS med,
        |  CAST(quantile_disc(length(c_name), 0.5) AS INT) AS medd,
        |  count(*) AS n_cust
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY nation""".stripMargin,
    // g69: the comprehension lists as ordered list() scalar
    // subqueries; the empty filtered comprehension counts 0.
    "g69_cypher_pattern_comp" ->
      """SELECT r_name AS region,
        |  (SELECT coalesce(string_agg(n_name, '|' ORDER BY n_name), '')
        |   FROM nation WHERE n_regionkey = r_regionkey) AS nations,
        |  (SELECT CAST(count(*) AS INT) FROM nation
        |   WHERE n_regionkey = r_regionkey AND n_name LIKE '%4') AS fours
        |FROM region ORDER BY region""".stripMargin,
    // g68: Cypher + = SQL || for strings, list concat sized directly.
    "g68_cypher_concat" ->
      """SELECT n_name || '@' || r_name AS tagged,
        |  'key=' || n_name AS keyed,
        |  CAST(2 AS INT) AS n_both,
        |  n_name || '#' || CAST(length(n_name) AS VARCHAR) AS numtail
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |WHERE n_name LIKE '%3'
        |ORDER BY tagged""".stripMargin,
    // g67: Neo4j null ordering made explicit (NULLS LAST asc / NULLS
    // FIRST desc); the LIMITs make null placement row-observable.
    "g67_cypher_null_order" ->
      """SELECT name, k, tag FROM (
        |  SELECT n_name AS name,
        |    CASE WHEN n_name LIKE '%2' THEN NULL ELSE length(n_name) END AS k,
        |    'asc' AS tag
        |  FROM nation ORDER BY k ASC NULLS LAST, name LIMIT 12)
        |UNION ALL
        |SELECT name, k, tag FROM (
        |  SELECT n_name AS name,
        |    CASE WHEN n_name LIKE '%2' THEN NULL ELSE length(n_name) END AS k,
        |    'desc' AS tag
        |  FROM nation ORDER BY k DESC NULLS FIRST, name LIMIT 3)""".stripMargin,
    // g66: each supplier's tied shortest paths to '1'-customers are
    // the single 2-hop route through its nation.
    "g66_cypher_all_shortest" ->
      """SELECT s_name AS supplier, CAST(count(*) AS BIGINT) AS reachable,
        |  CAST(2 AS INT) AS len
        |FROM supplier JOIN customer ON s_nationkey = c_nationkey
        |WHERE c_name LIKE '%1'
        |GROUP BY s_name ORDER BY supplier""".stripMargin,
    // g65: every 2-hop customer walk is cust→nation→region; the hop
    // types are constant and the second hop's source is the nation.
    "g65_cypher_rel_binding" ->
      """SELECT r_name AS region,
        |  'IN_NATION|IN_REGION' AS types,
        |  CAST(count(*) AS BIGINT) AS walks,
        |  CAST(count(DISTINCT 'Nation:' || n_nationkey) AS BIGINT)
        |    AS via_nations
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY region""".stripMargin,
    // g64: the flag columns as plain CASE-over-IN-subquery SQL.
    "g64_cypher_pattern_expr" ->
      """SELECT tag, n FROM (
        |  SELECT CASE WHEN n_nationkey IN (SELECT s_nationkey FROM supplier)
        |         THEN 'supplied' ELSE 'bare' END AS tag,
        |         CAST(count(*) AS BIGINT) AS n
        |  FROM nation GROUP BY 1
        |  UNION ALL
        |  SELECT CASE WHEN r_regionkey IN (
        |           SELECT n_regionkey FROM nation
        |           JOIN customer ON c_nationkey = n_nationkey
        |           WHERE c_name LIKE '%1')
        |         THEN 'reached' ELSE 'dark' END,
        |         CAST(count(*) AS BIGINT)
        |  FROM region GROUP BY 1)
        |ORDER BY tag, n""".stripMargin,
    // g63: regenerate the synthetic hierarchy and roll the star up by
    // prefix EXISTS — contains_hazard at level 1/2 ⇔ a starred leaf
    // under the prefix.
    "g63_avv_hazard" ->
      """WITH leaf0 AS (
        |  SELECT printf('%02d %02d %02d', p_partkey % 18 + 1,
        |           p_partkey % 9 + 1, p_partkey % 9 + 1) AS base,
        |         bool_or(p_partkey % 5 = 0) AS star
        |  FROM part GROUP BY base),
        |leaves AS (
        |  SELECT base, base || CASE WHEN star THEN '*' ELSE '' END AS code,
        |         star FROM leaf0),
        |l2 AS (SELECT DISTINCT substr(base, 1, 5) AS code FROM leaves),
        |l1 AS (SELECT DISTINCT substr(base, 1, 2) AS code FROM leaves)
        |SELECT code, level, is_hazardous, contains_hazard, parent_code FROM (
        |  SELECT code, 3 AS level, star AS is_hazardous,
        |         star AS contains_hazard, substr(base, 1, 5) AS parent_code
        |  FROM leaves
        |  UNION ALL
        |  SELECT l2.code, 2, FALSE,
        |         EXISTS (SELECT 1 FROM leaves
        |                 WHERE substr(base, 1, 5) = l2.code AND star),
        |         substr(l2.code, 1, 2) FROM l2
        |  UNION ALL
        |  SELECT l1.code, 1, FALSE,
        |         EXISTS (SELECT 1 FROM leaves
        |                 WHERE substr(base, 1, 2) = l1.code AND star),
        |         NULL FROM l1)
        |ORDER BY code""".stripMargin,
    // g62: DuckDB's ordered list() aggregates in scalar subqueries;
    // the empty collect coalesces to '' — per the g43 law every list
    // gates as a '|'-joined scalar (top2 keeps its DESC order).
    "g62_cypher_collect_sub" ->
      """SELECT r_name AS region,
        |  (SELECT coalesce(string_agg(n_name, '|' ORDER BY n_name), '')
        |   FROM nation WHERE n_regionkey = r_regionkey) AS nations,
        |  (SELECT array_to_string(
        |     coalesce(list(n_name ORDER BY n_name DESC), CAST([] AS VARCHAR[]))[1:2], '|')
        |   FROM nation WHERE n_regionkey = r_regionkey) AS top2,
        |  (SELECT coalesce(string_agg(n_name, '|' ORDER BY n_name), '')
        |   FROM nation WHERE n_regionkey = r_regionkey
        |     AND n_name LIKE '%4') AS four
        |FROM region ORDER BY region""".stripMargin,
    // g61: depth ≥ 2 from a customer = its region; shortest
    // customer→region path = always the 2-hop dimension chain.
    "g61_cypher_open_range" ->
      """SELECT target, hops, n_sources FROM (
        |  SELECT r_name AS target, -1 AS hops,
        |    CAST(count(*) AS BIGINT) AS n_sources
        |  FROM customer JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  GROUP BY r_name
        |  UNION ALL
        |  SELECT r_name, 2, CAST(count(*) AS BIGINT)
        |  FROM customer JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  GROUP BY r_name)
        |ORDER BY target, hops""".stripMargin,
    // g60: the flag-column OR/XOR trees as plain boolean SQL over
    // IN-subqueries (all keys non-null, NOT IN is safe).
    "g60_cypher_exists_or" ->
      """SELECT name, tag FROM (
        |  SELECT n_name AS name, 'or' AS tag FROM nation
        |  WHERE n_nationkey IN (
        |      SELECT c_nationkey FROM customer WHERE c_name LIKE '%1')
        |    OR n_nationkey NOT IN (SELECT s_nationkey FROM supplier)
        |  UNION ALL
        |  SELECT r_name, 'xor' FROM region
        |  WHERE (r_regionkey IN (
        |      SELECT n_regionkey FROM nation
        |      JOIN customer ON c_nationkey = n_nationkey
        |      WHERE c_name LIKE '%1'))
        |    <> (r_regionkey IN (
        |      SELECT n_regionkey FROM nation
        |      JOIN supplier ON s_nationkey = n_nationkey
        |      WHERE s_name LIKE '%01')))
        |ORDER BY tag, name""".stripMargin,
    // g59: zero-match bindings survive — DuckDB's ungrouped lateral
    // aggregate returns one row per region even with zero nations.
    "g59_cypher_call_zero_match" ->
      """SELECT r_name AS region, n4, chars4, first4, scaled
        |FROM region, LATERAL (
        |  SELECT CAST(count(*) AS BIGINT) AS n4,
        |         CAST(coalesce(sum(length(n_name)), 0) AS BIGINT) AS chars4,
        |         min(n_name) AS first4,
        |         CAST(count(*) * 10 + 1 AS BIGINT) AS scaled
        |  FROM nation
        |  WHERE n_regionkey = r_regionkey AND n_name LIKE '%4')
        |ORDER BY region""".stripMargin,
    // g53: correlated CALL subqueries vs DuckDB LATERAL — a lateral
    // count and a lateral ORDER BY + LIMIT 2 per region.
    "g53_cypher_call_correlated" ->
      """SELECT r_name AS region, n_nations, top_nation
        |FROM region,
        |  LATERAL (SELECT count(*) AS n_nations FROM nation
        |           WHERE n_regionkey = r_regionkey),
        |  LATERAL (SELECT n_name AS top_nation FROM nation
        |           WHERE n_regionkey = r_regionkey
        |           ORDER BY n_name LIMIT 2)
        |ORDER BY region, top_nation""".stripMargin,
    "g52_cypher_frontier" ->
      """SELECT n_name AS nation,
        |  split_part(n_name, '_', 2) AS suffix,
        |  pow(CAST(split_part(n_name, '_', 2) AS BIGINT), 2) AS sq,
        |  (SELECT CAST(count(*) AS BIGINT) FROM region) AS n_regions
        |FROM nation
        |WHERE split_part(n_name, '_', 2) IN ('1', '2', '3')
        |ORDER BY nation""".stripMargin,
    "g51_cypher_list_kernels" ->
      """SELECT r_name AS region,
        |  CAST(sum(length(n_name)) AS BIGINT) AS name_chars,
        |  CAST(count(*) FILTER (WHERE n_name LIKE '%1%') AS INT) AS with_1
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY region""".stripMargin,
    // g49: connectivity is bucket-mediated either way — the bipartite
    // engine must reproduce the pair-closure oracle exactly.
    "g49_cc_bipartite" ->
      """WITH RECURSIVE c AS (
        |  SELECT DISTINCT user_id, CAST(floor(epoch(ts)/300) AS BIGINT) AS b
        |  FROM events WHERE event_type = 'click'),
        |p AS (
        |  SELECT DISTINCT a.user_id AS u1, b2.user_id AS u2
        |  FROM c a JOIN c b2 USING (b) WHERE a.user_id < b2.user_id),
        |adj AS (SELECT u1, u2 FROM p UNION ALL SELECT u2, u1 FROM p),
        |verts AS (SELECT DISTINCT user_id AS v FROM c),
        |reach AS (
        |  SELECT v, v AS r FROM verts
        |  UNION
        |  SELECT a.u2 AS v, reach.r FROM reach JOIN adj a ON a.u1 = reach.v),
        |comp AS (SELECT v AS user_id, min(r) AS component FROM reach GROUP BY v),
        |sz AS (SELECT component, CAST(count(*) AS BIGINT) AS comp_size
        |  FROM comp GROUP BY component)
        |SELECT user_id, component, comp_size FROM comp JOIN sz USING (component)
        |ORDER BY user_id""".stripMargin,
    // g48: min-id CC as recursive-CTE closure (origin r floods along
    // symmetric adjacency; min origin per vertex = component min).
    "g48_cc_native" ->
      """WITH RECURSIVE c AS (
        |  SELECT DISTINCT user_id, CAST(floor(epoch(ts)/300) AS BIGINT) AS b
        |  FROM events WHERE event_type = 'click'),
        |p AS (
        |  SELECT DISTINCT a.user_id AS u1, b2.user_id AS u2
        |  FROM c a JOIN c b2 USING (b) WHERE a.user_id < b2.user_id),
        |adj AS (SELECT u1, u2 FROM p UNION ALL SELECT u2, u1 FROM p),
        |verts AS (SELECT DISTINCT user_id AS v FROM c),
        |reach AS (
        |  SELECT v, v AS r FROM verts
        |  UNION
        |  SELECT a.u2 AS v, reach.r FROM reach JOIN adj a ON a.u1 = reach.v),
        |comp AS (SELECT v AS user_id, min(r) AS component FROM reach GROUP BY v),
        |sz AS (SELECT component, CAST(count(*) AS BIGINT) AS comp_size
        |  FROM comp GROUP BY component)
        |SELECT user_id, component, comp_size FROM comp JOIN sz USING (component)
        |ORDER BY user_id""".stripMargin,
    "g47_temporal_reach" ->
      """WITH f AS (
        |  SELECT user_id, CAST(floor(epoch(ts)/300) AS BIGINT) AS b,
        |    min(CAST(floor(epoch(ts)) AS BIGINT)) AS t
        |  FROM events WHERE event_type = 'click' GROUP BY 1, 2),
        |e AS (
        |  SELECT a.user_id AS src, c.user_id AS dst,
        |    a.t AS t_src, c.t AS t_dst
        |  FROM f a JOIN f c ON a.b = c.b
        |  WHERE a.t < c.t OR (a.t = c.t AND a.user_id < c.user_id)),
        |h AS (
        |  SELECT e1.src AS u, e2.dst AS w
        |  FROM e e1 JOIN e e2 ON e1.dst = e2.src
        |  WHERE e2.t_src >= e1.t_dst AND e2.dst <> e1.src)
        |SELECT u AS user_id, CAST(count(DISTINCT w) AS BIGINT) AS reach2
        |FROM h GROUP BY u
        |ORDER BY reach2 DESC, user_id LIMIT 30""".stripMargin,
    // g46: unbounded reachability from customers = nation (1 hop) plus
    // region (2 hops); counts per target name.
    "g46_cypher_unbounded" ->
      """SELECT target, CAST(count(*) AS BIGINT) AS n_sources FROM (
        |  SELECT n_name AS target FROM customer
        |  JOIN nation ON c_nationkey = n_nationkey
        |  UNION ALL
        |  SELECT r_name FROM customer
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey)
        |GROUP BY target ORDER BY target""".stripMargin,
    // g45: SQL UNION (dedups) mirrors Cypher UNION exactly.
    "g45_cypher_union" ->
      """SELECT n_name AS nation FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'EUROPE'
        |UNION
        |SELECT n_name FROM nation
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'AFRICA'
        |ORDER BY nation""".stripMargin,
    // g44: surviving topology after SET + DETACH DELETE — the status
    // flag is the name-contains-'A' predicate, AFRICA's nations lose
    // their region edges with the cascade.
    "g44_cypher_set_delete" ->
      """SELECT r_name AS region, n_name AS nation,
        |  CASE WHEN n_name LIKE '%A%' THEN 'flagged' END AS status
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name <> 'AFRICA'
        |ORDER BY region, nation""".stripMargin,
    // g43: Cypher collect() vs DuckDB string_agg(); both sides
    // canonicalize element order (array_sort / ORDER BY) and serialize
    // to a '|'-joined scalar so the gate compares plain strings.
    "g43_cypher_collect" ->
      """SELECT r_name AS region,
        |  string_agg(n_name, '|' ORDER BY n_name) AS nations,
        |  count(DISTINCT n_nationkey) AS n_nations
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY region""".stripMargin,
    "g41_walk_corpus" ->
      s"""WITH $walkCtes
        |SELECT start, step, node FROM walks
        |ORDER BY start, step""".stripMargin,
    "g42_skipgram_pairs" ->
      s"""WITH $walkCtes
        |SELECT a.node AS center, b.node AS context, count(*) AS cnt
        |FROM walks a JOIN walks b ON a.start = b.start
        |WHERE a.step <> b.step AND abs(a.step - b.step) <= 2
        |GROUP BY 1, 2
        |ORDER BY cnt DESC, center, context LIMIT 50""".stripMargin,
    "g39_cypher_shortest" ->
      """SELECT src, len, n FROM (
        |  SELECT 'Customer' AS src, 2 AS len, count(*) AS n FROM customer
        |  UNION ALL SELECT 'Nation', 1, count(*) FROM nation
        |  UNION ALL SELECT 'Supplier', 2, count(*) FROM supplier)
        |ORDER BY src, len""".stripMargin,
    "g38_cypher_functions" ->
      """SELECT substr(lower(n_name), 1, 3) AS prefix,
        |  count(*) AS nations, min(upper(left(r_name, 4))) AS region4
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1 ORDER BY prefix""".stripMargin,
    "g37_cypher_topn_pipeline" ->
      """SELECT n_name AS nation, r_name AS region,
        |  customers * 2 - 1 AS score FROM (
        |  SELECT n_nationkey, n_regionkey, n_name, count(*) AS customers
        |  FROM customer JOIN nation ON c_nationkey = n_nationkey
        |  GROUP BY 1, 2, 3
        |  ORDER BY customers DESC, n_name LIMIT 5) t
        |JOIN region ON n_regionkey = r_regionkey
        |ORDER BY nation""".stripMargin,
    "g36_cypher_case" ->
      """SELECT
        |  CASE WHEN r_name IN ('EUROPE', 'ASIA') THEN 'east' ELSE 'other' END AS zone,
        |  count(*) AS customers,
        |  CAST(sum(CASE WHEN n_name LIKE '%A%' THEN 1 ELSE 0 END) AS BIGINT) AS in_a_nations
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1 ORDER BY zone""".stripMargin,
    // g24: the two HITS rounds unrolled as CTEs with the identical
    // integer max-norm; DuckDB's HUGEINT sums make the wrap-safety
    // mirror explicit (the Spark side rides decimal(38,0)).
    "g24_hits" ->
      """WITH nodes AS MATERIALIZED (
        |  SELECT 'Customer:' || c_custkey AS uid FROM customer
        |  UNION ALL SELECT 'Supplier:' || s_suppkey FROM supplier
        |  UNION ALL SELECT 'Nation:' || n_nationkey FROM nation
        |  UNION ALL SELECT 'Region:' || r_regionkey FROM region),
        |edges AS MATERIALIZED (
        |  SELECT 'Customer:' || c_custkey AS src, 'Nation:' || c_nationkey AS dst FROM customer
        |  UNION ALL SELECT 'Supplier:' || s_suppkey, 'Nation:' || s_nationkey FROM supplier
        |  UNION ALL SELECT 'Nation:' || n_nationkey, 'Region:' || n_regionkey FROM nation),
        |h0 AS (SELECT uid, CAST(1000000000 AS BIGINT) AS h FROM nodes),
        |a1r AS (SELECT e.dst AS uid, sum(p.h) AS araw
        |        FROM edges e JOIN h0 p ON e.src = p.uid GROUP BY e.dst),
        |a1 AS (SELECT n.uid,
        |         CAST(COALESCE(c.araw, 0) * 1000000000
        |              // (SELECT max(araw) FROM a1r) AS BIGINT) AS a
        |       FROM nodes n LEFT JOIN a1r c ON n.uid = c.uid),
        |h1r AS (SELECT e.src AS uid, sum(p.a) AS hraw
        |        FROM edges e JOIN a1 p ON e.dst = p.uid GROUP BY e.src),
        |h1 AS (SELECT n.uid,
        |         CAST(COALESCE(c.hraw, 0) * 1000000000
        |              // (SELECT max(hraw) FROM h1r) AS BIGINT) AS h
        |       FROM nodes n LEFT JOIN h1r c ON n.uid = c.uid),
        |a2r AS (SELECT e.dst AS uid, sum(p.h) AS araw
        |        FROM edges e JOIN h1 p ON e.src = p.uid GROUP BY e.dst),
        |a2 AS (SELECT n.uid,
        |         CAST(COALESCE(c.araw, 0) * 1000000000
        |              // (SELECT max(araw) FROM a2r) AS BIGINT) AS a
        |       FROM nodes n LEFT JOIN a2r c ON n.uid = c.uid),
        |h2r AS (SELECT e.src AS uid, sum(p.a) AS hraw
        |        FROM edges e JOIN a2 p ON e.dst = p.uid GROUP BY e.src),
        |h2 AS (SELECT n.uid,
        |         CAST(COALESCE(c.hraw, 0) * 1000000000
        |              // (SELECT max(hraw) FROM h2r) AS BIGINT) AS h
        |       FROM nodes n LEFT JOIN h2r c ON n.uid = c.uid)
        |SELECT a2.uid, a2.a AS authority, h2.h AS hub
        |FROM a2 JOIN h2 ON a2.uid = h2.uid
        |ORDER BY authority DESC, a2.uid LIMIT 30""".stripMargin,
    "g23_personalized_pagerank" ->
      """WITH nodes AS MATERIALIZED (
        |  SELECT 'Customer:' || c_custkey AS uid FROM customer
        |  UNION ALL SELECT 'Supplier:' || s_suppkey FROM supplier
        |  UNION ALL SELECT 'Nation:' || n_nationkey FROM nation
        |  UNION ALL SELECT 'Region:' || r_regionkey FROM region),
        |edges AS MATERIALIZED (
        |  SELECT 'Customer:' || c_custkey AS src, 'Nation:' || c_nationkey AS dst FROM customer
        |  UNION ALL SELECT 'Supplier:' || s_suppkey, 'Nation:' || s_nationkey FROM supplier
        |  UNION ALL SELECT 'Nation:' || n_nationkey, 'Region:' || n_regionkey FROM nation),
        |deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
        |base AS MATERIALIZED (
        |  SELECT uid, CASE WHEN uid IN (
        |      SELECT 'Customer:' || c_custkey FROM customer WHERE c_nationkey = 0)
        |    THEN CAST(1000000000 AS BIGINT) ELSE 0 END AS seed_mass
        |  FROM nodes),
        |pr0 AS (SELECT uid, seed_mass AS pr FROM base),
        |it1 AS MATERIALIZED (
        |  SELECT b.uid, b.seed_mass,
        |    (15 * b.seed_mass) // 100 + (85 * COALESCE(c.contrib, 0)) // 100 AS pr
        |  FROM base b LEFT JOIN (
        |    SELECT e.dst AS uid, sum(p.pr // d.outdeg) AS contrib
        |    FROM edges e JOIN pr0 p ON e.src = p.uid JOIN deg d ON e.src = d.src
        |    GROUP BY e.dst) c ON b.uid = c.uid),
        |it2 AS MATERIALIZED (
        |  SELECT b.uid, b.seed_mass,
        |    (15 * b.seed_mass) // 100 + (85 * COALESCE(c.contrib, 0)) // 100 AS pr
        |  FROM it1 b LEFT JOIN (
        |    SELECT e.dst AS uid, sum(p.pr // d.outdeg) AS contrib
        |    FROM edges e JOIN it1 p ON e.src = p.uid JOIN deg d ON e.src = d.src
        |    GROUP BY e.dst) c ON b.uid = c.uid),
        |it3 AS MATERIALIZED (
        |  SELECT b.uid,
        |    (15 * b.seed_mass) // 100 + (85 * COALESCE(c.contrib, 0)) // 100 AS pr
        |  FROM it2 b LEFT JOIN (
        |    SELECT e.dst AS uid, sum(p.pr // d.outdeg) AS contrib
        |    FROM edges e JOIN it2 p ON e.src = p.uid JOIN deg d ON e.src = d.src
        |    GROUP BY e.dst) c ON b.uid = c.uid)
        |SELECT uid, CAST(pr AS BIGINT) AS pr FROM it3 WHERE pr > 0
        |ORDER BY pr DESC, uid LIMIT 30""".stripMargin,
    "g22_label_propagation" -> lpaOracle(rounds = 3),
    "g21_kcore" -> kCoreOracle(k = 2, iters = kCoreIters),
    "g21b_kcore_bipartite" -> kCoreOracle(k = 2, iters = kCoreIters, membersOnly = true),
    "g20_cooccurrence_lift" ->
      """WITH c AS (
        |  SELECT DISTINCT user_id, CAST(floor(epoch(ts)/300) AS BIGINT) AS b
        |  FROM events WHERE event_type = 'click'),
        |u AS (SELECT count(DISTINCT b) AS n_buckets FROM c),
        |marg AS (SELECT user_id, count(*) AS n_u FROM c GROUP BY user_id),
        |pc AS (
        |  SELECT a.user_id AS u1, b2.user_id AS u2, CAST(count(*) AS BIGINT) AS n_ab
        |  FROM c a JOIN c b2 USING (b) WHERE a.user_id < b2.user_id
        |  GROUP BY a.user_id, b2.user_id HAVING count(*) >= 2)
        |SELECT pc.u1 AS user_a, pc.u2 AS user_b, pc.n_ab,
        |  round(pc.n_ab * u.n_buckets / CAST(ma.n_u * mb.n_u AS DOUBLE), 4) AS lift
        |FROM pc
        |JOIN marg ma ON ma.user_id = pc.u1
        |JOIN marg mb ON mb.user_id = pc.u2
        |CROSS JOIN u
        |ORDER BY user_a, user_b""".stripMargin,
    "g19_dsl_optional" ->
      """WITH n AS (
        |  SELECT 'Customer' AS label, 'Customer:' || c_custkey AS uid FROM customer
        |  UNION ALL SELECT 'Supplier', 'Supplier:' || s_suppkey FROM supplier
        |  UNION ALL SELECT 'Nation', 'Nation:' || n_nationkey FROM nation
        |  UNION ALL SELECT 'Region', 'Region:' || r_regionkey FROM region),
        |e AS (
        |  SELECT 'Customer:' || c_custkey AS src_uid,
        |         'Nation:' || c_nationkey AS dst_uid FROM customer
        |  UNION ALL SELECT 'Supplier:' || s_suppkey,
        |         'Nation:' || s_nationkey FROM supplier),
        |m AS (SELECT 'Nation:' || n_nationkey AS dst_uid, n_name FROM nation)
        |SELECT n.label, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(e.dst_uid) AS BIGINT) AS n_matched,
        |  CAST(count(DISTINCT m.n_name) AS BIGINT) AS n_nations
        |FROM n LEFT JOIN e ON n.uid = e.src_uid
        |LEFT JOIN m ON e.dst_uid = m.dst_uid
        |GROUP BY n.label ORDER BY label""".stripMargin,
    "g18_adamic_adar" ->
      """WITH c AS (
        |  SELECT DISTINCT user_id, CAST(floor(epoch(ts)/300) AS BIGINT) AS b
        |  FROM events WHERE event_type = 'click'),
        |p AS (
        |  SELECT DISTINCT a.user_id AS u1, b2.user_id AS u2
        |  FROM c a JOIN c b2 USING (b) WHERE a.user_id < b2.user_id),
        |adj AS (
        |  SELECT u1, u2 FROM p UNION ALL SELECT u2, u1 FROM p),
        |deg AS (
        |  SELECT u1, CAST(count(*) AS BIGINT) AS deg FROM adj GROUP BY u1),
        |scored AS (
        |  SELECT x.u1 AS a, y.u1 AS bb, CAST(count(*) AS BIGINT) AS common,
        |    CAST(sum(CAST(round(1000000.0 / ln(d.deg)) AS BIGINT)) AS BIGINT)
        |      AS aa_micro
        |  FROM adj x JOIN adj y ON x.u2 = y.u2 AND x.u1 < y.u1
        |  JOIN deg d ON d.u1 = x.u2
        |  GROUP BY x.u1, y.u1 HAVING count(*) >= 2)
        |SELECT a AS user_a, bb AS user_b, common,
        |  round(aa_micro / 1000000.0, 4) AS aa_score
        |FROM scored ORDER BY aa_micro DESC, user_a, user_b LIMIT 20""".stripMargin,
    "g17_neighbor_jaccard" ->
      """WITH c AS (
        |  SELECT DISTINCT user_id, CAST(floor(epoch(ts)/300) AS BIGINT) AS b
        |  FROM events WHERE event_type = 'click'),
        |p AS (
        |  SELECT DISTINCT a.user_id AS u1, b2.user_id AS u2
        |  FROM c a JOIN c b2 USING (b) WHERE a.user_id < b2.user_id),
        |adj AS (
        |  SELECT u1, u2 FROM p UNION ALL SELECT u2, u1 FROM p),
        |deg AS (
        |  SELECT u1, CAST(count(*) AS BIGINT) AS deg FROM adj GROUP BY u1),
        |common AS (
        |  SELECT x.u1 AS a, y.u1 AS bb, CAST(count(*) AS BIGINT) AS common
        |  FROM adj x JOIN adj y ON x.u2 = y.u2 AND x.u1 < y.u1
        |  GROUP BY x.u1, y.u1 HAVING count(*) >= 2)
        |SELECT c.a AS user_a, c.bb AS user_b, c.common,
        |  round(c.common / CAST(da.deg + db.deg - c.common AS DOUBLE), 4)
        |    AS jaccard
        |FROM common c
        |JOIN deg da ON da.u1 = c.a
        |JOIN deg db ON db.u1 = c.bb
        |ORDER BY user_a, user_b""".stripMargin,
    // g26: the same incidence self-join at the bucket midpoint;
    // C(common,2) via integer division on both engines.
    "g26_butterflies" ->
      """WITH c AS (
        |  SELECT DISTINCT user_id, CAST(floor(epoch(ts)/300) AS BIGINT) AS b
        |  FROM events WHERE event_type = 'click'),
        |pairs AS (
        |  SELECT a.user_id AS u1, b2.user_id AS u2,
        |    CAST(count(*) AS BIGINT) AS common_buckets
        |  FROM c a JOIN c b2 USING (b) WHERE a.user_id < b2.user_id
        |  GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT u1 AS user_a, u2 AS user_b, common_buckets,
        |  common_buckets * (common_buckets - 1) // 2 AS butterflies
        |FROM pairs
        |ORDER BY butterflies DESC, user_a, user_b LIMIT 20""".stripMargin,
    // g25: g16's triangle CTEs + g17's degree view, closed with the
    // textbook 2T/(d(d-1)) ratio on identically-shaped double math.
    "g25_clustering_coeff" ->
      """WITH c AS (
        |  SELECT DISTINCT user_id, CAST(floor(epoch(ts)/300) AS BIGINT) AS b
        |  FROM events WHERE event_type = 'click'),
        |p AS (
        |  SELECT DISTINCT a.user_id AS u1, b2.user_id AS u2
        |  FROM c a JOIN c b2 USING (b) WHERE a.user_id < b2.user_id),
        |adj AS (
        |  SELECT u1, u2 FROM p UNION ALL SELECT u2, u1 FROM p),
        |deg AS (
        |  SELECT u1, CAST(count(*) AS BIGINT) AS deg FROM adj GROUP BY u1),
        |t AS (
        |  SELECT e1.u1 AS a, e1.u2 AS bb, e2.u2 AS cc
        |  FROM p e1
        |  JOIN p e2 ON e2.u1 = e1.u1 AND e1.u2 < e2.u2
        |  JOIN p e3 ON e3.u1 = e1.u2 AND e3.u2 = e2.u2),
        |tri AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS tri_cnt
        |  FROM (SELECT a AS user_id FROM t
        |        UNION ALL SELECT bb FROM t
        |        UNION ALL SELECT cc FROM t)
        |  GROUP BY user_id)
        |SELECT d.u1 AS user_id, d.deg,
        |  COALESCE(tr.tri_cnt, 0) AS tri_cnt,
        |  round((COALESCE(tr.tri_cnt, 0) * 2)
        |    / CAST(d.deg * (d.deg - 1) AS DOUBLE), 4) AS lcc
        |FROM deg d LEFT JOIN tri tr ON tr.user_id = d.u1
        |WHERE d.deg >= 2
        |ORDER BY user_id""".stripMargin,
    "g16_triangles" ->
      """WITH c AS (
        |  SELECT DISTINCT user_id, CAST(floor(epoch(ts)/300) AS BIGINT) AS b
        |  FROM events WHERE event_type = 'click'),
        |p AS (
        |  SELECT DISTINCT a.user_id AS u1, b2.user_id AS u2
        |  FROM c a JOIN c b2 USING (b) WHERE a.user_id < b2.user_id),
        |t AS (
        |  SELECT e1.u1 AS a, e1.u2 AS bb, e2.u2 AS cc
        |  FROM p e1
        |  JOIN p e2 ON e2.u1 = e1.u1 AND e1.u2 < e2.u2
        |  JOIN p e3 ON e3.u1 = e1.u2 AND e3.u2 = e2.u2)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS tri_cnt
        |FROM (SELECT a AS user_id FROM t
        |      UNION ALL SELECT bb FROM t
        |      UNION ALL SELECT cc FROM t)
        |GROUP BY user_id ORDER BY user_id""".stripMargin,
    "g15_degree_histogram" ->
      """WITH deg AS (
        |  SELECT src, CAST(count(*) AS BIGINT) AS out_deg FROM (
        |    SELECT 'Customer:' || c_custkey AS src FROM customer
        |    UNION ALL SELECT 'Supplier:' || s_suppkey FROM supplier
        |    UNION ALL SELECT 'Nation:' || n_nationkey FROM nation)
        |  GROUP BY src),
        |nodes AS (
        |  SELECT 'Customer' AS label, 'Customer:' || c_custkey AS uid FROM customer
        |  UNION ALL SELECT 'Supplier', 'Supplier:' || s_suppkey FROM supplier
        |  UNION ALL SELECT 'Nation', 'Nation:' || n_nationkey FROM nation
        |  UNION ALL SELECT 'Region', 'Region:' || r_regionkey FROM region)
        |SELECT n.label, COALESCE(d.out_deg, 0) AS out_deg,
        |  CAST(count(*) AS BIGINT) AS n_nodes
        |FROM nodes n LEFT JOIN deg d ON n.uid = d.src
        |GROUP BY n.label, COALESCE(d.out_deg, 0)
        |ORDER BY label, out_deg""".stripMargin,
    "g14_dsl_reverse" ->
      """SELECT label, CAST(count(*) AS BIGINT) AS cnt FROM (
        |  SELECT 'Customer' AS label FROM customer
        |  JOIN nation ON c_nationkey = n_nationkey WHERE n_name < 'NATION_2'
        |  UNION ALL
        |  SELECT 'Supplier' FROM supplier
        |  JOIN nation ON s_nationkey = n_nationkey WHERE n_name < 'NATION_2')
        |GROUP BY label ORDER BY label""".stripMargin,
    "g13_pagerank" ->
      """WITH nodes AS (
        |  SELECT 'Customer:' || c_custkey AS uid FROM customer
        |  UNION ALL SELECT 'Supplier:' || s_suppkey FROM supplier
        |  UNION ALL SELECT 'Nation:' || n_nationkey FROM nation
        |  UNION ALL SELECT 'Region:' || r_regionkey FROM region),
        |edges AS (
        |  SELECT 'Customer:' || c_custkey AS src, 'Nation:' || c_nationkey AS dst FROM customer
        |  UNION ALL SELECT 'Supplier:' || s_suppkey, 'Nation:' || s_nationkey FROM supplier
        |  UNION ALL SELECT 'Nation:' || n_nationkey, 'Region:' || n_regionkey FROM nation),
        |deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
        |pr0 AS (SELECT uid, CAST(1000000000 AS BIGINT) AS pr FROM nodes),
        |it1 AS (
        |  SELECT n.uid, 150000000 + (85 * COALESCE(c.contrib, 0)) // 100 AS pr
        |  FROM nodes n LEFT JOIN (
        |    SELECT e.dst AS uid, sum(p.pr // d.outdeg) AS contrib
        |    FROM edges e JOIN pr0 p ON e.src = p.uid JOIN deg d ON e.src = d.src
        |    GROUP BY e.dst) c ON n.uid = c.uid),
        |it2 AS (
        |  SELECT n.uid, 150000000 + (85 * COALESCE(c.contrib, 0)) // 100 AS pr
        |  FROM nodes n LEFT JOIN (
        |    SELECT e.dst AS uid, sum(p.pr // d.outdeg) AS contrib
        |    FROM edges e JOIN it1 p ON e.src = p.uid JOIN deg d ON e.src = d.src
        |    GROUP BY e.dst) c ON n.uid = c.uid),
        |it3 AS (
        |  SELECT n.uid, 150000000 + (85 * COALESCE(c.contrib, 0)) // 100 AS pr
        |  FROM nodes n LEFT JOIN (
        |    SELECT e.dst AS uid, sum(p.pr // d.outdeg) AS contrib
        |    FROM edges e JOIN it2 p ON e.src = p.uid JOIN deg d ON e.src = d.src
        |    GROUP BY e.dst) c ON n.uid = c.uid)
        |SELECT uid, CAST(pr AS BIGINT) AS pr FROM it3
        |ORDER BY pr DESC, uid LIMIT 30""".stripMargin,
    "g12_dsl_varlength" ->
      """SELECT hops, name, cnt FROM (
        |  SELECT 1 AS hops, n_name AS name, CAST(count(*) AS BIGINT) AS cnt
        |  FROM customer JOIN nation ON c_nationkey = n_nationkey GROUP BY n_name
        |  UNION ALL
        |  SELECT 2, r_name, count(*)
        |  FROM customer JOIN nation ON c_nationkey = n_nationkey
        |   JOIN region ON n_regionkey = r_regionkey GROUP BY r_name) t
        |ORDER BY hops, name""".stripMargin,
    "g11_shortest_paths" ->
      """SELECT vid, dist FROM (
        |  SELECT r_regionkey AS vid, 0 AS dist FROM region
        |  UNION ALL SELECT n_nationkey + 100, 1 FROM nation
        |  UNION ALL SELECT c_custkey + 1000, 2 FROM customer) t
        |ORDER BY vid""".stripMargin,
    "g09_dsl_twohop" ->
      """SELECT r_name AS region_name, CAST(count(*) AS BIGINT) AS cnt
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY cnt DESC, region_name""".stripMargin,
    "g10_dsl_orphans" ->
      """SELECT 'Customer:' || c_custkey AS uid, c_name AS name
        |FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |                  AND o_orderdate >= TIMESTAMP '1998-01-01')
        |ORDER BY uid""".stripMargin,
    "g07_graph_fixpoint" ->
      """WITH RECURSIVE r AS (
        |  SELECT p_partkey AS start, p_partkey // 10 AS reached, 1 AS depth
        |  FROM part WHERE p_partkey >= 10
        |  UNION ALL
        |  SELECT r.start, p.p_partkey // 10, r.depth + 1
        |  FROM r JOIN part p ON r.reached = p.p_partkey AND p.p_partkey >= 10)
        |SELECT start, reached, depth FROM r WHERE start < 500
        |ORDER BY start, reached, depth""".stripMargin,
    "g08_graph_components" ->
      """SELECT vid, component FROM (
        |  SELECT r_regionkey AS vid, r_regionkey AS component FROM region
        |  UNION ALL
        |  SELECT n_nationkey + 100, n_regionkey FROM nation
        |  UNION ALL
        |  SELECT c_custkey + 1000, n_regionkey
        |  FROM customer JOIN nation ON c_nationkey = n_nationkey) t
        |ORDER BY vid""".stripMargin,
    "g01_graph_stats" ->
      """SELECT label, cnt FROM (
        |  SELECT 'Customer' AS label, CAST(count(*) AS BIGINT) AS cnt FROM customer
        |  UNION ALL SELECT 'Supplier', count(*) FROM supplier
        |  UNION ALL SELECT 'Nation', count(*) FROM nation
        |  UNION ALL SELECT 'Region', count(*) FROM region
        |  UNION ALL SELECT '_total_nodes',
        |    (SELECT count(*) FROM customer) + (SELECT count(*) FROM supplier)
        |    + (SELECT count(*) FROM nation) + (SELECT count(*) FROM region)
        |  UNION ALL SELECT '_total_relationships',
        |    (SELECT count(*) FROM customer) + (SELECT count(*) FROM supplier)
        |    + (SELECT count(*) FROM nation)) t
        |ORDER BY label""".stripMargin,
    "g02_graph_expand" ->
      """SELECT n_name AS src_name, 'IN_REGION' AS rel_type,
        | 'Region' AS dst_label, r_name AS dst_name
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |ORDER BY src_name, dst_name""".stripMargin,
    "g03_graph_orphans" ->
      """SELECT 'Customer:' || c_custkey AS uid, c_name AS name
        |FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY uid""".stripMargin,
    "g04_graph_upsert" ->
      """SELECT 'Customer:' || c_custkey AS uid,
        | CASE WHEN c_acctbal > 5000 THEN upper(c_name) ELSE c_name END AS name,
        | c_mktsegment AS segment
        |FROM customer ORDER BY uid""".stripMargin,
    "g05_graph_validate" ->
      """SELECT label, total, distinct_keys, total = distinct_keys AS ok FROM (
        |  SELECT 'Customer' AS label, CAST(count(*) AS BIGINT) AS total,
        |         CAST(count(DISTINCT c_custkey) AS BIGINT) AS distinct_keys FROM customer
        |  UNION ALL SELECT 'Supplier', count(*), count(DISTINCT s_suppkey) FROM supplier
        |  UNION ALL SELECT 'Nation', count(*), count(DISTINCT n_nationkey) FROM nation
        |  UNION ALL SELECT 'Region', count(*), count(DISTINCT r_regionkey) FROM region) t
        |ORDER BY label""".stripMargin,
    "g06_graph_twohop" ->
      """SELECT r_name AS region_name, CAST(count(*) AS BIGINT) AS n_customers
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY region_name""".stripMargin)
}
