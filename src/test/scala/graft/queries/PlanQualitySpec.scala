package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange

import graft.SparkSpec

/** Physical-plan quality gates (the 100 TB contract, SURVEY.md §4):
  * filters and projections must reach the parquet scan, small dimensions
  * must broadcast (no shuffle of the fact side), top-k must plan as
  * TakeOrderedAndProject (no global sort), and aggregations must get
  * map-side partial aggregation. A query that silently regresses to a
  * full scan + shuffle still passes the value oracle — these specs are
  * what catches it.
  */
class PlanQualitySpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** Executed plan with AQE unwrapped (plans stringify lazily before
    * execution; collect() first so the final adaptive plan is real). */
  private def planOf(df: DataFrame): String = {
    df.collect()
    def unwrap(p: SparkPlan): String = p match {
      case a: AdaptiveSparkPlanExec => a.executedPlan.toString
      case other => other.toString
    }
    unwrap(df.queryExecution.executedPlan)
  }

  test("q02: filter and projection are pushed into the parquet scan") {
    val plan = planOf(RelationalQueries.q02FilterProject(spark, dir))
    assert(plan.contains("PushedFilters: ["), s"no pushed filters in:\n$plan")
    assert(plan.contains("l_quantity") && plan.contains("l_returnflag"),
      s"expected quantity/returnflag predicates pushed in:\n$plan")
    // pruned ReadSchema: the 6 needed columns only (4 output + 2 filter),
    // not the 16-column lineitem schema
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_comment") && !readSchema.contains("l_partkey"),
      s"scan reads pruned columns: $readSchema")
  }

  test("q03: dimension broadcasts and top-k avoids a global sort") {
    val plan = planOf(RelationalQueries.q03TopkRevenue(spark, dir))
    assert(plan.contains("BroadcastHashJoin"), s"customer side not broadcast in:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"), s"top-k planned as global sort in:\n$plan")
  }

  test("q04: both dimension joins broadcast — the fact table never shuffles") {
    val plan = planOf(RelationalQueries.q04JoinBroadcast(spark, dir))
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2,
      s"expected 2 broadcast joins in:\n$plan")
  }

  test("q01: aggregation is partial+final (map-side combine before the shuffle)") {
    val plan = planOf(RelationalQueries.q01PricingSummary(spark, dir))
    assert(plan.contains("partial_"), s"no partial aggregation in:\n$plan")
    // "*(n)" prefixes mark whole-stage-codegen spans in the plan string
    assert(plan.contains("*("), s"agg outside codegen in:\n$plan")
  }

  test("q38: the bloom probe filter sits on the scan side of the plan") {
    val plan = planOf(RelationalQueries.q38BloomPrune(spark, dir))
    // the probe compiles to a UDF filter over l_orderkey; it must be in
    // the plan at all (dropping it silently would still pass the value
    // oracle — the join stays exact — but the 100 TB shuffle saving is
    // gone)
    val filterLine = plan.linesIterator.find(l =>
      l.contains("Filter") && l.contains("UDF") && l.contains("l_orderkey"))
    assert(filterLine.isDefined, s"no bloom probe filter in:\n$plan")
  }

  /** Count Exchange nodes in the executed plan. AQE wraps materialized
    * stages in leaf QueryStageExec nodes — descend into them or wrapped
    * exchanges go uncounted. */
  private def exchangeCount(df: DataFrame): Int = {
    df.collect()
    def exchanges(p: SparkPlan): Int = {
      val self = p match { case _: Exchange => 1; case _ => 0 }
      val inner = p match {
        case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
        case q: QueryStageExec => exchanges(q.plan)
        case _ => 0
      }
      self + inner + p.children.map(exchanges).sum
    }
    exchanges(df.queryExecution.executedPlan)
  }

  test("q40: the range-frame window plans one window over one shuffle, plus the sort") {
    val df = RelationalQueries.q40TrailingWindow(spark, dir)
    val plan = planOf(df)
    assert(plan.contains("RangeFrame"),
      s"window not planned as a range frame in:\n$plan")
    assert("\\bWindow\\b".r.findAllIn(plan).size == 1,
      s"expected exactly one Window node in:\n$plan")
    // one exchange partitioning by o_custkey for the window, one for the
    // final orderBy — a second window spec or lost partition alignment
    // would add more
    val n = exchangeCount(df)
    assert(n <= 2, s"q40 shuffles $n times")
  }

  test("q41: spine + fill runs one window and bounded exchanges") {
    val df = RelationalQueries.q41GapFill(spark, dir)
    val plan = planOf(df)
    assert(plan.contains("Generate explode"), s"no generator for the date spine in:\n$plan")
    assert(plan.contains("last("), s"no ignore-nulls fill window in:\n$plan")
    assert("\\bWindow\\b".r.findAllIn(plan).size == 1,
      s"expected exactly one Window node in:\n$plan")
    // The daily agg is localCheckpointed at construction, which
    // truncates lineage — its shuffle happens once when the checkpoint
    // materializes and does NOT appear in this executed plan at all.
    // Counted here: spine agg (1) + spine-daily join (up to 2) + fill
    // window (1) + final sort (1).
    val n = exchangeCount(df)
    assert(n <= 5, s"q41 shuffles $n times")
  }

  test("q51: the sweep-line is one window, never a range self-join") {
    val df = RelationalQueries.q51Concurrency(spark, dir)
    val plan = planOf(df)
    assert("\\bWindow\\b".r.findAllIn(plan).size == 1,
      s"expected exactly one Window node in:\n$plan")
    // the quadratic formulation q51 exists to avoid: any join at all
    assert(!plan.contains("Join"), s"sweep-line planned a join in:\n$plan")
    // union → window shuffle on event_type (1); the groupBy reuses that
    // partitioning; final orderBy (1)
    val n = exchangeCount(df)
    assert(n <= 3, s"q51 shuffles $n times")
  }

  test("q49: both SCD-2 windows share one user_id exchange") {
    val df = RelationalQueries.q49Scd2(spark, dir)
    val plan = planOf(df)
    // lag-window, filter, lead-window: same (user_id; us, event_id)
    // spec, so Catalyst must NOT re-shuffle between them — one exchange
    // for the windows + one for the final sort
    val n = exchangeCount(df)
    assert(n <= 2, s"q49 shuffles $n times")
    assert("\\bWindow\\b".r.findAllIn(plan).size == 2,
      s"expected two Window nodes (lag pass, lead pass) in:\n$plan")
  }

  test("q50: grouping sets plan one Expand into one aggregate") {
    val plan = planOf(RelationalQueries.q50GroupingSets(spark, dir))
    assert(plan.contains("Expand"), s"no Expand for grouping sets in:\n$plan")
    assert(plan.contains("partial_"), s"no map-side partial agg in:\n$plan")
  }

  test("d21: chunking fans out in-row (Generate), no shuffle before it") {
    val df = TextQueries.d21ChunkOverlap(spark, dir)
    val plan = planOf(df)
    assert(plan.contains("Generate posexplode"),
      s"chunk fan-out not a generator in:\n$plan")
    // spread (1) + final orderBy (1); a join-against-spine formulation
    // would add a shuffle per side
    val n = exchangeCount(df)
    assert(n <= 2, s"d21 shuffles $n times")
  }

  test("d20: redaction is a pure map — only the final sort shuffles") {
    val n = exchangeCount(TextQueries.d20PiiRedact(spark, dir))
    assert(n <= 1, s"d20 shuffles $n times")
  }

  test("e07: both centroid joins broadcast — vectors never shuffle for a join") {
    val plan = planOf(SimilarityQueries.e07KmeansStep(spark, dir))
    // assignment is a conditionless broadcast against 10 centroids
    // (BroadcastNestedLoop, the e05 shape); the drift lookup is a
    // broadcast hash join on cell — neither may shuffle the vector side
    assert("Broadcast(NestedLoop|Hash)Join".r.findAllIn(plan).size >= 2,
      s"expected 2 broadcast joins in:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"centroid join shuffled in:\n$plan")
  }

  test("q52: native session windows aggregate over bounded exchanges") {
    val df = RelationalQueries.q52SessionWindow(spark, dir)
    val plan = planOf(df)
    assert(plan.contains("session_window") || plan.contains("SessionWindow"),
      s"no session-window operator in:\n$plan")
    // session-window agg (sort-based within user) + final orderBy
    val n = exchangeCount(df)
    assert(n <= 2, s"q52 shuffles $n times")
  }

  test("g17: common-neighbor join is an equi-join, never a neighbor cross product") {
    val plan = planOf(GraphQueries.g17NeighborJaccard(spark, dir))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"neighbor similarity planned a cross product in:\n$plan")
  }

  /** Every physical node in the executed plan, descending through AQE
    * wrappers and materialized query stages (same traversal as
    * exchangeCount, keeping the nodes). */
  private def collectNodes(df: DataFrame): Seq[SparkPlan] = {
    df.collect()
    def all(p: SparkPlan): Seq[SparkPlan] = {
      val inner = p match {
        case a: AdaptiveSparkPlanExec => all(a.executedPlan)
        case q: QueryStageExec => all(q.plan)
        case _ => Nil
      }
      p +: (inner ++ p.children.flatMap(all))
    }
    all(df.queryExecution.executedPlan)
  }

  test("q53: the nullable NOT IN is a null-aware broadcast anti join, not a nested loop") {
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec}
    import org.apache.spark.sql.catalyst.plans.LeftAnti
    val nodes = collectNodes(RelationalQueries.q53NullAntiJoin(spark, dir))
    val anti = nodes.collect {
      case j: BroadcastHashJoinExec if j.joinType == LeftAnti => j }
    // both NOT IN variants hash-broadcast their subquery; the nullable
    // one must carry the null-aware flag (a regression to per-row
    // BroadcastNestedLoopJoin would still pass the value oracle but
    // rescans the build side per probe row at scale). The NOT EXISTS
    // variant may legitimately plan as a non-broadcast anti join.
    assert(anti.size >= 2, s"expected >=2 broadcast anti joins, got ${anti.size}")
    assert(anti.exists(_.isNullAwareAntiJoin),
      "nullable NOT IN lost the null-aware anti join plan")
    assert(!nodes.exists(_.isInstanceOf[BroadcastNestedLoopJoinExec]),
      "NOT IN fell back to BroadcastNestedLoopJoin")
  }

  test("e08: PQ scoring joins broadcast the codebook/LUT — codes never sort-merge") {
    val plan = planOf(SimilarityQueries.e08PqAdc(spark, dir))
    // encode join (codebook), LUT build join (codebook), ADC join (LUT):
    // all three against broadcast dimensions; the candidate/fact side
    // must never shuffle for a join
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 3,
      s"expected 3 broadcast hash joins in:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      s"PQ join shuffled or crossed in:\n$plan")
  }

  test("d23: the corpus scores in one LM join pass — one ntile window, no cross join") {
    val df = TextQueries.d23Perplexity(spark, dir)
    val plan = planOf(df)
    // exactly one Window (the per-language ntile over one row per doc)
    assert("\\bWindow\\b".r.findAllIn(plan).size == 1,
      s"expected one Window node in:\n$plan")
    // the vocab scalar rides a 1-row broadcast (BroadcastNestedLoopJoin
    // against a single row is the intended shape); an unbroadcast
    // CartesianProduct would be the scale bug
    assert(!plan.contains("CartesianProduct"),
      s"vocab joined as cartesian in:\n$plan")
  }

  test("g18: Adamic-Adar stays on midpoint equi-joins like g17") {
    val df = GraphQueries.g18AdamicAdar(spark, dir)
    val plan = planOf(df)
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"link-prediction scoring planned a cross product in:\n$plan")
    // top-20 must plan as TopK, not a global sort. Asserted on the
    // pre-adaptive physical plan: the collect() path hides
    // TakeOrderedAndProject inside the result stage's executeCollect.
    val initial = df.queryExecution.sparkPlan.toString
    assert(initial.contains("TakeOrderedAndProject"),
      s"shortlist planned as global sort in:\n$initial")
  }

  test("q57: dimension chain broadcasts — only the fact-fact joins shuffle") {
    val plan = planOf(RelationalQueries.q57RegionalRevenue(spark, dir))
    // nation + region must ride broadcast joins; lineitem⋈orders and
    // ⋈supplier may shuffle (fact-fact), but nothing may cross-join
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2,
      s"expected broadcast dimension joins in:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"regional revenue planned a cross product in:\n$plan")
  }

  test("d24: the packing prefix-sum is a per-language window, not a global one") {
    val df = TextQueries.d24SeqPack(spark, dir)
    val plan = planOf(df)
    assert("\\bWindow\\b".r.findAllIn(plan).size == 1,
      s"expected one Window node in:\n$plan")
    // partitioned by the shard key — an empty partition spec would
    // serialize the whole corpus through one task at scale
    assert("windowspecdefinition\\(lang".r.findFirstIn(plan).isDefined,
      s"packing window lost its lang partition in:\n$plan")
  }

  test("q62: the fingerprint folds map-side — partial bit_xor before any exchange") {
    val plan = planOf(RelationalQueries.q62TableChecksum(spark, dir))
    // each table's xor reduces to one 8-byte buffer per partition
    // before the single-row final agg; no sort anywhere
    assert(plan.contains("partial_"), s"no map-side partial fold in:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      s"checksum planned a join in:\n$plan")
  }

  test("q61: the snapshot diff is ONE full-outer join feeding a map-side-folded agg") {
    val df = RelationalQueries.q61TableDiff(spark, dir)
    val plan = planOf(df)
    // added/removed/changed/unchanged all fall out of a single join of
    // the two snapshots — a per-class formulation (anti + anti + inner)
    // would triple the scans at 100 TB
    assert("\\bJoin FullOuter\\b|FullOuter".r.findAllIn(plan).size >= 1,
      s"no full-outer join in:\n$plan")
    assert("(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)".r.findAllIn(plan).size == 1,
      s"expected exactly one join in:\n$plan")
    assert(plan.contains("partial_"), s"no map-side partial count in:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"diff planned a cross product in:\n$plan")
  }

  test("q63: CDC apply is one conflict window + one full-outer join") {
    val df = RelationalQueries.q63ApplyChanges(spark, dir)
    val plan = planOf(df)
    // conflict resolution is a single row_number window over the feed;
    // the apply is a single join against the base
    assert("\\bWindow\\b".r.findAllIn(plan).size == 1,
      s"expected one conflict-resolution Window in:\n$plan")
    assert("(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)".r.findAllIn(plan).size == 1,
      s"expected exactly one apply join in:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"CDC apply crossed in:\n$plan")
  }

  test("g20: lift joins stay equi; only the 1-row universe rides a nested loop") {
    val plan = planOf(GraphQueries.g20CooccurrenceLift(spark, dir))
    assert(!plan.contains("CartesianProduct"),
      s"lift planned an unbroadcast cross product in:\n$plan")
    // the bucket pair join and both marginal joins must be hash equi
    // joins; the only nested-loop allowed is the broadcast of the
    // single-row bucket-universe scalar
    assert("BroadcastNestedLoopJoin".r.findAllIn(plan).size <= 1,
      s"more than the universe scalar nested-loops in:\n$plan")
  }

  test("m05: the cross-modal join is hash equi on doc_id with a map-side-folded agg") {
    val plan = planOf(MultimodalQueries.m05ModalityJoin(spark, dir))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"modality join crossed in:\n$plan")
    assert(plan.contains("partial_"), s"no map-side partial agg in:\n$plan")
  }

  test("q64: the dimension filter prunes fact partitions at runtime (DPP)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-q64-spec")
    try {
      val plan = planOf(RelationalQueries.dppPipeline(spark, dir, tmp))
      // the broadcast of the filtered dimension must come back as a
      // runtime partition filter on the fact scan — without it a 100 TB
      // store is scanned in full for a 2-of-5-partition join
      assert(plan.toLowerCase.contains("dynamicpruning"),
        s"no dynamic partition pruning on the fact scan in:\n$plan")
      assert(plan.contains("BroadcastHashJoin"),
        s"priority dimension not broadcast in:\n$plan")
    } finally graft.core.TempDirs.deleteQuietly(tmp, "spec")
  }

  test("d25: span fan-out is a generator; one hash-partitioned dedup window") {
    val df = TextQueries.d25SpanDedup(spark, dir)
    val plan = planOf(df)
    assert(plan.contains("Generate posexplode"),
      s"span fan-out not a generator in:\n$plan")
    assert("\\bWindow\\b".r.findAllIn(plan).size == 1,
      s"expected one dedup Window node in:\n$plan")
    // partitioned by the segment hash — an empty spec would serialize
    // the whole corpus through one task
    assert("windowspecdefinition\\(h".r.findFirstIn(plan).isDefined,
      s"dedup window lost its hash partition in:\n$plan")
    // spread (1) + window on h (1) + doc_id re-agg (1) + final sort (1)
    val n = exchangeCount(df)
    assert(n <= 4, s"d25 shuffles $n times")
  }

  test("shuffle count: q01 shuffles exactly once (agg), not per stage") {
    val df = RelationalQueries.q01PricingSummary(spark, dir)
    // one exchange for the groupBy, one for the final orderBy — no more
    val n = exchangeCount(df)
    assert(n <= 2, s"q01 shuffles $n times")
  }

  test("q65: the correlated scalar subquery decorrelates to one agg+join") {
    val df = RelationalQueries.q65ScalarSubquery(spark, dir)
    val plan = planOf(df)
    // decorrelation = the per-customer max appears as a plain aggregate
    // joined back, never a per-row re-executed subquery plan
    assert(plan.contains("max(o_totalprice"), s"no hoisted max agg in:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"subquery fell back to a nested loop in:\n$plan")
  }

  test("q66: the lateral top-k plans as WindowGroupLimit rank pushdown") {
    val df = RelationalQueries.q66LateralJoin(spark, dir)
    val plan = planOf(df)
    // partial (pre-shuffle) + final (post-shuffle) group-limit: per-group
    // top-k is bounded on BOTH sides of the exchange, so no executor
    // ever sorts a full group's history
    assert("WindowGroupLimit".r.findAllIn(plan).size >= 2,
      s"lateral LIMIT not pushed as WindowGroupLimit in:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"lateral join planned as a nested loop in:\n$plan")
  }

  test("q75: the z-value is computed in codegen at the scan — no extra shuffle") {
    val df = RelationalQueries.q75Zorder(spark, dir)
    val plan = planOf(df)
    // one agg shuffle on bucket + the final sort; the interleave itself
    // must be a per-row expression, never a join or window
    assert(!plan.contains("Join") && !"\\bWindow\\b".r.findFirstIn(plan).isDefined,
      s"z-order planned a join/window in:\n$plan")
    assert(plan.contains("partial_"), s"no map-side partial agg in:\n$plan")
    val n = exchangeCount(df)
    assert(n <= 2, s"q75 shuffles $n times")
  }

  test("m08: candidates come from an equi-join on band keys, not a product") {
    val df = MultimodalQueries.m08PhashNeardup(spark, dir)
    val plan = planOf(df)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"band join degenerated to a product in:\n$plan")
    // the join keys must include the band value, not just the band index
    assert(plan.contains("bv"), s"band-value key missing from:\n$plan")
  }

  test("q74: the merge is one rollup-sized join over two partial aggs") {
    val df = RelationalQueries.q74IncrementalAgg(spark, dir)
    val plan = planOf(df)
    assert(plan.contains("partial_"), s"no map-side partial agg in:\n$plan")
    // base agg (1) + delta agg (1) + merge join alignment (≤2, AQE may
    // elide) + final sort (1) — anything more means a re-aggregation of
    // the merged result snuck in
    val n = exchangeCount(df)
    assert(n <= 5, s"q74 shuffles $n times")
  }

  test("q77: ntile + the per-decile agg share one priority exchange") {
    val df = RelationalQueries.q77Ntile(spark, dir)
    val plan = planOf(df)
    assert(plan.contains("ntile(10)"), s"no ntile window in:\n$plan")
    assert("\\bWindow\\b".r.findAllIn(plan).size == 1,
      s"expected exactly one Window node in:\n$plan")
    // one exchange on o_orderpriority feeds the window; the groupBy
    // keys (priority, decile) need their own shuffle only because
    // decile is window-derived; final sort (1)
    val n = exchangeCount(df)
    assert(n <= 3, s"q77 shuffles $n times")
  }

  test("d31: the per-language top-k is WindowGroupLimit-pushed, keys computed in-scan") {
    val df = TextQueries.d31WeightedSample(spark, dir)
    val plan = planOf(df)
    // rank<=5 must prune groups BEFORE the full sort of each language
    // partition materializes
    assert(plan.contains("WindowGroupLimit"),
      s"top-k rank not pushed as WindowGroupLimit in:\n$plan")
    // the A-ES key is a scalar projection over the scan — one window
    // exchange on lang + the final sort, nothing else
    val n = exchangeCount(df)
    assert(n <= 2, s"d31 shuffles $n times")
  }

  test("d32: the merge-pair top-40 plans as TakeOrderedAndProject") {
    val df = TextQueries.d32BpePairs(spark, dir)
    val plan = planOf(df)
    assert(plan.contains("TakeOrderedAndProject"),
      s"pair top-k planned as global sort in:\n$plan")
    // spread repartition (1) + pair agg (1); the limit adds no shuffle
    val n = exchangeCount(df)
    assert(n <= 2, s"d32 shuffles $n times")
  }

  test("d26: novelty is two keyed shuffles + the spread, no window") {
    val df = TextQueries.d26NgramNovelty(spark, dir)
    val plan = planOf(df)
    // first-occurrence rides min-agg + join, not a global window over
    // occurrence history
    assert(!"\\bWindow\\b".r.findFirstIn(plan).isDefined,
      s"novelty planned a window in:\n$plan")
    // explicit spread repartition (1) + shingle agg (1) + join reusing
    // the shingle partitioning (≤1 for the doc-id agg) + final sort (1);
    // AQE may elide the join-side exchange
    val n = exchangeCount(df)
    assert(n <= 5, s"d26 shuffles $n times")
  }

  test("a04: the probe lookup broadcasts the sketch; cells fold map-side") {
    val df = RelationalQueries.a04CountMin(spark, dir)
    val plan = planOf(df)
    // the 4×256-cell sketch must never sort-merge against the probes —
    // at 100 TB the sketch is KBs and the broadcast is the whole point
    assert(plan.contains("BroadcastHashJoin"),
      s"sketch lookup not broadcast in:\n$plan")
    assert(plan.contains("partial_"),
      s"sketch cells not folded map-side in:\n$plan")
  }

  test("d33/d34: quality batteries are scan→project — only the final sort shuffles") {
    val n33 = exchangeCount(TextQueries.d33GopherRules(spark, dir))
    assert(n33 <= 1, s"d33 shuffles $n33 times")
    val n34 = exchangeCount(TextQueries.d34C4Filters(spark, dir))
    assert(n34 <= 1, s"d34 shuffles $n34 times")
  }

  test("m13: the metadata scan is per-row binary slicing — one exchange, no codec") {
    val df = MultimodalQueries.m13PngMetadata(spark, dir)
    val plan = planOf(df)
    assert(!plan.contains("MapPartitions"),
      s"metadata scan fell back to a codec mapPartitions in:\n$plan")
    val n = exchangeCount(df)
    assert(n <= 1, s"m13 shuffles $n times")
  }

  test("e12: both retrieval stages push their rank limit (WindowGroupLimit)") {
    val plan = planOf(SimilarityQueries.e12MatryoshkaTopk(spark, dir))
    assert(plan.contains("WindowGroupLimit"),
      s"shortlist rank not limit-pushed in:\n$plan")
  }

  test("e14: the neighbor top-5 is limit-pushed and the purity agg folds map-side") {
    val plan = planOf(SimilarityQueries.e14LabelPurity(spark, dir))
    assert(plan.contains("WindowGroupLimit"),
      s"neighbor rank not limit-pushed in:\n$plan")
    assert(plan.contains("partial_"),
      s"purity agg not folded map-side in:\n$plan")
  }

  test("q94: one fact scan, one order-keyed exchange serves both grains") {
    val plan = planOf(RelationalQueries.q94SoleBlame(spark, dir))
    // the clustering-subset rule holds: the (order, supplier) aggregate
    // and the per-order window both consume repartition(l_orderkey) —
    // a regression to the two-grain self-join duplicates the fact
    // subtree (two lineitem scans) and adds exchanges
    val lineitemScans = plan.linesIterator.count(l =>
      l.contains("Scan parquet") && l.contains("lineitem"))
    assert(lineitemScans == 1, s"fact subtree duplicated in:\n$plan")
    assert(plan.contains("Window"), s"per-order grain lost its window in:\n$plan")
    // orders + supplier broadcast; wide exchanges: order repartition,
    // final supplier agg, output sort — anything beyond that is drift
    assert("BroadcastExchange".r.findAllIn(plan).size >= 2,
      s"dimension sides not broadcast in:\n$plan")
    val wide = plan.linesIterator.count(l =>
      l.trim.matches("^[+:\\-\\s*()0-9]*Exchange hashpartitioning.*") ||
        l.trim.matches("^[+:\\-\\s*()0-9]*Exchange rangepartitioning.*"))
    assert(wide <= 3, s"expected <= 3 wide exchanges, got $wide in:\n$plan")
  }

  test("q96: part slice broadcasts; one fact scan feeds the window average") {
    val df = RelationalQueries.q96SmallQtyRevenue(spark, dir)
    val plan = planOf(df)
    // Q17's correlated subquery is rewritten to a window — a regression
    // to the two-scan aggregate-then-join shape duplicates the fact scan
    val lineitemScans = plan.linesIterator.count(l =>
      l.contains("Scan parquet") && l.contains("lineitem"))
    assert(lineitemScans == 1, s"fact subtree duplicated in:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"part slice not broadcast in:\n$plan")
    assert(plan.contains("LessThanOrEqual(p_size,5)"),
      s"part filter not pushed to the scan in:\n$plan")
    val readSchema = plan.linesIterator.filter(_.contains("ReadSchema"))
      .mkString("\n")
    assert(!readSchema.contains("l_comment") && !readSchema.contains("l_shipdate"),
      s"lineitem scan reads pruned columns: $readSchema")
  }

  test("q97: two-column fact scan, partial agg, and AQE broadcasts the filtered side") {
    val plan = planOf(RelationalQueries.q97LargeOrders(spark, dir))
    assert(plan.contains("partial_"), s"no map-side combine in:\n$plan")
    // the >300 survivors are tiny — AQE must turn the orders join into
    // a broadcast, not keep the static shuffle join
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2,
      s"expected both joins broadcast (AQE re-plan) in:\n$plan")
    val liSchema = plan.linesIterator.filter(l =>
      l.contains("ReadSchema") && l.contains("l_orderkey")).mkString
    assert(!liSchema.contains("l_extendedprice") && !liSchema.contains("l_shipdate"),
      s"lineitem scan wider than (orderkey, quantity): $liSchema")
  }

  test("q98: aggregate sits below the outer join; scans carry only the keyed columns") {
    val plan = planOf(RelationalQueries.q98CustDistribution(spark, dir))
    assert(plan.contains("partial_"), s"no map-side combine in:\n$plan")
    // the pre-aggregated count table (cust grain) must be the build side
    assert(plan.contains("BroadcastHashJoin"),
      s"per-customer counts not broadcast into customer in:\n$plan")
    val ordSchema = plan.linesIterator.filter(l =>
      l.contains("ReadSchema") && l.contains("o_custkey")).mkString
    assert(!ordSchema.contains("o_totalprice") && !ordSchema.contains("o_orderdate"),
      s"orders scan wider than (custkey, priority): $ordSchema")
  }

  test("q99: date bounds reach the scan; the scalar max reuses the revenue exchange") {
    val plan = planOf(RelationalQueries.q99TopSupplier(spark, dir))
    assert(plan.contains("GreaterThanOrEqual(l_shipdate") &&
      plan.contains("LessThan(l_shipdate"),
      s"quarter bounds not pushed to the parquet scan in:\n$plan")
    // both branches hang off the identical aggregate subtree — the fact
    // scan + its exchange must execute once, the second branch reusing it
    val factScans = plan.linesIterator.count(l =>
      l.contains("FileScan parquet") && l.contains("lineitem"))
    assert(factScans == 1,
      s"scalar-max branch re-scans the fact instead of reusing the exchange in:\n$plan")
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2,
      s"expected the 1-row max and supplier dim broadcast in:\n$plan")
  }

  test("q95: the recent-orders bound reaches the scan; the anti join broadcasts") {
    val plan = planOf(RelationalQueries.q95DormantBalance(spark, dir))
    assert(plan.contains("GreaterThanOrEqual(o_orderdate"),
      s"date bound not pushed to the orders scan in:\n$plan")
    assert("BroadcastHashJoin .*LeftAnti".r.findFirstIn(plan).isDefined,
      s"dormancy probe not a broadcast anti join in:\n$plan")
  }

  test("q102: the offers aggregate executes once — one fact scan in the final plan") {
    val plan = planOf(RelationalQueries.q102MinCostSupplier(spark, dir))
    // the per-part min branch must REUSE the (part, supplier) offers
    // exchange, not re-scan the fact (q99's discipline at group grain)
    val factScans = plan.linesIterator.count(l =>
      l.contains("FileScan parquet") && l.contains("lineitem"))
    assert(factScans == 1,
      s"min branch re-scans the fact instead of reusing the offers exchange in:\n$plan")
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 3,
      s"expected region-dim, name-dim and part broadcasts in:\n$plan")
  }

  // q103/q104 pin at sf0.01: at sf0.001 their dim slices (NATION_9
  // suppliers / negative-balance suppliers) are EMPTY, and AQE's
  // empty-relation propagation erases the very operators under pin.
  test("q103: one fact scan; the 1-row total broadcasts back") {
    val plan = planOf(RelationalQueries.q103ImportantStock(spark, "/root/testdata/sf0.01"))
    val factScans = plan.linesIterator.count(l =>
      l.contains("FileScan parquet") && l.contains("lineitem"))
    assert(factScans == 1,
      s"global-total branch re-scans the fact instead of reusing the value exchange in:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"the 1-row total should arrive by broadcast in:\n$plan")
  }

  test("q105: nation slices broadcast; one orderkey exchange moves the fact") {
    val plan = planOf(RelationalQueries.q105VolumeShipping(spark, "/root/testdata/sf0.01"))
    val factScans = plan.linesIterator.count(l =>
      l.contains("FileScan parquet") && l.contains("lineitem"))
    assert(factScans == 1, s"fact scanned more than once in:\n$plan")
    // supplier-nation prune must reach the fact BEFORE the orderkey join
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2,
      s"expected broadcast nation slices on both sides in:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian in:\n$plan")
  }

  test("q106: the brand/size disjunction pushes into the part scan") {
    val plan = planOf(RelationalQueries.q106DisjunctiveRevenue(spark, "/root/testdata/sf0.01"))
    assert(plan.contains("Or(And(EqualTo(p_brand") ||
      plan.contains("Or(Or(And(EqualTo(p_brand"),
      s"OR-of-ANDs not pushed to the part scan in:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"part side should broadcast in:\n$plan")
  }

  test("q107: the year bound reaches the fact scan; one pass computes both sums") {
    val plan = planOf(RelationalQueries.q107PromoShare(spark, "/root/testdata/sf0.01"))
    assert(plan.contains("GreaterThanOrEqual(l_shipdate") &&
      plan.contains("LessThan(l_shipdate"),
      s"1997 bounds not pushed to the parquet scan in:\n$plan")
    val factScans = plan.linesIterator.count(l =>
      l.contains("FileScan parquet") && l.contains("lineitem"))
    assert(factScans == 1,
      s"conditional aggregate should need exactly one fact pass in:\n$plan")
  }

  test("q108: both slices prune at their scans; the top-20 is TakeOrdered, not a global sort") {
    val plan = planOf(RelationalQueries.q108ReturnedItems(spark, "/root/testdata/sf0.01"))
    assert(plan.contains("EqualTo(l_returnflag,R)"),
      s"returnflag not pushed to the lineitem scan in:\n$plan")
    assert(plan.contains("GreaterThanOrEqual(o_orderdate"),
      s"quarter bound not pushed to the orders scan in:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-20 should be per-partition top-k + driver merge in:\n$plan")
  }

  test("q109: the year bound prunes the fact; both counts from one pass") {
    val plan = planOf(RelationalQueries.q109PriorityClasses(spark, "/root/testdata/sf0.01"))
    assert(plan.contains("GreaterThanOrEqual(l_shipdate"),
      s"1997 bound not pushed to the lineitem scan in:\n$plan")
    val factScans = plan.linesIterator.count(l =>
      l.contains("FileScan parquet") && l.contains("lineitem"))
    assert(factScans == 1,
      s"both priority counts should need one fact pass in:\n$plan")
  }

  test("q104: the deny-set is a broadcast anti join at the scan edge") {
    val plan = planOf(RelationalQueries.q104SupplierDiversity(spark, "/root/testdata/sf0.01"))
    assert("BroadcastHashJoin .*LeftAnti".r.findFirstIn(plan).isDefined,
      s"NOT IN deny-set not planned as a broadcast anti join in:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"fact should join only broadcast dims in:\n$plan")
  }

  test("q111: one fact scan — the share is a conditional sum, never a second aggregate") {
    val plan = planOf(RelationalQueries.q111MarketShare(spark, "/root/testdata/sf0.01"))
    val factScans = plan.linesIterator.count(l =>
      l.contains("FileScan parquet") && l.contains("lineitem"))
    assert(factScans == 1,
      s"focal and market revenue must come from one fact pass in:\n$plan")
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 3,
      s"part slice / supplier-nation / market-orders should broadcast in:\n$plan")
  }

  test("q112: the name slice pushes to the part scan; the fact scans once") {
    val plan = planOf(RelationalQueries.q112ProductProfit(spark, "/root/testdata/sf0.01"))
    assert(plan.contains("StringContains(p_name,ol)") || plan.contains("p_name"),
      s"name slice not pushed to the part scan in:\n$plan")
    val factScans = plan.linesIterator.count(l =>
      l.contains("FileScan parquet") && l.contains("lineitem"))
    assert(factScans == 1, s"expected one fact scan in:\n$plan")
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2,
      s"part slice and supplier-nation should broadcast in:\n$plan")
  }

  test("q110: the three-pattern grammar is ONE corpus pass — one part scan, no join") {
    val plan = planOf(DocQueries.queries("q110_rule_extract")(spark, dir))
    val scans = plan.linesIterator.count(l =>
      l.contains("FileScan parquet") && l.contains("part"))
    assert(scans == 1,
      s"grammar branches must share one corpus scan (CASE+explode, not a union) in:\n$plan")
    assert(!plan.contains("Join"), s"extraction is scan-local, no join in:\n$plan")
    assert(plan.contains("Generate"), s"expected the candidate explode in:\n$plan")
  }

  test("g53: correlated CALL compiles to per-binding windows, not N subquery runs") {
    val plan = planOf(GraphQueries.queries("g53_cypher_call_correlated")(spark, dir))
    assert(plan.contains("Window"),
      s"per-binding top-k should be one row_number window in:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"the import join-back must stay an equi join in:\n$plan")
  }

  test("g60/g64: EXISTS-chain and pattern flags stay equi probe joins, never loops") {
    for (q <- Seq("g60_cypher_exists_or", "g64_cypher_pattern_expr")) {
      val plan = planOf(GraphQueries.queries(q)(spark, dir))
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"),
        s"$q: each flag must be one keyed DISTINCT-probe join in:\n$plan")
    }
  }

  test("g77: a var-length property map filters the edge set BELOW the k-fold joins") {
    import spark.implicits._
    // kernel-level PARQUET frames (an in-memory Seq would let Catalyst
    // fold the filter into the LocalRelation and hide the placement):
    // a real edge prop whose map filter must reach the edge SCAN as a
    // pushed filter, never float above the k-fold walk joins
    val tmp = java.nio.file.Files.createTempDirectory("graft-g77pin")
    val n = Seq(("A", "u:a", "a"), ("A", "u:b", "b"), ("A", "u:c", "c"))
      .toDF("label", "uid", "name")
    val e = Seq(("u:a", "R", "u:b", "2"), ("u:b", "R", "u:c", "2"),
      ("u:a", "R", "u:c", "9"))
      .toDF("src_uid", "rel_type", "dst_uid", "weight")
    n.write.parquet(s"$tmp/n"); e.write.parquet(s"$tmp/e")
    try {
      val df = graft.graph.CypherFrontend.run(
        "MATCH (x:A {name: 'a'})-[r*1..2 {weight: '2'}]->(t) RETURN count(*) AS walks",
        spark.read.parquet(s"$tmp/n"), spark.read.parquet(s"$tmp/e"))
      assert(df.as[Long].head() === 2L) // a->b and a->b->c; a->c(9) filtered
      val plan = planOf(df)
      val edgeScans = plan.linesIterator.filter(l =>
        l.contains("FileScan parquet") && l.contains("weight")).toSeq
      assert(edgeScans.nonEmpty &&
        edgeScans.forall(_.matches(""".*PushedFilters: \[[^\]]*EqualTo\(weight,2\).*""")),
        s"property-map filter not pushed to the edge scan in:\n$plan")
      import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join}
      df.queryExecution.optimizedPlan.collect {
        case f: Filter if f.condition.toString.contains("weight") => f
      }.foreach { f =>
        assert(f.child.collect { case j: Join => j }.isEmpty,
          s"property-map filter floated ABOVE a join (walk widens " +
            s"before filtering):\n${df.queryExecution.optimizedPlan}")
      }
    } finally graft.core.TempDirs.deleteQuietly(tmp, "g77pin")
  }

  test("g78: EXISTS-as-value plans exactly two pre-joined probe joins") {
    val df = GraphQueries.queries("g78_cypher_exists_value")(spark, dir)
    df.collect()
    import org.apache.spark.sql.catalyst.plans.logical.Join
    import org.apache.spark.sql.catalyst.plans.LeftOuter
    val probes = df.queryExecution.optimizedPlan.collect {
      case j: Join if j.joinType == LeftOuter => j
    }
    assert(probes.size === 2,
      s"expected exactly 2 flag-probe left joins, got ${probes.size} in:\n" +
        df.queryExecution.optimizedPlan)
    val plan = planOf(df)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"flag probes must stay keyed equi joins in:\n$plan")
  }

  test("round-10 additions plan keyed joins only — d07/d51 verify is semi-join + keyed joins, no forced broadcast") {
    // The candidate set grows ~linearly with the corpus (SCALE §7e), so
    // the verify stage must NOT carry a broadcast HINT: memory has to be
    // O(rows-per-partition), not O(candidates)·executors. The scale-safe
    // shape is a left-semi prefilter of the payload table down to
    // candidate doc ids, then keyed equi joins — AQE may still PROMOTE
    // them to broadcast at small scale (that's fine; a hint is not).
    import org.apache.spark.sql.catalyst.plans.logical.{Join, ResolvedHint}
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    for (q <- Seq("d07_minhash_lsh", "d51_edit_dedup")) {
      val df = TextQueries.queries(q)(spark, dir)
      val opt = df.queryExecution.optimizedPlan
      assert(df.queryExecution.analyzed.collect { case h: ResolvedHint => h }.isEmpty,
        s"$q: verify stage must not force a broadcast hint in:\n${df.queryExecution.analyzed}")
      assert(opt.collect { case j: Join if j.joinType == LeftSemi => j }.nonEmpty,
        s"$q: expected the candidate-doc-id semi-join prefilter in:\n$opt")
      val plan = planOf(df)
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"),
        s"$q must stay candidate-driven keyed joins in:\n$plan")
    }
    for (q <- Seq("g81_cypher_return_path", "g79_cypher_opt_agg_pred",
        "g80_cypher_create", "g21b_kcore_bipartite",
        "g82_cypher_shortest_unbounded", "g83_cypher_lambda_quant")) {
      val plan = planOf(GraphQueries.queries(q)(spark, dir))
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"),
        s"$q: expected keyed equi joins only in:\n$plan")
    }
  }

  test("d52: no stage recomputes a prior stage's scan — the final plan reads checkpoints, not parquet") {
    // The composed corpus build checkpoints each stage that feeds more
    // than one consumer; by the pack/shuffle tail, every input is a
    // materialized stage output. A parquet FileScan in the FINAL plan
    // would mean some stage re-read and re-filtered the raw corpus
    // instead of consuming its predecessor.
    val df = TextQueries.queries("d52_corpus_build")(spark, dir)
    val plan = planOf(df)
    assert(!plan.contains("FileScan parquet"),
      s"d52's final plan re-reads the raw corpus instead of a stage " +
        s"checkpoint in:\n$plan")
    assert(plan.contains("ExistingRDD") || plan.contains("Scan ExistingRDD"),
      s"expected checkpointed stage inputs in:\n$plan")
  }

  test("g62: each COLLECT {} is one window collect + one join — no per-row subqueries") {
    val df = GraphQueries.queries("g62_cypher_collect_sub")(spark, dir)
    val plan = planOf(df)
    // three distinct subqueries ⇒ exactly three window operators (the
    // logical plan — AQE's executed string collapses finished stages)
    val windows = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }.size
    assert(windows === 3, s"expected 3 window collects, got $windows in:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"the list join-back must stay an equi join in:\n$plan")
  }

  test("Cypher RETURN, WITH and UNION-tail ORDER BY + LIMIT plan as TakeOrderedAndProject") {
    val (nodes, edges) = (GraphQueries.nodes(spark, dir), GraphQueries.edges(spark, dir))
    for (q <- Seq(
        "MATCH (n:Nation) RETURN n.name AS name ORDER BY name DESC LIMIT 3",
        "MATCH (n:Nation) RETURN n.name AS name ORDER BY n.uid LIMIT 3",
        "MATCH (n:Nation) WITH n ORDER BY n.name LIMIT 3 RETURN n.name AS name",
        """MATCH (n:Nation) RETURN n.name AS name
          |UNION MATCH (r:Region) RETURN r.name AS name
          |ORDER BY name LIMIT 3""".stripMargin)) {
      val plan = planOf(graft.graph.CypherFrontend.run(q, nodes, edges))
      assert(plan.contains("TakeOrderedAndProject"),
        s"top-k planned as a global sort for $q in:\n$plan")
    }
  }

  test("g10: Cypher NOT (c)-[:PLACED]->() is one LeftAnti join whose probe scans only the edges") {
    import org.apache.spark.sql.catalyst.plans.LeftAnti
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val opt = GraphQueries.g10DslOrphans(spark, dir).queryExecution.optimizedPlan
    val joins = opt.collect { case j: Join => j }
    assert(joins.size === 1 && joins.head.joinType == LeftAnti,
      s"expected exactly one join, a LeftAnti, in:\n$opt")
    // g10's edge set is the orders scan; the node table is a union of
    // four other scans, none of which the probe may read
    val orders = graft.core.Tables.orders(spark, dir).columns.toSet
    val probeScans = joins.head.right.collectLeaves().map(_.output.map(_.name).toSet)
    assert(probeScans === Seq(orders),
      s"the anti join's probe must scan the edge relation alone in:\n$opt")
  }
}
