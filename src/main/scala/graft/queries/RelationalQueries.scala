package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Generic relational operator surface (SURVEY.md §2.2-2.8) exercised on
  * the driver corpus: projection/filter (P1-P5), joins (J1-J7 analogs),
  * aggregation (A1-A7), windows, sort/top-k (O1-O3), set ops (T1-T2),
  * scalar functions (F1-F13).
  *
  * Scale notes (100 TB mindset): every query here is a declarative plan —
  * filters reach the parquet scan, small dimensions are broadcast
  * explicitly, aggregations get map-side partial aggregation from
  * Catalyst, and top-k plans as TakeOrderedAndProject (no global sort).
  */
object RelationalQueries extends QueryPack {

  private def ts(d: String): Column = lit(d).cast("timestamp")

  /** Exact-decimal aggregation of double measures. A plain `sum(double)`
    * depends on shuffle arrival order in its last bit, and when the true
    * sum sits on a rounding half-boundary that bit decides which way
    * `round` goes — a per-round hash-flap lottery against the oracle
    * (q21 lost it in round 1). Decimal sums are exact and
    * order-independent; both engines then round the same value. The
    * measures here carry ≤4 decimal digits, so decimal(18,6) is lossless.
    */
  private def dsum(c: Column): Column = sum(c.cast("decimal(18,6)"))
  private def moneySum(c: Column, scale: Int = 2): Column =
    round(dsum(c), scale).cast("double")
  private def moneyAvg(c: Column, scale: Int): Column =
    round(dsum(c).cast("double") / count(c), scale)

  /** q01 — TPC-H Q1-shaped pricing summary: scan-filter-agg-sort.
    * Reference analog: the stats/aggregation surface (SURVEY §2.4 A1/A6).
    */
  def q01PricingSummary(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") <= ts("2000-12-01"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        moneySum(col("l_quantity")).as("sum_qty"),
        moneySum(col("l_extendedprice")).as("sum_base_price"),
        moneySum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
        moneyAvg(col("l_quantity"), 4).as("avg_qty"),
        moneyAvg(col("l_discount"), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  /** q02 — projection + predicate pushdown (P1/P2/P5): both the filter and
    * the 4-column ReadSchema reach the parquet scan. */
  def q02FilterProject(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .filter(col("l_quantity") >= 48 && col("l_returnflag") === "R")
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
      .orderBy("l_orderkey", "l_linenumber")

  /** q03 — TPC-H Q3-shaped 3-way join + agg + top-k (J2/A6/O3).
    * customer is the small side → broadcast; top-10 plans as
    * TakeOrderedAndProject, not a global sort. */
  def q03TopkRevenue(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
    val o = Tables.orders(s, dir).filter(col("o_orderdate") < ts("1998-01-01"))
    val l = Tables.lineitem(s, dir).filter(col("l_shipdate") > ts("1996-01-01"))
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), to_date(col("o_orderdate")).as("o_odate"), col("o_orderpriority"))
      .agg(moneySum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
      .select("l_orderkey", "revenue", "o_odate", "o_orderpriority")
      .orderBy(desc("revenue"), asc("l_orderkey"))
      .limit(10)
  }

  /** q04 — dimension chain with explicit broadcast (J1 classification-join
    * analog: small build side never shuffles the fact table). */
  def q04JoinBroadcast(s: SparkSession, dir: String): DataFrame = {
    val r = Tables.region(s, dir).filter(col("r_name").isin("EUROPE", "ASIA"))
    val n = Tables.nation(s, dir)
    Tables.customer(s, dir)
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy("n_name")
      .agg(count(lit(1)).as("num_customers"), moneySum(col("c_acctbal")).as("total_bal"))
      .orderBy("n_name")
  }

  /** q05 — anti-join (J3/J6: orphan detection, "no disposal route"):
    * customers with no recent order (non-empty at every SF, unlike the
    * all-customers-have-orders shape). */
  def q05AntiJoin(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .join(Tables.orders(s, dir).filter(col("o_orderdate") >= ts("1998-01-01")),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")

  /** q06 — semi-join (EXISTS; J1 membership classification analog). */
  def q06SemiJoin(s: SparkSession, dir: String): DataFrame = {
    val bigOrders = Tables.orders(s, dir).filter(col("o_totalprice") > 100000)
    Tables.customer(s, dir)
      .join(bigOrders, col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
  }

  /** q07 — row_number window → latest-per-key (the OVERRIDES rule-
    * precedence pattern, SURVEY §2.5/J8). */
  def q07WindowLatest(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("o_custkey").orderBy(desc("o_orderdate"), desc("o_orderkey"))
    Tables.orders(s, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("o_custkey"), col("o_orderkey"), to_date(col("o_orderdate")).as("o_odate"))
      .orderBy("o_custkey")
  }

  /** q08 — running-sum window over a unique total order (A3's
    * deterministic first-seen ordering made explicit). */
  def q08WindowRunning(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("l_suppkey")
      .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.lineitem(s, dir)
      .filter(col("l_suppkey") <= 10)
      .withColumn("running_qty",
        round(sum(col("l_quantity").cast("decimal(18,6)")).over(w), 2).cast("double"))
      .select("l_suppkey", "l_orderkey", "l_linenumber", "running_qty")
      .orderBy("l_suppkey", "l_orderkey", "l_linenumber")
  }

  /** q09 — batch upsert: full-outer join + per-column coalesce. This is
    * the engine's MERGE contract (J4, S4/S5): new snapshot wins where
    * present, old value preserved otherwise. */
  def q09UpsertMerge(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    def snap(cond: Column): DataFrame =
      o.filter(cond).groupBy(col("o_custkey").as("custkey"))
        .agg(max("o_totalprice").as("best_price"), count(lit(1)).as("n_orders"))
    val old  = snap(col("o_orderdate") < ts("1998-01-01"))
    val fresh = snap(col("o_orderdate") >= ts("1998-01-01"))
    old.as("old").join(fresh.as("new"), col("old.custkey") === col("new.custkey"), "full_outer")
      .select(
        coalesce(col("new.custkey"), col("old.custkey")).as("custkey"),
        coalesce(col("new.best_price"), col("old.best_price")).as("best_price"),
        coalesce(col("new.n_orders"), col("old.n_orders")).as("n_orders"))
      .orderBy("custkey")
  }

  /** q10 — set difference (T1: unmatched-targets diagnostic): customers
    * active in 2001 who were not active before 1996. */
  def q10SetExcept(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    o.filter(col("o_orderdate") >= ts("2001-01-01")).select("o_custkey").distinct()
      .except(o.filter(col("o_orderdate") < ts("1996-01-01")).select("o_custkey").distinct())
      .orderBy("o_custkey")
  }

  /** q11 — union-distinct across heterogeneous sources (T2). */
  def q11UnionDistinct(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir).select(col("c_nationkey").as("nationkey"))
      .union(Tables.supplier(s, dir).select(col("s_nationkey").as("nationkey")))
      .distinct()
      .orderBy("nationkey")

  /** q12 — distinct (A4). */
  def q12Distinct(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .select("l_returnflag", "l_linestatus").distinct()
      .orderBy("l_returnflag", "l_linestatus")

  /** q13 — deterministic UID (F1): substring(sha2(name,256),1,16), the
    * reference's `sha256(name)[:16]` (facilities.py:36-38) byte-for-byte. */
  def q13UidSha2(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .select(col("c_custkey"), graft.core.Uid.uid(col("c_name")).as("uid"))
      .orderBy("c_custkey")

  /** q14 — string predicate stack (F2/F3/F7/F8 + P4's validity shape):
    * trim/lower/length/contains composed as one Column expression. */
  def q14StringFuncs(s: SparkSession, dir: String): DataFrame =
    Tables.part(s, dir)
      .select(
        col("p_partkey"),
        lower(trim(col("p_name"))).as("name_norm"),
        (length(trim(col("p_name"))) >= 3 &&
          !lower(col("p_name")).contains("small") &&
          !lower(col("p_name")).startsWith("eco")).as("is_valid"))
      .orderBy("p_partkey")

  /** q15 — split + explode (F4: multiline-cell splitting) + token counts. */
  def q15SplitExplode(s: SparkSession, dir: String): DataFrame =
    Tables.part(s, dir)
      .select(explode(split(col("p_type"), " ")).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("cnt"))
      .orderBy("token")

  /** q16 — dictionary normalization with identity fallback (F5:
    * FACILITY_NAME_MAP). Implemented the scalable way: broadcast-join a
    * tiny mapping table, coalesce to the original. */
  def q16NormalizeMap(s: SparkSession, dir: String): DataFrame = {
    val mapping = s.createDataFrame(Seq(
      ("click", "interaction"),
      ("view", "impression"))).toDF("raw", "canonical")
    Tables.events(s, dir)
      .join(broadcast(mapping), col("event_type") === col("raw"), "left")
      .select(coalesce(col("canonical"), col("event_type")).as("event_norm"))
      .groupBy("event_norm")
      .agg(count(lit(1)).as("cnt"))
      .orderBy("event_norm")
  }

  /** q17 — temporal bucketing (F10 family): month truncation + agg. */
  def q17GroupMonth(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy(to_date(date_trunc("month", col("o_orderdate"))).as("month"))
      .agg(count(lit(1)).as("cnt"), moneySum(col("o_totalprice")).as("total"))
      .orderBy("month")

  /** q18 — tumbling 5-minute event-time window as batch (the Structured
    * Streaming windowed-agg shape, SURVEY §2.10, runnable by an oracle). */
  def q18EventsWindow(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(
        (floor(unix_timestamp(col("ts")) / 300) * 300).cast("long").as("win_start"),
        col("event_type"))
      .agg(count(lit(1)).as("cnt"), moneySum(col("value")).as("total_value"))
      .orderBy("win_start", "event_type")

  /** q19 — self-join (J7 hierarchy-analog: same-key pairing). */
  def q19SelfJoinPairs(s: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(s, dir).select("p_partkey", "p_brand", "p_size")
    p.as("a").join(p.as("b"),
        col("a.p_brand") === col("b.p_brand") &&
        col("a.p_size") === col("b.p_size") &&
        col("a.p_partkey") < col("b.p_partkey"))
      .groupBy(col("a.p_brand").as("brand"))
      .agg(count(lit(1)).as("pair_cnt"))
      .orderBy("brand")
  }

  /** q20 — get_stats parity (A1/A2, neo4j_db.py:122-148): per-"label"
    * counts in ONE job, not the reference's N+1 query loop. */
  def q20StatsLabels(s: SparkSession, dir: String): DataFrame = {
    val counts = Seq("customer", "orders", "lineitem", "part", "supplier", "nation", "region")
      .map(t => Tables(s, dir, t).groupBy(lit(t).as("label")).agg(count(lit(1)).as("cnt")))
    counts.reduce(_ union _).orderBy("label")
  }

  /** q21 — gap-based sessionization (30-min inactivity): lag + running
    * session counter per user, then per-session aggregates. Microsecond
    * integer math so both engines agree exactly; the value sum rides
    * decimal so the per-session total is independent of summation order.
    * The round-1/2 hash flap was NOT summation order: DuckDB returns
    * HUGEINT for an integer window sum, which the gate's pandas compare
    * materializes as float64 ('3.0' vs our int64 '3'), so the oracle's
    * session_no must be CAST to BIGINT — same convention as the
    * CAST(count(*) AS BIGINT) used everywhere else.
    * The standard user-journey op for an events pipeline.
    */
  def q21Sessionize(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    Tables.events(s, dir)
      .withColumn("us", expr("unix_micros(ts)"))
      .withColumn("prev_us", lag("us", 1).over(byUser))
      .withColumn("new_sess",
        when(col("prev_us").isNull || col("us") - col("prev_us") > 1800000000L, 1).otherwise(0))
      .withColumn("session_no", sum("new_sess").over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_no")
      .agg(
        min("us").as("sess_start_us"),
        count(lit(1)).as("n_events"),
        ((max(col("us")) - min(col("us"))) / 1000000L).cast("long").as("duration_sec"),
        round(sum(col("value").cast("decimal(18,6)")), 2).cast("double").as("total_value"))
      .orderBy("user_id", "session_no")
  }

  /** q22 — JSON property navigation (F12 on the corpus): extract a
    * typed field from the JSON props column, aggregate per event type. */
  def q22JsonProps(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("int").as("k"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("cnt"), round(avg("k"), 4).as("avg_k"),
        max("k").as("max_k"))
      .orderBy("event_type")

  /** q23 — rollup with subtotal rows (multi-level OLAP aggregation;
    * grouping() disambiguates real NULL keys from subtotal rows). */
  def q23Rollup(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .rollup("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("cnt"), moneySum(col("o_totalprice")).as("total"),
        grouping(col("o_orderstatus")).cast("int").as("g_status"),
        grouping(col("o_orderpriority")).cast("int").as("g_prio"))
      .orderBy(col("g_status"), col("g_prio"),
        col("o_orderstatus").asc_nulls_last, col("o_orderpriority").asc_nulls_last)

  /** q24 — as-of join (the union-sort form, functions.AsOfJoin): each
    * click joined to the user's most recent error at-or-before it. */
  def q24AsOf(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    val errors = ev.filter(col("event_type") === "error")
      .select(col("user_id"), col("ts"), col("value").as("err_value"),
        expr("unix_micros(ts)").as("err_us"))
    graft.functions.AsOfJoin.join(clicks, errors, "user_id", "ts", "ts",
        Seq("err_value", "err_us"))
      .select(col("event_id"), col("user_id"), col("err_value"), col("err_us"))
      .orderBy("event_id")
  }

  /** q25 — pivot / crosstab: order counts per status × priority. */
  def q25Pivot(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy("o_orderstatus")
      .pivot("o_orderpriority",
        Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
      .agg(count(lit(1)))
      .toDF("o_orderstatus", "p1_urgent", "p2_high", "p3_medium", "p4_notspec", "p5_low")
      .orderBy("o_orderstatus")

  /** q26 — bounded range join (functions.RangeJoin, bucketed — no
    * nested loop): clicks within 10 minutes after each error, per user.
    */
  def q26RangeJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).withColumn("us", expr("unix_micros(ts)"))
    val errors = ev.filter(col("event_type") === "error")
      .select(col("event_id").as("err_id"), col("user_id"), col("us").as("err_us"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("us").as("click_us"))
    graft.functions.RangeJoin.rightWithin(errors, clicks, "user_id",
        "err_us", "click_us", 600000000L)
      .groupBy("err_id")
      .agg(count(lit(1)).as("n_clicks"),
        min(col("click_us") - col("err_us")).as("min_delay_us"))
      .orderBy("err_id")
  }

  /** q27 — analytic window battery: rank, dense_rank, ntile, lag/lead
    * over one window definition (one sort, several functions). */
  def q27WindowRank(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("c_mktsegment").orderBy(desc("c_acctbal"), asc("c_custkey"))
    Tables.customer(s, dir)
      .select(col("c_mktsegment"), col("c_custkey"), col("c_acctbal"),
        rank().over(w).as("rnk"),
        dense_rank().over(w).as("drnk"),
        ntile(4).over(w).as("quartile"),
        lag("c_custkey", 1).over(w).as("prev_cust"),
        lead("c_custkey", 1).over(w).as("next_cust"))
      .filter(col("rnk") <= 20)
      .orderBy("c_mktsegment", "rnk")
  }

  /** q28 — exact percentiles per group (linear interpolation, matching
    * quantile_cont): the distribution profile an events/pricing pipeline
    * reports. */
  def q28Percentiles(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy("o_orderpriority")
      .agg(
        round(expr("percentile(o_totalprice, 0.25)"), 2).as("p25"),
        round(expr("percentile(o_totalprice, 0.5)"), 2).as("p50"),
        round(expr("percentile(o_totalprice, 0.75)"), 2).as("p75"),
        round(expr("percentile(o_totalprice, 0.95)"), 2).as("p95"))
      .orderBy("o_orderpriority")

  /** q29 — unpivot (wide → long): the per-flag aggregate columns
    * restacked as (metric, val) rows via the `stack` generator — the
    * inverse of q25's pivot, and the shape metric/feature stores want. */
  def q29Unpivot(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy("l_returnflag")
      .agg(moneySum(col("l_quantity")).as("sum_qty"),
        moneySum(col("l_extendedprice")).as("sum_price"))
      .selectExpr("l_returnflag",
        "stack(2, 'sum_price', sum_price, 'sum_qty', sum_qty) AS (metric, val)")
      .orderBy("l_returnflag", "metric")

  /** q30 — cube: all 4 grouping sets of (returnflag, linestatus) in one
    * pass (q23's rollup generalized); grouping ids disambiguate subtotal
    * rows from real NULL keys. */
  def q30Cube(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .cube("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("cnt"), moneyAvg(col("l_discount"), 4).as("avg_disc"),
        grouping(col("l_returnflag")).cast("int").as("g_rf"),
        grouping(col("l_linestatus")).cast("int").as("g_ls"))
      .orderBy(col("g_rf"), col("g_ls"),
        col("l_returnflag").asc_nulls_last, col("l_linestatus").asc_nulls_last)

  /** q31 — the `spark.sql` surface (S7's arbitrary-query API) with a
    * correlated scalar subquery: orders above their priority group's
    * mean price. Catalyst decorrelates the subquery into a join against
    * the grouped aggregate — no per-row re-execution (the reference's
    * N+1 pattern, `neo4j_db.py:122-148`, is exactly what decorrelation
    * deletes). */
  def q31SqlSurface(s: SparkSession, dir: String): DataFrame = {
    Tables.orders(s, dir).createOrReplaceTempView("orders_v")
    // the correlated mean goes through an exact decimal sum so the
    // above-threshold comparison is engine-identical (see dsum note)
    s.sql("""
      SELECT o_orderpriority, count(*) AS n_above
      FROM orders_v o
      WHERE o_totalprice > (SELECT CAST(sum(CAST(i.o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
                                   / count(i.o_totalprice)
                            FROM orders_v i
                            WHERE i.o_orderpriority = o.o_orderpriority)
      GROUP BY o_orderpriority ORDER BY o_orderpriority""")
  }

  /** q32 — ordered funnel (view → click → purchase): per stage, users
    * whose first qualifying event follows their previous stage's. Three
    * conditional min-aggs chained by user_id joins — each stage's
    * dimension shrinks, so the joins get cheaper as the funnel narrows;
    * integer-microsecond comparisons keep it exactly oracle-checkable. */
  def q32Funnel(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), expr("unix_micros(ts)").as("us"))
    val v = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("us").as("v_us"))
    val c = ev.filter(col("event_type") === "click")
      .join(v, "user_id").filter(col("us") >= col("v_us"))
      .groupBy("user_id").agg(min("us").as("c_us"))
    val p = ev.filter(col("event_type") === "purchase")
      .join(c, "user_id").filter(col("us") >= col("c_us"))
      .groupBy("user_id").agg(min("us").as("p_us"))
    // one scalar count per stage, unioned — an empty stage emits a
    // 0-count row exactly like the oracle's UNION ALL of counts (a
    // groupBy over unioned user rows would silently DROP empty stages
    // and hash-mismatch on any corpus slice where the funnel runs dry)
    def stageCount(df: DataFrame, stage: String): DataFrame =
      df.agg(count(lit(1)).as("n_users")).select(lit(stage).as("stage"), col("n_users"))
    stageCount(v, "stage1_view")
      .unionByName(stageCount(c, "stage2_click"))
      .unionByName(stageCount(p, "stage3_purchase"))
      .orderBy("stage")
  }

  /** q33 — cohort retention matrix: users grouped by signup day,
    * counted once per later active day (offsets 0-7). Integer day
    * arithmetic on truncated dates is exact across engines; the
    * (cohort, offset) matrix is one distinct + one agg after a single
    * user_id join. The corpus spans 30 days, so day-grain cohorts give
    * a real matrix (month-grain would collapse to one row). */
  def q33CohortRetention(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("user_id"), to_date(col("ts")).as("d"), col("event_type"))
    val cohort = ev.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min("d").as("cohort_day"))
    ev.join(cohort, "user_id")
      .filter(col("d") >= col("cohort_day"))
      .select("user_id", "cohort_day", "d").distinct()
      .withColumn("days_since", datediff(col("d"), col("cohort_day")))
      .filter(col("days_since").between(0, 7))
      .groupBy("cohort_day", "days_since")
      .agg(count(lit(1)).as("n_users"))
      .orderBy("cohort_day", "days_since")
  }

  /** q34 — sliding event-time windows (10 min length, 5 min slide):
    * each event lands in exactly 2 overlapping windows — Spark's
    * `window()` generator, the batch form of the streaming windowed agg.
    * Windows align to the epoch, so the oracle reproduces them with
    * integer floor arithmetic. */
  def q34SlidingWindow(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(window(col("ts"), "10 minutes", "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), moneySum(col("value")).as("sum_value"))
      .select(col("window.start").as("w_start"), col("event_type"),
        col("cnt"), col("sum_value"))
      .orderBy("w_start", "event_type")

  /** q35 — set intersection (completes the T-family with q10's except
    * and q11's union): customers active in both 1996 and 1997. Catalyst
    * plans INTERSECT as an aggregate-dedup'd left-semi join. */
  def q35Intersect(s: SparkSession, dir: String): DataFrame = {
    def active(year: Int) = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= ts(s"$year-01-01") &&
        col("o_orderdate") < ts(s"${year + 1}-01-01"))
      .select("o_custkey")
    active(1996).intersect(active(1997)).orderBy("o_custkey")
  }

  /** q36 — NULL semantics gate: nulls form their own group, count(col)
    * skips them while count(*) doesn't, and sorts place them last on
    * request — the ANSI behaviors an engine must match exactly (the
    * corpus has no natural NULLs, so nullif manufactures them). */
  def q36NullSemantics(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy(nullif(col("o_orderstatus"), lit("O")).as("grp"))
      .agg(count(lit(1)).as("cnt"),
        count(nullif(col("o_orderstatus"), lit("O"))).as("cnt_nonnull"),
        countDistinct(col("o_orderpriority")).as("n_prio"))
      .orderBy(col("grp").asc_nulls_last)

  /** q37 — date/time scalar battery over distinct order dates: extract
    * fields, ISO week, month end, day arithmetic, formatting. Numbering
    * conventions differ across engines (Spark dayofweek is 1=Sunday,
    * DuckDB dow is 0=Sunday) — the oracle encodes the mapping, which is
    * exactly the cross-engine contract this query pins. */
  def q37DateFuncs(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .select(to_date(col("o_orderdate")).as("od")).distinct()
      .orderBy("od").limit(100)
      .select(
        col("od"),
        year(col("od")).as("y"),
        quarter(col("od")).as("q"),
        month(col("od")).as("m"),
        dayofmonth(col("od")).as("dom"),
        dayofweek(col("od")).as("dow_sun1"),
        dayofyear(col("od")).as("doy"),
        weekofyear(col("od")).as("iso_week"),
        last_day(col("od")).as("month_end"),
        date_add(col("od"), 30).as("plus30"),
        date_format(col("od"), "yyyy-MM").as("ym"))

  /** q38 — bloom-pruned selective join (functions.BloomPrune, the 100 TB
    * shuffle-reduction path): a 55-order dimension joins the lineitem
    * fact; the bloom probe drops ~99% of fact rows BEFORE the exchange,
    * and the exact join after it keeps the result identical to the plain
    * join the oracle runs (bloom false positives never survive the
    * join). */
  def q38BloomPrune(s: SparkSession, dir: String): DataFrame = {
    val dim = Tables.orders(s, dir)
      .filter(col("o_totalprice") > 450000)
      .select("o_orderkey", "o_orderpriority")
    val pruned = graft.functions.BloomPrune.prune(
      Tables.lineitem(s, dir), dim, "l_orderkey", "o_orderkey",
      expectedItems = 100000L)
    pruned.join(dim, col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_lines"),
        moneySum(col("l_extendedprice")).as("total_price"))
      .orderBy("o_orderpriority")
  }

  /** q39 — salted skew join (functions.SkewJoin): lineitem×supplier
    * salted 8 ways so a hot supplier key spreads across tasks; the
    * result is exactly the plain join (the salt only picks which task
    * computes each row), which is what the oracle checks. */
  def q39SkewJoin(s: SparkSession, dir: String): DataFrame = {
    val big = Tables.lineitem(s, dir)
      .select(col("l_suppkey").as("suppkey"), col("l_quantity"))
    val small = Tables.supplier(s, dir)
      .select(col("s_suppkey").as("suppkey"), col("s_nationkey"))
    graft.functions.SkewJoin.salted(big, small, "suppkey", buckets = 8)
      .groupBy("s_nationkey")
      .agg(count(lit(1)).as("n_lines"), moneySum(col("l_quantity")).as("sum_qty"))
      .orderBy("s_nationkey")
  }

  /** q40 — trailing 7-day range-frame window (RANGE, not ROWS — the
    * frame is defined by the ORDER-BY value, so all orders within the
    * trailing week enter the sum regardless of how many rows share a
    * day). Day numbers are integer offsets from a fixed epoch, which is
    * what lets both engines express the interval frame identically; the
    * sum runs through decimal per the dsum note. */
  def q40TrailingWindow(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("o_custkey").orderBy("od_day")
      .rangeBetween(-6, Window.currentRow)
    Tables.orders(s, dir)
      .filter(col("o_custkey") <= 100)
      .select(col("o_custkey"), col("o_orderkey"),
        datediff(to_date(col("o_orderdate")), lit("1992-01-01").cast("date"))
          .as("od_day"),
        col("o_totalprice"))
      .withColumn("trail7_total",
        round(sum(col("o_totalprice").cast("decimal(18,6)")).over(w), 2)
          .cast("double"))
      .select("o_custkey", "o_orderkey", "od_day", "trail7_total")
      .orderBy("o_custkey", "o_orderkey")
  }

  /** a01 — approximate profile: HyperLogLog distinct users and
    * interpolated-histogram percentiles per event type. Sketches are
    * the only way to profile 100 TB in one pass, but their raw outputs
    * are implementation-defined — no cross-engine value oracle exists.
    * So the query emits the sketch's CONTRACT instead of its raw value:
    * exact counts plus booleans asserting each sketch answer lies
    * within its published tolerance of the exact answer computed in the
    * same pass. The DuckDB oracle recomputes the exact columns and
    * expects every contract boolean TRUE — a full hash gate (round 2
    * ran this as the weaker rows-only check). ApproxSpec additionally
    * pins the bounds on other corpus columns. */
  def a01ApproxProfile(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("exact_users"),
        approx_count_distinct(col("user_id"), 0.02).as("hll_users"),
        expr("approx_percentile(value, 0.5, 10000)").as("ap50"),
        expr("approx_percentile(value, 0.99, 10000)").as("ap99"),
        expr("percentile(value, 0.475)").as("lo50"),
        expr("percentile(value, 0.525)").as("hi50"),
        expr("percentile(value, 0.965)").as("lo99"),
        expr("percentile(value, 1.0)").as("hi99"))
      .select(col("event_type"), col("n_events"), col("exact_users"),
        (abs(col("hll_users") - col("exact_users")) <=
          col("exact_users") * 0.05).as("hll_ok"),
        // approx_percentile returns a data ELEMENT whose RANK is within
        // n/accuracy of the target (Greenwald-Khanna contract), while
        // percentile() interpolates BETWEEN elements — so the band must
        // be wide enough in rank space to bracket the element's two
        // possible neighbors: ±2.5 percentile ≙ ±0.025·(n−1) ranks ≥ 1
        // full rank step once n ≥ ~41 (hi99 rides max, the p=1.0
        // element). Precondition, not universal: the smallest gated
        // groups (sf0.001 event types) hold ~190 rows; ApproxSpec pins
        // the contract at both sf0.001 and sf0.01.
        col("ap50").between(col("lo50"), col("hi50")).as("p50_ok"),
        col("ap99").between(col("lo99"), col("hi99")).as("p99_ok"))
      .orderBy("event_type")

  /** a02 — mergeable-sketch profile (DataSketches HLL): one sketch per
    * (event_type, day) partition, then `hll_union_agg` merges the
    * partials into the per-type estimate. Mergeability is THE property
    * that makes one-pass 100 TB profiling possible — partials build
    * where the data lives (map-side, per partition/day/cluster), and
    * only fixed-size sketch bytes cross the wire, never re-scanning
    * history when a day is added. a01's contract-boolean gating applies:
    * the oracle recomputes the exact distinct and expects the merged
    * estimate within the published tolerance (lgK=14 ⇒ ~0.8% RSE; 5%
    * band). */
  def a02SketchMerge(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val daily = ev
      .groupBy(col("event_type"), to_date(col("ts")).as("d"))
      .agg(hll_sketch_agg(col("user_id"), 14).as("sk"))
    val merged = daily.groupBy("event_type")
      .agg(count(lit(1)).as("n_days"),
        hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
    val exact = ev.groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("exact_users"))
    merged.join(exact, Seq("event_type"))
      .select(col("event_type"), col("n_days"), col("exact_users"),
        (abs(col("est") - col("exact_users")) <= col("exact_users") * 0.05)
          .as("merge_ok"))
      .orderBy("event_type")
  }

  /** q41 — time-series gap filling: a generated per-user date spine
    * (min..max activity day via `sequence` + `explode` — no driver
    * loop, no cross join) left-joined to daily totals, gaps
    * forward-filled with `last_value(… ignoreNulls)` over the date
    * order. The densify-and-fill shape every metrics/feature pipeline
    * needs before resampling; at scale the spine explode is per-user
    * bounded and the fill is one partitioned window sort. */
  def q41GapFill(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.events(s, dir)
      .filter(col("user_id") <= 20)
      .groupBy(col("user_id"), to_date(col("ts")).as("d"))
      .agg(moneySum(col("value")).as("day_total"))
      // both the spine derivation and the fill join read this — stage it
      // once (shingled()/d17 pattern) instead of scanning events twice
      .localCheckpoint(true)
    val spine = daily.groupBy("user_id")
      .agg(min("d").as("d0"), max("d").as("d1"))
      .select(col("user_id"), explode(sequence(col("d0"), col("d1"))).as("d"))
    val w = Window.partitionBy("user_id").orderBy("d")
    spine.join(daily, Seq("user_id", "d"), "left")
      .select(col("user_id"), col("d"),
        last("day_total", ignoreNulls = true).over(w).as("filled_total"),
        col("day_total").isNull.as("is_gap"))
      .orderBy("user_id", "d")
  }

  /** q42 — blocked fuzzy matching (entity resolution, the scalable form
    * of the reference's dedup-merge-by-name, facilities.py:58-76):
    * candidate pairs come from an equi-join on a blocking key
    * (nation + name prefix) — never an all-pairs cross join — and only
    * candidates pay the levenshtein edit-distance check. Standard
    * blocking recall trade-off: pairs differing inside the block key
    * are unreachable by construction, identically in both engines. */
  def q42FuzzyMatch(s: SparkSession, dir: String): DataFrame = {
    // block on the first 7 of the 9 name digits: a shorter prefix is
    // near-constant on this corpus (numbers < 100000), which silently
    // degrades the "blocked" join to per-nation all-pairs — measured 8s
    // vs 0.3s at sf0.1 for the identical result semantics
    val c = Tables.customer(s, dir).select(
      col("c_nationkey").as("nationkey"), col("c_name").as("name"),
      substring(col("c_name"), 10, 7).as("blk"))
    val a = c.select(col("nationkey"), col("blk"), col("name").as("name_a"))
    val b = c.select(col("nationkey"), col("blk"), col("name").as("name_b"))
    a.join(b, Seq("nationkey", "blk"))
      .filter(col("name_a") < col("name_b") &&
        levenshtein(col("name_a"), col("name_b")) <= 2)
      .groupBy("nationkey")
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("nationkey")
  }

  /** q43 — heterogeneous-schema union (schema evolution at ingestion):
    * customer and supplier snapshots with different column sets unioned
    * by NAME with missing columns null-filled — the tolerant-reader
    * shape every long-lived ingestion pipeline needs when upstream
    * schemas drift. Positional union would silently misalign; this is
    * the API contract `unionByName(allowMissingColumns)` pins. */
  def q43SchemaUnion(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir).select(
      col("c_custkey").as("party_id"), col("c_name").as("name"),
      col("c_acctbal").as("balance"), col("c_mktsegment").as("segment"))
      .withColumn("kind", lit("customer"))
    val su = Tables.supplier(s, dir).select(
      col("s_suppkey").as("party_id"), col("s_name").as("name"),
      col("s_nationkey").as("nation"))
      .withColumn("kind", lit("supplier"))
    c.unionByName(su, allowMissingColumns = true)
      .filter(col("party_id") <= 50)
      .orderBy("kind", "party_id")
  }

  /** q44 — EXISTS / NOT EXISTS predicate subqueries (S7 surface, the
    * declarative form of J1/J6's membership checks): customers with at
    * least one urgent order and no failed one. Catalyst's
    * RewritePredicateSubquery turns both into one semi- plus one
    * anti-join — no per-row re-execution, same plan you'd write by
    * hand, but stated as the user states it. */
  def q44ExistsSubquery(s: SparkSession, dir: String): DataFrame = {
    Tables.customer(s, dir).createOrReplaceTempView("customer_v")
    Tables.orders(s, dir).createOrReplaceTempView("orders_v44")
    s.sql("""
      SELECT c_custkey, c_name
      FROM customer_v c
      WHERE EXISTS (SELECT 1 FROM orders_v44 o
                    WHERE o.o_custkey = c.c_custkey
                      AND o.o_orderpriority = '1-URGENT')
        AND NOT EXISTS (SELECT 1 FROM orders_v44 o
                        WHERE o.o_custkey = c.c_custkey
                          AND o.o_orderstatus = 'F')
      ORDER BY c_custkey""")
  }

  /** q45 — multiple exact count-distincts in one aggregation: Catalyst
    * plans this with an Expand (one replica of each row per distinct
    * set) feeding a single shuffle — not N self-joined single-distinct
    * aggs. The per-group de-dup happens map-side after the expand, so
    * at 100 TB the shuffle carries distinct (group, key) pairs, not raw
    * rows. */
  def q45MultiDistinct(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy("o_orderpriority")
      .agg(
        countDistinct(col("o_custkey")).as("n_custs"),
        countDistinct(to_date(col("o_orderdate"))).as("n_days"),
        count(lit(1)).as("n_orders"))
      .orderBy("o_orderpriority")

  /** q46 — higher-order array functions over tokenized text (the
    * in-row form of the doc-pipeline kernels, SURVEY §2.8/F4): filter,
    * aggregate (fold), and exists run as codegen'd array lambdas inside
    * the row — no explode, no shuffle, no UDF. At 100 TB this is the
    * difference between a narrow map stage and an explode that
    * multiplies the row count by mean token length. */
  def q46HigherOrder(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("toks", split(col("text"), " "))
      .select(
        col("doc_id"),
        size(col("toks")).as("n_tokens"),
        size(expr("filter(toks, t -> length(t) > 4)")).as("n_long"),
        expr("aggregate(toks, 0L, (a, t) -> a + length(t))").as("total_chars"),
        expr("exists(toks, t -> t = 'spark')").as("has_spark"))
      .orderBy("doc_id")

  /** q47 — regexp_extract_all: all matches per row as an array (F6's
    * find-all half; the consume-once half lives in
    * functions.ConsumeOnceExtract). Count and first-match stay scalar
    * so the result is hash-comparable. */
  def q47RegexpExtractAll(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("ms", regexp_extract_all(col("text"), lit("\\b[a-z]*a[a-z]*\\b"), lit(0)))
      .select(
        col("doc_id"),
        size(col("ms")).as("n_matches"),
        coalesce(col("ms").getItem(0), lit("")).as("first_match"))
      .orderBy("doc_id")

  /** q48 — distribution window functions: percent_rank, cume_dist and
    * first/last frame navigation over each priority's price order. One
    * window spec → one shuffle + one sort; the total ORDER BY keys
    * include the price so ties cannot reorder output between engines. */
  def q48DistWindows(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("o_orderpriority")
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    Tables.orders(s, dir)
      .filter(col("o_orderkey") <= 2000)
      .select(
        col("o_orderpriority"), col("o_orderkey"),
        round(percent_rank().over(w), 6).as("pct_rank"),
        round(cume_dist().over(w), 6).as("cdist"),
        first(col("o_orderkey")).over(w).as("cheapest_key"))
      .orderBy("o_orderpriority", "o_orderkey")
  }

  /** q49 — SCD type-2 build from an event log: collapse each user's
    * event stream to its type-change points, then derive
    * [valid_from, valid_to) microsecond intervals with lead() — the
    * standard dimension-history shape every warehouse load needs. Two
    * window passes over the SAME (user_id) partitioning: Catalyst
    * reuses the exchange, so the filter between them costs no extra
    * shuffle. All interval math is integer microseconds — engine-exact. */
  def q49Scd2(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy("user_id").orderBy("us", "event_id")
    val openEnd = 253402300799000000L // 9999-12-31T23:59:59Z in micros
    Tables.events(s, dir)
      .filter(col("user_id") <= 300)
      .select(col("user_id"), col("event_type"),
        expr("unix_micros(ts)").as("us"), col("event_id"))
      .withColumn("prev_type", lag("event_type", 1).over(byUser))
      .filter(col("prev_type").isNull || col("prev_type") =!= col("event_type"))
      .withColumn("next_us", lead("us", 1).over(byUser))
      .select(col("user_id"), col("event_type"),
        col("us").as("valid_from_us"),
        coalesce(col("next_us") - 1, lit(openEnd)).as("valid_to_us"),
        when(col("next_us").isNull, 1).otherwise(0).as("is_current"))
      .orderBy("user_id", "valid_from_us")
  }

  /** q50 — GROUPING SETS with heterogeneous sets ((status), (priority),
    * ()): the general form q23's rollup and q30's cube are sugar for.
    * Catalyst plans one Expand (3 replicas) into a single hash
    * aggregate — not three scans unioned; grouping() tells subtotal
    * NULLs from data NULLs. */
  def q50GroupingSets(s: SparkSession, dir: String): DataFrame = {
    Tables.orders(s, dir).createOrReplaceTempView("orders_v50")
    s.sql("""
      SELECT o_orderstatus, o_orderpriority,
        count(*) AS cnt,
        CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS total,
        CAST(grouping(o_orderstatus) AS INT) AS g_status,
        CAST(grouping(o_orderpriority) AS INT) AS g_prio
      FROM orders_v50
      GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
      ORDER BY g_status, g_prio, o_orderstatus, o_orderpriority""")
  }

  /** q51 — peak-concurrency via sweep-line: each event opens a 5-minute
    * interval; starts/ends become +1/−1 deltas, a running sum per type
    * finds the maximum overlap. The sweep replaces the quadratic
    * range self-join (q26's shape) with 2N rows and ONE window — the
    * only formulation that survives a 100 TB event log. End bounds are
    * exclusive (a start at an end instant does not overlap), encoded by
    * sorting −1 before +1 at equal timestamps; the default RANGE frame
    * makes tied rows share one cumulative value, so the result is
    * independent of tie order inside the shuffle. */
  def q51Concurrency(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(s, dir)
      .select(col("event_type"), expr("unix_micros(ts)").as("us"))
    val deltas = ev.select(col("event_type"), col("us").as("t"), lit(1).as("delta"))
      .unionByName(ev.select(col("event_type"),
        (col("us") + 300000000L).as("t"), lit(-1).as("delta")))
    val sweep = Window.partitionBy("event_type").orderBy("t", "delta")
    deltas
      .withColumn("conc", sum("delta").over(sweep))
      .groupBy("event_type")
      .agg(max("conc").as("max_concurrent"),
        (count(lit(1)) / 2).cast("long").as("n_intervals"))
      .orderBy("event_type")
  }

  /** q52 — native session windows: Spark's built-in
    * `session_window(ts, gap)` groupBy — the declarative form of q21's
    * hand-rolled lag/running-sum sessionizer and the batch twin of the
    * s04 state machine. One shuffle on (user, session) after map-side
    * window assignment; window.start/end are the first event and
    * last event + gap, checked against a gap-sessionization oracle.
    * Having both q21 and q52 pins that the built-in operator and the
    * from-scratch formulation agree row-for-row. */
  def q52SessionWindow(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value").cast("decimal(18,6)")), 2).cast("double")
          .as("total_value"))
      .select(col("user_id"),
        expr("unix_micros(sw.start)").as("sess_start_us"),
        expr("unix_micros(sw.end)").as("sess_end_us"),
        col("n_events"), col("total_value"))
      .orderBy("user_id", "sess_start_us")

  /** q53 — null-aware anti join: the three spellings of "customers
    * with no urgent order" whose semantics diverge the moment the
    * subquery column is nullable. `NOT IN` over a clean list is a
    * plain anti join; `NOT IN` over a list containing a NULL returns
    * UNKNOWN for every candidate (three-valued logic) so the filter
    * keeps nothing; `NOT EXISTS` with an equality predicate simply
    * never matches the NULL row and keeps the anti-join semantics.
    * Catalyst plans the nullable NOT IN as a single-column
    * null-aware anti join (broadcast hash, not a nested-loop per-row
    * rescan) — the plan NullAwareAntiJoinSpec pins — so the
    * "correct but slow" trap of BroadcastNestedLoopJoin is avoided
    * at any scale where the subquery side broadcasts. */
  def q53NullAntiJoin(s: SparkSession, dir: String): DataFrame = {
    Tables.customer(s, dir).createOrReplaceTempView("customer_v53")
    Tables.orders(s, dir).createOrReplaceTempView("orders_v53")
    s.sql("""
      SELECT 'not_in_clean' AS variant, count(*) AS n_rows
      FROM customer_v53
      WHERE c_custkey NOT IN (SELECT o_custkey FROM orders_v53
                              WHERE o_orderpriority = '1-URGENT')
      UNION ALL
      SELECT 'not_in_nullable' AS variant, count(*) AS n_rows
      FROM customer_v53
      WHERE c_custkey NOT IN (SELECT nullif(o_custkey, 7) FROM orders_v53
                              WHERE o_orderpriority = '1-URGENT')
      UNION ALL
      SELECT 'not_exists' AS variant, count(*) AS n_rows
      FROM customer_v53 c
      WHERE NOT EXISTS (SELECT 1 FROM orders_v53 o
                        WHERE nullif(o.o_custkey, 7) = c.c_custkey
                          AND o.o_orderpriority = '1-URGENT')
      ORDER BY variant""")
  }

  private def rmTree(p: java.nio.file.Path): Unit =
    graft.core.TempDirs.deleteQuietly(p, "queries")

  /** q54 — the multiline-quoted CSV source through the gate (S2,
    * `waste_items.py:251-281`): cells with embedded newlines round-trip
    * write → multiLine read, then aggregate. The oracle computes the
    * same result from the parquet ground truth, so any quoting/escape/
    * embedded-newline loss in the CSV path breaks the hash. The read
    * carries an explicit schema (inference is a scan of its own and a
    * drift risk at scale). */
  def q54CsvSource(s: SparkSession, dir: String): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-q54-csv")
    try {
      Tables.nation(s, dir).select(
        col("n_nationkey"), col("n_regionkey"), col("n_name"),
        concat(col("n_name"), lit("\nnote: rk="), col("n_regionkey")).as("note"))
        .write.mode("overwrite").option("header", true).option("escape", "\"")
        .csv(tmp.toString)
      s.read.option("header", true).option("multiLine", true)
        .option("escape", "\"")
        .schema("n_nationkey INT, n_regionkey INT, n_name STRING, note STRING")
        .csv(tmp.toString)
        .groupBy("n_regionkey")
        .agg(count(lit(1)).as("n_nations"),
          sum(length(col("note"))).as("sum_note_len"),
          min("n_name").as("first_name"),
          max("n_name").as("last_name"))
        .orderBy("n_regionkey")
        .localCheckpoint(true)
    } finally rmTree(tmp)
  }

  /** q55 — the nested JSON source through the gate (S1's map-of-arrays
    * shape, `facilities.py:41-76`): array-of-struct rows round-trip
    * write.json → schema'd read.json → explode → aggregate, against the
    * parquet ground truth. collect_list rides sort_array so the nested
    * payload is order-deterministic before it ever hits the file. */
  def q55JsonSource(s: SparkSession, dir: String): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-q55-json")
    try {
      Tables.nation(s, dir)
        .groupBy("n_regionkey")
        .agg(sort_array(collect_list(struct(col("n_nationkey"), col("n_name"))))
          .as("nations"))
        .write.mode("overwrite").json(tmp.toString)
      s.read
        .schema("n_regionkey INT, nations ARRAY<STRUCT<n_nationkey: INT, n_name: STRING>>")
        .json(tmp.toString)
        .select(col("n_regionkey"), explode(col("nations")).as("n"))
        .groupBy("n_regionkey")
        .agg(count(lit(1)).as("n_nations"),
          sum(col("n.n_nationkey")).as("sum_key"),
          concat_ws("|", sort_array(collect_list(col("n.n_name")))).as("names"))
        .orderBy("n_regionkey")
        .localCheckpoint(true)
    } finally rmTree(tmp)
  }

  /** q56 — ORC as an alternative columnar sink/source (beyond-parity
    * format coverage): parquet → ORC → aggregate, same oracle as the
    * parquet ground truth. Decimal sum discipline as everywhere. */
  def q56OrcSource(s: SparkSession, dir: String): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-q56-orc")
    try {
      val orders = Tables.orders(s, dir)
      orders.write.mode("overwrite").orc(tmp.toString)
      s.read.schema(orders.schema).orc(tmp.toString)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("cnt"),
          round(sum(col("o_totalprice").cast("decimal(18,6)")), 2).cast("double")
            .as("total"))
        .orderBy("o_orderstatus")
        .localCheckpoint(true)
    } finally rmTree(tmp)
  }

  /** q82 — the zero-egress XLSX source through the gate (the
    * reference's `Abfall_ABC.xlsx`/`AVV_Katalog.xlsx` catalog inputs,
    * `README.md:122-127`): the nation dim exports through the
    * DISTRIBUTED partitioned writer (`XlsxSource.write` — one OOXML
    * part per partition, nothing through the driver; the round trip
    * crosses a real multi-file directory), reads back through the
    * distributed binaryFile+StAX path, and aggregates against the
    * parquet ground truth. Cells surface as strings (the xlsx
    * contract), so the group key casts back. */
  def q82XlsxSource(s: SparkSession, dir: String): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-q82-xlsx")
    try {
      val nation = Tables.nation(s, dir)
        .select("n_nationkey", "n_regionkey", "n_name")
      graft.sources.XlsxSource.write(nation.repartition(2), tmp.toString, "Nation")
      graft.sources.XlsxSource.read(s, tmp.toString + "/*.xlsx")
        .groupBy(col("n_regionkey").cast("long").as("n_regionkey"))
        .agg(count(lit(1)).as("n_nations"),
          min("n_name").as("first_name"),
          max("n_name").as("last_name"),
          sum(length(col("n_name"))).as("sum_name_len"))
        .orderBy("n_regionkey")
        .localCheckpoint(true)
    } finally rmTree(tmp)
  }

  /** q86 — the zero-egress Avro container source through the gate
    * (interchange-format coverage beside q54 CSV / q55 JSON / q56 ORC /
    * q73 XML / q82 XLSX): a typed orders slice — long, string, double,
    * timestamp — exports through the DISTRIBUTED partitioned writer
    * ([[graft.sources.AvroSource.write]] — one deflate container per
    * partition, nothing through the driver), reads back through the
    * distributed binaryFile+DataFileStream path fully TYPED (no string
    * round-trip: timestamp-micros and the numerics survive as
    * themselves), and aggregates against the parquet ground truth.
    * Decimal sum discipline as everywhere. */
  def q86AvroSource(s: SparkSession, dir: String): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-q86-avro")
    try {
      val orders = Tables.orders(s, dir)
        .select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate")
      graft.sources.AvroSource.write(orders.repartition(4), tmp.toString, "order")
      graft.sources.AvroSource.read(s, tmp.toString + "/*.avro")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("cnt"),
          sum("o_orderkey").as("sum_key"),
          round(sum(col("o_totalprice").cast("decimal(18,6)")), 2).cast("double")
            .as("total"),
          min("o_orderdate").as("first_ts"),
          max("o_orderdate").as("last_ts"))
        .orderBy("o_orderstatus")
        .localCheckpoint(true)
    } finally rmTree(tmp)
  }

  /** q88 — the format-sniffing ingest router
    * ([[graft.sources.AutoSource]]): one drop directory holding the
    * SAME nation dim as a real .xlsx workbook, a real Avro container,
    * and a CSV renamed to `.dat` (extensions lie — routing goes by
    * magic bytes, 4 sniffed bytes per file at inventory time), read
    * back through one `readTabular` call and aggregated per format.
    * Each format must deliver the identical 25 rows / key sum — a
    * mis-sniffed or mis-parsed file breaks its row. */
  def q88AutoSource(s: SparkSession, dir: String): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-q88-drop")
    val stage = java.nio.file.Files.createTempDirectory("graft-q88-stage")
    try {
      val nation = Tables.nation(s, dir)
        .select("n_nationkey", "n_name", "n_regionkey")
      graft.sources.XlsxSource.write(nation.repartition(1), tmp.toString, "Nation")
      graft.sources.AvroSource.write(nation.repartition(1), tmp.toString)
      nation.repartition(1).write.option("header", "true")
        .mode("overwrite").csv(stage.toString)
      val csvPart = java.nio.file.Files.list(stage).iterator()
      var moved = false
      while (csvPart.hasNext && !moved) {
        val p = csvPart.next()
        if (p.toString.endsWith(".csv")) {
          java.nio.file.Files.copy(p, tmp.resolve("mystery_drop.dat"))
          moved = true
        }
      }
      require(moved, "csv stage produced no part file")
      graft.sources.AutoSource.readTabular(s, tmp.toString)
        .groupBy(col("_format").as("format"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("n_nationkey").cast("long")).as("key_sum"))
        .orderBy("format")
        .localCheckpoint(true)
    } finally { rmTree(tmp); rmTree(stage) }
  }

  /** q57 — the six-table regional-revenue join (TPC-H Q5's shape): the
    * local-supplier condition (supplier in the customer's own nation)
    * makes lineitem join BOTH orders and supplier before the dimension
    * chain resolves — the classic join-order workout. Plan shape for
    * scale: the two fact-fact joins (lineitem⋈orders, ⋈supplier) are
    * key shuffles; nation and region broadcast; revenue rides the
    * per-row double product cast to decimal BEFORE the sum (q03's
    * moneySum discipline) so a 1000-way shuffle can't reorder a bit. */
  def q57RegionalRevenue(s: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(s, dir)
      .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
    val o = Tables.orders(s, dir).select("o_orderkey", "o_custkey")
    val c = Tables.customer(s, dir).select("c_custkey", "c_nationkey")
    val sup = Tables.supplier(s, dir).select("s_suppkey", "s_nationkey")
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(sup, col("l_suppkey") === col("s_suppkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(moneySum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("r_name", "n_name")
  }

  /** q58 — dedup-with-merge through the gate (A3, `facilities.py:58-76`):
    * the reference's "first-seen wins, later entries fill only missing
    * fields" merge, driver-checked. A re-crawl batch (every 10th
    * customer re-arrives with an empty segment, a blanked name, and a
    * fresh balance) unions with the base at source rank 1; the merge
    * keeps rank-0's non-empty value per column and falls back to
    * rank-1 only where rank 0 was empty. With two ranks the
    * first-non-empty fold is a closed form — one conditional aggregate
    * per column, a single shuffle — which is exactly how the
    * FacilityMergeAggregator semantics (spec-gated on the fixtures)
    * look to Catalyst on a generic table. */
  def q58DedupMerge(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"),
        col("c_acctbal").cast("decimal(18,2)").as("c_acctbal"), lit(0).as("rnk"))
    val recrawl = base.filter(col("c_custkey") % 10 === 0)
      .select(col("c_custkey"), lit("").as("c_name"), lit("").as("c_mktsegment"),
        (col("c_acctbal") + 100).as("c_acctbal"), lit(1).as("rnk"))
    def firstNonEmpty(c: String): Column =
      coalesce(
        max(when(col("rnk") === 0 && col(c) =!= "", col(c))),
        max(when(col("rnk") === 1 && col(c) =!= "", col(c)))).as(c)
    base.unionByName(recrawl)
      .groupBy("c_custkey")
      .agg(firstNonEmpty("c_name"), firstNonEmpty("c_mktsegment"),
        coalesce(
          max(when(col("rnk") === 0, col("c_acctbal"))),
          max(when(col("rnk") === 1, col("c_acctbal"))))
          .cast("double").as("c_acctbal"),
        count(lit(1)).as("n_sources"))
      .orderBy("c_custkey")
  }

  /** q59 — statistical moment aggregates (the profiling family a data
    * pipeline runs before modeling): per-flag stddev, correlation,
    * covariance, and regression slope in ONE partial+final pass.
    *
    * Determinism (the d23/g18 fixed-point law, applied to moments):
    * prices are exact 2-decimal values and quantities integral, so the
    * inputs quantize losslessly to integer cents/units and the five
    * power sums Σx, Σy, Σx², Σy², Σxy accumulate as EXACT decimals —
    * associative, mergeable, partition-order-free, one shuffle at any
    * scale. The textbook co-moment forms n·Σxy − Σx·Σy, catastrophically
    * unstable in floating point, are exact in integers; each statistic
    * then touches doubles once, in the same operation order the oracle
    * replays, so both engines agree bit-for-bit BEFORE rounding —
    * rounding is presentation, not a noise blanket. */
  def q59StatsMoments(s: SparkSession, dir: String): DataFrame = {
    val n = col("cnt")
    // n·(n−1) in decimal, not LongType: a group past ~3e9 rows would
    // silently wrap the Long product (non-ANSI), corrupting sd/covar —
    // decimal mirrors the oracle's HUGEINT arithmetic exactly
    val nn1 = n.cast("decimal(38,0)") * (n.cast("decimal(38,0)") - 1)
    def d(c: Column) = c.cast("double")
    val m2x = n * col("sxx") - col("sx") * col("sx") // n²·Var(x), exact
    val m2y = n * col("syy") - col("sy") * col("sy")
    val m1 = n * col("sxy") - col("sx") * col("sy") // n²·Cov(x,y), exact
    Tables.lineitem(s, dir)
      .select(col("l_returnflag"),
        round(col("l_extendedprice") * 100).cast("decimal(18,0)").as("x"),
        round(col("l_quantity")).cast("decimal(18,0)").as("y"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("cnt"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"),
        sum(col("x") * col("y")).as("sxy"))
      .select(col("l_returnflag"), col("cnt"),
        round(d(col("sx")) / n / 100, 2).as("avg_price"),
        round(sqrt(d(m2x) / d(nn1)) / 100, 2).as("sd_price"),
        round(d(m1) / sqrt(d(m2x) * d(m2y)), 6).as("corr_qty_price"),
        round(d(m1) / d(nn1) / 100, 2).as("covar_qty_price"),
        round(d(m1) / d(m2y) / 100, 4).as("price_per_qty"))
      .orderBy("l_returnflag")
  }

  /** Names used by q60, a subset of `WasteParse.knownFacilityNames` in
    * the SAME relative (longest-first) order, none rewritten by the
    * normalization map, none a substring of another except the
    * deliberate "Verpackungstonne (Gelbe Tonne)" ⊃ "Verpackungstonne"
    * pair — the case consume-once exists for. */
  private val q60Names = Seq(
    "Verpackungstonne (Gelbe Tonne)", "Fachhandel / Hersteller",
    "Schadstoffsammlung", "Wertstoffhof Nord", "Wertstoffhof West",
    "Kofferraumservice", "Verpackungstonne", "Biotonne")

  /** q60 — the consume-once ordered extraction (F6, the reference's
    * hardest semantic, `waste_items.py:174-237`) through the driver
    * gate, via its SQL registration (`GraftExtensions` →
    * `consume_once_extract`, the codegen'd Catalyst expression): each
    * row's text is two known facility names concatenated, including
    * pairs where one name contains the other — longest-first matching
    * consumes the long form so the bare substring is never
    * double-counted. The oracle reconstructs the expected extraction
    * (the chosen names in pattern-priority order) from the same row
    * arithmetic, independently of the expression. */
  def q60ConsumeExtract(s: SparkSession, dir: String): DataFrame = {
    val arr = array(q60Names.map(lit): _*)
    Tables.nation(s, dir)
      .select(col("n_nationkey"),
        concat(
          element_at(arr, (col("n_nationkey") % 8) + 1), lit(" und "),
          element_at(arr, ((col("n_nationkey") * 5 + 6) % 8) + 1)).as("text"))
      .select(col("n_nationkey"),
        posexplode(call_function("consume_once_extract", col("text")))
          .as(Seq("p", "target")))
      .select(col("n_nationkey"), col("target"), (col("p") + 1).cast("int").as("pos"))
      .orderBy("n_nationkey", "pos")
  }

  /** q61 — snapshot diff: classify every key of two table versions as
    * added / removed / changed / unchanged with ONE full-outer join —
    * the audit every idempotent MERGE pipeline (J4, the re-run
    * contract) runs to prove "re-run changed nothing" or to quantify a
    * delta. The synthetic next-snapshot drops every 97th key, bumps
    * every 7th balance, and re-keys every 89th row as an insert.
    * Classification keys on JOIN-SIDE PRESENCE (a literal marker per
    * side), never on the compared column's nullability — a key present
    * in both snapshots with a NULL balance is unchanged, not added —
    * and 'changed' uses null-safe equality. Doubles are compared,
    * never rendered (a string form of a double is engine-dependent;
    * the values themselves are exact). */
  def q61TableDiff(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.customer(s, dir).select(col("c_custkey"), col("c_acctbal"))
    val next = base.filter(col("c_custkey") % 97 =!= 0)
      .withColumn("c_acctbal",
        when(col("c_custkey") % 7 === 0, col("c_acctbal") + 1).otherwise(col("c_acctbal")))
      .unionByName(base.filter(col("c_custkey") % 89 === 0)
        .select((col("c_custkey") + 1000000).as("c_custkey"), col("c_acctbal")))
    base.select(col("c_custkey"), col("c_acctbal").as("bal_a"), lit(true).as("in_a"))
      .join(next.select(col("c_custkey"), col("c_acctbal").as("bal_b"),
        lit(true).as("in_b")), Seq("c_custkey"), "full_outer")
      .select(
        when(col("in_a").isNull, "added")
          .when(col("in_b").isNull, "removed")
          .when(!(col("bal_a") <=> col("bal_b")), "changed")
          .otherwise("unchanged").as("diff_class"))
      .groupBy("diff_class").agg(count(lit(1)).as("cnt"))
      .orderBy("diff_class")
  }

  /** q62 — order-independent table fingerprint: per-row 60-bit hash
    * (top 15 hex chars of md5 over the concatenated row — the simhash
    * hex-fold, engine-identical) folded two commutative ways — `bit_xor`
    * and sum mod 2^60 — plus the row count. Commutative folds make the
    * checksum independent of row order AND partitioning, so two
    * clusters can compare 100 TB tables with one scan and a few 8-byte
    * values each. Neither fold alone suffices: XOR cancels any row
    * with even multiplicity ({X,X,Y} and {Z,Z,Y} XOR-collide), which
    * the sum fold catches; the pair plus the count is a multiset
    * check over the HASHED columns only — int/string columns feed the
    * hash (a rendered double is engine-dependent), so a column left
    * out of the list is invisible to the fingerprint. */
  def q62TableChecksum(s: SparkSession, dir: String): DataFrame = {
    def fp(df: DataFrame, tbl: String, cols: Seq[String]): DataFrame =
      df.select(expr(
        s"CAST(conv(substring(md5(concat_ws('|', ${cols.mkString(", ")})), 1, 15), 16, 10) AS BIGINT)")
        .as("h"))
        .agg(count(lit(1)).as("n_rows"), expr("bit_xor(h)").as("xor_hash"),
          // decimal-exact sum of 60-bit values, wrapped to 60 bits: the
          // even-multiplicity backstop XOR lacks
          expr("CAST(sum(CAST(h AS DECIMAL(38,0))) % 1152921504606846976 AS BIGINT)")
            .as("sum_hash"))
        .select(lit(tbl).as("tbl"), col("n_rows"), col("xor_hash"), col("sum_hash"))
    fp(Tables.nation(s, dir), "nation", Seq("n_nationkey", "n_name", "n_regionkey"))
      .unionByName(fp(Tables.region(s, dir), "region", Seq("r_regionkey", "r_name")))
      .unionByName(fp(Tables.supplier(s, dir), "supplier",
        Seq("s_suppkey", "s_name", "s_nationkey")))
      .orderBy("tbl")
  }

  /** q63 — CDC apply: fold a change feed carrying updates, deletes,
    * and inserts into a base snapshot in ONE full-outer join — the
    * general form of the MERGE contract (q09 applies upserts only;
    * real feeds also delete). Conflicting ops on one key resolve
    * deterministically: delete wins via an EXPLICIT priority column
    * (not the lexicographic accident 'D' < 'U' — adding an op code
    * that sorts before 'D' must not silently flip the resolution).
    * Known limit of the coalesce encoding: an update cannot SET a
    * column to NULL (NULL in the feed means "keep the base value");
    * a feed needing that carries per-column change masks instead. At
    * scale this is the nightly compaction every CDC-ingesting lake
    * runs: the feed is usually small enough to broadcast, the base
    * never shuffles more than once. Doubles compared/coalesced, never
    * rendered. */
  def q63ApplyChanges(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
    val changes = base.filter(col("c_custkey") % 50 === 0)
      .select(col("c_custkey"), lit(null).cast("string").as("c_name"),
        lit(null).cast("double").as("c_acctbal"), lit("D").as("op"))
      .unionByName(base.filter(col("c_custkey") % 11 === 0)
        .select(col("c_custkey"), col("c_name"),
          (col("c_acctbal") + 10).as("c_acctbal"), lit("U").as("op")))
      .unionByName(base.filter(col("c_custkey") % 83 === 0)
        .select((col("c_custkey") + 2000000).as("c_custkey"), col("c_name"),
          col("c_acctbal"), lit("U").as("op")))
    val latest = changes
      .withColumn("rn", row_number().over(
        Window.partitionBy("c_custkey")
          .orderBy(when(col("op") === "D", 0).otherwise(1), col("op"))))
      .filter(col("rn") === 1)
      .drop("rn")
    base.as("b")
      .join(latest.as("c"), Seq("c_custkey"), "full_outer")
      .filter(coalesce(col("c.op"), lit("")) =!= "D")
      .select(col("c_custkey"),
        coalesce(col("c.c_name"), col("b.c_name")).as("c_name"),
        coalesce(col("c.c_acctbal"), col("b.c_acctbal")).as("c_acctbal"))
      .orderBy("c_custkey")
  }

  /** q64 — dynamic partition pruning through the gate: the fact table
    * re-laid-out as a parquet store PARTITIONED BY the join key, the
    * dimension filtered on a NON-key attribute, one equi-join on the
    * partition key. Catalyst must reuse the dimension's broadcast as a
    * runtime partition filter on the fact scan (star-schema pruning,
    * SURVEY §4) — at 100 TB the selective predicate lives on the
    * dimension, so without DPP the fact store is scanned in full even
    * though only 2 of 5 partitions can survive the join. The value gate
    * hashes the surviving rows; PlanQualitySpec asserts the
    * dynamicpruning expression actually reaches the scan. */
  /** The q64 pipeline pre-checkpoint, against a caller-owned scratch dir
    * — split out so PlanQualitySpec can inspect the executed plan (the
    * gated entry localCheckpoints, which truncates the plan to a scan of
    * the checkpoint RDD). */
  private[queries] def dppPipeline(s: SparkSession, dir: String,
      tmp: java.nio.file.Path): DataFrame = {
    Tables.orders(s, dir)
      .write.mode("overwrite").partitionBy("o_orderpriority")
      .parquet(tmp.resolve("orders_part").toString)
    Tables.orders(s, dir).select("o_orderpriority").distinct()
      .withColumn("urgency_class",
        when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), "expedite")
          .otherwise("standard"))
      .write.mode("overwrite").parquet(tmp.resolve("prio_dim").toString)
    val fact = s.read.parquet(tmp.resolve("orders_part").toString)
    val dim = s.read.parquet(tmp.resolve("prio_dim").toString)
      .filter(col("urgency_class") === "expedite")
    fact.join(broadcast(dim), "o_orderpriority")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        moneySum(col("o_totalprice")).as("sum_price"))
      .orderBy("o_orderpriority")
  }

  def q64PartitionPrune(s: SparkSession, dir: String): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-q64-dpp")
    try dppPipeline(s, dir, tmp).localCheckpoint(true)
    finally rmTree(tmp)
  }

  /** q65 — scalar subqueries, correlated and uncorrelated: each order
    * kept iff it IS its customer's single most expensive order
    * (correlated `= (SELECT max ...)`), with the peak scaled against
    * the global max (uncorrelated scalar). Catalyst decorrelates the
    * per-customer max into one aggregate + join
    * (RewriteCorrelatedScalarSubquery) — ONE shuffle over orders, not a
    * re-executed subquery per row — and the global max becomes a
    * broadcast single-row plan. max-equality keeps the gate exact:
    * both engines take max over identical doubles, so the comparison
    * never sits on a rounding boundary the way an avg threshold would.
    */
  def q65ScalarSubquery(s: SparkSession, dir: String): DataFrame = {
    Tables.orders(s, dir).createOrReplaceTempView("orders_v65")
    s.sql("""
      SELECT o.o_custkey,
        CAST(count(*) AS BIGINT) AS n_peak_orders,
        CAST(round(max(o.o_totalprice) /
          (SELECT max(o_totalprice) FROM orders_v65), 6) AS DOUBLE)
          AS peak_vs_global
      FROM orders_v65 o
      WHERE o.o_totalprice = (SELECT max(o2.o_totalprice)
                              FROM orders_v65 o2
                              WHERE o2.o_custkey = o.o_custkey)
      GROUP BY o.o_custkey
      ORDER BY o.o_custkey""")
  }

  /** q66 — lateral join (top-k per group as a correlated table
    * subquery): for every region, its two most customer-heavy nations.
    * Catalyst plans the correlated LIMIT as a decorrelated
    * window/row_number over one shuffle — the lateral form is the
    * declarative spelling, not a nested loop; at 100 TB the per-group
    * top-k never materializes the full per-group sort. Ties broken by
    * name so both engines elect the same rows. */
  def q66LateralJoin(s: SparkSession, dir: String): DataFrame = {
    Tables.region(s, dir).createOrReplaceTempView("region_v66")
    Tables.nation(s, dir).createOrReplaceTempView("nation_v66")
    Tables.customer(s, dir).createOrReplaceTempView("customer_v66")
    s.sql("""
      SELECT r.r_name, t.n_name, t.n_customers
      FROM region_v66 r
      JOIN LATERAL (
        SELECT n.n_name, CAST(count(c.c_custkey) AS BIGINT) AS n_customers
        FROM nation_v66 n
        JOIN customer_v66 c ON c.c_nationkey = n.n_nationkey
        WHERE n.n_regionkey = r.r_regionkey
        GROUP BY n.n_name
        ORDER BY n_customers DESC, n.n_name
        LIMIT 2
      ) t
      ORDER BY r.r_name, t.n_customers DESC, t.n_name""")
  }

  /** q67 — ordered string aggregation (LISTAGG, SQL:2016): the
    * serialize-a-group-to-text op every report/export layer needs.
    * WITHIN GROUP ordering makes the result deterministic — an
    * unordered listagg is partition-order-dependent and could never
    * hash-match (same law as the dsum rule, at string granularity).
    * DISTINCT + ordering compose in the second column. Agg buffers
    * grow with group size, so at scale the groups must be bounded
    * (here: nations per region, statuses per priority) — unbounded
    * listagg over a 100 TB fact table is a design error, not a
    * tuning problem. */
  def q67Listagg(s: SparkSession, dir: String): DataFrame = {
    Tables.region(s, dir).createOrReplaceTempView("region_v67")
    Tables.nation(s, dir).createOrReplaceTempView("nation_v67")
    Tables.orders(s, dir).createOrReplaceTempView("orders_v67")
    val nations = s.sql("""
      SELECT r.r_name AS grp,
        listagg(n.n_name, ',') WITHIN GROUP (ORDER BY n.n_name) AS members
      FROM region_v67 r JOIN nation_v67 n ON n.n_regionkey = r.r_regionkey
      GROUP BY r.r_name""")
    val statuses = s.sql("""
      SELECT o_orderpriority AS grp,
        listagg(DISTINCT o_orderstatus, '|')
          WITHIN GROUP (ORDER BY o_orderstatus) AS members
      FROM orders_v67 GROUP BY o_orderpriority""")
    nations.unionByName(statuses).orderBy("grp")
  }

  /** q68 — dynamic partition overwrite (the lakehouse correction-batch
    * sink): a fact table written partitioned by priority, then a
    * reprice batch for ONE priority overwritten in place with
    * `partitionOverwriteMode=dynamic` — only the partitions present in
    * the incoming batch are replaced; every other partition's files
    * survive untouched. Static overwrite mode would have wiped the
    * other four partitions, and the oracle (full corpus with the
    * repriced partition) would catch exactly that — the gate checks
    * the SINK SEMANTICS, not arithmetic (the reprice is an exact
    * +100.0 so both engines agree bit-for-bit).
    *
    * Scale: this is how a 100 TB partitioned store takes daily
    * corrections — rewrite touched partitions only, no read-modify-
    * write of the table, no truncate window where readers see an empty
    * table; commit granularity is the partition directory. */
  def q68DynamicOverwrite(s: SparkSession, dir: String): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-q68-dpo")
    val prev = s.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      val orders = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("o_orderpriority"))
      orders.write.partitionBy("o_orderpriority").mode("overwrite")
        .parquet(tmp.toString)
      orders.filter(col("o_orderpriority") === "1-URGENT")
        .withColumn("o_totalprice", col("o_totalprice") + lit(100.0))
        .write.partitionBy("o_orderpriority").mode("overwrite")
        .parquet(tmp.toString)
      s.read.parquet(tmp.toString)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"),
          moneySum(col("o_totalprice")).as("sum_price"))
        .orderBy("o_orderpriority")
        .localCheckpoint(true)
    } finally {
      prev match {
        case Some(v) => s.conf.set("spark.sql.sources.partitionOverwriteMode", v)
        case None => s.conf.unset("spark.sql.sources.partitionOverwriteMode")
      }
      rmTree(tmp)
    }
  }

  /** q69 — schema evolution at the parquet source (`mergeSchema`): an
    * old batch written before a column existed and a new batch carrying
    * it are read as ONE table, the missing column null-filled for
    * legacy files — the additive-column migration every long-lived
    * store goes through (q43 is the same contract at the DataFrame
    * level; this gates it at the FILE level, where the footers
    * disagree).
    *
    * Scale: schema merge reads footers, not data, and spark infers
    * from a sample of files unless mergeSchema is on — for a 100 TB
    * store the right design is a table format / catalog carrying the
    * schema so neither footer-sweep nor inference runs per query; the
    * mergeSchema path is the migration-window tool, not steady state. */
  def q69MergeSchema(s: SparkSession, dir: String): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-q69-ms")
    try {
      val orders = Tables.orders(s, dir)
      orders.filter(col("o_orderkey") % 2 === 0)
        .select("o_orderkey", "o_totalprice")
        .write.parquet(s"$tmp/b1")
      orders.filter(col("o_orderkey") % 2 === 1)
        .select("o_orderkey", "o_totalprice", "o_orderpriority")
        .write.parquet(s"$tmp/b2")
      s.read.option("mergeSchema", "true").parquet(s"$tmp/b1", s"$tmp/b2")
        .groupBy(coalesce(col("o_orderpriority"), lit("<legacy>")).as("prio"))
        .agg(count(lit(1)).as("n_orders"),
          moneySum(col("o_totalprice")).as("sum_price"))
        .orderBy("prio")
        .localCheckpoint(true)
    } finally rmTree(tmp)
  }

  /** q70 — conditional aggregation via the SQL:2003 FILTER clause (and
    * GROUP BY ALL): one pass over orders computes per-status metrics
    * restricted to different predicates — the idiomatic replacement
    * for N filtered self-aggregations or CASE-WHEN-NULL pyramids.
    * Catalyst folds every FILTER into the same partial+final hash agg:
    * one scan, one shuffle, regardless of how many conditions.
    * Count/min/max only under the filters (order-insensitive); the
    * one value sum rides decimal per the dsum rule. */
  def q70FilterAgg(s: SparkSession, dir: String): DataFrame = {
    Tables.orders(s, dir).createOrReplaceTempView("orders_v70")
    s.sql("""
      SELECT o_orderstatus,
        CAST(count(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS BIGINT)
          AS n_urgent,
        CAST(count(*) FILTER (WHERE o_totalprice > 150000) AS BIGINT)
          AS n_big,
        CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6)))
          FILTER (WHERE o_orderpriority = '1-URGENT'), 2) AS DOUBLE)
          AS urgent_price,
        max(o_orderdate) FILTER (WHERE o_totalprice <= 150000)
          AS last_small_date
      FROM orders_v70
      GROUP BY ALL
      ORDER BY o_orderstatus""")
  }

  /** q71 — recursive CTE (Spark 4): root-walk over the node/edge graph
    * as a TRUE SQL fixpoint — each node climbs its out-edges until the
    * sink (its region), accumulating hop count; the recursion depth is
    * data-driven, not unrolled by the author (contrast g13/g21/g23,
    * which unroll a FIXED iteration count). The per-(label, root,
    * hops) histogram is the gated result. Both engines run the SAME
    * recursive SQL text — the operator under test is the recursion
    * itself.
    *
    * Scale: each recursion step is one equi-join of the frontier with
    * the edge table (the same plan an iterative-join fixpoint library
    * makes by hand — Traversal.reachFixpoint); frontier size is
    * bounded by live paths, and Spark executes the step under the
    * recursion operator without driver-side looping. */
  def q71RecursiveCte(s: SparkSession, dir: String): DataFrame = {
    // materialized: the recursive step re-reads its base views per
    // level, and each is a 3-4-way union of dimension scans
    GraphQueries.nodes(s, dir).localCheckpoint(true)
      .createOrReplaceTempView("nodes_v71")
    GraphQueries.edges(s, dir).localCheckpoint(true)
      .createOrReplaceTempView("edges_v71")
    s.sql("""
      WITH RECURSIVE walk(uid, label, cur, hops) AS (
        SELECT uid, label, uid, 0 FROM nodes_v71
        UNION ALL
        SELECT w.uid, w.label, e.dst_uid, w.hops + 1
        FROM walk w JOIN edges_v71 e ON w.cur = e.src_uid
      )
      SELECT label, cur AS root, hops, CAST(count(*) AS BIGINT) AS n
      FROM walk
      WHERE cur LIKE 'Region:%'
      GROUP BY label, cur, hops
      ORDER BY label, root, hops""")
  }

  /** q72 — the VARIANT semi-structured type (Spark 4): JSON props
    * parsed ONCE into the binary variant encoding, fields then
    * extracted with typed `variant_get` paths — the open-schema column
    * a lake keeps when ingest can't predict fields. Versus q22's
    * per-access `get_json_object` string re-parse: at 100 TB the
    * variant parse is paid once at ingest, every downstream access is
    * a binary path read, and shredded-variant storage pushes field
    * pruning into the scan.
    */
  def q72Variant(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("event_type"),
        expr("variant_get(parse_json(props), '$.k', 'int')").as("k"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("cnt"),
        sum(when(col("k") > 50, 1L).otherwise(0L)).as("n_high"),
        min("k").as("min_k"), max("k").as("max_k"))
      .orderBy("event_type")

  /** q73 — the XML source through the gate (Spark 4 native XML): the
    * remaining file format of the source matrix (q54 CSV / q55 JSON /
    * q56 ORC / m07 binary), write→schema'd-read→aggregate round-trip
    * hashed against the parquet ground truth — including an embedded
    * newline in the payload (XML element text preserves it). Only the
    * nation dimension rides the round-trip; the oracle reads the same
    * rows from parquet. */
  def q73XmlSource(s: SparkSession, dir: String): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-q73-xml")
    try {
      Tables.nation(s, dir).select(
        col("n_nationkey"), col("n_regionkey"), col("n_name"),
        concat(col("n_name"), lit("\nnote: rk="), col("n_regionkey")).as("note"))
        .write.format("xml")
        .option("rootTag", "nations").option("rowTag", "nation")
        .mode("overwrite").save(s"$tmp/t")
      s.read.format("xml").option("rowTag", "nation")
        .schema("n_nationkey INT, n_regionkey INT, n_name STRING, note STRING")
        .load(s"$tmp/t")
        .groupBy("n_regionkey")
        .agg(count(lit(1)).as("n_nations"),
          sum(length(col("note"))).as("sum_note_len"),
          min("n_name").as("first_name"),
          max("n_name").as("last_name"))
        .orderBy("n_regionkey")
        .localCheckpoint(true)
    } finally rmTree(tmp)
  }

  /** q74 — incremental aggregate maintenance: a monthly rollup kept
    * current by MERGING partial aggregates — agg(base) ⊕ agg(delta) —
    * instead of re-scanning the base when a late batch lands. count and
    * sum add, min/max take least/greatest, and avg is re-derived from
    * the merged sums (algebraic, not distributive — it can't be merged
    * directly, which is exactly what the decomposition shows). The gate
    * proves the merge algebra exact: the oracle computes the same
    * rollup over base ∪ delta in one pass and the hashes must agree.
    *
    * Scale: THE pattern behind every incremental materialized view and
    * partial-aggregate pushdown at 100 TB — the base table is touched
    * zero times per refresh; only the delta (a day against years) is
    * scanned, and the merge joins two rollup-sized tables. Spark's own
    * partial/final split does this inside one job; this operator does
    * it ACROSS jobs, with the persisted rollup as the reusable state. */
  def q74IncrementalAgg(s: SparkSession, dir: String): DataFrame = {
    // MID-month cutoff on purpose: June 1997 exists in BOTH partials,
    // so the both-present merge arms (cnt addition, least/greatest
    // folds) are actually exercised — a month-boundary cutoff would
    // give disjoint keys and the gate would pass even with broken
    // merge arms (every row degenerating to the one-sided identity).
    val cutoff = "1997-06-15"
    def rollup(df: DataFrame): DataFrame = df
      .groupBy(col("o_orderstatus").as("status"),
        to_date(date_trunc("month", col("o_orderdate"))).as("month"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("o_totalprice").cast("decimal(18,6)")).as("total"),
        min(to_date(col("o_orderdate"))).as("first_day"),
        max(to_date(col("o_orderdate"))).as("last_day"))
    val o = Tables.orders(s, dir)
    val base = rollup(o.filter(col("o_orderdate") < lit(cutoff)))
    val delta = rollup(o.filter(col("o_orderdate") >= lit(cutoff)))
    base.as("b").join(delta.as("d"), Seq("status", "month"), "full_outer")
      .select(col("status"), col("month"),
        (coalesce(col("b.cnt"), lit(0L)) + coalesce(col("d.cnt"), lit(0L)))
          .as("cnt"),
        (coalesce(col("b.total"), lit(0).cast("decimal(18,6)")) +
          coalesce(col("d.total"), lit(0).cast("decimal(18,6)"))).as("mtotal"),
        least(coalesce(col("b.first_day"), col("d.first_day")),
          coalesce(col("d.first_day"), col("b.first_day"))).as("first_day"),
        greatest(coalesce(col("b.last_day"), col("d.last_day")),
          coalesce(col("d.last_day"), col("b.last_day"))).as("last_day"))
      .withColumn("a", expr("CAST(mtotal * 1000000 AS DECIMAL(38,0)) + 50 * cnt"))
      .select(col("status"), col("month"), col("cnt"),
        round(col("mtotal"), 2).cast("double").as("total"),
        // avg_price in EXACT integer HALF_UP arithmetic, then one
        // double division both engines perform on the same integer:
        // round(mtotal/cnt, 4) computed as ⌊a / (100·cnt)⌋ / 10⁴ with
        // a = mtotal·10⁶ + 50·cnt (mtotal·10⁶ is integral at scale 6).
        // mtotal is DECIMAL(29,6), so |a| < 10²⁹ + 50·2⁶³ never overflows
        // DECIMAL(38,0); |quotient| ≤ 10¹⁶ + 1 fits a long, since each
        // order's price is a DECIMAL(18,6) and an average cannot exceed
        // its largest term (a sum beyond DECIMAL(28,6) fails under ANSI
        // with ARITHMETIC_OVERFLOW). The old round(double/cnt, 4) diverged
        // cross-engine on decimal .00005 boundaries (Spark rounds the
        // shortest double repr HALF_UP, DuckDB rounds the binary value
        // — sf0.001's 2207782.51/8 = …81375 scored .8138 vs .8137), an
        // inherited sf0.001 red this round repaired; results at
        // sf0.01/sf0.1 are bit-identical to the old form (compared
        // directly, see OPTIMIZATION_r12.md). The division FLOORS like
        // DuckDB's `//`: Spark's `div` truncates toward zero, so a
        // negative a is floored as (a - pmod(a, b)) div b, b > 0.
        (expr("CAST((a - pmod(a, 100 * cnt)) div (100 * cnt) AS DOUBLE)")
          / 10000).as("avg_price"),
        col("first_day"), col("last_day"))
      .orderBy("status", "month")
  }

  /** q75 — Z-order (Morton) clustering key + per-bucket zone map: the
    * two pruning dimensions (customer mod 256, order day mod 256) are
    * bit-interleaved into one 16-bit z-value, rows bucket by z-range
    * (64 buckets ≙ files), and the output is each bucket's zone map —
    * count plus min/max of BOTH dims. Interleaving is what makes the
    * zone map tight on both axes at once: with 64 buckets each bucket
    * pins the top 3 bits of BOTH dims, so it spans ≤⅛ of each dim's
    * range, and a point/range predicate on EITHER
    * column prunes most buckets, where single-column sort gives tight
    * bounds on one axis and the full range on the other. This is the
    * public Delta/Iceberg OPTIMIZE ZORDER layout, expressed as a
    * deterministic integer query the oracle can recompute bit-for-bit.
    *
    * Scale: the z-value is a per-row codegen'd expression (no shuffle);
    * the layout write would be repartitionByRange(z) — one range
    * shuffle at write time buying file-skipping on every later read. */
  def q75Zorder(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .select((col("o_custkey") % 256).cast("int").as("a"),
        (datediff(to_date(col("o_orderdate")), lit("1992-01-01").cast("date"))
          % 256).cast("int").as("b"))
      .withColumn("z", expr(
        """aggregate(sequence(0, 7), 0, (acc, i) ->
           acc + ((shiftright(a, i) & 1) << (2 * i))
               + ((shiftright(b, i) & 1) << (2 * i + 1)))"""))
      .groupBy(expr("z div 1024").cast("int").as("bucket"))
      .agg(count(lit(1)).as("n_rows"),
        min("a").as("min_a"), max("a").as("max_a"),
        min("b").as("min_b"), max("b").as("max_b"))
      .orderBy("bucket")

  /** q76 — materialized-view rewrite (aggregate navigation): the query
    * is written against the governed BASE table — group by status,
    * count/sum/min/max over every order — but the optimizer answers it
    * from the registered monthly rollup, re-aggregating the partials
    * (count re-sums, sum re-sums, min/max re-fold) without touching the
    * base. `plans.MvRewrite` does the swap as a catalyst rule at the
    * public `experimental.extraOptimizations` hook, preserving output
    * names, exprIds, and types; MvRewriteSpec pins that the executed
    * plan scans ONLY the rollup. The hash gate proves the rewrite
    * law: the oracle recomputes from the base table in DuckDB, so any
    * partial the rule mis-maps flips the hash.
    *
    * This is q74's read-side complement — q74 maintains the rollup
    * incrementally, q76 makes queries USE it transparently. At 100 TB
    * the rewritten aggregate reads KB of partials instead of the full
    * fact table; the rule's conservative matcher (bare scan, key-subset
    * grouping, recognized partials only) is what makes it safe to leave
    * on for every query in the session. */
  def q76MvRewrite(s: SparkSession, dir: String): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-q76-mv")
    try mvRewriteScenario(s, dir, tmp.toString).localCheckpoint(true)
    finally {
      graft.plans.MvRegistry.unregister(s"$tmp/base")
      rmTree(tmp)
    }
  }

  /** Builds the q76 scenario without materializing (spec-visible): a
    * governed copy of orders, its monthly rollup MV, registration, and
    * the user query against the base path. The caller owns cleanup
    * (unregister + delete) AFTER forcing execution. */
  private[graft] def mvRewriteScenario(s: SparkSession, dir: String,
                                       tmp: String): DataFrame = {
    val o = Tables.orders(s, dir)
    o.write.mode("overwrite").parquet(s"$tmp/base")
    // the MV: keyed FINER than the query (status × month) so the
    // rewrite exercises real re-aggregation, not a 1:1 column rename
    o.groupBy(col("o_orderstatus").as("status"),
        to_date(date_trunc("month", col("o_orderdate"))).as("month"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("o_totalprice").cast("decimal(18,6)")).as("total"),
        min(col("o_totalprice")).as("lo"),
        max(col("o_totalprice")).as("hi"))
      .write.mode("overwrite").parquet(s"$tmp/mv")
    graft.plans.MvRegistry.register(graft.plans.MvRegistry.MvDef(
      basePath = s"$tmp/base",
      mvPlan = s.read.parquet(s"$tmp/mv").queryExecution.analyzed,
      keyCols = Map("o_orderstatus" -> "status"),
      countCol = "cnt",
      sumCols = Map("o_totalprice" ->
        ("total", org.apache.spark.sql.types.DecimalType(18, 6))),
      minCols = Map("o_totalprice" -> "lo"),
      maxCols = Map("o_totalprice" -> "hi")))
    s.read.parquet(s"$tmp/base")
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,6)")).as("dsum"),
        min(col("o_totalprice")).as("min_price"),
        max(col("o_totalprice")).as("max_price"))
      .select(col("o_orderstatus").as("status"), col("n_orders"),
        round(col("dsum"), 2).cast("double").as("total_price"),
        col("min_price"), col("max_price"))
      .orderBy("status")
  }

  /** a03 — mergeable QUANTILE partials, the deterministic member of the
    * sketch family: a fixed 4096-bucket equi-width histogram over the
    * global [min, max] value range, built as per-(type, day) partial
    * bucket counts and merged by plain addition — the same
    * build-where-the-data-lives / merge-fixed-size-state law as a02's
    * HLL, but with nothing randomized, so the merged estimate is
    * bit-reproducible and the oracle recomputes it EXACTLY (KLL and
    * t-digest obey the same merge algebra but their compaction draws
    * random bits — a hash gate would flap). The estimate is the upper
    * bound of the first bucket whose cumulative count reaches
    * ceil(q·n): its rank error is zero and its value error is bounded
    * by one bucket width, (max−min)/4096. Both engines compute bucket
    * indexes from the identical double expression, so floor() agrees
    * bit-for-bit. */
  def a03HistQuantile(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(s, dir)
    val bounds = ev.agg(min("value").as("vmin"), max("value").as("vmax"))
    // partial histograms: one row per (type, day, bucket) — at scale
    // these build map-side where each day's files live and only
    // fixed-size bucket counts cross the wire
    val partials = ev.crossJoin(broadcast(bounds))
      .withColumn("w", (col("vmax") - col("vmin")) / lit(4096))
      .groupBy(col("event_type"), to_date(col("ts")).as("d"),
        least(floor((col("value") - col("vmin")) / col("w")), lit(4095L))
          .as("bucket"))
      .agg(count(lit(1)).as("cnt"))
    // the merge: additive, associative, commutative — day partials
    // collapse to the per-type histogram no matter the merge order
    val hist = partials.groupBy("event_type", "bucket")
      .agg(sum("cnt").as("cnt"), count(lit(1)).as("n_parts"))
    val byType = Window.partitionBy("event_type")
    val cum = hist
      .withColumn("cum", sum("cnt").over(byType.orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", sum("cnt").over(byType))
      .withColumn("n_partials", sum("n_parts").over(byType))
    def est(q: Double) = min(when(col("cum") >= ceil(lit(q) * col("n")),
      col("bucket"))).as(s"b${(q * 100).toInt}")
    cum.groupBy("event_type")
      .agg(max("n").as("n"), max("n_partials").as("n_partials"),
        est(0.5), est(0.99))
      .crossJoin(broadcast(bounds))
      .withColumn("w", (col("vmax") - col("vmin")) / lit(4096))
      .select(col("event_type"), col("n"), col("n_partials"),
        round(col("vmin") + (col("b50") + 1) * col("w"), 6).as("hist_p50"),
        round(col("vmin") + (col("b99") + 1) * col("w"), 6).as("hist_p99"))
      .orderBy("event_type")
  }

  /** a04 — Count-Min frequency sketch (Cormode & Muthukrishnan 2005),
    * the third mergeable profiling sketch beside a02's HLL and a03's
    * histogram: depth 4 × width 256, hash row r of key k addressing
    * bucket `md5(k||':'||r)[0:2]` (a hex-pair STRING bucket — no
    * numeric hex parse, so DuckDB replays it verbatim). Built
    * two-level to prove the merge law: per-day partial sketches
    * collapse by ADDITION into the corpus sketch (the property that
    * lets 1000 executors sketch 100 TB map-side and ship 1 KB each);
    * the oracle builds the sketch in one pass, so hash equality IS the
    * merge proof. Point estimates for the queried keys take the min
    * over the 4 rows — CMS guarantees overestimate-only, asserted as
    * `no_underestimate` per key.
    *
    * Scale shape: the sketch is 4×256 cells regardless of corpus size;
    * the estimation leg joins the query keys against the broadcast-
    * sized sketch. No distinct, no per-key state — one additive
    * aggregation, the one-pass profiling shape. */
  def a04CountMin(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    def bucket(k: Column, r: Column): Column =
      substring(md5(concat(k.cast("string"), lit(":"), r.cast("string"))), 1, 2)
    val partials = ev
      .select(col("user_id"), to_date(col("ts")).as("d"),
        explode(sequence(lit(0), lit(3))).as("r"))
      .groupBy(col("d"), col("r"), bucket(col("user_id"), col("r")).as("bucket"))
      .agg(count(lit(1)).as("c"))
    val sketch = partials.groupBy("r", "bucket").agg(sum("c").as("c"))
    val probes = ev.groupBy("user_id").agg(count(lit(1)).as("exact_cnt"))
      .filter(col("user_id") <= 30)
      .select(col("user_id"), col("exact_cnt"),
        explode(sequence(lit(0), lit(3))).as("r"))
      .select(col("user_id"), col("exact_cnt"), col("r"),
        bucket(col("user_id"), col("r")).as("bucket"))
    probes.join(broadcast(sketch), Seq("r", "bucket"))
      .groupBy("user_id", "exact_cnt")
      .agg(min("c").as("cms_est"))
      .select(col("user_id"), col("exact_cnt"), col("cms_est"),
        (col("cms_est") >= col("exact_cnt")).as("no_underestimate"))
      .orderBy("user_id")
  }

  /** a05 — audience-overlap profiling: for every unordered pair of
    * event types, the exact user-day audience sizes, their
    * intersection (one equi-join on the audience key — never a
    * per-pair rescan), and Jaccard; plus the sketch-side
    * inclusion-exclusion estimate |A∩B| ≈ hll(A) + hll(B) − hll(A∪B),
    * band-checked against the exact count (a01's TRUE-column law).
    * This is how overlap matrices are actually computed at 100 TB:
    * exact pairwise audiences need one shuffle keyed by audience
    * member; the HLL path needs only the k-per-type sketches — 5
    * sketches answer all 10 pairs, and the union sketch is a merge,
    * not a scan. The audience unit is the user-DAY (distinct users
    * alone are degenerate here — every user eventually does every
    * event type), which is also the real profiling grain: "how often
    * do X and Y co-occur in the same user session/day".
    *
    * Band: each 2%-rsd HLL sits within a few percent of its exact
    * count, so the difference of three is within 8% of (|A|+|B|) with
    * wide margin (ApproxSpec pins the band at two SFs). */
  def a05SetOverlap(s: SparkSession, dir: String): DataFrame = {
    val ue = Tables.events(s, dir)
      .select(concat_ws(":", col("user_id"), to_date(col("ts"))).as("aud"),
        col("event_type"))
      .distinct()
      .localCheckpoint(true) // feeds three plan arms; compute once
    val per = ue.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        approx_count_distinct(col("aud"), 0.02).as("hll"))
    def side(p: String) = per.select(col("event_type").as(s"type_$p"),
      col("n").as(s"n_$p"), col("hll").as(s"hll_$p"))
    val both = ue.select(col("event_type").as("type_a"), col("aud"))
      .join(ue.select(col("event_type").as("type_b"), col("aud")), "aud")
      .filter(col("type_a") < col("type_b"))
      .groupBy("type_a", "type_b").agg(count(lit(1)).as("n_both"))
    val un = ue.join(broadcast(
      ue.select(col("event_type").as("type_a")).distinct()
        .join(ue.select(col("event_type").as("type_b")).distinct())
        .filter(col("type_a") < col("type_b"))),
      col("event_type") === col("type_a") || col("event_type") === col("type_b"))
      .groupBy("type_a", "type_b")
      .agg(approx_count_distinct(col("aud"), 0.02).as("hll_union"))
    both.join(broadcast(side("a")), "type_a")
      .join(broadcast(side("b")), "type_b")
      .join(un, Seq("type_a", "type_b"))
      .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"),
        col("n_both"),
        (col("n_a") + col("n_b") - col("n_both")).as("n_union"),
        round(col("n_both") /
          (col("n_a") + col("n_b") - col("n_both")).cast("double"), 6)
          .as("jaccard"),
        (abs(col("hll_a") + col("hll_b") - col("hll_union") - col("n_both"))
          <= (col("n_a") + col("n_b")) * 0.08).as("hll_ok"))
      .orderBy("type_a", "type_b")
  }

  /** a06 — bottom-k (KMV) sketch: the third mergeable-sketch family
    * next to HLL (a01/a02) and Count-Min (a04), and the only one whose
    * state doubles as a UNIFORM SAMPLE of the distinct keys: keep the
    * k=16 smallest 60-bit hashes of the distinct users per event type.
    * Built the hard way to prove the merge law the way a04 does —
    * per-DAY bottom-k partials, unioned and re-truncated — because
    * any user in the global bottom-k is necessarily in its own day's
    * bottom-k (k smaller hashes globally would include k smaller in
    * that day), so merge-of-partials ≡ one-pass, and the gate checks
    * that by hash equality against the one-pass oracle. The kth hash
    * also yields the KMV distinct-count estimate (k−1)·2⁶⁰/h₍ₖ₎ —
    * computed from the same exact integers both engines hold, so even
    * the ESTIMATE is engine-exact (no tolerance band needed, unlike
    * HLL whose sketch internals are engine-private).
    *
    * Scale: the real form is a bounded-buffer Aggregator (k values per
    * group per partition, merged by union+truncate — what the per-day
    * window models declaratively); state is k × 8 bytes per group
    * versus the full distinct set, and the sample answers "show me
    * example members" for free, which HLL never can. Hash = 15 md5 hex
    * chars → 60-bit integer, portable to the oracle verbatim. */
  def a06BottomkSample(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val k = 16
    val pow60 = 1152921504606846976L // 2^60
    val ud = Tables.events(s, dir)
      .select(col("event_type"), col("user_id"), to_date(col("ts")).as("d"))
      .distinct()
      .withColumn("h",
        conv(substring(md5(col("user_id").cast("string")), 1, 15), 16, 10)
          .cast("long"))
    val partial = ud.withColumn("rn", row_number().over(
        Window.partitionBy("event_type", "d").orderBy("h", "user_id")))
      .filter(col("rn") <= k)
    val merged = partial.select("event_type", "user_id", "h").distinct()
      .withColumn("rnk", row_number().over(
        Window.partitionBy("event_type").orderBy("h", "user_id")))
      .filter(col("rnk") <= k)
    val exact = ud.groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("n_exact"))
    val kth = merged.groupBy("event_type")
      .agg(max(when(col("rnk") === k, col("h"))).as("h_k"),
        count(lit(1)).as("n_in_sketch"))
    merged
      .join(broadcast(exact), "event_type")
      .join(broadcast(kth), "event_type")
      .select(col("event_type"), col("rnk"), col("user_id"), col("n_exact"),
        when(col("n_in_sketch") < k, col("n_exact"))
          .otherwise(round(lit((k - 1).toDouble) * pow60 /
            col("h_k").cast("double")).cast("long")).as("est"))
      .orderBy("event_type", "rnk")
  }

  /** q92 — TPC-H Q20-shaped nested semi-join chain: suppliers holding
    * "excess inventory" — a supplier qualifies if, for some part it
    * supplies, its own shipped volume exceeds 15% of that part's total
    * shipped volume (a correlated threshold resolved as one grouped
    * fact aggregate joined at two grains, never a per-row subquery
    * re-scan), and the supplier list then semi-joins back to names.
    * The planner workout: fact aggregated at (part, supplier) AND at
    * (part), the ratio filter between them, then LEFT SEMI into the
    * supplier dimension — at scale the two aggregates share one
    * shuffle of lineitem keyed by part (partial aggs), and the semi
    * join ships only distinct supplier keys. */
  def q92ExcessInventory(s: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(s, dir)
      .select(col("l_partkey"), col("l_suppkey"),
        col("l_quantity").cast("decimal(18,2)").as("qty"))
    val perPs = l.groupBy("l_partkey", "l_suppkey")
      .agg(sum(col("qty")).as("ps_qty"))
    val perP = l.groupBy("l_partkey")
      .agg(sum(col("qty")).as("p_qty"))
    val excess = perPs.join(perP, "l_partkey")
      .filter(col("ps_qty") > col("p_qty") * 0.15)
      .select(col("l_suppkey")).distinct()
    Tables.supplier(s, dir)
      .join(excess, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .select(col("s_suppkey"), col("s_name"), col("s_nationkey"))
      .orderBy("s_suppkey")
  }

  /** q94 — TPC-H Q21-shaped sole-blame analysis: suppliers who were the
    * ONLY late shipper on a multi-supplier order (late = shipped more
    * than 60 days after the order date — the schema's analog of Q21's
    * receipt-after-commit test). Semantically this is Q21's correlated
    * EXISTS (another supplier on the order) + NOT EXISTS (another LATE
    * supplier) pair; implemented in the aggregate form that scales: ONE
    * explicit order-keyed exchange of lineitem⋈orders, on which BOTH
    * grains compute without moving a row again — hash(l_orderkey)
    * satisfies the (order, supplier) aggregate's clustering (subset
    * rule), and the per-order counts ride a window over the same
    * partitioning — so the double-EXISTS becomes a row-local predicate
    * (sup_late=1 ∧ n_sups≥2 ∧ n_late_sups=1). No per-order subquery
    * re-scan, no fact×fact existential join, no duplicated fact
    * subtree (the naive two-grain groupBy + self-join plans the
    * join/scan TWICE — measured before this shape was chosen). The
    * traded partial aggregate is cheap here: the (order, supplier)
    * grain is already nearly distinct per row. Supplier names arrive
    * by broadcast at the final, already-aggregated (supplier) grain. */
  def q94SoleBlame(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lo = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
      .join(Tables.orders(s, dir).select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey"), col("l_suppkey"),
        (col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
          .cast("int").as("late"))
    val w = Window.partitionBy("l_orderkey")
    lo.repartition(col("l_orderkey"))
      .groupBy("l_orderkey", "l_suppkey")
      .agg(max(col("late")).as("sup_late"))
      .withColumn("n_sups", count(lit(1)).over(w))
      .withColumn("n_late_sups", sum(col("sup_late")).over(w))
      .filter(col("sup_late") === 1 && col("n_sups") >= 2 && col("n_late_sups") === 1)
      .groupBy("l_suppkey").agg(count(lit(1)).as("numwait"))
      .join(broadcast(Tables.supplier(s, dir).select(col("s_suppkey"), col("s_name"))),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("numwait"))
      .orderBy(desc("numwait"), asc("s_suppkey"))
  }

  /** q95 — TPC-H Q22-shaped dormant-capital report: customers holding
    * an above-average positive balance who have NEVER ordered, totaled
    * per market segment (the schema's analog of Q22's country-code
    * grouping). The global mean is a two-value scalar (decimal sum +
    * count over one dimension scan, q79's scalar-subquery discipline);
    * the threshold test is CROSS-MULTIPLIED — bal·n > Σbal — so both
    * engines compare exact decimals and no division-order FP noise can
    * flip a boundary customer (the q21 round-1 lesson applied to a
    * predicate). "Dormant" is a left-anti against the orders fact
    * filtered to RECENT activity (orderdate ≥ 2000-01-01 — the
    * schema's analog of Q22's no-orders test, nonempty at every SF) and
    * projected to its key — the filter lands in the parquet scan, so
    * the anti join ships only the recent slice's distinct o_custkey
    * values. Balances sum as decimal and round once (moneySum). */
  def q95DormantBalance(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_mktsegment"),
        col("c_acctbal").cast("decimal(18,2)").as("bal"))
    val scalar = c.filter(col("bal") > 0)
      .agg(sum(col("bal")).as("tot"), count(lit(1)).as("n")).head()
    val (tot, n) = (scalar.getDecimal(0), scalar.getLong(1))
    c.filter(col("bal") * n > lit(tot))
      .join(Tables.orders(s, dir)
          .filter(col("o_orderdate") >= lit("2000-01-01").cast("timestamp"))
          .select(col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_cust"), moneySum(col("bal")).as("total_bal"))
      .orderBy("c_mktsegment")
  }

  /** q96 — TPC-H Q17-shaped small-quantity revenue: for a selective
    * part slice (p_size ≤ 5 — the schema's analog of Q17's
    * brand+container filter), the lineitems whose quantity falls below
    * 20% of that part's own average quantity, totaled per brand.
    * Spark-first shape: the part filter broadcasts and prunes the fact
    * scan FIRST, so the per-part average is computed over an already
    * joined slice with ONE shuffle — a window over l_partkey yields
    * (Σqty, n) per part and the detail rows in the same pass, where
    * Q17's textbook correlated subquery would scan lineitem twice.
    * The 20%-of-average test is cross-multiplied (5·qty·n < Σqty) in
    * decimal, q95's discipline: no division, no FP boundary flap
    * against the oracle. Because the filter keys on the part side
    * only, the post-join slice IS every lineitem of each surviving
    * part — the window average equals Q17's per-part correlated
    * average exactly. */
  def q96SmallQtyRevenue(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val p = Tables.part(s, dir).filter(col("p_size") <= 5)
      .select(col("p_partkey"), col("p_brand"))
    val w = Window.partitionBy("l_partkey")
    Tables.lineitem(s, dir)
      .select(col("l_partkey"),
        col("l_quantity").cast("decimal(18,6)").as("qty"),
        col("l_extendedprice"))
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .select(col("p_brand"), col("qty"), col("l_extendedprice"),
        sum(col("qty")).over(w).as("sq"), count(lit(1)).over(w).as("n"))
      .filter(col("qty") * 5 * col("n") < col("sq"))
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n_small"),
        moneySum(col("l_extendedprice")).as("small_rev"))
      .orderBy("p_brand")
  }

  /** q97 — TPC-H Q18-shaped large-volume orders: orders whose total
    * line quantity exceeds 300, with their customer and order detail.
    * Spark-first shape: the HAVING aggregate is a map-side-combinable
    * groupBy on l_orderkey over a TWO-column fact projection — at
    * 100 TB the partial aggregate collapses each order's ~4 lines
    * before the exchange, and the >300 filter then drops ~99.7% of
    * the aggregated rows, so the join back to orders ships a sliver
    * (AQE sees the post-filter size at runtime and converts the
    * orders join to broadcast; statically it plans a shuffle join —
    * that runtime re-plan is exactly what AQE is for, and why the
    * threshold filter must sit UNDER the join, not over it). Customer
    * names arrive by broadcast at the already-filtered order grain.
    * Quantities sum as decimal (order-free), the threshold compares
    * the exact decimal, and the reported total rounds once. */
  def q97LargeOrders(s: SparkSession, dir: String): DataFrame = {
    val bigOrders = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_quantity").cast("decimal(18,6)").as("qty"))
      .groupBy("l_orderkey")
      .agg(sum(col("qty")).as("tq"))
      .filter(col("tq") > 300)
      .select(col("l_orderkey"), round(col("tq"), 2).cast("double").as("total_qty"))
    Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
        col("o_totalprice"))
      .join(bigOrders, col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(Tables.customer(s, dir).select(col("c_custkey"), col("c_name"))),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
        col("o_orderdate").cast("date").as("o_odate"),
        col("o_totalprice"), col("total_qty"))
      .orderBy(desc("o_totalprice"), asc("o_orderkey"))
  }

  /** q98 — TPC-H Q13-shaped customer order-count distribution: how many
    * customers placed exactly k non-urgent orders, for every k
    * including zero. Spark-first shape: the aggregate is pushed BELOW
    * the outer join — orders pre-aggregates to (custkey, count) at its
    * own grain FIRST (map-side combinable, one narrow exchange of the
    * fact), and customer then LEFT joins the already-tiny count table,
    * where the textbook plan outer-joins the raw fact to customer and
    * shuffles every order row WITH its customer payload before
    * counting. Null counts coalesce to 0 (the never-ordered cohort
    * Q13 exists to surface). The second groupBy is over the k-grain —
    * dozens of rows — so its exchange is noise. The customer side
    * ships only c_custkey; at 100 TB the dominant cost is the one
    * fact exchange, already at minimum width. */
  def q98CustDistribution(s: SparkSession, dir: String): DataFrame = {
    val perCust = Tables.orders(s, dir)
      .filter(col("o_orderpriority") =!= "1-URGENT")
      .groupBy("o_custkey").agg(count(lit(1)).as("cnt"))
    Tables.customer(s, dir).select(col("c_custkey"))
      .join(perCust, col("c_custkey") === col("o_custkey"), "left_outer")
      .select(coalesce(col("cnt"), lit(0L)).as("c_count"))
      .groupBy("c_count").agg(count(lit(1)).as("custdist"))
      .orderBy(desc("custdist"), desc("c_count"))
  }

  /** q99 — TPC-H Q15-shaped top supplier: the supplier(s) with the
    * maximum revenue over one quarter (1997 Q1). Q15's view-plus-max
    * correlated pattern, Spark-first: revenue aggregates per supplier
    * over the date-pruned fact scan ONCE; the scalar max is then a
    * 1-row aggregate of that supplier-grain frame, broadcast back as
    * a join — and because both branches hang off the IDENTICAL
    * aggregate subtree, Spark's ReuseExchange executes the fact scan
    * and its exchange once (pinned in PlanQualitySpec). This beats
    * the window-max alternative, which would drag every supplier row
    * into ONE partition for a global frame; the broadcast carries
    * exactly one row at any scale. The equality test compares exact
    * decimal sums — bit-identical on both branches because they ARE
    * the same exchange — and the reported revenue rounds once. */
  def q99TopSupplier(s: SparkSession, dir: String): DataFrame = {
    // The explicit suppkey null guard is load-bearing for plan reuse:
    // the join branch pushes isnotnull(l_suppkey) into ITS copy of the
    // subtree anyway — stating it once in the shared base makes both
    // branches canonically identical, which is what lets AQE reuse the
    // exchange instead of scanning the fact twice.
    val rev = Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-04-01").cast("timestamp") &&
        col("l_suppkey").isNotNull)
      .select(col("l_suppkey"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(18,6)").as("r"))
      .groupBy("l_suppkey").agg(sum(col("r")).as("rev"))
    val mx = rev.agg(max(col("rev")).as("mx"))
    rev.join(broadcast(mx), rev("rev") === mx("mx"))
      .join(broadcast(Tables.supplier(s, dir).select(col("s_suppkey"), col("s_name"))),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        round(col("rev"), 2).cast("double").as("total_rev"))
      .orderBy("s_suppkey")
  }

  /** q100 — ORC round-trip source: the last cell of the format matrix
    * (CSV/JSON/XLSX/Avro/PDF/DOCX/parquet already covered). Spark's
    * native ORC reader/writer — column-pruned, predicate-pushing
    * (the date bound lands in the ORC scan as a pushed filter, same
    * contract PlanQualitySpec pins for parquet; an OrcSpec case pins
    * it for this format) — writes a lineitem slice as multi-file ORC
    * and aggregates it back against the parquet ground truth. At
    * 100 TB this is the "read someone else's lakehouse" path: ORC
    * partitions split and prune exactly like parquet, so every scan
    * law in SCALE.md §2 transfers unchanged. localCheckpoint because
    * the temp files are gone when the frame is consumed. */
  def q100OrcSource(s: SparkSession, dir: String): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-q100-orc")
    try {
      Tables.lineitem(s, dir)
        .select("l_orderkey", "l_returnflag", "l_quantity",
          "l_extendedprice", "l_shipdate")
        .repartition(4)
        .write.mode("overwrite").orc(tmp.toString)
      s.read.orc(tmp.toString)
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("cnt"),
          moneySum(col("l_quantity")).as("sum_qty"),
          moneySum(col("l_extendedprice")).as("sum_price"))
        .orderBy("l_returnflag")
        .localCheckpoint(true)
    } finally rmTree(tmp)
  }

  /** q102 — TPC-H Q2-shaped minimum-cost supplier: for every STANDARD
    * part, the EUROPE supplier(s) offering the lowest observed price,
    * ranked by account balance. Q2's correlated min subquery
    * (`min(ps_supplycost) ... where same part`, adapted to this corpus:
    * offers are a lineitem aggregate since there is no partsupp table),
    * Spark-first: the offer table aggregates per (part, supplier) ONCE;
    * the per-part min is then a second aggregate of that SAME subtree
    * joined back on (partkey, price = min) — both branches hang off the
    * identical aggregate, so ReuseExchange runs the fact scan once
    * (q99's discipline at per-group grain instead of global). The
    * region slice broadcasts as a 3-table dim chain BEFORE the fact
    * aggregate, shrinking the offer table ~5× at the scan edge; the
    * part slice broadcasts onto the join-back. Prices are exact
    * decimal mins (no FP tie flap); ties on the min price all survive,
    * exactly Q2's semantics. At 100 TB: one fact exchange at
    * (partkey, suppkey, min-price) width — the offer grain — and
    * everything after is dim-sized or grouped at part grain. */
  def q102MinCostSupplier(s: SparkSession, dir: String): DataFrame = {
    val eur = Tables.supplier(s, dir)
      .join(Tables.nation(s, dir), col("s_nationkey") === col("n_nationkey"))
      .join(Tables.region(s, dir).filter(col("r_name") === "EUROPE"),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("s_suppkey"), col("s_name"), col("s_acctbal"), col("n_name"))
    // The fact aggregate carries NO dim payload — both consumers (the
    // join-back side and the per-part min) then hang off the IDENTICAL
    // subtree, so ReuseExchange executes the fact scan + (part, supp)
    // exchange once. Carrying s_name/acctbal through the aggregate
    // (the naive shape) makes the two canonical plans differ and
    // Catalyst scans the fact twice. Names join AFTER the min
    // join-back, at result grain, by broadcast.
    // The explicit partkey null guard is load-bearing for plan reuse
    // (q99's lesson): the join-back branch pushes isnotnull(l_partkey)
    // into ITS copy of the scan anyway — stating it once in the shared
    // base makes both branches canonically identical.
    val offers = Tables.lineitem(s, dir)
      .filter(col("l_partkey").isNotNull && col("l_suppkey").isNotNull)
      .select(col("l_partkey"), col("l_suppkey"),
        col("l_extendedprice").cast("decimal(18,6)").as("price"))
      .join(broadcast(eur.select(col("s_suppkey"))),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy("l_partkey", "l_suppkey")
      .agg(min(col("price")).as("price"))
    val best = offers.groupBy(col("l_partkey").as("b_partkey"))
      .agg(min(col("price")).as("mn"))
    offers
      .join(best, col("l_partkey") === col("b_partkey") && col("price") === col("mn"))
      .join(broadcast(eur), col("l_suppkey") === eur("s_suppkey"))
      .join(broadcast(Tables.part(s, dir).filter(col("p_type") === "STANDARD")
          .select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .select(col("s_acctbal"), col("s_name"), col("n_name"),
        col("p_partkey"), col("p_brand"),
        round(col("price"), 2).cast("double").as("min_price"))
      .orderBy(desc("s_acctbal"), asc("n_name"), asc("s_name"), asc("p_partkey"))
  }

  /** q103 — TPC-H Q11-shaped important stock: parts whose turnover
    * through one nation's suppliers exceeds a fixed fraction (1/1000)
    * of that nation's total. Q11's HAVING-vs-global-scalar pattern,
    * Spark-first: value aggregates per partkey over the
    * nation-broadcast-pruned fact ONCE; the global total is a 1-row
    * aggregate of that SAME per-part frame (ReuseExchange executes the
    * fact scan and its exchange once, q99's pattern) broadcast back as
    * a single row. The share test cross-multiplies exact decimals
    * (value·1000 > total) — no division, no FP boundary flap. At
    * 100 TB the dominant cost is the one fact exchange at
    * (partkey, value) width; the scalar side is one row at any scale,
    * where the textbook correlated form re-runs the whole aggregate as
    * a subquery. */
  def q103ImportantStock(s: SparkSession, dir: String): DataFrame = {
    val natSup = Tables.supplier(s, dir)
      .join(Tables.nation(s, dir).filter(col("n_name") === "NATION_9"),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"))
    val value = Tables.lineitem(s, dir)
      .select(col("l_partkey"), col("l_suppkey"),
        col("l_extendedprice").cast("decimal(18,6)").as("v"))
      .join(broadcast(natSup), col("l_suppkey") === col("s_suppkey"))
      .groupBy("l_partkey").agg(sum(col("v")).as("value"))
    val total = value.agg(sum(col("value")).as("tot"))
    value.join(broadcast(total), col("value") * 1000 > col("tot"))
      .select(col("l_partkey"),
        round(col("value"), 2).cast("double").as("part_value"))
      .orderBy(desc("part_value"), asc("l_partkey"))
  }

  /** q104 — TPC-H Q16-shaped supplier diversity: how many distinct
    * suppliers ship each (brand, size) product class, excluding one
    * brand and a supplier deny-set (Q16's `NOT IN (... complaints)`
    * adapted to this corpus: negative-balance suppliers). Spark-first:
    * the deny-set is dim-sized, so the NOT IN becomes a BROADCAST
    * left-anti join at the fact's scan edge (never a shuffled anti
    * join, never a null-trap IN rewrite); the brand exclusion rides
    * the broadcast part dim; the distinct count then collapses
    * (brand, size, suppkey) map-side before the final exchange.
    * At 100 TB: one fact pass, one partial-deduped exchange at the
    * class grain — the anti join costs nothing because the deny-set
    * broadcasts everywhere. */
  def q104SupplierDiversity(s: SparkSession, dir: String): DataFrame = {
    val denied = Tables.supplier(s, dir)
      .filter(col("s_acctbal") < 0).select(col("s_suppkey"))
    Tables.lineitem(s, dir)
      .select(col("l_partkey"), col("l_suppkey"))
      .join(broadcast(denied), col("l_suppkey") === col("s_suppkey"), "left_anti")
      .join(broadcast(Tables.part(s, dir)
          .filter(col("p_brand") =!= "Brand#2")
          .select(col("p_partkey"), col("p_brand"), col("p_size"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand", "p_size")
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(desc("supplier_cnt"), asc("p_brand"), asc("p_size"))
  }

  /** q105 — TPC-H Q7-shaped volume shipping: bilateral trade between
    * two nations by ship year. The shape that earns Q7 its place: TWO
    * fact-side equi-joins at different keys (lineitem→orders on
    * orderkey, orders→customer on custkey) plus a dim chain on the
    * supplier side. Spark-first: both nation slices broadcast — the
    * supplier side PRUNES the fact at the scan edge (only the pair's
    * suppliers survive, ~1/12 of rows before any wide op), and the
    * customer side prunes orders the same way; the one irreducible
    * shuffle is lineitem↔orders on orderkey, carried at minimum width
    * (orderkey, year, revenue). The textbook plan shuffles the whole
    * fact to customer grain TWICE; this one exchanges the pruned slice
    * once. Revenue sums as exact decimal per (supp_nation, cust_nation,
    * year) — a bounded key space, so the final aggregate is noise. */
  def q105VolumeShipping(s: SparkSession, dir: String): DataFrame = {
    val pair = Seq("NATION_9", "NATION_11")
    val supN = Tables.supplier(s, dir)
      .join(Tables.nation(s, dir).filter(col("n_name").isin(pair: _*)),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    val custN = Tables.customer(s, dir)
      .join(Tables.nation(s, dir).filter(col("n_name").isin(pair: _*)),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name").as("cust_nation"))
    val ordersN = Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_custkey"))
      .join(broadcast(custN), col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("cust_nation"))
    Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_suppkey"),
        year(col("l_shipdate")).as("l_year"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(18,6)").as("rev"))
      .join(broadcast(supN), col("l_suppkey") === col("s_suppkey"))
      .join(ordersN, col("l_orderkey") === col("o_orderkey"))
      .filter(col("supp_nation") =!= col("cust_nation")) // bilateral only
      .groupBy("supp_nation", "cust_nation", "l_year")
      .agg(count(lit(1)).as("n_lines"), moneySum(col("rev")).as("revenue"))
      .orderBy("supp_nation", "cust_nation", "l_year")
  }

  /** q106 — TPC-H Q19-shaped disjunctive-predicate revenue: three
    * (brand, size-range, quantity-range) branches OR'd together, the
    * classic test of disjunction handling. Spark-first: Catalyst
    * extracts the part-side disjuncts (brand/size) and pushes the OR
    * into the part scan as a pushed filter — the part dim arrives
    * pre-sliced — while the mixed-table quantity conjuncts evaluate
    * post-join; the part side stays a broadcast, so the fact is
    * scanned once with no shuffle at all before the final bounded
    * aggregate. Reported per branch (which OR-arm matched) rather
    * than Q19's single scalar, so the gate pins each disjunct's
    * row-routing individually. */
  def q106DisjunctiveRevenue(s: SparkSession, dir: String): DataFrame = {
    val b1 = col("p_brand") === "Brand#1" && col("p_size").between(1, 15) &&
      col("l_quantity").between(1, 20)
    val b2 = col("p_brand") === "Brand#2" && col("p_size").between(10, 30) &&
      col("l_quantity").between(10, 30)
    val b3 = col("p_brand") === "Brand#3" && col("p_size").between(20, 50) &&
      col("l_quantity").between(20, 40)
    Tables.lineitem(s, dir)
      .select(col("l_partkey"), col("l_quantity"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(18,6)").as("rev"))
      .join(broadcast(Tables.part(s, dir)
          .select(col("p_partkey"), col("p_brand"), col("p_size"))),
        col("l_partkey") === col("p_partkey"))
      // the EXPLICIT disjunction (not `CASE ... IS NOT NULL`, which
      // Catalyst cannot decompose) — the optimizer extracts the
      // part-only arms (brand∧size) and pushes their OR into the part
      // scan, Q19's entire point
      .filter(b1 || b2 || b3)
      .select(when(b1, 1).when(b2, 2).when(b3, 3).as("branch"), col("rev"))
      .groupBy("branch")
      .agg(count(lit(1)).as("n_lines"), moneySum(col("rev")).as("revenue"))
      .orderBy("branch")
  }

  /** q107 — TPC-H Q14-shaped promotion share: per 1997 month, the
    * percentage of revenue from PROMO parts. The conditional-aggregate
    * pattern: ONE pass computes both the promo and total sums (a CASE
    * inside the aggregate, never two scans or a self-join), the date
    * bound lands in the parquet scan, the part type arrives by
    * broadcast. Both sums are exact decimal; the share divides the two
    * AS DOUBLES cast from those exact decimals — the same two values
    * in both engines, so the one double division is bit-identical —
    * and rounds once. */
  def q107PromoShare(s: SparkSession, dir: String): DataFrame = {
    val promo = sum(when(col("p_type") === "PROMO", col("rev"))).cast("double")
    val total = sum(col("rev")).cast("double")
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .select(col("l_partkey"),
        date_format(col("l_shipdate"), "yyyy-MM").as("month"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(18,6)").as("rev"))
      .join(broadcast(Tables.part(s, dir).select(col("p_partkey"), col("p_type"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy("month")
      .agg(count(lit(1)).as("n_lines"),
        round(lit(100.0) * promo / total, 2).as("promo_share"),
        moneySum(col("rev")).as("revenue"))
      .orderBy("month")
  }

  /** q108 — TPC-H Q10-shaped returned-item losses: the top-20 customers
    * by revenue lost to returns in one quarter. Spark-first: the date
    * bound prunes ORDERS at its scan (the selective side), the
    * returnflag bound prunes lineitem at its scan, and the join carries
    * only the two pruned slices on orderkey — the single wide exchange;
    * customer + nation names arrive by broadcast at the aggregated
    * customer grain. The top-20 is TakeOrderedAndProject (per-partition
    * top-k then a 20-row driver merge — never a global sort of the
    * customer grain; at 100 TB the sort-shuffle a naive
    * orderBy().limit() plans would move every customer row to one
    * ordering). Tie-broken on custkey so the cut is deterministic. */
  def q108ReturnedItems(s: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-04-01").cast("timestamp"))
      .select(col("o_orderkey"), col("o_custkey"))
    Tables.lineitem(s, dir)
      .filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(18,6)").as("rev"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n_returns"), sum(col("rev")).as("revx"))
      .join(broadcast(Tables.customer(s, dir)
          .join(Tables.nation(s, dir), col("c_nationkey") === col("n_nationkey"))
          .select(col("c_custkey"), col("c_name"), col("n_name"))),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("n_name"),
        col("n_returns"), round(col("revx"), 2).cast("double").as("lost_revenue"))
      .orderBy(desc("lost_revenue"), asc("c_custkey"))
      .limit(20)
  }

  /** q109 — TPC-H Q12-shaped priority-class line counts: per return
    * flag, how many 1997 lines belong to critical-priority orders vs
    * the rest. Q12's two-conditional-counts-after-the-join shape:
    * lineitem prunes on the shipdate bound AT THE SCAN, orders ships
    * only (orderkey, priority), the orderkey join is the one exchange,
    * and both counts come from a single CASE'd aggregate pass (q107's
    * law for counts). The group key space is 3 rows — the final
    * aggregate is noise at any scale. */
  def q109PriorityClasses(s: SparkSession, dir: String): DataFrame = {
    val critical = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .select(col("l_orderkey"), col("l_returnflag"))
      .join(Tables.orders(s, dir).select(col("o_orderkey"), col("o_orderpriority")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_returnflag")
      .agg(sum(when(critical, 1L).otherwise(0L)).as("high_line_count"),
        sum(when(critical, 0L).otherwise(1L)).as("low_line_count"))
      .orderBy("l_returnflag")
  }

  /** q111 — TPC-H Q8-shaped national market share: within EUROPE's
    * customer market and the ECONOMY part slice, the focal supplier
    * nation's revenue share per order year. Plan shape: the fact
    * scans ONCE; the part slice and supplier→nation tag broadcast;
    * the region-pruned customer set broadcasts into orders; the
    * share is a conditional sum inside the same aggregate as the
    * market total (never a second fact pass), decimal-exact before
    * the ratio. Q8's classic hazard — a self-join of two filtered
    * fact aggregates — never materializes. */
  def q111MarketShare(s: SparkSession, dir: String): DataFrame = {
    val focal = "NATION_5"
    val partSlice = broadcast(Tables.part(s, dir)
      .filter(col("p_type") === "ECONOMY").select(col("p_partkey")))
    val supN = broadcast(Tables.supplier(s, dir)
      .join(Tables.nation(s, dir), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation")))
    val marketCust = Tables.customer(s, dir)
      .join(broadcast(Tables.nation(s, dir)
          .join(Tables.region(s, dir).filter(col("r_name") === "EUROPE"),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("n_nationkey"))),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"))
    val marketOrders = Tables.orders(s, dir)
      .join(broadcast(marketCust), col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), year(col("o_orderdate")).as("o_year"))
    Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(18,6)").as("rev"))
      .join(partSlice, col("l_partkey") === col("p_partkey"))
      .join(supN, col("l_suppkey") === col("s_suppkey"))
      .join(marketOrders, col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_year")
      .agg(moneySum(col("rev")).as("market_rev"),
        moneySum(when(col("supp_nation") === focal, col("rev"))
          .otherwise(lit(0.0).cast("decimal(18,6)"))).as("focal_rev"))
      .withColumn("share", round(col("focal_rev") / col("market_rev"), 4))
      .orderBy("o_year")
  }

  /** q112 — TPC-H Q9-shaped product-type profit: for the part slice
    * whose name carries 'ol' (bolts and gold), profit = revenue −
    * cost proxy (0.6 · retailprice · qty — the corpus has no
    * partsupp, so the cost side rides the part dim), grouped by
    * supplier nation × order year. The classic many-way join: the
    * fact scans once, part slice and supplier→nation broadcast, and
    * the ONLY shuffle is the orderkey join for the year — Q9's
    * textbook join-ordering trap (starting from orders×lineitem
    * before the part slice) never materializes because the slice
    * broadcasts into the scan. */
  def q112ProductProfit(s: SparkSession, dir: String): DataFrame = {
    val slice = broadcast(Tables.part(s, dir)
      .filter(col("p_name").contains("ol"))
      .select(col("p_partkey"), col("p_retailprice")))
    val supN = broadcast(Tables.supplier(s, dir)
      .join(Tables.nation(s, dir), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("nation")))
    val ord = Tables.orders(s, dir)
      .select(col("o_orderkey"), year(col("o_orderdate")).as("o_year"))
    Tables.lineitem(s, dir)
      .join(slice, col("l_partkey") === col("p_partkey"))
      .join(supN, col("l_suppkey") === col("s_suppkey"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .select(col("nation"), col("o_year"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount")) -
          lit(0.6) * col("p_retailprice") * col("l_quantity"))
          .cast("decimal(18,6)").as("amount"))
      .groupBy("nation", "o_year")
      .agg(count(lit(1)).as("n_lines"), moneySum(col("amount")).as("profit"))
      .orderBy("nation", "o_year")
  }

  /** q91 —small-file compaction planning (the lakehouse OPTIMIZE
    * pre-pass q75's clustering note presumes): given per-file sizes —
    * here orders-per-month as pseudo-files — assign files to
    * target-size output bins with the deterministic running-sum rule
    * (order by size desc then id; bin = exclusive-cumsum div target),
    * the same coalescing law Spark's own file scanner applies via
    * maxPartitionBytes. Output is the PLAN (file → bin, per-bin
    * totals), which is the artifact a maintenance job needs before it
    * moves a byte — planning is metadata-sized (one row per FILE, not
    * per row), so the global window costs one pass over the listing;
    * a multi-table run would partition the window by table, keeping
    * the same rule per scope. */
  def q91CompactionPlan(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val target = 5000L
    val files = Tables.orders(s, dir)
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("file_id"))
      .agg(count(lit(1)).as("n_rows"))
    val w = Window.orderBy(desc("n_rows"), asc("file_id"))
    val planned = files
      .withColumn("bin",
        floor((sum(col("n_rows")).over(w) - col("n_rows")) / target).cast("int"))
    planned.join(
        planned.groupBy(col("bin"))
          .agg(sum(col("n_rows")).as("bin_rows"),
            count(lit(1)).as("bin_files")),
        "bin")
      .select("file_id", "n_rows", "bin", "bin_rows", "bin_files")
      .orderBy("bin", "file_id")
  }

  /** q87 — declarative data-quality expectations
    * ([[graft.functions.Expectations]], the Deequ/dbt-tests shape):
    * six rules over orders — not-null + unique key, two
    * accepted-values sets (one deliberately narrow so the battery
    * PROVES it can fail: order priorities beyond URGENT/HIGH count as
    * violations), non-negative price, and o_custkey referential
    * integrity against the customer dim. All four row-level rules fold
    * into ONE conditional-count aggregate over one scan; unique adds
    * its key groupBy, the FK one broadcast anti-join. The report frame
    * (rule, target, n_bad, ok) is what a publish step asserts on. */
  def q87Expectations(s: SparkSession, dir: String): DataFrame =
    graft.functions.Expectations.check(Tables.orders(s, dir))
      .notNull("o_orderkey")
      .unique("o_orderkey")
      .acceptedValues("o_orderstatus", Seq("O", "F", "P"))
      .acceptedValues("o_orderpriority", Seq("1-URGENT", "2-HIGH"))
      .nonNegative("o_totalprice")
      .referentialIntegrity("o_custkey", Tables.customer(s, dir), "c_custkey")
      .run()

  /** q90 — graph-store time travel ([[graft.graph.VersionedStore]]):
    * three upsert batches over the nation dim with staged status
    * changes, then as-of reads at each batch instant — "what did the
    * graph say at T", the question the flat store's `updated_at` alone
    * cannot answer. Change-hash detection means restated values write
    * NOTHING: the final history holds 25 + 9 + 8 versions (the change
    * rate), which the zz_history row pins through the gate. Each
    * upsert is one uid-keyed join pair; asOf is a pushable predicate. */
  def q90TimeTravel(s: SparkSession, dir: String): DataFrame = {
    import graft.graph.VersionedStore
    def t(d: String) = to_timestamp(lit(s"2024-0$d-01 00:00:00"))
    val n = Tables.nation(s, dir)
      .select(col("n_nationkey").cast("string").as("uid"),
        col("n_nationkey").as("k"))
    val b1 = n.select(col("uid"), lit("v1").as("status"))
    val b2 = n.select(col("uid"),
      when(col("k") % 3 === 0, "v2").otherwise("v1").as("status"))
    val b3 = n.select(col("uid"),
      when(col("k") % 3 === 0, "v2")
        .when(col("k") % 3 === 1, "v3").otherwise("v1").as("status"))
    var h = VersionedStore.init(b1, Seq("status"), t("1"))
    h = VersionedStore.upsert(h, b2, Seq("status"), t("2"))
    h = VersionedStore.upsert(h, b3, Seq("status"), t("3")).localCheckpoint(true)
    val reads = Seq("1" -> t("1"), "2" -> t("2"), "3" -> t("3")).map {
      case (lbl, at) =>
        VersionedStore.asOf(h, at).groupBy("status")
          .agg(count(lit(1)).as("n"))
          .select(lit(s"t$lbl").as("as_of"), col("status"), col("n"))
    }
    reads.reduce(_ unionByName _)
      .unionByName(h.agg(count(lit(1)).as("n"))
        .select(lit("zz_history").as("as_of"), lit("versions").as("status"), col("n")))
      .orderBy("as_of", "status")
  }

  /** q77 — equal-frequency bucketing via ntile: per order priority,
    * decile membership over a TOTAL order (price, then key — ties
    * broken or ntile assignment is arrival-order nondeterminism), then
    * per-decile stats. The standard feature-binning / SLA-band
    * operator; at scale one window shuffle per partition key, and the
    * decile bounds double as an equi-depth histogram of the measure. */
  def q77Ntile(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("o_orderpriority")
      .orderBy("o_totalprice", "o_orderkey")
    Tables.orders(s, dir)
      .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"))
      .withColumn("decile", ntile(10).over(w))
      .groupBy("o_orderpriority", "decile")
      .agg(count(lit(1)).as("n"),
        min("o_totalprice").as("lo"), max("o_totalprice").as("hi"),
        round(sum(col("o_totalprice").cast("decimal(18,6)")), 2)
          .cast("double").as("total"))
      .orderBy("o_orderpriority", "decile")
  }

  /** q78 — multiset set operations (EXCEPT ALL / INTERSECT ALL): the
    * ALL forms keep MULTIPLICITY — |A∖B| per row = max(0, m_A − m_B),
    * |A∩B| = min(m_A, m_B) — where q10/q35's DISTINCT forms collapse
    * it. Exercised on two OVERLAPPING ship-date windows of lineitem
    * status rows (the overlap year is what makes the multiset
    * difference differ from the distinct difference), then aggregated
    * per status pair. Catalyst plans both as hash aggregates over a
    * count comparison — one shuffle each, no join explosion — which is
    * the shape that survives duplicate-heavy 100 TB inputs. */
  def q78ExceptAll(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .select(col("l_returnflag"), col("l_linestatus"), col("l_shipdate"))
    val a = li.filter(col("l_shipdate") < lit("2000-01-01"))
      .select("l_returnflag", "l_linestatus")
    val b = li.filter(col("l_shipdate") >= lit("1998-01-01"))
      .select("l_returnflag", "l_linestatus")
    val ex = a.exceptAll(b).groupBy("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("cnt")).withColumn("op", lit("except_all"))
    val in = a.intersectAll(b).groupBy("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("cnt")).withColumn("op", lit("intersect_all"))
    ex.unionByName(in)
      .select("op", "l_returnflag", "l_linestatus", "cnt")
      .orderBy("op", "l_returnflag", "l_linestatus")
  }

  /** q79 — relational division ("for all"): customers whose orders span
    * EVERY priority class. Implemented as the count-comparison form —
    * per-customer countDistinct(priority) equal to the global distinct
    * count (a one-row broadcast) — which is the shape that scales: the
    * textbook double-NOT-EXISTS / EXCEPT formulation materializes
    * customer × divisor pairs, this one is a single customer-keyed
    * aggregate. The divisor cardinality rides a scalar subquery both
    * engines fold to a literal. */
  def q79Division(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val total = o.agg(countDistinct(col("o_orderpriority"))).head().getLong(0)
    o.groupBy("o_custkey")
      .agg(count(lit(1)).as("n_orders"),
        countDistinct(col("o_orderpriority")).as("n_priorities"))
      .filter(col("n_priorities") === total)
      .orderBy("o_custkey")
  }

  val queries: Map[String, QueryFn] = Map(
    "q79_division"        -> (q79Division _),
    "q78_except_all"      -> (q78ExceptAll _),
    "q77_ntile"           -> (q77Ntile _),
    "q76_mv_rewrite"      -> (q76MvRewrite _),
    "q90_time_travel"     -> (q90TimeTravel _),
    "q88_auto_source"     -> (q88AutoSource _),
    "q87_expectations"    -> (q87Expectations _),
    "a04_countmin"        -> (a04CountMin _),
    "a05_set_overlap"     -> (a05SetOverlap _),
    "a06_bottomk_sample"  -> (a06BottomkSample _),
    "q91_compaction_plan" -> (q91CompactionPlan _),
    "q92_excess_inventory" -> (q92ExcessInventory _),
    "q94_sole_blame"      -> (q94SoleBlame _),
    "q95_dormant_balance" -> (q95DormantBalance _),
    "q96_smallqty_revenue" -> (q96SmallQtyRevenue _),
    "q97_large_orders"    -> (q97LargeOrders _),
    "q98_cust_distribution" -> (q98CustDistribution _),
    "q99_top_supplier"    -> (q99TopSupplier _),
    "q100_orc_source"     -> (q100OrcSource _),
    "q102_mincost_supplier" -> (q102MinCostSupplier _),
    "q105_volume_shipping" -> (q105VolumeShipping _),
    "q108_returned_items" -> (q108ReturnedItems _),
    "q109_priority_classes" -> (q109PriorityClasses _),
    "q111_market_share"   -> (q111MarketShare _),
    "q112_product_profit" -> (q112ProductProfit _),
    "q106_disjunctive_revenue" -> (q106DisjunctiveRevenue _),
    "q107_promo_share"    -> (q107PromoShare _),
    "q103_important_stock" -> (q103ImportantStock _),
    "q104_supplier_diversity" -> (q104SupplierDiversity _),
    "a03_hist_quantile"   -> (a03HistQuantile _),
    "q75_zorder"          -> (q75Zorder _),
    "q74_incremental_agg" -> (q74IncrementalAgg _),
    "q73_xml_source"      -> (q73XmlSource _),
    "q72_variant"         -> (q72Variant _),
    "q71_recursive_cte"   -> (q71RecursiveCte _),
    "q70_filter_agg"      -> (q70FilterAgg _),
    "q69_merge_schema"    -> (q69MergeSchema _),
    "q68_dynamic_overwrite" -> (q68DynamicOverwrite _),
    "q67_listagg"         -> (q67Listagg _),
    "q66_lateral_join"    -> (q66LateralJoin _),
    "q65_scalar_subquery" -> (q65ScalarSubquery _),
    "q64_partition_prune" -> (q64PartitionPrune _),
    "q63_apply_changes"   -> (q63ApplyChanges _),
    "q62_table_checksum"  -> (q62TableChecksum _),
    "q61_table_diff"      -> (q61TableDiff _),
    "q60_consume_extract" -> (q60ConsumeExtract _),
    "q59_stats_moments"   -> (q59StatsMoments _),
    "q58_dedup_merge"     -> (q58DedupMerge _),
    "q57_regional_revenue" -> (q57RegionalRevenue _),
    "q56_orc_source"      -> (q56OrcSource _),
    "q82_xlsx_source"     -> (q82XlsxSource _),
    "q86_avro_source"     -> (q86AvroSource _),
    "q55_json_source"     -> (q55JsonSource _),
    "q54_csv_source"      -> (q54CsvSource _),
    "q53_null_anti"       -> (q53NullAntiJoin _),
    "q52_session_window"  -> (q52SessionWindow _),
    "q51_concurrency"     -> (q51Concurrency _),
    "q50_grouping_sets"   -> (q50GroupingSets _),
    "q49_scd2"            -> (q49Scd2 _),
    "q48_dist_windows"    -> (q48DistWindows _),
    "q47_regexp_extract"  -> (q47RegexpExtractAll _),
    "q46_higher_order"    -> (q46HigherOrder _),
    "q45_multi_distinct"  -> (q45MultiDistinct _),
    "q44_exists_subquery" -> (q44ExistsSubquery _),
    "q43_schema_union"    -> (q43SchemaUnion _),
    "q42_fuzzy_match"     -> (q42FuzzyMatch _),
    "q41_gap_fill"        -> (q41GapFill _),
    "q40_trailing_window" -> (q40TrailingWindow _),
    "a01_approx_profile"  -> (a01ApproxProfile _),
    "a02_sketch_merge"    -> (a02SketchMerge _),
    "q38_bloom_prune"     -> (q38BloomPrune _),
    "q39_skew_join"       -> (q39SkewJoin _),
    "q37_date_funcs"      -> (q37DateFuncs _),
    "q36_null_semantics"  -> (q36NullSemantics _),
    "q35_intersect"       -> (q35Intersect _),
    "q34_sliding_window"  -> (q34SlidingWindow _),
    "q33_cohort_retention" -> (q33CohortRetention _),
    "q32_funnel"          -> (q32Funnel _),
    "q31_sql_surface"     -> (q31SqlSurface _),
    "q29_unpivot"         -> (q29Unpivot _),
    "q30_cube"            -> (q30Cube _),
    "q28_percentiles"     -> (q28Percentiles _),
    "q27_window_rank"     -> (q27WindowRank _),
    "q26_range_join"      -> (q26RangeJoin _),
    "q24_asof"            -> (q24AsOf _),
    "q25_pivot"           -> (q25Pivot _),
    "q23_rollup"          -> (q23Rollup _),
    "q21_sessionize"      -> (q21Sessionize _),
    "q22_json_props"      -> (q22JsonProps _),
    "q01_pricing_summary" -> (q01PricingSummary _),
    "q02_filter_project"  -> (q02FilterProject _),
    "q03_topk_revenue"    -> (q03TopkRevenue _),
    "q04_join_broadcast"  -> (q04JoinBroadcast _),
    "q05_anti_join"       -> (q05AntiJoin _),
    "q06_semi_join"       -> (q06SemiJoin _),
    "q07_window_latest"   -> (q07WindowLatest _),
    "q08_window_running"  -> (q08WindowRunning _),
    "q09_upsert_merge"    -> (q09UpsertMerge _),
    "q10_set_except"      -> (q10SetExcept _),
    "q11_union_distinct"  -> (q11UnionDistinct _),
    "q12_distinct"        -> (q12Distinct _),
    "q13_uid_sha2"        -> (q13UidSha2 _),
    "q14_string_funcs"    -> (q14StringFuncs _),
    "q15_split_explode"   -> (q15SplitExplode _),
    "q16_normalize_map"   -> (q16NormalizeMap _),
    "q17_group_month"     -> (q17GroupMonth _),
    "q18_events_window"   -> (q18EventsWindow _),
    "q19_selfjoin_pairs"  -> (q19SelfJoinPairs _),
    "q20_stats_labels"    -> (q20StatsLabels _))

  val oracles: Map[String, String] = Map(
    "q79_division" ->
      """SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS n_priorities
        |FROM orders GROUP BY o_custkey
        |HAVING count(DISTINCT o_orderpriority) =
        |  (SELECT count(DISTINCT o_orderpriority) FROM orders)
        |ORDER BY o_custkey""".stripMargin,
    "q78_except_all" ->
      """WITH a AS (
        |  SELECT l_returnflag, l_linestatus FROM lineitem
        |  WHERE l_shipdate < '2000-01-01'),
        |b AS (
        |  SELECT l_returnflag, l_linestatus FROM lineitem
        |  WHERE l_shipdate >= '1998-01-01'),
        |ex AS (
        |  SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS cnt
        |  FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM b)
        |  GROUP BY 1, 2),
        |inx AS (
        |  SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS cnt
        |  FROM (SELECT * FROM a INTERSECT ALL SELECT * FROM b)
        |  GROUP BY 1, 2)
        |SELECT 'except_all' AS op, * FROM ex
        |UNION ALL SELECT 'intersect_all', * FROM inx
        |ORDER BY op, l_returnflag, l_linestatus""".stripMargin,
    "q77_ntile" ->
      """WITH t AS (
        |  SELECT o_orderpriority, o_totalprice,
        |    ntile(10) OVER (PARTITION BY o_orderpriority
        |      ORDER BY o_totalprice, o_orderkey) AS decile
        |  FROM orders)
        |SELECT o_orderpriority, CAST(decile AS INT) AS decile,
        |  CAST(count(*) AS BIGINT) AS n,
        |  min(o_totalprice) AS lo, max(o_totalprice) AS hi,
        |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE)
        |    AS total
        |FROM t GROUP BY 1, 2 ORDER BY o_orderpriority, decile""".stripMargin,
    // q76: the oracle recomputes from the BASE table — the rewritten
    // plan never scans it (MvRewriteSpec pins that), so hash equality
    // proves the partial re-aggregation maps every aggregate right.
    "q76_mv_rewrite" ->
      """SELECT o_orderstatus AS status,
        | CAST(count(*) AS BIGINT) AS n_orders,
        | CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE)
        |   AS total_price,
        | min(o_totalprice) AS min_price, max(o_totalprice) AS max_price
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    // a03: fully deterministic sketch — the oracle recomputes the same
    // histogram (identical double expressions, so floor() and the
    // bucket bounds agree bit-for-bit) in one pass; hash equality
    // proves the per-day partial build + additive merge exact.
    // q90: each as-of read reconstructed from the batch definitions;
    // zz_history = 25 initial + 9 (%3=0 changed at t2) + 8 (%3=1 at t3).
    "q90_time_travel" ->
      """SELECT * FROM (
        |  SELECT 't1' AS as_of, 'v1' AS status,
        |    CAST(count(*) AS BIGINT) AS n FROM nation
        |  UNION ALL
        |  SELECT 't2', CASE WHEN n_nationkey % 3 = 0 THEN 'v2' ELSE 'v1' END,
        |    CAST(count(*) AS BIGINT)
        |  FROM nation GROUP BY 2
        |  UNION ALL
        |  SELECT 't3', CASE WHEN n_nationkey % 3 = 0 THEN 'v2'
        |    WHEN n_nationkey % 3 = 1 THEN 'v3' ELSE 'v1' END,
        |    CAST(count(*) AS BIGINT)
        |  FROM nation GROUP BY 2
        |  UNION ALL
        |  SELECT 'zz_history', 'versions', CAST(
        |    (SELECT count(*) FROM nation) +
        |    (SELECT count(*) FROM nation WHERE n_nationkey % 3 = 0) +
        |    (SELECT count(*) FROM nation WHERE n_nationkey % 3 = 1) AS BIGINT))
        |ORDER BY as_of, status""".stripMargin,
    // q88: all three formats carry the same dim — per-format counts and
    // key sums are the parquet ground truth three times over.
    "q88_auto_source" ->
      """WITH t AS (SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(n_nationkey) AS BIGINT) AS key_sum FROM nation)
        |SELECT f AS format, n_rows, key_sum
        |FROM t, (VALUES ('avro'), ('csv'), ('xlsx')) v(f)
        |ORDER BY format""".stripMargin,
    // q87: each rule recomputed directly; the narrow priority set is
    // the deliberately-failing rule (n_bad > 0, ok = false).
    "q87_expectations" ->
      """WITH r AS (
        |  SELECT 'not_null' AS rule, 'o_orderkey' AS target,
        |    CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_bad FROM orders
        |  UNION ALL
        |  SELECT 'accepted_values', 'o_orderstatus',
        |    CAST(sum(CASE WHEN o_orderstatus IS NOT NULL
        |      AND o_orderstatus NOT IN ('O','F','P') THEN 1 ELSE 0 END) AS BIGINT)
        |    FROM orders
        |  UNION ALL
        |  SELECT 'accepted_values', 'o_orderpriority',
        |    CAST(sum(CASE WHEN o_orderpriority IS NOT NULL
        |      AND o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END)
        |      AS BIGINT)
        |    FROM orders
        |  UNION ALL
        |  SELECT 'non_negative', 'o_totalprice',
        |    CAST(sum(CASE WHEN o_totalprice IS NOT NULL AND o_totalprice < 0
        |      THEN 1 ELSE 0 END) AS BIGINT) FROM orders
        |  UNION ALL
        |  SELECT 'unique', 'o_orderkey',
        |    CAST((SELECT count(*) FROM (
        |      SELECT o_orderkey FROM orders GROUP BY o_orderkey
        |      HAVING count(*) > 1)) AS BIGINT)
        |  UNION ALL
        |  SELECT 'fk', 'o_custkey',
        |    CAST((SELECT count(*) FROM orders o
        |      LEFT JOIN customer c ON o.o_custkey = c.c_custkey
        |      WHERE o.o_custkey IS NOT NULL AND c.c_custkey IS NULL) AS BIGINT))
        |SELECT rule, target, n_bad, n_bad = 0 AS ok FROM r
        |ORDER BY rule, target""".stripMargin,
    // q92: the same two-grain aggregate + ratio + semi join.
    "q92_excess_inventory" ->
      """WITH ps AS (
        |  SELECT l_partkey, l_suppkey, sum(l_quantity) AS ps_qty
        |  FROM lineitem GROUP BY 1, 2),
        |p AS (
        |  SELECT l_partkey, sum(l_quantity) AS p_qty
        |  FROM lineitem GROUP BY 1),
        |ex AS (
        |  SELECT DISTINCT ps.l_suppkey
        |  FROM ps JOIN p USING (l_partkey)
        |  WHERE ps.ps_qty > p.p_qty * 0.15)
        |SELECT s_suppkey, s_name, s_nationkey
        |FROM supplier WHERE s_suppkey IN (SELECT l_suppkey FROM ex)
        |ORDER BY s_suppkey""".stripMargin,
    // q94: same two-grain aggregate rewrite of the EXISTS/NOT-EXISTS
    // pair — (order, supplier) any-late, then per-order counts.
    "q94_sole_blame" ->
      """WITH lo AS (
        |  SELECT l_orderkey, l_suppkey,
        |    CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
        |      THEN 1 ELSE 0 END AS late
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |os AS (
        |  SELECT l_orderkey, l_suppkey, max(late) AS sup_late
        |  FROM lo GROUP BY 1, 2),
        |o2 AS (
        |  SELECT l_orderkey, count(*) AS n_sups, sum(sup_late) AS n_late_sups
        |  FROM os GROUP BY 1)
        |SELECT s_suppkey, s_name, CAST(count(*) AS BIGINT) AS numwait
        |FROM os JOIN o2 USING (l_orderkey)
        |  JOIN supplier ON l_suppkey = s_suppkey
        |WHERE sup_late = 1 AND n_sups >= 2 AND n_late_sups = 1
        |GROUP BY 1, 2 ORDER BY numwait DESC, s_suppkey""".stripMargin,
    // q95: cross-multiplied above-average test + NOT EXISTS orders,
    // decimal sums rounded once.
    "q95_dormant_balance" ->
      """WITH s AS (
        |  SELECT sum(CAST(c_acctbal AS DECIMAL(18,2))) AS tot,
        |    count(*) AS n
        |  FROM customer WHERE CAST(c_acctbal AS DECIMAL(18,2)) > 0)
        |SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_cust,
        |  CAST(round(sum(CAST(c_acctbal AS DECIMAL(18,2))), 2) AS DOUBLE)
        |    AS total_bal
        |FROM customer, s
        |WHERE CAST(c_acctbal AS DECIMAL(18,2)) * n > tot
        |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |    AND o_orderdate >= TIMESTAMP '2000-01-01')
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    // q96: same window-average rewrite of Q17's correlated subquery —
    // per-part (Σqty, n) from one window pass, cross-multiplied 20% test.
    "q96_smallqty_revenue" ->
      """WITH j AS (
        |  SELECT p_brand, CAST(l_quantity AS DECIMAL(18,6)) AS qty,
        |    l_extendedprice,
        |    sum(CAST(l_quantity AS DECIMAL(18,6)))
        |      OVER (PARTITION BY l_partkey) AS sq,
        |    count(*) OVER (PARTITION BY l_partkey) AS n
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_size <= 5)
        |SELECT p_brand, CAST(count(*) AS BIGINT) AS n_small,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))), 2)
        |    AS DOUBLE) AS small_rev
        |FROM j WHERE qty * 5 * n < sq
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,
    // q97: HAVING on the exact decimal sum; reported total rounds once.
    "q97_large_orders" ->
      """WITH big AS (
        |  SELECT l_orderkey,
        |    sum(CAST(l_quantity AS DECIMAL(18,6))) AS tq
        |  FROM lineitem GROUP BY l_orderkey
        |  HAVING sum(CAST(l_quantity AS DECIMAL(18,6))) > 300)
        |SELECT c_name, c_custkey, o_orderkey,
        |  CAST(o_orderdate AS DATE) AS o_odate, o_totalprice,
        |  CAST(round(tq, 2) AS DOUBLE) AS total_qty
        |FROM big JOIN orders ON o_orderkey = l_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_totalprice DESC, o_orderkey""".stripMargin,
    // q98: same aggregate-below-outer-join rewrite — per-customer counts
    // from the filtered fact, zero-filled via the left join.
    "q98_cust_distribution" ->
      """WITH per_cust AS (
        |  SELECT o_custkey, count(*) AS cnt FROM orders
        |  WHERE o_orderpriority <> '1-URGENT' GROUP BY o_custkey)
        |SELECT coalesce(cnt, 0) AS c_count, count(*) AS custdist
        |FROM customer LEFT JOIN per_cust ON c_custkey = o_custkey
        |GROUP BY 1 ORDER BY custdist DESC, c_count DESC""".stripMargin,
    // q99: the view-plus-scalar-max pattern; equality on exact decimals.
    "q99_top_supplier" ->
      """WITH rev AS (
        |  SELECT l_suppkey,
        |    sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,6))) AS r
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |    AND l_shipdate < TIMESTAMP '1997-04-01'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name,
        |  CAST(round(r, 2) AS DOUBLE) AS total_rev
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey
        |WHERE r = (SELECT max(r) FROM rev)
        |ORDER BY s_suppkey""".stripMargin,
    // q100: the ORC bytes carry the same values — the oracle reads the
    // parquet ground truth with the identical slice + aggregate.
    "q100_orc_source" ->
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(round(sum(CAST(l_quantity AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_qty,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_price
        |FROM lineitem WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // q102: offers aggregate per (part, supplier) from the region-pruned
    // fact; the correlated min re-expresses as a min-of-offers join-back;
    // price ties all survive (Q2 semantics).
    "q102_mincost_supplier" ->
      """WITH eur AS (
        |  SELECT s_suppkey, s_name, s_acctbal, n_name
        |  FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  WHERE r_name = 'EUROPE'),
        |offers AS (
        |  SELECT l_partkey, l_suppkey,
        |    min(CAST(l_extendedprice AS DECIMAL(18,6))) AS price,
        |    min(s_name) AS s_name, min(s_acctbal) AS s_acctbal,
        |    min(n_name) AS n_name
        |  FROM lineitem JOIN eur ON l_suppkey = s_suppkey
        |  GROUP BY 1, 2),
        |best AS (SELECT l_partkey, min(price) AS mn FROM offers GROUP BY 1)
        |SELECT s_acctbal, s_name, n_name, p_partkey, p_brand,
        |  CAST(round(o.price, 2) AS DOUBLE) AS min_price
        |FROM offers o JOIN best b ON o.l_partkey = b.l_partkey AND o.price = b.mn
        |JOIN part ON o.l_partkey = p_partkey
        |WHERE p_type = 'STANDARD'
        |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey""".stripMargin,
    // q103: per-part value over the nation-pruned fact; global total from
    // the same frame; cross-multiplied share test on exact decimals.
    "q103_important_stock" ->
      """WITH v AS (
        |  SELECT l_partkey,
        |    sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS value
        |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  WHERE n_name = 'NATION_9' GROUP BY 1)
        |SELECT l_partkey, CAST(round(value, 2) AS DOUBLE) AS part_value
        |FROM v WHERE value * 1000 > (SELECT sum(value) FROM v)
        |ORDER BY part_value DESC, l_partkey""".stripMargin,
    // q104: NOT IN deny-set as an anti join; distinct suppliers per
    // (brand, size) class.
    "q104_supplier_diversity" ->
      """SELECT p_brand, p_size,
        |  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#2' AND l_suppkey NOT IN
        |  (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY 1, 2
        |ORDER BY supplier_cnt DESC, p_brand, p_size""".stripMargin,
    // q108: identical quarter/flag slices, decimal revenue, custkey
    // tiebreak on the top-20 cut.
    "q108_returned_items" ->
      """SELECT c_custkey, c_name, n_name,
        |  CAST(count(*) AS BIGINT) AS n_returns,
        |  CAST(round(sum(CAST(l_extendedprice*(1-l_discount)
        |    AS DECIMAL(18,6))), 2) AS DOUBLE) AS lost_revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1997-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-04-01'
        |GROUP BY 1, 2, 3
        |ORDER BY lost_revenue DESC, c_custkey LIMIT 20""".stripMargin,
    // q109: one CASE'd aggregate pass for both counts.
    "q109_priority_classes" ->
      """SELECT l_returnflag,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // q105: same bilateral slice; revenue as exact decimal, rounded once.
    // q111: identical single-pass conditional share; the ratio divides
    // the two ROUNDED doubles, matching the engine's post-agg column.
    "q111_market_share" ->
      """WITH agg AS (
        |  SELECT year(o_orderdate) AS o_year,
        |    CAST(round(sum(CAST(l_extendedprice*(1-l_discount)
        |      AS DECIMAL(18,6))), 2) AS DOUBLE) AS market_rev,
        |    CAST(round(sum(CASE WHEN sn.n_name = 'NATION_5'
        |      THEN CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,6))
        |      ELSE CAST(0.0 AS DECIMAL(18,6)) END), 2) AS DOUBLE) AS focal_rev
        |  FROM lineitem
        |  JOIN part ON l_partkey = p_partkey AND p_type = 'ECONOMY'
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation sn ON s_nationkey = sn.n_nationkey
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation cn ON c_nationkey = cn.n_nationkey
        |  JOIN region ON cn.n_regionkey = r_regionkey AND r_name = 'EUROPE'
        |  GROUP BY 1)
        |SELECT o_year, market_rev, focal_rev,
        |  round(focal_rev / market_rev, 4) AS share
        |FROM agg ORDER BY o_year""".stripMargin,
    // q112: profit proxy per nation x year over the 'ol' name slice.
    "q112_product_profit" ->
      """SELECT n_name AS nation, year(o_orderdate) AS o_year,
        |  CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(round(sum(CAST(l_extendedprice*(1-l_discount)
        |    - 0.6*p_retailprice*l_quantity AS DECIMAL(18,6))), 2) AS DOUBLE)
        |    AS profit
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey AND p_name LIKE '%ol%'
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q105_volume_shipping" ->
      """SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
        |  year(l_shipdate) AS l_year, CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(round(sum(CAST(l_extendedprice*(1-l_discount)
        |    AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation sn ON s_nationkey = sn.n_nationkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation cn ON c_nationkey = cn.n_nationkey
        |WHERE sn.n_name IN ('NATION_9', 'NATION_11')
        |  AND cn.n_name IN ('NATION_9', 'NATION_11')
        |  AND sn.n_name <> cn.n_name
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    // q106: identical branch routing — first matching OR-arm wins.
    "q106_disjunctive_revenue" ->
      """WITH j AS (
        |  SELECT CASE
        |    WHEN p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
        |      AND l_quantity BETWEEN 1 AND 20 THEN 1
        |    WHEN p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
        |      AND l_quantity BETWEEN 10 AND 30 THEN 2
        |    WHEN p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50
        |      AND l_quantity BETWEEN 20 AND 40 THEN 3 END AS branch,
        |    CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,6)) AS rev
        |  FROM lineitem JOIN part ON l_partkey = p_partkey)
        |SELECT branch, CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(round(sum(rev), 2) AS DOUBLE) AS revenue
        |FROM j WHERE branch IS NOT NULL
        |GROUP BY branch ORDER BY branch""".stripMargin,
    // q107: both sums exact decimal, cast to double, ONE division, one
    // round — the same arithmetic in both engines bit for bit.
    "q107_promo_share" ->
      """SELECT strftime(l_shipdate, '%Y-%m') AS month,
        |  CAST(count(*) AS BIGINT) AS n_lines,
        |  round(100.0 * CAST(sum(CASE WHEN p_type = 'PROMO'
        |      THEN CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,6))
        |    END) AS DOUBLE) /
        |    CAST(sum(CAST(l_extendedprice*(1-l_discount)
        |      AS DECIMAL(18,6))) AS DOUBLE), 2) AS promo_share,
        |  CAST(round(sum(CAST(l_extendedprice*(1-l_discount)
        |    AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // q91: identical running-sum rule — bin from the exclusive cumsum
    // over (size desc, id), per-bin totals joined back.
    "q91_compaction_plan" ->
      """WITH f AS (
        |  SELECT strftime(o_orderdate, '%Y-%m') AS file_id,
        |    CAST(count(*) AS BIGINT) AS n_rows
        |  FROM orders GROUP BY 1),
        |p AS (
        |  SELECT file_id, n_rows,
        |    CAST(floor((sum(n_rows) OVER (ORDER BY n_rows DESC, file_id)
        |      - n_rows) / 5000) AS INT) AS bin
        |  FROM f),
        |b AS (
        |  SELECT bin, CAST(sum(n_rows) AS BIGINT) AS bin_rows,
        |    CAST(count(*) AS BIGINT) AS bin_files
        |  FROM p GROUP BY bin)
        |SELECT p.file_id, p.n_rows, p.bin, b.bin_rows, b.bin_files
        |FROM p JOIN b USING (bin) ORDER BY p.bin, p.file_id""".stripMargin,
    // a06: one-pass global bottom-k — merge-of-day-partials on the
    // Spark side must land on it exactly (KMV merge law); est from the
    // same integer h_k, so even the estimate hash-matches.
    "a06_bottomk_sample" ->
      """WITH u AS (
        |  SELECT DISTINCT event_type, user_id FROM events),
        |h AS (
        |  SELECT event_type, user_id,
        |    ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
        |  FROM u),
        |r AS (
        |  SELECT event_type, user_id, h,
        |    CAST(row_number() OVER (PARTITION BY event_type
        |      ORDER BY h, user_id) AS INT) AS rnk
        |  FROM h),
        |m AS (SELECT * FROM r WHERE rnk <= 16),
        |ex AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_exact
        |  FROM u GROUP BY event_type),
        |kk AS (SELECT event_type,
        |    max(CASE WHEN rnk = 16 THEN h END) AS h_k,
        |    count(*) AS n_in_sketch
        |  FROM m GROUP BY event_type)
        |SELECT m.event_type, m.rnk, m.user_id, ex.n_exact,
        |  CASE WHEN kk.n_in_sketch < 16 THEN ex.n_exact
        |    ELSE CAST(round(15.0 * 1152921504606846976 / kk.h_k) AS BIGINT)
        |  END AS est
        |FROM m JOIN ex USING (event_type) JOIN kk USING (event_type)
        |ORDER BY m.event_type, m.rnk""".stripMargin,
    // a05: exact legs replayed on the (user_id, day) grain; the HLL
    // band check is Spark-side-only (a01's TRUE-column law).
    "a05_set_overlap" ->
      """WITH ue AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d, event_type
        |  FROM events),
        |per AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM ue GROUP BY 1),
        |pairs AS (
        |  SELECT a.event_type AS type_a, b.event_type AS type_b,
        |    CAST(count(*) AS BIGINT) AS n_both
        |  FROM ue a JOIN ue b USING (user_id, d)
        |  WHERE a.event_type < b.event_type GROUP BY 1, 2)
        |SELECT type_a, type_b, pa.n AS n_a, pb.n AS n_b, n_both,
        |  pa.n + pb.n - n_both AS n_union,
        |  round(n_both / (pa.n + pb.n - n_both)::DOUBLE, 6) AS jaccard,
        |  TRUE AS hll_ok
        |FROM pairs
        |JOIN per pa ON pa.event_type = type_a
        |JOIN per pb ON pb.event_type = type_b
        |ORDER BY type_a, type_b""".stripMargin,
    // a04: the oracle builds the sketch in ONE pass (no day partials) —
    // addition is associative/commutative, so hash equality against the
    // Spark side's two-level build proves the merge law. Same md5
    // hex-pair buckets, same min-over-rows estimate.
    "a04_countmin" ->
      """WITH cells AS (
        |  SELECT r, substr(md5(user_id::VARCHAR || ':' || r::VARCHAR), 1, 2)
        |      AS bucket, count(*) AS c
        |  FROM events, range(4) t(r) GROUP BY 1, 2),
        |probes AS (
        |  SELECT user_id, count(*) AS exact_cnt FROM events
        |  GROUP BY user_id HAVING user_id <= 30),
        |pr AS (
        |  SELECT p.user_id, p.exact_cnt, r,
        |    substr(md5(p.user_id::VARCHAR || ':' || r::VARCHAR), 1, 2) AS bucket
        |  FROM probes p, range(4) t(r))
        |SELECT pr.user_id, pr.exact_cnt, CAST(min(c.c) AS BIGINT) AS cms_est,
        |  (CAST(min(c.c) AS BIGINT) >= pr.exact_cnt) AS no_underestimate
        |FROM pr JOIN cells c ON pr.r = c.r AND pr.bucket = c.bucket
        |GROUP BY pr.user_id, pr.exact_cnt ORDER BY pr.user_id""".stripMargin,
    "a03_hist_quantile" ->
      """WITH b AS (
        |  SELECT min(value) AS vmin, max(value) AS vmax,
        |         (max(value) - min(value)) / 4096 AS w FROM events),
        |h AS (
        |  SELECT event_type, CAST(ts AS DATE) AS d,
        |    least(CAST(floor((value - vmin) / w) AS BIGINT), 4095) AS bucket,
        |    count(*) AS cnt
        |  FROM events, b GROUP BY 1, 2, 3),
        |m AS (
        |  SELECT event_type, bucket, sum(cnt) AS cnt, count(*) AS n_parts
        |  FROM h GROUP BY 1, 2),
        |c AS (
        |  SELECT event_type, bucket, cnt,
        |    sum(cnt) OVER (PARTITION BY event_type ORDER BY bucket
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(cnt) OVER (PARTITION BY event_type) AS n,
        |    sum(n_parts) OVER (PARTITION BY event_type) AS n_partials
        |  FROM m)
        |SELECT event_type, CAST(max(n) AS BIGINT) AS n,
        |  CAST(max(n_partials) AS BIGINT) AS n_partials,
        |  round(max(vmin) +
        |    (min(CASE WHEN cum >= ceil(0.5 * n) THEN bucket END) + 1)
        |    * max(w), 6) AS hist_p50,
        |  round(max(vmin) +
        |    (min(CASE WHEN cum >= ceil(0.99 * n) THEN bucket END) + 1)
        |    * max(w), 6) AS hist_p99
        |FROM c, b GROUP BY event_type ORDER BY event_type""".stripMargin,
    // a01 emits exact aggregates plus sketch-contract booleans; the
    // oracle recomputes the exact columns and expects every contract
    // TRUE, turning an un-oracle-able sketch into a hash-gated one.
    "a01_approx_profile" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        | CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
        | TRUE AS hll_ok, TRUE AS p50_ok, TRUE AS p99_ok
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "a02_sketch_merge" ->
      """SELECT event_type,
        | CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days,
        | CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
        | TRUE AS merge_ok
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // q74: the oracle is the single-pass rollup over base ∪ delta —
    // hash equality proves the partial-aggregate merge algebra exact.
    "q74_incremental_agg" ->
      """SELECT o_orderstatus AS status,
        | CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
        | CAST(count(*) AS BIGINT) AS cnt,
        | CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE)
        |   AS total,
        | CAST((2 * CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) * 1000000
        |   AS HUGEINT) + 100 * count(*)) // (200 * count(*)) AS DOUBLE)
        |   / 10000 AS avg_price,
        | min(CAST(o_orderdate AS DATE)) AS first_day,
        | max(CAST(o_orderdate AS DATE)) AS last_day
        |FROM orders GROUP BY 1, 2 ORDER BY status, month""".stripMargin,
    "q75_zorder" ->
      """WITH d AS (
        |  SELECT CAST(o_custkey % 256 AS INT) AS a,
        |    CAST(datediff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE))
        |      % 256 AS INT) AS b
        |  FROM orders),
        |z AS (
        |  SELECT a, b, CAST(list_sum(list_transform(range(0, 8), i ->
        |    (((a >> i) & 1) << (2 * i)) + (((b >> i) & 1) << (2 * i + 1))))
        |    AS INT) AS z
        |  FROM d)
        |SELECT CAST(z // 1024 AS INT) AS bucket,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  min(a) AS min_a, max(a) AS max_a,
        |  min(b) AS min_b, max(b) AS max_b
        |FROM z GROUP BY 1 ORDER BY bucket""".stripMargin,
    "q73_xml_source" ->
      """WITH src AS (
        |  SELECT n_regionkey, n_name,
        |    n_name || chr(10) || 'note: rk=' || n_regionkey AS note
        |  FROM nation)
        |SELECT n_regionkey, CAST(count(*) AS BIGINT) AS n_nations,
        |  CAST(sum(length(note)) AS BIGINT) AS sum_note_len,
        |  min(n_name) AS first_name, max(n_name) AS last_name
        |FROM src GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin,
    "q72_variant" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(CASE WHEN CAST(json_extract_string(props, '$.k') AS INT) > 50
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
        |  CAST(min(CAST(json_extract_string(props, '$.k') AS INT)) AS INT) AS min_k,
        |  CAST(max(CAST(json_extract_string(props, '$.k') AS INT)) AS INT) AS max_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q71_recursive_cte" ->
      """WITH RECURSIVE gnodes AS (
        |  SELECT 'Customer:' || c_custkey AS uid, 'Customer' AS label FROM customer
        |  UNION ALL SELECT 'Supplier:' || s_suppkey, 'Supplier' FROM supplier
        |  UNION ALL SELECT 'Nation:' || n_nationkey, 'Nation' FROM nation
        |  UNION ALL SELECT 'Region:' || r_regionkey, 'Region' FROM region),
        |gedges AS (
        |  SELECT 'Customer:' || c_custkey AS src, 'Nation:' || c_nationkey AS dst FROM customer
        |  UNION ALL SELECT 'Supplier:' || s_suppkey, 'Nation:' || s_nationkey FROM supplier
        |  UNION ALL SELECT 'Nation:' || n_nationkey, 'Region:' || n_regionkey FROM nation),
        |walk(uid, label, cur, hops) AS (
        |  SELECT uid, label, uid, 0 FROM gnodes
        |  UNION ALL
        |  SELECT w.uid, w.label, e.dst, w.hops + 1
        |  FROM walk w JOIN gedges e ON w.cur = e.src)
        |SELECT label, cur AS root, hops, CAST(count(*) AS BIGINT) AS n
        |FROM walk WHERE cur LIKE 'Region:%'
        |GROUP BY label, cur, hops ORDER BY label, root, hops""".stripMargin,
    "q70_filter_agg" ->
      """SELECT o_orderstatus,
        |  CAST(count(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS BIGINT)
        |    AS n_urgent,
        |  CAST(count(*) FILTER (WHERE o_totalprice > 150000) AS BIGINT)
        |    AS n_big,
        |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6)))
        |    FILTER (WHERE o_orderpriority = '1-URGENT'), 2) AS DOUBLE)
        |    AS urgent_price,
        |  max(o_orderdate) FILTER (WHERE o_totalprice <= 150000)
        |    AS last_small_date
        |FROM orders GROUP BY ALL ORDER BY o_orderstatus""".stripMargin,
    "q69_merge_schema" ->
      """SELECT CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority
        |    ELSE '<legacy>' END AS prio,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE)
        |    AS sum_price
        |FROM orders GROUP BY 1 ORDER BY prio""".stripMargin,
    "q68_dynamic_overwrite" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(round(sum(CAST(CASE WHEN o_orderpriority = '1-URGENT'
        |      THEN o_totalprice + 100.0 ELSE o_totalprice END
        |    AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q67_listagg" ->
      """SELECT grp, members FROM (
        |  SELECT r.r_name AS grp,
        |    string_agg(n.n_name, ',' ORDER BY n.n_name) AS members
        |  FROM region r JOIN nation n ON n.n_regionkey = r.r_regionkey
        |  GROUP BY r.r_name
        |  UNION ALL
        |  SELECT o_orderpriority,
        |    string_agg(DISTINCT o_orderstatus, '|' ORDER BY o_orderstatus)
        |  FROM orders GROUP BY o_orderpriority) t
        |ORDER BY grp""".stripMargin,
    "q66_lateral_join" ->
      """SELECT r.r_name, t.n_name, t.n_customers
        |FROM region r
        |JOIN LATERAL (
        |  SELECT n.n_name, CAST(count(c.c_custkey) AS BIGINT) AS n_customers
        |  FROM nation n
        |  JOIN customer c ON c.c_nationkey = n.n_nationkey
        |  WHERE n.n_regionkey = r.r_regionkey
        |  GROUP BY n.n_name
        |  ORDER BY n_customers DESC, n.n_name
        |  LIMIT 2
        |) t ON true
        |ORDER BY r.r_name, t.n_customers DESC, t.n_name""".stripMargin,
    "q65_scalar_subquery" ->
      """SELECT o.o_custkey,
        |  CAST(count(*) AS BIGINT) AS n_peak_orders,
        |  CAST(round(max(o.o_totalprice) /
        |    (SELECT max(o_totalprice) FROM orders), 6) AS DOUBLE)
        |    AS peak_vs_global
        |FROM orders o
        |WHERE o.o_totalprice = (SELECT max(o2.o_totalprice)
        |                        FROM orders o2
        |                        WHERE o2.o_custkey = o.o_custkey)
        |GROUP BY o.o_custkey
        |ORDER BY o.o_custkey""".stripMargin,
    "q64_partition_prune" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE)
        |    AS sum_price
        |FROM orders WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q63_apply_changes" ->
      """WITH base AS (SELECT c_custkey, c_name, c_acctbal FROM customer),
        |chg AS (
        |  SELECT c_custkey, CAST(NULL AS VARCHAR) AS c_name,
        |    CAST(NULL AS DOUBLE) AS c_acctbal, 'D' AS op
        |  FROM base WHERE c_custkey % 50 = 0
        |  UNION ALL
        |  SELECT c_custkey, c_name, c_acctbal + 10, 'U'
        |  FROM base WHERE c_custkey % 11 = 0
        |  UNION ALL
        |  SELECT c_custkey + 2000000, c_name, c_acctbal, 'U'
        |  FROM base WHERE c_custkey % 83 = 0),
        |latest AS (
        |  SELECT * FROM (
        |    SELECT *, row_number() OVER (PARTITION BY c_custkey
        |      ORDER BY CASE WHEN op = 'D' THEN 0 ELSE 1 END, op) AS rn
        |    FROM chg) WHERE rn = 1)
        |SELECT coalesce(b.c_custkey, c.c_custkey) AS c_custkey,
        |  coalesce(c.c_name, b.c_name) AS c_name,
        |  coalesce(c.c_acctbal, b.c_acctbal) AS c_acctbal
        |FROM base b FULL OUTER JOIN latest c ON b.c_custkey = c.c_custkey
        |WHERE coalesce(c.op, '') <> 'D'
        |ORDER BY c_custkey""".stripMargin,
    "q61_table_diff" ->
      """WITH base AS (SELECT c_custkey, c_acctbal FROM customer),
        |nxt AS (
        |  SELECT c_custkey,
        |    CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 1 ELSE c_acctbal END
        |      AS c_acctbal
        |  FROM base WHERE c_custkey % 97 <> 0
        |  UNION ALL
        |  SELECT c_custkey + 1000000, c_acctbal FROM base WHERE c_custkey % 89 = 0),
        |j AS (
        |  SELECT CASE WHEN b.c_custkey IS NULL THEN 'added'
        |              WHEN n.c_custkey IS NULL THEN 'removed'
        |              WHEN b.c_acctbal IS DISTINCT FROM n.c_acctbal THEN 'changed'
        |              ELSE 'unchanged' END AS diff_class
        |  FROM base b FULL OUTER JOIN nxt n ON b.c_custkey = n.c_custkey)
        |SELECT diff_class, CAST(count(*) AS BIGINT) AS cnt
        |FROM j GROUP BY diff_class ORDER BY diff_class""".stripMargin,
    "q62_table_checksum" ->
      """WITH h AS (
        |  SELECT 'nation' AS tbl,
        |    concat_ws('|', n_nationkey, n_name, n_regionkey) AS r FROM nation
        |  UNION ALL SELECT 'region', concat_ws('|', r_regionkey, r_name) FROM region
        |  UNION ALL SELECT 'supplier',
        |    concat_ws('|', s_suppkey, s_name, s_nationkey) FROM supplier),
        |hashed AS (
        |  SELECT tbl, CAST(list_sum(list_transform(range(1, 16),
        |    i -> (strpos('0123456789abcdef', substr(md5(r), i, 1)) - 1)::HUGEINT
        |         * (1::HUGEINT << (4 * (15 - i))))) AS BIGINT) AS hv
        |  FROM h)
        |SELECT tbl, CAST(count(*) AS BIGINT) AS n_rows, bit_xor(hv) AS xor_hash,
        |  CAST(sum(hv::HUGEINT) % 1152921504606846976 AS BIGINT) AS sum_hash
        |FROM hashed GROUP BY tbl ORDER BY tbl""".stripMargin,
    "q60_consume_extract" ->
      """WITH pats(prio, nm) AS (VALUES
        |  (1, 'Verpackungstonne (Gelbe Tonne)'), (2, 'Fachhandel / Hersteller'),
        |  (3, 'Schadstoffsammlung'), (4, 'Wertstoffhof Nord'),
        |  (5, 'Wertstoffhof West'), (6, 'Kofferraumservice'),
        |  (7, 'Verpackungstonne'), (8, 'Biotonne')),
        |r AS (
        |  SELECT n_nationkey,
        |    (n_nationkey % 8) + 1 AS ai,
        |    ((n_nationkey * 5 + 6) % 8) + 1 AS bi
        |  FROM nation),
        |chosen AS (
        |  SELECT r.n_nationkey, p.prio, p.nm
        |  FROM r JOIN pats p ON p.prio = r.ai OR p.prio = r.bi)
        |SELECT n_nationkey, nm AS target,
        |  CAST(row_number() OVER (PARTITION BY n_nationkey ORDER BY prio) AS INT) AS pos
        |FROM chosen ORDER BY n_nationkey, pos""".stripMargin,
    "q59_stats_moments" ->
      """WITH t AS (
        |  SELECT l_returnflag,
        |    CAST(round(l_extendedprice * 100) AS HUGEINT) AS x,
        |    CAST(round(l_quantity) AS HUGEINT) AS y
        |  FROM lineitem),
        |a AS (
        |  SELECT l_returnflag, count(*) AS n,
        |    sum(x) AS sx, sum(y) AS sy,
        |    sum(x*x) AS sxx, sum(y*y) AS syy, sum(x*y) AS sxy
        |  FROM t GROUP BY l_returnflag)
        |SELECT l_returnflag, CAST(n AS BIGINT) AS cnt,
        |  round(sx::DOUBLE / n / 100, 2) AS avg_price,
        |  round(sqrt((n*sxx - sx*sx)::DOUBLE / (n*(n-1))::DOUBLE) / 100, 2)
        |    AS sd_price,
        |  round((n*sxy - sx*sy)::DOUBLE
        |    / sqrt((n*sxx - sx*sx)::DOUBLE * (n*syy - sy*sy)::DOUBLE), 6)
        |    AS corr_qty_price,
        |  round((n*sxy - sx*sy)::DOUBLE / (n*(n-1))::DOUBLE / 100, 2)
        |    AS covar_qty_price,
        |  round((n*sxy - sx*sy)::DOUBLE / (n*syy - sy*sy)::DOUBLE / 100, 4)
        |    AS price_per_qty
        |FROM a ORDER BY l_returnflag""".stripMargin,
    "q58_dedup_merge" ->
      """WITH base AS (
        |  SELECT c_custkey, c_name, c_mktsegment,
        |    CAST(c_acctbal AS DECIMAL(18,2)) AS c_acctbal, 0 AS rnk
        |  FROM customer),
        |recrawl AS (
        |  SELECT c_custkey, '' AS c_name, '' AS c_mktsegment,
        |    c_acctbal + 100 AS c_acctbal, 1 AS rnk
        |  FROM base WHERE c_custkey % 10 = 0),
        |u AS (SELECT * FROM base UNION ALL SELECT * FROM recrawl)
        |SELECT c_custkey,
        |  coalesce(max(CASE WHEN rnk = 0 AND c_name <> '' THEN c_name END),
        |           max(CASE WHEN rnk = 1 AND c_name <> '' THEN c_name END)) AS c_name,
        |  coalesce(max(CASE WHEN rnk = 0 AND c_mktsegment <> '' THEN c_mktsegment END),
        |           max(CASE WHEN rnk = 1 AND c_mktsegment <> '' THEN c_mktsegment END)) AS c_mktsegment,
        |  CAST(coalesce(max(CASE WHEN rnk = 0 THEN c_acctbal END),
        |           max(CASE WHEN rnk = 1 THEN c_acctbal END)) AS DOUBLE) AS c_acctbal,
        |  CAST(count(*) AS BIGINT) AS n_sources
        |FROM u GROUP BY c_custkey ORDER BY c_custkey""".stripMargin,
    "q57_regional_revenue" ->
      """SELECT r_name, n_name,
        | CAST(round(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,6))), 2)
        |   AS DOUBLE) AS revenue,
        | CAST(count(*) AS BIGINT) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin,
    "q54_csv_source" ->
      """WITH src AS (
        |  SELECT n_regionkey, n_name,
        |    n_name || chr(10) || 'note: rk=' || n_regionkey AS note
        |  FROM nation)
        |SELECT n_regionkey, CAST(count(*) AS BIGINT) AS n_nations,
        |  CAST(sum(length(note)) AS BIGINT) AS sum_note_len,
        |  min(n_name) AS first_name, max(n_name) AS last_name
        |FROM src GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin,
    "q55_json_source" ->
      """SELECT n_regionkey, CAST(count(*) AS BIGINT) AS n_nations,
        |  CAST(sum(n_nationkey) AS BIGINT) AS sum_key,
        |  string_agg(n_name, '|' ORDER BY n_name) AS names
        |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin,
    "q82_xlsx_source" ->
      """SELECT n_regionkey, CAST(count(*) AS BIGINT) AS n_nations,
        |  min(n_name) AS first_name, max(n_name) AS last_name,
        |  CAST(sum(length(n_name)) AS BIGINT) AS sum_name_len
        |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin,
    "q86_avro_source" ->
      """SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
        |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS total,
        |  min(o_orderdate) AS first_ts, max(o_orderdate) AS last_ts
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "q56_orc_source" ->
      """SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS total
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "q53_null_anti" ->
      """SELECT 'not_in_clean' AS variant, CAST(count(*) AS BIGINT) AS n_rows
        |FROM customer
        |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders
        |                        WHERE o_orderpriority = '1-URGENT')
        |UNION ALL
        |SELECT 'not_in_nullable' AS variant, CAST(count(*) AS BIGINT) AS n_rows
        |FROM customer
        |WHERE c_custkey NOT IN (SELECT nullif(o_custkey, 7) FROM orders
        |                        WHERE o_orderpriority = '1-URGENT')
        |UNION ALL
        |SELECT 'not_exists' AS variant, CAST(count(*) AS BIGINT) AS n_rows
        |FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE nullif(o.o_custkey, 7) = c.c_custkey
        |                    AND o.o_orderpriority = '1-URGENT')
        |ORDER BY variant""".stripMargin,
    "q52_session_window" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS us, value FROM events),
        |marked AS (
        |  SELECT user_id, us, value,
        |    CASE WHEN lag(us) OVER w IS NULL
        |           OR us - lag(us) OVER w >= 1800000000
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us)),
        |sess AS (
        |  SELECT *, CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY us
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sn
        |  FROM marked)
        |SELECT user_id, min(us) AS sess_start_us,
        |  max(us) + 1800000000 AS sess_end_us,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_value
        |FROM sess GROUP BY user_id, sn
        |ORDER BY user_id, sess_start_us""".stripMargin,
    "q49_scd2" ->
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS us, event_id
        |  FROM events WHERE user_id <= 300),
        |marked AS (
        |  SELECT *, lag(event_type) OVER w AS prev_type
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |changes AS (
        |  SELECT user_id, event_type, us, event_id FROM marked
        |  WHERE prev_type IS NULL OR prev_type <> event_type)
        |SELECT user_id, event_type, us AS valid_from_us,
        |  coalesce(lead(us) OVER w - 1, 253402300799000000) AS valid_to_us,
        |  CAST(CASE WHEN lead(us) OVER w IS NULL THEN 1 ELSE 0 END AS INT) AS is_current
        |FROM changes WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
        |ORDER BY user_id, valid_from_us""".stripMargin,
    "q50_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority,
        |  CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS total,
        |  CAST(grouping(o_orderstatus) AS INT) AS g_status,
        |  CAST(grouping(o_orderpriority) AS INT) AS g_prio
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY g_status, g_prio, o_orderstatus, o_orderpriority""".stripMargin,
    "q51_concurrency" ->
      """WITH deltas AS (
        |  SELECT event_type, epoch_us(ts) AS t, 1 AS delta FROM events
        |  UNION ALL
        |  SELECT event_type, epoch_us(ts) + 300000000, -1 FROM events),
        |running AS (
        |  SELECT event_type,
        |    sum(delta) OVER (PARTITION BY event_type ORDER BY t, delta) AS conc
        |  FROM deltas)
        |SELECT event_type, CAST(max(conc) AS BIGINT) AS max_concurrent,
        |  CAST(count(*) // 2 AS BIGINT) AS n_intervals
        |FROM running GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q48_dist_windows" ->
      """SELECT o_orderpriority, o_orderkey,
        | round(percent_rank() OVER w, 6) AS pct_rank,
        | round(cume_dist() OVER w, 6) AS cdist,
        | first_value(o_orderkey) OVER w AS cheapest_key
        |FROM orders WHERE o_orderkey <= 2000
        |WINDOW w AS (PARTITION BY o_orderpriority
        |             ORDER BY o_totalprice, o_orderkey)
        |ORDER BY o_orderpriority, o_orderkey""".stripMargin,
    "q47_regexp_extract" ->
      """SELECT doc_id,
        | CAST(len(regexp_extract_all(text, '\b[a-z]*a[a-z]*\b')) AS INT) AS n_matches,
        | coalesce(regexp_extract_all(text, '\b[a-z]*a[a-z]*\b')[1], '') AS first_match
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q46_higher_order" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
        |SELECT doc_id,
        | CAST(len(toks) AS INT) AS n_tokens,
        | CAST(len(list_filter(toks, t -> length(t) > 4)) AS INT) AS n_long,
        | CAST(list_sum(list_transform(toks, t -> length(t))) AS BIGINT) AS total_chars,
        | list_contains(toks, 'spark') AS has_spark
        |FROM t ORDER BY doc_id""".stripMargin,
    "q45_multi_distinct" ->
      """SELECT o_orderpriority,
        | CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_custs,
        | CAST(count(DISTINCT CAST(o_orderdate AS DATE)) AS BIGINT) AS n_days,
        | CAST(count(*) AS BIGINT) AS n_orders
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q44_exists_subquery" ->
      """SELECT c_custkey, c_name
        |FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey
        |                AND o.o_orderpriority = '1-URGENT')
        |  AND NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey
        |                    AND o.o_orderstatus = 'F')
        |ORDER BY c_custkey""".stripMargin,
    "q43_schema_union" ->
      """SELECT * FROM (
        |  SELECT c_custkey AS party_id, c_name AS name, c_acctbal AS balance,
        |         c_mktsegment AS segment, 'customer' AS kind
        |  FROM customer
        |  UNION ALL BY NAME
        |  SELECT s_suppkey AS party_id, s_name AS name,
        |         s_nationkey AS nation, 'supplier' AS kind
        |  FROM supplier)
        |WHERE party_id <= 50
        |ORDER BY kind, party_id""".stripMargin,
    "q42_fuzzy_match" ->
      """SELECT a.c_nationkey AS nationkey, CAST(count(*) AS BIGINT) AS n_pairs
        |FROM customer a JOIN customer b
        |  ON a.c_nationkey = b.c_nationkey
        | AND substr(a.c_name, 10, 7) = substr(b.c_name, 10, 7)
        | AND a.c_name < b.c_name
        |WHERE levenshtein(a.c_name, b.c_name) <= 2
        |GROUP BY a.c_nationkey ORDER BY nationkey""".stripMargin,
    "q41_gap_fill" ->
      """WITH daily AS (
        |  SELECT user_id, CAST(ts AS DATE) AS d,
        |    CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS day_total
        |  FROM events WHERE user_id <= 20
        |  GROUP BY user_id, CAST(ts AS DATE)),
        |spine AS (
        |  SELECT user_id, CAST(unnest(generate_series(min(d), max(d),
        |    INTERVAL 1 DAY)) AS DATE) AS d
        |  FROM daily GROUP BY user_id)
        |SELECT s.user_id, s.d,
        |  last_value(dl.day_total IGNORE NULLS) OVER (
        |    PARTITION BY s.user_id ORDER BY s.d) AS filled_total,
        |  dl.day_total IS NULL AS is_gap
        |FROM spine s LEFT JOIN daily dl ON s.user_id = dl.user_id AND s.d = dl.d
        |ORDER BY s.user_id, s.d""".stripMargin,
    "q40_trailing_window" ->
      """SELECT o_custkey, o_orderkey,
        | CAST(datediff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS INT) AS od_day,
        | CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))) OVER (
        |   PARTITION BY o_custkey
        |   ORDER BY datediff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE))
        |   RANGE BETWEEN 6 PRECEDING AND CURRENT ROW), 2) AS DOUBLE) AS trail7_total
        |FROM orders WHERE o_custkey <= 100
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q38_bloom_prune" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_lines,
        | CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_price
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_totalprice > 450000
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q39_skew_join" ->
      """SELECT s_nationkey, CAST(count(*) AS BIGINT) AS n_lines,
        | CAST(round(sum(CAST(l_quantity AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_qty
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin,
    "q37_date_funcs" ->
      """SELECT od,
        | CAST(year(od) AS INT) AS y,
        | CAST(quarter(od) AS INT) AS q,
        | CAST(month(od) AS INT) AS m,
        | CAST(day(od) AS INT) AS dom,
        | CAST(dayofweek(od) + 1 AS INT) AS dow_sun1,
        | CAST(dayofyear(od) AS INT) AS doy,
        | CAST(week(od) AS INT) AS iso_week,
        | last_day(od) AS month_end,
        | od + 30 AS plus30,
        | strftime(od, '%Y-%m') AS ym
        |FROM (SELECT DISTINCT CAST(o_orderdate AS DATE) AS od
        |      FROM orders ORDER BY od LIMIT 100)""".stripMargin,
    "q36_null_semantics" ->
      """SELECT nullif(o_orderstatus, 'O') AS grp,
        | CAST(count(*) AS BIGINT) AS cnt,
        | CAST(count(nullif(o_orderstatus, 'O')) AS BIGINT) AS cnt_nonnull,
        | CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS n_prio
        |FROM orders GROUP BY grp
        |ORDER BY grp NULLS LAST""".stripMargin,
    "q35_intersect" ->
      """SELECT o_custkey FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |INTERSECT
        |SELECT o_custkey FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |ORDER BY o_custkey""".stripMargin,
    "q34_sliding_window" ->
      """WITH ev AS (
        |  SELECT event_type, value,
        |    make_timestamp(CAST(floor(epoch_us(ts) / 300000000)
        |                        * 300000000 AS BIGINT)) AS w0
        |  FROM events),
        |ex AS (
        |  SELECT w0 AS w_start, event_type, value FROM ev
        |  UNION ALL
        |  SELECT w0 - INTERVAL 5 MINUTE, event_type, value FROM ev)
        |SELECT w_start, event_type, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_value
        |FROM ex GROUP BY w_start, event_type
        |ORDER BY w_start, event_type""".stripMargin,
    "q33_cohort_retention" ->
      """WITH ev AS (
        |  SELECT user_id, CAST(ts AS DATE) AS d, event_type FROM events),
        |cohort AS (
        |  SELECT user_id, min(d) AS cohort_day FROM ev
        |  WHERE event_type = 'signup' GROUP BY user_id),
        |act AS (
        |  SELECT DISTINCT e.user_id, c.cohort_day, e.d
        |  FROM ev e JOIN cohort c ON e.user_id = c.user_id
        |  WHERE e.d >= c.cohort_day)
        |SELECT cohort_day,
        |  CAST(date_diff('day', cohort_day, d) AS INT) AS days_since,
        |  CAST(count(*) AS BIGINT) AS n_users
        |FROM act
        |WHERE date_diff('day', cohort_day, d) BETWEEN 0 AND 7
        |GROUP BY cohort_day, days_since
        |ORDER BY cohort_day, days_since""".stripMargin,
    "q32_funnel" ->
      """WITH v AS (
        |  SELECT user_id, min(epoch_us(ts)) AS v_us FROM events
        |  WHERE event_type = 'view' GROUP BY user_id),
        |c AS (
        |  SELECT e.user_id, min(epoch_us(e.ts)) AS c_us
        |  FROM events e JOIN v ON e.user_id = v.user_id
        |  WHERE e.event_type = 'click' AND epoch_us(e.ts) >= v.v_us
        |  GROUP BY e.user_id),
        |p AS (
        |  SELECT e.user_id, min(epoch_us(e.ts)) AS p_us
        |  FROM events e JOIN c ON e.user_id = c.user_id
        |  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= c.c_us
        |  GROUP BY e.user_id)
        |SELECT stage, CAST(n_users AS BIGINT) AS n_users FROM (
        |  SELECT 'stage1_view' AS stage, count(*) AS n_users FROM v
        |  UNION ALL SELECT 'stage2_click', count(*) FROM c
        |  UNION ALL SELECT 'stage3_purchase', count(*) FROM p) t
        |ORDER BY stage""".stripMargin,
    "q31_sql_surface" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_above
        |FROM orders o
        |WHERE o_totalprice > (SELECT CAST(sum(CAST(i.o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
        |                             / count(i.o_totalprice)
        |                      FROM orders i
        |                      WHERE i.o_orderpriority = o.o_orderpriority)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q29_unpivot" ->
      """WITH agg AS (
        |  SELECT l_returnflag,
        |         CAST(round(sum(CAST(l_quantity AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_qty,
        |         CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_price
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, 'sum_price' AS metric, sum_price AS val FROM agg
        |UNION ALL
        |SELECT l_returnflag, 'sum_qty', sum_qty FROM agg
        |ORDER BY l_returnflag, metric""".stripMargin,
    "q30_cube" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(count(*) AS BIGINT) AS cnt,
        | round(CAST(sum(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE)
        |       / count(l_discount), 4) AS avg_disc,
        | CAST(grouping(l_returnflag) AS INT) AS g_rf,
        | CAST(grouping(l_linestatus) AS INT) AS g_ls
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY g_rf, g_ls,
        | l_returnflag NULLS LAST, l_linestatus NULLS LAST""".stripMargin,
    "q28_percentiles" ->
      """SELECT o_orderpriority,
        | round(quantile_cont(o_totalprice, 0.25), 2) AS p25,
        | round(quantile_cont(o_totalprice, 0.5), 2) AS p50,
        | round(quantile_cont(o_totalprice, 0.75), 2) AS p75,
        | round(quantile_cont(o_totalprice, 0.95), 2) AS p95
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q27_window_rank" ->
      """SELECT c_mktsegment, c_custkey, c_acctbal,
        | CAST(rank() OVER w AS INT) AS rnk,
        | CAST(dense_rank() OVER w AS INT) AS drnk,
        | CAST(ntile(4) OVER w AS INT) AS quartile,
        | lag(c_custkey, 1) OVER w AS prev_cust,
        | lead(c_custkey, 1) OVER w AS next_cust
        |FROM customer
        |WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey)
        |QUALIFY rnk <= 20
        |ORDER BY c_mktsegment, rnk""".stripMargin,
    "q26_range_join" ->
      """SELECT e.event_id AS err_id, CAST(count(*) AS BIGINT) AS n_clicks,
        | CAST(min(epoch_us(c.ts) - epoch_us(e.ts)) AS BIGINT) AS min_delay_us
        |FROM (SELECT * FROM events WHERE event_type = 'error') e
        |JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON e.user_id = c.user_id
        | AND epoch_us(c.ts) >= epoch_us(e.ts)
        | AND epoch_us(c.ts) - epoch_us(e.ts) <= 600000000
        |GROUP BY e.event_id ORDER BY err_id""".stripMargin,
    "q24_asof" ->
      """SELECT c.event_id, c.user_id, e.value AS err_value,
        | epoch_us(e.ts) AS err_us
        |FROM (SELECT * FROM events WHERE event_type = 'click') c
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'error') e
        |  ON c.user_id = e.user_id AND e.ts <= c.ts
        |ORDER BY c.event_id""".stripMargin,
    "q25_pivot" ->
      """SELECT o_orderstatus,
        | CAST(count(*) FILTER (o_orderpriority = '1-URGENT') AS BIGINT) AS p1_urgent,
        | CAST(count(*) FILTER (o_orderpriority = '2-HIGH') AS BIGINT) AS p2_high,
        | CAST(count(*) FILTER (o_orderpriority = '3-MEDIUM') AS BIGINT) AS p3_medium,
        | CAST(count(*) FILTER (o_orderpriority = '4-NOT SPECIFIED') AS BIGINT) AS p4_notspec,
        | CAST(count(*) FILTER (o_orderpriority = '5-LOW') AS BIGINT) AS p5_low
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "q23_rollup" ->
      """SELECT o_orderstatus, o_orderpriority,
        | CAST(count(*) AS BIGINT) AS cnt,
        | CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS total,
        | CAST(grouping(o_orderstatus) AS INT) AS g_status,
        | CAST(grouping(o_orderpriority) AS INT) AS g_prio
        |FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
        |ORDER BY g_status, g_prio,
        | o_orderstatus NULLS LAST, o_orderpriority NULLS LAST""".stripMargin,
    "q21_sessionize" ->
      """WITH marked AS (
        |  SELECT user_id, event_id, value, epoch_us(ts) AS us,
        |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess AS (
        |  SELECT *, CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_no
        |  FROM marked)
        |SELECT user_id, session_no, min(us) AS sess_start_us,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST((max(us) - min(us)) // 1000000 AS BIGINT) AS duration_sec,
        |  CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_value
        |FROM sess GROUP BY user_id, session_no
        |ORDER BY user_id, session_no""".stripMargin,
    "q22_json_props" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS cnt,
        | round(avg(CAST(json_extract_string(props, '$.k') AS INT)), 4) AS avg_k,
        | CAST(max(CAST(json_extract_string(props, '$.k') AS INT)) AS INT) AS max_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(round(sum(CAST(l_quantity AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_qty,
        | CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_base_price,
        | CAST(round(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_disc_price,
        | round(CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE)
        |       / count(l_quantity), 4) AS avg_qty,
        | round(CAST(sum(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE)
        |       / count(l_discount), 4) AS avg_disc,
        | CAST(count(*) AS BIGINT) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-12-01'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q02_filter_project" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem WHERE l_quantity >= 48 AND l_returnflag = 'R'
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q03_topk_revenue" ->
      """SELECT l_orderkey,
        | CAST(round(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue,
        | CAST(o_orderdate AS DATE) AS o_odate, o_orderpriority
        |FROM customer JOIN orders ON c_custkey = o_custkey
        | JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        | AND o_orderdate < TIMESTAMP '1998-01-01'
        | AND l_shipdate > TIMESTAMP '1996-01-01'
        |GROUP BY l_orderkey, CAST(o_orderdate AS DATE), o_orderpriority
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,
    "q04_join_broadcast" ->
      """SELECT n_name, CAST(count(*) AS BIGINT) AS num_customers,
        | CAST(round(sum(CAST(c_acctbal AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_bal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name IN ('EUROPE','ASIA')
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "q05_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |                  AND o_orderdate >= TIMESTAMP '1998-01-01')
        |ORDER BY c_custkey""".stripMargin,
    "q06_semi_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_totalprice > 100000)
        |ORDER BY c_custkey""".stripMargin,
    "q07_window_latest" ->
      """SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS o_odate FROM (
        |  SELECT o_custkey, o_orderkey, o_orderdate,
        |    row_number() OVER (PARTITION BY o_custkey
        |                       ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        |  FROM orders) t WHERE rn = 1 ORDER BY o_custkey""".stripMargin,
    "q08_window_running" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber,
        | CAST(round(sum(CAST(l_quantity AS DECIMAL(18,6))) OVER (PARTITION BY l_suppkey
        |   ORDER BY l_shipdate, l_orderkey, l_linenumber
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS DOUBLE) AS running_qty
        |FROM lineitem WHERE l_suppkey <= 10
        |ORDER BY l_suppkey, l_orderkey, l_linenumber""".stripMargin,
    "q09_upsert_merge" ->
      """WITH old AS (
        |  SELECT o_custkey AS custkey, max(o_totalprice) AS best_price,
        |         CAST(count(*) AS BIGINT) AS n_orders
        |  FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01' GROUP BY o_custkey),
        |fresh AS (
        |  SELECT o_custkey AS custkey, max(o_totalprice) AS best_price,
        |         CAST(count(*) AS BIGINT) AS n_orders
        |  FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01' GROUP BY o_custkey)
        |SELECT coalesce(fresh.custkey, old.custkey) AS custkey,
        |       coalesce(fresh.best_price, old.best_price) AS best_price,
        |       coalesce(fresh.n_orders, old.n_orders) AS n_orders
        |FROM old FULL OUTER JOIN fresh ON old.custkey = fresh.custkey
        |ORDER BY custkey""".stripMargin,
    "q10_set_except" ->
      """SELECT o_custkey FROM (
        |  SELECT DISTINCT o_custkey FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '2001-01-01'
        |  EXCEPT
        |  SELECT DISTINCT o_custkey FROM orders
        |  WHERE o_orderdate < TIMESTAMP '1996-01-01') t
        |ORDER BY o_custkey""".stripMargin,
    "q11_union_distinct" ->
      """SELECT nationkey FROM (
        |  SELECT c_nationkey AS nationkey FROM customer
        |  UNION
        |  SELECT s_nationkey AS nationkey FROM supplier) t
        |ORDER BY nationkey""".stripMargin,
    "q12_distinct" ->
      """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q13_uid_sha2" ->
      """SELECT c_custkey, substr(sha256(c_name),1,16) AS uid
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "q14_string_funcs" ->
      """SELECT p_partkey, lower(trim(p_name)) AS name_norm,
        | (length(trim(p_name)) >= 3
        |  AND lower(p_name) NOT LIKE '%small%'
        |  AND lower(p_name) NOT LIKE 'eco%') AS is_valid
        |FROM part ORDER BY p_partkey""".stripMargin,
    "q15_split_explode" ->
      """SELECT token, CAST(count(*) AS BIGINT) AS cnt FROM (
        |  SELECT unnest(string_split(p_type, ' ')) AS token FROM part) t
        |GROUP BY token ORDER BY token""".stripMargin,
    "q16_normalize_map" ->
      """SELECT CASE event_type WHEN 'click' THEN 'interaction'
        |                       WHEN 'view' THEN 'impression'
        |                       ELSE event_type END AS event_norm,
        | CAST(count(*) AS BIGINT) AS cnt
        |FROM events GROUP BY 1 ORDER BY event_norm""".stripMargin,
    "q17_group_month" ->
      """SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
        | CAST(count(*) AS BIGINT) AS cnt,
        | CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS total
        |FROM orders GROUP BY 1 ORDER BY month""".stripMargin,
    "q18_events_window" ->
      """SELECT CAST(floor(epoch(ts)/300)*300 AS BIGINT) AS win_start, event_type,
        | CAST(count(*) AS BIGINT) AS cnt,
        | CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1,2 ORDER BY win_start, event_type""".stripMargin,
    "q19_selfjoin_pairs" ->
      """SELECT a.p_brand AS brand, CAST(count(*) AS BIGINT) AS pair_cnt
        |FROM part a JOIN part b
        |  ON a.p_brand = b.p_brand AND a.p_size = b.p_size
        | AND a.p_partkey < b.p_partkey
        |GROUP BY a.p_brand ORDER BY brand""".stripMargin,
    "q20_stats_labels" ->
      """SELECT label, cnt FROM (
        |  SELECT 'customer' AS label, CAST(count(*) AS BIGINT) AS cnt FROM customer
        |  UNION ALL SELECT 'orders', CAST(count(*) AS BIGINT) FROM orders
        |  UNION ALL SELECT 'lineitem', CAST(count(*) AS BIGINT) FROM lineitem
        |  UNION ALL SELECT 'part', CAST(count(*) AS BIGINT) FROM part
        |  UNION ALL SELECT 'supplier', CAST(count(*) AS BIGINT) FROM supplier
        |  UNION ALL SELECT 'nation', CAST(count(*) AS BIGINT) FROM nation
        |  UNION ALL SELECT 'region', CAST(count(*) AS BIGINT) FROM region) t
        |ORDER BY label""".stripMargin)
}
