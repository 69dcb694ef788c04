package graft.graph

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

import graft.core.ObservedCheckpoint

/** Unbounded graph traversal (SURVEY.md J8, §4 custom-work item 3): the
  * reference's decision-tree chains (`Condition -NEXT_CHECK-> …`) and
  * AVV hierarchy (`schema.cql:119-122`) need reachability to a fixpoint.
  *
  * Two paths per closure, one contract, picked by [[DriverFinish]]'s
  * memory rule:
  *  - while the edge projection (by Catalyst's size estimate, the number
  *    `JoinSelection` compares with the same threshold — no job) and the
  *    closure built from it both fit `spark.sql.autoBroadcastJoinThreshold`,
  *    the edges (and the seeded start set) are collected in one job and
  *    the closure is a level-synchronous BFS on the driver, returned as a
  *    local frame;
  *  - otherwise, or when the threshold is −1, iterative DataFrame joins
  *    bounded only by graph depth, each level one shuffle join; every
  *    level is localCheckpointed to cut lineage (without it, iteration N
  *    replays all N-1 prior joins — quadratic). A closure that outgrows
  *    the budget on the driver costs its collect job and the partial BFS
  *    before this loop starts.
  * Both paths apply the same rules level by level: a visited-set
  * anti-join on (start, reached), so first reach = min depth and cyclic
  * graphs terminate (SURVEY §7 hard-part 5); and, for witnesses, the
  * per-level min path string in Spark's `min` order (UTF-8 bytes). An
  * edge with a null endpoint is dropped before level 1: a null key joins
  * no node, and a null start would never enter the visited set, so a
  * walk from it around a cycle would not end. Depth is bounded by the
  * graph unless the caller passes `maxIter`.
  *
  * Scale notes: the join loop shuffles the frontier on dst each round;
  * at 100 TB the edge table would be bucketed by src_uid so each
  * iteration is a co-located join.
  */
object Traversal {

  /** All (start, reached, depth) pairs following `edges`
    * (src_uid→dst_uid) from every node to fixpoint, cycle-safe.
    * depth ≥ 1; a node reached by several paths keeps the min depth.
    * `seed` (one column `src_uid`) restricts the START set: the closure
    * is computed only from seed nodes — the hub-safe shape when the
    * caller immediately joins the closure to a filtered node frame
    * anyway (computing all-pairs reach from every node of a 100 TB
    * graph to then keep three sources is the textbook wasted pass,
    * guide §1.2). Results for seeded starts are identical to the
    * unseeded closure's rows for those starts. `maxIter` caps the
    * depth (the default: the graph's depth).
    */
  def reachFixpoint(edges: DataFrame, maxIter: Int = Int.MaxValue,
                    seed: Option[DataFrame] = None): DataFrame = {
    val e0 = keyed(edges.select(col("src_uid"), col("dst_uid")))
    def firstLevel(e: DataFrame) = seeded(e, seed).select(col("src_uid").as("start"),
      col("dst_uid").as("reached"), lit(1).as("depth"))
    driverReach(e0, seed, maxIter, firstLevel(e0).schema, witness = false).getOrElse(
      // collapse parallel paths within the level: on a diamond
      // (a→b1→c, a→b2→c) the hop join yields (a,c) once per path, and
      // without this the frontier grows multiplicatively (k paths per
      // layer ⇒ k^depth rows) while acc double-counts reachability
      levelLoop(e0, firstLevel, maxIter, (col("depth") + 1).as("depth"))(
        (hops, _) => hops.dropDuplicates(Seq("start", "reached"))))
  }

  /** [[reachFixpoint]] variant that also carries ONE deterministic
    * witness path per (start, reached) pair — the per-level
    * lexicographic-min serialization `uid|rel_type|uid|…` — the value
    * `RETURN p` projects for every Cypher `shortestPath`. Input edges
    * need (src_uid, dst_uid, rel_type). BFS first reach = min depth, and
    * a prefix of a shortest path is itself shortest, so extending only
    * the newly reached frontier loses no witness: a pair's witness is
    * the min, at its first-reach depth, over the extensions of the
    * previous level's witnesses. The groupBy REPLACES the
    * dropDuplicates of the plain fixpoint — same shuffle count per
    * round, one string min-agg on top.
    */
  def reachFixpointWitness(edges: DataFrame, maxIter: Int = Int.MaxValue,
                           seed: Option[DataFrame] = None): DataFrame = {
    val e0 = keyed(edges.select(col("src_uid"), col("dst_uid"), col("rel_type")))
    def minPath(df: DataFrame, depth: Int): DataFrame =
      df.groupBy("start", "reached").agg(min(col("path")).as("path"))
        .withColumn("depth", lit(depth))
    def firstLevel(e: DataFrame) = minPath(seeded(e, seed).select(col("src_uid").as("start"),
        col("dst_uid").as("reached"),
        concat(col("src_uid"), lit("|"), col("rel_type"), lit("|"),
          col("dst_uid")).as("path")), 1)
    driverReach(e0, seed, maxIter, firstLevel(e0).schema, witness = true).getOrElse(
      levelLoop(e0, firstLevel, maxIter,
        concat(col("path"), lit("|"), col("rel_type"), lit("|"), col("dst_uid")).as("path"))(
        minPath))
  }

  /** The distributed loop of both closures, one shuffle join per level.
    * Level 1 is `firstLevel` of the cached edges `e0`; each later level
    * joins the frontier's `reached` to an edge's `src_uid`, projects
    * (start, reached, `carry`), drops the pairs an earlier level
    * reached (the visited-set anti-join) and `collapse`s the rest at
    * its depth. It stops at the first empty level or after `maxIter`
    * levels. */
  private def levelLoop(e0: DataFrame, firstLevel: DataFrame => DataFrame, maxIter: Int,
                        carry: Column)(collapse: (DataFrame, Int) => DataFrame): DataFrame = {
    val e = e0.cache()
    // Levels are kept as a LIST of checkpointed frames and only unioned
    // lazily (for the per-round anti-join) and once at the end:
    // re-checkpointing the accumulated closure every round would add one
    // full-materialization job per level, quadratic total bytes written
    // over the loop (guide §1.2). A union of checkpointed RDDs is
    // lineage-free already; nothing needs re-materializing.
    val first = firstLevel(e).localCheckpoint(true)
    var levels = Vector(first)
    var frontier = first
    var i = 1
    var done = false
    def acc = levels.reduce(_ unionByName _)
    while (i < maxIter && !done) {
      // the emptiness probe rides the checkpoint job as an observed
      // count — no separate isEmpty() job per level (guide §1.2)
      val (next, n) = ObservedCheckpoint.count(collapse(
        frontier.join(e, frontier("reached") === e("src_uid"))
          .select(col("start"), col("dst_uid").as("reached"), carry)
          .join(acc.select(col("start").as("s2"), col("reached").as("r2")),
            col("start") === col("s2") && col("reached") === col("r2"), "left_anti"),
        i + 1))
      if (n == 0L) done = true
      else {
        levels :+= next
        frontier = next
        i += 1
      }
    }
    e.unpersist(blocking = false) // every level is checkpointed — lineage-free
    acc
  }

  /** The edges with both endpoints set. */
  private def keyed(e: DataFrame): DataFrame =
    e.filter(col("src_uid").isNotNull && col("dst_uid").isNotNull)

  /** The level-1 edges: every edge, or only those leaving a seed node. */
  private def seeded(e: DataFrame, seed: Option[DataFrame]): DataFrame =
    seed.fold(e)(sd =>
      e.join(sd.select(col("src_uid")).distinct(), Seq("src_uid"), "left_semi"))

  /** The driver finish of both closures, or None when the edge input
    * (Catalyst's size estimate of its plan — no job) or the closure
    * itself passes [[DriverFinish]]'s budget. One job collects the edges
    * together with the seeded start set (Spark's own semi-join decides
    * which seeds match, so key typing stays Spark's); the BFS then
    * mirrors the distributed loop level by level. Level 1 of the plain
    * closure keeps one row per edge, as its loop does. The closure is
    * charged [[DriverFinish.rowBytes]] per row plus each witness's bytes
    * as it grows; once the charge passes the budget the partial result is
    * dropped and the caller runs its distributed loop, whose levels can
    * spill. */
  private def driverReach(e: DataFrame, seed: Option[DataFrame], maxIter: Int,
                          schema: StructType,
                          witness: Boolean): Option[DataFrame] = {
    val spark = e.sparkSession
    if (!DriverFinish.fits(spark, e.queryExecution.optimizedPlan.stats.sizeInBytes))
      return None
    var left = DriverFinish.budget(spark).get
    val rowBytes = DriverFinish.rowBytes(schema)
    val tagged = e.withColumn("seed_start", lit(false))
    // the seed side stays a plain semi-join: repeated starts collapse in
    // the driver's set, so a distinct would only add an exchange
    val rows = seed.fold(tagged)(sd => tagged.unionByName(
        e.join(sd.select(col("src_uid")), Seq("src_uid"), "left_semi")
          .select(col("src_uid"), lit(true).as("seed_start")),
        allowMissingColumns = true))
      .collect()
    val (starts, edgeRows) = rows.partition(_.getAs[Boolean]("seed_start"))
    val startSet = starts.map(_.get(0)).toSet
    val edgeList = edgeRows.toSeq.map(r =>
      (r.get(0), r.get(1), if (witness) utf8(r.get(2)) else null))
    val adj = edgeList.groupBy(_._1)

    type Hop = (Any, Any, UTF8String) // (start, reached, path)
    def sep(p: UTF8String, rel: UTF8String, d: Any): UTF8String =
      if (p == null || rel == null) null
      else UTF8String.concat(p, UTF8String.fromString("|"), rel,
        UTF8String.fromString("|"), utf8(d))
    /** `hops` as (start, reached) groups, keeping the min non-null path
      * as Spark's `min` does; each new group is charged to the budget,
      * None once it is spent. */
    def collapse(hops: Iterator[Hop]): Option[Vector[Hop]] = {
      val best = mutable.LinkedHashMap.empty[(Any, Any), UTF8String]
      while (hops.hasNext) {
        val (s, r, p) = hops.next()
        best.get((s, r)) match {
          case None =>
            left -= rowBytes + (if (p == null) 0 else p.numBytes)
            if (left < 0) return None
            best((s, r)) = p
          case Some(cur) =>
            if (p != null && (cur == null || p.binaryCompare(cur) < 0)) best((s, r)) = p
        }
      }
      Some(best.iterator.map { case ((s, r), p) => (s, r, p) }.toVector)
    }

    val level1 = edgeList.iterator
      .filter(t => seed.isEmpty || startSet.contains(t._1))
      .map { case (s, d, rel) => (s, d, if (witness) sep(utf8(s), rel, d) else null) }
    var frontier: Seq[Hop] =
      if (witness) collapse(level1).getOrElse(return None)
      else {
        val hops = level1.toVector
        left -= hops.size * rowBytes
        if (left < 0) return None
        hops
      }
    val out = mutable.ArrayBuffer.empty[Row]
    val visited = mutable.HashSet.empty[(Any, Any)]
    def emit(level: Seq[Hop], depth: Int): Unit = level.foreach { case (s, r, p) =>
      out += (if (witness) Row(s, r, if (p == null) null else p.toString, depth)
              else Row(s, r, depth))
      visited += ((s, r))
    }
    emit(frontier, 1)
    var i = 1
    while (i < maxIter && frontier.nonEmpty) {
      val next = collapse(for {
        (s, r, p) <- frontier.iterator
        (_, d, rel) <- adj.getOrElse(r, Nil).iterator
        if !visited.contains((s, d))
      } yield (s, d, if (witness) sep(p, rel, d) else null)).getOrElse(return None)
      if (next.nonEmpty) { i += 1; emit(next, i) }
      frontier = next
    }
    Some(spark.createDataFrame(out.asJava, schema))
  }

  private def utf8(v: Any): UTF8String =
    if (v == null) null else UTF8String.fromString(v.toString)
}
