package graft.graph

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** DataFrame-native connected components: the alternating
  * large-star / small-star algorithm (Kiveris et al., "Connected
  * Components in MapReduce and Beyond", SoCC'14), run entirely inside
  * Catalyst — no RDD conversion, no Pregel runtime.
  *
  * Two paths, one contract, picked by [[DriverFinish]]'s size rule:
  *  - an edge list within `spark.sql.autoBroadcastJoinThreshold` is
  *    finished on the driver by union-find with min-id roots — at these
  *    sizes the star loop's cost is scheduling per round, not bytes.
  *    When Catalyst's estimate of the `(u, v)` projection fits, it is
  *    collected as is in one job (union-find takes duplicates); else the
  *    loop's first deduplicated checkpoint is collected if its observed
  *    count × row size fits. The result stays within twice the budget;
  *  - a larger list (or any list when the threshold is −1) runs the
  *    star-contraction loop below. There each round's two shuffles
  *    ride the same AQE machinery as every other operator, and
  *    `localCheckpoint` per round caps lineage exactly like the
  *    PageRank/k-core family (SCALE.md §4). Star-contraction converges
  *    in O(log² n) rounds worst-case and ~log d in practice — at any
  *    scale the bound is rounds × (edge shuffle), never a
  *    transitive-closure blowup.
  *
  * Algorithm (per round, on an undirected edge list E):
  *  - large-star: for every node x, connect each strictly LARGER
  *    neighbor y to m = min(Γ(x) ∪ {x}) — hooks tall trees onto small
  *    ids without ever emitting an upward edge, so the total edge
  *    count cannot grow beyond 2|E|.
  *  - small-star: direct each edge from its larger to its smaller
  *    endpoint, then for every x connect x and all its ≤-neighbors to
  *    their common minimum — path-halving that flattens chains.
  * Both steps are one `Window.partitionBy(x)` min + a projection —
  * the groupBy-then-join-back formulation would shuffle twice on the
  * same key; the window does it in one exchange per direction.
  *
  * Convergence: a (count, xor-of-xxhash64) fingerprint of the edge
  * set, one tiny aggregate per round — order-free, so it is stable
  * across partitionings. At the fixed point every edge is
  * (member, root) with root = the component's minimum id (the contract
  * GraphX documents), which ComponentsDFSpec pins on both paths by
  * direct equivalence against GraphX Pregel CC.
  *
  * Ref anchor: the reference's only global-graph analytic is Neo4j CC
  * over waste/facility nodes (`analysis_queries.cql` section 4); this
  * is that capability, re-expressed for a 1000-executor cluster.
  */
object ComponentsDF {

  /** Connected components over an undirected edge list.
    *
    * @param edges numeric `src`, `dst`; self-loops, nulls, duplicates tolerated.
    * @return (vid, component) for every vertex incident to an edge;
    *         component = min vertex id in the component. Isolated
    *         vertices are the caller's to union in (they never appear
    *         in an edge list).
    */
  def run(edges: DataFrame, maxIter: Int = 25): DataFrame = {
    val uv = edges
      .select(least(col("src"), col("dst")).cast("long").as("u"),
        greatest(col("src"), col("dst")).cast("long").as("v"))
      .filter(col("u") =!= col("v"))
    val spark = uv.sparkSession
    def driverFinish(e: DataFrame) =
      spark.createDataFrame(unionFind(e.collect()).asJava, starForest(uv).schema)
    if (DriverFinish.fits(spark, uv.queryExecution.optimizedPlan.stats.sizeInBytes))
      return driverFinish(uv)
    // each round's checkpoint observes its convergence fingerprint (guide §1.2)
    var (e, fp) = checkpointFp(uv.distinct())
    if (DriverFinish.fits(spark, BigInt(fp._1) * DriverFinish.rowBytes(e.schema))) driverFinish(e)
    else {
      var converged = false
      var i = 0
      while (i < maxIter && !converged) {
        val (next, nfp) = checkpointFp(smallStar(largeStar(e)))
        converged = nfp == fp
        fp = nfp
        e = next
        i += 1
      }
      require(converged, s"ComponentsDF did not converge in $maxIter rounds")
      starForest(e)
    }
  }

  /** The fixed point is a star forest stored canonically as
    * (u = root, v = member) since root = component min: add the roots'
    * own rows to make the per-vertex assignment total over edge-touched
    * vertices. */
  private def starForest(e: DataFrame): DataFrame =
    e.select(col("v").as("vid"), col("u").as("component"))
      .unionByName(e.select(col("u").as("vid"), col("u").as("component")))
      .distinct()

  /** The driver finish: union-find over the collected (u, v) edges,
    * always hanging the larger root under the smaller, so every root is
    * its component's minimum id — the star loop's fixed point. */
  private def unionFind(edges: Array[Row]): Seq[Row] = {
    val parent = mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var y = x // path compression
      while (y != r) { val next = parent(y); parent(y) = r; y = next }
      r
    }
    for (row <- edges) {
      val (a, b) = (find(row.getLong(0)), find(row.getLong(1)))
      parent(math.max(a, b)) = math.min(a, b)
      parent.getOrElseUpdate(math.min(a, b), math.min(a, b))
    }
    parent.keys.toSeq.map(v => Row(v, find(v)))
  }

  /** Eagerly localCheckpoint `df` with the order-free edge-set
    * fingerprint (count + xor of per-edge hashes — no sort, stable
    * across partitionings) observed ON the materialization job. */
  private def checkpointFp(df: DataFrame): (DataFrame, (Long, Long)) = {
    val (ck, m) = graft.core.ObservedCheckpoint.aggregate(df, count(lit(1)).as("n"),
      coalesce(bit_xor(xxhash64(col("u"), col("v"))), lit(0L)).as("h"))
    (ck, (m.getLong(0), m.getLong(1)))
  }

  /** Connect every strictly-larger neighbor of x to min(Γ(x) ∪ {x}).
    * One pass: both edge orientations come from a single explode (not a
    * self-union that reads the input twice), and the output is NOT
    * deduplicated — smallStar's window min is duplicate-insensitive and
    * its trailing distinct canonicalizes the round, so the extra
    * exchange + aggregate a distinct here would cost buys nothing
    * (guide §2.4: remove shuffles outright). Output stays ≤ 2|E| rows. */
  private def largeStar(e: DataFrame): DataFrame = {
    val nbrs = e.select(explode(array(
        struct(col("u").as("x"), col("v").as("y")),
        struct(col("v").as("x"), col("u").as("y")))).as("p"))
      .select(col("p.x").as("x"), col("p.y").as("y"))
    val m = least(min(col("y")).over(Window.partitionBy("x")), col("x"))
    nbrs.withColumn("m", m)
      .filter(col("y") > col("x") && col("y") =!= col("m"))
      .select(col("m").as("u"), col("y").as("v"))
  }

  /** Direct edges large→small, then connect x and all its ≤-neighbors
    * to their common minimum. The two output arms ((m,y) and (m,x))
    * come from one explode over the windowed frame — the
    * self-union formulation executes the window sort twice (the
    * exchange is reused but the post-shuffle sort+window is not). */
  private def smallStar(e: DataFrame): DataFrame = {
    val d = e.select(greatest(col("u"), col("v")).as("x"),
      least(col("u"), col("v")).as("y"))
    val withMin = d.withColumn("m", min(col("y")).over(Window.partitionBy("x")))
    withMin.select(col("m").as("u"),
        explode(array(col("y"), col("x"))).as("v"))
      .filter(col("u") =!= col("v"))
      .select(least(col("u"), col("v")).as("u"),
        greatest(col("u"), col("v")).as("v"))
      .distinct()
  }
}
