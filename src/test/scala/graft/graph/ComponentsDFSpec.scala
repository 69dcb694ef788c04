package graft.graph

import org.apache.spark.graphx.{Edge => GxEdge, Graph => GxGraph}
import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

import graft.SparkSpec

/** Star-contraction CC (ComponentsDF) must agree with GraphX Pregel CC
  * on every graph shape that stresses a different part of the
  * algorithm: chains (path-halving), cycles (termination), stars
  * (already-converged input), forests of mixed sizes, and duplicate /
  * reversed / self-loop edges (input hygiene). GraphX is the
  * spec-by-construction side — its min-id contract is documented
  * upstream — so equality pins ComponentsDF to the same contract, on
  * both of its paths: the driver finish these small inputs take by
  * default, and the distributed star loop forced by
  * `autoBroadcastJoinThreshold = -1`. */
class ComponentsDFSpec extends SparkSpec {

  private def edgesDF(pairs: Seq[(Long, Long)]): DataFrame = {
    import spark.implicits._
    pairs.toDF("src", "dst")
  }

  /** GraphX Pregel connected components: (vid -> min vid of its
    * component) for every vertex of an edge. The reference side. */
  private def graphX(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val sc = spark.sparkContext
    val vertices = sc.parallelize(pairs.flatMap { case (a, b) => Seq(a, b) }.distinct)
      .map(v => (v, ()))
    val edges = sc.parallelize(pairs).map { case (a, b) => GxEdge(a, b, ()) }
    GxGraph(vertices, edges, (),
        edgeStorageLevel = StorageLevel.MEMORY_AND_DISK,
        vertexStorageLevel = StorageLevel.MEMORY_AND_DISK)
      .connectedComponents().vertices.collect().toMap
  }

  private def assignment(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** Whether a result came back as a driver-built local frame. */
  private def isLocal(df: DataFrame): Boolean =
    df.queryExecution.analyzed.isInstanceOf[
      org.apache.spark.sql.catalyst.plans.logical.LocalRelation]

  /** Build `f` under each path and `check` it with the path's name. */
  private def bothPaths(f: => DataFrame)(check: (String, DataFrame) => Unit): Unit = {
    val d = f
    assert(isLocal(d), "a small input should take the driver finish")
    check("driver", d)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val l = f
      assert(!isLocal(l), "threshold -1 should run the distributed loop")
      check("distributed", l)
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("chain, cycle, star, forest, dup/reversed/self-loop edges all match GraphX") {
    val shapes: Seq[(String, Seq[(Long, Long)])] = Seq(
      "long chain" -> (1L to 40L).sliding(2).map(w => (w(0), w(1))).toSeq,
      "cycle" -> ((1L to 12L).sliding(2).map(w => (w(0), w(1))).toSeq :+ (12L -> 1L)),
      "star already converged" -> (2L to 20L).map(v => (1L, v)),
      "forest of mixed sizes" -> Seq(
        (1L, 2L), (2L, 3L), // triple
        (10L, 11L), // pair
        (20L, 21L), (21L, 22L), (22L, 20L), // triangle
        (30L, 31L), (31L, 32L), (32L, 33L), (30L, 33L), (31L, 33L)), // dense
      "dups, reversals, self-loops" -> Seq(
        (5L, 6L), (6L, 5L), (5L, 6L), (7L, 7L), (6L, 7L)))
    for ((name, pairs) <- shapes) {
      val gx = graphX(pairs)
      bothPaths(ComponentsDF.run(edgesDF(pairs))) { (path, out) =>
        val df = assignment(out)
        assert(df == gx, s"$name ($path): ComponentsDF disagrees with GraphX\n df=$df\n gx=$gx")
        // min-id contract directly, independent of GraphX
        df.groupBy(_._2).foreach { case (comp, members) =>
          assert(members.keys.min == comp, s"$name ($path): component $comp is not its min id")
        }
      }
    }
  }

  test("deterministic pseudo-random graph matches GraphX and is partition-invariant") {
    // 120 vertices, edges from modular arithmetic (no RNG — d12's law):
    // i -> (i*7+3) mod 120 restricted to a band, yielding several
    // nontrivial components of different sizes.
    val pairs = (0L until 120L).flatMap { i =>
      val j = (i * 7 + 3) % 120
      if ((i + j) % 3 != 0 && i != j) Some((i, j)) else None
    }
    val gx = graphX(pairs)
    bothPaths(ComponentsDF.run(edgesDF(pairs))) { (path, out) =>
      assert(assignment(out) == gx, s"$path disagrees with GraphX")
    }
    // repartitioning the edge list must not change the assignment
    bothPaths(ComponentsDF.run(edgesDF(pairs).repartition(13))) { (path, out) =>
      assert(assignment(out) == gx, s"$path: component assignment changed under repartition")
    }
  }

  test("empty edge list yields an empty assignment") {
    bothPaths(ComponentsDF.run(edgesDF(Nil))) { (path, out) =>
      assert(out.collect().isEmpty, path)
    }
  }

  test("celebrity bucket connects linearly: 300-member bipartite star is one component") {
    // the g49 scale claim: a hot bucket contributes O(members) edges
    // (user 2i — bucket 2b+1), never O(members^2) pairs; CC over that
    // star must still produce a single component in few rounds
    val bucket = 9000001L // odd = bucket-side id
    val pairs = (0L until 300L).map(u => (u * 2, bucket))
    bothPaths(ComponentsDF.run(edgesDF(pairs))) { (path, out) =>
      val got = assignment(out)
      assert(got.size == 301 && got.values.toSet == Set(0L),
        s"$path: expected one component rooted at user 0, got ${got.values.toSet}")
    }
  }

  test("the driver finish is one job and agrees with the loop on dups, self-loops and nulls") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-cc-onejob")
    try {
      // a parquet input, as the callers read: a local Seq would fold
      // into a LocalRelation and collect without any job
      Seq[(java.lang.Long, java.lang.Long)]((1L, 2L), (2L, 1L), (1L, 2L), (3L, 3L),
          (2L, 4L), (5L, null), (null, 6L), (null, null), (7L, 8L), (8L, 7L))
        .toDF("src", "dst").write.parquet(dir.resolve("e").toString)
      val edges = spark.read.parquet(dir.resolve("e").toString) // schema inference: not counted
      val count = new graft.devtools.PlanDump.JobCount(spark.sparkContext)
      spark.sparkContext.addSparkListener(count)
      val driver = try {
        val j0 = count.drain()
        val out = ComponentsDF.run(edges)
        assert(count.drain() - j0 === 1L, "the driver finish should collect its edges in one job")
        out
      } finally spark.sparkContext.removeSparkListener(count)
      assert(isLocal(driver), "a small input should take the driver finish")
      val want = Map(1L -> 1L, 2L -> 1L, 4L -> 1L, 7L -> 7L, 8L -> 7L)
      assert(assignment(driver) === want)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try assert(assignment(ComponentsDF.run(edges)) === want, "the loop disagrees")
      finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    } finally graft.core.TempDirs.deleteQuietly(dir, "spec")
  }

  test("both paths return the same schema") {
    val pairs = Seq((1L, 2L), (3L, 2L))
    var schemas = Map.empty[String, org.apache.spark.sql.types.StructType]
    bothPaths(ComponentsDF.run(edgesDF(pairs))) { (path, out) => schemas += path -> out.schema }
    assert(schemas("driver") == schemas("distributed"))
  }

  test("g48 (pair CC) and g49 (bipartite CC) agree on the corpus at both SFs") {
    for (sf <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val a = graft.queries.GraphQueries.g48CcNative(spark, sf).collect().map(_.toSeq)
      val b = graft.queries.GraphQueries.g49CcBipartite(spark, sf).collect().map(_.toSeq)
      assert(a.sameElements(b), s"pair vs bipartite CC diverge at $sf")
    }
  }
}
