package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation

import graft.SparkSpec

/** reachFixpoint set semantics: parallel paths collapse (min depth per
  * (start, reached) pair, each pair once) and cycles terminate — the
  * properties the tree-shaped query gates (g07) cannot catch. Every case
  * runs on both paths of each closure — the driver finish small inputs
  * take by default, and the distributed loop forced by
  * `autoBroadcastJoinThreshold = -1` — and both must give the same rows
  * and schema. */
class TraversalSpec extends SparkSpec {
  import spark.implicits._

  /** (driver rows, distributed rows) of `f`, after checking each ran the
    * path it should and that both return one schema. */
  private def bothPaths(f: => DataFrame): (Set[Seq[Any]], Set[Seq[Any]]) = {
    val d = f
    assert(d.queryExecution.analyzed.isInstanceOf[LocalRelation],
      "a small input should take the driver finish")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val l = f
      assert(!l.queryExecution.analyzed.isInstanceOf[LocalRelation],
        "threshold -1 should run the distributed loop")
      assert(d.schema == l.schema)
      // no input here repeats an edge, so every row is a distinct pair
      val rows = (df: DataFrame) => {
        val r = df.collect().map(_.toSeq)
        assert(r.length == r.distinct.length, s"repeated rows in ${r.toSeq}")
        r.toSet
      }
      (rows(d), rows(l))
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  /** Both paths of both closures on `pairs` (rel_type R on every edge):
    * the plain rows, and the witness rows. */
  private def reach(pairs: Seq[(String, String)], seed: Seq[String] = Nil,
                    maxIter: Int = Int.MaxValue): (Set[Seq[Any]], Set[Seq[Any]]) = {
    val edges = pairs.map { case (a, b) => (a, b, "R") }.toDF("src_uid", "dst_uid", "rel_type")
    val sd = if (seed.isEmpty) None else Some(seed.toDF("src_uid"))
    val (pd, pl) = bothPaths(Traversal.reachFixpoint(edges, maxIter, sd))
    assert(pd === pl, s"reachFixpoint paths disagree on $pairs")
    val (wd, wl) = bothPaths(Traversal.reachFixpointWitness(edges, maxIter, sd))
    assert(wd === wl, s"reachFixpointWitness paths disagree on $pairs")
    // the witness closure reaches the same pairs at the same depths
    assert(wd.map(r => Seq(r(0), r(1), r(3))) === pd)
    (pd, wd)
  }

  test("diamond: two parallel paths yield one (start, reached) row") {
    val (got, paths) = reach(Seq(("a", "b1"), ("a", "b2"), ("b1", "c"), ("b2", "c")))
    assert(got === Set(
      Seq("a", "b1", 1), Seq("a", "b2", 1), Seq("a", "c", 2),
      Seq("b1", "c", 1), Seq("b2", "c", 1)))
    assert(paths.collect { case Seq("a", "c", p, _) => p } === Set("a|R|b1|R|c"))
  }

  test("cycle terminates with each pair at its min depth") {
    val (got, _) = reach(Seq(("a", "b"), ("b", "c"), ("c", "a")))
    assert(got === Set(
      Seq("a", "b", 1), Seq("a", "c", 2), Seq("a", "a", 3),
      Seq("b", "c", 1), Seq("b", "a", 2), Seq("b", "b", 3),
      Seq("c", "a", 1), Seq("c", "b", 2), Seq("c", "c", 3)))
  }

  test("chain: depth grows by one per hop; a maxIter cap keeps the first levels") {
    val chain = (0 until 6).map(i => (s"n$i", s"n${i + 1}"))
    val (all, paths) = reach(chain)
    assert(all.size === 21 && all.contains(Seq("n0", "n6", 6)))
    assert(paths.collect { case Seq("n0", "n3", p, _) => p } ===
      Set("n0|R|n1|R|n2|R|n3"))
    val (capped, _) = reach(chain, maxIter = 2)
    assert(capped === all.filter(_(2).asInstanceOf[Int] <= 2))
  }

  test("an edge from a null start into a cycle is dropped, and the walk ends") {
    val (got, paths) = reach(Seq((null, "a"), ("a", "b"), ("b", "a")))
    assert(got === Set(
      Seq("a", "b", 1), Seq("a", "a", 2), Seq("b", "a", 1), Seq("b", "b", 2)))
    assert(paths.map(_(2)) === Set("a|R|b", "a|R|b|R|a", "b|R|a", "b|R|a|R|b"))
  }

  test("self-loop: a node reaches itself at depth 1, and nothing loops") {
    val (got, _) = reach(Seq(("a", "a"), ("a", "b")))
    assert(got === Set(Seq("a", "a", 1), Seq("a", "b", 1)))
  }

  test("seeded starts equal the unseeded closure's rows for those starts") {
    val pairs = Seq(("a", "b"), ("b", "c"), ("x", "b"), ("c", "a"))
    val (all, allPaths) = reach(pairs)
    val (seeded, seededPaths) = reach(pairs, seed = Seq("x", "zz"))
    assert(seeded.nonEmpty && seeded === all.filter(_.head == "x"))
    assert(seededPaths === allPaths.filter(_.head == "x"))
  }

  test("a small input whose closure outgrows the budget falls back to the loop") {
    // a 40-node chain: its 39 edges fit an 8 KB budget, its 780-pair
    // closure does not, so the driver BFS gives up and the loop answers
    val n = 40
    val edges = (0 until n - 1).map(i => (s"n$i", s"n${i + 1}", "R"))
      .toDF("src_uid", "dst_uid", "rel_type")
    val expected = (for (i <- 0 until n; j <- i + 1 until n)
      yield Seq(s"n$i", s"n$j", j - i)).toSet
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "8192")
    try {
      assert(edges.queryExecution.optimizedPlan.stats.sizeInBytes <= 8192)
      val plain = Traversal.reachFixpoint(edges)
      val witness = Traversal.reachFixpointWitness(edges)
      for (out <- Seq(plain, witness))
        assert(!out.queryExecution.analyzed.isInstanceOf[LocalRelation],
          "a closure over the budget should run the distributed loop")
      assert(plain.collect().map(_.toSeq).toSet === expected)
      val paths = witness.collect().map(r => Seq(r(0), r(1), r(3)) -> r.getString(2)).toMap
      assert(paths.keySet === expected)
      assert(paths(Seq("n0", "n3", 3)) === "n0|R|n1|R|n2|R|n3")
      // the same input with a small closure stays on the driver
      val short = Traversal.reachFixpoint(edges.limit(3))
      assert(short.queryExecution.analyzed.isInstanceOf[LocalRelation])
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("witness ties break in Spark's min order (UTF-8 bytes), not String.compareTo") {
    // U+FFFD sorts BEFORE U+1F600 in UTF-8 byte order (EF.. < F0..) but
    // AFTER it in UTF-16 code-unit order (FFFD > D83D), so two same-depth
    // paths differing only there pin which order the driver uses
    val bmp = "b\uFFFD"
    val astral = "b\uD83D\uDE00"
    assert(astral.compareTo(bmp) < 0) // the order a plain String min would pick
    val (_, paths) = reach(Seq(("a", astral), ("a", bmp), (astral, "c"), (bmp, "c")))
    assert(paths.collect { case Seq("a", "c", p, d) => (p, d) } === Set((s"a|R|$bmp|R|c", 2)))
  }
}
