package graft.graph

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.SkewJoin

/** Physical layout + skew: partition pruning on the label/rel_type
  * partitioned store that [[GraphStore.commit]] writes, and salted-join
  * equivalence. */
class StoreLayoutSpec extends SparkSpec {
  import spark.implicits._

  test("node store partitioned by label prunes partitions on MATCH (:Label)") {
    val dir = Files.createTempDirectory("graft-store").toString + "/nodes"
    val nodes = Seq(
      ("WasteItem", "u1", "Banane"), ("WasteItem", "u2", "Farbeimer"),
      ("Facility", "u3", "Hof"), ("WasteStream", "u4", "Biotonne"))
      .toDF("label", "uid", "name")
    GraphStore.commit(GraphStore.Rewrite.nodes(nodes, dir))
    val q = GraphStore.readNodes(spark, dir).filter(col("label") === "WasteItem")
    val scan = q.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PartitionFilters") && scan.contains("label"),
      s"expected partition filter on label in: $scan")
    assert(q.count() === 2)
    // partition directory actually exists per label
    assert(new java.io.File(dir, "label=WasteItem").exists())
  }

  test("edge store partitioned by rel_type prunes on [:REL] filters") {
    val dir = Files.createTempDirectory("graft-store").toString + "/edges"
    val edges = Seq(
      ("a", "b", "DISPOSED_IN"), ("a", "c", "DISPOSED_AT"), ("b", "c", "DISPOSED_AT"))
      .toDF("src_uid", "dst_uid", "rel_type")
    GraphStore.commit(GraphStore.Rewrite.edges(edges, dir))
    val q = GraphStore.readEdges(spark, dir).filter(col("rel_type") === "DISPOSED_AT")
    assert(q.count() === 2)
    val scan = q.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PartitionFilters") && scan.contains("rel_type"))
  }

  test("salted join equals plain join on skewed data") {
    // 90% of rows share one key — the skew shape salting exists for
    val big = (1 to 1000).map(i => (if (i <= 900) "hot" else s"k$i", i))
      .toDF("key", "v")
    val small = Seq(("hot", "H"), ("k950", "A"), ("k990", "B")).toDF("key", "tag")
    val plain = big.join(small, "key").select("key", "v", "tag")
    val salted = SkewJoin.salted(big, small, "key", 8).select("key", "v", "tag")
    assert(salted.count() === plain.count())
    assert(salted.exceptAll(plain).count() === 0)
    assert(plain.exceptAll(salted).count() === 0)
  }

  test("salted join preserves multiplicity of fully-duplicate hot rows") {
    // identical rows (not just identical keys) — a content-hash salt
    // would send them all to one bucket; result must still be exact
    val big = ((1 to 900).map(_ => ("hot", 1)) ++ Seq(("cold", 2))).toDF("key", "v")
    val small = Seq(("hot", "H"), ("cold", "C")).toDF("key", "tag")
    val plain = big.join(small, "key").select("key", "v", "tag")
    val salted = SkewJoin.salted(big, small, "key", 8).select("key", "v", "tag")
    assert(salted.count() === 901)
    assert(salted.exceptAll(plain).count() === 0)
    assert(plain.exceptAll(salted).count() === 0)
  }
}
