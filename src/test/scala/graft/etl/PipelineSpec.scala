package graft.etl

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.graph.GraphStore

/** End-to-end two-phase ETL into the parquet store: golden counts,
  * idempotency (run-twice), and cross-phase linkage. */
class PipelineSpec extends SparkSpec {

  private val clock = lit("2026-01-01 00:00:00").cast("timestamp")

  test("phases 1+2 end-to-end: golden counts, idempotent re-run") {
    val store = Files.createTempDirectory("graft-pipeline").toString + "/graph"

    Pipeline.applySchema()
    val nFac = Pipeline.importFacilities(spark, fixture("disposal_map_db.json"), store, clock)
    assert(nFac === 2)

    val (items, streams, edges) =
      Pipeline.importWasteItems(spark, fixture("abfall_abc.csv"), store, clock)
    assert(items === 8)
    assert(streams === 3)
    assert(edges === 7) // 4 DISPOSED_IN + 3 DISPOSED_AT

    val st1 = Pipeline.stats(spark, store)
    assert(st1.labels === Map("Facility" -> 2, "WasteItem" -> 8, "WasteStream" -> 3))
    assert(st1.totalNodes === 13)
    assert(st1.totalEdges === 7)

    // re-run both phases: nothing changes, created_at preserved
    val clock2 = lit("2027-06-01 00:00:00").cast("timestamp")
    Pipeline.importFacilities(spark, fixture("disposal_map_db.json"), store, clock2)
    Pipeline.importWasteItems(spark, fixture("abfall_abc.csv"), store, clock2)
    val st2 = Pipeline.stats(spark, store)
    assert(st2 === st1)
    val nodes = spark.read.parquet(s"$store/nodes")
    assert(nodes.filter(col("created_at") =!= "2026-01-01 00:00:00").count() === 0)

    // cross-phase linkage via the stored graph: 1-hop expand resolves
    val hop = GraphStore.expand(nodes,
      spark.read.parquet(s"$store/edges"))
    assert(hop.filter(col("src_name") === "Farbeimer" &&
      col("dst_name") === "Wertstoffhof Nord").count() === 1)

    // reset truncates
    Pipeline.reset(spark, store)
    assert(!new java.io.File(s"$store/nodes").exists())
  }

  test("an import whose every table cell is '-' writes an empty edge table that reads back") {
    // Banane has no disposal target: the edge table is empty, and it
    // must still read back for the re-import and for stats
    val dir = Files.createTempDirectory("graft-pipeline-empty")
    val csv = dir.resolve("items.csv")
    Files.write(csv, "Abfallart,Entsorgungsweg\nBanane,-\n".getBytes("UTF-8"))
    val store = dir.toString + "/graph"
    for (_ <- 1 to 2)
      assert(Pipeline.importWasteItems(spark, csv.toString, store, clock) === ((1L, 0L, 0L)))
    val st = Pipeline.stats(spark, store)
    assert(st.labels === Map("WasteItem" -> 1L))
    assert(st.totalEdges === 0L)
  }
}
