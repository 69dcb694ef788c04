package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.graph.ComponentsDF

/** s18's fold, driven directly: the star-compressed component state
  * must not remember how the edges arrived. Components only merge and
  * a star keeps each component's minimum, so any slicing, any arrival
  * order and any replayed batch end on batch CC over every edge. */
class StreamingCCSpec extends SparkSpec {

  private def events = graft.core.Tables.events(spark, "/root/testdata/sf0.001")

  /** Fold `slices` as batches 0, 1, ... (then `replay` again under its
    * own batch id) and return the final (vid, component) rows. */
  private def fold(slices: Seq[DataFrame], replay: Option[Int] = None): Seq[(Long, Long)] = {
    val root = Files.createTempDirectory("graft-cc-spec").toString
    try {
      slices.zipWithIndex.foreach { case (df, i) => StreamingCC.mergeBatch(root)(df, i.toLong) }
      replay.foreach(i => StreamingCC.mergeBatch(root)(slices(i), i.toLong))
      rows(StateVersions.current(spark, root))
    } finally graft.core.TempDirs.deleteQuietly(Paths.get(root), "spec")
  }

  private def rows(state: DataFrame): Seq[(Long, Long)] =
    state.select(col("vid").cast("long"), col("component").cast("long")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted

  private def byMod = (0 until 3).map(k => events.filter(col("event_id") % 3 === k))

  test("arrival order and slicing leave the same component state") {
    val s = byMod
    val a = fold(s)
    assert(a.nonEmpty)
    assert(fold(Seq(s(2), s(0), s(1))) === a, "arrival order changed the state")
    val cut = events.agg(max("event_id")).head.getLong(0) / 2 + 1
    val byRange = (0 until 2).map(k => events.filter(expr(s"event_id div $cut") === k))
    assert(fold(byRange) === a, "a different slicing changed the state")
  }

  test("a replayed batch id leaves the state unchanged") {
    val s = byMod
    assert(fold(s, replay = Some(2)) === fold(s))
  }

  test("the final state is batch CC over the union of all edges") {
    val incidence = events.filter(col("event_type") === "click")
      .select((col("user_id") * 2).as("src"),
        (expr("unix_timestamp(ts) div 300") * 2 + 1).as("dst"))
    assert(fold(byMod) === rows(ComponentsDF.run(incidence)))
  }
}
