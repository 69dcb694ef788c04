package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The s20 merge-law claim, tested directly on the fold: feeding the
  * SAME document slices in two different arrival orders (and with a
  * different slicing entirely) must land on the identical manifest —
  * add/xor folds are associative and commutative, so state cannot
  * remember history shape. Also pins retry idempotency: re-folding a
  * batch id leaves the same published state. */
class StreamingManifestSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def docs = spark.read.parquet(s"$dir/documents.parquet")

  private def fold(slices: Seq[org.apache.spark.sql.DataFrame]): Map[Int, (Long, Long, Long)] = {
    val root = Files.createTempDirectory("graft-manifest-spec").toString
    try {
      slices.zipWithIndex.foreach { case (df, i) =>
        StreamingManifest.foldBatch(root)(df, i.toLong)
      }
      StateVersions.current(spark, root).collect()
        .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
        .toMap
    } finally graft.core.TempDirs.deleteQuietly(java.nio.file.Paths.get(root), "spec")
  }

  test("manifest is invariant to arrival order, slicing, and batch retry") {
    val s0 = docs.filter(col("doc_id") % 3 === 0)
    val s1 = docs.filter(col("doc_id") % 3 === 1)
    val s2 = docs.filter(col("doc_id") % 3 === 2)
    val a = fold(Seq(s0, s1, s2))
    val b = fold(Seq(s2, s0, s1))
    assert(a == b, "arrival order changed the manifest")
    val byRange = Seq(
      docs.filter(col("doc_id") < 200),
      docs.filter(col("doc_id") >= 200))
    assert(fold(byRange) == a, "a different slicing changed the manifest")
    // retry idempotency: re-fold batch 1 over the same prior state
    val root = Files.createTempDirectory("graft-manifest-retry").toString
    try {
      StreamingManifest.foldBatch(root)(s0, 0L)
      StreamingManifest.foldBatch(root)(s1, 1L)
      val once = StateVersions.current(spark, root).collect().map(_.toSeq).toSet
      StreamingManifest.foldBatch(root)(s1, 1L) // replay
      val twice = StateVersions.current(spark, root).collect().map(_.toSeq).toSet
      assert(once == twice, "batch replay must rewrite identical state")
    } finally graft.core.TempDirs.deleteQuietly(java.nio.file.Paths.get(root), "spec")
  }
}
