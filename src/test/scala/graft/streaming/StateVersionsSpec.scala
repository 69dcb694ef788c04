package graft.streaming

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The one replay rule of the foreachBatch sinks: batch n folds v{n}
  * into v{n+1}, `_CURRENT` publishes it, and two versions are kept. */
class StateVersionsSpec extends SparkSpec {
  import spark.implicits._

  private def withRoot(body: String => Unit): Unit = {
    val tmp = Files.createTempDirectory("graft-versions")
    try body(tmp.resolve("state").toString)
    finally graft.core.TempDirs.deleteQuietly(tmp, "spec")
  }

  private def sorted(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  /** A running per-key sum: batch `i` adds (i % 3, i); `finish` wraps
    * the folded sum as the state is written. */
  private def sumBatch(root: String, i: Long, finish: Column => Column = identity): Unit = {
    val rows = Seq((i % 3, i)).toDF("k", "n")
    StateVersions.write(root, i,
      StateVersions.read(spark, root, i, rows.limit(0)).unionByName(rows)
        .groupBy("k").agg(finish(sum("n")).as("n")))
  }

  test("100 batches keep two versions and fold to the one-pass answer") {
    withRoot { root =>
      (0L until 100L).foreach(sumBatch(root, _))
      val names = Files.list(Paths.get(root)).toArray.map(_.asInstanceOf[Path].getFileName.toString)
        .filterNot(_.startsWith(".")).toSet
      assert(names === Set("v99", "v100", "_CURRENT"))
      val onePass = (0L until 100L).map(i => (i % 3, i)).toDF("k", "n")
        .groupBy("k").agg(sum("n").as("n"))
      assert(sorted(StateVersions.current(spark, root)) === sorted(onePass))
    }
  }

  test("a batch that fails mid-write is never read; its rerun matches an uninterrupted run") {
    val boom = udf((n: Long) => if (n == 3L) throw new IllegalStateException("boom") else n)
    withRoot { clean =>
      withRoot { root =>
        (0L until 4L).foreach(i => sumBatch(clean, i))
        (0L until 3L).foreach(i => sumBatch(root, i))
        val before = sorted(StateVersions.current(spark, root))
        // the sums after batch 3 are (0 → 3, 1 → 1, 2 → 2): the task that
        // writes key 0 throws while the others write theirs
        intercept[Exception](sumBatch(root, 3L, boom(_)))
        assert(sorted(StateVersions.current(spark, root)) === before)
        assert(sorted(StateVersions.read(spark, root, 3L, spark.emptyDataFrame)) === before)
        sumBatch(root, 3L)
        assert(sorted(StateVersions.current(spark, root)) ===
          sorted(StateVersions.current(spark, clean)))
      }
    }
  }

  test("s19 and rollup sinks replayed on the last published batch give identical state") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val cut = docs.agg(max("doc_id")).head.getLong(0) / 3 + 1
    val slices = (0 until 3).map(k => docs.filter(expr(s"doc_id div $cut") === k))
    withRoot { root =>
      slices.zipWithIndex.foreach { case (df, i) => StreamingExactDedup.scoreBatch(root)(df, i.toLong) }
      val verdicts = sorted(spark.read.parquet(s"$root/verdicts/b2"))
      val state = sorted(StateVersions.current(spark, root))
      StreamingExactDedup.scoreBatch(root)(slices(2), 2L)
      assert(sorted(spark.read.parquet(s"$root/verdicts/b2")) === verdicts)
      assert(sorted(StateVersions.current(spark, root)) === state)
    }
    def ev(t: String, d: String, v: Double) = (t, java.sql.Timestamp.valueOf(s"$d 10:00:00"), v)
    val b = Seq(Seq(ev("click", "2026-01-01", 1.5), ev("view", "2026-01-02", 4.0)),
      Seq(ev("click", "2026-01-01", 3.0), ev("view", "2026-01-03", 0.5)))
      .map(_.toDF("event_type", "ts", "value"))
    withRoot { root =>
      b.zipWithIndex.foreach { case (df, i) => StreamingIngest.rollupBatch(root)(df, i.toLong) }
      val state = sorted(StateVersions.current(spark, root))
      StreamingIngest.rollupBatch(root)(b(1), 1L)
      assert(sorted(StateVersions.current(spark, root)) === state)
    }
  }

  test("every sink's state reads with the schema a parquet read infers") {
    val sf = "/root/testdata/sf0.001"
    val events = graft.core.Tables.events(spark, sf)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val halves = Seq(0, 1).map(k => (events.filter(col("event_id") % 2 === k),
      docs.filter(col("doc_id") % 2 === k)))
    /** Fold both halves (events and documents) as batches 0 and 1. */
    def check(root: String)(fold: (DataFrame, DataFrame, Long) => Unit): Unit = {
      halves.zipWithIndex.foreach { case ((e, d), i) => fold(e, d, i.toLong) }
      val schema = StateVersions.current(spark, root).schema
      Seq("v1", "v2").foreach(v => assert(schema === spark.read.parquet(s"$root/$v").schema, s"$root/$v"))
    }
    val node = (e: DataFrame) => e.select(lit("User").as("label"),
      concat(lit("User:"), $"user_id").as("uid"), $"event_type".as("name"),
      $"value".as("last_value"), $"ts".as("created_at"), $"ts".as("updated_at"))
    val edge = (e: DataFrame) => e.select(concat(lit("User:"), $"user_id").as("src_uid"),
      $"event_type".as("dst_uid"), lit("DID").as("rel_type"),
      expr("unix_micros(ts)").as("first_us"), expr("unix_micros(ts)").as("last_us"))
    val change = (e: DataFrame) => e.select($"user_id".as("c_custkey"),
      $"event_type".as("c_name"), $"value".as("c_acctbal"), lit("U").as("op"),
      $"event_id".cast("int").as("seq"))
    withRoot(r => check(r)((e, _, i) => StreamingCC.mergeBatch(r)(e, i)))
    withRoot(r => check(r)((_, d, i) => StreamingManifest.foldBatch(r)(d, i)))
    withRoot(r => check(r)((_, d, i) => StreamingExactDedup.scoreBatch(r)(d, i)))
    withRoot(r => check(r)((e, _, i) => StreamingIngest.rollupBatch(r)(e, i)))
    withRoot(r => check(r)((e, _, i) => StreamingIngest.sketchBatch(r)(e, i)))
    withRoot(r => check(r)((e, _, i) => StreamingIngest.upsertBatch(r, Seq("last_value"))(node(e), i)))
    withRoot(r => check(r)((e, _, i) => StreamingIngest.upsertEdgeBatch(r)(edge(e), i)))
    withRoot { r =>
      StateVersions.seed(r, change(events.limit(0)).drop("op").withColumn("deleted", lit(false)))
      check(r)((e, _, i) => StreamingIngest.cdcBatch(r)(change(e), i))
    }
  }
}
