package graft.queries

import java.nio.file.{Files, Path}

import graft.SparkSpec

/** The staged-stream runner's contracts that no gate exercises: a
  * watermark drop fails the query whatever its sink, the session conf
  * the runner swaps in is restored when the stream fails, and a second
  * run of a stream reuses the generated classes of the first. */
class StreamQueriesSpec extends SparkSpec {
  import spark.implicits._

  /** Write `rows` as one parquet file named `name` in `dir`. */
  private def writePart(dir: Path, name: String,
                        rows: Seq[(Long, Long, String, java.sql.Timestamp, Double)]): Unit = {
    val tmp = Files.createTempDirectory("graft-sqspec-part")
    try {
      rows.toDF("event_id", "user_id", "event_type", "ts", "value")
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val l = Files.list(tmp)
      val part =
        try l.filter(_.getFileName.toString.endsWith(".parquet")).findFirst.get
        finally l.close()
      Files.move(part, dir.resolve(name))
    } finally graft.core.TempDirs.deleteQuietly(tmp, "sqspec")
  }

  test("s05: a late part dropped by the upsert's watermark fails the query, and the conf is restored") {
    val dir = Files.createTempDirectory("graft-sqspec")
    val shuffleKey = "spark.sql.shuffle.partitions"
    val noDataKey = "spark.sql.streaming.noDataMicroBatches.enabled"
    val prevShuffle = spark.conf.get(shuffleKey)
    try {
      // the events table as a directory of parts whose name order runs
      // backwards in event time: the stream replays one part per batch,
      // and part 000 lifts the 1 h dedup watermark past every row of
      // part 002. Spark drops a late row against the watermark of the
      // batch before, so the late part comes third: the second batch
      // still reads its rows against the initial watermark.
      val events = Files.createDirectory(dir.resolve("events.parquet"))
      def ts(s: String) = java.sql.Timestamp.valueOf(s)
      writePart(events, "part-000.parquet",
        Seq((1L, 1L, "click", ts("2026-01-02 12:00:00"), 1.0)))
      writePart(events, "part-001.parquet",
        Seq((2L, 2L, "view", ts("2026-01-02 12:30:00"), 2.0)))
      writePart(events, "part-002.parquet",
        Seq((3L, 3L, "view", ts("2026-01-02 09:00:00"), 3.0),
          (4L, 4L, "click", ts("2026-01-02 10:30:00"), 4.0)))
      // a shuffle count the runner never uses, so a missed restore shows
      spark.conf.set(shuffleKey, "7")
      val noDataBefore = spark.conf.getOption(noDataKey)
      val e = intercept[RuntimeException] {
        StreamQueries.s05StreamUpsert(spark, dir.toString).collect()
      }
      assert(e.getMessage.contains("dropped by watermark"), e.getMessage)
      assert(spark.conf.get(shuffleKey) == "7")
      assert(spark.conf.getOption(noDataKey) == noDataBefore)
    } finally {
      spark.conf.set(shuffleKey, prevShuffle)
      graft.core.TempDirs.deleteQuietly(dir, "sqspec")
    }
  }

  test("s18: a second run in one session compiles no generated classes") {
    import org.apache.spark.metrics.source.CodegenMetrics
    val sf = "/root/testdata/sf0.001"
    val first = StreamQueries.s18StreamComponents(spark, sf).collect()
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val second = StreamQueries.s18StreamComponents(spark, sf).collect()
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before === 0L,
      "each stream's cloned session recompiled the classes of the last run")
    assert(second.toSeq === first.toSeq)
  }
}
