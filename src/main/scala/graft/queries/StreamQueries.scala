package graft.queries

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

import graft.streaming.StateVersions

/** Structured Streaming driven through the DuckDB gate (SURVEY §2.10):
  * the events table replayed through real `readStream` file sources,
  * AvailableNow triggers, and memory sinks, with each final result
  * checked hash-exactly against a batch SQL oracle. This is the
  * incremental-equals-batch contract a streaming engine owes its
  * users, enforced per round — the late-data and custom-state paths
  * are spec-covered (StreamingWindowSpec, StreamingSessionizeSpec);
  * these entries prove the production source + sink wiring end-to-end.
  *
  * Scale notes: the file source discovers and batches files
  * incrementally (`maxFilesPerTrigger`) — at 100 TB the same plans run
  * over an arriving directory with watermarks bounding state; each
  * micro-batch shuffles exactly like its batch twin (q18 for s01, q26
  * for s02).
  */
object StreamQueries extends QueryPack {

  /** Shuffle/state partition count while a staged stream runs. Each
    * stateful partition pays per-batch store setup/commit IO, so
    * near-empty state wants FEW partitions (32 → 8 measured ~4s/run on
    * the stateful join; 8 → 2 measured another 2.7s on the s03 dedup —
    * the state machinery is pure per-partition overhead at gate-scale
    * state sizes); at real scale state size, not overhead, picks this
    * number — hence the env knob (default 2). */
  private def streamParts: String =
    sys.env.getOrElse("SPARK_GRAFT_STREAM_PARTS", "2")

  /** Per-query conf for streams whose RESULT provably does not depend
    * on the trailing no-data micro-batch (Spark fires one after the
    * last file when a watermark exists, purely to run state eviction):
    * an append-mode INNER join emits only on matched data rows, and
    * first-sight dedup (dropDuplicates / WithinWatermark) emits within
    * data batches — eviction only shrinks state neither ever re-reads.
    * Skipping the empty batch saves a full state-store load/commit
    * cycle per stream (measured ~1.0s of s02's 3.0s isolated run), and
    * for the foreachBatch upsert stores (s05/s11) a whole store
    * rewrite fed by zero rows. NOT applicable where the final
    * watermark pass EMITS rows: outer-join eviction (s07), append-mode
    * aggregation (s10), and event-time timers (s04/s08) keep the
    * default. Gate-checked: the sf0.01 oracle hashes are identical
    * with and without the trailing batch for every query that sets
    * this. */
  private val noTrailingBatch: Map[String, String] =
    Map("spark.sql.streaming.noDataMicroBatches.enabled" -> "false")

  /** A staged stream's working directories, all under one temp root
    * (its checkpoint sits beside them): `in` is the file source's watch
    * directory, `scratch` holds staging intermediates, and `state` holds
    * a `foreachBatch` store. */
  private final case class StreamDirs(in: Path, scratch: Path, state: Path)

  /** Where a staged stream's rows go and how its result is read back. */
  private sealed trait StreamSink

  /** A uniquely named memory sink in output `mode`; the result is
    * `result` of the sink table. */
  private final case class MemorySink(mode: String,
                                      result: DataFrame => DataFrame = identity)
    extends StreamSink

  /** `foreachBatch(fold(state))`: each micro-batch folds into a store
    * under `state`, and the result is `result(state)` — the final store
    * state, not a sink stream. */
  private final case class BatchSink(fold: Path => (DataFrame, Long) => Unit,
                                     result: Path => DataFrame)
    extends StreamSink

  /** Run one staged stream to completion and return its result. `stage`
    * fills `in` and returns the schema the file source reads it with;
    * `build` gets a source factory (each call opens an independent
    * schema-pinned file stream, one file per micro-batch, with the
    * batch path's ts normalization when `eventTs` — s02 needs two) and
    * returns the plan `sink` consumes. One scope owns the whole
    * lifecycle:
    *
    *  - the memory sink name is unique per invocation (Verify and Bench
    *    call each query function repeatedly in one session);
    *  - a timed-out stream fails LOUDLY — returning a half-filled result
    *    would hand the gate silent garbage;
    *  - a row dropped by a watermark fails the query too: late rows
    *    vanish without error otherwise, so a corpus staged out of
    *    event-time order would read as a mysteriously small result;
    *  - the state-store partition count is pinned from
    *    shuffle.partitions when batch 0 plans, and each partition pays
    *    per-batch store setup/commit IO — 32 partitions of near-empty
    *    state cost the stateful join ~4s/run, so streams run at
    *    [[streamParts]] (default 2). That and `extraConf` (s08 swaps in
    *    the RocksDB state store) are restored on every exit path AFTER
    *    the stream is done: batch 0 can plan after start() returns, and
    *    leaving the session at 2 would silently re-partition every later
    *    query;
    *  - the result is materialized (localCheckpoint) before the temp
    *    root is deleted, so it outlives the staged files, the store and
    *    the dropped memory sink; Bench runs each stream query 4× (warmup
    *    + 3 timed) and Verify adds more, and each run's sink would
    *    otherwise pin its full result set in driver memory for the
    *    session lifetime. The session-level cache clears in Bench/Verify
    *    release the checkpoint blocks once the result has been consumed;
    *  - the temp root is deleted on every exit path, including a throw
    *    during plan construction, and a cleanup failure never masks the
    *    stream's own exception.
    */
  private def runStream(s: SparkSession, tag: String, sink: StreamSink,
                        eventTs: Boolean = true,
                        extraConf: Map[String, String] = Map.empty)
                       (stage: StreamDirs => StructType)
                       (build: (() => DataFrame) => DataFrame): DataFrame = {
    val root = Files.createTempDirectory(s"graft-$tag-")
    val dirs = StreamDirs(Files.createDirectory(root.resolve("in")),
      Files.createDirectory(root.resolve("scratch")),
      Files.createDirectory(root.resolve("state")))
    val ckpt = Files.createDirectory(root.resolve("ckpt"))
    val memName = tag + "_" + java.util.UUID.randomUUID.toString.replace("-", "")
    val conf = extraConf + ("spark.sql.shuffle.partitions" -> streamParts)
    val prev = conf.keys.map(k => k -> s.conf.getOption(k)).toMap
    try {
      conf.foreach { case (k, v) => s.conf.set(k, v) }
      val schema = stage(dirs)
      val src = () => {
        val raw = s.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1")
          .option("pathGlobFilter", "*.parquet")
          .parquet(dirs.in.toString)
        if (eventTs) graft.core.Tables.withEventTs(raw) else raw
      }
      val writer = build(src).writeStream
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.AvailableNow())
      val q = (sink match {
        case MemorySink(mode, _) =>
          writer.format("memory").queryName(memName).outputMode(mode)
        case BatchSink(fold, _) => writer.foreachBatch(fold(dirs.state))
      }).start()
      try {
        if (!q.awaitTermination(300000))
          sys.error(s"$tag: stream did not finish within 300s")
        // recentProgress holds the last ~100 batches: full coverage at
        // gate scale, a lower bound on very long stress replays
        val dropped = q.recentProgress.iterator
          .flatMap(p => Option(p.stateOperators).map(_.toSeq).getOrElse(Seq.empty))
          .map(_.numRowsDroppedByWatermark).sum
        if (dropped > 0)
          sys.error(s"$tag: $dropped row(s) dropped by watermark " +
            "(late arrivals across staged micro-batches — the staged " +
            "corpus violates the event-time-ordering contract)")
      } finally q.stop()
      (sink match {
        case MemorySink(_, result) => result(s.table(memName))
        case BatchSink(_, result)  => result(dirs.state)
      }).localCheckpoint(true)
    } finally {
      s.catalog.dropTempView(memName)
      prev.foreach {
        case (k, Some(v)) => s.conf.set(k, v)
        case (k, None)    => s.conf.unset(k)
      }
      graft.core.TempDirs.deleteQuietly(root, tag)
    }
  }

  /** The stage step of a stream over a corpus table: [[stageTable]] into
    * `in`, plus the two heartbeat files when `sentinels`, read with the
    * table's own schema. */
  private def stagedTable(s: SparkSession, dir: String, table: String,
                          sentinels: Boolean = false): StreamDirs => StructType = {
    require(table == "events" || !sentinels,
      "sentinel heartbeats are events-schema-specific")
    val schema = s.read.parquet(s"$dir/$table.parquet").schema
    d => {
      stageTable(dir, table, d.in)
      if (sentinels) stageSentinels(s, dir, schema, d.in, d.scratch)
      schema
    }
  }

  /** s01 — event-time tumbling-window aggregation (the streaming twin
    * of q18): readStream → 5-minute windows → complete-mode memory
    * sink; the value sum rides decimal per the dsum determinism note. */
  def s01StreamWindow(s: SparkSession, dir: String): DataFrame =
    runStream(s, "s01", MemorySink("complete"))(stagedTable(s, dir, "events")) { src =>
      src()
        .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
        .agg(count(lit(1)).as("cnt"),
          round(sum(col("value").cast("decimal(18,6)")), 2).cast("double")
            .as("total_value"))
        .select(unix_timestamp(col("window.start")).as("win_start"),
          col("event_type"), col("cnt"), col("total_value"))
    }.orderBy("win_start", "event_type")

  /** s02 — watermarked stream-stream interval join: click and error
    * streams (two independent file sources over the same staged events
    * table) joined per user within a preceding 30-minute window — the
    * streaming form of q26's range join, with BOTH sides' state bounded
    * by watermarks. The whole table arrives in each source's first
    * micro-batch here, so the append-mode inner join emits exactly the
    * batch join the oracle runs; at scale the same plan runs over
    * arriving files with the watermarks GC'ing join state. */
  def s02StreamJoin(s: SparkSession, dir: String): DataFrame =
    runStream(s, "s02", MemorySink("append"), extraConf = noTrailingBatch)(
      stagedTable(s, dir, "events")) { src =>
      val clicks = src().filter(col("event_type") === "click")
        .select(col("event_id").as("c_event"), col("user_id").as("c_user"),
          col("ts").as("c_ts"))
        .withWatermark("c_ts", "1 hour")
      val errors = src().filter(col("event_type") === "error")
        .select(col("event_id").as("e_event"), col("user_id").as("e_user"),
          col("ts").as("e_ts"))
        .withWatermark("e_ts", "1 hour")
      clicks.join(errors,
        expr("c_user = e_user AND e_ts BETWEEN c_ts - INTERVAL 30 MINUTES AND c_ts"))
        .select(col("c_event"), col("e_event"), col("c_user").as("user_id"))
    }.orderBy("c_event", "e_event")

  /** s03 — streaming exact deduplication (d01's incremental twin):
    * dropDuplicates over (user, type, day) emits each key once, on
    * first sight, from any arrival order — the result is exactly
    * `SELECT DISTINCT`, which is what makes it gateable. State carries
    * one entry per distinct key — the same cardinality any exact dedup
    * must hold somewhere — and is partitioned by the key shuffle; for
    * looser delivery contracts the delay-bounded variant
    * (dropDuplicatesWithinWatermark) trades that state for approximate
    * dedup, which would NOT hash-match a DISTINCT oracle. */
  def s03StreamDedup(s: SparkSession, dir: String): DataFrame =
    runStream(s, "s03", MemorySink("append"))(stagedTable(s, dir, "events")) { src =>
      src().filter(col("event_type").isin("click", "purchase"))
        .select(col("user_id"), col("event_type"), to_date(col("ts")).as("d"))
        .dropDuplicates("user_id", "event_type", "d")
    }.orderBy("user_id", "event_type", "d")

  /** s04 — custom-state sessionization through the gate: the
    * flatMapGroupsWithState gap-sessionizer (StreamingSessionize, q21's
    * stateful twin) over the click stream, with event-time timeouts
    * closing idle sessions. Append mode emits a session only when it
    * CLOSES: by gap (a later event for the same user opens the next
    * session) or by watermark timeout (the no-data final micro-batch
    * fires timers once the watermark reaches last-activity + gap). A
    * user's final session whose timer the terminal watermark
    * (max click time − 10 min delay) never reaches stays open and is
    * NOT emitted — the oracle encodes exactly that emit rule, making
    * "incremental state machine ≡ batch window query, minus the
    * still-open tail" a checked invariant rather than a hope.
    * total_value is spec-covered but not gated: it accumulates doubles
    * in per-batch order, which no SQL oracle can replay. */
  def s04StreamSessionize(s: SparkSession, dir: String): DataFrame =
    runStream(s, "s04", MemorySink("append"))(stagedTable(s, dir, "events")) { src =>
      import graft.streaming.StreamingSessionize
      implicit val enc = org.apache.spark.sql.Encoders.product[StreamingSessionize.Click]
      val clicks = src().filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("value"))
        .as[StreamingSessionize.Click]
      StreamingSessionize.sessions(clicks, "10 minutes").toDF()
        .select("user_id", "sess_start_us", "n_events", "duration_sec")
    }.orderBy("user_id", "sess_start_us")

  /** s05 — the streaming ingest path end-to-end (SURVEY §2.10's
    * readStream → watermarked dedup → foreachBatch idempotent upsert,
    * `StreamingIngest`): events become User nodes, each micro-batch
    * upserts latest-per-uid into a parquet node store, and the FINAL
    * STORE STATE — not a sink stream — is checked against a
    * latest-event-per-user SQL oracle. This is the MERGE contract (S4,
    * `facilities.py:110`) proven under streaming delivery: re-delivered
    * batches and no-data batches leave the store byte-identical.
    * Determinism note: (uid, event ts) is unique in this corpus, so
    * latest-per-uid has no ties; audit columns (created_at/updated_at
    * ride the wall clock) are excluded from the gated projection. */
  def s05StreamUpsert(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.StreamingIngest
    def store(state: Path) = state.resolve("nodes").toString
    // the upsert store's final state is identical without the trailing
    // no-data batch (see noTrailingBatch), which would otherwise rewrite
    // the whole store from an empty input
    runStream(s, "s05",
      BatchSink(st => StreamingIngest.upsertBatch(store(st), Seq("last_type", "last_value")),
        st => StateVersions.current(s, store(st))
          .select(col("uid"), col("last_type"), col("last_value"))),
      extraConf = noTrailingBatch)(stagedTable(s, dir, "events")) { src =>
      val nodes = src().select(
        lit("User").as("label"),
        concat(lit("User:"), col("user_id")).as("uid"),
        concat(lit("user_"), col("user_id")).as("name"),
        col("event_type").as("last_type"),
        col("value").as("last_value"),
        col("ts").as("created_at"),
        col("ts").as("updated_at"))
      StreamingIngest.dedup(nodes, "uid", "updated_at", "1 hour")
    }.orderBy("uid")
  }

  /** s06 — stream-static dimension enrichment: the event stream joined
    * to the static customer table (the reference's pre-fetched facility
    * dimension, J1, under streaming delivery), aggregated per market
    * segment. The static side is planned per micro-batch as a broadcast
    * — stream rows never shuffle for the join, the shape that holds
    * when the stream is 100 TB/day and the dimension is megabytes. The
    * value sum rides decimal so per-batch accumulation order can't
    * drift from the batch oracle. */
  def s06StreamEnrich(s: SparkSession, dir: String): DataFrame = {
    val cust = broadcast(graft.core.Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_mktsegment")))
    runStream(s, "s06", MemorySink("complete"))(stagedTable(s, dir, "events")) { src =>
      src().join(cust, col("user_id") === col("c_custkey"))
        .groupBy(col("c_mktsegment").as("segment"))
        .agg(count(lit(1)).as("cnt"),
          round(sum(col("value").cast("decimal(18,6)")), 2).cast("double")
            .as("total_value"))
    }.orderBy("segment")
  }

  /** s07 — watermarked stream-stream LEFT OUTER interval join: s02's
    * click⋈error join, but clicks with no error in their trailing
    * 30-minute window must ALSO emit, null-padded — which only happens
    * when the watermark proves no future match can arrive. A single
    * AvailableNow pass over one file would end before the watermark
    * ever passes the data (outer rows are emitted by the NEXT batch's
    * state eviction, and Spark does not flush open state at stop), so
    * the staging writes two far-future sentinel rows as separate files:
    * batch 1's sentinel (max+2h) lifts both sides' watermarks past
    * every real row, and batch 2 exists so that lifted watermark
    * actually runs eviction — exactly how a production stream drains a
    * quiet topic (heartbeat events), reproduced deterministically.
    * Sentinels carry user_id −1 (joinable only with themselves) and are
    * dropped from the gated result after the sink; the oracle is the
    * plain batch LEFT JOIN.
    */
  def s07StreamOuterJoin(s: SparkSession, dir: String): DataFrame =
    runStream(s, "s07", MemorySink("append"))(
      stagedTable(s, dir, "events", sentinels = true)) { src =>
      val clicks = src().filter(col("event_type").isin("click", "sentinel"))
        .select(col("event_id").as("c_event"), col("user_id").as("c_user"),
          col("ts").as("c_ts"))
        .withWatermark("c_ts", "1 hour")
      val errors = src().filter(col("event_type").isin("error", "sentinel"))
        .select(col("event_id").as("e_event"), col("user_id").as("e_user"),
          col("ts").as("e_ts"))
        .withWatermark("e_ts", "1 hour")
      clicks.join(errors,
        expr("c_user = e_user AND e_ts BETWEEN c_ts - INTERVAL 30 MINUTES AND c_ts"),
        "leftOuter")
        .select(col("c_event"), col("e_event"), col("c_user").as("user_id"))
    }.filter(col("user_id") >= 0).orderBy("c_event", "e_event")

  /** s08 — the Spark 4 `transformWithState` surface through the gate
    * (`StreamingActivity`): per-user click rollups held in typed
    * ValueState, each emitted exactly once by an explicit event-time
    * timer when the watermark passes last-activity + 30 min. Runs on
    * RocksDB state (the API requires it — also the store a production
    * stream runs). The sentinel staging drives the watermark past
    * every real user's timer, so the emitted set is exactly the batch
    * per-user aggregate — which is the oracle. Only order-insensitive
    * aggregates (count/min/max) live in state, so intra-batch row
    * order cannot leak into the result.
    */
  def s08StreamRollup(s: SparkSession, dir: String): DataFrame =
    runStream(s, "s08", MemorySink("append"),
      extraConf = Map("spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"))(
      stagedTable(s, dir, "events", sentinels = true)) { src =>
      import graft.streaming.StreamingActivity
      implicit val enc = org.apache.spark.sql.Encoders.product[StreamingActivity.Click]
      val clicks = src().filter(col("event_type").isin("click", "sentinel"))
        .select(col("user_id"), col("ts"))
        .as[StreamingActivity.Click]
      StreamingActivity.rollups(clicks, "1 hour").toDF()
    }.filter(col("user_id") >= 0)
      .orderBy("user_id")

  /** Stage a table's parquet into a stream-source dir. A
    * driver-generated table is ONE file; a Spark-written one (the
    * ScaleGen stress corpora) is a DIRECTORY of part files — those
    * stage one file per part, name-ordered with ascending modification
    * times, so the file stream replays them as real consecutive
    * micro-batches (a plain Files.copy of a directory would stage an
    * EMPTY directory and the stream would silently process nothing —
    * the round-9 s15 stress reading caught exactly that). Contract for
    * watermarked streams: part-id order must ascend in EVENT TIME
    * (ScaleGen writes events repartitionByRange(ts), and the runner
    * fails the query on any row dropped by watermark if a corpus
    * violates this). Sentinel heartbeats are staged separately with
    * LATER mtimes. */
  private def stageTable(dir: String, table: String, streamDir: Path): Unit = {
    val src = Paths.get(s"$dir/$table.parquet")
    val base = System.currentTimeMillis() - 3600000L
    if (Files.isDirectory(src)) {
      val parts = {
        val l = Files.list(src)
        try {
          val b = Seq.newBuilder[Path]
          l.forEach(p =>
            if (p.getFileName.toString.endsWith(".parquet")) b += p)
          b.result().sortBy(_.getFileName.toString)
        } finally l.close()
      }
      require(parts.nonEmpty, s"$src: no part files to stage")
      parts.zipWithIndex.foreach { case (p, i) =>
        val dst = streamDir.resolve(f"$i%03d_$table.parquet")
        Files.copy(p, dst)
        Files.setLastModifiedTime(dst,
          java.nio.file.attribute.FileTime.fromMillis(base + i * 1000L))
      }
    } else {
      val dst = streamDir.resolve(s"000_$table.parquet")
      Files.copy(src, dst)
      Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(base))
    }
  }

  /** Stage a table into `n` slice files (slice = rows where `k` = 0..n−1)
    * with ascending modification times, in ONE Spark job: hash-partition
    * on the slice key (equal keys land in exactly one partition, so
    * `partitionBy` writes exactly one part file per slice; unlike a range
    * partitioning, no job samples the key's bounds first) and move each
    * part into the watch dir. The per-slice `filter → coalesce(1) → write`
    * loop this replaces paid one full scan+write job PER SLICE (guide
    * §2.4: one exchange where the data is already keyed the way the
    * output needs). Row ORDER within a slice is shuffle-arrival order —
    * callers' per-batch folds must be (and are) order-free or explicitly
    * re-ordered: s18's CC and s20's count/xor manifest are commutative,
    * s19 ranks by (doc_id, pos) inside the batch. */
  private def stageSlices(df: DataFrame, k: Column, n: Int,
                          streamDir: Path, scratch: Path): Unit = {
    val outDir = scratch.resolve("slices")
    df.withColumn("_k", k.cast("int"))
      .repartition(n, col("_k"))
      .write.partitionBy("_k").mode("overwrite").parquet(outDir.toString)
    (0 until n).foreach { i =>
      val sliceDir = outDir.resolve(s"_k=$i")
      require(Files.isDirectory(sliceDir),
        s"stageSlices: slice $i is empty — every slice must hold rows " +
          "(the staged stream would otherwise skip a planned micro-batch)")
      val part = {
        val l = Files.list(sliceDir)
        try l.filter(p => p.getFileName.toString.startsWith("part-") &&
          p.getFileName.toString.endsWith(".parquet")).findFirst.get
        finally l.close()
      }
      val dst = streamDir.resolve(f"00$i%d_slice.parquet")
      Files.move(part, dst)
      Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - 60000L + i * 10000L))
    }
  }

  /** Write the two heartbeat files into the watch directory: sentinel
    * rows (event_type 'sentinel', user_id -1, ts max+2h and max+4h)
    * arrive as micro-batches after every staged part and exist to
    * ADVANCE THE WATERMARK past every real row after the data has all
    * arrived — the deterministic replay of a production stream draining
    * a quiet topic via heartbeats. Outer joins need it to emit
    * null-padded rows, timer-based operators to fire their last timers;
    * callers filter `user_id >= 0` to drop sentinel-derived rows. Both
    * files' modification times are pinned so the file source processes
    * events -> sentinel1 -> sentinel2 (a sentinel processed first would
    * put every real row below the watermark and drop it). */
  private def stageSentinels(s: SparkSession, dir: String,
                             schema: StructType,
                             streamDir: Path, scratch: Path): Unit = {
    val raw = s.read.parquet(s"$dir/events.parquet")
    val tsIsLong =
      raw.schema("ts").dataType == org.apache.spark.sql.types.LongType
    val maxTs = raw.agg(max("ts")).head.get(0)
    Seq(1, 2).foreach { i =>
      val tsCol =
        if (tsIsLong) lit(maxTs.asInstanceOf[Long] + i * 7200L * 1000000000L)
        else lit(maxTs) + expr(s"INTERVAL ${2 * i} HOURS")
      val cols = schema.fields.map { f =>
        (f.name match {
          case "ts"         => tsCol
          case "event_id"   => lit(-i.toLong)
          case "user_id"    => lit(-1L)
          case "event_type" => lit("sentinel")
          case "value"      => lit(0.0)
          case "props"      => lit("{}")
          case _            => lit(null)
        }).cast(f.dataType).as(f.name)
      }
      val outDir = scratch.resolve(s"sent$i")
      s.range(1).select(cols.toSeq: _*).coalesce(1)
        .write.mode("overwrite").parquet(outDir.toString)
      val part = {
        val l = Files.list(outDir)
        try l.filter(p => p.getFileName.toString.startsWith("part-") &&
          p.getFileName.toString.endsWith(".parquet")).findFirst.get
        finally l.close()
      }
      // 'zz' prefix + late mtimes: sentinels sort and arrive AFTER
      // every staged part. The mtime is derived from the LAST file
      // already in the dir (parts, then sentinel 1 for sentinel 2) + a
      // margin — a wall-clock offset would invert the ordering for
      // tables with more than ~3.5k parts (round-10 ADVICE fix)
      val staged = {
        val l = Files.list(streamDir)
        try {
          var m = 0L
          l.forEach(p => m = math.max(m, Files.getLastModifiedTime(p).toMillis))
          m
        } finally l.close()
      }
      val dst = streamDir.resolve(f"zz$i%d_sentinel.parquet")
      Files.move(part, dst)
      Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(staged + 10000L))
    }
  }

  /** s09 — bounded-state streaming dedup, the scale-correct variant s03's
    * note promises: `dropDuplicatesWithinWatermark` holds a key's state
    * only until the watermark passes its event time + delay, so state is
    * bounded by the dedup HORIZON (48h here), not by the all-time key
    * cardinality s03 accumulates. The operational contract: the result
    * equals exact distinct iff every duplicate of a key arrives within
    * the delay of its first occurrence — true here by construction (a
    * key's duplicates span < 24h of event time and the staged replay
    * delivers in event-time order), so the exact-distinct oracle is the
    * honest check, and at 100 TB/day the state store carries two days,
    * not forever. Keys project AFTER the dedup: the first-seen winner
    * within a micro-batch is arrival-order-dependent, but its key
    * columns are not. */
  def s09StreamDedupBounded(s: SparkSession, dir: String): DataFrame =
    runStream(s, "s09", MemorySink("append"), extraConf = noTrailingBatch)(
      stagedTable(s, dir, "events")) { src =>
      src().filter(col("event_type").isin("view", "purchase"))
        .select(col("user_id"), col("event_type"), col("ts"),
          to_date(col("ts")).as("d"))
        .withWatermark("ts", "48 hours")
        .dropDuplicatesWithinWatermark("user_id", "event_type", "d")
        .select("user_id", "event_type", "d")
    }.orderBy("user_id", "event_type", "d")

  /** s10 — native `session_window` aggregation under streaming (q52's
    * incremental twin, and the built-in-operator counterpart of s04's
    * hand-rolled transformWithState sessionizer): merging session state
    * per user, append-mode emission when the watermark passes a
    * session's end. The sentinel heartbeats drive the watermark past
    * every real session (a click session's windows all end well before
    * sentinel ts − 1h), so the emitted set equals the batch
    * sessionization the oracle computes. Session-window state is
    * gap-bounded by construction — closed sessions leave the store at
    * watermark pass, so state carries only OPEN sessions regardless of
    * history length. Sentinel rows form their own user −1 session,
    * filtered after the sink. */
  def s10StreamSessionWindow(s: SparkSession, dir: String): DataFrame =
    runStream(s, "s10", MemorySink("append"))(
      stagedTable(s, dir, "events", sentinels = true)) { src =>
      src().filter(col("event_type").isin("click", "sentinel"))
        .withWatermark("ts", "1 hour")
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("value").cast("decimal(18,6)")), 2).cast("double")
            .as("total_value"))
        .select(col("user_id"),
          expr("unix_micros(sw.start)").as("sess_start_us"),
          expr("unix_micros(sw.end)").as("sess_end_us"),
          col("n_events"), col("total_value"))
    }.filter(col("user_id") >= 0).orderBy("user_id", "sess_start_us")

  /** s11 — streaming EDGE ingest (S5's relationship MERGE under
    * incremental delivery, completing s05's node side): events become
    * (User)-[:DID]->(Type) edges, each micro-batch folded into a
    * parquet edge store by the min/max monotone merge
    * (`StreamingIngest.upsertEdgeBatch`) — first_seen preserved across
    * re-delivery exactly like the reference's `created_at` MERGE
    * contract, last_seen advancing monotonically. The FINAL STORE
    * STATE is the gated result; the oracle is the batch group-by the
    * incremental merge must converge to regardless of how the stream
    * was batched. Watermarked dedup bounds in-flight state; the
    * merge's idempotency covers replays beyond the watermark. */
  def s11StreamEdgeUpsert(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.StreamingIngest
    def store(state: Path) = state.resolve("edges").toString
    // same trailing-batch argument as s05: min/max edge merge over an
    // empty batch is a no-op that would still rewrite the store
    runStream(s, "s11",
      BatchSink(st => StreamingIngest.upsertEdgeBatch(store(st)),
        st => StateVersions.current(s, store(st))),
      extraConf = noTrailingBatch)(stagedTable(s, dir, "events")) { src =>
      src().select(
        concat(lit("User:"), col("user_id")).as("src_uid"),
        concat(lit("Type:"), col("event_type")).as("dst_uid"),
        lit("DID").as("rel_type"),
        expr("unix_micros(ts)").as("first_us"),
        expr("unix_micros(ts)").as("last_us"),
        col("ts"))
        .withWatermark("ts", "1 hour")
        .dropDuplicates("src_uid", "dst_uid", "ts").drop("ts")
    }.orderBy("src_uid", "dst_uid")
  }

  /** s12 — streaming incremental rollup (q74's merge algebra across
    * micro-batches): the events table staged as FOUR files so
    * AvailableNow + maxFilesPerTrigger=1 delivers four batches; each
    * batch folds its rows into the (event_type, day) rollup state
    * ([[graft.streaming.StreamingIngest.rollupBatch]] — idempotent
    * under checkpoint replay because batch n always folds version n of
    * the state into version n+1): counts and decimal sums add, min/max
    * fold, and the result is the last version. The result hash-equals
    * the one-pass batch rollup precisely because the merge algebra is
    * associative — the row→batch split cannot matter, which is also
    * why the repartition(4) staging needs no determinism of its own.
    *
    * Scale: the 100 TB/day ingest shape — state sized by the rollup
    * key-space, two versions kept, zero base rescans. */
  def s12StreamRollupMerge(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.StreamingIngest
    def store(state: Path) = state.resolve("rollup").toString
    runStream(s, "s12",
      BatchSink(st => StreamingIngest.rollupBatch(store(st)),
        st => StateVersions.current(s, store(st))
          .withColumn("total", round(col("total"), 2).cast("double")))) { d =>
      s.read.parquet(s"$dir/events.parquet").repartition(4)
        .write.mode("overwrite").parquet(d.in.toString)
      s.read.parquet(d.in.toString).schema
    }(src => src()).orderBy("event_type", "d")
  }

  /** s13 — streaming CDC apply (q63's incremental twin): a change feed
    * of full-row updates/deletes with a per-change sequence number,
    * delivered file-by-file as micro-batches, folded into a
    * base-snapshot store by `StreamingIngest.cdcBatch`. The store keeps
    * seq-stamped TOMBSTONES for deletes, and a change applies only when
    * its seq ≥ the stored seq — which makes the final state independent
    * of batch arrival order AND of foreachBatch replay (a late older
    * update loses to the tombstone instead of resurrecting the key).
    * The feed is written partitioned by seq so AvailableNow +
    * maxFilesPerTrigger=1 delivers each seq level as its own batch, in
    * whatever order the source lists them.
    *
    * The oracle recomputes the final visible state in one pass
    * (latest change per key by seq, delete-wins, else apply over base)
    * — hash equality proves the incremental fold ≡ the batch CDC apply.
    * Scale: per batch the store rewrite is one full-outer join on the
    * key — the same MERGE every minutes-latency lakehouse feed runs;
    * at 100 TB the store would be key-partitioned so each batch
    * rewrites only the partitions its keys touch (the q68 dynamic-
    * overwrite law composed with this one). */
  def s13StreamCdcApply(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.StreamingIngest
    def store(state: Path) = state.resolve("snapshot").toString
    runStream(s, "s13",
      BatchSink(st => StreamingIngest.cdcBatch(store(st)),
        st => StateVersions.current(s, store(st))
          .filter(!col("deleted"))
          .select("c_custkey", "c_name", "c_acctbal")),
      eventTs = false) { d =>
      val base = graft.core.Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      // seed the store's version 0 with the base snapshot at seq 0,
      // nothing deleted
      StateVersions.seed(store(d.state),
        base.withColumn("seq", lit(0)).withColumn("deleted", lit(false)))
      // the change feed: deletes at seq 2, first updates at seq 1, a
      // second update wave at seq 3 (%33 ⊂ %11 — exercises the seq
      // gate), inserts as updates on unseen keys. %50∩%33 keys see
      // delete-then-higher-seq-update; %50∩%11 see update-then-delete.
      val changes = base.filter(col("c_custkey") % 50 === 0)
        .select(col("c_custkey"), lit(null).cast("string").as("c_name"),
          lit(null).cast("double").as("c_acctbal"), lit("D").as("op"),
          lit(2).as("seq"))
        .unionByName(base.filter(col("c_custkey") % 11 === 0)
          .select(col("c_custkey"), col("c_name"),
            (col("c_acctbal") + 10).as("c_acctbal"), lit("U").as("op"),
            lit(1).as("seq")))
        .unionByName(base.filter(col("c_custkey") % 33 === 0)
          .select(col("c_custkey"), col("c_name"),
            (col("c_acctbal") + 20).as("c_acctbal"), lit("U").as("op"),
            lit(3).as("seq")))
        .unionByName(base.filter(col("c_custkey") % 83 === 0)
          .select((col("c_custkey") + 2000000).as("c_custkey"), col("c_name"),
            col("c_acctbal"), lit("U").as("op"), lit(1).as("seq")))
      changes.repartition(1).write.partitionBy("seq")
        .mode("overwrite").parquet(d.in.toString)
      s.read.parquet(d.in.toString).schema
    }(src => src()).orderBy("c_custkey")
  }

  /** s14 — streaming RAG ingestion: the documents corpus arriving as a
    * stream (the reference's extraction → chunk flow run CONTINUOUSLY —
    * the shape a production Graph-RAG ingest has: new docs land, chunks
    * + uids + token counts flow out). Entirely stateless — explode +
    * substring + hash projections — so append mode needs no watermark
    * and each micro-batch is embarrassingly parallel; at 100 TB this is
    * the same plan over an arriving directory with maxFilesPerTrigger
    * batching the backlog. Gated hash-exactly against q85's batch
    * chunking law (minus the embedding join): incremental chunking
    * equals batch chunking.
    */
  def s14StreamRagIngest(s: SparkSession, dir: String): DataFrame =
    runStream(s, "s14", MemorySink("append"), eventTs = false)(
      stagedTable(s, dir, "documents")) { src =>
      val chunkText = col("t").substr((col("chunk_idx") * 500 + 1).cast("int"), lit(500))
      src().select(col("doc_id"), trim(col("text")).as("t"))
        .filter(length(col("t")) > 0)
        .select(col("doc_id"), col("t"),
          explode(sequence(lit(0L),
            ceil(length(col("t")) / lit(500.0)).cast("long") - 1)).as("chunk_idx"))
        .select(col("doc_id"), col("chunk_idx"),
          graft.core.Uid.uid(concat(lit("doc_"), col("doc_id"), lit("#"),
            col("chunk_idx"))).as("chunk_uid"),
          length(chunkText).cast("long").as("chunk_len"),
          size(split(trim(chunkText), "\\s+")).as("n_tokens"))
    }.orderBy("doc_id", "chunk_idx")

  /** s15 — streaming MinHash-LSH near-dup at ingest: the keeper table
    * (band-bucket → min doc_id) is maintained INCREMENTALLY over the
    * arriving document stream — the shape a 100 TB crawl pipeline
    * actually wants, where dedup state grows with the corpus and each
    * new batch both consults and extends it. The signature stage is
    * d07's stateless kernel ([[TextQueries.lshBandRows]]: per-row
    * minhash16 + banded md5, zero shuffle), so the only streaming state
    * is one (band, bh) → min(doc_id) row per bucket — the same
    * cardinality ANY dedup must hold. The dedup VERDICT (which doc
    * collapses onto which earlier keeper) then joins the corpus
    * against the streamed keeper table; min() keeps it arrival-order
    * deterministic, which is what makes the whole pipeline gateable
    * hash-exactly against the batch law. Complete mode at gate scale;
    * at production scale the same agg runs update-mode on RocksDB
    * with the verdict join consuming the changelog. */
  def s15StreamLshDedup(s: SparkSession, dir: String): DataFrame = {
    val keepers = runStream(s, "s15", MemorySink("complete"), eventTs = false)(
        stagedTable(s, dir, "documents")) { src =>
      TextQueries.lshBandRows(src().select(col("doc_id"), col("text")))
        .groupBy("band", "bh").agg(min("doc_id").as("keeper_id"))
    }
    val bands = TextQueries.lshBandRows(
      graft.core.Tables.documents(s, dir).select(col("doc_id"), col("text")))
    bands.join(keepers, Seq("band", "bh"))
      .filter(col("keeper_id") < col("doc_id"))
      .groupBy("doc_id").agg(min("keeper_id").as("dup_of"))
      .orderBy("doc_id")
  }

  /** s16 — streaming Count-Min: a04's profiling sketch maintained
    * INCREMENTALLY over the arriving event stream — the sketch cells
    * (4×256, the ONLY state) are a streaming count aggregate, so each
    * micro-batch's partial adds into the store exactly like a04's
    * per-day partials add map-side; the batch probe leg then estimates
    * off the streamed sketch. Gated against a04's one-pass oracle:
    * hash equality proves the incremental build reaches the same
    * sketch as the batch build — the merge law, a third way. */
  def s16StreamCountmin(s: SparkSession, dir: String): DataFrame = {
    def bucket(k: Column, r: Column): Column =
      substring(md5(concat(k.cast("string"), lit(":"), r.cast("string"))), 1, 2)
    val sketch = runStream(s, "s16", MemorySink("complete"))(
        stagedTable(s, dir, "events")) { src =>
      src().select(col("user_id"), explode(sequence(lit(0), lit(3))).as("r"))
        .groupBy(col("r"), bucket(col("user_id"), col("r")).as("bucket"))
        .agg(count(lit(1)).as("c"))
    }
    val probes = graft.core.Tables.events(s, dir)
      .groupBy("user_id").agg(count(lit(1)).as("exact_cnt"))
      .filter(col("user_id") <= 30)
      .select(col("user_id"), col("exact_cnt"),
        explode(sequence(lit(0), lit(3))).as("r"))
      .select(col("user_id"), col("exact_cnt"), col("r"),
        bucket(col("user_id"), col("r")).as("bucket"))
    probes.join(broadcast(sketch), Seq("r", "bucket"))
      .groupBy("user_id", "exact_cnt")
      .agg(min("c").as("cms_est"))
      .select(col("user_id"), col("exact_cnt"), col("cms_est"),
        (col("cms_est") >= col("exact_cnt")).as("no_underestimate"))
      .orderBy("user_id")
  }

  /** s17 — data quality on the firehose: q87's row-level expectation
    * shape (conditional-count violations) maintained as ONE streaming
    * aggregate over the arriving events — the publish gate a streaming
    * ingest needs (alert when a batch starts violating, without a
    * second scan). The rule battery folds map-side within each
    * micro-batch and the running totals are the only state (one row of
    * counters). The accepted-values set deliberately excludes real
    * event types so the battery provably discriminates. Gated against
    * the batch recomputation: incremental counting equals one-pass. */
  def s17StreamExpectations(s: SparkSession, dir: String): DataFrame = {
    val agg = runStream(s, "s17", MemorySink("complete"))(
        stagedTable(s, dir, "events")) { src =>
      src().agg(
        sum(when(col("user_id").isNull, 1L).otherwise(0L)).as("_r0"),
        sum(when(col("value").isNotNull && col("value") < 0, 1L).otherwise(0L)).as("_r1"),
        sum(when(col("event_type").isNotNull &&
          !col("event_type").isin("click", "view"), 1L).otherwise(0L)).as("_r2"),
        count(lit(1)).as("_n"))
    }
    agg.select(explode(array(
      struct(lit("not_null").as("rule"), lit("user_id").as("target"),
        col("_r0").as("n_bad")),
      struct(lit("non_negative").as("rule"), lit("value").as("target"),
        col("_r1").as("n_bad")),
      struct(lit("accepted_values").as("rule"), lit("event_type").as("target"),
        col("_r2").as("n_bad")),
      struct(lit("min_rows").as("rule"), lit("*").as("target"),
        when(col("_n") >= 1000L, 0L).otherwise(1L).as("n_bad")))).as("v"))
      .select(col("v.rule").as("rule"), col("v.target").as("target"),
        col("v.n_bad").as("n_bad"))
      .withColumn("ok", col("n_bad") === 0L)
      .orderBy("rule", "target")
  }

  /** s18 — incremental connected components under streaming delivery
    * ([[graft.streaming.StreamingCC]]): the events table arrives in
    * THREE forced micro-batches (event_id mod 3 slices,
    * maxFilesPerTrigger=1 — components genuinely form across batch
    * boundaries), each batch folds its bipartite co-click incidence
    * into a star-compressed component store (CC over star(v{n}) ∪
    * batch n → v{n+1} — O(vertices + batch) input per step, never the
    * history), and the FINAL STORE is projected exactly like g49 and checked
    * against the same batch recursive-CTE oracle. Star forests
    * preserve connectivity and the component minimum, so
    * "incremental ≡ batch" is an algebraic identity here, enforced by
    * hash — the strongest form of the §2.10 contract this suite
    * states. */
  def s18StreamComponents(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.StreamingCC
    val ev = graft.core.Tables(s, dir, "events")
    runStream(s, "s18",
      BatchSink(st => StreamingCC.mergeBatch(st.toString), { st =>
        // one window pass: each user's component minimum and size
        val comp = Window.partitionBy("component")
        StateVersions.current(s, st.toString)
          .filter(col("vid") % 2 === 0)
          .select(expr("vid div 2").as("user_id"), col("component"))
          .select(col("user_id"), min(col("user_id")).over(comp).as("component"),
            count(lit(1)).over(comp).as("comp_size"))
      })) { d =>
      stageSlices(ev, col("event_id") % 3, 3, d.in, d.scratch)
      ev.schema
    }(src => src()).orderBy("user_id")
  }

  /** s19 — streaming ExactSubstr dedup (d39's incremental twin, counts
    * form): documents arrive in doc_id-ordered slices (three files,
    * maxFilesPerTrigger=1), and each micro-batch scores its docs'
    * sliding k=8-word windows against the accumulated first-sight hash
    * store — a window is duplicated if its hash was first seen in an
    * EARLIER batch or earlier in this batch's own (doc_id, pos) order.
    * Because arrival order equals (doc_id, pos) order (slices are
    * contiguous doc ranges, docs never span a slice), the incremental
    * verdicts are IDENTICAL to d39's batch first-sight law, and the
    * gate checks that with the batch oracle. State is the first-sight
    * hash set — the cardinality any exact global dedup must hold
    * somewhere (s03's argument) — folded per batch into the next
    * version of the set, replay-idempotent like s18's store.
    *
    * Per doc: window count and duplicated-window count (the span merge
    * is d39's batch post-pass; counts are the streaming-side verdict a
    * cleaner acts on at ingest). */
  def s19StreamExactDedup(s: SparkSession, dir: String): DataFrame =
    runStream(s, "s19",
      BatchSink(st => graft.streaming.StreamingExactDedup.scoreBatch(st.toString),
        st => s.read.option("recursiveFileLookup", "true")
          .parquet(s"$st/verdicts")
          .select("doc_id", "n_windows", "n_dup")),
      eventTs = false) { d =>
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val maxId = docs.agg(max("doc_id")).head.getLong(0)
      val cut = maxId / 3 + 1
      // slice k = contiguous doc_id range [k·cut, (k+1)·cut) — integer
      // division reproduces the old range filters exactly
      stageSlices(docs, expr(s"doc_id div $cut"), 3, d.in, d.scratch)
      docs.schema
    }(src => src()).orderBy("doc_id")

  /** s20 — streaming release manifest (d42's incremental twin): docs
    * arrive in three slices and each micro-batch folds its per-shard
    * (count, char volume, xor fingerprint) into the next version of the
    * running manifest — counts ADD, fingerprints XOR, both associative and
    * commutative, so the final state equals the batch manifest from
    * ANY slicing or arrival order (no doc-order requirement, unlike
    * s19 — this is the strongest merge-law family). Gated against
    * d42's one-pass oracle; the operational story is a release
    * pipeline whose manifest is always current as shards ingest,
    * with O(shards) state. */
  def s20StreamManifest(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.StreamingManifest
    runStream(s, "s20",
      BatchSink(st => StreamingManifest.foldBatch(st.toString),
        st => StateVersions.current(s, st.toString)
          .select("shard", "n_docs", "n_chars", "content_fp")),
      eventTs = false) { d =>
      val docs = s.read.parquet(s"$dir/documents.parquet")
      // interleaved on purpose: order-free
      stageSlices(docs, col("doc_id") % 3, 3, d.in, d.scratch)
      docs.schema
    }(src => src()).orderBy("shard")
  }

  /** s21 — streaming sketch profile: the a02 mergeable-HLL law under
    * incremental delivery. Each micro-batch unions its per-key PARTIAL
    * sketches into the next version of the sketch state with
    * `hll_union_agg` ([[StreamingIngest.sketchBatch]] — a replayed
    * batch refolds the same prior version, so exactly-once holds on
    * top of a non-idempotent payload). Gated like a02: the merged row
    * counts must be EXACT (partial counts are associative), the merged
    * estimate within 5% of exact distinct — DuckDB's sketch differs
    * from DataSketches, so the law, not the bits, is the contract. */
  def s21StreamSketch(s: SparkSession, dir: String): DataFrame = {
    def store(state: Path) = state.resolve("sketches").toString
    runStream(s, "s21",
      BatchSink(st => graft.streaming.StreamingIngest.sketchBatch(store(st)), { st =>
        val merged = StateVersions.current(s, store(st))
          .select(col("event_type"), hll_sketch_estimate(col("sk")).as("est"),
            col("cnt").as("n_events"))
        val exact = graft.core.Tables.events(s, dir)
          .groupBy("event_type")
          .agg(countDistinct(col("user_id")).as("exact_users"),
            count(lit(1)).as("exact_events"))
        merged.join(exact, "event_type")
          .select(col("event_type"), col("exact_users"), col("n_events"),
            (col("n_events") === col("exact_events")).as("count_ok"),
            // a key without a sketch fails the gate
            coalesce(abs(col("est") - col("exact_users")) <=
              col("exact_users") * 0.05, lit(false)).as("sketch_ok"))
          .orderBy("event_type")
      }))(stagedTable(s, dir, "events"))(src => src())
  }

  /** s22 — STREAMING structured rule extraction (q110's incremental
    * twin, the reference's planned LLM ingestion run as documents
    * arrive): the bylaw fixture corpus staged as three parquet slices,
    * replayed one file per micro-batch through
    * [[graft.sources.RuleExtract.candidates]] — sentence explode +
    * anchored grammar, ALL stateless narrow ops, so the same codegen'd
    * plan runs per batch in append mode with zero state — into a
    * memory sink. Extraction is per-document, so incremental ≡ batch
    * from any slicing or arrival order; the gate hash-matches q110's
    * oracle exactly. The operational story: rules land in the graph as
    * their source documents ingest, no batch re-run. */
  def s22StreamRuleExtract(s: SparkSession, dir: String): DataFrame =
    runStream(s, "s22",
      MemorySink("append", _.orderBy("name", "branch", "stream")),
      eventTs = false) { d =>
      val docs = graft.sources.RuleExtract.fixtureDocs(
        graft.core.Tables.part(s, dir).select(col("p_partkey"), col("p_name")))
      // three part-files = three micro-batches (order is irrelevant:
      // extraction is stateless, unlike s19's order-pinned dedup)
      docs.repartition(3).write.mode("overwrite").parquet(d.in.toString)
      s.read.parquet(d.in.toString).schema
    }(src => graft.sources.RuleExtract.candidates(src()))

  /** s23 — the d48 quality classifier at INGEST: the same
    * hashed-feature linear scorer running per micro-batch over a
    * document stream. Stateless — each score depends only on its row —
    * so streaming ≡ batch by construction, and the gate enforces it
    * hash-exactly against d48's oracle. The 100 TB shape: corpus
    * filtering runs ON the firehose (each batch one narrow codegen'd
    * scan, no state store, no shuffle) instead of as a post-hoc
    * full-corpus pass. */
  def s23StreamQuality(s: SparkSession, dir: String): DataFrame =
    runStream(s, "s23", MemorySink("append", _.orderBy("doc_id")),
      eventTs = false) { d =>
      graft.core.Tables.documents(s, dir).select("doc_id", "text")
        .repartition(3).write.mode("overwrite").parquet(d.in.toString)
      s.read.parquet(d.in.toString).schema
    }(src => TextQueries.qualityClassify(src()))

  val queries: Map[String, QueryFn] = Map(
    "s23_stream_quality" -> (s23StreamQuality _),
    "s22_stream_rule_extract" -> (s22StreamRuleExtract _),
    "s21_stream_sketch" -> (s21StreamSketch _),
    "s20_stream_manifest" -> (s20StreamManifest _),
    "s19_stream_exact_dedup" -> (s19StreamExactDedup _),
    "s18_stream_components" -> (s18StreamComponents _),
    "s17_stream_expectations" -> (s17StreamExpectations _),
    "s16_stream_countmin" -> (s16StreamCountmin _),
    "s15_stream_lsh_dedup" -> (s15StreamLshDedup _),
    "s14_stream_rag_ingest" -> (s14StreamRagIngest _),
    "s13_stream_cdc_apply" -> (s13StreamCdcApply _),
    "s12_stream_rollup_merge" -> (s12StreamRollupMerge _),
    "s11_stream_edge_upsert" -> (s11StreamEdgeUpsert _),
    "s10_stream_session_window" -> (s10StreamSessionWindow _),
    "s09_stream_dedup_bounded" -> (s09StreamDedupBounded _),
    "s08_stream_rollup" -> (s08StreamRollup _),
    "s07_stream_outer_join" -> (s07StreamOuterJoin _),
    "s06_stream_enrich" -> (s06StreamEnrich _),
    "s01_stream_window" -> (s01StreamWindow _),
    "s02_stream_join"   -> (s02StreamJoin _),
    "s03_stream_dedup"  -> (s03StreamDedup _),
    "s04_stream_sessionize" -> (s04StreamSessionize _),
    "s05_stream_upsert" -> (s05StreamUpsert _))

  val oracles: Map[String, String] = Map(
    // s22: stateless per-doc extraction ⇒ the stream's append union
    // must hash-match q110's batch oracle row-for-row.
    // s23: stateless classifier — streaming result ≡ d48's batch oracle
    "s23_stream_quality" -> TextQueries.qualitySql,
    "s22_stream_rule_extract" -> DocQueries.ruleCandidateSql,
    // s21: exact counts + the tolerance booleans; the sketch estimate
    // itself is engine-internal (DuckDB's HLL differs bit-wise), so
    // the LAW is the gated value, same contract as a01/a02.
    "s21_stream_sketch" ->
      """SELECT event_type,
        | CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
        | CAST(count(*) AS BIGINT) AS n_events,
        | TRUE AS count_ok, TRUE AS sketch_ok
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // s20: d42's one-pass manifest — add/xor folds are order-free, so
    // the incremental state must land on it from any slicing.
    "s20_stream_manifest" ->
      """WITH m AS (
        |  SELECT
        |    CAST((strpos('0123456789abcdef',
        |      substr(md5(CAST(doc_id AS VARCHAR) || ':0'), 1, 1)) - 1) % 4
        |      AS INT) AS shard,
        |    length(text) AS n_chars,
        |    ('0x' || substr(md5(text), 1, 15))::BIGINT AS h
        |  FROM documents)
        |SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS n_chars,
        |  bit_xor(h) AS content_fp
        |FROM m GROUP BY shard ORDER BY shard""".stripMargin,
    // s19: d39's batch first-sight law in counts form — the
    // incremental state fold must reproduce the global row_number
    // verdicts exactly (doc-ordered arrival makes them identical).
    "s19_stream_exact_dedup" ->
      """WITH words AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
        |  FROM documents),
        |base AS (SELECT doc_id, CAST(len(w) AS INT) AS n_words, w FROM words),
        |sh AS (
        |  SELECT doc_id, CAST(i AS INT) AS pos,
        |    md5(array_to_string(w[i+1 : i+8], ' ')) AS h
        |  FROM base, unnest(range(0, n_words - 7)) AS t(i)
        |  WHERE n_words >= 8),
        |r AS (
        |  SELECT doc_id,
        |    row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
        |  FROM sh),
        |per AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_windows,
        |    CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
        |  FROM r GROUP BY doc_id)
        |SELECT b.doc_id, coalesce(p.n_windows, 0) AS n_windows,
        |  coalesce(p.n_dup, 0) AS n_dup
        |FROM base b LEFT JOIN per p USING (doc_id)
        |ORDER BY b.doc_id""".stripMargin,
    // s18: the BATCH component answer (g48/g49's recursive-CTE
    // closure) — the incremental star-compressed fold must land on it
    // exactly, from any batch slicing.
    "s18_stream_components" ->
      """WITH RECURSIVE c AS (
        |  SELECT DISTINCT user_id, CAST(floor(epoch(ts)/300) AS BIGINT) AS b
        |  FROM events WHERE event_type = 'click'),
        |p AS (
        |  SELECT DISTINCT a.user_id AS u1, b2.user_id AS u2
        |  FROM c a JOIN c b2 USING (b) WHERE a.user_id < b2.user_id),
        |adj AS (SELECT u1, u2 FROM p UNION ALL SELECT u2, u1 FROM p),
        |verts AS (SELECT DISTINCT user_id AS v FROM c),
        |reach AS (
        |  SELECT v, v AS r FROM verts
        |  UNION
        |  SELECT a.u2 AS v, reach.r FROM reach JOIN adj a ON a.u1 = reach.v),
        |comp AS (SELECT v AS user_id, min(r) AS component FROM reach GROUP BY v),
        |sz AS (SELECT component, CAST(count(*) AS BIGINT) AS comp_size
        |  FROM comp GROUP BY component)
        |SELECT user_id, component, comp_size FROM comp JOIN sz USING (component)
        |ORDER BY user_id""".stripMargin,
    // s17: the same rule battery recomputed one-pass over the full
    // events table — incremental violation counting equals batch.
    "s17_stream_expectations" ->
      """WITH a AS (SELECT
        |  sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS r0,
        |  sum(CASE WHEN value IS NOT NULL AND value < 0 THEN 1 ELSE 0 END) AS r1,
        |  sum(CASE WHEN event_type IS NOT NULL
        |    AND event_type NOT IN ('click','view') THEN 1 ELSE 0 END) AS r2,
        |  count(*) AS n FROM events),
        |r AS (
        |  SELECT 'not_null' AS rule, 'user_id' AS target,
        |    CAST(r0 AS BIGINT) AS n_bad FROM a
        |  UNION ALL SELECT 'non_negative', 'value', CAST(r1 AS BIGINT) FROM a
        |  UNION ALL SELECT 'accepted_values', 'event_type',
        |    CAST(r2 AS BIGINT) FROM a
        |  UNION ALL SELECT 'min_rows', '*',
        |    CAST(CASE WHEN n >= 1000 THEN 0 ELSE 1 END AS BIGINT) FROM a)
        |SELECT rule, target, n_bad, n_bad = 0 AS ok FROM r
        |ORDER BY rule, target""".stripMargin,
    // s16: a04's one-pass batch sketch law — incremental equals batch.
    "s16_stream_countmin" ->
      """WITH cells AS (
        |  SELECT r, substr(md5(user_id::VARCHAR || ':' || r::VARCHAR), 1, 2)
        |      AS bucket, count(*) AS c
        |  FROM events, range(4) t(r) GROUP BY 1, 2),
        |probes AS (
        |  SELECT user_id, count(*) AS exact_cnt FROM events
        |  GROUP BY user_id HAVING user_id <= 30),
        |pr AS (
        |  SELECT p.user_id, p.exact_cnt, r,
        |    substr(md5(p.user_id::VARCHAR || ':' || r::VARCHAR), 1, 2) AS bucket
        |  FROM probes p, range(4) t(r))
        |SELECT pr.user_id, pr.exact_cnt, CAST(min(c.c) AS BIGINT) AS cms_est,
        |  (CAST(min(c.c) AS BIGINT) >= pr.exact_cnt) AS no_underestimate
        |FROM pr JOIN cells c ON pr.r = c.r AND pr.bucket = c.bucket
        |GROUP BY pr.user_id, pr.exact_cnt ORDER BY pr.user_id""".stripMargin,
    // s15: the batch LSH keeper law — min doc_id per band bucket, each
    // doc's verdict the min keeper over its buckets — on the d07
    // minhash CTEs (identical md5 math both engines).
    "s15_stream_lsh_dedup" ->
      s"""WITH ${TextQueries.shingleCte}, mh AS (
        |  SELECT doc_id, j, min(md5(j || ':' || s)) AS mh
        |  FROM ex, range(16) t(j) GROUP BY doc_id, j
        |), bands AS (
        |  SELECT doc_id, j // 4 AS band, md5(string_agg(mh, '|' ORDER BY j)) AS bh
        |  FROM mh GROUP BY doc_id, j // 4
        |), keep AS (
        |  SELECT band, bh, min(doc_id) AS keeper_id FROM bands GROUP BY band, bh)
        |SELECT b.doc_id, min(k.keeper_id) AS dup_of
        |FROM bands b JOIN keep k ON b.band = k.band AND b.bh = k.bh
        |WHERE k.keeper_id < b.doc_id
        |GROUP BY b.doc_id ORDER BY doc_id""".stripMargin,
    // s14: q85's batch chunking law (minus the embedding join) — hash
    // equality proves incremental chunking equals batch chunking.
    "s14_stream_rag_ingest" ->
      """WITH d AS (
        |  SELECT doc_id, trim(text) AS t FROM documents
        |  WHERE length(trim(text)) > 0),
        |c AS (
        |  SELECT doc_id, t,
        |    unnest(range(0, CAST(ceil(length(t) / 500.0) AS BIGINT))) AS chunk_idx
        |  FROM d),
        |ch AS (
        |  SELECT doc_id, chunk_idx,
        |    substr(t, CAST(chunk_idx * 500 + 1 AS INT), 500) AS chunk
        |  FROM c)
        |SELECT doc_id, chunk_idx,
        |  substr(sha256('doc_' || doc_id || '#' || chunk_idx), 1, 16) AS chunk_uid,
        |  length(chunk) AS chunk_len,
        |  CAST(array_length(regexp_split_to_array(trim(chunk), '\s+')) AS INT)
        |    AS n_tokens
        |FROM ch ORDER BY doc_id, chunk_idx""".stripMargin,
    // s13: the oracle is the one-pass batch CDC apply over base ∪ feed
    // — latest change per key by seq, delete-wins, else apply — so hash
    // equality proves the per-batch seq-gated tombstone fold reaches
    // the same state from incremental delivery.
    "s13_stream_cdc_apply" ->
      """WITH changes AS (
        |  SELECT c_custkey, CAST(NULL AS VARCHAR) AS c_name,
        |         CAST(NULL AS DOUBLE) AS c_acctbal, 'D' AS op, 2 AS seq
        |  FROM customer WHERE c_custkey % 50 = 0
        |  UNION ALL
        |  SELECT c_custkey, c_name, c_acctbal + 10, 'U', 1
        |  FROM customer WHERE c_custkey % 11 = 0
        |  UNION ALL
        |  SELECT c_custkey, c_name, c_acctbal + 20, 'U', 3
        |  FROM customer WHERE c_custkey % 33 = 0
        |  UNION ALL
        |  SELECT c_custkey + 2000000, c_name, c_acctbal, 'U', 1
        |  FROM customer WHERE c_custkey % 83 = 0),
        |latest AS (
        |  SELECT * FROM (
        |    SELECT *, row_number() OVER (PARTITION BY c_custkey
        |      ORDER BY seq DESC) AS rn FROM changes)
        |  WHERE rn = 1)
        |SELECT COALESCE(l.c_custkey, b.c_custkey) AS c_custkey,
        |  CASE WHEN l.c_custkey IS NOT NULL THEN l.c_name
        |       ELSE b.c_name END AS c_name,
        |  CASE WHEN l.c_custkey IS NOT NULL THEN l.c_acctbal
        |       ELSE b.c_acctbal END AS c_acctbal
        |FROM customer b FULL OUTER JOIN latest l
        |  ON b.c_custkey = l.c_custkey
        |WHERE COALESCE(l.op, '') <> 'D'
        |ORDER BY c_custkey""".stripMargin,
    // s12: the oracle is the one-pass batch rollup — hash equality
    // proves the cross-batch partial merge exact (q74's gate, under
    // streaming delivery).
    "s12_stream_rollup_merge" ->
      """SELECT event_type, CAST(ts AS DATE) AS d,
        | CAST(count(*) AS BIGINT) AS cnt,
        | CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE)
        |   AS total,
        | min(value) AS vmin, max(value) AS vmax
        |FROM events GROUP BY 1, 2 ORDER BY event_type, d""".stripMargin,
    "s11_stream_edge_upsert" ->
      """SELECT 'User:' || user_id AS src_uid,
        |  'Type:' || event_type AS dst_uid, 'DID' AS rel_type,
        |  min(epoch_us(ts)) AS first_us, max(epoch_us(ts)) AS last_us
        |FROM events GROUP BY 1, 2, 3
        |ORDER BY src_uid, dst_uid""".stripMargin,
    "s10_stream_session_window" ->
      """WITH c AS (
        |  SELECT user_id, epoch_us(ts) AS us, value FROM events
        |  WHERE event_type = 'click'),
        |marked AS (
        |  SELECT user_id, us, value,
        |    CASE WHEN lag(us) OVER w IS NULL
        |           OR us - lag(us) OVER w >= 1800000000
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM c WINDOW w AS (PARTITION BY user_id ORDER BY us)),
        |sess AS (
        |  SELECT *, CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY us
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sn
        |  FROM marked)
        |SELECT user_id, min(us) AS sess_start_us,
        |  max(us) + 1800000000 AS sess_end_us,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_value
        |FROM sess GROUP BY user_id, sn
        |ORDER BY user_id, sess_start_us""".stripMargin,
    "s09_stream_dedup_bounded" ->
      """SELECT DISTINCT user_id, event_type, CAST(ts AS DATE) AS d
        |FROM events WHERE event_type IN ('view', 'purchase')
        |ORDER BY user_id, event_type, d""".stripMargin,
    "s08_stream_rollup" ->
      """SELECT user_id, CAST(count(*) AS BIGINT) AS n_clicks,
        |  min(epoch_us(ts)) AS first_us, max(epoch_us(ts)) AS last_us
        |FROM events WHERE event_type = 'click'
        |GROUP BY user_id ORDER BY user_id""".stripMargin,
    "s07_stream_outer_join" ->
      """SELECT c.event_id AS c_event, e.event_id AS e_event,
        |  c.user_id AS user_id
        |FROM (SELECT * FROM events WHERE event_type = 'click') c
        |LEFT JOIN (SELECT * FROM events WHERE event_type = 'error') e
        |  ON c.user_id = e.user_id
        | AND e.ts BETWEEN c.ts - INTERVAL 30 MINUTE AND c.ts
        |ORDER BY c_event, e_event""".stripMargin,
    "s06_stream_enrich" ->
      """SELECT c_mktsegment AS segment, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_value
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY c_mktsegment ORDER BY segment""".stripMargin,
    "s05_stream_upsert" ->
      """SELECT 'User:' || user_id AS uid,
        |  event_type AS last_type, value AS last_value
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id
        |        ORDER BY ts DESC) AS rn
        |      FROM events)
        |WHERE rn = 1 ORDER BY uid""".stripMargin,
    "s03_stream_dedup" ->
      """SELECT DISTINCT user_id, event_type, CAST(ts AS DATE) AS d
        |FROM events WHERE event_type IN ('click', 'purchase')
        |ORDER BY user_id, event_type, d""".stripMargin,
    "s04_stream_sessionize" ->
      """WITH clicks AS (
        |  SELECT user_id, epoch_us(ts) AS us FROM events
        |  WHERE event_type = 'click'),
        |marked AS (
        |  SELECT user_id, us,
        |    CASE WHEN lag(us) OVER w IS NULL OR us - lag(us) OVER w > 1800000000
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM clicks WINDOW w AS (PARTITION BY user_id ORDER BY us)),
        |sess AS (
        |  SELECT *, CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY us
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sn
        |  FROM marked),
        |agg AS (
        |  SELECT user_id, sn, min(us) AS sess_start_us,
        |    CAST(count(*) AS INT) AS n_events,
        |    CAST((max(us) - min(us)) // 1000000 AS BIGINT) AS duration_sec,
        |    max(us) AS last_us
        |  FROM sess GROUP BY user_id, sn),
        |wm AS (
        |  SELECT max(us) // 1000 - 600000 AS wm_ms FROM clicks)
        |SELECT user_id, sess_start_us, n_events, duration_sec
        |FROM agg, wm
        |WHERE (last_us + 1800000000) // 1000 < wm_ms
        |   OR sn < (SELECT max(sn) FROM agg a2 WHERE a2.user_id = agg.user_id)
        |ORDER BY user_id, sess_start_us""".stripMargin,
    "s02_stream_join" ->
      """SELECT c.event_id AS c_event, e.event_id AS e_event,
        |  c.user_id AS user_id
        |FROM (SELECT * FROM events WHERE event_type = 'click') c
        |JOIN (SELECT * FROM events WHERE event_type = 'error') e
        |  ON c.user_id = e.user_id
        | AND e.ts BETWEEN c.ts - INTERVAL 30 MINUTE AND c.ts
        |ORDER BY c_event, e_event""".stripMargin,
    "s01_stream_window" ->
      """SELECT CAST(floor(epoch(ts)/300)*300 AS BIGINT) AS win_start, event_type,
        | CAST(count(*) AS BIGINT) AS cnt,
        | CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1,2 ORDER BY win_start, event_type""".stripMargin)
}
