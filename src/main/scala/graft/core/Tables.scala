package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation,
  PartitioningAwareFileIndex}
import org.apache.spark.sql.functions.{expr, timestamp_micros}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** Parquet table access for the driver-generated corpus (TESTDATA.md).
  *
  * All reads go through here so scans stay declarative: Catalyst pushes
  * filters and prunes columns into the parquet scan (verify with
  * `.explain("formatted")` — look for PushedFilters / ReadSchema).
  */
object Tables {
  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    graft.GraftExtensions.register(spark) // engine SQL functions always on
    parquet(spark, s"$dir/$name.parquet")
  }

  /** `spark.read.parquet(path)`, without its footer-reading job after the
    * first read: the inferred schema is cached per path with the stamp it
    * was inferred under, and a later read whose stamp matches passes the
    * cached schema to the reader instead of inferring. The stamp is the
    * modification time and length of every file, taken from the file
    * index the reader builds anyway (so a cache hit lists the tree once,
    * as any read does, and runs no job), plus the parquet-to-Spark type
    * mappings the sessions vary (`nanosAsLong`, `inferTimestampNTZ`); a
    * rewritten table or a changed setting is inferred again. A partitioned
    * directory (the graph store's `label=`/`rel_type=` layout) works the
    * same way: the cached schema carries the partition columns, and every
    * leaf file is in the stamp. Footer decoding on the driver would avoid
    * even the first job but would re-implement Spark's footer merge and
    * type mapping; the cache reuses Spark's own answer. */
  def parquet(spark: SparkSession, path: String): DataFrame = {
    val settings = SchemaSettings.map(k => spark.conf.getOption(k))
    val hit = Option(schemas.get(path)).collect {
      case (`settings`, files, cached) => (files, spark.read.schema(cached).parquet(path))
    }.collect { case (files, df) if stamp(df).contains(files) => df }
    hit.getOrElse {
      val df = spark.read.parquet(path)
      stamp(df).foreach(files => schemas.put(path, (settings, files, df.schema)))
      df
    }
  }

  /** Cache the schema of the table just written at `path`, so its next
    * [[parquet]] read infers nothing: the writer knows what inference
    * would find, `written` (partition columns last) made [[nullable]].
    * The stamp comes from a file index over the fresh files. */
  def seed(spark: SparkSession, path: String, written: StructType): Unit = {
    val settings = SchemaSettings.map(k => spark.conf.getOption(k))
    val schema = nullable(written)
    stamp(spark.read.schema(schema).parquet(path))
      .foreach(files => schemas.put(path, (settings, files, schema)))
  }

  /** `schema` as a parquet read returns it: every field, array element
    * and map key/value nullable (Spark's own `asNullable` is private). */
  def nullable(schema: StructType): StructType = {
    def loose(t: DataType): DataType = t match {
      case s: StructType => nullable(s)
      case a: ArrayType => ArrayType(loose(a.elementType), containsNull = true)
      case m: MapType => MapType(loose(m.keyType), loose(m.valueType), valueContainsNull = true)
      case other => other
    }
    StructType(schema.fields.map(f => f.copy(dataType = loose(f.dataType), nullable = true)))
  }

  /** (path, modification time, length) of every file the read's file
    * index listed; None for a relation without one. */
  private def stamp(df: DataFrame): Option[Seq[(String, Long, Long)]] =
    df.queryExecution.analyzed.collectFirst { case l: LogicalRelation => l.relation }
      .collect { case r: HadoopFsRelation => r.location }
      .collect { case index: PartitioningAwareFileIndex =>
        index.allFiles().map(f => (f.getPath.toString, f.getModificationTime, f.getLen)).sorted
      }

  private val SchemaSettings = Seq("spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled")
  /** path → (settings and file stamp it was inferred under, schema); one
    * entry per path, replaced when either changes. */
  private val schemas = new java.util.concurrent.ConcurrentHashMap[String,
    (Seq[Option[String]], Seq[(String, Long, Long)], StructType)]()

  def lineitem(s: SparkSession, d: String): DataFrame  = apply(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame    = apply(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame  = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = apply(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame    = apply(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame    = apply(s, d, "region")
  /** The events table's `ts` arrives as TimestampType directly for a
    * micros-precision corpus. Older corpus generations stored parquet
    * TIMESTAMP(NANOS), which Spark has no native type for; sessions set
    * `spark.sql.legacy.parquet.nanosAsLong=true` so that variant arrives
    * as nano-epoch LongType and is converted to micros here — integral
    * `div`, not float division: nano epochs (~1.7e18) exceed double's
    * exact-integer range.
    */
  def events(s: SparkSession, d: String): DataFrame =
    withEventTs(apply(s, d, "events"))

  /** The `ts` normalization, shared by every reader of the events table
    * (batch above, streaming in queries.StreamQueries and the streaming
    * specs) so the paths can never drift apart. Handles every variant the
    * corpus can arrive as: nano-epoch LongType (legacy nanosAsLong),
    * TIMESTAMP_NTZ (sessions without inferTimestampNTZ=false — Structured
    * Streaming rejects NTZ event-time columns), and native TimestampType
    * (pass-through). */
  def withEventTs(raw: DataFrame): DataFrame =
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts",
          raw.col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  def documents(s: SparkSession, d: String): DataFrame = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")
}

/** Shared SparkSession factory for mains and tests: local mode sized for
  * the container (local[32]), shuffle partitions matched to cores (not
  * the 200 default, which just makes tiny scheduling overhead), AQE on
  * so skewed shuffles re-plan at runtime — the same settings that matter
  * on a real cluster, minus cluster-only knobs.
  */
object GraftSession {

  /** Size of Spark's JVM-wide cache of compiled generated classes
    * (`spark.sql.codegen.cache.maxEntries`, default 100). Every
    * whole-stage-codegen stage and generated projection is a class
    * compiled with Janino, once for the driver's class loader and once
    * for the executor's; an LRU smaller than the working set evicts each
    * class before it is used again, so every pass recompiles it. Measured
    * at sf0.001 on 4 cores: the benchmark's ETL + chat session fills 243
    * entries, its three loop kernels 177, and a sweep of all 314 queries
    * 4,068, plus 470 more on a second sweep; holding them all costs
    * 25–30 MB of metaspace. 8192 holds the whole query surface with
    * headroom (BENCH_NOTES "Generated-code reuse"). */
  val CodegenCacheEntries = 8192

  def local(cores: Int = 32, appName: String = "graft"): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Corpus timestamps are naive parquet micros; read them as the
      // session-UTC instant type (LTZ) so event-time semantics
      // (watermarks, unix_micros, window()) apply. NTZ inference would
      // make the same columns TIMESTAMP_NTZ, which Structured Streaming
      // rejects as an event-time column.
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      // static: read once, when the first session in the JVM creates the
      // cache, so it must be on the builder of that first session
      .config(CodegenCacheKey, CodegenCacheEntries.toString)
      .getOrCreate()
    val cacheEntries = spark.conf.get(CodegenCacheKey)
    require(cacheEntries == CodegenCacheEntries.toString,
      s"$CodegenCacheKey is $cacheEntries, not $CodegenCacheEntries: a SparkSession " +
        "was created in this JVM before GraftSession.local, and this static setting " +
        "cannot change after that; build the first session through GraftSession.local")
    spark.sparkContext.setLogLevel("WARN")
    graft.GraftExtensions.register(spark) // engine SQL functions always on
    // MV/aggregate-navigation rewrite, through the public end-of-optimizer
    // hook; a no-op while MvRegistry is empty
    if (!spark.experimental.extraOptimizations.contains(graft.plans.MvRewrite)) {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.MvRewrite
    }
    spark
  }

  private val CodegenCacheKey = "spark.sql.codegen.cache.maxEntries"
}
