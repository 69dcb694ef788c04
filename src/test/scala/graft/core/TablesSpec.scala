package graft.core

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser

import graft.SparkSpec

/** `Tables` reads a parquet table with a cached schema in place of
  * `spark.read.parquet(path)`'s inference; it must never serve a schema
  * Spark would not infer now. The fixture is
  * written without Spark's schema metadata, as external corpus files are,
  * so the schema-shaping settings (`nanosAsLong` for TIMESTAMP(NANOS),
  * `inferTimestampNTZ` for zone-less timestamps) really change it. */
class TablesSpec extends SparkSpec {

  private def writeParquet(path: Path, columns: Seq[String]): Unit = {
    val schema = MessageTypeParser.parseMessageType(
      columns.map(c => s"required $c;").mkString("message t { ", " ", " }"))
    val w = ExampleParquetWriter.builder(path).withType(schema)
      .withConf(spark.sparkContext.hadoopConfiguration)
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE).build()
    val row = new SimpleGroupFactory(schema).newGroup()
    Seq("ts" -> 1700000000000000000L, "tm" -> 1700000000000000L).foreach { case (c, v) =>
      if (schema.containsField(c)) row.append(c, v)
    }
    try w.write(row) finally w.close()
  }

  private val settings = Seq("spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled")

  private def withSettings[A](nanosAsLong: Boolean, ntz: Boolean)(f: => A): A = {
    val prev = settings.map(k => k -> spark.conf.get(k))
    spark.conf.set(settings(0), nanosAsLong.toString)
    spark.conf.set(settings(1), ntz.toString)
    try f finally prev.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("cached schema equals Spark's inference under both settings and after a rewrite") {
    val dir = java.nio.file.Files.createTempDirectory("graft-tables-schema")
    val path = s"$dir/t.parquet"
    def cached = Tables(spark, dir.toString, "t").schema
    try {
      writeParquet(new Path(path), Seq("int64 ts (TIMESTAMP(NANOS,false))",
        "int64 tm (TIMESTAMP(MICROS,false))"))
      val seen = for (ntz <- Seq(false, true, false)) yield withSettings(nanosAsLong = true, ntz) {
        val s = cached
        assert(s === spark.read.parquet(path).schema, s"inferTimestampNTZ=$ntz")
        assert(cached === s, "a repeated read changed the schema")
        s
      }
      assert(seen(0) !== seen(1), "the fixture should make inferTimestampNTZ matter")
      // without nanosAsLong Spark has no type for TIMESTAMP(NANOS): the
      // cached schema must not hide that
      withSettings(nanosAsLong = false, ntz = false) {
        intercept[Exception](spark.read.parquet(path).schema)
        intercept[Exception](cached)
      }
      // rewritten in place with another column set: inferred again
      val before = withSettings(nanosAsLong = true, ntz = false)(cached)
      writeParquet(new Path(path), Seq("int64 tm (TIMESTAMP(MICROS,false))"))
      withSettings(nanosAsLong = true, ntz = false) {
        val after = cached
        assert(after === spark.read.parquet(path).schema)
        assert(after !== before)
      }
    } finally TempDirs.deleteQuietly(dir, "tables-spec")
  }

  test("a partitioned store directory has Spark's schema, and a rewrite is inferred again") {
    val dir = java.nio.file.Files.createTempDirectory("graft-tables-store")
    val path = s"$dir/nodes"
    def write(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.mode("overwrite").partitionBy("label").parquet(path)
    try {
      write(spark.range(4).selectExpr("CAST(id AS STRING) AS uid",
        "IF(id % 2 = 0, 'Facility', 'WasteItem') AS label"))
      val before = Tables.parquet(spark, path).schema
      assert(before === spark.read.parquet(path).schema)
      assert(before.fieldNames.last === "label", "the partition column is read last")
      assert(Tables.parquet(spark, path).schema === before, "a repeated read changed the schema")
      // rewritten with one more column and another partition value
      write(spark.range(3).selectExpr("CAST(id AS STRING) AS uid", "id AS rank",
        "IF(id = 0, 'WasteStream', 'WasteItem') AS label"))
      val after = Tables.parquet(spark, path)
      assert(after.schema === spark.read.parquet(path).schema)
      assert(after.schema !== before)
      assert(after.groupBy("label").count().collect().map(r => r.getString(0) -> r.getLong(1))
        .toMap === Map("WasteStream" -> 1L, "WasteItem" -> 2L))
    } finally TempDirs.deleteQuietly(dir, "tables-spec")
  }

  test("a table read through Tables has Spark's schema") {
    val dir = java.nio.file.Files.createTempDirectory("graft-tables-read")
    try {
      spark.range(5).selectExpr("id AS r_regionkey", "CAST(id AS STRING) AS r_name")
        .write.parquet(s"$dir/region.parquet")
      assert(Tables.region(spark, dir.toString).schema ===
        spark.read.parquet(s"$dir/region.parquet").schema)
      assert(Tables.region(spark, dir.toString).count() === 5)
    } finally TempDirs.deleteQuietly(dir, "tables-spec")
  }
}
