package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8
import java.util.EnumSet

import org.apache.hadoop.fs.{CreateFlag, FileContext, Options, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/** The stored state of a `foreachBatch` sink: one replay rule for every
  * stream that folds its micro-batches into parquet.
  *
  *  - batch n reads version min(current, n) of `root` (`v{k}`), or the
  *    caller's empty frame when there is none;
  *  - it writes the folded state to `v{n+1}`;
  *  - one `_CURRENT` file, replaced atomically by a rename, publishes it:
  *    the version number and the written schema (nullable, as parquet
  *    reads it back), so a read passes the schema and infers nothing;
  *  - every version older than the previous one is deleted.
  *
  * A retried batch n therefore reads the same v{n} and writes the same
  * v{n+1}, whether it failed before the publish (v{n+1} is overwritten
  * and never was visible) or after it (v{n+1} is already current and is
  * left as it is). A stream keeps at most two versions, and a reader
  * never sees a half-written one. Everything goes through Hadoop's
  * `FileContext`, so the state can live on any Hadoop filesystem.
  */
object StateVersions {

  /** The state batch `batchId` folds into, or `empty` when `root` has no
    * such version (before the first batch, unless a version 0 was seeded). */
  def read(s: SparkSession, root: String, batchId: Long, empty: => DataFrame): DataFrame =
    pointer(s, root).map { case (cur, schema) => (dir(root, math.min(cur, batchId)), schema) }
      .filter { case (d, _) => context(s, root).util.exists(d) }
      .fold(empty) { case (d, schema) => s.read.schema(schema).parquet(d.toString) }

  /** The published state: what the last batch wrote. */
  def current(s: SparkSession, root: String): DataFrame =
    read(s, root, Long.MaxValue, sys.error(s"StateVersions: no published state under $root"))

  /** Batch `batchId`'s fold of `rows` into the state: `f` of the prior
    * state (`rows`' empty frame before the first version) union `rows`. */
  def fold(root: String, batchId: Long, rows: DataFrame)(f: DataFrame => DataFrame): Unit =
    write(root, batchId, f(read(rows.sparkSession, root, batchId, rows.limit(0)).unionByName(rows)))

  /** Write `state` as version `batchId + 1`, publish it and drop every
    * version before `batchId`. A replayed batch whose version is already
    * published writes nothing. */
  def write(root: String, batchId: Long, state: DataFrame): Unit = {
    val s = state.sparkSession
    val next = batchId + 1
    if (pointer(s, root).forall(_._1 < next)) {
      state.write.mode("overwrite").parquet(dir(root, next).toString)
      val fc = context(s, root)
      val tmp = new Path(root, "_CURRENT.tmp")
      val out = fc.create(tmp, EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
      try out.write(s"$next\n${graft.core.Tables.nullable(state.schema).json}\n".getBytes(UTF_8))
      finally out.close()
      fc.rename(tmp, new Path(root, "_CURRENT"), Options.Rename.OVERWRITE)
      fc.util.listStatus(new Path(root)).map(_.getPath)
        .filter(p => p.getName.matches("v\\d+") && p.getName.drop(1).toLong < batchId)
        .foreach(fc.delete(_, true))
    }
  }

  /** Seed `root` with `state` as version 0, the prior of batch 0. */
  def seed(root: String, state: DataFrame): Unit = write(root, -1L, state)

  private def dir(root: String, version: Long): Path = new Path(root, s"v$version")

  private def context(s: SparkSession, root: String): FileContext =
    FileContext.getFileContext(new Path(root).toUri, s.sparkContext.hadoopConfiguration)

  /** The published version and its schema, from `_CURRENT`. */
  private def pointer(s: SparkSession, root: String): Option[(Long, StructType)] = {
    val p = new Path(root, "_CURRENT")
    val fc = context(s, root)
    Option.when(fc.util.exists(p)) {
      val in = fc.open(p)
      val Array(version, schema) = try new String(in.readAllBytes(), UTF_8).trim.split("\n")
        finally in.close()
      (version.toLong, DataType.fromJson(schema).asInstanceOf[StructType])
    }
  }
}
