package graft.etl

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Uid

/** Phase-2 ETL: Abfall-ABC CSV → WasteItem/WasteStream nodes +
  * DISPOSED_IN/DISPOSED_AT edges (reference `waste_items.py:251-429`,
  * SURVEY.md §3.2).
  *
  * The reference runs ~1,600 per-row Cypher round-trips; here the whole
  * phase is a fixed set of declarative Spark jobs whatever the row count
  * (14 to 15 on the benchmark's store: the CSV read, checkpoints, AQE
  * shuffle stages, schema inference and the two writes). The
  * facility dimension — pre-fetched into a Python set in the reference
  * (`waste_items.py:302-305`) — becomes a broadcast join build side, the
  * same idea expressed so Catalyst can pick the physical plan.
  */
object WasteItems {

  private val parseTargetsUdf =
    udf((s: String) => WasteParse.parseTargets(Option(s).getOrElse("")))

  /** S2: multiline-quoted CSV source → (name, target) exploded rows.
    * Filters P2 (blank name) and P3 (section markers) run before the
    * parse so the UDF only sees real rows.
    */
  def loadTargets(spark: SparkSession, path: String): DataFrame =
    spark.read
      .option("header", "true").option("multiLine", "true").option("escape", "\"")
      .csv(path)
      .filter(!(length(trim(col("Abfallart"))) === 1 &&
        trim(col("Abfallart")).rlike("^\\p{L}$") &&
        trim(coalesce(col("Entsorgungsweg"), lit(""))) === ""))
      .select(trim(col("Abfallart")).as("item_name"),
        parseTargetsUdf(col("Entsorgungsweg")).as("targets"))
      .filter(col("item_name") =!= "")

  /** WasteItem nodes: distinct by name (the reference MERGEs per name,
    * `waste_items.py:366-373`), uid = F1. */
  def itemNodes(targets: DataFrame): DataFrame =
    targets.select(col("item_name").as("name")).distinct()
      .select(lit("WasteItem").as("label"), Uid.uid(col("name")).as("uid"), col("name"))

  /** Exploded (item, target, kind) classification — J1: target ∈
    * WASTE_STREAMS literal set → stream, else facility
    * (`waste_items.py:284-299`; facility existence is resolved at edge
    * build, matching the reference's MATCH-or-warn).
    */
  def classified(targets: DataFrame): DataFrame =
    targets.select(col("item_name"), explode(col("targets")).as("target"))
      .withColumn("kind",
        when(col("target").isin(WasteParse.wasteStreams.toSeq: _*), "stream")
          .otherwise("facility"))

  /** WasteStream nodes from the stream-classified targets
    * (`waste_items.py:383-396`). */
  def streamNodes(cls: DataFrame): DataFrame =
    cls.filter(col("kind") === "stream").select(col("target").as("name")).distinct()
      .select(lit("WasteStream").as("label"), Uid.uid(col("name")).as("uid"), col("name"))

  /** Edges: DISPOSED_IN (item→stream, stream auto-created) and
    * DISPOSED_AT (item→facility, inner join — facility must exist,
    * J2). `facilities` must have (uid, name). Returns edge-shaped rows.
    */
  def edges(cls: DataFrame, facilities: DataFrame, clock: Column): DataFrame = {
    val itemUid = Uid.uid(col("item_name"))
    val disposedIn = cls.filter(col("kind") === "stream").select(
      itemUid.as("src_uid"), Uid.uid(col("target")).as("dst_uid"),
      lit("DISPOSED_IN").as("rel_type"),
      lit("WasteItem").as("src_label"), lit("WasteStream").as("dst_label"))
    val disposedAt = cls.filter(col("kind") === "facility")
      .join(broadcast(facilities.select(col("uid").as("f_uid"), col("name").as("f_name"))),
        col("target") === col("f_name"))
      .select(itemUid.as("src_uid"), col("f_uid").as("dst_uid"),
        lit("DISPOSED_AT").as("rel_type"),
        lit("WasteItem").as("src_label"), lit("Facility").as("dst_label"))
    disposedIn.unionByName(disposedAt)
      .dropDuplicates("src_uid", "dst_uid", "rel_type")
      .withColumn("created_at", clock)
  }

  /** J3 diagnostic: facility-classified targets with no Facility node —
    * the reference's "Could not link to facility" warning set
    * (`waste_items.py:414-419`, dry-run `unmatched_facilities`).
    */
  def unmatchedFacilities(cls: DataFrame, facilities: DataFrame): DataFrame =
    cls.filter(col("kind") === "facility").select("target").distinct()
      .join(facilities.select(col("name").as("target")), Seq("target"), "left_anti")
}
