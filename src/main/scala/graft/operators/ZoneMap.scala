package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** File-level data skipping via an external zone map — the
  * Iceberg/Delta manifest-stats idea on plain parquet. Parquet's own
  * reader skips ROW GROUPS from footer stats, but at 100 TB the win
  * that matters is never OPENING the file: a selective scan over a
  * million-file table should plan from a stats table (metadata scale:
  * one row per file), not from a million footer reads.
  *
  *  - [[build]] computes per-file min/max/count for chosen columns in
  *    one scan (`_metadata.file_path` + one groupBy) and persists the
  *    stats table next to nothing — caller owns the path.
  *  - [[prunedScan]] intersects a range predicate with the stats,
  *    collects the surviving file list (driver-side, but FILE-count
  *    sized — the same scale as any manifest-based planner), and
  *    scans only those files, re-applying the predicate for row-level
  *    exactness.
  *
  * Pruning is sound for ANY layout (min/max bounds are conservative);
  * it is only EFFECTIVE when the layout clusters the column — which is
  * exactly what [[Layout]]'s Z-order/sort writers produce. The spec
  * pins both halves: correctness on a random layout, file-skipping on
  * a sorted one.
  */
object ZoneMap {

  /** One scan → one stats row per (file, tracked column). Schema:
    * file, n_rows, then `<col>_min`/`<col>_max` per tracked column.
    */
  def build(spark: SparkSession, tablePath: String, cols: Seq[String],
            zonemapPath: String): Unit = {
    val df = Tables.parquet(spark, tablePath)
    val aggs = count(lit(1)).as("n_rows") +:
      cols.flatMap(c => Seq(min(col(c)).as(s"${c}_min"), max(col(c)).as(s"${c}_max")))
    df.select(col("_metadata.file_path").as("file") +: cols.map(col): _*)
      .groupBy(col("file"))
      .agg(aggs.head, aggs.tail: _*)
      .coalesce(1) // metadata scale: one row per data file
      .write.mode("overwrite").parquet(zonemapPath)
  }

  /** Files whose [min,max] envelope intersects [lo,hi] on `c`. */
  private def candidateFiles(spark: SparkSession, zonemapPath: String,
                             c: String, lo: Column, hi: Column): Array[String] =
    Tables.parquet(spark, zonemapPath)
      .filter(col(s"${c}_max") >= lo && col(s"${c}_min") <= hi)
      .select(col("file"))
      .collect().map(_.getString(0))

  /** Range scan planned from the zone map: read only intersecting
    * files, then re-filter rows (stats prune whole files; the residual
    * predicate keeps row-level exactness). Returns an empty-but-typed
    * frame when every file prunes away.
    */
  def prunedScan(spark: SparkSession, tablePath: String, zonemapPath: String,
                 c: String, lo: Column, hi: Column): DataFrame = {
    val files = candidateFiles(spark, zonemapPath, c, lo, hi)
    if (files.isEmpty) Tables.parquet(spark, tablePath).filter(lit(false))
    else Tables.parquet(spark, files.toIndexedSeq: _*)
      .filter(col(c) >= lo && col(c) <= hi)
  }

  /** How many files the predicate touches vs the table total — the
    * skipping evidence, queryable. */
  def skipStats(spark: SparkSession, zonemapPath: String,
                c: String, lo: Column, hi: Column): (Long, Long) = {
    val zm = Tables.parquet(spark, zonemapPath)
    val total = zm.count()
    val touched = zm.filter(col(s"${c}_max") >= lo && col(s"${c}_min") <= hi).count()
    (touched, total)
  }

  /** Driver-contract query: lay `documents` out sorted by doc_id
    * across many files, build a zone map, and answer a selective
    * doc_id range through the pruned path. The result must equal the
    * plain relational filter (oracle), while the spec separately pins
    * that the plan only read the files the zone map admitted.
    */
  def zonemapDocuments(spark: SparkSession, dir: String): DataFrame = {
    val tmp = s"${System.getProperty("java.io.tmpdir")}/graft-zonemap-docs"
    val docs = graft.Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("source"), col("lang"), length(col("text")).as("n_chars"))
    // range-partition by doc_id so each file owns a tight doc_id band
    docs.repartitionByRange(8, col("doc_id"))
      .sortWithinPartitions(col("doc_id"))
      .write.mode("overwrite").parquet(s"$tmp/table")
    build(spark, s"$tmp/table", Seq("doc_id"), s"$tmp/zm")

    prunedScan(spark, s"$tmp/table", s"$tmp/zm", "doc_id", lit(100L), lit(160L))
      .orderBy(col("doc_id"))
  }
}
