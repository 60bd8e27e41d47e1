package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Copy-on-write keyed upsert over a hash-bucketed parquet snapshot —
  * the daily MERGE a 100 TB deployment actually runs. The base table
  * is stored partitioned by `part_id = pmod(xxhash64(key), buckets)`;
  * applying a change batch (upserts + deletes) then costs
  * O(changes + base rows in TOUCHED buckets), never O(base):
  *
  *  1. bucket the changes with the same hash;
  *  2. the touched bucket ids are a bounded driver-side set (≤ buckets
  *     — model-state scale, same as [[IndexStore.merge]]'s letters);
  *  3. read the base pruned to those buckets (PartitionFilters,
  *     asserted in UpsertSpec), anti-join out keys the batch rewrites
  *     or deletes, union the surviving upserts;
  *  4. dynamic-partition-overwrite replaces exactly the touched
  *     bucket directories; every other partition's files are left
  *     byte-identical on disk (spec-pinned).
  *
  * This is the Delta/Iceberg copy-on-write MERGE shape on plain
  * parquet: no log, no manifest — the hash-partition layout IS the
  * pruning metadata. Deletes ride the same batch as an `_op = 'D'`
  * marker column so one pass handles the full upsert/delete mix.
  */
object Upsert {

  val OpCol = "_op" // 'U' upsert (default), 'D' delete

  private def bucketed(df: DataFrame, key: String, buckets: Int): DataFrame =
    df.withColumn("part_id", pmod(xxhash64(col(key)), lit(buckets.toLong)))

  /** Materialize the initial snapshot hash-partitioned by key. */
  def materialize(df: DataFrame, key: String, path: String, buckets: Int = 64): Unit = {
    require(!df.columns.contains("part_id"), "input must not contain part_id")
    // repartition by bucket before the partitioned write: without it
    // every input task writes one file per bucket value it holds
    // (tasks × buckets small files — the guide §6 small-files trap);
    // with it each bucket's rows land in one task → one file per
    // bucket, and the same holds at any input parallelism (r20)
    bucketed(df, key, buckets).repartition(col("part_id"))
      .write.mode(SaveMode.Overwrite)
      .partitionBy("part_id").parquet(path)
  }

  def load(spark: SparkSession, path: String): DataFrame =
    Tables.parquet(spark, path)

  /** Apply a change batch. `changes` carries the base schema plus an
    * optional [[OpCol]] ('U' upsert / 'D' delete; absent = all 'U').
    * Last-writer-wins within the batch is the caller's contract —
    * duplicate keys in one batch are rejected to keep the semantics
    * unambiguous.
    */
  def applyChanges(spark: SparkSession, path: String, changes: DataFrame,
                   key: String, buckets: Int = 64): Unit = {
    val hasOp = changes.columns.contains(OpCol)
    val ch = (if (hasOp) changes else changes.withColumn(OpCol, lit("U")))
    // checkpoint FIRST, validate against the checkpointed frame: the
    // duplicate-key check then scans the materialized batch instead of
    // re-evaluating the caller's whole change plan a second time
    val chB = bucketed(ch, key, buckets).localCheckpoint(true)
    try {
      // ONE aggregate job serves both the duplicate-key gate and the
      // touched-bucket list (r19; they were two separate jobs): rows
      // == distinct keys ⟺ no key repeats, and the touched set is a
      // ≤`buckets`-element collect_set — one row to the driver
      // count_distinct ignores NULLs, so the null bucket is added back
      // explicitly: a batch with exactly one NULL-key row is legal
      // (the old groupBy-count>1 gate accepted it), two NULL-key rows
      // are duplicates of each other and must still fail (r20, ADVICE)
      val row = chB.agg(count(lit(1)).as("n"),
        (count_distinct(col(key)) + coalesce(
          max(when(col(key).isNull, lit(1L)).otherwise(lit(0L))),
          lit(0L))).as("nk"),
        collect_set(col("part_id")).as("parts")).head()
      require(row.getLong(0) == row.getLong(1),
        s"changes must carry one row per $key (last-writer-wins must be resolved upstream)")
      applyBucketed(spark, path, chB, key,
        row.getSeq[Long](2).sorted)
    } finally chB.unpersist()
  }

  private def applyBucketed(spark: SparkSession, path: String,
                            chB: DataFrame, key: String,
                            touched: Seq[Long]): Unit = {
    val base = load(spark, path)
      .filter(col("part_id").isin(touched: _*))

    val kept = base.join(chB.select(col(key)), Seq(key), "left_anti")
    val upserts = chB.filter(col(OpCol) =!= "D").drop(OpCol)
      .select(kept.columns.map(col).toIndexedSeq: _*)
    // the merge reads the very partitions it overwrites — pin the
    // result (bounded by the touched-bucket slice) before the dynamic
    // overwrite replaces those directories under the reader
    val merged = kept.unionByName(upserts).localCheckpoint(true)
    // one file per rewritten bucket (see [[materialize]], r20)
    try merged.repartition(col("part_id")).write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("part_id").parquet(path)
    finally merged.unpersist()
  }

  /** Driver-contract query: snapshot `orders` keyed by o_orderkey,
    * apply a deterministic change batch (every 97th key re-priced,
    * every 89th deleted, a shifted-key slice inserted), and return the
    * merged table's per-status fingerprint. The oracle reproduces the
    * merge relationally, so the hash compare checks the actual on-disk
    * result of the copy-on-write path end to end.
    */
  def upsertOrders(spark: SparkSession, dir: String): DataFrame = {
    val orders = graft.Tables.load(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"))
    // per-JVM working path: this is a MUTABLE table (materialize +
    // in-place merge), so two concurrent gate runs sharing one path
    // would corrupt each other's merge — unlike the fingerprint-keyed
    // immutable caches, it must not be shared across processes
    val path = s"${System.getProperty("java.io.tmpdir")}/graft-upsert-orders-" +
      ArtifactCache.runToken
    materialize(orders, "o_orderkey", path)

    val updates = orders.filter(col("o_orderkey") % 97 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + lit(1.0))
      .withColumn(OpCol, lit("U"))
    // deletes exclude update keys (lcm collisions would violate the
    // one-row-per-key batch contract); inserts live in a shifted key
    // space so they can't collide with either
    val deletes = orders.filter(col("o_orderkey") % 89 === 0 &&
        col("o_orderkey") % 97 =!= 0)
      .withColumn(OpCol, lit("D"))
    val inserts = orders.filter(col("o_orderkey") % 101 === 0)
      .withColumn("o_orderkey", col("o_orderkey") + lit(1000000000L))
      .withColumn("o_orderstatus", lit("N"))
      .withColumn(OpCol, lit("U"))
    applyChanges(spark, path, updates.unionByName(deletes).unionByName(inserts),
      "o_orderkey")

    load(spark, path)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_orderkey")).as("key_sum"),
        round(sum(col("o_totalprice")), 2).as("price_sum"))
      .orderBy(col("o_orderstatus"))
  }
}
