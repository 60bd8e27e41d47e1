package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.Tables
import graft.operators.ArtifactCache

/** Mixed-schema parquet ingestion — the schema-DRIFT loader a
  * long-lived corpus needs. A 100 TB table is written over years by
  * evolving producers: integer columns widen (INT32 → INT64), decimals
  * gain precision, timestamp encodings change underneath the logical
  * type (the classic INT96 → INT64 µs migration — exactly the r9
  * incident class, where one testdata generation's ts encoding change
  * broke 13 readers), and new columns appear mid-history. A naive
  * multi-path read either dies on schema merge or silently drops the
  * old epoch.
  *
  * [[readEvolved]] is the general loader: each epoch is read under its
  * OWN physical schema, normalized to the caller's target schema
  * (present columns cast — all widenings, so exact; absent columns
  * null-filled), and the epochs union by name. Per-epoch provenance
  * rides along as an `epoch` column. Scale shape: normalization is a
  * pure projection inside each epoch's scan (no shuffle, pushdown and
  * pruning untouched — the cast wraps the column AFTER the reader),
  * and the union is a plan-level concat of scans, so the loader costs
  * exactly what reading the files costs.
  *
  * The drift FIXTURE ([[driftedCorpus]]) is derived deterministically
  * from `orders` and physically real: epoch v1 writes INT32 keys,
  * DECIMAL(12,2) amounts and INT96 timestamps (the legacy Impala/Hive
  * encoding, via `spark.sql.parquet.outputTimestampType`); epoch v2
  * writes INT64 keys, DECIMAL(18,4), INT64-µs timestamps and an added
  * `channel` column. The spec asserts the footers really differ; the
  * DuckDB oracle recomputes the summary from the ORIGINAL `orders`
  * rows (the epochs partition `orders` by key parity), so the gate
  * proves the drifted read loses nothing.
  */
object SchemaDrift {

  /** Unified logical schema of the evolved orders corpus. */
  val target: StructType = StructType.fromDDL(
    "o_orderkey BIGINT, amount DECIMAL(18,4), ts TIMESTAMP, channel STRING")

  /** Read several parquet epochs that share a logical table but not a
    * physical schema: cast what exists, null-fill what doesn't, tag
    * provenance. Widening casts only — the target must be the WIDEST
    * shape, which is the schema-evolution invariant producers keep.
    */
  def readEvolved(s: SparkSession, epochs: Seq[(String, Long)],
      schema: StructType = target): DataFrame =
    epochs.map { case (path, epoch) =>
      val df = Tables.parquet(s, path)
      val present = df.columns.toSet
      df.select(schema.fields.toSeq.map { f =>
        if (present.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
        else lit(null).cast(f.dataType).as(f.name)
      }: _*).withColumn("epoch", lit(epoch))
    }.reduce(_ unionByName _)

  /** Build-once two-epoch drifted corpus derived from `orders`
    * (fingerprint-keyed /tmp artifact, the audio/IVF index
    * discipline). Returns the artifact path holding `v1/` and `v2/`.
    */
  def driftedCorpus(s: SparkSession, dir: String): String = {
    ArtifactCache.ensure(ArtifactCache.key("drift", dir, "orders.parquet")) { tmp =>
      buildDriftedCorpus(s, dir, tmp)
    }
  }

  private[graft] def buildDriftedCorpus(s: SparkSession, dir: String,
      path: String): Unit = {
    val orders = Tables.load(s, dir, "orders")
    val tsTypeKey = "spark.sql.parquet.outputTimestampType"
    // getOption + set-or-unset restore: the conf's BUILT-IN default is
    // INT96, so pinning a fallback value here would silently change the
    // physical timestamp encoding of every later parquet write in the
    // session whenever the key was never explicitly set
    val prev = s.conf.getOption(tsTypeKey)
    try {
      // epoch v1: the narrow legacy producer — INT32 keys, cent-scale
      // decimals, INT96 timestamps, no channel column. The INT96 output
      // type only applies to LTZ TimestampType, and parquet TIMESTAMP
      // with isAdjustedToUTC=0 infers as TIMESTAMP_NTZ — cast to LTZ
      // (session tz is UTC, instant preserved) so the legacy encoding
      // actually lands on disk
      s.conf.set(tsTypeKey, "INT96")
      orders.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey").cast("int").as("o_orderkey"),
          col("o_totalprice").cast("decimal(12,2)").as("amount"),
          col("o_orderdate").cast("timestamp").as("ts"))
        .write.mode("overwrite").parquet(s"$path/v1")
      // epoch v2: today's producer — widened key/decimal, µs
      // timestamps, an added channel dimension
      s.conf.set(tsTypeKey, "TIMESTAMP_MICROS")
      orders.filter(col("o_orderkey") % 2 === 1)
        .select(col("o_orderkey"),
          col("o_totalprice").cast("decimal(18,4)").as("amount"),
          col("o_orderdate").as("ts"),
          concat(lit("ch"), (col("o_orderkey") % 3).cast("string")).as("channel"))
        .write.mode("overwrite").parquet(s"$path/v2")
    } finally prev match {
      case Some(v) => s.conf.set(tsTypeKey, v)
      case None => s.conf.unset(tsTypeKey)
    }
  }

  /** Oracle-gated summary over the evolved read: per-epoch row count,
    * exact decimal amount sum, timestamp range, and channel coverage —
    * each value crosses one of the drift axes (widened ints, widened
    * decimals, re-encoded timestamps, added column), so a loader that
    * mangles any axis fails the gate.
    */
  def driftSummary(s: SparkSession, dir: String): DataFrame = {
    val root = driftedCorpus(s, dir)
    readEvolved(s, Seq((s"$root/v1", 0L), (s"$root/v2", 1L)))
      .groupBy(col("epoch"))
      .agg(count(lit(1)).as("n_rows"),
        // sum in exact decimal, cast DOUBLE only at the output boundary
        // (repo convention for render-stable cross-engine values: both
        // engines cast the IDENTICAL decimal, so the doubles are
        // bit-identical)
        sum(col("amount")).cast("decimal(28,4)").cast("double").as("amount_sum"),
        // epoch-µs BIGINT, not raw timestamps: render-stable across
        // engines (tz-naive vs tz-aware display) while keeping the
        // full µs precision the INT96→INT64 axis must round-trip
        unix_micros(min(col("ts"))).as("ts_min"),
        unix_micros(max(col("ts"))).as("ts_max"),
        count(col("channel")).as("n_channel"))
      .orderBy(col("epoch"))
  }

  /** DuckDB restatement from the ORIGINAL `orders` rows: the epochs
    * partition orders by key parity, and every normalization cast is
    * mirrored (v1 amounts round-trip DECIMAL(12,2) before widening).
    */
  def driftSummaryOracleSql: String =
    """WITH src AS (
      |  SELECT o_orderkey % 2 AS epoch,
      |         CASE WHEN o_orderkey % 2 = 0
      |              THEN CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DECIMAL(18,4))
      |              ELSE CAST(o_totalprice AS DECIMAL(18,4)) END AS amount,
      |         o_orderdate AS ts,
      |         CASE WHEN o_orderkey % 2 = 1
      |              THEN 'ch' || CAST(o_orderkey % 3 AS VARCHAR) END AS channel
      |  FROM orders)
      |SELECT CAST(epoch AS BIGINT) AS epoch,
      |       CAST(count(*) AS BIGINT) AS n_rows,
      |       CAST(CAST(sum(amount) AS DECIMAL(28,4)) AS DOUBLE) AS amount_sum,
      |       epoch_us(min(ts)) AS ts_min, epoch_us(max(ts)) AS ts_max,
      |       CAST(count(channel) AS BIGINT) AS n_channel
      |FROM src GROUP BY 1 ORDER BY 1""".stripMargin
}
