package graft

import java.nio.file.{Files, LinkOption, Path => JPath, Paths}
import java.nio.file.attribute.BasicFileAttributes
import java.security.MessageDigest
import java.util.concurrent.TimeUnit
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loader for the driver testdata star schema (TESTDATA.md), and THE
  * parquet read of the engine.
  *
  * Plain parquet scans: Catalyst/DSv2 supplies predicate pushdown,
  * column pruning and partition pruning on top of these — verified via
  * `.explain` in the specs (SURVEY §4.3); nothing to reimplement.
  *
  * Every parquet read in the engine goes through [[parquet]], which
  * infers each schema once per file-set version. A plain
  * `spark.read.parquet(paths*)` runs one schema-inference Spark job per
  * call, even over one file (Spark's `mergeSchemasInParallel` always
  * launches one): ~70 ms of fixed cost that re-derives the same schema
  * from the same unchanged files on every read of a repeated pass.
  *  - Key: the path list as given; an MD5 of the recursive (relative
  *    path, length, mtime) listing under each path; and the session's
  *    set confs that change what inference returns (keys containing
  *    `parquet`, e.g. `spark.sql.parquet.binaryAsString` and
  *    `spark.sql.legacy.parquet.nanosAsLong`, plus partition-column
  *    type inference and case sensitivity). Any rewrite of the files
  *    (Spark names each written part file by a fresh UUID) is a new key.
  *  - Miss: the plain read; its inferred schema is stored only after
  *    inference succeeded, so an empty or missing dir throws exactly
  *    what the plain read throws and stores nothing.
  *  - Hit: `spark.read.schema(s).parquet(paths*)` — no inference job.
  *    Spark makes inferred and supplied schemas nullable alike, and
  *    infers partition columns of a supplied schema with its types, so
  *    the plan is the plain read's (`ParquetSchemaMemoSpec`).
  *  - Bound: an LRU of [[MemoEntries]] schemas, so a stream of new
  *    `batch=N` dirs cannot grow it without limit. It holds only
  *    `StructType`s under MD5 keys.
  *  - Bypass: a path that is not a local file or dir (another scheme, a
  *    glob, a missing path) takes the plain read, since the listing is
  *    a local file walk.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") loadEvents(spark, dir) else
      parquet(spark, s"$dir/$name.parquet")

  private[graft] val MemoEntries = 256

  private val memo = new java.util.LinkedHashMap[String, StructType](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[String, StructType]): Boolean =
      size() > MemoEntries
  }

  /** Reads that ran schema inference (misses and bypasses) in this JVM. */
  val schemasInferred = new AtomicLong(0L)

  /** Reads served a memoized schema (no inference job) in this JVM. */
  val schemasReused = new AtomicLong(0L)

  def summary: String = s"inferred ${schemasInferred.get()} reused ${schemasReused.get()}"

  /** `spark.read.parquet(paths*)`, inferring the schema once per
    * file-set version (see the object doc). */
  def parquet(spark: SparkSession, paths: String*): DataFrame =
    memoKey(spark, paths) match {
      case Some(key) =>
        memo.synchronized(Option(memo.get(key))) match {
          case Some(schema) =>
            schemasReused.incrementAndGet()
            spark.read.schema(schema).parquet(paths: _*)
          case None =>
            val df = inferred(spark, paths)
            memo.synchronized(memo.put(key, df.schema))
            df
        }
      case None => inferred(spark, paths)
    }

  private def inferred(spark: SparkSession, paths: Seq[String]): DataFrame = {
    val df = spark.read.parquet(paths: _*)
    schemasInferred.incrementAndGet()
    df
  }

  /** Memoized schemas held now (spec access to the bound). */
  private[graft] def memoSize: Int = memo.synchronized(memo.size())

  private def inferenceConf(k: String): Boolean =
    k.contains("parquet") || k == "spark.sql.caseSensitive" ||
      k == "spark.sql.sources.partitionColumnTypeInference.enabled"

  /** The memo key of `paths`, or None when some path is not a local
    * file or dir. */
  private def memoKey(spark: SparkSession, paths: Seq[String]): Option[String] = {
    val roots = paths.map(localPath)
    if (paths.isEmpty || roots.exists(_.isEmpty)) return None
    val md = MessageDigest.getInstance("MD5")
    def add(s: String): Unit = { md.update(s.getBytes("UTF-8")); md.update(0: Byte) }
    // a file removed mid-walk (a concurrent writer) makes the listing
    // unusable as a version: bypass rather than key a torn listing
    val listed = scala.util.Try(paths.zip(roots.flatten).foreach { case (p, root) =>
      add(p)
      val walk = Files.walk(root)
      val files = try walk.iterator().asScala.toVector.sortBy(_.toString) finally walk.close()
      files.foreach { f =>
        val a = Files.readAttributes(f, classOf[BasicFileAttributes], LinkOption.NOFOLLOW_LINKS)
        add(s"${root.relativize(f)}:${a.size}:${a.lastModifiedTime.to(TimeUnit.NANOSECONDS)}")
      }
    })
    if (listed.isFailure) return None
    spark.conf.getAll.filter { case (k, _) => inferenceConf(k) }.toSeq.sorted
      .foreach { case (k, v) => add(s"$k=$v") }
    Some(md.digest().map("%02x".format(_)).mkString)
  }

  /** The local file or dir `p` names, if it names one: no scheme or
    * `file:`, no glob character, and present on disk. */
  private def localPath(p: String): Option[JPath] = {
    val uri = scala.util.Try(new org.apache.hadoop.fs.Path(p).toUri).toOption
    uri.filter(u => u.getScheme == null || u.getScheme == "file")
      .map(_.getPath)
      .filterNot(_.exists("*?[]{}".contains(_)))
      .map(Paths.get(_))
      .filter(Files.exists(_))
  }

  /** `events.ts` has shipped in two physical encodings across testdata
    * generations: parquet TIMESTAMP(NANOS) — which Spark's vectorized
    * reader surfaces as LongType under `spark.sql.legacy.parquet
    * .nanosAsLong` (set session-wide in GraftSession) — and plain
    * TIMESTAMP(MICROS), which reads back as TimestampType directly.
    * Adapt on the observed schema: convert raw nanos to a microsecond
    * TimestampType column (the truncation every TIMESTAMP(MICROS)
    * engine applies) only when the column is a long; pass a native
    * timestamp through unchanged.
    */
  private def loadEvents(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{LongType, TimestampType}
    val raw = parquet(spark, s"$dir/events.parquet")
    raw.schema("ts").dataType match {
      case LongType =>
        // integer `div`, not `/`: double division loses exactness above
        // 2^53 and nanosecond epochs (~1.7e18) are past that — a value
        // within ~1µs of a boundary could round to the wrong microsecond
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampType => raw
      case _ =>
        // TIMESTAMP_NTZ (isAdjustedToUTC=false parquet): cast to the
        // session-zoned TimestampType every downstream consumer expects
        // (unix_millis etc. reject NTZ). The session timezone is pinned
        // to UTC in GraftSession, so the cast relabels without shifting
        // any instant — the same reading DuckDB gives naive timestamps.
        raw.withColumn("ts", col("ts").cast(TimestampType))
    }
  }
}
