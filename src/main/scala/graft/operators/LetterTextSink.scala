package graft.operators

import java.io.{BufferedOutputStream, IOException}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path, UnsupportedFileSystemException}
import org.apache.spark.TaskContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._

/** The reference's letter-partitioned text sink (SURVEY §2.1 O15/O16):
  * exactly 26 files `a.txt` … `z.txt` in `outDir`, each line
  * `word:[id1 id2 ...]`, rows ordered (#files DESC, word ASC), empty
  * files for letters with no words (the golden outputs contain 0-byte
  * files even though the reference C code skips them — we match the
  * spec + goldens, `Tema1a.pdf` p.6).
  *
  * Spark-first design: `DataFrameWriter.partitionBy` gives
  * `letter=a/part-*.txt` directory layout and no empty files, so this is
  * a small custom sink that stays a DataFrame plan up to the write. Rows
  * go to `p = min(26, spark.sql.shuffle.partitions)` partitions by
  * `repartitionById(letter mod p)` — an exact placement, where
  * `repartition(p, col)` would hash letters together unevenly — and
  * `sortWithinPartitions(letter, n DESC, word)` orders each partition
  * with Spark's spill-safe external sort. The shuffle carries
  * UnsafeRows, not serialized JVM objects. Each task then streams its
  * `InternalRow`s letter after letter (partition `i` owns letters
  * `i, i+p, …`) straight into their files, writing an empty file for
  * each of its letters with no rows; nothing is buffered in memory and
  * nothing is collected on the driver, so the sink scales with the
  * shuffle, not the driver, and runs at most `p` write tasks.
  *
  * Tasks write through the Hadoop `FileSystem` API, so `outDir` may be
  * a local path (tests, matching the reference CLI), `hdfs://...`, or
  * any object-store scheme on a real cluster — same code; the driver
  * only writes the empty files of a plan that ran no task (AQE prunes
  * an empty index to zero partitions) and reaps orphaned tmp files.
  */
object LetterTextSink {

  private def fs(dir: String, entries: Map[String, String]): FileSystem = {
    val conf = new Configuration()
    // rebuild the session's Hadoop configuration on the executor:
    // fs.defaultFS / s3a credentials / scheme impls arrive via
    // spark.hadoop.* and would be lost with a bare `new Configuration`
    entries.foreach { case (k, v) => conf.set(k, v) }
    // newInstance, NOT Path.getFileSystem: the cached JVM-wide instance
    // must not have its checksum behavior mutated for unrelated writers,
    // and conf entries are ignored on cache hits anyway. Callers close().
    val f = FileSystem.newInstance(new Path(dir).toUri, conf)
    // no .crc sidecar files: the reference emits exactly 26 files and
    // nothing else; HDFS/object stores checksum internally anyway
    f.setWriteChecksum(false)
    f
  }

  private def confEntries(index: DataFrame): Map[String, String] = {
    import scala.jdk.CollectionConverters._
    index.sparkSession.sparkContext.hadoopConfiguration
      .iterator().asScala.map(e => e.getKey -> e.getValue).toMap
  }

  /** Write `letter.txt` in `outDir` through an attempt-unique tmp file:
    * a speculative/retried attempt must not share a scratch file with a
    * zombie of the same task.
    */
  private def publish(filesystem: FileSystem, outDir: String, letter: Char, attempt: String)(
      body: BufferedOutputStream => Unit): Unit = {
    val tmp = new Path(outDir, s".$letter.txt.tmp-$attempt")
    val out = new BufferedOutputStream(filesystem.create(tmp, true), 1 << 16)
    try body(out) finally out.close()
    // publish via FileContext.rename(OVERWRITE): atomic where the
    // FS implements overwrite-rename natively (HDFS); LocalFs falls
    // back to delete+rename internally, and schemes with no
    // AbstractFileSystem binding (s3a/gs) aren't supported by
    // FileContext at all — fall back to explicit delete+rename for
    // those rather than failing the write
    val dst = new Path(outDir, s"$letter.txt")
    try
      FileContext.getFileContext(dst.toUri, filesystem.getConf)
        .rename(tmp, dst, Options.Rename.OVERWRITE)
    catch {
      case _: UnsupportedFileSystemException =>
        filesystem.delete(dst, false)
        if (!filesystem.rename(tmp, dst))
          throw new IOException(s"rename failed: $tmp -> $dst")
    }
  }

  /** index: (word STRING, file_ids ARRAY<INT>) → 26 letter files. */
  def write(index: DataFrame, outDir: String): Unit = {
    val hconf = confEntries(index)
    locally { val f = fs(outDir, hconf); try f.mkdirs(new Path(outDir)) finally f.close() }

    val p = math.min(26, index.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt)
    // Sort key (letter ASC, n DESC, word ASC) == the reference's
    // (#files DESC, word ASC) within each letter file.
    val rows = index
      .select(
        (ascii(col("word")) - 'a'.toInt).as("letter"),
        size(col("file_ids")).as("n"),
        col("word"),
        InvertedIndex.formattedLine(col("word"), col("file_ids")).as("line"))
      .repartitionById(p, pmod(col("letter"), lit(p)))
      .sortWithinPartitions(col("letter"), col("n").desc, col("word"))
      .select(col("letter"), col("line"))

    // toRdd runs the plan's shuffle stages; AQE gives a plan it proved
    // empty no partitions at all, so no task runs for it
    val rdd = rows.queryExecution.toRdd
    val ran = rdd.getNumPartitions
    rdd.foreachPartition { it: Iterator[InternalRow] =>
      val tc = TaskContext.get()
      val filesystem = fs(outDir, hconf)
      try {
        // the iterator reuses its row: read each one before advancing
        var row = if (it.hasNext) it.next() else null
        (tc.partitionId() until 26 by p).foreach { l =>
          publish(filesystem, outDir, ('a' + l).toChar, tc.taskAttemptId().toString) { out =>
            while (row != null && row.getInt(0) == l) {
              row.getUTF8String(1).writeTo(out)
              out.write('\n')
              row = if (it.hasNext) it.next() else null
            }
          }
        }
        if (row != null)
          throw new IllegalArgumentException(
            s"word not in [a-z]* or misplaced: ${row.getUTF8String(1)}")
      } finally filesystem.close()
    }

    val filesystem = fs(outDir, hconf)
    try {
      // O16: spec requires all 26 files even when empty, and an old
      // file in outDir must not survive. Each task wrote all of its
      // letters; the letters of partitions that never ran are empty.
      ('a' to 'z').filter(l => (l - 'a') % p >= ran)
        .foreach(l => publish(filesystem, outDir, l, "driver")(_ => ()))
      // reap tmp files orphaned by failed/zombie attempts (each attempt
      // writes a unique name, so losers are never overwritten-away)
      ('a' to 'z').foreach { l =>
        filesystem.globStatus(new Path(outDir, s".$l.txt.tmp-*"))
          .foreach(st => filesystem.delete(st.getPath, false))
      }
    } finally filesystem.close()
  }
}
