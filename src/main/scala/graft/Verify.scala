package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg: comma-separated query subset (dev iteration
    // only — the driver invokes with two args and dumps everything)
    val only = args.lift(2).map(_.split(",").toSet)
    // one session recipe for the whole engine (extensions, AQE, UTC,
    // nanos-timestamp conf) — duplicating builders here silently
    // dropped the optimizer extension
    val spark = GraftSession.local(
      cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt,
      appName = "graft-verify")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter { case (name, _) =>
      only.forall(_.contains(name))
    }.foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        System.err.println(f"[verify] $name ok ${(System.nanoTime() - t0) / 1e9}%.1fs")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // which regime the run took: cold (artifacts built) or warm (served),
    System.err.println(s"[verify] ArtifactCache builds ${operators.ArtifactCache.ensureBuilds.get()}" +
      s" hits ${operators.ArtifactCache.ensureHits.get()}")
    // and which side of each driver cutover it took
    System.err.println(s"[verify] DriverCutover ${operators.DriverCutover.summary}")
    // and how many classes it generated (each a codegen-cache miss)
    System.err.println(s"[verify] codegen compiles ${Bench.codegenCompiles()}")
    // and how many parquet reads ran schema inference vs reused a schema
    System.err.println(s"[verify] parquet schemas ${Tables.summary}")
    spark.stop()
  }
}

/** Single-query variant of [[Verify]] for iterating on one operator:
  * `runMain graft.VerifyOne <query> <sfDir> <outDir>` dumps only that
  * query's parquet + its oracle SQL (if any) to `<outDir>/oracle.sql`.
  */
object VerifyOne {
  def main(args: Array[String]): Unit = {
    val Array(name, sfDir, outDir) = args
    val spark = GraftSession.local(
      cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt,
      appName = "graft-verify-one")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries(name)(spark, sfDir).coalesce(1).write.mode("overwrite")
      .parquet(s"$outDir/$name")
    SparkEntry.oracleSql.get(name).foreach(sql =>
      Files.writeString(Paths.get(s"$outDir/oracle.sql"), sql))
    spark.stop()
  }
}
