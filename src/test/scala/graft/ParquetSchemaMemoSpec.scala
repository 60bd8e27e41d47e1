package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{BinaryType, StringType}

import graft.operators.ArtifactCache

/** [[Tables.parquet]], the engine's one parquet read: a repeated read
  * of unchanged files runs no schema-inference job, a rewrite or a
  * parquet conf change re-infers, a memoized read plans exactly what the
  * plain read plans on every layout the engine reads, failures are the
  * plain read's, the memo stays bounded, and no other file in `src/main`
  * reads parquet by hand. */
class ParquetSchemaMemoSpec extends SparkSpec {

  private def withDir[T](body: String => T): T = {
    val d = Files.createTempDirectory("graft-schemamemo").toFile
    try body(d.getPath) finally ArtifactCache.deleteRecursively(d)
  }

  /** Spark jobs `body` runs, counted through its job group: a sentinel
    * job closes the group so every job `body` submitted has reached the
    * status store before the count is read. */
  private def jobsOf(group: String)(body: => Unit): Int = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try { body; spark.range(1).collect() } finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (sc.statusTracker.getJobIdsForGroup(group).isEmpty && System.nanoTime() < deadline)
      Thread.sleep(20)
    Thread.sleep(200)
    sc.statusTracker.getJobIdsForGroup(group).length - 1
  }

  private def counts = (Tables.schemasInferred.get(), Tables.schemasReused.get())

  private def noIds(s: String) = s.replaceAll("#\\d+L?", "#").replaceAll("plan_id=\\d+", "")

  /** The memoized read equals the plain read: schema, rows, and the
    * optimized and physical plan text of a filtered projection. */
  private def assertSamePlan(memo: DataFrame, plain: DataFrame, what: String): Unit = {
    assert(memo.schema == plain.schema, s"$what: ${memo.schema} vs ${plain.schema}")
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    assert(rows(memo) == rows(plain), what)
    def q(df: DataFrame) = df.filter(col("id") > 3).select(df.columns.reverse.map(col).toSeq: _*)
    Seq[DataFrame => String](
      _.queryExecution.optimizedPlan.toString,
      df => q(df).queryExecution.optimizedPlan.toString,
      df => q(df).queryExecution.sparkPlan.toString).foreach { plan =>
      assert(noIds(plan(memo)) == noIds(plan(plain)), s"$what:\n${plan(memo)}\nvs\n${plan(plain)}")
    }
  }

  test("a repeated read of unchanged files runs no job and reuses the schema") {
    import spark.implicits._
    withDir { d =>
      (0 until 20).map(i => (i.toLong, s"t$i")).toDF("id", "t").write.parquet(s"$d/t")
      val missJobs = jobsOf("schemamemo-miss")(Tables.parquet(spark, s"$d/t").schema)
      val (i0, r0) = counts
      val hitJobs = jobsOf("schemamemo-hit")(Tables.parquet(spark, s"$d/t").schema)
      assert(missJobs == 1, s"the first read runs the one inference job, ran $missJobs")
      assert(hitJobs == 0, s"the repeated read ran $hitJobs jobs")
      assert(counts == ((i0, r0 + 1)), s"counters $counts from ${(i0, r0)}")
    }
  }

  test("an overwrite that adds a column is a miss that returns the new schema") {
    import spark.implicits._
    withDir { d =>
      Seq((1L, "a")).toDF("id", "t").write.parquet(s"$d/t")
      assert(Tables.parquet(spark, s"$d/t").columns.toSeq == Seq("id", "t"))
      assert(Tables.parquet(spark, s"$d/t").columns.toSeq == Seq("id", "t"))
      Seq((1L, "a", 2.0)).toDF("id", "t", "x").write.mode("overwrite").parquet(s"$d/t")
      val (i0, r0) = counts
      val after = Tables.parquet(spark, s"$d/t")
      assert(after.columns.toSeq == Seq("id", "t", "x"))
      assert(after.collect().map(_.getDouble(2)).toSeq == Seq(2.0))
      assert(counts == ((i0 + 1, r0)), "the overwrite must re-infer")
    }
  }

  test("toggling spark.sql.parquet.binaryAsString is a miss") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    withDir { d =>
      // a non-Spark writer: an un-annotated binary column and no Spark
      // schema in the footer, so the conf decides the column's type
      val schema = MessageTypeParser.parseMessageType(
        "message m { required int64 id; required binary b; }")
      val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(s"$d/t/part-0.parquet"))
        .withType(schema).build()
      try w.write(new SimpleGroupFactory(schema).newGroup().append("id", 1L).append("b", "hi"))
      finally w.close()
      // the key holds the SET confs: pin the default explicitly, as the
      // toggle's restore will leave it
      withConf("spark.sql.parquet.binaryAsString" -> "false") {
        assert(Tables.parquet(spark, s"$d/t").schema("b").dataType == BinaryType)
        assert(Tables.parquet(spark, s"$d/t").schema("b").dataType == BinaryType)
        withConf("spark.sql.parquet.binaryAsString" -> "true") {
          val (i0, _) = counts
          val asString = Tables.parquet(spark, s"$d/t")
          assert(counts._1 == i0 + 1, "a parquet conf change must re-infer")
          assert(asString.schema("b").dataType == StringType)
          assert(asString.collect().head.getString(1) == "hi")
        }
        val (_, r0) = counts
        assert(Tables.parquet(spark, s"$d/t").schema("b").dataType == BinaryType)
        assert(counts._2 == r0 + 1, "back at the first conf the first schema is reused")
      }
    }
  }

  test("a memoized read plans and returns exactly the plain read: single file, " +
    "flat dir, batch=N partitioned dir, multi-path") {
    import spark.implicits._
    withDir { d =>
      val rows = (0 until 40).map(i => (i.toLong, s"t$i", i % 3, i * 0.5))
      rows.toDF("id", "t", "batch", "x").coalesce(1).write.parquet(s"$d/one")
      val single = new File(s"$d/one").listFiles().map(_.getPath)
        .filter(_.endsWith(".parquet")).head
      rows.toDF("id", "t", "batch", "x").repartition(3).write.parquet(s"$d/flat")
      rows.toDF("id", "t", "batch", "x").write.partitionBy("batch").parquet(s"$d/part")
      rows.map { case (i, t, _, x) => (i + 100, t, 7, x) }.toDF("id", "t", "batch", "x")
        .write.parquet(s"$d/other")
      Seq(
        "single file" -> Seq(single),
        "flat dir" -> Seq(s"$d/flat"),
        "batch=N partitioned dir" -> Seq(s"$d/part"),
        "one partition of it" -> Seq(s"$d/part/batch=1"),
        "multi-path" -> Seq(s"$d/flat", s"$d/other")).foreach { case (what, paths) =>
        Tables.parquet(spark, paths: _*)
        val (_, r0) = counts
        val memo = Tables.parquet(spark, paths: _*)
        assert(counts._2 == r0 + 1, s"$what: the second read must reuse the schema")
        assertSamePlan(memo, spark.read.parquet(paths: _*), what)
      }
      assert(Tables.parquet(spark, s"$d/part").columns.last == "batch")
    }
  }

  test("an empty or missing dir throws what the plain read throws and stores nothing") {
    withDir { d =>
      new File(s"$d/empty").mkdirs()
      Seq(s"$d/empty", s"$d/missing").foreach { p =>
        val plain = intercept[Exception](spark.read.parquet(p))
        val size0 = Tables.memoSize
        val (i0, r0) = counts
        val memo = intercept[Exception](Tables.parquet(spark, p))
        assert(memo.getClass == plain.getClass && memo.getMessage == plain.getMessage,
          s"$p: ${memo.getMessage} vs ${plain.getMessage}")
        assert(Tables.memoSize <= size0 && counts == ((i0, r0)), s"$p stored a schema")
        intercept[Exception](Tables.parquet(spark, p))
      }
    }
  }

  test("the memo is an LRU bounded by its entry cap") {
    import spark.implicits._
    withDir { d =>
      Seq((1L, "a")).toDF("id", "t").write.parquet(s"$d/t")
      // each spelling of the path is its own key (the path list as given)
      val spellings = (0 to Tables.MemoEntries + 8).map(i => s"$d/t" + "/" * i)
      spellings.foreach(Tables.parquet(spark, _))
      assert(Tables.memoSize == Tables.MemoEntries)
      val (i0, r0) = counts
      Tables.parquet(spark, spellings.last)
      assert(counts == ((i0, r0 + 1)), "the newest key must still be held")
      Tables.parquet(spark, spellings.head)
      assert(counts == ((i0 + 1, r0 + 1)), "the eldest key must have been evicted")
      assert(Tables.memoSize == Tables.MemoEntries)
    }
  }

  test("no file under src/main but Tables reads parquet by hand") {
    val root = new File("src/main")
    assert(root.isDirectory, s"run from the repo root: ${root.getAbsolutePath}")
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    val scala = walk(root).filter(_.getName.endsWith(".scala"))
    assert(scala.exists(_.getName == "Tables.scala"))
    val offenders = scala.filterNot(_.getName == "Tables.scala").filter { f =>
      new String(Files.readAllBytes(f.toPath), "UTF-8").contains("read.parquet(")
    }
    assert(offenders.isEmpty,
      s"parquet read by hand in ${offenders.map(_.getPath).mkString(", ")}: " +
        "route it through Tables.parquet")
  }
}
