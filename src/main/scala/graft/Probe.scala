package graft

/** Dev-only timing probe (not part of the driver contract). */
object Probe {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(appName = "graft-probe")
    def time[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"[probe] $label: ${(System.nanoTime() - t0) / 1e9}%.2f s"); r
    }
    // named-query modes share one validated lookup: a missing or
    // unknown name dies with the valid-name list, not an index error
    def queryArg(): (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame = {
      require(args.length >= 2,
        s"usage: Probe ${args.head} <query> [sfDir]; known queries: " +
          SparkEntry.queries.keys.toSeq.sorted.mkString(", "))
      SparkEntry.queries.getOrElse(args(1), sys.error(
        s"unknown query '${args(1)}'; known queries: " +
          SparkEntry.queries.keys.toSeq.sorted.mkString(", ")))
    }
    if (args.headOption.contains("explain")) {
      // generic plan dump: runMain graft.Probe explain <query> [sfDir]
      val fn = queryArg()
      val dir = if (args.length > 2) args(2) else "/root/testdata/sf0.001"
      fn(spark, dir).explain("formatted")
      spark.stop(); return
    }
    if (args.headOption.contains("explain_many")) {
      // batch plan dumps in ONE JVM: runMain graft.Probe explain_many
      //   <q1,q2,...> <suffix> [sfDir] [outDir]
      // writes <outDir>/<query>_<suffix>.txt per query
      val names = args(1).split(",").toSeq
      val suffix = args(2)
      val dir = if (args.length > 3) args(3) else "/root/testdata/sf0.001"
      val out = if (args.length > 4) args(4) else "plans/r20"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
      names.foreach { n =>
        val fn = SparkEntry.queries.getOrElse(n, sys.error(s"unknown query '$n'"))
        val txt = fn(spark, dir).queryExecution
          .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$out/${n}_$suffix.txt"), txt.getBytes("UTF-8"))
        println(s"[probe] wrote $out/${n}_$suffix.txt")
      }
      spark.stop(); return
    }
    if (args.headOption.contains("explain_executed")) {
      // EXECUTED (AQE-final) plan: run the query through the noop sink,
      // then print the adaptive plan as finalized at runtime — the only
      // view that shows ReusedExchange / AQE join rewrites.
      // runMain graft.Probe explain_executed <query> [sfDir]
      val fn = queryArg()
      val dir = if (args.length > 2) args(2) else "/root/testdata/sf0.1"
      val df = fn(spark, dir)
      df.write.format("noop").mode("overwrite").save()
      println(df.queryExecution.executedPlan.toString)
      spark.stop(); return
    }
    if (args.headOption.contains("time_many")) {
      // batch timed runs in ONE JVM (noop sink, 1 warm-up + N timed):
      // runMain graft.Probe time_many <q1,q2,...> [sfDir] [runs]
      val names = args(1).split(",").toSeq
      val dir = if (args.length > 2) args(2) else "/root/testdata/sf0.1"
      val runs = if (args.length > 3) args(3).toInt else 3
      names.foreach { n =>
        val fn = SparkEntry.queries.getOrElse(n, sys.error(s"unknown query '$n'"))
        def noop(): Unit =
          fn(spark, dir).write.format("noop").mode("overwrite").save()
        noop()
        val ts = (1 to runs).map { _ =>
          val t0 = System.nanoTime(); noop(); (System.nanoTime() - t0) / 1e9
        }
        println(f"[probe] $n median=${Bench.median(ts)}%.2f s all=${ts.map(t => f"$t%.2f").mkString(",")}")
      }
      spark.stop(); return
    }
    if (args.headOption.contains("time")) {
      // generic timed runs through the noop sink (bench methodology,
      // one query): runMain graft.Probe time <query> [sfDir] [runs]
      val fn = queryArg()
      val dir = if (args.length > 2) args(2) else "/root/testdata/sf0.1"
      val runs = if (args.length > 3) args(3).toInt else 3
      def noop(): Unit =
        fn(spark, dir).write.format("noop").mode("overwrite").save()
      noop() // untimed warm-up (JIT/codegen), the Bench discipline
      (1 to runs).foreach(i => time(s"${args(1)} run $i")(noop()))
      spark.stop(); return
    }
    if (args.headOption.contains("ngram_stages")) {
      // old vs new ngram-jaccard shapes + stage decomposition
      import org.apache.spark.sql.functions._
      import graft.operators.Dedup
      val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
      def noop(df: org.apache.spark.sql.DataFrame): Unit =
        df.write.format("noop").mode("overwrite").save()
      val d = Tables.load(spark, dir, "documents")
      def shRaw() = Dedup.shingleHashes(d, k = 2)
      def capped(sh: org.apache.spark.sql.DataFrame) = {
        val hot = sh.groupBy(col("sh")).count().filter(col("count") > 50).select(col("sh"))
        sh.join(broadcast(hot), Seq("sh"), "left_anti")
      }
      time("shingles only")(noop(shRaw()))
      time("shingles only 2")(noop(shRaw()))
      time("capped")(noop(capped(shRaw())))
      // old full shape
      def oldShape(): Unit = {
        val sh = capped(shRaw())
        val cands = sh.as("a").join(sh.as("b"),
            col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
          .distinct()
        noop(Dedup.verifyJaccard(cands, sh, 0.3))
      }
      time("old full")(oldShape())
      time("old full 2")(oldShape())
      time("new full")(noop(Dedup.ngramJaccardDups(spark, dir)))
      time("new full 2")(noop(Dedup.ngramJaccardDups(spark, dir)))
      // new shape without persist/checkpoint
      def newNoCache(): Unit = {
        val sh = capped(shRaw())
        val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("sh_n"))
        val inter = sh.as("a").join(sh.as("b"),
            col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
          .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
          .agg(count(lit(1)).as("inter"))
        val out = inter
          .join(sizes.select(col("doc_id").as("doc_a"), col("sh_n").as("na")), Seq("doc_a"))
          .join(sizes.select(col("doc_id").as("doc_b"), col("sh_n").as("nb")), Seq("doc_b"))
          .withColumn("jaccard",
            graft.functions.Rounding.portableRound4(col("inter").cast("double") /
              (col("na") + col("nb") - col("inter")).cast("double")))
          .filter(col("jaccard") >= 0.3)
          .select(col("doc_a"), col("doc_b"), col("jaccard"))
          .orderBy(col("doc_a"), col("doc_b"))
        noop(out)
      }
      time("new nocache")(newNoCache())
      time("new nocache 2")(newNoCache())
      spark.stop(); return
    }
    if (args.headOption.contains("entity_stages")) {
      import org.apache.spark.sql.functions._
      val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
      def noop(df: org.apache.spark.sql.DataFrame): Unit =
        df.write.format("noop").mode("overwrite").save()
      val maxDist = 2
      val parts = Tables.load(spark, dir, "part")
        .select(col("p_partkey"), col("p_name"),
          element_at(split(col("p_name"), " "), -1).as("blk"),
          length(col("p_name")).as("len"))
      val nm = parts.groupBy(col("blk"), col("p_name"), col("len"))
        .agg(count(lit(1)).as("cnt"), min(col("p_partkey")).as("k1"))
      time("nm agg")(noop(nm))
      def candB() = nm.as("x").join(nm.as("y"),
          col("x.blk") === col("y.blk") &&
            abs(col("x.len") - col("y.len")) <= maxDist)
        .withColumn("dist", levenshtein(col("x.name"), col("y.name"), maxDist))
      val candBand = nm.as("x").join(nm.as("y"),
          col("x.blk") === col("y.blk") &&
            abs(col("x.len") - col("y.len")) <= maxDist)
      time("band join only (count)")(println("band pairs: " + candBand.count()))
      val banded = nm.select(col("p_name").as("name"), col("blk"), col("len"))
        .as("x").join(nm.select(col("p_name").as("name"), col("blk"), col("len")).as("y"),
          col("x.blk") === col("y.blk") &&
            abs(col("x.len") - col("y.len")) <= maxDist)
        .withColumn("dist", levenshtein(col("x.name"), col("y.name"), maxDist))
        .filter(col("dist") =!= -1)
      time("band + banded lev (count)")(println("lev pairs: " + banded.count()))
      val unb = nm.select(col("p_name").as("name"), col("blk"), col("len"))
        .as("x").join(nm.select(col("p_name").as("name"), col("blk"), col("len")).as("y"),
          col("x.blk") === col("y.blk") &&
            abs(col("x.len") - col("y.len")) <= maxDist)
        .withColumn("dist", levenshtein(col("x.name"), col("y.name")))
        .filter(col("dist") <= maxDist)
      time("band + UNBOUNDED lev (count)")(println("lev pairs: " + unb.count()))
      time("full fuzzyParts")(noop(
        graft.operators.EntityResolution.fuzzyParts(spark, dir)))
      time("full fuzzyParts 2")(noop(
        graft.operators.EntityResolution.fuzzyParts(spark, dir)))
      // branch decomposition of the full query
      val maxBlock = 10000
      val bdf = parts.groupBy(col("blk")).agg(count(lit(1)).as("bdf"))
      val k2 = parts.join(nm.select(col("p_name"), col("k1")), Seq("p_name"))
        .filter(col("p_partkey") > col("k1"))
        .groupBy(col("p_name")).agg(min(col("p_partkey")).as("k2"))
      val nmb = nm.join(broadcast(bdf), Seq("blk"))
        .join(k2, Seq("p_name"), "left")
        .withColumn("big", col("bdf") > maxBlock)
        .select(col("blk"), col("p_name").as("name"), col("len"),
          col("cnt"), col("k1"), col("k2"), col("big"))
      time("nmb (count)")(println("nmb: " + nmb.count()))
      val cand = nmb.as("x").join(nmb.as("y"),
          col("x.blk") === col("y.blk") &&
            abs(col("x.len") - col("y.len")) <= maxDist)
        .withColumn("dist", levenshtein(col("x.name"), col("y.name"), maxDist))
        .filter(col("dist") =!= -1)
      val symSmall = cand.filter(!col("x.big"))
        .select(col("x.name").as("name_a"), col("y.name").as("name_b"),
          col("dist"))
      time("symSmall (count)")(println("symSmall: " + symSmall.count()))
      val fan = parts
        .join(broadcast(symSmall), col("p_name") === col("name_a"))
        .select(col("p_partkey").as("key_a"), col("name_a"),
          col("name_b"), col("dist"),
          explode(sequence(lit(0), lit(7))).as("salt"))
      time("fan (count)")(println("fan: " + fan.count()))
      val bSide = parts
        .select(col("p_name").as("name_b"), col("p_partkey").as("key_b"),
          pmod(hash(col("p_partkey")), lit(8)).as("salt"))
      val small = fan.join(bSide, Seq("name_b", "salt"))
        .filter(col("key_a") < col("key_b"))
        .select(col("key_a"), col("key_b"), col("name_a"), col("name_b"),
          col("dist").cast("long").as("edit_dist"))
      time("small branch (count)")(println("small: " + small.count()))
      time("small branch noop")(noop(small))
      time("small + orderBy noop")(noop(small.orderBy(col("key_a"), col("key_b"))))
      spark.stop(); return
    }
    if (args.headOption.contains("curation_stages")) {
      import org.apache.spark.sql.functions._
      import graft.functions.TextAnalysis
      val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
      def noop(df: org.apache.spark.sql.DataFrame): Unit =
        df.write.format("noop").mode("overwrite").save()
      val d = Tables.load(spark, dir, "documents")
      val sig = d.select(
        col("doc_id"), col("text"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"),
        TextAnalysis.punctRatio(col("text")).as("punct_ratio"),
        TextAnalysis.langPredict(col("text")).as("pred_lang"),
        TextAnalysis.fingerprint(col("text")).as("fp"))
      time("sig projection")(noop(sig.drop("text")))
      time("sig projection 2")(noop(sig.drop("text")))
      val canon = sig.groupBy(col("fp"))
        .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("grp_n"))
      time("canon agg")(noop(canon))
      time("hotKeyJoin")(noop(
        graft.operators.Skew.hotKeyJoin(sig, canon, "fp", saltSource = col("doc_id"))
          .select(col("doc_id"), col("canonical_id"))))
      time("full decisions")(noop(graft.operators.Curation.decisions(spark, dir)))
      time("full decisions 2")(noop(graft.operators.Curation.decisions(spark, dir)))
      spark.stop(); return
    }
    if (args.headOption.contains("emb_stages")) {
      import org.apache.spark.sql.functions._
      import graft.operators.{Dedup, Similarity}
      val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
      def noop(df: org.apache.spark.sql.DataFrame): Unit =
        df.write.format("noop").mode("overwrite").save()
      val threshold = 0.4
      time("full embeddingNearDups")(noop(Dedup.embeddingNearDups(spark, dir, threshold)))
      time("full embeddingNearDups 2")(noop(Dedup.embeddingNearDups(spark, dir, threshold)))
      val e = Similarity.emb(spark, dir).filter(col("nrm") > 0)
      time("seeds+kmeans1")(Similarity.collectCells(
        Similarity.kmeansCentroids(e, Similarity.cellSeeds(e), 1)))
      val thetaT = math.acos(threshold)
      time("coverageCentroids r3")(Similarity.collectCells(
        Similarity.coverageCentroids(e, Similarity.cellSeeds(e),
          maxAngle = thetaT / 2, rounds = 3)))
      val p = Dedup.cellPrune(Similarity.emb(spark, dir), threshold)
      time("verify only")(noop(Dedup.verifyCellPairs(p.assigned, p.keep, threshold)))
      time("verify only 2")(noop(Dedup.verifyCellPairs(p.assigned, p.keep, threshold)))
      spark.stop(); return
    }
    if (args.headOption.contains("ann_stages")) {
      import graft.operators.{IvfIndex, Similarity}
      val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
      // warm everything once
      time("ann full cold")(
        Similarity.annRecall(spark, dir).write.format("noop").mode("overwrite").save())
      time("ann full warm")(
        Similarity.annRecall(spark, dir).write.format("noop").mode("overwrite").save())
      time("ensureIndex 1")(IvfIndex.ensureIndex(spark, dir))
      time("ensureIndex k2")(IvfIndex.ensureIndex(spark, dir, kmeansIters = 2))
      time("sq8 rerank")(
        IvfIndex.knnSq8Rerank(spark, dir, 5).collect())
      time("sq8 rerank 2")(
        IvfIndex.knnSq8Rerank(spark, dir, 5).collect())
      time("brute gt")(Similarity.bruteGroundTruth(spark, dir, 5))
      time("ann full warm 2")(
        Similarity.annRecall(spark, dir).write.format("noop").mode("overwrite").save())
      spark.stop(); return
    }
    if (args.headOption.contains("minhash_ab")) {
      // old (sets over all docs) vs new (candidate-restricted sets)
      import org.apache.spark.sql.functions._
      import graft.operators.Dedup
      val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
      def noop(df: org.apache.spark.sql.DataFrame): Unit =
        df.write.format("noop").mode("overwrite").save()
      val d = Tables.load(spark, dir, "documents")
      def capped() = {
        val sh = Dedup.shingleHashes(d)
        val hot = sh.groupBy(col("sh")).count().filter(col("count") > 1000).select(col("sh"))
        sh.join(broadcast(hot), Seq("sh"), "left_anti")
      }
      def oldShape(): Unit = {
        val sh = capped()
        val cands = Dedup.lshCandidates(Dedup.minhashSignatures(sh))
        noop(Dedup.verifyJaccard(cands, sh, 0.5))
      }
      (1 to 3).foreach(i => time(s"old $i")(oldShape()))
      (1 to 3).foreach(i => time(s"new $i")(
        noop(Dedup.minhashNearDups(spark, dir))))
      spark.stop(); return
    }
    if (args.headOption.contains("boiler_stages")) {
      // stage decomposition of the boilerplate pair: tokenize pass,
      // gram df top-k, probe pass, full queries
      import org.apache.spark.sql.functions._
      import graft.operators.{InvertedIndex, TextQueries}
      val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
      def noop(df: org.apache.spark.sql.DataFrame): Unit =
        df.write.format("noop").mode("overwrite").save()
      val d = Tables.load(spark, dir, "documents")
        .select(col("doc_id"),
          filter(
            transform(split(col("text"), "\\s+"), t => InvertedIndex.normalizeToken(t)),
            w => length(w) > 0).as("ws"))
      time("normWords scan")(noop(d))
      time("normWords scan 2")(noop(d))
      def grams = d.filter(size(col("ws")) >= 2)
        .select(col("doc_id"), posexplode(transform(
          sequence(lit(0), size(col("ws")) - 2),
          i => concat_ws(" ", element_at(col("ws"), i + 1), element_at(col("ws"), i + 2))))
          .as(Seq("p", "gram")))
      time("grams noop")(noop(grams))
      time("gram df top-50 (collect)")(println("top head: " + grams
        .groupBy(col("gram")).agg(countDistinct(col("doc_id")).as("df"))
        .orderBy(col("df").desc, col("gram").asc)
        .limit(50).select(col("gram")).collect().length))
      time("full boilerplate")(noop(TextQueries.boilerplate(spark, dir)))
      time("full boilerplate 2")(noop(TextQueries.boilerplate(spark, dir)))
      time("full strip")(noop(TextQueries.boilerplateStrip(spark, dir)))
      time("full strip 2")(noop(TextQueries.boilerplateStrip(spark, dir)))
      spark.stop(); return
    }
    if (args.headOption.contains("minhash_cnt")) {
      // set-based verify (collect_set + array_intersect, the shipped
      // shape) vs count-based verify that attaches shingles THROUGH the
      // candidate pairs — cands referenced once, no set arrays, no
      // ObjectHashAggregate. Times both, then diffs outputs.
      import org.apache.spark.sql.functions._
      import graft.operators.Dedup
      val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
      def noop(df: org.apache.spark.sql.DataFrame): Unit =
        df.write.format("noop").mode("overwrite").save()
      val d = Tables.load(spark, dir, "documents")
      def capped() = {
        val sh = Dedup.shingleHashes(d)
        val hot = sh.groupBy(col("sh")).count().filter(col("count") > 1000).select(col("sh"))
        sh.join(broadcast(hot), Seq("sh"), "left_anti")
      }
      def cntShape() = {
        val sh = capped()
        val cands = Dedup.lshCandidates(Dedup.minhashSignatures(sh))
        val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("sh_n"))
        val inter = cands
          .join(sh.select(col("doc_id").as("doc_a"), col("sh")), Seq("doc_a"))
          .join(sh.select(col("doc_id").as("doc_b"), col("sh")), Seq("doc_b", "sh"))
          .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("inter"))
        inter
          .join(sizes.select(col("doc_id").as("doc_a"), col("sh_n").as("na")), Seq("doc_a"))
          .join(sizes.select(col("doc_id").as("doc_b"), col("sh_n").as("nb")), Seq("doc_b"))
          .withColumn("jaccard",
            graft.functions.Rounding.portableRound4(col("inter").cast("double") /
              (col("na") + col("nb") - col("inter")).cast("double")))
          .filter(col("jaccard") >= 0.5)
          .select(col("doc_a"), col("doc_b"), col("jaccard"))
          .orderBy(col("doc_a"), col("doc_b"))
      }
      (1 to 3).foreach(i => time(s"set-based $i")(
        noop(Dedup.minhashNearDups(spark, dir))))
      (1 to 3).foreach(i => time(s"count-based $i")(noop(cntShape())))
      val a = Dedup.minhashNearDups(spark, dir).collect().map(_.toSeq).toSeq
      val b = cntShape().collect().map(_.toSeq).toSeq
      println(s"[probe] outputs equal: ${a == b} (${a.size} rows)")
      spark.stop(); return
    }
    if (args.headOption.contains("minhash")) {
      val dir = "/root/testdata/sf0.1"
      def noop(df: org.apache.spark.sql.DataFrame): Unit =
        df.write.format("noop").mode("overwrite").save()
      val d = Tables.load(spark, dir, "documents")
      time("warm full")(noop(graft.operators.Dedup.minhashNearDups(spark, dir)))
      time("shingles")(noop(graft.operators.Dedup.shingleHashes(d)))
      val sh = graft.operators.Dedup.shingleHashes(d)
      time("signatures")(noop(graft.operators.Dedup.minhashSignatures(sh)))
      time("candidates")(noop(
        graft.operators.Dedup.lshCandidates(graft.operators.Dedup.minhashSignatures(sh))))
      time("full 2")(noop(graft.operators.Dedup.minhashNearDups(spark, dir)))
      time("full 3")(noop(graft.operators.Dedup.minhashNearDups(spark, dir)))
      spark.stop(); return
    }
    if (args.headOption.contains("media_stages")) {
      // stage decomposition of the exact-media candidate pipeline on an
      // arbitrary corpus dir (default: the ScaleBench 100x replica) —
      // which stage owns the wall clock at the superlinear point?
      import graft.operators.{Dedup, Multimodal}
      val dir = if (args.length > 1) args(1) else "/tmp/graft-scale/sf10"
      def noop(df: org.apache.spark.sql.DataFrame): Unit =
        df.write.format("noop").mode("overwrite").save()
      def stages(): Unit = {
        val (media, cand, nMedia) = Multimodal.candidateStream(spark, dir,
          64, Multimodal.GateBytes, Multimodal.GateKeepFraction)
        time("candidates (explode, no distinct)")(noop(cand))
        val verified = Multimodal.verifiedPairs(spark, media, cand, nMedia, 0.99)
        time("verified (join+cos)")(noop(verified))
        time("forest")(noop(Dedup.localForest(
          verified.select(org.apache.spark.sql.functions.col("media_a").as("doc_a"),
            org.apache.spark.sql.functions.col("media_b").as("doc_b")))))
        time("distinct over candidates")(noop(cand.distinct()))
        time("full mediaDupGroups")(noop(Multimodal.mediaDupGroups(spark, dir)))
        time("full mediaNearDupsExact")(noop(Multimodal.mediaNearDupsExact(spark, dir)))
      }
      stages(); println("[probe] --- second pass (warm) ---"); stages()
      spark.stop(); return
    }
    if (args.headOption.contains("sf1")) {
      // time one SparkEntry query against the synthetic sf1 replica
      // (built once into /tmp/graft-sf1-bench, reused across probes)
      val work = "/tmp/graft-sf1-bench"
      // reuse is keyed on a completion marker, not on the first output
      // file — a crashed partial replicate must be rebuilt, not reused
      val marker = new java.io.File(s"$work/_REPLICATED")
      val fn = queryArg()
      if (!marker.exists()) {
        time("replicate sf1")(BenchSf1.replicate(spark, "/root/testdata/sf0.1", work))
        marker.createNewFile()
      }
      def noop(): Unit =
        fn(spark, work).write.format("noop").mode("overwrite").save()
      noop()
      val ts = (1 to 3).map { _ =>
        val t0 = System.nanoTime(); noop(); (System.nanoTime() - t0) / 1e9
      }
      println(f"[probe] sf1 ${args(1)} median=${Bench.median(ts)}%.2f s all=${ts.map(t => f"$t%.2f").mkString(",")}")
      spark.stop(); return
    }
    if (args.headOption.contains("spread")) {
      // spread/GC forensics for one query (the ZORDER_PROBE method):
      // optional heap-dirtying query first, then the Bench discipline
      // (1 warm-up, System.gc quiesce) and 12 timed runs, each recording
      // the delta of cumulative GC pause time/count from the JVM's
      // collector beans — a slow run whose GC delta explains the gap is
      // allocation/ambient-heap context, not operator work. Writes
      // SPREAD_PROBE.json. Usage: Probe spread <query> [dirtyQuery]
      val fn = queryArg()
      val dir = "/root/testdata/sf0.1"
      def noop(f: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame): Unit =
        f(spark, dir).write.format("noop").mode("overwrite").save()
      import scala.jdk.CollectionConverters._
      def gcStats(): (Long, Long) = {
        val beans = java.lang.management.ManagementFactory
          .getGarbageCollectorMXBeans.asScala
        (beans.map(_.getCollectionTime).sum, beans.map(_.getCollectionCount).sum)
      }
      // leak forensics (the r16-verdict walk): persistent-RDD census
      // after each run — a lifecycle leak shows as rdd_n/rdd_mb
      // climbing run-over-run; flat-at-zero means released-by-contract
      def storage(): (Int, Double) = {
        val inf = spark.sparkContext.getRDDStorageInfo
        (inf.length, inf.map(i => (i.memSize + i.diskSize).toDouble).sum / 1e6)
      }
      def jitMs(): Long = Option(java.lang.management.ManagementFactory
        .getCompilationMXBean).map(_.getTotalCompilationTime).getOrElse(0L)
      args.lift(2).foreach { d =>
        val dirty = SparkEntry.queries(d)
        time(s"dirty $d")(noop(dirty))
      }
      noop(fn) // warm-up (untimed, as in Bench)
      System.gc()
      val runs = (1 to 12).map { _ =>
        val (g0, c0) = gcStats(); val j0 = jitMs()
        val t0 = System.nanoTime()
        noop(fn)
        val sec = (System.nanoTime() - t0) / 1e9
        val (g1, c1) = gcStats()
        val (rn, rmb) = storage()
        (sec, (g1 - g0) / 1000.0, c1 - c0, jitMs() - j0, rn, rmb)
      }
      val json = s"""{"probe":"spread","query":"${args(1)}","dirty":"${args.lift(2).getOrElse("")}","runs":[""" +
        runs.map { case (s, g, c, j, rn, rmb) =>
          f"""{"sec":$s%.3f,"gc_sec":$g%.3f,"gc_n":$c,"jit_ms":$j,"rdd_n":$rn,"rdd_mb":$rmb%.1f}""" }.mkString(",") + "]}"
      println(json)
      java.nio.file.Files.write(java.nio.file.Paths.get("SPREAD_PROBE.json"),
        (json + "\n").getBytes("UTF-8"))
      spark.stop(); return
    }
    if (args.headOption.contains("pagerank_converge")) {
      // does the integer fixed point actually arrive? run a deep
      // iteration budget and report the early-exit iteration
      val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.001"
      val iters = if (args.length > 2) args(2).toInt else 300
      val out = graft.operators.Graphs.pageRank(spark, dir, iters)
      out.write.format("noop").mode("overwrite").save()
      println(s"[probe] converged_at=" +
        spark.sparkContext.getLocalProperty("graft.pagerank.converged_at"))
      spark.stop(); return
    }
    if (args.headOption.contains("media_steps")) {
      // stage decomposition of mediaNearDupsExact on an arbitrary
      // corpus dir (default: the ScaleBench 100x replica) — where does
      // the 100x point actually spend its time?
      import org.apache.spark.sql.functions._
      val dir = if (args.length > 1) args(1) else "/tmp/graft-scale/sf10"
      val media = graft.operators.Multimodal.mediaTable(spark, dir)
      def noop(df: org.apache.spark.sql.DataFrame): Unit =
        df.write.format("noop").mode("overwrite").save()
      val positions = sequence(lit(1), greatest(length(col("content")) - 15, lit(1)), lit(4))
      val wins = media.select(col("media_id"),
        explode(transform(positions, p => col("content").substr(p, lit(16)))).as("win"))
      (1 to 2).foreach { round =>
        time(s"r$round wins explode only")(noop(wins))
        val kept = wins.select(col("win")).groupBy(col("win"))
          .agg(count(lit(1)).as("wcnt")).filter(col("wcnt") >= 2).select(col("win"))
        time(s"r$round count gate (agg+filter)")(noop(kept))
        val semi = wins.join(broadcast(kept), Seq("win"), "left_semi")
        time(s"r$round semi-filtered wins")(noop(semi))
        println(s"[probe] r$round kept wins = " + time(s"r$round kept count")(kept.count()))
        println(s"[probe] r$round semi rows = " + time(s"r$round semi count")(semi.count()))
        val cappedSet = org.apache.spark.sql.functions.udaf(
          new graft.functions.CappedDistinctAggregator(64))
        val grouped = semi.groupBy(col("win"))
          .agg(cappedSet(col("media_id")).as("ms"))
          .filter(size(col("ms")).between(2, 64))
        time(s"r$round grouped capped sets")(noop(grouped))
        val cand = grouped
          .select(explode(flatten(transform(col("ms"), (a, i) =>
            transform(slice(col("ms"), i + lit(2), size(col("ms"))),
              b => array(a, b))))).as("p"))
          .select(element_at(col("p"), 1).as("media_a"),
            element_at(col("p"), 2).as("media_b"))
          .distinct()
        time(s"r$round cand pairs distinct")(noop(cand))
        val hv = graft.operators.Multimodal.byteHistVec(spark, media)
        time(s"r$round byteHistVec")(noop(hv))
        time(s"r$round full operator")(noop(
          graft.operators.Multimodal.mediaNearDupsExact(spark, dir)))
      }
      spark.stop(); return
    }
    if (args.headOption.contains("media_pairs")) {
      // output density of the exact media audit at 1x and the 100x
      // replica corpus: candidate pairs and verified near-dups — the
      // denominator of the honest pairs/sec scale story
      import org.apache.spark.sql.functions._
      Seq("/root/testdata/sf0.1", "/tmp/graft-scale/sf10").foreach { dir =>
        val cand = graft.operators.Multimodal
          .mediaNearDupsExact(spark, dir, threshold = 0.0)
        val n = time(s"cand pairs $dir")(cand.count())
        println(s"[probe] $dir candidate_pairs=$n")
      }
      spark.stop(); return
    }
    if (args.headOption.contains("pagerank_warm")) {
      // warm-start iteration savings on a perturbed graph: cold-run the
      // synthetic hub-of-cliques graph to its exact fixed point, drop
      // one intra-clique edge (node count unchanged), then compare the
      // cold vs warm-seeded re-convergence iteration counts (results
      // are identical by the start-independent fixed point — asserted)
      import spark.implicits._
      import graft.operators.Graphs
      def cliques(sizes: Seq[Int]): Seq[(String, String)] = {
        val e = scala.collection.mutable.ListBuffer.empty[(String, String)]
        sizes.zipWithIndex.foreach { case (sz, ci) =>
          val ids = (0 until sz).map(i => s"c${ci}n$i")
          for (a <- ids; b <- ids if a < b) { e += ((a, b)); e += ((b, a)) }
          e += ((s"c${ci}n0", "hub")); e += (("hub", s"c${ci}n0"))
        }
        e.toSeq
      }
      def conv(): String = Option(spark.sparkContext
        .getLocalProperty("graft.pagerank.converged_at")).getOrElse("none")
      val all = cliques(Seq.tabulate(30)(i => 3 + i % 6))
      val base = all.toDF("src", "dst")
      val pert = all.filterNot { case (a, b) =>
        Set(a, b) == Set("c0n1", "c0n2") }.toDF("src", "dst")
      val cold0 = Graphs.run(spark, base, 300, None)
      cold0.count()
      val coldBaseIters = conv()
      val warm = Graphs.run(spark, pert, 300, Some(cold0))
      val warmRows = warm.collect().toSeq
      val warmIters = conv()
      val coldP = Graphs.run(spark, pert, 300, None)
      val identical = coldP.collect().toSeq == warmRows
      val coldIters = conv()
      Graphs.releaseResults()
      println(s"""{"probe":"pagerank_warm","cold_base_iters":$coldBaseIters,""" +
        s""""cold_perturbed_iters":$coldIters,"warm_perturbed_iters":$warmIters,""" +
        s""""identical_fixed_point":$identical}""")
      spark.stop(); return
    }
    if (args.headOption.contains("pagerank_steps")) {
      // stage decomposition of q_pagerank: setup (edges distinct +
      // repartition + degree count) vs per-iteration cost vs the final
      // checkpointed sort
      import org.apache.spark.sql.functions._
      val dir = "/root/testdata/sf0.1"
      (1 to 2).foreach { round =>
        val edges = graft.operators.Graphs.supplyEdges(spark, dir)
          .repartition(col("src")).persist()
        val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
          .select(col("src").as("node"), col("deg"))
          .repartition(col("node")).persist()
        val n = time(s"r$round setup(count deg)")(deg.count())
        println(s"[probe] nodes=$n edges=" + time(s"r$round edges count")(edges.count()))
        var ranks = deg.select(col("node"), lit(1000000L).as("r"), col("deg")).persist()
        ranks.count()
        (1 to 5).foreach { i =>
          val prev = ranks
          val share = ranks.select(col("node").as("src"), expr("r div deg").as("c"))
          val contrib = edges.join(broadcast(share), Seq("src"))
            .groupBy(col("dst")).agg(sum(col("c")).as("s"))
          ranks = deg.join(broadcast(contrib.withColumnRenamed("dst", "node")),
              Seq("node"), "left")
            .select(col("node"), (lit(7L) + expr("(85 * coalesce(s, 0L)) div 100")).as("r"),
              col("deg")).persist()
          time(s"r$round iter $i")(ranks.count())
          prev.unpersist()
        }
        val out = time(s"r$round checkpoint")(
          ranks.select(col("node"), col("r").as("rank_fp"))
            .orderBy(col("rank_fp").desc, col("node").asc).localCheckpoint(true))
        edges.unpersist(); deg.unpersist(); ranks.unpersist(); out.unpersist()
      }
      spark.stop(); return
    }
    if (args.headOption.contains("query")) {
      // time one SparkEntry query at sf0.1 (warm-up + 3 timed runs) —
      // the same noop-sink materialization Bench uses
      val dir = if (args.length > 2) args(2) else "/root/testdata/sf0.1"
      val fn = queryArg()
      def noop(): Unit =
        fn(spark, dir).write.format("noop").mode("overwrite").save()
      noop()
      val ts = (1 to 7).map { i =>
        val t0 = System.nanoTime(); noop(); (System.nanoTime() - t0) / 1e9
      }
      println(f"[probe] ${args(1)} median=${Bench.median(ts)}%.2f s all=${ts.map(t => f"$t%.2f").mkString(",")}")
      spark.stop(); return
    }
    if (args.headOption.contains("knn_floor")) {
      // stage decomposition of q_knn_brute: scan+broadcast+dot floor vs
      // the bounded-heap aggregate vs the window form it replaced
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.expressions.Window
      val dir = "/root/testdata/sf0.1"
      def noop(df: org.apache.spark.sql.DataFrame): Unit =
        df.write.format("noop").mode("overwrite").save()
      val e = graft.operators.Similarity.emb(spark, dir)
      val q = e.select(col("vec_id").as("query_id"), col("emb").as("q_emb"),
        col("nrm").as("q_nrm")).filter(col("query_id") < 10)
      val scored = e.join(broadcast(q), col("vec_id") =!= col("query_id"))
        .withColumn("cos", graft.functions.Rounding.portableRound4(
          graft.functions.VectorFunctions.arrayDot(col("emb"), col("q_emb")) /
            (col("nrm") * col("q_nrm"))))
      val floor = scored.select(col("query_id"), col("vec_id"), col("cos"))
      val topk = udaf(new graft.functions.TopKAggregator(5))
      val agg = scored.groupBy(col("query_id"))
        .agg(topk(col("cos"), col("vec_id")).as("top"))
      val win = scored.withColumn("rnk", row_number().over(
          Window.partitionBy(col("query_id"))
            .orderBy(col("cos").desc, col("vec_id").asc)))
        .filter(col("rnk") <= 5)
        .select(col("query_id"), col("rnk"), col("vec_id"), col("cos"))
      Seq("floor" -> floor, "agg" -> agg, "window" -> win).foreach {
        case (label, df) =>
          noop(df)
          (1 to 3).foreach(i => time(s"$label $i")(noop(df)))
      }
      spark.stop(); return
    }
    if (args.headOption.contains("hh_floor")) {
      // floor costs for the heavy-hitters input: the bare tokenize
      // projection (codegen only) vs the same projection pulled through
      // a deserializing mapPartitions (the scan shape frequentWords uses)
      import org.apache.spark.sql.functions.{col, explode, length, split}
      val dir = "/root/testdata/sf0.1"
      val toks = Tables.load(spark, dir, "documents")
        .select(explode(split(col("text"), "\\s+")).as("tok"))
        .select(graft.operators.InvertedIndex.normalizeToken(col("tok")).as("word"))
        .filter(length(col("word")) > 0)
      def noop(df: org.apache.spark.sql.DataFrame): Unit =
        df.write.format("noop").mode("overwrite").save()
      import spark.implicits._
      val deser = toks.as[String].mapPartitions { it =>
        var n = 0L; it.foreach(_ => n += 1); Iterator.single(n)
      }.toDF("n")
      noop(toks); noop(deser)
      (1 to 3).foreach(i => time(s"tokens codegen $i")(noop(toks)))
      (1 to 3).foreach(i => time(s"tokens deser $i")(noop(deser)))
      spark.stop(); return
    }
    if (args.headOption.contains("hh_steps")) {
      // stage decomposition of q_heavy_hitters: raw docs repartition,
      // the single emit pass, then the full query
      import org.apache.spark.sql.functions.{col, explode, length, split}
      val dir = "/root/testdata/sf0.1"
      def noop(df: org.apache.spark.sql.DataFrame): Unit =
        df.write.format("noop").mode("overwrite").save()
      val docs = Tables.load(spark, dir, "documents").select(col("text"))
        .repartition(spark.sparkContext.defaultParallelism)
      val toks = docs
        .select(explode(split(col("text"), "\\s+")).as("tok"))
        .select(graft.operators.InvertedIndex.normalizeToken(col("tok")).as("word"))
        .filter(length(col("word")) > 0)
      val emitted = graft.functions.HeavyHitters.emit(spark, toks, "word", 1 << 12, 3, 4096)
      val full = graft.functions.HeavyHitters.frequentWords(spark, toks, "word", minCount = 100)
      Seq("docs" -> docs, "toks" -> toks, "emit" -> emitted, "full" -> full).foreach {
        case (label, df) =>
          noop(df)
          (1 to 3).foreach(i => time(s"$label $i")(noop(df)))
      }
      spark.stop(); return
    }
    if (args.headOption.contains("ivf_plan")) {
      import org.apache.spark.sql.functions.col
      val sf = "/root/testdata/sf0.001"
      val path = java.nio.file.Files.createTempDirectory("graft-ivfprobe").toString
      graft.operators.IvfIndex.build(spark, sf, path)
      val q = graft.operators.Similarity.emb(spark, sf).filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("emb").as("q_emb"),
          col("nrm").as("q_nrm"))
      val result = graft.operators.IvfIndex.knn(spark, path, q)
      result.collect()
      println("=== EXECUTED ===")
      println(result.queryExecution.executedPlan.toString)
      spark.stop(); return
    }
    if (args.headOption.contains("cellprune")) {
      // keep-rate + wall time of the cell-pruned embedding dedup at the
      // 200k ScaleBench corpus, by Lloyd iteration count
      import org.apache.spark.sql.functions.col
      val dir = if (args.length > 2) args(2) else "/tmp/graft-scale/emb100x"
      val corpus = Tables.load(spark, dir, "embeddings")
        .select(col("vec_id"),
          graft.operators.Similarity.toDouble(col("embedding")).as("emb"))
        .withColumn("nrm", graft.functions.VectorFunctions.l2Norm(col("emb")))
      // coverage diagnostics: median member angle after 1 Lloyd iter
      locally {
        import graft.operators.Similarity
        val e = corpus.filter(col("nrm") > 0)
        val cents = Similarity.kmeansCentroids(e, Similarity.cellSeeds(e), 1)
        val cells = Similarity.collectCells(cents)
        val withAng = Similarity.assignCells(e, cells)
          .join(org.apache.spark.sql.functions.broadcast(cents), Seq("cent_id"))
          .withColumn("ang", org.apache.spark.sql.functions.acos(
            org.apache.spark.sql.functions.least(org.apache.spark.sql.functions.lit(1.0),
              org.apache.spark.sql.functions.greatest(org.apache.spark.sql.functions.lit(-1.0),
                graft.functions.VectorFunctions.arrayDot(col("emb"), col("cent_emb")) /
                  (col("nrm") * col("cent_nrm"))))))
        val qs = withAng.stat.approxQuantile("ang", Array(0.25, 0.5, 0.75, 0.9), 0.01)
        println(f"[probe] cells=${cells.ids.size} angle quartiles=${qs.map(q => f"$q%.3f").mkString(",")} maxAngle=${math.acos(0.9) / 2}%.3f")
      }
      args(1).split(",").map(_.toInt).foreach { it =>
        val t0 = System.nanoTime()
        val p = graft.operators.Dedup.cellPrune(corpus, 0.9, kmeansIters = it)
        val kept = p.keep.count()
        val rate = kept.toDouble / (p.cells.toDouble * p.cells)
        val tPrune = (System.nanoTime() - t0) / 1e9
        val n = {
          val t = System.nanoTime()
          val c = graft.operators.Dedup
            .embeddingNearDupsOn(corpus, 0.9, kmeansIters = it).count()
          (c, (System.nanoTime() - t) / 1e9)
        }
        println(f"[probe] iters=$it cells=${p.cells} keep=$rate%.4f prune_s=$tPrune%.1f full_s=${n._2}%.1f pairs=${n._1}")
      }
      spark.stop(); return
    }
    spark.stop()
    sys.error(s"unknown Probe mode: ${args.headOption.getOrElse("(none)")}")
  }
}
