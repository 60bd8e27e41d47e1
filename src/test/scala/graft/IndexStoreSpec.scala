package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.operators.{IndexStore, InvertedIndex, TextQueries}
import graft.sources.DocumentCorpus
import graft.streaming.EventStream

class IndexStoreSpec extends SparkSpec with SeededIndexCorpus {

  private val sf = "/root/testdata/sf0.001"

  test("materialized index lookup prunes to one letter partition") {
    val docs = DocumentCorpus.documents(spark, Fixtures.smallManifest)
    val path = java.nio.file.Files.createTempDirectory("graft-idx").toString
    IndexStore.materialize(docs, path)

    val lookup = IndexStore.lookup(spark, path, "sky")
    val scan = lookup.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).mkString("\n")
    assert(scan.contains("PartitionFilters") && scan.contains("letter"),
      s"no partition pruning:\n$scan")
    val rows = lookup.collect()
    assert(rows.length == 1)
    assert(rows(0).getSeq[Int](1) == Seq(1, 2, 3)) // 'sky' is in all 3 small docs

    // pruning actually reads 1 of N letter dirs
    val dirs = new java.io.File(path).listFiles().count(_.getName.startsWith("letter="))
    assert(dirs > 5, s"expected many letter partitions, got $dirs")
  }

  test("merge folds a delta into the index: equals full rebuild, idempotent, " +
    "and leaves untouched letter partitions' bytes alone") {
    import spark.implicits._
    val base = Seq((1, "apple banana cherry"), (2, "banana dog"))
      .toDF("file_id", "value")
    val delta = Seq((3, "apple avocado")).toDF("file_id", "value") // letter 'a' only
    val path = java.nio.file.Files.createTempDirectory("graft-idx-merge").toString

    IndexStore.materialize(base, path)
    val untouchedFiles = new java.io.File(s"$path/letter=b").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => f.getName -> f.lastModified).toMap

    IndexStore.merge(spark, path, delta)

    def snapshot() = IndexStore.load(spark, path)
      .select(col("word"), col("file_ids")).collect()
      .map(r => r.getString(0) -> r.getSeq[Int](1).toList).toMap
    val merged = snapshot()
    val full = InvertedIndex.build(base.union(delta)).collect()
      .map(r => r.getString(0) -> r.getSeq[Int](1).toList).toMap
    assert(merged == full, s"merge != full rebuild: $merged vs $full")

    // only letter=a was rewritten; letter=b files are bit-for-bit the same on disk
    val after = new java.io.File(s"$path/letter=b").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => f.getName -> f.lastModified).toMap
    assert(after == untouchedFiles,
      s"untouched partition rewritten: $untouchedFiles -> $after")

    // idempotent: re-merging the same delta changes nothing
    IndexStore.merge(spark, path, delta)
    assert(snapshot() == full, "re-merge of the same delta is not a no-op")
  }

  test("streaming incremental index equals the batch index") {
    val streamed = EventStream.runToMemory(spark,
      EventStream.incrementalIndex(EventStream.readDocuments(spark, sf)),
      "stream_index", OutputMode.Complete())
    val batch = TextQueries.wordDocPairs(graft.Tables.load(spark, sf, "documents"))
      .groupBy(col("word"))
      .agg(sort_array(collect_set(col("doc_id"))).as("doc_ids"))
    assert(streamed.count() == batch.count())
    assert(streamed.except(batch).count() == 0 && batch.except(streamed).count() == 0)
  }

  test("compressed index: every word's decoded postings equal the plain index; " +
    "binary column is smaller than raw ints") {
    val docs = DocumentCorpus.documents(spark, seededManifest)
    val plain = java.nio.file.Files.createTempDirectory("graft-idx-plain").toString
    val comp = java.nio.file.Files.createTempDirectory("graft-idx-comp").toString
    IndexStore.materialize(docs, plain)
    IndexStore.materializeCompressed(docs, comp)
    // full-index equivalence, not just a point lookup: decode every row
    val p = IndexStore.load(spark, plain).select(col("word"), col("file_ids"))
    val c = spark.read.parquet(comp).select(col("word"),
      transform(graft.functions.PostingCodec.postingDecode(col("postings")),
        _.cast("int")).as("file_ids"))
    assert(p.count() > 1000)
    assert(p.exceptAll(c).isEmpty && c.exceptAll(p).isEmpty,
      "compressed index decodes to a different posting set")
    // in-row bytes: varint postings decisively under 4 B/posting
    val sizes = spark.read.parquet(comp)
      .agg(sum(length(col("postings"))).as("enc"),
        sum(col("n_files") * 4).as("raw")).collect()(0)
    assert(sizes.getLong(0) < sizes.getLong(1) / 2,
      s"expected >2x in-row compression, got enc=${sizes.getLong(0)} raw=${sizes.getLong(1)}")
    // point lookup equality incl. partition pruning on the letter, for
    // the word with the longest posting list
    val head = p.orderBy(size(col("file_ids")).desc, col("word")).first().getString(0)
    val rows = IndexStore.lookupCompressed(spark, comp, head).collect()
    val want = IndexStore.lookup(spark, plain, head).collect()
    assert(rows.length == 1 && rows.length == want.length &&
      rows(0).getSeq[Int](1) == want(0).getSeq[Int](1))
  }
}
