package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Fuzzy record linkage (entity resolution) over the `part` catalog —
  * the blocking → length-filter → edit-distance-verify pipeline every
  * dedup/MDM system runs.
  *
  * DESIGN — verify on DISTINCT VALUES, expand afterwards. A catalog's
  * name vocabulary is far smaller than its row count (here 64 distinct
  * names over 20k–200k rows), so the expensive step — the blocked
  * edit-distance self-join — runs on the distinct-name relation
  * (vocab² candidate pairs, each scored ONCE), and the row-level pair
  * set is recovered by two cheap equi-joins that expand matched name
  * pairs back onto the rows carrying those names. This is the standard
  * attribute-canonicalization trick from the ER literature: verify
  * cost scales with vocabulary², never corpus², which is the only
  * shape that survives 100 TB (a naive row-level block join is
  * quadratic in the block's ROW count — 50M levenshtein calls at
  * sf0.1 here, ~5G at sf1).
  *
  *  - BLOCK on the head noun (last whitespace token of `p_name`).
  *    This is a recall/cost tradeoff, not an invariant: a typo in the
  *    head noun itself ("rod" vs "rods") lands the rows in different
  *    blocks and the pair is missed even though its edit distance is
  *    within bound. The block buys a vocab/8 cut in candidates at the
  *    cost of that recall edge; a recall-critical deployment unions a
  *    second block key (e.g. first token) or routes through
  *    [[Dedup]]'s MinHash machinery.
  *  - LENGTH FILTER inside the block: `levenshtein(a, b) <= k` implies
  *    `|len(a) - len(b)| <= k`, so the cheap byte-length band prunes
  *    name pairs before any distance is computed.
  *  - VERIFY with `levenshtein` — a codegen'd built-in in Spark and a
  *    native function in DuckDB, so the operator is EXACTLY
  *    oracle-checkable (integer distance, no float anywhere).
  *
  * BIG-BLOCK FALLBACK (graceful, not a cliff): a block whose row count
  * exceeds `maxBlock` would produce a row-pair output quadratic in its
  * size (duplicated names alone force c² output pairs), so above the
  * cap the operator degrades to REPRESENTATIVE pairs: one
  * deterministic row pair per matched name pair — the two smallest
  * part keys for a self-matched name, the smallest key on each side
  * (oriented key_a < key_b) for a cross-name match. Below the cap the
  * pair semantics are bit-identical to the unblocked definition; above
  * it the answer stays non-empty and output-bounded (∝ matched name
  * pairs) instead of silently vanishing. Both branches are mirrored
  * exactly in the DuckDB oracle.
  */
object EntityResolution {

  /** Salt width for the expansion join: the row↔name join key is the
    * (low-cardinality) name vocabulary, so the b-side is salted by
    * part-key hash and the fan side replicated, giving vocab×SALT
    * join keys — parallelism never bounded by vocabulary size.
    * Width 8 (vocab×8 = 512 keys on 32 cores, measured 4.8 → 4.1 s at
    * sf0.1 vs width 32): past ~16×cores keys the extra replication
    * only multiplies fan-side traffic. */
  private val Salt = 8

  /** [[DriverCutover]] cap of the [[fuzzyParts]] name dictionary, in
    * matched candidate rows: ~2M rows ≈ low hundreds of MB of driver
    * strings. */
  private val DictCandRows = 1L << 21

  /** Matched pairs with their edit distance (`maxDist` default 2:
    * one typo + one substitution). Deterministic pair orientation
    * (`key_a < key_b`); ordered output. */
  def fuzzyParts(s: SparkSession, dir: String,
      maxDist: Int = 2, maxBlock: Int = 10000): DataFrame = {
    val parts = Tables.load(s, dir, "part")
      .select(col("p_partkey"), col("p_name"),
        element_at(split(col("p_name"), " "), -1).as("blk"),
        length(col("p_name")).as("len"))
    val bdf = parts.groupBy(col("blk")).agg(count(lit(1)).as("bdf"))
    // distinct-name relation: (blk, name, len, row count, smallest key)
    val nm = parts.groupBy(col("blk"), col("p_name"), col("len"))
      .agg(count(lit(1)).as("cnt"), min(col("p_partkey")).as("k1"))
    // second-smallest key per name (for same-name representatives) —
    // a second conditional min pass, not a per-name window sort, so it
    // keeps map-side partials at any block size
    val k2 = parts.join(nm.select(col("p_name"), col("k1")), Seq("p_name"))
      .filter(col("p_partkey") > col("k1"))
      .groupBy(col("p_name")).agg(min(col("p_partkey")).as("k2"))
    val nmb = nm.join(broadcast(bdf), Seq("blk"))
      .join(k2, Seq("p_name"), "left")
      .withColumn("big", col("bdf") > maxBlock)
      .select(col("blk"), col("p_name").as("name"), col("len"),
        col("cnt"), col("k1"), col("k2"), col("big"))

    // verify ONCE at the name level: symmetric candidate pairs (both
    // orders of cross-name matches, self pairs once) within the block
    // and length band; distance computed exactly once per name pair
    val cand = nmb.as("x").join(nmb.as("y"),
        col("x.blk") === col("y.blk") &&
          abs(col("x.len") - col("y.len")) <= maxDist)
      // THRESHOLDED levenshtein (Spark 3.5+): the bounded form runs the
      // banded DP — O(len·maxDist) cells with early abandon instead of
      // O(len²) — and returns -1 past the bound. Kept pairs carry the
      // exact distance, so results are bit-identical to the unbounded
      // form + filter; only the rejected pairs (the overwhelming
      // majority of band-join candidates) get cheaper.
      .withColumn("dist", levenshtein(col("x.name"), col("y.name"), maxDist))
      .filter(col("dist") =!= -1)

    // Every name string the output can carry is a side of some matched
    // candidate pair (small-branch names come from symSmall ⊆ cand;
    // big-branch self pairs (name, name, dist 0) are cand rows too), so
    // the matched pairs collect ONCE into a driver dictionary — the
    // same bounded-by-matched-vocabulary contract that let symSmall
    // broadcast before. Names then travel the expansion joins AND the
    // row-pair global sort as small ints (guide §2.3: the 5.5M-row
    // output sort carried two ~35-byte strings per row for ≤ vocab
    // distinct values — measured 3.0 s of the 4.7 s small-branch wall;
    // dictionary-sorted it is a narrow 4-int sort) and the strings
    // re-attach AFTER the sort as a literal-array projection, which
    // preserves the sink ordering (no exchange, no join).
    //
    // The collect carries each side's keys too (k1/k2/cnt), so the BIG-
    // block branches build driver-side from the same rows: previously
    // bigSame/bigCross referenced the `nmb`/`cand` PLANS, and the final
    // action re-executed the whole nm-aggregate + k2 join + band
    // self-join + levenshtein subtree a second time (exchange reuse
    // cannot span the collect/action boundary) — r20, guide §1.2.
    // Every name has a self pair in cand (dist 0, same block, len band
    // 0), so nmb's big∧cnt≥2 rows are exactly the big self pairs here.
    //
    // The collect is the driver cutover: past the cap the query falls
    // back to the r18 distributed string-keyed shape (row-identical
    // output; the dictionary is a cost move only), so a corpus whose
    // matched vocabulary outgrows driver memory degrades to a
    // distributed plan instead of an OOM.
    val candSel = cand.select(col("x.name"), col("y.name"), col("dist"),
      col("x.big"), col("x.cnt"), col("x.k1"), col("x.k2"), col("y.k1"))
    val candRows = DriverCutover.collect("EntityResolution.fuzzyParts", candSel, DictCandRows) match {
      case Some(rows) => rows
      case None => return fuzzyPartsDistributed(parts, nmb, cand)
    }
    val names = candRows.iterator
      .flatMap(r => Iterator(r.getString(0), r.getString(1)))
      .toArray.distinct.sorted
    val idOf = names.iterator.zipWithIndex
      .map { case (n, i) => n -> (i + 1) }.toMap
    val namesLit = typedlit(names.toSeq)
    val idLit = typedlit(idOf)

    // small blocks: expand name pairs back to ALL row pairs. The
    // symmetric candidate set + key_a < key_b filter yields each
    // unordered row pair exactly once, named from the smaller key's
    // side — bit-identical to the unblocked row-level definition.
    import s.implicits._
    val symSmall = candRows.iterator.filter(!_.getBoolean(3))
      .map(r => (r.getString(0), idOf(r.getString(0)),
        idOf(r.getString(1)), r.getInt(2)))
      .toSeq.toDF("name_a", "na_id", "nb_id", "dist")
    val fan = parts
      .join(broadcast(symSmall), col("p_name") === col("name_a"))
      .select(col("p_partkey").as("key_a"), col("na_id"),
        col("nb_id"), col("dist"),
        explode(sequence(lit(0), lit(Salt - 1))).as("salt"))
    // b side maps its name to the dictionary id up front (try_element_at:
    // unmatched names — almost all rows — become null and drop here,
    // which is exactly the old join's non-match case) so the shuffle
    // ships three ints per row instead of the name string
    val bSide = parts
      .select(try_element_at(idLit, col("p_name")).as("nb_id"),
        col("p_partkey").as("key_b"),
        pmod(hash(col("p_partkey")), lit(Salt)).as("salt"))
      .filter(col("nb_id").isNotNull)
    val small = fan.join(bSide, Seq("nb_id", "salt"))
      .filter(col("key_a") < col("key_b"))
      .select(col("key_a"), col("key_b"), col("na_id"), col("nb_id"),
        col("dist").cast("long").as("edit_dist"))

    // big blocks: one representative pair per matched name pair —
    // driver-built from the SAME collected candidate rows (the big
    // self/cross pairs are cand rows), so the final action never
    // replays the nm/k2/band-join subtree for these branches (r20)
    val bigSame = candRows.iterator
      .filter(r => r.getBoolean(3) && r.getString(0) == r.getString(1) &&
        r.getLong(4) >= 2)
      .map(r => (r.getLong(5), r.getLong(6),
        idOf(r.getString(0)), idOf(r.getString(0)), 0L))
      .toSeq.toDF("key_a", "key_b", "na_id", "nb_id", "edit_dist")
    val bigCross = candRows.iterator
      .filter(r => r.getBoolean(3) && r.getString(0) < r.getString(1))
      .map { r =>
        val (ka, kb) = (r.getLong(5), r.getLong(7))
        val (na, nb) = if (ka < kb) (r.getString(0), r.getString(1))
          else (r.getString(1), r.getString(0))
        (math.min(ka, kb), math.max(ka, kb), idOf(na), idOf(nb),
          r.getInt(2).toLong)
      }
      .toSeq.toDF("key_a", "key_b", "na_id", "nb_id", "edit_dist")

    small.unionByName(bigSame).unionByName(bigCross)
      .orderBy(col("key_a"), col("key_b"))
      .select(col("key_a"), col("key_b"),
        element_at(namesLit, col("na_id")).as("name_a"),
        element_at(namesLit, col("nb_id")).as("name_b"),
        col("edit_dist"))
  }

  /** Over-cap fallback of [[fuzzyParts]]: the r18 distributed
    * string-keyed tail — row-identical output (the driver dictionary
    * is a cost move only), used when the matched candidate set exceeds
    * [[DictCandRows]] and must not be collected. */
  private def fuzzyPartsDistributed(parts: DataFrame, nmb: DataFrame,
      cand: DataFrame): DataFrame = {
    val symSmall = cand.filter(!col("x.big"))
      .select(col("x.name").as("name_a"), col("y.name").as("name_b"),
        col("dist"))
    val fan = parts
      .join(broadcast(symSmall), col("p_name") === col("name_a"))
      .select(col("p_partkey").as("key_a"), col("name_a"),
        col("name_b"), col("dist"),
        explode(sequence(lit(0), lit(Salt - 1))).as("salt"))
    val bSide = parts
      .select(col("p_name").as("name_b"), col("p_partkey").as("key_b"),
        pmod(hash(col("p_partkey")), lit(Salt)).as("salt"))
    val small = fan.join(bSide, Seq("name_b", "salt"))
      .filter(col("key_a") < col("key_b"))
      .select(col("key_a"), col("key_b"), col("name_a"), col("name_b"),
        col("dist").cast("long").as("edit_dist"))
    val bigSame = nmb.filter(col("big") && col("cnt") >= 2)
      .select(col("k1").as("key_a"), col("k2").as("key_b"),
        col("name").as("name_a"), col("name").as("name_b"),
        lit(0L).as("edit_dist"))
    val bigCross = cand
      .filter(col("x.big") && col("x.name") < col("y.name"))
      .select(
        least(col("x.k1"), col("y.k1")).as("key_a"),
        greatest(col("x.k1"), col("y.k1")).as("key_b"),
        when(col("x.k1") < col("y.k1"), col("x.name"))
          .otherwise(col("y.name")).as("name_a"),
        when(col("x.k1") < col("y.k1"), col("y.name"))
          .otherwise(col("x.name")).as("name_b"),
        col("dist").cast("long").as("edit_dist"))
    small.unionByName(bigSame).unionByName(bigCross)
      .orderBy(col("key_a"), col("key_b"))
  }

  /** DuckDB restatement — same block key, band filter, cap semantics
    * (full pairs below, representative pairs above) and distance
    * bound, so the result is hash-identical. */
  def fuzzyPartsOracleSql(maxDist: Int = 2, maxBlock: Int = 10000): String =
    s"""WITH p AS (
       |  SELECT p_partkey, p_name,
       |         list_extract(string_split(p_name, ' '), -1) AS blk,
       |         length(p_name) AS len
       |  FROM part
       |), bdf AS (
       |  SELECT blk, count(*) AS bdf FROM p GROUP BY blk
       |), small AS (
       |  SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
       |         a.p_name AS name_a, b.p_name AS name_b,
       |         CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS edit_dist
       |  FROM p a
       |  JOIN p b ON a.blk = b.blk AND a.p_partkey < b.p_partkey
       |          AND abs(a.len - b.len) <= $maxDist
       |  JOIN bdf ON bdf.blk = a.blk AND bdf.bdf <= $maxBlock
       |  WHERE levenshtein(a.p_name, b.p_name) <= $maxDist
       |), nm AS (
       |  SELECT blk, p_name, len, count(*) AS cnt, min(p_partkey) AS k1
       |  FROM p GROUP BY blk, p_name, len
       |), kk AS (
       |  SELECT p.p_name, min(p.p_partkey) AS k2
       |  FROM p JOIN nm ON nm.p_name = p.p_name AND p.p_partkey > nm.k1
       |  GROUP BY p.p_name
       |), nm2 AS (
       |  SELECT nm.*, kk.k2 FROM nm LEFT JOIN kk USING (p_name)
       |), big_same AS (
       |  SELECT nm2.k1 AS key_a, nm2.k2 AS key_b,
       |         nm2.p_name AS name_a, nm2.p_name AS name_b,
       |         CAST(0 AS BIGINT) AS edit_dist
       |  FROM nm2 JOIN bdf USING (blk)
       |  WHERE bdf.bdf > $maxBlock AND nm2.cnt >= 2
       |), big_cross AS (
       |  SELECT least(x.k1, y.k1) AS key_a, greatest(x.k1, y.k1) AS key_b,
       |         CASE WHEN x.k1 < y.k1 THEN x.p_name ELSE y.p_name END AS name_a,
       |         CASE WHEN x.k1 < y.k1 THEN y.p_name ELSE x.p_name END AS name_b,
       |         CAST(levenshtein(x.p_name, y.p_name) AS BIGINT) AS edit_dist
       |  FROM nm2 x
       |  JOIN nm2 y ON x.blk = y.blk AND x.p_name < y.p_name
       |            AND abs(x.len - y.len) <= $maxDist
       |  JOIN bdf ON bdf.blk = x.blk AND bdf.bdf > $maxBlock
       |  WHERE levenshtein(x.p_name, y.p_name) <= $maxDist
       |)
       |SELECT * FROM (
       |  SELECT * FROM small
       |  UNION ALL SELECT * FROM big_same
       |  UNION ALL SELECT * FROM big_cross
       |)
       |ORDER BY key_a, key_b""".stripMargin

  /** UNION BLOCKING — the recall repair for single-key blocking's
    * documented miss (see the file doc: a typo in the head noun itself
    * defeats the head-noun block). A pair is a candidate when it
    * agrees on EITHER block key — head noun (last token) OR first
    * token — so a noun typo is still caught via the first-token block
    * and vice versa; only pairs that disagree on both keys are
    * (knowingly) out of recall reach, the standard multi-pass blocking
    * tradeoff from the ER literature.
    *
    * Shape notes:
    *  - an OR of equi-conditions would plan as a nested-loop join;
    *    instead each key is its OWN equi-join and the two candidate
    *    sets union through a `distinct` BEFORE the verify, so a pair
    *    found by both keys is scored once;
    *  - runs on the DISTINCT-NAME relation (the file's
    *    verify-on-distinct-values factorization) and REPORTS name
    *    pairs: the row-level expansion is [[fuzzyParts]]'s salted
    *    machinery, unchanged by the blocking choice, so the variant
    *    isolates exactly the recall delta of the second key;
    *  - BIG-BLOCK CAP, per leg: a block key value shared by more than
    *    `maxBlock` DISTINCT NAMES would make that leg's candidate set
    *    O(block²) in vocabulary (the TPC-H name vocabulary is 92 color
    *    words so every block is tiny here, but a real catalog has
    *    head-noun blocks with millions of names). Above the cap the
    *    leg degrades to the ANCHOR STAR: each name pairs only with the
    *    block's lexicographically-smallest name — O(block) candidates,
    *    recall limited to anchor-adjacent matches (the canopy-anchor
    *    degradation), never a silent empty. Both regimes are mirrored
    *    exactly in the oracle.
    */
  def fuzzyNamesUnionBlocked(s: SparkSession, dir: String,
      maxDist: Int = 2, maxBlock: Int = 10000): DataFrame =
    fuzzyNamesUnionBlockedRel(
      Tables.load(s, dir, "part").select(col("p_name")), maxDist, maxBlock)

  /** Relation-level core of [[fuzzyNamesUnionBlocked]] over any
    * single-column (p_name) relation — split out so the anchor-star
    * degradation (dead on the 92-word TPC-H vocabulary at the default
    * cap) is exercisable by a spec with a synthetic relation and a
    * tiny maxBlock. */
  private[graft] def fuzzyNamesUnionBlockedRel(names: DataFrame,
      maxDist: Int, maxBlock: Int): DataFrame = {
    val nm = names
      .select(col("p_name"),
        element_at(split(col("p_name"), " "), -1).as("blk_last"),
        element_at(split(col("p_name"), " "), 1).as("blk_first"),
        length(col("p_name")).as("len"))
      .distinct()
    def cands(k: String) = {
      val bdf = nm.groupBy(col(k)).agg(count(lit(1)).as("bdf"),
        min(col("p_name")).as("anchor"))
      val tagged = nm.join(broadcast(bdf), Seq(k))
      val smallN = tagged.filter(col("bdf") <= maxBlock)
      val full = smallN.as("x").join(smallN.as("y"),
          col(s"x.$k") === col(s"y.$k") &&
            col("x.p_name") < col("y.p_name") &&
            abs(col("x.len") - col("y.len")) <= maxDist)
        .select(col("x.p_name").as("name_a"), col("y.p_name").as("name_b"))
      // anchor = min(name) in the block, so it is always name_a
      val star = tagged.filter(col("bdf") > maxBlock &&
          col("p_name") =!= col("anchor") &&
          abs(col("len") - length(col("anchor"))) <= maxDist)
        .select(col("anchor").as("name_a"), col("p_name").as("name_b"))
      full.unionByName(star)
    }
    cands("blk_last").unionByName(cands("blk_first")).distinct()
      // thresholded verify — same banded-DP/early-abandon move as
      // [[fuzzyParts]]; kept rows carry the exact distance
      .withColumn("edit_dist",
        levenshtein(col("name_a"), col("name_b"), maxDist).cast("long"))
      .filter(col("edit_dist") =!= -1)
      .orderBy(col("name_a"), col("name_b"))
  }

  /** DuckDB restatement of [[fuzzyNamesUnionBlocked]] — same per-leg
    * cap and anchor-star degradation. */
  def fuzzyNamesUnionBlockedOracleSql(maxDist: Int = 2,
      maxBlock: Int = 10000): String = {
    def leg(k: String): String =
      s"""SELECT x.p_name AS name_a, y.p_name AS name_b
         |  FROM nm x JOIN nm y ON x.$k = y.$k
         |    AND x.p_name < y.p_name AND abs(x.len - y.len) <= $maxDist
         |  JOIN bdf_$k b ON b.$k = x.$k AND b.bdf <= $maxBlock
         |  UNION
         |  SELECT b.anchor, nm.p_name
         |  FROM nm JOIN bdf_$k b USING ($k)
         |  WHERE b.bdf > $maxBlock AND nm.p_name <> b.anchor
         |    AND abs(nm.len - length(b.anchor)) <= $maxDist""".stripMargin
    s"""WITH nm AS (
       |  SELECT p_name,
       |         list_extract(string_split(p_name, ' '), -1) AS blk_last,
       |         list_extract(string_split(p_name, ' '), 1) AS blk_first,
       |         length(p_name) AS len
       |  FROM part GROUP BY ALL
       |), bdf_blk_last AS (
       |  SELECT blk_last, count(*) AS bdf, min(p_name) AS anchor
       |  FROM nm GROUP BY 1
       |), bdf_blk_first AS (
       |  SELECT blk_first, count(*) AS bdf, min(p_name) AS anchor
       |  FROM nm GROUP BY 1
       |), cand AS (
       |  ${leg("blk_last")}
       |  UNION
       |  ${leg("blk_first")}
       |)
       |SELECT name_a, name_b,
       |       CAST(levenshtein(name_a, name_b) AS BIGINT) AS edit_dist
       |FROM cand
       |WHERE levenshtein(name_a, name_b) <= $maxDist
       |ORDER BY name_a, name_b""".stripMargin
  }
}
