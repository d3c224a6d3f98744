package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import org.apache.spark.util.sketch.BloomFilter

import graft.Tables
import graft.Tables.Resplit
import graft.functions.BloomFunctions.bloom_might_contain
import graft.functions.HashFunctions.{hashed_shingle_set, minhash_signature, simhash_md5, sorted_intersect_count, word_shingles}

/** Deduplication for training-data pipelines.
  *
  * Five operators, in increasing sophistication:
  *  - exact (content hash group-by)
  *  - bag-of-words exact (order-insensitive token-set hash)
  *  - n-gram Jaccard (naive pairwise — the correctness baseline)
  *  - MinHash + LSH banding (the 100 TB path: linear scan + shuffle by
  *    band key instead of O(n²) pairs)
  *  - SimHash with chunk blocking (Hamming ≤ 3 complete by pigeonhole)
  *
  * Scale notes: exact/bow are one hash-shuffle each. MinHash-LSH is
  * explode(shingles×seeds) → min-agg → band-key self-join; every stage
  * is a hash shuffle on bounded keys, no cross product. SimHash blocks
  * on 4×15-bit chunks, so candidate pairs are only those sharing a
  * chunk — the nested loop never materializes.
  */
object Dedup {

  /** Distinct n-word shingles of a token array (native one-pass
    * WordShingles expression; the composable HOF formulation costs
    * ~40µs per shingle in the lambda interpreter).
    */
  def shingles(t: Column, n: Int = 3): Column = word_shingles(t, n)

  /** DuckDB twin of [[shingles]] for oracle CTEs. */
  val shinglesSqlCte: String =
    """sh AS (
      |  SELECT doc_id, t,
      |         CASE WHEN len(t) >= 3
      |              THEN list_distinct(list_transform(range(1, len(t) - 1),
      |                     i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
      |              ELSE [array_to_string(t, ' ')] END AS s
      |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents))""".stripMargin

  /** Near-dup Jaccard threshold — ONE definition shared by the naive
    * baseline, the prefix-filtered exact join, MinHash-LSH
    * verification, and fuzzy decontamination (and interpolated into
    * each of their SQL twins), so the notion of "near-duplicate"
    * cannot drift between operators. NOTE: must precede every val
    * that interpolates it (object init order — a forward reference
    * reads 0.0, silently).
    */
  val jaccardThreshold = 0.6

  // ——— exact dedup ———

  /** Exact dedup by full-content hash: group key → keeper (min id) +
    * duplicate count. One hash shuffle; at scale, partial agg collapses
    * uniques map-side.
    */
  def exact(spark: SparkSession, sfDir: String): DataFrame =
    Tables.table(spark, sfDir, "documents")
      .groupBy(md5(col("text").cast("binary")).as("content_key"))
      .agg(min(col("doc_id")).as("keeper_doc_id"), count(lit(1)).as("n_copies"))

  val exactSql: String =
    """SELECT md5(text) AS content_key,
      |       min(doc_id) AS keeper_doc_id,
      |       count(*) AS n_copies
      |FROM documents
      |GROUP BY 1
      |ORDER BY keeper_doc_id""".stripMargin

  /** Order-insensitive exact dedup: key = hash of the sorted distinct
    * token set. Catches shuffled-word copies (this corpus has 444 such
    * pairs).
    */
  def bagOfWords(spark: SparkSession, sfDir: String): DataFrame =
    Tables.table(spark, sfDir, "documents")
      .groupBy(Text.bowKey(Text.tokens(col("text"))).as("bow_key"))
      .agg(min(col("doc_id")).as("keeper_doc_id"), count(lit(1)).as("n_copies"))

  val bagOfWordsSql: String =
    s"""SELECT ${Text.bowKeySql}
      |         AS bow_key,
      |       min(doc_id) AS keeper_doc_id,
      |       count(*) AS n_copies
      |FROM documents
      |GROUP BY 1
      |ORDER BY keeper_doc_id""".stripMargin

  // ——— n-gram Jaccard (naive baseline) ———

  /** Naive pairwise 3-gram Jaccard ≥ 0.6. Quadratic by construction —
    * this is the correctness baseline the LSH path is checked against;
    * capped at doc_id < 1000 so the benchmark doesn't time a cross
    * product (the LSH variant below is the scale path).
    */
  def ngramJaccard(spark: SparkSession, sfDir: String): DataFrame =
   Shared.memoClustered(spark, sfDir, "ngram_jaccard", Some("doc_a" -> 8)) {
    // Shingles are hashed (xxhash64) and sorted ONCE per doc; each pair
    // then costs a single allocation-free merge scan
    // (SortedLongIntersectCount) instead of array_intersect's per-pair
    // hash set. 64-bit collisions would perturb |∩| — probability
    // ~1e-15 per pair, accepted.
    val docs = Tables.table(spark, sfDir, "documents")
      .filter(col("doc_id") < 1000)
      .select(col("doc_id"),
        hashed_shingle_set(Text.tokens(col("text"))).as("hs"))
      .withColumn("n", size(col("hs")))
    // re-split the single-file scan so the pair loop parallelizes (see
    // Similarity.embeddingPairs)
    val a = docs.resplit(spark)
      .select(col("doc_id").as("doc_a"), col("hs").as("ha"), col("n").as("na"))
    val b = docs.select(col("doc_id").as("doc_b"), col("hs").as("hb"), col("n").as("nb"))
    val inter = sorted_intersect_count(col("ha"), col("hb")).cast("double")
    // the threshold lands in the BNLJ join condition either way (a
    // post-join filter gets pushed there by the optimizer): the merge
    // scan runs on the interpreted row path per pair, but only passing
    // pairs are copied out of the loop — acceptable for this capped
    // baseline; MinHash-LSH below is the scale path
    val jac = round(inter / (col("na") + col("nb") - inter), 4)
    a.join(b, col("doc_a") < col("doc_b") && jac >= jaccardThreshold)
      .select(col("doc_a"), col("doc_b"), jac.as("jaccard"))
   }

  val ngramJaccardSql: String =
    s"""WITH $shinglesSqlCte
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |       round(len(list_intersect(a.s, b.s))::DOUBLE
       |             / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 4)
       |         AS jaccard
       |FROM sh a, sh b
       |WHERE a.doc_id < b.doc_id AND a.doc_id < 1000 AND b.doc_id < 1000
       |  AND round(len(list_intersect(a.s, b.s))::DOUBLE
       |            / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 4) >= $jaccardThreshold
       |ORDER BY doc_a, doc_b""".stripMargin

  // ——— prefix-filtered all-pairs Jaccard (SSJoin/PPJoin family) ———

  /** EXACT all-pairs 3-gram Jaccard ≥ [[jaccardThreshold]] with NO
    * document cap — the prefix-filtering shape (Chaudhuri et al.
    * SSJoin / Xiao et al. PPJoin) that makes exact set-similarity
    * sub-quadratic:
    *
    * order every doc's shingle set by one GLOBAL total order (corpus
    * document frequency ascending, hash tie-break — rarest first, so
    * prefixes carry the least-shared tokens); if J(A,B) ≥ t then
    * |A∩B| ≥ ⌈t·max(|A|,|B|)⌉, so A and B must share a token within
    * their first |X| − ⌈t·|X|⌉ + 1 tokens — any pair missed by the
    * prefix-prefix join is provably below threshold (the filter is
    * LOSSLESS, unlike MinHash). Candidates then verify exactly with
    * one allocation-free merge scan per pair.
    *
    * Scale shape: the inverted index is built over PREFIXES only
    * (~(1−t) of the corpus shingle volume), and rarest-first ordering
    * keeps each index key's posting list short — the candidate join
    * output is near the true-pair count, not the all-pairs product.
    * The verify step ships shingle arrays only for candidate pairs.
    * Same 64-bit shingle-hash collision acceptance as the baseline.
    */
  def jaccardPrefix(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val t = jaccardThreshold
    // (doc, value-sorted hashed shingle set, set size) — materialized
    // once (localCheckpoint, a construction-time job like decontaminate):
    // consumed by the df pass and both verify sides
    val docs = Tables.table(spark, sfDir, "documents")
      .select(col("doc_id"),
        hashed_shingle_set(Text.tokens(col("text"))).as("hs"))
      .withColumn("n", size(col("hs")))
      .localCheckpoint()
    val ex = docs.select(col("doc_id"), col("n"), explode(col("hs")).as("h"))
    val dfreq = ex.groupBy(col("h")).agg(count(lit(1)).as("df"))
    // per-doc canonical rank; prefix length is per-doc variable, so
    // this is a genuine window (TopKPerGroup needs a constant k). One
    // shuffle+sort on doc_id over the exploded corpus — linear.
    val w = Window.partitionBy(col("doc_id")).orderBy(col("df").asc, col("h").asc)
    val pref = ex.join(dfreq, Seq("h"))
      .withColumn("r", row_number().over(w))
      .filter(col("r") <= col("n") - ceil(col("n") * lit(t)) + lit(1))
      .select(col("doc_id"), col("h"))
    val cand = pref.select(col("h"), col("doc_id").as("doc_a"))
      .join(pref.select(col("h"), col("doc_id").as("doc_b")), Seq("h"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
      .distinct()
    val inter = sorted_intersect_count(col("ha"), col("hb")).cast("double")
    val jac = round(inter / (col("na") + col("nb") - inter), 4)
    cand
      .join(docs.select(col("doc_id").as("doc_a"), col("hs").as("ha"),
        col("n").as("na")), Seq("doc_a"))
      .join(docs.select(col("doc_id").as("doc_b"), col("hs").as("hb"),
        col("n").as("nb")), Seq("doc_b"))
      .filter(jac >= t)
      .select(col("doc_a"), col("doc_b"), jac.as("jaccard"))
  }

  /** Oracle: the UNCAPPED naive pairwise ground truth — every pair the
    * prefix filter may not miss.
    */
  val jaccardPrefixSql: String =
    s"""WITH $shinglesSqlCte
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |       round(len(list_intersect(a.s, b.s))::DOUBLE
       |             / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 4)
       |         AS jaccard
       |FROM sh a, sh b
       |WHERE a.doc_id < b.doc_id
       |  AND round(len(list_intersect(a.s, b.s))::DOUBLE
       |            / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 4)
       |      >= $jaccardThreshold
       |ORDER BY doc_a, doc_b""".stripMargin

  // ——— shingle containment (asymmetric near-dup) ———

  /** Stop-shingle cap: shingles occurring in more than this many
    * documents are boilerplate and are excluded from pair counting —
    * the standard guard that keeps the shingle self-join's pair
    * blowup bounded (≤ cap² pair rows per shingle) at any corpus size.
    */
  val containmentDfCap = 50

  /** Minimum |A∩B| / |A| for A to count as contained in B. */
  val containmentThreshold = 0.9

  /** Shingle containment — the ASYMMETRIC near-dup signal Jaccard
    * misses: a short document quoted wholesale inside a longer one has
    * low Jaccard (the union is large) but containment ≈ 1. Emits
    * (contained_doc, container_doc) pairs where ≥
    * [[containmentThreshold]] of the contained doc's non-boilerplate
    * shingles also occur in the container.
    *
    * Unlike the capped pairwise Jaccard baseline above, this is the
    * scale shape: explode shingles, drop stop-shingles
    * (df > [[containmentDfCap]] — part of the operator's definition,
    * mirrored by the oracle), self-join on the shingle itself, count
    * per pair. Every stage is a hash shuffle on bounded keys; cost is
    * O(matching shingles), never the doc × doc cross product.
    */
  def containment(spark: SparkSession, sfDir: String): DataFrame = {
    // WordShingles emits DISTINCT shingles per doc, so (doc_id, s) rows
    // are unique and count(*) per pair IS the shared-shingle count.
    // Shingles are hashed to 64 bits BEFORE any exchange: the df agg
    // and the self-join then shuffle 8-byte longs, not shingle text
    // (same ~1e-15-per-pair collision acceptance as ngramJaccard).
    val docs = Tables.table(spark, sfDir, "documents")
    val sh = docs
      .select(col("doc_id"), explode(shingles(Text.tokens(col("text")))).as("raw"))
      .select(col("doc_id"), xxhash64(col("raw")).as("s"))
    // materialized once (localCheckpoint, as in [[decontaminate]] —
    // this too runs a job at construction time): three consumers
    // (sizes, both self-join sides) would each redo the explode and
    // the stop-shingle join from the scan
    val rare = sh.join(
      sh.groupBy(col("s")).agg(count(lit(1)).as("df"))
        .filter(col("df") <= containmentDfCap)
        .select(col("s")),
      Seq("s"))
      .localCheckpoint()
    val sizes = rare.groupBy(col("doc_id")).agg(count(lit(1)).as("na"))
    // UNORDERED pairs only (doc_a < doc_b): containment is asymmetric,
    // but both directions derive from the one shared-shingle count and
    // the two sizes — half the rows through the heaviest shuffle (the
    // pair aggregation) vs materializing both orientations.
    //
    // Pair-key packing (r21, guide §2.3 "narrower types"): that pair
    // aggregation is the operator's network-bound exchange — 12.7M pair
    // rows at sf1 → 129.6M at sf10-lite (SCALING.md cost-model row),
    // each row a two-long key plus the partial count (~24 B). When the
    // doc-id domain fits in 32 bits, pack the unordered pair into ONE
    // long (doc_a<<32 | doc_b, unpacked after the aggregation), so the
    // exchange ships 16 B/row — a third fewer shuffle bytes and a
    // single-word group key for both hash-agg passes. The branch is
    // data-derived like Resplit (one column-pruned min/max over the doc
    // scan — metadata-scale next to the shingle explode): a corpus
    // whose ids exceed 32 bits keeps the two-column key. Both branches
    // compute identical (doc_a, doc_b, shared) rows.
    val docIdRange = docs.agg(min(col("doc_id")), max(col("doc_id"))).head
    val packable = !docIdRange.isNullAt(0) &&
      docIdRange.getLong(0) >= 0L && docIdRange.getLong(1) < (1L << 32)
    val a = rare.select(col("s"), col("doc_id").as("doc_a"))
    val b = rare.select(col("s"), col("doc_id").as("doc_b"))
    val pairRows = a.join(b, Seq("s")).filter(col("doc_a") < col("doc_b"))
    val shared =
      if (packable)
        pairRows
          .select(shiftleft(col("doc_a"), 32).bitwiseOR(col("doc_b")).as("pair"))
          .groupBy(col("pair"))
          .agg(count(lit(1)).as("shared"))
          .select(shiftrightunsigned(col("pair"), 32).as("doc_a"),
            col("pair").bitwiseAND(lit(0xFFFFFFFFL)).as("doc_b"),
            col("shared"))
      else
        pairRows
          .groupBy(col("doc_a"), col("doc_b"))
          .agg(count(lit(1)).as("shared"))
    val withSizes = shared
      .join(sizes.select(col("doc_id").as("doc_a"), col("na").as("na_a")), Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("na").as("na_b")), Seq("doc_b"))
    def dir(contained: String, container: String, size: String) = {
      val c = round(col("shared").cast("double") / col(size), 4)
      withSizes.filter(c >= containmentThreshold)
        .select(col(contained).as("contained_doc"), col(container).as("container_doc"),
          c.as("containment"))
    }
    dir("doc_a", "doc_b", "na_a").unionAll(dir("doc_b", "doc_a", "na_b"))
  }

  val containmentSql: String =
    s"""WITH $shinglesSqlCte,
       |ex AS (SELECT doc_id, unnest(s) AS s FROM sh),
       |rare AS (SELECT doc_id, s FROM ex
       |         WHERE s IN (SELECT s FROM ex GROUP BY s
       |                     HAVING count(*) <= $containmentDfCap)),
       |sizes AS (SELECT doc_id, count(*) AS na FROM rare GROUP BY 1),
       |shared AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
       |           FROM rare a JOIN rare b USING (s)
       |           WHERE a.doc_id <> b.doc_id GROUP BY 1, 2)
       |SELECT doc_a AS contained_doc, doc_b AS container_doc,
       |       round(shared::DOUBLE / na, 4) AS containment
       |FROM shared JOIN sizes ON sizes.doc_id = shared.doc_a
       |WHERE round(shared::DOUBLE / na, 4) >= $containmentThreshold
       |ORDER BY contained_doc, container_doc""".stripMargin

  /** Benchmark decontamination: training docs sharing ≥ 5 distinct
    * 3-gram shingles with any "benchmark" doc (every 50th doc here).
    * The scalable shape: explode shingles on BOTH sides and hash-join
    * on the shingle itself — cost is O(matching shingles), never the
    * train × benchmark cross product. The oracle is the naive pairwise
    * intersect ground truth.
    */
  val minSharedShingles = 5

  /** Driver-built Bloom filter over a benchmark-side shingle column —
    * the prune that rides the TRAIN-side scan in [[decontaminate]] /
    * [[StreamDecon]]. The benchmark corpus is the curated small side,
    * so sizing it with an exact count() is a metadata-scale job; fpp
    * 1% drops ~99% of non-matching train shingles BEFORE the join
    * (false positives just probe the exact join and miss — the output
    * cannot change). This is manual runtime row-level filtering for a
    * derived (exploded) key, where Spark's InjectRuntimeFilter can't
    * reach.
    */
  def shingleBloom(bench: DataFrame, shingleCol: String = "s"): BloomFilter = {
    // rows overcount distinct shingles (cross-doc repeats) — a safe
    // direction: the filter only gets sparser than sized
    val n = bench.count()
    bench.stat.bloomFilter(shingleCol, math.max(n, 64L), 0.01)
  }

  /** NOTE: unlike the other catalog entries, this runs jobs at
    * CONSTRUCTION time (the inventory materialization and the Bloom
    * build are driver-side runtime-filter preparation, inherent to
    * embedding the filter bytes in the plan) — build the DataFrame
    * only when you mean to execute it.
    */
  def decontaminate(spark: SparkSession, sfDir: String): DataFrame =
    contaminationPairs(spark, sfDir)

  /** The raw contaminated pair set (no presentation sort) — shared by
    * [[decontaminate]] and [[Retrieval.hardNegatives]].
    */
  def contaminationPairs(spark: SparkSession, sfDir: String): DataFrame =
   Shared.memoClustered(spark, sfDir, "contamination_pairs", Some("train_doc" -> 32)) {
    val sh = Tables.table(spark, sfDir, "documents")
      .select(col("doc_id"), explode(shingles(Text.tokens(col("text")))).as("s"))
    // materialized once (localCheckpoint): three consumers read it —
    // the sizing count, the Bloom build, and the join's broadcast
    // side — and each would otherwise redo the benchmark-doc shingle
    // explode from the scan
    val bench = sh.filter(col("doc_id") % 50 === 0)
      .select(col("s"), col("doc_id").as("bench_doc"))
      .localCheckpoint()
    // Bloom-prune the big side before it reaches the join: only train
    // shingles that MIGHT be benchmark shingles survive the scan stage
    val bf = shingleBloom(bench)
    val train = sh.filter(col("doc_id") % 50 =!= 0)
      .filter(bloom_might_contain(col("s"), bf))
      .select(col("s"), col("doc_id").as("train_doc"))
    // shingles are distinct per doc (WordShingles), so count(*) per
    // (train, bench) pair IS the shared-shingle count
    train.join(bench, Seq("s"))
      .groupBy(col("train_doc"), col("bench_doc"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minSharedShingles)
   }

  /** Per-benchmark-doc contamination report: for each benchmark doc,
    * how many training docs leak it and the worst (max-shared-shingle)
    * offender — the ranking an eval owner reads to know WHICH
    * benchmark items are compromised and how badly, where
    * [[decontaminate]] answers the train-side question (what to drop).
    * One aggregation over the already-bounded contamination pair set
    * (read from the [[Shared.memo]] staging).
    */
  def contaminationReport(spark: SparkSession, sfDir: String): DataFrame =
    contaminationPairs(spark, sfDir)
      .groupBy(col("bench_doc"))
      .agg(count(lit(1)).as("n_train_docs"),
        max(col("n_shared")).as("max_shared"),
        max(struct(col("n_shared").as("s"), col("train_doc").as("d"))).as("m"))
      .select(col("bench_doc"), col("n_train_docs"), col("max_shared"),
        col("m.d").as("worst_train_doc"))

  /** DuckDB twin of [[contaminationReport]] — worst offender by
    * (n_shared, train_doc) max, mirrored via row_number.
    */
  val contaminationReportSql: String =
    s"""WITH $shinglesSqlCte,
       |pairs AS (
       |  SELECT a.doc_id AS train_doc, b.doc_id AS bench_doc,
       |         CAST(len(list_intersect(a.s, b.s)) AS BIGINT) AS n_shared
       |  FROM sh a, sh b
       |  WHERE a.doc_id % 50 <> 0 AND b.doc_id % 50 = 0
       |    AND len(list_intersect(a.s, b.s)) >= $minSharedShingles),
       |worst AS (
       |  SELECT bench_doc, train_doc,
       |         row_number() OVER (PARTITION BY bench_doc
       |                            ORDER BY n_shared DESC, train_doc DESC) AS rn
       |  FROM pairs)
       |SELECT p.bench_doc, count(*) AS n_train_docs,
       |       max(p.n_shared) AS max_shared,
       |       min(w.train_doc) AS worst_train_doc
       |FROM pairs p JOIN worst w ON w.bench_doc = p.bench_doc AND w.rn = 1
       |GROUP BY p.bench_doc
       |ORDER BY p.bench_doc""".stripMargin

  val decontaminateSql: String =
    s"""WITH $shinglesSqlCte
       |SELECT a.doc_id AS train_doc, b.doc_id AS bench_doc,
       |       CAST(len(list_intersect(a.s, b.s)) AS BIGINT) AS n_shared
       |FROM sh a, sh b
       |WHERE a.doc_id % 50 <> 0 AND b.doc_id % 50 = 0
       |  AND len(list_intersect(a.s, b.s)) >= $minSharedShingles
       |ORDER BY train_doc, bench_doc""".stripMargin

  // ——— duplicated spans (substring-level dedup signal) ———

  /** Span length for substring-level duplicate detection: long enough
    * that a shared span is verbatim copying, not coincidence.
    */
  val spanLen = 20

  /** Per-document duplicated-span fraction — the substring-level dedup
    * signal of Lee et al., "Deduplicating Training Data Makes Language
    * Models Better": a [[spanLen]]-token window appearing verbatim in
    * MORE THAN ONE document marks boilerplate/copied text; documents
    * with a high duplicated fraction get filtered or trimmed.
    *
    * Shape: one native WordShingles pass per doc (distinct spans),
    * explode, one hash shuffle on the span grouping doc-count > 1,
    * then a partial-agged per-doc fraction — cost O(corpus tokens),
    * never pairwise. (The full Lee et al. suffix-array construction
    * finds arbitrary-length repeats; fixed-length windows are the
    * standard distributed approximation — any repeat ≥ spanLen tokens
    * contains a duplicated window, so recall at the target length
    * is exact.)
    */
  def dupSpans(spark: SparkSession, sfDir: String): DataFrame = {
    val docSpans = Tables.table(spark, sfDir, "documents")
      .select(col("doc_id"),
        explode(shingles(Text.tokens(col("text")), spanLen)).as("span"))
    // a span is duplicated when it occurs in >1 DISTINCT doc (spans are
    // distinct within a doc by WordShingles)
    val dupSpan = docSpans.groupBy(col("span"))
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") > 1)
      .select(col("span"), lit(1).as("dup"))
    // one LEFT join + one groupBy computes BOTH counts (count(*) =
    // spans, count(dup) = duplicated ones): no separate n_spans
    // re-tokenize scan, no right_outer — every doc has ≥ 1 span (short
    // docs yield their whole text), so none is lost
    docSpans
      .join(dupSpan, Seq("span"), "left_outer")
      .groupBy(col("doc_id"))
      .agg(count(col("dup")).as("n_dup_spans"),
        count(lit(1)).cast("int").as("n_spans"))
      .select(col("doc_id"), col("n_dup_spans"), col("n_spans"),
        round(col("n_dup_spans").cast("double") / col("n_spans"), 4).as("dup_frac"))
  }

  /** DuckDB twin: the same distinct fixed-length windows via a
    * generated list_transform chain.
    */
  val dupSpansSql: String = {
    val terms = (0 until spanLen).map(j => s"t[i+$j]").mkString(" || ' ' || ")
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |spans AS (
       |  SELECT doc_id,
       |         CASE WHEN len(t) >= $spanLen
       |              THEN list_distinct(list_transform(range(1, len(t) - ${spanLen - 2}),
       |                     i -> $terms))
       |              ELSE [array_to_string(t, ' ')] END AS s
       |  FROM d),
       |exploded AS (SELECT doc_id, unnest(s) AS span FROM spans),
       |dup AS (SELECT span FROM exploded GROUP BY span HAVING count(*) > 1),
       |per_doc AS (
       |  SELECT e.doc_id, count(*) AS n_dup_spans
       |  FROM exploded e JOIN dup USING (span)
       |  GROUP BY e.doc_id)
       |SELECT s.doc_id,
       |       CAST(coalesce(p.n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
       |       CAST(len(s.s) AS INTEGER) AS n_spans,
       |       round(coalesce(p.n_dup_spans, 0)::DOUBLE / len(s.s), 4) AS dup_frac
       |FROM spans s LEFT JOIN per_doc p USING (doc_id)
       |ORDER BY s.doc_id""".stripMargin
  }

  /** Substring span REMOVAL — the action the [[dupSpans]] signal exists
    * to drive (Lee et al. §4: excise the duplicated substring, keep the
    * rest of the document): emit each document's text with every
    * duplicated [[spanLen]]-token window cut out, plus removal counts.
    * A token is removed when ANY window covering it occurs verbatim in
    * more than one document; overlapping flagged windows merge
    * naturally through the covered-index set.
    *
    * Scale shape, stage by stage: (1) positional windows are one
    * O(corpus tokens) explode; (2) the duplicated-window set is one
    * hash shuffle on the span key with partial agg; (3) covered token
    * indices explode only FLAGGED windows (duplicated text fraction,
    * not the corpus); (4) only flagged documents pay the token-level
    * rebuild shuffle — clean documents pass through with a per-row
    * array_join and never reshuffle. At 100 TB with a few percent of
    * text duplicated, the expensive path touches a few percent of the
    * corpus.
    *
    * Docs shorter than [[spanLen]] tokens form one whole-doc window
    * (the [[dupSpans]]/[[shingles]] convention), so a short doc whose
    * entire text occurs elsewhere is excised to empty — exact-dup
    * removal degenerates out of the same rule.
    */
  def dupSpanRemoval(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.table(spark, sfDir, "documents")
      .select(col("doc_id"), Text.tokens(col("text")).as("t"))
    // positional windows (NON-distinct, unlike WordShingles — removal
    // needs every occurrence's start index): 0-based start i covers
    // tokens [i, min(i+spanLen, n) - 1]
    // the window carries a 128-bit md5 key, not the 20-token text: the
    // key is what shuffles (3-4× fewer bytes than the span string, and
    // md5-128 equality is collision-safe far past 100 TB), and the
    // whole windows relation is lazy-localCheckpointed because BOTH
    // the dup detection and the covered-index semi join consume it —
    // uncheckpointed, the O(corpus tokens) explode executed twice
    // (measured 9.6 s → 4.8 s at sf0.1)
    val windows = docs
      .select(col("doc_id"), size(col("t")).as("n"),
        posexplode(
          when(size(col("t")) >= spanLen,
            transform(sequence(lit(0), size(col("t")) - spanLen),
              i => array_join(slice(col("t"), i + lit(1), lit(spanLen)), " ")))
            .otherwise(array(array_join(col("t"), " "))))
          .as(Seq("pos", "span")))
      .select(col("doc_id"), col("n"), col("pos"),
        md5(col("span").cast("binary")).as("sh"))
      .localCheckpoint(false)
    // duplicated = the window text occurs in >1 DISTINCT document (a
    // doc-internal repeat alone is repetition, not cross-doc copying)
    val dup = windows.select(col("sh"), col("doc_id")).distinct()
      .groupBy(col("sh")).agg(count(lit(1)).as("nd"))
      .filter(col("nd") > 1)
      .select(col("sh"))
    // lazy localCheckpoint: covered feeds THREE consumers (flagged-doc
    // set, the rebuild's anti join, the final pass-through join) and
    // without it each re-embeds the whole windows+dup detection
    // lineage — the dominant cost — into its own plan branch
    val covered = windows
      .join(dup, Seq("sh"), "left_semi")
      .select(col("doc_id"),
        explode(sequence(col("pos"),
          least(col("pos") + spanLen, col("n")) - 1)).as("i"))
      .distinct()
      .localCheckpoint(false)
    val flagged = covered.select(col("doc_id")).distinct()
    // token-level rebuild, flagged docs only: anti-join drops covered
    // positions, sort_array restores token order under one doc-keyed
    // shuffle
    val rebuilt = docs.join(flagged, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), posexplode(col("t")).as(Seq("i", "tok")))
      .join(covered, Seq("doc_id", "i"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        array_join(
          transform(array_sort(collect_list(struct(col("i"), col("tok")))),
            s => s.getField("tok")), " ").as("ct"))
    docs
      .join(flagged.withColumn("is_flagged", lit(true)), Seq("doc_id"), "left_outer")
      .join(rebuilt, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        size(col("t")).as("n_tokens"),
        when(col("is_flagged"), size(col("t")) - coalesce(col("n_kept"), lit(0L)))
          .otherwise(lit(0)).cast("int").as("n_removed"),
        when(col("is_flagged"), coalesce(col("ct"), lit("")))
          .otherwise(array_join(col("t"), " ")).as("clean_text"))
  }

  /** DuckDB twin of [[dupSpanRemoval]]: same positional windows (list
    * slices clamp, so the short-doc whole-text window falls out of the
    * same expression), same covered-index anti join, ordered string_agg
    * rebuild. The oracle keys on the span TEXT where the engine keys on
    * md5(span) — equality is identical unless md5-128 collides, which
    * is negligible far past 100 TB (~1e-18 at 10^12 windows).
    */
  val dupSpanRemovalSql: String =
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |w AS (
       |  SELECT doc_id, n, i, array_to_string(t[i : i + ${spanLen - 1}], ' ') AS span
       |  FROM (SELECT doc_id, t, len(t) AS n,
       |               unnest(range(1, greatest(len(t) - ${spanLen - 1}, 1) + 1)) AS i
       |        FROM d)),
       |dup AS (
       |  SELECT span FROM (SELECT DISTINCT doc_id, span FROM w)
       |  GROUP BY span HAVING count(*) > 1),
       |cov AS (
       |  SELECT DISTINCT doc_id, j AS i FROM (
       |    SELECT w.doc_id, unnest(range(w.i, least(w.i + $spanLen, w.n + 1))) AS j
       |    FROM w JOIN dup USING (span))),
       |fd AS (SELECT DISTINCT doc_id FROM cov),
       |tok AS (
       |  SELECT doc_id, i, t[i] AS tok FROM (
       |    SELECT d.doc_id, d.t, unnest(range(1, len(t) + 1)) AS i
       |    FROM d JOIN fd USING (doc_id))),
       |kept AS (
       |  SELECT * FROM tok
       |  WHERE NOT EXISTS (SELECT 1 FROM cov
       |                    WHERE cov.doc_id = tok.doc_id AND cov.i = tok.i)),
       |reb AS (
       |  SELECT doc_id, count(*) AS n_kept,
       |         string_agg(tok, ' ' ORDER BY i) AS ct
       |  FROM kept GROUP BY doc_id)
       |SELECT d.doc_id,
       |       CAST(len(t) AS INTEGER) AS n_tokens,
       |       CAST(CASE WHEN fd.doc_id IS NOT NULL
       |                 THEN len(t) - coalesce(reb.n_kept, 0)
       |                 ELSE 0 END AS INTEGER) AS n_removed,
       |       CASE WHEN fd.doc_id IS NOT NULL THEN coalesce(reb.ct, '')
       |            ELSE array_to_string(t, ' ') END AS clean_text
       |FROM d LEFT JOIN fd USING (doc_id) LEFT JOIN reb USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin

  // ——— line-level dedup (CCNet/RefinedWeb exact line dedup) ———

  /** Tokens per pseudo-line. The corpus has no newline structure, so a
    * "line" is a non-overlapping [[lineLen]]-token segment — the
    * segmentation is the pluggable part (a real web corpus splits on
    * '\n' instead); keeper selection, removal, and rebuild below are
    * segmentation-agnostic.
    */
  val lineLen = 12

  /** Per-doc line segmentation: non-overlapping [[lineLen]]-token
    * windows (the last segment keeps the remainder; an empty doc is one
    * empty line). Pure per-row expression — pipelines with the scan.
    */
  private[ext] def lineSegments(t: Column): Column =
    transform(sequence(lit(0), floor((size(t) - 1) / lineLen).cast("int")),
      j => array_join(slice(t, j * lineLen + 1, lit(lineLen)), " "))

  /** CCNet-style exact line-level deduplication, keep-first: a line
    * occurring more than once in the corpus survives only at its first
    * occurrence (minimal (doc_id, position)); every other occurrence is
    * cut from its document. This is the standard boilerplate-removal
    * pass (nav bars, cookie banners, license headers) that document-
    * grain dedup cannot touch because the surrounding text differs.
    *
    * Scale shape: segmentation is a shuffle-free per-row transform;
    * only (16-byte md5 key, doc_id, pos) tuples ever shuffle. Keeper
    * selection is a partial-aggregable min(struct(doc_id, pos)) under
    * one hash shuffle on the line key, restricted to duplicated keys
    * before the occurrence join. The rebuild is per-row array surgery
    * off a left join against a per-doc removed-position list (bounded
    * by lines-per-doc) — documents that lost nothing never reshuffle
    * and pass their text through unchanged. O(corpus lines), never
    * pairwise.
    *
    * Output per doc: line count, removed-line count, cleaned text.
    */
  def lineDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val withLines = Tables.table(spark, sfDir, "documents")
      .select(col("doc_id"), lineSegments(Text.tokens(col("text"))).as("lines"))
    // occurrence relation: md5-128 keys shuffle, never line text
    // (collision-safe far past 100 TB); localCheckpoint because both
    // the keeper aggregation and the removal join consume it
    val occ = withLines
      .select(col("doc_id"), posexplode(col("lines")).as(Seq("pos", "line")))
      .select(col("doc_id"), col("pos"), md5(col("line").cast("binary")).as("lh"))
      .localCheckpoint(false)
    // keeper per DUPLICATED line: global first occurrence
    val dupKeeper = occ.groupBy(col("lh"))
      .agg(count(lit(1)).as("cnt"),
        min(struct(col("doc_id"), col("pos"))).as("keeper"))
      .filter(col("cnt") > 1)
      .select(col("lh"), col("keeper"))
    val removed = occ.join(dupKeeper, Seq("lh"))
      .filter(!(struct(col("doc_id"), col("pos")) === col("keeper")))
      .select(col("doc_id"), col("pos"))
    rebuildWithoutLines(withLines, removed)
  }

  /** Rebuild (doc_id, n_lines, n_removed_lines, clean_text) from the
    * per-doc `lines` array and a (doc_id, pos) removed-occurrence set —
    * per-row array surgery off one left join; untouched docs pass
    * through unchanged. Shared by the batch [[lineDedup]] and the
    * streaming [[StreamLineDedup]] twin.
    */
  private[ext] def rebuildWithoutLines(withLines: DataFrame,
      removed: DataFrame): DataFrame = {
    val rmPerDoc = removed.groupBy(col("doc_id"))
      .agg(collect_list(col("pos")).as("rm"))
    withLines.join(rmPerDoc, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        size(col("lines")).as("n_lines"),
        when(col("rm").isNull, lit(0)).otherwise(size(col("rm")))
          .as("n_removed_lines"),
        when(col("rm").isNull, array_join(col("lines"), " "))
          .otherwise(array_join(
            filter(col("lines"), (_, i) => !array_contains(col("rm"), i)), " "))
          .as("clean_text"))
  }

  /** DuckDB twin of [[lineDedup]]: same segmentation (list slices
    * clamp), keeper via the windowed first-occurrence rank, ordered
    * string_agg rebuild. The oracle keys on line TEXT where the engine
    * keys on md5(line) — identical short of an md5-128 collision.
    */
  val lineDedupSql: String =
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |seg AS (
       |  SELECT doc_id,
       |         list_transform(range(0, ((len(t) - 1) // $lineLen) + 1),
       |           j -> array_to_string(t[j*$lineLen + 1 : j*$lineLen + $lineLen], ' ')) AS ls
       |  FROM d),
       |occ AS (
       |  SELECT doc_id, unnest(ls) AS line, unnest(range(0, len(ls))) AS pos
       |  FROM seg),
       |marked AS (
       |  SELECT doc_id, pos, line,
       |         count(*) OVER (PARTITION BY line) AS c,
       |         row_number() OVER (PARTITION BY line ORDER BY doc_id, pos) AS rn
       |  FROM occ),
       |kept AS (SELECT doc_id, pos, line FROM marked WHERE c = 1 OR rn = 1),
       |reb AS (
       |  SELECT doc_id, count(*) AS nk,
       |         string_agg(line, ' ' ORDER BY pos) AS ct
       |  FROM kept GROUP BY doc_id)
       |SELECT s.doc_id,
       |       CAST(len(s.ls) AS INTEGER) AS n_lines,
       |       CAST(len(s.ls) - coalesce(r.nk, 0) AS INTEGER) AS n_removed_lines,
       |       coalesce(r.ct, '') AS clean_text
       |FROM seg s LEFT JOIN reb r USING (doc_id)
       |ORDER BY s.doc_id""".stripMargin

  // ——— MinHash + LSH ———

  val numHashes = 32
  val bandSize = 4 // 8 bands × 4 rows: P(candidate) = 1-(1-j^4)^8 ≈ 1 at j ≥ 0.9

  /** MinHash signatures + LSH banding + exact-Jaccard verification.
    *
    * Linear pipeline: explode(doc × shingle × seed) → min-hash per
    * (doc, seed) → band keys → self-join on band key → verify. The
    * only joins are hash joins on band keys, so cost is O(candidates),
    * not O(n²) — the shape that survives 100 TB.
    *
    * Oracle note: on this corpus every true pair sits at j ≥ 0.9 where
    * 8×4 banding has recall ≈ 1-2e-4, so the naive Jaccard SQL is the
    * oracle; an LSH miss is a real bug, not noise.
    */
  def minhashLsh(spark: SparkSession, sfDir: String): DataFrame =
    minhashLshPairs(spark, sfDir)

  /** MinHash signature + hashed shingle set of any (doc_id, text)
    * frame: (doc_id, sig, hs, n) — the per-doc projection both the
    * batch LSH and the streaming incremental dedup build on.
    */
  def signed(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      minhash_signature(shingles(Text.tokens(col("text"))), numHashes).as("sig"),
      hashed_shingle_set(Text.tokens(col("text"))).as("hs"))
      .withColumn("n", size(col("hs")))

  /** LSH band rows (doc_id, band, band_key) of a [[signed]] frame. */
  def bandRows(signedDocs: DataFrame): DataFrame = {
    val numBands = numHashes / bandSize
    signedDocs.select(
      col("doc_id"),
      explode(transform(sequence(lit(0), lit(numBands - 1)), b =>
        struct(b.as("band"),
          array_join(transform(slice(col("sig"), b * bandSize + 1, lit(bandSize)),
            x => x.cast("string")), ",").as("key")))).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.key").as("band_key"))
  }

  /** Unsorted verified near-dup pairs — the [[minhashLsh]] body, also
    * the edge set for [[Clusters.dedupClusters]].
    */
  def minhashLshPairs(spark: SparkSession, sfDir: String): DataFrame =
   Shared.memoClustered(spark, sfDir, "minhash_lsh_pairs", Some("doc_a" -> 32)) {
    // One-pass MinHashSignature expression (no shingle×seed explode, no
    // min-agg shuffles); only 8 band rows per doc ever shuffle. Exact
    // verification reuses the hashed-sorted-shingle merge scan.
    // The INTERNAL pipeline is not persisted: column pruning gives each
    // of the four consumers (band self-join ×2, verify join sides ×2)
    // only ITS expression — the band sides compute minhash_signature
    // alone, the verify sides hashed_shingle_set alone. Four pruned
    // tokenize passes measured FASTER than one pass + columnar-cache
    // build of the long arrays (r2's persist+count cost +0.55 s). The
    // OUTPUT — the corpus's near-dup edge set, a pair-scale relation
    // consumed by eleven downstream operators (clustering, keep-one,
    // PageRank, calibration, contrastive mining) — is the asset a
    // production run computes once and stages; [[Shared.memo]] is the
    // in-process analog.
    val docs = signed(Tables.table(spark, sfDir, "documents"))
    val bands = bandRows(docs)
    val cand = bands.as("x")
      .join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.band_key") === col("y.band_key") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    val sides = docs.select(col("doc_id"), col("hs"), col("n"))
    val inter = sorted_intersect_count(col("ha"), col("hb")).cast("double")
    cand
      .join(sides.select(col("doc_id").as("doc_a"), col("hs").as("ha"), col("n").as("na")),
        Seq("doc_a"))
      .join(sides.select(col("doc_id").as("doc_b"), col("hs").as("hb"), col("n").as("nb")),
        Seq("doc_b"))
      .withColumn("jaccard", round(inter / (col("na") + col("nb") - inter), 4))
      .filter(col("jaccard") >= jaccardThreshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
   }

  /** Oracle = ground-truth pairwise Jaccard without the doc_id cap (LSH
    * runs uncapped).
    */
  val minhashLshSql: String =
    s"""WITH $shinglesSqlCte
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |       round(len(list_intersect(a.s, b.s))::DOUBLE
       |             / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 4)
       |         AS jaccard
       |FROM sh a, sh b
       |WHERE a.doc_id < b.doc_id
       |  AND round(len(list_intersect(a.s, b.s))::DOUBLE
       |            / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 4) >= $jaccardThreshold
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Signature length for [[minhashError]]'s cross-engine estimate —
    * deliberately md5-seeded (not the xxhash64 the production LSH path
    * uses) so DuckDB can replay every hash bit-for-bit; estimator
    * error statistics are a property of signature LENGTH, not of the
    * hash family, so the calibration read-out transfers.
    */
  val mhErrorSeeds = 16

  /** Per-seed md5 MinHash over a shingle array: seed s ↦
    * min over shingles of md5Long(s ++ ":" ++ shingle). Built from
    * codegen'd builtins (md5/conv/substring inside HOF lambdas).
    */
  private def md5MinhashSig(shingleCol: Column): Column =
    transform(sequence(lit(0), lit(mhErrorSeeds - 1)), seed =>
      array_min(transform(shingleCol, x =>
        graft.ext.Text.md5Long(concat(seed.cast("string"), lit(":"), x)))))

  /** MinHash estimator calibration: for every verified near-dup pair,
    * the exact shingle Jaccard next to the [[mhErrorSeeds]]-component
    * MinHash estimate (fraction of matching signature components) and
    * the absolute error — the measurement that tells you whether a
    * signature length is sufficient before you trust banding at scale
    * (k=16 ⇒ σ ≈ √(j(1−j)/16) ≈ 0.07 at j=0.9; a systematically
    * larger spread means the hash family or shingling is broken).
    *
    * Scale shape: the signature is one embarrassingly-parallel per-doc
    * scan pass; the comparison joins it onto the (already bounded)
    * verified pair set by doc_id — pair-scale, never corpus².
    * Oracle note: pairs come from the production LSH path; at this
    * corpus's planted j ≥ 0.9 banding recall ≈ 1 − 2e-4, so the naive
    * ground-truth pair SQL is the oracle (same argument as
    * [[minhashLsh]]).
    */
  def minhashError(spark: SparkSession, sfDir: String): DataFrame = {
    // pairs drive everything: materialized once (the [[Shared.memo]]
    // edge set), they prune the signature pass to the implicated docs
    // (pair-scale, ≤ 2|pairs|) instead of md5-hashing 16 seeds × every
    // shingle of the whole corpus — the difference between a
    // calibration read-out and a second full-corpus signature job at
    // 100 TB
    val pairs = minhashLshPairs(spark, sfDir)
    val ids = pairs.select(col("doc_a").as("doc_id"))
      .union(pairs.select(col("doc_b").as("doc_id"))).distinct()
    val sigs = Tables.table(spark, sfDir, "documents")
      .join(ids, Seq("doc_id"), "left_semi")
      .select(col("doc_id"),
        md5MinhashSig(shingles(graft.ext.Text.tokens(col("text")))).as("msig"))
    val matches = aggregate(
      zip_with(col("sa"), col("sb"), (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, v) => acc + v)
    pairs
      .join(sigs.select(col("doc_id").as("doc_a"), col("msig").as("sa")), Seq("doc_a"))
      .join(sigs.select(col("doc_id").as("doc_b"), col("msig").as("sb")), Seq("doc_b"))
      .withColumn("est", round(matches.cast("double") / mhErrorSeeds, 4))
      .withColumn("abs_err", round(abs(col("jaccard") - col("est")), 4))
      .select(col("doc_a"), col("doc_b"), col("jaccard"), col("est"), col("abs_err"))
  }

  /** DuckDB twin of [[minhashError]] — replays the md5-seeded
    * signature exactly (1-based list indexing; range(16) = 0..15).
    */
  val minhashErrorSql: String =
    s"""WITH $shinglesSqlCte,
       |sig AS (
       |  SELECT doc_id,
       |         list_transform(range($mhErrorSeeds), seed ->
       |           list_min(list_transform(s, x ->
       |             ('0x' || substr(md5(seed::VARCHAR || ':' || x), 1, 8))::BIGINT))) AS msig
       |  FROM sh),
       |pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |         round(len(list_intersect(a.s, b.s))::DOUBLE
       |               / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 4) AS jaccard
       |  FROM sh a, sh b
       |  WHERE a.doc_id < b.doc_id
       |    AND round(len(list_intersect(a.s, b.s))::DOUBLE
       |              / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 4) >= $jaccardThreshold)
       |SELECT p.doc_a, p.doc_b, p.jaccard,
       |       round(list_sum(list_transform(range($mhErrorSeeds),
       |               i -> CASE WHEN sa.msig[i+1] = sb.msig[i+1] THEN 1 ELSE 0 END))::DOUBLE
       |             / $mhErrorSeeds, 4) AS est,
       |       round(abs(p.jaccard -
       |             round(list_sum(list_transform(range($mhErrorSeeds),
       |                     i -> CASE WHEN sa.msig[i+1] = sb.msig[i+1] THEN 1 ELSE 0 END))::DOUBLE
       |                   / $mhErrorSeeds, 4)), 4) AS abs_err
       |FROM pairs p
       |JOIN sig sa ON sa.doc_id = p.doc_a
       |JOIN sig sb ON sb.doc_id = p.doc_b
       |ORDER BY p.doc_a, p.doc_b""".stripMargin

  /** Near-dup threshold sweep: for each candidate Jaccard threshold,
    * how many verified pairs and how many distinct documents would be
    * implicated — the knob-tuning curve a curator reads before fixing
    * [[jaccardThreshold]] for a corpus (cumulative: a pair at j=0.95
    * counts under every threshold below it).
    *
    * Scale shape: one pass over the verified pair set (already
    * candidate-pruned by banding), exploding each pair into only the
    * thresholds it passes (≤ 4 rows) — pair-scale, output 4 rows.
    */
  def thresholdSweep(spark: SparkSession, sfDir: String): DataFrame = {
    val ts = Seq(0.6, 0.7, 0.8, 0.9)
    val passed = filter(array(ts.map(lit): _*), t => col("jaccard") >= t)
    val pairs = minhashLshPairs(spark, sfDir)
      .select(explode(passed).as("threshold"), col("doc_a"), col("doc_b"))
    val nPairs = pairs.groupBy(col("threshold")).agg(count(lit(1)).as("n_pairs"))
    val nDocs = pairs
      .select(col("threshold"), explode(array(col("doc_a"), col("doc_b"))).as("doc"))
      .distinct()
      .groupBy(col("threshold")).agg(count(lit(1)).as("n_docs"))
    nPairs.join(nDocs, Seq("threshold"))
  }

  /** DuckDB twin of [[thresholdSweep]] (thresholds cast to DOUBLE so
    * the column type matches Spark's, not DuckDB's default DECIMAL).
    */
  val thresholdSweepSql: String =
    s"""WITH $shinglesSqlCte,
       |pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |         round(len(list_intersect(a.s, b.s))::DOUBLE
       |               / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 4) AS jaccard
       |  FROM sh a, sh b
       |  WHERE a.doc_id < b.doc_id
       |    AND round(len(list_intersect(a.s, b.s))::DOUBLE
       |              / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 4) >= $jaccardThreshold),
       |th AS (SELECT unnest([0.6::DOUBLE, 0.7::DOUBLE, 0.8::DOUBLE, 0.9::DOUBLE]) AS threshold),
       |hit AS (SELECT t.threshold, p.doc_a, p.doc_b
       |        FROM th t JOIN pairs p ON p.jaccard >= t.threshold),
       |np AS (SELECT threshold, count(*) AS n_pairs FROM hit GROUP BY threshold),
       |nd AS (SELECT threshold, count(*) AS n_docs FROM (
       |         SELECT DISTINCT threshold, doc FROM (
       |           SELECT threshold, doc_a AS doc FROM hit
       |           UNION ALL
       |           SELECT threshold, doc_b AS doc FROM hit))
       |       GROUP BY threshold)
       |SELECT np.threshold, np.n_pairs, nd.n_docs
       |FROM np JOIN nd USING (threshold)
       |ORDER BY threshold""".stripMargin

  /** Banding configurations swept by [[lshRecall]]: (rows-per-band r,
    * bands b) with r·b = [[mhErrorSeeds]] fixed, spanning the whole
    * precision/recall knob — r=1 buckets on single components
    * (max recall, max candidate waste), r=16 demands a full-signature
    * match (min candidates, recall collapses).
    */
  val lshSweepConfigs: Seq[(Int, Int)] = Seq((1, 16), (2, 8), (4, 4), (8, 2), (16, 1))

  /** c^n for power-of-two n by iterated squaring — multiplication only,
    * so both engines compute bit-identical IEEE doubles (pow()'s libm
    * vs JVM sub-ulp divergence never enters).
    */
  private def ipow2(c: Column, n: Int): Column = {
    require(n > 0 && (n & (n - 1)) == 0, s"power-of-two exponent required: $n")
    var x = c; var k = n
    while (k > 1) { x = x * x; k /= 2 }
    x
  }

  /** SQL twin of [[ipow2]] — the same squaring tree as a string, so
    * DuckDB performs the identical multiplication sequence.
    */
  private def ipow2Sql(e: String, n: Int): String =
    if (n == 1) e
    else { val h = ipow2Sql(e, n / 2); s"($h * $h)" }

  /** Banding-configuration sweep: for each (rows-per-band, bands)
    * split of the [[mhErrorSeeds]]-component signature, the measured
    * recall against the exact ground-truth near-dup pairs, the raw
    * candidate-pair volume (the verification work the config buys),
    * and the theoretical expected recall Σ 1−(1−jʳ)ᵇ / n — the table a
    * curator reads to pick banding before an expensive corpus run
    * (measured ≪ theory means a broken hash family; candidates/truth
    * is the precision cost of each recall step). Ground truth and
    * signature share [[ngramJaccard]]'s doc_id < 1000 cap so the
    * oracle can replay the exact pair set.
    *
    * Scale shape: the signature is one per-doc scan pass reused by all
    * configs (lazy localCheckpoint); candidates come from band-key
    * equi-joins (the production LSH shape), never all-pairs; every
    * aggregate is on the 5-row config domain. The theory column sums
    * 4-dp-scaled integers so the mean is partitioning-independent.
    */
  def lshRecall(spark: SparkSession, sfDir: String): DataFrame = {
    val sigs = Tables.table(spark, sfDir, "documents")
      .filter(col("doc_id") < 1000)
      .select(col("doc_id"),
        md5MinhashSig(shingles(graft.ext.Text.tokens(col("text")))).as("msig"))
      .localCheckpoint(false)
    val truth = ngramJaccard(spark, sfDir) // Shared.memo-materialized
    val bandRows = lshSweepConfigs.map { case (r, b) =>
      val slices = (0 until b).map { band =>
        struct(lit(band).as("band"),
          concat_ws(",", transform(slice(col("msig"), band * r + 1, r),
            _.cast("string"))).as("key"))
      }
      sigs.select(lit(r).as("r"), lit(b).as("b"), col("doc_id"),
          explode(array(slices: _*)).as("bk"))
        .select(col("r"), col("b"), col("doc_id"),
          col("bk.band").as("band"), col("bk.key").as("key"))
    }.reduce(_ unionAll _)
    val cand = bandRows.as("x").join(bandRows.as("y"),
        col("x.r") === col("y.r") && col("x.band") === col("y.band") &&
          col("x.key") === col("y.key") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.r").as("r"), col("x.b").as("b"),
        col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
      .localCheckpoint(false)
    val nCand = cand.groupBy(col("r"), col("b")).agg(count(lit(1)).as("n_candidates"))
    val nDet = cand.join(truth.select(col("doc_a"), col("doc_b")), Seq("doc_a", "doc_b"))
      .groupBy(col("r"), col("b")).agg(count(lit(1)).as("n_detected"))
    val theo = lshSweepConfigs.map { case (r, b) =>
      val p = lit(1.0) - ipow2(lit(1.0) - ipow2(col("jaccard"), r), b)
      truth.select(lit(r).as("r"), lit(b).as("b"),
        round(p * 10000).cast("long").as("ip"))
    }.reduce(_ unionAll _)
      .groupBy(col("r"), col("b"))
      .agg(count(lit(1)).as("n_truth"), sum(col("ip")).as("sip"))
    theo.join(nCand, Seq("r", "b"), "left").join(nDet, Seq("r", "b"), "left")
      .select(col("r"), col("b"), col("n_truth"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        coalesce(col("n_detected"), lit(0L)).as("n_detected"),
        round(coalesce(col("n_detected"), lit(0L)).cast("double") / col("n_truth"), 4)
          .as("recall"),
        round(col("sip") / (col("n_truth") * 10000.0), 4).as("theory_recall"))
  }

  /** DuckDB twin of [[lshRecall]] — replays the md5 signature, the
    * band slicing (list_slice is 1-based end-inclusive, matching
    * Spark's slice(start, length)), and the squaring-tree theory
    * arithmetic exactly.
    */
  val lshRecallSql: String = {
    val bandSelects = lshSweepConfigs.flatMap { case (r, b) =>
      (0 until b).map { band =>
        s"SELECT doc_id, $r AS r, $b AS b, $band AS band, " +
          s"array_to_string(list_slice(msig, ${band * r + 1}, ${band * r + r}), ',') AS key FROM sig"
      }
    }.mkString("\n|  ", "\n|  UNION ALL\n|  ", "")
    val theoSelects = lshSweepConfigs.map { case (r, b) =>
      val p = s"(1.0 - ${ipow2Sql(s"(1.0 - ${ipow2Sql("jaccard", r)})", b)})"
      s"SELECT $r AS r, $b AS b, CAST(round($p * 10000) AS BIGINT) AS ip FROM truth"
    }.mkString("\n|  ", "\n|  UNION ALL\n|  ", "")
    s"""WITH $shinglesSqlCte,
       |sig AS (
       |  SELECT doc_id,
       |         list_transform(range($mhErrorSeeds), seed ->
       |           list_min(list_transform(s, x ->
       |             ('0x' || substr(md5(seed::VARCHAR || ':' || x), 1, 8))::BIGINT))) AS msig
       |  FROM sh WHERE doc_id < 1000),
       |truth AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |         round(len(list_intersect(a.s, b.s))::DOUBLE
       |               / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 4) AS jaccard
       |  FROM sh a, sh b
       |  WHERE a.doc_id < b.doc_id AND a.doc_id < 1000 AND b.doc_id < 1000
       |    AND round(len(list_intersect(a.s, b.s))::DOUBLE
       |              / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 4) >= $jaccardThreshold),
       |bands AS ($bandSelects),
       |cand AS (
       |  SELECT DISTINCT x.r, x.b, x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM bands x JOIN bands y
       |    ON x.r = y.r AND x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id),
       |nc AS (SELECT r, b, count(*) AS n_candidates FROM cand GROUP BY r, b),
       |nd AS (SELECT c.r, c.b, count(*) AS n_detected
       |       FROM cand c JOIN truth t ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b
       |       GROUP BY c.r, c.b),
       |theo AS (
       |  SELECT r, b, count(*) AS n_truth, CAST(sum(ip) AS BIGINT) AS sip
       |  FROM ($theoSelects)
       |  GROUP BY r, b)
       |SELECT t.r, t.b, t.n_truth,
       |       coalesce(nc.n_candidates, 0) AS n_candidates,
       |       coalesce(nd.n_detected, 0) AS n_detected,
       |       round(coalesce(nd.n_detected, 0)::DOUBLE / t.n_truth, 4) AS recall,
       |       round(t.sip / (t.n_truth * 10000.0), 4) AS theory_recall
       |FROM theo t LEFT JOIN nc ON nc.r = t.r AND nc.b = t.b
       |            LEFT JOIN nd ON nd.r = t.r AND nd.b = t.b
       |ORDER BY t.r""".stripMargin
  }

  /** Fuzzy benchmark decontamination: train docs NEAR-DUPLICATING any
    * benchmark doc (Jaccard ≥ 0.6), where [[decontaminate]] catches
    * exact shingle overlap counts. The cross-corpus twin of
    * [[minhashLshPairs]] with the asymmetry exploited: the benchmark
    * is the curated small side, so its band index and its verify side
    * are BROADCAST — the 100 TB train corpus never shuffles; band
    * probing and exact verification both ride the train-side scan.
    * Same banding recall argument as [[minhashLsh]]: every planted
    * true pair sits at j ≥ 0.9 where 8×4 recall ≈ 1 − 2e-4, so the
    * naive pairwise SQL is the oracle.
    */
  /** Per-document n-gram novelty: the fraction of a doc's shingles
    * that occur in NO other document (corpus df = 1) — the
    * "originality" complement of boilerplate burden. Curation uses it
    * to separate template-heavy scrapes (novelty ≈ 0) from genuinely
    * new text, orthogonal to pairwise near-dup detection (a doc can be
    * unduplicated yet assembled entirely from corpus-common phrases).
    *
    * Scale shape: shingles hash to 64 bits before any exchange; the df
    * aggregate and the join back both shuffle 8-byte keys with map-side
    * partial aggregation (the [[containment]] skeleton), and the
    * per-doc roll-up is one more hash agg — no pair joins anywhere, so
    * cost is linear in total shingle count at 100 TB.
    */
  def novelty(spark: SparkSession, sfDir: String): DataFrame = {
    val sh = Tables.table(spark, sfDir, "documents")
      .select(col("doc_id"), explode(shingles(Text.tokens(col("text")))).as("raw"))
      .select(col("doc_id"), xxhash64(col("raw")).as("s"))
    // shingles are distinct per doc (WordShingles), so count per s IS
    // the document frequency
    val dfreq = sh.groupBy(col("s")).agg(count(lit(1)).as("df"))
    sh.join(dfreq, Seq("s"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_unique"))
      .withColumn("novelty",
        round(col("n_unique").cast("double") / col("n_shingles"), 4))
  }

  /** DuckDB twin of [[novelty]]. */
  val noveltySql: String =
    s"""WITH $shinglesSqlCte,
       |ex AS (SELECT doc_id, unnest(s) AS s FROM sh),
       |df AS (SELECT s, count(*) AS df FROM ex GROUP BY 1)
       |SELECT e.doc_id, count(*) AS n_shingles,
       |       CAST(sum(CASE WHEN df.df = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_unique,
       |       round(sum(CASE WHEN df.df = 1 THEN 1 ELSE 0 END)::DOUBLE
       |             / count(*), 4) AS novelty
       |FROM ex e JOIN df USING (s)
       |GROUP BY 1
       |ORDER BY doc_id""".stripMargin

  /** Rows reported by [[boilerplateShingles]]. */
  val boilerplateTopK = 25

  /** Corpus boilerplate report: the [[boilerplateTopK]] shingles with
    * the highest document frequency, with the fraction of the corpus
    * each touches — the phrase-level complement of [[novelty]] and the
    * empirical basis for [[containmentDfCap]]-style stop-shingle
    * thresholds. Unlike the hashed paths, the shingle TEXT is the
    * deliverable here, so the aggregation key is the string itself;
    * map-side partial agg still collapses each mapper's duplicates and
    * the final top-k is a bounded TakeOrdered, never a full sort spill.
    */
  def boilerplateShingles(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.table(spark, sfDir, "documents")
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val dfreq = docs
      .select(col("doc_id"), explode(shingles(Text.tokens(col("text")))).as("shingle"))
      .groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    dfreq.crossJoin(broadcast(nDocs)) // one scalar rides along
      .orderBy(col("df").desc, col("shingle").asc)
      .limit(boilerplateTopK)
      .select(col("shingle"), col("df"),
        round(col("df").cast("double") / col("n_docs"), 4).as("pct_docs"))
  }

  /** DuckDB twin of [[boilerplateShingles]]. */
  val boilerplateShinglesSql: String =
    s"""WITH $shinglesSqlCte,
       |ex AS (SELECT doc_id, unnest(s) AS s FROM sh),
       |df AS (SELECT s AS shingle, count(*) AS df FROM ex GROUP BY 1),
       |n AS (SELECT count(*) AS n_docs FROM documents)
       |SELECT shingle, df, round(df::DOUBLE / n_docs, 4) AS pct_docs
       |FROM df, n
       |ORDER BY df DESC, shingle ASC
       |LIMIT $boilerplateTopK""".stripMargin

  /** Shingle widths swept by [[decontaminateNgramSweep]] — n = 13 is
    * the published LLM decontamination convention (GPT-3 appendix C),
    * n = 8 the stricter academic variant; 3 and 5 show how fast the
    * contamination signal sharpens as n grows.
    */
  val deconSweepNs: Seq[Int] = Seq(3, 5, 8, 13)

  /** Decontamination n-gram-width sweep: for each shingle width n, how
    * many (train, bench) pairs share at least one n-shingle and how
    * many distinct train docs that implicates — the calibration a
    * curator reads to pick the width before a production
    * decontamination pass (too small n flags boilerplate echoes; too
    * large misses paraphrased leaks).
    *
    * Scale shape: per width, the [[decontaminate]] shape — explode
    * shingles on both sides, hash (xxhash64) BEFORE the exchange, and
    * equi-join on the shingle itself; cost is O(matching shingles) per
    * width, never train × bench. The global aggregate per width is a
    * one-row count (map-side partial). Production adds the
    * [[shingleBloom]] prune on the train scan exactly as
    * [[decontaminate]] does; the sweep keeps the join bare so the
    * per-width counts are exact.
    */
  def decontaminateNgramSweep(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.table(spark, sfDir, "documents")
    val perN = deconSweepNs.map { n =>
      val sh = docs
        .select(col("doc_id"), explode(shingles(Text.tokens(col("text")), n)).as("raw"))
        .select(col("doc_id"), xxhash64(col("raw")).as("s"))
      val bench = sh.filter(col("doc_id") % 50 === 0)
        .select(col("s"), col("doc_id").as("bench_doc"))
      val train = sh.filter(col("doc_id") % 50 =!= 0)
        .select(col("s"), col("doc_id").as("train_doc"))
      // shingles are distinct per doc, but a pair can share several —
      // distinct pairs before counting
      train.join(bench, Seq("s"))
        .select(col("train_doc"), col("bench_doc")).distinct()
        // global agg (no groupBy): emits its 0-count row even when a
        // width finds no pairs, matching the oracle's per-width SELECT
        .agg(count(lit(1)).as("n_pairs"),
          count_distinct(col("train_doc")).as("n_train_docs"))
        .select(lit(n).as("n"), col("n_pairs"), col("n_train_docs"))
    }
    perN.reduce(_ unionAll _)
  }

  /** DuckDB n-shingle expression over a pre-split token array `t` —
    * the generic-width twin of [[shinglesSqlCte]]'s n = 3 case.
    */
  private def shingleExprSql(n: Int): String = {
    val cat = (0 until n).map(k => s"t[i+$k]").mkString(" || ' ' || ")
    s"CASE WHEN len(t) >= $n THEN list_distinct(list_transform(" +
      s"range(1, len(t) - ${n - 2}), i -> $cat)) " +
      "ELSE [array_to_string(t, ' ')] END"
  }

  /** DuckDB twin of [[decontaminateNgramSweep]]. */
  val decontaminateNgramSweepSql: String = {
    val ctes = deconSweepNs.map { n =>
      s"sh$n AS (SELECT doc_id, unnest(${shingleExprSql(n)}) AS s FROM tok)"
    }.mkString(",\n|")
    val selects = deconSweepNs.map { n =>
      s"""SELECT $n AS n, count(*) AS n_pairs,
         |       count(DISTINCT train_doc) AS n_train_docs FROM (
         |  SELECT DISTINCT a.doc_id AS train_doc, b.doc_id AS bench_doc
         |  FROM sh$n a JOIN sh$n b USING (s)
         |  WHERE a.doc_id % 50 <> 0 AND b.doc_id % 50 = 0)""".stripMargin
    }.mkString("\n|UNION ALL\n|")
    s"""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |$ctes
       |SELECT * FROM (
       |$selects)
       |ORDER BY n""".stripMargin
  }

  def decontaminateFuzzy(spark: SparkSession, sfDir: String): DataFrame = {
    val all = Tables.table(spark, sfDir, "documents")
    val st = signed(all.filter(col("doc_id") % 50 =!= 0))
    val sb = signed(all.filter(col("doc_id") % 50 === 0))
    val cand = bandRows(st).as("x")
      .join(broadcast(bandRows(sb).as("y")),
        col("x.band") === col("y.band") && col("x.band_key") === col("y.band_key"))
      .select(col("x.doc_id").as("train_doc"), col("y.doc_id").as("bench_doc"))
      .distinct()
    val inter = sorted_intersect_count(col("ha"), col("hb")).cast("double")
    cand
      .join(st.select(col("doc_id").as("train_doc"), col("hs").as("ha"),
        col("n").as("na")), Seq("train_doc"))
      .join(broadcast(sb.select(col("doc_id").as("bench_doc"), col("hs").as("hb"),
        col("n").as("nb"))), Seq("bench_doc"))
      .withColumn("jaccard", round(inter / (col("na") + col("nb") - inter), 4))
      .filter(col("jaccard") >= jaccardThreshold)
      .select(col("train_doc"), col("bench_doc"), col("jaccard"))
  }

  val decontaminateFuzzySql: String =
    s"""WITH $shinglesSqlCte
       |SELECT a.doc_id AS train_doc, b.doc_id AS bench_doc,
       |       round(len(list_intersect(a.s, b.s))::DOUBLE
       |             / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 4)
       |         AS jaccard
       |FROM sh a, sh b
       |WHERE a.doc_id % 50 <> 0 AND b.doc_id % 50 = 0
       |  AND round(len(list_intersect(a.s, b.s))::DOUBLE
       |            / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 4) >= $jaccardThreshold
       |ORDER BY train_doc, bench_doc""".stripMargin

  /** Cross-source contamination matrix: distinct-shingle overlap for
    * every source pair — the audit that catches one feed republishing
    * another (syndication, mirror crawls, vendor overlap) before both
    * are independently weighted into a training mix. Emits shared
    * shingle counts and source-level Jaccard.
    *
    * Scale shape: per-source shingle sets dedup in one (source, hash)
    * partial agg; the pair join shuffles on the shingle hash and each
    * shingle fans out to at most |sources|² pair rows (a constant —
    * sources are a handful however big the corpus); the matrix itself
    * is |sources|² rows. Shingles are hashed to 64 bits before any
    * exchange, as in [[containment]].
    */
  def sourceOverlap(spark: SparkSession, sfDir: String): DataFrame = {
    val ss = Tables.table(spark, sfDir, "documents")
      .select(col("source"), explode(shingles(Text.tokens(col("text")))).as("raw"))
      .select(col("source"), xxhash64(col("raw")).as("s"))
      .distinct()
    val sizes = ss.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val shared = ss.select(col("source").as("source_a"), col("s"))
      .join(ss.select(col("source").as("source_b"), col("s")), Seq("s"))
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_shared"))
    val j = round(col("n_shared").cast("double") /
      (col("na") + col("nb") - col("n_shared")), 4)
    shared
      .join(sizes.select(col("source").as("source_a"), col("n").as("na")), Seq("source_a"))
      .join(sizes.select(col("source").as("source_b"), col("n").as("nb")), Seq("source_b"))
      .select(col("source_a"), col("source_b"), col("n_shared"), j.as("jaccard"))
  }

  val sourceOverlapSql: String =
    s"""WITH $shinglesSqlCte,
       |ss AS (SELECT DISTINCT d.source, unnest(sh.s) AS sv
       |       FROM sh JOIN documents d USING (doc_id)),
       |sizes AS (SELECT source, count(*) AS n FROM ss GROUP BY 1),
       |shared AS (SELECT a.source AS source_a, b.source AS source_b,
       |                  count(*) AS n_shared
       |           FROM ss a JOIN ss b ON a.sv = b.sv AND a.source < b.source
       |           GROUP BY 1, 2)
       |SELECT source_a, source_b, n_shared,
       |       round(n_shared::DOUBLE / (sa.n + sb.n - n_shared), 4) AS jaccard
       |FROM shared
       |JOIN sizes sa ON sa.source = source_a
       |JOIN sizes sb ON sb.source = source_b
       |ORDER BY source_a, source_b""".stripMargin

  // ——— SimHash ———

  val simhashBits = 60 // 15 hex digits — stays positive in a signed long
  val hammingMax = 3
  val numChunks = 4 // pigeonhole: hamming ≤ 3 ⇒ some 15-bit chunk equal

  /** 60-bit SimHash per document. Explodes (doc × distinct-token × bit)
    * → signed bit votes → majority per bit → packed long.
    */
  def simhashes(spark: SparkSession, sfDir: String): DataFrame =
    // One-pass SimHashMd5 expression — replaces the explode(token × bit)
    // double aggregation (two shuffles, 60×|tokens| row blowup) with a
    // projection; md5-derived bits keep the DuckDB oracle reproducible.
    Tables.table(spark, sfDir, "documents")
      .select(col("doc_id"),
        simhash_md5(array_distinct(Text.tokens(col("text"))), simhashBits).as("simhash"))

  /** Near-dup pairs at Hamming ≤ 3, found via chunk blocking: join on
    * any equal 15-bit chunk (complete by pigeonhole), then exact
    * popcount filter. No O(n²) compare.
    */
  def simhashPairs(spark: SparkSession, sfDir: String): DataFrame = {
    // eagerly materialized via localCheckpoint: the signature pass (md5
    // per distinct token) dominates this query, and the self-join's two
    // sides would each recompute it — measured 5× slower shared-nothing.
    // The materialized projection is narrow (doc_id, simhash) so the
    // block build is cheap, unlike the array-carrying minhash projection
    // (which stays unmaterialized — see minhashLshPairs). Checkpoint
    // blocks are dropped by the ContextCleaner when this plan becomes
    // unreachable — no caller-owned unpersist obligation, unlike the
    // cache() this replaces (which a library consumer would leak).
    // Trade-off: checkpoint blocks are not fault-tolerant (an executor
    // loss fails the query instead of recomputing lineage) — fine for a
    // within-query scratch projection that a retry rebuilds.
    val sh = simhashes(spark, sfDir).localCheckpoint()
    val chunkBits = simhashBits / numChunks
    val chunked = sh.select(col("doc_id"), col("simhash"),
      explode(sequence(lit(0), lit(numChunks - 1))).as("chunk"))
      .withColumn("chunk_val",
        expr(s"shiftright(simhash, chunk * $chunkBits) & ${(1L << chunkBits) - 1}"))
    // hamming filter BEFORE the distinct: the XOR+popcount is codegen'd
    // and per-candidate cheap, while the distinct is a shuffle — shrink
    // its input to the passing pairs (each surviving pair still appears
    // once per shared chunk, hence the distinct)
    chunked.as("x")
      .join(chunked.as("y"),
        col("x.chunk") === col("y.chunk") && col("x.chunk_val") === col("y.chunk_val") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).as("hamming"))
      .filter(col("hamming") <= hammingMax)
      .distinct()
  }

  /** Oracle: naive O(n²) SimHash Hamming in SQL (blocking is lossless
    * for hamming ≤ 3, so outputs must match exactly).
    */
  val simhashPairsSql: String =
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
       |  FROM documents),
       |hv AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS v FROM tok),
       |bits AS (
       |  SELECT doc_id, b,
       |         sum(CASE WHEN (v >> b) & 1 = 1 THEN 1 ELSE -1 END) AS score
       |  FROM hv CROSS JOIN (SELECT unnest(range($simhashBits)) AS b)
       |  GROUP BY 1, 2),
       |shs AS (
       |  SELECT doc_id,
       |         CAST(sum(CASE WHEN score > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT)
       |           AS simhash
       |  FROM bits GROUP BY 1)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
       |FROM shs a, shs b
       |WHERE a.doc_id < b.doc_id AND bit_count(xor(a.simhash, b.simhash)) <= $hammingMax
       |ORDER BY doc_a, doc_b""".stripMargin
}
