package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Corpus-level lexical statistics and per-document lexical transforms
  * a pretraining-data pipeline runs between filtering and
  * tokenization: collocation (phrase) mining, CCNet-style perplexity
  * bucketing, deterministic MLM mask generation, and per-source
  * tokenizer-compression diagnostics.
  *
  * Reference scope note: the reference pipeline (stream→enrich→agg)
  * has no lexical layer at all; these are the training-data extensions
  * mandated by SURVEY §2.10, built on [[Text]]'s shared tokenizer and
  * hash helpers so every constant lives in exactly one place.
  */
object Lexical {

  // ——— collocation mining ———

  /** Minimum pair count for a bigram to be scored (PMI of rare pairs
    * is noise — the standard Church–Hanks guard).
    */
  val collocMinCount = 5

  /** Collocations reported. */
  val collocTopK = 50

  /** Corpus-level collocation (phrase) mining: top-[[collocTopK]]
    * bigrams by pointwise mutual information,
    * PMI = ln(p(w₁w₂) / (p(w₁)·p(w₂))) with bigram probability over
    * the bigram population and unigram probabilities over the token
    * population. Phrase tables drive tokenizer vocab audits ("is
    * 'new york' one piece?") and boilerplate detection (impossibly
    * high-PMI pairs are templated text).
    *
    * Scale shape: bigrams form per-row from adjacent-slice `zip_with`
    * (codegen'd, no positional self-join), then reduce in two
    * partial-agged key shuffles (pair counts, unigram counts) — both
    * vocabulary-bounded, far below corpus scale. The two corpus-size
    * scalars broadcast. Top-k runs as TakeOrdered (no global sort, no
    * single-partition window over the full pair table); only the ≤ k
    * survivors see a presentation window. The count product is
    * evaluated in double BEFORE the ln (c₂·N² overflows int64 at web
    * scale); both engines group the multiplication identically so the
    * rounded PMI is bit-stable.
    */
  def collocations(spark: SparkSession, sfDir: String): DataFrame = {
    val t = Text.tokens(col("text"))
    val docs = Tables.table(spark, sfDir, "documents")
    val bigrams = docs.select(
      explode(zip_with(
        slice(t, lit(1), size(t) - 1), slice(t, lit(2), size(t) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
      .select(col("bg.w1"), col("bg.w2"))
    val toks = docs.select(explode(t).as("token"))
    val pairCnt = bigrams.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("pair_count"))
      .filter(col("pair_count") >= collocMinCount)
    val uniCnt = toks.groupBy(col("token")).agg(count(lit(1)).as("cu"))
    val totals = bigrams.agg(count(lit(1)).as("n_bigrams"))
      .crossJoin(toks.agg(count(lit(1)).as("n_tokens")))
    val pmi = round(log(
      (col("pair_count").cast("double") * col("n_tokens") * col("n_tokens")) /
        (col("n_bigrams").cast("double") * col("cu1") * col("cu2"))), 4)
    val scored = pairCnt
      .join(uniCnt.select(col("token").as("w1"), col("cu").as("cu1")), Seq("w1"))
      .join(uniCnt.select(col("token").as("w2"), col("cu").as("cu2")), Seq("w2"))
      .crossJoin(broadcast(totals)) // two scalars ride along
      .select(col("w1"), col("w2"), col("pair_count"), pmi.as("pmi"))
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
      .limit(collocTopK)
    val w = Window.orderBy(col("pmi").desc, col("w1"), col("w2"))
    scored.withColumn("rank", row_number().over(w))
  }

  val collocationsSql: String =
    s"""WITH d AS (SELECT string_split(text, ' ') AS ts FROM documents),
       |bg AS (SELECT unnest(list_transform(range(1, len(ts)), i -> [ts[i], ts[i+1]])) AS p
       |       FROM d),
       |pc AS (SELECT p[1] AS w1, p[2] AS w2, count(*) AS pair_count
       |       FROM bg GROUP BY 1, 2 HAVING count(*) >= $collocMinCount),
       |uni AS (SELECT unnest(ts) AS token FROM d),
       |uc AS (SELECT token, count(*) AS cu FROM uni GROUP BY 1),
       |tot AS (SELECT (SELECT count(*) FROM bg) AS n_bigrams,
       |               (SELECT count(*) FROM uni) AS n_tokens),
       |scored AS (
       |  SELECT w1, w2, pair_count,
       |         round(ln((pair_count::DOUBLE * n_tokens * n_tokens)
       |                  / (n_bigrams::DOUBLE * a.cu * b.cu)), 4) AS pmi
       |  FROM pc JOIN uc a ON a.token = pc.w1 JOIN uc b ON b.token = pc.w2, tot)
       |SELECT w1, w2, pair_count, pmi, CAST(rank AS INTEGER) AS rank FROM (
       |  SELECT *, row_number() OVER (ORDER BY pmi DESC, w1, w2) AS rank
       |  FROM scored)
       |WHERE rank <= $collocTopK
       |ORDER BY rank""".stripMargin

  // ——— CCNet perplexity bucketing ———

  /** CCNet-style perplexity bucketing: rank every document within its
    * source by LM score (the interpolated-bigram
    * [[Text.bigramLogprob]]) and cut each source into equal thirds —
    * head (lowest perplexity / most fluent), middle, tail. CCNet keeps
    * head+middle and drops or down-weights tail; emitting the
    * per-(source, bucket) census makes that decision auditable before
    * any data is discarded.
    *
    * Bucket math is pure integers — bucket = ⌈3·rank/count⌉ via
    * (3·rank + count − 1) div count — and the rank itself orders on
    * the INTEGER key round(avg_logprob·10⁴) (the score is already
    * 4-dp, so the key is exact): ranking directly on the rounded
    * double let a one-ulp cross-engine difference flip a
    * bucket-boundary doc, the same flake class the repo neutralizes
    * everywhere else by cutting on integers.
    *
    * Scale shape: doc scoring is [[Text.bigramLogprob]]'s shape (key
    * joins + per-doc reduce); ranking adds one source-keyed window
    * sort. At 100 TB the drop-in replacement is approx_percentile
    * cutoffs per source (broadcast, no per-source total order) — exact
    * rank is chosen here because the oracle compare demands a
    * deterministic assignment at every boundary.
    */
  def ccnetBuckets(spark: SparkSession, sfDir: String): DataFrame = {
    val scores = Text.bigramLogprob(spark, sfDir) // doc_id, n_bigrams, avg_logprob
      .withColumn("sk", round(col("avg_logprob") * 10000).cast("long"))
    val src = Tables.table(spark, sfDir, "documents").select(col("doc_id"), col("source"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("sk").desc, col("doc_id"))
    val ranked = scores.join(src, Seq("doc_id"))
      .withColumn("rn", row_number().over(w))
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy(col("source"))))
      .withColumn("b", expr("(3 * rn + cnt - 1) div cnt").cast("int"))
    val bucket = when(col("b") === 1, "head")
      .when(col("b") === 2, "middle").otherwise("tail")
    // aggregate on the exact integer keys: Σsk is order-independent
    // (double summation is not — a boundary-straddling mean was a
    // measured cross-engine flake), one division at the end
    ranked.groupBy(col("source"), bucket.as("bucket"))
      .agg(
        count(lit(1)).as("n_docs"),
        round(sum(col("sk")).cast("double") / (lit(10000.0) * count(lit(1))), 4)
          .as("mean_logprob"),
        round(min(col("sk")).cast("double") / 10000.0, 4).as("min_logprob"))
  }

  lazy val ccnetBucketsSql: String =
    "WITH " + Text.bigramScoresCtesSql + s""",
       |ranked AS (
       |  SELECT d.source,
       |         CAST(round(b.avg_logprob * 10000, 0) AS BIGINT) AS sk,
       |         row_number() OVER (PARTITION BY d.source
       |                            ORDER BY CAST(round(b.avg_logprob * 10000, 0) AS BIGINT)
       |                                       DESC, b.doc_id) AS rn,
       |         count(*) OVER (PARTITION BY d.source) AS cnt
       |  FROM bscore b JOIN documents d USING (doc_id))
       |SELECT source,
       |       CASE (3 * rn + cnt - 1) // cnt
       |         WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket,
       |       count(*) AS n_docs,
       |       round(sum(sk)::DOUBLE / (10000.0 * count(*)), 4) AS mean_logprob,
       |       round(min(sk)::DOUBLE / 10000.0, 4) AS min_logprob
       |FROM ranked
       |GROUP BY 1, 2
       |ORDER BY source, bucket""".stripMargin

  // ——— deterministic MLM masking ———

  /** One in [[mlmModulus]] positions is masked (≈14%, the BERT rate). */
  val mlmModulus = 7

  /** Mask marker emitted into the corrupted text. */
  val mlmMaskToken = "[MASK]"

  /** Position `pos` (1-based) of document `docId` is masked iff
    * md5(docId:pos) ≡ 0 (mod [[mlmModulus]]) — content-stable, so the
    * same document masks identically across runs, engines, and
    * resumes (rand() would not).
    */
  def mlmMaskAt(docId: Column, pos: Column): Column =
    Text.md5Long(concat(docId.cast("string"), lit(":"), pos.cast("string"))) %
      mlmModulus === 0

  /** Masked-LM example generation: per document, the corrupted text
    * (masked positions replaced by [[mlmMaskToken]]) and the ordered
    * target tokens the model must reconstruct — the last batch-side
    * step before examples are packed and shipped to trainers.
    *
    * Scale shape: entirely per-row — both the mask decision and the
    * two rebuilt strings are codegen'd array lambdas over the token
    * split; no explode, no shuffle, nothing but the scan. The shape
    * that saturates IO at 100 TB.
    */
  def mlmMasking(spark: SparkSession, sfDir: String): DataFrame = {
    val t = Text.tokens(col("text"))
    val masked = transform(t, (tok, i) =>
      when(mlmMaskAt(col("doc_id"), i + 1), lit(mlmMaskToken)).otherwise(tok))
    val targets = filter(t, (_, i) => mlmMaskAt(col("doc_id"), i + 1))
    Tables.table(spark, sfDir, "documents")
      .select(
        col("doc_id"),
        concat_ws(" ", masked).as("masked_text"),
        concat_ws(" ", targets).as("targets"),
        size(targets).cast("long").as("n_masked"))
  }

  val mlmMaskingSql: String =
    s"""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
       |                     generate_subscripts(string_split(text, ' '), 1) AS pos
       |              FROM documents),
       |m AS (SELECT doc_id, pos, tok,
       |             ('0x' || substr(md5(doc_id || ':' || pos), 1, 8))::BIGINT
       |               % $mlmModulus = 0 AS im
       |      FROM toks)
       |SELECT doc_id,
       |       string_agg(CASE WHEN im THEN '$mlmMaskToken' ELSE tok END,
       |                  ' ' ORDER BY pos) AS masked_text,
       |       coalesce(string_agg(CASE WHEN im THEN tok END, ' ' ORDER BY pos),
       |                '') AS targets,
       |       CAST(count(*) FILTER (WHERE im) AS BIGINT) AS n_masked
       |FROM m
       |GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin

  // ——— tokenizer compression diagnostics ———

  /** Per-source tokenizer compression: characters per estimated
    * subword token ([[Text.bpeTokenEstimate]]) and subword-per-word
    * fertility. A source whose chars/token is far off the corpus norm
    * is mis-served by the tokenizer (wrong script, code, boilerplate)
    * — the standard pre-training audit before mix weights are
    * finalized in token units.
    *
    * Scale shape: one scan, per-row codegen'd counting, one
    * partial-agged groupBy on the handful-of-rows source key.
    */
  def compressionRatio(spark: SparkSession, sfDir: String): DataFrame = {
    val t = Text.tokens(col("text"))
    Tables.table(spark, sfDir, "documents")
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(length(col("text")).cast("long")).as("n_chars"),
        sum(size(t).cast("long")).as("ws_tokens"),
        sum(Text.bpeTokenEstimate(col("text"))).as("bpe_tokens"))
      .withColumn("chars_per_token",
        round(col("n_chars").cast("double") / col("bpe_tokens"), 4))
      .withColumn("fertility",
        round(col("bpe_tokens").cast("double") / col("ws_tokens"), 4))
  }

  val compressionRatioSql: String =
    s"""SELECT source,
       |       count(*) AS n_docs,
       |       CAST(sum(length(text)) AS BIGINT) AS n_chars,
       |       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS ws_tokens,
       |       CAST(sum(${Text.bpeTokenEstimateSql}) AS BIGINT) AS bpe_tokens,
       |       round(sum(length(text))::DOUBLE
       |             / sum(${Text.bpeTokenEstimateSql}), 4) AS chars_per_token,
       |       round(sum(${Text.bpeTokenEstimateSql})::DOUBLE
       |             / sum(len(string_split(text, ' '))), 4) AS fertility
       |FROM documents
       |GROUP BY source
       |ORDER BY source""".stripMargin
}
