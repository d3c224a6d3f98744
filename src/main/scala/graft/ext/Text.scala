package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Text analysis for training-data pipelines: tokenization, language ID,
  * quality scoring, fingerprinting — all pure Column expressions
  * (codegen'd, shuffle-free per-row transforms that pipeline with the
  * parquet scan; at 100 TB this stage is embarrassingly parallel).
  *
  * Cross-engine determinism rule: anything hashed goes through
  * md5-hex → first-8-hex-digits → BIGINT, which DuckDB reproduces as
  * `('0x' || substr(md5(x),1,8))::BIGINT` — see the paired oracle SQL.
  */
object Text {

  /** Whitespace tokenization (the corpus is single-space separated). */
  def tokens(text: Column): Column = split(text, " ")

  /** First 8 hex digits of md5 as an unsigned 32-bit value in a long. */
  def md5Long(c: Column): Column =
    conv(substring(md5(c.cast("binary")), 1, 8), 16, 10).cast("long")

  /** Per-language stopword marker lists (tiny n-gram-free heuristic). */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "is", "of", "to", "and", "in"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein"),
    "es" -> Seq("el", "la", "de", "que", "y", "un"),
    "fr" -> Seq("le", "les", "des", "et", "une", "est"))

  /** Count of tokens contained in `words`. */
  def stopwordHits(toks: Column, words: Seq[String]): Column = {
    val arr = array(words.map(lit): _*)
    size(filter(toks, t => array_contains(arr, t)))
  }

  /** Composite quality score — SINGLE definition shared by quality()
    * and pipelineSample() (and mirrored once in SQL): length
    * saturation × 0.5 + type-token ratio × 0.5.
    */
  def qualityScore(t: Column): Column = {
    val nWords = size(t).cast("double")
    val ttr = size(array_distinct(t)).cast("double") / nWords
    round(least(nWords / 100.0, lit(1.0)) * 0.5 + ttr * 0.5, 4)
  }

  /** SQL twin of [[qualityScore]]. */
  val qualityScoreSql: String =
    "round(least(len(string_split(text, ' ')) / 100.0, 1.0) * 0.5" +
      " + (len(list_distinct(string_split(text, ' ')))::DOUBLE" +
      " / len(string_split(text, ' '))) * 0.5, 4)"

  /** Order-insensitive content key (sorted distinct token set, md5) —
    * shared by Dedup.bagOfWords and pipelineSample.
    */
  def bowKey(t: Column): Column =
    md5(concat_ws(" ", sort_array(array_distinct(t))).cast("binary"))

  /** SQL twin of [[bowKey]]. */
  val bowKeySql: String =
    "md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))"

  // ——— queries ———

  /** Token counting: whitespace tokens, regex word tokens, distinct
    * tokens, chars.
    */
  def tokenStats(spark: SparkSession, sfDir: String): DataFrame =
    Tables.table(spark, sfDir, "documents")
      .select(
        col("doc_id"),
        size(tokens(col("text"))).as("n_ws_tokens"),
        regexp_count(col("text"), lit("[a-z0-9]+")).as("n_re_tokens"),
        size(array_distinct(tokens(col("text")))).as("n_distinct_tokens"),
        length(col("text")).as("n_chars"))

  val tokenStatsSql: String =
    """SELECT doc_id,
      |       CAST(len(string_split(text, ' ')) AS INTEGER) AS n_ws_tokens,
      |       CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS INTEGER) AS n_re_tokens,
      |       CAST(len(list_distinct(string_split(text, ' '))) AS INTEGER) AS n_distinct_tokens,
      |       CAST(length(text) AS INTEGER) AS n_chars
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  /** Language ID: stopword-hit scores per language, argmax with fixed
    * priority order (en > de > es > fr), 'und' when nothing matched.
    */
  def langId(spark: SparkSession, sfDir: String): DataFrame = {
    val t = tokens(col("text"))
    val hits = Seq("en", "de", "es", "fr").map(l => stopwordHits(t, stopwords(l)).as(s"${l}_hits"))
    val base = Tables.table(spark, sfDir, "documents")
      .select(col("doc_id") +: col("lang").as("labeled_lang") +: hits: _*)
    base.withColumn("predicted_lang",
        when(col("en_hits") >= col("de_hits") && col("en_hits") >= col("es_hits") &&
          col("en_hits") >= col("fr_hits") && col("en_hits") > 0, "en")
          .when(col("de_hits") >= col("es_hits") && col("de_hits") >= col("fr_hits") &&
            col("de_hits") > 0, "de")
          .when(col("es_hits") >= col("fr_hits") && col("es_hits") > 0, "es")
          .when(col("fr_hits") > 0, "fr")
          .otherwise("und"))
  }

  private def sqlHits(lang: String): String = {
    val words = stopwords(lang).map(w => s"'$w'").mkString("[", ", ", "]")
    s"len(list_filter(string_split(text, ' '), w -> list_contains($words, w)))"
  }

  val langIdSql: String =
    s"""SELECT doc_id, lang AS labeled_lang,
       |       CAST(${sqlHits("en")} AS INTEGER) AS en_hits,
       |       CAST(${sqlHits("de")} AS INTEGER) AS de_hits,
       |       CAST(${sqlHits("es")} AS INTEGER) AS es_hits,
       |       CAST(${sqlHits("fr")} AS INTEGER) AS fr_hits,
       |       CASE WHEN ${sqlHits("en")} >= ${sqlHits("de")}
       |             AND ${sqlHits("en")} >= ${sqlHits("es")}
       |             AND ${sqlHits("en")} >= ${sqlHits("fr")}
       |             AND ${sqlHits("en")} > 0 THEN 'en'
       |            WHEN ${sqlHits("de")} >= ${sqlHits("es")}
       |             AND ${sqlHits("de")} >= ${sqlHits("fr")}
       |             AND ${sqlHits("de")} > 0 THEN 'de'
       |            WHEN ${sqlHits("es")} >= ${sqlHits("fr")}
       |             AND ${sqlHits("es")} > 0 THEN 'es'
       |            WHEN ${sqlHits("fr")} > 0 THEN 'fr'
       |            ELSE 'und' END AS predicted_lang
       |FROM documents
       |ORDER BY doc_id""".stripMargin

  /** Quality scoring: length/diversity/stopword-ratio features and a
    * composite score — the filter stage of a pretraining pipeline.
    */
  def quality(spark: SparkSession, sfDir: String): DataFrame = {
    val t = tokens(col("text"))
    val nWords = size(t).cast("double")
    val nDistinct = size(array_distinct(t)).cast("double")
    val stopHits = stopwordHits(t, stopwords("en")).cast("double")
    val avgWordLen = (length(col("text")).cast("double") - (nWords - 1)) / nWords
    val ttr = nDistinct / nWords
    val stopRatio = stopHits / nWords
    Tables.table(spark, sfDir, "documents")
      .select(
        col("doc_id"),
        length(col("text")).as("n_chars"),
        size(t).as("n_words"),
        round(avgWordLen, 4).as("avg_word_len"),
        round(ttr, 4).as("type_token_ratio"),
        round(stopRatio, 4).as("stopword_ratio"),
        qualityScore(t).as("quality_score"))
  }

  val qualitySql: String =
    s"""SELECT doc_id,
       |       CAST(length(text) AS INTEGER) AS n_chars,
       |       CAST(len(string_split(text, ' ')) AS INTEGER) AS n_words,
       |       round((length(text)::DOUBLE - (len(string_split(text, ' ')) - 1))
       |             / len(string_split(text, ' ')), 4) AS avg_word_len,
       |       round(len(list_distinct(string_split(text, ' ')))::DOUBLE
       |             / len(string_split(text, ' ')), 4) AS type_token_ratio,
       |       round(${sqlHits("en")}::DOUBLE
       |             / len(string_split(text, ' ')), 4) AS stopword_ratio,
       |       $qualityScoreSql AS quality_score
       |FROM documents
       |ORDER BY doc_id""".stripMargin

  /** Top terms kept per document by [[tfidf]]. */
  val tfidfTopK = 3

  /** TF-IDF top terms per document — the feature-extraction pass a
    * quality/topic classifier trains on.
    *
    * Scale shape, stage by stage: term frequencies are one shuffle on
    * the (doc, term) domain with FULL map-side combine (a document is
    * a single row, so every occurrence of a term collapses before the
    * exchange); document frequencies are one shuffle on the term
    * domain; the idf join is a shuffle hash join on term (the
    * vocabulary is web-scale at 100 TB — deliberately NOT broadcast);
    * the per-doc top-k runs on the native TopKPerGroup operator, so
    * the final exchange carries ≤ k rows per document per partition
    * rather than the full (doc, term) matrix.
    *
    * Both engines rank by the ROUNDED score (then term) so a sub-ulp
    * ln() divergence cannot reorder near-ties across engines.
    */
  def tfidf(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.table(spark, sfDir, "documents")
    val tf = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("token")).agg(count(lit(1)).as("dfc"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(dfreq, Seq("token"))
      .crossJoin(broadcast(n)) // scalar doc count rides along
      .withColumn("tfidf",
        round(col("tf") * log(col("n_docs").cast("double") / col("dfc")), 4))
    val top = graft.plans.TopKPerGroup.topKPerGroup(
      scored, Seq(col("doc_id")), Seq(col("tfidf").desc, col("token").asc), tfidfTopK)
    // rank numbering over the ≤ k·|docs| survivors only
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("token").asc)
    top.withColumn("rank", row_number().over(w))
      .select(col("doc_id"), col("token"), col("tfidf"), col("rank"))
  }

  val tfidfSql: String =
    s"""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
       |tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY doc_id, token),
       |dfreq AS (SELECT token, count(*) AS dfc FROM tf GROUP BY token),
       |n AS (SELECT count(*) AS n_docs FROM documents),
       |scored AS (
       |  SELECT doc_id, token, round(tf * ln(n_docs::DOUBLE / dfc), 4) AS tfidf
       |  FROM tf JOIN dfreq USING (token), n)
       |SELECT doc_id, token, tfidf, CAST(rank AS INTEGER) AS rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY doc_id
       |                               ORDER BY tfidf DESC, token) AS rank
       |  FROM scored)
       |WHERE rank <= $tfidfTopK
       |ORDER BY doc_id, rank""".stripMargin

  /** Corpus-LM quality scoring: per-document mean unigram
    * log-probability under the corpus's own MLE unigram model — the
    * cheap perplexity proxy pipelines use to flag gibberish (very
    * negative score: tokens the corpus has rarely seen) and boilerplate
    * (score near zero: nothing but the corpus's most common tokens)
    * before paying for a real LM pass.
    *
    * Scale shape: the model IS the token-frequency table — one shuffle
    * on the token domain with full map-side combine; scoring is a
    * shuffle hash join of (doc, token) against it (the vocabulary is
    * web-scale at 100 TB — deliberately NOT broadcast) and a per-doc
    * partial agg. Every token's probability is an exact ratio
    * (count/total); only the final mean is floating, rounded on both
    * engines.
    */
  def unigramLogprob(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = Tables.table(spark, sfDir, "documents")
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
    val freq = toks.groupBy(col("token")).agg(count(lit(1)).as("tf"))
    val total = toks.agg(count(lit(1)).as("n_total"))
    toks.join(freq, Seq("token"))
      .crossJoin(broadcast(total)) // scalar corpus size rides along
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_tokens"),
        round(avg(log(col("tf").cast("double") / col("n_total"))), 4)
          .as("avg_logprob"))
  }

  val unigramLogprobSql: String =
    """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
      |freq AS (SELECT token, count(*) AS tf FROM toks GROUP BY 1),
      |tot AS (SELECT count(*) AS n_total FROM toks)
      |SELECT doc_id, count(*) AS n_tokens,
      |       round(avg(ln(tf::DOUBLE / n_total)), 4) AS avg_logprob
      |FROM toks JOIN freq USING (token), tot
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  /** Interpolation weight on the bigram term of [[bigramLogprob]]. */
  val bigramLambda = 0.5

  /** Corpus-LM scoring, order-sensitive upgrade of [[unigramLogprob]]:
    * per-document mean log-probability under an interpolated bigram
    * model, p(w₂|w₁) = λ·c(w₁w₂)/c(w₁·) + (1−λ)·c(w₂)/N. The unigram
    * backoff keeps every probability finite (any bigram present in a
    * doc is present in the model, but interpolation is the standard
    * CCNet-style smoothing and makes the score robust when the model
    * is later trained on a held-out split). Flags token-salad that
    * unigram scoring misses: plausible words in implausible order.
    *
    * Scale shape: bigrams come from a per-row `zip_with` over adjacent
    * slices (codegen'd, no self-join to form pairs); the two model
    * tables are token-key partial aggs; scoring joins on token keys
    * (web-scale vocabulary — deliberately NOT broadcast) and reduces
    * per-doc. Identical shuffle profile to [[unigramLogprob]] plus one
    * more key join.
    */
  def bigramLogprob(spark: SparkSession, sfDir: String): DataFrame = {
    val t = tokens(col("text"))
    val docs = Tables.table(spark, sfDir, "documents")
    val bigrams = docs.select(
      col("doc_id"),
      explode(zip_with(
        slice(t, lit(1), size(t) - 1), slice(t, lit(2), size(t) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
      .select(col("doc_id"), col("bg.w1"), col("bg.w2"))
    val toks = docs.select(col("doc_id"), explode(t).as("token"))
    val cBigram = bigrams.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
    val cContext = bigrams.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    val cUnigram = toks.groupBy(col("token")).agg(count(lit(1)).as("cu"))
    val total = toks.agg(count(lit(1)).as("n_total"))
    val p = lit(bigramLambda) * (col("c2").cast("double") / col("c1")) +
      lit(1 - bigramLambda) * (col("cu").cast("double") / col("n_total"))
    bigrams
      .join(cBigram, Seq("w1", "w2"))
      .join(cContext, Seq("w1"))
      .join(cUnigram, bigrams("w2") === cUnigram("token"))
      .crossJoin(broadcast(total)) // scalar corpus size rides along
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(log(p)), 4).as("avg_logprob"))
  }

  /** Shared oracle scaffolding for the interpolated-bigram model: CTE
    * list ending in `bscore(doc_id, n_bigrams, avg_logprob)` — reused
    * by [[bigramLogprobSql]] and [[Lexical.ccnetBucketsSql]].
    */
  val bigramScoresCtesSql: String =
    s"""toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
       |                generate_subscripts(string_split(text, ' '), 1) AS pos
       |         FROM documents),
       |bg AS (SELECT a.doc_id, a.tok AS w1, b.tok AS w2
       |       FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1),
       |cb AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY 1, 2),
       |cc AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY 1),
       |uni AS (SELECT tok, count(*) AS cu FROM toks GROUP BY 1),
       |tot AS (SELECT count(*) AS n_total FROM toks),
       |bscore AS (
       |  SELECT doc_id, count(*) AS n_bigrams,
       |         round(avg(ln($bigramLambda * (c2::DOUBLE / c1)
       |                      + ${1 - bigramLambda} * (cu::DOUBLE / n_total))), 4)
       |           AS avg_logprob
       |  FROM bg JOIN cb USING (w1, w2) JOIN cc USING (w1)
       |          JOIN uni ON uni.tok = bg.w2, tot
       |  GROUP BY doc_id)""".stripMargin

  val bigramLogprobSql: String =
    "WITH " + bigramScoresCtesSql +
      "\nSELECT doc_id, n_bigrams, avg_logprob FROM bscore ORDER BY doc_id"

  /** Mixture temperature for [[sourceWeights]]: weight ∝ tokens^α.
    * α < 1 upsamples small sources relative to proportional sampling —
    * the standard multilingual/source-balance exponent.
    */
  val mixAlpha = 0.7

  /** Per-source corpus mix statistics + temperature-scaled sampling
    * weights — the step that decides how much of each source the
    * training run actually sees. Emits size (docs, tokens), mean
    * quality, and weight ∝ n_tokens^α normalized over sources.
    *
    * Scale shape: one partial-agged groupBy on the source key (a
    * handful of groups however big the corpus), a scalar normalizer
    * over the tiny per-source frame, broadcast back. Output is
    * constant-size; the corpus is scanned exactly once.
    */
  def sourceWeights(spark: SparkSession, sfDir: String): DataFrame = {
    val t = tokens(col("text"))
    val per = Tables.table(spark, sfDir, "documents")
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(size(t).cast("long")).as("n_tokens"),
        round(avg(qualityScore(t)), 4).as("mean_quality"))
    val z = per.agg(sum(pow(col("n_tokens").cast("double"), mixAlpha)).as("z"))
    per.crossJoin(broadcast(z))
      .withColumn("weight",
        round(pow(col("n_tokens").cast("double"), mixAlpha) / col("z"), 4))
      .drop("z")
  }

  val sourceWeightsSql: String =
    s"""WITH per AS (
       |  SELECT source, count(*) AS n_docs,
       |         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
       |         round(avg($qualityScoreSql), 4) AS mean_quality
       |  FROM documents GROUP BY source),
       |tot AS (SELECT sum(pow(n_tokens, $mixAlpha)) AS z FROM per)
       |SELECT source, n_docs, n_tokens, mean_quality,
       |       round(pow(n_tokens, $mixAlpha) / z, 4) AS weight
       |FROM per, tot
       |ORDER BY source""".stripMargin

  /** Document budget [[applyMix]] resamples the corpus down to. */
  val mixTargetDocs = 1000

  /** APPLY the temperature mix: turn [[sourceWeights]]'s per-source
    * weights into deterministic keep-rates for a [[mixTargetDocs]]
    * budget (rate = min(1, weight·T / n_docs), 4 dp) and resample each
    * source by content-stable hash-mod — the step that actually
    * materializes the planned mix. Emits per source the population,
    * the rate, and the kept count; upsampled-beyond-1 sources saturate
    * at keeping everything (the standard single-epoch behavior).
    *
    * Scale shape: the rate table is a handful of rows computed from
    * one partial-agged pass and broadcast back; the keep decision is
    * per-row codegen'd hash math. Documented residual: the 4-dp rate
    * sits downstream of pow(·, α), so a value landing exactly on a
    * rounding boundary could differ across engines' libm — the same
    * accepted class as the DDSketch bucket note.
    */
  def applyMix(spark: SparkSession, sfDir: String): DataFrame = {
    val t = tokens(col("text"))
    val docs = Tables.table(spark, sfDir, "documents")
    val per = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(t).cast("long")).as("n_tokens"))
    val z = per.agg(sum(pow(col("n_tokens").cast("double"), mixAlpha)).as("z"))
    val rates = per.crossJoin(broadcast(z))
      .withColumn("rate",
        least(lit(1.0), round(
          pow(col("n_tokens").cast("double"), mixAlpha) / col("z")
            * mixTargetDocs / col("n_docs"), 4)))
      .withColumn("cut", round(col("rate") * 10000).cast("long"))
      .select(col("source"), col("rate"), col("cut"))
    val kept = md5Long(col("doc_id").cast("string")) % 10000 < col("cut")
    docs.join(broadcast(rates), Seq("source"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        count(when(kept, 1)).as("n_kept"),
        max(col("rate")).as("rate"))
  }

  val applyMixSql: String = {
    val hash10k = "('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 10000"
    s"""WITH per AS (
       |  SELECT source, count(*) AS n_docs,
       |         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
       |  FROM documents GROUP BY source),
       |tot AS (SELECT sum(pow(n_tokens, $mixAlpha)) AS z FROM per),
       |rates AS (
       |  SELECT source,
       |         least(1.0, round(pow(n_tokens, $mixAlpha) / z
       |                          * $mixTargetDocs / n_docs, 4)) AS rate
       |  FROM per, tot)
       |SELECT d.source, count(*) AS n_docs,
       |       count(CASE WHEN $hash10k < CAST(round(r.rate * 10000) AS BIGINT)
       |                  THEN 1 END) AS n_kept,
       |       max(r.rate) AS rate
       |FROM documents d JOIN rates r ON r.source = d.source
       |GROUP BY 1
       |ORDER BY 1""".stripMargin
  }

  /** Token budget (in documents) for [[epochPlan]] — deliberately
    * larger than the corpus so small sources need repeats > 1.
    */
  val epochTargetDocs = 3000

  /** Epoch schedule — the UPSAMPLING half of mix application: when a
    * source's planned share exceeds its population, it is seen
    * multiple times per epoch. Splits each source's target into an
    * integer repeat count plus a fractional remainder applied by
    * content-stable hash-cut: effective_docs = n·⌊t/n⌋ + |hash cut| —
    * the DoReMi/LLaMA-style "epochs per source" plan, deterministic
    * across runs and engines.
    *
    * Scale shape: identical to [[applyMix]] — a broadcast rate table
    * and per-row hash math; the repeat factor is metadata the loader
    * consumes, no row is physically duplicated here.
    */
  def epochPlan(spark: SparkSession, sfDir: String): DataFrame = {
    val t = tokens(col("text"))
    val docs = Tables.table(spark, sfDir, "documents")
    val per = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(t).cast("long")).as("n_tokens"))
    val z = per.agg(sum(pow(col("n_tokens").cast("double"), mixAlpha)).as("z"))
    val plan = per.crossJoin(broadcast(z))
      .withColumn("target",
        round(pow(col("n_tokens").cast("double"), mixAlpha) / col("z")
          * epochTargetDocs, 4))
      .withColumn("base_repeats",
        floor(col("target") / col("n_docs")).cast("long"))
      .withColumn("frac_rate",
        round(col("target") / col("n_docs")
          - floor(col("target") / col("n_docs")), 4))
      .withColumn("cut", round(col("frac_rate") * 10000).cast("long"))
      .select(col("source"), col("base_repeats"), col("frac_rate"), col("cut"))
    val kept = md5Long(col("doc_id").cast("string")) % 10000 < col("cut")
    docs.join(broadcast(plan), Seq("source"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        max(col("base_repeats")).as("base_repeats"),
        max(col("frac_rate")).as("frac_rate"),
        (max(col("base_repeats")) * count(lit(1))
          + count(when(kept, 1))).as("effective_docs"))
  }

  val epochPlanSql: String = {
    val hash10k = "('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 10000"
    s"""WITH per AS (
       |  SELECT source, count(*) AS n_docs,
       |         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
       |  FROM documents GROUP BY source),
       |tot AS (SELECT sum(pow(n_tokens, $mixAlpha)) AS z FROM per),
       |plan AS (
       |  SELECT source,
       |         CAST(floor(round(pow(n_tokens, $mixAlpha) / z * $epochTargetDocs, 4)
       |                    / n_docs) AS BIGINT) AS base_repeats,
       |         round(round(pow(n_tokens, $mixAlpha) / z * $epochTargetDocs, 4) / n_docs
       |               - floor(round(pow(n_tokens, $mixAlpha) / z * $epochTargetDocs, 4)
       |                       / n_docs), 4) AS frac_rate
       |  FROM per, tot)
       |SELECT d.source, count(*) AS n_docs,
       |       max(p.base_repeats) AS base_repeats,
       |       max(p.frac_rate) AS frac_rate,
       |       max(p.base_repeats) * count(*)
       |         + count(CASE WHEN $hash10k < CAST(round(p.frac_rate * 10000) AS BIGINT)
       |                      THEN 1 END) AS effective_docs
       |FROM documents d JOIN plan p ON p.source = d.source
       |GROUP BY 1
       |ORDER BY 1""".stripMargin
  }

  /** Gopher-style repetition filter: fraction of the doc's bigrams
    * taken by its single most frequent bigram (native one-pass
    * [[graft.functions.TopNgramFrac]] — no corpus-wide n-gram explode)
    * plus the distinct-token fraction; a doc is flagged repetitive when
    * either signal crosses its threshold. Per-row, shuffle-free — the
    * shape that pipelines with the scan at 100 TB.
    */
  def repetition(spark: SparkSession, sfDir: String): DataFrame = {
    val t = tokens(col("text"))
    val topBi = round(graft.functions.HashFunctions.top_ngram_frac(t, 2), 4)
    val distinctFrac = round(size(array_distinct(t)).cast("double") / size(t), 4)
    Tables.table(spark, sfDir, "documents")
      .filter(size(t) >= 2)
      .select(
        col("doc_id"),
        topBi.as("top_bigram_frac"),
        distinctFrac.as("distinct_token_frac"))
      .withColumn("is_repetitive",
        col("top_bigram_frac") > 0.05 || col("distinct_token_frac") < 0.5)
  }

  val repetitionSql: String =
    """WITH d AS (
      |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents
      |  WHERE len(string_split(text, ' ')) >= 2),
      |bg AS (
      |  SELECT doc_id,
      |         unnest(list_transform(range(1, len(ts)), i -> ts[i] || ' ' || ts[i+1])) AS b
      |  FROM d),
      |cnt AS (SELECT doc_id, b, count(*) AS c FROM bg GROUP BY 1, 2),
      |top AS (SELECT doc_id, max(c) AS mx, CAST(sum(c) AS BIGINT) AS tot FROM cnt GROUP BY 1),
      |dv AS (SELECT doc_id, round(len(list_distinct(ts))::DOUBLE / len(ts), 4) AS dtf FROM d)
      |SELECT t.doc_id,
      |       round(mx::DOUBLE / tot, 4) AS top_bigram_frac,
      |       dv.dtf AS distinct_token_frac,
      |       (round(mx::DOUBLE / tot, 4) > 0.05 OR dv.dtf < 0.5) AS is_repetitive
      |FROM top t JOIN dv ON dv.doc_id = t.doc_id
      |ORDER BY t.doc_id""".stripMargin

  /** Document fingerprinting: content hash (md5) + order-sensitive
    * rolling hash (Rabin-Karp-style fold over token hashes, mod 1e9+7 to
    * stay overflow-safe in both engines).
    */
  def fingerprint(spark: SparkSession, sfDir: String): DataFrame = {
    val t = tokens(col("text"))
    val tokenVals = transform(t, tok => md5Long(tok))
    val fp = aggregate(tokenVals, lit(0L), (acc, x) => (acc * 31 + x) % 1000000007L)
    Tables.table(spark, sfDir, "documents")
      .select(
        col("doc_id"),
        md5(col("text").cast("binary")).as("content_md5"),
        fp.as("rolling_fp"))
  }

  val fingerprintSql: String =
    """SELECT doc_id,
      |       md5(text) AS content_md5,
      |       list_reduce(
      |         list_prepend(0::BIGINT,
      |           list_transform(string_split(text, ' '),
      |             t -> ('0x' || substr(md5(t), 1, 8))::BIGINT)),
      |         (acc, x) -> (acc * 31 + x) % 1000000007) AS rolling_fp
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  /** Deterministic stratified sampling (corpus mixing): per-language
    * keep-rates applied via a content-stable hash — the data-mixing
    * stage of a pretraining pipeline. Hash-mod sampling (not rand())
    * is reproducible across runs, engines, and resumes.
    */
  val sampleRates: Map[String, Int] = Map("en" -> 50, "de" -> 30, "es" -> 20, "fr" -> 10)

  def stratifiedSample(spark: SparkSession, sfDir: String): DataFrame = {
    val rate = sampleRates.foldLeft(lit(0)) { case (acc, (l, r)) =>
      when(col("lang") === l, r).otherwise(acc)
    }
    val kept = md5Long(col("doc_id").cast("string")) % 100 < rate
    Tables.table(spark, sfDir, "documents")
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_total"),
        count(when(kept, 1)).as("n_kept"),
        round(avg(when(kept, length(col("text")))), 4).as("avg_kept_chars"))
  }

  private val keptSql =
    "('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 < " +
      "(CASE lang WHEN 'en' THEN 50 WHEN 'de' THEN 30 WHEN 'es' THEN 20 " +
      "WHEN 'fr' THEN 10 ELSE 0 END)"

  val stratifiedSampleSql: String =
    s"""SELECT lang,
       |       count(*) AS n_total,
       |       count(CASE WHEN $keptSql THEN 1 END) AS n_kept,
       |       round(avg(CASE WHEN $keptSql THEN length(text) END), 4)
       |         AS avg_kept_chars
       |FROM documents
       |GROUP BY 1
       |ORDER BY 1""".stripMargin

  /** Per-source document cap — the "domain cap" of web-corpus curation
    * (no single domain may dominate the mix): keep at most
    * [[sourceCapK]] documents per source, preferring the longest
    * (n_chars DESC, doc_id ASC as the deterministic tie-break).
    *
    * Scale shape: the native [[graft.plans.TopKPerGroup]] operator
    * keeps a bounded per-partition heap per source BEFORE the
    * exchange, so only ≤ k·partitions candidate rows ever shuffle —
    * never a per-source global sort, never a data-scale window. At
    * 100 TB with millions of domains this is one partial-top-k pass
    * plus a hash shuffle of the k-capped survivors.
    */
  val sourceCapK = 25

  def sourceCaps(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.table(spark, sfDir, "documents")
      .select(col("source"), col("doc_id"), col("n_chars"))
    graft.plans.TopKPerGroup.topKPerGroup(
        docs, Seq(col("source")), Seq(col("n_chars").desc, col("doc_id").asc),
        sourceCapK)
  }

  val sourceCapsSql: String =
    s"""SELECT source, doc_id, n_chars FROM (
       |  SELECT source, doc_id, n_chars,
       |         row_number() OVER (PARTITION BY source
       |                            ORDER BY n_chars DESC, doc_id) AS rn
       |  FROM documents)
       |WHERE rn <= $sourceCapK
       |ORDER BY source, doc_id""".stripMargin

  /** Sequence packing (concatenate-and-chunk): per language, documents
    * in doc_id order are packed into fixed 2048-token bins by cumulative
    * token count — the standard pre-tokenization packing layout. One
    * window pass + one aggregation; at scale the window partitions by
    * (lang, shard).
    */
  def packSequences(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.table(spark, sfDir, "documents")
      .select(col("doc_id"), col("lang"), size(tokens(col("text"))).as("n_tokens"))
      .withColumn("cum_before", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .withColumn("bin", (col("cum_before") / 2048).cast("long"))
      .groupBy(col("lang"), col("bin"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("bin_tokens"),
        min(col("doc_id")).as("first_doc"))
  }

  val packSequencesSql: String =
    """SELECT lang, CAST(FLOOR(cum_before / 2048) AS BIGINT) AS bin,
      |       count(*) AS n_docs,
      |       CAST(sum(n_tokens) AS BIGINT) AS bin_tokens,
      |       min(doc_id) AS first_doc
      |FROM (
      |  SELECT doc_id, lang, n_tokens,
      |         COALESCE(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |           AS cum_before
      |  FROM (SELECT doc_id, lang,
      |               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      |        FROM documents))
      |GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin

  /** BPE-style pre-tokenizer regex (RE2- and Java-compatible — no
    * lookarounds): letter runs | single digits (digit-split, as modern
    * tokenizers do) | punctuation runs. Spaces vanish into piece
    * boundaries.
    */
  val bpePattern = "[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]+"

  /** Max characters a single vocab piece is assumed to cover: a piece
    * of length L counts as ceil(L/6) subword tokens.
    */
  val bpeMaxPiece = 6

  /** Estimated subword token count of a text — whitespace counting
    * under-counts what a model actually consumes (long words split,
    * digits split, punctuation detaches), and packing or mix weights
    * computed from word counts are systematically off by the
    * "fertility" factor. This is the standard regex pre-tokenize +
    * length-based piece estimate (a real BPE merge table is
    * vocab-specific; the estimate is deterministic and
    * engine-reproducible): pieces via [[bpePattern]], each counted as
    * ceil(len/[[bpeMaxPiece]]) tokens. Integer arithmetic end to end —
    * exact in both engines.
    */
  def bpeTokenEstimate(text: Column): Column =
    aggregate(
      expr(s"regexp_extract_all(text, '$bpePattern', 0)"),
      lit(0L),
      (acc, p) => acc + floor((length(p) + lit(bpeMaxPiece - 1)) / bpeMaxPiece).cast("long"))

  /** SQL twin of [[bpeTokenEstimate]] over a column named `text`. */
  val bpeTokenEstimateSql: String =
    s"coalesce(list_sum(list_transform(regexp_extract_all(text, '$bpePattern'), " +
      s"p -> (length(p) + ${bpeMaxPiece - 1}) // $bpeMaxPiece)), 0)"

  /** Per-document tokenizer-aware counting: whitespace tokens vs regex
    * pre-tokenizer pieces vs estimated subword tokens, plus the
    * fertility ratio (subword per word) that mix-weight and packing
    * math should use. Pure per-row codegen'd expressions — the scan is
    * the cost.
    */
  def tokenCountBpe(spark: SparkSession, sfDir: String): DataFrame =
    Tables.table(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"),
        size(tokens(col("text"))).cast("long").as("ws_tokens"),
        expr(s"size(regexp_extract_all(text, '$bpePattern', 0))").cast("long")
          .as("bpe_pieces"),
        bpeTokenEstimate(col("text")).as("bpe_tokens"))
      .select(col("doc_id"), col("ws_tokens"), col("bpe_pieces"), col("bpe_tokens"),
        round(col("bpe_tokens").cast("double") / col("ws_tokens"), 4).as("fertility"))

  val tokenCountBpeSql: String =
    s"""SELECT doc_id,
       |       CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
       |       CAST(len(regexp_extract_all(text, '$bpePattern')) AS BIGINT) AS bpe_pieces,
       |       CAST($bpeTokenEstimateSql AS BIGINT) AS bpe_tokens,
       |       round(($bpeTokenEstimateSql)::DOUBLE
       |             / len(string_split(text, ' ')), 4) AS fertility
       |FROM documents
       |ORDER BY doc_id""".stripMargin

  /** Per-language tokenizer fertility audit: whitespace words, regex
    * pre-tokenizer pieces, and estimated subword tokens aggregated by
    * language, with the fertility ratio (subwords per word) — the
    * multilingual-fairness read-out every tokenizer evaluation
    * publishes (a language whose fertility is 2× pays 2× the context
    * budget and 2× the inference cost for the same text).
    *
    * Scale shape: pure per-row codegen'd expressions + one hash agg on
    * the language key (map-side partial) — the scan is the cost.
    * Ratios divide EXACT integer sums (not averaged per-doc doubles),
    * so partitioning cannot perturb the result.
    */
  def bpeFertility(spark: SparkSession, sfDir: String): DataFrame =
    Tables.table(spark, sfDir, "documents")
      .select(col("lang"),
        size(tokens(col("text"))).cast("long").as("ws"),
        expr(s"size(regexp_extract_all(text, '$bpePattern', 0))").cast("long").as("pieces"),
        bpeTokenEstimate(col("text")).as("bpe"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("ws")).as("ws_tokens"),
        sum(col("pieces")).as("bpe_pieces"),
        sum(col("bpe")).as("bpe_tokens"))
      .withColumn("fertility",
        round(col("bpe_tokens").cast("double") / col("ws_tokens"), 4))

  /** DuckDB twin of [[bpeFertility]]. */
  val bpeFertilitySql: String =
    s"""SELECT lang, count(*) AS n_docs,
       |       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS ws_tokens,
       |       CAST(sum(len(regexp_extract_all(text, '$bpePattern'))) AS BIGINT)
       |         AS bpe_pieces,
       |       CAST(sum($bpeTokenEstimateSql) AS BIGINT) AS bpe_tokens,
       |       round(sum($bpeTokenEstimateSql)::DOUBLE
       |             / sum(len(string_split(text, ' '))), 4) AS fertility
       |FROM documents
       |GROUP BY lang
       |ORDER BY lang""".stripMargin

  /** [[packSequences]] with tokenizer-aware bin accounting: bins close
    * on estimated SUBWORD tokens ([[bpeTokenEstimate]]), not whitespace
    * words — the bin budget is the model's context length, which is
    * spent in subword tokens. Same one-window-pass shape.
    */
  def packSequencesBpe(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.table(spark, sfDir, "documents")
      .select(col("doc_id"), col("lang"), bpeTokenEstimate(col("text")).as("n_tokens"))
      .withColumn("cum_before", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .withColumn("bin", (col("cum_before") / 2048).cast("long"))
      .groupBy(col("lang"), col("bin"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("bin_tokens"),
        min(col("doc_id")).as("first_doc"))
  }

  val packSequencesBpeSql: String =
    s"""SELECT lang, CAST(FLOOR(cum_before / 2048) AS BIGINT) AS bin,
       |       count(*) AS n_docs,
       |       CAST(sum(n_tokens) AS BIGINT) AS bin_tokens,
       |       min(doc_id) AS first_doc
       |FROM (
       |  SELECT doc_id, lang, n_tokens,
       |         COALESCE(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |           AS cum_before
       |  FROM (SELECT doc_id, lang,
       |               CAST($bpeTokenEstimateSql AS BIGINT) AS n_tokens
       |        FROM documents))
       |GROUP BY 1, 2
       |ORDER BY 1, 2""".stripMargin

  /** Count-Min sketch geometry: depth (independent hash rows) × width
    * (buckets per row). Error: over-estimate ≤ 2N/width with
    * probability 1 − 2^−depth.
    */
  val cmsDepth = 4
  val cmsWidth = 256

  /** Two md5-derived base hashes per token; hash row i buckets at
    * (h1 + i·h2) mod width — Kirsch–Mitzenmacher double hashing, the
    * standard construction that preserves CMS error guarantees while
    * paying TWO hash evaluations per token instead of `depth` (md5 via
    * conv() is the dominant sketch-build cost). Cross-engine exact:
    * both engines replay the same two hashes and the same affine
    * combination. h1, h2 < 2³² so h1 + 3·h2 < 2³⁴ — no overflow.
    */
  def cmsBaseHashes(tok: Column): (Column, Column) =
    (md5Long(concat(lit("1:"), tok)), md5Long(concat(lit("2:"), tok)))

  def cmsBucket(h1: Column, h2: Column, i: Int): Column =
    pmod(h1 + lit(i.toLong) * h2, lit(cmsWidth.toLong))

  /** Count-Min token-frequency estimation, formulated Spark-native:
    * the sketch IS a (depth, bucket, count) table — a bounded
    * [[cmsDepth]]×[[cmsWidth]]-cell aggregation, mergeable across
    * micro-batches by adding counts cell-wise (the same property the
    * classic array form has, without custom buffer code). A probe is a
    * broadcast join + min over the depth rows. The probe set here is
    * the fixed stopword vocabulary; output compares the estimate
    * against the exact count (CMS never under-estimates).
    *
    * Scale shape: one explode + one bounded-key shuffle builds the
    * sketch however large the corpus; the probe side is constant-size.
    * Token-frequency family: exact ([[graft.queries.Advanced]]
    * tokenFreq), Misra–Gries top-k candidates (tokenFreqMg), and this
    * — point-queryable counts in bounded memory.
    */
  /** The (depth, bucket, count) sketch of a (token) column frame —
    * mergeable across frames/micro-batches by summing counts cell-wise
    * (spec-verified: sketch(A ∪ B) = sketch(A) ⊎ sketch(B)).
    */
  def cmsSketch(toks: DataFrame): DataFrame = {
    val (h1, h2) = cmsBaseHashes(col("token"))
    toks
      // separate projection: h1/h2 are md5-expensive and referenced by
      // every depth row — CollapseProject keeps multiply-referenced
      // non-cheap aliases un-inlined, so each evaluates once per token
      .select(h1.as("h1"), h2.as("h2"))
      .select(explode(array((0 until cmsDepth).map(i =>
        struct(lit(i).as("d"), cmsBucket(col("h1"), col("h2"), i).as("b"))): _*)).as("c"))
      .groupBy(col("c.d").as("d"), col("c.b").as("b"))
      .agg(count(lit(1)).as("n"))
  }

  def tokenCms(spark: SparkSession, sfDir: String): DataFrame = {
    val probeTokens: Seq[String] =
      stopwords.values.flatten.toSeq.distinct.sorted
    val toks = Tables.table(spark, sfDir, "documents")
      .select(explode(tokens(col("text"))).as("token"))
    val sketch = cmsSketch(toks)
    val probes = spark.range(1)
      .select(explode(array(probeTokens.map(lit): _*)).as("token"))
    val (ph1, ph2) = cmsBaseHashes(col("token"))
    val probeBuckets = probes
      .select(col("token"), ph1.as("h1"), ph2.as("h2"))
      .select(col("token"), explode(array((0 until cmsDepth).map(i =>
        struct(lit(i).as("d"), cmsBucket(col("h1"), col("h2"), i).as("b"))): _*)).as("c"))
      .select(col("token"), col("c.d").as("d"), col("c.b").as("b"))
    val est = probeBuckets
      .join(sketch, Seq("d", "b"), "left")
      .groupBy(col("token"))
      .agg(min(coalesce(col("n"), lit(0L))).as("cms_n"))
    // the exact side exists only to evaluate the probes: filter the
    // token stream to the constant probe set BEFORE the count shuffle
    // (a pushed In-predicate), so only probe hits ever exchange —
    // without this the full corpus token stream shuffles by string to
    // count a 25-token set
    val exact = probes.join(
        toks.filter(col("token").isin(probeTokens: _*))
          .groupBy(col("token")).agg(count(lit(1)).as("exact_n")),
        Seq("token"), "left")
      .select(col("token"), coalesce(col("exact_n"), lit(0L)).as("exact_n"))
    exact.join(est, Seq("token"))
  }

  val tokenCmsSql: String = {
    val probeList = stopwords.values.flatten.toSeq.distinct.sorted
      .map(t => s"'$t'").mkString(", ")
    def bh(p: Int) = s"('0x' || substr(md5('$p:' || token), 1, 8))::BIGINT"
    s"""WITH toks AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
       |probe AS (SELECT unnest([$probeList]) AS token),
       |th AS (SELECT token, ${bh(1)} AS h1, ${bh(2)} AS h2 FROM toks),
       |sk AS (SELECT d, (h1 + d * h2) % $cmsWidth AS b, count(*) AS n
       |       FROM th, range($cmsDepth) t(d) GROUP BY 1, 2),
       |ph AS (SELECT token, ${bh(1)} AS h1, ${bh(2)} AS h2 FROM probe),
       |pb AS (SELECT token, d, (h1 + d * h2) % $cmsWidth AS b
       |       FROM ph, range($cmsDepth) t(d)),
       |est AS (SELECT pb.token, min(coalesce(sk.n, 0)) AS cms_n
       |        FROM pb LEFT JOIN sk ON sk.d = pb.d AND sk.b = pb.b
       |        GROUP BY 1)
       |SELECT p.token,
       |       coalesce((SELECT count(*) FROM toks t WHERE t.token = p.token), 0)
       |         AS exact_n,
       |       est.cms_n
       |FROM probe p JOIN est ON est.token = p.token
       |ORDER BY p.token""".stripMargin
  }

  /** Hashed-feature space size for [[dsirWeights]]. Real DSIR uses
    * ~10k buckets over a web-scale vocabulary; 1024 keeps the fixture
    * buckets multiply occupied while the math is size-independent.
    */
  val dsirBuckets = 1024

  /** Target distribution for [[dsirWeights]]: documents in this
    * language play the role of the high-quality target corpus.
    */
  val dsirTargetLang = "en"

  /** DSIR feature stream of a document: unigrams ++ adjacent bigrams
    * (space-joined), the hashed n-gram features of Xie et al.,
    * "Data Selection for Language Models via Importance Resampling"
    * (NeurIPS 2023). Per-row codegen'd array ops — no join forms the
    * bigrams.
    */
  def dsirFeatures(text: Column): Column = {
    val t = tokens(text)
    concat(t, zip_with(
      slice(t, lit(1), size(t) - 1), slice(t, lit(2), size(t) - 1),
      (a, b) => concat_ws(" ", a, b)))
  }

  /** DSIR importance weights: score every document by how much more
    * likely its hashed n-gram features are under the target
    * distribution (docs in [[dsirTargetLang]]) than under the corpus
    * ("proposal") distribution — the data-selection step that picks
    * web-corpus documents resembling a trusted target corpus. Per-doc
    * log weight = Σ_features [ln p̂_tgt(b) − ln p̂_prop(b)] with add-one
    * smoothing over [[dsirBuckets]] buckets; `selected` marks docs
    * more target-like than corpus-like (the deterministic stand-in for
    * DSIR's Gumbel resampling).
    *
    * Scale shape: features are bucketed ONCE into a per-doc int array
    * (lazy localCheckpoint — target model, proposal model, and scoring
    * all read the same materialization, the BM25 tokenize-once move);
    * both models are bounded partial aggs (≤ [[dsirBuckets]] rows)
    * broadcast back onto the exploded feature stream; scoring reduces
    * per-doc. The corpus shuffles feature-bucket counts, never text.
    */
  def dsirWeights(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.table(spark, sfDir, "documents")
    val bucketed = docs
      .select(col("doc_id"), col("lang"),
        transform(dsirFeatures(col("text")),
          f => pmod(md5Long(f), lit(dsirBuckets))).as("buckets"))
      .localCheckpoint(false)
    val feats = bucketed
      .select(col("doc_id"), col("lang"), explode(col("buckets")).as("bucket"))
    val tgtFeats = feats.filter(col("lang") === dsirTargetLang)
    val tgt = tgtFeats.groupBy(col("bucket")).agg(count(lit(1)).as("ct"))
    val prop = feats.groupBy(col("bucket")).agg(count(lit(1)).as("cp"))
    val totals = tgtFeats.agg(count(lit(1)).as("nt"))
      .crossJoin(feats.agg(count(lit(1)).as("np")))
    val logRatio =
      log((coalesce(col("ct"), lit(0L)) + 1).cast("double") /
        (col("nt") + dsirBuckets)) -
        log((col("cp") + 1).cast("double") / (col("np") + dsirBuckets))
    feats
      .join(broadcast(tgt), Seq("bucket"), "left")
      .join(broadcast(prop), Seq("bucket"))
      .crossJoin(broadcast(totals)) // two scalars ride along
      .groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("n_feats"),
        round(sum(logRatio), 4).as("log_weight"))
      .withColumn("selected", (col("log_weight") > 0).cast("int"))
  }

  val dsirWeightsSql: String =
    s"""WITH toks AS (SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents),
       |feats AS (
       |  SELECT doc_id, lang,
       |         ('0x' || substr(md5(f), 1, 8))::BIGINT % $dsirBuckets AS bucket
       |  FROM (SELECT doc_id, lang,
       |               unnest(list_concat(t,
       |                 list_transform(range(1, len(t)),
       |                   i -> list_extract(t, i) || ' ' || list_extract(t, i + 1)))) AS f
       |        FROM toks)),
       |tgt AS (SELECT bucket, count(*) AS ct FROM feats
       |        WHERE lang = '$dsirTargetLang' GROUP BY 1),
       |prop AS (SELECT bucket, count(*) AS cp FROM feats GROUP BY 1),
       |tot AS (SELECT (SELECT count(*) FROM feats WHERE lang = '$dsirTargetLang') AS nt,
       |               (SELECT count(*) FROM feats) AS np)
       |SELECT doc_id, lang, count(*) AS n_feats,
       |       round(sum(ln((coalesce(ct, 0) + 1)::DOUBLE / (nt + $dsirBuckets))
       |                 - ln((cp + 1)::DOUBLE / (np + $dsirBuckets))), 4) AS log_weight,
       |       CASE WHEN round(sum(ln((coalesce(ct, 0) + 1)::DOUBLE / (nt + $dsirBuckets))
       |                 - ln((cp + 1)::DOUBLE / (np + $dsirBuckets))), 4) > 0
       |            THEN 1 ELSE 0 END AS selected
       |FROM feats LEFT JOIN tgt USING (bucket) JOIN prop USING (bucket), tot
       |GROUP BY doc_id, lang
       |ORDER BY doc_id""".stripMargin

  /** PII-style redaction: digit runs replaced by a placeholder (the
    * regex-scrub stage of a cleaning pipeline); the redacted content is
    * fingerprinted so the oracle verifies the transform byte-for-byte.
    */
  def redact(spark: SparkSession, sfDir: String): DataFrame = {
    val redacted = regexp_replace(col("text"), "[0-9]+", "<NUM>")
    Tables.table(spark, sfDir, "documents")
      .select(
        col("doc_id"),
        regexp_count(col("text"), lit("[0-9]+")).as("n_redactions"),
        length(redacted).as("redacted_len"),
        md5(redacted.cast("binary")).as("redacted_md5"))
  }

  val redactSql: String =
    """SELECT doc_id,
      |       CAST(len(regexp_extract_all(text, '[0-9]+')) AS INTEGER) AS n_redactions,
      |       CAST(length(regexp_replace(text, '[0-9]+', '<NUM>', 'g')) AS INTEGER)
      |         AS redacted_len,
      |       md5(regexp_replace(text, '[0-9]+', '<NUM>', 'g')) AS redacted_md5
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  /** Composed training-data pipeline: quality filter → bag-of-words
    * dedup (keep min doc_id per token-set) → deterministic 30% hash
    * sample → per-language corpus stats. One declarative plan: Catalyst
    * fuses the filters into the scan, the dedup is one hash shuffle,
    * the sample is a pushed-down predicate (md5-hash mod — stable across
    * runs and engines, unlike rand()).
    */
  def pipelineSample(spark: SparkSession, sfDir: String): DataFrame = {
    val t = tokens(col("text"))
    val docs = Tables.table(spark, sfDir, "documents")
      .withColumn("quality_score", qualityScore(t))
      .filter(col("quality_score") >= 0.5)
      .withColumn("bow_key", bowKey(t))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("bow_key")).orderBy(col("doc_id"))
    docs
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1) // dedup: keeper = min doc_id
      .filter(md5Long(col("doc_id").cast("string")) % 100 < 30) // deterministic 30% sample
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        round(avg(col("quality_score")), 4).as("avg_quality"),
        round(avg(length(col("text"))), 4).as("avg_chars"))
  }

  val pipelineSampleSql: String =
    s"""WITH scored AS (
      |  SELECT *,
      |         $qualityScoreSql AS quality_score,
      |         $bowKeySql AS bow_key
      |  FROM documents),
      |kept AS (
      |  SELECT * FROM scored
      |  WHERE quality_score >= 0.5
      |  QUALIFY row_number() OVER (PARTITION BY bow_key ORDER BY doc_id) = 1),
      |sampled AS (
      |  SELECT * FROM kept
      |  WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 < 30)
      |SELECT lang,
      |       count(*) AS n_docs,
      |       round(avg(quality_score), 4) AS avg_quality,
      |       round(avg(length(text)), 4) AS avg_chars
      |FROM sampled
      |GROUP BY 1
      |ORDER BY 1""".stripMargin

  /** Per-source distribution drift: KL(source ‖ corpus) over the token
    * unigram distributions — the audit that catches a crawl snapshot or
    * vendor feed whose language suddenly shifts (boilerplate injection,
    * encoding breakage, topic drift) before it contaminates a training
    * mix. KL is computed over the source's own support, so every term
    * is finite (q(t) > 0 whenever p(t) > 0: the corpus contains the
    * source).
    *
    * Scale shape: one shuffle keyed on (source, token) with full
    * map-side combine; the global model derives from that table by a
    * second token-key agg (never re-scanning the corpus); the
    * vocabulary join stays on token keys (web-scale — NOT broadcast);
    * per-source totals are a handful of rows, broadcast back. Output is
    * |sources| rows.
    */
  def sourceKl(spark: SparkSession, sfDir: String): DataFrame = {
    val st = Tables.table(spark, sfDir, "documents")
      .select(col("source"), explode(tokens(col("text"))).as("token"))
      .groupBy(col("source"), col("token"))
      .agg(count(lit(1)).as("c_st"))
    val sTot = st.groupBy(col("source")).agg(sum(col("c_st")).as("n_s"))
    val gt = st.groupBy(col("token")).agg(sum(col("c_st")).as("c_t"))
    val gTot = gt.agg(sum(col("c_t")).as("n"))
    val p = col("c_st").cast("double") / col("n_s")
    val q = col("c_t").cast("double") / col("n")
    st.join(gt, Seq("token"))
      .join(broadcast(sTot), Seq("source"))
      .crossJoin(broadcast(gTot)) // scalar corpus size rides along
      .groupBy(col("source"), col("n_s").as("n_tokens"))
      .agg(round(sum(p * log(p / q)), 4).as("kl_corpus"))
  }

  val sourceKlSql: String =
    """WITH toks AS (SELECT source, unnest(string_split(text, ' ')) AS token
      |              FROM documents),
      |st AS (SELECT source, token, count(*) AS c_st FROM toks GROUP BY 1, 2),
      |stot AS (SELECT source, CAST(sum(c_st) AS BIGINT) AS n_s FROM st GROUP BY 1),
      |gt AS (SELECT token, CAST(sum(c_st) AS BIGINT) AS c_t FROM st GROUP BY 1),
      |tot AS (SELECT CAST(sum(c_t) AS BIGINT) AS n FROM gt)
      |SELECT source, n_s AS n_tokens,
      |       round(sum((c_st::DOUBLE / n_s)
      |                 * ln((c_st::DOUBLE / n_s) / (c_t::DOUBLE / n))), 4)
      |         AS kl_corpus
      |FROM st JOIN stot USING (source) JOIN gt USING (token), tot
      |GROUP BY source, n_s
      |ORDER BY source""".stripMargin

  /** Length-outlier screening via the DDSketch p99: documents longer
    * than the corpus's 99th-percentile token count — the truncation /
    * review queue every pretraining pipeline maintains (a 10⁶-token
    * "document" is a concatenation bug or a dump, not prose). The
    * cutoff comes from [[graft.functions.DDSketchQuantiles]], so at
    * 100 TB it costs one bounded-state pass, not a sort; its
    * log-bucket math is deterministic, which is what lets the oracle
    * reproduce the cutoff exactly rather than within a tolerance.
    *
    * Scale shape: sketch pass (constant-size exchange) → one-row
    * broadcast → pushdown-friendly per-row filter on a second scan.
    */
  def lengthOutliers(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.AggregateFunctions.dd_quantiles
    val gamma = graft.queries.Advanced.ddGamma
    val n = size(tokens(col("text")))
    val docs = Tables.table(spark, sfDir, "documents")
    // the cut is taken on the ROUNDED cutoff (4 dp), the same boundary
    // convention as every other cross-engine cut here: pow/ln are not
    // correctly-rounded, so a sub-ulp divergence must not flip a row
    val p99 = docs
      .agg(dd_quantiles(n.cast("double"), gamma, Seq(0.99)).as("qv"))
      .select(round(element_at(col("qv"), 1), 4).as("p99"))
    docs.select(col("doc_id"), n.as("n_tokens"))
      .crossJoin(broadcast(p99)) // one scalar cutoff rides along
      .filter(col("n_tokens") > col("p99"))
      .select(col("doc_id"), col("n_tokens"), col("p99").as("p99_tokens"))
  }

  val lengthOutliersSql: String = {
    val gamma = graft.queries.Advanced.ddGamma
    s"""WITH n AS (SELECT doc_id, len(string_split(text, ' ')) AS n_tokens
       |           FROM documents),
       |b AS (SELECT CAST(ceil(ln(n_tokens::DOUBLE) / ln($gamma)) AS INTEGER) AS bkt,
       |             count(*) AS c
       |      FROM n WHERE n_tokens > 0 GROUP BY 1),
       |tot AS (SELECT CAST(sum(c) AS BIGINT) AS m FROM b),
       |cum AS (SELECT bkt, sum(c) OVER (ORDER BY bkt) AS cum FROM b),
       |sel AS (SELECT min(bkt) AS bkt FROM cum, tot WHERE cum >= ceil(0.99 * m)),
       |p AS (SELECT round(2 * pow($gamma, bkt) / ($gamma + 1.0), 4) AS p99 FROM sel)
       |SELECT doc_id, CAST(n_tokens AS INTEGER) AS n_tokens,
       |       p99 AS p99_tokens
       |FROM n, p WHERE n_tokens > p99
       |ORDER BY doc_id""".stripMargin
  }

  /** Zipf rank-frequency slope per source: the least-squares slope of
    * ln(freq) against ln(rank) over each source's token frequency
    * table — natural text sits near −1 (Zipf's law); a slope far off
    * flags machine-generated or template-heavy feeds (too flat: random
    * noise; too steep: boilerplate dominated by a few strings). The
    * corpus-health twin of [[sourceKl]]: KL compares sources to the
    * mix, the slope checks each source against the shape natural
    * language itself has.
    *
    * Scale shape: the frequency table is the usual (source, token)
    * partial agg; ranking is a per-source window over the VOCABULARY
    * (vocab-size, not corpus-size — and per-source, so partitions
    * parallelize); the slope reduces via covar_pop/var_pop partial
    * aggs. Ties rank by (freq desc, token) on both engines so the
    * regression inputs are identical.
    */
  def zipfSlope(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val freq = Tables.table(spark, sfDir, "documents")
      .select(col("source"), explode(tokens(col("text"))).as("token"))
      .groupBy(col("source"), col("token"))
      .agg(count(lit(1)).as("c"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("c").desc, col("token").asc)
    val lnR = log(col("r").cast("double"))
    freq.withColumn("r", row_number().over(w))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("vocab_size"),
        round(covar_pop(lnR, log(col("c").cast("double"))) / var_pop(lnR), 4)
          .as("zipf_slope"))
      // a single-token vocabulary has var_pop = 0 → 0/0 NaN; a slope
      // needs ≥ 2 points, so such degenerate sources are excluded
      // (mirrored by the oracle's HAVING)
      .filter(col("vocab_size") > 1)
  }

  val zipfSlopeSql: String =
    """WITH f AS (SELECT source, token, count(*) AS c
      |           FROM (SELECT source, unnest(string_split(text, ' ')) AS token
      |                 FROM documents)
      |           GROUP BY 1, 2),
      |r AS (SELECT source, c,
      |             row_number() OVER (PARTITION BY source
      |                                ORDER BY c DESC, token) AS rnk
      |      FROM f)
      |SELECT source, count(*) AS vocab_size,
      |       round(covar_pop(ln(rnk), ln(c)) / var_pop(ln(rnk)), 4) AS zipf_slope
      |FROM r GROUP BY source HAVING count(*) > 1 ORDER BY source""".stripMargin

  /** Fixed coefficients of [[qualityModel]] — stands in for a trained
    * quality classifier's weights (fastText-style), shipped with the
    * pipeline as literals.
    */
  val qmBias = -1.25
  val qmWLenSat = 1.2 // length saturation: min(tokens/100, 1)
  val qmWTtr = 2.0 // type-token ratio
  val qmWStop = 1.5 // stopword hit ratio (en markers)
  val qmWWordLen = -0.8 // mean chars per token / 10

  /** Batch model inference — the "apply the trained quality classifier
    * to the whole corpus" stage: a deterministic logistic model over
    * cheap text features (length saturation, type-token ratio,
    * stopword ratio, mean word length), emitting the score and the
    * keep/drop decision at the 0.5 cut. The decision is taken on the
    * ROUNDED score so engines agree at the boundary.
    *
    * Scale shape: pure per-row codegen'd projection — no shuffle, no
    * model state beyond literal weights; pipelines with the parquet
    * scan exactly like a broadcast-weights GPU-free scorer would at
    * 100 TB.
    */
  def qualityModel(spark: SparkSession, sfDir: String): DataFrame = {
    val t = tokens(col("text"))
    val n = size(t).cast("double")
    val z = lit(qmBias) +
      lit(qmWLenSat) * least(n / 100.0, lit(1.0)) +
      lit(qmWTtr) * (size(array_distinct(t)).cast("double") / n) +
      lit(qmWStop) * (stopwordHits(t, stopwords("en")).cast("double") / n) +
      lit(qmWWordLen) * (length(col("text")).cast("double") / n / 10.0)
    val score = round(lit(1.0) / (lit(1.0) + exp(-z)), 4)
    Tables.table(spark, sfDir, "documents")
      .select(col("doc_id"), score.as("score"), (score >= 0.5).as("keep"))
  }

  val qualityModelSql: String = {
    val mk = "list_filter(string_split(text, ' '), x -> list_contains(" +
      "['the', 'a', 'is', 'of', 'to', 'and', 'in'], x))"
    val z = s"""($qmBias
       |  + $qmWLenSat * least(len(string_split(text, ' ')) / 100.0, 1.0)
       |  + $qmWTtr * (len(list_distinct(string_split(text, ' ')))::DOUBLE
       |               / len(string_split(text, ' ')))
       |  + $qmWStop * (len($mk)::DOUBLE / len(string_split(text, ' ')))
       |  + $qmWWordLen * (length(text)::DOUBLE / len(string_split(text, ' ')) / 10.0))"""
      .stripMargin
    s"""SELECT doc_id,
       |       round(1.0 / (1.0 + exp(-$z)), 4) AS score,
       |       round(1.0 / (1.0 + exp(-$z)), 4) >= 0.5 AS keep
       |FROM documents
       |ORDER BY doc_id""".stripMargin
  }

  /** Closed-form least-squares fit of the quality score on surface
    * features (intercept, n_words, n_chars) — model TRAINING expressed
    * as pure aggregation, the other half of the [[qualityModel]]
    * inference story: the normal equations' moment matrix is ten
    * order-independent sums collected in ONE partial-agged scan pass,
    * and the solve is constant-time Cramer arithmetic on the resulting
    * 1-row frame. At 100 TB the only data-scale work is the scan; the
    * "training" reduces to the same map-side-combine shape as a
    * count(*), with no iteration, no driver model state, no shuffle of
    * anything but ten longs per partition.
    *
    * Cross-engine determinism: features are integers and the target
    * rides as round(score·10⁴) integers, so every moment is an EXACT
    * BIGINT (< 2^53, hence exact as a double too); both engines then
    * evaluate the identical Cramer / R² expression tree on those exact
    * values — no pow/ln/exp, no summation-order wobble. (At extreme
    * corpus×feature scale the integer moments would need DECIMAL or
    * feature scaling to stay inside BIGINT; documented, not hit here.)
    */
  def linregQuality(spark: SparkSession, sfDir: String): DataFrame = {
    val t = tokens(col("text"))
    val moments = Tables.table(spark, sfDir, "documents")
      .select(
        size(t).cast("long").as("x1"),
        length(col("text")).cast("long").as("x2"),
        round(qualityScore(t) * 10000).cast("long").as("y4"))
      .agg(
        count(lit(1)).as("s00"),
        sum(col("x1")).as("s01"), sum(col("x2")).as("s02"),
        sum(col("x1") * col("x1")).as("s11"),
        sum(col("x1") * col("x2")).as("s12"),
        sum(col("x2") * col("x2")).as("s22"),
        sum(col("y4")).as("ty0"),
        sum(col("x1") * col("y4")).as("ty1"),
        sum(col("x2") * col("y4")).as("ty2"),
        sum(col("y4") * col("y4")).as("tyy"))
    def d(c: String): Column = col(c).cast("double")
    val solved = moments.select(
      col("s00").as("n"),
      d("s00").as("a00"), d("s01").as("a01"), d("s02").as("a02"),
      d("s11").as("a11"), d("s12").as("a12"), d("s22").as("a22"),
      (d("ty0") / 10000.0).as("t0"), (d("ty1") / 10000.0).as("t1"),
      (d("ty2") / 10000.0).as("t2"), (d("tyy") / 100000000.0).as("tt"))
    val withDets = solved.select(col("n"), col("t0"), col("t1"), col("t2"), col("tt"),
      (col("a00") * (col("a11") * col("a22") - col("a12") * col("a12"))
        - col("a01") * (col("a01") * col("a22") - col("a12") * col("a02"))
        + col("a02") * (col("a01") * col("a12") - col("a11") * col("a02"))).as("det"),
      (col("t0") * (col("a11") * col("a22") - col("a12") * col("a12"))
        - col("a01") * (col("t1") * col("a22") - col("a12") * col("t2"))
        + col("a02") * (col("t1") * col("a12") - col("a11") * col("t2"))).as("det0"),
      (col("a00") * (col("t1") * col("a22") - col("a12") * col("t2"))
        - col("t0") * (col("a01") * col("a22") - col("a12") * col("a02"))
        + col("a02") * (col("a01") * col("t2") - col("t1") * col("a02"))).as("det1"),
      (col("a00") * (col("a11") * col("t2") - col("t1") * col("a12"))
        - col("a01") * (col("a01") * col("t2") - col("t1") * col("a02"))
        + col("t0") * (col("a01") * col("a12") - col("a11") * col("a02"))).as("det2"),
      col("a00"))
    val betas = withDets.select(col("n"), col("t0"), col("t1"), col("t2"),
      col("tt"), col("a00"),
      (col("det0") / col("det")).as("b0"),
      (col("det1") / col("det")).as("b1"),
      (col("det2") / col("det")).as("b2"))
    // SSE = y'y − βᵀ(Xᵀy) because β solves the normal equations;
    // SST = y'y − (Σy)²/n — both pure arithmetic on the exact moments
    val sse = col("tt") -
      (col("b0") * col("t0") + col("b1") * col("t1") + col("b2") * col("t2"))
    val sst = col("tt") - col("t0") * col("t0") / col("a00")
    betas.select(
      col("n"),
      round(col("b0"), 6).as("beta_intercept"),
      round(col("b1"), 6).as("beta_n_words"),
      round(col("b2"), 6).as("beta_n_chars"),
      round(lit(1.0) - sse / sst, 4).as("r2"))
  }

  /** DuckDB twin of [[linregQuality]] — the same exact-integer moment
    * pass and the identical Cramer / R² expression tree, chained
    * through CTEs so the multiplication order matches the Spark plan
    * operation for operation.
    */
  val linregQualitySql: String =
    s"""WITH f AS (
       |  SELECT len(string_split(text, ' ')) AS x1,
       |         length(text) AS x2,
       |         CAST(round(($qualityScoreSql) * 10000) AS BIGINT) AS y4
       |  FROM documents),
       |s AS (
       |  SELECT count(*) AS s00,
       |         CAST(sum(x1) AS BIGINT) AS s01, CAST(sum(x2) AS BIGINT) AS s02,
       |         CAST(sum(x1 * x1) AS BIGINT) AS s11,
       |         CAST(sum(x1 * x2) AS BIGINT) AS s12,
       |         CAST(sum(x2 * x2) AS BIGINT) AS s22,
       |         CAST(sum(y4) AS BIGINT) AS ty0,
       |         CAST(sum(x1 * y4) AS BIGINT) AS ty1,
       |         CAST(sum(x2 * y4) AS BIGINT) AS ty2,
       |         CAST(sum(y4 * y4) AS BIGINT) AS tyy
       |  FROM f),
       |m AS (
       |  SELECT s00 AS n,
       |         s00::DOUBLE AS a00, s01::DOUBLE AS a01, s02::DOUBLE AS a02,
       |         s11::DOUBLE AS a11, s12::DOUBLE AS a12, s22::DOUBLE AS a22,
       |         ty0::DOUBLE / 10000.0 AS t0, ty1::DOUBLE / 10000.0 AS t1,
       |         ty2::DOUBLE / 10000.0 AS t2, tyy::DOUBLE / 100000000.0 AS tt
       |  FROM s),
       |dets AS (
       |  SELECT n, t0, t1, t2, tt, a00,
       |         (a00 * (a11 * a22 - a12 * a12)
       |          - a01 * (a01 * a22 - a12 * a02)
       |          + a02 * (a01 * a12 - a11 * a02)) AS det,
       |         (t0 * (a11 * a22 - a12 * a12)
       |          - a01 * (t1 * a22 - a12 * t2)
       |          + a02 * (t1 * a12 - a11 * t2)) AS det0,
       |         (a00 * (t1 * a22 - a12 * t2)
       |          - t0 * (a01 * a22 - a12 * a02)
       |          + a02 * (a01 * t2 - t1 * a02)) AS det1,
       |         (a00 * (a11 * t2 - t1 * a12)
       |          - a01 * (a01 * t2 - t1 * a02)
       |          + t0 * (a01 * a12 - a11 * a02)) AS det2
       |  FROM m),
       |b AS (
       |  SELECT n, t0, t1, t2, tt, a00,
       |         det0 / det AS b0, det1 / det AS b1, det2 / det AS b2
       |  FROM dets)
       |SELECT n,
       |       round(b0, 6) AS beta_intercept,
       |       round(b1, 6) AS beta_n_words,
       |       round(b2, 6) AS beta_n_chars,
       |       round(1.0 - (tt - (b0 * t0 + b1 * t1 + b2 * t2))
       |                   / (tt - t0 * t0 / a00), 4) AS r2
       |FROM b""".stripMargin
}
