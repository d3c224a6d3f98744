package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.Tables

/** Streaming incremental near-dup dedup against a STATIC corpus — the
  * streaming twin of [[Dedup.minhashLsh]]: documents arrive on a stream
  * and are admitted only if no document already in the corpus is a
  * near-duplicate (verified Jaccard ≥ [[jaccardMin]]).
  *
  * Shape: the corpus is indexed ONCE into (band, band_key, corpus_doc)
  * rows plus per-doc verification sides (hashed shingle sets) — at
  * 100 TB the caller persists/buckets that index by (band, band_key) so
  * micro-batches join against it without re-scanning the corpus. Each
  * arriving doc computes its own MinHash signature in one native pass,
  * explodes 8 band rows, and probes the index; the BATCH side is
  * broadcast (micro-batches are small next to the corpus — opposite of
  * the decontamination case, where the static side is the small one).
  * Candidates are then exact-verified with the sorted-shingle merge
  * scan, and the anti-join admits clean docs. No cross-batch Spark
  * state: the stream-vs-CORPUS decision is per-row, so state lives in
  * the (append-only) corpus index, not the state store.
  *
  * Recall is the banding curve of 8×4 MinHash (≈ 1 at j ≥ 0.9, where
  * real near-dups live — [[Dedup.minhashLsh]]'s oracle note).
  */
object StreamDedup {

  val jaccardMin = 0.6

  /** Static corpus index: LSH band rows + exact-verify sides. */
  final case class CorpusIndex(bands: DataFrame, sides: DataFrame)

  /** Build the index of a (doc_id, text) corpus. The caller owns
    * persisting it (it is reused by every micro-batch).
    */
  def index(corpus: DataFrame): CorpusIndex = {
    val signedCorpus = Dedup.signed(corpus)
    CorpusIndex(
      bands = Dedup.bandRows(signedCorpus)
        .withColumnRenamed("doc_id", "corpus_doc"),
      sides = signedCorpus
        .select(col("doc_id").as("corpus_doc"),
          col("hs").as("hc"), col("n").as("nc")))
  }

  /** Verified near-dup matches of a (micro-)batch against the corpus:
    * (doc_id, corpus_doc, jaccard ≥ threshold).
    */
  def matches(docs: DataFrame, idx: CorpusIndex): DataFrame = {
    val signedBatch = Dedup.signed(docs)
    val cand = idx.bands
      .join(broadcast(Dedup.bandRows(signedBatch)), Seq("band", "band_key"))
      .select(col("doc_id"), col("corpus_doc"))
      .distinct()
    val inter = graft.functions.HashFunctions
      .sorted_intersect_count(col("hs"), col("hc")).cast("double")
    cand
      .join(broadcast(signedBatch.select(col("doc_id"), col("hs"), col("n"))), Seq("doc_id"))
      .join(idx.sides, Seq("corpus_doc"))
      .withColumn("jaccard", round(inter / (col("n") + col("nc") - inter), 4))
      .filter(col("jaccard") >= jaccardMin)
      .select(col("doc_id"), col("corpus_doc"), col("jaccard"))
  }

  /** The admitted (novel) documents of a (micro-)batch. */
  def clean(docs: DataFrame, idx: CorpusIndex): DataFrame =
    docs.join(matches(docs, idx).select("doc_id").distinct(),
      Seq("doc_id"), "left_anti")

  /** Start the streaming filter: per micro-batch, only documents with
    * no corpus near-dup reach `sink`. (Admitted docs do NOT join the
    * index mid-stream — the index is a static snapshot; refreshing it
    * per deploy is the corpus-growth story, matching how large corpora
    * actually version.)
    */
  def start(docs: DataFrame, idx: CorpusIndex, checkpoint: String)(
      sink: (DataFrame, Long) => Unit): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch((batch: DataFrame, batchId: Long) =>
        sink(clean(batch, idx), batchId))
      .start()

  /** Batch twin for the oracle gate: odd doc_ids play the stream, even
    * doc_ids the static corpus.
    */
  def cleanCorpus(spark: SparkSession, sfDir: String): DataFrame = {
    val all = Tables.table(spark, sfDir, "documents")
    val idx = index(all.filter(col("doc_id") % 2 === 0))
    clean(all.filter(col("doc_id") % 2 === 1), idx)
      .select(col("doc_id"), length(col("text")).as("text_len"))
  }

  /** DuckDB twin: odd docs with no even near-dup at the threshold
    * (ground-truth pairwise Jaccard — banding recall ≈ 1 in the regime
    * where true pairs live, so a divergence is a bug, not noise).
    */
  val cleanCorpusSql: String = {
    val head = "WITH " + Dedup.shinglesSqlCte
    val rest = s"""
      |SELECT d.doc_id, CAST(length(d.text) AS INTEGER) AS text_len
      |FROM documents d
      |WHERE d.doc_id % 2 = 1
      |  AND NOT EXISTS (
      |    SELECT 1 FROM sh a, sh b
      |    WHERE a.doc_id = d.doc_id AND b.doc_id % 2 = 0
      |      AND round(len(list_intersect(a.s, b.s))::DOUBLE
      |                / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 4)
      |          >= $jaccardMin)
      |ORDER BY d.doc_id""".stripMargin
    head + rest
  }
}
