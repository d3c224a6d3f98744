package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.Tables
import graft.io.ParquetUpsertSink

/** The composed streaming ingest path of a training-data corpus:
  * quality gate → near-dup admission against the static corpus →
  * PII redaction → token accounting → keyed upsert into the lakehouse
  * table. Each stage exists as a standalone operator; this module is
  * the composition a real pipeline actually deploys, end to end.
  *
  * Scale shape: every stage is per-row codegen'd work EXCEPT the dedup
  * probe, which is the [[StreamDedup]] broadcast-probe join against
  * the (persisted, band-bucketed) corpus index — micro-batches never
  * shuffle the corpus. The sink write is the only stateful step, and
  * its precombine-by-sequence semantics make batch replays idempotent
  * (exactly-once tables over at-least-once delivery).
  */
object CorpusIngest {

  /** Composite-quality admission threshold — the corpus median is
    * ~0.51, so the gate is a real cut, not a pass-through.
    */
  val qualityMin = 0.5

  /** One micro-batch (or the whole batch twin) through the full
    * cleaning path. Emits the cleaned, accounted rows ready for the
    * sink: (doc_id, lang, quality, bpe_tokens, clean_text, clean_fp).
    */
  def cleanBatch(docs: DataFrame, idx: StreamDedup.CorpusIndex): DataFrame = {
    val admitted = StreamDedup.clean(
      docs
        .withColumn("quality", Text.qualityScore(Text.tokens(col("text"))))
        .filter(col("quality") >= qualityMin),
      idx)
    val cleanText = regexp_replace(col("text"), "[0-9]+", "<NUM>")
    admitted.select(
      col("doc_id"), col("lang"), col("quality"),
      Text.bpeTokenEstimate(col("text")).as("bpe_tokens"),
      md5(cleanText.cast("binary")).as("clean_fp"))
  }

  /** The cleaned-corpus table's sink: record key doc_id, precombine by
    * micro-batch sequence, partitioned by language.
    */
  def sink(path: String): ParquetUpsertSink =
    ParquetUpsertSink(path, recordKeys = Seq("doc_id"), precombine = "seq",
      partitionCol = "lang")

  /** Start the streaming ingest: per micro-batch, quality-gated,
    * dedup-admitted, redacted rows upsert into the sink keyed on
    * doc_id with the batch id as the precombine sequence — replaying a
    * micro-batch after a failure converges to the same table.
    */
  def start(docs: DataFrame, idx: StreamDedup.CorpusIndex,
      path: String, checkpoint: String): StreamingQuery = {
    val s = sink(path)
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val rows = cleanBatch(batch, idx).withColumn("seq", lit(batchId))
        if (!rows.isEmpty) s.upsert(rows, batchId)
      }
      .start()
  }

  /** Batch twin for the oracle gate: odd doc_ids play the stream,
    * even doc_ids the already-ingested corpus (the [[StreamDedup]]
    * split convention).
    */
  def ingest(spark: SparkSession, sfDir: String): DataFrame = {
    val all = Tables.table(spark, sfDir, "documents")
    val idx = StreamDedup.index(all.filter(col("doc_id") % 2 === 0))
    cleanBatch(all.filter(col("doc_id") % 2 === 1), idx)
  }

  /** DuckDB twin: the composed predicate — quality gate, no even
    * near-dup at the Jaccard threshold — plus the redaction
    * fingerprint and subword accounting, each mirroring its
    * standalone operator's oracle.
    */
  val ingestSql: String = {
    val head = "WITH " + Dedup.shinglesSqlCte
    val rest = s"""
      |SELECT d.doc_id, d.lang,
      |       ${Text.qualityScoreSql} AS quality,
      |       CAST(${Text.bpeTokenEstimateSql} AS BIGINT) AS bpe_tokens,
      |       md5(regexp_replace(text, '[0-9]+', '<NUM>', 'g')) AS clean_fp
      |FROM documents d
      |WHERE d.doc_id % 2 = 1
      |  AND ${Text.qualityScoreSql} >= $qualityMin
      |  AND NOT EXISTS (
      |    SELECT 1 FROM sh a, sh b
      |    WHERE a.doc_id = d.doc_id AND b.doc_id % 2 = 0
      |      AND round(len(list_intersect(a.s, b.s))::DOUBLE
      |                / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 4)
      |          >= ${StreamDedup.jaccardMin})
      |ORDER BY d.doc_id""".stripMargin
    head + rest
  }
}
