package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.util.sketch.BloomFilter

import graft.Tables
import graft.functions.BloomFunctions.bloom_might_contain

/** Streaming decontamination against a STATIC benchmark corpus — the
  * streaming twin of [[Dedup.decontaminate]]: documents arrive on a
  * stream and are admitted to the training set only if they share fewer
  * than [[Dedup.minSharedShingles]] distinct 3-gram shingles with every
  * benchmark document.
  *
  * Shape: the static side is a pre-exploded (shingle, bench_doc)
  * inventory — small relative to the training corpus (benchmarks are
  * curated sets), so Spark broadcasts it and the stream side never
  * shuffles; each arriving doc explodes its own shingles, hash-joins
  * the inventory, and is scored batch-locally. A document is complete
  * within its row, so the per-(doc, bench) count is a micro-batch-local
  * aggregation inside `foreachBatch` — NO cross-batch state, which is
  * what keeps this runnable forever (a watermarked stateful agg would
  * hold every (doc, bench) pair in the state store for the watermark
  * horizon for no benefit).
  *
  * At 100 TB of arriving docs the cost is O(matching shingles) per
  * batch — identical to the batch op. Each micro-batch is its own
  * action, and broadcast exchanges are NOT reused across actions:
  * [[start]] therefore localCheckpoints the inventory once for the
  * stream's lifetime, so per-batch cost is the broadcast build over
  * materialized blocks, not a re-scan + re-shingle of the benchmark
  * corpus (blocks are reclaimed by the ContextCleaner when the query's
  * plans become unreachable).
  */
object StreamDecon {

  /** Static-side inventory: one (shingle, bench_doc) row per distinct
    * shingle of each benchmark document (every 50th doc, as in the
    * batch op).
    */
  def benchmarkShingles(spark: SparkSession, sfDir: String): DataFrame =
    Tables.table(spark, sfDir, "documents")
      .filter(col("doc_id") % 50 === 0)
      .select(explode(Dedup.shingles(Text.tokens(col("text")))).as("s"),
        col("doc_id").as("bench_doc"))

  /** Contamination scores for a (micro-)batch of documents — the exact
    * [[Dedup.decontaminate]] output shape: (train_doc, bench_doc,
    * n_shared ≥ threshold). Shingles are distinct per doc
    * (WordShingles), so count(*) per pair IS the shared-shingle count.
    *
    * `bloom`, when given, prunes the batch-side shingle explode before
    * the join (build it ONCE with [[Dedup.shingleBloom]], not per
    * batch): false positives probe the exact join and miss, so the
    * output is identical — the filter only spares the non-matching
    * ~99% the hash probe.
    */
  def scores(docs: DataFrame, bench: DataFrame,
      bloom: Option[BloomFilter] = None): DataFrame =
    docs
      .select(col("doc_id").as("train_doc"),
        explode(Dedup.shingles(Text.tokens(col("text")))).as("s"))
      .transform(d => bloom.fold(d)(bf => d.filter(bloom_might_contain(col("s"), bf))))
      .join(broadcast(bench), Seq("s"))
      .groupBy(col("train_doc"), col("bench_doc"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= Dedup.minSharedShingles)

  /** The admitted documents of a (micro-)batch: everything not
    * contaminated — an anti-join of the batch against its own scored
    * set (both sides of the anti are batch-local, so it stays a local
    * hash join).
    */
  def clean(docs: DataFrame, bench: DataFrame,
      bloom: Option[BloomFilter] = None): DataFrame =
    docs.join(
      scores(docs, bench, bloom).select(col("train_doc").as("doc_id")).distinct(),
      Seq("doc_id"), "left_anti")

  /** Start the streaming filter: every micro-batch of `docs` is scored
    * against the static inventory and only clean documents reach
    * `sink`. Checkpointed like any sink — replays re-admit the same
    * docs (scoring is deterministic), so downstream idempotence is the
    * usual upsert story.
    */
  def start(docs: DataFrame, bench: DataFrame, checkpoint: String)(
      sink: (DataFrame, Long) => Unit): StreamingQuery = {
    // materialize the inventory ONCE for the stream's lifetime: the
    // Bloom sizing count, the Bloom build, and every micro-batch's
    // broadcast side all read the checkpointed blocks instead of
    // re-scanning + re-shingling the benchmark corpus per action
    val inv = bench.localCheckpoint()
    // one driver-side Bloom build for the whole stream's lifetime —
    // every micro-batch reuses it as its scan-side prune
    val bloom = Some(Dedup.shingleBloom(inv))
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch((batch: DataFrame, batchId: Long) =>
        sink(clean(batch, inv, bloom), batchId))
      .start()
  }

  /** Batch twin for the oracle gate: the full train split (non-bench
    * docs) pushed through the same [[clean]] used per micro-batch.
    */
  def cleanCorpus(spark: SparkSession, sfDir: String): DataFrame = {
    val train = Tables.table(spark, sfDir, "documents")
      .filter(col("doc_id") % 50 =!= 0)
    // materialized once for its three consumers (sizing count, Bloom
    // build, broadcast join side) — mirrors Dedup.decontaminate
    val bench = benchmarkShingles(spark, sfDir).localCheckpoint()
    clean(train, bench, Some(Dedup.shingleBloom(bench)))
      .select(col("doc_id"), length(col("text")).as("text_len"))
  }

  /** DuckDB twin: train docs with NO benchmark doc sharing ≥ threshold
    * distinct shingles.
    */
  val cleanCorpusSql: String = {
    val head = "WITH " + Dedup.shinglesSqlCte
    val rest = s"""
      |SELECT d.doc_id, CAST(length(d.text) AS INTEGER) AS text_len
      |FROM documents d
      |WHERE d.doc_id % 50 <> 0
      |  AND NOT EXISTS (
      |    SELECT 1 FROM sh a, sh b
      |    WHERE a.doc_id = d.doc_id AND b.doc_id % 50 = 0
      |      AND len(list_intersect(a.s, b.s)) >= ${Dedup.minSharedShingles})
      |ORDER BY d.doc_id""".stripMargin
    head + rest
  }
}
