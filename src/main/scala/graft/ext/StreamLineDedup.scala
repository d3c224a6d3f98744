package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.Tables

/** Incremental line-level dedup over a document stream — the streaming
  * twin of [[Dedup.lineDedup]]. Each micro-batch's documents are
  * cleaned against the accumulated first-occurrence line registry: a
  * line already registered by an earlier batch is cut wherever it
  * re-appears; within the batch, the first occurrence (min doc_id,
  * pos) survives and registers. With doc_id-ordered ingest waves the
  * accumulated output is IDENTICAL to the batch operator's global
  * keep-first — `x_line_dedup_incremental` proves that equivalence
  * against the same DuckDB oracle as `x_line_dedup`.
  *
  * State/replay design (the [[StreamFunnel]] discipline): per batch,
  * one committed delta dir of cleaned docs (`out/b<id>`) and one of
  * newly registered line keys (`lines/b<id>`), both written with
  * overwrite into the batch's own directory, so an at-least-once
  * replay rewrites its own delta byte-identically — the registry a
  * batch cleans against is always "committed keys with bid < this
  * batch", never its own half-written state. [[compactLines]] folds
  * key deltas into a min-bid base (idempotent under crash overlap) so
  * registry state stays one row per distinct line key on unbounded
  * runs.
  *
  * Scale shape per batch: the batch's own segmentation is per-row; the
  * registry probe is one hash join on the 16-byte line key against a
  * store that at 100 TB is bucketed by key (the same order of growth
  * as any dedup index); the rebuild never reshuffles untouched docs.
  */
object StreamLineDedup {

  /** Clean one batch against known line keys: (cleaned docs, newly
    * registered keys). `known` needs one column `lh`.
    */
  def cleanBatch(docs: DataFrame, known: DataFrame): (DataFrame, DataFrame) = {
    val withLines = docs.select(col("doc_id"),
      Dedup.lineSegments(Text.tokens(col("text"))).as("lines"))
    // md5-128 keys shuffle, never line text; two consumers (keeper agg
    // + removal join) — checkpoint to avoid a double explode
    val occ = withLines
      .select(col("doc_id"), posexplode(col("lines")).as(Seq("pos", "line")))
      .select(col("doc_id"), col("pos"), md5(col("line").cast("binary")).as("lh"))
      .localCheckpoint(false)
    val knownKeys = known.select(col("lh")).distinct()
    // ONE registry probe per batch: occK feeds three consumers (keeper
    // agg, removal join, new-key extraction — known.isNull ⇔ the old
    // left_anti), and unmaterialized each re-joined the full committed
    // registry, the relation that at 100 TB is one row per distinct
    // line key in the corpus
    val occK = occ
      .join(knownKeys.withColumn("known", lit(true)), Seq("lh"), "left_outer")
      .localCheckpoint(false)
    // first occurrence per NOVEL line within the batch survives
    val keeper = occK.filter(col("known").isNull)
      .groupBy(col("lh"))
      .agg(min(struct(col("doc_id"), col("pos"))).as("keeper"))
    val removed = occK.join(keeper, Seq("lh"), "left_outer")
      .filter(col("known").isNotNull ||
        !(struct(col("doc_id"), col("pos")) === col("keeper")))
      .select(col("doc_id"), col("pos"))
    val newKeys = occK.filter(col("known").isNull)
      .select(col("lh")).distinct()
    (Dedup.rebuildWithoutLines(withLines, removed), newKeys)
  }

  /** Committed delta dirs (crashed half-writes are invisible). */
  private def committed(root: String): Seq[String] = DeltaStore.committed(root)

  /** Line keys registered by committed batches STRICTLY BEFORE
    * `beforeBatch` — the registry a replaying batch must clean
    * against (its own previous half/full write is excluded, so replay
    * output is deterministic).
    */
  def knownKeys(spark: SparkSession, dir: String, beforeBatch: Long): DataFrame = {
    val dirs = committed(s"$dir/lines")
    if (dirs.isEmpty)
      spark.range(0).select(lit("").as("lh"), lit(0L).as("bid")).select("lh")
    else
      spark.read.parquet(dirs: _*)
        .filter(col("bid") < beforeBatch)
        .select(col("lh"))
  }

  /** One batch: clean against the registry, commit the cleaned-output
    * and new-keys deltas (overwrite = replay-deterministic).
    */
  def ingestBatch(batch: DataFrame, dir: String, batchId: Long): Unit = {
    // BOTH stores checked through the shared guard: the line registry
    // can carry a previous run's compacted base_N even when out/ holds
    // only b0 — the old out-only probe let that dead registry pollute
    // the new run (its keys wrongly cut fresh lines as "known")
    if (batchId == 0L) DeltaStore.requireFreshRun(dir, Seq("out", "lines"))
    val (cleaned, newKeys) = cleanBatch(batch, knownKeys(batch.sparkSession, dir, batchId))
    cleaned.write.mode("overwrite").parquet(s"$dir/out/b$batchId")
    newKeys.withColumn("bid", lit(batchId))
      .write.mode("overwrite").parquet(s"$dir/lines/b$batchId")
  }

  /** Start the streaming cleaner. `compactEvery` > 0 folds the line
    * registry every Nth batch; 0 = never.
    */
  def start(docs: DataFrame, dir: String, checkpoint: String,
      compactEvery: Int = 0): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: java.lang.Long) =>
        ingestBatch(batch, dir, batchId)
        if (compactEvery > 0 && (batchId + 1) % compactEvery == 0)
          compactLines(batch.sparkSession, dir, batchId)
      }
      .start()

  /** Fold the line-key delta store into one min-bid base — bounded
    * registry state for unbounded runs. The fold is the associative
    * min the registry read computes, so clean-before ≡ clean-after;
    * duplicate rows a crash window leaves behind are absorbed by the
    * distinct/min. (Same crash-safety argument as
    * [[StreamFunnel.compactKeys]].)
    */
  def compactLines(spark: SparkSession, dir: String, upToBatch: Long): Unit =
    DeltaStore.compact(spark, s"$dir/lines", upToBatch)(
      _.groupBy(col("lh")).agg(min(col("bid")).as("bid")))

  /** Everything cleaned so far (committed batches; same shape as
    * [[Dedup.lineDedup]]). Empty before the first commit.
    */
  def cleaned(spark: SparkSession, dir: String): DataFrame = {
    val dirs = committed(s"$dir/out")
    if (dirs.isEmpty)
      spark.range(0).select(col("id").as("doc_id"),
        lit(0).as("n_lines"), lit(0).as("n_removed_lines"),
        lit("").as("clean_text"))
    else spark.read.parquet(dirs: _*)
  }

  /** Batch-twin for the oracle gate: the corpus ingested in four
    * doc_id-contiguous waves (with a mid-run registry compaction to
    * exercise the fold on the verified path) must equal the batch
    * operator — and therefore [[Dedup.lineDedupSql]] — exactly.
    */
  def lineDedupIncremental(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.table(spark, sfDir, "documents").select("doc_id", "text")
    val maxId = docs.agg(max(col("doc_id"))).first().getLong(0) // one scalar
    val waves = 4
    val per = maxId / waves + 1
    val dir = java.nio.file.Files.createTempDirectory("graft_linestream").toString
    (0 until waves).foreach { b =>
      ingestBatch(
        docs.filter(col("doc_id") >= b * per && col("doc_id") < (b + 1) * per), dir, b)
      if (b == 1) compactLines(spark, dir, 1)
    }
    cleaned(spark, dir)
  }
}
