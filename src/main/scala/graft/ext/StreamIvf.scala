package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.io.ParquetUpsertSink

/** Streaming IVF index maintenance — the streaming twin of
  * [[Similarity.annIvf]]: new embedding vectors arrive on a stream,
  * each micro-batch is assigned to its nearest coarse-quantizer
  * centroid ([[Similarity.assignNearest]] — the SAME assignment the
  * batch index uses, so the two can never drift) and upserted with its
  * int8 ADC payload into a cent_id-partitioned [[ParquetUpsertSink]]
  * table. The coarse quantizer itself stays FIXED between index
  * rebuilds — standard IVF practice (re-fitting centroids is the
  * periodic batch job; an index whose cells move under its readers
  * answers nothing consistently).
  *
  * Index-consistency caveat (Hudi's non-global-index semantics, same
  * tradeoff): the upsert resolves record keys WITHIN a partition, so a
  * re-ingested vector whose embedding moved far enough to change its
  * nearest centroid writes its new cell but does not erase its row in
  * the old one — the key-to-cell lookup that global erasure needs is a
  * corpus-scale index of its own. The common refresh (same cell, new
  * payload) resolves exactly; callers that re-embed whole corpora
  * rebuild the index (the batch path) rather than streaming moves.
  *
  * Scale shape: per micro-batch the centroid set (k rows — metadata
  * scale) is broadcast, assignment is one map-side pass over the batch,
  * and the upsert rewrites only the partitions (= IVF cells) the batch
  * touches. Search probes read only their query's cell DIRECTORY —
  * partition pruning on cent_id, so a 100 TB index answers an nprobe=1
  * query by scanning one cell, exactly like the batch [[Similarity.annIvf]]
  * layout. Replayed batches re-upsert the same (vec_id, seq) rows
  * idempotently — at-least-once delivery degrades to the sink's
  * documented idempotent rewrite.
  */
object StreamIvf {

  /** Index rows of a (vec_id, embedding) vector set against the fixed
    * centroid table: cell assignment + the int8 ADC payload
    * ([[Similarity.int8Scale]]/[[Similarity.int8Codes]] — the shared
    * quantization recipe) + the float embedding for exact rerank.
    * `seq` is the precombine version (the micro-batch id): on key
    * collision the upsert keeps the highest, so a re-ingested vector
    * resolves to its newest embedding.
    */
  def indexRows(vectors: DataFrame, cents: DataFrame, seq: Long): DataFrame =
    Similarity.assignNearest(vectors, cents, keepEmbedding = true)
      .select(col("vec_id"), col("cent_id"), col("embedding"))
      .withColumn("scale", Similarity.int8Scale(col("embedding")))
      .filter(col("scale") > 0) // an all-zero vector has nothing to index
      .withColumn("q", Similarity.int8Codes(col("embedding"), col("scale")))
      .withColumn("seq", lit(seq))

  /** The index table's sink: record key vec_id, precombine seq,
    * partitioned by IVF cell.
    */
  def sink(path: String, keepVersions: Int = 1): ParquetUpsertSink =
    ParquetUpsertSink(path, recordKeys = Seq("vec_id"), precombine = "seq",
      partitionCol = "cent_id", keepVersions = keepVersions)

  /** Start maintaining the index from a stream of (vec_id, embedding)
    * rows: per micro-batch, assign + quantize + upsert the touched
    * cells.
    */
  def start(vectors: DataFrame, cents: DataFrame, path: String,
      checkpoint: String): StreamingQuery = {
    val s = sink(path)
    vectors.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // batch-0 stale-run guard (the DeltaStore operators' fail-fast,
        // adapted to the precombine): seq IS the batch id, so a fresh
        // checkpoint restarted against an index a previous run built
        // would hand out LOW seqs that silently LOSE to the dead run's
        // rows — re-embedded vectors would serve stale embeddings
        // forever. Rows with seq > 0 can only come from a run that
        // progressed past batch 0 (a legitimate same-run replay of
        // batch 0 leaves only seq=0 rows), so their presence at batch 0
        // is proof of a dir/checkpoint mismatch.
        if (batchId == 0L) {
          val maxSeq = scala.util.Try(
            readIndex(batch.sparkSession, path)
              .agg(org.apache.spark.sql.functions.max(col("seq"))).head.getLong(0))
            .getOrElse(0L)
          require(maxSeq <= 0L,
            s"$path holds index rows from a previous run (max seq $maxSeq) " +
              "but the stream restarted at batch 0 (fresh checkpoint?) — " +
              "use a fresh index path or keep path and checkpoint together")
        }
        s.upsert(indexRows(batch, cents, batchId), batchId)
      }
      .start()
  }

  /** Read the maintained index back (partition-pruning-friendly: filter
    * on cent_id before anything else and only those cell directories
    * are listed). The partition column is directory-inferred — pin it
    * back to the centroid ids' long type.
    */
  def readIndex(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path).withColumn("cent_id", col("cent_id").cast("long"))

  /** Exact cell-probed top-k over the maintained index —
    * [[Similarity.annIvf]]'s search shape (nprobe = 1): assign each
    * query to its cell with the same quantizer, join only that cell's
    * rows, exact float cosine, top-k with the standard tie-break.
    */
  def search(index: DataFrame, queryVecs: DataFrame, cents: DataFrame,
      k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val queries = Similarity.assignNearest(queryVecs, cents, keepEmbedding = true)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"), col("cent_id"))
    val scored = index.join(broadcast(queries), Seq("cent_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("sim", round(Similarity.cosine(col("qv"), col("embedding")), 4))
    val w = Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("sim"), col("rank"))
  }

  /** Rebuilt-vs-maintained index equivalence, as an oracle-checked
    * query: the embeddings corpus arrives as TWO cell-parity
    * micro-batch slices upserted one at a time into a fresh sink
    * table, followed by an at-least-once REPLAY of one slice and a
    * higher-seq REFRESH of the other (the two degenerate deliveries a
    * streaming maintainer must absorb); the maintained index is then
    * searched with the standard nprobe=1 probe. The oracle is
    * [[Similarity.annIvfSql]] — the batch-REBUILT index's search
    * semantics — so a hash match IS the proof that incremental
    * maintenance converges to the rebuild, the same equivalence the
    * engine proves for aggregates (IncrementalAgg) and the funnel
    * (StreamFunnel).
    *
    * Scale shape: each upsert touches only the IVF cells present in
    * its batch (partition-pruned rewrite), the centroid set is
    * broadcast metadata, and the search reads only the probed cell
    * directories — nothing here is corpus²  at any stage.
    */
  def annIvfIncremental(spark: SparkSession, sfDir: String): DataFrame =
    incrementalScenario(spark, sfDir, "graft_ivf_inc",
      mkSink = path => sink(path),
      readBack = (spark, path, _) => readIndex(spark, path))

  /** The COW/MOR-shared scenario body: one definition of the slice
    * recipe, replay/refresh choreography and search, so the two gates
    * can never silently prove different things.
    *
    * Two ingest slices suffice for every maintenance guarantee the
    * query proves (multi-batch build, idempotent replay, precombine
    * refresh). Slices cut on CELL parity, not vector id: a vector-id
    * slice touches every cell dir every commit (uniform spread), so
    * each upsert rewrote the whole index; cell-parity slices touch
    * half the dirs per commit — the realistic shape (a batch clusters
    * into SOME cells) and half the small-file I/O, same final table.
    * Both slices localCheckpoint once: each feeds two commits (ingest
    * plus replay/refresh), and unmaterialized they re-ran the
    * full-corpus assignNearest + quantization per commit — the
    * dominant cost of the benched query, paid twice for rows the sink
    * semantics (not recomputation) are meant to exercise.
    */
  private def incrementalScenario(spark: SparkSession, sfDir: String,
      tmpPrefix: String, mkSink: String => ParquetUpsertSink,
      readBack: (SparkSession, String, ParquetUpsertSink) => DataFrame): DataFrame = {
    val emb = graft.Tables.table(spark, sfDir, "embeddings")
    val centroids = emb.filter(col("vec_id") % 25 === 0)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cv"))
    val path = java.nio.file.Files.createTempDirectory(tmpPrefix).toString
    val s = mkSink(path)
    // ONE full-corpus assign+quantize pass, checkpointed, then two
    // parity filters over the materialized rows — the r20 profile
    // showed the previous per-slice mkSlice running assignNearest +
    // int8 quantization over the WHOLE corpus twice (once per slice,
    // each filter discarding half), doubling the slice build for no
    // semantic difference: same rows, same split, same seqs.
    val rows = indexRows(emb, centroids, seq = 0L).localCheckpoint(true)
    val slice0 = rows.filter(pmod(col("cent_id"), lit(2)) === 0)
    val slice1 = rows.filter(pmod(col("cent_id"), lit(2)) === 1)
      .withColumn("seq", lit(1L))
    s.upsert(slice0, batchId = 0L)
    s.upsert(slice1, batchId = 1L)
    // at-least-once replay of slice 1 (same seq — idempotent rewrite) …
    s.upsert(slice1, batchId = 2L)
    // … and a refresh of slice 0 at a higher seq (precombine keeps it;
    // payload unchanged, so the search output stays the rebuilt index's)
    s.upsert(slice0.withColumn("seq", lit(5L)), batchId = 3L)
    val queries = emb.filter(col("vec_id") % 100 === 0)
    search(readBack(spark, path, s), queries, centroids, k = 5)
  }

  /** The MERGE-ON-READ twin of [[annIvfIncremental]]: identical ingest
    * slices, replay, and refresh, but every upsert lands as an O(delta)
    * delta-commit APPEND instead of a copy-on-write rewrite of the
    * touched cells, and the search probes the REAL-TIME view (base ∪
    * deltas merged on read) with no compaction in between. Same oracle
    * as the COW twin — a hash match proves the cheap write path serves
    * the identical index. This is the steady-state shape for a
    * high-ingest ANN index at 100 TB: deltas absorb the stream,
    * compaction folds on its own cadence, and the quadruple-rewrite
    * cost the COW twin pays per round becomes one parquet append per
    * batch.
    */
  def annIvfIncrementalMor(spark: SparkSession, sfDir: String): DataFrame =
    incrementalScenario(spark, sfDir, "graft_ivf_mor",
      mkSink = path => ParquetUpsertSink(path, recordKeys = Seq("vec_id"),
        precombine = "seq", partitionCol = "cent_id",
        writeMode = ParquetUpsertSink.ModeMor),
      readBack = (spark, _, s) =>
        s.readMor(spark).withColumn("cent_id", col("cent_id").cast("long")))
}
