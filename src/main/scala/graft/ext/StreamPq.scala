package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming PQ index maintenance WITH in-loop drift healing — the
  * closure of the [[PqDrift]] story (r19 judge task #5). [[StreamIvf]]
  * maintains cell assignments per micro-batch but encodes PQ codes
  * nowhere; a pipeline that streams vectors into a PQ index encodes
  * each batch against the CURRENT codebook, which goes stale exactly
  * as [[PqDrift]] describes — and before this object, the only healer
  * was the MANUAL `CALL graft.system.maintain_pq`, so drifted ingest
  * served decayed recall until an operator noticed.
  *
  * [[processBatch]] is the per-batch maintenance body: resolve the
  * current (codes, codebook) version under the index ROOT
  * ([[PqDrift.currentVersion]] — the same resolver serving reads),
  * append the batch to the vectors table, encode + upsert its codes
  * through the commit path, then run the residual-displacement
  * trigger (one partial-agged pass to 4×k driver rows — metadata
  * scale, cheap enough for EVERY batch); above threshold, retrain
  * into the next version through [[PqDrift.maintain]]'s commit path.
  * The next batch — and any concurrent reader — picks up the new
  * version through the resolver, no rebuild, no operator.
  *
  * Delivery caveats (documented, not silent): the vectors table is a
  * plain append log here — an at-least-once REPLAY of a batch
  * re-appends its vectors, weighting the trigger's means toward the
  * replayed slice (the code-table upsert itself stays idempotent via
  * the precombine). Production pipelines whose upstream corpus table
  * is itself an upsert table point `vecPath` at that table instead.
  *
  * Scale shape: per batch — one broadcast of the 4×k×subDim codebook,
  * one map pass over the batch, one partition-pruned upsert, one
  * partial agg for the trigger; a triggered retrain is [[PqDrift.maintain]]'s
  * broadcast-join re-encode. Nothing corpus² anywhere.
  */
object StreamPq {

  /** One micro-batch of maintenance; returns (servingVersion,
    * triggered, max displacement) after the batch.
    */
  def processBatch(spark: SparkSession, root: String, vecPath: String,
      batch: DataFrame, batchId: Long, threshold: Double): (Int, Boolean, Double) = {
    val v = PqDrift.currentVersion(spark, root).getOrElse(
      throw new IllegalStateException(
        s"StreamPq: no committed PQ index version under $root — seed v0 " +
          "(trained codebook + base codes) before streaming into it"))
    val path = PqDrift.versionPath(root, v)
    val cents = PqDrift.readCodebook(spark, path)
    batch.write.mode("append").parquet(vecPath)
    PqDrift.sink(path).upsert(
      PqDrift.codeRows(batch, cents, seq = batchId + 1), batchId)
    // fused trigger + retrain (r21): one (subvectors ⋈ codes) means
    // pass serves both the displacement check and, on fire, the
    // retrained codebook — [[PqDrift.maintain]]
    val (fired, disp) = PqDrift.maintain(spark, path, vecPath,
      PqDrift.versionPath(root, v + 1), threshold)
    (if (fired) v + 1 else v, fired, disp)
  }

  /** Start maintaining the index from a stream of (vec_id, embedding)
    * rows: per micro-batch, [[processBatch]] with the fixed threshold.
    */
  def start(vectors: DataFrame, root: String, vecPath: String,
      checkpoint: String,
      threshold: Double = PqDrift.PqDriftThreshold): StreamingQuery =
    vectors.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch.sparkSession, root, vecPath, batch, batchId, threshold)
        ()
      }
      .start()

  /** The oracle-gated in-loop drift-healing scenario
    * (`x_ann_pq_incremental`): the [[PqDrift.annPqDrift]] corpus
    * geometry, but the drifted slice arrives as TWO micro-batches
    * through a real Structured Streaming query (file source,
    * maxFilesPerTrigger = 1) running [[processBatch]]:
    *
    *  - v0 seeded: codebook trained on the base corpus
    *    ([[PqDrift.trainRounds]] Lloyd rounds), base codes through the
    *    commit path, base vectors in the vectors table;
    *  - batch 0: first drifted half, ENCODED STALE (what a streaming
    *    encoder does) — the in-loop trigger must FIRE and retrain into
    *    v1 inside the foreachBatch, with no operator CALL;
    *  - batch 1: second drifted half, encoded against the retrained v1
    *    codebook — and the trigger FIRES AGAIN (measured sf0.01:
    *    displacement 0.17 over the 0.08 threshold): one assign-fixed
    *    retrain over a HALF-drifted corpus moves each entry only
    *    partway toward the shifted clusters, so sustained drifted
    *    ingest keeps re-firing until the codebook catches up — the
    *    intended steady-state behavior of a per-batch maintainer, not
    *    a defect. v2 is the final serving pair.
    *
    * Output: pure-ADC recall@5 against exact inner-product truth over
    * the full final corpus, for the LIVE resolved pair (v2 codebook,
    * complete codes) vs the FROZEN v0 pair as it stood when
    * superseded (stale codebook, missing batch 1 entirely) — the
    * recall the pipeline would have kept serving without the in-loop
    * healer. The DuckDB twin replays training, both ingest batches,
    * BOTH mid-stream retrain boundaries, both searches, and the
    * recall arithmetic; the require()s pin the trigger choreography
    * (v0 → fire at batch 0 → v1 → fire at batch 1 → v2).
    */
  def annPqIncremental(spark0: SparkSession, sfDir: String): DataFrame = {
    val spark = graft.GraftSession.cloned(spark0, graft.GraftSession.NarrowShuffle)
    val (base, drifted0) = Quantizer.driftSlices(spark, sfDir)
    val cents = PqDrift.trainedCodebook(base)
    val root = java.nio.file.Files.createTempDirectory("graft_pq_inc").toString
    val path0 = PqDrift.versionPath(root, 0)
    val vecPath = s"$root/vectors"; val inDir = s"$root/stream_in"
    val ckpt = s"$root/ckpt"
    PqDrift.writeCodebook(cents, path0)
    PqDrift.sink(path0).upsert(PqDrift.codeRows(base, cents, seq = 0L), batchId = 0L)
    base.write.mode("overwrite").parquet(vecPath)
    require(PqDrift.currentVersion(spark, root).contains(0),
      s"resolver must serve v0 pre-stream, got ${PqDrift.currentVersion(spark, root)}")
    // the drifted ingest (the drift gates' label-axis shift), split
    // into two files = two micro-batches under maxFilesPerTrigger=1
    // (drifted vec_ids are ≡ 9 mod 12, so a mod-2 split would be
    // degenerate; mod-24 cuts them in half)
    val drifted = drifted0.localCheckpoint(true)
    drifted.filter(col("vec_id") % 24 === 9).coalesce(1).write.parquet(inDir)
    drifted.filter(col("vec_id") % 24 === 21).coalesce(1)
      .write.mode("append").parquet(inDir)
    // the in-loop choreography record: (batchId, versionAfter, fired)
    val log = new java.util.concurrent.ConcurrentHashMap[Long, (Int, Boolean, Double)]()
    val stream = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("vec_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("embedding",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.FloatType)))))
      .option("maxFilesPerTrigger", "1").parquet(inDir)
    val q = stream.writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: DataFrame, id: Long) =>
        log.put(id, processBatch(b.sparkSession, root, vecPath, b, id,
          PqDrift.PqDriftThreshold))
        ()
      }
      .start()
    try q.processAllAvailable() finally scala.util.Try(q.stop())
    q.exception.foreach(e => throw e)
    // the pinned choreography: stale-encoded batch 0 fires the in-loop
    // trigger and heals into v1; batch 1's sustained drift re-fires
    // (the half-retrained codebook is still behind) and heals into v2
    require(log.containsKey(0L) && log.containsKey(1L),
      s"expected exactly batches 0 and 1, got ${log.keySet()}")
    val (v0After, fired0, disp0) = log.get(0L)
    val (v1After, fired1, disp1) = log.get(1L)
    require(fired0 && v0After == 1 && disp0 > PqDrift.PqDriftThreshold,
      f"batch 0's stale-encoded drift must fire the in-loop trigger " +
        f"(fired=$fired0, version=$v0After, disp=$disp0%.4f)")
    require(fired1 && v1After == 2 && disp1 > PqDrift.PqDriftThreshold,
      f"batch 1's sustained drift must re-fire against the half-caught-up " +
        f"codebook (fired=$fired1, version=$v1After, disp=$disp1%.4f)")
    require(PqDrift.currentVersion(spark, root).contains(2),
      s"resolver must serve v2 post-stream, got ${PqDrift.currentVersion(spark, root)}")
    System.err.println(f"[pq-inc] batch0=$disp0%.4f batch1=$disp1%.4f " +
      f"threshold=${PqDrift.PqDriftThreshold}%.2f")
    // final corpus + exact-IP truth; both searches pure-ADC (the
    // PqDrift metric: codebook quality, unmasked by a rerank)
    val corpus = spark.read.parquet(vecPath)
    val queries = corpus.filter(col("vec_id") % 15 === 0)
    val querySubs = Similarity.pqSubvectors(queries, "vec_id")
      .withColumnRenamed("vec_id", "query_id")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val truth = Quantizer.exactTop5(corpus, queries, Similarity.dot)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nTruth = truth.count()
    def hitsOf(cs: DataFrame, codes: DataFrame): Long =
      Quantizer.hits(truth, PqDrift.adcTop5(querySubs, cs, codes))
    val (liveCodes, liveCents) = PqDrift.currentPair(spark, root)
    val liveHits = hitsOf(liveCents, liveCodes)
    val frozenHits = hitsOf(cents, PqDrift.readCodes(spark, path0))
    require(liveHits >= frozenHits,
      s"in-loop healing must not lose recall vs the frozen v0 pair " +
        s"($liveHits vs $frozenHits of $nTruth)")
    truth.unpersist(); querySubs.unpersist()
    Quantizer.recallRows(spark, "regime", nTruth,
      "retrained_live" -> liveHits, "stale_frozen" -> frozenHits)
  }

  /** DuckDB twin of [[annPqIncremental]] — the training chain, the
    * two-batch ingest with the mid-stream retrain boundary after
    * batch 0, both pure-ADC searches, recall arithmetic. Built from
    * [[PqDrift]]'s shared CTE builders.
    */
  val annPqIncrementalSql: String = {
    val R = PqDrift.trainRounds
    Quantizer.driftCorpusSql +
    "b1 AS (SELECT * FROM drift WHERE vec_id % 24 = 9),\n" +
    "b2 AS (SELECT * FROM drift WHERE vec_id % 24 = 21),\n" +
    // v0's codebook: trainRounds Lloyd rounds on the BASE subvectors
    PqDrift.sqlTrainedCodebook +
    PqDrift.sqlSub("b1sub", "b1", "vec_id") + ",\n" +
    PqDrift.sqlSub("b2sub", "b2", "vec_id") + ",\n" +
    PqDrift.sqlSub("csub", "corpus", "vec_id") + ",\n" +
    // v0 as superseded: base codes + batch-0 half encoded STALE
    Quantizer.assignSql(Quantizer.Product, "kb", "bsub", s"cent$R") + ",\n" +
    Quantizer.assignSql(Quantizer.Product, "k1", "b1sub", s"cent$R") + ",\n" +
    "codes0 AS (SELECT vec_id, sub_id, cent_id AS code, sv FROM kb\n" +
    "           UNION ALL SELECT vec_id, sub_id, cent_id, sv FROM k1),\n" +
    // retrain 1 at the batch-0 boundary: assign half = the stored
    // codes over (base ∪ b1), update half = per-(sub, code) means;
    // re-encode (base ∪ b1) with the v1 codebook
    PqDrift.sqlCodeMeans("centR1", "codes0") + ",\n" +
    PqDrift.sqlSub("v1sub", "(SELECT * FROM base UNION ALL SELECT * FROM b1) u1",
      "vec_id") + ",\n" +
    Quantizer.assignSql(Quantizer.Product, "kr1", "v1sub", "centR1") + ",\n" +
    // batch 1 encoded against the v1 codebook — sustained drift
    // re-fires, so retrain 2 folds the full corpus into v2
    Quantizer.assignSql(Quantizer.Product, "k2", "b2sub", "centR1") + ",\n" +
    "codes1 AS (SELECT vec_id, sub_id, cent_id AS code, sv FROM kr1\n" +
    "           UNION ALL SELECT vec_id, sub_id, cent_id, sv FROM k2),\n" +
    PqDrift.sqlCodeMeans("centR2", "codes1") + ",\n" +
    Quantizer.assignSql(Quantizer.Product, "krL", "csub", "centR2") + ",\n" +
    "codesL AS (SELECT vec_id, sub_id, cent_id AS code FROM krL),\n" +
    "codesF AS (SELECT vec_id, sub_id, code FROM codes0),\n" +
    "q AS (SELECT vec_id AS query_id, embedding AS qv FROM corpus WHERE vec_id % 15 = 0),\n" +
    PqDrift.sqlSub("qsub", "(SELECT query_id AS vec_id, qv AS embedding FROM q) qq",
      "query_id") + ",\n" +
    Quantizer.truthSql(PqDrift.sqlDot) + ",\n" +
    PqDrift.sqlAdcSearch("sL", "codesL", "centR2") + ",\n" +
    PqDrift.sqlAdcSearch("sF", "codesF", s"cent$R") + "\n" +
    Quantizer.sqlRecallRows("retrained_live", "sL", "stale_frozen", "sF", "regime")
  }
}
