package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** IVF centroid DRIFT maintenance — the piece that keeps
  * [[StreamIvf]]'s incremental index honest under sustained ingest.
  * The streaming maintainer assigns new vectors to FIXED centroids
  * (standard IVF practice); when the ingest distribution moves, cells
  * skew, queries land in cells that no longer hold their neighbors,
  * and recall decays SILENTLY — nothing in the write path errors.
  *
  * The drift signal here is per-cell CENTROID DISPLACEMENT: the cosine
  * gap between each cell's stored centroid and the mean of its current
  * members (exactly the first half of a Lloyd step, so the trigger
  * costs one aggregation pass and k×dim driver bytes — metadata
  * scale). A converged quantizer sits near its cell means
  * (displacement ≈ 0.02–0.04 on this corpus); after a distribution
  * shift the means run away from the frozen centroids (≈ 0.3–0.6).
  * Cell-size skew and assignment-similarity quantiles were measured
  * and REJECTED as triggers: clustered drift can leave both nearly
  * unchanged while recall halves (see the gate below, where skew moves
  * 1.2→1.4 but recall drops 1.0→0.59).
  *
  * On trigger, [[maintain]] runs one deterministic Lloyd round over the
  * index's own contents and rewrites every cell assignment THROUGH THE
  * COMMIT PATH (a fresh [[StreamIvf.sink]] table — centroid re-train
  * changes the cell namespace, so readers swap index versions
  * atomically rather than reading a half-reassigned table; the
  * sink's non-global record keys cannot erase rows whose cell moved).
  *
  * Scale shape: training/displacement aggregate to k×dim rows
  * (driver-held centroid codebook, same as [[Clustering]]); assignment
  * is a broadcast-join map pass; the rewrite is the standard
  * cell-partitioned upsert. Nothing is corpus² at any stage.
  */
object IvfDrift {

  /** The displacement threshold above which [[maintain]] retrains.
    * Converged quantizers on this corpus family sit ≤ 0.04; the gate's
    * drifted slice lands ≥ 0.3 — an order of magnitude of margin on
    * each side of 0.15.
    */
  val DriftThreshold = 0.15

  /** Storage convention binding an index table to its quantizer: the
    * centroid codebook lives at a SIBLING path (`<index>_centroids`),
    * not inside the table directory — the sink's partition listing and
    * the stats-manifest foreign-file guard never see it, and the
    * (index, centroids) pair still versions together under one prefix.
    */
  def centroidsPathFor(indexPath: String): String =
    indexPath.stripSuffix("/") + "_centroids"

  /** Persist a centroid codebook next to its index ([[centroidsPathFor]]). */
  def writeCentroids(cents: DataFrame, indexPath: String): Unit =
    cents.select(col("cent_id"), col("cv"))
      .write.mode("overwrite").parquet(centroidsPathFor(indexPath))

  def readCentroids(spark: SparkSession, indexPath: String): DataFrame =
    spark.read.parquet(centroidsPathFor(indexPath))

  /** Fused trigger + retrain — the body behind
    * `CALL graft.system.maintain_ivf`: per-cell displacement of the
    * index's stored (cent_id, embedding) rows from its stored
    * centroids; above `threshold` the cell means become the codebook
    * at `newPath`'s [[centroidsPathFor]] sibling and every vector is
    * reassigned to them through the sink commit path into `newPath`
    * ([[Quantizer.maintain]]). Returns (triggered, max displacement).
    */
  def maintain(spark: SparkSession, indexPath: String, newPath: String,
      threshold: Double): (Boolean, Double) = {
    val stored = StreamIvf.readIndex(spark, indexPath)
    Quantizer.maintain("maintain_ivf",
      Quantizer.means(stored, Seq("cent_id"), "embedding"),
      readCentroids(spark, indexPath), Seq("cent_id"), threshold,
      "the index's cells and its centroids share no cent_id rows — empty " +
        "index, or a codebook from a different index version")(
      writeCentroids(_, newPath),
      means => StreamIvf.sink(newPath).upsert(StreamIvf.indexRows(
        stored.select(col("vec_id"), col("embedding")), means, seq = 0L),
        batchId = 0L))
  }

  /** The oracle-gated drift scenario (`x_ann_ivf_drift`): a quantizer
    * TRAINED on the base corpus (2 Lloyd rounds from modulo seeds — so
    * its pre-drift displacement is genuinely small), an incremental
    * index built through the commit path, then a DRIFTED ingest slice:
    * every vec_id % 3 == 0 vector pulled 2.0 along a per-label basis
    * axis (ten synthetic clusters the stale quantizer never saw, each
    * straddling stale Voronoi boundaries). Both maintenance decisions
    * run through the SQL surface — `CALL graft.system.maintain_ivf` —
    * so the gate certifies the path a real pipeline invokes: the
    * pre-drift call must NOT trigger, the post-drift call must trigger
    * (displacement 0.03 → 0.3+) and retrain through the commit path,
    * and the output is recall@5 of the drifted queries against the
    * exact top-5, for the STALE index vs the RETRAINED one. The DuckDB
    * twin replays quantizer training, drift, retrain, both searches,
    * and the recall arithmetic — a hash match certifies the recall
    * numbers themselves, and the require() asserts pin the trigger
    * firing exactly once and the retrain not losing recall.
    *
    * The corpus is a deterministic 1-in-4 slice of the embeddings
    * table (r17; the full-table scenario measured 15.7 s idle — the
    * heaviest bench line — for margins that hold at 10× on each side
    * of the threshold; the slice keeps ~25 vectors per cell and the
    * same margin structure at a quarter of the exact-truth and
    * index-build cost, with the query rate doubled so recall still
    * averages over enough probes).
    */
  def annIvfDrift(spark0: SparkSession, sfDir: String): DataFrame = {
    val spark = Quantizer.narrowSession(spark0)
    val (base, drifted) = Quantizer.driftSlices(spark, sfDir)
    val seeds = base.filter(col("vec_id") % 25 === 0)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cv"))
    val cents = Quantizer.train(Quantizer.Coarse, base, seeds, rounds = 2)
    val root = java.nio.file.Files.createTempDirectory("graft_ivf_drift").toString
    val path0 = s"$root/v0"; val path1 = s"$root/v1"
    writeCentroids(cents, path0)
    val s0 = StreamIvf.sink(path0)
    s0.upsert(StreamIvf.indexRows(base, cents, seq = 0L), batchId = 0L)
    def callMaintain(): (Boolean, Double) = {
      val r = spark.sql(
        s"CALL graft.system.maintain_ivf('$path0', '$path1', " +
          s"CAST($DriftThreshold AS DOUBLE))").head()
      (r.getBoolean(0), r.getDouble(1))
    }
    // trained quantizer, pre-drift: the trigger must NOT fire
    val (fired0, disp0) = callMaintain()
    require(!fired0 && disp0 < DriftThreshold,
      f"pre-drift displacement $disp0%.4f must sit below the trigger")
    s0.upsert(StreamIvf.indexRows(drifted, cents, seq = 1L), batchId = 1L)
    // post-drift: the trigger FIRES and the procedure retrains into v1
    val (fired1, disp1) = callMaintain()
    require(fired1 && disp1 > DriftThreshold,
      f"post-drift displacement $disp1%.4f must cross the trigger")
    val newCents = readCentroids(spark, path1)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val corpus = base.unionByName(drifted)
    val queries = corpus.filter(col("vec_id") % 15 === 0)
    val truth = Quantizer.exactTop5(corpus, queries, Similarity.cosine)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nTruth = truth.count()
    def recallOf(path: String, cs: DataFrame): Long = Quantizer.hits(truth,
      StreamIvf.search(StreamIvf.readIndex(spark, path), queries, cs, k = 5))
    val staleHits = recallOf(path0, cents)
    val retrainedHits = recallOf(path1, newCents)
    require(retrainedHits >= staleHits,
      s"retrain must not lose recall ($retrainedHits vs $staleHits)")
    truth.unpersist(); newCents.unpersist()
    Quantizer.recallRows(spark, "regime", nTruth,
      "retrained" -> retrainedHits, "stale" -> staleHits)
  }

  /** DuckDB twin of [[annIvfDrift]] — 2 training rounds + drift +
    * 1-round retrain + both searches + recall arithmetic, built from
    * pre-stripped concatenated parts (generated CTE text must not pass
    * through stripMargin).
    */
  val annIvfDriftSql: String = {
    def cos(a: String, b: String) = Similarity.cosineSql(a, b)
    def searchCte(out: String, cells: String, cent: String): String =
      s"$out AS (SELECT query_id, neighbor_id FROM (\n" +
      s"  SELECT qq.query_id, e.vec_id AS neighbor_id,\n" +
      s"         row_number() OVER (PARTITION BY qq.query_id\n" +
      s"           ORDER BY round(${cos("qq.qv", "e.embedding")}, 4) DESC, e.vec_id) AS rk\n" +
      s"  FROM (SELECT query_id, qv, cent_id FROM (\n" +
      s"          SELECT a.query_id, a.qv, c2.cent_id,\n" +
      s"                 row_number() OVER (PARTITION BY a.query_id\n" +
      s"                   ORDER BY ${cos("a.qv", "c2.cv")} DESC, c2.cent_id) AS rn\n" +
      s"          FROM q a, $cent c2) WHERE rn = 1) qq\n" +
      s"  JOIN $cells e USING (cent_id)\n" +
      s"  WHERE e.vec_id <> qq.query_id) WHERE rk <= 5)"
    Quantizer.driftCorpusSql +
    "cent0 AS (SELECT vec_id AS cent_id, embedding AS cv FROM base WHERE vec_id % 25 = 0),\n" +
    Quantizer.trainSql(Quantizer.Coarse, "base", "cent", rounds = 2) +
    // the maintained (stale) index: corpus assigned to the trained cents
    Quantizer.assignSql(Quantizer.Coarse, "cells0", "corpus", "cent2") + ",\n" +
    // retrain = means of the stale cells; reassign the corpus to them
    Quantizer.meansSql("cent3", "cells0", Seq("cent_id"), "embedding") + ",\n" +
    Quantizer.assignSql(Quantizer.Coarse, "cells1", "corpus", "cent3") + ",\n" +
    "q AS (SELECT vec_id AS query_id, embedding AS qv FROM corpus WHERE vec_id % 15 = 0),\n" +
    Quantizer.truthSql(cos) + ",\n" +
    searchCte("s0", "cells0", "cent2") + ",\n" +
    searchCte("s1", "cells1", "cent3") + "\n" +
    Quantizer.sqlRecallRows("retrained", "s1", "stale", "s0", "regime")
  }
}
