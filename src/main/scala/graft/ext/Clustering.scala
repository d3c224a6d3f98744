package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.Tables.Resplit

/** Distributed k-means (Lloyd) over the embedding corpus — the
  * clustering stage of corpus curation (topic balancing, diversity
  * sampling, the production source of [[Similarity.annIvf]]'s
  * centroids).
  *
  * Each refinement iteration is the 100 TB shape:
  *  - assignment: broadcast the k centroids, argmax-cosine per vector
  *    via the native TopKPerGroup operator (the exchange carries one
  *    best-so-far row per vector per partition, never the |v|×k
  *    candidate set);
  *  - update: posexplode to (cent, dim, value) → partial-agged avg per
  *    (cent, dim) — a k×dim-cell aggregation, shuffle size k·dim
  *    regardless of corpus size — → rebuild the centroid arrays.
  *
  * Cross-engine determinism: seeds are the same deterministic every-Nth
  * scheme as IVF; updated centroid components are cast to FLOAT, whose
  * 2^-24 rounding absorbs the ~2^-50 relative wobble of distributed
  * double summation order, so the DuckDB twin (chained CTE iterations)
  * reproduces the refinement bit-for-bit. Ties in assignment break by
  * cent_id, as in IVF.
  */
object Clustering {

  val iterations = 2

  /** k-means summary after [[iterations]] refinements: per final
    * cluster, its size and cohesion (mean member-to-centroid cosine).
    */
  def kmeans(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.table(spark, sfDir, "embeddings")
      // re-split the single-file scan so assignment parallelizes
      .resplit(spark)
      .select(col("vec_id"), col("embedding"))
      // scanned once per Lloyd round plus the final summary pass — cache
      // the narrow projection instead of re-reading + re-splitting the
      // file each round (caller/Bench owns the clearCache, as for IVF)
      .persist()
    // FIXED k (vec_id < 800 caps seeds at 32 however big the corpus):
    // unlike IVF's nlist, k must not scale with n or the centroid
    // broadcast and the k×|v| assignment stop being the cheap side
    val seeds = Tables.table(spark, sfDir, "embeddings")
      .filter(col("vec_id") % 25 === 0 && col("vec_id") < 800)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cv"))
    val cents = Quantizer.train(Quantizer.Coarse, emb, seeds, iterations)
    // the summary needs only (cent_id, sim): slim the assignment so
    // the exchange ships ~20 bytes/vector, not the 256-byte embedding
    Similarity.assignNearest(emb, cents, keepEmbedding = false)
      .groupBy(col("cent_id"))
      .agg(count(lit(1)).as("n_members"),
        round(avg(col("sim")), 4).as("cohesion"))
  }

  /** kNN label-consistency eval — the standard embedding-quality /
    * mislabel-detection pass over a labeled corpus: for each probe
    * vector (every 100th), take its 5 exact nearest neighbors, majority-
    * vote their labels (ties → smallest label), and score the vote
    * against the probe's own label, aggregated per label. Corpus
    * streams through a broadcast of the probes (the [[Similarity
    * .annBruteForce]] shape — no big-side shuffle); the vote is a
    * TopKPerGroup(k=1) over per-(probe, label) counts, not a window
    * over the full candidate set.
    */
  def knnLabelEval(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.table(spark, sfDir, "embeddings")
    val probes = emb.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("label").as("qlabel"))
    val corpus = emb.resplit(spark)
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("nv"),
        col("label").as("nlabel"))
    // sim computed and embeddings PRUNED before the top-k: the native
    // TopKPerGroup then ships ≤5 slim rows per probe per partition,
    // where a row_number window would shuffle and sort the full
    // |corpus| × |probes| scored set
    val scored = corpus.join(broadcast(probes), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("qlabel"), col("neighbor_id"), col("nlabel"),
        round(Similarity.cosine(col("qv"), col("nv")), 4).as("sim"))
    val top5 = graft.plans.TopKPerGroup.topKPerGroup(
      scored, Seq(col("query_id")), Seq(col("sim").desc, col("neighbor_id").asc), 5)
    val votes = top5.groupBy(col("query_id"), col("qlabel"), col("nlabel"))
      .agg(count(lit(1)).as("c"))
    val pred = graft.plans.TopKPerGroup.topKPerGroup(
      votes, Seq(col("query_id")), Seq(col("c").desc, col("nlabel").asc), 1)
      .select(col("query_id"), col("qlabel"), col("nlabel").as("plabel"))
    pred.groupBy(col("qlabel").as("label"))
      .agg(count(lit(1)).as("n_queries"),
        sum(when(col("plabel") === col("qlabel"), 1L).otherwise(0L)).as("n_correct"))
      .withColumn("accuracy",
        round(col("n_correct").cast("double") / col("n_queries"), 4))
  }

  val knnLabelEvalSql: String =
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv, label AS qlabel
       |           FROM embeddings WHERE vec_id % 100 = 0),
       |scored AS (
       |  SELECT q.query_id, q.qlabel, e.vec_id AS neighbor_id, e.label AS nlabel,
       |         round(${Similarity.cosineSql("q.qv", "e.embedding")}, 4) AS sim
       |  FROM q, embeddings e WHERE e.vec_id <> q.query_id),
       |top5 AS (
       |  SELECT query_id, qlabel, nlabel FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id
       |                                 ORDER BY sim DESC, neighbor_id) AS rank
       |    FROM scored)
       |  WHERE rank <= 5),
       |votes AS (
       |  SELECT query_id, qlabel, nlabel, count(*) AS c
       |  FROM top5 GROUP BY 1, 2, 3),
       |pred AS (
       |  SELECT query_id, qlabel, nlabel AS plabel FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id
       |                                 ORDER BY c DESC, nlabel) AS rn
       |    FROM votes)
       |  WHERE rn = 1)
       |SELECT qlabel AS label,
       |       CAST(count(*) AS BIGINT) AS n_queries,
       |       CAST(sum(CASE WHEN plabel = qlabel THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
       |       round(sum(CASE WHEN plabel = qlabel THEN 1 ELSE 0 END)::DOUBLE
       |             / count(*), 4) AS accuracy
       |FROM pred
       |GROUP BY qlabel
       |ORDER BY qlabel""".stripMargin

  /** Outliers surfaced per label by [[labelOutliers]]. */
  val outliersPerLabel = 5

  /** Label-centroid outlier detection — the embedding-side data-quality
    * pass: vectors far from their own label's centroid are mislabels,
    * encoder failures, or genuine edge cases; curation pipelines route
    * the bottom few per label to review or drop them. Emits each
    * label's [[outliersPerLabel]] least-central members by cosine.
    *
    * Scale shape: the centroid pass is the k-means update step — a
    * (label × dim)-cell partial agg whose exchange is constant in
    * corpus size; scoring broadcasts the tiny centroid table and runs
    * one codegen'd cosine per row; the per-label bottom-k uses the
    * native TopKPerGroup operator (≤ k slim rows per label per
    * partition cross the exchange — never a full window sort).
    * Centroid components are float-cast like k-means, so distributed
    * double-sum wobble can't diverge from the oracle.
    */
  def labelOutliers(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val emb = Tables.table(spark, sfDir, "embeddings")
    val cents = Quantizer.means(emb, Seq("label"), "embedding")
    val scored = emb.resplit(spark)
      .join(broadcast(cents), Seq("label"))
      .select(col("label"), col("vec_id"),
        round(Similarity.cosine(col("embedding"), col("cv")), 4).as("cos_centroid"))
    val bottom = graft.plans.TopKPerGroup.topKPerGroup(
      scored, Seq(col("label")),
      Seq(col("cos_centroid").asc, col("vec_id").asc), outliersPerLabel)
    // rank numbering over the ≤ k·|labels| survivors only
    val w = Window.partitionBy(col("label"))
      .orderBy(col("cos_centroid").asc, col("vec_id").asc)
    bottom.withColumn("rank", row_number().over(w))
      .select(col("label"), col("vec_id"), col("cos_centroid"), col("rank"))
  }

  val labelOutliersSql: String =
    "WITH " + Quantizer.meansSql("cent", "embeddings", Seq("label"), "embedding") + ",\n" +
    s"""scored AS (
       |  SELECT e.label, e.vec_id,
       |         round(${Similarity.cosineSql("e.embedding", "c.cv")}, 4) AS cos_centroid
       |  FROM embeddings e JOIN cent c USING (label))
       |SELECT label, vec_id, cos_centroid, CAST(rank AS INTEGER) AS rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY label
       |                               ORDER BY cos_centroid, vec_id) AS rank
       |  FROM scored)
       |WHERE rank <= $outliersPerLabel
       |ORDER BY label, rank""".stripMargin

  /** Cosine at or above which two same-cluster vectors are semantic
    * duplicates — the corpus's near-dup regime (see
    * [[Similarity.tiledCosinePairs]]).
    */
  val semanticDupThreshold = 0.4

  /** Exemplar count scales as √n (sampling modulus = floor(√n), so
    * k = |exemplars| ≈ √n): the BALANCED exponent for
    * cluster-then-dedup. Assignment costs n·k and within-cell dedup
    * costs n·(n/k); k ≈ √n makes both n^1.5 — the standard trade
    * (fixed k is quadratic in the dedup half, which the r16 sf1
    * scaling point measured at 26x on 10x data against the original
    * 10-label blocking; k ∝ n is quadratic in the ASSIGNMENT half and
    * grows the broadcast without bound). Beyond n^1.5 budgets, the
    * production shape is hierarchical (coarse cells → fine cells) or
    * ANN-assisted assignment — out of scope for the gate.
    */
  def semanticExemplarMod(n: Long): Long =
    math.max(1L, math.floor(math.sqrt(n.toDouble)).toLong)

  /** Semantic deduplication, the SemDeDup shape (Abbas et al. 2023,
    * arXiv:2303.09540): cluster first, then search for near-duplicate
    * embeddings ONLY within a cluster. The clustering is deterministic
    * exemplar assignment — every vec_id % [[semanticExemplarMod]] == 0
    * vector is an exemplar (k ≈ √n, see the modulus above) and each vector
    * joins its nearest exemplar by cosine (tie on exemplar id), which
    * the DuckDB oracle reproduces exactly. A vector is dropped when a
    * LOWER-id cell-mate sits at cosine ≥ [[semanticDupThreshold]]
    * (keep-the-earliest — deterministic without computing the
    * transitive closure); emits each dropped vector with its keeper:
    * the smallest such neighbor. Pairs straddling a cell boundary are
    * not compared — the paper's documented recall trade for killing
    * the corpus² pair space.
    *
    * Scale shape: exemplar assignment is a broadcast of k ≈ √n rows
    * and one map-side top-1 (n·√n cosines); the dedup is a self-join
    * on the cell key (blocking, as SimHash chunks / LSH bands
    * elsewhere) with per-cell population ≈ √n — n^1.5 on both halves,
    * the balanced exponent. The cut is on the ROUNDED cosine so both
    * engines agree at the boundary.
    */
  def dedupSemantic(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.table(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val mod = semanticExemplarMod(emb.count())
    val exemplars = emb.filter(col("vec_id") % mod === 0)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cv"))
    val cells = Similarity.assignNearest(emb, exemplars, keepEmbedding = true)
      .select(col("vec_id"), col("embedding"), col("cent_id").as("cell"))
    val sim = round(Similarity.cosine(col("a_emb"), col("b_emb")), 4)
    cells.select(col("cell"), col("vec_id").as("keep_id"), col("embedding").as("a_emb"))
      .join(cells.select(col("cell"), col("vec_id").as("drop_id"),
        col("embedding").as("b_emb")), Seq("cell"))
      .filter(col("keep_id") < col("drop_id") && sim >= semanticDupThreshold)
      .groupBy(col("drop_id"), col("cell"))
      .agg(min(col("keep_id")).as("kept_by"))
      .select(col("drop_id").as("vec_id"), col("cell"), col("kept_by"))
  }

  val dedupSemanticSql: String =
    s"""WITH ex AS (SELECT vec_id AS cent_id, embedding AS cv FROM embeddings
       |            WHERE vec_id % greatest(1, CAST(floor(sqrt(
       |                (SELECT count(*) FROM embeddings))) AS BIGINT)) = 0),
       |""".stripMargin +
    Quantizer.assignSql(Quantizer.Coarse, "cells", "embeddings", "ex") +
    s"""
       |SELECT b.vec_id, b.cent_id AS cell, min(a.vec_id) AS kept_by
       |FROM cells a JOIN cells b
       |  ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id
       |WHERE round(${Similarity.cosineSql("a.embedding", "b.embedding")}, 4)
       |      >= $semanticDupThreshold
       |GROUP BY b.vec_id, b.cent_id
       |ORDER BY b.vec_id""".stripMargin

  /** DuckDB twin: the same seeds and two chained
    * assign→average→float-cast iterations as CTEs, then the final
    * assignment summary.
    */
  val kmeansSql: String =
    "WITH cent0 AS (\n" +
    "  SELECT vec_id AS cent_id, embedding AS cv FROM embeddings\n" +
    "  WHERE vec_id % 25 = 0 AND vec_id < 800),\n" +
    Quantizer.trainSql(Quantizer.Coarse, "embeddings", "cent", iterations) +
    Quantizer.assignSql(Quantizer.Coarse, "fin", "embeddings", s"cent$iterations") + "\n" +
    "SELECT cent_id, count(*) AS n_members,\n" +
    "       round(avg(sim), 4) AS cohesion\n" +
    "FROM fin\n" +
    "GROUP BY cent_id\n" +
    "ORDER BY cent_id"
}
