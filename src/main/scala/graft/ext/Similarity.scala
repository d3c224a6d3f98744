package graft.ext

import java.security.MessageDigest

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.Tables.Resplit
import graft.functions.VectorFunctions.{int_vec_dot, vec_cosine, vec_dot}

/** Similarity search over an embedding column (Array[Float], dim 64).
  *
  *  - brute-force cosine top-k: the exact baseline. Queries are
  *    broadcast; the corpus side streams — one pass, no shuffle of the
  *    big side. At 100 TB the corpus scan is embarrassingly parallel and
  *    top-k per query aggregates via partial TakeOrdered.
  *  - random-hyperplane LSH buckets: the approximate scale path. Each
  *    vector maps to an 8-bit bucket (sign pattern against 8 fixed
  *    hyperplanes); search touches only the query's bucket — candidate
  *    set shrinks ~256× at constant recall for high-similarity pairs.
  *
  * Hyperplanes are deterministic (md5-derived ±1 components) so the
  * DuckDB oracle reproduces them bit-for-bit from the same literals.
  */
object Similarity {

  val dim = 64
  val numPlanes = 8

  /** md5-hex of a string — matches DuckDB's md5(). */
  private def md5Hex(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  /** Banded-LSH shape: bandBits planes per band. Band match p at cosine
    * s is (1 - acos(s)/π)^bandBits; candidate recall is
    * 1 - (1 - p)^numBands. At s=0.9 this is ~99.6% recall with a ~16×
    * candidate shrink on unrelated pairs — the regime banding is for.
    * (At s=0.4 recall is only ~33%: see tiledCosinePairs for why no
    * banding can do better there.)
    */
  val bandBits = 8
  val numBands = 16

  /** ±1 hyperplane components, derived exactly like the SQL twin:
    * ('0x' || substr(md5(p || ':' || i), 1, 8))::BIGINT % 2.
    * The first [[numPlanes]] are the single-bucket ANN planes; the full
    * set serves the banded dedup below.
    */
  val planeSigns: IndexedSeq[IndexedSeq[Double]] =
    (0 until (numBands * bandBits).max(numPlanes)).map { p =>
      (0 until dim).map { i =>
        val v = java.lang.Long.parseLong(md5Hex(s"$p:$i").take(8), 16)
        if (v % 2 == 1) 1.0 else -1.0
      }
    }

  /** Native codegen'd dot / cosine (graft.functions.FloatVecDot) —
    * identical IEEE op order to the oracle's list_inner_product on
    * DOUBLE[] casts.
    */
  def dot(a: Column, b: Column): Column = vec_dot(a, b)

  def cosine(a: Column, b: Column): Column = vec_cosine(a, b)

  /** SQL twin of [[cosine]] — same formula shape (dot / (sqrt·sqrt)),
    * computed on DOUBLE[] casts.
    */
  def cosineSql(a: String, b: String): String =
    s"(list_inner_product(CAST($a AS DOUBLE[]), CAST($b AS DOUBLE[]))" +
      s" / (sqrt(list_inner_product(CAST($a AS DOUBLE[]), CAST($a AS DOUBLE[])))" +
      s" * sqrt(list_inner_product(CAST($b AS DOUBLE[]), CAST($b AS DOUBLE[])))))"

  /** DuckDB twin of the IVF seed centroids (every 25th vector): the
    * `cent` (cent_id, cv) CTE, trailing comma included.
    */
  private def ivfCentSql: String =
    "cent AS (SELECT vec_id AS cent_id, embedding AS cv FROM embeddings\n" +
    "         WHERE vec_id % 25 = 0),\n"

  // ——— brute-force top-k ———

  /** Exact cosine top-5 per query, unsorted — the ground-truth relation
    * every recall eval joins against ([[annBruteForce]], [[annRecall]],
    * [[annProbeSweep]]), so it is [[Shared.memo]]-materialized: the
    * exact scan runs once per (session, corpus) and each eval reads the
    * staged k-rows-per-query result.
    */
  def bruteForceTop5(spark: SparkSession, sfDir: String): DataFrame =
   Shared.memoClustered(spark, sfDir, "ann_bruteforce_top5", Some("query_id" -> 32)) {
    val emb = Tables.table(spark, sfDir, "embeddings")
    val queries = emb.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    // re-split the single-file scan: the corpus streams through the
    // broadcast loop, so its partition count IS the parallelism
    val corpus = emb.resplit(spark)
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("nv"))
    val scored = corpus.join(broadcast(queries), col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", round(cosine(col("qv"), col("nv")), 4))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("neighbor_id"), col("sim"), col("rank"))
   }

  /** Exact cosine top-5 neighbors for every 100th vector. */
  def annBruteForce(spark: SparkSession, sfDir: String): DataFrame =
    bruteForceTop5(spark, sfDir)

  val annBruteForceSql: String =
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
       |           WHERE vec_id % 100 = 0),
       |scored AS (
       |  SELECT q.query_id, e.vec_id AS neighbor_id,
       |         round(${cosineSql("q.qv", "e.embedding")}, 4) AS sim
       |  FROM q, embeddings e WHERE e.vec_id <> q.query_id)
       |SELECT query_id, neighbor_id, sim, CAST(rank AS INTEGER) AS rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |                               ORDER BY sim DESC, neighbor_id) AS rank
       |  FROM scored)
       |WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin

  // ——— near-duplicate pairs by cosine ———

  /** Number of vec_id-blocks for the tiled exact pair join. Work per
    * tile is (n/B)² dots; replication is (B+1)/2 copies of each vector
    * per side. B is a knob: pick B ≈ √(desired tasks) so tiles fit an
    * executor core; replication grows linearly while per-tile memory
    * shrinks quadratically.
    */
  val pairBlocks = 16

  /** EXACT all-pairs cosine-threshold join, block-tiled.
    *
    * Why not LSH candidates + exact verify: measured on this corpus the
    * pair-similarity distribution is CONTINUOUS through the 0.4
    * threshold (background N(0, 0.125²), passing pairs from 0.4001 up,
    * rejected pairs at 0.3999) — there is no similarity gap. At cos 0.4
    * a random hyperplane agrees with p=0.631 vs 0.5 for unrelated
    * pairs, so any banding with near-1 recall admits nearly all pairs
    * as candidates: exact low-threshold similarity join has no sound
    * sub-quadratic candidate scheme. The honest scale design is to keep
    * the O(n²/2) dot products but make them DISTRIBUTE: tile the
    * triangular pair space into B(B+1)/2 blocks and hash-join on the
    * tile key.
    *
    *  - left replicates each vector to tiles {(blk, j): j ≥ blk}, right
    *    to {(i, blk): i ≤ blk}: tile (i,j) pairs block i against block
    *    j exactly once, the diagonal guarded by id order — every
    *    unordered pair is evaluated exactly once, no BNLJ, no full-
    *    corpus broadcast, per-tile work uniform (no skew).
    *  - the sim threshold lands in the hash-join's residual condition,
    *    which IS whole-stage-codegen'd (unlike the BNLJ interpreted row
    *    path this replaces).
    *
    * The LSH/IVF paths below remain the approximate option for the
    * high-similarity regime (t ≥ 0.9) where banding recall is real,
    * and [[Clustering.dedupSemantic]] is the published sub-quadratic
    * production path (SemDeDup: cluster first, pair only within a
    * cluster — the pair space shrinks by the cluster count, which
    * scales with the corpus).
    */
  private def tiledCosinePairs(spark: SparkSession, sfDir: String,
      minSim: Double): DataFrame = {
    val b = pairBlocks
    // norms computed once per vector (not per pair): sim = dot/(na*nb)
    // is bit-identical to dot/(sqrt(daa)*sqrt(dbb)) — same op order.
    val emb = Tables.table(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding"),
        sqrt(vec_dot(col("embedding"), col("embedding"))).as("nrm"),
        (col("vec_id") % b).cast("int").as("blk"))
    // re-split the single-file scan so the per-tile dot loops spread
    // across cores (the tile key is fine-grained enough either way; the
    // round-robin split just evens the probe side)
    val left = emb
      .select(col("vec_id").as("id_a"), col("embedding").as("va"),
        col("nrm").as("na"), col("blk").as("blk_a"),
        explode(sequence(col("blk"), lit(b - 1))).as("tj"))
      .select(col("id_a"), col("va"), col("na"), col("blk_a"),
        (col("blk_a") * b + col("tj")).as("tile"))
      .resplit(spark)
    val right = emb
      .select(col("vec_id").as("id_b"), col("embedding").as("vb"),
        col("nrm").as("nb"), col("blk").as("blk_b"),
        explode(sequence(lit(0), col("blk"))).as("ti"))
      .select(col("id_b"), col("vb"), col("nb"), col("blk_b"),
        (col("ti") * b + col("blk_b")).as("tile"))
    // NO forced broadcast hint: a hint is honored regardless of size,
    // and the replicated side is the FULL corpus ×(B+1)/2 — at real
    // scale a forced broadcast hits the driver/8 GB broadcast wall and
    // fails instead of degrading. Spark's stats pick BHJ at gate scale
    // (small parquet) and a shuffled join partitioned BY TILE beyond —
    // exactly the distribution the tiling exists for.
    left.join(right,
        left("tile") === right("tile") &&
          (col("blk_a") =!= col("blk_b") || col("id_a") < col("id_b")))
      .withColumn("sim", round(vec_dot(col("va"), col("vb")) / (col("na") * col("nb")), 4))
      .filter(col("sim") >= minSim)
      .select(least(col("id_a"), col("id_b")).as("vec_a"),
        greatest(col("id_a"), col("id_b")).as("vec_b"), col("sim"))
  }

  /** All vector pairs with cosine ≥ 0.4 — exact, uncapped, via the
    * block-tiled join above.
    */
  def embeddingPairs(spark: SparkSession, sfDir: String): DataFrame =
    tiledCosinePairs(spark, sfDir, 0.4)

  val embeddingPairsSql: String =
    s"""SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |       round(${cosineSql("a.embedding", "b.embedding")}, 4) AS sim
       |FROM embeddings a, embeddings b
       |WHERE a.vec_id < b.vec_id
       |  AND round(${cosineSql("a.embedding", "b.embedding")}, 4) >= 0.4
       |ORDER BY vec_a, vec_b""".stripMargin

  /** Embedding-cosine near-dup DEDUP decision layer: every vector that
    * has a neighbor with a smaller id at sim ≥ 0.4 is a duplicate; its
    * keeper is the smallest such neighbor. Exact and UNCAPPED — pair
    * generation is the block-tiled hash join above (no BNLJ, no
    * vec_id cap); the keeper aggregation is one hash shuffle on dup_id.
    */
  def dedupByEmbedding(spark: SparkSession, sfDir: String): DataFrame =
    tiledCosinePairs(spark, sfDir, 0.4)
      .groupBy(col("vec_b").as("dup_id"))
      .agg(
        min(col("vec_a")).as("keeper_id"),
        count(lit(1)).as("n_near_dups"),
        max(col("sim")).as("best_sim"))

  val dedupByEmbeddingSql: String =
    s"""WITH pairs AS (
       |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |         round(${cosineSql("a.embedding", "b.embedding")}, 4) AS sim
       |  FROM embeddings a, embeddings b
       |  WHERE a.vec_id < b.vec_id
       |    AND round(${cosineSql("a.embedding", "b.embedding")}, 4) >= 0.4)
       |SELECT vec_b AS dup_id,
       |       min(vec_a) AS keeper_id,
       |       count(*) AS n_near_dups,
       |       max(sim) AS best_sim
       |FROM pairs
       |GROUP BY 1
       |ORDER BY 1""".stripMargin

  /** APPROXIMATE embedding dedup: banded-LSH candidate generation
    * (numBands × bandBits sign bits) → hash self-join on band key →
    * exact cosine verify → the same keeper assignment as the exact op.
    * This is the sub-quadratic 100 TB path for the high-similarity
    * regime (recall math on [[bandBits]]); the threshold here mirrors
    * the exact op so the two are directly comparable. The oracle
    * reproduces the banding bit-for-bit (md5-derived planes, same
    * sequential dot order), so the gate checks the LSH semantics
    * themselves, not a lossy approximation of the exact result.
    */
  def dedupByEmbeddingLsh(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.table(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding"),
        sqrt(vec_dot(col("embedding"), col("embedding"))).as("nrm"))
    // all 16 band keys in ONE native pass over the constant plane
    // matrix (a projection of 128 separate literal-array dots generates
    // code past JIT limits and deoptimizes — measured 10× slower)
    val planesFlat: IndexedSeq[Double] =
      (0 until numBands * bandBits).flatMap(planeSigns(_))
    val bandKeys = graft.functions.VectorFunctions.hyperplane_band_keys(
      col("embedding"), planesFlat, dim, bandBits)
    val banded = emb
      .select(col("vec_id"), col("embedding"), col("nrm"),
        explode(bandKeys).as("bkey"))
      .resplit(spark)
    // each surviving pair appears once per shared band — distinct on the
    // pair (sim is deterministic per pair) before the keeper aggregation
    val pairs = banded.as("x")
      .join(banded.as("y"),
        col("x.bkey") === col("y.bkey") && col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"),
        round(vec_dot(col("x.embedding"), col("y.embedding"))
          / (col("x.nrm") * col("y.nrm")), 4).as("sim"))
      .filter(col("sim") >= 0.4)
      .distinct()
    pairs
      .groupBy(col("vec_b").as("dup_id"))
      .agg(
        min(col("vec_a")).as("keeper_id"),
        count(lit(1)).as("n_near_dups"),
        max(col("sim")).as("best_sim"))
  }

  /** DuckDB twin of the banding: planes regenerated from md5, band bits
    * from list_inner_product (same sequential op order as FloatVecDot),
    * candidates from the band-key self-join, exact verify, keeper agg.
    */
  val dedupByEmbeddingLshSql: String =
    s"""WITH planes AS (
       |  SELECT p, list(CASE WHEN ('0x' || substr(md5(p::VARCHAR || ':' || i::VARCHAR), 1, 8))::BIGINT % 2 = 1
       |                      THEN 1.0 ELSE -1.0 END ORDER BY i) AS pv
       |  FROM range(${numBands * bandBits}) t1(p), range($dim) t2(i)
       |  GROUP BY p),
       |bits AS (
       |  SELECT e.vec_id, pl.p,
       |         CASE WHEN list_inner_product(CAST(e.embedding AS DOUBLE[]), CAST(pl.pv AS DOUBLE[])) > 0
       |              THEN 1 ELSE 0 END AS bit
       |  FROM embeddings e, planes pl),
       |bk AS (
       |  SELECT vec_id, p // $bandBits AS band,
       |         CAST(sum(bit * (1 << (p % $bandBits))) AS BIGINT)
       |           + CAST(p // $bandBits AS BIGINT) * ${1L << bandBits} AS bkey
       |  FROM bits
       |  GROUP BY 1, 2),
       |cand AS (
       |  SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
       |  FROM bk x JOIN bk y ON x.bkey = y.bkey AND x.vec_id < y.vec_id),
       |pairs AS (
       |  SELECT c.vec_a, c.vec_b,
       |         round(${cosineSql("a.embedding", "b.embedding")}, 4) AS sim
       |  FROM cand c
       |  JOIN embeddings a ON a.vec_id = c.vec_a
       |  JOIN embeddings b ON b.vec_id = c.vec_b
       |  WHERE round(${cosineSql("a.embedding", "b.embedding")}, 4) >= 0.4)
       |SELECT vec_b AS dup_id,
       |       min(vec_a) AS keeper_id,
       |       count(*) AS n_near_dups,
       |       max(sim) AS best_sim
       |FROM pairs
       |GROUP BY 1
       |ORDER BY 1""".stripMargin

  /** SEMANTIC decontamination: flag training vectors whose embedding is
    * near-identical to a benchmark vector (every 50th vec id plays the
    * held-out benchmark) — the paraphrase-level leak that shingle
    * decontamination ([[Dedup.decontaminateFuzzy]]) cannot see, caught
    * in embedding space. Same banded-LSH candidate generation as
    * [[dedupByEmbeddingLsh]], but a train × benchmark band join instead
    * of a self-join.
    *
    * Scale shape: the benchmark side is the curated-small side and is
    * BROADCAST, so the corpus never shuffles — band keys are computed
    * map-side in one native pass and candidates verify with an exact
    * cosine before flagging. Sub-quadratic end to end.
    *
    * Recall semantics: every FLAG is sound (exact cosine verify), but
    * candidate recall follows the banding curve — near-certain in the
    * paraphrase regime (≥0.9 cosine), partial at the 0.4 boundary kept
    * here for comparability with the embedding-dedup ops. The oracle
    * replays the banding bit-for-bit, so the gate checks the LSH
    * semantics themselves.
    */
  def decontaminateSemantic(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.table(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding"),
        sqrt(vec_dot(col("embedding"), col("embedding"))).as("nrm"))
    val planesFlat: IndexedSeq[Double] =
      (0 until numBands * bandBits).flatMap(planeSigns(_))
    val bandKeys = graft.functions.VectorFunctions.hyperplane_band_keys(
      col("embedding"), planesFlat, dim, bandBits)
    val banded = emb
      .select(col("vec_id"), col("embedding"), col("nrm"),
        explode(bandKeys).as("bkey"))
    val bench = banded.filter(col("vec_id") % 50 === 0)
    val train = banded.filter(col("vec_id") % 50 =!= 0)
    // a (train, bench) pair appears once per shared band — distinct
    // before the per-train-vector rollup
    val pairs = train.as("t")
      .join(broadcast(bench.as("b")), col("t.bkey") === col("b.bkey"))
      .select(col("t.vec_id").as("train_id"), col("b.vec_id").as("bench_id"),
        round(vec_dot(col("t.embedding"), col("b.embedding"))
          / (col("t.nrm") * col("b.nrm")), 4).as("sim"))
      .filter(col("sim") >= 0.4)
      .distinct()
    pairs
      .groupBy(col("train_id"))
      .agg(count(lit(1)).as("n_bench_hits"), max(col("sim")).as("best_sim"))
  }

  /** DuckDB twin: the [[dedupByEmbeddingLshSql]] banding CTEs with a
    * cross-split candidate join in place of the self-join.
    */
  val decontaminateSemanticSql: String =
    s"""WITH planes AS (
       |  SELECT p, list(CASE WHEN ('0x' || substr(md5(p::VARCHAR || ':' || i::VARCHAR), 1, 8))::BIGINT % 2 = 1
       |                      THEN 1.0 ELSE -1.0 END ORDER BY i) AS pv
       |  FROM range(${numBands * bandBits}) t1(p), range($dim) t2(i)
       |  GROUP BY p),
       |bits AS (
       |  SELECT e.vec_id, pl.p,
       |         CASE WHEN list_inner_product(CAST(e.embedding AS DOUBLE[]), CAST(pl.pv AS DOUBLE[])) > 0
       |              THEN 1 ELSE 0 END AS bit
       |  FROM embeddings e, planes pl),
       |bk AS (
       |  SELECT vec_id, p // $bandBits AS band,
       |         CAST(sum(bit * (1 << (p % $bandBits))) AS BIGINT)
       |           + CAST(p // $bandBits AS BIGINT) * ${1L << bandBits} AS bkey
       |  FROM bits
       |  GROUP BY 1, 2),
       |cand AS (
       |  SELECT DISTINCT t.vec_id AS train_id, b.vec_id AS bench_id
       |  FROM bk t JOIN bk b ON t.bkey = b.bkey
       |  WHERE t.vec_id % 50 <> 0 AND b.vec_id % 50 = 0),
       |pairs AS (
       |  SELECT c.train_id, c.bench_id,
       |         round(${cosineSql("a.embedding", "b.embedding")}, 4) AS sim
       |  FROM cand c
       |  JOIN embeddings a ON a.vec_id = c.train_id
       |  JOIN embeddings b ON b.vec_id = c.bench_id
       |  WHERE round(${cosineSql("a.embedding", "b.embedding")}, 4) >= 0.4)
       |SELECT train_id, count(*) AS n_bench_hits, max(sim) AS best_sim
       |FROM pairs
       |GROUP BY 1
       |ORDER BY 1""".stripMargin

  // ——— LSH-bucketed ANN ———

  /** Literal ±1 array column for plane p. */
  private def planeCol(p: Int): Column =
    array(planeSigns(p).map(v => lit(v.toFloat)): _*)

  /** 8-bit sign bucket of an embedding against the fixed hyperplanes. */
  def bucket(v: Column): Column =
    (0 until numPlanes).map { p =>
      when(dot(v, planeCol(p)) > 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** ANN restricted to the query's LSH bucket: top-5 by cosine among
    * same-bucket vectors. Bucket assignment is one corpus pass; the
    * join is a hash join on bucket id.
    */
  def annLsh(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.table(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding"), bucket(col("embedding")).as("bkt"))
    val queries = emb.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"), col("bkt"))
    val scored = emb.resplit(spark)
      .join(broadcast(queries), Seq("bkt"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("sim", round(cosine(col("qv"), col("embedding")), 4))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("vec_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("sim"), col("rank"))
  }

  /** SQL literal for plane p's sign array. */
  private def planeSqlLit(p: Int): String =
    planeSigns(p).map(v => if (v > 0) "1.0" else "-1.0").mkString("[", ", ", "]")

  val annLshSql: String = {
    val bucketExpr = (0 until numPlanes).map { p =>
      s"(CASE WHEN list_inner_product(CAST(embedding AS DOUBLE[]), ${planeSqlLit(p)}) > 0" +
        s" THEN ${1L << p} ELSE 0 END)"
    }.mkString(" + ")
    s"""WITH bucketed AS (
       |  SELECT vec_id, embedding, $bucketExpr AS bkt FROM embeddings),
       |q AS (SELECT vec_id AS query_id, embedding AS qv, bkt FROM bucketed
       |      WHERE vec_id % 100 = 0),
       |scored AS (
       |  SELECT q.query_id, e.vec_id AS neighbor_id,
       |         round(${cosineSql("q.qv", "e.embedding")}, 4) AS sim
       |  FROM q JOIN bucketed e USING (bkt) WHERE e.vec_id <> q.query_id)
       |SELECT query_id, neighbor_id, sim, CAST(rank AS INTEGER) AS rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |                               ORDER BY sim DESC, neighbor_id) AS rank
       |  FROM scored)
       |WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin
  }

  // ——— int8 quantization ———

  /** Per-vector symmetric int8 scale, max|v|/127 — THE quantization
    * recipe, shared by [[quantizeInt8]] (error gating) and [[annInt8]]
    * (ADC scoring) so the two queries cannot drift apart (annInt8's
    * cross-engine parity argument leans on quantizeInt8's round
    * parity).
    */
  def int8Scale(emb: Column): Column =
    array_max(transform(emb, v => abs(v.cast("double")))) / lit(127.0)

  /** The int8 code array: q_i = round(v_i/scale) — |v_i|/scale ≤ 127
    * by construction of [[int8Scale]], so no clamp is needed.
    */
  def int8Codes(emb: Column, scale: Column): Column =
    transform(emb, v => round(v.cast("double") / scale).cast("int"))

  /** DuckDB twin of [[int8Scale]] (over `embedding`). */
  val int8ScaleSql: String =
    "list_max(list_transform(CAST(embedding AS DOUBLE[]), v -> abs(v))) / 127.0"

  /** Symmetric per-vector int8 quantization — the storage-efficiency
    * pass of a large embedding store (4× smaller than float32, cheap
    * SIMD dot products downstream). Per vector: scale = max|v|/127,
    * q_i = round(v_i/scale) clamped to [-127,127]; reported per vector
    * are the scale, the RMS reconstruction error and the max absolute
    * error — the quality metrics a curation pipeline gates on. Pure
    * per-row Column expressions (codegen'd, shuffle-free, pipelines
    * with the scan); the quantized array itself is a `transform` away,
    * kept out of the gate output to keep the oracle about the
    * arithmetic, not array formatting.
    */
  def quantizeInt8(spark: SparkSession, sfDir: String): DataFrame = {
    val scale = int8Scale(col("embedding"))
    val err = transform(col("embedding"), v =>
      v.cast("double") - round(v.cast("double") / col("scale")) * col("scale"))
    Tables.table(spark, sfDir, "embeddings")
      .withColumn("scale", scale)
      .filter(col("scale") > 0) // an all-zero vector has nothing to quantize
      // err materialized as its own column: two consumers reference
      // it, which stops CollapseProject from inlining (= evaluating)
      // the per-element lambda chain once per metric
      .withColumn("err", err)
      .withColumn("rms_err",
        round(sqrt(aggregate(col("err"), lit(0.0), (a, e) => a + e * e)
          / size(col("embedding"))), 6))
      .withColumn("max_err",
        round(array_max(transform(col("err"), e => abs(e))), 6))
      .select(col("vec_id"), round(col("scale"), 6).as("scale"),
        col("rms_err"), col("max_err"))
  }

  val quantizeInt8Sql: String =
    s"""WITH s AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
      |         $int8ScaleSql AS scale
      |  FROM embeddings),
      |err AS (
      |  SELECT vec_id, scale,
      |         list_transform(e, v -> v - round(v / scale) * scale) AS er,
      |         len(e) AS n
      |  FROM s WHERE scale > 0)
      |SELECT vec_id, round(scale, 6) AS scale,
      |       round(sqrt(list_sum(list_transform(er, x -> x * x)) / n), 6) AS rms_err,
      |       round(list_max(list_transform(er, x -> abs(x))), 6) AS max_err
      |FROM err
      |ORDER BY vec_id""".stripMargin

  /** Candidate pool per query for the quantized search's exact rerank. */
  val int8Candidates = 20

  /** Quantized ANN: int8 ADC-style scoring + exact float rerank — what
    * [[quantizeInt8]]'s output is FOR. The corpus is stored quantized
    * (4× smaller, int arithmetic); candidate generation scores every
    * (query, vector) pair with the native integer dot (IntVecDot:
    * long-accumulated, hence integer-EXACT and cross-engine
    * deterministic — a float fold would be neither), rescaled by the
    * two per-vector scales into an approximate cosine; the top
    * [[int8Candidates]] per query then get ONE exact float-cosine pass
    * and the final top-5 comes from that rerank.
    *
    * Scale shape: the corpus side streams through a broadcast of the
    * quantized queries (same as [[annBruteForce]]) but each candidate
    * dot is int8 arithmetic on a 4×-smaller payload; only
    * [[int8Candidates]] rows per query reach the rerank join, and the
    * rerank is a hash join on vec_id against the float table — the
    * full-precision embeddings are read for ≤ 20·|queries| rows, never
    * streamed wholesale.
    */
  def annInt8(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val emb = Tables.table(spark, sfDir, "embeddings")
    // the shared int8Scale/int8Codes recipe (same columns quantizeInt8
    // gates on); float norms computed once for the cosine rescale
    val quantized = emb
      .select(col("vec_id"), col("embedding"),
        int8Scale(col("embedding")).as("scale"),
        sqrt(vec_dot(col("embedding"), col("embedding"))).as("nrm"))
      .filter(col("scale") > 0) // an all-zero vector has nothing to quantize
      .withColumn("q", int8Codes(col("embedding"), col("scale")))
    val queries = quantized.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("query_id"), col("q").as("qq"),
        col("scale").as("qs"), col("nrm").as("qn"))
    // re-split the single-file scan: the corpus streams through the
    // broadcast loop, so its partition count IS the parallelism
    val corpus = quantized
      .select(col("vec_id"), col("q"), col("scale"), col("nrm"))
      .resplit(spark)
    // approx cosine from the exact integer dot: qdot·sa·sb ≈ float dot
    // (max |qdot| = 127²·dim ≪ 2⁵³, so the long→double rescale chain is
    // the same exact value in both engines)
    val scored = corpus.join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        (int_vec_dot(col("q"), col("qq")).cast("double") * col("scale") * col("qs")
          / (col("nrm") * col("qn"))).as("qsim"))
    // top-20 candidates per query via the native partial top-k: the
    // exchange carries ≤ 20 rows per query per partition, no window
    // shuffle of the full candidate set
    val cands = graft.plans.TopKPerGroup.topKPerGroup(
      scored, Seq(col("query_id")), Seq(col("qsim").desc, col("vec_id").asc),
      int8Candidates)
      .select(col("query_id"), col("vec_id").as("neighbor_id"))
    // exact rerank: full-precision cosine over only the candidates
    val rer = cands
      .join(emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("nv")),
        Seq("neighbor_id"))
      .join(broadcast(emb.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"))),
        Seq("query_id"))
      .withColumn("sim", round(cosine(col("qv"), col("nv")), 4))
    val w = Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("neighbor_id"))
    rer.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("neighbor_id"), col("sim"), col("rank"))
  }

  /** DuckDB twin: same quantization recipe (round parity proven by
    * x_quantize_int8), same integer dot (list_inner_product over
    * integral doubles is exact below 2⁵³), same rescale op order, same
    * rerank.
    */
  val annInt8Sql: String =
    s"""WITH s AS (
       |  SELECT vec_id, embedding, CAST(embedding AS DOUBLE[]) AS e,
       |         $int8ScaleSql AS scale,
       |         sqrt(list_inner_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
       |  FROM embeddings),
       |qz AS (
       |  SELECT vec_id, embedding, scale, nrm,
       |         list_transform(e, v -> round(v / scale)) AS q
       |  FROM s WHERE scale > 0),
       |qry AS (SELECT vec_id AS query_id, q AS qq, scale AS qs, nrm AS qn
       |        FROM qz WHERE vec_id % 100 = 0),
       |scored AS (
       |  SELECT query_id, c.vec_id,
       |         list_inner_product(c.q, qq) * c.scale * qs / (c.nrm * qn) AS qsim
       |  FROM qz c, qry WHERE c.vec_id <> query_id),
       |cand AS (
       |  SELECT query_id, vec_id AS neighbor_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id
       |                                 ORDER BY qsim DESC, vec_id) AS crank
       |    FROM scored)
       |  WHERE crank <= $int8Candidates),
       |rer AS (
       |  SELECT c.query_id, c.neighbor_id,
       |         round(${cosineSql("a.embedding", "b.embedding")}, 4) AS sim
       |  FROM cand c
       |  JOIN embeddings a ON a.vec_id = c.query_id
       |  JOIN embeddings b ON b.vec_id = c.neighbor_id)
       |SELECT query_id, neighbor_id, sim, CAST(rank AS INTEGER) AS rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |                               ORDER BY sim DESC, neighbor_id) AS rank
       |  FROM rer)
       |WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin

  // ——— IVF-style ANN ———

  /** IVF coarse quantization with deterministic "centroids" (every 25th
    * vector serves as a cell seed — in production these come from a
    * KMeans fit; deterministic seeds keep the DuckDB oracle exact).
    * One pass assigns each vector to its nearest centroid (argmax
    * cosine, 20 broadcast centroids); search then touches only the
    * query's cell. nprobe=1 here; raising nprobe = union more cells.
    */
  /** Nearest-centroid assignment shared by IVF and k-means
    * ([[Clustering]]): broadcast the (cent_id, cv) centroid set, argmax
    * cosine per vector via the native TopKPerGroup operator (the
    * exchange carries at most ONE best-so-far row per vector per input
    * partition — a row_number window would shuffle and sort the full
    * |vectors| × |centroids| candidate set), ties to the smallest
    * cent_id. One definition so the two operators' tie-breaking can
    * never drift. `keepEmbedding=false` prunes the 64-float payload
    * BEFORE the operator — ColumnPruning does not push projections
    * below the custom node, so callers that only need (vec_id,
    * cent_id, sim) must slim the input here.
    */
  def assignNearest(vectors: DataFrame, cents: DataFrame,
      keepEmbedding: Boolean): DataFrame = {
    val base = Seq(col("vec_id"), col("cent_id"),
      cosine(col("embedding"), col("cv")).as("sim"))
    val outCols = if (keepEmbedding) base :+ col("embedding") else base
    graft.plans.TopKPerGroup.topKPerGroup(
      vectors.join(broadcast(cents)).select(outCols: _*),
      Seq(col("vec_id")), Seq(col("sim").desc, col("cent_id").asc), 1)
  }

  def annIvf(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val emb = Tables.table(spark, sfDir, "embeddings")
    val centroids = emb.filter(col("vec_id") % 25 === 0)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cv"))
    def assign(vectors: DataFrame): DataFrame =
      assignNearest(vectors, centroids, keepEmbedding = true)
        .select(col("vec_id"), col("embedding"), col("cent_id"))
    // the query side re-runs the assignment on its own 1% slice (the
    // vec_id filter pushes to the scan, so this side costs |queries| ×
    // |centroids|): assignment is deterministic (ties broken by
    // cent_id) so it lands in the same cell the staged index holds it
    // in. The corpus side reads the ONE staged index ([[ivfCells]]),
    // shared with the other probe configurations.
    val cells = ivfCells(spark, sfDir)
    val queries = assign(emb.filter(col("vec_id") % 100 === 0))
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"), col("cent_id"))
    val scored = cells.join(broadcast(queries), Seq("cent_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("sim", round(cosine(col("qv"), col("embedding")), 4))
    val wRank = Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("vec_id"))
    scored
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("sim"), col("rank"))
  }

  /** The assembled production ANN stack — IVF + ADC, the shape every
    * large-scale vector store runs: [[annIvf]]'s coarse quantizer
    * decides WHERE to look (only the query's cell is scanned),
    * [[annInt8]]'s integer dot decides CHEAPLY what to shortlist
    * (4×-compressed codes, exact long arithmetic), and full-precision
    * cosine reranks only the [[int8Candidates]] survivors. At 100 TB
    * the float embeddings are touched for ≤ candidates·|queries| rows;
    * everything else streams compressed and cell-local.
    */
  def annIvfInt8(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val emb = Tables.table(spark, sfDir, "embeddings")
    val centroids = emb.filter(col("vec_id") % 25 === 0)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cv"))
    // float-precision cell assignment (the coarse quantizer), slimmed
    // to (vec_id, cent_id) before the exchange; re-split first so the
    // cosine work parallelizes off the single-file scan
    val assigned = assignNearest(
      emb.resplit(spark), centroids,
      keepEmbedding = false).select(col("vec_id"), col("cent_id"))
    val quantized = emb
      .select(col("vec_id"), col("embedding"),
        int8Scale(col("embedding")).as("scale"),
        sqrt(vec_dot(col("embedding"), col("embedding"))).as("nrm"))
      .filter(col("scale") > 0)
      .withColumn("q", int8Codes(col("embedding"), col("scale")))
      .select(col("vec_id"), col("q"), col("scale"), col("nrm"))
    val cells = quantized.join(assigned, Seq("vec_id"))
    // queries take their cell from the SAME assignment — deterministic,
    // so probing q's cell probes where q itself was indexed
    val queries = cells.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("query_id"), col("q").as("qq"),
        col("scale").as("qs"), col("nrm").as("qn"), col("cent_id"))
    val scored = cells.join(broadcast(queries), Seq("cent_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        (int_vec_dot(col("q"), col("qq")).cast("double") * col("scale") * col("qs")
          / (col("nrm") * col("qn"))).as("qsim"))
    val cands = graft.plans.TopKPerGroup.topKPerGroup(
      scored, Seq(col("query_id")), Seq(col("qsim").desc, col("vec_id").asc),
      int8Candidates)
      .select(col("query_id"), col("vec_id").as("neighbor_id"))
    val rer = cands
      .join(emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("nv")),
        Seq("neighbor_id"))
      .join(broadcast(emb.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"))),
        Seq("query_id"))
      .withColumn("sim", round(cosine(col("qv"), col("nv")), 4))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    rer.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("neighbor_id"), col("sim"), col("rank"))
  }

  /** DuckDB twin: the IVF assignment CTEs joined with the int8
    * quantization CTEs — both already proven against their standalone
    * oracles.
    */
  val annIvfInt8Sql: String =
    "WITH " + ivfCentSql + Quantizer.assignSql(Quantizer.Coarse, "asg", "embeddings", "cent") +
    s""",
       |s AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
       |         $int8ScaleSql AS scale,
       |         sqrt(list_inner_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
       |  FROM embeddings),
       |qz AS (
       |  SELECT vec_id, scale, nrm,
       |         list_transform(e, v -> round(v / scale)) AS q
       |  FROM s WHERE scale > 0),
       |cells AS (SELECT qz.*, asg.cent_id FROM qz JOIN asg USING (vec_id)),
       |qry AS (SELECT vec_id AS query_id, q AS qq, scale AS qs, nrm AS qn, cent_id
       |        FROM cells WHERE vec_id % 100 = 0),
       |scored AS (
       |  SELECT query_id, c.vec_id,
       |         list_inner_product(c.q, qq) * c.scale * qs / (c.nrm * qn) AS qsim
       |  FROM cells c JOIN qry USING (cent_id) WHERE c.vec_id <> query_id),
       |cand AS (
       |  SELECT query_id, vec_id AS neighbor_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id
       |                                 ORDER BY qsim DESC, vec_id) AS crank
       |    FROM scored)
       |  WHERE crank <= $int8Candidates),
       |rer AS (
       |  SELECT c.query_id, c.neighbor_id,
       |         round(${cosineSql("a.embedding", "b.embedding")}, 4) AS sim
       |  FROM cand c
       |  JOIN embeddings a ON a.vec_id = c.query_id
       |  JOIN embeddings b ON b.vec_id = c.neighbor_id)
       |SELECT query_id, neighbor_id, sim, CAST(rank AS INTEGER) AS rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |                               ORDER BY sim DESC, neighbor_id) AS rank
       |  FROM rer)
       |WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin

  // ——— product quantization (PQ) ———

  /** PQ geometry: the 64-dim embedding splits into [[pqSubspaces]]
    * contiguous 16-dim subvectors, each coded against its own
    * [[pqK]]-entry codebook — 64 floats (256 B) compress to 4 code
    * bytes, the 64× storage story that makes billion-vector indexes
    * RAM-resident.
    */
  val pqSubspaces = 4
  val pqSubDim: Int = dim / pqSubspaces
  /** Codebook entries per subspace (seeds: every 50th vec_id < 800). */
  val pqK = 16
  /** ADC shortlist size per query before the exact float rerank. */
  val pqCandidates = 20

  /** (vec_id, sub_id, sv) subvector frame — one row per subspace. */
  private[ext] def pqSubvectors(emb: DataFrame, idCol: String): DataFrame = {
    val slices = (0 until pqSubspaces).map(s =>
      struct(lit(s).as("sub_id"),
        slice(col("embedding"), s * pqSubDim + 1, pqSubDim).as("sv")))
    emb.select(col(idCol), explode(array(slices: _*)).as("p"))
      .select(col(idCol), col("p.sub_id").as("sub_id"), col("p.sv").as("sv"))
  }

  /** Nearest codebook entry per (vec, subspace) by L2 — argmin |sv−cv|²
    * ≡ argmax 2·⟨sv,cv⟩ − |cv|² (|sv|² is constant inside the group),
    * ties to the smaller cent_id. Native TopKPerGroup: ≤1 slim row per
    * group per partition crosses the exchange.
    */
  private[ext] def pqNearest(subs: DataFrame, cents: DataFrame,
      keepSv: Boolean): DataFrame = {
    val score = (lit(2.0) * dot(col("sv"), col("cv"))
      - dot(col("cv"), col("cv"))).as("score")
    val base = Seq(col("vec_id"), col("sub_id"), col("cent_id"), score)
    val cols = if (keepSv) base :+ col("sv") else base
    graft.plans.TopKPerGroup.topKPerGroup(
      subs.join(broadcast(cents), Seq("sub_id")).select(cols: _*),
      Seq(col("vec_id"), col("sub_id")),
      Seq(col("score").desc, col("cent_id").asc), 1)
  }

  /** Product-quantized ANN with asymmetric-distance (ADC) scoring —
    * the FAISS-style memory-bound search shape, assembled end to end:
    *
    *  1. codebooks: per-subspace seeds (every 50th vec), one Lloyd L2
    *     refinement (mean per (sub, cent, dim), float-cast so the
    *     oracle replays the update bit-for-bit — the kmeans argument);
    *     4×16×16 floats, metadata-scale at ANY corpus size.
    *  2. codes: each vector → 4 small ints (argmin-L2 per subspace,
    *     ties to smaller cent_id) — the only corpus-scale state.
    *  3. ADC: per query, a 4×16 table of ⟨q_s, c⟩ dots; the quantized
    *     dot ⟨q, x̂⟩ is then FOUR table lookups summed in fixed
    *     subspace order (pivot columns, not an agg over an arbitrary
    *     merge order — cross-engine deterministic).
    *  4. shortlist [[pqCandidates]] per query on the native
    *     TopKPerGroup, then exact float cosine rerank to top-5.
    *
    * Scale shape: codebooks and per-query tables broadcast; the
    * corpus-side work is one codes scan + a (sub_id, code) hash join
    * against the tiny table side; nothing quadratic, nothing driver-
    * side beyond the 64-row codebook materialization between Lloyd
    * rounds (the canonical Lloyd shape, as in kmeans).
    */
  def annPq(spark: SparkSession, sfDir: String): DataFrame = {
    val (codes, cents) = pqServingPair(spark, sfDir)
    pqSearch(spark, sfDir, cents, codes)
  }

  /** Corpus subvector frame + deterministic codebook seeds. */
  private def pqSeedInputs(spark: SparkSession, sfDir: String): (DataFrame, DataFrame) = {
    val emb = Tables.table(spark, sfDir, "embeddings")
    val subs = pqSubvectors(
      emb.resplit(spark), "vec_id")
    val cents0 = pqSubvectors(
      emb.filter(col("vec_id") % 50 === 0 && col("vec_id") < 800), "vec_id")
      .select(col("sub_id"), col("vec_id").as("cent_id"), col("sv").as("cv"))
    (subs, cents0)
  }

  /** Staged round-1 PQ codebook (4×16×16 floats — metadata-scale):
    * the production index artifact, built once per (session, corpus)
    * like [[ivfCells]]; the calibration sweep ([[annPqRounds]]) builds
    * its own per-round-count codebooks inline by design.
    */
  def pqCodebookStaged(spark: SparkSession, sfDir: String): DataFrame =
    Shared.memo(spark, sfDir, "pq_codebook") {
      val (subs, cents0) = pqSeedInputs(spark, sfDir)
      Quantizer.train(Quantizer.Product, subs, cents0, rounds = 1)
    }

  /** Staged round-1 PQ code table (vec_id → 4 small ints) — the only
    * corpus-scale index state, clustered by vec_id for the rerank join.
    * Since r20 this is a BUILD CACHE feeding [[pqIndexRoot]]'s v0
    * write; the searches serve from the versioned commit-path pair.
    */
  def pqCodesStaged(spark: SparkSession, sfDir: String): DataFrame =
    Shared.memoClustered(spark, sfDir, "pq_codes", Some("vec_id" -> 32)) {
      val (subs, _) = pqSeedInputs(spark, sfDir)
      pqNearest(subs, pqCodebookStaged(spark, sfDir), keepSv = false)
        .select(col("vec_id"), col("sub_id"), col("cent_id").as("code"))
    }

  /** Root of the VERSIONED commit-path PQ index for (session, corpus)
    * — the r19-judge unification: before r20, searches read the
    * [[Shared.memo]]-staged pq_codebook/pq_codes directly, so a
    * `CALL graft.system.maintain_pq` retrain's atomic version swap was
    * invisible to serving (exactly the staleness class [[PqDrift]]
    * exists to kill). Now v0 is written ONCE per (session, corpus)
    * through the sink commit path — codebook sibling + sub_id-
    * partitioned code table, [[PqDrift.versionPath]] layout — from the
    * staged build cache, and every PQ search resolves the CURRENT
    * committed (codes, codebook) pair at plan time
    * ([[PqDrift.currentVersion]]), so a retrain that lands v1 is
    * served with no rebuild. A crashed writer leaves no completed
    * commit, so the next build wipes the partial v0 and rewrites —
    * the [[Shared]] persisted-mode `_SUCCESS` discipline, applied to
    * the pair.
    */
  def pqIndexRoot(spark: SparkSession, sfDir: String): String =
    Shared.memoPath(spark, sfDir, "pq_index") { root =>
      if (PqDrift.currentVersion(spark, root).isEmpty) {
        val v0 = PqDrift.versionPath(root, 0)
        val fs = new org.apache.hadoop.fs.Path(root)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        Seq(v0, PqDrift.codebookPathFor(v0)).foreach { p =>
          fs.delete(new org.apache.hadoop.fs.Path(p), true)
        }
        PqDrift.writeCodebook(pqCodebookStaged(spark, sfDir), v0)
        PqDrift.sink(v0).upsert(
          pqCodesStaged(spark, sfDir).withColumn("seq", lit(0L)), batchId = 0L)
      }
    }

  /** The committed serving pair (codes, codebook) every PQ search
    * reads — the current version under [[pqIndexRoot]].
    */
  def pqServingPair(spark: SparkSession, sfDir: String): (DataFrame, DataFrame) =
    PqDrift.currentPair(spark, pqIndexRoot(spark, sfDir))

  private def pqTop5From(spark: SparkSession, sfDir: String,
      subs: DataFrame, cents1: DataFrame): DataFrame = {
    val codes = pqNearest(subs, cents1, keepSv = false)
      .select(col("vec_id"), col("sub_id"), col("cent_id").as("code"))
    pqSearch(spark, sfDir, cents1, codes)
  }

  /** ADC shortlist + exact rerank over a given codebook and code table
    * (staged for the production path, inline for the rounds sweep).
    */
  private def pqSearch(spark: SparkSession, sfDir: String,
      cents1: DataFrame, codes: DataFrame): DataFrame = {
    val emb = Tables.table(spark, sfDir, "embeddings")
    val approx = pqAdcApprox(emb, cents1, codes)
    val cands = pqShortlist(approx)
    pqRerank(emb, cands)
  }

  /** ADC stage of [[pqSearch]]: broadcast per-query lookup tables
    * joined to the code scan, quantized dot = the 4 lookups summed in
    * FIXED subspace order (pivot columns, cross-engine deterministic).
    * Its work is |codes| × |queries| pairs, the one stage of this
    * pipeline whose decade ratio is quadratic when the bench fixture
    * scales the query set with the corpus.
    */
  private def pqAdcApprox(emb: DataFrame, cents1: DataFrame,
      codes: DataFrame): DataFrame = {
    // ADC tables: ⟨q_s, c⟩ for every (query, subspace, codebook entry)
    val tables = pqSubvectors(emb.filter(col("vec_id") % 100 === 0), "vec_id")
      .withColumnRenamed("vec_id", "query_id")
      .join(broadcast(cents1), Seq("sub_id"))
      .select(col("query_id"), col("sub_id"), col("cent_id"),
        dot(col("sv"), col("cv")).as("tab"))
    val subCols = (0 until pqSubspaces).map(s =>
      max(when(col("sub_id") === s, col("tab"))).as(s"t$s"))
    val tabSide = tables
      .withColumnRenamed("sub_id", "t_sub").withColumnRenamed("cent_id", "t_cent")
    codes
      .join(broadcast(tabSide),
        col("sub_id") === col("t_sub") && col("code") === col("t_cent"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(subCols.head, subCols.tail: _*)
      .select(col("query_id"), col("vec_id"),
        (0 until pqSubspaces).map(s => col(s"t$s")).reduce(_ + _).as("adc"))
  }

  /** Shortlist stage: native TopKPerGroup over the ADC scores. */
  private def pqShortlist(approx: DataFrame): DataFrame =
    graft.plans.TopKPerGroup.topKPerGroup(
      approx, Seq(col("query_id")), Seq(col("adc").desc, col("vec_id").asc),
      pqCandidates)
      .select(col("query_id"), col("vec_id").as("neighbor_id"))

  /** Exact float-cosine rerank of the shortlist to top-5 (unsorted —
    * the caller presents).
    */
  private def pqRerank(emb: DataFrame, cands: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rer = cands
      .join(emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("nv")),
        Seq("neighbor_id"))
      .join(broadcast(emb.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"))),
        Seq("query_id"))
      .withColumn("sim", round(cosine(col("qv"), col("nv")), 4))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    rer.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("neighbor_id"), col("sim"), col("rank"))
  }

  /** IVF+PQ — FAISS's IndexIVFPQ shape, the SCALE PATH for [[annPq]]:
    * the coarse quantizer restricts the ADC scan to the query's cell,
    * so flat PQ's |codes| × |queries| pair grid (the one stage of the
    * PQ pipeline whose decade ratio is quadratic when the bench
    * fixture scales queries with the corpus — measured 100.05× output
    * growth sf0.1→sf1, SCALING.md r18 triage) contracts to
    * cell-local work: per query, ADC touches ~|corpus| / |cells|
    * codes, and at 100 TB the float embeddings are read only for the
    * [[pqCandidates]] rerank survivors. Composes the [[ivfCells]]
    * coarse assignment with the fine quantizer served from the
    * VERSIONED commit-path (codes, codebook) pair
    * ([[pqServingPair]] — so a `maintain_pq` retrain is picked up
    * with no rebuild), then exact float cosine reranks to top-5.
    */
  def annIvfPq(spark: SparkSession, sfDir: String): DataFrame =
    ivfPqSearch(spark, sfDir, nprobe = 1)

  /** [[annIvfPq]] with nprobe = [[ivfNprobe]] — the boundary-recovery
    * knob on the PQ scale path, completing the parity with the float
    * IVF family ([[annIvfNprobe]]): a query near a cell boundary
    * misses neighbors quantized into the adjacent cell under
    * nprobe = 1; probing its two nearest cells recovers them at
    * exactly 2× the (already cell-local) ADC cost. Each corpus vector
    * lives in ONE cell, so a (query, neighbor) pair cannot
    * double-count across probes.
    */
  def annIvfPqNprobe(spark: SparkSession, sfDir: String): DataFrame =
    ivfPqSearch(spark, sfDir, nprobe = ivfNprobe)

  private def ivfPqSearch(spark: SparkSession, sfDir: String,
      nprobe: Int): DataFrame = {
    val emb = Tables.table(spark, sfDir, "embeddings")
    val cellOf = ivfCells(spark, sfDir).select(col("vec_id"), col("cent_id"))
    // the versioned commit-path pair, not the staged build cache: a
    // maintain_pq retrain is visible to this search with no rebuild
    val (servedCodes, cents1) = pqServingPair(spark, sfDir)
    val codes = servedCodes
      .join(cellOf.withColumnRenamed("cent_id", "cell"), Seq("vec_id"))
    val centroids = emb.filter(col("vec_id") % 25 === 0)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cv"))
    // top-nprobe probe cells per query — same expression and tie-break
    // as the staged assignment, so probe cell #1 IS the cell the query
    // itself is indexed in
    val qcells = graft.plans.TopKPerGroup.topKPerGroup(
        emb.filter(col("vec_id") % 100 === 0).join(broadcast(centroids))
          .select(col("vec_id").as("query_id"), col("cent_id"),
            cosine(col("embedding"), col("cv")).as("csim")),
        Seq(col("query_id")), Seq(col("csim").desc, col("cent_id").asc), nprobe)
      .select(col("query_id"), col("cent_id").as("qcell"))
    // per-query ADC tables, exploded by probed cell
    val tables = pqSubvectors(emb.filter(col("vec_id") % 100 === 0), "vec_id")
      .withColumnRenamed("vec_id", "query_id")
      .join(broadcast(cents1), Seq("sub_id"))
      .select(col("query_id"), col("sub_id"), col("cent_id"),
        dot(col("sv"), col("cv")).as("tab"))
      .join(broadcast(qcells), Seq("query_id"))
    val subCols = (0 until pqSubspaces).map(s =>
      max(when(col("sub_id") === s, col("tab"))).as(s"t$s"))
    val tabSide = tables
      .withColumnRenamed("sub_id", "t_sub").withColumnRenamed("cent_id", "t_cent")
    // the cell equality rides the broadcast join: only the query's
    // cell's codes are scored — the IVF contraction itself
    val approx = codes
      .join(broadcast(tabSide),
        col("cell") === col("qcell") && col("sub_id") === col("t_sub")
          && col("code") === col("t_cent"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(subCols.head, subCols.tail: _*)
      .select(col("query_id"), col("vec_id"),
        (0 until pqSubspaces).map(s => col(s"t$s")).reduce(_ + _).as("adc"))
    pqRerank(emb, pqShortlist(approx))
  }

  /** DuckDB twin builder for [[annIvfPq]] / [[annIvfPqNprobe]]: the PQ
    * index CTE chain + the IVF coarse-assignment CTEs, the adc CTE
    * restricted to the query's top-nprobe probe cells, then the shared
    * shortlist/rerank tail.
    */
  private def ivfPqSqlWith(nprobe: Int): String =
    pqIndexCteSql(1) + ",\n" + ivfCentSql +
    Quantizer.assignSql(Quantizer.Coarse, "asg", "embeddings", "cent") +
    s""",
      |qcell AS (
      |  SELECT query_id, qcell FROM (
      |    SELECT e.vec_id AS query_id, c.cent_id AS qcell,
      |           row_number() OVER (PARTITION BY e.vec_id
      |                              ORDER BY ${cosineSql("e.embedding", "c.cv")} DESC,
      |                                       c.cent_id) AS rn
      |    FROM embeddings e, cent c WHERE e.vec_id % 100 = 0)
      |  WHERE rn <= $nprobe)""".stripMargin +
    pqAdcTailSql(
      s"  FROM codes k\n" +
      s"  JOIN asg a ON a.vec_id = k.vec_id\n" +
      s"  JOIN tab t ON t.sub_id = k.sub_id AND t.cent_id = k.code\n" +
      s"  JOIN qcell qc ON qc.query_id = t.query_id\n" +
      s"  WHERE a.cent_id = qc.qcell AND k.vec_id <> t.query_id\n")

  val annIvfPqSql: String = ivfPqSqlWith(1)
  // lazy: `ivfNprobe` is declared further down the object; an eager val
  // here would capture its pre-init 0 (rn <= 0 = empty oracle)
  lazy val annIvfPqNprobeSql: String = ivfPqSqlWith(ivfNprobe)

  /** DuckDB twin of [[annPq]] — subvector slicing (list_slice is
    * 1-based end-inclusive ≡ Spark's slice(start, len)), the same
    * seeds, one float-cast Lloyd round, argmin-L2 codes, ADC pivot
    * sums in subspace order, shortlist, exact rerank.
    */
  /** DuckDB twin builder of [[pqTop5]] at a given Lloyd round count —
    * subvector slicing (list_slice is 1-based end-inclusive ≡ Spark's
    * slice(start, len)), the same seeds, `rounds` float-cast Lloyd
    * refinements (CTE chain a0/m1/cent1 … a{r-1}/m{r}/cent{r}),
    * argmin-L2 codes, ADC pivot sums in subspace order, shortlist,
    * exact rerank. Built from pre-stripped concatenated parts (no
    * composite stripMargin — the margin pass would mangle generated
    * chain text).
    */
  private[ext] def pqSql(rounds: Int): String =
    pqIndexCteSql(rounds) + pqAdcTailSql(
      s"  FROM codes k\n" +
      s"  JOIN tab t ON t.sub_id = k.sub_id AND t.cent_id = k.code\n" +
      s"  WHERE k.vec_id <> t.query_id\n")

  private def pqSubCteSql(src: String, id: String): String =
    (0 until pqSubspaces).map(s =>
      s"SELECT vec_id AS $id, $s AS sub_id, " +
        s"list_slice(embedding, ${s * pqSubDim + 1}, ${s * pqSubDim + pqSubDim}) AS sv " +
        s"FROM $src").mkString("\n    ", "\n    UNION ALL\n    ", "")

  private[ext] def pqL2Sql(sv: String, cv: String): String =
    s"(2.0 * list_inner_product(CAST($sv AS DOUBLE[]), CAST($cv AS DOUBLE[]))" +
      s" - list_inner_product(CAST($cv AS DOUBLE[]), CAST($cv AS DOUBLE[])))"

  /** ADC pivot-sum tail shared by the flat-PQ and IVF+PQ oracles: the
    * caller supplies the FROM/JOIN/WHERE block feeding the adc CTE
    * (flat scans every code row; IVF+PQ restricts to the query's
    * cell), everything from the pivot onward is identical.
    */
  private def pqAdcTailSql(adcFrom: String): String = {
    val tCols = (0 until pqSubspaces)
      .map(s => s"max(CASE WHEN t.sub_id = $s THEN t.tab END) AS t$s")
      .mkString(",\n         ")
    val tSum = (0 until pqSubspaces).map(s => s"t$s").mkString(" + ")
    s",\nadc AS (\n" +
    s"  SELECT t.query_id, k.vec_id,\n" +
    s"         $tCols\n" +
    adcFrom +
    s"  GROUP BY t.query_id, k.vec_id),\n" +
    s"cand AS (\n" +
    s"  SELECT query_id, vec_id AS neighbor_id FROM (\n" +
    s"    SELECT query_id, vec_id,\n" +
    s"           row_number() OVER (PARTITION BY query_id\n" +
    s"             ORDER BY ($tSum) DESC, vec_id) AS rn\n" +
    s"    FROM adc)\n" +
    s"  WHERE rn <= $pqCandidates),\n" +
    s"rer AS (\n" +
    s"  SELECT c.query_id, c.neighbor_id,\n" +
    s"         round(${cosineSql("a.embedding", "b.embedding")}, 4) AS sim\n" +
    s"  FROM cand c\n" +
    s"  JOIN embeddings a ON a.vec_id = c.query_id\n" +
    s"  JOIN embeddings b ON b.vec_id = c.neighbor_id)\n" +
    s"SELECT query_id, neighbor_id, sim, CAST(rank AS INTEGER) AS rank FROM (\n" +
    s"  SELECT *, row_number() OVER (PARTITION BY query_id\n" +
    s"                               ORDER BY sim DESC, neighbor_id) AS rank\n" +
    s"  FROM rer)\n" +
    s"WHERE rank <= 5\n" +
    s"ORDER BY query_id, rank"
  }

  /** WITH-chain prefix shared by the PQ oracles: subvector slices,
    * seeds, `rounds` Lloyd refinements, argmin-L2 codes, per-query
    * subvectors and ADC lookup tables (through the `tab` CTE, no
    * trailing comma).
    */
  private def pqIndexCteSql(rounds: Int): String = {
    def sub(src: String, id: String): String = pqSubCteSql(src, id)
    s"WITH subs AS (${sub("embeddings", "vec_id")}),\n" +
    s"seed AS (SELECT * FROM embeddings WHERE vec_id % 50 = 0 AND vec_id < 800),\n" +
    s"cent0 AS (\n" +
    s"  SELECT sub_id, c_id AS cent_id, sv AS cv\n" +
    s"  FROM (${sub("seed", "c_id")})),\n" +
    Quantizer.trainSql(Quantizer.Product, "subs", "cent", rounds) +
    Quantizer.assignSql(Quantizer.Product, "fin", "subs", s"cent$rounds") + ",\n" +
    s"codes AS (SELECT vec_id, sub_id, cent_id AS code FROM fin),\n" +
    s"qsub AS (\n" +
    s"  SELECT q_id AS query_id, sub_id, sv\n" +
    s"  FROM (${sub("embeddings", "q_id")})\n" +
    s"  WHERE q_id % 100 = 0),\n" +
    s"tab AS (\n" +
    s"  SELECT q.query_id, q.sub_id, c.cent_id,\n" +
    s"         list_inner_product(CAST(q.sv AS DOUBLE[]), CAST(c.cv AS DOUBLE[])) AS tab\n" +
    s"  FROM qsub q JOIN cent$rounds c USING (sub_id))"
  }

  val annPqSql: String = pqSql(1)

  /** Cells probed per query by [[annIvfNprobe]]. */
  val ivfNprobe = 2

  /** The corpus-side IVF assignment (every vector in its nearest cell,
    * embedding kept) — the index structure itself. [[Shared.memo]]-
    * staged: [[annIvf]], [[annIvfNprobe]], and [[annProbeSweep]] all
    * probe the SAME built index, exactly as a production store builds
    * once and serves many probe configurations; the |corpus|×|cents|
    * assignment cosines are paid once per (session, corpus).
    */
  def ivfCells(spark: SparkSession, sfDir: String): DataFrame =
   Shared.memoClustered(spark, sfDir, "ivf_cells", Some("cent_id" -> 32)) {
    val emb = Tables.table(spark, sfDir, "embeddings")
    val centroids = emb.filter(col("vec_id") % 25 === 0)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cv"))
    assignNearest(
        emb.resplit(spark), centroids,
        keepEmbedding = true)
      .select(col("vec_id"), col("embedding"), col("cent_id"))
   }

  /** IVF search with nprobe > 1 — the recall/cost knob every
    * production vector store exposes: a query near a cell boundary
    * misses neighbors assigned to the adjacent cell under nprobe=1
    * ([[annIvf]]); probing the query's [[ivfNprobe]] nearest cells
    * recovers them at exactly nprobe× the scan cost. Corpus-side
    * assignment is unchanged (each vector lives in ONE cell, so a
    * (query, neighbor) pair can't double-count); only the query's
    * probe set widens — the per-query work is still
    * nprobe · cell-size, never the corpus.
    */
  def annIvfNprobe(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val emb = Tables.table(spark, sfDir, "embeddings")
    val centroids = emb.filter(col("vec_id") % 25 === 0)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cv"))
    val cells = ivfCells(spark, sfDir)
    // top-nprobe nearest centroids per query via the native
    // TopKPerGroup (same expression and tie-break as assignNearest, so
    // probe cell #1 is exactly the nprobe=1 cell)
    val queries = graft.plans.TopKPerGroup.topKPerGroup(
        emb.filter(col("vec_id") % 100 === 0).join(broadcast(centroids))
          .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
            col("cent_id"), cosine(col("embedding"), col("cv")).as("csim")),
        Seq(col("query_id")), Seq(col("csim").desc, col("cent_id").asc), ivfNprobe)
      .select(col("query_id"), col("qv"), col("cent_id"))
    val scored = cells.join(broadcast(queries), Seq("cent_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("sim", round(cosine(col("qv"), col("embedding")), 4))
    val w = Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("sim"), col("rank"))
  }

  /** DuckDB twin of [[annIvfNprobe]] — the annIvf CTEs with the query
    * assignment widened to rn ≤ nprobe.
    */
  val annIvfNprobeSql: String =
    "WITH " + ivfCentSql +
    Quantizer.assignSql(Quantizer.Coarse, "cells", "embeddings", "cent") +
    s""",
       |qp AS (
       |  SELECT query_id, qv, cent_id FROM (
       |    SELECT e.vec_id AS query_id, e.embedding AS qv, c.cent_id,
       |           row_number() OVER (PARTITION BY e.vec_id
       |                              ORDER BY ${cosineSql("e.embedding", "c.cv")} DESC,
       |                                       c.cent_id) AS rn
       |    FROM embeddings e, cent c WHERE e.vec_id % 100 = 0)
       |  WHERE rn <= $ivfNprobe),
       |scored AS (
       |  SELECT qp.query_id, e.vec_id AS neighbor_id,
       |         round(${cosineSql("qp.qv", "e.embedding")}, 4) AS sim
       |  FROM qp JOIN cells e USING (cent_id) WHERE e.vec_id <> qp.query_id)
       |SELECT query_id, neighbor_id, sim, CAST(rank AS INTEGER) AS rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |                               ORDER BY sim DESC, neighbor_id) AS rank
       |  FROM scored)
       |WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin

  val annIvfSql: String =
    "WITH " + ivfCentSql +
    Quantizer.assignSql(Quantizer.Coarse, "cells", "embeddings", "cent") +
    s""",
       |q AS (SELECT vec_id AS query_id, embedding AS qv, cent_id FROM cells
       |      WHERE vec_id % 100 = 0),
       |scored AS (
       |  SELECT q.query_id, e.vec_id AS neighbor_id,
       |         round(${cosineSql("q.qv", "e.embedding")}, 4) AS sim
       |  FROM q JOIN cells e USING (cent_id) WHERE e.vec_id <> q.query_id)
       |SELECT query_id, neighbor_id, sim, CAST(rank AS INTEGER) AS rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |                               ORDER BY sim DESC, neighbor_id) AS rank
       |  FROM scored)
       |WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin

  /** Recall@5 of the IVF(nprobe=1) path against the exact brute-force
    * top-5 — the evaluation a production pipeline runs to tune cell
    * count and probe width before trusting an ANN index, emitted per
    * query (a single mean hides the tail queries that fall off their
    * cell boundary).
    *
    * Scale shape: both sides are the existing ANN pipelines (their
    * scale stories apply unchanged); the comparison joins two
    * k-rows-per-query frames — metadata-scale regardless of corpus
    * size.
    */
  def annRecall(spark: SparkSession, sfDir: String): DataFrame = {
    val bf = bruteForceTop5(spark, sfDir).select(col("query_id"), col("neighbor_id"))
    val iv = annIvf(spark, sfDir).select(col("query_id"), col("neighbor_id"))
    val hits = bf.join(iv, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_hits"))
    bf.select(col("query_id")).distinct()
      .join(hits, Seq("query_id"), "left_outer")
      .select(col("query_id"), coalesce(col("n_hits"), lit(0L)).as("n_hits"))
      .withColumn("recall", round(col("n_hits").cast("double") / 5, 4))
  }

  /** DuckDB twin of [[annRecall]] — the two ANN oracles nested as
    * derived tables (concatenated pre-stripped, no composite
    * stripMargin), joined on exact hits. Defined after [[annIvfSql]]:
    * object vals initialize top-to-bottom, so referencing it earlier
    * would concatenate null.
    */
  val annRecallSql: String =
    "WITH bf AS (SELECT query_id, neighbor_id FROM (" + annBruteForceSql + ")),\n" +
      "iv AS (SELECT query_id, neighbor_id FROM (" + annIvfSql + ")),\n" +
      """h AS (SELECT bf.query_id, count(iv.neighbor_id) AS n_hits
        |      FROM bf LEFT JOIN iv ON iv.query_id = bf.query_id
        |                          AND iv.neighbor_id = bf.neighbor_id
        |      GROUP BY bf.query_id)
        |SELECT query_id, CAST(n_hits AS BIGINT) AS n_hits,
        |       round(n_hits::DOUBLE / 5, 4) AS recall
        |FROM h
        |ORDER BY query_id""".stripMargin

  /** Probe-width sweep: aggregate recall@5 of the IVF index at
    * nprobe = 1 ([[annIvf]]) and nprobe = 2 ([[annIvfNprobe]]) against
    * the exact top-5 — the [[graft.ext.Dedup.lshRecall]] analog for the
    * vector index, read before fixing nprobe for a corpus run (the
    * recall step from 1 → 2 tells you how much truth sits across cell
    * boundaries; its cost is exactly one extra cell scan per query).
    *
    * Scale shape: the compared sides are the existing pipelines; the
    * comparison itself joins k-rows-per-query frames and aggregates to
    * two rows. The exact baseline reads the memoized
    * [[bruteForceTop5]] staging, shared with every other recall eval.
    */
  def annProbeSweep(spark: SparkSession, sfDir: String): DataFrame = {
    val bf = bruteForceTop5(spark, sfDir).select(col("query_id"), col("neighbor_id"))
    val truth = bf.agg(count(lit(1)).as("n_truth"))
    val rows = Seq(
      1 -> annIvf(spark, sfDir),
      ivfNprobe -> annIvfNprobe(spark, sfDir)).map { case (np, ann) =>
      bf.join(ann.select(col("query_id"), col("neighbor_id")),
          Seq("query_id", "neighbor_id"), "left_semi")
        .agg(count(lit(1)).as("n_hits"))
        .crossJoin(truth) // one-row scalar rides along
        .select(lit(np).as("nprobe"), col("n_hits"), col("n_truth"),
          round(col("n_hits").cast("double") / col("n_truth"), 4).as("recall"))
    }
    rows.reduce(_ unionAll _)
  }

  /** DuckDB twin of [[annProbeSweep]] — all three ANN oracles nested
    * as derived tables (concatenated pre-stripped), one UNION ALL row
    * per probe width.
    */
  val annProbeSweepSql: String =
    "WITH bf AS (SELECT query_id, neighbor_id FROM (" + annBruteForceSql + ")),\n" +
      "iv1 AS (SELECT query_id, neighbor_id FROM (" + annIvfSql + ")),\n" +
      "iv2 AS (SELECT query_id, neighbor_id FROM (" + annIvfNprobeSql + ")),\n" +
      s"""t AS (SELECT CAST(count(*) AS BIGINT) AS n_truth FROM bf),
        |h1 AS (SELECT CAST(count(*) AS BIGINT) AS n_hits FROM bf
        |       JOIN iv1 USING (query_id, neighbor_id)),
        |h2 AS (SELECT CAST(count(*) AS BIGINT) AS n_hits FROM bf
        |       JOIN iv2 USING (query_id, neighbor_id))
        |SELECT * FROM (
        |  SELECT 1 AS nprobe, h1.n_hits, t.n_truth,
        |         round(h1.n_hits::DOUBLE / t.n_truth, 4) AS recall
        |  FROM h1, t
        |  UNION ALL
        |  SELECT $ivfNprobe AS nprobe, h2.n_hits, t.n_truth,
        |         round(h2.n_hits::DOUBLE / t.n_truth, 4) AS recall
        |  FROM h2, t)
        |ORDER BY nprobe""".stripMargin

  /** Compression-tier recall sweep: aggregate recall@5 of the three
    * PQ serving tiers against the exact top-5 truth in ONE gate —
    * flat PQ (ADC over every code), IVF+PQ at nprobe = 1 (ADC over
    * the query's cell only) and at nprobe = [[ivfNprobe]] — the
    * decision table a production store reads before choosing a tier:
    * what the cell restriction costs in recall, and how much of it one
    * extra probed cell buys back (at exactly 2× the cell-local ADC
    * cost). Completes the eval family for the r18 IVF+PQ operators the
    * way [[annProbeSweep]] does for the float IVF index.
    *
    * Read-out on the sf0.1 corpus (recall@5): flat PQ 0.22,
    * IVF+PQ nprobe=1 **0.80**, nprobe=2 0.69 — two instructive
    * inversions. The cell restriction RAISES recall over the flat
    * scan: true neighbors overwhelmingly share the query's cell
    * ([[annProbeSweep]]: float-IVF nprobe=1 recall 0.96), so probing
    * one cell is a strong TRUE-neighbor pre-filter, while flat PQ must
    * find the same neighbors through 4×16-quantized dots against the
    * ENTIRE corpus and loses them to quantization confusion in the
    * shortlist. And nprobe=2 LOWERS recall at fixed
    * [[pqCandidates]]: the second cell doubles the candidate pool
    * with rows whose noisy ADC scores displace first-cell true
    * neighbors from the fixed-width shortlist — widen the shortlist
    * with the probe count if recall, not cost, is the binding
    * constraint.
    *
    * Scale shape: the compared sides are the existing pipelines over
    * the STAGED index structures; the comparison joins
    * k-rows-per-query frames and aggregates to three rows. The exact
    * baseline reads the memoized [[bruteForceTop5]] staging.
    */
  def annIvfPqSweep(spark: SparkSession, sfDir: String): DataFrame = {
    val bf = bruteForceTop5(spark, sfDir).select(col("query_id"), col("neighbor_id"))
    val truth = bf.agg(count(lit(1)).as("n_truth"))
    val rows = Seq(
      "1_pq_flat" -> annPq(spark, sfDir),
      "2_ivfpq_np1" -> annIvfPq(spark, sfDir),
      "3_ivfpq_np2" -> annIvfPqNprobe(spark, sfDir)).map { case (tier, ann) =>
      bf.join(ann.select(col("query_id"), col("neighbor_id")),
          Seq("query_id", "neighbor_id"), "left_semi")
        .agg(count(lit(1)).as("n_hits"))
        .crossJoin(truth) // one-row scalar rides along
        .select(lit(tier).as("tier"), col("n_hits"), col("n_truth"),
          round(col("n_hits").cast("double") / col("n_truth"), 4).as("recall"))
    }
    rows.reduce(_ unionAll _)
  }

  /** DuckDB twin of [[annIvfPqSweep]] — the four ANN oracles nested as
    * derived tables (concatenated pre-stripped), one UNION ALL row per
    * tier. Lazy: [[annIvfPqNprobeSql]] is itself lazy (ivfNprobe
    * init-order), and an eager val here would force it too early.
    */
  lazy val annIvfPqSweepSql: String =
    "WITH bf AS (SELECT query_id, neighbor_id FROM (" + annBruteForceSql + ")),\n" +
      "p0 AS (SELECT query_id, neighbor_id FROM (" + annPqSql + ")),\n" +
      "p1 AS (SELECT query_id, neighbor_id FROM (" + annIvfPqSql + ")),\n" +
      "p2 AS (SELECT query_id, neighbor_id FROM (" + annIvfPqNprobeSql + ")),\n" +
      """t AS (SELECT CAST(count(*) AS BIGINT) AS n_truth FROM bf),
        |h0 AS (SELECT CAST(count(*) AS BIGINT) AS n_hits FROM bf
        |       JOIN p0 USING (query_id, neighbor_id)),
        |h1 AS (SELECT CAST(count(*) AS BIGINT) AS n_hits FROM bf
        |       JOIN p1 USING (query_id, neighbor_id)),
        |h2 AS (SELECT CAST(count(*) AS BIGINT) AS n_hits FROM bf
        |       JOIN p2 USING (query_id, neighbor_id))
        |SELECT * FROM (
        |  SELECT '1_pq_flat' AS tier, h0.n_hits, t.n_truth,
        |         round(h0.n_hits::DOUBLE / t.n_truth, 4) AS recall
        |  FROM h0, t
        |  UNION ALL
        |  SELECT '2_ivfpq_np1' AS tier, h1.n_hits, t.n_truth,
        |         round(h1.n_hits::DOUBLE / t.n_truth, 4) AS recall
        |  FROM h1, t
        |  UNION ALL
        |  SELECT '3_ivfpq_np2' AS tier, h2.n_hits, t.n_truth,
        |         round(h2.n_hits::DOUBLE / t.n_truth, 4) AS recall
        |  FROM h2, t)
        |ORDER BY tier""".stripMargin

  /** Codebook round counts swept by [[annPqRounds]]. */
  val pqRoundsSweep: Seq[Int] = Seq(1, 2, 3)

  /** Codebook-quality sweep: aggregate recall@5 of the PQ/ADC search
    * as a function of Lloyd refinement rounds — the [[annProbeSweep]]
    * analog for the quantizer's OTHER knob, read before fixing the
    * codebook training budget for a corpus run (the recall step from
    * round 1 → n tells you whether the codebook, rather than the
    * shortlist width, is what's losing neighbors).
    *
    * Read-out on the sf0.1 corpus: recall@5 0.22 (1 round) → 0.28
    * (2) → 0.26 (3) — one extra refinement buys a real step, then the
    * codebook plateaus and small-sample noise dominates; the budget to
    * fix for this corpus is 2.
    *
    * Scale shape: each swept round count re-runs the PQ pipeline
    * (its scale story applies unchanged — codebooks are broadcast
    * metadata, one codes scan per sweep point); the comparison joins
    * k-rows-per-query frames against the memoized [[bruteForceTop5]]
    * staging and aggregates to |sweep| rows.
    */
  def annPqRounds(spark: SparkSession, sfDir: String): DataFrame = {
    val bf = bruteForceTop5(spark, sfDir).select(col("query_id"), col("neighbor_id"))
    val truth = bf.agg(count(lit(1)).as("n_truth"))
    // ONE materialization of the corpus subvector frame feeds every
    // sweep point's Lloyd collects and code assignment (the sweep runs
    // |rounds|×(rounds+1) corpus passes over it otherwise)
    val (subs0, cents0) = pqSeedInputs(spark, sfDir)
    val subs = subs0.localCheckpoint(true)
    // the sweep's Lloyd collects all run inside this method (each map
    // step executes its collects eagerly), so the checkpointed blocks
    // can be released before returning — only the final small
    // per-sweep-point aggregates survive as the result plan
    try {
      // ONE incremental Lloyd chain instead of a from-scratch training
      // per sweep point (r20): training from fixed seeds is
      // deterministic, so the round-r codebook IS one more refinement
      // of the round-(r-1) codebook — training each point separately
      // ran 1+2+…+max ≈ R²/2 Lloyd rounds where the chain runs R.
      // Each chained step collects the same 4×16×16-float codebook the
      // separate trainings collected, bit-for-bit.
      val centsByRound: Map[Int, DataFrame] = {
        var c = cents0
        (1 to pqRoundsSweep.max).map { r =>
          c = Quantizer.train(Quantizer.Product, subs, c, rounds = 1)
          r -> c
        }.toMap
      }
      val rows = pqRoundsSweep.map { r =>
        bf.join(pqTop5From(spark, sfDir, subs, centsByRound(r))
              .select(col("query_id"), col("neighbor_id")),
            Seq("query_id", "neighbor_id"), "left_semi")
          .agg(count(lit(1)).as("n_hits"))
          .crossJoin(truth) // one-row scalar rides along
          .select(lit(r).as("rounds"), col("n_hits"), col("n_truth"),
            round(col("n_hits").cast("double") / col("n_truth"), 4).as("recall"))
          .localCheckpoint(true) // one row per sweep point: sever the
        // lineage back to `subs` so its blocks can be freed below
      }
      rows.reduce(_ unionAll _)
    } finally release(subs)
  }

  /** Release the storage blocks of a `localCheckpoint(true)`-materialized
    * frame. `Dataset.unpersist` only uncaches CacheManager entries — it
    * does NOT free checkpoint RDD blocks, which otherwise live until the
    * driver GCs the RDD reference (ContextCleaner).
    */
  private def release(df: DataFrame): Unit =
    try df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    } catch { case _: Throwable => () }

  /** DuckDB twin of [[annPqRounds]] — one [[pqSql]] instantiation per
    * swept round count, nested as derived tables (concatenated
    * pre-stripped), one UNION ALL row per sweep point.
    */
  val annPqRoundsSql: String =
    "WITH bf AS (SELECT query_id, neighbor_id FROM (" + annBruteForceSql + ")),\n" +
      pqRoundsSweep.map(r =>
        s"pq$r AS (SELECT query_id, neighbor_id FROM (" + pqSql(r) + ")),\n").mkString +
      "t AS (SELECT CAST(count(*) AS BIGINT) AS n_truth FROM bf),\n" +
      pqRoundsSweep.map(r =>
        s"h$r AS (SELECT CAST(count(*) AS BIGINT) AS n_hits FROM bf\n" +
          s"       JOIN pq$r USING (query_id, neighbor_id))").mkString(",\n") +
      "\nSELECT * FROM (\n" +
      pqRoundsSweep.map(r =>
        s"  SELECT $r AS rounds, h$r.n_hits, t.n_truth,\n" +
          s"         round(h$r.n_hits::DOUBLE / t.n_truth, 4) AS recall\n" +
          s"  FROM h$r, t").mkString("\n  UNION ALL\n") +
      ")\nORDER BY rounds"
}
