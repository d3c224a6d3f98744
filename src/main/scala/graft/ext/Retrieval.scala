package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.Tables.Resplit

/** Sparse lexical retrieval over the document corpus — the inverted-
  * index BM25 ranking that a training-data pipeline runs for
  * decontamination-by-retrieval, nearest-benchmark auditing, and
  * query-driven corpus slicing (the lexical complement of the dense
  * ANN paths in [[Similarity]]).
  *
  * The benchmark split (every 50th doc, as in [[Dedup.decontaminate]])
  * plays the query set; the remaining corpus is the indexed side.
  *
  * Scale shape: the "index" is the (token → doc, tf) posting relation,
  * and it is pruned BEFORE it ever shuffles — the query vocabulary (a
  * curated benchmark: small) is broadcast onto the exploded corpus
  * scan as a map-side semi filter, so the tf aggregation, the df
  * count, and the scoring join all carry only query-vocabulary
  * postings; the 100 TB corpus itself never reshuffles. (tf and df for
  * a surviving token are unchanged by the prune — both are functions
  * of that token's postings only.) Per-(query, doc) scores reduce in
  * one hash agg keyed by the match pairs (bounded by postings hit,
  * never |Q|×|corpus|), and the final top-k per query runs on the
  * native [[graft.plans.TopKPerGroup]] operator — the exchange
  * carries ≤ k rows per query per partition.
  *
  * Determinism: tf, df, N, and doc lengths are exact integers; idf and
  * the saturation term are evaluated in double on both engines and the
  * summed score is ROUNDED to 4 dp before ranking, so a sub-ulp
  * divergence in ln() or in float-add order cannot reorder near-ties
  * (ties break on doc_id, mirrored in the oracle's row_number).
  */
object Retrieval {

  /** Standard Robertson BM25 constants. */
  val bm25K1 = 1.2
  val bm25B = 0.75

  /** Results per query. */
  val bm25TopK = 5

  def bm25(spark: SparkSession, sfDir: String): DataFrame =
    rankTopK(scoredBm25(spark, sfDir))

  /** Hard-negative mining for retrieval training: per query, the
    * top-scoring BM25 candidates that are NOT near-duplicates of the
    * query (no ≥ [[Dedup.minSharedShingles]]-shingle overlap — the
    * [[Dedup.contaminationPairs]] signal). Lexically close but
    * non-duplicated documents are exactly the negatives a dense
    * retriever trains against; the contaminated ones would be false
    * negatives. Ranking happens AFTER the filter, so every query
    * yields a full top-k of genuine negatives.
    *
    * Scale shape: the BM25 scoring pipeline as-is, plus one anti-join
    * against the contaminated pair set — benchmark-bounded, hence
    * broadcast.
    *
    * NOTE: like [[Dedup.decontaminate]], this runs Spark jobs at
    * CONSTRUCTION time (the contamination side's inventory
    * materialization and Bloom build) — build the DataFrame only when
    * you mean to execute it.
    */
  def hardNegatives(spark: SparkSession, sfDir: String): DataFrame = {
    val contaminated = Dedup.contaminationPairs(spark, sfDir)
      .select(col("bench_doc").as("query_doc"), col("train_doc").as("doc_id"))
    rankTopK(
      scoredBm25(spark, sfDir)
        .join(broadcast(contaminated), Seq("query_doc", "doc_id"), "left_anti"))
  }

  /** Native-TopKPerGroup top-k + rank numbering over the survivors. */
  private def rankTopK(scored: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val top = graft.plans.TopKPerGroup.topKPerGroup(
      scored, Seq(col("query_doc")), Seq(col("score").desc, col("doc_id").asc),
      bm25TopK)
    val w = Window.partitionBy(col("query_doc"))
      .orderBy(col("score").desc, col("doc_id").asc)
    top.withColumn("rank", row_number().over(w))
      .select(col("query_doc"), col("doc_id"), col("score"), col("rank"))
  }

  private[ext] def scoredBm25(spark: SparkSession, sfDir: String): DataFrame =
   Shared.memoClustered(spark, sfDir, "bm25_scored", Some("query_doc" -> 32)) {
    val docs = Tables.table(spark, sfDir, "documents")
    val corpus = docs.filter(col("doc_id") % 50 =!= 0)
    val queries = docs.filter(col("doc_id") % 50 === 0)

    // query side: DISTINCT terms per benchmark doc (small — broadcast)
    val qterms = queries
      .select(col("doc_id").as("query_doc"),
        explode(array_distinct(Text.tokens(col("text")))).as("token"))
    val qvocab = qterms.select(col("token")).distinct()

    // tokenize ONCE: postings, doc lengths, and the corpus stats all
    // need the token stream, and without sharing it each re-runs the
    // full corpus scan + tokenize — the dominant cost of the pipeline.
    // Lazy localCheckpoint materializes (doc_id, toks, dl) on the first
    // action and the three derivations below read the checkpointed
    // blocks (a DISK_ONLY persist or a staging parquet is the
    // multi-executor analog of the same move).
    val tokenized = corpus
      .select(col("doc_id"), Text.tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"), size(col("toks")).as("dl"))
      .localCheckpoint(false)

    // posting list restricted to the query vocabulary: the broadcast
    // semi filter runs map-side on the exploded checkpoint read, BEFORE
    // the tf exchange — only matching tokens' postings ever shuffle.
    // dl is functionally dependent on doc_id, so it rides through the
    // tf aggregation as first() instead of costing a separate
    // corpus-scale docLen join afterwards.
    val postings = tokenized
      .select(col("doc_id"), col("dl"), explode(col("toks")).as("token"))
      .join(broadcast(qvocab), Seq("token"), "left_semi")
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"), first(col("dl")).as("dl"))
    // df is bounded by the query vocabulary (a curated benchmark:
    // metadata-scale however big the corpus), so it broadcasts
    val dfreq = postings.groupBy(col("token")).agg(count(lit(1)).as("dfc"))
    val stats = tokenized.agg(
      count(lit(1)).as("n_docs"),
      avg(col("dl").cast("double")).as("avgdl"))

    val idf = log(lit(1.0) +
      (col("n_docs") - col("dfc") + 0.5) / (col("dfc") + 0.5))
    val sat = col("tf").cast("double") * (bm25K1 + 1.0) /
      (col("tf") + lit(bm25K1) * (lit(1.0 - bm25B) + lit(bm25B) * col("dl") / col("avgdl")))
    postings
      .join(broadcast(qterms), Seq("token"))
      .join(broadcast(dfreq), Seq("token"))
      .crossJoin(broadcast(stats)) // two scalars ride along
      .groupBy(col("query_doc"), col("doc_id"))
      .agg(round(sum(idf * sat), 4).as("score"))
   }

  /** Negatives per anchor in [[contrastivePairs]]. */
  val contrastiveK = 4

  /** Pool sampling modulus FLOOR: the negative pool is a hash-mod
    * corpus sample whose modulus SCALES with the corpus
    * (ceil(n / [[contrastivePoolTarget]]), floored here) so |pool|
    * stays ~[[contrastivePoolTarget]] docs at any scale. A fixed
    * modulus makes the pool ∝ corpus and the anchors × pool candidate
    * join quadratic — exactly what the sf1 scaling point caught
    * (83 s on 10× data); bounded, the join is |anchors|·O(1) and the
    * pool stays broadcastable at 100 TB. At sf0.01/sf0.1 the scaled
    * modulus equals the floor, so gate hashes are unchanged.
    */
  val contrastivePoolMod = 4

  /** Target negative-pool size the sampling modulus scales to. */
  val contrastivePoolTarget = 1250

  /** Contrastive-triplet construction for embedding-model training:
    * every document with a verified near-duplicate becomes an anchor,
    * its lowest-id near-dup partner the positive (the pair a bi-encoder
    * should map together), and [[contrastiveK]] deterministic
    * hash-sampled non-near-dup documents the in-batch negatives. The
    * self-supervised mining recipe near-dup detection already paid for.
    *
    * Scale shape: the near-dup edge list is computed once and
    * lazy-localCheckpointed (two consumers — positive selection and the
    * negative anti-join — must not each re-run the LSH pipeline, the
    * lesson `dupPageRank` learned in round 7); the negative pool is a
    * bounded hash-mod sample and broadcasts, so the anchors × pool
    * candidate join is |anchors|·|pool| with the pool side
    * metadata-scale; per-anchor top-k rides the native
    * [[graft.plans.TopKPerGroup]]. Negative choice is content-stable
    * hash rank, not rand() — reproducible across runs, engines, and
    * resumes.
    */
  def contrastivePairs(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pairs = Dedup.minhashLshPairs(spark, sfDir) // Shared.memo-materialized
      .select(col("doc_a"), col("doc_b"))
    val sym = pairs.union(pairs.select(col("doc_b"), col("doc_a")))
      .toDF("anchor", "partner")
    val anchors = sym.groupBy(col("anchor")).agg(min(col("partner")).as("positive"))
    val nDocs = Tables.table(spark, sfDir, "documents").count()
    val poolMod = math.max(contrastivePoolMod.toLong,
      math.ceil(nDocs.toDouble / contrastivePoolTarget).toLong)
    val pool = Tables.table(spark, sfDir, "documents")
      .select(col("doc_id").as("negative"))
      .filter(Text.md5Long(col("negative").cast("string")) % poolMod === 0)
    val h = Text.md5Long(concat(
      col("anchor").cast("string"), lit(":"), col("negative").cast("string")))
    val cand = anchors
      .join(broadcast(pool),
        col("negative") =!= col("anchor") && col("negative") =!= col("positive"))
      .join(sym.withColumnRenamed("partner", "negative"),
        Seq("anchor", "negative"), "left_anti")
      .withColumn("h", h)
    val top = graft.plans.TopKPerGroup.topKPerGroup(
      cand, Seq(col("anchor")), Seq(col("h").asc, col("negative").asc), contrastiveK)
    val w = Window.partitionBy(col("anchor"))
      .orderBy(col("h").asc, col("negative").asc)
    top.withColumn("neg_rank", row_number().over(w))
      .select(col("anchor"), col("positive"), col("negative"), col("neg_rank"))
  }

  /** DuckDB twin of [[contrastivePairs]]: ground-truth pairwise near-dup
    * edges (the [[Dedup.minhashLshSql]] argument: banding recall ≈ 1 at
    * the planted j ≥ 0.9), same min-partner positive, same hash-ranked
    * pool negatives.
    */
  val contrastivePairsSql: String =
    s"""WITH ${Dedup.shinglesSqlCte},
       |p AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM sh a, sh b
       |  WHERE a.doc_id < b.doc_id
       |    AND round(len(list_intersect(a.s, b.s))::DOUBLE
       |              / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 4)
       |          >= ${Dedup.jaccardThreshold}),
       |sym AS (SELECT doc_a AS anchor, doc_b AS partner FROM p
       |        UNION ALL SELECT doc_b, doc_a FROM p),
       |an AS (SELECT anchor, min(partner) AS positive FROM sym GROUP BY 1),
       |pool AS (SELECT doc_id AS negative FROM documents
       |         WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT
       |                 % greatest($contrastivePoolMod,
       |                            CAST(ceil((SELECT count(*) FROM documents)
       |                                      / $contrastivePoolTarget.0) AS BIGINT)) = 0),
       |cand AS (
       |  SELECT anchor, positive, negative,
       |         ('0x' || substr(md5(anchor::VARCHAR || ':' || negative::VARCHAR),
       |                         1, 8))::BIGINT AS h
       |  FROM an, pool
       |  WHERE negative <> anchor AND negative <> positive
       |    AND NOT EXISTS (SELECT 1 FROM sym s
       |                    WHERE s.anchor = an.anchor AND s.partner = pool.negative))
       |SELECT anchor, positive, negative, CAST(neg_rank AS INTEGER) AS neg_rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY anchor
       |                               ORDER BY h, negative) AS neg_rank
       |  FROM cand)
       |WHERE neg_rank <= $contrastiveK
       |ORDER BY anchor, neg_rank""".stripMargin

  /** RRF smoothing constant (the standard k=60 of Cormack et al.). */
  val rrfK = 60

  /** Hybrid retrieval — reciprocal-rank fusion of the BM25 lexical
    * ranking and a dense cosine ranking, the production hybrid-search
    * shape (lexical recall ∪ semantic recall, fused rank-wise so
    * neither score scale dominates). Queries are the ids in BOTH query
    * conventions (doc_id % 100 = 0 — these are also % 50 = 0, the BM25
    * benchmark split); each side ranks the % 50 ≠ 0 corpus; fused
    * score = Σ 1/(k + rank) over the sides that retrieved the doc,
    * re-ranked to a final top-k.
    *
    * Scale shape: the BM25 pipeline as-is (query-vocabulary-pruned
    * postings, native top-k); the dense side is the PRODUCTION IVF
    * shortlist ([[Similarity.assignNearest]]'s coarse quantizer,
    * nprobe=1) — fusion only consumes (query, doc, rank), so the
    * brute-force exact scan belongs to the recall evals
    * ([[Similarity.annRecall]]), not here: at 100× this side scans one
    * cell per query, never corpus × queries. The fusion join itself
    * carries ≤ 2k rows per query — metadata-scale however big the
    * corpus.
    */
  def hybridRrf(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Each fusion input is a ≤ top-k-per-query rank list — metadata
    // scale. Materialize both (lazy localCheckpoint) so the fused query
    // optimizes/codegens over two tiny leaf relations instead of one
    // mega-plan spanning the whole BM25 + IVF pipelines: the fusion
    // stage's plan is then independent of the retrieval pipelines'
    // size, which is also how a production run stages per-retriever
    // shortlists before rank fusion.
    val lex = rankTopK(
      scoredBm25(spark, sfDir).filter(col("query_doc") % 100 === 0))
      .select(col("query_doc"), col("doc_id"), col("rank").as("lex_rank"))
      .localCheckpoint(false)
    val emb = Tables.table(spark, sfDir, "embeddings")
    // IVF cells: deterministic centroid seeds (every 25th vector, as in
    // annIvf — a KMeans fit in production; deterministic seeds keep the
    // DuckDB oracle exact). Corpus and query sides share one assignment
    // definition so a query probes the cell it would itself index into.
    val centroids = emb.filter(col("vec_id") % 25 === 0)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cv"))
    val cells = Similarity.assignNearest(
        emb.filter(col("vec_id") % 50 =!= 0)
          .resplit(spark),
        centroids, keepEmbedding = true)
      .select(col("vec_id").as("doc_id"), col("embedding").as("nv"), col("cent_id"))
    val dq = Similarity.assignNearest(
        emb.filter(col("vec_id") % 100 === 0), centroids, keepEmbedding = true)
      .select(col("vec_id").as("query_doc"), col("embedding").as("qv"), col("cent_id"))
    val dw = Window.partitionBy(col("query_doc"))
      .orderBy(col("sim").desc, col("doc_id"))
    // native TopKPerGroup prunes to ≤k slim rows per query per
    // partition BEFORE the exchange; the row_number that assigns the
    // dense rank then sorts k rows per query, not the cell's full
    // scored set (the knnLabelEval shape)
    val dense = graft.plans.TopKPerGroup.topKPerGroup(
        cells.join(broadcast(dq), Seq("cent_id"))
          .select(col("query_doc"), col("doc_id"),
            round(Similarity.cosine(col("qv"), col("nv")), 4).as("sim")),
        Seq(col("query_doc")), Seq(col("sim").desc, col("doc_id").asc), bm25TopK)
      .withColumn("dense_rank", row_number().over(dw))
      .select(col("query_doc"), col("doc_id"), col("dense_rank"))
      .localCheckpoint(false)
    val rrf = round(
      coalesce(lit(1.0) / (lit(rrfK) + col("lex_rank")), lit(0.0)) +
        coalesce(lit(1.0) / (lit(rrfK) + col("dense_rank")), lit(0.0)), 6)
    val fw = Window.partitionBy(col("query_doc"))
      .orderBy(col("rrf").desc, col("doc_id"))
    lex.join(dense, Seq("query_doc", "doc_id"), "full_outer")
      .withColumn("rrf", rrf)
      .withColumn("rank", row_number().over(fw))
      .filter(col("rank") <= bm25TopK)
      .select(col("query_doc"), col("doc_id"), col("rrf"), col("rank"))
  }

  /** DuckDB twin of [[hybridRrf]]: the shared BM25 scored CTE filtered
    * to the % 100 query split, the IVF-shortlisted dense ranking (same
    * deterministic centroid seeds and nearest-cell assignment as the
    * annIvf oracle), and the same full-outer RRF fusion. (lazy:
    * `scoredCtesSql` is declared below — an eager val would
    * interpolate null at object init.)
    */
  lazy val hybridRrfSql: String =
    "WITH " + scoredCtesSql + s""",
       |lrank AS (
       |  SELECT query_doc, doc_id, rank FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_doc
       |                                 ORDER BY score DESC, doc_id) AS rank
       |    FROM scored WHERE query_doc % 100 = 0)
       |  WHERE rank <= $bm25TopK),
       |dcent AS (SELECT vec_id AS cent_id, embedding AS cv FROM embeddings
       |          WHERE vec_id % 25 = 0),
       |""".stripMargin +
    Quantizer.assignSql(Quantizer.Coarse, "dasg",
      "(SELECT vec_id, embedding FROM embeddings WHERE vec_id % 50 <> 0)", "dcent") + ",\n" +
    Quantizer.assignSql(Quantizer.Coarse, "dqasg",
      "(SELECT vec_id, embedding FROM embeddings WHERE vec_id % 100 = 0)", "dcent") +
    s""",
       |dscored AS (
       |  SELECT q.vec_id AS query_doc, a.vec_id AS doc_id,
       |         round(${Similarity.cosineSql("q.embedding", "a.embedding")}, 4) AS sim
       |  FROM dqasg q JOIN dasg a ON a.cent_id = q.cent_id),
       |drank AS (
       |  SELECT query_doc, doc_id, rank FROM (
       |    SELECT query_doc, doc_id,
       |           row_number() OVER (PARTITION BY query_doc
       |                              ORDER BY sim DESC, doc_id) AS rank
       |    FROM dscored)
       |  WHERE rank <= $bm25TopK),
       |fused AS (
       |  SELECT coalesce(l.query_doc, d.query_doc) AS query_doc,
       |         coalesce(l.doc_id, d.doc_id) AS doc_id,
       |         round(coalesce(1.0 / ($rrfK + l.rank), 0)
       |               + coalesce(1.0 / ($rrfK + d.rank), 0), 6) AS rrf
       |  FROM lrank l FULL OUTER JOIN drank d
       |    ON l.query_doc = d.query_doc AND l.doc_id = d.doc_id)
       |SELECT query_doc, doc_id, rrf, CAST(rank AS INTEGER) AS rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_doc
       |                               ORDER BY rrf DESC, doc_id) AS rank
       |  FROM fused)
       |WHERE rank <= $bm25TopK
       |ORDER BY query_doc, rank""".stripMargin

  /** Shared oracle scaffolding: the scored (query_doc, doc_id, score)
    * relation.
    */
  private val scoredCtesSql: String =
    s"""corpus AS (SELECT * FROM documents WHERE doc_id % 50 <> 0),
       |qt AS (SELECT doc_id AS query_doc, unnest(list_distinct(string_split(text, ' '))) AS token
       |       FROM documents WHERE doc_id % 50 = 0),
       |post AS (SELECT doc_id, token, count(*) AS tf
       |         FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM corpus)
       |         GROUP BY 1, 2),
       |dl AS (SELECT doc_id, len(string_split(text, ' ')) AS dl FROM corpus),
       |dfreq AS (SELECT token, count(*) AS dfc FROM post GROUP BY 1),
       |stats AS (SELECT count(*) AS n_docs,
       |                 avg(len(string_split(text, ' '))::DOUBLE) AS avgdl
       |          FROM corpus),
       |scored AS (
       |  SELECT query_doc, post.doc_id,
       |         round(sum(ln(1.0 + (n_docs - dfc + 0.5) / (dfc + 0.5))
       |                   * tf::DOUBLE * ($bm25K1 + 1.0)
       |                   / (tf + $bm25K1 * (1.0 - $bm25B + $bm25B * dl / avgdl))), 4)
       |           AS score
       |  FROM post JOIN qt USING (token) JOIN dfreq USING (token)
       |            JOIN dl ON dl.doc_id = post.doc_id, stats
       |  GROUP BY 1, 2)""".stripMargin

  private def rankSelectSql(from: String): String =
    s"""SELECT query_doc, doc_id, score, CAST(rank AS INTEGER) AS rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_doc
       |                               ORDER BY score DESC, doc_id) AS rank
       |  FROM $from)
       |WHERE rank <= $bm25TopK
       |ORDER BY query_doc, rank""".stripMargin

  val bm25Sql: String =
    "WITH " + scoredCtesSql + "\n" + rankSelectSql("scored")

  val hardNegativesSql: String =
    "WITH " + Dedup.shinglesSqlCte + ",\n" + scoredCtesSql + s""",
       |cont AS (
       |  SELECT b.doc_id AS query_doc, a.doc_id AS doc_id
       |  FROM sh a, sh b
       |  WHERE a.doc_id % 50 <> 0 AND b.doc_id % 50 = 0
       |    AND len(list_intersect(a.s, b.s)) >= ${Dedup.minSharedShingles}),
       |negs AS (
       |  SELECT * FROM scored
       |  WHERE NOT EXISTS (SELECT 1 FROM cont
       |                    WHERE cont.query_doc = scored.query_doc
       |                      AND cont.doc_id = scored.doc_id))
       |""".stripMargin + rankSelectSql("negs")
}
