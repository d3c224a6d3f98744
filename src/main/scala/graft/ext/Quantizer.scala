package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The Lloyd quantizer shared by the ANN family: k-means
  * ([[Clustering]]), the coarse IVF quantizer ([[IvfDrift]],
  * [[StreamIvf]]), the product quantizer ([[Similarity]]'s PQ tier,
  * [[PqDrift]], [[StreamPq]]) and the residual product quantizer
  * ([[PqResidual]] — the product shape run over residual vectors).
  *
  * One definition of each step, so the trainer, the drift trigger and
  * the retrain can never disagree on what a cell's mass center is:
  *  - [[means]]: the float-cast per-dimension mean per group (the
  *    Lloyd update half). Components are cast to FLOAT, whose 2^-24
  *    rounding absorbs the ~2^-50 wobble of distributed double
  *    summation order, so the DuckDB twins ([[meansSql]]) reproduce
  *    every codebook bit-for-bit;
  *  - [[train]]: the Lloyd loop, codebook collected to the driver
  *    between rounds (k×dim floats — metadata scale at any corpus
  *    size; without the collect each round's broadcast carries every
  *    earlier round's plan as its subtree);
  *  - [[maintain]]: the fused drift trigger and retrain behind
  *    `maintain_ivf` and `maintain_pq`.
  *
  * Assignment stays with the search code it must agree with:
  * [[Similarity.assignNearest]] (cosine, coarse) and
  * [[Similarity.pqNearest]] (L2, product). Ties break on cent_id.
  */
object Quantizer {

  /** A quantizer's row shape: `keys` name a codebook entry (the last
    * is always cent_id; a product codebook has one per subspace),
    * `vec` is the quantized vector column, `assign` labels each vector
    * row with its nearest entry, and `scoreSql` is the DuckDB twin of
    * the assignment score (higher is nearer).
    */
  private[ext] final case class Shape(keys: Seq[String], vec: String,
      assign: (DataFrame, DataFrame) => DataFrame,
      scoreSql: (String, String) => String)

  /** Whole vectors against (cent_id, cv) centroids, by cosine. */
  private[ext] val Coarse = Shape(Seq("cent_id"), "embedding",
    (v, c) => Similarity.assignNearest(v, c, keepEmbedding = true),
    Similarity.cosineSql)

  /** (vec_id, sub_id, sv) subvectors against a per-subspace
    * (sub_id, cent_id, cv) codebook, by L2.
    */
  private[ext] val Product = Shape(Seq("sub_id", "cent_id"), "sv",
    (s, c) => Similarity.pqNearest(s, c, keepSv = true),
    Similarity.pqL2Sql)

  /** Per-group float-cast per-dimension mean of `vec`, as
    * (keys…, cv float array in dimension order). Groups with no rows
    * vanish — Lloyd-on-data semantics.
    */
  def means(rows: DataFrame, keys: Seq[String], vec: String): DataFrame =
    rows
      .select(keys.map(col) :+ posexplode(col(vec)).as(Seq("d", "v")): _*)
      .groupBy((keys :+ "d").map(col): _*)
      .agg(avg(col("v")).as("m"))
      .groupBy(keys.map(col): _*)
      .agg(transform(array_sort(collect_list(struct(col("d"), col("m")))),
        s => s.getField("m").cast("float")).as("cv"))

  /** `rounds` Lloyd rounds from `seeds`: assign, then [[means]], the
    * codebook collected to the driver between rounds. Deterministic
    * (seeds are caller-chosen, ties break on cent_id), and collecting
    * leaves the values untouched — float arrays round-trip exactly —
    * so r chained single rounds equal one r-round call.
    */
  def train(shape: Shape, vectors: DataFrame, seeds: DataFrame,
      rounds: Int): DataFrame =
    (1 to rounds).foldLeft(seeds) { (cents, _) =>
      val next = means(shape.assign(vectors, cents), shape.keys, shape.vec)
      val spark = next.sparkSession
      spark.createDataFrame(
        spark.sparkContext.parallelize(next.collect().toIndexedSeq, 1), next.schema)
    }

  /** Fused drift trigger and retrain. `means` are the current mass
    * centers of the index's stored assignment (the stored labels ARE a
    * Lloyd round's assign half, computed against the stale codebook at
    * write time); the trigger is max(1 − cos(mean, entry)) against the
    * stored codebook `cents`, joined on `keys`. Above `threshold` the
    * persisted means ARE the retrained codebook: `writeCodebook` runs
    * first and `commitRows` second, so a reader that swaps to the new
    * version only after its commit marker appears always finds the
    * codebook in place. `proc` names the caller in the guards' messages;
    * `emptyMsg` says what an empty trigger join means for it.
    * Returns (triggered, max displacement).
    */
  def maintain(proc: String, means: DataFrame, cents: DataFrame,
      keys: Seq[String], threshold: Double, emptyMsg: String)(
      writeCodebook: DataFrame => Unit, commitRows: DataFrame => Unit): (Boolean, Double) = {
    means.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val (mv, cv) = (col("mv"), col("cv"))
      // a zero-norm pair reads NaN here: the cosine's division would
      // raise DIVIDE_BY_ZERO under ANSI instead of naming the cause
      val zeroNorm = Similarity.dot(mv, mv) === 0.0 || Similarity.dot(cv, cv) === 0.0
      val r = means.withColumnRenamed("cv", "mv")
        .join(cents.select((keys :+ "cv").map(col): _*), keys)
        .select(when(zeroNorm, lit(Double.NaN))
          .otherwise(lit(1.0) - Similarity.cosine(mv, cv)).as("disp"))
        .agg(max(col("disp"))).head
      // fail with the cause, not an opaque NPE from getDouble on the
      // null max of an empty join
      require(!r.isNullAt(0), s"$proc: $emptyMsg")
      val disp = r.getDouble(0)
      // NaN > threshold is false, so a degenerate index would otherwise
      // silently report not-triggered
      require(!disp.isNaN,
        s"$proc: residual displacement is NaN — a zero-norm mean or codebook " +
          "entry (degenerate index); rebuild the codebook rather than maintaining it")
      val fired = disp > threshold
      if (fired) {
        writeCodebook(means)
        commitRows(means)
      }
      (fired, disp)
    } finally means.unpersist()
  }

  // ——— drift-gate scaffolding shared by the x_ann_* recall gates ———

  /** The gates' clustered slice: each (vec_id, label, embedding) row
    * pulled 2.0 along its label's basis axis (0-based element index
    * label*6 — the twin's 1-based label*6+1), ten tight clusters the
    * raw isotropic corpus never occupies.
    */
  private[ext] def labelShift(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"),
      expr("transform(embedding, (x, i) -> " +
        "cast(cast(x as double) + CASE WHEN i = label * 6 THEN 2.0 ELSE 0.0 END as float))")
        .as("embedding"))

  /** The drift gates' corpus, a 1-in-4 slice of the embeddings table,
    * as (base, drifted): every third vector [[labelShift]]ed, the rest
    * as they are.
    */
  private[ext] def driftSlices(spark: SparkSession, sfDir: String): (DataFrame, DataFrame) = {
    val emb = graft.Tables.table(spark, sfDir, "embeddings").filter(col("vec_id") % 4 === 1)
    (emb.filter(col("vec_id") % 3 =!= 0).select(col("vec_id"), col("embedding")),
      labelShift(emb.filter(col("vec_id") % 3 === 0)))
  }

  /** DuckDB twin of [[driftSlices]]: a WITH clause opening on CTEs
    * `base`, `drift` and `corpus` (both). Trailing comma included.
    */
  private[ext] def driftCorpusSql: String =
    "WITH base AS (SELECT vec_id, embedding FROM embeddings\n" +
    "              WHERE vec_id % 3 <> 0 AND vec_id % 4 = 1),\n" +
    "drift AS (\n" + labelShiftSql("e.vec_id % 3 = 0 AND e.vec_id % 4 = 1") + "),\n" +
    "corpus AS (SELECT * FROM base UNION ALL SELECT * FROM drift),\n"

  /** DuckDB twin of [[labelShift]] over the `embeddings` rows matching
    * `where` (a predicate on alias `e`).
    */
  private[ext] def labelShiftSql(where: String): String =
    "  SELECT e.vec_id, list(CAST(CAST(x.v AS DOUBLE) +\n" +
    "           CASE WHEN x.d = e.label * 6 + 1 THEN 2.0 ELSE 0.0 END AS FLOAT4)\n" +
    "         ORDER BY x.d) AS embedding\n" +
    "  FROM embeddings e,\n" +
    "  LATERAL (SELECT generate_subscripts(e.embedding, 1) AS d,\n" +
    "                  unnest(e.embedding) AS v) x\n" +
    s"  WHERE $where GROUP BY e.vec_id"

  /** Exact top-5 (query_id, neighbor_id) of each query over `corpus`,
    * ranked by `score` rounded to 4 places, ties to the smaller vec_id —
    * the recall gates' ground truth.
    */
  private[ext] def exactTop5(corpus: DataFrame, queries: DataFrame,
      score: (Column, Column) => Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("vec_id"))
    corpus.join(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("sim", round(score(col("qv"), col("embedding")), 4))
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= 5)
      .select(col("query_id"), col("vec_id").as("neighbor_id"))
  }

  /** DuckDB twin of [[exactTop5]]: the `truth` CTE over CTEs `q`
    * (query_id, qv) and `corpus`.
    */
  private[ext] def truthSql(score: (String, String) => String): String =
    "truth AS (SELECT query_id, neighbor_id FROM (\n" +
    "  SELECT q.query_id, e.vec_id AS neighbor_id,\n" +
    "         row_number() OVER (PARTITION BY q.query_id\n" +
    s"           ORDER BY round(${score("q.qv", "e.embedding")}, 4) DESC, e.vec_id) AS rk\n" +
    "  FROM q, corpus e WHERE e.vec_id <> q.query_id) WHERE rk <= 5)"

  /** How many truth rows a search found. */
  private[ext] def hits(truth: DataFrame, found: DataFrame): Long =
    truth.join(found.select(col("query_id"), col("neighbor_id")),
      Seq("query_id", "neighbor_id"), "left_semi").count()

  /** The gates' result: one (label, n_hits, recall) row per tier, recall
    * rounded HALF_UP to 4 places — DuckDB's round(x, 4); math.rint's
    * half-even would diverge on an exact .5 boundary.
    */
  private[ext] def recallRows(spark: SparkSession, label: String, nTruth: Long,
      tiers: (String, Long)*): DataFrame = {
    import spark.implicits._
    tiers.map { case (tier, n) =>
      (tier, n, BigDecimal(n.toDouble / nTruth)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.toDF(label, "n_hits", "recall")
  }

  /** DuckDB twin of [[recallRows]] for two tiers: labeled
    * hit-count/recall rows off `truth` against two search CTEs.
    */
  private[ext] def sqlRecallRows(
      tierA: String, searchA: String, tierB: String, searchB: String,
      labelCol: String): String = {
    def row(tier: String, s: String, withAlias: Boolean): String = {
      val aliasN = if (withAlias) " AS n_hits" else ""
      val aliasR = if (withAlias) " AS recall" else ""
      val aliasT = if (withAlias) s" AS $labelCol" else ""
      s"SELECT '$tier'$aliasT,\n" +
      s"       CAST((SELECT count($s.neighbor_id) FROM truth\n" +
      s"             LEFT JOIN $s USING (query_id, neighbor_id)) AS BIGINT)$aliasN,\n" +
      s"       round((SELECT count($s.neighbor_id) FROM truth\n" +
      s"              LEFT JOIN $s USING (query_id, neighbor_id))::DOUBLE\n" +
      s"             / (SELECT count(*) FROM truth), 4)$aliasR\n"
    }
    row(tierA, searchA, withAlias = true) + "UNION ALL\n" +
      row(tierB, searchB, withAlias = false) + s"ORDER BY $labelCol"
  }

  // ——— DuckDB twins of the Lloyd steps (generated CTE text: callers
  // concatenate, never pass it through stripMargin) ———

  /** Assign CTE: each row of `src` (vec_id, the shape's subspace key,
    * vector) labeled with its nearest `cent` entry, ties to the smaller
    * cent_id, as (vec_id, [sub_id,] cent_id, vector, sim).
    */
  private[ext] def assignSql(shape: Shape, out: String, src: String,
      cent: String): String = {
    val sub = shape.keys.init
    val score = shape.scoreSql(s"a.${shape.vec}", "c.cv")
    val join = if (sub.isEmpty) s"$src a, $cent c"
      else s"$src a JOIN $cent c USING (${sub.mkString(", ")})"
    val outCols = ("vec_id" +: sub :+ "cent_id" :+ shape.vec :+ "sim").mkString(", ")
    s"$out AS (SELECT $outCols FROM (\n" +
    s"  SELECT a.vec_id, ${sub.map(k => s"a.$k, ").mkString}c.cent_id, " +
      s"a.${shape.vec}, $score AS sim,\n" +
    s"         row_number() OVER (PARTITION BY a.vec_id${sub.map(k => s", a.$k").mkString}\n" +
    s"           ORDER BY $score DESC, c.cent_id) AS rn\n" +
    s"  FROM $join) WHERE rn = 1)"
  }

  /** Means CTE: the [[means]] twin over `src` (a CTE name or a
    * parenthesized subquery) grouped by `keys`.
    */
  private[ext] def meansSql(out: String, src: String, keys: Seq[String],
      vec: String): String = {
    val k = keys.mkString(", ")
    s"$out AS (SELECT $k, list(CAST(m AS FLOAT4) ORDER BY d) AS cv FROM (\n" +
    s"  SELECT $k, d, avg(v) AS m FROM (\n" +
    s"    SELECT $k, generate_subscripts($vec, 1) AS d,\n" +
    s"           unnest($vec) AS v FROM $src zz) x\n" +
    s"  GROUP BY $k, d) y GROUP BY $k)"
  }

  /** `rounds` chained assign/means CTE pairs over `src`, from codebook
    * CTE `${prefix}0` to `${prefix}$rounds` (assignments `${prefix}a$i`).
    * Trailing comma included.
    */
  private[ext] def trainSql(shape: Shape, src: String, prefix: String,
      rounds: Int): String =
    (0 until rounds).map { i =>
      assignSql(shape, s"${prefix}a$i", src, s"$prefix$i") + ",\n" +
        meansSql(s"$prefix${i + 1}", s"${prefix}a$i", shape.keys, shape.vec) + ",\n"
    }.mkString
}
