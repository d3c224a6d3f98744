package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Dedup cluster closure: connected components over near-dup candidate
  * pairs, so transitive chains (a~b, b~c ⇒ {a,b,c} one cluster) get a
  * single keeper — the layer every real corpus dedup needs on top of
  * pairwise candidates (pairwise min-neighbor assignment splits such a
  * chain into two "clusters" with different keepers).
  *
  * Algorithm: alternating large-star / small-star edge rewrites
  * (Kiveris et al., "Connected Components in MapReduce and Beyond",
  * SoCC'14) — each round is two hash-shuffle window passes over the
  * edge set, and the edge set converges to stars rooted at each
  * component's minimum id in O(log n) rounds regardless of component
  * diameter. That is the 100 TB shape: no driver-side graph, no
  * per-vertex message loop proportional to diameter, edge count only
  * ever shrinks toward one edge per non-root node.
  *
  * Convergence is detected with a one-pass signature (count +
  * order-independent hash-sum of the edge set) instead of a set
  * difference — one cheap job per round, same trick at any scale.
  */
object Clusters {

  /** Edges are kept canonical as (lo, hi), lo < hi, distinct. */
  private def canonical(edges: DataFrame): DataFrame =
    edges.toDF("a", "b")
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("lo"),
        greatest(col("a"), col("b")).as("hi"))
      .distinct()

  /** Large-star: every node connects its strictly-larger neighbors to
    * the minimum of its closed neighborhood.
    */
  private def largeStar(e: DataFrame): DataFrame = {
    val sym = e.select(col("lo").as("u"), col("hi").as("v"))
      .union(e.select(col("hi").as("u"), col("lo").as("v")))
    val m = least(col("u"), min(col("v")).over(Window.partitionBy(col("u"))))
    sym.select(col("u"), col("v"), m.as("m"))
      .filter(col("v") > col("u"))
      .select(col("m").as("lo"), col("v").as("hi")) // m ≤ u < v
      .distinct()
  }

  /** Small-star: every node connects its smaller neighbors (and itself)
    * to the minimum among them. Operates on the canonical orientation
    * (each edge points from hi to its smaller neighbor lo).
    */
  private def smallStar(e: DataFrame): DataFrame = {
    val withM = e.select(col("lo"), col("hi"),
      min(col("lo")).over(Window.partitionBy(col("hi"))).as("m"))
    withM.filter(col("lo") =!= col("m"))
      .select(col("m").as("lo"), col("lo").as("hi")) // lo_i > m
      .union(withM.select(col("m").as("lo"), col("hi")))
      .distinct()
  }

  /** (count, order-independent hash xor) — a one-job convergence
    * signature of an edge set. XOR (not sum): edge sets are distinct,
    * so xor is an order-independent fold that cannot overflow under
    * ANSI arithmetic.
    */
  private def signature(e: DataFrame): (Long, Long) = {
    val row = e.agg(count(lit(1)), expr("bit_xor(xxhash64(lo, hi))")).head()
    (row.getLong(0), if (row.isNullAt(1)) 0L else row.getLong(1))
  }

  /** Connected components of an undirected edge list (two numeric
    * columns). Returns (id, component) where component is the smallest
    * id reachable; only ids that appear in an edge are emitted.
    */
  def connectedComponents(edges: DataFrame, maxIter: Int = 25): DataFrame = {
    // LAZY localCheckpoint: the signature job right after is the first
    // action, so it doubles as the materialization — one job per round,
    // not a checkpoint pass plus a signature pass
    var e = canonical(edges).localCheckpoint(false)
    var sig = signature(e)
    var converged = false
    var it = 0
    while (!converged && it < maxIter) {
      // localCheckpoint truncates the growing iteration lineage so each
      // round's plan stays two window passes, not a nested pyramid
      val next = smallStar(largeStar(e)).localCheckpoint(false)
      val nextSig = signature(next)
      converged = nextSig == sig
      e = next
      sig = nextSig
      it += 1
    }
    // a non-star edge set would label nodes with an intermediate
    // neighbor instead of the component min — refuse to return a
    // silently-wrong clustering (25 rounds cover ~2^25-diameter
    // components; hitting this means a bug or a pathological maxIter)
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge in $maxIter rounds " +
        s"(${sig._1} edges at last signature)")
    // fixpoint is a star per component: hi → lo = component min; the
    // root itself appears only on the lo side
    e.select(col("hi").as("id"), col("lo").as("component"))
      .union(e.select(col("lo").as("id"), col("lo").as("component")).distinct())
  }

  /** Corpus dedup clusters over the MinHash-LSH verified near-dup pairs
    * (jaccard ≥ 0.6): every document in a near-dup chain maps to its
    * COMPONENT ROOT (the smallest doc_id in the component — the stable
    * structural cluster id) with the component size alongside. The
    * production delete list is NOT `doc_id != keeper_id` over this
    * view: survivor selection is the media-aware rule in [[dedupKeep]]
    * / the shared [[dropList]] (r19) — this view reports component
    * STRUCTURE, which is keeper-rule-independent.
    */
  def dedupClusters(spark: SparkSession, sfDir: String): DataFrame = {
    val edges = Dedup.minhashLshPairs(spark, sfDir).select(col("doc_a"), col("doc_b"))
    val cc = connectedComponents(edges)
    cc.select(col("id").as("doc_id"), col("component").as("keeper_id"))
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy(col("keeper_id"))))
  }

  /** Shared oracle scaffolding: ground-truth pairwise-Jaccard pairs
    * (same CTE as the MinHash-LSH oracle) + the symmetric edge list.
    * (RECURSIVE is declared up front so [[componentsCteSql]] can
    * extend this prefix; it is legal with no recursive member.)
    */
  private val pairsEdgesCteSql: String = {
    val head = "WITH RECURSIVE " + Dedup.shinglesSqlCte + ","
    val rest = s"""
      |pairs AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM sh a, sh b
      |  WHERE a.doc_id < b.doc_id
      |    AND round(len(list_intersect(a.s, b.s))::DOUBLE
      |              / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 4)
      |        >= ${Dedup.jaccardThreshold}),
      |edges AS (
      |  SELECT doc_a AS a, doc_b AS b FROM pairs
      |  UNION
      |  SELECT doc_b AS a, doc_a AS b FROM pairs)""".stripMargin
    head + rest
  }

  /** ... plus the recursive CTE propagating the minimum reachable
    * doc_id into `comp(doc_id, keeper_id)`.
    */
  private val componentsCteSql: String = pairsEdgesCteSql + """,
    |nodes AS (SELECT DISTINCT a AS doc FROM edges),
    |reach(doc, lab) AS (
    |  SELECT doc, doc FROM nodes
    |  UNION
    |  SELECT e.b, r.lab FROM reach r JOIN edges e ON e.a = r.doc),
    |comp AS (SELECT doc AS doc_id, min(lab) AS keeper_id FROM reach GROUP BY doc)""".stripMargin

  /** DuckDB twin of [[dedupClusters]]. */
  val dedupClustersSql: String = componentsCteSql + """
    |SELECT doc_id, keeper_id,
    |       count(*) OVER (PARTITION BY keeper_id) AS cluster_size
    |FROM comp
    |ORDER BY doc_id""".stripMargin

  /** The media-family drop list ([[Multimodal.mediaDedupAssignments]]'s
    * non-keepers) as (doc_id, mdrop=true) — the eligibility signal the
    * keeper selections below consume (r18 task #5: a doc the media
    * family already drops must not be CHOSEN as a text keeper, or the
    * corpus budget double-counts the loss — the text component
    * sacrifices a clean member to keep a doc that is leaving anyway).
    */
  private def mediaDropMarks(spark: SparkSession, sfDir: String): DataFrame =
    mediaAssignmentsStaged(spark, sfDir)
      .filter(col("doc_id") =!= col("keeper_id"))
      .select(col("doc_id")).withColumn("mdrop", lit(true))

  /** [[Shared.memo]]-staged media component assignment: THREE caller-
    * session consumers read it (both keeper gates and
    * [[dedupRatesCombined]]) — the classic stage-once asset; a 100 TB
    * run materializes the assignment as a table and every budget /
    * keeper job reads the staged copy instead of re-running the
    * class-contraction CC. ([[Multimodal.mediaDedupGroups]] keeps its
    * own direct build — it runs in a narrow-width CLONE session, and
    * the memo is keyed by session identity.)
    */
  def mediaAssignmentsStaged(spark: SparkSession, sfDir: String): DataFrame =
    Shared.memoClustered(spark, sfDir, "media_dedup_assignments",
      Some("doc_id" -> 32)) {
      Multimodal.mediaDedupAssignments(spark, sfDir)
    }

  /** Text component members with their media-drop eligibility flag. */
  private def membersWithMediaMarks(spark: SparkSession,
      sfDir: String): DataFrame = {
    val edges = Dedup.minhashLshPairs(spark, sfDir).select(col("doc_a"), col("doc_b"))
    connectedComponents(edges)
      .select(col("id").as("doc_id"), col("component"))
      .join(mediaDropMarks(spark, sfDir), Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("component"),
        coalesce(col("mdrop"), lit(false)).as("mdrop"))
  }

  /** The survivor corpus — what dedup is FOR: every document except
    * non-keeper near-dup cluster members, materialized with the
    * columns a downstream training mix consumes. The delete list
    * comes from [[connectedComponents]] over the LSH-verified pairs;
    * the removal is a shuffled anti-join on doc_id — deliberately NOT
    * broadcast: at web scale the duplicate fraction is a sizable share
    * of the corpus, so both sides are large and the hash anti-join on
    * the key is the honest shape (AQE may still broadcast when the
    * delete list turns out small).
    *
    * Keeper selection is MEDIA-AWARE (r18 task #5): within each text
    * component the keeper is the smallest doc_id among members NOT on
    * the media drop list — a media-dropped doc is an ineligible
    * keeper unless the WHOLE component is media-dropped (then the
    * plain min-id rule applies; there is no clean member to save).
    * `min(struct(mdrop, doc_id))` encodes exactly that (false sorts
    * before true), as one partial-agged fold — no window, no second
    * shuffle beyond the component agg. [[dedupRatesCombined]]'s
    * accounting is untouched: it already charges drops union-once.
    */
  /** Media-aware min-id keeper per component over (doc_id, component,
    * mdrop) member rows: smallest doc_id among NON-media-dropped
    * members, falling back to the plain min-id when every member is
    * dropped. `min(struct(mdrop, doc_id))` — false sorts before true —
    * as one partial-agged fold. Split out for direct spec coverage
    * (the corpus fixture cannot guarantee a mixed-eligibility
    * component exists at every sf).
    */
  private[graft] def mediaAwareKeepers(member: DataFrame): DataFrame =
    member.groupBy(col("component"))
      .agg(min(struct(col("mdrop"), col("doc_id"))).as("k"))
      .select(col("component"), col("k.doc_id").as("keeper_id"))

  def dedupKeep(spark: SparkSession, sfDir: String): DataFrame =
    Tables.table(spark, sfDir, "documents")
      .join(dropList(spark, sfDir), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("source"), col("n_chars"))

  /** Shared oracle prefix for every media-aware drop-list consumer:
    * the text component chain, the media component chain
    * ([[Multimodal.mediaCompCteSql]]), the media drop marks (`mdl`),
    * the marked members (`memx`), the media-aware keeper per component
    * (`kx`: first member ordered mdrop ASC, doc_id ASC) and the
    * resulting text drop list (`drops`) — the SQL twin of
    * [[dropList]], shared so the survivor-corpus and rate oracles can
    * never disagree about what was dropped.
    */
  private val mediaAwareDropsCteSql: String = componentsCteSql + "," +
    Multimodal.mediaCompCteSql + """,
    |mdl AS (SELECT doc_id FROM mcomp WHERE doc_id <> keeper_id),
    |memx AS (
    |  SELECT c.doc_id, c.keeper_id AS component,
    |         (m.doc_id IS NOT NULL) AS mdrop
    |  FROM comp c LEFT JOIN mdl m ON m.doc_id = c.doc_id),
    |kx AS (
    |  SELECT component, doc_id AS kid,
    |         row_number() OVER (PARTITION BY component
    |                            ORDER BY mdrop ASC, doc_id ASC) AS rn
    |  FROM memx),
    |drops AS (
    |  SELECT m.doc_id FROM memx m
    |  JOIN kx ON kx.component = m.component AND kx.rn = 1
    |  WHERE m.doc_id <> kx.kid)""".stripMargin

  /** DuckDB twin of [[dedupKeep]] — the shared media-aware drop list,
    * anti-joined onto the corpus.
    */
  val dedupKeepSql: String = mediaAwareDropsCteSql + """
    |SELECT d.doc_id, d.source, d.n_chars
    |FROM documents d
    |WHERE d.doc_id NOT IN (SELECT doc_id FROM drops)
    |ORDER BY d.doc_id""".stripMargin

  /** Damping factor and iteration count for [[dupPageRank]] — fixed
    * (not run-to-convergence) so the oracle replays the exact same
    * two chained iterations.
    */
  val prDamping = 0.85
  val prIterations = 2

  /** PageRank centrality over the near-dup graph: an importance score
    * for every document that participates in a near-dup chain — the
    * principled upgrade to min-id keeper selection (keep the most
    * CENTRAL version of a duplicated document: the one most other
    * variants derive from), and the standard graph-side signal for
    * weighting survivors. Undirected graph, uniform init 1.0,
    * pr ← (1−d) + d·Σ pr(neighbor)/deg(neighbor), [[prIterations]]
    * fixed iterations.
    *
    * Scale shape: each iteration is one edge-list join against the
    * current rank table plus a partial-agged sum per destination —
    * never adjacency matrices, never driver-side graph state; the
    * iteration count is fixed, so the lineage stays two joins deep.
    * Every node of this graph has degree ≥ 1 (it comes from a pair
    * list), so no dangling-mass term is needed.
    */
  def dupPageRank(spark: SparkSession, sfDir: String): DataFrame = {
    val edges = Dedup.minhashLshPairs(spark, sfDir)
      .select(col("doc_a"), col("doc_b"))
    // localCheckpoint the symmetric edge list once (lazy — the first
    // iteration's action materializes it), mirroring connectedComponents:
    // without it every fixed iteration's plan re-embeds the whole
    // MinHash+LSH+verify candidate pipeline, and candidate generation —
    // the dominant cost at corpus scale — re-executes ~5× in one query.
    // deg derives from the checkpointed sym, so the LSH lineage runs once.
    val sym = edges.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(edges.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .localCheckpoint(false)
    val deg = sym.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    var ranks = deg.select(col("src").as("doc_id"), lit(1.0).as("pr"))
    for (_ <- 1 to prIterations) {
      ranks = sym.join(deg, Seq("src"))
        .join(ranks, sym("src") === ranks("doc_id"))
        .select(col("dst"), (col("pr") / col("deg")).as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("in"))
        .select(col("dst").as("doc_id"),
          (lit(1.0 - prDamping) + lit(prDamping) * col("in")).as("pr"))
    }
    ranks.select(col("doc_id"), round(col("pr"), 4).as("pagerank"))
  }

  /** DuckDB twin: the naive-pair edge list + the same two chained
    * iteration CTEs (edges are symmetric, so a→b contributes
    * pr(a)/deg(a) to b).
    */
  val dupPageRankSql: String = {
    def iter(prev: String, next: String): String =
      s""",
         |$next AS (
         |  SELECT e.b AS doc_id,
         |         ${1.0 - prDamping} + $prDamping * sum(r.pr / d.deg) AS pr
         |  FROM edges e JOIN $prev r ON r.doc_id = e.a
         |               JOIN deg d ON d.src = e.a
         |  GROUP BY e.b)""".stripMargin
    pairsEdgesCteSql + """,
    |deg AS (SELECT a AS src, count(*) AS deg FROM edges GROUP BY 1),
    |r0 AS (SELECT src AS doc_id, 1.0 AS pr FROM deg)""".stripMargin +
      iter("r0", "r1") + iter("r1", "r2") + """
    |SELECT doc_id, round(pr, 4) AS pagerank FROM r2 ORDER BY doc_id""".stripMargin
  }

  /** Leakage-safe train/validation/test split: the 80/10/10 assignment
    * hashes the near-dup CLUSTER KEEPER (own id for unclustered docs),
    * not the document id — a doc_id-keyed split would scatter
    * near-duplicate chains across splits and leak training text into
    * held-out sets, the classic eval-inflation bug. Hashing is
    * md5-derived (deterministic, engine-reproducible — never rand()).
    * Emits per-split corpus stats.
    *
    * Scale shape: the component closure (O(log n) star rounds) + one
    * left join to attach keepers + a per-row hash bucket + a 3-group
    * partial agg. Nothing new shuffles beyond the closure itself.
    */
  def leakageSafeSplit(spark: SparkSession, sfDir: String): DataFrame = {
    val edges = Dedup.minhashLshPairs(spark, sfDir).select(col("doc_a"), col("doc_b"))
    val cc = connectedComponents(edges)
      .select(col("id").as("doc_id"), col("component"))
    val bucket = Text.md5Long(
      coalesce(col("component"), col("doc_id")).cast("string")) % 100
    val splitCol = when(bucket < 80, "train")
      .when(bucket < 90, "validation").otherwise("test")
    Tables.table(spark, sfDir, "documents")
      .join(cc, Seq("doc_id"), "left_outer")
      .select(splitCol.as("split"),
        size(Text.tokens(col("text"))).cast("long").as("toks"))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("n_tokens"))
  }

  /** DuckDB twin of [[leakageSafeSplit]]. */
  val leakageSafeSplitSql: String = componentsCteSql + """
    |,assigned AS (
    |  SELECT d.text,
    |         ('0x' || substr(md5(CAST(coalesce(c.keeper_id, d.doc_id) AS VARCHAR)), 1, 8))::BIGINT
    |           % 100 AS bkt
    |  FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id)
    |SELECT CASE WHEN bkt < 80 THEN 'train'
    |            WHEN bkt < 90 THEN 'validation'
    |            ELSE 'test' END AS split,
    |       count(*) AS n_docs,
    |       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
    |FROM assigned
    |GROUP BY 1
    |ORDER BY 1""".stripMargin

  /** Near-dup cluster-size histogram: for each cluster size, how many
    * clusters and how many documents sit in them — the first health
    * check on a dedup run (a giant component says the threshold or the
    * banding is over-merging; all-size-2 says near-dups are isolated
    * pairs and transitive closure was unnecessary work).
    *
    * Scale shape: two partial-agged hash shuffles over the component
    * assignment (keeper → size, size → histogram); output is
    * |distinct sizes| rows — metadata-scale.
    */
  def clusterStats(spark: SparkSession, sfDir: String): DataFrame = {
    val edges = Dedup.minhashLshPairs(spark, sfDir).select(col("doc_a"), col("doc_b"))
    val sizes = connectedComponents(edges)
      .groupBy(col("component")).agg(count(lit(1)).as("cluster_size"))
    sizes.groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))
      .select(col("cluster_size"), col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).as("n_docs"))
  }

  /** DuckDB twin of [[clusterStats]]. */
  val clusterStatsSql: String = componentsCteSql + """
    |,sizes AS (SELECT keeper_id, count(*) AS cluster_size FROM comp GROUP BY keeper_id)
    |SELECT cluster_size, count(*) AS n_clusters,
    |       CAST(cluster_size * count(*) AS BIGINT) AS n_docs
    |FROM sizes
    |GROUP BY cluster_size
    |ORDER BY cluster_size""".stripMargin

  /** Per-source dedup shrinkage: for each corpus source, how many
    * documents survive MinHash-LSH near-dup removal and what fraction
    * was duplicated — the report a corpus curator reads before
    * re-weighting the training mix (a source that is 40% duplicated
    * contributes far less unique signal than its raw size suggests).
    *
    * Scale shape: the drop list is the component closure already
    * proven in [[dedupKeep]]; charging each drop to its source is one
    * doc_id semi-join plus a per-source partial agg — output is
    * |sources| rows, metadata-scale.
    */
  /** The near-dup delete list (every non-keeper cluster member under
    * the MEDIA-AWARE keeper rule) — the ONE drop-list definition shared
    * by [[dedupKeep]] and the doc-/token-weighted rate reports, so the
    * survivor corpus and every budget can never disagree about what
    * was dropped (r19 review: with the rule living only in dedupKeep,
    * the rates charged the OLD min-id non-keepers — for a component
    * whose min-id member is media-dropped, the combined budget then
    * double-counted a loss the survivor corpus no longer takes).
    */
  private def dropList(spark: SparkSession, sfDir: String): DataFrame = {
    val member = membersWithMediaMarks(spark, sfDir)
    member.join(mediaAwareKeepers(member), Seq("component"))
      .filter(col("doc_id") =!= col("keeper_id"))
      .select(col("doc_id"))
  }

  def dedupRates(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.table(spark, sfDir, "documents")
    val dropped = docs.join(dropList(spark, sfDir), Seq("doc_id"), "left_semi")
      .groupBy(col("source")).agg(count(lit(1)).as("n_dropped"))
    docs.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      .join(dropped, Seq("source"), "left_outer")
      .select(col("source"), col("n_docs"),
        coalesce(col("n_dropped"), lit(0L)).as("n_dropped"))
      .withColumn("n_kept", col("n_docs") - col("n_dropped"))
      .withColumn("dup_rate",
        round(col("n_dropped").cast("double") / col("n_docs"), 4))
  }

  /** DuckDB twin of [[dedupRates]] — charges the shared media-aware
    * drop list per source.
    */
  val dedupRatesSql: String = mediaAwareDropsCteSql + """,
    |per AS (
    |  SELECT d.source,
    |         count(*) AS n_docs,
    |         count(dr.doc_id) AS n_dropped
    |  FROM documents d LEFT JOIN drops dr ON dr.doc_id = d.doc_id
    |  GROUP BY d.source)
    |SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
    |       CAST(n_dropped AS BIGINT) AS n_dropped,
    |       CAST(n_docs - n_dropped AS BIGINT) AS n_kept,
    |       round(n_dropped::DOUBLE / n_docs, 4) AS dup_rate
    |FROM per
    |ORDER BY source""".stripMargin

  /** Combined per-source shrinkage across BOTH dedup families: the
    * text near-dup drop list (MinHash-LSH component closure, the same
    * [[dropList]] the doc- and token-weighted reports share) and the
    * media near-dup drop list ([[Multimodal.mediaDedupAssignments]]'s
    * class-contracted CC — its non-keepers). A document dropped by
    * both families counts ONCE in `n_dropped_any` (the number a corpus
    * budget actually loses); the per-family columns keep the
    * attribution. This is the report that makes the media dedup path a
    * consumed production surface rather than a gate-only operator.
    *
    * Scale shape: both drop lists are the already-proven component
    * closures (O(n) rows, far smaller than the corpus); marking is a
    * full-outer join of the two drop lists (each keyed and tiny
    * relative to docs) followed by one left join onto the corpus scan
    * and a per-source partial agg — output is |sources| rows.
    *
    * Deliberately the CALLER's session (no [[Multimodal.mediaDedupGroups]]
    * narrow-width clone): this report also joins the FULL corpus and
    * consumes the [[Shared.memo]]-staged LSH pairs, and the memo cache
    * is keyed by session identity — a clone would re-stage the pair
    * build, which costs far more than the class-scale CC rounds save;
    * AQE's partition coalescing bounds the small-round overhead the
    * clone exists to avoid (measured: 4.5 s sf0.1 → 5.9 s sf1, 1.31×).
    */
  def dedupRatesCombined(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.table(spark, sfDir, "documents")
    val textDrops = dropList(spark, sfDir).withColumn("t", lit(true))
    val mediaDrops = mediaAssignmentsStaged(spark, sfDir)
      .filter(col("doc_id") =!= col("keeper_id"))
      .select(col("doc_id")).withColumn("m", lit(true))
    val marks = textDrops.join(mediaDrops, Seq("doc_id"), "full_outer")
    docs.join(marks, Seq("doc_id"), "left_outer")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("t"), 1L).otherwise(0L)).as("n_dropped_text"),
        sum(when(col("m"), 1L).otherwise(0L)).as("n_dropped_media"),
        // true || null = true; null || null = null -> otherwise(0)
        sum(when(col("t") || col("m"), 1L).otherwise(0L)).as("n_dropped_any"))
      .withColumn("dup_rate",
        round(col("n_dropped_any").cast("double") / col("n_docs"), 4))
  }

  /** DuckDB twin of [[dedupRatesCombined]]: the text component chain
    * and the m-prefixed media component chain composed into ONE
    * recursive WITH, drops diffed per family, union counted once.
    */
  val dedupRatesCombinedSql: String = mediaAwareDropsCteSql + """,
    |per AS (
    |  SELECT d.source,
    |         count(*) AS n_docs,
    |         count(t.doc_id) AS n_dropped_text,
    |         count(mr.doc_id) AS n_dropped_media,
    |         sum(CASE WHEN t.doc_id IS NOT NULL OR mr.doc_id IS NOT NULL
    |                  THEN 1 ELSE 0 END) AS n_dropped_any
    |  FROM documents d
    |  LEFT JOIN drops t ON t.doc_id = d.doc_id
    |  LEFT JOIN mdl mr ON mr.doc_id = d.doc_id
    |  GROUP BY d.source)
    |SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
    |       CAST(n_dropped_text AS BIGINT) AS n_dropped_text,
    |       CAST(n_dropped_media AS BIGINT) AS n_dropped_media,
    |       CAST(n_dropped_any AS BIGINT) AS n_dropped_any,
    |       round(n_dropped_any::DOUBLE / n_docs, 4) AS dup_rate
    |FROM per
    |ORDER BY source""".stripMargin

  /** Token-weighted dedup rates per source: the fraction of TOKENS (not
    * docs) removed by near-dup deletion — the number that actually
    * moves a training-token budget: dropping 5% of docs that happen to
    * be the longest ones costs far more than 5% of the corpus. Same
    * component closure as [[dedupRates]]; token counts ride the one
    * per-source aggregation as exact integer sums.
    */
  def dedupTokenRates(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.table(spark, sfDir, "documents")
    val drops = dropList(spark, sfDir).withColumn("dropped", lit(true))
    val toks = size(Text.tokens(col("text"))).cast("long")
    docs.join(drops, Seq("doc_id"), "left_outer")
      .select(col("source"), toks.as("t"),
        coalesce(col("dropped"), lit(false)).as("dropped"))
      .groupBy(col("source"))
      .agg(sum(col("t")).as("n_tokens"),
        sum(when(col("dropped"), col("t")).otherwise(0L)).as("tokens_dropped"))
      .withColumn("token_dup_rate",
        round(col("tokens_dropped").cast("double") / col("n_tokens"), 4))
  }

  /** DuckDB twin of [[dedupTokenRates]] — same shared media-aware drop
    * list, token-weighted.
    */
  val dedupTokenRatesSql: String = mediaAwareDropsCteSql + """,
    |per AS (
    |  SELECT d.source,
    |         len(string_split(d.text, ' ')) AS t,
    |         dr.doc_id IS NOT NULL AS dropped
    |  FROM documents d LEFT JOIN drops dr ON dr.doc_id = d.doc_id)
    |SELECT source, CAST(sum(t) AS BIGINT) AS n_tokens,
    |       CAST(sum(CASE WHEN dropped THEN t ELSE 0 END) AS BIGINT)
    |         AS tokens_dropped,
    |       round(sum(CASE WHEN dropped THEN t ELSE 0 END)::DOUBLE
    |             / sum(t), 4) AS token_dup_rate
    |FROM per
    |GROUP BY source
    |ORDER BY source""".stripMargin

  /** Quality-aware keeper selection: within each near-dup cluster keep
    * the member with the HIGHEST quality score (ties broken by lowest
    * doc_id), instead of [[dedupClusters]]' arbitrary min-id keeper.
    * This is the selection rule a production corpus pipeline actually
    * wants — when a document exists in several near-identical versions
    * (mirrors, partial scrapes, boilerplate-wrapped copies), the
    * variant worth training on is the best-quality one, not the one
    * with the numerically smallest id. The quality signal is the same
    * [[Text.qualityScore]] the filter stage uses, so the two stages
    * rank documents consistently.
    *
    * Scale shape: the component closure is the proven O(log n)
    * [[connectedComponents]]; quality is computed ONLY for cluster
    * members (the doc_id join restricts the corpus scan to members
    * before the expensive tokenize — at a few-percent duplicate rate
    * that is a few percent of 100 TB, and the small member side
    * broadcasts); the argmax itself is a partial-agged
    * `max(struct(quality, -doc_id))` per component — full map-side
    * combine, no window over data-scale partitions, and the struct
    * comparison is exact because quality is rounded to 4 dp on both
    * engines before the max.
    */
  def dedupKeepQuality(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.table(spark, sfDir, "documents")
    val member = membersWithMediaMarks(spark, sfDir)
    val memberQ = docs
      .join(member, Seq("doc_id"))
      .select(col("doc_id"), col("component"), col("mdrop"),
        Text.qualityScore(Text.tokens(col("text"))).as("quality_score"))
    // media-aware eligibility FIRST (r18 task #5: a media-dropped doc
    // must not win keeper over a clean member), then the quality
    // argmax, then the min-id tie-break — one partial-agged struct max
    val keepers = memberQ.groupBy(col("component"))
      .agg(max(struct((!col("mdrop")).as("elig"),
        col("quality_score").as("q"),
        (-col("doc_id")).as("neg"), col("doc_id").as("kid"))).as("m"))
      .select(col("component"), col("m.kid").as("keeper_id"),
        col("m.q").as("keeper_quality"))
    memberQ.join(keepers, Seq("component"))
      .select(col("doc_id"), col("quality_score"),
        col("mdrop").as("media_dropped"), col("keeper_id"),
        col("keeper_quality"),
        (col("doc_id") === col("keeper_id")).as("is_keeper"))
  }

  /** DuckDB twin of [[dedupKeepQuality]] — the text component CTE plus
    * the media drop marks, quality per member, keeper = first member
    * ordered (eligibility DESC, quality DESC, doc_id ASC).
    */
  val dedupKeepQualitySql: String = mediaAwareDropsCteSql + s""",
    |mq AS (
    |  SELECT m.doc_id, m.component, m.mdrop, ${Text.qualityScoreSql} AS q
    |  FROM memx m JOIN documents d ON d.doc_id = m.doc_id),
    |k AS (
    |  SELECT component, doc_id AS kid, q AS kq,
    |         row_number() OVER (PARTITION BY component
    |                            ORDER BY mdrop ASC, q DESC, doc_id ASC) AS rn
    |  FROM mq)
    |SELECT m.doc_id, m.q AS quality_score, m.mdrop AS media_dropped,
    |       k.kid AS keeper_id, k.kq AS keeper_quality,
    |       m.doc_id = k.kid AS is_keeper
    |FROM mq m JOIN k ON k.component = m.component AND k.rn = 1
    |ORDER BY m.doc_id""".stripMargin
}
