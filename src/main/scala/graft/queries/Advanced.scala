package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Oracles, Tables}
import graft.functions.AggregateFunctions.{bounded_collect_set, exact_count_distinct, misra_gries}

/** Advanced operators: custom typed aggregates, corpus-level token
  * frequency, and skew-mitigated (salted) joins.
  */
object Advanced {

  /** Daily distinct employees via the custom ExactCountDistinctLong
    * typed-imperative aggregate (the exact fix for SURVEY B3 — works in
    * batch and in foreachBatch streaming where countDistinct is
    * rejected). Oracle: plain COUNT(DISTINCT).
    */
  def exactDistinct(spark: SparkSession, sfDir: String): DataFrame =
    Tables.activities(spark, sfDir)
      .groupBy(to_date(col("activity_timestamp")).as("activity_date"), col("activity_type"))
      .agg(exact_count_distinct(col("employee_id")).as("unique_employees"),
        count(lit(1)).as("n"))

  val exactDistinctSql: String = Oracles.withActivities(
    """SELECT CAST(activity_timestamp AS DATE) AS activity_date, activity_type,
      |       count(DISTINCT employee_id) AS unique_employees,
      |       count(*) AS n
      |FROM activities
      |GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin)

  /** Hourly page sets via BoundedCollectSet(cap=3): per-group state is
    * hard-capped on every executor — the scale-safe replacement for the
    * reference's unbounded collect_set (A4). Keeps the 3 smallest
    * (deterministic) and emits them sorted.
    */
  def boundedPages(spark: SparkSession, sfDir: String): DataFrame =
    Tables.activities(spark, sfDir)
      .groupBy(date_trunc("hour", col("activity_timestamp")).as("hour"), col("employee_id"))
      .agg(array_join(bounded_collect_set(col("page_url"), 3), ",").as("top_pages"),
        count(lit(1)).as("n"))

  val boundedPagesSql: String = Oracles.withActivities(
    """SELECT date_trunc('hour', activity_timestamp) AS hour, employee_id,
      |       array_to_string(list_sort(list_distinct(list(page_url)))[1:3], ',')
      |         AS top_pages,
      |       count(*) AS n
      |FROM activities
      |GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin)

  /** Corpus token frequency (explode → count → top 100): the word-count
    * shape every text pipeline needs; partial aggregation collapses the
    * exploded rows map-side before the exchange.
    */
  def tokenFreq(spark: SparkSession, sfDir: String): DataFrame =
    Tables.table(spark, sfDir, "documents")
      .select(explode(split(col("text"), " ")).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("freq"))
      // orderBy+limit compiles to TakeOrderedAndProject (per-partition
      // top-k heaps, no sampling pass) — strictly better than a
      // presentation sort for an unbounded distinct-token domain
      .orderBy(col("freq").desc, col("token"))
      .limit(100)

  val tokenFreqSql: String =
    """SELECT token, count(*) AS freq
      |FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
      |GROUP BY 1
      |ORDER BY freq DESC, token
      |LIMIT 100""".stripMargin

  /** MG sketch width for [[tokenFreqMg]]: ≤ k counters of aggregation
    * state anywhere, support threshold n/(k+1) ≈ 1% of corpus tokens.
    */
  val mgK = 100

  /** Heavy-hitter token frequency via the Misra–Gries sketch — the
    * scale path when the vocabulary does NOT fit a hash map.
    * [[tokenFreq]]'s explode→groupBy shuffles the full distinct-token
    * domain (fine for words, fatal for web-scale n-grams); here the
    * exchange carries at most [[mgK]] counters per partition:
    *
    *  1. one MG candidate pass (MisraGriesSketch — bounded state,
    *     mergeable across partitions);
    *  2. ONE exact recount pass restricted to the candidates
    *     (broadcast semi-join — the recount aggregation state is ≤ k
    *     groups);
    *  3. keep tokens whose EXACT count clears the n/(k+1) support
    *     threshold.
    *
    * MG's guarantee — every item with true count > n/(k+1) survives
    * the sketch — makes the thresholded output exact and deterministic
    * even though the raw candidate set is merge-order dependent, which
    * is why the threshold filter is part of the operator, not the
    * caller. Oracle: the plain exact GROUP BY with the same HAVING.
    */
  def tokenFreqMg(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = Tables.table(spark, sfDir, "documents")
      .select(explode(split(col("text"), " ")).as("token"))
    // single-row frame: (candidate array, total token count) — stays a
    // DataFrame end-to-end, no driver collect
    val sketch = toks.agg(
      misra_gries(col("token"), mgK).as("cand"),
      count(lit(1)).as("n_total"))
    val cands = sketch.select(explode(col("cand")).as("token"), col("n_total"))
    toks.join(broadcast(cands), Seq("token"))
      .groupBy(col("token"), col("n_total"))
      .agg(count(lit(1)).as("freq"))
      .filter(col("freq") * (mgK + 1) > col("n_total"))
      .select(col("token"), col("freq"))
  }

  val tokenFreqMgSql: String =
    s"""WITH toks AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
       |tot AS (SELECT count(*) AS n_total FROM toks)
       |SELECT token, count(*) AS freq
       |FROM toks, tot
       |GROUP BY token, n_total
       |HAVING count(*) * ${mgK + 1} > n_total
       |ORDER BY freq DESC, token""".stripMargin

  /** Generator (UDTF-family) coverage: posexplode — each document's
    * first five tokens with their positions. The generate runs inside
    * the scan stage (no shuffle); the position bound prunes the blowup.
    */
  def posexplodeTokens(spark: SparkSession, sfDir: String): DataFrame =
    Tables.table(spark, sfDir, "documents")
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "token")))
      .filter(col("pos") < 5)

  val posexplodeTokensSql: String =
    """SELECT doc_id, CAST(pos AS INTEGER) AS pos, toks[pos + 1] AS token
      |FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
      |CROSS JOIN (SELECT unnest(range(0, 5)) AS pos)
      |WHERE pos < len(toks)
      |ORDER BY doc_id, pos""".stripMargin

  /** Map/array (collection) function breadth: construct a map, probe it
    * (element_at / map_keys), and run array surgery (slice, sort_array,
    * array_contains, array_position) over the tokenized page path — all
    * codegen'd built-ins, checked value-by-value by the oracle.
    */
  def collectionFuncs(spark: SparkSession, sfDir: String): DataFrame = {
    val m = map(
      lit("dur"), col("duration_seconds").cast("string"),
      lit("dev"), col("device_type"))
    val parts = split(col("page_url"), "/")
    Tables.activities(spark, sfDir)
      .select(
        col("id"),
        element_at(m, "dur").as("m_dur"),
        size(map_keys(m)).as("n_keys"),
        array_join(sort_array(parts), "|").as("sorted_parts"),
        element_at(parts, -1).as("last_part"),
        array_contains(parts, "page").as("has_page"),
        array_position(parts, "page").cast("int").as("page_pos"),
        size(array_distinct(parts)).as("n_distinct_parts"))
  }

  val collectionFuncsSql: String = Oracles.withActivities(
    """SELECT id,
      |       CAST(duration_seconds AS VARCHAR) AS m_dur,
      |       2 AS n_keys,
      |       array_to_string(list_sort(string_split(page_url, '/')), '|')
      |         AS sorted_parts,
      |       string_split(page_url, '/')[-1] AS last_part,
      |       list_contains(string_split(page_url, '/'), 'page') AS has_page,
      |       CAST(list_position(string_split(page_url, '/'), 'page') AS INTEGER)
      |         AS page_pos,
      |       CAST(len(list_distinct(string_split(page_url, '/'))) AS INTEGER)
      |         AS n_distinct_parts
      |FROM activities
      |ORDER BY event_id""".stripMargin)

  /** Skew-mitigated join: the fact side's hot keys are spread over
    * `saltFactor` sub-keys; the dimension side is exploded ×saltFactor
    * so every sub-key still matches. Same result as the unsalted join —
    * which is exactly what the oracle checks — but no single reducer
    * receives a hot key's entire volume. (AQE skew-join splitting is the
    * automatic variant; salting is the portable/deterministic one.)
    */
  def saltedJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val saltFactor = 8
    val facts = Tables.table(spark, sfDir, "events")
      .withColumn("salt", pmod(col("event_id"), lit(saltFactor)).cast("int"))
    val dim = Tables.table(spark, sfDir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
      .withColumn("salt", explode(sequence(lit(0), lit(saltFactor - 1))))
    facts
      .hint("shuffle_hash") // force a shuffle join so the salting is load-bearing
      .join(dim, facts("user_id") === dim("c_custkey") && facts("salt") === dim("salt"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("total_value"))
  }

  val saltedJoinSql: String =
    """SELECT c_mktsegment,
      |       count(*) AS n_events,
      |       round(sum("value"), 2) AS total_value
      |FROM events JOIN customer ON user_id = c_custkey
      |GROUP BY 1
      |ORDER BY 1""".stripMargin

  /** Scalar-function breadth: date/time arithmetic, regex extraction,
    * string manipulation, math, and hashing in one oracle-checked
    * projection (all codegen'd built-ins — SURVEY §2.8 F1-F16 and
    * beyond).
    */
  def scalarFuncs(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .select(
        col("event_id"),
        weekday(col("ts")).as("weekday_idx"),
        date_add(to_date(col("ts")), 7).as("next_week"),
        datediff(lit("2024-02-01").cast("date"), to_date(col("ts"))).as("days_to_feb"),
        regexp_extract(get_json_object(col("props"), "$.k"), "([0-9]+)", 1).as("k_digits"),
        upper(col("event_type")).as("typ_u"),
        lpad(col("user_id").cast("string"), 6, "0").as("uid_pad"),
        round(sqrt(col("value")), 4).as("sqrt_v"),
        round(log(col("value") + 1), 4).as("ln_v"),
        greatest(col("value"), lit(100.0)).as("g"),
        sha2(col("event_type"), 256).as("sha"))

  val scalarFuncsSql: String =
    """SELECT event_id,
      |       CAST(isodow(ts) - 1 AS INTEGER) AS weekday_idx,
      |       CAST(ts AS DATE) + 7 AS next_week,
      |       CAST(date_diff('day', CAST(ts AS DATE), DATE '2024-02-01') AS INTEGER)
      |         AS days_to_feb,
      |       regexp_extract(json_extract_string(props, '$.k'), '([0-9]+)', 1) AS k_digits,
      |       upper(event_type) AS typ_u,
      |       lpad(CAST(user_id AS VARCHAR), 6, '0') AS uid_pad,
      |       round(sqrt("value"), 4) AS sqrt_v,
      |       round(ln("value" + 1), 4) AS ln_v,
      |       greatest("value", 100.0) AS g,
      |       sha256(event_type) AS sha
      |FROM events
      |ORDER BY event_id""".stripMargin

  /** Native TopKPerGroup operator (custom LogicalPlan + Strategy +
    * physical partial/final pair): top-3 orders per customer WITHOUT
    * shuffling every row — the exchange carries at most 3 rows per
    * customer per input partition, where the window formulation ships
    * the whole table.
    */
  def topKNative(spark: SparkSession, sfDir: String): DataFrame = {
    val orders = Tables.table(spark, sfDir, "orders")
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
    graft.plans.TopKPerGroup.topKPerGroup(
      orders,
      Seq(col("o_custkey")),
      Seq(col("o_totalprice").desc, col("o_orderkey").asc),
      3)
  }

  val topKNativeSql: String =
    """SELECT o_custkey, o_orderkey, o_totalprice
      |FROM orders
      |QUALIFY row_number() OVER (PARTITION BY o_custkey
      |                           ORDER BY o_totalprice DESC, o_orderkey) <= 3
      |ORDER BY o_custkey, o_totalprice DESC, o_orderkey""".stripMargin

  /** As-of join (the canonical operator Spark lacks natively): for every
    * event, the user's most recent order at-or-before the event time.
    *
    * Scale path — merge-asof via union: tag both sides, union, one
    * shuffle+sort per user, then last_value(ignoreNulls) carries the
    * latest order key forward onto event rows. No per-event range probe,
    * no row_number over an exploded join — cost is one sort-merge pass.
    * Ties (same order date) resolve to the highest orderkey (the union
    * sorts orders by (time, orderkey) before events at equal time).
    */
  def asofJoin(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val orders = Tables.table(spark, sfDir, "orders").select(
      col("o_custkey").as("uid"),
      col("o_orderdate").as("t"),
      lit(0).as("is_event"), // orders sort before events on time ties
      col("o_orderkey").as("okey"),
      lit(null).cast("long").as("event_id"))
    val events = Tables.events(spark, sfDir).select(
      col("user_id").as("uid"),
      col("ts").as("t"),
      lit(1).as("is_event"),
      lit(null).cast("long").as("okey"),
      col("event_id"))
    val w = Window.partitionBy(col("uid"))
      .orderBy(col("t"), col("is_event"), col("okey").asc_nulls_first)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    orders.unionByName(events)
      .withColumn("asof_orderkey", last(col("okey"), ignoreNulls = true).over(w))
      .filter(col("is_event") === 1)
      .select(col("event_id"), col("uid").as("user_id"), col("t").as("ts"),
        col("asof_orderkey"))
  }

  val asofJoinSql: String =
    """SELECT e.event_id, e.user_id, e.ts, o.o_orderkey AS asof_orderkey
      |FROM events e LEFT JOIN orders o ON o.o_custkey = e.user_id
      |                               AND o.o_orderdate <= e.ts
      |QUALIFY row_number() OVER (PARTITION BY e.event_id
      |                           ORDER BY o.o_orderdate DESC NULLS LAST,
      |                                    o.o_orderkey DESC NULLS LAST) = 1
      |ORDER BY event_id""".stripMargin

  /** Exact percentiles (median/p90/p99) per group — linear-interpolation
    * semantics matching DuckDB's quantile_cont. At scale swap for
    * approx_percentile (t-digest) — same API shape, bounded memory.
    */
  def percentiles(spark: SparkSession, sfDir: String): DataFrame =
    Tables.table(spark, sfDir, "orders")
      .groupBy(col("o_orderstatus"))
      .agg(
        round(percentile(col("o_totalprice"), lit(0.5)), 4).as("p50"),
        round(percentile(col("o_totalprice"), lit(0.9)), 4).as("p90"),
        round(percentile(col("o_totalprice"), lit(0.99)), 4).as("p99"),
        count(lit(1)).as("n"))

  val percentilesSql: String =
    """SELECT o_orderstatus,
      |       round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
      |       round(quantile_cont(o_totalprice, 0.9), 4) AS p90,
      |       round(quantile_cont(o_totalprice, 0.99), 4) AS p99,
      |       count(*) AS n
      |FROM orders
      |GROUP BY 1
      |ORDER BY 1""".stripMargin

  /** Pivot (wide aggregation): per-user event counts by type + purchase
    * value — groupBy().pivot().agg() compiles to one pass with CASE
    * aggregates, one exchange.
    */
  def pivotEvents(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(col("user_id"))
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(count(lit(1)))
      .na.fill(0L)

  val pivotEventsSql: String =
    """SELECT user_id,
      |       count(*) FILTER (event_type = 'click') AS click,
      |       count(*) FILTER (event_type = 'error') AS error,
      |       count(*) FILTER (event_type = 'purchase') AS purchase,
      |       count(*) FILTER (event_type = 'signup') AS signup,
      |       count(*) FILTER (event_type = 'view') AS view
      |FROM events
      |GROUP BY 1
      |ORDER BY 1""".stripMargin

  /** Batch sessionization (gaps-and-islands): sessions split on >30 min
    * inactivity per user — lag + cumulative sum over one partitioned
    * sort, then a per-session rollup. The batch twin of
    * streaming/Stateful.sessionize; identical session boundaries.
    */
  def sessionize(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val cum = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, sfDir)
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev_ts")) > 30L * 60 * 1000000, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum(col("new_session")).over(cum))
      .groupBy(col("user_id"), col("session_id"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        round(sum(col("value")), 2).as("session_value"))
  }

  /** Native session windows in BATCH (ST5 extension, declarative twin of
    * the gaps-and-islands formulation): `session_window(ts, gap)` merges
    * an event into the session while it lands strictly inside
    * [start, last + gap); session end = last event + gap. One shuffle on
    * (session, employee) after Spark's internal session merge.
    */
  def sessionWindow(spark: SparkSession, sfDir: String): DataFrame =
    Tables.activities(spark, sfDir)
      .groupBy(
        session_window(col("activity_timestamp"), "30 minutes"),
        col("employee_id"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("duration_seconds")).as("total_duration"))
      .select(
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("employee_id"), col("n_events"), col("total_duration"))

  // new session when the inactivity gap is >= 30 min (session_window
  // merges strictly-inside events only); session_end = last + gap
  val sessionWindowSql: String = Oracles.withActivities(
    """SELECT min(activity_timestamp) AS session_start,
      |       max(activity_timestamp) + INTERVAL 30 MINUTE AS session_end,
      |       employee_id,
      |       count(*) AS n_events,
      |       CAST(sum(duration_seconds) AS BIGINT) AS total_duration
      |FROM (
      |  SELECT *,
      |         -- named sess_no: the activities CTE already carries a
      |         -- session_id column, which the GROUP BY would bind to
      |         CAST(sum(new_session) OVER (PARTITION BY employee_id
      |           ORDER BY activity_timestamp, event_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |           AS sess_no
      |  FROM (
      |    SELECT *,
      |           CASE WHEN lag(activity_timestamp) OVER w IS NULL
      |                 OR epoch_us(activity_timestamp)
      |                    - epoch_us(lag(activity_timestamp) OVER w)
      |                    >= 30*60*1000000
      |                THEN 1 ELSE 0 END AS new_session
      |    FROM activities
      |    WINDOW w AS (PARTITION BY employee_id
      |                 ORDER BY activity_timestamp, event_id)))
      |GROUP BY employee_id, sess_no
      |ORDER BY employee_id, session_start""".stripMargin)

  /** Sliding (hopping) windows: 1-hour windows every 30 minutes — each
    * event lands in exactly two windows. `window(ts, len, slide)` is the
    * streaming-compatible form; in batch it compiles to an explode over
    * the window starts followed by one hash aggregation.
    */
  def slidingWindow(spark: SparkSession, sfDir: String): DataFrame =
    Tables.activities(spark, sfDir)
      .groupBy(
        window(col("activity_timestamp"), "1 hour", "30 minutes"),
        col("activity_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("duration_seconds")).as("total_duration"))
      .select(
        col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("activity_type"), col("n_events"), col("total_duration"))

  // the two 30-min-aligned starts covering each event: bucket(ts) - k·30'
  val slidingWindowSql: String = Oracles.withActivities(
    """SELECT window_start,
      |       window_start + INTERVAL 1 HOUR AS window_end,
      |       activity_type,
      |       count(*) AS n_events,
      |       CAST(sum(duration_seconds) AS BIGINT) AS total_duration
      |FROM (
      |  SELECT a.*,
      |         time_bucket(INTERVAL '30 minutes', activity_timestamp)
      |           - to_minutes(30 * k) AS window_start
      |  FROM activities a CROSS JOIN (SELECT unnest([0, 1]) AS k))
      |GROUP BY 1, 2, 3
      |ORDER BY 1, 3""".stripMargin)

  /** SCD2 interval build (lead/lag window functions): each activity row
    * becomes a version with [valid_from, valid_to) closed by the next
    * version's timestamp; the latest version per employee stays open.
    * The at-rest shape a CDC upsert sink needs for history tables.
    */
  def scd2Intervals(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byEmp = Window.partitionBy(col("employee_id"))
      .orderBy(col("activity_timestamp"), col("id").cast("long"))
    Tables.activities(spark, sfDir)
      .select(col("id"), col("employee_id"), col("duration_seconds"),
        col("activity_timestamp"))
      .withColumn("valid_from", col("activity_timestamp"))
      .withColumn("valid_to", lead(col("activity_timestamp"), 1).over(byEmp))
      .withColumn("prev_duration", lag(col("duration_seconds"), 1).over(byEmp))
      .withColumn("is_current", col("valid_to").isNull)
      .select(col("employee_id"), col("id"), col("valid_from"), col("valid_to"),
        col("prev_duration"), col("is_current"))
  }

  val scd2IntervalsSql: String = Oracles.withActivities(
    """SELECT employee_id, id,
      |       activity_timestamp AS valid_from,
      |       lead(activity_timestamp) OVER w AS valid_to,
      |       lag(duration_seconds) OVER w AS prev_duration,
      |       lead(activity_timestamp) OVER w IS NULL AS is_current
      |FROM activities
      |WINDOW w AS (PARTITION BY employee_id ORDER BY activity_timestamp, event_id)
      |ORDER BY employee_id, valid_from, event_id""".stripMargin)

  /** Interval (range) self-join: same-user event pairs at most 60
    * seconds apart — the burst/duplicate-click detection shape. Scales
    * via window-sized bucket banding: the earlier event probes its own
    * and the next bucket, so the equi-join on (user, bucket) sees only
    * co-located candidates and the quadratic pair space never
    * materializes (same blocking idea as SimHash chunks / LSH bands).
    * The window is 60 s (not the original 1 s) so the sf0.01 oracle
    * asserts a NON-EMPTY result — at 1 s no same-user pair exists at
    * that scale and an empty-vs-empty hash match can't catch a join
    * that silently drops everything.
    */
  def intervalJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("t"))
    val earlier = ev.select(
      col("event_id").as("first_event"), col("user_id"), col("t").as("ta"),
      explode(array(expr("t div 60000000"), expr("t div 60000000") + 1)).as("bkt"))
    val later = ev.select(
      col("event_id").as("second_event"), col("user_id"), col("t").as("tb"),
      expr("t div 60000000").as("bkt"))
    earlier.join(later, Seq("user_id", "bkt"))
      .filter(
        col("tb") >= col("ta") && col("tb") - col("ta") <= 60000000L &&
          (col("tb") > col("ta") || col("second_event") > col("first_event")))
      .select(col("first_event"), col("second_event"), col("user_id"),
        (col("tb") - col("ta")).as("gap_us"))
  }

  /** Oracle: the naive quadratic formulation (ground truth the banding
    * must reproduce exactly).
    */
  val intervalJoinSql: String =
    """SELECT a.event_id AS first_event, b.event_id AS second_event, a.user_id,
      |       epoch_us(b.ts) - epoch_us(a.ts) AS gap_us
      |FROM events a JOIN events b ON a.user_id = b.user_id
      |WHERE epoch_us(b.ts) >= epoch_us(a.ts)
      |  AND epoch_us(b.ts) - epoch_us(a.ts) <= 60000000
      |  AND (epoch_us(b.ts) > epoch_us(a.ts) OR b.event_id > a.event_id)
      |ORDER BY first_event, second_event""".stripMargin

  /** DDSketch bucket base: 2% relative-error quantiles. */
  val ddGamma = 1.02

  /** Quantiles emitted by [[quantileSketch]]. */
  val ddQs = Seq(0.5, 0.9, 0.99)

  /** Value-distribution quantiles per event type via the custom
    * [[graft.functions.DDSketchQuantiles]] mergeable sketch — the
    * monitoring percentiles (p50/p90/p99) a pipeline tracks per metric.
    *
    * Why a sketch and not sort-based `percentile`: exact percentiles
    * shuffle (or at best cluster) every row per group; the sketch's
    * exchange carries one ≤ few-hundred-bucket histogram per group per
    * partition regardless of corpus size, and — unlike
    * percentile_approx's GK buffer — its merge is exact count
    * addition, so results are deterministic under any partitioning
    * (which is also what makes the DuckDB oracle able to reproduce
    * the log-bucket math bit-for-bit) and safe as streaming state.
    */
  def quantileSketch(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.AggregateFunctions.dd_quantiles
    Tables.table(spark, sfDir, "events")
      .filter(col("value") > 0)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        dd_quantiles(col("value"), ddGamma, ddQs).as("qv"))
      .select(col("event_type"), col("n_events"),
        round(element_at(col("qv"), 1), 4).as("p50"),
        round(element_at(col("qv"), 2), 4).as("p90"),
        round(element_at(col("qv"), 3), 4).as("p99"))
  }

  /** Oracle: the sketch's log-bucket math replayed in SQL — bucket
    * assignment, cumulative rank walk, and midpoint estimate are all
    * deterministic, so the comparison is exact, not tolerance-based.
    */
  val quantileSketchSql: String = {
    def est = s"2 * pow($ddGamma, bkt) / ($ddGamma + 1.0)"
    s"""WITH b AS (SELECT event_type,
       |                  CAST(ceil(ln("value") / ln($ddGamma)) AS INTEGER) AS bkt,
       |                  count(*) AS c
       |           FROM events WHERE "value" > 0 GROUP BY 1, 2),
       |tot AS (SELECT event_type, CAST(sum(c) AS BIGINT) AS n FROM b GROUP BY 1),
       |cum AS (SELECT event_type, bkt,
       |               sum(c) OVER (PARTITION BY event_type ORDER BY bkt) AS cum
       |        FROM b),
       |sel AS (SELECT event_type, q, min(bkt) AS bkt
       |        FROM cum JOIN tot USING (event_type),
       |             (VALUES (0.5), (0.9), (0.99)) t(q)
       |        WHERE cum >= ceil(q * n) GROUP BY 1, 2)
       |SELECT s.event_type, t.n AS n_events,
       |       round(max(CASE WHEN q = 0.5 THEN $est END), 4) AS p50,
       |       round(max(CASE WHEN q = 0.9 THEN $est END), 4) AS p90,
       |       round(max(CASE WHEN q = 0.99 THEN $est END), 4) AS p99
       |FROM sel s JOIN tot t USING (event_type)
       |GROUP BY 1, 2
       |ORDER BY 1""".stripMargin
  }

  /** Ordered funnel steps (first-occurrence semantics). */
  val funnelSteps = Seq("signup", "view", "click", "purchase")

  /** Conversion funnel over the event log: users reaching step k of
    * signup → view → click → purchase, where each step's FIRST
    * occurrence must strictly follow the previous step's first
    * occurrence (the standard first-touch ordered funnel). Emits the
    * cumulative reach per step and conversion from step 1.
    *
    * Scale shape: ONE partial-agged groupBy(user) computes all four
    * first-occurrence times as conditional mins (no self-joins, no
    * per-step passes — the classic funnel anti-pattern); the step
    * derivation is a per-row CASE chain; the cumulative counts come
    * from exploding 1..step, whose output is ≤ 4 rows per user.
    */
  def funnel(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ts = unix_micros(col("ts"))
    val mins = funnelSteps.zipWithIndex.map { case (st, i) =>
      min(when(col("event_type") === st, ts)).as(s"t${i + 1}")
    }
    val per = Tables.events(spark, sfDir)
      .groupBy(col("user_id")).agg(mins.head, mins.tail: _*)
    val step = when(col("t1").isNull, lit(0)).otherwise(
      when(col("t2") > col("t1"),
        when(col("t3") > col("t2"),
          when(col("t4") > col("t3"), lit(4)).otherwise(lit(3)))
          .otherwise(lit(2)))
        .otherwise(lit(1)))
    val reached = per.select(step.as("s"))
      .filter(col("s") >= 1)
      .select(explode(sequence(lit(1), col("s"))).as("step"))
      .groupBy(col("step")).agg(count(lit(1)).as("n_reached"))
    val conv = round(col("n_reached").cast("double") /
      max(col("n_reached")).over(Window.partitionBy()), 4)
    reached.select(col("step"), col("n_reached"), conv.as("conv_from_first"))
  }

  val funnelSql: String = {
    val mins = funnelSteps.zipWithIndex.map { case (st, i) =>
      s"min(CASE WHEN event_type = '$st' THEN epoch_us(ts) END) AS t${i + 1}"
    }.mkString(",\n|         ")
    s"""WITH per AS (
       |  SELECT user_id,
       |         $mins
       |  FROM events GROUP BY 1),
       |steps AS (
       |  SELECT CASE WHEN t1 IS NULL THEN 0
       |              WHEN t2 > t1 THEN
       |                CASE WHEN t3 > t2 THEN
       |                  CASE WHEN t4 > t3 THEN 4 ELSE 3 END
       |                ELSE 2 END
       |              ELSE 1 END AS s
       |  FROM per),
       |reached AS (SELECT unnest(range(1, s + 1)) AS step
       |            FROM steps WHERE s >= 1),
       |counts AS (SELECT CAST(step AS INTEGER) AS step, count(*) AS n_reached
       |           FROM reached GROUP BY 1)
       |SELECT step, n_reached,
       |       round(n_reached::DOUBLE / max(n_reached) OVER (), 4) AS conv_from_first
       |FROM counts ORDER BY step""".stripMargin
  }

  /** Temporal distribution drift: per day, KL(day ‖ overall) of the
    * event-type distribution — the monitoring twin of
    * [[graft.ext.Text.sourceKl]] along the time axis: a day whose
    * event mix diverges from the historical shape flags an outage, a
    * bot wave, or an instrumentation change. Support is the day's own
    * types, so every term is finite (the overall mix contains them).
    *
    * Scale shape: one partial-agged groupBy on (day, type) — a tiny
    * key domain however long the log — then constant-size joins;
    * output is one row per day.
    */
  def eventDrift(spark: SparkSession, sfDir: String): DataFrame = {
    val dt = Tables.events(spark, sfDir)
      .select(to_date(col("ts")).as("day"), col("event_type"))
      .groupBy(col("day"), col("event_type"))
      .agg(count(lit(1)).as("c_dt"))
    val dTot = dt.groupBy(col("day")).agg(sum(col("c_dt")).as("n_d"))
    val gt = dt.groupBy(col("event_type")).agg(sum(col("c_dt")).as("c_t"))
    val gTot = gt.agg(sum(col("c_t")).as("n"))
    val p = col("c_dt").cast("double") / col("n_d")
    val q = col("c_t").cast("double") / col("n")
    dt.join(broadcast(gt), Seq("event_type"))
      .join(broadcast(dTot), Seq("day"))
      .crossJoin(broadcast(gTot)) // scalar log size rides along
      .groupBy(col("day"), col("n_d").as("n_events"))
      .agg(round(sum(p * log(p / q)), 4).as("kl_overall"))
  }

  val eventDriftSql: String =
    """WITH dt AS (SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS c_dt
      |            FROM events GROUP BY 1, 2),
      |dtot AS (SELECT day, CAST(sum(c_dt) AS BIGINT) AS n_d FROM dt GROUP BY 1),
      |gt AS (SELECT event_type, CAST(sum(c_dt) AS BIGINT) AS c_t FROM dt GROUP BY 1),
      |tot AS (SELECT CAST(sum(c_t) AS BIGINT) AS n FROM gt)
      |SELECT day, n_d AS n_events,
      |       round(sum((c_dt::DOUBLE / n_d)
      |                 * ln((c_dt::DOUBLE / n_d) / (c_t::DOUBLE / n))), 4)
      |         AS kl_overall
      |FROM dt JOIN gt USING (event_type) JOIN dtot USING (day), tot
      |GROUP BY day, n_d
      |ORDER BY day""".stripMargin

  /** Cohort retention matrix: users grouped by the week of their first
    * event (the cohort), then for every later week the count and
    * fraction of the cohort still active — the canonical product
    * analytics read-out (and the one the reference's activity log
    * exists to feed; cf. reference streaming queries over per-user
    * activity, SURVEY §2.5). Weeks are Monday-truncated in both
    * engines; `week_offset` 0 is the cohort week itself, so retention
    * at offset 0 is 1.0 by construction.
    *
    * Scale shape: one user-grain aggregate for first-event weeks, one
    * user×week distinct, one hash join on user_id (AQE may broadcast
    * the cohort side when small; at web scale both sides shuffle on
    * user_id — the join key equals the aggregation key so the
    * exchange is reused), then a (cohort, offset) partial-agg whose
    * key domain is weeks² — metadata-scale. The retention window runs
    * over per-cohort partitions of that tiny result, never over rows.
    */
  def cohortRetention(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(spark, sfDir)
    val firsts = ev.groupBy(col("user_id"))
      .agg(to_date(date_trunc("week", min(col("ts")))).as("cohort_week"))
    val active = ev
      .select(col("user_id"), to_date(date_trunc("week", col("ts"))).as("active_week"))
      .distinct()
    val per = active.join(firsts, Seq("user_id"))
      .select(col("cohort_week"),
        // both weeks are Monday-aligned, so the day gap is an exact
        // multiple of 7 and the int cast is a no-op truncation
        (datediff(col("active_week"), col("cohort_week")) / 7).cast("int").as("week_offset"))
    val counts = per.groupBy(col("cohort_week"), col("week_offset"))
      .agg(count(lit(1)).as("n_users"))
    val base = max(when(col("week_offset") === 0, col("n_users")))
      .over(Window.partitionBy(col("cohort_week")))
    counts.withColumn("retention", round(col("n_users").cast("double") / base, 4))
  }

  /** DuckDB twin of [[cohortRetention]] (`//` keeps the offset
    * arithmetic integral; both engines truncate weeks to Monday).
    */
  val cohortRetentionSql: String =
    """WITH firsts AS (
      |  SELECT user_id, CAST(date_trunc('week', min(ts)) AS DATE) AS cohort_week
      |  FROM events GROUP BY 1),
      |active AS (
      |  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS active_week
      |  FROM events),
      |per AS (
      |  SELECT f.cohort_week,
      |         CAST((a.active_week - f.cohort_week) // 7 AS INTEGER) AS week_offset
      |  FROM active a JOIN firsts f USING (user_id)),
      |counts AS (
      |  SELECT cohort_week, week_offset, count(*) AS n_users
      |  FROM per GROUP BY 1, 2)
      |SELECT cohort_week, week_offset, n_users,
      |       round(n_users::DOUBLE / max(CASE WHEN week_offset = 0 THEN n_users END)
      |             OVER (PARTITION BY cohort_week), 4) AS retention
      |FROM counts
      |ORDER BY cohort_week, week_offset""".stripMargin

  /** Z-score anomaly detection: events whose value sits ≥ 3 population
    * standard deviations from their event_type's mean — the telemetry
    * outlier flag every monitoring pipeline runs over its event log.
    *
    * Scale shape: the model is one partial-agged groupBy on the tiny
    * event_type domain (constant-size however large the log), broadcast
    * back over a second scan; flagging is a codegen'd per-row
    * projection. One shuffle of a handful of rows, nothing quadratic.
    * The cut is taken on the ROUNDED z (4 dp) so a sub-ulp divergence
    * in mean/stddev between engines cannot flip boundary membership.
    */
  def eventAnomaly(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    flagAnomalies(ev, anomalyStats(ev))
  }

  /** The per-type model: one partial-agged groupBy on the tiny
    * event_type domain.
    */
  def anomalyStats(events: DataFrame): DataFrame =
    events.groupBy(col("event_type"))
      .agg(avg(col("value")).as("mu"), stddev_pop(col("value")).as("sigma"))

  /** Scores `events` (batch OR streaming) against a batch-trained
    * model — the train-batch/score-stream split every production
    * anomaly detector runs: the stats frame is broadcast, so a
    * streaming caller gets a stream-static broadcast join that adds
    * no state and no extra watermark to the pipeline.
    */
  def flagAnomalies(events: DataFrame, stats: DataFrame): DataFrame = {
    val z = round((col("value") - col("mu")) / col("sigma"), 4)
    events.join(broadcast(stats), Seq("event_type"))
      .filter(col("sigma") > 0 && abs(z) >= 3.0)
      .select(col("event_id"), col("event_type"), col("value"),
        round(col("mu"), 4).as("type_mean"), z.as("z_score"))
  }

  val eventAnomalySql: String =
    """WITH stats AS (SELECT event_type, avg("value") AS mu,
      |                      stddev_pop("value") AS sigma
      |               FROM events GROUP BY 1)
      |SELECT event_id, event_type, "value",
      |       round(mu, 4) AS type_mean,
      |       round(("value" - mu) / sigma, 4) AS z_score
      |FROM events JOIN stats USING (event_type)
      |WHERE sigma > 0 AND abs(round(("value" - mu) / sigma, 4)) >= 3.0
      |ORDER BY event_id""".stripMargin

  val sessionizeSql: String =
    """WITH marked AS (
      |  SELECT *,
      |         CASE WHEN lag(ts) OVER w IS NULL
      |               OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 30*60*1000000
      |              THEN 1 ELSE 0 END AS new_session
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |sessions AS (
      |  SELECT *,
      |         CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      |  FROM marked)
      |SELECT user_id, session_id,
      |       count(*) AS n_events,
      |       min(ts) AS session_start,
      |       max(ts) AS session_end,
      |       round(sum("value"), 2) AS session_value
      |FROM sessions
      |GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin

  /** The transformWithState sessionizer (arbitrary state v2,
    * streaming/Stateful.sessionizeTws) oracle-gated end to end: the
    * activities stage as a file-source STREAM, the TWS processor folds
    * them per employee on RocksDB state (transformWithState requires a
    * multi-column-family store), and the memory sink collects the
    * CLOSED sessions. The default file source drains the directory in
    * ONE micro-batch, so per key every session but the chronologically
    * last closes — the DuckDB twin is gaps-and-islands (30-min gap,
    * µs-exact like the fold) minus each employee's final session. Runs
    * on a CLONED SparkSession: the RocksDB provider conf must not leak
    * into sibling fixture queries starting streams concurrently.
    */
  def sessionizeTwsGate(spark: SparkSession, sfDir: String): DataFrame = {
    val s = spark.newSession()
    // newSession() drops the caller's RUNTIME conf (e.g. Verify's INT96
    // result-dump format) — mirror it, then apply the one override
    // (static keys refuse the set; skip them)
    spark.conf.getAll.foreach { case (k, v) =>
      scala.util.Try(s.conf.set(k, v)) }
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import s.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_tws")
    val actDir = s"$base/activities"
    val acts = Tables.activities(s, sfDir).select(
      col("employee_id").cast("int").as("employee_id"),
      col("activity_type"),
      col("activity_timestamp").cast("timestamp").as("activity_timestamp"),
      col("duration_seconds").cast("int").as("duration_seconds"))
    acts.write.parquet(actDir)
    val stream = s.readStream.schema(acts.schema).parquet(actDir)
      .as[graft.streaming.Stateful.ActivityEvent]
    val sessions = graft.streaming.Stateful.sessionizeTws(
      s, stream, gapMillis = 30L * 60 * 1000, withTimer = false)
    val qn = "x_sessionize_tws_sink"
    scala.util.Try(s.catalog.dropTempView(qn))
    val q = sessions.toDF().writeStream.format("memory").queryName(qn)
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    s.table(qn)
      .localCheckpoint(true) // detach from the stopped stream's plan
  }

  /** The reference's K2 topology closed onto the engine's OWN table
    * format, end to end with a crash in the middle
    * (multi_source_streaming_processor.py:347-361 writes streaming
    * aggregates to a Hudi upsert table keyed+precombined for
    * exactly-once-EQUIVALENT state): the TWS sessionizer's closed
    * sessions land in a graft-upsert table from `foreachBatch`, keyed
    * (employee_id, session_start) with session_end µs as precombine.
    * The stream runs file-per-micro-batch; an injected failure kills
    * the query AFTER batch 1's sink commit but BEFORE its checkpoint
    * commit — the worst-case window, where a naive append sink
    * duplicates every batch-1 row. The restarted query replays batch 1
    * from the checkpoint; the upsert's record keys + precombine make
    * the replay idempotent, so the final table hash-matches the
    * clean-run batch twin ([[sessionizeTwsSql]] — same oracle, the
    * crash must be invisible).
    */
  def sessionizeTwsUpsert(spark: SparkSession, sfDir: String): DataFrame = {
    val s = spark.newSession()
    spark.conf.getAll.foreach { case (k, v) =>
      scala.util.Try(s.conf.set(k, v)) }
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // small shuffle width = few RocksDB store instances per batch; the
    // conf is identical across the crash restart, so checkpointed
    // state partitioning stays consistent
    s.conf.set("spark.sql.shuffle.partitions", "8")
    import s.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_twsup")
    val actDir = s"$base/activities"; val tblDir = s"$base/table"
    val ckpt = s"$base/ckpt"
    val acts = Tables.activities(s, sfDir).select(
      col("employee_id").cast("int").as("employee_id"),
      col("activity_type"),
      col("activity_timestamp").cast("timestamp").as("activity_timestamp"),
      col("duration_seconds").cast("int").as("duration_seconds"))
    // two files = two micro-batches: sessions spanning the time split
    // fold across batches through RocksDB state
    val cut = acts.agg(
      org.apache.spark.sql.functions.expr(
        "percentile_approx(activity_timestamp, 0.5)")).head.getTimestamp(0)
    acts.filter(col("activity_timestamp") <= cut).coalesce(1).write.parquet(actDir)
    acts.filter(col("activity_timestamp") > cut).coalesce(1)
      .write.mode("append").parquet(actDir)
    val sink = graft.io.ParquetUpsertSink(tblDir,
      Seq("employee_id", "session_start"), "pre", "p")
    val crashOnce = new java.util.concurrent.atomic.AtomicBoolean(true)
    def run(): Unit = {
      val stream = s.readStream.schema(acts.schema)
        .option("maxFilesPerTrigger", "1").parquet(actDir)
        .as[graft.streaming.Stateful.ActivityEvent]
      val q = graft.streaming.Stateful.sessionizeTws(
        s, stream, gapMillis = 30L * 60 * 1000, withTimer = false)
        .toDF()
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: DataFrame, batchId: Long) =>
          sink.upsert(
            b.withColumn("pre", unix_micros(col("session_end")))
              .withColumn("p", concat(lit("b"), pmod(col("employee_id"), lit(4)))),
            batchId)
          // crash in the worst-case window: sink committed, offsets not
          if (batchId == 1 && crashOnce.getAndSet(false))
            throw new RuntimeException("injected crash after sink commit")
          ()
        }
        .start()
      try q.processAllAvailable()
      finally scala.util.Try(q.stop())
      // a foreachBatch throw surfaces on the terminated query, not
      // processAllAvailable on every path — probe and rethrow
      q.exception.foreach(e => throw e)
    }
    try run()
    catch { case _: org.apache.spark.sql.streaming.StreamingQueryException =>
      run() // restart from the checkpoint: batch 1 replays into the table
    }
    // the gate exists to prove the crash-replay window — if the crash
    // never fired (source drained in one batch, or run 1 failed for an
    // unrelated reason and run 2 went clean), the oracle would still
    // hash-match while covering nothing; fail loudly instead
    require(!crashOnce.get(),
      "sessionizeTwsUpsert: the injected crash never fired — the gate " +
        "did not exercise the replay window")
    s.read.format("graft-upsert").load(tblDir)
      .select(col("employee_id"), col("session_start"), col("session_end"),
        col("n_events"), col("total_duration"))
      .localCheckpoint(true)
  }

  // gaps-and-islands over activities, µs-exact, EXCLUDING each
  // employee's last session (still open in state — never emitted)
  val sessionizeTwsSql: String = Oracles.withActivities(
    """, marked AS (
      |  SELECT employee_id, activity_timestamp AS t, duration_seconds,
      |         CASE WHEN lag(activity_timestamp) OVER w IS NULL
      |               OR epoch_us(activity_timestamp)
      |                  - epoch_us(lag(activity_timestamp) OVER w) > 30*60*1000000
      |              THEN 1 ELSE 0 END AS new_session
      |  FROM activities
      |  WINDOW w AS (PARTITION BY employee_id ORDER BY activity_timestamp)),
      |numbered AS (
      |  SELECT *,
      |         sum(new_session) OVER (PARTITION BY employee_id ORDER BY t
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM marked),
      |agg AS (
      |  SELECT employee_id, sid,
      |         min(t) AS session_start, max(t) AS session_end,
      |         CAST(count(*) AS INT) AS n_events,
      |         CAST(sum(duration_seconds) AS BIGINT) AS total_duration
      |  FROM numbered GROUP BY 1, 2)
      |SELECT employee_id, session_start, session_end, n_events, total_duration
      |FROM agg
      |WHERE sid < (SELECT max(a2.sid) FROM agg a2 WHERE a2.employee_id = agg.employee_id)
      |ORDER BY employee_id, session_start""".stripMargin)
}
