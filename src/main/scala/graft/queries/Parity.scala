package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{GraftSession, Tables}
import graft.Tables.Resplit
import graft.cdc.Debezium
import graft.enrich.Enrichments
import graft.agg.ActivityAggs
import graft.model.Schemas

/** Capability-parity queries (SURVEY §2), expressed as batch twins over
  * the driver testdata so the DuckDB oracle can check them. The same
  * building blocks (Debezium, Enrichments, ActivityAggs) power the
  * streaming pipeline in graft.streaming.
  */
object Parity {

  /** Fixed clock for processing-time columns — keeps golden/oracle tests
    * deterministic (SURVEY §7.4 risk 5).
    */
  val fixedNow: Column = lit("2024-02-01").cast("date")

  private def enrichedActivities(spark: SparkSession, sfDir: String): DataFrame =
    Enrichments.enrichActivities(Tables.activities(spark, sfDir), fixedNow)

  /** S1/S2 + P1-P3 + F2: wrap each activity row in a Debezium envelope
    * (op assigned deterministically by key: 0→delete, 1→snapshot-read,
    * 2→update, else insert), then run the engine's two-phase CDC parse.
    * Round-trip must reproduce exactly the op∈{c,u} subset.
    *
    * Timestamps ride the wire as epoch-micros longs — what Debezium
    * actually emits (io.debezium.time.MicroTimestamp), and ~15% cheaper
    * to parse than formatted strings. The op also rides as a wire
    * header column (Debezium SMT `add.headers=op`), so the engine
    * filters dropped records before parsing any JSON.
    */
  /** The deterministic wire envelope for sfDir's activities. Pure
    * fixture construction — in production these bytes arrive from the
    * broker, the engine never pays the encode.
    */
  private def wireEnvelope(spark: SparkSession, sfDir: String): DataFrame = {
    val act = Tables.activities(spark, sfDir)
    val opCol = {
      val m = col("id").cast("long") % 10
      when(m === 0, "d").when(m === 1, "r").when(m === 2, "u").otherwise("c")
    }
    act.select(
      opCol.as("op_header"),
      to_json(
        struct(
          struct(
            to_json(struct(Debezium.toWireCols(Schemas.activity): _*)).as("after"),
            opCol.as("op"),
            unix_millis(col("activity_timestamp")).as("ts_ms")
          ).as("payload"))).as("value"))
  }

  private val wireCache = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Materialize [[wireEnvelope]] to scratch parquet once per JVM and
    * return its path. Bench calls this before timing (fixture setup is
    * not engine work); [[cdcParse]] calls it lazily so Verify and specs
    * need no extra step. Written split so the parse parallelizes the way
    * a multi-partition Kafka topic would.
    */
  def stageWire(spark: SparkSession, sfDir: String): String =
    wireCache.computeIfAbsent(sfDir, { dir =>
      val root = java.nio.file.Files.createTempDirectory("graft_wire_")
      // scratch fixture, one per JVM per sfDir: reclaim it on exit
      // instead of leaking a parquet directory per run
      sys.addShutdownHook {
        import java.nio.file.{Files, Path}
        import java.util.Comparator
        // best-effort: hooks run concurrently with Spark's own shutdown,
        // so a still-flushing file must not abort the rest of the sweep
        // (and the walk stream must be closed either way)
        if (Files.exists(root)) {
          val walk = Files.walk(root)
          try walk.sorted(Comparator.reverseOrder[Path]()).forEach { p =>
            try Files.deleteIfExists(p)
            catch { case _: java.io.IOException => () }
          } finally walk.close()
        }
      }
      val path = root.resolve("envelope.parquet").toString
      wireEnvelope(spark, dir)
        .resplit(spark)
        .write.mode("overwrite").parquet(path)
      path
    })

  def cdcParse(spark: SparkSession, sfDir: String): DataFrame = {
    val wire = spark.read.parquet(stageWire(spark, sfDir))
    Debezium
      .parseWire(wire, Schemas.activity, headerOpCol = Some("op_header"))
      .drop("processing_timestamp") // wall-clock; excluded from oracle compare
  }

  val cdcParseSql: String = graft.Oracles.withActivities(
    """SELECT id, employee_id, activity_type, page_url, duration_seconds,
      |       ip_address, user_agent, activity_timestamp, session_id,
      |       device_type, browser, created_at,
      |       epoch_ms(activity_timestamp) AS event_timestamp
      |FROM activities
      |WHERE event_id % 10 >= 2
      |ORDER BY event_id""".stripMargin)

  /** F6-F8, F10-F13: full activity enrichment. */
  def enrichActivity(spark: SparkSession, sfDir: String): DataFrame =
    enrichedActivities(spark, sfDir)

  val enrichActivitySql: String = graft.Oracles.withEnriched(
    """SELECT id, employee_id, activity_type, page_url, duration_seconds,
      |       ip_address, user_agent, activity_timestamp, session_id,
      |       device_type, browser, created_at,
      |       activity_hour, activity_date, session_duration_category,
      |       is_business_hours, device_category, data_source, processing_date
      |FROM enriched
      |ORDER BY event_id""".stripMargin)

  /** F4-F5, F10-F11: employee enrichment. */
  def enrichEmployee(spark: SparkSession, sfDir: String): DataFrame =
    Enrichments.enrichEmployees(Tables.employees(spark, sfDir), fixedNow)

  val enrichEmployeeSql: String = graft.Oracles.withEmployees(
    """SELECT id, name, email, department, created_at,
      |       CASE WHEN department IN ('Engineering', 'IT') THEN 'Technical'
      |            WHEN department IN ('Sales', 'Marketing') THEN 'Business'
      |            ELSE 'Support' END AS department_category,
      |       CASE WHEN email LIKE '%senior%' THEN 'Senior'
      |            WHEN email LIKE '%lead%' THEN 'Lead'
      |            ELSE 'Regular' END AS employee_level,
      |       'postgresql' AS data_source,
      |       DATE '2024-02-01' AS processing_date
      |FROM employees
      |ORDER BY id""".stripMargin)

  /** A1-A5, A7-A9: hourly windowed aggregation (batch twin). The page
    * set is emitted as a sorted comma-joined string so the compare is
    * order-stable; `primary_device` (`first()` in the reference) is
    * deterministic here because device is a function of the grouping key.
    */
  def aggHourly(spark: SparkSession, sfDir: String): DataFrame =
    ActivityAggs.hourly(enrichedActivities(spark, sfDir))
      .select(
        col("window_start"), col("window_end"),
        col("employee_id"), col("activity_type"),
        col("activity_count"), col("total_duration"),
        round(col("avg_duration"), 4).as("avg_duration"),
        array_join(col("unique_pages"), ",").as("unique_pages"),
        col("primary_device"), col("aggregation_type"))

  val aggHourlySql: String = graft.Oracles.withEnriched(
    """SELECT date_trunc('hour', activity_timestamp) AS window_start,
      |       date_trunc('hour', activity_timestamp) + INTERVAL 1 HOUR AS window_end,
      |       employee_id, activity_type,
      |       count(*) AS activity_count,
      |       CAST(sum(duration_seconds) AS BIGINT) AS total_duration,
      |       round(avg(duration_seconds), 4) AS avg_duration,
      |       array_to_string(list_sort(list(DISTINCT page_url))[1:1000], ',')
      |         AS unique_pages,
      |       min(device_category) AS primary_device,
      |       'hourly' AS aggregation_type
      |FROM enriched
      |GROUP BY 1, 2, 3, 4
      |ORDER BY 1, 3, 4""".stripMargin)

  /** A1, A3, A6-A9: daily windowed aggregation (batch twin: exact
    * countDistinct; streaming path uses HLL++ — SURVEY B3).
    */
  def aggDaily(spark: SparkSession, sfDir: String): DataFrame =
    ActivityAggs.daily(enrichedActivities(spark, sfDir))
      .select(
        col("window_start"), col("window_end"),
        col("activity_type"), col("device_category"),
        col("activity_count"), col("unique_employees"),
        round(col("avg_duration"), 4).as("avg_duration"),
        col("aggregation_type"))

  val aggDailySql: String = graft.Oracles.withEnriched(
    """SELECT date_trunc('day', activity_timestamp) AS window_start,
      |       date_trunc('day', activity_timestamp) + INTERVAL 1 DAY AS window_end,
      |       activity_type, device_category,
      |       count(*) AS activity_count,
      |       count(DISTINCT employee_id) AS unique_employees,
      |       round(avg(duration_seconds), 4) AS avg_duration,
      |       'daily_device' AS aggregation_type
      |FROM enriched
      |GROUP BY 1, 2, 3, 4
      |ORDER BY 1, 3, 4""".stripMargin)

  /** §2.4 parity-extension join: activity ⟕ employee on the FK. The
    * employee side is small (dimension) → broadcast, no shuffle of the
    * activity stream — the shape that survives 100 TB.
    */
  def joinActivityEmployee(spark: SparkSession, sfDir: String): DataFrame = {
    val act = enrichedActivities(spark, sfDir)
    val emp = Enrichments.enrichEmployees(Tables.employees(spark, sfDir), fixedNow)
      .select(
        col("id").as("employee_id"), col("name"), col("department"),
        col("department_category"), col("employee_level"))
    act
      .select(
        col("id"), col("employee_id"), col("activity_type"),
        col("device_category"), col("duration_seconds"))
      .join(broadcast(emp), Seq("employee_id"), "left")
  }

  // NOTE: concatenation, not interpolation+stripMargin — the CTE bodies
  // contain `||` at line starts, which stripMargin would mangle.
  val joinActivityEmployeeSql: String =
    "WITH " + graft.Oracles.activitiesCte + ",\n" +
      graft.Oracles.enrichedCte + ",\n" +
      graft.Oracles.employeesCte + "\n" +
      """SELECT e2.employee_id, e2.id, e2.activity_type, e2.device_category,
        |       e2.duration_seconds,
        |       emp.name, emp.department,
        |       CASE WHEN emp.department IN ('Engineering', 'IT') THEN 'Technical'
        |            WHEN emp.department IN ('Sales', 'Marketing') THEN 'Business'
        |            ELSE 'Support' END AS department_category,
        |       CASE WHEN emp.email LIKE '%senior%' THEN 'Senior'
        |            WHEN emp.email LIKE '%lead%' THEN 'Lead'
        |            ELSE 'Regular' END AS employee_level
        |FROM enriched e2 LEFT JOIN employees emp ON e2.employee_id = emp.id
        |ORDER BY e2.event_id""".stripMargin

  /** §2.7 extension: the two same-schema activity sources the reference
    * never unions (Postgres topic + Cassandra topic) — here simulated by
    * an even/odd key split, tagged by source, unionByName'd, then
    * aggregated per source.
    */
  def unionSources(spark: SparkSession, sfDir: String): DataFrame = {
    val act = Tables.activities(spark, sfDir)
    val pg = act.filter(col("id").cast("long") % 2 === 0)
      .withColumn("data_source", lit("postgresql"))
    val cass = act.filter(col("id").cast("long") % 2 === 1)
      .withColumn("data_source", lit("cassandra"))
    pg.unionByName(cass)
      .groupBy(col("data_source"), col("activity_type"))
      .agg(
        count(lit(1)).as("activity_count"),
        sum(col("duration_seconds")).as("total_duration"))
  }

  val unionSourcesSql: String = graft.Oracles.withActivities(
    """SELECT data_source, activity_type,
      |       count(*) AS activity_count,
      |       CAST(sum(duration_seconds) AS BIGINT) AS total_duration
      |FROM (
      |  SELECT a.*, 'postgresql' AS data_source FROM activities a WHERE event_id % 2 = 0
      |  UNION ALL
      |  SELECT a.*, 'cassandra' AS data_source FROM activities a WHERE event_id % 2 = 1)
      |GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin)

  /** K2 Hudi-sink semantics as a query: upsert-by-record-key with
    * precombine-by-latest — keep the newest row per (employee_id,
    * activity_type), ties broken by highest id. This is exactly the
    * row_number shape our ParquetUpsertSink applies per micro-batch.
    */
  def upsertPrecombine(spark: SparkSession, sfDir: String): DataFrame = {
    val act = Tables.activities(spark, sfDir)
    val w = Window
      .partitionBy(col("employee_id"), col("activity_type"))
      .orderBy(col("activity_timestamp").desc, col("id").cast("long").desc)
    act
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(
        col("employee_id"), col("activity_type"), col("id"),
        col("activity_timestamp"), col("duration_seconds"))
  }

  val upsertPrecombineSql: String = graft.Oracles.withActivities(
    """SELECT employee_id, activity_type, id, activity_timestamp, duration_seconds
      |FROM activities
      |QUALIFY row_number() OVER (
      |  PARTITION BY employee_id, activity_type
      |  ORDER BY activity_timestamp DESC, event_id DESC) = 1
      |ORDER BY employee_id, activity_type""".stripMargin)

  /** End-to-end upsert TABLE round-trip through the DataSource V2 read
    * path: physically write orders into a [[graft.io.ParquetUpsertSink]]
    * table (batch 0 = full load, batch 1 = an update wave that bumps
    * every 97th order's total by 1000 — precombine makes the update
    * win), then read it back with `format("graft-upsert")` under a
    * partition-pruning predicate and aggregate. The oracle reproduces
    * the update arithmetic directly over `orders` — a hash match proves
    * the sink's merge AND the connector's pruned read agree with plain
    * SQL semantics.
    */
  def upsertTableRead(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft_dsv2").toString + "/t"
    val sink = graft.io.ParquetUpsertSink(dir, Seq("o_orderkey"), "seq", "o_orderpriority")
    // deterministic subset: the round-trip proves write/merge/read
    // mechanics, which don't need the full fact table behind them
    val orders = Tables.table(spark, sfDir, "orders")
      .filter(col("o_orderkey") % 3 === 0)
    sink.upsert(orders.withColumn("seq", lit(0L)), 0)
    sink.upsert(
      orders.filter(col("o_orderkey") % 97 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + 1000)
        .withColumn("seq", lit(1L)), 1)
    spark.read.format("graft-upsert").load(dir)
      .filter(col("o_orderpriority").isin("1-URGENT", "3-MEDIUM"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("o_totalprice")), 2).as("total"),
        max(col("o_orderdate")).as("last_date"))
  }

  /** Residual-predicate DATA SKIPPING through the DSv2 scan, on a
    * Z-ordered table: load an orders subset into an upsert table,
    * `optimize_zorder` it on (o_custkey, o_totalprice), then read back
    * through `format("graft-upsert")` under selective predicates on
    * BOTH Z-order columns — exactly the read pattern the layout
    * service exists for. Planning consults parquet footer min/max to
    * drop provably-empty files; the reader hands the same predicates
    * to parquet-mr for row-group skipping; Spark re-evaluates them
    * above the scan, so the hash match proves skipping changed I/O,
    * never the answer. The oracle applies identical predicates to the
    * raw orders rows.
    */
  def dataSkippingScan(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft_skip").toString + "/t"
    val sink = graft.io.ParquetUpsertSink(dir, Seq("o_orderkey"), "seq", "o_orderpriority")
    val orders = Tables.table(spark, sfDir, "orders")
      .filter(col("o_orderkey") % 4 === 2)
    sink.upsert(orders.withColumn("seq", lit(0L)), 0)
    sink.optimizeZorder(spark, col("o_custkey"), col("o_totalprice"))
    spark.read.format("graft-upsert").load(dir)
      .filter(col("o_custkey") < 800 && col("o_totalprice") > 150000.0)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("o_totalprice")), 2).as("total"),
        min(col("o_custkey")).as("first_cust"))
  }

  /** COLUMN RENAME as schema evolution, end to end: seed an orders
    * subset, `ALTER TABLE ... RENAME COLUMN o_totalprice TO price`
    * (live files rewrite under the new name; the old name stays
    * readable in archived history via the recorded alias), then merge
    * a second wave addressed by the NEW name and aggregate over it.
    * The oracle reproduces the post-rename state from raw orders with
    * plain column aliases — a hash match proves the rename moved a
    * NAME, never a value.
    */
  def sqlRenameEvolution(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft_rename").toString + "/t"
    val sink = graft.io.ParquetUpsertSink(dir, Seq("o_orderkey"), "seq", "o_orderpriority")
    val orders = Tables.table(spark, sfDir, "orders")
    sink.upsert(orders.filter(col("o_orderkey") % 7 === 2)
      .withColumn("seq", lit(0L)), 0)
    spark.sql(s"ALTER TABLE graft.`$dir` RENAME COLUMN o_totalprice TO price")
    sink.upsert(orders.filter(col("o_orderkey") % 21 === 2)
      .withColumnRenamed("o_totalprice", "price")
      .withColumn("price", col("price") + 100.0)
      .withColumn("seq", lit(1L)), 1)
    spark.read.format("graft-upsert").load(dir)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("price")), 2).as("total"),
        sum(col("seq")).as("remerged"))
  }

  val sqlRenameEvolutionSql: String =
    """SELECT o_orderstatus,
      |       count(*) AS n,
      |       round(sum(CASE WHEN o_orderkey % 21 = 2 THEN o_totalprice + 100.0
      |                      ELSE o_totalprice END), 2) AS total,
      |       CAST(sum(CASE WHEN o_orderkey % 21 = 2 THEN 1 ELSE 0 END) AS BIGINT)
      |         AS remerged
      |FROM orders
      |WHERE o_orderkey % 7 = 2
      |GROUP BY 1
      |ORDER BY 1""".stripMargin

  /** CREATE TABLE AS SELECT, end to end: one statement creates the
    * upsert table (partitioned, record keys + precombine persisted as
    * table properties) and loads an orders subset through Spark's v2
    * CTAS path; a follow-up INSERT INTO then merges an update wave by
    * record key, proving the CTAS-created table IS a full upsert table
    * and not a bare directory. The oracle replays both steps as plain
    * SQL arithmetic over orders.
    */
  def sqlCtas(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft_ctas").toString + "/t"
    Tables.table(spark, sfDir, "orders").createOrReplaceTempView("orders_ctas_src")
    spark.sql(
      s"""CREATE TABLE graft.`$dir`
         |PARTITIONED BY (o_orderpriority)
         |TBLPROPERTIES ('recordKeys'='o_orderkey', 'precombine'='seq')
         |AS SELECT o_orderkey, CAST(0 AS BIGINT) AS seq, o_orderstatus,
         |          o_totalprice, o_orderpriority
         |FROM orders_ctas_src WHERE o_orderkey % 6 = 3
         |""".stripMargin)
    spark.sql(
      s"""INSERT INTO graft.`$dir`
         |SELECT o_orderkey, CAST(1 AS BIGINT) AS seq, o_orderstatus,
         |       o_totalprice + 500.0, o_orderpriority
         |FROM orders_ctas_src WHERE o_orderkey % 66 = 3
         |""".stripMargin)
    spark.sql(
      s"""SELECT o_orderstatus,
         |       count(*) AS n,
         |       round(sum(o_totalprice), 2) AS total,
         |       sum(seq) AS merged
         |FROM graft.`$dir` GROUP BY 1 ORDER BY 1""".stripMargin)
  }

  val sqlCtasSql: String =
    """SELECT o_orderstatus,
      |       count(*) AS n,
      |       round(sum(CASE WHEN o_orderkey % 66 = 3 THEN o_totalprice + 500.0
      |                      ELSE o_totalprice END), 2) AS total,
      |       CAST(sum(CASE WHEN o_orderkey % 66 = 3 THEN 1 ELSE 0 END) AS BIGINT)
      |         AS merged
      |FROM orders
      |WHERE o_orderkey % 6 = 3
      |GROUP BY 1
      |ORDER BY 1""".stripMargin

  /** RESTORE TABLE ... VERSION AS OF, end to end through the CALL
    * surface: load an orders subset (commit 0), apply a good update
    * wave (commit 1, every 97th key's total +1000), then a BAD wave
    * (commit 2, every 50th key's total +5000), and
    * `CALL graft.system.restore` back to commit 1. The restore rewrites
    * ONLY the partitions commit 2 touched (change-set-proportional —
    * the 100 TB property) as a NEW commit, so history keeps the bad
    * head. The read-back aggregate must match an oracle that replays
    * commits 0–1 and never saw the bad wave — a hash match proves the
    * restore erased exactly commit 2's effect, nothing more or less.
    */
  def sqlRestore(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft_restore").toString + "/t"
    val sink = graft.io.ParquetUpsertSink(dir, Seq("o_orderkey"), "seq",
      "o_orderpriority", keepVersions = 5)
    val orders = Tables.table(spark, sfDir, "orders")
      .filter(col("o_orderkey") % 3 === 1)
    sink.upsert(orders.withColumn("seq", lit(0L)), 0)
    sink.upsert(orders.filter(col("o_orderkey") % 97 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + 1000)
      .withColumn("seq", lit(1L)), 1)
    sink.upsert(orders.filter(col("o_orderkey") % 50 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + 5000)
      .withColumn("seq", lit(2L)), 2)
    val commits = graft.io.ParquetUpsertSink.listArchivedCommits(spark, dir)
    spark.sql(s"CALL graft.system.restore('$dir', '${commits(1)}')").collect()
    spark.read.format("graft-upsert").load(dir)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("o_totalprice")), 2).as("total"),
        sum(col("seq")).as("restored_seq"))
  }

  val sqlRestoreSql: String =
    """SELECT o_orderstatus,
      |       count(*) AS n,
      |       round(sum(CASE WHEN o_orderkey % 97 = 0 THEN o_totalprice + 1000
      |                      ELSE o_totalprice END), 2) AS total,
      |       CAST(sum(CASE WHEN o_orderkey % 97 = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |         AS restored_seq
      |FROM orders
      |WHERE o_orderkey % 3 = 1
      |GROUP BY 1
      |ORDER BY 1""".stripMargin

  /** Exact TYPE WIDENING as metadata-only schema evolution, end to end:
    * batch 0 loads an orders subset with o_custkey born INT and
    * o_totalprice born FLOAT; batch 1 re-delivers every 97th key with
    * both columns WIDENED (long / double, totals bumped by 1000). The
    * table schema grows to (long, double) without rewriting batch 0's
    * int32/float files — the DSv2 read promotes them on the fly — and
    * the aggregate over the merged table must match the oracle's
    * arithmetic, which reproduces the narrow birth types via
    * CAST(CAST(x AS REAL) AS DOUBLE). A hash match proves the widening
    * changed METADATA, not values.
    */
  def schemaWideningRead(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft_widen").toString + "/t"
    val sink = graft.io.ParquetUpsertSink(dir, Seq("o_orderkey"), "seq", "o_orderstatus")
    val orders = Tables.table(spark, sfDir, "orders")
      .filter(col("o_orderkey") % 5 === 1)
    sink.upsert(orders.select(
      col("o_orderkey"),
      col("o_custkey").cast("int").as("o_custkey"),
      col("o_totalprice").cast("float").as("o_totalprice"),
      col("o_orderstatus")).withColumn("seq", lit(0L)), 0)
    sink.upsert(orders.filter(col("o_orderkey") % 97 === 0).select(
      col("o_orderkey"),
      col("o_custkey").cast("long").as("o_custkey"),
      (col("o_totalprice") + 1000).cast("double").as("o_totalprice"),
      col("o_orderstatus")).withColumn("seq", lit(1L)), 1)
    val table = spark.read.format("graft-upsert").load(dir)
    // the widening must actually have happened (schema-level assert is
    // part of the query's contract, not just the spec's)
    require(table.schema("o_custkey").dataType ==
      org.apache.spark.sql.types.LongType &&
      table.schema("o_totalprice").dataType ==
        org.apache.spark.sql.types.DoubleType,
      "widened upsert table must serve long/double")
    table
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_custkey")).as("cust_sum"),
        round(sum(col("o_totalprice")), 2).as("total"))
  }

  val schemaWideningReadSql: String =
    """SELECT o_orderstatus,
      |       count(*) AS n,
      |       CAST(sum(o_custkey) AS BIGINT) AS cust_sum,
      |       round(sum(CASE WHEN o_orderkey % 97 = 0
      |                      THEN o_totalprice + 1000
      |                      ELSE CAST(CAST(o_totalprice AS REAL) AS DOUBLE)
      |                 END), 2) AS total
      |FROM orders
      |WHERE o_orderkey % 5 = 1
      |GROUP BY 1
      |ORDER BY 1""".stripMargin

  val dataSkippingScanSql: String =
    """SELECT o_orderstatus,
      |       count(*) AS n,
      |       round(sum(o_totalprice), 2) AS total,
      |       min(o_custkey) AS first_cust
      |FROM orders
      |WHERE o_orderkey % 4 = 2
      |  AND o_custkey < 800
      |  AND o_totalprice > 150000.0
      |GROUP BY 1
      |ORDER BY 1""".stripMargin

  /** RENAME + data skipping + time travel in one gate — the
    * silent-wrong-answer class: a pushed predicate on a RENAMED column
    * must resolve through the alias lineage against PRE-RENAME files'
    * statistics (footer or manifest); an unsound resolution treats the
    * old-name column as absent/all-null and prunes files whose rows
    * survive the filter. Seed an orders subset, update a sub-subset
    * (archiving the pre-image), rename o_totalprice → price, then
    * aggregate BOTH views under a selective predicate on the NEW name:
    * the live view scans post-rename files directly, the VERSION AS OF
    * view scans pre-rename archived files through the alias. The
    * oracle replays both states from raw orders.
    */
  def renameSkippingScan(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft_renskip").toString + "/t"
    val sink = graft.io.ParquetUpsertSink(dir, Seq("o_orderkey"), "seq",
      "o_orderpriority", keepVersions = 4)
    val orders = Tables.table(spark, sfDir, "orders")
      .filter(col("o_orderkey") % 5 === 1)
    sink.upsert(orders.withColumn("seq", lit(0L)), 0)
    sink.upsert(
      orders.filter(col("o_orderkey") % 15 === 1)
        .withColumn("o_totalprice", col("o_totalprice") * 2)
        .withColumn("seq", lit(1L)), 1)
    // commits(0) = the seed commit: VERSION AS OF it is the pre-update,
    // pre-rename snapshot
    val commits = graft.io.ParquetUpsertSink.listArchivedCommits(spark, dir)
    spark.sql(s"ALTER TABLE graft.`$dir` RENAME COLUMN o_totalprice TO price")
    def agg(df: DataFrame, view: String): DataFrame = df
      .filter(col("price") > 150000.0)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), round(sum(col("price")), 2).as("total"))
      .withColumn("snap", lit(view))
    agg(spark.sql(s"SELECT * FROM graft.`$dir` VERSION AS OF '${commits(0)}'"), "asof")
      .unionByName(agg(spark.read.format("graft-upsert").load(dir), "live"))
  }

  val renameSkippingScanSql: String =
    """SELECT o_orderstatus, count(*) AS n,
      |       round(sum(o_totalprice), 2) AS total, 'asof' AS snap
      |FROM orders
      |WHERE o_orderkey % 5 = 1 AND o_totalprice > 150000.0
      |GROUP BY 1
      |UNION ALL
      |SELECT o_orderstatus, count(*) AS n,
      |       round(sum(CASE WHEN o_orderkey % 15 = 1 THEN o_totalprice * 2
      |                      ELSE o_totalprice END), 2) AS total,
      |       'live' AS snap
      |FROM orders
      |WHERE o_orderkey % 5 = 1
      |  AND (CASE WHEN o_orderkey % 15 = 1 THEN o_totalprice * 2
      |            ELSE o_totalprice END) > 150000.0
      |GROUP BY 1
      |ORDER BY snap, o_orderstatus""".stripMargin

  /** Stats-manifest staleness FAULT-INJECTION gate: persist a
    * manifest, rewrite one partition's single file IN PLACE with the
    * same name, length, AND mtime (the coarse-mtime-granularity
    * collision an external rewriter can produce — S3 LastModified is
    * whole seconds), then read back under content verification
    * ([[graft.io.UpsertStatsManifest.VerifyContentConfKey]]). Without
    * the footer-fingerprint check the pruner would trust the stale
    * entry (max 20.0), skip the rewritten file on `v > 50`, and
    * silently return zero rows; the oracle pins the sound answer.
    *
    * The two conf flips are set with try/finally on the shared
    * session; a concurrently-planning query during that window only
    * pays an extra 8-byte-tail fingerprint read per file — never a
    * correctness change.
    */
  def staleRewriteGuard(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.hadoop.fs.{Path => HPath}
    def build(v: Double): String = {
      val dir = java.nio.file.Files.createTempDirectory("graft_stale").toString + "/t"
      val sink = graft.io.ParquetUpsertSink(dir, Seq("id"), "seq", "p")
      import spark.implicits._
      sink.upsert(Seq((1L, 0L, 10.0, "a"), (2L, 0L, v, "b"), (3L, 0L, 30.0, "c"))
        .toDF("id", "seq", "v", "p"), 0)
      dir
    }
    // donor differs ONLY in partition b's double value: same writer,
    // same shape → byte-length-identical part file, a true in-place
    // rewrite candidate (the require below makes any drift loud)
    val dir = build(20.0); val donor = build(99.0)
    val fs = new HPath(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def partFile(d: String): HPath =
      fs.listStatus(new HPath(s"$d/p=b")).map(_.getPath)
        .filter(_.getName.startsWith("part-")).head
    val victim = partFile(dir); val src = partFile(donor)
    val st0 = fs.getFileStatus(victim)
    require(fs.getFileStatus(src).getLen == st0.getLen,
      "fixture: donor and victim part files must be length-identical")
    def withConf[A](key: String, value: String)(body: => A): A = {
      val prior = spark.conf.getOption(key)
      spark.conf.set(key, value)
      try body
      finally prior match {
        case Some(p) => spark.conf.set(key, p)
        case None => spark.conf.unset(key)
      }
    }
    // persist the manifest against the PRE-rewrite content
    withConf(graft.io.UpsertStatsManifest.RacyWindowConfKey, "0") {
      spark.read.format("graft-upsert").load(dir).where(col("v") > 0.0).count()
    }
    // the in-place rewrite: donor bytes over the victim, mtime restored
    val bytes = {
      val in = fs.open(src)
      try { val b = new Array[Byte](st0.getLen.toInt); in.readFully(0, b, 0, b.length); b }
      finally in.close()
    }
    val out = fs.create(victim, true)
    try out.write(bytes) finally out.close()
    fs.setTimes(victim, st0.getModificationTime, -1)
    // verified read: the fingerprint mismatch rejects the stale entry,
    // the footer re-read sees max 99.0, and the file survives the prune.
    // localCheckpoint(eager) MATERIALIZES inside the conf window — the
    // caller's later action must not re-plan after the conf restores.
    withConf(graft.io.UpsertStatsManifest.VerifyContentConfKey, "true") {
      spark.read.format("graft-upsert").load(dir)
        .where(col("v") > 50.0)
        .select(col("p"), col("v"), col("id"))
        .localCheckpoint(true)
    }
  }

  val staleRewriteGuardSql: String =
    "SELECT 'b' AS p, CAST(99.0 AS DOUBLE) AS v, CAST(2 AS BIGINT) AS id"

  /** [[staleRewriteGuard]]'s DEFAULT-verification variant: the same
    * same-name+mtime+len in-place rewrite, but with content
    * verification left OFF (its default). The rewrite lands inside the
    * file's open mtime tick — the manifest persisted that entry
    * FLAGGED `verifyOnRead` (with its footer fingerprint), so the
    * default-mode lookup re-verifies the fingerprint, refuses the
    * stale entry, and the footer re-read survives the prune. Before
    * round 16 this case was only caught by the opt-in strict mode;
    * now the default conf is sound against it. The racy window is
    * PINNED LONG (60 s) purely to make "the rewrite lands in the open
    * tick" deterministic on a loaded box — the window's size is a
    * tuning knob, not the mode under test.
    */
  def staleRewriteDefault(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.hadoop.fs.{Path => HPath}
    def build(v: Double): String = {
      val dir = java.nio.file.Files.createTempDirectory("graft_staledef").toString + "/t"
      val sink = graft.io.ParquetUpsertSink(dir, Seq("id"), "seq", "p")
      import spark.implicits._
      sink.upsert(Seq((1L, 0L, 10.0, "a"), (2L, 0L, v, "b"), (3L, 0L, 30.0, "c"))
        .toDF("id", "seq", "v", "p"), 0)
      dir
    }
    val dir = build(20.0); val donor = build(99.0)
    val fs = new HPath(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def partFile(d: String): HPath =
      fs.listStatus(new HPath(s"$d/p=b")).map(_.getPath)
        .filter(_.getName.startsWith("part-")).head
    val victim = partFile(dir); val src = partFile(donor)
    val st0 = fs.getFileStatus(victim)
    require(fs.getFileStatus(src).getLen == st0.getLen,
      "fixture: donor and victim part files must be length-identical")
    def withConf[A](key: String, value: String)(body: => A): A = {
      val prior = spark.conf.getOption(key)
      spark.conf.set(key, value)
      try body
      finally prior match {
        case Some(p) => spark.conf.set(key, p)
        case None => spark.conf.unset(key)
      }
    }
    withConf(graft.io.UpsertStatsManifest.RacyWindowConfKey, "60000") {
      // persist the manifest against the PRE-rewrite content: the
      // entry lands flagged (its mtime tick is open for the next 60 s)
      spark.read.format("graft-upsert").load(dir).where(col("v") > 0.0).count()
      // the in-place rewrite: donor bytes over the victim, mtime restored
      val bytes = {
        val in = fs.open(src)
        try { val b = new Array[Byte](st0.getLen.toInt); in.readFully(0, b, 0, b.length); b }
        finally in.close()
      }
      val out = fs.create(victim, true)
      try out.write(bytes) finally out.close()
      fs.setTimes(victim, st0.getModificationTime, -1)
      // DEFAULT verification conf: the flagged entry's fingerprint
      // check rejects the stale stats, the footer re-read sees max
      // 99.0, and the file survives the prune. localCheckpoint(eager)
      // materializes inside the conf window.
      spark.read.format("graft-upsert").load(dir)
        .where(col("v") > 50.0)
        .select(col("p"), col("v"), col("id"))
        .localCheckpoint(true)
    }
  }

  val staleRewriteDefaultSql: String =
    "SELECT 'b' AS p, CAST(99.0 AS DOUBLE) AS v, CAST(2 AS BIGINT) AS id"

  /** LINEAR clustering through the DSv2 scan — the `optimize_sort`
    * sibling of [[dataSkippingScan]]'s Z-order case: load an orders
    * subset, `optimize_sort` on o_custkey (one dominant access path),
    * then read back under a selective key-range predicate. Sorted
    * layout makes each file's row-group min/max on o_custkey disjoint
    * ranges, so the range reads one or two groups per file; the hash
    * match against raw-orders SQL proves the rewrite changed layout,
    * never content.
    */
  def sortLayoutScan(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft_sort").toString + "/t"
    val sink = graft.io.ParquetUpsertSink(dir, Seq("o_orderkey"), "seq", "o_orderpriority")
    val orders = Tables.table(spark, sfDir, "orders")
      .filter(col("o_orderkey") % 4 === 3)
    sink.upsert(orders.withColumn("seq", lit(0L)), 0)
    sink.optimizeSort(spark, Seq(col("o_custkey")))
    spark.read.format("graft-upsert").load(dir)
      .filter(col("o_custkey").between(400, 900))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("o_totalprice")), 2).as("total"),
        min(col("o_custkey")).as("first_cust"),
        max(col("o_custkey")).as("last_cust"))
  }

  val sortLayoutScanSql: String =
    """SELECT o_orderstatus,
      |       count(*) AS n,
      |       round(sum(o_totalprice), 2) AS total,
      |       min(o_custkey) AS first_cust,
      |       max(o_custkey) AS last_cust
      |FROM orders
      |WHERE o_orderkey % 4 = 3
      |  AND o_custkey BETWEEN 400 AND 900
      |GROUP BY 1
      |ORDER BY 1""".stripMargin

  /** Byte-range input-split planning through the DSv2 scan: load a
    * lineitem subset as ONE data file with many small row groups
    * (parquet.block.size pinned low for the fixture write), then read
    * it back with a per-read `splitTargetBytes` far below the file
    * size — the scan plans one input partition per byte range, each
    * serving exactly the row groups whose midpoint falls in its range.
    * The hash match proves slicing serves every row exactly once; at
    * 100 TB this is what keeps one compacted 1 GB file from becoming a
    * single straggler task.
    */
  def splitScan(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft_split").toString + "/t"
    val hc = spark.sparkContext.hadoopConfiguration
    val prev = hc.get("parquet.block.size")
    hc.setInt("parquet.block.size", 64 * 1024)
    try {
      // record key = the full projected row: the synthetic lineitem has
      // duplicate (orderkey, linenumber) pairs, and upsert semantics
      // would (correctly) collapse them — identical-row keys make the
      // merge a no-op, so the oracle is DISTINCT over the projection
      val sink = graft.io.ParquetUpsertSink(dir,
        Seq("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"),
        "seq", "l_returnflag")
      sink.upsert(Tables.table(spark, sfDir, "lineitem")
        .filter(col("l_orderkey") % 3 === 1)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"), col("l_returnflag"))
        .withColumn("seq", lit(0L)), 0)
    } finally {
      if (prev == null) hc.unset("parquet.block.size") else hc.set("parquet.block.size", prev)
    }
    spark.read.format("graft-upsert")
      .option("splitTargetBytes", (128 * 1024).toString).load(dir)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_price"))
  }

  val splitScanSql: String =
    """SELECT l_returnflag,
      |       count(*) AS n,
      |       round(sum(l_quantity), 2) AS sum_qty,
      |       round(sum(l_extendedprice), 2) AS sum_price
      |FROM (SELECT DISTINCT l_orderkey, l_linenumber, l_quantity,
      |             l_extendedprice, l_returnflag
      |      FROM lineitem
      |      WHERE l_orderkey % 3 = 1)
      |GROUP BY 1
      |ORDER BY 1""".stripMargin

  /** Record-key BLOOM skipping through the DSv2 scan: load documents
    * into an upsert table keyed by a STRING doc key (two files per
    * language partition), then point-look-up a handful of keys through
    * `format("graft-upsert")`. String min/max is never consulted
    * (binary footer stats may truncate), so the file pruning here is
    * PURELY the parquet bloom filters the sink writes on its record
    * keys — the Hudi bloom-index shape, and at 100 TB the difference
    * between probing three files and scanning a partition. Advisory as
    * always: Spark re-evaluates the predicate, the oracle applies the
    * same lookup to the raw rows.
    */
  def bloomPointLookup(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft_bloom").toString + "/t"
    val sink = graft.io.ParquetUpsertSink(dir, Seq("doc_key"), "seq", "lang",
      filesPerPartition = 2)
    val docs = Tables.table(spark, sfDir, "documents")
      .withColumn("doc_key", concat(lit("doc_"), col("doc_id")))
      .withColumn("seq", lit(0L))
      .drop("text") // key/metadata table: the lookup never needs the body
    sink.upsert(docs, 0)
    spark.read.format("graft-upsert").load(dir)
      .filter(col("doc_key").isin("doc_3", "doc_41", "doc_97", "doc_404"))
      .select(col("doc_key"), col("lang"), col("source"), col("n_chars"))
  }

  val bloomPointLookupSql: String =
    """SELECT 'doc_' || doc_id AS doc_key, lang, source, n_chars
      |FROM documents
      |WHERE 'doc_' || doc_id IN ('doc_3', 'doc_41', 'doc_97', 'doc_404')
      |ORDER BY doc_key""".stripMargin

  /** Reported scan STATISTICS driving the join strategy: supplier loads
    * into an upsert table, and the lineitem↔supplier join then
    * BROADCASTS the dimension because the scan reports its true
    * post-pruning size ([[graft.io.UpsertTableSource.ReportStatsConfKey]]).
    * Without SupportsReportStatistics a DSv2 relation costs
    * Long.MaxValue and every dimension join pays a full shuffle of the
    * fact side — at 100 TB, the single worst default a connector can
    * ship. The oracle re-runs the same join over the raw tables.
    */
  def statsBroadcastJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft_stats").toString + "/t"
    val sink = graft.io.ParquetUpsertSink(dir, Seq("s_suppkey"), "seq", "s_nationkey")
    sink.upsert(
      Tables.table(spark, sfDir, "supplier").withColumn("seq", lit(0L)), 0)
    val li = Tables.table(spark, sfDir, "lineitem")
    val dim = spark.read.format("graft-upsert").load(dir)
      .select(col("s_suppkey"), col("s_name"))
    li.join(dim, li("l_suppkey") === dim("s_suppkey"))
      .groupBy(col("s_name"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("l_extendedprice")), 2).as("revenue"))
      .filter(col("n") > 500)
  }

  val statsBroadcastJoinSql: String =
    """SELECT s_name, count(*) AS n, round(sum(l_extendedprice), 2) AS revenue
      |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      |GROUP BY 1
      |HAVING count(*) > 500
      |ORDER BY 1""".stripMargin

  /** The table's incremental STREAMING read, oracle-checked end to
    * end: `spark.readStream.format("graft-upsert")` turns the commit
    * archive into a change stream; a downstream consumer folds each
    * micro-batch by partition replace (dynamic overwrite of exactly
    * the partitions the batch carries — the documented fold for
    * post-image change semantics) into its own parquet table. Two
    * stream passes bracket a live commit, so the fold exercises a real
    * multi-batch offset advance, not one catch-up batch. The folded
    * table must converge to the source table, whose expected content
    * the oracle reproduces from raw orders — update arithmetic and
    * all.
    */
  /** Watermarked STREAM-STATIC enrichment with the upsert table as the
    * static side — the enrichment-at-ingest shape a CDC user hits
    * first (SURVEY §2.4): the customer dimension loads into a
    * graft-upsert table and takes an update wave (so the static side
    * must serve the precombine-MERGED state, not a union of files),
    * the events table replays as a file-source STREAM with a
    * watermark, a broadcast left join enriches each event, and a
    * 1-day-windowed per-segment rollup aggregates above the join. The
    * oracle replays the identical join+rollup as batch SQL over raw
    * customer+events — a hash match proves the streaming plan's
    * semantics equal the batch twin's.
    */
  def streamStaticEnrich(spark: SparkSession, sfDir: String): DataFrame = {
    val base = java.nio.file.Files.createTempDirectory("graft_ssenrich")
    val dimDir = s"$base/dim"
    val sink = graft.io.ParquetUpsertSink(dimDir, Seq("c_custkey"), "seq",
      "c_nationkey")
    val cust = Tables.table(spark, sfDir, "customer")
    sink.upsert(cust.withColumn("seq", lit(0L)), 0)
    sink.upsert(cust.filter(col("c_custkey") % 10 === 0)
      .withColumn("c_mktsegment", lit("VIP"))
      .withColumn("seq", lit(1L)), 1)
    val dim = spark.read.format("graft-upsert").load(dimDir)
      .select(col("c_custkey"), col("c_mktsegment"))
    // the events table staged as a file-source stream directory
    val events = Tables.table(spark, sfDir, "events")
    val evDir = s"$base/events"
    events.write.parquet(evDir)
    val stream = spark.readStream.schema(events.schema).parquet(evDir)
    val agg = stream
      // events.ts is TIMESTAMP_NTZ in the parquet; watermarks require
      // TIMESTAMP — under the pinned UTC session the cast is wall-clock
      // exact, so the windows equal the oracle's naive date_trunc
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", "1 hour")
      .join(broadcast(dim), col("user_id") === col("c_custkey"), "left")
      .groupBy(window(col("ts"), "1 day"),
        coalesce(col("c_mktsegment"), lit("UNKNOWN")).as("segment"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total"))
      .select(col("window.start").cast("date").as("day"),
        col("segment"), col("n"), col("total"))
    val qn = "x_stream_static_enrich_sink"
    scala.util.Try(spark.catalog.dropTempView(qn))
    // complete mode: a finite file stream's last windows never cross
    // the watermark, so append mode would underreport by design
    val q = agg.writeStream.format("memory").queryName(qn)
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    spark.table(qn)
      .localCheckpoint(true) // detach from the stopped stream's plan
  }

  /** Stream-STREAM inner join, oracle-promoted (SURVEY §2.4's stated
    * parity extension; the topology mirrors
    * [[graft.streaming.Pipeline.streamStreamJoin]], which joins the
    * employee CDC stream to activities with a time-range bound): two
    * derived streams off the staged events feed — clicks and
    * purchases — both watermarked, joined per user with purchases
    * constrained to the 6 hours AFTER the click (the range condition
    * is what lets Spark purge join state on both sides), then rolled
    * up per click-day. Stream-stream joins only run in APPEND mode, so
    * the finite-stream tail can't lean on complete mode the way
    * [[streamStaticEnrich]] does: a second micro-batch of far-future
    * SENTINEL events (unmatchable users, so they join nothing and
    * never reach the output) advances both sides' watermarks past all
    * real data, closing every window so append mode emits them. The
    * DuckDB twin replays the same join in batch SQL — hash equality
    * proves the streaming join emitted exactly the batch join's pairs.
    */
  def streamStreamJoin(spark0: SparkSession, sfDir: String): DataFrame = {
    // cloned session, small shuffle width: the join + rollup keep one
    // state store PER SHUFFLE PARTITION per stateful operator — at the
    // session default (32) that is 96 stores of a few hundred rows
    // each, all scheduler overhead
    val spark = GraftSession.cloned(spark0, GraftSession.NarrowShuffle)
    val base = java.nio.file.Files.createTempDirectory("graft_ss").toString
    val events = Tables.table(spark, sfDir, "events")
    val evDir = s"$base/events"
    events.write.parquet(evDir)
    def side(kind: String, tsAs: String, valAs: String): DataFrame =
      spark.readStream.schema(events.schema).parquet(evDir)
        .filter(col("event_type") === kind)
        // TIMESTAMP_NTZ → TIMESTAMP for watermarking; wall-clock exact
        // under the pinned UTC session (see streamStaticEnrich)
        .select(col("user_id").as(s"${kind}_user"),
          col("ts").cast("timestamp").as(tsAs),
          col("value").as(valAs))
        .withWatermark(tsAs, "1 hour")
    val clicks = side("click", "click_ts", "click_value")
    val purchases = side("purchase", "purchase_ts", "purchase_value")
    val joined = clicks.join(
      purchases,
      col("click_user") === col("purchase_user") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr("INTERVAL 6 HOURS"),
      "inner")
    val agg = joined
      .groupBy(window(col("click_ts"), "1 day"))
      .agg(count(lit(1)).as("pairs"),
        round(sum(col("purchase_value")), 2).as("purchased"))
      .select(col("window.start").cast("date").as("day"),
        col("pairs"), col("purchased"))
    val qn = "x_stream_stream_join_sink"
    scala.util.Try(spark.catalog.dropTempView(qn))
    val q = agg.writeStream.format("memory").queryName(qn)
      .outputMode("append").start()
    try {
      q.processAllAvailable() // batch 1: all real pairs join
      // sentinel batch: one click and one purchase on DISJOINT
      // unmatched users, DERIVED from the data's own frontier (max ts
      // + 60 days ≫ the 1 h watermark delay + 6 h join range) so a
      // regenerated events fixture with later timestamps can never
      // silently leave the last windows unclosed — advances both
      // watermarks so every real window closes and emits
      import spark.implicits._
      val sentinelTs = new java.sql.Timestamp(
        events.agg(max(col("ts").cast("timestamp"))).head.getTimestamp(0)
          .getTime + 60L * 24 * 3600 * 1000)
      Seq(
        (-1L, sentinelTs, -1L, "click", 0.0, ""),
        (-2L, sentinelTs, -2L, "purchase", 0.0, ""))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .select(col("event_id"), col("ts").cast("timestamp_ntz").as("ts"),
          col("user_id"), col("event_type"), col("value"), col("props"))
        .write.mode("append").parquet(evDir)
      q.processAllAvailable()
    } finally q.stop()
    spark.table(qn)
      .localCheckpoint(true)
  }

  val streamStreamJoinSql: String =
    """SELECT CAST(date_trunc('day', c.ts) AS DATE) AS day,
      |       count(*) AS pairs,
      |       round(sum(p.value), 2) AS purchased
      |FROM events c JOIN events p
      |  ON c.user_id = p.user_id
      | AND c.event_type = 'click' AND p.event_type = 'purchase'
      | AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 6 HOUR
      |GROUP BY 1
      |ORDER BY 1""".stripMargin

  val streamStaticEnrichSql: String =
    """SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
      |       coalesce(CASE WHEN c_custkey % 10 = 0 THEN 'VIP'
      |                     ELSE c_mktsegment END, 'UNKNOWN') AS segment,
      |       count(*) AS n,
      |       round(sum(value), 2) AS total
      |FROM events LEFT JOIN customer ON c_custkey = user_id
      |GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin

  def streamReadFold(spark: SparkSession, sfDir: String): DataFrame = {
    val base = java.nio.file.Files.createTempDirectory("graft_streamfold")
    val dir = s"$base/t"; val acc = s"$base/acc"; val ckpt = s"$base/ckpt"
    val sink = graft.io.ParquetUpsertSink(dir, Seq("o_orderkey"), "seq",
      "o_orderpriority", keepVersions = 6)
    val orders = Tables.table(spark, sfDir, "orders")
      .filter(col("o_orderkey") % 5 === 3)
    sink.upsert(orders.withColumn("seq", lit(0L)), 0)
    sink.upsert(
      orders.filter(col("o_orderkey") % 13 === 0)
        .withColumn("o_totalprice", col("o_totalprice") * 2)
        .withColumn("seq", lit(1L)), 1)
    val q = spark.readStream.format("graft-upsert").load(dir)
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: DataFrame, _: Long) =>
        b.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("o_orderpriority").parquet(acc)
        ()
      }
      .start()
    try {
      q.processAllAvailable() // batch 1: catch up over the two commits
      sink.upsert(
        orders.filter(col("o_orderkey") % 17 === 0)
          .withColumn("o_totalprice", col("o_totalprice") + 100)
          .withColumn("seq", lit(2L)), 2)
      q.processAllAvailable() // batch 2: just the third commit's partitions
    } finally q.stop()
    spark.read.parquet(acc)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("o_totalprice")), 2).as("total"),
        min(col("o_orderkey")).as("first_key"))
  }

  val streamReadFoldSql: String =
    """SELECT o_orderstatus,
      |       count(*) AS n,
      |       round(sum(CASE WHEN o_orderkey % 17 = 0 THEN o_totalprice + 100
      |                      WHEN o_orderkey % 13 = 0 THEN o_totalprice * 2
      |                      ELSE o_totalprice END), 2) AS total,
      |       min(o_orderkey) AS first_key
      |FROM orders
      |WHERE o_orderkey % 5 = 3
      |GROUP BY 1
      |ORDER BY 1""".stripMargin

  /** Merge-on-read table mode end to end: three MOR commits (seed,
    * update wave, tombstone wave) append DELTA file sets instead of
    * rewriting partitions; `compactMor` folds them into the base; the
    * DSv2 connector then reads the compacted table. The oracle
    * reproduces the final state from raw orders (updates as a CASE,
    * tombstones as a NOT filter) — a hash match proves the delta
    * append + read-merge + fold pipeline lands exactly where COW
    * would.
    */
  def morParity(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft_mor").toString + "/t"
    val sink = graft.io.ParquetUpsertSink(dir, Seq("o_orderkey"), "seq",
      "o_orderpriority", deleteCol = Some("gone"),
      writeMode = graft.io.ParquetUpsertSink.ModeMor)
    val orders = Tables.table(spark, sfDir, "orders")
      .filter(col("o_orderkey") % 5 === 1)
    sink.upsert(orders.withColumn("seq", lit(0L)).withColumn("gone", lit(false)), 0)
    sink.upsert(
      orders.filter(col("o_orderkey") % 7 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + 500)
        .withColumn("seq", lit(1L)).withColumn("gone", lit(false)), 1)
    sink.upsert(
      orders.filter(col("o_orderkey") % 11 === 0)
        .withColumn("seq", lit(2L)).withColumn("gone", lit(true)), 2)
    sink.compactMor(spark)
    spark.read.format("graft-upsert").load(dir)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("o_totalprice")), 2).as("total"))
  }

  val morParitySql: String =
    """SELECT o_orderstatus,
      |       count(*) AS n,
      |       round(sum(CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 500
      |                      ELSE o_totalprice END), 2) AS total
      |FROM orders
      |WHERE o_orderkey % 5 = 1
      |  AND o_orderkey % 11 <> 0
      |GROUP BY 1
      |ORDER BY 1""".stripMargin

  val upsertTableReadSql: String =
    """SELECT o_orderstatus,
      |       count(*) AS n,
      |       round(sum(CASE WHEN o_orderkey % 97 = 0 THEN o_totalprice + 1000
      |                      ELSE o_totalprice END), 2) AS total,
      |       max(o_orderdate) AS last_date
      |FROM orders
      |WHERE o_orderkey % 3 = 0
      |  AND o_orderpriority IN ('1-URGENT', '3-MEDIUM')
      |GROUP BY 1
      |ORDER BY 1""".stripMargin

  /** K1 Kafka-sink semantics as a query: key = coalesce(employee id, row
    * id) as string (the reference's B1 intent), value = to_json of the
    * full row; then parsed back and verified against the oracle.
    */
  def kafkaRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val act = Tables.activities(spark, sfDir)
    val allCols = act.columns.map(col).toSeq
    val wire = act.select(
      coalesce(col("employee_id").cast("string"), col("id")).as("key"),
      to_json(struct(allCols: _*), Debezium.microsJsonOptions).as("value"))
    wire
      .select(
        col("key"),
        from_json(col("value"), Schemas.activity, Debezium.microsJsonOptions).as("row"))
      .select(col("key"), col("row.id").as("id"), col("row.activity_type").as("activity_type"),
        col("row.duration_seconds").as("duration_seconds"),
        col("row.activity_timestamp").as("activity_timestamp"))
  }

  val kafkaRoundtripSql: String = graft.Oracles.withActivities(
    """SELECT COALESCE(CAST(employee_id AS VARCHAR), id) AS key, id, activity_type,
      |       duration_seconds, activity_timestamp
      |FROM activities
      |ORDER BY event_id""".stripMargin)

  /** SQL `DELETE FROM` on a graft-upsert table through the catalog: a
    * residual-predicate delete (copy-on-write rewrite of matched
    * partitions) followed by a partition-predicate delete (whole
    * directories removed), then an aggregate over what survived. The
    * oracle applies the same two WHERE-clause negations to the source
    * rows — equality proves the row-level surface deletes exactly the
    * condition's rows, nothing else.
    */
  def sqlDelete(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft_sqldel").toString + "/t"
    val sink = graft.io.ParquetUpsertSink(dir, Seq("o_orderkey"), "seq", "o_orderpriority")
    val orders = Tables.table(spark, sfDir, "orders")
      .filter(col("o_orderkey") % 4 === 1)
    sink.upsert(orders.withColumn("seq", lit(0L)), 0)
    // residual predicate: rewrites the partitions containing matches
    spark.sql(s"DELETE FROM graft.`$dir` " +
      "WHERE o_totalprice > 250000.0 AND o_orderstatus = 'O'")
    // partition predicate: removes whole partition directories
    spark.sql(s"DELETE FROM graft.`$dir` WHERE o_orderpriority = '5-LOW'")
    spark.read.format("graft-upsert").load(dir)
      .groupBy(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("o_totalprice")), 2).as("total"))
  }

  val sqlDeleteSql: String =
    """SELECT o_orderstatus, o_orderpriority,
      |       count(*) AS n,
      |       round(sum(o_totalprice), 2) AS total
      |FROM orders
      |WHERE o_orderkey % 4 = 1
      |  AND NOT (o_totalprice > 250000.0 AND o_orderstatus = 'O')
      |  AND o_orderpriority <> '5-LOW'
      |GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin

  /** SQL time travel (`VERSION AS OF`) through the catalog: commit 0
    * seeds, commit 1 upserts price changes onto a third of the keys —
    * the query reads the PRE-update snapshot by commit id while the
    * live table holds the updates. The oracle reproduces the commit-0
    * state, so equality proves the archived snapshot is exact (and
    * untouched by the later commit).
    */
  def sqlVersionAsOf(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft_asof").toString + "/t"
    val sink = graft.io.ParquetUpsertSink(dir, Seq("o_orderkey"), "seq",
      "o_orderpriority", keepVersions = 3)
    val orders = Tables.table(spark, sfDir, "orders")
      .filter(col("o_orderkey") % 5 === 2)
    sink.upsert(orders.withColumn("seq", lit(0L)), 0)
    sink.upsert(
      orders.filter(col("o_orderkey") % 3 === 0)
        .withColumn("o_totalprice", col("o_totalprice") * 2)
        .withColumn("seq", lit(1L)), 1)
    // VERSION AS OF c = the table immediately AFTER commit c applied;
    // commits(0) is the seed commit, so this is the pre-update snapshot
    val commits = graft.io.ParquetUpsertSink.listArchivedCommits(spark, dir)
    spark.sql(s"SELECT * FROM graft.`$dir` VERSION AS OF '${commits(0)}'")
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("o_totalprice")), 2).as("total"))
  }

  val sqlVersionAsOfSql: String =
    """SELECT o_orderstatus,
      |       count(*) AS n,
      |       round(sum(o_totalprice), 2) AS total
      |FROM orders
      |WHERE o_orderkey % 5 = 2
      |GROUP BY 1
      |ORDER BY 1""".stripMargin

  /** SQL `UPDATE` through the row-level rewrite (group-based
    * copy-on-write `ReplaceData`): update a residual predicate's rows,
    * then aggregate the final table. The oracle applies the same
    * assignment as a CASE — equality proves the rewrite updated exactly
    * the condition's rows and copied every other row of the scanned
    * groups unchanged.
    */
  def sqlUpdate(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft_sqlupd").toString + "/t"
    val sink = graft.io.ParquetUpsertSink(dir, Seq("o_orderkey"), "seq", "o_orderpriority")
    val orders = Tables.table(spark, sfDir, "orders")
      .filter(col("o_orderkey") % 6 === 3)
    sink.upsert(orders.withColumn("seq", lit(0L)), 0)
    spark.sql(s"UPDATE graft.`$dir` " +
      "SET o_totalprice = o_totalprice + 500.0, seq = 1 WHERE o_orderstatus = 'P'")
    spark.read.format("graft-upsert").load(dir)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("o_totalprice")), 2).as("total"),
        sum(col("seq")).as("updated"))
  }

  val sqlUpdateSql: String =
    """SELECT o_orderstatus,
      |       count(*) AS n,
      |       round(sum(CASE WHEN o_orderstatus = 'P' THEN o_totalprice + 500.0
      |                      ELSE o_totalprice END), 2) AS total,
      |       CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS updated
      |FROM orders
      |WHERE o_orderkey % 6 = 3
      |GROUP BY 1
      |ORDER BY 1""".stripMargin

  /** `INSERT OVERWRITE` (dynamic partition mode) through the DSv2
    * write: seed a partitioned table, then `overwritePartitions()` a
    * batch holding ONLY the 1-URGENT partition — exactly that
    * partition is replaced (and shrinks to the batch), every other
    * partition is untouched, all in one archived commit. The oracle
    * reconstructs the post-overwrite state set-theoretically.
    */
  def sqlOverwrite(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft_sqlovw").toString + "/t"
    val sink = graft.io.ParquetUpsertSink(dir, Seq("o_orderkey"), "seq", "o_orderpriority")
    val orders = Tables.table(spark, sfDir, "orders")
    sink.upsert(orders.filter(col("o_orderkey") % 6 === 5)
      .withColumn("seq", lit(0L)), 0)
    orders.filter(col("o_orderkey") % 12 === 5 &&
        col("o_orderpriority") === "1-URGENT")
      .withColumn("o_totalprice", col("o_totalprice") + 250.0)
      .withColumn("seq", lit(2L))
      .writeTo(s"graft.`$dir`").overwritePartitions()
    spark.read.format("graft-upsert").load(dir)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("o_totalprice")), 2).as("total"),
        sum(col("seq")).as("replaced"))
  }

  val sqlOverwriteSql: String =
    """SELECT o_orderstatus,
      |       count(*) AS n,
      |       round(sum(o_totalprice), 2) AS total,
      |       CAST(sum(seq) AS BIGINT) AS replaced
      |FROM (
      |  SELECT o_orderstatus, o_totalprice, 0 AS seq
      |  FROM orders
      |  WHERE o_orderkey % 6 = 5 AND o_orderpriority <> '1-URGENT'
      |  UNION ALL
      |  SELECT o_orderstatus, o_totalprice + 250.0, 2 AS seq
      |  FROM orders
      |  WHERE o_orderkey % 12 = 5 AND o_orderpriority = '1-URGENT'
      |)
      |GROUP BY 1
      |ORDER BY 1""".stripMargin

  /** SQL `MERGE INTO` through the row-level rewrite: matched-and-delete,
    * matched-update, and not-matched-insert clauses in one statement
    * against a seeded table, source rows derived from the same orders
    * table. The oracle reproduces the post-merge state set-theoretically
    * (survivors with CASE-updated prices UNION ALL the inserted keys).
    */
  def sqlMerge(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft_sqlmrg").toString + "/t"
    val sink = graft.io.ParquetUpsertSink(dir, Seq("o_orderkey"), "seq", "o_orderpriority")
    val orders = Tables.table(spark, sfDir, "orders")
    sink.upsert(orders.filter(col("o_orderkey") % 6 === 1)
      .withColumn("seq", lit(0L)), 0)
    // source: price updates for keys %5=0 (deletes where %10=0), plus
    // the %6=2 keys as fresh inserts
    orders.filter(col("o_orderkey") % 6 === 1 && col("o_orderkey") % 5 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + 1000)
      .withColumn("del", col("o_orderkey") % 10 === 0)
      .unionByName(orders.filter(col("o_orderkey") % 6 === 2)
        .withColumn("del", lit(false)))
      .withColumn("seq", lit(1L))
      .createOrReplaceTempView("graft_merge_src")
    spark.sql(
      s"""MERGE INTO graft.`$dir` t USING graft_merge_src s
         |ON t.o_orderkey = s.o_orderkey
         |WHEN MATCHED AND s.del THEN DELETE
         |WHEN MATCHED THEN UPDATE SET o_totalprice = s.o_totalprice, seq = s.seq
         |WHEN NOT MATCHED THEN INSERT
         |  (o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
         |   o_orderpriority, seq)
         |  VALUES (s.o_orderkey, s.o_custkey, s.o_orderstatus, s.o_totalprice,
         |   s.o_orderdate, s.o_orderpriority, s.seq)""".stripMargin)
    spark.read.format("graft-upsert").load(dir)
      .groupBy(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("o_totalprice")), 2).as("total"))
  }

  /** Row-level change feed (Delta CDF analog) between two commits of
    * an upsert table: commit 1 updates some keys, tombstones others,
    * and inserts fresh ones; the feed must classify every key exactly
    * (insert / delete / update_preimage / update_postimage) with the
    * endpoint row content. The oracle rebuilds the expected feed
    * set-theoretically from the same modular key classes.
    */
  def changeFeed(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft_cdf").toString + "/t"
    val sink = graft.io.ParquetUpsertSink(dir, Seq("o_orderkey"), "seq",
      "o_orderpriority", keepVersions = 4, deleteCol = Some("gone"))
    val orders = Tables.table(spark, sfDir, "orders")
    val k = col("o_orderkey")
    sink.upsert(orders.filter(k % 4 === 1)
      .withColumn("seq", lit(0L)).withColumn("gone", lit(false)), 0)
    val updates = orders.filter(k % 4 === 1 && k % 5 === 0 && k % 7 =!= 0)
      .withColumn("o_totalprice", col("o_totalprice") + 1000)
      .withColumn("gone", lit(false))
    val deletes = orders.filter(k % 4 === 1 && k % 7 === 0)
      .withColumn("gone", lit(true))
    val inserts = orders.filter(k % 4 === 2 && k % 9 === 0)
      .withColumn("gone", lit(false))
    sink.upsert(updates.unionByName(deletes).unionByName(inserts)
      .withColumn("seq", lit(1L)), 1)
    val commits = graft.io.ParquetUpsertSink.listArchivedCommits(spark, dir)
    sink.changeFeed(spark, commits(0), commits(1))
      .groupBy(col("_change_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("total"))
  }

  val changeFeedSql: String =
    """SELECT ct AS _change_type, count(*) AS n, round(sum(price), 2) AS total
      |FROM (
      |  SELECT 'insert' AS ct, o_totalprice AS price FROM orders
      |  WHERE o_orderkey % 4 = 2 AND o_orderkey % 9 = 0
      |  UNION ALL
      |  SELECT 'delete', o_totalprice FROM orders
      |  WHERE o_orderkey % 4 = 1 AND o_orderkey % 7 = 0
      |  UNION ALL
      |  SELECT 'update_preimage', o_totalprice FROM orders
      |  WHERE o_orderkey % 4 = 1 AND o_orderkey % 5 = 0 AND o_orderkey % 7 <> 0
      |  UNION ALL
      |  SELECT 'update_postimage', o_totalprice + 1000 FROM orders
      |  WHERE o_orderkey % 4 = 1 AND o_orderkey % 5 = 0 AND o_orderkey % 7 <> 0
      |)
      |GROUP BY 1
      |ORDER BY 1""".stripMargin

  /** Write-time CHECK expectations with dead-letter capture (Delta
    * constraints + quarantine): rows violating `price_cap` split to
    * `_quarantine/` before the merge, clean rows upsert normally. The
    * oracle partitions the same input by the same predicate — equality
    * proves no row is lost, duplicated, or mis-routed.
    */
  def upsertExpectations(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft_expect").toString + "/t"
    val sink = graft.io.ParquetUpsertSink(dir, Seq("o_orderkey"), "seq",
      "o_orderpriority",
      expectations = Seq("price_cap" -> (col("o_totalprice") <= 250000)))
    sink.upsert(Tables.table(spark, sfDir, "orders")
      .filter(col("o_orderkey") % 5 === 3).withColumn("seq", lit(0L)), 0)
    val merged = spark.read.format("graft-upsert").load(dir)
      .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("total"))
      .select(lit("merged").as("bucket"), col("n"), col("total"))
    val quarantined = sink.readQuarantine(spark)
      .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("total"))
      .select(lit("quarantined").as("bucket"), col("n"), col("total"))
    merged.unionByName(quarantined)
  }

  val upsertExpectationsSql: String =
    """SELECT 'merged' AS bucket, count(*) AS n,
      |       round(sum(o_totalprice), 2) AS total
      |FROM orders WHERE o_orderkey % 5 = 3 AND o_totalprice <= 250000
      |UNION ALL
      |SELECT 'quarantined', count(*), round(sum(o_totalprice), 2)
      |FROM orders WHERE o_orderkey % 5 = 3 AND o_totalprice > 250000
      |ORDER BY 1""".stripMargin

  /** Footer-stats aggregate pushdown on the upsert table: COUNT(*),
    * COUNT(col), MIN/MAX grouped by the partition column answer from
    * parquet metadata (one footer read per file — no row scan). The
    * oracle computes the same aggregates from the raw rows, so
    * equality proves the metadata path is exact.
    *
    * TWO passes over the same table (r18 advisory: the bench fixture
    * builds fresh each run, so a single pass only ever measured the
    * first-pass footer recording and the manifest-served steady state
    * — the 100 TB story — was spec-pinned only):
    *
    *  - `1_cold`: the first aggregate after the write — footers are
    *    read once per file and the per-directory stats manifests are
    *    written back.
    *  - `2_warm`: the SAME aggregate with the in-JVM stat caches
    *    dropped (a fresh driver's view) — COUNT/MIN/MAX/constant-SUM
    *    partials must be served from the manifests with ZERO footer
    *    opens, which the `require` here pins on EVERY run of this gate
    *    (bench and verify both), not just in the suite. The
    *    non-constant double SUM/AVG partials still pay their
    *    single-column per-file scan — that is the documented fallback,
    *    not a footer read.
    *
    * Both passes land in the output hash-matched against the oracle,
    * so the bench line measures build + cold + warm and the oracle
    * pins that the manifest-served pass is EXACT.
    */
  def aggPushdown(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft_aggpd").toString + "/t"
    val sink = graft.io.ParquetUpsertSink(dir, Seq("o_orderkey"), "seq", "o_orderpriority")
    sink.upsert(Tables.table(spark, sfDir, "orders")
      .filter(col("o_orderkey") % 3 === 2).withColumn("seq", lit(0L)), 0)
    def pass(label: String): DataFrame = spark.read.format("graft-upsert").load(dir)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        count(col("o_custkey")).as("n_cust"),
        min(col("o_totalprice")).as("lo"),
        max(col("o_totalprice")).as("hi"),
        max(col("o_orderdate")).as("last_date"),
        // SUM partials come from the scan builder's AggSum; AVG is
        // decomposed by Spark into pushed SUM + COUNT partials
        // (SPARK-37839) — rounded because double partial fold order
        // differs between engines, same discipline as every double agg
        round(sum(col("o_totalprice")), 2).as("total"),
        round(avg(col("o_totalprice")), 4).as("avg_price"),
        round(avg(col("o_custkey")), 4).as("avg_cust"))
      .select(lit(label).as("pass"), col("*"))
    // eager: the cold pass's scan planning records the footers and
    // flushes the manifests before the warm pass plans
    val cold = pass("1_cold").localCheckpoint(true)
    // a fresh driver's view: on-disk manifests only
    graft.io.UpsertStatsManifest.clearCachesForTesting()
    val footersBefore = graft.io.UpsertStatsManifest.footerReads.get()
    val warm = pass("2_warm").localCheckpoint(true)
    val footerDelta = graft.io.UpsertStatsManifest.footerReads.get() - footersBefore
    require(footerDelta == 0,
      s"warm aggregate pass must be manifest-served, read $footerDelta footers")
    cold.unionByName(warm)
  }

  val aggPushdownSql: String =
    """WITH a AS (
      |  SELECT o_orderpriority,
      |         count(*) AS n,
      |         count(o_custkey) AS n_cust,
      |         min(o_totalprice) AS lo,
      |         max(o_totalprice) AS hi,
      |         max(o_orderdate) AS last_date,
      |         round(sum(o_totalprice), 2) AS total,
      |         round(avg(o_totalprice), 4) AS avg_price,
      |         round(avg(o_custkey), 4) AS avg_cust
      |  FROM orders
      |  WHERE o_orderkey % 3 = 2
      |  GROUP BY 1
      |)
      |SELECT p.pass, a.*
      |FROM a, (VALUES ('1_cold'), ('2_warm')) AS p(pass)
      |ORDER BY 1, 2""".stripMargin

  val sqlMergeSql: String =
    """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
      |       round(sum(price), 2) AS total
      |FROM (
      |  SELECT o_orderstatus, o_orderpriority,
      |         CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 1000
      |              ELSE o_totalprice END AS price
      |  FROM orders
      |  WHERE o_orderkey % 6 = 1
      |    AND NOT (o_orderkey % 5 = 0 AND o_orderkey % 10 = 0)
      |  UNION ALL
      |  SELECT o_orderstatus, o_orderpriority, o_totalprice AS price
      |  FROM orders WHERE o_orderkey % 6 = 2
      |)
      |GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin
}
