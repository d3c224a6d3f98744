package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, TimestampType}

import graft.io.ParquetUpsertSink

/** DataSource V2 read path for upsert tables (`format("graft-upsert")`):
  * result parity with the parquet scan, partition pruning at planning
  * time, column projection, evolution null-fill, timestamp decode.
  */
case class RecT(id: Int, v: String, amount: Double, precombine: Long,
    ts: java.sql.Timestamp, processing_date: String)

class UpsertTableSourceSpec extends SparkSpec {
  import spark.implicits._

  private def mkTable(prefix: String): (String, ParquetUpsertSink) = {
    val dir = Files.createTempDirectory(prefix).toString + "/t"
    val sink = ParquetUpsertSink(dir, Seq("id"), "precombine", "processing_date")
    sink.upsert(Seq(
      RecT(1, "a", 1.5, 10, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), "2024-01-01"),
      RecT(1, "b", 2.5, 20, java.sql.Timestamp.valueOf("2024-01-01 11:00:00"), "2024-01-01"),
      RecT(2, "c", 3.5, 5, java.sql.Timestamp.valueOf("2024-01-02 09:30:00"), "2024-01-02"),
      RecT(3, "d", 4.5, 7, java.sql.Timestamp.valueOf("2024-01-03 08:15:00"), "2024-01-03")
    ).toDF(), 0)
    (dir, sink)
  }

  test("reads exactly what the parquet scan reads, schema pinned to the writer schema") {
    val (dir, _) = mkTable("dsv2")
    val v2 = spark.read.format("graft-upsert").load(dir)
    val v1 = spark.read.parquet(dir)
    // partition column is string-pinned (the sink's dir-name identity)
    assert(v2.schema("processing_date").dataType == StringType)
    assert(v2.schema("ts").dataType == TimestampType)
    val a = v2.select("id", "v", "amount", "ts", "processing_date")
      .orderBy("id").collect().toSeq
    val b = v1.select("id", "v", "amount", "ts", "processing_date")
      .withColumn("processing_date", $"processing_date".cast("string"))
      .orderBy("id").collect().toSeq
    assert(a == b)
    assert(a.map(_.getAs[String]("v")) == Seq("b", "c", "d")) // precombine applied
  }

  test("partition predicates prune input partitions at planning time") {
    val (dir, _) = mkTable("dsv2p")
    val all = spark.read.format("graft-upsert").load(dir)
    assert(all.rdd.getNumPartitions == 3) // one live file per partition dir
    val one = spark.read.format("graft-upsert").load(dir)
      .where($"processing_date" === "2024-01-02")
    assert(one.rdd.getNumPartitions == 1) // two dirs never planned
    assert(one.select("v").as[String].collect().toSeq == Seq("c"))
    // pushed filter is visible on the scan node
    val plan = one.queryExecution.executedPlan.toString
    assert(plan.contains("graft-upsert"))
    val in2 = spark.read.format("graft-upsert").load(dir)
      .where($"processing_date".isin("2024-01-01", "2024-01-03"))
    assert(in2.rdd.getNumPartitions == 2)
    assert(in2.count() == 2)
  }

  test("column projection drops unreferenced columns from the read schema") {
    val (dir, _) = mkTable("dsv2c")
    val df = spark.read.format("graft-upsert").load(dir).select("id", "amount")
    assert(df.schema.fieldNames.toSeq == Seq("id", "amount"))
    val rows = df.orderBy("id").as[(Int, Double)].collect().toSeq
    assert(rows == Seq((1, 2.5), (2, 3.5), (3, 4.5)))
    // the scan's readSchema is the pruned one (no string/timestamp decode)
    val scanLine = df.queryExecution.executedPlan.toString
      .linesIterator.find(_.contains("BatchScan")).getOrElse("")
    assert(!scanLine.contains("v#"), s"unpruned scan: $scanLine")
  }

  test("files written before an additive evolution null-fill the new column") {
    val (dir, sink) = mkTable("dsv2e")
    // evolve: add a column, touching only one partition
    sink.upsert(Seq(
      (4, "e", 5.5, 9L, java.sql.Timestamp.valueOf("2024-01-02 12:00:00"),
        "2024-01-02", "extra4")
    ).toDF("id", "v", "amount", "precombine", "ts", "processing_date", "extra"), 1)
    val v2 = spark.read.format("graft-upsert").load(dir)
    assert(v2.schema.fieldNames.contains("extra"))
    val rows = v2.select("id", "extra").orderBy("id")
      .collect().map(r => (r.getInt(0), Option(r.getString(1)))).toSeq
    // ids 1 and 3 live in pre-evolution files (reader null-fills);
    // id 2 was rewritten by the touched-partition merge with extra=null
    assert(rows == Seq((1, None), (2, None), (3, None), (4, Some("extra4"))))
  }

  test("asOf option time-travels to an archived commit, identical to readAsOf") {
    val dir = Files.createTempDirectory("dsv2t").toString + "/t"
    val sink = ParquetUpsertSink(dir, Seq("id"), "precombine", "processing_date",
      keepVersions = 4)
    sink.upsert(Seq(
      Rec(1, "v0", 10, "2024-01-01"),
      Rec(2, "w0", 10, "2024-01-02")).toDF(), 0)
    sink.upsert(Seq(Rec(1, "v1", 20, "2024-01-01")).toDF(), 1)
    sink.upsert(Seq(Rec(3, "x2", 20, "2024-01-03")).toDF(), 2)
    val commits = ParquetUpsertSink.listArchivedCommits(spark, dir)
    assert(commits.length == 3)
    // state after commit 0 applied: v0/w0, no id=3
    val atC0 = spark.read.format("graft-upsert").option("asOf", commits.head).load(dir)
    val expect0 = sink.readAsOf(spark, commits.head)
      .select("id", "v", "processing_date").orderBy("id").collect().toSeq
    assert(atC0.select("id", "v", "processing_date").orderBy("id").collect().toSeq
      == expect0)
    assert(atC0.select("v").as[String].collect().sorted.toSeq == Seq("v0", "w0"))
    // state after commit 1: v1 visible, id=3 still absent
    val atC1 = spark.read.format("graft-upsert").option("asOf", commits(1)).load(dir)
    assert(atC1.select("v").as[String].collect().sorted.toSeq == Seq("v1", "w0"))
    // pruning composes with time travel
    val pruned = spark.read.format("graft-upsert").option("asOf", commits(1)).load(dir)
      .where($"processing_date" === "2024-01-01")
    assert(pruned.rdd.getNumPartitions == 1)
    assert(pruned.select("v").as[String].collect().toSeq == Seq("v1"))
  }

  test("runtime filtering prunes partitions under dynamic partition pruning") {
    val (dir, _) = mkTable("dsv2rf")
    // parquet-backed build side (a local relation would constant-fold
    // the filter away), selective on a NON-join column so no static
    // constraint can propagate — only the runtime filter can prune
    val dimPath = Files.createTempDirectory("dsv2rf_dim").toString
    Seq(("2024-01-01", "no"), ("2024-01-02", "yes"), ("2024-01-03", "no"))
      .toDF("d", "k")
      .write.mode("overwrite").parquet(dimPath)
    val dim = spark.read.parquet(dimPath).filter($"k" === "yes").select("d")
    val fact = spark.read.format("graft-upsert").load(dir)
    val joined = fact.join(broadcast(dim), fact("processing_date") === dim("d"))
    val rows = joined.collect().map(_.getAs[String]("v")).toSeq
    assert(rows == Seq("c"))
    val finalPlan = joined.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    // query stages are leaves; recurse into their materialized plans
    def scansIn(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.datasources.v2.BatchScanExec] =
      p.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => Seq(b)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => scansIn(q.plan)
      }.flatten
    val scans = scansIn(finalPlan)
    assert(scans.nonEmpty)
    // the runtime IN-filter reached the scan node...
    assert(scans.head.toString.contains("dynamicpruning"),
      s"no runtime filter on the scan:\n$finalPlan")
    // ...and pruned at partition grain: only the matching partition's
    // single row was ever read (3 live rows in the table)
    val m = scans.map(s => s.metrics.map { case (k, v) => s"$k=${v.value}" }.mkString(",")).mkString(" | ")
    assert(scans.exists(_.metrics("numOutputRows").value == 1),
      s"expected runtime-pruned scan; ${scans.length} scans, metrics: $m\n" +
        s"isFinal=${joined.queryExecution.executedPlan}\nplan:\n$finalPlan")
  }

  test("SQL DDL surface: CREATE TABLE ... USING `graft-upsert` reads by name") {
    val (dir, _) = mkTable("dsv2sql")
    spark.sql("DROP TABLE IF EXISTS upsert_sql_t")
    spark.sql(
      s"CREATE TABLE upsert_sql_t USING `graft-upsert` OPTIONS (path '$dir')")
    try {
      val rows = spark.sql(
        """SELECT v, amount FROM upsert_sql_t
          |WHERE processing_date = '2024-01-02'""".stripMargin)
        .as[(String, Double)].collect().toSeq
      assert(rows == Seq(("c", 3.5)))
      assert(spark.sql("SELECT count(*) FROM upsert_sql_t").first().getLong(0) == 3)
    } finally spark.sql("DROP TABLE upsert_sql_t")
  }

  test("DSv2 write path: append-as-upsert through the standard writer API") {
    val dir = Files.createTempDirectory("dsv2w").toString + "/t"
    def write(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("graft-upsert")
        .option("recordKeys", "id")
        .option("precombine", "seq")
        .option("partitionCol", "dept")
        .mode("append").save(dir)
    // initial load (new table, no prior metadata)
    write(Seq(
      (1, "alice", 100.0, 0L, "eng"),
      (2, "bob", 200.0, 0L, "ops"),
      (3, "carol", 300.0, 0L, "eng")
    ).toDF("id", "name", "salary", "seq", "dept"))
    // second append: update id=1 (higher seq wins), stale id=2 (loses),
    // new id=4
    write(Seq(
      (1, "alice2", 150.0, 5L, "eng"),
      (2, "bob-stale", 999.0, -1L, "ops"),
      (4, "dave", 400.0, 0L, "fin")
    ).toDF("id", "name", "salary", "seq", "dept"))
    val rows = spark.read.format("graft-upsert").load(dir)
      .select("id", "name", "salary", "dept").orderBy("id")
      .as[(Int, String, Double, String)].collect().toSeq
    assert(rows == Seq(
      (1, "alice2", 150.0, "eng"),
      (2, "bob", 200.0, "ops"),
      (3, "carol", 300.0, "eng"),
      (4, "dave", 400.0, "fin")))
    // no staging debris left behind
    val leftovers = Option(new java.io.File(dir).list()).getOrElse(Array.empty)
      .filter(_.startsWith(".staging-write-"))
    assert(leftovers.isEmpty)
    // the write is a real table-format commit: plain parquet agrees
    assert(spark.read.parquet(dir).count() == 4)
  }

  test("DSv2 streaming write: writeStream.format(graft-upsert) upserts per epoch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("dsv2sw").toString + "/t"
    val checkpoint = Files.createTempDirectory("dsv2sw_ckpt").toString
    val mem = MemoryStream[(Int, String, Long, String)]
    val q = mem.toDF().toDF("id", "v", "seq", "dept")
      .writeStream.format("graft-upsert")
      .option("recordKeys", "id")
      .option("precombine", "seq")
      .option("partitionCol", "dept")
      .option("checkpointLocation", checkpoint)
      .start(dir)
    try {
      mem.addData((1, "a0", 0L, "eng"), (2, "b0", 0L, "ops"))
      q.processAllAvailable()
      mem.addData((1, "a1", 5L, "eng"), (3, "c0", 0L, "fin"))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.read.format("graft-upsert").load(dir)
      .select("id", "v").orderBy("id").as[(Int, String)].collect().toSeq
    assert(rows == Seq((1, "a1"), (2, "b0"), (3, "c0")))
    // epoch staging dirs cleaned up
    val leftovers = Option(new java.io.File(dir).list()).getOrElse(Array.empty)
      .filter(_.startsWith(".staging-write-"))
      .filter(d => Option(new java.io.File(dir, d).list()).exists(_.nonEmpty))
    assert(leftovers.isEmpty)
  }

  test("storage-partitioned join: co-partitioned tables join with NO shuffle") {
    import graft.io.ParquetUpsertSink
    val dirA = Files.createTempDirectory("spja").toString + "/t"
    val dirB = Files.createTempDirectory("spjb").toString + "/t"
    val a = ParquetUpsertSink(dirA, Seq("id"), "seq", "dept")
    val b = ParquetUpsertSink(dirB, Seq("id"), "seq", "dept")
    a.upsert(Seq((1L, 1L, "eng", 10.0), (2L, 1L, "ops", 20.0), (3L, 1L, "hr", 30.0))
      .toDF("id", "seq", "dept", "amount"), 0)
    b.upsert(Seq((7L, 1L, "eng", 1.0), (8L, 1L, "ops", 2.0), (9L, 1L, "fin", 9.0))
      .toDF("id", "seq", "dept", "budget"), 0)
    val confs = Seq(
      graft.io.UpsertTableSource.SpjConfKey -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false")
    // NOTE: getOption resolves REGISTERED defaults for Spark's own
    // keys, so restoring it can pin a floating default; fine here
    // because all three keys are restored to the values they resolve
    // to today, and the graft key is unregistered (None when unset)
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val l = spark.read.format("graft-upsert").load(dirA).select("dept", "amount")
      val r = spark.read.format("graft-upsert").load(dirB).select("dept", "budget")
      val j = l.join(r, Seq("dept"))
      val rows = j.select("dept", "amount", "budget")
        .as[(String, Double, Double)].collect().toSeq.sorted
      assert(rows == Seq(("eng", 10.0, 1.0), ("ops", 20.0, 2.0)))
      // the join itself runs on the reported KeyGroupedPartitioning:
      // sorts, yes — exchanges, no
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"))
      assert(!plan.contains("Exchange"), s"expected shuffle-free SPJ plan:\n$plan")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("aggregate pushdown: COUNT/MIN/MAX answered from parquet footers") {
    val (dir, sink) = mkTable("dsv2agg")
    // an evolved column absent from the seed files (null-fills) plus a
    // second partition touch, so null-count paths are exercised
    sink.upsert(Seq(
      (5, "e", 9.5, 1L, java.sql.Timestamp.valueOf("2024-01-02 12:00:00"),
        "2024-01-02", 7.25)
    ).toDF("id", "v", "amount", "precombine", "ts", "processing_date", "extra"), 1)
    val t = spark.read.format("graft-upsert").load(dir)
    val agg = t.agg(
      count(lit(1)).as("n"), count($"extra").as("n_extra"),
      min($"amount").as("lo"), max($"amount").as("hi"),
      max($"ts").as("ts_hi"))
    // a pushed plan aggregates over the scan's partial-agg columns
    val plan = agg.queryExecution.optimizedPlan.toString
    assert(plan.contains("agg_func_0"), s"aggregates not pushed:\n$plan")
    val r = agg.collect().head
    assert(r.getLong(0) == 4 && r.getLong(1) == 1)
    assert(r.getDouble(2) == 2.5 && r.getDouble(3) == 9.5)
    assert(r.getTimestamp(4) == java.sql.Timestamp.valueOf("2024-01-03 08:15:00"))
    // values identical to the unpushed plan
    val raw = t.select($"amount", $"extra", $"ts").collect()
    assert(raw.length == 4 && raw.map(_.getDouble(0)).max == 9.5)

    // grouping by the partition column pushes too (one group per file)
    val grouped = t.groupBy($"processing_date")
      .agg(count(lit(1)).as("n"), max($"amount").as("hi"))
    assert(grouped.queryExecution.optimizedPlan.toString.contains("agg_func_0"))
    val g = grouped.orderBy("processing_date")
      .as[(String, Long, Double)].collect().toSeq
    assert(g == Seq(("2024-01-01", 1L, 2.5), ("2024-01-02", 2L, 9.5),
      ("2024-01-03", 1L, 4.5)))

    // partition pruning composes with the pushed aggregate
    val pruned = t.where($"processing_date" === "2024-01-02")
      .agg(count(lit(1)).as("n"), min($"amount").as("lo"))
    assert(pruned.queryExecution.optimizedPlan.toString.contains("agg_func_0"))
    assert(pruned.as[(Long, Double)].collect().toSeq == Seq((2L, 3.5)))

    // a residual (data) filter blocks pushdown and the row scan answers
    val residual = t.where($"amount" > 3.0).agg(count(lit(1)))
    assert(!residual.queryExecution.optimizedPlan.toString.contains("agg_func_0"))
    assert(residual.as[Long].collect().toSeq == Seq(3L))

    // SUM pushes; AVG pushes too — Spark decomposes it into SUM + COUNT
    // partials for partial pushdown (SPARK-37839) and folds them exactly
    val summed = t.agg(sum($"amount").as("s"), avg($"amount").as("a"))
    assert(summed.queryExecution.optimizedPlan.toString.contains("agg_func_0"),
      s"sum/avg not pushed:\n${summed.queryExecution.optimizedPlan}")
    val sr = summed.as[(Double, Double)].collect().head
    assert(math.abs(sr._1 - 20.0) < 1e-9 && math.abs(sr._2 - 5.0) < 1e-9)

    // SUM over the evolved column: files without it contribute a NULL
    // partial (not 0), and an all-null table-wide sum stays NULL
    val se = t.agg(sum($"extra"))
    assert(se.queryExecution.optimizedPlan.toString.contains("agg_func_0"))
    assert(math.abs(se.collect().head.getDouble(0) - 7.25) < 1e-9)

    // unsupported aggregates decline cleanly: DISTINCT sums are not
    // foldable from per-file partials, stddev has no partial form here
    val declined = t.agg(sum_distinct($"amount"))
    assert(!declined.queryExecution.optimizedPlan.toString.contains("agg_func_0"))
    assert(math.abs(declined.as[Double].collect().head - 20.0) < 1e-9)
    val declined2 = t.agg(expr("stddev(amount)"))
    assert(!declined2.queryExecution.optimizedPlan.toString.contains("agg_func_0"))
  }

  test("aggregate pushdown is manifest-served steady-state: zero footer opens on the second pass") {
    val (dir, _) = mkTable("dsv2aggmf")
    def agg() = spark.read.format("graft-upsert").load(dir)
      .agg(count(lit(1)).as("n"), count($"v").as("nv"),
        min($"amount").as("lo"), max($"amount").as("hi"))
      .collect().head
    val r1 = agg() // first pass: footer reads, entries recorded + flushed
    assert(r1.getLong(0) == 3 && r1.getDouble(2) == 2.5 && r1.getDouble(3) == 4.5)
    // drop the in-JVM caches so the second pass must go through the
    // ON-DISK manifests — the cross-driver steady state at 100 TB
    graft.io.UpsertStatsManifest.clearCachesForTesting()
    val footers = graft.io.UpsertStatsManifest.footerReads.get()
    val scans = graft.io.UpsertAggPushdown.scanFallbackFiles.get()
    val r2 = agg()
    assert(r2 == r1)
    assert(graft.io.UpsertStatsManifest.footerReads.get() == footers,
      "steady-state aggregates must be manifest-served, not footer reads")
    assert(graft.io.UpsertAggPushdown.scanFallbackFiles.get() == scans,
      "steady-state aggregates must not fall back to the scan")
  }

  test("q_agg_pushdown gate carries a manifest-served warm pass: footerReads == 0") {
    // the gate function itself brackets the warm pass with the footer
    // counter and require()s a zero delta (so bench AND verify runs
    // both pin it) — this test runs the real gate on sf0.001 and then
    // asserts the OUTPUT shape: every group appears once per pass, and
    // the warm rows equal the cold rows (the manifest-served answer is
    // exact, not just cheap)
    val out = queries.Parity.aggPushdown(spark, sf0001).collect()
    val byPass = out.groupBy(_.getString(0))
    assert(byPass.keySet == Set("1_cold", "2_warm"))
    val strip = (rows: Array[org.apache.spark.sql.Row]) =>
      rows.map(r => r.toSeq.drop(1)).toSet
    assert(strip(byPass("1_cold")) == strip(byPass("2_warm")),
      "warm (manifest-served) aggregates must equal the cold pass exactly")
  }

  test("SUM pushdown: constant-integral footers fold without a scan, NULL partials stay NULL") {
    // one file per partition, each with a CONSTANT long column — the
    // exact case the footer fast path (sum = min × non-nulls) answers
    // without touching data pages — plus an ALL-NULL long column whose
    // table-wide sum must stay NULL (a 0 partial would be wrong)
    val dir = Files.createTempDirectory("dsv2aggsum").toString + "/t"
    (1 to 300).map(i => (i.toLong, (i % 3 + 1) * 10L, None: Option[Long], s"p${i % 3}"))
      .toDF("id", "k", "nl", "dept")
      .repartition(1)
      .write.partitionBy("dept").parquet(dir)
    val t = spark.read.format("graft-upsert").load(dir)
    val agg = t.groupBy($"dept").agg(sum($"k").as("s"), avg($"k").as("a"))
    assert(agg.queryExecution.optimizedPlan.toString.contains("agg_func_0"))
    // footer-path PROOF, not just value equality: a regression that
    // declines the constant-chunk fold to the per-file scan produces
    // identical sums — the fallback counter must not move
    val before = graft.io.UpsertAggPushdown.scanFallbackFiles.get()
    val got = agg.orderBy("dept").as[(String, Long, Double)].collect().toSeq
    assert(got == Seq(("p0", 1000L, 10.0), ("p1", 2000L, 20.0), ("p2", 3000L, 30.0)))
    assert(graft.io.UpsertAggPushdown.scanFallbackFiles.get() == before,
      "constant-integral SUM must fold from footers, not the scan fallback")
    // all-null column: NULL partials fold to a NULL total, still footer-only
    val nullSum = t.agg(sum($"nl"))
    assert(nullSum.queryExecution.optimizedPlan.toString.contains("agg_func_0"))
    assert(nullSum.collect().head.isNullAt(0), "all-null SUM must stay NULL")
    assert(graft.io.UpsertAggPushdown.scanFallbackFiles.get() == before,
      "all-null SUM must fold from footers, not the scan fallback")
    // non-constant long column: the per-file single-column scan answers
    val byScan = t.agg(sum($"id").as("s"))
    assert(byScan.queryExecution.optimizedPlan.toString.contains("agg_func_0"))
    assert(byScan.as[Long].collect().head == 300L * 301 / 2)
    assert(graft.io.UpsertAggPushdown.scanFallbackFiles.get() > before,
      "non-constant SUM must take the scan fallback")
  }

  test("aggregate pushdown folds MIN/MAX correctly across many row groups") {
    // regression: the per-file chunk fold once kept the LARGER value for
    // MIN (and smaller for MAX) whenever a file had >1 row group —
    // silently wrong answers on any partition above one row-group size
    val dir = Files.createTempDirectory("dsv2aggrg").toString + "/t"
    (1 to 5000).map(i => (i.toLong, "p"))
      .toDF("v", "dept")
      .repartition(1)
      .write
      .option("parquet.block.size", "2048") // force many tiny row groups
      .option("parquet.page.size", "512")
      .partitionBy("dept").parquet(dir)
    val t = spark.read.format("graft-upsert").load(dir)
    val agg = t.agg(min($"v").as("lo"), max($"v").as("hi"), count(lit(1)).as("n"))
    assert(agg.queryExecution.optimizedPlan.toString.contains("agg_func_0"))
    val r = agg.as[(Long, Long, Long)].collect().head
    assert(r == ((1L, 5000L, 5000L)))
  }

  test("aggregate pushdown resolves chunks by PATH next to multi-leaf group columns") {
    // regression: the footer aggregator looked chunks up by top-level
    // FIELD index, but getColumns is in LEAF order — a struct (2 leaves
    // here) before the aggregated column shifted every later position,
    // so MIN/MAX/COUNT silently aggregated the WRONG column's
    // statistics (here: max(v) would have returned max(s.b) = 50)
    val dir = Files.createTempDirectory("dsv2aggstruct").toString + "/t"
    (1 to 100).map(i => (i.toLong, (i * 10.0, math.min(i, 50).toDouble), i * 2.0, "p"))
      .toDF("id", "s", "v", "dept")
      .repartition(1)
      .write.partitionBy("dept").parquet(dir)
    val t = spark.read.format("graft-upsert").load(dir)
    val agg = t.agg(min($"v").as("lo"), max($"v").as("hi"),
      count($"v").as("n"))
    assert(agg.queryExecution.optimizedPlan.toString.contains("agg_func_0"),
      "aggregates must still push down next to a struct column")
    assert(agg.as[(Double, Double, Long)].collect().head == ((2.0, 200.0, 100L)))
  }

  test("_file metadata column serves the source path") {
    val (dir, _) = mkTable("dsv2file")
    val t = spark.read.format("graft-upsert").load(dir)
    val rows = t.select($"id", col("_file")).collect()
    assert(rows.length == 3)
    rows.foreach { r =>
      val f = r.getString(1)
      assert(f.contains(dir) && f.contains("part-") && f.endsWith(".parquet"), f)
      // the path is REAL — the named file exists and sits in the
      // partition dir the row belongs to
      assert(new java.io.File(new java.net.URI(f).getPath).isFile ||
        new java.io.File(f.stripPrefix("file:")).isFile, f)
    }
    // rows in different partitions come from different files
    assert(rows.map(_.getString(1)).distinct.length > 1)
    // absent unless asked for: schema of a plain read is the table schema
    assert(!t.schema.fieldNames.contains("_file"))
    // composes with pruning + time travel machinery (asOf read)
    assert(t.where($"processing_date" === "2024-01-01")
      .select(col("_file")).collect().map(_.getString(0))
      .forall(_.contains("processing_date=2024-01-01")))
  }

  test("sweepStaging reclaims crashed DSv2 write staging dirs") {
    val (dir, _) = mkTable("dsv2sweep")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val crashed = new org.apache.hadoop.fs.Path(s"$dir/.staging-write-deadbeef")
    fs.mkdirs(crashed)
    fs.create(new org.apache.hadoop.fs.Path(crashed, "task-0-1.parquet"), true).close()
    assert(ParquetUpsertSink.sweepStaging(spark, dir) >= 1)
    assert(!fs.exists(crashed))
    assert(spark.read.format("graft-upsert").load(dir).count() == 3) // data intact
  }

  test("empty and missing partitions behave: no dirs -> empty result with schema") {
    val (dir, _) = mkTable("dsv2m")
    val none = spark.read.format("graft-upsert").load(dir)
      .where($"processing_date" === "2099-12-31")
    assert(none.rdd.getNumPartitions == 0)
    assert(none.count() == 0)
    assert(none.schema.fieldNames.contains("id"))
  }
}
