package perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.SparkEntry

/** The `table_dml` workload: write-pipeline statements of
  * `SparkEntry.queries`, run in whole passes over generated base tables.
  * Each statement builds its upsert-table fixture and runs the
  * statement. One statement warms the JVM untimed; in the timed passes
  * each result is collected (they are a few rows), and the first pass's
  * results are written for the check after the timed passes end.
  */
object Registry {
  val names = Seq("q_sql_delete", "q_sql_update", "q_sql_merge",
    "q_sql_overwrite", "q_sql_restore", "q_sql_version_asof",
    "q_change_feed", "x_skipping_scan", "x_bloom_point_lookup",
    "q_agg_pushdown", "x_ann_ivf_incremental")
  val warmup = Seq("x_bloom_point_lookup")

  private final case class Sample(name: String, ms: Double, rows: Long)

  /** Writes a result as the engine's correctness dump does, with legacy
    * INT96 timestamps (which DuckDB reads as naive TIMESTAMP). */
  private def dump(spark: SparkSession, df: DataFrame, dir: String): Unit = {
    val key = "spark.sql.parquet.outputTimestampType"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "INT96")
    try df.write.mode("overwrite").parquet(dir)
    finally spark.conf.set(key, prev)
  }

  private def tmpEntries: Set[File] =
    Option(new File(System.getProperty("java.io.tmpdir")).listFiles())
      .map(_.toSet).getOrElse(Set.empty)

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** Upsert tables under `root`: directories holding a table schema. */
  private def tablesUnder(root: File): Seq[File] =
    if (!root.isDirectory) Nil
    else if (new File(root, graft.io.ParquetUpsertSink.SchemaFileName).exists()) Seq(root)
    else Option(root.listFiles()).toSeq.flatten.flatMap(tablesUnder)

  def run(spark: SparkSession, conf: Main.Conf, spans: SpanLog): Main.Outcome = {
    val data = conf("data")
    val out = conf("out")
    val sc = spark.sparkContext
    val traced = conf.traced
    val failed = scala.collection.mutable.Set.empty[String]
    val rowsSeen = scala.collection.mutable.Map.empty[String, Long]
    // the DuckDB twin of each query, for the check run.py makes
    new File(s"$out/results").mkdirs()
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/oracle_sql.json"),
      Json(names.map(n => n -> SparkEntry.oracleSql(n)).toMap))
    def note(name: String, e: Throwable): Unit = {
      failed += name
      System.err.println(s"[perfbench] $name failed: ${e.getMessage}")
    }

    // —— untimed: warm-up
    val sinceStart = () => (System.currentTimeMillis() - conf("t0_ms").toLong) / 1000.0
    val sessionS = sinceStart()
    warmup.foreach { n =>
      val before = tmpEntries
      try SparkEntry.queries(n)(spark, data).collect()
      catch { case e: Throwable => note(n, e) }
      (tmpEntries -- before).foreach(deleteTree)
    }
    val warmS = sinceStart()
    spark.catalog.clearCache()
    System.gc()

    // per-layer: each Tables loader called directly on each base table
    val loads = ArrayBuffer.empty[(Double, Long)]
    if (traced) {
      for (rep <- 0 until 3; t <- Seq("region", "nation", "customer", "supplier",
          "part", "orders", "lineitem", "events", "documents", "embeddings")) {
        val key = s"load:$t:$rep"
        val t0 = System.nanoTime()
        Spans.within(sc, key)(graft.Tables.table(spark, data, t))
        val t1 = System.nanoTime()
        PerfbenchBus.drain(sc)
        val jobs = Spans.of(key).jobs.get
        spans.add("tables.load", t0, t1, "table" -> t, "jobs" -> jobs)
        loads += Stats.ms(t0, t1) -> jobs
      }
    }

    // —— timed passes
    val setupS = (System.currentTimeMillis() - conf("t0_ms").toLong) / 1000.0
    val bytes0 = Process.fsBytesWritten
    val samples = ArrayBuffer.empty[Sample]
    val passWalls = ArrayBuffer.empty[Double]
    val layer = ArrayBuffer.empty[Map[String, Double]]
    val budgetNs = (conf.double("seconds") * 1e9).toLong
    val tStart = System.nanoTime()
    var pass = 0
    // the first pass's results, written for the check after the timed part
    val checked = scala.collection.mutable.LinkedHashMap.empty[String, DataFrame]
    while (pass == 0 || System.nanoTime() - tStart < budgetNs) {
      val p0 = System.nanoTime()
      var untimedNs = 0L
      names.foreach { n =>
        val before = tmpEntries
        val key = s"$n:$pass"
        val t0 = System.nanoTime()
        try {
          var t1, t2, t3 = 0L
          var rows = 0L
          var collected: Array[Row] = null
          var df: DataFrame = null
          Spans.within(sc, s"$key:construct") {
            df = SparkEntry.queries(n)(spark, data)
          }
          t1 = System.nanoTime()
          if (traced) {
            df.queryExecution.optimizedPlan
            t2 = System.nanoTime()
            df.queryExecution.executedPlan
            t3 = System.nanoTime()
          }
          Spans.within(sc, s"$key:exec") {
            collected = df.collect()
            rows = collected.length
          }
          val t4 = System.nanoTime()
          samples += Sample(n, Stats.ms(t0, t4), rows)
          // —— untimed from here on
          val u0 = System.nanoTime()
          if (pass == 0) {
            checked(n) = spark.createDataFrame(java.util.Arrays.asList(collected: _*), df.schema)
            rowsSeen(n) = rows
          }
          if (rowsSeen.get(n).exists(_ != rows)) {
            failed += n
            System.err.println(s"[perfbench] $n returned $rows rows, checked result has ${rowsSeen(n)}")
          }
          if (traced) {
            PerfbenchBus.drain(sc)
            val c = Spans.of(s"$key:construct")
            val x = Spans.of(s"$key:exec")
            val tables = (tmpEntries -- before).toSeq.flatMap(tablesUnder)
            val commits = tables.map { t =>
              spark.sql(s"CALL graft.system.history('${t.getPath}')").count()
            }.sum
            val m = Map(
              "construct_ms" -> Stats.ms(t0, t1),
              "optimize_ms" -> Stats.ms(t1, t2),
              "physical_ms" -> Stats.ms(t2, t3),
              "exec_ms" -> Stats.ms(t3, t4),
              "construct_jobs" -> c.jobs.get.toDouble,
              "exec_jobs" -> x.jobs.get.toDouble,
              "tasks" -> x.tasks.get.toDouble,
              "shuffle_write_bytes" -> x.shuffleWrite.get.toDouble,
              "spill_bytes" -> x.spill.get.toDouble,
              "files_written" -> (c.filesCreated.get + x.filesCreated.get).toDouble,
              "fs_ops" -> (c.fsOps.get + x.fsOps.get).toDouble,
              "commits" -> commits.toDouble)
            layer += m
            spans.add("query", t0, t4, (Seq[(String, Any)]("name" -> n, "pass" -> pass) ++ m): _*)
          }
          untimedNs += System.nanoTime() - u0
        } catch { case e: Throwable => note(n, e) }
        val u0 = System.nanoTime()
        (tmpEntries -- before).foreach(deleteTree)
        untimedNs += System.nanoTime() - u0
      }
      passWalls += Stats.ms(p0, System.nanoTime()) - untimedNs / 1e6
      pass += 1
      spark.catalog.clearCache()
      System.gc()
    }
    val bytesPerPass = (Process.fsBytesWritten - bytes0).toDouble / pass
    checked.foreach { case (n, df) => dump(spark, df, s"$out/results/$n") }

    val attempted = pass.toLong * names.size
    val failedOps = pass.toLong * failed.size
    val ok = samples.filterNot(s => failed(s.name)).map(_.ms).toSeq
    val e2e = Map(
      "setup_s" -> setupS,
      "ops_per_s" -> ok.size / (passWalls.sum / 1000.0),
      "op_p50_ms" -> Stats.median(ok),
      "bytes_written" -> bytesPerPass)
    def med(k: String) = Stats.median(layer.map(_(k)).toSeq)
    def avg(k: String) = Stats.mean(layer.map(_(k)).toSeq)
    val metrics: Map[String, (Double, String)] =
      if (!traced) Main.withUnits(e2e)
      else Map(
        "queries.construct_ms" -> (med("construct_ms") -> "ms"),
        "queries.construct_jobs" -> (avg("construct_jobs") -> "count"),
        "plans.optimize_ms" -> (med("optimize_ms") -> "ms"),
        "plans.physical_ms" -> (med("physical_ms") -> "ms"),
        "spark.exec_ms" -> (med("exec_ms") -> "ms"),
        "spark.exec_jobs" -> (avg("exec_jobs") -> "count"),
        "spark.tasks" -> (avg("tasks") -> "count"),
        "spark.shuffle_write_bytes" -> (avg("shuffle_write_bytes") -> "bytes"),
        "spark.spill_bytes" -> (avg("spill_bytes") -> "bytes"),
        "io.files_written" -> (avg("files_written") -> "count"),
        "io.fs_ops" -> (avg("fs_ops") -> "count"),
        "io.commits" -> (avg("commits") -> "count"),
        "io.bytes_written" -> (bytesPerPass / names.size -> "bytes")) ++
        (if (loads.isEmpty) Map.empty else Map(
          "tables.load_ms" -> (Stats.median(loads.map(_._1).toSeq) -> "ms"),
          "tables.load_jobs" -> (Stats.mean(loads.map(_._2.toDouble).toSeq) -> "count")))
    Main.Outcome(attempted, failedOps, metrics, Map(
      "session_s" -> sessionS, "warm_s" -> warmS,
      "passes" -> pass,
      "samples" -> samples.size,
      "failed_queries" -> failed.toSeq.sorted,
      "per_query_ms" -> samples.groupBy(_.name).map { case (k, v) => k -> v.map(_.ms) },
      "checked" -> rowsSeen.keys.toSeq.sorted,
      "traced_e2e" -> (if (traced) e2e else Map.empty)))
  }
}
