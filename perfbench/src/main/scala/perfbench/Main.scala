package perfbench

import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark: runs one workload against the program's
  * public API and writes its measurements as one JSON object.
  *
  * Arguments are `key=value` pairs; run.py passes them. Required:
  * `workload`, `data` (generated inputs), `out` (result directory),
  * `seconds`, `trace` (0/1), `cores` (Spark task slots), `t0_ms` (epoch
  * ms when the run started, for `setup_s`).
  */
object Main {
  final case class Conf(args: Map[String, String]) {
    def apply(k: String): String =
      args.getOrElse(k, throw new IllegalArgumentException(s"missing argument $k"))
    def int(k: String): Int = apply(k).toInt
    def double(k: String): Double = apply(k).toDouble
    def traced: Boolean = apply("trace") == "1"
  }

  /** A run's outcome: operations attempted and failed, end-to-end or
    * per-layer metrics, and extra figures kept in the trace file. */
  final case class Outcome(
      attempted: Long,
      failed: Long,
      metrics: Map[String, (Double, String)],
      detail: Map[String, Any] = Map.empty)

  /** The end-to-end metrics every workload reports, with their units. */
  val EndToEnd: Map[String, String] =
    Map("setup_s" -> "s", "ops_per_s" -> "1/s", "op_p50_ms" -> "ms", "bytes_written" -> "bytes")

  def withUnits(e2e: Map[String, Double]): Map[String, (Double, String)] =
    e2e.map { case (k, v) => k -> (v -> EndToEnd(k)) }

  def session(cores: Int, traced: Boolean): SparkSession = {
    if (traced) System.setProperty("spark.hadoop.fs.file.impl",
      classOf[CountingLocalFileSystem].getName)
    else System.clearProperty("spark.hadoop.fs.file.impl")
    // the file-system cache is keyed by scheme, not by configuration:
    // drop it so the next lookup builds the class chosen above
    org.apache.hadoop.fs.FileSystem.closeAll()
    val spark = graft.GraftSession.build(s"local[$cores]", cores)
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
    if (traced) spark.sparkContext.addSparkListener(new SpanListener)
    spark
  }

  def main(argv: Array[String]): Unit = {
    val conf = Conf(argv.map { a =>
      val i = a.indexOf('='); a.take(i) -> a.drop(i + 1)
    }.toMap)
    val probeStart = Process.boxProbeMs()
    val spark = session(conf.int("cores"), conf.traced)
    val spans = new SpanLog
    val outcome = conf("workload") match {
      case "cdc_stream" => CdcStream.run(spark, conf, spans)
      case "table_dml" => Registry.run(spark, conf, spans)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val active = SparkSession.getActiveSession.getOrElse(spark)
    active.streams.active.foreach(q => scala.util.Try(q.stop()))
    active.stop()
    val probeEnd = Process.boxProbeMs()
    val metrics =
      if (conf.traced)
        outcome.metrics + ("box.probe_ms" -> (((probeStart + probeEnd) / 2) -> "ms"))
      else outcome.metrics
    val out = conf("out")
    if (conf.traced) spans.write(s"$out/spans.jsonl")
    val json = Json(Map(
      "attempted" -> outcome.attempted,
      "failed" -> outcome.failed,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "detail" -> (outcome.detail ++ Map(
        "box_probe_start_ms" -> probeStart, "box_probe_end_ms" -> probeEnd))))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/jvm_result.json"), json)
  }
}
