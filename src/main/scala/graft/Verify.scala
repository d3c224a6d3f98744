package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each registered query's result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.build(s"local[$cpus]", cpus.toInt)
    // Result dumps go back to legacy INT96 timestamps: the driver's DuckDB
    // compare reads INT96 as naive TIMESTAMP (matching the oracle's output
    // over the naive-timestamp testdata), whereas the engine's default
    // TIMESTAMP_MICROS is UTC-adjusted and reads back as TIMESTAMPTZ —
    // a schema+hash mismatch on every timestamp-bearing query (the round-10
    // 13-query regression). The MICROS default stays for everything else
    // (footer min/max stats for data skipping + agg pushdown); the oracle
    // dump is a compare artifact, not a scan target.
    spark.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
    new java.io.File(outDir).mkdirs()
    // Optional comma-separated query-name filter for fast local iteration
    // (SPARK_GRAFT_ONLY=x_bm25,x_tfidf scripts/run_verify.sh ...); the
    // driver never sets it, so the gate always runs the full set.
    val selected = SparkEntry.select(sys.env.get("SPARK_GRAFT_ONLY"))
    selected.foreach { case QuerySpec(name, build, _, _) =>
      try build(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // a REUSED outDir (direct java invocation without run_verify.sh's
        // pre-clean) would otherwise leave the previous run's parquet in
        // place and the compare would PASS a now-broken query against
        // stale correct output
        scala.util.Try {
          org.apache.commons.io.FileUtils.deleteDirectory(
            new java.io.File(s"$outDir/$name"))
        }
      }
      finally {
        spark.catalog.clearCache()
        // clearCache frees cached plans but NOT localCheckpoint blocks
        // (decontaminate, simhashPairs) — those are reclaimed by the
        // ContextCleaner only after the driver GCs the plan, so nudge it
        // or blocks pile up across the ~70-query loop
        System.gc()
      }
    }
    val json = selected.map(spec =>
      s"${jsonString(spec.name)}: ${jsonString(spec.oracleSql)}").mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }

  /** `s` as a quoted JSON string: backslash, quote, and ALL control
    * chars (<0x20) escaped — a tab or CR in builder-authored SQL would
    * otherwise make the driver's json.load fail and silently zero the
    * round's correctness.
    */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
