package graft

import org.apache.spark.sql.SparkSession

/** Canonical session factory — every entrypoint (Verify, Bench, tests)
  * builds its session here so configs stay consistent.
  *
  * Scale-relevant settings:
  *  - shuffle.partitions sized to local cores (the 100 TB deployment
  *    overrides this; AQE coalescing handles the variance);
  *  - AQE on: runtime partition coalescing + skew-join splitting;
  *  - nanosAsLong: some driver testdata generations store `events.ts`
  *    as parquet TIMESTAMP(NANOS), which Spark's vectorized reader
  *    refuses — read as long; [[Tables.events]] adapts to whichever
  *    encoding (int64-nanos or timestamp[us]) the current files use;
  *  - codegen.cache.maxEntries sized to the engine's working set of
  *    generated classes. Spark's default holds 100, and the cache is
  *    LRU, so a streaming topology whose batches need more than that
  *    evicts, every micro-batch, what the next one recompiles: one
  *    `perfbench` `cdc_stream` run (seed 21, 4 cores) made 1,166
  *    Janino compiles at the default. Distinct compiles measured with
  *    an unbounded cache: 200 in that `cdc_stream` run, 326 in a
  *    `table_dml` run (seed 21), 5,638 over the whole test suite in
  *    one JVM. The bound holds the largest of those with ~45% headroom;
  *    a cached class costs metaspace, not heap. The setting is static
  *    (read once, when the code generator first loads), which is why
  *    it lives here, where every entrypoint builds its session.
  */
object GraftSession {
  def build(master: String = s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]",
            shufflePartitions: Int = 32): SparkSession = {
    val spark = SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions)
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // name-based SQL surface for graft-upsert tables (CREATE/INSERT/
      // DELETE/VERSION AS OF against `graft.`<path>``)
      .config("spark.sql.catalog.graft", "graft.io.GraftUpsertCatalog")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // INT64 micros, not legacy INT96: INT96 carries NO usable footer
      // statistics, which blanks min/max data skipping and aggregate
      // pushdown on every timestamp column the engine writes (the
      // read path still decodes INT96 for externally-written files)
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.codegen.cache.maxEntries", "8192")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** 8 shuffle partitions, for work that chains many actions over
    * metadata-to-small relations or keeps one state store per shuffle
    * partition: at the session default the scheduler overhead
    * dominates the arithmetic.
    */
  val NarrowShuffle: (String, String) = "spark.sql.shuffle.partitions" -> "8"

  /** The RocksDB state store (transformWithState requires a
    * multi-column-family store).
    */
  val RocksDbState: (String, String) = "spark.sql.streaming.stateStore.providerClass" ->
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** A clone of `spark` with `overrides` set, so they do not leak into
    * queries that share the caller's session. newSession() drops the
    * caller's RUNTIME conf (e.g. Verify's result-dump format), so it is
    * mirrored first; static keys refuse the set and are skipped.
    */
  def cloned(spark: SparkSession, overrides: (String, String)*): SparkSession = {
    val s = spark.newSession()
    spark.conf.getAll.foreach { case (k, v) => scala.util.Try(s.conf.set(k, v)) }
    overrides.foreach { case (k, v) => s.conf.set(k, v) }
    s
  }
}
