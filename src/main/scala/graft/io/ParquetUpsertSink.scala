package graft.io

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions._

/** Hudi-semantics upsert sink over plain parquet, for streaming
  * `foreachBatch` (the Hudi jar is unavailable offline; reference
  * semantics from multi_source_streaming_processor.py:260-292:
  * COPY_ON_WRITE, record key + precombine field, partitioned by
  * `processing_date`).
  *
  * Per micro-batch:
  *  1. persist the batch and find the partitions its rows name (a row
  *     the batch itself supersedes included) in one narrow job, which
  *     also fills the cache; read ONLY those
  *     partitions (partition pruning — at 100 TB reading the whole
  *     table per batch is a non-starter); "table exists" means
  *     partition directories exist, not just the root (a
  *     fully-tombstoned table must act like a fresh one), and read
  *     errors propagate rather than masquerading as "first batch" and
  *     dropping history;
  *  2. choose the plan once ([[fitsOneTask]]): when the cached batch
  *     plus the touched partitions' files fit one task's worth of bytes
  *     (the scan's split target) and `filesPerPartition` is 1, every
  *     step below runs in a single partition with no shuffle, and the
  *     merge and write are one job; otherwise they are distributed;
  *  3. dedup the batch by record key ([[Precombine.latest]]: highest
  *     precombine wins, content-hash tie-break → deterministic
  *     replays), merge old+new, precombine again, apply delete
  *     tombstones — the same steps and order in both plans;
  *  4. rewrite just the touched partitions in ONE write via the
  *     per-writer dynamic-overwrite option (no session-conf mutation —
  *     concurrent upsert streams in one session must not race each
  *     other's conf), learning the surviving partition set from the
  *     write itself ([[rewritePartitions]]);
  *  5. partitions whose keys were ALL tombstoned get their directories
  *     deleted explicitly (dynamic overwrite never rewrites a partition
  *     absent from the written data), using Hive-escaped dir names.
  *
  * Null partition values map to Hive's default-partition directory and
  * merge correctly. Exactly-once degrades to at-least-once +
  * idempotent rewrite, the documented divergence from Hudi (SURVEY
  * §7.4 risk 3).
  */
final case class ParquetUpsertSink(
    path: String,
    recordKeys: Seq[String],
    precombine: String,
    partitionCol: String,
    // >1 spreads each partition's rows over N writer tasks/files (for
    // partitions too large for one task); 1 = best file compaction
    filesPerPartition: Int = 1,
    // optional boolean tombstone column: when the LATEST version of a key
    // is a delete, the key disappears from the table (the reference drops
    // CDC deletes entirely — SURVEY P2; this closes that gap)
    deleteCol: Option[String] = None,
    // Hudi cleaner semantics (KEEP_LATEST_FILE_VERSIONS, reference
    // multi_source_streaming_processor.py:275-277 keeps 3): retain the
    // pre-image of each touched partition for the last keepVersions-1
    // upsert commits under `<path>/_archive/<commit>/` (a `_`-prefixed
    // dir — invisible to parquet readers of `path`), so rollback /
    // inspection / still-running readers of a just-replaced file set
    // have somewhere to look. 1 = live data only (no archive), matching
    // the previous behavior.
    keepVersions: Int = 1,
    // inline compaction cadence (reference py:278-280 compacts every 5
    // delta commits): every Nth batch, [[compactPartitions]] runs after
    // the upsert. 0 = never (COW already rewrites TOUCHED partitions
    // compactly; this catches debris in untouched ones).
    compactEvery: Int = 0,
    // Hive-sync intent (reference py:271-274): register the table under
    // this name in the session catalog after each batch and sync newly
    // appeared partitions, so downstream `spark.sql` reads it by name.
    syncTable: Option[String] = None,
    // CHECK-constraint expectations (Delta constraints analog, with
    // dead-letter capture instead of batch rejection): each (name,
    // condition) must HOLD for a row to merge — rows where a condition
    // is FALSE split out of the batch BEFORE the merge and append to
    // `<path>/_quarantine/` with the violated rule names and batch id
    // (the `_` prefix hides them from readers of the table root). A
    // NULL condition PASSES (Delta CHECK semantics). Screening is
    // per-row codegen'd predicates — scan-speed, no extra shuffle.
    expectations: Seq[(String, org.apache.spark.sql.Column)] = Seq.empty,
    // What a violation does: "quarantine" (default — dead-letter the
    // rows, merge the rest) or "fail" (Delta's CHECK behavior: abort
    // the whole batch with the violated rule names; nothing merges,
    // nothing quarantines — the streaming retry resurfaces the error
    // until the producer or the rule is fixed).
    expectationsMode: String = ParquetUpsertSink.ExpectQuarantine,
    // Write mode (Hudi table-type analog; the reference pins
    // COPY_ON_WRITE — multi_source_streaming_processor.py:265 — so MOR
    // is the 100 TB extension):
    //  - "cow" (default): each commit REWRITES the touched partitions
    //    (read-optimal; write cost O(touched partitions));
    //  - "mor" (merge-on-read): each commit APPENDS a delta file set
    //    under `<path>/_delta/<commit>/` (write cost O(batch)); reads
    //    merge base + deltas by record key at query time
    //    ([[readMor]]), and [[compactMor]] folds the deltas into the
    //    base (Hudi compaction). At 100 TB with frequent small
    //    upserts, MOR turns a per-commit partition rewrite into a
    //    per-commit delta append — the write-amplification fix.
    // Merge semantics are EVENT-TIME ordering (Hudi's
    // RecordMergeMode.EVENT_TIME_ORDERING): the globally highest
    // precombine value wins regardless of commit order, so MOR-read ≡
    // COW-read whenever precombine values are non-decreasing per key
    // across commits (the CDC-normal case; a tombstone revived by a
    // LOWER-precombine later insert is the one divergence, documented).
    // `syncTable` fires at COMPACTION in this mode (the registered name
    // is the read-optimized view; delta appends don't change it).
    writeMode: String = ParquetUpsertSink.ModeCow) {

  require(filesPerPartition >= 1, s"filesPerPartition must be >= 1, got $filesPerPartition")
  require(keepVersions >= 1, s"keepVersions must be >= 1, got $keepVersions")
  require(compactEvery >= 0, s"compactEvery must be >= 0, got $compactEvery")
  require(writeMode == ParquetUpsertSink.ModeCow || writeMode == ParquetUpsertSink.ModeMor,
    s"writeMode must be '${ParquetUpsertSink.ModeCow}' or '${ParquetUpsertSink.ModeMor}', got '$writeMode'")
  require(expectationsMode == ParquetUpsertSink.ExpectQuarantine ||
      expectationsMode == ParquetUpsertSink.ExpectFail,
    s"expectationsMode must be '${ParquetUpsertSink.ExpectQuarantine}' or " +
      s"'${ParquetUpsertSink.ExpectFail}', got '$expectationsMode'")

  private val nullDir = ExternalCatalogUtils.DEFAULT_PARTITION_NAME

  // per-sink-instance token in archive commit names: batch ids restart
  // per query, so two writers replaying the same batch id on the SAME
  // table path must not collide on a commit dir. (Also disambiguates
  // legacy on-disk staging dirs — see [[ParquetUpsertSink.sweepStaging]],
  // which reclaims leftovers from older runs at (re)deploy time.)
  private val stagingToken: String = java.util.UUID.randomUUID().toString.take(8)

  /** Directory-name form of a partition value (Hive escaping — the same
    * encoding Spark uses when writing, so deletes target real dirs).
    */
  private def dirName(v: String): String =
    if (v == null) nullDir else ExternalCatalogUtils.escapePathName(v)

  /** The columns this table writes parquet BLOOM FILTERS for: the
    * persisted `bloomColumns` table property when set, else this sink's
    * record keys (minus the partition column, whose values live in the
    * directory name, not the file). Blooms are what make record-key
    * point lookups prune FILES at planning time
    * ([[UpsertDataSkipping.fileMightMatchBlooms]]) — min/max ranges on
    * a high-cardinality key overlap across every file, so only a
    * membership structure can prove absence. The property indirection
    * matters for maintenance sinks constructed without key knowledge
    * (SQL DELETE's `recordKeys = Seq("_unused")`): they read the real
    * key list from `_table.properties`, so a delete rewrite never
    * silently drops the blooms the read path relies on.
    */
  private def bloomColumnsFrom(props: Map[String, String]): Seq[String] =
    props.get("bloomColumns") match {
      case Some(s) => s.split(",").map(_.trim).filter(_.nonEmpty).toSeq
      case None => recordKeys.filterNot(c =>
        c.equalsIgnoreCase(partitionCol) || c == "_unused")
    }

  /** Standard parquet-mr per-column bloom options, forwarded into the
    * write's Hadoop configuration. NDV sizes the filter (~1.2 KB per
    * 1000 distinct keys at the 1% false-positive default); tune the
    * `bloomNdv` table property to the expected keys PER FILE — an
    * undersized bloom just prunes less, never wrongly. ONE
    * `_table.properties` read per call (a commit calls this once).
    */
  private def bloomWriteOptions: Map[String, String] = {
    val props = GraftUpsertCatalog.tableProps(path)
    val cols = bloomColumnsFrom(props)
    if (cols.isEmpty) Map.empty
    else {
      val ndv = props.getOrElse("bloomNdv", ParquetUpsertSink.DefaultBloomNdv.toString)
      cols.flatMap(c => Seq(
        s"parquet.bloom.filter.enabled#$c" -> "true",
        s"parquet.bloom.filter.expected.ndv#$c" -> ndv)).toMap
    }
  }

  /** Rewrite `df`'s partitions in place via per-writer dynamic
    * partition overwrite (no session-conf mutation — concurrent upsert
    * streams in one session must not race each other's conf). The one
    * base-file write of this sink: every commit and layout rewrite
    * lands through here, so `filesPerPartition` and the record-key
    * blooms hold for all of them (a layout rewrite that lost the blooms
    * would silently disable point-lookup file pruning on exactly the
    * tables someone bothered to optimize). `sortKeys` order the rows of
    * each file after the partition column — partition column FIRST: the
    * partitioned write requires tasks sorted by partition expressions
    * and would otherwise inject its own partition-cols-only sort,
    * destroying the clustering order. `observed` wraps the frame the
    * write task reads.
    *
    * Two plans. Distributed: a `repartition` by the partition column
    * (plus a record-key hash bucket when `filesPerPartition > 1`), so
    * each partition's rows meet in one task per file. One-task
    * (`oneTask`, from [[fitsOneTask]]): `coalesce(1)` and no shuffle —
    * the single task sorts by the partition column and writes each
    * partition's one file, and the write is one job.
    */
  private def writeFinal(df: DataFrame,
      sortKeys: Seq[org.apache.spark.sql.Column] = Nil,
      observed: DataFrame => DataFrame = identity,
      oneTask: Boolean = false): Unit = {
    val distributed =
      if (oneTask) df.coalesce(1)
      else if (filesPerPartition == 1) df.repartition(col(partitionCol))
      else df.repartition(col(partitionCol),
        pmod(xxhash64(recordKeys.map(col): _*), lit(filesPerPartition)))
    val ordered =
      if (sortKeys.isEmpty) distributed
      else distributed.sortWithinPartitions(col(partitionCol) +: sortKeys: _*)
    observed(ordered)
      .write
      .mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic") // per-writer, race-free
      .options(bloomWriteOptions)
      .partitionBy(partitionCol)
      .parquet(path)
  }

  private def partDir(v: String): Path = new Path(s"$path/$partitionCol=${dirName(v)}")

  /** The distinct partition values of `df` in STRING form — the
    * dir-name basis every partition set in this sink compares by (a
    * read-back table may type the column DATE where a batch carries
    * STRING; value-typed compares would silently never match). A
    * per-task local distinct, then a driver-side one over at most
    * tasks × partitions values: one job, no distinct shuffle.
    */
  private def partitionValues(df: DataFrame): Seq[String] = {
    import org.apache.spark.sql.Encoders
    df.select(col(partitionCol).cast("string")).as(Encoders.STRING)
      .mapPartitions(_.toSet.iterator)(Encoders.STRING)
      .collect().distinct.toSeq
  }

  /** The one plan choice of a small rewrite: whether its inputs — the
    * live files it merges (`fileBytes`) plus, when given, a persisted
    * batch already filled by its discovery job — fit one task's worth
    * of bytes, the bound the table's scan splits files by
    * ([[UpsertTableSource.SplitTargetConfKey]]; `0` = never). If they
    * do, the merge runs in a single partition: a `coalesce(1)` before
    * each precombine leaves the window's clustered distribution
    * satisfied with no `Exchange`, and [[writeFinal]] skips its
    * shuffle, so the whole rewrite is one job. At Spark's per-job and
    * per-task floor, that is most of a small commit's cost. A batch
    * whose cached size is unknown, or `filesPerPartition > 1`, keeps
    * the distributed plan.
    */
  private def fitsOneTask(spark: org.apache.spark.sql.SparkSession, fileBytes: Long,
      batch: Option[DataFrame] = None): Boolean = {
    val batchBytes = batch.fold(Option(0L))(b =>
      cachedData(b).map(_.cachedRepresentation.cacheBuilder)
        .filter(_.isCachedColumnBuffersLoaded).map(_.sizeInBytesStats.value.longValue))
    val target = UpsertTableSource.splitTargetBytes(spark)
    filesPerPartition == 1 && target > 0 && batchBytes.exists(fileBytes + _ <= target)
  }

  /** `body` over `df` persisted: a batch feeds two actions (partition
    * discovery, which fills the cache, and the write), so the lineage
    * upstream of the sink runs once per batch, not once per action. A
    * cache the caller already holds on the same plan is reused and left
    * in place.
    */
  private def withPersisted[T](df: DataFrame)(body: DataFrame => T): T = {
    val owned = cachedData(df).isEmpty
    val cached = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try body(cached) finally if (owned) cached.unpersist(false)
  }

  private def cachedData(df: DataFrame): Option[org.apache.spark.sql.execution.CachedData] = {
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    ds.sparkSession.sharedState.cacheManager.lookupCachedData(ds)
  }

  /** The copy-on-write commit of every timeline partition rewrite:
    * upsert's merge ([[upsertScreened]]), DELETE ([[deleteLocked]]), MOR
    * compaction ([[compactMorLocked]]), and through [[replaceGroupsLocked]]
    * UPDATE / MERGE INTO / subquery DELETE ([[replaceGroups]]), INSERT
    * OVERWRITE ([[overwriteWhere]], [[overwriteDynamic]]) and RESTORE
    * ([[restoreTo]]). `rows` is the complete new content of the
    * `touched` partitions. In order — the crash-safe order every replay
    * relies on: verify the lock, persist the schema additively (the
    * commit's type gate), archive the pre-images, write `rows` ONCE with dynamic overwrite, delete
    * the touched partitions the write left empty, run `beforeMark`,
    * mark the commit complete. Returns the surviving partition dirs.
    * `oneTask` picks [[writeFinal]]'s plan ([[fitsOneTask]]).
    *
    * No materialization: only the write job reads the pre-images, and
    * every read (a retried shuffle map stage included) finishes before
    * the committer's `commitJob` replaces partition directories;
    * [[archivePreImages]] copies, so the live files stay readable until
    * that commit. A lost shuffle block fails the job before anything is
    * replaced, and the replay re-merges idempotently.
    *
    * The surviving set comes from the write itself: an `Observation`
    * (`collect_set`) over `rows`, filled once the write succeeds —
    * instead of a checkpoint plus a second distinct collect. collect_set
    * drops nulls, so the null partition is collected as its directory
    * token; without it a surviving null partition would be deleted right
    * after it was written. An all-tombstoned merge writes no file.
    */
  private def rewritePartitions(spark: org.apache.spark.sql.SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, rows: DataFrame, touched: Seq[String],
      batchId: Long, op: String, oneTask: Boolean = false)(
      beforeMark: => Unit = ()): Seq[Path] = {
    verifyLockOwnership(fs)
    // ADDITIVE: the touched-partition content may lack columns that
    // exist only in untouched partitions — the schema must never narrow
    tableSchema.widenBy(fs, rows.schema)
    val commit =
      if (keepVersions > 1) Some(archivePreImages(fs, touched.toArray, batchId, op))
      else None
    // observed in the write's own stage. Distributed, that is ABOVE the
    // shuffle: an empty shuffle output lets adaptive execution replace
    // the stage below with an empty relation, and an observation inside
    // that stage would report no metrics at all. One-task, the plan has
    // no shuffle, so the write's only stage is the one observed
    val obs = org.apache.spark.sql.Observation()
    writeFinal(rows, oneTask = oneTask, observed = _.observe(obs, collect_set(
      coalesce(col(partitionCol).cast("string"), lit(nullDir))).as("parts")))
    val surviving = obs.get.get("parts") match {
      case Some(ps: scala.collection.Seq[_]) => ps.map(_.toString).toSet
      // never guess "nothing survived": that would delete what was just
      // written. Failing leaves the commit unmarked; the replay re-merges
      case _ => throw new IllegalStateException(
        s"graft-upsert: the rewrite of $path reported no partition set")
    }
    val (kept, emptied) =
      touched.partition(v => surviving.contains(if (v == null) nullDir else v))
    // dynamic overwrite never touches a partition absent from the
    // written data — remove the emptied directories explicitly
    emptied.foreach { v =>
      fs.delete(partDir(v), true)
      UpsertStatsManifest.invalidate(fs, partDir(v))
    }
    beforeMark
    markCommitComplete(fs, commit)
    kept.map(partDir)
  }

  /** Read ONLY the given partition directories with the table schema
    * ([[TableSchema]]): the partition column is STRING, the
    * directory-name identity `parts` sets compare against, and the
    * schema is a superset of every live, archived and delta file, so
    * narrow pre-widening files promote and pre-evolution files null-fill.
    */
  private def readStringPartitioned(spark: org.apache.spark.sql.SparkSession,
      partDirs: Seq[Path], base: String = path): DataFrame = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    readAliasNormalized(spark, partDirs,
      tableSchema.current(fs).getOrElse(tableSchema.infer(spark, partDirs, base)), base)
  }

  /** [[readWithSchema]], resolving column RENAMES against old files:
    * archived pre-rename dirs store a current column under a
    * historical name ([[ColumnAliases]]), and a plain current-schema
    * read would silently null-fill it. Dirs are era-uniform (a rename
    * rewrites every live file under one lock; archives snapshot whole
    * dirs), so one footer peek per dir classifies it; dirs sharing a
    * rename vector read together and normalize back to current names.
    * Zero-cost when the table never renamed (empty alias map).
    */
  private def readAliasNormalized(spark: org.apache.spark.sql.SparkSession,
      partDirs: Seq[Path], schema: org.apache.spark.sql.types.StructType,
      base: String): DataFrame = {
    val aliasMap = ColumnAliases.parse(GraftUpsertCatalog.tableProps(path))
    if (aliasMap.isEmpty || partDirs.isEmpty)
      return readWithSchema(spark, partDirs, schema, base)
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def eraOf(dir: Path): Map[String, String] = { // current name -> file name
      fs.listStatus(dir)
        .find(f => f.getPath.getName.startsWith("part-") && f.getLen > 0) match {
        case None => Map.empty
        case Some(st) =>
          val names: Set[String] = {
            val r = org.apache.parquet.hadoop.ParquetFileReader.open(
              org.apache.parquet.hadoop.util.HadoopInputFile
                .fromPath(st.getPath, fs.getConf))
            try {
              import scala.collection.JavaConverters._
              r.getFooter.getFileMetaData.getSchema.getFields.asScala
                .map(_.getName).toSet
            } finally r.close()
          }
          schema.fields.iterator.flatMap { f =>
            if (names.contains(f.name)) None
            else aliasMap.getOrElse(f.name.toLowerCase(java.util.Locale.ROOT), Nil)
              .find(names.contains).map(f.name -> _)
          }.toMap
      }
    }
    partDirs.groupBy(eraOf).map { case (renames, dirs) =>
      if (renames.isEmpty) readWithSchema(spark, dirs, schema, base)
      else {
        val eraSchema = org.apache.spark.sql.types.StructType(schema.map(f =>
          renames.get(f.name).map(o => f.copy(name = o)).getOrElse(f)))
        renames.foldLeft(readWithSchema(spark, dirs, eraSchema, base)) {
          case (df, (cur, old)) => df.withColumnRenamed(old, cur)
        }.select(schema.fieldNames.map(col).toIndexedSeq: _*)
      }
    }.reduce(_.unionByName(_))
  }

  /** Read the given partition dirs with a KNOWN (already string-pinned)
    * schema — no footer-scan inference job. Files missing a column
    * null-fill it (additive evolution); a file whose physical type
    * conflicts with the schema fails loudly, same as the union did.
    */
  private def readWithSchema(spark: org.apache.spark.sql.SparkSession,
      partDirs: Seq[Path], schema: org.apache.spark.sql.types.StructType,
      base: String = path): DataFrame =
    spark.read.schema(schema).option("basePath", base)
      .parquet(partDirs.map(_.toString): _*)

  // this writer's view of the table schema (one stat per steady commit)
  private val tableSchema = new TableSchema(path, partitionCol)

  /** Does `dir` exist and hold at least one non-empty data file?
    * (An existing-but-empty dir must read as absent — schema inference
    * over zero files throws.)
    */
  private def hasDataFiles(fs: org.apache.hadoop.fs.FileSystem, dir: Path): Boolean =
    fs.exists(dir) && fs.listStatus(dir)
      .exists(f => f.getPath.getName.startsWith("part-") && f.getLen > 0)

  /** The `partitionCol=` dirs under `root` holding at least one data
    * file — THE definition of partition-dir discovery (live table,
    * archive commit, and MOR delta commit roots all share it).
    */
  private def livePartDirs(fs: org.apache.hadoop.fs.FileSystem, root: Path): Seq[Path] =
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).map(_.getPath)
      .filter(p => p.getName.startsWith(s"$partitionCol=") && hasDataFiles(fs, p)).toSeq

  /** Zero rows with the table schema, partition column last as a
    * partitioned read reports it: an empty change set or time-travel
    * read must still serve a downstream `select("id", "v")`. The
    * partition column alone when the table never had a schema.
    */
  private def emptyTable(spark: org.apache.spark.sql.SparkSession,
      fs: org.apache.hadoop.fs.FileSystem): DataFrame = {
    val (part, data) = tableSchema.currentOrInfer(spark, fs, livePartDirs(fs, new Path(path)))
      .getOrElse(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField(partitionCol,
          org.apache.spark.sql.types.StringType))))
      .partition(_.name.equalsIgnoreCase(partitionCol))
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(data ++ part))
  }

  /** Touched-partition set of an archived commit, in escaped dir-name
    * form: the manifest when present; for pre-manifest commits, the
    * pre-image dirs themselves (creations are then indistinguishable
    * from untouched — the manifest exists to close exactly that gap).
    */
  private def touchedPartitions(fs: org.apache.hadoop.fs.FileSystem,
      commitDir: Path): Seq[String] = {
    val mfPath = new Path(commitDir, ParquetUpsertSink.TouchedManifest)
    if (fs.exists(mfPath)) {
      val in = fs.open(mfPath)
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .filter(_.nonEmpty).toList
      finally in.close()
    } else
      fs.listStatus(commitDir).filter(_.isDirectory)
        .map(_.getPath.getName.stripPrefix(s"$partitionCol=")).toSeq
  }

  /** Time-travel read: the table's rows as they stood immediately
    * AFTER archive commit `asOf` was applied (pass "" for the state
    * before the oldest retained commit). Requires `keepVersions` >
    * (number of commits since `asOf`) — older pre-images have been
    * pruned. Commit ids come from
    * [[ParquetUpsertSink.listArchivedCommits]].
    *
    * A partition's state as of `asOf` is its pre-image at the OLDEST
    * retained commit strictly newer than `asOf` that touched it (each
    * commit archives the state BEFORE its own overwrite); touched
    * there with no pre-image dir means the partition was created by
    * that commit — absent as of `asOf`. Partitions no newer commit
    * touched are read live. The partition column is pinned to STRING
    * (directory-name identity, like every other read in this sink).
    *
    * I/O is metadata + the touched partitions only: no live partition
    * is copied or rewritten, and untouched partitions are read (not
    * listed file-by-file) straight from the table — at 100 TB a
    * time-travel read costs the same scan as a live read plus the
    * archived deltas.
    */
  def readAsOf(spark: org.apache.spark.sql.SparkSession, asOf: String): DataFrame = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = new Path(path)
    val dirs = asOfPartitionDirs(spark, asOf).map(_._2)
    // one read per base (live table; each commit dir): basePath anchors
    // partition-column recovery, so groups can't share one scan
    val groups: Seq[DataFrame] =
      dirs.groupBy(_.getParent).toSeq.map { case (base, ds) =>
        if (base == root) readStringPartitioned(spark, ds)
        else readStringPartitioned(spark, ds, base.toString)
      }
    if (groups.isEmpty) emptyTable(spark, fs)
    // additive schema evolution across commits: old pre-images may
    // lack columns the live table has gained (null-fill, like upsert)
    // or carry them at a pre-widening narrower type (promote on read)
    else SchemaWidening.alignForMerge(groups, "time-travel read")
      .reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** The (escaped partition value, authoritative directory) pairs that
    * form the table's file set as of archive commit `asOf` — the
    * planning core shared by [[readAsOf]] and the `graft-upsert`
    * DataSource V2 scan's `asOf` option. For each partition the FIRST
    * retained commit strictly newer than `asOf` that touched it holds
    * the pre-image (touched with no pre-image dir = created later,
    * absent as of `asOf`); partitions no newer commit touched read
    * live. Metadata-only: no data file is opened here.
    */
  def asOfPartitionDirs(spark: org.apache.spark.sql.SparkSession,
      asOf: String): Seq[(String, Path)] = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val retained = ParquetUpsertSink.listArchivedCommits(spark, path)
    // fail fast on a pruned commit id: commits between a pruned asOf and
    // the oldest retained commit have lost their pre-images, so the read
    // would silently collapse to the before-oldest-retained state
    require(asOf == "" || retained.contains(asOf),
      s"asOf commit '$asOf' is not retained (keepVersions window); " +
        (if (retained.isEmpty) "no archived commits exist"
         else s"oldest retained commit is '${retained.head}'"))
    val newer = retained.filter(_ > asOf)
    val overrides = scala.collection.mutable.LinkedHashMap.empty[String, Option[Path]]
    newer.foreach { c =>
      val commitDir = new Path(archiveRoot, c)
      touchedPartitions(fs, commitDir).foreach { v =>
        if (!overrides.contains(v)) {
          val pre = new Path(commitDir, s"$partitionCol=$v")
          overrides(v) = if (hasDataFiles(fs, pre)) Some(pre) else None
        }
      }
    }
    val livePairs: Seq[(String, Path)] =
      if (fs.exists(new Path(path)))
        fs.listStatus(new Path(path)).map(_.getPath)
          .filter(p => p.getName.startsWith(s"$partitionCol=")
            && !overrides.contains(p.getName.stripPrefix(s"$partitionCol="))
            && hasDataFiles(fs, p))
          .map(p => p.getName.stripPrefix(s"$partitionCol=") -> p).toSeq
      else Seq.empty
    livePairs ++ overrides.collect { case (v, Some(pre)) => v -> pre }
  }

  /** Incremental refresh: the LIVE rows of every partition touched by
    * a retained commit strictly newer than `since` ("" = all retained
    * commits). A downstream job that consumed the table as of `since`
    * re-reads only what changed — at 100 TB the difference between an
    * incremental refresh and a full rescan. Partitions tombstoned away
    * since `since` have no live dir and so (correctly) yield no rows;
    * callers needing their pre-deletion content diff against
    * [[readAsOf]]. Requires `keepVersions` deep enough to retain every
    * commit since `since` — pruned commits take their manifests with
    * them, silently shrinking the change set.
    */
  /** Live rows of the named partitions only (path-level pruning; no
    * listing of the rest of the table). Absent or empty partitions
    * contribute zero rows; all absent → empty frame with the table
    * schema.
    */
  def readPartitions(spark: org.apache.spark.sql.SparkSession,
      values: Seq[String]): DataFrame = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val liveDirs = values.distinct
      .map(partDir)
      .filter(hasDataFiles(fs, _))
    if (liveDirs.isEmpty) emptyTable(spark, fs)
    else readStringPartitioned(spark, liveDirs)
  }

  /** Partition values touched by any retained commit strictly newer
    * than `since` ("" = all) — the invalidation set an incremental
    * consumer must refresh, INCLUDING partitions whose live data has
    * since been tombstoned away (they appear here with no live rows in
    * [[readChangesSince]], which is how a consumer learns to drop
    * them).
    */
  def touchedPartitionsSince(
      spark: org.apache.spark.sql.SparkSession, since: String): Seq[String] = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    ParquetUpsertSink.listArchivedCommits(spark, path)
      .filter(_ > since)
      .flatMap(c => touchedPartitions(fs, new Path(archiveRoot, c)))
      .distinct
  }

  /** The (escaped partition value, authoritative dir) pairs holding the
    * POST-image, as of commit `until`, of every partition touched by a
    * commit in `(since, until]` — one micro-batch of the table's change
    * stream ([[UpsertMicroBatchStream]]). "" = before the oldest
    * retained commit. Metadata-only planning; deterministic on replay
    * while the retention window covers `until` (the shared
    * [[asOfPartitionDirs]] fail-fast applies). Commits PRUNED out of
    * `(since, until]` take their manifests with them — keepVersions
    * must outlive the stream's trigger interval, the same contract as
    * [[readChangesSince]].
    */
  def changedPartitionDirsBetween(spark: org.apache.spark.sql.SparkSession,
      since: String, until: String): Seq[(String, Path)] = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val touched = ParquetUpsertSink.listArchivedCommits(spark, path)
      .filter(c => c > since && c <= until)
      .flatMap(c => touchedPartitions(fs, new Path(archiveRoot, c)))
      .toSet
    asOfPartitionDirs(spark, until).filter { case (escaped, _) => touched.contains(escaped) }
  }

  /** Row-level change feed for commit range `(since, until]` — the
    * Delta CDF / Debezium-shaped read-out of what the range did to the
    * table, derived entirely from the pre-image archive:
    *
    *   - `insert`            a key absent as of `since`, present as of `until`
    *   - `delete`            present before, gone after (tombstoned away)
    *   - `update_preimage` / `update_postimage`  present in both with
    *     different row content (one feed row each, Delta's convention)
    *
    * Output = table columns + `_change_type`. I/O is the touched
    * partitions' file sets at the two endpoints (everything else
    * cannot have changed — it never leaves disk); the diff itself is
    * one full outer join on the record keys, shuffled only over rows
    * of touched partitions. "" = before the oldest retained commit.
    * Same retention contract as every as-of read: both endpoints must
    * still be reconstructable (fail-fast otherwise).
    */
  def changeFeed(spark: org.apache.spark.sql.SparkSession,
      since: String, until: String): DataFrame = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val touched: Set[String] = ParquetUpsertSink.listArchivedCommits(spark, path)
      .filter(c => c > since && c <= until)
      .flatMap(c => touchedPartitions(fs, new Path(archiveRoot, c)))
      .toSet
    def endpoint(asOf: String): DataFrame = {
      val restricted = asOfPartitionDirs(spark, asOf)
        .filter { case (escaped, _) => touched.contains(escaped) }
      val groups = restricted.map(_._2).groupBy(_.getParent).toSeq.map { case (base, ds) =>
        if (base == new Path(path)) readStringPartitioned(spark, ds)
        else readStringPartitioned(spark, ds, base.toString)
      }
      if (groups.isEmpty) emptyTable(spark, fs)
      else SchemaWidening.alignForMerge(groups, "change feed endpoint")
        .reduce(_.unionByName(_, allowMissingColumns = true))
    }
    // endpoints straddling a widening commit must diff at ONE type, or
    // the full-outer key equality below would compare int to long rows
    val Seq(pre, post) = SchemaWidening.alignForMerge(
      Seq(endpoint(since), endpoint(until)), "change feed")
    // align schemas (additive evolution between the endpoints)
    val allCols = (pre.columns ++ post.columns).distinct.toSeq
    def aligned(df: DataFrame) =
      df.select(allCols.map(c =>
        if (df.columns.contains(c)) col(c) else lit(null).as(c)): _*)
    // the format's key is PARTITION-SCOPED (recordKeys :+ partitionCol —
    // the same identity readMor/compactMor/upsert merge on): joining on
    // recordKeys alone would cross-product a key legitimately present
    // in two partitions into spurious update pairs, and report a key
    // that MOVED partitions as an update instead of the per-partition
    // insert + delete the partition-scoped identity implies. A table
    // whose partition column is ITSELF a record key (a config the bloom
    // builder also anticipates) must not duplicate the column here —
    // packed()/keyMatch would hit an ambiguous-reference error.
    val keyCols = {
      val withPart = recordKeys :+ partitionCol
      withPart.foldLeft(Vector.empty[String]) { (acc, c) =>
        if (acc.exists(_.equalsIgnoreCase(c))) acc else acc :+ c
      }
    }
    def packed(df: DataFrame, side: String) =
      aligned(df).select(
        keyCols.map(col) :+
          struct(allCols.map(col): _*).as(s"_row_$side"): _*)
    // null-SAFE key equality: the upsert merge groups null keys as
    // equal, so the feed must too (plain equality would misreport an
    // unchanged null-key row as a delete + insert pair)
    val lhs = packed(pre, "pre")
    val rhs = packed(post, "post")
    val keyMatch = keyCols.map(k => lhs(k) <=> rhs(k)).reduce(_ && _)
    val joined = lhs.join(rhs, keyMatch, "full_outer")
    val inserts = joined.filter(col("_row_pre").isNull && col("_row_post").isNotNull)
      .select(col("_row_post.*")).withColumn("_change_type", lit("insert"))
    val deletes = joined.filter(col("_row_post").isNull && col("_row_pre").isNotNull)
      .select(col("_row_pre.*")).withColumn("_change_type", lit("delete"))
    // null-safe struct comparison: exact row-content diff, no hashing
    val changed = joined.filter(col("_row_pre").isNotNull && col("_row_post").isNotNull
      && !(col("_row_pre") <=> col("_row_post")))
    val updPre = changed.select(col("_row_pre.*"))
      .withColumn("_change_type", lit("update_preimage"))
    val updPost = changed.select(col("_row_post.*"))
      .withColumn("_change_type", lit("update_postimage"))
    inserts.unionByName(deletes).unionByName(updPre).unionByName(updPost)
  }

  def readChangesSince(spark: org.apache.spark.sql.SparkSession, since: String): DataFrame = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val touched = touchedPartitionsSince(spark, since)
    val liveDirs = touched.map(v => new Path(s"$path/$partitionCol=$v"))
      .filter(hasDataFiles(fs, _))
    if (liveDirs.isEmpty) emptyTable(spark, fs)
    else readStringPartitioned(spark, liveDirs)
  }

  /** Rows captured by the write-time expectations, with `_violations`
    * (comma-joined rule names) and `_batch_id` columns. When nothing
    * was ever quarantined the empty frame carries the PERSISTED table
    * schema (`_schema.json`) plus the two metadata columns, so a
    * consumer selecting a data column works identically on a clean
    * table (falling back to the two metadata columns alone only for
    * tables with no persisted schema).
    */
  def readQuarantine(spark: org.apache.spark.sql.SparkSession): DataFrame = {
    val q = new Path(s"$path/${ParquetUpsertSink.QuarantineDirName}")
    val fs = q.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // per-batch subdirs (`b<batchId>/part-*`, the replay-idempotent
    // layout) and legacy flat `part-*` files both read; mergeSchema
    // covers additive evolution between batches
    def hasData(dir: Path): Boolean =
      fs.exists(dir) && fs.listStatus(dir).exists(st =>
        (st.getPath.getName.startsWith("part-") && st.getLen > 0) ||
          (st.isDirectory && st.getPath.getName.startsWith("b") && hasData(st.getPath)))
    if (hasData(q))
      spark.read.option("mergeSchema", "true")
        .option("recursiveFileLookup", "true").parquet(q.toString)
    else {
      val base: Seq[org.apache.spark.sql.types.StructField] =
        tableSchema.current(fs).map(_.fields.toSeq).getOrElse(Seq.empty)
      val schema = org.apache.spark.sql.types.StructType(base ++ Seq(
        org.apache.spark.sql.types.StructField("_violations",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("_batch_id",
          org.apache.spark.sql.types.LongType)))
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    }
  }

  /** Split `batch` by the expectations: quarantine the violating rows,
    * return the clean subset. Each batch's violations OVERWRITE that
    * batch's own quarantine subdir (`_quarantine/b<batchId>/` — the
    * DeltaStore delta discipline), so an at-least-once replay rewrites
    * the dir byte-identically instead of appending duplicate
    * dead-letter rows. The flagged frame is persisted for the two
    * consumers and released by `done()`.
    */
  private def screen(batch: DataFrame, batchId: Long): (DataFrame, () => Unit) = {
    if (expectations.isEmpty) return (batch, () => ())
    val viol = array(expectations.map { case (n, c) =>
      when(!coalesce(c, lit(true)), lit(n))
    }: _*)
    val flagged = batch
      .withColumn("_viol", filter(viol, v => v.isNotNull))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bad = flagged.filter(size(col("_viol")) > 0)
    if (!bad.isEmpty) {
      if (expectationsMode == ParquetUpsertSink.ExpectFail) {
        // Delta CHECK behavior: abort the batch before anything merges.
        // Violation counts per rule (metadata-scale) make the error
        // actionable without a quarantine read.
        val byRule = bad.select(explode(col("_viol")).as("rule"))
          .groupBy(col("rule")).agg(count(lit(1)).as("n"))
          .collect().map(r => s"${r.getString(0)}=${r.getLong(1)}").sorted
        flagged.unpersist(false)
        throw new IllegalStateException(
          s"graft-upsert: batch $batchId violates CHECK expectation(s) " +
            s"[${byRule.mkString(", ")}] and expectationsMode=fail — nothing merged")
      }
      bad.withColumn("_violations", array_join(col("_viol"), ","))
        .withColumn("_batch_id", lit(batchId))
        .drop("_viol")
        .write.mode(SaveMode.Overwrite)
        // keyed by batch id ALONE on purpose: replays of the same
        // query overwrite their own dead letters idempotently. The
        // trade-off is documented — TWO live writers on one table path
        // whose batch ids coincide overwrite each other's quarantine
        // (no stable cross-restart query identity exists down here to
        // key by; the commit fence serializes the TABLE, quarantine is
        // best-effort capture). Run one quarantining writer per table.
        .parquet(s"$path/${ParquetUpsertSink.QuarantineDirName}/b$batchId")
    }
    (flagged.filter(size(col("_viol")) === 0).drop("_viol"),
      () => { flagged.unpersist(false); () })
  }

  // write-time config persisted into `_table.properties` once per sink
  // lifetime (fill-missing-keys only — catalog-set properties win), so
  // SQL row-level DML against a table maintained by option-passing
  // writers sees the SAME retention/key config the writers use instead
  // of silently defaulting (keepVersions=1 would rewrite partitions
  // without archiving pre-images, breaking VERSION AS OF / change feed)
  @volatile private var writeConfigPersisted = false

  private def persistWriteConfig(fs: org.apache.hadoop.fs.FileSystem): Unit = {
    if (writeConfigPersisted || recordKeys == Seq("_unused")) return
    val propsPath = new Path(s"$path/${GraftUpsertCatalog.TablePropsFileName}")
    val props = new java.util.Properties()
    if (fs.exists(propsPath)) {
      val in = fs.open(propsPath)
      try props.load(in) finally in.close()
    }
    val wanted: Seq[(String, String)] = Seq(
      "recordKeys" -> recordKeys.mkString(","),
      "precombine" -> precombine,
      "partitionCol" -> partitionCol,
      "filesPerPartition" -> filesPerPartition.toString,
      "keepVersions" -> keepVersions.toString,
      "writeMode" -> writeMode) ++
      deleteCol.map("deleteCol" -> _) ++
      // persist the bloom column set so maintenance writers constructed
      // without key knowledge (SQL DELETE) keep writing the same blooms
      // (derived from the just-loaded props — no second file read)
      Some(bloomColumnsFrom(
        props.stringPropertyNames().toArray(Array.empty[String])
          .map(k => k -> props.getProperty(k)).toMap))
        .filter(_.nonEmpty)
        .map(cs => "bloomColumns" -> cs.mkString(","))
    val missing = wanted.filterNot { case (k, _) => props.containsKey(k) }
    if (missing.nonEmpty)
      // through the catalog's locked atomic read-modify-write — NOT a
      // hand-rolled tmp+delete+rename: (a) loadProps only recovers the
      // FIXED tmp name, so a crash in a hand-rolled token-suffixed
      // tmp's delete→rename window left canonical-absent +
      // unrecognized-tmp = the table's config permanently erased
      // (keepVersions silently 1, lineage gone); (b) updateProps's
      // overwrite-rename (TableSchema.replaceFile) has no absent window on
      // local/HDFS; (c) the props lock keeps a concurrent ALTER TABLE
      // SET PROPERTY from being lost to this read-modify-write. Lock
      // order stays commit→props, same as every sink path.
      GraftUpsertCatalog.updateProps(fs, path) { p =>
        missing.foreach { case (k, v) =>
          if (!p.containsKey(k)) p.setProperty(k, v) }
      }
    writeConfigPersisted = true
  }

  // ——— single-writer commit fence ———
  //
  // Commits are SINGLE-WRITER per table: the driver-side merge reads
  // live state, decides, then overwrites — two interleaved writers
  // would silently last-writer-win (lost commit). The fence makes that
  // loud: every mutation entry point takes `_commit.lock` (atomic
  // create-if-absent — atomic on HDFS/local; object stores need their
  // conditional-put flavor) and a second writer fails with the
  // holder's identity instead of corrupting the table. A crashed
  // writer's orphan lock is broken after a staleness timeout, so the
  // failure mode is bounded delay, never a wedged table.

  private val lockDepth = new ThreadLocal[Integer] {
    override def initialValue: Integer = 0
  }

  private def lockPath = new Path(s"$path/${ParquetUpsertSink.CommitLockFileName}")

  private def readLock(fs: org.apache.hadoop.fs.FileSystem): Option[(String, Long)] =
    readLockFile(fs, lockPath)

  private def readLockFile(fs: org.apache.hadoop.fs.FileSystem,
      p: Path): Option[(String, Long)] =
    scala.util.Try {
      val in = fs.open(p)
      val s = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
      val parts = s.split(' ')
      (parts(0), parts(1).toLong)
    }.toOption

  private def acquireCommitLock(fs: org.apache.hadoop.fs.FileSystem): Unit = {
    fs.mkdirs(new Path(path)) // first commit on a fresh table
    def tryCreate(): Boolean =
      try {
        val out = fs.create(lockPath, false)
        try out.write(s"$stagingToken ${System.currentTimeMillis()}"
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
        true
      } catch { case _: java.io.IOException => false }
    if (tryCreate()) return
    // held — by a live writer, or orphaned by a crash?
    readLock(fs) match {
      case Some((token, since))
          if System.currentTimeMillis() - since > ParquetUpsertSink.LockTimeoutMs =>
        // break by ATOMIC RENAME to a breaker-unique name, then VERIFY
        // the renamed file really is the stale lock we observed: a
        // second breaker arriving after the first already replaced the
        // lock would otherwise rename away the FRESH lock and both
        // writers would "hold" the fence (the lost-commit scenario the
        // fence prevents). A mismatched grab renames the fresh lock
        // straight back.
        val broken = new Path(path,
          s"${ParquetUpsertSink.BrokenLockPrefix}$stagingToken")
        val won = try fs.rename(lockPath, broken) catch {
          case _: java.io.IOException => false
        }
        if (won) {
          if (readLockFile(fs, broken).contains((token, since))) {
            fs.delete(broken, false)
            if (tryCreate()) return
          } else {
            // we grabbed another breaker's fresh lock — restore it. If
            // the restore rename FAILS (a third writer created a new
            // lock in the gap), the grabbed holder and that third
            // writer both believe they hold the fence: surface it
            // loudly and LEAVE the broken-lock file as a forensic
            // marker — the grabbed holder's own pre-destructive
            // [[verifyLockOwnership]] check will abort it before any
            // overwrite, and the marker names both parties.
            val restored = try fs.rename(broken, lockPath) catch {
              case _: java.io.IOException => false
            }
            if (!restored)
              throw new IllegalStateException(
                s"graft-upsert: broke writer ${readLockFile(fs, broken)
                  .map(_._1).getOrElse("?")}'s FRESH commit lock on $path and " +
                  s"could not restore it ($broken left in place as a marker) — " +
                  "a third writer re-locked concurrently; that holder's " +
                  "pre-overwrite ownership check will abort it")
          }
        }
        throw new java.util.ConcurrentModificationException(
          s"graft-upsert: lost the race re-taking a stale commit lock on $path " +
            s"(was held by writer $token)")
      case Some((token, since)) =>
        throw new java.util.ConcurrentModificationException(
          s"graft-upsert: $path is locked by concurrent writer $token " +
            s"(held ${System.currentTimeMillis() - since} ms; lock $lockPath). " +
            "Commits are single-writer per table — serialize the writers, or " +
            "remove the lock file if the holder is known dead")
      case None =>
        // lock vanished between create-fail and read: one retry
        if (tryCreate()) return
        // still present but UNPARSEABLE: a writer mid-acquire (its
        // ~20-byte content lands just after the file appears), or a
        // writer that died mid-write leaving a permanently torn file.
        // Distinguish by file mtime — content can't tell us anything —
        // so a torn orphan is breakable instead of wedging the table
        // behind a lock no one can ever read.
        val mtime = scala.util.Try(
          fs.getFileStatus(lockPath).getModificationTime).toOption
        val tornStale = mtime.exists(m =>
          System.currentTimeMillis() - m > ParquetUpsertSink.LockTimeoutMs)
        if (tornStale) {
          val broken = new Path(path,
            s"${ParquetUpsertSink.BrokenLockPrefix}$stagingToken")
          val won = try fs.rename(lockPath, broken) catch {
            case _: java.io.IOException => false
          }
          if (won) {
            // verify the grab: the renamed file must STILL be torn or
            // stale — a parseable FRESH token means a rival re-locked
            // between our read and rename; restore it like the parsed
            // break path does
            readLockFile(fs, broken) match {
              case Some((_, since))
                  if System.currentTimeMillis() - since <=
                    ParquetUpsertSink.LockTimeoutMs =>
                if (!(try fs.rename(broken, lockPath) catch {
                  case _: java.io.IOException => false
                }))
                  throw new IllegalStateException(
                    s"graft-upsert: broke a writer's FRESH commit lock on $path " +
                      s"while clearing a torn orphan and could not restore it " +
                      s"($broken left as a marker)")
              case _ =>
                fs.delete(broken, false)
                if (tryCreate()) return
            }
          }
          throw new java.util.ConcurrentModificationException(
            s"graft-upsert: lost the race re-taking a torn stale commit lock on $path")
        }
        throw new java.util.ConcurrentModificationException(
          s"graft-upsert: could not acquire the commit lock on $path " +
            s"(unreadable lock file, last modified ${mtime.getOrElse(-1L)} — " +
            "a concurrent writer is mid-acquire, or retry after the staleness timeout)")
    }
  }

  /** Heartbeat: while the lock is held, a daemon thread refreshes the
    * lock file's timestamp every LockTimeoutMs/3, so a commit that
    * legitimately outlives the staleness timeout (a compactMor folding
    * many partitions at the 100 TB scale) is never broken as an orphan
    * mid-flight — staleness is judged off the REFRESHED timestamp. The
    * refresh is a guarded in-place rewrite (verify our token, then
    * overwrite): a concurrent reader hitting the tiny truncation window
    * parses nothing and fails its acquire LOUDLY (the `case None` retry
    * path), never silently. Three missed beats (executor stall, FS
    * outage) fall back to exactly the old behavior — breakable after
    * LockTimeoutMs — which [[verifyLockOwnership]] then catches before
    * anything destructive.
    */
  private def startLockHeartbeat(
      fs: org.apache.hadoop.fs.FileSystem): java.util.concurrent.ScheduledExecutorService = {
    val ex = java.util.concurrent.Executors.newSingleThreadScheduledExecutor(
      (r: Runnable) => {
        val t = new Thread(r, s"graft-lock-heartbeat-$stagingToken")
        t.setDaemon(true); t
      })
    val period = ParquetUpsertSink.LockTimeoutMs / 3
    ex.scheduleAtFixedRate(() => {
      try refreshLockOnce(fs)
      catch { case _: Throwable => () } // next beat retries; margin is 3 beats
    }, period, period, java.util.concurrent.TimeUnit.MILLISECONDS)
    ex
  }

  /** One heartbeat refresh. A read-check-then-overwrite here is a
    * TOCTOU: a breaker can re-take the lock between our read and a
    * blind overwrite, and the stalled holder's beat would then CLOBBER
    * the new holder's token — two writers both believing they own the
    * table. The refresh is rename-CAS shaped instead: atomically CLAIM
    * the current lock file by renaming it aside, re-verify the claimed
    * CONTENT is ours, and only then rename the refreshed token in.
    * Every interleaving with a breaker (whose break is itself a
    * rename) or a fresh acquirer (create-exclusive) makes exactly one
    * rename fail LOUDLY; on any loss we restore what we claimed and
    * stop deciding — verifyLockOwnership aborts the commit before
    * anything destructive. (`private[graft]` so the spec can drive the
    * race interleavings deterministically.)
    */
  private[graft] def refreshLockOnce(fs: org.apache.hadoop.fs.FileSystem): Unit = {
    if (readLock(fs).exists(_._1 == stagingToken)) {
      val fresh = new Path(s"$path/._commit.lock.hb.$stagingToken.fresh")
      val out = fs.create(fresh, true)
      try out.write(s"$stagingToken ${System.currentTimeMillis()}"
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      val claim = new Path(s"$path/._commit.lock.hb.$stagingToken.claim")
      val claimed = try fs.rename(lockPath, claim)
      catch { case _: java.io.IOException => false }
      if (!claimed) fs.delete(fresh, false) // breaker mid-break: skip beat
      else try {
        val stillOurs = readLockFile(fs, claim).exists(_._1 == stagingToken)
        // the exists probe matters on LOCAL filesystems, where Hadoop's
        // rename delegates to POSIX rename and silently REPLACES an
        // existing destination (HDFS/S3A fail it): an acquirer that
        // slipped into the absence window must not be clobbered. A
        // residual local-FS TOCTOU between probe and rename remains —
        // its worst case is the acquirer aborting loudly at its
        // verifyLockOwnership, never two writers mutating (every
        // destructive step re-verifies the token first).
        if (stillOurs && !fs.exists(lockPath) && fs.rename(fresh, lockPath))
          fs.delete(claim, false)
        else if (!stillOurs) {
          // we claimed someone ELSE's token (re-taken in the window):
          // put it back untouched and stop beating ours
          if (!fs.rename(claim, lockPath)) fs.delete(claim, false)
          fs.delete(fresh, false)
        } else {
          // ours, but the refresh rename didn't land. Two distinct
          // causes: an acquirer slipped into the absence window (its
          // create-exclusive won — the lock file EXISTS and is the new
          // holder's), or rename(fresh, lockPath) returned FALSE
          // without throwing (transient FS refusal — the slot is still
          // EMPTY). Deleting the claim in the second case would erase
          // the lock entirely and the healthy holder would abort at
          // its next verifyLockOwnership with no real contention —
          // restore the claim instead, exactly as the exception
          // handler does, and let the next beat retry the refresh.
          // (Same documented local-FS probe→rename TOCTOU residual as
          // the refresh rename above: worst case one loud abort,
          // never two writers mutating.)
          if (!fs.exists(lockPath) && fs.rename(claim, lockPath)) ()
          else fs.delete(claim, false)
          fs.delete(fresh, false)
        }
      } catch {
        case e: java.io.IOException =>
          // a transient throw mid-CAS (e.g. the refresh rename) must
          // not strand the lock renamed-aside forever: restore the
          // claim if the slot is still empty, then let the beat retry
          try {
            if (fs.exists(claim) && !fs.exists(lockPath)) {
              fs.rename(claim, lockPath); ()
            }
            fs.delete(fresh, false)
          } catch { case _: java.io.IOException => () }
          throw e
      }
    }
  }

  private[graft] def lockTokenForTesting: String = stagingToken

  /** Assert THIS writer still owns the commit lock — called immediately
    * before each commit's first destructive step (live-tree overwrite,
    * partition delete, delta rename). If the lock was broken and
    * re-taken while we ran (heartbeat stalled past LockTimeoutMs, or a
    * failed lock-break restore), abort loudly BEFORE corrupting the new
    * holder's view instead of racing its rewrite. One small-file read;
    * noise against partition-scale I/O.
    */
  private def verifyLockOwnership(fs: org.apache.hadoop.fs.FileSystem): Unit =
    readLock(fs) match {
      case Some((token, _)) if token == stagingToken => ()
      case other =>
        throw new java.util.ConcurrentModificationException(
          s"graft-upsert: writer $stagingToken lost the commit lock on $path " +
            s"mid-commit (now ${other.map(_._1).getOrElse("absent")}) — " +
            "aborting before the destructive phase; the batch is replayable")
    }

  /** Run `body` holding the table's commit lock. Reentrant within a
    * thread (inline compaction runs inside an upsert's fence). A
    * heartbeat refreshes the lock's timestamp for the duration, so
    * long-running commits stay unbreakable (see [[startLockHeartbeat]]).
    */
  private def withCommitLock[T](fs: org.apache.hadoop.fs.FileSystem)(body: => T): T =
    if (lockDepth.get > 0) body
    else {
      acquireCommitLock(fs)
      val hb = startLockHeartbeat(fs)
      lockDepth.set(1)
      try body
      finally {
        lockDepth.set(0)
        // stop refreshing BEFORE the release read-check, or a beat
        // could resurrect the lock file after our delete. shutdown(),
        // NOT shutdownNow(): interrupting a beat mid-create tears the
        // lock file (empty data/.crc on the local FS — the interrupt
        // surfaces inside Hadoop's create path before the close), and a
        // torn lock is unreadable to this very release check, leaking
        // the file. A beat in flight finishes its ~20-byte write; queued
        // beats never start (periodic tasks are dropped at shutdown).
        hb.shutdown()
        try hb.awaitTermination(10, java.util.concurrent.TimeUnit.SECONDS)
        catch { case _: InterruptedException => Thread.currentThread().interrupt() }
        // release only OUR lock: a broken-then-retaken lock belongs to
        // the new holder. A torn read (a rival mid-acquire after
        // breaking us as stale) retries briefly, then conservatively
        // leaves the file — the rival's content window is tiny, and an
        // orphaned torn lock is breakable by mtime at the next acquire.
        try {
          var holder = readLock(fs)
          var attempts = 0
          while (holder.isEmpty && attempts < 40 && fs.exists(lockPath)) {
            Thread.sleep(5); attempts += 1; holder = readLock(fs)
          }
          if (holder.exists(_._1 == stagingToken)) fs.delete(lockPath, false)
        } catch { case _: java.io.IOException => () }
      }
    }

  /** foreachBatch body. */
  def upsert(batch0: DataFrame, batchId: Long): Unit = {
    val fs = new Path(path).getFileSystem(
      batch0.sparkSession.sparkContext.hadoopConfiguration)
    withCommitLock(fs) {
      val (batch, screenDone) = screen(batch0, batchId)
      // the screened batch itself is persisted, not its precombine: the
      // first job over it is then a narrow one that fills the whole
      // cache (no window shuffle), and the cache's size then chooses
      // the plan of the merge (Hudi caches its workload profile input
      // the same way)
      try withPersisted(batch) { cached =>
        if (writeMode == ParquetUpsertSink.ModeMor) morAppend(cached, batchId)
        else upsertScreened(cached, batchId)
      } finally screenDone()
    }
  }

  // ——— merge-on-read mode ———

  private def deltaRoot = new Path(s"$path/${ParquetUpsertSink.DeltaDirName}")

  /** Live MOR delta commits of this table, oldest first (same padded
    * commit-id naming as the archive, so lexicographic order is commit
    * order).
    */
  private def deltaCommits(fs: org.apache.hadoop.fs.FileSystem): Seq[String] =
    if (!fs.exists(deltaRoot)) Seq.empty
    else fs.listStatus(deltaRoot).map(_.getPath.getName)
      .filterNot(_.contains(ParquetUpsertSink.ArchiveTmpSuffix)).sorted.toSeq

  /** MOR commit: dedupe the batch by record key and APPEND it as one
    * delta file set under `_delta/<commit>/` — a write of O(batch)
    * bytes that never touches the base partitions. Tombstone rows are
    * KEPT in the delta (the read-side merge applies them); the staged
    * dir renames into place atomically, so a crash mid-write leaves
    * only a `._tmp` dir for the sweeper. At-least-once replay appends
    * a second, content-identical delta commit; the read merge's
    * precombine dedup makes that harmless. `batch` is persisted
    * ([[upsert]]): the emptiness probe fills the cache, and a batch
    * that fits one task ([[fitsOneTask]]) is deduped and written by a
    * single task, with no shuffle.
    */
  private def morAppend(batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // inline-compaction cadence is positional (every Nth BATCH), so it
    // must fire even when this batch carries no rows — an empty batch
    // landing on the compaction slot would otherwise push the fold a
    // whole cycle out and let deltas accumulate past the bound
    def maybeInlineCompact(): Unit =
      if (compactEvery > 0 && batchId % compactEvery == compactEvery - 1) {
        // inline fold in the streaming write path: the warm persists
        // immediately (open-tick entries flush flagged verifyOnRead)
        val (_, warm) = compactMorLocked(spark, fs, batchId)
        warmStatsManifests(fs, warm)
      }
    // empty micro-batch (routine under streaming triggers, or a batch
    // fully quarantined by expectations): no delta commit — an empty
    // delta dir would make every real-time read's per-commit
    // readStringPartitioned throw on zero paths. The probe is one
    // narrow job that fills the whole cache, so its size is known
    if (partitionValues(batch).isEmpty) { maybeInlineCompact(); return }
    // the type gate, before the delta is written
    tableSchema.widenBy(fs, batch.schema)
    val oneTask = fitsOneTask(spark, 0L, Some(batch))
    val deduped = Precombine.latest(if (oneTask) batch.coalesce(1) else batch,
      recordKeys, precombine)
      .withColumn(partitionCol, col(partitionCol).cast("string"))
    val commit = f"${System.currentTimeMillis()}%013d_$batchId%06d" + s"_$stagingToken"
    val tmpDir = new Path(deltaRoot,
      commit + s".$stagingToken${ParquetUpsertSink.ArchiveTmpSuffix}")
    (if (oneTask) deduped else deduped.repartition(col(partitionCol)))
      .write.mode(SaveMode.Overwrite)
      .partitionBy(partitionCol)
      .parquet(tmpDir.toString)
    verifyLockOwnership(fs)
    if (!fs.rename(tmpDir, new Path(deltaRoot, commit)))
      throw new java.io.IOException(
        s"MOR delta commit rename failed: $tmpDir -> ${new Path(deltaRoot, commit)}")
    // sweep OUR crashed partial deltas (same discipline as the archive)
    fs.listStatus(deltaRoot).map(_.getPath)
      .filter(_.getName.endsWith(s".$stagingToken${ParquetUpsertSink.ArchiveTmpSuffix}"))
      .foreach(fs.delete(_, true))
    persistWriteConfig(fs)
    // inline compaction cadence applies in MOR mode too — this is the
    // actual Hudi story (reference py:278-280: compact every 5 delta
    // commits): every Nth batch the accumulated deltas fold into the
    // base, bounding how many delta files a real-time read must merge
    maybeInlineCompact()
  }

  /** The MOR read: base partitions ∪ every live delta commit, merged
    * by record key (highest precombine wins — event-time ordering),
    * tombstones applied last. This is Hudi's real-time view; the plain
    * parquet read of the table root is the read-optimized view (base
    * files only, deltas invisible under the `_delta` prefix). I/O is
    * the base + delta file sets; the merge is one hash aggregation
    * keyed by the record keys — no driver-side state.
    */
  def readMor(spark: org.apache.spark.sql.SparkSession): DataFrame = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val baseDirs = livePartDirs(fs, new Path(path))
    // a delta commit with no data dirs (legacy empty commit, crashed
    // tombstone sweep) contributes nothing rather than a zero-path read
    val deltaFrames = deltaCommits(fs).flatMap { c =>
      val cd = new Path(deltaRoot, c)
      val dirs = livePartDirs(fs, cd)
      if (dirs.isEmpty) None else Some(readStringPartitioned(spark, dirs, cd.toString))
    }
    val frames =
      (if (baseDirs.nonEmpty) Seq(readStringPartitioned(spark, baseDirs)) else Seq.empty) ++
        deltaFrames
    if (frames.isEmpty) return emptyTable(spark, fs)
    // deltas may carry exactly-widened column types relative to the
    // base (and vice versa after compaction) — align explicitly, loudly
    val unioned = SchemaWidening.alignForMerge(frames, "MOR read")
      .reduce(_.unionByName(_, allowMissingColumns = true))
    // PARTITION-SCOPED merge keys (recordKey within partition), exactly
    // like the COW upsert's touched-partition merge (Hudi's non-global
    // index): a key whose later version changed partitions has a row in
    // BOTH partitions, in both modes — MOR must not "globalize" it away
    val merged = Precombine.latest(unioned,
      (recordKeys :+ partitionCol).distinct, precombine)
    deleteCol match {
      case Some(d) => merged.filter(!coalesce(col(d), lit(false)))
      case None => merged
    }
  }

  /** Fold every live delta commit into the base (Hudi compaction):
    * rewrite exactly the partitions the deltas touch with the merged
    * result, delete the folded delta dirs, archive pre-images under
    * the retention contract like any commit. Untouched base partitions
    * never leave disk. Crash-safe: a crash after the rewrite but
    * before the delta deletion re-merges idempotently (the delta rows
    * are already IN the base; precombine picks the same winners).
    * Returns the folded delta commit ids.
    */
  def compactMor(spark: org.apache.spark.sql.SparkSession,
      batchId: Long = 0L): Seq[String] = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (folded, warm) = withCommitLock(fs) { compactMorLocked(spark, fs, batchId) }
    warmStatsManifests(fs, warm)
    folded
  }

  /** Returns (folded delta commits, partition dirs to re-warm). */
  private def compactMorLocked(spark: org.apache.spark.sql.SparkSession,
      fs: org.apache.hadoop.fs.FileSystem,
      batchId: Long): (Seq[String], Seq[Path]) = {
    val folding = deltaCommits(fs)
    if (folding.isEmpty) return (Seq.empty, Seq.empty)
    val deltaDirsByCommit = folding.map(c => livePartDirs(fs, new Path(deltaRoot, c)))
    val touchedEscaped: Seq[String] = deltaDirsByCommit.flatten
      .map(_.getName.stripPrefix(s"$partitionCol=")).distinct
    val touchedValues = touchedEscaped.map(UpsertTableSource.dirValue)
    val baseTouched = touchedEscaped
      .map(e => new Path(s"$path/$partitionCol=$e")).filter(hasDataFiles(fs, _))
    val frames =
      (if (baseTouched.nonEmpty) Seq(readStringPartitioned(spark, baseTouched))
       else Seq.empty) ++
        deltaDirsByCommit.zip(folding).collect { case (dirs, c) if dirs.nonEmpty =>
          readStringPartitioned(spark, dirs, new Path(deltaRoot, c).toString) }
    if (frames.isEmpty) { // empty delta commits: nothing to fold
      folding.foreach(c => fs.delete(new Path(deltaRoot, c), true))
      return (folding, Seq.empty)
    }
    val unioned = SchemaWidening.alignForMerge(frames, "MOR compaction")
      .reduce(_.unionByName(_, allowMissingColumns = true))
    // partition-scoped merge keys, mirroring readMor — the fold must
    // materialize exactly what the real-time view serves
    val mergedAll = Precombine.latest(unioned,
      (recordKeys :+ partitionCol).distinct, precombine)
    val merged = deleteCol match {
      case Some(d) => mergedAll.filter(!coalesce(col(d), lit(false)))
      case None => mergedAll
    }
    val kept = rewritePartitions(spark, fs, merged, touchedValues, batchId, "compact") {
      folding.foreach(c => fs.delete(new Path(deltaRoot, c), true))
    }
    // hive-sync fires at COMPACTION in MOR mode — the point where the
    // registered (read-optimized, base-files) table's content actually
    // changes; syncing on delta append would register a name whose
    // reads silently exclude the very rows just written. Sync the
    // PERSISTED superset schema, not merged.schema: the fold reads only
    // touched partitions, and a column living solely in untouched ones
    // would otherwise vanish from the catalog entry.
    syncTable.foreach(registerAndSync(spark, _,
      tableSchema.current(fs).getOrElse(merged.schema)))
    (folding, kept)
  }

  /** Loud guard for paths that operate on the BASE file set only: with
    * live MOR deltas their answer would silently miss the deltas.
    */
  private[io] def requireNoLiveDeltas(fs: org.apache.hadoop.fs.FileSystem,
      op: String): Unit = {
    val live = deltaCommits(fs)
    require(live.isEmpty,
      s"graft-upsert: $op reads the base file set, but $path has ${live.size} " +
        "unmerged MOR delta commit(s) — run compactMor/CALL graft.system.compact " +
        "first, or read via readMor")
  }

  /** COW commit of a persisted, screened batch (see [[upsert]]). */
  private def upsertScreened(batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // one narrow job (no window shuffle): it fills the cache the merge
    // reads, and the cache's size sizes the merge plan
    val parts = partitionValues(batch)
    if (parts.isEmpty) return

    // ONE glob round-trip discovers every live data file; the previous
    // per-dir exists+listStatus pair cost 2×|touched| namenode RPCs per
    // batch — measured as the dominant per-upsert cost as the partition
    // count grows (and far worse against an object store). Partition
    // values are Hive-escaped on disk, which percent-escapes every glob
    // metacharacter, so the pattern below is literal-safe.
    // A dir that exists but holds no data files (a crashed tombstone
    // delete removed the files but not the dir) counts as absent:
    // schema inference over zero files throws, and the replay would
    // crash-loop where the correct answer is "no existing rows"
    val liveFiles = ParquetUpsertSink.liveDataFileStatuses(fs, path, partitionCol)
      .groupBy(_.getPath.getParent.getName)
    val liveDataDirs: Set[String] = liveFiles.keySet

    // the touched partitions ARE the read set: path-level pruning, no
    // reading of the rest of the table. A batch touching only absent
    // dirs (fresh table, or fully tombstoned away) reads nothing;
    // transient READ failures below propagate (streaming retry), they
    // must not masquerade as first-batch
    val touchedNames = parts.map(v => s"$partitionCol=${dirName(v)}")
      .filter(liveDataDirs.contains)
    val touchedDirs = touchedNames.map(d => new Path(s"$path/$d"))
    // the merge's inputs are the batch plus the touched files: when
    // they fit one task, every step below runs in one partition
    val oneTask = fitsOneTask(spark,
      touchedNames.map(liveFiles(_).map(_.getLen).sum).sum, Some(batch))
    def planned(df: DataFrame): DataFrame = if (oneTask) df.coalesce(1) else df
    val deduped = Precombine.latest(planned(batch), recordKeys, precombine)
    // metadata-schema read: no per-batch footer-inference job (the
    // lazy liveDirs fallback lists only legacy tables that predate
    // `_schema.json`, once per sink lifetime)
    def allLiveDirs: Seq[Path] =
      liveDataDirs.toSeq.sorted.map(d => new Path(s"$path/$d"))
    val existing =
      if (touchedDirs.nonEmpty)
        tableSchema.currentOrInfer(spark, fs, allLiveDirs).map(s =>
          readWithSchema(spark, touchedDirs, s)
            // align the string partition column back to the batch's type
            .withColumn(partitionCol,
              col(partitionCol).cast(batch.schema(partitionCol).dataType)))
      else None
    val mergedAll = existing match {
      // allowMissingColumns = Hudi-style additive schema evolution: a
      // batch may carry columns the table lacks (old rows null-fill)
      // and vice versa after an evolution (new rows null-fill the
      // legacy column). TYPE changes go through [[SchemaWidening]]:
      // exact promotions (int→long, float→double) merge at the wide
      // type — metadata-only evolution, the untouched narrow files
      // promote on read — and anything lossy fails loudly BEFORE the
      // union, never falling through to union type-coercion's silent
      // common types (long+double→double would corrupt keys > 2^53).
      case Some(old) =>
        val aligned = SchemaWidening.alignForMerge(
          Seq(old, deduped), "upsert batch")
        Precombine.latest(
          planned(aligned(0).unionByName(aligned(1), allowMissingColumns = true)),
          recordKeys, precombine)
      case None => deduped
    }
    val merged = deleteCol match {
      case Some(d) => mergedAll.filter(!coalesce(col(d), lit(false)))
      case None => mergedAll
    }

    // a batch touching only absent partitions (creation-only) takes
    // the same commit: there are no pre-images to read, and its
    // touched-partition manifest still lets [[readAsOf]] tell that
    // these partitions did not exist before this commit
    rewritePartitions(spark, fs, merged, parts, batchId, "upsert", oneTask)()
    persistWriteConfig(fs)
    if (compactEvery > 0 && batchId % compactEvery == compactEvery - 1)
      compactPartitions(spark)
    // sync the PERSISTED superset schema, not this batch's merge
    // shape: a creation-only commit's merged.schema is just the batch
    // — syncing it would drop and recreate the catalog entry WITHOUT
    // columns living only in untouched partitions (the same narrowing
    // compactMorLocked's sync was fixed for)
    syncTable.foreach(registerAndSync(spark, _,
      tableSchema.current(fs).getOrElse(merged.schema)))
  }

  /** Row-level DELETE over the table, copy-on-write: removes every row
    * for which `cond` evaluates TRUE (a NULL condition keeps the row —
    * SQL DELETE semantics), rewriting ONLY the partitions that contain
    * at least one matching row. Backs SQL `DELETE FROM` on
    * `graft-upsert` tables (the [[UpsertTable]] SupportsDelete hook)
    * and `TRUNCATE TABLE` (cond = TRUE ⇒ every live partition
    * matches ⇒ all directories removed).
    *
    * Scale shape: the match scan reads only the columns `cond`
    * references plus the partition column (parquet column pruning);
    * the rewrite reads and rewrites only the matched partitions —
    * identical I/O discipline to [[upsert]]'s touched-partition merge.
    * Pre-images of the rewritten partitions archive under the same
    * retention contract (`keepVersions`), so a delete is time-travel
    * visible like any other commit. Partitions whose every row matched
    * get their directories removed (dynamic overwrite cannot drop a
    * partition absent from the written data). Returns the matched
    * partition values (string form).
    */
  def delete(spark: org.apache.spark.sql.SparkSession, cond: org.apache.spark.sql.Column,
      batchId: Long = 0L): Seq[String] = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (matched, warm) = withCommitLock(fs) {
      // checked INSIDE the fence: a delta appended between an outside
      // check and the lock would be silently missed by the base rewrite
      requireNoLiveDeltas(fs, "DELETE")
      deleteLocked(spark, fs, cond, batchId)
    }
    warmStatsManifests(fs, warm)
    matched
  }

  /** Returns (matched partition values, surviving dirs to re-warm). */
  private def deleteLocked(spark: org.apache.spark.sql.SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, cond: org.apache.spark.sql.Column,
      batchId: Long): (Seq[String], Seq[Path]) = {
    val liveFiles = ParquetUpsertSink.liveDataFileStatuses(fs, path, partitionCol)
      .groupBy(_.getPath.getParent.getName)
    if (liveFiles.isEmpty) return (Seq.empty, Seq.empty)
    def allLiveDirs: Seq[Path] =
      liveFiles.keys.toSeq.sorted.map(d => new Path(s"$path/$d"))
    val s = tableSchema.currentOrInfer(spark, fs, allLiveDirs)
      .getOrElse(return (Seq.empty, Seq.empty))
    // matched partitions first (metadata-scale result): the full-table
    // pass decodes only cond's columns + the partition column
    val matched = partitionValues(readWithSchema(spark, allLiveDirs, s).filter(cond))
    if (matched.isEmpty) return (Seq.empty, Seq.empty)
    // survivors: rows where cond is FALSE or NULL (SQL DELETE keeps
    // NULL-condition rows), written back exactly like upsert's merge —
    // by one task when the matched partitions' files fit one
    val survivors = readWithSchema(spark, matched.map(partDir), s)
      .filter(!coalesce(cond, lit(false)))
    val matchedBytes = matched.map(v => liveFiles.get(s"$partitionCol=${dirName(v)}")
      .fold(0L)(_.map(_.getLen).sum)).sum
    (matched, rewritePartitions(spark, fs, survivors, matched, batchId, "delete",
      fitsOneTask(spark, matchedBytes))())
  }

  /** Group-replacement commit for SQL row-level operations (UPDATE /
    * MERGE INTO / subquery DELETE): the copy-on-write contract Spark's
    * `ReplaceData` plan expects. `replaced` are the partition values
    * whose file sets the operation's scan planned (post runtime group
    * filtering) — those groups cease to exist; `rows` is the
    * operation's full output for them (survivors + updates + inserts).
    *
    * Placement honors group semantics, not blanket overwrite:
    *  - a REPLACED partition with rows → rewritten with exactly them;
    *  - a replaced partition with no surviving rows → directory removed;
    *  - rows landing in an existing partition the scan did NOT plan (a
    *    MERGE insert into a partition with no matches) → that
    *    partition's live rows, never read by the scan, join the rows
    *    and the partition is rewritten — upsert's copy-on-write cost,
    *    and one file per partition stays one file.
    *
    * One [[rewritePartitions]] commit: pre-images of every touched
    * partition archive under keepVersions — an UPDATE/MERGE is
    * time-travel visible like any upsert commit. Scale: all sets here
    * are partition-value lists (metadata), the data I/O is exactly the
    * staged output plus the rewritten groups.
    */
  def replaceGroups(spark: org.apache.spark.sql.SparkSession, replaced: Seq[String],
      rows: DataFrame, batchId: Long = 0L): Unit = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val warm = withCommitLock(fs) {
      // inside the fence — see delete()
      requireNoLiveDeltas(fs, "the row-level rewrite")
      replaceGroupsLocked(spark, fs, replaced, rows, batchId)
    }
    warmStatsManifests(fs, warm)
  }

  /** Returns the written partition dirs (callers warm after unlock).
    * `rowParts`, when the caller already knows it, is a superset of the
    * partitions `rows` lands in; otherwise it is collected from `rows`.
    */
  private def replaceGroupsLocked(spark: org.apache.spark.sql.SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, replaced: Seq[String],
      rows: DataFrame, batchId: Long, op: String = "replace",
      rowParts: Option[Seq[String]] = None): Seq[Path] = {
    // string partition identity (dir-name basis), like every sink path
    val norm = rows.withColumn(partitionCol, col(partitionCol).cast("string"))
    val replacedDirs = replaced.map(dirName).toSet
    val unplanned = rowParts.getOrElse(partitionValues(norm))
      .filterNot(v => replacedDirs.contains(dirName(v)))
    val touched = (replaced ++ unplanned).distinct
    if (touched.isEmpty) return Seq.empty
    // an unplanned partition's existing files were never read: fold its
    // live rows in, so the rewrite keeps them
    val unplannedLive = unplanned.map(partDir).filter(hasDataFiles(fs, _))
    val content =
      if (unplannedLive.isEmpty) norm
      else SchemaWidening.alignForMerge(
          Seq(norm, readStringPartitioned(spark, unplannedLive)), "row-level rewrite")
        .reduce(_.unionByName(_, allowMissingColumns = true))
    rewritePartitions(spark, fs, content, touched, batchId, op)()
  }

  /** RESTORE the table to its state as of archive commit `asOf` (the
    * Delta `RESTORE TABLE ... VERSION AS OF` / Hudi rollback analog),
    * applied as a NEW commit: the pre-restore head stays in the
    * timeline, so the restore itself is time-travelable, auditable in
    * the change feed, and reversible (restore forward again). Pass ""
    * to restore the state before the oldest retained commit.
    *
    * Change-set-proportional, the property that matters at 100 TB:
    * only partitions touched by a commit newer than `asOf` are
    * rewritten (their as-of content re-read from the pre-image
    * archive); partitions the intervening commits never touched are
    * not listed, read, or copied. Partitions CREATED after `asOf`
    * restore to absence (their directories delete). Schema stays
    * CURRENT (Delta semantics): archived rows flow through the same
    * alias/widening normalization as every as-of read, so a restore
    * across a rename/widening lands under today's names and types.
    *
    * Returns the restored partition values (dir-name-escaped), empty
    * when the table already stands at `asOf`. Same retention contract
    * as [[readAsOf]]: `asOf` must still be retained (fail-fast), and
    * MOR tables must compact first (live deltas are not part of any
    * archived state).
    */
  def restoreTo(spark: org.apache.spark.sql.SparkSession,
      asOf: String): Seq[String] = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (touched, warm) = withCommitLock(fs) {
      requireNoLiveDeltas(fs, "restore")
      restoreToLocked(spark, fs, asOf)
    }
    warmStatsManifests(fs, warm)
    touched
  }

  /** Returns (restored partition values, partition dirs to re-warm). */
  private def restoreToLocked(spark: org.apache.spark.sql.SparkSession,
      fs: org.apache.hadoop.fs.FileSystem,
      asOf: String): (Seq[String], Seq[Path]) = {
    val retained = ParquetUpsertSink.listArchivedCommits(spark, path)
    // the same pruned-commit fail-fast as asOfPartitionDirs, checked
    // BEFORE any mutation (a half-restore to a collapsed state would
    // be the silent-wrong-answer this gate exists to prevent)
    require(asOf == "" || retained.contains(asOf),
      s"restore: commit '$asOf' is not retained (keepVersions window); " +
        (if (retained.isEmpty) "no archived commits exist"
         else s"oldest retained commit is '${retained.head}'"))
    val newer = retained.filter(_ > asOf)
    // fail FAST across pre-manifest commits: their pre-image dirs
    // cannot distinguish "created by this commit" (must restore to
    // ABSENCE) from "untouched" — the lossy fallback could silently
    // keep partitions the as-of state never had. readAsOf stays
    // lenient (a read cannot corrupt), but a restore COMMITS the
    // guess.
    val legacy = newer.filterNot(c => fs.exists(
      new Path(new Path(archiveRoot, c), ParquetUpsertSink.TouchedManifest)))
    require(legacy.isEmpty,
      s"restore: commit(s) ${legacy.mkString(", ")} predate the " +
        "touched-partition manifest; their creation set is unrecoverable, so " +
        "a restore across them could silently keep partitions that should " +
        "restore to absence. Restore to a commit at or after them instead.")
    // the invalidation set: exactly the partitions some newer commit
    // touched — everything else is already in its as-of state
    val touched = newer
      .flatMap(c => touchedPartitions(fs, new Path(archiveRoot, c)))
      .distinct
    if (touched.isEmpty) return (Seq.empty, Seq.empty)
    val touchedSet = touched.toSet
    // as-of content of ONLY the touched partitions (archived pre-image
    // dirs by construction — a live dir is authoritative only for
    // partitions no newer commit touched, and those aren't in the set)
    val asOfDirs = asOfPartitionDirs(spark, asOf)
      .filter { case (escaped, _) => touchedSet.contains(escaped) }
    val root = new Path(path)
    val rows: DataFrame =
      if (asOfDirs.isEmpty) emptyTable(spark, fs)
      else {
        val groups = asOfDirs.map(_._2).groupBy(_.getParent).toSeq
          .map { case (base, ds) =>
            if (base == root) readStringPartitioned(spark, ds)
            else readStringPartitioned(spark, ds, base.toString) }
        SchemaWidening.alignForMerge(groups, "restore read")
          .reduce(_.unionByName(_, allowMissingColumns = true))
      }
    // one replace commit: pre-images archive first (the pre-restore
    // head), touched partitions overwrite with their as-of content,
    // created-after-asOf partitions delete (no rows for them). The rows
    // come from touched dirs only, so no partition discovery is needed
    val values = touched.map(UpsertTableSource.dirValue)
    val warm = replaceGroupsLocked(spark, fs, values, rows, batchId = 0L,
      op = "restore", rowParts = Some(values))
    (touched, warm)
  }

  // ——— retention (Hudi cleaner analog) ———

  private def archiveRoot = new Path(s"$path/${ParquetUpsertSink.ArchiveDirName}")

  /** COPY the live file sets of the touched partitions into
    * `_archive/<commit>/<partition>/`, then prune the archive to the
    * newest keepVersions-1 commits. Copy, not rename: a crash between
    * the archive step and the overwrite must leave the live partition
    * intact, or the streaming replay would merge the retried batch
    * against an emptied partition and silently drop its history (the
    * replay then just archives a redundant pre-image copy — wasteful,
    * never lossy). Note that under at-least-once replay a re-run of an
    * already-committed batch archives the (identical) post-image as a
    * new commit, which ages genuine pre-images out of the keepVersions
    * window one commit earlier — retention counts physical commits,
    * like Hudi's cleaner.
    *
    * Commit ids are zero-padded epoch millis + zero-padded batch id,
    * so lexicographic order IS commit order (an unpadded batch id
    * would sort `_10` before `_9` within one millisecond and prune the
    * wrong "oldest").
    */
  /** Mark `commit`'s mutation as fully applied to the live tree. The
    * archive commit dir necessarily EXISTS before the overwrite it
    * pre-images (crash safety), so anything that treats commits as a
    * log of applied changes — the streaming read path's offsets — must
    * see a commit only once this marker lands, or it will plan live
    * files mid-rewrite (TOCTOU). Time-travel reads are unaffected: an
    * unmarked head commit's pre-image is complete by construction.
    */
  private def markCommitComplete(fs: org.apache.hadoop.fs.FileSystem,
      commit: Option[String]): Unit = commit.foreach { c =>
    val f = new Path(new Path(archiveRoot, c), ParquetUpsertSink.CommitCompleteMarker)
    val out = fs.create(f, true)
    try out.write(Array.emptyByteArray) finally out.close()
  }

  private def archivePreImages(fs: org.apache.hadoop.fs.FileSystem,
      parts: Array[String], batchId: Long, op: String): String = {
    // the token in the COMMIT name too: two writers replaying the same
    // batch id in the same millisecond must not rename into one dir
    // (rename-into-existing nests silently on most FileSystems)
    val commit = f"${System.currentTimeMillis()}%013d_$batchId%06d" + s"_$stagingToken"
    val commitDir = new Path(archiveRoot, commit)
    // copy into a temp name and rename into place once complete: a
    // crash mid-copy must not leave a PARTIAL commit dir that the
    // pruner counts against retention and a rollback mistakes for a
    // full pre-image (dir rename is the atomic step). The temp name
    // carries THIS writer's token — concurrent writers on one path
    // (supported, like staging) must not sweep each other's in-flight
    // copies as garbage.
    val tmpSuffix = s".$stagingToken${ParquetUpsertSink.ArchiveTmpSuffix}"
    val tmpDir = new Path(archiveRoot, commit + tmpSuffix)
    fs.mkdirs(tmpDir)
    parts.foreach { v =>
      val live = partDir(v)
      if (fs.exists(live))
        org.apache.hadoop.fs.FileUtil.copy(
          fs, live, fs, new Path(tmpDir, live.getName),
          false /* deleteSource */, fs.getConf)
    }
    // manifest of ALL touched partitions — including creations, which
    // leave no pre-image dir: [[readAsOf]] needs "P did not exist
    // before this commit" to be distinguishable from "P untouched".
    // Values are stored in escaped dir-name form (newlines etc. are
    // percent-escaped), so line-oriented parsing is safe.
    val mf = fs.create(new Path(tmpDir, ParquetUpsertSink.TouchedManifest), true)
    try mf.write(parts.map(dirName).mkString("\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally mf.close()
    // what KIND of change this commit is (upsert/delete/replace/
    // overwrite/restore/compact) — Delta's DESCRIBE HISTORY operation
    // column; rides the commit dir so `CALL graft.system.history`
    // audits the timeline without guessing from shapes
    val opf = fs.create(new Path(tmpDir, ParquetUpsertSink.OperationMarker), true)
    try opf.write(op.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally opf.close()
    // rename returns false (not an exception) on most FileSystems —
    // unchecked, the fresh pre-image would be swept as garbage below
    // and the batch would "succeed" without its retention artifact
    if (!fs.rename(tmpDir, commitDir))
      throw new java.io.IOException(
        s"archive commit rename failed: $tmpDir -> $commitDir")
    if (fs.exists(archiveRoot)) {
      val (partials, commits) = fs.listStatus(archiveRoot).map(_.getPath)
        .partition(_.getName.endsWith(ParquetUpsertSink.ArchiveTmpSuffix))
      // crashed partial copies: sweep only OUR token's (a concurrent
      // writer's live ._tmp is indistinguishable from its crash
      // leftovers — those are reclaimed by sweepStaging at deploy time)
      partials.filter(_.getName.endsWith(tmpSuffix)).foreach(fs.delete(_, true))
      commits.sortBy(_.getName).dropRight(keepVersions - 1).foreach(fs.delete(_, true))
    }
    commit
  }

  // ——— compaction (Hudi inline-compact analog) ———

  /** Coalesce partitions whose live file count exceeds
    * `filesPerPartition` by rewriting just those partitions (the same
    * dynamic partition overwrite as an upsert, off the timeline —
    * replay-safe: a crash before the overwrite leaves the table
    * untouched, after it leaves the same rows in fewer files). Returns
    * the partition directory names compacted. A maintenance entry
    * point; schedule via [[compactEvery]] or call directly.
    */
  def compactPartitions(spark: org.apache.spark.sql.SparkSession): Seq[String] = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new Path(path))) return Seq.empty
    val warm = withCommitLock(fs) { compactPartitionsLocked(spark, fs) }
    warmStatsManifests(fs, warm)
    warm.map(_.getName)
  }

  /** Post-rewrite stats-manifest warm: the rewriting job (compaction,
    * Z-order/sort layout, MOR fold, row-level DML, restore, rename)
    * just paid the write I/O for these partitions, so read their fresh
    * footers NOW — page-cache-hot, inside the batch job — and persist
    * the manifest write-back, instead of leaving the first
    * post-rewrite planning pass to pay the footer storm on the query
    * path (at 100 TB a compaction sweep otherwise resets every touched
    * directory's manifest to cold). Runs AFTER the commit is finalized
    * and (at every non-streaming call site) after the table lock
    * releases — best-effort bookkeeping must not widen the
    * unfinalized-commit window or serialize writers behind footer I/O.
    *
    * No settle wait: just-written entries land inside their open
    * mtime tick, and the flush inside fileStatsAll persists them
    * IMMEDIATELY, flagged `verifyOnRead` — the next planning pass
    * verifies each flagged entry's footer fingerprint with one tail
    * read and self-heals the flag off (see
    * [[UpsertStatsManifest]]'s racy-window notes). A one-shot
    * maintenance JVM therefore exits with the warm durable, without
    * the former ≤window+skew sleep that priced every maintenance op.
    * Best-effort — failure costs later footer reads, never
    * correctness.
    */
  private def warmStatsManifests(fs: org.apache.hadoop.fs.FileSystem,
      partDirs: Seq[Path]): Unit =
    try {
      if (partDirs.nonEmpty && UpsertStatsManifest.manifestEnabled) {
        val statuses = partDirs.flatMap(d =>
          UpsertTableSource.dataFileStatuses(fs, d))
        if (statuses.nonEmpty) {
          UpsertDataSkipping.fileStatsAll(fs, statuses.map(_.getPath),
            TableSchema.of(path), fs.getConf,
            ColumnAliases.parse(GraftUpsertCatalog.tableProps(path)))
          ()
        }
      }
    } catch { case scala.util.control.NonFatal(_) => }

  /** Returns the rewritten partition dirs (callers warm + name them). */
  private def compactPartitionsLocked(spark: org.apache.spark.sql.SparkSession,
      fs: org.apache.hadoop.fs.FileSystem): Seq[Path] = {
    val partDirs = fs.listStatus(new Path(path))
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(s"$partitionCol="))
    val oversized = partDirs.filter { st =>
      fs.listStatus(st.getPath)
        .count(f => f.getPath.getName.startsWith("part-") && f.getLen > 0) > filesPerPartition
    }.map(_.getPath)
    if (oversized.isEmpty) return Seq.empty
    // the oversized dirs ARE the read set (path-level pruning; string
    // partition identity preserved by readStringPartitioned), read by
    // the write itself — no materialization, for the reason
    // [[rewritePartitions]] gives. Replay-safe like upsert: a crash
    // before the overwrite leaves the table untouched, after it leaves
    // the same rows in fewer files
    verifyLockOwnership(fs)
    writeFinal(readStringPartitioned(spark, oversized.toSeq))
    oversized.toSeq
  }

  /** Rewrite every live partition with rows ordered by the Z-order
    * (Morton) code of two filter columns — the Delta/Iceberg
    * `OPTIMIZE ... ZORDER BY (x, y)` move as a table service. With the
    * sink's one-file-per-partition layout the win is ROW-GROUP-level
    * skipping: parquet keeps min/max per row group, and Morton order
    * makes both columns' per-row-group ranges tight 2-D tiles, so a
    * selective predicate on EITHER column skips most of each file.
    * Same replay-safe shape as compaction (one dynamic overwrite that
    * reads what it replaces). Returns the rewritten partition dir names.
    */
  def optimizeZorder(spark: org.apache.spark.sql.SparkSession,
      x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column): Seq[String] = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new Path(path))) return Seq.empty
    val warm = withCommitLock(fs) { optimizeZorderLocked(spark, fs, x, y) }
    warmStatsManifests(fs, warm)
    warm.map(_.getName)
  }

  private def optimizeZorderLocked(spark: org.apache.spark.sql.SparkSession,
      fs: org.apache.hadoop.fs.FileSystem,
      x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column): Seq[Path] =
    clusterRewriteLocked(spark, fs, Seq(
      graft.functions.ZOrderExpressions.mortonCode(x.cast("long"), y.cast("long"))))

  /** Rewrite every live partition with rows ordered by `sortCols` —
    * linear clustering, the `OPTIMIZE ... SORT BY` counterpart of
    * [[optimizeZorder]]. The right layout when ONE access pattern
    * dominates (point lookups / ranges on the record key): row-group
    * min/max on the leading sort column become disjoint ranges, so a
    * selective predicate reads one row group per file instead of all
    * of them — where Z-order trades some of that sharpness to serve
    * TWO columns at once. Same replay-safe shape as compaction.
    */
  def optimizeSort(spark: org.apache.spark.sql.SparkSession,
      sortCols: Seq[org.apache.spark.sql.Column]): Seq[String] = {
    require(sortCols.nonEmpty, "optimizeSort needs at least one sort column")
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new Path(path))) return Seq.empty
    val warm = withCommitLock(fs) { clusterRewriteLocked(spark, fs, sortCols) }
    warmStatsManifests(fs, warm)
    warm.map(_.getName)
  }

  /** Returns the rewritten partition dirs (callers warm + name them). */
  private def clusterRewriteLocked(spark: org.apache.spark.sql.SparkSession,
      fs: org.apache.hadoop.fs.FileSystem,
      sortKeys: Seq[org.apache.spark.sql.Column]): Seq[Path] = {
    val partDirs = livePartDirs(fs, new Path(path))
    if (partDirs.isEmpty) return Seq.empty
    verifyLockOwnership(fs)
    writeFinal(readStringPartitioned(spark, partDirs), sortKeys)
    partDirs
  }

  /** `INSERT OVERWRITE` executor: replace every live partition
    * satisfying `matches` — plus the batch's own partitions — with the
    * batch's rows, in ONE archived commit. The live listing happens
    * INSIDE the commit lock (a partition created concurrently must not
    * survive a truncate), and the batch passes through the write-time
    * CHECK expectations exactly like an upsert (quarantine/fail —
    * constraint enforcement must not depend on which ingest statement
    * ran). `enforceRowsMatch` fails the commit when batch rows fall
    * outside the overwrite predicate (Delta's replaceWhere rule).
    */
  def overwriteWhere(spark: org.apache.spark.sql.SparkSession,
      matches: String => Boolean, rows: DataFrame, batchId: Long = 0L,
      enforceRowsMatch: Boolean = false): Unit = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (clean, done) = screen(rows, batchId)
    val warm = try withCommitLock(fs) {
      requireNoLiveDeltas(fs, "the overwrite")
      persistWriteConfig(fs)
      val rowParts = partitionValues(clean)
      if (enforceRowsMatch) {
        val bad = rowParts.filterNot(matches)
        require(bad.isEmpty,
          s"graft-upsert: INSERT OVERWRITE batch contains partitions outside " +
            s"the overwrite predicates: ${bad.mkString(", ")}")
      }
      val live: Seq[String] = livePartDirs(fs, new Path(path))
        .map(p => UpsertTableSource.dirValue(
          p.getName.stripPrefix(s"$partitionCol=")))
        .filter(matches)
      replaceGroupsLocked(spark, fs, (live ++ rowParts).distinct, clean, batchId,
        op = "overwrite", rowParts = Some(rowParts))
    } finally done()
    warmStatsManifests(fs, warm)
  }

  /** Dynamic `INSERT OVERWRITE`: replace exactly the partitions present
    * in the (expectation-screened) batch. No table listing needed — the
    * replaced set derives from the batch alone.
    */
  def overwriteDynamic(spark: org.apache.spark.sql.SparkSession,
      rows: DataFrame, batchId: Long = 0L): Unit = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (clean, done) = screen(rows, batchId)
    val warm = try withCommitLock(fs) {
      requireNoLiveDeltas(fs, "the overwrite")
      persistWriteConfig(fs)
      val rowParts = partitionValues(clean)
      replaceGroupsLocked(spark, fs, rowParts, clean, batchId, op = "overwrite",
        rowParts = Some(rowParts))
    } finally done()
    warmStatsManifests(fs, warm)
  }

  /** `ALTER TABLE ... RENAME COLUMN` executor: rewrite every live
    * partition with the column under its new name, persist the renamed
    * schema, and record the old→new pair in `_table.properties`
    * (`columnRenames`) so readers of immutable history — archived
    * pre-image commits still storing the old name — resolve it through
    * [[ColumnAliases]]. Content-identical like compaction/Z-order, so
    * no timeline commit is written; clustering order is NOT preserved
    * (re-run `optimize_sort`/`optimize_zorder` afterwards if the table
    * was clustered). Live MOR deltas must be folded first — their
    * files would keep the old name but live OUTSIDE the archive, where
    * nothing re-reads them through the alias map.
    */
  def renameColumn(spark: org.apache.spark.sql.SparkSession,
      from: String, to: String): Seq[String] = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new Path(path))) return Seq.empty
    val warm = withCommitLock(fs) {
      requireNoLiveDeltas(fs, "a column rename")
      // the persisted schema keeps its FIELD ORDER through the rename
      // (positional writes — INSERT INTO ... VALUES — resolve against
      // it); a partitioned read would report the partition column last.
      // The alias records the field's ACTUAL schema case, not the
      // user-typed spelling — readers resolve aliases against parquet
      // footers case-SENSITIVELY.
      val old = tableSchema.current(fs).getOrElse(throw new IllegalStateException(
        s"graft-upsert: cannot rename a column of $path — no ${TableSchema.FileName}"))
      val field = old.fields.find(_.name.equalsIgnoreCase(from)).getOrElse(
        throw new IllegalArgumentException(
          s"graft-upsert: no column '$from' in the table schema"))
      val schemaNow = org.apache.spark.sql.types.StructType(
        old.map(f => if (f eq field) f.copy(name = to) else f))
      // CRASH-SAFE ORDER: alias, then schema, then rewrite. Every
      // interruption point reads correctly — alias alone is inert
      // (the current name still resolves directly); alias+new-schema
      // serves the still-old live files through the alias; the rewrite
      // is the final optimization that retires the alias for live data.
      updateTableProps(fs) { props =>
        val cur = props.stringPropertyNames().toArray(Array.empty[String])
          .map(k => k -> props.getProperty(k)).toMap
        props.setProperty(ColumnAliases.RenamesProp,
          ColumnAliases.appendRename(cur, field.name, to))
      }
      tableSchema.replace(fs, schemaNow)
      val partDirs = livePartDirs(fs, new Path(path))
      if (partDirs.nonEmpty) {
        // readStringPartitioned alias-normalizes: old-name files come
        // back under the NEW name already
        verifyLockOwnership(fs)
        writeFinal(readStringPartitioned(spark, partDirs))
      }
      partDirs
    }
    warmStatsManifests(fs, warm)
    warm.map(_.getName)
  }

  /** Read-modify-write `_table.properties` — the shared crash-safe
    * discipline ([[GraftUpsertCatalog.updateProps]]: fixed tmp +
    * delete + rename, with [[GraftUpsertCatalog.loadProps]] recovering
    * a tmp stranded in the delete→rename window), so a crash mid-
    * update can no longer erase the rename lineage or merge config.
    */
  private def updateTableProps(fs: org.apache.hadoop.fs.FileSystem)(
      f: java.util.Properties => Unit): Unit =
    GraftUpsertCatalog.updateProps(fs, path)(f)

  // ——— catalog sync (Hive-sync analog) ———

  /** Register `name` as an external partitioned parquet table over
    * `path` (first call) and recover newly appeared partitions (every
    * call) — the two things Hudi's hive-sync does per commit.
    */
  private def registerAndSync(spark: org.apache.spark.sql.SparkSession,
      name: String, schema: org.apache.spark.sql.types.StructType): Unit = {
    // name + type shape, case- and nullability-insensitive: the
    // comparison that decides whether the catalog entry is stale
    def shape(s: org.apache.spark.sql.types.StructType): Set[(String, String)] =
      s.map(f => (f.name.toLowerCase(java.util.Locale.ROOT), f.dataType.sql)).toSet
    // schema evolution must reach the catalog too (CREATE IF NOT
    // EXISTS no-ops): on ANY shape change — a new top-level column, a
    // field added inside a struct — drop and recreate the EXTERNAL
    // table definition. Metadata-only (the data stays), uniform across
    // evolution kinds, and schema.toDDL quotes reserved/special column
    // names correctly (a hand-built ALTER ... ADD COLUMNS would not).
    if (spark.catalog.tableExists(name)
        && shape(spark.table(name).schema) != shape(schema))
      spark.sql(s"DROP TABLE $name")
    if (!spark.catalog.tableExists(name)) {
      spark.sql(
        s"""CREATE TABLE IF NOT EXISTS $name (${schema.toDDL})
           |USING parquet
           |PARTITIONED BY ($partitionCol)
           |LOCATION '$path'""".stripMargin)
    }
    spark.catalog.recoverPartitions(name)
    spark.catalog.refreshTable(name)
  }
}

object ParquetUpsertSink {

  /** Archive subdirectory for retained pre-image file versions; the
    * leading underscore keeps it invisible to parquet readers of the
    * table root.
    */
  val ArchiveDirName = "_archive"

  /** The table-schema file's name ([[TableSchema]] owns the file). */
  val SchemaFileName: String = TableSchema.FileName

  /** Suffix of in-progress (non-atomic) archive copies; never listed
    * as commits, swept as garbage by the next archiving pass.
    */
  val ArchiveTmpSuffix = "._tmp"

  /** Parse the persisted/option form of write-time expectations:
    * `"name: <sql expr>; name2: <sql expr>"` — rule names then a SQL
    * boolean expression, `;`-separated (so a catalog table can carry
    * its CHECK constraints in `_table.properties`).
    */
  def parseExpectations(spec: String): Seq[(String, org.apache.spark.sql.Column)] =
    spec.split(';').map(_.trim).filter(_.nonEmpty).toSeq.map { item =>
      val i = item.indexOf(':')
      require(i > 0, s"expectation '$item' is not 'name: <sql expr>'")
      (item.take(i).trim, org.apache.spark.sql.functions.expr(item.drop(i + 1).trim))
    }

  /** Dead-letter store for write-time expectation violations; the
    * leading underscore hides it from parquet readers of the table
    * root, like the archive.
    */
  val QuarantineDirName = "_quarantine"

  /** Default expected-distinct-values sizing for the per-column parquet
    * bloom filters the sink writes on its record keys (~1.2 KB per 1000
    * keys at parquet-mr's 1% false-positive target). Override per table
    * via the `bloomNdv` property to the expected keys per FILE — an
    * undersized bloom prunes less, never wrongly.
    */
  val DefaultBloomNdv = 100000

  /** Single-writer commit fence at the table root (`_`-prefixed: plain
    * parquet readers never see it). Content: `<writerToken> <epochMs>`.
    */
  val CommitLockFileName = "_commit.lock"

  /** Prefix of a stale lock mid-break (renamed by the breaking writer;
    * deleted on success, restored on a mismatched grab, swept by
    * [[sweepStaging]] if the breaker crashed in between).
    */
  val BrokenLockPrefix = "._commit.lock.broken."

  /** A commit lock whose TIMESTAMP is older than this is treated as a
    * crashed writer's orphan and broken (the next committer takes
    * over). A live holder's heartbeat refreshes the timestamp every
    * third of this, so only a writer that actually died — or stalled
    * for three straight beats — ever looks stale, regardless of how
    * long its commit legitimately runs. Overridable via system property
    * (tests exercise the heartbeat at sub-second timeouts).
    */
  def LockTimeoutMs: Long =
    sys.props.get("graft.lock.timeout.ms").map(_.toLong)
      .getOrElse(15L * 60 * 1000)

  /** Expectation-violation policy: dead-letter the rows, merge the rest. */
  val ExpectQuarantine = "quarantine"

  /** Expectation-violation policy: abort the whole batch (Delta CHECK). */
  val ExpectFail = "fail"

  /** Copy-on-write mode: commits rewrite touched partitions. */
  val ModeCow = "cow"

  /** Merge-on-read mode: commits append delta file sets under
    * `_delta/<commit>/`; reads merge ([[ParquetUpsertSink.readMor]]),
    * compaction folds ([[ParquetUpsertSink.compactMor]]).
    */
  val ModeMor = "mor"

  /** MOR delta commits root; `_`-prefixed so plain parquet readers of
    * the table root see only the base (the Hudi read-optimized view).
    */
  val DeltaDirName = "_delta"

  /** Live data files of a partitioned table — THE one-glob discovery
    * (pattern: path, partition dir wildcard, `part-` prefix, length >
    * 0) shared by the upsert merge, the delete match scan, and
    * `graft.system.detail`; partition values are Hive-escaped on disk,
    * so the pattern is literal-safe.
    */
  def liveDataFileStatuses(fs: org.apache.hadoop.fs.FileSystem, path: String,
      partitionCol: String): Array[org.apache.hadoop.fs.FileStatus] =
    fs.globStatus(new Path(s"$path/$partitionCol=*/part-*")).filter(_.getLen > 0)

  /** Live MOR delta commits of a table, oldest first (empty for COW
    * tables and fully-compacted MOR tables).
    */
  def listDeltaCommits(spark: org.apache.spark.sql.SparkSession,
      path: String): Seq[String] = {
    val root = new Path(s"$path/$DeltaDirName")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).map(_.getPath.getName)
      .filterNot(_.contains(ArchiveTmpSuffix)).sorted.toSeq
  }

  /** Marker file inside a commit dir, written once the commit's live
    * mutation has fully applied — the streaming read path advances its
    * offset only over marked commits ([[UpsertMicroBatchStream]]).
    */
  val CommitCompleteMarker = "_commit.complete"

  /** Per-commit manifest file listing ALL partitions the commit
    * touched (escaped dir-name form, one per line) — including
    * creations, which leave no pre-image dir. The leading underscore
    * hides it from parquet readers of a commit dir.
    */
  val TouchedManifest = "_touched.manifest"

  /** Per-commit operation-kind marker (`_operation`): which mutation
    * made the commit — upsert, delete, replace, overwrite, restore,
    * compact. Absent on pre-marker commits (history reports null).
    */
  val OperationMarker = "_operation"

  /** Retention depth for a maintenance/DML commit on an EXISTING table:
    * the persisted `keepVersions` table property when one exists — the
    * user's explicit setting wins, including a DELIBERATELY LOWERED one
    * (5 → 2 must start expiring, not be silently overridden by the
    * still-deep archive until old commits are manually removed). Only
    * when no property was ever persisted is the depth inferred from the
    * observed archive as (size + 1): a table whose writers archived
    * pre-images must keep archiving through SQL UPDATE/DELETE/MERGE
    * even when the writers passed `keepVersions` per-write and never
    * persisted it (steady state holds keepVersions-1 commits, so
    * archiveSize+1 recovers the writers' setting exactly). A table with
    * no archive and no property stays at 1 (live-only), matching its
    * writers' intent.
    */
  def effectiveKeepVersions(spark: org.apache.spark.sql.SparkSession,
      path: String, fromProps: Option[Int]): Int =
    fromProps.getOrElse(
      listArchivedCommits(spark, path) match {
        case cs if cs.nonEmpty => cs.size + 1
        case _ => 1
      })

  /** Retained pre-image commits under `<path>/_archive`, oldest first.
    * Each holds the touched partitions' file sets as they were BEFORE
    * that commit's overwrite; read one with
    * `spark.read.parquet(s"$path/_archive/$commit")`.
    */
  def listArchivedCommits(spark: org.apache.spark.sql.SparkSession, path: String): Seq[String] = {
    val root = new Path(s"$path/$ArchiveDirName")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).map(_.getPath.getName)
      .filterNot(_.endsWith(ArchiveTmpSuffix)).sorted.toSeq
  }

  /** Retained commits whose live mutation has fully applied (the
    * `_commit.complete` marker landed) — the only commits the streaming
    * read path may use as offsets: an unmarked commit's overwrite may
    * still be in flight, and planning live files against it would race
    * the rewrite. One marker-existence probe per retained commit
    * (bounded by keepVersions).
    */
  def listCompletedCommits(spark: org.apache.spark.sql.SparkSession,
      path: String): Seq[String] = {
    val root = new Path(s"$path/$ArchiveDirName")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    listArchivedCommits(spark, path)
      .filter(c => fs.exists(new Path(new Path(root, c), CommitCompleteMarker)))
  }

  /** The newest commit the change stream may advance to: the last of
    * the completed PREFIX of the retained commits. Stopping at the
    * first incomplete commit (not merely filtering it out) matters
    * under concurrent writers: writer A can archive a smaller commit
    * id and complete it AFTER writer B's larger id completes — if the
    * stream's offset had already passed A's id, A's changes would be
    * skipped forever (ranges filter `c > since`). The cost of the
    * prefix rule is that a crashed writer's orphaned incomplete commit
    * stalls the stream until `expire_commits` removes it — loud and
    * recoverable, where the skip is silent data loss.
    */
  def streamHighWatermark(spark: org.apache.spark.sql.SparkSession,
      path: String): Option[String] = {
    val root = new Path(s"$path/$ArchiveDirName")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    listArchivedCommits(spark, path)
      .takeWhile(c => fs.exists(new Path(new Path(root, c), CommitCompleteMarker)))
      .lastOption
  }

  /** Delete staging dirs orphaned by crashed runs (`<path>__staging_*`)
    * and crashed partial archive copies (`_archive/<commit>.*._tmp`).
    * Call while NO writer is active on `path` — typically right before
    * (re)starting the streaming query; a live writer's in-flight
    * staging/tmp dir is indistinguishable from an orphan.
    */
  def sweepStaging(spark: org.apache.spark.sql.SparkSession, path: String): Int = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parent = p.getParent
    if (parent == null || !fs.exists(parent)) return 0
    val prefix = s"${p.getName}__staging_"
    val orphans = fs.listStatus(parent).filter(_.getPath.getName.startsWith(prefix))
    orphans.foreach(st => fs.delete(st.getPath, true))
    val archive = new Path(s"$path/$ArchiveDirName")
    val partials =
      if (fs.exists(archive))
        fs.listStatus(archive).filter(_.getPath.getName.endsWith(ArchiveTmpSuffix))
      else Array.empty[org.apache.hadoop.fs.FileStatus]
    partials.foreach(st => fs.delete(st.getPath, true))
    // DSv2 write staging (UpsertTableWrite / UpsertReplaceGroupsWrite):
    // task files stage under <path>/.staging-write-<uuid>/ and a crash
    // before the driver commit strands them — same no-active-writer
    // caveat as the rest of this sweep
    val dsv2 =
      if (fs.exists(p))
        fs.listStatus(p).filter(st =>
          st.isDirectory && st.getPath.getName.startsWith(".staging-write-"))
      else Array.empty[org.apache.hadoop.fs.FileStatus]
    dsv2.foreach(st => fs.delete(st.getPath, true))
    // a breaker that crashed between renaming a stale lock and deleting
    // the renamed file strands a BrokenLockPrefix file at the root
    val brokenLocks =
      if (fs.exists(p))
        fs.listStatus(p).filter(st => {
          val n = st.getPath.getName
          // a heartbeat that crashed mid-refresh strands inert
          // `._commit.lock.hb.*` claim/fresh files next to the lock —
          // but YOUNG hb files are a LIVE beat's in-flight CAS state
          // (claim/fresh mid-rename), not orphans: deleting one would
          // break a healthy writer's refresh. Age-gate them by the
          // lock timeout, like a lock break.
          n.startsWith(BrokenLockPrefix) ||
            (n.startsWith("._commit.lock.hb.") &&
              System.currentTimeMillis() - st.getModificationTime >
                ParquetUpsertSink.LockTimeoutMs)
        })
      else Array.empty[org.apache.hadoop.fs.FileStatus]
    brokenLocks.foreach(st => fs.delete(st.getPath, false))
    orphans.length + partials.length + dsv2.length + brokenLocks.length
  }
}
