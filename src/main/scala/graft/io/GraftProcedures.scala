package graft.io

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** SQL stored procedures for upsert-table maintenance — the table
  * services as `CALL` statements (the Iceberg `CALL catalog.system.*`
  * surface, on Spark 4.x's DSv2 procedure API):
  *
  * {{{
  *   CALL graft.system.compact('/data/t')
  *   CALL graft.system.optimize_zorder('/data/t', 'user_id', 'amount')
  *   CALL graft.system.expire_commits('/data/t', 3)
  *   CALL graft.system.sweep_staging('/data/t')
  * }}}
  *
  * Each returns its effect as rows (rewritten partitions, removed
  * commits, reclaimed dir count), so maintenance jobs are auditable
  * from plain SQL. All driver-side work here is metadata-scale; the
  * data I/O is the service's own (compaction/Z-order rewrite read the
  * affected partitions once, exactly like an upsert touch).
  */
object GraftProcedures {

  private def spark = SparkSession.active

  private[io] def sinkFor(path: String): ParquetUpsertSink = {
    val pc = UpsertTableSource.partitionColOf(path).getOrElse(
      throw new IllegalArgumentException(
        s"graft.system: no partitioned graft-upsert table at $path"))
    // persisted table config (written at CREATE time or by the first
    // sink commit): real record keys/precombine let maintenance run
    // MERGE semantics (MOR fold); tables without it still support the
    // key-free services (file compaction, Z-order, retention)
    val props = GraftUpsertCatalog.tableProps(path)
    ParquetUpsertSink(path,
      props.get("recordKeys").map(_.split(',').map(_.trim).toSeq)
        .getOrElse(Seq("_unused")),
      props.getOrElse("precombine", "_unused"), pc,
      filesPerPartition = props.get("filesPerPartition").map(_.toInt).getOrElse(1),
      deleteCol = props.get("deleteCol"),
      // archive-derived fallback, like SQL DML: maintenance commits on
      // a table with retained pre-images must keep archiving
      keepVersions = ParquetUpsertSink.effectiveKeepVersions(spark, path,
        props.get("keepVersions").map(_.toInt)),
      writeMode = props.getOrElse("writeMode", ParquetUpsertSink.ModeCow))
  }

  private def str(v: String): AnyRef = UTF8String.fromString(v)

  val names: Seq[String] =
    Seq("compact", "optimize_zorder", "optimize_sort", "expire_commits",
      "sweep_staging", "history", "detail", "files", "partitions", "restore",
      "collect_stats", "maintain_ivf", "maintain_pq")

  def load(name: String): UnboundProcedure = name match {
    case "compact" => proc("compact",
      Seq("table" -> StringType),
      StructType(Seq(StructField("compacted_partition", StringType))),
      "fold MOR delta commits into the base, then coalesce over-filed partitions") { in =>
      val path = in.getUTF8String(0).toString
      val sink = sinkFor(path)
      // MOR fold first (needs the persisted record keys — fail loudly
      // rather than fold with wrong merge semantics), then the file
      // count compaction every table supports
      val folded =
        if (ParquetUpsertSink.listDeltaCommits(spark, path).nonEmpty) {
          require(GraftUpsertCatalog.tableProps(path).contains("recordKeys"),
            s"graft.system.compact: $path has MOR delta commits but no persisted " +
              "recordKeys/precombine in _table.properties — cannot merge")
          sink.compactMor(spark).map(c => s"delta:$c")
        } else Seq.empty
      (folded ++ sink.compactPartitions(spark))
        .map(p => new GenericInternalRow(Array[Any](str(p))))
    }
    case "maintain_ivf" => proc("maintain_ivf",
      Seq("index" -> StringType, "new_index" -> StringType,
        "threshold" -> DoubleType),
      StructType(Seq(
        StructField("triggered", BooleanType),
        StructField("max_displacement", DoubleType),
        StructField("new_index", StringType))),
      "IVF drift maintenance: measure per-cell centroid displacement of the " +
        "index against its codebook (<index>_centroids); above threshold, " +
        "retrain one Lloyd round and rewrite every assignment into new_index " +
        "with its codebook — readers swap index versions atomically") { in =>
      val path = in.getUTF8String(0).toString
      val newPath = in.getUTF8String(1).toString
      val threshold = in.getDouble(2)
      require(threshold >= 0.0, s"threshold must be >= 0, got $threshold")
      // the retrain is a version SWAP, never in-place: it lazily
      // re-scans the live index while COW-writing new_index, so
      // new_index == index would rewrite the directory mid-scan — and
      // a previously-populated new_index is just as corrupting (the
      // retrained rows carry seq=0 and LOSE to any existing higher-seq
      // rows under the precombine, pairing the fresh codebook with
      // stale assignments). Refuse both loudly.
      require(newPath != path,
        s"graft.system.maintain_ivf: new_index must differ from index ($path)")
      require(UpsertTableSource.partitionColOf(newPath).isEmpty,
        s"graft.system.maintain_ivf: new_index $newPath already holds an " +
          "index table — retrain writes a FRESH version; point new_index " +
          "at an empty path and swap readers after the call")
      // fused trigger + retrain (r21): the trigger's per-cell means are
      // reused as the retrained codebook instead of re-aggregating the
      // whole index a second time
      val (fired, disp) = graft.ext.IvfDrift.maintain(spark, path, newPath, threshold)
      if (fired)
        Seq(new GenericInternalRow(Array[Any](true, disp, str(newPath))))
      else
        // below trigger: no retrain, no new table — report and leave
        // the live index untouched
        Seq(new GenericInternalRow(Array[Any](false, disp, null)))
    }
    case "maintain_pq" => proc("maintain_pq",
      Seq("index" -> StringType, "vectors" -> StringType,
        "new_index" -> StringType, "threshold" -> DoubleType),
      StructType(Seq(
        StructField("triggered", BooleanType),
        StructField("max_displacement", DoubleType),
        StructField("new_index", StringType))),
      "PQ codebook drift maintenance: measure per-(subspace, code) residual " +
        "displacement of the current vectors against the index's codebook " +
        "(<index>_pq_codebook); above threshold, re-fit the codebooks from " +
        "the stored assignment, re-encode every vector, and write the code " +
        "table into new_index with its codebook — readers swap " +
        "(codes, codebook) versions atomically") { in =>
      val path = in.getUTF8String(0).toString
      val vecPath = in.getUTF8String(1).toString
      val newPath = in.getUTF8String(2).toString
      val threshold = in.getDouble(3)
      require(threshold >= 0.0, s"threshold must be >= 0, got $threshold")
      // version SWAP, never in-place (the maintain_ivf rationale): the
      // retrain lazily re-reads the live code table while COW-writing
      // new_index, and a previously-populated new_index would pair the
      // fresh codebook with stale higher-seq codes under the precombine
      require(newPath != path,
        s"graft.system.maintain_pq: new_index must differ from index ($path)")
      require(UpsertTableSource.partitionColOf(newPath).isEmpty,
        s"graft.system.maintain_pq: new_index $newPath already holds a " +
          "code table — retrain writes a FRESH version; point new_index " +
          "at an empty path and swap readers after the call")
      // fused trigger + retrain (r21): the trigger's per-(sub, code)
      // means are reused as the retrained codebook instead of re-running
      // the corpus-scale (subvectors ⋈ codes) aggregation a second time
      val (fired, disp) =
        graft.ext.PqDrift.maintain(spark, path, vecPath, newPath, threshold)
      if (fired)
        Seq(new GenericInternalRow(Array[Any](true, disp, str(newPath))))
      else
        Seq(new GenericInternalRow(Array[Any](false, disp, null)))
    }
    case "optimize_zorder" => proc("optimize_zorder",
      Seq("table" -> StringType, "x_col" -> StringType, "y_col" -> StringType),
      StructType(Seq(StructField("rewritten_partition", StringType))),
      "rewrite partitions in Z-order of two filter columns (row-group skipping)") { in =>
      sinkFor(in.getUTF8String(0).toString)
        .optimizeZorder(spark,
          col(in.getUTF8String(1).toString), col(in.getUTF8String(2).toString))
        .map(p => new GenericInternalRow(Array[Any](str(p))))
    }
    case "optimize_sort" => proc("optimize_sort",
      Seq("table" -> StringType, "cols" -> StringType),
      StructType(Seq(StructField("rewritten_partition", StringType))),
      "rewrite partitions linearly clustered on the given columns " +
        "(comma-separated; sharpest row-group skipping for one access path)") { in =>
      val cols = in.getUTF8String(1).toString
        .split(",").map(_.trim).filter(_.nonEmpty)
      require(cols.nonEmpty, "optimize_sort: no sort columns given")
      sinkFor(in.getUTF8String(0).toString)
        .optimizeSort(spark, cols.toSeq.map(col))
        .map(p => new GenericInternalRow(Array[Any](str(p))))
    }
    case "expire_commits" => proc("expire_commits",
      Seq("table" -> StringType, "retain_last" -> IntegerType),
      StructType(Seq(StructField("removed_commit", StringType))),
      "prune the pre-image archive to the newest N commits") { in =>
      val path = in.getUTF8String(0).toString
      val retain = in.getInt(1)
      require(retain >= 0, s"retain_last must be >= 0, got $retain")
      val commits = ParquetUpsertSink.listArchivedCommits(spark, path)
      val removed = commits.dropRight(retain)
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      removed.foreach(c => fs.delete(
        new org.apache.hadoop.fs.Path(s"$path/${ParquetUpsertSink.ArchiveDirName}/$c"), true))
      removed.map(c => new GenericInternalRow(Array[Any](str(c))))
    }
    case "sweep_staging" => proc("sweep_staging",
      Seq("table" -> StringType),
      StructType(Seq(StructField("reclaimed", IntegerType))),
      "delete staging dirs and partial archive copies orphaned by crashed runs") { in =>
      val n = ParquetUpsertSink.sweepStaging(spark, in.getUTF8String(0).toString)
      Seq(new GenericInternalRow(Array[Any](n)))
    }
    case "history" => proc("history",
      Seq("table" -> StringType),
      StructType(Seq(
        StructField("commit", StringType),
        StructField("operation", StringType),
        StructField("touched_partitions", IntegerType),
        StructField("completed", BooleanType))),
      "retained commits, oldest first, with the mutation kind that made " +
        "each (DESCRIBE HISTORY analog)") { in =>
      val path = in.getUTF8String(0).toString
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val completed = ParquetUpsertSink.listCompletedCommits(spark, path).toSet
      ParquetUpsertSink.listArchivedCommits(spark, path).map { c =>
        val commitDir =
          s"$path/${ParquetUpsertSink.ArchiveDirName}/$c"
        val mf = new org.apache.hadoop.fs.Path(
          s"$commitDir/${ParquetUpsertSink.TouchedManifest}")
        val touched =
          if (!fs.exists(mf)) -1
          else {
            val inS = fs.open(mf)
            try scala.io.Source.fromInputStream(inS, "UTF-8").getLines()
              .count(_.nonEmpty)
            finally inS.close()
          }
        val opPath = new org.apache.hadoop.fs.Path(
          s"$commitDir/${ParquetUpsertSink.OperationMarker}")
        val op: AnyRef = // null on pre-marker commits, never a guess
          if (!fs.exists(opPath)) null
          else {
            val inS = fs.open(opPath)
            try str(scala.io.Source.fromInputStream(inS, "UTF-8").mkString.trim)
            finally inS.close()
          }
        new GenericInternalRow(Array[Any](str(c), op, touched,
          completed.contains(c)))
      }
    }
    case "detail" => proc("detail",
      Seq("table" -> StringType),
      StructType(Seq(
        StructField("partition_col", StringType),
        StructField("write_mode", StringType),
        StructField("partitions", IntegerType),
        StructField("data_files", IntegerType),
        StructField("data_bytes", LongType),
        StructField("retained_commits", IntegerType),
        StructField("live_delta_commits", IntegerType),
        StructField("quarantined", BooleanType))),
      "table layout + timeline summary (DESCRIBE DETAIL analog; metadata-only)") { in =>
      val path = in.getUTF8String(0).toString
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val pc = UpsertTableSource.partitionColOf(path).getOrElse(
        throw new IllegalArgumentException(
          s"graft.system: no partitioned graft-upsert table at $path"))
      // the sink's own live-file definition — detail must count exactly
      // what the merge/delete paths see
      val dataFiles = ParquetUpsertSink.liveDataFileStatuses(fs, path, pc)
      val props = GraftUpsertCatalog.tableProps(path)
      Seq(new GenericInternalRow(Array[Any](
        str(pc),
        str(props.getOrElse("writeMode", ParquetUpsertSink.ModeCow)),
        dataFiles.map(_.getPath.getParent.getName).distinct.length,
        dataFiles.length,
        dataFiles.map(_.getLen).sum,
        ParquetUpsertSink.listArchivedCommits(spark, path).size,
        ParquetUpsertSink.listDeltaCommits(spark, path).size,
        fs.exists(new org.apache.hadoop.fs.Path(
          s"$path/${ParquetUpsertSink.QuarantineDirName}")))))
    }
    case "files" => proc("files",
      Seq("table" -> StringType),
      StructType(Seq(
        StructField("partition", StringType),
        StructField("file", StringType),
        StructField("size_bytes", LongType),
        StructField("row_count", LongType))),
      "one row per live data file with footer row count " +
        "(Iceberg metadata-table analog; one cached footer read per file)") { in =>
      val path = in.getUTF8String(0).toString
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val pc = UpsertTableSource.partitionColOf(path).getOrElse(
        throw new IllegalArgumentException(
          s"graft.system: no partitioned graft-upsert table at $path"))
      val files = ParquetUpsertSink.liveDataFileStatuses(fs, path, pc)
      val stats = UpsertDataSkipping.fileStatsAll(fs, files.map(_.getPath),
        TableSchema.of(path), fs.getConf)
      files.sortBy(_.getPath.toString).map { f =>
        val rows: Any = stats.get(f.getPath.toString)
          .flatMap(_.rowCount).map(Long.box).orNull
        new GenericInternalRow(Array[Any](
          str(UpsertTableSource.dirValue(
            f.getPath.getParent.getName.stripPrefix(s"$pc="))),
          str(f.getPath.toString), f.getLen, rows))
      }
    }
    case "partitions" => proc("partitions",
      Seq("table" -> StringType),
      StructType(Seq(
        StructField("partition", StringType),
        StructField("data_files", IntegerType),
        StructField("size_bytes", LongType),
        StructField("row_count", LongType))),
      "one row per live partition: file count, bytes, footer row sum") { in =>
      val path = in.getUTF8String(0).toString
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val pc = UpsertTableSource.partitionColOf(path).getOrElse(
        throw new IllegalArgumentException(
          s"graft.system: no partitioned graft-upsert table at $path"))
      val files = ParquetUpsertSink.liveDataFileStatuses(fs, path, pc)
      val stats = UpsertDataSkipping.fileStatsAll(fs, files.map(_.getPath),
        TableSchema.of(path), fs.getConf)
      files.groupBy(_.getPath.getParent.getName).toSeq.sortBy(_._1)
        .map { case (dir, fsOfP) =>
          val counts = fsOfP.map(f =>
            stats.get(f.getPath.toString).flatMap(_.rowCount))
          // a single unreadable footer makes the partition's sum unknown
          val rows: Any =
            if (counts.exists(_.isEmpty)) null else Long.box(counts.flatten.sum)
          new GenericInternalRow(Array[Any](
            str(UpsertTableSource.dirValue(dir.stripPrefix(s"$pc="))),
            fsOfP.length, fsOfP.map(_.getLen).sum, rows))
        }
    }
    case "restore" => proc("restore",
      Seq("table" -> StringType, "version" -> StringType),
      StructType(Seq(StructField("restored_partition", StringType))),
      "restore the table to its state as of an archived commit — or a " +
        "timestamp (epoch millis / ISO-8601), resolved like TIMESTAMP AS " +
        "OF — as a NEW commit (Delta RESTORE analog: history preserved, " +
        "cost proportional to the partitions changed since)") { in =>
      val path = in.getUTF8String(0).toString
      val version = in.getUTF8String(1).toString
      // a retained commit id restores directly; anything else that
      // parses as a timestamp resolves to the newest commit at-or-
      // before it (restore(ts) ≡ restore to what TIMESTAMP AS OF ts
      // reads); garbage falls through to restoreTo's fail-fast
      val retained = ParquetUpsertSink.listArchivedCommits(spark, path)
      val target: Option[String] =
        if (version == "" || retained.contains(version)) Some(version)
        else scala.util.Try(UpsertTableSource.parseTimestampMillis(version))
          .toOption match {
            case Some(ms) =>
              // None = the timestamp is newer than the last write:
              // restoring to it is a no-op, not an error
              UpsertTableSource.resolveAsOfTimestamp(path, ms)
            case None => Some(version) // restoreTo's fail-fast handles it
          }
      target.map(sinkFor(path).restoreTo(spark, _)).getOrElse(Seq.empty)
        .map(p => new GenericInternalRow(
          Array[Any](str(UpsertTableSource.dirValue(p)))))
    }
    case "collect_stats" => proc("collect_stats",
      Seq("table" -> StringType),
      StructType(Seq(
        StructField("partition", StringType),
        StructField("files", IntegerType),
        StructField("rows", LongType))),
      "warm the per-directory file-statistics manifests (ANALYZE analog: " +
        "footer reads fill the gaps, the lazy write-back persists them) so " +
        "a fresh driver's planning prunes and costs with zero footer I/O") { in =>
      val path = in.getUTF8String(0).toString
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val pc = UpsertTableSource.partitionColOf(path).getOrElse(
        throw new IllegalArgumentException(
          s"graft.system: no partitioned graft-upsert table at $path"))
      val files = ParquetUpsertSink.liveDataFileStatuses(fs, path, pc)
      val aliases = ColumnAliases.parse(GraftUpsertCatalog.tableProps(path))
      // an explicit ANALYZE right after a write persists immediately:
      // entries whose mtime tick is still open flush FLAGGED
      // verifyOnRead (fingerprint-checked on later lookups, self-healed
      // once the tick closes) instead of the former settle sleep that
      // waited the window + clock-skew allowance out on every call.
      // fileStatsAll reads footers for unmanifested files and flushes
      // the repaired manifests — exactly the planning path, warmed
      val stats = UpsertDataSkipping.fileStatsAll(fs, files.map(_.getPath),
        TableSchema.of(path), fs.getConf, aliases)
      files.groupBy(_.getPath.getParent.getName).toSeq.sortBy(_._1)
        .map { case (dir, inDir) =>
          val counts = inDir.map(f =>
            stats.get(f.getPath.toString).flatMap(_.rowCount))
          val rows: Any =
            if (counts.exists(_.isEmpty)) null else Long.box(counts.flatten.sum)
          new GenericInternalRow(Array[Any](
            str(UpsertTableSource.dirValue(dir.stripPrefix(s"$pc="))),
            inDir.length, rows))
        }
    }
    case other => throw new IllegalArgumentException(
      s"graft.system: unknown procedure '$other' (have: ${names.mkString(", ")})")
  }

  /** An IN-parameter procedure whose body returns result rows as one
    * [[LocalScan]] (driver-side rows; every procedure here returns a
    * metadata-scale effect summary).
    */
  private def proc(procName: String, params: Seq[(String, DataType)],
      resultSchema: StructType, doc: String)(
      body: InternalRow => Seq[InternalRow]): UnboundProcedure =
    new UnboundProcedure {
      override def name(): String = procName
      override def description(): String = doc
      override def bind(inputType: StructType): BoundProcedure = new BoundProcedure {
        override def name(): String = procName
        override def description(): String = doc
        override def parameters(): Array[ProcedureParameter] =
          params.map { case (n, dt) => ProcedureParameter.in(n, dt).build() }.toArray
        override def isDeterministic: Boolean = false // side-effecting maintenance
        override def call(input: InternalRow): java.util.Iterator[Scan] = {
          val out = body(input).toArray
          java.util.Collections.singletonList[Scan](new LocalScan {
            override def rows(): Array[InternalRow] = out
            override def readSchema(): StructType = resultSchema
          }).iterator()
        }
      }
    }
}
