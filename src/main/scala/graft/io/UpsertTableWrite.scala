package graft.io

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.{InternalRow, ProjectingInternalRow}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.execution.datasources.OutputWriter
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types._
import org.apache.spark.util.SerializableConfiguration

/** DataSource V2 WRITE path for upsert tables — the standard
  * `df.write.format("graft-upsert").mode("append")` API routed through
  * the table format's merge semantics:
  *
  * {{{
  *   df.write.format("graft-upsert")
  *     .option("recordKeys", "id")          // comma-separated key cols
  *     .option("precombine", "seq")
  *     .option("partitionCol", "dept")
  *     .mode("append").save(tablePath)
  * }}}
  *
  * "Append" here means UPSERT — the only write this table format
  * defines: executors stage the batch as plain parquet task files
  * under `<path>/.staging-write-<uuid>/` (each task commits its own
  * file; an aborted task deletes it), and the driver-side
  * `BatchWrite.commit` runs the staged batch through
  * [[ParquetUpsertSink.upsert]] — record-key merge, precombine-latest,
  * touched-partition dynamic overwrite, tombstones, schema metadata,
  * the lot. A crash BEFORE commit leaves only an invisible staging dir
  * ([[ParquetUpsertSink.sweepStaging]]'s reclaim territory); the merge
  * itself keeps the sink's own replay/idempotence story.
  *
  * This is the standard integration shape for merge-on-commit table
  * formats (stage task outputs, finalize in one driver-side commit).
  * The streaming flavor ([[UpsertStreamingWrite]]) makes
  * `df.writeStream.format("graft-upsert")` work directly — one staged
  * upsert per epoch, replacing the sink's hand-rolled `foreachBatch`
  * entry with the engine-managed one.
  */
final class UpsertWriteBuilder(path: String, info: LogicalWriteInfo)
  extends WriteBuilder
  with org.apache.spark.sql.connector.write.SupportsOverwrite
  with org.apache.spark.sql.connector.write.SupportsDynamicOverwrite {

  // None = append-as-upsert (the default); Some(filters) = INSERT
  // OVERWRITE by partition predicates (AlwaysTrue = truncate-and-load);
  // dynamic = replace exactly the partitions present in the batch
  private var overwriteFilters: Option[Array[org.apache.spark.sql.sources.Filter]] = None
  private var overwriteDynamic: Boolean = false

  /** `INSERT OVERWRITE` / `df.write.mode("overwrite")`: static
    * overwrite of the partitions matching the delete predicates.
    * Partition-column predicates only — a residual predicate would
    * make this a row-level rewrite, which is what UPDATE/MERGE are
    * for; failing loudly beats silently dropping unmatched rows.
    */
  override def overwrite(
      filters: Array[org.apache.spark.sql.sources.Filter]): WriteBuilder = {
    val pc = GraftUpsertCatalog.tableProps(path).get("partitionCol")
      .orElse(UpsertTableSource.partitionColOf(path))
    // accept ONLY the shapes matchesPartition evaluates EXACTLY: its
    // unknown-shape fallback is keep=true (correct for scans, where
    // keeping reads more), but overwrite DELETES what matches — an
    // Or/Not/range predicate falling through to "true" would replace
    // every live partition (silent data loss)
    import org.apache.spark.sql.sources._
    def onPartition(a: String) = pc.exists(a.equalsIgnoreCase)
    val supported = filters.forall {
      case AlwaysTrue() => true
      case EqualTo(a, _) => onPartition(a)
      case EqualNullSafe(a, _) => onPartition(a)
      case In(a, _) => onPartition(a)
      case IsNull(a) => onPartition(a)
      case IsNotNull(a) => onPartition(a)
      case _ => false
    }
    if (!supported) throw new UnsupportedOperationException(
      s"graft-upsert: INSERT OVERWRITE supports partition-column equality/IN/" +
        s"null predicates only (got: ${filters.mkString(", ")}); use " +
        "UPDATE/MERGE for row-level rewrites")
    overwriteFilters = Some(filters)
    this
  }

  override def overwriteDynamicPartitions(): WriteBuilder = {
    overwriteDynamic = true
    this
  }

  // write options first, then the table's persisted `_table.properties`
  // (set at catalog CREATE TABLE time) — so `INSERT INTO graft.t` and
  // option-less `df.write.format("graft-upsert")` against a
  // catalog-created table both carry their upsert config with the table
  private lazy val tableProps: Map[String, String] =
    GraftUpsertCatalog.tableProps(path)

  private def opt(k: String): Option[String] =
    Option(info.options.get(k)).filter(_.nonEmpty)
      .orElse(tableProps.get(k).filter(_.nonEmpty))

  private def req(k: String): String =
    opt(k).getOrElse(throw new IllegalArgumentException(
      s"graft-upsert write requires option '$k' " +
        "(recordKeys, precombine, partitionCol) — per-write or persisted " +
        s"in ${GraftUpsertCatalog.TablePropsFileName}"))

  private def mkSink(): ParquetUpsertSink =
    ParquetUpsertSink(path,
      req("recordKeys").split(',').map(_.trim).toSeq,
      req("precombine"), req("partitionCol"),
      filesPerPartition = opt("filesPerPartition").map(_.toInt).getOrElse(1),
      deleteCol = opt("deleteCol"),
      keepVersions = opt("keepVersions").map(_.toInt).getOrElse(1),
      compactEvery = opt("compactEvery").map(_.toInt).getOrElse(0),
      expectations = opt("expectations")
        .map(ParquetUpsertSink.parseExpectations).getOrElse(Seq.empty),
      expectationsMode = opt("expectationsMode")
        .getOrElse(ParquetUpsertSink.ExpectQuarantine),
      writeMode = opt("writeMode").getOrElse(ParquetUpsertSink.ModeCow))

  override def build(): Write = new Write {
    // inline compaction is a streaming-cadence feature (every Nth
    // micro-batch); a one-shot batch write has no batch sequence to
    // count, so compactEvery is inert here — `CALL graft.system.compact`
    // is the batch-path equivalent
    override def toBatch: BatchWrite =
      if (overwriteDynamic || overwriteFilters.isDefined)
        new UpsertOverwriteBatchWrite(path, info.schema(),
          mkSink().copy(compactEvery = 0),
          overwriteFilters.getOrElse(Array.empty), overwriteDynamic)
      else new UpsertBatchWrite(path, info.schema(), mkSink().copy(compactEvery = 0))
    override def toStreaming: StreamingWrite =
      new UpsertStreamingWrite(path, info.schema(), mkSink(),
        // Complete output mode truncates per epoch: each commit
        // replaces the whole table state with the epoch's rows
        truncatePerEpoch = overwriteDynamic ||
          overwriteFilters.exists(_.exists(
            _.isInstanceOf[org.apache.spark.sql.sources.AlwaysTrue])))
  }
}

/** `INSERT OVERWRITE` commit: ONE `replaceGroups` commit replacing
  * (a) static mode — every live partition matching the overwrite
  * predicates, plus the batch's own partitions; (b) dynamic mode —
  * exactly the batch's partitions. Pre-images archive under
  * keepVersions exactly like any other commit, so time travel spans
  * overwrites.
  */
final class UpsertOverwriteBatchWrite(path: String, schema: StructType,
    sink: ParquetUpsertSink,
    filters: Array[org.apache.spark.sql.sources.Filter],
    dynamic: Boolean) extends BatchWrite {

  private val stagingDir =
    s"$path/.staging-write-${java.util.UUID.randomUUID().toString.take(8)}"

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new UpsertDataWriterFactory(stagingDir, schema)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    // an empty staged batch must still clear the matched partitions —
    // `INSERT OVERWRITE t SELECT ... WHERE false` truncates
    val df = UpsertTableWrite.readStaged(schema, messages).getOrElse(
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema))
    val batchId = UpsertTableWrite.nextBatchId()
    // the sink's overwrite entries screen expectations and list live
    // partitions INSIDE the commit lock — see overwriteWhere
    if (dynamic) sink.overwriteDynamic(spark, df, batchId)
    else sink.overwriteWhere(spark,
      v => UpsertTableSource.matchesPartition(filters.iterator, v), df,
      batchId, enforceRowsMatch = filters.nonEmpty &&
        !filters.forall(_.isInstanceOf[org.apache.spark.sql.sources.AlwaysTrue]))
    UpsertTableWrite.drop(stagingDir)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    UpsertTableWrite.drop(stagingDir)
}

final class UpsertBatchWrite(path: String, schema: StructType,
    sink: ParquetUpsertSink) extends BatchWrite {

  private val stagingDir =
    s"$path/.staging-write-${java.util.UUID.randomUUID().toString.take(8)}"

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new UpsertDataWriterFactory(stagingDir, schema)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    // batch writes have no epoch sequence; a monotone per-JVM id keeps
    // quarantine `_batch_id` values (and their per-batch dirs) distinct
    // across successive one-shot writes instead of all colliding on 0
    UpsertTableWrite.mergeStaged(schema, sink, messages,
      batchId = UpsertTableWrite.nextBatchId())
    UpsertTableWrite.drop(stagingDir)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    UpsertTableWrite.drop(stagingDir)
}

/** Streaming flavor: one staging dir per epoch; each epoch's commit is
  * one sink upsert with the epoch id as the batch id — the same
  * at-least-once replay contract as the sink's `foreachBatch` entry
  * (a replayed epoch re-merges idempotently through precombine).
  */
final class UpsertStreamingWrite(path: String, schema: StructType,
    sink: ParquetUpsertSink,
    // Complete output mode: each epoch REPLACES the whole table state
    // (one replaceGroups commit over live ∪ epoch partitions) instead
    // of merging into it
    truncatePerEpoch: Boolean = false) extends StreamingWrite {

  private val stagingBase =
    s"$path/.staging-write-${java.util.UUID.randomUUID().toString.take(8)}"

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory =
    new UpsertStreamingDataWriterFactory(stagingBase, schema)

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    if (truncatePerEpoch) {
      val spark = SparkSession.active
      val df = UpsertTableWrite.readStaged(schema, messages).getOrElse(
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema))
      sink.overwriteWhere(spark, _ => true, df, batchId = epochId)
    } else UpsertTableWrite.mergeStaged(schema, sink, messages, batchId = epochId)
    UpsertTableWrite.drop(s"$stagingBase/e$epochId")
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    UpsertTableWrite.drop(s"$stagingBase/e$epochId")
}

final case class UpsertWriteCommit(file: String) extends WriterCommitMessage

/** Spark's parquet writer prepared on the driver for one write schema:
  * the serializable factory `ParquetFileFormat.prepareWrite` returns,
  * plus the job conf it configured (write support, parquet schema,
  * codec), shipped to the tasks. Preparing it checks the schema against
  * the format's type rule ([[UpsertColumnar.requireSupported]]).
  */
final class UpsertParquetOutput(val schema: StructType) extends Serializable {
  UpsertColumnar.requireSupported(schema)

  @transient private val job =
    Job.getInstance(SparkSession.active.sessionState.newHadoopConf())
  private val writers =
    new ParquetFileFormat().prepareWrite(SparkSession.active, job, Map.empty, schema)
  val conf = new SerializableConfiguration(job.getConfiguration)

  /** Executor side: a writer of one task file. */
  def open(file: String): OutputWriter =
    writers.newInstance(file, schema, new TaskAttemptContextImpl(conf.value,
      new TaskAttemptID(new TaskID(new JobID("graft-upsert", 0), TaskType.MAP, 0), 0)))
}

final class UpsertDataWriterFactory(stagingDir: String, schema: StructType,
    // true for ReplaceData (row-level operation) writes: Spark 4.x
    // prepends RowDeltaUtils.OPERATION_COLUMN (an int tag) to each row
    // of a group-based rewrite, and only strips it for connectors that
    // declare metadata attributes — writers here are positional, so the
    // leading tag must be skipped explicitly
    dropOperationColumn: Boolean = false)
  extends DataWriterFactory {
  private val out = new UpsertParquetOutput(schema)
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new UpsertDataWriter(s"$stagingDir/task-$partitionId-$taskId.parquet", out,
      dropOperationColumn)
}

final class UpsertStreamingDataWriterFactory(stagingBase: String,
    schema: StructType) extends StreamingDataWriterFactory {
  private val out = new UpsertParquetOutput(schema)
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    new UpsertDataWriter(
      s"$stagingBase/e$epochId/task-$partitionId-$taskId.parquet", out)
}

/** Executor-side task writer: Spark internal rows through Spark's own
  * parquet writer, the codec the scan reads back with. One file per
  * task, removed on abort. `dropOperationColumn` skips the leading
  * ReplaceData operation tag.
  */
final class UpsertDataWriter(file: String, out: UpsertParquetOutput,
    dropOperationColumn: Boolean = false) extends DataWriter[InternalRow] {

  private val schema = out.schema
  private val writer = out.open(file)
  private val dataRow = ProjectingInternalRow(schema, 1 to schema.length)

  override def write(row: InternalRow): Unit =
    if (!dropOperationColumn) writer.write(row)
    else {
      if (row.numFields != schema.length + 1)
        throw new IllegalStateException(
          s"graft-upsert ReplaceData row has ${row.numFields} fields, expected " +
            s"${schema.length + 1} (operation tag + data) — Spark's " +
            "row-level write layout changed; adjust UpsertDataWriterFactory")
      dataRow.project(row)
      writer.write(dataRow)
    }

  override def commit(): WriterCommitMessage = {
    writer.close()
    UpsertWriteCommit(file)
  }

  override def abort(): Unit = {
    writer.close()
    val p = new Path(file)
    p.getFileSystem(out.conf.value).delete(p, false)
  }

  override def close(): Unit = ()
}

object UpsertTableWrite {

  // monotone batch ids for one-shot DSv2 batch writes: epoch-millis
  // seeded so ids also order ACROSS driver restarts, incremented so two
  // commits in one millisecond stay distinct
  private val batchIdCounter =
    new java.util.concurrent.atomic.AtomicLong(System.currentTimeMillis())

  private[io] def nextBatchId(): Long = batchIdCounter.getAndIncrement()

  /** The staged task files of a commit as one frame (None = no tasks
    * produced data). The single definition of how a driver-side commit
    * reads its staging — shared by upsert commits and the row-level
    * ReplaceData commit.
    */
  private[io] def readStaged(schema: StructType,
      messages: Array[WriterCommitMessage]): Option[org.apache.spark.sql.DataFrame] = {
    val files = messages.collect { case UpsertWriteCommit(f) if f != null => f }
    if (files.isEmpty) None
    else Some(SparkSession.active.read.schema(schema)
      .parquet(files.toIndexedSeq: _*))
  }

  /** Driver-side commit: read the staged task files, run them through
    * the sink's upsert merge. Shared by the batch and streaming writes.
    */
  private[io] def mergeStaged(schema: StructType, sink: ParquetUpsertSink,
      messages: Array[WriterCommitMessage], batchId: Long): Unit =
    readStaged(schema, messages).foreach(sink.upsert(_, batchId))

  private[io] def drop(dir: String): Unit = {
    val fs = new Path(dir)
      .getFileSystem(SparkSession.active.sparkContext.hadoopConfiguration)
    fs.delete(new Path(dir), true)
  }
}
