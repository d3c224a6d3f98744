package graft.io

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.hadoop.mapreduce.{JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetInputFormat}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.execution.datasources.parquet.{ParquetReadSupport, VectorizedParquetRecordReader}
import org.apache.spark.sql.execution.vectorized.ConstantColumnVector
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}
import org.apache.spark.unsafe.types.UTF8String

/** The read path of the `graft-upsert` scan, and the format's type rule.
  *
  * Every scan hands Spark [[ColumnarBatch]]es produced by Spark's own
  * `VectorizedParquetRecordReader` (a public Java class of spark-sql):
  * bulk-decoded column vectors that whole-stage codegen consumes
  * directly, exactly what `spark.read.parquet` uses. The writer side is
  * Spark's parquet writer too ([[UpsertDataWriter]]), so one codec owns
  * the row↔parquet mapping. The format-specific behaviors:
  *
  *  - **partition column**: served as a [[ConstantColumnVector]]
  *    spliced into the batch at its projected position (the value is a
  *    directory-name constant per input partition — no per-row work);
  *  - **evolution**: a file missing an evolved-in column yields a
  *    constant-null vector (Spark's reader handles clipped schemas);
  *  - **type widening**: int32→long/double and float→double files
  *    promote natively (Spark 4's widening reads);
  *  - **skipping**: the translated [[UpsertDataSkipping]] predicate
  *    rides the Hadoop conf (`ParquetInputFormat`), so whole row groups
  *    whose stats/dictionary/column index exclude it never decode;
  *    Spark re-applies the residual filter to the rows served.
  *
  * SPJ's grouped per-partition-value file sets ride the same path
  * (batches served file by file).
  */
object UpsertColumnar {

  private def atomic(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | FloatType |
         DoubleType | BooleanType | StringType | BinaryType | DateType |
         TimestampType | TimestampNTZType => true
    case _ => false
  }

  /** The table format's one type rule, for reads and writes: flat
    * atomics plus single-level arrays of atomics (embedding columns —
    * Spark's vectorized reader grew nested column vectors in 3.3,
    * SPARK-34863). Checked on the driver, on a scan's required columns
    * and on a write's schema.
    */
  def requireSupported(schema: StructType): Unit =
    schema.fields.map(_.dataType).find {
      case dt if atomic(dt) => false
      case ArrayType(et, _) if atomic(et) => false
      case _ => true
    }.foreach(dt => throw new UnsupportedOperationException(
      s"graft-upsert: column type $dt not supported by this table format"))
}

/** Sequential columnar reader over one partition value's file set
  * (SPJ mode): batches served file by file through
  * [[UpsertColumnarPartitionReader]].
  */
final class UpsertMultiFileColumnarReader(part: UpsertFilesPartition,
    required: StructType, partitionCol: Option[String],
    conf: Configuration, skipFilters: Array[Filter],
    aliases: Map[String, List[String]] = Map.empty,
    fileMetaCol: Option[String] = None)
  extends PartitionReader[ColumnarBatch] {

  private val files = part.files.iterator
  private var current: UpsertColumnarPartitionReader = _

  override def next(): Boolean = {
    while (true) {
      if (current == null) {
        if (!files.hasNext) return false
        current = new UpsertColumnarPartitionReader(
          UpsertFilePartition(files.next(), part.partValue), required,
          partitionCol, conf, skipFilters, aliases = aliases,
          fileMetaCol = fileMetaCol)
      }
      if (current.next()) return true
      current.close()
      current = null
    }
    false
  }

  override def get(): ColumnarBatch = current.get()

  override def close(): Unit = if (current != null) current.close()
}

final class UpsertColumnarPartitionReader(part: UpsertFilePartition,
    required: StructType, partitionCol: Option[String],
    baseConf: Configuration, skipFilters: Array[Filter],
    capacity: Int = 4096,
    aliases: Map[String, List[String]] = Map.empty,
    // the `_file` metadata column, when requested AND unclaimed by a
    // real data column: a per-file constant vector, never a decode
    fileMetaCol: Option[String] = None)
  extends PartitionReader[ColumnarBatch] {

  private val dataFields: Array[StructField] =
    required.fields.filter(f => !partitionCol.exists(_.equalsIgnoreCase(f.name)) &&
      !fileMetaCol.exists(_.equalsIgnoreCase(f.name)))

  private val conf = new Configuration(baseConf)
  conf.set(ParquetInputFormat.READ_SUPPORT_CLASS,
    classOf[ParquetReadSupport].getName)
  // schema-conversion switches the reader consults from the Hadoop conf
  // (normally injected by Spark's own parquet FileFormat)
  conf.setBoolean("spark.sql.caseSensitive", false)
  conf.setBoolean("spark.sql.parquet.binaryAsString", false)
  conf.setBoolean("spark.sql.parquet.int96AsTimestamp", true)
  conf.setBoolean("spark.sql.parquet.inferTimestampNTZ.enabled", true)
  // match GraftSession: TIMESTAMP(NANOS) physical columns surface as long
  conf.setBoolean("spark.sql.legacy.parquet.nanosAsLong", true)

  // One footer read serves two per-file decisions:
  //  - the REQUESTED schema: a field an archived pre-rename file
  //    stores under a historical name is requested under that name
  //    (the output maps positionally, so the current-schema batch is
  //    unchanged); fields under neither name null-fill as before
  //  - row-group/page skipping: residual predicates translated against
  //    this file's schema, restricted to columns present under their
  //    CURRENT name (alias-resolved columns skip conservatively).
  //    Advisory — Spark re-evaluates every residual above the scan.
  locally {
    val file = new Path(part.filePath)
    val fileSchema = {
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
      try r.getFooter.getFileMetaData.getSchema finally r.close()
    }
    val requested = dataFields.map { f =>
      if (fileSchema.containsField(f.name)) f
      else aliases.getOrElse(f.name.toLowerCase(java.util.Locale.ROOT), Nil)
        .find(fileSchema.containsField)
        .map(old => f.copy(name = old)).getOrElse(f)
    }
    conf.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA,
      StructType(requested).json)
    val present = dataFields.filter(f => fileSchema.containsField(f.name))
    UpsertDataSkipping.parquetPredicate(
      skipFilters.toSeq, fileSchema, StructType(present))
      .foreach(p => ParquetInputFormat.setFilterPredicate(conf, p))
  }

  private val reader = {
    // our writer emits modern (proleptic-Gregorian) files — CORRECTED
    // rebase, exactly what Spark writes and assumes for its own output
    val r = new VectorizedParquetRecordReader(
      null, "CORRECTED", "UTC", "CORRECTED", "UTC",
      /* useOffHeap = */ false, capacity)
    // a planner-issued byte-range slice carries its length; only the
    // whole-file shape (length = -1, e.g. SPJ's per-file chaining)
    // pays a stat RPC. The parquet reader serves exactly the row
    // groups whose midpoint falls inside the range.
    val (off, len) =
      if (part.length >= 0) (part.start, part.length)
      else (0L, new Path(part.filePath)
        .getFileSystem(conf).getFileStatus(new Path(part.filePath)).getLen)
    // the mapred flavor: Spark's reader base casts its mapreduce
    // InputSplit parameter down to it (mapred.FileSplit extends the
    // mapreduce.lib.input one in modern Hadoop)
    val split = new org.apache.hadoop.mapred.FileSplit(
      new Path(part.filePath), off, len, Array.empty[String])
    val ctx = new TaskAttemptContextImpl(conf,
      new TaskAttemptID(new TaskID(new JobID("graft-upsert", 0), TaskType.MAP, 0), 0))
    r.initialize(split, ctx)
    r.initBatch(new StructType(), InternalRow.empty)
    r.enableReturningBatches()
    r
  }

  private val inner: ColumnarBatch = reader.resultBatch()

  // the output batch serves `required`'s exact field order: data
  // vectors from the inner batch, the partition column as a constant
  // vector at its projected position
  private val out: ColumnarBatch = {
    var di = 0
    val vectors: Array[ColumnVector] = required.fields.map { f =>
      if (partitionCol.exists(_.equalsIgnoreCase(f.name))) {
        val v = new ConstantColumnVector(capacity, StringType)
        if (part.partValue == null) v.setNull()
        else v.setUtf8String(UTF8String.fromString(part.partValue))
        v: ColumnVector
      } else if (fileMetaCol.exists(_.equalsIgnoreCase(f.name))) {
        val v = new ConstantColumnVector(capacity, StringType)
        v.setUtf8String(UTF8String.fromString(part.filePath))
        v: ColumnVector
      } else {
        val c = inner.column(di); di += 1; c
      }
    }
    new ColumnarBatch(vectors)
  }

  override def next(): Boolean = {
    val has = reader.nextKeyValue()
    if (has) out.setNumRows(inner.numRows())
    has
  }

  override def get(): ColumnarBatch = out

  override def close(): Unit = reader.close()
}
