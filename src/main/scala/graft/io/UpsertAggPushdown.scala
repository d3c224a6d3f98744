package graft.io

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Pushed-down aggregate shapes the upsert table can answer from
  * file STATISTICS — `COUNT(*)` from row counts, `COUNT(col)` from
  * rows minus null counts, `MIN/MAX(col)` from column statistics,
  * `SUM(col)`'s exact cases (all-null, constant integral). Statistics
  * come from the per-directory STATS MANIFEST first and footers on a
  * miss (recorded back), both resolved through
  * [[UpsertStatsManifest.resolve]] — the data-skipping pruner's own
  * conversion. At 100 TB this is the difference between a full scan
  * and a metadata pass: steady-state, one manifest read per DIRECTORY
  * (not even one footer per file).
  */
sealed trait PushedAgg { def resultField: StructField }
/** COUNT(*) — always answerable from block metadata. */
case object AggRowCount extends PushedAgg {
  val resultField = StructField("cnt", LongType)
}
/** COUNT(col): rows minus nulls (footer null counts). */
final case class AggColCount(col: String) extends PushedAgg {
  val resultField = StructField(s"cnt_$col", LongType)
}
/** COUNT(partitionCol): the dir value decides null-ness for the whole
  * file, no footer stat involved.
  */
case object AggPartitionCount extends PushedAgg {
  val resultField = StructField("cnt_part", LongType)
}
final case class AggMin(col: String, dt: DataType) extends PushedAgg {
  val resultField = StructField(s"min_$col", dt)
}
final case class AggMax(col: String, dt: DataType) extends PushedAgg {
  val resultField = StructField(s"max_$col", dt)
}
/** SUM(col) partial, in Spark's sum result domain (integral → long,
  * fractional → double). Parquet footers carry no sums, so the footer
  * path answers only the exact cases — all-null chunks and
  * constant INTEGRAL chunks (min == max ⇒ sum = min × non-nulls,
  * overflow-checked); everything else takes the single-column per-file
  * scan. The partial is NULL when the file has no non-null value
  * (Spark's fold ignores null partials, so an all-null file must not
  * contribute a spurious 0). This is what makes AVG a metadata-family
  * aggregate: Spark decomposes partial-pushdown AVG into SUM + COUNT
  * (SPARK-37839) and folds the partials exactly.
  */
final case class AggSum(col: String, dt: DataType, resultDt: DataType)
    extends PushedAgg {
  val resultField = StructField(s"sum_$col", resultDt)
}

object UpsertAggPushdown {

  /** Files answered by the per-file SCAN fallback instead of footer
    * statistics — test-observable (same trick as
    * `UpsertStatsManifest.footerReads`): the footer fast paths' whole
    * point is that they do NOT read data pages, and a regression that
    * silently declines them to the scan produces identical answers.
    * local-mode only (executors share the JVM in every spec).
    */
  private[graft] val scanFallbackFiles =
    new java.util.concurrent.atomic.AtomicLong()

  /** Column types whose footer min/max we trust and can decode:
    * numerics, date, timestamp. Strings are excluded (parquet writers
    * may truncate binary statistics), booleans add nothing.
    */
  def statType(dt: DataType): Boolean = dt match {
    case IntegerType | LongType | FloatType | DoubleType | DateType |
         TimestampType | TimestampNTZType => true
    case _ => false
  }

  /** SUM's result domain per Spark's `Sum.resultType`: integral → long,
    * fractional → double; None = not summable (dates/timestamps/strings
    * decline and the row scan answers).
    */
  def sumResultType(dt: DataType): Option[DataType] = dt match {
    case IntegerType | LongType => Some(LongType)
    case FloatType | DoubleType => Some(DoubleType)
    case _ => None
  }

  /** Ordering for decoded stat values (only the [[statType]] set). */
  private[io] def cmpStat(a: Any, b: Any, dt: DataType): Int = dt match {
    case IntegerType | DateType =>
      java.lang.Integer.compare(a.asInstanceOf[Int], b.asInstanceOf[Int])
    case LongType | TimestampType | TimestampNTZType =>
      java.lang.Long.compare(a.asInstanceOf[Long], b.asInstanceOf[Long])
    case FloatType => java.lang.Float.compare(a.asInstanceOf[Float], b.asInstanceOf[Float])
    case DoubleType => java.lang.Double.compare(a.asInstanceOf[Double], b.asInstanceOf[Double])
    case other => throw new IllegalStateException(s"unexpected stat type $other")
  }
}

/** The aggregate-pushdown scan: one input partition per live file;
  * each reader emits ONE row of per-file partial aggregates computed
  * from the footer (falling back to scanning just that file's needed
  * columns when a statistic is absent), and Spark's final aggregation
  * folds them (SUM of counts, MIN of mins, MAX of maxes). Partition
  * pruning composes — pushed partition predicates restrict the file
  * set exactly as in the row scan.
  */
final class UpsertAggScan(path: String, tableSchema: StructType,
    partitionCol: Option[String], partitionFilters: Array[Filter],
    aggs: Seq[PushedAgg], groupByPartition: Boolean) extends Scan with Batch {

  override def readSchema(): StructType = {
    val aggFields = aggs.map(_.resultField)
    StructType(
      if (groupByPartition) StructField(partitionCol.get, StringType) +: aggFields
      else aggFields)
  }

  override def toBatch: Batch = this

  override def description(): String =
    s"graft-upsert $path [pushed aggregates: ${aggs.mkString(", ")}]"

  override def planInputPartitions(): Array[InputPartition] = {
    val spark = SparkSession.active
    // same MOR guard as the row scan: footer aggregates over the base
    // alone would silently miss unmerged delta commits
    UpsertTableSource.requireNoLiveDeltas(spark, path)
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the row scan's planning walk and predicate semantics, verbatim —
    // pushed aggregates must prune exactly like the row scan would
    UpsertTableSource.planFilePartitions(fs, new Path(path), partitionCol,
      partitionFilters)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new UpsertAggReaderFactory(tableSchema, partitionCol, aggs, groupByPartition,
      UpsertTableSource.serializableConf(),
      // captured driver-side: long-SUM overflow must throw under ANSI
      // (like Spark's Sum) and wrap under legacy semantics
      SparkSession.active.sessionState.conf.ansiEnabled,
      // rename lineage + manifest config, also driver-side (executors
      // have no SparkSession/table-props access in a real cluster)
      ColumnAliases.parse(GraftUpsertCatalog.tableProps(path)),
      UpsertStatsManifest.manifestEnabled,
      UpsertStatsManifest.racyWindowMillis)
}

final class UpsertAggReaderFactory(tableSchema: StructType,
    partitionCol: Option[String], aggs: Seq[PushedAgg], groupByPartition: Boolean,
    conf: org.apache.spark.util.SerializableConfiguration, ansi: Boolean,
    aliases: Map[String, List[String]], manifestsOn: Boolean, racyWindowMs: Long)
  extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new UpsertAggReader(partition.asInstanceOf[UpsertFilePartition],
      tableSchema, partitionCol, aggs, groupByPartition, conf.value, ansi,
      aliases, manifestsOn, racyWindowMs)
}

/** Executor-side: aggregate ONE file from its statistics — the
  * per-directory STATS MANIFEST first (at 100 TB the steady-state agg
  * is then a manifest read per directory, zero footer opens), the
  * footer (recorded back into the manifest) on a miss, and a scan of
  * only that file's needed columns when a required statistic is
  * absent/untrustworthy. Both metadata sources flow through
  * [[UpsertStatsManifest.resolve]] — the SAME schema/alias/widening
  * conversion the data-skipping pruner uses, so the aggregate path
  * can never answer differently than the pruner reasons (and rename
  * lineage is honored: a pre-rename file's column aggregates under
  * its CURRENT name instead of silently counting as all-null).
  */
final class UpsertAggReader(part: UpsertFilePartition, tableSchema: StructType,
    partitionCol: Option[String], aggs: Seq[PushedAgg], groupByPartition: Boolean,
    conf: Configuration, ansi: Boolean, aliases: Map[String, List[String]],
    manifestsOn: Boolean, racyWindowMs: Long) extends PartitionReader[InternalRow] {

  private var done = false
  // set when this reader had to read a footer and recorded a fresh
  // manifest entry — close() then flushes, so the NEXT aggregate (or
  // planning) pass over this directory is manifest-served
  private var recordedFresh = false

  override def next(): Boolean = !done

  override def get(): InternalRow = {
    done = true
    val values = computeFromStats().getOrElse(computeByScan())
    val out =
      if (groupByPartition)
        (if (part.partValue == null) null else UTF8String.fromString(part.partValue)) +: values
      else values
    new GenericInternalRow(out.toArray)
  }

  override def close(): Unit =
    if (recordedFresh) {
      try UpsertStatsManifest.flush(
        new Path(part.filePath).getFileSystem(conf))
      catch { case _: Exception => () } // persistence is best-effort
    }

  /** All aggregates from this file's STATISTICS — manifest entry
    * first (default-mode lookup: the same (mtime, len) + verifyOnRead
    * + foreign-file content-verification trust model the skipping
    * pruner and `manifestRowCount` already serve from), footer on a
    * miss (recorded back so the next pass is manifest-served); None
    * when any needed statistic is absent or untrustworthy (then the
    * per-file scan answers). The SUM footer cases are exact at FILE
    * grain: an all-null column yields the NULL partial, and file-level
    * min == max proves a constant integral column (sum = min x
    * non-nulls, overflow falls back to the scan). Fractional constants
    * stay excluded: v x n and the fold v+v+...+v differ in final ulps,
    * and a metadata path must never answer differently than the scan
    * it replaces.
    */
  private def computeFromStats(): Option[Seq[Any]] = {
    val file = new Path(part.filePath)
    val raw: UpsertStatsManifest.RawFileStats =
      try {
        val fs = file.getFileSystem(conf)
        val st = fs.getFileStatus(file)
        // foreign files (externally added, not part-*) content-verify
        // by default, exactly like the pruner's lookups
        val vfp =
          if (manifestsOn && !UpsertStatsManifest.sinkWrittenName(file.getName))
            UpsertStatsManifest.contentFingerprint(fs, file, st.getLen)
          else UpsertStatsManifest.FpUnchecked
        UpsertStatsManifest.lookup(fs, file.getParent, file.getName,
          st.getModificationTime, st.getLen, vfp, manifestsOn, racyWindowMs)
          .getOrElse {
            // miss: one footer read, recorded back (fp first — the same
            // rewrite-race discipline as the pruner's record path)
            val fp =
              if (!manifestsOn) UpsertStatsManifest.FpUnreadable
              else if (vfp != UpsertStatsManifest.FpUnchecked) vfp
              else UpsertStatsManifest.contentFingerprint(fs, file, st.getLen)
            val r = UpsertStatsManifest.readRaw(file, conf)
            UpsertStatsManifest.recordFresh(fs, file.getParent, file.getName,
              st.getModificationTime, st.getLen, r, fp, manifestsOn)
            recordedFresh = manifestsOn
            r
          }
      } catch { case _: Exception => return None } // unreadable: scan answers
    val stats = UpsertStatsManifest.resolve(raw, tableSchema, aliases)
    val rowCount = raw.rows
    def present(c: String): Boolean = stats.present.exists(_.equalsIgnoreCase(c))
    def cs(c: String) = stats.cols.get(c.toLowerCase(java.util.Locale.ROOT))
    def nonNullCount(c: String): Option[Long] =
      if (!present(c)) Some(0L) // column absent from this file = all null
      else cs(c).flatMap(s => s.nullCount.map(n => s.valueCount - n))
    def minMax(c: String, wantMin: Boolean): Option[Option[Any]] =
      if (!present(c)) Some(None) // all null -> no value contributes
      else cs(c) match {
        // decodable covers both proven-all-null (min/max None) and
        // decoded extremes; anything else scans
        case Some(s) if s.decodable => Some(if (wantMin) s.min else s.max)
        case _ => None
      }
    def sumOf(c: String, dt: DataType): Option[Option[Any]] =
      if (!present(c)) Some(None) // absent = all null -> NULL partial
      else cs(c) match {
        case Some(s) if s.decodable && s.min.isEmpty => Some(None) // all null
        case Some(s) if s.decodable && (dt == IntegerType || dt == LongType) =>
          (s.min, s.max, s.nullCount) match {
            case (Some(a), Some(b), Some(nn)) if a == b =>
              val v = dt match {
                case IntegerType => a.asInstanceOf[Int].toLong
                case _ => a.asInstanceOf[Long]
              }
              try Some(Some(Math.multiplyExact(v, s.valueCount - nn)))
              catch { case _: ArithmeticException => None }
            case _ => None
          }
        case _ => None
      }
    val out = aggs.map {
      case AggRowCount => rowCount
      case AggPartitionCount => if (part.partValue == null) 0L else rowCount
      case AggColCount(col) => nonNullCount(col).getOrElse(return None)
      case AggMin(col, _) => minMax(col, wantMin = true).getOrElse(return None).orNull
      case AggMax(col, _) => minMax(col, wantMin = false).getOrElse(return None).orNull
      case AggSum(col, dt, _) => sumOf(col, dt).getOrElse(return None).orNull
    }
    Some(out)
  }

  private def cmp(a: Any, b: Any, dt: DataType): Int =
    UpsertAggPushdown.cmpStat(a, b, dt)

  /** Fallback: scan only the aggregated columns of THIS file and fold
    * the partials in a tight loop — still never reads unrelated
    * columns, and only files with unusable statistics pay it.
    */
  private def computeByScan(): Seq[Any] = {
    UpsertAggPushdown.scanFallbackFiles.incrementAndGet()
    val needed = aggs.collect {
      case AggColCount(c) => c
      case AggMin(c, _) => c
      case AggMax(c, _) => c
      case AggSum(c, _, _) => c
    }.distinct
    // min/max folding must run ONLY for min/max columns: a count-only
    // column may be a string, and cmp() (rightly) has no ordering for
    // types the pushdown never allows into AggMin/AggMax
    val mmCols = aggs.collect {
      case AggMin(c, _) => c
      case AggMax(c, _) => c
    }.toSet
    // sum accumulation domain per column (long for integral, double for
    // fractional — Spark's Sum result types); the SAME column can also
    // be a min/max target, the accumulators are independent
    val sumDts: Map[String, DataType] = aggs.collect {
      case AggSum(c, _, rdt) => c -> rdt
    }.toMap
    val projected = StructType(tableSchema.fields.filter(f => needed.contains(f.name)))
    val idx = projected.fieldNames.zipWithIndex.toMap
    val counts = new java.util.HashMap[String, Long]()
    val mins = new java.util.HashMap[String, Any]()
    val maxs = new java.util.HashMap[String, Any]()
    val sumL = new java.util.HashMap[String, java.lang.Long]()
    val sumD = new java.util.HashMap[String, java.lang.Double]()
    var rowCount = 0L
    val reader = new UpsertColumnarPartitionReader(part, projected, None, conf,
      skipFilters = Array.empty)
    try {
      while (reader.next()) reader.get().rowIterator().asScala.foreach { row =>
        rowCount += 1
        for (c <- needed; i = idx(c) if !row.isNullAt(i)) {
          counts.merge(c, 1L, (a, b) => a + b)
          val dt = projected.fields(i).dataType
          if (mmCols.contains(c)) {
            val v = row.get(i, dt)
            val curMin = mins.get(c)
            if (curMin == null || cmp(v, curMin, dt) < 0) mins.put(c, v)
            val curMax = maxs.get(c)
            if (curMax == null || cmp(v, curMax, dt) > 0) maxs.put(c, v)
          }
          sumDts.get(c) match {
            case Some(LongType) =>
              val v = dt match {
                case IntegerType => row.getInt(i).toLong
                case _ => row.getLong(i)
              }
              val cur = sumL.get(c)
              val prev = if (cur == null) 0L else cur.longValue()
              // ANSI: overflow throws with Spark's ARITHMETIC_OVERFLOW
              // error class (same surface as the row scan's Sum, incl.
              // the try_sum hint); legacy: wraps
              val next =
                if (ansi) {
                  try Math.addExact(prev, v)
                  catch { case _: ArithmeticException =>
                    throw org.apache.spark.sql.GraftBridge.longSumOverflow()
                  }
                } else prev + v
              sumL.put(c, next)
            case Some(_) =>
              val v = dt match {
                case FloatType => row.getFloat(i).toDouble
                case _ => row.getDouble(i)
              }
              val cur = sumD.get(c)
              sumD.put(c, if (cur == null) v else cur.doubleValue() + v)
            case None => ()
          }
        }
      }
    } finally reader.close()
    aggs.map {
      case AggRowCount => rowCount
      case AggPartitionCount => if (part.partValue == null) 0L else rowCount
      case AggColCount(c) => counts.getOrDefault(c, 0L)
      case AggMin(c, _) => mins.get(c)
      case AggMax(c, _) => maxs.get(c)
      // .get returns null when the file had no non-null value — the
      // NULL partial Spark's final Sum fold ignores
      case AggSum(c, _, rdt) =>
        if (rdt == LongType) sumL.get(c) else sumD.get(c)
    }
  }
}
