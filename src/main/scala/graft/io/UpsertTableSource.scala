package graft.io

import java.util.{Map => JMap}

import scala.collection.JavaConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference, Transform}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns, SupportsRuntimeFiltering}
import org.apache.spark.sql.vectorized.ColumnarBatch
import org.apache.spark.sql.sources.{EqualNullSafe, EqualTo, Filter, In, IsNotNull, IsNull}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 read path for [[ParquetUpsertSink]] tables — the
  * "query side" of the upsert table format, registered under the short
  * name `graft-upsert`:
  *
  * {{{
  *   spark.read.format("graft-upsert").load(tablePath)
  *     .where($"dept" === "eng").select("id", "salary")
  * }}}
  *
  * What the connector does natively (visible in `.explain`):
  *  - **partition pruning**: `EqualTo` / `In` / `IsNull` / `IsNotNull`
  *    predicates on the partition column are consumed at PLANNING time
  *    — only matching `part=value` directories are ever listed into
  *    input partitions (the pushed filters show on the scan node);
  *  - **column pruning**: the required schema is projected into the
  *    parquet read schema, so unreferenced columns are never decoded
  *    (and never leave the file);
  *  - **schema evolution**: files written before an additive evolution
  *    lack the new column; the reader null-fills per file against the
  *    table's `_schema.json` writer schema — same merge rule as the
  *    sink's own read helpers;
  *  - **one input partition per live data file**, so Spark's
  *    parallelism follows the sink's `filesPerPartition` layout;
  *  - **time travel**: `.option("asOf", commitId)` plans the table's
  *    file set as of an archived commit ([[ParquetUpsertSink.listArchivedCommits]]
  *    lists ids) — untouched partitions read live, touched ones read
  *    their archived pre-image; partition pruning composes.
  *
  * Scale notes: planning does one directory listing per surviving
  * partition dir (after pruning — under a partition predicate the
  * listing is O(selected partitions), never the whole table). Decode
  * is Spark's vectorized parquet reader ([[UpsertColumnar]]). Residual
  * (non-partition) predicates stay with Spark and evaluate in
  * whole-stage codegen above the scan.
  *
  * Supported column types ([[UpsertColumnar.requireSupported]]): flat
  * atomics — boolean, byte, short, int, long, float, double, string,
  * binary, date, timestamp (INT64 micros/millis and legacy INT96 both
  * decode) — and single-level arrays of them (embedding columns).
  * Deeper nesting is out of scope for this table format (CDC rows are
  * flattened upstream — SURVEY P3).
  *
  * Writes: `mode("append")` is UPSERT — task files stage under the
  * table path and the driver-side commit runs them through
  * [[ParquetUpsertSink.upsert]]'s merge ([[UpsertTableWrite]]); a
  * blind file append would corrupt table semantics, so that is the
  * only write mode the format defines.
  */
final class UpsertTableProvider extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {

  override def shortName(): String = "graft-upsert"

  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    TableSchema.of(UpsertTableSource.tablePath(options))

  override def inferPartitioning(options: CaseInsensitiveStringMap): Array[Transform] = {
    val path = UpsertTableSource.tablePath(options)
    UpsertTableSource.partitionColOf(path)
      .map(c => Array[Transform](Expressions.identity(c)))
      .getOrElse(Array.empty)
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table = {
    val path = UpsertTableSource.tablePath(
      new CaseInsensitiveStringMap(properties))
    new UpsertTable(path, schema, UpsertTableSource.partitionColOf(path))
  }
}

/** The loaded table: batch read, batch/streaming (upsert-on-commit)
  * write, and SQL row-level DELETE (`DELETE FROM` / `TRUNCATE TABLE`)
  * executed as the sink's copy-on-write partition rewrite.
  *
  * `asOf` (set by the catalog's `VERSION AS OF` time-travel load) pins
  * every scan of this table instance to an archived commit; a scan
  * option of the same name still overrides per-read.
  */
final class UpsertTable(path: String, schema: StructType,
    partitionCol: Option[String], asOf: Option[String] = None)
    extends Table
    with SupportsRead with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations
    with org.apache.spark.sql.connector.catalog.SupportsPartitionManagement
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {

  /** `_file` metadata column (Iceberg's name): the absolute path of
    * the data file serving each row — provenance/debugging at the
    * file grain, zero decode cost (a per-file constant). Spark hides
    * it whenever a real data column claims the name.
    */
  override def metadataColumns()
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(new org.apache.spark.sql.connector.catalog.MetadataColumn {
      override def name(): String = UpsertTableSource.FileMetadataColumn
      override def dataType(): org.apache.spark.sql.types.DataType = StringType
      override def isNullable: Boolean = false
      override def comment(): String =
        "absolute path of the data file serving the row"
    })

  override def name(): String = s"graft-upsert `$path`"
  override def schema(): StructType = schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.STREAMING_WRITE, TableCapability.MICRO_BATCH_READ,
      TableCapability.TRUNCATE, TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.OVERWRITE_DYNAMIC)
  override def partitioning(): Array[Transform] =
    partitionCol.map(c => Array[Transform](Expressions.identity(c))).getOrElse(Array.empty)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new UpsertScanBuilder(path, schema, partitionCol,
      Option(options.get("asOf"))
        .orElse(Option(options.get("asOfTimestamp"))
          // flatMap: a timestamp newer than the last write resolves to
          // None = the current state, exactly what an unset option reads
          .flatMap(ts => UpsertTableSource.resolveAsOfTimestamp(path,
            UpsertTableSource.parseTimestampMillis(ts))))
        .orElse(asOf),
      startingOffset = Option(options.get("startingOffset")),
      splitTarget = Option(options.get("splitTargetBytes")).map(_.toLong))

  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new UpsertWriteBuilder(path, info)

  /** SQL UPDATE / MERGE INTO / subquery DELETE: group-based
    * copy-on-write over the partition layout
    * ([[UpsertRowLevelOperation]]).
    */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    val pc = partitionCol.getOrElse(throw new UnsupportedOperationException(
      "graft-upsert: row-level operations require a partitioned table layout"))
    () => new UpsertRowLevelOperation(path, schema, pc, info.command)
  }

  // ——— SupportsPartitionManagement: SHOW PARTITIONS / ALTER TABLE
  // DROP PARTITION, the Hive-shaped partition surface over the
  // directory layout. Listing is metadata-only; DROP is a real
  // archived commit (time-travelable, visible in the change feed)
  // executed as the sink's partition delete — never a bare rmdir. ———

  private def pcOrFail: String = partitionCol.getOrElse(
    throw new UnsupportedOperationException(
      "graft-upsert: partition management requires the partitioned table layout"))

  override def partitionSchema(): StructType =
    StructType(Seq(StructField(pcOrFail, StringType, nullable = true)))

  // string partition identity, like every sink path; null = the Hive
  // default partition
  private def identValue(ident: org.apache.spark.sql.catalyst.InternalRow): String =
    if (ident.numFields == 0 || ident.isNullAt(0)) null
    else ident.getUTF8String(0).toString

  override def createPartition(ident: org.apache.spark.sql.catalyst.InternalRow,
      properties: java.util.Map[String, String]): Unit =
    throw new UnsupportedOperationException(
      "graft-upsert: partitions materialize on write (INSERT INTO); " +
        "ADD PARTITION is not supported")

  override def replacePartitionMetadata(
      ident: org.apache.spark.sql.catalyst.InternalRow,
      properties: java.util.Map[String, String]): Unit =
    throw new UnsupportedOperationException(
      "graft-upsert: partitions carry no metadata")

  override def loadPartitionMetadata(
      ident: org.apache.spark.sql.catalyst.InternalRow)
      : java.util.Map[String, String] = java.util.Collections.emptyMap()

  override def dropPartition(
      ident: org.apache.spark.sql.catalyst.InternalRow): Boolean = {
    val pc = pcOrFail
    require(asOf.isEmpty, "graft-upsert: cannot DROP PARTITION of a time-travel view")
    val v = identValue(ident)
    val spark = SparkSession.active
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dir = new Path(s"$path/$pc=${
      if (v == null) org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.DEFAULT_PARTITION_NAME
      else org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName(v)}")
    if (UpsertTableSource.dataFiles(fs, dir).isEmpty) return false
    // a DELETE commit, not a rmdir: pre-images archive under the
    // table's retention so the drop is time-travelable and reversible
    // (restore), exactly like DELETE FROM t WHERE pc <=> v. The sink
    // comes from the ONE persisted-config constructor every
    // maintenance path shares — hand-rolling '_unused' keys here
    // silently dropped the table's real merge/write config
    GraftProcedures.sinkFor(path)
      .delete(spark, org.apache.spark.sql.functions.col(pc) <=>
        org.apache.spark.sql.functions.lit(v))
    true
  }

  override def listPartitionIdentifiers(names: Array[String],
      ident: org.apache.spark.sql.catalyst.InternalRow)
      : Array[org.apache.spark.sql.catalyst.InternalRow] = {
    val pc = pcOrFail
    val spark = SparkSession.active
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = new Path(path)
    if (!fs.exists(root)) return Array.empty
    val live: Seq[String] = fs.listStatus(root).iterator
      .map(_.getPath)
      .filter(p => p.getName.startsWith(s"$pc=") &&
        UpsertTableSource.dataFiles(fs, p).nonEmpty)
      .map(p => UpsertTableSource.dirValue(p.getName.drop(pc.length + 1)))
      .toSeq.sortBy(v => Option(v)) // deterministic SHOW PARTITIONS, null first
    val wanted: Option[String] =
      if (names.nonEmpty && names(0).equalsIgnoreCase(pc)) Some(identValue(ident))
      else None
    live.filter(v => wanted.forall(w => w == v))
      .map(v => new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](if (v == null) null
          else org.apache.spark.unsafe.types.UTF8String.fromString(v)))
        : org.apache.spark.sql.catalyst.InternalRow)
      .toArray
  }

  /** SQL DELETE is executable when the WHERE clause translates to a
    * DataFrame predicate and the table has the partitioned layout the
    * sink's copy-on-write rewrite targets (the only layout the write
    * path produces; an unpartitioned root-file table is read-only).
    */
  override def canDeleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    partitionCol.isDefined && FilterColumns.conjunction(filters).isDefined

  override def deleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    val pc = partitionCol.getOrElse(throw new UnsupportedOperationException(
      "graft-upsert: DELETE requires a partitioned table layout"))
    val cond = FilterColumns.conjunction(filters).getOrElse(
      throw new UnsupportedOperationException(
        s"graft-upsert: cannot execute DELETE condition ${filters.mkString(" AND ")}"))
    // record keys play no part in a delete rewrite; the sink instance
    // exists for its partition-rewrite machinery. The table's retention
    // config applies — a delete archives pre-images like any commit —
    // derived from the observed archive when writers never persisted
    // keepVersions ([[ParquetUpsertSink.effectiveKeepVersions]])
    val spark = SparkSession.active
    // the persisted-config sink (GraftProcedures.sinkFor), not a
    // hand-rolled one: _unused keys are fine for a delete rewrite, but
    // hand-rolling also silently dropped the table's real
    // filesPerPartition/writeMode/deleteCol — a table configured with
    // filesPerPartition=8 (partitions too large for one task) would
    // have its DELETE rewrite funnel each partition through a single
    // writer task and collapse the layout to one file (the same fix
    // dropPartition already got)
    GraftProcedures.sinkFor(path).delete(spark, cond)
  }
}

/** Scan builder: consumes partition-column predicates for pruning,
  * prunes the read schema to the required columns.
  */
final class UpsertScanBuilder(path: String, tableSchema: StructType,
    partitionCol: Option[String], asOf: Option[String],
    // row-level operations capture their configured scan here, to learn
    // at commit time which groups the rewrite query actually planned
    onBuild: UpsertScan => Unit = _ => (),
    startingOffset: Option[String] = None,
    // true for a row-level operation's rewrite scan: its contract is to
    // read ALL rows of the planned groups (survivors are copied), so
    // residual-predicate data skipping — which drops files/row groups
    // WITHIN a group — would silently lose the non-matching rows of a
    // rewritten partition. Group-level (partition) pruning stays on.
    forRowLevelOp: Boolean = false,
    // per-read override of the byte-range split target (the
    // `splitTargetBytes` reader option); None = session conf/default
    splitTarget: Option[Long] = None) extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {

  private var required: StructType = tableSchema
  private var partitionFilters: Array[Filter] = Array.empty
  private var skipFilters: Array[Filter] = Array.empty
  private var pushedAggs: Option[(Seq[PushedAgg], Boolean)] = None

  private def isPartitionFilter(f: Filter): Boolean = partitionCol.exists { c =>
    f match {
      case EqualTo(a, _) => a.equalsIgnoreCase(c)
      case EqualNullSafe(a, _) => a.equalsIgnoreCase(c)
      case In(a, _) => a.equalsIgnoreCase(c)
      case IsNull(a) => a.equalsIgnoreCase(c)
      case IsNotNull(a) => a.equalsIgnoreCase(c)
      case _ => false
    }
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (part, residual) = filters.partition(isPartitionFilter)
    partitionFilters = part
    // residual predicates over footer-stat columns drive DATA SKIPPING
    // (file-level min/max pruning at planning, row-group filtering at
    // read — [[UpsertDataSkipping]]); they are ALSO returned to Spark,
    // which re-evaluates them above the scan, so skipping is advisory
    // and can never change an answer
    skipFilters =
      if (forRowLevelOp) Array.empty // rewrite scans read whole groups
      else residual.filter(
        UpsertDataSkipping.supportedShape(_, tableSchema, partitionCol))
    residual // Spark evaluates everything else above the scan
  }

  // partition filters are CONSUMED (pruning is exact); skip filters are
  // reported too so `.explain` shows what drives the min/max skipping
  override def pushedFilters(): Array[Filter] = partitionFilters ++ skipFilters

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** Aggregate pushdown: COUNT(*)/COUNT(col)/MIN/MAX answered from
    * parquet footer metadata ([[UpsertAggScan]] — one footer read per
    * live file instead of a scan). Partial pushdown: each file emits
    * its partials and Spark's final aggregation folds them, so the
    * semantics are exact. Spark only offers aggregates here when every
    * filter was fully pushed (i.e. partition predicates only), so
    * pruning composes and no residual predicate can be lost. Grouping
    * by the partition column is supported (a file belongs to exactly
    * one group); anything else declines and the row scan answers.
    */
  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = false

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    import org.apache.spark.sql.connector.expressions.{Expression => VExpr}
    import org.apache.spark.sql.connector.expressions.aggregate.{Count, CountStar, Max, Min, Sum}
    if (asOf.isDefined) return false // time travel answers from the row scan
    def fieldOf(e: VExpr): Option[StructField] = e match {
      case nr: NamedReference if nr.fieldNames.length == 1 =>
        tableSchema.fields.find(_.name.equalsIgnoreCase(nr.fieldNames()(0)))
      case _ => None
    }
    def isPartition(f: StructField): Boolean =
      partitionCol.exists(_.equalsIgnoreCase(f.name))
    val gb = agg.groupByExpressions
    val groupByPart = gb.length == 1 && gb(0).isInstanceOf[NamedReference] &&
      fieldOf(gb(0)).exists(isPartition)
    if (!(gb.isEmpty || groupByPart)) return false
    val translated: Seq[Option[PushedAgg]] = agg.aggregateExpressions.toSeq.map {
      case _: CountStar => Some(AggRowCount)
      case c: Count if !c.isDistinct =>
        fieldOf(c.column).map(f =>
          if (isPartition(f)) AggPartitionCount else AggColCount(f.name))
      case m: Min => fieldOf(m.column).collect {
        case f if UpsertAggPushdown.statType(f.dataType) && !isPartition(f) =>
          AggMin(f.name, f.dataType)
      }
      case m: Max => fieldOf(m.column).collect {
        case f if UpsertAggPushdown.statType(f.dataType) && !isPartition(f) =>
          AggMax(f.name, f.dataType)
      }
      // SUM (and therefore AVG, which Spark decomposes into SUM + COUNT
      // partials for partial pushdown — SPARK-37839): integral and
      // fractional columns only; the per-file partial comes from the
      // footer when exact (all-null / constant integral chunks) and a
      // single-column file scan otherwise
      case s: Sum if !s.isDistinct => fieldOf(s.column).flatMap { f =>
        if (isPartition(f)) None
        else UpsertAggPushdown.sumResultType(f.dataType)
          .map(rdt => AggSum(f.name, f.dataType, rdt))
      }
      case _ => None
    }
    if (translated.isEmpty || translated.exists(_.isEmpty)) return false
    pushedAggs = Some((translated.flatten, groupByPart))
    true
  }

  override def build(): Scan = pushedAggs match {
    case Some((aggs, groupByPart)) =>
      new UpsertAggScan(path, tableSchema, partitionCol, partitionFilters,
        aggs, groupByPart)
    case None =>
      val skipping = SparkSession.active.conf
        .get(UpsertTableSource.DataSkippingConfKey, "true") == "true"
      val scan = new UpsertScan(path, tableSchema, required, partitionCol,
        partitionFilters, asOf, startingOffset,
        if (skipping) skipFilters else Array.empty, forRowLevelOp, splitTarget)
      onBuild(scan)
      scan
  }
}

/** The scan: plans one input partition per live data file in the
  * partition directories surviving the pushed predicates.
  */
final class UpsertScan(path: String, tableSchema: StructType,
    required: StructType, partitionCol: Option[String],
    partitionFilters: Array[Filter], asOf: Option[String],
    startingOffset: Option[String] = None,
    // residual predicates usable for min/max data skipping — advisory
    // only (Spark re-evaluates them above the scan)
    skipFilters: Array[Filter] = Array.empty,
    // a row-level operation's rewrite scan: reports NO statistics (its
    // cardinality is the rewrite contract, not a costing input)
    forRowLevelOp: Boolean = false,
    // per-read split-target override (None = session conf/default)
    splitTarget: Option[Long] = None)
  extends Scan with Batch with SupportsRuntimeFiltering
  with org.apache.spark.sql.connector.read.SupportsReportPartitioning
  with org.apache.spark.sql.connector.read.SupportsReportStatistics {

  // runtime (dynamic-partition-pruning) predicates Spark derives from
  // join keys at execution time — same value semantics as the static
  // pushed filters, arriving after planning instead of before
  @volatile private var runtimeFilters: Array[Filter] = Array.empty

  // column-rename lineage (current name → historical names, newest
  // first), memoized per scan: planning-time file pruning (footer
  // stats + blooms) and the task readers must resolve through the
  // SAME map, or time travel across a rename prunes files whose rows
  // live under the old name
  private lazy val columnAliases: Map[String, List[String]] =
    ColumnAliases.parse(GraftUpsertCatalog.tableProps(path))

  // the partition values this scan actually planned (post static AND
  // runtime pruning) — the "scanned groups" a row-level operation's
  // commit must replace ([[UpsertReplaceGroupsWrite]])
  @volatile private[io] var plannedPartitionValues: Option[Seq[String]] = None

  // planning-walk observability: how much partition pruning, footer
  // min/max stats, and bloom probes each cut — surfaced as SQL-node
  // metrics (Spark UI / plan details). At 100 TB "did the prune
  // actually fire" must be measurable per query, not inferred from
  // wall time. Written as ONE map at the end of a planning walk, so a
  // re-plan (runtime filters) cleanly overwrites.
  @volatile private var planMetrics: Map[String, Long] = Map.empty

  override def supportedCustomMetrics()
      : Array[org.apache.spark.sql.connector.metric.CustomMetric] = Array(
    new GraftScanMetric("candidatePartitions", "candidate partition dirs"),
    new GraftScanMetric("matchedPartitions", "partition dirs surviving partition pruning"),
    new GraftScanMetric("candidateFiles", "data files in surviving partitions"),
    new GraftScanMetric("statsPrunedFiles", "files pruned by footer min/max statistics"),
    new GraftScanMetric("bloomPrunedFiles", "files pruned by bloom-filter probes"),
    new GraftScanMetric("plannedFiles", "files actually planned for the scan"),
    new GraftScanMetric("plannedSplits", "input splits after byte-range file splitting"))

  override def reportDriverMetrics()
      : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    planMetrics.map { case (k, v) => GraftTaskMetric(k, v) }.toArray

  // Storage-partitioned-join mode (opt-in per session/query via
  // spark.graft.upsert.spj.enabled — NOT Spark's
  // spark.sql.sources.v2.bucketing.enabled, which defaults to TRUE in
  // 4.x and would silently put every scan in this mode): plan ONE
  // input partition per partition VALUE (HasPartitionKey) and report
  // KeyGroupedPartitioning, so two graft-upsert tables partitioned on
  // the same column join WITHOUT a shuffle. Runtime filtering is
  // disabled in this mode — the reported partition count is part of
  // the partitioning contract and must not change between planning and
  // execution — which is exactly why it is opt-in: dynamic partition
  // pruning is the better default for star-shaped plans.
  private def spjMode: Boolean =
    partitionCol.isDefined && asOf.isEmpty &&
      SparkSession.active.conf
        .get(UpsertTableSource.SpjConfKey, "false") == "true"

  // grouped (one-per-value) plan for SPJ mode: computed once — the
  // reported numPartitions and the executed partitions must agree.
  // PURE (no state mutation): planInputPartitions records the planned
  // values; estimateStatistics must be able to cost this plan without
  // side effects
  private lazy val groupedPlan: (Array[InputPartition], Seq[String]) = {
    val spark = SparkSession.active
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = new Path(path)
    val c = partitionCol.get
    if (!fs.exists(root)) (Array.empty[InputPartition], Seq.empty)
    else {
      val matched = fs.listStatus(root).iterator
        .map(_.getPath)
        .filter(p => p.getName.startsWith(s"$c="))
        .map(p => p -> UpsertTableSource.dirValue(p.getName.drop(c.length + 1)))
        .filter { case (_, v) => matches(v) }
        .toList
      val parts = matched.iterator
        .map { case (dir, v) =>
          UpsertFilesPartition(
            UpsertTableSource.dataFiles(fs, dir).map(_.toString), v) }
        .filter(_.files.nonEmpty)
        .toArray[InputPartition]
      (parts, matched.map(_._2))
    }
  }

  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning =
    if (spjMode)
      new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
        Array(Expressions.identity(partitionCol.get)), groupedPlan._1.length)
    else
      new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(0)

  override def filterAttributes(): Array[NamedReference] =
    if (spjMode) Array.empty // see spjMode: stable partition contract
    // advertise the partition column for runtime (DPP) filtering only
    // when the projection KEEPS it: Spark's PartitionPruning resolves
    // these refs against the scan's output and throws on a pruned-out
    // column — and a join that never selects the partition column
    // cannot drive DPP through it anyway
    else partitionCol
      .filter(c => required.fields.exists(_.name.equalsIgnoreCase(c)))
      .map(c => Array[NamedReference](Expressions.column(c)))
      .getOrElse(Array.empty)

  override def filter(filters: Array[Filter]): Unit =
    runtimeFilters = filters

  /** Filter-aware statistics for Catalyst's join planning. Without
    * this, a DSv2 relation costs `spark.sql.defaultSizeInBytes`
    * (= Long.MaxValue), so NO graft-upsert table would ever broadcast —
    * every dimension join pays a shuffle. The estimate is the POST-
    * PRUNING file set: partition predicates drop directories, then
    * min/max + bloom skipping drop files, so a selective predicate on a
    * big table reports a small scan and Spark plans the broadcast that
    * predicate earned. Advisory like all stats — a wrong estimate can
    * cost, never corrupt. sizeInBytes sums surviving parquet byte
    * lengths (the same convention Spark's file-source relations use);
    * numRows sums footer row counts through the bounded stats cache,
    * skipped above [[UpsertTableSource.MaxStatFooterFiles]] files so a
    * 100 TB table's planning never serializes a million footer reads
    * for a full-scan estimate. Memoized per scan (the optimizer
    * re-costs plans repeatedly); runtime (DPP) filters arrive after
    * costing and only shrink the true read further.
    */
  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics =
    statsMemo

  private lazy val statsMemo: org.apache.spark.sql.connector.read.Statistics = {
    def stats(size: Option[Long], rows: Option[Long]) =
      new org.apache.spark.sql.connector.read.Statistics {
        override def sizeInBytes(): java.util.OptionalLong =
          size.map(java.util.OptionalLong.of).getOrElse(java.util.OptionalLong.empty())
        override def numRows(): java.util.OptionalLong =
          rows.map(java.util.OptionalLong.of).getOrElse(java.util.OptionalLong.empty())
      }
    try {
      val spark = SparkSession.active
      val enabled = spark.conf
        .get(UpsertTableSource.ReportStatsConfKey, "true") == "true"
      // live MOR deltas: the base file set understates the table — and
      // estimation must never throw where execution would guard loudly
      if (!enabled || forRowLevelOp ||
        (asOf.isEmpty && ParquetUpsertSink.listDeltaCommits(spark, path).nonEmpty))
        stats(None, None)
      else {
        val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
        // the memoized PURE static plan — costing must neither mutate
        // plannedPartitionValues (a ReplaceData commit consumes it)
        // nor pay a second listing+prune walk at execution
        val planned: Seq[InputPartition] =
          if (spjMode) groupedPlan._1.toSeq else staticPlan._1.toSeq
        // distinct: byte-range splits of one file must cost its size
        // and row count ONCE
        val candidates: Seq[Path] = planned.flatMap {
          case p: UpsertFilePartition => Seq(new Path(p.filePath))
          case g: UpsertFilesPartition => g.files.map(new Path(_))
          case _ => Seq.empty
        }.distinct
        // ONE listing per parent dir for the byte sizes — a per-file
        // getFileStatus would cost one RPC per file at exactly the
        // file counts where costing matters most
        val size = Some(candidates.groupBy(_.getParent).iterator.map {
          case (dir, inDir) =>
            try {
              val lens = fs.listStatus(dir).iterator
                .map(s => s.getPath.getName -> s.getLen).toMap
              inDir.iterator.map(f => lens.getOrElse(f.getName, 0L)).sum
            } catch { case _: java.io.IOException => 0L }
        }.sum)
        val rows =
          if (candidates.length > UpsertTableSource.MaxStatFooterFiles)
            // too many files for a footer storm — but persisted stats
            // manifests answer from per-directory metadata alone (None
            // only where coverage is incomplete, e.g. the very first
            // scan of a fresh table)
            UpsertStatsManifest.manifestRowCount(fs, candidates)
          else {
            val st = UpsertDataSkipping.fileStatsAll(fs, candidates, tableSchema,
              fs.getConf, columnAliases)
            val counts = candidates.map(f => st.get(f.toString).flatMap(_.rowCount))
            if (counts.exists(_.isEmpty)) None else Some(counts.flatten.sum)
          }
        stats(size, rows)
      }
    } catch { case scala.util.control.NonFatal(_) => stats(None, None) }
  }

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String = {
    val pf = partitionFilters.mkString(", ")
    val sk = skipFilters.mkString(", ")
    s"graft-upsert $path${asOf.map(c => s" asOf=$c").getOrElse("")}" +
      (if (pf.nonEmpty) s" [pruned: $pf]" else "") +
      (if (sk.nonEmpty) s" [skipping: $sk]" else "")
  }

  /** File-level data skipping: drop candidate files whose footer
    * min/max statistics — or, for equality predicates, whose per-column
    * BLOOM FILTERS (written by the sink on its record keys) — PROVE no
    * row can satisfy the skip filters. Blooms are what make a
    * high-cardinality point lookup (`key = x`) prune files: every
    * file's [min, max] spans such keys, but a bloom miss in every row
    * group is proof of absence. Conservative (missing/undecodable
    * stats or absent blooms keep the file) and advisory (Spark
    * re-evaluates the predicates above the scan). SPJ mode bypasses
    * this — its reported partition count is part of the partitioning
    * contract — but keeps row-group filtering.
    */
  /** (survivors, prunedByStats, prunedByBlooms). */
  private def pruneByStats(fs: FileSystem,
      files: Array[InputPartition]): (Array[InputPartition], Long, Long) =
    if (skipFilters.isEmpty) (files, 0L, 0L)
    else {
      // footer stats fetched CONCURRENTLY (cached per file version) —
      // cold-table planning must not serialize one footer RPC per file
      val stats = UpsertDataSkipping.fileStatsAll(fs,
        files.collect { case p: UpsertFilePartition => new Path(p.filePath) }.toSeq,
        tableSchema, fs.getConf, columnAliases)
      val statsSurvivors = files.filter {
        case p: UpsertFilePartition =>
          stats.get(p.filePath).forall(
            UpsertDataSkipping.fileMightMatch(_, skipFilters.toSeq, tableSchema))
        case _ => true
      }
      val statsPruned = (files.length - statsSurvivors.length).toLong
      val bloomTargets = UpsertDataSkipping.bloomEqTargets(
        skipFilters.toSeq, tableSchema, partitionCol)
      if (bloomTargets.isEmpty) (statsSurvivors, statsPruned, 0L)
      else {
        // bloom probe only over the files min/max could NOT prune
        val verdicts = UpsertDataSkipping.fileMightMatchBloomsAll(fs,
          statsSurvivors.collect {
            case p: UpsertFilePartition => new Path(p.filePath) }.toSeq,
          fs.getConf, bloomTargets, tableSchema, columnAliases)
        val survivors = statsSurvivors.filter {
          case p: UpsertFilePartition => verdicts.getOrElse(p.filePath, true)
          case _ => true
        }
        (survivors, statsPruned,
          (statsSurvivors.length - survivors.length).toLong)
      }
    }

  /** Does the (unescaped, null for the default dir) partition value
    * satisfy every pushed partition predicate — static and runtime?
    * (Shared semantics: [[UpsertTableSource.matchesPartition]].)
    */
  private def matches(value: String): Boolean =
    UpsertTableSource.matchesPartition(
      partitionFilters.iterator ++ runtimeFilters.iterator, value)

  /** The PURE planning walk: candidate files of the partition dirs
    * surviving the static predicates (plus the runtime/DPP predicates
    * when `useRuntime`), then min/max + bloom file pruning. Returns the
    * planned file partitions and — for the live partitioned layout —
    * the matched partition VALUES (the "scanned groups" a row-level
    * operation's commit replaces). No state mutation: the optimizer's
    * statistics estimate costs this same walk side-effect-free, so it
    * can never pre-seed `plannedPartitionValues` with a pre-runtime
    * superset a ReplaceData commit would then wrongly replace.
    */
  private def computePlan(useRuntime: Boolean)
      : (Array[InputPartition], Option[Seq[String]]) = {
    val spark = SparkSession.active
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = new Path(path)
    def ok(value: String): Boolean =
      UpsertTableSource.matchesPartition(
        partitionFilters.iterator ++
          (if (useRuntime) runtimeFilters.iterator else Iterator.empty), value)
    if (!fs.exists(root))
      return (Array.empty[InputPartition], Some(Seq.empty))
    var candidateParts = 0L
    var matchedParts = 0L
    val (planned, values): (Array[InputPartition], Option[Seq[String]]) =
      (partitionCol, asOf) match {
        case (Some(c), Some(commit)) =>
          // time travel: the authoritative dir per partition as of the
          // commit — live when untouched since, archived pre-image
          // otherwise (metadata-only planning; pruning composes)
          val sink = ParquetUpsertSink(path, Seq("_unused"), "_unused", c)
          val all = sink.asOfPartitionDirs(spark, commit)
            .map { case (escaped, dir) => dir -> UpsertTableSource.dirValue(escaped) }
          candidateParts = all.size
          val kept = all.filter { case (_, v) => ok(v) }
          matchedParts = kept.size
          val parts = kept
            .flatMap { case (dir, v) => UpsertTableSource.dataFileStatuses(fs, dir)
              .map(f => UpsertFilePartition(f.getPath.toString, v, 0L, f.getLen)) }
            .toArray[InputPartition]
          (parts, None)
        case (Some(c), None) =>
          val all = fs.listStatus(root).iterator
            .map(_.getPath)
            .filter(p => p.getName.startsWith(s"$c="))
            .map(p => p -> UpsertTableSource.dirValue(p.getName.drop(c.length + 1)))
            .toList
          candidateParts = all.size
          val matched = all.filter { case (_, v) => ok(v) }
          matchedParts = matched.size
          val parts = matched.iterator
            .flatMap { case (dir, v) => UpsertTableSource.dataFileStatuses(fs, dir)
              .map(f => UpsertFilePartition(f.getPath.toString, v, 0L, f.getLen)) }
            .toArray[InputPartition]
          (parts, Some(matched.map(_._2)))
        case (None, Some(_)) =>
          // silently reading live data for a time-travel request would be
          // a wrong-answer bug; the layout has no partition column to
          // reconstruct from (partitionColOf also consults
          // _table.properties, so this is genuinely unpartitioned data)
          throw new UnsupportedOperationException(
            s"graft-upsert: time travel (asOf) requires the partitioned table layout: $path")
        case (None, None) => // unpartitioned layout: files at the root
          candidateParts = 1; matchedParts = 1
          (UpsertTableSource.dataFileStatuses(fs, root)
            .map(f => UpsertFilePartition(f.getPath.toString, null, 0L, f.getLen))
            .toArray[InputPartition],
            None)
      }
    val (pruned, statsPruned, bloomPruned) = pruneByStats(fs, planned)
    val split = UpsertTableSource.splitBySize(pruned, splitTarget)
    planMetrics = Map(
      "candidatePartitions" -> candidateParts,
      "matchedPartitions" -> matchedParts,
      "candidateFiles" -> planned.length.toLong,
      "statsPrunedFiles" -> statsPruned,
      "bloomPrunedFiles" -> bloomPruned,
      "plannedFiles" -> pruned.length.toLong,
      "plannedSplits" -> split.length.toLong)
    (split, values)
  }

  // the static (pre-runtime-filter) plan, computed ONCE per scan and
  // shared by the optimizer's statistics estimate and the common
  // no-runtime-filter execution path — a query pays the listing + prune
  // walk once, not once at costing and again at execution
  private lazy val staticPlan: (Array[InputPartition], Option[Seq[String]]) =
    computePlan(useRuntime = false)

  override def planInputPartitions(): Array[InputPartition] = {
    val spark = SparkSession.active
    // serving the base file set of a MOR table with unmerged deltas
    // would silently return stale rows — fail loudly instead (the
    // Hudi real-time view is ParquetUpsertSink.readMor; compaction
    // restores connector reads). The guard runs BEFORE the SPJ branch
    // (a storage-partitioned join over stale base files is just as
    // wrong). Time travel is EXEMPT: an archived commit's state is
    // archive+base-derived, and pending deltas only enter the timeline
    // at their compaction commit — history cannot change under them.
    if (asOf.isEmpty) UpsertTableSource.requireNoLiveDeltas(spark, path)
    val (parts, values) =
      if (spjMode) (groupedPlan._1, Some(groupedPlan._2))
      else if (runtimeFilters.isEmpty) staticPlan
      else computePlan(useRuntime = true)
    values.foreach(v => plannedPartitionValues = Some(v))
    parts
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new UpsertReaderFactory(required, partitionCol,
      UpsertTableSource.serializableConf(), skipFilters,
      // column-rename lineage: archived (time-travel) files may store a
      // required column under a historical name — readers resolve
      // through this map (driver-side props read, shipped per task)
      aliases = columnAliases,
      // the `_file` metadata column — served as a per-file constant,
      // but ONLY while no real data column claims the name (Spark
      // hides the metadata column on conflict; we must match)
      fileMetaCol = Some(UpsertTableSource.FileMetadataColumn)
        .filterNot(n => tableSchema.fieldNames.exists(_.equalsIgnoreCase(n))))

  /** `spark.readStream.format("graft-upsert")`: the table as an
    * incremental per-commit change stream ([[UpsertMicroBatchStream]]).
    * Column pruning applies (`required`); time-travel scans have no
    * stream (the past does not change).
    */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    require(asOf.isEmpty,
      "graft-upsert: a time-travel (asOf) scan cannot be streamed")
    val pc = partitionCol.getOrElse(throw new UnsupportedOperationException(
      "graft-upsert: streaming reads require a partitioned table layout"))
    new UpsertMicroBatchStream(path, required, pc,
      startingOffset.getOrElse("earliest"))
  }
}

/** One live data file plus its partition-dir value (null = the
  * default/null partition or an unpartitioned table) — optionally a
  * BYTE-RANGE SLICE of it. `length = -1` means the whole file (the
  * reader stats it); a non-negative length is a planner-issued split
  * and the reader serves exactly the row groups whose midpoint falls
  * in `[start, start+length)` — parquet's standard split contract, so
  * contiguous non-overlapping ranges covering the file partition its
  * row groups exactly once.
  */
final case class UpsertFilePartition(filePath: String, partValue: String,
    start: Long = 0L, length: Long = -1L)
  extends InputPartition

/** All live files of ONE partition value — the SPJ planning unit; the
  * partition key row is what Spark aligns across join sides.
  */
final case class UpsertFilesPartition(files: Seq[String], partValue: String)
  extends InputPartition with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow =
    new GenericInternalRow(Array[Any](
      if (partValue == null) null else UTF8String.fromString(partValue)))
}

/** A SUM-aggregated SQL-node metric of the graft-upsert scan. The
  * no-arg constructor is REQUIRED: Spark's SQLAppStatusListener
  * re-instantiates custom-metric classes reflectively to aggregate
  * task values for the UI, and without it every query against the
  * table logs a loadExtensions warning and shows no scan metrics.
  */
private[io] final class GraftScanMetric(metricName: String, desc: String)
  extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  def this() = this("", "")
  override def name(): String = metricName
  override def description(): String = desc
}

private[io] final case class GraftTaskMetric(metricName: String, v: Long)
  extends org.apache.spark.sql.connector.metric.CustomTaskMetric {
  override def name(): String = metricName
  override def value(): Long = v
}

/** Every graft-upsert scan reads through Spark's vectorized parquet
  * reader ([[UpsertColumnarPartitionReader]]). Built on the driver, it
  * checks the required columns against the format's type rule there,
  * so an unsupported column fails the query before any task runs.
  */
final class UpsertReaderFactory(required: StructType, partitionCol: Option[String],
    conf: org.apache.spark.util.SerializableConfiguration,
    skipFilters: Array[Filter] = Array.empty,
    // current column name (lower-cased) → historical names, newest
    // first ([[ColumnAliases]]) — empty unless the table ever renamed
    aliases: Map[String, List[String]] = Map.empty,
    // the `_file` metadata column's name, when active for this table
    fileMetaCol: Option[String] = None)
  extends PartitionReaderFactory {

  UpsertColumnar.requireSupported(required)

  // both partition shapes serve batches: single files, and SPJ's
  // grouped per-partition-value file sets (batches served file by file)
  override def supportColumnarReads(partition: InputPartition): Boolean = true

  override def createColumnarReader(
      partition: InputPartition): PartitionReader[ColumnarBatch] =
    partition match {
      case f: UpsertFilePartition =>
        new UpsertColumnarPartitionReader(f, required, partitionCol,
          conf.value, skipFilters, aliases = aliases, fileMetaCol = fileMetaCol)
      case g: UpsertFilesPartition =>
        new UpsertMultiFileColumnarReader(g, required, partitionCol,
          conf.value, skipFilters, aliases, fileMetaCol)
    }

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    throw new UnsupportedOperationException("graft-upsert: scans are columnar only")
}

object UpsertTableSource {

  /** The active session's Hadoop configuration, wrapped for executor
    * shipping (factories serialize per task).
    */
  private[io] def serializableConf(): org.apache.spark.util.SerializableConfiguration =
    new org.apache.spark.util.SerializableConfiguration(
      SparkSession.active.sessionState.newHadoopConf())

  /** Opt-in session conf for storage-partitioned-join planning (one
    * input partition per partition value + KeyGroupedPartitioning).
    * Spark's own `spark.sql.sources.v2.bucketing.enabled` must also be
    * on (it is by default in 4.x) for the planner to exploit it.
    */
  val SpjConfKey = "spark.graft.upsert.spj.enabled"

  /** Name of the file-path metadata column ([[UpsertTable]]'s
    * `SupportsMetadataColumns`). Readers serve it ONLY when the table
    * schema does not claim the name (Spark hides the metadata column
    * on conflict; the readers must agree or they would shadow a real
    * data column with the path constant).
    */
  val FileMetadataColumn = "_file"

  /** Session conf gating min/max data skipping (file-level pruning at
    * planning + row-group filtering at read) on residual predicates —
    * default ON; skipping is advisory (Spark re-evaluates the
    * predicates), so the switch exists for debugging/measurement, not
    * correctness.
    */
  val DataSkippingConfKey = "spark.graft.upsert.dataSkipping.enabled"

  /** Target bytes per input split. Files larger than this are planned
    * as multiple byte-range [[UpsertFilePartition]] slices so ONE big
    * file no longer caps scan parallelism — at 100 TB a compacted
    * 1 GB file becomes eight 128 MB tasks, not one straggler. Each
    * parquet row group is served by exactly the slice containing its
    * byte midpoint (the standard split contract), so slicing can never
    * duplicate or drop rows. `0` disables splitting.
    */
  val SplitTargetConfKey = "spark.graft.upsert.split.targetBytes"
  val DefaultSplitTargetBytes: Long = 128L * 1024 * 1024

  /** One task's worth of input bytes in `spark`'s conf
    * ([[SplitTargetConfKey]]; `0` = splitting off). The scan slices
    * files by it, and the sink plans a rewrite no larger than it as one
    * task.
    */
  private[io] def splitTargetBytes(spark: SparkSession): Long =
    scala.util.Try(spark.conf
      .get(SplitTargetConfKey, DefaultSplitTargetBytes.toString).toLong)
      .getOrElse(DefaultSplitTargetBytes)

  /** Slice planned whole-file partitions at the configured target
    * size (driver-side; reads the active session conf). SPJ never
    * routes through this — its planning unit is the partition VALUE.
    */
  private[io] def splitBySize(parts: Array[InputPartition],
      overrideTarget: Option[Long] = None): Array[InputPartition] = {
    val target = overrideTarget.getOrElse(
      scala.util.Try(splitTargetBytes(SparkSession.active)).getOrElse(DefaultSplitTargetBytes))
    if (target <= 0) parts
    else parts.flatMap {
      case p: UpsertFilePartition if p.length > target =>
        // Long arithmetic end to end: a pathologically small target
        // against a big file must fail loudly, never wrap negative and
        // silently drop the file from the scan
        val n = (p.length + target - 1) / target
        require(n <= Int.MaxValue,
          s"graft-upsert: split target ${target}B yields $n slices of " +
            s"${p.filePath} (${p.length}B) — raise $SplitTargetConfKey")
        (0L until n).map { i =>
          val off = i * target
          p.copy(start = off, length = math.min(target, p.length - off))
        }
      case other => Seq(other)
    }
  }

  /** Session conf gating filter-aware statistics reporting
    * ([[UpsertScan.estimateStatistics]]) — default ON. Off, a
    * graft-upsert relation costs Long.MaxValue and never broadcasts;
    * the switch exists to demonstrate/debug exactly that plan flip.
    */
  val ReportStatsConfKey = "spark.graft.upsert.reportStats.enabled"

  /** Above this many surviving files, the statistics estimate skips the
    * per-footer row-count sum (sizeInBytes still reports from the
    * listing; persisted stats MANIFESTS still answer exactly): keeps a
    * full-table cost estimate at 100 TB from serializing millions of
    * footer reads through the driver. The cap is per SCAN, after
    * pruning — selective queries stay exact. System-property override
    * so the spec can exercise the above-cap branch without staging
    * 4097 real files.
    */
  def MaxStatFooterFiles: Int =
    sys.props.get("graft.stats.maxFooterFiles").map(_.toInt).getOrElse(4096)

  /** Fail loudly when a base-only read targets a MOR table with live
    * (unmerged) delta commits — shared by the row scan and the
    * aggregate-pushdown scan.
    */
  private[io] def requireNoLiveDeltas(spark: SparkSession, path: String): Unit = {
    val live = ParquetUpsertSink.listDeltaCommits(spark, path)
    if (live.nonEmpty)
      throw new UnsupportedOperationException(
        s"graft-upsert: $path has ${live.size} unmerged MOR delta commit(s); " +
          "run CALL graft.system.compact (or ParquetUpsertSink.compactMor) to fold " +
          "them, or read the real-time view via ParquetUpsertSink.readMor")
  }

  /** Timestamp-based time travel: the LATEST retained commit at or
    * before `millis` (commit ids lead with zero-padded epoch millis,
    * so lexicographic order is time order), as `Some(commit)`. Newer
    * than the last WRITE = the current state (`None` — nothing has
    * changed since the timestamp), including on live-only tables
    * (keepVersions=1, no archive at all); older than the oldest
    * retained commit fails loudly (pruned pre-images would silently
    * collapse the read to a wrong state). Shared by the catalog's
    * `TIMESTAMP AS OF` load and the reader's `asOfTimestamp` option.
    */
  private[io] def resolveAsOfTimestamp(path: String, millis: Long): Option[String] = {
    val retained = ParquetUpsertSink.listArchivedCommits(SparkSession.active, path)
    val eligible = retained.filter(c =>
      scala.util.Try(c.take(13).toLong).toOption.exists(_ <= millis))
    if (eligible.nonEmpty) Some(eligible.last)
    else if (retained.nonEmpty)
      // every retained commit is NEWER than ts: the state at ts
      // predates the keepVersions window. Decided from commit IDS
      // (zero-padded epoch millis in the name) — deterministic, no
      // filesystem clock involved; the old mtime-based fallback could
      // silently serve the CURRENT state here under clock skew.
      throw new IllegalArgumentException(
        s"graft-upsert: no retained commit at or before timestamp ${millis}ms " +
          s"(epoch) for $path — oldest retained commit is " +
          s"'${retained.head}'; older history is pruned (keepVersions window)")
    else {
      val spark = SparkSession.active
      // live MOR delta commits carry their write time in the commit id
      // too: any delta newer than ts means post-ts writes exist that
      // the base-file listing below would never see — the real-time
      // view is NOT the as-of state. Also decided from ids.
      val deltaNewer = ParquetUpsertSink.listDeltaCommits(spark, path)
        .filter(c => scala.util.Try(c.take(13).toLong).toOption.exists(_ > millis))
      if (deltaNewer.nonEmpty)
        throw new IllegalArgumentException(
          s"graft-upsert: timestamp ${millis}ms (epoch) for $path predates " +
            s"${deltaNewer.size} live MOR delta commit(s) (newest " +
            s"'${deltaNewer.last}') and the table has no archived commits — " +
            "the state at that timestamp is not reconstructible")
      // nothing archived and no newer deltas. If the table's newest
      // write is ALSO at-or-before ts, the current state IS the as-of
      // state — the case a live-only (keepVersions=1) table hits for
      // every timestamp newer than its last commit. Only then fall
      // through to the current-state read; an mtime NEWER than ts
      // means the state at ts is gone and must fail. The mtime check
      // is the one clock-derived input left (live-only tables persist
      // no commit id): its error is bounded by the filesystem's mtime
      // granularity/skew — a ts INSIDE the last write's truncation
      // window reads as at-or-after it. The live-file listing runs
      // only on this rare fallback branch.
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val lastWrite = partitionColOf(path)
        .map(pc => ParquetUpsertSink.liveDataFileStatuses(fs, path, pc))
        .getOrElse {
          // unpartitioned layout: scan the root's own data files — an
          // empty fallback here made lastWrite Long.MinValue, so ANY
          // timestamp (epoch 0 included) silently resolved to the
          // CURRENT state, the silent-wrong-answer this function must
          // turn into a loud failure
          fs.listStatus(new org.apache.hadoop.fs.Path(path))
            .filter(st => st.isFile && !st.getPath.getName.startsWith("_") &&
              !st.getPath.getName.startsWith("."))
        }
        .foldLeft(Long.MinValue)((m, st) => math.max(m, st.getModificationTime))
      if (lastWrite == Long.MinValue)
        // no data files at all: nothing the timestamp could resolve
        // against — refuse rather than serve an empty "current" state
        throw new IllegalArgumentException(
          s"graft-upsert: no retained commit and no live data files for " +
            s"$path — the state at timestamp ${millis}ms is not reconstructible")
      if (lastWrite <= millis) None
      else throw new IllegalArgumentException(
        s"graft-upsert: no retained commit at or before timestamp ${millis}ms " +
          s"(epoch) for $path — the table has no archived commits and was " +
          s"last written at ${lastWrite}ms (newer than the timestamp)")
    }
  }

  /** `asOfTimestamp` reader-option value: epoch milliseconds, or a
    * `yyyy-MM-dd HH:mm:ss[.SSS]` / ISO-8601 instant interpreted in UTC
    * (the session pin).
    */
  private[io] def parseTimestampMillis(ts: String): Long = {
    val t = ts.trim
    if (t.forall(_.isDigit) && t.nonEmpty) t.toLong
    else scala.util.Try(java.time.Instant.parse(t).toEpochMilli).getOrElse {
      val fmt = java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss[.SSS]")
      java.time.LocalDateTime.parse(t, fmt)
        .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
    }
  }

  private[io] def tablePath(options: CaseInsensitiveStringMap): String = {
    val p = Option(options.get("path")).orElse(Option(options.get("paths")))
    p.getOrElse(throw new IllegalArgumentException(
      "graft-upsert: a table path is required (.load(path))"))
  }

  /** Partition-predicate evaluation shared by every scan flavor (row,
    * aggregate-pushdown) — ONE copy of the null semantics, so pushed
    * aggregates can never prune differently than the row scan for the
    * same WHERE clause. Unknown predicate shapes are conservatively
    * kept (no pruning).
    */
  private[io] def matchesPartition(filters: Iterator[Filter], value: String): Boolean =
    filters.forall {
      case EqualTo(_, v) => value != null && value == String.valueOf(v)
      case EqualNullSafe(_, null) => value == null
      case EqualNullSafe(_, v) => value != null && value == String.valueOf(v)
      case In(_, vs) => value != null && vs.exists(v => v != null && String.valueOf(v) == value)
      case IsNull(_) => value == null
      case IsNotNull(_) => value != null
      case _ => true
    }

  /** One [[UpsertFilePartition]] per live data file of the partition
    * dirs surviving `filters` — the planning walk shared by the row
    * scan's default mode and the aggregate-pushdown scan.
    */
  private[io] def planFilePartitions(fs: FileSystem, root: Path,
      partitionCol: Option[String], filters: Array[Filter]): Array[InputPartition] = {
    if (!fs.exists(root)) return Array.empty
    partitionCol match {
      case Some(c) =>
        fs.listStatus(root).iterator
          .map(_.getPath)
          .filter(p => p.getName.startsWith(s"$c="))
          .map(p => p -> dirValue(p.getName.drop(c.length + 1)))
          .filter { case (_, v) => matchesPartition(filters.iterator, v) }
          .flatMap { case (dir, v) => dataFiles(fs, dir)
            .map(f => UpsertFilePartition(f.toString, v)) }
          .toArray[InputPartition]
      case None =>
        dataFiles(fs, root)
          .map(f => UpsertFilePartition(f.toString, null)).toArray[InputPartition]
    }
  }

  /** Live data files of a directory (the sink's part-* naming). */
  private[io] def dataFiles(fs: FileSystem, dir: Path): Seq[Path] =
    dataFileStatuses(fs, dir).map(_.getPath)

  /** Same listing with the [[org.apache.hadoop.fs.FileStatus]] kept —
    * planning carries byte lengths into the partitions it builds so
    * neither split sizing nor the reader pays a second stat RPC.
    */
  private[io] def dataFileStatuses(fs: FileSystem,
      dir: Path): Seq[org.apache.hadoop.fs.FileStatus] =
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq
      .filter(f => f.getPath.getName.startsWith("part-") && f.getLen > 0)

  /** Unescaped partition value; the Hive default-partition dir decodes
    * to null.
    */
  private[io] def dirValue(escaped: String): String =
    if (escaped == ExternalCatalogUtils.DEFAULT_PARTITION_NAME) null
    else ExternalCatalogUtils.unescapePathName(escaped)

  /** The table's partition column: inferred from the `col=value`
    * directory layout, else the persisted `_table.properties` (which
    * keeps a fully-tombstoned catalog table — live dirs all deleted,
    * archive intact — partitioned for time travel and re-inserts).
    * None = genuinely unpartitioned.
    */
  private[io] def partitionColOf(path: String): Option[String] = {
    val root = new Path(path)
    val fs = root.getFileSystem(SparkSession.active.sparkContext.hadoopConfiguration)
    val fromDirs =
      if (!fs.exists(root)) None
      else fs.listStatus(root).iterator.map(_.getPath.getName)
        .collectFirst { case n if !n.startsWith("_") && !n.startsWith(".") && n.contains("=") =>
          n.take(n.indexOf('=')) }
    fromDirs.orElse(GraftUpsertCatalog.tableProps(path).get("partitionCol"))
  }
}
