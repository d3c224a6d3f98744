package graft.io

import java.util.{Map => JMap}

import scala.collection.JavaConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{Identifier, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.{StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Catalog plugin for `graft-upsert` tables — the name-based SQL
  * surface of the table format. Register once per session:
  *
  * {{{
  *   spark.conf: spark.sql.catalog.graft = graft.io.GraftUpsertCatalog
  *               spark.sql.catalog.graft.warehouse = /data/graft   (optional)
  * }}}
  *
  * and the full SQL lifecycle works against it:
  *
  * {{{
  *   CREATE TABLE graft.`/data/t` (id BIGINT, seq BIGINT, dept STRING)
  *     PARTITIONED BY (dept)
  *     TBLPROPERTIES ('recordKeys'='id', 'precombine'='seq')
  *   INSERT INTO graft.`/data/t` SELECT ...      -- append-as-UPSERT
  *   SELECT * FROM graft.`/data/t` WHERE dept='eng'
  *   SELECT * FROM graft.`/data/t` VERSION AS OF '<commitId>'
  *   DELETE FROM graft.`/data/t` WHERE dept='ops'
  *   ALTER TABLE graft.`/data/t` ADD COLUMN note STRING
  *   DROP TABLE graft.`/data/t`
  * }}}
  *
  * Identifiers are paths: a backticked absolute path is used verbatim;
  * otherwise the identifier resolves under the catalog's `warehouse`
  * option (`graft.db.t` → `<warehouse>/db/t`). Table-level upsert
  * config (record keys, precombine, tombstone column) persists in
  * `_table.properties` at the table root at CREATE time, so writers
  * need no per-write options — the same place Hudi keeps
  * `hoodie.properties`.
  *
  * All catalog operations are metadata-scale: a CREATE writes two
  * small files, a DROP removes one directory tree, a load reads
  * `_schema.json` — nothing here scans data.
  */
final class GraftUpsertCatalog extends TableCatalog
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog {

  private var catalogName: String = _
  private var warehouse: Option[String] = None

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Option(options.get("warehouse")).filter(_.nonEmpty)
  }

  override def name(): String = catalogName

  private def hadoopConf =
    SparkSession.active.sparkContext.hadoopConfiguration

  private def pathOf(ident: Identifier): String = {
    val joined = (ident.namespace :+ ident.name).mkString("/")
    // verbatim for absolute local paths AND scheme-qualified URIs
    // (s3a://bucket/t): without the scheme check a qualified path would
    // silently resolve RELATIVE to the warehouse (<w>/s3a:/bucket/t on
    // the wrong filesystem) — no error, and later reads of the real
    // location find nothing
    if (joined.startsWith("/") || joined.contains("://")) joined
    else warehouse match {
      case Some(w) => s"$w/$joined"
      case None => throw new IllegalArgumentException(
        s"graft catalog '$catalogName': identifier '$joined' is relative and no " +
          "'warehouse' catalog option is set — use an absolute (or " +
          "scheme-qualified) backticked path or configure " +
          "spark.sql.catalog." + catalogName + ".warehouse")
    }
  }

  override def tableExists(ident: Identifier): Boolean = {
    val p = new Path(pathOf(ident))
    val fs = p.getFileSystem(hadoopConf)
    fs.exists(new Path(p, ParquetUpsertSink.SchemaFileName)) ||
      (fs.exists(p) && fs.listStatus(p).exists(st =>
        st.isDirectory && st.getPath.getName.contains("=")))
  }

  override def loadTable(ident: Identifier): Table = loadWith(ident, None)

  /** `VERSION AS OF '<commitId>'` time travel: every scan of the loaded
    * table plans the archived commit's file set
    * ([[ParquetUpsertSink.asOfPartitionDirs]]).
    */
  override def loadTable(ident: Identifier, version: String): Table =
    loadWith(ident, Some(version))

  /** `TIMESTAMP AS OF <ts>` time travel: resolve the timestamp to the
    * LATEST retained commit at or before it (commit ids lead with
    * zero-padded epoch millis, so lexicographic order is time order)
    * and plan exactly like `VERSION AS OF` that commit. A timestamp
    * newer than the last commit reads the current state — nothing has
    * changed since; one older than the oldest retained commit fails
    * loudly (its pre-images are pruned, the read would silently
    * collapse to a wrong state). Spark hands the timestamp in
    * MICROseconds since epoch.
    */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    // None = timestamp newer than the last write: the current state
    loadWith(ident, UpsertTableSource.resolveAsOfTimestamp(
      pathOf(ident), timestamp / 1000L))
  }

  private def loadWith(ident: Identifier, asOf: Option[String]): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val path = pathOf(ident)
    new UpsertTable(path, TableSchema.of(path),
      UpsertTableSource.partitionColOf(path), asOf)
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: JMap[String, String]): Table = {
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    val path = pathOf(ident)
    val partitionCol: Option[String] = partitions.toSeq match {
      case Seq() => None
      case Seq(t) if t.name == "identity" =>
        Some(t.references()(0).fieldNames()(0))
      case other => throw new UnsupportedOperationException(
        s"graft-upsert: only single-column identity partitioning is supported, got " +
          other.mkString(", "))
    }
    partitionCol.foreach { c =>
      require(schema.fieldNames.exists(_.equalsIgnoreCase(c)),
        s"partition column '$c' is not in the table schema")
    }
    val pinned = TableSchema.pin(schema, partitionCol)
    val root = new Path(path)
    val fs = root.getFileSystem(hadoopConf)
    fs.mkdirs(root)
    TableSchema.replace(fs, path, pinned)
    val props = new java.util.Properties()
    properties.asScala
      .filterNot { case (k, _) => k.startsWith("option.") || IgnoredProps(k) }
      .foreach { case (k, v) => props.setProperty(k, v) }
    partitionCol.foreach(props.setProperty("partitionCol", _))
    val out = fs.create(new Path(root, GraftUpsertCatalog.TablePropsFileName), true)
    try props.store(out, null) finally out.close()
    new UpsertTable(path, pinned, partitionCol)
  }

  // Spark-managed bookkeeping entries it passes through `properties`
  private val IgnoredProps =
    Set(TableCatalog.PROP_LOCATION, TableCatalog.PROP_PROVIDER,
      TableCatalog.PROP_EXTERNAL, TableCatalog.PROP_OWNER,
      TableCatalog.PROP_COMMENT, TableCatalog.PROP_TABLE_TYPE,
      TableCatalog.PROP_IS_MANAGED_LOCATION, TableCatalog.PROP_COLLATION)

  /** Additive schema evolution (`ADD COLUMN`) and table-property
    * updates; everything else this table format has no physical story
    * for (a column RENAME would strand the data files' field names).
    */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val path = pathOf(ident)
    val root = new Path(path)
    val fs = root.getFileSystem(hadoopConf)
    changes.foreach {
      case add: TableChange.AddColumn => GraftUpsertCatalog.withPropsLock(fs, path) {
        require(add.fieldNames.length == 1,
          "graft-upsert: nested columns are out of scope for this table format")
        val colName = add.fieldNames()(0)
        val cur = TableSchema.of(path)
        // a duplicate (case-insensitive, like every lookup in this
        // format) would write a two-field-one-name schema that breaks
        // every subsequent read — mirror createTable's column check
        require(!cur.fieldNames.exists(_.equalsIgnoreCase(colName)),
          s"graft-upsert: column '$colName' already exists in the table schema")
        // a dropped or renamed-away name is retired: old files still
        // physically store values under it, and by-name resolution
        // would resurrect them into the "new" column
        require(!ColumnAliases.retiredNames(GraftUpsertCatalog.tableProps(path))
            .contains(colName.toLowerCase(java.util.Locale.ROOT)),
          s"graft-upsert: cannot ADD COLUMN '$colName' — old files still " +
            "physically store values under that retired (dropped/renamed) name")
        // evolution is append-at-end only: files written before the
        // change lack the column and null-fill by NAME, so a position
        // request cannot be honored physically
        require(add.position() == null,
          "graft-upsert: ADD COLUMN position (FIRST/AFTER) is not supported — " +
            "new columns append at the end of the schema")
        // files written before the evolution null-fill the column, so a
        // NOT NULL add is unsatisfiable on existing data (Delta's rule)
        require(add.isNullable,
          s"graft-upsert: ADD COLUMN '$colName' must be nullable — " +
            "pre-evolution files null-fill it")
        val evolved = StructType(
          cur.fields :+ StructField(colName, add.dataType, nullable = true))
        TableSchema.replace(fs, path, evolved)
      }
      case upd: TableChange.UpdateColumnType => GraftUpsertCatalog.withPropsLock(fs, path) {
        require(upd.fieldNames.length == 1,
          "graft-upsert: nested columns are out of scope for this table format")
        val colName = upd.fieldNames()(0)
        val cur = TableSchema.of(path)
        val f = cur.fields.find(_.name.equalsIgnoreCase(colName)).getOrElse(
          throw new IllegalArgumentException(
            s"graft-upsert: no column '$colName' in the table schema"))
        // metadata-only evolution: only EXACT widenings are honorable
        // without rewriting the files already on disk (readers promote
        // int32→long/double, float→double). widen() returning anything
        // but the requested type means the request narrows or is lossy.
        require(SchemaWidening.widen(f.dataType, upd.newDataType())
            .contains(upd.newDataType()) && f.dataType != upd.newDataType(),
          s"graft-upsert: ALTER COLUMN '$colName' TYPE ${upd.newDataType()} from " +
            s"${f.dataType} is not an exact widening — only metadata-only type " +
            "promotions (e.g. int→long, float→double) are supported")
        val evolved = StructType(cur.fields.map(x =>
          if (x.name.equalsIgnoreCase(colName)) x.copy(dataType = upd.newDataType())
          else x))
        TableSchema.replace(fs, path, evolved)
      }
      case del: TableChange.DeleteColumn => GraftUpsertCatalog.withPropsLock(fs, path) {
        require(del.fieldNames.length == 1,
          "graft-upsert: nested columns are out of scope for this table format")
        val colName = del.fieldNames()(0)
        val cur = TableSchema.of(path)
        val f = cur.fields.find(_.name.equalsIgnoreCase(colName)).getOrElse(
          throw new IllegalArgumentException(
            s"graft-upsert: no column '$colName' in the table schema"))
        requireNotStructural(path, colName, "DROP")
        // metadata-only: files keep the physical column, the schema
        // stops projecting it. The name retires permanently
        // (droppedColumns) — re-adding it would resurrect dead values
        // from files that still store it. LINEAGE FIRST, then schema
        // (the crash-safe order renameColumn documents): a crash after
        // the retirement but before the shrink leaves the column live
        // AND retired (harmless — re-running the DROP completes it),
        // where the reverse order left it dropped-but-not-retired and a
        // later ADD COLUMN of the same name would resurrect dead values.
        updateProps(fs, root) { props =>
          val m = props.asScala.toMap
          props.setProperty(ColumnAliases.DroppedProp,
            ColumnAliases.appendDropped(m, f.name))
        }
        val evolved = StructType(cur.fields.filterNot(_ eq f))
        TableSchema.replace(fs, path, evolved)
      }
      // NOT lock-wrapped: renameColumn takes the SINK's commit lock
      // (and re-records lineage through updateProps itself) — holding
      // the props lock across a commit-lock acquisition would invert
      // the order sink paths use and deadlock. The metadata-only
      // cases above hold the props lock around their whole
      // read-check-write sequence, so two concurrent catalog ALTERs
      // can no longer both read `cur` and silently lose one change.
      case ren: TableChange.RenameColumn =>
        require(ren.fieldNames.length == 1,
          "graft-upsert: nested columns are out of scope for this table format")
        val from = ren.fieldNames()(0)
        val to = ren.newName()
        val cur = TableSchema.of(path)
        require(cur.fieldNames.exists(_.equalsIgnoreCase(from)),
          s"graft-upsert: no column '$from' in the table schema")
        require(!cur.fieldNames.exists(_.equalsIgnoreCase(to)),
          s"graft-upsert: column '$to' already exists in the table schema")
        requireNotStructural(path, from, "RENAME")
        require(!ColumnAliases.retiredNames(GraftUpsertCatalog.tableProps(path))
            .contains(to.toLowerCase(java.util.Locale.ROOT)),
          s"graft-upsert: cannot rename to '$to' — old files still physically " +
            "store values under that retired name; reusing it would resurrect them")
        // rewriting ALTER: live files rewrite under the new name in one
        // locked pass (Delta's pre-column-mapping semantics); archived
        // history keeps the old name and readers resolve it through the
        // recorded alias (ColumnAliases)
        require(UpsertTableSource.partitionColOf(path).isDefined,
          s"graft-upsert: RENAME COLUMN requires the partitioned table " +
            s"layout (the rewrite works partition by partition): $path")
        GraftProcedures.sinkFor(path).renameColumn(SparkSession.active, from, to)
      case set: TableChange.SetProperty =>
        updateProps(fs, root)(_.setProperty(set.property, set.value))
      case rm: TableChange.RemoveProperty =>
        updateProps(fs, root)(_.remove(rm.property))
      case other => throw new UnsupportedOperationException(
        s"graft-upsert: unsupported table change $other")
    }
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    if (!tableExists(ident)) return false
    val p = new Path(pathOf(ident))
    p.getFileSystem(hadoopConf).delete(p, true)
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    if (!tableExists(oldIdent)) throw new NoSuchTableException(oldIdent)
    if (tableExists(newIdent)) throw new TableAlreadyExistsException(newIdent)
    val fs = new Path(pathOf(oldIdent)).getFileSystem(hadoopConf)
    if (!fs.rename(new Path(pathOf(oldIdent)), new Path(pathOf(newIdent))))
      throw new java.io.IOException(
        s"rename failed: ${pathOf(oldIdent)} -> ${pathOf(newIdent)}")
  }

  override def listTables(namespace: Array[String]): Array[Identifier] =
    warehouse match {
      case None => Array.empty
      case Some(w) =>
        val dir = new Path((w +: namespace.toSeq).mkString("/"))
        val fs = dir.getFileSystem(hadoopConf)
        if (!fs.exists(dir)) Array.empty
        else fs.listStatus(dir)
          .filter(st => st.isDirectory &&
            tableExists(Identifier.of(namespace, st.getPath.getName)))
          .map(st => Identifier.of(namespace, st.getPath.getName))
    }

  /** `CALL graft.system.<proc>(...)` — table-service maintenance as SQL
    * ([[GraftProcedures]]: compact, optimize_zorder, expire_commits,
    * sweep_staging).
    */
  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure = {
    require(ident.namespace.sameElements(Array("system")),
      s"graft catalog: procedures live in the 'system' namespace, got " +
        ident.namespace.mkString("."))
    GraftProcedures.load(ident.name)
  }

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.sameElements(Array("system")))
      GraftProcedures.names.map(Identifier.of(Array("system"), _)).toArray
    else Array.empty

  /** DROP/RENAME must not touch the columns the format is built on:
    * the partition column (directory layout), record keys and
    * precombine (merge semantics), and the tombstone column.
    */
  private def requireNotStructural(path: String, colName: String,
      what: String): Unit = {
    val props = GraftUpsertCatalog.tableProps(path)
    val structural: Seq[String] =
      UpsertTableSource.partitionColOf(path).toSeq ++
        props.get("recordKeys").toSeq.flatMap(_.split(',').map(_.trim)) ++
        props.get("precombine").toSeq ++ props.get("deleteCol").toSeq
    require(!structural.exists(_.equalsIgnoreCase(colName)),
      s"graft-upsert: cannot $what column '$colName' — it is structural " +
        s"(partition/recordKey/precombine/deleteCol: ${structural.mkString(", ")})")
  }

  private def updateProps(fs: org.apache.hadoop.fs.FileSystem, root: Path)(
      f: java.util.Properties => Unit): Unit =
    GraftUpsertCatalog.updateProps(fs, root.toString)(f)
}

object GraftUpsertCatalog {

  /** Table-level config at the table root (`hoodie.properties` analog):
    * partitionCol plus the upsert write config (recordKeys, precombine,
    * deleteCol) persisted at CREATE TABLE time, so writes by name need
    * no per-write options. Java-Properties text format — escaping
    * handled by the JDK, no parser dependency.
    */
  val TablePropsFileName = "_table.properties"

  /** The FIXED staging name every properties update writes through.
    * Updates are commit-lock-serialized, so one name suffices — and a
    * fixed name is what makes crash RECOVERY a single exists probe
    * instead of a table-root listing.
    */
  val PropsTmpName: String = s".$TablePropsFileName.tmp"

  /** The persisted table properties, empty when the file is absent
    * (tables created by the sink rather than the catalog).
    */
  def tableProps(path: String): Map[String, String] = {
    val p = new Path(s"$path/$TablePropsFileName")
    val fs = p.getFileSystem(SparkSession.active.sparkContext.hadoopConfiguration)
    loadProps(fs, path).asScala.toMap
  }

  /** Crash-safe load of `_table.properties`: when the canonical file
    * is absent but the update discipline's tmp survives (a writer died
    * between its delete and rename), the tmp holds the COMPLETE
    * intended state — recordKeys, keepVersions, the column-rename
    * lineage — and is served and promoted back (best effort) rather
    * than silently degrading to an empty property set (which would
    * null-fill renamed columns in history reads and drop merge keys).
    * The extra probe costs nothing on the common present path.
    *
    * A TRANSIENT read failure of an EXISTING file PROPAGATES — it must
    * never be served as "no properties": readers would silently
    * null-fill renamed columns, and an updateProps built on the empty
    * set would PERSIST it, permanently erasing the table's config.
    * Only a FileNotFound raced against a concurrent updater's
    * delete→rename window retries (bounded), since the file
    * deterministically reappears.
    */
  def loadProps(fs: org.apache.hadoop.fs.FileSystem,
      path: String): java.util.Properties = {
    val p = new Path(s"$path/$TablePropsFileName")
    var attempt = 0
    while (true) {
      val props = new java.util.Properties()
      def load(from: Path): Unit = {
        val in = fs.open(from)
        try props.load(in) finally in.close()
      }
      try {
        var absentRounds = 0
        while (true) {
          if (fs.exists(p)) { load(p); return props }
          val tmp = new Path(s"$path/$PropsTmpName")
          if (fs.exists(tmp)) {
            // complete by construction: the tmp is fully written and
            // closed BEFORE the canonical delete, so tmp-present +
            // canonical-absent implies a crash in the rename window
            load(tmp)
            fs.rename(tmp, p)
            return props
          }
          // On atomic-rename stores (local POSIX, HDFS) updateProps
          // overwrites the canonical IN PLACE (TableSchema.replaceFile),
          // so a table that has properties NEVER shows the canonical
          // absent — absent+absent here genuinely
          // means propertyless (sink-created). The re-probe round is
          // the net for the residual cases: a crash between tmp write
          // and rename (tmp-recovery above), and object stores whose
          // rename is copy+delete (where a reader can sample the
          // window; one extra no-sleep round makes a completed rename
          // visible, and a mid-cycle update leaves its tmp visible).
          absentRounds += 1
          if (absentRounds >= 2) return props
        }
        throw new IllegalStateException("unreachable")
      } catch {
        case e: java.io.FileNotFoundException =>
          // exists→open raced a concurrent updater's (or promoting
          // reader's) window; the canonical reappears in microseconds
          attempt += 1
          if (attempt >= 5) throw e
          Thread.sleep(20L * attempt)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** The exclusive-create lock every [[updateProps]] takes: sink
    * callers already serialize through the commit lock, but the
    * catalog's ALTER TABLE paths do not — two unserialized updates
    * through the FIXED tmp name could interleave delete/rename into a
    * state with NO properties file at all. Stale locks (a crashed
    * updater) break by age.
    */
  val PropsLockName: String = s".$TablePropsFileName.lock"
  private val PropsLockTimeoutMs = 60000L

  private val propsMonitors =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  // per-thread reentrancy: the catalog's ALTER paths hold the lock
  // around their whole read-check-write sequence, and DROP's inner
  // updateProps re-enters — without a depth guard the second file-lock
  // create would deadlock against our own lock file until timeout
  private val propsLockDepth = new ThreadLocal[java.util.HashMap[String, Integer]] {
    override def initialValue = new java.util.HashMap[String, Integer]()
  }

  private[io] def withPropsLock[A](fs: org.apache.hadoop.fs.FileSystem,
      path: String)(body: => A): A =
    // intra-JVM updates serialize on a monitor (create-exclusive is
    // only advisory on local filesystems — the exists probe isn't
    // atomic there); the FILE lock below covers cross-process updates
    // on HDFS-semantics stores, where create(overwrite=false) is atomic
    propsMonitors.computeIfAbsent(path, _ => new Object).synchronized {
      val depths = propsLockDepth.get
      if (depths.getOrDefault(path, 0) > 0) body
      else {
        depths.put(path, 1)
        try withPropsFileLock(fs, path)(body)
        finally { depths.remove(path); () }
      }
    }

  private def withPropsFileLock[A](fs: org.apache.hadoop.fs.FileSystem,
      path: String)(body: => A): A = {
    val lock = new Path(s"$path/$PropsLockName")
    val deadline = System.currentTimeMillis() + PropsLockTimeoutMs
    var held = false
    while (!held) {
      try { fs.create(lock, false).close(); held = true }
      catch { case _: java.io.IOException =>
        // deadline applies to EVERY path through the loop — the former
        // shape checked it only on the not-stale branch, so a stale
        // lock whose delete keeps failing (stat-but-not-delete ACLs)
        // busy-spun forever
        if (System.currentTimeMillis() > deadline)
          throw new java.io.IOException(
            s"graft-upsert: timed out waiting for the properties lock $lock")
        val stale =
          try System.currentTimeMillis() -
            fs.getFileStatus(lock).getModificationTime > PropsLockTimeoutMs
          catch { case _: java.io.IOException => false } // vanished: retry
        if (stale) {
          // FENCED break via atomic rename to a breaker-unique name
          // (the sink's commit-lock recipe): a bare delete lets waiter
          // A stat a stale lock, waiter B delete+recreate it, and A's
          // late delete remove B's FRESH lock — two holders. Exactly
          // one renamer can win; a loser just loops.
          val claim = new Path(
            s"$path/$PropsLockName.broken.${java.util.UUID.randomUUID()}")
          try { if (fs.rename(lock, claim)) { fs.delete(claim, false); () } }
          catch { case _: java.io.IOException => () }
        }
        Thread.sleep(50)
      }
    }
    try body finally {
      try { fs.delete(lock, false); () }
      catch { case _: java.io.IOException => () }
    }
  }

  /** Crash-safe read-modify-write of `_table.properties` (tmp, then
    * one rename over it, [[TableSchema.replaceFile]]): a concurrent
    * reader sees old-complete, new-complete, or recovers the surviving tmp via [[loadProps]] — never a
    * truncated file, and a crash in the window no longer erases the
    * table's lineage. Updates SERIALIZE through [[PropsLockName]]
    * (the sink's commit lock alone doesn't cover the catalog's
    * ALTER TABLE paths); a transient failure loading the existing
    * file aborts the update loudly instead of persisting a near-empty
    * property set over the table's config.
    */
  def updateProps(fs: org.apache.hadoop.fs.FileSystem, path: String)(
      f: java.util.Properties => Unit): Unit = withPropsLock(fs, path) {
    val props = loadProps(fs, path)
    f(props)
    val p = new Path(s"$path/$TablePropsFileName")
    val tmp = new Path(s"$path/$PropsTmpName")
    try TableSchema.replaceFile(fs, tmp, p)(props.store(_, null))
    catch {
      case e: java.io.IOException =>
        // a crashed predecessor's recovery (loadProps promoting a
        // surviving tmp) can race in here; if the intended state is
        // already on disk the update succeeded — anything else stays loud
        if (loadProps(fs, path) != props)
          throw new java.io.IOException(
            s"table properties rename failed: $tmp -> $p", e)
    }
  }
}
