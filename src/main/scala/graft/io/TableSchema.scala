package graft.io

import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path, UnsupportedFileSystemException}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{DataType, StringType, StructType}

/** One writer's cached view of a table's schema ([[TableSchema$]] owns
  * the file). A steady commit pays one stat: the view is kept for the
  * writer's lifetime and dropped when the file's modification time
  * moves under it (another writer's ALTER TABLE — a stale view would
  * read post-rename files with the old name and silently null-fill).
  * Concurrent writers must not evolve one table's schema concurrently:
  * one writer's view would miss the other's new column.
  *
  * The writer's nullability: every field is nullable. A batch's
  * non-nullable column (a literal, a case-class field) must not pin the
  * TABLE schema non-nullable — pre-evolution files null-fill the
  * column, and Catalyst would constant-fold `col IS NULL` to false over
  * rows that are in fact null.
  */
final class TableSchema(path: String, partitionCol: String) {

  @volatile private var cached: Option[StructType] = None
  // whether the file holds `cached` — false after the legacy inference
  // fallback (or an unreadable file), so the next commit writes it
  @volatile private var persisted = false
  // the file's modification time when `cached` was loaded or written
  @volatile private var mtime = -1L

  private def pin(s: StructType): StructType =
    TableSchema.pin(s, Some(partitionCol), nullable = true)

  /** The table schema: the cached view, else the file. No inference —
    * None means the table predates the file (or the file is unreadable;
    * the next commit rewrites it).
    */
  def current(fs: FileSystem): Option[StructType] = {
    if (cached.isDefined && persisted && TableSchema.modTime(fs, path) != mtime) {
      cached = None
      persisted = false
    }
    if (cached.isEmpty) {
      val loaded = TableSchema.load(fs, path)
      loaded.foreach { case (_, t) => mtime = t }
      persisted = loaded.isDefined
      cached = loaded.map(_._1)
    }
    cached
  }

  /** [[current]], else — a table that predates the file — the footer
    * inference over `dirs`, once: the inferred view is cached, and the
    * next commit persists it.
    */
  def currentOrInfer(spark: SparkSession, fs: FileSystem,
      dirs: => Seq[Path]): Option[StructType] = {
    if (current(fs).isEmpty) {
      val ds = dirs
      if (ds.nonEmpty) cached = Some(infer(spark, ds))
    }
    cached
  }

  /** The pinned footer inference over `dirs`, not cached (`dirs` may be
    * an archived commit's). Legacy tables only.
    */
  def infer(spark: SparkSession, dirs: Seq[Path], base: String = path): StructType =
    pin(TableSchema.infer(spark, base, dirs))

  /** Persist `schema` (pinned) when the file does not already hold it.
    * Callers write the schema BEFORE the data that makes it real: a
    * crash between the two leaves a superset schema on disk (harmless —
    * the replay re-delivers the columns), where the reverse order would
    * leave a narrower schema than the files, and a later merge would
    * silently drop, then erase, the new column.
    */
  def replace(fs: FileSystem, schema: StructType): Unit = {
    val pinned = pin(schema)
    if (!persisted || !cached.contains(pinned)) {
      mtime = TableSchema.replace(fs, path, pinned)
      cached = Some(pinned)
      persisted = true
    }
  }

  /** Grow the table schema ADDITIVELY by `incoming`'s fields: the
    * current columns always survive, so a narrow batch (or a
    * touched-partition merge) never shrinks the schema on disk. Shared
    * columns WIDEN by the exact-promotion lattice ([[SchemaWidening]])
    * and fail loudly on a lossy change — with the type rule in
    * [[TableSchema.replace]], this is every commit's type gate, run
    * before its data is written.
    */
  def widenBy(fs: FileSystem, incoming: StructType): Unit = {
    val p = pin(incoming)
    replace(fs, current(fs) match {
      case Some(cur) => StructType(SchemaWidening.widenFields(cur, p, "batch").fields ++
        p.fields.filterNot(f => cur.fieldNames.exists(_.equalsIgnoreCase(f.name))))
      case None => p
    })
  }
}

/** The one owner of a table's schema on disk: `_schema.json` at the
  * table root, the writer schema as of the latest commit (Hudi keeps
  * the writer schema in commit metadata rather than re-scanning parquet
  * footers each batch; this file is that analog). It is a superset of
  * every live, archived and delta file's columns: evolution only adds
  * columns and widens types, so narrow files promote on read and
  * pre-evolution files null-fill. Only this object opens, creates or
  * renames the file: one loader, one atomic replace (with the format's
  * type rule), one partition pin and one legacy footer inference for
  * tables written before the file existed.
  */
object TableSchema {

  /** The file's name; the leading underscore hides it from parquet
    * readers of the table root.
    */
  val FileName = "_schema.json"

  private def file(path: String) = new Path(path, FileName)

  /** The file's schema and modification time. None when the file is
    * absent (a table that predates it) or unreadable.
    */
  def load(fs: FileSystem, path: String): Option[(StructType, Long)] =
    scala.util.Try {
      val mtime = fs.getFileStatus(file(path)).getModificationTime
      val in = fs.open(file(path))
      val json = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
      (DataType.fromJson(json).asInstanceOf[StructType], mtime)
    }.toOption

  /** The file's modification time, -1 when absent. */
  private def modTime(fs: FileSystem, path: String): Long =
    scala.util.Try(fs.getFileStatus(file(path)).getModificationTime).getOrElse(-1L)

  /** The table schema for a reader without a writer's view (the
    * connector, the catalog): the file, else the footer inference over
    * the live partition dirs (the root when unpartitioned).
    */
  def of(path: String): StructType = {
    val spark = SparkSession.active
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    load(fs, path).map(_._1).getOrElse {
      val pc = UpsertTableSource.partitionColOf(path)
      val dirs =
        if (!fs.exists(root)) Seq.empty
        else pc match {
          case Some(c) => fs.listStatus(root).toSeq.map(_.getPath)
            .filter(p => p.getName.startsWith(s"$c=") &&
              UpsertTableSource.dataFiles(fs, p).nonEmpty)
          case None => Seq(root).filter(UpsertTableSource.dataFiles(fs, _).nonEmpty)
        }
      if (dirs.isEmpty)
        throw new IllegalArgumentException(
          s"graft-upsert: no $FileName and no live data under $path")
      pin(infer(spark, path, dirs), pc)
    }
  }

  /** The partition pin: the partition column is STRING, its
    * directory-name identity — what every touched-partition set
    * compares against. Plain inference would read "00123" as 123, the
    * touched filter would never match, and a merge would silently drop
    * the partition's rows. `nullable` relaxes every field (the writer's
    * rule, see [[TableSchema]]); otherwise each field keeps its
    * nullability (a declared NOT NULL survives).
    */
  def pin(s: StructType, partitionCol: Option[String],
      nullable: Boolean = false): StructType =
    StructType(s.map { f =>
      val g = if (nullable) f.copy(nullable = true) else f
      if (partitionCol.exists(_.equalsIgnoreCase(f.name))) g.copy(dataType = StringType)
      else g
    })

  /** The legacy fallback: the merged footer schema of `dirs`, for
    * tables written before the file existed. Spark's schema merge
    * refuses int+bigint (CANNOT_MERGE_SCHEMAS) even though its reader
    * promotes either — one reason every table written now reads with
    * the file instead.
    */
  private def infer(spark: SparkSession, base: String, dirs: Seq[Path]): StructType =
    spark.read.option("mergeSchema", "true").option("basePath", base)
      .parquet(dirs.map(_.toString): _*).schema

  /** Replace the file with `schema`, after the format's type rule
    * ([[UpsertColumnar.requireSupported]]): every write of a table
    * schema passes here before its data, so a column type the connector
    * cannot scan is refused before any data file is written. Returns
    * the file's new modification time.
    */
  def replace(fs: FileSystem, path: String, schema: StructType): Long = {
    UpsertColumnar.requireSupported(schema)
    val tmp = new Path(path, s".$FileName.${java.util.UUID.randomUUID()}.tmp")
    replaceFile(fs, tmp, file(path))(
      _.write(schema.json.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    modTime(fs, path)
  }

  /** Replace `target` with what `write` produces so that a reader never
    * finds it missing: write `tmp`, then rename it over `target` in one
    * step. On the local store that is rename(2), which replaces in place
    * (Hadoop's local rename refuses an existing target, and its
    * `Rename.OVERWRITE` deletes first). It writes no checksum sidecar
    * and drops stale ones first, so a checked read sees the old or the
    * new bytes, never new bytes against an old checksum. Other stores
    * rename through `FileContext` with `Rename.OVERWRITE` (atomic on
    * HDFS); one with no `FileContext` binding falls back to
    * delete→rename.
    * `_table.properties` shares it ([[GraftUpsertCatalog.updateProps]]).
    */
  private[io] def replaceFile(fs: FileSystem, tmp: Path, target: Path)(
      write: java.io.OutputStream => Unit): Unit =
    if (fs.getUri.getScheme == "file") {
      def local(p: Path) = java.nio.file.Paths.get(fs.makeQualified(p).toUri)
      Seq(tmp, target).foreach(p => java.nio.file.Files.deleteIfExists(
        local(new Path(p.getParent, s".${p.getName}.crc"))))
      val out = java.nio.file.Files.newOutputStream(local(tmp))
      try write(out) finally out.close()
      java.nio.file.Files.move(local(tmp), local(target),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    } else {
      val out = fs.create(tmp, true)
      try write(out) finally out.close()
      try FileContext.getFileContext(target.toUri, fs.getConf)
        .rename(tmp, target, Options.Rename.OVERWRITE)
      catch {
        case _: UnsupportedFileSystemException =>
          fs.delete(target, false)
          if (!fs.rename(tmp, target))
            throw new java.io.IOException(s"graft-upsert: rename failed: $tmp -> $target")
      }
    }
}
