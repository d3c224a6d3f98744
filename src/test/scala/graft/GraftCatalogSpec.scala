package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.io.{GraftUpsertCatalog, ParquetUpsertSink}

/** Catalog plugin + SQL row-level surface for graft-upsert tables:
  * CREATE TABLE / INSERT INTO (upsert semantics) / SELECT / DELETE FROM
  * / TRUNCATE / VERSION AS OF / ALTER TABLE / DROP TABLE by name, plus
  * the sink-level copy-on-write delete underneath it all.
  */
class GraftCatalogSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString + "/t"

  // ——— sink-level delete (the machinery under SQL DELETE) ———

  private def seedSink(dir: String, keepVersions: Int = 1): ParquetUpsertSink = {
    val sink = ParquetUpsertSink(dir, Seq("id"), "seq", "dept", keepVersions = keepVersions)
    sink.upsert(Seq(
      (1L, 10L, "eng", 100.0), (2L, 10L, "eng", 200.0),
      (3L, 10L, "ops", 300.0), (4L, 10L, "ops", 400.0),
      (5L, 10L, "hr", 500.0)
    ).toDF("id", "seq", "dept", "amount"), 0)
    sink
  }

  test("sink delete removes matching rows, rewrites only matched partitions") {
    val dir = tmp("del")
    val sink = seedSink(dir)
    // snapshot the untouched partition's file set before the delete
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def files(p: String): Seq[(String, Long)] =
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/dept=$p"))
        .filter(_.getPath.getName.startsWith("part-"))
        .map(st => (st.getPath.getName, st.getModificationTime)).toSeq.sorted
    val hrBefore = files("hr")
    val touched = sink.delete(spark, col("amount") < 250.0)
    assert(touched.toSet == Set("eng")) // only eng had matches
    val left = spark.read.parquet(dir).select("id").as[Long].collect().toSet
    assert(left == Set(3L, 4L, 5L))
    // untouched partitions were not rewritten (same files, same mtimes)
    assert(files("hr") == hrBefore)
    assert(files("ops").nonEmpty)
  }

  test("sink delete NULL condition keeps the row (SQL DELETE semantics)") {
    val dir = tmp("delnull")
    val sink = ParquetUpsertSink(dir, Seq("id"), "seq", "dept")
    sink.upsert(Seq(
      (1L, 1L, "a", Some(1.0)), (2L, 1L, "a", None), (3L, 1L, "a", Some(9.0))
    ).toDF("id", "seq", "dept", "amount"), 0)
    sink.delete(spark, col("amount") < 5.0) // NULL < 5.0 is NULL -> keep
    val left = spark.read.parquet(dir).select("id").as[Long].collect().toSet
    assert(left == Set(2L, 3L))
  }

  test("sink delete drops directories of fully-deleted partitions") {
    val dir = tmp("deldir")
    val sink = seedSink(dir)
    sink.delete(spark, col("dept") === "ops")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/dept=ops")))
    assert(spark.read.parquet(dir).count() == 3)
    // no-match delete is a no-op
    assert(sink.delete(spark, col("dept") === "nope").isEmpty)
  }

  test("sink delete archives pre-images under keepVersions (time-travel visible)") {
    val dir = tmp("delarch")
    val sink = seedSink(dir, keepVersions = 3)
    sink.delete(spark, col("id") === 1L, batchId = 1L)
    val commits = ParquetUpsertSink.listArchivedCommits(spark, dir)
    assert(commits.size == 2) // seed commit + delete commit
    // as of the seed commit (before the delete), id=1 still exists
    val asOf = sink.readAsOf(spark, commits.head)
    assert(asOf.select("id").as[Long].collect().toSet == Set(1L, 2L, 3L, 4L, 5L))
    assert(spark.read.parquet(dir).select("id").as[Long].collect().toSet
      == Set(2L, 3L, 4L, 5L))
  }

  // ——— catalog: full SQL lifecycle by name ———

  test("SQL lifecycle: CREATE/INSERT(upsert)/SELECT/DELETE/VERSION AS OF/DROP") {
    val dir = tmp("cat")
    val t = s"graft.`$dir`"
    spark.sql(
      s"""CREATE TABLE $t (id BIGINT, seq BIGINT, dept STRING, amount DOUBLE)
         |PARTITIONED BY (dept)
         |TBLPROPERTIES ('recordKeys'='id', 'precombine'='seq', 'keepVersions'='4')
         |""".stripMargin)
    assert(spark.sql(s"SELECT * FROM $t").count() == 0)

    spark.sql(s"INSERT INTO $t VALUES (1, 1, 'eng', 10.0), (2, 1, 'ops', 20.0)")
    // INSERT is UPSERT: same key wins by precombine, not duplicated
    spark.sql(s"INSERT INTO $t VALUES (1, 2, 'eng', 11.5), (3, 1, 'hr', 30.0)")
    val rows = spark.sql(s"SELECT id, amount FROM $t ORDER BY id")
      .as[(Long, Double)].collect().toSeq
    assert(rows == Seq((1L, 11.5), (2L, 20.0), (3L, 30.0)))

    // partition pruning works by name too
    val pruned = spark.sql(s"SELECT id FROM $t WHERE dept = 'ops'")
    assert(pruned.as[Long].collect().toSeq == Seq(2L))
    assert(pruned.rdd.getNumPartitions == 1)

    // DELETE FROM with a residual (non-partition) predicate
    spark.sql(s"DELETE FROM $t WHERE amount > 15.0")
    assert(spark.sql(s"SELECT id FROM $t").as[Long].collect().toSet == Set(1L))

    // time travel: the table as of the SECOND insert commit (before the
    // delete) — VERSION AS OF c is the state immediately after commit c
    val commits = ParquetUpsertSink.listArchivedCommits(spark, dir)
    assert(commits.size == 3) // two inserts + one delete
    val v1 = spark.sql(
      s"SELECT id, amount FROM $t VERSION AS OF '${commits(1)}' ORDER BY id")
      .as[(Long, Double)].collect().toSeq
    assert(v1 == Seq((1L, 11.5), (2L, 20.0), (3L, 30.0)))

    assert(spark.sql(s"SHOW TABLES IN graft").count() >= 0) // namespace listing is defined
    spark.sql(s"DROP TABLE $t")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir)))
  }

  test("TIMESTAMP AS OF resolves to the latest commit at or before the timestamp") {
    val dir = tmp("catts")
    val t = s"graft.`$dir`"
    spark.sql(
      s"""CREATE TABLE $t (id BIGINT, seq BIGINT, dept STRING, amount DOUBLE)
         |PARTITIONED BY (dept)
         |TBLPROPERTIES ('recordKeys'='id', 'precombine'='seq', 'keepVersions'='4')
         |""".stripMargin)
    spark.sql(s"INSERT INTO $t VALUES (1, 1, 'eng', 10.0), (2, 1, 'ops', 20.0)")
    Thread.sleep(5) // commit ids carry epoch millis; keep them distinct
    spark.sql(s"INSERT INTO $t VALUES (1, 2, 'eng', 11.5), (3, 1, 'hr', 30.0)")
    Thread.sleep(5)
    spark.sql(s"DELETE FROM $t WHERE amount > 15.0")

    val commits = ParquetUpsertSink.listArchivedCommits(spark, dir)
    assert(commits.size == 3)
    def millisOf(c: String): Long = c.take(13).toLong
    def utc(ms: Long): String =
      java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
        .format(java.time.Instant.ofEpochMilli(ms)
          .atZone(java.time.ZoneOffset.UTC).toLocalDateTime)

    // between the 2nd insert and the delete: state after commit 2
    val mid = utc(millisOf(commits(2)) - 1)
    assert(spark.sql(s"SELECT id FROM $t TIMESTAMP AS OF '$mid'")
      .as[Long].collect().toSet == Set(1L, 2L, 3L))
    // after everything: the current state
    val now = utc(System.currentTimeMillis())
    assert(spark.sql(s"SELECT id FROM $t TIMESTAMP AS OF '$now'")
      .as[Long].collect().toSet == Set(1L))
    // before the first commit: loud failure, never a silent empty state
    val early = utc(millisOf(commits(0)) - 1000)
    val err = intercept[Exception](
      spark.sql(s"SELECT id FROM $t TIMESTAMP AS OF '$early'").collect())
    assert(err.getMessage.contains("no retained commit"))

    // reader-option flavor: epoch millis and an ISO instant both work
    val byOpt = spark.read.format("graft-upsert")
      .option("asOfTimestamp", (millisOf(commits(2)) - 1).toString).load(dir)
    assert(byOpt.select("id").as[Long].collect().toSet == Set(1L, 2L, 3L))
    val byIso = spark.read.format("graft-upsert")
      .option("asOfTimestamp",
        java.time.Instant.ofEpochMilli(millisOf(commits(2)) - 1).toString)
      .load(dir)
    assert(byIso.select("id").as[Long].collect().toSet == Set(1L, 2L, 3L))
    spark.sql(s"DROP TABLE $t")
  }

  test("TIMESTAMP AS OF newer than the last write reads the CURRENT state on a live-only table") {
    val dir = tmp("cattslive")
    val t = s"graft.`$dir`"
    // keepVersions=1: NO archive at all — the resolver used to reject
    // every timestamp here, contradicting its own "newer than the last
    // commit = the current state" contract
    spark.sql(
      s"""CREATE TABLE $t (id BIGINT, seq BIGINT, dept STRING, amount DOUBLE)
         |PARTITIONED BY (dept)
         |TBLPROPERTIES ('recordKeys'='id', 'precombine'='seq', 'keepVersions'='1')
         |""".stripMargin)
    spark.sql(s"INSERT INTO $t VALUES (1, 1, 'eng', 10.0), (2, 1, 'ops', 20.0)")
    assert(ParquetUpsertSink.listArchivedCommits(spark, dir).isEmpty)
    def utc(ms: Long): String =
      java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
        .format(java.time.Instant.ofEpochMilli(ms)
          .atZone(java.time.ZoneOffset.UTC).toLocalDateTime)
    Thread.sleep(5) // mtime granularity: "now" must be strictly after the write
    assert(spark.sql(
      s"SELECT id FROM $t TIMESTAMP AS OF '${utc(System.currentTimeMillis())}'")
      .as[Long].collect().toSet == Set(1L, 2L))
    // reader-option flavor, with a far-future timestamp
    assert(spark.read.format("graft-upsert")
      .option("asOfTimestamp", (System.currentTimeMillis() + 3600000L).toString)
      .load(dir).select("id").as[Long].collect().toSet == Set(1L, 2L))
    // a timestamp BEFORE the last write still fails loudly: that state
    // is pruned and must never silently collapse to current or empty
    val err = intercept[Exception](spark.sql(
      s"SELECT id FROM $t TIMESTAMP AS OF '${utc(System.currentTimeMillis() - 3600000L)}'")
      .collect())
    assert(err.getMessage.contains("no retained commit"))
    spark.sql(s"DROP TABLE $t")
  }

  test("_table.properties update crash window: the surviving tmp recovers the lineage") {
    val dir = tmp("catprops")
    val t = s"graft.`$dir`"
    spark.sql(
      s"""CREATE TABLE $t (id BIGINT, seq BIGINT, dept STRING, amount DOUBLE)
         |PARTITIONED BY (dept)
         |TBLPROPERTIES ('recordKeys'='id', 'precombine'='seq', 'keepVersions'='4')
         |""".stripMargin)
    spark.sql(s"INSERT INTO $t VALUES (1, 1, 'eng', 10.0)")
    spark.sql(s"ALTER TABLE $t RENAME COLUMN amount TO price")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val propsP = new org.apache.hadoop.fs.Path(
      s"$dir/${GraftUpsertCatalog.TablePropsFileName}")
    val before = GraftUpsertCatalog.tableProps(dir)
    assert(before.contains("recordKeys") &&
      before.contains(graft.io.ColumnAliases.RenamesProp))
    // crash between the update discipline's delete and rename: the
    // canonical file is GONE, only the completed tmp survives
    val tmpP = new org.apache.hadoop.fs.Path(
      s"$dir/${GraftUpsertCatalog.PropsTmpName}")
    org.apache.hadoop.fs.FileUtil.copy(fs, propsP, fs, tmpP, false, fs.getConf)
    fs.delete(propsP, false)
    assert(GraftUpsertCatalog.tableProps(dir) == before,
      "the surviving tmp must serve the full property set, never Map.empty")
    assert(fs.exists(propsP), "recovery promotes the tmp back to the canonical name")
    // and history reads still resolve the rename lineage — the
    // old-name archived files must NOT silently null-fill `price`
    val commits = ParquetUpsertSink.listArchivedCommits(spark, dir)
    assert(spark.sql(s"SELECT price FROM $t VERSION AS OF '${commits(0)}'")
      .as[Double].collect().toSeq == Seq(10.0))
    spark.sql(s"DROP TABLE $t")
  }

  test("TRUNCATE TABLE empties the table; schema survives for re-insert") {
    val dir = tmp("trunc")
    val t = s"graft.`$dir`"
    spark.sql(
      s"""CREATE TABLE $t (id BIGINT, seq BIGINT, dept STRING)
         |PARTITIONED BY (dept)
         |TBLPROPERTIES ('recordKeys'='id', 'precombine'='seq')""".stripMargin)
    spark.sql(s"INSERT INTO $t VALUES (1, 1, 'a'), (2, 1, 'b')")
    spark.sql(s"TRUNCATE TABLE $t")
    assert(spark.sql(s"SELECT * FROM $t").count() == 0)
    spark.sql(s"INSERT INTO $t VALUES (9, 1, 'c')")
    assert(spark.sql(s"SELECT id FROM $t").as[Long].collect().toSeq == Seq(9L))
  }

  test("ALTER TABLE ADD COLUMN evolves additively; old rows null-fill") {
    val dir = tmp("alter")
    val t = s"graft.`$dir`"
    spark.sql(
      s"""CREATE TABLE $t (id BIGINT, seq BIGINT, dept STRING)
         |PARTITIONED BY (dept)
         |TBLPROPERTIES ('recordKeys'='id', 'precombine'='seq')""".stripMargin)
    spark.sql(s"INSERT INTO $t VALUES (1, 1, 'a')")
    spark.sql(s"ALTER TABLE $t ADD COLUMN note STRING")
    spark.sql(s"INSERT INTO $t VALUES (2, 1, 'a', 'hello')")
    val rows = spark.sql(s"SELECT id, note FROM $t ORDER BY id")
      .as[(Long, Option[String])].collect().toSeq
    assert(rows == Seq((1L, None), (2L, Some("hello"))))
    // property updates round-trip through _table.properties
    spark.sql(s"ALTER TABLE $t SET TBLPROPERTIES ('deleteCol'='gone')")
    assert(GraftUpsertCatalog.tableProps(dir).get("deleteCol").contains("gone"))
  }

  // ——— row-level operations (group-based copy-on-write) ———

  private def seedCatalogTable(dir: String): String = {
    val t = s"graft.`$dir`"
    spark.sql(
      s"""CREATE TABLE $t (id BIGINT, seq BIGINT, dept STRING, amount DOUBLE)
         |PARTITIONED BY (dept)
         |TBLPROPERTIES ('recordKeys'='id', 'precombine'='seq')""".stripMargin)
    spark.sql(s"INSERT INTO $t VALUES " +
      "(1, 1, 'eng', 100.0), (2, 1, 'eng', 200.0), " +
      "(3, 1, 'ops', 300.0), (4, 1, 'hr', 400.0)")
    t
  }

  test("SQL UPDATE rewrites only the partitions containing matches") {
    val dir = tmp("upd")
    val t = seedCatalogTable(dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def files(p: String): Seq[(String, Long)] =
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/dept=$p"))
        .filter(_.getPath.getName.startsWith("part-"))
        .map(st => (st.getPath.getName, st.getModificationTime)).toSeq.sorted
    val hrBefore = files("hr")
    spark.sql(s"UPDATE $t SET amount = amount + 0.5 WHERE id <= 2")
    val rows = spark.sql(s"SELECT id, amount FROM $t ORDER BY id")
      .as[(Long, Double)].collect().toSeq
    assert(rows == Seq((1L, 100.5), (2L, 200.5), (3L, 300.0), (4L, 400.0)))
    // runtime group filtering: hr had no matches, its files never moved
    assert(files("hr") == hrBefore)
  }

  test("SQL UPDATE of the partition column moves rows across partitions") {
    val dir = tmp("updpart")
    val t = seedCatalogTable(dir)
    spark.sql(s"UPDATE $t SET dept = 'ops' WHERE id = 1")
    val byDept = spark.sql(s"SELECT dept, count(*) FROM $t GROUP BY dept ORDER BY dept")
      .as[(String, Long)].collect().toSeq
    assert(byDept == Seq(("eng", 1L), ("hr", 1L), ("ops", 2L)))
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/dept=ops")))
  }

  test("SQL MERGE INTO: matched update, matched delete, not-matched insert") {
    val dir = tmp("merge")
    val t = seedCatalogTable(dir)
    Seq((1L, 2L, "eng", 111.0, false), (3L, 2L, "ops", 0.0, true),
        (9L, 1L, "new", 900.0, false))
      .toDF("id", "seq", "dept", "amount", "del")
      .createOrReplaceTempView("merge_src")
    spark.sql(
      s"""MERGE INTO $t t USING merge_src s ON t.id = s.id
         |WHEN MATCHED AND s.del THEN DELETE
         |WHEN MATCHED THEN UPDATE SET amount = s.amount, seq = s.seq
         |WHEN NOT MATCHED THEN INSERT (id, seq, dept, amount)
         |  VALUES (s.id, s.seq, s.dept, s.amount)""".stripMargin)
    val rows = spark.sql(s"SELECT id, dept, amount FROM $t ORDER BY id")
      .as[(Long, String, Double)].collect().toSeq
    assert(rows == Seq((1L, "eng", 111.0), (2L, "eng", 200.0),
      (4L, "hr", 400.0), (9L, "new", 900.0)))
  }

  test("MERGE insert into an unscanned existing partition APPENDS (no data loss)") {
    val dir = tmp("mergeapp")
    val t = seedCatalogTable(dir)
    // source matches nothing in 'hr'; the insert row lands in 'hr',
    // whose existing files were never scanned — they must survive
    Seq((9L, 1L, "hr", 900.0)).toDF("id", "seq", "dept", "amount")
      .createOrReplaceTempView("merge_src2")
    spark.sql(
      s"""MERGE INTO $t t USING merge_src2 s ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET amount = s.amount
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val hr = spark.sql(s"SELECT id FROM $t WHERE dept = 'hr' ORDER BY id")
      .as[Long].collect().toSeq
    assert(hr == Seq(4L, 9L)) // pre-existing row 4 survived the insert of 9
    // the partition was rewritten with its live rows, not appended to
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/dept=hr"))
      .count(f => f.getPath.getName.startsWith("part-") && f.getLen > 0) == 1)
  }

  test("SQL DELETE with a subquery routes through the row-level rewrite") {
    val dir = tmp("delsub")
    val t = seedCatalogTable(dir)
    Seq(1L, 3L).toDF("bad_id").createOrReplaceTempView("bad_ids")
    spark.sql(s"DELETE FROM $t WHERE id IN (SELECT bad_id FROM bad_ids)")
    val left = spark.sql(s"SELECT id FROM $t ORDER BY id").as[Long].collect().toSeq
    assert(left == Seq(2L, 4L))
    // ops lost its only row: the partition directory is gone
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/dept=ops")))
  }

  // ——— stored procedures (CALL graft.system.*) ———

  test("CALL graft.system.compact coalesces over-filed partitions") {
    val dir = tmp("pcompact")
    val sink = ParquetUpsertSink(dir, Seq("id"), "seq", "dept", filesPerPartition = 1)
    sink.upsert(Seq((1L, 1L, "a"), (2L, 1L, "a")).toDF("id", "seq", "dept"), 0)
    // plant a second live file in dept=a so the partition is over-filed
    Seq((3L, 1L, "a")).toDF("id", "seq", "dept").write.mode("append")
      .parquet(s"$dir/extra_stage")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val extra = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/extra_stage"))
      .map(_.getPath).find(_.getName.startsWith("part-")).get
    fs.rename(extra, new org.apache.hadoop.fs.Path(s"$dir/dept=a/part-extra.parquet"))
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/extra_stage"), true)
    val out = spark.sql(s"CALL graft.system.compact('$dir')")
      .as[String].collect().toSeq
    assert(out == Seq("dept=a"))
    assert(spark.read.parquet(dir).select("id").as[Long].collect().toSet
      == Set(1L, 2L, 3L))
    assert(fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/dept=a"))
      .count(f => f.getPath.getName.startsWith("part-") && f.getLen > 0) == 1)
  }

  test("CALL graft.system.maintain_ivf: below-threshold no-op, drifted retrain") {
    import graft.ext.{IvfDrift, StreamIvf}
    val dir0 = tmp("pivf0"); val dir1 = tmp("pivf1")
    def vec(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray
    // two tight clusters on basis axes; centroids at the cluster means
    val vectors = Seq(
      (1L, vec(1, 0.1, 0, 0)), (2L, vec(1, -0.1, 0, 0)),
      (3L, vec(0.9, 0, 0.1, 0)), (4L, vec(1.1, 0, -0.1, 0)),
      (11L, vec(0, 1, 0.1, 0)), (12L, vec(0, 1, -0.1, 0)),
      (13L, vec(0.1, 0.9, 0, 0)), (14L, vec(-0.1, 1.1, 0, 0))
    ).toDF("vec_id", "embedding")
    val cents = Seq((0L, vec(1, 0, 0, 0)), (1L, vec(0, 1, 0, 0)))
      .toDF("cent_id", "cv")
    IvfDrift.writeCentroids(cents, dir0)
    StreamIvf.sink(dir0).upsert(StreamIvf.indexRows(vectors, cents, 0L), 0L)
    // converged: displacement small, nothing triggered, no new table
    val r0 = spark.sql(
      s"CALL graft.system.maintain_ivf('$dir0', '$dir1', CAST(0.2 AS DOUBLE))").head()
    assert(!r0.getBoolean(0))
    assert(r0.getDouble(1) < 0.2)
    assert(r0.isNullAt(2))
    val fs = new org.apache.hadoop.fs.Path(dir0)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir1)))
    // drift: the second cluster's members move to a basis axis the
    // codebook never saw — its cell mean runs away from the centroid
    val drifted = Seq(
      (11L, vec(0, 0.1, 0, 1)), (12L, vec(0, -0.1, 0, 1)),
      (13L, vec(0.1, 0, 0, 0.9)), (14L, vec(-0.1, 0, 0, 1.1))
    ).toDF("vec_id", "embedding")
    StreamIvf.sink(dir0).upsert(StreamIvf.indexRows(drifted, cents, 1L), 1L)
    val r1 = spark.sql(
      s"CALL graft.system.maintain_ivf('$dir0', '$dir1', CAST(0.2 AS DOUBLE))").head()
    assert(r1.getBoolean(0))
    assert(r1.getDouble(1) > 0.2)
    assert(r1.getString(2) == dir1)
    // the retrained table holds every vector exactly once, assigned to
    // its NEAREST retrained centroid, and the codebook sits at the
    // sibling convention path
    val newCents = IvfDrift.readCentroids(spark, dir1)
      .as[(Long, Array[Float])].collect().toMap
    val reindexed = StreamIvf.readIndex(spark, dir1)
      .select("vec_id", "cent_id", "embedding")
      .as[(Long, Long, Array[Float])].collect()
    assert(reindexed.map(_._1).sorted.toSeq == Seq(1L, 2L, 3L, 4L, 11L, 12L, 13L, 14L))
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
      dot / (math.sqrt(a.map(x => x.toDouble * x).sum) *
        math.sqrt(b.map(x => x.toDouble * x).sum))
    }
    reindexed.foreach { case (_, cid, emb) =>
      val best = newCents.maxBy { case (c, cv) => (cos(emb, cv), -c) }._1
      assert(cid == best)
    }
    // the old index is untouched by maintenance
    assert(StreamIvf.readIndex(spark, dir0).count() == 8)
  }

  test("CALL graft.system.maintain_pq: below-threshold no-op, drifted retrain, version swap") {
    import graft.ext.{PqDrift, Similarity}
    val dir0 = tmp("ppq0"); val dir1 = tmp("ppq1"); val vdir = tmp("ppqv")
    // 64-dim vectors controlled in subspace 0 (dims 0-15), constant
    // elsewhere: two tight clusters on basis axes e0 / e1 with +-0.1
    // jitter on a neighboring dim
    def vec(axis: Int, jitterDim: Int, jitter: Double): Array[Float] = {
      val a = Array.fill(64)(0.0f)
      a(axis) = 1.0f
      a(jitterDim) = jitter.toFloat
      // every other subspace gets a constant unit component so its
      // single codebook entry is exactly the cluster mean
      (1 until Similarity.pqSubspaces).foreach(s => a(s * Similarity.pqSubDim) = 1.0f)
      a
    }
    val vectors = Seq(
      (1L, vec(0, 1, 0.1)), (2L, vec(0, 1, -0.1)),
      (11L, vec(1, 2, 0.1)), (12L, vec(1, 2, -0.1))
    ).toDF("vec_id", "embedding")
    def subCv(axis: Int): Array[Float] = {
      val a = Array.fill(Similarity.pqSubDim)(0.0f); a(axis) = 1.0f; a
    }
    val cents = (Seq((0, 0L, subCv(0)), (0, 1L, subCv(1))) ++
      (1 until Similarity.pqSubspaces).map(s => (s, 0L, subCv(0))))
      .toDF("sub_id", "cent_id", "cv")
    PqDrift.writeCodebook(cents, dir0)
    PqDrift.sink(dir0).upsert(PqDrift.codeRows(vectors, cents, 0L), 0L)
    vectors.write.mode("overwrite").parquet(vdir)
    // converged: residual displacement small, nothing triggered
    val r0 = spark.sql(s"CALL graft.system.maintain_pq('$dir0', '$vdir', " +
      "'" + dir1 + "', CAST(0.2 AS DOUBLE))").head()
    assert(!r0.getBoolean(0))
    assert(r0.getDouble(1) < 0.2)
    assert(r0.isNullAt(2))
    val fs = new org.apache.hadoop.fs.Path(dir0)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir1)))
    // drift: the e1 cluster moves to a basis axis the codebook never
    // saw, ENCODED WITH THE STALE CODEBOOK (what a streaming encoder
    // does) — the per-code subvector mean runs away from its entry
    val drifted = Seq(
      (11L, vec(2, 3, 0.1)), (12L, vec(2, 3, -0.1))
    ).toDF("vec_id", "embedding")
    PqDrift.sink(dir0).upsert(PqDrift.codeRows(drifted, cents, 1L), 1L)
    val corpus = Seq(
      (1L, vec(0, 1, 0.1)), (2L, vec(0, 1, -0.1)),
      (11L, vec(2, 3, 0.1)), (12L, vec(2, 3, -0.1))
    ).toDF("vec_id", "embedding")
    corpus.write.mode("overwrite").parquet(vdir)
    val r1 = spark.sql(s"CALL graft.system.maintain_pq('$dir0', '$vdir', " +
      "'" + dir1 + "', CAST(0.2 AS DOUBLE))").head()
    assert(r1.getBoolean(0))
    assert(r1.getDouble(1) > 0.2)
    assert(r1.getString(2) == dir1)
    // the retrained pair is CONSISTENT: codebook at the sibling path,
    // and every (vec, sub) coded to its argmin-L2 entry of it
    val newCents = PqDrift.readCodebook(spark, dir1)
      .as[(Int, Long, Array[Float])].collect()
      .groupBy(_._1).view.mapValues(_.map(t => t._2 -> t._3).toMap).toMap
    val newCodes = PqDrift.readCodes(spark, dir1)
      .select("vec_id", "sub_id", "code")
      .as[(Long, Int, Long)].collect()
    assert(newCodes.map(_._1).distinct.sorted.toSeq == Seq(1L, 2L, 11L, 12L))
    assert(newCodes.length == 4 * Similarity.pqSubspaces)
    val corpusMap = corpus.as[(Long, Array[Float])].collect().toMap
    def l2Score(sv: Array[Float], cv: Array[Float]): Double = {
      def dot(a: Array[Float], b: Array[Float]) =
        a.zip(b).map { case (x, y) => x.toDouble * y }.sum
      2.0 * dot(sv, cv) - dot(cv, cv)
    }
    newCodes.foreach { case (vid, s, code) =>
      val sv = corpusMap(vid).slice(s * Similarity.pqSubDim,
        (s + 1) * Similarity.pqSubDim)
      val best = newCents(s).maxBy { case (c, cv) => (l2Score(sv, cv), -c) }._1
      assert(code == best, s"vec $vid sub $s")
    }
    // the old index is untouched (the seq-1 re-ingest REPLACED the
    // drifted keys under the precombine: 4 vectors x 4 subspaces live);
    // the guards refuse unsafe targets
    assert(PqDrift.readCodes(spark, dir0).count() == 4 * Similarity.pqSubspaces)
    def msgChain(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(e => Option(e.getMessage).getOrElse("")).mkString(" | ")
    val selfSwap = intercept[Exception](spark.sql(
      s"CALL graft.system.maintain_pq('$dir0', '$vdir', '$dir0', " +
        "CAST(0.0 AS DOUBLE))").collect())
    assert(msgChain(selfSwap).contains("must differ"))
    val populated = intercept[Exception](spark.sql(
      s"CALL graft.system.maintain_pq('$dir0', '$vdir', '$dir1', " +
        "CAST(0.0 AS DOUBLE))").collect())
    assert(msgChain(populated).contains("already holds"))
  }

  test("CALL graft.system.maintain_pq / maintain_ivf: empty and degenerate indexes fail with the cause") {
    import graft.ext.{IvfDrift, PqDrift, Similarity, StreamIvf}
    def msgChain(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(e => Option(e.getMessage).getOrElse("")).mkString(" | ")
    // one unit component per subspace; `zeroSub0` zeroes subspace 0's
    // codebook entry
    def unit(n: Int, at: Int): Array[Float] = {
      val a = Array.fill(n)(0.0f); a(at) = 1.0f; a
    }
    val vec = (0 until Similarity.pqSubspaces).map(s => unit(64, s * Similarity.pqSubDim))
      .reduce((a, b) => a.zip(b).map { case (x, y) => x + y })
    val vectors = Seq((1L, vec), (2L, vec)).toDF("vec_id", "embedding")
    def pqIndex(cb0: Array[Float]): (String, String) = {
      val dir0 = tmp("pqg0")
      val cents = (Seq((0, 0L, cb0)) ++ (1 until Similarity.pqSubspaces)
        .map(s => (s, 0L, unit(Similarity.pqSubDim, 0)))).toDF("sub_id", "cent_id", "cv")
      PqDrift.writeCodebook(cents, dir0)
      PqDrift.sink(dir0).upsert(PqDrift.codeRows(vectors, cents, 0L), 0L)
      (dir0, tmp("pqg1"))
    }
    def maintainPq(dir0: String, vdir: String, dir1: String): Throwable =
      intercept[Exception](spark.sql(s"CALL graft.system.maintain_pq('$dir0', " +
        s"'$vdir', '$dir1', CAST(0.2 AS DOUBLE))").collect())
    // vectors whose vec_ids match no stored code
    val (dir0, dir1) = pqIndex(unit(Similarity.pqSubDim, 0))
    val strangers = tmp("pqgv")
    Seq((100L, vec)).toDF("vec_id", "embedding").write.parquet(strangers)
    assert(msgChain(maintainPq(dir0, strangers, dir1))
      .contains("maintain_pq: vectors and the index's codes/codebook share no " +
        "(vec_id, sub_id, code) rows"))
    // an all-zero codebook entry that rows are coded as
    val (zdir0, zdir1) = pqIndex(Array.fill(Similarity.pqSubDim)(0.0f))
    val vdir = tmp("pqgv")
    vectors.write.parquet(vdir)
    assert(msgChain(maintainPq(zdir0, vdir, zdir1))
      .contains("residual displacement is NaN"))
    // IVF: an index whose cells match no centroid of its codebook
    val ivf0 = tmp("ivfg0")
    val cents = Seq((0L, unit(4, 0)), (1L, unit(4, 1))).toDF("cent_id", "cv")
    StreamIvf.sink(ivf0).upsert(StreamIvf.indexRows(
      Seq((1L, unit(4, 0)), (2L, unit(4, 1))).toDF("vec_id", "embedding"), cents, 0L), 0L)
    IvfDrift.writeCentroids(Seq((7L, unit(4, 0))).toDF("cent_id", "cv"), ivf0)
    val ivfErr = intercept[Exception](spark.sql(s"CALL graft.system.maintain_ivf(" +
      s"'$ivf0', '${tmp("ivfg1")}', CAST(0.2 AS DOUBLE))").collect())
    assert(msgChain(ivfErr).contains("maintain_ivf: the index's cells and its " +
      "centroids share no cent_id rows"), msgChain(ivfErr))
  }

  test("CALL graft.system.optimize_zorder rewrites partitions, preserves rows") {
    val dir = tmp("pzorder")
    val sink = ParquetUpsertSink(dir, Seq("id"), "seq", "dept")
    val rows = (1L to 100L).map(i => (i, 1L, if (i % 2 == 0) "a" else "b",
      i % 10, (i * 7) % 10))
    sink.upsert(rows.toDF("id", "seq", "dept", "x", "y"), 0)
    val before = spark.read.parquet(dir).select("id").as[Long].collect().toSet
    val rewritten = spark.sql(s"CALL graft.system.optimize_zorder('$dir', 'x', 'y')")
      .as[String].collect().toSeq.sorted
    assert(rewritten == Seq("dept=a", "dept=b"))
    val after = spark.read.parquet(dir)
    assert(after.select("id").as[Long].collect().toSet == before)
    // rows inside each partition now follow Morton order of (x, y)
    val zs = after.filter($"dept" === "a")
      .select(graft.functions.ZOrderExpressions.mortonCode(
        $"x".cast("long"), $"y".cast("long")).as("z"))
      .as[Long].collect().toSeq
    assert(zs == zs.sorted)
  }

  test("CALL graft.system.optimize_sort clusters rows linearly, preserves rows") {
    val dir = tmp("psort")
    val sink = ParquetUpsertSink(dir, Seq("id"), "seq", "dept")
    // ids deliberately written in scrambled order
    val rows = (1L to 100L).map(i => ((i * 37) % 101, 1L,
      if (i % 2 == 0) "a" else "b", i % 10))
    sink.upsert(rows.toDF("id", "seq", "dept", "x"), 0)
    val before = spark.read.parquet(dir).select("id").as[Long].collect().toSet
    val rewritten = spark.sql(s"CALL graft.system.optimize_sort('$dir', 'id')")
      .as[String].collect().toSeq.sorted
    assert(rewritten == Seq("dept=a", "dept=b"))
    val after = spark.read.parquet(dir)
    assert(after.select("id").as[Long].collect().toSet == before)
    // rows inside each partition now follow id order (the layout
    // optimize_sort exists for: disjoint row-group ranges on the key)
    val ids = after.filter($"dept" === "a").select("id").as[Long].collect().toSeq
    assert(ids == ids.sorted)
  }

  test("CALL graft.system.expire_commits prunes the archive; sweep_staging reports") {
    val dir = tmp("pexpire")
    val sink = ParquetUpsertSink(dir, Seq("id"), "seq", "dept", keepVersions = 10)
    (0 to 3).foreach(i =>
      sink.upsert(Seq((i.toLong, i.toLong, "a")).toDF("id", "seq", "dept"), i))
    assert(ParquetUpsertSink.listArchivedCommits(spark, dir).size == 4)
    val removed = spark.sql(s"CALL graft.system.expire_commits('$dir', 2)")
      .as[String].collect().toSeq
    assert(removed.size == 2)
    assert(ParquetUpsertSink.listArchivedCommits(spark, dir).size == 2)
    val swept = spark.sql(s"CALL graft.system.sweep_staging('$dir')")
      .as[Int].collect().toSeq
    assert(swept == Seq(0))
  }

  test("CALL graft.system.history lists retained commits with operations and completion flags") {
    val dir = tmp("phist")
    val sink = ParquetUpsertSink(dir, Seq("id"), "seq", "dept", keepVersions = 10)
    sink.upsert(Seq((1L, 1L, "a"), (2L, 1L, "b")).toDF("id", "seq", "dept"), 0)
    sink.delete(spark, col("id") === 2L, batchId = 1L)
    val commits = ParquetUpsertSink.listArchivedCommits(spark, dir)
    sink.restoreTo(spark, commits(0))
    val hist = spark.sql(s"CALL graft.system.history('$dir')")
      .as[(String, String, Int, Boolean)].collect().toSeq
    assert(hist.size == 3)
    // the operation KIND of each commit, Delta DESCRIBE HISTORY style
    assert(hist.map(_._2) == Seq("upsert", "delete", "restore"))
    assert(hist.map(_._3) == Seq(2, 1, 1)) // seed a+b; delete b; restore b
    assert(hist.forall(_._4)) // all mutations completed
    assert(hist.map(_._1) == hist.map(_._1).sorted) // oldest first
  }

  test("CALL graft.system.restore accepts a TIMESTAMP and resolves it like TIMESTAMP AS OF") {
    val dir = tmp("prts")
    val sink = ParquetUpsertSink(dir, Seq("id"), "seq", "dept", keepVersions = 6)
    sink.upsert(Seq((1L, 0L, "a", 10.0)).toDF("id", "seq", "dept", "v"), 0)
    Thread.sleep(20)
    val between = System.currentTimeMillis()
    Thread.sleep(20)
    sink.upsert(Seq((1L, 1L, "a", 99.0)).toDF("id", "seq", "dept", "v"), 1)
    // epoch-millis between the two commits → newest commit at-or-before
    // it is commit 0 → the table lands on commit 0's state
    val out = spark.sql(s"CALL graft.system.restore('$dir', '$between')")
    assert(out.as[String].collect().toSeq == Seq("a"))
    assert(spark.read.format("graft-upsert").load(dir)
      .select("id", "v").as[(Long, Double)].collect().toSeq == Seq((1L, 10.0)))
  }

  test("SHOW PARTITIONS lists live partitions; DROP PARTITION is an archived delete") {
    val dir = tmp("partmgmt")
    val t = s"graft.`$dir`"
    spark.sql(
      s"""CREATE TABLE $t (id BIGINT, seq BIGINT, dept STRING, amount DOUBLE)
         |PARTITIONED BY (dept)
         |TBLPROPERTIES ('recordKeys'='id', 'precombine'='seq', 'keepVersions'='5')
         |""".stripMargin)
    spark.sql(s"INSERT INTO $t VALUES (1, 1, 'eng', 10.0), (2, 1, 'ops', 20.0), (3, 1, 'hr', 30.0)")
    assert(spark.sql(s"SHOW PARTITIONS $t").as[String].collect().toSet ==
      Set("dept=eng", "dept=hr", "dept=ops"))
    // partition-spec filtering
    assert(spark.sql(s"SHOW PARTITIONS $t PARTITION (dept='ops')")
      .as[String].collect().toSeq == Seq("dept=ops"))

    val commits = ParquetUpsertSink.listArchivedCommits(spark, dir)
    spark.sql(s"ALTER TABLE $t DROP PARTITION (dept='ops')")
    assert(spark.sql(s"SHOW PARTITIONS $t").as[String].collect().toSet ==
      Set("dept=eng", "dept=hr"))
    assert(spark.sql(s"SELECT id FROM $t").as[Long].collect().toSet == Set(1L, 3L))
    // the drop is a COMMIT: the pre-drop state stays time-travelable
    val post = ParquetUpsertSink.listArchivedCommits(spark, dir)
    assert(post.size == commits.size + 1)
    assert(spark.sql(s"SELECT id FROM $t VERSION AS OF '${commits.last}'")
      .as[Long].collect().toSet == Set(1L, 2L, 3L))
    // IF EXISTS on a gone partition no-ops; plain drop of missing throws
    spark.sql(s"ALTER TABLE $t DROP IF EXISTS PARTITION (dept='ops')")
    intercept[Exception](spark.sql(s"ALTER TABLE $t DROP PARTITION (dept='nope')"))
    // ADD PARTITION is refused (partitions materialize on write)
    val e = intercept[Exception](
      spark.sql(s"ALTER TABLE $t ADD PARTITION (dept='new')"))
    assert(e.getMessage.contains("materialize on write"))
  }

  test("INSERT OVERWRITE: static truncate-and-load, partition-scoped, dynamic") {
    val dir = tmp("ovw")
    val t = s"graft.`$dir`"
    spark.sql(
      s"""CREATE TABLE $t (id BIGINT, seq BIGINT, dept STRING, amount DOUBLE)
         |PARTITIONED BY (dept)
         |TBLPROPERTIES ('recordKeys'='id', 'precombine'='seq', 'keepVersions'='6')
         |""".stripMargin)
    spark.sql(s"INSERT INTO $t VALUES (1, 1, 'eng', 10.0), (2, 1, 'ops', 20.0), (3, 1, 'hr', 30.0)")

    // static, no partition spec: the WHOLE table is replaced
    spark.sql(s"INSERT OVERWRITE $t VALUES (7, 1, 'eng', 70.0), (8, 1, 'fin', 80.0)")
    assert(spark.sql(s"SELECT id FROM $t").as[Long].collect().toSet == Set(7L, 8L))

    // static with a partition spec: only that partition is replaced
    spark.sql(s"INSERT OVERWRITE $t PARTITION (dept='eng') VALUES (9, 1, 90.0)")
    assert(spark.sql(s"SELECT id, dept FROM $t ORDER BY id")
      .as[(Long, String)].collect().toSeq == Seq((8L, "fin"), (9L, "eng")))

    // dynamic: exactly the batch's partitions are replaced, others kept
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      spark.sql(s"INSERT OVERWRITE $t VALUES (11, 1, 'eng', 1.0), (12, 1, 'eng', 2.0)")
    } finally spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
    assert(spark.sql(s"SELECT id, dept FROM $t ORDER BY id")
      .as[(Long, String)].collect().toSeq ==
      Seq((8L, "fin"), (11L, "eng"), (12L, "eng")))

    // overwrites are commits like any other: time travel spans them
    val commits = ParquetUpsertSink.listArchivedCommits(spark, dir)
    assert(commits.size == 4)
    assert(spark.sql(
      s"SELECT id FROM $t VERSION AS OF '${commits(1)}'")
      .as[Long].collect().toSet == Set(7L, 8L))
    spark.sql(s"DROP TABLE $t")
  }

  test("df.write.mode(overwrite) truncates-and-loads through the DSv2 write") {
    val dir = tmp("ovwdf")
    val sink = ParquetUpsertSink(dir, Seq("id"), "seq", "dept")
    sink.upsert(Seq((1L, 1L, "eng", 10.0), (2L, 1L, "ops", 20.0))
      .toDF("id", "seq", "dept", "amount"), 0)
    Seq((5L, 1L, "hr", 50.0)).toDF("id", "seq", "dept", "amount")
      .write.format("graft-upsert")
      .option("recordKeys", "id").option("precombine", "seq")
      .option("partitionCol", "dept")
      .mode("overwrite").save(dir)
    val got = spark.read.format("graft-upsert").load(dir)
      .select("id", "dept").as[(Long, String)].collect().toSet
    assert(got == Set((5L, "hr")))
  }

  test("CALL graft.system.files / partitions expose the live layout with row counts") {
    val dir = tmp("pfiles")
    val sink = ParquetUpsertSink(dir, Seq("id"), "seq", "dept", filesPerPartition = 2)
    sink.upsert((0L until 100L).map(n => (n, 1L, if (n < 70) "eng" else "ops"))
      .toDF("id", "seq", "dept"), 0)

    val files = spark.sql(s"CALL graft.system.files('$dir')")
      .as[(String, String, Long, Long)].collect().toSeq
    assert(files.map(_._1).distinct.sorted == Seq("eng", "ops"))
    assert(files.forall(f => f._3 > 0 && f._2.contains(s"dept=${f._1}")))
    assert(files.map(_._4).sum == 100L) // footer row counts cover every row

    val parts = spark.sql(s"CALL graft.system.partitions('$dir')")
      .as[(String, Int, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(parts.map(p => (p._1, p._4)) == Seq(("eng", 70L), ("ops", 30L)))
    assert(parts.map(_._2).sum == files.size)
    assert(parts.map(_._3).sum == files.map(_._3).sum)
  }

  // ——— write-time expectations (CHECK constraints + quarantine) ———

  test("expectations quarantine violating rows; NULL conditions pass") {
    val dir = tmp("expect")
    val sink = ParquetUpsertSink(dir, Seq("id"), "seq", "dept",
      expectations = Seq(
        "amount_positive" -> (col("amount") > 0),
        "dept_known" -> col("dept").isin("eng", "ops")))
    sink.upsert(Seq(
      (1L, 1L, "eng", Some(10.0)),   // clean
      (2L, 1L, "eng", Some(-5.0)),   // violates amount_positive
      (3L, 1L, "hr", Some(3.0)),     // violates dept_known
      (4L, 1L, "hr", Some(-1.0)),    // violates both
      (5L, 1L, "ops", None)          // NULL condition passes (Delta CHECK)
    ).toDF("id", "seq", "dept", "amount"), 0)
    val live = spark.read.format("graft-upsert").load(dir)
      .select("id").as[Long].collect().toSet
    assert(live == Set(1L, 5L))
    val q = sink.readQuarantine(spark)
      .select(col("id"), col("_violations")).as[(Long, String)]
      .collect().toMap
    assert(q.keySet == Set(2L, 3L, 4L))
    assert(q(4L) == "amount_positive,dept_known")
    assert(q(2L) == "amount_positive" && q(3L) == "dept_known")
  }

  test("catalog tables carry expectations in TBLPROPERTIES; INSERT quarantines") {
    val dir = tmp("expectsql")
    val t = s"graft.`$dir`"
    spark.sql(
      s"""CREATE TABLE $t (id BIGINT, seq BIGINT, dept STRING, amount DOUBLE)
         |PARTITIONED BY (dept)
         |TBLPROPERTIES ('recordKeys'='id', 'precombine'='seq',
         |  'expectations'='amount_positive: amount > 0')""".stripMargin)
    spark.sql(s"INSERT INTO $t VALUES (1, 1, 'a', 5.0), (2, 1, 'a', -2.0)")
    assert(spark.sql(s"SELECT id FROM $t").as[Long].collect().toSeq == Seq(1L))
    val q = ParquetUpsertSink(dir, Seq("id"), "seq", "dept")
      .readQuarantine(spark)
    assert(q.select("id").as[Long].collect().toSeq == Seq(2L))
  }

  test("quarantine replay is idempotent: re-running a batch does not duplicate dead letters") {
    val dir = tmp("expectreplay")
    val sink = ParquetUpsertSink(dir, Seq("id"), "seq", "dept",
      expectations = Seq("amount_positive" -> (col("amount") > 0)))
    val batch = Seq((1L, 1L, "a", 5.0), (2L, 1L, "a", -2.0))
      .toDF("id", "seq", "dept", "amount")
    sink.upsert(batch, 7)
    sink.upsert(batch, 7) // at-least-once replay of the same micro-batch
    val q = sink.readQuarantine(spark)
    assert(q.count() == 1) // one violation, not two (per-batch dir overwritten)
    assert(q.select("_batch_id").as[Long].collect().toSeq == Seq(7L))
    // a DIFFERENT batch's violations land in their own dir and accumulate
    sink.upsert(Seq((3L, 1L, "a", -9.0)).toDF("id", "seq", "dept", "amount"), 8)
    assert(sink.readQuarantine(spark).count() == 2)
  }

  test("readQuarantine on a clean table carries the table schema (stable frame)") {
    val dir = tmp("expectclean")
    val sink = ParquetUpsertSink(dir, Seq("id"), "seq", "dept",
      expectations = Seq("amount_positive" -> (col("amount") > 0)))
    sink.upsert(Seq((1L, 1L, "a", 5.0)).toDF("id", "seq", "dept", "amount"), 0)
    val q = sink.readQuarantine(spark)
    // selecting a DATA column must work identically on a clean table
    assert(q.select("amount", "_violations", "_batch_id").count() == 0)
  }

  test("ALTER TABLE ADD COLUMN rejects duplicate names (case-insensitive)") {
    val dir = tmp("alterdup")
    val t = s"graft.`$dir`"
    spark.sql(
      s"""CREATE TABLE $t (id BIGINT, seq BIGINT, dept STRING)
         |PARTITIONED BY (dept)
         |TBLPROPERTIES ('recordKeys'='id', 'precombine'='seq')""".stripMargin)
    val e = intercept[Exception] { spark.sql(s"ALTER TABLE $t ADD COLUMN SEQ DOUBLE") }
    assert(e.getMessage.contains("already exists"))
    // schema on disk is untouched — subsequent reads still work
    spark.sql(s"INSERT INTO $t VALUES (1, 1, 'a')")
    assert(spark.sql(s"SELECT id FROM $t").as[Long].collect().toSeq == Seq(1L))
  }

  test("sink upsert persists write config; SQL DML then archives like the writers") {
    val dir = tmp("persistcfg")
    // a PATH-ONLY table (no catalog CREATE) whose writer passes
    // keepVersions per-write — previously SQL DML saw keepVersions=1
    // and rewrote without archiving, silently corrupting time travel
    val sink = ParquetUpsertSink(dir, Seq("id"), "seq", "dept", keepVersions = 3)
    sink.upsert(Seq(
      (1L, 1L, "eng", 10.0), (2L, 1L, "ops", 20.0)
    ).toDF("id", "seq", "dept", "amount"), 0)
    val props = GraftUpsertCatalog.tableProps(dir)
    assert(props.get("recordKeys").contains("id"))
    assert(props.get("keepVersions").contains("3"))
    val preDelete = ParquetUpsertSink.listArchivedCommits(spark, dir).last
    spark.sql(s"DELETE FROM graft.`$dir` WHERE amount > 15.0")
    // the delete archived its pre-image: time travel still sees id=2
    val asOf = spark.sql(
      s"SELECT id FROM graft.`$dir` VERSION AS OF '$preDelete' ORDER BY id")
      .as[Long].collect().toSeq
    assert(asOf == Seq(1L, 2L))
    assert(spark.sql(s"SELECT id FROM graft.`$dir`").as[Long].collect().toSeq == Seq(1L))
  }

  test("effectiveKeepVersions falls back to the observed archive depth") {
    val dir = tmp("effkeep")
    val sink = ParquetUpsertSink(dir, Seq("id"), "seq", "dept", keepVersions = 4)
    (0 to 2).foreach(i =>
      sink.upsert(Seq((i.toLong, i.toLong, "a")).toDF("id", "seq", "dept"), i))
    // simulate a legacy table: writers archived but never persisted config
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(
      s"$dir/${GraftUpsertCatalog.TablePropsFileName}"), false)
    val n = ParquetUpsertSink.listArchivedCommits(spark, dir).size
    assert(ParquetUpsertSink.effectiveKeepVersions(spark, dir, None) == n + 1)
    // an explicit persisted property ALWAYS wins — deeper or deliberately
    // lowered (a 5→2 retention cut must start expiring, not be silently
    // overridden by the still-deep archive)
    assert(ParquetUpsertSink.effectiveKeepVersions(spark, dir, Some(10)) == 10)
    assert(ParquetUpsertSink.effectiveKeepVersions(spark, dir, Some(1)) == 1)
  }

  test("expectationsMode=fail aborts the batch (Delta CHECK); nothing merges or quarantines") {
    val dir = tmp("expectfail")
    val sink = ParquetUpsertSink(dir, Seq("id"), "seq", "dept",
      expectations = Seq(
        "amount_positive" -> (col("amount") > 0),
        "dept_known" -> col("dept").isin("eng", "ops")),
      expectationsMode = ParquetUpsertSink.ExpectFail)
    sink.upsert(Seq((1L, 1L, "eng", 5.0)).toDF("id", "seq", "dept", "amount"), 0)
    val e = intercept[IllegalStateException] {
      sink.upsert(Seq(
        (2L, 1L, "eng", -1.0), (3L, 1L, "hr", 2.0), (4L, 1L, "eng", 9.0)
      ).toDF("id", "seq", "dept", "amount"), 1)
    }
    assert(e.getMessage.contains("amount_positive=1"))
    assert(e.getMessage.contains("dept_known=1"))
    // the whole batch aborted: the clean row 4 did NOT merge either
    assert(spark.read.format("graft-upsert").load(dir)
      .select("id").as[Long].collect().toSeq == Seq(1L))
    assert(sink.readQuarantine(spark).count() == 0)
  }

  test("CALL graft.system.detail summarizes layout and timeline") {
    val dir = tmp("pdetail")
    val sink = ParquetUpsertSink(dir, Seq("id"), "seq", "dept", keepVersions = 3)
    sink.upsert(Seq((1L, 1L, "a", 1.0), (2L, 1L, "b", 2.0))
      .toDF("id", "seq", "dept", "amount"), 0)
    sink.upsert(Seq((3L, 2L, "a", 3.0)).toDF("id", "seq", "dept", "amount"), 1)
    val row = spark.sql(s"CALL graft.system.detail('$dir')")
      .as[(String, String, Int, Int, Long, Int, Int, Boolean)].collect().head
    val (pc, mode, parts, files, bytes, commits, deltas, quarantined) = row
    assert(pc == "dept" && mode == "cow")
    assert(parts == 2 && files == 2 && bytes > 0)
    assert(commits == 2 && deltas == 0 && !quarantined)
    // MOR table: delta count surfaces
    val morDir = tmp("pdetailmor")
    ParquetUpsertSink(morDir, Seq("id"), "seq", "dept",
      writeMode = ParquetUpsertSink.ModeMor)
      .upsert(Seq((1L, 1L, "a")).toDF("id", "seq", "dept"), 0)
    val morRow = spark.sql(s"CALL graft.system.detail('$morDir')")
      .as[(String, String, Int, Int, Long, Int, Int, Boolean)].collect().head
    assert(morRow._2 == "mor" && morRow._7 == 1 && morRow._4 == 0)
  }

  test("catalog-created table also works option-less through the path API") {
    val dir = tmp("props")
    val t = s"graft.`$dir`"
    spark.sql(
      s"""CREATE TABLE $t (id BIGINT, seq BIGINT, dept STRING)
         |PARTITIONED BY (dept)
         |TBLPROPERTIES ('recordKeys'='id', 'precombine'='seq')""".stripMargin)
    // no options: recordKeys/precombine/partitionCol come from
    // _table.properties persisted at CREATE time
    Seq((1L, 1L, "x"), (1L, 2L, "x")).toDF("id", "seq", "dept")
      .write.format("graft-upsert").mode("append").save(dir)
    val rows = spark.read.format("graft-upsert").load(dir)
      .select("id", "seq").as[(Long, Long)].collect().toSeq
    assert(rows == Seq((1L, 2L))) // precombine applied
  }

  test("updateProps aborts loudly on a transient read failure instead of persisting an empty set") {
    val dir = tmp("propsfail")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(dir))
    GraftUpsertCatalog.updateProps(fs, dir)(_.setProperty("recordKeys", "id"))
    // one transient open failure on the EXISTING canonical file: the
    // update must throw, not build on an empty set and PERSIST it
    // (that would erase recordKeys/keepVersions/rename lineage)
    val failing = new org.apache.hadoop.fs.FilterFileSystem(fs) {
      override def open(f: org.apache.hadoop.fs.Path, bufferSize: Int)
          : org.apache.hadoop.fs.FSDataInputStream =
        if (f.getName == GraftUpsertCatalog.TablePropsFileName)
          throw new java.io.IOException("injected transient read failure")
        else super.open(f, bufferSize)
    }
    intercept[java.io.IOException] {
      GraftUpsertCatalog.updateProps(failing, dir)(_.setProperty("x", "y"))
    }
    assert(GraftUpsertCatalog.loadProps(fs, dir).getProperty("recordKeys") == "id",
      "the original config must survive the failed update untouched")
    // no half-written staging or stranded lock to confuse recovery
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$dir/${GraftUpsertCatalog.PropsTmpName}")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$dir/${GraftUpsertCatalog.PropsLockName}")))
  }

  test("loadProps re-probes the rename window: absent canonical + absent tmp is not 'propertyless'") {
    val dir = tmp("propsreprobe")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(dir))
    GraftUpsertCatalog.updateProps(fs, dir)(_.setProperty("recordKeys", "id"))
    // pin the exact lock-free-reader interleaving: the reader's first
    // canonical probe lands inside an updater's delete→rename window
    // (absent), and by the tmp probe the rename has COMPLETED (tmp
    // absent too). One pass would conclude "propertyless" and silently
    // drop recordKeys/rename lineage for the planning pass; the
    // re-probe round must find the canonical that the completed rename
    // made visible.
    val firstProbe = new java.util.concurrent.atomic.AtomicBoolean(true)
    val lying = new org.apache.hadoop.fs.FilterFileSystem(fs) {
      override def exists(f: org.apache.hadoop.fs.Path): Boolean =
        if (f.getName == GraftUpsertCatalog.TablePropsFileName &&
          firstProbe.getAndSet(false)) false
        else super.exists(f)
    }
    val props = GraftUpsertCatalog.loadProps(lying, dir)
    assert(props.getProperty("recordKeys") == "id",
      "a completed concurrent rename must be observed on the re-probe round, " +
        "never served as an empty property set")
    // and a genuinely propertyless dir still returns empty (fast path)
    val bare = tmp("propsbare")
    fs.mkdirs(new org.apache.hadoop.fs.Path(bare))
    assert(GraftUpsertCatalog.loadProps(fs, bare).isEmpty)
  }

  test("concurrent property updates serialize: every update lands, the file survives") {
    val dir = tmp("propsconc")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(dir))
    // the catalog's ALTER TABLE paths update WITHOUT the commit lock:
    // unserialized, the fixed-tmp delete/rename interleavings can
    // leave NO properties file at all and drop updates
    val failures = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val threads = (0 until 6).map { i =>
      new Thread(() =>
        try (0 until 5).foreach { j =>
          GraftUpsertCatalog.updateProps(fs, dir)(_.setProperty(s"k$i.$j", "v"))
        } catch { case t: Throwable => failures.compareAndSet(null, t); () })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(failures.get() == null, s"updater failed: ${failures.get()}")
    val props = GraftUpsertCatalog.loadProps(fs, dir)
    for (i <- 0 until 6; j <- 0 until 5)
      assert(props.getProperty(s"k$i.$j") == "v", s"lost update k$i.$j")
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      s"$dir/${GraftUpsertCatalog.TablePropsFileName}")))
  }

  test("TIMESTAMP AS OF predating live MOR deltas fails instead of serving the current state") {
    val dir = tmp("asofdelta")
    val sink = ParquetUpsertSink(dir, Seq("id"), "seq", "dept",
      writeMode = ParquetUpsertSink.ModeMor)
    sink.upsert(Seq((1L, 0L, "eng", 1.0)).toDF("id", "seq", "dept", "v"), 0)
    Thread.sleep(30)
    val mid = System.currentTimeMillis() // after the base, before the delta
    Thread.sleep(30)
    sink.upsert(Seq((1L, 1L, "eng", 2.0)).toDF("id", "seq", "dept", "v"), 1)
    // the base-file mtimes alone say "nothing newer than mid" — the
    // post-mid write lives in _delta/, which the old fallback never saw
    val e = intercept[IllegalArgumentException] {
      spark.read.format("graft-upsert")
        .option("asOfTimestamp", mid.toString).load(dir).count()
    }
    assert(e.getMessage.contains("delta"),
      s"must name the live delta commits, got: ${e.getMessage}")
  }
}
