package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.io.ParquetUpsertSink

/** Hudi-semantics upsert: record key + precombine-latest + partition
  * overwrite isolation (K2, SURVEY §2.2).
  */
case class Rec(id: Int, v: String, precombine: Long, processing_date: String)

case class RecD(id: Int, v: String, precombine: Long, processing_date: String,
    is_delete: Boolean)

case class RecE(id: Int, v: String, precombine: Long, processing_date: String,
    extra: String)

class ParquetUpsertSinkSpec extends SparkSpec {
  import spark.implicits._

  test("replaceGroups persists the schema ADDITIVELY: a narrow rewrite batch " +
      "never drops untouched partitions' columns") {
    val dir = Files.createTempDirectory("rgadd").toString + "/t"
    val sink = ParquetUpsertSink(dir, Seq("id"), "precombine", "processing_date")
    sink.upsert(Seq(
      RecE(1, "a", 1, "2024-01-01", "x1"),
      RecE(2, "b", 1, "2024-01-02", "x2")).toDF(), 0)
    // a group rewrite whose batch lacks `extra` (an operation planned
    // against a narrower projection, or an external row-level writer):
    // before the additive fix this NARROWED `_schema.json` below the
    // untouched 2024-01-02 partition's files — silently erasing their
    // `extra` column from every later read
    sink.replaceGroups(spark, Seq("2024-01-01"),
      Seq((1, "a2", 2L, "2024-01-01"))
        .toDF("id", "v", "precombine", "processing_date"))
    val df = spark.read.format("graft-upsert").load(dir)
    assert(df.schema.fieldNames.exists(_.equalsIgnoreCase("extra")),
      "the persisted schema must stay a superset of every live file")
    val rows = df.select($"id", $"v", $"extra").orderBy($"id")
      .as[(Int, String, Option[String])].collect().toSeq
    assert(rows == Seq((1, "a2", None), (2, "b", Some("x2"))))
  }

  test("latest precombine wins within and across batches; untouched partitions survive") {
    val dir = Files.createTempDirectory("upsert").toString + "/t"
    val sink = ParquetUpsertSink(dir, Seq("id"), "precombine", "processing_date")

    // batch 0: two versions of id=1 in one batch + id=2 in another partition
    sink.upsert(Seq(
      Rec(1, "old", 10, "2024-01-01"),
      Rec(1, "new", 20, "2024-01-01"),
      Rec(2, "keep", 5, "2024-01-02")).toDF(), 0)
    val after0 = spark.read.parquet(dir).orderBy($"id").collect()
    assert(after0.length == 2)
    assert(after0(0).getAs[String]("v") == "new")

    // batch 1: update id=1 (higher precombine), touch only 2024-01-01
    sink.upsert(Seq(Rec(1, "newer", 30, "2024-01-01")).toDF(), 1)
    val after1 = spark.read.parquet(dir).orderBy($"id").collect()
    assert(after1.length == 2)
    assert(after1(0).getAs[String]("v") == "newer")
    assert(after1(1).getAs[String]("v") == "keep") // other partition untouched

    // batch 2: stale update (lower precombine) must NOT win — idempotent replay safety
    sink.upsert(Seq(Rec(1, "stale", 15, "2024-01-01")).toDF(), 2)
    val after2 = spark.read.parquet(dir).filter($"id" === 1).collect()
    assert(after2(0).getAs[String]("v") == "newer")
  }

  test("one file per partition dir (small-file mitigation)") {
    val dir = Files.createTempDirectory("upsert2").toString + "/t"
    val sink = ParquetUpsertSink(dir, Seq("id"), "precombine", "processing_date")
    sink.upsert((1 to 100).map(i => Rec(i, s"v$i", i, s"2024-01-0${i % 3 + 1}")).toDF(), 0)
    val dirs = new java.io.File(dir).listFiles().filter(_.getName.startsWith("processing_date="))
    assert(dirs.length == 3)
    dirs.foreach { d =>
      assert(d.listFiles().count(_.getName.endsWith(".parquet")) == 1)
    }
  }

  test("delete tombstone removes the key; a later re-insert resurrects it") {
    val dir = Files.createTempDirectory("upsert3").toString + "/t"
    val sink = ParquetUpsertSink(dir, Seq("id"), "precombine", "processing_date",
      deleteCol = Some("is_delete"))
    import spark.implicits._
    sink.upsert(Seq(
      RecD(1, "a", 10, "2024-01-01", false),
      RecD(2, "b", 10, "2024-01-01", false)).toDF(), 0)
    sink.upsert(Seq(RecD(1, "gone", 20, "2024-01-01", true)).toDF(), 1)
    val after1 = spark.read.parquet(dir).select("id").as[Int].collect().toSet
    assert(after1 == Set(2)) // id=1 tombstoned
    // stale non-delete replay must NOT resurrect (lower precombine than tombstone)...
    // note: tombstones are not retained after the rewrite, so a replayed old
    // insert re-adds the key — documented at-least-once divergence; a NEW
    // insert with higher precombine legitimately resurrects:
    sink.upsert(Seq(RecD(1, "back", 30, "2024-01-01", false)).toDF(), 2)
    val after2 = spark.read.parquet(dir).orderBy($"id").collect()
    assert(after2.map(_.getAs[Int]("id")).toSeq == Seq(1, 2))
    assert(after2(0).getAs[String]("v") == "back")
  }

  test("tombstoning every key of a partition removes the partition directory") {
    val dir = Files.createTempDirectory("upsert4").toString + "/t"
    val sink = ParquetUpsertSink(dir, Seq("id"), "precombine", "processing_date",
      deleteCol = Some("is_delete"))
    import spark.implicits._
    sink.upsert(Seq(
      RecD(1, "only", 10, "2024-01-05", false),
      RecD(2, "other", 10, "2024-01-06", false)).toDF(), 0)
    // delete the sole key of partition 2024-01-05
    sink.upsert(Seq(RecD(1, "gone", 20, "2024-01-05", true)).toDF(), 1)
    val partDirs = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("processing_date=")).map(_.getName).sorted
    assert(partDirs.toSeq == Seq("processing_date=2024-01-06"))
    assert(spark.read.parquet(dir).select("id").as[Int].collect().toSeq == Seq(2))
  }

  test("equal-precombine ties resolve deterministically across replay order") {
    val dir1 = Files.createTempDirectory("upsert5a").toString + "/t"
    val dir2 = Files.createTempDirectory("upsert5b").toString + "/t"
    import spark.implicits._
    val a = Rec(1, "alpha", 20, "2024-01-01")
    val b = Rec(1, "beta", 20, "2024-01-01")
    val s1 = ParquetUpsertSink(dir1, Seq("id"), "precombine", "processing_date")
    val s2 = ParquetUpsertSink(dir2, Seq("id"), "precombine", "processing_date")
    s1.upsert(Seq(a).toDF(), 0); s1.upsert(Seq(b).toDF(), 1)
    s2.upsert(Seq(b).toDF(), 0); s2.upsert(Seq(a).toDF(), 1)
    val v1 = spark.read.parquet(dir1).select("v").as[String].collect()(0)
    val v2 = spark.read.parquet(dir2).select("v").as[String].collect()(0)
    assert(v1 == v2) // same winner regardless of arrival order
  }

  test("a fully-tombstoned table accepts new batches (acts like a fresh table)") {
    val dir = Files.createTempDirectory("upsert6").toString + "/t"
    val sink = ParquetUpsertSink(dir, Seq("id"), "precombine", "processing_date",
      deleteCol = Some("is_delete"))
    import spark.implicits._
    sink.upsert(Seq(RecD(1, "a", 10, "2024-01-01", false)).toDF(), 0)
    sink.upsert(Seq(RecD(1, "gone", 20, "2024-01-01", true)).toDF(), 1) // table now empty
    // next batch must not crash on the empty (dir-only) table root
    sink.upsert(Seq(RecD(2, "fresh", 30, "2024-01-02", false)).toDF(), 2)
    val rows = spark.read.parquet(dir).select("id").as[Int].collect().toSeq
    assert(rows == Seq(2))
  }

  test("partition values needing Hive escaping delete correctly when tombstoned") {
    val dir = Files.createTempDirectory("upsert7").toString + "/t"
    val sink = ParquetUpsertSink(dir, Seq("id"), "precombine", "processing_date",
      deleteCol = Some("is_delete"))
    import spark.implicits._
    val part = "2024-01-01 00:00:00" // space+colons -> percent-escaped dir
    sink.upsert(Seq(
      RecD(1, "x", 10, part, false),
      RecD(2, "y", 10, "plain", false)).toDF(), 0)
    sink.upsert(Seq(RecD(1, "gone", 20, part, true)).toDF(), 1)
    val rows = spark.read.parquet(dir).select("id").as[Int].collect().toSeq
    assert(rows == Seq(2)) // escaped-partition rows are really gone
  }

  test("keepVersions retains pre-images of the last N-1 commits and prunes older ones") {
    val dir = Files.createTempDirectory("upsert9").toString + "/t"
    val sink = ParquetUpsertSink(dir, Seq("id"), "precombine", "processing_date",
      keepVersions = 3)
    // fresh table: a manifest-ONLY commit (no pre-image dirs) — readAsOf
    // needs "created at this commit" distinguishable from "untouched"
    sink.upsert(Seq(Rec(1, "v0", 10, "2024-01-01")).toDF(), 0)
    val c0 = ParquetUpsertSink.listArchivedCommits(spark, dir)
    assert(c0.length == 1)
    assert(!new java.io.File(s"$dir/_archive/${c0.head}/processing_date=2024-01-01").exists())
    sink.upsert(Seq(Rec(1, "v1", 20, "2024-01-01")).toDF(), 1)
    sink.upsert(Seq(Rec(1, "v2", 30, "2024-01-01")).toDF(), 2)
    val commits = ParquetUpsertSink.listArchivedCommits(spark, dir)
    assert(commits.length == 2) // live + 2 archives = keepVersions
    // each archive holds the touched partition's PRE-image
    val preOf1 = spark.read.parquet(s"$dir/_archive/${commits.head}")
      .select("v").as[String].collect().toSeq
    assert(preOf1 == Seq("v0"))
    // a 4th commit prunes the oldest archive back to N-1
    sink.upsert(Seq(Rec(1, "v3", 40, "2024-01-01")).toDF(), 3)
    val commits2 = ParquetUpsertSink.listArchivedCommits(spark, dir)
    assert(commits2.length == 2 && !commits2.contains(commits.head))
    // archive dir is invisible to plain readers of the table root
    assert(spark.read.parquet(dir).select("v").as[String].collect().toSeq == Seq("v3"))
  }

  test("compactPartitions coalesces oversized partitions without changing rows") {
    val dir = Files.createTempDirectory("upsert10").toString + "/t"
    val writer = ParquetUpsertSink(dir, Seq("id"), "precombine", "processing_date")
    writer.upsert((1 to 20).map(i => Rec(i, s"v$i", i, s"2024-02-0${i % 2 + 1}")).toDF(), 0)
    // accumulate small-file debris the way a non-compacting writer would:
    // plain appends leave extra part files in the existing partition dirs
    (21 to 60).grouped(20).foreach { g =>
      g.map(i => Rec(i, s"v$i", i, s"2024-02-0${i % 2 + 1}")).toDF()
        .repartition(1).write.mode("append").partitionBy("processing_date").parquet(dir)
    }
    def fileCounts(): Map[String, Int] =
      new java.io.File(dir).listFiles().filter(_.getName.startsWith("processing_date="))
        .map(d => d.getName -> d.listFiles().count(_.getName.endsWith(".parquet"))).toMap
    assert(fileCounts().values.forall(_ > 1))
    val before = spark.read.parquet(dir).orderBy($"id").collect().toSeq
    val compacted = writer.compactPartitions(spark).sorted
    assert(compacted == Seq("processing_date=2024-02-01", "processing_date=2024-02-02"))
    assert(fileCounts().values.forall(_ == 1))
    assert(spark.read.parquet(dir).orderBy($"id").collect().toSeq == before)
    // idempotent: nothing left oversized
    assert(writer.compactPartitions(spark).isEmpty)
  }

  test("additive schema evolution: later batches may add columns; old rows null-fill") {
    val dir = Files.createTempDirectory("upsert14").toString + "/t"
    val sink = ParquetUpsertSink(dir, Seq("id"), "precombine", "processing_date")
    sink.upsert(Seq(Rec(1, "a", 10, "2024-01-01")).toDF(), 0)
    // batch 1 evolves the schema with an `extra` column and a new key
    sink.upsert(Seq(RecE(2, "b", 10, "2024-01-01", "meta")).toDF(), 1)
    val rows = spark.read.option("mergeSchema", "true").parquet(dir)
      .orderBy($"id").collect()
    assert(rows.map(_.getAs[Int]("id")).toSeq == Seq(1, 2))
    assert(rows(0).getAs[String]("extra") == null) // pre-evolution row null-fills
    assert(rows(1).getAs[String]("extra") == "meta")
    // batch 2 updates id=2 WITHOUT the column: latest version wins, so
    // its extra becomes null (additive evolution, no silent carry-over)
    sink.upsert(Seq(Rec(2, "b2", 20, "2024-01-01")).toDF(), 2)
    val after = spark.read.option("mergeSchema", "true").parquet(dir)
      .orderBy($"id").collect()
    assert(after(1).getAs[String]("v") == "b2")
    assert(after(1).getAs[String]("extra") == null)
  }

  test("upsert into a numeric-like string partition keeps existing rows (00123 ≠ 123)") {
    val dir = Files.createTempDirectory("upsert13").toString + "/t"
    val sink = ParquetUpsertSink(dir, Seq("id"), "precombine", "processing_date")
    sink.upsert(Seq(Rec(1, "a", 10, "00123")).toDF(), 0)
    // second batch touches the same partition: partition-type inference
    // (00123 → int 123) must not break the touched filter, or the merge
    // excludes row 1 and the dynamic overwrite deletes it
    sink.upsert(Seq(Rec(2, "b", 10, "00123")).toDF(), 1)
    val rows = spark.read.parquet(dir).select("id").as[Int].collect().sorted.toSeq
    assert(rows == Seq(1, 2))
  }

  test("compactPartitions preserves numeric-like string partition identity (no 00123→123 rename)") {
    val dir = Files.createTempDirectory("upsert12").toString + "/t"
    val sink = ParquetUpsertSink(dir, Seq("id"), "precombine", "processing_date")
    sink.upsert(Seq(Rec(1, "a", 10, "00123")).toDF(), 0)
    // debris file so the partition is oversized
    Seq(Rec(2, "b", 10, "00123")).toDF()
      .repartition(1).write.mode("append").partitionBy("processing_date").parquet(dir)
    assert(sink.compactPartitions(spark) == Seq("processing_date=00123"))
    val dirs = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("processing_date=")).map(_.getName).toSeq
    assert(dirs == Seq("processing_date=00123")) // NOT a new =123 dir
    val rows = spark.read.parquet(dir).select("id").as[Int].collect().sorted.toSeq
    assert(rows == Seq(1, 2)) // no duplication
  }

  test("syncTable registers the table in the catalog and syncs new partitions") {
    val dir = Files.createTempDirectory("upsert11").toString + "/t"
    val sink = ParquetUpsertSink(dir, Seq("id"), "precombine", "processing_date",
      syncTable = Some("upsert_synced"))
    try {
      sink.upsert(Seq(Rec(1, "a", 10, "2024-03-01")).toDF(), 0)
      assert(spark.sql("SELECT v FROM upsert_synced").as[String].collect().toSeq == Seq("a"))
      // second batch: update + a NEW partition must both be visible by name
      sink.upsert(Seq(
        Rec(1, "a2", 20, "2024-03-01"),
        Rec(2, "b", 10, "2024-03-02")).toDF(), 1)
      val rows = spark.sql(
        "SELECT id, v, processing_date FROM upsert_synced ORDER BY id")
        .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSeq
      assert(rows == Seq((1, "a2", "2024-03-01"), (2, "b", "2024-03-02")))
      // a schema-evolving batch must reach readers of the synced NAME
      sink.upsert(Seq(RecE(3, "c", 10, "2024-03-03", "meta")).toDF(), 2)
      val extras = spark.sql(
        "SELECT id, extra FROM upsert_synced ORDER BY id")
        .collect().map(r => (r.getInt(0), r.getString(1))).toSeq
      assert(extras == Seq((1, null), (2, null), (3, "meta")))
    } finally spark.sql("DROP TABLE IF EXISTS upsert_synced")
  }

  test("sweepStaging reclaims orphaned staging dirs and leaves the table intact") {
    val root = Files.createTempDirectory("upsert8").toString
    val dir = root + "/t"
    val sink = ParquetUpsertSink(dir, Seq("id"), "precombine", "processing_date")
    sink.upsert(Seq(Rec(1, "a", 10, "p1")).toDF(), 0)
    // simulate a crashed run's leftover staging dirs (dead tokens)
    Files.createDirectories(java.nio.file.Paths.get(s"${dir}__staging_deadbeef_3"))
    Files.createDirectories(java.nio.file.Paths.get(s"${dir}__staging_cafe01_7"))
    assert(ParquetUpsertSink.sweepStaging(spark, dir) == 2)
    assert(!Files.exists(java.nio.file.Paths.get(s"${dir}__staging_deadbeef_3")))
    assert(spark.read.parquet(dir).count() == 1) // table untouched
    assert(ParquetUpsertSink.sweepStaging(spark, dir) == 0) // idempotent
  }

  test("two sink instances on one table path never cross-delete staging dirs") {
    // the collision the per-instance token prevents: two writers whose
    // batch ids both restart at 0 would otherwise stage to — and
    // finally-delete — the SAME __staging_<batchId> directory
    val dir = Files.createTempDirectory("upsert9").toString + "/t"
    val a = ParquetUpsertSink(dir, Seq("id"), "precombine", "processing_date")
    val b = ParquetUpsertSink(dir, Seq("id"), "precombine", "processing_date")
    a.upsert(Seq(Rec(1, "a0", 10, "p1")).toDF(), 0)
    b.upsert(Seq(Rec(2, "b0", 10, "p1")).toDF(), 0) // same batch id, same path
    a.upsert(Seq(Rec(1, "a1", 20, "p1")).toDF(), 1)
    b.upsert(Seq(Rec(3, "b1", 10, "p2")).toDF(), 1)
    val rows = spark.read.parquet(dir).orderBy($"id").collect()
    assert(rows.map(r => (r.getAs[Int]("id"), r.getAs[String]("v"))).toSeq ==
      Seq((1, "a1"), (2, "b0"), (3, "b1")))
    // neither writer's finally-delete swept the other's staging dir
    // mid-flight, and nothing is left behind afterwards
    val parent = new java.io.File(dir).getParentFile
    assert(parent.listFiles().count(_.getName.contains("__staging_")) == 0)
  }

  test("readAsOf reconstructs each retained commit's state (updates, creations, tombstones)") {
    val dir = Files.createTempDirectory("asof").toString + "/t"
    val sink = ParquetUpsertSink(dir, Seq("id"), "precombine", "processing_date",
      deleteCol = Some("is_delete"), keepVersions = 4)
    // commit 0: create 2024-01-01 (id 1) and 2024-01-02 (id 2)
    sink.upsert(Seq(
      RecD(1, "a1", 10, "2024-01-01", false),
      RecD(2, "b1", 10, "2024-01-02", false)).toDF(), 0)
    // commit 1: update 2024-01-01, create 2024-01-03
    sink.upsert(Seq(
      RecD(1, "a2", 20, "2024-01-01", false),
      RecD(3, "c1", 10, "2024-01-03", false)).toDF(), 1)
    // commit 2: tombstone away all of 2024-01-02
    sink.upsert(Seq(RecD(2, "b1", 30, "2024-01-02", true)).toDF(), 2)

    val commits = ParquetUpsertSink.listArchivedCommits(spark, dir)
    assert(commits.length == 3)
    def snap(asOf: String): Set[(Int, String)] =
      sink.readAsOf(spark, asOf).select($"id", $"v").as[(Int, String)].collect().toSet

    // before the oldest commit: creations are known absent via the manifest
    assert(sink.readAsOf(spark, "").count() == 0)
    assert(snap(commits(0)) == Set((1, "a1"), (2, "b1")))
    assert(snap(commits(1)) == Set((1, "a2"), (2, "b1"), (3, "c1")))
    // as-of-latest == live read (tombstoned partition stays gone)
    assert(snap(commits(2)) == Set((1, "a2"), (3, "c1")))
    assert(spark.read.parquet(dir).select($"id", $"v").as[(Int, String)]
      .collect().toSet == snap(commits(2)))
  }

  test("readChangesSince reads only touched partitions, at live state") {
    val dir = Files.createTempDirectory("incr").toString + "/t"
    val sink = ParquetUpsertSink(dir, Seq("id"), "precombine", "processing_date",
      deleteCol = Some("is_delete"), keepVersions = 5)
    sink.upsert(Seq(
      RecD(1, "a1", 10, "p1", false),
      RecD(2, "b1", 10, "p2", false),
      RecD(3, "c1", 10, "p3", false)).toDF(), 0)
    sink.upsert(Seq(RecD(1, "a2", 20, "p1", false)).toDF(), 1)   // update p1
    sink.upsert(Seq(RecD(4, "d1", 10, "p4", false)).toDF(), 2)   // create p4
    sink.upsert(Seq(RecD(2, "b1", 30, "p2", true)).toDF(), 3)    // tombstone p2
    val commits = ParquetUpsertSink.listArchivedCommits(spark, dir)
    assert(commits.length == 4)
    def changes(since: String): Set[(Int, String)] =
      sink.readChangesSince(spark, since).select($"id", $"v").as[(Int, String)]
        .collect().toSet
    // since commit 0: p1 updated, p4 created, p2 tombstoned (gone — no rows);
    // p3 untouched and correctly absent
    assert(changes(commits(0)) == Set((1, "a2"), (4, "d1")))
    // only the tombstone since commit 2 — its partition has no live rows
    assert(sink.readChangesSince(spark, commits(2)).count() == 0)
    assert(sink.readChangesSince(spark, commits(3)).count() == 0) // nothing newer
    // since "" = every retained commit's partitions, at live state
    assert(changes("") == Set((1, "a2"), (3, "c1"), (4, "d1")))
  }

  test("empty change-set and time-travel reads carry the full table schema") {
    val dir = Files.createTempDirectory("emptyread").toString + "/t"
    val sink = ParquetUpsertSink(dir, Seq("id"), "precombine", "processing_date",
      keepVersions = 3)
    sink.upsert(Seq(Rec(1, "a", 10, "p1")).toDF(), 0)
    sink.upsert(Seq(Rec(1, "b", 20, "p1")).toDF(), 1)
    val commits = ParquetUpsertSink.listArchivedCommits(spark, dir)
    // nothing newer than the last commit → zero rows; selecting data
    // columns must still analyze (the common idle-poll consumer shape)
    val empty = sink.readChangesSince(spark, commits.last)
    assert(empty.count() == 0)
    assert(empty.select($"id", $"v", $"precombine").count() == 0)
    // before the oldest retained commit of a table CREATED by that
    // commit: zero rows, full schema (not just the partition column)
    val pre = sink.readAsOf(spark, "")
    assert(pre.count() == 0)
    assert(pre.select($"id", $"v", $"precombine").count() == 0)
  }

  test("readAsOf fails fast on a pruned or unknown commit id") {
    val dir = Files.createTempDirectory("prunedasof").toString + "/t"
    val sink = ParquetUpsertSink(dir, Seq("id"), "precombine", "processing_date",
      keepVersions = 2)
    sink.upsert(Seq(Rec(1, "a", 10, "p1")).toDF(), 0)
    sink.upsert(Seq(Rec(1, "b", 20, "p1")).toDF(), 1)
    sink.upsert(Seq(Rec(1, "c", 30, "p1")).toDF(), 2)
    val retained = ParquetUpsertSink.listArchivedCommits(spark, dir)
    assert(retained.length == 1) // keepVersions=2 retains one pre-image
    // a commit id older than the retained window must throw (its
    // pre-images are gone — the read would silently collapse to the
    // before-oldest state), and the error names the oldest survivor
    val ex = intercept[IllegalArgumentException] {
      sink.readAsOf(spark, "0000000000000000000")
    }
    assert(ex.getMessage.contains(retained.head))
    // the documented sentinels still work
    assert(sink.readAsOf(spark, "").count() >= 0)
    assert(sink.readAsOf(spark, retained.head).count() == 1)
  }

  test("readAsOf null-fills columns an old pre-image predates (additive evolution)") {
    val dir = Files.createTempDirectory("asof2").toString + "/t"
    val sink = ParquetUpsertSink(dir, Seq("id"), "precombine", "processing_date",
      keepVersions = 4)
    sink.upsert(Seq(Rec(1, "v1", 10, "p1"), Rec(2, "w1", 10, "p2")).toDF(), 0)
    sink.upsert(Seq(RecE(1, "v2", 20, "p1", "x")).toDF(), 1) // adds `extra`
    sink.upsert(Seq(RecE(2, "w2", 30, "p2", "y")).toDF(), 2)
    val commits = ParquetUpsertSink.listArchivedCommits(spark, dir)
    assert(commits.length == 3)
    // as of commit 1: p1 reads live (evolved schema), p2 from commit 2's
    // pre-evolution pre-image — its missing `extra` must null-fill
    val asOf1 = sink.readAsOf(spark, commits(1)).orderBy($"id")
      .select($"id", $"v", $"extra").collect()
    assert(asOf1.map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSeq ==
      Seq((1, "v2", "x"), (2, "w1", null)))
  }

  test("schema metadata: written at commit, survives restart, superset-on-crash is safe") {
    val dir = Files.createTempDirectory("schemameta").toString + "/t"
    val sink = ParquetUpsertSink(dir, Seq("id"), "precombine", "processing_date")
    sink.upsert(Seq(RecE(1, "a", 10, "p1", "m1")).toDF(), 0)
    val sf = java.nio.file.Paths.get(dir, ParquetUpsertSink.SchemaFileName)
    assert(java.nio.file.Files.exists(sf))
    // the persisted schema is the string-pinned writer schema — a
    // superset of every live file's columns, partition col as string
    val persisted = org.apache.spark.sql.types.DataType
      .fromJson(new String(java.nio.file.Files.readAllBytes(sf), "UTF-8"))
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(persisted.fieldNames.toSet ==
      Set("id", "v", "precombine", "processing_date", "extra"))
    assert(persisted("processing_date").dataType ==
      org.apache.spark.sql.types.StringType)
    // a RESTARTED writer (fresh sink instance = cold cache) reads the
    // metadata, merges against the full on-disk schema, and must not
    // drop the pre-existing `extra` column from untouched keys
    val restarted = ParquetUpsertSink(dir, Seq("id"), "precombine", "processing_date")
    restarted.upsert(Seq(Rec(2, "b", 10, "p1")).toDF(), 1)
    val rows = spark.read.option("mergeSchema", "true").parquet(dir)
      .orderBy($"id").collect()
    assert(rows.map(r => (r.getAs[Int]("id"), r.getAs[String]("extra"))).toSeq ==
      Seq((1, "m1"), (2, null)))
    // crash-superset property: a schema file carrying a column no live
    // file has (commit wrote metadata, crashed before the overwrite, no
    // replay came) only null-fills — it must not fail the next merge
    val wide = org.apache.spark.sql.types.StructType(persisted.fields :+
      org.apache.spark.sql.types.StructField("phantom",
        org.apache.spark.sql.types.StringType))
    // write through the Hadoop FS so the local-FS checksum sidecar stays
    // consistent (a raw java.nio write would fail the checksummed read)
    val hfs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = hfs.create(new org.apache.hadoop.fs.Path(
      dir, ParquetUpsertSink.SchemaFileName), true)
    try out.write(wide.json.getBytes("UTF-8")) finally out.close()
    val afterCrash = ParquetUpsertSink(dir, Seq("id"), "precombine", "processing_date")
    afterCrash.upsert(Seq(Rec(1, "a2", 20, "p1")).toDF(), 2)
    val healed = spark.read.option("mergeSchema", "true").parquet(dir)
      .orderBy($"id").collect()
    assert(healed.map(_.getAs[String]("v")).toSeq == Seq("a2", "b"))
  }

  test("legacy table without schema metadata falls back to footer inference") {
    val dir = Files.createTempDirectory("schemalegacy").toString + "/t"
    val sink = ParquetUpsertSink(dir, Seq("id"), "precombine", "processing_date")
    sink.upsert(Seq(RecE(1, "a", 10, "p1", "m1")).toDF(), 0)
    // simulate a table written before the metadata existed (delete via
    // the Hadoop FS so the checksum sidecar goes with it)
    new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(
        dir, ParquetUpsertSink.SchemaFileName), false)
    val legacy = ParquetUpsertSink(dir, Seq("id"), "precombine", "processing_date")
    legacy.upsert(Seq(Rec(1, "a2", 20, "p1")).toDF(), 1)
    val rows = spark.read.option("mergeSchema", "true").parquet(dir).collect()
    // the inferred merge kept the evolved column; the new version of the
    // key (sent without it) null-fills rather than erasing the column
    assert(rows.map(r => (r.getAs[String]("v"), r.getAs[String]("extra"))).toSeq ==
      Seq(("a2", null)))
    // and the fallback path re-establishes the metadata at its commit
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir, ParquetUpsertSink.SchemaFileName)))
  }

  test("a schema replace is never seen as a missing file by a concurrent load") {
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val dir = Files.createTempDirectory("schemaswap").toString + "/t"
    ParquetUpsertSink(dir, Seq("id"), "precombine", "processing_date")
      .upsert(Seq(Rec(1, "a", 10, "p1")).toDF(), 0)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val base = graft.io.TableSchema.load(fs, dir).get._1
    // each schema has a column no data file holds: a load that fell back
    // to footer inference would return neither
    val schemas = Seq("x1", "x2").map(c =>
      StructType(base.fields :+ StructField(c, StringType)))
    graft.io.TableSchema.replace(fs, dir, schemas(0))
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val writer = new Thread(() =>
      try (1 to 200).foreach(i => graft.io.TableSchema.replace(fs, dir, schemas(i % 2)))
      finally done.set(true))
    writer.start()
    val seen = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
    try while (!done.get || seen.isEmpty)
      seen += spark.read.format("graft-upsert").load(dir).schema.fieldNames.toSeq
    finally writer.join()
    assert(seen.forall(s => schemas.exists(_.fieldNames.toSeq == s)), seen.distinct)
  }

  // ——— the single-write COW commit ———

  private def partDirNames(dir: String): Seq[String] =
    new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("processing_date=")).map(_.getName).toSeq.sorted

  /** Data files under the table root, archive and metadata dirs excluded. */
  private def liveDataFiles(dir: String): Seq[String] =
    partDirNames(dir).flatMap(d => new java.io.File(dir, d).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => s"$d/${f.getName}")).sorted

  test("rows in the null (default) partition survive a second commit that touches it") {
    val dir = Files.createTempDirectory("cownull").toString + "/t"
    val sink = ParquetUpsertSink(dir, Seq("id"), "precombine", "processing_date")
    sink.upsert(Seq(
      Rec(1, "a", 1, null),
      Rec(2, "b", 1, "2024-01-01")).toDF(), 0)
    // touches the null partition: its surviving rows must be rewritten,
    // not deleted as an "emptied" partition after the write
    sink.upsert(Seq(Rec(3, "c", 2, null), Rec(1, "a2", 2, null)).toDF(), 1)
    assert(partDirNames(dir) == Seq(
      "processing_date=2024-01-01", "processing_date=__HIVE_DEFAULT_PARTITION__"))
    val rows = spark.read.parquet(dir)
      .select($"id", $"v", $"processing_date".cast("string"))
      .as[(Int, String, Option[String])].collect().sortBy(_._1).toSeq
    assert(rows == Seq((1, "a2", None), (2, "b", Some("2024-01-01")), (3, "c", None)))
  }

  test("a batch that moves a partition's last key elsewhere removes the emptied directory") {
    val dir = Files.createTempDirectory("cowmove").toString + "/t"
    val sink = ParquetUpsertSink(dir, Seq("id"), "precombine", "processing_date")
    sink.upsert(Seq(
      Rec(1, "a", 10, "2024-01-01"),
      Rec(2, "b", 10, "2024-01-02")).toDF(), 0)
    // id 1 moves to 2024-01-02; a stale version of id 2 touches
    // 2024-01-01, so both partitions are merged and the newer version of
    // each key wins — 2024-01-01 keeps no row
    sink.upsert(Seq(
      Rec(1, "a-moved", 20, "2024-01-02"),
      Rec(2, "b-stale", 5, "2024-01-01")).toDF(), 1)
    assert(partDirNames(dir) == Seq("processing_date=2024-01-02"))
    val rows = spark.read.parquet(dir).select($"id", $"v")
      .as[(Int, String)].collect().sortBy(_._1).toSeq
    assert(rows == Seq((1, "a-moved"), (2, "b")))
  }

  test("an all-tombstoned touched partition is removed and nothing is written") {
    val dir = Files.createTempDirectory("cowtomb").toString + "/t"
    val sink = ParquetUpsertSink(dir, Seq("id"), "precombine", "processing_date",
      deleteCol = Some("is_delete"))
    sink.upsert(Seq(
      (1, "a", 10L, "2024-01-05", false, "x1"),
      (2, "b", 10L, "2024-01-05", false, "x2"),
      (3, "c", 10L, "2024-01-06", false, "x3"))
      .toDF("id", "v", "precombine", "processing_date", "is_delete", "extra"), 0)
    val before = liveDataFiles(dir)
    val schemaFile = java.nio.file.Paths.get(dir, ParquetUpsertSink.SchemaFileName)
    val schemaBefore = new String(Files.readAllBytes(schemaFile), "UTF-8")
    // a NARROW batch (no `extra`) tombstoning every key of 2024-01-05
    sink.upsert(Seq(
      (1, "gone", 20L, "2024-01-05", true),
      (2, "gone", 20L, "2024-01-05", true))
      .toDF("id", "v", "precombine", "processing_date", "is_delete"), 1)
    assert(partDirNames(dir) == Seq("processing_date=2024-01-06"))
    // no data file was added or replaced: the untouched partition keeps
    // exactly its old file
    assert(liveDataFiles(dir) == before.filter(_.startsWith("processing_date=2024-01-06")))
    // and the schema did not narrow below the untouched partition's column
    assert(new String(Files.readAllBytes(schemaFile), "UTF-8") == schemaBefore)
    val rows = spark.read.format("graft-upsert").load(dir)
      .select($"id", $"extra").as[(Int, String)].collect().toSeq
    assert(rows == Seq((3, "x3")))
  }

  test("a steady-state commit on an existing partition runs at most 2 Spark jobs") {
    val dir = Files.createTempDirectory("cowjobs").toString + "/t"
    val sink = ParquetUpsertSink(dir, Seq("id"), "precombine", "processing_date")
    sink.upsert((1 to 200).map(i => Rec(i, s"v$i", 1, "2024-01-01")).toDF(), 0)
    val batch = (150 to 250).map(i => Rec(i, s"w$i", 2, "2024-01-01")).toDF()
    // partition discovery (which fills the batch's cache), then the
    // one-task merge and write
    val (_, jobs) = jobsDuring(sink.upsert(batch, 1))
    assert(jobs <= 2, s"the commit ran $jobs Spark jobs")
    assert(spark.read.parquet(dir).count() == 250)
    assert(liveDataFiles(dir).size == 1)
  }

  /** `body` with the session conf `key` set to `value`, restored after. */
  private def withConf[T](key: String, value: String)(body: => T): T = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** One COW sequence over a null partition, a key move, an
    * all-tombstoned partition and precombine ties. Returns the rows
    * read back, each partition dir's data-file count, and the Spark jobs
    * the commits ran.
    */
  private def cowSequence(dir: String): (Seq[(Int, String, Option[String])], Map[String, Int], Int) = {
    val sink = ParquetUpsertSink(dir, Seq("id"), "precombine", "processing_date",
      deleteCol = Some("is_delete"))
    def commit(batchId: Long, rows: (Int, String, Long, String, Boolean)*): Unit =
      sink.upsert(rows.toDF("id", "v", "precombine", "processing_date", "is_delete"), batchId)
    val (_, jobs) = jobsDuring {
      commit(0, (1, "a", 10, "2024-01-01", false), (2, "b", 10, "2024-01-02", false),
        (3, "c", 10, null, false), (4, "d", 10, "2024-01-03", false),
        (5, "e", 10, "2024-01-03", false))
      // the null partition again, with a tie inside the batch (id 6)
      commit(1, (3, "c2", 20, null, false), (6, "x", 30, null, false),
        (6, "y", 30, null, false))
      // id 1 moves to 2024-01-02; a stale id 2 touches 2024-01-01, so
      // 2024-01-01 is merged and left empty
      commit(2, (1, "a-moved", 20, "2024-01-02", false), (2, "b-stale", 5, "2024-01-01", false))
      // every key of 2024-01-03 tombstoned
      commit(3, (4, "gone", 20, "2024-01-03", true), (5, "gone", 20, "2024-01-03", true))
      // a tie with the stored version of id 2
      commit(4, (2, "b-tie", 10, "2024-01-02", false))
    }
    val rows = spark.read.parquet(dir)
      .select($"id", $"v", $"processing_date".cast("string"))
      .as[(Int, String, Option[String])].collect().sortBy(_._1).toSeq
    val files = liveDataFiles(dir).groupBy(_.takeWhile(_ != '/')).map { case (d, fs) => d -> fs.size }
    (rows, files, jobs)
  }

  test("one-task and distributed merge plans commit the same table, one file per partition") {
    val base = Files.createTempDirectory("cowplans").toString
    val (oneRows, oneFiles, oneJobs) = cowSequence(s"$base/one")
    // a 1-byte split target: no rewrite fits one task
    val (distRows, distFiles, distJobs) =
      withConf(graft.io.UpsertTableSource.SplitTargetConfKey, "1")(cowSequence(s"$base/dist"))
    assert(oneRows == distRows)
    assert(oneFiles == distFiles)
    assert(oneFiles == Map("processing_date=2024-01-02" -> 1,
      "processing_date=__HIVE_DEFAULT_PARTITION__" -> 1))
    assert(oneRows.map(r => (r._1, r._3)) == Seq(
      (1, Some("2024-01-02")), (2, Some("2024-01-02")), (3, None), (6, None)))
    assert(oneRows.find(_._1 == 3).map(_._2).contains("c2"))
    // the plans really differ: the distributed one shuffles, in extra jobs
    assert(distJobs > oneJobs, s"distributed $distJobs jobs, one-task $oneJobs")
  }

  test("a key that moves partitions within one batch leaves no copy where it was") {
    val dir = Files.createTempDirectory("cowmove1").toString + "/t"
    val sink = ParquetUpsertSink(dir, Seq("id"), "precombine", "processing_date")
    sink.upsert(Seq(Rec(1, "a", 10, "2024-01-01"), Rec(2, "b", 10, "2024-01-01")).toDF(), 0)
    // both of id 1's versions are in the batch: every partition the
    // batch names is merged, so the superseded one's partition loses
    // the key too
    sink.upsert(Seq(Rec(1, "a2", 20, "2024-01-01"), Rec(1, "a3", 30, "2024-01-02")).toDF(), 1)
    val rows = spark.read.parquet(dir)
      .select($"id", $"v", $"processing_date".cast("string"))
      .as[(Int, String, String)].collect().sortBy(_._1).toSeq
    assert(rows == Seq((1, "a3", "2024-01-02"), (2, "b", "2024-01-01")))
  }

  test("filesPerPartition = 2 keeps two files per partition for a small commit") {
    val dir = Files.createTempDirectory("cowfpp").toString + "/t"
    val sink = ParquetUpsertSink(dir, Seq("id"), "precombine", "processing_date",
      filesPerPartition = 2)
    // adaptive execution would fold this small shuffle into one task,
    // and one task writes one file per partition
    withConf("spark.sql.adaptive.coalescePartitions.enabled", "false") {
      sink.upsert((1 to 100).map(i => Rec(i, s"v$i", 1, "2024-01-01")).toDF(), 0)
      sink.upsert((90 to 110).map(i => Rec(i, s"w$i", 2, "2024-01-01")).toDF(), 1)
    }
    assert(liveDataFiles(dir).size == 2)
    assert(spark.read.parquet(dir).count() == 110)
  }

  test("a MOR append of a small batch runs at most 2 Spark jobs") {
    val dir = Files.createTempDirectory("morjobs").toString + "/t"
    val sink = ParquetUpsertSink(dir, Seq("id"), "precombine", "processing_date",
      writeMode = ParquetUpsertSink.ModeMor)
    sink.upsert((1 to 200).map(i => Rec(i, s"v$i", 1, "2024-01-01")).toDF(), 0)
    val batch = (150 to 250).map(i => Rec(i, s"w$i", 2, s"2024-01-0${i % 2 + 1}")).toDF()
    // the emptiness probe (which fills the batch's cache), then the
    // one-task dedup and delta write
    val (_, jobs) = jobsDuring(sink.upsert(batch, 1))
    assert(jobs <= 2, s"the MOR append ran $jobs Spark jobs")
    val rows = sink.readMor(spark).select($"id", $"v").as[(Int, String)].collect()
    // merge keys are partition-scoped: the 26 even ids in 150..200 update
    // their 2024-01-01 rows, the other 75 batch rows are new
    assert(rows.length == 275)
    assert(rows.filter(_._1 == 150).map(_._2).toSeq == Seq("w150"))
  }

  test("a DELETE on a small table rewrites its matched partition in at most 2 Spark jobs") {
    val dir = Files.createTempDirectory("deljobs").toString + "/t"
    val sink = ParquetUpsertSink(dir, Seq("id"), "precombine", "processing_date")
    sink.upsert((1 to 200).map(i => Rec(i, s"v$i", 1, s"2024-01-0${i % 2 + 1}")).toDF(), 0)
    // the matched-partition discovery, then the one-task survivor rewrite
    val (matched, jobs) = jobsDuring(sink.delete(spark, $"id" <= 10, 1))
    assert(jobs <= 2, s"the DELETE ran $jobs Spark jobs")
    assert(matched.sorted == Seq("2024-01-01", "2024-01-02"))
    assert(spark.read.parquet(dir).count() == 190)
    assert(liveDataFiles(dir).size == 2)
  }

  /** `body`'s result and the Spark jobs started while it ran (the
    * listener bus drained on both sides, so the count is exact).
    */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    org.apache.spark.GraftListenerBusBridge.drain(sc)
    sc.addSparkListener(listener)
    val result =
      try {
        val r = body
        org.apache.spark.GraftListenerBusBridge.drain(sc)
        r
      } finally sc.removeSparkListener(listener)
    (result, jobs.get)
  }

  // ——— layout rewrites and INSERT OVERWRITE through the one write ———

  test("optimizeZorder rewrites a partition in one write, rows unchanged, one file") {
    val dir = Files.createTempDirectory("zorder").toString + "/t"
    val sink = ParquetUpsertSink(dir, Seq("id"), "precombine", "processing_date")
    sink.upsert((1 to 200).map(i => Rec(i, s"v$i", (i * 37) % 101, "2024-01-01")).toDF(), 0)
    val before = spark.read.parquet(dir).orderBy($"id").collect().toSeq
    val (rewritten, jobs) = jobsDuring(sink.optimizeZorder(spark, $"id", $"precombine"))
    // the read feeds the write directly: no eager materialization job
    assert(jobs <= 2, s"the Z-order rewrite ran $jobs Spark jobs")
    assert(rewritten == Seq("processing_date=2024-01-01"))
    assert(spark.read.parquet(dir).orderBy($"id").collect().toSeq == before)
    assert(liveDataFiles(dir).size == 1)
  }

  test("overwriteDynamic replaces the batch's partitions, collecting them once") {
    val dir = Files.createTempDirectory("ovwdyn").toString + "/t"
    val sink = ParquetUpsertSink(dir, Seq("id"), "precombine", "processing_date")
    sink.upsert((1 to 40).map(i => Rec(i, s"v$i", 1, s"2024-01-0${i % 2 + 1}")).toDF(), 0)
    val batch = Seq(Rec(100, "n100", 1, "2024-01-01"), Rec(101, "n101", 1, "2024-01-01")).toDF()
    val (_, jobs) = jobsDuring(sink.overwriteDynamic(spark, batch, 1))
    assert(jobs <= 3, s"the overwrite ran $jobs Spark jobs")
    val rows = spark.read.parquet(dir).select($"id", $"processing_date".cast("string"))
      .as[(Int, String)].collect().toSet
    assert(rows == Set((100, "2024-01-01"), (101, "2024-01-01")) ++
      (1 to 40).filter(_ % 2 == 1).map(i => (i, "2024-01-02")))
    assert(liveDataFiles(dir).size == 2)
  }
}
