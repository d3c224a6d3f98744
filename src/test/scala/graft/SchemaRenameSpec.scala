package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.io.ParquetUpsertSink

/** Column rename/drop evolution of the graft-upsert table format.
  *
  * RENAME rewrites live files under the new name in one locked pass
  * and records the old→new pair; immutable history (archived
  * pre-image commits) keeps the old name and every reader resolves it
  * through the alias lineage. DROP is metadata-only and retires the
  * name permanently — re-using a retired name would resurrect values
  * old files still physically store.
  */
class SchemaRenameSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString + "/t"

  private def create(dir: String, keep: Int = 5): String = {
    val t = s"graft.`$dir`"
    spark.sql(
      s"""CREATE TABLE $t (id BIGINT, seq BIGINT, dept STRING, amount DOUBLE)
         |PARTITIONED BY (dept)
         |TBLPROPERTIES ('recordKeys'='id', 'precombine'='seq',
         |               'keepVersions'='$keep')
         |""".stripMargin)
    t
  }

  test("RENAME COLUMN rewrites live files; reads serve the new name") {
    val dir = tmp("ren")
    val t = create(dir)
    spark.sql(s"INSERT INTO $t VALUES (1, 1, 'eng', 10.0), (2, 1, 'ops', 20.0)")
    spark.sql(s"ALTER TABLE $t RENAME COLUMN amount TO price")

    assert(spark.table(t).columns.toSeq == Seq("id", "seq", "dept", "price"))
    val got = spark.sql(s"SELECT id, price FROM $t ORDER BY id")
      .as[(Long, Double)].collect().toSeq
    assert(got == Seq((1L, 10.0), (2L, 20.0)))
    // physically: no live file stores the old name
    val f = new java.io.File(dir, "dept=eng").listFiles()
      .filter(_.getName.startsWith("part-")).head
    val footer = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.toString),
        spark.sparkContext.hadoopConfiguration))
    val names = try {
      import scala.collection.JavaConverters._
      footer.getFooter.getFileMetaData.getSchema.getFields.asScala.map(_.getName).toSet
    } finally footer.close()
    assert(names.contains("price") && !names.contains("amount"))
  }

  test("time travel across a rename resolves the old name through the alias") {
    val dir = tmp("rentt")
    val t = create(dir)
    spark.sql(s"INSERT INTO $t VALUES (1, 1, 'eng', 10.0), (2, 1, 'ops', 20.0)")
    Thread.sleep(5)
    spark.sql(s"INSERT INTO $t VALUES (3, 1, 'hr', 30.0)")
    val commits = ParquetUpsertSink.listArchivedCommits(spark, dir)
    spark.sql(s"ALTER TABLE $t RENAME COLUMN amount TO price")

    // VERSION AS OF the first commit: its pre-image files store
    // `amount`, but the table serves the CURRENT schema (Delta
    // column-mapping semantics) — values must flow, not null-fill
    val v0 = spark.sql(
      s"SELECT id, price FROM $t VERSION AS OF '${commits(0)}' ORDER BY id")
      .as[(Long, Double)].collect().toSeq
    assert(v0 == Seq((1L, 10.0), (2L, 20.0)))
  }

  test("time travel + pushed value predicate on a renamed column keeps pre-rename files") {
    val dir = tmp("renskip")
    val t = create(dir)
    spark.sql(s"INSERT INTO $t VALUES (1, 1, 'eng', 10.0), (2, 1, 'ops', 20.0)")
    Thread.sleep(5)
    spark.sql(s"INSERT INTO $t VALUES (3, 1, 'hr', 30.0)")
    val commits = ParquetUpsertSink.listArchivedCommits(spark, dir)
    spark.sql(s"ALTER TABLE $t RENAME COLUMN amount TO price")

    // the predicate names `price`; the archived pre-rename files store
    // `amount`. Without alias-resolved footer stats the planner treats
    // `price` as absent (all-null) in those files and WRONGLY prunes
    // them — a silent empty result. The alias map must flow into the
    // planning-time pruner, not just the task readers.
    val got = spark.sql(
      s"SELECT id, price FROM $t VERSION AS OF '${commits(0)}' WHERE price > 15.0")
      .as[(Long, Double)].collect().toSeq
    assert(got == Seq((2L, 20.0)))
    // and the alias-resolved stats still PRUNE soundly: nothing matches
    assert(spark.sql(
      s"SELECT id FROM $t VERSION AS OF '${commits(0)}' WHERE price > 100.0")
      .count() == 0)
  }

  test("bloom point lookup across a rename resolves the historical chunk") {
    val dir = tmp("renbloom")
    val t = s"graft.`$dir`"
    spark.sql(
      s"""CREATE TABLE $t (id BIGINT, seq BIGINT, dept STRING, amount DOUBLE)
         |PARTITIONED BY (dept)
         |TBLPROPERTIES ('recordKeys'='id', 'precombine'='seq',
         |               'keepVersions'='5', 'bloomColumns'='amount')
         |""".stripMargin)
    spark.sql(s"INSERT INTO $t VALUES (1, 1, 'eng', 10.0), (2, 1, 'eng', 20.0)")
    Thread.sleep(5)
    spark.sql(s"INSERT INTO $t VALUES (3, 1, 'eng', 30.0)")
    val commits = ParquetUpsertSink.listArchivedCommits(spark, dir)
    spark.sql(s"ALTER TABLE $t RENAME COLUMN amount TO price")

    def asOf(pred: org.apache.spark.sql.Column) =
      spark.read.format("graft-upsert").option("asOf", commits(0)).load(dir)
        .where(pred)
    // present value: the bloom probe must find the HISTORICAL `amount`
    // chunk through the alias — a missed chunk would be conservative
    // (kept) here, but the row itself must flow either way
    assert(asOf(col("price") === 10.0).select("id")
      .as[Long].collect().toSeq == Seq(1L))
    // absent value INSIDE the [10, 20] min/max span: only the bloom can
    // prove absence, and only through the alias-resolved chunk — zero
    // files planned shows the rename did not silently disable blooms
    assert(asOf(col("price") === 15.0).rdd.getNumPartitions == 0)
  }

  test("change feed across a rename normalizes archived old-name dirs") {
    val dir = tmp("rencf")
    val t = create(dir)
    spark.sql(s"INSERT INTO $t VALUES (1, 1, 'eng', 10.0), (2, 1, 'ops', 20.0)")
    Thread.sleep(5)
    spark.sql(s"ALTER TABLE $t RENAME COLUMN amount TO price")
    spark.sql(s"INSERT INTO $t VALUES (1, 2, 'eng', 11.0)")
    val commits = ParquetUpsertSink.listArchivedCommits(spark, dir)
    val sink = ParquetUpsertSink(dir, Seq("id"), "seq", "dept", keepVersions = 5)
    val feed = sink.changeFeed(spark, commits(0), commits.last)
      .select("id", "price", "_change_type")
      .as[(Long, Double, String)].collect().toSet
    // id=1 updated 10.0 -> 11.0 across the window; the pre-image row
    // lives in an old-name archive and must carry its value
    assert(feed == Set((1L, 10.0, "update_preimage"),
      (1L, 11.0, "update_postimage")))
  }

  test("upsert merge after a rename keeps merging (current-era maintenance reads)") {
    val dir = tmp("renup")
    val t = create(dir)
    spark.sql(s"INSERT INTO $t VALUES (1, 1, 'eng', 10.0), (2, 1, 'ops', 20.0)")
    spark.sql(s"ALTER TABLE $t RENAME COLUMN amount TO price")
    spark.sql(s"INSERT INTO $t VALUES (1, 2, 'eng', 99.0)")
    val got = spark.sql(s"SELECT id, price FROM $t ORDER BY id")
      .as[(Long, Double)].collect().toSeq
    assert(got == Seq((1L, 99.0), (2L, 20.0)))
  }

  test("DROP COLUMN is metadata-only; the name retires permanently") {
    val dir = tmp("drop")
    val t = create(dir)
    spark.sql(s"INSERT INTO $t VALUES (1, 1, 'eng', 10.0)")
    spark.sql(s"ALTER TABLE $t DROP COLUMN amount")
    assert(spark.table(t).columns.toSeq == Seq("id", "seq", "dept"))
    assert(spark.sql(s"SELECT id FROM $t").as[Long].collect().toSeq == Seq(1L))
    // re-adding the dropped name would resurrect the physical values
    val e1 = intercept[Exception](
      spark.sql(s"ALTER TABLE $t ADD COLUMN amount DOUBLE"))
    assert(e1.getMessage.contains("retired"))
    // a different name is fine
    spark.sql(s"ALTER TABLE $t ADD COLUMN note STRING")
    assert(spark.table(t).columns.toSeq == Seq("id", "seq", "dept", "note"))
  }

  test("renaming TO a retired (renamed-away) name is rejected") {
    val dir = tmp("renret")
    val t = create(dir)
    spark.sql(s"INSERT INTO $t VALUES (1, 1, 'eng', 10.0)")
    spark.sql(s"ALTER TABLE $t RENAME COLUMN amount TO price")
    spark.sql(s"ALTER TABLE $t ADD COLUMN score DOUBLE")
    val e = intercept[Exception](
      spark.sql(s"ALTER TABLE $t RENAME COLUMN score TO amount"))
    assert(e.getMessage.contains("retired"))
  }

  test("structural columns (partition, key, precombine) refuse DROP/RENAME") {
    val dir = tmp("renstr")
    val t = create(dir)
    spark.sql(s"INSERT INTO $t VALUES (1, 1, 'eng', 10.0)")
    for (sql <- Seq(
      s"ALTER TABLE $t RENAME COLUMN dept TO division",
      s"ALTER TABLE $t RENAME COLUMN id TO key_id",
      s"ALTER TABLE $t DROP COLUMN seq")) {
      val e = intercept[Exception](spark.sql(sql))
      assert(e.getMessage.contains("structural"), sql)
    }
  }

  test("rename composes with type widening across history") {
    val dir = tmp("renwid")
    val t = s"graft.`$dir`"
    spark.sql(
      s"""CREATE TABLE $t (id BIGINT, seq BIGINT, dept STRING, n INT)
         |PARTITIONED BY (dept)
         |TBLPROPERTIES ('recordKeys'='id', 'precombine'='seq', 'keepVersions'='5')
         |""".stripMargin)
    spark.sql(s"INSERT INTO $t VALUES (1, 1, 'eng', 7)")
    Thread.sleep(5)
    spark.sql(s"INSERT INTO $t VALUES (2, 1, 'ops', 8)")
    val commits = ParquetUpsertSink.listArchivedCommits(spark, dir)
    spark.sql(s"ALTER TABLE $t ALTER COLUMN n TYPE BIGINT")
    spark.sql(s"ALTER TABLE $t RENAME COLUMN n TO counter")
    assert(spark.sql(s"SELECT id, counter FROM $t ORDER BY id")
      .as[(Long, Long)].collect().toSeq == Seq((1L, 7L), (2L, 8L)))
    // archived int32 files under the OLD name: alias + promotion together
    assert(spark.sql(
      s"SELECT id, counter FROM $t VERSION AS OF '${commits(0)}' ORDER BY id")
      .as[(Long, Long)].collect().toSeq == Seq((1L, 7L)))
  }
}
