package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.io.{ParquetUpsertSink, UpsertTableSource}

/** The vectorized ColumnarBatch read path of the `graft-upsert` scan:
  * the rows the spec wrote (or `spark.read.parquet` of the same live
  * files) on every format-specific behavior (partition constants,
  * evolution null-fill, type widening, nulls, binary, multi-row-group
  * skipping), with the executed plan proving batches actually flow
  * (ColumnarToRow).
  */
class ColumnarReadSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString + "/t"

  private def planOf(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def rowsOf(df: DataFrame): Set[String] =
    df.collect().map(_.toSeq.map {
      case b: Array[Byte] => b.toSeq.toString
      case x => String.valueOf(x)
    }.mkString("|")).toSet

  /** Evaluate `mk`; assert the run really went columnar. */
  private def columnar(mk: => DataFrame): Set[String] = {
    assert(planOf(mk).contains("ColumnarToRow"),
      "columnar path not active — expected ColumnarToRow in the plan")
    rowsOf(mk)
  }

  /** Spark's own parquet read of the table's live files (the partition
    * column from the `p=` dirs), projected like the table.
    */
  private def liveFiles(dir: String, cols: Seq[String]): Set[String] =
    rowsOf(spark.read.parquet(dir).select(cols.map(col): _*))

  test("basic read parity, all flat types, with nulls") {
    val dir = tmp("colbasic")
    val sink = ParquetUpsertSink(dir, Seq("id"), "seq", "p")
    val rows = (0 until 500).map { n =>
      (n.toLong, 1L,
        if (n % 7 == 0) null else s"s$n",
        if (n % 5 == 0) null else java.lang.Double.valueOf(n * 1.5),
        n % 2 == 0,
        java.sql.Date.valueOf("2024-01-01"),
        java.sql.Timestamp.valueOf(s"2024-01-01 00:0${n % 6}:00"),
        s"p${n % 3}")
    }
    sink.upsert(rows.toDF("id", "seq", "s", "d", "b", "dt", "ts", "p"), 0)
    val table = spark.read.format("graft-upsert").load(dir)
    val got = columnar(table)
    assert(got.size == 500)
    assert(got == liveFiles(dir, table.columns.toSeq))
  }

  test("partition constant, projection order, and null partition value") {
    val dir = tmp("colpart")
    val sink = ParquetUpsertSink(dir, Seq("id"), "seq", "p")
    sink.upsert(Seq((1L, 1L, 10L, "a"), (2L, 1L, 20L, null))
      .toDF("id", "seq", "v", "p"), 0)
    // partition column projected FIRST (the constant vector must splice
    // at its projected position, not append at the end)
    val got = columnar(spark.read.format("graft-upsert").load(dir)
      .select("p", "v", "id"))
    assert(got == Set("a|10|1", "null|20|2"))
  }

  test("evolution: files predating a column serve constant nulls") {
    val dir = tmp("colevo")
    val sink = ParquetUpsertSink(dir, Seq("id"), "seq", "p")
    sink.upsert(Seq((1L, 1L, "a")).toDF("id", "seq", "p"), 0)
    sink.upsert(Seq((2L, 1L, "new", "b")).toDF("id", "seq", "extra", "p"), 1)
    val got = columnar(spark.read.format("graft-upsert").load(dir)
      .select("id", "extra"))
    assert(got == Set("1|null", "2|new"))
  }

  test("widened table: int32/float files promote in the vectorized path") {
    val dir = tmp("colwiden")
    val sink = ParquetUpsertSink(dir, Seq("id"), "seq", "p")
    sink.upsert(Seq((1, 1L, 1.5f, "a")).toDF("id", "seq", "v", "p"), 0)
    // widen via a DIFFERENT partition; partition a's file stays narrow
    sink.upsert(Seq((2L, 1L, 2.5d, "b")).toDF("id", "seq", "v", "p"), 1)
    val table = spark.read.format("graft-upsert").load(dir)
    assert(table.schema("id").dataType == LongType)
    assert(table.schema("v").dataType == DoubleType)
    val got = columnar(spark.read.format("graft-upsert").load(dir)
      .select("id", "v"))
    assert(got == Set("1|1.5", "2|2.5"))
  }

  test("binary columns flow through batches") {
    val dir = tmp("colbin")
    val sink = ParquetUpsertSink(dir, Seq("id"), "seq", "p")
    sink.upsert(Seq((1L, 1L, Array[Byte](1, 2, 3), "a"),
      (2L, 1L, null.asInstanceOf[Array[Byte]], "a"))
      .toDF("id", "seq", "fp", "p"), 0)
    val got = columnar(spark.read.format("graft-upsert").load(dir).select("id", "fp"))
    assert(got == Set(s"1|${Array[Byte](1, 2, 3).toSeq}", "2|null"))
  }

  test("row-group skipping predicates apply identically") {
    val dir = tmp("colskip")
    val sink = ParquetUpsertSink(dir, Seq("id"), "seq", "p")
    sink.upsert((0L until 200000L).map(n => (n, 1L, n * 3, s"p${n % 2}"))
      .toDF("id", "seq", "v", "p"), 0)
    val got = columnar(spark.read.format("graft-upsert").load(dir)
      .where($"id" >= 199990L).select("id", "v"))
    assert(got == (199990L until 200000L).map(n => s"$n|${n * 3}").toSet)
  }

  test("time travel reads go columnar too") {
    val dir = tmp("coltt")
    val sink = ParquetUpsertSink(dir, Seq("id"), "seq", "p", keepVersions = 3)
    sink.upsert(Seq((1L, 1L, 10L, "a")).toDF("id", "seq", "v", "p"), 0)
    val c0 = ParquetUpsertSink.listArchivedCommits(spark, dir).last
    sink.upsert(Seq((1L, 2L, 99L, "a")).toDF("id", "seq", "v", "p"), 1)
    val got = columnar(spark.read.format("graft-upsert")
      .option("asOf", c0).load(dir).select("id", "v"))
    assert(got == Set("1|10"))
  }

  test("SPJ grouped partitions serve batches file by file") {
    val dir = tmp("colspj")
    // filesPerPartition = 2: each SPJ group holds SEVERAL files, so the
    // multi-file columnar reader's file chaining is actually exercised
    val sink = ParquetUpsertSink(dir, Seq("id"), "seq", "p", filesPerPartition = 2)
    sink.upsert((0L until 100L).map(n => (n, 1L, n * 3, s"p${n % 2}"))
      .toDF("id", "seq", "v", "p"), 0)
    spark.conf.set(UpsertTableSource.SpjConfKey, "true")
    try {
      val got = columnar(spark.read.format("graft-upsert").load(dir)
        .select("p", "v", "id"))
      assert(got == (0L until 100L).map(n => s"p${n % 2}|${n * 3}|$n").toSet)
    } finally spark.conf.unset(UpsertTableSource.SpjConfKey)
  }

  test("array columns (embeddings) flow through batches with row parity") {
    val dir = tmp("colarr")
    val sink = ParquetUpsertSink(dir, Seq("id"), "seq", "p")
    sink.upsert(Seq(
      (1L, 1L, Seq(1.0f, 2.0f), Seq("x", null), "a"),
      (2L, 1L, null.asInstanceOf[Seq[Float]], Seq.empty[String], "a"),
      (3L, 1L, Seq(3.5f), null.asInstanceOf[Seq[String]], "b"))
      .toDF("id", "seq", "emb", "tags", "p"), 0)
    val got = columnar(spark.read.format("graft-upsert").load(dir)
      .select("id", "emb", "tags"))
    assert(got.size == 3)
    assert(got == liveFiles(dir, Seq("id", "emb", "tags")))
    // and the values are right, not merely consistent
    assert(spark.read.format("graft-upsert").load(dir)
      .where($"id" === 1L).select("emb").as[Seq[Float]].head() == Seq(1.0f, 2.0f))
  }
}
