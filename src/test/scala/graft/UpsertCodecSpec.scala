package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.io.{ParquetUpsertSink, UpsertDataWriterFactory}

/** The table format's one parquet codec: Spark's parquet reader and
  * writer, and the one type rule both directions check on the driver
  * (flat atomics plus single-level arrays of atomics).
  */
class UpsertCodecSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString + "/t"

  private def write(df: DataFrame, dir: String): Unit =
    df.write.format("graft-upsert")
      .option("recordKeys", "id")
      .option("precombine", "seq")
      .option("partitionCol", "p")
      .mode("append").save(dir)

  /** The type-rule failure, wherever Spark wrapped it. */
  private def assertUnsupported(body: => Any): Unit = {
    val e = intercept[Exception](body)
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
    assert(chain.exists(t => t.isInstanceOf[UnsupportedOperationException] &&
      t.getMessage.contains("not supported by this table format")), e.toString)
  }

  test("an ARRAY<FLOAT> column round-trips through the DSv2 writer") {
    val dir = tmp("codecarr")
    val rows = Seq(
      (1L, 1L, Seq(1.0f, 2.5f), "a"),
      (2L, 1L, null.asInstanceOf[Seq[Float]], "a"),
      (3L, 1L, Seq.empty[Float], "b"))
    write(rows.toDF("id", "seq", "emb", "p"), dir)
    val got = spark.read.format("graft-upsert").load(dir)
      .select("id", "seq", "emb", "p").as[(Long, Long, Seq[Float], String)]
      .collect().sortBy(_._1).toSeq
    assert(got == rows)
  }

  /** Part files under a table root, and the `_schema.json` text. */
  private def tableFiles(dir: String): (Seq[String], String) = {
    val root = new java.io.File(dir)
    def parts(f: java.io.File): Seq[String] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(parts)
      else if (f.getName.startsWith("part-")) Seq(f.getPath) else Seq.empty
    (parts(root).sorted, new String(Files.readAllBytes(
      new java.io.File(root, ParquetUpsertSink.SchemaFileName).toPath), "UTF-8"))
  }

  test("a sink commit carrying a DECIMAL column is refused before any file is written") {
    val dir = tmp("codecdecsink")
    val sink = ParquetUpsertSink(dir, Seq("id"), "seq", "p")
    sink.upsert(Seq((1L, 1L, "a")).toDF("id", "seq", "p"), 0)
    val before = tableFiles(dir)
    assertUnsupported(sink.upsert(
      Seq((2L, 1L, BigDecimal("1.25"), "b")).toDF("id", "seq", "amt", "p"), 1))
    // the merge-on-read append is refused the same way
    val mor = ParquetUpsertSink(dir, Seq("id"), "seq", "p",
      writeMode = ParquetUpsertSink.ModeMor)
    assertUnsupported(mor.upsert(
      Seq((3L, 1L, BigDecimal("2.50"), "a")).toDF("id", "seq", "amt", "p"), 2))
    assert(tableFiles(dir) == before)
  }

  test("a DECIMAL column fails on a read that selects it and on a DSv2 write") {
    val dir = tmp("codecdec")
    // the sink refuses the type, so the table is written by hand: one
    // parquet file and the `_schema.json` that declares its columns
    val df = Seq((1L, 1L, BigDecimal("1.25"))).toDF("id", "seq", "amt")
    df.coalesce(1).write.parquet(s"$dir/p=a")
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(new Path(dir, ParquetUpsertSink.SchemaFileName), true)
    try out.write(StructType(df.schema.fields :+ StructField("p", StringType))
      .json.getBytes("UTF-8"))
    finally out.close()
    val table = spark.read.format("graft-upsert").load(dir)
    assertUnsupported(table.select("id", "amt").collect())
    // a projection that avoids the decimal column still reads
    assert(table.select("id", "p").as[(Long, String)].collect().toSeq == Seq((1L, "a")))
    assertUnsupported(write(
      Seq((2L, 1L, BigDecimal("2.50"), "a")).toDF("id", "seq", "amt", "p"), tmp("codecdecw")))
  }

  test("UPDATE on DATE, TIMESTAMP and ARRAY<FLOAT> columns stages and reads back equal") {
    val dir = tmp("codecupd")
    val t = s"graft.`$dir`"
    spark.sql(
      s"""CREATE TABLE $t (id BIGINT, seq BIGINT, d DATE, ts TIMESTAMP,
         |  emb ARRAY<FLOAT>, amount DOUBLE, p STRING)
         |PARTITIONED BY (p)
         |TBLPROPERTIES ('recordKeys'='id', 'precombine'='seq')""".stripMargin)
    spark.sql(s"INSERT INTO $t VALUES " +
      "(1, 1, DATE'2024-02-29', TIMESTAMP'2024-03-01 10:15:30.123456', " +
      "array(CAST(1.5 AS FLOAT), CAST(-2 AS FLOAT)), 10.0, 'a'), " +
      "(2, 1, DATE'1970-01-01', TIMESTAMP'1999-12-31 23:59:59', NULL, 20.0, 'a')")
    def snapshot(): Seq[String] =
      spark.sql(s"SELECT id, d, ts, emb, p FROM $t ORDER BY id")
        .collect().map(_.toString).toSeq
    val before = snapshot()
    spark.sql(s"UPDATE $t SET amount = amount + 1 WHERE id >= 1")
    assert(snapshot() == before)
    assert(spark.sql(s"SELECT emb FROM $t WHERE id = 1").as[Seq[Float]].head() ==
      Seq(1.5f, -2.0f))
    assert(spark.sql(s"SELECT amount FROM $t ORDER BY id").as[Double].collect().toSeq ==
      Seq(11.0, 21.0))
  }

  private val stagedSchema = StructType(Seq(
    StructField("id", LongType), StructField("v", StringType)))

  test("a ReplaceData row of the wrong arity fails the staged writer") {
    val staging = tmp("codecarity")
    val w = new UpsertDataWriterFactory(staging, stagedSchema, dropOperationColumn = true)
      .createWriter(0, 0)
    try intercept[IllegalStateException](w.write(InternalRow(1L, UTF8String.fromString("x"))))
    finally w.abort()
  }

  test("abort() leaves no staged file") {
    val staging = tmp("codecabort")
    val w = new UpsertDataWriterFactory(staging, stagedSchema, dropOperationColumn = true)
      .createWriter(0, 0)
    w.write(InternalRow(1, 7L, UTF8String.fromString("x")))
    w.abort()
    val fs = new Path(staging).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val left =
      if (!fs.exists(new Path(staging))) Seq.empty
      else fs.listStatus(new Path(staging)).map(_.getPath.getName).toSeq
    assert(left.isEmpty, s"staged files left after abort: $left")
  }
}
