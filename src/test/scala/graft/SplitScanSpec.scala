package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.io.{ParquetUpsertSink, UpsertTableSource}

/** Byte-range input-split planning of the `graft-upsert` scan: a file
  * larger than `spark.graft.upsert.split.targetBytes` is served by
  * several input partitions (one per byte range), each reading exactly
  * the row groups whose midpoint falls in its range — so one big file
  * no longer caps parallelism, and slicing can never duplicate or drop
  * rows. Fixtures force many small row groups via `parquet.block.size`.
  */
class SplitScanSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString + "/t"

  /** One-partition table whose single data file holds many row groups. */
  private def writeBig(dir: String, rows: Int): Unit = {
    val hc = spark.sparkContext.hadoopConfiguration
    val prev = hc.get("parquet.block.size")
    hc.setInt("parquet.block.size", 16 * 1024)
    try {
      val sink = ParquetUpsertSink(dir, Seq("id"), "seq", "p")
      sink.upsert((0 until rows).map(n =>
          (n.toLong, 1L, s"v$n" * 8, n * 1.5, "a"))
        .toDF("id", "seq", "s", "d", "p"), 0)
    } finally {
      if (prev == null) hc.unset("parquet.block.size")
      else hc.set("parquet.block.size", prev)
    }
  }

  private def table(dir: String): DataFrame =
    spark.read.format("graft-upsert").load(dir)

  private def withSplitTarget[A](bytes: Long)(body: => A): A = {
    spark.conf.set(UpsertTableSource.SplitTargetConfKey, bytes.toString)
    try body finally spark.conf.unset(UpsertTableSource.SplitTargetConfKey)
  }

  private def checksum(df: DataFrame): (Long, Long, Long) = {
    val r = df.agg(count(lit(1)), countDistinct(col("id")), sum(col("id"))).head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  test("a large file splits into several input partitions, rows served exactly once") {
    val dir = tmp("split")
    writeBig(dir, 20000)
    val fileCount = new java.io.File(dir, "p=a").listFiles()
      .count(f => f.getName.startsWith("part-") && f.length > 0)
    assert(fileCount == 1, s"fixture wanted one data file, got $fileCount")

    withSplitTarget(32 * 1024) {
      val df = table(dir)
      assert(df.rdd.getNumPartitions > 4,
        s"expected >4 splits of the single file, got ${df.rdd.getNumPartitions}")
      assert(checksum(df) == (20000L, 20000L, 20000L * 19999 / 2))
    }
  }

  test("split and unsplit reads serve the closed-form checksum") {
    val dir = tmp("splitpar")
    writeBig(dir, 20000)
    val expected = (20000L, 20000L, 20000L * 19999 / 2)
    withSplitTarget(32 * 1024)(assert(checksum(table(dir)) == expected))
    withSplitTarget(0)(assert(checksum(table(dir)) == expected))
  }

  test("splits compose with residual-predicate filtering and the partition constant") {
    val dir = tmp("splitfil")
    writeBig(dir, 20000)
    withSplitTarget(32 * 1024) {
      val got = table(dir)
        .filter(col("id").between(5000, 5009))
        .select("id", "p")
        .collect().map(r => s"${r.getLong(0)}|${r.getString(1)}").toSet
      assert(got == (5000 to 5009).map(n => s"$n|a").toSet)
    }
  }

  test("targetBytes=0 disables splitting; default leaves small files whole") {
    val dir = tmp("splitoff")
    writeBig(dir, 20000)
    withSplitTarget(0)(assert(table(dir).rdd.getNumPartitions == 1))
    // default 128 MB target: this small file stays a single split
    assert(table(dir).rdd.getNumPartitions == 1)
  }

  test("upsert over a split table still merges by key (maintenance reads unaffected)") {
    val dir = tmp("splitup")
    writeBig(dir, 8000)
    withSplitTarget(32 * 1024) {
      val sink = ParquetUpsertSink(dir, Seq("id"), "seq", "p")
      sink.upsert(Seq((42L, 2L, "UPD", 0.0, "a")).toDF("id", "seq", "s", "d", "p"), 1)
      val df = table(dir)
      assert(df.count() == 8000)
      assert(df.filter(col("id") === 42).select("s").head().getString(0) == "UPD")
    }
  }
}
