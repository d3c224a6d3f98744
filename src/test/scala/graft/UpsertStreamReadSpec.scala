package graft

import java.nio.file.Files

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.io.ParquetUpsertSink

/** Streaming READ path of the upsert table format
  * (`spark.readStream.format("graft-upsert")`): per-commit incremental
  * change batches, upsert fold convergence, startingOffset=latest.
  */
class UpsertStreamReadSpec extends SparkSpec {
  import spark.implicits._

  private def mkTable(prefix: String): (String, ParquetUpsertSink) = {
    val dir = Files.createTempDirectory(prefix).toString + "/t"
    // keepVersions is the stream's commit log depth
    val sink = ParquetUpsertSink(dir, Seq("id"), "seq", "dept", keepVersions = 10)
    (dir, sink)
  }

  private def runStream(dir: String, startingOffset: String)(
      betweenBatches: => Unit): mutable.Buffer[(Long, Seq[(Long, Long, String)])] = {
    val batches = mutable.Buffer.empty[(Long, Seq[(Long, Long, String)])]
    val q = spark.readStream.format("graft-upsert")
      .option("startingOffset", startingOffset).load(dir)
      .writeStream
      .option("checkpointLocation",
        Files.createTempDirectory("ckpt_usr").toString)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        val rows = df.select(col("id"), col("seq"), col("dept"))
          .as[(Long, Long, String)].collect().toSeq.sorted
        batches.synchronized { batches += ((id, rows)) }
        ()
      }
      .start()
    try {
      q.processAllAvailable()
      betweenBatches
      q.processAllAvailable()
    } finally q.stop()
    batches
  }

  test("earliest: first batch is the current state, later commits arrive incrementally") {
    val (dir, sink) = mkTable("usr1")
    sink.upsert(Seq((1L, 1L, "eng"), (2L, 1L, "ops")).toDF("id", "seq", "dept"), 0)
    sink.upsert(Seq((3L, 1L, "hr")).toDF("id", "seq", "dept"), 1)
    val batches = runStream(dir, "earliest") {
      // a commit arriving while the stream runs: updates eng, leaves ops/hr alone
      sink.upsert(Seq((1L, 2L, "eng"), (4L, 1L, "eng")).toDF("id", "seq", "dept"), 2)
    }
    val nonEmpty = batches.filter(_._2.nonEmpty)
    assert(nonEmpty.size == 2)
    // batch 1: the table as of the two seed commits
    assert(nonEmpty(0)._2 == Seq((1L, 1L, "eng"), (2L, 1L, "ops"), (3L, 1L, "hr")))
    // batch 2: ONLY the touched partition (eng), at its post-image
    assert(nonEmpty(1)._2 == Seq((1L, 2L, "eng"), (4L, 1L, "eng")))
    // upsert fold over the batches converges to the live table
    val folded = nonEmpty.flatMap(_._2)
      .groupBy(_._1).map { case (_, vs) => vs.maxBy(_._2) }.toSeq.sorted
    val live = spark.read.format("graft-upsert").load(dir)
      .select(col("id"), col("seq"), col("dept"))
      .as[(Long, Long, String)].collect().toSeq.sorted
    assert(folded == live)
  }

  test("latest: only commits after stream start are emitted") {
    val (dir, sink) = mkTable("usr2")
    sink.upsert(Seq((1L, 1L, "eng"), (2L, 1L, "ops")).toDF("id", "seq", "dept"), 0)
    val batches = runStream(dir, "latest") {
      sink.upsert(Seq((5L, 1L, "hr")).toDF("id", "seq", "dept"), 1)
    }
    assert(batches.flatMap(_._2) == Seq((5L, 1L, "hr")))
  }

  test("a replayed batch across a RENAME resolves old-name archived files") {
    // crash-replay scenario: the WAL pinned a batch's end offset at c0;
    // before the replay, a pre-rename commit c1 lands (its archive
    // holds c0's post-image under the OLD column name), then the table
    // renames. The replayed batch must serve the renamed column's
    // VALUES from those old-name files — without the alias map it
    // silently null-fills exactly the replayed range.
    val dir = Files.createTempDirectory("usrren").toString + "/t"
    val t = s"graft.`$dir`"
    spark.sql(
      s"""CREATE TABLE $t (id BIGINT, seq BIGINT, dept STRING, amount DOUBLE)
         |PARTITIONED BY (dept)
         |TBLPROPERTIES ('recordKeys'='id', 'precombine'='seq', 'keepVersions'='10')
         |""".stripMargin)
    spark.sql(s"INSERT INTO $t VALUES (1, 0, 'eng', 10.0)")
    val c0 = ParquetUpsertSink.listArchivedCommits(spark, dir).last
    Thread.sleep(5)
    spark.sql(s"INSERT INTO $t VALUES (1, 1, 'eng', 20.0)") // archives c0's post-image (old name)
    spark.sql(s"ALTER TABLE $t RENAME COLUMN amount TO price")

    val schema = spark.table(t).schema
    val stream = new graft.io.UpsertMicroBatchStream(dir, schema, "dept", "earliest")
    val parts = stream.planInputPartitions(
      graft.io.UpsertCommitOffset(""), graft.io.UpsertCommitOffset(c0))
    assert(parts.nonEmpty)
    val factory = stream.createReaderFactory()
    val rows = parts.flatMap { p =>
      val r = factory.createColumnarReader(p)
      val buf = mutable.Buffer.empty[(Long, Double)]
      try while (r.next()) r.get().rowIterator().asScala.foreach { row =>
        buf += ((row.getLong(schema.fieldIndex("id")),
          row.getDouble(schema.fieldIndex("price"))))
      } finally r.close()
      buf
    }
    assert(rows.toSeq == Seq((1L, 10.0)),
      "the replayed batch must carry the pre-rename VALUE, not null")
  }

  test("a tombstone-emptied partition stops appearing in later batches") {
    val (dir, _) = mkTable("usr3")
    val sink = ParquetUpsertSink(dir, Seq("id"), "seq", "dept",
      keepVersions = 10, deleteCol = Some("gone"))
    sink.upsert(Seq((1L, 1L, "eng", false), (2L, 1L, "ops", false))
      .toDF("id", "seq", "dept", "gone"), 0)
    val batches = runStream(dir, "earliest") {
      sink.upsert(Seq((2L, 2L, "ops", true)).toDF("id", "seq", "dept", "gone"), 1)
    }
    val nonEmpty = batches.filter(_._2.nonEmpty)
    // batch 1 carries both partitions; the tombstone commit touches ops,
    // whose post-image is empty — so batch 2 has no rows at all (the
    // readChangesSince contract: consumers learn deletions by diffing)
    assert(nonEmpty.size == 1)
    assert(nonEmpty(0)._2.map(_._1) == Seq(1L, 2L))
    assert(spark.read.format("graft-upsert").load(dir).count() == 1)
  }
}
