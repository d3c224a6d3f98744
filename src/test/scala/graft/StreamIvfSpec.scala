package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.ext.{IvfDrift, Similarity, StreamIvf}

/** Streaming IVF index maintenance: MemoryStream micro-batches upsert
  * into the cell-partitioned index; the post-stream index must equal a
  * batch rebuild bit-for-bit and answer annIvf-shape searches
  * identically.
  */
case class IvfVec(vec_id: Long, embedding: Array[Float])

class StreamIvfSpec extends SparkSpec {
  import spark.implicits._

  private def vectors = Tables.table(spark, sf0001, "embeddings")
    .select(col("vec_id"), col("embedding"))
  private def centroids = vectors.filter(col("vec_id") % 25 === 0)
    .select(col("vec_id").as("cent_id"), col("embedding").as("cv"))

  // stable comparable form of an index row
  private def rows(df: org.apache.spark.sql.DataFrame): Array[(Long, Long, Double, String)] =
    df.select(col("vec_id"), col("cent_id"), col("scale"),
        concat_ws(",", col("q")).as("qs"))
      .as[(Long, Long, Double, String)].collect().sortBy(_._1)

  test("streamed IVF index equals a batch rebuild and answers searches identically") {
    implicit val sqlCtx = spark.sqlContext
    val all = vectors.as[IvfVec].collect().sortBy(_.vec_id)
    val (chunk1, chunk2) = all.splitAt(all.length / 2)

    val path = java.nio.file.Files.createTempDirectory("ivf_idx").toString
    val checkpoint = java.nio.file.Files.createTempDirectory("ivf_ckpt").toString
    val mem = MemoryStream[IvfVec]
    val q = StreamIvf.start(mem.toDF(), centroids, path, checkpoint)
    try {
      mem.addData(chunk1.toSeq)
      q.processAllAvailable()
      // chunk2 plus a REPLAY of part of chunk1: at-least-once delivery
      // must resolve idempotently through the (vec_id, seq) upsert
      mem.addData(chunk2.toSeq ++ chunk1.take(20).toSeq)
      q.processAllAvailable()
    } finally q.stop()

    val streamed = StreamIvf.readIndex(spark, path)
    // seq differs between paths by construction (batch ids vs 0) — the
    // index CONTENT (assignment + quantization payload) must not
    val batchRebuild = StreamIvf.indexRows(vectors, centroids, seq = 0L)
    assert(rows(streamed).sameElements(rows(batchRebuild)))

    // the maintained index answers the annIvf-shaped search identically
    // to a search over the batch rebuild...
    val queryVecs = vectors.filter(col("vec_id") % 100 === 0)
    def answers(index: org.apache.spark.sql.DataFrame) =
      StreamIvf.search(index, queryVecs, centroids, 5)
        .as[(Long, Long, Double, Int)].collect().sortBy(r => (r._1, r._4))
    val streamedAnswers = answers(streamed)
    assert(streamedAnswers.sameElements(answers(batchRebuild)))
    // ...and matches the all-batch annIvf operator itself (same corpus:
    // every vector was streamed), so the streaming path earns the batch
    // operator's oracle transitively
    val batchOp = Similarity.annIvf(spark, sf0001)
      .as[(Long, Long, Double, Int)].collect().sortBy(r => (r._1, r._4))
    assert(streamedAnswers.sameElements(batchOp))
  }

  test("annIvfIncremental (sliced replay + refresh) equals the rebuilt-index search") {
    val inc = ext.StreamIvf.annIvfIncremental(spark, sf0001)
      .as[(Long, Long, Double, Int)].collect().toSeq
    val rebuilt = Similarity.annIvf(spark, sf0001)
      .as[(Long, Long, Double, Int)].collect().toSeq
    assert(inc === rebuilt)
    assert(inc.nonEmpty)
  }

  test("a fresh-checkpoint restart against a progressed index fails fast") {
    implicit val sqlCtx = spark.sqlContext
    val path = java.nio.file.Files.createTempDirectory("ivf_stale").toString
    // a "previous run" that progressed past batch 0: rows carry seq 1
    StreamIvf.sink(path).upsert(
      StreamIvf.indexRows(vectors, centroids, seq = 1L), batchId = 1L)
    // new query, FRESH checkpoint: its batch 0 would hand out seq 0,
    // which silently LOSES to the dead run's seq-1 rows — the guard
    // must fail the stream instead
    val checkpoint = java.nio.file.Files.createTempDirectory("ivf_stale_ck").toString
    val mem = MemoryStream[IvfVec]
    val q = StreamIvf.start(mem.toDF(), centroids, path, checkpoint)
    try {
      mem.addData(vectors.as[IvfVec].collect().take(3).toSeq)
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
        q.exception.foreach(throw _)
      }
      assert(e.getMessage.contains("fresh checkpoint"),
        s"expected the stale-run guard, got: ${e.getMessage}")
    } finally scala.util.Try(q.stop())
  }

  test("a re-ingested vector resolves to its newest embedding (precombine on seq)") {
    implicit val sqlCtx = spark.sqlContext
    val first = vectors.as[IvfVec].collect().minBy(_.vec_id)
    val path = java.nio.file.Files.createTempDirectory("ivf_idx2").toString
    val checkpoint = java.nio.file.Files.createTempDirectory("ivf_ckpt2").toString
    val mem = MemoryStream[IvfVec]
    val q = StreamIvf.start(mem.toDF(), centroids, path, checkpoint)
    // same direction (same cosine → same cell: the resolvable refresh;
    // a cell-MOVING update is the documented non-global-index caveat),
    // different magnitude → different quantization scale to observe
    val updated = IvfVec(first.vec_id, first.embedding.map(_ * 2.0f))
    try {
      mem.addData(first)
      q.processAllAvailable()
      mem.addData(updated) // same key, later batch, different embedding
      q.processAllAvailable()
    } finally q.stop()
    val idx = StreamIvf.readIndex(spark, path)
    assert(idx.count() == 1)
    val expected = rows(StreamIvf.indexRows(
      Seq(updated).toDF(), centroids, seq = 0L))
    assert(rows(idx).sameElements(expected))
  }

  test("drift trigger: displacement stays low on matched ingest, fires on drift, retrain reassigns") {
    // two tight clusters on orthogonal axes; centroids AT the cluster
    // centers (a converged quantizer)
    def vec(axis: Int, wobble: Float): Array[Float] =
      (0 until 8).map(d => (if (d == axis) 1.0f else 0.0f) +
        (if (d == (axis + 1) % 8) wobble else 0.0f)).toArray
    val base = (0 until 20).map(i =>
      IvfVec(i.toLong, vec(if (i % 2 == 0) 0 else 3, 0.02f * (i % 5))))
    val cents = Seq(
      (100L, vec(0, 0.04f)), (200L, vec(3, 0.04f)))
      .toDF("cent_id", "cv")
    def dir(prefix: String) = java.nio.file.Files.createTempDirectory(prefix).toString + "/t"
    val path0 = dir("ivf_drift0"); val path1 = dir("ivf_drift1")
    IvfDrift.writeCentroids(cents, path0)
    val s = StreamIvf.sink(path0)
    s.upsert(StreamIvf.indexRows(base.toDF(), cents, seq = 0L), 0L)
    val (fired0, disp0) = IvfDrift.maintain(spark, path0, path1, IvfDrift.DriftThreshold)
    assert(!fired0 && disp0 < IvfDrift.DriftThreshold,
      s"converged quantizer must sit below the trigger, got $disp0")
    // drifted ingest: a new tight cluster on axis 6 the quantizer never
    // saw — it crams into whichever cell wins the tie and drags that
    // cell's mean away from its centroid
    val drifted = (100 until 120).map(i => IvfVec(i.toLong, vec(6, 0.02f * (i % 5))))
    s.upsert(StreamIvf.indexRows(drifted.toDF(), cents, seq = 1L), 1L)
    // the trigger fires and the retrain rewrites the assignments through
    // the commit path: every vector lands exactly once
    val (fired1, disp1) = IvfDrift.maintain(spark, path0, path1, IvfDrift.DriftThreshold)
    assert(fired1 && disp1 > IvfDrift.DriftThreshold,
      s"a drifted cluster must fire the trigger, got $disp1")
    val re = StreamIvf.readIndex(spark, path1)
    assert(re.count() == 40 &&
      re.groupBy(col("vec_id")).count().filter(col("count") > 1).count() == 0,
      "retrain must reassign every vector exactly once")
    // on the retrained index the displacement trigger resets
    val (fired2, disp2) = IvfDrift.maintain(spark, path1, dir("ivf_drift2"),
      IvfDrift.DriftThreshold)
    assert(!fired2 && disp2 < IvfDrift.DriftThreshold,
      s"post-retrain displacement must reset below the trigger, got $disp2")
  }
}
