package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Dev tool (r20 optimization round): attribute a query's wall time to
  * its Spark jobs and the driver-side gaps between them.
  *
  * For each named query, runs it once (same `toRdd.count()` methodology
  * as Bench) with a listener recording every job's (start, end,
  * description). Prints the job timeline and the DRIVER GAPS — wall
  * time between one job's end and the next job's start, which is where
  * commit-path fs work, planning, and codebook collects live. The gap
  * before the first job includes query construction + analysis.
  * Beside them it prints the query's Janino compiles and compile time
  * (Spark's `CodegenMetrics`), so generated-code cache thrash — every
  * run recompiling what the previous one evicted — shows without a
  * JVM profiler.
  *
  * Usage: JobProfile <query> [query...]   (SPARK_GRAFT_SF_DIR as Bench)
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.build(s"local[$cpus]", cpus.toInt)
    spark.sparkContext.setLogLevel("ERROR")
    if (!sys.env.get("SPARK_GRAFT_STAGE").contains("0"))
      ext.Shared.stageAll(spark, sfDir)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val done = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, Long, String)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        // the last stage's name carries the action call site
        // ("count at Foo.scala:123") — the cheapest job attribution
        val site = js.stageInfos.lastOption.map(_.name).getOrElse("")
        val nTasks = js.stageInfos.map(_.numTasks).sum
        jobs.put(js.jobId, (js.time, s"[$nTasks t] $site"))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        val (t0, desc) = jobs.getOrDefault(je.jobId, (je.time, "?"))
        done.add((je.jobId, t0, je.time, desc))
      }
    })
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
    for (name <- args) {
      done.clear()
      val compiles0 = compiles.getCount
      val fn = SparkEntry.queries(name)
      val t0 = System.nanoTime()
      val wall0 = System.currentTimeMillis()
      fn(spark, sfDir).queryExecution.toRdd.count()
      val dt = (System.nanoTime() - t0) / 1e9
      Thread.sleep(200) // let listener events drain
      val recs = {
        import scala.jdk.CollectionConverters._
        done.asScala.toSeq.sortBy(_._2)
      }
      println(f"== $name: $dt%.2f s wall, ${recs.size} jobs ==")
      var prevEnd = wall0
      var jobSum = 0L; var gapSum = 0L
      recs.foreach { case (id, s, e, desc) =>
        val gap = s - prevEnd
        gapSum += math.max(0L, gap); jobSum += (e - s)
        println(f"  gap ${gap}%5d ms | job $id%3d ${e - s}%5d ms  ${desc.take(90)}")
        prevEnd = math.max(prevEnd, e)
      }
      println(f"  tail gap ${wall0 + (dt * 1000).toLong - prevEnd}%d ms")
      println(f"  SUM jobs ${jobSum}%d ms, driver gaps ${gapSum}%d ms")
      // the histogram keeps a recency-weighted sample, not a sum: compile
      // time is estimated as the query's compile count times its mean
      val nCompiles = compiles.getCount - compiles0
      val compileMs = nCompiles * compiles.getSnapshot.getMean
      println(f"  Janino compiles $nCompiles%d, ~${compileMs}%.0f ms")
      spark.catalog.clearCache()
      System.gc()
    }
    spark.stop()
  }
}
