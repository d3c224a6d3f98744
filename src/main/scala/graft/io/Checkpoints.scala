package graft.io

import org.apache.spark.sql.DataFrame

/** Release the storage blocks of a `localCheckpoint(true)`-materialized
  * frame. `Dataset.unpersist` only uncaches CacheManager entries — it
  * does NOT free checkpoint RDD blocks, which otherwise live until the
  * driver GCs the RDD reference (ContextCleaner). A loop that
  * checkpoints once per round must free them eagerly, or executor
  * storage fills with dead blocks.
  */
object Checkpoints {
  def release(df: DataFrame): Unit =
    try df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    } catch { case _: Throwable => () }
}
