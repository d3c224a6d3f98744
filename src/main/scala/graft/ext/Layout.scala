package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.ZOrderExpressions

/** Data-layout clustering for scan pruning.
  *
  * The write-side half of a 100 TB engine: query cost is scan cost,
  * and scan cost is decided by how well per-file min/max statistics
  * prune. `zorderLayout` clusters rows on the Morton interleave of two
  * filter columns so every Z-prefix bucket (= one output file under
  * `repartitionByRange(zCol).sortWithinPartitions(zCol)`) is a 2-D
  * tile: BOTH columns' per-file ranges stay tight and either
  * predicate skips files — a 1-D sort gives this for one column and
  * leaves the other's range full-width per file.
  */
object Layout {

  /** Z-prefix shift: bucket = morton >> shift. 12 leaves 6 free bits
    * per dimension, so every bucket is at most a 64×64 tile — the
    * guarantee the spec asserts.
    */
  val zorderShift = 12

  /** Per-bucket layout audit of Z-order clustering events on
    * (user_id, floor(value)): row count and both dimensions' min/max.
    * The tight per-bucket extents ARE the file-skipping guarantee —
    * this is exactly the min/max footer a writer would produce per
    * file after `repartitionByRange` on the Z-value.
    *
    * Scale shape: one codegen'd per-row Morton expression (no shuffle
    * to compute the key), one partial-agged groupBy on the bounded
    * bucket key. The real write adds a range exchange on the Z-value —
    * the same single shuffle any clustered write pays.
    */
  def zorderLayout(spark: SparkSession, sfDir: String): DataFrame = {
    val x = col("user_id")
    val y = floor(col("value")).cast("long")
    Tables.table(spark, sfDir, "events")
      .select(x.as("x"), y.as("y"),
        ZOrderExpressions.mortonCode(x, y).as("z"))
      .groupBy(shiftright(col("z"), zorderShift).as("bucket"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("x")).as("x_min"), max(col("x")).as("x_max"),
        min(col("y")).as("y_min"), max(col("y")).as("y_max"))
  }

  val zorderLayoutSql: String = {
    val sx = ZOrderExpressions.spreadSqlSteps("user_id", "sx", "xf")
    val sy = ZOrderExpressions.spreadSqlSteps("y", "sy", "yf")
    // DuckDB lateral column references keep each spread step linear —
    // every alias names the previous one exactly once
    s"""SELECT z >> $zorderShift AS bucket, count(*) AS n_events,
       |       min(x) AS x_min, max(x) AS x_max,
       |       min(y) AS y_min, max(y) AS y_max
       |FROM (
       |  SELECT user_id AS x, y, xf | (yf << 1) AS z
       |  FROM (
       |    SELECT user_id, CAST(floor(value) AS BIGINT) AS y,
       |       $sx,
       |       $sy
       |    FROM events))
       |GROUP BY 1
       |ORDER BY 1""".stripMargin
  }
}
