package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.{Add, BoundReference, Literal, UnsafeProjection}
import org.apache.spark.sql.types.LongType

/** The session's generated-code cache holds the engine's working set:
  * with Spark's default bound (100 classes, LRU) a workload needing more
  * distinct classes than that recompiles, every round, what the
  * previous round evicted.
  */
class CodegenCacheSpec extends SparkSpec {
  test("more distinct compiled projections than Spark's default cache holds stay cached") {
    // the bound is static, read when the code generator first loads: the
    // session must exist before the first compile
    spark.sparkContext
    // each literal is inlined into the generated source: 300 distinct classes
    def project(i: Int) = UnsafeProjection.create(Seq(
      Add(BoundReference(0, LongType, nullable = false), Literal(1000000L + i))))
    val n = 300
    (0 until n).foreach(project)
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    // the first ones again: evicted long ago under a 100-entry LRU
    (0 until n).foreach(project)
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == compiles,
      "re-creating already compiled projections must not recompile them")
  }
}
