package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.ExplainMode

/** Dev tool: dump `explain("formatted")` for the registered queries to
  * PLANS.md, so plan regressions (lost pushdown, surprise shuffle,
  * missed broadcast) are reviewable per commit. `SPARK_GRAFT_ONLY=a,b`
  * dumps just those queries.
  *
  * Usage: ExplainAudit [sfDir] [outFile]
  */
object ExplainAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) args(1) else "/root/repo/PLANS.md"
    val selected = SparkEntry.select(sys.env.get("SPARK_GRAFT_ONLY"))
    val spark = GraftSession.build("local[4]", 4)
    val sb = new StringBuilder
    sb.append("# Physical plans (explain formatted)\n\n")
    sb.append(s"Generated by `graft.ExplainAudit` over `$sfDir`. Review points:\n")
    sb.append("PushedFilters reach the parquet scan, ReadSchema is pruned to used\n")
    sb.append("columns, dimension joins are BroadcastHashJoin, WholeStageCodegen\n")
    sb.append("spans cover the hot path.\n")
    selected.foreach { spec =>
      try {
        val plan = spec.build(spark, sfDir).queryExecution
          .explainString(ExplainMode.fromString("formatted"))
        sb.append(s"\n## ${spec.name}\n\n```\n$plan```\n")
      } catch {
        case e: Throwable => sb.append(s"\n## ${spec.name}\n\nERROR: ${e.getMessage}\n")
      }
      spark.catalog.clearCache()
    }
    Files.writeString(Paths.get(out), sb.toString)
    println(s"wrote $out")
    spark.stop()
  }
}
