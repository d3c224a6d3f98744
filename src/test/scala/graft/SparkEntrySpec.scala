package graft

import org.scalatest.funsuite.AnyFunSuite

/** The query registry's own invariants, checked without a Spark session:
  * names are unique, every query has a DuckDB twin, the bench tiers
  * hold their members, and a query selection refuses names it does not
  * know.
  */
class SparkEntrySpec extends AnyFunSuite {
  import SparkEntry.{oracleSql, queries, registry, select}

  test("the registry holds 191 distinct names, each with a non-empty oracle") {
    assert(registry.size == 191)
    assert(registry.map(_.name).distinct.size == 191)
    assert(queries.keySet == oracleSql.keySet)
    assert(queries.keySet == registry.map(_.name).toSet)
    assert(oracleSql.collect { case (n, sql) if sql.trim.isEmpty => n }.isEmpty)
  }

  test("tiers: 10 calibration, 34 write-pipeline, 147 headline") {
    val counts = registry.groupBy(_.tier).map { case (t, specs) => t -> specs.size }
    assert(counts == Map(Tier.Calibration -> 10, Tier.WritePipeline -> 34, Tier.Headline -> 147))
  }

  test("select returns specs sorted by name and rejects unknown or empty names") {
    assert(select(None).map(_.name) == registry.map(_.name).sorted)
    assert(select(Some(" x_tfidf,x_bm25")).map(_.name) == Seq("x_bm25", "x_tfidf"))
    val typo = intercept[IllegalArgumentException](select(Some("x_bm25,x_tfdif")))
    assert(typo.getMessage.contains("unknown queries: x_tfdif"))
    val empty = intercept[IllegalArgumentException](select(Some("x_bm25,")))
    assert(empty.getMessage.contains("unknown queries: \"\""))
    intercept[IllegalArgumentException](select(Some("")))
  }
}
