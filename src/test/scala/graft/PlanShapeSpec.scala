package graft

/** Physical-plan shape guards: the scale properties the operator docs
  * promise (tiled hash join instead of a nested loop, broadcast on the
  * dimension side, native partial top-k) are asserted here so a plan
  * regression fails the build, not just the bench.
  */
class PlanShapeSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf0001).queryExecution.executedPlan.toString

  test("embedding pair ops stay on the tiled hash join — no nested loop, no cartesian") {
    Seq("x_embedding_pairs", "x_dedup_embedding").foreach { q =>
      val p = plan(q)
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q regressed to BNLJ")
      assert(!p.contains("CartesianProduct"), s"$q regressed to cartesian")
    }
  }

  test("dimension joins broadcast the small side") {
    assert(plan("q_join_activity_employee").contains("BroadcastHashJoin"))
    assert(plan("q5_supplier_volume").contains("BroadcastHashJoin"))
  }

  test("top-k queries run on the native TopKPerGroup operator") {
    Seq("q_topk_native", "x_bm25", "x_tfidf").foreach { q =>
      assert(plan(q).contains("TopKPerGroup"), s"$q lost the native top-k")
    }
  }

  test("interval join stays banded — no cartesian pair space") {
    assert(!plan("q_interval_join").contains("CartesianProduct"))
    assert(!plan("q_interval_join").contains("BroadcastNestedLoopJoin"))
  }

  test("dsir scoring broadcasts its bounded models — the corpus never shuffles text") {
    val p = plan("x_dsir_weights")
    assert(p.contains("BroadcastHashJoin"), "bucket models must broadcast")
    assert(!p.contains("CartesianProduct"))
  }

  test("semantic decontamination broadcasts the benchmark band side") {
    val p = plan("x_decontaminate_semantic")
    assert(p.contains("BroadcastHashJoin"), "benchmark side must broadcast")
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("morton key computes inline in the scan projection — no extra exchange") {
    val exec = SparkEntry.queries("x_zorder_layout")(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(exec.toLowerCase.contains("mortoncode"), "Z key must be the native expression")
    // exactly the aggregation exchange plus the presentation sort's —
    // computing the Z key itself must not shuffle
    assert("Exchange".r.findAllIn(exec).size <= 2, s"unexpected exchanges:\n$exec")
  }

  test("chunking pipelines with the scan — only the presentation exchange") {
    val p = plan("x_chunk_docs")
    // the chunk explode is per-row expression work and adds no Exchange
    assert("Exchange".r.findAllIn(p).size <= 1, s"chunking must not shuffle:\n$p")
    assert(!p.contains("Window"), "chunking must not need a window")
  }

  test("BPE pair counting partial-aggregates before its single exchange") {
    val p = plan("x_bpe_merges")
    assert("Exchange".r.findAllIn(p).size <= 2, // pair agg + top-k sort
      s"pair count must be one hash shuffle:\n$p")
    assert(p.contains("partial_count") || p.contains("HashAggregate"),
      "map-side combine must survive")
  }

  test("MLM masking is pure per-row work — only the presentation exchange") {
    val p = plan("x_mlm_masking")
    assert("Exchange".r.findAllIn(p).size <= 1, s"masking must not shuffle:\n$p")
    assert(!p.contains("Generate"), "masking must not explode tokens")
  }

  test("collocation top-k is TakeOrdered — no global sort of the pair table") {
    val p = plan("x_collocations")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k must run as TakeOrdered:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("contrastive negatives broadcast the bounded pool") {
    val p = plan("x_contrastive_pairs")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"pool side must broadcast:\n$p")
    assert(p.contains("TopKPerGroup"), "per-anchor top-k must be native")
    assert(!p.contains("CartesianProduct"))
  }

  test("ANN recall eval joins the two top-k frames — no cartesian, semi-join hits") {
    // NB the underlying ANN pipelines keep their broadcast-probe BNLJ
    // (tiny query side, non-equi self-pair filter) — that shape is
    // audited in their own docs; here we only guard the comparison.
    val p = plan("x_ann_recall")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("LeftSemi"), "hit counting must be a semi join")
  }

  test("PQ ANN: codebook/table joins hash or broadcast, shortlist on native top-k") {
    val p = plan("x_ann_pq")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("TopKPerGroup"), "code assignment/shortlist lost the native top-k")
  }

  test("PQ drift ADC search: broadcast table side, native top-k, no cartesian") {
    // the gate query (x_ann_pq_drift) returns a driver-built two-row
    // summary, so the shape guard drives the search building block
    // directly with contract-shaped frames
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val sd = ext.Similarity.pqSubDim
    def sv(x: Float) = Array.fill(sd)(x)
    val querySubs = (0 until ext.Similarity.pqSubspaces)
      .map(s => (100L, s, sv(1.0f))).toDF("query_id", "sub_id", "sv")
    val cents = (0 until ext.Similarity.pqSubspaces)
      .flatMap(s => Seq((s, 0L, sv(0.5f)), (s, 1L, sv(-0.5f))))
      .toDF("sub_id", "cent_id", "cv")
    val codes = (1L to 50L).flatMap(v =>
      (0 until ext.Similarity.pqSubspaces).map(s => (v, s, v % 2)))
      .toDF("vec_id", "sub_id", "code")
    val df = ext.PqDrift.adcTop5(querySubs, cents, codes)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("TopKPerGroup"), "ADC ranking lost the native top-k")
    assert(p.contains("BroadcastHashJoin"), "ADC table side lost the broadcast")
    // and the ranking itself is correct on the fixture: even codes
    // score 4·(sd·0.5), odd codes negative — top-5 are the smallest
    // even vec_ids
    assert(df.collect().map(_.getLong(1)).sorted.toSeq == Seq(2L, 4L, 6L, 8L, 10L))
  }

  test("dedup rates charge drops to sources via a doc_id semi join — no cartesian") {
    val p = plan("x_dedup_rates")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("LeftSemi"), "drop charging must be a semi join")
  }

  test("IVF+PQ: cell-restricted ADC joins hash or broadcast, shortlist on native top-k") {
    Seq("x_ann_ivf_pq", "x_ann_ivf_pq_nprobe").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q grew a cartesian")
      assert(p.contains("TopKPerGroup"), s"$q lost the native top-k")
      // the ADC scan must be an equi-join on (cell, sub, code) against a
      // BROADCAST table side — a shuffled or nested-loop pair grid here
      // is exactly the quadratic flat-PQ shape this operator contracts
      assert(p.contains("BroadcastHashJoin"), s"$q lost the broadcast ADC join")
    }
  }

  test("combined dedup rates: both drop lists join the corpus keyed — no cartesian") {
    val p = plan("x_dedup_rates_combined")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("span removal reuses one checkpointed windows relation — no second explode") {
    val p = plan("x_dup_span_removal")
    // dup detection + covered semi join + rebuild all read the
    // localCheckpoint; the only Generate nodes are the windows explode
    // inside the checkpointed lineage (invisible here), the covered
    // index explode, and the rebuild posexplode
    assert("Scan ExistingRDD".r.findAllIn(p).size >= 2,
      s"windows/covered checkpoints must feed the consumers:\n$p")
  }

  test("filter funnel joins on slim flags — document text never reaches the join") {
    val qe = ext.Prep.funnelCounts(
      Tables.table(spark, sf0001, "documents")).queryExecution
    val joins = qe.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    assert(joins.nonEmpty)
    joins.foreach { j =>
      val cols = j.children.flatMap(_.output).map(_.name.toLowerCase)
      assert(!cols.contains("text"),
        s"funnel join inputs must be (doc_id, key, flags)-slim; got $cols")
    }
  }
}
