package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The Lloyd quantizer on a hand-computed 2-D fixture: seeds e0 (10)
  * and e1 (20), six vectors. Round 1 assigns (1,1) to seed 10 on a tie
  * (cosine and L2 alike), so cell 10 = {(4,0), (1,1), (5,0)} and cell
  * 20 = {(1,2), (2,3), (1,4)}; round 2 moves (1,1) to cell 20.
  */
class QuantizerSpec extends graft.SparkSpec {
  import spark.implicits._

  private val vecs = Seq(1L -> Array(4f, 0f), 2L -> Array(1f, 1f), 3L -> Array(5f, 0f),
    4L -> Array(1f, 2f), 5L -> Array(2f, 3f), 6L -> Array(1f, 4f))
  private val seeds = Seq(10L -> Array(1f, 0f), 20L -> Array(0f, 1f))

  private val round1 = Map(10L -> Seq((10.0 / 3).toFloat, (1.0 / 3).toFloat),
    20L -> Seq((4.0 / 3).toFloat, 3f))
  private val round2 = Map(10L -> Seq(4.5f, 0f), 20L -> Seq(1.25f, 2.5f))

  // the same fixture in both shapes: whole vectors, and one subspace
  private def coarse = (vecs.toDF("vec_id", "embedding"), seeds.toDF("cent_id", "cv"))
  private def product = (vecs.map { case (i, v) => (i, 0, v) }.toDF("vec_id", "sub_id", "sv"),
    seeds.map { case (c, v) => (0, c, v) }.toDF("sub_id", "cent_id", "cv"))

  private def codebook(cents: DataFrame): Map[Long, Seq[Float]] =
    cents.select(col("cent_id"), col("cv")).as[(Long, Seq[Float])].collect().toMap

  test("one train round gives the float-cast cell means, coarse and product shapes") {
    val (v, s) = coarse
    assert(codebook(Quantizer.train(Quantizer.Coarse, v, s, rounds = 1)) == round1)
    val (pv, ps) = product
    val pq = Quantizer.train(Quantizer.Product, pv, ps, rounds = 1)
    assert(pq.select("sub_id").as[Int].collect().toSet == Set(0))
    assert(codebook(pq) == round1)
  }

  test("two chained single rounds equal one two-round train") {
    for ((shape, (v, s)) <- Seq(Quantizer.Coarse -> coarse, Quantizer.Product -> product)) {
      val chained = Quantizer.train(shape, v, Quantizer.train(shape, v, s, 1), 1)
      val twice = Quantizer.train(shape, v, s, rounds = 2)
      assert(codebook(chained) == round2)
      assert(codebook(twice) == round2)
    }
  }
}
