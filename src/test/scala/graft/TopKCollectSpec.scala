package graft

import org.apache.spark.sql.functions._

import graft.functions.TopKCollect

/** Pins the bounded top-k aggregator: exact ranking (score desc, ties to
  * the smaller id), the k cap, and stability under multi-partition
  * partial aggregation — the properties that let it replace a
  * row_number-over-query window in the similarity-search finale. */
class TopKCollectSpec extends SparkSpec {
  import spark.implicits._

  private def run(rows: Seq[(String, Long, Double)], k: Int)
      : Map[String, Seq[(Long, Double)]] =
    rows.toDF("q", "id", "score").repartition(4) // force merge() paths
      .groupBy("q").agg(TopKCollect.topk(k)(col("id"), col("score")).as("tk"))
      .as[(String, Seq[(Long, Double)])].collect().toMap

  test("keeps the k best, ordered score desc with ties to smaller id") {
    val rows = Seq(
      ("a", 1L, 0.5), ("a", 2L, 0.9), ("a", 3L, 0.9), ("a", 4L, 0.1),
      ("a", 5L, 0.7),
      ("b", 9L, 0.2))
    val got = run(rows, 3)
    assert(got("a") == Seq((2L, 0.9), (3L, 0.9), (5L, 0.7)))
    assert(got("b") == Seq((9L, 0.2))) // fewer than k: all kept
  }

  test("the aggregator's encoders are built once per JVM, not per call") {
    val (a, b) = (new TopKCollect.TopKAgg(3), new TopKCollect.TopKAgg(5))
    assert(a.bufferEncoder eq b.bufferEncoder)
    assert(a.outputEncoder eq b.outputEncoder)
    assert(a.outputEncoder eq a.outputEncoder)
  }

  test("NaN scores rank greatest, deterministically, in any arrival " +
    "order (total order — insert and merge must agree)") {
    val rows = Seq(
      ("a", 1L, 0.9), ("a", 2L, Double.NaN), ("a", 3L, 0.5),
      ("a", 4L, Double.NaN))
    // every permutation and layout gives the same ranking
    for (perm <- rows.permutations.take(8)) {
      val got = run(perm, 3)("a")
      assert(got.map(_._1) == Seq(2L, 4L, 1L), perm)
      assert(got(0)._2.isNaN && got(1)._2.isNaN)
    }
  }

  test("agrees with a sortBy-take oracle on a randomized multi-partition " +
    "input") {
    val rnd = new scala.util.Random(7)
    val rows = for {
      q <- Seq("x", "y", "z")
      i <- 0 until 200
    } yield (q, i.toLong, math.floor(rnd.nextDouble() * 20) / 20.0) // ties
    val k = 7
    val got = run(rows, k)
    for (q <- Seq("x", "y", "z")) {
      val want = rows.filter(_._1 == q).map(r => (r._2, r._3))
        .sortBy { case (id, s) => (-s, id) }.take(k)
      assert(got(q) == want, q)
    }
  }
}
