package graft

import org.apache.spark.sql.functions._

import graft.llm.Graph

class GraphSpec extends SparkSpec {
  import spark.implicits._

  // scale=1000, damp 85/100 -> base = (15*1000) div 100 = 150
  private val S = 1000L

  private def ranks(edges: Seq[(String, String)], iters: Int)
      : Map[String, Long] =
    Graph.pageRank(edges.toDF("src", "dst"), "src", "dst",
      iters = iters, scale = S)
      .as[(String, Long)].collect().toMap

  test("hand-computed 3-cycle + chord, two exact iterations") {
    val edges = Seq("A" -> "B", "A" -> "C", "B" -> "C", "C" -> "A")
    // iter1: contribs A->B 500, A->C 500, B->C 1000, C->A 1000
    //        r1 = A 1000, B 575, C 1425
    assert(ranks(edges, 1) == Map("A" -> 1000L, "B" -> 575L, "C" -> 1425L))
    // iter2: contribs A->* 500 each, B->C 575, C->A 1425
    //        r2(A) = 150 + (1425*85) div 100 = 1361
    //        r2(B) = 575; r2(C) = 150 + (1075*85) div 100 = 1063
    assert(ranks(edges, 2) == Map("A" -> 1361L, "B" -> 575L, "C" -> 1063L))
  }

  test("iters=0 returns the uniform start vector over all nodes") {
    val r = ranks(Seq("A" -> "B", "C" -> "B"), 0)
    assert(r == Map("A" -> S, "B" -> S, "C" -> S))
  }

  test("dangling node keeps receiving, leaks its own mass; " +
    "source-only node drops to base") {
    val edges = Seq("A" -> "D")
    assert(ranks(edges, 1) == Map("A" -> 150L, "D" -> 1000L))
    // r2(D) = 150 + (150*85) div 100 = 277
    assert(ranks(edges, 2) == Map("A" -> 150L, "D" -> 277L))
  }

  test("multi-edges collapse into weights (2x A->B vs 1x A->C)") {
    val edges = Seq("A" -> "B", "A" -> "B", "A" -> "C")
    // outw(A)=3; contrib A->B = 2000 div 3 = 666 -> r1(B) = 150+566 = 716
    //           contrib A->C = 1000 div 3 = 333 -> r1(C) = 150+283 = 433
    assert(ranks(edges, 1) ==
      Map("A" -> 150L, "B" -> 716L, "C" -> 433L))
    // explicit weight column gives the identical result
    val w = Seq(("A", "B", 2L), ("A", "C", 1L)).toDF("src", "dst", "w")
    val rw = Graph.pageRank(w, "src", "dst", weightCol = Some("w"),
      iters = 1, scale = S).as[(String, Long)].collect().toMap
    assert(rw == Map("A" -> 150L, "B" -> 716L, "C" -> 433L))
  }

  test("result is partitioning-independent (integer fixed point)") {
    val ev = graft.core.Tables.table(
      spark, "/root/testdata/sf0.001", "events")
    val e1 = Graph.transitionEdges(ev, "user_id", "event_type",
      Seq(col("ts"), col("event_id")))
    val e2 = Graph.transitionEdges(ev.repartition(17), "user_id",
      "event_type", Seq(col("ts"), col("event_id")))
    val r1 = Graph.pageRank(e1, "src", "dst", iters = 3)
      .as[(String, Long)].collect().toMap
    val r2 = Graph.pageRank(e2, "src", "dst", iters = 3)
      .as[(String, Long)].collect().toMap
    assert(r1 == r2 && r1.nonEmpty)
  }

  test("seeded (personalized) PageRank: teleport base lands only on " +
    "the seed set") {
    val edges = Seq("A" -> "B", "A" -> "C", "B" -> "C", "C" -> "A")
      .toDF("src", "dst")
    val r = Graph.pageRank(edges, "src", "dst", iters = 1, scale = S,
      seeds = Some(Seq("C").toDF("node")))
      .as[(String, Long)].collect().toMap
    // same contribs as the classic test; base only at C:
    // r1(A) = 0 + 850, r1(B) = 0 + 425, r1(C) = 150 + 1275
    assert(r == Map("A" -> 850L, "B" -> 425L, "C" -> 1425L))
  }

  test("transitionCounts: exact counts and probabilities per src") {
    val edges = Seq("A" -> "B", "A" -> "B", "A" -> "C", "B" -> "C")
      .toDF("src", "dst")
    val got = Graph.transitionCounts(edges, "src", "dst")
      .as[(String, String, Long, Double)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    assert(got == Map(
      ("A", "B") -> (2L, 2.0 / 3.0),
      ("A", "C") -> (1L, 1.0 / 3.0),
      ("B", "C") -> (1L, 1.0)))
  }

  test("HITS: two hand-computed iterations with max rescaling") {
    val edges = Seq("A" -> "B", "A" -> "C", "B" -> "C", "C" -> "A")
      .toDF("src", "dst")
    val got = Graph.hits(edges, "src", "dst", iters = 2, scale = S)
      .as[(String, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    // iter1: a=(500,500,1000), h=(1000,666,333)
    // iter2: a=(199,600,1000), h=(1000,625,124)  [worked by hand]
    assert(got == Map(
      "A" -> (1000L, 199L),
      "B" -> (625L, 600L),
      "C" -> (124L, 1000L)), got)
  }

  test("HITS is invariant under k-fold edge replication (the max " +
    "rescale cancels the common factor)") {
    val edges = Seq("A" -> "B", "A" -> "C", "B" -> "C", "C" -> "A")
    def run(e: Seq[(String, String)]) =
      Graph.hits(e.toDF("src", "dst"), "src", "dst", iters = 2,
        scale = S).as[(String, Long, Long)].collect().toSet
    assert(run(edges) == run(Seq.fill(4)(edges).flatten))
  }

  test("k-fold edge replication leaves ranks EXACTLY unchanged " +
    "(floor(k·a / k·b) = floor(a/b) — the scale identity)") {
    val edges = Seq("A" -> "B", "A" -> "C", "B" -> "C", "C" -> "A")
    val once = ranks(edges, 3)
    val five = ranks(Seq.fill(5)(edges).flatten, 3)
    assert(once == five)
  }

  test("pageRank and hits truncate their own lineage: plan size is " +
    "independent of iters, and ranks past a truncation match an exact " +
    "replay") {
    // a 60-node random-ish graph: id -> (id*7+1)%60 and id -> (id*13+5)%60
    val el = (0L until 60L).flatMap(i =>
      Seq(i -> ((i * 7 + 1) % 60), i -> ((i * 13 + 5) % 60)))
    val edges = el.toDF("src", "dst")
    def leaves(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.analyzed.collectLeaves().size
    // hits checkpoints both frames every level, so any depth plans the
    // same; pageRank truncates every 4th level, so iters 6 and 10 both
    // sit two levels above a truncation (levels 4 and 8)
    assert(leaves(Graph.hits(edges, "src", "dst", iters = 2, scale = S)) ==
      leaves(Graph.hits(edges, "src", "dst", iters = 8, scale = S)))
    assert(leaves(Graph.pageRank(edges, "src", "dst", iters = 6,
      scale = S)) == leaves(Graph.pageRank(edges, "src", "dst",
      iters = 10, scale = S)))
    // driver replay of the fixed-point iteration (multi-edges collapse
    // by summed weight, floor division throughout)
    val w = el.groupBy(identity).map { case (e, es) => e -> es.size.toLong }
    val outw = w.groupBy(_._1._1).map { case (n, es) => n -> es.values.sum }
    val base = (15 * S) / 100
    var r = (0L until 60L).map(_ -> S).toMap
    for (_ <- 1 to 6) {
      val sums = w.toSeq.map { case ((a, b), k) => b -> r(a) * k / outw(a) }
        .groupBy(_._1).map { case (n, cs) => n -> cs.map(_._2).sum }
      r = r.map { case (n, _) =>
        n -> (base + sums.get(n).map(_ * 85 / 100).getOrElse(0L)) }
    }
    assert(Graph.pageRank(edges, "src", "dst", iters = 6, scale = S)
      .as[(Long, Long)].collect().toMap == r)
    assert(Graph.hits(edges, "src", "dst", iters = 8, scale = S)
      .count() == 60L)
  }

  test("transitionEdges: consecutive per-user pairs, singletons none") {
    val ev = Seq(
      (1L, 1L, "x"), (1L, 2L, "y"), (1L, 3L, "x"),
      (2L, 4L, "z")).toDF("user_id", "event_id", "event_type")
    val got = Graph.transitionEdges(ev, "user_id", "event_type",
      Seq(col("event_id")))
      .as[(String, String)].collect().sorted.toSeq
    assert(got == Seq("x" -> "y", "y" -> "x"))
  }

  test("fractional edge weights refuse LOUDLY: cast('long') would " +
    "truncate a jaccard-weighted graph to all-zero weights and divide " +
    "by a zero out-weight deep in iteration 1") {
    val frac = Seq(("a", "b", 0.7), ("b", "a", 0.3))
      .toDF("src", "dst", "w")
    val ex = intercept[Exception](
      Graph.pageRank(frac, "src", "dst", weightCol = Some("w"),
        iters = 1).collect())
    def all(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ all(t.getCause)
    assert(all(ex).exists(_.contains("positive integer")), ex.getMessage)
    // integral doubles pass (pre-scaled fixed-point weights)
    val ok = Seq(("a", "b", 700000.0), ("b", "a", 300000.0))
      .toDF("src", "dst", "w")
    assert(Graph.pageRank(ok, "src", "dst", weightCol = Some("w"),
      iters = 1).count() == 2L)
  }
}
