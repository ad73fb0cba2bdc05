package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.llm.Drift
import graft.streaming.ops.DriftOp

class DriftSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String)*) =
    rows.toDF("doc_id", "text")

  test("tokenDrift: hand-computed TVD (P=(2/3,1/3,0) vs Q=(1/2,0,1/2) " +
    "→ 0.5) with exact integer numerator") {
    val a = docs(1L -> "x x y")
    val b = docs(2L -> "x z")
    val row = Drift.tokenDrift(a, b, "text").collect().head
    assert(row.getAs[Long]("n_a") == 3L)
    assert(row.getAs[Long]("n_b") == 2L)
    // |2·2−1·3| + |1·2−0·3| + |0·2−1·3| = 1 + 2 + 3 = 6
    assert(row.getAs[Double]("tvd_num") == 6.0)
    assert(row.getAs[Double]("tvd") == 0.5)
  }

  test("tokenDrift: identical snapshots have zero drift; disjoint " +
    "vocabularies have the maximal TVD of 1") {
    val a = docs(1L -> "alpha beta beta gamma")
    assert(Drift.tokenDrift(a, a, "text").select("tvd")
      .as[Double].head() == 0.0)
    val b = docs(2L -> "delta epsilon")
    assert(Drift.tokenDrift(a, b, "text").select("tvd")
      .as[Double].head() == 1.0)
  }

  test("driftTop: ranked by exact numerator desc then token, heavier " +
    "side labeled, shared-share tokens '='") {
    val a = docs(1L -> "x x y common")
    val b = docs(2L -> "x z common")
    // n_a=4, n_b=3: x → |2·3−1·4|=2 'a'; y → |1·3|=3 'a'; z → |1·4|=4 'b';
    // common → |1·3−1·4|=1 'b'  (1/4 < 1/3)
    val got = Drift.driftTop(a, b, "text", k = 10)
      .select("token", "drift_num", "heavier")
      .as[(String, Double, String)].collect().toSeq
    assert(got == Seq(("z", 4.0, "b"), ("y", 3.0, "a"), ("x", 2.0, "a"),
      ("common", 1.0, "b")))
    // exact tie in shares: same distribution on both sides
    val t = Drift.driftTop(a, a, "text", k = 10)
      .select("heavier").as[String].collect().toSet
    assert(t == Set("="))
  }

  test("drift against an EMPTY side is refused loudly") {
    val a = docs(1L -> "x")
    val e = intercept[Exception] {
      Drift.tokenDrift(a, docs(), "text").collect()
    }
    assert(e.getMessage.contains("empty side") ||
      e.getCause != null && e.getCause.getMessage.contains("empty side"))
  }

  test("bucketed TVD lower-bounds the exact TVD (collisions only cancel " +
    "mass) and is 0 on identical snapshots") {
    val a = docs(1L -> "a b c d e f g h", 2L -> "a a b b x y")
    val b = docs(3L -> "a c e g q q r s", 4L -> "b d f h z")
    val exact = Drift.tokenDrift(a, b, "text").select("tvd")
      .as[Double].head()
    for (buckets <- Seq(2, 4, 16)) {
      val sk = Drift.driftFromCounts(
        Drift.bucketCounts(a, "text", buckets, seed = 1),
        Drift.bucketCounts(b, "text", buckets, seed = 1), "bucket")
        .select("tvd").as[Double].head()
      assert(sk <= exact + 1e-12, s"buckets=$buckets: $sk > $exact")
    }
    val self = Drift.driftFromCounts(
      Drift.bucketCounts(a, "text", 4, seed = 1),
      Drift.bucketCounts(a, "text", 4, seed = 1), "bucket")
      .select("tvd").as[Double].head()
    assert(self == 0.0)
  }

  test("driftByStratum: per-stratum TVD equals the full driftFromCounts " +
    "of that stratum's slice (the totals-closure shortcut is exact)") {
    val df = Seq((1L, "s1", "x x y"), (2L, "s1", "y z"),
      (3L, "s2", "z z q"), (4L, "s2", "x")).toDF("doc_id", "src", "text")
    val ref = Seq((9L, "x y z z w"), (10L, "w q")).toDF("doc_id", "text")
    val got = Drift.driftByStratum(df, "src", "text", ref, "text")
      .orderBy("stratum")
      .select("stratum", "n_a", "n_b", "tvd_num", "tvd")
      .as[(String, Long, Long, Double, Double)].collect().toSeq
    val want = Seq("s1", "s2").map { s =>
      val slice = df.filter(col("src") === s)
      val r = Drift.driftFromCounts(
        Drift.tokenCounts(slice, "text"), Drift.tokenCounts(ref, "text"),
        "token").select("n_a", "n_b", "tvd_num", "tvd")
        .as[(Long, Long, Double, Double)].head()
      (s, r._1, r._2, r._3, r._4)
    }
    assert(got == want)
    // NULL stratum refused
    val bad = Seq((1L, "s1", "x"), (2L, null, "y"))
      .toDF("doc_id", "src", "text")
    val e = intercept[Exception] {
      Drift.driftByStratum(bad, "src", "text", ref, "text").collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("NULL stratum")), e)
  }

  test("histDrift: hand-computed bin TVD with out-of-range values " +
    "clamped to the edge bins") {
    // bins=2 over [0,10): a = {0:2, 1:1}, b = {0:1, 1:2} → TVD = 1/3;
    // -5 clamps to bin 0, 99 clamps to bin 1
    val a = Seq(1.0, -5.0, 7.0).toDF("v")
    val b = Seq(2.0, 99.0, 8.0).toDF("v")
    val row = Drift.histDrift(a, b, col("v"), bins = 2, lo = 0.0,
      hi = 10.0).collect().head
    assert(row.getAs[Long]("n_a") == 3L && row.getAs[Long]("n_b") == 3L)
    // |2·3−1·3| + |1·3−2·3| = 6; tvd = 6/(2·3·3) = 1/3
    assert(row.getAs[Double]("tvd_num") == 6.0)
    assert(row.getAs[Double]("tvd") == 6.0 / 18.0)
    val e = intercept[Exception] {
      Drift.histDrift(Seq[Option[Double]](Some(1.0), None).toDF("v"),
        b, col("v"), 2, 0.0, 10.0).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("NULL value")), e)
  }

  test("adjacentDrift: each (window, previous) pair equals the full " +
    "driftFromCounts of the two windows' cells; gaps chain to the last " +
    "PRESENT window") {
    val w1 = Timestamp.valueOf("2026-01-01 00:00:00")
    val w2 = Timestamp.valueOf("2026-01-01 01:00:00")
    val w4 = Timestamp.valueOf("2026-01-01 03:00:00") // hour 2 empty
    val cells = Seq(
      (w1, 0L, 3L), (w1, 1L, 1L),
      (w2, 0L, 1L), (w2, 2L, 2L),
      (w4, 1L, 5L)).toDF("window_start", "bucket", "cnt")
    val got = Drift.adjacentDrift(cells).orderBy("window_start")
      .select("window_start", "prev_start", "n_a", "n_b", "tvd_num",
        "tvd")
      .as[(Timestamp, Timestamp, Long, Long, Double, Double)]
      .collect().toSeq
    // adjacency: (w2 vs w1), (w4 vs w2 — across the empty hour)
    assert(got.map(r => (r._1, r._2)) == Seq((w2, w1), (w4, w2)))
    val want = Seq((w2, w1), (w4, w2)).map { case (c, p) =>
      def slice(w: Timestamp) = cells
        .filter(col("window_start") === w).select("bucket", "cnt")
      val r = Drift.driftFromCounts(slice(c), slice(p), "bucket")
        .select("n_a", "n_b", "tvd_num", "tvd")
        .as[(Long, Long, Double, Double)].head()
      (c, p, r._1, r._2, r._3, r._4)
    }
    assert(got == want)
  }

  test("a NULL bucket matches nothing, as in driftFromCounts' join: " +
    "adjacentDrift and finishBy equal it on every slice, and finishBy " +
    "drops a NULL window_start group") {
    val w1 = Timestamp.valueOf("2026-01-01 00:00:00")
    val w2 = Timestamp.valueOf("2026-01-01 01:00:00")
    val cells = Seq[(Timestamp, Option[Long], Long)](
      (w1, Some(0L), 3L), (w1, None, 2L),
      (w2, Some(0L), 1L), (w2, Some(1L), 4L), (w2, None, 1L),
      (null, Some(0L), 7L)).toDF("window_start", "bucket", "cnt")
    val ref = Seq[(Option[Long], Long)](
      (Some(0L), 2L), (Some(2L), 1L), (None, 3L)).toDF("bucket", "cnt")
    def slice(w: Timestamp) = cells
      .filter(col("window_start") === w).select("bucket", "cnt")
    def exact(a: org.apache.spark.sql.DataFrame,
              b: org.apache.spark.sql.DataFrame) =
      Drift.driftFromCounts(a, b, "bucket")
        .select("n_a", "n_b", "tvd_num", "tvd")
        .as[(Long, Long, Double, Double)].head()
    val live = cells.filter(col("window_start").isNotNull)
    val adj = Drift.adjacentDrift(live)
      .select("window_start", "prev_start", "n_a", "n_b", "tvd_num",
        "tvd")
      .as[(Timestamp, Timestamp, Long, Long, Double, Double)]
      .collect().toSeq
    val e = exact(slice(w2), slice(w1))
    assert(adj == Seq((w2, w1, e._1, e._2, e._3, e._4)))
    val fin = DriftOp.finishBy(cells, ref, Seq("window_start"))
      .orderBy("window_start")
      .select("window_start", "n_a", "n_b", "tvd_num", "tvd")
      .as[(Timestamp, Long, Long, Double, Double)].collect().toSeq
    val want = Seq(w1, w2).map { w =>
      val r = exact(slice(w), ref)
      (w, r._1, r._2, r._3, r._4)
    }
    assert(fin == want)
    // w1 vs ref: |3·6 − 2·5| + 2·6 (NULL, a side) + 1·5 (bucket 2) +
    // 3·5 (NULL, ref side) = 8 + 12 + 5 + 15 = 40
    assert(fin.head._4 == 40.0)
  }

  test("DriftOp.finish equals Drift.driftFromCounts per window " +
    "(batch parity) across multiple windows") {
    val ts0 = Timestamp.valueOf("2026-01-01 00:10:00")
    val ts1 = Timestamp.valueOf("2026-01-01 01:10:00")
    val stream = Seq(
      (ts0, "a a b"), (ts0, "b c"),
      (ts1, "c c c z")).toDF("ts", "text")
    val ref = docs(1L -> "a b c", 2L -> "b c d")
    val buckets = 8
    val cells = DriftOp(Map("window" -> "1 hour", "buckets" -> buckets,
      "seed" -> 3), Seq(stream)).head
    val refCells = Drift.bucketCounts(ref, "text", buckets, seed = 3)
    val got = DriftOp.finish(cells, refCells)
      .orderBy("window_start")
      .select("n_a", "n_b", "tvd_num", "tvd")
      .as[(Long, Long, Double, Double)].collect().toSeq
    val wins = Seq(Timestamp.valueOf("2026-01-01 00:00:00"),
      Timestamp.valueOf("2026-01-01 01:00:00"))
    val want = wins.map { w =>
      Drift.driftFromCounts(
        cells.filter(col("window_start") === w).select("bucket", "cnt"),
        refCells, "bucket")
        .select("n_a", "n_b", "tvd_num", "tvd")
        .as[(Long, Long, Double, Double)].head()
    }
    assert(got == want)
    assert(got.size == 2 && got.forall(r => r._4 > 0.0 && r._4 < 1.0))
  }

  test("DriftOp with stratum_col: per-(window, stratum) cells; finishBy " +
    "equals driftFromCounts on every slice") {
    val ts0 = Timestamp.valueOf("2026-01-01 00:10:00")
    val ts1 = Timestamp.valueOf("2026-01-01 01:10:00")
    val stream = Seq(
      (ts0, "s1", "a a b"), (ts0, "s2", "b c c"),
      (ts1, "s1", "c z z")).toDF("ts", "src", "text")
    val ref = docs(1L -> "a b c z").select(col("text"))
    val buckets = 8
    val cells = DriftOp(Map("window" -> "1 hour", "buckets" -> buckets,
      "seed" -> 3, "stratum_col" -> "src"), Seq(stream)).head
    assert(cells.columns.toSeq ==
      Seq("window_start", "stratum", "bucket", "cnt"))
    val refCells = Drift.bucketCounts(ref, "text", buckets, seed = 3)
    val got = DriftOp.finishBy(cells, refCells,
      Seq("window_start", "stratum"))
      .orderBy("window_start", "stratum")
      .select("window_start", "stratum", "n_a", "n_b", "tvd_num", "tvd")
      .as[(Timestamp, String, Long, Long, Double, Double)]
      .collect().toSeq
    val w0 = Timestamp.valueOf("2026-01-01 00:00:00")
    val w1 = Timestamp.valueOf("2026-01-01 01:00:00")
    val want = Seq((w0, "s1"), (w0, "s2"), (w1, "s1")).map {
      case (w, s) =>
        val slice = cells.filter(col("window_start") === w &&
          col("stratum") === s).select("bucket", "cnt")
        val r = Drift.driftFromCounts(slice, refCells, "bucket")
          .select("n_a", "n_b", "tvd_num", "tvd")
          .as[(Long, Long, Double, Double)].head()
        (w, s, r._1, r._2, r._3, r._4)
    }
    assert(got == want)
    // NULL stratum refused (the driftByStratum/adjacentDrift NULL-key
    // contract) — no phantom NULL stratum cell group through finishBy
    val nullSrc = Seq((ts0, "s1", "a"),
      (ts0, null.asInstanceOf[String], "b")).toDF("ts", "src", "text")
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    val e = intercept[Exception] {
      DriftOp(Map("window" -> "1 hour", "buckets" -> buckets,
        "seed" -> 3, "stratum_col" -> "src"), Seq(nullSrc)).head.collect()
    }
    assert(msgs(e).exists(_.contains("DriftOp: NULL stratum")), e)
  }

  test("DriftOp streams per-window bucket cells that finalize in append " +
    "mode and match the batch twin exactly") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String)]
    val src = in.toDF().toDF("ts", "text").withWatermark("ts", "0 seconds")
    val out = DriftOp(Map("window" -> "1 hour", "buckets" -> 8,
      "seed" -> 3), Seq(src)).head
    val q = out.writeStream.format("memory").queryName("drift_cells")
      .outputMode("append").start()
    try {
      val ts0 = Timestamp.valueOf("2026-01-01 00:10:00")
      val ts1 = Timestamp.valueOf("2026-01-01 01:10:00")
      in.addData((ts0, "a a b"), (ts0, "b c"))
      q.processAllAvailable()
      in.addData((ts1, "c c c z")) // advances watermark past hour 0
      q.processAllAvailable()
      val streamed = spark.table("drift_cells")
        .filter(col("window_start") ===
          Timestamp.valueOf("2026-01-01 00:00:00"))
      val batchCells = DriftOp(Map("window" -> "1 hour", "buckets" -> 8,
        "seed" -> 3),
        Seq(Seq((ts0, "a a b"), (ts0, "b c")).toDF("ts", "text"))).head
      assert(streamed.select("bucket", "cnt").exceptAll(
        batchCells.select("bucket", "cnt")).isEmpty)
      assert(batchCells.select("bucket", "cnt").exceptAll(
        streamed.select("bucket", "cnt")).isEmpty)
    } finally q.stop()
  }
}
