package graft

import org.apache.spark.sql.functions._

import graft.llm.Dedup

/** Scale-behavior pins: what must stay TRUE as the corpus multiplies.
  * Duplicate-heavy input is the norm at crawl scale (mirrors, CDNs,
  * re-crawls), so the near-dup machinery is exercised under k-fold
  * corpus replication and held to an EXACT combinatorial identity —
  * not a smoke test: if banding, bucket collection, pair dedup or
  * signature verification mishandled duplicate signatures, the count
  * could not come out right. */
class ScaleSpec extends SparkSpec {
  import spark.implicits._

  test("minhash pairs under 8x corpus replication obey the exact " +
    "pair-count identity (k^2 cross pairs per base pair + C(k,2) " +
    "self pairs per doc)") {
    val docs = graft.core.Tables
      .table(spark, "/root/testdata/sf0.001", "documents")
      .select("doc_id", "text")
    val nDocs = docs.count()
    // cap lifted so the identity is exact (replication inflates every
    // band bucket k-fold; a capped bucket would drop pairs by design)
    val base = Dedup.minhashPairs(docs, "doc_id", "text",
      threshold = 0.4, maxBucketSize = 1000000).collect()

    val k = 8
    val rep = (0 until k)
      .map(j => docs.select((col("doc_id") + j * 100000L).as("doc_id"),
        col("text")))
      .reduce(_.unionByName(_))
    val n = Dedup.minhashPairs(rep, "doc_id", "text",
      threshold = 0.4, maxBucketSize = 1000000).count()

    // every base pair (a,b): one pair per (copy of a, copy of b) = k^2;
    // every doc: its k identical copies pair up = C(k,2), est = 1.0
    val expected = base.length.toLong * k * k + nDocs * k * (k - 1) / 2
    assert(n == expected, s"base=${base.length} nDocs=$nDocs got=$n")
  }

  test("semanticPairs stays BOUNDED on a degenerate cell: one cell " +
    "holding the whole corpus yields zero pairs over the cap, all " +
    "C(n,2) pairs under it") {
    // k=1 model: every vector lands in cell 0 — the worst-case skew a
    // near-duplicate-heavy corpus produces. Identical vectors so every
    // within-cell pair passes the cosine gate.
    val vec = Array.fill(4)(0.5f)
    val n = 80
    val df = (0L until n.toLong).map(i => (i, vec)).toDF("id", "v")
    val m = graft.llm.KMeans.seed(df, "id", "v", k = 1)
    val over = graft.llm.KMeans.semanticPairs(df, "id", "v", m,
      eps = 0.9, maxCellSize = 50).count()
    assert(over == 0L, "overflowing cell must drop to ZERO pairs, " +
      s"never a partial subset: got $over")
    val under = graft.llm.KMeans.semanticPairs(df, "id", "v", m,
      eps = 0.9, maxCellSize = 100).count()
    assert(under == n.toLong * (n - 1) / 2, s"got $under")
  }

  test("duplicateSpans under k-fold replication obeys the exact span " +
    "identity (k^2 spans per base cross-doc span + C(k,2) self-copy " +
    "span sets per doc)") {
    val docs = graft.core.Tables
      .table(spark, "/root/testdata/sf0.001", "documents")
      .select("doc_id", "text")
    // caps lifted: replication inflates every gram posting list k-fold
    val noCap = 1000000
    val base = Dedup.duplicateSpans(docs, "doc_id", "text",
      minRun = 8, maxGramFreq = noCap).count()
    // spans between two COPIES of the same doc (incl. off-diagonal
    // matches from internal repetition) measured exactly by a 2-copy
    // run restricted to (doc, its own shifted copy) pairs
    val shift = 100000L
    val twoCopy = docs.unionByName(
      docs.select((col("doc_id") + shift).as("doc_id"), col("text")))
    val selfSpans = Dedup.duplicateSpans(twoCopy, "doc_id", "text",
        minRun = 8, maxGramFreq = noCap)
      .filter(col("id_b") === col("id_a") + shift)
      .count()
    val k = 3
    val rep = (0 until k)
      .map(j => docs.select((col("doc_id") + j * shift).as("doc_id"),
        col("text")))
      .reduce(_.unionByName(_))
    val got = Dedup.duplicateSpans(rep, "doc_id", "text",
      minRun = 8, maxGramFreq = noCap).count()
    val expected = base * k * k + selfSpans * k * (k - 1) / 2
    assert(got == expected,
      s"base=$base self=$selfSpans k=$k got=$got expected=$expected")
  }

  test("paragraphDedup under k-fold replication keeps EXACTLY the base " +
    "run's survivors (lowest-id block wins every paragraph)") {
    val docs = graft.core.Tables
      .table(spark, "/root/testdata/sf0.001", "documents")
      .select("doc_id", "text")
    val base = Dedup.paragraphDedup(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .toSet
    val k = 3
    val rep = (0 until k)
      .map(j => docs.select((col("doc_id") + j * 100000L).as("doc_id"),
        col("text")))
      .reduce(_.unionByName(_))
    val got = Dedup.paragraphDedup(rep, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .toSet
    assert(got == base,
      s"base=${base.size} docs, replicated kept ${got.size}")
  }

  test("c4Clean under k-fold doc replication keeps exactly k x the base " +
    "run's rows with identical per-doc output (page/line gates are " +
    "per-row — no cross-doc state to corrupt at scale)") {
    val docs = graft.core.Tables
      .table(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), concat(col("text"), lit(".\n"),
        lit("enable javascript now.\n"), col("text"), lit(" indeed?"))
        .as("text"))
    val base = Dedup.c4Clean(docs, "doc_id", "text", minLineWords = 3,
      minLines = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .toSet
    val k = 3
    val rep = (0 until k)
      .map(j => docs.select((col("doc_id") + j * 100000L).as("doc_id"),
        col("text")))
      .reduce(_.unionByName(_))
    val got = Dedup.c4Clean(rep, "doc_id", "text", minLineWords = 3,
      minLines = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .toSet
    val expected = (0 until k).flatMap(j =>
      base.map(b => (b._1 + j * 100000L, b._2, b._3))).toSet
    assert(got == expected,
      s"base=${base.size} rows, replicated kept ${got.size}")
  }

  test("contaminationFraction is invariant under doc replication (the " +
    "fraction is per-doc) and monotone under benchmark growth") {
    val docs = graft.core.Tables
      .table(spark, "/root/testdata/sf0.001", "documents")
      .select("doc_id", "text")
    val d = docs.filter(col("doc_id") % 17 =!= 0)
    val bench = docs.filter(col("doc_id") % 17 === 0)
    val base = Dedup.contaminationFraction(d, bench, "doc_id", "text",
      minFrac = 0.05)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    // replicating the SCORED side must not change any doc's fraction
    val rep = (0 until 2)
      .map(j => d.select((col("doc_id") + j * 100000L).as("doc_id"),
        col("text")))
      .reduce(_.unionByName(_))
    val got = Dedup.contaminationFraction(rep, bench, "doc_id", "text",
      minFrac = 0.05)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    val expected = (0 until 2).flatMap(j =>
      base.map(b => (b._1 + j * 100000L, b._2, b._3, b._4))).toSet
    assert(got == expected)
    // growing the benchmark can only grow each doc's n_shared
    val biggerBench = bench.unionByName(
      docs.filter(col("doc_id") % 17 === 1))
    val grown = Dedup.contaminationFraction(d, biggerBench, "doc_id",
      "text", minFrac = 0.05)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val baseShared = base.map(b => b._1 -> b._3).toMap
    assert(baseShared.forall { case (id, n) =>
      grown.getOrElse(id, 0L) >= n })
  }

  test("dedupAgainst a reference corpus equal to the input drops " +
    "EVERY row (self-reference identity)") {
    val docs = graft.core.Tables
      .table(spark, "/root/testdata/sf0.001", "documents")
      .select("doc_id", "text")
    assert(Dedup.dedupAgainst(docs, docs, "doc_id", "text", "text")
      .count() == 0L)
  }

  test("minhashNovel under k-fold replication keeps EXACTLY the base " +
    "run's novel set (copies share every band key with their original " +
    "and win none)") {
    val docs = graft.core.Tables
      .table(spark, "/root/testdata/sf0.001", "documents")
      .select("doc_id", "text")
    val base = Dedup.minhashNovel(docs, "doc_id", "text")
      .as[Long].collect().toSet
    val k = 3
    val rep = (0 until k)
      .map(j => docs.select((col("doc_id") + j * 100000L).as("doc_id"),
        col("text")))
      .reduce(_.unionByName(_))
    val got = Dedup.minhashNovel(rep, "doc_id", "text")
      .as[Long].collect().toSet
    assert(got == base, s"base=${base.size} replicated=${got.size}")
  }

  test("minhashNovel on a 90%-hot-band corpus: correct novel set AND " +
    "hot-skew wall time comparable to a uniform corpus (the banded ⋈ " +
    "firsts join is many-to-ONE — a boilerplate band cannot amplify)") {
    // 90% of docs are byte-identical boilerplate (every band key
    // collides into the same 32 hot keys); 10% are unique. The skew
    // scaladoc claim: join output == probe input rows, hot or not.
    val n = 4000
    val hotText = (1 to 60).map(i => s"boiler$i plate$i").mkString(" ")
    def corpus(hotFrac: Double) = spark.range(n.toLong)
      .select(col("id").as("doc_id"),
        when(col("id") % 100 < lit((hotFrac * 100).toInt), lit(hotText))
          .otherwise(concat_ws(" ", (0 until 40).map(i =>
            concat(lit(s"q${i}z"), col("id"))): _*)).as("text"))
    def best(act: => Long): Double = {
      def one = { val t0 = System.nanoTime(); act
        (System.nanoTime() - t0) / 1e9 }
      math.min(one, one)
    }
    Dedup.minhashNovel(corpus(0.0).limit(100), "doc_id", "text").count()
    val hot = corpus(0.9)
    val novel = Dedup.minhashNovel(hot, "doc_id", "text")
      .as[Long].collect().toSet
    // the hot group's minimum id (0) is its sole survivor; every
    // unique doc is novel — 1 + n/10 total
    val uniques = (0L until n.toLong).filter(_ % 100 >= 90).toSet
    assert(novel == uniques + 0L,
      s"got ${novel.size}, want ${uniques.size + 1}")
    val tHot = best(Dedup.minhashNovel(hot, "doc_id", "text").count())
    val tUni = best(
      Dedup.minhashNovel(corpus(0.0), "doc_id", "text").count())
    // same row counts through every stage ⇒ same order of cost; the
    // 3x + grace absorbs reducer imbalance and box noise, while a
    // re-introduced per-band pair expansion (32 bands × 3600 sharers)
    // would blow it by orders of magnitude
    assert(tHot < 3 * tUni + 2.0,
      f"hot=$tHot%.2fs uniform=$tUni%.2fs")
  }

  test("trimDuplicateParagraphs under k-fold replication keeps EXACTLY " +
    "the base survivors (every copy position has an earlier block-0 " +
    "occurrence, so whole copies vanish)") {
    val docs = graft.core.Tables
      .table(spark, "/root/testdata/sf0.001", "documents")
      .select("doc_id", "text")
    val base = Dedup.trimDuplicateParagraphs(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .toSet
    val k = 3
    val rep = (0 until k)
      .map(j => docs.select((col("doc_id") + j * 100000L).as("doc_id"),
        col("text")))
      .reduce(_.unionByName(_))
    val got = Dedup.trimDuplicateParagraphs(rep, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .toSet
    assert(got == base, s"base=${base.size} replicated=${got.size}")
  }

  test("shuffleShards is an exact permutation: every id exactly once, " +
    "dense 0-based positions per shard, reproducible under a fixed " +
    "seed, reordered by a different one") {
    import graft.core.Pipe._
    import graft.operators.Ops
    val ids = (0L until 1000L).toDF("id")
    def run(seed: Int) =
      (ids >> Ops.shuffleShards(col("id"), nShards = 8, seed = seed))
        .select("id", "shard", "shuffle_pos")
        .as[(Long, Int, Long)].collect()
    val a = run(1)
    assert(a.map(_._1).toSet == (0L until 1000L).toSet) // permutation
    a.groupBy(_._2).foreach { case (shard, rows) =>
      val ps = rows.map(_._3).sorted
      assert(ps.toSeq == (0L until rows.length.toLong), s"shard $shard")
    }
    assert(run(1).sortBy(_._1).toSeq == a.sortBy(_._1).toSeq) // stable
    assert(run(2).sortBy(_._1).toSeq != a.sortBy(_._1).toSeq) // reseeded
  }

  test("sampleToBudget keeps EXACTLY the maximal hash-order prefix per " +
    "stratum (independent driver-side replica), never exceeding the " +
    "budget") {
    import graft.core.Pipe._
    import graft.operators.Ops
    val docs = graft.core.Tables
      .table(spark, "/root/testdata/sf0.001", "documents")
      .select("doc_id", "source", "n_chars")
    val budgets = Map("src0" -> 700L, "src1" -> 10L, "src2" -> 1000000L)
    val kept = (docs >> Ops.sampleToBudget(col("doc_id"), col("source"),
        col("n_chars"), budgets, seed = 9, buckets = 16))
      .select("doc_id").as[Long].collect().toSet
    // independent replica: hash order computed via Spark's xxhash64 but
    // prefix selection done serially on the driver
    val withH = docs
      .withColumn("__h", xxhash64(lit(9), col("doc_id")))
      .select("doc_id", "source", "n_chars", "__h")
      .as[(Long, String, Long, Long)].collect()
    val expect = scala.collection.mutable.Set[Long]()
    withH.groupBy(_._2).foreach { case (src, rows) =>
      val budget = budgets.getOrElse(src, 0L)
      var cum = 0L
      rows.sortBy(r => (math.floorMod(r._4, 16L), r._4, r._1))
        .foreach { r =>
          cum += r._3
          if (cum <= budget) expect += r._1
        }
    }
    assert(kept == expect.toSet, s"kept=${kept.size} expect=${expect.size}")
    // and the budget is respected exactly
    val bySrc = withH.filter(r => kept(r._1)).groupBy(_._2)
      .map { case (s, rs) => s -> rs.map(_._3).sum }
    bySrc.foreach { case (s, tot) =>
      assert(tot <= budgets.getOrElse(s, 0L), s"$s over budget: $tot")
    }
  }

  test("RUNTIME scaling pin: 8x corpus costs < ~12x wall time for " +
    "minhashPairs and trimDuplicateParagraphs (catches a re-introduced " +
    "quadratic the count identities cannot)") {
    // Replication is the WRONG growth axis for a pairs runtime pin (k
    // copies legitimately produce C(k,2) pairs), so each operator grows
    // along the axis it promises linearity on:
    //  - minhashPairs: n DISTINCT docs (banding/signature work is the
    //    cost; pair output stays empty);
    //  - trimDuplicateParagraphs: one block shared by ALL n docs plus a
    //    unique tail each (the documented "100k-sharer block costs 100k
    //    rows, not 10^10 pairs" claim, now timed).
    // min-of-2 runs absorbs one-off scheduler/GC hiccups; the +2s grace
    // absorbs fixed per-job overhead on a loaded box.
    def pairDocs(n: Int) = spark.range(n.toLong)
      .select(col("id").as("doc_id"),
        concat_ws(" ", (0 until 40).map(i =>
          concat(lit(s"w${i}x"), col("id"))): _*).as("text"))
    val shared = (1 to 30).map(i => s"common$i").mkString(" ")
    def trimDocs(n: Int) = spark.range(n.toLong)
      .select(col("id").as("doc_id"),
        concat(lit(shared + "\n\n"),
          concat_ws(" ", (0 until 30).map(i =>
            concat(lit(s"u${i}x"), col("id"))): _*)).as("text"))
    def best(act: => Long): Double = {
      def one = { val t0 = System.nanoTime(); act
        (System.nanoTime() - t0) / 1e9 }
      math.min(one, one)
    }
    // warmup: JIT/codegen for both plan shapes
    Dedup.minhashPairs(pairDocs(100), "doc_id", "text").count()
    Dedup.trimDuplicateParagraphs(trimDocs(100), "doc_id", "text").count()

    val p1 = best(Dedup.minhashPairs(
      pairDocs(1500), "doc_id", "text").count())
    val p8 = best(Dedup.minhashPairs(
      pairDocs(12000), "doc_id", "text").count())
    assert(p8 < 12 * p1 + 2.0, f"minhashPairs 8x: $p1%.2fs -> $p8%.2fs")

    val t1 = best(Dedup.trimDuplicateParagraphs(
      trimDocs(800), "doc_id", "text").count())
    val t8 = best(Dedup.trimDuplicateParagraphs(
      trimDocs(6400), "doc_id", "text").count())
    assert(t8 < 12 * t1 + 2.0, f"trim 8x: $t1%.2fs -> $t8%.2fs")
  }

  test("RUNTIME scaling pin: 8x corpus costs < ~12x wall time for " +
    "hashEmbedDense (one count aggregate + per-doc densify — " +
    "row-linear, never pair-shaped)") {
    def docs(n: Int) = spark.range(n.toLong)
      .select(col("id").as("doc_id"),
        concat_ws(" ", (0 until 30).map(i =>
          concat(lit(s"h${i % 11}w"),
            pmod(col("id") + lit(i), lit(23)))): _*).as("text"))
    def best(act: => Long): Double = {
      def one = { val t0 = System.nanoTime(); act
        (System.nanoTime() - t0) / 1e9 }
      math.min(one, one)
    }
    graft.llm.TextStats.hashEmbedDense(docs(100), "doc_id", "text", 16)
      .count() // warmup
    val h1 = best(graft.llm.TextStats.hashEmbedDense(
      docs(1500), "doc_id", "text", 16).count())
    val h8 = best(graft.llm.TextStats.hashEmbedDense(
      docs(12000), "doc_id", "text", 16).count())
    assert(h8 < 12 * h1 + 2.0, f"hashEmbedDense 8x: $h1%.2fs -> $h8%.2fs")
  }

  test("RUNTIME scaling pin: 8x corpus costs < ~12x wall time for " +
    "Pca.fit and Scd.scd2 (moment pass is row-linear with bounded " +
    "d^2 cells; SCD2 windows are keyed, never global)") {
    def vecs(n: Int) = spark.range(n.toLong)
      .select(col("id").as("vec_id"),
        array((0 until 16).map(i =>
          (pmod(col("id") * (i + 3), lit(97)).cast("double") / 97.0)
            .cast("float")): _*).as("embedding"))
    def log(n: Int) = spark.range(n.toLong)
      .select(pmod(col("id"), lit(50)).as("k"),
        (col("id") * 1000L).cast("timestamp").as("t"),
        col("id").as("tie"),
        concat(lit("s"), pmod(col("id"), lit(3))).as("st"))
    def best(act: => Unit): Double = {
      def one = { val t0 = System.nanoTime(); act
        (System.nanoTime() - t0) / 1e9 }
      math.min(one, one)
    }
    graft.llm.Pca.fit(vecs(200), "embedding", k = 1, iters = 2) // warmup
    graft.operators.Scd.scd2(log(200), col("k"), col("t"),
      col("tie"), col("st")).count()

    val f1 = best(graft.llm.Pca.fit(vecs(2000), "embedding",
      k = 1, iters = 2))
    val f8 = best(graft.llm.Pca.fit(vecs(16000), "embedding",
      k = 1, iters = 2))
    assert(f8 < 12 * f1 + 2.0, f"Pca.fit 8x: $f1%.2fs -> $f8%.2fs")

    val s1 = best(graft.operators.Scd.scd2(log(4000), col("k"),
      col("t"), col("tie"), col("st")).count())
    val s8 = best(graft.operators.Scd.scd2(log(32000), col("k"),
      col("t"), col("tie"), col("st")).count())
    assert(s8 < 12 * s1 + 2.0, f"scd2 8x: $s1%.2fs -> $s8%.2fs")
  }

  test("RUNTIME scaling pin: 8x corpus costs < ~12x wall time for " +
    "bigramLikelihood and bm25Queries (model/df tables are bounded " +
    "broadcasts — scoring must stay one linear corpus pass)") {
    // fixed small vocabulary (tokens t0..t12 x 7 forms) so the top-V/
    // top-B model tables and the query-term df table stay
    // constant-sized while the corpus grows 8x along the doc axis
    def docs(n: Int) = spark.range(n.toLong)
      .select(col("id").as("doc_id"),
        concat_ws(" ", (0 until 30).map(i =>
          concat(lit(s"t${i % 7}v"),
            pmod(col("id") + lit(i), lit(13)))): _*).as("text"))
    import spark.implicits._
    val qs = Seq((0L, Seq("t0v1", "t3v5")), (1L, Seq("t1v2", "t6v0")))
      .toDF("query_id", "terms")
    def best(act: => Long): Double = {
      def one = { val t0 = System.nanoTime(); act
        (System.nanoTime() - t0) / 1e9 }
      math.min(one, one)
    }
    graft.llm.TextStats.bigramLikelihood(docs(100), "doc_id", "text")
      .count() // warmup
    graft.llm.Search.bm25Queries(docs(100), "doc_id", "text", qs).count()

    val g1 = best(graft.llm.TextStats.bigramLikelihood(
      docs(1500), "doc_id", "text").count())
    val g8 = best(graft.llm.TextStats.bigramLikelihood(
      docs(12000), "doc_id", "text").count())
    assert(g8 < 12 * g1 + 2.0, f"bigramLikelihood 8x: $g1%.2fs -> $g8%.2fs")

    val b1 = best(graft.llm.Search.bm25Queries(
      docs(1500), "doc_id", "text", qs).count())
    val b8 = best(graft.llm.Search.bm25Queries(
      docs(12000), "doc_id", "text", qs).count())
    assert(b8 < 12 * b1 + 2.0, f"bm25Queries 8x: $b1%.2fs -> $b8%.2fs")

    graft.llm.TextStats.kneserNeyBigram(docs(100), "doc_id", "text")
      .count() // warmup
    val k1 = best(graft.llm.TextStats.kneserNeyBigram(
      docs(1500), "doc_id", "text").count())
    val k8 = best(graft.llm.TextStats.kneserNeyBigram(
      docs(12000), "doc_id", "text").count())
    assert(k8 < 12 * k1 + 2.0, f"kneserNeyBigram 8x: $k1%.2fs -> $k8%.2fs")
  }

  test("RUNTIME pin: deep-iteration pageRank (iters=10) stays ~linear " +
    "in iters and its analyzed plan does not grow with iters") {
    import graft.llm.Graph
    val edges = spark.range(2000L)
      .select(col("id").as("src"),
        pmod(col("id") * 7 + 1, lit(2000L)).as("dst"))
      .union(spark.range(2000L).select(col("id").as("src"),
        pmod(col("id") * 13 + 5, lit(2000L)).as("dst")))
    def best(act: => Long): Double = {
      def one = { val t0 = System.nanoTime(); act
        (System.nanoTime() - t0) / 1e9 }
      math.min(one, one)
    }
    Graph.pageRank(edges, "src", "dst", iters = 1).count() // warmup
    val t2 = best(Graph.pageRank(edges, "src", "dst", iters = 2).count())
    // pageRank computes eagerly, so the call itself is what is timed
    val t10 = best(Graph.pageRank(edges, "src", "dst", iters = 10).count())
    val deep = Graph.pageRank(edges, "src", "dst", iters = 10)
    // 5x the iterations must cost < ~8x the wall (per-level jobs are
    // the cost; the +2s grace absorbs fixed overhead on a loaded box)
    assert(t10 < 8 * t2 + 2.0, f"pageRank iters 2->10: $t2%.2fs -> $t10%.2fs")
    // lineage pin: the result is a local checkpoint, so iters 6 and 10
    // plan the same — the 10-level join chain is not in the plan
    def planNodes(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.analyzed.collect { case n => n }.size
    val six = Graph.pageRank(edges, "src", "dst", iters = 6)
    assert(planNodes(deep) == planNodes(six),
      s"plan nodes: iters=10 ${planNodes(deep)} iters=6 ${planNodes(six)}")
  }

  test("bucket cap degrades replicated boilerplate to ZERO pairs for " +
    "the overflowing bucket, never a partial/skewed subset") {
    // 60 identical docs with a cap of 50: every band bucket holds all
    // 60 -> every bucket overflows -> no candidates at all (the
    // documented boilerplate trade), rather than an arbitrary 50-subset
    val docs = (0L until 60L)
      .map(i => (i, "same exact boilerplate text repeated here always"))
      .toDF("doc_id", "text")
    val n = Dedup.minhashPairs(docs, "doc_id", "text",
      threshold = 0.4, maxBucketSize = 50).count()
    assert(n == 0L)
  }

  test("tokenDrift is EXACTLY invariant under k-fold replication of " +
    "either side (counts scale k, cross-products scale k², the " +
    "statistic cancels)") {
    val docs = graft.core.Tables
      .table(spark, "/root/testdata/sf0.001", "documents")
      .select("doc_id", "text")
    val a = docs.filter(col("doc_id") % 2 === 0)
    val b = docs.filter(col("doc_id") % 2 === 1)
    val base = graft.llm.Drift.tokenDrift(a, b, "text")
      .select("tvd").as[Double].head()
    val k = 5
    def rep(df: org.apache.spark.sql.DataFrame) = (0 until k)
      .map(j => df.select((col("doc_id") + j * 100000L).as("doc_id"),
        col("text")))
      .reduce(_.unionByName(_))
    // replicate the SNAPSHOT side only, then BOTH sides: tvd unchanged
    // bit for bit each time (integer-exact through the numerators)
    assert(graft.llm.Drift.tokenDrift(rep(a), b, "text")
      .select("tvd").as[Double].head() == base)
    assert(graft.llm.Drift.tokenDrift(rep(a), rep(b), "text")
      .select("tvd").as[Double].head() == base)
    assert(base > 0.0 && base < 1.0)
  }

  test("collocations are EXACTLY invariant under k-fold corpus " +
    "replication once the support floor is scaled (every count " +
    "multiplies by k, lift cancels)") {
    val docs = graft.core.Tables
      .table(spark, "/root/testdata/sf0.001", "documents")
      .select("doc_id", "text")
    val base = graft.llm.TextStats
      .collocations(docs, "text", minCount = 3L, k = 25)
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getLong(2), r.getDouble(5))).toSeq
    val k = 4
    val rep = (0 until k)
      .map(j => docs.select((col("doc_id") + j * 100000L).as("doc_id"),
        col("text")))
      .reduce(_.unionByName(_))
    val got = graft.llm.TextStats
      .collocations(rep, "text", minCount = 3L * k, k = 25)
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getLong(2), r.getDouble(5))).toSeq
    assert(got.map(x => (x._1, x._2, x._4)) ==
      base.map(x => (x._1, x._2, x._4)), "same pairs, same exact lifts")
    assert(got.map(_._3) == base.map(_._3 * k), "counts scale by k")
    assert(base.nonEmpty)
  }
}
