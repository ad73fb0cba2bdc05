package graft

import org.apache.spark.sql.functions._

import graft.functions.{Codecs, Text, Vectors}
import graft.llm.{Dedup, Multimodal, SimSearch}

class TextDedupSpec extends SparkSpec {
  import spark.implicits._

  test("editNearDupPairs banded threshold keeps the exact-boundary " +
    "pair — sim lands EXACTLY on editSimThreshold; a floor'd fp band " +
    "((1-0.9)*10 = 0.999…97 → 0) would -1 it out") {
    val df = Seq((1L, "aaa bb c d"), (2L, "aaa bb c e"))
      .toDF("doc_id", "text")
    val got = Dedup.editNearDupPairs(df, "doc_id", "text",
      shingleSize = 3, candidateThreshold = 0.3,
      editSimThreshold = 0.9, maxChars = 10)
      .select("id_a", "id_b", "edit_sim")
      .as[(Long, Long, Double)].collect().toSeq
    // both texts are 10 chars, edit distance 1 ⇒ sim = 1 - 1/10 = 0.9,
    // equal to the threshold — must survive with the exact distance
    assert(got == Seq((1L, 2L, 0.9)))
  }

  test("tokens lowercases, trims, drops empties") {
    val df = Seq("  The  QUICK brown  ").toDF("text")
    val got = df.select(Text.tokens(col("text"))).as[Seq[String]]
      .collect().head
    assert(got == Seq("the", "quick", "brown"))
  }

  test("shingles: doc shorter than n yields empty, not partials") {
    val df = Seq("a b", "a b c d").toDF("text")
    val got = df.select(Text.shingles(col("text"), 3)).as[Seq[String]]
      .collect()
    assert(got(0) == Seq.empty)
    assert(got(1) == Seq("a b c", "b c d"))
  }

  test("mergeBandIndex(index(A), index(B)) equals index(A ∪ B) — plain " +
    "and signature-carrying") {
    val docs = graft.core.Tables.table(
      spark, "/root/testdata/sf0.001", "documents")
    val a = docs.filter(col("doc_id") % 2 === 0)
    val b = docs.filter(col("doc_id") % 2 === 1)
    def idx(df: org.apache.spark.sql.DataFrame, sigs: Boolean) =
      Dedup.minhashBandWinners(df, "doc_id", "text",
        withSignatures = sigs)
    for (sigs <- Seq(false, true)) {
      val merged = Dedup.mergeBandIndex(idx(a, sigs), idx(b, sigs))
      val whole = idx(docs, sigs)
      assert(merged.exceptAll(whole).isEmpty &&
        whole.exceptAll(merged).isEmpty,
        s"sigs=$sigs: merged index != union index")
      assert(whole.count() > 0)
    }
    // schema mismatch refuses
    assertThrows[IllegalArgumentException] {
      Dedup.mergeBandIndex(idx(a, false), idx(b, true))
    }
  }

  test("fingerprint is whitespace/case-insensitive, content-sensitive") {
    val df = Seq(("A  b\tC", 1), ("a b c", 2), ("a b d", 3))
      .toDF("text", "id")
    val fps = df.select(Text.fingerprint(col("text"))).as[String]
      .collect()
    assert(fps(0) == fps(1))
    assert(fps(0) != fps(2))
  }

  test("rollingFingerprint is order-sensitive") {
    val df = Seq(("a b c", 1), ("c b a", 2)).toDF("text", "id")
    val fps = df.select(Text.rollingFingerprint(col("text"))).as[Long]
      .collect()
    assert(fps(0) != fps(1))
  }

  test("langId picks the language with most stopword evidence") {
    val df = Seq(
      "el la de que y en un",        // es
      "der die das und von zu",      // de
      "the of and to in is",         // en
      "zzz qqq xxx")                 // no evidence
      .toDF("text")
    val got = df.select(Text.langId(col("text"))).as[String].collect()
    assert(got.toSeq == Seq("es", "de", "en", "und"))
  }

  test("exact dedup keeps min-id representative") {
    val df = Seq((3L, "x", 1.0), (1L, "x", 2.0), (2L, "y", 3.0))
      .toDF("id", "k", "v")
    val got = Dedup.exact(df, "id", Seq("k"))
    val rows = got.orderBy("k").select("id", "v")
      .as[(Long, Double)].collect().toSeq
    assert(rows == Seq((1L, 2.0), (2L, 3.0)))
  }

  test("minhash: identical docs pair with est_jaccard 1.0; disjoint do not") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "one two three four five six seven eight"))
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashPairs(docs, "doc_id", "text",
      shingleSize = 2, numHashes = 64, bands = 16, threshold = 0.5)
    val got = pairs.select("id_a", "id_b", "est_jaccard")
      .as[(Long, Long, Double)].collect().toSeq
    assert(got == Seq((1L, 2L, 1.0)))
  }

  test("simhash: identical docs at hamming 0; unrelated docs filtered") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "uno dos tres cuatro cinco seis siete ocho"))
      .toDF("doc_id", "text")
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text",
      bands = 4, maxHamming = 3)
    val got = pairs.select("id_a", "id_b").as[(Long, Long)]
      .collect().toSeq
    assert(got == Seq((1L, 2L)))
  }

  test("ngram jaccard computes the exact overlap coefficient") {
    // shingle2(A)={a b, b c, c d}; shingle2(B)={a b, b c, c e}
    // |∩|=2, |∪|=4 → J=0.5
    val docs = Seq((1L, "a b c d"), (2L, "a b c e")).toDF("doc_id", "text")
    val got = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      shingleSize = 2, threshold = 0.4)
      .select("jaccard").as[Double].collect().toSeq
    assert(got == Seq(0.5))
  }

  test("cosine: identical=1, orthogonal=0; brute-force top-k ranks by it") {
    val vecs = Seq(
      (0L, Array(1f, 0f, 0f)),
      (1L, Array(1f, 0f, 0f)),
      (2L, Array(0f, 1f, 0f)),
      (3L, Array(0.9f, 0.1f, 0f)))
      .toDF("vec_id", "embedding")
    val cos = vecs.filter(col("vec_id") === 0).crossJoin(
      vecs.filter(col("vec_id") === 2).select(col("embedding").as("e2")))
      .select(Vectors.cosine(col("embedding"), col("e2")))
      .as[Double].collect().head
    assert(cos == 0.0)
    val topk = SimSearch.bruteForceTopK(vecs,
      vecs.filter(col("vec_id") === 0), "vec_id", "embedding", 2)
    val got = topk.orderBy("rank").select("nbr_id").as[Long]
      .collect().toSeq
    assert(got == Seq(1L, 3L))
  }

  test("LSH signature is deterministic and identical vectors collide") {
    val vecs = Seq((0L, Array.fill(16)(0.5f)), (1L, Array.fill(16)(0.5f)))
      .toDF("vec_id", "embedding")
    val sigs = vecs.select(
      Vectors.rhpSignature(col("embedding"), 12, seed = 7)).as[Long]
      .collect()
    assert(sigs(0) == sigs(1))
    val again = vecs.select(
      Vectors.rhpSignature(col("embedding"), 12, seed = 7)).as[Long]
      .collect()
    assert(sigs.toSeq == again.toSeq)
  }

  test("codec round-trips: string, json, none") {
    val df = Seq(("test", 42)).toDF("s", "i")
    val sc = Codecs.StringCodec()
    assert(df.select(Codecs.roundTrip(sc, col("s"))).as[String]
      .collect().head == "test")
    val js = Codecs.JsonCodec(org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("foo",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("biz",
        org.apache.spark.sql.types.IntegerType))))
    val back = df.select(struct(lit("bar").as("foo"), col("i").as("biz"))
        .as("payload"))
      .select(Codecs.roundTrip(js, col("payload")).as("rt"))
      .select("rt.foo", "rt.biz").as[(String, Int)].collect().head
    assert(back == ("bar", 42))
    val nc = Codecs.NoneCodec
    val raw = df.select(Codecs.roundTrip(nc, encode(col("s"), "UTF-8")))
      .as[Array[Byte]].collect().head
    assert(new String(raw, "UTF-8") == "test")
  }

  test("multimodal: binary doc carries content-addressed metadata; " +
    "feature extraction is deterministic") {
    val docs = Seq((1L, "hello world"), (2L, "hello world"),
      (3L, "different")).toDF("doc_id", "text")
    val bin = Multimodal.asBinaryDoc(docs, "doc_id", "text")
    assert(bin.columns.toSeq == Seq("doc_id", "content", "meta"))
    val dedup = Multimodal.dedupByContent(bin, "doc_id")
    assert(dedup.count() == 2)
    assert(dedup.filter(col("n_dups") === 2).count() == 1)
    val f1 = Multimodal.extractFeatures(spark, bin, "doc_id", dim = 4)
      .orderBy("id").select("feature").as[Seq[Float]].collect().toSeq
    val f2 = Multimodal.extractFeatures(spark, bin, "doc_id", dim = 4)
      .orderBy("id").select("feature").as[Seq[Float]].collect().toSeq
    assert(f1 == f2)
    assert(f1.head.size == 4)
    assert(f1(0) == f1(1)) // same content → same feature
    // text payloads match no magic → generic "bytes" fallback, flagged
    assert(Multimodal.extractFeatures(spark, bin, "doc_id", dim = 4)
      .select("modality").distinct().as[String].collect().toSeq ==
      Seq("bytes"))
  }

  test("extractFeatures dispatches by magic bytes to the real codecs " +
    "and agrees with each codec's own feature arithmetic") {
    import graft.llm.{Ppm, Wav, Y4m}
    val img = Ppm.encodeP6(Ppm.synthetic(7L, 8, 6))
    val wav = Wav.encode(Wav.synthetic(8L, 64))
    val vid = Y4m.encode(Y4m.synthetic(9L, 4, 4, 6))
    assert(Multimodal.sniffModality(img) == "image")
    assert(Multimodal.sniffModality(wav) == "audio")
    assert(Multimodal.sniffModality(vid) == "video")
    assert(Multimodal.sniffModality("plain old text".getBytes) == "bytes")
    assert(Multimodal.sniffModality(Array.emptyByteArray) == "bytes")
    // "P6x" (no whitespace after the magic) is NOT a netpbm payload
    assert(Multimodal.sniffModality("P6x".getBytes) == "bytes")
    val mixed = Seq((7L, img), (8L, wav), (9L, vid))
      .toDF("doc_id", "content")
    val got = Multimodal.extractFeatures(spark, mixed, "doc_id")
      .orderBy("id")
      .select("modality", "feature")
      .as[(String, Seq[Float])].collect().toSeq
    assert(got.map(_._1) == Seq("image", "audio", "video"))
    assert(got(0)._2 == Ppm.features(Ppm.decode(img)).toSeq)
    assert(got(1)._2 == Wav.features(Wav.decode(wav)).toSeq)
    assert(got(2)._2 == Y4m.features(Y4m.decode(vid)).toSeq)
    // a payload that MATCHES a magic but fails its codec is an input
    // error, not a silent fallback
    val corrupt = Seq((1L, "P6\nnot really a ppm".getBytes))
      .toDF("doc_id", "content")
    intercept[Exception] {
      Multimodal.extractFeatures(spark, corrupt, "doc_id").collect()
    }
  }

  test("scrubPii redacts emails, IPv4s, and long digit runs; clean text " +
    "is untouched") {
    val rows = Seq(
      "contact me at jane.doe+x@example.co.uk today",
      "server 10.0.255.7 responded",
      "call +1 (555) 123-4567 or 5551234567 now",
      "ordinary text with the number 42 stays",
      "meeting on 2026-08-12 10:30:45 as planned", // dates/times intact
      "card 4111-1111-1111-1111 charged",
      "call 555 123 4567 ext 9",
      "short 123-4567 local") // <7+area digits: left alone (conservative)
      .toDF("text")
    val got = rows.select(Text.scrubPii(col("text")))
      .as[String].collect().toSeq
    assert(got == Seq(
      "contact me at <EMAIL> today",
      "server <IP> responded",
      "call <NUMBER> or <NUMBER> now",
      "ordinary text with the number 42 stays",
      "meeting on 2026-08-12 10:30:45 as planned",
      "card <NUMBER> charged",
      "call <NUMBER> ext 9",
      "short 123-4567 local"))
  }

  test("components: min-label propagation resolves chains, stars, and " +
    "disjoint clusters (multi-iteration convergence)") {
    // chain 10-11-12-13-14 (diameter 4 → needs >1 round), star 20<-{21,22,
    // 23}, isolated pair (30,31)
    val pairs = Seq(
      (11L, 10L), (11L, 12L), (13L, 12L), (13L, 14L),
      (21L, 20L), (22L, 20L), (23L, 20L),
      (31L, 30L)).toDF("id_a", "id_b")
    // both engines: driver union-find (default small-graph path) and
    // distributed label propagation (cap 0 forces it) must agree exactly
    for (cap <- Seq(4000000L, 0L)) {
      val comp = Dedup.components(pairs, "id_a", "id_b",
        driverEdgeCap = cap)
        .as[(Long, Long)].collect().toMap
      assert((10L to 14L).forall(comp(_) == 10L), s"cap=$cap")
      assert((20L to 23L).forall(comp(_) == 20L), s"cap=$cap")
      assert(Seq(30L, 31L).forall(comp(_) == 30L), s"cap=$cap")
      assert(comp.size == 11, s"cap=$cap")
    }
  }

  test("components engines agree on a randomized graph (union-find vs " +
    "label propagation)") {
    val rnd = new scala.util.Random(11)
    val pairs = Seq.fill(300)((rnd.nextInt(120).toLong,
      rnd.nextInt(120).toLong))
      .filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .toDF("id_a", "id_b")
    val fast = Dedup.components(pairs, "id_a", "id_b")
      .as[(Long, Long)].collect().toSet
    val dist = Dedup.components(pairs, "id_a", "id_b", driverEdgeCap = 0)
      .as[(Long, Long)].collect().toSet
    assert(fast == dist)
    assert(fast.nonEmpty)
  }

  test("components: on a 20-node path the distributed plan does not " +
    "grow with maxIters, and the converged labels match union-find") {
    // the path needs 19 rounds, so maxIters binds at 2 and at 4; an
    // untruncated loop doubles its plan every round (7 vs 31 leaves)
    val path = (0L until 19L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    def leaves(maxIters: Int): Int = Dedup.components(path, "id_a", "id_b",
      maxIters = maxIters, driverEdgeCap = 0)
      .queryExecution.analyzed.collectLeaves().size
    assert(leaves(2) == leaves(4))
    val fast = Dedup.components(path, "id_a", "id_b")
      .as[(Long, Long)].collect().toSet
    val dist = Dedup.components(path, "id_a", "id_b", driverEdgeCap = 0)
      .as[(Long, Long)].collect().toSet
    assert(dist == fast)
    assert(fast == (0L until 20L).map(_ -> 0L).toSet)
  }

  test("dropNearDuplicates keeps one representative per component and " +
    "all unpaired rows") {
    val docs = Seq.tabulate(8)(i => (i.toLong, s"doc $i"))
      .toDF("doc_id", "text")
    val pairs = Seq((0L, 1L), (1L, 2L), (5L, 6L)).toDF("id_a", "id_b")
    val kept = Dedup.dropNearDuplicates(docs, "doc_id", pairs)
      .select("doc_id").as[Long].collect().toSet
    // components {0,1,2}→keep 0 and {5,6}→keep 5; 3,4,7 unpaired → kept
    assert(kept == Set(0L, 3L, 4L, 5L, 7L))
  }

  test("sampleFrames emits nFrames ordered deterministic slices; " +
    "resizeTo bounds payloads and recomputes metadata") {
    val docs = Seq((1L, "abcdefghij"), (2L, "xy")).toDF("doc_id", "text")
    val bin = Multimodal.asBinaryDoc(docs, "doc_id", "text")
    val frames = Multimodal.sampleFrames(bin, "doc_id", 4)
      .orderBy("id", "frame_idx")
    val got = frames.select(col("id"), col("frame_idx"),
      col("frame").cast("string")).as[(Long, Int, String)].collect().toSeq
    // doc 1: width = floor(10/4) = 2 → ab cd ef gh; doc 2 (2 bytes,
    // width 1): x y, then empty frames dropped
    assert(got == Seq((1L, 0, "ab"), (1L, 1, "cd"), (1L, 2, "ef"),
      (1L, 3, "gh"), (2L, 0, "x"), (2L, 1, "y")))
    val resized = Multimodal.resizeTo(bin, maxBytes = 4)
    val r = resized.select(col("content").cast("string"),
      col("meta.n_bytes"), col("meta.sha256")).as[(String, Long, String)]
      .collect().map { case (c, n, s) => c -> ((n, s)) }.toMap
    assert(r("abcd")._1 == 4L && r("xy")._1 == 2L)
    // metadata digest matches the NEW payload (content addressing holds)
    val expect = Seq("abcd", "xy").toDF("c")
      .select(col("c"), org.apache.spark.sql.functions.sha2(
        org.apache.spark.sql.functions.encode(col("c"), "UTF-8"), 256))
      .as[(String, String)].collect().toMap
    assert(r("abcd")._2 == expect("abcd") && r("xy")._2 == expect("xy"))
  }

  test("contamination flags docs sharing >= minShared shingles with the " +
    "benchmark; disjoint docs pass clean") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"), // = bench doc
      (2L, "the quick brown fox went home early today now"), // partial
      (3L, "completely different words about nothing shared here at all"))
      .toDF("doc_id", "text")
    val bench = Seq(
      (100L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val got = Dedup.contamination(docs, bench, "doc_id", "text",
      shingleSize = 3, minShared = 2)
      .as[(Long, Long)].collect().toMap
    // doc 1 shares all 7 distinct 3-shingles; doc 2 shares exactly
    // "the quick brown" and "quick brown fox"; doc 3 shares none
    assert(got(1L) == 7L)
    assert(got(2L) == 2L)
    assert(!got.contains(3L))
    // tighter threshold drops doc 2
    val strict = Dedup.contamination(docs, bench, "doc_id", "text",
      shingleSize = 3, minShared = 3)
      .as[(Long, Long)].collect().toMap
    assert(strict.keySet == Set(1L))
  }

  test("repetition stats: modal token frequency and distinct ratio") {
    val docs = Seq(
      (1L, "a a a b"), // top=3/4, distinct=2/4
      (2L, "x y z"), // no repetition
      (3L, " ")) // no tokens -> no row
      .toDF("doc_id", "text")
    val got = graft.llm.TextStats.repetition(docs, "doc_id", "text")
      .select("doc_id", "n_tokens", "n_distinct", "top_freq", "rep_ratio")
      .as[(Long, Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(got(1L) == ((4L, 2L, 3L, 0.75)))
    assert(got(2L) == ((3L, 3L, 1L, 1.0 / 3)))
    assert(!got.contains(3L))
  }

  test("unigram likelihood: hand-computed scores, OOV floor, topV cut") {
    val docs = Seq(
      (1L, "a a b"), // with full vocab: s=(3+1)+(3+1)+(1+1)=10, C=5, V=3
      (2L, "a c"), //                   s=(3+1)+(1+1)=6
      (3L, " ")) // no tokens -> no row
      .toDF("doc_id", "text")
    val full = graft.llm.TextStats.unigramLikelihood(docs, "doc_id", "text")
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(full(1L) == ((3L, 0L, 10.0 / (3 * 8))))
    assert(full(2L) == ((2L, 0L, 6.0 / (2 * 8))))
    assert(!full.contains(3L))
    // topV=1 keeps only 'a' (count 3); b and c become OOV with the
    // add-one 1/(C+V) floor: C=3, V=1
    val cut = graft.llm.TextStats
      .unigramLikelihood(docs, "doc_id", "text", topV = 1)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(cut(1L) == ((3L, 1L, 9.0 / (3 * 4))))
    assert(cut(2L) == ((2L, 1L, 5.0 / (2 * 4))))
  }

  test("winnowing: identical docs share all prints; docs sharing a run " +
    "of >= w+k-1 tokens share >= 1 print; selection density ~2/(w+1)") {
    val k = 3; val w = 4
    val common = "alpha beta gamma delta epsilon zeta eta" // 7 >= w+k-1=6
    val docs = Seq(
      (1L, s"one two $common three four five six seven eight nine"),
      (2L, s"$common ten eleven twelve thirteen fourteen"),
      (3L, "totally unrelated words nothing here matches anything else"))
      .toDF("doc_id", "text")
    val prints = docs
      .select(col("doc_id"), graft.functions.Text.tokens(col("text"))
        .as("ts"))
      .select(col("doc_id"),
        graft.functions.Text.winnow(col("ts"), k, w).as("p"))
      .as[(Long, Seq[Long])].collect().toMap
    assert((prints(1).toSet intersect prints(2).toSet).nonEmpty)
    assert((prints(1).toSet intersect prints(3).toSet).isEmpty)
    // determinism + self-identity
    assert(prints(1) == prints(1))
    // density: selected <= number of windows, >= 1 per w-window span
    val nGrams1 = 14 - k + 1
    assert(prints(1).size <= nGrams1 - w + 1)
    assert(prints(1).size >= nGrams1 / w)
  }

  test("sequence packing: docs straddle budget cuts, offsets track the " +
    "concat stream") {
    val docs = Seq((1L, 1000L), (2L, 2000L), (3L, 1500L), (4L, 3000L))
      .toDF("doc_id", "n")
    val got = graft.llm.Packing.pack(docs, "doc_id", "n",
      budget = 2048, shards = 1)
      .select("doc_id", "seq_id", "seq_offset")
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    // concat stream: starts at 0, 1000, 3000, 4500 with budget cuts at
    // 2048, 4096, ... — doc 2 straddles the first cut but is assigned to
    // the sequence it STARTS in
    assert(got == Seq((1L, 0L, 0L), (2L, 0L, 1000L),
      (3L, 1L, 952L), (4L, 2L, 404L)))
  }

  test("sequence packing stays exact past 2^53 cumulative tokens: " +
    "seq_id uses integral DIV (IEEE floor(/) would round the start " +
    "and disagree with the exact pmod seq_offset on the same row)") {
    val big = (1L << 53) + 1L
    val docs = Seq((1L, big), (2L, big)).toDF("doc_id", "n")
    val got = graft.llm.Packing.pack(docs, "doc_id", "n",
      budget = 3, shards = 1)
      .select("doc_id", "seq_id", "seq_offset")
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    // doc 2 starts at 2^53+1: seq_id/offset must satisfy the exact
    // identity start = seq_id * budget + seq_offset
    got.zip(Seq(0L, big)).foreach { case ((id, sid, off), start) =>
      assert(sid == start / 3 && off == start % 3,
        s"doc $id: seq_id=$sid seq_offset=$off for start=$start")
    }
  }

  test("writeBinShards: deterministic LE-int32 shard files + manifest " +
    "(rows concatenate in order, crc verifies)") {
    val dir = java.nio.file.Files.createTempDirectory("bin_shards_")
      .toString
    val rows = Seq(
      (0, 10L, Seq(1, 2, 3)),
      (0, 20L, Seq(4)),
      (1, 5L, Seq(7, 8)),
      (0, 15L, Seq(9))) // arrives out of order; ord sorts it between
    val df = rows.toDF("shard", "ord", "toks")
    val manifest = graft.llm.Packing.writeBinShards(df, "toks",
        "shard", "ord", dir)
      .as[(Int, Long, Long, Long)].collect().sortBy(_._1).toSeq
    def readInts(shard: Int): Seq[Int] = {
      val bytes = java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(f"$dir/shard-$shard%05d.bin"))
      val bb = java.nio.ByteBuffer.wrap(bytes)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      (0 until bytes.length / 4).map(_ => bb.getInt)
    }
    // shard 0 in ord order: [1,2,3] ++ [9] ++ [4]; shard 1: [7,8]
    assert(readInts(0) == Seq(1, 2, 3, 9, 4))
    assert(readInts(1) == Seq(7, 8))
    assert(manifest.map(m => (m._1, m._2, m._3)) ==
      Seq((0, 3L, 5L), (1, 1L, 2L)))
    // crc in the manifest matches the bytes on disk
    manifest.foreach { case (shard, _, _, crc) =>
      val c = new java.util.zip.CRC32()
      c.update(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(f"$dir/shard-$shard%05d.bin")))
      assert(c.getValue == crc, s"shard $shard crc")
    }
    // loader-side twin: seqLen=2 sequences, trailing partials dropped
    val back = graft.llm.Packing.readBinShards(spark, dir, seqLen = 2)
      .as[(Int, Long, Seq[Int])].collect()
      .sortBy(r => (r._1, r._2)).toSeq
    assert(back == Seq(
      (0, 0L, Seq(1, 2)), (0, 1L, Seq(3, 9)), // shard0 [1,2,3,9,4]: 4 dropped
      (1, 0L, Seq(7, 8))))
    // task-commit protocol: every temp file renamed away, and the
    // returned manifest is MATERIALIZED — re-consuming it must not
    // rewrite the shards (mtimes stable across a second action)
    val files = new java.io.File(dir).listFiles().map(_.getName).toSeq
    // (Hadoop's local ChecksumFileSystem adds .crc sidecars; what must
    // NOT remain is any _tmp-shard-* attempt file)
    assert(files.forall(f => f.matches("shard-\\d{5}\\.bin") ||
      f.matches("\\.shard-\\d{5}\\.bin\\.crc")), files.toString)
    val mt0 = new java.io.File(dir).listFiles()
      .map(f => f.getName -> f.lastModified).toMap
    Thread.sleep(1100) // FS mtime granularity
    val again = graft.llm.Packing.writeBinShards(df, "toks",
        "shard", "ord", dir) // fresh call DOES rewrite (new manifest)…
    again.count(); again.count() // …but re-counting it must not
    val mt1 = new java.io.File(dir).listFiles()
      .map(f => f.getName -> f.lastModified).toMap
    val mtAfterWrite = mt1
    Thread.sleep(1100)
    again.count()
    val mt2 = new java.io.File(dir).listFiles()
      .map(f => f.getName -> f.lastModified).toMap
    assert(mt2 == mtAfterWrite,
      "re-consuming the manifest rewrote shard files")
  }

  test("trainer export end to end: BPE tokenize → pack → .bin shards " +
    "conserve every token") {
    val dir = java.nio.file.Files.createTempDirectory("trainer_export_")
      .toString
    val docs = graft.core.Tables.table(
      spark, "/root/testdata/sf0.001", "documents")
    // token ids per doc (the real tokenizer), shard assignment from the
    // packer, then the raw export — the full pre-training data path
    val toks = docs.select(col("doc_id"),
      graft.functions.Bpe.encode(
        Text.tokens(col("text"))).cast("array<int>").as("ids"))
    val assign = graft.llm.Packing.pack(
      toks.select(col("doc_id"), size(col("ids")).as("n")),
      "doc_id", "n", budget = 512, shards = 4)
      .select("doc_id", "shard")
    val manifest = graft.llm.Packing.writeBinShards(
      toks.join(assign, "doc_id"), "ids", "shard", "doc_id", dir)
      .as[(Int, Long, Long, Long)].collect().toSeq
    assert(manifest.map(_._1).sorted == Seq(0, 1, 2, 3))
    // conservation: every doc lands once, every token reaches disk
    val wantDocs = docs.count()
    val wantToks = toks.agg(sum(size(col("ids"))))
      .as[Long].head()
    assert(manifest.map(_._2).sum == wantDocs)
    assert(manifest.map(_._3).sum == wantToks)
    val onDisk = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".bin")).map(_.length).sum
    assert(onDisk == 4L * wantToks)
  }

  test("kafka frame: encode to (key,value,partition), decode back") {
    val df = Seq((1L, "payload")).toDF("id", "body")
    val sc = Codecs.StringCodec()
    val frame = Codecs.toKafkaFrame(df, sc, col("body"), col("id"),
      Some(100))
    assert(frame.columns.toSeq == Seq("key", "value", "partition"))
    val part = frame.select("partition").as[Int].collect().head
    assert(part >= 0 && part < 100)
    val back = Codecs.fromKafkaFrame(frame, sc)
      .select("decoded").as[String].collect().head
    assert(back == "payload")
    // DEFAULT omits the partition column: Spark's Kafka sink reads it
    // as a PHYSICAL partition index, so a spread wider than the topic
    // would make the producer throw — default routing is by key hash
    val safe = Codecs.toKafkaFrame(df, sc, col("body"), col("id"))
    assert(safe.columns.toSeq == Seq("key", "value"))
  }

  test("csv/json sources load with explicit schemas") {
    import org.apache.spark.sql.types._
    val tmp = java.nio.file.Files.createTempDirectory("src").toString
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(tmp, "d.csv"), "a,b\n1,x\n2,y\n")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(tmp, "d.json"),
      "{\"a\":1,\"b\":\"x\"}\n{\"a\":2,\"b\":\"y\"}\n")
    val schema = StructType(Seq(StructField("a", LongType),
      StructField("b", StringType)))
    val c = graft.sources.Sources.csv(spark, s"$tmp/d.csv", schema)
    val j = graft.sources.Sources.jsonLines(spark, s"$tmp/d.json", schema)
    assert(c.as[(Long, String)].collect().toSet ==
      Set((1L, "x"), (2L, "y")))
    assert(j.as[(Long, String)].collect().toSet ==
      Set((1L, "x"), (2L, "y")))
  }

  test("padStart prepends default rows") {
    import graft.core.Pipe._
    import graft.operators.DataOps
    val df = Seq(1.0, 2.0).toDF("v")
    val pad = Seq(0.0).toDF("v")
    val got = df >> DataOps.padStart(2, pad)
    assert(got.count() == 4)
    assert(got.filter(col("v") === 0.0).count() == 2)
  }

  test("entry smoke: flagship query returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("duplicateSpans finds the maximal shared run with correct offsets") {
    // doc 1: pad(3) + RUN(10) + tail; doc 2: RUN(10) + tail — one span
    val run = (0 until 10).map(i => s"r$i").mkString(" ")
    val df = Seq(
      (1L, s"p0 p1 p2 $run x y z"),
      (2L, s"$run u v w")).toDF("doc_id", "text")
    val got = Dedup.duplicateSpans(df, "doc_id", "text", minRun = 8)
      .collect()
    assert(got.length == 1)
    val r = got.head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4)) == (1L, 2L, 3L, 0L, 10L))
  }

  test("duplicateSpans: runs shorter than minRun produce nothing; " +
    "two separate runs produce two spans") {
    val a = (0 until 8).map(i => s"a$i").mkString(" ")
    val b = (0 until 9).map(i => s"b$i").mkString(" ")
    val df = Seq(
      (1L, s"$a gap1 gap2 $b"),
      (2L, s"$a other1 other2 other3 $b"),
      (3L, "short shared few tokens only here")).toDF("doc_id", "text")
    val got = Dedup.duplicateSpans(df, "doc_id", "text", minRun = 8)
      .orderBy("start_a").collect()
    assert(got.length == 2)
    assert(got.map(_.getLong(4)).toSeq == Seq(8L, 9L))
    assert(got.forall(r => r.getLong(0) == 1L && r.getLong(1) == 2L))
  }

  test("duplicateSpans: boilerplate grams beyond maxGramFreq are dropped") {
    val run = (0 until 8).map(i => s"c$i").mkString(" ")
    val docs = (1L to 6L).map(i => (i, run))
    val df = docs.toDF("doc_id", "text")
    // 6 docs × 1 gram = 6 postings > cap 5 → gram dropped, no pairs
    assert(Dedup.duplicateSpans(df, "doc_id", "text", minRun = 8,
      maxGramFreq = 5).count() == 0)
    // raise the cap: all 15 pairs appear
    assert(Dedup.duplicateSpans(df, "doc_id", "text", minRun = 8,
      maxGramFreq = 100).count() == 15)
  }

  test("duplicateCoverage unions overlapping spans without double count " +
    "and reports clean docs at 0") {
    // doc 1 and doc 2 share run A (tokens 0..9 of doc 1); doc 1 and doc 3
    // share run B (tokens 5..14 of doc 1) — doc 1's union covers 0..14
    val runA = (0 until 10).map(i => s"x$i").mkString(" ")  // x0..x9
    val half = (5 until 10).map(i => s"x$i").mkString(" ")  // x5..x9
    val runB = s"$half y0 y1 y2 y3 y4"                      // x5..x9 y0..y4
    val df = Seq(
      (1L, s"$runA y0 y1 y2 y3 y4 tail1 tail2"),  // 17 tokens
      (2L, s"$runA z1 z2"),
      (3L, s"$runB w1 w2"),
      (4L, "clean doc with no shared runs at all")).toDF("doc_id", "text")
    val got = Dedup.duplicateCoverage(df, "doc_id", "text", minRun = 8)
      .orderBy("id").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // doc 1: spans [0,10) and [5,15) union to [0,15) → 15 of 17
    assert(got(1L) == (17L, 15L))
    assert(got(2L)._2 == 10L)
    assert(got(3L)._2 == 10L)
    assert(got(4L) == (8L, 0L))
  }

  test("contaminationBloom is a superset of exact contamination, " +
    "equal at tiny fpp") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma other words here"),
      (3L, "completely different tokens in this doc"),
      (17L, "alpha beta gamma delta something else")).toDF("doc_id", "text")
    val corpus = docs.filter(col("doc_id") =!= 17L)
    val bench = docs.filter(col("doc_id") === 17L)
    val exact = Dedup.contamination(corpus, bench, "doc_id", "text",
      shingleSize = 3, minShared = 1)
      .as[(Long, Long)].collect().toMap
    val bloom = Dedup.contaminationBloom(corpus, bench, "doc_id", "text",
      shingleSize = 3, minShared = 1, fpp = 1e-6)
      .as[(Long, Long)].collect().toMap
    // no false negatives: every exact hit appears with >= the exact count
    exact.foreach { case (id, n) => assert(bloom.getOrElse(id, 0L) >= n) }
    // tiny fpp on a tiny corpus: equality
    assert(bloom == exact)
    assert(exact.contains(1L) && exact.contains(2L) && !exact.contains(3L))
  }

  test("asciiOracleGuard: transparent on ASCII, loud on non-ASCII — " +
    "the md5-prefix/char-slice oracle contract is ENFORCED at the gate " +
    "queries (r13 verdict task 6), not assumed from the corpus pin") {
    val ok = Seq((1L, "plain ascii text!"), (2L, ""))
      .toDF("doc_id", "text")
      .select(graft.functions.Text
        .asciiOracleGuard(col("text"), "q_t").as("g"))
      .orderBy("g").collect().map(_.getString(0))
    assert(ok.toSeq == Seq("", "plain ascii text!"))
    // NULL passes through (r14 ADVICE): length(NULL)===octet_length(NULL)
    // is NULL, so without the isNull arm the guard would raise on a NULL
    // row though md5(NULL)=NULL in both engines — oracle-safe
    val nulls = Seq((1L, Option("ascii")), (2L, Option.empty[String]))
      .toDF("doc_id", "text")
      .select(graft.functions.Text
        .asciiOracleGuard(col("text"), "q_t").as("g"))
      .collect().map(r => Option(r.getString(0)))
    assert(nulls.toSet == Set(Some("ascii"), None))
    val bad = Seq((1L, "ascii"), (2L, "héllo café"))
      .toDF("doc_id", "text")
      .select(graft.functions.Text
        .asciiOracleGuard(col("text"), "q_guarded").as("g"))
    val e = intercept[Throwable] { bad.collect() }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(m =>
      m.contains("q_guarded") && m.contains("non-ASCII")),
      s"guard must name the query and the contract: ${messages(e)}")
  }

  test("corpus is ASCII — the contract the OracleXxh char-based byte " +
    "reader, the tokenizing (lower-crossing) oracle family, and the " +
    "frame-slicing oracles depend on") {
    for (sf <- Seq("sf0.001", "sf0.01")) {
      // text for the hash/slice family; lang + source because they are
      // concatenated into text paths (q_normalize, q_c4_clean) and
      // upper()'d in synthUrl — a non-ASCII value there would cross
      // DuckDB's per-codepoint casing just like document text
      val bad = graft.core.Tables.table(spark, s"/root/testdata/$sf",
        "documents")
        .filter(concat_ws("", col("text"), col("lang"),
          col("source")).rlike("[^\\x00-\\x7F]")).count()
      assert(bad == 0L, s"$sf has $bad non-ASCII documents — the xxhash " +
        "and casing oracle families (char==byte, per-codepoint lower) " +
        "would silently diverge")
    }
  }

  test("gopherRules word-shape fractions and keep decision") {
    val longDoc = (("the quick brown fox of and that have with " * 8)
      + "tail").trim // 73 tokens, all alpha, plenty of stop hits
    val df = Seq(
      (1L, longDoc),
      (2L, "### ... ### ... 123 456"), // symbols+numerics, no alpha
      (3L, "too short to keep")).toDF("doc_id", "text")
    val got = graft.llm.TextStats.gopherRules(df, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(got(0).getAs[Boolean]("gopher_keep"))
    val r2 = got(1)
    assert(r2.getAs[Double]("frac_alpha_words") == 0.0)
    assert(r2.getAs[Double]("frac_symbol_words") == 4.0 / 6.0)
    assert(r2.getAs[Double]("frac_numeric_words") == 2.0 / 6.0)
    assert(!r2.getAs[Boolean]("gopher_keep"))
    assert(!got(2).getAs[Boolean]("gopher_keep")) // n_tokens < 50
  }

  test("tfidfTop ranks distinctive terms first, ties to term asc") {
    val df = Seq(
      (1L, "apple apple apple common"),
      (2L, "banana banana common common"),
      (3L, "cherry common zz zz")).toDF("doc_id", "text")
    val got = graft.llm.TextStats.tfidfTop(df, "doc_id", "text", topN = 2)
      .orderBy("doc_id", "rank").collect()
    // doc 1: apple tf=3 df=1 → 9.0 beats common tf=1 df=3 → 1.0
    assert(got(0).getString(1) == "apple" &&
      got(0).getDouble(4) == 9.0 && got(0).getInt(5) == 1)
    // doc 3: cherry (3.0) and zz tf=2 df=1 → 6.0: zz first, cherry second
    val d3 = got.filter(_.getLong(0) == 3L)
    assert(d3.map(_.getString(1)).toSeq == Seq("zz", "cherry"))
  }

  test("dedupAgainst drops case/whitespace variants of reference " +
    "content, keeps novel docs") {
    val cand = Seq((1L, "The QUICK fox"), (2L, "other text"),
      (3L, "hello  world")).toDF("doc_id", "text")
    val ref = Seq("the quick   fox", "hello world").toDF("rtext")
    val got = Dedup.dedupAgainst(cand, ref, "doc_id", "text", "rtext")
      .select("doc_id").as[Long].collect().toSet
    assert(got == Set(2L))
  }

  test("dropNearDuplicatesAgainst: cross-side near-dups eliminate the " +
    "candidate; in-corpus near-dup pairs survive") {
    val cand = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),   // = ref doc 9
      (2L, "one two three four five six seven"),     // novel
      (3L, "one two three four five six seven")      // near-dup of 2 (in-corpus!)
    ).toDF("doc_id", "text")
    val ref = Seq((9L, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    val got = Dedup.dropNearDuplicatesAgainst(cand, ref,
        "doc_id", "text", "doc_id", "text", threshold = 0.4)
      .select("doc_id").as[Long].collect().toSet
    assert(got == Set(2L, 3L)) // 1 drops; the 2-3 pair is NOT cross-side
  }

  test("paragraphDedup keeps first corpus-wide occurrence, reassembles " +
    "in order, drops fully-duplicated docs") {
    val docs = Seq(
      (0L, "alpha\n\nshared\n\nbeta"),
      (1L, "shared\n\ngamma"),      // 'shared' already seen in doc 0
      (2L, "shared"),               // loses its only paragraph -> dropped
      (3L, "delta\n\ndelta\n\neps") // intra-doc dup: second 'delta' goes
    ).toDF("doc_id", "text")
    val got = Dedup.paragraphDedup(docs, "doc_id", "text")
      .orderBy("doc_id")
      .as[(Long, Long, String)].collect()
    assert(got.toSeq == Seq(
      (0L, 3L, "alpha\n\nshared\n\nbeta"),
      (1L, 1L, "gamma"),
      (3L, 2L, "delta\n\neps")))
  }

  test("minhashNovel treats shingle-less docs as trivially novel — " +
    "unrelated short docs must NOT suppress each other via the " +
    "sentinel signature") {
    val long1 = (1 to 30).map(i => s"w$i").mkString(" ")
    val long2 = (1 to 28).map(i => s"w$i").mkString(" ") + " q r"
    val docs = Seq(
      (1L, long1), (2L, long2), // near-dups: 2 suppressed
      (3L, "hello world"), (4L, "buy now"), (5L, "")) // all < 3 tokens
      .toDF("doc_id", "text")
    val got = Dedup.minhashNovel(docs, "doc_id", "text")
      .as[Long].collect().toSet
    assert(got == Set(1L, 3L, 4L, 5L), got)
  }

  test("minhashNovelVerified matches minhashPairs+components " +
    "first-occurrence (the gold semantics) and never suppresses more " +
    "than band collision alone") {
    val tA = (1 to 30).map(i => s"al$i").mkString(" ")
    val tC = (1 to 30).map(i => s"ga$i").mkString(" ")
    val tC2 = (1 to 28).map(i => s"ga$i").mkString(" ") + " x y"
    val tD = (1 to 30).map(i => s"de$i").mkString(" ")
    val tE = (1 to 30).map(i => s"ep$i").mkString(" ")
    val docs = Seq(
      (1L, tA), (2L, tA), (3L, tA), // identical triplet -> keep 1
      (10L, tC), (11L, tC2),        // near-dup pair -> keep 10
      (20L, tD), (21L, tE),         // unrelated
      (30L, "tiny one"), (31L, "tiny two")) // shingle-less
      .toDF("doc_id", "text")
    val verified = Dedup.minhashNovelVerified(docs, "doc_id", "text",
      threshold = 0.4).as[Long].collect().toSet
    val gold = Dedup.dropNearDuplicates(docs, "doc_id",
      Dedup.minhashPairs(docs, "doc_id", "text", threshold = 0.4,
        shortDocs = "novel"))
      .select("doc_id").as[Long].collect().toSet
    assert(verified == gold, s"verified=$verified gold=$gold")
    assert(verified == Set(1L, 10L, 20L, 21L, 30L, 31L), verified)
    val unverified = Dedup.minhashNovel(docs, "doc_id", "text")
      .as[Long].collect().toSet
    assert(unverified.subsetOf(verified)) // verify only RE-admits
  }

  test("shortDocs policy knob: novel keeps every shingle-less doc, " +
    "pair keeps the minimum only, drop removes them; sentinel pairs " +
    "appear only under 'pair'") {
    val long1 = (1 to 30).map(i => s"v$i").mkString(" ")
    val docs = Seq((1L, long1),
      (5L, "tiny one"), (6L, "tiny two"), (7L, "x"))
      .toDF("doc_id", "text")
    def novel(p: String) = Dedup.minhashNovel(docs, "doc_id", "text",
      shortDocs = p).as[Long].collect().toSet
    assert(novel("novel") == Set(1L, 5L, 6L, 7L))
    assert(novel("pair") == Set(1L, 5L))
    assert(novel("drop") == Set(1L))
    def pairs(p: String) = Dedup.minhashPairs(docs, "doc_id", "text",
        shortDocs = p)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs("pair") == Set((5L, 6L), (5L, 7L), (6L, 7L)))
    assert(pairs("novel") == Set.empty && pairs("drop") == Set.empty)
    intercept[IllegalArgumentException] {
      Dedup.minhashNovel(docs, "doc_id", "text", shortDocs = "bogus")
    }
  }

  test("embeddingDedupAgainst round-trips NEGATIVE ids (pmod parity + " +
    "floor-division unpack, the dropNearDuplicatesAgainst contract)") {
    val a = Array(1.0f, 0.0f, 0.0f, 0.0f)
    val cand = Seq((-7L, a), (3L, Array(0.0f, 1.0f, 0.0f, 0.0f)))
      .toDF("id", "v")
    val ref = Seq((-5L, a)).toDF("id", "v")
    val got = Dedup.embeddingDedupAgainst(cand, ref, "id", "v", "id", "v",
        threshold = 0.9, nBits = 2, seeds = Seq(1, 2, 3, 4, 5, 6))
      .select("id").as[Long].collect().toSet
    assert(got == Set(3L), got) // -7 matches ref -5 and must drop
  }

  test("embeddingDedupAgainst drops only candidates near a REFERENCE " +
    "vector; candidate-candidate near-dups survive (cross-side only)") {
    val a = Array(1.0f, 0.0f, 0.0f, 0.0f)
    val c = Array(0.0f, 0.0f, 1.0f, 0.0f)
    val cand = Seq((1L, a), (2L, c), (3L, c)).toDF("id", "v")
    val ref = Seq((10L, a), (11L, Array(0.0f, 1.0f, 0.0f, 0.0f)))
      .toDF("id", "v")
    // identical vectors share every band signature — recall is certain
    val got = Dedup.embeddingDedupAgainst(cand, ref, "id", "v", "id", "v",
        threshold = 0.9, nBits = 2, seeds = Seq(1, 2, 3, 4, 5, 6))
      .select("id").as[Long].collect().toSet
    assert(got == Set(2L, 3L), got) // 1 hits ref; the 2-3 pair is cand-side
  }

  test("trimDuplicateParagraphs drops only paragraphs fully inside a " +
    "duplicated span on the higher-id side; the lower id keeps its copy") {
    val shared = (1 to 12).map(i => s"dup$i").mkString(" ") // 12 tokens
    val docs = Seq(
      (1L, s"alpha beta\n\n$shared\n\ngamma delta"),
      // doc 2 repeats the shared block as its middle paragraph: it is
      // fully contained in the (1,2) duplicate span -> trimmed in 2 only
      (2L, s"epsilon zeta\n\n$shared\n\neta theta"),
      // doc 3 has the shared block PLUS extra words in one paragraph:
      // the paragraph is longer than the span -> NOT fully contained,
      // survives (trim is span-containment, not overlap)
      (3L, s"iota kappa\n\n$shared extra words here\n\nlambda mu"))
      .toDF("doc_id", "text")
    val got = Dedup.trimDuplicateParagraphs(docs, "doc_id", "text",
        minRun = 8)
      .orderBy("doc_id").as[(Long, Long, String)].collect()
    assert(got.toSeq == Seq(
      (1L, 3L, s"alpha beta\n\n$shared\n\ngamma delta"),
      (2L, 2L, "epsilon zeta\n\neta theta"),
      (3L, 3L, s"iota kappa\n\n$shared extra words here\n\nlambda mu")))
  }

  test("trimDuplicateParagraphs trims INTRA-document repeats too: the " +
    "first occurrence keeps, the later copy in the same doc goes") {
    val block = (1 to 10).map(i => s"w$i").mkString(" ")
    val docs = Seq((5L, s"$block\n\nmiddle bit\n\n$block"))
      .toDF("doc_id", "text")
    val got = Dedup.trimDuplicateParagraphs(docs, "doc_id", "text",
        minRun = 8)
      .as[(Long, Long, String)].collect()
    assert(got.toSeq == Seq((5L, 2L, s"$block\n\nmiddle bit")))
  }

  test("trimDuplicateParagraphs rejects a non-whitespace separator " +
    "(token offsets would misalign)") {
    val docs = Seq((1L, "a|b")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      Dedup.trimDuplicateParagraphs(docs, "doc_id", "text", sep = "|")
    }
  }

  test("paragraphDedup FAILS LOUDLY when the packed-order-key contract " +
    "is violated (negative id / id >= 2^43) instead of mis-ranking") {
    for (badId <- Seq(-1L, 1L << 43)) {
      val docs = Seq((badId, "a\n\nb"), (1L, "c")).toDF("doc_id", "text")
      val ex = intercept[Exception] {
        Dedup.paragraphDedup(docs, "doc_id", "text").collect()
      }
      def all(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ all(t.getCause)
      assert(all(ex).exists(_.contains("paragraphDedup")),
        s"id=$badId: ${ex.getMessage}")
    }
  }

  test("paragraphDedup honors a custom separator and is layout-stable") {
    val docs = Seq((10L, "a|b|a"), (11L, "b|c")).toDF("doc_id", "text")
    for (parts <- Seq(1, 4)) {
      val got = Dedup.paragraphDedup(docs.repartition(parts),
          "doc_id", "text", sep = "|")
        .orderBy("doc_id").as[(Long, Long, String)].collect()
      assert(got.toSeq == Seq((10L, 2L, "a|b"), (11L, 1L, "c")),
        s"parts=$parts")
    }
  }

  test("filterParagraphs keeps order, drops failing paragraphs and " +
    "fully-filtered docs") {
    val docs = Seq(
      (1L, "keep this one\n\nx\n\nand keep this"),
      (2L, "y\n\nz")).toDF("doc_id", "text")
    val got = Dedup.filterParagraphs(docs, "doc_id", "text") { p =>
      length(p) > 2
    }.orderBy("doc_id").as[(Long, Long, String)].collect()
    assert(got.toSeq ==
      Seq((1L, 2L, "keep this one\n\nand keep this")))
  }

  test("normalizeForDedup canonicalizes case, punctuation, whitespace") {
    val got = Seq("  Hello,   WORLD!! (x=1)\t\nok ")
      .toDF("t").select(Text.normalizeForDedup(col("t"))).as[String]
      .collect().head
    assert(got == "hello world x 1 ok")
  }

  test("contaminationFraction: per-doc overlap share, threshold cut, " +
    "shingle-less docs excluded") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"), // 7/7 shared
      (2L, "the quick brown fox went home early today now"), // 2/7
      (3L, "completely different words about nothing shared here at all"),
      (4L, "too short")) // < 3 tokens: no shingles, no row
      .toDF("doc_id", "text")
    val bench = Seq(
      (100L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val got = Dedup.contaminationFraction(docs, bench, "doc_id", "text",
      shingleSize = 3, minFrac = 0.01)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(1L) == ((7L, 7L, 1.0)))
    assert(got(2L) == ((7L, 2L, 2.0 / 7.0)))
    assert(!got.contains(3L)) // frac 0 < minFrac
    assert(!got.contains(4L))
    // tighter threshold keeps only the full-overlap doc
    val strict = Dedup.contaminationFraction(docs, bench, "doc_id",
      "text", shingleSize = 3, minFrac = 0.5)
      .select("id").as[Long].collect().toSet
    assert(strict == Set(1L))
  }

  test("c4Clean: page gates (lorem ipsum, curly brace), line gates " +
    "(terminal punct, min words, javascript), min-lines floor, order") {
    val docs = Seq(
      // two good lines + every line-gate violation in between
      (1L, "this line is kept.\nno terminal punct here\nshort one.\n" +
        "please enable javascript now.\nthis other line also stays!"),
      // page poisons: dropped whole despite good lines
      (2L, "a good line here.\nsome lorem ipsum filler text."),
      (3L, "a good line here.\nhas a { brace."),
      // survives line gates but < minLines
      (4L, "only one good line survives here.\nnope")).toDF("doc_id", "text")
    val got = Dedup.c4Clean(docs, "doc_id", "text",
      minLineWords = 3, minLines = 2)
      .as[(Long, Long, String)].collect()
    assert(got.toSeq == Seq((1L, 2L,
      "this line is kept.\nthis other line also stays!")))
  }

  test("nbQualityScore: hand-computed likelihood-ratio means, OOV " +
    "tokens take the smoothing ratio") {
    val docs = Seq(
      (1L, "wiki wiki facts"),
      (2L, "spam spam spam"),
      (3L, "wiki zzz")).toDF("doc_id", "text")
    val ref = docs.filter(col("doc_id") === 1L) // positive class
    val got = graft.llm.TextStats.nbQualityScore(docs, ref, "doc_id",
      "text", "text", topV = 3)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // nPos=3 (wiki wiki facts), nNeg=8; vocab (top-3 by combined count):
    // spam(0,3), wiki(2,3), facts(1,1) — zzz is OOV; V=3
    // term(w) = (cp+1)(nNeg+V) / ((cn+1)(nPos+V)) with nNeg+V=11, nPos+V=6
    def fx(x: Double) = math.floor(x * 1e12) / 1e12
    val tWiki = fx(3.0 * 11 / (4 * 6))
    val tFacts = fx(2.0 * 11 / (2 * 6))
    val tSpam = fx(1.0 * 11 / (4 * 6))
    val tOov = fx(1.0 * 11 / (1 * 6))
    assert(got(1L)._1 == 3L && got(1L)._2 == 0L)
    assert(math.abs(got(1L)._3 - (2 * tWiki + tFacts) / 3) < 1e-12)
    assert(math.abs(got(2L)._3 - tSpam) < 1e-12)
    assert(got(3L)._1 == 2L && got(3L)._2 == 1L)
    assert(math.abs(got(3L)._3 - (tWiki + tOov) / 2) < 1e-12)
    // the positive-exemplar doc outscores the spam doc
    assert(got(1L)._3 > got(2L)._3)
  }

  test("NbGateOp (frozen-classifier gate) scores bit-identically to " +
    "batch nbQualityScore when the background is the batch input; " +
    "token-less docs keep the 0/0 contract; min_score gates") {
    val docs = Seq(
      (1L, "wiki wiki facts"),
      (2L, "spam spam spam"),
      (3L, "wiki zzz"),
      (4L, "")).toDF("doc_id", "text")
    val ref = docs.filter(col("doc_id") === 1L)
    val refTmp = java.nio.file.Files.createTempDirectory("nbref").toString
    val bgTmp = java.nio.file.Files.createTempDirectory("nbbg").toString
    ref.write.mode("overwrite").parquet(refTmp)
    docs.write.mode("overwrite").parquet(bgTmp)
    val out = graft.streaming.ops.NbGateOp(
      Map("ref_path" -> refTmp, "corpus_path" -> bgTmp, "top_v" -> 3),
      Seq(docs)).head
    val batch = graft.llm.TextStats.nbQualityScore(docs, ref, "doc_id",
      "text", "text", topV = 3)
      .select(col("doc_id"), col("n_tokens"), col("n_oov"),
        col("score").as("nb_score"))
    val matched = out.filter(col("n_tokens") > 0)
      .select("doc_id", "n_tokens", "n_oov", "nb_score")
    assert(matched.except(batch).isEmpty && batch.except(matched).isEmpty)
    // doc 4: no tokens — kept at 0/0, not dropped
    val z = out.filter(col("doc_id") === 4)
      .select("n_tokens", "n_oov", "nb_score")
      .as[(Long, Long, Double)].collect().head
    assert(z == ((0L, 0L, 0.0)))
    // gate: spam scores < 1 < wiki-like; min_score=1.0 keeps docs 1, 3
    val gated = graft.streaming.ops.NbGateOp(
      Map("ref_path" -> refTmp, "corpus_path" -> bgTmp, "top_v" -> 3,
        "min_score" -> "1.0"), Seq(docs)).head
    assert(gated.select("doc_id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 3L))
  }

  test("NbGateOp scores an unbounded stream statelessly (classifier " +
    "rides the plan — no state store)") {
    implicit val sqlCtx = spark.sqlContext
    val refTmp = java.nio.file.Files.createTempDirectory("nbref_s").toString
    val bgTmp = java.nio.file.Files.createTempDirectory("nbbg_s").toString
    Seq((1L, "wiki facts")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(refTmp)
    Seq((1L, "wiki facts"), (2L, "spam spam")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(bgTmp)
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val src = in.toDF().toDF("doc_id", "text")
    val out = graft.streaming.ops.NbGateOp(
      Map("ref_path" -> refTmp, "corpus_path" -> bgTmp, "top_v" -> 10),
      Seq(src)).head
    val q = out.writeStream.format("memory").queryName("nb_stream")
      .outputMode("append").start()
    try {
      in.addData((10L, "wiki facts"), (11L, "spam zzz"))
      q.processAllAvailable()
      val got = spark.table("nb_stream")
        .select("doc_id", "n_tokens", "nb_score")
        .as[(Long, Long, Double)].collect().sortBy(_._1).toSeq
      assert(got.map(_._1) == Seq(10L, 11L))
      // "wiki facts" is pure positive evidence; "spam zzz" pure negative
      assert(got(0)._2 == 2L && got(0)._3 > 1.0)
      assert(got(1)._2 == 2L && got(1)._3 < 1.0)
    } finally q.stop()
  }

  test("ContaminationGateOp: per-row Bloom hit counts match batch " +
    "contaminationBloom; drop/annotate, min_frac mode, shingle-less " +
    "rows kept") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"), // 7/7
      (2L, "the quick brown fox went home early today now"), // 2/7
      (3L, "completely different words about nothing shared here at all"),
      (4L, "too short")).toDF("doc_id", "text")
    val bench = Seq(
      (100L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("cgate").toString
    bench.write.mode("overwrite").parquet(tmp)
    // annotate mode: counts equal the batch operator's per present doc
    val ann = graft.streaming.ops.ContaminationGateOp(
      Map("bench_path" -> tmp, "drop" -> "false"), Seq(docs)).head
      .select("doc_id", "n_shingles", "n_shared", "contaminated")
      .as[(Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    val batch = Dedup.contaminationBloom(docs, bench, "doc_id", "text",
      shingleSize = 3, minShared = 1)
      .as[(Long, Long)].collect().toMap
    assert(ann(1L) == ((7L, 7L, true)) && batch(1L) == 7L)
    assert(ann(2L) == ((7L, 2L, true)) && batch(2L) == 2L)
    assert(ann(3L) == ((7L, 0L, false)) && !batch.contains(3L))
    assert(ann(4L) == ((0L, 0L, false))) // nothing to match — kept
    // drop mode removes exactly the contaminated rows
    val kept = graft.streaming.ops.ContaminationGateOp(
      Map("bench_path" -> tmp), Seq(docs)).head
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(3L, 4L))
    // min_frac: only the full-overlap doc crosses 0.5
    val frac = graft.streaming.ops.ContaminationGateOp(
      Map("bench_path" -> tmp, "min_frac" -> "0.5"), Seq(docs)).head
      .select("doc_id").as[Long].collect().toSet
    assert(frac == Set(2L, 3L, 4L))
  }

  test("ContaminationGateOp gates an unbounded stream statelessly " +
    "(the Bloom filter rides the plan — no state store, no shuffle)") {
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("cgate_s").toString
    // a bench of a couple sentences, not a couple SHINGLES: a filter
    // sized for 2 items is a single 64-bit word and observably FPs
    // (caught here in development — n_shared=1 on a clean doc); eval
    // suites are thousands of shingles, where fpp means what it says
    Seq((100L, "the quick brown fox jumps over the lazy dog"),
        (101L, "pack my box with five dozen liquor jugs please today"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(tmp)
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val src = in.toDF().toDF("doc_id", "text")
    val out = graft.streaming.ops.ContaminationGateOp(
      Map("bench_path" -> tmp), Seq(src)).head
    val q = out.writeStream.format("memory").queryName("cgate_stream")
      .outputMode("append").start()
    try {
      in.addData(
        (10L, "the quick brown fox went home early today now"), // 2 hits
        (11L, "totally unrelated clean content here"))
      q.processAllAvailable()
      val got = spark.table("cgate_stream")
        .select("doc_id").as[Long].collect().toSeq
      assert(got == Seq(11L))
    } finally q.stop()
  }

  test("EmbedGateOp keeps exactly the rows batch embeddingDedupAgainst " +
    "keeps (same band keys, same exact-cosine verify) and refuses a " +
    "corpus-sized reference") {
    val emb = graft.core.Tables
      .table(spark, "/root/testdata/sf0.001", "embeddings")
      .select("vec_id", "embedding")
    val ref = emb.filter(col("vec_id") < 25)
    val tmp = java.nio.file.Files.createTempDirectory("egate").toString
    ref.write.mode("overwrite").parquet(tmp)
    val gateKept = graft.streaming.ops.EmbedGateOp(
      Map("ref_path" -> tmp, "threshold" -> "0.8"), Seq(emb)).head
      .select("vec_id").as[Long].collect().toSet
    val batchKept = Dedup.embeddingDedupAgainst(emb, ref, "vec_id",
      "embedding", "vec_id", "embedding", threshold = 0.8)
      .select("vec_id").as[Long].collect().toSet
    assert(gateKept == batchKept,
      s"gate=${gateKept.size} batch=${batchKept.size} " +
        s"onlyGate=${(gateKept -- batchKept).take(5)} " +
        s"onlyBatch=${(batchKept -- gateKept).take(5)}")
    // the ref vectors themselves are all suppressed (self cosine 1.0)
    assert((0L until 25L).forall(i => !gateKept.contains(i)))
    // bounded wire-time collect: a reference past max_ref is refused
    val e = intercept[IllegalArgumentException] {
      graft.streaming.ops.EmbedGateOp(
        Map("ref_path" -> tmp, "max_ref" -> "10"), Seq(emb))
    }
    assert(e.getMessage.contains("max_ref"))
  }

  test("EmbedGateOp gates an unbounded stream statelessly (the bucket " +
    "index rides the plan — no state store, no join)") {
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("egate_s").toString
    Seq((100L, Seq(1.0f, 0.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding").write.mode("overwrite").parquet(tmp)
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Seq[Float])]
    val src = in.toDF().toDF("vec_id", "embedding")
    val out = graft.streaming.ops.EmbedGateOp(
      Map("ref_path" -> tmp, "threshold" -> "0.9"), Seq(src)).head
    val q = out.writeStream.format("memory").queryName("egate_stream")
      .outputMode("append").start()
    try {
      in.addData(
        (10L, Seq(0.99f, 0.01f, 0.0f, 0.0f)), // near the ref vector
        (11L, Seq(0.0f, 0.0f, 1.0f, 0.0f))) // orthogonal
      q.processAllAvailable()
      val got = spark.table("egate_stream")
        .select("vec_id").as[Long].collect().toSeq
      assert(got == Seq(11L))
    } finally q.stop()
  }

  test("corpusCard: rollup cells, exact distinct-content counts and " +
    "duplicate fraction, hand-computed") {
    val docs = Seq(
      ("en", "a", "shared words here"),
      ("en", "a", "Shared   WORDS here"), // same normalized content
      ("en", "b", "unique en b content"),
      ("fr", "a", "contenu unique fr")).toDF("lang", "source", "text")
    val got = graft.llm.TextStats.corpusCard(docs, "text",
      Seq("lang", "source"))
      .collect().map(r => (Option(r.getString(0)), Option(r.getString(1)))
        -> ((r.getLong(2), r.getLong(5), r.getDouble(7)))).toMap
    // leaf (en, a): 2 docs, 1 distinct, dup_frac 0.5
    assert(got((Some("en"), Some("a"))) == ((2L, 1L, 0.5)))
    // subtotal (en, null): 3 docs, 2 distinct
    assert(got((Some("en"), None)) == ((3L, 2L, 1.0 / 3.0)))
    // grand total: 4 docs, 3 distinct
    assert(got((None, None)) == ((4L, 3L, 0.25)))
    assert(got.size == 6) // 3 leaves + 2 lang subtotals + grand total
  }

  test("qualityScore floors empty and whitespace-only docs at 0.0 — " +
    "least() SKIPS the NULL stopword ratio and sorts the NaN punct " +
    "ratio greatest, which previously scored '   ' at 0.6") {
    val got = Seq((1L, ""), (2L, "   "), (3L,
      "the quick brown fox jumps over the lazy dog and that have " +
        "with more words here")).toDF("id", "text")
      .select(col("id"),
        graft.functions.Text.qualityScore(col("text")).as("q"))
      .orderBy("id").as[(Long, Double)].collect()
    assert(got(0)._2 == 0.0 && got(1)._2 == 0.0,
      s"blank docs scored ${got(0)._2}/${got(1)._2}")
    assert(got(2)._2 > 0.5, s"real doc scored ${got(2)._2}")
  }

  test("shingle size must be >= 1: n=0 would emit one empty-string " +
    "shingle per position, making every doc MinHash-match every other") {
    val ex = intercept[IllegalArgumentException](
      graft.functions.Text.shinglesFromTokens(col("x"), 0))
    assert(ex.getMessage.contains("shingle size"), ex.getMessage)
  }
}
