package graft

import org.apache.spark.sql.functions._

import graft.functions.Text
import graft.llm.Dedup

/** Pins the native [[graft.functions.BandKeys]] kernel to the HOF
  * formulation it replaced (`xxhash64(b, slice(sig, b*r+1, r))` per
  * band, empty array below numHashes elements) — band keys are STATE:
  * they live in exported band-winner indexes, streaming NearDupOp
  * checkpoints, and the DuckDB oracle's XXH64 replay, so a kernel that
  * drifted by one bit would silently unband every existing index. */
class BandKeysSpec extends SparkSpec {
  import spark.implicits._

  private def corpus = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again"),
    (2L, "the quick brown fox jumps over the lazy dog again and again"),
    (3L, "a completely different document about spark physical plans"),
    (4L, "one two"), // shingle-less → empty hs → short signature
    (5L, ""),
    (6L, "ünïcode tökens ärë fine ünïcode tökens ärë fine okay")
  ).toDF("id", "text")

  test("native band keys == HOF executable spec over a real corpus, " +
    "several (numHashes, bands) shapes") {
    val hs = corpus
      .select(col("id"), Text.tokens(col("text")).as("ts"))
      .select(col("id"), Dedup.shingleHashes(col("ts"), 3).as("hs"))
    for ((n, b) <- Seq((128, 32), (128, 16), (64, 64), (8, 2))) {
      val both = hs.select(col("id"),
        Dedup.minhashSigFromHashes(col("hs"), n).as("sig"))
        .select(col("id"),
          Dedup.bandKeysFromSig(col("sig"), n, b).as("native"),
          Dedup.bandKeysFromSigHof(col("sig"), n, b).as("hof"))
      val bad = both.filter(not(col("native") <=> col("hof"))).count()
      assert(bad == 0L,
        s"($n,$b): ${both.collect().mkString("\n")}")
    }
  }

  test("signatures shorter than numHashes yield an EMPTY key array " +
    "(the sentinel/short-doc path never produces content bands)") {
    val short = Seq((1L, Array(1L, 2L, 3L))).toDF("id", "sig")
    val got = short
      .select(Dedup.bandKeysFromSig(col("sig"), 8, 2).as("ks"))
      .select(size(col("ks"))).as[Int].head()
    assert(got == 0)
  }

  test("SigAgreement kernel == size(filter(zip_with(a, b, =), id)) on " +
    "full, sentinel, mismatched-length and null signatures") {
    val hs = corpus
      .select(col("id"), Text.tokens(col("text")).as("ts"))
      .select(col("id"), Dedup.shingleHashes(col("ts"), 3).as("hs"))
      .select(col("id"), Dedup.minhashSigFromHashes(col("hs"), 32)
        .as("sig"))
    val pairs = hs.select(col("id").as("ia"), col("sig").as("sa"))
      .crossJoin(hs.select(col("id").as("ib"), col("sig").as("sb")))
    def hof(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      size(filter(zip_with(a, b, (x, y) => x === y), v => v))
    val bad = pairs.filter(not(
      graft.functions.SigAgreement(col("sa"), col("sb")) <=>
        hof(col("sa"), col("sb")))).count()
    assert(bad == 0L)
    // mismatched lengths + nulls
    val edge = Seq(
      (Array(1L, 2L, 3L), Array(1L, 9L)),
      (Array.empty[Long], Array(1L)),
      (null, Array(1L, 2L)),
      (Array(5L), null)
    ).toDF("sa", "sb")
    val badE = edge.filter(not(
      graft.functions.SigAgreement(col("sa"), col("sb")) <=>
        hof(col("sa"), col("sb")))).count()
    assert(badE == 0L)
  }

  test("MinHashSignature (hoisted XXH64 loop) == min over a plain " +
    "XXH64.hashLong(h, k) loop, codegen and interpreted: nulls, empty, " +
    "one element, numHashes 1/32/128") {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    import graft.functions.MinHashSignature
    val rnd = new scala.util.Random(11)
    val extremes = Seq(0L, -1L, Long.MinValue, Long.MaxValue)
    val arrays: Seq[Option[Seq[Option[Long]]]] =
      Seq(None, Some(Nil), Some(Seq(None)), Some(Seq(Some(42L))),
        Some(extremes.map(Some(_))), Some(Seq(None, Some(7L), None))) ++
        (1 to 60).map(_ => Some(Seq.fill(rnd.nextInt(300))(
          if (rnd.nextInt(10) == 0) None else Some(rnd.nextLong()))))
    def spec(hs: Seq[Option[Long]], n: Int): Seq[Long] =
      (0 until n).map(k => hs.flatten.foldLeft(Long.MaxValue)((m, h) =>
        math.min(m, XXH64.hashLong(h, k))))
    // repartitioned so the optimizer cannot fold the projection over
    // the local rows (that would run eval on both paths)
    val df = arrays.zipWithIndex.map { case (a, i) => (i, a) }
      .toDF("i", "hs").repartition(2)
    for (n <- Seq(1, 32, 128)) {
      val expect = arrays.map(_.map(spec(_, n)))
      onBothPaths { path =>
        val got = df.select(col("i"), MinHashSignature(col("hs"), n))
          .as[(Int, Option[Seq[Long]])].collect().sortBy(_._1).map(_._2)
        got.zip(expect).zipWithIndex.foreach { case ((g, e), i) =>
          assert(g == e, s"$path n=$n array $i: ${arrays(i)}")
        }
      }
    }
  }
}
