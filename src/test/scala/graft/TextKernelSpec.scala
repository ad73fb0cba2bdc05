package graft

import org.apache.spark.sql.functions._

import graft.functions.Text

/** Pins the native text kernels to the declarative formulations they
  * replaced — corpus-wide on the documents table and on adversarial
  * edge strings. The declarative forms are the semantic spec (they are
  * what the DuckDB oracles replay); the kernels are the execution
  * shape. */
class TextKernelSpec extends SparkSpec {
  import spark.implicits._

  private val edges: Seq[(Long, String)] = Seq(
    1L -> "plain words here",
    2L -> "  leading and trailing   ",
    3L -> "tabs\tand\nnewlines\rall six",
    4L -> "MIXED Case LOWERS",
    5L -> "café über straße 東京", // multibyte
    6L -> "", // empty
    7L -> " \t\n ", // whitespace only
    8L -> "one", // single token
    9L -> "a  b   c", // space runs
    10L -> null)

  test("Tokens kernel == filter(split(lower(trim))) corpus-wide: same " +
    "arrays, same schema") {
    val docs = graft.core.Tables.table(
      spark, "/root/testdata/sf0.001", "documents")
    val both = docs.select(col("doc_id"),
      Text.tokens(col("text")).as("k"),
      Text.tokensHof(col("text")).as("h"))
    assert(both.schema("k").dataType == both.schema("h").dataType)
    val bad = both.filter(not(col("k") <=> col("h"))).count()
    assert(bad == 0L, s"$bad documents tokenize differently")
  }

  test("Tokens kernel == HOF on edge strings (whitespace variety, " +
    "multibyte, empty, null)") {
    val df = edges.toDF("id", "text")
    val rows = df.select(
        Text.tokens(col("text")).as("k"),
        Text.tokensHof(col("text")).as("h"))
      .as[(Seq[String], Seq[String])].collect()
    rows.foreach { case (k, h) => assert(k == h, s"k=$k h=$h") }
    // null text → null array on both
    val nulls = df.filter(col("text").isNull)
      .select(Text.tokens(col("text")).isNull,
        Text.tokensHof(col("text")).isNull)
      .as[(Boolean, Boolean)].head()
    assert(nulls == ((true, true)))
  }

  test("TokenPairs kernel == transform(sequence)-over-tokens corpus-" +
    "wide: same pair stream, docs with < 2 tokens vanish on both") {
    val docs = graft.core.Tables.table(
      spark, "/root/testdata/sf0.001", "documents")
      .select("doc_id", "text")
      .unionByName(edges.toDF("doc_id", "text"))
    def hofPairs(d: org.apache.spark.sql.DataFrame) = d
      .select(col("doc_id"), Text.tokensHof(col("text")).as("__ts"))
      .filter(size(col("__ts")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(__ts) - 1), i -> struct(" +
          "element_at(__ts, i) AS w1, element_at(__ts, i + 1) AS w2))"))
        .as("p"))
      .select(col("doc_id"), col("p.w1"), col("p.w2"))
    def kernelPairs(d: org.apache.spark.sql.DataFrame) = d
      .select(col("doc_id"),
        explode(graft.functions.TokenPairs(col("text"))).as("p"))
      .select(col("doc_id"), col("p.w1"), col("p.w2"))
    val h = hofPairs(docs).groupBy("doc_id", "w1", "w2")
      .count().as[(Long, String, String, Long)].collect().toSet
    val k = kernelPairs(docs).groupBy("doc_id", "w1", "w2")
      .count().as[(Long, String, String, Long)].collect().toSet
    assert(h.nonEmpty && h == k,
      s"only-hof=${(h -- k).take(3)} only-kernel=${(k -- h).take(3)}")
  }

  /** Whitespace and case edges of the fingerprint's normalization: every
    * `\s` byte in runs, CRLF runs, NBSP (not `\s`: stays inside its
    * token), a codepoint that lowers to two (İ), final sigma, and inputs
    * that normalize to the empty string. */
  private val fpEdges: Seq[(Long, String)] = edges ++ Seq(
    11L -> "tab\tsep\t\tdouble\t",
    12L -> "vt\u000Bsep\u000B\u000B end",
    13L -> "ff\u000Csep \u000C\u000C end",
    14L -> "crlf\r\nline\r\n\r\nrun\r\n",
    15L -> "nbsp\u00A0kept a\u00A0 b \u00A0",
    16L -> "İstanbul İ İJK",
    17L -> "ΣΑΣ σας ΣΑΣ.",
    18L -> "\t\u000B\u000C\r\n ",
    19L -> "one two  three four\tfive six",
    20L -> " x")

  test("fingerprint (regexp form) == md5(array_join(tokens)) corpus-" +
    "wide and on edges") {
    def hofFp(c: org.apache.spark.sql.Column) =
      substring(md5(array_join(Text.tokensHof(c), " ")), 1, 16)
    val docs = graft.core.Tables.table(
      spark, "/root/testdata/sf0.001", "documents")
    // the native kernel (Text.fingerprint) must equal both declarative
    // forms on the codegen and on the interpreted path; the edge rows
    // are repartitioned so the optimizer cannot fold the projection
    // over the local rows (that would run eval on both paths)
    val frames = Seq("corpus" -> docs.select(col("doc_id").as("id"),
      col("text")), "edges" -> fpEdges.toDF("id", "text").repartition(2))
    onBothPaths { path =>
      for ((name, frame) <- frames) {
        val diff = frame.select(col("id"),
            Text.fingerprint(col("text")).as("k"),
            Text.fingerprintRegexp(col("text")).as("f"),
            hofFp(col("text")).as("g"))
          .filter(not(col("f") <=> col("g")) || not(col("k") <=> col("f")))
          .as[(Long, Option[String], Option[String], Option[String])]
          .collect()
        assert(diff.isEmpty, s"$path $name: ${diff.take(3).mkString}")
      }
    }
    // the edges really exercise the rule: NULL stays NULL, the
    // whitespace-only inputs hash the empty string, NBSP is content
    val fp = frames(1)._2.select(col("id"), Text.fingerprint(col("text")))
      .as[(Long, Option[String])].collect().toMap
    val empty = Some("d41d8cd98f00b204")
    assert(fp(10L).isEmpty && fp(6L) == empty && fp(7L) == empty &&
      fp(18L) == empty, fp)
    val nbsp = java.security.MessageDigest.getInstance("MD5")
      .digest("nbsp\u00A0kept a\u00A0 b \u00A0".getBytes("UTF-8"))
      .take(8).map(b => f"$b%02x").mkString
    assert(fp(15L) == Some(nbsp), fp(15L))
  }

  test("TokenCount kernel == size(tokens(text)) corpus-wide and on " +
    "edge strings (the count is whitespace-boundary-invariant under " +
    "the lowering the token kernel applies)") {
    val docs = graft.core.Tables.table(
      spark, "/root/testdata/sf0.001", "documents")
    val bad = docs.select(
      Text.nTokens(col("text")).as("k"),
      size(Text.tokens(col("text"))).as("s"))
      .filter(not(col("k") <=> col("s"))).count()
    assert(bad == 0L, s"$bad documents count differently")
    // İ (U+0130) lowercases to TWO codepoints — byte layout shifts,
    // the token boundaries must not
    val badE = (edges ++ Seq(11L -> "İstanbul İ İJK", 12L -> "Σ ΣΣ σς"))
      .toDF("id", "text")
      .select(Text.nTokens(col("text")).as("k"),
        size(Text.tokens(col("text"))).as("s"))
      .filter(not(col("k") <=> col("s"))).count()
    assert(badE == 0L)
  }

  test("TextShingleHashes / TextPosShingleHashes == the staged " +
    "tokens->ShingleHashes/PosShingleHashes kernels corpus-wide and " +
    "on edge strings (incl. non-space 1-byte gaps that defeat the " +
    "zero-copy fast path)") {
    import graft.functions.{ShingleHashes, PosShingleHashes, Tokens,
      TextShingleHashes, TextPosShingleHashes}
    val docs = graft.core.Tables.table(
      spark, "/root/testdata/sf0.001", "documents")
    for (n <- Seq(1, 3)) {
      val bad = docs.select(
        TextShingleHashes(col("text"), n).as("f"),
        ShingleHashes(Tokens(col("text")), n).as("g"),
        TextPosShingleHashes(col("text"), n).as("pf"),
        PosShingleHashes(Tokens(col("text")), n).as("pg"))
        .filter(not(col("f") <=> col("g")) ||
          not(col("pf") <=> col("pg"))).count()
      assert(bad == 0L, s"$bad documents differ at n=$n")
    }
    val hard = (edges ++ Seq(
      11L -> "a\tb\nc d", // 1-byte non-space gaps: must join as ' '
      12L -> "xy y\tz  w", 13L -> "İstanbul İ İJK a b"))
      .toDF("id", "text")
    val badE = hard.select(
      TextShingleHashes(col("text"), 2).as("f"),
      ShingleHashes(Tokens(col("text")), 2).as("g"),
      TextPosShingleHashes(col("text"), 2).as("pf"),
      PosShingleHashes(Tokens(col("text")), 2).as("pg"))
      .filter(not(col("f") <=> col("g")) ||
        not(col("pf") <=> col("pg"))).count()
    assert(badE == 0L)
  }

  test("HashedTokens kernel == transform(tokens(text), xxhash64) " +
    "corpus-wide and on edge strings") {
    def composed(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      transform(Text.tokens(c), t => xxhash64(t))
    val docs = graft.core.Tables.table(
      spark, "/root/testdata/sf0.001", "documents")
    val bad = docs.select(
      graft.functions.HashedTokens(col("text")).as("k"),
      composed(col("text")).as("h"))
      .filter(not(col("k") <=> col("h"))).count()
    assert(bad == 0L, s"$bad documents hash differently")
    val badE = (edges ++ Seq(11L -> "İstanbul İ İJK", 12L -> "Σ ΣΣ σς"))
      .toDF("id", "text")
      .select(graft.functions.HashedTokens(col("text")).as("k"),
        composed(col("text")).as("h"))
      .filter(not(col("k") <=> col("h"))).count()
    assert(badE == 0L)
  }

  test("TokenSetHits / LangId kernels == their HOF executable specs " +
    "(exact string membership, argmax ties to smallest code, " +
    "zero evidence -> und) corpus-wide and on edge strings") {
    val docs = graft.core.Tables.table(
      spark, "/root/testdata/sf0.001", "documents")
    val hard = (edges ++ Seq(
      11L -> "el la DE de THE the und und und",   // multi-lang words
      12L -> "zzz qqq xxx",                       // zero evidence
      13L -> "le le thе la"))                // Cyrillic е decoy
      .toDF("doc_id", "text").select(col("doc_id"), col("text"))
    for (frame <- Seq(docs.select("doc_id", "text"), hard)) {
      // per-language hit counts (exact membership, multiplicity kept)
      for (lang <- Text.stopwords.keys) {
        val bad = frame.select(
          Text.stopwordHits(col("text"), lang).as("k"),
          Text.stopwordHitsOf(Text.tokens(col("text")), lang).as("h"))
          .filter(not(col("k") <=> col("h"))).count()
        assert(bad == 0L, s"stopwordHits($lang): $bad rows differ")
      }
      // any-language ratio — compared on docs with tokens; on a
      // 0-token doc the HOF spec THROWS (ANSI divide-by-zero) where
      // the kernel form is NULL (pinned below)
      val badR = frame
        .filter(graft.functions.TokenCount(col("text")) > 0)
        .select(
          Text.stopwordRatio(col("text")).as("k"),
          Text.stopwordRatioOf(Text.tokens(col("text"))).as("h"))
        .filter(not(col("k") <=> col("h"))).count()
      assert(badR == 0L, s"stopwordRatio: $badR rows differ")
      val nullEmpties = frame
        .filter(graft.functions.TokenCount(col("text")) <=> 0)
        .select(Text.stopwordRatio(col("text")).as("k"))
        .filter(col("k").isNotNull).count()
      assert(nullEmpties == 0L, "0-token docs must yield NULL ratio")
      // fused language ID vs the struct-argmax spec — NULL text
      // compared separately: the spec's struct-max labels a null token
      // array with an arbitrary language, the kernel says NULL
      val badL = frame.filter(col("text").isNotNull).select(
        Text.langId(col("text")).as("k"),
        Text.langIdOf(Text.tokens(col("text"))).as("h"))
        .filter(not(col("k") <=> col("h"))).count()
      assert(badL == 0L, s"langId: $badL rows differ")
      val badN = frame.filter(col("text").isNull)
        .select(Text.langId(col("text")).as("k"))
        .filter(col("k").isNotNull).count()
      assert(badN == 0L, "NULL text must yield NULL langId")
    }
  }
}
