package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{MinHashSignature, Text, Vectors}
import graft.operators.Ops

/** Deduplication operators for large-scale training-data pipelines
  * (SURVEY.md §2.6). All variants are designed shuffle-linear: no all-pairs
  * join ever materializes — candidates come from hash buckets (exact hash,
  * MinHash bands, SimHash bands, shared rare shingles), so total work is
  * O(rows + candidate pairs), and candidate pairs are bounded by bucket
  * sizes, which banding keeps small at 100 TB (oversized buckets are
  * dropped at O(cap) memory by [[graft.functions.BoundedCollect]]).
  *
  * Id columns in the near-dup operators must be integral (they ride
  * shuffles and bounded aggregation buffers as longs) — hash string ids
  * to longs upstream, the engine-wide rule for shuffle keys.
  */
object Dedup {

  /** Exact dedup: keep one representative row (min of `idCol`) per distinct
    * value of `keys`. One hash shuffle; partial aggregation dedups map-side
    * first, so the shuffle carries at most one row per (partition, key). */
  def exact(df: DataFrame, idCol: String, keys: Seq[String]): DataFrame = {
    val others = df.columns.filterNot(c => keys.contains(c) || c == idCol)
    df.groupBy(keys.map(col): _*)
      .agg(min(struct((idCol +: others).map(col).toIndexedSeq: _*)).as("__rep"))
      .select(col(s"__rep.$idCol").as(idCol) +:
        keys.map(col) ++:
        others.map(c => col(s"__rep.$c").as(c)).toIndexedSeq: _*)
  }

  /** Content-hash exact dedup over normalized text (whitespace/case folded):
    * groups by [[Text.fingerprint]] so the shuffle key is 16 bytes, not the
    * document body — at 100 TB the shuffle moves hashes, not text. */
  def exactByContent(df: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    df.withColumn("__fp", Text.fingerprint(col(textCol)))
      .groupBy("__fp")
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_dups"))
      .drop("__fp")
  }

  /** Cross-corpus exact dedup — the incremental-ingest shape: drop from
    * `df` every document whose normalized content fingerprint appears
    * in `ref` (the already-ingested corpus / a do-not-train list).
    * A left ANTI join on the 16-byte [[Text.fingerprint]]: the shuffle
    * (or broadcast, when `ref`'s distinct fingerprint table is small —
    * AQE decides) moves hashes, never text. The fingerprint normalizes
    * case/whitespace, so surface variants of ingested content are
    * dropped too. */
  def dedupAgainst(df: DataFrame, ref: DataFrame, idCol: String,
                   textCol: String, refTextCol: String): DataFrame =
    df.withColumn("__fp", Text.fingerprint(col(textCol)))
      .join(ref.select(Text.fingerprint(col(refTextCol)).as("__fp"))
        .distinct(), Seq("__fp"), "left_anti")
      .drop("__fp")

  /** Paragraph-level exact dedup (the structural-unit relaxation of Lee
    * et al., "Deduplicating Training Data Makes Language Models Better",
    * ACL'22 — boilerplate headers/footers repeat across pages far more
    * often than whole documents do): split each document on `sep`, keep
    * only the FIRST corpus-wide occurrence of each distinct paragraph
    * (first = smallest `(id, position)`), and reassemble the survivors
    * in original order. Documents whose every paragraph appeared
    * earlier vanish from the output (their cleaned text would be
    * empty).
    *
    * Contract: `idCol` is integral, non-null, >= 0 and < 2^43, and each
    * document has < 2^20 paragraphs — the first-occurrence order rides
    * the shuffle as ONE long (`id << 20 | position`), not a struct.
    * The dedup key is the 16-hex-char md5 prefix of the RAW paragraph
    * (no token normalization — position-exact structural dedup; run
    * [[exactByContent]] for normalized whole-doc semantics), so the
    * wide shuffle moves 16-byte keys + paragraph payload once, and the
    * winner table moves keys only.
    *
    * Output: `(idCol, n_paras_kept, textCol)` — reassembled with `sep`. */
  def paragraphDedup(df: DataFrame, idCol: String, textCol: String,
                     sep: String = "\n\n"): DataFrame = {
    // the packed-key contract fails LOUDLY, not as silent wrong-winner
    // dedup: a doc with >= 2^20 paragraphs or an id outside [0, 2^43)
    // would alias another (id, position). The raise lives in a separate
    // FILTER, not inside __ord: a raise_error branch embedded in the
    // join-key column is re-evaluated by the key's isnotnull filter and
    // blocks subexpression elimination — measured 0.79s vs 0.50s at
    // sf0.1 for the embedded form (round-7 bench regression).
    val idL = col(idCol).cast("long")
    val good = idL.isNotNull && idL >= 0 &&
      idL < lit(1L << 43) && col("idx") < lit(1 << 20)
    val paras = splitParas(df, idCol, textCol, sep)
      .filter(when(good, lit(true)).otherwise(
        raise_error(concat(
          lit("paragraphDedup: (id << 20 | position) order key needs " +
            "0 <= id < 2^43 and < 2^20 paragraphs/doc; got id="),
          idL.cast("string"), lit(" idx="), col("idx").cast("string")))
          .cast("boolean")))
      .withColumn("__h", substring(md5(col("para")), 1, 16))
      .withColumn("__ord", shiftleft(idL, 20) + col("idx"))
    val winners = paras.groupBy("__h").agg(min("__ord").as("__w"))
    reassembleParas(
      paras.join(winners, "__h").where(col("__ord") === col("__w")),
      idCol, textCol, sep)
  }

  /** Paragraph-level FILTERING companion to [[paragraphDedup]]: split
    * each document on `sep`, keep only paragraphs satisfying `pred`
    * (a Column predicate over the paragraph string — quality gates,
    * boilerplate markers, length floors), reassemble survivors in
    * order. Documents losing every paragraph drop out. Map-side only
    * until the per-doc reassembly groupBy — no corpus-wide state. */
  def filterParagraphs(df: DataFrame, idCol: String, textCol: String,
                       sep: String = "\n\n")
                      (pred: Column => Column): DataFrame =
    reassembleParas(
      splitParas(df, idCol, textCol, sep).filter(pred(col("para"))),
      idCol, textCol, sep)

  /** Shared split half of the paragraph ops: one row per (doc,
    * position, paragraph). */
  private def splitParas(df: DataFrame, idCol: String, textCol: String,
                         sep: String): DataFrame =
    df.select(col(idCol),
      posexplode(split(col(textCol),
        java.util.regex.Pattern.quote(sep))).as(Seq("idx", "para")))

  /** Shared reassembly half: surviving (idx, para) rows back to one
    * `(idCol, n_paras_kept, textCol)` row per doc, original order. */
  private def reassembleParas(paras: DataFrame, idCol: String,
                              textCol: String, sep: String): DataFrame =
    paras.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_paras_kept"),
        array_join(
          transform(
            array_sort(collect_list(struct(col("idx"), col("para")))),
            x => x.getField("para")),
          sep).as(textCol))

  /** Streaming exact dedup for continuous ingest: first occurrence of each
    * content fingerprint passes, replays within the watermark are dropped.
    * State is bounded by the watermark horizon (Spark evicts seen keys
    * older than it) — the required property for an unbounded ingest
    * stream; an unbounded `dropDuplicates` would grow state forever.
    * The dedup key is the 16-byte fingerprint, never the payload. */
  def exactByContentStream(df: DataFrame, tsCol: String, textCol: String,
                           lateness: String): DataFrame =
    df.withColumn("__fp", Text.fingerprint(col(textCol)))
      .withWatermark(tsCol, lateness)
      .dropDuplicatesWithinWatermark("__fp")
      .drop("__fp")

  /** Base shingle-hash array: each distinct shingle hashed ONCE to a long.
    * Everything downstream (signatures, band keys) re-hashes these longs,
    * never the strings — string work is O(shingles) per doc total.
    * Native codegen [[graft.functions.ShingleHashes]] kernel (bit-identical
    * to the HOF formulation [[shingleHashesHof]], one compiled pass). */
  def shingleHashes(tokensCol: Column, shingleSize: Int): Column =
    graft.functions.ShingleHashes(tokensCol, shingleSize)

  /** Fused text → distinct shingle hashes — tokenize + shingle + hash
    * in one compiled pass over the lowered bytes (the
    * [[graft.functions.TextShingleHashes]] kernel, bit-parity with the
    * staged `shingleHashes(Text.tokens(text), n)` pinned in
    * TextKernelSpec). The root projection of every shingle-based
    * operator: the intermediate token array was pure allocation
    * between two kernels that only need byte offsets. */
  def textShingleHashes(textCol: Column, shingleSize: Int): Column =
    graft.functions.TextShingleHashes(textCol, shingleSize)

  /** The original HOF formulation of [[shingleHashes]] — kept as the
    * executable specification the native kernel is tested against. */
  private[graft] def shingleHashesHof(tokensCol: Column,
                                      shingleSize: Int): Column =
    transform(array_distinct(Text.shinglesFromTokens(tokensCol, shingleSize)),
      s => xxhash64(s))

  /** MinHash signature from a materialized shingle-hash array: for hash
    * function k, min over shingles of XXH64(h, seed=k) — the native
    * codegen'd [[graft.functions.MinHashSignature]] expression (a nested
    * primitive loop; the HOF formulation dispatched numHashes × |hs|
    * interpreted lambdas per row and dominated the profile). */
  def minhashSigFromHashes(hs: Column, numHashes: Int): Column =
    MinHashSignature(hs, numHashes)

  /** LSH band keys from a materialized SIGNATURE column: band b's key
    * hashes its r-value slice — the native codegen'd
    * [[graft.functions.BandKeys]] expression (one primitive loop; the
    * HOF formulation dispatched `bands` interpreted lambdas per row,
    * each slicing a copy of the signature). Short signatures yield an
    * empty array, exactly like the old `size` guard. */
  def bandKeysFromSig(sig: Column, numHashes: Int, bands: Int): Column =
    graft.functions.BandKeys(sig, numHashes, bands)

  /** The original HOF formulation of [[bandKeysFromSig]] — kept as the
    * differential-test oracle for the native kernel (bit-parity pinned
    * corpus-wide in DedupSpec). */
  private[graft] def bandKeysFromSigHof(sig: Column, numHashes: Int,
                                        bands: Int): Column = {
    val r = numHashes / bands
    when(size(sig) >= lit(numHashes),
      transform(sequence(lit(0), lit(bands - 1)),
        b => xxhash64(b, slice(sig, b * r + 1, lit(r)))))
      .otherwise(array().cast("array<bigint>"))
  }

  /** MinHash + LSH banded near-dup candidate pairs.
    *
    * shingle → `numHashes`-long signature → split into `bands` bands of
    * r = numHashes/bands rows → explode one row per band → shuffle on
    * (band_id, band_signature) → pairs within a bucket. A pair with true
    * Jaccard J collides in ≥1 band with prob 1-(1-J^r)^bands — the classic
    * S-curve; defaults (128 hashes, 32 bands, r=4) put the knee near 0.5.
    *
    * Output: (id_a, id_b, est_jaccard) with id_a < id_b, est_jaccard =
    * signature agreement fraction, filtered to ≥ `threshold`. Distinct-ed
    * so a pair colliding in many bands appears once.
    *
    * Scale: the only shuffles are the band explode (numHashes longs per doc)
    * and the bucket self-join; no document text moves after shingling.
    * Skewed buckets (boilerplate docs) are capped via `maxBucketSize` —
    * oversized buckets are dropped with the cap recorded, the standard
    * trade at corpus scale (a 10^6-doc bucket is boilerplate, not near-dups).
    *
    * Shingle-less docs (< shingleSize tokens) follow the `shortDocs`
    * policy ([[Dedup.ShortDocPolicies]], one knob across
    * minhashPairs / [[minhashNovel]] / [[minhashNovelVerified]] / the
    * streaming NearDupOp): "pair" (the default HERE — the empty-set
    * Jaccard convention: sentinel-signature docs pair with each other
    * at est_jaccard 1.0, right for pair ANALYSIS where empty ≡ empty;
    * all sentinel docs share the same `bands` buckets, so the pairing
    * rides the SAME `maxBucketSize` trade as every content bucket —
    * past the cap those buckets drop and shingle-less docs stop
    * pairing. A corpus with more than `maxBucketSize` shingle-less
    * docs should dedup them exactly instead: they are all
    * identical-empty, which is [[exactByContent]]'s job, not
    * pair analysis), or "novel"/"drop" (exclude them from banding —
    * indistinguishable for pair OUTPUT since unpaired docs aren't
    * listed; the two differ in the novelty operators, whose default is
    * "novel" because unrelated short docs must not suppress each
    * other). */
  def minhashPairs(df: DataFrame, idCol: String, textCol: String,
                   shingleSize: Int = 3, numHashes: Int = 128,
                   bands: Int = 32, threshold: Double = 0.5,
                   maxBucketSize: Int = 1000,
                   shortDocs: String = "pair"): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    requireShortDocPolicy(shortDocs)
    // Staged projections: text → tokens → shingle hashes, each in its own
    // step so lambda bodies only ever reference materialized attributes
    // (see Text.shinglesFromTokens on why), then an Exchange BEFORE the
    // 128-way min-hash fan-out: the shuffle carries ~a-dozen longs per doc
    // (not text), spreads the CPU-heavy signature work across the cluster
    // even when the input is a handful of parquet files, and is a hard
    // barrier Catalyst cannot collapse projections across.
    val p = df.sparkSession.sparkContext.defaultParallelism
    // "pair": sentinel signatures band together (empty ≡ empty);
    // "novel"/"drop": shingle-less docs never enter banding — gated on
    // the zero-alloc TokenCount BEFORE the kernel projection (a
    // size(hs) > 0 filter would push down with the kernel inlined and
    // re-evaluate it twice per row at the scan)
    val base = if (shortDocs == "pair") df
      else df.filter(
        graft.functions.TokenCount(col(textCol)) >= shingleSize)
    val hs = base
      .select(col(idCol).as("id"),
        textShingleHashes(col(textCol), shingleSize).as("hs"))
      .repartition(p, col("id"))
    // THREE consumers traverse sig (banding + both sides of the verify
    // join); all three read the one reused repartition exchange, so the
    // scan and shingling run once and only the MinHash reruns per
    // consumer (a fair A/B at sf0.1 measured it no slower than a cache;
    // the Ops.withPersisted rule)
    val sig = hs.select(col("id"),
      minhashSigFromHashes(col("hs"), numHashes).as("sig"))
    // One row per (doc, band) carrying ONLY (id, bkey) — the signature
    // array never rides the banding shuffle (at 100 TB the sig is the
    // payload; shuffling it per band would 32× the exchange).
    val banded = sig.select(col("id"),
      explode(bandKeysFromSig(col("sig"), numHashes, bands)).as("bkey"))
    // bucket members collected per band key via the BOUNDED aggregator
    // (an overflowing bucket is dropped at O(cap) memory, never
    // materialized — boilerplate band keys can hold millions of docs),
    // candidate pairs generated bucket-locally in one shuffle; the old
    // count-join-back + self-join instantiated the whole
    // tokenize→shingle→minhash subtree three more times.
    // Candidate pairs are distinct-ed FIRST (dedup across bands), verified
    // ONCE per pair: a pair colliding in k bands must not pay k signature
    // comparisons.
    val buckets = banded.groupBy("bkey")
      .agg(graft.functions.BoundedCollect.pairs(maxBucketSize)(
        col("id").cast("long"), lit(0L)).as("ms"))
      .filter(size(col("ms")) > 1)
    val cand = buckets
      .select(col("ms"), explode(col("ms")).as("a"))
      .select(col("a._1").as("id_a"), explode(col("ms")).as("b"))
      .select(col("id_a"), col("b._1").as("id_b"))
      .filter(col("id_a") < col("id_b"))
      .distinct()
    cand
      .join(sig.select(col("id").as("id_a"), col("sig").as("sig_a")), "id_a")
      .join(sig.select(col("id").as("id_b"), col("sig").as("sig_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        (graft.functions.SigAgreement(col("sig_a"), col("sig_b"))
          .cast("double") / numHashes).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
  }

  /** Band-collision FIRST-OCCURRENCE near-dup filter — the batch twin of
    * the streaming [[graft.streaming.ops.NearDupOp]] (and the semantics
    * a continuous-ingest pipeline actually runs): per band key the
    * MINIMUM id holds the band; a doc is novel iff it holds EVERY one
    * of its band keys (LSH OR-amplification: any shared band ⇒ likely
    * near-dup of an earlier doc ⇒ dropped). No signature verification
    * pass — the streaming-compatible trade (verification would need the
    * earlier doc's signature in per-band state); run [[minhashPairs]] +
    * [[dropNearDuplicates]] when the verify pass is wanted.
    *
    * Scale: strictly lighter than the pair path — per-band state is one
    * 8-byte min (map-side combinable, NO bucket caps needed: a
    * boilerplate band key shared by 10^6 docs costs one min, not 10^12
    * pairs), one bkey-keyed join back, one per-doc count. Returns the
    * novel ids as `(idCol)`.
    *
    * Skew: `bkey` is Zipf-shaped on real crawls (boilerplate bands),
    * but the `banded ⋈ firsts` join CANNOT amplify — `firsts` is keyed
    * UNIQUE (one groupBy-min row per band), so the fanout is exactly 1
    * match per banded row and the join output equals its probe-side
    * input, hot band or not. A 90%-hot-band corpus therefore costs the
    * same row count as a uniform one (ScaleSpec pins this); residual
    * reducer imbalance on the probe side is the standard AQE skew-join
    * split, which stays available precisely because the build side is
    * unique-keyed — no salting needed, and `Ops.saltedJoin` would only
    * add a replicate-the-build-side pass here. */
  def minhashNovel(df: DataFrame, idCol: String, textCol: String,
                   shingleSize: Int = 3, numHashes: Int = 128,
                   bands: Int = 32,
                   shortDocs: String = "novel"): DataFrame = {
    val st = novelStage(df, idCol, textCol, shingleSize, numHashes,
      bands, shortDocs)
    st.banded.join(st.firsts, "bkey")
      .groupBy("id")
      .agg(sum(when(col("__w") === col("id"), 1L).otherwise(0L)).as("__nw"),
        count(lit(1)).as("__nb"))
      .filter(col("__nw") === col("__nb"))
      .select(col("id").as(idCol))
      .unionByName(st.contentless)
  }

  /** Band-winner INDEX export — the warm-start handoff from a batch
    * corpus to the streaming [[graft.streaming.ops.NearDupOp]]: one row
    * per occupied band key, `(bkey, winner)` where `winner` is the
    * minimum id holding the band (exactly the per-band state the
    * streaming operator builds for itself). Write this over tonight's
    * corpus, point NearDupOp's `warm_start` at it, and the stream
    * dedupes against everything already crawled without replaying it.
    * Shingle-less docs never band (the [[ShortDocPolicies]] rule), so
    * the index covers content bands only — the streaming sentinel
    * bands of the "pair" policy start cold. Scale: the index is one
    * map-side-combined min per occupied band — strictly smaller than
    * the corpus. Oracled bit-exactly (q_band_winners).
    *
    * `withSignatures: true` additionally exports each winner's full
    * MinHash signature (`sig`, numHashes longs) — the handoff a
    * VERIFY-mode stream needs, since its per-band state holds the
    * winner's signature to score collisions against. Cost: one
    * winner-keyed join (signatures ride only the index rows, never the
    * corpus) and numHashes longs per occupied band in the artifact —
    * the same ×numHashes factor verify mode pays in state. */
  def minhashBandWinners(df: DataFrame, idCol: String, textCol: String,
                         shingleSize: Int = 3, numHashes: Int = 128,
                         bands: Int = 32,
                         withSignatures: Boolean = false): DataFrame = {
    // with signatures, the winner join reads st.sig beside the banding
    // pipeline: both read the one reused repartition exchange, so the
    // tokenize→shingle pass runs once and only the MinHash runs twice
    val st = novelStage(df, idCol, textCol, shingleSize, numHashes,
      bands, shortDocs = "novel")
    val winners = st.firsts.select(col("bkey"), col("__w").as("winner"))
    if (!withSignatures) winners
    else winners.join(st.sig.select(col("id").as("winner"),
      col("sig")), "winner")
      .select(col("bkey"), col("winner"), col("sig"))
  }

  /** Merge two band-winner indexes ([[minhashBandWinners]] exports) into
    * one: per band key the minimum-id winner survives — exactly the
    * index `minhashBandWinners` would export over the UNION of the two
    * corpora (same per-band min-id convention), WITHOUT re-shingling
    * either side. The daily index-maintenance op closing the warm-start
    * lifecycle: yesterday's index ⊕ today's increment index, one
    * band-keyed aggregate over index rows (≪ corpus rows). Signature-
    * carrying indexes merge signature-carrying (the winner's signature
    * rides the min struct). Contract: doc ids are globally unique
    * across the merged corpora (the warm-start id contract). */
  def mergeBandIndex(a: DataFrame, b: DataFrame): DataFrame = {
    require(a.columns.toSeq == b.columns.toSeq,
      s"index schemas differ: ${a.columns.toSeq} vs ${b.columns.toSeq}")
    val u = a.unionByName(b)
    if (u.columns.contains("sig"))
      u.groupBy("bkey")
        .agg(min(struct(col("winner"), col("sig"))).as("r"))
        .select(col("bkey"), col("r.winner").as("winner"),
          col("r.sig").as("sig"))
    else
      u.groupBy("bkey").agg(min(col("winner")).as("winner"))
  }

  /** Shared staging of the first-occurrence novelty family
    * ([[minhashNovel]], [[minhashNovelVerified]]): tokens → shingle
    * hashes (repartition barrier before the minhash fan-out, see
    * [[minhashPairs]]) → shortDocs split — shingle-less docs never
    * enter banding: their signature would be the all-sentinel MinHash
    * (identical for EVERY short doc), banding unrelated short docs
    * together; the policy decides their fate instead
    * ([[ShortDocPolicies]]) — → signatures → (id, bkey) band rows →
    * per-band minimum-id winners. The band rows derive from `sig`, so
    * `copy(sig = held)` re-bands a held signature frame. */
  private case class NovelStage(sig: DataFrame, contentless: DataFrame,
                                numHashes: Int, bands: Int) {
    val banded: DataFrame = sig.select(col("id"),
      explode(bandKeysFromSig(col("sig"), numHashes, bands)).as("bkey"))
    val firsts: DataFrame = banded.groupBy("bkey").agg(min("id").as("__w"))
  }

  private def novelStage(df: DataFrame, idCol: String, textCol: String,
                         shingleSize: Int, numHashes: Int, bands: Int,
                         shortDocs: String): NovelStage = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    requireShortDocPolicy(shortDocs)
    val p = df.sparkSession.sparkContext.defaultParallelism
    // split on the zero-alloc TokenCount, not size(hs): has ≥1 shingle
    // iff ≥ shingleSize tokens, and a size(hs) filter would push down
    // with the shingle kernel inlined (two extra kernel evaluations per
    // row at each branch's scan)
    val nTok = graft.functions.TokenCount(col(textCol))
    val contentless = shortDocFate(
      df.filter(nTok < shingleSize)
        .select(col(idCol).cast("long").as("id")), idCol, shortDocs)
    val sig = df.filter(nTok >= shingleSize)
      .select(col(idCol).cast("long").as("id"),
        textShingleHashes(col(textCol), shingleSize).as("hs"))
      .repartition(p, col("id"))
      .select(col("id"),
        minhashSigFromHashes(col("hs"), numHashes).as("sig"))
    NovelStage(sig, contentless, numHashes, bands)
  }

  /** The one `shortDocs` policy knob shared by [[minhashPairs]],
    * [[minhashNovel]], [[minhashNovelVerified]] and the streaming
    * NearDupOp (round-5 verdict item 6 — previously two divergent
    * documented defaults):
    *  - "pair": shingle-less docs are mutual duplicates (the empty-set
    *    Jaccard convention, est 1.0) — novelty keeps the MINIMUM id
    *    only, pairing lists them against each other;
    *  - "novel": nothing to collide on ⇒ each is trivially novel
    *    (pairing excludes them);
    *  - "drop": excluded from the output entirely.
    * Defaults preserve each operator's historical behavior ("pair" for
    * pair analysis, "novel" for first-occurrence novelty). */
  val ShortDocPolicies: Set[String] = Set("pair", "novel", "drop")

  private def requireShortDocPolicy(p: String): Unit =
    require(ShortDocPolicies(p),
      s"shortDocs must be one of ${ShortDocPolicies.mkString("/")}: got '$p'")

  /** Novelty-side fate of the shingle-less docs under a policy. Under
    * "pair" all sentinel signatures are identical, so full banding
    * would make every band's winner the global minimum id — computed
    * directly as one min. */
  private def shortDocFate(contentless: DataFrame, idCol: String,
                           policy: String): DataFrame = policy match {
    case "novel" => contentless.select(col("id").as(idCol))
    case "drop"  => contentless.select(col("id").as(idCol)).limit(0)
    case "pair"  => contentless.agg(min(col("id")).as(idCol))
      .filter(col(idCol).isNotNull)
  }

  /** [[minhashNovel]] with the OPT-IN verification pass (round-5
    * verdict item 5): band collision alone suppresses with false
    * positives (a random 4-slot signature slice match); here every
    * suppressed doc is joined back to its band WINNERS' signatures and
    * re-admitted unless some winner actually agrees on ≥ `threshold`
    * of the signature. A doc is novel iff every band it appears in is
    * either held by it or held by a winner whose estimated Jaccard
    * stays below `threshold` — on corpora whose near-dup groups are
    * band-connected to their minimum id this coincides with the gold
    * [[minhashPairs]] + [[components]] first-occurrence semantics
    * (pinned by TextDedupSpec; oracled end-to-end as
    * q_minhash_novel_verified).
    *
    * Scale: the verify join carries signatures only for DISTINCT
    * (suppressed id, winner) pairs — at most `bands` rows per doc,
    * NEVER bucket-quadratic (a boilerplate band of 10^6 docs adds 10^6
    * candidate rows, not 10^12); everything else is the minhashNovel
    * plan. The streaming twin's verify variant stores the winner
    * signature in band state (128 longs) — see NearDupOp scaladoc.
    *
    * Eager: the novel ids are computed and `localCheckpoint`ed before
    * the call returns, so the held signatures are released with it. */
  def minhashNovelVerified(df: DataFrame, idCol: String, textCol: String,
                           shingleSize: Int = 3, numHashes: Int = 128,
                           bands: Int = 32, threshold: Double = 0.5,
                           shortDocs: String = "novel"): DataFrame = {
    val staged = novelStage(df, idCol, textCol, shingleSize, numHashes,
      bands, shortDocs)
    // sig is read FOUR times (banding, both sides of the verify join, the
    // final novelty ids) and the MinHash after its exchange is the
    // family's heaviest compute: held for the one eager run that
    // detaches the result (a fair A/B at sf0.1 measured rerunning the
    // MinHash per consumer slower; the Ops.withPersisted rule)
    Ops.withPersisted(staged.sig) { held =>
      val st = staged.copy(sig = held)
      // suppression evidence, deduped BEFORE signatures ride any join
      val cand = st.banded.join(st.firsts, "bkey")
        .filter(col("__w") =!= col("id"))
        .select(col("id"), col("__w").as("wid"))
        .distinct()
      val confirmed = cand
        .join(st.sig.select(col("id"), col("sig")), "id")
        .join(st.sig.select(col("id").as("wid"), col("sig").as("wsig")),
          "wid")
        .filter(graft.functions.SigAgreement(col("sig"), col("wsig"))
          .cast("double") / numHashes >= threshold)
        .select(col("id"))
        .distinct()
      st.sig.select(col("id"))
        .join(confirmed, Seq("id"), "left_anti")
        .select(col("id").as(idCol))
        .unionByName(st.contentless)
        .localCheckpoint()
    }
  }

  /** NEAR-dup cross-corpus dedup — [[dedupAgainst]]'s MinHash sibling:
    * drop from `df` every document whose estimated Jaccard against ANY
    * reference document reaches `threshold` (tonight's crawl vs the
    * already-ingested corpus; re-crawls and lightly-edited variants
    * both match). One banding pass over the union: each side's ids are
    * packed onto disjoint parities (`2*id` candidates, `2*id+1`
    * reference — ids must be integral with |id| < 2^62), the standard
    * [[minhashPairs]] machinery generates pairs, and only CROSS-parity
    * pairs count — candidate-candidate near-dups survive (in-corpus
    * dedup is [[dropNearDuplicates]]' job), reference-reference pairs
    * are free to ignore. Anti-join on the losing candidate ids ends it.
    * Same scale shape as minhashPairs: band keys and packed ids ride
    * the shuffles, text never does. */
  def dropNearDuplicatesAgainst(df: DataFrame, ref: DataFrame,
                                idCol: String, textCol: String,
                                refIdCol: String, refTextCol: String,
                                shingleSize: Int = 3, numHashes: Int = 128,
                                bands: Int = 32, threshold: Double = 0.5,
                                maxBucketSize: Int = 1000): DataFrame = {
    val cand = df.select((col(idCol).cast("long") * 2).as("__pid"),
      col(textCol).as("__text"))
    val refT = ref.select(
      (col(refIdCol).cast("long") * 2 + 1).as("__pid"),
      col(refTextCol).as("__text"))
    val pairs = minhashPairs(cand.unionByName(refT), "__pid", "__text",
      shingleSize, numHashes, bands, threshold, maxBucketSize)
    val losers = pairs
      // pmod, not signed %: a negative id's packed parity would read
      // as -1 under `%` and miscount a same-side pair as cross-side.
      // shiftright is floor division, so negative ids round-trip the
      // packing too — the full signed range |id| < 2^62 works
      .filter(pmod(col("id_a"), lit(2)) =!= pmod(col("id_b"), lit(2)))
      // shiftright, NOT `/ 2`: Spark's `/` is IEEE double division,
      // which silently rounds packed ids above 2^53
      .select(shiftright(when(pmod(col("id_a"), lit(2)) === 0,
        col("id_a")).otherwise(col("id_b")), 1).as("__loser"))
      .distinct()
    df.join(losers, col(idCol).cast("long") === col("__loser"),
      "left_anti")
  }

  /** 64-bit SimHash of the token stream: bit b of the result is 1 iff the
    * sum over tokens of ±1 (sign of bit b of xxhash64(token)) is positive.
    * Weighted variant would weight by tf; unweighted matches the classic
    * Charikar construction for near-dup detection. */
  def simhash64(textCol: Column): Column =
    simhashFromHashes(graft.functions.HashedTokens(textCol))

  /** SimHash from a token-hash array — the native codegen'd
    * [[graft.functions.SimHash64]] expression (one primitive pass; the
    * HOF formulation ran 64 interpreted aggregate() folds per row). */
  def simhashFromHashes(hashes: Column): Column =
    graft.functions.SimHash64(hashes)

  /** SimHash near-dup pairs by banding the 64-bit fingerprint into
    * `bands` contiguous chunks: two docs within Hamming distance d collide
    * in ≥1 band whenever d < bands (pigeonhole). Candidates are verified
    * with an exact popcount Hamming check ≤ `maxHamming`. Same
    * shuffle-linear shape as [[minhashPairs]]. */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   bands: Int = 4, maxHamming: Int = 3,
                   maxBucketSize: Int = 1000): DataFrame = {
    val w = 64 / bands
    val p = df.sparkSession.sparkContext.defaultParallelism
    // token hashes materialized + Exchange before the 64 per-bit folds
    // (same staging rationale as minhashPairs)
    val sh = df
      .select(col(idCol).as("id"),
        graft.functions.HashedTokens(col(textCol)).as("__h"))
      .repartition(p, col("id"))
      .select(col("id"), simhashFromHashes(col("__h")).as("sh"))
    val banded = sh.withColumn("band",
        explode(sequence(lit(0), lit(bands - 1))))
      .withColumn("bkey", xxhash64(col("band"),
        expr(s"shiftright(sh, band * $w)")
          .bitwiseAND(if (w == 64) lit(-1L) else lit((1L << w) - 1))))
    // bucket members (id + 8-byte fingerprint) collected per band key via
    // the BOUNDED aggregator (overflowing buckets dropped at O(cap)
    // memory), Hamming-verified bucket-locally — one shuffle, and the old
    // count-join-back + self-join no longer re-instantiates the
    // tokenize→simhash subtree three times.
    val buckets = banded.groupBy("bkey")
      .agg(graft.functions.BoundedCollect.pairs(maxBucketSize)(
        col("id").cast("long"), col("sh")).as("ms"))
      .filter(size(col("ms")) > 1)
    buckets
      .select(col("ms"), explode(col("ms")).as("a"))
      .select(col("a"), explode(col("ms")).as("b"))
      .filter(col("a._1") < col("b._1"))
      .select(col("a._1").as("id_a"), col("b._1").as("id_b"),
        bit_count(col("a._2").bitwiseXOR(col("b._2"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Exact n-gram Jaccard pairs via shared-shingle candidate generation:
    * explode distinct shingles → self-join on shingle (so only pairs
    * sharing ≥1 shingle are ever considered) → |∩| per pair by count →
    * J = |∩| / (|A|+|B|−|∩|) ≥ threshold.
    *
    * Exact (oracle-checkable) but candidate count grows with shared-shingle
    * frequency — the `maxShingleFreq` cap drops ubiquitous shingles
    * (stop-phrases), the standard spam-guard; MinHash above is the
    * preferred 100 TB path. */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        shingleSize: Int = 3, threshold: Double = 0.5,
                        maxShingleFreq: Long = 1000): DataFrame = {
    // the cap feeds BoundedCollect as an Int — a Long above Int.MaxValue
    // would wrap negative and silently drop EVERY posting list
    require(maxShingleFreq > 0 && maxShingleFreq <= Int.MaxValue,
      s"maxShingleFreq must be in (0, ${Int.MaxValue}]: $maxShingleFreq")
    // shingles carried as 8-byte xxhash64 longs, not strings: the explode,
    // frequency count, and posting-list shuffle all move ~1/4 the bytes.
    // Pair results are identical up to a ~2^-64 hash-collision probability.
    // The repartition spreads the CPU-heavy tokenize/shingle work across
    // the cluster even when the input is a handful of parquet files.
    val p = df.sparkSession.sparkContext.defaultParallelism
    // the has-shingles gate runs on the zero-alloc TokenCount BEFORE the
    // kernel projection: a doc has ≥1 shingle iff it has ≥ shingleSize
    // tokens, and pushdown inlines filter aliases cost-blind — a
    // size(sh) > 0 filter re-evaluates the whole shingle kernel twice
    // per row at the scan (measured in the optimized plan)
    val sets = df
      .filter(graft.functions.TokenCount(col(textCol)) >= shingleSize)
      .select(col(idCol).as("id"), col(textCol).as("__text"))
      .repartition(p, col("id"))
      .select(col("id"),
        textShingleHashes(col("__text"), shingleSize).as("sh"))
      .withColumn("n", size(col("sh")))
    val exploded = sets.select(col("id"), col("n"),
      explode(col("sh")).as("s"))
    // posting list per shingle, collected in ONE shuffle keyed by the
    // 8-byte shingle hash via the BOUNDED aggregator: the maxShingleFreq
    // cap drops ubiquitous stop-phrase shingles (the spam guard) at
    // O(cap) memory — an overflowing posting list is never materialized.
    // The old rare-count join + self-join instantiated the
    // tokenize→shingle subtree three times and shuffled the exploded
    // table twice more.
    val postings = exploded.groupBy("s")
      .agg(graft.functions.BoundedCollect.pairs(maxShingleFreq.toInt)(
        col("id").cast("long"), col("n").cast("long")).as("docs"))
      .filter(size(col("docs")) > 1)
    // pair generation: nested explode + a<b filter, NOT a posexplode +
    // per-position tail slice() — measured same-box at sf0.1: the slice
    // variant halves generated rows but allocates a fresh array copy
    // per list position (O(n²/2) element copies), a net loss on the
    // capped posting lists this operator guarantees; the nested
    // explode references one array object per codegen row
    postings
      .select(col("docs"), explode(col("docs")).as("a"))
      .select(col("a"), explode(col("docs")).as("b"))
      .filter(col("a._1") < col("b._1"))
      .groupBy(col("a._1").as("id_a"), col("b._1").as("id_b"),
        col("a._2").as("n_a"), col("b._2").as("n_b"))
      .agg(count(lit(1)).as("common"))
      .withColumn("jaccard",
        col("common").cast("double") /
          (col("n_a") + col("n_b") - col("common")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Edit-distance near-dup verification — the precision pass of the
    * dedup family: generate candidate pairs cheaply (n-gram Jaccard at a
    * LOW threshold), then confirm each with normalized Levenshtein
    * similarity `1 - dist / max(len_a, len_b)` over the first `maxChars`
    * characters. Set-based measures (Jaccard/MinHash) ignore token
    * order, so "a b c d" and "d c b a"-style rearrangements can score
    * high; edit distance is the order-sensitive arbiter pipelines use
    * on short-to-medium docs (and on the candidate tail where a wrong
    * merge is expensive).
    *
    * Scale shape: candidates come from [[ngramJaccardPairs]] — posting
    * lists capped at `maxShingleFreq`, shuffle-linear, never all-pairs.
    * Only candidate PAIRS (two 8-byte ids each) join back to the corpus
    * for text; the O(len²) Levenshtein DP runs per candidate pair on
    * `maxChars`-truncated text, so per-pair cost is bounded at
    * maxChars² regardless of document length (the documented trade:
    * docs identical in their first `maxChars` chars score 1.0). Spark's
    * `levenshtein` is a codegen built-in with the same unit-cost DP as
    * every standard implementation — oracle-portable.
    *
    * Output: (id_a, id_b, jaccard, edit_sim), filtered to
    * `edit_sim >= editSimThreshold`. */
  def editNearDupPairs(df: DataFrame, idCol: String, textCol: String,
                       shingleSize: Int = 3,
                       candidateThreshold: Double = 0.3,
                       editSimThreshold: Double = 0.8,
                       maxChars: Int = 1000,
                       maxShingleFreq: Long = 1000): DataFrame = {
    require(maxChars >= 1, s"maxChars must be >= 1: $maxChars")
    val cands = ngramJaccardPairs(df, idCol, textCol, shingleSize,
      candidateThreshold, maxShingleFreq)
    val texts = df.select(col(idCol).cast("long").as("__tid"),
      substring(col(textCol), 1, maxChars).as("__txt"))
    val withA = cands.join(texts, col("id_a") === col("__tid"))
      .withColumnRenamed("__txt", "__ta").drop("__tid")
    val withB = withA.join(texts, col("id_b") === col("__tid"))
      .withColumnRenamed("__txt", "__tb").drop("__tid")
    val maxLen = greatest(length(col("__ta")), length(col("__tb")))
    // banded DP: a pair can only survive with distance <= (1-thr)·len,
    // and len <= maxChars, so any k ≥ (1-thr)·maxChars is a sound
    // band: d > k ⇒ d > (1-thr)·maxLen ⇒ sim < thr strictly, and every
    // surviving distance (d ≤ (1-thr)·maxLen ≤ k, equality included)
    // computes exactly. ceil+1 guards the fp product rounding DOWN —
    // floor((1.0-0.8)*1000) is 199, which would drop a d=200/len=1000
    // pair whose sim is exactly 0.8 (an oversized band only costs
    // work, never correctness). Spark's thresholded levenshtein
    // computes only the 2k+1 DP diagonal band and returns -1 past
    // it — O(n·k) vs O(n·m) per pair, and the far pairs (where the
    // full DP wastes the most work) are exactly the ones that
    // short-circuit. Survivors carry exact distances, so results (and
    // the DuckDB oracle replay) are unchanged.
    val band = math.ceil((1.0 - editSimThreshold) * maxChars).toInt + 1
    val dist = levenshtein(col("__ta"), col("__tb"), band)
    withB
      .withColumn("edit_sim",
        when(maxLen === 0, lit(1.0)) // both empty ⇒ identical
          .otherwise(lit(1.0) - dist.cast("double") /
              maxLen.cast("double")))
      .filter(dist =!= -1 && col("edit_sim") >= editSimThreshold)
      .select("id_a", "id_b", "jaccard", "edit_sim")
  }

  /** Connected components over an undirected near-dup PAIR list — the
    * step that turns pairwise matches into dedup clusters (keep one
    * representative per component, drop the rest). Min-label
    * propagation: every node starts labeled with itself; each round
    * takes the min of its own and its neighbors' labels; converges in
    * O(graph diameter) rounds (near-dup clusters are shallow — dozens of
    * rounds covers pathological chains; `maxIters` bounds runaways).
    * Each round is one join + one aggregate — shuffle-linear in |edges|
    * — and ends in an eager `localCheckpoint`, so the next round plans
    * from the previous round's rows and the plan stays one round deep
    * whatever the round count (cf. the alternating star algorithms of
    * Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SOCC'14 — label propagation is the low-diameter special case that
    * needs no re-rooting).
    *
    * Output: (id, component) with component = min node id reachable.
    *
    * Hybrid engine: near-dup PAIR lists are orders of magnitude smaller
    * than the corpus (only matched docs appear), so when the deduped
    * symmetric edge list fits under `driverEdgeCap` (default 1M edges;
    * budget ~150-250 MB of transient driver heap at the cap — specialized
    * edge tuples ~32 B each plus a LongMap of up to 2M parent entries
    * with boxed values) the components are resolved by a single-pass
    * union-find on the driver — O(E α(E)), no per-round jobs — and
    * handed back as one small frame. Beyond the cap, the distributed
    * label-propagation loop runs unchanged; both paths produce
    * identical labels (test-pinned). The cap is an explicit argument:
    * set it to 0 to force the distributed path, or raise it with the
    * driver's heap. */
  def components(pairs: DataFrame, aCol: String, bCol: String,
                 maxIters: Int = 25,
                 driverEdgeCap: Long = 1000000L): DataFrame = {
    val edges = pairs.select(col(aCol).cast("long").as("src"),
      col(bCol).cast("long").as("dst"))
    // symmetrize via explode, NOT union-of-two-selects: a union reads
    // the (potentially very expensive) upstream pair pipeline twice —
    // measured as most of q_dedup_clusters' cost beyond the pair
    // generation itself. One pass emits both directions per row.
    val sym = edges.select(explode(array(
        struct(col("src"), col("dst")),
        struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .distinct()
    // both paths return frames detached from the cache: the driver
    // path's local rows, the loop's localCheckpointed labels
    Ops.withPersisted(sym) { sym =>
      // the count both sizes the engine choice and materializes the
      // cache every later step reads — never a wasted action
      if (sym.count() <= driverEdgeCap) {
        val spark = pairs.sparkSession
        import spark.implicits._
        // <= keeps self-loop nodes registered (they label themselves)
        val halfEdges = sym.filter(col("src") <= col("dst"))
          .as[(Long, Long)].collect()
        spark.createDataset(unionFind(halfEdges)).toDF("id", "component")
      } else {
        // each round reads `labels` twice: untruncated, the plan doubles
        // every round (driver OOM by round 6 on a 120-node graph)
        var labels = sym.select(col("src").as("id")).distinct()
          .withColumn("label", col("id"))
        var changed = 1L
        var i = 0
        while (changed > 0 && i < maxIters) {
          val nbrMin = sym.join(labels, sym("dst") === labels("id"))
            .groupBy(col("src")).agg(min(col("label")).as("nbr_label"))
          val updated = labels.join(nbrMin,
              labels("id") === nbrMin("src"), "left")
            .select(col("id"), col("label"),
              least(col("label"), coalesce(col("nbr_label"), col("label")))
                .as("new_label"))
            .localCheckpoint()
          changed = updated.filter(col("new_label") =!= col("label"))
            .count()
          labels = updated.select(col("id"), col("new_label").as("label"))
          i += 1
        }
        if (changed > 0)
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            s"components(): maxIters=$maxIters reached with $changed " +
              "labels still changing — labels are NOT converged (graph " +
              "diameter exceeds maxIters); raise maxIters for correct " +
              "components")
        labels.select(col("id"), col("label").as("component"))
      }
    }
  }

  /** Driver union-find (path compression + union-to-min-root): the
    * small-graph engine behind [[components]]. Roots are always the
    * minimum id of their set, so labels match min-label propagation
    * exactly. */
  private def unionFind(edges: Array[(Long, Long)])
      : Seq[(Long, Long)] = {
    // LongMap: open-addressed primitive keys — no per-entry node objects
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x // path compression
      while (parent.getOrElse(c, c) != r) {
        val next = parent(c); parent(c) = r; c = next
      }
      r
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) { // min id becomes the root = the component label
        if (ra < rb) parent(rb) = ra else parent(ra) = rb
      }
    }
    parent.keys.toSeq.sorted.map(id => id -> find(id))
  }

  /** Drop near-duplicates given a PAIR list: resolve [[components]] and
    * keep only each component's representative (the min id) plus every
    * row that appears in no pair. The pair list is the output of any
    * candidate generator above (minhash/simhash/embedding/ngram), so the
    * full near-dedup pipeline is
    * `dropNearDuplicates(df, id, minhashPairs(df, ...))` — one
    * broadcast-sized (or shuffle) anti-join against the non-representative
    * id set; payloads never enter the component computation. */
  def dropNearDuplicates(df: DataFrame, idCol: String,
                         pairs: DataFrame, aCol: String = "id_a",
                         bCol: String = "id_b"): DataFrame = {
    val losers = components(pairs, aCol, bCol)
      .filter(col("id") =!= col("component"))
      .select(col("id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Benchmark decontamination check — the training-data op that flags
    * documents overlapping an evaluation set (n-gram contamination, the
    * standard pre-training hygiene step): a document is contaminated when
    * ≥ `minShared` of its distinct `shingleSize`-gram shingles appear in
    * the benchmark set's POOLED shingle union (overlap is counted against
    * the set as a whole, not per benchmark document — the usual
    * decontamination formulation; per-doc attribution would need a
    * per-(doc, bench-doc) count instead of the single broadcast set).
    *
    * Scale shape: both sides reduce to 8-byte shingle hashes
    * ([[shingleHashes]] — strings never shuffle); the benchmark's
    * distinct-shingle set is tiny next to a 100 TB corpus (eval suites
    * are MBs), so the join is hash-broadcast, making the whole check one
    * map-side pass over the corpus + a partial-aggregated count. Output:
    * (id, n_shared) for contaminated docs — anti-join it back to drop
    * them. Results match an exact string-shingle engine up to the ~2^-64
    * hash-collision odds (the [[ngramJaccardPairs]] rule). */
  def contamination(docs: DataFrame, bench: DataFrame, idCol: String,
                    textCol: String, shingleSize: Int = 3,
                    minShared: Long = 1): DataFrame = {
    require(minShared > 0, s"minShared must be positive: $minShared")
    val d = docs
      .select(col(idCol).as("id"),
        explode(textShingleHashes(col(textCol), shingleSize)).as("s"))
    val b = broadcast(bench
      .select(explode(
        textShingleHashes(col(textCol), shingleSize)).as("s"))
      .distinct())
    d.join(b, "s")
      // shingleHashes is distinct per doc, so this counts DISTINCT
      // shared shingles without a distinct pass
      .groupBy("id").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** [[contamination]] for benchmark sets too large to broadcast as an
    * exact hash set: the benchmark's shingle hashes collapse into a
    * Bloom filter (built distributed, only the filter's bit array —
    * `-n·ln(fpp)/ln²2` bits, ~1.2 MB per 10⁶ shingles at 1e-6 — reaches
    * the driver and rides the plan as a foldable literal), and the
    * corpus pass stays map-only: Spark's native codegen
    * `BloomFilterMightContain` per shingle, then the same per-doc
    * shared-count aggregate.
    *
    * Semantics: a SUPERSET of [[contamination]] — no false negatives
    * ever (every truly shared shingle is in the filter); false positives
    * inflate `n_shared` at rate `fpp` per probe. The FP set is
    * deterministic for fixed data (the filter's hash seeds are
    * constant), so the operator is reproducible run-to-run; at the test
    * corpus scale fpp=1e-6 yields zero FPs and the output equals the
    * exact operator bit-for-bit (oracled as q_contamination_bloom
    * against the exact SQL; the superset invariant is spec-pinned). */
  def contaminationBloom(docs: DataFrame, bench: DataFrame, idCol: String,
                         textCol: String, shingleSize: Int = 3,
                         minShared: Long = 1,
                         fpp: Double = 1e-6): DataFrame = {
    require(minShared > 0, s"minShared must be positive: $minShared")
    require(fpp > 0 && fpp < 1, s"fpp must be in (0,1): $fpp")
    val bytes = benchBloomBytes(bench, textCol, shingleSize, fpp)
    docs
      .select(col(idCol).as("id"),
        explode(textShingleHashes(col(textCol), shingleSize)).as("s"))
      .filter(bloomMightContain(bytes, col("s")))
      .groupBy("id").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Shared Bloom half of the decontamination family
    * ([[contaminationBloom]], the streaming
    * [[graft.streaming.ops.ContaminationGateOp]]): the benchmark's
    * distinct shingle hashes collapse into a Bloom filter's serialized
    * bit array. Both actions (count to size the filter, the build
    * itself) run over the small benchmark side only — the corpus is
    * never collected or counted. */
  private[graft] def benchBloomBytes(bench: DataFrame, textCol: String,
                                     shingleSize: Int,
                                     fpp: Double): Array[Byte] = {
    val b = bench
      .select(explode(
        textShingleHashes(col(textCol), shingleSize)).as("s"))
      .distinct()
    val nBench = b.count()
    val bf = b.stat.bloomFilter("s", math.max(nBench, 1L), fpp)
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    bos.toByteArray
  }

  /** Spark's native codegen `BloomFilterMightContain` probe over a
    * serialized filter riding the plan as a foldable binary literal —
    * composes inside higher-order-function lambdas (the element Column
    * bridges to its Catalyst expression), which is what lets the
    * streaming gate count hits per ROW with no explode and no shuffle. */
  private[graft] def bloomMightContain(bytes: Array[Byte],
                                       item: Column): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        org.apache.spark.sql.catalyst.expressions.Literal(bytes,
          org.apache.spark.sql.types.BinaryType),
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(item)))

  /** Overlap-FRACTION decontamination — the per-document relative form
    * of [[contamination]] (the Brown et al. 2020 appendix-C / PaLM
    * formulation: a doc is contaminated when the FRACTION of its
    * n-grams appearing in the eval set crosses a threshold, so long
    * docs aren't flagged by an absolute count a short doc could never
    * reach). Per doc: `frac = n_shared / n_shingles` over DISTINCT
    * `shingleSize`-gram shingles, benchmark side pooled exactly as in
    * [[contamination]]; emitted when `frac >= minFrac`.
    *
    * Exactness: both counts are integers; `frac` is ONE IEEE division
    * (engine-portable bit-exactly — the [[Search.bm25Queries]]
    * rational-arithmetic rule). Scale shape identical to
    * [[contamination]]: 8-byte shingle hashes, broadcast benchmark set,
    * one map pass + per-doc partial-aggregated count — the left join
    * against the broadcast set costs the same as the inner join (every
    * probe hits the hash table either way) and keeps zero-overlap docs
    * countable. Docs with no shingles (< shingleSize tokens) have no
    * defined fraction and are excluded — gate short docs upstream.
    * Output: (id, n_shingles, n_shared, frac) for contaminated docs —
    * anti-join back to drop them. */
  def contaminationFraction(docs: DataFrame, bench: DataFrame,
                            idCol: String, textCol: String,
                            shingleSize: Int = 3,
                            minFrac: Double = 0.1): DataFrame = {
    require(minFrac > 0 && minFrac <= 1,
      s"minFrac must be in (0,1]: $minFrac")
    val d = docs
      .filter(graft.functions.TokenCount(col(textCol)) >= shingleSize)
      .select(col(idCol).as("id"),
        textShingleHashes(col(textCol), shingleSize).as("__sh"))
      .select(col("id"), size(col("__sh")).cast("long").as("n_shingles"),
        explode(col("__sh")).as("s"))
    val b = broadcast(bench
      .select(explode(
        textShingleHashes(col(textCol), shingleSize)).as("s"))
      .distinct()
      .withColumn("__hit", lit(1)))
    d.join(b, Seq("s"), "left")
      // shingleHashes is distinct per doc and the bench side is
      // distinct, so counting hits counts DISTINCT shared shingles
      .groupBy("id", "n_shingles")
      .agg(count(col("__hit")).as("n_shared"))
      .withColumn("frac",
        col("n_shared").cast("double") / col("n_shingles").cast("double"))
      .filter(col("frac") >= minFrac)
  }

  /** C4-style page cleaning (Raffel et al. 2020 §2.2, the line-level
    * half of the C4 recipe; the span-level dedup half is
    * [[duplicateSpans]]/[[trimDuplicateParagraphs]]). Page gates first:
    * any page containing "lorem ipsum" (case-folded) or a curly brace
    * is dropped whole. Then line gates over a `sep` split: a line
    * survives iff it ends in terminal punctuation (`. ! ? "`), has at
    * least `minLineWords` words, and does not contain "javascript"
    * (case-folded). Pages keeping fewer than `minLines` lines drop out
    * (the paper's "at least 5 sentences" page floor, parameterized).
    * Survivors reassemble in original order.
    *
    * Scale shape: page gates and line predicates are map-side codegen
    * built-ins (rlike / instr / split); the only shuffle is the per-doc
    * reassembly groupBy inherited from [[filterParagraphs]] — shuffle-
    * linear in surviving lines, no corpus-wide state. Output:
    * (id, n_lines_kept, textCol). */
  def c4Clean(df: DataFrame, idCol: String, textCol: String,
              minLineWords: Int = 3, minLines: Int = 3,
              sep: String = "\n"): DataFrame = {
    require(minLineWords > 0, s"minLineWords must be positive: $minLineWords")
    require(minLines > 0, s"minLines must be positive: $minLines")
    val pages = df.filter(
      !lower(col(textCol)).contains("lorem ipsum") &&
        !col(textCol).contains("{"))
    filterParagraphs(pages, idCol, textCol, sep) { p =>
      trim(p).rlike("[.!?\"]$") &&
        size(Text.tokens(p)) >= minLineWords &&
        !lower(p).contains("javascript")
    }
      .filter(col("n_paras_kept") >= minLines)
      .withColumnRenamed("n_paras_kept", "n_lines_kept")
  }

  /** Embedding near-dup pairs: random-hyperplane LSH buckets → exact cosine
    * verify within buckets. `nBits` trades recall (more probes) vs bucket
    * size; at 100 TB run multiple independent tables (seeds) and union. */
  def embeddingPairs(df: DataFrame, idCol: String, vecCol: String,
                     threshold: Double = 0.95, nBits: Int = 12,
                     seeds: Seq[Int] = Seq(1, 2),
                     maxBucketSize: Int = 2000): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    // THREE consumers traverse vecs (banding + both verify joins); the
    // norm runs before the repartition exchange, which the plan reuses,
    // so the corpus scan + norm compute runs once without a cache (the
    // Ops.withPersisted rule)
    val vecs = df.select(col(idCol).as("id"), col(vecCol).as("v"),
      Vectors.norm(col(vecCol)).as("nm"))
      .repartition(p, col("id"))
    // ALL seed tables in one projection + one explode — one pass over the
    // vectors computes every signature (a per-seed union re-scanned and
    // re-signed the corpus |seeds| times). Banding rows carry only
    // (id, bkey): vectors never ride this shuffle.
    val banded = vecs.select(col("id"), explode(array(seeds.map(s =>
      xxhash64(lit(s), Vectors.rhpSignature(col("v"), nBits, s))): _*))
      .as("bkey"))
    // bucket members collected per key via the BOUNDED aggregator (skewed
    // buckets are boilerplate, dropped at O(cap) memory), pairs generated
    // bucket-locally: ONE shuffle of (id, bkey), no count-join-back, no
    // self-join re-instantiating the banding subtree.
    val buckets = banded.groupBy("bkey")
      .agg(graft.functions.BoundedCollect.pairs(maxBucketSize)(
        col("id").cast("long"), lit(0L)).as("ms"))
      .filter(size(col("ms")) > 1)
    val cand = buckets
      .select(col("ms"), explode(col("ms")).as("a"))
      .select(col("a._1").as("id_a"), explode(col("ms")).as("b"))
      .select(col("id_a"), col("b._1").as("id_b"))
      .filter(col("id_a") < col("id_b"))
      .distinct()
    // vectors + precomputed norms joined back once per pair for the exact
    // cosine verify
    cand
      .join(vecs.select(col("id").as("id_a"), col("v").as("v_a"),
        col("nm").as("nm_a")), "id_a")
      .join(vecs.select(col("id").as("id_b"), col("v").as("v_b"),
        col("nm").as("nm_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        Vectors.cosineWithNorms(col("v_a"), col("v_b"),
          col("nm_a"), col("nm_b")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Cross-corpus EMBEDDING dedup — [[dedupAgainst]]'s semantic sibling
    * and the embedding-space face of test-set decontamination: drop from
    * `df` every row whose vector is within cosine `threshold` of ANY
    * reference vector (a benchmark's embeddings, yesterday's corpus).
    * Same parity-packed single-pass trick as
    * [[dropNearDuplicatesAgainst]]: candidates ride at `2*id`,
    * references at `2*id+1`, ONE [[embeddingPairs]] banding pass over
    * the union, cross-parity pairs eliminate the candidate side only
    * (ref↔ref and cand↔cand collisions are ignored). Ids must be
    * integral with |id| < 2^62 (the sibling's signed-range contract —
    * pmod parity + floor-division shiftright round-trip negatives). */
  def embeddingDedupAgainst(df: DataFrame, ref: DataFrame, idCol: String,
                            vecCol: String, refIdCol: String,
                            refVecCol: String, threshold: Double = 0.95,
                            nBits: Int = 12, seeds: Seq[Int] = Seq(1, 2),
                            maxBucketSize: Int = 2000): DataFrame = {
    val cand = df.select((col(idCol).cast("long") * 2).as("__pid"),
      col(vecCol).as("__v"))
    val refT = ref.select(
      (col(refIdCol).cast("long") * 2 + 1).as("__pid"),
      col(refVecCol).as("__v"))
    val pairs = embeddingPairs(cand.unionByName(refT), "__pid", "__v",
      threshold, nBits, seeds, maxBucketSize)
    val losers = pairs
      // pmod + shiftright, not signed % / unsigned shift: a negative
      // id's parity reads as -1 under `%` (same-side pairs would count
      // as cross-side), and shiftrightunsigned maps a negative packed
      // id to a huge positive that never matches in the anti-join —
      // the dropNearDuplicatesAgainst rules, applied identically
      .filter(pmod(col("id_a"), lit(2)) =!= pmod(col("id_b"), lit(2)))
      .select(shiftright(when(pmod(col("id_a"), lit(2)) === 0,
        col("id_a")).otherwise(col("id_b")), 1).as("__loser"))
      .distinct()
    df.join(losers, col(idCol).cast("long") === col("__loser"),
      "left_anti")
  }

  /** Exact duplicate-SPAN detection: maximal runs of ≥ `minRun`
    * consecutive shared tokens between document pairs — the exact
    * substring-dedup primitive of Lee et al., "Deduplicating Training
    * Data Makes Language Models Better" (ACL'22), re-expressed
    * relationally (their suffix array is a single-machine structure; the
    * equivalent distributed formulation is a gram-hash join + diagonal
    * run coalescing):
    *
    *  1. positional `minRun`-gram hashes per doc (two docs share a run of
    *     ≥ minRun tokens iff they share a gram — the gram IS the run
    *     witness, so recall is exact);
    *  2. posting list per gram hash via the BOUNDED aggregator (a gram
    *     shared by more than `maxGramFreq` (doc, position)s is boilerplate
    *     — dropped at O(cap) memory, the spam guard every posting-list
    *     shape needs at corpus scale);
    *  3. bucket-local match pairs (id_a < id_b) with both positions;
    *  4. gaps-and-islands per (pair, diagonal = pos_a − pos_b): consecutive
    *     gram matches on a diagonal are one span; `pos_a − row_number`
    *     groups each maximal run (the window is keyed by (pair, diagonal)
    *     — partitions are bounded by document length, never corpus size).
    *
    * Output: (id_a, id_b, start_a, start_b, n_tokens) per maximal span,
    * n_tokens = gram_count + minRun − 1. Shuffle-linear: one posting-list
    * shuffle (carrying (id, pos, 8-byte gram hash) rows — exact up to
    * 2⁻⁶⁴ collision odds, the engine-wide trade, oracled against exact
    * string grams) + one (pair, diagonal) shuffle; document text and
    * token arrays never ride any exchange. */
  def duplicateSpans(df: DataFrame, idCol: String, textCol: String,
                     minRun: Int = 8,
                     maxGramFreq: Int = 1000): DataFrame = {
    require(minRun >= 1, s"minRun must be >= 1: $minRun")
    require(maxGramFreq > 1, s"maxGramFreq must be > 1: $maxGramFreq")
    // no pre-shuffle: tokenize+hash run at scan parallelism (a 100 TB
    // scan has thousands of splits) and the first exchange is the
    // posting-list groupBy, which carries (id, pos, 8-byte hash) rows —
    // a doc's text/token arrays never ride any shuffle
    val grams = df
      .select(col(idCol).cast("long").as("id"),
        posexplode(
          graft.functions.TextPosShingleHashes(col(textCol), minRun)))
      .select(col("id"), col("pos").cast("long").as("pos"), col("col").as("g"))
    val postings = grams.groupBy("g")
      .agg(graft.functions.BoundedCollect.pairs(maxGramFreq)(
        col("id"), col("pos")).as("ms"))
      .filter(size(col("ms")) > 1)
    val matches = postings
      .select(col("ms"), explode(col("ms")).as("a"))
      .select(col("a"), explode(col("ms")).as("b"))
      .filter(col("a._1") < col("b._1"))
      .select(col("a._1").as("id_a"), col("b._1").as("id_b"),
        col("a._2").as("pos_a"), col("b._2").as("pos_b"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id_a"), col("id_b"), col("pos_a") - col("pos_b"))
      .orderBy("pos_a")
    matches
      .withColumn("__grp", col("pos_a") - row_number().over(w))
      .groupBy(col("id_a"), col("id_b"),
        (col("pos_a") - col("pos_b")).as("__diag"), col("__grp"))
      .agg(min("pos_a").as("start_a"), min("pos_b").as("start_b"),
        (count(lit(1)) + (minRun - 1)).as("n_tokens"))
      .select("id_a", "id_b", "start_a", "start_b", "n_tokens")
  }

  /** Per-document duplicated-token coverage — the doc-level decision
    * metric of substring dedup (Lee et al. drop or trim documents whose
    * duplicated fraction is high): union the [[duplicateSpans]] intervals
    * each document participates in (either side of any pair) and measure
    * the covered token fraction.
    *
    * Interval union is the classic sort + running-max islands, windowed
    * PER DOCUMENT (partitions bounded by a doc's span count): an interval
    * opens a new island iff it starts past the running max end of its
    * predecessors; island length = max(end) − min(start); overlapping and
    * touching intervals collapse without double counting.
    *
    * Output: one row per input document — (id, n_tokens, n_dup_tokens,
    * dup_fraction), 0-coverage rows included (dedup decisions need the
    * clean docs too); empty docs report fraction 0. */
  def duplicateCoverage(df: DataFrame, idCol: String, textCol: String,
                        minRun: Int = 8,
                        maxGramFreq: Int = 1000): DataFrame = {
    val spans = duplicateSpans(df, idCol, textCol, minRun, maxGramFreq)
    // both sides of each pair in ONE pass over the (expensive) span
    // pipeline — a union of two selects would execute it twice
    val ivals = spans
      .select(explode(array(
        struct(col("id_a").as("id"), col("start_a").as("s"),
          (col("start_a") + col("n_tokens")).as("e")),
        struct(col("id_b").as("id"), col("start_b").as("s"),
          (col("start_b") + col("n_tokens")).as("e")))).as("iv"))
      .select(col("iv.id").as("id"), col("iv.s").as("s"),
        col("iv.e").as("e"))
      // distinct makes (s, e) unique per id, so the island windows have a
      // TOTAL order — tie traversal can never differ between the prior-max
      // and cumulative-flag passes (or between engines); union coverage is
      // unchanged by dropping duplicate intervals
      .distinct()
    val order = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy(col("s"), col("e"))
    val prior = order.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val covered = ivals
      .withColumn("__pmax", max(col("e")).over(prior))
      .withColumn("__flag",
        when(col("__pmax").isNull || col("s") > col("__pmax"), 1L)
          .otherwise(0L))
      .withColumn("__isl", sum(col("__flag")).over(order))
      .groupBy(col("id"), col("__isl"))
      .agg(min("s").as("__is"), max("e").as("__ie"))
      .groupBy("id")
      .agg(sum(col("__ie") - col("__is")).as("n_dup_tokens"))
    df.select(col(idCol).cast("long").as("id"),
        Text.nTokens(col(textCol)).cast("long").as("n_tokens"))
      .join(covered, Seq("id"), "left")
      .withColumn("n_dup_tokens", coalesce(col("n_dup_tokens"), lit(0L)))
      .withColumn("dup_fraction",
        when(col("n_tokens") === 0L, lit(0.0))
          .otherwise(col("n_dup_tokens").cast("double") /
            col("n_tokens").cast("double")))
  }

  /** Paragraph-granularity TRIM of duplicated text — Lee et al.'s
    * "remove the duplicated text, keep the document" decision at the
    * structural unit a corpus pipeline can actually cut on: drop each
    * paragraph fully contained in a maximal run of `minRun`-token
    * windows that each occur EARLIER in the corpus (earlier = smaller
    * (id, position) — the first occurrence keeps, the engine-wide
    * representative convention; intra-document repeats trim too),
    * reassemble the survivors in order. Contrast [[paragraphDedup]]
    * (exact whole-paragraph match) — this trims paragraphs swallowed
    * by any duplicated RUN, catching boilerplate blocks that differ by
    * paragraph SPLITTING, not just exact paragraph repeats. Documents
    * losing every paragraph vanish (same rule as [[paragraphDedup]]).
    *
    * `sep` must be whitespace: paragraph token offsets are aligned to
    * the whole-document tokenization ([[Text.tokens]] splits on `\s+`),
    * which holds exactly iff the separator itself tokenizes to nothing.
    *
    * Scale shape — deliberately NOT the [[duplicateSpans]] pair
    * machinery: trimming needs "does this window occur earlier",
    * never "against whom", so the duplicated-position set comes from
    * ONE rank-per-gram window (shuffle keyed by the 8-byte gram hash;
    * k occurrences cost k rows — a boilerplate block shared by 100k
    * docs is LINEAR here where pair generation would be 10^10 pairs).
    * Runs are per-doc gaps-and-islands (partitions bounded by document
    * length), then one doc-id-keyed containment anti join against the
    * per-doc paragraph offsets. Output: `(idCol, n_paras_kept,
    * textCol)`. */
  def trimDuplicateParagraphs(df: DataFrame, idCol: String,
                              textCol: String, sep: String = "\n\n",
                              minRun: Int = 8): DataFrame = {
    require(sep.trim.isEmpty,
      s"sep must be whitespace for token-offset alignment: ${sep.trim}")
    require(minRun >= 1, s"minRun must be >= 1: $minRun")
    val grams = df
      .select(col(idCol).cast("long").as("__gid"),
        posexplode(
          graft.functions.TextPosShingleHashes(col(textCol), minRun)))
      .select(col("__gid"), col("pos").cast("long").as("__pos"),
        col("col").as("__g"))
    val wG = org.apache.spark.sql.expressions.Window
      .partitionBy("__g").orderBy("__gid", "__pos")
    val dup = grams
      .withColumn("__rn", row_number().over(wG))
      .filter(col("__rn") > 1) // some strictly-earlier occurrence exists
      .select(col("__gid"), col("__pos"))
    val wD = org.apache.spark.sql.expressions.Window
      .partitionBy("__gid").orderBy("__pos")
    val ivals = dup
      .withColumn("__grp", col("__pos") - row_number().over(wD))
      .groupBy(col("__gid"), col("__grp"))
      .agg(min("__pos").as("__ss"),
        (max("__pos") + lit(minRun.toLong)).as("__se"))
      .select(col("__gid").as("__sid"), col("__ss"), col("__se"))
    val wPrior = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy("idx")
      .rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val pos = splitParas(df, idCol, textCol, sep)
      .withColumn("__ntok", size(Text.tokens(col("para"))).cast("long"))
      .withColumn("__ps",
        coalesce(sum(col("__ntok")).over(wPrior), lit(0L)))
    // anti join IS the trim: survivors are the paragraphs no interval
    // contains. Zero-token paragraphs carry no duplicated content and
    // are never trimmed (vacuous containment excluded).
    val survivors = pos.join(ivals,
      pos(idCol).cast("long") === col("__sid") &&
        col("__ss") <= col("__ps") &&
        col("__ps") + col("__ntok") <= col("__se") &&
        col("__ntok") > 0L,
      "left_anti")
    reassembleParas(survivors, idCol, textCol, sep)
  }
}
