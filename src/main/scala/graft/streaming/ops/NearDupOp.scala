package graft.streaming.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.streaming.{AnalysisConf, OperatorFactory}

/** Streaming NEAR-dup dedup (MinHash LSH) as a topology factory — the
  * continuous-ingest answer to "have we crawled something like this
  * before": a document is emitted as NOVEL iff none of its LSH band
  * keys was claimed by an earlier document (any shared band ⇒ likely
  * near-dup ⇒ suppressed). The batch twin with identical semantics is
  * [[graft.llm.Dedup.minhashNovel]] (oracled, q_minhash_novel); this
  * factory runs BOTH modes through one code path.
  *
  * Mechanics: tokens → shingle hashes → minhash signature → `bands`
  * band keys, all map-side; the ONLY stateful operator is a
  * `flatMapGroupsWithState` keyed by band key whose state is the 8-byte
  * winner id (the first doc to claim the band; within a micro-batch the
  * winner is the MINIMUM id — deterministic, unlike a bare
  * dropDuplicates). Each band group emits AT MOST ONE row per batch:
  * the winner's claim, and only in the batch that first claims the band
  * — losers emit nothing (they can never reach `bands` claims), and a
  * redelivered winner emits nothing (its claim row already exists).
  * This makes the tally duplicate-proof under at-least-once sources —
  * a doc delivered twice in one micro-batch (or re-delivered in a later
  * one) still produces exactly one claim per band, where a per-row
  * emission would double-count and silently flip a novel doc to
  * not-novel — and it reduces the group pass to O(1) memory (running
  * min id, its newest event time, the group's max event time): there is
  * NO within-batch buffering of the group's rows, so a boilerplate band
  * key bursting millions of rows in one batch costs three registers,
  * not a buffer. A per-window aggregate then counts a doc novel iff it
  * claimed ALL `bands` of its bands. State is evicted `lateness` past
  * the band's newest event (event-time timeout) — bounded by the
  * watermark horizon like every stateful op here.
  *
  * Cost: the work is per document and map-side — the shingle kernel,
  * the MinHash signature (numHashes × shingles hash finishes; the
  * seed-independent half of XXH64 runs once per shingle, see
  * [[graft.functions.MinHashKernel]]) and the band explode. Band rows
  * are grouped on the `bkey` column, so nothing deserializes them
  * before the group pass: a `groupByKey(_.bkey)` lambda planned an
  * AppendColumns that decoded every band row (bands per document, each
  * carrying the signature in verify mode) only to read its key.
  *
  * By default there is no signature-verification pass: band collision
  * alone is the cheap streaming trade — tune `num_hashes`/`bands` for
  * the S-curve knee; false-positive collisions suppress a genuinely
  * novel doc with probability ≈ bands × P(random 4-hash slice match),
  * negligible at r = 4. OPT-IN `verify: true` stores the winner's
  * signature in band state (numHashes longs instead of 1) and
  * RE-ADMITS a colliding doc whose agreement with the winner stays
  * below `threshold` — the streaming twin of
  * [[graft.llm.Dedup.minhashNovelVerified]] (batch mode through this
  * factory matches it exactly; test-pinned). PASS rows are idempotent
  * like claims: each band remembers the ids it re-admitted (a sorted
  * array in state, bounded by `verify_memory`), so at-least-once
  * redelivery never re-emits; past the memory cap (or with
  * `verify_memory: 0`) re-admission degrades to per-delivery and a
  * redelivered passing doc flips to not-novel — the conservative
  * direction for dedup, warn-logged and test-pinned.
  *
  * Config: `id_col` ("doc_id"), `text_col` ("text"), `timestamp_col`
  * ("ts"), `window` ("1 hour"), `lateness` ("10 minutes" — also the
  * source watermark to declare on the topic), `shingle_size` (3),
  * `num_hashes` (128), `bands` (32), `verify` (false), `threshold`
  * (0.5 — verify-mode re-admission bound), `max_batch_group` (65536 —
  * verify-mode per-band within-batch distinct-doc cap; memory budget
  * ≈ cap × num_hashes × 8 B), `verify_memory` (4096 — per-band
  * re-admitted-id memory; 0 disables), `short_docs` ("novel" — the
  * one [[graft.llm.Dedup.ShortDocPolicies]] knob: "novel" bands
  * shingle-less docs on per-doc-unique synthetic keys so each is
  * trivially novel; "pair" bands them on SHARED sentinel keys so the
  * first-ever short doc claims them all and every later one is
  * suppressed; "drop" excludes them), `warm_start` (optional parquet
  * path of a batch-built `(bkey, winner)` band index —
  * [[graft.llm.Dedup.minhashBandWinners]] — pre-populating per-band
  * state so the stream dedupes against an already-crawled corpus
  * without replaying it; with `verify: true` the index must carry the
  * winner signatures — export it with
  * `minhashBandWinners(withSignatures = true)` — so warm collisions
  * are scored exactly like streamed ones).
  *
  * Streaming analysis note: Spark's analysis-time guard rejects ANY
  * stateful op downstream of flatMapGroupsWithState because FMGWS
  * *could* emit rows with arbitrary event times. This operator cannot
  * (each claim row keeps the winner's unmodified input event time,
  * already ahead of the upstream watermark), so the factory relaxes the
  * check — via [[AnalysisConf]], scoped to query analysis: the topology
  * runner restores the user's value right after its queries start, and
  * programmatic callers should call `AnalysisConf.restoreAll(spark)`
  * once their query has started (the check runs only inside
  * `DataStreamWriter.start()` — `UnsupportedOperationChecker` is
  * invoked solely by the `ResolveWriteToStream` analyzer rule — never
  * per micro-batch). With the check relaxed, Spark logs the exception
  * it no longer throws at WARN; the topology runner silences that
  * around its start() calls and logs one line naming the relaxed check
  * ([[AnalysisConf.whileStarting]]).
  *
  * Output: `(window_start, <id_col>)` — novel docs per finalized
  * window (append mode; batch sources produce the same shape). */
object NearDupOp extends OperatorFactory {

  case class BandEvent(id: Long, ts: java.sql.Timestamp, bkey: Long)
  case class BandClaim(id: Long, ts: java.sql.Timestamp)
  case class BandState(winner: Long)
  // verify mode: events carry the doc signature; state stores the
  // winner's (numHashes longs — the documented verify cost) plus the
  // SORTED ids that already emitted a PASS row for this band, so
  // re-admissions are idempotent under at-least-once redelivery
  // (bounded by verify_memory; binary-searched)
  case class BandEventV(id: Long, ts: java.sql.Timestamp, bkey: Long,
                        sig: Array[Long])
  case class BandStateV(winner: Long, sig: Array[Long],
                        passed: Array[Long])

  def apply(config: Map[String, Any], sources: Seq[DataFrame])
      : Seq[DataFrame] = {
    val df = sources.head
    val idCol = config.getOrElse("id_col", "doc_id").toString
    val textCol = config.getOrElse("text_col", "text").toString
    val tsCol = config.getOrElse("timestamp_col", "ts").toString
    val win = config.getOrElse("window", "1 hour").toString
    val lateness = config.getOrElse("lateness", "10 minutes").toString
    val shingleSize = config.getOrElse("shingle_size", 3).toString.toInt
    val numHashes = config.getOrElse("num_hashes", 128).toString.toInt
    val bands = config.getOrElse("bands", 32).toString.toInt
    val shortDocs = config.getOrElse("short_docs", "novel").toString
    val verify = config.getOrElse("verify", false).toString.toBoolean
    val warmStart = config.get("warm_start").map(_.toString)
    val threshold = config.getOrElse("threshold", 0.5).toString.toDouble
    val maxGroup =
      config.getOrElse("max_batch_group", 65536).toString.toInt
    val verifyMemory =
      config.getOrElse("verify_memory", 4096).toString.toInt
    require(numHashes % bands == 0, "bands must divide num_hashes")
    require(maxGroup > 0, "max_batch_group must be positive")
    require(verifyMemory >= 0, "verify_memory must be >= 0")
    require(graft.llm.Dedup.ShortDocPolicies(shortDocs),
      s"short_docs must be one of " +
        s"${graft.llm.Dedup.ShortDocPolicies.mkString("/")}: '$shortDocs'")
    // verify-mode warm start needs the winner SIGNATURES in the index
    // (minhashBandWinners(withSignatures = true)) — validated at load
    // below, so a plain (bkey, winner) index fails loudly, not as a
    // NULL-signature comparison at runtime
    val latenessMs = parseMs(lateness)
    val streaming = df.isStreaming
    if (streaming) {
      // relax the FMGWS→stateful analysis check for the upcoming
      // start() — see the scaladoc; AnalysisConf remembers the user's
      // value and the topology runner restores it after queries start.
      AnalysisConf.setForAnalysis(df.sparkSession,
        "spark.sql.streaming.statefulOperator.checkCorrectness.enabled",
        "false")
    }

    val spark = df.sparkSession
    import spark.implicits._
    // "drop" gates on the zero-alloc TokenCount BEFORE the kernel
    // projection (has ≥1 shingle iff ≥ shingleSize tokens) — a
    // size(hs) filter would push down with the shingle kernel inlined
    val src = if (shortDocs == "drop")
      df.filter(
        graft.functions.TokenCount(col(textCol)) >= shingleSize)
    else df
    val hs = src.select(graft.operators.Ops.refuseNull(col(idCol),
      lit(s"NearDupOp: NULL $idCol")).cast("long").as("id"),
      col(tsCol).as("ts"),
      graft.llm.Dedup.textShingleHashes(col(textCol), shingleSize)
        .as("hs"))
    val sig = hs.select(col("id"), col("ts"), col("hs"),
      graft.llm.Dedup.minhashSigFromHashes(col("hs"), numHashes)
        .as("sig"))
    // shingle-less docs must NOT band on their signature: the MinHash of
    // an empty shingle set is the all-sentinel vector — identical for
    // EVERY short doc — which would band unrelated short docs together
    // regardless of policy. They ride the same single path on synthetic
    // band keys instead: per-doc-UNIQUE under "novel" (each short doc
    // wins all its bands — trivially novel; run exact dedup upstream),
    // SHARED under "pair" (the first-ever short doc claims the sentinel
    // bands, every later one is suppressed — the empty ≡ empty
    // convention of Dedup.ShortDocPolicies).
    val contentlessKey: Column => Column =
      if (shortDocs == "pair") b => xxhash64(lit("__contentless"), b)
      else b => xxhash64(lit("__contentless"), col("id"), b)
    val keys = when(size(col("hs")) === 0,
      transform(sequence(lit(0), lit(bands - 1)), contentlessKey))
      .otherwise(graft.llm.Dedup.bandKeysFromSig(col("sig"), numHashes,
        bands))
    val claims: org.apache.spark.sql.Dataset[BandClaim] =
      if (!verify) {
        val banded = sig.select(col("id"), col("ts"),
            explode(keys).as("bkey"))
          .as[BandEvent]
        // grouped on the column, not a `_.bkey` lambda: the lambda plans
        // an AppendColumns that deserializes every band row just to read
        // its key. Naming the key `value` keeps groupByKey's state key
        // schema (`value: bigint`), so existing checkpoints restart.
        val grouped = banded.groupBy(col("bkey").as("value"))
          .as[Long, BandEvent]
        // warm start: pre-populate per-band winner state from a batch-
        // built index ([[graft.llm.Dedup.minhashBandWinners]]) so the
        // stream dedupes against an already-crawled corpus without
        // replaying it. Same BandState the operator builds itself —
        // warm bands behave exactly like bands claimed in an earlier
        // micro-batch (claims for them are never re-emitted). Caveat:
        // a warm band UNTOUCHED by the stream holds its 8-byte state
        // until the query ends (event-time timeouts are armed on first
        // touch) — prune the exported index to the dedup horizon if
        // that matters. Applies in bounded batch runs through this
        // factory too (one-shot "novel vs the index" semantics).
        val func = (_: Long, rows: Iterator[BandEvent],
             state: GroupState[BandState]) => {
              if (state.hasTimedOut) { state.remove(); Iterator.empty }
              else {
                // one O(1)-memory pass: the state-eviction timeout must
                // be EVENT-time-relative (maxTs + lateness — a
                // watermark-relative timeout set in the first batch,
                // when the watermark is still 0, would evict every band
                // before the second batch) and the API requires state
                // calls before the function returns, so the group is
                // consumed here; only the running (min id, its newest
                // ts) and the group max ts are kept.
                var minId = Long.MaxValue
                var minTs = Long.MinValue
                var maxTs = Long.MinValue
                rows.foreach { e =>
                  val t = e.ts.getTime
                  if (t > maxTs) maxTs = t
                  if (e.id < minId) { minId = e.id; minTs = t }
                  else if (e.id == minId && t > minTs) minTs = t
                }
                if (maxTs == Long.MinValue) Iterator.empty // no rows
                else {
                  val prior = state.getOption
                  if (prior.isEmpty) state.update(BandState(minId))
                  if (streaming) {
                    state.setTimeoutTimestamp(
                      math.max(maxTs, state.getCurrentWatermarkMs()) +
                        latenessMs)
                  }
                  // claim emitted only by the batch that first claims
                  // the band: losers can never total `bands` claims,
                  // and a redelivered winner's claim row already exists
                  // — either emission would only distort the per-doc
                  // tally.
                  if (prior.isEmpty)
                    Iterator.single(
                      BandClaim(minId, new java.sql.Timestamp(minTs)))
                  else Iterator.empty
                }
              }
            }
        warmStart match {
          case Some(path) =>
            val init = spark.read.parquet(path)
              .select(col("bkey").cast("long"), col("winner").cast("long"))
              .as[(Long, Long)]
              .groupByKey(_._1)
              .mapValues(v => BandState(v._2))
            grouped.flatMapGroupsWithState(OutputMode.Append(),
              GroupStateTimeout.EventTimeTimeout, init)(func)
          case None =>
            grouped.flatMapGroupsWithState(OutputMode.Append(),
              GroupStateTimeout.EventTimeTimeout)(func)
        }
      } else {
        // VERIFY mode (the batch twin is Dedup.minhashNovelVerified): a
        // band suppresses a doc only if the band WINNER's stored
        // signature actually agrees on >= threshold of the slots; a
        // below-threshold collision emits a PASS row instead, so the
        // same count === bands tally re-admits the doc. Costs: the
        // signature rides the banding shuffle (numHashes longs × bands
        // per doc) and per-band state grows to numHashes longs plus up
        // to verify_memory re-admitted ids — the documented trade; the
        // group pass dedups per doc id in a map bounded by
        // max_batch_group entries (each holding a signature: budget
        // ≈ cap × numHashes × 8 B). Over-cap docs are suppressed (each
        // shares the band with the kept minimum). PASS rows are
        // idempotent via the per-band pass memory (scaladoc); past the
        // cap or with verify_memory: 0 they degrade to per-delivery
        // and a redelivered passer conservatively flips to not-novel.
        // NOTE: adding `passed` to BandStateV changed the verify-mode
        // state encoder — restarting a verify-mode query from a
        // checkpoint written before this field fails Spark's state
        // schema check; start a fresh checkpoint (the unverified path
        // is unchanged).
        val log = org.slf4j.LoggerFactory.getLogger(getClass)
        val bandedV = sig.select(col("id"), col("ts"),
            explode(keys).as("bkey"), col("sig"))
          .as[BandEventV]
        // column-grouped like the plain path (no AppendColumns: each
        // band row carries a numHashes-long signature)
        val groupedV = bandedV.groupBy(col("bkey").as("value"))
          .as[Long, BandEventV]
        val funcV = (_: Long, rows: Iterator[BandEventV],
             state: GroupState[BandStateV]) => {
              if (state.hasTimedOut) { state.remove(); Iterator.empty }
              else {
                val seen =
                  new scala.collection.mutable.LongMap[(Long, Array[Long])]()
                var minId = Long.MaxValue
                var minTs = Long.MinValue
                var minSig: Array[Long] = null
                var maxTs = Long.MinValue
                var dropped = 0L
                rows.foreach { e =>
                  val t = e.ts.getTime
                  if (t > maxTs) maxTs = t
                  // minSig == null doubles as the first-row test: a doc
                  // id equal to Long.MaxValue (the initializer) would
                  // otherwise never assign its signature and persist a
                  // null into band state
                  if (minSig == null || e.id < minId) {
                    minId = e.id; minTs = t; minSig = e.sig
                  } else if (e.id == minId && t > minTs) minTs = t
                  if (seen.contains(e.id)) {
                    val cur = seen(e.id)
                    if (t > cur._1) seen(e.id) = (t, cur._2)
                  } else if (seen.size < maxGroup) seen(e.id) = (t, e.sig)
                  else dropped += 1
                }
                if (maxTs == Long.MinValue) Iterator.empty // no rows
                else {
                  if (!seen.contains(minId)) seen(minId) = (minTs, minSig)
                  if (dropped > 0) log.warn(
                    s"NearDupOp(verify): band group exceeded " +
                      s"max_batch_group=$maxGroup; $dropped over-cap " +
                      "rows suppressed unverified")
                  val prior = state.getOption
                  val winner = prior.map(_.winner).getOrElse(minId)
                  val wsig = prior.map(_.sig).getOrElse(minSig)
                  val passedPrior =
                    prior.map(_.passed).getOrElse(Array.emptyLongArray)
                  if (streaming) {
                    state.setTimeoutTimestamp(
                      math.max(maxTs, state.getCurrentWatermarkMs()) +
                        latenessMs)
                  }
                  val out = scala.collection.mutable.ArrayBuffer
                    .empty[BandClaim]
                  val newPassers = scala.collection.mutable.ArrayBuffer
                    .empty[Long]
                  var unremembered = 0L
                  if (prior.isEmpty)
                    out += BandClaim(minId, new java.sql.Timestamp(minTs))
                  seen.foreach { case (id, (t, s)) =>
                    if (id != winner &&
                      java.util.Arrays.binarySearch(passedPrior, id) < 0) {
                      var eq = 0
                      var i = 0
                      val n = math.min(s.length, wsig.length)
                      while (i < n) { if (s(i) == wsig(i)) eq += 1; i += 1 }
                      if (eq.toDouble / numHashes < threshold) {
                        out += BandClaim(id, new java.sql.Timestamp(t))
                        // remember the pass so a redelivery never
                        // re-emits; beyond the memory cap, re-admission
                        // degrades to per-delivery (the conservative
                        // direction: an inflated tally suppresses)
                        if (passedPrior.length + newPassers.length <
                          verifyMemory) newPassers += id
                        else unremembered += 1
                      }
                    }
                  }
                  // aggregate warn (like the max_batch_group one), and
                  // only for genuine overflow — verify_memory: 0 is the
                  // documented per-delivery opt-out, not a surprise
                  if (unremembered > 0 && verifyMemory > 0) log.warn(
                    s"NearDupOp(verify): pass memory full " +
                      s"(verify_memory=$verifyMemory); $unremembered " +
                      "re-admissions this batch are not " +
                      "redelivery-idempotent")
                  if (prior.isEmpty || newPassers.nonEmpty) {
                    val passed =
                      if (newPassers.isEmpty) passedPrior
                      else (passedPrior ++ newPassers).sorted
                    state.update(BandStateV(winner, wsig, passed))
                  }
                  out.iterator
                }
              }
            }
        warmStart match {
          case Some(path) =>
            // verify-mode warm start: the index must carry winner
            // SIGNATURES (minhashBandWinners(withSignatures = true));
            // warm bands start with an empty pass memory — a stream
            // doc re-admitted against a warm winner is remembered
            // exactly like one re-admitted against a streamed winner
            val raw = spark.read.parquet(path)
            require(raw.columns.contains("sig"),
              s"NearDupOp: verify-mode warm_start index at $path has " +
                "no 'sig' column — export it with " +
                "Dedup.minhashBandWinners(withSignatures = true)")
            val init = raw
              .select(col("bkey").cast("long"), col("winner").cast("long"),
                col("sig"))
              .as[(Long, Long, Array[Long])]
              .groupByKey(_._1)
              .mapValues(v => BandStateV(v._2, v._3, Array.emptyLongArray))
            groupedV.flatMapGroupsWithState(OutputMode.Append(),
              GroupStateTimeout.EventTimeTimeout, init)(funcV)
          case None =>
            groupedV.flatMapGroupsWithState(OutputMode.Append(),
              GroupStateTimeout.EventTimeTimeout)(funcV)
        }
      }
    // novel iff the doc claimed every one of its `bands` bands (at most
    // one claim row exists per band, so the count is duplicate-proof);
    // the aggregate finalizes per window in append mode (allowed after
    // flatMapGroupsWithState in Append). Re-declare the watermark on
    // the FMGWS output so the window aggregate's eviction horizon is
    // explicit rather than inherited.
    val claimDf = if (streaming)
      claims.toDF().withWatermark("ts", lateness)
    else claims.toDF()
    val novel = claimDf
      .groupBy(window(col("ts"), win).as("__win"), col("id"))
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") === bands)
      .select(col("__win.start").as("window_start"), col("id").as(idCol))
    Seq(novel)
  }

  /** "N minutes/seconds/hours/days" → milliseconds (the subset the
    * topology YAML uses; full interval strings go to withWatermark). */
  private[ops] def parseMs(s: String): Long = {
    val iv = org.apache.spark.sql.catalyst.util.IntervalUtils
      .stringToInterval(org.apache.spark.unsafe.types.UTF8String.fromString(s))
    require(iv.months == 0, s"month-based lateness unsupported: $s")
    iv.days * 86400000L + iv.microseconds / 1000L
  }
}
