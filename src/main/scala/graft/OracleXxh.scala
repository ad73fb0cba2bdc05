package graft

/** DuckDB oracle SQL for the xxhash64-based approximate-dedup and LSH
  * operators — the queries that were "rows-only by design" through round 3
  * because DuckDB has no xxhash64.
  *
  * [[prologue]] implements Spark's XXH64 (seed-chained `xxhash64`,
  * `XXH64.hashLong`, `XXH64.hashInt`, and the full variable-length
  * byte-stream hash) as DuckDB SQL macros, validated bit-exact against
  * `org.apache.spark.sql.functions.xxhash64` over random strings (all
  * tail lengths 0..39 plus multi-stripe 63/64/65/100/200/256), longs,
  * ints, and multi-argument seed chains. With the hash replicated, every
  * minhash/simhash/RHP-LSH pipeline is ordinary SQL and the driver's
  * DuckDB gate hash-checks them end to end.
  *
  * Engineering notes (all load-bearing, found the hard way):
  *  - All values ride as non-negative HUGEINT (int128) in [0, 2^64);
  *    mod-2^64 wrap uses bitwise AND/shift ONLY — HUGEINT `%`/`//`
  *    compile to 128-bit division, ~50x slower than AND.
  *  - 64x64->64 multiply splits into 32-bit halves so no partial product
  *    overflows int128.
  *  - Signedness: Spark longs are signed. Bit-identical ops (xor, band
  *    values, equality) run unsigned; ORDER-sensitive ops (minhash min)
  *    flip the sign bit (xor 2^63) so unsigned order == signed order,
  *    and flip back after the min. `g_sgn` converts to signed BIGINT
  *    only on small materialized columns — wrapping a big macro
  *    expression in CASE collapses DuckDB's vectorized evaluation into
  *    selection-vector fragments (measured 50x).
  *  - Never NEST two macro hash calls textually: macro expansion
  *    duplicates arguments combinatorially (g_mul64 references each arg
  *    3x, g_fmix its argument 72x), so a nested call explodes past the
  *    binder's 128-deep recursion limit. Hash chains are staged through
  *    MATERIALIZED CTEs instead — each level reads the previous level's
  *    column.
  *  - Lambdas capturing an outer list copy it per element (O(n^2));
  *    sequential folds iterate over pre-zipped lists
  *    (`list_zip`/`list_prepend`) so nothing is captured.
  *  - UTF-8 bytes (contract closed round 13): Spark hashes UTF-8
  *    BYTES; `g_bytes` emits them via per-codepoint 1/2/3/4-byte
  *    expansion (`g_utf8` — DuckDB has no BLOB byte reader, but its
  *    string indexing is codepoint-wise, verified for astral planes
  *    and combining sequences). ASCII keeps the old single-`ord` fast
  *    path behind a `strlen = length` test, so the 26 heavy oracles
  *    pay nothing on today's corpus. Non-ASCII bit-exactness vs Spark
  *    is pinned by tools/xxh_selftest.py (accents/CJK/emoji/combining
  *    across tail-length classes). The corpus-is-ASCII pin
  *    (TextDedupSpec) stays for the OTHER oracle families — and since
  *    round 14 their contract is ENFORCED, not assumed: md5 itself is
  *    byte-exact in both engines (DuckDB md5(VARCHAR) hashes UTF-8
  *    bytes, verified against the JVM), but DuckDB can neither slice
  *    nor md5 BLOBs and its `lower`/`upper` are per-codepoint (no
  *    final-sigma/ß→SS context). Two tiers cover that exposure. The
  *    GATE tier: queries that MANUFACTURE their compare key through a
  *    casing transform or a byte/char slice (q_normalize,
  *    q_fingerprint, q_dedup_against, q_pipeline_corpus,
  *    q_pipeline_incremental, q_corpus_card, q_frame_sample,
  *    q_scalar_funcs) wrap their text input in `Text.asciiOracleGuard`
  *    — plan-side length==octet_length, a loud raise_error naming the
  *    query on any non-ASCII row; the guard survives a corpus swap, so
  *    these queries can never silently diverge on user data. The
  *    CORPUS-PIN tier: every tokenizing oracle also replays `lower`
  *    (Text.tokensHof) — guarding dozens of queries per-row would tax
  *    the hot family for the same invariant, so that tier rests on the
  *    corpus-is-ASCII pin instead, which is CHECKED, not assumed
  *    (TextDedupSpec asserts zero non-ASCII bytes across documents
  *    text+lang+source at both oracle scale factors). Queries whose
  *    only hash is md5 of a RAW string with a hex-prefix slice are
  *    byte-exact over ALL UTF-8 and carry no guard: q_paragraph_dedup
  *    dropped its guard in r15 and deliberately injects multi-byte
  *    paragraphs in both engines to keep that closure exercised.
  *
  * Every SQL string here is `prologue + query`; `CREATE OR REPLACE`
  * keeps the macros idempotent when the driver runs many oracles on one
  * connection. The pair queries replicate the engine's BoundedCollect
  * bucket caps (`HAVING count(*) <= cap` per band key — an overflowing
  * bucket yields NO pairs in both engines), so the oracles stay exact
  * on corpora with boilerplate-heavy buckets, not just on today's data.
  */
object OracleXxh {

  /** XXH64 macro library (see object doc). */
  val prologue: String =
"""-- Spark-compatible XXH64 in DuckDB SQL. All values are HUGEINT in [0,2^64);
-- mod-2^64 wrap via bitwise AND/shifts (128-bit division is ~50x slower).
CREATE OR REPLACE MACRO g_u64(x) AS x & 18446744073709551615::HUGEINT;
CREATE OR REPLACE MACRO g_mul64(a, b) AS (((((a >> 32) * (b & 4294967295) + (a & 4294967295) * (b >> 32)) & 4294967295) << 32) + (a & 4294967295) * (b & 4294967295)) & 18446744073709551615::HUGEINT;
CREATE OR REPLACE MACRO g_rotl(x, n) AS ((x << n) & 18446744073709551615::HUGEINT) | (x >> (64 - n));
CREATE OR REPLACE MACRO g_fmix(h0) AS
 list_transform([g_mul64(xor(h0, h0 >> 33), 14029467366897019727::HUGEINT)], h1 ->
  list_transform([g_mul64(xor(h1, h1 >> 29), 1609587929392839161::HUGEINT)], h2 ->
   xor(h2, h2 >> 32))[1])[1];
-- stripe round: v' = rotl31(v + w*P2) * P1
CREATE OR REPLACE MACRO g_rnd(v, w) AS g_mul64(g_rotl(g_u64(v + g_mul64(w, 14029467366897019727::HUGEINT)), 31), 11400714785074694791::HUGEINT);
-- merge round: h' = (h ^ rnd(0, v)) * P1 + P4
CREATE OR REPLACE MACRO g_mrg(h, v) AS g_u64(g_mul64(xor(h, g_rnd(0::HUGEINT, v)), 11400714785074694791::HUGEINT) + 9650029242287828579::HUGEINT);
-- tail 8-byte word: h' = rotl27(h ^ rnd(0, w)) * P1 + P4
CREATE OR REPLACE MACRO g_tw(h, w) AS g_u64(g_mul64(g_rotl(xor(h, g_rnd(0::HUGEINT, w)), 27), 11400714785074694791::HUGEINT) + 9650029242287828579::HUGEINT);
-- tail 4-byte word: h' = rotl23(h ^ w*P1) * P2 + P3
CREATE OR REPLACE MACRO g_t4(h, w) AS g_u64(g_mul64(g_rotl(xor(h, g_mul64(w, 11400714785074694791::HUGEINT)), 23), 14029467366897019727::HUGEINT) + 1609587929392839161::HUGEINT);
-- tail byte: h' = rotl11(h ^ b*P5) * P1
CREATE OR REPLACE MACRO g_tb(h, b) AS g_mul64(g_rotl(xor(h, g_mul64(b, 2870177450012600261::HUGEINT)), 11), 11400714785074694791::HUGEINT);
-- little-endian words from a byte list, 1-based position
CREATE OR REPLACE MACRO g_w64(bl, p) AS bl[p]::HUGEINT | (bl[p+1]::HUGEINT << 8) | (bl[p+2]::HUGEINT << 16) | (bl[p+3]::HUGEINT << 24) | (bl[p+4]::HUGEINT << 32) | (bl[p+5]::HUGEINT << 40) | (bl[p+6]::HUGEINT << 48) | (bl[p+7]::HUGEINT << 56);
CREATE OR REPLACE MACRO g_w32(bl, p) AS bl[p]::HUGEINT | (bl[p+1]::HUGEINT << 8) | (bl[p+2]::HUGEINT << 16) | (bl[p+3]::HUGEINT << 24);
CREATE OR REPLACE MACRO g_sgn(v) AS CASE WHEN v >= 9223372036854775808::HUGEINT THEN (v - 18446744073709551616::HUGEINT)::BIGINT ELSE v::BIGINT END;
-- XXH64.hashLong(v, seed): v signed BIGINT in, unsigned HUGEINT out
CREATE OR REPLACE MACRO g_xxh_long(v, seed) AS g_fmix(g_tw(g_u64(seed + 2870177450012600269::HUGEINT), g_u64(v::HUGEINT)));
-- XXH64.hashInt(v, seed)
CREATE OR REPLACE MACRO g_xxh_int(v, seed) AS g_fmix(g_t4(g_u64(seed + 2870177450012600265::HUGEINT), v::HUGEINT & 4294967295::HUGEINT));
-- full XXH64 over a byte list (any length), returns unsigned HUGEINT.
-- lambda-let chains bind intermediates (macros cannot hold subqueries over columns).
CREATE OR REPLACE MACRO g_xxh_bytes(bl, seed) AS
list_transform([len(bl)], n ->
 list_transform([n // 32], nstr ->
  list_transform([CASE WHEN n >= 32 THEN
      list_transform([list_reduce(
        list_prepend(
          {v1: g_u64(seed + 25430182151971714518::HUGEINT), v2: g_u64(seed + 14029467366897019727::HUGEINT), v3: g_u64(seed), v4: g_u64(seed - 11400714785074694791::HUGEINT)},
          list_transform(range(0, nstr), st -> {v1: g_w64(bl, 32*st+1), v2: g_w64(bl, 32*st+9), v3: g_w64(bl, 32*st+17), v4: g_w64(bl, 32*st+25)})),
        (a, e) -> {v1: g_rnd(a.v1, e.v1), v2: g_rnd(a.v2, e.v2), v3: g_rnd(a.v3, e.v3), v4: g_rnd(a.v4, e.v4)})],
       va -> g_mrg(g_mrg(g_mrg(g_mrg(g_u64(g_rotl(va.v1, 1) + g_rotl(va.v2, 7) + g_rotl(va.v3, 12) + g_rotl(va.v4, 18)), va.v1), va.v2), va.v3), va.v4))[1]
    ELSE g_u64(seed + 2870177450012600261::HUGEINT) END], h0 ->
   list_transform([list_reduce(
      list_prepend(g_u64(h0 + n),
        list_transform(range(0, (n - 32*nstr) // 8), tt -> g_w64(bl, 32*nstr + 8*tt + 1))),
      (a, w) -> g_tw(a, w))], h1 ->
    list_transform([CASE WHEN n % 8 >= 4 THEN g_t4(h1, g_w32(bl, (n//8)*8 + 1)) ELSE h1 END], h2 ->
     g_fmix(list_reduce(
      list_prepend(h2,
        list_transform(range((n//8)*8 + CASE WHEN n%8>=4 THEN 4 ELSE 0 END + 1, n + 1), p -> bl[p]::HUGEINT)),
      (a, b) -> g_tb(a, b))))[1])[1])[1])[1])[1];
-- Spark xxhash64 over a string (seed 42), signed BIGINT out. Spark
-- hashes UTF-8 BYTES; g_bytes emits them from DuckDB's per-CODEPOINT
-- string indexing (verified: s[x]/length() are codepoint-wise, incl.
-- astral planes and combining sequences). ASCII fast path: when byte
-- length == char length the old single-ord transform runs unchanged
-- (zero hot-path cost on ASCII corpora); otherwise each codepoint
-- expands to its 1/2/3/4-byte UTF-8 form (RFC 3629 arithmetic) and
-- the per-char lists flatten. Bit-exact vs Spark for non-ASCII pinned
-- by tools/xxh_selftest.py (accents/CJK/emoji/combining strings).
CREATE OR REPLACE MACRO g_utf8(c) AS CASE
  WHEN c < 128 THEN [c]
  WHEN c < 2048 THEN [192 + (c >> 6), 128 + (c & 63)]
  WHEN c < 65536 THEN [224 + (c >> 12), 128 + ((c >> 6) & 63), 128 + (c & 63)]
  ELSE [240 + (c >> 18), 128 + ((c >> 12) & 63), 128 + ((c >> 6) & 63), 128 + (c & 63)] END;
CREATE OR REPLACE MACRO g_bytes(s) AS CASE
  WHEN strlen(s) = length(s) THEN list_transform(range(1, length(s)+1), x -> ord(s[x]))
  ELSE flatten(list_transform(range(1, length(s)+1), x -> g_utf8(unicode(s[x])))) END;
CREATE OR REPLACE MACRO g_xxh_str(s) AS g_sgn(g_xxh_bytes(g_bytes(s), 42::HUGEINT));"""

  /** Windowed hashed-bucket TVD vs a frozen reference — the q_drift_dag
    * replay (graft.streaming.ops.DriftOp cells through Topology.runBatch
    * + DriftOp.finish). Even doc_ids < 480 are the monitored stream with
    * 4 synthetic hourly windows (win_off = 3600·((doc_id//2) % 4)); odd
    * doc_ids < 480 are the frozen reference. bucket replays Spark's
    * seed-chained `pmod(xxhash64(lit(seed), token), buckets)`: the int
    * literal hashes first (g_xxh_int at Spark's default seed 42), the
    * token's bytes hash with THAT as seed, then signed pmod. The TVD
    * grid is the key union DriftOp.finishBy folds: every (window,
    * reference-bucket) cell participates (buckets absent from a window
    * still carry drift mass), integer cross-multiplied numerators, one
    * double cast. */
  def q_drift_dag(buckets: Int, seed: Int, epoch0: Long): String = {
    val bkt = s"((g_sgn(g_xxh_bytes(g_bytes(t), " +
      s"g_xxh_int($seed, 42::HUGEINT))) % $buckets) + $buckets) " +
      s"% $buckets"
    prologue + "\n" +
      s"""WITH wdoc AS MATERIALIZED (
         |  SELECT 3600 * ((doc_id // 2) % 4) AS win_off,
         |    unnest(list_filter(string_split(lower(trim(text)), ' '),
         |      t -> len(t) > 0)) AS t
         |  FROM documents WHERE doc_id % 2 = 0 AND doc_id < 480),
         |ca AS MATERIALIZED (
         |  SELECT win_off, $bkt AS bucket, count(*)::HUGEINT AS cnt_a
         |  FROM wdoc GROUP BY 1, 2),
         |cb AS MATERIALIZED (
         |  SELECT $bkt AS bucket, count(*)::HUGEINT AS cnt_b
         |  FROM (SELECT unnest(list_filter(string_split(
         |      lower(trim(text)), ' '), t -> len(t) > 0)) AS t
         |    FROM documents WHERE doc_id % 2 = 1 AND doc_id < 480)
         |  GROUP BY 1),
         |wt AS (SELECT win_off, sum(cnt_a) AS n_a FROM ca GROUP BY 1),
         |rt AS (SELECT sum(cnt_b) AS n_b FROM cb),
         |grid AS (SELECT w.win_off, b.bucket, b.cnt_b
         |  FROM wt w CROSS JOIN cb b),
         |j AS (SELECT coalesce(c.win_off, g.win_off) AS win_off,
         |    coalesce(c.cnt_a, 0::HUGEINT) AS cnt_a,
         |    coalesce(g.cnt_b, 0::HUGEINT) AS cnt_b
         |  FROM ca c FULL OUTER JOIN grid g
         |    ON c.win_off = g.win_off AND c.bucket = g.bucket)
         |SELECT CAST($epoch0 + j.win_off AS BIGINT) AS window_start,
         |  CAST(w.n_a AS BIGINT) AS n_a, CAST(r.n_b AS BIGINT) AS n_b,
         |  CAST(sum(abs(j.cnt_a * r.n_b - j.cnt_b * w.n_a))
         |    AS DOUBLE) AS tvd_num,
         |  CAST(sum(abs(j.cnt_a * r.n_b - j.cnt_b * w.n_a)) AS DOUBLE)
         |    / (2.0 * CAST(w.n_a AS DOUBLE) * CAST(r.n_b AS DOUBLE))
         |    AS tvd
         |FROM j JOIN wt w USING (win_off) CROSS JOIN rt r
         |GROUP BY j.win_off, w.n_a, r.n_b
         |ORDER BY window_start""".stripMargin
  }

  /** Rolling Rabin-Karp fingerprint: same mod-prime fold over token xxhash64s as Text.rollingFingerprint. */
  val q_fingerprint_rolling: String =
    prologue + "\n" +
"""WITH toks AS (SELECT doc_id, list_filter(string_split(lower(trim(text)), ' '), t -> len(t) > 0) AS ts FROM documents)
SELECT doc_id,
  list_reduce(list_prepend(0::BIGINT, list_transform(ts, t ->
    ((g_xxh_str(t) % 1000000007) + 1000000007) % 1000000007)),
    (acc, h) -> (acc * 1000003 + h) % 1000000007) AS rfp
FROM toks ORDER BY doc_id"""

  /** [[graft.streaming.ops.HeavyHittersOp]] DAG-twin replay: the
    * fixture keeps Misra-Gries in its exact regime (5 distinct event
    * types per hour window, far below m), so est_count is the exact
    * per-(window, item) count and the sketch's (-count, key) finish
    * order is a plain row_number — no fold replay needed (the
    * decrementing regime is covered by [[q_heavy_hitters_oracle]]). */
  def q_heavyhitters_dag(topJ: Int): String =
    prologue + "\n" +
      s"""WITH c AS (SELECT date_trunc('hour', ts) AS w,
         |    g_xxh_str(event_type) AS item, count(*)::BIGINT AS cnt
         |  FROM events
         |  WHERE ts < TIMESTAMP '2024-01-08' GROUP BY 1, 2),
         |rk AS (SELECT w, item, cnt, row_number() OVER (
         |    PARTITION BY w ORDER BY cnt DESC, item) AS rank FROM c)
         |SELECT CAST(epoch(w) AS BIGINT) AS window_start,
         |  rank::BIGINT AS rank, item, cnt AS est_count
         |FROM rk WHERE rank <= $topJ
         |ORDER BY window_start, rank""".stripMargin

  /** [[graft.functions.FreqItems.orderedFold]] replay: the bounded
    * ordered per-lang token-hash sample folded through the classic
    * Misra-Gries step as a `list_reduce` whose accumulator is the MG
    * state list (insertion-ordered `STRUCT(k, c)[]`, the init state
    * prepended and each item lifted into the same list type — the
    * g_xxh_bytes fold-typing trick). State transitions mirror the
    * engine bit-for-bit: present key +1, room left append (k, 1),
    * full decrement-all drop-zeros. */
  def q_heavy_hitters_oracle(m: Int, maxItems: Int, topJ: Int): String =
    prologue + "\n" +
      s"""WITH toks AS MATERIALIZED (SELECT doc_id, lang,
         |    list_filter(string_split(lower(trim(text)), ' '),
         |                t -> len(t) > 0) AS ts
         |  FROM documents WHERE doc_id < 200),
         |tok AS MATERIALIZED (
         |  SELECT lang, doc_id, j - 1 AS pos, g_xxh_str(ts[j]) AS h
         |  FROM toks, unnest(generate_series(1, len(ts))) AS u(j)),
         |ordered AS MATERIALIZED (
         |  SELECT lang, (list(h ORDER BY doc_id, pos))[1:$maxItems]
         |    AS items
         |  FROM tok GROUP BY lang),
         |folded AS MATERIALIZED (SELECT lang,
         |  list_reduce(
         |    list_prepend([]::STRUCT(k BIGINT, c BIGINT)[],
         |      list_transform(items,
         |        x -> [{'k': x, 'c': NULL}]::STRUCT(k BIGINT, c BIGINT)[])),
         |    (acc, e) -> CASE
         |      WHEN len(list_filter(acc, s -> s.k = e[1].k)) > 0
         |        THEN list_transform(acc, s ->
         |          CASE WHEN s.k = e[1].k
         |               THEN {'k': s.k, 'c': s.c + 1} ELSE s END)
         |      WHEN len(acc) < $m
         |        THEN list_append(acc, {'k': e[1].k, 'c': 1::BIGINT})
         |      ELSE list_filter(
         |        list_transform(acc, s -> {'k': s.k, 'c': s.c - 1}),
         |        s -> s.c > 0)
         |    END) AS st
         |  FROM ordered),
         |ex AS (SELECT lang, u.s.k AS token_hash, u.s.c AS est_count
         |       FROM folded, unnest(st) AS u(s)),
         |rk AS (SELECT lang, token_hash, est_count,
         |         row_number() OVER (PARTITION BY lang
         |           ORDER BY est_count DESC, token_hash) AS rank
         |       FROM ex)
         |SELECT lang, rank::BIGINT AS rank, token_hash,
         |       est_count::BIGINT AS est_count
         |FROM rk WHERE rank <= $topJ ORDER BY lang, rank""".stripMargin

  /** [[graft.functions.RhpProject]] replay: the staged hashInt ±1 plane
    * table of the q_embed_neardup_lsh chain, but emitting the scaled
    * per-plane sums instead of sign bits. */
  def q_rp_project(outDim: Int, seed: Int): String =
    prologue + "\n" +
      s"""WITH ps1 AS MATERIALIZED (
         |  SELECT g_xxh_int($seed::INTEGER, 42::HUGEINT) AS base),
         |ps2 AS MATERIALIZED (
         |  SELECT j, g_xxh_int(j::INTEGER, base) AS hj
         |  FROM ps1, range(0, $outDim) rj(j)),
         |ps3 AS MATERIALIZED (
         |  SELECT j, i, g_xxh_int(i::INTEGER, hj) AS hi
         |  FROM ps2, (SELECT unnest(range(0,
         |    (SELECT max(len(embedding)) FROM embeddings))) AS i) ri),
         |planes AS MATERIALIZED (
         |  SELECT j, list(CASE WHEN (hi & 1) = 0 THEN 1.0 ELSE -1.0 END
         |                 ORDER BY i) AS pl
         |  FROM ps3 GROUP BY j)
         |SELECT e.vec_id, CAST(p.j AS INT) AS j,
         |  list_reduce(list_prepend(0.0,
         |    list_transform(list_zip(e.embedding, p.pl),
         |      x -> x[1]::DOUBLE * x[2])), (a, x) -> a + x)
         |    / sqrt(${outDim}.0) AS v
         |FROM embeddings e CROSS JOIN planes p
         |ORDER BY vec_id, j""".stripMargin

  /** [[graft.llm.Dsir]] replay: hashed unigram+bigram occurrence bags
    * (duplicates kept), Laplace-smoothed target/raw bucket models, and
    * the exact common-denominator ranking statistic
    * Σ c_b·((cnt_p+1)(C_q+B) − (cnt_q+1)(C_p+B)) in HUGEINT — the
    * integer pipeline is engine-portable where the paper's log-ratio
    * is not (ln ulp). `targetSql` is the SQL form of the target
    * predicate over `documents` columns. */
  private def dsirScoreCtes(buckets: Int, targetSql: String): String =
    s"""WITH toks AS MATERIALIZED (SELECT doc_id,
       |    list_filter(string_split(lower(trim(text)), ' '),
       |                t -> len(t) > 0) AS ts,
       |    CASE WHEN $targetSql THEN 1 ELSE 0 END AS tgt
       |  FROM documents),
       |f0 AS MATERIALIZED (
       |  SELECT doc_id, tgt,
       |    list_concat(
       |      list_transform(ts,
       |        t -> ((g_xxh_str(t) % $buckets) + $buckets) % $buckets),
       |      CASE WHEN len(ts) < 2 THEN []::BIGINT[]
       |           ELSE list_transform(range(1, len(ts)),
       |             i -> ((g_xxh_str(ts[i] || ' ' || ts[i+1]) % $buckets)
       |                    + $buckets) % $buckets) END) AS bs
       |  FROM toks),
       |f AS MATERIALIZED (SELECT doc_id, tgt, unnest(bs) AS b FROM f0),
       |bc AS MATERIALIZED (SELECT b, count(*)::HUGEINT AS cq,
       |              sum(tgt)::HUGEINT AS cp
       |       FROM f GROUP BY b),
       |tot AS MATERIALIZED (SELECT sum(cq)::HUGEINT AS tq, sum(cp)::HUGEINT AS tp
       |        FROM bc),
       |w AS MATERIALIZED (SELECT b, (cp + 1) * (tq + $buckets)
       |               - (cq + 1) * (tp + $buckets) AS wb
       |      FROM bc, tot),
       |dc AS MATERIALIZED (SELECT doc_id, b, count(*)::HUGEINT AS c
       |       FROM f GROUP BY doc_id, b),
       |sc AS MATERIALIZED (SELECT doc_id, sum(c) AS n_feats, sum(c * wb) AS score
       |       FROM dc JOIN w USING (b) GROUP BY doc_id)""".stripMargin

  // r7: both dsir outputs ship as BIGINT, not DECIMAL(38,0) — at oracle
  // scale |score| < 2^63, and int64 survives every pandas/pyarrow
  // conversion identically on both sides where Decimal objects may not
  // (DuckDB DECIMAL→pandas can widen to float64; parquet decimal stays
  // Decimal — same values, different canonical strings, r6 driver-red).
  // The engine keeps decimal(38,0) internally; only the oracle-facing
  // projection narrows, with ANSI cast raising loudly on overflow.
  def q_dsir_scores(buckets: Int, targetSql: String): String =
    prologue + "\n" + dsirScoreCtes(buckets, targetSql) + "\n" +
      """SELECT doc_id, CAST(n_feats AS BIGINT) AS n_feats,
        |       CAST(score AS BIGINT) AS score
        |FROM sc ORDER BY doc_id""".stripMargin

  // selection membership is pinned by the top-n subquery; the OUTER
  // order is doc_id to match the Spark artifact's row order exactly
  // (a row-order-sensitive driver hash was the other r6 suspect)
  def q_dsir_select(buckets: Int, targetSql: String, n: Int): String =
    prologue + "\n" + dsirScoreCtes(buckets, targetSql) + "\n" +
      s"""SELECT doc_id, CAST(score AS BIGINT) AS score
         |FROM (SELECT doc_id, score FROM sc
         |      ORDER BY score DESC, doc_id LIMIT $n)
         |ORDER BY doc_id""".stripMargin

  /** Winnowing prints: positional 3-gram hashes, w=4 window minima, value-dedup (WinnowKernel semantics). */
  val q_winnow: String =
    prologue + "\n" +
"""WITH toks AS (SELECT doc_id, list_filter(string_split(lower(trim(text)), ' '), t -> len(t) > 0) AS ts FROM documents),
g AS (SELECT doc_id, CASE WHEN len(ts) < 3 THEN []::BIGINT[] ELSE
        list_transform(range(1, len(ts) - 1),
          i -> g_xxh_str(ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) END AS gr
      FROM toks),
pr AS (SELECT doc_id, CASE
        WHEN len(gr) = 0 THEN []::BIGINT[]
        WHEN len(gr) < 4 THEN [list_min(gr)]
        ELSE list_distinct(list_transform(range(1, len(gr) - 2),
               i -> list_min(gr[i:i+3])))
       END AS prints FROM g)
SELECT doc_id, unnest(prints) AS print FROM pr ORDER BY doc_id, print"""

  /** Full MinHash+LSH pipeline: distinct shingle hashes -> 128-perm signatures (sign-bit-flipped unsigned min) -> 32 band keys (staged hashLong fold) -> bucket pairs -> exact signature-agreement estimate.
    * Parameterized on the `toks(id, ts)` base CTE so the same chain
    * replays both the in-corpus pipeline (ids = doc_id) and the
    * cross-corpus variant (parity-packed union ids). */
  /** The tokens → shingles → signature → band-key prefix of the minhash
    * chain (ends at `bk(id, bkey)`); [[minhashChainFrom]] extends it
    * with bucket capping, pair generation and signature verification.
    * Split out so band-collision-only consumers (q_minhash_novel) don't
    * drag the pair CTEs along. */
  private def minhashBandsFrom(toksCte: String): String =
toksCte + """,
sh AS MATERIALIZED (SELECT id, list_distinct(
    list_transform(range(1, len(ts) - 1),
      i -> g_xxh_bytes(g_bytes(ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]),
                       42::HUGEINT))) AS hs
  FROM toks),
ex AS MATERIALIZED (SELECT id, unnest(hs) AS h FROM sh),
dh AS MATERIALIZED (SELECT DISTINCT h FROM ex),
kk AS MATERIALIZED (SELECT h, k FROM dh, range(0, 128) r(k)),
hk AS MATERIALIZED (SELECT h, k,
    xor(g_xxh_long(h, k::HUGEINT), 9223372036854775808::HUGEINT) AS hvf
  FROM kk),
dmin AS MATERIALIZED (SELECT ex.id, hk.k, min(hk.hvf) AS mf
  FROM ex JOIN hk USING (h) GROUP BY ex.id, hk.k),
sig0 AS MATERIALIZED (SELECT id,
    list(xor(mf, 9223372036854775808::HUGEINT) ORDER BY k) AS sig
  FROM dmin GROUP BY id),
sig AS MATERIALIZED (SELECT t.id, coalesce(s.sig, [9223372036854775807::HUGEINT,9223372036854775807::HUGEINT,9223372036854775807::HUGEINT,9223372036854775807::HUGEINT,9223372036854775807::HUGEINT,9223372036854775807::HUGEINT,9223372036854775807::HUGEINT,9223372036854775807::HUGEINT,9223372036854775807::HUGEINT,9223372036854775807::HUGEINT,9223372036854775807::HUGEINT,9223372036854775807::HUGEINT,9223372036854775807::HUGEINT,9223372036854775807::HUGEINT,9223372036854775807::HUGEINT,9223372036854775807::HUGEINT,9223372036854775807::HUGEINT,9223372036854775807::HUGEINT,9223372036854775807::HUGEINT,9223372036854775807::HUGEINT,9223372036854775807::HUGEINT,9223372036854775807::HUGEINT,9223372036854775807::HUGEINT,9223372036854775807::HUGEINT,9223372036854775807::HUGEINT,9223372036854775807::HUGEINT,9223372036854775807::HUGEINT,9223372036854775807::HUGEINT,9223372036854775807::HUGEINT,9223372036854775807::HUGEINT,9223372036854775807::HUGEINT,9223372036854775807::HUGEINT,9223372036854775807::HUGEINT,9223372036854775807::HUGEINT,9223372036854775807::HUGEINT,9223372036854775807::HUGEINT,9223372036854775807::HUGEINT,9223372036854775807::HUGEINT,9223372036854775807::HUGEINT,9223372036854775807::HUGEINT,9223372036854775807::HUGEINT,9223372036854775807::HUGEINT,9223372036854775807::HUGEINT,9223372036854775807::HUGEINT,9223372036854775807::HUGEINT,9223372036854775807::HUGEINT,9223372036854775807::HUGEINT,9223372036854775807::HUGEINT,9223372036854775807::HUGEINT,9223372036854775807::HUGEINT,9223372036854775807::HUGEINT,9223372036854775807::HUGEINT,9223372036854775807::HUGEINT,9223372036854775807::HUGEINT,9223372036854775807::HUGEINT,9223372036854775807::HUGEINT,9223372036854775807::HUGEINT,9223372036854775807::HUGEINT,9223372036854775807::HUGEINT,9223372036854775807::HUGEINT,9223372036854775807::HUGEINT,9223372036854775807::HUGEINT,9223372036854775807::HUGEINT,9223372036854775807::HUGEINT,9223372036854775807::HUGEINT,9223372036854775807::HUGEINT,9223372036854775807::HUGEINT,9223372036854775807::HUGEINT,9223372036854775807::HUGEINT,9223372036854775807::HUGEINT,9223372036854775807::HUGEINT,9223372036854775807::HUGEINT,9223372036854775807::HUGEINT,9223372036854775807::HUGEINT,9223372036854775807::HUGEINT,9223372036854775807::HUGEINT,9223372036854775807::HUGEINT,9223372036854775807::HUGEINT,9223372036854775807::HUGEINT,9223372036854775807::HUGEINT,9223372036854775807::HUGEINT,9223372036854775807::HUGEINT,9223372036854775807::HUGEINT,9223372036854775807::HUGEINT,9223372036854775807::HUGEINT,9223372036854775807::HUGEINT,9223372036854775807::HUGEINT,9223372036854775807::HUGEINT,9223372036854775807::HUGEINT,9223372036854775807::HUGEINT,9223372036854775807::HUGEINT,9223372036854775807::HUGEINT,9223372036854775807::HUGEINT,9223372036854775807::HUGEINT,9223372036854775807::HUGEINT,9223372036854775807::HUGEINT,9223372036854775807::HUGEINT,9223372036854775807::HUGEINT,9223372036854775807::HUGEINT,9223372036854775807::HUGEINT,9223372036854775807::HUGEINT,9223372036854775807::HUGEINT,9223372036854775807::HUGEINT,9223372036854775807::HUGEINT,9223372036854775807::HUGEINT,9223372036854775807::HUGEINT,9223372036854775807::HUGEINT,9223372036854775807::HUGEINT,9223372036854775807::HUGEINT,9223372036854775807::HUGEINT,9223372036854775807::HUGEINT,9223372036854775807::HUGEINT,9223372036854775807::HUGEINT,9223372036854775807::HUGEINT,9223372036854775807::HUGEINT,9223372036854775807::HUGEINT,9223372036854775807::HUGEINT,9223372036854775807::HUGEINT,9223372036854775807::HUGEINT,9223372036854775807::HUGEINT,9223372036854775807::HUGEINT,9223372036854775807::HUGEINT,9223372036854775807::HUGEINT,9223372036854775807::HUGEINT,9223372036854775807::HUGEINT,9223372036854775807::HUGEINT,9223372036854775807::HUGEINT,9223372036854775807::HUGEINT]) AS sig
  FROM (SELECT id FROM sh) t LEFT JOIN sig0 s USING (id)),
bs AS MATERIALIZED (SELECT id, b, sig[4*b+1] AS s1, sig[4*b+2] AS s2,
    sig[4*b+3] AS s3, sig[4*b+4] AS s4, g_xxh_int(b, 42::HUGEINT) AS a0
  FROM sig, range(0, 32) r(b)),
bk1 AS MATERIALIZED (SELECT id, b, s2, s3, s4, g_xxh_long(s1, a0) AS a1 FROM bs),
bk2 AS MATERIALIZED (SELECT id, b, s3, s4, g_xxh_long(s2, a1) AS a2 FROM bk1),
bk3 AS MATERIALIZED (SELECT id, b, s4, g_xxh_long(s3, a2) AS a3 FROM bk2),
bk AS MATERIALIZED (SELECT id, g_xxh_long(s4, a3) AS bkey FROM bk3)"""

  private def minhashChainFrom(toksCte: String): String =
    minhashBandsFrom(toksCte) + """,
bkc AS MATERIALIZED (SELECT bkey FROM bk GROUP BY bkey
  HAVING count(*) > 1 AND count(*) <= 1000),
pairs AS MATERIALIZED (SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM (SELECT bk.* FROM bk JOIN bkc USING (bkey)) a
  JOIN (SELECT bk.* FROM bk JOIN bkc USING (bkey)) b
    USING (bkey) WHERE a.id < b.id),
est AS (SELECT p.id_a, p.id_b,
    len(list_filter(range(1, 129), i -> sa.sig[i] = sb.sig[i])) / 128.0
      AS est_jaccard
  FROM pairs p JOIN sig sa ON sa.id = p.id_a JOIN sig sb ON sb.id = p.id_b)"""

  private val minhashCtes: String = minhashChainFrom(
"""toks AS (SELECT doc_id::BIGINT AS id, list_filter(string_split(lower(trim(text)), ' '), t -> len(t) > 0) AS ts FROM documents)""")

  val q_minhash_pairs: String =
    prologue + "\nWITH " + minhashCtes + "\n" +
"""SELECT id_a, id_b, est_jaccard FROM est
WHERE est_jaccard >= 0.4 ORDER BY id_a, id_b"""

  /** Cross-corpus near-dup dedup: candidates = every doc at packed id
    * 2*doc_id, reference = every 5th doc at 2*doc_id+1; the SAME chain
    * generates pairs; only cross-parity pairs at est >= 0.4 eliminate
    * the candidate side. Survivors listed by original doc_id. */
  val q_minhash_against: String =
    prologue + "\nWITH " + minhashChainFrom(
"""base AS (SELECT doc_id * 2 AS id, text FROM documents
          UNION ALL
          SELECT doc_id * 2 + 1 AS id, text FROM documents
          WHERE doc_id % 5 = 0),
toks AS (SELECT id::BIGINT AS id, list_filter(string_split(lower(trim(text)), ' '), t -> len(t) > 0) AS ts FROM base)""") + ",\n" +
"""losers AS (SELECT DISTINCT
    (CASE WHEN id_a % 2 = 0 THEN id_a ELSE id_b END) // 2 AS doc_id
  FROM est
  WHERE est_jaccard >= 0.4 AND id_a % 2 <> id_b % 2)
SELECT d.doc_id FROM documents d
LEFT JOIN losers l ON l.doc_id = d.doc_id
WHERE l.doc_id IS NULL ORDER BY d.doc_id"""

  /** The COMPLETE near-dedup pipeline, hash-checked end to end: the
    * minhash pair CTEs above, then the min-label transitive closure
    * (recursive CTE) and the keep-one-representative anti-join —
    * the SQL twin of `Dedup.dropNearDuplicates(docs, minhashPairs(...))`. */
  val q_minhash_dedup: String =
    prologue + "\nWITH RECURSIVE " + minhashCtes + ",\n" +
"""mp AS (SELECT id_a, id_b FROM est WHERE est_jaccard >= 0.4),
sym AS (SELECT id_a AS src, id_b AS dst FROM mp
        UNION SELECT id_b, id_a FROM mp),
reach(src, dst) AS (
  SELECT src, dst FROM sym
  UNION
  SELECT r.src, s2.dst FROM reach r JOIN sym s2 ON r.dst = s2.src),
comp AS (SELECT src AS id, least(src, min(dst)) AS component
         FROM reach GROUP BY src),
losers AS (SELECT id FROM comp WHERE id <> component)
SELECT d.doc_id FROM documents d
LEFT JOIN losers l ON l.id = d.doc_id
WHERE l.id IS NULL ORDER BY doc_id"""


  /** SimHash pipeline: token hashes -> 64-bit majority fingerprint -> 4 band keys -> Hamming<=3 verified pairs. */
  /** [[graft.llm.Dedup.minhashNovel]] replay: per band key the minimum
    * id holds the band; a doc is novel iff it holds EVERY one of its
    * band keys. Band-collision-only (no verify pass) — the streaming-
    * compatible semantics. Shingle-less docs never band (the sentinel
    * signature would glue unrelated short docs together) — they are
    * trivially novel. */
  val q_minhash_novel: String =
    prologue + "\nWITH " + minhashBandsFrom(
      """toks AS (SELECT doc_id::BIGINT AS id, list_filter(string_split(lower(trim(text)), ' '), t -> len(t) > 0) AS ts FROM documents)""") + ",\n" +
"""bkr AS (SELECT b.* FROM bk b JOIN sh USING (id) WHERE len(sh.hs) > 0),
firsts AS (SELECT bkey, min(id) AS w FROM bkr GROUP BY bkey),
novel AS (SELECT b.id,
    sum(CASE WHEN f.w = b.id THEN 1 ELSE 0 END) AS nw, count(*) AS nb
  FROM bkr b JOIN firsts f USING (bkey) GROUP BY b.id)
SELECT id AS doc_id FROM novel WHERE nw = nb
UNION ALL SELECT id AS doc_id FROM sh WHERE len(hs) = 0
ORDER BY doc_id"""

  /** [[graft.llm.Dedup.minhashBandWinners]] replay: the per-band
    * minimum-id winner table itself — the warm-start index the
    * streaming NearDupOp consumes. Band keys are emitted as SIGNED
    * 64-bit (two's complement of the unsigned XXH64 chain) to match
    * Spark's long-typed xxhash64. */
  val q_band_winners: String =
    prologue + "\nWITH " + minhashBandsFrom(
      """toks AS (SELECT doc_id::BIGINT AS id, list_filter(string_split(lower(trim(text)), ' '), t -> len(t) > 0) AS ts FROM documents)""") + ",\n" +
"""bkr AS (SELECT b.* FROM bk b JOIN sh USING (id) WHERE len(sh.hs) > 0),
firsts AS (SELECT bkey, min(id) AS winner FROM bkr GROUP BY bkey)
SELECT CASE WHEN bkey >= 9223372036854775808::HUGEINT
       THEN (bkey - 18446744073709551616::HUGEINT)::BIGINT
       ELSE bkey::BIGINT END AS bkey,
       winner
FROM firsts ORDER BY 1"""

  /** [[graft.llm.Dedup.minhashNovelVerified]] replay: band winners as
    * in q_minhash_novel, then every suppressed (id, winner) pair
    * verified against the full signatures — novel iff NO winner agrees
    * on ≥ 0.4 of the 128 slots. Shingle-less docs never band ⇒ never
    * suppressed. */
  val q_minhash_novel_verified: String =
    prologue + "\nWITH " + minhashBandsFrom(
      """toks AS (SELECT doc_id::BIGINT AS id, list_filter(string_split(lower(trim(text)), ' '), t -> len(t) > 0) AS ts FROM documents)""") + ",\n" +
"""bkr AS (SELECT b.* FROM bk b JOIN sh USING (id) WHERE len(sh.hs) > 0),
firsts AS (SELECT bkey, min(id) AS w FROM bkr GROUP BY bkey),
cand AS (SELECT DISTINCT b.id, f.w FROM bkr b JOIN firsts f USING (bkey)
  WHERE f.w <> b.id),
conf AS (SELECT DISTINCT c.id FROM cand c
  JOIN sig sa ON sa.id = c.id JOIN sig sb ON sb.id = c.w
  WHERE len(list_filter(range(1, 129), i -> sa.sig[i] = sb.sig[i])) / 128.0
        >= 0.4)
SELECT s.id AS doc_id FROM sh s LEFT JOIN conf ON conf.id = s.id
WHERE conf.id IS NULL ORDER BY doc_id"""

  /** [[graft.llm.Dedup.minhashNovel]] under a `shortDocs` policy, over
    * a corpus WITH shingle-less docs (every 50th doc's text replaced
    * by a 2-token string on both sides): "novel" admits each, "pair"
    * admits only the minimum id (all sentinel signatures are mutual
    * duplicates), "drop" admits none. */
  def q_minhash_novel_policy(policy: String): String = {
    val toks =
      """toks AS (SELECT doc_id::BIGINT AS id, list_filter(string_split(lower(trim(CASE WHEN doc_id % 50 = 0 THEN 'short ' || doc_id ELSE text END)), ' '), t -> len(t) > 0) AS ts FROM documents)"""
    val tail = policy match {
      case "novel" =>
        "\nUNION ALL SELECT id AS doc_id FROM sh WHERE len(hs) = 0"
      case "pair" =>
        "\nUNION ALL SELECT min(id) AS doc_id FROM sh WHERE len(hs) = 0 HAVING count(*) > 0"
      case "drop" => ""
      case other => throw new IllegalArgumentException(other)
    }
    prologue + "\nWITH " + minhashBandsFrom(toks) + ",\n" +
"""bkr AS (SELECT b.* FROM bk b JOIN sh USING (id) WHERE len(sh.hs) > 0),
firsts AS (SELECT bkey, min(id) AS w FROM bkr GROUP BY bkey),
novel AS (SELECT b.id,
    sum(CASE WHEN f.w = b.id THEN 1 ELSE 0 END) AS nw, count(*) AS nb
  FROM bkr b JOIN firsts f USING (bkey) GROUP BY b.id)
SELECT id AS doc_id FROM novel WHERE nw = nb""" + tail + "\nORDER BY doc_id"
  }

  val q_simhash_pairs: String =
    prologue + "\n" +
"""WITH toks AS (SELECT doc_id::BIGINT AS id, list_filter(string_split(lower(trim(text)), ' '), t -> len(t) > 0) AS ts FROM documents),
tt AS MATERIALIZED (SELECT id, unnest(ts) AS t FROM toks),
dt AS MATERIALIZED (SELECT DISTINCT t FROM tt),
dth AS MATERIALIZED (SELECT t, g_xxh_bytes(g_bytes(t), 42::HUGEINT) AS h
  FROM dt),
thh AS MATERIALIZED (SELECT tt.id, dth.h FROM tt JOIN dth USING (t)),
bits AS MATERIALIZED (SELECT id, b,
    sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS cnt
  FROM thh, range(0, 64) r(b) GROUP BY id, b),
sh0 AS (SELECT id, sum(CASE WHEN cnt > 0 THEN (1::HUGEINT << b)
                       ELSE 0::HUGEINT END) AS shu
  FROM bits GROUP BY id),
shv AS MATERIALIZED (SELECT t.id, coalesce(s.shu, 0::HUGEINT) AS shu
  FROM (SELECT id FROM toks) t LEFT JOIN sh0 s USING (id)),
banded AS MATERIALIZED (SELECT id, shu,
    g_xxh_long((shu >> (band*16)) & 65535, g_xxh_int(band, 42::HUGEINT))
      AS bkey
  FROM shv, range(0, 4) r(band)),
bkc AS MATERIALIZED (SELECT bkey FROM banded GROUP BY bkey
  HAVING count(*) > 1 AND count(*) <= 1000),
prs AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b,
    bit_count(xor(a.shu, b.shu))::INTEGER AS hamming
  FROM (SELECT banded.* FROM banded JOIN bkc USING (bkey)) a
  JOIN (SELECT banded.* FROM banded JOIN bkc USING (bkey)) b
    USING (bkey) WHERE a.id < b.id)
SELECT id_a, id_b, hamming FROM prs WHERE hamming <= 3
ORDER BY id_a, id_b"""

  /** RHP-LSH embedding near-dup: staged hashInt plane table, left-to-right double fold signatures, bucket pairs, exact cosine verify. */
  val q_embed_neardup_lsh: String =
    prologue + "\n" +
"""WITH ps1 AS MATERIALIZED (SELECT s, g_xxh_int(s::INTEGER, 42::HUGEINT) AS hs
  FROM (SELECT unnest([1, 2, 3, 4, 5, 6]) AS s) ss),
ps2 AS MATERIALIZED (SELECT s, hs, j, g_xxh_int(j::INTEGER, hs) AS hj
  FROM ps1, range(0, 6) rj(j)),
ps3 AS MATERIALIZED (SELECT s, j, i, g_xxh_int(i::INTEGER, hj) AS hi
  FROM ps2, (SELECT unnest(range(0, (SELECT max(len(embedding)) FROM embeddings))) AS i) ri),
planes AS MATERIALIZED (SELECT s, j,
    list(CASE WHEN (hi & 1) = 0 THEN 1.0 ELSE -1.0 END ORDER BY i) AS pl
  FROM ps3 GROUP BY s, j),
sj AS MATERIALIZED (SELECT e.vec_id, p.s, p.j,
    list_reduce(list_prepend(0.0,
      list_transform(list_zip(e.embedding, p.pl),
        x -> x[1]::DOUBLE * x[2])), (a, x) -> a + x) AS sval
  FROM embeddings e CROSS JOIN planes p),
sig AS MATERIALIZED (SELECT vec_id, s,
    sum(CASE WHEN sval >= 0 THEN (1::HUGEINT << j)
        ELSE 0::HUGEINT END) AS sig
  FROM sj GROUP BY vec_id, s),
bk AS MATERIALIZED (SELECT vec_id,
    g_xxh_long(sig, (SELECT hs FROM ps1 p WHERE p.s = sig_t.s)) AS bkey
  FROM sig sig_t),
bkc AS MATERIALIZED (SELECT bkey FROM bk GROUP BY bkey
  HAVING count(*) > 1 AND count(*) <= 2000),
pairs AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
          FROM (SELECT bk.* FROM bk JOIN bkc USING (bkey)) a
          JOIN (SELECT bk.* FROM bk JOIN bkc USING (bkey)) b
            USING (bkey) WHERE a.vec_id < b.vec_id)
SELECT p.id_a, p.id_b, (list_reduce(list_transform(list_zip(ea.embedding, eb.embedding),
    x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)),
    (acc, v) -> acc + v)
 / (sqrt(list_reduce(list_transform(ea.embedding,
      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (acc, v) -> acc + v))
  * sqrt(list_reduce(list_transform(eb.embedding,
      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (acc, v) -> acc + v)))) AS cosine
FROM pairs p JOIN embeddings ea ON ea.vec_id = p.id_a
             JOIN embeddings eb ON eb.vec_id = p.id_b
WHERE (list_reduce(list_transform(list_zip(ea.embedding, eb.embedding),
    x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)),
    (acc, v) -> acc + v)
 / (sqrt(list_reduce(list_transform(ea.embedding,
      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (acc, v) -> acc + v))
  * sqrt(list_reduce(list_transform(eb.embedding,
      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (acc, v) -> acc + v)))) >= 0.45
ORDER BY id_a, id_b"""

  /** [[graft.llm.Dedup.embeddingDedupAgainst]] replay: the RHP-LSH chain
    * of [[q_embed_neardup_lsh]] over the parity-packed union (candidates
    * at 2*vec_id, every-5th reference at 2*vec_id+1); cross-parity
    * cosine >= 0.45 eliminates the candidate side; survivors listed by
    * original vec_id. */
  val q_embed_against: String =
    prologue + "\n" +
"""WITH emb AS MATERIALIZED (
  SELECT vec_id * 2 AS vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id * 2 + 1 AS vec_id, embedding FROM embeddings
  WHERE vec_id % 5 = 0),
ps1 AS MATERIALIZED (SELECT s, g_xxh_int(s::INTEGER, 42::HUGEINT) AS hs
  FROM (SELECT unnest([1, 2, 3, 4, 5, 6]) AS s) ss),
ps2 AS MATERIALIZED (SELECT s, hs, j, g_xxh_int(j::INTEGER, hs) AS hj
  FROM ps1, range(0, 6) rj(j)),
ps3 AS MATERIALIZED (SELECT s, j, i, g_xxh_int(i::INTEGER, hj) AS hi
  FROM ps2, (SELECT unnest(range(0, (SELECT max(len(embedding)) FROM embeddings))) AS i) ri),
planes AS MATERIALIZED (SELECT s, j,
    list(CASE WHEN (hi & 1) = 0 THEN 1.0 ELSE -1.0 END ORDER BY i) AS pl
  FROM ps3 GROUP BY s, j),
sj AS MATERIALIZED (SELECT e.vec_id, p.s, p.j,
    list_reduce(list_prepend(0.0,
      list_transform(list_zip(e.embedding, p.pl),
        x -> x[1]::DOUBLE * x[2])), (a, x) -> a + x) AS sval
  FROM emb e CROSS JOIN planes p),
sig AS MATERIALIZED (SELECT vec_id, s,
    sum(CASE WHEN sval >= 0 THEN (1::HUGEINT << j)
        ELSE 0::HUGEINT END) AS sig
  FROM sj GROUP BY vec_id, s),
bk AS MATERIALIZED (SELECT vec_id,
    g_xxh_long(sig, (SELECT hs FROM ps1 p WHERE p.s = sig_t.s)) AS bkey
  FROM sig sig_t),
bkc AS MATERIALIZED (SELECT bkey FROM bk GROUP BY bkey
  HAVING count(*) > 1 AND count(*) <= 2000),
pairs AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
          FROM (SELECT bk.* FROM bk JOIN bkc USING (bkey)) a
          JOIN (SELECT bk.* FROM bk JOIN bkc USING (bkey)) b
            USING (bkey) WHERE a.vec_id < b.vec_id),
losers AS (SELECT DISTINCT
    (CASE WHEN p.id_a % 2 = 0 THEN p.id_a ELSE p.id_b END) // 2 AS vec_id
  FROM pairs p JOIN emb ea ON ea.vec_id = p.id_a
               JOIN emb eb ON eb.vec_id = p.id_b
  WHERE p.id_a % 2 <> p.id_b % 2
    AND (list_reduce(list_transform(list_zip(ea.embedding, eb.embedding),
      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)),
      (acc, v) -> acc + v)
   / (sqrt(list_reduce(list_transform(ea.embedding,
        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (acc, v) -> acc + v))
    * sqrt(list_reduce(list_transform(eb.embedding,
        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (acc, v) -> acc + v)))) >= 0.45)
SELECT e.vec_id FROM embeddings e
LEFT JOIN losers l ON l.vec_id = e.vec_id
WHERE l.vec_id IS NULL ORDER BY e.vec_id"""

  /** RHP-LSH similarity search: 4 seed tables at 8 bits, bucket candidates, exact cosine, top-5 rank. */
  val q_simsearch_lsh: String =
    prologue + "\n" +
"""WITH ps1 AS MATERIALIZED (SELECT s, g_xxh_int(s::INTEGER, 42::HUGEINT) AS hs
  FROM (SELECT unnest([1, 2, 3, 4]) AS s) ss),
ps2 AS MATERIALIZED (SELECT s, hs, j, g_xxh_int(j::INTEGER, hs) AS hj
  FROM ps1, range(0, 8) rj(j)),
ps3 AS MATERIALIZED (SELECT s, j, i, g_xxh_int(i::INTEGER, hj) AS hi
  FROM ps2, (SELECT unnest(range(0, (SELECT max(len(embedding)) FROM embeddings))) AS i) ri),
planes AS MATERIALIZED (SELECT s, j,
    list(CASE WHEN (hi & 1) = 0 THEN 1.0 ELSE -1.0 END ORDER BY i) AS pl
  FROM ps3 GROUP BY s, j),
sj AS MATERIALIZED (SELECT e.vec_id, p.s, p.j,
    list_reduce(list_prepend(0.0,
      list_transform(list_zip(e.embedding, p.pl),
        x -> x[1]::DOUBLE * x[2])), (a, x) -> a + x) AS sval
  FROM embeddings e CROSS JOIN planes p),
sig AS MATERIALIZED (SELECT vec_id, s,
    sum(CASE WHEN sval >= 0 THEN (1::HUGEINT << j)
        ELSE 0::HUGEINT END) AS sig
  FROM sj GROUP BY vec_id, s),
bk AS MATERIALIZED (SELECT vec_id,
    g_xxh_long(sig, (SELECT hs FROM ps1 p WHERE p.s = sig_t.s)) AS bkey
  FROM sig sig_t),
cand AS (SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS nbr_id
         FROM bk c JOIN bk q USING (bkey)
         WHERE q.vec_id < 5 AND q.vec_id <> c.vec_id),
scored AS (SELECT query_id, nbr_id,
    (list_reduce(list_transform(list_zip(eq.embedding, ec.embedding),
    x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)),
    (acc, v) -> acc + v)
 / (sqrt(list_reduce(list_transform(eq.embedding,
      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (acc, v) -> acc + v))
  * sqrt(list_reduce(list_transform(ec.embedding,
      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (acc, v) -> acc + v)))) AS cosine
  FROM cand JOIN embeddings eq ON eq.vec_id = query_id
            JOIN embeddings ec ON ec.vec_id = nbr_id),
ranked AS (SELECT query_id, nbr_id, cosine,
    row_number() OVER (PARTITION BY query_id
                       ORDER BY cosine DESC, nbr_id) AS rank
  FROM scored)
SELECT query_id, nbr_id, cosine, rank FROM ranked
WHERE rank <= 5 ORDER BY query_id, rank"""

  /** Deterministic byte-seam feature f0: strided byte-histogram arithmetic (no xxhash; plain SQL). */
  val q_multimodal_features_bytes: String =
    """WITH s AS (SELECT doc_id,
    length(text)::BIGINT AS n_bytes,
    list_sum(list_transform(range(1, length(text)+1, 8),
      p -> ord(text[p]))) AS acc
  FROM documents)
SELECT doc_id, n_bytes,
  round((((acc % 1000)::FLOAT / 1000.0::FLOAT))::DOUBLE, 6) AS f0
FROM s ORDER BY doc_id"""

  /** Count-Min sketch replay, depth=4 width=1024: exact token counts ->
    * one string hash per DISTINCT token (equivalent to per-occurrence
    * increments since cell counts are sums) -> per-row chained
    * g_xxh_int(r, h0) bucket -> cell sums -> min-over-rows estimates
    * for the exact top-20 tokens. Matches FreqItems.countMinTable +
    * countMinLookup bit-exactly (all-integer pipeline). */
  def q_countmin(whereSql: String = "TRUE"): String =
    prologue + "\n" +
s"""WITH toks AS (SELECT list_filter(string_split(lower(trim(text)), ' '),
    t -> len(t) > 0) AS ts FROM documents WHERE $whereSql),
tc AS MATERIALIZED (SELECT t, count(*)::BIGINT AS c
  FROM (SELECT unnest(ts) AS t FROM toks) GROUP BY t),
th AS MATERIALIZED (SELECT t, c, g_xxh_bytes(g_bytes(t), 42::HUGEINT) AS h0
  FROM tc),
rb AS MATERIALIZED (SELECT t, c, r,
    (g_xxh_int(r, h0) & 1023::HUGEINT)::BIGINT AS bucket
  FROM th, range(0, 4) rr(r)),
cell AS MATERIALIZED (SELECT r, bucket, sum(c)::BIGINT AS cnt
  FROM rb GROUP BY r, bucket),
top AS (SELECT t, c FROM tc ORDER BY c DESC, t LIMIT 20)
SELECT top.t AS token, top.c AS true_cnt, min(cell.cnt) AS est_cnt
FROM top
JOIN rb USING (t)
JOIN cell ON cell.r = rb.r AND cell.bucket = rb.bucket
GROUP BY top.t, top.c
ORDER BY true_cnt DESC, token"""

  /** One HLL floor-millis estimate chain at p=6 over `srcSql` (must
    * yield a BIGINT column `k`), CTE-prefixed so several sets compose
    * in one query (the set-algebra oracle). Constants: w=58,
    * mask=2^58-1, K=59, m=64, threshold 160. */
  private def hllEst6(pfx: String, srcSql: String): String = {
    val num = graft.functions.Hll.rawNumerator(6).toString
s"""${pfx}h AS MATERIALIZED (SELECT g_xxh_long(k, 42::HUGEINT) AS u
  FROM ($srcSql)),
${pfx}br AS MATERIALIZED (SELECT (u >> 58)::BIGINT AS bucket,
    CASE WHEN (u & 288230376151711743::HUGEINT) = 0::HUGEINT THEN 59
         ELSE 59 - length(bin((u & 288230376151711743::HUGEINT)::BIGINT))
    END AS rho
  FROM ${pfx}h),
${pfx}regs AS (SELECT bucket, max(rho) AS register FROM ${pfx}br
  GROUP BY bucket),
${pfx}agg AS (SELECT count(*) AS nb,
    sum(((1::BIGINT << (59 - register)))::HUGEINT) AS s_ne
  FROM ${pfx}regs),
${pfx}e0 AS (SELECT
    $num / ((s_ne + (64 - nb)::HUGEINT
             * 576460752303423488::HUGEINT)::DOUBLE) AS est,
    64 - nb AS v
  FROM ${pfx}agg),
${pfx}est AS (SELECT CAST(floor(CASE WHEN est <= 160.0 AND v > 0
      THEN 64.0 * ln(64.0 / v::DOUBLE) ELSE est END * 1000.0) AS BIGINT)
    AS est_millis
  FROM ${pfx}e0)"""
  }

  /** HLL set algebra: |A∩B| by inclusion-exclusion over three p=6
    * estimate chains, composed in the exact floor-millis integer
    * domain (matches the Spark-side composition bit-for-bit). */
  def q_hll_intersect: String =
    prologue + "\nWITH " +
      hllEst6("a",
        "SELECT DISTINCT o_custkey AS k FROM orders WHERE o_orderpriority = '1-URGENT'") + ",\n" +
      hllEst6("b",
        "SELECT DISTINCT o_custkey AS k FROM orders WHERE o_orderpriority = '2-HIGH'") + ",\n" +
      hllEst6("u",
        "SELECT o_custkey AS k FROM orders WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')") + ",\n" +
"""ex AS (SELECT count(*) AS exact_intersection FROM
  (SELECT DISTINCT o_custkey FROM orders
   WHERE o_orderpriority = '1-URGENT') a
  JOIN (SELECT DISTINCT o_custkey FROM orders
        WHERE o_orderpriority = '2-HIGH') b USING (o_custkey))
SELECT aest.est_millis + best.est_millis - uest.est_millis
    AS inter_est_millis,
  ex.exact_intersection
FROM aest, best, uest, ex"""

  /** HyperLogLog distinct l_partkey estimate, p=9 — the exact replay of
    * [[graft.functions.Hll.distinctCount]]: xxhash64(long) → top-9-bit
    * bucket / leading-zero rho of the low 55 bits (bit length via
    * `bin()`, no float log2) → per-bucket max register → fixed-point
    * harmonic sum (Σ 2^(56-reg), empty buckets added arithmetically) →
    * one double divide. The numerator literal is generated from the
    * same Scala double (`Hll.rawNumerator(9).toString` round-trips), so
    * both engines run the identical IEEE op sequence and the
    * floor-millis output hash-matches. */
  /** Grouped HLL retention matrix at p=6: the q_retention
    * cohort/period frame feeding a per-(cohort, period) register
    * estimate chain — same constants as the set-algebra chains
    * (w=58, mask=2^58−1, K=59, m=64, threshold 160), grouped by the
    * matrix cell. */
  def q_retention_hll: String = {
    val num = graft.functions.Hll.rawNumerator(6).toString
    prologue + "\n" +
s"""WITH f AS (SELECT user_id, min(CAST(ts AS DATE)) AS d0
  FROM events GROUP BY user_id),
c AS (SELECT user_id, CAST(date_trunc('week', d0) AS DATE) AS cohort, d0
  FROM f),
pu AS (SELECT c.cohort,
    CAST(floor(date_diff('day', c.d0, CAST(e.ts AS DATE)) / 7) AS INT)
      AS period,
    e.user_id AS k
  FROM events e JOIN c ON e.user_id = c.user_id),
h AS MATERIALIZED (SELECT cohort, period, g_xxh_long(k, 42::HUGEINT) AS u
  FROM pu),
br AS (SELECT cohort, period, (u >> 58)::BIGINT AS bucket,
    CASE WHEN (u & 288230376151711743::HUGEINT) = 0::HUGEINT THEN 59
         ELSE 59 - length(bin((u & 288230376151711743::HUGEINT)::BIGINT))
    END AS rho
  FROM h),
regs AS (SELECT cohort, period, bucket, max(rho) AS register
  FROM br GROUP BY cohort, period, bucket),
agg AS (SELECT cohort, period, count(*) AS nonempty_buckets,
    sum(register)::BIGINT AS register_sum,
    sum(((1::BIGINT << (59 - register)))::HUGEINT) AS s_ne
  FROM regs GROUP BY cohort, period),
est0 AS (SELECT cohort, period, nonempty_buckets, register_sum,
    $num / ((s_ne + (64 - nonempty_buckets)::HUGEINT
             * 576460752303423488::HUGEINT)::DOUBLE) AS est,
    64 - nonempty_buckets AS v
  FROM agg)
SELECT cohort, period,
  CAST(floor(CASE WHEN est <= 160.0 AND v > 0
      THEN 64.0 * ln(64.0 / v::DOUBLE) ELSE est END * 1000.0) AS BIGINT)
    AS est_millis,
  nonempty_buckets, register_sum
FROM est0 ORDER BY cohort, period"""
  }

  /** Rolling `windowDays`-day distinct actives per PRESENT day —
    * [[graft.operators.Retention.rollingActives]] replay: per-day p=6
    * register tables, window = register-max union over the trailing
    * days (inequality join over the tiny day list — the engine uses an
    * equi-keyed explode, same result), the standard estimate chain. */
  def q_rolling_actives(windowDays: Int): String = {
    val num = graft.functions.Hll.rawNumerator(6).toString
    prologue + "\n" +
s"""WITH du AS (SELECT CAST(ts AS DATE) AS day, user_id AS k FROM events),
h AS MATERIALIZED (SELECT day, g_xxh_long(k, 42::HUGEINT) AS u FROM du),
br AS (SELECT day, (u >> 58)::BIGINT AS bucket,
    CASE WHEN (u & 288230376151711743::HUGEINT) = 0::HUGEINT THEN 59
         ELSE 59 - length(bin((u & 288230376151711743::HUGEINT)::BIGINT))
    END AS rho
  FROM h),
regs AS (SELECT day, bucket, max(rho) AS register FROM br GROUP BY 1, 2),
dl AS (SELECT DISTINCT day FROM du),
mr AS (SELECT d.day, r.bucket, max(r.register) AS register
  FROM dl d JOIN regs r
    ON r.day <= d.day AND r.day > d.day - $windowDays
  GROUP BY 1, 2),
agg AS (SELECT day, count(*) AS nonempty_buckets,
    sum(register)::BIGINT AS register_sum,
    sum(((1::BIGINT << (59 - register)))::HUGEINT) AS s_ne
  FROM mr GROUP BY day),
est0 AS (SELECT day, nonempty_buckets, register_sum,
    $num / ((s_ne + (64 - nonempty_buckets)::HUGEINT
             * 576460752303423488::HUGEINT)::DOUBLE) AS est,
    64 - nonempty_buckets AS v
  FROM agg)
SELECT day, CAST(floor(CASE WHEN est <= 160.0 AND v > 0
      THEN 64.0 * ln(64.0 / v::DOUBLE) ELSE est END * 1000.0) AS BIGINT)
    AS est_millis,
  nonempty_buckets, register_sum
FROM est0 ORDER BY day"""
  }

  def q_hll_distinct: String = {
    val num = graft.functions.Hll.rawNumerator(9).toString
    prologue + "\n" +
s"""WITH h AS MATERIALIZED (SELECT g_xxh_long(l_partkey, 42::HUGEINT) AS u
  FROM lineitem),
br AS MATERIALIZED (SELECT (u >> 55)::BIGINT AS bucket,
    CASE WHEN (u & 36028797018963967::HUGEINT) = 0::HUGEINT THEN 56
         ELSE 56 - length(bin((u & 36028797018963967::HUGEINT)::BIGINT))
    END AS rho
  FROM h),
regs AS (SELECT bucket, max(rho) AS register FROM br GROUP BY bucket),
agg AS (SELECT count(*) AS nonempty_buckets,
               sum(register)::BIGINT AS register_sum,
               sum(((1::BIGINT << (56 - register)))::HUGEINT) AS s_ne
        FROM regs),
est0 AS (SELECT nonempty_buckets, register_sum,
    $num / ((s_ne + (512 - nonempty_buckets)::HUGEINT
             * 72057594037927936::HUGEINT)::DOUBLE) AS est,
    512 - nonempty_buckets AS v
  FROM agg)
SELECT CAST(floor(CASE WHEN est <= 1280.0 AND v > 0
      THEN 512.0 * ln(512.0 / v::DOUBLE) ELSE est END * 1000.0) AS BIGINT)
    AS est_millis,
  nonempty_buckets, register_sum
FROM est0"""
  }

  /** Start seed of `xxhash64(lit(seed), <col>)`: the int literal hashes
    * first — hashInt(seed, 42) — and its result seeds the next hash.
    * Precomputed via Spark's own XXH64 so the SQL embeds ONE constant
    * instead of textually nesting two macro calls (see object doc on
    * macro expansion blowup). */
  private def chainedIntSeed(seed: Int): String =
    java.lang.Long.toUnsignedString(
      org.apache.spark.sql.catalyst.expressions.XXH64.hashInt(seed, 42L))

  /** The composed training-export pipeline
    * (q_pipeline_export): Gopher quality gate → token-budgeted
    * allowlist mixing → deterministic global shuffle + sharding — each
    * stage is itself an oracled operator; this replays the whole
    * composition. */
  def q_pipeline_export(budgets: Map[String, Long], mixSeed: Int,
                        nShards: Int, shuffleSeed: Int,
                        buckets: Int): String = {
    val cases = budgets.toSeq.sortBy(_._1)
      .map { case (k, v) => s"WHEN '$k' THEN $v" }.mkString(" ")
    prologue + s"""
WITH toks AS (SELECT doc_id, source, n_chars,
    list_filter(string_split(lower(trim(text)), ' '), t -> len(t) > 0) AS ts
  FROM documents),
gated AS (SELECT doc_id, source, n_chars FROM toks
  WHERE (len(ts) BETWEEN 50 AND 100000)
    AND (CAST(list_sum(list_transform(ts, t -> len(t))) AS DOUBLE)
         / len(ts) BETWEEN 3.0 AND 10.0)
    AND (CAST(len(list_filter(ts, t -> regexp_matches(t, '[a-z]')))
         AS DOUBLE) / len(ts) >= 0.8)
    AND (CAST(len(list_filter(ts, t -> contains(t, '#')
         OR contains(t, '...'))) AS DOUBLE) / len(ts) <= 0.1)
    AND (len(list_filter(ts, t -> list_contains(
         ['the', 'be', 'to', 'of', 'and', 'that', 'have',
          'with'], t))) >= 2)),
h0 AS MATERIALIZED (SELECT doc_id, source, n_chars,
  g_sgn(g_xxh_long(doc_id, ${chainedIntSeed(mixSeed)}::HUGEINT)) AS h
  FROM gated),
c AS (SELECT doc_id, source,
        sum(n_chars) OVER (PARTITION BY source
          ORDER BY ((h % $buckets) + $buckets) % $buckets, h, doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM h0),
mixed AS (SELECT doc_id FROM c
  WHERE CASE source $cases ELSE 0 END > 0
    AND cum <= CASE source $cases ELSE 0 END),
h1 AS MATERIALIZED (SELECT doc_id,
  g_sgn(g_xxh_long(doc_id, ${chainedIntSeed(shuffleSeed)}::HUGEINT)) AS h
  FROM mixed)
SELECT (((h % $nShards) + $nShards) % $nShards)::INTEGER AS shard,
       (row_number() OVER (
          PARTITION BY ((h % $nShards) + $nShards) % $nShards
          ORDER BY h, doc_id) - 1)::BIGINT AS shuffle_pos,
       doc_id
FROM h1 ORDER BY shard, shuffle_pos"""
  }

  /** [[graft.operators.Ops.shuffleShards]] replay: signed-order hash
    * (g_sgn — Spark orders the SIGNED long), Java-% shard, per-shard
    * dense 0-based positions. */
  /** [[graft.operators.Ops.prioritySample]] replay over documents with
    * weight = n_chars: priority = w / u with u = (xxhash64(seed, id) &
    * (2^53−1)) + 1 — the mask runs on the SIGNED value in both engines
    * (two's-complement & is bit-identical), the division is one IEEE op,
    * ties break by id. */
  def q_weighted_sample(k: Int, seed: Int): String =
    prologue + s"""
WITH pr AS MATERIALIZED (SELECT doc_id, n_chars,
  CAST(n_chars AS DOUBLE) /
    CAST((g_sgn(g_xxh_long(doc_id, ${chainedIntSeed(seed)}::HUGEINT))
          & 9007199254740991) + 1 AS DOUBLE) AS priority
  FROM documents)
SELECT doc_id, n_chars, priority,
       CAST(row_number() OVER (ORDER BY priority DESC, doc_id)
            AS INTEGER) AS sample_rank
FROM pr ORDER BY priority DESC, doc_id LIMIT $k"""

  /** [[graft.operators.Ops.prioritySampleByKey]] replay: the
    * q_weighted_sample arithmetic ranked per stratum (ties to the
    * smaller id — the TopKCollect order). */
  def q_quota_sample(kPerStratum: Int, seed: Int): String =
    prologue + s"""
WITH pr AS MATERIALIZED (SELECT doc_id, source,
  CAST(n_chars AS DOUBLE) /
    CAST((g_sgn(g_xxh_long(doc_id, ${chainedIntSeed(seed)}::HUGEINT))
          & 9007199254740991) + 1 AS DOUBLE) AS priority
  FROM documents)
SELECT stratum, id, priority, rank FROM (
  SELECT source AS stratum, doc_id AS id, priority,
         CAST(row_number() OVER (PARTITION BY source
           ORDER BY priority DESC, doc_id) AS INTEGER) AS rank
  FROM pr)
WHERE rank <= $kPerStratum ORDER BY stratum, rank"""

  /** [[graft.operators.Ops.negativeSample]] replay over documents:
    * anchors = doc_id < `maxAnchor`, corpus = all doc ids, positives =
    * (doc_id, doc_id + 1). The id↔index bijection is (hash-cell, id)
    * order — replayed as one naive global row_number (the oracle may
    * be naive; the engine's two-level form is the scale path). Draw j
    * of anchor a lands on index pmod(xxhash64(seed, a, j), N) with the
    * long-long seed chain. */
  def q_negative_sample(k: Int, seed: Int, maxAnchor: Long,
                        coarse: Int): String =
    prologue + s"""
WITH ids AS MATERIALIZED (SELECT DISTINCT doc_id AS cid FROM documents),
rk AS MATERIALIZED (SELECT cid,
  row_number() OVER (ORDER BY
    ((g_sgn(g_xxh_long(cid, 42::HUGEINT)) % $coarse) + $coarse)
      % $coarse, cid) - 1 AS r
  FROM ids),
n AS (SELECT count(*)::BIGINT AS n FROM ids),
d AS (SELECT a.doc_id AS anchor, j AS draw
      FROM documents a, range(0, $k) t(j) WHERE a.doc_id < $maxAnchor),
h AS (SELECT anchor, draw,
        g_sgn(g_xxh_long(draw,
          g_xxh_long(anchor, ${chainedIntSeed(seed)}::HUGEINT))) AS hh
      FROM d),
c AS (SELECT anchor, draw, ((hh % n.n) + n.n) % n.n AS r FROM h, n)
SELECT c.anchor, c.draw, rk.cid AS neg_id
FROM c JOIN rk USING (r)
WHERE rk.cid <> c.anchor AND rk.cid <> c.anchor + 1
ORDER BY anchor, draw"""

  def q_shuffle_shards(nShards: Int, seed: Int): String =
    prologue + s"""
WITH h0 AS MATERIALIZED (SELECT doc_id,
  g_sgn(g_xxh_long(doc_id, ${chainedIntSeed(seed)}::HUGEINT)) AS h
  FROM documents)
SELECT doc_id,
       (((h % $nShards) + $nShards) % $nShards)::INTEGER AS shard,
       (row_number() OVER (
          PARTITION BY ((h % $nShards) + $nShards) % $nShards
          ORDER BY h, doc_id) - 1)::BIGINT AS shuffle_pos
FROM h0 ORDER BY shard, shuffle_pos"""

  /** [[graft.operators.Ops.groupSplit]] replay over documents: bucket =
    * Java-% of xxhash64(seed, source), carved into contiguous
    * [0, buckets) ranges by the fraction list in its given order (same
    * floor(cum·buckets) bounds the engine computes). */
  def q_group_split(fractions: Seq[(String, Double)], seed: Int,
                    buckets: Int): String = {
    val bounds = fractions.scanLeft(0.0)(_ + _._2)
      .map(f => math.floor(f * buckets).toLong)
    val cases = fractions.zipWithIndex.map { case ((name, _), i) =>
      s"WHEN b >= ${bounds(i)} AND b < ${bounds(i + 1)} THEN '$name'"
    }.mkString(" ")
    prologue + s"""
WITH h0 AS MATERIALIZED (SELECT doc_id, source,
  g_sgn(g_xxh_bytes(g_bytes(source), ${chainedIntSeed(seed)}::HUGEINT)) AS h
  FROM documents),
b0 AS (SELECT doc_id, source,
  ((h % $buckets) + $buckets) % $buckets AS b FROM h0)
SELECT doc_id, source, CASE $cases END AS split
FROM b0 WHERE (CASE $cases END) IS NOT NULL
ORDER BY doc_id"""
  }

  /** Train/test leakage audit replay (q_split_leakage): n-gram Jaccard
    * near-dup pairs joined to [[q_group_split]]'s per-source
    * assignment, keeping pairs whose endpoints straddle splits. */
  def q_split_leakage(fractions: Seq[(String, Double)], seed: Int,
                      buckets: Int, threshold: Double): String = {
    val bounds = fractions.scanLeft(0.0)(_ + _._2)
      .map(f => math.floor(f * buckets).toLong)
    val cases = fractions.zipWithIndex.map { case ((name, _), i) =>
      s"WHEN b >= ${bounds(i)} AND b < ${bounds(i + 1)} THEN '$name'"
    }.mkString(" ")
    prologue + s"""
WITH h0 AS MATERIALIZED (SELECT doc_id,
  g_sgn(g_xxh_bytes(g_bytes(source), ${chainedIntSeed(seed)}::HUGEINT)) AS h
  FROM documents),
assign AS (SELECT doc_id, CASE $cases END AS split
  FROM (SELECT doc_id, ((h % $buckets) + $buckets) % $buckets AS b
        FROM h0)
  WHERE (CASE $cases END) IS NOT NULL),
toks AS (SELECT doc_id,
    list_filter(string_split(lower(trim(text)), ' '), t -> len(t) > 0)
      AS ts FROM documents),
sets AS (
  SELECT doc_id, list_distinct(list_transform(
    generate_series(1, greatest(len(ts) - 2, 0)),
    i -> array_to_string(list_slice(ts, i, i + 2), ' '))) AS sh
  FROM toks WHERE len(ts) >= 3),
e AS (SELECT doc_id, len(sh) AS n, unnest(sh) AS s FROM sets
      WHERE len(sh) > 0),
p AS (SELECT id_a, id_b, jaccard FROM (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(count(*) AS DOUBLE)
             / (any_value(a.n) + any_value(b.n) - count(*)) AS jaccard
    FROM e a JOIN e b ON a.s = b.s AND a.doc_id < b.doc_id
    GROUP BY 1, 2)
  WHERE jaccard >= $threshold)
SELECT id_a, id_b, jaccard, sa.split AS split_a, sb.split AS split_b
FROM p JOIN assign sa ON p.id_a = sa.doc_id
       JOIN assign sb ON p.id_b = sb.doc_id
WHERE sa.split <> sb.split
ORDER BY id_a, id_b"""
  }

  /** [[graft.operators.Ops.sampleToBudget]] replay — the SINGLE-window
    * formulation (cumulative size per source ordered by (bucket, hash,
    * id)), which the engine's two-level bucket decomposition selects
    * identically by construction; integer sums are exact in both
    * engines (HUGEINT ≡ decimal(38,0)). */
  def q_mix_budget(budgets: Map[String, Long], seed: Int,
                   buckets: Int): String = {
    val cases = budgets.toSeq.sortBy(_._1)
      .map { case (k, v) => s"WHEN '$k' THEN $v" }.mkString(" ")
    prologue + s"""
WITH h0 AS MATERIALIZED (SELECT doc_id, source, n_chars,
  g_sgn(g_xxh_long(doc_id, ${chainedIntSeed(seed)}::HUGEINT)) AS h
  FROM documents),
c AS (SELECT doc_id, source, h,
        sum(n_chars) OVER (PARTITION BY source
          ORDER BY ((h % $buckets) + $buckets) % $buckets, h, doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM h0)
SELECT doc_id, source FROM c
WHERE CASE source $cases ELSE 0 END > 0
  AND cum <= CASE source $cases ELSE 0 END
ORDER BY doc_id"""
  }

  /** [[q_mix_budget]] with REAL BPE token counts as the size measure:
    * the caller passes [[graft.functions.Bpe.oracleCtes]] (the
    * recursive merge-loop replay ending in `bpe_doc(doc_id, ids)`);
    * token-less docs count size 0 via the LEFT JOIN, exactly like the
    * engine's `size(Bpe.encode(tokens))`. */
  def q_mix_budget_bpe(budgets: Map[String, Long], seed: Int,
                       buckets: Int, bpeCtes: String): String = {
    val cases = budgets.toSeq.sortBy(_._1)
      .map { case (k, v) => s"WHEN '$k' THEN $v" }.mkString(" ")
    prologue + s"""
WITH RECURSIVE $bpeCtes,
h0 AS MATERIALIZED (SELECT d.doc_id, d.source,
  coalesce(len(b.ids), 0) AS n_tok,
  g_sgn(g_xxh_long(d.doc_id, ${chainedIntSeed(seed)}::HUGEINT)) AS h
  FROM documents d LEFT JOIN bpe_doc b USING (doc_id)),
c AS (SELECT doc_id, source, h,
        sum(n_tok) OVER (PARTITION BY source
          ORDER BY ((h % $buckets) + $buckets) % $buckets, h, doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM h0)
SELECT doc_id, source FROM c
WHERE CASE source $cases ELSE 0 END > 0
  AND cum <= CASE source $cases ELSE 0 END
ORDER BY doc_id"""
  }

  /** Per-hour-window generalization of [[q_hll_distinct]] — replays
    * ApproxDistinctOp's batch path (Hll.registers grouped by the
    * tumbling hour of `ts`, then Hll.estimateAudit per window)
    * bit-exactly: same xxhash64, same integer bucket/rho split, same
    * fixed-point harmonic sum in HUGEINT, same RAW floor-millis
    * estimate. Deliberately NO `ln` anywhere in the oracled SQL: the
    * gate data's per-hour cardinalities (measured 4..166 across the
    * test SFs) sit below the 2.5·m=1280 small-range threshold at p=9,
    * and the linear-counting correction is libm-divergent across
    * engines (Hll.scala contract) — so the audit emits the raw IEEE
    * estimate + the branch selector + V's complement, which together
    * determine the corrected estimate exactly. Parameterized on p so
    * the constants can never drift from the Spark side's. */
  def q_approx_distinct_oracle(p: Int): String = {
    val w = 64 - p          // remainder bit width
    val k = w + 1           // fixed-point scale / max rho
    val m = 1 << p
    val mask = (1L << w) - 1L
    val twoK = java.math.BigDecimal.valueOf(2).pow(k).toBigInteger
    val num = graft.functions.Hll.rawNumerator(p).toString
    prologue + "\n" +
s"""WITH h AS MATERIALIZED (SELECT
    CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_start,
    g_xxh_long(user_id, 42::HUGEINT) AS u
  FROM events),
br AS MATERIALIZED (SELECT hour_start, (u >> $w)::BIGINT AS bucket,
    CASE WHEN (u & $mask::HUGEINT) = 0::HUGEINT THEN $k
         ELSE $k - length(bin((u & $mask::HUGEINT)::BIGINT))
    END AS rho
  FROM h),
regs AS (SELECT hour_start, bucket, max(rho) AS register
         FROM br GROUP BY 1, 2),
agg AS (SELECT hour_start, count(*) AS nonempty_buckets,
               sum(register)::BIGINT AS register_sum,
               sum(((1::BIGINT << ($k - register)))::HUGEINT) AS s_ne
        FROM regs GROUP BY 1),
est0 AS (SELECT hour_start, nonempty_buckets, register_sum,
    $num / ((s_ne + ($m - nonempty_buckets)::HUGEINT
             * $twoK::HUGEINT)::DOUBLE) AS est,
    $m - nonempty_buckets AS v
  FROM agg)
SELECT hour_start,
  CAST(floor(est * 1000.0) AS BIGINT) AS raw_est_millis,
  (est <= ${2.5 * m} AND v > 0) AS small_range,
  nonempty_buckets, register_sum
FROM est0 ORDER BY hour_start"""
  }

}
