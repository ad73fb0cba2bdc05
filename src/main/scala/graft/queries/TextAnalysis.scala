package graft
package queries

import org.apache.spark.sql.functions._

import graft.core.Pipe._
import graft.functions.{Bpe, Text}
import graft.operators.Ops

import SparkEntry.{t, sqlList, toksSql}
import Case.oracle

/** North-star text analysis: normalization, quality and language
  * signals, tokenizers, fingerprints, heavy hitters and PII scrubbing. */
object TextAnalysis extends Family {

  /** The synthetic-PII dirtying shared by q_scrub_pii / q_pii_stats:
    * the corpus carries no real PII, so each doc gets deterministic
    * email/IP/phone/card derived from doc_id prepended, plus a
    * date+timestamp that must SURVIVE scrubbing. */
  private val piiSynth: org.apache.spark.sql.Column = concat(
    lit("user"), col("doc_id").cast("string"),
    lit("@example.com on 2026-08-12 10:30:45 ip "),
    (col("doc_id") % 223).cast("string"), lit(".10.0."),
    ((col("doc_id") * 7) % 251).cast("string"),
    lit(" call +1 (555) 123-"),
    lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
    lit(" card 4111-1111-1111-"),
    lpad(((col("doc_id") * 31) % 10000).cast("string"), 4, "0"),
    lit(" :: "), col("text"))

  /** The synthetic-PII build + scrub chain shared by q_scrub_pii /
    * q_pii_stats — the SQL twin of `piiSynth` through `Text.scrubPii`. */
  private def scrubPiiSql =
    """regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      |         'user' || CAST(doc_id AS VARCHAR) ||
      |         '@example.com on 2026-08-12 10:30:45 ip ' ||
      |         CAST(doc_id % 223 AS VARCHAR) || '.10.0.' ||
      |         CAST((doc_id * 7) % 251 AS VARCHAR) ||
      |         ' call +1 (555) 123-' ||
      |         lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
      |         ' card 4111-1111-1111-' ||
      |         lpad(CAST((doc_id * 31) % 10000 AS VARCHAR), 4, '0') ||
      |         ' :: ' || text,
      |         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
      |         '<EMAIL>', 'g'),
      |         '\b(?:\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g'),
      |         '\+?\b\d(?:[()-]*\d){8,}\b', '<NUMBER>', 'g'),
      |         '\+?\b(?:\d{1,2}[ -]?)?\(?\d{3}\)?[ -]?\d{3}[ -]?\d{4}\b',
      |         '<NUMBER>', 'g')""".stripMargin

  /** Every stopword of every language, as one DuckDB list literal. */
  private def allStops: String =
    sqlList(Text.stopwords.values.flatten.toSeq.distinct.sorted)

  /** One stopword-hit count column per language (de, en, es, fr). */
  private def hitCols: String =
    Text.stopwords.keys.toSeq.sorted.map { l =>
      s"len(list_filter(ts, t -> list_contains(${sqlList(Text.stopwords(l))}, t))) AS h_$l"
    }.mkString(",\n        ")

  val cases: Seq[Case] = Seq(

    // tokens materialized ONCE per doc in their own projection, feeding
    // every metric (multi-referenced projections aren't collapsed into
    // lambda bodies; the text-input forms would re-tokenize per metric)
    // canonical normalization for dedup keys — the corpus is already
    // clean lowercase, so deliberately dirty it (case, punctuation,
    // padding, an appended source/id tag) and normalize back; the md5
    // prefix is the dedup key a pipeline would group on
    Case("q_normalize", (s, dir) => {
      // md5-prefix oracle family: ASCII contract ENFORCED plan-side
      // (Text.asciiOracleGuard doc), not assumed from the corpus pin
      val messy = concat(lit("  "),
        upper(Text.asciiOracleGuard(col("text"), "q_normalize")), lit(" !! "),
        col("source"), lit("::"), col("doc_id").cast("string"), lit("  "))
      t(s, dir, "documents")
        .select(col("doc_id"), Text.normalizeForDedup(messy).as("norm"))
        .select(col("doc_id"), col("norm"),
          substring(md5(col("norm")), 1, 16).as("fp"))
        .orderBy("doc_id")
    },
      oracle("""WITH messy AS (SELECT doc_id,
          |    '  ' || upper(text) || ' !! ' || source || '::'
          |      || doc_id::VARCHAR || '  ' AS m
          |  FROM documents),
          |n AS (SELECT doc_id,
          |    trim(regexp_replace(regexp_replace(lower(m),
          |      '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')) AS norm
          |  FROM messy)
          |SELECT doc_id, norm, substr(md5(norm), 1, 16) AS fp
          |FROM n ORDER BY doc_id""".stripMargin)),

    Case("q_text_quality", (s, dir) =>
      // n_tokens and stopword_ratio off the zero-alloc kernels; the
      // token array is staged only for the one metric that still
      // walks it (mean token length)
      t(s, dir, "documents")
        .select(col("doc_id"), col("text"),
          Text.tokens(col("text")).as("__ts"))
        .select(
          col("doc_id"),
          Text.nTokens(col("text")).as("n_tokens"),
          Text.meanTokenLenOf(col("__ts")).as("mean_token_len"),
          Text.punctRatio(col("text")).as("punct_ratio"),
          Text.stopwordRatio(col("text")).as("stopword_ratio"))
        .orderBy("doc_id"),
      oracle(s"""WITH toks AS (SELECT doc_id, text, $toksSql AS ts FROM documents)
           |SELECT doc_id,
           |       len(ts) AS n_tokens,
           |       CAST(list_sum(list_transform(ts, t -> len(t))) AS DOUBLE)
           |         / len(ts) AS mean_token_len,
           |       CAST(len(regexp_replace(text,
           |           '[^.,;:!?''"()\\[\\]{}-]', '', 'g')) AS DOUBLE)
           |         / len(text) AS punct_ratio,
           |       CAST(len(list_filter(ts, t -> list_contains($allStops, t)))
           |         AS DOUBLE) / len(ts) AS stopword_ratio
           |FROM toks ORDER BY doc_id""".stripMargin)),

    Case("q_langid", (s, dir) =>
      // the fused LangId kernel — one pass, one map probe per token
      // (the staged langIdOf form ran one interpreted filter lambda
      // per token per language; parity pinned in TextKernelSpec)
      t(s, dir, "documents")
        .select(col("doc_id"), Text.langId(col("text")).as("lang_pred"))
        .orderBy("doc_id"),
      oracle(s"""WITH toks AS (SELECT doc_id, $toksSql AS ts FROM documents),
           |h AS (SELECT doc_id,
           |        $hitCols
           |      FROM toks)
           |SELECT doc_id,
           |       CASE WHEN h_de = 0 AND h_en = 0 AND h_es = 0 AND h_fr = 0
           |              THEN 'und'
           |            WHEN h_de >= h_en AND h_de >= h_es AND h_de >= h_fr
           |              THEN 'de'
           |            WHEN h_en >= h_es AND h_en >= h_fr THEN 'en'
           |            WHEN h_es >= h_fr THEN 'es'
           |            ELSE 'fr' END AS lang_pred
           |FROM h ORDER BY doc_id""".stripMargin)),

    Case("q_token_bpeish", (s, dir) =>
      t(s, dir, "documents")
        .groupBy("source")
        .agg(sum(Text.tokenCountBpeish(col("text"))).as("n_tokens_bpe"),
          count(lit(1)).as("n_docs"))
        .orderBy("source"),
      oracle("""SELECT source,
          |       CAST(sum(len(regexp_extract_all(lower(text),
          |           '[a-z0-9]+|[^a-z0-9\s]'))) AS BIGINT) AS n_tokens_bpe,
          |       count(*) AS n_docs
          |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin)),

    // real table-driven BPE (corpus-learned fixture, GPT-2 merges /
    // BERT vocab formats): the full per-doc id SEQUENCE is pinned as an
    // order-sensitive string — the oracle must replay every merge
    // decision, not just the counts
    Case("q_token_bpe", (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), Text.tokens(col("text")).as("__t"))
        .select(col("doc_id"), Bpe.encode(col("__t")).as("__ids"))
        .select(col("doc_id"),
          size(col("__ids")).as("n_tokens"),
          concat_ws(" ", transform(col("__ids"), x => x.cast("string")))
            .as("ids_str"))
        .orderBy("doc_id"),
      // the committed merge/vocab fixture is inlined as VALUES and the
      // greedy merge loop replayed as a recursive CTE (Bpe.oracleCtes);
      // token-less docs come back via LEFT JOIN with an empty sequence
      oracle(s"""WITH RECURSIVE ${Bpe.oracleCtes(toksSql)}
           |SELECT d.doc_id,
           |       coalesce(len(b.ids), 0)::INTEGER AS n_tokens,
           |       coalesce(array_to_string(list_transform(b.ids,
           |           x -> CAST(x AS VARCHAR)), ' '), '') AS ids_str
           |FROM documents d LEFT JOIN bpe_doc b USING (doc_id)
           |ORDER BY doc_id""".stripMargin)),

    // token-budgeted mixing measured in REAL BPE tokens (the budget
    // arithmetic q_mix_budget runs on n_chars, faithful only as far as
    // chars track tokens)
    Case("q_mix_budget_bpe", (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          Text.tokens(col("text")).as("__t"))
        .select(col("doc_id"), col("source"),
          size(Bpe.encode(col("__t"))).as("n_tok")) >>
        Ops.sampleToBudget(col("doc_id"), col("source"), col("n_tok"),
          Map("src0" -> 400L, "src1" -> 20000L, "src3" -> 900L,
            "src7" -> 1L), seed = 9) >>
        (_.select("doc_id", "source").orderBy("doc_id")),
      oracle(OracleXxh.q_mix_budget_bpe(
        Map("src0" -> 400L, "src1" -> 20000L, "src3" -> 900L,
          "src7" -> 1L), seed = 9, buckets = 1024,
        bpeCtes = Bpe.oracleCtes(toksSql)))),

    // Gopher/MassiveText rule-family quality signals + keep decision
    Case("q_gopher_rules", (s, dir) =>
      graft.llm.TextStats.gopherRules(t(s, dir, "documents"),
        "doc_id", "text")
        .orderBy("doc_id"),
      oracle(s"""WITH toks AS (SELECT doc_id, $toksSql AS ts FROM documents)
           |SELECT doc_id,
           |       len(ts)::BIGINT AS n_tokens,
           |       CAST(list_sum(list_transform(ts, t -> len(t))) AS DOUBLE)
           |         / len(ts) AS mean_token_len,
           |       CAST(len(list_filter(ts,
           |           t -> regexp_matches(t, '[a-z]'))) AS DOUBLE)
           |         / len(ts) AS frac_alpha_words,
           |       CAST(len(list_filter(ts, t -> contains(t, '#')
           |           OR contains(t, '...'))) AS DOUBLE)
           |         / len(ts) AS frac_symbol_words,
           |       CAST(len(list_filter(ts,
           |           t -> regexp_matches(t, '^[0-9]+$$'))) AS DOUBLE)
           |         / len(ts) AS frac_numeric_words,
           |       len(list_filter(ts, t -> list_contains(
           |           ['the', 'be', 'to', 'of', 'and', 'that', 'have',
           |            'with'], t)))::BIGINT AS n_stop_hits,
           |       (len(ts) BETWEEN 50 AND 100000)
           |         AND (CAST(list_sum(list_transform(ts, t -> len(t)))
           |              AS DOUBLE) / len(ts) BETWEEN 3.0 AND 10.0)
           |         AND (CAST(len(list_filter(ts,
           |              t -> regexp_matches(t, '[a-z]'))) AS DOUBLE)
           |              / len(ts) >= 0.8)
           |         AND (CAST(len(list_filter(ts, t -> contains(t, '#')
           |              OR contains(t, '...'))) AS DOUBLE)
           |              / len(ts) <= 0.1)
           |         AND (len(list_filter(ts, t -> list_contains(
           |              ['the', 'be', 'to', 'of', 'and', 'that', 'have',
           |               'with'], t))) >= 2) AS gopher_keep
           |FROM toks ORDER BY doc_id""".stripMargin)),

    Case("q_fingerprint", (s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"), Text.fingerprint(
          Text.asciiOracleGuard(col("text"), "q_fingerprint")).as("fp"))
        .orderBy("doc_id"),
      oracle("""SELECT doc_id,
          |       substr(md5(regexp_replace(lower(trim(text)),
          |           '\s+', ' ', 'g')), 1, 16) AS fp
          |FROM documents ORDER BY doc_id""".stripMargin)),

    // Unicode NFC normalization (codegen Expression over the JDK
    // Normalizer): the corpus is ASCII, so a decomposed e+combining-
    // acute is injected deterministically in BOTH engines first
    // (regexp_replace 'e' -> e,U+0301), then NFC recomposes it —
    // char counts shrink, bytes hash-match DuckDB's nfc_normalize
    Case("q_nfc_norm", (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          regexp_replace(col("text"), "e", "e\u0301").as("__d"))
        .select(col("doc_id"),
          length(col("__d")).cast("long").as("len_decomposed"),
          length(graft.functions.NfcNormalize(col("__d"))).cast("long")
            .as("len_nfc"),
          md5(graft.functions.NfcNormalize(col("__d")).cast("binary"))
            .as("nfc_md5"))
        .orderBy("doc_id"),
      // Unicode normalization replays: the combining-acute injection
      // uses chr(769) (never a raw codepoint in the SQL artifact);
      // utf8proc (DuckDB) and the JDK Normalizer must produce
      // byte-identical normal forms per the Unicode standard
      oracle("""SELECT doc_id,
          |  length(regexp_replace(text, 'e', 'e' || chr(769), 'g'))
          |    ::BIGINT AS len_decomposed,
          |  length(nfc_normalize(
          |    regexp_replace(text, 'e', 'e' || chr(769), 'g')))
          |    ::BIGINT AS len_nfc,
          |  md5(nfc_normalize(
          |    regexp_replace(text, 'e', 'e' || chr(769), 'g')))
          |    AS nfc_md5
          |FROM documents ORDER BY doc_id""".stripMargin)),

    // accent stripping (NFD + drop combining marks, the utf8proc
    // strip_accents convention): accents injected via translate
    // (a,e,u,n -> á,é,ü,ñ) in both engines; stripping restores the
    // original text exactly — both md5s oracled
    Case("q_strip_accents", (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          translate(col("text"), "aeun", "\u00e1\u00e9\u00fc\u00f1")
            .as("__acc"))
        .select(col("doc_id"),
          md5(col("__acc").cast("binary")).as("accented_md5"),
          md5(graft.functions.StripAccents(col("__acc")).cast("binary"))
            .as("stripped_md5"))
        .orderBy("doc_id"),
      oracle("""SELECT doc_id,
          |  md5(translate(text, 'aeun', chr(225)||chr(233)||chr(252)||chr(241))) AS accented_md5,
          |  md5(strip_accents(translate(text, 'aeun', chr(225)||chr(233)||chr(252)||chr(241))))
          |    AS stripped_md5
          |FROM documents ORDER BY doc_id""".stripMargin)),

    // rolling (order-sensitive) fingerprint — oracled end-to-end: the
    // DuckDB side replicates xxhash64 via the OracleXxh macro library
    Case("q_fingerprint_rolling", (s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"), Text.rollingFingerprint(col("text")).as("rfp"))
        .orderBy("doc_id"),
      oracle(OracleXxh.q_fingerprint_rolling)),

    // Misra-Gries heavy-hitter tokens per language — mergeable O(m)
    // sketch (the 100 TB "top tokens" answer); xxhash64 items →
    // rows-only, guarantees pinned by FreqItemsSpec
    Case("q_heavy_hitters", (s, dir) =>
      t(s, dir, "documents")
        .select(col("lang"), explode(Text.tokens(col("text"))).as("tok"))
        .select(col("lang"), xxhash64(col("tok")).as("h"))
        .groupBy("lang")
        .agg(graft.functions.FreqItems.sketch(32)(col("h")).as("hh"))
        .select(col("lang"), posexplode(col("hh")))
        .filter(col("pos") < 5) // top-j for j << m: rank-stable zone
        .select(col("lang"), (col("pos") + 1).as("rank"),
          col("col._1").as("token_hash"), col("col._2").as("est_count"))
        .orderBy("lang", "rank"),
      None),

    // the ORACLE-replayable Misra-Gries sibling: a bounded,
    // deterministically ordered sample per lang (first 2000 token
    // hashes by (doc_id, pos) — the Ivf.train audit pattern) folded
    // SEQUENTIALLY through the classic MG step, so the exact state
    // hash-matches a DuckDB list_reduce replay; the distributed
    // q_heavy_hitters (merge-order counts) stays the production path
    Case("q_heavy_hitters_oracle", (s, dir) => {
      // doc_id < 200 bounds the per-lang collect BY CONSTRUCTION (the
      // audit-sample contract: a fixed, deterministic prefix of the
      // corpus — never collect-then-slice over unbounded input)
      val ordered = t(s, dir, "documents")
        .filter(col("doc_id") < 200)
        .select(col("lang"), col("doc_id"),
          posexplode(Text.tokens(col("text"))).as(Seq("pos", "tok")))
        .select(col("lang"), struct(col("doc_id"), col("pos"),
          xxhash64(col("tok")).as("h")).as("e"))
        .groupBy("lang")
        .agg(sort_array(collect_list(col("e"))).as("es"))
        .select(col("lang"),
          slice(transform(col("es"), e => e.getField("h")), 1, 2000)
            .as("items"))
      val folded = ordered.select(col("lang"),
        graft.functions.FreqItems.orderedFold(col("items"), 32).as("st"))
      folded.select(col("lang"), explode(col("st")).as("s"))
        .select(col("lang"), col("s.k").as("token_hash"),
          col("s.c").as("est_count"))
        .withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("lang")
            .orderBy(col("est_count").desc, col("token_hash"))))
        .filter(col("rank") <= 5)
        .select(col("lang"), col("rank").cast("long").as("rank"),
          col("token_hash"), col("est_count"))
        .orderBy("lang", "rank")
    },
      // bounded ordered MG fold, replayed as a list_reduce over the
      // same sequence — see FreqItems.orderedFold
      oracle(OracleXxh.q_heavy_hitters_oracle(32, 2000, 5))),

    // Count-Min token-frequency sketch — the deterministic (merge-order
    // free) sketch companion to q_heavy_hitters, so the whole pipeline
    // (per-row hashes -> cell counts -> min-over-rows estimates for the
    // exact top-20 tokens) hash-matches the OracleXxh replay; est>=true
    // overcount bound pinned by FreqItemsSpec
    Case("q_countmin", (s, dir) => {
      val toks = t(s, dir, "documents")
        .select(explode(Text.tokens(col("text"))).as("token"))
      val sk = graft.functions.FreqItems
        .countMinTable(toks, col("token"), depth = 4, width = 1024)
      val top = toks.groupBy("token")
        .agg(count(lit(1)).as("true_cnt"))
        .orderBy(desc("true_cnt"), asc("token")).limit(20)
      graft.functions.FreqItems
        .countMinLookup(sk, top, col("token"), depth = 4, width = 1024)
        .orderBy(desc("true_cnt"), asc("token"))
    },
      oracle(OracleXxh.q_countmin())),

    // winnowing print selection (MOSS-style robust substring matching);
    // oracled (OracleXxh window-minima SQL); guarantee pinned by TextDedupSpec
    Case("q_winnow", (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), Text.tokens(col("text")).as("__ts"))
        .select(col("doc_id"),
          explode(Text.winnow(col("__ts"), 3, 4)).as("print"))
        .orderBy("doc_id", "print"),
      oracle(OracleXxh.q_winnow)),

    // PII scrubbing, oracled end-to-end: the corpus carries no real PII,
    // so each doc gets deterministic synthetic PII (email/IP/phone/card
    // derived from doc_id) prepended, plus a date+timestamp that must
    // SURVIVE scrubbing — both engines build and scrub the same string
    // (every pattern is RE2-compatible, see Text.scrubPii)
    Case("q_scrub_pii", (s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          Text.scrubPii(piiSynth).as("scrubbed"))
        .orderBy("doc_id")
    },
      oracle(s"""SELECT doc_id, $scrubPiiSql AS scrubbed
           |FROM documents ORDER BY doc_id""".stripMargin)),

    // PII DETECTION stats — the audit sibling of q_scrub_pii: counts
    // of the scrubber's own redactions per doc (detection ≡ redaction
    // by construction), over the same synthetic-PII corpus
    Case("q_pii_stats", (s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), Text.piiCounts(piiSynth).as("__p"))
        .select(col("doc_id"), col("__p.n_email").as("n_email"),
          col("__p.n_ip").as("n_ip"), col("__p.n_number").as("n_number"))
        .orderBy("doc_id")
    },
      // PII detection stats: counts of the scrubber's own placeholders
      // — the same scrub expression, then split-count per category
      oracle(s"""WITH s AS (SELECT doc_id, $scrubPiiSql AS scrubbed
           |           FROM documents)
           |SELECT doc_id,
           |  (len(string_split(scrubbed, '<EMAIL>')) - 1)::BIGINT
           |    AS n_email,
           |  (len(string_split(scrubbed, '<IP>')) - 1)::BIGINT AS n_ip,
           |  (len(string_split(scrubbed, '<NUMBER>')) - 1)::BIGINT
           |    AS n_number
           |FROM s ORDER BY doc_id""".stripMargin))
  )
}
