package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.core.Pipe._
import graft.functions.{Bpe, Codecs, Hll, Text, Vectors}
import graft.llm.{Chunk, Dedup, Delta, Multimodal, SimSearch}
import graft.operators.{AsOfJoin, DataOps, MathOps, Ops, RangeJoin}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every operator from SURVEY.md §2 registers a bounded-batch demonstration
  * query here; `oracleSql` holds the DuckDB-equivalent ANSI SQL. Column
  * names are aliased identically on both sides (the driver hash-compares
  * after sorting columns by name). Numeric outputs follow MathOps' exactness
  * policy: decimal-exact accumulation (order-independent under any
  * parallelism) with a single final double conversion, and sequential
  * left-to-right folds for vector math — so Spark and DuckDB agree
  * bit-for-bit, not just approximately.
  *
  * Queries without an oracle entry are the hash-based approximate ops
  * (MinHash/SimHash/LSH — DuckDB has no xxhash64); their semantics are
  * pinned by ScalaTest invariants instead (src/test/scala/graft).
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.table(s, dir, name)

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

  /** documents with every 50th text replaced by a TWO-token string —
    * the shingle-less corpus the shortDocs-policy queries run on (the
    * oracle applies the identical CASE rewrite). */
  private def shortedDocs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(col("doc_id"),
      when(pmod(col("doc_id"), lit(50)) === 0,
        concat(lit("short "), col("doc_id").cast("string")))
        .otherwise(col("text")).as("text"))

  /** Deterministic URL mix for the curation queries: seven shapes
    * cycling on doc_id — www + fragment, explicit default port,
    * schemeless, upper-case scheme/host + userinfo + :443, multi-label
    * public suffix with exotic port, sub-subdomain with no path, and a
    * dotted-IPv4 host (pins registeredDomain's IP pass-through on BOTH
    * engines). The corpus has no URL column, so the parser's inputs are
    * synthesized to exercise every branch (the oracle applies the
    * identical CASE). */
  private[graft] def synthUrl: Column = {
    val id = col("doc_id").cast("string")
    val m  = pmod(col("doc_id"), lit(7))
    when(m === 0, concat(lit("https://www."), col("source"),
        lit(".com/d/"), id, lit("?x=1#frag")))
      .when(m === 1, concat(lit("http://"), col("source"),
        lit(".com:80/d/"), id))
      .when(m === 2, concat(col("source"), lit(".com/d/"), id))
      .when(m === 3, concat(lit("HTTPS://user:pw@docs."),
        upper(col("source")), lit(".COM:443/d/"), id, lit("?q=a&b=2")))
      .when(m === 4, concat(lit("http://"), col("source"),
        lit(".co.uk:8080/Path/"), id))
      .when(m === 5, concat(lit("https://sub.cdn."), col("source"),
        lit(".com#top")))
      .otherwise(concat(lit("http://10.42.7."),
        pmod(col("doc_id"), lit(200)).cast("string"), lit("/d/"), id))
  }

  /** Host synth for the FULL-PSL query (q_url_psl), cycling on doc_id
    * to hit every publicsuffix.org rule class: plain 1/2/3-label
    * suffixes (com, co.uk, k12.va.us), wildcard `*.ck` at and below the
    * suffix boundary, exceptions `!www.ck` / `!city.kobe.jp` at and
    * below the name, IP-literal and single-label pass-throughs, and a
    * no-match TLD (the implicit `*` fallback). The oracle applies the
    * identical CASE ([[synthPslHostSql]]). */
  private[graft] def synthPslHost: Column = {
    val m = pmod(col("doc_id"), lit(14))
    when(m === 0, concat(col("source"), lit(".com")))
      .when(m === 1, concat(lit("www."), col("source"), lit(".co.uk")))
      .when(m === 2, concat(lit("a.b."), col("source"), lit(".com")))
      .when(m === 3, concat(col("source"), lit(".k12.va.us")))
      .when(m === 4, concat(lit("x."), col("source"), lit(".k12.va.us")))
      .when(m === 5, concat(col("source"), lit(".ck")))
      .when(m === 6, concat(lit("x.shop."), col("source"), lit(".ck")))
      .when(m === 7, lit("www.ck"))
      .when(m === 8, lit("deep.www.ck"))
      .when(m === 9, lit("city.kobe.jp"))
      .when(m === 10, lit("ward.city.kobe.jp"))
      .when(m === 11, concat(lit("10.42.7."),
        pmod(col("doc_id"), lit(200)).cast("string")))
      .when(m === 12, lit("localhost"))
      .otherwise(concat(lit("a."), col("source"), lit(".notatld")))
  }

  private[graft] val synthPslHostSql: String =
    """CASE doc_id % 14
      | WHEN 0 THEN source || '.com'
      | WHEN 1 THEN 'www.' || source || '.co.uk'
      | WHEN 2 THEN 'a.b.' || source || '.com'
      | WHEN 3 THEN source || '.k12.va.us'
      | WHEN 4 THEN 'x.' || source || '.k12.va.us'
      | WHEN 5 THEN source || '.ck'
      | WHEN 6 THEN 'x.shop.' || source || '.ck'
      | WHEN 7 THEN 'www.ck'
      | WHEN 8 THEN 'deep.www.ck'
      | WHEN 9 THEN 'city.kobe.jp'
      | WHEN 10 THEN 'ward.city.kobe.jp'
      | WHEN 11 THEN '10.42.7.' || (doc_id % 200)::VARCHAR
      | WHEN 12 THEN 'localhost'
      | ELSE 'a.' || source || '.notatld' END""".stripMargin

  /** Fixed per-(JVM, sfDir) scratch path, overwritten each run within
    * the JVM and DELETED at JVM exit (shutdown hook) — a fresh
    * createTempDirectory per invocation leaked a copy per RUN (round-7
    * ADVICE), and a pid-keyed path without the hook would leak a copy
    * per JVM. Keyed on the sanitized sfDir plus its hash (sanitizing
    * alone can collide: "/a/b" vs "_a_b") plus the JVM pid, so two
    * concurrent JVMs on one sfDir never race overwrite-writes against
    * each other's reads (round-8 ADVICE). */
  private val scratchRegistered =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private def scratchDir(prefix: String, dir: String): String = {
    val path = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      s"${prefix}_pid${ProcessHandle.current().pid()}_" +
        dir.replaceAll("[^A-Za-z0-9._-]", "_") + "_" +
        Integer.toHexString(dir.hashCode)).toString
    if (scratchRegistered.add(path))
      Runtime.getRuntime.addShutdownHook(new Thread(() =>
        try {
          val root = java.nio.file.Paths.get(path)
          if (java.nio.file.Files.exists(root)) {
            import scala.jdk.CollectionConverters._
            java.nio.file.Files.walk(root).iterator().asScala.toSeq
              .sortBy(-_.getNameCount)
              .foreach(p => java.nio.file.Files.deleteIfExists(p))
          }
        } catch { case _: Throwable => () })) // exit must never fail
    path
  }

  /** Run a scaffolding write (a DAG query's frontier/spray input under
    * [[scratchDir]]) at most ONCE per (JVM, path): the content is a
    * pure function of the sf tables, so re-materializing it on every
    * invocation inside one JVM (Bench sweeps the battery 2-3x) only
    * re-times input PREP, not the operator under test. Scratch dirs
    * die with the JVM, so cross-JVM staleness cannot occur. */
  private val scaffolded =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private def writeOnce(path: String)(write: => Unit): Unit =
    if (scaffolded.add(path)) {
      // mark the path only once the write SUCCEEDS: Bench's timeOne
      // swallows Throwable, so a failed/partial first write must leave
      // the path un-scaffolded for the next invocation to retry
      try write
      catch { case t: Throwable => scaffolded.remove(path); throw t }
    }

  // ---- URL-curation SQL macros (mirror llm/Url.scala bit-for-bit) ----

  private val urlCaseSql: String =
    """CASE doc_id % 7
      | WHEN 0 THEN 'https://www.' || source || '.com/d/' ||
      |   doc_id::VARCHAR || '?x=1#frag'
      | WHEN 1 THEN 'http://' || source || '.com:80/d/' || doc_id::VARCHAR
      | WHEN 2 THEN source || '.com/d/' || doc_id::VARCHAR
      | WHEN 3 THEN 'HTTPS://user:pw@docs.' || upper(source) ||
      |   '.COM:443/d/' || doc_id::VARCHAR || '?q=a&b=2'
      | WHEN 4 THEN 'http://' || source || '.co.uk:8080/Path/' ||
      |   doc_id::VARCHAR
      | WHEN 5 THEN 'https://sub.cdn.' || source || '.com#top'
      | ELSE 'http://10.42.7.' || (doc_id % 200)::VARCHAR || '/d/' ||
      |   doc_id::VARCHAR END""".stripMargin

  private def urlHostSql(u: String): String =
    s"regexp_extract(lower($u), " +
      "'^(?:[a-z][a-z0-9+.-]*://)?(?:[^/?#@]*@)?([^/:?#]+)', 1)"

  private def urlDomainSql(hw: String): String = {
    val sfx = graft.llm.Url.MultiLabelSuffixes
      .map(s => s"'$s'").mkString(", ")
    // IP-literal pass-through FIRST (mirror llm/Url.scala:57-67): a
    // dotted IPv4 has 4 "labels", so without this branch every IP host
    // collapses into a fake domain like "7.200"
    s"""CASE WHEN regexp_matches($hw, '^[0-9]+(\\.[0-9]+){3}$$')
       |     OR contains($hw, ':') THEN $hw
       | WHEN len(string_split($hw, '.')) <= 2 THEN $hw
       | WHEN array_to_string(
       |     list_slice(string_split($hw, '.'), -2, -1), '.') IN ($sfx)
       | THEN array_to_string(
       |     list_slice(string_split($hw, '.'), -3, -1), '.')
       | ELSE array_to_string(
       |     list_slice(string_split($hw, '.'), -2, -1), '.') END"""
      .stripMargin
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The reference README's headline pipeline (reference README.rst:75-90):
    * count-based rolling mean, window=3 stride=3, over the events stream. */
  def entry(spark: SparkSession): DataFrame = {
    val ev = t(spark, "/root/testdata/sf0.001", "events")
    ev >> DataOps.roll(3, 3, Seq(col("event_id"))) >>
      MathOps.mean(col("value")) >>
      Ops.take(1000, col(DataOps.WindowCol))
  }

  // --- shared SQL fragments for the oracle ---------------------------------

  /** DuckDB list literal for a stopword set (kept in lockstep with
    * [[Text.stopwords]] by construction). */
  private def sqlList(ws: Seq[String]): String =
    ws.map(w => s"'$w'").mkString("[", ", ", "]")

  private val toksSql =
    "list_filter(string_split(lower(trim(text)), ' '), t -> len(t) > 0)"

  /** The crawl-ingest replay shared by q_pipeline_crawl (composed
    * DataFrame pipeline) and q_pipeline_crawl_dag (the SAME five stages
    * run as a YAML topology through Topology.runBatch): cap
    * (row_number ≤ 30 by n_chars desc) → the q_gopher_rules keep
    * predicate → content-key dedup with min-id winners → per-domain
    * rollup. One oracle, two execution paths — the DAG runner is
    * driver-gated, not just ScalaTest-pinned. */
  private lazy val pipelineCrawlSql: String = {
    val keep =
      """(len(ts) BETWEEN 50 AND 100000)
        | AND (CAST(list_sum(list_transform(ts, t -> len(t)))
        |      AS DOUBLE) / len(ts) BETWEEN 3.0 AND 10.0)
        | AND (CAST(len(list_filter(ts,
        |      t -> regexp_matches(t, '[a-z]'))) AS DOUBLE)
        |      / len(ts) >= 0.8)
        | AND (CAST(len(list_filter(ts, t -> contains(t, '#')
        |      OR contains(t, '...'))) AS DOUBLE)
        |      / len(ts) <= 0.1)
        | AND (len(list_filter(ts, t -> list_contains(
        |      ['the', 'be', 'to', 'of', 'and', 'that', 'have',
        |       'with'], t))) >= 2)""".stripMargin
    s"""WITH u AS MATERIALIZED (
       |  SELECT doc_id, n_chars, text, $urlCaseSql AS url
       |  FROM documents),
       |d AS (SELECT doc_id, n_chars, text, ${urlDomainSql(
              s"regexp_replace(${urlHostSql("url")}, '^www\\.', '')")}
       |    AS domain FROM u),
       |capped AS (SELECT domain, doc_id, text FROM (
       |  SELECT domain, doc_id, text, row_number() OVER (
       |    PARTITION BY domain ORDER BY n_chars DESC, doc_id) AS rn
       |  FROM d) c WHERE rn <= 30),
       |toks AS (SELECT domain, doc_id, $toksSql AS ts FROM capped),
       |kept AS (SELECT domain, doc_id, ts FROM toks WHERE $keep),
       |dd AS (SELECT arg_min(domain, doc_id) AS domain,
       |    CAST(arg_min(len(ts), doc_id) AS BIGINT) AS n_tokens
       |  FROM kept
       |  GROUP BY md5(array_to_string(ts, ' ')))
       |SELECT domain, count(*)::BIGINT AS n_docs,
       |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens
       |FROM dd GROUP BY domain ORDER BY domain""".stripMargin
  }

  /** The synthetic-PII build + scrub chain shared by q_scrub_pii /
    * q_pii_stats — the SQL twin of `piiSynth` through `Text.scrubPii`. */
  private val scrubPiiSql =
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

  /** Oracle body for the bigram-LM score (q_bigram_lik / q_lm_buckets):
    * replays [[graft.llm.TextStats.bigramLikelihood]] — sliced-list
    * two-arg-lambda bigram expansion, top-K count tables, and the
    * fixed-point exact mean (floor·1e15 → HUGEINT sum → one
    * correctly-rounded cast → shared division order). */
  private def bigramLikSql(topV: Int, topB: Int): String =
    s"""WITH toks AS (
       |  SELECT doc_id, $toksSql AS ts FROM documents),
       |pairs AS (
       |  SELECT doc_id,
       |         unnest(list_transform(ts[1:len(ts)-1],
       |           (x, i) -> {'w1': x, 'bg': x || chr(1) || ts[i+1]}),
       |           recursive := true)
       |  FROM toks WHERE len(ts) >= 2),
       |firsts AS (
       |  SELECT w1, count(*) AS c1 FROM pairs GROUP BY 1
       |  ORDER BY c1 DESC, w1 ASC LIMIT $topV),
       |bigrams AS (
       |  SELECT bg, count(*) AS cb FROM pairs GROUP BY 1
       |  ORDER BY cb DESC, bg ASC LIMIT $topB),
       |vocab AS (SELECT count(*) AS v FROM firsts)
       |SELECT doc_id,
       |       count(*) AS n_bigrams,
       |       CAST(sum(CASE WHEN bigrams.cb IS NULL THEN 1 ELSE 0 END)
       |            AS BIGINT) AS n_oov,
       |       CAST(CAST(sum(CAST(floor(
       |             (CAST(coalesce(bigrams.cb, 0) + 1 AS DOUBLE) /
       |              CAST(coalesce(firsts.c1, 0) + vocab.v AS DOUBLE))
       |             * 1e15) AS BIGINT)) AS HUGEINT) AS DOUBLE)
       |         / count(*) / 1e15 AS score
       |FROM pairs LEFT JOIN bigrams USING (bg)
       |           LEFT JOIN firsts USING (w1)
       |           CROSS JOIN vocab
       |GROUP BY doc_id""".stripMargin

  /** The per-(doc, term) BM25 fixed-point sum fragment over staged
    * columns (tf, dfc, dl, n, c) — replays
    * [[graft.llm.Search]]'s `termScore` IEEE expression shape. */
  private val bm25SumSql =
    s"""CAST(CAST(sum(CAST(floor(
       |    ((CAST(2 * n - 2 * dfc + 1 AS DOUBLE) /
       |      CAST(2 * dfc + 1 AS DOUBLE)) *
       |     ((CAST(tf AS DOUBLE) * (CAST(1.2 AS DOUBLE) + 1.0)) /
       |      (CAST(tf AS DOUBLE) +
       |       (CAST(1.2 AS DOUBLE) * (1.0 - CAST(0.75 AS DOUBLE)))
       |       +
       |       ((CAST(1.2 AS DOUBLE) * CAST(0.75 AS DOUBLE)) *
       |        ((CAST(dl AS DOUBLE) * CAST(n AS DOUBLE)) /
       |         CAST(c AS DOUBLE))))))
       |    * 1e9) AS BIGINT)) AS HUGEINT) AS DOUBLE) / 1e9""".stripMargin

  /** Oracle body for BM25 (q_bm25 / q_hybrid_topk): replays
    * [[graft.llm.Search.bm25]] — the log-free rational idf, the
    * (k1+1)/k1(1−b)/k1·b constants spelled as the same IEEE expressions
    * over double-cast literals, and the 1e9 fixed-point exact term sum. */
  private def bm25Sql(terms: Seq[String]): String = {
    val inList = terms.map(t => s"'$t'").mkString(", ")
    s"""WITH toks AS (
       |  SELECT doc_id, $toksSql AS ts FROM documents),
       |dl AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS dl FROM toks),
       |tots AS (SELECT count(*) AS n, CAST(sum(dl) AS BIGINT) AS c
       |         FROM dl),
       |tf AS (
       |  SELECT doc_id, t, count(*) AS tf
       |  FROM (SELECT doc_id, unnest(ts) AS t FROM toks)
       |  WHERE t IN ($inList) GROUP BY 1, 2),
       |dfq AS (SELECT t, count(*) AS dfc FROM tf GROUP BY 1)
       |SELECT doc_id, count(*) AS n_terms,
       |       $bm25SumSql AS score
       |FROM tf JOIN dl USING (doc_id) CROSS JOIN tots JOIN dfq USING (t)
       |GROUP BY doc_id""".stripMargin
  }

  /** Constant 44-byte RIFF/PCM16 header (mono, 16 kHz) as uppercase hex
    * — the per-clip sample counts in the wav queries are compile-time
    * constants, so the oracle embeds the real encoder's header bytes. */
  private def wavHeaderHex(nSamples: Int): String =
    graft.llm.Wav.encode(graft.llm.Wav.Audio(16000, 1,
      new Array[Short](nSamples))).take(44)
      .map(b => f"${b & 0xff}%02X").mkString

  /** Constant single-frame y4m prefix (stream header + FRAME marker)
    * as uppercase hex — the real muxer's bytes, embedded so the frame
    * oracle pins the full emitted payload. */
  private def y4mHeaderHex(w: Int, h: Int): String =
    s"YUV4MPEG2 W$w H$h F25:1 C444\nFRAME\n".getBytes("US-ASCII")
      .map(b => f"${b & 0xff}%02X").mkString

  /** Sequential-fold cosine similarity between list columns a and b —
    * mirrors [[Vectors.cosine]] op-for-op so doubles match bit-exactly. */
  private def cosSql(a: String, b: String): String =
    s"""(list_reduce(list_transform(list_zip($a, $b),
       |    x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)),
       |    (acc, v) -> acc + v)
       | / (sqrt(list_reduce(list_transform($a,
       |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (acc, v) -> acc + v))
       |  * sqrt(list_reduce(list_transform($b,
       |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (acc, v) -> acc + v))))"""
      .stripMargin

  /** DuckDB replica of [[graft.llm.Ivf.train]] + [[graft.llm.Ivf.topK]]:
    * training folds run over the SAME bounded ordered sample Ivf.train
    * uses (`sampleCap` smallest ids; sampleStep=1 here) so the oracle
    * stays exact when the corpus outgrows the cap.
    * the driver mini-k-means is a SEQUENTIAL deterministic loop (sample
    * ordered by id, strict-< argmin, per-dim sums accumulated in sample
    * order, one double division per mean), so each Lloyd iteration is
    * replicable as SQL with ordered list folds — `iters` chained CTE
    * blocks generated here. Probing and ranking reuse the proven cosine
    * / row_number conventions. */
  /** DuckDB replica of [[graft.llm.KMeans.fit]] + final assignment:
    * unlike the driver mini-k-means ([[ivfOracleSql]]'s sequential
    * list folds), the full-corpus Lloyd refit is order-INDEPENDENT by
    * construction — each value quantized to `floor(x * 1e15)` (one
    * IEEE multiply + floor, identical in any engine), summed exactly
    * (DuckDB hugeint ≡ Spark decimal(38,0)), one correctly-rounded
    * integer→double conversion, then the fixed `/ 1e15 / n` division
    * sequence — so the oracle replays it with plain aggregates, no
    * ordered folds. Output pins the induced partition (cell, n) and
    * the refit values themselves (c0_nanos, dim-0 floor-nanos). */
  private def kmeansFitOracleSql(k: Int, iters: Int): String = {
    val l2 = (v: String, c: String) =>
      s"""list_reduce(list_prepend(0.0,
         |    list_transform(list_zip($v, $c),
         |      x -> (x[1]::DOUBLE - x[2]::DOUBLE)
         |         * (x[1]::DOUBLE - x[2]::DOUBLE))),
         |    (a, y) -> a + y)""".stripMargin
    val iterBlocks = (0 until iters).map { t =>
      s"""d$t AS (SELECT e.vec_id, c.cell,
         |  ${l2("e.embedding", "c.cv")} AS dist
         |  FROM embeddings e CROSS JOIN cents$t c),
         |asg$t AS (SELECT vec_id, cell FROM (
         |  SELECT vec_id, cell, row_number() OVER (
         |    PARTITION BY vec_id ORDER BY dist, cell) AS rn FROM d$t)
         |  WHERE rn = 1),
         |st$t AS (SELECT a.cell, dims.i,
         |    sum(CAST(floor(e.embedding[dims.i]::DOUBLE * 1e15)
         |        AS BIGINT)) AS s,
         |    count(*) AS n
         |  FROM asg$t a JOIN embeddings e USING (vec_id)
         |  CROSS JOIN (SELECT unnest(range(1,
         |    (SELECT max(len(embedding)) FROM embeddings) + 1)) AS i) dims
         |  GROUP BY a.cell, dims.i),
         |cm$t AS (SELECT cell, i,
         |    CAST(CAST(s AS HUGEINT) AS DOUBLE) / 1e15 / n AS cv_i
         |  FROM st$t),
         |cents${t + 1} AS (
         |  SELECT cell, list(cv_i ORDER BY i) AS cv FROM cm$t GROUP BY cell
         |  UNION ALL
         |  SELECT cell, cv FROM cents$t
         |  WHERE cell NOT IN (SELECT cell FROM cm$t)),""".stripMargin
    }.mkString("\n")
    s"""WITH cents0 AS (
       |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
       |         list_transform(embedding, x -> x::DOUBLE) AS cv
       |  FROM embeddings ORDER BY vec_id LIMIT $k),
       |$iterBlocks
       |fd AS (SELECT e.vec_id, c.cell,
       |  ${l2("e.embedding", "c.cv")} AS dist
       |  FROM embeddings e CROSS JOIN cents$iters c),
       |fasg AS (SELECT vec_id, cell FROM (
       |  SELECT vec_id, cell, row_number() OVER (
       |    PARTITION BY vec_id ORDER BY dist, cell) AS rn FROM fd)
       |  WHERE rn = 1)
       |SELECT a.cell, count(*) AS n,
       |       CAST(floor(c.cv[1] * 1e9) AS BIGINT) AS c0_nanos
       |FROM fasg a JOIN cents$iters c USING (cell)
       |GROUP BY a.cell, c.cv
       |ORDER BY cell""".stripMargin
  }

  private def ivfOracleSql(k: Int, iters: Int, nProbe: Int,
                           topK: Int, sampleCap: Int = 10000,
                           selectPrefix: String = ""): String = {
    val l2 = (v: String, c: String) =>
      s"""list_reduce(list_prepend(0.0,
         |    list_transform(list_zip($v, $c),
         |      x -> (x[1]::DOUBLE - x[2]::DOUBLE)
         |         * (x[1]::DOUBLE - x[2]::DOUBLE))),
         |    (a, y) -> a + y)""".stripMargin
    val iterBlocks = (0 until iters).map { t =>
      s"""d$t AS (SELECT e.vec_id, c.cell,
         |  ${l2("e.embedding", "c.cv")} AS dist
         |  FROM samp e CROSS JOIN cents$t c),
         |asg$t AS (SELECT vec_id, cell FROM (
         |  SELECT vec_id, cell, row_number() OVER (
         |    PARTITION BY vec_id ORDER BY dist, cell) AS rn FROM d$t)
         |  WHERE rn = 1),
         |mem$t AS (SELECT a.cell, dims.i,
         |    list(e.embedding[dims.i]::DOUBLE ORDER BY e.vec_id) AS vs,
         |    count(*) AS n
         |  FROM asg$t a JOIN samp e USING (vec_id)
         |  CROSS JOIN (SELECT unnest(range(1,
         |    (SELECT max(len(embedding)) FROM embeddings) + 1)) AS i) dims
         |  GROUP BY a.cell, dims.i),
         |cm$t AS (SELECT cell, i,
         |    list_reduce(list_prepend(0.0, vs), (x, y) -> x + y) / n AS cv_i
         |  FROM mem$t),
         |cents${t + 1} AS (
         |  SELECT cell, list(cv_i ORDER BY i) AS cv FROM cm$t GROUP BY cell
         |  UNION ALL
         |  SELECT cell, cv FROM cents$t
         |  WHERE cell NOT IN (SELECT cell FROM cm$t)),""".stripMargin
    }.mkString("\n")
    s"""WITH samp AS (
       |  SELECT vec_id, embedding FROM embeddings
       |  ORDER BY vec_id LIMIT $sampleCap),
       |cents0 AS (
       |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
       |         list_transform(embedding, x -> x::DOUBLE) AS cv
       |  FROM samp ORDER BY vec_id LIMIT $k),
       |$iterBlocks
       |cd AS (SELECT e.vec_id, c.cell,
       |  ${l2("e.embedding", "c.cv")} AS dist
       |  FROM embeddings e CROSS JOIN cents$iters c),
       |corpus AS (SELECT vec_id AS nbr_id, cell FROM (
       |  SELECT vec_id, cell, row_number() OVER (
       |    PARTITION BY vec_id ORDER BY dist, cell) AS rn FROM cd)
       |  WHERE rn = 1),
       |qcells AS (SELECT vec_id AS query_id, cell FROM (
       |  SELECT vec_id, cell, row_number() OVER (
       |    PARTITION BY vec_id ORDER BY dist, cell) AS rn FROM cd
       |  WHERE vec_id < 5) WHERE rn <= $nProbe),
       |cand AS (SELECT DISTINCT q.query_id, c.nbr_id
       |  FROM corpus c JOIN qcells q USING (cell)
       |  WHERE q.query_id <> c.nbr_id),
       |scored AS (SELECT query_id, nbr_id,
       |    ${cosSql("eq.embedding", "ec.embedding")} AS cosine
       |  FROM cand JOIN embeddings eq ON eq.vec_id = query_id
       |            JOIN embeddings ec ON ec.vec_id = nbr_id),
       |ranked AS (SELECT query_id, nbr_id, cosine,
       |    row_number() OVER (PARTITION BY query_id
       |                       ORDER BY cosine DESC, nbr_id) AS rank
       |  FROM scored)
       |SELECT ${selectPrefix}query_id, nbr_id, cosine, rank FROM ranked
       |WHERE rank <= $topK ORDER BY query_id, rank""".stripMargin
  }

  /** DuckDB replica of [[graft.llm.Pca.fit]]: quantized exact integer
    * moments (HUGEINT sums ≡ Spark's decimal(38,0)), one double
    * conversion + division per covariance cell, then `iters` unrolled
    * power-iteration CTE blocks per component with the IDENTICAL IEEE op
    * sequence (list_prepend(0.0, …) ordered folds = the driver's
    * left-to-right loops; correctly-rounded sqrt; deflation with the
    * pinned `c − λ·v_j·v_i` association). `finalSelect` appends the
    * fit-frame or projection finale. */
  private def pcaOracleSql(k: Int, iters: Int, finalSelect: String)
      : String = {
    require(k >= 1 && k <= 4, s"unrolled oracle supports k<=4, got $k")
    val compBlocks = (0 until k).map { c =>
      val iterBlocks = (1 to iters).map { t =>
        s"""w_c${c}_$t AS (SELECT list(wj ORDER BY j) AS w FROM (
           |  SELECT cv.j, list_reduce(list_prepend(0.0,
           |      list(cv.c * vv.v[cv.i + 1] ORDER BY cv.i)),
           |    (a, b) -> a + b) AS wj
           |  FROM cov$c cv, v_c${c}_${t - 1} vv GROUP BY cv.j) s_w),
           |v_c${c}_$t AS (SELECT list_transform(w, x -> x / lam) AS v,
           |    lam FROM (
           |  SELECT w, sqrt(list_reduce(list_prepend(0.0,
           |      list_transform(w, x -> x * x)), (a, b) -> a + b)) AS lam
           |  FROM w_c${c}_$t) s_n),""".stripMargin
      }.mkString("\n")
      val deflate =
        if (c + 1 < k)
          s"""cov${c + 1} AS MATERIALIZED (
             |  SELECT cv.j, cv.i,
             |    cv.c - f.lam * f.v[cv.j + 1] * f.v[cv.i + 1] AS c
             |  FROM cov$c cv, v_c${c}_$iters f),""".stripMargin
        else ""
      s"""v_c${c}_0 AS (SELECT list(
         |    1.0 / sqrt(CAST(dd.d AS DOUBLE)) ORDER BY dp.p) AS v
         |  FROM dpos dp, dd),
         |$iterBlocks
         |$deflate""".stripMargin
    }.mkString("\n").trim.stripSuffix(",")
    s"""WITH q AS MATERIALIZED (
       |  SELECT vec_id, list_transform(embedding,
       |    x -> CAST(floor(CAST(x AS DOUBLE) * 32768.0) AS BIGINT)) AS qv
       |  FROM embeddings),
       |nn AS (SELECT count(*)::BIGINT AS n FROM q),
       |dpos AS MATERIALIZED (SELECT unnest(range(0,
       |  (SELECT max(len(embedding)) FROM embeddings)))::INTEGER AS p),
       |dd AS (SELECT count(*)::BIGINT AS d FROM dpos),
       |gram AS MATERIALIZED (
       |  SELECT a.p AS a, b.p AS b,
       |    sum(CAST(qv[a.p + 1] * qv[b.p + 1] AS HUGEINT)) AS s
       |  FROM q, dpos a, dpos b WHERE b.p >= a.p GROUP BY a.p, b.p),
       |mv AS MATERIALIZED (SELECT i.p AS i,
       |    sum(CAST(qv[i.p + 1] AS HUGEINT)) AS m
       |  FROM q, dpos i GROUP BY i.p),
       |cov0 AS MATERIALIZED (
       |  SELECT dj.p AS j, di.p AS i,
       |    CAST(nn.n * g.s - mj.m * mi.m AS DOUBLE) /
       |      (CAST(nn.n AS DOUBLE) * CAST(nn.n AS DOUBLE) *
       |       1073741824.0) AS c
       |  FROM dpos dj CROSS JOIN dpos di
       |    JOIN gram g ON g.a = least(dj.p, di.p)
       |      AND g.b = greatest(dj.p, di.p)
       |    JOIN mv mj ON mj.i = dj.p
       |    JOIN mv mi ON mi.i = di.p
       |    CROSS JOIN nn),
       |$compBlocks
       |$finalSelect""".stripMargin
  }

  /** One entry per implemented operator from SURVEY.md §2. Built once:
    * every entry is a `(s, dir) => …` lambda, so building the map runs
    * no query code. */
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ===== reference core: rx/rxsci operator surface =====================

    // rs.data.roll + rs.math.mean — README flagship (README.rst:75-90)
    // event_id is a dense 0-based counter → arithmetic window ids, no
    // global sort / single-partition WindowExec (rollDense fast path)
    "q_roll_mean" -> ((s, dir) =>
      t(s, dir, "events") >>
        DataOps.rollDense(3, 3, col("event_id")) >>
        MathOps.mean(col("value")) >>
        (_.orderBy(DataOps.WindowCol))),

    // keyed roll — the 100 TB shape: windows per user, parallel across keys
    "q_roll_keyed" -> ((s, dir) =>
      t(s, dir, "events") >>
        DataOps.roll(5, 5, Seq(col("event_id")), Seq(col("user_id"))) >>
        (df => df.groupBy("user_id", DataOps.WindowCol).agg(
          count(lit(1)).as("n"),
          MathOps.exactSum(col("value")).as("sum_value"))) >>
        (_.orderBy("user_id", DataOps.WindowCol))),

    // SLIDING count windows (stride < window — the reference's
    // rs.data.roll generalization): each row lands in up to
    // ⌈window/stride⌉ windows, complete windows only; per-key, so the
    // explode + aggregate shuffle is keyed and scales linearly
    "q_roll_sliding" -> ((s, dir) =>
      t(s, dir, "events") >>
        DataOps.roll(4, 2, Seq(col("event_id")), Seq(col("user_id"))) >>
        (df => df.groupBy("user_id", DataOps.WindowCol).agg(
          count(lit(1)).as("n"),
          MathOps.exactSum(col("value")).as("sum_value"))) >>
        (_.orderBy("user_id", DataOps.WindowCol))),

    // ops.map — sample `multiply` operator (processor.py:6-14)
    "q_map_multiply" -> ((s, dir) =>
      t(s, dir, "events") >>
        Ops.map(
          "event_id" -> col("event_id"),
          "multiplied" -> (col("value") * lit(3)).cast("double")) >>
        (_.orderBy("event_id"))),

    // ops.filter
    "q_filter" -> ((s, dir) =>
      t(s, dir, "events") >>
        Ops.filter(col("event_type") === "purchase" && col("value") > 100) >>
        Ops.map("event_id" -> col("event_id"),
                "user_id" -> col("user_id"),
                "value" -> col("value")) >>
        (_.orderBy("event_id"))),

    // ops.flat_map — token explosion over documents
    "q_flatmap" -> ((s, dir) =>
      t(s, dir, "documents") >>
        Ops.flatMap(Text.tokens(col("text")), "token") >>
        (df => df.groupBy("token").agg(count(lit(1)).as("n"))) >>
        (_.orderBy("token"))),

    // ops.scan — running per-key fold (cumulative sum), decimal-exact
    "q_scan_cumsum" -> ((s, dir) =>
      t(s, dir, "events") >>
        Ops.scan(sum(col("value").cast("decimal(18,2)")), "cum",
          Seq(col("ts"), col("event_id")), Seq(col("user_id"))) >>
        Ops.map("event_id" -> col("event_id"),
                "user_id" -> col("user_id"),
                "cum" -> col("cum").cast("double")) >>
        (_.orderBy("event_id"))),

    // rs.ops.distinct
    "q_distinct" -> ((s, dir) =>
      t(s, dir, "lineitem") >>
        Ops.map("l_returnflag" -> col("l_returnflag"),
                "l_linestatus" -> col("l_linestatus")) >>
        Ops.distinct() >>
        (_.orderBy("l_returnflag", "l_linestatus"))),

    // ops.merge + start_with — UNION ALL of substreams + literal head
    "q_merge" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("event_type"))
      val signups = ev.filter(col("event_type") === "signup")
        .select(col("event_id"), col("event_type"))
      val head = s.sql("SELECT CAST(-1 AS BIGINT) AS event_id, " +
        "'start' AS event_type")
      purchases >> Ops.merge(signups) >> Ops.startWith(head) >>
        (_.orderBy("event_id", "event_type"))
    }),

    // ops.take — deterministic head (top-k by explicit order)
    "q_topk" -> ((s, dir) =>
      t(s, dir, "orders") >>
        Ops.take(10, col("o_totalprice").desc, col("o_orderkey")) >>
        Ops.map("o_orderkey" -> col("o_orderkey"),
                "o_totalprice" -> col("o_totalprice"))),

    // ops.skip — drop the first n per key under an explicit order (the
    // keyed form: per-key row_number shuffles once and scales linearly)
    "q_skip" -> ((s, dir) =>
      t(s, dir, "orders") >>
        Ops.skip(2, Seq(col("o_orderkey")), Seq(col("o_custkey"))) >>
        Ops.map("o_custkey" -> col("o_custkey"),
                "o_orderkey" -> col("o_orderkey")) >>
        (_.orderBy("o_custkey", "o_orderkey"))),

    // rs.ops.last — latest event per user (argmax pattern)
    "q_last_by" -> ((s, dir) =>
      t(s, dir, "events") >>
        Ops.lastBy(Seq(col("user_id")), Seq(col("ts"), col("event_id"))) >>
        Ops.map("user_id" -> col("user_id"),
                "event_id" -> col("event_id"),
                "value" -> col("value")) >>
        (_.orderBy("user_id"))),

    // deterministic training-mix sampling: per-source rates over a
    // Lehmer id-hash bucket — reproducible across engines/retries (the
    // oracle computes the identical buckets in plain BIGINT arithmetic)
    "q_mix_sample" -> ((s, dir) =>
      t(s, dir, "documents") >>
        Ops.mixSample(col("doc_id"), col("source"),
          Map("src0" -> 0.2, "src1" -> 0.5, "src2" -> 0.0,
            "src3" -> 0.85)) >>
        (df => df.groupBy("source").agg(count(lit(1)).as("n"))) >>
        (_.orderBy("source"))),

    // deterministic global corpus shuffle + sharding (training export
    // order): hash order is a pure function of (seed, id) — the whole
    // permutation hash-matches the oracle, shard assignment and all
    "q_shuffle_shards" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id")) >>
        Ops.shuffleShards(col("doc_id"), nShards = 8, seed = 7) >>
        (_.orderBy("shard", "shuffle_pos"))),

    // deterministic contrastive negatives: 4 hash-uniform corpus draws
    // per anchor (doc_id < 50), minus the anchor and its synthetic
    // positive (doc_id + 1) — the DPR/word2vec negatives step, every
    // draw engine-replayable
    "q_negative_sample" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      import s.implicits._
      val positives = docs.select(col("doc_id").as("anchor"),
        (col("doc_id") + 1).as("pos"))
      (docs.filter(col("doc_id") < 50) >>
        Ops.negativeSample(col("doc_id"),
          docs.select("doc_id"), positives, k = 4, seed = 11))
        .orderBy("anchor", "draw")
    }),

    // token-budgeted exact corpus mixing: per-source size budgets cut in
    // deterministic hash order via the two-level bucket decomposition;
    // the oracle replays the equivalent single-window formulation
    "q_mix_budget" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("n_chars")) >>
        Ops.sampleToBudget(col("doc_id"), col("source"), col("n_chars"),
          Map("src0" -> 3000L, "src1" -> 100000L, "src3" -> 5000L,
            "src7" -> 1L), seed = 3) >>
        (_.select("doc_id", "source").orderBy("doc_id"))),

    // rxx sorted_merge — two disordered sources merged into deterministic
    // event-time order (range repartition + local sort; global order is
    // pinned by OpsSpec, content by the oracle)
    "q_sorted_merge" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val even = ev.filter(pmod(col("event_id"), lit(2)) === 0)
      val odd = ev.filter(pmod(col("event_id"), lit(2)) === 1)
      // ts_sec leads the schema so Verify's stable all-column sort
      // coincides with the operator's (ts, event_id) order
      even >>
        Ops.sortedMerge(Seq(odd), Seq(col("ts"), col("event_id"))) >>
        Ops.map("ts_sec" -> col("ts").cast("long"),
                "event_id" -> col("event_id"),
                "value" -> col("value"))
    }),

    // rs.ops.sample — deterministic decimation, every 10th event
    // (dense event_id → pure filter, no global row_number)
    "q_sample_every" -> ((s, dir) =>
      t(s, dir, "events") >>
        Ops.sampleEveryDense(10, col("event_id")) >>
        Ops.map("event_id" -> col("event_id"), "value" -> col("value")) >>
        (_.orderBy("event_id"))),

    // rs.ops.with_latest_from (serve.py:141) — 1-row broadcast side input
    "q_with_latest" -> ((s, dir) => {
      val latestOrder = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderdate"))
      t(s, dir, "events") >>
        Ops.filter(col("event_id") < 100) >>
        Ops.withLatestFrom(latestOrder,
          struct(col("o_orderdate"), col("o_orderkey"))) >>
        Ops.map("event_id" -> col("event_id"),
                "value" -> col("value"),
                "o_orderkey" -> col("o_orderkey")) >>
        (_.orderBy("event_id"))
    }),

    // rs.data.batch — serve's count batcher (serve.py:82-101), batch=50
    // (dense event_id → arithmetic batch ids)
    "q_batch" -> ((s, dir) =>
      t(s, dir, "events") >>
        DataOps.batchDense(50, col("event_id")) >>
        (df => df.groupBy(DataOps.WindowCol).agg(
          count(lit(1)).as("n"),
          MathOps.exactSum(col("value")).as("sum_value"))) >>
        (_.orderBy(DataOps.WindowCol))),

    // rs.data.split — segment per user at 'signup' boundaries
    "q_split" -> ((s, dir) =>
      t(s, dir, "events") >>
        DataOps.split(col("event_type") === "signup",
          Seq(col("ts"), col("event_id")), Seq(col("user_id"))) >>
        (df => df.groupBy(col("user_id"), col(DataOps.WindowCol))
          .agg(count(lit(1)).as("n"))) >>
        (_.orderBy("user_id", DataOps.WindowCol))),

    // rs.data.time_split — 30-min-gap sessionization per user
    "q_session" -> ((s, dir) =>
      t(s, dir, "events") >>
        DataOps.timeSplit(col("ts"), 1800, Seq(col("user_id")),
          tieBreak = Seq(col("event_id"))) >>
        (df => df.groupBy(col("user_id"), col(DataOps.WindowCol)).agg(
          count(lit(1)).as("n"),
          floor(min(col("ts")).cast("double")).cast("long")
            .as("session_start"))) >>
        (_.orderBy("user_id", DataOps.WindowCol))),

    // time windows: tumbling hour (event-time, streaming-shaped)
    "q_tumbling_hour" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          MathOps.exactSum(col("value")).as("sum_value"))
        .select(col("window.start").cast("long").as("hour_start"),
          col("event_type"), col("n"), col("sum_value"))
        .orderBy("hour_start", "event_type")),

    // time windows: sliding 1h window, 30min slide
    "q_sliding_hour" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour", "30 minutes"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").cast("long").as("window_start"),
          col("n"))
        .orderBy("window_start")),

    // ===== relational vocabulary (SURVEY.md §2.5) ========================

    "q_agg" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          MathOps.exactSum(col("l_quantity")).as("sum_qty"),
          MathOps.exactSum(col("l_extendedprice")).as("sum_price"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag", "l_linestatus")),

    // 3-way join: lineitem ⋈ orders ⋈ customer, revenue per segment.
    // Dims are broadcast — no shuffle of the fact table beyond the final agg.
    "q_join_revenue" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val revenue = (col("l_extendedprice").cast("decimal(18,2)") *
        (lit(1).cast("decimal(18,2)") -
          col("l_discount").cast("decimal(18,2)")))
      // NO broadcast hints (r14 plan read): at sf0.1 both orders
      // (2.6 MB) and customer (0.3 MB) sit under the 10 MB
      // auto-broadcast threshold, so the planner broadcasts them
      // anyway — same plan, same speed. At 100x orders is 134 MB and
      // the old forced hint made the 100x row build a 15M-row
      // broadcast hash table (the dominant cost in its 18.6x ratio);
      // size-based planning + AQE switch it to a shuffle join, which
      // is the plan a 100 TB cluster needs
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(sum(revenue).cast("double").as("revenue"),
          count(lit(1)).as("n_lines"))
        .orderBy("c_mktsegment")
    }),

    // TPC-H Q1 (pricing summary): the benchmark classic — 8 aggregates
    // in one map-side-combined pass, every sum decimal-exact (the
    // triple product stays inside decimal(38,9), no precision
    // reduction), means as exact-sum / count with ONE IEEE division
    "q_tpch_q1" -> ((s, dir) => {
      val d3 = (c: String) => col(c).cast("decimal(12,3)")
      val one = lit(1).cast("decimal(12,3)")
      val disc = d3("l_extendedprice") * (one - d3("l_discount"))
      val charge = disc * (one + d3("l_tax"))
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("2001-09-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          MathOps.exactSum(col("l_quantity")).as("sum_qty"),
          MathOps.exactSum(col("l_extendedprice")).as("sum_base_price"),
          sum(disc).cast("double").as("sum_disc_price"),
          sum(charge).cast("double").as("sum_charge"),
          MathOps.exactMean(col("l_quantity")).as("avg_qty"),
          MathOps.exactMean(col("l_extendedprice")).as("avg_price"),
          MathOps.exactMean(col("l_discount")).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // TPC-H Q5 shape (local-supplier volume): the 6-table join — facts
    // shuffle on the order key, all four dims broadcast, the local-
    // supplier condition rides the supplier join
    "q_tpch_q5" -> ((s, dir) => {
      val revenue = (col("l_extendedprice").cast("decimal(18,2)") *
        (lit(1).cast("decimal(18,2)") -
          col("l_discount").cast("decimal(18,2)")))
      t(s, dir, "lineitem")
        .join(t(s, dir, "orders").filter(
          col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1997-01-01").cast("timestamp")),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(t(s, dir, "customer")),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "supplier")),
          col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(t(s, dir, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region"))
          .filter(col("r_name") === "ASIA"),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy("n_name")
        .agg(sum(revenue).cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    }),

    // TPC-H Q3 shape (shipping priority): segment-filtered customers
    // broadcast into the orders⋈lineitem fact join (orders/lineitem
    // shuffle on the order key — the 100 TB-correct side assignment),
    // revenue decimal-exact, bounded top-10
    "q_tpch_q3" -> ((s, dir) => {
      val d = lit("1998-01-01").cast("timestamp")
      val revenue = (col("l_extendedprice").cast("decimal(18,2)") *
        (lit(1).cast("decimal(18,2)") -
          col("l_discount").cast("decimal(18,2)")))
      t(s, dir, "lineitem").filter(col("l_shipdate") > d)
        .join(t(s, dir, "orders").filter(col("o_orderdate") < d),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(t(s, dir, "customer")
          .filter(col("c_mktsegment") === "BUILDING")),
          col("o_custkey") === col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(sum(revenue).cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderdate"),
          col("l_orderkey"))
        .limit(10)
    }),

    // TPC-H Q10 shape (returned-item revenue): one-quarter order
    // window, R-flag lineitems, customer + nation broadcast dims,
    // top-20 accounts by lost revenue
    "q_tpch_q10" -> ((s, dir) => {
      val revenue = (col("l_extendedprice").cast("decimal(18,2)") *
        (lit(1).cast("decimal(18,2)") -
          col("l_discount").cast("decimal(18,2)")))
      t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
        .join(t(s, dir, "orders").filter(
          col("o_orderdate") >= lit("1995-10-01").cast("timestamp") &&
            col("o_orderdate") < lit("1996-01-01").cast("timestamp")),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(t(s, dir, "customer")),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(sum(revenue).cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    }),

    // TPC-H Q18 shape (large-volume customers): the HAVING-subquery —
    // per-order quantity rollup feeds an order-key semi-join, then
    // customer broadcast; top-100 by order value
    "q_tpch_q18" -> ((s, dir) => {
      val big = t(s, dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(MathOps.exactSum(col("l_quantity")).as("total_qty"))
        .filter(col("total_qty") > 150.0)
      t(s, dir, "orders")
        .join(big, col("o_orderkey") === col("l_orderkey"))
        .join(broadcast(t(s, dir, "customer")),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          col("o_orderdate"), col("o_totalprice"), col("total_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(100)
    }),

    // NULL-safe equi-join (<=>): NULL keys MATCH each other instead of
    // silently dropping — the semantics a dimension with "unknown"
    // buckets needs; still hash-joinable (no inequality blowup)
    "q_nullsafe_join" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      // a nullable bucket: value quartile, NULL for the error rows
      def bucketed(alias: String) = ev.select(
        col("event_id").as(s"${alias}_id"),
        when(col("event_type") =!= "error",
          floor(col("value") / 100.0).cast("long"))
          .otherwise(lit(null)).as(s"${alias}_bucket"))
      val a = bucketed("a").filter(col("a_id") < 500)
      val b = bucketed("b").filter(col("b_id") >= 500 &&
        col("b_id") < 1500)
      a.join(b, col("a_bucket") <=> col("b_bucket"))
        .groupBy("a_bucket")
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy(col("a_bucket").asc_nulls_first)
    }),

    // left-semi: customers that have orders
    "q_semijoin" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
        .groupBy("c_mktsegment").agg(count(lit(1)).as("n"))
        .orderBy("c_mktsegment")
    }),

    // left-anti: customers without orders
    "q_antijoin" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_mktsegment"))
        .orderBy("c_custkey")
    }),

    // set ops: intersect / except on nation keys
    "q_intersect" -> ((s, dir) => {
      val cn = t(s, dir, "customer").select(col("c_nationkey").as("nk"))
      val sn = t(s, dir, "supplier").select(col("s_nationkey").as("nk"))
      cn.intersect(sn).orderBy("nk")
    }),
    "q_except" -> ((s, dir) => {
      val cn = t(s, dir, "customer").select(col("c_nationkey").as("nk"))
      val sn = t(s, dir, "supplier").select(col("s_nationkey").as("nk"))
      cn.except(sn).orderBy("nk")
    }),

    // window functions: top-2 orders per customer
    "q_window_rank" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 2)
        .select(col("o_custkey"), col("o_orderkey"),
          col("o_totalprice"), col("rn"))
        .orderBy("o_custkey", "rn")
    }),

    // lag/lead/ntile over per-user event sequences — the offset/bucketing
    // window vocabulary beyond ranking
    "q_lag_lead" -> ((s, dir) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .filter(col("user_id") < 20)
        .select(col("user_id"), col("event_id"),
          lag(col("event_id"), 1).over(w).as("prev_event"),
          lead(col("event_id"), 1).over(w).as("next_event"),
          ntile(4).over(w).cast("long").as("quartile"))
        .orderBy("user_id", "event_id")
    }),

    // dedup with representative row (argmin) — rs.ops.distinct keyed form
    "q_dedup_rows" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy("user_id", "event_type")
        .agg(min(struct(col("event_id"), col("value"))).as("r"))
        .select(col("user_id"), col("event_type"),
          col("r.event_id").as("event_id"), col("r.value").as("value"))
        .orderBy("user_id", "event_type")),

    // as-of join: enrich each event with the most recent order of its user
    // (sort-merge-as-of — one shuffle, no inequality-join blowup)
    "q_asof" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val o = t(s, dir, "orders")
      AsOfJoin.asOf(
        ev.select("event_id", "user_id", "ts"), o,
        leftTs = col("ts"), rightTs = col("o_orderdate"),
        leftKey = col("user_id"), rightKey = col("o_custkey"),
        rightValueCols = Seq("o_orderkey", "o_totalprice"),
        rightTiebreak = col("o_orderkey"))
        .select("event_id", "user_id", "o_orderkey", "o_totalprice")
        .orderBy("event_id")
    }),

    // range (interval) join: event pairs of the same user within 5 min —
    // equi-join on the key + band filter (no nested-loop: the user_id
    // equality keys the shuffle; the band is a post-join filter)
    // banded range join: shuffle key = (user, 5-min bucket), so a hot
    // user's history can't collapse onto one task (RangeJoin scaladoc)
    "q_range_join" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(
        col("event_id"), col("user_id"), col("ts"))
      val a = ev.select(col("event_id").as("id_a"),
        col("user_id"), col("ts").as("ts_a"))
      val b = ev.select(col("event_id").as("id_b"),
        col("user_id"), col("ts").as("ts_b"))
      RangeJoin.timeBand(a, b, Seq("user_id"), "ts_a", "ts_b", 300L)
        .filter(col("id_a") < col("id_b"))
        .select(col("user_id"), col("id_a"), col("id_b"))
        .orderBy("user_id", "id_a", "id_b")
    }),

    // rollup / cube — hierarchical + full grouping sets
    "q_rollup" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"),
          MathOps.exactSum(col("l_quantity")).as("sum_qty"))
        .orderBy(col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)),

    "q_cube" -> ((s, dir) =>
      t(s, dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n"))
        .orderBy(col("o_orderstatus").asc_nulls_first,
          col("o_orderpriority").asc_nulls_first)),

    // unpivot — wide measure columns to (measure, value) rows, the
    // inverse of pivot (Spark's native unpivot/melt; map-only)
    "q_unpivot" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_orderkey") <= 100)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity"), col("l_extendedprice"),
          col("l_discount"), col("l_tax"))
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_extendedprice"),
            col("l_discount"), col("l_tax")),
          "measure", "value")
        .orderBy("l_orderkey", "l_linenumber", "measure")),

    // explicit GROUPING SETS — the two rollup paths a dashboard needs
    // without the full cube's blowup: (status, priority) and (status)
    // and () — SQL surface over the same table registered as a view
    "q_grouping_sets" -> ((s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("gs_orders")
      s.sql(
        """SELECT o_orderstatus, o_orderpriority, count(*) AS n
          |FROM gs_orders
          |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
          |  (o_orderstatus), ())
          |ORDER BY o_orderstatus ASC NULLS FIRST,
          |  o_orderpriority ASC NULLS FIRST""".stripMargin)
    }),

    // pivot — event counts per user, one column per event type
    "q_pivot" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy("user_id")
        .pivot("event_type",
          Seq("click", "error", "purchase", "signup", "view"))
        .count()
        .orderBy("user_id")),

    // scalar subquery (Catalyst decorrelates): orders above global mean
    "q_scalar_subquery" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql("""
        SELECT o_orderkey, o_totalprice FROM orders
        WHERE o_totalprice > (
          SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 / count(*) FROM orders)
        ORDER BY o_orderkey
      """)
    }),

    // scalar-function battery: string/date/null-handling expressions
    // upper() + char-slice manufacture the compare key, so this row is
    // in the plan-side guard tier (OracleXxh doc): DuckDB's upper is
    // per-codepoint (ß would not become SS) and the oracle's substr
    // must slice the same codepoints
    "q_scalar_funcs" -> ((s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        upper(substring(
          Text.asciiOracleGuard(col("text"), "q_scalar_funcs"),
          1, 10)).as("head_up"),
        length(col("text")).as("len"),
        concat_ws("|", col("lang"), col("source")).as("tag"),
        regexp_extract(col("text"), "([a-z]+)", 1).as("first_word"),
        coalesce(nullif(col("lang"), lit("en")), lit("english"))
          .as("lang_or_english"))
        .orderBy("doc_id")),

    "q_date_funcs" -> ((s, dir) =>
      t(s, dir, "orders")
        .groupBy(year(col("o_orderdate")).as("y"),
          month(col("o_orderdate")).as("m"))
        .agg(count(lit(1)).as("n"),
          MathOps.exactSum(col("o_totalprice")).as("sum_price"))
        .orderBy("y", "m")),

    // ===== rs.math family ================================================

    "q_stats" -> ((s, dir) =>
      t(s, dir, "events") >>
        MathOps.describe(col("value"), Seq(col("event_type"))) >>
        (_.orderBy("event_type"))),

    "q_median" -> ((s, dir) =>
      t(s, dir, "events") >>
        MathOps.median(col("value"), Seq(col("event_type"))) >>
        (_.orderBy("event_type"))),

    "q_histogram" -> ((s, dir) =>
      t(s, dir, "events") >>
        MathOps.histogram(col("value"), 0.0, 500.0, 20,
          Seq(col("event_type"))) >>
        (_.orderBy("event_type", "bucket"))),

    "q_ewma" -> ((s, dir) =>
      t(s, dir, "events") >>
        MathOps.ewmaByKey(col("value"), col("ts"), 0.3,
          Seq(col("user_id"))) >>
        Ops.map("user_id" -> col("user_id"), "ewma" -> col("ewma")) >>
        (_.orderBy("user_id"))),

    // per-event EWMA (the reference's scan semantics: every step emitted);
    // oracle = DuckDB prefix-list folds, bit-identical sequential doubles
    "q_ewma_scan" -> ((s, dir) =>
      t(s, dir, "events") >>
        Ops.filter(col("user_id") < 30) >>
        MathOps.ewmaScan(col("value"), Seq(col("ts"), col("event_id")),
          0.3, Seq(col("user_id"))) >>
        Ops.map("user_id" -> col("user_id"),
                "event_id" -> col("event_id"),
                "ewma" -> col("ewma")) >>
        (_.orderBy("user_id", "event_id"))),

    // exact Pearson correlation from decimal moments — order-independent
    // accumulation, one fixed double-op sequence (engine-portable)
    "q_corr" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy("event_type")
        .agg(MathOps.exactCorr(col("value"), col("user_id"),
          xScale = 2, yScale = 0).as("corr_vu"),
          count(lit(1)).as("n"))
        .orderBy("event_type")),

    // trailing 30-min per-user rolling features (RANGE frame on epoch
    // seconds, keyed WindowExec — parallel across users)
    "q_rolling_time" -> ((s, dir) =>
      t(s, dir, "events") >>
        Ops.filter(col("user_id") < 30) >>
        (df => df.withColumn("ts_sec", col("ts").cast("long"))) >>
        MathOps.trailingTimeAgg(col("value"), col("ts_sec"), 1800,
          Seq(col("user_id"))) >>
        Ops.map("user_id" -> col("user_id"),
          "event_id" -> col("event_id"),
          "trailing_sum" -> col("trailing_sum"),
          "trailing_n" -> col("trailing_n")) >>
        (_.orderBy("user_id", "event_id"))),

    // time-series detrending: trailing-hour mean as the trend line,
    // residual = value − trend — the de-seasonalized signal anomaly
    // detectors should score instead of the raw series; one keyed
    // RANGE window + two IEEE ops per row
    "q_detrend" -> ((s, dir) =>
      t(s, dir, "events") >>
        Ops.filter(col("user_id") < 30) >>
        (df => df.withColumn("ts_sec", col("ts").cast("long"))) >>
        MathOps.trailingTimeAgg(col("value"), col("ts_sec"), 3600,
          Seq(col("user_id"))) >>
        (df => df.select(col("user_id"), col("event_id"), col("value"),
          (col("trailing_sum") / col("trailing_n").cast("double"))
            .as("trend"),
          (col("value") -
            col("trailing_sum") / col("trailing_n").cast("double"))
            .as("residual"))) >>
        (_.orderBy("user_id", "event_id"))),

    // salted two-phase aggregation — identical result to direct groupBy,
    // skew-resistant shuffle shape (oracle proves the equivalence)
    "q_salted_agg" -> ((s, dir) =>
      t(s, dir, "events") >>
        MathOps.saltedSumCount(col("value"), Seq(col("event_type")), 16) >>
        (_.orderBy("event_type"))),

    // HLL approximate distinct — mergeable sketch; rows-only (sketch
    // internals differ across engines), accuracy pinned by ScalaTest
    "q_approx_distinct" -> ((s, dir) =>
      t(s, dir, "lineitem") >>
        MathOps.approxDistinct(col("l_partkey"),
          Seq(col("l_returnflag"))) >>
        (_.orderBy("l_returnflag"))),

    // the ORACLE-replayable ApproxDistinctOp sibling: the windowed
    // "unique users per hour" factory run on its batch path (register
    // table grouped by the tumbling hour), audited via Hll.estimateAudit
    // — the RAW harmonic estimate (pure IEEE divide, bit-identical on
    // both engines) + the small-range branch selector + the exact
    // integers that DETERMINE the ln correction (est = m·ln(m/V) is a
    // pure function of nonempty_buckets). The corrected estimate itself
    // is deliberately NOT oracled: per-hour distincts at the gate SFs
    // (measured 4..166) sit below 2.5·m=1280 at p=9, and Math.log vs
    // libm ln diverge in the last ulp (~7% of inputs — Hll.scala
    // contract); the ln branch stays ScalaTest-pinned in HllSpec.
    "q_approx_distinct_oracle" -> ((s, dir) => {
      val regs = graft.streaming.ops.ApproxDistinctOp(
        Map("window" -> "1 hour", "timestamp_col" -> "ts",
            "item_col" -> "user_id", "precision" -> 9),
        Seq(t(s, dir, "events"))).head
      Hll.estimateAudit(regs, 9, Seq(col("window_start")))
        .select(col("window_start").cast("long").as("hour_start"),
          col("raw_est_millis"), col("small_range"),
          col("nonempty_buckets"), col("register_sum"))
        .orderBy("hour_start")
    }),

    // relational HyperLogLog — same sketch family as q_approx_distinct
    // but expressed as groupBy(bucket).max(rho) + fixed-point harmonic
    // mean, so DuckDB replays it bit-exactly via OracleXxh (the
    // oracle-checkable companion to Spark's sealed HLL++)
    "q_hll_distinct" -> ((s, dir) =>
      Hll.distinctCount(t(s, dir, "lineitem"), col("l_partkey"), 9)),

    // HLL set algebra — inclusion-exclusion over three register tables
    // (|A∩B| ≈ est(A) + est(B) - est(A∪B), composed in the exact
    // floor-millis domain so the oracle arithmetic is integer); the
    // exact intersection rides along as the accuracy anchor
    "q_hll_intersect" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      def keys(p: String) = o.filter(col("o_orderpriority") === p)
        .select(col("o_custkey").as("k"))
      val a = keys("1-URGENT")
      val b = keys("2-HIGH")
      def est(df: DataFrame, as: String) =
        Hll.distinctCount(df, col("k"), 6)
          .select(col("est_millis").as(as))
      val exact = a.distinct().join(b.distinct(), "k")
        .agg(count(lit(1)).as("exact_intersection"))
      est(a, "__a").crossJoin(est(b, "__b"))
        .crossJoin(est(a.unionByName(b), "__u")).crossJoin(exact)
        .select((col("__a") + col("__b") - col("__u"))
          .as("inter_est_millis"),
          col("exact_intersection"))
    }),

    // distogram streaming-histogram sketch (rs.math.dist analogue):
    // fixed-size mergeable state; rows-only (sketch is approximate),
    // count-preservation + quantile accuracy pinned by DistogramSpec
    "q_distogram" -> ((s, dir) => {
      val sk = udaf(graft.operators.Distogram.sketch(32),
        org.apache.spark.sql.Encoders.scalaDouble)
      t(s, dir, "events")
        .groupBy("event_type")
        .agg(sk(col("value")).as("s"))
        .select(col("event_type"),
          size(col("s.bins")).as("n_bins"),
          expr("aggregate(transform(s.bins, b -> b._2), 0L, (a, x) -> a + x)")
            .as("total"))
        .orderBy("event_type")
    }),

    // the ORACLE-replayable distogram sibling (FreqItems.orderedFold
    // pattern): first 300 values per event_type in (event_id, value)
    // order folded sequentially through the BHTT insert+closest-merge
    // step — every centroid a fixed IEEE chain, hash-matched by a
    // DuckDB list_reduce replay; the distributed merge-order sketch
    // (q_distogram) stays the production path
    "q_distogram_oracle" -> ((s, dir) => {
      val ordered = t(s, dir, "events")
        .filter(col("value").isNotNull && col("event_id") < 5000)
        .select(col("event_type"),
          struct(col("event_id"), col("value")).as("e"))
        .groupBy("event_type")
        .agg(sort_array(collect_list(col("e"))).as("es"))
        .select(col("event_type"),
          slice(transform(col("es"), e => e.getField("value")), 1, 300)
            .as("vals"))
      ordered.select(col("event_type"),
          posexplode(graft.operators.Distogram.orderedFold(
            col("vals"), 16)))
        .select(col("event_type"),
          (col("pos") + 1).cast("long").as("bin"),
          col("col.v").as("v"), col("col.c").as("c"))
        .orderBy("event_type", "bin")
    }),

    // ===== codecs (SURVEY.md §2.2) =======================================

    // json codec: decode props payload, aggregate a field
    "q_json_codec" -> ((s, dir) => {
      val codec = Codecs.JsonCodec(
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("k",
            org.apache.spark.sql.types.IntegerType))))
      t(s, dir, "events")
        .withColumn("decoded",
          codec.decode(encode(col("props"), "UTF-8")))
        .select(col("decoded.k").as("k"))
        .groupBy("k").agg(count(lit(1)).as("n"))
        .orderBy("k")
    }),

    // string codec round-trip: decode(encode(x)) = x (operator.py:40-42)
    "q_string_codec" -> ((s, dir) => {
      val codec = Codecs.StringCodec()
      t(s, dir, "events")
        .withColumn("rt", codec.decode(codec.encode(col("event_type"))))
        .groupBy(col("rt").as("event_type"))
        .agg(count(lit(1)).as("n"))
        .orderBy("event_type")
    }),

    // ===== north-star: text analysis =====================================

    // tokens materialized ONCE per doc in their own projection, feeding
    // every metric (multi-referenced projections aren't collapsed into
    // lambda bodies; the text-input forms would re-tokenize per metric)
    // canonical normalization for dedup keys — the corpus is already
    // clean lowercase, so deliberately dirty it (case, punctuation,
    // padding, an appended source/id tag) and normalize back; the md5
    // prefix is the dedup key a pipeline would group on
    "q_normalize" -> ((s, dir) => {
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
    }),

    "q_text_quality" -> ((s, dir) =>
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
        .orderBy("doc_id")),

    "q_langid" -> ((s, dir) =>
      // the fused LangId kernel — one pass, one map probe per token
      // (the staged langIdOf form ran one interpreted filter lambda
      // per token per language; parity pinned in TextKernelSpec)
      t(s, dir, "documents")
        .select(col("doc_id"), Text.langId(col("text")).as("lang_pred"))
        .orderBy("doc_id")),

    "q_token_bpeish" -> ((s, dir) =>
      t(s, dir, "documents")
        .groupBy("source")
        .agg(sum(Text.tokenCountBpeish(col("text"))).as("n_tokens_bpe"),
          count(lit(1)).as("n_docs"))
        .orderBy("source")),

    // real table-driven BPE (corpus-learned fixture, GPT-2 merges /
    // BERT vocab formats): the full per-doc id SEQUENCE is pinned as an
    // order-sensitive string — the oracle must replay every merge
    // decision, not just the counts
    "q_token_bpe" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), Text.tokens(col("text")).as("__t"))
        .select(col("doc_id"), Bpe.encode(col("__t")).as("__ids"))
        .select(col("doc_id"),
          size(col("__ids")).as("n_tokens"),
          concat_ws(" ", transform(col("__ids"), x => x.cast("string")))
            .as("ids_str"))
        .orderBy("doc_id")),

    // token-budgeted mixing measured in REAL BPE tokens (the budget
    // arithmetic q_mix_budget runs on n_chars, faithful only as far as
    // chars track tokens)
    "q_mix_budget_bpe" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          Text.tokens(col("text")).as("__t"))
        .select(col("doc_id"), col("source"),
          size(Bpe.encode(col("__t"))).as("n_tok")) >>
        Ops.sampleToBudget(col("doc_id"), col("source"), col("n_tok"),
          Map("src0" -> 400L, "src1" -> 20000L, "src3" -> 900L,
            "src7" -> 1L), seed = 9) >>
        (_.select("doc_id", "source").orderBy("doc_id"))),

    // Gopher/MassiveText rule-family quality signals + keep decision
    "q_gopher_rules" -> ((s, dir) =>
      graft.llm.TextStats.gopherRules(t(s, dir, "documents"),
        "doc_id", "text")
        .orderBy("doc_id")),

    "q_fingerprint" -> ((s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"), Text.fingerprint(
          Text.asciiOracleGuard(col("text"), "q_fingerprint")).as("fp"))
        .orderBy("doc_id")),

    // Unicode NFC normalization (codegen Expression over the JDK
    // Normalizer): the corpus is ASCII, so a decomposed e+combining-
    // acute is injected deterministically in BOTH engines first
    // (regexp_replace 'e' -> e,U+0301), then NFC recomposes it —
    // char counts shrink, bytes hash-match DuckDB's nfc_normalize
    "q_nfc_norm" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          regexp_replace(col("text"), "e", "e\u0301").as("__d"))
        .select(col("doc_id"),
          length(col("__d")).cast("long").as("len_decomposed"),
          length(graft.functions.NfcNormalize(col("__d"))).cast("long")
            .as("len_nfc"),
          md5(graft.functions.NfcNormalize(col("__d")).cast("binary"))
            .as("nfc_md5"))
        .orderBy("doc_id")),

    // accent stripping (NFD + drop combining marks, the utf8proc
    // strip_accents convention): accents injected via translate
    // (a,e,u,n -> á,é,ü,ñ) in both engines; stripping restores the
    // original text exactly — both md5s oracled
    "q_strip_accents" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          translate(col("text"), "aeun", "\u00e1\u00e9\u00fc\u00f1")
            .as("__acc"))
        .select(col("doc_id"),
          md5(col("__acc").cast("binary")).as("accented_md5"),
          md5(graft.functions.StripAccents(col("__acc")).cast("binary"))
            .as("stripped_md5"))
        .orderBy("doc_id")),

    // rolling (order-sensitive) fingerprint — oracled end-to-end: the
    // DuckDB side replicates xxhash64 via the OracleXxh macro library
    "q_fingerprint_rolling" -> ((s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"), Text.rollingFingerprint(col("text")).as("rfp"))
        .orderBy("doc_id")),

    // Misra-Gries heavy-hitter tokens per language — mergeable O(m)
    // sketch (the 100 TB "top tokens" answer); xxhash64 items →
    // rows-only, guarantees pinned by FreqItemsSpec
    "q_heavy_hitters" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("lang"), explode(Text.tokens(col("text"))).as("tok"))
        .select(col("lang"), xxhash64(col("tok")).as("h"))
        .groupBy("lang")
        .agg(graft.functions.FreqItems.sketch(32)(col("h")).as("hh"))
        .select(col("lang"), posexplode(col("hh")))
        .filter(col("pos") < 5) // top-j for j << m: rank-stable zone
        .select(col("lang"), (col("pos") + 1).as("rank"),
          col("col._1").as("token_hash"), col("col._2").as("est_count"))
        .orderBy("lang", "rank")),

    // the ORACLE-replayable Misra-Gries sibling: a bounded,
    // deterministically ordered sample per lang (first 2000 token
    // hashes by (doc_id, pos) — the Ivf.train audit pattern) folded
    // SEQUENTIALLY through the classic MG step, so the exact state
    // hash-matches a DuckDB list_reduce replay; the distributed
    // q_heavy_hitters (merge-order counts) stays the production path
    "q_heavy_hitters_oracle" -> ((s, dir) => {
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
    }),

    // Count-Min token-frequency sketch — the deterministic (merge-order
    // free) sketch companion to q_heavy_hitters, so the whole pipeline
    // (per-row hashes -> cell counts -> min-over-rows estimates for the
    // exact top-20 tokens) hash-matches the OracleXxh replay; est>=true
    // overcount bound pinned by FreqItemsSpec
    "q_countmin" -> ((s, dir) => {
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
    }),

    // winnowing print selection (MOSS-style robust substring matching);
    // oracled (OracleXxh window-minima SQL); guarantee pinned by TextDedupSpec
    "q_winnow" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), Text.tokens(col("text")).as("__ts"))
        .select(col("doc_id"),
          explode(Text.winnow(col("__ts"), 3, 4)).as("print"))
        .orderBy("doc_id", "print")),

    // PII scrubbing, oracled end-to-end: the corpus carries no real PII,
    // so each doc gets deterministic synthetic PII (email/IP/phone/card
    // derived from doc_id) prepended, plus a date+timestamp that must
    // SURVIVE scrubbing — both engines build and scrub the same string
    // (every pattern is RE2-compatible, see Text.scrubPii)
    "q_scrub_pii" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          Text.scrubPii(piiSynth).as("scrubbed"))
        .orderBy("doc_id")
    }),

    // PII DETECTION stats — the audit sibling of q_scrub_pii: counts
    // of the scrubber's own redactions per doc (detection ≡ redaction
    // by construction), over the same synthetic-PII corpus
    "q_pii_stats" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), Text.piiCounts(piiSynth).as("__p"))
        .select(col("doc_id"), col("__p.n_email").as("n_email"),
          col("__p.n_ip").as("n_ip"), col("__p.n_number").as("n_number"))
        .orderBy("doc_id")
    }),

    // ===== north-star: dedup =============================================

    "q_dedup_content" -> ((s, dir) =>
      Dedup.exactByContent(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")),

    // cross-corpus dedup: new-crawl candidates (dirtied with case and
    // padding noise) anti-joined against the already-ingested reference
    // (every 7th doc) on the normalized content fingerprint — the
    // surface noise must NOT defeat the match
    "q_dedup_against" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"),
        Text.asciiOracleGuard(col("text"), "q_dedup_against").as("text"))
      val cand = d.select(col("doc_id"),
        concat(lit("  "), upper(col("text")), lit("  ")).as("text"))
      val ref = d.filter(col("doc_id") % 7 === 0)
        .select(col("text").as("rtext"))
      Dedup.dedupAgainst(cand, ref, "doc_id", "text", "rtext")
        .select("doc_id").orderBy("doc_id")
    }),

    // NEAR-dup cross-corpus dedup (minhash sibling of q_dedup_against):
    // tonight's crawl (all docs) vs the ingested corpus (every 5th doc);
    // cross-parity banded pairs at est>=0.4 eliminate candidates — at
    // minimum the re-crawled 5th docs match themselves and drop
    "q_minhash_against" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val ref = d.filter(col("doc_id") % 5 === 0)
      Dedup.dropNearDuplicatesAgainst(d, ref, "doc_id", "text",
          "doc_id", "text", threshold = 0.4)
        .select("doc_id").orderBy("doc_id")
    }),

    // paragraph-level cleaning: append a junk one-token paragraph (the
    // source tag) to every doc, then keep only paragraphs with >= 5
    // tokens — the junk drops, the body survives, reassembled in order
    "q_paragraph_filter" -> ((s, dir) => {
      val twoPara = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"), lit("\n\n"), col("source")).as("text"))
      Dedup.filterParagraphs(twoPara, "doc_id", "text") { p =>
        size(Text.tokens(p)) >= 5
      }.orderBy("doc_id")
    }),

    // paragraph-level structural dedup: the corpus has no multi-paragraph
    // docs, so construct them — every doc gains a second paragraph shared
    // with the 9 other docs having the same doc_id % 50 partner (and for
    // doc_id < 50 with pid % 5 != 0 the partner paragraph IS the doc's
    // own first one); the first corpus-wide occurrence keeps each
    // paragraph. NO ascii guard (r14 verdict task 6): the dedup key is
    // md5 of the RAW paragraph — DuckDB md5(VARCHAR) hashes the UTF-8
    // bytes exactly like Spark's md5(cast binary), the 16-char prefix
    // slices hex (pure ASCII), and the "\n\n" split is byte-exact on
    // any UTF-8 (ASCII bytes never occur inside multi-byte sequences).
    // Non-ASCII coverage is EXERCISED, not just permitted: every 5th
    // partner paragraph gains a multi-byte suffix in both engines.
    "q_paragraph_dedup" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val p = d.filter(col("doc_id") < 50)
        .select(col("doc_id").as("pid"),
          concat(col("text"),
            when(col("doc_id") % 5 === 0, lit(" ¶ naïve café 東京"))
              .otherwise(lit(""))).as("ptext"))
      val twoPara = d.join(broadcast(p), d("doc_id") % 50 === col("pid"))
        .select(col("doc_id"),
          concat(col("text"), lit("\n\n"), col("ptext")).as("text"))
      Dedup.paragraphDedup(twoPara, "doc_id", "text").orderBy("doc_id")
    }),

    // paragraph-granularity span TRIM (Lee et al.: remove the duplicated
    // text, keep the document): same two-paragraph CONSTRUCTION as
    // q_paragraph_dedup but WITHOUT its multi-byte partner suffix — this
    // oracle tokenizes through lower(), so it stays on the corpus-pin
    // (ASCII) tier while the dedup query exercises the non-ASCII md5
    // closure. Partner paragraphs duplicate the first corpus occurrence,
    // so they trim everywhere but there (intra-doc self-partner repeats
    // included) while paragraph 1 survives
    "q_trim_spans" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val p = d.filter(col("doc_id") < 50)
        .select(col("doc_id").as("pid"), col("text").as("ptext"))
      val twoPara = d.join(broadcast(p), d("doc_id") % 50 === col("pid"))
        .select(col("doc_id"),
          concat(col("text"), lit("\n\n"), col("ptext")).as("text"))
      Dedup.trimDuplicateParagraphs(twoPara, "doc_id", "text")
        .orderBy("doc_id")
    }),

    // band-collision first-occurrence near-dup filter — the streaming-
    // compatible semantics (NearDupOp's batch twin): min id holds each
    // band, novel iff a doc holds all its bands; no bucket caps needed
    // (per-band state is one 8-byte min)
    "q_minhash_novel" -> ((s, dir) =>
      Dedup.minhashNovel(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")),

    // band-winner index export — the warm-start handoff from batch to
    // the streaming NearDupOp (one row per occupied band: min-id
    // winner, exactly the operator's per-band state)
    "q_band_winners" -> ((s, dir) =>
      Dedup.minhashBandWinners(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("bkey")),

    // incremental index maintenance: merge the even-doc and odd-doc
    // band indexes — the oracle recomputes the UNION corpus's index
    // from scratch, so the driver cross-checks the merge⊕recompute
    // equivalence (the daily warm-start lifecycle: yesterday's index ⊕
    // today's increment, one index-sized aggregate, no re-shingling)
    "q_merge_band_index" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.mergeBandIndex(
        Dedup.minhashBandWinners(
          docs.filter(pmod(col("doc_id"), lit(2)) === 0),
          "doc_id", "text"),
        Dedup.minhashBandWinners(
          docs.filter(pmod(col("doc_id"), lit(2)) === 1),
          "doc_id", "text"))
        .orderBy("bkey")
    }),

    // opt-in verify pass on first-occurrence near-dup: suppressed docs
    // join back to their band WINNERS' signatures and are re-admitted
    // unless one verifies at >= threshold (candidate rows are bounded
    // by bands per doc — never bucket-quadratic)
    "q_minhash_novel_verified" -> ((s, dir) =>
      Dedup.minhashNovelVerified(t(s, dir, "documents"), "doc_id",
        "text", threshold = 0.4)
        .orderBy("doc_id")),

    // the ONE shortDocs policy knob, exercised on a corpus WITH
    // shingle-less docs (every 50th doc shortened to two tokens)
    "q_short_novel" -> ((s, dir) =>
      Dedup.minhashNovel(shortedDocs(s, dir), "doc_id", "text",
        shortDocs = "novel").orderBy("doc_id")),
    "q_short_pair" -> ((s, dir) =>
      Dedup.minhashNovel(shortedDocs(s, dir), "doc_id", "text",
        shortDocs = "pair").orderBy("doc_id")),
    "q_short_drop" -> ((s, dir) =>
      Dedup.minhashNovel(shortedDocs(s, dir), "doc_id", "text",
        shortDocs = "drop").orderBy("doc_id")),

    "q_ngram_jaccard" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(t(s, dir, "documents"), "doc_id", "text",
        shingleSize = 3, threshold = 0.5)
        .orderBy("id_a", "id_b")),

    // edit-distance verify pass over cheap LSH-style candidates: n-gram
    // Jaccard at a LOW threshold proposes, normalized Levenshtein
    // similarity (order-sensitive, codegen built-in) confirms
    "q_edit_neardup" -> ((s, dir) =>
      Dedup.editNearDupPairs(t(s, dir, "documents"), "doc_id", "text",
        shingleSize = 3, candidateThreshold = 0.3,
        editSimThreshold = 0.6, maxChars = 1000)
        .orderBy("id_a", "id_b")),

    // corpus snapshot delta — incremental-pipeline bookkeeping: diff
    // yesterday's corpus against today's by id, content compared via
    // map-side xxhash64 so the join moves 24 bytes/doc, never text.
    // "Today's" snapshot is derived deterministically: every 7th doc
    // removed, every 11th edited, every 13th re-added under a new id.
    "q_corpus_delta" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val newSnap = docs
        .filter(pmod(col("doc_id"), lit(7)) =!= 3)
        .select(col("doc_id"),
          when(pmod(col("doc_id"), lit(11)) === 0,
            concat(col("text"), lit(" v2 edit")))
            .otherwise(col("text")).as("text"))
        .union(docs.filter(pmod(col("doc_id"), lit(13)) === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      Delta.corpusDelta(docs, newSnap, "doc_id", "text")
        .orderBy("doc_id")
    }),

    // RAG document chunking: overlapping 64-token windows, stride 48 —
    // map-only explode, the retrieval sibling of q_pack_sequences
    "q_chunk_docs" -> ((s, dir) =>
      Chunk.chunkDocs(t(s, dir, "documents"), "doc_id", "text",
        chunkTokens = 64, strideTokens = 48)
        .orderBy("doc_id", "chunk_id")),

    // leakage-safe train/val/test split: assignment by source GROUP
    // (correlated docs never straddle splits), pure fn of (seed, group)
    "q_group_split" -> ((s, dir) =>
      t(s, dir, "documents") >>
        Ops.groupSplit(col("source"),
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), seed = 7) >>
        Ops.map("doc_id" -> col("doc_id"),
                "source" -> col("source"),
                "split" -> col("split")) >>
        (_.orderBy("doc_id"))),

    // composed INCREMENTAL ingest: snapshot delta → re-process only
    // added/changed docs → exact-dedup them against the retained
    // corpus (re-crawled copies of already-held content are dropped;
    // genuinely new/edited content survives). The 100 TB point: the
    // heavy stages touch the DELTA, never the full corpus.
    "q_pipeline_incremental" -> ((s, dir) => {
      val docs = t(s, dir, "documents").withColumn("text",
        Text.asciiOracleGuard(col("text"), "q_pipeline_incremental"))
      val newSnap = docs
        .filter(pmod(col("doc_id"), lit(7)) =!= 3)
        .select(col("doc_id"),
          when(pmod(col("doc_id"), lit(11)) === 0,
            concat(col("text"), lit(" v2 edit")))
            .otherwise(col("text")).as("text"))
        .union(docs.filter(pmod(col("doc_id"), lit(13)) === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      val delta = Delta.corpusDelta(docs, newSnap, "doc_id", "text")
      val incoming = newSnap.join(
        delta.filter(col("status").isin("added", "changed"))
          .select("doc_id"), Seq("doc_id"))
      val retained = docs.join(delta.select("doc_id"), Seq("doc_id"),
        "left_anti")
      Dedup.dedupAgainst(incoming, retained, "doc_id", "text", "text")
        .select(col("doc_id"), length(col("text")).cast("long")
          .as("n_chars"))
        .orderBy("doc_id")
    }),

    // train/test LEAKAGE audit: near-dup pairs straddling split
    // boundaries — the check every eval-set builder runs after
    // splitting (a test doc near-identical to a train doc leaks)
    "q_split_leakage" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val assign = (docs >> Ops.groupSplit(col("source"),
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), seed = 7))
        .select(col("doc_id"), col("split"))
      val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        shingleSize = 3, threshold = 0.5)
      pairs
        .join(assign.select(col("doc_id").as("id_a"),
          col("split").as("split_a")), Seq("id_a"))
        .join(assign.select(col("doc_id").as("id_b"),
          col("split").as("split_b")), Seq("id_b"))
        .filter(col("split_a") =!= col("split_b"))
        .select("id_a", "id_b", "jaccard", "split_a", "split_b")
        .orderBy("id_a", "id_b")
    }),

    // corpus vocabulary stats: top-V tokens with rank + cumulative
    // coverage — the tokenizer-design dataset-card rider
    "q_vocab_stats" -> ((s, dir) =>
      graft.llm.TextStats.vocabStats(t(s, dir, "documents"), "text",
        topV = 100)
        .orderBy("rank")),

    // exact duplicate-span detection (Lee et al. ACL'22 substring dedup,
    // relational form): maximal shared token runs >= 8 via gram-hash
    // posting lists + diagonal run coalescing; oracle uses exact string
    // grams (hash-collision odds 2^-64, the engine-wide trade)
    "q_dup_spans" -> ((s, dir) =>
      Dedup.duplicateSpans(t(s, dir, "documents"), "doc_id", "text",
        minRun = 8, maxGramFreq = 1000)
        .orderBy("id_a", "id_b", "start_a", "start_b")),

    // doc-level duplicated-token fraction (interval union of spans) —
    // the drop/trim decision metric of substring dedup
    "q_dup_coverage" -> ((s, dir) =>
      Dedup.duplicateCoverage(t(s, dir, "documents"), "doc_id", "text",
        minRun = 8, maxGramFreq = 1000)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")),

    // near-dup pairs → dedup CLUSTERS: connected components by min-label
    // propagation (what a pipeline does with pair lists — keep one doc
    // per component). Oracle = DuckDB recursive-CTE transitive closure.
    "q_dedup_clusters" -> ((s, dir) => {
      val pairs = Dedup.ngramJaccardPairs(t(s, dir, "documents"),
        "doc_id", "text", shingleSize = 3, threshold = 0.5)
      Dedup.components(pairs, "id_a", "id_b")
        .groupBy("component").agg(count(lit(1)).as("cluster_size"))
        .orderBy("component")
    }),

    // MinHash/SimHash pairs: full pipelines oracled bit-exact against
    // DuckDB (OracleXxh replicates the xxhash64 signature/band-key math);
    // semantic invariants additionally pinned in tests
    "q_minhash_pairs" -> ((s, dir) =>
      Dedup.minhashPairs(t(s, dir, "documents"), "doc_id", "text",
        shingleSize = 3, numHashes = 128, bands = 32, threshold = 0.4)
        .orderBy("id_a", "id_b")),

    // the COMPLETE near-dedup pipeline: minhash pairs -> connected
    // components -> keep one representative per cluster; fully oracled
    // (recursive-CTE closure over the xxh-replicated pair SQL)
    "q_minhash_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.minhashPairs(docs, "doc_id", "text",
        shingleSize = 3, numHashes = 128, bands = 32, threshold = 0.4)
      Dedup.dropNearDuplicates(docs, "doc_id", pairs)
        .select(col("doc_id")).orderBy("doc_id")
    }),

    "q_simhash_pairs" -> ((s, dir) =>
      Dedup.simhashPairs(t(s, dir, "documents"), "doc_id", "text",
        bands = 4, maxHamming = 3)
        .orderBy("id_a", "id_b")),

    // exact embedding near-dup (oracle-able); LSH variant is the scale path
    "q_embed_neardup" -> ((s, dir) => {
      // norms precomputed per vector (map-side), not per pair; repartition
      // gives the O(n²) verify parallelism even from a 1-file scan
      val e = t(s, dir, "embeddings").select(col("vec_id"),
        col("embedding"), Vectors.norm(col("embedding")).as("nm"))
        .repartition(s.sparkContext.defaultParallelism, col("vec_id"))
      val a = e.select(col("vec_id").as("id_a"), col("embedding").as("va"),
        col("nm").as("na"))
      val b = e.select(col("vec_id").as("id_b"), col("embedding").as("vb"),
        col("nm").as("nb"))
      a.join(b, col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          Vectors.cosineWithNorms(col("va"), col("vb"),
            col("na"), col("nb")).as("cosine"))
        .filter(col("cosine") >= 0.45)
        .orderBy("id_a", "id_b")
    }),

    "q_embed_neardup_lsh" -> ((s, dir) =>
      Dedup.embeddingPairs(t(s, dir, "embeddings"), "vec_id", "embedding",
        threshold = 0.45, nBits = 6, seeds = Seq(1, 2, 3, 4, 5, 6))
        .orderBy("id_a", "id_b")),

    // embedding-space decontamination: drop candidates within cosine
    // 0.45 of ANY reference vector (every 5th embedding plays the held-
    // out benchmark) — one parity-packed banding pass over the union
    "q_embed_against" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Dedup.embeddingDedupAgainst(e,
        e.filter(col("vec_id") % 5 === 0), "vec_id", "embedding",
        "vec_id", "embedding", threshold = 0.45, nBits = 6,
        seeds = Seq(1, 2, 3, 4, 5, 6))
        .select("vec_id").orderBy("vec_id")
    }),

    // end-to-end training-data cleaning pipeline: quality-filter →
    // content-dedup (keep min doc_id per normalized text) → per-lang stats
    // — the composed Pipe showcase of the north-star ops
    "q_pipeline_clean" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        // gate columns from the zero-alloc TEXT kernels — the pushed
        // filter predicate re-inlines whatever the gate columns alias,
        // and the old materialized-__ts forms put an interpreted
        // stopword lambda + a token-array build into the scan condition
        .withColumn("n_tokens", Text.nTokens(col("text")))
        .withColumn("sw_ratio", Text.stopwordRatio(col("text")))
        .filter(col("n_tokens") >= 8 && col("sw_ratio") >= 0.05)
        .withColumn("__fp", Text.fingerprint(col("text")))
      val deduped = docs
        .groupBy("__fp")
        .agg(min(struct(col("doc_id"), col("lang"),
          col("n_tokens"))).as("r"))
        .select(col("r.doc_id").as("doc_id"), col("r.lang").as("lang"),
          col("r.n_tokens").as("n_tokens"))
      deduped.groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("total_tokens"))
        .orderBy("lang")
    }),

    // Gopher-style repetition quality signals — relational two-level
    // aggregate (map-side combined), exactly reproducible by the oracle
    "q_repetition" -> ((s, dir) =>
      graft.llm.TextStats.repetition(t(s, dir, "documents"),
        "doc_id", "text")
        .orderBy("doc_id")),

    // corpus-level tf-idf term salience, log-free odds idf (one double
    // division — bit-exact across engines); top-3 terms per doc
    "q_tfidf" -> ((s, dir) =>
      graft.llm.TextStats.tfidfTop(t(s, dir, "documents"),
        "doc_id", "text", topN = 3)
        .orderBy("doc_id", "rank")),

    // CCNet-style corpus-trained unigram likelihood — log-free integer
    // formulation (single final double division), vocab broadcast to a
    // one-map-pass scoring join
    "q_unigram_lik" -> ((s, dir) =>
      graft.llm.TextStats.unigramLikelihood(t(s, dir, "documents"),
        "doc_id", "text", topV = 64)
        .orderBy("doc_id")),

    // bigram LM quality score: average Laplace-smoothed conditional
    // bigram probability, fixed-point exact mean (KMeans.fit recipe) —
    // the conditional sibling of q_unigram_lik
    // (neg_avg_logp — the ln-based cross-entropy — rides along in the
    // operator but is excluded here: ln is not engine-portable)
    "q_bigram_lik" -> ((s, dir) =>
      graft.llm.TextStats.bigramLikelihood(t(s, dir, "documents"),
        "doc_id", "text", topV = 64, topB = 256)
        .select("doc_id", "n_bigrams", "n_oov", "score")
        .orderBy("doc_id")),

    // Kneser-Ney bigram LM (the CCNet/KenLM smoothing class): absolute
    // discount D=3/4 + continuation-unigram backoff, all statistics
    // from the retained top-B table, exact-rational terms fixed-point
    // summed — neg_avg_logp excluded (ln not oracle-portable)
    "q_kn_bigram" -> ((s, dir) =>
      graft.llm.TextStats.kneserNeyBigram(t(s, dir, "documents"),
        "doc_id", "text", topB = 256)
        .select("doc_id", "n_bigrams", "n_unseen", "score")
        .orderBy("doc_id")),

    // CCNet head/middle/tail terciles over the bigram-LM score: EXACT
    // global rank via the two-level histogram trick (no unkeyed window
    // over the corpus); oracle replays the naive single-window form
    "q_lm_buckets" -> ((s, dir) =>
      graft.operators.Ops.globalRankBuckets(
        org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("score"), k = 3)(
        graft.llm.TextStats.bigramLikelihood(t(s, dir, "documents"),
          "doc_id", "text", topV = 64, topB = 256))
        .select("doc_id", "score", "rank", "bucket")
        .orderBy("rank")),

    // benchmark decontamination: docs sharing >=3 distinct 3-gram
    // shingles with the (broadcast) benchmark slice; 8-byte shingle
    // hashes both sides — results match the oracle's exact string
    // shingles up to ~2^-64 collision odds
    "q_contamination" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.contamination(
        docs.filter(col("doc_id") % 17 =!= 0),
        docs.filter(col("doc_id") % 17 === 0),
        "doc_id", "text", shingleSize = 3, minShared = 3)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    }),

    // Bloom-filter decontamination — the beyond-broadcast-scale path:
    // benchmark shingles collapse to a ~KB bit array, corpus pass stays
    // map-only. fpp=1e-6 is FP-free on this corpus (deterministic for
    // fixed data), so the oracle is the exact-contamination SQL; the
    // superset-of-exact invariant is spec-pinned
    "q_contamination_bloom" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.contaminationBloom(
        docs.filter(col("doc_id") % 17 =!= 0),
        docs.filter(col("doc_id") % 17 === 0),
        "doc_id", "text", shingleSize = 3, minShared = 3)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    }),

    // keyed take-n: bounded TopKCollect aggregation (no window shuffle
    // of the full table) — oracle proves parity with row_number ranking
    "q_top_per_key" -> ((s, dir) =>
      t(s, dir, "events") >>
        Ops.takeOrderedByKey(3, col("event_id"), col("value"),
          Seq(col("event_type")), as = ("event_id", "value")) >>
        (_.orderBy("event_type", "rank"))),

    // training-sequence packing: shard-parallel concat-then-chunk — the
    // running token total is a per-shard window sum (shards are the
    // parallelism unit at cluster scale), Lehmer sharding is
    // engine-portable so the oracle reproduces it exactly
    "q_pack_sequences" -> ((s, dir) =>
      graft.llm.Packing.pack(t(s, dir, "documents"), "doc_id", "n_chars",
        budget = 4096, shards = 8)
        .orderBy("doc_id")),

    // packing measured in REAL BPE tokens (the budget a trainer actually
    // fills), same sharded window shape
    "q_pack_bpe" -> ((s, dir) => {
      val sized = t(s, dir, "documents")
        .select(col("doc_id"), Text.tokens(col("text")).as("__t"))
        .select(col("doc_id"), size(Bpe.encode(col("__t"))).as("n_tok"))
      graft.llm.Packing.pack(sized, "doc_id", "n_tok",
        budget = 512, shards = 8)
        .orderBy("doc_id")
    }),

    // distributed k-means + SemDeDup semantic dedup: the seeded
    // assignment path is exactly deterministic (fixed init from the k
    // smallest ids, strict-< argmin, sequential distance folds) and
    // oracled bit-exact; the full-corpus Lloyd refit (q_kmeans_fit) is
    // rows-only — double-sum reduction order — with KMeansSpec parity
    "q_kmeans_assign" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val m = graft.llm.KMeans.seed(e, "vec_id", "embedding", k = 8)
      graft.llm.KMeans.assign(e, "vec_id", "embedding", m)
        .select(col("id").as("vec_id"), col("cell"))
        .orderBy("vec_id")
    }),

    // maxCellSize = 64 is BELOW the largest sf0.01 cells (48..70 members)
    // on purpose: the oracle replicates the overflow-drop rule, so the
    // bounded-cell guard itself is hash-checked, not just the happy path
    "q_semantic_dedup" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val m = graft.llm.KMeans.seed(e, "vec_id", "embedding", k = 8)
      graft.llm.KMeans.semanticPairs(e, "vec_id", "embedding", m,
        eps = 0.45, maxCellSize = 64)
        .orderBy("id_a", "id_b")
    }),

    // SemDeDup-proper keeper: per near-dup component keep the member
    // with the LOWEST cosine to its cell centroid (ties to min id) —
    // the argmin replayed in SQL over the same seeded centroids
    "q_semantic_dedup_far" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val m = graft.llm.KMeans.seed(e, "vec_id", "embedding", k = 8)
      graft.llm.KMeans.semanticDedup(e, "vec_id", "embedding", m,
        eps = 0.45, maxCellSize = 64, keeper = "far_from_centroid")
        .select("vec_id").orderBy("vec_id")
    }),

    // full-corpus Lloyd refit, bit-exact: fixed-point decimal refit
    // sums make the centroids order-independent, so the oracle replays
    // both iterations in SQL; c0_nanos pins the refit VALUES (dim 0,
    // floor-nanos), n pins the induced partition
    "q_kmeans_fit" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val m = graft.llm.KMeans.fit(e, "vec_id", "embedding", k = 8,
        iters = 2)
      val cents = s.createDataFrame(m.centroids.zipWithIndex.toSeq.map {
        case (c, i) => (i, math.floor(c(0) * 1e9).toLong)
      }).toDF("cell", "c0_nanos")
      graft.llm.KMeans.assign(e, "vec_id", "embedding", m)
        .groupBy("cell").agg(count(lit(1)).as("n"))
        .join(broadcast(cents), "cell")
        .orderBy("cell")
    }),

    // composed round-4 cleaning pipeline: Gopher rule gate -> duplicated-
    // token trim decision (drop docs > 30% duplicated) -> per-lang stats;
    // every stage is itself an oracled operator
    "q_pipeline_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      // gate via the fused GopherAdmit kernel, NOT a gopherRules join:
      // only the keep decision is consumed here, and pushdown inlines a
      // gopher_keep filter's five interpreted metric HOFs into the scan
      // condition (~8 tokens() builds per row, observed in the
      // optimized plan); the kernel is the same decision in one pass
      val cov = Dedup.duplicateCoverage(docs, "doc_id", "text",
        minRun = 8, maxGramFreq = 1000)
        .select(col("id").as("doc_id"), col("dup_fraction"))
      docs.filter(graft.functions.GopherAdmit(col("text")) >= 0L)
        .join(cov, "doc_id")
        .filter(col("dup_fraction") <= 0.3)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("text"))).as("total_chars"))
        .orderBy("lang")
    }),

    // the COMPLETE corpus-preparation pipeline in one plan — what a user
    // actually runs nightly: dirty ingest -> canonicalize -> drop
    // already-ingested content (cross-corpus anti-join) -> Gopher
    // quality gate -> deterministic training mix -> per-lang corpus
    // stats. Every stage is an oracled operator; this composes them
    // end to end (all narrow maps + one anti-join + one final agg)
    // the training EXPORT composition: Gopher gate -> token-budgeted
    // allowlist mixing -> deterministic global shuffle + sharding —
    // the last mile of corpus prep (what actually feeds a trainer),
    // every stage individually oracled, the composition hash-matched
    // end to end (shard assignment, positions and all)
    "q_pipeline_export" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      // gate via the fused GopherAdmit kernel — one scalar pass, no
      // tokens array, no optimizer re-inlining (round-9 plan scan)
      val gated = d
        .filter(graft.functions.GopherAdmit(col("text")) >= 0L)
        .select(col("doc_id"), col("source"), col("n_chars"))
      gated >>
        Ops.sampleToBudget(col("doc_id"), col("source"), col("n_chars"),
          Map("src2" -> 4000L, "src5" -> 4000L, "src11" -> 100000L,
            "src17" -> 2500L), seed = 5) >>
        Ops.shuffleShards(col("doc_id"), nShards = 4, seed = 11) >>
        (_.select("shard", "shuffle_pos", "doc_id")
          .orderBy("shard", "shuffle_pos"))
    }),

    "q_pipeline_corpus" -> ((s, dir) => {
      val d = t(s, dir, "documents").withColumn("text",
        Text.asciiOracleGuard(col("text"), "q_pipeline_corpus"))
      val cand = d.select(col("doc_id"), col("lang"), col("source"),
        concat(lit("  "), upper(col("text")), lit("  \t")).as("raw"))
      val norm = cand
        .withColumn("text", Text.normalizeForDedup(col("raw"))).drop("raw")
      val ref = d.filter(col("doc_id") % 7 === 0)
        .select(col("text").as("rtext"))
      val fresh = Dedup.dedupAgainst(norm, ref, "doc_id", "text", "rtext")
      // inline quality gate via the fused GopherAdmit kernel — no
      // metrics frame joined back on doc_id (that self-join would be a
      // corpus-sized shuffle at scale); the kernel's admit value IS the
      // token count the final rollup sums, so the doc is scanned once
      val good = fresh
        .withColumn("__nt", graft.functions.GopherAdmit(col("text")))
        .filter(col("__nt") >= 0L)
      val mixed = Ops.mixSample(col("doc_id"), col("source"),
        Map("src0" -> 0.5, "src1" -> 0.25), defaultRate = 0.75)(good)
      mixed.groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("__nt")).as("total_tokens"))
        .orderBy("lang")
    }),

    // ===== north-star: similarity search =================================

    "q_simsearch_topk" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      SimSearch.bruteForceTopK(e, e.filter(col("vec_id") < 5),
        "vec_id", "embedding", k = 5)
        .orderBy("query_id", "rank")
    }),

    // BM25 lexical retrieval: log-free rational idf, query terms
    // filtered before aggregation, df/N/C broadcast — one
    // shuffle-linear pass
    "q_bm25" -> ((s, dir) =>
      graft.llm.Search.bm25(t(s, dir, "documents"), "doc_id", "text",
        Seq("customer", "window", "filter"))
        .orderBy("doc_id")),

    // composed retrieval AUDIT: each eval doc's top-3 salient terms
    // (tf-idf over the eval slice) become a BM25 query against the
    // full corpus; top-3 non-self hits per eval doc — "which corpus
    // docs are lexically closest to each benchmark doc", the retrieval
    // face of decontamination review. tfidf → bm25Queries →
    // takeOrderedByKey, every stage individually oracled.
    "q_retrieval_audit" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      // the query table is BOUNDED by contract (the eval slice ×
      // topN terms — ≤10 rows here); materialize it to the driver
      // once, as a local relation: left as a plan, every broadcast
      // consumer inside bm25Queries (termSet, qterms) re-ran the
      // whole tfidf window subtree — 3 full recomputes and 9 extra
      // scans in the optimized plan
      val qs = graft.llm.TextStats
        .tfidfTop(docs.filter(col("doc_id") < 10), "doc_id", "text",
          topN = 3)
        .groupBy(col("doc_id").as("query_id"))
        .agg(sort_array(collect_list(col("term"))).as("terms"))
        .as[(Long, Seq[String])].collect().toSeq
        .toDF("query_id", "terms")
      val scored = graft.llm.Search
        .bm25Queries(docs, "doc_id", "text", qs)
        .filter(col("query_id") =!= col("doc_id"))
      graft.operators.Ops.takeOrderedByKey(3, col("doc_id"),
        col("score"), Seq(col("query_id")), as = ("doc_id", "score"))(
        scored)
        .orderBy("query_id", "rank")
    }),

    // batch retrieval: ONE corpus pass scores every query at once —
    // query terms union broadcast-semi-joins the explode; the per-query
    // fan-out is a broadcast of the tiny qterms table
    "q_bm25_multi" -> ((s, dir) => {
      import s.implicits._
      val qs = Seq(
        (0L, Seq("customer", "window")),
        (1L, Seq("filter", "spark")),
        (2L, Seq("merge"))).toDF("query_id", "terms")
      graft.llm.Search.bm25Queries(t(s, dir, "documents"),
          "doc_id", "text", qs)
        .orderBy("query_id", "doc_id")
    }),

    // hybrid retrieval: BM25 top-50 + cosine top-50 to the vec_id=0
    // embedding, fused by reciprocal-rank (k=60), top-10 — both lists
    // bounded, so fusion is constant-sized at any corpus scale
    "q_hybrid_topk" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val emb = t(s, dir, "embeddings")
      val lex = graft.llm.Search.rankTop(
        graft.llm.Search.bm25(docs, "doc_id", "text",
          Seq("customer", "window", "filter")),
        "doc_id", "score", topK = 50)
      val sem = graft.llm.SimSearch.bruteForceTopK(emb,
          emb.filter(col("vec_id") === 0), "vec_id", "embedding", k = 50)
        .select(col("nbr_id").as("doc_id"), col("rank"))
      graft.llm.Search.rrfFuse(lex, sem, "doc_id", "rank", topK = 10)
        .orderBy(col("rrf").desc, col("id"))
    }),

    "q_simsearch_lsh" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      SimSearch.lshTopK(e, e.filter(col("vec_id") < 5),
        "vec_id", "embedding", k = 5, nBits = 8, seeds = Seq(1, 2, 3, 4))
        .orderBy("query_id", "rank")
    }),

    // IVF coarse-quantizer ANN (the other scale path besides LSH):
    // deterministic mini-kmeans on a bounded sample, broadcast centroids,
    // map-only cell assignment, probe-and-rank. Oracled bit-exact — the
    // sequential quantizer training replays in SQL (ivfOracleSql); recall
    // vs brute force additionally pinned by IvfSpec.
    "q_simsearch_ivf" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val model = graft.llm.Ivf.train(e, "vec_id", "embedding", k = 16)
      graft.llm.Ivf.topK(e, e.filter(col("vec_id") < 5),
        "vec_id", "embedding", k = 5, model, nProbe = 4)
        .orderBy("query_id", "rank")
    }),

    // ===== north-star: multimodal columns ================================

    "q_multimodal_dedup" -> ((s, dir) => {
      val docs = Multimodal.asBinaryDoc(
        t(s, dir, "documents"), "doc_id", "text")
      Multimodal.dedupByContent(docs, "doc_id")
        .orderBy("doc_id")
    }),

    // frame sampling over binary payloads: ×nFrames generator, map-only;
    // frames checked by length + md5. The engine slices BYTES (binary
    // content — correct for real media); DuckDB cannot slice or md5
    // BLOBs, so the oracle slices the text per CHARACTER — identical
    // only on ASCII, which the plan-side guard now ENFORCES (r13
    // verdict task 6) instead of assuming from the corpus pin
    "q_frame_sample" -> ((s, dir) => {
      val docs = Multimodal.asBinaryDoc(
        t(s, dir, "documents").withColumn("text",
          Text.asciiOracleGuard(col("text"), "q_frame_sample")),
        "doc_id", "text")
      Multimodal.sampleFrames(docs.filter(col("doc_id") < 100), "doc_id", 4)
        .select(col("id").as("doc_id"),
          col("frame_idx").cast("long").as("frame_idx"),
          length(col("frame")).cast("long").as("frame_len"),
          md5(col("frame")).as("frame_md5"))
        .orderBy("doc_id", "frame_idx")
    }),

    // byte-level seam (audio/video stand-in): deterministic strided
    // byte-histogram features behind the production mapPartitions shape
    "q_multimodal_features_bytes" -> ((s, dir) => {
      val docs = Multimodal.asBinaryDoc(
        t(s, dir, "documents"), "doc_id", "text")
      Multimodal.extractFeatures(s, docs, "doc_id", dim = 8)
        .select(col("id").as("doc_id"), col("n_bytes"),
          round(element_at(col("feature"), 1).cast("double"), 6).as("f0"))
        .orderBy("doc_id")
    }),

    // REAL image decode: per-doc synthetic 8x6 P6 payloads built by the
    // real encoder, parsed back by the real parser (Ppm.decode), 8
    // fixed-arithmetic pixel features — decoded dims + all features
    // replayed bit-exactly by the oracle
    "q_multimodal_features" -> ((s, dir) => {
      import s.implicits._
      val imgs = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .map(id => (id,
          graft.llm.Ppm.encodeP6(graft.llm.Ppm.synthetic(id, 8, 6))))
        .toDF("doc_id", "content")
      Multimodal.extractImageFeatures(imgs, "doc_id")
        .select(Seq(col("id").as("doc_id"), col("width"), col("height")) ++
          (0 until 8).map(i => element_at(col("feature"), i + 1)
            .as(s"f$i")): _*)
        .orderBy("doc_id")
    }),

    // real frame sampling: decoded pixel-row bands re-encoded as
    // standalone P6 images; the full frame BYTES are pinned (hex)
    "q_ppm_frames" -> ((s, dir) => {
      import s.implicits._
      val imgs = t(s, dir, "documents").filter(col("doc_id") < 100)
        .select(col("doc_id")).as[Long]
        .map(id => (id,
          graft.llm.Ppm.encodeP6(graft.llm.Ppm.synthetic(id, 8, 6))))
        .toDF("doc_id", "content")
      Multimodal.sampleImageRows(imgs, "doc_id", 4)
        .select(col("id").as("doc_id"),
          col("frame_idx").cast("long").as("frame_idx"),
          hex(col("frame")).as("frame_hex"))
        .orderBy("doc_id", "frame_idx")
    }),

    // mixed-media routing: one corpus interleaving all three modalities
    // (by doc_id mod 3), one MediaFeaturesOp pass dispatching each
    // payload to its real codec — the unified feature table oracled
    // end to end
    "q_media_features" -> ((s, dir) => {
      import s.implicits._
      val mixed = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .map { id =>
          (id % 3) match {
            case 0 => (id, graft.llm.Ppm.Mime,
              graft.llm.Ppm.encodeP6(graft.llm.Ppm.synthetic(id, 8, 6)))
            case 1 => (id, graft.llm.Wav.Mime,
              graft.llm.Wav.encode(graft.llm.Wav.synthetic(id, 64)))
            case _ => (id, graft.llm.Y4m.Mime,
              graft.llm.Y4m.encode(graft.llm.Y4m.synthetic(id, 4, 4, 6)))
          }
        }.toDF("doc_id", "mime", "content")
      graft.streaming.ops.MediaFeaturesOp(Map.empty, Seq(mixed)).head
        .select(col("id").as("doc_id"), col("modality"), col("d1"),
          col("d2"), col("d3"), col("n_feats"),
          col("f0"), col("f1"), col("f2"), col("f3"))
        .orderBy("doc_id")
    }),

    // magic-byte dispatch: the SAME mixed corpus with NO mime column —
    // extractFeatures sniffs each payload's magic bytes
    // (Multimodal.sniffModality) and routes to the identical real
    // codecs; first four features of every modality oracled
    "q_magic_features" -> ((s, dir) => {
      import s.implicits._
      val mixed = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .map { id =>
          (id % 3) match {
            case 0 => (id,
              graft.llm.Ppm.encodeP6(graft.llm.Ppm.synthetic(id, 8, 6)))
            case 1 => (id,
              graft.llm.Wav.encode(graft.llm.Wav.synthetic(id, 64)))
            case _ => (id,
              graft.llm.Y4m.encode(graft.llm.Y4m.synthetic(id, 4, 4, 6)))
          }
        }.toDF("doc_id", "content")
      Multimodal.extractFeatures(s, mixed, "doc_id")
        .select(Seq(col("id").as("doc_id"), col("modality"),
          size(col("feature")).as("n_feats")) ++
          (0 until 4).map(i => element_at(col("feature"), i + 1)
            .as(s"f$i")): _*)
        .orderBy("doc_id")
    }),

    // composed MEDIA pipeline (the multimodal q_pipeline_* sibling):
    // duplicated payloads (consecutive id pairs share content) ->
    // content-addressed dedup keeps the min id -> mime routing to the
    // real codecs -> per-modality stats; every stage individually
    // oracled, the composition hash-matched end to end
    "q_pipeline_media" -> ((s, dir) => {
      import s.implicits._
      // pipeline-SPECIFIC injective generators: the shared synthetics
      // are periodic in the id (mod 251), so at corpus scale distinct
      // content keys would produce byte-identical payloads and break
      // the pairs-only dedup invariant the oracle replays. A constant
      // (k/251)-offset term is NOT enough (the payload is then a pure
      // function of one value mod 251 — pigeonhole collisions as soon
      // as keys approach 251); the (1+j)-scaled term makes the pixel
      // VECTOR injective in (k mod 251, k/251 mod 251): equal payloads
      // force 31Δk + 97(1+j)Δd ≡ 0 (mod 251) for every j, hence
      // Δd ≡ Δk ≡ 0 — distinct keys below 251² never collide (audio's
      // 65521 period already exceeds every test corpus)
      def img(k: Long) = graft.llm.Ppm.encodeP6(
        graft.llm.Ppm.Image(8, 6, 255, Array.tabulate(144)(j =>
          ((k * 31 + j * 7 + k / 251 * 97 * (1 + j)) % 251).toInt)))
      def vid(k: Long) = graft.llm.Y4m.encode(
        graft.llm.Y4m.Video(4, 4, 25, 1, IndexedSeq.tabulate(6)(f =>
          Array.tabulate(48)(j =>
            ((k * 31 + f * 101 + j * 7 + k / 251 * 97 * (1 + j)) % 251)
              .toInt))))
      val mixed = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .map { id =>
          val k = id - (id % 2) // content key: pairs share payloads
          (k % 3) match {
            case 0 => (id, graft.llm.Ppm.Mime, img(k))
            case 1 => (id, graft.llm.Wav.Mime,
              graft.llm.Wav.encode(graft.llm.Wav.synthetic(k, 64)))
            case _ => (id, graft.llm.Y4m.Mime, vid(k))
          }
        }.toDF("doc_id", "mime", "content")
      // content-addressed dedup in ONE pass: min id per digest via a
      // window (dedupByContent's groupBy twin — the window form never
      // re-reads the payload-synthesis lineage through a self-join)
      val survivors = mixed
        .withColumn("__sha", sha2(col("content"), 256))
        .withColumn("__rk", row_number().over(
          Window.partitionBy(col("__sha")).orderBy(col("doc_id"))))
        .filter(col("__rk") === 1)
        .drop("__sha", "__rk")
      val feats = graft.streaming.ops.MediaFeaturesOp(
        Map.empty, Seq(survivors)).head
      // float mins/maxes are order-independent (unlike float sums), so
      // the aggregate stays bit-replayable
      feats.groupBy("modality")
        .agg(count(lit(1)).as("n_docs"),
          min(col("f0")).as("f0_min"),
          max(col("f3")).as("f3_max"))
        .orderBy("modality")
    }),

    // REAL video demux: synthetic 4x4 C444 clips (6 frames) built by
    // the real muxer, parsed back by the real header/FRAME walker;
    // decoded dims/frame count + plane means + temporal motion oracled
    "q_y4m_features" -> ((s, dir) => {
      import s.implicits._
      val clips = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .map(id => (id,
          graft.llm.Y4m.encode(graft.llm.Y4m.synthetic(id, 4, 4, 6))))
        .toDF("doc_id", "content")
      Multimodal.extractVideoFeatures(clips, "doc_id")
        .select(Seq(col("id").as("doc_id"), col("width"), col("height"),
          col("n_frames")) ++
          (0 until 4).map(i => element_at(col("feature"), i + 1)
            .as(s"f$i")): _*)
        .orderBy("doc_id")
    }),

    // real keyframe sampling: 3 evenly-spaced frames of 6, each
    // re-encoded as a standalone single-frame clip, bytes hex-pinned
    "q_y4m_frames" -> ((s, dir) => {
      import s.implicits._
      val clips = t(s, dir, "documents").filter(col("doc_id") < 100)
        .select(col("doc_id")).as[Long]
        .map(id => (id,
          graft.llm.Y4m.encode(graft.llm.Y4m.synthetic(id, 4, 4, 6))))
        .toDF("doc_id", "content")
      Multimodal.sampleVideoFrames(clips, "doc_id", 3)
        .select(col("id").as("doc_id"), col("frame_idx"),
          hex(col("frame")).as("frame_hex"))
        .orderBy("doc_id", "frame_idx")
    }),

    // REAL audio decode: synthetic 64-sample PCM16 clips built by the
    // real RIFF encoder, parsed back by the real chunk-walking parser;
    // decoded rate/length + 4 fixed-arithmetic features oracled
    "q_wav_features" -> ((s, dir) => {
      import s.implicits._
      val clips = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .map(id => (id,
          graft.llm.Wav.encode(graft.llm.Wav.synthetic(id, 64))))
        .toDF("doc_id", "content")
      Multimodal.extractAudioFeatures(clips, "doc_id")
        .select(Seq(col("id").as("doc_id"), col("sample_rate"),
          col("n_samples")) ++
          (0 until 4).map(i => element_at(col("feature"), i + 1)
            .as(s"f$i")): _*)
        .orderBy("doc_id")
    }),

    // real clip sampling: decoded time slices re-encoded as standalone
    // WAVs; every clip's full bytes are pinned (hex)
    "q_wav_clips" -> ((s, dir) => {
      import s.implicits._
      val clips = t(s, dir, "documents").filter(col("doc_id") < 100)
        .select(col("doc_id")).as[Long]
        .map(id => (id,
          graft.llm.Wav.encode(graft.llm.Wav.synthetic(id, 64))))
        .toDF("doc_id", "content")
      Multimodal.sampleAudioClips(clips, "doc_id", 4)
        .select(col("id").as("doc_id"),
          col("clip_idx").cast("long").as("clip_idx"),
          hex(col("clip")).as("clip_hex"))
        .orderBy("doc_id", "clip_idx")
    }),

    // real decimation: nearest-neighbor 64 -> 16 frames on decoded
    // samples, re-encoded payload pinned byte-for-byte
    "q_wav_decimate" -> ((s, dir) => {
      import s.implicits._
      val clips = t(s, dir, "documents").filter(col("doc_id") < 100)
        .select(col("doc_id")).as[Long]
        .map(id => (id,
          graft.llm.Wav.encode(graft.llm.Wav.synthetic(id, 64))))
        .toDF("doc_id", "content")
      Multimodal.decimateAudio(clips, "doc_id", 16)
        .select(col("doc_id"), col("meta.n_bytes").as("n_bytes"),
          hex(col("content")).as("content_hex"))
        .orderBy("doc_id")
    }),

    // real resize: nearest-neighbor 8x6 -> 4x3 on decoded pixels,
    // re-encoded payload pinned byte-for-byte (hex) + refreshed meta
    "q_ppm_resize" -> ((s, dir) => {
      import s.implicits._
      val imgs = t(s, dir, "documents").filter(col("doc_id") < 100)
        .select(col("doc_id")).as[Long]
        .map(id => (id,
          graft.llm.Ppm.encodeP6(graft.llm.Ppm.synthetic(id, 8, 6))))
        .toDF("doc_id", "content")
      Multimodal.resizeImage(imgs, "doc_id", 4, 3)
        .select(col("doc_id"), col("meta.n_bytes").as("n_bytes"),
          hex(col("content")).as("content_hex"))
        .orderBy("doc_id")
    }),

    // DSIR importance resampling (Xie et al. NeurIPS'23): hashed
    // unigram+bigram bags scored against the lang='en' target slice.
    // The EXACT integer ranking statistic is the oracled contract; the
    // paper's log-ratio rides along as log_weight (ln is not
    // oracle-portable — Dsir scaladoc)
    // the oracle-facing projection narrows score decimal(38,0) → long:
    // int64 canonicalizes identically through every driver-side
    // conversion path where Decimal may not (r6 driver-red with
    // locally-bit-exact values); ANSI cast raises loudly on overflow
    "q_dsir_scores" -> ((s, dir) =>
      graft.llm.Dsir.importanceScores(t(s, dir, "documents"), "doc_id",
        "text", col("lang") === "en", buckets = 1024)
        .select(col("doc_id"), col("n_feats"),
          col("score").cast("long").as("score"))
        .orderBy("doc_id")),

    // the selection step: top-100 by (score desc, id) — distributed
    // partial top-n (TakeOrderedAndProject), deterministic tiebreak
    "q_dsir_select" -> ((s, dir) =>
      graft.llm.Dsir.selectTop(t(s, dir, "documents"), "doc_id", "text",
        col("lang") === "en", n = 100, buckets = 1024)
        .select(col("doc_id"), col("score").cast("long").as("score"))
        .orderBy("doc_id")),

    // product quantization: 64 dims -> m=8 subspaces × ksub=16 codes
    // (seeded codebooks — the exactly-deterministic path, like
    // q_kmeans_assign); the stored code of every (vector, subspace)
    "q_pq_codes" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val cb = graft.llm.Pq.train(e, "vec_id", "embedding",
        m = 8, ksub = 16)
      graft.llm.Pq.encode(e, "vec_id", "embedding", cb)
        .select(col("id").as("vec_id"), posexplode(col("code")))
        .select(col("vec_id"), col("pos").as("s"), col("col").as("code"))
        .orderBy("vec_id", "s")
    }),

    // JL random projection 64 → 16 dims: deterministic ±1 planes from
    // the RhpSignature hash chain, exact per-(vector, dim) values —
    // the pre-ANN compression step, oracled against the staged
    // hashInt plane replay
    "q_rp_project" -> ((s, dir) =>
      t(s, dir, "embeddings")
        .select(col("vec_id"), posexplode(
          graft.functions.Vectors.rhpProject(col("embedding"), 16, 9)))
        .select(col("vec_id"), col("pos").as("j"), col("col").as("v"))
        .orderBy("vec_id", "j")),

    // temperature mixture (α=1/2): rates from the corpus's own source
    // counts, every arithmetic step IEEE correctly-rounded, so the
    // EXACT kept set replays in SQL — pinned per (doc, source)
    "q_mix_temperature" -> ((s, dir) =>
      graft.operators.Ops.temperatureMix(col("doc_id"), col("source"),
        outFraction = 0.5)(t(s, dir, "documents"))
        .select("doc_id", "source")
        .orderBy("doc_id")),

    // BPE roundtrip: decode(encode(tokens)) must reproduce the exact
    // token concatenation — vocab completeness + merge-loop losslessness
    // through the REAL committed tables, against an oracle that never
    // sees BPE at all
    "q_bpe_roundtrip" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          graft.functions.Text.tokens(col("text")).as("ts"))
        .select(col("doc_id"),
          graft.functions.Bpe.decode(
            graft.functions.Bpe.encode(col("ts"))).as("detok"))
        .orderBy("doc_id")),

    // in-engine BPE TRAINING (Sennrich ACL'16): one distributed
    // word-count pass bounded to the top-200 words, then the
    // deterministic driver merge-learning loop (ties to the smallest
    // (left, right) pair) — the HF-tokenizers/SentencePiece scale
    // split. The ENTIRE loop replays in DuckDB (word table as
    // list_reduce state), so every learned merge is oracle-checked,
    // not just the staging
    "q_bpe_train" -> ((s, dir) => {
      import s.implicits._
      val tbl = graft.functions.Bpe.train(t(s, dir, "documents"),
        "text", numMerges = 30, topWords = 200)
      tbl.merges.zipWithIndex
        .map { case ((l, r), i) => (i.toLong, l, r) }
        .toDF("m_rank", "lhs", "rhs")
        .orderBy("m_rank")
    }),

    // ADC top-5 per query over codes alone — m table lookups per
    // candidate, folded left-to-right, ties to the smaller neighbor id
    "q_pq_search" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val cb = graft.llm.Pq.train(e, "vec_id", "embedding",
        m = 8, ksub = 16)
      graft.llm.Pq.adcTopK(e, e.filter(col("vec_id") < 5), "vec_id",
        "embedding", cb, k = 5)
        .orderBy("query_id", "rank")
    }),

    // IVF-PQ: coarse routing (8 seeded cells, 2 probed) + ADC over the
    // codes inside probed cells only — the production billion-scale
    // ANN layout, both quantizers on their exactly-deterministic
    // seeded paths; fewer than k rows per query when the probed cells
    // run dry (the recall trade the oracle replays too)
    "q_pq_ivf_search" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val coarse = graft.llm.KMeans.seed(e, "vec_id", "embedding", k = 8)
      val cb = graft.llm.Pq.train(e, "vec_id", "embedding",
        m = 8, ksub = 16)
      graft.llm.Pq.ivfAdcTopK(e, e.filter(col("vec_id") < 5), "vec_id",
        "embedding", coarse, cb, k = 5, nProbe = 2)
        .orderBy("query_id", "rank")
    }),

    // IVF-PQ proper: codes quantize RESIDUALS (vector - own coarse
    // centroid); distance tables are per (query, probed cell) from the
    // query's residual against that cell — Jégou TPAMI'11 §III.C
    "q_pq_ivf_residual" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val coarse = graft.llm.KMeans.seed(e, "vec_id", "embedding", k = 8)
      val cb = graft.llm.Pq.trainResidual(e, "vec_id", "embedding",
        coarse, m = 8, ksub = 16)
      graft.llm.Pq.ivfResidualAdcTopK(e, e.filter(col("vec_id") < 5),
        "vec_id", "embedding", coarse, cb, k = 5, nProbe = 2)
        .orderBy("query_id", "rank")
    }),

    // overlap-FRACTION decontamination (Brown et al. 2020 appendix C /
    // PaLM): per-doc share of distinct 3-gram shingles found in the
    // pooled benchmark slice; one IEEE division per doc, same broadcast
    // shape as q_contamination
    "q_contamination_frac" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.contaminationFraction(
        docs.filter(col("doc_id") % 17 =!= 0),
        docs.filter(col("doc_id") % 17 === 0),
        "doc_id", "text", shingleSize = 3, minFrac = 0.05)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    }),

    // C4 line-level cleaning (Raffel et al. 2020 §2.2): the corpus is
    // single-line, so each doc is deterministically dirtied into a page
    // — two good sentences, a javascript line, a bare source tag, a
    // 2-word line, a conditional third good line (doc_id % 3), and
    // conditional lorem-ipsum / curly-brace page poisons — then every
    // rule fires: page gates drop the poisoned docs whole, line gates
    // keep exactly the sentence-shaped lines, floor >= 2 lines
    "q_c4_clean" -> ((s, dir) => {
      val dirty = t(s, dir, "documents").select(col("doc_id"),
        concat(
          col("text"), lit(".\n"),
          lit("enable javascript to continue.\n"),
          col("source"), lit("\n"),
          lit("too short.\n"),
          when(col("doc_id") % 3 === 0,
            lit("this extra line stays here!\n")).otherwise(lit("")),
          when(col("doc_id") % 97 === 0,
            lit("lorem ipsum dolor sit.\n")).otherwise(lit("")),
          when(col("doc_id") % 89 === 0,
            lit("a curly { brace here.\n")).otherwise(lit("")),
          col("text"), lit(" indeed?")).as("text"))
      Dedup.c4Clean(dirty, "doc_id", "text",
        minLineWords = 3, minLines = 2)
        .orderBy("doc_id")
    }),

    // Naive-Bayes document-quality classifier (the GPT-3/LLaMA
    // "reference-like" filter): positive class = the English slice,
    // negative = the whole corpus; average per-token Laplace likelihood
    // ratio over a top-64 vocab, fixed-point exact mean
    "q_quality_nb" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      graft.llm.TextStats.nbQualityScore(d,
        d.filter(col("lang") === "en"), "doc_id", "text", "text",
        topV = 64)
        .orderBy("doc_id")
    }),

    // corpus dataset card: one rollup pass over (lang, source) — doc/
    // token/char volumes, EXACT distinct-content count, Gopher pass
    // count, duplicate fraction; subtotal rows via ROLLUP
    "q_corpus_card" -> ((s, dir) =>
      graft.llm.TextStats.corpusCard(
        t(s, dir, "documents").withColumn("text",
          Text.asciiOracleGuard(col("text"), "q_corpus_card")), "text",
        Seq("lang", "source"))
        .orderBy(col("lang").asc_nulls_first,
          col("source").asc_nulls_first)),

    // composed INGEST pipeline — this round's cleaning battery end to
    // end: C4 page/line cleaning over the dirtied corpus -> overlap-
    // fraction decontamination of the CLEANED text against the
    // benchmark slice -> NB quality scoring trained on the survivors
    // themselves (ref = their English slice) — every stage oracled
    // individually, the composition hash-matched as a whole
    "q_pipeline_ingest" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val dirty = d.select(col("doc_id"),
        concat(
          col("text"), lit(".\n"),
          lit("enable javascript to continue.\n"),
          col("source"), lit("\n"),
          lit("too short.\n"),
          when(col("doc_id") % 3 === 0,
            lit("this extra line stays here!\n")).otherwise(lit("")),
          when(col("doc_id") % 97 === 0,
            lit("lorem ipsum dolor sit.\n")).otherwise(lit("")),
          when(col("doc_id") % 89 === 0,
            lit("a curly { brace here.\n")).otherwise(lit("")),
          col("text"), lit(" indeed?")).as("text"))
      val cleaned = Dedup.c4Clean(dirty, "doc_id", "text",
        minLineWords = 3, minLines = 2)
      val nonBench = cleaned.filter(col("doc_id") % 17 =!= 0)
      val contaminated = Dedup.contaminationFraction(
        nonBench, d.filter(col("doc_id") % 17 === 0),
        "doc_id", "text", shingleSize = 3, minFrac = 0.05)
        .select(col("id").as("doc_id"))
      // stage boundary: the NB stage reads the survivor frame several
      // times (both class token streams, two totals, the final join) —
      // unpersisted, each read would re-run cleaning + decontamination
      // (measured 15s -> 2s at sf0.001; at 100 TB this materialization
      // is the difference between 1 pass and ~6 over the corpus).
      // SCOPED cache (Ops.withPersisted): dropped when the result is
      // materialized, so long-lived sessions reusing this operator
      // don't accumulate survivor-sized caches; the result detaches
      // via eager localCheckpoint per the helper's contract.
      Ops.withPersisted(nonBench
        .join(contaminated, Seq("doc_id"), "left_anti")
        .join(d.select("doc_id", "lang"), Seq("doc_id"))) { survivors =>
        val scored = graft.llm.TextStats.nbQualityScore(survivors,
          survivors.filter(col("lang") === "en"), "doc_id", "text",
          "text", topV = 64)
        survivors.select("doc_id", "n_lines_kept")
          .join(scored, Seq("doc_id"))
          .orderBy("doc_id")
          .localCheckpoint()
      }
    }),

    // SQ8 scalar quantization: per-dim affine int8 codes against the
    // corpus's own [min, max] ranges — the codebook-free compression
    // leg (FAISS QT_8bit), complementing PQ's subspace codebooks
    "q_sq_codes" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val st = graft.llm.Sq.stats(e, "embedding")
      graft.llm.Sq.encode(e, "vec_id", "embedding", st)
        .select(col("id").as("vec_id"), posexplode(col("code")))
        .select(col("vec_id"), col("pos"), col("col").as("code"))
        .orderBy("vec_id", "pos")
    }),

    // ADC top-5 per query over SQ8 codes: exact query vector vs
    // decoded corpus codes, ascending-dimension squared-L2 fold,
    // ties to the smaller neighbor id
    "q_sq_search" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val st = graft.llm.Sq.stats(e, "embedding")
      graft.llm.Sq.adcTopK(e, e.filter(col("vec_id") < 5), "vec_id",
        "embedding", st, k = 5)
        .orderBy("query_id", "rank")
    }),

    // integer fixed-point PageRank (damping 85/100, scale 1e9, 3 exact
    // iterations) over the per-user event-type transition graph — the
    // centrality-weighting leg of corpus curation; exact integer ops
    // make the ranks partitioning-independent and SQL-replayable
    "q_pagerank" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val edges = graft.llm.Graph.transitionEdges(ev, "user_id",
        "event_type", Seq(col("ts"), col("event_id")))
      graft.llm.Graph.pageRank(edges, "src", "dst", iters = 3)
        .orderBy("node")
    }),

    // Z-order layout keys over (value, user_id): Morton interleave of
    // 8-bit affine rank buckets against the corpus min/max — the
    // write-time multi-dimensional clustering that makes file-level
    // min/max stats prune on EVERY interleaved column
    "q_zorder" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      ev.select(col("event_id"),
        graft.operators.Layout.zorderKey(ev, Seq("value", "user_id"), 8)
          .as("zkey"))
        .orderBy("event_id")
    }),

    // personalized PageRank: teleport mass lands only on the seed
    // nodes ('purchase', 'signup') — authority flows out from the
    // trusted set, the domain-whitelist weighting of corpus curation
    "q_pagerank_seeded" -> ((s, dir) => {
      import s.implicits._
      val ev = t(s, dir, "events")
      val edges = graft.llm.Graph.transitionEdges(ev, "user_id",
        "event_type", Seq(col("ts"), col("event_id")))
      graft.llm.Graph.pageRank(edges, "src", "dst", iters = 3,
        seeds = Some(Seq("purchase", "signup").toDF("node")))
        .orderBy("node")
    }),

    // Markov transition matrix of the event-type graph: per (src, dst)
    // the transition count and probability (one IEEE division over
    // exact integer counts)
    "q_transitions" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      graft.llm.Graph.transitionCounts(
        graft.llm.Graph.transitionEdges(ev, "user_id", "event_type",
          Seq(col("ts"), col("event_id"))), "src", "dst")
        .orderBy("src", "dst")
    }),

    // ordered funnel view -> click -> purchase: per user the furthest
    // step reached, step k strictly after the matched step k-1 event
    // (greedy-earliest matching — optimal for reachability)
    "q_funnel" -> ((s, dir) =>
      graft.operators.Funnel.funnel(t(s, dir, "events"), "user_id",
        "event_type", "ts", Seq("view", "click", "purchase"))
        .orderBy("user_id")),

    // the conversion curve: users reaching at least step k
    "q_funnel_counts" -> ((s, dir) =>
      graft.operators.Funnel.funnelCounts(
        graft.operators.Funnel.funnel(t(s, dir, "events"), "user_id",
          "event_type", "ts", Seq("view", "click", "purchase")),
        nSteps = 3)),

    // weekly cohort retention: cohort = ISO week of first touch,
    // period = floor(days since first event / 7), exact distinct users
    "q_retention" -> ((s, dir) =>
      graft.operators.Retention.weekly(t(s, dir, "events"),
        "user_id", "ts")),

    // the retention matrix at HLL precision (p=6): per-cell register
    // sketches replace the exact distinct — mergeable across days,
    // map-side-combined at any user cardinality; the whole estimate
    // chain replays bit-exact through the OracleXxh XXH64 macros
    "q_retention_hll" -> ((s, dir) =>
      graft.operators.Retention.weeklyHll(t(s, dir, "events"),
        "user_id", "ts", p = 6)),

    // single-pass column profiler over events: per column the row/NULL
    // counts, exact distincts, and numeric range (NULL for non-numeric
    // via try_cast) — the nightly ingest audit
    "q_profile" -> ((s, dir) =>
      graft.operators.Profile.profile(t(s, dir, "events"),
        Seq("event_id", "user_id", "event_type", "value", "props"))),

    // declarative data-quality contract (the Deequ category, the
    // corpus-scale assert_): six checks compiled into one aggregate
    // pass + the Unique distinct — one row per check, exact counts
    "q_quality_checks" -> ((s, dir) =>
      graft.operators.Quality.report(t(s, dir, "lineitem"), Seq(
        graft.operators.Quality.NotNull("l_orderkey"),
        graft.operators.Quality.Unique(
          Seq("l_orderkey", "l_linenumber")),
        graft.operators.Quality.InRange("l_discount", 0.0, 0.1),
        graft.operators.Quality.InRange("l_quantity", 1.0, 50.0),
        graft.operators.Quality.Matches("l_returnflag", "^[ARN]$"),
        graft.operators.Quality.MinRows(1000L)))
        .orderBy("check_id")),

    // ===== north-star: web-corpus URL curation ===========================

    // URL identity layer: host / registered-domain / canonical form over
    // a deterministic mix of URL shapes (scheme case, userinfo, default
    // vs exotic ports, fragments, multi-label public suffixes) — all
    // map-only codegen regexps (llm/Url.scala)
    "q_url_parse" -> ((s, dir) => {
      val u = t(s, dir, "documents")
        .select(col("doc_id"), synthUrl.as("url"))
      u.select(col("doc_id"), col("url"),
          graft.llm.Url.host(col("url")).as("host"),
          graft.llm.Url.registeredDomain(graft.llm.Url.stripWww(
            graft.llm.Url.host(col("url")))).as("domain"),
          graft.llm.Url.canonicalize(col("url")).as("canon"))
        .orderBy("doc_id")
    }),

    // per-registered-domain corpus rollup: volume, exact distinct
    // content, duplicate fraction — the "is this domain boilerplate?"
    // crawl-cap signal; ONE shuffle on the domain key
    "q_domain_stats" -> ((s, dir) =>
      graft.llm.Url.domainStats(
        t(s, dir, "documents").withColumn("url", synthUrl),
        "url", "text")
        .orderBy("domain")),

    // RefinedWeb-style per-domain volume cap: keep ≤ 20 docs per
    // registered domain preferring long docs (ties to low id) — bounded
    // TopKCollect aggregate, no WindowExec
    "q_domain_cap" -> ((s, dir) =>
      graft.llm.Url.domainCap(
        t(s, dir, "documents").withColumn("url", synthUrl),
        "url", col("doc_id"), col("n_chars"), k = 20)
        .orderBy("domain", "rank")),

    // PSL-as-data registered domain: the suffix list is a broadcast
    // DataFrame (committed fixture subset of the public suffix list),
    // longest-match via K chained broadcast left joins — map-only, the
    // full-PSL fidelity path next to q_url_parse's hardcoded fast path
    "q_url_psl" -> ((s, dir) => {
      val hosts = t(s, dir, "documents")
        .select(col("doc_id"), synthPslHost.as("host"))
      graft.llm.Url.registeredDomainPslFull(
          hosts, "host", graft.llm.Url.pslFullRules)
        .select(col("doc_id"), col("host"), col("domain"))
        .orderBy("doc_id")
    }),

    // feature-hashing doc vectors (the hashing trick): the model-free
    // embedding baseline — token → xxhash64 bucket, exact counts; one
    // shuffle-linear aggregate (llm/TextStats.hashEmbedSparse)
    "q_hash_embed" -> ((s, dir) =>
      graft.llm.TextStats.hashEmbedSparse(
        t(s, dir, "documents").filter(col("doc_id") < 50),
        "doc_id", "text", dim = 32)
        .orderBy("id", "bucket")),

    // similarity search over RAW TEXT, no learned encoder: dense
    // hash-embedded vectors feed the same bruteForceTopK used on the
    // embeddings table — the whole ANN family unlocked pre-model
    "q_doc_simsearch" -> ((s, dir) => {
      val dense = graft.llm.TextStats.hashEmbedDense(
        t(s, dir, "documents"), "doc_id", "text", dim = 32)
      SimSearch.bruteForceTopK(dense, dense.filter(col("id") < 3),
        "id", "embedding", k = 5)
        .orderBy("query_id", "rank")
    }),

    // raw-text document clustering: hash-embedded vectors through the
    // same seeded k-means assignment as the embeddings table — topic-
    // shaped corpus slices with NO learned encoder; output = cluster
    // volumes + the min-id exemplar
    "q_doc_clusters" -> ((s, dir) => {
      val dense = graft.llm.TextStats.hashEmbedDense(
        t(s, dir, "documents"), "doc_id", "text", dim = 16)
      val m = graft.llm.KMeans.seed(dense, "id", "embedding", k = 6)
      graft.llm.KMeans.assign(dense, "id", "embedding", m)
        .groupBy("cell")
        .agg(count(lit(1)).as("n_docs"), min(col("id")).as("exemplar"))
        .orderBy("cell")
    }),

    // literal-phrase blocklist gate: the wordlist filter every
    // production corpus runs — K contains-probes per row against a
    // plan-riding literal list, map-only (functions/Text.blocklistHits).
    // hits is emitted '|'-joined (not array<string>): the driver's
    // pandas canonicalizer cannot sort list columns (round-7 red row).
    "q_blocklist" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          Text.blocklistHits(col("text"),
            Seq("customer", "spam offer", "filter")).as("__hits"))
        .select(col("doc_id"),
          array_join(col("__hits"), "|").as("hits"),
          size(col("__hits")).cast("long").as("n_hits"),
          (size(col("__hits")) > 0).as("blocked"))
        .orderBy("doc_id")),

    // composed CRAWL-INGEST pipeline — the URL layer end to end:
    // per-domain volume cap (k=30, long docs preferred) → Gopher gate →
    // exact content dedup (min-id winner carries its domain) →
    // per-domain admitted volume. The gate tokenizes only the capped
    // survivors; every stage is individually oracled elsewhere.
    "q_pipeline_crawl" -> ((s, dir) => {
      val docs = t(s, dir, "documents").withColumn("url", synthUrl)
      val capped = graft.llm.Url.domainCap(docs, "url",
        col("doc_id"), col("n_chars"), k = 30)
        .select(col("domain"), col("doc_id"))
      val withText = capped.join(
        docs.select(col("doc_id"), col("text")), "doc_id")
      // gate + count in ONE fused kernel scalar (GopherAdmit): the
      // projected-tokens + HOF-predicate formulation re-inlined the
      // interpreted tokenize into the pushed filter 12x per row and 35x
      // across this plan (round-9 plan scan); the fingerprint is the
      // native regexp form of md5(join(tokens)) — same bytes, no array
      val good = withText
        .withColumn("n_tokens", graft.functions.GopherAdmit(col("text")))
        .filter(col("n_tokens") >= 0L)
        .withColumn("__fp", Text.fingerprint(col("text")))
      val deduped = good
        .groupBy("__fp")
        .agg(min(struct(col("doc_id"), col("domain"),
          col("n_tokens"))).as("r"))
        .select(col("r.domain").as("domain"),
          col("r.n_tokens").as("n_tokens"))
      deduped.groupBy("domain")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("total_tokens"))
        .orderBy("domain")
    }),

    // the SAME five crawl stages as q_pipeline_crawl, but executed as a
    // YAML topology DAG through Topology.runBatch (cap → join → gopher
    // gate → dedup → rollup chained through intra-run topics) — the
    // driver's oracle gate covering the topology runner itself, not
    // just the operators it wires
    "q_pipeline_crawl_dag" -> ((s, dir) => {
      val work = scratchDir("graft_crawl_dag", dir)
      // only the columns the DAG consumes ride the frontier topic
      // (cap: url/n_chars/doc_id; jointext: text) — the write is the
      // dominant cost of the materialized chain. r15: the single-
      // consumer early stages (capped/withtext/gated) chain as MEMORY
      // relays — plan-level, no durable round-trip, the same semantics
      // stream mode gives them — while deduped + domain_rollup stay on
      // the durable write-through path, so the driver's hash gate
      // covers BOTH relay kinds in one DAG (budget: docs/BENCH.md)
      writeOnce(s"$work/frontier") {
        t(s, dir, "documents").withColumn("url", synthUrl)
          .select("doc_id", "n_chars", "text", "url")
          .write.mode("overwrite").parquet(s"$work/frontier")
      }
      val yaml =
        s"""topics:
           |  - name: frontier
           |    kind: parquet
           |    path: $work/frontier
           |  - name: capped
           |    kind: memory
           |  - name: withtext
           |    kind: memory
           |  - name: gated
           |    kind: memory
           |  - name: deduped
           |    kind: parquet
           |    sink_partitions: 4
           |  - name: domain_rollup
           |    kind: parquet
           |    sink_partitions: 1
           |operators:
           |  cap:
           |    factory: graft.streaming.ops.DomainCapOp
           |    sources: [frontier]
           |    sinks: [capped]
           |    config:
           |      k: 30
           |      quality_col: n_chars
           |  jointext:
           |    factory: graft.streaming.ops.SqlOp
           |    sources: [capped, frontier]
           |    sinks: [withtext]
           |    config:
           |      sql: >-
           |        SELECT c.doc_id, c.domain, d.text
           |        FROM __crawl_capped c
           |        JOIN __crawl_frontier d USING (doc_id)
           |      views: [__crawl_capped, __crawl_frontier]
           |  gate:
           |    factory: graft.streaming.ops.GopherGateOp
           |    sources: [withtext]
           |    sinks: [gated]
           |    config:
           |      n_tokens_col: n_tokens
           |  dedup:
           |    factory: graft.streaming.ops.DedupOp
           |    sources: [gated]
           |    sinks: [deduped]
           |  rollup:
           |    factory: graft.streaming.ops.SqlOp
           |    sources: [deduped]
           |    sinks: [domain_rollup]
           |    config:
           |      sql: >-
           |        SELECT domain, CAST(count(*) AS BIGINT) AS n_docs,
           |        CAST(sum(n_tokens) AS BIGINT) AS total_tokens
           |        FROM __crawl_deduped GROUP BY domain
           |      views: [__crawl_deduped]
           |""".stripMargin
      graft.streaming.Topology.parse(yaml).runBatch(s, s"$work/sinks")
      s.read.parquet(s"$work/sinks/domain_rollup").orderBy("domain")
    }),

    // the nightly layout job end-to-end: a micro-batch-sprayed
    // directory (64 kilobyte-files) compacted to size-targeted files
    // WITH Z-clustering folded into the same shuffle
    // (Layout.compact -> layoutBy), then a both-dims predicate over
    // the compacted output — losslessness and filter correctness are
    // driver-oracled here; the file-stat PRUNING of the z-layout is
    // pinned in LayoutSpec (span assertions need multi-file outputs,
    // which need more bytes than oracle scale provides)
    "q_compact_zorder" -> ((s, dir) => {
      val work = scratchDir("graft_compact_z", dir)
      writeOnce(s"$work/spray") {
        t(s, dir, "events").select("event_id", "user_id", "value")
          .repartition(64)
          .write.mode("overwrite").parquet(s"$work/spray")
      }
      graft.operators.Layout.compact(s, s"$work/spray",
        s"$work/compacted", targetFileBytes = 1L << 20,
        zorderCols = Seq("user_id", "value"))
      s.read.parquet(s"$work/compacted")
        .filter(col("user_id").between(10, 30) &&
          col("value").between(10.0, 60.0))
        .orderBy("event_id")
    }),

    // ===== north-star: ANN index evaluation ==============================

    // recall@5 of the IVF index against brute-force ground truth — the
    // harness that tunes nProbe before a corpus-wide rollout; both
    // inputs bounded top-k frames, so the eval is |queries|·k-sized
    "q_ann_recall" -> ((s, dir) => {
      val e  = t(s, dir, "embeddings")
      val qs = e.filter(col("vec_id") < 5)
      val exact = SimSearch.bruteForceTopK(e, qs,
        "vec_id", "embedding", k = 5)
      val model = graft.llm.Ivf.train(e, "vec_id", "embedding", k = 16)
      val approx = graft.llm.Ivf.topK(e, qs,
        "vec_id", "embedding", k = 5, model, nProbe = 4)
      SimSearch.recallAtK(exact, approx).orderBy("query_id")
    }),

    // dimension-budget ablation: recall@5 of brute-force search over
    // the FIRST-16-dims truncation vs the full-64-dim ground truth —
    // "how many dims does retrieval actually need" answered with the
    // same bounded eval harness (truncation = map-only slice)
    "q_dim_ablation" -> ((s, dir) => {
      val e  = t(s, dir, "embeddings")
      val qs = e.filter(col("vec_id") < 5)
      val exact = SimSearch.bruteForceTopK(e, qs,
        "vec_id", "embedding", k = 5)
      val cut = e.select(col("vec_id"),
        slice(col("embedding"), 1, 16).as("embedding"))
      val approx = SimSearch.bruteForceTopK(cut,
        cut.filter(col("vec_id") < 5), "vec_id", "embedding", k = 5)
      SimSearch.recallAtK(exact, approx).orderBy("query_id")
    }),

    // reciprocal-rank companion to q_ann_recall: where the IVF list
    // first hits a true neighbor, per query (the MRR building block)
    "q_ann_mrr" -> ((s, dir) => {
      val e  = t(s, dir, "embeddings")
      val qs = e.filter(col("vec_id") < 5)
      val exact = SimSearch.bruteForceTopK(e, qs,
        "vec_id", "embedding", k = 5)
      val model = graft.llm.Ivf.train(e, "vec_id", "embedding", k = 16)
      val approx = graft.llm.Ivf.topK(e, qs,
        "vec_id", "embedding", k = 5, model, nProbe = 4)
      SimSearch.reciprocalRank(exact, approx).orderBy("query_id")
    }),

    // shuffle-skew diagnosis: top-25 heaviest join-key values with
    // exact counts + corpus share — the "do I need saltedJoin?" probe,
    // one map-side-combined aggregate + a bounded global top-N
    "q_key_skew" -> ((s, dir) =>
      graft.operators.Profile.keySkew(t(s, dir, "events"),
        col("user_id"), topN = 25)
        .orderBy(col("cnt").desc, col("key"))),

    // PCA: exact fixed-point moments (ONE corpus pass, d²-cell map-side
    // combined aggregate), driver power iteration + deflation with a
    // pinned IEEE op sequence — the classically-irreproducible fit,
    // oracled bit-exact (llm/Pca.scala). Output: the k·d model frame.
    "q_pca_fit" -> ((s, dir) => {
      val model = graft.llm.Pca.fit(t(s, dir, "embeddings"),
        "embedding", k = 2, iters = 8)
      graft.llm.Pca.modelFrame(s, model).orderBy("component", "i")
    }),

    // map-only projection of the corpus onto the fitted components —
    // the 2-D corpus map / whitening step; DotProduct against literal
    // component arrays, no shuffle
    "q_pca_project" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val model = graft.llm.Pca.fit(e, "embedding", k = 2, iters = 8)
      graft.llm.Pca.project(e, "vec_id", "embedding", model)
        .orderBy("vec_id")
    }),

    // whitened projection: unit variance along retained components —
    // the k-means/SemDeDup preconditioner; one extra IEEE division per
    // row against the driver-literal sqrt(eigenvalue)
    "q_pca_whiten" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val model = graft.llm.Pca.fit(e, "embedding", k = 2, iters = 8)
      graft.llm.Pca.project(e, "vec_id", "embedding", model,
        whiten = true).orderBy("vec_id")
    }),

    // ===== SCD2 interval builder (reference-table producer) =============

    // per-user event_type change log → validity intervals with
    // consecutive equal states collapsed; the producer side of q_asof's
    // reference tables. All windows keyed by user_id.
    "q_scd2" -> ((s, dir) =>
      graft.operators.Scd.scd2(t(s, dir, "events"),
        col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .select(col("key").as("user_id"), col("state"),
          col("effective_from"), col("effective_to"),
          col("is_current"), col("n_events"))
        .orderBy("user_id", "effective_from", "state")),

    // ingest-audit drift: per-column null-rate/distinct deltas between
    // two event snapshots (even vs odd ids) — schema-rot detection in
    // two single-pass profiles + a |cols|-row join
    "q_profile_delta" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      graft.operators.Profile.delta(
        ev.filter(pmod(col("event_id"), lit(2)) === 0),
        ev.filter(pmod(col("event_id"), lit(2)) === 1),
        Seq("event_id", "user_id", "event_type", "value", "props"))
    }),

    // CDC apply: latest-wins upsert of a change feed (odd event ids)
    // into a per-user snapshot (latest even row) — one union + one
    // keyed window, the "current state" table builder
    "q_upsert" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select("user_id", "event_type", "value", "ts", "event_id")
      val snap = (ev.filter(pmod(col("event_id"), lit(2)) === 0) >>
        Ops.lastBy(Seq(col("user_id")), Seq(col("ts"), col("event_id"))))
      val changes = ev.filter(pmod(col("event_id"), lit(2)) === 1)
      graft.operators.Cdc.upsert(snap, changes, Seq(col("user_id")),
        Seq(col("ts"), col("event_id")))
        .orderBy("user_id")
    }),

    // ===== sources: ORC round trip =======================================

    // documents → ORC (Spark-native columnar sibling) → read back →
    // rollup; proves the ORC source/sink against the parquet oracle
    "q_orc_roundtrip" -> ((s, dir) => {
      val out = scratchDir("graft_orc", dir)
      graft.sources.Sources.writeOrc(t(s, dir, "documents"), out)
      graft.sources.Sources.orc(s, out)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"))
        .orderBy("source")
    }),

    // JSONL round-trip — the interchange format downstream training
    // stacks read (one JSON object per line): export the corpus via the
    // Sources JSONL sink, re-ingest with an explicit schema, aggregate.
    // The corpus text is plain space-separated words, so the escape
    // surface is INJECTED — every doc gets a quote/comma/backslash
    // suffix before export; the text-length sum then genuinely pins
    // writer escaping + reader unescaping (a corruption shifts the
    // sum), and the identity round-trip keeps the oracle plain SQL
    // over the original table (q_orc_roundtrip precedent)
    "q_jsonl_roundtrip" -> ((s, dir) => {
      val out = scratchDir("graft_jsonl", dir)
      val docs = t(s, dir, "documents")
        .withColumn("text", concat(col("text"), lit(" \"q\", \\end")))
      graft.sources.Sources.writeJsonLines(docs, out)
      graft.sources.Sources.jsonLines(s, out, docs.schema)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"),
          sum(length(col("text"))).as("total_text_chars"))
        .orderBy("lang")
    }),

    // JSONL topics through the DAG runner — the raw-crawl ingest and
    // training-export shape: a JSONL source topic (declared DDL schema,
    // the json-topic contract) flows through a YAML SqlOp gate into a
    // JSONL sink topic, and the read-back aggregates. Gates BOTH json
    // legs of the runner (source + durable-handoff sink) plus the
    // schema-carrying relay; quoting fidelity is pinned by the n_chars
    // sum surviving the two JSON hops
    "q_jsonl_dag" -> ((s, dir) => {
      val work = scratchDir("graft_jsonl_dag", dir)
      writeOnce(s"$work/docs") {
        graft.sources.Sources.writeJsonLines(
          t(s, dir, "documents").filter(col("doc_id") < 5000)
            .select(col("doc_id"), col("text"), col("lang"),
              col("n_chars")),
          s"$work/docs")
      }
      val yaml =
        s"""topics:
           |  - name: docs
           |    kind: json
           |    path: $work/docs
           |    schema: "doc_id BIGINT, text STRING, lang STRING, n_chars BIGINT"
           |  - name: export
           |    kind: json
           |    sink_partitions: 1
           |operators:
           |  gate:
           |    factory: graft.streaming.ops.SqlOp
           |    sources: [docs]
           |    sinks: [export]
           |    config:
           |      views: [d]
           |      sql: SELECT doc_id, lang, n_chars FROM d WHERE n_chars >= 100
           |""".stripMargin
      graft.streaming.Topology.parse(yaml).runBatch(s, s"$work/sinks")
      graft.sources.Sources.jsonLines(s, s"$work/sinks/export",
          org.apache.spark.sql.types.StructType.fromDDL(
            "doc_id BIGINT, lang STRING, n_chars BIGINT"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"))
        .orderBy("lang")
    }),

    // CSV round-trip — the remaining interchange leg (parquet and ORC
    // columnar, JSONL and CSV text): header + quoting exercised with
    // the same INJECTED quote/comma/backslash suffix as
    // q_jsonl_roundtrip (the raw corpus is plain words), so the writer
    // must quote-frame and double the quotes and the reader must undo
    // both. Newline-free by fixture contract — Sources.csv reads
    // line-framed records; multiLine CSV is out of the sink's scope by
    // design, JSONL is the escape-safe export for free-text
    "q_csv_roundtrip" -> ((s, dir) => {
      val out = scratchDir("graft_csv", dir)
      val docs = t(s, dir, "documents")
        .withColumn("text", concat(col("text"), lit(" \"q\", \\end")))
      graft.sources.Sources.writeCsv(docs, out)
      graft.sources.Sources.csv(s, out, docs.schema)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"),
          sum(length(col("text"))).as("total_text_chars"))
        .orderBy("source")
    }),

    // time-series regularization: per-user hourly grid with GAP rows
    // materialized, decimal-exact sums, forward-filled last observation
    "q_resample" -> ((s, dir) =>
      graft.operators.Resample.grid(t(s, dir, "events"), "ts", "value",
        Seq("user_id"), "1 hour", 3600L)
        .orderBy("user_id", "bucket")),

    // z-score anomaly flagging: events whose value sits > 3 sample
    // stddevs from their event_type's mean — per-key exact moments
    // (MathOps.describe) broadcast back over the stream, three IEEE
    // ops per row (sub, div, abs), all SQL-replayable
    "q_anomaly" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val stats = (ev >> MathOps.describe(col("value"),
        Seq(col("event_type"))))
        .select(col("event_type"), col("mean"), col("stddev_samp"))
      ev.join(broadcast(stats), "event_type")
        .filter(col("stddev_samp") > 0.0)
        .select(col("event_id"), col("event_type"), col("value"),
          ((col("value") - col("mean")) / col("stddev_samp")).as("z"))
        .filter(abs(col("z")) > 3.0)
        .orderBy("event_id")
    }),

    // ROBUST anomaly flagging (median/MAD): outliers against the
    // median absolute deviation instead of mean/stddev — immune to the
    // outliers themselves polluting the reference moments (the classic
    // z-score failure q_anomaly inherits by design). Exact type-1
    // quantiles per key ⇒ bit-replayable; two keyed windows + two
    // broadcast joins, one IEEE division per row
    "q_anomaly_robust" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val med = (ev >> MathOps.quantileByKey(col("value"), 0.5,
        Seq(col("event_type"))))
        .select(col("event_type"), col("q").as("med"))
      val dev = ev.join(broadcast(med), "event_type")
        .withColumn("absdev", abs(col("value") - col("med")))
      val mad = (dev >> MathOps.quantileByKey(col("absdev"), 0.5,
        Seq(col("event_type"))))
        .select(col("event_type"), col("q").as("mad"))
      dev.join(broadcast(mad), "event_type")
        .filter(col("mad") > 0.0)
        .withColumn("score", col("absdev") / col("mad"))
        .filter(col("score") > 3.5)
        .select("event_id", "event_type", "value", "med", "mad", "score")
        .orderBy("event_id")
    }),

    // HITS hubs & authorities over the event-type transition graph:
    // exact integer iterations with max rescaling — hubs = states
    // journeys leave from, authorities = states they converge to
    "q_hits" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val edges = graft.llm.Graph.transitionEdges(ev, "user_id",
        "event_type", Seq(col("ts"), col("event_id")))
      graft.llm.Graph.hits(edges, "src", "dst", iters = 2)
        .orderBy("node")
    }),

    // PageRank over the document near-dup graph: exact ngram-Jaccard
    // pairs (>= 0.3) as symmetric edges, 2 integer iterations — which
    // docs sit at the center of duplication clusters (the curation
    // face of graph centrality: high rank = template/boilerplate hub)
    "q_pagerank_docs" -> ((s, dir) => {
      val pairs = Dedup.ngramJaccardPairs(t(s, dir, "documents"),
        "doc_id", "text", shingleSize = 3, threshold = 0.3)
      // NO persist on `pairs`: pageRank's own e0 persist already makes
      // the pair subtree single-traversal (explode is its one
      // consumer); adding one was a measured net loss (quiet-box
      // min-of-2 at sf0.1: 2.28s -> 2.82s, round 12) — the extra
      // materialization buys no avoided re-run
      // symmetrize via explode, not union: a union traverses the pair
      // subtree twice, and pair GENERATION is the expensive stage here
      // (measured 2× ngram-Jaccard per run → once; 3.4s → 2.3s at sf0.1)
      val edges = pairs.select(explode(array(
          struct(col("id_a").as("src"), col("id_b").as("dst")),
          struct(col("id_b").as("src"), col("id_a").as("dst"))))
          .as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
      graft.llm.Graph.pageRank(edges, "src", "dst", iters = 2)
        .orderBy("node")
    }),

    // exact corpus drift: total-variation distance between the token
    // distributions of two snapshot halves (even vs odd doc ids — the
    // same-distribution control; the lang slices below are the drifted
    // case). Every intermediate is an exact integer; one cast + one
    // IEEE division at the end
    "q_token_drift" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.llm.Drift.tokenDrift(
        docs.filter(pmod(col("doc_id"), lit(2)) === 0),
        docs.filter(pmod(col("doc_id"), lit(2)) === 1), "text")
    }),

    // the drift triage view: top-20 tokens by exact cross-multiplied
    // share movement between the en and de slices, with which side
    // over-represents
    "q_drift_top" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.llm.Drift.driftTop(
        docs.filter(col("lang") === "en"),
        docs.filter(col("lang") === "de"), "text", k = 20)
        .orderBy(col("drift_num").desc, col("token"))
    }),

    // deterministic weight-proportional sampling without replacement
    // (priority sampling): 50 docs drawn proportional to n_chars via
    // hash-derived uniforms — reproducible under reruns, replayable in
    // any engine through the XXH64 oracle macros
    "q_weighted_sample" -> ((s, dir) =>
      (t(s, dir, "documents") >> Ops.prioritySample(col("doc_id"),
        col("n_chars"), k = 50, seed = 7))
        .select(col("doc_id"), col("n_chars"), col("priority"),
          col("sample_rank"))
        .orderBy("sample_rank")),

    // time-to-convert: per funnel depth, user count + exact p50
    // conversion latency (micros between the step-1 match and the
    // furthest step's match) — funnelLatency ∘ quantileByKey, the
    // composed behavioral-latency dashboard row
    "q_funnel_latency" -> ((s, dir) => {
      val lat = graft.operators.Funnel.funnelLatency(
        t(s, dir, "events"), "user_id", "event_type", "ts",
        Seq("view", "click", "purchase"),
        withinSeconds = Some(86400L)) // 1-day conversion window
      lat >> MathOps.quantileByKey(col("latency_us"), 0.5,
        Seq(col("depth")))
    }),

    // exact per-key quantile (type-1): the p95 value per event_type —
    // no interpolation, so the answer exists in the data and the one
    // IEEE multiply + ceil replays in any engine
    "q_quantile_by_key" -> ((s, dir) =>
      (t(s, dir, "events") >> MathOps.quantileByKey(col("value"), 0.95,
        Seq(col("event_type"))))
        .orderBy("event_type")),

    // rolling 7-day distinct actives per day via HLL register UNION:
    // daily register tables computed once, each day's window is a
    // register-max merge of ≤7 of them — the dashboard metric the
    // mergeable-sketch algebra exists for
    "q_rolling_actives" -> ((s, dir) =>
      graft.operators.Retention.rollingActives(t(s, dir, "events"),
        "user_id", "ts", windowDays = 7, p = 6)),

    // ===== streaming-twin factories, driver-gated in batch mode ========
    // The streaming ops (FunnelOp / TransitionOp / RollingActivesOp)
    // were parity-pinned in ScalaTest only — invisible to the driver's
    // oracle gate. These three run the SAME YAML factories through
    // Topology.runBatch against the SAME oracles as their batch twins
    // (identical SQL by construction), so a factory or runner
    // divergence turns a correctness row red.

    // FunnelOp advance rows -> SqlOp conversion curve == q_funnel_counts
    "q_funnel_counts_dag" -> ((s, dir) => {
      val work = scratchDir("graft_funnel_dag", dir)
      writeOnce(s"$work/ev") {
        t(s, dir, "events").select("user_id", "event_type", "ts")
          .write.mode("overwrite").parquet(s"$work/ev")
      }
      val yaml =
        s"""topics:
           |  - name: ev
           |    kind: parquet
           |    path: $work/ev
           |  - name: advances
           |    kind: memory
           |  - name: curve
           |    kind: parquet
           |    sink_partitions: 1
           |operators:
           |  funnel:
           |    factory: graft.streaming.ops.FunnelOp
           |    sources: [ev]
           |    sinks: [advances]
           |    config:
           |      steps: [view, click, purchase]
           |  curve:
           |    factory: graft.streaming.ops.SqlOp
           |    sources: [advances]
           |    sinks: [curve]
           |    config:
           |      sql: >-
           |        SELECT CAST(s.step AS INT) AS step,
           |        CAST(count(a.depth) AS BIGINT) AS users
           |        FROM (SELECT explode(sequence(1, 3)) AS step) s
           |        LEFT JOIN __funnel_adv a ON a.depth = s.step
           |        GROUP BY s.step
           |      views: [__funnel_adv]
           |""".stripMargin
      graft.streaming.Topology.parse(yaml).runBatch(s, s"$work/sinks")
      s.read.parquet(s"$work/sinks/curve").orderBy("step")
    }),

    // TransitionOp edge rows -> SqlOp count/probability rollup ==
    // q_transitions (per-user ts are unique in the corpus, so the op's
    // (ts, type) in-group sort equals the twin's (ts, event_id))
    "q_transitions_dag" -> ((s, dir) => {
      val work = scratchDir("graft_trans_dag", dir)
      writeOnce(s"$work/ev") {
        t(s, dir, "events").select("user_id", "event_type", "ts")
          .write.mode("overwrite").parquet(s"$work/ev")
      }
      val yaml =
        s"""topics:
           |  - name: ev
           |    kind: parquet
           |    path: $work/ev
           |  - name: edges
           |    kind: memory
           |  - name: trans
           |    kind: parquet
           |    sink_partitions: 1
           |operators:
           |  extract:
           |    factory: graft.streaming.ops.TransitionOp
           |    sources: [ev]
           |    sinks: [edges]
           |  rollup:
           |    factory: graft.streaming.ops.SqlOp
           |    sources: [edges]
           |    sinks: [trans]
           |    config:
           |      sql: >-
           |        WITH e0 AS (SELECT src, dst,
           |        CAST(count(*) AS BIGINT) AS w
           |        FROM __trans_edges GROUP BY src, dst),
           |        t AS (SELECT src, CAST(sum(w) AS BIGINT) AS tot
           |        FROM e0 GROUP BY src)
           |        SELECT e0.src, e0.dst, e0.w,
           |        CAST(e0.w AS DOUBLE) / CAST(t.tot AS DOUBLE) AS p
           |        FROM e0 JOIN t USING (src)
           |      views: [__trans_edges]
           |""".stripMargin
      graft.streaming.Topology.parse(yaml).runBatch(s, s"$work/sinks")
      s.read.parquet(s"$work/sinks/trans").orderBy("src", "dst")
    }),

    // NearDupOp in VERIFY mode through the DAG runner == the batch
    // minhashNovelVerified (the op's one-factory-both-modes contract,
    // StreamingSpec-pinned; now driver-oracled too). Documents carry no
    // event time, so a constant ts rides the frontier write — batch
    // mode runs one window and the count==bands novelty rule reduces
    // to the batch twin's
    "q_neardup_dag" -> ((s, dir) => {
      val work = scratchDir("graft_neardup_dag", dir)
      writeOnce(s"$work/docs") {
        t(s, dir, "documents")
          .select(col("doc_id"), col("text"),
            lit("2024-01-01 00:00:00").cast("timestamp").as("ts"))
          .write.mode("overwrite").parquet(s"$work/docs")
      }
      val yaml =
        s"""topics:
           |  - name: docs
           |    kind: parquet
           |    path: $work/docs
           |  - name: novel
           |    kind: parquet
           |    sink_partitions: 4
           |operators:
           |  neardup:
           |    factory: graft.streaming.ops.NearDupOp
           |    sources: [docs]
           |    sinks: [novel]
           |    config:
           |      verify: true
           |""".stripMargin
      graft.streaming.Topology.parse(yaml).runBatch(s, s"$work/sinks")
      s.read.parquet(s"$work/sinks/novel")
        .select("doc_id").orderBy("doc_id")
    }),

    // RollingActivesOp daily register cells through the DAG runner +
    // the shared batch finisher == q_rolling_actives
    "q_rolling_actives_dag" -> ((s, dir) => {
      val work = scratchDir("graft_actives_dag", dir)
      writeOnce(s"$work/ev") {
        t(s, dir, "events").select("user_id", "ts")
          .write.mode("overwrite").parquet(s"$work/ev")
      }
      val yaml =
        s"""topics:
           |  - name: ev
           |    kind: parquet
           |    path: $work/ev
           |  - name: cells
           |    kind: parquet
           |    sink_partitions: 4
           |operators:
           |  actives:
           |    factory: graft.streaming.ops.RollingActivesOp
           |    sources: [ev]
           |    sinks: [cells]
           |    config:
           |      precision: 6
           |""".stripMargin
      graft.streaming.Topology.parse(yaml).runBatch(s, s"$work/sinks")
      graft.streaming.ops.RollingActivesOp.finish(
        s.read.parquet(s"$work/sinks/cells"), windowDays = 7, p = 6)
    }),

    // EMBEDDING-distribution drift (semantic drift monitoring): both
    // snapshot halves assigned against the SAME frozen quantizer (the
    // seeded k=8 centroids), then exact TVD over the cell histograms —
    // "did the embedding distribution move" without any pairwise math
    "q_embed_drift" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val m = graft.llm.KMeans.seed(e, "vec_id", "embedding", k = 8)
      def cells(side: DataFrame) =
        graft.llm.KMeans.assign(side, "vec_id", "embedding", m)
          .groupBy(col("cell").as("bucket"))
          .agg(count(lit(1)).as("cnt"))
      graft.llm.Drift.driftFromCounts(
        cells(e.filter(pmod(col("vec_id"), lit(2)) === 0)),
        cells(e.filter(pmod(col("vec_id"), lit(2)) === 1)), "bucket")
    }),

    // quota sampling: 3 docs per source drawn weight-proportional to
    // n_chars — the per-stratum form of priority sampling, ranked by
    // the bounded TopKCollect aggregate (no WindowExec)
    "q_quota_sample" -> ((s, dir) =>
      (t(s, dir, "documents") >> Ops.prioritySampleByKey(col("doc_id"),
        col("n_chars"), col("source"), kPerStratum = 3, seed = 7))
        .orderBy("stratum", "rank")),

    // collocation mining: adjacent bigrams ranked by exact-rational
    // LIFT (log-free PMI) with a support floor — "new york"-style
    // multiword expressions out of the raw corpus
    "q_collocations" -> ((s, dir) =>
      graft.llm.TextStats.collocations(t(s, dir, "documents"), "text",
        minCount = 5L, k = 30)),

    // the SQL escape hatch as a topology operator: YAML-declared
    // spark.sql over the source topic registered as a view — Catalyst
    // end to end, no Scala required of the operator author
    "q_sql_op" -> ((s, dir) =>
      graft.streaming.ops.SqlOp(Map(
        "views" -> Seq("ev"),
        "sql" -> ("SELECT event_type, count(*) AS n, " +
          "CAST(min(value) AS DOUBLE) AS min_v, " +
          "CAST(max(value) AS DOUBLE) AS max_v " +
          "FROM ev GROUP BY event_type ORDER BY event_type")),
        Seq(t(s, dir, "events"))).head),

    // composed MONITORING pipeline — the nightly corpus-health run in
    // one plan: today's snapshot (even ids) vs reference (odd ids),
    // per source: volume, Gopher pass count, and exact TVD drift vs
    // the reference distribution; every stage individually oracled,
    // the composition hash-matched end to end
    "q_pipeline_monitor" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      // split on mod 3, not parity: doc_id parity correlates with
      // source in the fixture (even ids land in even sources), and a
      // monitor demo where every source appears on both sides is the
      // honest one
      val snap = docs.filter(pmod(col("doc_id"), lit(3)) === 0)
      val ref = docs.filter(pmod(col("doc_id"), lit(3)) =!= 0)
      val drift = graft.llm.Drift
        .driftByStratum(snap, "source", "text", ref, "text")
        .withColumnRenamed("stratum", "source")
      val card = snap
        .select(col("source"),
          graft.functions.GopherAdmit(col("text")).as("__ga"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("__ga") >= 0L, 1L)
            .otherwise(0L)).as("n_gopher_pass"))
      card.join(drift, "source")
        .select("source", "n_docs", "n_gopher_pass", "n_a", "n_b",
          "tvd_num", "tvd")
        .orderBy("source")
    }),

    // changepoint series: exact TVD between each hour's value histogram
    // and the previous present hour's — drift monitoring WITHOUT a
    // reference corpus (a spike marks the hour the distribution moved)
    "q_adjacent_drift" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val x = col("value").cast("double")
      val bucket = least(greatest(
        floor((x - lit(0.0)) / lit(500.0) * lit(8.0)), lit(0L)), lit(7L))
      val cells = ev.groupBy(
        date_trunc("hour", col("ts")).as("window_start"),
        bucket.as("bucket")).agg(count(lit(1)).as("cnt"))
      graft.llm.Drift.adjacentDrift(cells).orderBy("window_start")
    }),

    // the streaming temporal-join factory in batch mode: purchases
    // enriched with the same user's newest view value at event time
    // (the FMGWS state machine, exact as-of semantics — parity with
    // AsOfJoin pinned by TemporalJoinSpec, hash-matched here)
    "q_temporal_join" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val l = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("k"), col("ts"),
          col("event_id").as("id"))
      val r = ev.filter(col("event_type") === "view")
        .select(col("user_id").as("k"), col("ts"),
          col("value").cast("string").as("v"),
          col("event_id").as("tie"))
      graft.streaming.ops.TemporalJoinOp(Map("key_col" -> "k",
        "timestamp_col" -> "ts", "id_col" -> "id", "value_col" -> "v",
        "tie_col" -> "tie"), Seq(l, r)).head
        .select(col("id"), col("k").cast("long").as("user_id"),
          col("r_ts"),
          // the op carries values as strings for type-generality; the
          // double→string→double round-trip is exact (shortest-roundtrip
          // rendering), so casting back oracles against the raw column
          col("r_value").cast("double").as("r_value"))
        .orderBy("id")
    }),

    // the SAME as-of enrichment, but wired as a TWO-SOURCE YAML
    // topology: SqlOp stages shape the purchase/view streams into the
    // op's (k, ts, id) / (k, ts, v, tie) contracts, TemporalJoinOp
    // consumes both through Topology.runBatch — the only multi-source
    // STATEFUL factory in the DAG-gated family
    "q_temporal_join_dag" -> ((s, dir) => {
      val work = scratchDir("graft_tj_dag", dir)
      writeOnce(s"$work/ev") {
        t(s, dir, "events")
          .select("event_id", "user_id", "event_type", "ts", "value")
          .write.mode("overwrite").parquet(s"$work/ev")
      }
      val yaml =
        s"""topics:
           |  - name: ev
           |    kind: parquet
           |    path: $work/ev
           |  - name: lefts
           |    kind: memory
           |  - name: rights
           |    kind: memory
           |  - name: joined
           |    kind: parquet
           |    sink_partitions: 4
           |operators:
           |  mklefts:
           |    factory: graft.streaming.ops.SqlOp
           |    sources: [ev]
           |    sinks: [lefts]
           |    config:
           |      sql: >-
           |        SELECT user_id AS k, ts, event_id AS id
           |        FROM __tj_ev_l WHERE event_type = 'purchase'
           |      views: [__tj_ev_l]
           |  mkrights:
           |    factory: graft.streaming.ops.SqlOp
           |    sources: [ev]
           |    sinks: [rights]
           |    config:
           |      sql: >-
           |        SELECT user_id AS k, ts,
           |        CAST(value AS STRING) AS v, event_id AS tie
           |        FROM __tj_ev_r WHERE event_type = 'view'
           |      views: [__tj_ev_r]
           |  asof:
           |    factory: graft.streaming.ops.TemporalJoinOp
           |    sources: [lefts, rights]
           |    sinks: [joined]
           |    config:
           |      key_col: k
           |      timestamp_col: ts
           |      id_col: id
           |      value_col: v
           |      tie_col: tie
           |""".stripMargin
      graft.streaming.Topology.parse(yaml).runBatch(s, s"$work/sinks")
      s.read.parquet(s"$work/sinks/joined")
        .select(col("id"), col("k").cast("long").as("user_id"),
          col("r_ts"), col("r_value").cast("double").as("r_value"))
        .orderBy("id")
    }),

    // DriftOp through the DAG runner: the streaming corpus-drift
    // monitor's windowed bucket cells (per-window hashed-token counts,
    // state bounded at `buckets` rows) written by Topology.runBatch,
    // then the documented batch finisher (DriftOp.finish = TVD of each
    // finalized window vs a frozen reference corpus at the same
    // (buckets, seed)). Input capped (480 docs, 4 synthetic hourly
    // windows from doc_id) so the row stays ≤~0.3s at any sf;
    // window_start ships as epoch seconds (the q_tumbling_hour
    // convention — no cross-engine timestamp canonicalization risk)
    "q_drift_dag" -> ((s, dir) => {
      val work = scratchDir("graft_drift_dag", dir)
      writeOnce(s"$work/docs") {
        t(s, dir, "documents")
          .filter(pmod(col("doc_id"), lit(2)) === 0 &&
            col("doc_id") < 480)
          .select(col("doc_id"), col("text"),
            (lit(1704067200L) +
              pmod(floor(col("doc_id") / 2).cast("long"), lit(4)) *
                lit(3600L)).cast("timestamp").as("ts"))
          .write.mode("overwrite").parquet(s"$work/docs")
      }
      val yaml =
        s"""topics:
           |  - name: docs
           |    kind: parquet
           |    path: $work/docs
           |  - name: cells
           |    kind: parquet
           |    sink_partitions: 1
           |operators:
           |  drift:
           |    factory: graft.streaming.ops.DriftOp
           |    sources: [docs]
           |    sinks: [cells]
           |    config:
           |      window: 1 hour
           |      buckets: 64
           |      seed: 0
           |""".stripMargin
      graft.streaming.Topology.parse(yaml).runBatch(s, s"$work/sinks")
      val cells = s.read.parquet(s"$work/sinks/cells")
      val ref = graft.llm.Drift.bucketCounts(
        t(s, dir, "documents")
          .filter(pmod(col("doc_id"), lit(2)) === 1 &&
            col("doc_id") < 480),
        "text", buckets = 64, seed = 0)
      graft.streaming.ops.DriftOp.finish(cells, ref)
        .select(col("window_start").cast("long").as("window_start"),
          col("n_a"), col("n_b"), col("tvd_num"), col("tvd"))
        .orderBy("window_start")
    }),

    // ScdOp through the DAG runner: the streaming SCD2 interval
    // builder in batch mode (open runs finalize as is_current rows) ==
    // the batch twin Scd.scd2 on the same slice — the q_scd2 oracle
    // parameterized to the capped input (user_id % 5 = 0 keeps the
    // materialize+rescan twin ≤~0.3s at sf0.1)
    "q_scd_dag" -> ((s, dir) => {
      val work = scratchDir("graft_scd_dag", dir)
      writeOnce(s"$work/ev") {
        t(s, dir, "events")
          .filter(pmod(col("user_id"), lit(5)) === 0)
          .select("user_id", "event_type", "ts", "event_id")
          .write.mode("overwrite").parquet(s"$work/ev")
      }
      val yaml =
        s"""topics:
           |  - name: ev
           |    kind: parquet
           |    path: $work/ev
           |  - name: intervals
           |    kind: parquet
           |    sink_partitions: 4
           |operators:
           |  scd:
           |    factory: graft.streaming.ops.ScdOp
           |    sources: [ev]
           |    sinks: [intervals]
           |    config:
           |      key_col: user_id
           |      state_col: event_type
           |      timestamp_col: ts
           |      tie_col: event_id
           |""".stripMargin
      graft.streaming.Topology.parse(yaml).runBatch(s, s"$work/sinks")
      s.read.parquet(s"$work/sinks/intervals")
        .select(col("key").as("user_id"), col("state"),
          col("effective_from"), col("effective_to"),
          col("is_current"), col("n_events"))
        .orderBy("user_id", "effective_from", "state")
    }),

    // SimSearchOp through the DAG runner: streaming similarity search
    // against the FROZEN IVF corpus index, in batch mode — the last
    // headline streaming factory without a driver-gated row. Fixture
    // matches q_simsearch_ivf exactly (full embeddings corpus, queries
    // vec_id < 5, ivf_k=16 / nprobe=4 / k=5), single constant-ts
    // window (the q_neardup_dag convention), so the oracle is the
    // SAME ivfOracleSql with the constant window_start prepended — a
    // factory/runner/config-plumbing divergence from the directly
    // oracled batch path shows up as a red driver row
    "q_simsearch_dag" -> ((s, dir) => {
      val work = scratchDir("graft_simsearch_dag", dir)
      // the frozen corpus is read DIRECTLY from the sf table ("last
      // night's batch artifact" — SimSearchOp scaladoc); only the
      // query stream goes through a scratch fixture (it needs a ts)
      writeOnce(s"$work/queries") {
        t(s, dir, "embeddings").filter(col("vec_id") < 5)
          .withColumn("ts",
            lit("2024-01-01 00:00:00").cast("timestamp"))
          .write.mode("overwrite").parquet(s"$work/queries")
      }
      val yaml =
        s"""topics:
           |  - name: queries
           |    kind: parquet
           |    path: $work/queries
           |  - name: hits
           |    kind: parquet
           |    sink_partitions: 1
           |operators:
           |  simsearch:
           |    factory: graft.streaming.ops.SimSearchOp
           |    sources: [queries]
           |    sinks: [hits]
           |    config:
           |      corpus_dir: $dir/embeddings.parquet
           |      window: 1 hour
           |      k: 5
           |      ivf_k: 16
           |      nprobe: 4
           |""".stripMargin
      graft.streaming.Topology.parse(yaml).runBatch(s, s"$work/sinks")
      s.read.parquet(s"$work/sinks/hits")
        .select(col("window_start").cast("long").as("window_start"),
          col("query_id"), col("nbr_id"), col("cosine"), col("rank"))
        .orderBy("query_id", "rank")
    }),

    // NbGateOp through the DAG runner: the frozen-classifier admission
    // gate (the GPT-3/LLaMA "reference-like" data filter) with the
    // batch input itself as the frozen negative background — the
    // configuration under which the stream scores BIT-IDENTICALLY to
    // TextStats.nbQualityScore (NbGateOp scaladoc). min_score: 1.0
    // exercises the gate itself (keep docs more reference-like than
    // background); zero-token rows score 0.0 and drop at the gate.
    // Corpus capped doc_id < 500 (the whole sf0.01 oracle corpus, the
    // q_countmin_dag convention) for bench weight
    "q_nbgate_dag" -> ((s, dir) => {
      val work = scratchDir("graft_nbgate_dag", dir)
      writeOnce(s"$work/docs") {
        t(s, dir, "documents").filter(col("doc_id") < 500)
          .select("doc_id", "lang", "text")
          .write.mode("overwrite").parquet(s"$work/docs")
      }
      writeOnce(s"$work/ref") {
        t(s, dir, "documents")
          .filter(col("doc_id") < 500 && col("lang") === "en")
          .select("text")
          .write.mode("overwrite").parquet(s"$work/ref")
      }
      val yaml =
        s"""topics:
           |  - name: docs
           |    kind: parquet
           |    path: $work/docs
           |  - name: admitted
           |    kind: parquet
           |    sink_partitions: 1
           |operators:
           |  nbgate:
           |    factory: graft.streaming.ops.NbGateOp
           |    sources: [docs]
           |    sinks: [admitted]
           |    config:
           |      ref_path: $work/ref
           |      corpus_path: $work/docs
           |      top_v: 64
           |      min_score: 1.0
           |""".stripMargin
      graft.streaming.Topology.parse(yaml).runBatch(s, s"$work/sinks")
      s.read.parquet(s"$work/sinks/admitted")
        .select(col("doc_id"), col("n_tokens"), col("n_oov"),
          col("nb_score"))
        .orderBy("doc_id")
    }),

    // CountMinOp through the DAG runner: a pre-tokenized item stream
    // (constant ts -> one window, the q_neardup_dag convention) flows
    // through CountMinOp into the bounded (window_start, r, bucket,
    // cnt) cell table, and the documented batch finisher
    // (CountMinOp.estimate) answers the exact top-20 lookup. Corpus
    // capped (doc_id < 500 — still the whole sf0.01 oracle corpus)
    // and the token explode lives in the once-per-JVM scaffold, not a
    // per-run SqlOp stage: the op under test is the SKETCH, and a
    // second DAG stage doubled the twin's bench weight for semantics
    // (SqlOp) already gated elsewhere
    "q_countmin_dag" -> ((s, dir) => {
      val work = scratchDir("graft_cm_dag", dir)
      writeOnce(s"$work/items") {
        t(s, dir, "documents").filter(col("doc_id") < 500)
          .select(explode(Text.tokens(col("text"))).as("item"),
            lit("2024-01-01 00:00:00").cast("timestamp").as("ts"))
          .write.mode("overwrite").parquet(s"$work/items")
      }
      val yaml =
        s"""topics:
           |  - name: items
           |    kind: parquet
           |    path: $work/items
           |  - name: cells
           |    kind: parquet
           |    sink_partitions: 1
           |operators:
           |  sketch:
           |    factory: graft.streaming.ops.CountMinOp
           |    sources: [items]
           |    sinks: [cells]
           |    config:
           |      window: 1 hour
           |      item_col: item
           |      depth: 4
           |      width: 1024
           |""".stripMargin
      graft.streaming.Topology.parse(yaml).runBatch(s, s"$work/sinks")
      val cells = s.read.parquet(s"$work/sinks/cells")
      val toks = t(s, dir, "documents").filter(col("doc_id") < 500)
        .select(explode(Text.tokens(col("text"))).as("token"))
      val top = toks.groupBy("token")
        .agg(count(lit(1)).as("true_cnt"))
        .orderBy(desc("true_cnt"), asc("token")).limit(20)
      graft.streaming.ops.CountMinOp.estimate(cells, top, col("token"),
        depth = 4, width = 1024)
        .orderBy(desc("true_cnt"), asc("token"))
    }),

    // CardOp through the DAG runner: the streaming dataset card's
    // windowed per-(lang, source) volumes (constant ts -> one window)
    // written by Topology.runBatch. The op's ONE by-design-approximate
    // column (approx_distinct, Spark's HLL++ over content fingerprints
    // — engine-internal register layout, documented divergence from the
    // exact batch card) is dropped from the projection so every shipped
    // column is deterministic and the row oracles bit-exact
    "q_card_dag" -> ((s, dir) => {
      val work = scratchDir("graft_card_dag", dir)
      writeOnce(s"$work/docs") {
        t(s, dir, "documents")
          .select(col("doc_id"), col("text"), col("lang"),
            col("source"),
            lit("2024-01-01 00:00:00").cast("timestamp").as("ts"))
          .write.mode("overwrite").parquet(s"$work/docs")
      }
      val yaml =
        s"""topics:
           |  - name: docs
           |    kind: parquet
           |    path: $work/docs
           |  - name: card
           |    kind: parquet
           |    sink_partitions: 1
           |operators:
           |  card:
           |    factory: graft.streaming.ops.CardOp
           |    sources: [docs]
           |    sinks: [card]
           |    config:
           |      dims: lang,source
           |      window: 1 hour
           |""".stripMargin
      graft.streaming.Topology.parse(yaml).runBatch(s, s"$work/sinks")
      s.read.parquet(s"$work/sinks/card")
        .select(col("window_start").cast("long").as("window_start"),
          col("lang"), col("source"), col("n_docs"), col("n_tokens"),
          col("n_chars"), col("n_gopher_pass"))
        .orderBy("lang", "source")
    }),

    // ServeOp through the DAG runner — the reference serve.yml shape in
    // batch mode: a committed linear-model artifact (version 3,
    // yhat = 0.25·x + 2, both constants exactly double-representable)
    // published to a model topic, delivered to the factory via
    // config_topic resolution, scoring a documents feature column.
    // SQL-expressible, so the serve family gains its first oracled
    // CORRECTNESS row (batching is executor-local: batch_size only
    // groups predict() calls, never changes values)
    "q_serve_batch" -> ((s, dir) => {
      import s.implicits._
      val work = scratchDir("graft_serve_dag", dir)
      writeOnce(s"$work/features") {
        t(s, dir, "documents").filter(col("doc_id") < 400)
          .select(col("doc_id"), col("n_chars").cast("double").as("x"))
          .write.mode("overwrite").parquet(s"$work/features")
      }
      writeOnce(s"$work/model") {
        Seq(("lin", 3L,
          graft.streaming.Serve.encodeLinearModel(3L, 2.0, 0.25)))
          .toDF("name", "version", "content")
          .withColumn("published_at",
            lit("2024-01-01 00:00:00").cast("timestamp"))
          .write.mode("overwrite").parquet(s"$work/model")
      }
      val yaml =
        s"""topics:
           |  - name: features
           |    kind: parquet
           |    path: $work/features
           |  - name: model
           |    kind: parquet
           |    path: $work/model
           |  - name: scored
           |    kind: parquet
           |    sink_partitions: 4
           |operators:
           |  serve:
           |    factory: graft.streaming.ops.ServeOp
           |    sources: [features]
           |    sinks: [scored]
           |    config_topic: model
           |config:
           |  serve_input_field: x
           |  serve_output_field: yhat
           |  serve_batch_size: 16
           |""".stripMargin
      graft.streaming.Topology.parse(yaml).runBatch(s, s"$work/sinks")
      s.read.parquet(s"$work/sinks/scored")
        .select(col("doc_id"), col("x"), col("yhat"))
        .orderBy("doc_id")
    }),

    // HeavyHittersOp through the DAG runner — the windowed Misra-Gries
    // top-j over the events stream. The fixture keeps the sketch in its
    // EXACT regime by construction (5 distinct event types per hour
    // window, far below m=64, so the MG map never decrements and every
    // partial-aggregate merge keeps all keys): est_count equals the
    // exact per-(window, item) count and the sketch's (-count, key)
    // finish order is a plain SQL row_number — the q_card_dag precedent
    // of oracling a sketch op's deterministic regime bit-exact (the
    // decrementing regime stays pinned by q_heavy_hitters_oracle's
    // sequential fold replay + FreqItemsSpec)
    "q_heavyhitters_dag" -> ((s, dir) => {
      val work = scratchDir("graft_hh_dag", dir)
      writeOnce(s"$work/items") {
        // first-week cap: 168 hour-windows is full multi-window
        // coverage at a quarter of the rows (the q_countmin_dag
        // bench-weight budget for _dag twins)
        t(s, dir, "events")
          .filter(col("ts") < lit("2024-01-08").cast("timestamp"))
          .select(xxhash64(col("event_type")).as("item"), col("ts"))
          .write.mode("overwrite").parquet(s"$work/items")
      }
      val yaml =
        s"""topics:
           |  - name: items
           |    kind: parquet
           |    path: $work/items
           |  - name: hh
           |    kind: parquet
           |    sink_partitions: 1
           |operators:
           |  hh:
           |    factory: graft.streaming.ops.HeavyHittersOp
           |    sources: [items]
           |    sinks: [hh]
           |    config:
           |      window: 1 hour
           |      item_col: item
           |      m: 64
           |      top_j: 3
           |""".stripMargin
      graft.streaming.Topology.parse(yaml).runBatch(s, s"$work/sinks")
      s.read.parquet(s"$work/sinks/hh")
        .select(col("window_start").cast("long").as("window_start"),
          col("rank").cast("long").as("rank"), col("item"),
          col("est_count"))
        .orderBy("window_start", "rank")
    }),

    // skew-resistant salted join: orders ⋈ customer keyed on
    // (custkey, salt-of-orderkey) with the customer side replicated 8
    // ways — result EQUALS the plain join (the per-row salt meets
    // exactly one replica), while a hot custkey's rows spread across 8
    // tasks instead of one
    "q_salted_join" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
        .select(col("c_custkey").as("o_custkey"), col("c_mktsegment"))
      Ops.saltedJoin(o, c, Seq("o_custkey"), col("o_orderkey"), salts = 8)
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
            .as("total"))
        .orderBy("c_mktsegment")
    }),

    // which source drifted: per-source exact TVD against the whole
    // corpus's token distribution — the triage row a corpus-wide drift
    // alert links to (left join + totals closure, no per-stratum grid)
    "q_drift_by_source" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.llm.Drift.driftByStratum(docs, "source", "text", docs, "text")
        .orderBy("stratum")
    }),

    // numeric distribution drift: exact TVD between the fixed-bin value
    // histograms of purchase vs view events (32 bins over [0, 500)) —
    // the PSI-style feature-drift monitor, log-free
    "q_hist_drift" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      graft.llm.Drift.histDrift(
        ev.filter(col("event_type") === "purchase"),
        ev.filter(col("event_type") === "view"),
        col("value"), bins = 32, lo = 0.0, hi = 500.0)
    }),

    // event correlation through the stream-stream join factory in batch
    // mode: each purchase paired with the same user's views within
    // ±30 minutes (the JoinOp streaming twin buffers watermark-bounded
    // state for exactly this pairing)
    "q_interval_join" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val l = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val r = ev.filter(col("event_type") === "view")
        .select(col("event_id"), col("user_id"), col("ts"))
      graft.streaming.ops.JoinOp(Map("key_col" -> "user_id",
        "time_bound" -> "30 minutes"), Seq(l, r)).head
        .select(col("user_id"), col("event_id"), col("r_event_id"))
        .orderBy("user_id", "event_id", "r_event_id")
    })
  )

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for the xxhash64-based approximate
    * ops without a DuckDB analogue (driver records a rows-only check;
    * ScalaTest pins semantics): the HLL/Distogram/Misra-Gries sketches
    * (engine-internal layouts) and the distributed k-means refit
    * (double-sum reduction order). Everything else IS oracled — the
    * OracleXxh prologue replicates Spark's XXH64 inside DuckDB for the
    * minhash/simhash/RHP-LSH/winnow/rolling-fp family, and the IVF
    * quantizer's sequential training replays in SQL (ivfOracleSql). */
  // mixed-media feature replay shared by q_media_features (mime
  // routing) and q_magic_features (magic-byte routing): doc_id mod 3
  // picks the modality, each branch recomputes its generator + feature
  // arithmetic (the three single-modality oracles, filtered + unioned)
  private val mediaFeaturesOracleSql: String =
    """WITH ipx AS (
          |  SELECT doc_id, p,
          |         ((doc_id * 31 + (p * 3) * 7) % 251) AS r,
          |         ((doc_id * 31 + (p * 3 + 1) * 7) % 251) AS g,
          |         ((doc_id * 31 + (p * 3 + 2) * 7) % 251) AS b
          |  FROM documents, unnest(generate_series(0, 47)) AS t(p)
          |  WHERE doc_id % 3 = 0),
          |img AS (
          |  SELECT doc_id, 'image' AS modality,
          |         8 AS d1, 6 AS d2, 1 AS d3, 8 AS n_feats,
          |         CAST(CAST(sum(r) AS DOUBLE) / 48 / 255 AS FLOAT) AS f0,
          |         CAST(CAST(sum(g) AS DOUBLE) / 48 / 255 AS FLOAT) AS f1,
          |         CAST(CAST(sum(b) AS DOUBLE) / 48 / 255 AS FLOAT) AS f2,
          |         CAST(CAST(sum(299 * r + 587 * g + 114 * b) AS DOUBLE)
          |           / 1000.0 / 48 / 255 AS FLOAT) AS f3
          |  FROM ipx GROUP BY doc_id),
          |asm AS (
          |  SELECT doc_id, j,
          |         ((doc_id * 31 + j * 7) % 65521) - 32760 AS v
          |  FROM documents, unnest(generate_series(0, 63)) AS t(j)
          |  WHERE doc_id % 3 = 1),
          |aud AS (
          |  SELECT doc_id, 'audio' AS modality,
          |         16000 AS d1, 64 AS d2, 1 AS d3, 4 AS n_feats,
          |         CAST(CAST(sum(v) AS DOUBLE) / 64 / 32768.0 AS FLOAT)
          |           AS f0,
          |         CAST(sqrt(CAST(sum(v * v) AS DOUBLE) / 64) / 32768.0
          |           AS FLOAT) AS f1,
          |         CAST(CAST(sum(CASE WHEN j > 0 AND
          |             ((((doc_id * 31 + (j - 1) * 7) % 65521) - 32760
          |               < 0) <> (v < 0)) THEN 1 ELSE 0 END) AS DOUBLE)
          |           / 63 AS FLOAT) AS f2,
          |         CAST(CAST(max(abs(v)) AS DOUBLE) / 32768.0 AS FLOAT)
          |           AS f3
          |  FROM asm GROUP BY doc_id),
          |vsm AS (
          |  SELECT doc_id, f, j,
          |         ((doc_id * 31 + f * 101 + j * 7) % 251) AS v
          |  FROM documents, unnest(generate_series(0, 5)) AS tf(f),
          |       unnest(generate_series(0, 47)) AS tj(j)
          |  WHERE doc_id % 3 = 2),
          |vid AS (
          |  SELECT doc_id, 'video' AS modality,
          |         4 AS d1, 4 AS d2, 6 AS d3, 4 AS n_feats,
          |         CAST(CAST(sum(CASE WHEN j < 16 THEN v END) AS DOUBLE)
          |           / 96 / 255.0 AS FLOAT) AS f0,
          |         CAST(CAST(sum(CASE WHEN j >= 16 AND j < 32 THEN v END)
          |           AS DOUBLE) / 96 / 255.0 AS FLOAT) AS f1,
          |         CAST(CAST(sum(CASE WHEN j >= 32 THEN v END) AS DOUBLE)
          |           / 96 / 255.0 AS FLOAT) AS f2,
          |         CAST(CAST(sum(CASE WHEN f > 0 THEN abs(v -
          |             ((doc_id * 31 + (f - 1) * 101 + j * 7) % 251))
          |           ELSE 0 END) AS DOUBLE) / 240 / 255.0 AS FLOAT) AS f3
          |  FROM vsm GROUP BY doc_id)
          |SELECT doc_id, modality, d1::INTEGER AS d1, d2::INTEGER AS d2,
          |       d3::INTEGER AS d3, n_feats::INTEGER AS n_feats,
          |       f0, f1, f2, f3
          |FROM (SELECT * FROM img UNION ALL SELECT * FROM aud
          |      UNION ALL SELECT * FROM vid)
          |ORDER BY doc_id""".stripMargin

  /** Oracles whose CTE chains need 256MB–>1GB in DuckDB 1.0 because the
    * engine INLINES multi-referenced CTEs — every reference
    * re-instantiates the entire upstream subtree, so a chain like
    * res→asgc→cd each referenced twice multiplies the whole plan (the
    * round-9 driver OOM: q_pq_ivf_residual failed to allocate 260KB on
    * a 500-row input because its inlined plan needed a 256MB floor).
    * These get every CTE rewritten `AS MATERIALIZED` at emission
    * time: compute once, store the (tiny at oracle scale)
    * intermediate. Row-sorted results verified identical for all 22 at
    * sf0.01; memory floors drop to 32–128MB. Applied ONLY to this
    * allowlist — materializing a single-reference CTE can cost more
    * than streaming it, so the cheap default stays inlining. */
  private[graft] val MaterializedCteOracles: Set[String] = Set(
    "q_adjacent_drift", "q_ann_mrr", "q_ann_recall", "q_dup_coverage",
    "q_embed_against", "q_embed_neardup_lsh", "q_hits", "q_kmeans_fit",
    "q_minhash_dedup", "q_pagerank", "q_pagerank_docs",
    "q_pagerank_seeded", "q_pipeline_dedup", "q_pipeline_ingest",
    "q_pq_ivf_residual", "q_pq_search", "q_profile_delta",
    "q_nbgate_dag",
    "q_quality_checks", "q_quality_nb", "q_quantile_by_key",
    "q_resample",
    "q_scd2", "q_semantic_dedup_far", "q_simsearch_dag",
    "q_simsearch_ivf", "q_simsearch_lsh", "q_trim_spans")

  // a CTE definition is the only place `<ident> AS (` appears in these
  // oracles (derived-table aliases are `AS t(cols)` — ident AFTER the
  // AS — and window/aggregate parens never follow a bare ident + AS)
  private val CteDef = """\b([A-Za-z_][A-Za-z0-9_]*) AS \(""".r
  private def materializeCtes(sql: String): String =
    CteDef.replaceAllIn(sql, m => m.group(1) + " AS MATERIALIZED (")

  def oracleSql: Map[String, String] = rawOracleSql.map { case (k, v) =>
    if (MaterializedCteOracles(k)) k -> materializeCtes(v) else k -> v
  }

  /** SCD2 interval replay (lag-change flags → run ids → per-run
    * min/count → lead() closes each interval), parameterized over an
    * events filter so q_scd2 (full table) and q_scd_dag (the capped
    * ScdOp-through-the-runner twin) share one SQL body. */
  private def scd2Sql(whereSql: String): String =
    s"""WITH b AS (SELECT user_id AS key, ts AS ord,
       |    event_id AS tie, event_type AS state FROM events
       |  WHERE $whereSql),
       |c AS (SELECT *, CASE WHEN lag(state) OVER
       |    (PARTITION BY key ORDER BY ord, tie)
       |    IS NOT DISTINCT FROM state THEN 0 ELSE 1 END AS chg
       |  FROM b),
       |r AS (SELECT *, sum(chg) OVER (PARTITION BY key
       |    ORDER BY ord, tie) AS run FROM c),
       |g AS (SELECT key, run, state, min(ord) AS effective_from,
       |    count(*)::BIGINT AS n_events
       |  FROM r GROUP BY key, run, state),
       |iv AS (SELECT key, state, effective_from, n_events,
       |    lead(effective_from) OVER (PARTITION BY key
       |      ORDER BY run) AS effective_to
       |  FROM g)
       |SELECT key AS user_id, state, effective_from, effective_to,
       |  effective_to IS NULL AS is_current, n_events
       |FROM iv ORDER BY user_id, effective_from, state""".stripMargin

  private def rawOracleSql: Map[String, String] = {
    val allStops = sqlList(
      Text.stopwords.values.flatten.toSeq.distinct.sorted)
    val langs = Text.stopwords.keys.toSeq.sorted // de, en, es, fr
    val hitCols = langs.map { l =>
      s"len(list_filter(ts, t -> list_contains(${sqlList(Text.stopwords(l))}, t))) AS h_$l"
    }.mkString(",\n        ")

    val base = Map(
      "q_roll_mean" ->
        """SELECT CAST(floor(event_id / 3) AS BIGINT) AS window_id,
          |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS mean
          |FROM events GROUP BY 1 HAVING count(*) = 3 ORDER BY window_id""".stripMargin,

      "q_roll_keyed" ->
        """WITH numbered AS (
          |  SELECT user_id, value,
          |         row_number() OVER (PARTITION BY user_id ORDER BY event_id) - 1 AS i
          |  FROM events)
          |SELECT user_id, CAST(floor(i / 5) AS BIGINT) AS window_id,
          |       count(*) AS n,
          |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
          |FROM numbered GROUP BY 1, 2 HAVING count(*) = 5
          |ORDER BY user_id, window_id""".stripMargin,

      // sliding w=4 s=2: row i -> windows [ceil((i-3)/2), floor(i/2)]
      // ∩ [0,∞); a window with exactly 4 rows is precisely a complete
      // one (trailing partials have < w rows)
      "q_roll_sliding" ->
        """WITH numbered AS (
          |  SELECT user_id, value,
          |         row_number() OVER (PARTITION BY user_id ORDER BY event_id) - 1 AS i
          |  FROM events),
          |expanded AS (
          |  SELECT user_id, value, unnest(generate_series(
          |      greatest(CAST(ceil((i - 3) / 2.0) AS BIGINT), 0),
          |      CAST(floor(i / 2.0) AS BIGINT))) AS window_id
          |  FROM numbered)
          |SELECT user_id, window_id, count(*) AS n,
          |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
          |FROM expanded GROUP BY 1, 2 HAVING count(*) = 4
          |ORDER BY user_id, window_id""".stripMargin,

      "q_map_multiply" ->
        "SELECT event_id, value * 3 AS multiplied FROM events ORDER BY event_id",

      "q_filter" ->
        """SELECT event_id, user_id, value FROM events
          |WHERE event_type = 'purchase' AND value > 100 ORDER BY event_id""".stripMargin,

      "q_flatmap" ->
        s"""SELECT t AS token, count(*) AS n
           |FROM (SELECT unnest($toksSql) AS t FROM documents)
           |GROUP BY 1 ORDER BY token""".stripMargin,

      "q_scan_cumsum" ->
        """SELECT event_id, user_id,
          |       CAST(sum(CAST(value AS DECIMAL(18,2)))
          |         OVER (PARTITION BY user_id ORDER BY ts, event_id
          |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          |         AS DOUBLE) AS cum
          |FROM events ORDER BY event_id""".stripMargin,

      "q_distinct" ->
        """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
          |ORDER BY 1, 2""".stripMargin,

      "q_merge" ->
        """SELECT CAST(-1 AS BIGINT) AS event_id, 'start' AS event_type
          |UNION ALL
          |SELECT event_id, event_type FROM events WHERE event_type = 'purchase'
          |UNION ALL
          |SELECT event_id, event_type FROM events WHERE event_type = 'signup'
          |ORDER BY event_id, event_type""".stripMargin,

      "q_topk" ->
        """SELECT o_orderkey, o_totalprice FROM orders
          |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin,

      "q_skip" ->
        """SELECT o_custkey, o_orderkey FROM (
          |  SELECT o_custkey, o_orderkey, row_number() OVER (
          |    PARTITION BY o_custkey ORDER BY o_orderkey) AS rn
          |  FROM orders)
          |WHERE rn > 2 ORDER BY o_custkey, o_orderkey""".stripMargin,

      "q_last_by" ->
        """SELECT user_id, event_id, value FROM (
          |  SELECT user_id, event_id, value,
          |         row_number() OVER (PARTITION BY user_id
          |           ORDER BY ts DESC, event_id DESC) AS rn
          |  FROM events)
          |WHERE rn = 1 ORDER BY user_id""".stripMargin,

      "q_sample_every" ->
        """SELECT event_id, value FROM (
          |  SELECT event_id, value,
          |         row_number() OVER (ORDER BY event_id) AS rn
          |  FROM events)
          |WHERE (rn - 1) % 10 = 0 ORDER BY event_id""".stripMargin,

      "q_with_latest" ->
        """SELECT e.event_id, e.value, o.o_orderkey
          |FROM events e CROSS JOIN
          |  (SELECT o_orderkey FROM orders
          |   ORDER BY o_orderdate DESC, o_orderkey DESC LIMIT 1) o
          |WHERE e.event_id < 100 ORDER BY e.event_id""".stripMargin,

      "q_batch" ->
        """SELECT CAST(floor(event_id / 50) AS BIGINT) AS window_id,
          |       count(*) AS n,
          |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
          |FROM events GROUP BY 1 HAVING count(*) = 50 ORDER BY window_id""".stripMargin,

      // window_id is CAST AS BIGINT: DuckDB's sum() over integers yields
      // HUGEINT (int128) — value-equal to Spark's BIGINT but a different
      // physical type, which broke the driver's hash compare in round 1.
      "q_split" ->
        """WITH seg AS (
          |  SELECT user_id,
          |         CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
          |           OVER (PARTITION BY user_id ORDER BY ts, event_id
          |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          |           AS BIGINT) AS window_id
          |  FROM events)
          |SELECT user_id, window_id, count(*) AS n FROM seg
          |GROUP BY 1, 2 ORDER BY user_id, window_id""".stripMargin,

      "q_session" ->
        """WITH flagged AS (
          |  SELECT user_id, ts, event_id,
          |         CASE WHEN lag(ts) OVER w IS NULL
          |                OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
          |              THEN 1 ELSE 0 END AS is_new
          |  FROM events
          |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
          |seg AS (
          |  SELECT user_id, ts,
          |         CAST(sum(is_new) OVER (
          |           PARTITION BY user_id ORDER BY ts, event_id
          |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          |           AS BIGINT) AS window_id
          |  FROM flagged)
          |SELECT user_id, window_id, count(*) AS n,
          |       CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start
          |FROM seg GROUP BY 1, 2 ORDER BY user_id, window_id""".stripMargin,

      "q_tumbling_hour" ->
        """SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_start,
          |       event_type, count(*) AS n,
          |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
          |FROM events GROUP BY 1, 2 ORDER BY hour_start, event_type""".stripMargin,

      "q_sliding_hour" ->
        """SELECT CAST(floor(epoch(ts) / 1800) AS BIGINT) * 1800 - k * 1800
          |         AS window_start,
          |       count(*) AS n
          |FROM events CROSS JOIN (SELECT unnest([0, 1]) AS k)
          |GROUP BY 1 ORDER BY window_start""".stripMargin,

      "q_agg" ->
        """SELECT l_returnflag, l_linestatus,
          |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
          |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
          |       count(*) AS n
          |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

      "q_join_revenue" ->
        """SELECT c_mktsegment,
          |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
          |                (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
          |            AS DOUBLE) AS revenue,
          |       count(*) AS n_lines
          |FROM lineitem
          |JOIN orders ON l_orderkey = o_orderkey
          |JOIN customer ON o_custkey = c_custkey
          |GROUP BY 1 ORDER BY 1""".stripMargin,

      "q_semijoin" ->
        """SELECT c_mktsegment, count(*) AS n FROM customer
          |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
          |GROUP BY 1 ORDER BY 1""".stripMargin,

      // decimal→double routes through the exact decimal STRING: Spark's
      // Decimal.toDouble (BigDecimal.doubleValue) is correctly rounded,
      // while DuckDB's direct DECIMAL→DOUBLE cast double-rounds
      // (int128→double, then ÷10^scale) — strtod on the exact digits
      // restores the correctly-rounded value
      "q_nullsafe_join" ->
        """WITH src AS (SELECT event_id,
          |    CASE WHEN event_type <> 'error'
          |      THEN CAST(floor(value / 100.0) AS BIGINT) END AS bucket
          |  FROM events),
          |a AS (SELECT event_id AS a_id, bucket AS a_bucket FROM src
          |      WHERE event_id < 500),
          |b AS (SELECT event_id AS b_id, bucket AS b_bucket FROM src
          |      WHERE event_id >= 500 AND event_id < 1500)
          |SELECT a_bucket, count(*)::BIGINT AS n_pairs
          |FROM a JOIN b ON a_bucket IS NOT DISTINCT FROM b_bucket
          |GROUP BY a_bucket ORDER BY a_bucket NULLS FIRST""".stripMargin,

      "q_tpch_q1" -> {
        def d2d(x: String) = s"CAST(CAST($x AS VARCHAR) AS DOUBLE)"
        val sumQty = "sum(CAST(l_quantity AS DECIMAL(18,2)))"
        val sumPrice = "sum(CAST(l_extendedprice AS DECIMAL(18,2)))"
        val sumDisc = "sum(CAST(l_discount AS DECIMAL(18,2)))"
        val sumDiscPrice =
          """sum(CAST(l_extendedprice AS DECIMAL(12,3)) *
            |      (CAST(1 AS DECIMAL(12,3)) -
            |       CAST(l_discount AS DECIMAL(12,3))))""".stripMargin
        val sumCharge =
          """sum(CAST(l_extendedprice AS DECIMAL(12,3)) *
            |      (CAST(1 AS DECIMAL(12,3)) -
            |       CAST(l_discount AS DECIMAL(12,3))) *
            |      (CAST(1 AS DECIMAL(12,3)) +
            |       CAST(l_tax AS DECIMAL(12,3))))""".stripMargin
        s"""SELECT l_returnflag, l_linestatus,
           |  ${d2d(sumQty)} AS sum_qty,
           |  ${d2d(sumPrice)} AS sum_base_price,
           |  ${d2d(sumDiscPrice)} AS sum_disc_price,
           |  ${d2d(sumCharge)} AS sum_charge,
           |  ${d2d(sumQty)} / count(l_quantity) AS avg_qty,
           |  ${d2d(sumPrice)} / count(l_extendedprice) AS avg_price,
           |  ${d2d(sumDisc)} / count(l_discount) AS avg_disc,
           |  count(*) AS count_order
           |FROM lineitem
           |WHERE l_shipdate <= TIMESTAMP '2001-09-01 00:00:00'
           |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
      },

      "q_tpch_q5" ->
        """SELECT n_name,
          |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
          |      (CAST(1 AS DECIMAL(18,2)) -
          |       CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
          |    AS revenue
          |FROM lineitem
          |JOIN orders ON l_orderkey = o_orderkey
          |JOIN customer ON o_custkey = c_custkey
          |JOIN supplier ON l_suppkey = s_suppkey
          |  AND c_nationkey = s_nationkey
          |JOIN nation ON s_nationkey = n_nationkey
          |JOIN region ON n_regionkey = r_regionkey
          |WHERE r_name = 'ASIA'
          |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
          |GROUP BY 1 ORDER BY revenue DESC, n_name""".stripMargin,

      "q_tpch_q3" ->
        """SELECT l_orderkey, o_orderdate, o_orderpriority,
          |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
          |      (CAST(1 AS DECIMAL(18,2)) -
          |       CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
          |    AS revenue
          |FROM lineitem
          |JOIN orders ON l_orderkey = o_orderkey
          |JOIN customer ON o_custkey = c_custkey
          |WHERE c_mktsegment = 'BUILDING'
          |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
          |  AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
          |GROUP BY 1, 2, 3
          |ORDER BY revenue DESC, o_orderdate, l_orderkey
          |LIMIT 10""".stripMargin,

      "q_tpch_q10" ->
        """SELECT c_custkey, c_name, c_acctbal, n_name,
          |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
          |      (CAST(1 AS DECIMAL(18,2)) -
          |       CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
          |    AS revenue
          |FROM lineitem
          |JOIN orders ON l_orderkey = o_orderkey
          |JOIN customer ON o_custkey = c_custkey
          |JOIN nation ON c_nationkey = n_nationkey
          |WHERE l_returnflag = 'R'
          |  AND o_orderdate >= TIMESTAMP '1995-10-01 00:00:00'
          |  AND o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
          |GROUP BY 1, 2, 3, 4
          |ORDER BY revenue DESC, c_custkey
          |LIMIT 20""".stripMargin,

      "q_tpch_q18" ->
        """WITH big AS (
          |  SELECT l_orderkey,
          |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
          |      AS total_qty
          |  FROM lineitem GROUP BY 1
          |  HAVING CAST(sum(CAST(l_quantity AS DECIMAL(18,2)))
          |    AS DOUBLE) > 150.0)
          |SELECT c_name, c_custkey, o_orderkey, o_orderdate,
          |  o_totalprice, total_qty
          |FROM orders
          |JOIN big ON o_orderkey = l_orderkey
          |JOIN customer ON o_custkey = c_custkey
          |ORDER BY o_totalprice DESC, o_orderkey
          |LIMIT 100""".stripMargin,

      "q_antijoin" ->
        """SELECT c_custkey, c_mktsegment FROM customer
          |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
          |ORDER BY c_custkey""".stripMargin,

      "q_intersect" ->
        """SELECT c_nationkey AS nk FROM customer
          |INTERSECT
          |SELECT s_nationkey AS nk FROM supplier ORDER BY nk""".stripMargin,

      "q_except" ->
        """SELECT c_nationkey AS nk FROM customer
          |EXCEPT
          |SELECT s_nationkey AS nk FROM supplier ORDER BY nk""".stripMargin,

      "q_repetition" ->
        s"""WITH toks AS (SELECT doc_id, $toksSql AS ts FROM documents),
           |cnt AS (
           |  SELECT doc_id, t, count(*) AS c
           |  FROM (SELECT doc_id, unnest(ts) AS t FROM toks)
           |  GROUP BY 1, 2)
           |SELECT doc_id,
           |       CAST(sum(c) AS BIGINT) AS n_tokens,
           |       count(*) AS n_distinct,
           |       CAST(max(c) AS BIGINT) AS top_freq,
           |       CAST(max(c) AS DOUBLE) / CAST(sum(c) AS BIGINT)
           |         AS rep_ratio,
           |       CAST(count(*) AS DOUBLE) / CAST(sum(c) AS BIGINT)
           |         AS distinct_ratio
           |FROM cnt GROUP BY doc_id ORDER BY doc_id""".stripMargin,

      "q_unigram_lik" ->
        s"""WITH toks AS (
           |  SELECT doc_id, unnest($toksSql) AS t FROM documents),
           |vocab AS (
           |  SELECT t, count(*) AS c FROM toks GROUP BY 1
           |  ORDER BY c DESC, t ASC LIMIT 64),
           |totals AS (
           |  SELECT CAST(sum(c) AS BIGINT) AS ctot,
           |         count(*) AS v FROM vocab)
           |SELECT doc_id,
           |       count(*) AS n_tokens,
           |       CAST(sum(CASE WHEN vocab.c IS NULL THEN 1 ELSE 0 END)
           |            AS BIGINT) AS n_oov,
           |       CAST(sum(coalesce(vocab.c, 0) + 1) AS BIGINT)
           |         / (count(*) * (max(totals.ctot) + max(totals.v)))
           |         AS score
           |FROM toks LEFT JOIN vocab USING (t) CROSS JOIN totals
           |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

      "q_bigram_lik" ->
        s"""${bigramLikSql(64, 256)}
           |ORDER BY doc_id""".stripMargin,

      // Kneser-Ney replay: same retained-table statistics, the exact
      // rational term [max(4cb-3,0)(Nbb+Vc) + 3·f1·(p2+1)] /
      // [4·c1·(Nbb+Vc)] in HUGEINT, one double division, fixed-point
      // mean — the bigramLikSql discipline with discounting
      "q_kn_bigram" ->
        s"""WITH toks AS (
           |  SELECT doc_id, $toksSql AS ts FROM documents),
           |pairs AS (
           |  SELECT doc_id,
           |         unnest(list_transform(ts[1:len(ts)-1],
           |           (x, i) -> {'w1': x, 'w2': ts[i+1]}),
           |           recursive := true)
           |  FROM toks WHERE len(ts) >= 2),
           |bigrams AS MATERIALIZED (
           |  SELECT w1, w2, count(*)::HUGEINT AS cb FROM pairs
           |  GROUP BY 1, 2
           |  ORDER BY cb DESC, w1 ASC, w2 ASC LIMIT 256),
           |w1s AS MATERIALIZED (
           |  SELECT w1, sum(cb)::HUGEINT AS c1, count(*)::HUGEINT AS f1
           |  FROM bigrams GROUP BY 1),
           |w2s AS MATERIALIZED (
           |  SELECT w2, count(*)::HUGEINT AS p2 FROM bigrams GROUP BY 1),
           |tot AS MATERIALIZED (
           |  SELECT count(*)::HUGEINT AS nbb,
           |         count(DISTINCT w2)::HUGEINT AS vc FROM bigrams)
           |SELECT doc_id,
           |       count(*) AS n_bigrams,
           |       CAST(sum(CASE WHEN w1s.c1 IS NULL THEN 1 ELSE 0 END)
           |            AS BIGINT) AS n_unseen,
           |       CAST(CAST(sum(CAST(floor(
           |         (CASE WHEN w1s.c1 IS NOT NULL THEN
           |            CAST(greatest(4 * coalesce(bigrams.cb, 0) - 3, 0)
           |                   * (tot.nbb + tot.vc)
           |                 + 3 * w1s.f1 * (coalesce(w2s.p2, 0) + 1)
           |                 AS DOUBLE)
           |            / CAST(4 * w1s.c1 * (tot.nbb + tot.vc) AS DOUBLE)
           |          ELSE
           |            CAST(coalesce(w2s.p2, 0) + 1 AS DOUBLE)
           |            / CAST(tot.nbb + tot.vc AS DOUBLE)
           |          END) * 1e15) AS BIGINT)) AS HUGEINT) AS DOUBLE)
           |         / count(*) / 1e15 AS score
           |FROM pairs LEFT JOIN bigrams USING (w1, w2)
           |           LEFT JOIN w1s USING (w1)
           |           LEFT JOIN w2s USING (w2)
           |           CROSS JOIN tot
           |GROUP BY doc_id
           |ORDER BY doc_id""".stripMargin,

      "q_lm_buckets" ->
        s"""WITH scored AS (
           |${bigramLikSql(64, 256)}),
           |ranked AS (
           |  SELECT doc_id, score,
           |         row_number() OVER (ORDER BY score DESC, doc_id ASC)
           |           AS rank,
           |         count(*) OVER () AS nt
           |  FROM scored)
           |SELECT doc_id, score, rank,
           |       CAST(((rank - 1) * 3) // nt AS INT) AS bucket
           |FROM ranked ORDER BY rank""".stripMargin,

      "q_contamination" ->
        s"""WITH toks AS (SELECT doc_id, $toksSql AS ts FROM documents),
           |sets AS (
           |  SELECT doc_id, list_distinct(list_transform(
           |    generate_series(1, greatest(len(ts) - 2, 0)),
           |    i -> array_to_string(list_slice(ts, i, i + 2), ' '))) AS sh
           |  FROM toks WHERE len(ts) >= 3),
           |e AS (SELECT doc_id, unnest(sh) AS s FROM sets),
           |b AS (SELECT DISTINCT s FROM e WHERE doc_id % 17 = 0)
           |SELECT e.doc_id, count(*) AS n_shared
           |FROM e JOIN b USING (s)
           |WHERE e.doc_id % 17 <> 0
           |GROUP BY 1 HAVING count(*) >= 3 ORDER BY doc_id""".stripMargin,

      // bloom path: FP-free at these scales (deterministic for fixed
      // data), so the oracle IS the exact-contamination query
      "q_contamination_bloom" ->
        s"""WITH toks AS (SELECT doc_id, $toksSql AS ts FROM documents),
           |sets AS (
           |  SELECT doc_id, list_distinct(list_transform(
           |    generate_series(1, greatest(len(ts) - 2, 0)),
           |    i -> array_to_string(list_slice(ts, i, i + 2), ' '))) AS sh
           |  FROM toks WHERE len(ts) >= 3),
           |e AS (SELECT doc_id, unnest(sh) AS s FROM sets),
           |b AS (SELECT DISTINCT s FROM e WHERE doc_id % 17 = 0)
           |SELECT e.doc_id, count(*) AS n_shared
           |FROM e JOIN b USING (s)
           |WHERE e.doc_id % 17 <> 0
           |GROUP BY 1 HAVING count(*) >= 3 ORDER BY doc_id""".stripMargin,

      // exact correlation: decimal moments on both sides, then the SAME
      // double formula text — bit-identical (exactVarSamp's rule)
      "q_corr" ->
        """WITH m AS (
          |  SELECT event_type,
          |         CAST(count(value) AS DOUBLE) AS nn,
          |         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sx,
          |         CAST(sum(CAST(user_id AS DECIMAL(18,0))) AS DOUBLE) AS sy,
          |         CAST(sum(CAST(CAST(value AS DECIMAL(18,2))
          |           * CAST(user_id AS DECIMAL(18,0)) AS DECIMAL(38,2)))
          |           AS DOUBLE) AS sxy,
          |         CAST(sum(CAST(CAST(value AS DECIMAL(18,2))
          |           * CAST(value AS DECIMAL(18,2)) AS DECIMAL(38,4)))
          |           AS DOUBLE) AS sxx,
          |         CAST(sum(CAST(CAST(user_id AS DECIMAL(18,0))
          |           * CAST(user_id AS DECIMAL(18,0)) AS DECIMAL(38,0)))
          |           AS DOUBLE) AS syy,
          |         count(*) AS cnt
          |  FROM events GROUP BY event_type)
          |SELECT event_type,
          |       (nn * sxy - sx * sy)
          |         / sqrt((nn * sxx - sx * sx) * (nn * syy - sy * sy))
          |         AS corr_vu,
          |       cnt AS n
          |FROM m ORDER BY event_type""".stripMargin,

      "q_rolling_time" ->
        """SELECT user_id, event_id,
          |       CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE)
          |         AS trailing_sum,
          |       count(value) OVER w AS trailing_n
          |FROM events WHERE user_id < 30
          |WINDOW w AS (PARTITION BY user_id
          |  ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
          |  RANGE BETWEEN 1800 PRECEDING AND CURRENT ROW)
          |ORDER BY user_id, event_id""".stripMargin,

      "q_detrend" ->
        """SELECT user_id, event_id, value,
          |  CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE)
          |    / CAST(count(value) OVER w AS DOUBLE) AS trend,
          |  value -
          |  CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE)
          |    / CAST(count(value) OVER w AS DOUBLE) AS residual
          |FROM events WHERE user_id < 30
          |WINDOW w AS (PARTITION BY user_id
          |  ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
          |  RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
          |ORDER BY user_id, event_id""".stripMargin,

      "q_pack_sequences" ->
        """WITH sh AS (
          |  SELECT doc_id, n_chars AS cost,
          |         (((doc_id % 2147483647) * 48271) % 2147483647) % 8
          |           AS shard
          |  FROM documents),
          |cum AS (
          |  SELECT doc_id, cost, shard,
          |         CAST(sum(cost) OVER (PARTITION BY shard
          |           ORDER BY doc_id) - cost AS BIGINT) AS s
          |  FROM sh)
          |SELECT doc_id, cost, shard,
          |       CAST(floor(s / 4096) AS BIGINT) AS seq_id,
          |       s % 4096 AS seq_offset
          |FROM cum ORDER BY doc_id""".stripMargin,

      "q_pack_bpe" ->
        s"""WITH RECURSIVE ${Bpe.oracleCtes(toksSql)},
           |sized AS (
           |  SELECT d.doc_id, coalesce(len(b.ids), 0) AS cost
           |  FROM documents d LEFT JOIN bpe_doc b USING (doc_id)),
           |sh AS (
           |  SELECT doc_id, cost,
           |         (((doc_id % 2147483647) * 48271) % 2147483647) % 8
           |           AS shard
           |  FROM sized),
           |cum AS (
           |  SELECT doc_id, cost, shard,
           |         CAST(sum(cost) OVER (PARTITION BY shard
           |           ORDER BY doc_id) - cost AS BIGINT) AS s
           |  FROM sh)
           |SELECT doc_id, cost, shard,
           |       CAST(floor(s / 512) AS BIGINT) AS seq_id,
           |       s % 512 AS seq_offset
           |FROM cum ORDER BY doc_id""".stripMargin,

      "q_top_per_key" ->
        """SELECT event_type, event_id, value, rank FROM (
          |  SELECT event_type, event_id, value,
          |         row_number() OVER (PARTITION BY event_type
          |           ORDER BY value DESC, event_id) AS rank
          |  FROM events)
          |WHERE rank <= 3 ORDER BY event_type, rank""".stripMargin,

      "q_window_rank" ->
        """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
          |  SELECT o_custkey, o_orderkey, o_totalprice,
          |         row_number() OVER (PARTITION BY o_custkey
          |           ORDER BY o_totalprice DESC, o_orderkey) AS rn
          |  FROM orders)
          |WHERE rn <= 2 ORDER BY o_custkey, rn""".stripMargin,

      // ntile cast to BIGINT on both sides (DuckDB ntile yields BIGINT,
      // Spark INT)
      "q_lag_lead" ->
        """SELECT user_id, event_id,
          |       lag(event_id, 1) OVER w AS prev_event,
          |       lead(event_id, 1) OVER w AS next_event,
          |       CAST(ntile(4) OVER w AS BIGINT) AS quartile
          |FROM events WHERE user_id < 20
          |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
          |ORDER BY user_id, event_id""".stripMargin,

      "q_dedup_rows" ->
        """SELECT user_id, event_type,
          |       min(event_id) AS event_id,
          |       arg_min(value, event_id) AS value
          |FROM events GROUP BY 1, 2 ORDER BY user_id, event_type""".stripMargin,

      "q_asof" ->
        """SELECT event_id, user_id, o_orderkey, o_totalprice FROM (
          |  SELECT e.event_id, e.user_id, o.o_orderkey, o.o_totalprice,
          |         row_number() OVER (PARTITION BY e.event_id
          |           ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
          |  FROM events e LEFT JOIN orders o
          |    ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts)
          |WHERE rn = 1 ORDER BY event_id""".stripMargin,

      "q_range_join" ->
        """SELECT a.user_id, a.event_id AS id_a, b.event_id AS id_b
          |FROM events a JOIN events b
          |  ON a.user_id = b.user_id AND a.event_id < b.event_id
          | AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 5 MINUTE
          |ORDER BY a.user_id, id_a, id_b""".stripMargin,

      "q_rollup" ->
        """SELECT l_returnflag, l_linestatus, count(*) AS n,
          |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
          |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
          |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,

      "q_cube" ->
        """SELECT o_orderstatus, o_orderpriority, count(*) AS n
          |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
          |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,

      "q_unpivot" ->
        """SELECT l_orderkey, l_linenumber, measure, value FROM (
          |  SELECT l_orderkey, l_linenumber,
          |    'l_quantity' AS measure, l_quantity AS value
          |  FROM lineitem
          |  UNION ALL SELECT l_orderkey, l_linenumber,
          |    'l_extendedprice', l_extendedprice FROM lineitem
          |  UNION ALL SELECT l_orderkey, l_linenumber,
          |    'l_discount', l_discount FROM lineitem
          |  UNION ALL SELECT l_orderkey, l_linenumber,
          |    'l_tax', l_tax FROM lineitem) u
          |WHERE l_orderkey <= 100
          |ORDER BY l_orderkey, l_linenumber, measure""".stripMargin,

      "q_grouping_sets" ->
        """SELECT o_orderstatus, o_orderpriority, count(*) AS n
          |FROM orders
          |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
          |  (o_orderstatus), ())
          |ORDER BY o_orderstatus NULLS FIRST,
          |  o_orderpriority NULLS FIRST""".stripMargin,

      "q_pivot" ->
        """SELECT user_id,
          |       CAST(sum(CASE WHEN event_type = 'click' THEN 1 END) AS BIGINT) AS click,
          |       CAST(sum(CASE WHEN event_type = 'error' THEN 1 END) AS BIGINT) AS error,
          |       CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT) AS purchase,
          |       CAST(sum(CASE WHEN event_type = 'signup' THEN 1 END) AS BIGINT) AS signup,
          |       CAST(sum(CASE WHEN event_type = 'view' THEN 1 END) AS BIGINT) AS view
          |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

      "q_stats" ->
        """SELECT event_type, count(value) AS n,
          |       min(value) AS min, max(value) AS max,
          |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum,
          |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(value) AS mean,
          |       (CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))
          |              AS DECIMAL(38,4))) AS DOUBLE)
          |        - CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
          |          * CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
          |          / CAST(count(value) AS DOUBLE))
          |       / (CAST(count(value) AS DOUBLE) - 1.0) AS var_samp,
          |       sqrt((CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))
          |              AS DECIMAL(38,4))) AS DOUBLE)
          |        - CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
          |          * CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
          |          / CAST(count(value) AS DOUBLE))
          |       / (CAST(count(value) AS DOUBLE) - 1.0)) AS stddev_samp
          |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

      "q_median" ->
        """SELECT event_type, quantile_cont(value, 0.5) AS median
          |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

      "q_histogram" ->
        """SELECT event_type,
          |       CAST(least(greatest(floor((value - 0.0) / 25.0), 0), 19) AS BIGINT)
          |         AS bucket,
          |       count(*) AS n
          |FROM events GROUP BY 1, 2 ORDER BY event_type, bucket""".stripMargin,

      "q_ewma" ->
        """SELECT user_id,
          |       list_reduce(list(value ORDER BY ts, value),
          |         (acc, x) -> 0.3 * x + 0.7 * acc) AS ewma
          |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

      // floor() mirrors Spark's truncating cast of rate*buckets
      "q_mix_sample" ->
        """WITH b AS (
          |  SELECT source,
          |         (((doc_id % 2147483647) * 48271) % 2147483647) % 10000
          |           AS bucket
          |  FROM documents)
          |SELECT source, count(*) AS n FROM b
          |WHERE bucket < CAST(floor(
          |  (CASE source WHEN 'src0' THEN 0.2 WHEN 'src1' THEN 0.5
          |               WHEN 'src2' THEN 0.0 WHEN 'src3' THEN 0.85
          |               ELSE 1.0 END) * 10000) AS BIGINT)
          |GROUP BY source ORDER BY source""".stripMargin,

      "q_sorted_merge" ->
        """SELECT CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec, event_id, value
          |FROM events
          |ORDER BY ts, event_id""".stripMargin,

      "q_ewma_scan" ->
        """SELECT user_id, event_id,
          |       list_reduce(
          |         list(value) OVER (PARTITION BY user_id
          |           ORDER BY ts, event_id
          |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
          |         (acc, x) -> 0.3 * x + 0.7 * acc) AS ewma
          |FROM events WHERE user_id < 30
          |ORDER BY user_id, event_id""".stripMargin,

      "q_scalar_subquery" ->
        """SELECT o_orderkey, o_totalprice FROM orders
          |WHERE o_totalprice > (
          |  SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
          |         / count(*) FROM orders)
          |ORDER BY o_orderkey""".stripMargin,

      "q_scalar_funcs" ->
        """SELECT doc_id,
          |       upper(substr(text, 1, 10)) AS head_up,
          |       length(text) AS len,
          |       concat_ws('|', lang, source) AS tag,
          |       coalesce(regexp_extract(text, '([a-z]+)', 1), '') AS first_word,
          |       coalesce(nullif(lang, 'en'), 'english') AS lang_or_english
          |FROM documents ORDER BY doc_id""".stripMargin,

      "q_date_funcs" ->
        """SELECT CAST(year(o_orderdate) AS INT) AS y,
          |       CAST(month(o_orderdate) AS INT) AS m,
          |       count(*) AS n,
          |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
          |FROM orders GROUP BY 1, 2 ORDER BY y, m""".stripMargin,

      "q_salted_agg" ->
        """SELECT event_type, count(*) AS n,
          |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum
          |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

      "q_json_codec" ->
        """SELECT CAST(json_extract_string(props, '$.k') AS INT) AS k,
          |       count(*) AS n
          |FROM events GROUP BY 1 ORDER BY k""".stripMargin,

      "q_string_codec" ->
        """SELECT event_type, count(*) AS n FROM events
          |GROUP BY 1 ORDER BY 1""".stripMargin,

      "q_normalize" ->
        """WITH messy AS (SELECT doc_id,
          |    '  ' || upper(text) || ' !! ' || source || '::'
          |      || doc_id::VARCHAR || '  ' AS m
          |  FROM documents),
          |n AS (SELECT doc_id,
          |    trim(regexp_replace(regexp_replace(lower(m),
          |      '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')) AS norm
          |  FROM messy)
          |SELECT doc_id, norm, substr(md5(norm), 1, 16) AS fp
          |FROM n ORDER BY doc_id""".stripMargin,

      "q_text_quality" ->
        s"""WITH toks AS (SELECT doc_id, text, $toksSql AS ts FROM documents)
           |SELECT doc_id,
           |       len(ts) AS n_tokens,
           |       CAST(list_sum(list_transform(ts, t -> len(t))) AS DOUBLE)
           |         / len(ts) AS mean_token_len,
           |       CAST(len(regexp_replace(text,
           |           '[^.,;:!?''"()\\[\\]{}-]', '', 'g')) AS DOUBLE)
           |         / len(text) AS punct_ratio,
           |       CAST(len(list_filter(ts, t -> list_contains($allStops, t)))
           |         AS DOUBLE) / len(ts) AS stopword_ratio
           |FROM toks ORDER BY doc_id""".stripMargin,

      "q_gopher_rules" ->
        s"""WITH toks AS (SELECT doc_id, $toksSql AS ts FROM documents)
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
           |FROM toks ORDER BY doc_id""".stripMargin,

      "q_langid" ->
        s"""WITH toks AS (SELECT doc_id, $toksSql AS ts FROM documents),
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
           |FROM h ORDER BY doc_id""".stripMargin,

      "q_token_bpeish" ->
        """SELECT source,
          |       CAST(sum(len(regexp_extract_all(lower(text),
          |           '[a-z0-9]+|[^a-z0-9\s]'))) AS BIGINT) AS n_tokens_bpe,
          |       count(*) AS n_docs
          |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,

      // the committed merge/vocab fixture is inlined as VALUES and the
      // greedy merge loop replayed as a recursive CTE (Bpe.oracleCtes);
      // token-less docs come back via LEFT JOIN with an empty sequence
      "q_token_bpe" ->
        s"""WITH RECURSIVE ${Bpe.oracleCtes(toksSql)}
           |SELECT d.doc_id,
           |       coalesce(len(b.ids), 0)::INTEGER AS n_tokens,
           |       coalesce(array_to_string(list_transform(b.ids,
           |           x -> CAST(x AS VARCHAR)), ' '), '') AS ids_str
           |FROM documents d LEFT JOIN bpe_doc b USING (doc_id)
           |ORDER BY doc_id""".stripMargin,

      "q_mix_budget_bpe" -> OracleXxh.q_mix_budget_bpe(
        Map("src0" -> 400L, "src1" -> 20000L, "src3" -> 900L,
          "src7" -> 1L), seed = 9, buckets = 1024,
        bpeCtes = Bpe.oracleCtes(toksSql)),

      "q_fingerprint" ->
        """SELECT doc_id,
          |       substr(md5(regexp_replace(lower(trim(text)),
          |           '\s+', ' ', 'g')), 1, 16) AS fp
          |FROM documents ORDER BY doc_id""".stripMargin,

      // IVF quantizer + probe: the driver mini-k-means is a sequential
      // deterministic loop, so all 5 Lloyd iterations replay in SQL as
      // ordered list folds — generated CTE blocks (ivfOracleSql)
      "q_simsearch_ivf" -> ivfOracleSql(k = 16, iters = 5, nProbe = 4,
        topK = 5),

      // full-corpus Lloyd refit — order-independent fixed-point sums
      // make the refit replayable with plain SQL aggregates
      "q_kmeans_fit" -> kmeansFitOracleSql(k = 8, iters = 2),

      "q_kmeans_assign" ->
        s"""WITH cents AS (
           |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
           |         embedding AS cv
           |  FROM embeddings ORDER BY vec_id LIMIT 8),
           |d AS (SELECT e.vec_id, c.cell,
           |  list_reduce(list_prepend(0.0,
           |    list_transform(list_zip(e.embedding, c.cv),
           |      x -> (x[1]::DOUBLE - x[2]::DOUBLE)
           |         * (x[1]::DOUBLE - x[2]::DOUBLE))),
           |    (a, y) -> a + y) AS dist
           |  FROM embeddings e CROSS JOIN cents c),
           |asg AS (SELECT vec_id, cell, row_number() OVER (
           |          PARTITION BY vec_id ORDER BY dist, cell) AS rn
           |        FROM d)
           |SELECT vec_id, cell FROM asg WHERE rn = 1
           |ORDER BY vec_id""".stripMargin,

      // embedding drift: the q_kmeans_assign chain split into halves,
      // cell histograms through the q_token_drift numerator chain
      "q_embed_drift" ->
        s"""WITH cents AS (
           |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
           |         embedding AS cv
           |  FROM embeddings ORDER BY vec_id LIMIT 8),
           |d AS (SELECT e.vec_id, c.cell,
           |  list_reduce(list_prepend(0.0,
           |    list_transform(list_zip(e.embedding, c.cv),
           |      x -> (x[1]::DOUBLE - x[2]::DOUBLE)
           |         * (x[1]::DOUBLE - x[2]::DOUBLE))),
           |    (a, y) -> a + y) AS dist
           |  FROM embeddings e CROSS JOIN cents c),
           |asg AS (SELECT vec_id, cell, row_number() OVER (
           |          PARTITION BY vec_id ORDER BY dist, cell) AS rn
           |        FROM d),
           |cl AS (SELECT vec_id, cell FROM asg WHERE rn = 1),
           |ca AS (SELECT cell, count(*) AS cnt_a FROM cl
           |       WHERE vec_id % 2 = 0 GROUP BY 1),
           |cb AS (SELECT cell, count(*) AS cnt_b FROM cl
           |       WHERE vec_id % 2 = 1 GROUP BY 1),
           |j AS (SELECT coalesce(cnt_a, 0)::HUGEINT AS cnt_a,
           |             coalesce(cnt_b, 0)::HUGEINT AS cnt_b
           |      FROM ca FULL OUTER JOIN cb USING (cell)),
           |tot AS (SELECT sum(cnt_a) AS n_a, sum(cnt_b) AS n_b FROM j)
           |SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           |       CAST((SELECT sum(abs(cnt_a * n_b - cnt_b * n_a))
           |             FROM j, tot) AS DOUBLE) AS tvd_num,
           |       CAST((SELECT sum(abs(cnt_a * n_b - cnt_b * n_a))
           |             FROM j, tot) AS DOUBLE)
           |         / (2.0 * CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))
           |         AS tvd
           |FROM tot""".stripMargin,

      // PQ code assignment: per subspace s, the strict-< argmin over the
      // 16 seed centroids of the SLICED vectors (dims s*8+1 .. s*8+8),
      // same sequential per-dim fold as NearestCells' kernel
      "q_pq_codes" ->
        s"""WITH cents AS (
           |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
           |         embedding AS cv
           |  FROM embeddings ORDER BY vec_id LIMIT 16),
           |sp AS (SELECT s FROM unnest(generate_series(0, 7)) AS t(s)),
           |d AS (SELECT e.vec_id, sp.s, c.cell,
           |  list_reduce(list_prepend(0.0,
           |    list_transform(range(1, 9),
           |      i -> (e.embedding[sp.s*8 + i]::DOUBLE
           |              - c.cv[sp.s*8 + i]::DOUBLE)
           |         * (e.embedding[sp.s*8 + i]::DOUBLE
           |              - c.cv[sp.s*8 + i]::DOUBLE))),
           |    (a, y) -> a + y) AS dist
           |  FROM embeddings e CROSS JOIN sp CROSS JOIN cents c),
           |asg AS (SELECT vec_id, s, cell, row_number() OVER (
           |          PARTITION BY vec_id, s ORDER BY dist, cell) AS rn
           |        FROM d)
           |SELECT vec_id, CAST(s AS INT) AS s, CAST(cell AS INT) AS code
           |FROM asg WHERE rn = 1
           |ORDER BY vec_id, s""".stripMargin,

      // ADC search replay: each query's per-(subspace, cell) distance
      // table is the same `d` CTE restricted to the query rows; the
      // approximate distance folds the 8 looked-up table entries in
      // ascending subspace order (list(… ORDER BY s) → sequential
      // reduce), matching Pq.adcTopK's left-to-right aggregate
      "q_pq_search" ->
        s"""WITH cents AS (
           |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
           |         embedding AS cv
           |  FROM embeddings ORDER BY vec_id LIMIT 16),
           |sp AS (SELECT s FROM unnest(generate_series(0, 7)) AS t(s)),
           |d AS (SELECT e.vec_id, sp.s, c.cell,
           |  list_reduce(list_prepend(0.0,
           |    list_transform(range(1, 9),
           |      i -> (e.embedding[sp.s*8 + i]::DOUBLE
           |              - c.cv[sp.s*8 + i]::DOUBLE)
           |         * (e.embedding[sp.s*8 + i]::DOUBLE
           |              - c.cv[sp.s*8 + i]::DOUBLE))),
           |    (a, y) -> a + y) AS dist
           |  FROM embeddings e CROSS JOIN sp CROSS JOIN cents c),
           |asg AS (SELECT vec_id, s, cell FROM (
           |  SELECT vec_id, s, cell, row_number() OVER (
           |    PARTITION BY vec_id, s ORDER BY dist, cell) AS rn FROM d)
           |  WHERE rn = 1),
           |lk AS (
           |  SELECT dq.vec_id AS query_id, a.vec_id AS nbr_id, a.s,
           |         dq.dist AS dd
           |  FROM asg a
           |  JOIN d dq ON dq.s = a.s AND dq.cell = a.cell
           |  WHERE dq.vec_id < 5 AND dq.vec_id <> a.vec_id),
           |adc AS (
           |  SELECT query_id, nbr_id,
           |         list_reduce(list_prepend(0.0, list(dd ORDER BY s)),
           |           (acc, v) -> acc + v) AS adc_dist
           |  FROM lk GROUP BY query_id, nbr_id)
           |SELECT query_id, nbr_id, adc_dist, rank FROM (
           |  SELECT query_id, nbr_id, adc_dist, row_number() OVER (
           |    PARTITION BY query_id ORDER BY adc_dist, nbr_id) AS rank
           |  FROM adc)
           |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

      // IVF-PQ replay: coarse assignment + probe ranking reuse the
      // full-vector q_kmeans_assign fold; the PQ chain is q_pq_search's;
      // candidates are restricted to probed (query cell = corpus cell)
      "q_pq_ivf_search" ->
        s"""WITH ccents AS (
           |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
           |         embedding AS cv
           |  FROM embeddings ORDER BY vec_id LIMIT 8),
           |cd AS (SELECT e.vec_id, c.cell,
           |  list_reduce(list_prepend(0.0,
           |    list_transform(list_zip(e.embedding, c.cv),
           |      x -> (x[1]::DOUBLE - x[2]::DOUBLE)
           |         * (x[1]::DOUBLE - x[2]::DOUBLE))),
           |    (a, y) -> a + y) AS dist
           |  FROM embeddings e CROSS JOIN ccents c),
           |asgc AS (SELECT vec_id, cell FROM (
           |  SELECT vec_id, cell, row_number() OVER (
           |    PARTITION BY vec_id ORDER BY dist, cell) AS rn FROM cd)
           |  WHERE rn = 1),
           |probe AS (SELECT vec_id AS query_id, cell FROM (
           |  SELECT vec_id, cell, row_number() OVER (
           |    PARTITION BY vec_id ORDER BY dist, cell) AS rn FROM cd
           |  WHERE vec_id < 5) WHERE rn <= 2),
           |pcents AS (
           |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS pcell,
           |         embedding AS cv
           |  FROM embeddings ORDER BY vec_id LIMIT 16),
           |sp AS (SELECT s FROM unnest(generate_series(0, 7)) AS t(s)),
           |pd AS (SELECT e.vec_id, sp.s, p.pcell,
           |  list_reduce(list_prepend(0.0,
           |    list_transform(range(1, 9),
           |      i -> (e.embedding[sp.s*8 + i]::DOUBLE
           |              - p.cv[sp.s*8 + i]::DOUBLE)
           |         * (e.embedding[sp.s*8 + i]::DOUBLE
           |              - p.cv[sp.s*8 + i]::DOUBLE))),
           |    (a, y) -> a + y) AS dist
           |  FROM embeddings e CROSS JOIN sp CROSS JOIN pcents p),
           |pasg AS (SELECT vec_id, s, pcell FROM (
           |  SELECT vec_id, s, pcell, row_number() OVER (
           |    PARTITION BY vec_id, s ORDER BY dist, pcell) AS rn
           |  FROM pd) WHERE rn = 1),
           |lk AS (
           |  SELECT dq.vec_id AS query_id, a.vec_id AS nbr_id, a.s,
           |         dq.dist AS dd
           |  FROM pasg a
           |  JOIN pd dq ON dq.s = a.s AND dq.pcell = a.pcell
           |  JOIN asgc ON asgc.vec_id = a.vec_id
           |  JOIN probe ON probe.query_id = dq.vec_id
           |            AND probe.cell = asgc.cell
           |  WHERE dq.vec_id < 5 AND dq.vec_id <> a.vec_id),
           |adc AS (
           |  SELECT query_id, nbr_id,
           |         list_reduce(list_prepend(0.0, list(dd ORDER BY s)),
           |           (acc, v) -> acc + v) AS adc_dist
           |  FROM lk GROUP BY query_id, nbr_id)
           |SELECT query_id, nbr_id, adc_dist, rank FROM (
           |  SELECT query_id, nbr_id, adc_dist, row_number() OVER (
           |    PARTITION BY query_id ORDER BY adc_dist, nbr_id) AS rank
           |  FROM adc)
           |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

      // IVF-PQ with residual encoding: the q_pq_ivf_search replay with
      // res/qres CTEs — corpus codes from (vector − own-cell centroid),
      // query tables from (query − probed-cell centroid), both exact
      // double subtractions; the codebook seeds from the first 16
      // RESIDUAL vectors (trainResidual's deterministic contract)
      "q_pq_ivf_residual" ->
        s"""WITH ccents AS (
           |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
           |         embedding AS cv
           |  FROM embeddings ORDER BY vec_id LIMIT 8),
           |cd AS (SELECT e.vec_id, c.cell,
           |  list_reduce(list_prepend(0.0,
           |    list_transform(list_zip(e.embedding, c.cv),
           |      x -> (x[1]::DOUBLE - x[2]::DOUBLE)
           |         * (x[1]::DOUBLE - x[2]::DOUBLE))),
           |    (a, y) -> a + y) AS dist
           |  FROM embeddings e CROSS JOIN ccents c),
           |asgc AS (SELECT vec_id, cell FROM (
           |  SELECT vec_id, cell, row_number() OVER (
           |    PARTITION BY vec_id ORDER BY dist, cell) AS rn FROM cd)
           |  WHERE rn = 1),
           |probe AS (SELECT vec_id AS query_id, cell FROM (
           |  SELECT vec_id, cell, row_number() OVER (
           |    PARTITION BY vec_id ORDER BY dist, cell) AS rn FROM cd
           |  WHERE vec_id < 5) WHERE rn <= 2),
           |res AS (
           |  SELECT e.vec_id, a.cell,
           |         list_transform(list_zip(e.embedding, c.cv),
           |           x -> x[1]::DOUBLE - x[2]::DOUBLE) AS rv
           |  FROM embeddings e
           |  JOIN asgc a ON a.vec_id = e.vec_id
           |  JOIN ccents c ON c.cell = a.cell),
           |pcents AS (
           |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS pcell,
           |         rv AS cv
           |  FROM res ORDER BY vec_id LIMIT 16),
           |sp AS (SELECT s FROM unnest(generate_series(0, 7)) AS t(s)),
           |pd AS (SELECT r.vec_id, sp.s, p.pcell,
           |  list_reduce(list_prepend(0.0,
           |    list_transform(range(1, 9),
           |      i -> (r.rv[sp.s*8 + i] - p.cv[sp.s*8 + i])
           |         * (r.rv[sp.s*8 + i] - p.cv[sp.s*8 + i]))),
           |    (a, y) -> a + y) AS dist
           |  FROM res r CROSS JOIN sp CROSS JOIN pcents p),
           |pasg AS (SELECT vec_id, s, pcell FROM (
           |  SELECT vec_id, s, pcell, row_number() OVER (
           |    PARTITION BY vec_id, s ORDER BY dist, pcell) AS rn
           |  FROM pd) WHERE rn = 1),
           |qres AS (
           |  SELECT probe.query_id, probe.cell,
           |         list_transform(list_zip(e.embedding, c.cv),
           |           x -> x[1]::DOUBLE - x[2]::DOUBLE) AS qrv
           |  FROM probe
           |  JOIN embeddings e ON e.vec_id = probe.query_id
           |  JOIN ccents c ON c.cell = probe.cell),
           |qd AS (SELECT q.query_id, q.cell, sp.s, p.pcell,
           |  list_reduce(list_prepend(0.0,
           |    list_transform(range(1, 9),
           |      i -> (q.qrv[sp.s*8 + i] - p.cv[sp.s*8 + i])
           |         * (q.qrv[sp.s*8 + i] - p.cv[sp.s*8 + i]))),
           |    (a, y) -> a + y) AS dist
           |  FROM qres q CROSS JOIN sp CROSS JOIN pcents p),
           |lk AS (
           |  SELECT qd.query_id, a.vec_id AS nbr_id, a.s,
           |         qd.dist AS dd
           |  FROM pasg a
           |  JOIN asgc ON asgc.vec_id = a.vec_id
           |  JOIN qd ON qd.cell = asgc.cell AND qd.s = a.s
           |         AND qd.pcell = a.pcell
           |  WHERE qd.query_id <> a.vec_id),
           |adc AS (
           |  SELECT query_id, nbr_id,
           |         list_reduce(list_prepend(0.0, list(dd ORDER BY s)),
           |           (acc, v) -> acc + v) AS adc_dist
           |  FROM lk GROUP BY query_id, nbr_id)
           |SELECT query_id, nbr_id, adc_dist, rank FROM (
           |  SELECT query_id, nbr_id, adc_dist, row_number() OVER (
           |    PARTITION BY query_id ORDER BY adc_dist, nbr_id) AS rank
           |  FROM adc)
           |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

      "q_semantic_dedup" ->
        s"""WITH cents AS (
           |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
           |         embedding AS cv
           |  FROM embeddings ORDER BY vec_id LIMIT 8),
           |d AS (SELECT e.vec_id, c.cell,
           |  list_reduce(list_prepend(0.0,
           |    list_transform(list_zip(e.embedding, c.cv),
           |      x -> (x[1]::DOUBLE - x[2]::DOUBLE)
           |         * (x[1]::DOUBLE - x[2]::DOUBLE))),
           |    (a, y) -> a + y) AS dist
           |  FROM embeddings e CROSS JOIN cents c),
           |asg AS (SELECT vec_id, cell FROM (
           |  SELECT vec_id, cell, row_number() OVER (
           |    PARTITION BY vec_id ORDER BY dist, cell) AS rn FROM d)
           |  WHERE rn = 1),
           |ok AS (SELECT cell FROM asg GROUP BY cell
           |       HAVING count(*) <= 64)
           |SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.cell AS cell,
           |       ${cosSql("ea.embedding", "eb.embedding")} AS cosine
           |FROM asg a JOIN asg b ON a.cell = b.cell AND a.vec_id < b.vec_id
           |JOIN ok ON ok.cell = a.cell
           |JOIN embeddings ea ON ea.vec_id = a.vec_id
           |JOIN embeddings eb ON eb.vec_id = b.vec_id
           |WHERE ${cosSql("ea.embedding", "eb.embedding")} >= 0.45
           |ORDER BY id_a, id_b""".stripMargin,

      // far-keeper survivors: pairs + min-label transitive closure,
      // then per component the ARGMIN cosine-to-centroid (ties to the
      // smaller id) survives; unpaired rows all survive
      "q_semantic_dedup_far" ->
        s"""WITH RECURSIVE cents AS (
           |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
           |         embedding AS cv
           |  FROM embeddings ORDER BY vec_id LIMIT 8),
           |d AS (SELECT e.vec_id, c.cell,
           |  list_reduce(list_prepend(0.0,
           |    list_transform(list_zip(e.embedding, c.cv),
           |      x -> (x[1]::DOUBLE - x[2]::DOUBLE)
           |         * (x[1]::DOUBLE - x[2]::DOUBLE))),
           |    (a, y) -> a + y) AS dist
           |  FROM embeddings e CROSS JOIN cents c),
           |asg AS (SELECT vec_id, cell FROM (
           |  SELECT vec_id, cell, row_number() OVER (
           |    PARTITION BY vec_id ORDER BY dist, cell) AS rn FROM d)
           |  WHERE rn = 1),
           |ok AS (SELECT cell FROM asg GROUP BY cell
           |       HAVING count(*) <= 64),
           |prs AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
           |  FROM asg a JOIN asg b ON a.cell = b.cell
           |                       AND a.vec_id < b.vec_id
           |  JOIN ok ON ok.cell = a.cell
           |  JOIN embeddings ea ON ea.vec_id = a.vec_id
           |  JOIN embeddings eb ON eb.vec_id = b.vec_id
           |  WHERE ${cosSql("ea.embedding", "eb.embedding")} >= 0.45),
           |sym AS (SELECT id_a AS src, id_b AS dst FROM prs
           |        UNION SELECT id_b, id_a FROM prs),
           |reach(src, dst) AS (
           |  SELECT src, dst FROM sym
           |  UNION
           |  SELECT r.src, s2.dst FROM reach r
           |  JOIN sym s2 ON r.dst = s2.src),
           |comp AS (SELECT src AS id, least(src, min(dst)) AS component
           |         FROM reach GROUP BY src),
           |cc AS (SELECT asg.vec_id AS id,
           |         ${cosSql("e.embedding", "c.cv")} AS ccos
           |       FROM asg JOIN embeddings e ON e.vec_id = asg.vec_id
           |                JOIN cents c ON c.cell = asg.cell),
           |rk AS (SELECT comp.id, row_number() OVER (
           |         PARTITION BY component ORDER BY ccos, id) AS rk
           |       FROM comp JOIN cc USING (id)),
           |losers AS (SELECT id FROM rk WHERE rk > 1)
           |SELECT e.vec_id FROM embeddings e
           |LEFT JOIN losers l ON l.id = e.vec_id
           |WHERE l.id IS NULL ORDER BY vec_id""".stripMargin,

      "q_dup_spans" ->
        s"""WITH toks AS (SELECT doc_id::BIGINT AS id, $toksSql AS ts
           |             FROM documents),
           |g0 AS (SELECT id, ts, unnest(range(1, len(ts) - 6)) AS i
           |       FROM toks),
           |g AS (SELECT id, (i - 1)::BIGINT AS pos,
           |             array_to_string(ts[i:i+7], ' ') AS gram
           |      FROM g0),
           |kept AS (SELECT gram FROM g GROUP BY gram
           |         HAVING count(*) > 1 AND count(*) <= 1000),
           |m AS (SELECT a.id AS id_a, b.id AS id_b,
           |             a.pos AS pos_a, b.pos AS pos_b
           |      FROM (SELECT g.* FROM g JOIN kept USING (gram)) a
           |      JOIN (SELECT g.* FROM g JOIN kept USING (gram)) b
           |        USING (gram)
           |      WHERE a.id < b.id),
           |isl AS (SELECT id_a, id_b, pos_a, pos_b,
           |               pos_a - pos_b AS diag,
           |               pos_a - row_number() OVER (
           |                 PARTITION BY id_a, id_b, pos_a - pos_b
           |                 ORDER BY pos_a) AS grp
           |        FROM m)
           |SELECT id_a, id_b, min(pos_a) AS start_a, min(pos_b) AS start_b,
           |       count(*) + 7 AS n_tokens
           |FROM isl GROUP BY id_a, id_b, diag, grp
           |ORDER BY id_a, id_b, start_a, start_b""".stripMargin,

      "q_dup_coverage" ->
        s"""WITH toks AS (SELECT doc_id::BIGINT AS id, $toksSql AS ts
           |             FROM documents),
           |g0 AS (SELECT id, ts, unnest(range(1, len(ts) - 6)) AS i
           |       FROM toks),
           |g AS (SELECT id, (i - 1)::BIGINT AS pos,
           |             array_to_string(ts[i:i+7], ' ') AS gram
           |      FROM g0),
           |kept AS (SELECT gram FROM g GROUP BY gram
           |         HAVING count(*) > 1 AND count(*) <= 1000),
           |m AS (SELECT a.id AS id_a, b.id AS id_b,
           |             a.pos AS pos_a, b.pos AS pos_b
           |      FROM (SELECT g.* FROM g JOIN kept USING (gram)) a
           |      JOIN (SELECT g.* FROM g JOIN kept USING (gram)) b
           |        USING (gram)
           |      WHERE a.id < b.id),
           |isl AS (SELECT id_a, id_b, pos_a, pos_b,
           |               pos_a - pos_b AS diag,
           |               pos_a - row_number() OVER (
           |                 PARTITION BY id_a, id_b, pos_a - pos_b
           |                 ORDER BY pos_a) AS grp
           |        FROM m),
           |spans AS (SELECT id_a, id_b, min(pos_a) AS start_a,
           |                 min(pos_b) AS start_b,
           |                 count(*) + 7 AS n_tok
           |          FROM isl GROUP BY id_a, id_b, diag, grp),
           |iv AS (SELECT DISTINCT id, s, e FROM (
           |  SELECT id_a AS id, start_a AS s, start_a + n_tok AS e
           |  FROM spans
           |  UNION ALL
           |  SELECT id_b, start_b, start_b + n_tok FROM spans)),
           |fl AS (SELECT id, s, e,
           |         max(e) OVER (PARTITION BY id ORDER BY s, e
           |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           |           AS pmax
           |       FROM iv),
           |fc AS (SELECT id, s, e,
           |         sum(CASE WHEN pmax IS NULL OR s > pmax THEN 1
           |             ELSE 0 END) OVER (PARTITION BY id ORDER BY s, e
           |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           |           AS isl2
           |       FROM fl),
           |cov AS (SELECT id, CAST(sum(ie - st) AS BIGINT)
           |            AS n_dup_tokens FROM (
           |          SELECT id, isl2, min(s) AS st, max(e) AS ie
           |          FROM fc GROUP BY id, isl2)
           |        GROUP BY id)
           |SELECT t.id AS doc_id, len(t.ts)::BIGINT AS n_tokens,
           |       coalesce(c.n_dup_tokens, 0) AS n_dup_tokens,
           |       CASE WHEN len(t.ts) = 0 THEN 0.0
           |            ELSE CAST(coalesce(c.n_dup_tokens, 0) AS DOUBLE)
           |               / CAST(len(t.ts) AS DOUBLE) END AS dup_fraction
           |FROM toks t LEFT JOIN cov c ON c.id = t.id
           |ORDER BY doc_id""".stripMargin,

      "q_pipeline_corpus" ->
        """WITH cand AS (SELECT doc_id, lang, source,
          |    '  ' || upper(text) || '  ' || chr(9) AS raw
          |  FROM documents),
          |n AS (SELECT doc_id, lang, source,
          |    trim(regexp_replace(regexp_replace(lower(raw),
          |      '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')) AS text
          |  FROM cand),
          |reffp AS (SELECT DISTINCT
          |    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
          |  FROM documents WHERE doc_id % 7 = 0),
          |fresh AS (SELECT * FROM n
          |  WHERE md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
          |    NOT IN (SELECT fp FROM reffp)),
          |toks AS (SELECT doc_id, lang, source,
          |    list_filter(string_split(lower(trim(text)), ' '),
          |      t -> len(t) > 0) AS ts
          |  FROM fresh),
          |keep AS (SELECT * FROM toks WHERE
          |    (len(ts) BETWEEN 50 AND 100000)
          |    AND (CAST(list_sum(list_transform(ts, t -> len(t)))
          |         AS DOUBLE) / len(ts) BETWEEN 3.0 AND 10.0)
          |    AND (CAST(len(list_filter(ts,
          |         t -> regexp_matches(t, '[a-z]'))) AS DOUBLE)
          |         / len(ts) >= 0.8)
          |    AND (CAST(len(list_filter(ts, t -> contains(t, '#')
          |         OR contains(t, '...'))) AS DOUBLE) / len(ts) <= 0.1)
          |    AND (len(list_filter(ts, t -> list_contains(
          |         ['the', 'be', 'to', 'of', 'and', 'that', 'have',
          |          'with'], t))) >= 2)),
          |mixed AS (SELECT * FROM keep WHERE
          |    (((doc_id % 2147483647) * 48271) % 2147483647) % 10000 <
          |    CAST(floor((CASE source WHEN 'src0' THEN 0.5
          |                WHEN 'src1' THEN 0.25 ELSE 0.75 END) * 10000)
          |      AS BIGINT))
          |SELECT lang, count(*)::BIGINT AS n_docs,
          |       sum(len(ts))::BIGINT AS total_tokens
          |FROM mixed GROUP BY lang ORDER BY lang""".stripMargin,

      "q_pipeline_dedup" ->
        s"""WITH toks AS (SELECT doc_id::BIGINT AS id, $toksSql AS ts
           |             FROM documents),
           |g0 AS (SELECT id, ts, unnest(range(1, len(ts) - 6)) AS i
           |       FROM toks),
           |g AS (SELECT id, (i - 1)::BIGINT AS pos,
           |             array_to_string(ts[i:i+7], ' ') AS gram
           |      FROM g0),
           |kept AS (SELECT gram FROM g GROUP BY gram
           |         HAVING count(*) > 1 AND count(*) <= 1000),
           |m AS (SELECT a.id AS id_a, b.id AS id_b,
           |             a.pos AS pos_a, b.pos AS pos_b
           |      FROM (SELECT g.* FROM g JOIN kept USING (gram)) a
           |      JOIN (SELECT g.* FROM g JOIN kept USING (gram)) b
           |        USING (gram)
           |      WHERE a.id < b.id),
           |isl AS (SELECT id_a, id_b, pos_a, pos_b,
           |               pos_a - pos_b AS diag,
           |               pos_a - row_number() OVER (
           |                 PARTITION BY id_a, id_b, pos_a - pos_b
           |                 ORDER BY pos_a) AS grp
           |        FROM m),
           |spans AS (SELECT id_a, id_b, min(pos_a) AS start_a,
           |                 min(pos_b) AS start_b,
           |                 count(*) + 7 AS n_tok
           |          FROM isl GROUP BY id_a, id_b, diag, grp),
           |iv AS (SELECT DISTINCT id, s, e FROM (
           |  SELECT id_a AS id, start_a AS s, start_a + n_tok AS e
           |  FROM spans
           |  UNION ALL
           |  SELECT id_b, start_b, start_b + n_tok FROM spans)),
           |fl AS (SELECT id, s, e,
           |         max(e) OVER (PARTITION BY id ORDER BY s, e
           |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           |           AS pmax
           |       FROM iv),
           |fc AS (SELECT id, s, e,
           |         sum(CASE WHEN pmax IS NULL OR s > pmax THEN 1
           |             ELSE 0 END) OVER (PARTITION BY id ORDER BY s, e
           |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           |           AS isl2
           |       FROM fl),
           |cov AS (SELECT id, CAST(sum(ie - st) AS BIGINT)
           |            AS n_dup_tokens FROM (
           |          SELECT id, isl2, min(s) AS st, max(e) AS ie
           |          FROM fc GROUP BY id, isl2)
           |        GROUP BY id),
           |verdicts AS (SELECT t.id,
           |  (len(t.ts) BETWEEN 50 AND 100000)
           |    AND (CAST(list_sum(list_transform(t.ts, x -> len(x)))
           |         AS DOUBLE) / len(t.ts) BETWEEN 3.0 AND 10.0)
           |    AND (CAST(len(list_filter(t.ts,
           |         x -> regexp_matches(x, '[a-z]'))) AS DOUBLE)
           |         / len(t.ts) >= 0.8)
           |    AND (CAST(len(list_filter(t.ts, x -> contains(x, '#')
           |         OR contains(x, '...'))) AS DOUBLE)
           |         / len(t.ts) <= 0.1)
           |    AND (len(list_filter(t.ts, x -> list_contains(
           |         ['the', 'be', 'to', 'of', 'and', 'that', 'have',
           |          'with'], x))) >= 2) AS gk,
           |  CASE WHEN len(t.ts) = 0 THEN 0.0
           |       ELSE CAST(coalesce(c.n_dup_tokens, 0) AS DOUBLE)
           |          / CAST(len(t.ts) AS DOUBLE) END AS df
           |  FROM toks t LEFT JOIN cov c ON c.id = t.id)
           |SELECT d.lang, count(*) AS n_docs,
           |       CAST(sum(len(d.text)) AS BIGINT) AS total_chars
           |FROM documents d JOIN verdicts v ON v.id = d.doc_id
           |WHERE v.gk AND v.df <= 0.3
           |GROUP BY d.lang ORDER BY lang""".stripMargin,

      "q_tfidf" ->
        s"""WITH toks AS (SELECT doc_id, $toksSql AS ts FROM documents),
           |tf AS (SELECT doc_id, t AS term, count(*)::BIGINT AS tf
           |       FROM (SELECT doc_id, unnest(ts) AS t FROM toks)
           |       GROUP BY doc_id, t),
           |dfreq AS (SELECT term, count(*)::BIGINT AS df FROM tf
           |          GROUP BY term),
           |nd AS (SELECT count(DISTINCT doc_id)::BIGINT AS n_docs
           |       FROM documents),
           |sc AS (SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
           |              CAST(tf.tf * nd.n_docs AS DOUBLE)
           |                / CAST(dfreq.df AS DOUBLE) AS score
           |       FROM tf, dfreq, nd WHERE tf.term = dfreq.term),
           |rk AS (SELECT *, row_number() OVER (
           |         PARTITION BY doc_id
           |         ORDER BY score DESC, term) AS rank FROM sc)
           |SELECT doc_id, term, tf, df, score, rank FROM rk
           |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,

      // xxhash64-family oracles (round 4): Spark's XXH64 replicated as
      // DuckDB macros — see OracleXxh for the prologue and design notes
      "q_hll_distinct" -> OracleXxh.q_hll_distinct,

      "q_approx_distinct_oracle" -> OracleXxh.q_approx_distinct_oracle(9),
      "q_hll_intersect" -> OracleXxh.q_hll_intersect,
      "q_countmin" -> OracleXxh.q_countmin(),
      "q_fingerprint_rolling" -> OracleXxh.q_fingerprint_rolling,

      // Unicode normalization replays: the combining-acute injection
      // uses chr(769) (never a raw codepoint in the SQL artifact);
      // utf8proc (DuckDB) and the JDK Normalizer must produce
      // byte-identical normal forms per the Unicode standard
      "q_nfc_norm" ->
        """SELECT doc_id,
          |  length(regexp_replace(text, 'e', 'e' || chr(769), 'g'))
          |    ::BIGINT AS len_decomposed,
          |  length(nfc_normalize(
          |    regexp_replace(text, 'e', 'e' || chr(769), 'g')))
          |    ::BIGINT AS len_nfc,
          |  md5(nfc_normalize(
          |    regexp_replace(text, 'e', 'e' || chr(769), 'g')))
          |    AS nfc_md5
          |FROM documents ORDER BY doc_id""".stripMargin,

      "q_strip_accents" ->
        """SELECT doc_id,
          |  md5(translate(text, 'aeun', chr(225)||chr(233)||chr(252)||chr(241))) AS accented_md5,
          |  md5(strip_accents(translate(text, 'aeun', chr(225)||chr(233)||chr(252)||chr(241))))
          |    AS stripped_md5
          |FROM documents ORDER BY doc_id""".stripMargin,

      // bounded ordered MG fold, replayed as a list_reduce over the
      // same sequence — see FreqItems.orderedFold
      "q_heavy_hitters_oracle" ->
        OracleXxh.q_heavy_hitters_oracle(32, 2000, 5),

      // full BPE-learning replay: the bounded word-count table rides a
      // list_reduce as state {ws: [(symbols, count)], ms: [(a, b)]};
      // each iteration sums adjacent-pair counts, picks max by
      // (count desc, a, b) — a strict total order, so selection is
      // fold-order independent — and applies the merge left-to-right
      // non-overlapping via a pend-symbol sequential fold (the 'aaa'
      // -> [aa, a] convention). Words never collide after merges (the
      // concatenation invariant), so no re-aggregation is needed
      "q_bpe_train" ->
        s"""WITH wc AS MATERIALIZED (
           |  SELECT t, count(*)::BIGINT AS c FROM (
           |    SELECT unnest($toksSql) AS t FROM documents)
           |  GROUP BY 1 ORDER BY c DESC, t ASC LIMIT 200),
           |init AS MATERIALIZED (
           |  SELECT list({'w': list_transform(
           |            range(1, len(t)+1), i -> t[i]), 'c': c}) AS st
           |  FROM wc),
           |fold AS MATERIALIZED (SELECT list_reduce(
           |  list_prepend((SELECT st FROM init),
           |    list_transform(range(0, 30),
           |      x -> []::STRUCT(w VARCHAR[], c BIGINT)[])),
           |  (acc, e) -> list_transform([list_filter(acc, g -> g.c > 0)],
           |    ws -> list_transform([flatten(list_transform(ws,
           |        wr -> list_transform(range(1, len(wr.w)),
           |          i -> {'a': wr.w[i], 'b': wr.w[i+1], 'c': wr.c})))],
           |      ps -> CASE WHEN len(ps) = 0 THEN acc ELSE
           |        list_transform([list_distinct(list_transform(ps,
           |            x -> x.a || chr(1) || x.b))], dp ->
           |          list_transform([list_transform(dp, d ->
           |              {'a': string_split(d, chr(1))[1],
           |               'b': string_split(d, chr(1))[2],
           |               's': list_sum(list_transform(list_filter(ps,
           |                 x -> x.a || chr(1) || x.b = d), x -> x.c))})],
           |            sc -> list_transform([list_reduce(sc, (m, x) ->
           |                CASE WHEN x.s > m.s OR (x.s = m.s AND
           |                  (x.a < m.a OR (x.a = m.a AND x.b < m.b)))
           |                  THEN x ELSE m END)], bst ->
           |              list_transform(ws, wr -> {'w':
           |                 list_transform([list_reduce(
           |                   list_prepend([''],
           |                     list_transform(wr.w, s -> [s])),
           |                   (a2, el) -> CASE
           |                     WHEN a2[len(a2)] = ''
           |                       THEN a2[1:len(a2)-1] || [el[1]]
           |                     WHEN a2[len(a2)] = bst.a AND el[1] = bst.b
           |                       THEN a2[1:len(a2)-1]
           |                            || [a2[len(a2)] || el[1], '']
           |                     ELSE a2 || [el[1]]
           |                   END)], fin ->
           |                   CASE WHEN fin[len(fin)] = ''
           |                        THEN fin[1:len(fin)-1] ELSE fin END)[1],
           |                 'c': wr.c})
           |              || list_filter(acc, g -> g.c < 0)
           |              || [{'w': [bst.a, bst.b],
           |                   'c': -(len(acc) - len(ws)) - 1}]
           |            )[1])[1])[1]
           |      END)[1])[1]) AS st)
           |SELECT (-m.c - 1)::BIGINT AS m_rank,
           |       m.w[1] AS lhs, m.w[2] AS rhs
           |FROM fold, unnest(list_filter(st, x -> x.c < 0)) AS u(m)
           |ORDER BY m_rank""".stripMargin,

      // bounded ordered BHTT fold — every centroid a fixed IEEE chain
      // (one multiply per side, one add, one divide per merge), the
      // closest-pair choice pinned to FIRST minimal gap on both
      // engines (list_position/array_position)
      "q_distogram_oracle" ->
        """WITH o AS MATERIALIZED (
          |  SELECT event_type,
          |         (list(value ORDER BY event_id, value))[1:300] AS vals
          |  FROM events WHERE value IS NOT NULL AND event_id < 5000
          |  GROUP BY 1),
          |f AS MATERIALIZED (SELECT event_type,
          |  list_reduce(
          |    list_prepend([]::STRUCT(v DOUBLE, c BIGINT)[],
          |      list_transform(vals,
          |        x -> [{'v': x, 'c': NULL}]::STRUCT(v DOUBLE, c BIGINT)[])),
          |    (acc, e) -> CASE
          |      WHEN len(list_filter(acc, b -> b.v = e[1].v)) > 0
          |        THEN list_transform(acc, b -> CASE WHEN b.v = e[1].v
          |          THEN {'v': b.v, 'c': b.c + 1} ELSE b END)
          |      ELSE list_transform([
          |          list_filter(acc, b -> b.v < e[1].v)
          |          || [{'v': e[1].v, 'c': 1::BIGINT}]
          |          || list_filter(acc, b -> b.v > e[1].v)], s2 ->
          |        CASE WHEN len(s2) <= 16 THEN s2 ELSE
          |          list_transform([list_position(
          |              list_transform(range(1, len(s2)),
          |                i -> s2[i+1].v - s2[i].v),
          |              list_min(list_transform(range(1, len(s2)),
          |                i -> s2[i+1].v - s2[i].v)))], best ->
          |            s2[1:best-1]
          |            || [{'v': (s2[best].v * s2[best].c
          |                       + s2[best+1].v * s2[best+1].c)
          |                      / (s2[best].c + s2[best+1].c),
          |                 'c': s2[best].c + s2[best+1].c}]
          |            || s2[best+2:len(s2)])[1]
          |        END)[1]
          |    END) AS st
          |  FROM o)
          |SELECT event_type, t.bin::BIGINT AS bin,
          |       st[t.bin].v AS v, st[t.bin].c AS c
          |FROM f, unnest(generate_series(1, len(st))) AS t(bin)
          |ORDER BY event_type, bin""".stripMargin,
      "q_winnow" -> OracleXxh.q_winnow,
      "q_rp_project" -> OracleXxh.q_rp_project(16, 9),
      "q_dsir_scores" -> OracleXxh.q_dsir_scores(1024, "lang = 'en'"),
      "q_dsir_select" ->
        OracleXxh.q_dsir_select(1024, "lang = 'en'", 100),
      "q_bpe_roundtrip" ->
        s"""SELECT doc_id, array_to_string($toksSql, '') AS detok
           |FROM documents ORDER BY doc_id""".stripMargin,

      // rate replay: count / +,×,/,sqrt only (each correctly rounded,
      // denominator folded in stratum-name order) — bit-identical to
      // the driver-computed rates; then the q_mix_sample Lehmer filter
      "q_mix_temperature" ->
        """WITH c AS (
          |  SELECT source AS s, count(*) AS n FROM documents
          |  WHERE source IS NOT NULL GROUP BY source),
          |tot AS (SELECT sum(n) AS nn FROM c),
          |den AS (SELECT list_reduce(list_prepend(0.0,
          |          list(sqrt(n::DOUBLE) ORDER BY s)),
          |          (a, v) -> a + v) AS d
          |        FROM c),
          |r AS (SELECT s, least(1.0,
          |        (0.5 * nn::DOUBLE) * sqrt(n::DOUBLE) / d / n::DOUBLE)
          |        AS rate
          |      FROM c, tot, den)
          |SELECT d2.doc_id, d2.source
          |FROM documents d2 JOIN r ON r.s = d2.source
          |WHERE (((d2.doc_id % 2147483647) * 48271) % 2147483647) % 10000
          |      < CAST(floor(rate * 10000) AS BIGINT)
          |ORDER BY doc_id""".stripMargin,
      "q_shuffle_shards" -> OracleXxh.q_shuffle_shards(nShards = 8,
        seed = 7),
      "q_negative_sample" -> OracleXxh.q_negative_sample(
        k = 4, seed = 11, maxAnchor = 50L, coarse = 4096),
      "q_group_split" -> OracleXxh.q_group_split(
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1),
        seed = 7, buckets = 10000),
      "q_split_leakage" -> OracleXxh.q_split_leakage(
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1),
        seed = 7, buckets = 10000, threshold = 0.5),
      "q_pipeline_export" -> OracleXxh.q_pipeline_export(
        Map("src2" -> 4000L, "src5" -> 4000L, "src11" -> 100000L,
          "src17" -> 2500L), mixSeed = 5, nShards = 4, shuffleSeed = 11,
        buckets = 1024),
      "q_mix_budget" -> OracleXxh.q_mix_budget(
        Map("src0" -> 3000L, "src1" -> 100000L, "src3" -> 5000L,
          "src7" -> 1L), seed = 3, buckets = 1024),
      "q_minhash_pairs" -> OracleXxh.q_minhash_pairs,
      "q_minhash_novel" -> OracleXxh.q_minhash_novel,
      "q_band_winners" -> OracleXxh.q_band_winners,

      // merge⊕recompute equivalence: the oracle builds the UNION
      // corpus's index from scratch — the merged halves must match it
      "q_merge_band_index" -> OracleXxh.q_band_winners,
      "q_minhash_novel_verified" -> OracleXxh.q_minhash_novel_verified,
      "q_short_novel" -> OracleXxh.q_minhash_novel_policy("novel"),
      "q_short_pair" -> OracleXxh.q_minhash_novel_policy("pair"),
      "q_short_drop" -> OracleXxh.q_minhash_novel_policy("drop"),
      "q_minhash_dedup" -> OracleXxh.q_minhash_dedup,
      "q_minhash_against" -> OracleXxh.q_minhash_against,
      "q_simhash_pairs" -> OracleXxh.q_simhash_pairs,
      "q_embed_neardup_lsh" -> OracleXxh.q_embed_neardup_lsh,
      "q_embed_against" -> OracleXxh.q_embed_against,
      "q_simsearch_lsh" -> OracleXxh.q_simsearch_lsh,
      "q_multimodal_features_bytes" -> OracleXxh.q_multimodal_features_bytes,

      // real PPM decode replay: the synthetic raster generator
      // ((id*31 + j*7) mod 251, Ppm.synthetic) recomputed per channel,
      // exact BIGINT sums, then the decoder's fixed double->float
      // division chains (Ppm.features)
      "q_multimodal_features" ->
        """WITH px AS (
          |  SELECT doc_id, p,
          |         ((doc_id * 31 + (p * 3) * 7) % 251) AS r,
          |         ((doc_id * 31 + (p * 3 + 1) * 7) % 251) AS g,
          |         ((doc_id * 31 + (p * 3 + 2) * 7) % 251) AS b
          |  FROM documents, unnest(generate_series(0, 47)) AS t(p)),
          |a AS (
          |  SELECT doc_id, sum(r) AS sr, sum(g) AS sg, sum(b) AS sb,
          |         max(r) AS mr, max(g) AS mg, max(b) AS mb,
          |         sum(299 * r + 587 * g + 114 * b) AS lum,
          |         sum(abs(r - b)) AS ad
          |  FROM px GROUP BY doc_id)
          |SELECT doc_id, 8::INTEGER AS width, 6::INTEGER AS height,
          |       CAST(CAST(sr AS DOUBLE) / 48 / 255 AS FLOAT) AS f0,
          |       CAST(CAST(sg AS DOUBLE) / 48 / 255 AS FLOAT) AS f1,
          |       CAST(CAST(sb AS DOUBLE) / 48 / 255 AS FLOAT) AS f2,
          |       CAST(CAST(lum AS DOUBLE) / 1000.0 / 48 / 255 AS FLOAT)
          |         AS f3,
          |       CAST(CAST(mr AS DOUBLE) / 255 AS FLOAT) AS f4,
          |       CAST(CAST(mg AS DOUBLE) / 255 AS FLOAT) AS f5,
          |       CAST(CAST(mb AS DOUBLE) / 255 AS FLOAT) AS f6,
          |       CAST(CAST(ad AS DOUBLE) / 48 / 255 AS FLOAT) AS f7
          |FROM a ORDER BY doc_id""".stripMargin,

      // band f of 4 covers pixel rows [f*6//4, (f+1)*6//4); each frame
      // is a standalone P6 payload: header for the band height + the
      // band's raster bytes, hex-pinned end to end
      "q_ppm_frames" ->
        """WITH f AS (
          |  SELECT doc_id, f, (f * 6) // 4 AS y0, ((f + 1) * 6) // 4 AS y1
          |  FROM documents, unnest(generate_series(0, 3)) AS t(f)
          |  WHERE doc_id < 100),
          |px AS (
          |  SELECT doc_id, f, y1 - y0 AS bh,
          |         string_agg(printf('%02X',
          |             ((doc_id * 31 + j * 7) % 251)::INT),
          |           '' ORDER BY j) AS body
          |  FROM f, unnest(generate_series(0, 143)) AS t2(j)
          |  WHERE j >= y0 * 24 AND j < y1 * 24
          |  GROUP BY doc_id, f, y1 - y0)
          |SELECT doc_id, f::BIGINT AS frame_idx,
          |       hex('P6' || chr(10) || '8 ' || bh || chr(10) || '255'
          |           || chr(10)) || body AS frame_hex
          |FROM px ORDER BY doc_id, frame_idx""".stripMargin,

      // mixed-media routing replay: doc_id mod 3 picks the modality,
      // each branch recomputes its generator + feature arithmetic
      // (the three single-modality oracles, filtered and unioned)
      "q_media_features" -> mediaFeaturesOracleSql,

      // magic-byte dispatch replay: identical corpus and feature
      // arithmetic, but the engine routes by sniffModality (no mime
      // column) — so the oracle is the media oracle minus the dims,
      // which extractFeatures doesn't carry
      "q_magic_features" ->
        ("SELECT doc_id, modality, n_feats, f0, f1, f2, f3 FROM (" +
          mediaFeaturesOracleSql + ") ORDER BY doc_id"),

      // media pipeline replay: consecutive id pairs share content so
      // content dedup keeps the EVEN ids; per-modality branches
      // recompute f0/f3 for survivors and aggregate with
      // order-independent float min/max
      "q_pipeline_media" ->
        """WITH ipx AS (
          |  SELECT doc_id, p,
          |         ((doc_id * 31 + (p * 3) * 7
          |           + (doc_id // 251) * 97 * (1 + p * 3)) % 251) AS r,
          |         ((doc_id * 31 + (p * 3 + 1) * 7
          |           + (doc_id // 251) * 97 * (2 + p * 3)) % 251) AS g,
          |         ((doc_id * 31 + (p * 3 + 2) * 7
          |           + (doc_id // 251) * 97 * (3 + p * 3)) % 251) AS b
          |  FROM documents, unnest(generate_series(0, 47)) AS t(p)
          |  WHERE doc_id % 2 = 0 AND doc_id % 3 = 0),
          |idoc AS (
          |  SELECT doc_id,
          |         CAST(CAST(sum(r) AS DOUBLE) / 48 / 255 AS FLOAT) AS f0,
          |         CAST(CAST(sum(299 * r + 587 * g + 114 * b) AS DOUBLE)
          |           / 1000.0 / 48 / 255 AS FLOAT) AS f3
          |  FROM ipx GROUP BY doc_id),
          |img AS (SELECT 'image' AS modality, count(*) AS n_docs,
          |               min(f0) AS f0_min, max(f3) AS f3_max FROM idoc),
          |asm AS (
          |  SELECT doc_id, j,
          |         ((doc_id * 31 + j * 7) % 65521) - 32760 AS v
          |  FROM documents, unnest(generate_series(0, 63)) AS t(j)
          |  WHERE doc_id % 2 = 0 AND doc_id % 3 = 1),
          |adoc AS (
          |  SELECT doc_id,
          |         CAST(CAST(sum(v) AS DOUBLE) / 64 / 32768.0 AS FLOAT)
          |           AS f0,
          |         CAST(CAST(max(abs(v)) AS DOUBLE) / 32768.0 AS FLOAT)
          |           AS f3
          |  FROM asm GROUP BY doc_id),
          |aud AS (SELECT 'audio' AS modality, count(*) AS n_docs,
          |               min(f0) AS f0_min, max(f3) AS f3_max FROM adoc),
          |vsm AS (
          |  SELECT doc_id, f, j,
          |         ((doc_id * 31 + f * 101 + j * 7
          |           + (doc_id // 251) * 97 * (1 + j)) % 251) AS v
          |  FROM documents, unnest(generate_series(0, 5)) AS tf(f),
          |       unnest(generate_series(0, 47)) AS tj(j)
          |  WHERE doc_id % 2 = 0 AND doc_id % 3 = 2),
          |vdoc AS (
          |  SELECT doc_id,
          |         CAST(CAST(sum(CASE WHEN j < 16 THEN v END) AS DOUBLE)
          |           / 96 / 255.0 AS FLOAT) AS f0,
          |         CAST(CAST(sum(CASE WHEN f > 0 THEN abs(v -
          |             ((doc_id * 31 + (f - 1) * 101 + j * 7
          |               + (doc_id // 251) * 97 * (1 + j)) % 251))
          |           ELSE 0 END) AS DOUBLE) / 240 / 255.0 AS FLOAT) AS f3
          |  FROM vsm GROUP BY doc_id)
          |SELECT modality, n_docs, f0_min, f3_max FROM (
          |  SELECT * FROM img UNION ALL SELECT * FROM aud
          |  UNION ALL SELECT 'video' AS modality, count(*) AS n_docs,
          |         min(f0) AS f0_min, max(f3) AS f3_max FROM vdoc)
          |ORDER BY modality""".stripMargin,

      // y4m replay: the synthetic plane generator
      // ((id*31 + f*101 + j*7) mod 251, Y4m.synthetic) recomputed;
      // planes split by sample index (Y < 16 <= U < 32 <= V), motion =
      // mean abs frame delta; 4x4 C444, 6 frames
      "q_y4m_features" ->
        """WITH s AS (
          |  SELECT doc_id, f, j,
          |         ((doc_id * 31 + f * 101 + j * 7) % 251) AS v
          |  FROM documents, unnest(generate_series(0, 5)) AS tf(f),
          |       unnest(generate_series(0, 47)) AS tj(j)),
          |a AS (
          |  SELECT doc_id,
          |    sum(CASE WHEN j < 16 THEN v END) AS sy,
          |    sum(CASE WHEN j >= 16 AND j < 32 THEN v END) AS su,
          |    sum(CASE WHEN j >= 32 THEN v END) AS sv,
          |    sum(CASE WHEN f > 0 THEN abs(v -
          |        ((doc_id * 31 + (f - 1) * 101 + j * 7) % 251))
          |      ELSE 0 END) AS mo
          |  FROM s GROUP BY doc_id)
          |SELECT doc_id, 4::INTEGER AS width, 4::INTEGER AS height,
          |       6::INTEGER AS n_frames,
          |       CAST(CAST(sy AS DOUBLE) / 96 / 255.0 AS FLOAT) AS f0,
          |       CAST(CAST(su AS DOUBLE) / 96 / 255.0 AS FLOAT) AS f1,
          |       CAST(CAST(sv AS DOUBLE) / 96 / 255.0 AS FLOAT) AS f2,
          |       CAST(CAST(mo AS DOUBLE) / 240 / 255.0 AS FLOAT) AS f3
          |FROM a ORDER BY doc_id""".stripMargin,

      // sampled frame i of 3 is SOURCE frame 2i; each emitted clip is
      // the real muxer's single-frame form: constant header + FRAME
      // marker + the frame's raster bytes, hex-pinned end to end
      "q_y4m_frames" ->
        s"""WITH fr AS (
           |  SELECT doc_id, i * 2 AS src
           |  FROM documents, unnest(generate_series(0, 2)) AS t(i)
           |  WHERE doc_id < 100),
           |px AS (
           |  SELECT doc_id, src,
           |         string_agg(printf('%02X',
           |             ((doc_id * 31 + src * 101 + j * 7) % 251)::INT),
           |           '' ORDER BY j) AS body
           |  FROM fr, unnest(generate_series(0, 47)) AS tj(j)
           |  GROUP BY doc_id, src)
           |SELECT doc_id, src::INTEGER AS frame_idx,
           |       '${y4mHeaderHex(4, 4)}' || body AS frame_hex
           |FROM px ORDER BY doc_id, frame_idx""".stripMargin,

      // wav replay: the synthetic sample generator
      // ((id*31 + j*7) mod 65521 - 32760, Wav.synthetic) recomputed,
      // exact BIGINT sums, the decoder's fixed double->float chains
      // (sqrt is IEEE-correctly-rounded in both engines)
      "q_wav_features" ->
        """WITH sm AS (
          |  SELECT doc_id, j,
          |         ((doc_id * 31 + j * 7) % 65521) - 32760 AS v
          |  FROM documents, unnest(generate_series(0, 63)) AS t(j)),
          |a AS (
          |  SELECT doc_id, sum(v) AS sv, sum(v * v) AS sq,
          |         max(abs(v)) AS pk,
          |         sum(CASE WHEN j > 0 AND
          |               ((((doc_id * 31 + (j - 1) * 7) % 65521) - 32760
          |                 < 0) <> (v < 0)) THEN 1 ELSE 0 END) AS zc
          |  FROM sm GROUP BY doc_id)
          |SELECT doc_id, 16000::INTEGER AS sample_rate,
          |       64::INTEGER AS n_samples,
          |       CAST(CAST(sv AS DOUBLE) / 64 / 32768.0 AS FLOAT) AS f0,
          |       CAST(sqrt(CAST(sq AS DOUBLE) / 64) / 32768.0 AS FLOAT)
          |         AS f1,
          |       CAST(CAST(zc AS DOUBLE) / 63 AS FLOAT) AS f2,
          |       CAST(CAST(pk AS DOUBLE) / 32768.0 AS FLOAT) AS f3
          |FROM a ORDER BY doc_id""".stripMargin,

      // clip f of 4 covers sample frames [f*16, (f+1)*16); each clip is
      // a standalone WAV: the real encoder's constant header + the
      // slice's little-endian PCM16 bytes, hex-pinned end to end
      "q_wav_clips" ->
        s"""WITH fr AS (
           |  SELECT doc_id, f
           |  FROM documents, unnest(generate_series(0, 3)) AS t(f)
           |  WHERE doc_id < 100),
           |px AS (
           |  SELECT doc_id, f,
           |         string_agg(printf('%02X%02X', u % 256, u // 256),
           |           '' ORDER BY j) AS body
           |  FROM (SELECT doc_id, f, j,
           |          ((((((doc_id * 31 + j * 7) % 65521) - 32760)
           |            % 65536) + 65536) % 65536) AS u
           |        FROM fr, unnest(generate_series(0, 63)) AS t2(j)
           |        WHERE j >= f * 16 AND j < (f + 1) * 16) s
           |  GROUP BY doc_id, f)
           |SELECT doc_id, f::BIGINT AS clip_idx,
           |       '${wavHeaderHex(16)}' || body AS clip_hex
           |FROM px ORDER BY doc_id, clip_idx""".stripMargin,

      // nearest-neighbor 64 -> 16 frames: output frame i samples source
      // frame 4i; payload = constant 16-frame header + decimated bytes
      "q_wav_decimate" ->
        s"""WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 100),
           |px AS (
           |  SELECT doc_id,
           |         string_agg(printf('%02X%02X', u % 256, u // 256),
           |           '' ORDER BY i) AS body
           |  FROM (SELECT doc_id, i,
           |          ((((((doc_id * 31 + (i * 4) * 7) % 65521) - 32760)
           |            % 65536) + 65536) % 65536) AS u
           |        FROM d, unnest(generate_series(0, 15)) AS t(i)) s
           |  GROUP BY doc_id)
           |SELECT doc_id, 76::BIGINT AS n_bytes,
           |       '${wavHeaderHex(16)}' || body AS content_hex
           |FROM px ORDER BY doc_id""".stripMargin,

      // nearest-neighbor 8x6 -> 4x3: destination byte k maps to source
      // byte ((2*(p//4))*8 + 2*(p%4))*3 + c with p = k//3, c = k%3
      "q_ppm_resize" ->
        """WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 100),
          |px AS (
          |  SELECT doc_id,
          |         string_agg(printf('%02X',
          |             ((doc_id * 31 +
          |               ((((k // 3) // 4) * 2 * 8 + ((k // 3) % 4) * 2)
          |                 * 3 + k % 3) * 7) % 251)::INT),
          |           '' ORDER BY k) AS body
          |  FROM d, unnest(generate_series(0, 35)) AS t(k)
          |  GROUP BY doc_id)
          |SELECT doc_id, 47::BIGINT AS n_bytes,
          |       hex('P6' || chr(10) || '4 3' || chr(10) || '255'
          |           || chr(10)) || body AS content_hex
          |FROM px ORDER BY doc_id""".stripMargin,

      "q_scrub_pii" ->
        s"""SELECT doc_id, $scrubPiiSql AS scrubbed
           |FROM documents ORDER BY doc_id""".stripMargin,

      // PII detection stats: counts of the scrubber's own placeholders
      // — the same scrub expression, then split-count per category
      "q_pii_stats" ->
        s"""WITH s AS (SELECT doc_id, $scrubPiiSql AS scrubbed
           |           FROM documents)
           |SELECT doc_id,
           |  (len(string_split(scrubbed, '<EMAIL>')) - 1)::BIGINT
           |    AS n_email,
           |  (len(string_split(scrubbed, '<IP>')) - 1)::BIGINT AS n_ip,
           |  (len(string_split(scrubbed, '<NUMBER>')) - 1)::BIGINT
           |    AS n_number
           |FROM s ORDER BY doc_id""".stripMargin,

      "q_dedup_content" ->
        """SELECT min(doc_id) AS doc_id, count(*) AS n_dups
          |FROM documents
          |GROUP BY md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
          |ORDER BY doc_id""".stripMargin,

      "q_dedup_against" ->
        """WITH cand AS (
          |  SELECT doc_id, '  ' || upper(text) || '  ' AS text
          |  FROM documents),
          |reffp AS (SELECT DISTINCT substr(md5(regexp_replace(
          |    lower(trim(text)), '\s+', ' ', 'g')), 1, 16) AS fp
          |  FROM documents WHERE doc_id % 7 = 0)
          |SELECT doc_id FROM cand
          |WHERE substr(md5(regexp_replace(lower(trim(text)), '\s+', ' ',
          |    'g')), 1, 16) NOT IN (SELECT fp FROM reffp)
          |ORDER BY doc_id""".stripMargin,

      "q_paragraph_filter" ->
        """WITH d2 AS (SELECT doc_id,
          |    text || chr(10) || chr(10) || source AS text
          |  FROM documents),
          |paras AS (
          |  SELECT doc_id,
          |    unnest(list_transform(string_split(text, chr(10) || chr(10)),
          |      (x, i) -> {'idx': i - 1, 'para': x}), recursive := true)
          |  FROM d2),
          |kept AS (SELECT doc_id, idx, para FROM paras
          |  WHERE len(list_filter(string_split(lower(trim(para)), ' '),
          |    t -> len(t) > 0)) >= 5)
          |SELECT doc_id, count(*)::BIGINT AS n_paras_kept,
          |       string_agg(para, chr(10) || chr(10) ORDER BY idx) AS text
          |FROM kept GROUP BY doc_id ORDER BY doc_id""".stripMargin,

      "q_paragraph_dedup" ->
        """WITH d2 AS (
          |  SELECT d.doc_id, d.text || chr(10) || chr(10) || p.text ||
          |      CASE WHEN p.doc_id % 5 = 0
          |           THEN ' ¶ naïve café 東京' ELSE '' END AS text
          |  FROM documents d JOIN documents p ON p.doc_id = d.doc_id % 50),
          |paras AS (
          |  SELECT doc_id,
          |    unnest(list_transform(string_split(text, chr(10) || chr(10)),
          |      (x, i) -> {'idx': i - 1, 'para': x}), recursive := true)
          |  FROM d2),
          |ph AS (SELECT doc_id, idx, para, substr(md5(para), 1, 16) AS h,
          |         (doc_id * 1048576 + idx)::BIGINT AS ord
          |       FROM paras),
          |w AS (SELECT h, min(ord) AS wo FROM ph GROUP BY h),
          |kept AS (SELECT ph.* FROM ph
          |         JOIN w ON ph.h = w.h AND ph.ord = w.wo)
          |SELECT doc_id, count(*)::BIGINT AS n_paras_kept,
          |       string_agg(para, chr(10) || chr(10) ORDER BY idx) AS text
          |FROM kept GROUP BY doc_id ORDER BY doc_id""".stripMargin,

      // paragraph-granularity trim: duplicated positions = grams with a
      // strictly-earlier corpus occurrence (ONE rank window per gram —
      // no pair generation), per-doc islands, containment anti-join,
      // ordered reassembly; whole-doc tokens split on \s+ (the paragraph
      // separator itself tokenizes to nothing)
      "q_trim_spans" ->
        """WITH d2 AS (
          |  SELECT d.doc_id, d.text || chr(10) || chr(10) || p.text AS text
          |  FROM documents d JOIN documents p ON p.doc_id = d.doc_id % 50),
          |toks AS (SELECT doc_id::BIGINT AS id,
          |    list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
          |      t -> len(t) > 0) AS ts
          |  FROM d2),
          |g0 AS (SELECT id, ts, unnest(range(1, len(ts) - 6)) AS i
          |       FROM toks),
          |g AS (SELECT id, (i - 1)::BIGINT AS pos,
          |             array_to_string(ts[i:i+7], ' ') AS gram
          |      FROM g0),
          |dup AS (SELECT id, pos FROM (
          |    SELECT id, pos, row_number() OVER (
          |      PARTITION BY gram ORDER BY id, pos) AS rn FROM g)
          |  WHERE rn > 1),
          |isl AS (SELECT id, pos,
          |               pos - row_number() OVER (
          |                 PARTITION BY id ORDER BY pos) AS grp
          |        FROM dup),
          |spans AS (SELECT id, min(pos) AS ss, max(pos) + 8 AS se
          |          FROM isl GROUP BY id, grp),
          |paras AS (
          |  SELECT doc_id,
          |    unnest(list_transform(string_split(text, chr(10) || chr(10)),
          |      (x, i) -> {'idx': i - 1, 'para': x}), recursive := true)
          |  FROM d2),
          |pt AS (SELECT doc_id, idx, para,
          |    len(list_filter(regexp_split_to_array(lower(trim(para)),
          |      '\s+'), t -> len(t) > 0))::BIGINT AS ntok
          |  FROM paras),
          |ppos AS (SELECT doc_id, idx, para, ntok,
          |    coalesce(sum(ntok) OVER (PARTITION BY doc_id ORDER BY idx
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
          |      0)::BIGINT AS ps
          |  FROM pt),
          |surv AS (SELECT doc_id, idx, para FROM ppos p
          |  WHERE NOT EXISTS (SELECT 1 FROM spans s
          |    WHERE s.id = p.doc_id AND s.ss <= p.ps
          |      AND p.ps + p.ntok <= s.se AND p.ntok > 0))
          |SELECT doc_id, count(*)::BIGINT AS n_paras_kept,
          |       string_agg(para, chr(10) || chr(10) ORDER BY idx) AS text
          |FROM surv GROUP BY doc_id ORDER BY doc_id""".stripMargin,

      "q_ngram_jaccard" ->
        s"""WITH toks AS (SELECT doc_id, $toksSql AS ts FROM documents),
           |sets AS (
           |  SELECT doc_id, list_distinct(list_transform(
           |    generate_series(1, greatest(len(ts) - 2, 0)),
           |    i -> array_to_string(list_slice(ts, i, i + 2), ' '))) AS sh
           |  FROM toks WHERE len(ts) >= 3),
           |e AS (SELECT doc_id, len(sh) AS n, unnest(sh) AS s FROM sets
           |      WHERE len(sh) > 0)
           |SELECT id_a, id_b, jaccard FROM (
           |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           |         CAST(count(*) AS DOUBLE)
           |           / (any_value(a.n) + any_value(b.n) - count(*)) AS jaccard
           |  FROM e a JOIN e b ON a.s = b.s AND a.doc_id < b.doc_id
           |  GROUP BY 1, 2)
           |WHERE jaccard >= 0.5 ORDER BY id_a, id_b""".stripMargin,

      "q_edit_neardup" ->
        s"""WITH toks AS (SELECT doc_id, $toksSql AS ts FROM documents),
           |sets AS (
           |  SELECT doc_id, list_distinct(list_transform(
           |    generate_series(1, greatest(len(ts) - 2, 0)),
           |    i -> array_to_string(list_slice(ts, i, i + 2), ' '))) AS sh
           |  FROM toks WHERE len(ts) >= 3),
           |e AS (SELECT doc_id, len(sh) AS n, unnest(sh) AS s FROM sets
           |      WHERE len(sh) > 0),
           |cand AS (
           |  SELECT id_a, id_b, jaccard FROM (
           |    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           |           CAST(count(*) AS DOUBLE)
           |             / (any_value(a.n) + any_value(b.n) - count(*))
           |             AS jaccard
           |    FROM e a JOIN e b ON a.s = b.s AND a.doc_id < b.doc_id
           |    GROUP BY 1, 2)
           |  WHERE jaccard >= 0.3),
           |tx AS (SELECT doc_id, substring(text, 1, 1000) AS t
           |       FROM documents)
           |SELECT id_a, id_b, jaccard, edit_sim FROM (
           |  SELECT id_a, id_b, jaccard,
           |         CASE WHEN greatest(len(ta.t), len(tb.t)) = 0 THEN 1.0
           |              ELSE 1.0 - CAST(levenshtein(ta.t, tb.t) AS DOUBLE)
           |                / CAST(greatest(len(ta.t), len(tb.t)) AS DOUBLE)
           |         END AS edit_sim
           |  FROM cand JOIN tx ta ON cand.id_a = ta.doc_id
           |            JOIN tx tb ON cand.id_b = tb.doc_id)
           |WHERE edit_sim >= 0.6 ORDER BY id_a, id_b""".stripMargin,

      "q_corpus_delta" ->
        """WITH o_snap AS (SELECT doc_id, text FROM documents),
          |n_snap AS (
          |  SELECT doc_id,
          |         CASE WHEN doc_id % 11 = 0 THEN text || ' v2 edit'
          |              ELSE text END AS text
          |  FROM documents WHERE doc_id % 7 <> 3
          |  UNION ALL
          |  SELECT doc_id + 1000000, text FROM documents
          |  WHERE doc_id % 13 = 0),
          |j AS (
          |  SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
          |         CASE WHEN o.doc_id IS NULL THEN 'added'
          |              WHEN n.doc_id IS NULL THEN 'removed'
          |              WHEN o.text <> n.text THEN 'changed' END AS status,
          |         len(o.text)::BIGINT AS old_n_chars,
          |         len(n.text)::BIGINT AS new_n_chars
          |  FROM o_snap o FULL OUTER JOIN n_snap n ON o.doc_id = n.doc_id)
          |SELECT doc_id, status, old_n_chars, new_n_chars FROM j
          |WHERE status IS NOT NULL ORDER BY doc_id""".stripMargin,

      "q_pipeline_incremental" ->
        """WITH o_snap AS (SELECT doc_id, text FROM documents),
          |n_snap AS (
          |  SELECT doc_id,
          |         CASE WHEN doc_id % 11 = 0 THEN text || ' v2 edit'
          |              ELSE text END AS text
          |  FROM documents WHERE doc_id % 7 <> 3
          |  UNION ALL
          |  SELECT doc_id + 1000000, text FROM documents
          |  WHERE doc_id % 13 = 0),
          |delta AS (
          |  SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
          |         CASE WHEN o.doc_id IS NULL THEN 'added'
          |              WHEN n.doc_id IS NULL THEN 'removed'
          |              WHEN o.text <> n.text THEN 'changed' END AS status
          |  FROM o_snap o FULL OUTER JOIN n_snap n
          |    ON o.doc_id = n.doc_id),
          |d AS (SELECT doc_id, status FROM delta WHERE status IS NOT NULL),
          |incoming AS (
          |  SELECT n.doc_id, n.text FROM n_snap n JOIN d USING (doc_id)
          |  WHERE d.status IN ('added', 'changed')),
          |retained AS (
          |  SELECT o.doc_id, o.text FROM o_snap o
          |  WHERE o.doc_id NOT IN (SELECT doc_id FROM d)),
          |reffp AS (SELECT DISTINCT substr(md5(regexp_replace(
          |    lower(trim(text)), '\s+', ' ', 'g')), 1, 16) AS fp
          |  FROM retained)
          |SELECT doc_id, len(text)::BIGINT AS n_chars FROM incoming
          |WHERE substr(md5(regexp_replace(lower(trim(text)), '\s+', ' ',
          |    'g')), 1, 16) NOT IN (SELECT fp FROM reffp)
          |ORDER BY doc_id""".stripMargin,

      "q_chunk_docs" ->
        s"""WITH toks AS (SELECT doc_id, $toksSql AS ts FROM documents),
           |c AS (SELECT doc_id, ts, len(ts) AS n,
           |        CASE WHEN len(ts) <= 64 THEN 1
           |             ELSE 1 + (len(ts) - 64 + 47) // 48 END AS nc
           |      FROM toks WHERE len(ts) > 0),
           |x AS (SELECT doc_id, ts, n,
           |        unnest(generate_series(0, nc - 1)) AS i FROM c)
           |SELECT doc_id, i AS chunk_id, i * 48 AS chunk_start,
           |       least(64, n - i * 48) AS n_chunk_tokens,
           |       array_to_string(list_slice(ts, i * 48 + 1, i * 48 + 64),
           |         ' ') AS chunk_text
           |FROM x ORDER BY doc_id, chunk_id""".stripMargin,

      "q_vocab_stats" ->
        s"""WITH tok AS (SELECT unnest($toksSql) AS token FROM documents),
           |f AS (SELECT token, count(*)::BIGINT AS freq FROM tok
           |      GROUP BY token),
           |tot AS (SELECT count(*)::BIGINT AS total FROM tok),
           |top AS (SELECT token, freq FROM f
           |        ORDER BY freq DESC, token LIMIT 100)
           |SELECT CAST(row_number() OVER (ORDER BY freq DESC, token)
           |         AS BIGINT) AS rank,
           |       token, freq,
           |       CAST(sum(freq) OVER (ORDER BY freq DESC, token
           |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           |         AS DOUBLE) / CAST(total AS DOUBLE) AS coverage
           |FROM top CROSS JOIN tot
           |ORDER BY rank""".stripMargin,

      "q_pipeline_clean" ->
        s"""WITH toks AS (
           |  SELECT doc_id, lang, text, $toksSql AS ts FROM documents),
           |scored AS (
           |  SELECT doc_id, lang, text, len(ts) AS n_tokens,
           |         CAST(len(list_filter(ts, t -> list_contains(${sqlList(
                       Text.stopwords.values.flatten.toSeq.distinct.sorted)}, t)))
           |           AS DOUBLE) / len(ts) AS sw_ratio
           |  FROM toks),
           |kept AS (
           |  SELECT * FROM scored WHERE n_tokens >= 8 AND sw_ratio >= 0.05),
           |deduped AS (
           |  SELECT min(doc_id) AS doc_id,
           |         arg_min(lang, doc_id) AS lang,
           |         arg_min(n_tokens, doc_id) AS n_tokens
           |  FROM kept
           |  GROUP BY md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')))
           |SELECT lang, count(*) AS n_docs,
           |       CAST(sum(n_tokens) AS BIGINT) AS total_tokens
           |FROM deduped GROUP BY lang ORDER BY lang""".stripMargin,

      "q_embed_neardup" ->
        s"""SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           |       ${cosSql("a.embedding", "b.embedding")} AS cosine
           |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
           |WHERE ${cosSql("a.embedding", "b.embedding")} >= 0.45
           |ORDER BY id_a, id_b""".stripMargin,

      "q_simsearch_topk" ->
        s"""SELECT query_id, nbr_id, cosine, rank FROM (
           |  SELECT q.vec_id AS query_id, c.vec_id AS nbr_id,
           |         ${cosSql("q.embedding", "c.embedding")} AS cosine,
           |         row_number() OVER (
           |           PARTITION BY q.vec_id
           |           ORDER BY ${cosSql("q.embedding", "c.embedding")} DESC,
           |                    c.vec_id) AS rank
           |  FROM embeddings q CROSS JOIN embeddings c
           |  WHERE q.vec_id < 5 AND q.vec_id <> c.vec_id)
           |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

      "q_bm25" ->
        s"""${bm25Sql(Seq("customer", "window", "filter"))}
           |ORDER BY doc_id""".stripMargin,

      "q_retrieval_audit" ->
        s"""WITH btoks AS (
           |  SELECT doc_id, $toksSql AS ts FROM documents
           |  WHERE doc_id < 10),
           |btf AS (SELECT doc_id, t, count(*)::BIGINT AS btf
           |        FROM (SELECT doc_id, unnest(ts) AS t FROM btoks)
           |        GROUP BY doc_id, t),
           |bdf AS (SELECT t, count(*)::BIGINT AS bdf FROM btf GROUP BY t),
           |bnd AS (SELECT count(DISTINCT doc_id)::BIGINT AS n_docs
           |        FROM documents WHERE doc_id < 10),
           |brk AS (SELECT doc_id, t, row_number() OVER (
           |          PARTITION BY doc_id ORDER BY
           |            CAST(btf.btf * bnd.n_docs AS DOUBLE)
           |              / CAST(bdf.bdf AS DOUBLE) DESC, t) AS r
           |        FROM btf JOIN bdf USING (t) CROSS JOIN bnd),
           |qterms AS (SELECT doc_id AS query_id, t FROM brk
           |           WHERE r <= 3),
           |toks AS (SELECT doc_id, $toksSql AS ts FROM documents),
           |dl AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS dl
           |       FROM toks),
           |tots AS (SELECT count(*) AS n, CAST(sum(dl) AS BIGINT) AS c
           |         FROM dl),
           |tf AS (
           |  SELECT doc_id, t, count(*) AS tf
           |  FROM (SELECT doc_id, unnest(ts) AS t FROM toks)
           |  WHERE t IN (SELECT DISTINCT t FROM qterms) GROUP BY 1, 2),
           |dfq AS (SELECT t, count(*) AS dfc FROM tf GROUP BY 1),
           |sc AS (
           |  SELECT query_id, doc_id, $bm25SumSql AS score
           |  FROM tf JOIN dfq USING (t) JOIN qterms USING (t)
           |       JOIN dl USING (doc_id) CROSS JOIN tots
           |  GROUP BY query_id, doc_id)
           |SELECT query_id, doc_id, score, rank FROM (
           |  SELECT query_id, doc_id, score, row_number() OVER (
           |    PARTITION BY query_id ORDER BY score DESC, doc_id)
           |      AS rank
           |  FROM sc WHERE query_id <> doc_id)
           |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin,

      "q_bm25_multi" ->
        s"""WITH queries(query_id, terms) AS (
           |  VALUES (CAST(0 AS BIGINT), ['customer', 'window']),
           |         (CAST(1 AS BIGINT), ['filter', 'spark']),
           |         (CAST(2 AS BIGINT), ['merge'])),
           |qterms AS (SELECT query_id, unnest(terms) AS t FROM queries),
           |toks AS (SELECT doc_id, $toksSql AS ts FROM documents),
           |dl AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS dl
           |       FROM toks),
           |tots AS (SELECT count(*) AS n, CAST(sum(dl) AS BIGINT) AS c
           |         FROM dl),
           |tf AS (
           |  SELECT doc_id, t, count(*) AS tf
           |  FROM (SELECT doc_id, unnest(ts) AS t FROM toks)
           |  WHERE t IN (SELECT DISTINCT t FROM qterms) GROUP BY 1, 2),
           |dfq AS (SELECT t, count(*) AS dfc FROM tf GROUP BY 1)
           |SELECT query_id, doc_id, count(*) AS n_terms,
           |       $bm25SumSql AS score
           |FROM tf JOIN dfq USING (t) JOIN qterms USING (t)
           |     JOIN dl USING (doc_id) CROSS JOIN tots
           |GROUP BY query_id, doc_id ORDER BY query_id, doc_id""".stripMargin,

      "q_hybrid_topk" ->
        s"""WITH lex0 AS (
           |${bm25Sql(Seq("customer", "window", "filter"))}),
           |lexr AS (
           |  SELECT id, r FROM (
           |    SELECT doc_id AS id,
           |           row_number() OVER (ORDER BY score DESC, doc_id)
           |             AS r
           |    FROM lex0)
           |  WHERE r <= 50),
           |semr AS (
           |  SELECT id, r FROM (
           |    SELECT c.vec_id AS id,
           |           row_number() OVER (
           |             ORDER BY ${cosSql("q.embedding", "c.embedding")}
           |               DESC, c.vec_id) AS r
           |    FROM embeddings c CROSS JOIN embeddings q
           |    WHERE q.vec_id = 0 AND c.vec_id <> 0)
           |  WHERE r <= 50)
           |SELECT coalesce(l.id, s.id) AS id, l.r AS r_a, s.r AS r_b,
           |       (CASE WHEN l.r IS NULL THEN 0.0
           |             ELSE CAST(1.0 AS DOUBLE) / CAST(60 + l.r AS DOUBLE)
           |        END +
           |        CASE WHEN s.r IS NULL THEN 0.0
           |             ELSE CAST(1.0 AS DOUBLE) / CAST(60 + s.r AS DOUBLE)
           |        END) AS rrf
           |FROM lexr l FULL OUTER JOIN semr s ON l.id = s.id
           |ORDER BY rrf DESC, id LIMIT 10""".stripMargin,

      "q_frame_sample" ->
        """WITH w AS (
          |  SELECT doc_id, text,
          |         CAST(greatest(floor(len(text) / 4), 1) AS INT) AS width
          |  FROM documents WHERE doc_id < 100)
          |SELECT doc_id, i AS frame_idx,
          |       len(substring(text, i*width + 1, width)) AS frame_len,
          |       md5(substring(text, i*width + 1, width)) AS frame_md5
          |FROM w, unnest(generate_series(0, 3)) AS t(i)
          |WHERE len(substring(text, i*width + 1, width)) > 0
          |ORDER BY doc_id, frame_idx""".stripMargin,

      "q_dedup_clusters" ->
        s"""WITH RECURSIVE
           |toks AS (SELECT doc_id, $toksSql AS ts FROM documents),
           |sets AS (
           |  SELECT doc_id, list_distinct(list_transform(
           |    generate_series(1, greatest(len(ts) - 2, 0)),
           |    i -> array_to_string(list_slice(ts, i, i + 2), ' '))) AS sh
           |  FROM toks WHERE len(ts) >= 3),
           |e AS (SELECT doc_id, len(sh) AS n, unnest(sh) AS s FROM sets
           |      WHERE len(sh) > 0),
           |pairs AS (
           |  SELECT id_a, id_b FROM (
           |    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           |           CAST(count(*) AS DOUBLE)
           |             / (any_value(a.n) + any_value(b.n) - count(*))
           |             AS jaccard
           |    FROM e a JOIN e b ON a.s = b.s AND a.doc_id < b.doc_id
           |    GROUP BY 1, 2)
           |  WHERE jaccard >= 0.5),
           |sym AS (SELECT id_a AS src, id_b AS dst FROM pairs
           |        UNION SELECT id_b, id_a FROM pairs),
           |reach(src, dst) AS (
           |  SELECT src, dst FROM sym
           |  UNION
           |  SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src),
           |comp AS (SELECT src AS id, least(src, min(dst)) AS component
           |         FROM reach GROUP BY src)
           |SELECT component, count(*) AS cluster_size FROM comp
           |GROUP BY component ORDER BY component""".stripMargin,

      "q_multimodal_dedup" ->
        """SELECT sha256(text) AS sha256, min(doc_id) AS doc_id,
          |       count(*) AS n_dups
          |FROM documents GROUP BY 1 ORDER BY doc_id""".stripMargin,

      // overlap-fraction decontamination: exact string shingles stand in
      // for the engine's 8-byte hashes (the q_contamination rule); LEFT
      // join so zero-overlap docs still count, one double division
      "q_contamination_frac" ->
        s"""WITH toks AS (SELECT doc_id, $toksSql AS ts FROM documents),
           |sets AS (
           |  SELECT doc_id, list_distinct(list_transform(
           |    generate_series(1, greatest(len(ts) - 2, 0)),
           |    i -> array_to_string(list_slice(ts, i, i + 2), ' '))) AS sh
           |  FROM toks WHERE len(ts) >= 3),
           |e AS (SELECT doc_id, len(sh)::BIGINT AS n_shingles,
           |             unnest(sh) AS s
           |      FROM sets WHERE len(sh) > 0),
           |b AS (SELECT DISTINCT s FROM e WHERE doc_id % 17 = 0),
           |c AS (SELECT e.doc_id, e.n_shingles, count(b.s)::BIGINT AS n_shared
           |      FROM e LEFT JOIN b ON e.s = b.s
           |      WHERE e.doc_id % 17 <> 0
           |      GROUP BY 1, 2)
           |SELECT doc_id, n_shingles, n_shared,
           |       n_shared::DOUBLE / n_shingles::DOUBLE AS frac
           |FROM c
           |WHERE n_shared::DOUBLE / n_shingles::DOUBLE >= 0.05
           |ORDER BY doc_id""".stripMargin,

      // C4 cleaning: same deterministic dirtying, then page gates
      // (lorem ipsum / curly brace), line gates (terminal punctuation,
      // >= 3 words, no javascript), >= 2 surviving lines, ordered
      // reassembly
      "q_c4_clean" ->
        """WITH dirty AS (
          |  SELECT doc_id,
          |    text || '.' || chr(10) ||
          |    'enable javascript to continue.' || chr(10) ||
          |    source || chr(10) ||
          |    'too short.' || chr(10) ||
          |    CASE WHEN doc_id % 3 = 0
          |      THEN 'this extra line stays here!' || chr(10) ELSE '' END ||
          |    CASE WHEN doc_id % 97 = 0
          |      THEN 'lorem ipsum dolor sit.' || chr(10) ELSE '' END ||
          |    CASE WHEN doc_id % 89 = 0
          |      THEN 'a curly { brace here.' || chr(10) ELSE '' END ||
          |    text || ' indeed?' AS text
          |  FROM documents),
          |pages AS (SELECT * FROM dirty
          |  WHERE NOT contains(lower(text), 'lorem ipsum')
          |    AND NOT contains(text, '{')),
          |lines AS (
          |  SELECT doc_id,
          |    unnest(list_transform(string_split(text, chr(10)),
          |      (x, i) -> {'idx': i - 1, 'line': x}), recursive := true)
          |  FROM pages),
          |kept AS (SELECT doc_id, idx, line FROM lines
          |  WHERE regexp_matches(trim(line), '[.!?"]$')
          |    AND len(list_filter(string_split(lower(trim(line)), ' '),
          |          t -> len(t) > 0)) >= 3
          |    AND NOT contains(lower(line), 'javascript'))
          |SELECT doc_id, count(*)::BIGINT AS n_lines_kept,
          |       string_agg(line, chr(10) ORDER BY idx) AS text
          |FROM kept GROUP BY doc_id
          |HAVING count(*) >= 2
          |ORDER BY doc_id""".stripMargin,

      // Naive-Bayes quality score: top-64 vocab by combined count (ties
      // to token asc), totals over the FULL class token streams, exact
      // HUGEINT products -> one division per term -> the fixed-point
      // mean recipe at 1e12. Identical tokens in a doc share one term
      // value, so every token-instance stream is pre-aggregated to
      // (doc_id, w, c) / (w, cp) counts BEFORE any join — the round-10
      // driver replay OOM'd because the two raw unnest CTEs (referenced
      // 2-3x each, and DuckDB 1.0 inlines every reference) materialized
      // corpus x tokens rows repeatedly; counts bound peak memory at
      // doc x distinct-token size instead. Weighted fold (sum(c * ...)
      // / sum(c)) is arithmetically exact vs the per-instance original.
      "q_quality_nb" ->
        s"""WITH dt AS (
           |  SELECT doc_id, w, count(*)::BIGINT AS c
           |  FROM (SELECT doc_id, unnest($toksSql) AS w FROM documents)
           |  GROUP BY doc_id, w),
           |cpos AS (
           |  SELECT w, count(*)::BIGINT AS cp
           |  FROM (SELECT unnest($toksSql) AS w
           |        FROM documents WHERE lang = 'en')
           |  GROUP BY w),
           |cneg AS (SELECT w, sum(c)::BIGINT AS cn FROM dt GROUP BY w),
           |vocab AS (
           |  SELECT w, coalesce(cp, 0)::BIGINT AS cp,
           |         coalesce(cn, 0)::BIGINT AS cn
           |  FROM cpos FULL OUTER JOIN cneg USING (w)
           |  ORDER BY (coalesce(cp, 0) + coalesce(cn, 0)) DESC, w ASC
           |  LIMIT 64),
           |tot AS (SELECT coalesce((SELECT sum(cp) FROM cpos),
           |                        0)::BIGINT AS np,
           |               coalesce((SELECT sum(c) FROM dt),
           |                        0)::BIGINT AS nn,
           |               (SELECT count(*) FROM vocab)::BIGINT AS v),
           |docs AS (SELECT doc_id, sum(c)::BIGINT AS n_tokens
           |  FROM dt GROUP BY doc_id),
           |dv AS (
           |  SELECT dt.doc_id, sum(dt.c)::BIGINT AS n_v,
           |    sum(dt.c::HUGEINT * floor(
           |      ((vo.cp + 1)::HUGEINT
           |         * (tot.nn + tot.v)::HUGEINT)::DOUBLE /
           |      ((vo.cn + 1)::HUGEINT
           |         * (tot.np + tot.v)::HUGEINT)::DOUBLE
           |      * 1e12)::HUGEINT) AS s_v
           |  FROM dt JOIN vocab vo USING (w) CROSS JOIN tot
           |  GROUP BY dt.doc_id)
           |SELECT d.doc_id, d.n_tokens,
           |  (d.n_tokens - coalesce(dv.n_v, 0))::BIGINT AS n_oov,
           |  ((coalesce(dv.s_v, 0::HUGEINT)
           |    + (d.n_tokens - coalesce(dv.n_v, 0))::HUGEINT
           |      * floor((1::HUGEINT
           |          * (tot.nn + tot.v)::HUGEINT)::DOUBLE /
           |        (1::HUGEINT
           |          * (tot.np + tot.v)::HUGEINT)::DOUBLE
           |        * 1e12)::HUGEINT)::DOUBLE
           |   / d.n_tokens / 1e12) AS score
           |FROM docs d LEFT JOIN dv USING (doc_id) CROSS JOIN tot
           |ORDER BY d.doc_id""".stripMargin,

      // dataset card: ROLLUP over (lang, source); fingerprint = md5 of
      // the space-joined token list (the Text.fingerprint replay);
      // gopher gate replayed with the q_gopher_rules thresholds
      "q_corpus_card" ->
        s"""WITH staged AS (
           |  SELECT lang, source, $toksSql AS ts,
           |         substr(md5(array_to_string($toksSql, ' ')), 1, 16)
           |           AS fp,
           |         len(text)::BIGINT AS nc
           |  FROM documents)
           |SELECT lang, source,
           |  count(*)::BIGINT AS n_docs,
           |  sum(len(ts))::BIGINT AS n_tokens,
           |  sum(nc)::BIGINT AS n_chars,
           |  count(DISTINCT fp)::BIGINT AS n_distinct,
           |  sum(CASE WHEN
           |    len(ts) BETWEEN 50 AND 100000
           |    AND CAST(list_sum(list_transform(ts, t -> len(t)))
           |        AS DOUBLE) / len(ts) BETWEEN 3.0 AND 10.0
           |    AND CAST(len(list_filter(ts,
           |        t -> regexp_matches(t, '[a-z]'))) AS DOUBLE)
           |        / len(ts) >= 0.8
           |    AND CAST(len(list_filter(ts, t -> contains(t, '#')
           |        OR contains(t, '...'))) AS DOUBLE) / len(ts) <= 0.1
           |    AND len(list_filter(ts, t -> list_contains(
           |        ['the', 'be', 'to', 'of', 'and', 'that', 'have',
           |         'with'], t))) >= 2
           |    THEN 1 ELSE 0 END)::BIGINT AS n_gopher_pass,
           |  (count(*) - count(DISTINCT fp))::DOUBLE
           |    / count(*)::DOUBLE AS dup_frac
           |FROM staged
           |GROUP BY ROLLUP (lang, source)
           |ORDER BY lang NULLS FIRST, source NULLS FIRST""".stripMargin,

      // composed ingest pipeline: the q_c4_clean stage verbatim, its
      // survivors decontaminated by overlap fraction vs the ORIGINAL
      // benchmark slice (multi-line tokens need the \s+ regexp
      // normalization — the single-space toks macro under-splits
      // reassembled text), then the q_quality_nb stage trained on the
      // survivors themselves
      "q_pipeline_ingest" ->
        """WITH dirty AS (
          |  SELECT doc_id,
          |    text || '.' || chr(10) ||
          |    'enable javascript to continue.' || chr(10) ||
          |    source || chr(10) ||
          |    'too short.' || chr(10) ||
          |    CASE WHEN doc_id % 3 = 0
          |      THEN 'this extra line stays here!' || chr(10) ELSE '' END ||
          |    CASE WHEN doc_id % 97 = 0
          |      THEN 'lorem ipsum dolor sit.' || chr(10) ELSE '' END ||
          |    CASE WHEN doc_id % 89 = 0
          |      THEN 'a curly { brace here.' || chr(10) ELSE '' END ||
          |    text || ' indeed?' AS text
          |  FROM documents),
          |pages AS (SELECT * FROM dirty
          |  WHERE NOT contains(lower(text), 'lorem ipsum')
          |    AND NOT contains(text, '{')),
          |lns AS (
          |  SELECT doc_id,
          |    unnest(list_transform(string_split(text, chr(10)),
          |      (x, i) -> {'idx': i - 1, 'line': x}), recursive := true)
          |  FROM pages),
          |kept AS (SELECT doc_id, idx, line FROM lns
          |  WHERE regexp_matches(trim(line), '[.!?"]$')
          |    AND len(list_filter(string_split(lower(trim(line)), ' '),
          |          t -> len(t) > 0)) >= 3
          |    AND NOT contains(lower(line), 'javascript')),
          |cleaned AS (
          |  SELECT doc_id, count(*)::BIGINT AS n_lines_kept,
          |         string_agg(line, chr(10) ORDER BY idx) AS text
          |  FROM kept GROUP BY doc_id HAVING count(*) >= 2),
          |ctoks AS (SELECT doc_id, list_filter(string_split(
          |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '),
          |    t -> len(t) > 0) AS ts
          |  FROM cleaned WHERE doc_id % 17 <> 0),
          |csets AS (
          |  SELECT doc_id, list_distinct(list_transform(
          |    generate_series(1, greatest(len(ts) - 2, 0)),
          |    i -> array_to_string(list_slice(ts, i, i + 2), ' '))) AS sh
          |  FROM ctoks WHERE len(ts) >= 3),
          |ce AS (SELECT doc_id, len(sh)::BIGINT AS n_shingles,
          |              unnest(sh) AS s
          |       FROM csets WHERE len(sh) > 0),
          |btoks AS (SELECT list_filter(string_split(lower(trim(text)),
          |    ' '), t -> len(t) > 0) AS ts
          |  FROM documents WHERE doc_id % 17 = 0),
          |b AS (SELECT DISTINCT s FROM (
          |  SELECT unnest(list_distinct(list_transform(
          |    generate_series(1, greatest(len(ts) - 2, 0)),
          |    i -> array_to_string(list_slice(ts, i, i + 2), ' ')))) AS s
          |  FROM btoks WHERE len(ts) >= 3)),
          |contaminated AS (
          |  SELECT ce.doc_id FROM ce LEFT JOIN b ON ce.s = b.s
          |  GROUP BY ce.doc_id, ce.n_shingles
          |  HAVING count(b.s)::DOUBLE / ce.n_shingles::DOUBLE >= 0.05),
          |surv AS (
          |  SELECT c.doc_id, c.n_lines_kept, c.text, d.lang
          |  FROM cleaned c JOIN documents d USING (doc_id)
          |  WHERE c.doc_id % 17 <> 0
          |    AND c.doc_id NOT IN (SELECT doc_id FROM contaminated)),
          |dt AS (SELECT doc_id, w, count(*)::BIGINT AS c
          |  FROM (SELECT doc_id, unnest(list_filter(string_split(
          |      regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '),
          |      t -> len(t) > 0)) AS w
          |    FROM surv)
          |  GROUP BY doc_id, w),
          |cpos AS (SELECT w, count(*)::BIGINT AS cp
          |  FROM (SELECT unnest(list_filter(string_split(
          |      regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '),
          |      t -> len(t) > 0)) AS w
          |    FROM surv WHERE lang = 'en')
          |  GROUP BY w),
          |cneg AS (SELECT w, sum(c)::BIGINT AS cn FROM dt GROUP BY w),
          |vocab AS (
          |  SELECT w, coalesce(cp, 0)::BIGINT AS cp,
          |         coalesce(cn, 0)::BIGINT AS cn
          |  FROM cpos FULL OUTER JOIN cneg USING (w)
          |  ORDER BY (coalesce(cp, 0) + coalesce(cn, 0)) DESC, w ASC
          |  LIMIT 64),
          |tot AS (SELECT coalesce((SELECT sum(cp) FROM cpos),
          |                        0)::BIGINT AS np,
          |               coalesce((SELECT sum(c) FROM dt),
          |                        0)::BIGINT AS nn,
          |               (SELECT count(*) FROM vocab)::BIGINT AS v),
          |terms AS (
          |  SELECT dt.doc_id, dt.c, vo.cp, vo.cn,
          |    ((coalesce(vo.cp, 0) + 1)::HUGEINT
          |       * (tot.nn + tot.v)::HUGEINT)::DOUBLE /
          |    ((coalesce(vo.cn, 0) + 1)::HUGEINT
          |       * (tot.np + tot.v)::HUGEINT)::DOUBLE AS term
          |  FROM dt LEFT JOIN vocab vo USING (w) CROSS JOIN tot),
          |scored AS (
          |  SELECT doc_id, sum(c)::BIGINT AS n_tokens,
          |    sum(CASE WHEN cp IS NULL AND cn IS NULL THEN c ELSE 0
          |        END)::BIGINT AS n_oov,
          |    (sum(c::HUGEINT * floor(term * 1e12)::HUGEINT)::DOUBLE
          |       / sum(c) / 1e12) AS score
          |  FROM terms GROUP BY doc_id)
          |SELECT s.doc_id, s.n_lines_kept, sc.n_tokens, sc.n_oov,
          |       sc.score
          |FROM surv s JOIN scored sc USING (doc_id)
          |ORDER BY s.doc_id""".stripMargin,

      // SQ8 forward map replay: exact per-dim min/max, then the same
      // floor(((x - mn) * 255) / (mx - mn)) affine, clamped
      "q_sq_codes" ->
        """WITH pos AS (SELECT i FROM unnest(generate_series(1, 64)) AS t(i)),
          |vals AS (SELECT e.vec_id, p.i, e.embedding[p.i]::DOUBLE AS x
          |         FROM embeddings e CROSS JOIN pos p),
          |st AS (SELECT i, min(x) AS mn, max(x) AS mx FROM vals GROUP BY i),
          |codes AS (SELECT v.vec_id, v.i,
          |  CASE WHEN st.mx = st.mn THEN 0
          |       ELSE least(255, greatest(0,
          |         CAST(floor(((v.x - st.mn) * 255.0) / (st.mx - st.mn))
          |              AS BIGINT)))
          |  END AS code
          |  FROM vals v JOIN st USING (i))
          |SELECT vec_id, CAST(i - 1 AS INT) AS pos, CAST(code AS INT) AS code
          |FROM codes ORDER BY vec_id, pos""".stripMargin,

      // SQ8 ADC replay: decode = mn + code * ((mx - mn) / 255); the
      // approximate distance folds (q_i - decoded_i)^2 in ascending
      // dimension order (list(... ORDER BY i) -> sequential reduce),
      // matching Sq.adcTopK's left-to-right aggregate; ties to the
      // smaller neighbor id
      "q_sq_search" ->
        """WITH pos AS (SELECT i FROM unnest(generate_series(1, 64)) AS t(i)),
          |vals AS (SELECT e.vec_id, p.i, e.embedding[p.i]::DOUBLE AS x
          |         FROM embeddings e CROSS JOIN pos p),
          |st AS (SELECT i, min(x) AS mn, max(x) AS mx FROM vals GROUP BY i),
          |codes AS (SELECT v.vec_id, v.i,
          |  CASE WHEN st.mx = st.mn THEN 0
          |       ELSE least(255, greatest(0,
          |         CAST(floor(((v.x - st.mn) * 255.0) / (st.mx - st.mn))
          |              AS BIGINT)))
          |  END AS code
          |  FROM vals v JOIN st USING (i)),
          |dec AS (SELECT c.vec_id, c.i,
          |          st.mn + c.code * ((st.mx - st.mn) / 255.0) AS vd
          |        FROM codes c JOIN st USING (i)),
          |q AS (SELECT vec_id AS query_id, i, x FROM vals WHERE vec_id < 5),
          |d AS (SELECT q.query_id, dec.vec_id AS nbr_id,
          |        list_reduce(list_prepend(0.0,
          |          list((q.x - dec.vd) * (q.x - dec.vd) ORDER BY q.i)),
          |          (a, y) -> a + y) AS adc
          |      FROM q JOIN dec ON q.i = dec.i
          |      WHERE dec.vec_id <> q.query_id
          |      GROUP BY q.query_id, dec.vec_id)
          |SELECT query_id, nbr_id, adc_dist, rank FROM (
          |  SELECT query_id, nbr_id, adc AS adc_dist, row_number() OVER (
          |    PARTITION BY query_id ORDER BY adc, nbr_id) AS rank FROM d)
          |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

      // integer fixed-point PageRank replay: the 3 power iterations
      // unrolled as CTE pairs (per-edge floor-div contribution, damped
      // floor-div update) — every op exact integer arithmetic, so the
      // HUGEINT sums cast back to the engine's longs bit-for-bit
      "q_pagerank" -> {
        val iterCtes = (1 to 3).map { i =>
          s"""c$i AS (SELECT e.dst, sum((r.rank * e.w) // o.ow) AS s
             |  FROM e0 e JOIN ow o USING (src)
             |  JOIN r${i - 1} r ON r.node = e.src
             |  GROUP BY e.dst),
             |r$i AS (SELECT n.node,
             |  CAST(150000000 + coalesce((c$i.s * 85) // 100, 0) AS BIGINT)
             |    AS rank
             |  FROM nodes n LEFT JOIN c$i ON c$i.dst = n.node)""".stripMargin
        }.mkString(",\n")
        s"""WITH ed AS (
           |  SELECT lag(event_type) OVER (
           |           PARTITION BY user_id ORDER BY ts, event_id) AS src,
           |         event_type AS dst
           |  FROM events),
           |e0 AS (SELECT src, dst, count(*)::BIGINT AS w FROM ed
           |       WHERE src IS NOT NULL GROUP BY src, dst),
           |ow AS (SELECT src, sum(w)::BIGINT AS ow FROM e0 GROUP BY src),
           |nodes AS (SELECT DISTINCT node FROM (
           |  SELECT src AS node FROM e0 UNION ALL SELECT dst FROM e0)),
           |r0 AS (SELECT node, 1000000000::BIGINT AS rank FROM nodes),
           |$iterCtes
           |SELECT node, rank FROM r3 ORDER BY node""".stripMargin
      },

      // Z-order replay: the SQ8 affine bucket at 8 bits per column,
      // then the Morton interleave as an explicit shift/mask OR chain
      "q_zorder" -> {
        val terms = (0 until 8).map { b =>
          s"((((b0 >> $b) & 1) << ${2 * b}) | (((b1 >> $b) & 1) << ${2 * b + 1}))"
        }.mkString(" | ")
        s"""WITH st AS (SELECT min(value) AS mnv, max(value) AS mxv,
           |                   min(CAST(user_id AS DOUBLE)) AS mnu,
           |                   max(CAST(user_id AS DOUBLE)) AS mxu
           |            FROM events),
           |b AS (SELECT e.event_id,
           |  least(255, greatest(0, CAST(floor(
           |    ((e.value - st.mnv) * 255.0) / (st.mxv - st.mnv))
           |    AS BIGINT))) AS b0,
           |  least(255, greatest(0, CAST(floor(
           |    ((CAST(e.user_id AS DOUBLE) - st.mnu) * 255.0)
           |      / (st.mxu - st.mnu)) AS BIGINT))) AS b1
           |  FROM events e CROSS JOIN st)
           |SELECT event_id, CAST($terms AS BIGINT) AS zkey
           |FROM b ORDER BY event_id""".stripMargin
      },

      // personalized PageRank replay: identical to q_pagerank except
      // the teleport base lands only on the seed nodes
      "q_pagerank_seeded" -> {
        val iterCtes = (1 to 3).map { i =>
          s"""c$i AS (SELECT e.dst, sum((r.rank * e.w) // o.ow) AS s
             |  FROM e0 e JOIN ow o USING (src)
             |  JOIN r${i - 1} r ON r.node = e.src
             |  GROUP BY e.dst),
             |r$i AS (SELECT n.node,
             |  CAST((CASE WHEN n.node IN ('purchase', 'signup')
             |        THEN 150000000 ELSE 0 END)
             |    + coalesce((c$i.s * 85) // 100, 0) AS BIGINT) AS rank
             |  FROM nodes n LEFT JOIN c$i ON c$i.dst = n.node)""".stripMargin
        }.mkString(",\n")
        s"""WITH ed AS (
           |  SELECT lag(event_type) OVER (
           |           PARTITION BY user_id ORDER BY ts, event_id) AS src,
           |         event_type AS dst
           |  FROM events),
           |e0 AS (SELECT src, dst, count(*)::BIGINT AS w FROM ed
           |       WHERE src IS NOT NULL GROUP BY src, dst),
           |ow AS (SELECT src, sum(w)::BIGINT AS ow FROM e0 GROUP BY src),
           |nodes AS (SELECT DISTINCT node FROM (
           |  SELECT src AS node FROM e0 UNION ALL SELECT dst FROM e0)),
           |r0 AS (SELECT node, 1000000000::BIGINT AS rank FROM nodes),
           |$iterCtes
           |SELECT node, rank FROM r3 ORDER BY node""".stripMargin
      },

      // Markov transition matrix: exact counts, one double division
      "q_transitions" ->
        """WITH ed AS (
          |  SELECT lag(event_type) OVER (
          |           PARTITION BY user_id ORDER BY ts, event_id) AS src,
          |         event_type AS dst
          |  FROM events),
          |e0 AS (SELECT src, dst, count(*)::BIGINT AS w FROM ed
          |       WHERE src IS NOT NULL GROUP BY src, dst),
          |t AS (SELECT src, sum(w)::BIGINT AS tot FROM e0 GROUP BY src)
          |SELECT e0.src, e0.dst, e0.w, e0.w::DOUBLE / t.tot::DOUBLE AS p
          |FROM e0 JOIN t USING (src) ORDER BY src, dst""".stripMargin,

      // funnel replay: chained earliest-after min aggregations
      "q_funnel" ->
        """WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
          |            WHERE event_type = 'view' GROUP BY user_id),
          |s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
          |       JOIN s1 ON e.user_id = s1.user_id
          |       WHERE e.event_type = 'click' AND e.ts > s1.t1
          |       GROUP BY e.user_id),
          |s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
          |       JOIN s2 ON e.user_id = s2.user_id
          |       WHERE e.event_type = 'purchase' AND e.ts > s2.t2
          |       GROUP BY e.user_id)
          |SELECT s1.user_id,
          |       CAST(CASE WHEN s3.user_id IS NOT NULL THEN 3
          |                 WHEN s2.user_id IS NOT NULL THEN 2
          |                 ELSE 1 END AS INT) AS depth
          |FROM s1
          |LEFT JOIN s2 ON s1.user_id = s2.user_id
          |LEFT JOIN s3 ON s1.user_id = s3.user_id
          |ORDER BY s1.user_id""".stripMargin,

      "q_funnel_counts" ->
        """WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
          |            WHERE event_type = 'view' GROUP BY user_id),
          |s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
          |       JOIN s1 ON e.user_id = s1.user_id
          |       WHERE e.event_type = 'click' AND e.ts > s1.t1
          |       GROUP BY e.user_id),
          |s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
          |       JOIN s2 ON e.user_id = s2.user_id
          |       WHERE e.event_type = 'purchase' AND e.ts > s2.t2
          |       GROUP BY e.user_id),
          |f AS (SELECT s1.user_id,
          |        CASE WHEN s3.user_id IS NOT NULL THEN 3
          |             WHEN s2.user_id IS NOT NULL THEN 2
          |             ELSE 1 END AS depth
          |      FROM s1
          |      LEFT JOIN s2 ON s1.user_id = s2.user_id
          |      LEFT JOIN s3 ON s1.user_id = s3.user_id),
          |steps AS (SELECT s FROM unnest(generate_series(1, 3)) t(s))
          |SELECT CAST(steps.s AS INT) AS step,
          |       count(f.depth)::BIGINT AS users
          |FROM steps LEFT JOIN f ON f.depth >= steps.s
          |GROUP BY steps.s ORDER BY step""".stripMargin,

      // weekly cohort retention replay: first-touch day, ISO-week
      // cohort, integer day arithmetic, exact distinct users
      "q_retention" ->
        """WITH f AS (SELECT user_id, min(CAST(ts AS DATE)) AS d0
          |           FROM events GROUP BY user_id),
          |c AS (SELECT user_id,
          |        CAST(date_trunc('week', d0) AS DATE) AS cohort, d0
          |      FROM f)
          |SELECT c.cohort,
          |  CAST(floor(date_diff('day', c.d0, CAST(e.ts AS DATE)) / 7)
          |       AS INT) AS period,
          |  count(DISTINCT e.user_id)::BIGINT AS users
          |FROM events e JOIN c ON e.user_id = c.user_id
          |GROUP BY 1, 2 ORDER BY cohort, period""".stripMargin,

      "q_retention_hll" -> OracleXxh.q_retention_hll,

      // profiler replay: one aggregate row, pivoted per column
      // data-quality replay: each check recomputed as its plain SQL
      // count, unioned in spec order
      "q_quality_checks" ->
        """WITH n AS (SELECT count(*)::BIGINT AS nr FROM lineitem),
          |r AS (
          |  SELECT 1::BIGINT AS check_id, 'not_null' AS "check",
          |    'l_orderkey' AS detail, n.nr AS n_rows,
          |    (SELECT count(*) FROM lineitem
          |     WHERE l_orderkey IS NULL)::BIGINT AS violations FROM n
          |  UNION ALL
          |  SELECT 2, 'unique', 'l_orderkey,l_linenumber', n.nr,
          |    (n.nr - (SELECT count(*) FROM
          |       (SELECT DISTINCT l_orderkey, l_linenumber
          |        FROM lineitem)))::BIGINT FROM n
          |  UNION ALL
          |  SELECT 3, 'in_range', 'l_discount in [0.0, 0.1]', n.nr,
          |    (SELECT count(*) FROM lineitem WHERE l_discount IS NOT
          |     NULL AND (l_discount < 0.0 OR l_discount > 0.1))::BIGINT
          |  FROM n
          |  UNION ALL
          |  SELECT 4, 'in_range', 'l_quantity in [1.0, 50.0]', n.nr,
          |    (SELECT count(*) FROM lineitem WHERE l_quantity IS NOT
          |     NULL AND (l_quantity < 1.0 OR l_quantity > 50.0))::BIGINT
          |  FROM n
          |  UNION ALL
          |  SELECT 5, 'matches', 'l_returnflag ~ ^[ARN]$', n.nr,
          |    (SELECT count(*) FROM lineitem WHERE l_returnflag IS NOT
          |     NULL AND NOT regexp_matches(l_returnflag, '^[ARN]$'))
          |      ::BIGINT FROM n
          |  UNION ALL
          |  SELECT 6, 'min_rows', '>= 1000', n.nr,
          |    greatest(1000 - n.nr, 0)::BIGINT FROM n)
          |SELECT check_id, "check", detail, n_rows, violations,
          |       violations = 0 AS pass
          |FROM r ORDER BY check_id""".stripMargin,

      // URL identity layer replay: same synth CASE, same RE2-subset
      // regexps, staged through CTEs (host → www-strip → canon parts)
      "q_url_parse" ->
        s"""WITH u AS MATERIALIZED (
           |  SELECT doc_id, $urlCaseSql AS url FROM documents),
           |h AS (SELECT doc_id, url,
           |  ${urlHostSql("url")} AS host FROM u),
           |hw AS (SELECT doc_id, url, host,
           |  regexp_replace(host, '^www\\.', '') AS hwx FROM h),
           |c1 AS (SELECT doc_id, url, host, hwx,
           |  regexp_replace(url, '#.*', '') AS nofrag FROM hw),
           |c2 AS (SELECT *, lower(regexp_extract(nofrag,
           |    '^[A-Za-z][A-Za-z0-9+.-]*://', 0)) AS rawscheme,
           |  regexp_replace(nofrag,
           |    '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS afters FROM c1),
           |c3 AS (SELECT *, CASE WHEN rawscheme = '' THEN 'http'
           |    ELSE replace(rawscheme, '://', '') END AS scheme,
           |  regexp_extract(afters,
           |    '^(?:[^/?#@]*@)?([^/?#]*)', 1) AS hostport,
           |  regexp_extract(afters,
           |    '^(?:[^/?#@]*@)?[^/?#]*(.*)', 1) AS pathq FROM c2),
           |c4 AS (SELECT *,
           |  lower(regexp_extract(hostport, '^([^:]+)', 1)) AS ch,
           |  regexp_extract(hostport, ':([0-9]+)$$', 1) AS port FROM c3)
           |SELECT doc_id, url, host,
           |  ${urlDomainSql("hwx")} AS domain,
           |  scheme || '://' ||
           |  CASE WHEN port <> '' AND NOT (scheme = 'http' AND
           |    port = '80') AND NOT (scheme = 'https' AND port = '443')
           |    THEN ch || ':' || port ELSE ch END ||
           |  CASE WHEN pathq = '' THEN '/' ELSE pathq END AS canon
           |FROM c4 ORDER BY doc_id""".stripMargin,

      "q_domain_stats" ->
        s"""WITH u AS MATERIALIZED (
           |  SELECT $urlCaseSql AS url, text FROM documents),
           |d AS (SELECT ${urlDomainSql(
                  s"regexp_replace(${urlHostSql("url")}, '^www\\.', '')")}
           |    AS domain, text FROM u)
           |SELECT domain, count(*)::BIGINT AS n_docs,
           |  sum(len(text))::BIGINT AS total_chars,
           |  count(DISTINCT text)::BIGINT AS distinct_texts,
           |  CAST(count(*) - count(DISTINCT text) AS DOUBLE) /
           |    CAST(count(*) AS DOUBLE) AS dup_frac
           |FROM d GROUP BY domain ORDER BY domain""".stripMargin,

      "q_domain_cap" ->
        s"""WITH u AS MATERIALIZED (
           |  SELECT doc_id, n_chars, $urlCaseSql AS url FROM documents),
           |d AS (SELECT doc_id, n_chars, ${urlDomainSql(
                  s"regexp_replace(${urlHostSql("url")}, '^www\\.', '')")}
           |    AS domain FROM u)
           |SELECT domain, doc_id, score, rank FROM (
           |  SELECT domain, doc_id,
           |    CAST(n_chars AS DOUBLE) AS score,
           |    CAST(row_number() OVER (PARTITION BY domain
           |      ORDER BY n_chars DESC, doc_id) AS INTEGER) AS rank
           |  FROM d)
           |WHERE rank <= 20 ORDER BY domain, rank""".stripMargin,

      // PSL longest-match replay: the inline VALUES list and the CASE
      // ladder (longest s first) are generated from the SAME
      // Url.PslFixture Seq the Spark side broadcasts — one source of
      // truth, two engines
      // FULL publicsuffix.org semantics, over the SAME committed
      // fixture the engine parses (graft/public_suffix_list.dat):
      // exception rules prevail (s = rule labels - 1), else the longest
      // match among plain rules and wildcard matches (s = base + 1,
      // needs n >= base + 1), else the implicit `*`. Three VALUES
      // tables generated from the one parsed PslRules value.
      "q_url_psl" -> {
        val rules = graft.llm.Url.pslFullRules
        def vals(rs: Seq[String]) =
          rs.map(r => s"('$r')").mkString(", ")
        def lens(rs: Seq[String]): Seq[Int] =
          rs.map(_.count(_ == '.') + 1).distinct.sorted.reverse
        def last(s: Int) = s"array_to_string(list_slice(ls, -$s, -1), '.')"
        val pLadder = lens(rules.plain).map { s =>
          s"WHEN n >= $s AND ${last(s)} IN (SELECT s FROM pslp) THEN $s"
        }.mkString("\n", "\n", "\nELSE 0")
        val wLadder = lens(rules.wildcardBases).map { s =>
          s"WHEN n >= ${s + 1} AND ${last(s)} IN (SELECT b FROM pslw)" +
            s" THEN ${s + 1}"
        }.mkString("\n", "\n", "\nELSE 0")
        val eLadder = lens(rules.exceptions).map { s =>
          s"WHEN n >= $s AND ${last(s)} IN (SELECT e FROM psle)" +
            s" THEN ${s - 1}"
        }.mkString("\n", "\n", "\nELSE -1")
        s"""WITH pslp(s) AS (VALUES ${vals(rules.plain)}),
           |pslw(b) AS (VALUES ${vals(rules.wildcardBases)}),
           |psle(e) AS (VALUES ${vals(rules.exceptions)}),
           |h AS (SELECT doc_id, $synthPslHostSql AS host
           |  FROM documents),
           |m AS (SELECT doc_id, host, string_split(host, '.') AS ls,
           |  len(string_split(host, '.')) AS n FROM h),
           |mm AS (SELECT doc_id, host, ls, n,
           |  CASE $pLadder END AS sp,
           |  CASE $wLadder END AS sw,
           |  CASE $eLadder END AS se FROM m),
           |ms AS (SELECT doc_id, host, ls, n,
           |  CASE WHEN se >= 0 THEN se ELSE greatest(sp, sw) END AS s
           |  FROM mm)
           |SELECT doc_id, host,
           |  CASE WHEN regexp_matches(host, '^[0-9]+(\\.[0-9]+){3}$$')
           |         OR contains(host, ':') OR n <= 1 THEN host
           |    WHEN s = 0 THEN CASE WHEN n <= 2 THEN host
           |      ELSE array_to_string(list_slice(ls, -2, -1), '.') END
           |    WHEN s = n THEN host
           |    ELSE array_to_string(list_slice(ls, -(s+1), -1), '.')
           |  END AS domain
           |FROM ms ORDER BY doc_id""".stripMargin
      },

      // recall@5: brute-force ground truth vs the full IVF replay (the
      // same ivfOracleSql the q_simsearch_ivf oracle runs), joined on
      // (query_id, nbr_id) — one LEFT JOIN so zero-hit queries keep a row
      "q_ann_recall" ->
        s"""WITH brute AS MATERIALIZED (
           |  SELECT query_id, nbr_id FROM (
           |    SELECT q.vec_id AS query_id, c.vec_id AS nbr_id,
           |      row_number() OVER (PARTITION BY q.vec_id
           |        ORDER BY ${cosSql("q.embedding", "c.embedding")} DESC,
           |                 c.vec_id) AS rank
           |    FROM embeddings q CROSS JOIN embeddings c
           |    WHERE q.vec_id < 5 AND q.vec_id <> c.vec_id)
           |  WHERE rank <= 5),
           |ivf AS MATERIALIZED (
           |  SELECT query_id, nbr_id FROM (
           |    ${ivfOracleSql(k = 16, iters = 5, nProbe = 4, topK = 5)}
           |  ) ivfq),
           |h AS (SELECT b.query_id, count(*)::BIGINT AS n_hits
           |  FROM brute b JOIN ivf i ON b.query_id = i.query_id
           |    AND b.nbr_id = i.nbr_id
           |  GROUP BY b.query_id),
           |kk AS (SELECT query_id, count(*)::BIGINT AS k_eff
           |  FROM brute GROUP BY query_id)
           |SELECT kk.query_id,
           |  coalesce(h.n_hits, 0)::BIGINT AS n_hits, kk.k_eff,
           |  CAST(coalesce(h.n_hits, 0) AS DOUBLE) /
           |    CAST(kk.k_eff AS DOUBLE) AS recall
           |FROM kk LEFT JOIN h USING (query_id)
           |ORDER BY query_id""".stripMargin,

      "q_hash_embed" -> (OracleXxh.prologue +
        s"""
           |WITH tk AS (SELECT doc_id AS id, unnest($toksSql) AS t
           |  FROM documents WHERE doc_id < 50)
           |SELECT id,
           |  CAST(((g_xxh_str(t) % 32) + 32) % 32 AS BIGINT) AS bucket,
           |  count(*)::BIGINT AS cnt
           |FROM tk GROUP BY 1, 2 ORDER BY id, bucket""".stripMargin),

      "q_doc_simsearch" -> (OracleXxh.prologue +
        s"""
           |WITH tk AS (SELECT doc_id AS id, unnest($toksSql) AS t
           |  FROM documents),
           |sp AS (SELECT id,
           |    CAST(((g_xxh_str(t) % 32) + 32) % 32 AS INTEGER)
           |      AS bucket, count(*)::BIGINT AS cnt
           |  FROM tk GROUP BY 1, 2),
           |ids AS (SELECT DISTINCT id FROM sp),
           |grid AS (SELECT ids.id, d.i FROM ids CROSS JOIN
           |  (SELECT unnest(range(0, 32))::INTEGER AS i) d),
           |dense AS MATERIALIZED (SELECT g.id,
           |    list(CAST(coalesce(sp.cnt, 0) AS DOUBLE) ORDER BY g.i)
           |      AS embedding
           |  FROM grid g LEFT JOIN sp ON sp.id = g.id
           |    AND sp.bucket = g.i
           |  GROUP BY g.id)
           |SELECT query_id, nbr_id, cosine, rank FROM (
           |  SELECT q.id AS query_id, c.id AS nbr_id,
           |    ${cosSql("q.embedding", "c.embedding")} AS cosine,
           |    row_number() OVER (PARTITION BY q.id
           |      ORDER BY ${cosSql("q.embedding", "c.embedding")} DESC,
           |               c.id) AS rank
           |  FROM dense q CROSS JOIN dense c
           |  WHERE q.id < 3 AND q.id <> c.id)
           |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),

      // doc clustering replay: the q_doc_simsearch dense build, then
      // the q_kmeans_assign seeded-argmin chain, then cluster rollup
      "q_doc_clusters" -> (OracleXxh.prologue +
        s"""
           |WITH tk AS (SELECT doc_id AS id, unnest($toksSql) AS t
           |  FROM documents),
           |sp AS (SELECT id,
           |    CAST(((g_xxh_str(t) % 16) + 16) % 16 AS INTEGER)
           |      AS bucket, count(*)::BIGINT AS cnt
           |  FROM tk GROUP BY 1, 2),
           |ids AS (SELECT DISTINCT id FROM sp),
           |grid AS (SELECT ids.id, d.i FROM ids CROSS JOIN
           |  (SELECT unnest(range(0, 16))::INTEGER AS i) d),
           |dense AS MATERIALIZED (SELECT g.id,
           |    list(CAST(coalesce(sp.cnt, 0) AS DOUBLE) ORDER BY g.i)
           |      AS embedding
           |  FROM grid g LEFT JOIN sp ON sp.id = g.id
           |    AND sp.bucket = g.i
           |  GROUP BY g.id),
           |cents AS (
           |  SELECT row_number() OVER (ORDER BY id) - 1 AS cell,
           |         embedding AS cv
           |  FROM dense ORDER BY id LIMIT 6),
           |dd AS (SELECT e.id, c.cell,
           |  list_reduce(list_prepend(0.0,
           |    list_transform(list_zip(e.embedding, c.cv),
           |      x -> (x[1]::DOUBLE - x[2]::DOUBLE)
           |         * (x[1]::DOUBLE - x[2]::DOUBLE))),
           |    (a, y) -> a + y) AS dist
           |  FROM dense e CROSS JOIN cents c),
           |asg AS (SELECT id, cell, row_number() OVER (
           |          PARTITION BY id ORDER BY dist, cell) AS rn
           |        FROM dd)
           |SELECT cell, count(*)::BIGINT AS n_docs,
           |  min(id) AS exemplar
           |FROM asg WHERE rn = 1
           |GROUP BY cell ORDER BY cell""".stripMargin),

      "q_blocklist" ->
        """SELECT doc_id,
          |  coalesce(array_to_string(
          |    list_filter(['customer', 'spam offer', 'filter'],
          |      p -> contains(lower(text), p)), '|'), '') AS hits,
          |  CAST(len(list_filter(['customer', 'spam offer', 'filter'],
          |    p -> contains(lower(text), p))) AS BIGINT) AS n_hits,
          |  len(list_filter(['customer', 'spam offer', 'filter'],
          |    p -> contains(lower(text), p))) > 0 AS blocked
          |FROM documents ORDER BY doc_id""".stripMargin,

      // crawl-ingest replay: cap (row_number ≤ 30 by n_chars desc) →
      // the q_gopher_rules keep predicate → content-key dedup with
      // min-id winners → per-domain rollup
      "q_pipeline_crawl" -> pipelineCrawlSql,

      // the YAML-DAG twin runs the SAME five stages through
      // Topology.runBatch — one oracle, two execution paths
      "q_pipeline_crawl_dag" -> pipelineCrawlSql,

      // dim-ablation replay: both top-5 lists brute-force (full vs
      // list_slice 16-dim), the recall join unchanged
      "q_dim_ablation" ->
        s"""WITH brute AS MATERIALIZED (
           |  SELECT query_id, nbr_id FROM (
           |    SELECT q.vec_id AS query_id, c.vec_id AS nbr_id,
           |      row_number() OVER (PARTITION BY q.vec_id
           |        ORDER BY ${cosSql("q.embedding", "c.embedding")} DESC,
           |                 c.vec_id) AS rank
           |    FROM embeddings q CROSS JOIN embeddings c
           |    WHERE q.vec_id < 5 AND q.vec_id <> c.vec_id)
           |  WHERE rank <= 5),
           |cut AS MATERIALIZED (SELECT vec_id,
           |    list_slice(embedding, 1, 16) AS embedding
           |  FROM embeddings),
           |approx AS MATERIALIZED (
           |  SELECT query_id, nbr_id FROM (
           |    SELECT q.vec_id AS query_id, c.vec_id AS nbr_id,
           |      row_number() OVER (PARTITION BY q.vec_id
           |        ORDER BY ${cosSql("q.embedding", "c.embedding")} DESC,
           |                 c.vec_id) AS rank
           |    FROM cut q CROSS JOIN cut c
           |    WHERE q.vec_id < 5 AND q.vec_id <> c.vec_id)
           |  WHERE rank <= 5),
           |h AS (SELECT b.query_id, count(*)::BIGINT AS n_hits
           |  FROM brute b JOIN approx i ON b.query_id = i.query_id
           |    AND b.nbr_id = i.nbr_id
           |  GROUP BY b.query_id),
           |kk AS (SELECT query_id, count(*)::BIGINT AS k_eff
           |  FROM brute GROUP BY query_id)
           |SELECT kk.query_id,
           |  coalesce(h.n_hits, 0)::BIGINT AS n_hits, kk.k_eff,
           |  CAST(coalesce(h.n_hits, 0) AS DOUBLE) /
           |    CAST(kk.k_eff AS DOUBLE) AS recall
           |FROM kk LEFT JOIN h USING (query_id)
           |ORDER BY query_id""".stripMargin,

      "q_ann_mrr" ->
        s"""WITH brute AS MATERIALIZED (
           |  SELECT query_id, nbr_id FROM (
           |    SELECT q.vec_id AS query_id, c.vec_id AS nbr_id,
           |      row_number() OVER (PARTITION BY q.vec_id
           |        ORDER BY ${cosSql("q.embedding", "c.embedding")} DESC,
           |                 c.vec_id) AS rank
           |    FROM embeddings q CROSS JOIN embeddings c
           |    WHERE q.vec_id < 5 AND q.vec_id <> c.vec_id)
           |  WHERE rank <= 5),
           |ivf AS MATERIALIZED (
           |  SELECT query_id, nbr_id, rank FROM (
           |    ${ivfOracleSql(k = 16, iters = 5, nProbe = 4, topK = 5)}
           |  ) ivfq),
           |f AS (SELECT i.query_id,
           |    CAST(min(i.rank) AS INTEGER) AS first_hit_rank
           |  FROM ivf i JOIN brute b ON b.query_id = i.query_id
           |    AND b.nbr_id = i.nbr_id
           |  GROUP BY i.query_id),
           |qq AS (SELECT DISTINCT query_id FROM brute)
           |SELECT qq.query_id, f.first_hit_rank,
           |  coalesce(1.0 / CAST(f.first_hit_rank AS DOUBLE), 0.0) AS rr
           |FROM qq LEFT JOIN f USING (query_id)
           |ORDER BY query_id""".stripMargin,

      // key-skew replay: exact per-key counts, 1-row totals, top-25
      "q_key_skew" ->
        """WITH c AS (SELECT coalesce(CAST(user_id AS VARCHAR), '␀')
          |    AS key, count(*)::BIGINT AS cnt FROM events GROUP BY 1),
          |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS total_rows,
          |    count(*)::BIGINT AS n_keys FROM c)
          |SELECT key, cnt,
          |  CAST(cnt AS DOUBLE) / CAST(total_rows AS DOUBLE) AS share,
          |  total_rows, n_keys
          |FROM c CROSS JOIN t
          |ORDER BY cnt DESC, key LIMIT 25""".stripMargin,

      // PCA replays: exact integer moments + unrolled power iteration
      "q_pca_fit" -> pcaOracleSql(k = 2, iters = 8, finalSelect =
        s"""SELECT 0::INTEGER AS component, dp.p AS i,
           |  f.v[dp.p + 1] AS loading, f.lam AS eigenvalue
           |FROM v_c0_8 f, dpos dp
           |UNION ALL
           |SELECT 1::INTEGER, dp.p, f.v[dp.p + 1], f.lam
           |FROM v_c1_8 f, dpos dp
           |ORDER BY component, i""".stripMargin),

      "q_pca_project" -> pcaOracleSql(k = 2, iters = 8, finalSelect =
        s"""SELECT e.vec_id,
           |  list_reduce(list_prepend(0.0, list_transform(
           |    list_zip(e.embedding, f0.v),
           |    x -> CAST(x[1] AS DOUBLE) * x[2])), (a, b) -> a + b) AS p0,
           |  list_reduce(list_prepend(0.0, list_transform(
           |    list_zip(e.embedding, f1.v),
           |    x -> CAST(x[1] AS DOUBLE) * x[2])), (a, b) -> a + b) AS p1
           |FROM embeddings e, v_c0_8 f0, v_c1_8 f1
           |ORDER BY vec_id""".stripMargin),

      "q_pca_whiten" -> pcaOracleSql(k = 2, iters = 8, finalSelect =
        s"""SELECT e.vec_id,
           |  list_reduce(list_prepend(0.0, list_transform(
           |    list_zip(e.embedding, f0.v),
           |    x -> CAST(x[1] AS DOUBLE) * x[2])), (a, b) -> a + b)
           |    / sqrt(f0.lam) AS p0,
           |  list_reduce(list_prepend(0.0, list_transform(
           |    list_zip(e.embedding, f1.v),
           |    x -> CAST(x[1] AS DOUBLE) * x[2])), (a, b) -> a + b)
           |    / sqrt(f1.lam) AS p1
           |FROM embeddings e, v_c0_8 f0, v_c1_8 f1
           |ORDER BY vec_id""".stripMargin),

      // SCD2 replay: null-safe change flags (IS NOT DISTINCT FROM ≡
      // Spark's <=>), keyed cumulative run ids, run collapse, interval
      // close via lead over runs
      "q_scd2" -> scd2Sql("TRUE"),

      // profile-delta replay: the q_profile aggregate twice (even/odd
      // halves) joined on col_name, identical IEEE delta arithmetic
      "q_profile_delta" -> {
        val cols = Seq("event_id", "user_id", "event_type", "value",
          "props")
        def side(tag: String, pred: String) = {
          val aggs = cols.zipWithIndex.map { case (c, i) =>
            s"count($c) AS c$i, count(DISTINCT $c) AS d$i"
          }.mkString(", ")
          val branches = cols.zipWithIndex.map { case (c, i) =>
            s"""SELECT '$c' AS col_name, n AS n_$tag,
               |  n - c$i AS nulls_$tag, d$i AS distinct_$tag
               |FROM agg_$tag""".stripMargin
          }.mkString("\nUNION ALL\n")
          s"""agg_$tag AS (SELECT count(*) AS n, $aggs
             |  FROM events WHERE $pred),
             |p_$tag AS (
             |$branches)""".stripMargin
        }
        s"""WITH ${side("a", "event_id % 2 = 0")},
           |${side("b", "event_id % 2 = 1")}
           |SELECT col_name, n_a, nulls_a, distinct_a,
           |  n_b, nulls_b, distinct_b,
           |  CAST(nulls_b AS DOUBLE) / CAST(n_b AS DOUBLE) -
           |    CAST(nulls_a AS DOUBLE) / CAST(n_a AS DOUBLE)
           |    AS null_rate_delta,
           |  distinct_b - distinct_a AS distinct_delta
           |FROM p_a JOIN p_b USING (col_name)
           |ORDER BY col_name""".stripMargin
      },

      // upsert replay: snapshot = latest even row per user, union the
      // odd changes, keep the per-user max (ts, event_id) row
      "q_upsert" ->
        """WITH snap AS (SELECT user_id, event_type, value, ts, event_id
          |  FROM (SELECT user_id, event_type, value, ts, event_id,
          |      row_number() OVER (PARTITION BY user_id
          |        ORDER BY ts DESC, event_id DESC) AS rn
          |    FROM events WHERE event_id % 2 = 0) s WHERE rn = 1),
          |u AS (SELECT * FROM snap
          |  UNION ALL
          |  SELECT user_id, event_type, value, ts, event_id
          |  FROM events WHERE event_id % 2 = 1)
          |SELECT user_id, event_type, value, ts, event_id FROM (
          |  SELECT *, row_number() OVER (PARTITION BY user_id
          |    ORDER BY ts DESC, event_id DESC) AS rn FROM u) t
          |WHERE rn = 1 ORDER BY user_id""".stripMargin,

      // the ORC leg is Spark-side plumbing; the oracle checks the rollup
      // over the same rows from parquet
      "q_orc_roundtrip" ->
        """SELECT source, count(*)::BIGINT AS n_docs,
          |  sum(n_chars)::BIGINT AS total_chars
          |FROM documents GROUP BY source ORDER BY source""".stripMargin,

      // round-trip is identity, so the oracles read the original table,
      // replaying the injected quote/comma/backslash suffix (DuckDB
      // single-quoted literals keep backslash literal, like Spark's lit)
      "q_jsonl_roundtrip" ->
        """SELECT lang, count(*)::BIGINT AS n_docs,
          |  sum(n_chars)::BIGINT AS total_chars,
          |  sum(len(text || ' "q", \end'))::BIGINT AS total_text_chars
          |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

      "q_csv_roundtrip" ->
        """SELECT source, count(*)::BIGINT AS n_docs,
          |  sum(n_chars)::BIGINT AS total_chars,
          |  sum(len(text || ' "q", \end'))::BIGINT AS total_text_chars
          |FROM documents GROUP BY source ORDER BY source""".stripMargin,

      // json topics through the DAG runner are identity hops, so the
      // oracle replays the gate over the original table
      "q_jsonl_dag" ->
        """SELECT lang, count(*)::BIGINT AS n_docs,
          |  sum(n_chars)::BIGINT AS total_chars
          |FROM documents WHERE doc_id < 5000 AND n_chars >= 100
          |GROUP BY lang ORDER BY lang""".stripMargin,

      "q_profile" -> {
        val cols = Seq("event_id", "user_id", "event_type", "value",
          "props")
        val aggs = cols.zipWithIndex.map { case (c, i) =>
          s"""count($c) AS c$i, count(DISTINCT $c) AS d$i,
             |  min(TRY_CAST($c AS DOUBLE)) AS mn$i,
             |  max(TRY_CAST($c AS DOUBLE)) AS mx$i""".stripMargin
        }.mkString(",\n  ")
        val branches = cols.zipWithIndex.map { case (c, i) =>
          s"""SELECT '$c' AS col_name, n, n - c$i AS nulls,
             |  d$i AS n_distinct, mn$i AS min_num, mx$i AS max_num
             |FROM a""".stripMargin
        }.mkString("\nUNION ALL\n")
        s"""WITH a AS (SELECT count(*) AS n,
           |  $aggs
           |FROM events)
           |$branches
           |ORDER BY col_name""".stripMargin
      },

      // resample replay: hour buckets, per-key complete grid via
      // generate_series, decimal-exact sums, IGNORE NULLS running
      // last_value for the forward fill
      "q_resample" ->
        """WITH b AS (SELECT user_id, date_trunc('hour', ts) AS bucket,
          |    count(*)::BIGINT AS n,
          |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
          |      AS sum_value
          |  FROM events GROUP BY 1, 2),
          |s AS (SELECT user_id, min(bucket) AS b0, max(bucket) AS b1
          |      FROM b GROUP BY 1),
          |g AS (SELECT s.user_id, t.bucket FROM s,
          |      unnest(generate_series(s.b0, s.b1, INTERVAL 1 HOUR))
          |        AS t(bucket)),
          |j AS (SELECT g.user_id, g.bucket, coalesce(b.n, 0) AS n,
          |        b.sum_value
          |      FROM g LEFT JOIN b
          |        ON b.user_id = g.user_id AND b.bucket = g.bucket)
          |SELECT user_id, bucket, n, sum_value,
          |  last_value(sum_value IGNORE NULLS) OVER (
          |    PARTITION BY user_id ORDER BY bucket
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          |    AS filled_value
          |FROM j ORDER BY user_id, bucket""".stripMargin,

      // anomaly replay: the q_stats exact-moment chain per event_type,
      // one (sub, div) per row, abs > 3 cut
      "q_anomaly" ->
        """WITH st AS (SELECT event_type,
          |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
          |      / count(value) AS mean,
          |    sqrt((CAST(sum(CAST(CAST(value AS DECIMAL(18,2))
          |             * CAST(value AS DECIMAL(18,2))
          |             AS DECIMAL(38,4))) AS DOUBLE)
          |      - CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
          |        * CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
          |        / CAST(count(value) AS DOUBLE))
          |      / (CAST(count(value) AS DOUBLE) - 1.0)) AS sd
          |  FROM events GROUP BY event_type)
          |SELECT e.event_id, e.event_type, e.value,
          |       (e.value - st.mean) / st.sd AS z
          |FROM events e JOIN st USING (event_type)
          |WHERE st.sd > 0
          |  AND abs((e.value - st.mean) / st.sd) > 3.0
          |ORDER BY e.event_id""".stripMargin,

      // HITS replay: per iteration an authority pass (sum of in-hub
      // mass, max-rescaled by floor div) then a hub pass over the NEW
      // authorities — Kleinberg's sequential order, all exact integers
      "q_hits" -> {
        val iterCtes = (1 to 2).map { i =>
          val ph = if (i == 1) "h0" else s"h${i - 1}"
          s"""ar$i AS (SELECT e.dst AS node, sum(h.rank * e.w) AS r
             |  FROM e0 e JOIN $ph h ON h.node = e.src GROUP BY e.dst),
             |af$i AS (SELECT n.node, coalesce(ar$i.r, 0) AS r
             |  FROM nodes n LEFT JOIN ar$i ON ar$i.node = n.node),
             |am$i AS (SELECT max(r) AS mx FROM af$i),
             |a$i AS (SELECT node, CAST(CASE WHEN mx > 0
             |    THEN (r * 1000000000) // mx ELSE 0 END AS BIGINT) AS rank
             |  FROM af$i CROSS JOIN am$i),
             |hr$i AS (SELECT e.src AS node, sum(a.rank * e.w) AS r
             |  FROM e0 e JOIN a$i a ON a.node = e.dst GROUP BY e.src),
             |hf$i AS (SELECT n.node, coalesce(hr$i.r, 0) AS r
             |  FROM nodes n LEFT JOIN hr$i ON hr$i.node = n.node),
             |hm$i AS (SELECT max(r) AS mx FROM hf$i),
             |h$i AS (SELECT node, CAST(CASE WHEN mx > 0
             |    THEN (r * 1000000000) // mx ELSE 0 END AS BIGINT) AS rank
             |  FROM hf$i CROSS JOIN hm$i)""".stripMargin
        }.mkString(",\n")
        s"""WITH ed AS (
           |  SELECT lag(event_type) OVER (
           |           PARTITION BY user_id ORDER BY ts, event_id) AS src,
           |         event_type AS dst
           |  FROM events),
           |e0 AS (SELECT src, dst, count(*)::BIGINT AS w FROM ed
           |       WHERE src IS NOT NULL GROUP BY src, dst),
           |nodes AS (SELECT DISTINCT node FROM (
           |  SELECT src AS node FROM e0 UNION ALL SELECT dst FROM e0)),
           |h0 AS (SELECT node, 1000000000::BIGINT AS rank FROM nodes),
           |$iterCtes
           |SELECT n.node, h2.rank AS hub, a2.rank AS authority
           |FROM nodes n
           |JOIN h2 ON h2.node = n.node
           |JOIN a2 ON a2.node = n.node
           |ORDER BY n.node""".stripMargin
      },

      // doc-graph PageRank replay: the q_ngram_jaccard pair chain at
      // threshold 0.3, symmetric directed edges, 2 unrolled integer
      // iterations (the q_pagerank arithmetic on doc-id nodes)
      "q_pagerank_docs" -> {
        val iterCtes = (1 to 2).map { i =>
          s"""c$i AS (SELECT e.dst, sum((r.rank * e.w) // o.ow) AS s
             |  FROM e0 e JOIN ow o USING (src)
             |  JOIN r${i - 1} r ON r.node = e.src
             |  GROUP BY e.dst),
             |r$i AS (SELECT n.node,
             |  CAST(150000000 + coalesce((c$i.s * 85) // 100, 0) AS BIGINT)
             |    AS rank
             |  FROM nodes n LEFT JOIN c$i ON c$i.dst = n.node)""".stripMargin
        }.mkString(",\n")
        s"""WITH toks AS (SELECT doc_id, $toksSql AS ts FROM documents),
           |sets AS (
           |  SELECT doc_id, list_distinct(list_transform(
           |    generate_series(1, greatest(len(ts) - 2, 0)),
           |    i -> array_to_string(list_slice(ts, i, i + 2), ' '))) AS sh
           |  FROM toks WHERE len(ts) >= 3),
           |e AS (SELECT doc_id, len(sh) AS n, unnest(sh) AS s FROM sets
           |      WHERE len(sh) > 0),
           |pr AS (SELECT id_a, id_b FROM (
           |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           |         CAST(count(*) AS DOUBLE)
           |           / (any_value(a.n) + any_value(b.n) - count(*))
           |           AS jaccard
           |  FROM e a JOIN e b ON a.s = b.s AND a.doc_id < b.doc_id
           |  GROUP BY 1, 2)
           |  WHERE jaccard >= 0.3),
           |e0 AS (SELECT id_a AS src, id_b AS dst, 1::BIGINT AS w FROM pr
           |       UNION ALL
           |       SELECT id_b AS src, id_a AS dst, 1::BIGINT AS w FROM pr),
           |ow AS (SELECT src, sum(w)::BIGINT AS ow FROM e0 GROUP BY src),
           |nodes AS (SELECT DISTINCT node FROM (
           |  SELECT src AS node FROM e0 UNION ALL SELECT dst FROM e0)),
           |r0 AS (SELECT node, 1000000000::BIGINT AS rank FROM nodes),
           |$iterCtes
           |SELECT node, rank FROM r2 ORDER BY node""".stripMargin
      },

      // exact TVD between the even/odd snapshot halves: cross-multiplied
      // integer numerators in HUGEINT, one cast + one division — the
      // identical op sequence to Drift.tokenDrift
      "q_token_drift" ->
        s"""WITH ca AS (
           |  SELECT token, count(*) AS cnt_a FROM (
           |    SELECT unnest($toksSql) AS token FROM documents
           |    WHERE doc_id % 2 = 0) GROUP BY 1),
           |cb AS (
           |  SELECT token, count(*) AS cnt_b FROM (
           |    SELECT unnest($toksSql) AS token FROM documents
           |    WHERE doc_id % 2 = 1) GROUP BY 1),
           |j AS (SELECT coalesce(cnt_a, 0)::HUGEINT AS cnt_a,
           |             coalesce(cnt_b, 0)::HUGEINT AS cnt_b
           |      FROM ca FULL OUTER JOIN cb USING (token)),
           |tot AS (SELECT sum(cnt_a) AS n_a, sum(cnt_b) AS n_b FROM j)
           |SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           |       CAST((SELECT sum(abs(cnt_a * n_b - cnt_b * n_a))
           |             FROM j, tot) AS DOUBLE) AS tvd_num,
           |       CAST((SELECT sum(abs(cnt_a * n_b - cnt_b * n_a))
           |             FROM j, tot) AS DOUBLE)
           |         / (2.0 * CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))
           |         AS tvd
           |FROM tot""".stripMargin,

      // top-20 drift contributors between the en and de slices, ranked
      // by the exact integer numerator (ties token asc)
      "q_drift_top" ->
        s"""WITH ca AS (
           |  SELECT token, count(*) AS cnt_a FROM (
           |    SELECT unnest($toksSql) AS token FROM documents
           |    WHERE lang = 'en') GROUP BY 1),
           |cb AS (
           |  SELECT token, count(*) AS cnt_b FROM (
           |    SELECT unnest($toksSql) AS token FROM documents
           |    WHERE lang = 'de') GROUP BY 1),
           |j AS (SELECT token,
           |             coalesce(cnt_a, 0)::BIGINT AS cnt_a,
           |             coalesce(cnt_b, 0)::BIGINT AS cnt_b,
           |             coalesce(cnt_a, 0)::HUGEINT AS ha,
           |             coalesce(cnt_b, 0)::HUGEINT AS hb
           |      FROM ca FULL OUTER JOIN cb USING (token)),
           |tot AS (SELECT sum(ha) AS n_a, sum(hb) AS n_b FROM j)
           |SELECT token, cnt_a, cnt_b,
           |       CAST(abs(ha * n_b - hb * n_a) AS DOUBLE) AS drift_num,
           |       CASE WHEN ha * n_b > hb * n_a THEN 'a'
           |            WHEN ha * n_b < hb * n_a THEN 'b'
           |            ELSE '=' END AS heavier
           |FROM j, tot
           |ORDER BY abs(ha * n_b - hb * n_a) DESC, token LIMIT 20""".stripMargin,

      "q_weighted_sample" -> OracleXxh.q_weighted_sample(k = 50, seed = 7),

      "q_quota_sample" -> OracleXxh.q_quota_sample(kPerStratum = 3,
        seed = 7),

      // funnel latency: the q_funnel chain carrying its matched
      // timestamps, exact micros gaps, the type-1 quantile rank per depth
      "q_funnel_latency" ->
        """WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
          |            WHERE event_type = 'view' GROUP BY user_id),
          |s2 AS (SELECT e.user_id, min(e.ts) AS t2,
          |              any_value(s1.t1) AS w1 FROM events e
          |       JOIN s1 ON e.user_id = s1.user_id
          |       WHERE e.event_type = 'click' AND e.ts > s1.t1
          |         AND e.ts <= s1.t1 + INTERVAL 86400 SECONDS
          |       GROUP BY e.user_id),
          |s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
          |       JOIN s2 ON e.user_id = s2.user_id
          |       WHERE e.event_type = 'purchase' AND e.ts > s2.t2
          |         AND e.ts <= s2.w1 + INTERVAL 86400 SECONDS
          |       GROUP BY e.user_id),
          |f AS (SELECT s1.user_id,
          |        CAST(CASE WHEN s3.user_id IS NOT NULL THEN 3
          |                  WHEN s2.user_id IS NOT NULL THEN 2
          |                  ELSE 1 END AS INT) AS depth,
          |        epoch_us(CASE WHEN s3.user_id IS NOT NULL THEN s3.t3
          |                      WHEN s2.user_id IS NOT NULL THEN s2.t2
          |                      ELSE s1.t1 END)
          |          - epoch_us(s1.t1) AS lat
          |      FROM s1
          |      LEFT JOIN s2 ON s1.user_id = s2.user_id
          |      LEFT JOIN s3 ON s1.user_id = s3.user_id),
          |r AS (SELECT depth, lat,
          |        row_number() OVER (PARTITION BY depth ORDER BY lat)
          |          AS rn,
          |        count(*) OVER (PARTITION BY depth) AS n FROM f)
          |SELECT depth, n, lat AS q FROM r
          |WHERE rn = greatest(1, CAST(ceil(0.5 * n) AS BIGINT))
          |ORDER BY depth""".stripMargin,

      // type-1 quantile: identical rank arithmetic (ceil of one IEEE
      // multiply), value picked by ascending row_number
      // two-level bucket rank (mirrors the engine's own tercile
      // trick): per-(key, floor(value)) counts + a running sum locate
      // the bucket holding rank r; only THAT bucket's rows get a
      // row_number. Replaces the corpus-wide per-key window the r11
      // driver OOM'd on — floor(value) is monotone in value, so
      // local rank + rows-below = the global rank bit-for-bit
      "q_quantile_by_key" ->
        """WITH n AS (SELECT event_type, count(*)::BIGINT AS n
          |  FROM events GROUP BY 1),
          |tgt AS (SELECT event_type, n,
          |  greatest(1, CAST(ceil(0.95 * n) AS BIGINT)) AS r FROM n),
          |b AS (SELECT event_type, floor(value) AS bkt,
          |  count(*)::BIGINT AS c FROM events GROUP BY 1, 2),
          |cum AS (SELECT event_type, bkt, c,
          |  sum(c) OVER (PARTITION BY event_type ORDER BY bkt
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          |    AS upto
          |  FROM b),
          |pick AS (SELECT c.event_type, c.bkt, c.upto - c.c AS below,
          |  t.n, t.r
          |  FROM cum c JOIN tgt t USING (event_type)
          |  WHERE t.r > c.upto - c.c AND t.r <= c.upto),
          |loc AS (SELECT e.event_type, e.value, p.n, p.r, p.below,
          |  row_number() OVER (PARTITION BY e.event_type
          |    ORDER BY e.value) AS rl
          |  FROM events e JOIN pick p
          |    ON e.event_type = p.event_type
          |   AND floor(e.value) = p.bkt)
          |SELECT event_type, n, value AS q FROM loc
          |WHERE rl + below = r
          |ORDER BY event_type""".stripMargin,

      "q_rolling_actives" -> OracleXxh.q_rolling_actives(windowDays = 7),

      // robust anomaly replay: two type-1 quantile chains (the
      // q_quantile_by_key rank arithmetic) + the division
      "q_anomaly_robust" ->
        """WITH med AS (SELECT event_type, q AS med FROM (
          |  SELECT event_type, value AS q,
          |    row_number() OVER (PARTITION BY event_type
          |      ORDER BY value) AS rn,
          |    count(*) OVER (PARTITION BY event_type) AS n
          |  FROM events) t
          |  WHERE rn = greatest(1, CAST(ceil(0.5 * n) AS BIGINT))),
          |dev AS (SELECT e.event_id, e.event_type, e.value, m.med,
          |    abs(e.value - m.med) AS absdev
          |  FROM events e JOIN med m USING (event_type)),
          |mad AS (SELECT event_type, q AS mad FROM (
          |  SELECT event_type, absdev AS q,
          |    row_number() OVER (PARTITION BY event_type
          |      ORDER BY absdev) AS rn,
          |    count(*) OVER (PARTITION BY event_type) AS n
          |  FROM dev) t
          |  WHERE rn = greatest(1, CAST(ceil(0.5 * n) AS BIGINT)))
          |SELECT d.event_id, d.event_type, d.value, d.med, a.mad,
          |  d.absdev / a.mad AS score
          |FROM dev d JOIN mad a USING (event_type)
          |WHERE a.mad > 0.0 AND d.absdev / a.mad > 3.5
          |ORDER BY event_id""".stripMargin,

      // collocations: sliced-list bigram expansion (the bigramLik
      // pattern), HUGEINT cross-products, one IEEE division
      "q_collocations" ->
        s"""WITH toks AS (SELECT $toksSql AS ts FROM documents),
           |uni AS (SELECT w, count(*) AS c FROM (
           |  SELECT unnest(ts) AS w FROM toks) GROUP BY 1),
           |n AS (SELECT sum(c)::HUGEINT AS n FROM uni),
           |pr AS (
           |  SELECT w1, w2, count(*) AS c_ab FROM (
           |    SELECT unnest(list_transform(ts[1:len(ts)-1],
           |      (x, i) -> {'w1': x, 'w2': ts[i+1]}),
           |      recursive := true)
           |    FROM toks WHERE len(ts) >= 2)
           |  GROUP BY 1, 2 HAVING count(*) >= 5)
           |SELECT pr.w1, pr.w2, pr.c_ab, a.c AS c_a, b.c AS c_b,
           |       CAST(pr.c_ab::HUGEINT * n.n AS DOUBLE)
           |         / CAST(a.c::HUGEINT * b.c::HUGEINT AS DOUBLE)
           |         AS lift
           |FROM pr JOIN uni a ON a.w = pr.w1
           |JOIN uni b ON b.w = pr.w2 CROSS JOIN n
           |ORDER BY lift DESC, pr.w1, pr.w2 LIMIT 30""".stripMargin,

      // the SqlOp transform is itself SQL — the oracle is the same text
      "q_sql_op" ->
        """SELECT event_type, count(*) AS n,
          |       CAST(min(value) AS DOUBLE) AS min_v,
          |       CAST(max(value) AS DOUBLE) AS max_v
          |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

      // composed monitoring: per-source card (docs, gopher passes) +
      // the q_drift_by_source TVD chain against the odd-id reference
      "q_pipeline_monitor" ->
        s"""WITH snap AS (
           |  SELECT source, $toksSql AS ts FROM documents
           |  WHERE doc_id % 3 = 0),
           |card AS (
           |  SELECT source, count(*)::BIGINT AS n_docs,
           |    sum(CASE WHEN
           |      len(ts) BETWEEN 50 AND 100000
           |      AND CAST(list_sum(list_transform(ts, t -> len(t)))
           |          AS DOUBLE) / len(ts) BETWEEN 3.0 AND 10.0
           |      AND CAST(len(list_filter(ts,
           |          t -> regexp_matches(t, '[a-z]'))) AS DOUBLE)
           |          / len(ts) >= 0.8
           |      AND CAST(len(list_filter(ts, t -> contains(t, '#')
           |          OR contains(t, '...'))) AS DOUBLE) / len(ts) <= 0.1
           |      AND len(list_filter(ts, t -> list_contains(
           |          ['the', 'be', 'to', 'of', 'and', 'that', 'have',
           |           'with'], t))) >= 2
           |      THEN 1 ELSE 0 END)::BIGINT AS n_gopher_pass
           |  FROM snap GROUP BY 1),
           |sc AS (
           |  SELECT source AS stratum, token, count(*) AS cnt_a FROM (
           |    SELECT source, unnest(ts) AS token FROM snap)
           |  GROUP BY 1, 2),
           |rc AS (
           |  SELECT token, count(*) AS cnt_b FROM (
           |    SELECT unnest($toksSql) AS token FROM documents
           |    WHERE doc_id % 3 <> 0) GROUP BY 1),
           |tot AS (SELECT sum(cnt_b)::HUGEINT AS n_b FROM rc),
           |st AS (SELECT stratum, sum(cnt_a)::HUGEINT AS n_a FROM sc
           |       GROUP BY 1),
           |j AS (SELECT sc.stratum, sc.cnt_a::HUGEINT AS ca,
           |             coalesce(rc.cnt_b, 0)::HUGEINT AS cb
           |      FROM sc LEFT JOIN rc USING (token)),
           |agg AS (
           |  SELECT j.stratum,
           |         sum(abs(j.ca * tot.n_b - j.cb * st.n_a)) AS s1,
           |         sum(j.cb) AS m,
           |         any_value(st.n_a) AS n_a, any_value(tot.n_b) AS n_b
           |  FROM j JOIN st ON st.stratum = j.stratum CROSS JOIN tot
           |  GROUP BY j.stratum)
           |SELECT card.source, card.n_docs, card.n_gopher_pass,
           |       CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           |       CAST(s1 + n_a * (n_b - m) AS DOUBLE) AS tvd_num,
           |       CAST(s1 + n_a * (n_b - m) AS DOUBLE)
           |         / (2.0 * CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))
           |         AS tvd
           |FROM card JOIN agg ON agg.stratum = card.source
           |ORDER BY card.source""".stripMargin,

      // adjacent-window self-drift over hourly value histograms:
      // present-window rank pairing, per-pair bucket-union full outer,
      // the q_token_drift numerator chain
      "q_adjacent_drift" ->
        """WITH cells AS (
          |  SELECT date_trunc('hour', ts) AS w,
          |         CAST(least(greatest(
          |           floor((value - 0.0) / 500.0 * 8.0), 0), 7)
          |           AS BIGINT) AS bucket,
          |         count(*) AS cnt
          |  FROM events GROUP BY 1, 2),
          |tot AS (SELECT w, sum(cnt)::HUGEINT AS tot,
          |               row_number() OVER (ORDER BY w) AS r
          |        FROM cells GROUP BY w),
          |pairs AS (SELECT c.w AS w, p.w AS pw,
          |                 c.tot AS n_a, p.tot AS n_b
          |          FROM tot c JOIN tot p ON c.r = p.r + 1),
          |bks AS (SELECT DISTINCT w, pw, bucket FROM (
          |  SELECT pairs.w, pairs.pw, cells.bucket FROM pairs
          |  JOIN cells ON cells.w = pairs.w
          |  UNION ALL
          |  SELECT pairs.w, pairs.pw, cells.bucket FROM pairs
          |  JOIN cells ON cells.w = pairs.pw)),
          |j AS (SELECT b.w, b.pw,
          |             coalesce(a.cnt, 0)::HUGEINT AS ca,
          |             coalesce(p.cnt, 0)::HUGEINT AS cb
          |      FROM bks b
          |      LEFT JOIN cells a ON a.w = b.w AND a.bucket = b.bucket
          |      LEFT JOIN cells p ON p.w = b.pw AND p.bucket = b.bucket),
          |agg AS (SELECT j.w, j.pw,
          |               sum(abs(ca * t.n_b - cb * t.n_a)) AS s,
          |               any_value(t.n_a) AS n_a, any_value(t.n_b) AS n_b
          |        FROM j JOIN pairs t ON t.w = j.w GROUP BY j.w, j.pw)
          |SELECT w AS window_start, pw AS prev_start,
          |       CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
          |       CAST(s AS DOUBLE) AS tvd_num,
          |       CAST(s AS DOUBLE)
          |         / (2.0 * CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))
          |         AS tvd
          |FROM agg ORDER BY 1""".stripMargin,

      // as-of enrichment through the streaming temporal-join factory:
      // newest view at or before each purchase, ties to the larger
      // event_id
      "q_temporal_join" ->
        """SELECT id, user_id, r_ts, r_value FROM (
          |  SELECT p.event_id AS id, p.user_id, v.ts AS r_ts,
          |         v.value AS r_value,
          |         row_number() OVER (PARTITION BY p.event_id
          |           ORDER BY v.ts DESC, v.event_id DESC) AS rn
          |  FROM (SELECT * FROM events WHERE event_type = 'purchase') p
          |  LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
          |    ON v.user_id = p.user_id AND v.ts <= p.ts)
          |WHERE rn = 1 ORDER BY id""".stripMargin,

      // the salted join must EQUAL the plain join — the oracle IS the
      // unsalted form
      "q_salted_join" ->
        """SELECT c_mktsegment, count(*) AS n_orders,
          |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
          |            AS DOUBLE) AS total
          |FROM orders JOIN customer ON o_custkey = c_custkey
          |GROUP BY 1 ORDER BY 1""".stripMargin,

      // per-source TVD vs the whole corpus: left join + totals closure
      // (reference-only mass = n_a·(n_b − matched ref counts))
      "q_drift_by_source" ->
        s"""WITH sc AS (
           |  SELECT stratum, token, count(*) AS cnt_a FROM (
           |    SELECT source AS stratum, unnest($toksSql) AS token
           |    FROM documents) GROUP BY 1, 2),
           |rc AS (
           |  SELECT token, count(*) AS cnt_b FROM (
           |    SELECT unnest($toksSql) AS token FROM documents)
           |  GROUP BY 1),
           |tot AS (SELECT sum(cnt_b)::HUGEINT AS n_b FROM rc),
           |st AS (SELECT stratum, sum(cnt_a)::HUGEINT AS n_a FROM sc
           |       GROUP BY 1),
           |j AS (SELECT sc.stratum, sc.cnt_a::HUGEINT AS ca,
           |             coalesce(rc.cnt_b, 0)::HUGEINT AS cb
           |      FROM sc LEFT JOIN rc USING (token)),
           |agg AS (
           |  SELECT j.stratum,
           |         sum(abs(j.ca * tot.n_b - j.cb * st.n_a)) AS s1,
           |         sum(j.cb) AS m,
           |         any_value(st.n_a) AS n_a, any_value(tot.n_b) AS n_b
           |  FROM j JOIN st ON st.stratum = j.stratum CROSS JOIN tot
           |  GROUP BY j.stratum)
           |SELECT stratum, CAST(n_a AS BIGINT) AS n_a,
           |       CAST(n_b AS BIGINT) AS n_b,
           |       CAST(s1 + n_a * (n_b - m) AS DOUBLE) AS tvd_num,
           |       CAST(s1 + n_a * (n_b - m) AS DOUBLE)
           |         / (2.0 * CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))
           |         AS tvd
           |FROM agg ORDER BY stratum""".stripMargin,

      // fixed-bin value-histogram TVD, purchase vs view: identical
      // binning arithmetic ((x−lo)/range·bins, floor, clamp) then the
      // q_token_drift numerator chain over buckets
      "q_hist_drift" ->
        """WITH ca AS (
          |  SELECT bucket, count(*) AS cnt_a FROM (
          |    SELECT CAST(least(greatest(
          |      floor((value - 0.0) / 500.0 * 32.0), 0), 31) AS BIGINT)
          |      AS bucket FROM events WHERE event_type = 'purchase')
          |  GROUP BY 1),
          |cb AS (
          |  SELECT bucket, count(*) AS cnt_b FROM (
          |    SELECT CAST(least(greatest(
          |      floor((value - 0.0) / 500.0 * 32.0), 0), 31) AS BIGINT)
          |      AS bucket FROM events WHERE event_type = 'view')
          |  GROUP BY 1),
          |j AS (SELECT coalesce(cnt_a, 0)::HUGEINT AS cnt_a,
          |             coalesce(cnt_b, 0)::HUGEINT AS cnt_b
          |      FROM ca FULL OUTER JOIN cb USING (bucket)),
          |tot AS (SELECT sum(cnt_a) AS n_a, sum(cnt_b) AS n_b FROM j)
          |SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
          |       CAST((SELECT sum(abs(cnt_a * n_b - cnt_b * n_a))
          |             FROM j, tot) AS DOUBLE) AS tvd_num,
          |       CAST((SELECT sum(abs(cnt_a * n_b - cnt_b * n_a))
          |             FROM j, tot) AS DOUBLE)
          |         / (2.0 * CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))
          |         AS tvd
          |FROM tot""".stripMargin,

      // compaction + z-order is pure layout: the rows that survive a
      // both-dims predicate are exactly the source table's
      "q_compact_zorder" ->
        """SELECT event_id, user_id, value FROM events
          |WHERE user_id BETWEEN 10 AND 30
          |  AND value BETWEEN 10.0 AND 60.0
          |ORDER BY event_id""".stripMargin,

      // interval join: purchases × same-user views within ±30 minutes —
      // exact integer-micros timestamp arithmetic in both engines
      "q_interval_join" ->
        """SELECT l.user_id, l.event_id, r.event_id AS r_event_id
          |FROM (SELECT * FROM events WHERE event_type = 'purchase') l
          |JOIN (SELECT * FROM events WHERE event_type = 'view') r
          |  ON l.user_id = r.user_id
          | AND r.ts >= l.ts - INTERVAL 30 MINUTE
          | AND r.ts <= l.ts + INTERVAL 30 MINUTE
          |ORDER BY 1, 2, 3""".stripMargin
    )
    // the _dag twins run the SAME computation through Topology.runBatch
    // (YAML streaming-op factories in batch mode) — identical oracles
    // by construction, so a factory/runner divergence shows up as a
    // red driver row, not just a ScalaTest parity failure
    base ++ Map(
      "q_funnel_counts_dag" -> base("q_funnel_counts"),
      "q_rolling_actives_dag" -> base("q_rolling_actives"),
      "q_transitions_dag" -> base("q_transitions"),
      "q_temporal_join_dag" -> base("q_temporal_join"),
      "q_neardup_dag" -> base("q_minhash_novel_verified"),
      "q_drift_dag" -> OracleXxh.q_drift_dag(buckets = 64, seed = 0,
        epoch0 = 1704067200L),
      "q_scd_dag" -> scd2Sql("user_id % 5 = 0"),
      // same quantizer replay as q_simsearch_ivf; the single-ts
      // fixture's window floors to the constant 2024-01-01 epoch
      "q_simsearch_dag" -> ivfOracleSql(k = 16, iters = 5, nProbe = 4,
        topK = 5,
        selectPrefix = "CAST(1704067200 AS BIGINT) AS window_start, "),
      // the q_quality_nb replay on the capped corpus, with the gate's
      // two documented divergences: zero-token rows are KEPT with
      // score 0.0 until min_score drops them, and the admitted set is
      // the score >= 1.0 slice (the fixed-point quantized score is
      // bit-identical on both sides, so the threshold boundary cannot
      // flap between engines)
      "q_nbgate_dag" ->
        s"""WITH corpus AS (
           |  SELECT doc_id, lang, text FROM documents WHERE doc_id < 500),
           |dt AS (
           |  SELECT doc_id, w, count(*)::BIGINT AS c
           |  FROM (SELECT doc_id, unnest($toksSql) AS w FROM corpus)
           |  GROUP BY doc_id, w),
           |cpos AS (
           |  SELECT w, count(*)::BIGINT AS cp
           |  FROM (SELECT unnest($toksSql) AS w
           |        FROM corpus WHERE lang = 'en')
           |  GROUP BY w),
           |cneg AS (SELECT w, sum(c)::BIGINT AS cn FROM dt GROUP BY w),
           |vocab AS (
           |  SELECT w, coalesce(cp, 0)::BIGINT AS cp,
           |         coalesce(cn, 0)::BIGINT AS cn
           |  FROM cpos FULL OUTER JOIN cneg USING (w)
           |  ORDER BY (coalesce(cp, 0) + coalesce(cn, 0)) DESC, w ASC
           |  LIMIT 64),
           |tot AS (SELECT coalesce((SELECT sum(cp) FROM cpos),
           |                        0)::BIGINT AS np,
           |               coalesce((SELECT sum(c) FROM dt),
           |                        0)::BIGINT AS nn,
           |               (SELECT count(*) FROM vocab)::BIGINT AS v),
           |dn AS (SELECT doc_id, sum(c)::BIGINT AS n_tokens
           |  FROM dt GROUP BY doc_id),
           |dv AS (
           |  SELECT dt.doc_id, sum(dt.c)::BIGINT AS n_v,
           |    sum(dt.c::HUGEINT * floor(
           |      ((vo.cp + 1)::HUGEINT
           |         * (tot.nn + tot.v)::HUGEINT)::DOUBLE /
           |      ((vo.cn + 1)::HUGEINT
           |         * (tot.np + tot.v)::HUGEINT)::DOUBLE
           |      * 1e12)::HUGEINT) AS s_v
           |  FROM dt JOIN vocab vo USING (w) CROSS JOIN tot
           |  GROUP BY dt.doc_id),
           |scored AS (
           |  SELECT d.doc_id,
           |    coalesce(dn.n_tokens, 0)::BIGINT AS n_tokens,
           |    (coalesce(dn.n_tokens, 0)
           |       - coalesce(dv.n_v, 0))::BIGINT AS n_oov,
           |    CASE WHEN coalesce(dn.n_tokens, 0) = 0 THEN 0.0 ELSE
           |      ((coalesce(dv.s_v, 0::HUGEINT)
           |        + (dn.n_tokens - coalesce(dv.n_v, 0))::HUGEINT
           |          * floor((1::HUGEINT
           |              * (tot.nn + tot.v)::HUGEINT)::DOUBLE /
           |            (1::HUGEINT
           |              * (tot.np + tot.v)::HUGEINT)::DOUBLE
           |            * 1e12)::HUGEINT)::DOUBLE
           |       / dn.n_tokens / 1e12) END AS nb_score
           |  FROM corpus d LEFT JOIN dn USING (doc_id)
           |       LEFT JOIN dv USING (doc_id) CROSS JOIN tot)
           |SELECT doc_id, n_tokens, n_oov, nb_score FROM scored
           |WHERE nb_score >= 1.0 ORDER BY doc_id""".stripMargin,
      // the dag twin caps its corpus (bench-weight budget: the DAG
      // materializes the exploded item stream as a sink parquet)
      "q_countmin_dag" -> OracleXxh.q_countmin("doc_id < 500"),
      // CardOp's deterministic columns per (lang, source) cell — the
      // q_corpus_card gopher thresholds, single constant-ts window
      "q_card_dag" ->
        s"""WITH staged AS (
           |  SELECT lang, source, $toksSql AS ts,
           |         len(text)::BIGINT AS nc
           |  FROM documents)
           |SELECT 1704067200::BIGINT AS window_start, lang, source,
           |  count(*)::BIGINT AS n_docs,
           |  sum(len(ts))::BIGINT AS n_tokens,
           |  sum(nc)::BIGINT AS n_chars,
           |  sum(CASE WHEN
           |    len(ts) BETWEEN 50 AND 100000
           |    AND CAST(list_sum(list_transform(ts, t -> len(t)))
           |        AS DOUBLE) / len(ts) BETWEEN 3.0 AND 10.0
           |    AND CAST(len(list_filter(ts,
           |        t -> regexp_matches(t, '[a-z]'))) AS DOUBLE)
           |        / len(ts) >= 0.8
           |    AND CAST(len(list_filter(ts, t -> contains(t, '#')
           |        OR contains(t, '...'))) AS DOUBLE) / len(ts) <= 0.1
           |    AND len(list_filter(ts, t -> list_contains(
           |        ['the', 'be', 'to', 'of', 'and', 'that', 'have',
           |         'with'], t))) >= 2
           |    THEN 1 ELSE 0 END)::BIGINT AS n_gopher_pass
           |FROM staged GROUP BY lang, source
           |ORDER BY lang, source""".stripMargin,
      // the committed model artifact is yhat = 0.25*x + 2.0 (exactly
      // representable doubles — one multiply + one add on both engines)
      "q_serve_batch" ->
        """SELECT doc_id, CAST(n_chars AS DOUBLE) AS x,
          |  0.25 * CAST(n_chars AS DOUBLE) + 2.0 AS yhat
          |FROM documents WHERE doc_id < 400 ORDER BY doc_id""".stripMargin,
      // HeavyHittersOp's exact regime (≤5 distinct items/window ≪ m):
      // the MG estimates are exact counts, the finish order a plain
      // deterministic rank — every shipped column oracles bit-exact
      "q_heavyhitters_dag" -> OracleXxh.q_heavyhitters_dag(topJ = 3))
  }
}
