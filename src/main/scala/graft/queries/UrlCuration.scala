package graft
package queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.functions.Text
import graft.llm.SimSearch

import SparkEntry.{t, scratchDir, writeOnce, toksSql, cosSql}
import Case.oracle

/** North-star web-corpus URL curation: parsing, domains, the full
  * public-suffix list, blocklists and the crawl-ingest pipeline. */
object UrlCuration extends Family {

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
  private def synthPslHost: Column = {
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

  private def synthPslHostSql: String =
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

  // ---- URL-curation SQL macros (mirror llm/Url.scala bit-for-bit) ----

  private def urlCaseSql: String =
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

  /** The crawl-ingest replay shared by q_pipeline_crawl (composed
    * DataFrame pipeline) and q_pipeline_crawl_dag (the SAME five stages
    * run as a YAML topology through Topology.runBatch): cap
    * (row_number ≤ 30 by n_chars desc) → the q_gopher_rules keep
    * predicate → content-key dedup with min-id winners → per-domain
    * rollup. One oracle, two execution paths — the DAG runner is
    * oracle-gated, not just ScalaTest-pinned. */
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

  val cases: Seq[Case] = Seq(

    // URL identity layer: host / registered-domain / canonical form over
    // a deterministic mix of URL shapes (scheme case, userinfo, default
    // vs exotic ports, fragments, multi-label public suffixes) — all
    // map-only codegen regexps (llm/Url.scala)
    Case("q_url_parse", (s, dir) => {
      val u = t(s, dir, "documents")
        .select(col("doc_id"), synthUrl.as("url"))
      u.select(col("doc_id"), col("url"),
          graft.llm.Url.host(col("url")).as("host"),
          graft.llm.Url.registeredDomain(graft.llm.Url.stripWww(
            graft.llm.Url.host(col("url")))).as("domain"),
          graft.llm.Url.canonicalize(col("url")).as("canon"))
        .orderBy("doc_id")
    },
      // URL identity layer replay: same synth CASE, same RE2-subset
      // regexps, staged through CTEs (host → www-strip → canon parts)
      oracle(s"""WITH u AS MATERIALIZED (
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
           |FROM c4 ORDER BY doc_id""".stripMargin)),

    // per-registered-domain corpus rollup: volume, exact distinct
    // content, duplicate fraction — the "is this domain boilerplate?"
    // crawl-cap signal; ONE shuffle on the domain key
    Case("q_domain_stats", (s, dir) =>
      graft.llm.Url.domainStats(
        t(s, dir, "documents").withColumn("url", synthUrl),
        "url", "text")
        .orderBy("domain"),
      oracle(s"""WITH u AS MATERIALIZED (
           |  SELECT $urlCaseSql AS url, text FROM documents),
           |d AS (SELECT ${urlDomainSql(
                  s"regexp_replace(${urlHostSql("url")}, '^www\\.', '')")}
           |    AS domain, text FROM u)
           |SELECT domain, count(*)::BIGINT AS n_docs,
           |  sum(len(text))::BIGINT AS total_chars,
           |  count(DISTINCT text)::BIGINT AS distinct_texts,
           |  CAST(count(*) - count(DISTINCT text) AS DOUBLE) /
           |    CAST(count(*) AS DOUBLE) AS dup_frac
           |FROM d GROUP BY domain ORDER BY domain""".stripMargin)),

    // RefinedWeb-style per-domain volume cap: keep ≤ 20 docs per
    // registered domain preferring long docs (ties to low id) — bounded
    // TopKCollect aggregate, no WindowExec
    Case("q_domain_cap", (s, dir) =>
      graft.llm.Url.domainCap(
        t(s, dir, "documents").withColumn("url", synthUrl),
        "url", col("doc_id"), col("n_chars"), k = 20)
        .orderBy("domain", "rank"),
      oracle(s"""WITH u AS MATERIALIZED (
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
           |WHERE rank <= 20 ORDER BY domain, rank""".stripMargin)),

    // PSL-as-data registered domain: the suffix list is a broadcast
    // DataFrame (committed fixture subset of the public suffix list),
    // longest-match via K chained broadcast left joins — map-only, the
    // full-PSL fidelity path next to q_url_parse's hardcoded fast path
    Case("q_url_psl", (s, dir) => {
      val hosts = t(s, dir, "documents")
        .select(col("doc_id"), synthPslHost.as("host"))
      graft.llm.Url.registeredDomainPslFull(
          hosts, "host", graft.llm.Url.pslFullRules)
        .select(col("doc_id"), col("host"), col("domain"))
        .orderBy("doc_id")
    },
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
      oracle {
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
      }),

    // feature-hashing doc vectors (the hashing trick): the model-free
    // embedding baseline — token → xxhash64 bucket, exact counts; one
    // shuffle-linear aggregate (llm/TextStats.hashEmbedSparse)
    Case("q_hash_embed", (s, dir) =>
      graft.llm.TextStats.hashEmbedSparse(
        t(s, dir, "documents").filter(col("doc_id") < 50),
        "doc_id", "text", dim = 32)
        .orderBy("id", "bucket"),
      oracle(OracleXxh.prologue +
        s"""
           |WITH tk AS (SELECT doc_id AS id, unnest($toksSql) AS t
           |  FROM documents WHERE doc_id < 50)
           |SELECT id,
           |  CAST(((g_xxh_str(t) % 32) + 32) % 32 AS BIGINT) AS bucket,
           |  count(*)::BIGINT AS cnt
           |FROM tk GROUP BY 1, 2 ORDER BY id, bucket""".stripMargin)),

    // similarity search over RAW TEXT, no learned encoder: dense
    // hash-embedded vectors feed the same bruteForceTopK used on the
    // embeddings table — the whole ANN family unlocked pre-model
    Case("q_doc_simsearch", (s, dir) => {
      val dense = graft.llm.TextStats.hashEmbedDense(
        t(s, dir, "documents"), "doc_id", "text", dim = 32)
      SimSearch.bruteForceTopK(dense, dense.filter(col("id") < 3),
        "id", "embedding", k = 5)
        .orderBy("query_id", "rank")
    },
      oracle(OracleXxh.prologue +
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
           |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin)),

    // raw-text document clustering: hash-embedded vectors through the
    // same seeded k-means assignment as the embeddings table — topic-
    // shaped corpus slices with NO learned encoder; output = cluster
    // volumes + the min-id exemplar
    Case("q_doc_clusters", (s, dir) => {
      val dense = graft.llm.TextStats.hashEmbedDense(
        t(s, dir, "documents"), "doc_id", "text", dim = 16)
      val m = graft.llm.KMeans.seed(dense, "id", "embedding", k = 6)
      graft.llm.KMeans.assign(dense, "id", "embedding", m)
        .groupBy("cell")
        .agg(count(lit(1)).as("n_docs"), min(col("id")).as("exemplar"))
        .orderBy("cell")
    },
      // doc clustering replay: the q_doc_simsearch dense build, then
      // the q_kmeans_assign seeded-argmin chain, then cluster rollup
      oracle(OracleXxh.prologue +
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
           |GROUP BY cell ORDER BY cell""".stripMargin)),

    // literal-phrase blocklist gate: the wordlist filter every
    // production corpus runs — K contains-probes per row against a
    // plan-riding literal list, map-only (functions/Text.blocklistHits).
    // hits is emitted '|'-joined (not array<string>): the oracle
    // gate's pandas canonicalizer cannot sort list columns (round-7 red row).
    Case("q_blocklist", (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          Text.blocklistHits(col("text"),
            Seq("customer", "spam offer", "filter")).as("__hits"))
        .select(col("doc_id"),
          array_join(col("__hits"), "|").as("hits"),
          size(col("__hits")).cast("long").as("n_hits"),
          (size(col("__hits")) > 0).as("blocked"))
        .orderBy("doc_id"),
      oracle("""SELECT doc_id,
          |  coalesce(array_to_string(
          |    list_filter(['customer', 'spam offer', 'filter'],
          |      p -> contains(lower(text), p)), '|'), '') AS hits,
          |  CAST(len(list_filter(['customer', 'spam offer', 'filter'],
          |    p -> contains(lower(text), p))) AS BIGINT) AS n_hits,
          |  len(list_filter(['customer', 'spam offer', 'filter'],
          |    p -> contains(lower(text), p))) > 0 AS blocked
          |FROM documents ORDER BY doc_id""".stripMargin)),

    // composed CRAWL-INGEST pipeline — the URL layer end to end:
    // per-domain volume cap (k=30, long docs preferred) → Gopher gate →
    // exact content dedup (min-id winner carries its domain) →
    // per-domain admitted volume. The gate tokenizes only the capped
    // survivors; every stage is individually oracled elsewhere.
    Case("q_pipeline_crawl", (s, dir) => {
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
    },
      // crawl-ingest replay: cap (row_number ≤ 30 by n_chars desc) →
      // the q_gopher_rules keep predicate → content-key dedup with
      // min-id winners → per-domain rollup
      oracle(pipelineCrawlSql)),

    // the SAME five crawl stages as q_pipeline_crawl, but executed as a
    // YAML topology DAG through Topology.runBatch (cap → join → gopher
    // gate → dedup → rollup chained through intra-run topics) — the
    // oracle gate covering the topology runner itself, not
    // just the operators it wires
    Case("q_pipeline_crawl_dag", (s, dir) => {
      val work = scratchDir("graft_crawl_dag", dir)
      // only the columns the DAG consumes ride the frontier topic
      // (cap: url/n_chars/doc_id; jointext: text) — the write is the
      // dominant cost of the materialized chain. r15: the single-
      // consumer early stages (capped/withtext/gated) chain as MEMORY
      // relays — plan-level, no durable round-trip, the same semantics
      // stream mode gives them — while deduped + domain_rollup stay on
      // the durable write-through path, so the oracle hash gate
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
    },
      // the YAML-DAG twin runs the SAME five stages through
      // Topology.runBatch — one oracle, two execution paths
      oracle(pipelineCrawlSql)),

    // the nightly layout job end-to-end: a micro-batch-sprayed
    // directory (64 kilobyte-files) compacted to size-targeted files
    // WITH Z-clustering folded into the same shuffle
    // (Layout.compact -> layoutBy), then a both-dims predicate over
    // the compacted output — losslessness and filter correctness are
    // oracled here; the file-stat PRUNING of the z-layout is
    // pinned in LayoutSpec (span assertions need multi-file outputs,
    // which need more bytes than oracle scale provides)
    Case("q_compact_zorder", (s, dir) => {
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
    },
      // compaction + z-order is pure layout: the rows that survive a
      // both-dims predicate are exactly the source table's
      oracle("""SELECT event_id, user_id, value FROM events
          |WHERE user_id BETWEEN 10 AND 30
          |  AND value BETWEEN 10.0 AND 60.0
          |ORDER BY event_id""".stripMargin))
  )
}
