package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.core.Pipe._
import graft.operators.{DataOps, MathOps, Ops}
import graft.queries.{Case, Family}

/** The query registry every main and test reads — see SURVEY.md §7.
  *
  * Every operator from SURVEY.md §2 registers a bounded-batch
  * demonstration query as a [[queries.Case]]: the DataFrame it runs next
  * to the DuckDB-equivalent ANSI SQL that checks it. The cases live in
  * one file per family under `graft/queries`; this object lists the
  * families, derives the `queries` and `oracleSql` views the mains read,
  * and keeps the helpers more than one family shares. Numeric outputs
  * follow MathOps' exactness policy: decimal-exact accumulation
  * (order-independent under any parallelism) with a single final double
  * conversion, and sequential left-to-right folds for vector math — so
  * Spark and DuckDB agree bit-for-bit, not just approximately.
  */
object SparkEntry {

  private[graft] def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.table(s, dir, name)

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
  private[graft] def scratchDir(prefix: String, dir: String): String = {
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
  private[graft] def writeOnce(path: String)(write: => Unit): Unit =
    if (scaffolded.add(path)) {
      // mark the path only once the write SUCCEEDS: Bench's timeOne
      // swallows Throwable, so a failed/partial first write must leave
      // the path un-scaffolded for the next invocation to retry
      try write
      catch { case t: Throwable => scaffolded.remove(path); throw t }
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
    * [[graft.functions.Text.stopwords]] by construction). */
  private[graft] def sqlList(ws: Seq[String]): String =
    ws.map(w => s"'$w'").mkString("[", ", ", "]")

  private[graft] val toksSql =
    "list_filter(string_split(lower(trim(text)), ' '), t -> len(t) > 0)"

  /** Sequential-fold cosine similarity between list columns a and b —
    * mirrors [[graft.functions.Vectors.cosine]] op-for-op so doubles
    * match bit-exactly. */
  private[graft] def cosSql(a: String, b: String): String =
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
  private[graft] def ivfOracleSql(k: Int, iters: Int, nProbe: Int,
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

  /** SCD2 interval replay (lag-change flags → run ids → per-run
    * min/count → lead() closes each interval), parameterized over an
    * events filter so q_scd2 (full table) and q_scd_dag (the capped
    * ScdOp-through-the-runner twin) share one SQL body. */
  private[graft] def scd2Sql(whereSql: String): String =
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

  /** The query families, in registration order. */
  val families: Seq[Family] = {
    import graft.queries._
    Seq(Reference, Relational, RsMath, Encodings, TextAnalysis,
      Deduplication, SimilaritySearch, MultimodalColumns, UrlCuration,
      AnnEvaluation, Scd2, Sources, StreamingTwins)
  }

  /** Every case of `families`; a name registered twice fails here. */
  private[graft] def registry(families: Seq[Family]): Seq[Case] = {
    val all = families.flatMap(_.cases)
    val dups = all.groupBy(_.name).collect { case (n, cs) if cs.size > 1 => n }
    require(dups.isEmpty,
      s"query names registered twice: ${dups.toSeq.sorted.mkString(", ")}")
    all
  }

  val cases: Seq[Case] = registry(families)

  /** name -> query. Built once; building it runs no query code. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    cases.map(c => c.name -> c.run).toMap

  /** name -> oracle SQL of every oracled case, built on first use. */
  lazy val oracleSql: Map[String, String] =
    cases.flatMap(c => c.oracleSql.map(c.name -> _)).toMap
}
