package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The measured scale tier's corpus and query set. `graft.Dev scale`
  * times the most expensive bench queries at sf0.1 AND at a derived 10x
  * corpus ("sf1"), and pins each query's scaling ratio in a committed
  * artifact (scale_out.json). The 100 TB design arguments elsewhere in
  * this repo are structural (banded LSH, bounded collects, broadcast
  * frames) and plan-pinned; the sweep is the MEASUREMENT: a query whose
  * time(sf1)/time(sf0.1) exceeds ~15 (shuffle-linear with headroom —
  * 10x data over constant cores costs 10x compute plus log-factor
  * sort/shuffle growth) is super-linear in data and gets a plan read
  * or a fix, recorded in docs/BENCH.md. ScaleOutSpec asserts the
  * committed artifacts stay under their bars.
  *
  * The Nx corpus is DERIVED deterministically from the driver's
  * sf0.1 tables (never synthesized from scratch — the distributions
  * under test are the driver's): each row is replicated with replica
  * index k = 0..N-1, keys shifted by k*(max+1), and document text
  * rewritten per-replica by a k-indexed letter permutation
  * ([[permFor]] — 125 distinct `translate` maps) so replicas are
  * DISTINCT in shingle space — replicating text verbatim would add an
  * Nx-deep exact-duplicate class that inflates every near-dup bucket
  * quadratically, which is a different corpus, not a bigger one.
  * Duplicate/near-dup structure WITHIN each replica is preserved
  * exactly, so corpus-wide duplicate density matches sf0.1.
  * Embedding vectors get a per-replica deterministic jitter (k/1000
  * on each component) so ANN cells keep their geometry while replica
  * vectors stay distinct. Tables generated: documents/events/
  * embeddings (the text/LLM rows) plus the TPC-H fact/dim family with
  * consistently-shifted foreign keys (the relational rows); nation/
  * region are copied verbatim as shared reference data.
  *
  * Usage: runMain graft.Dev scale <sfBaseDir> <factor> <outJson>. The
  * committed artifacts are scale_out.json (10x) and scale_out_100.json
  * (100x — "would this survive a 100x scale-up", answered by
  * measurement). The derived corpus is cached under java.io.tmpdir
  * ([[scaledDirFor]]) and rebuilt only when absent.
  */
object ScaleSweep {

  /** The sweep set: the top-10 most expensive non-`_dag` bench rows
    * (bench_out.json r12; `_dag` rows time the runner's fixed
    * materialize+rescan over CAPPED fixtures, so they cannot scale
    * with input by construction). Includes every row the round-12
    * verdict named: pagerank_docs, dedup_clusters, ngram_jaccard,
    * short_drop, pipeline_dedup. */
  val SweepQueries: Seq[String] = Seq(
    "q_pagerank_docs", "q_dedup_clusters", "q_pipeline_dedup",
    "q_short_drop", "q_ngram_jaccard", "q_hits", "q_pipeline_ingest",
    "q_split_leakage", "q_retrieval_audit", "q_short_novel",
    // the RELATIONAL family (round 13, second pass): the shuffle-heavy
    // join/agg/window/as-of rows — sub-second at sf0.1, so the 10x tier
    // says little about them; the 100x tier (60M lineitem rows) is
    // where their exchange behavior is actually measured
    "q_tpch_q1", "q_tpch_q3", "q_tpch_q5", "q_tpch_q10", "q_tpch_q18",
    "q_join_revenue", "q_window_rank", "q_asof", "q_scd2",
    "q_quantile_by_key")

  /** Shuffle-linear-with-headroom bar for time(Nx)/time(1x): 1.5x the
    * data factor (10x data may cost 15x, 100x may cost 150x — log-
    * factor sort/shuffle growth rides inside the headroom). */
  def ratioBar(factor: Int): Double = 1.5 * factor

  /** The committed 10x bar (ScaleOutSpec). */
  val RatioBar: Double = ratioBar(10)

  /** Fingerprint of the base corpus folded into the derived-corpus
    * cache key: total bytes and max mtime over every file under
    * `baseDir`, so a regenerated/changed base can never silently
    * reuse a stale scaled corpus (advice r13 — the old key was
    * factor + baseDir.hashCode + _SUCCESS, blind to content). */
  private[graft] def baseFingerprint(baseDir: String): String = {
    def walk(f: java.io.File): (Long, Long) = {
      val kids = Option(f.listFiles()).getOrElse(Array.empty)
      kids.foldLeft((f.length, f.lastModified)) { case ((sz, mt), c) =>
        val (s2, m2) = walk(c); (sz + s2, math.max(mt, m2))
      }
    }
    val (sz, mt) = walk(new java.io.File(baseDir))
    java.lang.Long.toHexString(sz * 31L + mt)
  }

  /** Canonical cache directory of the `factor`x corpus derived from
    * `baseDir`, keyed by (factor, path, base-corpus fingerprint). */
  def scaledDirFor(baseDir: String, factor: Int): String =
    java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      s"graft_scale${factor}x_" +
        Integer.toHexString(baseDir.hashCode) + "_" +
        baseFingerprint(baseDir)).toString

  private def rot(s: String, n: Int): String = {
    val m = ((n % s.length) + s.length) % s.length
    s.substring(m) + s.substring(0, m)
  }

  /** Per-replica letter permutation: three independently-rotated
    * 5-letter classes give 125 distinct permutations (replica factors
    * up to 125 stay pairwise distinct in shingle space); k=0 is the
    * identity (replica 0 IS the base corpus). */
  private[graft] def permFor(k: Int): (String, String) =
    ("aeiourstlnbcdmp",
      rot("aeiou", k % 5) + rot("rstln", (k / 5) % 5) +
        rot("bcdmp", (k / 25) % 5))

  private def withReplicas(df: DataFrame, factor: Int): DataFrame =
    df.withColumn("__k", explode(sequence(lit(0), lit(factor - 1))))

  private def shifted(c: String, base: Long) =
    col(c) + col("__k").cast("long") * lit(base)

  private def translated(c: String, factor: Int)
      : org.apache.spark.sql.Column =
    (1 until factor).foldLeft(when(col("__k") === 0, col(c))) { (acc, k) =>
      val (src, dst) = permFor(k)
      acc.when(col("__k") === k, translate(col(c), src, dst))
    }

  /** Derive the Nx corpus (idempotent: skipped when the directory
    * already holds a _SUCCESS-complete table). */
  def generate(spark: SparkSession, baseDir: String, outDir: String,
               factor: Int): Unit = {
    def done(name: String) =
      new java.io.File(s"$outDir/$name.parquet/_SUCCESS").isFile
    def base(name: String) = core.Tables.table(spark, baseDir, name)

    if (!done("documents")) {
      val d = base("documents")
      val maxId = d.agg(max("doc_id")).head.getLong(0) + 1
      withReplicas(d, factor)
        .select(shifted("doc_id", maxId).as("doc_id"),
          translated("text", factor).as("text"), col("lang"), col("source"),
          col("n_chars"))
        .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
    }
    if (!done("events")) {
      val e = base("events")
      val r = e.agg(max("event_id"), max("user_id")).head
      val (maxEv, maxUs) = (r.getLong(0) + 1, r.getLong(1) + 1)
      withReplicas(e, factor)
        .select(shifted("event_id", maxEv).as("event_id"), col("ts"),
          shifted("user_id", maxUs).as("user_id"), col("event_type"),
          col("value"), col("props"))
        .write.mode("overwrite").parquet(s"$outDir/events.parquet")
    }
    if (!done("embeddings")) {
      val v = base("embeddings")
      val maxId = v.agg(max("vec_id")).head.getLong(0) + 1
      withReplicas(v, factor)
        .select(shifted("vec_id", maxId).as("vec_id"),
          transform(col("embedding"),
            x => x + col("__k").cast("float") / lit(1000.0f))
            .as("embedding"),
          col("label"))
        .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
    }

    // relational family: fact/dim keys shift TOGETHER by the same
    // per-table base so every foreign key still joins within its
    // replica (a TPC-H-style scale-up: k replicas of the business,
    // disjoint key ranges, shared nation/region reference data)
    if (!done("nation"))
      base("nation").write.mode("overwrite")
        .parquet(s"$outDir/nation.parquet")
    if (!done("region"))
      base("region").write.mode("overwrite")
        .parquet(s"$outDir/region.parquet")
    lazy val maxOrd = base("orders")
      .agg(max("o_orderkey")).head.getLong(0) + 1
    lazy val maxCust = base("customer")
      .agg(max("c_custkey")).head.getLong(0) + 1
    lazy val maxSupp = base("supplier")
      .agg(max("s_suppkey")).head.getLong(0) + 1
    lazy val maxPart = base("part")
      .agg(max("p_partkey")).head.getLong(0) + 1
    if (!done("customer"))
      withReplicas(base("customer"), factor)
        .select(shifted("c_custkey", maxCust).as("c_custkey"),
          col("c_name"), col("c_nationkey"), col("c_acctbal"),
          col("c_mktsegment"))
        .write.mode("overwrite").parquet(s"$outDir/customer.parquet")
    if (!done("supplier"))
      withReplicas(base("supplier"), factor)
        .select(shifted("s_suppkey", maxSupp).as("s_suppkey"),
          col("s_name"), col("s_nationkey"), col("s_acctbal"))
        .write.mode("overwrite").parquet(s"$outDir/supplier.parquet")
    if (!done("part"))
      withReplicas(base("part"), factor)
        .select(shifted("p_partkey", maxPart).as("p_partkey"),
          col("p_name"), col("p_brand"), col("p_type"), col("p_size"),
          col("p_retailprice"))
        .write.mode("overwrite").parquet(s"$outDir/part.parquet")
    if (!done("orders"))
      withReplicas(base("orders"), factor)
        .select(shifted("o_orderkey", maxOrd).as("o_orderkey"),
          shifted("o_custkey", maxCust).as("o_custkey"),
          col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
          col("o_orderpriority"))
        .write.mode("overwrite").parquet(s"$outDir/orders.parquet")
    if (!done("lineitem"))
      withReplicas(base("lineitem"), factor)
        .select(shifted("l_orderkey", maxOrd).as("l_orderkey"),
          shifted("l_partkey", maxPart).as("l_partkey"),
          shifted("l_suppkey", maxSupp).as("l_suppkey"),
          col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
          col("l_discount"), col("l_tax"), col("l_returnflag"),
          col("l_linestatus"), col("l_shipdate"))
        .write.mode("overwrite").parquet(s"$outDir/lineitem.parquet")
  }
}
