package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Vectors

/** Distributed k-means over an embedding column, and the SemDeDup-style
  * semantic-dedup pipeline built on it (Abbas et al., "SemDeDup: Data-
  * efficient learning at web-scale through semantic deduplication",
  * 2023): cluster the corpus with a coarse k-means, then search for
  * near-duplicate pairs ONLY within a cluster — the all-pairs cosine
  * work drops from O(n²) to Σ O(|cell|²), with k chosen so cells stay
  * small (k ≈ n/10³ keeps the quadratic term ~10⁶ per cell).
  *
  * Contrast with [[Ivf.train]]: that is a bounded-sample DRIVER
  * mini-k-means (quantizer training, a few MB); [[fit]] here runs
  * Lloyd's iterations over the FULL corpus as DataFrame jobs — map-only
  * assignment against a broadcast centroid table, then one
  * shuffle-linear per-(cell, dim) aggregate per iteration, with only the
  * k×dim centroid matrix ever reaching the driver.
  *
  * Determinism: [[seed]] and [[assign]] are exactly deterministic (fixed
  * init from the k smallest ids, strict-< argmin ties to the lowest cell,
  * sequential per-dim distance folds) — the seeded-assignment pipeline is
  * oracled bit-exactly (q_kmeans_assign, q_semantic_dedup). [[fit]] is
  * bit-exact too: refit sums accumulate in fixed-point integer space
  * (order-independent at any parallelism — see the [[fit]] scaladoc), so
  * the full Lloyd refit hash-matches an external SQL replay
  * (q_kmeans_fit) — unlike the double-sum trade most distributed k-means
  * make (MLlib included), which is deterministic only up to fp reduction
  * order.
  */
object KMeans {

  case class Model(centroids: Array[Array[Double]]) {
    def k: Int = centroids.length
    require(centroids.nonEmpty, "model needs at least one centroid")
  }

  /** Deterministic seed model: the vectors of the `k` smallest ids
    * (ordered take — TakeOrderedAndProject, not a layout-dependent
    * LIMIT), floats widened exactly to double. */
  def seed(df: DataFrame, idCol: String, vecCol: String, k: Int): Model = {
    require(k >= 1, s"k must be >= 1: $k")
    // element-type tolerant: raw embeddings are float (widened exactly),
    // residual/derived frames are already double
    val rows = df.orderBy(col(idCol)).limit(k).select(col(vecCol))
      .collect()
      .map(_.getSeq[Any](0).map {
        case f: java.lang.Float  => f.toDouble
        case d: java.lang.Double => d.doubleValue
        case other => sys.error(s"seed: non-float vector element $other")
      }.toArray)
    require(rows.length >= k, s"corpus has fewer than $k rows")
    Model(rows)
  }

  /** 0-based nearest-centroid cell of a vector (map-only: the centroid
    * table rides the plan as a reference object; native codegen
    * [[graft.functions.NearestCells]] distance scan, ties to the lowest
    * cell index). */
  def cellOf(vec: Column, model: Model): Column =
    element_at(graft.functions.NearestCells(
      vec, model.centroids.map(_.toSeq).toSeq, 1), 1)

  /** (id, vec, norm, cell) assignment frame — the shared first stage of
    * every consumer (Lloyd update, semantic pairs, cell histograms).
    * Norms are computed map-side once per VECTOR, not per pair. */
  def assign(df: DataFrame, idCol: String, vecCol: String, model: Model)
      : DataFrame =
    df.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"),
      Vectors.norm(col(vecCol)).as("nm"))
      .withColumn("cell", cellOf(col("v"), model))

  /** Lloyd's algorithm over the full corpus: `iters` rounds of map-only
    * assignment + per-(cell, dim) mean. Each round is one job whose
    * shuffle carries k×dim partial (sum, count) pairs per map task
    * (map-side combined); only the k×dim centroid matrix is collected.
    * Empty cells keep their previous centroid (the Ivf.train rule).
    *
    * Determinism: the per-(cell, dim) accumulation is EXACT — each
    * value quantized map-side to a 1e-15 fixed-point long
    * (`floor(x * 1e15)`, one IEEE multiply + floor, identical in any
    * engine), summed as exact decimal (order-independent under any
    * parallelism), then ONE correctly-rounded integer→double
    * conversion and two IEEE divisions per centroid coordinate. Refit
    * centroids are therefore bit-identical at any cluster size AND
    * replayable by an external SQL oracle (q_kmeans_fit) — double
    * sums would instead inherit Spark's partial-aggregation order.
    * The 1e-15 quantization is far below float input precision.
    *
    * Supported value range: |x| < 9.2e3 per coordinate (embedding-scale
    * inputs). Beyond it `floor(x * 1e15)` exceeds Long range, where
    * Spark's floor SATURATES while the oracle's BIGINT cast errors —
    * the guard refuses such inputs instead of silently diverging. */
  def fit(df: DataFrame, idCol: String, vecCol: String, k: Int,
          iters: Int = 2): Model = {
    require(iters >= 0, s"iters must be >= 0: $iters")
    var model = seed(df, idCol, vecCol, k)
    val dim = model.centroids.head.length
    (1 to iters).foreach { _ =>
      val guarded = when(abs(col("col").cast("double")) >= lit(9.2e3),
        raise_error(concat(
          lit("KMeans.fit: |value| >= 9.2e3 overflows the 1e15 " +
            "fixed-point quantization (Spark floor saturates, the SQL " +
            "oracle errors); got "), col("col").cast("string"))))
        .otherwise(col("col")).cast("double")
      val stats = assign(df, idCol, vecCol, model)
        .select(col("cell"), posexplode(col("v")))
        .groupBy("cell", "pos")
        .agg(sum(floor(guarded * lit(1e15))
          .cast("decimal(38,0)")).as("s"),
          count(lit(1)).as("n"))
        .collect()
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = Array.fill(k)(-1L) // -1 = empty cell (keep centroid)
      val posSeen = new Array[Int](k)
      stats.foreach { r =>
        val c = r.getInt(0); val d = r.getInt(1)
        // dimension guards, LOUD: a vector longer than the seed dim
        // would AIOOBE bare on the driver after a full job; a shorter
        // one makes per-(cell,pos) counts differ, so the single
        // counts(c) slot would keep whichever collected row arrived
        // last — order-dependent, silently wrong centroids
        if (d >= dim) throw new IllegalArgumentException(
          s"KMeans.fit: vector dimension ${d + 1} exceeds the seed " +
            s"dimension $dim — mixed-dimension corpus?")
        // exact integer -> correctly-rounded double, then the fixed
        // division sequence (/ 1e15 / n) the oracle replays verbatim
        sums(c)(d) = r.getDecimal(2).toBigInteger.doubleValue
        if (counts(c) == -1L) counts(c) = r.getLong(3)
        else if (counts(c) != r.getLong(3))
          throw new IllegalArgumentException(
            s"KMeans.fit: ragged vectors in cell $c (per-dimension " +
              s"member counts differ) — all vectors must have the seed " +
              s"dimension $dim")
        posSeen(c) += 1
      }
      (0 until k).foreach { c =>
        if (counts(c) >= 0L && posSeen(c) != dim)
          throw new IllegalArgumentException(
            s"KMeans.fit: cell $c covers ${posSeen(c)} of $dim " +
              "dimensions — vectors shorter than the seed dimension?")
      }
      model = Model(Array.tabulate(k) { c =>
        if (counts(c) <= 0L) model.centroids(c)
        else sums(c).map(_ / 1e15 / counts(c))
      })
    }
    model
  }

  /** SemDeDup candidate pairs: cosine ≥ `eps` pairs WITHIN each cluster.
    * Within-cell all-pairs is the SemDeDup trade (size k so cells stay
    * bounded — the cross-cluster misses are the documented recall loss
    * of the method), and `maxCellSize` makes that bound EXPLICIT: cell
    * members are collected through the bounded aggregator
    * ([[graft.functions.BoundedCollect]]), so a degenerate cell (near-
    * duplicate-heavy corpora produce them) costs O(cap) memory and
    * yields ZERO pairs instead of a quadratic join — the same overflow
    * rule as every other candidate generator in [[Dedup]]. Plan shape:
    * one (id, cell) shuffle for bucketing (vectors never ride it),
    * bucket-local pair generation, then vectors + precomputed norms
    * joined back once per candidate for the exact cosine. Output:
    * (id_a, id_b, cell, cosine), id_a < id_b. */
  def semanticPairs(df: DataFrame, idCol: String, vecCol: String,
                    model: Model, eps: Double,
                    maxCellSize: Int = 10000): DataFrame = {
    // THREE consumers traverse the assignment (bucketing + both sides
    // of the vector join-back); assign is map-only, so each consumer
    // rescans and recomputes its k distances per vector (measured no
    // slower than a cache; the Ops.withPersisted rule)
    val a = assign(df, idCol, vecCol, model)
    val buckets = a.groupBy("cell")
      .agg(graft.functions.BoundedCollect.pairs(maxCellSize)(
        col("id"), lit(0L)).as("ms"))
      .filter(size(col("ms")) > 1)
    val cand = buckets
      .select(col("cell"), col("ms"), explode(col("ms")).as("x"))
      .select(col("cell"), col("x._1").as("id_a"),
        explode(col("ms")).as("y"))
      .select(col("cell"), col("id_a"), col("y._1").as("id_b"))
      .filter(col("id_a") < col("id_b"))
    cand
      .join(a.select(col("id").as("id_a"), col("v").as("va"),
        col("nm").as("na")), "id_a")
      .join(a.select(col("id").as("id_b"), col("v").as("vb"),
        col("nm").as("nb")), "id_b")
      .select(col("id_a"), col("id_b"), col("cell"),
        Vectors.cosineWithNorms(col("va"), col("vb"),
          col("na"), col("nb")).as("cosine"))
      .filter(col("cosine") >= eps)
  }

  /** Full semantic dedup: keep ONE representative per connected
    * component of the within-cluster near-dup graph, plus every row in
    * no pair. The `keeper` picks the representative:
    *  - "min_id" (default): the minimum id — this engine's
    *    deterministic convention, cheapest (no extra pass);
    *  - "far_from_centroid": SemDeDup proper (Abbas et al. '23 §2 keep
    *    "low similarity to cluster centroids"): the member with the
    *    LOWEST cosine to its cell centroid, ties to the min id. Costs
    *    one broadcast join against the k-row centroid table for
    *    component members only (vectors already carry their norms from
    *    [[assign]]), plus a per-component rank — both linear.
    * Oracled: q_semantic_dedup (pairs) + q_semantic_dedup_far (the
    * far-keeper survivors, argmin-cosine replayed in SQL). */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
                    model: Model, eps: Double,
                    maxCellSize: Int = 10000,
                    keeper: String = "min_id"): DataFrame = {
    require(keeper == "min_id" || keeper == "far_from_centroid",
      s"keeper must be min_id or far_from_centroid: '$keeper'")
    val pairs = semanticPairs(df, idCol, vecCol, model, eps, maxCellSize)
    if (keeper == "min_id") Dedup.dropNearDuplicates(df, idCol, pairs)
    else {
      val spark = df.sparkSession
      // k-row centroid side table; norm computed through the SAME
      // sequential fold as every other cosine (oracle-identical)
      val cents = spark.createDataFrame(
          model.centroids.toSeq.zipWithIndex.map { case (c, i) =>
            (i, c.toSeq)
          }).toDF("cell", "__cv")
        .withColumn("__cn", Vectors.norm(col("__cv")))
      // restrict to component MEMBERS before any per-row vector math:
      // assignment + cosine run only for paired docs, not the corpus
      val comp = Dedup.components(pairs, "id_a", "id_b")
      val members = df.join(
        comp.select(col("id").cast("long").as("__mid")),
        col(idCol).cast("long") === col("__mid")).drop("__mid")
      val ranked = assign(members, idCol, vecCol, model)
        .join(broadcast(cents), "cell")
        .select(col("id"), Vectors.cosineWithNorms(col("v"), col("__cv"),
          col("nm"), col("__cn")).as("__cc"))
        .join(comp, "id")
        .withColumn("__rk", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("component"))
            .orderBy(col("__cc").asc, col("id").asc)))
      val losers = ranked.filter(col("__rk") > 1)
        .select(col("id").as(idCol))
      df.join(losers, Seq(idCol), "left_anti")
    }
  }
}
