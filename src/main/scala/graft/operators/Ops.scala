package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Pipe.Op

/** Core ReactiveX-style operators (`rs.ops.*` / `rx.operators` vocabulary,
  * SURVEY.md §2.3) re-expressed as Catalyst-friendly DataFrame transforms.
  *
  * Design stance: every op that CAN be a Column expression IS one — opaque
  * lambdas would defeat predicate pushdown and whole-stage codegen
  * (SURVEY.md §4.1). Typed closures appear only in the streaming stateful
  * forms ([[graft.streaming]]).
  */
object Ops {

  /** `ops.map` (makinage/sample/processor.py:12): 1→1 transform expressed as
    * named column expressions. Pass (name, expr) pairs; untouched columns
    * are dropped (projection — lets Catalyst prune the scan). */
  def map(cols: (String, Column)*): Op =
    df => df.select(cols.map { case (n, c) => c.as(n) }: _*)

  /** `ops.filter` (makinage/serve/serve.py:145): predicate keep. Catalyst
    * pushes this to the parquet scan when possible. */
  def filter(pred: Column): Op = _.filter(pred)

  /** `ops.flat_map` (makinage/operator.py:94): 1→N expansion. The generator
    * is an array-valued Column; each element becomes a row named `as`. */
  def flatMap(gen: Column, as: String): Op =
    df => df.withColumn(as, explode(gen))

  /** `ops.scan` (makinage/serve/serve.py:98): running stateful fold emitting
    * every step. Batch form: running aggregate over an explicit event order —
    * the reference's arrival order is single-threaded and irreproducible
    * under parallelism, so we pin a deterministic (partitionBy, orderBy)
    * order instead (SURVEY.md §7.4.1).
    *
    * Scale note: with partition keys this is a per-key window — shuffles once
    * on the key and scales linearly. Without keys it is a global running
    * fold, inherently sequential (single partition) — same as the reference's
    * single event loop; prefer keyed scans at scale.
    */
  def scan(agg: Column, as: String, order: Seq[Column],
           partition: Seq[Column] = Nil): Op = { df =>
    if (partition.isEmpty) UnkeyedGuard.check(df, "Ops.scan",
      "Pass partition keys (per-key running folds scale linearly).")
    val w0 = if (partition.isEmpty) Window.partitionBy()
             else Window.partitionBy(partition: _*)
    val w = w0.orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn(as, agg.over(w))
  }

  /** rxsci `distinct`: exact dedup on key columns (SURVEY.md §2.5).
    * Hash-shuffle on the key; map-side partial dedup happens for free via
    * partial aggregation. Empty cols = whole-row dedup. */
  def distinct(cols: String*): Op =
    df => if (cols.isEmpty) df.dropDuplicates() else df.dropDuplicates(cols)

  /** `ops.take(n)` (makinage/makinage.py:77 take(1)): head of the stream
    * under an explicit deterministic order. */
  def take(n: Int, order: Column*): Op =
    df => (if (order.isEmpty) df else df.orderBy(order: _*)).limit(n)

  /** `ops.skip` (makinage/config.py:33): drop the first n rows under an
    * explicit order (batch form; streams skip by offset policy). */
  def skip(n: Int, order: Seq[Column],
           partition: Seq[Column] = Nil): Op = { df =>
    if (partition.isEmpty) UnkeyedGuard.check(df, "Ops.skip",
      "Pass partition keys (per-key skip scales linearly).")
    val w0 = if (partition.isEmpty) Window.partitionBy()
             else Window.partitionBy(partition: _*)
    df.withColumn("__rn", row_number().over(w0.orderBy(order: _*)))
      .filter(col("__rn") > n)
      .drop("__rn")
  }

  /** Per-key `take(n)` under an explicit order — the keyed form of
    * [[take]] (rxsci `rs.ops.group_by` + `take` pipelines): the n best
    * rows per key by (score desc, id asc). Engine: the bounded
    * [[graft.functions.TopKCollect]] aggregator, so map-side partials
    * carry ≤n rows per (partition, key) into the exchange — the
    * row_number-window formulation shuffles EVERY row to |keys|
    * reducers first. Ids must be integral (returned as long, the
    * engine-wide shuffle-key rule); output: keys, id, score, rank.
    * NULL policy: rows with a null id or score are dropped before
    * ranking — a null can't hold a top-k slot (the window formulation
    * sorted them last, where k real rows displaced them anyway). */
  def takeOrderedByKey(n: Int, idCol: Column, scoreCol: Column,
                       keys: Seq[Column],
                       as: (String, String) = ("id", "score")): Op = { df =>
    df.filter(idCol.isNotNull && scoreCol.isNotNull)
      .groupBy(keys: _*)
      .agg(graft.functions.TopKCollect.topk(n)(
        idCol.cast("long"), scoreCol.cast("double")).as("__tk"))
      .select(keys :+ posexplode(col("__tk")): _*)
      .select(keys ++ Seq(col("col._1").as(as._1),
        col("col._2").as(as._2), (col("pos") + 1).as("rank")): _*)
  }

  /** rxsci `start_with`: prepend literal rows (schema-aligned union). */
  def startWith(rows: DataFrame): Op =
    df => rows.unionByName(df)

  /** `ops.merge` (makinage/driver/app_sink.py:75): interleave streams. In
    * Spark, bag-semantics UNION ALL — arrival order is not meaningful under
    * parallelism (SURVEY.md §2.3). */
  def merge(others: DataFrame*): Op =
    df => others.foldLeft(df)(_.unionByName(_))

  /** rxx `sorted_merge` (reference makinage/operator.py:133-144): merge
    * several event streams into deterministic event-time order. The
    * reference holds a bounded lookahead buffer per source and emits in
    * merged order; the batch-scale equivalent is UNION ALL → range
    * repartition on the order key → sort within partitions. Range
    * partition boundaries make the partition sequence globally ordered, so
    * downstream per-partition iteration (foreachPartition, file writes,
    * [[graft.operators.MathOps.ewmaScan]]-style folds) sees the
    * reference's deterministic order — ONE bounded-memory shuffle, no
    * single-task global sort bottleneck, and disorder of ANY bound is
    * repaired (the reference drops events beyond its lookahead;
    * SURVEY.md §2.4 maps that policy to watermarks in stream mode). */
  def sortedMerge(others: Seq[DataFrame], order: Seq[Column],
                  numPartitions: Int = 0): Op = { df =>
    val all = others.foldLeft(df)(_.unionByName(_))
    val p = if (numPartitions > 0) numPartitions
            else df.sparkSession.sparkContext.defaultParallelism
    all.repartitionByRange(p, order: _*).sortWithinPartitions(order: _*)
  }

  /** `rs.ops.with_latest_from` (makinage/serve/serve.py:141): attach the
    * latest value of a slowly-changing side stream to every event of the
    * primary stream. Batch form: the side input's latest row (by `latestBy`
    * desc) is a 1-row broadcast nested-loop join — exactly the spirit of the
    * reference's latest-value combination, and O(1) extra cost at any scale
    * because the side is a single broadcast row. */
  def withLatestFrom(side: DataFrame, latestBy: Column): Op = { df =>
    val latest = side.orderBy(latestBy.desc).limit(1)
    df.crossJoin(broadcast(latest))
  }

  /** rxsci `sample`: deterministic decimation — keep every nth event per
    * key under an explicit order (streaming "sample" is time-based; batch
    * form pins count-based decimation, reproducible under retries). */
  def sampleEvery(n: Int, order: Seq[Column],
                  partition: Seq[Column] = Nil): Op = { df =>
    if (partition.isEmpty) UnkeyedGuard.check(df, "Ops.sampleEvery",
      "Pass partition keys, or use sampleEveryDense for dense 0-based " +
        "order columns.")
    val w0 = if (partition.isEmpty) Window.partitionBy()
             else Window.partitionBy(partition: _*)
    val w = w0.orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter((col("__rn") - 1) % n === 0)
      .drop("__rn")
  }

  /** [[sampleEvery]] fast path for a DENSE 0-based order column (row i has
    * idx == i): decimation is a pure filter — no global sort, no
    * single-partition WindowExec, embarrassingly parallel at any scale. */
  def sampleEveryDense(n: Int, idx: Column): Op =
    _.filter(pmod(idx.cast("long"), lit(n.toLong)) === 0)

  /** Deterministic uniform id-hash bucket in [0, buckets): Lehmer
    * multiplicative hash on the row id — reproducible across engines,
    * runs, and cluster layouts (plain BIGINT arithmetic, so an external
    * oracle computes the identical buckets; a seeded-hash sampler can't
    * be cross-checked). The id is reduced mod m BEFORE the multiply —
    * (id mod m)·48271 < 2^47, so the arithmetic never overflows Long for
    * ANY id (a bare id·48271 wraps at ids ≥ ~1.9e14, silently diverging
    * from an exact-arithmetic oracle). The basis of
    * [[hashSample]]/[[mixSample]]. */
  /** The deterministic-op input-error contract, one definition: a NULL
    * in a column these operators key on (ids, strata, sizes) would
    * silently vanish from filters, ride free past budgets, or collapse
    * hash order — refuse it with context instead. */
  private[graft] def refuseNull(c: Column, msg: Column): Column =
    when(c.isNull, raise_error(msg)).otherwise(c)

  def idBucket(idCol: Column, buckets: Int = 10000): Column =
    pmod(pmod(pmod(
      refuseNull(idCol, lit("idBucket: NULL id")).cast("long"),
      lit(2147483647L)) * 48271L,
      lit(2147483647L)), lit(buckets.toLong))

  /** Deterministic row sampling at `rate` — training-data pipelines need
    * sampling that is stable under retries and re-runs (a rerun must
    * produce the SAME subset or downstream dedup/mix bookkeeping breaks);
    * rng-based `df.sample` is seed-stable only for identical partition
    * layouts. Map-only, no shuffle. */
  def hashSample(idCol: Column, rate: Double, buckets: Int = 10000): Op =
    _.filter(idBucket(idCol, buckets) < (rate * buckets).toLong)

  /** Per-stratum deterministic sampling — the dataset-mixing op (sample
    * each `source` at its own rate when composing a training mix).
    * Unlisted strata default to `defaultRate`. One pass, map-only. */
  def mixSample(idCol: Column, stratumCol: Column,
                rates: Map[String, Double], defaultRate: Double = 1.0,
                buckets: Int = 10000): Op = { df =>
    val rateExpr = rates.toSeq.sortBy(_._1).foldLeft(lit(defaultRate)) {
      case (acc, (k, r)) => when(stratumCol === k, lit(r)).otherwise(acc)
    }
    df.filter(idBucket(idCol, buckets) <
      (rateExpr * buckets).cast("long"))
  }

  /** Temperature-balanced mixture sampling at α = 1/2 — the
    * multilingual pre-training recipe (XLM-R, mT5: sample stratum s
    * with probability ∝ share^α, α < 1 up-weighting low-resource
    * strata) as a deterministic filter. Per-stratum rates derive from
    * the corpus's own stratum counts: output share of stratum s
    * ∝ sqrt(c_s), scaled so the expected output is `outFraction` of
    * the corpus, capped at keeping a stratum whole (a low-resource
    * stratum cannot supply more than itself). NULL strata are dropped
    * (the [[mixSample]] allowlist convention).
    *
    * Determinism across engines: the rates touch only count, +, ×, /,
    * sqrt — each IEEE correctly-rounded — with the denominator folded
    * in stratum-name order, so the rates AND the exact kept set replay
    * bit-identically in external SQL (q_mix_temperature). One tiny
    * count aggregate is collected (≤ |strata| rows); the corpus pass
    * is [[mixSample]]'s map-only Lehmer filter. α is fixed at 1/2
    * because sqrt is the one power IEEE guarantees correctly rounded —
    * a general pow(x, α) differs across libm implementations, which
    * would break the exact-replay contract this family promises. */
  def temperatureMix(idCol: Column, stratumCol: Column,
                     outFraction: Double, buckets: Int = 10000)
      : Op = { df =>
    require(outFraction > 0 && outFraction <= 1,
      s"outFraction must be in (0,1]: $outFraction")
    val counts = df.groupBy(stratumCol.cast("string").as("__s"))
      .agg(count(lit(1)).as("__n"))
      .collect()
      .flatMap(r => Option(r.getString(0)).map(_ -> r.getLong(1)))
      .sortBy(_._1)
    require(counts.nonEmpty, "temperatureMix: no non-null strata")
    val nOut = outFraction * counts.map(_._2).sum.toDouble
    val denom = counts.foldLeft(0.0) { case (a, (_, c)) =>
      a + math.sqrt(c.toDouble)
    }
    val rates = counts.map { case (s, c) =>
      s -> math.min(1.0, nOut * math.sqrt(c.toDouble) / denom / c.toDouble)
    }.toMap
    mixSample(idCol, stratumCol, rates, defaultRate = 0.0, buckets)(df)
  }

  /** Deterministic GLOBAL corpus shuffle + sharding — the training-data
    * export step (LLM training wants the corpus in pseudorandom order,
    * reproducibly): order = ascending `xxhash64(seed, id)`, shard =
    * `pmod(hash, nShards)`. One hash-partition shuffle on the shard key
    * + a per-shard sort (partitions bounded by n/nShards — size nShards
    * to executor memory); no global sort, no single point of order.
    * Reshuffling = changing `seed`; the permutation is a pure function
    * of (seed, id), so any engine reproduces it (oracled bit-exact).
    * Adds `shard` (int) and `shuffle_pos` (long, 0-based within shard). */
  def shuffleShards(idCol: Column, nShards: Int, seed: Int = 0): Op = { df =>
    require(nShards >= 1, s"nShards must be >= 1: $nShards")
    val w = Window.partitionBy(col("shard")).orderBy(col("__h"), idCol)
    // Spark's xxhash64 SKIPS null inputs, so NULL ids would all hash to
    // the seed constant and pile into one shard — refuse them instead
    df.withColumn("__h", xxhash64(lit(seed),
      refuseNull(idCol, lit("shuffleShards: NULL id"))))
      .withColumn("shard", pmod(col("__h"), lit(nShards.toLong)).cast("int"))
      .withColumn("shuffle_pos", row_number().over(w).cast("long") - 1L)
      .drop("__h")
  }

  /** Leakage-safe deterministic train/val/test assignment — split by
    * GROUP, not by row: every row of a group (same source domain, same
    * near-dup cluster, same user) lands in the same split, because
    * splitting correlated rows across train and eval leaks training
    * signal into the benchmark. Assignment is a pure function of
    * (seed, group): bucket = Lehmer-free `pmod(xxhash64(seed, group),
    * buckets)`, and the `fractions` list (in its GIVEN order) carves
    * `[0, buckets)` into contiguous ranges — so any engine reproduces
    * the exact assignment (oracled), reruns are stable, and growing the
    * corpus never moves an existing group to a different split (the
    * property rng-based splitters lack). Fractions may sum to < 1 —
    * the remainder is dropped (holdout carve-outs); NULL groups are
    * refused ([[refuseNull]] contract). Map-only, no shuffle.
    *
    * Adds a `split` string column. */
  def groupSplit(groupCol: Column, fractions: Seq[(String, Double)],
                 seed: Int = 0, buckets: Int = 10000): Op = { df =>
    require(fractions.nonEmpty, "groupSplit: no fractions")
    require(fractions.forall(_._2 > 0),
      s"groupSplit: fractions must be positive: $fractions")
    require(fractions.map(_._2).sum <= 1.0 + 1e-9,
      s"groupSplit: fractions sum to > 1: $fractions")
    val bucket = pmod(xxhash64(lit(seed),
      refuseNull(groupCol, lit("groupSplit: NULL group"))),
      lit(buckets.toLong))
    // cumulative integer bucket bounds: split i owns
    // [floor(cum_{i-1} * buckets), floor(cum_i * buckets))
    val bounds = fractions.scanLeft(0.0)(_ + _._2).map(f =>
      math.floor(f * buckets).toLong)
    val expr = fractions.zipWithIndex.foldLeft(lit(null).cast("string")) {
      case (acc, ((name, _), i)) =>
        when(bucket >= bounds(i) && bucket < bounds(i + 1), lit(name))
          .otherwise(acc)
    }
    df.withColumn("split", expr).filter(col("split").isNotNull)
  }

  /** Token-BUDGETED deterministic corpus mixing — the exact companion to
    * the rate-based [[mixSample]]: keep, per stratum, the docs that fit
    * a SIZE budget (token/char counts) in deterministic pseudorandom
    * order (ascending `xxhash64(seed, id)`), i.e. "200 B tokens of web,
    * 50 B of code" as a reproducible exact cut. A doc is kept iff the
    * running size total up to and including it (in hash order) is
    * within its stratum's budget; unlisted strata are dropped (budget
    * 0 — mixing is allowlist-shaped).
    *
    * Scale shape — the naive form is a per-stratum global sort (few
    * giant partitions); this is the two-level exact equivalent:
    * (1) bucket docs by `pmod(hash, buckets)`; per-(stratum, bucket)
    * size totals in ONE map-combined shuffle (≤ strata × buckets rows);
    * (2) prefix-sum those totals over the tiny per-stratum bucket list;
    * (3) intra-bucket running sums in windows bounded by n/buckets.
    * `prev-buckets + intra-inclusive ≤ budget` selects EXACTLY the
    * same set as the single-window cumsum ordered by (bucket, hash,
    * id) — which is what the SQL oracle replays. Sizes accumulate in
    * exact decimal (no long overflow at corpus scale). */
  def sampleToBudget(idCol: Column, stratumCol: Column, sizeCol: Column,
                     budgets: Map[String, Long], seed: Int = 0,
                     buckets: Int = 1024): Op = { df =>
    require(buckets >= 1, s"buckets must be >= 1: $buckets")
    val dec = "decimal(38,0)"
    // NULL id/size/stratum are input errors (refuseNull): a NULL id
    // hashes to the seed constant and collapses the deterministic
    // order; a NULL size rides free past the exact-budget contract
    // (window sums skip NULLs); NULL stratum rows vanish in the
    // prefix join
    val base = df
      .withColumn("__h", xxhash64(lit(seed),
        refuseNull(idCol, lit("sampleToBudget: NULL id"))))
      .withColumn("__b", pmod(col("__h"), lit(buckets.toLong)))
      .withColumn("__s", refuseNull(stratumCol,
        concat(lit("sampleToBudget: NULL stratum for id="),
          idCol.cast("string"))).cast("string"))
      .withColumn("__sz", refuseNull(sizeCol,
        concat(lit("sampleToBudget: NULL size for id="),
          idCol.cast("string"))).cast(dec))
    val prefixes = base.groupBy(col("__s").as("__ps"), col("__b").as("__pb"))
      .agg(sum(col("__sz")).as("__bt"))
      .withColumn("__prev", coalesce(
        sum(col("__bt")).over(Window.partitionBy(col("__ps"))
          .orderBy(col("__pb"))
          .rowsBetween(Window.unboundedPreceding, -1)),
        lit(0).cast(dec)))
      .select("__ps", "__pb", "__prev")
    val wIn = Window.partitionBy(col("__s"), col("__b"))
      .orderBy(col("__h"), idCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val budgetExpr = budgets.toSeq.sortBy(_._1)
      .foldLeft(lit(0L).cast(dec)) { case (acc, (k, v)) =>
        when(col("__s") === k, lit(v).cast(dec)).otherwise(acc)
      }
    base
      .join(broadcast(prefixes),
        col("__s") === col("__ps") && col("__b") === col("__pb"))
      .withColumn("__cum", col("__prev") + sum(col("__sz")).over(wIn))
      // budget > 0 FIRST: an unlisted stratum (budget 0, the allowlist
      // drop) must yield NOTHING — a zero-size doc landing before any
      // positive-size doc otherwise passes cum <= 0 and leaks through;
      // the oracle replays the same two-term filter
      .filter(budgetExpr > 0 && col("__cum") <= budgetExpr)
      .drop("__h", "__b", "__s", "__sz", "__ps", "__pb", "__prev", "__cum")
  }

  /** `trace_observable` analogue (reference makinage/makinage.py:80-83,
    * serve.py:129-136: debug-tracing a stream's lifecycle/items): named
    * aggregate metrics observed as data flows — zero extra passes, zero
    * collect. Batch: read `df.queryExecution.observedMetrics` after an
    * action; streaming: `StreamingQueryProgress.observedMetrics` per
    * micro-batch. Defaults to a row count when no metrics given. */
  def trace(name: String, metrics: (String, Column)*): Op = { df =>
    val ms =
      if (metrics.isEmpty) Seq(count(lit(1)).as("rows"))
      else metrics.map { case (n, c) => c.as(n) }
    df.observe(name, ms.head, ms.tail: _*)
  }

  /** `rs.ops.assert_` (tests/driver/test_app_source.py:79): runtime
    * invariant — fails the job if any row violates the predicate. Uses an
    * exception-raising expression so the check rides the normal plan (no
    * extra action, no collect). */
  def assert_(pred: Column, msg: String): Op = { df =>
    df.withColumn("__assert",
        when(pred, lit(true))
          .otherwise(raise_error(lit(s"assert_ failed: $msg"))))
      .drop("__assert")
  }

  /** Scoped persist for multi-read stage boundaries: persist `df`, run
    * `body` against the cached frame, ALWAYS unpersist on the way out.
    *
    * The engine's one cache-lifetime rule: a library function never
    * leaves a cache behind. Spark's CacheManager holds every persisted
    * plan until `unpersist`/`clearCache` — it is never garbage-collected
    * — so a bare `persist` in a function that returns a lazy frame
    * leaks one cache per call, and the next call with the same plan
    * silently reads the first call's rows. Hence, for a frame that
    * several consumers read:
    *  - if it ends in an aggregate or `repartition` exchange and every
    *    consumer sits in the one returned plan, cache nothing: Spark's
    *    exchange reuse (`ReusedExchange`) computes it once — provided
    *    every consumer plans the same exchange (a pruned column or a
    *    differently inferred filter in one branch breaks the match;
    *    `graft.Dev explain-final` shows whether it holds);
    *  - if the consumers span several actions (driver collects, a
    *    loop), or rerunning the work after the exchange measures slower
    *    than a cache, hold it here.
    * This is the only place in `src/main` that persists, besides the
    * batch topology runner's memory relay, whose cached view is the
    * run's output by design (`Topology.runBatch`); DevSpec pins both.
    *
    * Contract: whatever `body` returns must be DETACHED from the cached
    * frame before returning — run the terminal action inside `body`, or
    * return `result.localCheckpoint()` (eager) when the caller needs a
    * DataFrame — because the cache is dropped the moment `body` returns
    * and a still-lazy dependent plan would silently recompute the whole
    * upstream per downstream action (the exact cost the persist paid
    * for). */
  def withPersisted[T](df: DataFrame)(body: DataFrame => T): T = {
    val p = df.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try body(p) finally p.unpersist(blocking = false)
  }

  /** rxsci `tee_map`: run several branch pipelines over the same stream and
    * merge their (schema-aligned) outputs — multiplex/demultiplex. The
    * shared scan is planned once per branch by Catalyst; if branches are
    * expensive and the source isn't a cheap columnar scan, run the tee
    * inside [[withPersisted]] and detach its result there. */
  def teeMap(branches: Op*): Op = {
    // construction-time, not apply-time: a config-driven branch list
    // filtered to empty should fail where it was built
    require(branches.nonEmpty,
      "teeMap: need at least one branch (a config-driven branch list " +
        "filtered to empty?)")
    df => branches.map(_(df)).reduce(_.unionByName(_))
  }

  /** rxsci `last`: final value per key under an explicit order (argmax
    * pattern: one shuffle, no join). */
  def lastBy(partition: Seq[Column], order: Seq[Column]): Op = { df =>
    val w = Window.partitionBy(partition: _*)
      .orderBy(order.map(_.desc): _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** EXACT corpus-wide rank (1 = best score, ties by id asc) + equal-
    * frequency bucket index — the CCNet head/middle/tail split (Wenzek
    * et al. 2020 bucket a corpus into perplexity terciles; any k works).
    * Adds `rank` (long, dense over the corpus) and `bucket` (int in
    * [0,k): `floor((rank-1)·k / n)` — bucket sizes differ by at most
    * one, earlier buckets take the extras, the SQL-standard NTILE
    * distribution).
    *
    * Scale shape — naive rank is `row_number` over an UNKEYED window
    * (single-partition global sort, the exact hazard [[UnkeyedGuard]]
    * exists for). This is the two-level exact equivalent, same recipe
    * as [[sampleToBudget]]: (1) coarse order-preserving histogram cell
    * `floor(score · coarse)` — floor of one IEEE multiply, engine-
    * independent; (2) per-cell counts (≤ coarse+1 rows for scores in
    * [0,1], the intended domain) prefix-summed into rank offsets —
    * a window over the constant-bounded histogram, corpus-independent;
    * (3) `row_number` in windows KEYED by cell (partitions bounded by
    * the per-cell doc count) + broadcast offset = the exact global
    * rank, because cells preserve order: floor is monotone. The SQL
    * oracle replays the single-window form (q_lm_buckets) — pinning
    * that the distributed two-level plan equals the sequential
    * definition. Skew caveat: all-equal scores put the corpus in one
    * cell and degenerate to the naive form — pick `coarse` so cells
    * split the real score distribution (4096 default).
    *
    * NULL score or id is refused ([[sampleToBudget]]'s contract: NULLs
    * sort last in Spark but FIRST under DuckDB defaults — a silent
    * cross-engine fork); guard against it instead. */
  def globalRankBuckets(idCol: Column, scoreCol: Column, k: Int = 3,
                        coarse: Int = 4096): Op = { df =>
    require(k >= 1, s"k must be >= 1: $k")
    require(coarse >= 1, s"coarse must be >= 1: $coarse")
    val base = df.withColumn("__cell",
      floor(refuseNull(scoreCol, concat(
        lit("globalRankBuckets: NULL score for id="),
        idCol.cast("string"))) * lit(coarse.toDouble)))
    val hist = base.groupBy(col("__cell").as("__oc"))
      .agg(count(lit(1)).as("__n"))
    val offsets = hist
      .withColumn("__prev", coalesce(
        sum(col("__n")).over(Window.orderBy(col("__oc").desc)
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("__oc", "__prev")
    // total from the HISTOGRAM, not another base.agg: the two
    // histogram consumers share one canonical exchange (ReuseExchange),
    // so the corpus subtree is computed twice (histogram + rank join),
    // not three times
    val total = hist.agg(sum(col("__n")).as("__nt"))
    val wIn = Window.partitionBy(col("__cell"))
      .orderBy(scoreCol.desc,
        refuseNull(idCol, lit("globalRankBuckets: NULL id")).asc)
    base
      .join(broadcast(offsets), col("__cell") === col("__oc"))
      .crossJoin(broadcast(total))
      .withColumn("rank", col("__prev") + row_number().over(wIn))
      // integer DIV, not floor(double /): exact at any corpus size
      // (and DuckDB's `/` is float division — `//` replays this)
      .withColumn("bucket",
        expr(s"CAST(((rank - 1) * ${k}L) DIV __nt AS INT)"))
      .drop("__cell", "__oc", "__prev", "__nt")
  }

  /** Deterministic NEGATIVE SAMPLING for contrastive training — the
    * DPR/word2vec negatives step of an embedding-training pipeline:
    * for each distinct anchor id, `k` pseudo-uniform draws from the
    * corpus id population, minus the anchor itself and its known
    * positives. Determinism is the [[hashSample]] contract: draw j of
    * anchor a lands on corpus INDEX `pmod(xxhash64(seed, a, j), N)`,
    * so reruns, retries and engines agree on every negative
    * (q_negative_sample hash-matches the DuckDB replay).
    *
    * The id↔index bijection is built WITHOUT an unkeyed window (the
    * globalRankBuckets two-level trick, hash-celled): corpus ids hash
    * into `coarse` cells, per-cell offsets come from one ≤coarse-row
    * window, ranks are per-cell row_numbers — index order is
    * (cell, id), arbitrary but deterministic, which is all a bijection
    * needs. Scale: one distinct + two cell-keyed passes over the id
    * population (ids only, never payloads), one index-keyed join of
    * |anchors|·k draw rows, one broadcast anti-join against the
    * positives. Collisions with the anchor or a positive are DROPPED
    * (deterministically), so an anchor can yield fewer than `k`
    * negatives — re-draw with a different seed rather than chaining
    * dependent retries. Output: (anchor, draw, neg_id). */
  def negativeSample(anchorCol: Column, corpusIds: DataFrame,
                     positives: DataFrame, k: Int, seed: Int = 0,
                     coarse: Int = 4096): Op = { df =>
    require(k >= 1, s"negativeSample: k must be >= 1: $k")
    require(coarse >= 1, s"negativeSample: coarse must be >= 1: $coarse")
    val ids = corpusIds
      .select(refuseNull(col(corpusIds.columns.head),
        lit("negativeSample: NULL corpus id")).cast("long").as("__cid"))
      .distinct()
    val celled = ids.withColumn("__cell",
      pmod(xxhash64(col("__cid")), lit(coarse.toLong)))
    val hist = celled.groupBy("__cell").agg(count(lit(1)).as("__n"))
    val offsets = hist
      .withColumn("__prev", coalesce(
        sum(col("__n")).over(Window.orderBy(col("__cell").asc)
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("__cell", "__prev")
    val total = hist.agg(sum(col("__n")).as("__nt"))
    val wIn = Window.partitionBy(col("__cell")).orderBy(col("__cid").asc)
    val ranked = celled.join(broadcast(offsets), "__cell")
      .withColumn("__r", col("__prev") + row_number().over(wIn) - 1)
      .select("__r", "__cid")
    val draws = df
      .select(refuseNull(anchorCol, lit("negativeSample: NULL anchor"))
        .cast("long").as("anchor"))
      .distinct()
      .select(col("anchor"),
        explode(sequence(lit(0L), lit((k - 1).toLong))).as("draw"))
      .crossJoin(broadcast(total))
      .withColumn("__r",
        pmod(xxhash64(lit(seed), col("anchor"), col("draw")),
          col("__nt")))
    val pos = positives.toDF("anchor", "neg_id")
      .select(col("anchor").cast("long"), col("neg_id").cast("long"))
    draws.join(ranked, "__r")
      .select(col("anchor"), col("draw"), col("__cid").as("neg_id"))
      .filter(col("neg_id") =!= col("anchor"))
      // no broadcast hint: the positives frame is usually small (AQE
      // broadcasts it) but can be corpus-scale for dense pair sets
      .join(pos, Seq("anchor", "neg_id"), "left_anti")
      // the anti-join fronts its keys — restore the documented order
      .select("anchor", "draw", "neg_id")
  }

  /** Skew-resistant equi-join — the classic SALTED join: a plain
    * key-shuffle join sends a hot key's entire left side to ONE task
    * (the Zipf cliff every web corpus hits: one domain, one user id, one
    * template fingerprint owning 10% of rows). Salting splits each left
    * key across `salts` tasks — left rows get a deterministic salt from
    * `saltFrom` (a row-unique column, hashed; NOT rand(), so reruns and
    * retries shuffle identically), the right side is replicated once per
    * salt, and the join keys on (key, salt): every left row still meets
    * exactly one right replica, so the result EQUALS the plain join
    * row-for-row (oracled as q_salted_join) while the hot key's work
    * spreads `salts` ways.
    *
    * Cost model: right side pays ×`salts` replication — use when the
    * right is modest (dimension-sized but past the broadcast threshold)
    * and the left is huge and skewed. AQE's skew-join split handles the
    * sort-merge case adaptively; the salt is the static form that also
    * works under AQE-hostile shapes (stateful plans, disabled AQE) and
    * composes with any join the optimizer picks. */
  def saltedJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
                 saltFrom: Column, salts: Int): DataFrame = {
    require(salts >= 1, s"saltedJoin: salts must be >= 1: $salts")
    val l = left.withColumn("__salt",
      pmod(xxhash64(refuseNull(saltFrom, lit("saltedJoin: NULL salt " +
        "source"))), lit(salts.toLong)).cast("int"))
    val r = right.withColumn("__salt",
      explode(array((0 until salts).map(lit): _*)))
    l.join(r, keys :+ "__salt").drop("__salt")
  }

  /** QUOTA sampling — [[prioritySample]] per stratum: the k highest
    * priorities within EACH stratum ("100 docs per language, drawn
    * proportional to quality"), keeping the global sampler's exact
    * determinism contract (hash-derived uniforms, one IEEE division,
    * ties to the smaller id). Ranking runs through the bounded
    * [[graft.functions.TopKCollect]] aggregate — map-side partials
    * carry ≤ k rows per stratum across the exchange, no WindowExec —
    * so a million-stratum corpus samples in one shuffle-linear pass.
    * Output: (stratum, id, priority, rank); oracled as q_quota_sample. */
  def prioritySampleByKey(idCol: Column, weightCol: Column,
                          stratumCol: Column, kPerStratum: Int,
                          seed: Int = 0): Op = { df =>
    require(kPerStratum >= 1,
      s"prioritySampleByKey: kPerStratum must be >= 1: $kPerStratum")
    // isnan: NaN passes both null and <= 0 predicates (NaN comparisons
    // are false) yet sorts ABOVE every real priority — corrupt weight
    // rows would silently fill the sample instead of failing the run
    val w = when(weightCol.isNull || weightCol <= 0.0 ||
      isnan(weightCol.cast("double")), raise_error(
      concat(lit("prioritySampleByKey: weight must be > 0 (and not NaN) for id="),
        idCol.cast("string")))).otherwise(weightCol.cast("double"))
    val h = xxhash64(lit(seed),
      refuseNull(idCol, lit("prioritySampleByKey: NULL id")))
    val u = (h.bitwiseAND(lit((1L << 53) - 1)) + lit(1L)).cast("double")
    // pre-project the key: takeOrderedByKey re-selects its key columns
    // after the aggregate, where the source expression no longer resolves
    // the id rides through refuseNull as a projected column too:
    // takeOrderedByKey pre-filters id.isNotNull (its own NULL-drop
    // contract), which would otherwise short-circuit the raise_error in
    // the score expression and silently drop NULL-id rows — this family
    // REFUSES them (same contract as prioritySample / sampleToBudget)
    val pre = df.withColumn("stratum", refuseNull(stratumCol,
      lit("prioritySampleByKey: NULL stratum")))
      .withColumn("__psk_id", refuseNull(idCol,
        lit("prioritySampleByKey: NULL id")))
    takeOrderedByKey(kPerStratum, col("__psk_id"), w / u,
      Seq(col("stratum")), as = ("id", "priority"))(pre)
  }

  /** Deterministic WEIGHT-PROPORTIONAL sampling without replacement —
    * priority sampling (Duffield–Lund–Thorup, JACM'07): each row gets
    * priority q = w / u with u a per-row uniform, and the k highest
    * priorities form the sample (heavier rows need a smaller uniform to
    * be excluded, so inclusion probability grows with weight; the
    * estimator max(w, τ) with τ = the (k+1)-th priority makes subset
    * sums unbiased — expose τ by asking for k+1 and dropping the last).
    * The training-data use: "sample n docs proportional to quality
    * score" without a giant multinomial draw.
    *
    * Determinism across engines and reruns, the [[hashSample]] bar: u
    * derives from `xxhash64(seed, id)` — u = (h & (2^53−1)) + 1 scaled
    * by nothing (q = w·2^53/u orders identically to w/u, so the
    * constant cancels and is dropped). One IEEE division per row, ties
    * broken by id asc; the oracle replays the identical arithmetic
    * through the OracleXxh macros (q_weighted_sample).
    *
    * Scale: map-only scoring + `TakeOrderedAndProject` top-k (each task
    * keeps ≤ k rows, no global sort). NULL id/weight refused; weights
    * must be > 0 (a zero weight can never win but would divide into a
    * valid priority of 0 — refused loudly instead so a half-NULL score
    * column fails the run, not the sample). Adds `priority` and 1-based
    * `sample_rank`. */
  def prioritySample(idCol: Column, weightCol: Column, k: Int,
                     seed: Int = 0): Op = { df =>
    require(k >= 1, s"prioritySample: k must be >= 1: $k")
    // isnan: NaN passes both null and <= 0 predicates (NaN comparisons
    // are false) yet sorts ABOVE every real priority — corrupt weight
    // rows would silently fill the sample instead of failing the run
    val w = when(weightCol.isNull || weightCol <= 0.0 ||
      isnan(weightCol.cast("double")), raise_error(
      concat(lit("prioritySample: weight must be > 0 (and not NaN) for id="),
        idCol.cast("string")))).otherwise(weightCol.cast("double"))
    val h = xxhash64(lit(seed),
      refuseNull(idCol, lit("prioritySample: NULL id")))
    val u = (h.bitwiseAND(lit((1L << 53) - 1)) + lit(1L)).cast("double")
    df.withColumn("priority", w / u)
      .orderBy(col("priority").desc, idCol.asc)
      .limit(k)
      .withColumn("sample_rank",
        row_number().over(Window.orderBy(col("priority").desc, idCol.asc)))
  }
}
