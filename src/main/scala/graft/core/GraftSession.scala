package graft.core

import org.apache.spark.sql.SparkSession

/** Production SparkSession builder with the engine's scale posture baked
  * in, so `graft.Main` (and embedders) get the same configuration the
  * 100 TB design assumes instead of stock defaults:
  *
  *  - AQE on, with skew-join splitting and partition coalescing — the
  *    runtime re-plan layer the skew-sensitive operators (range join,
  *    bucket joins) rely on beyond the manual salting escape hatch.
  *  - UTC session time zone (oracle-checked time semantics assume it).
  *  - `nanosAsLong` parquet compatibility (the corpus's TIMESTAMP(NANOS)
  *    columns; `Tables.table` rebuilds µs timestamps on top).
  *  - graft's native expressions registered for SQL via GraftExtensions.
  *  - a generated-class cache sized to the engine's working set
  *    ([[CodegenCacheEntries]]), so repeated plans reuse compiled code,
  *    and whole-stage class names without the stage id: AQE numbers
  *    stages in the order they complete, so with the id in the name a
  *    rerun of the same plan could miss the cache.
  *
  * `shufflePartitions` = 0 (the default) derives the setting where it
  * can be known at build time: a `local[N]` master gets N, `local[*]`
  * gets the box's processor count (the driver contract's
  * local[32] → 32). For a cluster master (or a master injected by
  * spark-submit, i.e. `master` empty here) the core count is unknown
  * until executors register, so the conf is left for the deployment to
  * set explicitly — pass ~2-3× total cores, or rely on AQE coalescing
  * from an explicit high initial value; stock 200 is NOT a 100 TB
  * posture.
  */
object GraftSession {

  /** `spark.sql.codegen.cache.maxEntries` for every session seam
    * (`GraftSession.builder`, `core.Measure.session`, the test session).
    * Spark's default of 100 is below the working set of repeated runs:
    * all 240 `SparkEntry.queries` need about 2,059 generated classes and
    * every 48th of them 154, so at 100 entries each repeated pass
    * recompiles everything (docs/BENCH.md, "Codegen cache — measured").
    * 4096 is about twice the 240-query working set. The conf is static,
    * and Spark reads it once, when the JVM first generates code, from
    * the active session: only the builder of the first session sets it. */
  val CodegenCacheEntries = 4096L

  def builder(master: String = "", shufflePartitions: Int = 0)
      : SparkSession.Builder = {
    val b = SparkSession.builder()
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // r15 optimization round, production-posture I/O defaults:
      // zstd parquet output — markedly smaller than snappy at similar
      // read speed, which at 100 TB is less to store AND less to scan
      // back; 256 MB advisory post-shuffle partitions — reduce-side
      // partitions in the 100 MB–1 GB band amortize per-task overhead
      // and keep shuffle block counts (M×R) down as the cluster grows.
      // Neither touches the bench/verify session (core.Measure builds
      // its own), so the driver's measurement protocol is unchanged;
      // both remain overridable through the builder like any conf.
      .config("spark.sql.parquet.compression.codec", "zstd")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "256m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries)
      .config("spark.sql.codegen.useIdInClassName", "false")
    val withMaster = if (master.nonEmpty) b.master(master) else b
    val derived = derivePartitions(master, shufflePartitions)
    if (derived > 0)
      withMaster.config("spark.sql.shuffle.partitions", derived.toString)
    else withMaster
  }

  /** Shuffle-partition derivation (see object scaladoc): explicit wins;
    * a local[N] master derives N; local[*]/local the processor count; a
    * cluster (or injected) master returns 0 = leave unset. */
  private[graft] def derivePartitions(master: String,
                                      explicit: Int): Int =
    if (explicit > 0) explicit
    else master match {
      case "local[*]" | "local" =>
        Runtime.getRuntime.availableProcessors()
      case m if m.startsWith("local[") && m.endsWith("]") =>
        m.stripPrefix("local[").stripSuffix("]").toIntOption.getOrElse(0)
      case _ => 0
    }
}
