package graft.core

import org.apache.spark.sql.SparkSession

/** The one SparkSession builder. Every session seam builds on it —
  * `graft.Main`, the measurement session `core.Measure` (Bench, Verify,
  * `graft.Dev`) and the test session — so production, the oracle gate
  * and Tier-1 answer under one posture ([[Posture]]):
  *
  *  - AQE on, with skew-join splitting and partition coalescing — the
  *    runtime re-plan layer the skew-sensitive operators (range join,
  *    bucket joins) rely on beyond the manual salting escape hatch.
  *  - zstd parquet output (docs/BENCH.md, "GraftSession I/O posture":
  *    30 % smaller than snappy at equal write and re-scan wall) and
  *    256 MB advisory post-shuffle partitions: reduce-side partitions in
  *    the 100 MB–1 GB band amortize per-task overhead and keep shuffle
  *    block counts (M×R) down as the cluster grows. Coalescing ignores
  *    the advisory size while `coalescePartitions.parallelismFirst`
  *    keeps its default of true.
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
  * Shuffle partitions are derived where they can be known at build
  * time: a `local[N]` master gets N, `local[*]` the box's processor
  * count (the driver contract's local[32] → 32). For a cluster master
  * (or a master injected by spark-submit, i.e. `master` empty here) the
  * core count is unknown until executors register, so the conf is left
  * for the deployment to set — pass ~2-3× total cores, or rely on AQE
  * coalescing from an explicit high initial value; stock 200 is NOT a
  * 100 TB posture. A seam adds its own confs to the returned builder,
  * never one that [[Posture]] states (DevSpec pins this).
  */
object GraftSession {

  /** `spark.sql.codegen.cache.maxEntries` for every session. Spark's
    * default of 100 is below the working set of repeated runs: all 240
    * `SparkEntry.queries` need about 2,059 generated classes and every
    * 48th of them 154, so at 100 entries each repeated pass recompiles
    * everything (docs/BENCH.md, "Codegen cache — measured"). 4096 is
    * about twice the 240-query working set. The conf is static, and
    * Spark reads it once, when the JVM first generates code, from the
    * active session: only the builder of the first session sets it. */
  val CodegenCacheEntries = 4096L

  /** The engine's posture: every conf [[builder]] sets but the derived
    * shuffle partitions. */
  val Posture: Map[String, String] = Map(
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.sql.parquet.compression.codec" -> "zstd",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "256m",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.extensions" -> "graft.GraftExtensions",
    "spark.sql.codegen.cache.maxEntries" -> CodegenCacheEntries.toString,
    "spark.sql.codegen.useIdInClassName" -> "false")

  def builder(master: String = ""): SparkSession.Builder = {
    val b = SparkSession.builder().config(Posture)
    val withMaster = if (master.nonEmpty) b.master(master) else b
    val derived = derivePartitions(master)
    if (derived > 0)
      withMaster.config("spark.sql.shuffle.partitions", derived.toString)
    else withMaster
  }

  /** Shuffle-partition derivation (see object scaladoc): a local[N]
    * master derives N; local[*]/local the processor count; a cluster (or
    * injected) master returns 0 = leave unset. */
  private[graft] def derivePartitions(master: String): Int = master match {
    case "local[*]" | "local" => Runtime.getRuntime.availableProcessors()
    case m if m.startsWith("local[") && m.endsWith("]") =>
      m.stripPrefix("local[").stripSuffix("]").toIntOption.getOrElse(0)
    case _ => 0
  }
}
