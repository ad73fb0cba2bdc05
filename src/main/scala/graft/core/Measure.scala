package graft.core

import org.apache.spark.sql.SparkSession

/** The measurement surface shared by `graft.Bench`, `graft.Verify` and
  * the dev CLI `graft.Dev` (including its `scale` and `stream` sweeps):
  * the session, the quiet-box gate and the JSON artifact writer. The
  * timing protocol itself is `graft.Bench.Timer`. One definition, so a
  * protocol change (gate threshold, session config, escaping) cannot
  * leave one tier running under different rules. */
object Measure {

  /** local[N] and shuffle partitions for every measured main:
    * `SPARK_GRAFT_CPUS`, default 4 (one value, so no tier silently
    * oversubscribes a small box). */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  /** The measurement session's builder: local[cpus], cpus shuffle
    * partitions, 8 MB splits (single-file test tables stay parallel),
    * UTC, graft extensions, no UI, and the engine's generated-class
    * cache settings (`GraftSession`). Callers that add confs
    * (`graft.Dev`) add them to this builder, before the session exists,
    * so static confs apply too. */
  def builder(cpus: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.files.maxPartitionBytes", "8m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries",
        GraftSession.CodegenCacheEntries)
      .config("spark.sql.codegen.useIdInClassName", "false")

  /** The measurement SparkSession every timed main uses ([[builder]]). */
  def session(cpus: String): SparkSession = {
    val s = builder(cpus).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def loadAvg: Double = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean.getSystemLoadAverage

  /** Quiet-box gate: wait (bounded) for the 1-min load average to drop
    * below `gate`, polling every 15s. Returns ms actually waited;
    * callers stamp it so a never-quiet run is self-documenting. The
    * budget is a mutable cell shared across a run's gate points so the
    * TOTAL wait stays bounded (the graft.Bench round-12 protocol). */
  final class WaitBudget(var remainingMs: Long)

  def awaitQuietBox(budget: WaitBudget, gate: Double = 2.0): Long = {
    var waited = 0L
    while (loadAvg > gate && budget.remainingMs > 0) {
      val step = math.min(15000L, budget.remainingMs)
      Thread.sleep(step)
      budget.remainingMs -= step
      waited += step
    }
    waited
  }

  /** `s` as a JSON string literal: quote and backslash escaped, newline,
    * carriage return and tab by name, every other control character as a
    * four-hex-digit `u` escape.
    * A path, SQL text or exception message must never make an artifact
    * unparseable. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Prints `json` as one stdout line, then writes it newline-terminated
    * to `path`. The printed line rides a log stream where a prefix can
    * break a parser; the file is the parse-proof copy. A failed write is
    * reported on stderr and does not abort the run. */
  def writeArtifact(path: String, json: String): Unit = {
    println(json)
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      json + "\n")
    catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"could not write $path: $e")
    }
  }
}
