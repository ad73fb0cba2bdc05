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

  /** What the measurement session adds to `GraftSession`'s posture:
    * 8 MB splits, so the single-file test tables stay parallel, and no
    * UI. */
  val Confs: Map[String, String] = Map(
    "spark.sql.files.maxPartitionBytes" -> "8m",
    "spark.ui.enabled" -> "false")

  /** The measurement session's builder: `GraftSession.builder` on
    * local[cpus] (so cpus shuffle partitions) plus [[Confs]]. Callers
    * that add confs (`graft.Dev`) add them to this builder, before the
    * session exists, so static confs apply too. */
  def builder(cpus: String): SparkSession.Builder =
    GraftSession.builder(s"local[$cpus]").config(Confs)

  /** The measurement SparkSession every timed main uses ([[builder]]). */
  def session(cpus: String): SparkSession = {
    val s = builder(cpus).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def loadAvg: Double = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean.getSystemLoadAverage

  /** CPU in use by everything but this JVM, in cores: the system's
    * recent CPU load minus this process's
    * (`com.sun.management.OperatingSystemMXBean`), averaged over
    * `samples` one-second readings. The 1-min load average would also
    * count this run's own sweep for a minute after it ends. Falls back
    * to [[loadAvg]] where the JVM reports no CPU load. */
  def otherCpuLoad(samples: Int = 3): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean =>
        os.getCpuLoad; os.getProcessCpuLoad // each reads since its last call
        val reads = (1 to samples).map { _ =>
          Thread.sleep(1000L)
          (os.getCpuLoad, os.getProcessCpuLoad)
        }
        if (reads.exists { case (sys, proc) => sys < 0 || proc < 0 }) loadAvg
        else reads.map { case (sys, proc) => math.max(0.0, sys - proc) }
          .sum / samples * Runtime.getRuntime.availableProcessors
      case _ => loadAvg
    }

  /** Quiet-box gate: wait (bounded) for the CPU load of OTHER processes
    * ([[otherCpuLoad]]) to drop below `gate` cores, sleeping 15s
    * between checks. Returns ms slept; callers stamp it so a
    * never-quiet run is self-documenting. The budget is a mutable cell
    * shared across a run's gate points so the TOTAL wait stays bounded
    * (the graft.Bench round-12 protocol). */
  final class WaitBudget(var remainingMs: Long)

  def awaitQuietBox(budget: WaitBudget, gate: Double = 2.0): Long = {
    var waited = 0L
    while (budget.remainingMs > 0 && otherCpuLoad() > gate) {
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
