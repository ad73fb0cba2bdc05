package graft

import java.io.ByteArrayOutputStream
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The dev CLI (`graft.Dev`) and the one session seam it stands on: every
  * subcommand runs on one sf0.001 query against the test session, and no
  * main outside `graft/core/` builds its own SparkSession. */
class DevSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  /** The lines `Dev.run` prints for `args`. */
  private def dev(args: String*): Seq[String] = {
    val buf = new ByteArrayOutputStream
    Console.withOut(buf)(Dev.run(spark, args.toArray))
    buf.toString("UTF-8").linesIterator.toSeq
  }

  test("no SparkSession.builder() call in src/main/scala outside " +
    "graft/core/ (comment lines excluded)") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), root.toAbsolutePath)
    val core = root.resolve("graft/core")
    val walk = Files.walk(root)
    val offenders = try walk.iterator.asScala
      .filter(p => p.toString.endsWith(".scala") && !p.startsWith(core))
      .filter { p: Path =>
        Files.readAllLines(p).asScala.exists { l =>
          val t = l.trim
          !t.startsWith("//") && !t.startsWith("*") && !t.startsWith("/*") &&
            t.contains("SparkSession.builder()")
        }
      }.map(root.relativize(_).toString).toVector.sorted
    finally walk.close()
    assert(offenders.isEmpty,
      s"build sessions through core.Measure or core.GraftSession: $offenders")
  }

  test("SparkEntry.queries is built once") {
    assert(SparkEntry.queries eq SparkEntry.queries)
  }

  test("SPARK_GRAFT_CONF: ';' separates and keeps commas in values; ',' " +
    "separates only without ';'; malformed entries are skipped") {
    assert(Dev.confPairs("a=1;spark.sql.optimizer.excludedRules=x,y;;=z;b") ==
      Seq("a" -> "1", "spark.sql.optimizer.excludedRules" -> "x,y"))
    assert(Dev.confPairs("a=1,b=k=v") == Seq("a" -> "1", "b" -> "k=v"))
  }

  test("time: one line per query with min, max and rows") {
    val out = dev("time", sfDir, "q_filter", "1")
    assert(out.exists(_.matches(
      "TIMING q_filter min=\\d+\\.\\d\\d max=\\d+\\.\\d\\d rows=\\d+")),
      out.mkString("\n"))
  }

  test("explain prints the plan with the parquet pushdown") {
    val out = dev("explain", sfDir, "q_filter").mkString("\n")
    assert(out.contains("===== q_filter ====="), out)
    assert(out.contains("PushedFilters"), out)
  }

  test("explain-final prints the plan after the run") {
    val out = dev("explain-final", sfDir, "q_filter").mkString("\n")
    assert(out.contains("===== q_filter ====="), out)
    assert(out.contains("isFinalPlan=true"), out)
  }

  test("ab restores arm A: a conf with no default is unset again") {
    val key = "spark.sql.optimizer.excludedRules"
    assert(spark.conf.getOption(key).isEmpty)
    val out = dev("ab", sfDir, "q_filter",
      s"$key=${graft.plans.SimplifyKernelPredicates.ruleName}", "1")
    assert(out.exists(_.startsWith("AB q_filter")), out.mkString("\n"))
    assert(spark.conf.getOption(key).isEmpty)
  }

  test("profile prints the job and stage table of one run") {
    val out = dev("profile", sfDir, "q_filter")
    val head = out.find(_.startsWith("===== q_filter wall="))
      .getOrElse(fail(out.mkString("\n")))
    val jobs = "jobs=(\\d+)".r.findFirstMatchIn(head).map(_.group(1).toInt)
    assert(jobs.exists(_ >= 1), head)
    assert(out.count(_.trim.startsWith("job ")) == jobs.get, out.mkString("\n"))
    assert(out.exists(_.trim.startsWith("stage wall=")), out.mkString("\n"))
  }
}
