package graft

import java.io.ByteArrayOutputStream
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The dev CLI (`graft.Dev`) and the measurement surface it stands on:
  * every query subcommand runs on one sf0.001 query against the test
  * session, the scale sweep writes the artifact ScaleOutSpec reads, the
  * artifact escaper round-trips, every session is built on
  * `core.GraftSession.builder` and adds only its named confs to its
  * posture, and no library code persists outside `Ops.withPersisted`. */
class DevSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  /** The lines `Dev.run` prints for `args`. */
  private def dev(args: String*): Seq[String] = {
    val buf = new ByteArrayOutputStream
    Console.withOut(buf)(Dev.run(spark, args.toArray))
    buf.toString("UTF-8").linesIterator.toSeq
  }

  /** Every non-comment line of the Scala sources under `dir`, as (path
    * relative to it, 1-based line number, trimmed text). */
  private def code(dir: String): Seq[(String, Int, String)] = {
    val root = Paths.get(dir)
    assert(Files.isDirectory(root), root.toAbsolutePath)
    val walk = Files.walk(root)
    try walk.iterator.asScala
      .filter(_.toString.endsWith(".scala")).toVector
      .flatMap { p: Path =>
        Files.readAllLines(p).asScala.zipWithIndex.map { case (l, i) =>
          (root.relativize(p).toString, i + 1, l.trim)
        }
      }
      .filterNot { case (_, _, t) =>
        t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")
      }
    finally walk.close()
  }

  /** The confs a builder holds before it builds a session (Spark keeps
    * the map package-private, hence the reflection). */
  private def options(b: org.apache.spark.sql.SparkSession.Builder)
      : Map[String, String] =
    b.getClass.getMethod("options").invoke(b)
      .asInstanceOf[scala.collection.mutable.Map[String, String]].toMap

  test("only core/GraftSession.scala calls SparkSession's builder " +
    "(src/main/scala and src/test/scala, comment lines excluded)") {
    val call = "SparkSession" + ".builder()"
    val offenders = Seq("src/main/scala", "src/test/scala").flatMap { d =>
      code(d).collect { case (f, _, l) if l.contains(call) => s"$d/$f" }
    }.distinct.filterNot(_ == "src/main/scala/graft/core/GraftSession.scala")
    assert(offenders.isEmpty,
      s"build sessions on core.GraftSession.builder: $offenders")
  }

  test("the test session runs every conf of GraftSession's posture") {
    val differ = core.GraftSession.Posture.collect {
      case (k, v) if !spark.conf.getOption(k).contains(v) =>
        s"$k=${spark.conf.getOption(k)}, posture $v"
    }
    assert(differ.isEmpty, differ.mkString("; "))
  }

  test("Measure.builder and the test session add only their named confs " +
    "to GraftSession.builder's") {
    val base = options(core.GraftSession.builder("local[4]"))
    assert(base == core.GraftSession.Posture ++ Map(
      "spark.master" -> "local[4]", "spark.sql.shuffle.partitions" -> "4"))
    Seq("Measure" -> (core.Measure.builder("4"), core.Measure.Confs),
      "TestSpark" -> (TestSpark.builder, TestSpark.Confs)).foreach {
      case (seam, (b, confs)) =>
        assert(confs.keySet.intersect(base.keySet).isEmpty, seam)
        assert(options(b) == base ++ confs, seam)
    }
    // a posture conf re-stated with its own value leaves the maps equal,
    // so the seams' sources set confs through their list only
    val restated = Seq("src/main/scala" -> "graft/core/Measure.scala",
      "src/test/scala" -> "graft/SparkSpec.scala").flatMap { case (d, f) =>
      code(d).collect { case (`f`, n, l) if l.contains(".config(") &&
          !l.contains(".config(Confs)") => s"$f:$n: $l" }
    }
    assert(restated.isEmpty, restated.mkString("\n"))
  }

  test("src/main/scala persists only in Ops.withPersisted and the " +
    "topology memory relay (comment lines excluded)") {
    // each allowed file with its number of persisting lines and why
    val allowed: Map[String, (Int, String)] = Map(
      "graft/operators/Ops.scala" -> (1, "withPersisted: the one " +
        "scoped cache, released when its body returns"),
      "graft/streaming/Topology.scala" -> (1, "runBatch memory relay: " +
        "a view with two or more consumers is cached so they read one " +
        "materialization; the view is the run's output by design"))
    val hits = code("src/main/scala").filter { case (_, _, l) =>
      l.contains(".persist(") || l.contains(".cache()")
    }
    val offenders = hits.groupBy(_._1).toSeq.sortBy(_._1).collect {
      case (f, hs) if hs.size > allowed.get(f).fold(0)(_._1) =>
        hs.map { case (_, n, l) => s"$f:$n: $l" }.mkString("\n")
    }
    assert(offenders.isEmpty,
      "hold a cache through Ops.withPersisted, or rely on exchange " +
        s"reuse:\n${offenders.mkString("\n")}")
  }

  test("SparkEntry.queries is built once") {
    assert(SparkEntry.queries eq SparkEntry.queries)
  }

  test("SparkEntry.oracleSql is built once") {
    assert(SparkEntry.oracleSql eq SparkEntry.oracleSql)
  }

  test("the registry rejects a query name registered by two families") {
    def family(names: String*): queries.Family = new queries.Family {
      val cases = names.map(n => queries.Case(n, (s, _) => s.emptyDataFrame,
        None))
    }
    val ex = intercept[IllegalArgumentException](SparkEntry.registry(
      Seq(family("q_a", "q_b"), family("q_c", "q_a"))))
    assert(ex.getMessage.contains("q_a"), ex.getMessage)
    assert(!ex.getMessage.contains("q_b"), ex.getMessage)
    assert(SparkEntry.registry(Seq(family("q_a"), family("q_b")))
      .map(_.name) == Seq("q_a", "q_b"))
  }

  test("every case but the three engine-internal sketches has an oracle") {
    assert(SparkEntry.cases.size == SparkEntry.queries.size)
    assert(SparkEntry.cases.filter(_.oracle.isEmpty).map(_.name).toSet ==
      Set("q_approx_distinct", "q_distogram", "q_heavy_hitters"))
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

  test("Measure.jsonString: quote, backslash and control characters " +
    "round-trip through a JSON parser") {
    val s = "a\"b\\c\nd\te\u0001f\r"
    val node = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(core.Measure.jsonString(s))
    assert(node.isTextual && node.asText() == s)
    assert(core.Measure.jsonString("\n\t\u0001") == "\"\\n\\t\\u0001\"")
  }

  test("scale writes the artifact ScaleOutSpec parses, a throwing query " +
    "as a FAILED row") {
    val out = Files.createTempFile("graft_scale_out", ".json")
    try {
      Console.withOut(new ByteArrayOutputStream)(Dev.scale(spark, sfDir, 2,
        out.toString, Seq("q_tpch_q1", "q_no_such_query"),
        new core.Measure.WaitBudget(0L)))
      val (bar, rows) = ScaleOutSpec.parse(Files.readString(out))
      assert(bar == ScaleSweep.ratioBar(2))
      assert(rows.map(_.name) == Seq("q_tpch_q1", "q_no_such_query"))
      assert(ScaleOutSpec.failed(rows).map(_.name) == Seq("q_no_such_query"))
      assert(rows.head.small > 0 && rows.head.big > 0 &&
        rows.head.ratio > 0, rows.head)
    } finally Files.delete(out)
  }
}
