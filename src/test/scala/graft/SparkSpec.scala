package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one per JVM — Test/fork := true):
  * `GraftSession.builder` on local[4] plus [[Confs]]. */
object TestSpark {

  /** What the test session adds to `GraftSession`'s posture: its name,
    * a throwaway warehouse dir (a static conf, so set before create) and
    * no UI. */
  val Confs: Map[String, String] = Map(
    "spark.app.name" -> "graft-test",
    "spark.sql.warehouse.dir" ->
      java.nio.file.Files.createTempDirectory("graft-wh").toString,
    "spark.ui.enabled" -> "false")

  def builder: SparkSession.Builder =
    graft.core.GraftSession.builder("local[4]").config(Confs)

  lazy val spark: SparkSession = {
    val s = builder.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  /** Spark jobs that `body` starts from this thread (tagged with a job
    * group of its own, so other threads' jobs are not counted). */
  def jobs(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val group = s"count-${java.util.UUID.randomUUID()}"
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (js.properties != null &&
            js.properties.getProperty("spark.jobGroup.id") == group)
          n.incrementAndGet()
    }
    sc.addSparkListener(l)
    sc.setJobGroup(group, group)
    try body
    finally {
      sc.clearJobGroup()
      org.apache.spark.graftbridge.ListenerDrain(sc)
      sc.removeSparkListener(l)
    }
    n.get
  }

  /** `body` with the session confs `kvs` set, the prior values restored
    * afterwards. */
  def withConf[T](kvs: (String, String)*)(body: => T): T = {
    val prior = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  /** `body` on the codegen path, then on the interpreted one (no
    * whole-stage codegen, `NO_CODEGEN` projection factories: each
    * expression runs through `eval`). The argument names the path for
    * assertion messages. */
  def onBothPaths(body: String => Unit): Unit = {
    body("codegen")
    withConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(body("interpreted"))
  }
}
