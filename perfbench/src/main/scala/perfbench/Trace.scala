package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. `op` names the workload operation the span
  * belongs to (a query name, a run index, a micro-batch). */
final case class Span(id: Int, parent: Int, name: String, op: String,
                      startMs: Double, endMs: Double) {
  def dur: Double = endMs - startMs
}

/** Spans recorded by the harness around calls into the engine's public
  * entry points. Disabled, `span` only runs its body. Enabled, every
  * call records (name, start, end, parent, op) in memory; listener
  * intervals (jobs, Catalyst phases, micro-batches) are added when the
  * run ends, each under the deepest harness span containing its start. */
final class Tracer(val enabled: Boolean, val coresHint: Int = 1) {
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil

  def nowMs: Double = System.nanoTime() / 1e6 - Tracer.nanoOffsetMs

  def span[T](name: String, op: String = "")(body: => T): T =
    if (!enabled) body
    else {
      val id = spans.size
      val parent = stack.headOption.getOrElse(-1)
      spans += Span(id, parent, name, op, nowMs, Double.NaN)
      stack = id :: stack
      try body
      finally {
        stack = stack.tail
        spans(id) = spans(id).copy(endMs = nowMs)
      }
    }

  def roots: Seq[Span] = spans.filter(_.parent < 0).toSeq
  def all: Seq[Span] = spans.toSeq

  /** Intervals `attach` found no host for. */
  var dropped = 0

  /** Attach an externally timed interval under the deepest span that
    * contains its start (attached ones included, so attach outer
    * intervals first), clipped to that span. An interval that starts
    * outside every span is not attached but counted in `dropped`. */
  def attach(name: String, op: String, startMs: Double, endMs: Double)
      : Unit = {
    val hosts = spans.filter(s => s.startMs <= startMs && startMs < s.endMs)
    if (hosts.isEmpty) dropped += 1
    else {
      val host = hosts.maxBy(depth)
      spans += Span(spans.size, host.id, "@" + name, op,
        startMs, math.min(endMs, host.endMs))
    }
  }

  private def depth(s: Span): Int =
    if (s.parent < 0) 0 else 1 + depth(spans(s.parent))

  /** Self time: duration minus the union of the children's intervals. */
  def selfTimes: Map[Int, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val iv = kids.get(s.id).toSeq.flatten.map(c => (c.startMs, c.endMs))
      s.id -> (s.dur - Tracer.unionLength(iv))
    }.toMap
  }

  def write(path: String): Unit = {
    val self = selfTimes
    val w = new java.io.PrintWriter(path)
    try spans.foreach { s =>
      w.println(Json.obj(Seq("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "op" -> s.op, "start_ms" -> s.startMs,
        "end_ms" -> s.endMs, "self_ms" -> self(s.id))))
    } finally w.close()
  }
}

object Tracer {
  /** nanoTime and the listeners' epoch-ms clocks share one time line. */
  val nanoOffsetMs: Double =
    System.nanoTime() / 1e6 - System.currentTimeMillis().toDouble

  def unionLength(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (curE.isNaN || s > curE) {
        if (!curE.isNaN) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (!curE.isNaN) total += curE - curS
    total
  }
}

/** Spark-side counters for the traced run: a SparkListener (jobs,
  * stages, tasks, shuffle, GC, AQE re-plans) and a
  * QueryExecutionListener (Catalyst phase times). Attached and detached
  * by the benchmark; the engine is not modified. */
final class SparkCounters(spark: SparkSession) {
  import SparkCounters.Job
  val jobs = ArrayBuffer.empty[Job]
  val phases = ArrayBuffer.empty[(String, Double, Double)]
  @volatile var stages, tasks, failedTasks, aqeReplans = 0L
  @volatile var taskMs, cpuNs, gcMs = 0.0
  @volatile var shuffleBytes, shuffleRecords, spillBytes = 0L
  @volatile var callbackNs = 0L

  private def timed(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    body
    callbackNs += System.nanoTime() - t0
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = timed {
      jobs.synchronized { jobs += Job(e.jobId, e.time.toDouble, Double.NaN) }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
      jobs.synchronized {
        jobs.find(_.id == e.jobId).foreach(_.endMs = e.time.toDouble)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      timed { stages += 1 }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
      tasks += 1
      if (!e.taskInfo.successful) failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        taskMs += m.executorRunTime
        cpuNs += m.executorCpuTime
        gcMs += m.jvmGCTime
        shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        shuffleRecords += m.shuffleWriteMetrics.recordsWritten
        spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = timed {
      e match {
        case _: SparkListenerSQLAdaptiveExecutionUpdate => aqeReplans += 1
        case _ =>
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = timed {
      qe.tracker.phases.foreach { case (name, p) =>
        phases.synchronized {
          phases += ((name, p.startTimeMs.toDouble, p.endTimeMs.toDouble))
        }
      }
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception)
        : Unit = record(qe)
  }

  def attach(): this.type = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    this
  }

  /** Detach after the listener bus has delivered every event. */
  def detach(): Unit = {
    Listeners.drain(spark)
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  def phaseSec(name: String): Double =
    phases.filter(_._1 == name).map(p => p._3 - p._2).sum / 1e3
}

object SparkCounters {
  final case class Job(id: Int, startMs: Double, var endMs: Double)
}

/** Structured Streaming progress, always collected on stream runs: the
  * micro-batch end times are how event latency is measured. */
final class ProgressLog extends StreamingQueryListener {
  val events = ArrayBuffer.empty[StreamingQueryListener.QueryProgressEvent]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent)
      : Unit = ()
  override def onQueryProgress(
      e: StreamingQueryListener.QueryProgressEvent): Unit =
    events.synchronized { events += e }
  override def onQueryTerminated(
      e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}

object Listeners {
  /** Wait until the asynchronous listener bus has delivered every event
    * posted so far (Spark's own test hook, reached reflectively). */
  def drain(spark: SparkSession): Unit = try {
    val bus = spark.sparkContext.getClass.getMethod("listenerBus")
      .invoke(spark.sparkContext)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  } catch { case _: Throwable => Thread.sleep(500) }
}

/** JVM-wide GC time and heap peak over an interval. */
final class JvmMeter {
  import java.lang.management.ManagementFactory
  import scala.jdk.CollectionConverters._
  private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime).filter(_ >= 0).sum
  private val gc0 = gcMs
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
  heapPools.foreach(_.resetPeakUsage())
  def gcSec: Double = (gcMs - gc0) / 1e3
  def heapPeakMb: Double =
    heapPools.map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0)
}
