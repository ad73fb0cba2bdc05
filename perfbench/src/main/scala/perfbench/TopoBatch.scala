package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.streaming.Topology

/** `topo_batch`: `Topology.runBatch` of a YAML chain GopherGateOp ->
  * DedupOp -> NearDupOp (verify) -> parquet sink over the seeded corpus
  * (gen.py). One operation is parse + runBatch, input to complete
  * result; every result is checked against the planted ground truth. */
object TopoBatch {
  val MinRuns = 5
  val Schema = "doc_id BIGINT, ts TIMESTAMP, kind STRING, text STRING"

  def yaml(input: String, cpus: Int): String =
    s"""shuffle_partitions: $cpus
       |topics:
       |  - name: docs
       |    kind: json
       |    path: $input
       |    schema: "$Schema"
       |  - name: gated
       |    kind: memory
       |  - name: unique
       |    kind: memory
       |  - name: novel
       |    kind: parquet
       |    path: unused
       |operators:
       |  gate:
       |    factory: graft.streaming.ops.GopherGateOp
       |    sources: [docs]
       |    sinks: [gated]
       |  dedup:
       |    factory: graft.streaming.ops.DedupOp
       |    sources: [gated]
       |    sinks: [unique]
       |  neardup:
       |    factory: graft.streaming.ops.NearDupOp
       |    sources: [unique]
       |    sinks: [novel]
       |    config:
       |      verify: true
       |""".stripMargin

  /** Ground truth: ids of the output must be distinct, every planted
    * distinct document survives, and no exact copy or Gopher-failing
    * document does. Returns the number of violations. */
  def check(spark: SparkSession, kinds: Map[Long, String], out: String,
            res: Result): Long = {
    val ids = spark.read.parquet(out).select("doc_id").collect()
      .map(_.getLong(0))
    val idSet = ids.toSet
    val dup = ids.length - idSet.size
    val missing = kinds.count { case (id, k) =>
      k == "distinct" && !idSet(id) }
    val wrong = ids.count(id =>
      kinds.get(id).forall(k => k == "fail" || k == "copy"))
    val bad = (dup + missing + wrong).toLong
    if (bad > 0) res.problems +=
      s"topo_batch: $dup duplicated, $missing distinct docs lost, " +
        s"$wrong copies/failing docs kept"
    bad
  }

  def run(spark: SparkSession, work: String, cpus: Int, seconds: Double,
          tracer: Tracer, res: Result, warmups: Int = 5,
          minRuns: Int = MinRuns): Unit = {
    val input = s"$work/corpus"
    val kinds = spark.read.schema(Schema).json(input)
      .select("doc_id", "kind").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val text = yaml(input, cpus)
    val out = s"$work/out"
    def once(t: Tracer, i: Int): Double = {
      val t0 = System.nanoTime()
      t.span("topo.run", s"run$i") {
        val topo = t.span("topology.parse", s"run$i") { Topology.parse(text) }
        t.span("topology.run_batch", s"run$i") { topo.runBatch(spark, out) }
      }
      (System.nanoTime() - t0) / 1e9
    }
    def verify(): Unit = {
      res.attempted += kinds.size
      res.failed += check(spark, kinds, s"$out/novel", res)
    }
    // warm-up: JIT, codegen, file listing. Run times keep falling for
    // about five runs; a median over runs still on that slope moves
    // with where it is cut
    for (i <- 1 to warmups) { once(new Tracer(false), -i); verify() }
    if (!tracer.enabled) {
      res.markFirstOp()
      val start = System.nanoTime()
      val runs = scala.collection.mutable.ArrayBuffer.empty[Double]
      def elapsed = (System.nanoTime() - start) / 1e9
      while (runs.size < minRuns ||
          elapsed + Stats.mean(runs.toSeq) <= seconds) {
        runs += once(tracer, runs.size)
        verify()
      }
      val r = runs.toSeq
      System.err.println(s"perfbench: runs ${r.mkString(",")}")
      res.e2e("wall_s") = Stats.median(r)
      res.e2e("p50_ms") = Stats.median(r) * 1e3
      // the slowest quarter: the slowest run alone rests on one sample
      res.e2e("tail_ms") = Stats.tailMean(r, 0.75) * 1e3
      res.e2e("ops_per_s") = kinds.size / Stats.median(r)
      res.layers("samples") = r.size.toDouble
    } else {
      res.markFirstOp()
      // a traced run between two untraced ones (see Battery)
      val plain1 = once(new Tracer(false), 0)
      val c = new SparkCounters(spark).attach()
      val jvm = new JvmMeter
      val w0 = tracer.nowMs
      val traced = once(tracer, 1)
      val window = (w0, tracer.nowMs)
      c.detach()
      verify()
      val plain = (plain1 + once(new Tracer(false), 2)) / 2
      res.layers("trace.overhead_frac") = traced / plain - 1.0
      res.layers("topo.untraced_s") = plain
      res.layers("topology.parse_ms") =
        tracer.all.filter(_.name == "topology.parse").map(_.dur).sum
      res.layers("topology.run_batch_s") =
        tracer.all.filter(_.name == "topology.run_batch").map(_.dur).sum / 1e3
      res.layers("jvm.gc_s") = jvm.gcSec
      res.layers("jvm.heap_peak_mb") = jvm.heapPeakMb
      Layers.spark(res, tracer, c, window)
      timeOps(spark, work, spark.read.schema(Schema).json(input),
        Seq("gopher", "dedup", "neardup"), tracer, res)
    }
  }

  /** Each operator factory timed alone on its materialized input (the
    * previous operator's materialized output), outside the topology. */
  def timeOps(spark: SparkSession, work: String, source: DataFrame,
              ops: Seq[String], tracer: Tracer, res: Result): Unit = {
    val factories = Map(
      "gopher" -> (graft.streaming.ops.GopherGateOp, Map.empty[String, Any]),
      "dedup" -> (graft.streaming.ops.DedupOp, Map.empty[String, Any]),
      "neardup" -> (graft.streaming.ops.NearDupOp,
        Map[String, Any]("verify" -> true)))
    var in = s"$work/ops_in"
    source.write.mode("overwrite").parquet(in)
    ops.foreach { op =>
      val (factory, conf) = factories(op)
      val out = s"$work/ops_$op"
      val input = spark.read.parquet(in)
      val t0 = System.nanoTime()
      tracer.span("ops." + op, op) {
        factory(conf, Seq(input)).head.write.mode("overwrite").parquet(out)
      }
      res.layers(s"ops.$op.s") = (System.nanoTime() - t0) / 1e9
      res.layers(s"ops.$op.rows_in") = input.count().toDouble
      res.layers(s"ops.$op.rows_out") = spark.read.parquet(out).count().toDouble
      // NearDupOp emits ids only; the next operator (none) needs no text
      in = out
    }
  }
}
