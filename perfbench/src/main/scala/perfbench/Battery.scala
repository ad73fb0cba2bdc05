package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** `query_battery`: a fixed slice of `SparkEntry.queries`, one client in
  * a closed loop on the measurement session graft.Bench uses.
  *
  * The slice is every `Stride`-th query in name order, spread over the
  * query families, small enough that a run fits the time budget. The seed
  * rotates the name order (pass k starts at query seed + 7k): each pass
  * starts elsewhere while every query keeps its predecessor, so
  * order effects (GC debt, caches left by the previous query) stay
  * comparable across seeds. The first pass collects every result
  * and checks it against the recorded hashes; `WarmPasses` untimed
  * passes follow, since pass times keep falling for about four passes
  * (JIT) and a median over passes still on that slope moves with where
  * it is cut. The timed passes then run `fn(spark, dir).count()` until
  * `seconds` is used (at least `MinPasses`), each count checked
  * against the recorded row count. */
object Battery {
  val Stride = 48
  val WarmPasses = 3
  val MinPasses = 5

  def names: Vector[String] =
    graft.SparkEntry.queries.keys.toVector.sorted.zipWithIndex
      .collect { case (n, i) if i % Stride == 0 => n }

  /** Order-independent digest of a result: each row rendered
    * canonically (binary as hex, maps sorted, doubles by their shortest
    * repr), the rendered rows sorted, then hashed. */
  def digest(df: DataFrame): (Long, String) = {
    val cols = df.columns.toIndexedSeq
    val order = cols.indices.sortBy(cols(_))
    val rows = df.collect().map(r =>
      order.map(i => render(r.get(i))).mkString("\u0001")).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(order.map(cols(_)).mkString(",").getBytes("UTF-8"))
    rows.foreach { s => md.update(s.getBytes("UTF-8")); md.update(10: Byte) }
    (rows.length.toLong, md.digest().map("%02x".format(_)).mkString)
  }

  private def render(v: Any): String = v match {
    case null => "∅"
    case b: Array[Byte] => b.map("%02x".format(_)).mkString("0x", "", "")
    case d: Double => java.lang.Double.toString(d)
    case f: Float => java.lang.Float.toString(f)
    case r: Row => (0 until r.length).map(i => render(r.get(i)))
      .mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }.sorted
        .mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case other => other.toString
  }

  /** name -> (rows, digest) from the recorded expectations file. */
  def loadExpected(path: String): Map[String, (Long, String)] = {
    val line = """"([^"]+)":\{"rows":(\d+),"digest":"([0-9a-f]*)"\}""".r
    val text = java.nio.file.Files.readString(java.nio.file.Paths.get(path))
    line.findAllMatchIn(text).map(m =>
      m.group(1) -> (m.group(2).toLong, m.group(3))).toMap
  }

  /** Record the expectations of every query of the slice. */
  def record(spark: SparkSession, dir: String, out: String): Unit = {
    val oracled = graft.SparkEntry.oracleSql.keySet
    val entries = names.map { n =>
      val (rows, d) = digest(graft.SparkEntry.queries(n)(spark, dir))
      // the ScalaTest-pinned sketches have no oracle: rows only
      val dig = if (oracled(n)) d else ""
      s"""  ${Json.str(n)}:{"rows":$rows,"digest":"$dig"}"""
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out),
      entries.mkString("{\n", ",\n", "\n}\n"))
  }

  def run(spark: SparkSession, dir: String, expectedPath: String,
          seed: Long, seconds: Double, tracer: Tracer, res: Result)
      : Unit = {
    val expected = loadExpected(expectedPath)
    val qs = names
    require(qs.forall(expected.contains),
      s"no recorded expectation for: ${qs.filterNot(expected.contains)}")
    def rotation(k: Int): Vector[String] = {
      val start = Math.floorMod(seed + 7L * k, qs.size.toLong).toInt
      qs.drop(start) ++ qs.take(start)
    }
    def fn(n: String) = graft.SparkEntry.queries(n)

    // check pass: full result digests (also the JVM warm-up)
    rotation(0).foreach { n =>
      res.attempted += 1
      try {
        val (rows, d) = digest(fn(n)(spark, dir))
        val (eRows, eDig) = expected(n)
        if (rows != eRows || (eDig.nonEmpty && d != eDig))
          res.fail(1, s"$n: rows $rows digest $d != recorded $eRows $eDig")
      } catch { case t: Throwable => res.fail(1, s"$n threw: $t") }
    }

    /** One timed pass; returns (pass seconds, (query, seconds) pairs). */
    def pass(idx: Int, tracer: Tracer): (Double, Seq[(String, Double)]) = {
      val order = rotation(idx + 1)
      val t0 = System.nanoTime()
      val lat = tracer.span("battery.pass", s"pass$idx") {
        order.map { n =>
          res.attempted += 1
          val q0 = System.nanoTime()
          tracer.span("query", n) {
            try {
              val df = tracer.span("build", n) { fn(n)(spark, dir) }
              val c = tracer.span("action", n) { df.count() }
              if (c != expected(n)._1)
                res.fail(1, s"$n: count $c != ${expected(n)._1}")
            } catch { case t: Throwable => res.fail(1, s"$n threw: $t") }
          }
          n -> (System.nanoTime() - q0) / 1e9
        }
      }
      ((System.nanoTime() - t0) / 1e9, lat)
    }

    for (i <- 1 to WarmPasses) pass(-i, new Tracer(false))
    res.markFirstOp()
    if (!tracer.enabled) {
      val start = System.nanoTime()
      val passes = scala.collection.mutable.ArrayBuffer.empty[Double]
      val byQuery = scala.collection.mutable.LinkedHashMap
        .empty[String, scala.collection.mutable.ArrayBuffer[Double]]
      def elapsed = (System.nanoTime() - start) / 1e9
      // a pass count floor, so it does not flip with the pass time
      while (passes.size < MinPasses ||
          elapsed + Stats.mean(passes.toSeq) <= seconds) {
        val (p, l) = pass(passes.size, tracer)
        passes += p
        l.foreach { case (n, t) =>
          byQuery.getOrElseUpdate(n,
            scala.collection.mutable.ArrayBuffer.empty[Double]) += t }
      }
      // one figure per query: its median over the passes, so a single
      // slow pass moves no query's figure
      val med = byQuery.values.map(xs => Stats.median(xs.toSeq)).toSeq
      System.err.println(s"perfbench: passes ${passes.mkString(",")}")
      System.err.println("perfbench: query samples " + byQuery.map {
        case (n, xs) => n + "=" + xs.map(x => f"$x%.3f").mkString(",")
      }.mkString(" "))
      // a pass at every query's median: steadier than the median pass
      val wall = med.sum
      res.e2e("wall_s") = wall
      res.e2e("p50_ms") = Stats.interquartileMean(med) * 1e3
      res.e2e("tail_ms") = Stats.tailMean(med, 0.75) * 1e3
      res.e2e("ops_per_s") = qs.size / wall
      res.layers("samples") = byQuery.values.map(_.size).sum.toDouble
    } else {
      // traced run: a pass with listeners on between two untraced ones,
      // so the remaining drift does not read as tracing overhead
      val (plain1, _) = pass(-1, new Tracer(false))
      val c = new SparkCounters(spark).attach()
      val jvm = new JvmMeter
      val t0 = tracer.nowMs
      val (traced, _) = pass(0, tracer)
      val window = (t0, tracer.nowMs)
      c.detach()
      val (plain2, _) = pass(1, new Tracer(false))
      val plain = (plain1 + plain2) / 2
      res.layers("jvm.gc_s") = jvm.gcSec
      res.layers("jvm.heap_peak_mb") = jvm.heapPeakMb
      res.layers("trace.overhead_frac") = traced / plain - 1.0
      Layers.spark(res, tracer, c, window)
    }
  }
}
