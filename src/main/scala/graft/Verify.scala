package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // driver calls (sfDir, outDir); an optional 3rd arg is a dev-only
    // comma-separated query-name filter for fast single-query iteration
    val Array(sfDir, outDir) = args.take(2)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val fastMode = sys.env.get("SPARK_GRAFT_FAST").contains("1")
    val cpus = core.Measure.cpus
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val outFile = new java.io.File(outDir)
    outFile.mkdirs()
    require(outFile.isDirectory && outFile.canWrite,
      s"[verify] cannot create/write outDir $outDir — aborting loudly " +
        "(an unwritable outDir must never read as an empty-but-clean run)")
    // startup forensic stamp, written BEFORE the SparkSession even
    // builds (r14 verdict task 1): if a downstream correctness artifact
    // ever comes back empty again, the presence/absence of this file in
    // the out dir tells a judge whether Verify launched at all — and a
    // present stamp with no _verify_summary says it died between
    // session startup and the query loop (port binding, JVM memory),
    // the exact ambiguity the r13/r14 `{}` artifacts left unanswered.
    val t0 = System.nanoTime()
    val free = outFile.getUsableSpace / (1024L * 1024L)
    Files.writeString(Paths.get(s"$outDir/_verify_env.json"),
      s"""{"cwd":${q(new java.io.File(".").getCanonicalPath)},""" +
        s""""java":${q(System.getProperty("java.version"))},""" +
        s""""free_disk_mb":$free,"cpus":${q(cpus)},"fast":$fastMode,""" +
        s""""args":${args.map(q).mkString("[", ",", "]")}}""" + "\n")
    // the SHARED measurement session (core.Measure.session) — a
    // verbatim inline copy here is exactly the drift the Measure module
    // exists to prevent (its doc: "the round-13 review found three
    // verbatim copies drifting apart")
    val spark = core.Measure.session(cpus)
    // oracle_sql.json is written FIRST (it depends on nothing but the
    // static maps): if the query loop dies mid-run, the driver's
    // compare still sees every oracle and the partial artifacts —
    // partial-and-loud beats empty (r13: CORRECTNESS_r13.json came
    // back `{}` with no in-artifact way to tell harness failure from
    // engine failure)
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // The per-query loop runs on a small fixed thread pool (guide §2.6
    // "overlap independent jobs"): the 240 queries are independent, each
    // ends in a tiny coalesce(1) write, and the serial loop left the box
    // idle between a query's driver-side planning and its short jobs
    // (measured numbers: OPTIMIZATION_r16.md "Verify wall time") — byte-
    // identical outputs (one shared session; per-query plans unchanged —
    // the only cross-query session state is idempotent temp-view
    // registration of the same tables). Default 4 per the guide ("2-3 in
    // flight is plenty" + one for planning overlap); SPARK_GRAFT_VERIFY_PAR
    // overrides, =1 restores the serial loop.
    val par = math.max(1, sys.env.get("SPARK_GRAFT_VERIFY_PAR")
      .map(_.trim.toInt).getOrElse(4))
    val okCounter = new java.util.concurrent.atomic.AtomicInteger(0)
    val failedMap =
      new java.util.concurrent.ConcurrentHashMap[String, String]()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(par)
    val names = SparkEntry.queries.keys.toVector
      .filter(name => only.forall(_.contains(name)))
    val futures = names.map { name => pool.submit(new Runnable {
      def run(): Unit = {
      val fn = SparkEntry.queries(name)
      try {
        // job descriptions/groups are thread-local — each worker labels
        // its own jobs so a stuck run's UI/logs attribute correctly
        spark.sparkContext.setJobDescription(s"verify: $name")
        val out = fn(spark, sfDir)
        // Deterministism hardening: a single explicit global sort over ALL
        // orderable columns as the LAST op before the write, so the parquet
        // row order is provably stable run-to-run regardless of partition
        // layout (a row-order-sensitive hash on the driver side otherwise
        // sees whatever order the final exchange produced).
        //
        // SPARK_GRAFT_FAST=1 (r14 verdict task 2, opt-in, default OFF):
        // skip the defensive sort where the query's own analyzed plan
        // already ends in a GLOBAL Sort — there EliminateSorts removes
        // the query's sort under ours anyway (one sort runs either
        // way), so the fork trades the all-columns total order for the
        // query's own declared order. Safe for a driver that canon-
        // sorts rows before hashing (ours does — check_oracle.py
        // replicates it). MEASURED r15 at sf0.01: 199s vs 201s
        // sbt-to-exit, all 240 outputs canon-identical — the sort is
        // NOT where Verify's wall time lives (planning + tiny
        // coalesce(1) writes are), so the default stays the provably
        // order-stable artifact; the flag remains for a driver whose
        // patience is ever within 1% of Verify's runtime.
        import org.apache.spark.sql.functions.col
        val querySorted = out.queryExecution.analyzed match {
          case s: org.apache.spark.sql.catalyst.plans.logical.Sort =>
            s.global
          case _ => false
        }
        val orderable = out.schema.fields.filter(f =>
          org.apache.spark.sql.catalyst.expressions.RowOrdering
            .isOrderable(f.dataType)).map(f => col(f.name)).toIndexedSeq
        val stable =
          if (orderable.isEmpty || (fastMode && querySorted)) out
          else out.orderBy(orderable: _*)
        stable.coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        okCounter.incrementAndGet()
      } catch { case e: Throwable =>
        failedMap.put(name, String.valueOf(e.getMessage))
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      }
    })}
    futures.foreach(f => try f.get() catch { case _: Throwable => () })
    pool.shutdown()
    val okCount = okCounter.get()
    // deterministic summary order regardless of completion interleaving
    val failed = names.filter(failedMap.containsKey)
    // self-arbitrating summary: one machine-readable line in the out
    // dir AND on stdout, so an empty downstream correctness artifact
    // always has an in-band counter-signal with counts and names
    val summary =
      s"""{"wrote":$okCount,"failed":${failed.size},""" +
        s""""failed_names":${failed.map(q).mkString("[", ",", "]")},""" +
        s""""oracle_entries":${SparkEntry.oracleSql.count { case (k, _) =>
          only.forall(_.contains(k)) }},"out_dir":${q(outDir)},""" +
        // in-JVM wall time (post-sbt): the timing series the selfcheck
        // verdict records each round so Verify growth toward any driver
        // timeout is visible before it manifests as an empty artifact
        s""""wall_sec":${(System.nanoTime() - t0) / 1e9}}"""
    Files.writeString(Paths.get(s"$outDir/_verify_summary.json"),
      summary + "\n")
    println(s"[verify] $summary")
    // exit stays 0 even with per-query failures: a harness that gates
    // its compare on the return code must still compare the partial
    // (236 green rows + 4 loud failures beats an empty artifact);
    // the summary above is the loud part
    spark.stop()
  }
}
