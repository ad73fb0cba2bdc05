package graft

/** The job ledger of the benchmark's query battery: the Spark jobs one
  * warm run of each query starts (DataFrame build plus `count()`), on
  * the fixed test session over sf0.001. A job count is a deterministic
  * counter, so a change that adds a stage to one of these queries fails
  * here rather than as noise in a wall-clock figure; a change that
  * removes one updates the ledger. */
class JobLedgerSpec extends SparkSpec {
  private val sfDir = "/root/testdata/sf0.001"

  /** Case name → jobs per warm run. */
  private val ledger: Map[String, Int] = Map(
    "q_adjacent_drift" -> 3,
    "q_drift_dag" -> 9,
    "q_last_by" -> 3,
    "q_pipeline_monitor" -> 10,
    "q_simsearch_ivf" -> 6)

  test("each battery query's warm run starts exactly its ledger's jobs") {
    val got = ledger.keys.toSeq.sorted.map { q =>
      val fn = SparkEntry.queries(q)
      fn(spark, sfDir).count() // warm: the schema memo, generated code
      q -> jobs(fn(spark, sfDir).count())
    }.toMap
    assert(got == ledger)
  }
}
