package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** The session seams size Spark's generated-class cache to the engine's
  * working set (`core.GraftSession.CodegenCacheEntries`), so a plan run
  * again reuses its compiled classes. Counted, not timed: every Janino
  * compile records one sample in `CodegenMetrics.METRIC_COMPILATION_TIME`. */
class CodegenCacheSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Empty the JVM-wide class cache, so the first run below starts cold
    * whichever suites ran before it in this JVM. The cache is private to
    * Spark's `CodeGenerator`, so it is reached by reflection. */
  private def invalidateCodegenCache(): Unit = {
    val gen = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    val m = gen.getClass.getDeclaredMethod("cache")
    m.setAccessible(true)
    val cache = m.invoke(gen)
    cache.getClass.getMethod("invalidateAll").invoke(cache)
  }

  test("a second run of a query slice reuses generated classes") {
    // every 24th query in name order: the benchmark's battery (every
    // 48th) and as many again, so the first run compiles more classes
    // than Spark's default cache holds (the battery alone now compiles
    // fewer than 100)
    val slice = SparkEntry.queries.keys.toVector.sorted.zipWithIndex
      .collect { case (n, i) if i % 24 == 0 => n }
    def run(): Long = {
      val c0 = compiles
      slice.foreach(n => SparkEntry.queries(n)(spark, sfDir).count())
      compiles - c0
    }
    // the session first: Spark sizes the cache when its CodeGenerator is
    // first touched, from the conf of the session active at that moment
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      core.GraftSession.CodegenCacheEntries.toString)
    invalidateCodegenCache()
    val first = run()
    val second = run()
    info(s"${slice.mkString(",")}: $first compiles, then $second")
    // over Spark's default cache of 100 entries: at that size nearly
    // every class of the first run is evicted before the second asks
    assert(first > 100, s"first run compiled only $first classes")
    assert(second * 10 <= first,
      s"second run recompiled $second of the first run's $first classes")
  }
}
