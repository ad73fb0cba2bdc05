package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query next to the DuckDB SQL that checks it.
  *
  * `run(spark, sfDir)` builds the query over the parquet tables in
  * `sfDir`. `oracle` is the equivalent ANSI SQL that DuckDB runs on the
  * same tables. The oracle gate hash-compares the two results after
  * sorting columns by name, so column names are aliased identically on both
  * sides. The oracle is a thunk, so listing the cases builds no SQL. It
  * is None only for the sketches with an engine-internal layout (HLL,
  * Distogram, Misra-Gries): the gate records a rows-only check and
  * ScalaTest pins their semantics. Everything else is oracled; the
  * OracleXxh prologue replicates Spark's XXH64 inside DuckDB for the
  * minhash/simhash/RHP-LSH/winnow/rolling-fp family.
  *
  * `materializeCtes` marks oracles whose CTE chains need 256MB–>1GB in
  * DuckDB 1.0 because the engine INLINES multi-referenced CTEs — every
  * reference re-instantiates the entire upstream subtree, so a chain
  * like res→asgc→cd each referenced twice multiplies the whole plan
  * (q_pq_ivf_residual once failed to allocate 260KB on a 500-row input
  * because its inlined plan needed a 256MB floor). Their
  * every CTE is rewritten `AS MATERIALIZED` at emission time: compute
  * once, store the (tiny at oracle scale) intermediate; memory floors
  * drop to 32–128MB. Materializing a single-reference CTE can cost more
  * than streaming it, so the cheap default stays inlining. */
final case class Case(name: String,
                      run: (SparkSession, String) => DataFrame,
                      oracle: Option[() => String],
                      materializeCtes: Boolean = false) {

  /** The oracle SQL as DuckDB runs it. */
  def oracleSql: Option[String] = oracle.map { sql =>
    if (materializeCtes) Case.materialize(sql()) else sql()
  }
}

object Case {

  /** An oracle, built only when it is asked for. */
  def oracle(sql: => String): Option[() => String] = Some(() => sql)

  // a CTE definition is the only place `<ident> AS (` appears in these
  // oracles (derived-table aliases are `AS t(cols)` — ident AFTER the
  // AS — and window/aggregate parens never follow a bare ident + AS)
  private val CteDef = """\b([A-Za-z_][A-Za-z0-9_]*) AS \(""".r
  private def materialize(sql: String): String =
    CteDef.replaceAllIn(sql, m => m.group(1) + " AS MATERIALIZED (")
}

/** One family of cases, kept in its own file. */
trait Family {
  val cases: Seq[Case]
}
