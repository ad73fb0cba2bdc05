package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every emitted oracle — in particular the `materializeCtes` cases whose
  * CTEs are rewritten `AS MATERIALIZED` by [[queries.Case.oracleSql]]'s
  * regex pass — must still be valid DuckDB SQL. The rewrite is a bare regex
  * over the SQL text; an oracle containing `ident AS (` in an
  * unexpected position (string literal, WINDOW clause) could be
  * silently corrupted and only surface as a red driver row a round
  * later. Two tiers, sized so `sbt test` stays fast:
  *
  *  - PARSE every oracle (duckdb.extract_statements — the driver-side
  *    engine's own parser; ~0.3s for all 220);
  *  - EXPLAIN-bind the `materializeCtes` ones against views over
  *    the sf0.001 tables with the optimizer disabled (~10s; full-EXPLAIN
  *    over all 220 costs ~2 minutes in macro expansion, measured).
  *
  * DuckDB rides the container's python3 (the driver's own oracle
  * stack); the suite cancels — not fails — where that stack is absent,
  * since the library itself must not depend on it. */
class OracleParseSpec extends AnyFunSuite {

  private def haveDuckDb: Boolean =
    try {
      val p = new ProcessBuilder("python3", "-c", "import duckdb")
        .redirectErrorStream(true).start()
      p.waitFor() == 0
    } catch { case _: Throwable => false }

  /** The cases whose oracle CTEs are rewritten `AS MATERIALIZED`. */
  private def materialized: Seq[String] =
    SparkEntry.cases.filter(_.materializeCtes).map(_.name).sorted

  // the same escaping contract as Verify's oracle_sql.json emission
  private def jq(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  test("every oracle parses in DuckDB; materialized rewrites also " +
    "EXPLAIN-bind over the sf0.001 tables") {
    assume(haveDuckDb, "python3+duckdb not present in this environment")
    val sf = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$sf/documents.parquet").exists(),
      s"$sf testdata not present")

    val oracles = SparkEntry.oracleSql
    // sanity: every materializeCtes case has an oracle, and each
    // rewrite actually took effect
    materialized.foreach { n =>
      assert(oracles.contains(n), s"materializeCtes oracle missing: $n")
      assert(oracles(n).contains(" AS MATERIALIZED ("),
        s"$n sets materializeCtes but no CTE was materialized")
    }

    val json = oracles.map { case (k, v) => s"${jq(k)}: ${jq(v)}" }
      .mkString("{", ",", "}")
    // bind set = the regex-rewritten oracles plus the GENERATED ones:
    // q_url_psl (9.8k-rule VALUES tables + three rule-class CASE
    // ladders from the parsed PSL) and q_drift_dag (seed-chained XXH64
    // bucket macro + TVD grid) — a generator bug should fail binding
    // here, not a driver round later
    val allowJson = (materialized ++
      Seq("q_url_psl", "q_drift_dag")).sorted.map(jq)
      .mkString("[", ",", "]")
    val dir = java.nio.file.Files.createTempDirectory("oracle-parse")
    java.nio.file.Files.writeString(dir.resolve("oracle_sql.json"), json)
    java.nio.file.Files.writeString(dir.resolve("allow.json"), allowJson)
    val script = dir.resolve("check_all.py")
    java.nio.file.Files.writeString(script,
      s"""import duckdb, json, sys, os
         |d = sys.argv[1]
         |sqls = json.load(open(os.path.join(d, "oracle_sql.json")))
         |allow = json.load(open(os.path.join(d, "allow.json")))
         |bad = []
         |parsed = {}
         |for name in sorted(sqls):
         |    try:
         |        # the driver engine's own parser; multi-statement
         |        # oracles (XXH64 macro preambles) split here too
         |        parsed[name] = duckdb.extract_statements(sqls[name])
         |    except Exception as e:
         |        bad.append("parse %s: %s"
         |                   % (name, str(e).splitlines()[0]))
         |con = duckdb.connect()
         |con.execute("PRAGMA disable_optimizer")
         |for t in ["region", "nation", "customer", "supplier", "part",
         |          "orders", "lineitem", "events", "documents",
         |          "embeddings"]:
         |    con.execute("CREATE VIEW %s AS SELECT * FROM "
         |                "read_parquet('$sf/%s.parquet')" % (t, t))
         |for name in allow:
         |    if name not in parsed:
         |        continue
         |    try:
         |        stmts = parsed[name]
         |        for s in stmts[:-1]:
         |            con.execute(s.query)
         |        con.execute("EXPLAIN " + stmts[-1].query).fetchall()
         |    except Exception as e:
         |        bad.append("bind %s: %s"
         |                   % (name, str(e).splitlines()[0]))
         |for b in bad:
         |    print(b)
         |sys.exit(1 if bad else 0)
         |""".stripMargin)
    val p = new ProcessBuilder("python3", script.toString, dir.toString)
      .redirectErrorStream(true).start()
    val out = new String(p.getInputStream.readAllBytes(),
      java.nio.charset.StandardCharsets.UTF_8)
    val code = p.waitFor()
    assert(code == 0,
      s"${oracles.size} oracles checked; DuckDB rejected:\n$out")
  }

  /** Tier 3 (round 12): EXECUTE the memory-heavy oracles at the
    * driver's own scale (sf0.01) under a HARD 200MB DuckDB memory cap
    * with a spill directory. The round-11 board went red on four
    * oracle-side OOMs that the parse/bind tiers cannot see — peak
    * memory is a property of execution, not of the plan. Every
    * `materializeCtes` case (which includes all four r11 reds)
    * must complete under the cap; a regression that re-inflates an
    * oracle's working set now fails `sbt test` instead of a driver
    * round later. */
  test("materialize-allowlisted oracles EXECUTE at sf0.01 under a " +
    "200MB DuckDB memory cap") {
    assume(haveDuckDb, "python3+duckdb not present in this environment")
    val sf = "/root/testdata/sf0.01"
    assume(new java.io.File(s"$sf/documents.parquet").exists(),
      s"$sf testdata not present")

    val oracles = SparkEntry.oracleSql
    val names = materialized
    val json = names.map(n => s"${jq(n)}: ${jq(oracles(n))}")
      .mkString("{", ",", "}")
    val dir = java.nio.file.Files.createTempDirectory("oracle-exec")
    java.nio.file.Files.writeString(dir.resolve("oracle_sql.json"), json)
    val script = dir.resolve("exec_capped.py")
    java.nio.file.Files.writeString(script,
      s"""import duckdb, json, sys, os, time
         |d = sys.argv[1]
         |sqls = json.load(open(os.path.join(d, "oracle_sql.json")))
         |bad = []
         |for name in sorted(sqls):
         |    con = duckdb.connect()  # fresh cap + spill per oracle
         |    con.execute("SET memory_limit='200MB'")
         |    con.execute("SET temp_directory='%s'"
         |                % os.path.join(d, "spill"))
         |    for t in ["region", "nation", "customer", "supplier",
         |              "part", "orders", "lineitem", "events",
         |              "documents", "embeddings"]:
         |        con.execute("CREATE VIEW %s AS SELECT * FROM "
         |                    "read_parquet('$sf/%s.parquet')" % (t, t))
         |    t0 = time.time()
         |    try:
         |        stmts = duckdb.extract_statements(sqls[name])
         |        for s in stmts[:-1]:
         |            con.execute(s.query)
         |        rows = con.execute(stmts[-1].query).fetchall()
         |        print("ok %s: %d rows %.1fs"
         |              % (name, len(rows), time.time() - t0))
         |        if not rows:
         |            bad.append("exec %s: zero rows" % name)
         |    except Exception as e:
         |        bad.append("exec %s: %s"
         |                   % (name, str(e).splitlines()[0]))
         |    con.close()
         |for b in bad:
         |    print(b)
         |sys.exit(1 if bad else 0)
         |""".stripMargin)
    val p = new ProcessBuilder("python3", script.toString, dir.toString)
      .redirectErrorStream(true).start()
    val out = new String(p.getInputStream.readAllBytes(),
      java.nio.charset.StandardCharsets.UTF_8)
    val code = p.waitFor()
    assert(code == 0,
      s"${names.size} oracles executed under 200MB cap:\n$out")
  }
}
