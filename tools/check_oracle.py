#!/usr/bin/env python3
"""Local replica of the driver's t2 correctness gate (dev tool only — the
shipped library has no Python dependency).

Usage: python3 tools/check_oracle.py <sfDir> <verifyOutDir> \
           [--json out.json] [--workers N]

Reads each <name>/ parquet written by graft.Verify, runs the matching
oracle_sql.json query in DuckDB over the same parquet tables, sorts columns
by name and rows by value, and compares exactly. Each report entry carries
`seconds`, the DuckDB execute + fetch time of that oracle; the run ends by
printing the 10 slowest.

Parallel by default (r15): the per-query cost is dominated by DuckDB
planning/executing the macro-expanded oracle SQL (~4s fixed each at any
SF), embarrassingly parallel across queries — 8 workers cut the 240-query
arbitration from ~25 min to ~4 min. --workers 1 gives the legacy serial
path; results, output lines, and the --json report are identical and
deterministically ordered either way.
"""
import json
import multiprocessing as mp
import os
import sys
import time

import duckdb
import pyarrow.dataset as pds


def canon(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    out = []
    for r in rows:
        out.append(tuple(r[i] for i in order))
    out.sort(key=lambda t: tuple((v is None, str(v)) for v in t))
    return [colnames[i] for i in order], out


def _ram_gb():
    try:
        with open("/proc/meminfo") as f:
            for ln in f:
                if ln.startswith("MemTotal:"):
                    return int(ln.split()[1]) / (1024 * 1024)
    except Exception:
        pass
    return 16.0  # conservative guess when /proc is unavailable


def fresh_con(sf_dir, mem_limit=None):
    con = duckdb.connect()
    if mem_limit:
        # parallel workers must not each claim DuckDB's default 80% of
        # RAM — N concurrent heavy MATERIALIZED-CTE oracles would
        # oversubscribe physical memory and flip correctness rows to
        # spurious OOM FAILs (the serial r7 incident, multiplied)
        con.execute(f"SET memory_limit='{mem_limit}'")
        con.execute(f"SET temp_directory='/tmp/duck_spill_{os.getpid()}'")
    for tbl in ["region", "nation", "customer", "supplier", "part", "orders",
                "lineitem", "events", "documents", "embeddings"]:
        con.execute(
            f"CREATE VIEW {tbl} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{tbl}.parquet')")
    return con


# per-worker-process state (fresh after fork: parent never connects)
_SF = _OUT = _MEM = None
_CON = None
_N_SINCE = 0


def _init(sf_dir, out_dir, mem_limit=None):
    global _SF, _OUT, _MEM
    _SF, _OUT, _MEM = sf_dir, out_dir, mem_limit


def _check_one(item):
    """Full compare for one query; returns (name, report_entry, lines,
    passed). Runs inside a worker: each process keeps its own DuckDB
    connection, recycled every 25 queries — a single DuckDB 1.0
    connection accumulates allocator state across 200+ heavy
    MATERIALIZED-CTE queries until tiny allocations fail (observed
    round 7: 3 spurious OOM "FAIL"s that all pass standalone)."""
    global _CON, _N_SINCE
    name, sql = item
    if _CON is None or _N_SINCE >= 25:
        if _CON is not None:
            _CON.close()
        _CON = fresh_con(_SF, _MEM)
        _N_SINCE = 0
    _N_SINCE += 1
    lines = []
    t0 = None
    try:
        got_tbl = pds.dataset(f"{_OUT}/{name}").to_table()
        got_cols = got_tbl.column_names
        got_rows = [tuple(r.values()) for r in got_tbl.to_pylist()]
        t0 = time.perf_counter()
        exp = _CON.execute(sql)
        exp_cols = [d[0] for d in exp.description]
        exp_rows = exp.fetchall()
        secs = round(time.perf_counter() - t0, 3)
    except Exception as e:
        secs = None if t0 is None else round(time.perf_counter() - t0, 3)
        return (name,
                {"rows_match": None, "schema_match": None,
                 "values_match": None, "err": str(e)[:300],
                 "seconds": secs},
                [f"FAIL {name}: exception {e}"], False)
    gc, gr = canon(got_rows, got_cols)
    ec, er = canon(exp_rows, exp_cols)
    entry = {"rows_match": len(gr) == len(er),
             "schema_match": gc == ec,
             "values_match": gr == er,
             "spark_rows": len(gr), "oracle_rows": len(er),
             "err": None, "seconds": secs}
    if gc != ec:
        lines.append(f"FAIL {name}: schema {gc} != {ec}")
        return name, entry, lines, False
    if gr != er:
        lines.append(f"FAIL {name}: {len(gr)} vs {len(er)} rows")
        for a, b in list(zip(gr, er))[:200]:
            if a != b:
                lines.append(f"   got {a}\n   exp {b}")
                break
        if len(gr) != len(er):
            only_g = set(map(str, gr)) - set(map(str, er))
            only_e = set(map(str, er)) - set(map(str, gr))
            lines.append(f"   only-got {list(only_g)[:3]}")
            lines.append(f"   only-exp {list(only_e)[:3]}")
        return name, entry, lines, False
    lines.append(f"PASS {name} ({len(gr)} rows)")
    return name, entry, lines, True


def main(sf_dir, out_dir, json_out=None, workers=None):
    # version skew between this box's DuckDB and the driver's is a live
    # suspect whenever local-pass/driver-fail divergence appears (r6 DSIR)
    print(f"duckdb {duckdb.__version__}")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    items = sorted(oracle.items())
    if workers is None:
        workers = min(8, os.cpu_count() or 1)
    # Half of RAM is the aggregate DuckDB budget. Never FLOOR the
    # per-worker cap upward (N floored connections would oversubscribe a
    # small box — the r7 spurious-OOM class, plus mp.Pool can hang
    # forever if the kernel OOM-kills a worker mid-imap); instead SHED
    # workers until 2GB each fits inside the budget.
    mem_budget_gb = _ram_gb() * 0.5
    fit = max(1, int(mem_budget_gb / 2.0))
    if workers > fit:
        print(f"[check_oracle] reducing workers {workers} -> {fit} "
              f"(RAM budget {mem_budget_gb:.1f}GB / 2GB floor)")
        workers = fit
    n_pass = n_fail = 0
    report = {}

    def consume(result):
        nonlocal n_pass, n_fail
        name, entry, lines, passed = result
        report[name] = entry
        for ln in lines:
            print(ln)
        if passed:
            n_pass += 1
        else:
            n_fail += 1

    if workers <= 1:
        _init(sf_dir, out_dir)
        for it in items:
            consume(_check_one(it))
    else:
        # fork + per-process lazy connections; imap preserves the sorted
        # deterministic output order of the serial path. The budget
        # split is exact because the worker count was shed above to keep
        # every connection >= 2GB without oversubscription.
        mem = f"{mem_budget_gb / workers:.1f}GB"
        with mp.get_context("fork").Pool(
                workers, initializer=_init,
                initargs=(sf_dir, out_dir, mem)) as pool:
            for result in pool.imap(_check_one, items):
                consume(result)
    timed = sorted(((e["seconds"], n) for n, e in report.items()
                    if e["seconds"] is not None), reverse=True)
    print("slowest oracles (DuckDB s): " +
          ", ".join(f"{n} {s:.2f}" for s, n in timed[:10]))
    print(f"== {n_pass} pass / {n_fail} fail ==")
    if json_out:
        with open(json_out, "w") as f:
            json.dump(report, f, indent=1, sort_keys=True)
    return 1 if n_fail else 0


if __name__ == "__main__":
    jo = None
    nw = None
    argv = sys.argv[1:]
    if "--json" in argv:
        i = argv.index("--json")
        jo = argv[i + 1]
        argv = argv[:i] + argv[i + 2:]
    if "--workers" in argv:
        i = argv.index("--workers")
        nw = int(argv[i + 1])
        argv = argv[:i] + argv[i + 2:]
    sys.exit(main(argv[0], argv[1], jo, nw))
