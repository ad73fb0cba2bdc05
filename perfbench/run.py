#!/usr/bin/env python3
"""Run one perfbench workload and print its metrics.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the engine and the
harness from source with sbt (perfbench/build.sbt) into .bench_build/;
later runs reuse the build while the sources are unchanged. Each run
starts one JVM (Spark local[nproc]) for the workload. The last line of
standard output is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (--trace 0) or the per-layer metrics
(--trace 1). The line before it stamps the source tree, the commit when
known, the 1-min load average and the JVM settings. The exit code is
nonzero when any output check fails. See perfbench/README.md.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

T_START = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import gen  # noqa: E402

WORKLOADS = ("query_battery", "topo_batch", "stream_live")
TOPO_DOCS = 10000
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850

END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "wall_s": "s",
    "p50_ms": "ms",
    "tail_ms": "ms",
    "ops_per_s": "1/s",
}

PER_LAYER = {
    "build.s": "s", "build.jobs": "count", "build.jobs_frac": "frac",
    "catalyst.analysis_s": "s", "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s", "catalyst.aqe_replans": "count",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.task_s": "s", "exec.cpu_s": "s", "exec.gc_s": "s",
    "exec.busy_frac": "frac", "exec.shuffle_bytes": "bytes",
    "exec.shuffle_records": "count", "exec.spill_bytes": "bytes",
    "exec.failed_tasks": "count", "exec.speedup_1core": "x",
    "driver.outside_jobs_s": "s",
    "topology.parse_ms": "ms", "topology.start_ms": "ms",
    "topology.run_batch_s": "s",
    "ops.gopher.s": "s", "ops.gopher.rows_in": "count",
    "ops.gopher.rows_out": "count",
    "ops.dedup.s": "s", "ops.dedup.rows_in": "count",
    "ops.dedup.rows_out": "count",
    "ops.neardup.s": "s", "ops.neardup.rows_in": "count",
    "ops.neardup.rows_out": "count",
    "mb.batches": "count", "mb.empty_frac": "frac",
    "mb.trigger_ms.p50": "ms", "mb.trigger_ms.p99": "ms",
    "mb.latest_offset_ms": "ms", "mb.query_planning_ms": "ms",
    "mb.add_batch_ms": "ms", "mb.wal_commit_ms": "ms",
    "mb.commit_offsets_ms": "ms", "mb.rows_per_batch": "count",
    "state.rows_total": "count", "state.memory_bytes": "bytes",
    "state.commit_ms": "ms", "state.rows_dropped_late": "count",
    "source.lag_rows": "count", "source.lag_slope": "1/s",
    "sink.files": "count", "gen.late_ms.p99": "ms",
    "gen.input_s": "s",
    "stream.lat_p50_ms.low": "ms", "stream.lat_p99_ms.low": "ms",
    "stream.lat_p50_ms.high": "ms", "stream.lat_p99_ms.high": "ms",
    "jvm.gc_s": "s", "jvm.heap_peak_mb": "MB",
    "trace.overhead_frac": "frac", "trace.reconcile_err": "frac",
    "trace.dropped_intervals": "count", "trace.listener_s": "s",
}

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def log(msg):
    print("perfbench: " + msg, file=sys.stderr, flush=True)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "project")]
    out = [os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, files in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x != "target")
            out += [os.path.join(d, f) for f in sorted(files)]
    return out


def tree_hash():
    h = hashlib.sha256()
    for p in source_files():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build(build_dir, stamp):
    """Compile with sbt unless this source tree is already built; return
    (runtime classpath, whether it compiled)."""
    cp_file = os.path.join(build_dir, "classpath.txt")
    stamp_file = os.path.join(build_dir, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip(), False
    os.makedirs(build_dir, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
           "export Runtime/fullClasspath"]
    log("building with sbt (first run in this checkout)")
    with open(os.path.join(build_dir, "build.log"), "w") as out:
        p = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                           stderr=out, stdin=subprocess.DEVNULL, text=True,
                           timeout=BUILD_TIMEOUT_S)
        out.write(p.stdout)
    lines = [ln for ln in p.stdout.splitlines() if ln.startswith("/")]
    if p.returncode != 0 or not lines:
        raise RuntimeError("sbt build failed; see .bench_build/build.log")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp, True


def heap():
    """SPARK_DRIVER_MEM when set (the variable build.sbt reads), else a
    quarter of physical memory, clamped to 2..4 GB."""
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    gb = 8
    try:
        with open("/proc/meminfo") as f:
            for ln in f:
                if ln.startswith("MemTotal:"):
                    gb = int(ln.split()[1]) // (1024 * 1024)
    except OSError:
        pass
    return "%dg" % max(2, min(4, gb // 4))


def commit():
    try:
        p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True, timeout=10)
        return p.stdout.strip() if p.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def run_jvm(cp, args, work, cpus, mem, deadline):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    out = os.path.join(work, "result.json")
    if os.path.exists(out):
        os.remove(out)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", "java.base/%s=ALL-UNNAMED" % p]
    cmd += ["-Xmx" + mem,
            "-XX:+Use%sGC" % os.environ.get("SPARK_DRIVER_GC", "Parallel"),
            "-Djava.io.tmpdir=" + tmp, "-Dspark.local.dir=" + tmp,
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "perfbench.Main",
            "--base", ROOT, "--work", work, "--out", out,
            "--cpus", str(cpus)] + args
    with open(os.path.join(work, "jvm.log"), "w") as jl:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=jl, stderr=jl,
                             stdin=subprocess.DEVNULL,
                             start_new_session=True)
        try:
            p.wait(timeout=max(10.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            raise RuntimeError("JVM run timed out")
        finally:
            # the JVM's group also holds the stream feeder it starts
            try:
                os.killpg(p.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            p.wait()
    if not os.path.exists(out):
        raise RuntimeError("JVM wrote no result (exit %d); see %s"
                           % (p.returncode, os.path.join(work, "jvm.log")))
    with open(out) as f:
        return json.load(f)


def main(argv):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # set only in the BENCHMARK.json command, so they live in one place
    ap.add_argument("--stream-rates", required=True,
                    help="stream_live offered rates low,high (events/s)")
    ap.add_argument("--p99-limit-ms", type=float, required=True,
                    help="stream_live latency limit for ops_per_s")
    ap.add_argument("--record", action="store_true",
                    help="record query_battery expectations (maintainers)")
    a = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        log("no program sources next to perfbench/ (src/main/scala)")
        return 2
    if not gen.selfcheck():
        log("generator self-check failed")
        return 3
    build_dir = os.path.join(ROOT, ".bench_build")
    stamp = tree_hash()
    b0 = time.time()
    cp, built = build(build_dir, stamp)
    # a first run's build is not set-up, and its own budget starts after it
    build_s = time.time() - b0 if built else 0.0
    deadline = T_START + build_s + RUN_TIMEOUT_S

    work = os.path.join(build_dir, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cpus = len(os.sched_getaffinity(0))
    mem = heap()
    gen_s = 0.0
    if a.workload == "topo_batch":
        g0 = time.time()
        os.makedirs(os.path.join(work, "corpus"))
        gen.write_corpus(a.seed, TOPO_DOCS,
                         os.path.join(work, "corpus", "part-0.json"))
        gen_s = time.time() - g0
    args = ["--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--rates", a.stream_rates, "--limit-ms", str(a.p99_limit_ms)]
    if a.record:
        run_jvm(cp, args + ["--mode", "record"], work, cpus, mem, deadline)
        return 0
    load1 = os.getloadavg()[0]
    res = run_jvm(cp, args, work, cpus, mem, deadline)

    layers = dict(res["layers"])
    if a.trace and a.workload == "topo_batch":
        # single-threaded baseline: one warmed runBatch on local[1]
        one = os.path.join(work, "one")
        os.makedirs(one)
        shutil.copytree(os.path.join(work, "corpus"),
                        os.path.join(one, "corpus"))
        r1 = run_jvm(cp, args + ["--mode", "speedup"], one, 1, mem, deadline)
        layers["exec.speedup_1core"] = (r1["e2e"]["wall_s"]
                                        / layers["topo.untraced_s"])
        res["failed"] += r1["failed"]
        res["attempted"] += r1["attempted"]
        res["problems"] += r1["problems"]
    layers["gen.input_s"] = layers.get("gen.input_s", 0.0) + gen_s

    # set-up: process start to the first timed operation, less the
    # input generation and the one-off build of a fresh checkout
    e2e = dict(res["e2e"])
    e2e["setup_s"] = res["first_op_ms"] / 1e3 - T_START - gen_s - build_s
    names = PER_LAYER if a.trace else END_TO_END
    src = layers if a.trace else e2e
    metrics = {}
    for n, unit in names.items():
        v = src.get(n)
        if v is None and a.trace:
            v = 0.0  # layer not exercised by this workload
        if v is None:
            raise RuntimeError("metric %s not measured" % n)
        metrics[n] = {"value": v, "unit": unit}
    correct = res["failed"] == 0
    for p in res["problems"]:
        log(p)
    print("stamp " + json.dumps({
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "tree_sha256": stamp, "commit": commit(), "load1_before": load1,
        "load1_after": os.getloadavg()[0], "cpus": cpus, "heap": mem,
        "samples": res["layers"].get("samples"),
        "spans": os.path.join(work, "spans.jsonl") if a.trace else None}))
    print(json.dumps({"correct": correct, "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))
    return 0 if correct else 1


def _terminate(signum, _frame):
    # killed from outside: the finally in run_jvm stops the JVM's group
    raise SystemExit(128 + signum)


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, _terminate)
    try:
        sys.exit(main(sys.argv[1:]))
    except Exception as e:  # a failed run prints no result line
        log("error: %s" % e)
        sys.exit(1)
