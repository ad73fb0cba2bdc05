#!/usr/bin/env bash
# One-command driver-side correctness arbitration (r14 verdict task 1).
#
# Runs the driver's t2 gate end-to-end locally: graft.Verify (every
# SparkEntry.queries -> parquet + oracle_sql.json) at the given scale
# factor, then the DuckDB compare, and writes ONE machine-readable JSON
# verdict with pass/fail counts and provenance (commit, duckdb version,
# wall times). Exit is NONZERO on any oracle mismatch or any Verify
# failure. git-dirty state is RECORDED (provenance.git_dirty + the
# printed line) but does not fail the gate — dev iterations run this
# dirty legitimately; a judge reading the verdict must check git_dirty
# before attributing the result to provenance.commit. One line:
#
#   tools/selfcheck.sh            # sf0.01, verdict -> report/selfcheck.json
#   tools/selfcheck.sh /root/testdata/sf0.001 /tmp/v.json   # fast smoke
#
# Dev-only tool: the shipped library has no bash/python dependency.
set -u -o pipefail
cd "$(dirname "$0")/.."
SF="${1:-/root/testdata/sf0.01}"
OUT="${2:-report/selfcheck.json}"
VDIR="$(mktemp -d /tmp/graft_selfcheck.XXXXXX)"
# the verify dir holds 240 parquet trees (hundreds of MB at sf0.01);
# repeated dev runs would leak /tmp dry, so clean up on exit unless the
# caller wants the outputs (e.g. to inspect the parquet dumps):
#   SELFCHECK_KEEP=1 tools/selfcheck.sh
if [ "${SELFCHECK_KEEP:-0}" != "1" ]; then
  trap 'rm -rf "$VDIR"' EXIT
else
  trap 'echo "[selfcheck] kept verify dir: $VDIR"' EXIT
fi
T0=$(date +%s)
sbt -batch "runMain graft.Verify $SF $VDIR"
RC_VERIFY=$?
T1=$(date +%s)
python3 tools/check_oracle.py "$SF" "$VDIR" --json "$VDIR/_oracle_report.json"
RC_ORACLE=$?
T2=$(date +%s)
python3 - "$SF" "$VDIR" "$OUT" "$RC_VERIFY" "$RC_ORACLE" "$T0" "$T1" "$T2" <<'PY'
import json, os, subprocess, sys
sf, vdir, out, rcv, rco, t0, t1, t2 = sys.argv[1:9]
rcv, rco, t0, t1, t2 = int(rcv), int(rco), int(t0), int(t1), int(t2)

def sh(*cmd):
    try:
        return subprocess.run(cmd, capture_output=True, text=True,
                              timeout=30).stdout.strip()
    except Exception as e:  # provenance best-effort, never the verdict
        return f"<error: {e}>"

def load(path):
    try:
        with open(path) as f:
            return json.load(f)
    except Exception as e:
        return {"_load_error": str(e)}

import duckdb
summary = load(os.path.join(vdir, "_verify_summary.json"))
env = load(os.path.join(vdir, "_verify_env.json"))
report = load(os.path.join(vdir, "_oracle_report.json"))
per_q = {k: v for k, v in report.items() if not k.startswith("_")}
n_pass = sum(1 for v in per_q.values()
             if isinstance(v, dict) and v.get("values_match") is True
             and v.get("schema_match") is True)
n_fail = len(per_q) - n_pass
failed = sorted(k for k, v in per_q.items()
                if not (isinstance(v, dict) and v.get("values_match") is True
                        and v.get("schema_match") is True))
ok = (rcv == 0 and rco == 0 and n_fail == 0
      and summary.get("failed") == 0 and n_pass > 0)
verdict = {
    "verdict": "PASS" if ok else "FAIL",
    "oracle_pass": n_pass,
    "oracle_fail": n_fail,
    "failed_queries": failed[:20],
    "verify_wrote": summary.get("wrote"),
    "verify_failed": summary.get("failed"),
    "oracle_entries": summary.get("oracle_entries"),
    "rows_only_by_design": (summary.get("wrote") or 0) - len(per_q)
        if isinstance(summary.get("wrote"), int) else None,
    "exit_codes": {"verify": rcv, "check_oracle": rco},
    "wall_sec": {"verify_sbt_to_exit": t1 - t0,
                 "verify_in_jvm": summary.get("wall_sec"),
                 "oracle_compare": t2 - t1, "total": t2 - t0},
    "provenance": {
        "commit": sh("git", "rev-parse", "HEAD"),
        "git_dirty": bool(sh("git", "status", "--porcelain")),
        "duckdb": duckdb.__version__,
        "sf_dir": sf, "verify_dir": vdir,
        "verify_env": env,
        "utc": sh("date", "-u", "+%Y-%m-%dT%H:%M:%SZ"),
    },
}
os.makedirs(os.path.dirname(out) or ".", exist_ok=True)
with open(out, "w") as f:
    json.dump(verdict, f, indent=1, sort_keys=False)
    f.write("\n")
dirty = " [GIT DIRTY — result not attributable to the stamped commit]" \
    if verdict["provenance"]["git_dirty"] else ""
print(f"[selfcheck] {verdict['verdict']}: {n_pass} pass / {n_fail} fail "
      f"(verify wrote={summary.get('wrote')} failed={summary.get('failed')}; "
      f"total {t2 - t0}s) -> {out}{dirty}")
sys.exit(0 if ok else 1)
PY
