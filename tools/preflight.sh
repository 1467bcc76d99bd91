#!/usr/bin/env bash
# Pre-snapshot gate: refuse to bless a round snapshot unless a FRESH run
# against the CURRENT /root/testdata — the same parquet the driver will use —
# is fully green and internally consistent.
#
# Round-8 postmortem: the committed bench_out.json said 132 entries/0 failed
# while the driver saw 133/6, because the builder's bench predated a testdata
# regeneration that changed events.ts to TIMESTAMP_NTZ. This script makes that
# class of drift loud: it replays everything the driver replays, on the data
# the driver reads, and exits nonzero on ANY divergence.
#
# Usage: tools/preflight.sh  (from repo root; ~12 min)
set -euo pipefail
cd "$(dirname "$0")/.."

SF_VERIFY=${SF_VERIFY:-/root/testdata/sf0.01}
SF_BENCH=${SF_BENCH:-/root/testdata/sf0.1}
OUT=/tmp/preflight_verify

echo "== preflight: compile =="
sbt -batch compile

echo "== preflight: commit-log layout and staged publish live in CommitLog.scala =="
# every versioned log and staged single-file publish goes through
# graft.operators.CommitLog; Streams' directory swaps are a separate
# single-writer protocol
if grep -rnE 'v%020d|Rename\.OVERWRITE|\.tmp"' src/main --include='*.scala' \
    | grep -vE '^src/main/scala/graft/(operators/CommitLog|streaming/Streams)\.scala:'; then
  echo "PREFLIGHT FAIL: commit-log protocol copied outside CommitLog.scala (lines above)"; exit 1
fi

echo "== preflight: one parquet read path =="
# every connector parquet read goes through Spark's vectorized reader
# (GraftSqlColumnarReader); a second, hand-written decoder over parquet's
# record-assembly API must not come back
if grep -rnE 'GroupRecordConverter|ColumnIOFactory|readNextRowGroup' src/main --include='*.scala'; then
  echo "PREFLIGHT FAIL: hand-written parquet row decoder in src/main (lines above)"; exit 1
fi

echo "== preflight: full Verify at $SF_VERIFY =="
rm -rf "$OUT"
sbt -batch "runMain graft.Verify $SF_VERIFY $OUT" 2>&1 \
  | grep -E '\[verify\].*failed' && { echo "PREFLIGHT FAIL: verify errors above"; exit 1; } || true

echo "== preflight: DuckDB oracle compare =="
python3 tools/check_oracle.py "$SF_VERIFY" "$OUT" | tee /tmp/preflight_oracle.txt
if grep -q '^FAIL' /tmp/preflight_oracle.txt; then
  echo "PREFLIGHT FAIL: oracle mismatches above"; exit 1
fi

echo "== preflight: perfbench lakehouse smoke (table-format models) =="
python3 perfbench/run.py --workload lakehouse_mixed --seed 1 --seconds 14 --trace 0 \
  > /tmp/preflight_perfbench.txt 2>&1 || {
  tail -20 /tmp/preflight_perfbench.txt
  echo "PREFLIGHT FAIL: perfbench lakehouse_mixed exited nonzero"; exit 1; }
grep -E 'checks:' /tmp/preflight_perfbench.txt || true

echo "== preflight: perfbench sync smoke (sync-tick models) =="
python3 perfbench/run.py --workload sync_incremental --seed 1 --seconds 14 --trace 0 \
  > /tmp/preflight_perfbench_sync.txt 2>&1 || {
  tail -20 /tmp/preflight_perfbench_sync.txt
  echo "PREFLIGHT FAIL: perfbench sync_incremental exited nonzero"; exit 1; }
grep -E 'checks:' /tmp/preflight_perfbench_sync.txt || true

echo "== preflight: bench at $SF_BENCH =="
SPARK_GRAFT_SF_DIR="$SF_BENCH" sbt -batch "runMain graft.Bench" >/dev/null
python3 - <<'EOF'
import json, os, sys
bench = json.loads(open("bench_out.json").read())
oracle = json.load(open("/tmp/preflight_verify/oracle_sql.json"))
produced = {d for d in os.listdir("/tmp/preflight_verify")
            if os.path.isdir(os.path.join("/tmp/preflight_verify", d))}
bench_entries = set(bench["queries"])
problems = []
if bench["failed"] != 0:
    problems.append(f"bench failed={bench['failed']}: {bench.get('errors')}")
neg = [k for k, v in bench["queries"].items() if v < 0]
if neg:
    problems.append(f"bench entries with no successful run: {neg}")
if bench_entries != produced:
    problems.append(f"bench registry != verify output: only-bench={sorted(bench_entries-produced)} only-verify={sorted(produced-bench_entries)}")
missing_oracle = produced - set(oracle)
if missing_oracle:
    print(f"note: {len(missing_oracle)} entries have rows-only checks (no SQL oracle): {sorted(missing_oracle)}")
if problems:
    print("PREFLIGHT FAIL:")
    for p in problems: print(" -", p)
    sys.exit(1)
load = bench.get("load_avg", {})
print(f"PREFLIGHT OK: {len(bench_entries)} entries, bench total {bench['value']}s, "
      f"0 failures, load_avg {load.get('start')}->{load.get('end')} on {load.get('cores')} cores")
EOF

echo "== preflight: committed-archive staleness guard (load-aware) =="
python3 - <<'EOF'
# The committed bench archive must describe THIS code on THIS data. Both
# runs are min-of-N (N>=3 since r14) with PER-PASS load stamps; the 10%
# drift gate is only meaningful when BOTH runs were taken on a flat box —
# the round-13 postmortem saw same-code totals spread 179.6->227.9 s under
# host contention, which would false-refuse a perfectly fresh archive. A
# noisy stamp therefore DOWNGRADES the gate to a warning instead of
# failing the snapshot; a flat-vs-flat divergence still fails hard.
import json, subprocess, sys
FLAT = 40.0  # 1-min load avg below which a 32-core guest counts as flat

def loads(b):
    la = b.get("load_avg", {})
    per = la.get("per_pass") or [x for x in (la.get("start"), la.get("end"))
                                 if x is not None]
    return [x for x in per if x is not None and x >= 0]

fresh = json.loads(open("bench_out.json").read())
try:
    committed = json.loads(subprocess.run(
        ["git", "show", "HEAD:bench_out.json"],
        capture_output=True, text=True, check=True).stdout)
except subprocess.CalledProcessError:
    print("note: no committed bench_out.json at HEAD — commit the fresh one")
    sys.exit(0)
fv, cv = fresh["value"], committed["value"]
drift = abs(fv - cv) / max(fv, cv)
flat_fresh = loads(fresh) and max(loads(fresh)) < FLAT
flat_committed = loads(committed) and max(loads(committed)) < FLAT
if drift > 0.10:
    if flat_fresh and flat_committed:
        print(f"PREFLIGHT FAIL: committed bench total {cv}s diverges "
              f"{drift:.0%} from the fresh run's {fv}s with BOTH load "
              "stamps flat — the archive is stale; commit the fresh "
              "bench_out.json and bench_r{N}_full.json")
        sys.exit(1)
    noisy = "fresh" if not flat_fresh else "committed"
    print(f"archive guard WARNING: {drift:.0%} drift but the {noisy} run's "
          f"load stamp is not flat (fresh {loads(fresh)}, committed "
          f"{loads(committed)}) — re-run on an idle box before blessing")
else:
    print(f"archive guard OK: committed {cv}s vs fresh {fv}s "
          f"({drift:.1%} drift; loads fresh {loads(fresh)}, "
          f"committed {loads(committed)})")
EOF
