#!/usr/bin/env bash
# Pre-snapshot gate: run before any end-of-round / milestone commit.
# A snapshot must never ship with a red suite, a failing differential
# check, or a crashed bench (round 4 shipped all three; this script is
# the process fix). Usage:
#
#   bash scripts/gate.sh            # full gate (~12 min)
#   bash scripts/gate.sh --fast     # selfcheck at sf0.001 + pytest only
#
# Exits non-zero on the first failing stage.
set -euo pipefail
cd "$(dirname "$0")/.."

FAST="${1:-}"

echo "== gate: window rotation (mechanical rule, skip-if-additions) =="
python scripts/window_rotate.py --check-if-fresh

echo "== gate: pytest =="
python -m pytest tests/ -q

echo "== gate: dml_mix smoke (engine write path end to end, checked against its Python model) =="
python -m pytest perfbench/test_smoke.py -q -k dml_mix

echo "== gate: window audit (partition-less WindowExec over non-whitelisted sources) =="
python scripts/explain_audit.py --windows /root/testdata/sf0.001 2>/dev/null | tail -2

if [ "$FAST" = "--fast" ]; then
  echo "== gate: selfcheck (sf0.001) =="
  python scripts/selfcheck.py /root/testdata/sf0.001 | tail -1
else
  echo "== gate: selfcheck (sf0.01 — driver gate scale, with repartition stability audit) =="
  python scripts/selfcheck.py --perturb /root/testdata/sf0.01 | tail -1

  echo "== gate: bench =="
  OUT=$(python bench.py)
  echo "$OUT"
  # bench.py's contract: a compact summary JSON as the LAST line (what
  # the driver's 2000-char stdout tail parses) and the per-query dict
  # on a preceding detail line + bench_detail.json sidecar. Verify
  # both halves, ignoring stray stdout (py4j/log4j warnings).
  python3 - <<'EOF' "$OUT"
import json, sys
lines = [ln for ln in sys.argv[1].splitlines() if ln.strip()]
d = json.loads(lines[-1])
assert d.get("value", 0) > 0 and d.get("n_queries", 0) > 0, "bench produced no numbers"
assert len(lines[-1]) < 1500, "final bench line too long for the driver tail"
detail = json.load(open("bench_detail.json"))
assert len(detail["queries"]) == d["n_queries"], "detail/summary query count mismatch"
print(f"bench ok: {d['value']}s over {d['n_queries']} queries")
EOF

  # Per-query regression adjudication against the last committed
  # clean baseline (the newest bench_baseline_r*.json). The gate runs
  # on an otherwise-idle box, so a flag here is a real regression —
  # not the co-tenant noise that burned r11's 1.43x false alarm.
  BASELINE=$(ls -1 bench_baseline_r*.json 2>/dev/null | sort -V | tail -1 || true)
  if [ -n "$BASELINE" ]; then
    echo "== gate: bench_compare vs $BASELINE =="
    CMP_OUT=$(python scripts/bench_compare.py "$BASELINE" bench_detail.json) \
      && CMP_RC=0 || CMP_RC=$?
    echo "$CMP_OUT"
    # Headline and aux-drain flags share one list: bench.py routes
    # each name to its own re-measure (drains run once, queries
    # best-of-3) and side-channel.
    FLAGGED=$(echo "$CMP_OUT" \
      | sed -n 's/^  \(AUX \)\{0,1\}REGRESSION \([^:]*\):.*/\2/p' | paste -sd, -)
    if [ "$CMP_RC" -eq 1 ] && [ -n "$FLAGGED" ]; then
      # Automated flag adjudication: the bench box is co-tenant, and a
      # mid-run load burst inflates a contiguous block of queries that
      # the two-point calibration sentinel cannot see. Re-measure ONLY
      # the flagged queries and drains at a different moment; a real
      # regression reproduces, a burst artifact clears. The SECOND
      # compare is the gate verdict. Only exit code 1 (real flags)
      # takes this branch — a usage/data error (exit 2: disjoint query
      # sets, corrupt baseline) must fail the gate directly, not boot
      # a pointless Spark session.
      echo "== gate: re-measuring flagged queries: $FLAGGED =="
      python bench.py --remeasure "$FLAGGED"
      echo "== gate: bench_compare (post-remeasure) vs $BASELINE =="
      python scripts/bench_compare.py "$BASELINE" bench_detail.json
    elif [ "$CMP_RC" -ne 0 ]; then
      echo "== gate: bench_compare failed with code $CMP_RC =="
      exit "$CMP_RC"
    fi
  else
    echo "== gate: bench_compare skipped (no bench_baseline_r*.json) =="
  fi
fi

echo "== gate: PASS =="
