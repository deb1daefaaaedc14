"""Round-over-round bench regression check.

Usage: python scripts/bench_compare.py OLD_detail.json [NEW_detail.json]

Compares per-query wall times between two bench_detail.json files
(NEW defaults to ./bench_detail.json) over their COMMON query set and
prints: common-set totals, the ratio, and any query slower than
REGRESSION_X with its before/after times. Exit code 1 if regressions
exist — wire into gate.sh when a baseline detail file is kept.

The driver only records the compact summary line (BENCH_r{N}.json);
keeping the previous round's bench_detail.json around (it is written
by every bench.py run, gitignored) is what makes per-query
round-over-round attribution possible — the r7 verdict had to recover
this from ad-hoc gate logs.
"""

from __future__ import annotations

import json
import sys

REGRESSION_X = 1.5
MIN_ABS_SEC = 0.05  # ignore sub-50ms noise
# Aux streaming drains are wall-clock dominated by fixed trigger
# cadence and carry seconds of inherent jitter on a co-tenant box —
# a larger absolute floor keeps the gate on real regressions (r16,
# after the r15 aux drift went unadjudicated because nothing watched
# this family).
MIN_ABS_AUX_SEC = 1.0


def _calib(doc: dict) -> float | None:
    """Mean of the artifact's first/last calibration runs (the fixed
    32-task CPU sentinel bench.py emits since r12), or None for
    pre-sentinel artifacts."""
    s = doc.get("load_sentinel") or {}
    vals = [s.get("calib_first_sec"), s.get("calib_last_sec")]
    vals = [v for v in vals if isinstance(v, (int, float))]
    return sum(vals) / len(vals) if vals else None


def _driver_jit(doc: dict) -> str:
    """The driver JVM's JIT setting (its -XX:TieredStopAtLevel flags)
    the sentinel ran under. Only the JIT moves the sentinel's time: the
    class-data archive flags beside it change from a recording run to
    later ones and leave the job's cost alone. Artifacts that predate
    the field ran before get_spark set any, i.e. with HotSpot's default
    tiered JIT (C2)."""
    opts = (doc.get("load_sentinel") or {}).get("driver_java_options", "")
    return " ".join(
        o for o in opts.split() if o.startswith("-XX:TieredStopAtLevel=")
    )


def main() -> int:
    if len(sys.argv) < 2:
        print(__doc__)
        return 2
    old_doc = json.load(open(sys.argv[1]))
    new_path = sys.argv[2] if len(sys.argv) > 2 else "bench_detail.json"
    new_doc = json.load(open(new_path))
    old, new = old_doc["queries"], new_doc["queries"]
    common = sorted(set(old) & set(new))
    if not common:
        print("no common queries")
        return 2
    t_old = sum(old[q] for q in common)
    t_new = sum(new[q] for q in common)
    print(
        f"common queries: {len(common)}  old={t_old:.3f}s  "
        f"new={t_new:.3f}s  ratio={t_new / max(t_old, 1e-9):.2f}x"
    )
    c_old, c_new = _calib(old_doc), _calib(new_doc)
    j_old, j_new = _driver_jit(old_doc), _driver_jit(new_doc)
    calib_x = None
    if c_old and c_new and j_old != j_new:
        # The sentinel's time depends on the driver JVM's JIT (C1 only
        # runs it ~12x slower than C2), so across different options
        # its ratio is not machine load and must not discount flags.
        print(
            f"load sentinel: not comparable, driver JIT settings differ "
            f"(old {j_old!r}, new {j_new!r})"
        )
    elif c_old and c_new:
        calib_x = c_new / c_old
        print(
            f"load sentinel: old calib={c_old:.3f}s  new calib={c_new:.3f}s"
            f"  machine-load ratio={calib_x:.2f}x"
            + (
                "  <- NEW run is on a loaded machine; discount"
                if calib_x > 1.2
                else ""
            )
        )
    else:
        print("load sentinel: absent in one artifact (pre-r12 bench)")
    # Adjudication side-channel: bench.py --remeasure records both
    # readings under `remeasured` and (since r15) folds the fresh
    # reading into `queries` only when it is FASTER — i.e. when the
    # full-run number is adjudicated burst-inflated, so the committed
    # baseline never keeps a known-burst value for next round's gate.
    # This consult remains for artifacts written by the r14 layout
    # (side-channel only): a flagged query clears if either reading
    # is inside the gate.
    remeasured = new_doc.get("remeasured", {})

    def adjudicated(q: str) -> float:
        r = remeasured.get(q)
        if isinstance(r, dict) and isinstance(r.get("fresh"), (int, float)):
            return min(new[q], r["fresh"])
        return new[q]

    regressions = [
        (q, old[q], adjudicated(q))
        for q in common
        if adjudicated(q) > REGRESSION_X * old[q]
        and adjudicated(q) - old[q] > MIN_ABS_SEC
    ]
    cleared = [
        q
        for q in common
        if q in remeasured
        and new[q] > REGRESSION_X * old[q]
        and new[q] - old[q] > MIN_ABS_SEC
        and not any(r[0] == q for r in regressions)
    ]
    if cleared:
        print(
            f"remeasure-adjudicated (full-run flag cleared by fresh "
            f"best-of-3): {', '.join(cleared)}"
        )
    for q, a, b in sorted(regressions, key=lambda x: x[1] - x[2]):
        note = ""
        if calib_x and calib_x > 1.0 and (b / a) <= calib_x * 1.3:
            note = f"  [within {calib_x:.2f}x sentinel load delta]"
        print(f"  REGRESSION {q}: {a:.3f}s -> {b:.3f}s ({b / a:.1f}x){note}")
    if not regressions:
        print("no per-query regressions >", REGRESSION_X, "x")
    # Aux streaming drains (r16): the same flag rule over the drains'
    # total wall time, which used to sit outside the machinery
    # entirely (the r15 +37% busy-time drift was never adjudicated).
    # busy_sec is printed for attribution but flags key on total_sec:
    # busy is a listener-derived subset that undercounts short final
    # batches.
    old_aux = old_doc.get("aux_queries", {})
    new_aux = new_doc.get("aux_queries", {})
    aux_common = sorted(set(old_aux) & set(new_aux))
    remeasured_aux = new_doc.get("remeasured_aux", {})

    def adjudicated_aux(q: str) -> float:
        r = remeasured_aux.get(q, {}).get("fresh", {})
        fresh = r.get("total_sec") if isinstance(r, dict) else None
        if isinstance(fresh, (int, float)):
            return min(new_aux[q]["total_sec"], fresh)
        return new_aux[q]["total_sec"]

    aux_regressions = []
    aux_cleared = []
    for q in aux_common:
        a, b = old_aux[q]["total_sec"], adjudicated_aux(q)
        if b > REGRESSION_X * a and b - a > MIN_ABS_AUX_SEC:
            aux_regressions.append((q, a, b))
        elif (
            q in remeasured_aux
            and new_aux[q]["total_sec"] > REGRESSION_X * a
            and new_aux[q]["total_sec"] - a > MIN_ABS_AUX_SEC
        ):
            aux_cleared.append(q)
    if aux_cleared:
        print(
            "remeasure-adjudicated aux (full-run flag cleared by fresh "
            "drain): " + ", ".join(aux_cleared)
        )
    if aux_common:
        at_old = sum(old_aux[q]["total_sec"] for q in aux_common)
        at_new = sum(new_aux[q]["total_sec"] for q in aux_common)
        print(
            f"aux drains: {len(aux_common)}  old={at_old:.3f}s  "
            f"new={at_new:.3f}s  ratio={at_new / max(at_old, 1e-9):.2f}x"
        )
    for q, a, b in aux_regressions:
        busy_a = old_aux[q].get("busy_sec")
        busy_b = new_aux[q].get("busy_sec")
        print(
            f"  AUX REGRESSION {q}: {a:.3f}s -> {b:.3f}s ({b / a:.1f}x)"
            f"  [busy {busy_a} -> {busy_b}]"
        )
    print(f"new-only queries: {len(set(new) - set(old))}")
    return 1 if regressions or aux_regressions else 0


if __name__ == "__main__":
    raise SystemExit(main())
