"""Plan audit: print each headline query's physical plan and flag the
scale-relevant properties — parquet filter pushdown (PushedFilters),
column pruning (ReadSchema), join strategy (Broadcast vs SortMerge),
and whole-stage codegen coverage. Run after changing any plan.

Usage:
  python scripts/explain_audit.py [sf_dir] [query ... | --all] [--full]
  python scripts/explain_audit.py --windows [sf_dir] [query ...]
  PYTHONHASHSEED=0 python scripts/explain_audit.py --sweep OUT.json [sf_dir] [query ...]
  python scripts/explain_audit.py --diff A.json B.json

--sweep builds every non-streaming query (or the named ones) and
records its normalised AQE initial executed plan without executing it,
plus the plan of every action the builder itself runs (the
localCheckpoint/collect/count pins of the iterative builders), and the
join nodes of both with their build side. --diff lists the queries
whose recorded plans differ between two sweeps, and says whether their
join nodes differ too. Run both sweeps with PYTHONHASHSEED=0 and the
same SPARK_GRAFT_CPUS: a few builders iterate over Python sets. A query
reported with "joins same" may differ only in the order of the Expand
Catalyst builds for several DISTINCT aggregates, which follows
expression ids and so the queries built before it in the process:
sweep just those queries on both sides and diff again.
"""

from __future__ import annotations

import json
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from sparrow_spark import registry
from sparrow_spark.session import get_spark

AUDIT = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "q_join_left_outer",
    "q_window_topk_per_group",
    "q_asof_join",
    "q_dedup_minhash_lsh",
    "q_similarity_topk",
    "q_time_bucket_rollup",
]

# Queries allowed to execute a partition-less Window node (the
# single-task class the --windows audit fails on). Every entry must
# name the BOUNDED intermediate the window runs over — a table whose
# cardinality does not grow with corpus size (day/calendar series,
# fixed grids, k-row sketch/limit outputs, entity-type crossings) —
# so "it passes today" is never the justification. Unlisted hits fail
# the audit; listed names that no longer hit are reported stale so
# the whitelist cannot rot. (Windows guarded by a Final
# WindowGroupLimit are excused automatically — their single task sees
# at most partitions x k rows.)
WINDOW_WHITELIST: dict[str, str] = {
    # Every justification names WHY the windowed table's cardinality is
    # corpus-INDEPENDENT (the r12 q_heaps_law lesson: "bounded" without
    # the why let a doc_id/50 — i.e. corpus-growing — bucket table
    # survive two audits). Legitimate bound classes: a fixed data enum
    # (sources=20, langs=5, event types=5, brands=25 — constant across
    # sf0.001..0.1, re-verified r13), a calendar span (30 days in the
    # observation window — grows with TIME, not data volume), an
    # explicit LIMIT/sketch size k, or a hardcoded grid/permutation.
    # Tables that grow with the corpus — even sublinearly (vocab,
    # distinct continuous values, count-of-counts histograms) — get
    # converted to global_running_sums/global_sort_ranks instead
    # (q_heaps_law, q_chi2_terms, q_effect_size_suite,
    # q_key_skew_audit — all converted r13; vocab windows r12).
    "q_apportion_largest_remainder": "remainder rank over the allocation table: one row per source (fixed 20-value enum)",
    "q_bh_fdr": "BH sweep over one row per test segment = per event_type (fixed 5-value enum)",
    "q_bpe_merge_step": "rank over the 20-row TakeOrderedAndProject output (explicit LIMIT k=20)",
    "q_coreset_sensitivity": "rank over the 50-row TakeOrderedAndProject output (explicit LIMIT k=50)",
    "q_budget_allocation": "cumulative allocation over one row per source (fixed 20-value enum)",
    "q_cascade_filter_ordering": "rank over the permutations of a hardcoded filter list (k! for fixed k)",
    "q_cluster_purity": "windows over the k x labels contingency table (fixed k clusters x fixed label enum)",
    "q_conformal_interval": "lag + residual cumsum over the day table (calendar span: 30 days of testdata, grows with time not volume)",
    "q_cramer_von_mises": "rank windows over the day table (calendar span, time- not volume-bounded)",
    "q_dp_exponential_topk": "rank over one row per brand (fixed 25-value enum)",
    "q_emd_distribution_shift": "cumulative over the histogram-bin table (hardcoded bin count)",
    "q_forecast_baselines": "lag windows over the daily series (calendar span)",
    "q_forecast_reconciliation": "remainder rank over one row per brand (fixed 25-value enum)",
    "q_gap_fill_interpolate": "interpolation windows over the calendar spine (one row per day in the span)",
    "q_join_order_rank": "rank over the join-order permutation table (3! = 6 rows, hardcoded join set)",
    "q_js_divergence_sources": "rank over one row per source (fixed 20-value enum)",
    "q_kmv_intersection": "rank over the 2k-row union sketch (k fixed at sketch size)",
    "q_markov_entropy": "windows over the transition table: <= |event types|^2 = 25 rows (fixed 5-value enum)",
    "q_neyman_allocation": "windows over one row per stratum (fixed stratum enum)",
    "q_pinball_loss": "rolling window over the day table (calendar span)",
    "q_ratio_to_parent": "parent ratios over the 25-row nation table (TPC-H fixed dimension)",
    "q_sax_motifs": "symbol lead windows over the day series (calendar span)",
    "q_spearman_corr": "rank windows over the day table (calendar span)",
    "q_sprt_sequential": "LLR cumsum over the day series (calendar span)",
    "q_top_paths": "rank over the path table: <= |event types|^3 = 125 rows (fixed 5-value enum)",
    "q_value_at_risk": "lag over the daily series (calendar span)",
    "q_variance_decomposition": "centered window over the daily series (calendar span)",
    "q_weighted_reservoir": "rank over the LIMIT-k output (explicit LIMIT)",
    "q_wilcoxon_signed_rank": "midrank window over distinct |diff| values of the day-pair table (<= days^2 rows, calendar span)",
}


def _bracket_groups(s: str) -> list[str]:
    """Top-level [...] groups of a plan node's argument string."""
    groups, depth, cur = [], 0, []
    for ch in s:
        if ch == "[":
            depth += 1
            if depth == 1:
                cur = []
                continue
        elif ch == "]":
            depth -= 1
            if depth == 0:
                groups.append("".join(cur))
                continue
        if depth >= 1:
            cur.append(ch)
    return groups


def partitionless_windows(final_plan: str) -> list[str]:
    """Window / WindowGroupLimit nodes in an executed-plan string whose
    partition spec is empty — Spark funnels the whole input through ONE
    task for these ("No Partition Defined for Window operation").

    Node argStrings omit empty child lists, so arity + content tells
    the specs apart: partition entries are bare attributes, order
    entries carry ASC/DESC. ``Window [funcs],[part],[order]`` (3
    groups) and ``Window [funcs],[part]`` (2 groups, no sort marker)
    are partitioned; ``Window [funcs],[order]`` and ``Window [funcs]``
    are not. ``WindowGroupLimit [part],[order],fn,k,mode`` is
    partitioned; the 1-group form is not."""
    # Order specs of Final-mode WindowGroupLimits: a partition-less
    # Window sorted the same way is fed at most partitions x k rows
    # (per-partition Partial limit before the shuffle), so its single
    # task is bounded by construction — excuse it.
    wgl_final_orders = {
        g[0]
        for m in re.finditer(
            r"(?m)^[\s:+\-*()0-9]*WindowGroupLimit (.*), Final\s*$", final_plan
        )
        if (g := _bracket_groups(m.group(1)))
    }
    hits = []
    for m in re.finditer(
        r"(?m)^[\s:+\-*()0-9]*(Window(?:GroupLimit)?) (.*)$", final_plan
    ):
        node, args = m.group(1), m.group(2)
        groups = _bracket_groups(args)
        if node == "Window":
            bad = len(groups) == 1 or (
                len(groups) == 2
                and (" ASC" in groups[1] or " DESC" in groups[1])
            )
            if bad and len(groups) == 2 and groups[1] in wgl_final_orders:
                bad = False
        else:
            bad = len(groups) == 1 and groups[0] not in wgl_final_orders
        if bad:
            hits.append(f"{node} {args[:160]}")
    return hits


def audit_windows(sf_dir: str, names: list[str]) -> int:
    """Run each query, execute it, and fail on (a) any partition-less
    Window node not covered by WINDOW_WHITELIST, (b) any stale
    whitelist entry, and (c) any CartesianProduct node anywhere — the
    two-sided-shuffle cartesian has no legitimate use in this repo
    (bounded k-row theta joins must broadcast one side, compiling to
    BroadcastNestedLoopJoin; the r11 sweep converted the only two
    sites). Returns a process exit code."""
    registry.load_all()
    spark = get_spark("sparrow-window-audit")
    spark.conf.set("spark.sql.maxPlanStringLength", "2147483632b")  # full plans for capture
    spark.sparkContext.setLogLevel("ERROR")
    offenders: dict[str, list[str]] = {}
    cartesians: dict[str, int] = {}
    for name in names:
        df = registry.QUERIES[name](spark, sf_dir)
        df.collect()
        final = df._jdf.queryExecution().executedPlan().toString()
        hits = partitionless_windows(final)
        if hits:
            offenders[name] = hits
        n_cp = len(re.findall(r"(?m)^[\s:+\-*()0-9]*CartesianProduct", final))
        if n_cp:
            cartesians[name] = n_cp
    unexplained = {n: h for n, h in offenders.items() if n not in WINDOW_WHITELIST}
    stale = [n for n in WINDOW_WHITELIST if n in set(names) and n not in offenders]
    for n, hs in offenders.items():
        tag = "WHITELISTED" if n in WINDOW_WHITELIST else "FAIL"
        print(f"{tag} {n}: {len(hs)} partition-less window node(s)")
        for h in hs:
            print(f"    {h}")
        if n in WINDOW_WHITELIST:
            print(f"    justification: {WINDOW_WHITELIST[n]}")
    for n in stale:
        print(f"STALE whitelist entry (no longer hits): {n}")
    for n, c in cartesians.items():
        print(f"FAIL {n}: {c} CartesianProduct node(s) — broadcast the bounded side")
    print(
        f"\nwindow audit: {len(names)} queries, "
        f"{len(offenders)} with partition-less windows, "
        f"{len(unexplained)} unexplained, {len(stale)} stale, "
        f"{len(cartesians)} with CartesianProduct"
    )
    return 1 if unexplained or stale or cartesians else 0


_JOIN_NODE = re.compile(
    r"(?m)^[\s:+\-*()0-9]*(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|"
    r"BroadcastNestedLoopJoin|CartesianProduct)\b(.*)$"
)
_JOIN_TYPE = re.compile(
    r"\b(Inner|Cross|LeftOuter|RightOuter|FullOuter|LeftSemi|LeftAnti|"
    r"ExistenceJoin)\b"
)


def normalise_plan(plan: str) -> str:
    """A plan string with its per-run ids, names and paths blanked, so
    two builds of the same query compare equal."""
    plan = plan.replace(ROOT, "<root>")
    plan = re.sub(r"#\d+", "#", plan)
    plan = re.sub(r"plan_id=\d+", "plan_id=", plan)
    plan = re.sub(r"(RDD)\[\d+\]", r"\1[]", plan)
    plan = re.sub(r"\b(\w+)_[0-9a-f]{8}\.", r"\1_.", plan)  # per-run database names
    plan = re.sub(r"(lambda \w+?)_\d+", r"\1_", plan)
    return re.sub(r"/tmp/[^\s,\]\)]*", "/tmp/", plan)


def join_nodes(plan: str) -> list[str]:
    """Each join node of a plan string as "node joinType buildSide"."""
    out = []
    for m in _JOIN_NODE.finditer(plan):
        args = m.group(2)
        kind = _JOIN_TYPE.search(args)
        side = re.search(r"\bBuild(Left|Right)\b", args)
        parts = (m.group(1), kind and kind.group(1), side and side.group(0))
        out.append(" ".join(p for p in parts if p))
    return out


def sweep(out_path: str, sf_dir: str, names: list[str]) -> None:
    """Record each query's normalised plans (see the module docstring)
    in OUT.json: {query: {"plan", "joins", "build_plans", "build_joins"}}
    or {query: {"error"}}."""
    from pyspark.sql.classic.dataframe import DataFrame

    spark = get_spark("sparrow-plan-sweep")
    spark.conf.set("spark.sql.maxPlanStringLength", "2147483632b")  # full plans for capture
    # Scan metadata (DataFilters, ...) is cut at a character count,
    # which the id digits shift; print it whole.
    spark.conf.set("spark.sql.maxMetadataStringLength", "2147483632")
    spark.sparkContext.setLogLevel("ERROR")

    def plan_of(df) -> str:
        return normalise_plan(df._jdf.queryExecution().executedPlan().toString())

    build_plans: list[str] = []

    def recording(action):
        def run(self, *args, **kwargs):
            build_plans.append(plan_of(self))
            return action(self, *args, **kwargs)

        return run

    actions = ("localCheckpoint", "checkpoint", "collect", "first", "count")
    originals = {a: getattr(DataFrame, a) for a in actions}
    for a, fn in originals.items():
        setattr(DataFrame, a, recording(fn))
    out: dict[str, dict] = {}
    try:
        for name in names:
            build_plans.clear()
            try:
                plan = plan_of(registry.RAW_QUERIES[name](spark, sf_dir))
            except Exception as e:  # noqa: BLE001 — recorded, compared like a plan
                out[name] = {"error": str(e)[:200]}
                print(f"{name}: error", flush=True)
                continue
            out[name] = {
                "plan": plan,
                "joins": join_nodes(plan),
                "build_plans": list(build_plans),
                "build_joins": [join_nodes(p) for p in build_plans],
            }
            print(f"{name}: {len(out[name]['joins'])} joins", flush=True)
    finally:
        for a, fn in originals.items():
            setattr(DataFrame, a, fn)
    with open(out_path, "w") as f:
        json.dump(out, f)


def diff(a_path: str, b_path: str) -> int:
    """Print the queries both sweeps recorded whose plans differ;
    returns the count."""
    a, b = json.load(open(a_path)), json.load(open(b_path))
    common = sorted(set(a) & set(b))
    changed = [n for n in common if a[n] != b[n]]
    for name in changed:
        x, y = a[name], b[name]
        same_joins = (x.get("joins"), x.get("build_joins")) == (
            y.get("joins"),
            y.get("build_joins"),
        )
        print(f"{name}: plan differs, joins {'same' if same_joins else 'differ'}")
    only = len(set(a) ^ set(b))
    print(
        f"\n{len(changed)} of {len(common)} queries differ"
        + (f" ({only} recorded by one sweep only)" if only else "")
    )
    return len(changed)


def _check_args(argv: list[str]) -> None:
    """Print the usage and exit 2, before any JVM starts, on a flag
    this script does not take or a fixture directory that is missing."""

    def usage(msg: str) -> None:
        usage_text = __doc__.split("Usage:\n", 1)[1].split("\n\n", 1)[0]
        print(f"explain_audit.py: {msg}\nusage:\n{usage_text}", file=sys.stderr)
        raise SystemExit(2)

    if argv[:1] == ["--diff"]:
        if len(argv) != 3 or not all(os.path.isfile(p) for p in argv[1:]):
            usage("--diff takes two sweep files")
        return
    rest, sf_dir, flags = argv, "/root/testdata/sf0.1", {"--full", "--all"}
    if argv[:1] == ["--sweep"]:
        if len(argv) < 2 or argv[1].startswith("-"):
            usage("--sweep takes an output file")
        rest, flags = argv[2:], {"--full"}
    elif argv[:1] == ["--windows"]:
        rest, sf_dir, flags = argv[1:], "/root/testdata/sf0.001", set()
    for a in rest:
        if a.startswith("-") and a not in flags:
            usage(f"unknown option {a}")
    if rest and not rest[0].startswith("-"):
        sf_dir = rest[0]
    if not os.path.isdir(sf_dir):
        usage(f"no fixture directory {sf_dir}")


def main() -> None:
    _check_args(sys.argv[1:])
    if sys.argv[1:2] == ["--diff"]:
        raise SystemExit(1 if diff(sys.argv[2], sys.argv[3]) else 0)
    sweep_out = None
    if sys.argv[1:2] == ["--sweep"]:
        sweep_out = sys.argv[2]
        del sys.argv[1:3]
    if len(sys.argv) > 1 and sys.argv[1] == "--windows":
        sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.001"
        registry.load_all()
        names = sys.argv[3:] or sorted(
            n for n in registry.QUERIES if not n.startswith("q_stream")
        )
        raise SystemExit(audit_windows(sf_dir, names))
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    args = [a for a in sys.argv[2:] if a != "--full"]
    if sweep_out:
        registry.load_all()
        batch = [n for n in registry.RAW_QUERIES if not n.startswith("q_stream")]
        sweep(sweep_out, sf_dir, args or batch)
        return
    if args == ["--all"]:
        registry.load_all()
        # Streaming drains aren't explainable as one plan; skip them.
        names = sorted(n for n in registry.QUERIES if not n.startswith("q_stream"))
    else:
        names = args or AUDIT
    registry.load_all()
    spark = get_spark("sparrow-audit")
    spark.conf.set("spark.sql.maxPlanStringLength", "2147483632b")  # full plans for capture
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        df = registry.QUERIES[name](spark, sf_dir)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        # AQE appends an "== Initial Plan ==" copy — audit the final only.
        plan = plan.split("== Initial Plan ==")[0]
        # Formatted mode lists each node in the tree AND a details
        # section; count unique node ids instead of raw mentions.
        scans = len(set(re.findall(r"\((\d+)\) Scan parquet", plan)))
        pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
        bcast = len(set(re.findall(r"\((\d+)\) BroadcastHashJoin", plan)))
        smj = len(set(re.findall(r"\((\d+)\) SortMergeJoin", plan)))
        shj = len(set(re.findall(r"\((\d+)\) ShuffledHashJoin", plan)))
        bnl = len(set(re.findall(r"\((\d+)\) BroadcastNestedLoopJoin", plan)))
        exch = len(set(re.findall(r"\((\d+)\) Exchange", plan)))
        # Codegen spans only exist in the executed (AQE-final) plan —
        # and only for THIS QueryExecution (count() would make a new one).
        df.collect()
        final = df._jdf.queryExecution().executedPlan().toString()
        wsc = len(set(re.findall(r"\*\((\d+)\)", final)))
        print(f"\n=== {name} ===")
        print(
            f"scans={scans} broadcastJoins={bcast} sortMerge={smj} shuffledHash={shj} "
            f"nestedLoop={bnl} exchanges={exch} codegenSpans={wsc}"
        )
        nonempty = [p for p in pushed if p.strip()]
        print(f"pushedFilterSets={len(nonempty)}: {nonempty[:3]}")
        parts = [
            p for p in re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
            if p.strip()
        ]
        if parts:
            print(f"partitionFilterSets={len(parts)}: {parts[:3]}")
        if "--full" in sys.argv:
            print(plan)


if __name__ == "__main__":
    main()
