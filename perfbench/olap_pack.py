"""``olap_pack``: the curated operator pack, cold then warm.

Single client, closed loop. Each query of the pack, in a seed-permuted
order (the few slow-starting ones first), is built through the registry's prepared-plan entry point
(``registry.QUERIES``) on a key it has not seen (a cache miss, so a
fresh build), executed once with ``toPandas`` (cold), then asked for
again (a cache hit returning the same DataFrame) and re-executed (warm).

The run measures whole passes over the pack, so every run times the
same set of queries: the first pass always runs, and a further pass
starts only if, at the pace of the passes so far, it ends within
``--seconds``. A further pass reaches the same tables through a new
symlinked path, so its builds are fresh again.

Checks after the timed region: each query's first cold result against
its DuckDB oracle, every other result of the query against that one.
"""

from __future__ import annotations

import os
import random
import time

import check
from harness import (
    HostMeter,
    Outcome,
    Recorder,
    RssSampler,
    calibrate,
    environment,
    process_age,
    start_spark,
)

# One entry per layer family; built and first executed in a fresh
# process at sf0.1 on a 4-core box they take 0.5-3.5 s each. Most are
# short, so the median cold read sits among many close values.
PACK = {
    "scan_agg": ["q1_pricing_summary", "q_count_distinct", "q_filtered_aggs"],
    "join": ["q3_shipping_priority", "q13_customer_distribution", "q_join_left_outer"],
    "window": ["q_window_topk_per_group", "q_sessionize"],
    "subquery": ["q_subquery_scalar", "q_union_distinct"],
    "dedup_shuffle": ["q_dedup_exact"],
    "iterative": ["q_kmeans_iterate"],
    "python_worker": ["q_multimodal_decode_real"],
    "fetch_bound": ["q_rolling_window"],
}

# Families whose queries cold-start well above the pack's median. They
# run first (in seed order) so the process's remaining JIT warm-up lands
# on them, not on the queries around the median cold read.
HEAVY = ["dedup_shuffle", "iterative", "python_worker"]

# Known pathological cold outliers, left out so no single query
# dominates a run (cold times measured at sf0.1 on a 4-core box).
UNMEASURED = {
    "q_null_semantics": "execution 117-135 s (nested-loop NOT-IN join)",
    "q_consistent_hash_ring": "build 20-22 s",
    "q_fd_discovery": "execution 12-14 s",
    "q_bleu_pairs": "execution 6-7 s",
}

# Untimed warm-up statements (part of set-up), one per plan shape, so
# the first timed query does not pay the JVM's class loading and JIT.
WARMUP = ["q6_forecast_revenue", "q10_returned_items", "q_window_ranks"]
READ_CLASSES = ["cold"]


def _order(seed: int) -> list[str]:
    """The pack in a seed-permuted order, heavy families first."""
    rng = random.Random(seed)
    heavy = [q for f in HEAVY for q in PACK[f]]
    light = [q for f, qs in PACK.items() if f not in HEAVY for q in qs]
    rng.shuffle(heavy)
    rng.shuffle(light)
    return heavy + light


def _pass_path(ctx, n: int) -> str:
    """Path under which pass ``n`` reads the tables: a new path string
    is a new prepared-plan cache key."""
    if n == 0:
        return ctx.data
    alias = os.path.join(ctx.work, f"data_pass{n}")
    if not os.path.exists(alias):
        os.symlink(ctx.data, alias)
    return alias


def _another_pass(ctx, t0: float, passes: int, n_ops: int) -> bool:
    """Whether one more pass, at the pace of the passes so far, ends
    within ``--seconds``."""
    if ctx.deadline_reached(t0, n_ops):
        return False
    elapsed = time.perf_counter() - t0
    return elapsed * (passes + 1) / passes <= ctx.seconds


def run(ctx) -> Outcome:
    rss = RssSampler(os.getpid()).start()
    pre_s = process_age() - ctx.gen_s
    t_setup = time.perf_counter()
    spark = start_spark(ctx.work, "perfbench-olap")
    session_s = time.perf_counter() - t_setup
    from sparrow_spark import registry

    registry.load_all()
    for name in WARMUP:
        registry.RAW_QUERIES[name](spark, ctx.data).toPandas()
    setup_s = pre_s + time.perf_counter() - t_setup

    env = environment()
    env["calib_first_s"] = calibrate(spark)

    tracer = probe = None
    if ctx.trace:
        from tracing import SparkProbe, Tracer

        tracer, probe = Tracer(), SparkProbe(spark)
        tracer.count("setup", "session.start_s", session_s)

    names = _order(ctx.seed)
    sc = spark.sparkContext
    rec = Recorder()
    results: dict[str, list] = {}  # query -> [(cls, columns, pdf)]
    per_query: dict[str, list[float]] = {}  # query -> latencies, in order
    cache_hits = cache_attempts = 0

    meter = HostMeter(os.getpid())
    t0 = time.perf_counter()
    n_ops, pass_no = 0, 0
    while pass_no == 0 or _another_pass(ctx, t0, pass_no, n_ops):
        path = _pass_path(ctx, pass_no)
        for name in names:
            if ctx.max_ops is not None and n_ops >= ctx.max_ops:
                break
            prev_df = None
            for cls in ("cold", "warm"):
                op = f"olap-{n_ops}"
                n_ops += 1
                sc.setJobGroup(op, f"{cls} {name}")
                try:
                    if tracer is None:
                        ts = time.perf_counter()
                        df = registry.QUERIES[name](spark, path)
                        pdf = df.toPandas()
                    else:
                        ts = time.perf_counter()
                        df, pdf, before = _traced_op(
                            tracer, probe, registry, spark, path, name, op,
                            cls, prev_df,
                        )
                    lat = time.perf_counter() - ts
                    rec.ok(cls, lat)
                    per_query.setdefault(name, []).append(round(lat, 4))
                    if tracer is not None:
                        with tracer.overhead():
                            _account(tracer, probe, op, df, pdf, before)
                except Exception as e:  # noqa: BLE001 - a failed op is counted
                    rec.fail(cls, f"{name}: {e}")
                    break
                cache_attempts += 1
                cache_hits += df is prev_df
                prev_df = df
                results.setdefault(name, []).append((cls, df.columns, pdf))
        pass_no += 1
    timed_wall = time.perf_counter() - t0
    cpu_s, env["steal_frac"] = meter.stop()
    sc.setJobGroup("perfbench-check", "checks")

    checked = _check(ctx, registry, results, rec)
    env["calib_last_s"] = calibrate(spark)
    env["loadavg_after"] = [round(x, 2) for x in os.getloadavg()]
    peak = rss.stop()
    spark.stop()
    detail = {
        "pack": PACK,
        "unmeasured": UNMEASURED,
        "passes": pass_no,
        "per_query_s": per_query,
        "checked_queries": checked,
        "plan_cache": {"hits": cache_hits, "attempts": cache_attempts},
    }
    if tracer is not None:
        tracer.count("run", "registry.cache_hits", cache_hits)
        tracer.count("run", "registry.cache_attempts", cache_attempts)
    return Outcome(setup_s, timed_wall, cpu_s, rec, READ_CLASSES, peak, env, detail, tracer)


def _traced_op(tracer, probe, registry, spark, path, name, op, cls, prev_df):
    """One operation with spans around the registry builder, the forced
    physical planning and the action."""
    tracer.set_class(op, cls)
    with tracer.span("client.op", op, query=name):
        with tracer.span("registry.build"):
            df = registry.QUERIES[name](spark, path)
        with tracer.overhead():
            before = probe.plan_metrics(df._jdf)[0] if df is prev_df else {}
        with tracer.span("spark.plan"):
            df._jdf.queryExecution().executedPlan()
        with tracer.span("spark.action"):
            pdf = df.toPandas()
    return df, pdf, before


def _account(tracer, probe, op, df, pdf, before) -> None:
    from tracing import record_jobs

    record_jobs(tracer, probe, op)
    sums, joins = probe.plan_metrics(df._jdf)
    for k, v in sums.items():
        # SQL metrics add up over re-executions of one plan, unless
        # adaptive re-planning gave the re-execution fresh nodes.
        b = before.get(k, 0)
        tracer.count(op, k, v - b if v >= b else v)
    for k, v in joins.items():
        tracer.count(op, k, v)
    tracer.count(op, "fetch.rows", len(pdf))
    tracer.count(op, "fetch.bytes", int(pdf.memory_usage(deep=True).sum()))


def _check(ctx, registry, results, rec) -> int:
    """Compare each query's first result with its DuckDB oracle and the
    later results with the first; count every mismatch as failed."""
    con = check.duck(ctx.data)
    checked = 0
    for name, runs in results.items():
        _, cols, first = runs[0]
        first_rows = check.rows_of_pandas(first)
        oracle = registry.ORACLES.get(name)
        if oracle is not None:
            why = check.same_rows(cols, first_rows, *check.duck_rows(con, oracle))
            checked += 1
            if why:
                rec.wrong(runs[0][0], f"{name} vs oracle: {why}")
        elif not first_rows:
            rec.wrong(runs[0][0], f"{name}: no rows")
        for cls, cols2, pdf in runs[1:]:
            if check.same_frame(first, pdf):
                continue
            why = check.same_rows(cols, first_rows, cols2, check.rows_of_pandas(pdf))
            if why:
                rec.wrong(cls, f"{name} vs its first run: {why}")
    con.close()
    return checked
