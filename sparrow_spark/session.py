"""SparkSession factory.

The reference runs a single-process tokio server with one global context
(reference: src/main.rs:88-99, src/core/global_context.rs:12-18); the
Spark-native equivalent of "the engine process" is one shared
SparkSession configured for analytics:

- AQE on (runtime re-planning, skew-join handling, partition coalescing)
- UTC session timezone (stable timestamp semantics across engines)
- Arrow-accelerated Python interchange (pandas UDF / toPandas fast path)

Scale notes: `spark.sql.shuffle.partitions` defaults to a small number
for local test scale factors; on a real cluster AQE coalescing makes the
initial value mostly a ceiling — set it to ~2-3x total cores there.
The driver JVM runs at C1 only (see get_spark), which costs CPU-bound
queries re-run in one long-lived driver; executor JVMs on a cluster
take no `spark.executor.*` setting from here and keep C2 for their
data-plane loops.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = "32"


def get_spark(
    app_name: str = "sparrow-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or reuse) the engine's SparkSession."""
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    # The worker daemon wrapper (spark.python.daemon.module below) is
    # imported by `python -m` in a fresh process whose PYTHONPATH is the
    # Spark-provided zips plus the driver's: make sure this package's
    # root is on it BEFORE the context starts, whatever cwd the driver
    # was launched from.
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pythonpath = os.environ.get("PYTHONPATH", "")
    if repo_root not in pythonpath.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            repo_root + (os.pathsep + pythonpath if pythonpath else "")
        )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # r16 note: coalescePartitions.parallelismFirst=false (byte-
        # sized post-shuffle partitions, the Spark docs' own
        # recommendation) was A/B-measured this round and REJECTED:
        # at bench scale it serializes exactly the stages whose cost
        # is per-row compute or result serialization rather than bytes
        # (q_interval_overlap_join 3-4x, q_asof_join 3x,
        # q_sorted_neighborhood 2x slower) while saving only ~tens of
        # ms on tiny aggregations. The default (parallelism-first,
        # 1 MB min partitions) is already scale-adaptive: at cluster
        # volumes bytes/cores exceeds the advisory target and the two
        # settings converge. Measurements in OPTIMIZATION_r16.md.
        # Likewise preferSortMergeJoin=false (guide SS3.1: shuffled-
        # hash skips two per-partition sorts) A/B-measured within
        # noise on 14 join-heavy queries — not adopted; the default
        # keeps sort-merge's graceful spill behavior at scale.
        .config("spark.sql.shuffle.partitions", DEFAULT_SHUFFLE_PARTITIONS)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        # The driver JVM compiles with C1 only. This trades speed of
        # code the JVM runs again and again for CPU spent compiling
        # code it runs a few times (4-vCPU box, sf0.1; ROADMAP
        # "Measured: the JIT"). Wins: one 30-statement sql_wire cycle
        # in a fresh JVM spent >=15.3 CPU-s in C2 compiler threads
        # against 3.3 CPU-s in all task threads; C1 only cut sql_wire
        # cpu_s_per_op 0.93 -> 0.39 over 15 s of traffic and
        # 0.49 -> 0.33 over 60 s (read p50 0.67 -> 0.50 s at 15 s,
        # within noise at 60 s). Costs: bench.py's warm headline (300
        # queries, each re-run in one long-lived JVM) 16.5 -> 20.6 s,
        # 13 queries over 1.5x; its streaming drains 31 -> 44 s; its
        # whole run, builds and first executions included, ~60% longer;
        # perfbench's 32-task calibration job ~2.5 s against ~0.4 s.
        # Driver-only: executor JVMs on a cluster keep C2 for their
        # data-plane loops. Set as defaultJavaOptions, which the
        # launcher puts before extraJavaOptions, so a caller's
        # extraJavaOptions (benchmark harness, deployers) adds to it
        # instead of replacing it; a caller that wants C2 back
        # overrides this key through extra_conf.
        .config("spark.driver.defaultJavaOptions", "-XX:TieredStopAtLevel=1")
        # r16 (guide §4): stock pyspark workers call
        # importlib.invalidate_caches() at the top of EVERY task, and on
        # Python 3.11 each cached zipimporter re-reads its whole zip
        # central directory — measured ~117 ms per task on this box
        # (pyspark.zip + spark-core jar finders), dominating every
        # Python-tier stage. The wrapper module patches
        # zipimporter.invalidate_caches with an mtime stat-guard
        # (CPython 3.12's semantics) in the daemon parent, inherited by
        # every forked worker. See sparrow_spark/worker_daemon.py.
        .config("spark.python.daemon.module", "sparrow_spark.worker_daemon")
        # r16 (guide §7.3 "very large query plans are driver-side
        # work"): EVERY action generates the full formatted plan string
        # (plus a redaction-regex pass over it) for the
        # SQLExecutionStart listener event — even with the UI disabled.
        # The iterative-convergence queries carry 0.5-1.3 MB plan TEXTS
        # (their executed work is checkpoint-pinned and tiny), so this
        # string build was 40-60% of their steady per-run cost:
        # q_golden_record 0.40->0.19 s, q_cluster_size_dist 0.26->0.16,
        # q_dedup_clusters/savings 0.18->0.115 (same-session A/B/A).
        # 128 KiB keeps every human-sized plan intact (the audit
        # queries' plan-shape assertions read 2-40 KB plans); tools
        # that capture full plans (scripts/explain_audit.py, including
        # its --sweep mode) raise this conf at runtime — it is
        # session-dynamic.
        .config("spark.sql.maxPlanStringLength", "131072")
        # r16 (guide §2.2): AQE's coalescing floor
        # (minPartitionSize, default 1 MiB) serializes small-but-
        # compute-bound final stages at interactive scale — a 0.5-3 MB
        # post-shuffle stage lands on 1-3 tasks regardless of per-row
        # cost (measured: q_rake_keywords 0.081->0.029 s,
        # q_association_rules 0.086->0.035, q_window_topk_per_group
        # 0.100->0.062 at 256 KiB; the <50 ms tail unchanged, A/B/A).
        # At production volumes post-shuffle bytes/cores far exceeds
        # any floor, so this knob only affects small interactive
        # stages; env-overridable for clusters that want the 1 MiB
        # default back.
        .config(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize",
            os.environ.get("SPARK_GRAFT_MIN_PARTITION_SIZE", "262144"),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def tune_for_session(spark: SparkSession) -> SparkSession:
    """Apply engine conf to an externally-provided SparkSession.

    The driver may hand us a session it built itself; only runtime-settable
    confs are applied here (timezone matters for timestamp correctness).
    Its JVM is already running, so launch-time settings of get_spark
    (driver memory, the C1-only JIT) cannot apply to it.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # Session-wide once, not per-load: TIMESTAMP(NANOS) parquet columns
    # (events.ts) need the legacy long read path; sources.load_table
    # relies on this being set and converts longs explicitly.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Local-mode python workers inherit the driver env: make sure they
    # can import this package even when the driver process was started
    # from another cwd. (Worker callables are cloudpickled by value
    # anyway — see operators/multimodal.py — this is belt-and-braces
    # for user-registered UDFs.)
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pythonpath = os.environ.get("PYTHONPATH", "")
    if repo_root not in pythonpath.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            repo_root + (os.pathsep + pythonpath if pythonpath else "")
        )
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    except Exception:
        pass
    return spark
