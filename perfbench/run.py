"""Run one benchmark workload against the program in this checkout.

    python3 perfbench/run.py --workload olap_pack --seed 1 --seconds 15 --trace 0

Generates the fixture tables from ``--seed`` inside the checkout, sets
the program up, runs the workload's closed loop for ``--seconds``,
checks every output against an independent oracle and prints, as the
last line of standard output, one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics named in
BENCHMARK.json; with ``--trace 1`` they are the per-layer metrics of a
traced run. The line before it holds the run's detail (per-class
latency percentiles with sample counts, run environment, load
sentinel); the same detail, the span file and the per-class layer table
are written under ``perfbench/out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

WORKLOADS = ("olap_pack", "sql_wire", "dml_mix")
END_TO_END = [
    ("setup_s", "s"),
    ("cpu_s_per_op", "s"),
]
# Wall-clock throughput and latency: printed in the detail, not gated,
# because CPU steal on a shared host moves them by up to 2x between runs.
WALL = [
    ("ops_per_s", "1/s"),
    ("read_p50_s", "s"),
]


def parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=0.1,
                   help="fixture scale factor (0.1 = 600k lineitem rows)")
    p.add_argument("--max-ops", type=int, default=None,
                   help="stop after this many operations (smoke tests)")
    return p.parse_args(argv)


def end_to_end(out) -> dict[str, dict]:
    """Every end-to-end figure, gated (END_TO_END) or not (WALL)."""
    rec = out.recorder
    done = sum(len(v) for v in rec.latencies.values())
    reads = rec.samples(out.read_classes)
    values = {
        "setup_s": out.setup_s,
        "cpu_s_per_op": out.cpu_s / max(1, done),
        "ops_per_s": done / out.timed_wall_s,
        "read_p50_s": statistics.median(reads) if reads else float("nan"),
    }
    return {n: {"value": values[n], "unit": u} for n, u in END_TO_END + WALL}


def main(argv=None) -> int:
    args = parse(argv)
    root = os.path.dirname(HERE)
    if not os.path.isdir(os.path.join(root, "sparrow_spark")):
        print("perfbench: no sparrow_spark/ package next to perfbench/",
              file=sys.stderr)
        return 2
    import datagen
    from harness import (
        Context,
        adopt_orphans,
        percentiles,
        stop_descendants,
        write_json,
    )

    # A SIGTERM unwinds through the finally below like any error, so the
    # Spark JVMs, Python workers and the wire server end with this process.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    adopt_orphans()
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(HERE, ".work", f"{tag}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    try:
        ctx = Context(
            workload=args.workload,
            seed=args.seed,
            seconds=args.seconds,
            trace=bool(args.trace),
            scale=args.scale,
            max_ops=args.max_ops,
            work=work,
            data=os.path.join(work, "data"),
        )
        t0 = time.perf_counter()
        rows = datagen.generate(ctx.data, args.seed, args.scale)
        ctx.gen_s = time.perf_counter() - t0
        workload = __import__(args.workload)
        out = workload.run(ctx)
    finally:
        signal.signal(signal.SIGTERM, signal.SIG_IGN)  # let the clean-up finish
        stop_descendants()
        shutil.rmtree(work, ignore_errors=True)

    from harness import process_age

    rec = out.recorder
    detail = {
        "wall_s": process_age(),
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "scale": args.scale,
        "table_rows": rows,
        "datagen_s": ctx.gen_s,
        "timed_wall_s": out.timed_wall_s,
        "peak_rss_mb": out.peak_rss_mb,
        "latency_s": {c: percentiles(v) for c, v in rec.latencies.items()},
        "failed_frac": rec.failed / max(1, rec.attempted),
        "failures": rec.failures[:20],
        "env": out.env,
        **out.detail,
    }
    figures = end_to_end(out)
    detail["wall"] = {n: figures[n] for n, _ in WALL}
    if out.tracer is None:
        metrics = {n: figures[n] for n, _ in END_TO_END}
    else:
        from tracing import PER_LAYER, DML_ONLY, summarize

        layers, table, bases = summarize(out.tracer, out.write_classes)
        names = PER_LAYER + (DML_ONLY if args.workload == "dml_mix" else [])
        metrics = {n: {"value": layers[n], "unit": u} for n, u in names}
        detail["ratio_bases"] = bases
        detail["end_to_end_while_traced"] = figures
        out_dir = os.path.join(HERE, "out")
        out.tracer.write(os.path.join(out_dir, f"{tag}-spans.jsonl"))
        with open(os.path.join(out_dir, f"{tag}-layers.txt"), "w") as f:
            f.write(table + "\n")
        print(table)
        print(f"tracing overhead: {out.tracer.overhead_s:.3f} s over "
              f"{out.timed_wall_s:.3f} s traced wall "
              f"({out.tracer.overhead_s / out.timed_wall_s:.1%})")
    write_json(os.path.join(HERE, "out", f"{tag}.json"), detail)
    print(json.dumps(detail, default=str))
    print(json.dumps({
        "correct": rec.failed == 0,
        "attempted": rec.attempted,
        "failed": rec.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
