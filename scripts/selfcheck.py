"""Differential self-check: run every registered query on Spark and its
DuckDB oracle, compare row count, column names, and order-insensitive
values. Mirrors the driver's CORRECTNESS gate so mismatches are caught
locally first.

Usage: python scripts/selfcheck.py [--perturb] [sf_dir] [query_name ...]

--perturb additionally re-runs every Spark query under a different
``spark.sql.shuffle.partitions`` (7 instead of the session's 32) and
canon-compares the two rowsets. Any difference means the query's
output depends on partial-aggregation merge order — exactly the class
of flake (float-sum rounding ties) that passes a single local run but
fails the driver's hash roulette (the r7 q_quality_classifier red).
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from sparrow_spark import registry
from sparrow_spark.session import get_spark
from sparrow_spark.sources import TABLES


def duck_connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def arrow_class(t) -> str | None:
    """Coarse type class of an Arrow type — the granularity the
    driver's value hash is sensitive to. DuckDB's un-cast integer
    window sums come back HUGEINT -> decimal128(38,0) while Spark
    emits int64: values identical, hash red (the r12 q_heaps_law
    lesson, the schema-level twin of the r7 -0.0 canon rule). None
    means "skip" (all-NULL column has arrow type null)."""
    import pyarrow.types as pat

    if pat.is_null(t):
        return None
    if pat.is_boolean(t):
        return "bool"
    if pat.is_integer(t):
        return "int"
    if pat.is_floating(t):
        return "float"
    if pat.is_decimal(t):
        return "decimal"
    if pat.is_string(t) or pat.is_large_string(t):
        return "string"
    if pat.is_binary(t) or pat.is_large_binary(t):
        return "binary"
    if pat.is_date(t):
        return "date"
    if pat.is_timestamp(t):
        return "timestamp"
    if pat.is_list(t) or pat.is_large_list(t) or pat.is_fixed_size_list(t):
        return "array"
    if pat.is_struct(t):
        return "struct"
    if pat.is_map(t):
        return "map"
    return str(t)


def spark_class(dt) -> str:
    """Coarse type class of a Spark DataType, same labels as
    :func:`arrow_class`."""
    name = dt.typeName()
    if name in ("byte", "short", "integer", "long"):
        return "int"
    if name in ("float", "double"):
        return "float"
    if name.startswith("decimal"):
        return "decimal"
    if name == "boolean":
        return "bool"
    if name in ("string", "varchar", "char"):
        return "string"
    if name in ("timestamp", "timestamp_ntz"):
        return "timestamp"
    if name == "void":
        return "null"
    return name


def canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, float):
        if not math.isfinite(v):
            return repr(v)  # nan / inf / -inf, verbatim
        if v == 0.0 and math.copysign(1.0, v) < 0:
            # Signed zero must NOT collapse to "0": the driver's value
            # hash distinguishes -0.0 from 0.0 (the r7/r8
            # q_quality_classifier red — DuckDB's C-style round emits
            # -0.0 for tiny negatives, Spark's BigDecimal round never
            # does). Keeping it distinct here makes that class a LOCAL
            # failure instead of driver roulette.
            return "-0.0"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(round(v, 9))
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def rowset(rows):
    return sorted(",".join(canon(v) for v in row) for row in rows)


def main() -> int:
    argv = sys.argv[1:]
    perturb = "--perturb" in argv
    argv = [a for a in argv if a != "--perturb"]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.001"
    only = set(argv[1:])
    registry.load_all()
    spark = get_spark("sparrow-selfcheck")
    con = duck_connect(sf_dir)
    failures = []
    n_run = 0
    for name, fn in registry.QUERIES.items():
        if only and name not in only:
            continue
        n_run += 1
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL {name}: spark error: {e}")
            continue
        oracle = registry.ORACLES.get(name)
        if oracle is None:
            print(f"ok   {name}: rows-only ({len(srows)} rows, {time.time()-t0:.1f}s)")
            if not srows:
                failures.append(name)
                print(f"FAIL {name}: 0 rows from rows-only query")
            continue
        try:
            atbl = con.execute(oracle).fetch_arrow_table()
            res = con.execute(oracle)
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL {name}: duckdb error: {e}")
            continue
        status = []
        if len(srows) != len(drows):
            status.append(f"rowcount {len(srows)} vs {len(drows)}")
        if [c.lower() for c in scols] != [c.lower() for c in dcols]:
            status.append(f"columns {scols} vs {dcols}")
        else:
            # Type-class audit: the driver's hash is type-sensitive
            # (Arrow-level), while fetchall() converts HUGEINT to
            # Python int — invisible to the value canon below. Compare
            # the oracle's Arrow type class per column against Spark's
            # so a decimal128-vs-int64 divergence fails HERE, not on
            # the driver (CORRECTNESS_r12 q_heaps_law).
            sfields = sdf.schema.fields
            for i, fld in enumerate(atbl.schema):
                ac, sc = arrow_class(fld.type), spark_class(sfields[i].dataType)
                if ac is not None and sc != "null" and ac != sc:
                    status.append(
                        f"type class of {dcols[i]!r}: oracle {fld.type} "
                        f"({ac}) vs spark {sfields[i].dataType.simpleString()} ({sc})"
                    )
            order = sorted(range(len(scols)), key=lambda i: scols[i].lower())
            sset = rowset([tuple(r[i] for i in order) for r in srows])
            dset = rowset([tuple(r[i] for i in order) for r in drows])
            if sset != dset:
                dset_s, sset_s = set(dset), set(sset)
                diff_a = [r for r in sset if r not in dset_s][:3]
                diff_b = [r for r in dset if r not in sset_s][:3]
                status.append(f"values differ; spark-only={diff_a} duck-only={diff_b}")
        if not status and perturb:
            # Stability audit: the same logical plan executed with a
            # different shuffle-partition count changes the partial-agg
            # merge order. A stable query canon-matches itself; a
            # mismatch is a latent driver-hash flake even if the
            # oracle compare above passed this run.
            old = spark.conf.get("spark.sql.shuffle.partitions")
            try:
                spark.conf.set("spark.sql.shuffle.partitions", "7")
                prows = [
                    tuple(r)
                    for r in registry.RAW_QUERIES[name](spark, sf_dir).collect()
                ]
            finally:
                spark.conf.set("spark.sql.shuffle.partitions", old)
            order = sorted(range(len(scols)), key=lambda i: scols[i].lower())
            pset = rowset([tuple(r[i] for i in order) for r in prows])
            sset = rowset([tuple(r[i] for i in order) for r in srows])
            if pset != sset:
                diff = [r for r in sset if r not in set(pset)][:3]
                status.append(f"UNSTABLE under repartition; e.g. {diff}")
        if status:
            failures.append(name)
            print(f"FAIL {name}: {'; '.join(status)}")
        else:
            print(f"ok   {name}: {len(srows)} rows match ({time.time()-t0:.1f}s)")
    print(f"\n{n_run - len(failures)}/{n_run} pass")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
