"""Parquet table sources for the synthetic TPC-H-ish fixture schema.

The reference's scan path is a custom single-partition KV scan with
O(rows x cols) point-gets (reference: src/store/reader/sled.rs:60-100,
src/datafusion_impl/physical_plan/sled.rs:89-91). The Spark-native
equivalent is the vectorized parquet reader: multi-partition splits,
column pruning and predicate pushdown all come from Catalyst for free —
verify with df.explain() that PushedFilters/ReadSchema reach the scan.
"""

from __future__ import annotations

import glob
import os

import pyarrow as pa
import pyarrow.parquet as pq

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_type
from pyspark.sql.types import LongType, StructField, StructType, TimestampNTZType

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def fixture_schema(
    spark: SparkSession, path: str
) -> tuple[StructType, dict[str, Column]]:
    """Read the arrow schema of the parquet file at `path` (for a
    directory: the first *.parquet file under it) once, and return the
    Spark read schema plus the per-column conversions that bring every
    timestamp to TimestampType (LTZ).

    Handing the reader this schema means no schema-inference job per
    load; the reference likewise gives its scan the catalog schema
    instead of inferring one. The fixture generator has shipped three
    timestamp encodings across rounds, so none is assumed:
    - TIMESTAMP(NANOS): Spark's vectorized reader rejects it, so it is
      read as epoch-nanos bigint (spark.sql.legacy.parquet.nanosAsLong,
      set here and only when such a column exists) and converted with
      integer `div` — exact for microsecond-aligned data, immune to the
      precision loss of a float division.
    - micros, isAdjustedToUTC=false: read as timestamp_ntz and cast to
      LTZ, a value-exact reinterpretation under the UTC session
      timezone pinned in session.py.
    - UTC-adjusted micros: read as TimestampType as is.
    Every other column maps through from_arrow_type; a type it cannot
    map raises."""
    probe = path
    if os.path.isdir(path):
        # Recurse: partitioned/nested layouts keep their data files in
        # subdirectories.
        files = sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))
        if not files:
            raise FileNotFoundError(f"no .parquet file under {path}")
        probe = files[0]
    fields, fixes = [], {}
    for f in pq.read_schema(probe):
        if pa.types.is_timestamp(f.type) and f.type.unit == "ns":
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
            dtype = LongType()
            fixes[f.name] = F.timestamp_micros(F.expr(f"`{f.name}` div 1000"))
        else:
            dtype = from_arrow_type(f.type, prefer_timestamp_ntz=True)
            if isinstance(dtype, TimestampNTZType):
                fixes[f.name] = F.col(f.name).cast("timestamp")
        # File sources read every column as nullable.
        fields.append(StructField(f.name, dtype, True))
    return StructType(fields), fixes


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table (a parquet file or directory) with its
    timestamps normalized; see fixture_schema."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    schema, fixes = fixture_schema(spark, path)
    return spark.read.schema(schema).parquet(path).withColumns(fixes)


def widen(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Ensure a DataFrame has at least `min_partitions` (default: the
    cluster's defaultParallelism) before a compute-bound stage.

    Rationale: a parquet source with fewer row groups than cores (e.g.
    the single-row-group fixture files) yields a scan that cannot be
    split, serializing everything downstream of it. A round-robin
    repartition ahead of compute-heavy work (hashing, shingling,
    vector math) restores parallelism. At production scale the source
    has far more splits than cores, the condition is false, and this
    is a no-op — no extra shuffle is ever introduced on a well-split
    source. The reference's scan is *always* one partition
    (src/datafusion_impl/physical_plan/sled.rs:89-91); this is the
    Spark-side fix for the same bottleneck.
    """
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def materialize(df: DataFrame, **cols) -> DataFrame:
    """Append computed columns that are evaluated exactly ONCE per row.

    A plain select/withColumn is subject to CollapseProject: Catalyst
    inlines the defining expression into every downstream consumer —
    including the per-element lambda bodies of higher-order functions
    (transform/aggregate), where an "outer" subexpression is re-evaluated
    per array element. For an expensive expression (regex normalize,
    split) consumed inside an O(n) lambda that multiplies its cost by
    the array length (measured 8x on the shingling path at sf0.1).

    Routing the projection through a one-element explode makes the
    values *generator output attributes*, which the optimizer cannot
    re-inline past. Cost: one struct copy per row — no shuffle, no
    action, shape-preserving at any scale.
    """
    keep = [c for c in df.columns if c not in cols]
    packed = F.explode(
        F.array(F.struct(*[c.alias(n) for n, c in cols.items()]))
    )
    return df.select(*keep, packed.alias("__m")).select(
        *keep, *[F.col(f"__m.{n}").alias(n) for n in cols]
    )


def local_df(spark: SparkSession, data, schema) -> DataFrame:
    """JVM LocalRelation from small Python literal rows.

    r16 (guide SS4): ``spark.createDataFrame(list_of_tuples, schema)``
    builds a PICKLED Python RDD — every execution of any plan that
    references it launches a Python worker to unpickle the rows
    (measured 0.3-0.9 s per execution on this box, paid by EVERY query
    that joins a tiny literal dimension table, every run). Routing the
    same literals through a pandas DataFrame takes the Arrow
    conversion path instead, which lands as a JVM LocalRelation:
    re-executions never touch Python, Catalyst can constant-fold /
    broadcast it without a job, and the values are identical (the
    explicit schema pins exact Spark types; measured LocalRelation vs
    LogicalRDD in the optimized plan, ~10x per-execution cost).

    ``schema`` is a DDL string (simple column types — names are parsed
    from it for pandas) or a StructType."""
    import pandas as pd

    if hasattr(schema, "names"):
        names = list(schema.names)
    else:
        names = [c.strip().split()[0] for c in schema.split(",")]
    rows = [tuple(r) for r in data]
    pdf = pd.DataFrame.from_records(rows, columns=names)
    if len(rows) == 0:
        # from_records on an empty list loses the columns; rebuild with
        # explicit (empty, object-dtyped) columns so the Arrow path
        # still sees the declared shape.
        pdf = pd.DataFrame({n: pd.Series(dtype="object") for n in names})
    return spark.createDataFrame(pdf, schema)


def load_tables(
    spark: SparkSession, sf_dir: str, names: list[str] | None = None
) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in (names or TABLES)}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view for spark.sql use."""
    for n in TABLES:
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)
