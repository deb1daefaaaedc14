"""sparrow_spark — a PySpark-native analytics engine.

A from-scratch reimplementation of the query and data-processing
capabilities of the reference OLAP engine (wqc200/sparrow, crate
``ebike``: a Rust/DataFusion MySQL-protocol OLAP database), re-expressed
Spark-first:

- All relational execution (scan/filter/project/join/aggregate/window/
  set-ops/sort/limit) is declared through the DataFrame / Spark SQL API
  and optimized by Catalyst + AQE — mirroring how the reference delegates
  SELECT execution to DataFusion (reference: src/execute_impl/select.rs:41-81).
- The engine's own code is the part the reference also hand-writes:
  session/catalog layer, MySQL-dialect front-end shim (SHOW/USE/SET/
  @@vars/dual/database()), DML semantics (rowid, unique-key enforcement,
  copy-on-write UPDATE/DELETE) — see sparrow_spark.engine.
- Beyond the reference's surface: large-scale training-data pipeline
  operators (dedup, similarity search, text analysis, multimodal
  plumbing) and Structured Streaming ingestion, all designed for
  multi-executor scale (no collect-to-driver in any operator path).
"""

__all__ = ["get_spark"]
__version__ = "0.1.0"


def __getattr__(name: str):
    # Lazy (PEP 562): `python -m sparrow_spark.worker_daemon` imports
    # this package first, and must choose where pyspark comes from
    # before anything imports it.
    if name == "get_spark":
        from sparrow_spark.session import get_spark

        return get_spark
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
