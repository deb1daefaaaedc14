"""Join strategy is the planner's choice: the session broadcasts a side
Spark estimates under its autoBroadcastJoinThreshold, and no query
forces a broadcast past it. With the threshold at -1 the TPC-H spine
must plan shuffle joins only and still return the same rows."""

import math

import pytest

from sparrow_spark import registry


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _same(a, b):
    return len(a) == len(b) and all(
        x == y or (isinstance(x, float) and math.isclose(x, y, rel_tol=1e-9))
        for ra, rb in zip(a, b)
        for x, y in zip(ra, rb)
    )


@pytest.mark.parametrize("name", ["q5_local_supplier_volume", "q8_market_share"])
def test_broadcast_threshold_is_honoured(spark, sf_dir, name):
    registry.load_all()
    build = registry.RAW_QUERIES[name]
    expected = _rows(build(spark, sf_dir))
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = build(spark, sf_dir)
        got = _rows(df)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in plan, plan
        assert _same(got, expected), (got, expected)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_not_in_plans_as_null_aware_hash_anti_join(spark, sf_dir):
    """q_null_semantics' NOT IN must plan as Spark's single-column
    null-aware anti join, a broadcast hash join, and not as a
    nested-loop join streaming orders against every lineitem key."""
    registry.load_all()
    df = registry.RAW_QUERIES["q_null_semantics"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "LeftAnti, BuildRight, true" in plan, plan
