"""Time-series operators over the events stream table: time-bucket
rollups (hypertable-style), sessionization, and as-of joins. The
reference has no time-series surface (SURVEY §1.1 "No streams…
time-series"); these are the beyond-reference extensions done
Spark-first. The same transformations run under Structured Streaming
(see sparrow_spark.streaming) — watermark + window for the rollup,
session_window for sessionize.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sparrow_spark.operators.asof import asof_join
from sparrow_spark.registry import query
from sparrow_spark.rounding import rnd
from sparrow_spark.sources import load_table
from sparrow_spark.streaming.constants import (
    SESSION_GAP_INTERVAL,
    SESSION_GAP_SECONDS,
)


@query(
    "q_time_bucket_rollup",
    oracle="""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS bucket,
           event_type,
           count(*) AS n_events,
           count(DISTINCT user_id) AS n_users,
           round(sum(value), 2) AS sum_value,
           round(avg(value), 4) AS avg_value
    FROM events
    GROUP BY 1, 2
    """,
)
def q_time_bucket_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Hypertable-style rollup: bucket to the hour, aggregate per type.
    # Scale: shuffle on (bucket, type) — time-ordered data gives natural
    # partition pruning when the source is date-partitioned.
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.withColumn(
            "bucket", F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss")
        )
        .groupBy("bucket", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            rnd(F.sum("value"), 2).alias("sum_value"),
            rnd(F.avg("value"), 4).alias("avg_value"),
        )
    )


@query(
    "q_sessionize",
    oracle=f"""
    WITH flagged AS (
      SELECT user_id, event_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR date_diff('second', lag(ts) OVER w, ts) > {SESSION_GAP_SECONDS}
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
      SELECT user_id, event_id, value,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS session_id
      FROM flagged
    )
    SELECT user_id,
           CAST(count(DISTINCT session_id) AS BIGINT) AS n_sessions,
           count(*) AS n_events,
           round(sum(value), 2) AS total_value
    FROM sessions
    GROUP BY user_id
    """,
)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    # 30-minute-gap sessionization: lag -> boundary flag -> running sum
    # as session id -> per-user rollup. Batch twin of
    # F.session_window(ts, '30 minutes') in the streaming path.
    # Scale: single shuffle on user_id reused by both windows and the
    # final aggregate (same partitioning expression).
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    gap_sec = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
    flagged = ev.withColumn(
        "new_session",
        F.when(
            gap_sec.isNull() | (gap_sec > SESSION_GAP_SECONDS), F.lit(1)
        ).otherwise(F.lit(0)),
    )
    sessions = flagged.withColumn("session_id", F.sum("new_session").over(wrun))
    return sessions.groupBy("user_id").agg(
        F.countDistinct("session_id").alias("n_sessions"),
        F.count(F.lit(1)).alias("n_events"),
        rnd(F.sum("value"), 2).alias("total_value"),
    )


@query(
    "q_asof_join",
    oracle="""
    WITH ranked AS (
      SELECT e.event_id, o.o_orderkey, o.o_totalprice,
             row_number() OVER (PARTITION BY e.event_id
                                ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
      FROM events e
      JOIN orders o ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
    )
    SELECT e.event_id, m.o_orderkey AS last_orderkey,
           round(m.o_totalprice, 2) AS last_totalprice
    FROM events e
    LEFT JOIN (SELECT * FROM ranked WHERE rn = 1) m ON m.event_id = e.event_id
    """,
)
def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # For each event: the customer's most recent order at event time.
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_orderkey", "o_totalprice"
    )
    joined = asof_join(
        ev,
        orders,
        left_on="user_id",
        right_on="o_custkey",
        left_time="ts",
        right_time="o_orderdate",
        payload_cols=["o_orderkey", "o_totalprice"],
        tiebreak="o_orderkey",
    )
    return joined.select(
        "event_id",
        F.col("o_orderkey").alias("last_orderkey"),
        rnd("o_totalprice", 2).alias("last_totalprice"),
    )


@query(
    "q_asof_forward",
    oracle="""
    WITH ranked AS (
      SELECT e.event_id, o.o_orderkey, o.o_totalprice,
             row_number() OVER (PARTITION BY e.event_id
                                ORDER BY o.o_orderdate ASC, o.o_orderkey DESC) AS rn
      FROM events e
      JOIN orders o ON o.o_custkey = e.user_id AND o.o_orderdate >= e.ts
       AND epoch_us(o.o_orderdate) - epoch_us(e.ts) <= 2592000000000
    )
    SELECT e.event_id, m.o_orderkey AS next_orderkey,
           round(m.o_totalprice, 2) AS next_totalprice
    FROM events e
    LEFT JOIN (SELECT * FROM ranked WHERE rn = 1) m ON m.event_id = e.event_id
    """,
)
def q_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Forward as-of with a 30-day tolerance: for each event, the
    # customer's NEXT order within a month. Same single-shuffle
    # union+window algorithm as backward — only the scan direction
    # flips (operators/asof.py).
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_orderkey", "o_totalprice"
    )
    joined = asof_join(
        ev,
        orders,
        left_on="user_id",
        right_on="o_custkey",
        left_time="ts",
        right_time="o_orderdate",
        payload_cols=["o_orderkey", "o_totalprice"],
        tiebreak="o_orderkey",
        direction="forward",
        tolerance_seconds=30 * 86400,
    )
    return joined.select(
        "event_id",
        F.col("o_orderkey").alias("next_orderkey"),
        rnd("o_totalprice", 2).alias("next_totalprice"),
    )


@query(
    "q_range_join_banded",
    oracle="""
    SELECT c.user_id,
           c.event_id AS click_id,
           p.event_id AS purchase_id,
           epoch_us(c.ts) AS click_us,
           epoch_us(p.ts) AS purchase_us
    FROM events c
    JOIN events p
      ON c.user_id = p.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND c.ts <= p.ts
     AND c.ts >= p.ts - INTERVAL 1 HOUR
    """,
)
def q_range_join_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The scalable interval join: clicks attributed to same-user
    # purchases within the preceding hour via time-band equi-join
    # (operators/rangejoin.py) instead of a BroadcastNestedLoopJoin
    # theta join (q_range_join keeps the naive shape for comparison;
    # this plan survives when neither side broadcasts). Same relation
    # as the drained q_stream_stream_join — three implementations, one
    # oracle relation.
    from sparrow_spark.operators.rangejoin import banded_interval_join

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.unix_micros("ts").alias("click_us"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.unix_micros("ts").alias("purchase_us"),
    )
    joined = banded_interval_join(
        probe=purchases,
        build=clicks,
        key="user_id",
        probe_time_us="purchase_us",
        build_time_us="click_us",
        window_us=3600 * 1_000_000,
    )
    return joined.select(
        "user_id", "click_id", "purchase_id", "click_us", "purchase_us"
    )


@query(
    "q_regression_stats",
    oracle="""
    WITH base AS (
      SELECT event_type,
             epoch_us(ts) / 1000000.0 -
               (SELECT epoch_us(min(ts)) / 1000000.0 FROM events) AS x,
             value AS y
      FROM events WHERE value IS NOT NULL
    )
    SELECT event_type,
           count(*) AS n,
           round(regr_slope(y, x) * 86400, 5) AS slope_per_day,
           round(regr_intercept(y, x), 4) AS intercept,
           round(regr_r2(y, x), 5) AS r2,
           round(corr(y, x), 5) AS corr_xy
    FROM base GROUP BY event_type
    """,
)
def q_regression_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Per-type linear trend of event value over time: the built-in
    # regression aggregates (regr_slope/intercept/r2), JVM-side partial
    # aggregation — what a UDAF would be, without leaving codegen.
    # x is centered on the global min timestamp (1-row broadcast
    # aggregate, the q_tfidf pattern) so the covariance sums stay well
    # inside double precision at any corpus age.
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    tmin = ev.agg(
        (F.min(F.unix_micros("ts")) / 1e6).alias("__t0")
    )
    base = ev.crossJoin(tmin).select(
        "event_type",
        (F.unix_micros("ts") / 1e6 - F.col("__t0")).alias("x"),
        F.col("value").alias("y"),
    )
    return base.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        rnd(F.regr_slope("y", "x") * 86400, 5).alias("slope_per_day"),
        rnd(F.regr_intercept("y", "x"), 4).alias("intercept"),
        rnd(F.regr_r2("y", "x"), 5).alias("r2"),
        rnd(F.corr("y", "x"), 5).alias("corr_xy"),
    )


@query(
    "q_gap_fill",
    oracle="""
    WITH bounds AS (
      SELECT date_trunc('hour', min(ts)) AS lo, date_trunc('hour', max(ts)) AS hi
      FROM events
    ), grid AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket,
             t.event_type
      FROM bounds, (SELECT DISTINCT event_type FROM events) t
    ), agg AS (
      SELECT date_trunc('hour', ts) AS bucket, event_type,
             count(*) AS n, round(sum(value), 2) AS sum_value
      FROM events GROUP BY 1, 2
    )
    SELECT strftime(g.bucket, '%Y-%m-%d %H:%M:%S') AS bucket, g.event_type,
           coalesce(a.n, 0) AS n_events,
           coalesce(a.sum_value, 0.0) AS sum_value
    FROM grid g LEFT JOIN agg a
      ON a.bucket = g.bucket AND a.event_type = g.event_type
    """,
)
def q_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style gap fill: a dense (hour x event_type) grid with
    zero-filled empty buckets — what monitoring/feature pipelines need
    before windowed models. Scale: the grid is sequence()-generated from
    a 1-row bounds aggregate (broadcast), never materialized wider than
    hours x types; the left join shuffles only the aggregated (not raw)
    side."""
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    types = ev.select("event_type").distinct()
    grid = (
        bounds.crossJoin(types)
        .select(
            F.explode(
                F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))
            ).alias("bucket_ts"),
            "event_type",
        )
    )
    agg = ev.groupBy(
        F.date_trunc("hour", "ts").alias("bucket_ts"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        rnd(F.sum("value"), 2).alias("sum_value"),
    )
    return (
        grid.join(agg, ["bucket_ts", "event_type"], "left")
        .select(
            F.date_format("bucket_ts", "yyyy-MM-dd HH:mm:ss").alias("bucket"),
            "event_type",
            F.coalesce(F.col("n"), F.lit(0)).alias("n_events"),
            F.coalesce(F.col("sum_value"), F.lit(0.0)).alias("sum_value"),
        )
    )


@query(
    "q_json_extract",
    oracle="""
    SELECT event_type,
           count(*) AS n,
           CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           CAST(min(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS min_k,
           CAST(max(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
    FROM events
    WHERE CAST(json_extract(props, '$.k') AS BIGINT) >= 50
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured payload extraction: parse the JSON props column
    JVM-side (get_json_object — no Python, codegen-friendly), filter on
    the extracted field, aggregate. At scale prefer from_json with an
    explicit schema once per pipeline stage (single parse, typed
    struct); get_json_object is the ad-hoc path shown here."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return (
        ev.withColumn("k", k)
        .filter(F.col("k") >= 50)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").cast("bigint").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type")
    )


@query(
    "q_zscore_outliers",
    oracle="""
    WITH stats AS (
      SELECT event_type,
             avg(value) AS mu,
             stddev_samp(value) AS sigma
      FROM events GROUP BY event_type
    )
    SELECT e.event_id, e.event_type,
           round(e.value, 2) AS value,
           round((e.value - s.mu) / s.sigma, 4) AS zscore
    FROM events e JOIN stats s ON e.event_type = s.event_type
    WHERE abs((e.value - s.mu) / s.sigma) > 3.0
    """,
)
def q_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type z-score outlier detection (|z| > 3): the per-group
    stats reduce to a tiny broadcast frame; the raw stream is scanned
    once with the normalized filter applied map-side — no window over
    raw rows, so no per-row state at scale."""
    ev = load_table(spark, sf_dir, "events")
    stats = ev.groupBy(F.col("event_type").alias("s_type")).agg(
        F.avg("value").alias("mu"), F.stddev_samp("value").alias("sigma")
    )
    z = (F.col("value") - F.col("mu")) / F.col("sigma")
    return (
        ev.join(stats, ev.event_type == F.col("s_type"))
        .filter(F.abs(z) > 3.0)
        .select(
            "event_id",
            "event_type",
            rnd(F.col("value"), 2).alias("value"),
            rnd(z, 4).alias("zscore"),
        )
    )


EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@query(
    "q_pivot",
    oracle="""
    SELECT user_id % 100 AS user_bucket,
           CAST(count(CASE WHEN event_type = 'click' THEN 1 END) AS BIGINT) AS click,
           CAST(count(CASE WHEN event_type = 'error' THEN 1 END) AS BIGINT) AS error,
           CAST(count(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT) AS purchase,
           CAST(count(CASE WHEN event_type = 'signup' THEN 1 END) AS BIGINT) AS signup,
           CAST(count(CASE WHEN event_type = 'view' THEN 1 END) AS BIGINT) AS view
    FROM events GROUP BY 1
    """,
)
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT (long -> wide): per-bucket event counts as one column per
    type, using df.pivot with an EXPLICIT value list — at scale an
    unlisted pivot triggers a distinct-values pre-pass over the fact
    table; listing values makes it a single conditional aggregation."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.withColumn("user_bucket", F.col("user_id") % 100)
        .groupBy("user_bucket")
        .pivot("event_type", EVENT_TYPES)
        .agg(F.count(F.lit(1)))
        .na.fill(0, EVENT_TYPES)
    )


@query(
    "q_unpivot",
    oracle="""
    WITH wide AS (
      SELECT user_id % 100 AS user_bucket,
             CAST(count(CASE WHEN event_type = 'click' THEN 1 END) AS BIGINT) AS click,
             CAST(count(CASE WHEN event_type = 'view' THEN 1 END) AS BIGINT) AS view
      FROM events GROUP BY 1
    )
    SELECT user_bucket, kind, n FROM (
      SELECT user_bucket, 'click' AS kind, click AS n FROM wide
      UNION ALL
      SELECT user_bucket, 'view' AS kind, view AS n FROM wide
    ) WHERE n > 0
    """,
)
def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (wide -> long) via stack() — the inverse reshape, one
    narrow pass over the wide frame (no join, no shuffle beyond the
    producing aggregation)."""
    ev = load_table(spark, sf_dir, "events")
    wide = (
        ev.withColumn("user_bucket", F.col("user_id") % 100)
        .groupBy("user_bucket")
        .pivot("event_type", ["click", "view"])
        .agg(F.count(F.lit(1)))
        .na.fill(0, ["click", "view"])
    )
    return wide.select(
        "user_bucket",
        F.expr("stack(2, 'click', click, 'view', view) AS (kind, n)"),
    ).filter(F.col("n") > 0)


@query(
    "q_rolling_window",
    oracle="""
    SELECT event_id, user_id,
           CAST(count(*) OVER w AS BIGINT) AS n_prev_hour,
           round(sum(value) OVER w, 2) AS sum_prev_hour
    FROM events
    WINDOW w AS (
      PARTITION BY user_id ORDER BY epoch_us(ts)
      RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW
    )
    """,
)
def q_rolling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-RANGE window frame: per-user rolling 1-hour count/sum —
    the event-time frame (not row-count) that rate limiting and
    feature windows need. Both engines order by epoch MICROSECONDS
    (second-truncated ordering silently shifts frame membership for
    events within 1s of the boundary — all fixture timestamps carry
    sub-second parts). One shuffle on user_id."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3_600_000_000, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).alias("n_prev_hour"),
        rnd(F.sum("value").over(w), 2).alias("sum_prev_hour"),
    )


def _ewma_worker(alpha: float):
    """Factory for the per-user EWMA applyInPandas worker. CLOSURE, not
    a module-level function: cloudpickle serializes it by value, so
    executors never import sparrow_spark (see operators/multimodal.py).
    """

    # Above this row count a group is "hot" and the fold runs through
    # pandas ewm's native C loop; below it the plain Python loop wins
    # (measured ~6x: ewm+sort_values carry ~1 ms of pandas machinery
    # per call, brutal at 1e3 tiny groups, irrelevant for one huge
    # key). Both branches compute the IDENTICAL IEEE fold — see below.
    hot = 4096

    def fn(pdf):
        import numpy as np
        import pandas as pd

        # r16 (guide SS4.2): per-group pandas machinery dominated this
        # worker — sort_values + fillna/astype + ewm cost ~1 ms per
        # tiny group. numpy lexsort + a direct fold keep the identical
        # result at ~1/6 the per-group cost:
        # - lexsort((event_id, ts)) == sort_values(["ts","event_id"])
        #   on these columns ((ts, event_id) pairs are unique, so
        #   stability differences cannot reorder equal keys).
        # - the loop computes y_t = alpha*x_t + (1-alpha)*y_{t-1};
        #   ewm(adjust=False) computes (1-alpha)*y_{t-1} + alpha*x_t —
        #   bitwise equal because IEEE addition is commutative (only
        #   associativity fails); tests pin loop == ewm == q_group_ewma.
        n = len(pdf)
        if n == 0:
            return pd.DataFrame(
                {"user_id": [None], "n_events": [0], "ewma": [None]}
            )
        order = np.lexsort(
            (pdf["event_id"].to_numpy(), pdf["ts"].to_numpy())
        )
        vs = pdf["value"].to_numpy(dtype="float64", na_value=0.0)[order]
        if n >= hot:
            acc = (
                pd.Series(vs).ewm(alpha=alpha, adjust=False).mean().iloc[-1]
            )
        else:
            acc = float(vs[0])
            a, b = alpha, 1.0 - alpha
            for x in vs[1:]:
                acc = a * x + b * acc
        return pd.DataFrame(
            {
                "user_id": [pdf["user_id"].iloc[0]],
                "n_events": [n],
                "ewma": [acc],
            }
        )

    return fn


_EWMA_ORACLE = """
    WITH ordered AS (
      SELECT user_id,
             CAST(list(coalesce(value, 0.0) ORDER BY ts, event_id)
                  AS DOUBLE[]) AS vs
      FROM events GROUP BY user_id
    )
    SELECT user_id,
           CAST(len(vs) AS BIGINT) AS n_events,
           round(list_reduce(vs, (acc, x) -> 0.1 * x + 0.9 * acc), 6) AS ewma
    FROM ordered
    """


@query("q_group_ewma", oracle=_EWMA_ORACLE)
def q_group_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponentially weighted moving average of event values —
    an inherently SEQUENTIAL per-key fold that SQL window frames cannot
    express. Production path: pure JVM — collect each user's
    (ts, event_id, value) structs, array_sort (lexicographic on the
    struct = ORDER BY ts, event_id), then F.aggregate runs the left
    fold y_t = 0.1*x_t + 0.9*y_{t-1} inside Catalyst codegen. No
    Python workers, no Arrow transfer; measured ~6x faster than the
    grouped-map variant below at sf0.1 and BITWISE identical (same
    IEEE left fold — asserted in tests/test_operators.py). Scale: one
    shuffle on user_id; each group materializes as one array, the same
    memory shape as any grouped-map operator. (A mega-hot key could be
    split further: an EWMA over a segment is affine in its input state,
    y_out = (1-a)^k * y_in + B, so segment folds combine associatively
    — implemented as segment_ewma below, not needed at current skew.)"""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "value"
    )
    lst = ev.groupBy("user_id").agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("ts"),
                    F.col("event_id"),
                    F.coalesce(F.col("value"), F.lit(0.0)).alias("v"),
                )
            )
        ).alias("xs")
    )
    vs = F.col("xs.v")
    ewma = F.aggregate(
        F.slice(vs, 2, F.greatest(F.size(vs) - 1, F.lit(0))),
        F.element_at(vs, 1).cast("double"),
        lambda acc, x: F.lit(0.1) * x + F.lit(0.9) * acc,
    )
    return lst.select(
        "user_id",
        F.size("xs").cast("bigint").alias("n_events"),
        rnd(ewma, 6).alias("ewma"),
    )


def segment_ewma(segs: DataFrame, alpha: float, key: str = "user_id") -> DataFrame:
    """The documented mega-hot-key escape hatch for the per-key EWMA
    fold: the key's ordered value stream is split into contiguous
    segments (``seg_id`` 0-based, each ``xs`` a non-empty
    array<double>), each segment is summarized INDEPENDENTLY — in its
    own task, so one pathological key no longer serializes on a single
    core — and the summaries combine associatively.

    Why this works: one fold step is the affine map
    y -> alpha*x + (1-alpha)*y, so a whole segment is the composition
    of affine maps, itself affine: y_out = m*y_in + b with
    m = (1-alpha)^len and b the fold started from 0. Affine maps
    compose associatively ((m2, b2)∘(m1, b1) = (m2*m1, m2*b1 + b2)),
    so only the (m, b, h) triples — three doubles per segment — meet
    at the combine, never the values. The first segment additionally
    carries h, the fold over its tail seeded with its first element,
    matching q_group_ewma's init convention (y_1 = x_1).

    Exactness: the combined result is algebraically identical to the
    sequential fold but NOT bitwise — reassociating a float fold
    changes rounding (e.g. (1-a)^k*y groups multiplications the
    sequential path interleaves with adds). Observed agreement is
    ~1 ulp; tests pin <1e-9 relative and exact equality at the
    operator's 6-decimal output contract. Use q_group_ewma unless a
    key is hot enough that one task's sequential fold dominates the
    stage."""
    la = F.lit(float(alpha))
    l1a = F.lit(1.0 - float(alpha))
    tail = F.slice(
        F.col("xs"), 2, F.greatest(F.size("xs") - 1, F.lit(0))
    )
    per_seg = segs.select(
        key,
        F.struct(
            F.col("seg_id").cast("int").alias("seg_id"),
            F.size("xs").cast("bigint").alias("n"),
            F.pow(l1a, F.size("xs")).alias("m"),
            F.aggregate(
                "xs", F.lit(0.0), lambda acc, x: la * x + l1a * acc
            ).alias("b"),
            F.aggregate(
                tail,
                F.element_at("xs", 1).cast("double"),
                lambda acc, x: la * x + l1a * acc,
            ).alias("h"),
        ).alias("s"),
    )
    comb = per_seg.groupBy(key).agg(
        F.array_sort(F.collect_list("s")).alias("ss")
    )
    ewma = F.aggregate(
        F.slice("ss", 2, F.greatest(F.size("ss") - 1, F.lit(0))),
        F.element_at("ss", 1)["h"],
        lambda acc, s: s["m"] * acc + s["b"],
    )
    n_events = F.aggregate(
        "ss", F.lit(0).cast("bigint"), lambda acc, s: acc + s["n"]
    )
    return comb.select(
        key, n_events.alias("n_events"), ewma.alias("ewma")
    )


@query("q_group_ewma_arrow", oracle=_EWMA_ORACLE)
def q_group_ewma_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same per-user EWMA through the batch grouped-map tier
    (groupBy().applyInPandas): Arrow ships each user's rows to a Python
    worker, pandas ewm(adjust=False) runs the identical recurrence, one
    row returns per user. Kept as a registered, oracle-checked query
    because it completes the custom-operator ladder — mapInPandas
    (multimodal, row-wise), applyInPandas (this, per-group sequential),
    applyInPandasWithState (streaming sessionizer) — and is the
    template for per-group logic that ISN'T a Catalyst-expressible
    fold (model scoring, scipy fits). For a pure arithmetic recurrence
    the JVM variant above is strictly better: same result bitwise,
    none of the per-group Arrow/Python overhead.

    The explicit repartition is load-bearing: AQE coalesces the
    grouped-map shuffle by BYTE size (100k rows -> 2 partitions), which
    is right for JVM operators but serializes the Python tier — per
    group cost here is worker-side milliseconds, not shuffle bytes, so
    groups must spread across all cores. A user-specified repartition
    is exempt from AQE coalescing and already satisfies the groupBy's
    required distribution, so no second shuffle is added (measured 4x
    at sf0.1: 2.9 s -> 0.73 s steady-state). At production scale the
    byte-based estimate and the compute-based ideal converge and the
    explicit count is simply defaultParallelism."""
    # r16 continuation (guide §4.1 "pass only the columns the function
    # needs" — in cheap types): the worker uses ts ONLY as a sort key,
    # and Arrow->pandas conversion of a tz-aware timestamp column costs
    # ~2x the whole grouped-map machinery at 1500 tiny groups (measured:
    # trivial worker 0.538 s with the timestamp column vs 0.273 s with
    # int64). unix_micros is strictly monotonic and the source column
    # is micros-precision, so sort order AND ties are preserved exactly;
    # the fold's inputs (value order) are bitwise unchanged.
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_micros("ts").alias("ts"), "value"
    )
    par = spark.sparkContext.defaultParallelism
    out = ev.repartition(par, "user_id").groupBy("user_id").applyInPandas(
        _ewma_worker(0.1), schema="user_id bigint, n_events bigint, ewma double"
    )
    return out.select("user_id", "n_events", rnd(F.col("ewma"), 6).alias("ewma"))


@query(
    "q_time_weighted_avg",
    oracle="""
    WITH stepped AS (
      SELECT user_id, value,
             epoch_us(ts) AS t,
             lead(epoch_us(ts)) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS t_next
      FROM events
    ), spans AS (
      SELECT user_id, coalesce(value, 0.0) AS v, t_next - t AS dt
      FROM stepped WHERE t_next IS NOT NULL
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_spans,
           round(sum(v * dt) / sum(dt), 6) AS twa
    FROM spans GROUP BY user_id
    """,
)
def q_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average per user over IRREGULARLY sampled events:
    each value is weighted by how long it was current (until the next
    event), the step-function integral divided by the covered span —
    the correct aggregate for sensor/price/gauge data where plain avg
    over-weights bursts. lead() over (user, time) then one keyed
    aggregation; microsecond timestamps on both engines. Scale: one
    shuffle on user_id shared by the window and the groupBy (Catalyst
    reuses the partitioning — no second exchange)."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    stepped = ev.select(
        "user_id",
        F.coalesce("value", F.lit(0.0)).alias("v"),
        F.unix_micros("ts").alias("t"),
        F.lead(F.unix_micros("ts")).over(w).alias("t_next"),
    ).filter(F.col("t_next").isNotNull())
    return (
        stepped.withColumn("dt", F.col("t_next") - F.col("t"))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            rnd(F.sum(F.col("v") * F.col("dt")) / F.sum("dt"), 6).alias("twa"),
        )
    )


@query(
    "q_event_funnel",
    oracle="""
    WITH v AS (
      SELECT user_id, min(ts) AS t_view FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ), c AS (
      SELECT e.user_id, min(e.ts) AS t_click
      FROM events e JOIN v ON v.user_id = e.user_id AND e.ts > v.t_view
      WHERE e.event_type = 'click' GROUP BY e.user_id
    ), p AS (
      SELECT e.user_id, min(e.ts) AS t_purchase
      FROM events e JOIN c ON c.user_id = e.user_id AND e.ts > c.t_click
      WHERE e.event_type = 'purchase' GROUP BY e.user_id
    )
    SELECT 'view' AS stage, CAST(count(*) AS BIGINT) AS n_users FROM v
    UNION ALL
    SELECT 'view>click', CAST(count(*) AS BIGINT) FROM c
    UNION ALL
    SELECT 'view>click>purchase', CAST(count(*) AS BIGINT) FROM p
    """,
)
def q_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel: users who viewed, then clicked AFTER
    their first view, then purchased AFTER that first qualifying click
    — the product-analytics staple that a naive per-type count gets
    wrong (order matters; a purchase before any view must not count).
    Each stage is a conditional min-aggregate on user_id followed by a
    time-ordered join to the previous stage; all three joins share the
    user_id partitioning, so the plan is one logical shuffle reused
    across stages plus 3-row final union. Micro-second timestamps both
    sides (strict >)."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    count_of = lambda df, label: df.agg(  # noqa: E731
        F.count(F.lit(1)).cast("bigint").alias("n_users")
    ).select(F.lit(label).alias("stage"), "n_users")
    return (
        count_of(v, "view")
        .unionAll(count_of(c, "view>click"))
        .unionAll(count_of(p, "view>click>purchase"))
    )


@query(
    "q_retention_cohorts",
    oracle="""
    WITH first_seen AS (
      SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
      FROM events GROUP BY user_id
    ), activity AS (
      SELECT DISTINCT e.user_id, f.cohort_week,
             CAST(date_diff('week', f.cohort_week,
                            date_trunc('week', e.ts)) AS BIGINT) AS week_offset
      FROM events e JOIN first_seen f ON f.user_id = e.user_id
    )
    SELECT strftime(cohort_week, '%Y-%m-%d') AS cohort_week,
           week_offset,
           CAST(count(*) AS BIGINT) AS n_active_users
    FROM activity GROUP BY cohort_week, week_offset
    """,
)
def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention cohort matrix: bucket users by the week of their first
    event, then count distinct active users per (cohort, weeks-since-
    cohort) — the standard retention triangle. One aggregate finds each
    user's cohort; the activity join is user_id-keyed (reusing the same
    partitioning); distinct + rollup shuffle on the bounded
    (cohort, offset) key space. Week arithmetic matches DuckDB's
    date_diff('week', ...) by counting whole Monday-aligned week
    boundaries between the two truncated dates."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    first_seen = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    activity = (
        ev.join(first_seen, "user_id")
        .select(
            "user_id",
            "cohort_week",
            (
                F.datediff(F.date_trunc("week", F.col("ts")), F.col("cohort_week"))
                / 7
            )
            .cast("bigint")
            .alias("week_offset"),
        )
        .distinct()
    )
    return activity.groupBy("cohort_week", "week_offset").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_active_users")
    ).select(
        F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week"),
        "week_offset",
        "n_active_users",
    )


@query(
    "q_interval_overlap_join",
    oracle="""
    WITH iv AS (
      SELECT user_id, date_trunc('day', ts) AS d, min(ts) AS s, max(ts) AS e
      FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
    ), pairs AS (
      SELECT a.user_id AS user_a, b.user_id AS user_b,
             date_diff('microsecond', greatest(a.s, b.s), least(a.e, b.e))
               / 1000000.0 AS ol
      FROM iv a JOIN iv b
        ON a.d = b.d AND a.user_id < b.user_id
       AND a.s <= b.e AND b.s <= a.e
    )
    SELECT user_a, user_b, CAST(count(*) AS BIGINT) AS n_days,
           round(sum(ol), 3) AS total_overlap_s
    FROM pairs GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def q_interval_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap self-join (concurrent-activity detection):
    per-user daily purchase-activity intervals [first ts, last ts],
    paired when they overlap in time — the classic temporal join
    (co-presence, conflicting bookings, concurrent sessions).

    Scale: the naive form is a theta join (O(n²) nested loop). The
    distributed shape here is BUCKETIZATION: each interval explodes
    to the hour buckets it spans (bounded — intervals live within one
    day, ≤24 buckets), candidate pairs come from an EQUI-join on the
    bucket, the exact overlap predicate filters within the bucket,
    and a distinct on (pair, day) removes multi-bucket double-hits.
    Every stage is a keyed shuffle — no nested loop at any corpus
    size, skew bounded by activity per bucket. The oracle runs the
    theta form; a hash match proves the bucketed plan loses and
    invents nothing."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    iv = ev.groupBy(
        "user_id", F.date_trunc("day", "ts").alias("d")
    ).agg(F.min("ts").alias("s"), F.max("ts").alias("e"))
    buckets = iv.withColumn(
        "bucket",
        F.explode(
            F.sequence(
                F.date_trunc("hour", "s"),
                F.date_trunc("hour", "e"),
                F.expr("interval 1 hour"),
            )
        ),
    )
    a = buckets.select(
        F.col("user_id").alias("user_a"), F.col("d").alias("da"),
        F.col("s").alias("sa"), F.col("e").alias("ea"), "bucket",
    )
    b = buckets.select(
        F.col("user_id").alias("user_b"), F.col("d").alias("db"),
        F.col("s").alias("sb"), F.col("e").alias("eb"), "bucket",
    )
    pairs = (
        a.join(b, "bucket")
        .filter(
            (F.col("user_a") < F.col("user_b"))
            & (F.col("da") == F.col("db"))
            & (F.col("sa") <= F.col("eb"))
            & (F.col("sb") <= F.col("ea"))
        )
        .select(
            "user_a", "user_b", F.col("da").alias("d"),
            (
                (
                    F.unix_micros(F.least("ea", "eb"))
                    - F.unix_micros(F.greatest("sa", "sb"))
                )
                / F.lit(1000000.0)
            ).alias("ol"),
        )
        .distinct()
    )
    return (
        pairs.groupBy("user_a", "user_b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_days"),
            rnd(F.sum("ol"), 3).alias("total_overlap_s"),
        )
        .orderBy("user_a", "user_b")
    )


@query(
    "q_seasonal_anomaly",
    oracle="""
    WITH base AS (
      SELECT event_type, CAST(hour(ts) AS BIGINT) AS hod, value FROM events
    ), prof AS (
      SELECT event_type, hod, avg(value) AS mu,
             stddev_samp(value) AS sigma, count(*) AS n
      FROM base GROUP BY 1, 2
    )
    SELECT event_type, hod, CAST(n AS BIGINT) AS n,
           round(mu, 4) AS profile_mean,
           round(sigma, 4) AS profile_std,
           CAST(sum(CASE WHEN abs(value - mu) > 3 * sigma
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies
    FROM base JOIN prof USING (event_type, hod)
    GROUP BY event_type, hod, mu, sigma, n
    ORDER BY event_type, hod
    """,
)
def q_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-profile anomaly detection: build an hour-of-day
    baseline (mean/std) per event type, then flag values more than 3
    sigma from THEIR OWN seasonal slot — the profile-based monitor
    that catches a quiet-hour spike a global z-score (q_zscore_outliers)
    averages away.

    Scale: the profile is a keyed agg bounded by types x 24 slots and
    broadcasts back onto the stream of rows (map-side flagging); the
    final rollup reuses the same bounded key. Two passes over the
    corpus, zero corpus-sized shuffles — at 100 TB the profile table
    is still types x 24 rows."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.hour("ts").cast("bigint").alias("hod"), "value"
    )
    prof = ev.groupBy("event_type", "hod").agg(
        F.avg("value").alias("mu"),
        F.stddev_samp("value").alias("sigma"),
        F.count(F.lit(1)).alias("n"),
    )
    return (
        ev.join(F.broadcast(prof), ["event_type", "hod"])
        .groupBy("event_type", "hod", "mu", "sigma", "n")
        .agg(
            F.sum(
                F.when(
                    F.abs(F.col("value") - F.col("mu")) > 3 * F.col("sigma"), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_anomalies")
        )
        .select(
            "event_type", "hod", F.col("n").cast("bigint").alias("n"),
            rnd("mu", 4).alias("profile_mean"),
            rnd("sigma", 4).alias("profile_std"),
            "n_anomalies",
        )
        .orderBy("event_type", "hod")
    )


@query(
    "q_attribution_last_touch",
    oracle="""
    WITH p AS (
      SELECT event_id, user_id, ts, value FROM events
      WHERE event_type = 'purchase'
    ), c AS (
      SELECT user_id, ts AS click_ts FROM events WHERE event_type = 'click'
    ), attributed AS (
      SELECT p.user_id, p.value,
             EXISTS (
               SELECT 1 FROM c
               WHERE c.user_id = p.user_id
                 AND c.click_ts <= p.ts
                 AND c.click_ts >= p.ts - INTERVAL 7 DAY
             ) AS has_touch
      FROM p
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_purchases,
           CAST(sum(CASE WHEN has_touch THEN 1 ELSE 0 END) AS BIGINT)
               AS n_attributed,
           round(sum(CASE WHEN has_touch THEN value ELSE 0 END), 2)
               AS attributed_value,
           round(sum(CASE WHEN has_touch THEN 0 ELSE value END), 2)
               AS organic_value
    FROM attributed GROUP BY user_id ORDER BY user_id
    """,
)
def q_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch marketing attribution: each purchase is attributed
    to the user's most recent click within a 7-day lookback window;
    per-user rollup splits revenue into attributed vs organic. The
    oracle runs the correlated-EXISTS form; the Spark plan is the
    scalable as-of shape — union both event streams once, carry the
    latest click forward per user (asof_join: ONE keyed shuffle, no
    per-purchase range probe, no join explosion on hot users).

    Scale: identical to q_asof_join's cost model — (purchases +
    clicks) shuffle once on user_id; the attribution window is a
    tolerance filter on the carried timestamp; the rollup reuses the
    same user key."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("click_ts")
    )
    joined = asof_join(
        purchases,
        clicks,
        left_on="user_id",
        right_on="user_id",
        left_time="ts",
        right_time="click_ts",
        payload_cols=["click_ts"],
        direction="backward",
        tolerance_seconds=7 * 24 * 3600,
    )
    touched = F.col("click_ts").isNotNull()
    return (
        joined.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_purchases"),
            F.sum(F.when(touched, 1).otherwise(0)).cast("bigint").alias(
                "n_attributed"
            ),
            rnd(F.sum(F.when(touched, F.col("value")).otherwise(0.0)), 2).alias(
                "attributed_value"
            ),
            rnd(F.sum(F.when(touched, F.lit(0.0)).otherwise(F.col("value"))), 2).alias(
                "organic_value"
            ),
        )
        .orderBy("user_id")
    )


@query(
    "q_mad_outliers",
    oracle="""
    WITH m1 AS (
      SELECT event_type, median(value) AS med FROM events GROUP BY 1
    ), m2 AS (
      SELECT e.event_type, median(abs(e.value - m1.med)) AS mad
      FROM events e JOIN m1 USING (event_type) GROUP BY 1
    )
    SELECT e.event_type,
           CAST(count(*) AS BIGINT) AS n,
           round(m1.med, 4) AS med,
           round(m2.mad, 4) AS mad,
           CAST(sum(CASE WHEN abs(e.value - m1.med) > 3 * 1.4826 * m2.mad
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM events e JOIN m1 USING (event_type) JOIN m2 USING (event_type)
    GROUP BY e.event_type, m1.med, m2.mad
    ORDER BY e.event_type
    """,
)
def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection via median absolute deviation: flag
    values beyond 3 scaled MADs (x1.4826 = consistency constant for
    normal data) of their group median. Unlike the mean/std z-score
    (q_zscore_outliers), a single extreme value cannot drag the
    threshold — the estimator every production data-quality monitor
    prefers when the column itself is suspect.

    Scale: two median passes (exact interpolated percentile — at
    100 TB swap percentile_approx, whose rank-error bound
    q_percentile_approx_audit already quantifies) on a keyed agg
    bounded by event types; stats broadcast back for map-side
    flagging."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    m1 = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    m2 = (
        ev.join(m1, "event_type")
        .groupBy("event_type")
        .agg(F.expr("percentile(abs(value - med), 0.5)").alias("mad"))
    )
    return (
        ev.join(m1, "event_type")
        .join(m2, "event_type")
        .groupBy("event_type", "med", "mad")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(
                F.when(
                    F.abs(F.col("value") - F.col("med"))
                    > 3 * 1.4826 * F.col("mad"),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_outliers"),
        )
        .select(
            "event_type", "n", rnd("med", 4).alias("med"),
            rnd("mad", 4).alias("mad"), "n_outliers",
        )
        .orderBy("event_type")
    )


@query(
    "q_cdc_apply",
    oracle="""
    WITH ops AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN event_type = 'signup' THEN 'upsert'
                  WHEN event_type = 'error' THEN 'delete'
                  ELSE 'update' END AS op
      FROM events
      WHERE event_type IN ('signup', 'error', 'purchase')
    ), ranked AS (
      SELECT *, row_number() OVER (PARTITION BY user_id
                                   ORDER BY ts DESC, event_id DESC) AS rn,
             count(*) OVER (PARTITION BY user_id) AS n_ops
      FROM ops
    )
    SELECT user_id, CAST(n_ops AS BIGINT) AS n_ops, op AS last_op,
           round(value, 2) AS final_value
    FROM ranked
    WHERE rn = 1 AND op <> 'delete'
    ORDER BY user_id
    """,
)
def q_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC change-log compaction (last-writer-wins apply): a stream of
    upsert/update/delete operations keyed by entity collapses to the
    final table state — the batch form of what a MERGE-from-Debezium
    pipeline does on every sync (the engine's MERGE statement and the
    streaming foreachBatch sink are the other two forms; this is the
    full-log replay that bootstraps them). Op order is total:
    (ts, event_id) so replays are deterministic; a trailing delete
    removes the key entirely.

    Scale: one keyed shuffle (user_id) for the per-key latest-op
    window — identical cost to any per-entity compaction; at 100 TB
    this runs per partition-of-keys and is exactly how Delta/Hudi
    compact a CDC feed. No joins, no second pass."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("signup", "error", "purchase")
    )
    ops = ev.select(
        "user_id", "ts", "event_id", "value",
        F.when(F.col("event_type") == "signup", "upsert")
        .when(F.col("event_type") == "error", "delete")
        .otherwise("update")
        .alias("op"),
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    cw = Window.partitionBy("user_id")
    return (
        ops.withColumn("rn", F.row_number().over(w))
        .withColumn("n_ops", F.count(F.lit(1)).over(cw))
        .filter((F.col("rn") == 1) & (F.col("op") != "delete"))
        .select(
            "user_id",
            F.col("n_ops").cast("bigint").alias("n_ops"),
            F.col("op").alias("last_op"),
            rnd("value", 2).alias("final_value"),
        )
        .orderBy("user_id")
    )


@query(
    "q_markov_transitions",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_type
      FROM events
    ), pairs AS (
      SELECT event_type AS from_type, next_type AS to_type, count(*) AS c
      FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2
    ), tot AS (
      SELECT from_type, sum(c) AS n FROM pairs GROUP BY 1
    )
    SELECT p.from_type, p.to_type, CAST(p.c AS BIGINT) AS n_transitions,
           round(p.c / CAST(t.n AS DOUBLE), 6) AS p_transition
    FROM pairs p JOIN tot t USING (from_type)
    ORDER BY from_type, to_type
    """,
)
def q_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: P(next event type | current) from the lag-1 structure
    of each user's ordered stream — the clickstream model behind
    next-action prediction, funnel design, and bot detection (bots
    have degenerate transition rows).

    Scale: ONE user-keyed shuffle for the sequence window (the same
    shuffle every per-user operator pays), then counts on the bounded
    types x types key space; row-normalization joins the types-sized
    marginal — broadcast at any corpus size."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).filter(F.col("next_type").isNotNull())
    pairs = seq.groupBy(
        F.col("event_type").alias("from_type"),
        F.col("next_type").alias("to_type"),
    ).agg(F.count(F.lit(1)).alias("c"))
    tot = pairs.groupBy("from_type").agg(F.sum("c").alias("n"))
    return (
        pairs.join(tot, "from_type")
        .select(
            "from_type", "to_type",
            F.col("c").cast("bigint").alias("n_transitions"),
            rnd(F.col("c") / F.col("n").cast("double"), 6).alias("p_transition"),
        )
        .orderBy("from_type", "to_type")
    )


CHURN_CUTOFF = "2024-01-24"


@query(
    "q_churn_features",
    oracle=f"""
    WITH feat AS (
      SELECT user_id,
             CAST(count(*) AS BIGINT) AS n_events_before,
             round(sum(value), 2) AS total_value_before,
             CAST(count(DISTINCT event_type) AS BIGINT) AS n_types_before,
             CAST(date_diff('day', max(ts), TIMESTAMP '{CHURN_CUTOFF}')
                  AS BIGINT) AS days_since_last
      FROM events WHERE ts < TIMESTAMP '{CHURN_CUTOFF}'
      GROUP BY user_id
    ), label AS (
      SELECT DISTINCT user_id, false AS churned FROM events
      WHERE ts >= TIMESTAMP '{CHURN_CUTOFF}'
    )
    SELECT f.user_id, f.n_events_before, f.total_value_before,
           f.n_types_before, f.days_since_last,
           coalesce(l.churned, true) AS churned
    FROM feat f LEFT JOIN label l USING (user_id)
    ORDER BY f.user_id
    """,
)
def q_churn_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time-correct churn dataset construction: features are
    computed ONLY from events before the cutoff date, the label
    (churned = no activity on/after the cutoff) ONLY from events
    after it — the temporal discipline that prevents label leakage,
    the most common silent failure in production ML feature
    pipelines. Users first seen after the cutoff are excluded (no
    feature history).

    Scale: both sides are one user-keyed agg over a date-pruned scan
    (the cutoff predicate pushes to parquet row groups); the
    feature/label join is keyed on user. The same shape at any
    horizon — only the pushed date range changes."""
    ev = load_table(spark, sf_dir, "events")
    cutoff = F.lit(CHURN_CUTOFF).cast("timestamp")
    feat = (
        ev.filter(F.col("ts") < cutoff)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events_before"),
            rnd(F.sum("value"), 2).alias("total_value_before"),
            F.countDistinct("event_type").cast("bigint").alias("n_types_before"),
            F.datediff(cutoff, F.max("ts")).cast("bigint").alias("days_since_last"),
        )
    )
    label = (
        ev.filter(F.col("ts") >= cutoff)
        .select("user_id")
        .distinct()
        .withColumn("churned", F.lit(False))
    )
    return (
        feat.join(label, "user_id", "left")
        .withColumn("churned", F.coalesce(F.col("churned"), F.lit(True)))
        .orderBy("user_id")
    )


@query(
    "q_trend_extraction",
    oracle="""
    WITH daily AS (
      SELECT event_type, date_trunc('day', ts) AS d,
             round(sum(value), 2) AS daily_sum
      FROM events GROUP BY 1, 2
    ), ma AS (
      SELECT event_type, d, daily_sum,
             count(*) OVER w AS win_n,
             avg(daily_sum) OVER w AS trend
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY d
                   ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    )
    SELECT event_type, strftime(d, '%Y-%m-%d') AS day, daily_sum,
           round(trend, 4) AS trend,
           round(daily_sum - trend, 4) AS residual
    FROM ma WHERE win_n = 7
    ORDER BY event_type, day
    """,
)
def q_trend_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trend extraction via centered 7-day moving average (the trend
    pass of an STL-style decomposition): per event type, the daily
    total splits into a smooth trend and a residual; rows without a
    full centered window are excluded so the trend is unbiased at the
    edges. Residuals feed anomaly flags (q_seasonal_anomaly handles
    the intra-day cycle; this handles the day-scale drift).

    Scale: the daily rollup is one keyed agg; the centered window
    runs per event type over the DAYS-sized series (corpus length
    irrelevant) — the heavy lifting happened at the rollup. Exactly
    how a 100 TB metrics pipeline decomposes: aggregate first,
    window the small series."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("d")
    ).agg(rnd(F.sum("value"), 2).alias("daily_sum"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(-3, 3)
    )
    ma = daily.withColumn("win_n", F.count(F.lit(1)).over(w)).withColumn(
        "trend", F.avg("daily_sum").over(w)
    )
    return (
        ma.filter(F.col("win_n") == 7)
        .select(
            "event_type",
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            "daily_sum",
            rnd("trend", 4).alias("trend"),
            rnd(F.col("daily_sum") - F.col("trend"), 4).alias("residual"),
        )
        .orderBy("event_type", "day")
    )


@query(
    "q_boxplot_profile",
    oracle="""
    WITH q AS (
      SELECT event_type,
             quantile_cont(value, 0.25) AS q1,
             median(value) AS med,
             quantile_cont(value, 0.75) AS q3
      FROM events GROUP BY 1
    )
    SELECT e.event_type,
           CAST(count(*) AS BIGINT) AS n,
           round(q.q1, 4) AS q1, round(q.med, 4) AS med,
           round(q.q3, 4) AS q3,
           round(q.q3 - q.q1, 4) AS iqr,
           CAST(sum(CASE WHEN e.value < q.q1 - 1.5 * (q.q3 - q.q1)
                           OR e.value > q.q3 + 1.5 * (q.q3 - q.q1)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_whisker_outliers
    FROM events e JOIN q USING (event_type)
    GROUP BY e.event_type, q.q1, q.med, q.q3
    ORDER BY e.event_type
    """,
)
def q_boxplot_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boxplot profile per group: exact interpolated quartiles, IQR,
    and Tukey-whisker outlier counts (outside 1.5 x IQR) — the
    five-number summary every data-profiling pane draws, and the
    third robustness tier next to z-score (q_zscore_outliers) and MAD
    (q_mad_outliers).

    Scale: one keyed exact-percentile agg (percentile_approx at
    100 TB — its rank-error bound is already audited by
    q_percentile_approx_audit), quartiles broadcast back for the
    map-side outlier flagging pass."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    q = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.25)").alias("q1"),
        F.expr("percentile(value, 0.5)").alias("med"),
        F.expr("percentile(value, 0.75)").alias("q3"),
    )
    iqr = F.col("q3") - F.col("q1")
    out = (F.col("value") < F.col("q1") - 1.5 * iqr) | (
        F.col("value") > F.col("q3") + 1.5 * iqr
    )
    return (
        ev.join(F.broadcast(q), "event_type")
        .groupBy("event_type", "q1", "med", "q3")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.when(out, 1).otherwise(0))
            .cast("bigint")
            .alias("n_whisker_outliers"),
        )
        .select(
            "event_type", "n",
            rnd("q1", 4).alias("q1"), rnd("med", 4).alias("med"),
            rnd("q3", 4).alias("q3"), rnd(iqr, 4).alias("iqr"),
            "n_whisker_outliers",
        )
        .orderBy("event_type")
    )


@query(
    "q_ab_test_analysis",
    oracle="""
    WITH assign AS (
      SELECT event_type, value,
             CASE WHEN user_id % 2 = 0 THEN 'treatment' ELSE 'control' END
               AS arm
      FROM events
    ), stats AS (
      SELECT event_type, arm,
             CAST(count(*) AS DOUBLE) AS n,
             avg(value) AS mu,
             var_samp(value) AS s2
      FROM assign GROUP BY 1, 2
    ), wide AS (
      SELECT t.event_type,
             t.n AS nt, t.mu AS mt, t.s2 AS st,
             c.n AS nc, c.mu AS mc, c.s2 AS sc
      FROM (SELECT * FROM stats WHERE arm = 'treatment') t
      JOIN (SELECT * FROM stats WHERE arm = 'control') c
        USING (event_type)
    )
    SELECT event_type,
           CAST(nt AS BIGINT) AS n_treatment, CAST(nc AS BIGINT) AS n_control,
           round(mt - mc, 6) AS lift,
           round((mt - mc) / sqrt(st / nt + sc / nc), 4) AS welch_t,
           round(pow(st / nt + sc / nc, 2)
                 / (pow(st / nt, 2) / (nt - 1) + pow(sc / nc, 2) / (nc - 1)),
                 2) AS welch_df
    FROM wide ORDER BY event_type
    """,
)
def q_ab_test_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout with Welch's unequal-variance t
    statistic and the Welch–Satterthwaite degrees of freedom — the
    correct two-sample analysis when arm variances differ (they
    always do), per metric. Assignment here is the deterministic
    user-id hash split every experimentation platform uses.

    Scale: one keyed agg per (metric, arm) with map-side combine
    (count/mean/variance are all one-pass); the test statistic is
    arithmetic on the metrics x 2 table. The corpus is read once —
    the same shape at any event volume."""
    ev = load_table(spark, sf_dir, "events")
    assign = ev.select(
        "event_type", "value",
        F.when(F.col("user_id") % 2 == 0, "treatment").otherwise("control").alias("arm"),
    )
    stats = assign.groupBy("event_type", "arm").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.avg("value").alias("mu"),
        F.var_samp("value").alias("s2"),
    )
    t = stats.filter(F.col("arm") == "treatment").select(
        "event_type", F.col("n").alias("nt"), F.col("mu").alias("mt"),
        F.col("s2").alias("st"),
    )
    c = stats.filter(F.col("arm") == "control").select(
        "event_type", F.col("n").alias("nc"), F.col("mu").alias("mc"),
        F.col("s2").alias("sc"),
    )
    se2 = F.col("st") / F.col("nt") + F.col("sc") / F.col("nc")
    return (
        t.join(c, "event_type")
        .select(
            "event_type",
            F.col("nt").cast("bigint").alias("n_treatment"),
            F.col("nc").cast("bigint").alias("n_control"),
            rnd(F.col("mt") - F.col("mc"), 6).alias("lift"),
            rnd((F.col("mt") - F.col("mc")) / F.sqrt(se2), 4).alias("welch_t"),
            rnd(
                F.pow(se2, 2)
                / (
                    F.pow(F.col("st") / F.col("nt"), 2) / (F.col("nt") - 1)
                    + F.pow(F.col("sc") / F.col("nc"), 2) / (F.col("nc") - 1)
                ),
                2,
            ).alias("welch_df"),
        )
        .orderBy("event_type")
    )


@query(
    "q_ks_test",
    oracle="""
    WITH s AS (
      SELECT value,
             CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS g1
      FROM events WHERE event_type = 'purchase'
    ), n AS (
      SELECT CAST(sum(g1) AS DOUBLE) AS n1,
             CAST(sum(1 - g1) AS DOUBLE) AS n2
      FROM s
    ), vals AS (
      SELECT value,
             CAST(sum(g1) AS DOUBLE) AS c1,
             CAST(sum(1 - g1) AS DOUBLE) AS c2
      FROM s GROUP BY value
    ), ecdf AS (
      SELECT sum(c1) OVER (ORDER BY value) AS cum1,
             sum(c2) OVER (ORDER BY value) AS cum2
      FROM vals
    )
    SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
           round(max(abs(cum1 / n1 - cum2 / n2)), 6) AS ks_d,
           round(1.36 * sqrt((n1 + n2) / (n1 * n2)), 6) AS critical_05,
           max(abs(cum1 / n1 - cum2 / n2))
             > 1.36 * sqrt((n1 + n2) / (n1 * n2)) AS reject_null
    FROM ecdf, n
    GROUP BY n1, n2
    """,
)
def q_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov test: the max gap between the
    empirical CDFs of the hash-split arms (purchase values), with the
    alpha=0.05 critical value 1.36*sqrt((n1+n2)/(n1*n2)) — the
    nonparametric companion to q_ab_test_analysis that catches
    distribution changes a mean test misses (variance shifts, tail
    bends).

    Scale: per-distinct-value group counts are one keyed agg; the
    running ECDF uses the two-phase range-partitioned running sum
    (operators.dedup.global_running_sums — no single-task
    Window.orderBy) over the DISTINCT-VALUE table, which is bounded
    by value cardinality, not row count — and at true scale the
    values pre-bin to a fixed grid (the binned-KS variant). The
    cumulated quantities are integer counts in doubles, so the
    two-phase summation is exact. The corpus is read once."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    s = ev.select(
        "value",
        F.when(F.col("user_id") % 2 == 0, 1).otherwise(0).alias("g1"),
    )
    n = s.agg(
        F.sum("g1").cast("double").alias("n1"),
        F.sum(1 - F.col("g1")).cast("double").alias("n2"),
    )
    vals = s.groupBy("value").agg(
        F.sum("g1").cast("double").alias("c1"),
        F.sum(1 - F.col("g1")).cast("double").alias("c2"),
    )
    from sparrow_spark.operators.dedup import global_running_sums

    ecdf = global_running_sums(vals, ["value"], ["c1", "c2"]).select(
        F.col("cum_c1").alias("cum1"), F.col("cum_c2").alias("cum2")
    )
    d = F.max(F.abs(F.col("cum1") / F.col("n1") - F.col("cum2") / F.col("n2")))
    crit = 1.36 * F.sqrt(
        (F.col("n1") + F.col("n2")) / (F.col("n1") * F.col("n2"))
    )
    return (
        ecdf.join(n)
        .groupBy("n1", "n2")
        .agg(
            rnd(d, 6).alias("ks_d"),
            rnd(F.first(crit), 6).alias("critical_05"),
            (d > F.first(crit)).alias("reject_null"),
        )
        .select(
            F.col("n1").cast("bigint").alias("n1"),
            F.col("n2").cast("bigint").alias("n2"),
            "ks_d", "critical_05", "reject_null",
        )
    )


@query(
    "q_cohort_ltv",
    oracle="""
    WITH first_seen AS (
      SELECT user_id, date_trunc('week', min(ts)) AS cohort FROM events
      GROUP BY 1
    ), spend AS (
      SELECT f.cohort, e.user_id,
             date_diff('week', f.cohort, date_trunc('week', e.ts)) AS wk,
             e.value
      FROM events e JOIN first_seen f USING (user_id)
      WHERE e.event_type = 'purchase'
    ), cohort_n AS (
      SELECT cohort, CAST(count(*) AS BIGINT) AS n_users FROM first_seen
      GROUP BY 1
    ), wk_rev AS (
      SELECT cohort, wk, sum(value) AS rev FROM spend GROUP BY 1, 2
    )
    SELECT strftime(w.cohort, '%Y-%m-%d') AS cohort, w.wk, c.n_users,
           round(w.rev, 2) AS week_revenue,
           round(sum(w.rev) OVER (PARTITION BY w.cohort ORDER BY w.wk)
                 / c.n_users, 4) AS cum_ltv_per_user
    FROM wk_rev w JOIN cohort_n c USING (cohort)
    ORDER BY cohort, wk
    """,
)
def q_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curves: users grouped by first-seen week,
    purchase revenue accumulated per weeks-since-signup, normalized
    per cohort member — the LTV trajectory that payback-period and
    acquisition-spend decisions read off. Extends q_retention_cohorts
    (activity) with the revenue dimension.

    Scale: first-seen is one user-keyed agg joined back broadcast-or-
    keyed; weekly revenue is a (cohort, week) keyed agg; the running
    LTV window runs over the bounded cohort x week grid, not the
    event stream."""
    ev = load_table(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort")
    )
    spend = (
        ev.filter(F.col("event_type") == "purchase")
        .join(first_seen, "user_id")
        .select(
            "cohort",
            (
                F.datediff(F.date_trunc("week", "ts"), F.col("cohort")) / 7
            ).cast("bigint").alias("wk"),
            "value",
        )
    )
    cohort_n = first_seen.groupBy("cohort").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users")
    )
    wk_rev = spend.groupBy("cohort", "wk").agg(F.sum("value").alias("rev"))
    w = (
        Window.partitionBy("cohort")
        .orderBy("wk")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        wk_rev.join(cohort_n, "cohort")
        .select(
            F.date_format("cohort", "yyyy-MM-dd").alias("cohort"),
            "wk", "n_users",
            rnd("rev", 2).alias("week_revenue"),
            rnd(F.sum("rev").over(w) / F.col("n_users"), 4).alias(
                "cum_ltv_per_user"
            ),
        )
        .orderBy("cohort", "wk")
    )


@query(
    "q_session_window_native",
    oracle=f"""
    WITH flagged AS (
      SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR date_diff('second', lag(ts) OVER w, ts)
                          > {SESSION_GAP_SECONDS}
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), sessions AS (
      SELECT user_id, ts, value,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW) AS session_id
      FROM flagged
    )
    SELECT user_id,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(max(ts) + INTERVAL {SESSION_GAP_SECONDS} SECOND,
                    '%Y-%m-%d %H:%M:%S') AS session_end,
           count(*) AS n_events,
           round(sum(value), 2) AS total_value
    FROM sessions
    GROUP BY user_id, session_id
    ORDER BY user_id, session_start
    """,
)
def q_session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-session rollup via Spark's NATIVE session_window operator
    (batch form): one groupBy(session_window(ts, gap), user_id) and
    Catalyst's UpdatingSessionsExec does the gap-merge — no lag/
    running-sum window chain (that hand-built twin is q_sessionize;
    keeping both proves the plans agree). Session end is
    last-event-ts + gap, and Spark MERGES an event landing exactly at
    that boundary into the session (verified empirically: two events
    precisely gap apart produce ONE session) — so the oracle flags a
    new session only on a STRICTLY greater gap, the same rule as
    q_sessionize. (First cut used >=; it diverged at sf0.1 where the
    fixture contains one exactly-30:00 pair the sf0.01 driver check
    never sees.)

    Scale: one shuffle on user_id, then sessions merge inside each
    partition in a single pass over ts-sorted rows — strictly fewer
    stages than the lag+cumsum formulation, and the same operator the
    streaming path uses with state."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.session_window("ts", SESSION_GAP_INTERVAL), F.col("user_id")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            rnd(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            "user_id",
            F.date_format("session_window.start", "yyyy-MM-dd HH:mm:ss").alias(
                "session_start"
            ),
            F.date_format("session_window.end", "yyyy-MM-dd HH:mm:ss").alias(
                "session_end"
            ),
            "n_events",
            "total_value",
        )
        .orderBy("user_id", "session_start")
    )


@query(
    "q_sliding_window_rollup",
    oracle="""
    WITH ev AS (
      SELECT ts, value,
             epoch(date_trunc('hour', ts))
             - epoch(date_trunc('hour', ts)) % 10800 AS w_floor
      FROM events WHERE event_type = 'purchase'
    ), expanded AS (
      SELECT value, to_timestamp(w_floor) AS w_start FROM ev
      WHERE epoch(ts) - w_floor < 21600
      UNION ALL
      SELECT value, to_timestamp(w_floor - 10800) AS w_start FROM ev
      WHERE epoch(ts) - (w_floor - 10800) < 21600
    )
    SELECT strftime(w_start, '%Y-%m-%d %H:%M:%S') AS window_start,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 2) AS total_value
    FROM expanded
    GROUP BY w_start
    ORDER BY window_start
    """,
)
def q_sliding_window_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding (hopping) window rollup: purchase volume in 6-hour
    windows advancing every 3 hours, via Spark's native
    F.window(ts, '6 hours', '3 hours') — each event lands in exactly
    TWO overlapping windows, giving dashboards smoother trend lines
    than tumbling buckets (q_time_bucket_rollup is the tumbling twin;
    the streaming path uses the same operator with a watermark). The
    oracle expands each event into its two window starts
    arithmetically.

    Scale: window assignment is map-side arithmetic with a fixed 2x
    fan-out, then one keyed agg on window start."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    return (
        ev.groupBy(F.window("ts", "6 hours", "3 hours").alias("w"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            rnd(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "n_events",
            "total_value",
        )
        .orderBy("window_start")
    )


@query(
    "q_variance_decomposition",
    oracle="""
    WITH daily AS (
      SELECT date_trunc('day', ts) AS d, CAST(count(*) AS DOUBLE) AS x
      FROM events GROUP BY 1
    ), trended AS (
      SELECT d, x,
             avg(x) OVER (ORDER BY d ROWS BETWEEN 3 PRECEDING
                          AND 3 FOLLOWING) AS trend,
             CAST(dayofweek(d) AS INTEGER) AS dow
      FROM daily
    ), seasonal AS (
      SELECT dow, avg(x - trend) AS s FROM trended GROUP BY dow
    ), parts AS (
      SELECT t.x, t.trend, se.s,
             t.x - t.trend - se.s AS resid
      FROM trended t JOIN seasonal se ON se.dow = t.dow
    )
    SELECT CAST(count(*) AS BIGINT) AS n_days,
           round(var_pop(x), 4) AS var_total,
           round(var_pop(trend), 4) AS var_trend,
           round(var_pop(s), 4) AS var_seasonal,
           round(var_pop(resid), 4) AS var_residual,
           round(1 - var_pop(resid) / var_pop(x), 4) AS explained_frac
    FROM parts
    """,
)
def q_variance_decomposition(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Additive decomposition of the daily event-count series into
    trend (centered 7-day MA), day-of-week seasonal means of the
    detrended series, and residual — summarized as a VARIANCE budget:
    how much of the series' movement the structural components
    explain (1 - var(resid)/var(total)). The quantitative follow-up
    to q_trend_extraction (which emits the components) and
    q_acf_daily (which detects the weekly cycle this decomposition
    removes).

    Scale: everything after the daily rollup runs on the bounded
    daily series (one centered window + a 7-key seasonal agg)."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.date_trunc("day", "ts").alias("d")).agg(
        F.count(F.lit(1)).cast("double").alias("x")
    )
    wma = Window.orderBy("d").rowsBetween(-3, 3)
    trended = daily.select(
        "d",
        "x",
        F.avg("x").over(wma).alias("trend"),
        F.dayofweek("d").alias("dow"),
    )
    seasonal = trended.groupBy("dow").agg(
        F.avg(F.col("x") - F.col("trend")).alias("s")
    )
    parts = trended.join(seasonal, "dow").select(
        "x",
        "trend",
        "s",
        (F.col("x") - F.col("trend") - F.col("s")).alias("resid"),
    )
    return parts.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        rnd(F.var_pop("x"), 4).alias("var_total"),
        rnd(F.var_pop("trend"), 4).alias("var_trend"),
        rnd(F.var_pop("s"), 4).alias("var_seasonal"),
        rnd(F.var_pop("resid"), 4).alias("var_residual"),
        rnd(1 - F.var_pop("resid") / F.var_pop("x"), 4).alias(
            "explained_frac"
        ),
    )


# --------------------------------------------------------------------------
# Seasonality/trend strength (r9, Hyndman's STL F-statistics). The
# decomposition family (q_trend_extraction, q_seasonal_anomaly)
# produces components; forecasting pipelines need the SCALAR health
# check "how much structure is there": F_seasonal = max(0, 1 -
# var(remainder)/var(detrended)) and F_trend = max(0, 1 -
# var(remainder)/var(deseasonalized)), both per series. Same centered
# 7-day MA trend and day-of-week seasonal means as the existing
# decomposition, with the dayofweek offset pinned (Spark 1=Sun..7 vs
# DuckDB 0=Sun..6 — the known cross-engine trap).
# --------------------------------------------------------------------------
@query(
    "q_seasonality_strength",
    oracle="""
    WITH daily AS (
      SELECT event_type, date_trunc('day', ts) AS d,
             round(sum(value), 2) AS x
      FROM events GROUP BY 1, 2
    ), ma AS (
      SELECT event_type, d, x,
             count(*) OVER w AS win_n,
             avg(x) OVER w AS trend,
             dayofweek(d) AS dow
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY d
                   ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ), det AS (
      SELECT event_type, d, dow, x, trend, x - trend AS detrended
      FROM ma WHERE win_n = 7
    ), seas AS (
      SELECT event_type, dow, avg(detrended) AS s
      FROM det GROUP BY 1, 2
    ), comp AS (
      SELECT t.event_type, t.detrended, t.x - s.s AS deseasonalized,
             t.detrended - s.s AS remainder
      FROM det t JOIN seas s
        ON s.event_type = t.event_type AND s.dow = t.dow
    )
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
           round(greatest(0.0, 1.0 - var_pop(remainder)
                                / var_pop(detrended)), 4) AS f_seasonal,
           round(greatest(0.0, 1.0 - var_pop(remainder)
                                / var_pop(deseasonalized)), 4) AS f_trend
    FROM comp GROUP BY 1 ORDER BY 1
    """,
)
def q_seasonality_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyndman-style strength-of-seasonality and strength-of-trend
    statistics per event-type series: decompose the daily total into
    a centered 7-day MA trend, day-of-week seasonal means of the
    detrended series, and a remainder, then compare remainder
    variance against the detrended (seasonal strength) and
    deseasonalized (trend strength) variances, clamped at 0.

    Scale: one keyed daily rollup, one bounded window per series,
    one 7-row-per-series seasonal table joined back broadcast-sized
    — series-length state only, the q_trend_extraction discipline
    with two variance aggregates on top."""
    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type", F.date_trunc("day", "ts").alias("d"))
        .agg(F.round(F.sum("value"), 2).alias("x"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(-3, 3)
    )
    det = (
        daily.withColumn("win_n", F.count(F.lit(1)).over(w))
        .withColumn("trend", F.avg("x").over(w))
        .withColumn("dow", F.dayofweek("d") - 1)
        .filter(F.col("win_n") == 7)
        .withColumn("detrended", F.col("x") - F.col("trend"))
    )
    seas = det.groupBy("event_type", "dow").agg(
        F.avg("detrended").alias("s")
    )
    comp = det.join(seas, ["event_type", "dow"]).select(
        "event_type",
        "detrended",
        (F.col("x") - F.col("s")).alias("deseasonalized"),
        (F.col("detrended") - F.col("s")).alias("remainder"),
    )
    return (
        comp.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_days"),
            rnd(
                F.greatest(
                    F.lit(0.0),
                    1.0 - F.var_pop("remainder") / F.var_pop("detrended"),
                ),
                4,
            ).alias("f_seasonal"),
            rnd(
                F.greatest(
                    F.lit(0.0),
                    1.0
                    - F.var_pop("remainder") / F.var_pop("deseasonalized"),
                ),
                4,
            ).alias("f_trend"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Time-spine gap filling with linear interpolation (r9). Every
# metrics store eventually needs the missing days materialized — a
# sparse series joined to a generated date spine, holes filled by
# interpolating between the bracketing observations. The carry-
# forward/carry-backward scan is last_value/first_value IGNORE NULLS
# over the spine (one bounded window, no recursion); interpolation is
# exact arithmetic on the two bracketing values.
# --------------------------------------------------------------------------
@query(
    "q_gap_fill_interpolate",
    oracle="""
    WITH sparse AS (
      SELECT date_trunc('day', ts) AS d, round(sum(value), 2) AS x
      FROM events
      WHERE event_type = 'purchase' AND user_id % 97 = 0
      GROUP BY 1
    ), bounds AS (
      SELECT min(d) AS lo, max(d) AS hi FROM sparse
    ), spine AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS d
      FROM bounds
    ), joined AS (
      SELECT s.d, sp.x FROM spine s LEFT JOIN sparse sp ON sp.d = s.d
    ), ctx AS (
      SELECT d, x,
             last_value(x IGNORE NULLS)
               OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW) AS prev_x,
             last_value(CASE WHEN x IS NOT NULL THEN d END IGNORE NULLS)
               OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW) AS prev_d,
             first_value(x IGNORE NULLS)
               OVER (ORDER BY d ROWS BETWEEN CURRENT ROW
                     AND UNBOUNDED FOLLOWING) AS next_x,
             first_value(CASE WHEN x IS NOT NULL THEN d END IGNORE NULLS)
               OVER (ORDER BY d ROWS BETWEEN CURRENT ROW
                     AND UNBOUNDED FOLLOWING) AS next_d
      FROM joined
    )
    SELECT strftime(d, '%Y-%m-%d') AS day,
           x IS NOT NULL AS observed,
           round(CASE WHEN x IS NOT NULL THEN x
                      ELSE prev_x + (next_x - prev_x)
                           * datediff('day', prev_d, d)
                           / datediff('day', prev_d, next_d) END,
                 4) AS value_filled
    FROM ctx ORDER BY d
    """,
)
def q_gap_fill_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-fill the sparse daily revenue of a rare user cohort onto a
    complete date spine: observed days pass through, missing days get
    the linear interpolation between the bracketing observations
    (carry-forward + carry-backward via IGNORE NULLS windows).

    Scale: the sparse series is one filtered keyed agg (predicate
    pushed to the scan); the spine generates from the two-value
    bounds row; both IGNORE NULLS scans are windows over the
    spine-length series — at scale the spine partitions by
    (series_id) and each series stays a bounded partition, the
    standard metrics-store layout."""
    sparse = (
        load_table(spark, sf_dir, "events")
        .filter(
            (F.col("event_type") == "purchase")
            & (F.col("user_id") % 97 == 0)
        )
        .groupBy(F.date_trunc("day", "ts").alias("d"))
        .agg(F.round(F.sum("value"), 2).alias("x"))
    )
    bounds = sparse.agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
    spine = bounds.select(
        F.explode(
            F.sequence("lo", "hi", F.expr("INTERVAL 1 DAY"))
        ).alias("d")
    )
    joined = spine.join(sparse, "d", "left")
    wp = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    wn = Window.orderBy("d").rowsBetween(0, Window.unboundedFollowing)
    ctx = (
        joined.withColumn("prev_x", F.last("x", ignorenulls=True).over(wp))
        .withColumn(
            "prev_d",
            F.last(
                F.when(F.col("x").isNotNull(), F.col("d")), ignorenulls=True
            ).over(wp),
        )
        .withColumn("next_x", F.first("x", ignorenulls=True).over(wn))
        .withColumn(
            "next_d",
            F.first(
                F.when(F.col("x").isNotNull(), F.col("d")), ignorenulls=True
            ).over(wn),
        )
    )
    interp = F.col("prev_x") + (F.col("next_x") - F.col("prev_x")) * F.datediff(
        "d", "prev_d"
    ) / F.datediff("next_d", "prev_d")
    return ctx.select(
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        F.col("x").isNotNull().alias("observed"),
        rnd(
            F.when(F.col("x").isNotNull(), F.col("x")).otherwise(interp), 4
        ).alias("value_filled"),
    ).orderBy("day")
