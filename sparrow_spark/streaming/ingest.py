"""Structured Streaming ingestion and stateful operators over the
events stream. The reference is batch-only (SURVEY §2.2: "Streaming —
absent entirely"); this module is the beyond-reference extension, built
on readStream → transform → writeStream with watermarks for late data.

Each streaming transform has a batch twin in plans/timeseries.py
(time-bucket rollup ↔ windowed counts; sessionize ↔ session_window),
and the tests assert stream(availableNow) == batch on the same data —
the standard way to validate streaming logic without a live source.

Scale notes: file/Kafka sources shard across executors; the watermark
bounds state size (late rows beyond it are dropped); session_window
state is per key and evicted on window close.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sparrow_spark.sources.tables import fixture_schema, load_table
from sparrow_spark.streaming.constants import (
    ATTRIBUTION_INTERVAL,
    SESSION_GAP_INTERVAL,
    SESSION_GAP_US,
    WATERMARK_INTERVAL,
    WATERMARK_MS,
    drain_shuffle,
    stream_scratch_dir,
)


def read_events_stream(spark: SparkSession, path: str) -> DataFrame:
    """File-source stream over events parquet (a file or a directory),
    read with the schema and timestamp conversions of
    sources.tables.fixture_schema, so `ts` is TimestampType (LTZ)
    whatever encoding the fixture carries."""
    schema, fixes = fixture_schema(spark, path)
    if os.path.isfile(path):
        # The file source requires a directory; expose a single-file
        # fixture through a symlink dir (read-only, nothing copied).
        d = tempfile.mkdtemp(prefix="events-stream-")
        os.symlink(os.path.abspath(path), os.path.join(d, os.path.basename(path)))
        path = d
    return spark.readStream.schema(schema).parquet(path).withColumns(fixes)


def windowed_event_counts(
    events: DataFrame, window: str = "1 hour", watermark: str = WATERMARK_INTERVAL
) -> DataFrame:
    """Per-(window, event_type) counts with late-data watermark — the
    streaming twin of q_time_bucket_rollup."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value") + F.lit(1e-9), 2).alias("sum_value"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("bucket"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sessionized_counts(
    events: DataFrame,
    gap: str = SESSION_GAP_INTERVAL,
    watermark: str = WATERMARK_INTERVAL,
) -> DataFrame:
    """Per-user session windows with a 30-minute inactivity gap — the
    streaming twin of q_sessionize (which computes the same sessions
    with lag + running sum in batch)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("sw"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
    )


def run_to_memory(stream_df: DataFrame, name: str, output_mode: str = "append"):
    """Drain a bounded stream into an in-memory table (availableNow
    trigger) and return the finished query. Used by tests; production
    sinks are parquet/Delta/Kafka via the same writeStream API.

    r16: the drain runs at DRAIN_SHUFFLE_PARTITIONS (state partition
    count sized to drain state volume, not the batch session default)
    and checkpoints into the RAM-backed scratch root — without an
    explicit location the memory sink checkpoints under java.io.tmpdir
    on the fsync-slow root volume. See streaming/constants.py for the
    profiling evidence and the production knobs."""
    spark = stream_df.sparkSession
    ckpt = stream_scratch_dir(f"ckpt_{name}_")
    atexit.register(shutil.rmtree, ckpt, ignore_errors=True)
    with drain_shuffle(spark):
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(120):
            q.stop()
            raise TimeoutError(f"stream '{name}' did not finish within 120s")
    return q


# --------------------------------------------------------------------------
# Driver-contract entries: bounded drains of the streaming operators.
# The windowed rollup is SQL-expressible on the bounded fixture, so it
# gets a full DuckDB oracle; the stateful sessionizer emits only
# watermark-closed sessions (inherently non-SQL), so it registers as a
# rows-only check.
# --------------------------------------------------------------------------
from sparrow_spark.registry import query  # noqa: E402
from sparrow_spark.rounding import rnd  # noqa: E402


@query(
    "q_stream_window_rollup",
    oracle="""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS bucket,
           event_type,
           count(*) AS n_events,
           round(sum(value), 2) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def q_stream_window_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming hourly rollup drained bounded (availableNow, complete
    mode) — must equal the batch aggregation of the same data."""
    import uuid

    name = f"strm_rollup_{uuid.uuid4().hex[:8]}"
    stream = windowed_event_counts(
        read_events_stream(spark, os.path.join(sf_dir, "events.parquet"))
    )
    run_to_memory(stream, name, output_mode="complete")
    return spark.table(name)


@query(
    "q_stream_sessionize_stateful",
    # The bounded drain (single-file fixture -> one data microbatch,
    # then one no-data batch that advances the watermark) emits (a) the
    # sessions closed by a later in-stream event and (b) each user's
    # final session IF its event-time timeout (end = last_ts + gap, ms
    # floor) is strictly below the final watermark (global max ts - 2 h,
    # ms floor) — Spark fires timeouts with timeoutTimestamp <
    # watermark. Both sets ARE SQL-expressible: gap-sessionize per user,
    # keep non-last sessions plus timed-out last ones. Gaps compare in
    # MICROSECONDS (the Python state machine compares epoch-us;
    # second-truncated diffs diverge on sub-second gaps at 1800 s).
    oracle=f"""
    WITH flagged AS (
      SELECT user_id, event_id, ts, coalesce(value, 0.0) AS value,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > {SESSION_GAP_US}
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
      SELECT user_id, ts, value,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW) AS session_id
      FROM flagged
    ), agg AS (
      SELECT user_id, session_id,
             epoch_us(min(ts)) AS session_start_us,
             epoch_us(max(ts)) + {SESSION_GAP_US} AS session_end_us,
             count(*) AS n_events,
             round(sum(value), 2) AS sum_value
      FROM sessions
      GROUP BY user_id, session_id
    )
    SELECT user_id, session_start_us, session_end_us, n_events, sum_value
    FROM (
      SELECT *, max(session_id) OVER (PARTITION BY user_id) AS max_sid,
             (SELECT max(epoch_us(ts)) FROM events) AS max_us
      FROM agg
    ) WHERE session_id < max_sid
       OR session_end_us // 1000 < max_us // 1000 - {WATERMARK_MS}
    """,
)
def q_stream_sessionize_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandasWithState sessionizer drained bounded. Emits the
    sessions closed by a later event in-stream (each user's last open
    session stays in state when the bounded drain ends — matching real
    streaming semantics, where open sessions haven't emitted yet).
    Timestamps surface as epoch microseconds and sum_value is rounded
    tie-stably so the DuckDB oracle can hash-match the drained rows."""
    import uuid

    from sparrow_spark.rounding import rnd
    from sparrow_spark.streaming.stateful import stateful_sessionize

    name = f"strm_sess_{uuid.uuid4().hex[:8]}"
    stream = stateful_sessionize(
        read_events_stream(spark, os.path.join(sf_dir, "events.parquet"))
    )
    run_to_memory(stream, name, output_mode="append")
    return spark.table(name).select(
        "user_id",
        F.unix_micros("session_start").alias("session_start_us"),
        F.unix_micros("session_end").alias("session_end_us"),
        "n_events",
        rnd(F.col("sum_value"), 2).alias("sum_value"),
    )


@query(
    "q_stream_dedup",
    oracle="""
    SELECT DISTINCT user_id, event_type FROM events
    """,
)
def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup (dropDuplicatesWithinWatermark) drained
    bounded on a coarse key with real duplicates. The registered output
    projects only the key columns: WHICH row survives per key is
    arrival-order dependent (legitimate streaming semantics), but the
    kept KEY SET equals batch DISTINCT — that is the oracle-checkable
    invariant."""
    import uuid

    from sparrow_spark.streaming.stateful import stream_dedup

    name = f"strm_dedup_{uuid.uuid4().hex[:8]}"
    events = read_events_stream(spark, os.path.join(sf_dir, "events.parquet"))
    deduped = stream_dedup(events, keys=["user_id", "event_type"])
    run_to_memory(deduped.select("user_id", "event_type"), name)
    return spark.table(name)


def enriched_event_stream(
    events: DataFrame, dim: DataFrame, on: str = "event_type"
) -> DataFrame:
    """Stream-static join: enrich the event stream with a (small) static
    dimension. Spark broadcasts the static side into every microbatch —
    no stream state, no shuffle of the stream. The standard pattern for
    attaching slowly-changing reference data to a 100 TB/day stream."""
    return events.join(F.broadcast(dim), on=on, how="left")


def click_purchase_join(
    events: DataFrame,
    attribution: str = ATTRIBUTION_INTERVAL,
    watermark: str = WATERMARK_INTERVAL,
) -> DataFrame:
    """Stream-stream inner join: attribute each purchase to the same
    user's clicks within the preceding hour. Both sides carry watermarks
    and the join has a time-range condition, so Spark bounds the
    buffered state on each side (rows older than watermark+range are
    evicted) — the canonical scalable shape for stream-stream joins;
    an unbounded-condition join would grow state forever at 100 TB/day.
    Timestamps compare as epoch MICROSECONDS (fixture events carry
    sub-second parts; second-truncated comparisons diverge at sf0.1)."""
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", watermark)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    return clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr(f"INTERVAL {attribution}")),
        "inner",
    ).select(
        "user_id",
        "click_id",
        "purchase_id",
        F.unix_micros("click_ts").alias("click_us"),
        F.unix_micros("purchase_ts").alias("purchase_us"),
    )


@query(
    "q_stream_stream_join",
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
def q_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream join drained bounded (availableNow) —
    must equal the batch time-range join of the same data."""
    import uuid

    name = f"strm_ssj_{uuid.uuid4().hex[:8]}"
    stream = click_purchase_join(
        read_events_stream(spark, os.path.join(sf_dir, "events.parquet"))
    )
    run_to_memory(stream, name, output_mode="append")
    return spark.table(name)


# --------------------------------------------------------------------------
# Streaming drift monitor: per-window PSI of the value distribution
# --------------------------------------------------------------------------

DRIFT_BIN_EDGES = (40.0, 80.0, 120.0, 160.0)  # fixed, data-independent


def _value_bin(col: F.Column) -> F.Column:  # type: ignore[name-defined]
    e = DRIFT_BIN_EDGES
    return (
        F.when(col < e[0], 0)
        .when(col < e[1], 1)
        .when(col < e[2], 2)
        .when(col < e[3], 3)
        .otherwise(4)
    )


_DRIFT_BIN_SQL = """CASE WHEN value < 40.0 THEN 0
         WHEN value < 80.0 THEN 1
         WHEN value < 120.0 THEN 2
         WHEN value < 160.0 THEN 3
         ELSE 4 END"""


def windowed_value_bins(
    events: DataFrame, window: str = "1 hour", watermark: str = WATERMARK_INTERVAL
) -> DataFrame:
    """Streaming per-(window, value-bin) counts — the stateful half of
    the drift monitor. State is windows x 5 bins of counters, evicted
    by the watermark; the raw value distribution never accumulates."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), _value_bin(F.col("value")).alias("bin"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("bucket"),
            "bin",
            "cnt",
        )
    )


@query(
    "q_stream_drift_monitor",
    oracle=f"""
    WITH binned AS (
      SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS bucket,
             {_DRIFT_BIN_SQL} AS bin
      FROM events
    ), base AS (
      SELECT bin, CAST(count(*) AS DOUBLE) AS bcnt FROM binned GROUP BY bin
    ), basep AS (
      SELECT bin, (bcnt + 0.5) / ((SELECT sum(bcnt) FROM base) + 2.5) AS pb
      FROM base
    ), wcnt AS (
      SELECT bucket, bin, CAST(count(*) AS DOUBLE) AS cnt
      FROM binned GROUP BY bucket, bin
    ), wn AS (
      SELECT bucket, sum(cnt) AS n FROM wcnt GROUP BY bucket
    ), grid AS (
      SELECT w.bucket, b.bin, b.pb, coalesce(c.cnt, 0.0) AS cnt, wn.n
      FROM (SELECT DISTINCT bucket FROM wcnt) w
      CROSS JOIN basep b
      LEFT JOIN wcnt c ON c.bucket = w.bucket AND c.bin = b.bin
      JOIN wn ON wn.bucket = w.bucket
    )
    SELECT bucket,
           CAST(max(n) AS BIGINT) AS n_events,
           round(sum(((cnt + 0.5) / (n + 2.5) - pb)
                     * ln(((cnt + 0.5) / (n + 2.5)) / pb)), 4) AS psi
    FROM grid GROUP BY bucket
    """,
)
def q_stream_drift_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming distribution-drift monitor: every event-time hour's
    `value` histogram (5 fixed bins) is compared to the corpus baseline
    via the Population Stability Index — the alert a training-data
    ingest pipeline fires when a crawl batch stops looking like the
    corpus it is joining (q_embedding_drift is the batch/embedding
    twin; this is the streaming/scalar one).

    Split of labor, and why it scales: the STREAM maintains only
    per-(window, bin) counters (watermark-evicted, 5 counters per
    window — state does not grow with event volume); the PSI assembly
    over the drained counters joins a 5-row broadcast baseline and
    aggregates windows x 5 rows — sink-side work a production job runs
    per micro-batch on the counter deltas. Laplace smoothing (+0.5 per
    bin) keeps empty bins finite, and bin edges are FIXED so drift is
    measured against a stable ruler (re-deriving quantile edges per
    window would hide exactly the shift being monitored)."""
    import uuid

    name = f"strm_drift_{uuid.uuid4().hex[:8]}"
    path = os.path.join(sf_dir, "events.parquet")
    stream = windowed_value_bins(read_events_stream(spark, path))
    run_to_memory(stream, name, output_mode="complete")
    wcnt = spark.table(name).withColumn("cnt", F.col("cnt").cast("double"))

    # Baseline: corpus-wide bin distribution (5 rows, broadcast).
    base = (
        load_table(spark, sf_dir, "events")
        .select(_value_bin(F.col("value")).alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).cast("double").alias("bcnt"))
    )
    tot = base.agg(F.sum("bcnt").alias("btot"))
    basep = base.crossJoin(F.broadcast(tot)).select(
        "bin", ((F.col("bcnt") + 0.5) / (F.col("btot") + 2.5)).alias("pb")
    )
    wn = wcnt.groupBy("bucket").agg(F.sum("cnt").alias("n")).select(
        F.col("bucket").alias("nb"), "n"
    )
    cells = wcnt.select(
        F.col("bucket").alias("cb"), F.col("bin").alias("cbin"), "cnt"
    )
    grid = (
        wcnt.select(F.col("bucket").alias("gb")).distinct()
        .crossJoin(F.broadcast(basep))
        .join(
            cells,
            (F.col("gb") == F.col("cb")) & (F.col("bin") == F.col("cbin")),
            "left",
        )
        .withColumn("cnt", F.coalesce(F.col("cnt"), F.lit(0.0)))
        .join(F.broadcast(wn), F.col("gb") == F.col("nb"))
    )
    p_w = (F.col("cnt") + 0.5) / (F.col("n") + 2.5)
    return grid.groupBy("gb").agg(
        F.max("n").cast("bigint").alias("n_events"),
        rnd(F.sum((p_w - F.col("pb")) * F.log(p_w / F.col("pb"))), 4).alias("psi"),
    ).select(F.col("gb").alias("bucket"), "n_events", "psi")


@query(
    "q_stream_topk_trending",
    oracle="""
    WITH b AS (
      SELECT to_timestamp(epoch_us(ts) // 21600000000 * 21600) AS ws,
             event_type,
             CAST(count(*) AS BIGINT) AS n_events,
             round(sum(value), 2) AS sum_value
      FROM events GROUP BY 1, 2
    ), r AS (
      SELECT *, row_number() OVER (PARTITION BY ws
                                   ORDER BY n_events DESC, event_type) AS rk
      FROM b
    )
    SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS bucket, event_type,
           n_events, sum_value, CAST(rk AS BIGINT) AS rk
    FROM r WHERE rk <= 3
    ORDER BY bucket, rk
    """,
)
def q_stream_topk_trending(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming trending top-k: 6-hour watermarked windows aggregate
    per event type in-stream (complete mode, bounded availableNow
    drain), then the drained state ranks top-3 types per window — the
    dashboard "what's trending" shape. Ranking happens POST-drain on
    the window-state table (windows x types rows), exactly where a
    production job would rank (inside foreachBatch or on the sink
    table): windowed rank is not an incremental streaming operator,
    and state stays bounded by the watermark either way.

    The drain equals the batch aggregation of the bounded fixture, so
    the DuckDB oracle recomputes windows + rank from raw events."""
    import uuid

    name = f"strm_trend_{uuid.uuid4().hex[:8]}"
    ev = read_events_stream(spark, os.path.join(sf_dir, "events.parquet"))
    agg = (
        ev.withWatermark("ts", WATERMARK_INTERVAL)
        .groupBy(F.window("ts", "6 hours").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value") + F.lit(1e-9), 2).alias("sum_value"),
        )
    )
    run_to_memory(agg, name, output_mode="complete")
    from pyspark.sql import Window as W

    t = spark.table(name)
    rw = W.partitionBy("w").orderBy(F.col("n_events").desc(), "event_type")
    return (
        t.withColumn("rk", F.row_number().over(rw))
        .filter(F.col("rk") <= 3)
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("bucket"),
            "event_type",
            F.col("n_events").cast("bigint").alias("n_events"),
            "sum_value",
            F.col("rk").cast("bigint").alias("rk"),
        )
        .orderBy("bucket", "rk")
    )


# --------------------------------------------------------------------------
# Watermarked stream-stream LEFT OUTER join (r9). The inner join
# (q_stream_stream_join) silently drops clicks that never convert;
# the outer variant is the harder stateful feature — Spark holds each
# unmatched left row in state until the watermark proves no match can
# still arrive, THEN emits it null-padded. Both sides watermarked +
# a time-range join condition are mandatory (Spark rejects an
# unbounded outer stream-stream join), which is exactly what bounds
# state at 100 TB/day. Null-padded rows emit only once the final
# watermark (min of both sides' max event time minus the 2h delay)
# passes the click's 1h match window — clicks in the stream's last
# three hours are held in state forever, and the oracle models that
# hold-back explicitly.
# --------------------------------------------------------------------------
def click_purchase_outer_join(
    events: DataFrame,
    attribution: str = ATTRIBUTION_INTERVAL,
    watermark: str = WATERMARK_INTERVAL,
) -> DataFrame:
    """Left-outer stream-stream join: every click, with its same-user
    purchases in the following hour, or nulls if none ever arrives
    within the watermark bound."""
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", watermark)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    return clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts") + F.expr(f"INTERVAL {attribution}")
        ),
        "leftOuter",
    ).select(
        "user_id",
        "click_id",
        "purchase_id",
        F.unix_micros("click_ts").alias("click_us"),
        F.unix_micros("purchase_ts").alias("purchase_us"),
        F.col("purchase_id").isNotNull().alias("converted"),
    )


@query(
    "q_stream_outer_join",
    oracle="""
    WITH wm AS (
      SELECT least(
               (SELECT max(ts) FROM events WHERE event_type = 'click'),
               (SELECT max(ts) FROM events WHERE event_type = 'purchase')
             ) - INTERVAL 2 HOUR AS w
    )
    SELECT c.user_id,
           c.event_id AS click_id,
           p.event_id AS purchase_id,
           epoch_us(c.ts) AS click_us,
           epoch_us(p.ts) AS purchase_us,
           p.event_id IS NOT NULL AS converted
    FROM events c
    LEFT JOIN events p
      ON c.user_id = p.user_id
     AND p.event_type = 'purchase'
     AND p.ts >= c.ts
     AND p.ts <= c.ts + INTERVAL 1 HOUR
    WHERE c.event_type = 'click'
      AND (p.event_id IS NOT NULL
           OR c.ts + INTERVAL 1 HOUR < (SELECT w FROM wm))
    """,
)
def q_stream_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked left-outer stream-stream join drained bounded
    (availableNow) — must equal the batch left time-range join:
    matched clicks appear with every attributed purchase;
    never-converted clicks appear exactly once, null-padded, iff the
    final watermark proves no match can still arrive (the stream's
    last watermark+attribution tail stays in state — modeled in the
    oracle's wm CTE)."""
    import uuid

    name = f"strm_soj_{uuid.uuid4().hex[:8]}"
    stream = click_purchase_outer_join(
        read_events_stream(spark, os.path.join(sf_dir, "events.parquet"))
    )
    run_to_memory(stream, name, output_mode="append")
    return spark.table(name)
