"""Fixture timestamp-encoding contract: the driver's generator has
shipped events.ts as parquet TIMESTAMP(NANOS) (rounds 1-3) and as
TIMESTAMP(MICROS) isAdjustedToUTC=false (round 4+). Any of the three
plausible encodings — nanos, micros-NTZ, micros-UTC — must load to the
identical TimestampType column with identical values, in both the batch
path (sources.load_table) and the streaming source
(streaming.ingest.read_events_stream), whether the table is one parquet
file or a directory of part files. This contract has silently
changed twice; this test makes the next change a loud local failure
instead of a driver surprise.
"""

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pyspark.sql import functions as F

from sparrow_spark.sources.tables import load_table
from sparrow_spark.streaming.ingest import read_events_stream, run_to_memory

# Epoch micros with sub-second parts — sub-second loss would be silent
# with second-granularity test data.
US = [1704067200_000001, 1704070801_500000, 1704074402_999999]

ENCODINGS = {
    "nanos": pa.timestamp("ns"),
    "micros_ntz": pa.timestamp("us"),
    "micros_utc": pa.timestamp("us", tz="UTC"),
}


# (encoding, layout) pairs; the single-file case keeps the bare
# encoding as its test id.
CASES = [pytest.param(e, "file", id=e) for e in ENCODINGS] + [
    pytest.param(e, "dir", id=f"{e}-dir") for e in ENCODINGS
]


def _write_events(path: str, ts_type: pa.DataType, layout: str) -> None:
    """Write the three events rows at `path`: one parquet file, or a
    directory of two part files."""
    unit_scale = {"ns": 1000, "us": 1, "ms": None}[ts_type.unit]
    ts = pa.array([u * unit_scale for u in US], type=pa.int64()).cast(ts_type)
    table = pa.table(
        {
            "event_id": pa.array([1, 2, 3], type=pa.int64()),
            "ts": ts,
            "user_id": pa.array([10, 10, 20], type=pa.int64()),
            "event_type": pa.array(["click", "view", "click"]),
            "value": pa.array([1.5, 2.5, 3.5], type=pa.float64()),
            "props": pa.array(["{}", "{}", "{}"]),
        }
    )
    # version 2.6 keeps nanos as TIMESTAMP(NANOS) instead of coercing.
    if layout == "file":
        pq.write_table(table, path, version="2.6")
        return
    os.mkdir(path)
    for i, part in enumerate([table.slice(0, 2), table.slice(2)]):
        pq.write_table(part, os.path.join(path, f"part-{i}.parquet"), version="2.6")


@pytest.mark.parametrize("enc, layout", CASES)
def test_load_table_normalizes_all_encodings(spark, tmp_path, enc, layout):
    d = tmp_path / enc
    d.mkdir()
    _write_events(str(d / "events.parquet"), ENCODINGS[enc], layout)
    df = load_table(spark, str(d), "events")
    assert dict(df.dtypes)["ts"] == "timestamp", df.dtypes
    got = sorted(
        r.us for r in df.select(F.unix_micros("ts").alias("us")).collect()
    )
    assert got == US, (enc, layout, got)


@pytest.mark.parametrize("enc, layout", CASES)
def test_events_stream_normalizes_all_encodings(spark, tmp_path, enc, layout):
    d = tmp_path / enc
    d.mkdir()
    path = str(d / "events.parquet")
    _write_events(path, ENCODINGS[enc], layout)
    stream = read_events_stream(spark, path).select(
        "event_id", F.unix_micros("ts").alias("us")
    )
    name = f"ts_enc_{enc}_{layout}"
    run_to_memory(stream, name)
    got = sorted(r.us for r in spark.table(name).collect())
    assert got == US, (enc, layout, got)
