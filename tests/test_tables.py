"""Loader robustness: the events ``ts`` column must come out as session-zoned
TIMESTAMP no matter which physical parquet type the (driver-regenerated)
testdata carries.  Round 2 shipped with exactly this failure mode: the driver
switched events.parquet from TIMESTAMP(NANOS) to plain ``timestamp[us]``
(→ TIMESTAMP_NTZ in Spark 4) and every downstream ``unix_micros``/
``cast("long")`` broke.  This test pins all three encodings.
"""

import datetime

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pipeline_etl_website_visits_spark import tables
from pipeline_etl_website_visits_spark.tables import load_table

TS = [
    datetime.datetime(2024, 1, 1, 0, 0, 0),
    datetime.datetime(2024, 1, 1, 0, 30, 0),
    datetime.datetime(2024, 1, 1, 2, 0, 0),
]


def _write_events(dirpath, ts_arrow_type):
    arr = pa.array(TS, type=ts_arrow_type)
    t = pa.table(
        {
            "event_id": pa.array([1, 2, 3], type=pa.int64()),
            "ts": arr,
            "user_id": pa.array([10, 10, 11], type=pa.int64()),
            "event_type": pa.array(["a", "b", "a"]),
            "value": pa.array([1.0, 2.0, 3.0], type=pa.float64()),
            "props": pa.array(["{}", "{}", "{}"]),
        }
    )
    pq.write_table(t, str(dirpath / "events.parquet"))
    return str(dirpath)


@pytest.mark.parametrize(
    "arrow_type",
    [
        pytest.param(pa.timestamp("ns"), id="nanos"),
        pytest.param(pa.timestamp("us"), id="micros-ntz"),
        pytest.param(pa.timestamp("us", tz="UTC"), id="micros-utc"),
    ],
)
def test_events_ts_normalized_to_timestamp(spark, tmp_path, arrow_type):
    sf_dir = _write_events(tmp_path, arrow_type)
    df = load_table(spark, sf_dir, "events")
    assert dict(df.dtypes)["ts"] == "timestamp"
    # unix_micros / cast(long) — the two downstream consumers that broke on
    # NTZ — must analyze and agree on wall-clock values (session tz is UTC).
    from pyspark.sql import functions as F

    secs = sorted(
        r[0]
        for r in df.select(F.col("ts").cast("long")).collect()
    )
    expected = sorted(int(t.replace(tzinfo=datetime.timezone.utc).timestamp()) for t in TS)
    assert secs == expected


def test_table_cache_keyed_by_dir(spark, tmp_path):
    """Distinct sf_dirs must not share cached DataFrames."""
    a = tmp_path / "a"
    b = tmp_path / "b"
    a.mkdir()
    b.mkdir()
    _write_events(a, pa.timestamp("us"))
    _write_events(b, pa.timestamp("ns"))
    da = load_table(spark, str(a), "events")
    db = load_table(spark, str(b), "events")
    assert da is not db
    assert dict(da.dtypes)["ts"] == "timestamp"
    assert dict(db.dtypes)["ts"] == "timestamp"
    assert tables._TABLE_CACHE  # memo actually populated


def test_all_tables_timestamps_normalized(spark, tmp_path):
    """The round-2 events lesson generalized: ANY table whose timestamp
    columns arrive as nanos or NTZ loads with session-zoned TIMESTAMP."""
    import pyarrow as pa
    import pyarrow.parquet as pq2

    t = pa.table(
        {
            "o_orderkey": pa.array([1, 2], type=pa.int64()),
            "o_orderdate": pa.array(TS[:2], type=pa.timestamp("ns")),
            "o_audit_ts": pa.array(TS[:2], type=pa.timestamp("us")),
        }
    )
    pq2.write_table(t, str(tmp_path / "orders.parquet"))
    df = load_table(spark, str(tmp_path), "orders")
    dtypes = dict(df.dtypes)
    assert dtypes["o_orderdate"] == "timestamp"
    assert dtypes["o_audit_ts"] == "timestamp"
    # wall-clock values preserved (session tz UTC)
    from pyspark.sql import functions as F

    vals = sorted(r[0] for r in df.select(F.col("o_orderdate").cast("long")).collect())
    expected = sorted(
        int(x.replace(tzinfo=datetime.timezone.utc).timestamp()) for x in TS[:2]
    )
    assert vals == expected


def test_directory_table_fans_out_by_part_sizes(spark, tmp_path):
    """A multi-part directory table is sized by its part files, not by the
    directory entry (a few KiB whatever it holds): at the default 64 KiB
    per task, ~200 KiB of parts fans out past one task."""
    import os

    table = tmp_path / "documents.parquet"
    table.mkdir()
    for i in range(4):
        pq.write_table(
            pa.table({"doc_id": [i], "blob": [os.urandom(50_000)]}),
            str(table / f"part-{i:05d}.parquet"),
        )
    df = load_table(spark, str(tmp_path), "documents", fan_out=True)
    assert df.rdd.getNumPartitions() > 1
    assert df.count() == 4
