"""Loader contract: ``load_table`` must yield identical micro-precision
TIMESTAMP values for ``events`` no matter which physical shape the
driver materialized — TIMESTAMP(NANOS), timestamp[us], or a raw int64
of epoch-nanos. Round 4 regressed because nothing pinned this against
the actual bytes on disk when the generator switched nanos → micros.
"""

from __future__ import annotations

import datetime as dt

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from cascading_hive_spark.tables import _events_footer, load_table

_US = [
    1_700_000_000_000_000,
    1_700_000_123_456_789,
    1_700_086_400_000_001,
]
_ROWS = {
    "event_id": [1, 2, 3],
    "user_id": [10, 20, 30],
    "event_type": ["click", "view", "click"],
    "value": [1.5, 2.5, 3.5],
    "props": ["{}", "{}", "{}"],
}


def _write_events(dirpath, ts_array):
    cols = {"event_id": _ROWS["event_id"], "ts": ts_array}
    cols.update({k: v for k, v in _ROWS.items() if k != "event_id"})
    pq.write_table(pa.table(cols), str(dirpath / "events.parquet"))
    return str(dirpath)


@pytest.fixture(scope="module")
def shapes(tmp_path_factory):
    out = {}
    d = tmp_path_factory.mktemp("ev_us")
    out["micros"] = _write_events(d, pa.array(_US, type=pa.timestamp("us")))
    d = tmp_path_factory.mktemp("ev_ns")
    out["nanos"] = _write_events(
        d, pa.array([u * 1000 for u in _US], type=pa.timestamp("ns"))
    )
    d = tmp_path_factory.mktemp("ev_i64")
    out["int64"] = _write_events(d, pa.array([u * 1000 for u in _US], type=pa.int64()))
    d = tmp_path_factory.mktemp("ev_i64_us")
    out["int64_micros"] = _write_events(d, pa.array(_US, type=pa.int64()))
    return out


def test_footer_probe(shapes):
    """(nanosAsLong flag, int64 divisor to micros) read from the footer."""
    assert _events_footer(shapes["micros"] + "/events.parquet") == (False, 1_000)
    assert _events_footer(shapes["nanos"] + "/events.parquet") == (True, 1_000)
    assert _events_footer(shapes["int64"] + "/events.parquet") == (True, 1_000)
    assert _events_footer(shapes["int64_micros"] + "/events.parquet") == (True, 1)


def test_all_shapes_load_identically(spark, shapes):
    expected = [dt.datetime.fromtimestamp(u / 1e6, dt.timezone.utc).replace(tzinfo=None) for u in _US]
    for shape, d in shapes.items():
        df = load_table(spark, d, "events")
        assert df.schema["ts"].dataType.typeName() == "timestamp", shape
        got = [r.ts for r in df.select("ts").orderBy("event_id").collect()]
        assert got == expected, shape


def test_driver_data_loads(spark, sf_dir):
    """The actual driver file, whatever shape it currently is."""
    df = load_table(spark, sf_dir, "events")
    assert df.schema["ts"].dataType.typeName() == "timestamp"
    assert df.limit(5).count() > 0


def test_every_table_loads_at_every_sf(spark):
    """Round-4 lesson generalized: every driver table must at least
    analyze and yield a row at every scale factor the driver ships, so
    an upstream data-shape change surfaces here instead of as 40
    downstream query crashes."""
    import os

    from cascading_hive_spark.tables import TABLES

    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        d = f"/root/testdata/{sf}"
        if not os.path.isdir(d):
            continue
        for name in TABLES:
            df = load_table(spark, d, name)
            assert df.limit(1).count() == 1, (sf, name)


def test_stream_reads_the_loader_ts_and_warm_stream_runs_no_job(spark, shapes, status):
    """``stream_events`` takes its schema and int64 divisor from the
    loader's cache: for every shape the streamed ``ts`` equals
    ``load_table``'s (an int64 of epoch-micros included), and a second
    call for the same files runs no Spark job."""
    from cascading_hive_spark.streaming.jobs import run_available_now, stream_events

    for shape, d in shapes.items():
        want = [r.ts for r in load_table(spark, d, "events").orderBy("event_id").collect()]
        got = run_available_now(stream_events(spark, d), f"tables_contract_{shape}")
        assert [r.ts for r in got.orderBy("event_id").collect()] == want, shape
        assert status.run(lambda: stream_events(spark, d)).jobs == [], shape


# --- inferred-schema cache --------------------------------------------


@pytest.fixture
def nanos_as_long(spark):
    """Restores ``spark.sql.legacy.parquet.nanosAsLong`` after the test."""
    key = "spark.sql.legacy.parquet.nanosAsLong"
    prior = spark.conf.get(key, None)
    yield key
    if prior is None:
        spark.conf.unset(key)
    else:
        spark.conf.set(key, prior)


def test_second_load_runs_no_job(spark, tmp_path, status):
    pq.write_table(pa.table({"o_orderkey": [1, 2, 3]}), str(tmp_path / "orders.parquet"))
    d = str(tmp_path)
    assert status.run(lambda: load_table(spark, d, "orders")).jobs  # inference
    assert status.run(lambda: load_table(spark, d, "orders")).jobs == []
    assert load_table(spark, d, "orders").count() == 3


def test_warm_events_load_reads_no_footer(spark, tmp_path, nanos_as_long, monkeypatch):
    """The nanos flag and the int64 divisor are cached with the schema, and
    every load still sets the flag a new session would need."""
    d = _write_events(tmp_path, pa.array([u * 1000 for u in _US], type=pa.int64()))
    want = [r.ts for r in load_table(spark, d, "events").orderBy("event_id").collect()]

    def no_footer(*a, **k):
        raise AssertionError("footer read on a warm load")

    monkeypatch.setattr(pq, "read_schema", no_footer)
    monkeypatch.setattr(pq, "ParquetFile", no_footer)
    spark.conf.unset(nanos_as_long)
    df = load_table(spark, d, "events")
    assert spark.conf.get(nanos_as_long) == "true"
    assert [r.ts for r in df.orderBy("event_id").collect()] == want


def test_rewritten_file_is_reinferred(spark, tmp_path):
    f = str(tmp_path / "orders.parquet")
    pq.write_table(pa.table({"o_orderkey": [1, 2]}), f)
    assert load_table(spark, str(tmp_path), "orders").columns == ["o_orderkey"]
    pq.write_table(pa.table({"o_orderkey": [1, 2], "o_comment": ["x", "y"]}), f)
    assert load_table(spark, str(tmp_path), "orders").columns == ["o_orderkey", "o_comment"]


def test_nanos_as_long_flip_misses_cache(spark, tmp_path, nanos_as_long):
    pq.write_table(
        pa.table({"o_orderkey": [1], "ts": pa.array([_US[0] * 1000], type=pa.timestamp("ns"))}),
        str(tmp_path / "orders.parquet"),
    )
    spark.conf.set(nanos_as_long, "true")
    assert load_table(spark, str(tmp_path), "orders").schema["ts"].dataType.typeName() == "long"
    spark.conf.set(nanos_as_long, "false")
    with pytest.raises(Exception, match="PARQUET_TYPE_ILLEGAL"):
        load_table(spark, str(tmp_path), "orders")


def test_member_added_to_directory_table_misses_cache(spark, tmp_path, status):
    table = tmp_path / "orders.parquet"
    table.mkdir()
    pq.write_table(pa.table({"o_orderkey": [1, 2]}), str(table / "part-0.parquet"))
    d = str(tmp_path)
    load_table(spark, d, "orders")
    assert status.run(lambda: load_table(spark, d, "orders")).jobs == []
    pq.write_table(pa.table({"o_orderkey": [3]}), str(table / "part-1.parquet"))
    assert status.run(lambda: load_table(spark, d, "orders")).jobs
    assert load_table(spark, d, "orders").count() == 3
