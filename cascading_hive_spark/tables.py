"""Test-data table access.

The driver materializes a deterministic TPC-H-ish star schema plus
``events`` / ``documents`` / ``embeddings`` at
``/root/testdata/sf{0.001,0.01,0.1}`` (TESTDATA.md). Every operator in
``__spark_entry__.queries()`` reads through here so projection/predicate
pushdown applies at the parquet scan.
"""

from __future__ import annotations

import os
import threading
from collections import OrderedDict
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLES = (
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
)

# Dimension tables small enough to broadcast at ANY scale factor: they
# grow sub-linearly (region/nation are fixed-size) so a broadcast-hash
# join stays correct on a 1000-executor cluster.
BROADCAST_SAFE = frozenset({"region", "nation"})

DEFAULT_SF_DIR = "/root/testdata/sf0.001"


def int64_ts_micros_divisor(path: str) -> int:
    """Divisor that converts a raw-int64 ``ts`` column to epoch-MICROS,
    inferred from the column's parquet row-group min statistic rather
    than assumed. Epoch magnitudes are unambiguous across units for any
    plausible event time (1973..2500): nanos ~1e18, micros ~1e15,
    millis ~1e12, seconds ~1e9 — so a silent generator switch from
    nanos to micros can never again shift timestamps 1000x unnoticed
    (ADVICE r5). Raises if the magnitude matches no unit."""
    import pyarrow.parquet as pq

    pf = pq.ParquetFile(path)
    idx = pf.schema_arrow.get_field_index("ts")
    stats = pf.metadata.row_group(0).column(idx).statistics
    v = abs(int(stats.min)) if stats is not None and stats.has_min_max else None
    if v is None:  # no stats written: fall back to reading one value
        v = abs(int(pf.read_row_group(0, columns=["ts"]).column(0)[0].as_py()))
    for divisor, lo, hi in ((1_000, 1e17, 2e19), (1, 1e14, 2e16)):
        if lo <= v < hi:
            return divisor
    if 1e11 <= v < 2e13:  # epoch-millis
        raise ValueError(
            f"events.ts int64 magnitude {v} looks like epoch-MILLIS; "
            "loader only handles nanos/micros — extend the divisor table"
        )
    raise ValueError(f"events.ts int64 magnitude {v} matches no known epoch unit")


def normalize_events_ts(df: DataFrame, int64_divisor: int = 1_000) -> DataFrame:
    """Normalize the ``ts`` column to session-zoned TIMESTAMP micros
    regardless of how the driver materialized it. The data generator has
    shipped both shapes across rounds — TIMESTAMP(NANOS) (read as long
    under nanosAsLong) and timestamp[us] (read as TIMESTAMP_NTZ) — so
    the loader branches on the *loaded* dtype instead of assuming one:

    - integral (legacy nanos-as-long): integer-divide to micros (DIV,
      not ``/``, to avoid double-precision loss on ~1e18 values) by
      ``int64_divisor``, which the loader infers from the stored
      magnitude (int64_ts_micros_divisor) instead of assuming nanos;
    - TIMESTAMP_NTZ: cast to TIMESTAMP — the session tz is pinned UTC
      (session.py), so values are identical and the schema matches what
      DuckDB reports for the same file;
    - TIMESTAMP: pass through.
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    dt = df.schema["ts"].dataType
    if isinstance(dt, (T.LongType, T.IntegerType)):
        return df.withColumn(
            "ts", F.expr(f"timestamp_micros(ts div {int(int64_divisor)})")
        )
    if isinstance(dt, T.TimestampNTZType):
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def _footer_probe_path(path: str) -> str:
    """A concrete parquet FILE to footer-probe: the driver testdata
    ships single files, but Spark-written tables (scripts/make_sf1.py
    tiling, any user sink) are DIRECTORIES of part files — pyarrow's
    footer reads need one member, and any member's footer speaks for
    the table (one writer, one schema)."""
    if os.path.isdir(path):
        for f in sorted(os.listdir(path)):
            if f.endswith(".parquet"):
                return os.path.join(path, f)
    return path


# --- Inferred-schema cache -------------------------------------------
#
# ``spark.read.parquet(path)`` runs one Spark job to infer the schema from
# the footers; ``spark.read.schema(s).parquet(path)`` runs none. A session
# loads the same tables again and again (every query function calls
# load_table), so the inferred StructType is kept per path, together with
# the events footer facts, and reused while the files are unchanged:
#
# - the entry is dropped when the ``(name, size, mtime_ns)`` of the file,
#   or of any ``.parquet`` member of a directory table, differs;
# - schemas are kept per value of the confs that change what parquet
#   inference yields, so flipping one of them re-infers;
# - paths os.path cannot stat (remote filesystems) are not cached.

_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)
_CACHE_PATHS = 64


@dataclass
class _Entry:
    stamp: tuple | None
    nanos: bool = False  # events: ts needs spark.sql.legacy.parquet.nanosAsLong
    divisor: int = 1_000  # events: raw int64 ts -> micros
    schemas: dict[tuple, StructType] = field(default_factory=dict)


_cache: OrderedDict[str, _Entry] = OrderedDict()
_lock = threading.Lock()


def _stamp(path: str) -> tuple | None:
    """``(name, size, mtime_ns)`` of the file, or of every ``.parquet``
    member of a directory table; None when there is nothing to stat."""
    if os.path.isfile(path):
        st = os.stat(path)
        return ((os.path.basename(path), st.st_size, st.st_mtime_ns),)
    if not os.path.isdir(path):
        return None
    out = []
    for d, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                member = os.path.join(d, f)
                st = os.stat(member)
                out.append((os.path.relpath(member, path), st.st_size, st.st_mtime_ns))
    return tuple(sorted(out))


def _events_footer(path: str) -> tuple[bool, int]:
    """(nanos flag, int64 divisor) of an events table, from its footer.
    The flag is true when ``ts`` is stored as TIMESTAMP(NANOS) or as a
    raw int64, the shapes Spark's reader rejects unless
    ``spark.sql.legacy.parquet.nanosAsLong`` is set; micro and milli
    timestamps read natively, so the flag stays off for them."""
    import pyarrow.parquet as pq

    probe = _footer_probe_path(path)
    t = pq.read_schema(probe).field("ts").type
    int64 = str(t) == "int64"
    divisor = int64_ts_micros_divisor(probe) if int64 else 1_000
    return int64 or getattr(t, "unit", None) == "ns", divisor


def _entry(path: str, events: bool) -> _Entry:
    key, stamp = os.path.abspath(path), _stamp(path)
    with _lock:
        e = _cache.get(key)
        if e is not None and stamp is not None and e.stamp == stamp:
            _cache.move_to_end(key)
            return e
    e = _Entry(stamp, *_events_footer(path)) if events else _Entry(stamp)
    if stamp is not None:
        with _lock:
            _cache[key] = e
            _cache.move_to_end(key)
            while len(_cache) > _CACHE_PATHS:
                _cache.popitem(last=False)
    return e


def table_schema(spark: SparkSession, path: str, events: bool) -> tuple[StructType, int]:
    """The inferred schema of the parquet table at ``path`` and, for an
    events table, the divisor of a raw int64 ``ts`` (1,000 otherwise),
    from the cache above. Sets the nanosAsLong flag when the footer needs
    it, on every call: a new session needs the flag too."""
    entry = _entry(path, events)
    if entry.nanos:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    confs = tuple(spark.conf.get(k, None) for k in _SCHEMA_CONFS)
    schema = entry.schemas.get(confs)
    if schema is None:
        schema = entry.schemas[confs] = spark.read.parquet(path).schema
    return schema, entry.divisor


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise ValueError(f"unknown table {name!r}; expected one of {TABLES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    schema, divisor = table_schema(spark, path, name == "events")
    df = spark.read.schema(schema).parquet(path)
    return normalize_events_ts(df, divisor) if name == "events" else df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for the SQL API."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
