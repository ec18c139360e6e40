"""The ``hive_write`` workload: the sink half of cascading.hive.

One pass writes ``lineitem`` as ORC partitioned by
``(l_returnflag, l_linestatus)``, writes ``orders`` as parquet with a
per-file record cap, creates a catalog table from ``events``
partitioned by day, lists and reads partitions, overwrites one
partition in place, publishes another to a new location, compacts the
``orders`` location and reads every output back. Each write leaves the
logical table unchanged, so the read-back digests are the digests of
the inputs whatever partitions the seed picks.
"""

from __future__ import annotations

import os
import random
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cascading_hive_spark import catalog, io, tables

ORDERS_RECORDS_PER_FILE = 10_000
COMPACT_TARGET_BYTES = 1 << 20


class CheckFailed(Exception):
    """An output did not have the expected value."""


def events_by_day(events: DataFrame) -> DataFrame:
    return events.withColumn("day", F.to_date("ts"))


def tree_size(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``; data files skip the
    ``_SUCCESS``/``.crc`` bookkeeping files Spark writes beside them."""
    size = files = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(dirpath, n))
            if not n.startswith((".", "_")):
                files += 1
    return size, files


class WriteFlow:
    """State of the flow across passes. ``days`` are the partition
    values of ``events``; the seed picks which ones the pass lists,
    reads, overwrites and publishes."""

    def __init__(self, spark: SparkSession, data_dir: str, out_root: str, warehouse: str,
                 days: list[str], seed: int):
        self.spark = spark
        self.out_root = out_root
        self.warehouse = warehouse
        self.lineitem = tables.load_table(spark, data_dir, "lineitem")
        self.orders = tables.load_table(spark, data_dir, "orders")
        self.events = tables.load_table(spark, data_dir, "events")
        self.input_bytes = sum(
            os.path.getsize(os.path.join(data_dir, f"{t}.parquet"))
            for t in ("lineitem", "orders", "events")
        )
        rng = random.Random(seed)
        self.read_day, self.overwrite_day, self.publish_day = rng.sample(days, 3)
        lo = rng.randrange(len(days) - 7)
        self.range_days = days[lo : lo + 7]
        self.out = self.table = ""

    def begin_pass(self, pass_id: str) -> None:
        self.out = os.path.join(self.out_root, pass_id)
        self.table = f"events_by_day_{pass_id}"

    def end_pass(self) -> dict[str, float]:
        """Measure what the pass left on disk, then remove it."""
        table_dir = os.path.join(self.warehouse, self.table)
        size, files = (a + b for a, b in zip(tree_size(self.out), tree_size(table_dir)))
        catalog.drop_table(self.spark, self.table)
        shutil.rmtree(self.out, ignore_errors=True)
        shutil.rmtree(table_dir, ignore_errors=True)
        return {
            "io.bytes_written_mb": size / (1024 * 1024),
            "io.files_written": float(files),
            "io.write_amp": size / self.input_bytes,
        }

    def _day(self, day: str) -> DataFrame:
        return self.events.filter(F.to_date("ts") == F.lit(day).cast("date"))

    # -- operations, in pass order -------------------------------------

    def write_lineitem_orc(self):
        io.write_table(self.lineitem, f"{self.out}/lineitem_orc", fmt="orc",
                       partition_by=["l_returnflag", "l_linestatus"])

    def write_orders_parquet(self):
        io.write_table(self.orders, f"{self.out}/orders_pq",
                       max_records_per_file=ORDERS_RECORDS_PER_FILE)

    def create_events_table(self):
        catalog.create_table(self.spark, self.table, events_by_day(self.events),
                             partition_by=["day"])

    def partitions_eq(self):
        got = catalog.partitions(self.spark, self.table, f"day = '{self.read_day}'")
        if got != [{"day": self.read_day}]:
            raise CheckFailed(f"equality filter listed {got}")

    def partitions_range(self):
        lo, hi = self.range_days[0], self.range_days[-1]
        got = catalog.partitions(self.spark, self.table, f"day >= '{lo}' AND day <= '{hi}'")
        if sorted(p["day"] for p in got) != self.range_days:
            raise CheckFailed(f"range filter listed {got}")

    def read_partition(self) -> DataFrame:
        return catalog.table(self.spark, self.table, filter=f"day = '{self.read_day}'")

    def overwrite_partition(self):
        catalog.overwrite_partitions(
            self.spark, events_by_day(self._day(self.overwrite_day)), self.table
        )

    def publish_partition(self):
        day = self.publish_day
        catalog.publish_partition(self.spark, self._day(day), self.table, {"day": day},
                                  f"{self.out}/published/day={day}")

    def compact_orders(self):
        out = f"{self.out}/orders_compact"
        n = io.compact_files(self.spark, f"{self.out}/orders_pq", out,
                             target_file_bytes=COMPACT_TARGET_BYTES)
        files = tree_size(out)[1]
        if files != n:
            raise CheckFailed(f"compaction promised {n} files, wrote {files}")

    def verify_lineitem_orc(self) -> DataFrame:
        return io.read_table(self.spark, f"{self.out}/lineitem_orc", fmt="orc")

    def verify_orders_compacted(self) -> DataFrame:
        return io.read_table(self.spark, f"{self.out}/orders_compact")

    def verify_events_table(self) -> DataFrame:
        return catalog.table(self.spark, self.table)
