"""SparkSession construction.

The reference ships Hive/Hadoop tuning in its test config
(hive-site.xml: auto map-join, map-side aggregation, bucket SMB join —
SURVEY.md §4); on Spark these are Catalyst/AQE defaults. This builder
pins the configs that matter for a columnar analytics engine running
local[N] now and a 1000-executor cluster later:

- AQE on (runtime join-strategy switch, skew-join split, partition
  coalescing) — replaces hive.auto.convert.join / bucketmapjoin intent.
- shuffle.partitions sized to the machine, not the 200 default.
- Arrow enabled for the Pandas-UDF slow path.
- UTC session timezone so timestamp semantics are stable across hosts.
- whole-stage codegen cache sized to the working set of a session's
  queries, so a repeated query compiles nothing (ARCHITECTURE.md,
  "Session-level reuse").
- Python workers import this package from its parent directory
  (``spark.executorEnv.PYTHONPATH``), so a driver that found it only
  through ``sys.path`` still runs its UDFs.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


# the directory Python workers import ``cascading_hive_spark`` from
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_session(
    app_name: str = "cascading_hive_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    hive_support: bool = False,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-sane defaults."""
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    # 8g default: enough for local-mode shuffles up to ~1M-doc corpora
    # (BASELINE.md's scale figures), while staying small enough that
    # G1 young collections stay cheap — a 48g heap measured ~1.8x
    # slower across the whole bench. Override with SPARK_GRAFT_DRIVER_MEM.
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # local mode: the driver JVM is the whole cluster — size it
        # accordingly (only applies at JVM creation)
        .config("spark.driver.memory", driver_mem)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # static, so only here: Spark's 100-entry generated-class cache is
        # smaller than one pass's working set (~190 classes for the
        # perfbench hive_read ops, ~390 for iterative_ops, 136 for
        # corpus_scan), so every pass recompiled and ran un-JITted code.
        # An entry is ~5 KB of source plus ~2 KB of bytecode.
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.orc.compression.codec", "snappy")
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.host", "127.0.0.1")
    )
    if hive_support:
        builder = builder.enableHiveSupport()
    conf = dict(extra_conf or {})
    key = "spark.executorEnv.PYTHONPATH"
    conf[key] = os.pathsep.join(p for p in (_PACKAGE_PARENT, conf.get(key)) if p)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def tune_for_queries(spark: SparkSession) -> SparkSession:
    """Idempotent runtime settings applied when the session is supplied
    by an external driver (``__spark_entry__``): only confs that are
    mutable after start."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    return spark


def materialize(df: DataFrame, label: str, *, eager: bool = False) -> DataFrame:
    """The package's one lineage cut: a local checkpoint of ``df`` with
    every job started inside the call described as ``label``
    (``"<operator>: <table> iter <n>"``). The caller's description,
    ``None`` included, is restored; the job group is left alone, so a
    profiler that attributes jobs by group keeps them in the caller's span.

    - A cut pays when ``df`` is read by separate actions, by a loop, or by
      consumers whose exchanges differ. Identical exchanges in one plan
      are already shared (ReusedExchange), so a cut there only adds jobs.
    - With AQE on, the plan is cut at this call, lazy or not: cutting
      plans the final physical plan of ``df``, which runs every upstream
      shuffle stage here. A lazy cut defers only the last stage.
    - The first action that reads a lazy cut finalizes only the nearest
      marked RDD (``spark.checkpoint.checkpointAllMarkedAncestors`` is
      off), so an upstream lazy cut in the same chain stays cached but
      untruncated: evicting its blocks recomputes the chain above it.
    - ``eager``: lazy unless ``df`` must outlive its source (a streaming
      micro-batch) or a same-JVM A/B of the site measured eager faster;
      the site says which.
    """
    sc, key = df.sparkSession.sparkContext, "spark.job.description"
    prior = sc.getLocalProperty(key)
    sc.setLocalProperty(key, label)
    try:
        return df.localCheckpoint(eager=eager)
    finally:
        sc.setLocalProperty(key, prior)  # None unsets it
