"""Format-dispatching table I/O (SURVEY.md §2 A1-A8, A13-A14, A21-A22).

The reference's Schemes (RCFile.java, ORCFile.java) couple three
concerns Spark separates: file-format (de)serialization, schema
acquisition, and projection pushdown. Here each is one argument:

- ``fmt``      — "orc" | "parquet" | "csv" | "text" | "json"; ORC and
  Parquet scans are vectorized + columnar (the reference's RCFile is a
  legacy columnar format — its role is filled by ORC/Parquet; RCFile
  tables remain readable through the Hive catalog, see catalog.py).
- ``schema``   — None (infer: ORC/Parquet footers = ORCFile.java
  inferSchema, A7), a Hive DDL string (= RCFile.java:95-121, A9), or a
  StructType (= explicit Fields, RCFile.java:77-92).
- ``columns``  — projection; Catalyst prunes the scan to exactly these
  (replaces hive.io.file.readcolumn.ids, RCFile.java:136-141 /
  ORCFile.java:286-301, A3/A6). Unknown columns raise at plan time like
  HCatScheme.validate (HCatScheme.java:160-165, A19).

Multi-path reads concatenate partitions like MultiSourceTap
(TapFactory.java:49-71, A13); ``partition_by`` writes produce the
per-partition directory layout HCatalog models one Tap per partition
for (A14).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cascading_hive_spark.schema import parse_ddl

_READ_FORMATS = {"orc", "parquet", "csv", "text", "json"}


def read_table(
    spark: SparkSession,
    paths: str | list[str],
    fmt: str = "parquet",
    schema: str | T.StructType | None = None,
    columns: list[str] | None = None,
    **options: str,
) -> DataFrame:
    """Read one or many paths of ``fmt`` into a DataFrame.

    Schema modes mirror SURVEY.md §1.3; ``columns`` is projection
    pushdown (verify with ``df.explain`` → ReadSchema shows only the
    selected columns).
    """
    fmt = fmt.lower()
    if fmt not in _READ_FORMATS:
        raise ValueError(f"unsupported format {fmt!r}; use one of {sorted(_READ_FORMATS)}")
    if isinstance(paths, str):
        paths = [paths]
    reader = spark.read.format(fmt)
    if isinstance(schema, str):
        schema = parse_ddl(schema)
    if schema is not None:
        reader = reader.schema(schema)
    elif fmt == "csv":
        # delimited text with header, like the reference's test inputs
        options.setdefault("header", "true")
        options.setdefault("inferSchema", "true")
    for k, v in options.items():
        reader = reader.option(k, v)
    df = reader.load(paths)
    if columns is not None:
        missing = [c for c in columns if c not in df.columns]
        if missing:
            # plan-time validation parity: HCatScheme.java:160-165
            raise ValueError(f"columns not in table schema: {missing}; have {df.columns}")
        df = df.select(*columns)
    return df


def write_table(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    compression: str | None = "snappy",
    max_records_per_file: int | None = None,
    **options: str,
) -> None:
    """Write a DataFrame as a table directory.

    ``partition_by`` produces one directory per partition value —
    the layout the reference's HCatalog Taps enumerate (A12-A14).
    ``compression`` replaces the JobConf passthrough of A21
    (orc.compress=SNAPPY — ORCFileTest.java:116-117).
    ``max_records_per_file`` caps output file size (at 100 TB,
    unbounded task outputs produce multi-GB files that defeat
    split-based parallelism downstream).
    """
    writer = df.write.format(fmt.lower()).mode(mode)
    if max_records_per_file is not None:
        writer = writer.option("maxRecordsPerFile", str(max_records_per_file))
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if compression is not None:
        writer = writer.option("compression", compression)
    for k, v in options.items():
        writer = writer.option(k, v)
    writer.save(path)


def align_to_schema(df: DataFrame, target: T.StructType) -> DataFrame:
    """By-name schema alignment with null-fill, the reference's sink
    semantics (DefaultHCatScheme.writeValue, DefaultHCatScheme.java:119-149,
    A17): reorder to target column order; missing columns become nulls;
    extra DataFrame columns are dropped; types are cast to the target.
    """
    from pyspark.sql import functions as F

    cols = []
    for field in target.fields:
        if field.name in df.columns:
            cols.append(F.col(field.name).cast(field.dataType).alias(field.name))
        else:
            cols.append(F.lit(None).cast(field.dataType).alias(field.name))
    return df.select(*cols)


def upsert(target: DataFrame, updates: DataFrame, keys: list[str]) -> DataFrame:
    """Merge semantics without a transactional table format: rows in
    ``updates`` replace same-key rows in ``target``; unmatched update
    rows are inserts. Planned as anti-join + union — one shuffle on
    the key, no full-outer row widening. (With a transactional format
    this becomes MERGE INTO; the dataflow is the same.)"""
    kept = target.join(updates.select(*keys), keys, "left_anti")
    return updates.unionByName(kept)


def cdc_apply(
    target: DataFrame,
    changes: DataFrame,
    keys: list[str],
    seq_col: str = "seq",
    op_col: str = "op",
) -> DataFrame:
    """Apply a CDC change stream to a snapshot — MERGE with DELETE
    semantics (``upsert`` has no delete path): ``changes`` carries the
    target's payload columns plus ``op_col`` in {'I','U','D'} and a
    monotone ``seq_col``; per key the LATEST change wins (ties broken
    by op so the result is deterministic even on mis-sequenced feeds),
    then

    - latest op D  -> the key disappears from the result,
    - latest op I/U -> the change row's payload replaces/creates it,
    - no change    -> the target row survives untouched.

    Planned as one window shuffle on the key (latest-change pick) +
    anti-join + union — the same single-key-shuffle shape as upsert,
    no full-outer widening, safe at any scale the key shuffle is.

    Determinism: ties on (key, seq, op) are broken by a hash of the
    payload struct, so a feed carrying duplicate (key, seq, op) rows
    with DIFFERENT payloads still resolves to the same winner on
    every run/partitioning (without it row_number picks arbitrarily).
    Exact-duplicate rows are indistinguishable, so any pick is the
    same row.
    """
    from pyspark.sql import Window

    payload = [c for c in changes.columns if c not in (*keys, seq_col, op_col)]
    w = Window.partitionBy(*keys).orderBy(
        F.col(seq_col).desc(),
        F.col(op_col).desc(),
        F.xxhash64(*[F.col(c) for c in payload]) if payload else F.lit(0),
    )
    latest = (
        changes.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    untouched = target.join(latest.select(*keys), keys, "left_anti")
    applied = latest.filter(F.col(op_col) != "D").drop(seq_col, op_col)
    return untouched.unionByName(applied)


def table_diff(old: DataFrame, new: DataFrame, keys: list[str]) -> DataFrame:
    """Snapshot reconciliation — the inverse of ``cdc_apply``: compare
    two versions of a table on ``keys`` and emit one row per differing
    key with ``diff_status`` in {'added','removed','changed'} plus the
    old/new payload structs (unchanged keys are filtered out, so the
    result is change-stream-sized, not table-sized). The null-safe
    struct comparison makes NULL payload transitions first-class.

    Round-trip law (pinned in tests): replaying the diff as a CDC
    stream reproduces the new snapshot exactly —
    ``cdc_apply(old, diff_as_changes(table_diff(old, new)))  == new``.

    Plan shape: ONE full-outer shuffle on the key; payloads travel as
    structs so the compare is a single expression, no per-column join.
    """
    payload = [c for c in old.columns if c not in keys]
    if payload != [c for c in new.columns if c not in keys]:
        raise ValueError(
            f"old/new payload columns differ: {payload} vs "
            f"{[c for c in new.columns if c not in keys]}"
        )
    o = old.select(*keys, F.struct(*payload).alias("_old"))
    n = new.select(*keys, F.struct(*payload).alias("_new"))
    j = o.join(n, keys, "full_outer")
    status = (
        F.when(F.col("_old").isNull(), "added")
        .when(F.col("_new").isNull(), "removed")
        .when(~F.col("_old").eqNullSafe(F.col("_new")), "changed")
    )
    return (
        j.withColumn("diff_status", status)
        .filter(F.col("diff_status").isNotNull())
        .select(*keys, "diff_status", "_old", "_new")
    )


def read_binary_files(
    spark: SparkSession,
    path: str,
    glob: str | None = None,
    max_bytes: int | None = None,
) -> DataFrame:
    """Raw-blob ingestion via Spark's built-in ``binaryFile`` source —
    the entry point of the multimodal pipeline (images/audio on a
    filesystem -> (path, modificationTime, length, content) rows that
    feed operators/multimodal.py's Arrow decode stages).

    ``glob`` filters filenames (``*.png``); ``max_bytes`` drops
    oversized blobs AT THE SOURCE via the pushed ``length`` filter —
    at 100 TB the filter must prune before content is read, and
    binaryFile is one of the few sources that pushes a length
    predicate down (Spark reads the file only if the status row
    survives)."""
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    df = reader.load(path)
    if max_bytes is not None:
        df = df.filter(F.col("length") <= max_bytes)
    return df


def morton_interleave(a, b, bits: int = 10):
    """Morton (Z-order) code of two bucketed ints — bit ``i`` of ``a``
    lands at position ``2i``, bit ``i`` of ``b`` at ``2i+1``, so
    range-sorting by the code clusters BOTH dimensions at once (the
    Z-order-lite data layout trick: files get narrow min/max ranges
    on every interleaved column, and parquet row-group skipping works
    for predicates on either one). Pure bigint shift/mask algebra —
    whole-stage codegen, and the same expression runs in any SQL
    engine."""
    a = a.cast("bigint")
    b = b.cast("bigint")
    code = F.lit(0).cast("bigint")
    for i in range(bits):
        code = code + F.shiftleft(F.shiftright(a, i).bitwiseAND(F.lit(1)), 2 * i)
        code = code + F.shiftleft(F.shiftright(b, i).bitwiseAND(F.lit(1)), 2 * i + 1)
    return code


def zorder_write(
    df: DataFrame,
    path: str,
    col_a: str,
    col_b: str,
    n_files: int = 16,
    bits: int = 10,
) -> None:
    """Write ``df`` parquet laid out by the Morton code of two bucketed
    dimensions: repartitionByRange on the code (contiguous code ranges
    per file) + sortWithinPartitions (narrow min/max INSIDE each file
    too, for row-group-level skipping). After this layout a filter on
    EITHER column prunes most files by their footer min/max — the
    multi-dimensional analog of partitionBy that does not explode the
    file count."""
    code = morton_interleave(F.col(col_a), F.col(col_b), bits)
    (
        df.withColumn("_z", code)
        .repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .parquet(path)
    )


def file_stats(spark, path: str) -> DataFrame:
    """Per-file size report for a parquet location via the hidden
    ``_metadata`` column (no directory walk — the scan planner already
    knows the files): (file_path, file_bytes, n_rows). The input to a
    compaction decision; aggregate for per-partition rollups."""
    return (
        spark.read.parquet(path)
        .select(
            F.col("_metadata.file_path").alias("file_path"),
            F.col("_metadata.file_size").alias("file_bytes"),
        )
        .groupBy("file_path", "file_bytes")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )


def compact_files(
    spark,
    path: str,
    out_path: str,
    target_file_bytes: int = 128 << 20,
) -> int:
    """Small-file compaction: rewrite a parquet location into
    ceil(total_bytes / target) files — the maintenance pass behind
    every long-lived ingest location (a 10k-tiny-file partition read
    pays per-file open cost). Writes to ``out_path`` (never in place —
    compose with catalog.publish for an atomic location swap) and
    returns the output file count.

    One read of ``path``: its file index, listed when the read resolved
    the schema, gives the byte total with no scan (the index's own
    ``sizeInBytes``, not the plan statistic, which Spark multiplies by
    ``spark.sql.sources.fileCompressionFactor``), and the same DataFrame
    is rewritten. Round-robin repartition shuffles the data ONCE; sort
    order inside files is not preserved (run zorder_write instead when
    layout matters)."""
    import math

    df = spark.read.parquet(path)
    total = df._jdf.queryExecution().optimizedPlan().relation().location().sizeInBytes()
    n_out = max(1, math.ceil(total / target_file_bytes))
    df.repartition(n_out).write.mode("overwrite").parquet(out_path)
    return n_out
