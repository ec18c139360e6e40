"""Catalog-backed tables — HCatalog parity (SURVEY.md §2 A10-A20).

The reference's HCatTap resolves db.table(+partition filter) through a
Hive metastore, validates requested fields, aligns sink tuples to the
table schema by name with null-fill, and publishes new data by
altering the table location after a successful write
(HCatTap.java:53-195, CascadingHCatUtil.java:64-176,
DefaultHCatScheme.java:92-149).

Spark mapping: ``spark.catalog`` + SQL DDL. With
``get_session(hive_support=True)`` these calls hit a real Hive
metastore (Thrift, like HCatUtil.getHiveClient); with the default
in-memory catalog the same API surface works session-locally — the
functions below are catalog-implementation-agnostic, exactly as
HCatScheme is serde-agnostic.

Partition filters: the reference accepts ``"ds=20120401"`` with
``and or like ( ) = <> < > <= >=`` (HCatTap.java:76-88) and pushes it
to ``listPartitionsByFilter``. That grammar is a subset of SQL WHERE,
so ``F.expr(filter)`` + Catalyst partition pruning reproduces it —
including pruning at the file-source level (PruneFileSourcePartitions).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cascading_hive_spark.io import align_to_schema


def table(
    spark: SparkSession,
    name: str,
    filter: str | None = None,  # noqa: A002 — reference nomenclature (HCatTap "filter")
    fields: list[str] | None = None,
) -> DataFrame:
    """Read a catalog table with optional partition filter + field
    subset (A10/A11/A19).

    ``fields`` outside the table schema raise at plan time like
    HCatScheme.validate (HCatScheme.java:160-165, asserted
    HCatTapTest.java:107-115).
    """
    df = spark.table(name)
    if filter:
        df = df.filter(F.expr(filter))
    if fields is not None:
        missing = [c for c in fields if c not in df.columns]
        if missing:
            raise ValueError(
                f"fields not in table {name!r} schema: {missing}; have {df.columns}"
            )
        df = df.select(*fields)
    return df


def create_table(
    spark: SparkSession,
    name: str,
    source_df: DataFrame,
    fmt: str = "parquet",
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Create/replace a managed catalog table from a DataFrame (A20
    createResource + A14 partitioned layout)."""
    writer = source_df.write.format(fmt).mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.saveAsTable(name)


def write_into(spark: SparkSession, df: DataFrame, name: str, align: bool = True) -> None:
    """Append into an existing table with the reference's sink
    semantics (A17, DefaultHCatScheme.writeValue): columns matched BY
    NAME against the table schema, missing columns null-filled, extra
    columns dropped, types cast."""
    target = spark.table(name).schema
    out = align_to_schema(df, target) if align else df
    out.write.insertInto(name, overwrite=False)


def publish(
    spark: SparkSession,
    df: DataFrame,
    name: str,
    path: str,
    fmt: str = "parquet",
) -> None:
    """Atomic-publish pattern (A18, HCatTap.commitResource +
    CascadingHCatUtil.setDataStorageLocation): write the data to a NEW
    location, then repoint the table at it in the catalog. Readers see
    either the old or the new table, never a partial write."""
    df.write.format(fmt).mode("overwrite").save(path)
    if not table_exists(spark, name):
        cols = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields)
        spark.sql(f"CREATE TABLE {name} ({cols}) USING {fmt} LOCATION '{path}'")
    else:
        spark.sql(f"ALTER TABLE {name} SET LOCATION '{path}'")
        spark.sql(f"REFRESH TABLE {name}")


def publish_partition(
    spark: SparkSession,
    df: DataFrame,
    name: str,
    partition_spec: dict[str, str],
    path: str,
    fmt: str = "parquet",
) -> None:
    """Partition-level atomic publish (A18 for PARTITIONED tables —
    the reference's commit path carries per-partition storage
    descriptors, CascadingHCatUtil.java:149-176 + TapFactory.java:45-47;
    round-1 `publish` only repointed whole tables).

    Writes the partition's data to a NEW location, then repoints (or
    adds) exactly that partition in the catalog. Readers of the
    partition see the old files or the new files, never a mix; other
    partitions are untouched. ``df`` must hold the partition's DATA
    columns only (partition values come from ``partition_spec``, as
    with a Hive static-partition insert).
    """
    for k, v in partition_spec.items():
        # values are interpolated into DDL below; a quote or control
        # char would break the statement (or worse) — fail loudly
        if "'" in str(v) or "\\" in str(v) or "\n" in str(v):
            raise ValueError(
                f"partition value {v!r} for {k!r} contains a quote/escape "
                "character; not representable in ALTER TABLE DDL"
            )
    if "'" in path:
        raise ValueError(f"path {path!r} contains a single quote")
    df.write.format(fmt).mode("overwrite").save(path)
    spec_sql = ", ".join(f"`{k}` = '{v}'" for k, v in partition_spec.items())
    # the catalog tests membership on the raw values: a new partition is
    # added at ``path``, an existing one repointed there
    spark.sql(f"ALTER TABLE {name} ADD IF NOT EXISTS PARTITION ({spec_sql}) LOCATION '{path}'")
    spark.sql(f"ALTER TABLE {name} PARTITION ({spec_sql}) SET LOCATION '{path}'")
    spark.sql(f"REFRESH TABLE {name}")


def overwrite_partitions(spark: SparkSession, df: DataFrame, name: str) -> None:
    """Dynamic-partition-overwrite sink (A14/A18): replace exactly the
    partitions present in ``df``, leave every other partition intact —
    the Spark-native form of the reference's per-partition commit.
    Uses INSERT OVERWRITE with partitionOverwriteMode=dynamic scoped
    to this write."""
    old = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        target = spark.table(name).schema
        align_to_schema(df, target).write.insertInto(name, overwrite=True)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", old)


def table_exists(spark: SparkSession, name: str) -> bool:
    """A20 resourceExists."""
    return spark.catalog.tableExists(name)


def drop_table(spark: SparkSession, name: str) -> None:
    """A20 deleteResource."""
    spark.sql(f"DROP TABLE IF EXISTS {name}")


def _equality_partial_spec(
    filter_str: str, part_cols: set[str]
) -> dict[str, str] | None:
    """Parse ``filter_str`` as a conjunction of partition-column
    equality predicates (``ds = '20120401' and region = 'us'``) into a
    partial partition spec — the shape the catalog matches itself via
    ``listPartitions(db, table, Some(spec))``. Returns None for any
    other grammar (ranges, OR, LIKE, casts, quoted values containing
    quotes) — those go to ``listPartitionsByFilter`` as a predicate.

    Coercion contract (ADVICE r11): QUOTED literals compare as exact
    strings in both paths (the pushed spec and the predicate agree on
    string partition columns). UNQUOTED NUMERIC literals (``ds = 401``)
    are NOT pushed — they take the predicate path so equality coerces
    numerically, exactly like the range grammar (``ds <= 401``) it
    may be conjoined with in other filters; pushing them as a string
    spec would miss e.g. a ``'0401'`` partition the numeric semantics
    match. Unquoted NON-numeric barewords (``region = us``) still
    push: they compare as strings catalog-side, and the predicate path
    could not resolve them at all (``us`` would parse as a column
    reference).
    """
    import re

    pat = re.compile(
        r"^\(*\s*`?(\w+)`?\s*=\s*(?:'([^']*)'|\"([^\"]*)\"|([\w.\-]+))\s*\)*$"
    )
    num = re.compile(r"[+-]?(\d+(\.\d*)?|\.\d+)([eE][+-]?\d+)?")
    spec: dict[str, str] = {}
    for clause in re.split(r"(?i)\s+and\s+", filter_str.strip()):
        m = pat.match(clause.strip())
        if not m:
            return None
        key = m.group(1)
        val = next(g for g in m.groups()[1:] if g is not None)
        if key not in part_cols or key in spec or "'" in val or "\\" in val:
            return None
        if m.group(4) is not None and num.fullmatch(val):
            return None  # unquoted numeric: predicate-path coercion
        spec[key] = val
    return spec


def partitions(spark: SparkSession, name: str, filter: str | None = None) -> list[dict]:  # noqa: A002
    """Enumerate table partitions, optionally filtered (A11/A12 — the
    reference pushes the filter into the metastore via
    ``HiveMetaStoreClient.listPartitionsByFilter``,
    CascadingHCatUtil.java:75-95).

    ``filter`` supports the reference's FULL partition-filter grammar
    — ``and or like ( ) = <> < > <= >=`` (HCatTap.java:76-88) — and
    anything else SQL WHERE can say over the partition columns; a
    filter that names any other column raises ``ValueError``.

    One job-free path for the in-memory and the Hive catalog: the
    partition columns come from the table metadata, and the specs from
    one ``externalCatalog`` call, never from a Spark job.

    1. an equality conjunction (the reference's primary shape,
       ``ds = '20120401'``) is a partial partition spec for
       ``listPartitions(db, table, Some(spec))``, matched catalog-side
       as exact strings (see ``_equality_partial_spec``);
    2. any other filter is resolved against the table and its Catalyst
       predicate handed to ``listPartitionsByFilter``: the Hive shim
       pushes what the metastore supports and prunes the residue
       catalog-side, the in-memory catalog prunes its specs with the
       same interpreted predicate. Values there compare as the
       partition columns' types, like ``table(filter=...)``.

    Either way only matching specs reach Python, with their values
    raw (the catalog stores them unescaped), in sorted order."""
    jss = spark._jsparkSession
    jvm = spark.sparkContext._jvm
    state = jss.sessionState()
    meta = state.catalog().getTableMetadata(state.sqlParser().parseTableIdentifier(name))
    cols = meta.partitionColumnNames()
    part_cols = [cols.apply(i) for i in range(cols.size())]
    db, tbl = meta.database(), meta.identifier().table()
    catalog = jss.sharedState().externalCatalog()
    pushed = _equality_partial_spec(filter, set(part_cols)) if filter else None
    # `not filter`: an empty-string filter means "all partitions", like None
    if not filter or pushed is not None:
        spec = jvm.scala.Option.apply(jvm.PythonUtils.toScalaMap(pushed) if pushed else None)
        parts = catalog.listPartitions(db, tbl, spec)
    else:
        cond = spark.table(name).filter(filter)._jdf.queryExecution().analyzed().condition()
        refs = cond.references().toSeq()
        stray = sorted({refs.apply(i).name() for i in range(refs.size())} - set(part_cols))
        if stray:
            raise ValueError(
                f"partition filter {filter!r} names non-partition columns {stray}; "
                f"partition columns of {name!r} are {part_cols}"
            )
        tz = state.conf().sessionLocalTimeZone()
        parts = catalog.listPartitionsByFilter(db, tbl, jvm.PythonUtils.toSeq([cond]), tz)
    out = []
    it = parts.iterator()
    while it.hasNext():
        spec = it.next().spec()
        out.append({c: spec.apply(c) for c in part_cols})
    return sorted(out, key=lambda p: [str(v) for v in p.values()])
