"""Catalog parity tests (A10-A20): field validation, by-name aligned
writes with null-fill, partition enumeration/pruning, atomic publish
via SET LOCATION."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cascading_hive_spark import catalog as C
from cascading_hive_spark.tables import load_table


@pytest.fixture(scope="module")
def nation_table(spark, sf_dir):
    C.drop_table(spark, "t_nation")
    C.create_table(spark, "t_nation", load_table(spark, sf_dir, "nation"))
    yield "t_nation"
    C.drop_table(spark, "t_nation")


def test_table_read_and_filter(spark, nation_table):
    df = C.table(spark, nation_table, filter="n_regionkey = 0")
    rows = df.collect()
    assert len(rows) == 5
    assert all(r.n_regionkey == 0 for r in rows)


def test_field_validation_raises(spark, nation_table):
    # HCatTapTest.java:107-115: invalid source fields -> plan-time error
    with pytest.raises(ValueError, match="nope"):
        C.table(spark, nation_table, fields=["n_name", "nope"])


def test_write_into_aligns_by_name_with_null_fill(spark, nation_table):
    # DefaultHCatScheme.java:119-149: reorder by name, missing -> null,
    # extra ignored
    extra = spark.createDataFrame(
        [(99, "extra_col_ignored", 77)],
        "n_regionkey int, junk string, n_nationkey int",
    )
    C.write_into(spark, extra, nation_table)
    got = spark.table(nation_table).filter(F.col("n_nationkey") == 77).collect()
    assert len(got) == 1
    assert got[0].n_name is None  # null-filled
    assert got[0].n_regionkey == 99


def test_partitioned_table_enumeration_and_pruning(spark, sf_dir, tmp_path):
    C.drop_table(spark, "t_orders_part")
    orders = load_table(spark, sf_dir, "orders").withColumn(
        "o_year", F.year("o_orderdate")
    )
    C.create_table(spark, "t_orders_part", orders, partition_by=["o_year"])
    try:
        parts = C.partitions(spark, "t_orders_part")
        years = {p["o_year"] for p in parts}
        assert len(years) >= 2
        one = C.partitions(spark, "t_orders_part", filter=f"o_year={min(years)}")
        assert len(one) == 1
        # ADVICE r12: an empty-string filter means "all partitions",
        # exactly like None — must not reach F.expr("")
        assert C.partitions(spark, "t_orders_part", filter="") == parts
        # partition filter prunes at plan level
        df = C.table(spark, "t_orders_part", filter=f"o_year = {min(years)}")
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert df.count() > 0
    finally:
        C.drop_table(spark, "t_orders_part")


def test_publish_set_location_swaps_data(spark, sf_dir, tmp_path):
    # A18: write new path, ALTER TABLE SET LOCATION, readers see the swap
    C.drop_table(spark, "t_pub")
    region = load_table(spark, sf_dir, "region")
    p1 = str(tmp_path / "v1")
    p2 = str(tmp_path / "v2")
    C.publish(spark, region, "t_pub", p1)
    try:
        assert spark.table("t_pub").count() == 5
        C.publish(spark, region.limit(2), "t_pub", p2)
        assert spark.table("t_pub").count() == 2  # repointed, not appended
    finally:
        C.drop_table(spark, "t_pub")


def test_exists_and_drop(spark, sf_dir):
    C.drop_table(spark, "t_tmp")
    assert not C.table_exists(spark, "t_tmp")
    C.create_table(spark, "t_tmp", load_table(spark, sf_dir, "region"))
    assert C.table_exists(spark, "t_tmp")
    C.drop_table(spark, "t_tmp")
    assert not C.table_exists(spark, "t_tmp")


def test_partition_filter_full_grammar(spark, sf_dir):
    """Reference grammar: and or like ( ) = <> < > <= >=
    (HCatTap.java:76-88) over the enumeration API."""
    C.drop_table(spark, "t_ord_grammar")
    orders = load_table(spark, sf_dir, "orders").withColumn(
        "o_year", F.year("o_orderdate").cast("string")
    ).withColumn("o_pri", F.substring("o_orderpriority", 1, 1))
    C.create_table(spark, "t_ord_grammar", orders, partition_by=["o_year", "o_pri"])
    try:
        allp = C.partitions(spark, "t_ord_grammar")
        years = sorted({p["o_year"] for p in allp})
        pris = sorted({p["o_pri"] for p in allp})
        got = C.partitions(
            spark,
            "t_ord_grammar",
            filter=(
                f"(o_year = '{years[0]}' or o_year > '{years[-1]}') "
                f"and o_pri like '{pris[0]}%' and o_pri <> 'zzz'"
            ),
        )
        want = [p for p in allp if p["o_year"] == years[0] and p["o_pri"] == pris[0]]
        assert sorted(got, key=str) == sorted(want, key=str)
        lt = C.partitions(spark, "t_ord_grammar", filter=f"o_year <= '{years[0]}'")
        assert {p["o_year"] for p in lt} == {years[0]}
    finally:
        C.drop_table(spark, "t_ord_grammar")


def test_publish_partition_swaps_one_partition(spark, sf_dir, tmp_path):
    """A18 at partition granularity: repoint ONE partition; other
    partitions keep their data; re-publish swaps again (old-or-new,
    never partial)."""
    C.drop_table(spark, "t_part_pub")
    region = load_table(spark, sf_dir, "region").withColumn(
        "side", (F.col("r_regionkey") % 2).cast("string")
    )
    C.create_table(spark, "t_part_pub", region, partition_by=["side"])
    try:
        before = spark.table("t_part_pub").count()
        n_side0 = spark.table("t_part_pub").filter("side = '0'").count()
        n_side1 = before - n_side0
        # publish a 1-row replacement for side=0 at a fresh location
        repl = region.filter("side = '0'").drop("side").limit(1)
        C.publish_partition(spark, repl, "t_part_pub", {"side": "0"}, str(tmp_path / "s0v2"))
        assert spark.table("t_part_pub").filter("side = '0'").count() == 1
        assert spark.table("t_part_pub").filter("side = '1'").count() == n_side1
        # and a brand-new partition via ADD PARTITION
        C.publish_partition(
            spark, repl, "t_part_pub", {"side": "9"}, str(tmp_path / "s9v1")
        )
        assert spark.table("t_part_pub").filter("side = '9'").count() == 1
        assert {p["side"] for p in C.partitions(spark, "t_part_pub")} == {"0", "1", "9"}
    finally:
        C.drop_table(spark, "t_part_pub")


def test_publish_partition_rejects_quoted_values(spark, sf_dir, tmp_path):
    """DDL-breaking partition values / paths fail loudly instead of
    producing a malformed ALTER TABLE (ADVICE r2)."""
    region = load_table(spark, sf_dir, "region").limit(1)
    with pytest.raises(ValueError, match="quote"):
        C.publish_partition(
            spark, region, "t_nope", {"side": "o'brien"}, str(tmp_path / "x")
        )
    with pytest.raises(ValueError, match="quote"):
        C.publish_partition(spark, region, "t_nope", {"side": "0"}, "/tmp/o'x")


def test_publish_partition_special_chars_republish(spark, sf_dir, tmp_path):
    """Partition values Hive URL-escapes in partition paths (':')
    must round-trip through the catalog's membership test: the second
    publish of the same spec must repoint the partition, not fail in
    ADD PARTITION (ADVICE r2)."""
    C.drop_table(spark, "t_esc_pub")
    region = load_table(spark, sf_dir, "region").withColumn("side", F.lit("a:b"))
    C.create_table(spark, "t_esc_pub", region, partition_by=["side"])
    try:
        assert {p["side"] for p in C.partitions(spark, "t_esc_pub")} == {"a:b"}
        repl = region.drop("side").limit(1)
        C.publish_partition(spark, repl, "t_esc_pub", {"side": "a:b"}, str(tmp_path / "v1"))
        assert spark.table("t_esc_pub").filter(F.col("side") == "a:b").count() == 1
        # re-publish the SAME spec: must take the SET LOCATION branch
        C.publish_partition(spark, repl, "t_esc_pub", {"side": "a:b"}, str(tmp_path / "v2"))
        assert spark.table("t_esc_pub").filter(F.col("side") == "a:b").count() == 1
    finally:
        C.drop_table(spark, "t_esc_pub")


def test_overwrite_partitions_dynamic(spark, sf_dir):
    """Dynamic partition overwrite: only partitions present in the
    incoming frame are replaced."""
    C.drop_table(spark, "t_dyn")
    region = load_table(spark, sf_dir, "region").withColumn(
        "side", (F.col("r_regionkey") % 2).cast("string")
    )
    C.create_table(spark, "t_dyn", region, partition_by=["side"])
    try:
        n_side1 = spark.table("t_dyn").filter("side = '1'").count()
        repl = region.filter("side = '0'").limit(1)
        C.overwrite_partitions(spark, repl, "t_dyn")
        assert spark.table("t_dyn").filter("side = '0'").count() == 1  # replaced
        assert spark.table("t_dyn").filter("side = '1'").count() == n_side1  # intact
    finally:
        C.drop_table(spark, "t_dyn")


def test_partition_metadata_filter_pushdown(spark, sf_dir):
    """VERDICT r10 #4 (CascadingHCatUtil.java:75-95 parity): equality
    filters push INTO the catalog as a partial partition spec
    (``listPartitions(db, table, Some(spec))``), so non-matching specs
    are never materialized; any other grammar goes to the catalog as a
    predicate (``listPartitionsByFilter``), so the Python driver only
    ever receives matching specs."""
    from cascading_hive_spark.catalog import _equality_partial_spec

    # -- parser: what pushes as a spec and what goes as a predicate
    assert _equality_partial_spec("ds = '20120401'", {"ds"}) == {"ds": "20120401"}
    # unquoted NUMERIC equality is NOT pushed (ADVICE r11): it takes
    # the predicate path so 'ds = 401' coerces numerically,
    # consistent with 'ds <= 401' — a string-spec push would miss a
    # '0401' partition the numeric semantics match
    assert _equality_partial_spec("ds=20120401", {"ds"}) is None
    # unquoted non-numeric barewords still push (the predicate path
    # would parse 'us' as a column reference)
    assert _equality_partial_spec("region = us", {"region"}) == {"region": "us"}
    assert _equality_partial_spec(
        'ds = \'2012\' and region = "us"', {"ds", "region"}
    ) == {"ds": "2012", "region": "us"}
    assert _equality_partial_spec("(ds = '1' and r = '2')", {"ds", "r"}) == {
        "ds": "1",
        "r": "2",
    }
    assert _equality_partial_spec("ds >= '2012'", {"ds"}) is None  # range
    assert _equality_partial_spec("ds = '1' or ds = '2'", {"ds"}) is None  # OR
    assert _equality_partial_spec("ds like '2012%'", {"ds"}) is None  # LIKE
    assert _equality_partial_spec("v = '1'", {"ds"}) is None  # not a part col
    assert _equality_partial_spec("ds = '1' and ds = '2'", {"ds"}) is None  # dup
    assert _equality_partial_spec("ds = 'o''x'", {"ds"}) is None  # quote

    # -- end-to-end over a real partitioned table
    C.drop_table(spark, "t_meta_push")
    orders = load_table(spark, sf_dir, "orders").withColumn(
        "o_year", F.year("o_orderdate").cast("string")
    )
    C.create_table(spark, "t_meta_push", orders, partition_by=["o_year"])
    try:
        years = sorted({p["o_year"] for p in C.partitions(spark, "t_meta_push")})
        assert len(years) >= 2
        got = C.partitions(spark, "t_meta_push", filter=f"o_year = '{years[0]}'")
        assert got == [{"o_year": years[0]}]
        # the SQL form of the same partial-spec match agrees
        raw = spark.sql(
            f"SHOW PARTITIONS t_meta_push PARTITION (`o_year` = '{years[0]}')"
        ).collect()
        assert len(raw) == 1, raw
        # unquoted numeric style ("ds=20120401") resolves via the
        # predicate path (numeric coercion), same result here
        got2 = C.partitions(spark, "t_meta_push", filter=f"o_year = {years[0]}")
        assert got2 == got
        # range grammar goes to the catalog as a predicate
        got3 = C.partitions(spark, "t_meta_push", filter=f"o_year <= '{years[0]}'")
        assert {p["o_year"] for p in got3} == {years[0]}
    finally:
        C.drop_table(spark, "t_meta_push")


def test_pushed_equality_agrees_with_expression_fallback(spark):
    """The coercion contract made executable (ADVICE r11): a QUOTED
    equality filter must return identical specs whether it takes the
    pushed partial-spec path or the ``listPartitionsByFilter``
    predicate path — across URL-escaped chars, spaces, '+' (the
    URLDecoder trap), '%', and numeric-looking strings with leading
    zeros (where only exact STRING compare is correct). The predicate
    path is forced by appending a no-op OR clause,
    which knocks the filter out of the pushable grammar without
    changing its meaning."""
    vals = ["0401", "401", "us west", "a:b", "A+B", "100%", "x=y"]
    C.drop_table(spark, "t_push_eq")
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "id INT, p STRING"
    )
    C.create_table(spark, "t_push_eq", df, partition_by=["p"])
    try:
        assert {x["p"] for x in C.partitions(spark, "t_push_eq")} == set(vals)
        for v in vals:
            pushed = C.partitions(spark, "t_push_eq", filter=f"p = '{v}'")
            fallback = C.partitions(
                spark, "t_push_eq", filter=f"(p = '{v}') or (1 = 0)"
            )
            assert pushed == fallback == [{"p": v}], (v, pushed, fallback)
    finally:
        C.drop_table(spark, "t_push_eq")
    # unquoted numeric equality: NOT pushed, numeric coercion — '401'
    # and '0401' BOTH match p = 401 on the expression path. (Checked
    # on an all-numeric table: under ANSI mode the int coercion of a
    # non-numeric partition value raises, which is the documented
    # reason to quote values for the exact-string fast path.)
    C.drop_table(spark, "t_push_num")
    dfn = spark.createDataFrame(
        [(0, "0401"), (1, "401"), (2, "500")], "id INT, p STRING"
    )
    C.create_table(spark, "t_push_num", dfn, partition_by=["p"])
    try:
        got = {x["p"] for x in C.partitions(spark, "t_push_num", filter="p = 401")}
        assert got == {"401", "0401"}, got
    finally:
        C.drop_table(spark, "t_push_num")


# --- metadata without Spark jobs ---------------------------------------
#
# Listing partitions reads catalog metadata only. PySpark's
# ``spark.catalog.listColumns`` and a collected spec DataFrame each run
# Spark jobs for the same answer, so these tests count the jobs Spark
# ran under the call's job group.

_RAW = ["0401", "401", "us west", "a:b", "A+B", "100%", "x=y"]


@pytest.fixture(scope="module")
def raw_table(spark):
    C.drop_table(spark, "t_raw_specs")
    df = spark.createDataFrame(
        [(i, v, i % 2) for i, v in enumerate(_RAW)], "id INT, p STRING, q INT"
    )
    C.create_table(spark, "t_raw_specs", df, partition_by=["p", "q"])
    yield "t_raw_specs"
    C.drop_table(spark, "t_raw_specs")


_EVERY = {(v, i % 2) for i, v in enumerate(_RAW)}


@pytest.mark.parametrize(
    "filter_, want",
    [
        (None, _EVERY),
        ("", _EVERY),
        ("p = 'A+B'", {("A+B", 0)}),  # pushed as a partial spec
        ("q >= 1", {(v, q) for v, q in _EVERY if q >= 1}),  # range
        ("p like 'A+%' or p = 'x=y'", {("A+B", 0), ("x=y", 0)}),  # LIKE / OR
        ("p = '401' and q >= 1", {("401", 1)}),  # equality + range, two columns
    ],
)
def test_partition_listing_runs_no_job(spark, status, raw_table, filter_, want):
    got = status.run(lambda: C.partitions(spark, raw_table, filter_))
    assert {(x["p"], int(x["q"])) for x in got.value} == want
    assert got.jobs == [], got.jobs


@pytest.mark.parametrize(
    "filter_, want",
    [
        ("p like 'A+%'", "A+B"),
        ("p like '1%'", "100%"),
        ("p like '% %'", "us west"),
        ("p like '%:%'", "a:b"),
        ("p like '%=%'", "x=y"),
    ],
)
def test_predicate_path_returns_raw_values(spark, raw_table, filter_, want):
    """Values with characters Hive escapes in partition paths come back
    as stored from the predicate path too, not path-escaped."""
    assert [x["p"] for x in C.partitions(spark, raw_table, filter_)] == [want]


def test_data_column_filter_raises(spark, raw_table):
    with pytest.raises(ValueError, match=r"\['id'\]"):
        C.partitions(spark, raw_table, "id = 1 and q = 0")


def test_publish_partition_runs_only_its_write_jobs(spark, status, tmp_path):
    C.drop_table(spark, "t_pub_jobs")
    df = spark.createDataFrame([(i, str(i % 2)) for i in range(6)], "id INT, side STRING")
    C.create_table(spark, "t_pub_jobs", df, partition_by=["side"])
    try:
        repl = df.filter("side = '0'").drop("side")
        write = status.run(
            lambda: repl.write.format("parquet").mode("overwrite").save(str(tmp_path / "w"))
        )
        assert write.jobs
        for side, path in (("0", "s0v2"), ("7", "s7v1"), ("7", "s7v2")):
            pub = status.run(
                lambda: C.publish_partition(
                    spark, repl, "t_pub_jobs", {"side": side}, str(tmp_path / path)
                )
            )
            assert len(pub.jobs) == len(write.jobs), (side, path, pub.jobs)
            assert spark.table("t_pub_jobs").filter(F.col("side") == side).count() == 3
        assert [p["side"] for p in C.partitions(spark, "t_pub_jobs")] == ["0", "1", "7"]
    finally:
        C.drop_table(spark, "t_pub_jobs")
