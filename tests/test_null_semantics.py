"""Null-handling corners from SURVEY.md §7's risk register, exercised
with explicitly-constructed null rows (the driver tables are
null-free, so these paths need synthetic data)."""

from __future__ import annotations

from pyspark.sql import functions as F

from cascading_hive_spark.operators import relational as R


def test_expression_filter_keeps_null_rows(spark):
    # Cascading ExpressionFilter evaluates Java primitives — a null
    # never reaches the comparison, so null rows are NOT removed.
    # Spark three-valued logic would drop them with a bare ~expr.
    df = spark.createDataFrame(
        [(1, 5.0), (2, None), (3, 150.0), (4, None), (5, 99.9)],
        "id int, v double",
    )
    kept = R.expression_filter(df, "v > 100.0").collect()
    ids = sorted(r.id for r in kept)
    assert ids == [1, 2, 4, 5]  # 3 removed; null rows 2 and 4 KEPT


def test_asof_join_left_keeps_unmatched(spark):
    from cascading_hive_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", 7), (2, "2024-01-01 09:00:00", 8)],
        "eid int, ts string, k int",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    right = spark.createDataFrame(
        [("2024-01-01 09:30:00", 7, 100)], "rts string, rk int, payload int"
    ).withColumn("rts", F.col("rts").cast("timestamp"))
    out = asof_join(
        left, right, "ts", "rts", "k", "rk", ["payload"], how="left"
    ).collect()
    by = {r.eid: r.payload for r in out}
    assert by == {1: 100, 2: None}  # eid=2 precedes all rights -> null kept
    inner = asof_join(left, right, "ts", "rts", "k", "rk", ["payload"], how="inner")
    assert [r.eid for r in inner.collect()] == [1]


def test_asof_join_inclusive_at_equal_ts(spark):
    from cascading_hive_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, "2024-01-01 09:30:00", 7)], "eid int, ts string, k int"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    right = spark.createDataFrame(
        [("2024-01-01 09:30:00", 7, 42)], "rts string, rk int, payload int"
    ).withColumn("rts", F.col("rts").cast("timestamp"))
    out = asof_join(left, right, "ts", "rts", "k", "rk", ["payload"]).collect()
    assert out[0].payload == 42  # ts == right ts matches (inclusive)


def test_asof_join_null_payload_travels_as_one_row(spark):
    """A matched right row with NULL in a payload column must carry
    that NULL — not substitute the column from an OLDER right row —
    and must still count as a match for 'inner' even when the FIRST
    value column is the null one (merge_asof/DuckDB semantics: match
    rows, not non-null values)."""
    from cascading_hive_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", 7)], "eid int, ts string, k int"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    right = spark.createDataFrame(
        [
            ("2024-01-01 08:00:00", 7, 100, "old"),
            ("2024-01-01 09:00:00", 7, None, None),  # the true match
        ],
        "rts string, rk int, a int, b string",
    ).withColumn("rts", F.col("rts").cast("timestamp"))
    out = asof_join(
        left, right, "ts", "rts", "k", "rk", ["a", "b"], how="inner"
    ).collect()
    assert len(out) == 1  # matched (not dropped for null first col)
    assert out[0].a is None and out[0].b is None  # no mixing with the 8:00 row


def test_asof_join_forward_and_nearest(spark):
    from cascading_hive_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 100, 7), (2, 205, 7), (3, 900, 7)], "eid int, ts long, k int"
    )
    right = spark.createDataFrame(
        [(90, 7, "a"), (210, 7, "b"), (300, 7, "c")], "rts long, rk int, v string"
    )
    fwd = {
        r.eid: r.v
        for r in asof_join(
            left, right, "ts", "rts", "k", "rk", ["v"], how="left", direction="forward"
        ).collect()
    }
    assert fwd == {1: "b", 2: "b", 3: None}  # smallest rts >= ts; 900 unmatched
    near = {
        r.eid: r.v
        for r in asof_join(
            left, right, "ts", "rts", "k", "rk", ["v"], how="left", direction="nearest"
        ).collect()
    }
    assert near == {1: "a", 2: "b", 3: "c"}  # |100-90|<|210-100|; |205-210|<|205-90|


def test_asof_join_tolerance(spark):
    from cascading_hive_spark.operators.asof import asof_join

    left = spark.createDataFrame([(1, 100, 7), (2, 500, 7)], "eid int, ts long, k int")
    right = spark.createDataFrame([(95, 7, "a")], "rts long, rk int, v string")
    out = {
        r.eid: r.v
        for r in asof_join(
            left, right, "ts", "rts", "k", "rk", ["v"], how="left", tolerance=F.lit(10)
        ).collect()
    }
    assert out == {1: "a", 2: None}  # 500-95=405 > 10 -> out of tolerance
    inner = asof_join(
        left, right, "ts", "rts", "k", "rk", ["v"], how="inner", tolerance=F.lit(10)
    )
    assert [r.eid for r in inner.collect()] == [1]


def test_asof_join_nearest_matches_pandas(spark):
    """Property check against pandas.merge_asof on random data."""
    import numpy as np
    import pandas as pd

    rng = np.random.RandomState(5)
    lp = pd.DataFrame(
        {
            "ts": np.sort(rng.randint(0, 10_000, 400)),
            "k": rng.randint(0, 5, 400),
            "eid": np.arange(400),
        }
    )
    rp = pd.DataFrame(
        {
            "rts": np.sort(rng.randint(0, 10_000, 150)),
            "rk": rng.randint(0, 5, 150),
            "v": np.arange(150),
        }
    )
    from cascading_hive_spark.operators.asof import asof_join

    for direction in ("backward", "forward", "nearest"):
        want = pd.merge_asof(
            lp, rp, left_on="ts", right_on="rts", left_by="k", right_by="rk",
            direction=direction,
        )
        got = asof_join(
            spark.createDataFrame(lp),
            spark.createDataFrame(rp),
            "ts", "rts", "k", "rk", ["v"], how="left", direction=direction,
        ).toPandas().sort_values("eid")
        wv = want.sort_values("eid")["v"].tolist()
        gv = got["v"].tolist()
        mism = [
            (i, a, b)
            for i, (a, b) in enumerate(zip(wv, gv))
            if (pd.isna(a) != pd.isna(b)) or (not pd.isna(a) and a != b)
        ]
        assert not mism, (direction, mism[:5])


def test_count_by_counts_null_keys_as_group(spark):
    df = spark.createDataFrame([("a",), (None,), ("a",), (None,)], "k string")
    got = {r.k: r.cnt for r in R.count_by(df, ["k"]).collect()}
    assert got == {"a": 2, None: 2}  # SQL group-by keeps a NULL group


def test_tokenize_null_text_yields_no_rows(spark):
    df = spark.createDataFrame([(1, "a b"), (2, None)], "id int, t string")
    out = R.tokenize(df, "t", " ")
    assert out.count() == 2  # explode(null array) emits nothing


def test_tokenize_alternation_pattern_trailing_strip(spark):
    """The trailing-separator strip must group the pattern: with an
    alternation separator 'xx|yy', a text ending in 'xxyy' drops BOTH
    trailing separators (Java split limit=0), not just the last."""
    df = spark.createDataFrame([("a", "1xx2yyxxyy")], "k string, t string")
    toks = [r.token for r in R.tokenize(df, "t", "xx|yy").collect()]
    assert toks == ["1", "2"]


def test_connected_components_raises_on_nonconvergence(spark):
    import pytest as _pytest

    from cascading_hive_spark.operators.graph import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], "id_a long, id_b long"
    )
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iterations=2)
    # and with enough rounds the same chain is one component
    out = connected_components(chain, max_iterations=40).collect()
    assert {r.component for r in out} == {0}


def test_connected_components_rejects_nonpositive_rounds(spark):
    """max_iterations <= 0 must raise a meaningful ValueError, not a
    NameError from the never-entered loop (ADVICE r2)."""
    import pytest as _pytest

    from cascading_hive_spark.operators.graph import connected_components

    edges = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    with _pytest.raises(ValueError, match="max_iterations"):
        connected_components(edges, max_iterations=0)


def test_dedup_id_column_must_be_integral(spark):
    """String ids must raise, not silently cast to NULL and emit
    empty pair output (ADVICE r2)."""
    import pytest as _pytest

    from cascading_hive_spark.operators import dedup as D

    docs = spark.createDataFrame(
        [("a", "x y z"), ("b", "x y z")], "doc_id string, text string"
    )
    with _pytest.raises(TypeError, match="integral"):
        D.exact_dedup(docs, "doc_id", "text").collect()
    with _pytest.raises(TypeError, match="integral"):
        D.minhash_lsh_pairs(docs, "doc_id", "text").collect()
    vecs = spark.createDataFrame(
        [("a", [1.0, 0.0]), ("b", [1.0, 0.0])], "vec_id string, embedding array<double>"
    )
    with _pytest.raises(TypeError, match="integral"):
        D.embedding_lsh_pairs(vecs, "vec_id", "embedding", dim=2).collect()
