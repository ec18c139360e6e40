"""operators/exact.py: the exact decimal image kernel equals the Spark
expressions it replaces — value and type, row by row and summed — on
doubles chosen to break it: exact ties (k + 0.5)·10^-s and their
nextafter neighbours, negatives, ±0.0, NULL, values past the fast
range, and TPC-H price products. Results are compared as decimals,
never as rounded doubles."""

from __future__ import annotations

import math
import random

import pytest
from pyspark.sql import functions as F

from cascading_hive_spark.operators.exact import _fast, exact_sum, image

SCALES = (6, 7, 9, 12)


def _adversarial(s: int, n: int = 400) -> list[float]:
    rnd = random.Random(1000 + s)
    xs = [0.0, -0.0]
    for _ in range(n):
        t = (rnd.randrange(-10**9, 10**9) + 0.5) / 10**s
        xs += [t, -t, math.nextafter(t, math.inf), math.nextafter(t, -math.inf)]
    for _ in range(n):
        price = rnd.randrange(90_000, 10_500_000) / 100
        disc, tax = rnd.randrange(0, 11) / 100, rnd.randrange(0, 9) / 100
        xs += [price * (1 - disc) * (1 + tax), price * (1 - disc), -price * disc]
    for _ in range(n):
        xs.append(rnd.uniform(-1, 1) * 10 ** rnd.uniform(-s - 2, 6))
    # |x| * 10^s from 2^40 to past the fast range (2^49), inside DECIMAL(18, s)
    for k in (1, 3, 1000, 10**5):
        xs += [k * 2**40 / 10**s + 0.5 / 10**s, -k * 2**40 / 10**s * 1.37]
    return [x for x in xs if abs(x) < 10 ** (18 - s)]


def _frame(spark, s: int):
    rows = [(i % 7, float(x)) for i, x in enumerate(_adversarial(s))]
    return spark.createDataFrame(rows + [(3, None)], "g int, x double")


@pytest.mark.parametrize("s", SCALES)
def test_image_equals_the_decimal_cast_row_by_row(spark, s):
    df = _frame(spark, s)
    out = df.select(
        F.expr(f"CAST({image('x', s)} AS DECIMAL(38, 0))").alias("new"),
        F.expr(f"CAST(CAST(x AS DECIMAL(38, {s})) * {10**s}BD AS DECIMAL(38, 0))").alias("cast"),
        F.expr(
            f"CAST(CAST(round(x, {s}) AS DECIMAL(38, {s})) * {10**s}BD AS DECIMAL(38, 0))"
        ).alias("rounded"),
        F.expr(f"({_fast('x', s)}) IS NOT NULL").alias("fast"),
    )
    assert dict(out.dtypes)["new"] == "decimal(38,0)"
    bad = out.filter("NOT (new <=> cast) OR NOT (new <=> rounded)").limit(5).collect()
    assert not bad, bad
    # both paths are exercised: exact ties and values past 2^49 take the
    # fallback, most of the rest the fast path
    share = out.agg(F.avg(F.col("fast").cast("double"))).first()[0]
    assert 0.05 < share < 0.9, share


@pytest.mark.parametrize("s", SCALES)
@pytest.mark.parametrize("p", [18, 38])
def test_exact_sum_equals_the_decimal_sum(spark, s, p):
    df = _frame(spark, s)
    out = df.groupBy("g").agg(
        F.expr(exact_sum("x", s, p)).alias("new"),
        F.expr(f"sum(CAST(x AS DECIMAL({p}, {s})))").alias("cast"),
        F.expr(f"sum(CAST(round(x, {s}) AS DECIMAL({p}, {s})))").alias("rounded"),
    )
    types = dict(out.dtypes)
    assert types["new"] == types["cast"] == f"decimal({min(38, p + 10)},{s})"
    rows = out.collect()
    assert len(rows) == 7
    bad = [r for r in rows if not (r.new == r.cast == r.rounded)]
    assert not bad, bad


def test_exact_sum_window_form(spark):
    df = _frame(spark, 6).withColumn("i", F.monotonically_increasing_id())
    w = "PARTITION BY g ORDER BY i ROWS BETWEEN 5 PRECEDING AND CURRENT ROW"
    out = df.select(
        F.expr(f"{exact_sum('x', 6, 18, over=w)}").alias("new"),
        F.expr(f"sum(CAST(x AS DECIMAL(18, 6))) OVER ({w})").alias("old"),
    )
    assert dict(out.dtypes)["new"] == dict(out.dtypes)["old"] == "decimal(28,6)"
    assert out.filter("NOT (new <=> old)").count() == 0


@pytest.mark.parametrize("s", [7, 9])
def test_image_fold_equals_the_decimal_fold(spark, s):
    xs = _adversarial(s, 60)
    arrays = [xs[i : i + 11] for i in range(0, len(xs), 11)]
    df = spark.createDataFrame([(a,) for a in arrays], "xs array<double>")
    out = df.select(
        F.expr(f"aggregate(xs, 0L, (acc, e) -> acc + {image('e', s)})").alias("new"),
        F.expr(
            f"aggregate(xs, CAST(0 AS DECIMAL(37, {s})),"
            f" (acc, e) -> CAST(acc + CAST(e AS DECIMAL(30, {s})) AS DECIMAL(37, {s})))"
        ).alias("old"),
    )
    for r in out.collect():
        assert r.new == r.old.scaleb(s), r


def test_nan_infinity_null_and_empty_groups_as_before(spark):
    df = spark.createDataFrame(
        [(1, float("nan")), (1, 2.5), (2, float("inf")), (2, float("-inf")), (3, None)],
        "g int, x double",
    ).union(spark.createDataFrame([(4, 1.0)], "g int, x double").filter("g < 0"))
    out = {
        r.g: (r.new, r.old)
        for r in df.groupBy("g")
        .agg(
            F.expr(exact_sum("x", 6, 18)).alias("new"),
            F.expr("sum(CAST(x AS DECIMAL(18, 6)))").alias("old"),
        )
        .collect()
    }
    assert set(out) == {1, 2, 3}
    for g, (new, old) in out.items():
        assert new == old, (g, new, old)
    # the integer form's explicit fallback keeps a site's own NaN error
    nan = spark.createDataFrame([(float("nan"),)], "x double")
    for expr in ("CAST(round(x, 0) AS BIGINT)", image("x", 0, fallback="CAST(round(x, 0) AS BIGINT)")):
        with pytest.raises(Exception, match="CAST_OVERFLOW"):
            nan.select(F.expr(expr)).collect()


def test_group_sums_past_bigint_keep_their_value_and_overflow_raises(spark):
    # 20 images of 9.99e17: the group sum passes 2^63 unscaled but fits
    # DECIMAL(28, 6), so it keeps the old value
    big = spark.createDataFrame([(999_999_999_999.5,)] * 20, "x double")
    new, old = big.agg(
        F.expr(exact_sum("x", 6, 18)), F.expr("sum(CAST(x AS DECIMAL(18, 6)))")
    ).first()
    assert new == old and new > 2**63 / 10**6
    # a row past DECIMAL(18, 6) raises in both
    for expr in (exact_sum("x", 6, 18), "sum(CAST(x AS DECIMAL(18, 6)))"):
        with pytest.raises(Exception, match="NUMERIC_VALUE_OUT_OF_RANGE"):
            spark.createDataFrame([(1e13,)], "x double").agg(F.expr(expr)).collect()
    # above precision 18 a row image past BIGINT still sums exactly
    huge = spark.createDataFrame([(1e20,), (-3.25,)], "x double")
    new, old = huge.agg(
        F.expr(exact_sum("x", 6, 38)), F.expr("sum(CAST(x AS DECIMAL(38, 6)))")
    ).first()
    assert new == old
    # a group sum past the result type raises in both, never wraps
    over = spark.createDataFrame([(6e31,), (6e31,)], "x double")
    for expr in (exact_sum("x", 6, 38), "sum(CAST(x AS DECIMAL(38, 6)))"):
        with pytest.raises(Exception, match="NUMERIC_VALUE_OUT_OF_RANGE|ARITHMETIC_OVERFLOW"):
            over.agg(F.expr(expr)).collect()
