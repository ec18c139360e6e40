"""Scale-pattern tests: salting equivalence, bucketed co-located joins,
spread behavior."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cascading_hive_spark.operators import relational as R
from cascading_hive_spark.tables import load_table


def test_salted_group_count_equals_plain(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    plain = {(r.event_type, r.cnt) for r in R.count_by(ev, ["event_type"]).collect()}
    salted = {
        (r.event_type, r.cnt)
        for r in R.salted_group_count(ev, ["event_type"], salt_buckets=16).collect()
    }
    assert salted == plain


def test_salted_join_equals_plain(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", (F.col("user_id") % 25).cast("int").alias("n_nationkey")
    )
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    plain = {(r.event_id, r.n_name) for r in ev.join(n, "n_nationkey").collect()}
    salted = {
        (r.event_id, r.n_name)
        for r in R.salted_join_small_skewed(ev, n, "n_nationkey").collect()
    }
    assert salted == plain


def test_bucketed_tables_join_without_shuffle(spark, sf_dir):
    """Bucketing = the reference's bucket-map-join intent
    (hive.optimize.bucketmapjoin, hive-site.xml:44-51): two tables
    bucketed on the join key co-locate, so the sort-merge join needs NO
    exchange on either side."""
    from cascading_hive_spark import catalog as C

    C.drop_table(spark, "b_orders")
    C.drop_table(spark, "b_customer")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    try:
        (
            orders.write.format("parquet")
            .bucketBy(8, "o_custkey")
            .sortBy("o_custkey")
            .mode("overwrite")
            .saveAsTable("b_orders")
        )
        (
            customer.write.format("parquet")
            .bucketBy(8, "c_custkey")
            .sortBy("c_custkey")
            .mode("overwrite")
            .saveAsTable("b_customer")
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ path
        try:
            j = spark.table("b_orders").join(
                spark.table("b_customer"),
                F.col("o_custkey") == F.col("c_custkey"),
            )
            plan = j._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in plan, f"bucketed join still shuffles:\n{plan}"
            assert j.count() == orders.count()
        finally:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    finally:
        C.drop_table(spark, "b_orders")
        C.drop_table(spark, "b_customer")


def test_spread_plan_side_probe(spark, sf_dir, tmp_path):
    """spread() decides from the file index (plan-side metadata), not
    from df.rdd.getNumPartitions() — the round-1 version materialized
    a physical plan + RDD conversion on EVERY operator invocation. A
    many-file scan passes through untouched; a narrow input gets
    spread to cluster parallelism."""
    from cascading_hive_spark.operators.dedup import spread

    target = spark.sparkContext.defaultParallelism
    wide_path = str(tmp_path / "wide")
    load_table(spark, sf_dir, "orders").repartition(max(64, target)).write.parquet(wide_path)
    wide = spark.read.parquet(wide_path)
    assert len(wide.inputFiles()) >= target
    assert spread(wide) is wide  # no extra exchange inserted
    narrow = load_table(spark, sf_dir, "lineitem").coalesce(1)
    assert spread(narrow).rdd.getNumPartitions() >= target


def test_deterministic_split_stable_and_sized(spark, sf_dir):
    from cascading_hive_spark.operators.text import deterministic_split

    docs = load_table(spark, sf_dir, "documents")
    a = deterministic_split(docs, "doc_id", test_permille=100)
    b = deterministic_split(docs.repartition(13), "doc_id", test_permille=100)
    ga = {r.doc_id: r.split for r in a.select("doc_id", "split").collect()}
    gb = {r.doc_id: r.split for r in b.select("doc_id", "split").collect()}
    assert ga == gb  # partitioning-independent assignment
    frac = sum(1 for v in ga.values() if v == "test") / len(ga)
    assert 0.05 < frac < 0.15  # ~10%


def test_write_max_records_per_file(spark, sf_dir, tmp_path):
    import os

    from cascading_hive_spark import io as IO
    from cascading_hive_spark.tables import load_table as lt

    li = lt(spark, sf_dir, "lineitem").coalesce(1)
    path = str(tmp_path / "capped")
    IO.write_table(li, path, max_records_per_file=1000)
    files = [f for f in os.listdir(path) if f.endswith(".parquet")]
    assert len(files) >= 5  # 6000 rows / 1000 cap


def test_partial_agg_merge_is_lossless(spark, sf_dir):
    """The mergeability law behind incremental_agg_merge:
    merge(partial(A), partial(B)) == partial(A ∪ B) EXACTLY — counts
    add, decimal-image sums add with no float reassociation. Split
    three ways (incl. an empty slice) to exercise merge arity and the
    empty-state edge."""
    from cascading_hive_spark.operators import relational as R
    from cascading_hive_spark.tables import load_table
    from pyspark.sql import functions as F

    ev = load_table(spark, sf_dir, "events").select(
        F.col("ts").cast("date").alias("day"), "event_type", "value"
    )
    a = ev.filter(F.dayofmonth("day") <= 10)
    b = ev.filter(F.dayofmonth("day") > 10)
    empty = ev.filter(F.lit(False))
    merged = R.merge_partial_aggs(
        R.partial_agg(a, ["day", "event_type"], "value"),
        R.partial_agg(b, ["day", "event_type"], "value"),
        R.partial_agg(empty, ["day", "event_type"], "value"),
    )
    full = R.partial_agg(ev, ["day", "event_type"], "value")
    key = lambda r: (str(r.day), r.event_type)  # noqa: E731
    got = {key(r): (r.cnt, str(r.sum_img)) for r in merged.collect()}
    want = {key(r): (r.cnt, str(r.sum_img)) for r in full.collect()}
    assert got == want and len(got) > 0


def test_bucket_pruning_on_point_lookup(spark, sf_dir):
    """A point lookup on the bucketing column must scan ONE bucket,
    not the table (SelectedBucketsCount in the scan node) — the
    bucket-pruned read that makes bucketed layouts pay off for
    key-lookup workloads, not just joins."""
    from cascading_hive_spark.tables import load_table

    name = "orders_bucketed_prune_test"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    try:
        (
            load_table(spark, sf_dir, "orders")
            .select("o_orderkey", "o_custkey", "o_totalprice")
            .write.bucketBy(8, "o_custkey")
            .sortBy("o_custkey")
            .saveAsTable(name)
        )
        # autoBucketedScan turns bucketed reading off for filter-only
        # plans (no exchange to avoid) and pruning goes with it —
        # disable it so the point lookup keeps the bucketed scan
        spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
        try:
            q = spark.table(name).filter("o_custkey = 421")
            plan = q._jdf.queryExecution().executedPlan().toString()
            assert "SelectedBucketsCount: 1 out of 8" in plan, plan
            assert q.count() >= 0  # executes
        finally:
            spark.conf.unset("spark.sql.sources.bucketing.autoBucketedScan.enabled")
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_merge_partial_aggs_explicit_keys_and_validation(spark):
    """Keys can be passed explicitly (mirroring partial_agg) so a
    grouping key named cnt/sum_img can't be silently folded into the
    state columns; partials with mismatched column sets raise instead
    of null-filling (ADVICE r8)."""
    a = spark.createDataFrame([("x", 1.0), ("y", 2.0)], "k string, v double")
    b = spark.createDataFrame([("x", 3.0)], "k string, v double")
    pa = R.partial_agg(a, ["k"], "v")
    pb = R.partial_agg(b, ["k"], "v")
    got = {
        r.k: (r.cnt, str(r.sum_img))
        for r in R.merge_partial_aggs(pa, pb, keys=["k"]).collect()
    }
    assert got == {"x": (2, "4.000000"), "y": (1, "2.000000")}
    with pytest.raises(ValueError, match="disagree on columns"):
        R.merge_partial_aggs(pa, pb.withColumnRenamed("k", "kk"))
    with pytest.raises(ValueError, match="keys not present"):
        R.merge_partial_aggs(pa, pb, keys=["nope"])


def test_merge_partial_aggs_raises_on_dropped_columns(spark):
    """Explicit keys that omit a column present in the partials must
    raise, not silently drop it from the merged output (ADVICE r9)."""
    a = spark.createDataFrame(
        [("x", "u", 1.0), ("y", "v", 2.0)], "k string, k2 string, v double"
    )
    pa = R.partial_agg(a, ["k", "k2"], "v")
    with pytest.raises(ValueError, match="would be dropped"):
        R.merge_partial_aggs(pa, pa, keys=["k"])
    # projecting the extra key away first is the documented escape
    ok = R.merge_partial_aggs(
        pa.drop("k2"), pa.drop("k2"), keys=["k"]
    ).collect()
    assert {r.k for r in ok} == {"x", "y"}


def _brute_skyline(rows, n_min, n_max):
    """O(n²) NOT-EXISTS reference: r survives iff no s dominates it."""
    out = []
    for r in rows:
        dominated = False
        for s in rows:
            le = all(s[i] <= r[i] for i in range(n_min)) and all(
                s[n_min + j] >= r[n_min + j] for j in range(n_max)
            )
            lt = any(s[i] < r[i] for i in range(n_min)) or any(
                s[n_min + j] > r[n_min + j] for j in range(n_max)
            )
            if le and lt:
                dominated = True
                break
        if not dominated:
            out.append(r)
    return sorted(out)


@pytest.mark.parametrize("seed", [7, 19])
def test_skyline_matches_bruteforce_randomized(spark, seed):
    """Randomized differential vs the O(n²) NOT-EXISTS definition,
    with heavy ties (small integer domain) so the tie-keeping rule and
    the geometric kept-buffer growth path are both exercised."""
    import random

    rng = random.Random(seed)
    rows = [
        (i, rng.randint(0, 8), rng.randint(0, 8), rng.randint(0, 4))
        for i in range(400)
    ]
    df = spark.createDataFrame(rows, "id long, a long, b long, c long")
    got = sorted(
        (r.a, r.b, r.c)
        for r in R.skyline(df, minimize=["a", "b"], maximize=["c"]).collect()
    )
    want = _brute_skyline([(a, b, c) for _, a, b, c in rows], 2, 1)
    assert got == want and len(got) > 0


def test_skyline_single_criterion_all_ties(spark):
    """1-criterion, all-tied input: the frontier is EVERY row (ties
    never dominate) — the worst case for the kept-buffer (ADVICE r9:
    the old per-keep vstack was quadratic here)."""
    df = spark.range(3000).select(
        F.col("id"), F.lit(5).cast("long").alias("a")
    )
    assert R.skyline(df, minimize=["a"]).count() == 3000


def test_skyline_max_frontier_guard_raises(spark):
    """Anti-correlated criteria (a + b == const) keep every row on the
    frontier; the per-task guard must fail fast with a diagnosis
    instead of funneling the dataset through one task (VERDICT r9)."""
    df = spark.range(5000).select(
        F.col("id").alias("a"), (5000 - F.col("id")).alias("b")
    )
    with pytest.raises(Exception, match="max_frontier"):
        R.skyline(df, minimize=["a", "b"], max_frontier=500).count()
    # disabled guard completes and keeps everything
    assert (
        R.skyline(df, minimize=["a", "b"], max_frontier=None).count() == 5000
    )


@pytest.mark.parametrize("seed", [3, 23])
def test_skyline_incremental_multibatch_matches_bruteforce(spark, seed):
    """Force tiny Arrow batches so part_skyline's INCREMENTAL path
    (batch-skyline -> cross-screen new-vs-frontier both ways, old
    frontier rows evicted by new dominators) runs for real — at test
    scale everything otherwise fits one batch and the increment never
    executes. Differential vs the O(n²) NOT-EXISTS definition with
    heavy ties, including cross-batch duplicate frontier rows."""
    import random

    rng = random.Random(seed)
    rows = [
        (i, rng.randint(0, 6), rng.randint(0, 6), rng.randint(0, 3))
        for i in range(500)
    ]
    df = spark.createDataFrame(rows, "id long, a long, b long, c long").repartition(2)
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "37")
    try:
        got = sorted(
            (r.a, r.b, r.c)
            for r in R.skyline(df, minimize=["a", "b"], maximize=["c"]).collect()
        )
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    want = _brute_skyline([(a, b, c) for _, a, b, c in rows], 2, 1)
    assert got == want and len(got) > 0


def test_orders_basket_lift_mega_order_cut_before_pair_join(spark, status, shuffled_plans, tmp_path):
    """Shape guard for ``orders_basket_lift``: n orders of 5 lines plus
    ONE planted mega-order of n/2 distinct parts, written as the only
    table of a temporary sf_dir. In-basket pair work is quadratic in
    basket size, so the mega-order alone would put (n/2)^2/2 rows through
    the pair join and its aggregate; the ``_bs <= 1000`` guard drops it
    before the join. Record counters at n and 4n: shuffle records grow
    about 4x (15 % slack), not 16x."""
    import random

    import pyarrow as pa
    import pyarrow.parquet as pq

    from cascading_hive_spark.queries import q_orders_basket_lift

    def lift(n):
        rng = random.Random(n)
        keys = [i % n for i in range(5 * n)] + [n + 1] * (n // 2)
        parts = [rng.randrange(200) for _ in range(5 * n)] + [1000 + i for i in range(n // 2)]
        d = tmp_path / f"n{n}"
        d.mkdir()
        pq.write_table(
            pa.table({"l_orderkey": pa.array(keys, pa.int64()),
                      "l_partkey": pa.array(parts, pa.int64())}),
            str(d / "lineitem.parquet"),
        )
        return status.run(lambda: q_orders_basket_lift(spark, str(d)).count())

    small, big = lift(2_400), lift(9_600)
    assert small.value > 0
    assert big.shuffle_records <= 4.6 * small.shuffle_records, (
        small.shuffle_records, big.shuffle_records)
