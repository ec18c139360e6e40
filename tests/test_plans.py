"""Plan-quality gates: the properties that decide 100 TB behavior.

Each assertion encodes 'the plan I'd want on a 1000-executor cluster':
scans pruned to needed columns, predicates at the source, dimension
joins broadcast, no accidental cartesian products."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from cascading_hive_spark import queries as Q
from cascading_hive_spark.operators.relational import binary_auc
from cascading_hive_spark.plans import (
    assert_broadcast_join,
    assert_no_cartesian,
    assert_pushed_filters,
    assert_read_schema,
    physical_plan,
)


def _q(spark, sf_dir, name):
    return Q.queries()[name](spark, sf_dir)


def test_q1_scan_pruned_and_filter_pushed(spark, sf_dir):
    df = _q(spark, sf_dir, "q1_pricing_summary")
    # only the 7 needed lineitem columns are read, not all 11
    assert_read_schema(
        df,
        ["l_returnflag", "l_quantity", "l_shipdate"],
        ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber"],
    )
    assert_pushed_filters(df, "l_shipdate")


def test_projection_query_prunes(spark, sf_dir):
    df = _q(spark, sf_dir, "b1_projection")
    assert_read_schema(df, ["c_custkey", "c_name", "c_mktsegment"], ["c_acctbal", "c_nationkey"])


def test_dim_join_broadcasts(spark, sf_dir):
    df = _q(spark, sf_dir, "join_broadcast_dims")
    assert_broadcast_join(df)
    assert_no_cartesian(df)


def test_q5_join_tree_no_cartesian(spark, sf_dir):
    df = _q(spark, sf_dir, "q5_local_supplier_volume")
    assert_no_cartesian(df)
    assert_broadcast_join(df)  # region (and under AQE most dims) broadcast


def test_q3_filters_pushed_to_all_scans(spark, sf_dir):
    df = _q(spark, sf_dir, "q3_shipping_priority")
    assert_pushed_filters(df, "c_mktsegment")
    assert_pushed_filters(df, "o_orderdate")
    assert_pushed_filters(df, "l_shipdate")
    assert_no_cartesian(df)


def test_topk_uses_take_ordered(spark, sf_dir):
    from cascading_hive_spark.plans import physical_plan

    df = _q(spark, sf_dir, "q3_shipping_priority")
    assert "TakeOrderedAndProject" in physical_plan(df)


def test_minhash_never_shuffles_shingles(spark, sf_dir, monkeypatch):
    """The LSH bucket shuffle must carry only (id, band, bhash), and the
    round-robin ``spread`` exchange of the portable (md5) path must
    carry the text, not the gram arrays, which are built once after it
    (see operators/dedup.py scale notes).

    The gram tables checked are the ``base`` tables the real operators
    hand to ``_minhash_band_rows``: ``minhash_lsh_pairs`` for both hash
    families and ``minhash_incremental_pairs``. Lineage cuts are
    replaced by the identity, so building the operators runs no job.
    The bucket aggregate is built over each base's band rows with every
    column besides (band, bhash) collected, as bucket members are. A
    formatted plan lists each Exchange's columns under ``Input [..]``;
    a partial aggregate ships its buffer under another name, so the
    aggregate reading the exchange is checked as well."""
    import re

    from cascading_hive_spark.operators import dedup
    from cascading_hive_spark.plans.explain import formatted_plan
    from cascading_hive_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    monkeypatch.setattr(type(docs), "localCheckpoint", lambda df, *a, **k: df)
    band_rows = dedup._minhash_band_rows
    bases = []

    def spy(base, keys, num_perm, bands, portable):
        bases.append((base, keys, num_perm, bands, portable))
        return band_rows(base, keys, num_perm, bands, portable)

    monkeypatch.setattr(dedup, "_minhash_band_rows", spy)
    dedup.minhash_lsh_pairs(docs, "doc_id", "text", portable=False)
    dedup.minhash_lsh_pairs(docs, "doc_id", "text", portable=True)
    new = docs.filter(F.col("doc_id") % 5 == 0)
    dedup.minhash_incremental_pairs(new, docs.subtract(new), "doc_id", "text")
    assert [b[-1] for b in bases] == [False, True, True], bases

    grams = re.compile(r"\b(_g|_gram|_hp|_hs)#")
    for base, keys, num_perm, bands, portable in bases:
        nodes = formatted_plan(base).split("\n\n")
        spreads = [
            i for i, n in enumerate(nodes)
            if re.match(r"\(\d+\) Exchange", n) and "RoundRobinPartitioning(" in n
        ]
        if portable:
            assert len(spreads) == 1, f"expected one spread exchange:\n{nodes}"
            carried = re.search(r"^Input \[\d+\]: \[(.*)\]$", nodes[spreads[0]], re.M)[1]
            assert "_text#" in carried and not grams.search(carried), nodes[spreads[0]]
            ngrams = [i for i, n in enumerate(nodes) if "array_distinct(transform(" in n]
            assert len(ngrams) == 1 and ngrams[0] > spreads[0], (
                f"char_ngrams must run once, after the spread exchange:\n{nodes}"
            )
        rows = band_rows(base, keys, num_perm, bands, portable)
        members = [c for c in rows.columns if c not in ("band", "bhash")]
        buckets = rows.groupBy("band", "bhash").agg(
            F.collect_list(F.struct(*members)).alias("_ids")
        )
        nodes = formatted_plan(buckets).split("\n\n")
        shuffles = [
            i for i, n in enumerate(nodes)
            if re.match(r"\(\d+\) Exchange", n) and "hashpartitioning(" in n
        ]
        assert shuffles, f"no hash exchange in the bucket plan (portable={portable})"
        for i in shuffles:
            carried = re.search(r"^Input \[\d+\]: \[(.*)\]$", nodes[i], re.M)[1]
            reader = re.search(r"^Functions \[\d+\]: \[(.*)\]$", nodes[i + 1], re.M)
            for text in (carried, reader[1] if reader else ""):
                assert not grams.search(text), (
                    f"gram column in the bucket shuffle (portable={portable}):\n"
                    f"{nodes[i]}\n{nodes[i + 1]}"
                )


def test_asof_join_single_shuffle_shape(spark, sf_dir):
    from cascading_hive_spark.plans import physical_plan

    df = _q(spark, sf_dir, "asof_join_last_order")
    plan = physical_plan(df)
    # union+window asof: no join node at all, one window over __k
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    assert "Window" in plan


def test_asof_no_unbounded_following_frame(spark, sf_dir):
    """Forward/nearest as-of must never plan a
    [currentRow, unboundedFollowing) window frame: Spark re-evaluates
    that frame's aggregate from the current row to the partition end
    for EVERY row — O(n^2) per key partition (a 2M-row hot key turned
    a 10Mx1M as-of join from seconds into hours). The forward match
    is a running last() over the reversed sort instead."""
    from cascading_hive_spark.plans import physical_plan

    for name in ("asof_join_next_event", "asof_join_nearest_event"):
        plan = physical_plan(_q(spark, sf_dir, name)).lower()
        assert "unboundedfollowing" not in plan, name


def test_window_rank_filter_plans_group_limit(spark, sf_dir):
    """rank() <= k must trigger Spark's WindowGroupLimit rewrite:
    each shuffle partition pre-drops rows past the per-group limit
    BEFORE the full window sort materializes — the difference between
    top-3-per-customer and sorting every order at 100 TB."""
    from cascading_hive_spark.plans import physical_plan

    plan = physical_plan(_q(spark, sf_dir, "window_rank_orders"))
    assert "WindowGroupLimit" in plan, plan


def test_runtime_prefilter_probe_filtered_before_join_shuffle(spark, sf_dir):
    """The explicit bloom-style runtime filter: the probe side must
    pass through a broadcast LEFT-SEMI bucket filter, and the final
    exact join must still be present (collision cleanup)."""
    from cascading_hive_spark.plans import physical_plan

    plan = physical_plan(_q(spark, sf_dir, "join_runtime_prefilter"))
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan


def test_deterministic_shuffle_no_global_single_partition_sort(spark, sf_dir):
    """The epoch shuffle must never plan a single-partition global
    window (Exchange SinglePartition feeding the per-row window over
    the corpus): the data-bearing window runs partitioned by bucket;
    only the <=256-row offset table may ever be single-partition."""
    from cascading_hive_spark.plans import physical_plan

    df = _q(spark, sf_dir, "deterministic_shuffle")
    plan = physical_plan(df)
    assert "hashpartitioning(_bucket" in plan, plan


def test_span_coverage_shuffles_digests_not_token_arrays(spark, sf_dir):
    """duplicate_span_stats: the gram aggregation/join exchanges must
    carry md5 digests + ints only — the split token arrays stay
    scan-side (the 100 TB property: shuffle ∝ positions, not text)."""
    from cascading_hive_spark.plans import physical_plan

    plan = physical_plan(_q(spark, sf_dir, "dedup_span_coverage"))
    for line in plan.splitlines():
        if "Exchange hashpartitioning(_g" in line and "_arr" in line:
            raise AssertionError(f"token array in a gram shuffle: {line}")
    assert "Exchange" in plan


def test_join_strategy_hints_are_honored(spark):
    """Optimizer control surface: each join-strategy hint must produce
    its physical operator even when Catalyst would pick another (the
    escape hatch when size estimates lie at 100 TB — the same reason
    dedup.py pins shuffle_hash on computed tables)."""
    from cascading_hive_spark.plans import physical_plan

    big = spark.range(0, 10_000).selectExpr("id AS k", "id % 7 AS v")
    small = spark.range(0, 50).selectExpr("id AS k", "id AS w")
    cases = [
        ("broadcast", "BroadcastHashJoin"),
        ("merge", "SortMergeJoin"),
        ("shuffle_hash", "ShuffledHashJoin"),
    ]
    for hint, operator in cases:
        plan = physical_plan(big.join(small.hint(hint), "k"))
        assert operator in plan, f"{hint} hint did not yield {operator}:\n{plan}"


def test_portable_ann_and_pagerank_no_cartesian(spark, sf_dir):
    """The r7 portable twins keep the scale shape of their fast-path
    siblings: every crossJoin is against a broadcast metadata-sized
    table (centroids / 1-row aggregates), never a CartesianProduct."""
    for name in ("ann_ivf_portable", "graph_pagerank_hubs"):
        assert_no_cartesian(_q(spark, sf_dir, name))


def test_max_by_extremes_is_partial_aggregable(spark, sf_dir):
    """order_extremes_per_customer exists to AVOID the window shuffle:
    max_by/min_by must plan as a two-phase HashAggregate (map-side
    partial combine), with no Window/Sort operator anywhere."""
    from cascading_hive_spark.plans import physical_plan

    plan = physical_plan(_q(spark, sf_dir, "order_extremes_per_customer"))
    assert "Window" not in plan
    # struct comparators plan as SortAggregate (not hashable) — the
    # property that matters is the map-side partial combine
    assert "partial_max_by" in plan and "partial_min_by" in plan, plan


def test_sliding_window_counts_no_join(spark, sf_dir):
    """Hopping windows must plan as generate(window instances) +
    aggregate — one shuffle on the window key, never a self-join or
    range join against a window spine."""
    from cascading_hive_spark.plans import physical_plan

    df = _q(spark, sf_dir, "events_sliding_window_counts")
    assert_no_cartesian(df)
    plan = physical_plan(df)
    assert "Join" not in plan, plan


def test_group_percentile_threshold_broadcasts(spark, sf_dir):
    """filter_by_group_percentile joins the doc table against a
    lang-sized threshold table — that side must broadcast (a shuffle
    join keyed on ~10 langs would put the whole corpus through a
    10-partition shuffle)."""
    df = _q(spark, sf_dir, "filter_by_group_percentile")
    assert_broadcast_join(df)
    assert_no_cartesian(df)


def test_exact_quota_sorts_per_stratum_only(spark, sf_dir):
    """sample_exact_quota's ordering is per-stratum (window over
    lang) — no global Sort/Exchange ordering the whole corpus on one
    reducer."""
    from cascading_hive_spark.plans import physical_plan

    plan = physical_plan(_q(spark, sf_dir, "sample_exact_quota"))
    assert "rangepartitioning" not in plan.lower(), plan


def test_decontaminate_shuffle_avoids_broadcast_gram_join(spark, sf_dir):
    """The shuffle strategy exists for eval sets too big to broadcast:
    the gram join must be a shuffled join on digests (no
    BroadcastHashJoin carrying gram text), while the broadcast
    strategy keeps its broadcast."""
    from cascading_hive_spark.plans import physical_plan

    shuffle_plan = physical_plan(_q(spark, sf_dir, "decontaminate_docs_shuffle"))
    # the only joins allowed to broadcast are the final doc_id
    # left-join of hit counts; the gram-side join is on _d digests
    assert "shuffledhashjoin" in shuffle_plan.lower() or "sortmergejoin" in shuffle_plan.lower(), (
        shuffle_plan
    )


def test_new_headliners_no_cartesian_and_single_key_shuffles(spark, sf_dir):
    """The r8 bench headliners keep their intended scale shapes:
    no CartesianProduct anywhere; cdc_apply is window + anti-join +
    union (no full-outer widening); scd2 point-in-time is the asof
    union+window plan (no join node for the lookup)."""
    from cascading_hive_spark.plans import physical_plan

    for name in ("dedup_tfidf_cosine", "cdc_apply_orders", "scd2_point_in_time"):
        assert_no_cartesian(_q(spark, sf_dir, name))
    cdc_plan = physical_plan(_q(spark, sf_dir, "cdc_apply_orders"))
    assert "FullOuter" not in cdc_plan, cdc_plan
    assert "Window" in cdc_plan and "LeftAnti" in cdc_plan, cdc_plan


def test_heavy_hitters_sketch_pass_no_shuffle(spark, sf_dir):
    """Misra-Gries pass 1 is MAP-ONLY: no Exchange may sit between the
    events scan and the mapInPandas sketch — the whole point is that
    the only rows ever shuffled are the <=k-per-partition candidates
    and the candidate-filtered recount (VERDICT r8 #4 plan gate)."""
    from cascading_hive_spark.operators.sketches import heavy_hitters
    from cascading_hive_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events").select("event_type")
    hh = heavy_hitters(ev, ["event_type"], phi=0.05)
    plan = hh._jdf.queryExecution().executedPlan().toString()
    lines = plan.splitlines()
    sketch_idx = [
        i for i, ln in enumerate(lines) if "MapInPandas" in ln
    ]
    assert sketch_idx, plan
    # the sketch operator's subtree (everything printed BELOW it at
    # greater indent) must be exchange-free: scan -> project -> sketch
    i = sketch_idx[-1]  # deepest/first pass in the printed tree
    indent = len(lines[i]) - len(lines[i].lstrip(" :+-*"))
    for ln in lines[i + 1:]:
        cur = len(ln) - len(ln.lstrip(" :+-*"))
        if cur <= indent:
            break
        assert "Exchange" not in ln, f"shuffle below the MG sketch: {ln}"


def test_corr_matrix_matches_numpy_and_single_scan(spark):
    """corr_matrix vs numpy corrcoef on a 3-column frame, and the plan
    must contain exactly ONE scan-side aggregate pass (the moment
    scan), not one per pair."""
    import numpy as np

    from cascading_hive_spark.operators.relational import corr_matrix

    rng = np.random.default_rng(11)
    x = rng.normal(10, 2, 500).round(3)
    y = (2 * x + rng.normal(0, 1, 500)).round(3)
    z = rng.normal(0, 5, 500).round(3)
    df = spark.createDataFrame(
        [(float(a), float(b), float(c)) for a, b, c in zip(x, y, z)],
        "x double, y double, z double",
    )
    mat = corr_matrix(df, ["x", "y", "z"])
    got = {(r.col_a, r.col_b): r.corr for r in mat.collect()}
    ref = np.corrcoef(np.vstack([x, y, z]))
    assert abs(got[("x", "y")] - ref[0, 1]) < 1e-4
    assert abs(got[("x", "z")] - ref[0, 2]) < 1e-4
    assert abs(got[("y", "z")] - ref[1, 2]) < 1e-4
    assert got[("x", "y")] > 0.9
    # ONE moment pass: the 3 pairs fan out of a single 1-row aggregate
    # (explode), so the executed plan has exactly one scan and one
    # partial+final aggregate pair — not one aggregate per pair.
    plan = mat._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]  # AQE prints both sections
    n_scans = final.count("Scan ExistingRDD") + final.count("LocalTableScan")
    assert n_scans == 1, final
    assert final.count("HashAggregate") <= 2, final


def test_corr_matrix_spread_preserves_moments(spark, sf_dir):
    """corr_matrix's spread() repartition cannot move the decimal
    moments: compare against a COALESCE(1) run of the same input."""
    from cascading_hive_spark.operators.relational import corr_matrix
    from cascading_hive_spark.tables import load_table

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_quantity", "l_extendedprice", "l_discount", "l_tax"
    )
    wide = corr_matrix(li, li.columns).collect()
    narrow = corr_matrix(li.coalesce(1), li.columns).collect()
    assert sorted(map(tuple, wide)) == sorted(map(tuple, narrow))


def test_standardize_embeddings_zero_mean_unit_std(spark, sf_dir):
    """Each dimension's z-scores must have ~0 mean and ~1 population
    std; constant dimensions surface NULL rather than a fake 0."""
    from cascading_hive_spark.operators.similarity import standardize_embeddings
    from cascading_hive_spark.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    z = standardize_embeddings(emb)
    stats = z.groupBy("dim").agg(
        F.avg("z").alias("m"), F.stddev_pop("z").alias("s")
    ).collect()
    assert len(stats) == len(emb.first()["embedding"])
    for r in stats:
        assert abs(r.m) < 1e-4 and abs(r.s - 1.0) < 1e-3
    const = spark.createDataFrame(
        [(1, [1.0, 5.0]), (2, [1.0, 7.0])], "vec_id long, embedding array<double>"
    )
    zc = {(r.vec_id, r.dim): r.z for r in standardize_embeddings(const).collect()}
    assert zc[(1, 0)] is None and zc[(2, 0)] is None  # zero-variance dim
    assert zc[(1, 1)] is not None


def test_funnel_strict_order_and_monotone(spark):
    """First-touch funnel: a user whose 'click' lands at or before
    their first 'view' does NOT convert (strict >); step counts are
    monotone non-increasing; conv_permille is exact integer floor."""
    from datetime import datetime

    from cascading_hive_spark.operators.relational import funnel_conversion

    t = lambda s: datetime(2024, 1, 1, 0, 0, s)
    rows = [
        # u1 converts fully: view@1 click@2 purchase@3
        (1, t(1), "view"), (1, t(2), "click"), (1, t(3), "purchase"),
        # u2: click BEFORE view -> stops at view
        (2, t(5), "click"), (2, t(6), "view"),
        # u3: click at the SAME ts as view -> strict > excludes it
        (3, t(7), "view"), (3, t(7), "click"),
        # u4: view then click, no purchase
        (4, t(1), "view"), (4, t(9), "click"),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string")
    got = {r.step: (r.n_users, r.conv_permille) for r in
           funnel_conversion(df, ["view", "click", "purchase"]).collect()}
    assert got["view"] == (4, 1000)
    assert got["click"] == (2, 500)
    assert got["purchase"] == (1, 250)


def test_winsorize_clips_to_group_band(spark):
    """Winsorized values stay inside each group's [p05, p95] band, the
    interior is untouched, and a one-row group degenerates to its own
    value (lo == hi == the value)."""
    from cascading_hive_spark.operators.relational import winsorize

    rows = [("a", float(v)) for v in range(1, 101)] + [("b", 42.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    w = {(r.g, r.v): r.v_w for r in winsorize(df, "v", by=["g"]).collect()}
    # group a: p05 of 1..100 (interpolated) = 5.95, p95 = 95.05
    assert abs(w[("a", 1.0)] - 5.95) < 1e-9
    assert abs(w[("a", 100.0)] - 95.05) < 1e-9
    assert w[("a", 50.0)] == 50.0
    assert w[("b", 42.0)] == 42.0


def test_sequence_ngrams_known_grams(spark):
    """Trigram counts over a known per-user stream: window tails
    (users with < n events) contribute nothing, a NULL token drops
    every gram that would contain it, ordering follows order_cols, and
    the same pattern across two users aggregates."""
    from datetime import datetime

    from cascading_hive_spark.operators.relational import sequence_ngrams

    t = lambda s: datetime(2024, 1, 1, 0, 0, s)
    rows = [
        (1, t(1), "a"), (1, t(2), "b"), (1, t(3), "c"), (1, t(4), "d"),
        (2, t(1), "a"), (2, t(2), "b"), (2, t(3), "c"),
        (3, t(1), "x"), (3, t(2), "y"),          # < n events: no gram
        (4, t(1), "a"), (4, t(2), None), (4, t(3), "c"), (4, t(4), "d"),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string")
    got = {r.gram: r.cnt for r in sequence_ngrams(
        df, ["user_id"], ["ts"], "event_type", n=3).collect()}
    assert got == {"a>b>c": 2, "b>c>d": 1}
    # bigrams include u3's pair and u4's surviving c>d
    got2 = {r.gram: r.cnt for r in sequence_ngrams(
        df, ["user_id"], ["ts"], "event_type", n=2).collect()}
    assert got2 == {"a>b": 2, "b>c": 2, "c>d": 2, "x>y": 1}


def test_mutual_information_known_values(spark):
    """MI sanity: independent uniform columns give ~0; a bijective
    dependence gives ln(k)."""
    import math

    from cascading_hive_spark.operators.relational import mutual_information

    n = 4000
    rows = [(i % 4, (i // 4) % 4, i % 4) for i in range(n)]
    df = spark.createDataFrame(rows, "x long, y long, z long")
    indep = mutual_information(df, "x", "y").collect()[0]
    assert indep.n == n and indep.n_cells == 16
    assert abs(indep.mi) < 1e-6
    dep = mutual_information(df, "x", "z").collect()[0]
    assert dep.n_cells == 4
    assert abs(dep.mi - math.log(4)) < 1e-6


def test_mutual_information_null_keys_are_categories(spark):
    """NULL keys participate as ordinary categories (ADVICE r10): the
    joint↔marginal joins are null-safe, so a 2x2 frame where one level
    of each column is NULL still yields 4 cells over the full mass —
    here a bijective map {NULL↔NULL, 1↔2}, MI = ln(2)."""
    import math

    from cascading_hive_spark.operators.relational import mutual_information

    rows = [(None, None), (1, 2)] * 50
    df = spark.createDataFrame(rows, "x int, y int")
    got = mutual_information(df, "x", "y").collect()[0]
    assert got.n == 100
    assert got.n_cells == 2  # {(NULL,NULL), (1,2)} — no dropped cells
    assert abs(got.mi - math.log(2)) < 1e-6
    # independent-with-NULL-level: 4 cells, MI ~ 0
    rows2 = [(x, y) for x in (None, 1) for y in (None, 2) for _ in range(25)]
    df2 = spark.createDataFrame(rows2, "x int, y int")
    got2 = mutual_information(df2, "x", "y").collect()[0]
    assert got2.n == 100 and got2.n_cells == 4
    assert abs(got2.mi) < 1e-6


def test_new_r10_operator_plans(spark, sf_dir):
    """Plan shapes for the r10 additions: winsorize joins thresholds
    by broadcast (not SMJ), funnel uses no window, resample has no
    cartesian product, token-budget selection has no GLOBAL sort of
    doc rows (only the per-bucket window sort), mutual information
    broadcasts both marginals."""
    from cascading_hive_spark.operators.relational import (
        funnel_conversion,
        mutual_information,
        resample_counts,
        winsorize,
    )
    from cascading_hive_spark.plans.explain import physical_plan
    from cascading_hive_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    wplan = physical_plan(winsorize(ev.select("event_type", "value"), "value",
                                    by=["event_type"]))
    assert "BroadcastHashJoin" in wplan and "SortMergeJoin" not in wplan, wplan

    fplan = physical_plan(funnel_conversion(ev, ["view", "click", "purchase"]))
    assert "Window" not in fplan, fplan
    assert "CartesianProduct" not in fplan, fplan

    rplan = physical_plan(resample_counts(ev, ["event_type"], "ts", grain="day"))
    assert "CartesianProduct" not in rplan, rplan
    assert "Generate explode" in rplan or "Generate" in rplan, rplan

    orders = load_table(spark, sf_dir, "orders")
    mplan = physical_plan(
        mutual_information(orders, "o_orderstatus", "o_orderpriority")
    )
    assert mplan.count("BroadcastHashJoin") >= 2, mplan
    assert "SortMergeJoin" not in mplan, mplan


def test_new_r10b_operator_plans(spark, sf_dir):
    """Plan shapes for the late-r10 additions: sequence_ngrams is one
    window + one partial-aggregated count (no Generate/explode, no
    collect_list); semantic_dedup_pairs broadcasts the centroid table
    and keeps the within-cell self-join a shuffled hash join (never a
    broadcast of the corpus or a cartesian); rrf_fuse compiles the
    final cut to TakeOrderedAndProject (no global Sort of all rows)."""
    from cascading_hive_spark.operators.corpus import rrf_fuse
    from cascading_hive_spark.operators.dedup import semantic_dedup_pairs
    from cascading_hive_spark.operators.relational import sequence_ngrams
    from cascading_hive_spark.operators.similarity import kmeans_fit
    from cascading_hive_spark.plans.explain import physical_plan
    from cascading_hive_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    splan = physical_plan(
        sequence_ngrams(ev, ["user_id"], ["ts", "event_id"], "event_type", n=3)
    )
    assert "Window" in splan, splan
    assert "Generate" not in splan and "collect_list" not in splan, splan
    assert "HashAggregate" in splan, splan

    emb = load_table(spark, sf_dir, "embeddings")
    cents = kmeans_fit(emb, k=2, iters=1)
    dplan = physical_plan(
        semantic_dedup_pairs(emb, cents, threshold=0.5, max_cell=None)
    )
    # broadcast centroid table scores map-side (BNLJ from the cross
    # join); the r16 carry_vec E-step rides the vector through the
    # argmin aggregate, so the old assignments-back id join
    # (BroadcastHashJoin) must be GONE — one id exchange, no second
    # pass over the vector table
    assert "BroadcastNestedLoopJoin" in dplan, dplan    # centroid broadcast
    assert "BroadcastHashJoin" not in dplan, dplan      # id join-back removed
    assert "CartesianProduct" not in dplan, dplan
    # within-cell pairs run as one Arrow-grouped GEMM task per cell
    assert "FlatMapGroupsInPandas" in dplan, dplan
    assert "SortMergeJoin" not in dplan.split("FlatMapGroupsInPandas")[0], dplan

    a = spark.range(10).select(F.col("id").alias("doc_id"),
                               (F.col("id") + 1).cast("int").alias("r"))
    rplan = physical_plan(rrf_fuse([a, a], topk=5))
    assert "TakeOrderedAndProject" in rplan, rplan


def test_target_encode_smoothing(spark):
    """Known arithmetic: with m=2, a 2-row category shrinks 50% toward
    the global mean, a 0-ish-rare category would sit at the mean, and
    a large category barely moves; cnt is exact."""
    from cascading_hive_spark.operators.relational import target_encode

    rows = [("a", 10.0), ("a", 20.0)] + [("b", 100.0)] * 98
    df = spark.createDataFrame(rows, "c string, v double")
    got = {r.c: (r.cnt, r.enc) for r in
           target_encode(df, ["c"], "v", m=2.0).collect()}
    g = (10 + 20 + 98 * 100) / 100.0  # 98.3
    assert got["a"][0] == 2 and abs(got["a"][1] - (30 + 2 * g) / 4) < 1e-9
    assert got["b"][0] == 98 and abs(got["b"][1] - (9800 + 2 * g) / 100) < 1e-9
    # shrinkage direction: rare category pulled toward global mean
    assert 15.0 < got["a"][1] < g


def test_cusum_changepoint_planted_shift(spark):
    """A step from level 2 to level 10 at t=30 of 60 must peak the
    cumulative deviation AT the last low point (t=29, 0-indexed date
    offset 29); a flat series peaks wherever ties resolve earliest;
    integer cusum_peak is exact."""
    from datetime import date, timedelta

    from cascading_hive_spark.operators.relational import cusum_changepoint

    d0 = date(2024, 1, 1)
    rows = [("a", d0 + timedelta(days=i), 2 if i < 30 else 10) for i in range(60)]
    rows += [("b", d0 + timedelta(days=i), 5) for i in range(10)]
    df = spark.createDataFrame(rows, "k string, bucket date, cnt int")
    got = {r.k: (r.changepoint, r.cusum_peak, r.n_points) for r in
           cusum_changepoint(df, ["k"], "bucket", "cnt").collect()}
    # series a: n=60, tot=360; dev below = 60*2-360 = -240/day for 30
    # days -> peak |cusum| at day idx 29 = -7200, then climbs back
    assert got["a"] == (d0 + timedelta(days=29), -7200, 60)
    # flat series: every prefix sums to 0, earliest tie wins
    assert got["b"] == (d0, 0, 10)


def test_ab_test_zscore_planted_effect(spark):
    """Planted lift: arm B's values shifted +10 with tiny noise must
    produce a large positive z; identical arms give |z| ~ 0; n_a + n_b
    covers every unit; means are exact to the decimal image."""
    from cascading_hive_spark.operators.sampling import hash_order
    from cascading_hive_spark.operators.relational import ab_test_zscore

    base = spark.range(4000).select(
        F.col("id").alias("user_id"),
        F.pmod(hash_order(F.col("id")), F.lit(2)).alias("_arm"),
        (F.pmod(F.abs(F.xxhash64("id")), F.lit(100)) / 100.0).alias("_noise"),
    )
    lifted = base.select(
        "user_id",
        (F.col("_noise") + F.when(F.col("_arm") == 1, 10.0).otherwise(0.0))
        .alias("value"),
    )
    r = ab_test_zscore(lifted, "user_id", "value").collect()[0]
    assert r.n_a + r.n_b == 4000 and min(r.n_a, r.n_b) > 1500
    assert 9.5 < r.mean_b - r.mean_a < 10.5
    assert r.z > 100  # ~10 lift over ~0.29 sd
    flat = base.select("user_id", F.col("_noise").alias("value"))
    r0 = ab_test_zscore(flat, "user_id", "value").collect()[0]
    assert abs(r0.z) < 3


def test_rfm_segments_no_unpartitioned_window(spark, sf_dir):
    """orders_rfm_segments (VERDICT r10 #1): quartiles via exact-
    percentile binning — the plan must contain NO WindowExec at all
    (the old shape ran three unpartitioned ntile windows = three
    single-partition sorts of the customer base), and the 9 cut
    points must come back through a broadcast, not an SMJ."""
    from cascading_hive_spark.plans import physical_plan

    df = _q(spark, sf_dir, "orders_rfm_segments")
    plan = physical_plan(df)
    assert "Window" not in plan, plan
    assert "ntile(4)" not in plan, plan  # (bare "ntile" matches percentile)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan
    # sanity: quartile labels cover 1..4 and every customer is scored
    rows = df.collect()
    from collections import Counter

    r_counts = Counter(r.r_quartile for r in rows)
    assert set(r_counts) == {1, 2, 3, 4}, r_counts
    n = len(rows)
    for q_, c_ in r_counts.items():
        assert c_ >= n // 8, (q_, c_, n)  # roughly balanced bins


def test_window_ntile_binned_no_window(spark, sf_dir):
    """The ntile scale twin must be window-free: one percentile
    aggregate + broadcast edges + a narrow map."""
    from cascading_hive_spark.plans import physical_plan

    plan = physical_plan(_q(spark, sf_dir, "window_ntile_binned"))
    assert "Window" not in plan, plan


def test_global_ntile_guard(spark):
    """global_ntile (VERDICT r11 #3): correct quartiles under the
    bound; a documented ValueError naming percentile_bins above it;
    None disables the guard."""
    import pytest as _pytest

    from cascading_hive_spark.operators.relational import global_ntile

    df = spark.range(8).withColumnRenamed("id", "v")
    got = {
        (r.v, r.q)
        for r in global_ntile(df, 4, ["v"], out_col="q").collect()
    }
    assert got == {(0, 1), (1, 1), (2, 2), (3, 2), (4, 3), (5, 3), (6, 4), (7, 4)}
    with _pytest.raises(ValueError, match="percentile_bins"):
        global_ntile(df, 4, ["v"], max_rows=5)
    assert global_ntile(df, 4, ["v"], max_rows=None).count() == 8
    with _pytest.raises(ValueError, match="n must"):
        global_ntile(df, 0, ["v"])


def test_vocab_coverage_window_after_topk(spark, sf_dir):
    """vocab_coverage_topk (VERDICT r10 #2): the rank/cumulative
    window must run AFTER the distributed top-20 cut — in the printed
    plan tree the vocab-sized aggregate sits BELOW TakeOrderedAndProject
    and no Window appears below it (the old shape windowed the whole
    vocab table through one partition before filtering rnk<=20)."""
    from cascading_hive_spark.plans import physical_plan

    plan = physical_plan(_q(spark, sf_dir, "vocab_coverage_topk"))
    assert "TakeOrderedAndProject" in plan, plan
    below_topk = plan.split("TakeOrderedAndProject", 1)[1]
    assert "Window" not in below_topk, plan  # window only above the 20-row cut
    assert "HashAggregate" in below_topk, plan  # vocab agg feeds the top-k


def test_percentile_bins_matches_numpy_and_plan(spark):
    """percentile_bins vs numpy quantiles on integers (both engines'
    interpolated quarter points are exact there), descending AND
    ascending labeling, ties sharing a bin — and the plan is
    window-free with a broadcast edge table."""
    import numpy as np

    from cascading_hive_spark.operators.relational import percentile_bins
    from cascading_hive_spark.plans import physical_plan

    rng = np.random.default_rng(17)
    vals = rng.integers(0, 1000, 400).tolist() + [500] * 40  # planted ties
    df = spark.createDataFrame([(i, int(v)) for i, v in enumerate(vals)],
                               "id long, v long")
    out = percentile_bins(df, ["v"])
    plan = physical_plan(out)
    assert "Window" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan
    q = np.quantile(np.array(vals), [0.25, 0.5, 0.75], method="linear")
    got = {r.id: r.v_bin for r in out.collect()}
    for i, v in enumerate(vals):
        want = 1 if v >= q[2] else 2 if v >= q[1] else 3 if v >= q[0] else 4
        assert got[i] == want, (i, v, got[i], want, q)
    # ties share a bin
    tied = {got[i] for i, v in enumerate(vals) if v == 500}
    assert len(tied) == 1
    # ascending labels mirror (bin 1 = bottom quarter)
    asc = {r.id: r.v_bin for r in
           percentile_bins(df, ["v"], descending=False).collect()}
    for i, v in enumerate(vals):
        want = 1 if v < q[0] else 2 if v < q[1] else 3 if v < q[2] else 4
        assert asc[i] == want, (i, v, asc[i], want, q)
    import pytest as _pytest
    with _pytest.raises(ValueError, match="probs"):
        percentile_bins(df, ["v"], probs=(0.0, 0.5))
    with _pytest.raises(ValueError, match="schema"):
        percentile_bins(df, ["nope"])


def _py_quantile_linear(sorted_vals, p):
    """numpy 'linear' / percentile_cont interpolation."""
    n = len(sorted_vals)
    pos = p * (n - 1)
    lo = int(math.floor(pos))
    hi = min(lo + 1, n - 1)
    frac = pos - lo
    return sorted_vals[lo] + (sorted_vals[hi] - sorted_vals[lo]) * frac


def test_percentile_bins_matches_python_reference(spark):
    """percentile_bins == pure-Python binning against interpolated
    quartiles, on random integer multisets (ties included)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from cascading_hive_spark.operators.relational import percentile_bins

    @settings(max_examples=12, deadline=None)
    @given(
        st.lists(
            st.integers(min_value=-1000, max_value=1000), min_size=4, max_size=80
        )
    )
    def check(vals):
        df = spark.createDataFrame(
            [(i, v) for i, v in enumerate(vals)], "id long, v long"
        )
        got = {r.id: r.v_bin for r in percentile_bins(df, ["v"]).collect()}
        sv = sorted(vals)
        q = [_py_quantile_linear(sv, p) for p in (0.25, 0.5, 0.75)]
        for i, v in enumerate(vals):
            want = 1 if v >= q[2] else 2 if v >= q[1] else 3 if v >= q[0] else 4
            assert got[i] == want, (vals, i, v, q)

    check()


def test_source_overlap_counts_and_thin_shuffle(spark):
    """source_overlap: planted shared fingerprints count once per
    distinct fp per pair (doc multiplicity ignored); pairs are
    unordered (a < b); no text column crosses an exchange."""
    from cascading_hive_spark.operators.dedup import source_overlap
    from cascading_hive_spark.plans import physical_plan

    rows = [
        (1, "alpha beta", "s1"), (2, "alpha beta", "s2"),  # shared fp
        (3, "alpha beta", "s2"),  # duplicate doc, same fp — counts once
        (4, "gamma delta", "s1"), (5, "gamma delta", "s3"),
        (6, "unique one", "s3"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = source_overlap(df, "source", F.md5(F.col("text")))
    got = {(r.source_a, r.source_b): r.shared_fps for r in out.collect()}
    assert got == {("s1", "s2"): 1, ("s1", "s3"): 1}
    plan = physical_plan(out)
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "text" not in line, f"text in a shuffle: {line}"


def test_histogram_quantile_sketch_bound_and_merge_law(spark):
    """The sketch estimate is within ONE BIN WIDTH of the exact
    quantile (the fixed-grid guarantee); and the merge law holds —
    sketching per group then merging equals sketching the whole set
    in one partial (same grid -> identical merged histogram), so the
    group column cannot change the answer."""
    import numpy as np

    from cascading_hive_spark.operators.sketches import histogram_quantile_merge

    rng = np.random.default_rng(41)
    vals = np.concatenate([rng.normal(50, 5, 8000), rng.exponential(30, 2000)])
    rows = [(float(v), int(i % 13)) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "value double, grp int")
    got = histogram_quantile_merge(df, "value", "grp").collect()[0]
    width = (vals.max() - vals.min()) / 128
    assert got.n == len(vals) and got.n_partials == 13
    for p, est in ((0.5, got.q500), (0.95, got.q950), (0.99, got.q990)):
        assert abs(est - float(np.quantile(vals, p))) <= width, (p, est)
    one = histogram_quantile_merge(
        df.withColumn("grp", F.lit(0)), "value", "grp"
    ).collect()[0]
    assert (one.q500, one.q950, one.q990) == (got.q500, got.q950, got.q990)
    import pytest as _pytest
    with _pytest.raises(ValueError, match="bins"):
        histogram_quantile_merge(df, "value", "grp", bins=1)
    # NULL rows (value or partial key) are dropped up front (ADVICE
    # r11): the answer must equal the clean-set answer, not shift
    # bins or count a NULL partial
    dirty = df.unionByName(
        spark.createDataFrame(
            [(None, 1), (3.0, None), (None, None)], "value double, grp int"
        )
    )
    drow = histogram_quantile_merge(dirty, "value", "grp").collect()[0]
    assert (drow.n, drow.n_partials) == (got.n, got.n_partials)
    assert (drow.q500, drow.q950, drow.q990) == (got.q500, got.q950, got.q990)
    # label rounding (ADVICE r11): 0.29*1000 = 289.999... must label
    # q290, not q289; colliding probs raise instead of duplicating
    r29 = histogram_quantile_merge(df, "value", "grp", probs=(0.29,))
    assert "q290" in r29.columns, r29.columns
    with _pytest.raises(ValueError, match="collide"):
        histogram_quantile_merge(df, "value", "grp", probs=(0.2501, 0.2502))


def test_sequence_similarity_topk_known_and_plan(spark):
    """Trajectory top-k: hand-checkable edit distances on tiny
    sequences, deterministic tie-break, and the plan shape — the
    query row broadcasts (no CartesianProduct) and the cut compiles
    to TakeOrderedAndProject."""
    from cascading_hive_spark.operators.relational import sequence_similarity_topk
    from cascading_hive_spark.plans import physical_plan

    rows = []
    seqs = {1: "abcab", 2: "abcab", 3: "abxab", 4: "zzzzz", 5: "ab"}
    for uid, s in seqs.items():
        for t, ch in enumerate(s):
            rows.append((uid, t, t, ch))
    df = spark.createDataFrame(rows, "user_id long, ts long, event_id long, ch string")
    out = sequence_similarity_topk(
        df, ["user_id"], ["ts", "event_id"], F.col("ch"), query_key=1, k=3
    )
    got = [(r.user_id, r.distance) for r in out.collect()]
    assert got == [(2, 0), (3, 1), (5, 3)], got  # 4 (dist 5) cut by k=3
    plan = physical_plan(out)
    assert "TakeOrderedAndProject" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan, plan
    # ADVICE r11: a query_key shorter than key_cols must raise, not
    # silently truncate the zip and match a whole key group
    import pytest as _pytest
    with _pytest.raises(ValueError, match="query_key"):
        sequence_similarity_topk(
            df, ["user_id", "ts"], ["event_id"], F.col("ch"), query_key=1
        )
    with _pytest.raises(ValueError, match="query_key"):
        sequence_similarity_topk(
            df, ["user_id"], ["ts"], F.col("ch"), query_key=[1, 2]
        )


def test_temperature_mix_broadcasts_rates_no_window_over_corpus(spark, sf_dir):
    """sample_temperature_mix: the per-source rate table joins back
    via BROADCAST (it is #sources rows), no CartesianProduct, and any
    single-partition exchange feeds only the tiny counts aggregate —
    the corpus side is one narrow filter, no global window."""
    from cascading_hive_spark.plans import physical_plan

    plan = physical_plan(_q(spark, sf_dir, "sample_temperature_mix"))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_leakage_split_join_back_not_cartesian(spark, sf_dir):
    """sample_leakage_split: the cluster map joins back to the corpus
    as an equi-join (never CartesianProduct); the iterative component
    step runs only over fingerprint-pair members."""
    from cascading_hive_spark.plans import physical_plan

    plan = physical_plan(_q(spark, sf_dir, "sample_leakage_split"))
    assert "CartesianProduct" not in plan, plan
    assert "Join" in plan, plan


def test_shard_by_budget_no_global_single_partition_sort(spark, sf_dir):
    """docs_shard_by_budget: the corpus-bearing cumulative-sum window
    must run partitioned by the hash bucket (two-phase prefix sum);
    only the tiny per-bucket offset table may be single-partition."""
    from cascading_hive_spark.plans import physical_plan

    plan = physical_plan(_q(spark, sf_dir, "docs_shard_by_budget"))
    assert "hashpartitioning(_bucket" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_domain_cap_no_single_partition_no_cartesian(spark, sf_dir):
    """docs_domain_cap: both windows (per-key bucket prefix and the
    boundary ranking) must run hash-partitioned by the key — a global
    SinglePartition exchange would resurrect the hot-domain funnel
    the two-phase design exists to avoid."""
    from cascading_hive_spark.plans import physical_plan

    plan = physical_plan(_q(spark, sf_dir, "docs_domain_cap"))
    assert "hashpartitioning(domain" in plan, plan
    assert "SinglePartition" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_dsir_select_is_scan_plus_topk(spark, sf_dir):
    """docs_dsir_select: after the bounded weight estimation, scoring
    is a plan-literal fold and selection a TakeOrderedAndProject —
    no SinglePartition exchange, no cartesian, no corpus-wide hash
    shuffle beyond the two count aggregations."""
    from cascading_hive_spark.plans import physical_plan

    plan = physical_plan(_q(spark, sf_dir, "docs_dsir_select"))
    assert "TakeOrderedAndProject" in plan, plan
    assert "SinglePartition" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_charspan_digest_shuffle_only(spark, sf_dir):
    """The char-span dedup's duplicate-digest shuffle must carry only
    (id, position, md5) — never the document text (dedup.py scale
    notes: a 100 TB scrub moves 16-byte digests, not the corpus)."""
    from cascading_hive_spark.operators.dedup import duplicate_charspan_stats
    from cascading_hive_spark.tables import load_table

    df = duplicate_charspan_stats(
        load_table(spark, sf_dir, "documents"), "doc_id", "text"
    )
    plan = df._jdf.queryExecution().toString()
    for line in plan.splitlines():
        if "Exchange hashpartitioning(_g" in line and "_txt" in line:
            raise AssertionError(f"text column in the digest shuffle: {line}")


def test_lang_id_scores_single_fold_plan(spark, sf_dir):
    """All five frozen language models must ride ONE aggregate fold in
    one projection — no join, no per-language duplicate gram hashing
    (text.py scale notes; margins live in a single array column)."""
    from cascading_hive_spark.operators.text import lang_id_scores
    from cascading_hive_spark.queries import _LID_MODELS_V1
    from cascading_hive_spark.tables import load_table

    df = lang_id_scores(
        load_table(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        _LID_MODELS_V1,
        widen=False,
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    # one md5 per gram position, not one per language
    assert plan.count("md5") <= 1, plan.count("md5")


# --- reworked operators: each test asserts the plan property the rework
# exists to provide, so a return to the slow shape fails (the results are
# pinned by the DuckDB oracles and the numpy ground-truth tests)


def test_decontaminate_generate_child_is_cheap(spark, sf_dir):
    """The gram explode's child must be an integer sequence, not the
    materialized shingle array: InferFiltersFromGenerate pushes a
    size(child) > 0 predicate below the Generate, and with the array
    child that predicate re-evaluated the whole shingle fold (with
    split() inlined per token access — O(tokens^2)/doc, measured
    26.6s -> 1.2s at sf0.1)."""
    for name in ("decontaminate_docs", "decontaminate_docs_shuffle"):
        plan = physical_plan(_q(spark, sf_dir, name))
        assert "explode(sequence(1," in plan, plan
        # the doubled-fold symptom: a concat_ws inside the pushed
        # size() filter (the gram fold evaluated pre-Generate)
        assert "size(array_distinct" not in plan, plan


def test_knn_density_routes_through_gemm_cogroup(spark, sf_dir):
    """The exact kNN-density path must run as the single-cell GEMM
    cogroup, not the broadcast self-join + per-pair JVM fold
    (44.2s -> 8.8s at sf0.1). Ground truth for the VALUES is
    test_similarity.py::test_knn_density_matches_numpy + the
    full-replay SQL oracle."""
    plan = physical_plan(_q(spark, sf_dir, "embedding_knn_density"))
    # the scoring runs in the Arrow cogroup task (the 1-row centroid
    # broadcast crossJoin of probe selection is a legitimate BNLJ and
    # stays); the old shape had no Python node at all — every pair
    # cosine was a JVM per-pair fold
    assert "FlatMapCoGroupsInPandas" in plan, plan


def test_covariance_has_no_self_join(spark, sf_dir):
    """Pair products are generated map-side (posexplode + integer
    tail-sequence explode); the exploded (id, dim, val) self-join on
    id — two corpus-scale exchanges — must stay gone (8.4 -> 4.6s)."""
    plan = physical_plan(_q(spark, sf_dir, "embedding_covariance"))
    assert "SortMergeJoin" not in plan, plan
    assert "ShuffledHashJoin" not in plan, plan
    # exactly the two Generates of the rework: vector posexplode +
    # tail-sequence explode
    assert plan.count("Generate") >= 2, plan


def test_percentile_calls_are_array_form(spark, sf_dir):
    """One aggregate buffer per column, not one per (column, prob):
    the scalar form kept nine copies of the lineitem distribution in
    equiheight_histogram's aggregate (17.7 -> 4.1s)."""
    for name in ("equiheight_histogram", "approx_percentile_bounded",
                 "robust_stats", "events_winsorized_stats"):
        plan = physical_plan(_q(spark, sf_dir, name))
        # each percentile(...) call carries its own buffer; the array
        # form leaves at most one exact + one approx per aggregate
        assert plan.count("percentile(") <= 2, (name, plan)


def _df(spark, rows):
    return spark.createDataFrame(rows, "score double, y int")


def test_auc_perfect_reversed_and_tied(spark):
    # perfect separation -> 1.0; reversed -> 0.0; constant score -> 0.5
    perfect = _df(spark, [(float(i), int(i >= 5)) for i in range(10)])
    assert binary_auc(perfect, "score", "y").first().auc == 1.0
    reverse = _df(spark, [(float(-i), int(i >= 5)) for i in range(10)])
    assert binary_auc(reverse, "score", "y").first().auc == 0.0
    tied = _df(spark, [(1.0, i % 2) for i in range(10)])
    assert binary_auc(tied, "score", "y").first().auc == 0.5


def test_auc_matches_pure_python_midrank(spark):
    """Differential against a plain-Python midrank Mann-Whitney on a
    deterministic mixed-tie dataset."""
    rows = [
        (round(((i * 37) % 11) / 7.0, 3), int(((i * 53) % 13) < 6))
        for i in range(200)
    ]
    got = binary_auc(_df(spark, rows), "score", "y").first()

    # pure-python midrank AUC (micro-image, like the operator)
    micro = [(round(s * 1_000_000), y) for s, y in rows]
    from collections import Counter

    by_s: dict = {}
    for s, y in micro:
        np_b, nn_b = by_s.get(s, (0, 0))
        by_s[s] = (np_b + y, nn_b + (1 - y))
    cum = 0
    rank_sum2 = 0
    n_pos = n_neg = 0
    for s in sorted(by_s):
        np_b, nn_b = by_s[s]
        rank_sum2 += np_b * (2 * cum + np_b + nn_b + 1)
        cum += np_b + nn_b
        n_pos += np_b
        n_neg += nn_b
    want = (rank_sum2 - n_pos * (n_pos + 1)) / (2.0 * n_pos * n_neg)
    assert got.auc == round(want, 6) + 0.0
    assert (got.n_pos, got.n_neg, got.n_null) == (n_pos, n_neg, 0)
    assert Counter(y for _, y in rows)[1] == n_pos


def test_auc_excludes_nulls_and_counts_them(spark):
    rows = [(1.0, 1), (0.0, 0), (None, 1), (2.0, None)]
    df = spark.createDataFrame(rows, "score double, y int")
    got = binary_auc(df, "score", "y").first()
    assert got.n_null == 2
    assert (got.n_pos, got.n_neg) == (1, 1)
    assert got.auc == 1.0


def test_auc_degenerate_inputs_yield_null_not_crash(spark):
    """AUC is undefined without both classes: single-class and empty
    inputs must return NULL auc with audit counts — not an ANSI
    DIVIDE_BY_ZERO (the bug this test pinned)."""
    one_class = _df(spark, [(1.0, 1), (2.0, 1)])
    row = binary_auc(one_class, "score", "y").first()
    assert row.auc is None and (row.n_pos, row.n_neg) == (2, 0)
    empty = spark.createDataFrame([], "score double, y int")
    row = binary_auc(empty, "score", "y").first()
    assert row.auc is None and (row.n_pos, row.n_neg, row.n_null) == (0, 0, 0)


def test_auc_corpus_never_sorts_globally(spark, sf_dir):
    """The corpus pass is a map-side-combined groupBy; the cumulative
    midrank uses the two-phase prefix (window PARTITIONED by the
    order-preserving score bucket + a global offset window over the
    tiny per-bucket totals) — no corpus- or counts-sized single-
    partition sort in the plan."""
    from cascading_hive_spark.tables import load_table

    d = load_table(spark, sf_dir, "documents").select(
        (F.col("n_chars") / 100.0).alias("score"),
        (F.col("doc_id") % 2).cast("int").alias("y"),
    )
    out = binary_auc(d, "score", "y")
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the counts-table cumulative window is hash-partitioned by _bk
    assert "hashpartitioning(_bk" in plan, plan
    assert "HashAggregate" in plan
    assert out.first().auc is not None


def test_binary_auc_checkpoint_single_upstream_execution(spark):
    """binary_auc's thin projection is a lineage cut: the (expensive)
    upstream scorer must evaluate once per row, not once per
    consumer. Counted with an accumulator through a Python UDF."""
    from pyspark.sql.types import DoubleType

    from cascading_hive_spark.operators.relational import binary_auc

    acc = spark.sparkContext.accumulator(0)

    def scored(x: float) -> float:
        acc.add(1)
        return x

    udf = F.udf(scored, DoubleType())
    df = spark.range(100).select(
        udf((F.col("id") % 7).cast("double")).alias("score"),
        (F.col("id") % 2).alias("y"),
    )
    out = binary_auc(df, "score", "y").collect()
    assert len(out) == 1
    # one evaluation per row (the pre-r17 shape ran the scorer once
    # per consumer: >= 200)
    assert acc.value == 100
