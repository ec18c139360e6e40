"""Unit tests for the round-6 warehouse/curation additions: SCD2
compaction, explicit runtime-filter join, one-scan column profiling,
and the deterministic epoch shuffle."""

from __future__ import annotations

from pyspark.sql import functions as F

from cascading_hive_spark.operators.relational import (
    profile_columns,
    runtime_prefilter_join,
)
from cascading_hive_spark.operators.sampling import deterministic_shuffle
from cascading_hive_spark.operators.scd import scd2_compact


# --- SCD2 -----------------------------------------------------------
def _feed(spark, rows):
    return spark.createDataFrame(rows, "key int, eff int, attr string, tb int")


def test_scd2_compacts_runs_and_marks_current(spark):
    # key 1: A, A (no-op), B, A — three runs; key 2: single row
    rows = [
        (1, 10, "A", 1),
        (1, 20, "A", 2),
        (1, 30, "B", 3),
        (1, 40, "A", 4),
        (2, 15, "X", 5),
    ]
    out = scd2_compact(_feed(spark, rows), "key", "eff", ["attr"], "tb")
    got = {(r.key, r.valid_from): r for r in out.collect()}
    assert set(got) == {(1, 10), (1, 30), (1, 40), (2, 15)}
    assert got[(1, 10)].attr == "A" and got[(1, 10)].valid_to == 30
    assert got[(1, 30)].attr == "B" and got[(1, 30)].valid_to == 40
    assert got[(1, 40)].is_current and got[(1, 40)].valid_to is None
    assert got[(2, 15)].is_current


def test_scd2_same_instant_last_writer_wins(spark):
    rows = [(1, 10, "old", 1), (1, 10, "new", 2)]
    out = scd2_compact(_feed(spark, rows), "key", "eff", ["attr"], "tb").collect()
    assert len(out) == 1 and out[0].attr == "new"


def test_scd2_null_attr_transitions_null_safely(spark):
    # A -> NULL -> NULL -> A : NULL==NULL must NOT start a new run
    rows = [(1, 10, "A", 1), (1, 20, None, 2), (1, 30, None, 3), (1, 40, "A", 4)]
    out = scd2_compact(_feed(spark, rows), "key", "eff", ["attr"], "tb")
    froms = sorted(r.valid_from for r in out.collect())
    assert froms == [10, 20, 40]


def test_scd2_order_independent_of_input_partitioning(spark):
    rows = [(1, t, s, t) for t, s in [(40, "A"), (10, "A"), (30, "B"), (20, "A")]]
    a = scd2_compact(_feed(spark, rows), "key", "eff", ["attr"], "tb")
    b = scd2_compact(
        _feed(spark, rows).repartition(7), "key", "eff", ["attr"], "tb"
    )
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


# --- runtime prefilter join -----------------------------------------
def test_prefilter_join_equals_plain_join(spark):
    probe = spark.range(0, 10_000).select(
        F.col("id").alias("pk"), (F.col("id") % 97).alias("v")
    )
    build = spark.range(0, 10_000, 137).select(
        F.col("id").alias("bk"), F.lit("b").alias("tag")
    )
    got = runtime_prefilter_join(probe, build, "pk", "bk", m_bits=8)
    want = probe.join(build, probe.pk == build.bk)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_prefilter_join_semi_and_rejects_outer(spark):
    import pytest

    probe = spark.range(0, 1000).select(F.col("id").alias("pk"))
    build = spark.range(0, 1000, 10).select(F.col("id").alias("bk"))
    n = runtime_prefilter_join(probe, build, "pk", "bk", how="left_semi").count()
    assert n == 100
    with pytest.raises(ValueError):
        runtime_prefilter_join(probe, build, "pk", "bk", how="left")


def test_prefilter_join_mixed_integral_key_types(spark):
    """int-vs-bigint keys (ADVICE r6): xxhash64 hashes the value AS
    TYPED, so without widening, matching rows would be silently
    discarded by the prefilter. Widened hashing must equal the plain
    join; a non-integral type mix raises instead of silently dropping."""
    import pytest

    probe = spark.range(0, 1000).select(F.col("id").cast("int").alias("pk"))
    build = spark.range(0, 1000, 10).select(F.col("id").alias("bk"))  # bigint
    got = runtime_prefilter_join(probe, build, "pk", "bk", m_bits=8)
    want = probe.join(build, probe.pk == build.bk)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    assert got.count() == 100
    sprobe = probe.select(F.col("pk").cast("string").alias("pk"))
    with pytest.raises(ValueError, match="key types"):
        runtime_prefilter_join(sprobe, build, "pk", "bk")


def test_prefilter_plan_broadcasts_bucket_set(spark):
    probe = spark.range(0, 1000).select(F.col("id").alias("pk"))
    build = spark.range(0, 100).select(F.col("id").alias("bk"))
    plan = runtime_prefilter_join(probe, build, "pk", "bk")._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


# --- column profiling -----------------------------------------------
def test_profile_columns_counts(spark):
    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "a"), (None, "c")], "x int, s string"
    )
    got = {r.column: r for r in profile_columns(df, ["x", "s"]).collect()}
    assert got["x"].n_rows == 4 and got["x"].n_nulls == 1
    assert got["x"].n_distinct == 3
    assert got["x"].min_value == "1" and got["x"].max_value == "3"
    assert got["s"].n_nulls == 1 and got["s"].n_distinct == 2
    assert got["s"].min_value == "a" and got["s"].max_value == "c"


def test_profile_single_scan(spark):
    # one aggregation over one source: the optimized plan reads the
    # relation once (Expand-based multi-distinct, not N self-joins)
    df = spark.range(0, 100).select(
        F.col("id").alias("a"), (F.col("id") % 7).alias("b")
    )
    plan = profile_columns(df, ["a", "b"])._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Range (0, 100") == 1


# --- deterministic shuffle ------------------------------------------
def test_shuffle_is_dense_permutation_matching_global_order(spark):
    docs = spark.range(0, 500).select(F.col("id").alias("doc_id"))
    out = deterministic_shuffle(docs, "doc_id", seed=3).collect()
    assert sorted(r.global_pos for r in out) == list(range(500))
    # two-phase index must equal the naive global row_number order
    by_hash = sorted(
        out, key=lambda r: __import__("hashlib").md5(f"3|{r.doc_id}".encode()).hexdigest()
    )
    assert [r.global_pos for r in by_hash] == list(range(500))


def test_shuffle_stable_under_partitioning_and_bucket_width(spark):
    docs = spark.range(0, 300).select(F.col("id").alias("doc_id"))
    a = deterministic_shuffle(docs, "doc_id", seed=1).collect()
    b = deterministic_shuffle(docs.repartition(13), "doc_id", seed=1).collect()
    c = deterministic_shuffle(docs, "doc_id", seed=1, bucket_chars=3).collect()
    key = lambda rows: sorted((r.doc_id, r.global_pos) for r in rows)  # noqa: E731
    assert key(a) == key(b) == key(c)


def test_shuffle_seed_changes_order(spark):
    docs = spark.range(0, 300).select(F.col("id").alias("doc_id"))
    a = {r.doc_id: r.global_pos for r in deterministic_shuffle(docs, "doc_id", 1).collect()}
    b = {r.doc_id: r.global_pos for r in deterministic_shuffle(docs, "doc_id", 2).collect()}
    assert a != b


# --- linear interpolation gap fill ----------------------------------
def test_interpolate_daily_linear_fill_and_flags(spark):
    import datetime as dt

    from cascading_hive_spark.operators.timeseries import interpolate_daily

    d = dt.date
    rows = [
        ("a", d(2024, 1, 1), 10.0),
        ("a", d(2024, 1, 4), 40.0),  # gap: jan 2 -> 20, jan 3 -> 30
        ("a", d(2024, 1, 5), 5.0),
        ("b", d(2024, 1, 2), 7.0),  # singleton key: no gaps, no spine growth
    ]
    df = spark.createDataFrame(rows, "k string, day date, v double")
    out = {(r.k, str(r.day)): r for r in interpolate_daily(df, ["k"], "day", "v").collect()}
    assert len(out) == 6
    assert out[("a", "2024-01-02")].v == 20.0 and out[("a", "2024-01-02")].interpolated
    assert out[("a", "2024-01-03")].v == 30.0 and out[("a", "2024-01-03")].interpolated
    assert out[("a", "2024-01-01")].v == 10.0 and not out[("a", "2024-01-01")].interpolated
    assert out[("a", "2024-01-05")].v == 5.0
    assert out[("b", "2024-01-02")].v == 7.0 and not out[("b", "2024-01-02")].interpolated


def test_interpolate_daily_no_shrinking_window_frame(spark):
    import datetime as dt

    from cascading_hive_spark.operators.timeseries import interpolate_daily

    df = spark.createDataFrame(
        [("a", dt.date(2024, 1, 1), 1.0), ("a", dt.date(2024, 1, 9), 9.0)],
        "k string, day date, v double",
    )
    plan = (
        interpolate_daily(df, ["k"], "day", "v")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
        .lower()
    )
    # the O(n^2) frame the asof fix banned must not reappear here
    assert "unboundedfollowing" not in plan


# --- property test: SCD2 vs a pure-Python reference ------------------
def test_scd2_property_random_feeds(spark):
    from hypothesis import given, settings
    from hypothesis import strategies as st

    rows_strategy = st.lists(
        st.tuples(
            st.integers(1, 3),  # key
            st.integers(0, 8),  # eff
            st.sampled_from(["A", "B", None]),  # attr
        ),
        min_size=1,
        max_size=12,
    )

    def reference(rows):
        out = []
        for key in {r[0] for r in rows}:
            feed = [r for r in rows if r[0] == key]
            # same-instant: last writer (highest tiebreak = list index)
            by_eff = {}
            for i, (_, eff, attr) in enumerate(feed):
                if eff not in by_eff or i > by_eff[eff][0]:
                    by_eff[eff] = (i, attr)
            seq = [(eff, a) for eff, (_, a) in sorted(by_eff.items())]
            runs = [
                (eff, a)
                for j, (eff, a) in enumerate(seq)
                if j == 0 or a != seq[j - 1][1]
            ]
            for j, (eff, a) in enumerate(runs):
                nxt = runs[j + 1][0] if j + 1 < len(runs) else None
                out.append((key, a, eff, nxt, nxt is None))
        return sorted(out, key=lambda t: (t[0], t[2]))

    @settings(max_examples=12, deadline=None)
    @given(rows_strategy)
    def run(rows):
        from cascading_hive_spark.operators.scd import scd2_compact

        feed = spark.createDataFrame(
            [(k, e, a, i) for i, (k, e, a) in enumerate(rows)],
            "key int, eff int, attr string, tb int",
        )
        got = sorted(
            (
                (r.key, r.attr, r.valid_from, r.valid_to, r.is_current)
                for r in scd2_compact(feed, "key", "eff", ["attr"], "tb").collect()
            ),
            key=lambda t: (t[0], t[2]),
        )
        assert got == reference(rows)

    run()


def test_blocked_levenshtein_max_block_guard(spark):
    from cascading_hive_spark.operators.dedup import blocked_levenshtein_pairs

    df = spark.createDataFrame(
        [(i, "same", "hot") for i in range(100)]
        + [(200, "abc", "cold"), (201, "abd", "cold")],
        "id long, name string, blk string",
    )
    out = blocked_levenshtein_pairs(df, "id", "name", ["blk"], max_dist=1, max_block=50)
    rows = out.collect()
    # the 100-row hot block is dropped by the guard; the cold pair survives
    assert [(r.id_a, r.id_b, r.distance) for r in rows] == [(200, 201, 1)]


# --- CDC apply (MERGE with deletes) ---------------------------------
def test_cdc_apply_latest_wins_and_deletes(spark):
    from cascading_hive_spark.io import cdc_apply

    target = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c"), (4, "d")], "k long, v string"
    )
    changes = spark.createDataFrame(
        [
            (2, "b2", "U", 1),   # plain update
            (3, "x", "U", 1),    # update then...
            (3, "x", "D", 2),    # ...deleted later: latest wins
            (4, "y", "D", 1),    # deleted then...
            (4, "d2", "U", 2),   # ...re-upserted later: survives
            (5, "e", "I", 1),    # brand-new key
        ],
        "k long, v string, op string, seq int",
    )
    got = {r.k: r.v for r in cdc_apply(target, changes, ["k"]).collect()}
    assert got == {1: "a", 2: "b2", 4: "d2", 5: "e"}  # 3 deleted
    # determinism under repartitioning (window pick is key-scoped)
    got2 = {
        r.k: r.v
        for r in cdc_apply(target.repartition(5), changes.repartition(3), ["k"]).collect()
    }
    assert got == got2


def test_table_diff_roundtrip_law(spark):
    """cdc_apply(old, diff-as-changes(table_diff(old, new))) == new —
    the reconciliation law that makes diff+apply a migration tool."""
    from cascading_hive_spark.io import cdc_apply, table_diff

    old = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0), (3, None, 3.0), (4, "d", 4.0)],
        "k long, v string, x double",
    )
    new = spark.createDataFrame(
        [(1, "a", 1.0), (2, "B", 2.0), (3, "c", 3.0), (5, "e", 5.0)],
        "k long, v string, x double",
    )  # 2 changed, 3 null->value changed, 4 removed, 5 added
    d = table_diff(old, new, ["k"])
    statuses = {r.k: r.diff_status for r in d.collect()}
    assert statuses == {2: "changed", 3: "changed", 4: "removed", 5: "added"}
    changes = d.select(
        "k",
        F.col("_new.v").alias("v"),
        F.col("_new.x").alias("x"),
        F.when(F.col("diff_status") == "removed", "D").otherwise("U").alias("op"),
        F.lit(1).alias("seq"),
    )
    replayed = cdc_apply(old, changes, ["k"])
    assert sorted(map(tuple, replayed.collect())) == sorted(map(tuple, new.collect()))


def test_table_diff_rejects_mismatched_payload(spark):
    import pytest

    from cascading_hive_spark.io import table_diff

    a = spark.createDataFrame([(1, "a")], "k long, v string")
    b = spark.createDataFrame([(1, 2.0)], "k long, w double")
    with pytest.raises(ValueError, match="payload columns differ"):
        table_diff(a, b, ["k"])


def test_cdc_apply_ambiguous_ties_are_deterministic(spark):
    """A mis-sequenced feed carrying duplicate (key, seq, op) rows with
    DIFFERENT payloads must resolve to the SAME winner on every run
    and partitioning (the payload-hash tiebreak; without it
    row_number picks whichever row the shuffle happened to deliver
    first)."""
    from pyspark.sql import functions as F

    from cascading_hive_spark.io import cdc_apply

    target = spark.createDataFrame([(1, "old"), (2, "keep")], "k int, v string")
    rows = [
        (1, "payload_a", "U", 5),
        (1, "payload_b", "U", 5),  # same key/seq/op, different payload
        (1, "payload_c", "U", 5),
    ]
    outs = []
    for nparts, order in [(1, False), (7, True), (32, False)]:
        changes = spark.createDataFrame(
            list(reversed(rows)) if order else rows,
            "k int, v string, op string, seq int",
        ).repartition(nparts)
        out = cdc_apply(target, changes, ["k"])
        outs.append(sorted((r.k, r.v) for r in out.collect()))
    assert outs[0] == outs[1] == outs[2]
    # the key-2 row is untouched; key 1 took exactly one of the tied payloads
    assert (2, "keep") in outs[0]
    k1 = [v for k, v in outs[0] if k == 1]
    assert len(k1) == 1 and k1[0] in {"payload_a", "payload_b", "payload_c"}


def test_compact_files_shrinks_file_count_preserving_rows(spark, status, tmp_path):
    """50 tiny files -> ceil(bytes / target) files; content identical;
    file_stats sees the layout before and after. The byte total comes
    from the read's file index, not a scan: at most three jobs (schema
    inference, the shuffle map and the write)."""
    import math

    from pyspark.sql import functions as F

    from cascading_hive_spark.io import compact_files, file_stats

    src = str(tmp_path / "tiny_files")
    spark.range(10_000).selectExpr("id", "id % 13 AS v").repartition(50).write.parquet(src)
    before = file_stats(spark, src)
    n_before = before.count()
    assert n_before == 50
    total_bytes = before.agg(F.sum("file_bytes")).first()[0]
    dst = str(tmp_path / "compacted")
    target = total_bytes // 4
    run = status.run(lambda: compact_files(spark, src, dst, target_file_bytes=target))
    n_out = run.value
    assert n_out == math.ceil(total_bytes / target)
    assert len(run.jobs) <= 3, run.jobs
    after = file_stats(spark, dst)
    assert after.count() == n_out <= 5
    a = spark.read.parquet(src).orderBy("id").collect()
    b = spark.read.parquet(dst).orderBy("id").collect()
    assert a == b


def test_constraint_report_counts_all_rule_kinds(spark):
    """Crafted violations for every rule kind: null handling on row
    predicates (nulls violate), duplicate-key row counting, and FK
    semantics (nulls never violate a reference)."""
    from pyspark.sql import functions as F

    from cascading_hive_spark.operators.constraints import constraint_report

    df = spark.createDataFrame(
        [
            (1, 10.0, "A"),
            (2, -5.0, "A"),      # violates non_negative
            (2, None, "B"),      # dup key 2 + null price violates non_negative
            (3, 7.0, None),      # null category -> violates whitelist
            (4, 8.0, "Z"),       # bad category
        ],
        "k int, price double, cat string",
    )
    parent = spark.createDataFrame([("A",), ("B",)], "cat string")
    rep = {
        r.rule: r.n_violations
        for r in constraint_report(
            df,
            checks=[
                ("non_negative", F.col("price") >= 0),
                ("cat_whitelist", F.col("cat").isin("A", "B", "Z")),
            ],
            unique=[["k"]],
            references=[("cat", parent, "cat")],
        ).collect()
    }
    assert rep == {
        "non_negative": 2,          # -5.0 and the NULL price
        "cat_whitelist": 1,         # only the NULL category
        "unique(k)": 2,             # both rows of key 2
        "references(cat -> cat)": 1,  # 'Z' orphan; NULL cat not counted
    }


def test_constraint_report_empty_rules(spark):
    from cascading_hive_spark.operators.constraints import constraint_report

    df = spark.range(3)
    out = constraint_report(df)
    assert out.count() == 0
    assert out.columns == ["rule", "n_violations"]


def test_constraint_report_odd_rule_names_and_duplicates(spark):
    """Rule names are display labels, not column references: a name
    containing a dot (or backtick) must not be parsed as nested-field
    access when the report re-references its aggregate (ADVICE r8 —
    aliases are now positional _chk_i). Duplicate names raise."""
    from pyspark.sql import functions as F

    from cascading_hive_spark.operators.constraints import constraint_report

    df = spark.createDataFrame([(1,), (-2,), (3,)], "v int")
    rep = {
        r.rule: r.n_violations
        for r in constraint_report(
            df,
            checks=[
                ("v.is.positive", F.col("v") > 0),
                ("weird `name`", F.col("v") < 100),
            ],
        ).collect()
    }
    assert rep == {"v.is.positive": 1, "weird `name`": 0}
    import pytest as _pytest

    with _pytest.raises(ValueError, match="duplicate rule names"):
        constraint_report(
            df, checks=[("r", F.col("v") > 0), ("r", F.col("v") < 0)]
        )
