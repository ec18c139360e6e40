"""Misra-Gries heavy hitters (operators/sketches.py).

Properties under test: (1) the two-pass result is EXACT — equal to
the brute-force groupBy+filter — regardless of how the input is
partitioned (the candidate superset varies, the answer must not);
(2) the summary structure itself respects its k-counter bound while
never evicting a key frequent enough to matter.
"""

import math

import pytest

from pyspark.sql import functions as F

from cascading_hive_spark.operators.sketches import _mg_merge, heavy_hitters


def _skewed_df(spark):
    # 10_000 rows: key "hot" 30%, "warm" 20%, 500-key uniform tail 50%
    return spark.range(10_000).select(
        F.when(F.col("id") < 3000, F.lit("hot"))
        .when(F.col("id") < 5000, F.lit("warm"))
        .otherwise(F.concat(F.lit("t"), (F.col("id") % 500).cast("string")))
        .alias("k")
    )


def _exact(df, phi):
    total = df.count()
    return {
        (r["k"], r["cnt"])
        for r in df.groupBy("k")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") > phi * total)
        .collect()
    }


@pytest.mark.parametrize("n_parts", [1, 7, 32])
def test_heavy_hitters_exact_across_partitionings(spark, n_parts):
    df = _skewed_df(spark).repartition(n_parts)
    got = {
        (r["k"], r["cnt"])
        for r in heavy_hitters(df, ["k"], phi=0.1).collect()
    }
    assert got == _exact(df, 0.1) == {("hot", 3000), ("warm", 2000)}


def test_heavy_hitters_composite_key_matches_exact(spark):
    df = _skewed_df(spark).withColumn("g", (F.length("k") % 2).cast("int"))
    phi = 0.05
    total = df.count()
    exact = {
        (r["k"], r["g"], r["cnt"])
        for r in df.groupBy("k", "g")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") > phi * total)
        .collect()
    }
    got = {
        (r["k"], r["g"], r["cnt"])
        for r in heavy_hitters(df, ["k", "g"], phi=phi).collect()
    }
    assert got == exact


def test_heavy_hitters_tight_k_still_exact(spark):
    # phi=0.45 -> k=3 counters; only "hot"+"warm" can survive eviction
    df = spark.range(1000).select(
        F.when(F.col("id") < 500, F.lit("hot"))
        .otherwise(F.concat(F.lit("t"), (F.col("id") % 50).cast("string")))
        .alias("k")
    )
    got = {(r["k"], r["cnt"]) for r in heavy_hitters(df, ["k"], 0.45).collect()}
    assert got == {("hot", 500)}


def test_heavy_hitters_phi_validation(spark):
    df = _skewed_df(spark)
    with pytest.raises(ValueError):
        heavy_hitters(df, ["k"], 0.0)
    with pytest.raises(ValueError):
        heavy_hitters(df, ["k"], 1.0)


def test_mg_merge_bounds_and_retention():
    k = 4
    counters: dict = {}
    # stream: "a" appears 60 times among 100 items -> must survive any
    # eviction schedule with k=4 (count > n/k = 25)
    stream = (["a"] * 3 + ["b", "c"]) * 20
    for i in range(0, len(stream), 10):
        batch: dict = {}
        for x in stream[i : i + 10]:
            batch[x] = batch.get(x, 0) + 1
        counters = _mg_merge(counters, batch, k)
        assert len(counters) <= k
    assert "a" in counters


def test_mg_merge_never_overcounts():
    counters = _mg_merge({}, {"a": 5, "b": 3, "c": 2, "d": 1}, k=2)
    # after cutting at the (k+1)-th largest, residual counts are
    # underestimates (MG invariant), never above the true count
    assert counters.get("a", 0) <= 5
    assert all(c > 0 for c in counters.values())
    assert len(counters) <= 2


def test_heavy_hitters_keeps_null_keys(spark):
    """NULL-keyed groups are first-class heavy hitters: pass 1 keeps
    them (dropna=False) and pass 2's recount join must be null-safe —
    a plain equality semi-join would silently drop them (ADVICE r8).
    Also exercises the NaN->None canonicalization: a null in a bigint
    key column must survive the Arrow round-trip of mapInPandas."""
    df = spark.range(1000).select(
        F.when(F.col("id") < 400, F.lit(None).cast("bigint"))
        .otherwise(F.col("id") % 200)
        .alias("k")
    ).repartition(7)
    got = {
        (r["k"], r["cnt"])
        for r in heavy_hitters(df, ["k"], phi=0.1).collect()
    }
    assert got == {(None, 400)}


def test_heavy_hitters_null_key_split_across_partitions(spark):
    """The null key must merge into ONE Misra-Gries counter per
    partition even when it arrives across many Arrow batches — NaN's
    self-inequality would otherwise split it and break the retention
    bound. Composite (bigint, string) keys with nulls on both sides."""
    df = spark.createDataFrame(
        [(None, None)] * 300
        + [(1, "x")] * 250
        + [(i, "t") for i in range(450)],
        "a bigint, b string",
    ).repartition(11)
    got = {
        (r["a"], r["b"], r["cnt"])
        for r in heavy_hitters(df, ["a", "b"], phi=0.2).collect()
    }
    assert got == {(None, None, 300), (1, "x", 250)}


# ---------------------------------------------------------------------------
# Bloom membership sketch
# ---------------------------------------------------------------------------
def test_bloom_no_false_negatives_and_bounded_fp(spark):
    """Every inserted item probes true (the Bloom law); disjoint
    probes stay mostly false (m sized for ~1% fp here)."""
    from cascading_hive_spark.operators.sketches import (
        bloom_build,
        bloom_contains,
        bloom_dense_words,
    )

    m, k = 131_072, 3
    items = spark.createDataFrame(
        [(f"item-{i}",) for i in range(2000)], "g string"
    )
    words = bloom_dense_words(bloom_build(items, "g", m, k), m)
    hits = items.select(
        bloom_contains(F.col("g"), words, m, k).alias("h")
    ).collect()
    assert all(r.h for r in hits)  # no false negatives, ever
    others = spark.createDataFrame(
        [(f"other-{i}",) for i in range(2000)], "g string"
    )
    fp = others.select(
        bloom_contains(F.col("g"), words, m, k).alias("h")
    ).filter("h").count()
    assert fp <= 60, fp  # ~(1-e^{-3*2000/131072})^3 ~ 1e-4 -> slack


def test_bloom_mergeable_partials(spark):
    """bit_or per word over shard-built partial filters equals the
    single-shot build — the partial_agg discipline for sketches."""
    from cascading_hive_spark.operators.sketches import bloom_build

    m, k = 8192, 3
    a = spark.createDataFrame([(f"a{i}",) for i in range(300)], "g string")
    b = spark.createDataFrame([(f"b{i}",) for i in range(300)], "g string")
    merged = (
        bloom_build(a, "g", m, k)
        .union(bloom_build(b, "g", m, k))
        .groupBy("word_idx")
        .agg(F.bit_or("bits").alias("bits"))
    )
    full = bloom_build(a.union(b), "g", m, k)
    got = {(r.word_idx, r.bits) for r in merged.collect()}
    exp = {(r.word_idx, r.bits) for r in full.collect()}
    assert got == exp


def test_bloom_probe_plan_is_map_only(spark):
    """The probe embeds the filter as a literal: no join, no exchange
    in the plan — one scan decontaminates the corpus."""
    from cascading_hive_spark.operators.sketches import (
        bloom_build,
        bloom_contains,
        bloom_dense_words,
    )

    m, k = 8192, 3
    items = spark.createDataFrame([("x",), ("y",)], "g string")
    words = bloom_dense_words(bloom_build(items, "g", m, k), m)
    probe = spark.createDataFrame([("x",), ("z",)], "g string").select(
        bloom_contains(F.col("g"), words, m, k).alias("h")
    )
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan and "Exchange" not in plan
    got = sorted(r.h for r in probe.collect())
    assert got[1] is True  # the inserted item


def test_bloom_decontaminate_superset_of_exact(spark, sf_dir):
    """The query's contamination flags must be a SUPERSET of the
    exact-join truth (no false negatives), with equality on this
    corpus unless a false positive lands (tolerated, counted)."""
    from cascading_hive_spark.queries import _REGISTRY
    from cascading_hive_spark.tables import load_table

    out = {r.doc_id: r.contaminated
           for r in _REGISTRY["docs_bloom_decontaminate"][0](spark, sf_dir).collect()}
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    grams = F.when(
        F.size(toks) >= 5,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 4),
            lambda p: F.array_join(F.slice(toks, p, 5), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    g = docs.select("doc_id", F.explode(grams).alias("g"))
    bench_g = g.filter(F.pmod(F.col("doc_id"), F.lit(17)) == 0).select("g").distinct()
    truth = {r.doc_id for r in g.join(bench_g, "g").select("doc_id").distinct().collect()}
    flagged = {d for d, c in out.items() if c}
    assert truth <= flagged  # Bloom law
    assert len(flagged - truth) <= 2  # fp slack at this m/n


def test_bloom_probe_broadcast_equals_literal(spark):
    """The broadcast-join probe (large-filter path) and the
    plan-literal probe agree item-for-item, and its plan is all
    broadcast joins — no shuffle of the probed side."""
    from cascading_hive_spark.operators.sketches import (
        bloom_build,
        bloom_contains,
        bloom_dense_words,
        bloom_probe_broadcast,
    )

    m, k = 8192, 3
    items = spark.createDataFrame([(f"i{i}",) for i in range(500)], "g string")
    bloom = bloom_build(items, "g", m, k)
    words = bloom_dense_words(bloom, m)
    probe = spark.createDataFrame(
        [(i, f"i{i}" if i % 2 == 0 else f"x{i}") for i in range(400)],
        "pid long, g string",
    )
    lit_hits = {
        r.pid: r.h
        for r in probe.select(
            "pid", bloom_contains(F.col("g"), words, m, k).alias("h")
        ).collect()
    }
    bc = bloom_probe_broadcast(probe, "g", bloom, m, k)
    bc_hits = {r.pid: r.bloom_hit for r in bc.collect()}
    assert bc_hits == lit_hits
    assert all(bc_hits[i] for i in range(0, 400, 2))  # inserted items hit
    plan = bc._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_bloom_probe_auto_dispatch_boundary(spark):
    """bloom_probe (r14 VERDICT #7) picks the physical leg on filter
    size: <= BLOOM_LITERAL_MAX_WORDS 64-bit words rides the plan as a
    dense literal (no join), above it probes via broadcast joins —
    and both legs flag identically."""
    from cascading_hive_spark.operators.sketches import (
        _BLOOM_WORD_BITS,
        BLOOM_LITERAL_MAX_WORDS,
        bloom_build,
        bloom_probe,
    )

    items = spark.createDataFrame([(f"i{i}",) for i in range(200)], "g string")
    probe = spark.createDataFrame(
        [(i, f"i{i}" if i % 2 == 0 else f"x{i}") for i in range(100)],
        "pid long, g string",
    )
    # just-inside boundary: n_words == max -> literal leg, joinless
    m_small = _BLOOM_WORD_BITS * (BLOOM_LITERAL_MAX_WORDS - 1)
    small = bloom_probe(probe, "g", bloom_build(items, "g", m_small, 3), m_small)
    plan = small._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, "literal leg must be map-only"
    # just-outside: n_words == max + 1 -> broadcast leg
    m_big = _BLOOM_WORD_BITS * BLOOM_LITERAL_MAX_WORDS
    assert m_big // _BLOOM_WORD_BITS + 1 == BLOOM_LITERAL_MAX_WORDS + 1
    big = bloom_probe(probe, "g", bloom_build(items, "g", m_big, 3), m_big)
    plan_big = big._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan_big
    assert "SortMergeJoin" not in plan_big
    # both legs obey the Bloom law on inserted items
    small_hits = {r.pid: r.bloom_hit for r in small.collect()}
    big_hits = {r.pid: r.bloom_hit for r in big.collect()}
    assert all(small_hits[i] for i in range(0, 100, 2))
    assert all(big_hits[i] for i in range(0, 100, 2))


def test_bloom_dense_words_m_bits_mismatch_raises(spark):
    """Passing a smaller m_bits than the filter was built with must
    raise a contract error naming the mismatch, not IndexError
    (r14 ADVICE)."""
    import pytest

    from cascading_hive_spark.operators.sketches import (
        bloom_build,
        bloom_dense_words,
    )

    items = spark.createDataFrame([(f"i{i}",) for i in range(500)], "g string")
    bloom = bloom_build(items, "g", 131_072, 3)
    with pytest.raises(ValueError, match="m_bits"):
        bloom_dense_words(bloom, 8192)


def test_bloom_probe_broadcast_m_bits_mismatch_raises(spark):
    """The BROADCAST leg must guard an m_bits mismatch exactly like
    the literal leg does (r15 ADVICE): a filter built with a larger
    m_bits probed with a smaller one would otherwise silently join on
    wrong positions and emit wrong flags — including false negatives,
    violating the no-false-negative law — with no error. Both sides
    of the 10k-word dispatch boundary now raise on the same caller
    mistake."""
    import pytest

    from cascading_hive_spark.operators.sketches import (
        _BLOOM_WORD_BITS,
        BLOOM_LITERAL_MAX_WORDS,
        bloom_build,
        bloom_probe,
        bloom_probe_broadcast,
    )

    items = spark.createDataFrame([(f"i{i}",) for i in range(500)], "g string")
    probe = spark.createDataFrame([(f"i{i}",) for i in range(50)], "g string")
    m_built = _BLOOM_WORD_BITS * (BLOOM_LITERAL_MAX_WORDS + 50)
    bloom = bloom_build(items, "g", m_built, 3)
    # direct broadcast-leg call with a too-small m_bits
    with pytest.raises(ValueError, match="m_bits"):
        bloom_probe_broadcast(probe, "g", bloom, 8192 * 63)
    # and through the dispatcher: the wrong m_bits still lands the
    # call above the boundary, so it must hit the broadcast guard
    m_wrong = _BLOOM_WORD_BITS * (BLOOM_LITERAL_MAX_WORDS + 10)
    with pytest.raises(ValueError, match="m_bits"):
        bloom_probe(probe, "g", bloom, m_wrong)


def test_bcast_decon_query_takes_broadcast_leg(spark, sf_dir):
    """docs_bloom_decontaminate_bcast's 2^21-bit filter is past
    BLOOM_LITERAL_MAX_WORDS: the plan must show broadcast hash joins
    (k probes), never a shuffled join of the corpus side — and never
    a megabit plan literal (the 163s Catalyst-churn failure mode)."""
    from cascading_hive_spark.queries import _REGISTRY

    df = _REGISTRY["docs_bloom_decontaminate_bcast"][0](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_bloom_pandas_probe_matches_literal(spark):
    """The Arrow-batched numpy probe (streaming big-filter leg) must
    replicate the portable column-expression probe's per-gram flags
    bit-for-bit — same md5 position hash, same AND-of-k law — and
    reject the xxhash64 convention it cannot replicate."""
    import pytest

    from cascading_hive_spark.operators.sketches import (
        bloom_build,
        bloom_contains,
        bloom_dense_words,
        bloom_flag_grams_pandas,
    )

    m, k = 8192, 3
    items = spark.createDataFrame([(f"i{i}",) for i in range(300)], "g string")
    words = bloom_dense_words(bloom_build(items, "g", m, k), m)
    probe = spark.createDataFrame(
        [(i, [f"i{i}", f"x{i}", f"i{(i + 1) % 300}"]) for i in range(200)]
        + [(200, []), (201, None)],
        "pid long, grams array<string>",
    )
    lit = probe.select(
        "pid",
        F.size(
            F.filter(
                F.coalesce(F.col("grams"), F.array().cast("array<string>")),
                lambda g: bloom_contains(g, words, m, k),
            )
        ).cast("long").alias("n"),
    )
    lit_n = {r.pid: r.n for r in lit.collect()}
    flag = bloom_flag_grams_pandas(words, m, k)
    got = {
        r.pid: r.n
        for r in probe.select("pid", flag(F.col("grams")).alias("n")).collect()
    }
    assert got == lit_n
    assert got[200] == 0 and got[201] == 0
    assert all(got[i] >= 2 for i in range(200))  # the two inserted grams
    with pytest.raises(ValueError, match="portable"):
        bloom_flag_grams_pandas(words, m, k, portable=False)
    with pytest.raises(ValueError, match="m_bits"):
        bloom_flag_grams_pandas(words, m * 2, k)


def test_bloom_gram5_index_explode_matches_array_form(spark, sf_dir):
    """The index-sequence gram rows equal the old inline-split array
    form (including the explode_outer NULL row per under-5-token
    doc)."""
    from cascading_hive_spark.queries import (
        _bloom_gram5_of,
        _bloom_gram5_seq,
        _bloom_gram5_tokens,
    )
    from cascading_hive_spark.tables import load_table

    d = load_table(spark, sf_dir, "documents")
    # old formulation, verbatim from the r16 query body
    toks = F.split(F.col("text"), " ")
    grams = F.when(
        F.size(toks) >= 5,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 4),
            lambda p: F.array_join(F.slice(toks, p, 5), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    old = d.select("doc_id", F.explode_outer(grams).alias("g"))
    dt = _bloom_gram5_tokens(d)
    new = dt.select(
        "doc_id", "_toks", F.explode_outer(_bloom_gram5_seq()).alias("_p")
    ).select("doc_id", _bloom_gram5_of(F.col("_p")).alias("g"))
    assert old.exceptAll(new).count() == 0
    assert new.exceptAll(old).count() == 0


def test_histogram_quantile_matches_python_replay(spark):
    """histogram_quantile_merge == an exact pure-Python replay of the
    fixed-grid pipeline (bounds -> bin -> merge -> cumulative ->
    interpolate) on random float lists — the whole point of the
    deterministic sketch is that this equality is EXACT, not
    approximate."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from cascading_hive_spark.operators.sketches import histogram_quantile_merge

    BINS = 16

    @settings(max_examples=12, deadline=None)
    @given(
        st.lists(
            st.floats(
                min_value=-1e6,
                max_value=1e6,
                allow_nan=False,
                allow_infinity=False,
                width=32,
            ),
            min_size=3,
            max_size=60,
        ).filter(lambda xs: max(xs) > min(xs))
    )
    def check(vals):
        df = spark.createDataFrame(
            [(float(v), i % 3) for i, v in enumerate(vals)], "v double, pk int"
        )
        row = histogram_quantile_merge(
            df, "v", "pk", bins=BINS, probs=(0.5, 0.9)
        ).collect()[0]
        lo, hi = min(vals), max(vals)
        width = (hi - lo) / float(BINS)
        counts: dict[int, int] = {}
        for v in vals:
            b = min(BINS - 1, int(math.floor((v - lo) / width)))
            counts[b] = counts.get(b, 0) + 1
        n = len(vals)
        for p, got in ((0.5, row.q500), (0.9, row.q900)):
            target = p * n
            cum = 0
            for b in sorted(counts):
                prev = cum
                cum += counts[b]
                if cum >= target and prev < target:
                    est = lo + width * (b + (target - prev) / counts[b])
                    break
            # Spark/DuckDB round() is HALF_UP on the exact double;
            # Python round() is banker's — replay HALF_UP explicitly
            from decimal import ROUND_HALF_UP, Decimal

            want = float(
                Decimal(repr(est)).quantize(Decimal("0.000001"), ROUND_HALF_UP)
            ) + 0.0
            assert got == want, (vals, p, got, want)
        assert row.n == n

    check()


def test_heavy_hitters_zipf_shuffle_flat_in_n(spark, status, shuffled_plans):
    """Shape guard: log-uniform (Zipf s=1) keys over [1, 10^12), so most
    keys occur once and their number grows with n. Pass 1 keeps at most
    k = 1/phi + 1 candidates per input partition and pass 2 recounts only
    candidate keys, so the shuffle carries O(k x partitions) records
    whatever n is; an exact groupBy shuffles every distinct key. Record
    counters at n and 4n over the same 8 partitions: shuffle records
    stay within 25 % of each other."""
    u = (F.pmod(F.xxhash64("id"), F.lit(1 << 30)) + 1) / float(1 << 30)

    def hitters(n):
        df = spark.range(0, n, 1, 8).select(
            F.floor(F.pow(F.lit(1e12), u)).cast("long").alias("key")
        ).localCheckpoint(eager=True)
        counted = status.run(lambda: heavy_hitters(df, ["key"], phi=0.01).collect())
        exact = df.groupBy("key").count().filter(F.col("count") > 0.01 * n)
        assert {(r.key, r.cnt) for r in counted.value} == {
            (r.key, r["count"]) for r in exact.collect()
        }
        return counted

    small, big = hitters(50_000), hitters(200_000)
    assert big.shuffle_records <= 1.25 * small.shuffle_records, (
        small.shuffle_records, big.shuffle_records)
