"""Sequence-packing invariants: total coverage, capacity bound,
oversized-doc handling, and partition-independent determinism."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cascading_hive_spark.operators.packing import pack_sequences, packing_stats
from cascading_hive_spark.tables import load_table

CAP = 128


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents").cache()


def test_every_doc_packed_exactly_once(spark, docs):
    packed = pack_sequences(docs, "doc_id", text_col="text", capacity=CAP)
    assert packed.count() == docs.count()
    assert packed.select("doc_id").distinct().count() == docs.count()


def test_capacity_respected_except_oversized_singletons(spark, docs):
    packed = pack_sequences(docs, "doc_id", text_col="text", capacity=CAP)
    stats = packing_stats(packed, CAP)
    over = stats.filter(F.col("fill_tokens") > CAP)
    # a sequence may exceed capacity ONLY as a single oversized doc
    assert over.filter(F.col("n_docs") > 1).count() == 0
    # packing is not degenerate: most sequences hold multiple docs
    multi = stats.filter(F.col("n_docs") >= 2).count()
    assert multi > 0.5 * stats.count()


def test_packing_partition_independent(spark, docs):
    a = pack_sequences(docs, "doc_id", text_col="text", capacity=CAP)
    b = pack_sequences(
        docs.repartition(13), "doc_id", text_col="text", capacity=CAP
    )
    ra = {(r.doc_id, r.pack_group, r.seq) for r in a.collect()}
    rb = {(r.doc_id, r.pack_group, r.seq) for r in b.collect()}
    assert ra == rb


def test_oversized_doc_gets_own_sequence(spark):
    df = spark.createDataFrame(
        [(1, 50), (2, 500), (3, 50), (4, 60)], "id long, ntok int"
    )
    packed = pack_sequences(
        df, "id", token_col="ntok", capacity=CAP, group_expr=F.lit(0)
    ).collect()
    by_id = {r.doc_id: r.seq for r in packed}
    # next-fit in id order: [1]=50 fits, adding [2]=500 overflows -> its
    # own seq; [3] then starts seq 2, [4] joins it (50+60 <= 128)
    assert by_id[1] == 0 and by_id[2] == 1 and by_id[3] == 2 and by_id[4] == 2


def test_packing_matches_pure_python_reference(spark):
    """Property test: the distributed per-group walk equals a straight
    single-threaded next-fit over the same (id-ordered) token lists,
    for random token counts around the capacity."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=15, deadline=None)
    @given(
        st.lists(st.integers(min_value=1, max_value=200), min_size=1, max_size=60),
        st.integers(min_value=2, max_value=5),
    )
    def check(tokens, n_groups):
        rows = [(i, t) for i, t in enumerate(tokens)]
        df = spark.createDataFrame(rows, "id long, ntok int")
        got = {
            (r.doc_id, r.pack_group, r.seq)
            for r in pack_sequences(
                df, "id", token_col="ntok", capacity=CAP,
                group_expr=F.col("id") % n_groups,
            ).collect()
        }
        want = set()
        for g in range(n_groups):
            fill, seq = 0, 0
            for i, t in rows:
                if i % n_groups != g:
                    continue
                if fill > 0 and fill + t > CAP:
                    seq += 1
                    fill = t
                else:
                    fill += t
                want.add((i, g, seq))
        assert got == want

    check()


def test_token_col_and_text_col_are_exclusive(spark, docs):
    with pytest.raises(ValueError, match="exactly one"):
        pack_sequences(docs, "doc_id", text_col="text", token_col="n_chars")
    with pytest.raises(ValueError, match="exactly one"):
        pack_sequences(docs, "doc_id")


def test_shard_by_budget_matches_pure_python_reference(spark):
    """shard_by_token_budget == exact pure-Python replay (hashlib md5
    order, running token sum, floor(start/budget)) — the two-phase
    distributed prefix sum must be indistinguishable from the
    sequential walk."""
    import hashlib

    from cascading_hive_spark.operators.packing import shard_by_token_budget

    rows = [(i * 31 + 7, (i * 13) % 40 + 1) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, n_tok int")
    out = shard_by_token_budget(
        df, "doc_id", budget=100, token_col="n_tok", seed=3
    )
    got = {r.doc_id: (r.n_tokens, r.shard) for r in out.collect()}
    order = sorted(
        rows, key=lambda r: (hashlib.md5(f"3|{r[0]}".encode()).hexdigest(), r[0])
    )
    start = 0
    for did, nt in order:
        assert got[did] == (nt, start // 100), (did, got[did], start)
        start += nt


def test_shard_by_budget_partition_independent_and_balanced(spark, docs):
    from cascading_hive_spark.operators.packing import shard_by_token_budget

    a = shard_by_token_budget(docs, "doc_id", budget=5000, text_col="text")
    b = shard_by_token_budget(
        docs.repartition(17), "doc_id", budget=5000, text_col="text"
    )
    ra = {(r.doc_id, r.shard) for r in a.select("doc_id", "shard").collect()}
    rb = {(r.doc_id, r.shard) for r in b.select("doc_id", "shard").collect()}
    assert ra == rb
    # every shard but the last carries budget +- max_doc tokens
    stats = a.groupBy("shard").agg(
        F.sum("n_tokens").alias("tot")
    ).orderBy("shard").collect()
    max_doc = a.agg(F.max("n_tokens")).first()[0]
    for r in stats[:-1]:
        assert 5000 - max_doc < r.tot < 5000 + max_doc, (r, max_doc)


def test_shard_by_budget_validation(spark, docs):
    from cascading_hive_spark.operators.packing import shard_by_token_budget

    with pytest.raises(ValueError, match="budget"):
        shard_by_token_budget(docs, "doc_id", budget=0, text_col="text")
    with pytest.raises(ValueError, match="exactly one"):
        shard_by_token_budget(docs, "doc_id", budget=10)


def test_pack_sequences_skewed_group_stays_balanced(spark, status, shuffled_plans):
    """Shape guard: group = floor(512 u^2) puts about 4.4 % of the
    documents in group 0, 22x the uniform share. Grouped next-fit still
    spreads the 512 groups over every reduce task, so the task holding
    group 0 reads about 1.2x the median task; a walk over one global
    group reads everything in one task. Record counters at n and 4n:
    shuffle records grow about 4x (15 % slack) and no task reads more
    than twice the median task's records."""
    from cascading_hive_spark.sources.synthetic import synthetic_documents

    u = F.pmod(F.xxhash64("doc_id"), F.lit(1_000_000)) / 1_000_000.0
    skewed = F.floor(F.lit(512) * u * u)

    def packed(n):
        docs = synthetic_documents(spark, n=n, n_vocab=5000).localCheckpoint(eager=True)
        counted = status.run(lambda: pack_sequences(
            docs, "doc_id", text_col="text", capacity=CAP, group_expr=skewed
        ).count())
        assert counted.value == n
        return counted

    small, big = packed(20_000), packed(80_000)
    assert big.shuffle_records <= 4.6 * small.shuffle_records, (
        small.shuffle_records, big.shuffle_records)
    for counted in (small, big):
        assert counted.read_skew <= 2.0, counted.stages
