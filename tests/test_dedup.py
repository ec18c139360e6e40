"""Dedup operator semantics: LSH candidate generation must agree with
brute-force ground truth on the planted near-duplicates."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cascading_hive_spark.operators import dedup as D
from cascading_hive_spark.tables import load_table


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents").cache()


def brute_force_pairs(spark, docs, threshold):
    """Ground truth: exact word-2-gram Jaccard over ALL pairs."""
    base = docs.select(
        F.col("doc_id").alias("_id"), D.word_shingles(F.col("text"), 2).alias("sh")
    )
    a = base.select(F.col("_id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = base.select(F.col("_id").alias("id_b"), F.col("sh").alias("sh_b"))
    pairs = a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
    return (
        pairs.select("id_a", "id_b", D.jaccard(F.col("sh_a"), F.col("sh_b")).alias("j"))
        .filter(F.col("j") >= threshold)
        .collect()
    )


def test_minhash_lsh_matches_brute_force(spark, docs):
    got = {
        (r.id_a, r.id_b)
        for r in D.minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.8).collect()
    }
    truth = {(r.id_a, r.id_b) for r in brute_force_pairs(spark, docs, 0.8)}
    # verification step guarantees no false positives
    assert got <= truth
    # banding (b=16, r=4) catches >= 97% at j=0.8; on the planted
    # near-identical pairs it should catch essentially all of them
    assert len(got) >= 0.9 * len(truth), (len(got), len(truth))


def test_minhash_jaccard_values_are_exact(spark, docs):
    out = D.minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.8).collect()
    truth = {(r.id_a, r.id_b): r.j for r in brute_force_pairs(spark, docs, 0.0)}
    for r in out:
        assert abs(r.jaccard - truth[(r.id_a, r.id_b)]) < 1e-6


def test_exact_dedup_total_preserved(spark, docs):
    out = D.exact_dedup(docs, "doc_id", "text")
    total = out.agg(F.sum("n_copies")).collect()[0][0]
    assert total == docs.count()


def test_simhash_pairs_verified_hamming(spark, docs):
    out = D.simhash_pairs(docs, "doc_id", "text", max_hamming=3).collect()
    assert all(r.hamming <= 3 for r in out)
    # near-identical planted pair (12, 360 share the full shingle set
    # at sf0.001) must land at hamming 0
    ids = {(r.id_a, r.id_b): r.hamming for r in out}
    if (12, 360) in ids:
        assert ids[(12, 360)] == 0


def test_minhash_portable_no_fp_and_recall(spark, docs):
    """The md5-family portable variant: verified pairs must be a
    subset of brute-force char-3-gram Jaccard >= 0.8 (no false
    positives), with b=8/r=2 banding recall near-total, and jaccard
    values exact."""
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in D.minhash_lsh_pairs(
            docs, "doc_id", "text", num_perm=16, bands=8, shingle_n=3,
            threshold=0.8, portable=True,
        ).collect()
    }
    base = docs.select(
        F.col("doc_id").alias("_id"), D.char_ngrams(F.col("text"), 3).alias("g")
    )
    a = base.select(F.col("_id").alias("id_a"), F.col("g").alias("g_a"))
    b = base.select(F.col("_id").alias("id_b"), F.col("g").alias("g_b"))
    truth = {
        (r.id_a, r.id_b): r.j
        for r in a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", D.jaccard(F.col("g_a"), F.col("g_b")).alias("j"))
        .filter(F.col("j") >= 0.8)
        .collect()
    }
    assert set(got) <= set(truth)
    assert len(got) >= 0.9 * len(truth), (len(got), len(truth))
    for k, j in got.items():
        assert abs(j - truth[k]) < 1e-6


def test_minhash_signatures_correct_and_distinct(spark, docs):
    """Regression for a Spark HOF miscomputation: N same-shape
    ``array_min(transform(...))`` lambdas differing only in an embedded
    permutation literal collapse to ONE shared result (every
    "permutation" returned permutation 0), silently degenerating LSH
    banding to single-hash matching — found via the sf0.1 oracle
    divergence of dedup_minhash_portable. Signatures therefore go
    through explode + groupBy-min. Pin (a) the md5 family against
    arbitrary-precision Python hashlib ground truth, and (b) that the
    xxhash64 family's permutations are genuinely distinct per doc."""
    import hashlib

    from cascading_hive_spark.operators.dedup import char_ngrams, tokenized, shingles_from_tokens

    n_perm = 8
    base = docs.filter(F.col("text").isNotNull()).select(
        F.col("doc_id").alias("_id"), char_ngrams(F.col("text"), 3).alias("_g")
    )
    agg = (
        base.select("_id", F.explode("_g").alias("_gram"))
        .groupBy("_id")
        .agg(
            *[
                F.min(F.md5(F.concat(F.lit(f"{i}|"), F.col("_gram")))).alias(f"h{i}")
                for i in range(n_perm)
            ]
        )
    )
    grams = {r._id: r._g for r in base.collect()}
    for r in agg.collect():
        for i in range(n_perm):
            py = min(
                hashlib.md5((f"{i}|" + g).encode()).hexdigest() for g in grams[r._id]
            )
            assert r[f"h{i}"] == py, (r._id, i)

    tok = tokenized(docs, "doc_id", "text").select(
        "_id", shingles_from_tokens(F.col("_toks"), 2).alias("_sh")
    )
    hashed = tok.select(
        "_id", F.transform(F.col("_sh"), lambda s: F.xxhash64(s)).alias("_hp")
    )
    # ground truth: explode + groupBy-min (top-level aggregates; the
    # formulation python-verified above for the md5 family)
    truth = {
        r._id: tuple(r[f"h{i}"] for i in range(n_perm))
        for r in hashed.select("_id", F.explode("_hp").alias("_h"))
        .groupBy("_id")
        .agg(
            *[
                F.min(F.xxhash64(F.col("_h"), F.lit(i))).alias(f"h{i}")
                for i in range(n_perm)
            ]
        )
        .collect()
    }
    # the operator's scan-side formulation: one transform expanding to
    # per-shingle hash arrays + one zip_with(least) fold
    maxl = F.lit(9223372036854775807)
    zipf = hashed.select(
        "_id",
        F.aggregate(
            F.transform(
                F.col("_hp"),
                lambda h: F.array(*[F.xxhash64(h, F.lit(i)) for i in range(n_perm)]),
            ),
            F.array_repeat(maxl, n_perm),
            lambda acc, x: F.zip_with(acc, x, lambda a, b: F.least(a, b)),
        ).alias("_mins"),
    )
    degenerate = 0
    for r in zipf.collect():
        got = tuple(r._mins)
        assert got == truth[r._id], r._id
        if len(set(got)) == 1:
            degenerate += 1
    # distinct permutations agree only with probability ~2^-63 per pair;
    # a degenerate doc means the collapse bug is back
    assert degenerate == 0, f"{degenerate} docs have identical minima across perms"


def test_ngram_jaccard_max_block_guard(spark):
    """Optional block cap bounds a flooded fingerprint key; default
    (None) preserves the exact-pair contract."""
    docs = spark.createDataFrame(
        [(i, "identical text here", "fp0") for i in range(100)]
        + [(200, "another doc body", "fp1"), (201, "another doc body", "fp1")],
        "doc_id long, text string, fp string",
    )
    full = D.ngram_jaccard_pairs(docs, "doc_id", "text", ["fp"], threshold=0.9)
    assert full.count() == 100 * 99 // 2 + 1
    capped = D.ngram_jaccard_pairs(
        docs, "doc_id", "text", ["fp"], threshold=0.9, max_block=50
    )
    assert capped.count() == 1  # flooded fp0 dropped, fp1 pair kept


def test_simhash_max_bucket_guard(spark):
    """A corpus of identical docs floods every quarter bucket; the
    guard must bound candidate pairs instead of going quadratic."""
    n = 300
    docs = spark.createDataFrame(
        [(i, "same words everywhere in this doc") for i in range(n)],
        "doc_id long, text string",
    )
    # guard off (bucket cap above n): all C(n,2) identical pairs
    full = D.simhash_pairs(docs, "doc_id", "text", max_bucket=n + 1).count()
    assert full == n * (n - 1) // 2
    # guard on: flooded buckets dropped entirely
    assert D.simhash_pairs(docs, "doc_id", "text", max_bucket=50).count() == 0


def test_char_ngrams_short_text(spark):
    df = spark.createDataFrame([(1, "ab")], "id long, t string")
    row = df.select(D.char_ngrams(F.col("t"), 3).alias("g")).collect()[0]
    assert row.g == ["ab"]  # shorter than n -> the text itself (substr clamps)


def test_embedding_lsh_recall_on_planted_dups(spark):
    """Planted near-dup vectors (cos ~0.999) must be recovered by the
    hyperplane-LSH blocking at a near-dup threshold; no false
    positives below threshold (exact verify)."""
    from cascading_hive_spark.sources import synthetic_embeddings

    emb = synthetic_embeddings(
        spark, n=5_000, dim=64, n_clusters=1_000, seed=11, dup_rate=0.03
    ).cache()
    out = D.embedding_lsh_pairs(
        emb, "vec_id", "embedding", threshold=0.9, dim=64
    ).collect()
    got = {(r.id_a, r.id_b) for r in out}
    assert all(r.cos_sim >= 0.9 for r in out)
    # recover the planted (src, dup) pairs from the generator contract
    planted = {
        tuple(sorted((r.vec_id, r.src)))
        for r in emb.select(
            "vec_id",
            (
                F.col("vec_id") - 1
                - (F.abs(F.xxhash64("vec_id", F.lit(11), F.lit("esrc"))) % 16)
            ).alias("src"),
            (
                ((F.abs(F.xxhash64("vec_id", F.lit(11), F.lit("edup"))) % 1_000_000_007)
                 / 1_000_000_007.0 < 0.03)
                & (F.col("vec_id") > 16)
            ).alias("is_dup"),
        )
        .filter("is_dup")
        .collect()
    }
    assert len(planted) > 50
    recall = len(got & planted) / len(planted)
    # 8 bands x 6 bits at cos ~0.999: per-band match ~0.94, miss ~1e-10;
    # in practice chained dups / centroid collisions leave slack
    assert recall >= 0.95, (recall, len(planted))


def test_auto_band_bits_sizing_rule():
    """B ~ log2(n/8): the docstring's worked examples, plus clamps."""
    assert D.auto_band_bits(100_000) == 14
    assert D.auto_band_bits(1_000_000) == 17
    assert D.auto_band_bits(100_000_000) == 24
    assert D.auto_band_bits(1) == 4  # floor
    assert D.auto_band_bits(10**12) == 32  # ceiling


def test_embedding_lsh_auto_bits_uses_hint_and_plan_stats(spark):
    """Default bits_per_band derives from n_hint (or a free plan row
    count) without changing pair semantics: planted dup still found."""
    from cascading_hive_spark.sources import synthetic_embeddings

    emb = synthetic_embeddings(spark, n=300, dim=64, n_clusters=300, seed=5, dup_rate=0.1)
    # n_hint path and the count()/plan-stats path must agree on output
    a = {
        (r.id_a, r.id_b)
        for r in D.embedding_lsh_pairs(
            emb, "vec_id", "embedding", threshold=0.9, dim=64, n_hint=300
        ).collect()
    }
    b = {
        (r.id_a, r.id_b)
        for r in D.embedding_lsh_pairs(
            emb, "vec_id", "embedding", threshold=0.9, dim=64
        ).collect()
    }
    assert a == b and len(a) > 5


def test_embedding_lsh_dense_mode_recall(spark):
    """mode='dense' (random ±1 hyperplanes) must also recover planted
    near-dups — the path for corpora whose coordinates are not
    centered (where axis-aligned sign bits degenerate)."""
    from cascading_hive_spark.sources import synthetic_embeddings

    emb = synthetic_embeddings(spark, n=2_000, dim=64, n_clusters=2_000, seed=7, dup_rate=0.05)
    out = D.embedding_lsh_pairs(
        emb, "vec_id", "embedding", threshold=0.9, dim=64, mode="dense"
    ).collect()
    got = {(r.id_a, r.id_b) for r in out}
    planted = {
        tuple(sorted((r.vec_id, r.src)))
        for r in emb.select(
            "vec_id",
            (
                F.col("vec_id") - 1
                - (F.abs(F.xxhash64("vec_id", F.lit(7), F.lit("esrc"))) % 16)
            ).alias("src"),
            (
                ((F.abs(F.xxhash64("vec_id", F.lit(7), F.lit("edup"))) % 1_000_000_007)
                 / 1_000_000_007.0 < 0.05)
                & (F.col("vec_id") > 16)
            ).alias("is_dup"),
        )
        .filter("is_dup")
        .collect()
    }
    assert len(planted) > 30
    recall = len(got & planted) / len(planted)
    assert recall >= 0.9, (recall, len(planted))
    assert all(r.cos_sim >= 0.9 for r in out)


def test_embedding_lsh_max_bucket_guard(spark):
    """A non-discriminative blocking (1-cluster corpus: every vector
    nearly identical signature) floods the buckets; the guard must
    drop them rather than go quadratic."""
    from cascading_hive_spark.sources import synthetic_embeddings

    emb = synthetic_embeddings(spark, n=500, dim=64, n_clusters=1, seed=3)
    out = D.embedding_lsh_pairs(
        emb, "vec_id", "embedding", threshold=0.0, dim=64, max_bucket=50
    )
    # with all 500 vectors in ~one bucket per band and the cap at 50,
    # candidate pairs are bounded far below the 124,750 all-pairs count
    assert out.count() < 50 * 50 * 8


def test_simhash_portable_signature_ground_truth(spark, docs):
    """Pin the portable simhash quarter signatures against an
    arbitrary-precision Python hashlib recomputation — same distinct
    word-bigram features, md5 first-16-hex-char bits, +1/-1 votes —
    so an engine-side hashing regression (e.g. the r5 HOF-lambda
    collapse class) cannot silently degrade blocking recall."""
    import hashlib

    from cascading_hive_spark.operators.dedup import shingles_from_tokens, tokenized

    sample = docs.limit(50)
    toks = tokenized(sample, "doc_id", "text").select(
        "_id", F.explode(shingles_from_tokens(F.col("_toks"), 2)).alias("tok")
    )
    qv = toks.select(
        "_id",
        *[
            F.conv(F.substring(F.md5("tok"), 4 * q + 1, 4), 16, 10)
            .cast("int")
            .alias(f"_q{q}")
            for q in range(4)
        ],
    )
    votes = qv.groupBy("_id").agg(
        *[
            F.sum(
                F.when(
                    F.shiftright(F.col(f"_q{q}"), j).bitwiseAND(F.lit(1)) == 1, 1
                ).otherwise(-1)
            ).alias(f"v{q}_{j}")
            for q in range(4)
            for j in range(16)
        ]
    )
    spark_votes = {r._id: r for r in votes.collect()}

    def py_bigrams(text):
        import re

        t = re.split(r"\s+", text)
        if len(t) >= 2:
            seen, out = set(), []
            for i in range(len(t) - 1):
                g = t[i] + " " + t[i + 1]
                if g not in seen:
                    seen.add(g)
                    out.append(g)
            return out
        return [" ".join(t)]

    rows = sample.filter(F.col("text").isNotNull()).select("doc_id", "text").collect()
    checked = 0
    for r in rows:
        want = [[0] * 16 for _ in range(4)]
        for g in py_bigrams(r.text):
            h = hashlib.md5(g.encode()).hexdigest()
            for q in range(4):
                val = int(h[4 * q : 4 * q + 4], 16)
                for j in range(16):
                    want[q][j] += 1 if (val >> j) & 1 else -1
        got = spark_votes[r.doc_id]
        for q in range(4):
            for j in range(16):
                assert got[f"v{q}_{j}"] == want[q][j], (r.doc_id, q, j)
        checked += 1
    assert checked > 0


def test_simhash_portable_no_fp_and_near_dup_recall(spark, docs):
    out = D.simhash_pairs(
        docs, "doc_id", "text", max_hamming=3, portable=True
    ).collect()
    assert all(r.hamming <= 3 for r in out)
    assert all(r.id_a < r.id_b for r in out)
    # identical-text planted pairs must land at hamming 0
    same_text = {
        tuple(sorted((r.id_a, r.id_b)))
        for r in docs.alias("a")
        .join(docs.alias("b"), F.col("a.text") == F.col("b.text"))
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .collect()
    }
    got = {(r.id_a, r.id_b): r.hamming for r in out}
    for p in same_text:
        assert p in got and got[p] == 0, p


def test_minhash_incremental_planted(spark):
    """Append-only dedup: base-base dup pairs are never emitted; new
    docs match base copies and each other exactly once."""
    from cascading_hive_spark.operators.dedup import minhash_incremental_pairs

    t1 = "the quick brown fox jumps over the lazy dog again and again today"
    t2 = "completely different content about distributed query engines at scale"
    t3 = "yet another unrelated body of text concerning parquet file readers"
    base = spark.createDataFrame(
        [(1, t1), (2, t1), (3, t2)], "doc_id long, text string"
    )
    new = spark.createDataFrame(
        [(101, t1), (102, t3), (103, t3), (104, "unique snowflake text body")],
        "doc_id long, text string",
    )
    rows = minhash_incremental_pairs(new, base, "doc_id", "text").collect()
    got = {(r.new_id, r.match_id): (r.match_side, r.jaccard) for r in rows}
    # n101 duplicates BOTH base copies of t1; the base-base pair (1,2)
    # must not appear anywhere
    assert got[(101, 1)][0] == "base" and got[(101, 1)][1] == 1.0
    assert got[(101, 2)][0] == "base"
    # new-new pair emitted once, smaller id first
    assert got[(102, 103)][0] == "new"
    assert (103, 102) not in got
    assert len(got) == 3  # nothing else — no base-base, no unique-doc rows


def test_minhash_incremental_empty_increment(spark):
    from cascading_hive_spark.operators.dedup import minhash_incremental_pairs

    base = spark.createDataFrame(
        [(1, "some corpus text that exists already")], "doc_id long, text string"
    )
    new = spark.createDataFrame([], "doc_id long, text string")
    assert minhash_incremental_pairs(new, base, "doc_id", "text").count() == 0


def test_duplicate_span_stats_merges_islands(spark):
    from cascading_hive_spark.operators.dedup import duplicate_span_stats

    docs = spark.createDataFrame(
        [
            # docs 1+2 share a 13-token block -> coverage 13 (merged),
            # never 4 windows x 10
            (1, "a b c d e f g h i j k l m unique1 unique2"),
            (2, "x a b c d e f g h i j k l m y z"),
            (3, "totally different words here only once seen q w e r t"),
            (4, "short doc"),  # < n tokens: 0 coverage, still present
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in duplicate_span_stats(docs, "doc_id", "text").collect()}
    assert got[1].dup_tokens == 13 and got[1].n_tokens == 15
    assert got[2].dup_tokens == 13 and got[2].dup_permille == 812
    assert got[3].dup_tokens == 0
    assert got[4].dup_tokens == 0 and got[4].n_tokens == 2


def test_duplicate_span_stats_two_separate_islands(spark):
    from cascading_hive_spark.operators.dedup import duplicate_span_stats

    shared_a = "a1 a2 a3 a4 a5 a6 a7 a8 a9 a10"
    shared_b = "b1 b2 b3 b4 b5 b6 b7 b8 b9 b10"
    docs = spark.createDataFrame(
        [
            (1, f"{shared_a} gapword1 gapword2 {shared_b}"),
            (2, f"left {shared_a} mid1 mid2 mid3 {shared_b} right"),
            (3, "filler " * 11),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in duplicate_span_stats(docs, "doc_id", "text").collect()}
    # two disjoint 10-token islands each -> exactly 20 covered tokens
    assert got[1].dup_tokens == 20
    assert got[2].dup_tokens == 20


def test_duplicate_span_stats_within_doc_repeat_not_counted(spark):
    from cascading_hive_spark.operators.dedup import duplicate_span_stats

    # the same 10-gram twice in ONE doc only: count_distinct(doc)=1 ->
    # not a cross-doc duplicate
    block = "r1 r2 r3 r4 r5 r6 r7 r8 r9 r10"
    docs = spark.createDataFrame(
        [(1, f"{block} sep {block}"), (2, "other words entirely distinct here now one two three four")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in duplicate_span_stats(docs, "doc_id", "text").collect()}
    assert got[1].dup_tokens == 0


def test_tfidf_cosine_pairs_planted_and_deterministic(spark):
    """tfidf_cosine_pairs: a near-identical copy must surface with
    cos ~1, unrelated word-salad must stay below threshold, and the
    result must be bit-identical under repartitioning (the decimal-
    image accumulation property its oracle twin relies on)."""
    from cascading_hive_spark.operators.dedup import tfidf_cosine_pairs

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    near = base.replace("kappa", "lambda")  # 1 of 10 words changed
    rows = [(1, base), (2, near)]
    # unrelated docs over a DIFFERENT vocabulary region, repeated so
    # grams exist but cross-pairs share nothing rare
    for i in range(3, 9):
        rows.append((i, f"omega psi chi phi upsilon tau w{i} w{i} sigma rho"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        (r.id_a, r.id_b): r.cos_sim
        for r in tfidf_cosine_pairs(
            df, "doc_id", "text", threshold=0.5, max_gram_df=4
        ).collect()
    }
    assert (1, 2) in out and out[(1, 2)] >= 0.8  # planted pair found
    for (a, b), c in out.items():
        assert not ({a, b} & {1, 2}) or (a, b) == (1, 2)  # no cross-vocab FPs
    out2 = {
        (r.id_a, r.id_b): r.cos_sim
        for r in tfidf_cosine_pairs(
            df.repartition(5), "doc_id", "text", threshold=0.5, max_gram_df=4
        ).collect()
    }
    assert out == out2  # bit-identical similarities, not approximate


def test_semantic_dedup_k1_equals_brute_force(spark):
    """With k=1 every vector shares one cell, so SemDeDup pairs must
    equal the brute-force all-pairs cosine filter exactly (values too,
    not just membership)."""
    import itertools

    import numpy as np

    from cascading_hive_spark.operators.dedup import semantic_dedup_pairs
    from cascading_hive_spark.operators.similarity import kmeans_fit

    rng = np.random.default_rng(11)
    vecs = rng.normal(size=(40, 8))
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        (r.id_a, r.id_b): r.cos_sim
        for r in semantic_dedup_pairs(
            df, kmeans_fit(df, k=1, iters=1), threshold=0.5
        ).collect()
    }
    want = {}
    for i, j in itertools.combinations(range(40), 2):
        c = float(np.dot(vecs[i], vecs[j]) /
                  (np.linalg.norm(vecs[i]) * np.linalg.norm(vecs[j])))
        if c >= 0.5:
            want[(i, j)] = round(c, 6)
    assert set(got) == set(want)
    for k_ in got:
        assert abs(got[k_] - want[k_]) < 1e-9


def test_semantic_dedup_finds_planted_dups_and_blocks(spark):
    """Planted near-identical pairs land in the same trained cell and
    are found; the max_cell guard raises on a degenerate cell."""
    import numpy as np
    import pytest

    from cascading_hive_spark.operators.dedup import semantic_dedup_pairs
    from cascading_hive_spark.operators.similarity import kmeans_fit

    rng = np.random.default_rng(5)
    centers = rng.normal(size=(4, 16)) * 10
    rows = []
    for i in range(200):
        v = centers[i % 4] + rng.normal(size=16) * 0.5
        rows.append((i, [float(x) for x in v]))
    # planted dup: 1000 is a tiny perturbation of 0
    base = np.array(rows[0][1])
    rows.append((1000, [float(x) for x in base + 1e-4]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = kmeans_fit(df, k=4, iters=2)
    got = semantic_dedup_pairs(df, cents, threshold=0.999).collect()
    assert any((r.id_a, r.id_b) == (0, 1000) for r in got)
    with pytest.raises(Exception, match="max_cell"):
        semantic_dedup_pairs(df, cents, threshold=0.9, max_cell=10).collect()


def test_semantic_keep_one_per_cluster(spark):
    """Keep law: every duplicate cluster keeps exactly its min-id
    member; singletons keep themselves; kept + dropped partitions the
    corpus."""
    import numpy as np

    from cascading_hive_spark.operators.dedup import semantic_dedup_pairs
    from cascading_hive_spark.operators.graph import dedup_clusters
    from cascading_hive_spark.operators.similarity import kmeans_fit

    rng = np.random.default_rng(3)
    # noise comparable to center norm: same-cluster non-dup cosine
    # stays ~0.97, far below the 0.9999 dup threshold
    centers = rng.normal(size=(4, 8)) * 3
    rows = []
    for i in range(80):
        rows.append((i, [float(x) for x in centers[i % 4] + rng.normal(size=8) * 0.5]))
    # two planted dup clusters: {0, 100, 200} and {1, 101}
    for dup, base_id in [(100, 0), (200, 0), (101, 1)]:
        base = np.array(rows[base_id][1])
        rows.append((dup, [float(x) for x in base + 1e-5]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pairs = semantic_dedup_pairs(df, kmeans_fit(df, k=4, iters=2), threshold=0.9999)
    clusters = dedup_clusters(pairs.select("id_a", "id_b"))
    got = {r.id: r.cluster_id for r in clusters.collect()}
    assert got[0] == got[100] == got[200] == 0
    assert got[1] == got[101] == 1
    kept = {cid for cid, c in got.items() if cid == c}
    assert kept == {0, 1}
    assert set(got) == {0, 100, 200, 1, 101}  # no false clusters at .9999


def test_semantic_dedup_zero_norm_vector_is_skipped(spark):
    """A zero vector in a cell must not raise ZeroDivisionError in the
    exact re-verify fold (ADVICE r10): cosine is undefined for it, so
    pairs touching it are skipped — matching the BLAS candidate
    filter's nrm==0 -> 1.0 convention — while normal pairs survive."""
    import numpy as np

    from cascading_hive_spark.operators.dedup import semantic_dedup_pairs
    from cascading_hive_spark.operators.similarity import kmeans_fit

    rng = np.random.default_rng(7)
    rows = [(i, [float(x) for x in rng.normal(size=4)]) for i in range(10)]
    base = np.array(rows[0][1])
    rows.append((100, [float(x) for x in base * 2.0]))  # exact-direction dup
    rows.append((999, [0.0, 0.0, 0.0, 0.0]))  # zero-norm vector
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    # threshold <= ~1e-9 puts zero-vector pairs past the epsilon-widened
    # candidate cut, which is exactly where the unguarded fold divided by 0
    got = semantic_dedup_pairs(
        df, kmeans_fit(df, k=1, iters=1), threshold=1e-12
    ).collect()
    ids = {r.id_a for r in got} | {r.id_b for r in got}
    assert 999 not in ids
    assert any((r.id_a, r.id_b) == (0, 100) for r in got)


def test_remove_duplicate_spans_scrubs_planted_block(spark):
    """A 15-token block copied into two docs is scrubbed from BOTH
    (islands merge overlapping 10-gram windows, so exactly the block
    goes, not the unique flanks); an untouched doc reassembles
    byte-identically; coverage stats agree with duplicate_span_stats."""
    from cascading_hive_spark.operators.dedup import (
        duplicate_span_stats,
        remove_duplicate_spans,
    )

    block = " ".join(f"w{i}" for i in range(15))
    rows = [
        (1, "alpha " + block + " omega"),
        (2, "start " + block + " end unique tail here"),
        (3, "totally different words only in this one document text"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in
           remove_duplicate_spans(df, "doc_id", "text", n=10).collect()}
    assert out[1].clean_text == "alpha omega"
    assert out[1].kept_tokens == 2 and out[1].n_tokens == 17
    assert out[2].clean_text == "start end unique tail here"
    assert out[3].clean_text == rows[2][1]  # untouched, byte-identical
    assert out[3].kept_tokens == out[3].n_tokens
    # stats twin agrees: kept + dup == total
    stats = {r.doc_id: r for r in
             duplicate_span_stats(df, "doc_id", "text", n=10).collect()}
    for d in (1, 2, 3):
        assert out[d].kept_tokens + stats[d].dup_tokens == out[d].n_tokens


def test_duplicate_charspan_stats_planted_block(spark):
    """A 60-char block shared by two docs covers exactly its 60 chars
    (every 50-window inside it is cross-doc duplicated; straddling
    windows differ), islands merged — never 11 windows x 50."""
    from cascading_hive_spark.operators.dedup import duplicate_charspan_stats

    block = "0123456789" * 6  # 60 chars
    docs = spark.createDataFrame(
        [
            (1, f"HEAD-{block}-TAIL"),
            (2, f"xx{block}yy"),
            (3, "z" * 40),  # < min_len: 0 coverage, still present
            (4, "completely different text " * 4),
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: r
        for r in duplicate_charspan_stats(docs, "doc_id", "text").collect()
    }
    assert got[1].dup_chars == 60 and got[1].n_chars == 70
    assert got[2].dup_chars == 60 and got[2].dup_permille == 937  # floor(60000/64)
    assert got[3].dup_chars == 0 and got[3].n_chars == 40
    assert got[4].dup_chars == 0


def test_duplicate_charspan_stride_and_guard(spark):
    """stride>1 still finds a big planted block (windows overlap while
    stride<=min_len); stride out of range raises."""
    import pytest

    from cascading_hive_spark.operators.dedup import duplicate_charspan_stats

    block = "abcdefghij" * 12  # 120 chars
    # same prefix length in both docs: sampled starts hit the same
    # block offsets cross-doc (stride sampling only matches windows
    # whose starts are sampled in BOTH holders)
    docs = spark.createDataFrame(
        [(1, f"L{block}R"), (2, f"Q{block}W")],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: r
        for r in duplicate_charspan_stats(
            docs, "doc_id", "text", min_len=50, stride=7
        ).collect()
    }
    # sampled starts may miss up to stride-1 chars at EACH island edge
    assert 120 - 2 * 6 <= got[1].dup_chars <= 120
    with pytest.raises(ValueError, match="stride"):
        duplicate_charspan_stats(docs, "doc_id", "text", min_len=50, stride=51)


def test_remove_duplicate_charspans_splice(spark):
    """Scrub splices out exactly the duplicated island chars; docs
    without hits come back byte-identical; stats twin reconciles."""
    from cascading_hive_spark.operators.dedup import (
        duplicate_charspan_stats,
        remove_duplicate_charspans,
    )

    block = "SHAREDBLOCK-" * 5  # 60 chars
    rows = [
        (1, f"aaa>{block}<zzz"),
        (2, f"left|{block}|right and a unique tail"),
        (3, "unique text that is long enough to window but never shared!!"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: r
        for r in remove_duplicate_charspans(df, "doc_id", "text").collect()
    }
    assert out[1].clean_text == "aaa><zzz"
    assert out[1].kept_chars == 8 and out[1].n_chars == 68
    assert out[2].clean_text == "left||right and a unique tail"
    assert out[3].clean_text == rows[2][1]  # untouched, byte-identical
    assert out[3].kept_chars == out[3].n_chars
    stats = {
        r.doc_id: r
        for r in duplicate_charspan_stats(df, "doc_id", "text").collect()
    }
    for d in (1, 2, 3):
        assert out[d].kept_chars + stats[d].dup_chars == out[d].n_chars


def test_remove_duplicate_charspans_two_islands(spark):
    """Two disjoint shared blocks in one doc -> both spliced out,
    middle gap and ends preserved in order."""
    from cascading_hive_spark.operators.dedup import remove_duplicate_charspans

    a = "A" * 55
    b = "B" * 55
    df = spark.createDataFrame(
        [(1, f"s-{a}-mid-{b}-e"), (2, f"x{a}x"), (3, f"y{b}y")],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in remove_duplicate_charspans(df, "doc_id", "text").collect()
    }
    assert out[1].clean_text == "s--mid--e"


def test_span_scrub_matches_python_replay(spark):
    """remove_duplicate_spans == a pure-Python replay (gram digests ->
    cross-doc dup grams -> merged islands -> positional scrub) on
    random tiny corpora with planted sharing; kept + dup always tiles
    each doc."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from cascading_hive_spark.operators.dedup import (
        duplicate_span_stats,
        remove_duplicate_spans,
    )

    N = 3  # small n so random corpora actually share n-grams
    token = st.sampled_from(["a", "b", "c", "d"])

    @settings(max_examples=10, deadline=None)
    @given(st.lists(st.lists(token, min_size=1, max_size=14), min_size=2, max_size=5))
    def check(corpora):
        rows = [(i, " ".join(toks)) for i, toks in enumerate(corpora)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            r.doc_id: (r.n_tokens, r.kept_tokens, r.clean_text)
            for r in remove_duplicate_spans(df, "doc_id", "text", n=N).collect()
        }
        # python replay
        gram_docs: dict[tuple, set] = {}
        toks = {i: t.split(" ") for i, t in rows}
        for i, ts in toks.items():
            for p in range(len(ts) - N + 1):
                gram_docs.setdefault(tuple(ts[p : p + N]), set()).add(i)
        dup = {g for g, ds in gram_docs.items() if len(ds) >= 2}
        for i, ts in toks.items():
            covered = set()
            for p in range(len(ts) - N + 1):
                if tuple(ts[p : p + N]) in dup:
                    covered.update(range(p, p + N))
            kept = [t for j, t in enumerate(ts) if j not in covered]
            assert got[i] == (len(ts), len(kept), " ".join(kept)), (rows, i)
        stats = {
            r.doc_id: r.dup_tokens
            for r in duplicate_span_stats(df, "doc_id", "text", n=N).collect()
        }
        for i in toks:
            assert got[i][1] + stats[i] == got[i][0]

    check()


def test_source_overlap_matches_python_bruteforce(spark):
    """source_overlap == brute-force pair counting over distinct
    (fingerprint, source) pairs on random doc/source assignments."""
    from itertools import combinations

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from cascading_hive_spark.operators.dedup import source_overlap

    @settings(max_examples=10, deadline=None)
    @given(
        st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=6),  # fingerprint id
                st.sampled_from(["s1", "s2", "s3"]),
            ),
            min_size=1,
            max_size=30,
        )
    )
    def check(pairs):
        rows = [(i, f"fp{fp}", src) for i, (fp, src) in enumerate(pairs)]
        df = spark.createDataFrame(rows, "doc_id long, text string, source string")
        got = {
            (r.source_a, r.source_b): r.shared_fps
            for r in source_overlap(df, "source", F.col("text")).collect()
        }
        by_fp: dict[str, set] = {}
        for _, fp, src in rows:
            by_fp.setdefault(fp, set()).add(src)
        want: dict[tuple, int] = {}
        for srcs in by_fp.values():
            for a, b in combinations(sorted(srcs), 2):
                want[(a, b)] = want.get((a, b), 0) + 1
        assert got == want, (pairs, got, want)

    check()


def test_embedding_lsh_auto_bits_keep_candidates_linear(spark, status, shuffled_plans):
    """Shape guard: with the default (auto-sized) band bits, random
    pairs collide on a band with p ~ 2^-B and B grows by log2(n), so
    candidate pairs and every shuffle grow linearly. Fixed band bits let
    the buckets flood: candidates grow with n^2. Record counters at n
    and 4n (B = 10 and 12): shuffle records grow about 4x (15 % slack),
    not 16x."""
    from cascading_hive_spark.sources.synthetic import synthetic_embeddings

    def pairs(n):
        emb = synthetic_embeddings(
            spark, n=n, dim=64, n_clusters=n, dup_rate=0.02
        ).localCheckpoint(eager=True)
        counted = status.run(
            lambda: D.embedding_lsh_pairs(emb, "vec_id", "embedding", threshold=0.9).count()
        )
        assert counted.value >= 0.9 * n * 0.02  # the planted near-duplicates
        return counted

    small, big = pairs(10_000), pairs(40_000)
    assert big.shuffle_records <= 4.6 * small.shuffle_records, (
        small.shuffle_records, big.shuffle_records)
