"""Empty-input robustness: every operator must degrade to an empty
(or identity) result, not an error — the behavior that matters when a
partition filter eliminates all data mid-pipeline."""

from __future__ import annotations

from pyspark.sql import functions as F

from cascading_hive_spark.operators import dedup as D
from cascading_hive_spark.operators import relational as R


def _empty_docs(spark):
    return spark.createDataFrame([], "doc_id long, text string")


def test_minhash_empty_corpus(spark):
    out = D.minhash_lsh_pairs(_empty_docs(spark), "doc_id", "text")
    assert out.count() == 0
    assert out.columns == ["id_a", "id_b", "jaccard"]


def test_simhash_empty_corpus(spark):
    assert D.simhash_pairs(_empty_docs(spark), "doc_id", "text").count() == 0


def test_exact_dedup_empty(spark):
    assert D.exact_dedup(_empty_docs(spark), "doc_id", "text").count() == 0


def test_asof_join_empty_right(spark):
    from cascading_hive_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", 7)], "eid int, ts string, k int"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    right = spark.createDataFrame([], "rts timestamp, rk int, payload int")
    assert asof_join(left, right, "ts", "rts", "k", "rk", ["payload"], how="inner").count() == 0
    left_out = asof_join(left, right, "ts", "rts", "k", "rk", ["payload"], how="left").collect()
    assert len(left_out) == 1 and left_out[0].payload is None


def test_range_join_empty_sides(spark):
    from cascading_hive_spark.operators.rangejoin import range_join

    left = spark.createDataFrame([], "eid int, ts timestamp, k int")
    right = spark.createDataFrame(
        [("2024-01-01 00:00:00", "2024-01-02 00:00:00", 7, 1)],
        "ws string, we string, rk int, rid int",
    ).select(
        F.col("ws").cast("timestamp").alias("ws"),
        F.col("we").cast("timestamp").alias("we"),
        "rk",
        "rid",
    )
    assert range_join(left, right, "ts", "ws", "we", on=("k", "rk")).count() == 0


def test_connected_components_empty(spark):
    from cascading_hive_spark.operators.graph import connected_components

    edges = spark.createDataFrame([], "id_a long, id_b long")
    assert connected_components(edges).count() == 0


def test_wordcount_empty(spark):
    assert R.wordcount(_empty_docs(spark), "text").count() == 0


def test_embedding_lsh_empty(spark):
    vecs = spark.createDataFrame([], "vec_id long, embedding array<float>")
    out = D.embedding_lsh_pairs(vecs, "vec_id", "embedding", dim=8)
    assert out.count() == 0
    assert out.columns == ["id_a", "id_b", "cos_sim"]


def test_pack_sequences_empty(spark):
    from cascading_hive_spark.operators.packing import pack_sequences

    out = pack_sequences(_empty_docs(spark), "doc_id", text_col="text")
    assert out.count() == 0
    assert out.columns == ["doc_id", "pack_group", "n_tokens", "seq"]


def test_sampling_empty(spark):
    from cascading_hive_spark.operators.sampling import (
        hash_sample,
        stratified_sample,
        weighted_mix,
    )

    empty = spark.createDataFrame([], "doc_id long, lang string, source string")
    assert hash_sample(empty, "doc_id", 500).count() == 0
    assert stratified_sample(empty, "doc_id", ["lang"], 5).count() == 0
    assert weighted_mix(empty, "doc_id", "source", {"a": 100}).count() == 0


def test_ivf_knn_join_empty_queries(spark):
    from cascading_hive_spark.operators.similarity import ivf_build, ivf_knn_join

    vecs = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(10)], "vec_id long, embedding array<double>"
    )
    assignments, centroids = ivf_build(vecs, n_cells=2)
    queries = spark.createDataFrame([], "query_id long, embedding array<double>")
    assert ivf_knn_join(assignments, centroids, queries, k=3, nprobe=2).count() == 0


def test_upsert_empty_updates(spark):
    from cascading_hive_spark.io import upsert

    target = spark.createDataFrame([(1, "a")], "k int, v string")
    updates = spark.createDataFrame([], "k int, v string")
    rows = upsert(target, updates, ["k"]).collect()
    assert [(r.k, r.v) for r in rows] == [(1, "a")]


def test_scd2_empty_feed(spark):
    from cascading_hive_spark.operators.scd import scd2_compact

    empty = spark.createDataFrame([], "key int, eff int, attr string, tb int")
    out = scd2_compact(empty, "key", "eff", ["attr"], "tb")
    assert out.count() == 0
    assert out.columns == ["key", "attr", "valid_from", "valid_to", "is_current"]


def test_interpolate_empty_series(spark):
    from cascading_hive_spark.operators.timeseries import interpolate_daily

    empty = spark.createDataFrame([], "k string, day date, v double")
    out = interpolate_daily(empty, ["k"], "day", "v")
    assert out.count() == 0
    assert out.columns == ["k", "day", "v", "interpolated"]


def test_duplicate_span_stats_empty(spark):
    assert D.duplicate_span_stats(_empty_docs(spark), "doc_id", "text").count() == 0


def test_deterministic_shuffle_empty(spark):
    from cascading_hive_spark.operators.sampling import deterministic_shuffle

    out = deterministic_shuffle(_empty_docs(spark), "doc_id")
    assert out.count() == 0


def test_bpe_train_empty_corpus(spark):
    from cascading_hive_spark.operators.corpus import bpe_train

    assert bpe_train(_empty_docs(spark), "text", n_merges=3) == []


def test_runtime_prefilter_empty_build(spark):
    probe = spark.range(0, 100).select(F.col("id").alias("pk"))
    build = spark.createDataFrame([], "bk long")
    assert R.runtime_prefilter_join(probe, build, "pk", "bk").count() == 0


def test_profile_columns_empty(spark):
    out = R.profile_columns(_empty_docs(spark), ["doc_id", "text"]).collect()
    # one row per column even on an empty table — the ANALYZE contract
    assert {r.column for r in out} == {"doc_id", "text"}
    assert all(r.n_rows == 0 and r.n_distinct == 0 for r in out)


def test_tfidf_cosine_empty_corpus(spark):
    out = D.tfidf_cosine_pairs(_empty_docs(spark), "doc_id", "text")
    assert out.count() == 0
    assert out.columns == ["id_a", "id_b", "cos_sim"]


def test_cdc_apply_empty_changes_is_identity(spark):
    from cascading_hive_spark.io import cdc_apply

    target = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    empty = spark.createDataFrame([], "k long, v string, op string, seq int")
    got = sorted(map(tuple, cdc_apply(target, empty, ["k"]).collect()))
    assert got == [(1, "a"), (2, "b")]
    # empty target: pure inserts
    changes = spark.createDataFrame([(3, "c", "I", 1)], "k long, v string, op string, seq int")
    empty_t = spark.createDataFrame([], "k long, v string")
    assert [tuple(r) for r in cdc_apply(empty_t, changes, ["k"]).collect()] == [(3, "c")]


def test_table_diff_empty_sides(spark):
    from cascading_hive_spark.io import table_diff

    a = spark.createDataFrame([(1, "a")], "k long, v string")
    e = spark.createDataFrame([], "k long, v string")
    assert {r.diff_status for r in table_diff(a, e, ["k"]).collect()} == {"removed"}
    assert {r.diff_status for r in table_diff(e, a, ["k"]).collect()} == {"added"}
    assert table_diff(e, e, ["k"]).count() == 0


def test_pagerank_portable_empty_edges(spark):
    import pytest

    from cascading_hive_spark.operators.graph import pagerank

    e = spark.createDataFrame([], "src long, dst long")
    # no nodes -> empty rank table, not a crash
    assert pagerank(e, iterations=1, portable=True).count() == 0
    with pytest.raises(ValueError):
        pagerank(e, iterations=0, portable=True)


def test_ivf_build_portable_empty(spark):
    from cascading_hive_spark.operators import similarity as S

    e = spark.createDataFrame([], "vec_id long, embedding array<float>")
    # _dim_of needs a row; empty corpus must raise a clear error, not
    # return a broken index
    import pytest

    with pytest.raises(Exception):
        S.ivf_build(e, n_cells=4, refine_iterations=0, portable=True)


def test_partial_agg_merge_empty_slices(spark):
    empty = spark.createDataFrame([], "day date, event_type string, value double")
    merged = R.merge_partial_aggs(
        R.partial_agg(empty, ["day", "event_type"], "value"),
        R.partial_agg(empty, ["day", "event_type"], "value"),
    )
    assert merged.count() == 0
    assert merged.columns == ["day", "event_type", "cnt", "sum_img"]


def test_cdc_apply_empty_changes(spark):
    from cascading_hive_spark.io import cdc_apply

    target = spark.createDataFrame([(1, 10.0), (2, 20.0)], "k int, v double")
    changes = spark.createDataFrame([], "k int, v double, op string, seq int")
    out = cdc_apply(target, changes, ["k"])
    assert {(r.k, r.v) for r in out.collect()} == {(1, 10.0), (2, 20.0)}


def test_sliding_counts_empty_stream_input(spark):
    """Batch twin of the hopping window over zero rows: no window
    instances, no crash."""
    empty = spark.createDataFrame([], "ts timestamp, user_id long")
    out = (
        empty.groupBy(F.window("ts", "2 hours", "1 hour").alias("w"))
        .count()
    )
    assert out.count() == 0


def test_ivfpq_disk_probe_missing_vectors_shortlist_only(spark, tmp_path):
    """Disk probe without a re-rank table returns the ADC shortlist;
    build from a tiny corpus to keep the index path exercised."""
    from cascading_hive_spark.operators.similarity import (
        ivfpq_build, ivfpq_probe_from_disk, ivfpq_write,
    )
    from cascading_hive_spark.sources.synthetic import synthetic_embeddings

    emb = synthetic_embeddings(spark, n=64, dim=64, n_clusters=4)
    index, coarse, pqc = ivfpq_build(emb, n_cells=4, m=8, k=4, portable=True)
    path = str(tmp_path / "tiny_ivfpq")
    ivfpq_write(index, coarse, pqc, path)
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    out = ivfpq_probe_from_disk(spark, path, qv, m=8, nprobe=4, topk=3, shortlist=10)
    assert out.count() == 3


def test_late_r10_operators_empty_and_degenerate(spark):
    """Empty/degenerate robustness for the late-r10 additions:
    sequence_ngrams on empty events, target_encode on empty input
    (no rows, not a division error), cusum on a 1-point series
    (peak = the point, cusum 0), rrf_fuse validation, semantic dedup
    on an empty vector table."""
    import pytest

    from cascading_hive_spark.operators.corpus import rrf_fuse
    from cascading_hive_spark.operators.dedup import semantic_dedup_pairs
    from cascading_hive_spark.operators.similarity import kmeans_fit

    ev = spark.createDataFrame(
        [], "user_id long, ts timestamp, event_id long, event_type string"
    )
    out = R.sequence_ngrams(ev, ["user_id"], ["ts", "event_id"], "event_type")
    assert out.count() == 0 and out.columns == ["gram", "cnt"]

    empty_vals = spark.createDataFrame([], "c string, v double")
    te = R.target_encode(empty_vals, ["c"], "v")
    assert te.count() == 0 and te.columns == ["c", "cnt", "enc"]

    one = spark.createDataFrame(
        [("k", "2024-01-01", 5)], "k string, bucket string, cnt int"
    ).withColumn("bucket", F.col("bucket").cast("date"))
    r = R.cusum_changepoint(one, ["k"], "bucket", "cnt").collect()
    assert len(r) == 1 and r[0].cusum_peak == 0 and r[0].n_points == 1

    with pytest.raises(ValueError, match="at least one ranking"):
        rrf_fuse([])

    vecs = spark.createDataFrame([], "vec_id long, embedding array<double>")
    nonempty = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "vec_id long, embedding array<double>"
    )
    cents = kmeans_fit(nonempty, k=1, iters=1)
    assert semantic_dedup_pairs(vecs, cents, threshold=0.5).count() == 0

    ab = R.ab_test_zscore(
        spark.createDataFrame([], "user_id long, value double"),
        "user_id",
        "value",
    ).collect()
    # a global agg over zero rows still yields its one summary row,
    # with NULL means/z (0/0 never raises)
    assert len(ab) == 1 and ab[0].n_a == 0 and ab[0].mean_a is None


def test_r13_operators_empty_inputs(spark):
    from cascading_hive_spark.operators.corpus import lm_perplexity_buckets
    from cascading_hive_spark.operators.multimodal import (
        decode_video,
        video_frame_sample,
    )
    from cascading_hive_spark.operators.text import quality_classifier_score
    from cascading_hive_spark.queries import _QC_BIAS_V1, _QC_WEIGHTS_V1

    docs = _empty_docs(spark)
    scored = quality_classifier_score(
        docs, "doc_id", "text", _QC_WEIGHTS_V1, _QC_BIAS_V1
    )
    assert scored.count() == 0
    assert scored.columns == ["doc_id", "n_grams", "margin", "quality_pass"]
    # empty train side: every scored doc takes the V=0-free smoothing
    # floor path via NULL counts... and empty score side: empty out
    out = lm_perplexity_buckets(docs, docs, "doc_id", "text")
    assert out.count() == 0
    assert out.columns == ["doc_id", "n_bigrams", "nll", "bucket"]
    blobs = spark.createDataFrame([], "id long, payload binary")
    assert decode_video(blobs).count() == 0
    frames = video_frame_sample(blobs)
    assert frames.count() == 0
    assert frames.columns == ["id", "frame_idx", "pts", "timescale"]


def test_perplexity_empty_train_scores_all_unscored(spark):
    """LM trained on an EMPTY reference has V=0 — the smoothing floor
    1/(0+0) is undefined, so scoring against no LM must degrade every
    doc to bucket='unscored' with NULL nll (try_divide path), not an
    ANSI divide-by-zero (the bug this test pinned)."""
    from cascading_hive_spark.operators.corpus import lm_perplexity_buckets

    train = _empty_docs(spark)
    score = spark.createDataFrame(
        [(1, "a b c"), (2, "x")], "doc_id long, text string"
    )
    rows = {r.doc_id: r for r in
            lm_perplexity_buckets(train, score, "doc_id", "text").collect()}
    assert set(rows) == {1, 2}
    assert all(r.bucket == "unscored" and r.nll is None for r in rows.values())


# --- r13 continuation operators ---------------------------------------------


def test_knn_density_empty(spark):
    from cascading_hive_spark.operators.similarity import knn_density

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    out = knn_density(empty, k=3)
    assert out.count() == 0
    assert out.columns == ["vec_id", "knn_density", "n_neighbors"]


def test_cap_per_key_empty(spark):
    from cascading_hive_spark.operators.sampling import cap_per_key

    empty = spark.createDataFrame([], "id long, domain string")
    assert cap_per_key(empty, "domain", "id", cap=3).count() == 0


def test_annealed_epoch_mix_empty(spark):
    from cascading_hive_spark.operators.sampling import annealed_epoch_mix

    empty = spark.createDataFrame([], "doc_id long, source string")
    assert annealed_epoch_mix(empty, "doc_id", "source", [0.5]).count() == 0


def test_dsir_empty_raw_corpus(spark):
    """Both corpora empty: weights are all the (0-count) smoothing
    constant, scoring an empty frame yields an empty frame."""
    from cascading_hive_spark.operators.corpus import dsir_score, dsir_weights

    empty = _empty_docs(spark)
    w = dsir_weights(empty, empty, "text")
    assert len(w) == 128 and all(x == 0.0 for x in w)  # log(1/B)-log(1/B)
    assert dsir_score(empty, "doc_id", "text", w).count() == 0


def test_analyze_pcm_empty_frame(spark):
    from cascading_hive_spark.operators.multimodal import analyze_pcm

    empty = spark.createDataFrame([], "id long, payload binary")
    out = analyze_pcm(empty)
    assert out.count() == 0
    assert "energy" in out.columns


def test_dhash_images_empty_frame(spark):
    from cascading_hive_spark.operators.multimodal import dhash_images

    empty = spark.createDataFrame([], "id long, payload binary")
    assert dhash_images(empty).count() == 0


def test_blocklist_empty_frame(spark):
    from cascading_hive_spark.operators.text import blocklist_matches

    assert blocklist_matches(_empty_docs(spark), "doc_id", "text", ["x"]).count() == 0


def test_hash_embed_empty_frame(spark):
    from cascading_hive_spark.operators.text import hash_embed

    out = _empty_docs(spark).select(hash_embed(F.col("text"), dim=4).alias("v"))
    assert out.count() == 0


def test_charspan_empty_and_degenerate_text(spark):
    """Empty corpus -> empty outputs; empty-string and NULL text rows
    must survive (ANSI division guard: one empty doc must not crash a
    100 TB scan)."""
    from cascading_hive_spark.operators.dedup import (
        duplicate_charspan_stats,
        remove_duplicate_charspans,
    )

    assert duplicate_charspan_stats(_empty_docs(spark), "doc_id", "text").count() == 0
    assert remove_duplicate_charspans(_empty_docs(spark), "doc_id", "text").count() == 0
    df = spark.createDataFrame(
        [(1, ""), (2, None), (3, "y" * 60), (4, "y" * 60)],
        "doc_id long, text string",
    )
    stats = {r.doc_id: r for r in duplicate_charspan_stats(df, "doc_id", "text").collect()}
    assert stats[1].n_chars == 0 and stats[1].dup_permille == 0
    assert stats[2].n_chars is None and stats[2].dup_chars == 0
    assert stats[3].dup_chars == 60 and stats[3].dup_permille == 1000
    scrub = {r.doc_id: r for r in remove_duplicate_charspans(df, "doc_id", "text").collect()}
    assert scrub[1].clean_text == "" and scrub[3].clean_text == ""


def test_lang_id_empty_frame(spark):
    from cascading_hive_spark.operators.text import lang_id_scores
    from cascading_hive_spark.queries import _LID_MODELS_V1

    out = lang_id_scores(_empty_docs(spark), "doc_id", "text", _LID_MODELS_V1)
    assert out.count() == 0
    assert "pred_lang" in out.columns


def test_pca_power_project_empty_frame(spark):
    from cascading_hive_spark.operators.similarity import pca_power_project

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    assert pca_power_project(empty).count() == 0


def test_dhash_encoded_images_empty_frame(spark):
    from cascading_hive_spark.operators.multimodal import dhash_encoded_images

    empty = spark.createDataFrame([], "id long, payload binary")
    assert dhash_encoded_images(empty).count() == 0


def test_bloom_probe_empty_filter_both_legs(spark):
    """An EMPTY filter (no benchmark items — nothing built) must flag
    NOTHING through both physical legs of bloom_probe, not crash:
    literal leg reads all-zero words, broadcast leg left-joins to no
    match."""
    from cascading_hive_spark.operators.sketches import (
        _BLOOM_WORD_BITS,
        BLOOM_LITERAL_MAX_WORDS,
        bloom_build,
        bloom_probe,
    )

    empty = spark.createDataFrame([], "g string")
    probe = spark.createDataFrame([("a",), ("b",)], "g string")
    for m in (8192, _BLOOM_WORD_BITS * BLOOM_LITERAL_MAX_WORDS):
        out = bloom_probe(probe, "g", bloom_build(empty, "g", m, 3), m)
        assert [r.bloom_hit for r in out.collect()] == [False, False], m


def test_bloom_pandas_probe_empty_filter(spark):
    from cascading_hive_spark.operators.sketches import (
        bloom_flag_grams_pandas,
    )

    m = 8192
    words = [0] * (m // 63 + 1)
    flag = bloom_flag_grams_pandas(words, m, 3)
    probe = spark.createDataFrame(
        [(1, ["a", "b"]), (2, [])], "pid long, grams array<string>"
    )
    got = {r.pid: r.n for r in probe.select(
        "pid", flag(F.col("grams")).alias("n")).collect()}
    assert got == {1: 0, 2: 0}


def test_distributed_fits_single_class_labels(spark):
    """All-one-class labels (p -> 1 everywhere, Hessian floored at
    1e-6) must converge to finite weights on both distributed fits,
    and the one-language lang fit must return that one model."""
    import math

    from cascading_hive_spark.operators.text import (
        lang_classifier_fit_distributed,
        quality_classifier_fit_distributed,
    )

    docs = spark.createDataFrame(
        [(i, f"doc text number {i} with words", 1) for i in range(40)],
        "doc_id long, text string, y int",
    )
    w, b = quality_classifier_fit_distributed(docs, "doc_id", "text", "y")
    assert math.isfinite(b) and all(math.isfinite(x) for x in w)
    lab = docs.withColumn("lang", F.lit("xx"))
    models = lang_classifier_fit_distributed(lab, "doc_id", "text", "lang")
    assert set(models) == {"xx"}
    assert math.isfinite(models["xx"][1])


def test_curation_funnel_empty_corpus(spark, tmp_path):
    """A funnel over zero documents reports one all-zero row (the
    acceptance report never crashes on an empty partition-filter
    result); the modal-language broadcast stays a 1-row NULL, not an
    empty cross join that would erase the report."""
    import os

    from cascading_hive_spark.queries import _REGISTRY
    from cascading_hive_spark.tables import TABLES, load_table

    src = "/root/testdata/sf0.001"
    out = str(tmp_path)
    for t in TABLES:
        df = load_table(spark, src, t)
        if t == "documents":
            df = df.filter(F.lit(False))
        df.write.parquet(os.path.join(out, f"{t}.parquet"))
    row = _REGISTRY["pipeline_curation_funnel"][0](spark, out).first()
    assert (row.n_all, row.n_gopher, row.n_lang, row.n_classifier,
            row.n_domain_cap) == (0, 0, 0, 0, 0)


# --- empty graphs, a one-cell index, all-NULL sketch keys --------------------


def test_label_propagation_empty_graph(spark):
    from cascading_hive_spark.operators.graph import label_propagation

    e = spark.createDataFrame([], "src long, dst long")
    out = label_propagation(e, iterations=2)
    assert out.count() == 0
    assert out.columns == ["node", "community"]


def test_k_core_empty_graph(spark):
    from cascading_hive_spark.operators.graph import k_core

    out = k_core(spark.createDataFrame([], "src long, dst long"), k=2)
    assert out.count() == 0
    assert out.columns == ["node", "degree"]


def test_ivf_single_cell_probe_is_exact(spark):
    """n_cells=1: every vector lands in cell 0, so probing that one cell
    is the brute-force search."""
    import math

    from cascading_hive_spark.operators import similarity as S

    rows = [(i, [float(i % 3), float(i % 5) + 1.0, 1.0]) for i in range(12)]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    qv = rows[7][1]

    def cos(v):
        return sum(a * b for a, b in zip(v, qv)) / math.sqrt(
            sum(a * a for a in v) * sum(b * b for b in qv)
        )

    want = [i for i, v in sorted(rows, key=lambda r: (-round(cos(r[1]), 6), r[0]))][:4]
    q = vecs.filter("vec_id = 7").select("embedding")
    for portable in (False, True):
        assign, cents = S.ivf_build(vecs, n_cells=1, portable=portable)
        assert {r.cell for r in assign.collect()} == {0}, portable
        assert cents.count() == 1, portable
        got = [r.vec_id for r in S.ivf_search(assign, cents, q, k=4, nprobe=1).collect()]
        assert got == want, portable


def _null_keys(spark):
    return spark.createDataFrame([(None, i) for i in range(10)], "k string, v long")


def test_heavy_hitters_all_null_keys(spark):
    """NULL is one key: ten NULL-keyed rows are one hitter of count 10."""
    from cascading_hive_spark.operators.sketches import heavy_hitters

    rows = heavy_hitters(_null_keys(spark), ["k"], phi=0.5).collect()
    assert [(r.k, r.cnt) for r in rows] == [(None, 10)]


def test_kmv_all_null_keys(spark):
    """NULL-keyed rows form one key group, as in GROUP BY, beside the
    union row."""
    from cascading_hive_spark.operators.sketches import kmv_distinct_by_key

    rows = {r.key: r for r in kmv_distinct_by_key(_null_keys(spark), "k", "v", k=4).collect()}
    assert set(rows) == {None, "__ALL__"}
    assert rows[None].exact_distinct == rows["__ALL__"].exact_distinct == 10


def test_bloom_all_null_items(spark):
    """A NULL item is not a member: a filter built only from NULLs is
    empty, and probing it flags nothing."""
    from cascading_hive_spark.operators.sketches import bloom_build, bloom_probe

    df = _null_keys(spark)
    bloom = bloom_build(df, "k", m_bits=1024)
    assert bloom.count() == 0
    probe = spark.createDataFrame([("a",), (None,)], "k string")
    assert bloom_probe(probe, "k", bloom, m_bits=1024).filter("bloom_hit").count() == 0


def test_histogram_quantile_all_null_partial_keys(spark):
    """NULL partial keys are dropped up front (documented), so an
    all-NULL key column leaves one row of NULL estimates."""
    from cascading_hive_spark.operators.sketches import histogram_quantile_merge

    rows = histogram_quantile_merge(_null_keys(spark), "v", "k", bins=4, probs=(0.5,)).collect()
    assert len(rows) == 1 and rows[0].q500 is None
