"""Pinning tests for the r16 wave-6 optimizations: each asserts the
plan property the rework exists to provide, so a regression back to
the slow shape fails loudly (results themselves are pinned by the
DuckDB oracles and the numpy ground-truth tests)."""

from __future__ import annotations

from pyspark.sql import functions as F

from cascading_hive_spark import queries as Q
from cascading_hive_spark.plans import physical_plan


def _q(spark, sf_dir, name):
    return Q.queries()[name](spark, sf_dir)


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


def test_ivfpq_index_lineage_is_checkpointed(spark, sf_dir):
    """ivfpq_build's assignments/residuals feed 6+ separate actions
    (pq_train's probes, pq_encode, the index join); the checkpoint
    boundary must appear in the index plan so the coarse E-step runs
    once, not per action (ann_ivfpq_topk 10.3 -> 6.9s)."""
    from cascading_hive_spark.operators.similarity import ivfpq_build

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    index, coarse, pqc = ivfpq_build(emb, n_cells=4, m=4, k=4, portable=True)
    plan = physical_plan(index)
    assert "ExistingRDD" in plan or "Scan ExistingRDD" in plan, plan


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
