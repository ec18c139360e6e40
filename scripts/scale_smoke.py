"""Scale smokes behind the BASELINE.md numbers — reproducible runners
for the synthetic-corpus measurements (the sf0.1 bench verifies
wall-clock on the driver tables; these verify the SHAPE of the scaling
curve at 100k-1M rows, where a quadratic path or flooded LSH bucket
would show immediately).

Usage: python scripts/scale_smoke.py <name> [args]
    ivf_knn   [n=100000] [n_queries=200] [n_cells=64]
    simhash   [n=500000]
    cc        [n_edges=100000]
    elsh_auto [n=1000000]
    packing / packing_skewed [n=1000000]
    asof      [n_left=10000000] [n_right=1000000]
    q1_decimal [tile=10]
    shuffle   [n=10000000]
    span      [n=1000000]
    bpe       [n=1000000] [n_merges=10]
    pq        [n=1000000]
    fuzzy     [n=1000000]
    scd2      [n=10000000] [n_keys=1000000]
    streaming [n=1000000] [slices=20]
    catalog10k [n_parts=10000] [rows_per=10]
    catalog1m [n_parts=1000000] [batch=2000]
    ivfpq_disk [n=1000000]
    decontaminate [n=1000000]
    sessions  [n=10000000]
    kmeans    [n=1000000] [dim=32] [k=16] [iters=2]
    kcore     [n_edges=10000000] [k=8] [clique=200]
    semantic_dedup [n=100000] [k=64] [dim=16]
    skyline   [n=10000000]
    triangles [n_edges=10000000] [hub_deg=100000]
    heavy_hitters [n=100000000] [phi_permille=1]
    basket    [n_orders=2000000] [hub_items=10000]
    markov_retention [n=10000000] [n_users=100000]
    quantile_sketch [n=100000000] [n_partials=30]
    pca       [n=1000000] [d=64]
    overlap   [n=1000000]
    rfm       [n_orders=10000000] [n_cust=1000000]
    tempmix   [n=50000000] [n_sources=20]
    leakage   [n=20000000] [n_pairs=1000000]
    shard     [n=20000000] [budget=100000]
    quality_classifier [n=1000000]
    perplexity [n=1000000]
    auc       [n=50000000]
    knn_density [n=100000] [dim=16]
    dsir      [n=1000000]
    domain_cap [n_hot=10000000] [n_keys=100000]
    curation_scan [n=1000000]

Each prints one JSON line per measurement.
"""

from __future__ import annotations

import json
import os
import sys
import time

from pyspark.sql import functions as F

from cascading_hive_spark.session import get_session


def _spark():
    # GCLockerRetryAllocationCount: the 32-thread local JVM hits
    # GCLocker starvation (JNI lz4 critical sections vs allocation
    # spikes) on the biggest smokes — retrying the allocation instead
    # of throwing spurious OOM is the documented JVM-side fix.
    # Core count honors $SPARK_GRAFT_CPUS (default 32) so the scaling
    # smokes can compare 8-vs-32-core walls (r16 VERDICT #8).
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    s = get_session(
        "scale-smoke",
        master=f"local[{cpus}]",
        shuffle_partitions=2 * cpus,
        extra_conf={
            "spark.driver.extraJavaOptions": (
                "-XX:+UnlockDiagnosticVMOptions -XX:GCLockerRetryAllocationCount=100"
            )
        },
    )
    s.sparkContext.setLogLevel("ERROR")
    return s


def _timed(df) -> tuple[float, int]:
    t0 = time.monotonic()
    n = df.count()
    return round(time.monotonic() - t0, 1), n


def smoke_skyline(n: int = 10_000_000) -> None:
    """Skyline at 10M rows, three regimes (VERDICT r9 #2):
    (a) correlated criteria — tiny frontier, the common case; wall
        must be scan-dominated (near-linear);
    (b) DISCRETIZED anti-correlated criteria (a + b ~ const over a
        1001-value domain, per-row jitter in 0..999 so frontier rows
        are mostly unique — ties ALL survive Pareto dominance, so a
        coarse jitter would multiply every frontier point by its
        duplicate count and trip the guard) — frontier ~ domain-sized
        (tens of thousands), the tree-reduction pass prunes cross-
        partition dominated rows before the single task sees anything;
    (c) continuous anti-correlated (every row on the frontier) with
        the default max_frontier guard — must FAIL FAST with the
        diagnosis, not funnel 10M rows through one task."""
    from cascading_hive_spark.operators.relational import skyline

    spark = _spark()
    base = spark.range(n).select(
        F.col("id"),
        F.pmod(F.abs(F.xxhash64("id")), F.lit(1_000_000)).alias("h"),
        F.pmod(F.abs(F.xxhash64(F.col("id") + 3)), F.lit(1000)).alias("j"),
    )
    # (a) correlated: b grows with a plus small jitter -> small frontier
    corr = base.select(
        F.col("id"),
        F.col("h").cast("double").alias("a"),
        (F.col("h") + F.col("j")).cast("double").alias("b"),
    ).localCheckpoint()
    t0 = time.monotonic()
    n_corr = skyline(corr, minimize=["a", "b"]).count()
    w_corr = round(time.monotonic() - t0, 1)
    print(json.dumps({"smoke": "skyline", "regime": "correlated", "n": n,
                      "frontier": n_corr, "wall_sec": w_corr}), flush=True)
    # (b) discretized anti-correlated: a in 0..1000, b = 1000 - a + j,
    # j in 0..999 (fine-grained: per (a, min-j) only the ~10 rows
    # hitting the min survive -> frontier ~10k, inside the guard)
    disc = base.select(
        F.col("id"),
        F.pmod(F.col("h"), F.lit(1001)).cast("double").alias("a"),
        (F.lit(1000) - F.pmod(F.col("h"), F.lit(1001))
         + F.col("j")).cast("double").alias("b"),
    ).localCheckpoint()
    t0 = time.monotonic()
    n_disc = skyline(disc, minimize=["a", "b"]).count()
    w_disc = round(time.monotonic() - t0, 1)
    print(json.dumps({"smoke": "skyline", "regime": "anti_discretized",
                      "n": n, "frontier": n_disc, "wall_sec": w_disc}), flush=True)
    # (c) continuous anti-correlated: frontier == n -> guard must raise
    anti = spark.range(n).select(
        F.col("id").cast("double").alias("a"),
        (F.lit(n) - F.col("id")).cast("double").alias("b"),
    )
    t0 = time.monotonic()
    try:
        skyline(anti, minimize=["a", "b"]).count()
        raised = False
    except Exception as exc:  # guard raise surfaces as PythonException
        raised = "max_frontier" in str(exc)
    w_guard = round(time.monotonic() - t0, 1)
    print(json.dumps({"smoke": "skyline", "regime": "anti_guard", "n": n,
                      "guard_raised": raised, "wall_sec": w_guard}), flush=True)


def smoke_triangles(n_edges: int = 10_000_000, hub_deg: int = 100_000) -> None:
    """Degree-ordered triangle count on a Zipf-hub graph (VERDICT r9
    #3): a ring (i, i+1) for local triangles' base, a planted hub with
    degree ``hub_deg`` (every step-th node links to node 0), and a
    random-offset edge per node so real triangles exist. The r8
    id-ordered plan paired the hub's neighbors quadratically
    (hub_deg² wedges ~ 10^10 at 1e5); the degree-ordered orientation
    must keep wall near-linear in edges instead."""
    from cascading_hive_spark.operators.graph import triangle_count

    spark = _spark()
    n_nodes = max(4, n_edges // 3)
    step = max(1, n_nodes // hub_deg)
    base = spark.range(1, n_nodes)
    ring = base.select(
        F.col("id").alias("src"),
        F.pmod(F.col("id") + 1, F.lit(n_nodes)).alias("dst"),
    )
    hub = base.filter(F.pmod(F.col("id"), F.lit(step)) == 0).select(
        F.col("id").alias("src"), F.lit(0).alias("dst")
    )
    rand = base.select(
        F.col("id").alias("src"),
        F.pmod(
            F.col("id") + 2 + F.pmod(F.abs(F.xxhash64("id")), F.lit(97)),
            F.lit(n_nodes),
        ).alias("dst"),
    )
    edges = ring.union(hub).union(rand).localCheckpoint()
    t0 = time.monotonic()
    row = triangle_count(edges).collect()[0]
    wall = round(time.monotonic() - t0, 1)
    print(json.dumps({"smoke": "triangles", "n_edges": n_edges,
                      "hub_degree": hub.count(), "wall_sec": wall,
                      "n_wedges": row["n_wedges"],
                      "n_triangles": row["n_triangles"]}), flush=True)


def smoke_heavy_hitters(n: int = 100_000_000, phi_permille: int = 1) -> None:
    """Misra-Gries heavy hitters over Zipf-skewed keys (VERDICT r9
    #4): key = nested-pmod power-law over ~1M distinct values, phi =
    phi_permille/1000. Pass 1 is map-only (plan-gated in test_plans);
    this records the wall and that the final answer agrees with an
    exact groupBy at the same threshold."""
    from cascading_hive_spark.operators.sketches import heavy_hitters

    spark = _spark()
    phi = phi_permille / 1000.0
    df = spark.range(n).select(
        F.pmod(
            F.pmod(F.abs(F.xxhash64("id")), F.lit(1_000_000)),
            F.pmod(F.abs(F.xxhash64(F.col("id") + 11)), F.lit(997)) + 1,
        ).alias("key")
    ).localCheckpoint()
    t0 = time.monotonic()
    hh = {(r.key, r.cnt) for r in heavy_hitters(df, ["key"], phi).collect()}
    wall = round(time.monotonic() - t0, 1)
    t0 = time.monotonic()
    exact = {
        (r.key, r.cnt)
        for r in df.groupBy("key").count()
        .withColumnRenamed("count", "cnt")
        .filter(F.col("cnt") > phi * n)
        .collect()
    }
    wall_exact = round(time.monotonic() - t0, 1)
    print(json.dumps({"smoke": "heavy_hitters", "n": n, "phi": phi,
                      "k_bound": int(1 / phi) + 1, "n_hitters": len(hh),
                      "matches_exact": hh == exact,
                      "wall_sec": wall, "wall_exact_groupby_sec": wall_exact}), flush=True)


def smoke_basket(n_orders: int = 2_000_000, hub_items: int = 10_000) -> None:
    """Basket-lift pair mining with a pathological basket (VERDICT r9
    #5): ~5-item baskets (TPC-H shape) plus ONE planted ``hub_items``-
    item order. In-basket pair work is quadratic in basket size by
    design — the hub alone contributes hub_items²/2 = 50M pairs, all
    generated in the single join task owning that order key. Measured
    with and without the hub to price that skew; the max_basket guard
    (registered query) excludes oversized baskets up front."""
    spark = _spark()
    items = spark.range(n_orders * 5).select(
        (F.col("id") % n_orders).alias("l_orderkey"),
        F.pmod(F.abs(F.xxhash64("id")), F.lit(50_000)).alias("l_partkey"),
    ).distinct()
    hub = spark.range(hub_items).select(
        F.lit(n_orders + 1).alias("l_orderkey"),
        F.col("id").alias("l_partkey"),
    )

    def _lift(it, tag):
        marg = it.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n_part"))
        a = it.select("l_orderkey", F.col("l_partkey").alias("part_a"))
        b = it.select("l_orderkey", F.col("l_partkey").alias("part_b"))
        pairs = (
            a.join(b, "l_orderkey")
            .filter(F.col("part_a") < F.col("part_b"))
            .groupBy("part_a", "part_b")
            .agg(F.count(F.lit(1)).alias("n_ab"))
            .filter(F.col("n_ab") >= 2)
        )
        t0 = time.monotonic()
        n_pairs = pairs.count()
        wall = round(time.monotonic() - t0, 1)
        print(json.dumps({"smoke": "basket", "variant": tag,
                          "n_items": it.count(), "n_pairs": n_pairs,
                          "wall_sec": wall, "n_marg": marg.count()}), flush=True)

    clean = items.localCheckpoint()
    _lift(clean, "no_hub")
    with_hub = items.union(hub).localCheckpoint()
    _lift(with_hub, "hub_10k")
    # guarded: drop baskets over 1000 items before pairing
    sizes = with_hub.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("_bs")
    ).filter(F.col("_bs") <= 1000)
    guarded = with_hub.join(sizes.select("l_orderkey"), "l_orderkey", "left_semi")
    _lift(guarded.localCheckpoint(), "guarded_max1000")


def smoke_markov_retention(n: int = 10_000_000, n_users: int = 100_000) -> None:
    """events_markov_transitions + events_retention_cohorts shapes at
    10M synthetic events (VERDICT r9 #5): per-user sequence windows
    (one user-keyed shuffle each) must stay linear."""
    spark = _spark()
    from pyspark.sql import Window

    ev = spark.range(n).select(
        F.col("id").alias("event_id"),
        F.pmod(F.abs(F.xxhash64("id")), F.lit(n_users)).alias("user_id"),
        F.pmod(F.abs(F.xxhash64(F.col("id") + 5)), F.lit(8)).alias("etype"),
        F.timestamp_seconds(
            F.lit(1_700_000_000) + F.pmod(F.abs(F.xxhash64(F.col("id") + 9)),
                                          F.lit(90 * 86400))
        ).alias("ts"),
    ).localCheckpoint()
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select("etype", F.lead("etype").over(w).alias("nxt")).filter(
        F.col("nxt").isNotNull()
    )
    t0 = time.monotonic()
    n_trans = seq.groupBy("etype", "nxt").count().count()
    w_markov = round(time.monotonic() - t0, 1)
    first = ev.groupBy("user_id").agg(F.min(F.col("ts").cast("date")).alias("d0"))
    cohorts = (
        ev.select("user_id", F.col("ts").cast("date").alias("d"))
        .join(first, "user_id")
        .select(
            F.date_trunc("week", "d0").alias("cohort"),
            F.floor(F.datediff("d", "d0") / 7).alias("week_n"),
            "user_id",
        )
        .groupBy("cohort", "week_n")
        .agg(F.countDistinct("user_id").alias("active"))
    )
    t0 = time.monotonic()
    n_cohort = cohorts.count()
    w_ret = round(time.monotonic() - t0, 1)
    from cascading_hive_spark.operators.relational import sequence_ngrams

    t0 = time.monotonic()
    n_grams = sequence_ngrams(
        ev, ["user_id"], ["ts", "event_id"], "etype", n=3
    ).count()
    w_tri = round(time.monotonic() - t0, 1)
    print(json.dumps({"smoke": "markov_retention", "n": n,
                      "n_users": n_users, "n_transitions": n_trans,
                      "markov_wall_sec": w_markov, "n_cohort_cells": n_cohort,
                      "retention_wall_sec": w_ret,
                      "n_trigrams": n_grams,
                      "trigram_wall_sec": w_tri}), flush=True)


def smoke_ivf_knn(n: int = 100_000, n_queries: int = 200, n_cells: int = 64) -> None:
    """Batched IVF ANN join: recall vs brute-force knn_join and wall
    time as nprobe scales — cost should track nprobe/n_cells."""
    from cascading_hive_spark.operators.similarity import ivf_build, ivf_knn_join, knn_join
    from cascading_hive_spark.sources.synthetic import synthetic_embeddings

    spark = _spark()
    emb = synthetic_embeddings(spark, n=n, dim=64, n_clusters=32).localCheckpoint()
    queries = (
        emb.filter(F.col("vec_id") < n_queries)
        .select(F.col("vec_id").alias("query_id"), "embedding")
        .localCheckpoint()
    )
    t0 = time.monotonic()
    truth_rows = knn_join(emb, queries, k=10, query_id_col="query_id").collect()
    brute_wall = round(time.monotonic() - t0, 1)
    truth: dict[int, set[int]] = {}
    for r in truth_rows:
        truth.setdefault(r.query_id, set()).add(r.vec_id)
    print(json.dumps({"smoke": "ivf_knn", "stage": "brute_force", "n": n,
                      "n_queries": n_queries, "wall_sec": brute_wall}), flush=True)

    t0 = time.monotonic()
    assignments, centroids = ivf_build(emb, n_cells=n_cells)
    assignments = assignments.localCheckpoint()
    build_wall = round(time.monotonic() - t0, 1)
    print(json.dumps({"smoke": "ivf_knn", "stage": "build", "n_cells": n_cells,
                      "wall_sec": build_wall}), flush=True)

    for nprobe in (2, 8, 32):
        t0 = time.monotonic()
        rows = ivf_knn_join(
            assignments, centroids, queries, k=10, nprobe=nprobe
        ).collect()
        wall = round(time.monotonic() - t0, 1)
        got: dict[int, set[int]] = {}
        for r in rows:
            got.setdefault(r.query_id, set()).add(r.vec_id)
        hits = sum(len(got.get(q, set()) & t) for q, t in truth.items())
        total = sum(len(t) for t in truth.values())
        print(json.dumps({
            "smoke": "ivf_knn", "stage": "probe", "nprobe": nprobe,
            "n_cells": n_cells, "wall_sec": wall,
            "recall": round(hits / total, 4),
        }), flush=True)


def smoke_simhash(n: int = 500_000) -> None:
    """simhash_pairs at corpus scale: wall time + pair volume (the
    4x16-bit pigeonhole blocking must stay near-linear)."""
    from cascading_hive_spark.operators.dedup import simhash_pairs
    from cascading_hive_spark.sources.synthetic import synthetic_documents

    spark = _spark()
    docs = synthetic_documents(spark, n=n, dup_rate=0.02, n_vocab=5000).localCheckpoint()
    wall, n_pairs = _timed(simhash_pairs(docs, "doc_id", "text", max_hamming=3))
    print(json.dumps({"smoke": "simhash", "n_docs": n, "wall_sec": wall,
                      "n_pairs": n_pairs}), flush=True)


def smoke_tfidf(n: int = 1_000_000) -> None:
    """tfidf_cosine_pairs at corpus scale: rare-gram candidate blocking
    must stay near-linear (each gram with doc-freq in [2, max_gram_df]
    contributes <= max_gram_df^2/2 pairs; verify cost ∝ pairs x
    terms/doc). 5000-word vocab -> trigram space is huge, so the
    planted dup pairs dominate the rare-gram buckets."""
    from cascading_hive_spark.operators.dedup import tfidf_cosine_pairs
    from cascading_hive_spark.sources.synthetic import synthetic_documents

    spark = _spark()
    for size in (100_000, n):
        docs = synthetic_documents(
            spark, n=size, dup_rate=0.02, n_vocab=5000
        ).localCheckpoint()
        wall, n_pairs = _timed(
            tfidf_cosine_pairs(docs, "doc_id", "text", threshold=0.8)
        )
        print(json.dumps({"smoke": "tfidf", "n_docs": size, "wall_sec": wall,
                          "n_pairs": n_pairs, "planted": int(size * 0.02)}), flush=True)


def smoke_cc(n_edges: int = 100_000) -> None:
    """connected_components on a dedup-shaped pair graph (many small
    components)."""
    from cascading_hive_spark.operators.graph import connected_components

    spark = _spark()
    # dedup-shaped: components of ~6 vertices (id // 5 clusters, edges
    # i -> i+1 within a cluster plus a skip edge)
    base = spark.range(0, n_edges)
    edges = base.select(
        F.col("id").alias("id_a"),
        F.when(F.col("id") % 5 < 4, F.col("id") + 1)
        .otherwise(F.col("id") - 4)
        .alias("id_b"),
    ).localCheckpoint()
    t0 = time.monotonic()
    labels = connected_components(edges)
    n_comp = labels.select("component").distinct().count()
    wall = round(time.monotonic() - t0, 1)
    print(json.dumps({"smoke": "cc", "shape": "dedup_clusters",
                      "n_edges": n_edges, "n_components": n_comp,
                      "wall_sec": wall}), flush=True)


def smoke_cdc(n: int = 10_000_000, change_rate: int = 20) -> None:
    """cdc_apply + table_diff at snapshot scale: 10M-row target, a
    change stream touching 1/change_rate of keys (updates, deletes,
    inserts mixed, with seq collisions on every 3rd changed key so the
    latest-wins window does real work), then table_diff reconciles the
    result against the original — both are one-key-shuffle plans, so
    the curve must be linear in the snapshot size."""
    from cascading_hive_spark.io import cdc_apply, table_diff

    spark = _spark()
    for size in (1_000_000, n):
        target = spark.range(size).select(
            F.col("id").alias("k"), (F.col("id") % 1000).cast("double").alias("v")
        ).localCheckpoint()
        ch = spark.range(0, size, change_rate).select(
            F.col("id").alias("k"),
            (F.col("id") % 7).cast("double").alias("v"),
            F.when(F.col("id") % 3 == 0, "D").otherwise("U").alias("op"),
            F.lit(1).alias("seq"),
        )
        # changed keys are multiples of change_rate, so the deleted set
        # is multiples of 3*change_rate; HALF of those (multiples of
        # 6*change_rate) get a seq-2 re-upsert AFTER the delete —
        # latest-wins work — while the other half stay net-deleted
        dup = ch.filter(F.col("k") % (6 * change_rate) == 0).select(
            "k", (F.col("v") + 1).alias("v"), F.lit("U").alias("op"), F.lit(2).alias("seq")
        )
        changes = ch.unionByName(dup).localCheckpoint()
        t0 = time.monotonic()
        new = cdc_apply(target, changes, ["k"]).localCheckpoint()
        n_new = new.count()
        wall_apply = round(time.monotonic() - t0, 1)
        t0 = time.monotonic()
        n_diff = table_diff(target, new, ["k"]).count()
        wall_diff = round(time.monotonic() - t0, 1)
        print(json.dumps({"smoke": "cdc", "n_target": size,
                          "n_changes": changes.count(), "n_after": n_new,
                          "n_diff": n_diff, "apply_sec": wall_apply,
                          "diff_sec": wall_diff}), flush=True)


def smoke_pagerank(n_edges: int = 10_000_000, iterations: int = 5) -> None:
    """pagerank on a scale-free-ish synthetic web graph: n_edges/4
    nodes, each node links to its successor plus a Zipf-skewed hub
    (xxhash-picked among the lowest ~1000 ids), so hub in-degrees are
    heavily skewed — the shape that stresses the per-iteration
    groupBy(dst) shuffle. Cost must be linear in edges x iterations.
    Runs the decimal-image accumulator graph_pagerank_hubs uses."""
    from cascading_hive_spark.operators.graph import pagerank

    spark = _spark()
    n_nodes = max(2, n_edges // 4)
    base = spark.range(0, n_nodes)
    edges = (
        base.select(
            F.col("id").alias("src"),
            F.pmod(F.col("id") + 1, F.lit(n_nodes)).alias("dst"),
        )
        .union(
            base.select(
                F.col("id").alias("src"),
                # skewed hub choice: power-law-ish via nested pmod
                F.pmod(
                    F.pmod(F.abs(F.xxhash64("id")), F.lit(1000)),
                    F.pmod(F.abs(F.xxhash64(F.col("id") + 7)), F.lit(31)) + 1,
                ).alias("dst"),
            )
        )
        .localCheckpoint()
    )
    t0 = time.monotonic()
    ranks = pagerank(edges, iterations=iterations, portable=True)
    top = ranks.orderBy(F.col("rank").desc()).limit(5).collect()
    wall = round(time.monotonic() - t0, 1)
    print(json.dumps({"smoke": "pagerank", "n_edges": n_edges,
                      "n_nodes": n_nodes, "iterations": iterations,
                      "wall_sec": wall,
                      "top_rank": round(top[0]["rank"], 6)}), flush=True)


def smoke_elsh_auto(n: int = 1_000_000) -> None:
    """embedding_lsh_pairs with DEFAULT (auto-sized) band bits at 1M
    vectors: must stay near-linear without manual bit tuning."""
    from cascading_hive_spark.operators.dedup import embedding_lsh_pairs
    from cascading_hive_spark.sources.synthetic import synthetic_embeddings

    spark = _spark()
    for size in (n // 10, n):
        emb = synthetic_embeddings(
            spark, n=size, dim=64, n_clusters=size, dup_rate=0.02
        ).localCheckpoint()
        t0 = time.monotonic()
        pairs = embedding_lsh_pairs(
            emb, "vec_id", "embedding", threshold=0.9
        )
        n_pairs = pairs.count()
        wall = round(time.monotonic() - t0, 1)
        print(json.dumps({"smoke": "elsh_auto", "n_vectors": size,
                          "wall_sec": wall, "n_pairs": n_pairs,
                          "planted": int(size * 0.02)}), flush=True)


def smoke_packing(n: int = 1_000_000) -> None:
    """pack_sequences at corpus scale: wall time and utilization as n
    grows 10x — per-group walks must stay embarrassingly parallel."""
    from pyspark.sql import functions as FF

    from cascading_hive_spark.operators.packing import pack_sequences, packing_stats
    from cascading_hive_spark.sources.synthetic import synthetic_documents

    spark = _spark()
    for size in (n // 10, n):
        docs = synthetic_documents(spark, n=size, n_vocab=5000).localCheckpoint()
        t0 = time.monotonic()
        packed = pack_sequences(docs, "doc_id", text_col="text", capacity=2048, n_groups=512)
        stats = packing_stats(packed, 2048)
        row = stats.agg(
            FF.count(FF.lit(1)).alias("n_seqs"),
            FF.round(FF.avg("utilization"), 4).alias("avg_util"),
        ).first()
        wall = round(time.monotonic() - t0, 1)
        print(json.dumps({"smoke": "packing", "n_docs": size, "wall_sec": wall,
                          "n_sequences": row["n_seqs"],
                          "avg_utilization": row["avg_util"]}), flush=True)


def smoke_asof(n_left: int = 10_000_000, n_right: int = 1_000_000) -> None:
    """asof_join at 10M left x 1M right over 100k keys with a hot key
    holding ~20% of BOTH sides (VERDICT r5 #5). The union+window plan
    shuffles |L|+|R| once on the by-key; the hot key serializes one
    partition's sort, so wall time should degrade gracefully (the sort
    is O(n_hot log n_hot)), never quadratically."""
    from cascading_hive_spark.operators.asof import asof_join

    spark = _spark()
    left = spark.range(n_left).select(
        F.when(F.col("id") % 5 == 0, F.lit(0))
        .otherwise(F.pmod(F.xxhash64("id"), F.lit(100_000)))
        .alias("key"),
        F.pmod(F.col("id") * 7, F.lit(1_000_000_000)).alias("ts"),
        F.col("id").alias("lid"),
    ).localCheckpoint()
    right = spark.range(n_right).select(
        F.when(F.col("id") % 5 == 0, F.lit(0))
        .otherwise(F.pmod(F.xxhash64(F.col("id") + 17), F.lit(100_000)))
        .alias("key"),
        F.pmod(F.col("id") * 13, F.lit(1_000_000_000)).alias("ts"),
        (F.col("id") % 1000).alias("val"),
    ).localCheckpoint()
    for direction in ("backward", "nearest"):
        t0 = time.monotonic()
        out = asof_join(
            left, right, "ts", "ts", "key", "key", ["val"], direction=direction
        )
        n = out.count()
        wall = round(time.monotonic() - t0, 1)
        print(json.dumps({"smoke": "asof", "direction": direction,
                          "n_left": n_left, "n_right": n_right,
                          "hot_key_share": 0.2, "matched": n,
                          "wall_sec": wall}), flush=True)


def smoke_packing_skewed(n: int = 1_000_000) -> None:
    """pack_sequences under a SKEWED group distribution (group =
    floor(512*u^2), so group 0 carries ~20x the uniform share): the
    per-group Arrow walk is sequential within a group, so wall time
    should track the largest group linearly — no blow-up, utilization
    unchanged vs the uniform smoke."""
    from pyspark.sql import functions as FF

    from cascading_hive_spark.operators.packing import pack_sequences, packing_stats
    from cascading_hive_spark.sources.synthetic import synthetic_documents

    spark = _spark()
    for size in (n // 10, n):
        docs = synthetic_documents(spark, n=size, n_vocab=5000).localCheckpoint()
        u = F.pmod(F.xxhash64("doc_id"), F.lit(1_000_000)) / 1_000_000.0
        skewed_group = F.floor(F.lit(512) * u * u)
        t0 = time.monotonic()
        packed = pack_sequences(
            docs, "doc_id", text_col="text", capacity=2048, group_expr=skewed_group
        )
        stats = packing_stats(packed, 2048)
        row = stats.agg(
            FF.count(FF.lit(1)).alias("n_seqs"),
            FF.round(FF.avg("utilization"), 4).alias("avg_util"),
        ).first()
        top = (
            packed.groupBy("pack_group").count().orderBy(FF.desc("count")).first()
        )
        wall = round(time.monotonic() - t0, 1)
        print(json.dumps({"smoke": "packing_skewed", "n_docs": size,
                          "wall_sec": wall, "n_sequences": row["n_seqs"],
                          "avg_utilization": row["avg_util"],
                          "largest_group_docs": top["count"],
                          "uniform_share_docs": size // 512}), flush=True)


def smoke_q1_decimal(tile: int = 10) -> None:
    """q1's decimal(18,6)-image accumulation cost at ~sf1 (VERDICT r5
    #7): tile the sf0.1 lineitem ``tile``x into /tmp parquet (~6M rows
    at tile=10) and time the production q1 against a raw-double-sum
    variant. The decimal images exist to kill cross-engine .xx5
    rounding flakes; this measures what that correctness costs at 10x
    the bench SF so the knob (decimal width vs approach) is decided on
    data, not anecdote."""
    import os
    import tempfile

    from cascading_hive_spark import queries as Q
    from cascading_hive_spark.tables import load_table

    spark = _spark()
    tmp = tempfile.mkdtemp(prefix="sf1_q1_")
    src = load_table(spark, "/root/testdata/sf0.1", "lineitem")
    (
        src.crossJoin(spark.range(tile).select(F.col("id").alias("_t")))
        .drop("_t")
        # Without this the tiled write emits ~6 files and the smoke
        # measures file-count parallelism (decimal looked 7.8x worse
        # than double at 6-way; at 32-way the honest CPU ratio is ~3x).
        .repartition(32)
        .write.mode("overwrite")
        .parquet(os.path.join(tmp, "lineitem.parquet"))
    )
    n_rows = spark.read.parquet(os.path.join(tmp, "lineitem.parquet")).count()

    def q1_double(s, sf_dir):
        li = load_table(s, sf_dir, "lineitem")
        disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
        cnt = F.count(F.lit(1))
        return (
            li.filter(
                F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp")
            )
            .groupBy("l_returnflag", "l_linestatus")
            .agg(
                F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
                F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
                F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
                F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
                F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
                F.round(F.avg("l_discount"), 4).alias("avg_disc"),
                cnt.alias("count_order"),
            )
        )

    variants = [
        ("decimal_18_6", Q.queries()["q1_pricing_summary"]),
        ("double", q1_double),
    ]
    for label, fn in variants:
        runs = []
        for _ in range(3):
            t0 = time.monotonic()
            fn(spark, tmp).write.format("noop").mode("overwrite").save()
            runs.append(round(time.monotonic() - t0, 2))
        print(json.dumps({"smoke": "q1_decimal", "variant": label,
                          "n_rows": n_rows, "runs": runs,
                          "median_sec": sorted(runs)[1]}), flush=True)


def smoke_shuffle(n: int = 10_000_000) -> None:
    """deterministic_shuffle two-phase global index at 1M/10M rows:
    near-linear wall time, positions verified dense (min=0, max=n-1,
    count(distinct)=n) without collecting the permutation."""
    from cascading_hive_spark.operators.sampling import deterministic_shuffle

    spark = _spark()
    for size in (n // 10, n):
        docs = spark.range(size).select(F.col("id").alias("doc_id")).localCheckpoint()
        t0 = time.monotonic()
        out = deterministic_shuffle(docs, "doc_id", seed=11, bucket_chars=3)
        row = out.agg(
            F.min("global_pos").alias("mn"),
            F.max("global_pos").alias("mx"),
            F.count_distinct("global_pos").alias("nd"),
        ).first()
        wall = round(time.monotonic() - t0, 1)
        assert row["mn"] == 0 and row["mx"] == size - 1 and row["nd"] == size
        print(json.dumps({"smoke": "shuffle", "n_rows": size, "wall_sec": wall,
                          "dense_permutation": True}), flush=True)


def smoke_scd2(n: int = 10_000_000, n_keys: int = 1_000_000) -> None:
    """scd2_compact on a 10M-change feed over 1M keys with one hot key
    carrying ~10% of all changes: the windows shuffle once on the key;
    the hot key serializes one partition sort (O(n_hot log n_hot)) —
    graceful degradation, never quadratic."""
    from cascading_hive_spark.operators.scd import scd2_compact

    spark = _spark()
    for size in (n // 10, n):
        feed = spark.range(size).select(
            F.when(F.col("id") % 10 == 0, F.lit(0))
            .otherwise(F.pmod(F.xxhash64("id"), F.lit(n_keys)))
            .alias("key"),
            F.pmod(F.col("id") * 7, F.lit(1_000_000_000)).alias("eff"),
            (F.pmod(F.xxhash64(F.col("id") + 3), F.lit(4))).cast("string").alias("attr"),
            F.col("id").alias("tb"),
        ).localCheckpoint()
        t0 = time.monotonic()
        hist = scd2_compact(feed, "key", "eff", ["attr"], "tb")
        n_rows = hist.count()
        n_current = hist.filter("is_current").count()
        wall = round(time.monotonic() - t0, 1)
        print(json.dumps({"smoke": "scd2", "n_changes": size,
                          "hot_key_share": 0.1, "history_rows": n_rows,
                          "current_rows": n_current, "wall_sec": wall}), flush=True)


def smoke_catalog10k(n_parts: int = 10_000, rows_per: int = 10) -> None:
    """Catalog-at-scale smoke (VERDICT r7 #6): a 10k-partition table.
    Times partition ENUMERATION (SHOW PARTITIONS surface), the full
    reference filter grammar over the spec list, and a pruned read —
    asserting via input_file_name() that the scan touched ONLY the
    matching directories (partition pruning at 10k partitions, the
    metastore shape a 100 TB daily-partitioned table actually has)."""
    spark = _spark()
    from cascading_hive_spark import catalog as C

    name = "cat10k_smoke"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    df = (
        spark.range(n_parts * rows_per)
        .select(
            F.format_string("p%05d", (F.col("id") % n_parts).cast("int")).alias("p"),
            F.col("id").alias("v"),
        )
    )
    t0 = time.monotonic()
    (
        df.repartition("p")
        .write.mode("overwrite")
        .partitionBy("p")
        .format("parquet")
        .saveAsTable(name)
    )
    t_write = round(time.monotonic() - t0, 1)
    t0 = time.monotonic()
    parts = C.partitions(spark, name)
    t_enum = round(time.monotonic() - t0, 1)
    assert len(parts) == n_parts, len(parts)
    t0 = time.monotonic()
    kept = C.partitions(
        spark, name, filter="(p like 'p0012%' or p = 'p09999') and p <> 'p00121'"
    )
    t_filter = round(time.monotonic() - t0, 1)
    assert len(kept) == 10, len(kept)  # p00120,p00122..p00129 + p09999
    # equality filter pushes INTO the catalog (VERDICT r10 #4): the
    # SHOW PARTITIONS ... PARTITION(...) command materializes only the
    # matching spec — the driver never sees the other 9,999
    t0 = time.monotonic()
    one = C.partitions(spark, name, filter="p = 'p00123'")
    t_eq_pushed = round(time.monotonic() - t0, 2)
    assert one == [{"p": "p00123"}], one
    raw = spark.sql(f"SHOW PARTITIONS {name} PARTITION (`p` = 'p00123')").collect()
    assert len(raw) == 1, raw
    pruned = spark.table(name).filter("p like 'p0012%'")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    t0 = time.monotonic()
    n_rows = pruned.count()
    t_pruned_read = round(time.monotonic() - t0, 2)
    assert n_rows == 10 * rows_per, n_rows
    # the scan touched ONLY the 10 matching directories
    n_files = pruned.select(F.input_file_name()).distinct().count()
    assert n_files == 10, n_files
    print(
        json.dumps(
            {
                "metric": "catalog_10k_partitions_smoke",
                "n_partitions": n_parts,
                "write_sec": t_write,
                "enumerate_sec": t_enum,
                "filter_grammar_sec": t_filter,
                "eq_filter_pushed_sec": t_eq_pushed,
                "pruned_read_sec": t_pruned_read,
                "files_read_pruned": n_files,
            }
        )
    )
    spark.sql(f"DROP TABLE IF EXISTS {name}")


def smoke_catalog1m(n_parts: int = 1_000_000, batch: int = 2_000) -> None:
    """1M-PARTITION metadata smoke (VERDICT r11 #8, extends
    catalog10k): the reference's listPartitionsByFilter contract
    matters at metastore scale, where enumerating every spec into the
    driver is the bottleneck. Partitions are registered purely as
    METADATA (batched ALTER TABLE ADD PARTITION on an empty table —
    no data files), then:

    - the equality-pushed path (SHOW PARTITIONS t PARTITION(...),
      catalog.partitions with an equality filter) must stay
      metadata-speed — it materializes ONE spec regardless of n;
    - the catalog-agnostic fallback (full enumeration + spec-DataFrame
      pruning, the non-equality-grammar path on a non-Hive catalog)
      pays the full n-spec enumeration — measured here to document
      the degradation the Hive-side listPartitionsByFilter path
      (tests/test_hive_metastore.py) exists to avoid.

    Asserts both answers are correct and the pushed path is at least
    5x faster than the fallback at 1M specs."""
    spark = _spark()
    from cascading_hive_spark import catalog as C

    name = "cat1m_smoke"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    # a previously-interrupted run leaves the managed location behind
    # while the fresh in-memory catalog has no table to DROP — clear it
    import shutil

    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    shutil.rmtree(f"{wh}/{name}", ignore_errors=True)
    # registration: per-spec ALTER TABLE ADD costs ~4ms/partition
    # (per-partition analysis + location mkdir), i.e. ~70min at 1M —
    # so build the partition dir tree directly (metadata only, no
    # data files) and bulk-register with RECOVER PARTITIONS, which
    # runs Spark's parallel partition discovery
    loc = f"{wh}/{name}"
    t0 = time.monotonic()
    for i in range(n_parts):
        os.makedirs(f"{loc}/p=p{i:07d}")
    spark.sql(
        f"CREATE TABLE {name} (v BIGINT) USING parquet PARTITIONED BY (p STRING)"
        f" LOCATION '{loc}'"
    )
    spark.sql(f"ALTER TABLE {name} RECOVER PARTITIONS")
    t_register = round(time.monotonic() - t0, 1)
    del batch  # superseded by bulk discovery; kept for CLI compat

    mid = f"p{n_parts // 2:07d}"
    # warm both code paths once (first-SQL JVM/analyzer warm-up would
    # otherwise dominate the sub-second pushed measurement)
    C.partitions(spark, name, filter="p = 'p0000000'")
    C.partitions(spark, name, filter="p like 'p0000000%'")
    t0 = time.monotonic()
    one = C.partitions(spark, name, filter=f"p = '{mid}'")
    t_eq_pushed = round(time.monotonic() - t0, 2)
    assert one == [{"p": mid}], one

    # the fallback path: LIKE forces full enumeration on the
    # in-memory catalog (spec-DataFrame pruning before collect)
    t0 = time.monotonic()
    ten = C.partitions(spark, name, filter=f"p like '{mid[:-1]}%'")
    t_fallback = round(time.monotonic() - t0, 2)
    assert len(ten) == 10, len(ten)

    # pushed stays metadata-speed (flat in n) while fallback pays the
    # full enumeration; the 5x gate is the at-scale contract — at
    # small n both are sub-second fixed overhead, so only require
    # pushed <= fallback there
    factor = 5 if n_parts >= 500_000 else 1
    assert t_eq_pushed * factor <= t_fallback, (t_eq_pushed, t_fallback)
    print(
        json.dumps(
            {
                "metric": "catalog_1m_partitions_smoke",
                "n_partitions": n_parts,
                "register_metadata_sec": t_register,
                "eq_filter_pushed_sec": t_eq_pushed,
                "fallback_enumeration_sec": t_fallback,
                "pushed_speedup": round(t_fallback / max(t_eq_pushed, 0.01), 1),
            }
        )
    )
    spark.sql(f"DROP TABLE IF EXISTS {name}")


def smoke_tempmix(n: int = 50_000_000, n_sources: int = 20) -> None:
    """temperature_mix at 50M rows over a zipf-skewed source mix
    (source s gets ~1/(s+1) share): one tiny count agg + a broadcast
    rate join + one narrow filter — wall must be scan-dominated and
    near-linear in n, and the realized per-source counts must land on
    rate_ppm * n_s within a 4-sigma-equivalent band (the membership
    draw is a fixed hash, not per-run Bernoulli — the binomial sd is
    just the natural tolerance scale for it). Also times a 2x slice
    for the linearity ratio."""
    from cascading_hive_spark.operators.sampling import temperature_mix

    spark = _spark()
    # zipf-ish source: h in [0,1) via hash, source = floor(1/h)-1 capped
    base = spark.range(n).select(
        F.col("id"),
        F.least(
            F.lit(n_sources - 1),
            F.floor(F.lit(1.0) / (
                (F.pmod(F.abs(F.xxhash64("id")), F.lit(1_000_000))
                 .cast("double") + 1.0) / 1_000_000.0) - 1.0
            ).cast("int"),
        ).alias("source"),
    ).localCheckpoint()
    for frac, tag in ((2, "half"), (1, "full")):
        df = base.filter(F.col("id") % frac == 0)
        t0 = time.monotonic()
        out = temperature_mix(df, "id", "source", alpha=0.3)
        kept = out.groupBy("source", "mix_rate_ppm").count().collect()
        wall = round(time.monotonic() - t0, 1)
        n_in = df.count()
        n_kept = sum(r["count"] for r in kept)
        # realized vs expected per source: 4*sd tolerance on the fixed
        # hash draw (deterministic, not per-run Bernoulli; sd is the
        # binomial scale for the band — ADVICE r12 comment alignment)
        counts = {r["source"]: r for r in kept}
        srcs = dict(df.groupBy("source").count().collect())
        for sname, r in counts.items():
            exp = srcs[sname] * r["mix_rate_ppm"] / 1_000_000.0
            sd = (exp * (1 - r["mix_rate_ppm"] / 1_000_000.0)) ** 0.5
            assert abs(r["count"] - exp) <= max(50.0, 4 * sd), (sname, r, exp)
        print(json.dumps({"smoke": "tempmix", "slice": tag, "n": n_in,
                          "kept": n_kept, "wall_sec": wall}), flush=True)


def smoke_leakage_split(n: int = 20_000_000, n_pairs: int = 1_000_000) -> None:
    """leakage_safe_split at 20M docs with 1M synthetic near-dup pairs
    (chains of length 4 -> components of 5 nodes): the component step
    touches only pair members, the join back is an equi-join, and NO
    cluster may straddle splits at any scale. Prints wall + the
    straddle check (must be 0)."""
    from cascading_hive_spark.operators.sampling import leakage_safe_split

    spark = _spark()
    docs = spark.range(n).select(F.col("id")).localCheckpoint()
    # chains: anchor a = 5k, edges (a+i, a+i+1) for i in 0..3
    pairs = (
        spark.range(n_pairs)
        .select(
            (F.floor(F.col("id") / 4) * 5 + F.pmod(F.col("id"), F.lit(4))).alias("id_a"),
        )
        .withColumn("id_b", F.col("id_a") + 1)
        .localCheckpoint()
    )
    t0 = time.monotonic()
    out = leakage_safe_split(docs, "id", pairs, test_permille=100)
    straddle = (
        out.groupBy("cluster_key")
        .agg(F.countDistinct("split").alias("ns"))
        .filter(F.col("ns") > 1)
        .count()
    )
    dist = {r["split"]: r["count"] for r in out.groupBy("split").count().collect()}
    wall = round(time.monotonic() - t0, 1)
    assert straddle == 0, straddle
    assert sum(dist.values()) == n, dist
    print(json.dumps({"smoke": "leakage_split", "n": n, "n_pairs": n_pairs,
                      "straddling_clusters": straddle, "split_counts": dist,
                      "wall_sec": wall}), flush=True)


def smoke_shard(n: int = 20_000_000, budget: int = 100_000) -> None:
    """shard_by_token_budget at 20M docs (synthetic token counts in
    1..100): the two-phase prefix sum must stay bucket-parallel (no
    single-partition corpus window), every shard except the last must
    carry budget +- max_doc tokens, and wall must be shuffle-of-thin-
    rows dominated."""
    from cascading_hive_spark.operators.packing import shard_by_token_budget

    spark = _spark()
    docs = spark.range(n).select(
        F.col("id"),
        (F.pmod(F.abs(F.xxhash64("id")), F.lit(100)) + 1).cast("int").alias("n_tok"),
    ).localCheckpoint()
    t0 = time.monotonic()
    out = shard_by_token_budget(docs, "id", budget=budget, token_col="n_tok")
    stats = out.groupBy("shard").agg(F.sum("n_tokens").alias("tot")).collect()
    wall = round(time.monotonic() - t0, 1)
    n_shards = len(stats)
    tots = sorted((r["shard"], r["tot"]) for r in stats)
    bad = [t for _, t in tots[:-1] if not (budget - 100 < t < budget + 100)]
    assert not bad, bad[:5]
    print(json.dumps({"smoke": "shard", "n": n, "budget": budget,
                      "n_shards": n_shards, "wall_sec": wall}), flush=True)


def smoke_streaming(n: int = 1_000_000, slices: int = 20) -> None:
    """Streaming state-boundedness smoke (VERDICT r7 #5): replay n
    synthetic events spanning 30 days through dedup_stream and
    hourly_counts with BOUNDED watermarks (1h / 2h — not the 365-day
    replay horizon the oracle harness uses), delivered as ``slices``
    time-ordered files with maxFilesPerTrigger=1 so the watermark
    advances BETWEEN micro-batches and actually evicts state (a
    single availableNow batch never would). Records wall time and the
    state-store row count after the final batch — bounded state means
    numRowsTotal ~ one watermark's worth of keys, NOT ~ n."""
    import os
    import shutil
    import tempfile

    spark = _spark()
    base = tempfile.mkdtemp(prefix="stream_smoke_")
    src = os.path.join(base, "events")
    span_s = 30 * 24 * 3600
    per = max(1, n // slices)
    df = spark.range(n).select(
        F.col("id"),
        (F.col("id") % int(n * 0.9)).alias("event_id"),  # ~10% dup ids
        (F.col("id") % 50_000).alias("user_id"),
        F.concat(F.lit("t"), (F.col("id") % 7).cast("string")).alias("event_type"),
        F.timestamp_seconds(
            F.lit(1704067200) + (F.col("id") * F.lit(float(span_s)) / n).cast("long")
        ).alias("ts"),
        ((F.col("id") % 1000) / F.lit(100.0)).alias("value"),
    )
    # sequential appends => file mtimes follow event time, so the file
    # source (which orders by mtime) replays in event-time order
    for i in range(slices):
        (
            df.filter((F.col("id") >= i * per) & (F.col("id") < (i + 1) * per))
            .drop("id")
            .coalesce(1)
            .write.mode("append")
            .parquet(src)
        )
    schema = spark.read.parquet(src).schema

    def run(make_out, watermark_desc):
        from pyspark.sql import functions as FF  # noqa: F401

        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        ckpt = tempfile.mkdtemp(prefix="stream_smoke_ckpt_")
        t0 = time.monotonic()
        q = (
            make_out(stream)
            .writeStream.format("noop")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        wall = round(time.monotonic() - t0, 1)
        ops = (q.lastProgress or {}).get("stateOperators") or []
        state_rows = sum(int(o.get("numRowsTotal", 0)) for o in ops)
        shutil.rmtree(ckpt, ignore_errors=True)
        return wall, state_rows

    from cascading_hive_spark.streaming.jobs import dedup_stream, hourly_counts

    wall_d, state_d = run(lambda s: dedup_stream(s, watermark="1 hour"), "1h")
    print(
        json.dumps(
            {
                "metric": "streaming_dedup_smoke",
                "n_events": n,
                "slices": slices,
                "watermark": "1 hour",
                "wall_sec": wall_d,
                "state_rows_final": state_d,
            }
        )
    )
    wall_h, state_h = run(lambda s: hourly_counts(s, watermark="2 hours"), "2h")
    print(
        json.dumps(
            {
                "metric": "streaming_hourly_smoke",
                "n_events": n,
                "slices": slices,
                "watermark": "2 hours",
                "wall_sec": wall_h,
                "state_rows_final": state_h,
            }
        )
    )
    shutil.rmtree(base, ignore_errors=True)


def smoke_span(n: int = 1_000_000) -> None:
    """duplicate_span_stats at corpus scale: the dup-gram join and
    island merge must stay near-linear (thin digest shuffles; spans
    are a small fraction of positions at a realistic vocab)."""
    from cascading_hive_spark.operators.dedup import duplicate_span_stats
    from cascading_hive_spark.sources.synthetic import synthetic_documents

    spark = _spark()
    for size in (n // 10, n):
        docs = synthetic_documents(
            spark, n=size, dup_rate=0.02, n_vocab=5000
        ).localCheckpoint()
        t0 = time.monotonic()
        out = duplicate_span_stats(docs, "doc_id", "text")
        row = out.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((F.col("dup_tokens") > 0).cast("long")).alias("docs_hit"),
        ).first()
        wall = round(time.monotonic() - t0, 1)
        print(json.dumps({"smoke": "span", "n_docs": size, "wall_sec": wall,
                          "docs_with_dup_spans": row["docs_hit"],
                          "planted_dups": int(size * 0.02)}), flush=True)
        # the scrub twin (remove_duplicate_spans): same island pipeline
        # + per-doc interval collect + one narrow array pass — must
        # track the stats cost, and kept+dup must tile every doc
        from cascading_hive_spark.operators.dedup import remove_duplicate_spans

        t0 = time.monotonic()
        scrub = remove_duplicate_spans(docs, "doc_id", "text")
        srow = scrub.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((F.col("kept_tokens") < F.col("n_tokens")).cast("long")
                  ).alias("docs_scrubbed"),
            F.sum("kept_tokens").alias("kept"),
            F.sum("n_tokens").alias("total"),
        ).first()
        swall = round(time.monotonic() - t0, 1)
        assert srow["n"] == row["n"]
        assert srow["docs_scrubbed"] == row["docs_hit"]
        print(json.dumps({"smoke": "span_scrub", "n_docs": size,
                          "wall_sec": swall,
                          "docs_scrubbed": srow["docs_scrubbed"],
                          "kept_token_frac": round(srow["kept"] / srow["total"], 4),
                          }), flush=True)


def smoke_charspan(n: int = 1_000_000) -> None:
    """Char-level exact-substring dedup at corpus scale (r14): stride
    amortizes the per-char window volume; digest-only shuffles keep
    the 10x step near-linear, and the scrub twin must track the stats
    cost while kept+dup tiles every doc."""
    from cascading_hive_spark.operators.dedup import (
        duplicate_charspan_stats,
        remove_duplicate_charspans,
    )
    from cascading_hive_spark.sources.synthetic import synthetic_documents

    spark = _spark()
    for size in (n // 10, n):
        docs = synthetic_documents(
            spark, n=size, dup_rate=0.02, n_vocab=5000
        ).localCheckpoint()
        t0 = time.monotonic()
        out = duplicate_charspan_stats(docs, "doc_id", "text", stride=4)
        row = out.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((F.col("dup_chars") > 0).cast("long")).alias("docs_hit"),
        ).first()
        wall = round(time.monotonic() - t0, 1)
        print(json.dumps({"smoke": "charspan", "n_docs": size,
                          "wall_sec": wall,
                          "docs_with_dup_spans": row["docs_hit"],
                          "planted_dups": int(size * 0.02)}), flush=True)
        t0 = time.monotonic()
        scrub = remove_duplicate_charspans(docs, "doc_id", "text", stride=4)
        srow = scrub.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((F.col("kept_chars") < F.col("n_chars")).cast("long")
                  ).alias("docs_scrubbed"),
            F.sum("kept_chars").alias("kept"),
            F.sum("n_chars").alias("total"),
        ).first()
        swall = round(time.monotonic() - t0, 1)
        assert srow["n"] == row["n"]
        print(json.dumps({"smoke": "charspan_scrub", "n_docs": size,
                          "wall_sec": swall,
                          "docs_scrubbed": srow["docs_scrubbed"],
                          "kept_char_frac": round(srow["kept"] / srow["total"], 4),
                          }), flush=True)


def smoke_lang_id(n: int = 1_000_000) -> None:
    """Learned lang-id scoring at corpus scale (r14): all five frozen
    models in ONE map-only fold — throughput must track the single-
    model quality-classifier scan, not 5x it."""
    from cascading_hive_spark.operators.text import lang_id_scores
    from cascading_hive_spark.queries import _LID_MODELS_V1
    from cascading_hive_spark.sources.synthetic import synthetic_documents

    spark = _spark()
    for size in (n // 10, n):
        docs = synthetic_documents(spark, n=size, n_vocab=5000).localCheckpoint()
        t0 = time.monotonic()
        # portable=True: _LID_MODELS_V1 was fit with the md5 featurizer,
        # and a weight table is tied to its featurizer (r14 ADVICE) —
        # scoring through xxhash64 buckets would make n_langs noise.
        out = lang_id_scores(docs, "doc_id", "text", _LID_MODELS_V1,
                             portable=True)
        row = out.agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct("pred_lang").alias("n_langs"),
        ).first()
        wall = round(time.monotonic() - t0, 1)
        print(json.dumps({"smoke": "lang_id", "n_docs": size,
                          "wall_sec": wall, "n_rows": row["n"],
                          "n_langs": row["n_langs"]}), flush=True)


def smoke_image_decode(n: int = 200_000) -> None:
    """Encoded-image decode -> dHash throughput (r14): PNG (zlib +
    filter reconstruction) and baseline JPEG (Huffman + IDCT) per-blob
    decode cost at corpus scale, Arrow-batched over spread partitions;
    dedup groups <= planted classes (dHash is perceptual — classes
    with identical 64-bit comparison patterns legitimately collide)."""
    from cascading_hive_spark.operators.dedup import spread
    from cascading_hive_spark.operators.multimodal import (
        dhash_encoded_images,
        synth_jpeg_batch,
        synth_png_batch,
    )

    spark = _spark()
    ids = spark.range(n).select(F.col("id"))
    for fmt, synth in (("png", synth_png_batch), ("jpeg", synth_jpeg_batch)):
        def gen(it, _synth=synth):
            import pandas as pd

            for pdf in it:
                yield pd.DataFrame(
                    {"id": pdf["id"],
                     "payload": _synth(pdf["id"].tolist())}
                )

        payloads = spread(ids).mapInPandas(gen, "id long, payload binary")
        t0 = time.monotonic()
        row = (
            dhash_encoded_images(payloads)
            .agg(F.count(F.lit(1)).alias("n"),
                 F.count_distinct("dhash").alias("groups"))
            .first()
        )
        wall = round(time.monotonic() - t0, 1)
        print(json.dumps({"smoke": f"image_decode_{fmt}", "n_images": n,
                          "wall_sec": wall, "n_rows": row["n"],
                          "dedup_groups": row["groups"],
                          "imgs_per_sec": int(n / wall) if wall else None}),
              flush=True)


def smoke_bloom(n_bench: int = 1_000_000, n_probe: int = 10_000_000) -> None:
    """Bloom decontamination at scale (r14): build over 1M benchmark
    items (one bit_or groupBy; the filter is m_bits/8 bytes), probe
    10M corpus items via the BROADCAST-join probe (a 2^24-bit filter
    is 266k words — past the plan-literal regime, which is for
    <= ~10^4-word benchmark filters; see bloom_probe_broadcast). Laws
    asserted in-smoke: zero false negatives on the planted overlap,
    false-positive rate within ~3x of the analytic (1-e^{-kn/m})^k."""
    import math

    from cascading_hive_spark.operators.sketches import (
        bloom_build,
        bloom_probe_broadcast,
    )

    spark = _spark()
    m_bits, k = 16_777_216, 3  # 2 MB filter for 1M items -> fp ~ 0.4%
    bench = spark.range(n_bench).select(
        F.concat(F.lit("bench-"), F.col("id")).alias("g")
    )
    t0 = time.monotonic()
    bloom = bloom_build(bench, "g", m_bits, k, portable=False).localCheckpoint()
    build_wall = round(time.monotonic() - t0, 1)
    # probe set: 1% planted overlap, 99% disjoint
    probe = spark.range(n_probe).select(
        F.when(
            F.col("id") % 100 == 0,
            F.concat(F.lit("bench-"), (F.col("id") / 100).cast("long")),
        )
        .otherwise(F.concat(F.lit("probe-"), F.col("id")))
        .alias("g"),
        (F.col("id") % 100 == 0).alias("planted"),
    )
    t0 = time.monotonic()
    row = bloom_probe_broadcast(
        probe, "g", bloom, m_bits, k, portable=False, out_col="h"
    ).agg(
        F.sum(F.col("planted").cast("long")).alias("n_planted"),
        F.sum((F.col("planted") & F.col("h")).cast("long")).alias("tp"),
        F.sum((~F.col("planted") & F.col("h")).cast("long")).alias("fp"),
        F.count(F.lit(1)).alias("n"),
    ).first()
    probe_wall = round(time.monotonic() - t0, 1)
    assert row["tp"] == row["n_planted"], "false negative!"
    fp_rate = row["fp"] / (row["n"] - row["n_planted"])
    analytic = (1.0 - math.exp(-k * n_bench / m_bits)) ** k
    assert fp_rate <= 3 * analytic + 1e-6, (fp_rate, analytic)
    print(json.dumps({"smoke": "bloom", "n_bench": n_bench,
                      "n_probe": n_probe, "build_sec": build_wall,
                      "probe_sec": probe_wall,
                      "fp_rate": round(fp_rate, 6),
                      "fp_analytic": round(analytic, 6)}), flush=True)
    # streaming big-filter leg (r15): the Arrow-batched numpy probe
    # that keeps the megabit stream gate stateless. Python md5 per
    # position is the cost model — but a non-contaminated gram exits
    # after its FIRST miss (p(continue) ~ sqrt3(fp)), so expected
    # hashes/gram stay ~1.1; throughput is docs/s with ~50 grams/doc.
    from cascading_hive_spark.operators.sketches import (
        bloom_dense_words,
        bloom_flag_grams_pandas,
    )

    n_docs, gpd = 100_000, 50
    m2 = 2_097_152
    bench2 = spark.range(50_000).select(
        F.concat(F.lit("b-"), F.col("id")).alias("g")
    )
    words = bloom_dense_words(bloom_build(bench2, "g", m2, k), m2)
    grams = F.transform(
        F.sequence(F.lit(0), F.lit(gpd - 1)),
        lambda i: F.when(
            (F.col("id") % 100 == 0) & (i == 0),
            F.concat(F.lit("b-"), F.pmod(F.col("id"), F.lit(50_000))),
        ).otherwise(
            F.concat(F.lit("p-"), F.col("id") * gpd + i)
        ),
    )
    docs = spark.range(n_docs).select(
        F.col("id"), grams.alias("grams"), (F.col("id") % 100 == 0).alias("planted")
    ).localCheckpoint()
    flag = bloom_flag_grams_pandas(words, m2, k)
    t0 = time.monotonic()
    row = docs.select(
        "planted", flag(F.col("grams")).alias("nf")
    ).agg(
        F.sum(F.col("planted").cast("long")).alias("n_planted"),
        F.sum((F.col("planted") & (F.col("nf") > 0)).cast("long")).alias("tp"),
        F.count(F.lit(1)).alias("n"),
    ).first()
    wall = round(time.monotonic() - t0, 1)
    assert row["tp"] == row["n_planted"], "false negative in pandas probe!"
    print(json.dumps({"smoke": "bloom_stream_bigfilter",
                      "n_docs": n_docs, "grams_per_doc": gpd,
                      "probe_sec": wall,
                      "docs_per_sec": round(n_docs / max(wall, 0.1))}),
          flush=True)


def smoke_bpe(n: int = 1_000_000, n_merges: int = 10) -> None:
    """bpe_train cost model: after the initial wordcount collapses the
    corpus to its vocabulary, per-merge cost must track VOCAB size,
    not corpus size — 10x the docs over the same vocab should pay
    ~the wordcount delta only."""
    from cascading_hive_spark.operators.corpus import bpe_train
    from cascading_hive_spark.sources.synthetic import synthetic_documents

    spark = _spark()
    for size in (n // 10, n):
        docs = synthetic_documents(spark, n=size, n_vocab=5000).localCheckpoint()
        t0 = time.monotonic()
        merges = bpe_train(docs, "text", n_merges=n_merges)
        wall = round(time.monotonic() - t0, 1)
        print(json.dumps({"smoke": "bpe", "n_docs": size, "n_merges": len(merges),
                          "wall_sec": wall,
                          "top_merge": list(merges[0][1:3]) if merges else None}), flush=True)


def smoke_pq(n: int = 1_000_000) -> None:
    """PQ at corpus scale: codebook train + encode wall, then ADC
    search latency over the compressed codes (the scan the codes
    exist for) and re-rank recall vs exact brute force."""
    from cascading_hive_spark.operators.similarity import (
        pq_encode, pq_search, pq_search_rerank, pq_train,
    )
    from cascading_hive_spark.sources.synthetic import synthetic_embeddings

    spark = _spark()
    for size in (n // 10, n):
        emb = synthetic_embeddings(spark, n=size, dim=64, n_clusters=64).localCheckpoint()
        t0 = time.monotonic()
        cent = pq_train(emb, m=8, k=256)
        rows = cent.collect()
        train_wall = round(time.monotonic() - t0, 1)
        t0 = time.monotonic()
        codes = pq_encode(emb, cent, m=8).localCheckpoint()
        encode_wall = round(time.monotonic() - t0, 1)
        q = emb.filter(F.col("vec_id") == 3).select("embedding").first()["embedding"]
        qv = [float(x) for x in q]
        t0 = time.monotonic()
        pq_search(codes, rows, qv, m=8, topk=10).collect()
        adc_wall = round(time.monotonic() - t0, 1)
        qlit = F.lit(qv).cast("array<double>")
        truth = {r.vec_id for r in (
            emb.select("vec_id", F.aggregate(
                F.zip_with("embedding", qlit, lambda a, b: (a - b) * (a - b)),
                F.lit(0.0), lambda acc, x: acc + x).alias("d"))
            .orderBy("d").limit(10).collect())}
        # shortlist scales with corpus size: within a dense cluster ADC
        # ranks near-randomly (quantization noise floor), so recall@10
        # ~ 1-(1-shortlist/cluster)^10 — a fixed 500 at 1M vectors
        # (15.6k-member clusters) measures that formula, not the index
        shortlist = max(500, size // 200)
        got = {r.vec_id for r in pq_search_rerank(
            codes, emb, rows, qv, m=8, topk=10, shortlist=shortlist).collect()}
        print(json.dumps({"smoke": "pq", "n_vectors": size,
                          "train_sec": train_wall, "encode_sec": encode_wall,
                          "adc_search_sec": adc_wall, "shortlist": shortlist,
                          "rerank_recall_at_10": len(got & truth) / 10}), flush=True)


def smoke_sessions(n: int = 10_000_000) -> None:
    """Native session_window (batch) vs the gaps-and-islands window
    cascade at scale — same sessions, different plans: the native
    operator is ONE session-merging aggregate over the key shuffle;
    the cascade pays two window passes (lag flag + running sum) plus
    the final aggregate on the same shuffle. Equality of session
    counts is asserted; the wall ratio is the point."""
    from pyspark.sql import Window

    spark = _spark()
    span_s = 30 * 24 * 3600
    ev = spark.range(n).select(
        F.col("id").alias("event_id"),
        (F.col("id") % 100_000).alias("user_id"),
        F.timestamp_seconds(
            F.lit(1704067200)
            + (F.xxhash64(F.col("id")) % span_s + span_s) % span_s
        ).alias("ts"),
    ).localCheckpoint()

    t0 = time.monotonic()
    native = (
        ev.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    n_native = native.count()
    wall_native = round(time.monotonic() - t0, 1)

    t0 = time.monotonic()
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = ev.withColumn(
        "new_session",
        F.when(F.lag("ts").over(w).isNull(), 1)
        .when(
            F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
            > 1_800_000_000,
            1,
        )
        .otherwise(0),
    )
    cascade = (
        flagged.withColumn(
            "sid", F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0))
        )
        .groupBy("user_id", "sid")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    n_cascade = cascade.count()
    wall_cascade = round(time.monotonic() - t0, 1)
    assert n_native == n_cascade, (n_native, n_cascade)
    print(json.dumps({
        "smoke": "sessions", "n_events": n,
        "n_sessions": n_native,
        "native_session_window_sec": wall_native,
        "gaps_and_islands_sec": wall_cascade,
    }), flush=True)


def smoke_decontaminate(n: int = 1_000_000) -> None:
    """Decontamination at corpus scale, broadcast vs shuffle strategy
    (text.decontaminate): n training docs vs a 1%-of-n eval corpus
    drawn from the SAME generator (so real 8-gram hits exist via the
    planted dup mechanism). The broadcast path ships distinct eval
    grams to every task; the shuffle path moves 16-byte digests
    through one hash join — the beyond-broadcast scale claim this
    smoke backs with numbers (result equality asserted)."""
    from cascading_hive_spark.operators.text import decontaminate
    from cascading_hive_spark.sources.synthetic import synthetic_documents

    spark = _spark()
    docs = synthetic_documents(
        spark, n=n, dup_rate=0.05, n_vocab=5000
    ).localCheckpoint()
    train = docs.filter(F.col("doc_id") % 100 != 0)
    eval_df = docs.filter(F.col("doc_id") % 100 == 0)
    walls = {}
    outs = {}
    for strategy in ("broadcast", "shuffle"):
        t0 = time.monotonic()
        out = decontaminate(train, eval_df, "doc_id", "text", n=8, strategy=strategy)
        n_cont = out.filter("contaminated").count()
        walls[strategy] = round(time.monotonic() - t0, 1)
        outs[strategy] = n_cont
    assert outs["broadcast"] == outs["shuffle"], outs
    print(json.dumps({
        "smoke": "decontaminate", "n_train": train.count(),
        "n_eval": eval_df.count(), "n_contaminated": outs["broadcast"],
        "broadcast_sec": walls["broadcast"], "shuffle_sec": walls["shuffle"],
    }), flush=True)


def smoke_perplexity(n: int = 1_000_000) -> None:
    """lm_perplexity_buckets at corpus scale: LM trained on a 3% slice
    (reference corpora are small by definition), all n docs scored.
    The scoring join shuffles on the bigram key with vocabulary-sized
    count tables; wall must stay near-linear in n and the tercile
    split must cover scored docs roughly evenly."""
    import time as _t

    from cascading_hive_spark.operators.corpus import lm_perplexity_buckets
    from cascading_hive_spark.sources.synthetic import synthetic_documents

    spark = _spark()
    for size in (n // 10, n):
        # large-vocab synthetic tokens are "w123"-shaped; the LM's
        # [a-z]+ tokenizer would collapse them all to "w" (degenerate
        # all-tie NLLs) — map digits to letters so the 5000-word
        # vocabulary survives tokenization
        docs = synthetic_documents(
            spark, n=size, dup_rate=0.0, n_vocab=5000
        ).withColumn(
            "text", F.translate("text", "0123456789", "abcdefghij")
        ).localCheckpoint()
        train = docs.filter(F.col("doc_id") % 33 == 0)
        t0 = _t.monotonic()
        out = lm_perplexity_buckets(train, docs, "doc_id", "text")
        counts = {r["bucket"]: r["n"] for r in out.groupBy("bucket").agg(
            F.count(F.lit(1)).alias("n")).collect()}
        wall = round(_t.monotonic() - t0, 1)
        n_scored = sum(v for k, v in counts.items() if k != "unscored")
        assert sum(counts.values()) == size, counts
        # with the digit->letter fix above the NLLs are non-degenerate
        # and the split is near-exact thirds (measured 33.3/33.5/33.2)
        for b in ("head", "middle", "tail"):
            assert counts.get(b, 0) >= n_scored * 0.25, counts
        print(json.dumps({
            "smoke": "perplexity", "n_docs": size, "wall_sec": wall,
            "buckets": counts,
        }), flush=True)


def smoke_dsir(n: int = 1_000_000) -> None:
    """DSIR end-to-end at corpus scale: weight estimation is two
    map-side-combined explode+groupBy passes to 128 rows (bounded
    collect), scoring is the classifier's map-only micro-unit fold
    (xxhash64 scale path here — the md5 portable leg pays the oracle
    tax, measured separately in the classifier smoke), selection is
    one TakeOrderedAndProject top-k. Wall must stay near-linear
    between the half and full slice."""
    import time as _t

    from cascading_hive_spark.operators.corpus import (
        dsir_gumbel_topk,
        dsir_score,
        dsir_weights,
    )
    from cascading_hive_spark.sources.synthetic import synthetic_documents

    spark = _spark()
    for size in (n // 2, n):
        docs = synthetic_documents(
            spark, n=size, dup_rate=0.0, n_vocab=5000
        ).localCheckpoint()
        target = docs.filter(F.col("doc_id") % 10 == 0)
        t0 = _t.monotonic()
        w = dsir_weights(docs, target, "text", portable=False)
        w_wall = round(_t.monotonic() - t0, 1)
        t0 = _t.monotonic()
        picked = dsir_gumbel_topk(
            dsir_score(docs, "doc_id", "text", w, portable=False),
            "doc_id",
            k=1000,
        ).collect()
        sel_wall = round(_t.monotonic() - t0, 1)
        assert len(picked) == 1000
        print(json.dumps({
            "smoke": "dsir", "n_docs": size,
            "weights_wall_sec": w_wall, "score_select_wall_sec": sel_wall,
        }), flush=True)


def smoke_domain_cap(n_hot: int = 10_000_000, n_keys: int = 100_000) -> None:
    """cap_per_key under planted domain skew: ONE hot key holding
    n_hot rows next to n_keys normal keys (100 rows each), cap=50.
    The naive per-key ranking window would funnel the hot key through
    one task sorting n_hot rows; the two-phase prefix drops its
    past-cap buckets before any ranking, so the hot key's window
    input is ~cap + n_hot/256 and wall must stay in the same band as
    the no-skew half slice. Exactness asserted: hot key keeps exactly
    cap, every normal key exactly cap, nothing else."""
    import time as _t

    from cascading_hive_spark.operators.sampling import cap_per_key

    spark = _spark()
    normal = spark.range(n_keys * 100).select(
        F.col("id"),
        F.concat(F.lit("k"), (F.col("id") % n_keys).cast("string")).alias("domain"),
    )
    hot = spark.range(n_keys * 100, n_keys * 100 + n_hot).select(
        "id", F.lit("hotdomain").alias("domain")
    )
    for tag, df in (("no_skew", normal), ("skewed", normal.unionByName(hot))):
        df = df.localCheckpoint()
        t0 = _t.monotonic()
        out = cap_per_key(df, "domain", "id", cap=50)
        agg = out.groupBy("domain").agg(F.count(F.lit(1)).alias("c"))
        bad = agg.filter(F.col("c") != 50).count()
        total = out.count()
        wall = round(_t.monotonic() - t0, 1)
        assert bad == 0, f"{bad} keys not at cap"
        expect = n_keys * 50 + (50 if tag == "skewed" else 0)
        assert total == expect, (total, expect)
        print(json.dumps({
            "smoke": "domain_cap", "variant": tag,
            "rows": df.count(), "kept": total, "wall_sec": wall,
        }), flush=True)


def smoke_curation_scan(n: int = 1_000_000) -> None:
    """The full per-document curation SCAN fused into one map-only
    pass — blocklist match, hashing-trick embedding, duplicate-line
    scrub length, learned-classifier margin — the way a production
    pipeline actually runs them (one read, many derived columns, no
    shuffle). Wall must stay near-linear between the half and full
    slice; the fused pass must not cost much more than the classifier
    alone (column pipelining, one scan)."""
    import time as _t

    from cascading_hive_spark.operators.text import (
        blocklist_matches,  # noqa: F401 — fused manually below
        dedupe_lines,
        hash_embed_docs,
        normalize_obfuscation,
        quality_classifier_score,
    )
    from cascading_hive_spark.queries import _QC_BIAS_V1, _QC_WEIGHTS_V1
    from cascading_hive_spark.sources.synthetic import synthetic_documents

    spark = _spark()
    terms = F.array(F.lit("join"), F.lit("hash"), F.lit("scan"))
    for size in (n // 2, n):
        docs = synthetic_documents(
            spark, n=size, dup_rate=0.0, n_vocab=5000
        ).localCheckpoint()
        t0 = _t.monotonic()
        toks = F.filter(
            F.split(normalize_obfuscation(F.col("text")), r"[^a-z]+"),
            lambda x: x != F.lit(""),
        )
        scored = quality_classifier_score(
            docs, "doc_id", "text", _QC_WEIGHTS_V1, _QC_BIAS_V1,
            portable=False, widen=False,
        )
        embedded = hash_embed_docs(
            docs, "doc_id", "text", dim=16, portable=False
        )
        fused = (
            docs.select(
                "doc_id",
                F.size(F.filter(toks, lambda w: F.array_contains(terms, w)))
                .alias("n_blocked"),
                F.length(dedupe_lines(F.col("text"))).alias("dedup_len"),
            )
            .join(embedded, "doc_id")
            .join(scored.select("doc_id", "margin"), "doc_id")
        )
        fused.write.format("noop").mode("overwrite").save()
        wall = round(_t.monotonic() - t0, 1)
        print(json.dumps({
            "smoke": "curation_scan", "n_docs": size, "wall_sec": wall,
        }), flush=True)


def smoke_funnel(n: int = 1_000_000) -> None:
    """The FOUR-STAGE curation funnel composition at corpus scale
    (r15 VERDICT #5): Gopher structural rules -> keep-top-language
    (modal lang among survivors, a <=5-row aggregate broadcast back)
    -> learned classifier gate -> per-domain cap, composed exactly as
    pipeline_curation_funnel does it — flags materialized ONCE via
    localCheckpoint so the three consumers (modal aggregate, cap
    stage, report) never replay the md5 scan folds through lineage.
    Wall must stay near-linear between the 100k and 1M slices and the
    per-stage survivor FRACTIONS must be stable (the gates are
    per-document, so attrition is scale-free by construction)."""
    import time as _t

    from cascading_hive_spark.operators.corpus import gopher_quality_rules
    from cascading_hive_spark.operators.sampling import cap_per_key
    from cascading_hive_spark.operators.text import (
        lang_id_scores,
        quality_classifier_score,
    )
    from cascading_hive_spark.queries import (
        _LID_MODELS_V1,
        _QC_BIAS_V1,
        _QC_WEIGHTS_V1,
    )
    from cascading_hive_spark.sources.synthetic import synthetic_documents

    spark = _spark()
    for size in (n // 10, n):
        docs = synthetic_documents(
            spark, n=size, dup_rate=0.0, n_vocab=5000
        ).localCheckpoint()
        t0 = _t.monotonic()
        g = gopher_quality_rules(docs, "doc_id", "text").select(
            "doc_id",
            (
                F.col("word_count_ok")
                & F.col("word_len_ok")
                & F.col("symbol_ok")
                & F.col("bullet_ok")
                & F.col("ellipsis_ok")
            ).alias("g"),
        )
        lid = lang_id_scores(
            docs, "doc_id", "text", _LID_MODELS_V1, n=3, seed="lid14|",
            widen=False,
        ).select("doc_id", "pred_lang")
        c = quality_classifier_score(
            docs, "doc_id", "text", _QC_WEIGHTS_V1, _QC_BIAS_V1
        ).select("doc_id", F.col("quality_pass").alias("c"))
        flags = (
            docs.select("doc_id", "source")
            .join(g, "doc_id")
            .join(lid, "doc_id")
            .join(c, "doc_id")
            .localCheckpoint()
        )
        top = (
            flags.filter(F.col("g"))
            .groupBy("pred_lang")
            .agg(F.count(F.lit(1)).alias("_cnt"))
            .agg(
                F.min_by(
                    "pred_lang",
                    F.struct(
                        (-F.col("_cnt")).alias("nc"), F.col("pred_lang")
                    ),
                ).alias("_top")
            )
        )
        flags = flags.join(F.broadcast(top)).withColumn(
            "l", F.col("pred_lang") == F.col("_top")
        )
        s2 = flags.filter(F.col("g") & F.col("l") & F.col("c")).select(
            "doc_id",
            F.concat(
                F.col("source"),
                F.lit("-"),
                F.pmod(F.col("doc_id"), F.lit(3)).cast("string"),
            ).alias("domain"),
        )
        capped = cap_per_key(s2, "domain", "doc_id", cap=max(4, size // 100))
        row = (
            flags.join(
                capped.select("doc_id", F.lit(1).alias("_k")),
                "doc_id",
                "left",
            )
            .agg(
                F.count(F.lit(1)).alias("n_all"),
                F.sum(F.col("g").cast("long")).alias("n_gopher"),
                F.sum((F.col("g") & F.col("l")).cast("long")).alias("n_lang"),
                F.sum(
                    (F.col("g") & F.col("l") & F.col("c")).cast("long")
                ).alias("n_classifier"),
                F.sum(F.coalesce(F.col("_k"), F.lit(0))).alias("n_cap"),
            )
            .first()
        )
        wall = round(_t.monotonic() - t0, 1)
        assert row["n_all"] == size, row
        print(json.dumps({
            "smoke": "funnel", "n_docs": size, "wall_sec": wall,
            "n_gopher": row["n_gopher"], "n_lang": row["n_lang"],
            "n_classifier": row["n_classifier"], "n_cap": row["n_cap"],
        }), flush=True)


def smoke_knn_density(n: int = 100_000, dim: int = 16) -> None:
    """knn_density_blocked over a FULL corpus (every vector is a
    query — the data-pruning shape, much heavier than an n-query ANN
    join): per-query candidate work is nprobe * avg_cell, so with
    n_cells grown proportionally to n (constant cell size ~200) total
    work is O(n * nprobe * cell) — the wall between the half and full
    slice must stay near-linear (a flat n_cells would make it
    quadratic). Sanity: one density row per vector, densities in
    [-1, 1], blocked never exceeds the exact density on a 2k probe
    slice (candidate subset property)."""
    from cascading_hive_spark.operators.similarity import (
        ivf_build,
        knn_density,
        knn_density_blocked,
    )
    from cascading_hive_spark.sources.synthetic import synthetic_embeddings

    spark = _spark()
    for n_slice, n_cells in ((n // 2, max(n // 400, 8)), (n, max(n // 200, 8))):
        emb = synthetic_embeddings(
            spark, n=n_slice, dim=dim, n_clusters=64
        ).localCheckpoint()
        t0 = time.monotonic()
        assignments, centroids = ivf_build(emb, n_cells=n_cells)
        assignments = assignments.localCheckpoint()
        build_wall = round(time.monotonic() - t0, 1)
        t0 = time.monotonic()
        out = knn_density_blocked(
            assignments, centroids, k=10, nprobe=4
        ).localCheckpoint()
        stats = out.agg(
            F.count(F.lit(1)).alias("rows"),
            F.min("knn_density").alias("dmin"),
            F.max("knn_density").alias("dmax"),
        ).first()
        wall = round(time.monotonic() - t0, 1)
        assert stats["rows"] == n_slice, stats
        assert -1.0 <= stats["dmin"] <= stats["dmax"] <= 1.0, stats
        print(json.dumps({
            "smoke": "knn_density", "n": n_slice, "n_cells": n_cells,
            "build_wall_sec": build_wall, "density_wall_sec": wall,
        }), flush=True)
    # subset property on a bounded slice: blocked candidates are a
    # subset of brute force, so blocked density never exceeds exact
    probe = emb.filter(F.col("vec_id") < 2_000).localCheckpoint()
    exact = {r.vec_id: r.knn_density for r in knn_density(probe, k=10).collect()}
    a2, c2 = ivf_build(probe, n_cells=8)
    blocked = knn_density_blocked(a2, c2, k=10, nprobe=4).collect()
    over = [r.vec_id for r in blocked if r.knn_density > exact[r.vec_id] + 1e-9]
    assert not over, over[:5]
    print(json.dumps({"smoke": "knn_density", "stage": "subset_check",
                      "n": 2000, "violations": 0}), flush=True)


def smoke_auc(n: int = 50_000_000) -> None:
    """binary_auc at 50M rows: the corpus pass is one map-side-
    combined groupBy(micro-score); midranks run over the bounded
    counts table via the two-phase bucketed prefix. Wall must be
    near-linear in n. Construction: score = permille hash in [0,1);
    y = 1 when a SECOND independent hash lands under score (so
    P(y=1|s) = s with s ~ U[0,1)) — the analytic AUC for that model
    is P(S+ > S-) with densities 2s / 2(1-s):
    4*int_0^1 a(a - a^2/2) da = 5/6; the realized value must land
    within the CLT band."""
    import time as _t

    from cascading_hive_spark.operators.relational import binary_auc

    spark = _spark()
    base = spark.range(n).select(
        (F.pmod(F.xxhash64("id", F.lit(1)), F.lit(1000)).cast("double") / 1000.0
         ).alias("score"),
        F.col("id"),
    ).select(
        "score",
        (
            F.pmod(F.xxhash64("id", F.lit(2)), F.lit(1000)).cast("double") / 1000.0
            < F.col("score")
        ).cast("int").alias("y"),
    ).localCheckpoint()
    for frac, tag in ((10, "tenth"), (1, "full")):
        df = base.sample(1.0) if frac == 1 else base.limit(n // frac)
        t0 = _t.monotonic()
        row = binary_auc(df, "score", "y").first()
        wall = round(_t.monotonic() - t0, 1)
        assert abs(row["auc"] - 5.0 / 6.0) < 0.01, row
        print(json.dumps({
            "smoke": "auc", "slice": tag, "n": row["n_pos"] + row["n_neg"],
            "auc": row["auc"], "wall_sec": wall,
        }), flush=True)


def smoke_quality_classifier(n: int = 1_000_000) -> None:
    """Learned quality-classifier scoring at corpus scale (VERDICT
    r12 #1): the frozen 128-bucket weight table is a plan literal, so
    the scoring pass is MAP-ONLY — wall must be scan-dominated and
    near-linear in n (the fold is O(n_grams) decimal adds per doc).
    Also times a bounded 50k-doc fit (featurize + driver IRLS)."""
    import time as _t

    from cascading_hive_spark.operators.text import (
        quality_classifier_fit,
        quality_classifier_score,
    )
    from cascading_hive_spark.queries import _QC_BIAS_V1, _QC_WEIGHTS_V1
    from cascading_hive_spark.sources.synthetic import synthetic_documents

    spark = _spark()
    for size in (n // 10, n):
        docs = synthetic_documents(
            spark, n=size, dup_rate=0.0, n_vocab=5000
        ).localCheckpoint()
        t0 = _t.monotonic()
        out = quality_classifier_score(
            docs, "doc_id", "text", _QC_WEIGHTS_V1, _QC_BIAS_V1
        )
        row = out.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("quality_pass").cast("long")).alias("n_pass"),
            F.sum(F.isnull("margin").cast("long")).alias("n_null"),
        ).first()
        wall = round(_t.monotonic() - t0, 1)
        assert row["n"] == size and row["n_null"] == 0, row
        # the xxhash64 scale path: same machinery, no md5 oracle tax
        t0 = _t.monotonic()
        quality_classifier_score(
            docs, "doc_id", "text", _QC_WEIGHTS_V1, _QC_BIAS_V1,
            portable=False,
        ).write.format("noop").mode("overwrite").save()
        xx_wall = round(_t.monotonic() - t0, 1)
        print(json.dumps({
            "smoke": "quality_classifier", "n_docs": size,
            "score_wall_sec": wall, "xxhash_score_wall_sec": xx_wall,
            "n_pass": row["n_pass"],
        }), flush=True)
    # bounded fit leg: 50k labeled docs through featurize + IRLS
    # (the collect provenance path, still ceiling-guarded)
    sample = docs.filter(F.col("doc_id") % (n // 50_000) == 0).withColumn(
        "y", (F.length("text") % 2 == 0).cast("int")
    )
    t0 = _t.monotonic()
    w, b = quality_classifier_fit(
        sample, "doc_id", "text", "y", method="collect"
    )
    print(json.dumps({
        "smoke": "quality_classifier_fit", "n_train": sample.count(),
        "fit_wall_sec": round(_t.monotonic() - t0, 1),
        "n_nonzero_weights": sum(1 for x in w if x != 0.0),
    }), flush=True)
    # ceiling-free leg (r14 VERDICT #5): the DEFAULT distributed Gram
    # fit on the FULL corpus — 10x past the collect path's guard;
    # driver traffic is n_partitions * 129^2 doubles per Newton round
    # regardless of rows
    labeled = docs.withColumn("y", (F.length("text") % 2 == 0).cast("int"))
    t0 = _t.monotonic()
    w2, b2 = quality_classifier_fit(labeled, "doc_id", "text", "y")
    print(json.dumps({
        "smoke": "quality_classifier_fit_distributed", "n_train": n,
        "fit_wall_sec": round(_t.monotonic() - t0, 1),
        "n_nonzero_weights": sum(1 for x in w2 if x != 0.0),
    }), flush=True)


def smoke_ivfpq_disk(n: int = 1_000_000) -> None:
    """Disk IVF-PQ probe at corpus scale (VERDICT r7 #4): build the
    IVF-PQ index, PERSIST it (codes partitioned by coarse cell +
    codebook sidecars), then measure the from-disk probe — asserting
    via input_file_name() that the codes scan touched only the nprobe
    probed cells' directories. The probe cost is the point: nprobe/
    n_cells of the corpus in 8-byte codes, everything else sidecar
    metadata."""
    import os
    import shutil
    import tempfile

    from cascading_hive_spark.operators.similarity import (
        ivfpq_build, ivfpq_probe_from_disk, ivfpq_write,
    )
    from cascading_hive_spark.sources.synthetic import synthetic_embeddings

    spark = _spark()
    n_cells, nprobe = 64, 8
    for size in (n // 10, n):
        emb = synthetic_embeddings(
            spark, n=size, dim=64, n_clusters=n_cells
        ).localCheckpoint()
        base = tempfile.mkdtemp(prefix="ivfpq_disk_smoke_")
        t0 = time.monotonic()
        index, coarse, pqc = ivfpq_build(emb, n_cells=n_cells, m=8, k=256)
        ivfpq_write(index, coarse, pqc, base)
        build_write_wall = round(time.monotonic() - t0, 1)
        qv = [
            float(x)
            for x in emb.filter(F.col("vec_id") == 3).first()["embedding"]
        ]
        t0 = time.monotonic()
        out = ivfpq_probe_from_disk(
            spark, base, qv, m=8, nprobe=nprobe, topk=10,
            shortlist=max(500, size // 200), vectors=emb,
        )
        hits = out.collect()
        probe_wall = round(time.monotonic() - t0, 2)
        assert len(hits) == 10
        # pruning proof: the codes scan read only the probed cells
        codes = spark.read.parquet(os.path.join(base, "codes"))
        coarse_rows = spark.read.parquet(os.path.join(base, "coarse")).collect()
        d = len(qv)
        probed_cells = sorted(
            (
                sum((qv[i] - r["centroid"][i]) * (qv[i] - r["centroid"][i]) for i in range(d)),
                r["cell"],
            )
            for r in coarse_rows
        )[:nprobe]
        cells = [c for _, c in probed_cells]
        n_files_probed = (
            codes.filter(F.col("cell").isin(cells))
            .select(F.input_file_name()).distinct().count()
        )
        n_files_total = codes.select(F.input_file_name()).distinct().count()
        print(json.dumps({
            "smoke": "ivfpq_disk", "n_vectors": size,
            "n_cells": n_cells, "nprobe": nprobe,
            "build_write_sec": build_write_wall,
            "probe_sec": probe_wall,
            "files_probed": n_files_probed,
            "files_total": n_files_total,
        }), flush=True)
        shutil.rmtree(base, ignore_errors=True)


def smoke_fuzzy(n: int = 1_000_000) -> None:
    """blocked_levenshtein_pairs at corpus scale: n names in ~n/50
    blocks (in-block quadratic compare is the budget: ~25M levenshtein
    evals at 1M rows). Planted exact triples guarantee >= size/3 * 3
    distance-0 pairs; names congruent mod n_blocks additionally differ
    by one decimal digit, contributing legitimate distance-1 pairs —
    the total is ~10x the floor, all real matches."""
    from cascading_hive_spark.operators.dedup import blocked_levenshtein_pairs

    spark = _spark()
    for size in (n // 10, n):
        df = spark.range(size).select(
            F.col("id"),
            F.concat(
                F.lit("Customer#"), F.lpad((F.col("id") / 3).cast("bigint").cast("string"), 9, "0")
            ).alias("name"),
            F.pmod((F.col("id") / 3).cast("bigint"), F.lit(size // 50)).alias("blk"),
        ).localCheckpoint()
        t0 = time.monotonic()
        n_pairs = blocked_levenshtein_pairs(
            df, "id", "name", ["blk"], max_dist=1, max_block=10_000
        ).count()
        wall = round(time.monotonic() - t0, 1)
        print(json.dumps({"smoke": "fuzzy", "n_rows": size, "n_blocks": size // 50,
                          "wall_sec": wall, "n_pairs": n_pairs,
                          "exact_pair_floor": (size // 3) * 3}), flush=True)



def smoke_kmeans(n: int = 1_000_000, dim: int = 32, k: int = 16,
                 iters: int = 2) -> None:
    """Iterated kmeans_fit at n/10 and n (planted k-cluster structure):
    per round, the E-step fans the exploded corpus out k ways through
    a broadcast join (n*dim*k grouped rows) and the M-step is one
    (cid, dim) agg — wall must scale ~linearly in n, and the trained
    assignment must recover the planted clusters (inertia far below
    the seed-only baseline is implied by centroid separation)."""
    from cascading_hive_spark.operators.similarity import kmeans_fit

    spark = _spark()
    for size in (n // 10, n):
        vecs = spark.range(size).select(
            F.col("id").alias("vec_id"),
            F.array(*[
                (F.pmod(F.abs(F.xxhash64(F.col("id") + i)), F.lit(1000)) / 100.0
                 + F.pmod(F.col("id"), F.lit(k)) * 50.0)
                for i in range(dim)
            ]).alias("embedding"),
        ).localCheckpoint()
        t0 = time.monotonic()
        cents = kmeans_fit(vecs, k=k, iters=iters)
        nrows = cents.count()
        wall = round(time.monotonic() - t0, 1)
        # planted recovery: distinct per-dim centroid levels must span
        # the k offsets (each trained centroid sits near one plateau)
        lvls = cents.filter(F.col("dim") == 0).select(
            F.round((F.col("centroid") - 5.0) / 50.0).alias("lvl")
        ).distinct().count()
        print(json.dumps({"smoke": "kmeans", "n": size, "dim": dim, "k": k,
                          "iters": iters, "centroid_rows": nrows,
                          "distinct_levels_dim0": lvls,
                          "wall_sec": wall}), flush=True)



def smoke_semantic_dedup(n: int = 100_000, k: int = 64,
                         dim: int = 16) -> None:
    """SemDeDup at n vectors / k cells with planted near-identical
    dups (one per 100 base vectors, 1e-3 perturbation): every planted
    pair must surface at threshold 0.999, and the wall demonstrates
    the documented cost split — one n*dim*k assignment fan-out plus
    (n/k)^2-per-cell pair work (hold cell size by scaling k with n;
    the guard stops runaway cells)."""
    from cascading_hive_spark.operators.dedup import semantic_dedup_pairs

    spark = _spark()
    # k well-separated integer centers; coord i of center c cycles -3..3
    cents = spark.createDataFrame(
        [(c, i, float((c * 31 + i * 17) % 7 - 3)) for c in range(k)
         for i in range(dim)],
        "cid long, dim int, centroid double",
    )
    noise = [
        (F.pmod(F.abs(F.xxhash64(F.col("base") + i)), F.lit(1000)) / 1000.0 - 0.5)
        for i in range(dim)
    ]
    base = spark.range(n).select(
        F.col("id").alias("vec_id"),
        (F.pmod(F.col("id"), F.lit(k))).alias("_c"),
        F.col("id").alias("base"),
    )
    # centers keyed by cluster id: coord = (cluster*31 + i*17) % 7 - 3
    vecs = base.select(
        "vec_id",
        F.array(*[
            ((F.pmod(F.col("_c") * 31 + i * 17, F.lit(7)) - 3).cast("double")
             + noise[i])
            for i in range(dim)
        ]).alias("embedding"),
    )
    dups = vecs.filter(F.pmod(F.col("vec_id"), F.lit(100)) == 0).select(
        (F.col("vec_id") + n).alias("vec_id"),
        F.transform(
            "embedding", lambda x, i: x + F.when(i == 0, 1e-3).otherwise(0.0)
        ).alias("embedding"),
    )
    all_vecs = vecs.union(dups).localCheckpoint()
    n_planted = n // 100
    t0 = time.monotonic()
    pairs = semantic_dedup_pairs(
        all_vecs, cents, threshold=0.999, max_cell=50_000
    ).localCheckpoint()
    total = pairs.count()
    found = pairs.filter(F.col("id_b") - F.col("id_a") == n).count()
    wall = round(time.monotonic() - t0, 1)
    print(json.dumps({"smoke": "semantic_dedup", "n": n, "k": k, "dim": dim,
                      "planted": n_planted, "planted_found": found,
                      "pairs_total": total, "wall_sec": wall}), flush=True)


def smoke_kcore(n_edges: int = 10_000_000, k: int = 8,
                clique: int = 200) -> None:
    """k-core peeling at 10M random edges (mean degree ~6, whose
    8-core is empty w.h.p.) with a planted ``clique``-clique that must
    survive alone: wall and peel depth are the story — each round is
    one degree agg + two anti joins over a shrinking edge set."""
    from cascading_hive_spark.operators.graph import k_core

    spark = _spark()
    n_nodes = max(4, n_edges // 3)
    rnd = spark.range(n_edges).select(
        F.pmod(F.abs(F.xxhash64("id")), F.lit(n_nodes)).alias("src"),
        F.pmod(F.abs(F.xxhash64(F.col("id") + 7)), F.lit(n_nodes)).alias("dst"),
    )
    members = [n_nodes + i for i in range(clique)]
    cl = spark.createDataFrame(
        [(a, b) for i, a in enumerate(members) for b in members[i + 1:]],
        "src long, dst long",
    )
    edges = rnd.union(cl).localCheckpoint()
    t0 = time.monotonic()
    core = k_core(edges, k)
    rows = core.collect()
    wall = round(time.monotonic() - t0, 1)
    in_clique = sum(1 for r in rows if r.node >= n_nodes)
    print(json.dumps({"smoke": "kcore", "n_edges": n_edges, "k": k,
                      "clique": clique, "core_nodes": len(rows),
                      "clique_recovered": in_clique,
                      "wall_sec": wall}), flush=True)


def smoke_quantile_sketch(n: int = 100_000_000, n_partials: int = 30) -> None:
    """Mergeable histogram-quantile sketch at row scale: two scans
    (bounds + binned counts) whose shuffles carry at most
    n_partials x 128 thin rows — wall should be scan-bound and
    near-linear; the uniform synthetic has an analytic median, so the
    estimate is also checked against truth within one bin width."""
    from cascading_hive_spark.operators.sketches import histogram_quantile_merge

    spark = _spark()
    for size in (n // 10, n):
        df = spark.range(size).select(
            (F.pmod(F.col("id") * 2654435761, F.lit(1000003)) / 1000.0).alias("v"),
            (F.col("id") % n_partials).alias("pk"),
        )
        t0 = time.monotonic()
        row = histogram_quantile_merge(df, "v", "pk").first()
        wall = round(time.monotonic() - t0, 1)
        width = 1000.003 / 128  # (max-min)/bins of the uniform synthetic
        err = abs(row["q500"] - 500.0015)  # analytic median of the grid
        assert err <= width, (row["q500"], width)
        print(json.dumps({"smoke": "quantile_sketch", "n_rows": size,
                          "n_partials": row["n_partials"],
                          "wall_sec": wall, "q500": row["q500"],
                          "median_err_vs_bin_width": round(err / width, 3)}),
              flush=True)


def smoke_pca(n: int = 1_000_000, d: int = 64) -> None:
    """PCA trainer at corpus scale: the Arrow partial-GEMM pass ships
    d^2 floats per batch (never per row), so train wall is one scan +
    a d^2-row reduce; projection is a second map-only pass."""
    from cascading_hive_spark.operators.similarity import (
        pca_components,
        pca_project,
    )
    from cascading_hive_spark.sources.synthetic import synthetic_embeddings

    spark = _spark()
    for size in (n // 10, n):
        emb = synthetic_embeddings(spark, n=size, dim=d).localCheckpoint()
        t0 = time.monotonic()
        means, comps = pca_components(emb, k=8)
        t_train = round(time.monotonic() - t0, 1)
        t0 = time.monotonic()
        n_out = pca_project(emb, means, comps).count()
        t_proj = round(time.monotonic() - t0, 1)
        assert n_out == size
        print(json.dumps({"smoke": "pca", "n_vectors": size, "dim": d,
                          "k": 8, "train_sec": t_train,
                          "project_sec": t_proj}), flush=True)


def smoke_overlap(n: int = 1_000_000) -> None:
    """Cross-source fingerprint overlap at corpus scale: one distinct
    on (digest, source) + a per-digest self-join bounded by source
    count — wall near-linear, output <= n_sources^2 rows."""
    from cascading_hive_spark.operators.dedup import source_overlap
    from cascading_hive_spark.sources.synthetic import synthetic_documents

    spark = _spark()
    for size in (n // 10, n):
        docs = synthetic_documents(
            spark, n=size, dup_rate=0.05, n_vocab=5000
        ).localCheckpoint()
        fp = F.md5(F.concat_ws(" ", F.slice(F.split(F.col("text"), " "), 1, 8)))
        t0 = time.monotonic()
        out = source_overlap(docs, "source", fp)
        n_pairs, total = out.agg(
            F.count(F.lit(1)), F.sum("shared_fps")
        ).first()
        wall = round(time.monotonic() - t0, 1)
        assert n_pairs <= 20 * 19 // 2  # 20 synthetic sources
        print(json.dumps({"smoke": "overlap", "n_docs": size,
                          "wall_sec": wall, "pairs": n_pairs,
                          "shared_fps_total": int(total)}), flush=True)


def smoke_rfm(n_orders: int = 10_000_000, n_cust: int = 1_000_000) -> None:
    """The VERDICT r10 #1 fix at scale: RFM quartiles via exact-
    percentile binning over a synthetic 10M-order / 1M-customer table
    — one customer agg, one 9-percentile pass (task memory ~ DISTINCT
    integer images, see relational.percentile_bins), broadcast edges,
    narrow map. No window anywhere; quartile populations must come
    out roughly balanced."""
    from cascading_hive_spark.operators.relational import percentile_bins

    spark = _spark()
    for size in (n_orders // 10, n_orders):
        custs = max(1, n_cust * size // n_orders)
        orders = spark.range(size).select(
            (F.col("id") % custs).alias("ck"),
            F.date_add(
                F.lit("2020-01-01").cast("date"),
                F.pmod(F.col("id") * 2654435761, F.lit(1461)).cast("int"),
            ).alias("od"),
            (F.pmod(F.col("id") * 40503, F.lit(99991)) / 100.0 + 1.0).alias("price"),
        )
        t0 = time.monotonic()
        per_cust = orders.groupBy("ck").agg(
            F.datediff(F.max("od"), F.lit("1970-01-01").cast("date")).alias("rd"),
            F.count(F.lit(1)).alias("freq"),
            (F.round(F.sum(F.col("price").cast("decimal(18,6)")), 2) * 100)
            .cast("bigint")
            .alias("cents"),
        )
        binned = percentile_bins(per_cust, ["rd", "freq", "cents"], suffix="_q")
        dist = {
            (r["rd_q"], r["cents_q"]): r["n"]
            for r in binned.groupBy("rd_q", "cents_q")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        wall = round(time.monotonic() - t0, 1)
        m_counts = {}
        for (rq, mq), c in dist.items():
            m_counts[mq] = m_counts.get(mq, 0) + c
        total = sum(m_counts.values())
        assert total == custs, (total, custs)
        assert set(m_counts) == {1, 2, 3, 4}, m_counts
        for q_, c in m_counts.items():
            assert c >= total // 8, (q_, c)  # roughly balanced monetary bins
        print(json.dumps({"smoke": "rfm", "n_orders": size,
                          "n_customers": custs, "wall_sec": wall,
                          "monetary_bins": {str(k): v for k, v in
                                            sorted(m_counts.items())}}),
              flush=True)



def smoke_rake(n: int = 1_000_000) -> None:
    """rake_keywords at corpus scale: the phrase segmentation is
    scan-side string algebra, so cost must track total token volume
    (explode + one word-keyed aggregate + top-k). The synthetic vocab
    is stopword-free, so every doc is one long phrase — the worst
    case for the degree sum (plen rides every exploded row)."""
    from cascading_hive_spark.operators.text import rake_keywords
    from cascading_hive_spark.sources.synthetic import synthetic_documents

    spark = _spark()
    for size in (100_000, n):
        docs = synthetic_documents(
            spark, n=size, dup_rate=0.0, n_vocab=5000
        ).localCheckpoint()
        wall, n_rows = _timed(rake_keywords(docs, "text", top_n=20))
        print(json.dumps({"smoke": "rake", "n_docs": size,
                          "wall_sec": wall, "n_rows": n_rows}), flush=True)


def smoke_kmv(n: int = 20_000_000, n_keys: int = 10,
              n_distinct: int = 2_000_000) -> None:
    """kmv_distinct_by_key at traffic scale: the sketch pass shuffles
    only DISTINCT (key, 8-byte hash) pairs, so 10x raw rows over the
    same value domain must cost ~the distinct pass, not 10x; the
    estimator must stay inside the 4-sigma KMV band at k=64."""
    import math

    from cascading_hive_spark.operators.sketches import kmv_distinct_by_key

    spark = _spark()
    for size in (n // 10, n):
        df = spark.range(size).select(
            (F.col("id") % n_keys).cast("string").alias("grp"),
            (F.col("id") % n_distinct).alias("v"),
        ).localCheckpoint()
        t0 = time.time()
        rows = kmv_distinct_by_key(df, "grp", "v", k=64).collect()
        wall = time.time() - t0
        worst = max(abs(r.rel_err) for r in rows)
        assert worst < 4 / math.sqrt(62), worst
        print(json.dumps({"smoke": "kmv", "n_rows": size,
                          "n_sketches": len(rows), "wall_sec": wall,
                          "worst_rel_err": worst}), flush=True)


def smoke_lpa(n_edges: int = 10_000_000, iterations: int = 3) -> None:
    """label_propagation at graph scale: 3 fixed rounds of
    edge-join + count + argmax over a pseudo-random sparse graph
    (avg degree ~10); wall must track edge count across a decade."""
    from cascading_hive_spark.operators.graph import label_propagation

    spark = _spark()
    for size in (n_edges // 10, n_edges):
        n_nodes = max(size // 10, 100)
        edges = spark.range(size).select(
            (F.col("id") % n_nodes).alias("src"),
            ((F.col("id") * 2654435761) % n_nodes).alias("dst"),
        ).filter(F.col("src") != F.col("dst")).localCheckpoint()
        t0 = time.time()
        n_out = label_propagation(edges, iterations=iterations).count()
        wall = time.time() - t0
        print(json.dumps({"smoke": "lpa", "n_edges": size,
                          "n_nodes": n_out, "wall_sec": wall,
                          "iterations": iterations}), flush=True)



def smoke_wau(n: int = 100_000_000, n_users: int = 1_000_000,
              n_days: int = 60) -> None:
    """rolling_distinct_users at traffic scale: the dedupe-then-vote
    shape must collapse raw events to distinct (user, day) BEFORE the
    7-way fan-out, so 10x raw events over the same (user, day) domain
    costs ~the distinct pass, not 10x the fan-out."""
    from cascading_hive_spark.operators.timeseries import rolling_distinct_users

    spark = _spark()
    for size in (n // 10, n):
        df = spark.range(size).select(
            (F.col("id") % n_users).alias("user_id"),
            F.date_add(
                F.lit("2024-01-01").cast("date"),
                ((F.col("id") * 2654435761) % n_days).cast("int"),
            )
            .cast("timestamp")
            .alias("ts"),
        )
        t0 = time.time()
        rows = rolling_distinct_users(df, "ts", "user_id", 7).count()
        wall = time.time() - t0
        print(json.dumps({"smoke": "wau", "n_events": size,
                          "n_window_ends": rows, "wall_sec": wall}),
              flush=True)


if __name__ == "__main__":
    name = sys.argv[1] if len(sys.argv) > 1 else "ivf_knn"
    args = [int(a) for a in sys.argv[2:]]
    {
        "ivf_knn": smoke_ivf_knn,
        "skyline": smoke_skyline,
        "triangles": smoke_triangles,
        "heavy_hitters": smoke_heavy_hitters,
        "basket": smoke_basket,
        "markov_retention": smoke_markov_retention,
        "kmeans": smoke_kmeans,
        "kcore": smoke_kcore,
        "quantile_sketch": smoke_quantile_sketch,
        "pca": smoke_pca,
        "overlap": smoke_overlap,
        "rfm": smoke_rfm,
        "semantic_dedup": smoke_semantic_dedup,
        "simhash": smoke_simhash,
        "cc": smoke_cc,
        "pagerank": smoke_pagerank,
        "tfidf": smoke_tfidf,
        "cdc": smoke_cdc,
        "elsh_auto": smoke_elsh_auto,
        "packing": smoke_packing,
        "asof": smoke_asof,
        "packing_skewed": smoke_packing_skewed,
        "q1_decimal": smoke_q1_decimal,
        "streaming": smoke_streaming,
        "catalog10k": smoke_catalog10k,
        "catalog1m": smoke_catalog1m,
        "tempmix": smoke_tempmix,
        "leakage": smoke_leakage_split,
        "shard": smoke_shard,
        "ivfpq_disk": smoke_ivfpq_disk,
        "decontaminate": smoke_decontaminate,
        "sessions": smoke_sessions,
        "shuffle": smoke_shuffle,
        "scd2": smoke_scd2,
        "span": smoke_span,
        "bpe": smoke_bpe,
        "pq": smoke_pq,
        "fuzzy": smoke_fuzzy,
        "quality_classifier": smoke_quality_classifier,
        "perplexity": smoke_perplexity,
        "auc": smoke_auc,
        "knn_density": smoke_knn_density,
        "dsir": smoke_dsir,
        "domain_cap": smoke_domain_cap,
        "curation_scan": smoke_curation_scan,
        "funnel": smoke_funnel,
        "charspan": smoke_charspan,
        "lang_id": smoke_lang_id,
        "image_decode": smoke_image_decode,
        "bloom": smoke_bloom,
        "rake": smoke_rake,
        "kmv": smoke_kmv,
        "lpa": smoke_lpa,
        "wau": smoke_wau,
    }[name](*args)
