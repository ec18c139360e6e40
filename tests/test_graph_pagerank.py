"""PageRank verified against a dense numpy power iteration (same
damping, same uniform dangling redistribution, same iteration count)."""

from __future__ import annotations

import numpy as np
import pytest

from cascading_hive_spark.operators.graph import pagerank


def _numpy_pagerank(edges, damping=0.85, iterations=10):
    nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
    idx = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    out = np.zeros(n)
    for u, _ in edges:
        out[idx[u]] += 1
    r = np.full(n, 1.0 / n)
    for _ in range(iterations):
        nxt = np.zeros(n)
        dangling = r[out == 0].sum()
        for u, v in edges:
            nxt[idx[v]] += r[idx[u]] / out[idx[u]]
        r = (1 - damping) / n + damping * (nxt + dangling / n)
    return {nodes[i]: r[i] for i in range(n)}


def _run(spark, edges, **kw):
    df = spark.createDataFrame(edges, "src long, dst long")
    return {r.node: r.rank for r in pagerank(df, **kw).collect()}


def test_pagerank_matches_numpy_random_graph(spark):
    rng = np.random.default_rng(13)
    edges = list({(int(rng.integers(0, 30)), int(rng.integers(0, 30))) for _ in range(120)})
    edges = [(u, v) for u, v in edges if u != v]
    got = _run(spark, edges)
    want = _numpy_pagerank(edges)
    assert set(got) == set(want)
    for node, rank in want.items():
        assert got[node] == pytest.approx(rank, abs=1e-12)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)


def test_pagerank_star_graph_sinks_rank_at_center(spark):
    # spokes -> center: center accumulates, spokes share the rest
    edges = [(i, 0) for i in range(1, 6)]
    got = _run(spark, edges)
    want = _numpy_pagerank(edges)
    assert got[0] == pytest.approx(want[0], abs=1e-12)
    assert got[0] > 5 * got[1]
    spoke_ranks = {round(got[i], 12) for i in range(1, 6)}
    assert len(spoke_ranks) == 1  # symmetry


def test_pagerank_dangling_mass_conserved(spark):
    # 1 -> 2, 2 is dangling: without redistribution ranks would leak
    got = _run(spark, [(1, 2)])
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-12)
    want = _numpy_pagerank([(1, 2)])
    assert got[2] == pytest.approx(want[2], abs=1e-12)


def test_pagerank_rejects_bad_iterations(spark):
    df = spark.createDataFrame([(1, 2)], "src long, dst long")
    with pytest.raises(ValueError):
        pagerank(df, iterations=0)


def test_pagerank_portable_matches_plain_and_is_deterministic(spark):
    """The portable accumulator's 1e-12 per-term quantization must
    stay far below fixed-iteration truncation error vs the plain-double
    path, and its rank vector must be bit-identical under
    repartitioning (the property its unrolled DuckDB twin relies on)."""
    rng = np.random.default_rng(7)
    edges = list({(int(rng.integers(0, 25)), int(rng.integers(0, 25))) for _ in range(90)})
    edges = [(u, v) for u, v in edges if u != v]
    df = spark.createDataFrame(edges, "src long, dst long")
    plain = {r.node: r.rank for r in pagerank(df, iterations=5).collect()}
    port1 = {
        r.node: r.rank for r in pagerank(df, iterations=5, portable=True).collect()
    }
    port2 = {
        r.node: r.rank
        for r in pagerank(df.repartition(6), iterations=5, portable=True).collect()
    }
    assert port1 == port2  # bit-identical, not approximately
    assert set(plain) == set(port1)
    for n in plain:
        assert abs(plain[n] - port1[n]) < 1e-9
    assert abs(sum(port1.values()) - 1.0) < 1e-6  # still a distribution


def test_triangle_count_known_graphs(spark):
    """K4 has 4 triangles (4 ordered wedges a<b<c, all closed); a
    4-cycle has none; duplicate/reversed/self edges are canonicalized
    away."""
    from cascading_hive_spark.operators.graph import triangle_count

    k4 = spark.createDataFrame(
        [(a, b) for a in range(4) for b in range(4) if a < b]
        + [(1, 0), (2, 2)],  # reversed duplicate + self loop: ignored
        "src int, dst int",
    )
    row = triangle_count(k4).first()
    assert (row.n_wedges, row.n_triangles) == (4, 4)
    cycle = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 0)], "src int, dst int"
    )
    row = triangle_count(cycle).first()
    assert row.n_triangles == 0
