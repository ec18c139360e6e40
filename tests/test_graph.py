

def _py_kcore(edges, k):
    """Reference peeling in pure Python."""
    adj = {}
    for a, b in edges:
        if a == b:
            continue
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    changed = True
    while changed:
        changed = False
        for n in list(adj):
            if len(adj[n]) < k:
                for m in adj.pop(n):
                    adj[m].discard(n)
                changed = True
    return {n: len(ns) for n, ns in adj.items() if ns}


def test_k_core_randomized_matches_python(spark):
    """Randomized differential vs pure-Python peeling: node sets AND
    in-core degrees must agree for k in {2, 3}; a planted 5-clique on
    a sparse background must survive k=4 alone."""
    import random

    from cascading_hive_spark.operators.graph import k_core

    rng = random.Random(13)
    edges = [(rng.randint(0, 60), rng.randint(0, 60)) for _ in range(150)]
    df = spark.createDataFrame(edges, "src long, dst long")
    for k in (2, 3):
        got = {(r.node, r.degree) for r in k_core(df, k).collect()}
        want = set(_py_kcore(edges, k).items())
        assert got == want, (k, got ^ want)

    clique = [(100 + i, 100 + j) for i in range(5) for j in range(i + 1, 5)]
    chain = [(i, i + 1) for i in range(50)]
    df2 = spark.createDataFrame(clique + chain, "src long, dst long")
    core4 = sorted(r.node for r in k_core(df2, 4).collect())
    assert core4 == [100, 101, 102, 103, 104]


def test_k_core_self_loops_and_duplicates_ignored(spark):
    """Self-loops and parallel/reversed duplicates must not inflate
    degrees: a triangle listed redundantly is still only a 2-core."""
    from cascading_hive_spark.operators.graph import k_core

    edges = [(1, 2), (2, 1), (2, 3), (3, 1), (1, 1), (2, 3)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {(r.node, r.degree) for r in k_core(df, 2).collect()}
    assert got == {(1, 2), (2, 2), (3, 2)}
    assert k_core(df, 3).isEmpty()


def test_k_core_raises_when_cap_exhausted(spark):
    """A long path at k=2 peels one layer per round (true 2-core is
    empty), so a small max_iterations cap CANNOT reach the fixpoint —
    the operator must raise rather than silently return the
    not-yet-peeled superset (ADVICE r10)."""
    import pytest

    from cascading_hive_spark.operators.graph import k_core

    path = [(i, i + 1) for i in range(60)]
    df = spark.createDataFrame(path, "src long, dst long")
    with pytest.raises(ValueError, match="max_iterations"):
        k_core(df, 2, max_iterations=5).collect()
    # and with enough rounds the same graph converges to the empty core
    assert k_core(df, 2, max_iterations=60).isEmpty()


def test_triangle_count_known_graph_and_orientation_materialized_once(spark):
    """K4 plus a pendant: 4 triangles, 7 ordered wedges (sum_b
    indeg*outdeg under the u<v orientation). Also pins the r16 wave-5
    internals change: the oriented edge list feeds three consumers
    whose required distributions differ (ReusedExchange cannot dedup
    them), so the operator must materialize the orientation ONCE — the
    plan shows a checkpoint scan (ExistingRDD) instead of three copies
    of the scan->distinct->degree->join pipeline."""
    from cascading_hive_spark.operators.graph import triangle_count

    k4 = [(i, j) for i in range(1, 5) for j in range(i + 1, 5)]
    df = spark.createDataFrame(k4 + [(4, 5)], "src long, dst long")
    row = triangle_count(df).collect()[0]
    assert (row.n_wedges, row.n_triangles) == (7, 4)
    plan = triangle_count(df)._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" in plan or "Scan ExistingRDD" in plan, plan


# --- shape guards: record counters at n and 4n ---------------------------
#
# Linear work reads 4x the shuffle records at 4n. The 15 % slack covers
# boundary effects of the synthetic graphs; the shapes these guard
# against read about 16x.


def test_triangle_count_hub_work_grows_linearly(spark, status, shuffled_plans):
    """A ring, one random chord per node, and a hub wired to every third
    node: hub degree d = n/3. An id-ordered orientation points every hub
    edge out of the hub (node 0) and pairs its d out-neighbours, d^2/2
    wedge rows; the degree-ordered one makes the hub a head, so no tail
    pairs more than a few neighbours."""
    from pyspark.sql import functions as F

    from cascading_hive_spark.operators.graph import triangle_count

    def count(n):
        base = spark.range(1, n)
        ring = base.select(
            F.col("id").alias("src"), F.pmod(F.col("id") + 1, F.lit(n)).alias("dst")
        )
        hub = base.filter(F.col("id") % 3 == 0).select(
            F.col("id").alias("src"), F.lit(0).alias("dst")
        )
        chord = base.select(
            F.col("id").alias("src"),
            F.pmod(
                F.col("id") + 2 + F.pmod(F.abs(F.xxhash64("id")), F.lit(97)), F.lit(n)
            ).alias("dst"),
        )
        edges = ring.union(hub).union(chord).localCheckpoint(eager=True)
        return status.run(lambda: triangle_count(edges).first())

    small, big = count(3_000), count(12_000)
    assert small.value.n_triangles > 0
    assert big.shuffle_records <= 4.6 * small.shuffle_records, (
        small.shuffle_records, big.shuffle_records)


def test_k_core_planted_clique_work_grows_linearly(spark, status, shuffled_plans):
    """n random edges over n/3 nodes (mean degree ~6, so the 8-core of
    that part is empty) plus a planted 30-clique, which must be the whole
    8-core. Peeling shrinks the edge set every round, so the rounds and
    their shuffle records track the edge count, and the peel depth (the
    job count) does not grow with n."""
    from pyspark.sql import functions as F

    from cascading_hive_spark.operators.graph import k_core

    def core(n):
        n_nodes = n // 3
        rnd = spark.range(n).select(
            F.pmod(F.abs(F.xxhash64("id")), F.lit(n_nodes)).alias("src"),
            F.pmod(F.abs(F.xxhash64(F.col("id") + 7)), F.lit(n_nodes)).alias("dst"),
        )
        clique = [n_nodes + i for i in range(30)]
        planted = spark.createDataFrame(
            [(a, b) for i, a in enumerate(clique) for b in clique[i + 1:]],
            "src long, dst long",
        )
        edges = rnd.union(planted).localCheckpoint(eager=True)
        counted = status.run(lambda: k_core(edges, 8).collect())
        assert {(r.node, r.degree) for r in counted.value} == {(c, 29) for c in clique}
        return counted

    small, big = core(30_000), core(120_000)
    assert len(big.jobs) <= len(small.jobs) + 4, (len(small.jobs), len(big.jobs))
    assert big.shuffle_records <= 4.6 * small.shuffle_records, (
        small.shuffle_records, big.shuffle_records)
    # all rounds together move a bounded multiple of the edge count (17
    # records per edge here); rounds that replay earlier rounds, or
    # re-read the whole edge set, move 26 and 44
    for n, counted in ((30_000, small), (120_000, big)):
        assert counted.shuffle_records <= 20 * n, (n, counted.shuffle_records)
