"""Vector similarity search over embedding columns (array<float>).

North-star operator set (BASELINE.json); nothing comparable in the
reference. Design:

- Cosine is computed in DOUBLE with a fixed left-to-right summation
  (``F.aggregate`` over the array). float32 inputs make every product
  exactly representable in double, and the sequential sum gives
  bitwise-identical results in any engine that does the same — which
  is what the DuckDB oracles do (explicit list_transform + list_sum in
  double, NOT list_cosine_similarity, which accumulates in float32).
- Brute-force top-k: one scan, per-partition partial top-k via
  TakeOrderedAndProject — the correct baseline and the verifier for
  the approximate paths.
- knn_join (small query set × corpus): broadcast the queries, window
  rank per query. Quadratic in |Q|×|corpus| — the 100 TB path is IVF.
- IVF: coarse quantization to deterministic centroids, search only the
  nprobe nearest cells — the shuffle-light scale path (approximate;
  recall is property-tested against brute force, no SQL oracle).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cascading_hive_spark.operators.exact import exact_sum, image, scaled
from cascading_hive_spark.session import materialize


def dot(a: Column, b: Column) -> Column:
    """Sequential double-precision dot product of two array columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def cosine_topk(
    vectors: DataFrame,
    query: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Brute-force cosine top-k of a single query vector against the
    corpus. ``query`` is a 1-row DataFrame with ``vec_col``; it is
    broadcast so the scan stays a single narrow stage feeding
    TakeOrderedAndProject (no full sort, no wide shuffle)."""
    q = F.broadcast(
        query.select(F.col(vec_col).alias("_qv"), norm(F.col(vec_col)).alias("_qn"))
    )
    # norms precomputed per side: each row pays one dot, not three
    scored = (
        vectors.withColumn("_n", norm(F.col(vec_col)))
        .crossJoin(q)
        .select(
            F.col(id_col),
            F.round(dot(F.col(vec_col), F.col("_qv")) / (F.col("_n") * F.col("_qn")), 6).alias(
                "cos_sim"
            ),
        )
    )
    return scored.orderBy(F.col("cos_sim").desc(), F.col(id_col)).limit(k)


def knn_join(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """k nearest corpus vectors for EACH query row (brute force).

    Queries are broadcast; ranking is a window per query id. Use for
    query sets that fit in a broadcast (<~10 MB); beyond that, IVF.
    """
    from pyspark.sql import Window

    q = F.broadcast(
        queries.select(
            F.col(query_id_col).alias("_qid"),
            F.col(vec_col).alias("_qv"),
            norm(F.col(vec_col)).alias("_qn"),
        )
    )
    scored = (
        vectors.withColumn("_n", norm(F.col(vec_col)))
        .crossJoin(q)
        .select(
            F.col("_qid").alias(query_id_col),
            F.col(id_col),
            F.round(dot(F.col(vec_col), F.col("_qv")) / (F.col("_n") * F.col("_qn")), 6).alias(
                "cos_sim"
            ),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("cos_sim").desc(), F.col(id_col))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(query_id_col, id_col, "cos_sim", "rnk")
    )


def _assign_cells(
    vectors: DataFrame, centroids: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """Nearest-centroid assignment: broadcast the (tiny) centroid
    table, score every vector against every centroid in one narrow
    pass, keep the argmax via a map-side-combinable max-struct
    aggregate (guide §2.3/§2.4 — the r16 rework): the former
    per-vector row_number window shuffled all n*k scored rows, each
    dragging the full embedding array through the exchange plus a
    sort; the partial aggregate collapses the k candidates to one row
    per vector BEFORE the exchange, so n rows cross, no sort, and the
    vector rides along once via any_value (every row of a group
    carries the identical array, so the pick is value-deterministic).

    Tie/edge semantics are bit-identical to the window it replaces:
    max(struct(_sim, -cell)) == first row of ORDER BY _sim DESC, cell
    ASC — including NaN (greatest double in both orderings) and NULL
    _sim (struct-compare NULLS FIRST == DESC NULLS LAST: picked only
    when every candidate is null)."""
    scored = vectors.crossJoin(F.broadcast(centroids)).select(
        F.col(id_col),
        F.col(vec_col),
        F.struct(
            cosine(F.col(vec_col), F.col("centroid")).alias("s"),
            (-F.col("cell")).alias("negc"),
        ).alias("_sc"),
    )
    return (
        scored.groupBy(id_col)
        .agg(
            F.any_value(F.col(vec_col)).alias(vec_col),
            F.max("_sc").alias("_m"),
        )
        .select(id_col, vec_col, (-F.col("_m.negc")).alias("cell"))
    )


def _mean_centroids(
    assigned: DataFrame, keys: list[str], vec_col: str, dim: int, portable: bool
) -> DataFrame:
    """(*keys, centroid): per-group coordinate means. ``portable``
    means are exact decimal(18,6) image sums (``operators.exact``)
    divided by the group count, so the resulting doubles are identical
    regardless of partitioning or engine, where a float/double ``avg``
    is partition-order-dependent."""
    x = lambda i: f"CAST(get(`{vec_col}`, {i}) AS DOUBLE)"  # noqa: E731
    if portable:
        mean = lambda i: f"CAST({exact_sum(x(i), 6, 18)} AS DOUBLE) / count(1)"  # noqa: E731
    else:
        mean = lambda i: f"avg({x(i)})"  # noqa: E731
    return assigned.groupBy(*keys).agg(
        F.expr(f"array({', '.join(mean(i) for i in range(dim))}) AS centroid")
    )


def ivf_build(
    vectors: DataFrame,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    refine_iterations: int = 1,
    portable: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Build a deterministic IVF index: seed centroids = mean of each
    of n_cells hash-assigned groups (one aggregation pass, stable
    across runs), optionally tightened by ``refine_iterations`` Lloyd
    steps (assign to nearest centroid -> recompute cell means), then
    assign every vector to its final nearest centroid.

    Each Lloyd step costs one broadcast-scored narrow pass + one
    aggregation — no quadratic work — and pulls centroids toward the
    data's real modes, raising probe recall at a given nprobe (the
    hash seeding alone scatters centroids uniformly over the data,
    which over-merges genuine clusters). Deterministic: no random
    restarts, ties broken by cell id.

    ``portable=True`` makes every arithmetic step reproducible
    bit-for-bit in plain SQL: seeding by the Knuth multiplicative hash
    of the id (pmod algebra, identical in any engine —
    operators/sampling.py) instead of xxhash64, and exact decimal-image
    cell means (``_mean_centroids``). With ``refine_iterations=0`` a
    DuckDB oracle replays the whole index — seeding, centroids,
    assignment — and the PARTIAL-probe search result hash-matches
    cross-engine (queries.py: ann_ivf_portable).

    Returns (assignments, centroids); assignments add a ``cell``
    column — at scale you'd ``write.partitionBy("cell")`` so probes
    prune to nprobe directories.
    """
    dim = _dim_of(vectors, vec_col)
    if portable:
        from cascading_hive_spark.operators.sampling import hash_order

        seed_cell = F.pmod(hash_order(F.col(id_col)), F.lit(n_cells))
    else:
        seed_cell = F.abs(F.xxhash64(F.col(id_col)) % n_cells)
    seeded = vectors.select(seed_cell.alias("cell"), F.col(vec_col))
    centroids = _mean_centroids(seeded, ["cell"], vec_col, dim, portable)
    for _ in range(refine_iterations):
        assigned = _assign_cells(vectors, centroids, id_col, vec_col)
        centroids = _mean_centroids(assigned, ["cell"], vec_col, dim, portable)
    # centroids feed the assignment pass and every later probe; the
    # assignments are read on BOTH sides of a search (query probes + cell
    # members), so uncut the broadcast-scored assign pass re-runs per
    # consumer. Index-scale rows, as the index write would pay anyway.
    centroids = materialize(centroids, "ivf_build: centroids")
    assignments = materialize(
        _assign_cells(vectors, centroids, id_col, vec_col), "ivf_build: assignments"
    )
    return assignments, centroids


def ivf_search(
    assignments: DataFrame,
    centroids: DataFrame,
    query: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Search only the nprobe cells whose centroids are nearest the
    query — the IVF probe. Approximate: recall < 1 when true neighbors
    live in unprobed cells (property-tested in tests/test_similarity)."""
    q = F.broadcast(query.select(F.col(vec_col).alias("_qv")))
    probe_cells = F.broadcast(
        centroids.crossJoin(q)
        .select("cell", cosine(F.col("centroid"), F.col("_qv")).alias("_sim"))
        .orderBy(F.col("_sim").desc(), F.col("cell"))
        .limit(nprobe)
        .select("cell")
    )
    cand = assignments.join(probe_cells, "cell")
    qn = F.broadcast(query.select(norm(F.col(vec_col)).alias("_qn")))
    return (
        cand.withColumn("_n", norm(F.col(vec_col)))
        .crossJoin(q)
        .crossJoin(qn)
        .select(
            F.col(id_col),
            F.round(dot(F.col(vec_col), F.col("_qv")) / (F.col("_n") * F.col("_qn")), 6).alias(
                "cos_sim"
            ),
        )
        .orderBy(F.col("cos_sim").desc(), F.col(id_col))
        .limit(k)
    )


def ivf_knn_join(
    assignments: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """k approximate nearest corpus vectors for EACH query row via the
    IVF index — the batched scale path past ``knn_join``'s broadcast
    limit (a million-query table can't broadcast; brute force is
    |Q| x |corpus| work regardless).

    Plan shape:

    1. assign every query to its ``nprobe`` nearest cells — centroids
       are tiny (n_cells rows) and broadcast, so this is one narrow
       pass plus a per-query window over |Q| x n_cells thin rows;
    2. shuffle-hash join queries-with-probe-cells against the corpus
       ON CELL (the probe side is the build side; the corpus must
       never be a broadcast build — it is a computed table whose size
       Catalyst underestimates). Work and shuffle volume are
       |Q| x nprobe x avg_cell = |Q| x |corpus| x nprobe / n_cells —
       the nprobe/n_cells fraction of brute force;
    3. per-query window top-k over the scored candidates (thin
       (qid, id, score) rows), same as knn_join's ranking.

    At scale, parallelism of step 2 is bounded by n_cells — size the
    index so n_cells >> cluster cores (e.g. 4096 cells for a 100 TB
    corpus), which is also what keeps cells individually small. Skewed
    cell populations (Lloyd leaves modes uneven) are split by AQE's
    skew-join handling since the join is declarative.

    Approximate exactly like ``ivf_search``: recall < 1 only when true
    neighbors live in unprobed cells; nprobe = n_cells degenerates to
    brute force and must equal ``knn_join`` bit-for-bit (asserted in
    tests/test_similarity.py).
    """
    from pyspark.sql import Window

    q = queries.select(
        F.col(query_id_col).alias("_qid"),
        F.col(vec_col).alias("_qv"),
        norm(F.col(vec_col)).alias("_qn"),
    )
    cscored = q.crossJoin(F.broadcast(centroids)).select(
        "_qid",
        "_qv",
        "_qn",
        "cell",
        cosine(F.col("_qv"), F.col("centroid")).alias("_csim"),
    )
    wq = Window.partitionBy("_qid").orderBy(F.col("_csim").desc(), F.col("cell"))
    probes = (
        cscored.withColumn("_r", F.row_number().over(wq))
        .filter(F.col("_r") <= nprobe)
        .select("_qid", "_qv", "_qn", "cell")
    )
    # corpus norms precomputed ONCE per corpus row (not once per
    # query x corpus candidate)
    corpus = assignments.select(
        "cell", F.col(id_col), F.col(vec_col), norm(F.col(vec_col)).alias("_n")
    )
    cand = corpus.join(probes.hint("shuffle_hash"), "cell")
    scored = cand.select(
        F.col("_qid").alias(query_id_col),
        F.col(id_col),
        F.round(dot(F.col(vec_col), F.col("_qv")) / (F.col("_n") * F.col("_qn")), 6).alias(
            "cos_sim"
        ),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("cos_sim").desc(), F.col(id_col))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(query_id_col, id_col, "cos_sim", F.col("rnk").cast("bigint").alias("rnk"))
    )


def ivf_knn_join_from_disk(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Batched IVF join against a PERSISTED index (``ivf_write``
    layout): the probed-cell union is collected (metadata-sized — at
    most n_cells ints) and applied as an IN-list on the partition
    column, so the scan reads only the probed cells' directories
    (PartitionFilters, asserted in tests). For a query workload
    touching a fraction of cells this is a fractional SCAN on top of
    ivf_knn_join's fractional compute; a workload probing every cell
    degenerates to a full scan — exactly the right cost either way.
    Scoring then reuses ivf_knn_join on the pruned vectors."""
    centroids = spark.read.parquet(f"{path}/centroids")
    q = queries.select(F.col(query_id_col).alias("_qid"), F.col(vec_col).alias("_qv"))
    from pyspark.sql import Window

    cscored = q.crossJoin(F.broadcast(centroids)).select(
        "_qid", "cell", cosine(F.col("_qv"), F.col("centroid")).alias("_csim")
    )
    wq = Window.partitionBy("_qid").orderBy(F.col("_csim").desc(), F.col("cell"))
    cells = [
        r.cell
        for r in cscored.withColumn("_r", F.row_number().over(wq))
        .filter(F.col("_r") <= nprobe)
        .select("cell")
        .distinct()
        .collect()
    ]
    vectors = spark.read.parquet(f"{path}/vectors").filter(F.col("cell").isin(cells))
    return ivf_knn_join(
        vectors,
        centroids,
        queries,
        k=k,
        nprobe=nprobe,
        id_col=id_col,
        vec_col=vec_col,
        query_id_col=query_id_col,
    )


def _dim_of(vectors: DataFrame, vec_col: str) -> int:
    """Embedding dimensionality from the first row (index build time
    only — not in any per-row path)."""
    row = vectors.select(F.size(F.col(vec_col)).alias("d")).first()
    return int(row["d"])


def ivf_write(
    assignments: DataFrame,
    centroids: DataFrame,
    path: str,
) -> None:
    """Persist an IVF index: vectors partitioned BY CELL on disk plus a
    centroid sidecar. A probe then reads only nprobe of n_cells
    partition directories — Catalyst partition pruning turns the ANN
    probe into a fractional scan (the disk-backed scale path)."""
    assignments.write.mode("overwrite").partitionBy("cell").parquet(f"{path}/vectors")
    centroids.write.mode("overwrite").parquet(f"{path}/centroids")


def ivf_probe_from_disk(
    spark,
    path: str,
    query: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Search a persisted IVF index. The cell filter is an IN-list on
    the partition column, so the scan touches only the nprobe
    directories (verify: PartitionFilters in the plan)."""
    centroids = spark.read.parquet(f"{path}/centroids")
    q = F.broadcast(query.select(F.col(vec_col).alias("_qv")))
    probe_cells = [
        r.cell
        for r in centroids.crossJoin(q)
        .select("cell", cosine(F.col("centroid"), F.col("_qv")).alias("_sim"))
        .orderBy(F.col("_sim").desc(), F.col("cell"))
        .limit(nprobe)
        .collect()
    ]
    vectors = spark.read.parquet(f"{path}/vectors").filter(F.col("cell").isin(probe_cells))
    qn = F.broadcast(query.select(norm(F.col(vec_col)).alias("_qn")))
    return (
        vectors.withColumn("_n", norm(F.col(vec_col)))
        .crossJoin(q)
        .crossJoin(qn)
        .select(
            F.col(id_col),
            F.round(dot(F.col(vec_col), F.col("_qv")) / (F.col("_n") * F.col("_qn")), 6).alias(
                "cos_sim"
            ),
        )
        .orderBy(F.col("cos_sim").desc(), F.col(id_col))
        .limit(k)
    )


def quantize_int8(
    df: DataFrame,
    id_col: str,
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-vector symmetric int8 quantization: ``scale = max|v|/127``,
    ``q_i = floor(v_i/scale + 0.5)`` — the storage/transfer shrink for
    embedding corpora (float32 -> int8 is the standard 4x before ANN).

    Every step is IEEE double arithmetic (cast-up from float32 is
    exact; ``floor(x + 0.5)`` sidesteps the engines' differing
    round-half conventions) so the quantized codes are bit-identical on
    any engine — the DuckDB oracle reproduces them exactly. Codes are
    emitted as a CSV string (portable across the driver's value
    hasher); ``max_err`` is the reconstruction check, bounded by
    scale/2 by construction.

    Scale shape: narrow map-only scan — no shuffle, no UDF.
    """
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    max_abs = F.array_max(F.transform(v, lambda x: F.abs(x)))
    scale = F.greatest(max_abs, F.lit(1e-12)) / F.lit(127.0)
    q = F.transform(v, lambda x: F.floor(x / scale + F.lit(0.5)).cast("int"))
    recon_err = F.array_max(
        F.zip_with(q, v, lambda qi, xi: F.abs(qi.cast("double") * scale - xi))
    )
    return df.select(
        F.col(id_col),
        F.size(F.col(vec_col)).cast("long").alias("n_dims"),
        F.round(scale, 9).alias("scale"),
        F.array_join(q, ",").alias("q_csv"),
        F.round(recon_err, 9).alias("max_err"),
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) — compressed-domain ANN, the third leg of
# the similarity surface after brute-force kNN and IVF (Jégou et al.,
# "Product Quantization for Nearest Neighbor Search", TPAMI 2011).
# ---------------------------------------------------------------------------
def _subvectors(
    vectors: DataFrame, id_col: str, vec_col: str, m: int, d_sub: int
) -> DataFrame:
    """(_id, sub, subvec): each vector split into its ``m`` subspace
    slices of ``d_sub`` coordinates, one row per slice."""
    return vectors.select(
        F.col(id_col).alias("_id"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("sub"),
                        F.slice(F.col(vec_col), j * d_sub + 1, d_sub).alias("subvec"),
                    )
                    for j in range(m)
                ]
            )
        ).alias("_s"),
    ).select("_id", F.col("_s.sub").alias("sub"), F.col("_s.subvec").alias("subvec"))


def pq_train(
    vectors: DataFrame,
    m: int = 8,
    k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    refine_iterations: int = 1,
    cut_lineage: bool = True,
    portable: bool = False,
) -> DataFrame:
    """Train a PQ codebook: the embedding splits into ``m`` equal
    subvectors; each subspace gets ``k`` centroids via the SAME
    deterministic hash-seed + Lloyd recipe as ivf_build, but ALL
    subspaces train in one pass each round — the subvectors explode to
    (id, sub, subvec) rows and every aggregation groups on (sub,
    cell), so m never multiplies the number of jobs.

    ``portable=True`` swaps the xxhash64 seed sample for the
    Knuth-hash pmod algebra (sample gate) + md5-hex ordering (seed
    rank), and Lloyd means for exact decimal images — all
    reproducible in any engine. With ``refine_iterations=0`` the
    codebook is the seed DATA POINTS themselves (float32 coords cast
    to double — exact, no arithmetic to diverge), so a DuckDB oracle
    replays the WHOLE compressed-ANN pipeline (codebook, encode, ADC
    shortlist, exact re-rank) bit-for-bit (queries.py:
    ann_pq_portable).

    Returns centroids: (sub, cell, centroid) — m*k rows, metadata-
    sized (the whole codebook for m=8, k=256, dim=64 is 128 KB).
    """
    from pyspark.sql import Window

    dim = _dim_of(vectors, vec_col)
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    d_sub = dim // m
    sub = _subvectors(vectors, id_col, vec_col, m, d_sub)
    if cut_lineage and refine_iterations:
        # the seed-sample window job and every refine round's assign
        # read the subvectors in separate actions; uncut, each re-ran the
        # scan+explode (r16). ivfpq_build passes False: its residual
        # input is already cut, and a second vector-scale cut on top
        # measured 1.19x slower (r17 A/B).
        sub = materialize(sub, "pq_train: subvectors")

    # Seed with ACTUAL data points (hash-ranked sample per subspace),
    # not hash-group means: k-means on a mixture seeds best from
    # spread points — means of arbitrary hash groups all collapse to
    # the global subspace mean and Lloyd then empties most cells.
    n = vectors.count()  # index build time only, like _dim_of
    sample_mod = max(1, n // (k * 20))
    if portable:
        from cascading_hive_spark.operators.sampling import hash_order

        gate = F.pmod(hash_order(F.col("_id")), F.lit(sample_mod))
        rank = F.md5(F.concat(F.lit("pqseed|"), F.col("_id").cast("string")))
    else:
        gate = F.pmod(F.abs(F.xxhash64("_id")), F.lit(sample_mod))
        rank = F.abs(F.xxhash64(F.col("_id"), F.lit(1)))
    w_seed = Window.partitionBy("sub").orderBy(rank, F.col("_id"))
    centroids = materialize(
        sub.filter(gate == 0)
        .withColumn("_rn", F.row_number().over(w_seed))
        .filter(F.col("_rn") <= k)
        .select(
            "sub",
            (F.col("_rn") - 1).alias("cell"),
            F.transform("subvec", lambda x: x.cast("double")).alias("centroid"),
        ),
        "pq_train: centroids seed",
    )
    for i in range(refine_iterations):
        assigned = _pq_assign(sub, centroids, d_sub)
        centroids = materialize(_mean_centroids(
            assigned, ["sub", "cell"], "subvec", d_sub, portable
        ), f"pq_train: centroids iter {i + 1}")
    return centroids
def _pq_assign_cells(sub: DataFrame, centroids: DataFrame, d_sub: int) -> DataFrame:
    """Nearest centroid per (id, sub) by L2 -> (_id, sub, cell).

    Broadcast the m*k codebook, explode to scored candidates, argmin
    via ``min`` over a (distance, cell) struct — struct ordering IS
    the tie-broken argmin, and the aggregation buffer is 16 bytes per
    group. Distances are UNROLLED d_sub-term arithmetic (plain codegen),
    not a zip_with/aggregate fold (interpreted per element — at
    n*m*k scored rows the fold was the entire wall time), and the
    subvectors are NOT carried through the aggregation (a first()-of-
    array accumulator put whole subvecs in every partial-agg buffer
    and OOM'd the 1M smoke); the shuffle carries (id, sub, 16-byte
    struct) only."""
    terms = [
        (F.get("subvec", i).cast("double") - F.get("centroid", i))
        for i in range(d_sub)
    ]
    d2 = sum((t * t for t in terms), F.lit(0.0))
    scored = sub.join(F.broadcast(centroids), "sub").select(
        "_id", "sub", F.struct(d2.alias("d"), F.col("cell").alias("c")).alias("_key")
    )
    return (
        scored.groupBy("_id", "sub")
        .agg(F.min("_key").alias("_k"))
        .select("_id", "sub", F.col("_k.c").alias("cell"))
    )


def _pq_assign(sub: DataFrame, centroids: DataFrame, d_sub: int) -> DataFrame:
    """Cell assignment WITH subvectors re-attached (the Lloyd mean
    step needs them): thin argmin first, then an equi-join back to
    the subvector table on (id, sub)."""
    cells = _pq_assign_cells(sub, centroids, d_sub)
    return sub.join(cells, ["_id", "sub"]).select("_id", "sub", "subvec", "cell")


def pq_encode(
    vectors: DataFrame,
    centroids: DataFrame,
    m: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Compress every vector to its m-byte code array (sub -> nearest
    cell), ordered by subspace: (id, codes array<int>). One shuffle on
    the id to reassemble codes; at 100 TB the codes table is dim/m *
    8x smaller than the raw embeddings (64-dim float -> 8 bytes)."""
    dim = _dim_of(vectors, vec_col)
    d_sub = dim // m
    sub = _subvectors(vectors, id_col, vec_col, m, d_sub)
    assigned = _pq_assign_cells(sub, centroids, d_sub)
    return (
        assigned.groupBy("_id")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("sub"), F.col("cell")))
                ),
                lambda s: s["cell"],
            ).alias("codes")
        )
        .select(F.col("_id").alias(id_col), "codes")
    )


def pq_search(
    codes: DataFrame,
    centroids_rows: list,
    query_vec: list,
    m: int,
    topk: int = 10,
    id_col: str = "vec_id",
) -> DataFrame:
    """ADC (asymmetric distance) top-k: the query builds an m*k
    lookup table of exact subspace distances DRIVER-SIDE from the
    collected codebook (metadata-sized by construction — the same
    budget as IVF's nprobe cell-id collect), embedded as a map
    literal; scoring each code row is then ONE narrow scan —
    element_at per subspace, no join, no shuffle — feeding
    TakeOrderedAndProject."""
    lut: dict[tuple[int, int], float] = {}
    d_sub = len(query_vec) // m
    for r in centroids_rows:
        q = query_vec[r["sub"] * d_sub : (r["sub"] + 1) * d_sub]
        lut[(r["sub"], r["cell"])] = float(
            sum((a - b) * (a - b) for a, b in zip(q, r["centroid"]))
        )
    # FLAT array literal indexed sub*k_max+cell: array element_at is
    # O(1) and the m-term sum is plain codegen arithmetic (a map
    # literal's GetMapValue scans all m*k entries per lookup, and a
    # HOF fold is interpreted — both dominated scan time).
    k_max = max(c for (_, c) in lut) + 1
    flat = [float(lut.get((s_, c_), float("inf"))) for s_ in range(m) for c_ in range(k_max)]
    lut_col = F.lit(flat)
    dist = sum(
        (
            F.get(lut_col, F.lit(j * k_max) + F.get("codes", j))
            for j in range(m)
        ),
        F.lit(0.0),
    )
    return (
        codes.select(F.col(id_col), dist.alias("adc_dist"))
        .orderBy(F.col("adc_dist").asc(), F.col(id_col))
        .limit(topk)
    )


def pq_search_rerank(
    codes: DataFrame,
    vectors: DataFrame,
    centroids_rows: list,
    query_vec: list,
    m: int,
    topk: int = 10,
    shortlist: int = 200,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ the way it is deployed: ADC shortlist -> EXACT re-rank.
    ADC distances cannot resolve differences below the quantization
    noise (cluster-mates all score ~equal), so the compressed scan
    only SHORTLISTS ``shortlist`` candidates; the exact L2 re-rank
    touches raw embeddings for those ids alone (broadcast semi-join —
    re-rank cost ∝ shortlist, not corpus). Returns (id, dist) top-k
    by exact distance."""
    short = pq_search(
        codes, centroids_rows, query_vec, m, topk=shortlist, id_col=id_col
    ).select(id_col)
    qlit = F.lit([float(x) for x in query_vec]).cast("array<double>")
    exact = (
        vectors.join(F.broadcast(short), id_col, "left_semi")
        .select(
            F.col(id_col),
            F.aggregate(
                F.zip_with(F.col(vec_col), qlit, lambda a, b: (a - b) * (a - b)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("dist"),
        )
    )
    return exact.orderBy(F.col("dist").asc(), F.col(id_col)).limit(topk)


# ---------------------------------------------------------------------------
# IVF-PQ: coarse inverted lists + residual product quantization —
# the composition used for billion-scale ANN (FAISS IVFPQ layout):
# probe a few cells, ADC-score 8-byte codes inside them, re-rank.
# ---------------------------------------------------------------------------
def ivfpq_build(
    vectors: DataFrame,
    n_cells: int = 64,
    m: int = 8,
    k: int = 256,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    portable: bool = False,
):
    """Build an IVF-PQ index: ivf_build's coarse cells, then PQ
    codebooks trained on the RESIDUALS (vector minus its cell
    centroid — residuals concentrate near zero, so a shared codebook
    quantizes them far better than raw vectors). Returns
    (index, coarse_centroids, pq_centroids) where index is
    (id, cell, codes) — at 100 TB you'd write it
    ``partitionBy("cell")`` so probes prune to nprobe directories,
    8 bytes + a cell id per vector.

    ``portable=True`` builds the seed-only index (no Lloyd rounds in
    either stage) from the portable ``ivf_build`` and ``pq_train``;
    residuals are plain double subtraction (exact), so every
    arithmetic step replays in SQL and the composite index layout
    (coarse cell + 8-byte residual code) gets a bit-for-bit DuckDB
    twin (queries.py: ann_ivfpq_portable)."""
    refine = 0 if portable else 1
    # assignments (cut in ivf_build) and residuals feed MANY separate
    # actions — pq_train alone runs up to four (dim probe, count, seed
    # cut, refine round), then pq_encode and the index join; uncut, the
    # coarse E-step re-ran per action (r16). At warehouse scale this is
    # the partitionBy("cell") write the docstring names.
    assignments, coarse = ivf_build(
        vectors,
        n_cells,
        id_col=id_col,
        vec_col=vec_col,
        refine_iterations=refine,
        portable=portable,
    )
    residuals = materialize(assignments.join(F.broadcast(coarse), "cell").select(
        F.col(id_col),
        "cell",
        F.zip_with(
            F.col(vec_col), "centroid", lambda a, b: (a.cast("double") - b)
        ).alias(vec_col),
    ), "ivfpq_build: residuals")
    pq_cent = pq_train(
        residuals,
        m=m,
        k=k,
        id_col=id_col,
        vec_col=vec_col,
        refine_iterations=refine,
        cut_lineage=False,
        portable=portable,
    )
    codes = pq_encode(residuals, pq_cent, m=m, id_col=id_col, vec_col=vec_col)
    index = assignments.select(id_col, "cell").join(codes, id_col)
    return index, coarse, pq_cent
def ivfpq_search(
    index: DataFrame,
    coarse_rows: list,
    pq_rows: list,
    query_vec: list,
    m: int,
    nprobe: int = 8,
    topk: int = 10,
    shortlist: int = 200,
    vectors: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Search an IVF-PQ index: rank cells by coarse distance
    DRIVER-SIDE (n_cells rows — metadata), keep ``nprobe``; build one
    ADC lookup table PER PROBED CELL from the query's residual
    against that cell's centroid; score only the probed cells' rows
    (a cell-pruned scan — the fraction nprobe/n_cells of the corpus)
    with a flat array-literal LUT indexed (cell_slot, sub, code);
    TakeOrdered a shortlist; exact re-rank against raw vectors when
    ``vectors`` is given."""
    d = len(query_vec)
    # (x)*(x), not x**2: C pow() is not guaranteed correctly rounded,
    # and the portable twin (ann_ivfpq_portable) needs this ranking
    # bit-reproducible in SQL arithmetic
    cell_dist = sorted(
        (
            sum(
                (query_vec[i] - r["centroid"][i]) * (query_vec[i] - r["centroid"][i])
                for i in range(d)
            ),
            r["cell"],
            r["centroid"],
        )
        for r in coarse_rows
    )
    probed = cell_dist[:nprobe]
    d_sub = d // m
    k_max = max(r["cell"] for r in pq_rows) + 1
    pq_by = {(r["sub"], r["cell"]): r["centroid"] for r in pq_rows}
    flat: list[float] = []
    slot_of = {}
    for slot, (_, cell, centroid) in enumerate(probed):
        slot_of[cell] = slot
        resid = [query_vec[i] - centroid[i] for i in range(d)]
        for j in range(m):
            q = resid[j * d_sub : (j + 1) * d_sub]
            for c in range(k_max):
                cen = pq_by.get((j, c))
                flat.append(
                    float("inf")
                    if cen is None
                    else float(sum((a - b) * (a - b) for a, b in zip(q, cen)))
                )
    lut_col = F.lit(flat)
    slot_expr = F.lit(None).cast("int")
    for cell, slot in slot_of.items():
        slot_expr = F.when(F.col("cell") == cell, slot).otherwise(slot_expr)
    pruned = index.filter(F.col("cell").isin([c for _, c, _ in probed]))
    base = F.col("_slot") * (m * k_max)
    dist = sum(
        (
            F.get(lut_col, base + j * k_max + F.get("codes", j))
            for j in range(m)
        ),
        F.lit(0.0),
    )
    short = (
        pruned.withColumn("_slot", slot_expr)
        .select(F.col(id_col), dist.alias("adc_dist"))
        .orderBy(F.col("adc_dist").asc(), F.col(id_col))
        .limit(shortlist if vectors is not None else topk)
    )
    if vectors is None:
        return short
    qlit = F.lit([float(x) for x in query_vec]).cast("array<double>")
    exact = vectors.join(F.broadcast(short.select(id_col)), id_col, "left_semi").select(
        F.col(id_col),
        F.aggregate(
            F.zip_with(F.col(vec_col), qlit, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("dist"),
    )
    return exact.orderBy(F.col("dist").asc(), F.col(id_col)).limit(topk)


def ivfpq_write(
    index: DataFrame,
    coarse: DataFrame,
    pq_centroids: DataFrame,
    path: str,
) -> None:
    """Persist an IVF-PQ index — the complete 100 TB ANN layout: the
    (id, codes) table partitioned BY COARSE CELL on disk (8 bytes + a
    cell id per vector — dim/m * 8x smaller than raw embeddings) plus
    the two metadata-sized codebook sidecars. A probe then reads only
    nprobe of n_cells partition directories of COMPRESSED codes:
    fractional scan x compressed rows, the multiplicative cost win
    IVF-on-raw-vectors (``ivf_write``) leaves on the table."""
    index.write.mode("overwrite").partitionBy("cell").parquet(f"{path}/codes")
    coarse.write.mode("overwrite").parquet(f"{path}/coarse")
    pq_centroids.write.mode("overwrite").parquet(f"{path}/pq")


def ivfpq_probe_from_disk(
    spark,
    path: str,
    query_vec: list,
    m: int,
    nprobe: int = 8,
    topk: int = 10,
    shortlist: int = 200,
    vectors: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Search a persisted IVF-PQ index (``ivfpq_write`` layout). Both
    codebooks are sidecar reads (n_cells and m*k rows — metadata by
    construction); the probed-cell filter is an IN-list on the
    partition column, so the codes scan touches only the nprobe
    directories (PartitionFilters — plan-asserted in
    tests/test_similarity.py::test_ivfpq_disk_index_prunes_partitions)
    before ADC-scoring and, when ``vectors`` is given, exact re-rank
    of the shortlist against raw embeddings (broadcast semi-join)."""
    coarse_rows = spark.read.parquet(f"{path}/coarse").collect()
    pq_rows = spark.read.parquet(f"{path}/pq").collect()
    index = spark.read.parquet(f"{path}/codes")
    return ivfpq_search(
        index,
        coarse_rows,
        pq_rows,
        query_vec,
        m,
        nprobe=nprobe,
        topk=topk,
        shortlist=shortlist,
        vectors=vectors,
        id_col=id_col,
        vec_col=vec_col,
    )


def ivf_append(
    spark,
    path: str,
    new_vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Append new vectors to a PERSISTED IVF index (``ivf_write``
    layout) without a rebuild — the daily-arrival maintenance path:
    assign each new vector to its nearest EXISTING centroid (broadcast
    of the sidecar, one narrow pass) and append into the matching cell
    partitions. Probes see the new vectors immediately; cost ∝ the
    increment, never the corpus. Centroids drift as the distribution
    shifts — re-run ivf_build/ivf_write when recall degrades (the
    standard reindex cadence), exactly as FAISS add() vs retrain.
    An empty increment is a legitimate daily arrival: no-op (the
    increment is cached around the emptiness probe so an expensive
    upstream plan is not evaluated twice — ADVICE r9)."""
    owned_cache = not new_vectors.is_cached
    if owned_cache:
        new_vectors.persist()
    try:
        if new_vectors.isEmpty():
            return
        centroids = spark.read.parquet(f"{path}/centroids")
        assigned = _assign_cells(new_vectors, centroids, id_col, vec_col)
        assigned.select(id_col, vec_col, "cell").write.mode("append").partitionBy(
            "cell"
        ).parquet(f"{path}/vectors")
    finally:
        if owned_cache:
            new_vectors.unpersist()


def ivfpq_append(
    spark,
    path: str,
    new_vectors: DataFrame,
    m: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Append new vectors to a PERSISTED IVF-PQ index (``ivfpq_write``
    layout): coarse-assign against the existing centroid sidecar,
    compute RESIDUALS, encode with the existing PQ codebook sidecar,
    append 8-byte codes into the matching cell partitions. Increment-
    sized work end-to-end; codebooks are frozen (appendors never
    retrain — quantization error for drifted data grows until the
    scheduled rebuild, the deployed IVF-PQ contract). An empty
    increment is a legitimate daily arrival: no-op (increment cached
    around the emptiness probe, as in ``ivf_append``)."""
    owned_cache = not new_vectors.is_cached
    if owned_cache:
        new_vectors.persist()
    try:
        if new_vectors.isEmpty():
            return
        coarse = spark.read.parquet(f"{path}/coarse")
        pq_cent = spark.read.parquet(f"{path}/pq")
        assigned = _assign_cells(new_vectors, coarse, id_col, vec_col)
        residuals = assigned.join(F.broadcast(coarse), "cell").select(
            F.col(id_col),
            "cell",
            F.zip_with(
                F.col(vec_col), "centroid", lambda a, b: (a.cast("double") - b)
            ).alias(vec_col),
        )
        codes = pq_encode(residuals, pq_cent, m=m, id_col=id_col, vec_col=vec_col)
        index = residuals.select(id_col, "cell").join(codes, id_col)
        index.write.mode("append").partitionBy("cell").parquet(f"{path}/codes")
    finally:
        if owned_cache:
            new_vectors.unpersist()


def label_centroids(
    vectors: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
    sum_scale: int = 7,
    out_scale: int = 6,
) -> DataFrame:
    """Per-label mean vector (the k-means M-step) in LONG FORM:
    one row per (label, dim) with the member count and the rounded
    centroid coordinate — (label, dim, n, centroid).

    posexplode + groupBy(label, dim): the partial aggregation runs
    map-side per partition and the shuffle carries only
    n_labels * dim grouped rows per map task — never vectors — so the
    plan is a single narrow agg at any corpus size. Coordinate sums go
    through a decimal image (round to ``sum_scale``, sum exactly) so
    the mean is order-independent: a float sum would drift with
    partitioning and break engine parity (the q1 discipline)."""
    ex = vectors.select(
        F.col(label_col).alias("label"),
        F.posexplode(F.col(vec_col)).alias("dim", "_val"),
    )
    return (
        ex.groupBy("label", "dim")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr(f"{exact_sum('CAST(_val AS DOUBLE)', sum_scale, 38)} AS _s"),
        )
        .select(
            "label",
            "dim",
            "n",
            F.round(F.col("_s").cast("double") / F.col("n"), out_scale).alias(
                "centroid"
            ),
        )
    )


def centroid_confusion(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    label_col: str = "label",
    vec_col: str = "embedding",
    dist_scale: int = 9,
) -> DataFrame:
    """k-means E-step + confusion matrix: assign every vector to its
    nearest centroid by squared L2 and cross-tabulate the true label
    against the assignment — (label, assigned_label, n).

    ``centroids`` is ``label_centroids`` long-form output (label, dim,
    centroid) — metadata-sized (k * dim rows), so it broadcasts as a
    k-row cell-array table. The assignment is fully relational
    (``cell_distances``: one decimal dim-fold per (vector, candidate)
    pair — n*k rows, no explode), and the argmin is a map-side-
    combinable min-struct aggregate. Distances accumulate through a
    decimal image (round((val-c)^2, dist_scale), exact sum) so the
    argmin is order-independent and engine-portable; ties break on
    the lower candidate label. No Python in the loop, no driver
    collect — at 100 TB this is one broadcast join + two key shuffles
    (id for the argmin, label pair for the final count)."""
    base = vectors.select(
        F.col(id_col).alias("_id"),
        F.col(label_col).alias("label"),
        F.col(vec_col).cast("array<double>").alias("_v"),
    )
    d2 = cell_distances(base, centroids, dist_scale)
    assigned = argmin_cell(d2, group_cols=["_id", "label"])
    return assigned.groupBy("label", F.col("cid").alias("assigned_label")).agg(
        F.count(F.lit(1)).alias("n")
    )


def kmeans_fit(
    vectors: DataFrame,
    k: int = 4,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sum_scale: int = 7,
    out_scale: int = 6,
    dist_scale: int = 9,
) -> DataFrame:
    """Iterated Lloyd k-means trainer, ENGINE-PORTABLE: ``iters``
    full E/M rounds from a deterministic hash seeding, returning the
    trained centroids in LONG FORM — (cid, dim, n, centroid) with n =
    final cluster size. Pairs with the ANN index builders: run this
    to convergence, then feed the centroids to ``ivf_write`` /
    ``ivfpq_build`` as curated coarse cells.

    Portability discipline (the ``ivf_build(portable=True)`` /
    ``label_centroids`` trade): seeding is the Knuth multiplicative
    hash of the id (pmod algebra, identical in any engine); every
    mean goes through a decimal image (round coordinates to
    ``sum_scale``, sum exactly, divide, round to ``out_scale``) so
    each round's centroids are bit-identical regardless of
    partitioning or engine; every distance accumulates through
    ``dist_scale`` decimals with argmin ties to the lower cid. A
    plain SQL engine can replay the whole training run as unrolled
    CTEs and hash-match the result (queries.py: embedding_kmeans_fit).

    Scale shape per round: the E-step is one broadcast of the k-cell
    array table onto the vector rows — n*k rows, each a single
    dim-length decimal fold (``cell_distances``; the earlier exploded
    join-on-dim formulation pushed n*dim*k rows through a hash
    aggregate and was the measured budget of BASELINE.md's kmeans
    smoke) — then one map-side-combined argmin aggregate
    (``argmin_cell`` with the vector carried through as an any_value,
    so the M-step posexplodes the carried array — no join back, ONE
    id exchange per round), and one (cid, dim) mean aggregation whose
    map-side partials are k*dim rows per task. Lineage
    hygiene: the centroid table (k*dim rows) is cut with
    ``materialize`` every round, so round N's plan reads the
    parquet scan + one tiny checkpoint instead of N nested E/M graphs.
    Empty clusters keep their previous centroid with n = 0 (left join
    + coalesce — portable, no reseeding randomness).
    """
    from cascading_hive_spark.operators.dedup import spread
    from cascading_hive_spark.operators.sampling import hash_order

    # spread(): a one-file embeddings scan otherwise runs every
    # E-step's n*k decimal distance folds as ONE task (guide §2) —
    # decimal sums and the argmin are partitioning-independent, so
    # centroids are bit-identical
    base = spread(
        vectors.select(
            F.col(id_col).alias("_id"),
            F.col(vec_col).cast("array<double>").alias("_v"),
        )
    )
    ex = base.select("_id", F.posexplode("_v").alias("dim", "_val"))

    def _means(pts: DataFrame) -> DataFrame:
        return (
            pts.groupBy("cid", "dim")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.expr(f"{exact_sum('_val', sum_scale, 38)} AS _s"),
            )
            .select(
                "cid",
                "dim",
                F.col("n").cast("bigint").alias("n"),
                F.round(F.col("_s").cast("double") / F.col("n"), out_scale).alias(
                    "centroid"
                ),
            )
        )

    centroids = materialize(_means(
        ex.withColumn("cid", F.pmod(hash_order(F.col("_id")), F.lit(k)))
    ), "kmeans_fit: centroids seed")
    for i in range(iters):
        # E-step carries the vector THROUGH the argmin aggregate
        # (keep_vec/carry_vec), so the M-step posexplodes the carried
        # array instead of joining the n*dim exploded table back on
        # _id — one id exchange per round instead of two, and the
        # n*dim rows never shuffle (guide §2.4). Decimal-image sums
        # make the formulations bit-identical.
        assign = argmin_cell(
            cell_distances(base, centroids, dist_scale, keep_vec=True),
            carry_vec=True,
        )
        means = _means(assign.select("cid", F.posexplode("_v").alias("dim", "_val")))
        prior = centroids.select("cid", "dim", F.col("centroid").alias("_prev"))
        centroids = materialize(
            prior.join(means, ["cid", "dim"], "left").select(
                "cid",
                "dim",
                F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n"),
                F.coalesce(F.col("centroid"), F.col("_prev")).alias("centroid"),
            ),
            f"kmeans_fit: centroids iter {i + 1}",
        )
    return centroids


def centroids_to_cells(centroids_long: DataFrame) -> DataFrame:
    """Convert ``kmeans_fit``/``label_centroids`` LONG-form centroids
    (cid|label, dim, centroid) into the (cell, centroid array) table
    the IVF machinery consumes — array_agg ordered by dim (the table
    is k*dim rows, so this is metadata-sized work)."""
    key = "cid" if "cid" in centroids_long.columns else "label"
    return (
        centroids_long.groupBy(F.col(key).alias("cell"))
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("dim"), F.col("centroid")))
            ).alias("_dc")
        )
        .select(
            "cell", F.col("_dc.centroid").cast("array<double>").alias("centroid")
        )
    )


def cell_distances(
    base: DataFrame,
    centroids_long: DataFrame,
    dist_scale: int = 9,
    keep_vec: bool = False,
) -> DataFrame:
    """Squared-L2 image of every vector against every centroid: input
    ``base`` carries ``_v`` (array<double>) plus any pass-through
    columns; output replaces ``_v`` with one row per centroid —
    (*pass-through, _ccid, _d2), ``_d2`` the BIGINT unscaled value of
    the exact decimal sum over dims of (val-c)^2 at ``dist_scale``
    (``operators.exact``; order and equality are the decimal's).

    ONE ARRAY FOLD per (vector, centroid) pair over a broadcast
    (k-row) cell table — n*k rows total, versus the exploded
    join-on-dim formulation's n*dim*k rows through a hash aggregate
    (the E-step fan-out BASELINE.md's kmeans smoke isolated as the
    trainer's budget). Bit-identical to the exploded image sum: each
    element is the exact image and long addition is exact and
    order-independent. Centroid ids come from ``centroids_long``'s
    cid/label column (``centroids_to_cells`` resolves which).
    """
    cells = centroids_to_cells(centroids_long).select(
        F.col("cell").alias("_ccid"), F.col("centroid").alias("_cv")
    )
    sq = image("(a - b) * (a - b)", dist_scale)
    d2 = F.expr(f"aggregate(zip_with(_v, _cv, (a, b) -> {sq}), 0L, (acc, e) -> acc + e)")
    keep = [c for c in base.columns if c != "_v"]
    if keep_vec:
        # let ``_v`` ride the scored rows so a downstream argmin can
        # carry the vector through its aggregate (any_value — every
        # row of an id-group holds the identical array) instead of the
        # consumer joining the vectors back on _id, which re-shuffles
        # the whole vector table per E-step (guide §2.4)
        keep.append("_v")
    return base.crossJoin(F.broadcast(cells)).select(
        *keep, "_ccid", d2.alias("_d2")
    )


def argmin_cell(
    d2: DataFrame,
    group_cols: list[str] | None = None,
    carry_vec: bool = False,
) -> DataFrame:
    """Per-group nearest centroid from ``cell_distances`` output:
    min over struct(_d2, _ccid) — (d2 asc, ties to the lower cid),
    the exact order the trainer's row_number window used, but as a
    map-side-combinable aggregate (one partial row per group per task
    instead of a full-row window sort). Returns (*group_cols, cid);
    with ``carry_vec`` (pairs with cell_distances ``keep_vec``) the
    vector rides the same aggregate as an any_value — value-
    deterministic, every row of a group holds the identical array —
    so consumers get (*group_cols, _v, cid) without re-joining the
    vector table on _id (one exchange instead of two, guide §2.4)."""
    keys = list(group_cols or ["_id"])
    aggs = [F.min(F.struct("_d2", "_ccid")).alias("_m")]
    if carry_vec:
        aggs.insert(0, F.any_value(F.col("_v")).alias("_v"))
    out = d2.groupBy(*keys).agg(*aggs)
    cols = [*keys] + (["_v"] if carry_vec else [])
    return out.select(*cols, F.col("_m._ccid").alias("cid"))


def ivf_build_from_kmeans(
    vectors: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """IVF index with kmeans_fit-trained coarse cells — the trained
    alternative to ``ivf_build``'s single-Lloyd-step seeding: run the
    iterated trainer, lift its long-form centroids into cell arrays,
    and assign every vector to its nearest cell. Returns
    (assignments, centroids) exactly like ``ivf_build``, so the
    result feeds ``ivf_write`` / ``ivf_search`` / ``ivf_append``
    unchanged. Tighter cells raise probe recall at equal nprobe; cost
    is ``iters`` extra E/M rounds at build time (see kmeans_fit's
    scale notes)."""
    cents = centroids_to_cells(kmeans_fit(vectors, k=k, iters=iters,
                                          id_col=id_col, vec_col=vec_col))
    cents = materialize(cents, "ivf_build_from_kmeans: centroids")
    assignments = _assign_cells(vectors, cents, id_col, vec_col)
    return assignments, cents


def kmeans_inertia(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dist_scale: int = 9,
) -> DataFrame:
    """Per-cluster inertia (within-cluster sum of squared L2 distance
    to the assigned centroid) — the k-means training loss, the number
    an elbow plot or convergence check reads after ``kmeans_fit``.
    ``centroids`` is long-form (cid, dim, centroid). Returns
    (cid, n, inertia); clusters that win no vectors are absent.

    Same E-step machinery as the trainer (``cell_distances`` exact
    fold over the broadcast cell table, argmin ties to the lower cid —
    here as a min-struct aggregate carrying the distance), then one
    (cid) aggregation of the EXACT decimal distances, reported as the
    deterministic nearest-double of the 9-decimal sum — no second
    rounding (the bm25 lesson: re-rounding a decimal through double
    sits on half-up boundaries where engines disagree)."""
    base = vectors.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).cast("array<double>").alias("_v"),
    )
    d2 = cell_distances(base, centroids, dist_scale)
    nearest = (
        d2.groupBy("_id")
        .agg(F.min(F.struct("_d2", "_ccid")).alias("_m"))
        .select("_id", F.col("_m._ccid").alias("cid"), F.col("_m._d2").alias("_d2"))
    )
    return nearest.groupBy("cid").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.expr(
            f"CAST({scaled('sum(CAST(_d2 AS DECIMAL(20, 0)))', dist_scale)} AS DOUBLE) AS inertia"
        ),
    )


def standardize_embeddings(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sum_scale: int = 7,
    out_scale: int = 6,
) -> DataFrame:
    """Per-dimension z-score normalization of an embedding column —
    the feature-scaling pass before distance-based work (k-means, ANN
    with L2, drift checks): (id, dim, z) with
    z = (val - mean_dim) / std_dim, population std.

    One aggregation computes per-dim moments (n, decimal-image sums of
    val and val²) — the shuffle carries dim-count rows per map task,
    never vectors — then the tiny moment table broadcasts back onto
    the exploded scan. Moments are exact decimals (order-independent,
    engine-portable); mean/var/z are fixed-order double expressions
    over them, z rounded to ``out_scale`` as the reported image.
    Dimensions with zero variance return NULL z (0/0), surfaced
    rather than masked."""
    ex = vectors.select(
        F.col(id_col).alias("_id"),
        F.posexplode(F.col(vec_col)).alias("dim", "_val"),
    ).select("_id", "dim", F.col("_val").cast("double").alias("_val"))
    mom = ex.groupBy("dim").agg(
        F.count(F.lit(1)).cast("double").alias("_n"),
        F.expr(f"CAST({exact_sum('_val', sum_scale, 38)} AS DOUBLE) AS _s"),
        F.expr(f"CAST({exact_sum('_val * _val', sum_scale, 38)} AS DOUBLE) AS _ss"),
    )
    mean = F.col("_s") / F.col("_n")
    var = F.col("_ss") / F.col("_n") - mean * mean
    stats = mom.select("dim", mean.alias("_mean"), F.sqrt(var).alias("_std"))
    # explicit NULL for zero-variance dims: under ANSI mode a bare
    # division would THROW on /0, and the oracle mirrors the CASE
    z = F.when(
        F.col("_std") > 0,
        F.round((F.col("_val") - F.col("_mean")) / F.col("_std"), out_scale),
    )
    return ex.join(F.broadcast(stats), "dim").select(
        F.col("_id").alias(id_col), "dim", z.alias("z")
    )


def covariance_matrix_embeddings(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sum_scale: int = 7,
    out_scale: int = 6,
) -> DataFrame:
    """Population covariance of every dimension pair of an embedding
    column — (dim_a, dim_b, cov) for dim_a <= dim_b — the statistics
    pass behind PCA/whitening/OPQ rotation before ANN. ENGINE-PORTABLE
    form: exploded (id, dim, val) rows self-join on id for the pair
    products, all moments accumulate through decimal images
    (order-independent, SQL-replayable), cov is a fixed-order double
    expression S_ab/n - (S_a/n)(S_b/n) rounded once.

    Scale shape (r16 rework): the pair products are generated MAP-SIDE
    — posexplode the vector (the Generate's inferred non-empty filter
    costs one size()), then explode the integer tail sequence
    [dim_a, d) per row and compute each product ONCE after that
    Generate — so the only exchange left is the d(d+1)/2-row partial
    aggregate. The previous formulation self-joined the exploded
    (id, dim, val) table on id: two corpus-scale shuffles plus a
    sort-merge join for pair products that never needed to leave
    their row (measured 1.8x same-JVM on the d=64 bench table).
    Decimal-image sums are order-independent, so the moved arithmetic
    is bit-identical. For wide embeddings use ``pca_components``'s
    Arrow partial-GEMM path (d^2 floats per BATCH, map-only + one
    tiny reduce), which this portable form oracle-checks at small d
    (the dedup fast-path / portable-twin convention).
    """
    ex = vectors.select(
        F.col(id_col).alias("_id"),
        F.posexplode(F.col(vec_col)).alias("dim", "_v"),
    ).select("_id", "dim", F.col("_v").cast("double").alias("_v"))
    m = ex.groupBy("dim").agg(
        F.count(F.lit(1)).cast("double").alias("_n"),
        F.expr(f"CAST({exact_sum('_v', sum_scale, 38)} AS DOUBLE) AS _s"),
    )
    exv = vectors.select(
        F.col(vec_col).alias("_vv"),
        F.posexplode(F.col(vec_col)).alias("dim_a", "_va"),
    )
    pairs = exv.select(
        "dim_a",
        F.col("_va").cast("double").alias("_va"),
        "_vv",
        F.explode(
            F.sequence(F.col("dim_a"), F.size(F.col("_vv")) - 1)
        ).alias("dim_b"),
    )
    p = (
        pairs.select(
            "dim_a",
            "dim_b",
            (F.col("_va") * F.get(F.col("_vv"), F.col("dim_b")).cast("double")).alias("_pr"),
        )
        .groupBy("dim_a", "dim_b")
        .agg(F.expr(f"CAST({exact_sum('_pr', sum_scale, 38)} AS DOUBLE) AS _sp"))
    )
    ma = m.select(F.col("dim").alias("dim_a"), F.col("_n"), F.col("_s").alias("_sa"))
    mb = m.select(F.col("dim").alias("dim_b"), F.col("_s").alias("_sb"))
    return (
        p.join(F.broadcast(ma), "dim_a")
        .join(F.broadcast(mb), "dim_b")
        .select(
            "dim_a",
            "dim_b",
            # + 0.0 normalizes IEEE -0.0 (a near-zero covariance can
            # round to negative zero on one engine and positive zero on
            # the other — repr-distinct under the driver canonicalizer)
            (
                F.round(
                    F.col("_sp") / F.col("_n")
                    - (F.col("_sa") / F.col("_n")) * (F.col("_sb") / F.col("_n")),
                    out_scale,
                )
                + F.lit(0.0)
            ).alias("cov"),
        )
    )


def pca_components(
    vectors: DataFrame,
    vec_col: str = "embedding",
    k: int = 2,
) -> tuple[list[float], list[list[float]]]:
    """Top-``k`` principal components of an embedding column. Returns
    (means[d], components[k][d]) as plain Python lists — a d x d
    metadata-sized sidecar, the codebook convention of the PQ/IVF
    family.

    Scale shape: ONE map-only Arrow pass computes per-batch partial
    GEMMs (X^T X, column sums, count — d^2 floats per BATCH, not per
    row), a d^2-row aggregate reduces them, and the d x d eigensolve
    runs on the driver (numpy eigh; d <= a few thousand is trivial).
    Nothing data-sized ever reaches the driver. Eigenvector sign is
    fixed deterministically (largest-|coordinate| positive) so
    projections are reproducible run to run; float partials make the
    components reproducible to ~1e-12, not bit-exact — the exact
    cross-engine object is covariance_matrix_embeddings' decimal-image
    twin.
    """
    import numpy as np

    first = vectors.select(vec_col).first()
    if first is None:
        raise ValueError("pca_components: empty input")
    d = len(first[0])
    if not 1 <= k <= d:
        raise ValueError(f"k must be in [1, {d}], got {k}")

    def _partials(it):
        import numpy as np
        import pandas as pd

        tot = np.zeros((d, d))
        sv = np.zeros(d)
        n = 0
        for pdf in it:
            if not len(pdf):
                continue
            mat = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]],
                dtype=np.float64,
            )
            tot += mat.T @ mat
            sv += mat.sum(axis=0)
            n += mat.shape[0]
        ii, jj, ss = [], [], []
        for i in range(d):
            ii.append(i)
            jj.append(-1)
            ss.append(float(sv[i]))
        ii.append(-1)
        jj.append(-1)
        ss.append(float(n))
        for i in range(d):
            for j in range(d):
                ii.append(i)
                jj.append(j)
                ss.append(float(tot[i, j]))
        yield pd.DataFrame({"i": ii, "j": jj, "s": ss})

    rows = (
        vectors.select(vec_col)
        .mapInPandas(_partials, "i int, j int, s double")
        .groupBy("i", "j")
        .agg(F.sum("s").alias("s"))
        .collect()
    )
    vals = {(r.i, r.j): r.s for r in rows}
    n = vals[(-1, -1)]
    mu = np.array([vals[(i, -1)] for i in range(d)]) / n
    xtx = np.array([[vals[(i, j)] for j in range(d)] for i in range(d)])
    cov = xtx / n - np.outer(mu, mu)
    evals, evecs = np.linalg.eigh(cov)  # ascending
    comps = []
    for idx in np.argsort(evals)[::-1][:k]:
        v = evecs[:, idx]
        if v[int(np.argmax(np.abs(v)))] < 0:
            v = -v
        comps.append([float(x) for x in v])
    return [float(x) for x in mu], comps


def pca_project(
    vectors: DataFrame,
    means: list[float],
    components: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_scale: int = 4,
) -> DataFrame:
    """Project embeddings onto PCA components: (id, pc1..pck), each
    pc rounded to ``out_scale``. Map-only Arrow pass (one batched
    (X - mu) @ W^T matmul per Arrow batch — never a per-row Python
    UDF, never a fold-lambda chain per component, which would hit the
    same-shape-HOF-collapse trap documented in operators/dedup.py)."""
    import numpy as np

    k = len(components)
    w = np.asarray(components, dtype=np.float64)
    mu = np.asarray(means, dtype=np.float64)
    cols = ", ".join(f"pc{i + 1} double" for i in range(k))
    schema = f"{id_col} long, {cols}"

    def _proj(it):
        import numpy as np
        import pandas as pd

        for pdf in it:
            if not len(pdf):
                continue
            mat = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]],
                dtype=np.float64,
            )
            proj = np.round((mat - mu) @ w.T, out_scale)
            out = {id_col: pdf[id_col]}
            for i in range(k):
                out[f"pc{i + 1}"] = proj[:, i]
            yield pd.DataFrame(out)

    return vectors.select(id_col, vec_col).mapInPandas(_proj, schema)


def knn_density(
    vectors: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Mean cosine similarity of each vector to its ``k`` nearest
    neighbors (self excluded) — the kNN-density / prototypicality
    signal data-pruning curricula rank on (Sorscher et al. 2022,
    "Beyond neural scaling laws"; the density cousin of SemDeDup's
    within-cluster redundancy): a HIGH density vector sits in a
    crowded region (redundant — prune first), a LOW density vector is
    an outlier (or noise). Returns ``(id, knn_density, n_neighbors)``;
    ``n_neighbors < k`` only when the corpus has fewer than k+1 rows.

    EXACT brute-force path, routed through the blocked GEMM machinery
    as ONE synthetic cell with every vector assigned to it (r16): the
    previous formulation broadcast the corpus against itself and ran
    the per-pair JVM zip_with/aggregate fold for ALL n^2 cosines —
    exactly the every-row-is-a-query shape the r13 measurement showed
    ~6x slower than a chunked numpy GEMM candidate ranker (45.5s at
    the bench SF; the single-cell route reads the same answers from
    the identical exact left-to-right folds the blocked path applies
    to its survivors — pinned bit-for-bit by
    tests/test_similarity.py::test_knn_density_matches_numpy and the
    full-replay SQL oracle). Same practical bound as before: the one
    cell's task holds the whole corpus (<~10 MB of vectors, the
    knn_join broadcast bound); past that, ``knn_density_blocked``
    with a real IVF index is the scale path — so ``max_cell`` is
    disabled here, matching the old path's no-guard behavior.
    """
    row = vectors.select(F.size(F.col(vec_col)).alias("d")).first()
    # empty corpus: the centroid is never compared to anything, any
    # dim works — keep the empty-in/empty-out contract
    dim = int(row["d"]) if row is not None else 1
    spark = vectors.sparkSession
    cents = spark.createDataFrame(
        [(0, [1.0] * dim)], "cell int, centroid array<double>"
    )
    assignments = vectors.select(F.col(id_col), F.col(vec_col)).withColumn(
        "cell", F.lit(0)
    )
    return knn_density_blocked(
        assignments,
        cents,
        k=k,
        nprobe=1,
        id_col=id_col,
        vec_col=vec_col,
        max_cell=None,
    )


def knn_density_blocked(
    assignments: DataFrame,
    centroids: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cell: int = 100_000,
) -> DataFrame:
    """``knn_density`` past the broadcast bound: candidates come from
    an IVF index (``ivf_build``, either hash family) instead of
    the full cross product — each vector is scored only against the
    ``nprobe`` cells nearest it, so pair work is the nprobe/n_cells
    fraction of brute force. Approximate the same way IVF search is:
    a true neighbor in an unprobed cell is unseen, which BIASES
    DENSITY DOWN for vectors near cell boundaries — differential-gated
    against the exact path in tests/test_similarity.py. nprobe =
    n_cells degenerates to brute force and must equal ``knn_density``
    bit-for-bit (same gate).

    Plan shape (the semantic_dedup_pairs formulation — full-corpus
    density is |corpus| x nprobe x cell pair work, far past where a
    per-pair HOF fold is sane; the expression-per-pair version
    measured ~6x slower on 2k x 64 at the bench SF):

    1. probe selection: broadcast-centroid window, (qid, cell) thin
       rows;
    2. one COGROUPED Arrow task per cell (members x probing queries):
       a chunked (queries x dim) @ (dim x members) GEMM ranks that
       cell's candidates, per-query top-(k + slack) survive
       (slack absorbs BLAS-vs-sequential ulp reorder; if x is in the
       true global top-k, fewer than k candidates beat it anywhere,
       so x is within its own cell's top-k <= top-m) and ONLY those
       get the exact LEFT-TO-RIGHT double fold (the cross-engine
       contract shared with similarity.dot and DuckDB's list_sum);
    3. a per-query window over the <= nprobe * (k + slack) exact-
       scored survivors ranks by the 6-dp-rounded fold (JVM round,
       identical to the exact path and the SQL oracle) and the top k
       average into the density.

    At 100 TB: n_cells >> cluster cores keeps cells small and tasks
    parallel; per-task memory is one query-block x cell sim matrix
    (chunked at ~64 MB) plus the cell's vectors, both bounded by
    ``max_cell`` — the guard RAISES inside the cell task (skyline's
    max_frontier discipline). Density ranking then feeds the prune
    decision (drop the densest q% — Sorscher's prototypicality
    schedule) without any all-pairs stage.
    """
    from pyspark.sql import Window
    from pyspark.sql.types import DoubleType, StructField, StructType

    q0 = assignments.select(
        F.col(id_col).alias("_qid"),
        F.col(vec_col).alias("_qv"),
    )
    cscored = q0.crossJoin(F.broadcast(centroids)).select(
        "_qid",
        "_qv",
        "cell",
        cosine(F.col("_qv"), F.col("centroid")).alias("_csim"),
    )
    wq = Window.partitionBy("_qid").orderBy(F.col("_csim").desc(), F.col("cell"))
    probes = (
        cscored.withColumn("_r", F.row_number().over(wq))
        .filter(F.col("_r") <= nprobe)
        .select("_qid", "_qv", "cell")
    )
    members = assignments.select(
        "cell", F.col(id_col).alias("_mid"), F.col(vec_col).alias("_mv")
    )
    id_type = members.schema["_mid"].dataType
    out_schema = StructType(
        [
            StructField("_qid", id_type),
            StructField("_nbr", id_type),
            StructField("_cos", DoubleType()),
        ]
    )
    m_keep = k + 8  # ulp-reorder slack over the per-cell top-k bound

    def _cell_topm(mem_pdf, probe_pdf):
        import math as _m

        import numpy as np
        import pandas as pd

        empty = pd.DataFrame({"_qid": [], "_nbr": [], "_cos": []})
        c, nq = len(mem_pdf), len(probe_pdf)
        if c == 0 or nq == 0:
            return empty
        if max_cell is not None and c > max_cell:
            raise ValueError(
                f"knn_density_blocked: cell of {c} rows exceeds "
                f"max_cell={max_cell} — raise n_cells (tighter cells), "
                "raise/disable max_cell, or pre-split the corpus"
            )
        mids = mem_pdf["_mid"].tolist()
        mmat = np.asarray(
            [np.asarray(v, dtype=np.float64) for v in mem_pdf["_mv"]],
            dtype=np.float64,
        )
        mnrm = np.sqrt(np.einsum("ij,ij->i", mmat, mmat))
        mnrm[mnrm == 0.0] = 1.0
        # members sorted by id so GEMM ties resolve to the lower nbr id,
        # matching the (cos DESC, nbr) ranking downstream
        order = np.argsort(np.asarray(mids))
        mids = [mids[i] for i in order.tolist()]
        mmat, mnrm = mmat[order], mnrm[order]
        # exact member square-norm folds, hoisted out of the candidate
        # loop: cumsum's recurrence IS the left-to-right IEEE sequence
        # (out[i] = out[i-1] + x[i]), so the last column is bit-for-bit
        # the sequential Python fold it replaces — at C speed, once per
        # member instead of once per (query, candidate) pair
        msq = np.cumsum(mmat * mmat, axis=1)[:, -1]
        qids = probe_pdf["_qid"].tolist()
        out_q, out_n, out_c = [], [], []
        block = max(1, min(nq, 8_388_608 // max(c, 1)))  # ~64 MB sims
        for lo in range(0, nq, block):
            hi = min(lo + block, nq)
            qmat = np.asarray(
                [
                    np.asarray(v, dtype=np.float64)
                    for v in probe_pdf["_qv"].iloc[lo:hi]
                ],
                dtype=np.float64,
            )
            qnrm = np.sqrt(np.einsum("ij,ij->i", qmat, qmat))
            qnrm[qnrm == 0.0] = 1.0
            # exact query square-norm folds for the block (same cumsum
            # = sequential-fold identity as msq above)
            qsq = np.cumsum(qmat * qmat, axis=1)[:, -1]
            sims = (qmat @ mmat.T) / np.outer(qnrm, mnrm)
            for bi in range(hi - lo):
                qid = qids[lo + bi]
                row = sims[bi]
                # stable argsort descending: ties keep ascending-id order
                top = np.argsort(-row, kind="stable")
                if len(top) > m_keep + 1:
                    # extend the cut through every candidate whose
                    # 6-dp-ROUNDED sim ties the m_keep-th one: the
                    # final ranking is by rounded exact fold, so a
                    # rounded tie below the unrounded cut could hold
                    # an oracle-selected lower-id neighbor. round()
                    # is monotone, hence those ties are a prefix of
                    # the descending order and one count suffices.
                    thresh = np.round(row[top[m_keep]], 6)
                    n_keep = int((np.round(row, 6) >= thresh).sum())
                    top = top[: max(n_keep, m_keep + 1)]
                # exact sequential folds — the cross-engine contract —
                # vectorized: one cumsum over (candidates x dim) per
                # query replays every candidate's left-to-right dot
                # bit-for-bit (cumsum identity above); sqrt and divide
                # are the same scalar IEEE ops elementwise, so each
                # candidate's cosine equals the old per-pair Python
                # fold exactly (measured ~1.9x on the sf1 bench row)
                js = np.asarray(
                    [j for j in top.tolist() if mids[j] != qid],
                    dtype=np.int64,
                )
                if js.size == 0:
                    continue
                dots = np.cumsum(qmat[bi] * mmat[js], axis=1)[:, -1]
                cosv = dots / (_m.sqrt(qsq[bi]) * np.sqrt(msq[js]))
                out_q.extend([qid] * int(js.size))
                out_n.extend([mids[j] for j in js.tolist()])
                out_c.extend(cosv.tolist())
        return pd.DataFrame({"_qid": out_q, "_nbr": out_n, "_cos": out_c})

    scored = (
        members.groupBy("cell")
        .cogroup(probes.groupBy("cell"))
        .applyInPandas(_cell_topm, out_schema)
        .select("_qid", "_nbr", F.round(F.col("_cos"), 6).alias("_cos"))
    )
    w = Window.partitionBy("_qid").orderBy(F.col("_cos").desc(), F.col("_nbr"))
    return (
        scored.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= k)
        .groupBy(F.col("_qid").alias(id_col))
        .agg(
            F.round(F.avg("_cos"), 6).alias("knn_density"),
            F.count(F.lit(1)).alias("n_neighbors"),
        )
    )


def pca_power_project(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    steps: int = 8,
    sum_scale: int = 7,
    out_scale: int = 6,
) -> DataFrame:
    """First-principal-component projection, ENGINE-PORTABLE: the
    top eigenvector comes from ``steps`` fixed power-iteration rounds
    on the decimal-image covariance (covariance_matrix_embeddings)
    instead of a driver eigensolve, so the WHOLE computation — moments,
    matvecs, norms, sign fix, projection — is a fixed-order arithmetic
    program a SQL engine replays bit-for-bit as unrolled CTEs
    (queries.py: embedding_pca_power_project). The oracle-able twin of
    ``pca_components``/``pca_project`` (which stay the numeric-quality
    path: numpy eigh, all k components); the output is BY DEFINITION
    the steps-round iterate, deterministic whether or not the
    iteration has converged.

    Portability discipline — BIGINT micro-unit images all the way
    down (stricter than kmeans_fit's decimals, which cross back
    through a DECIMAL->DOUBLE cast whose last-ulp differs between
    engines; the first cut of this operator lost 1 row in 500 to a
    6-dp ROUND tie that cast noise split): every sum accumulates
    round(x * 10^sum_scale) AS BIGINT (exact, order-independent,
    plain long adds), every value that crosses a sum boundary returns
    to double through integer/10^k divisions (single correctly-
    rounded IEEE ops, identical everywhere), and the FINAL 6-dp
    rounding happens in integer arithmetic — half-away-from-zero on
    abs, then truncating div — so no decimal tie can straddle. Sign
    fixes so component[dim 0] >= 0. Magnitude contract: |cov| and
    |projection terms| must stay << 2^53 / 10^sum_scale (embedding-
    scale data by construction; ANSI long-sum overflow raises rather
    than wraps).

    Scale shape: covariance is the only corpus-sized pass (see
    covariance_matrix_embeddings' scale notes — d <= ~64 here; wide
    embeddings take pca_components' Arrow partial-GEMM). The power
    iteration itself runs on METADATA-sized tables (d^2 matrix rows x
    ``steps`` tiny joins, cut with ``materialize`` every round),
    and the projection is one broadcast of the d-row component onto
    the exploded scan + a per-id partial aggregate — vectors never
    shuffle."""
    if steps < 1:
        raise ValueError(f"steps must be >= 1, got {steps}")
    mic = float(10 ** sum_scale)

    def img(x: str):  # exact micro-unit image of a double expression
        y = f"({x}) * {mic!r}D"
        return image(y, 0, fallback=f"CAST(round({y}, 0) AS BIGINT)")

    ex = vectors.select(
        F.col(id_col).alias("_id"),
        F.posexplode(F.col(vec_col)).alias("dim", "_v"),
    ).select("_id", "dim", F.col("_v").cast("double").alias("_v"))
    m = ex.groupBy("dim").agg(
        F.count(F.lit(1)).cast("double").alias("_n"),
        F.expr(f"sum({img('_v')}) AS _s7"),
    ).select(
        "dim",
        (
            (F.col("_s7").cast("double") / F.lit(mic)) / F.col("_n")
        ).alias("_mu"),
    )
    cov = covariance_matrix_embeddings(
        vectors, id_col, vec_col, sum_scale, out_scale
    )
    cfull = materialize(
        cov.union(
            cov.filter(F.col("dim_a") < F.col("dim_b")).select(
                F.col("dim_b").alias("dim_a"),
                F.col("dim_a").alias("dim_b"),
                "cov",
            )
        ),
        "pca_power_project: covariance",
    )
    v = (
        cfull.select(F.col("dim_a").alias("dim"))
        .distinct()
        .select("dim", F.lit(1.0).alias("_vv"))
    )
    for i in range(steps):
        u = (
            cfull.join(v, cfull["dim_b"] == v["dim"])
            .groupBy("dim_a")
            .agg(F.expr(f"sum({img('cov * _vv')}) AS _u7"))
            .select(
                F.col("dim_a").alias("dim"),
                (F.col("_u7").cast("double") / F.lit(mic)).alias("_uu"),
            )
        )
        nrm = u.agg(
            F.expr(f"sqrt(CAST(sum({img('_uu * _uu')}) AS DOUBLE) / {mic!r}D) AS _nn")
        )
        v = materialize(
            u.crossJoin(F.broadcast(nrm)).select(
                "dim",
                F.when(F.col("_nn") != 0.0, F.col("_uu") / F.col("_nn")).alias(
                    "_vv"
                ),
            ),
            f"pca_power_project: vector iter {i + 1}",
        )
    sgn = v.filter(F.col("dim") == 0).select(
        F.when(F.col("_vv") < 0, F.lit(-1.0)).otherwise(F.lit(1.0)).alias("_sg")
    )
    vf = v.crossJoin(F.broadcast(sgn)).select(
        "dim", (F.col("_vv") * F.col("_sg")).alias("_vv")
    )
    # final 6-dp rounding in EXACT integer arithmetic: micro-sum at
    # sum_scale, half-away-from-zero to out_scale, single division
    # back to double — no decimal tie, no cast noise
    drop = 10 ** (sum_scale - out_scale)
    return (
        ex.join(F.broadcast(m), "dim")
        .join(F.broadcast(vf), "dim")
        .groupBy("_id")
        .agg(
            F.expr(f"sum({img('(_v - _mu) * _vv')}) AS _p7")
        )
        .select(
            F.col("_id").alias(id_col),
            (
                (
                    F.signum(F.col("_p7"))
                    * F.floor(
                        (F.abs(F.col("_p7")) + F.lit(drop // 2)) / F.lit(drop)
                    )
                ).cast("double")
                / F.lit(float(10 ** out_scale))
                + F.lit(0.0)
            ).alias("pc1"),
        )
    )


def hard_negative_mine(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Triplet mining for contrastive training: for each query anchor,
    the top-k most-cosine-similar corpus rows with a DIFFERENT label
    (hard negatives) plus the nearest SAME-label row (the positive)
    and the triplet margin ``pos_sim - neg_sim`` — negative margins
    mark anchors whose nearest impostor outranks their nearest
    genuine neighbor, exactly the rows a metric-learning curriculum
    feeds first.

    Brute force over a broadcast anchor set (the knn_join shape: one
    corpus scan, two windows); for anchor sets beyond broadcast size,
    run the same label filters through ivf_knn_join's cell-probe path
    instead. Cosine is the sequential-double fold (bit-identical to
    the SQL oracle); ranking frontier is (rounded sim DESC, id) like
    every ANN operator here. Anchors whose label has no second member
    keep their negatives with NULL positive/margin.
    """
    from pyspark.sql import Window

    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("_qid"),
            F.col(vec_col).alias("_qv"),
            F.col(label_col).alias("_ql"),
            norm(F.col(vec_col)).alias("_qn"),
        )
    )
    scored = (
        vectors.withColumn("_n", norm(F.col(vec_col)))
        .crossJoin(q)
        .select(
            F.col("_qid"),
            F.col("_ql"),
            F.col(id_col),
            F.col(label_col),
            F.round(
                dot(F.col(vec_col), F.col("_qv"))
                / (F.col("_n") * F.col("_qn")),
                6,
            ).alias("_sim"),
        )
    )
    wneg = Window.partitionBy("_qid").orderBy(
        F.col("_sim").desc(), F.col(id_col)
    )
    negs = (
        scored.filter(F.col(label_col) != F.col("_ql"))
        .withColumn("rnk", F.row_number().over(wneg))
        .filter(F.col("rnk") <= k)
        .select(
            F.col("_qid").alias(query_id_col),
            F.col(id_col).alias("neg_id"),
            F.col("_sim").alias("neg_sim"),
            F.col("rnk").cast("bigint").alias("rnk"),
        )
    )
    pos = (
        scored.filter(
            (F.col(label_col) == F.col("_ql"))
            & (F.col(id_col) != F.col("_qid"))
        )
        .withColumn("_rp", F.row_number().over(wneg))
        .filter(F.col("_rp") == 1)
        .select(
            F.col("_qid").alias(query_id_col),
            F.col(id_col).alias("pos_id"),
            F.col("_sim").alias("pos_sim"),
        )
    )
    return negs.join(pos, query_id_col, "left").select(
        query_id_col,
        "neg_id",
        "neg_sim",
        "rnk",
        "pos_id",
        "pos_sim",
        (
            F.round(F.col("pos_sim") - F.col("neg_sim"), 6) + F.lit(0.0)
        ).alias("margin"),
    )
