"""Corpus deduplication operators — the LLM-data-pipeline surface
(BASELINE.json north-star; not in the reference, which stops at file
I/O). All are pure DataFrame compositions: the hot loops are JVM
expressions (xxhash64, array ops) inside whole-stage codegen, no
Python in the row path.

Scale design (100 TB corpus, 1000 executors):

- Exact dedup is one hash-shuffle on a 64/128-bit digest, never on the
  full text (shuffle bytes ∝ digest, not document).
- MinHash-LSH: signatures are computed scan-side (narrow); only
  (band_id, band_hash, doc_id) tuples shuffle — b rows/doc of ~24
  bytes. Candidate verification joins shingle SETS only for candidate
  pairs, not all pairs.
- Giant buckets (boilerplate docs) are the skew hazard: buckets larger
  than ``max_bucket`` are dropped (standard LSH practice — a bucket of
  10k docs is 50M pairs and means the band is non-discriminative).
- SimHash uses 4-band pigeonhole blocking: hamming distance <= 3 on a
  64-bit signature guarantees an exact match on one of the 4 16-bit
  quarters, so the blocking is EXACT (no recall loss), and bucket
  joins stay tiny.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cascading_hive_spark.operators.exact import exact_sum
from cascading_hive_spark.session import materialize

_INTEGRAL = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)


def _id_long(df: DataFrame, id_col: str) -> Column:
    """``id_col`` as long, refusing lossy casts: a string/float id
    would silently become NULL (string) or collide (float) under
    ``cast("long")``, yielding empty/garbage pair output instead of an
    error. Pair operators order ids with ``<``, so they need a
    comparable integral key; callers with string ids should
    ``xxhash64`` or ``monotonically_increasing_id`` them first."""
    dt = df.schema[id_col].dataType
    if not isinstance(dt, _INTEGRAL):
        raise TypeError(
            f"id column {id_col!r} must be integral (byte/short/int/long), "
            f"got {dt.simpleString()}; derive a surrogate key first "
            "(e.g. xxhash64(id))"
        )
    return F.col(id_col).cast("long")


def spread(df: DataFrame) -> DataFrame:
    """Repartition a compute-dense input to at least the cluster's
    default parallelism. Small corpora arrive as one or two parquet
    files -> one or two tasks, serializing CPU-heavy per-row work
    (shingling, hashing) on a single core; a cheap round-robin shuffle
    of the raw rows unlocks the full cluster. Never SHRINKS an
    already-parallel input (at 100 TB the scan supplies plenty of
    partitions and this is a no-op).

    The parallelism probe is plan-side only: ``df.inputFiles()`` (a
    catalog/file-index lookup) instead of ``df.rdd.getNumPartitions()``,
    which would force a full physical-plan materialization + RDD
    conversion per call. Non-file-backed plans (ranges, in-memory
    relations) report zero input files and get spread — correct for
    the synthetic generators, harmless elsewhere (round-robin of an
    already-wide plan is one cheap extra exchange, and AQE coalesces
    it)."""
    target = df.sparkSession.sparkContext.defaultParallelism
    try:
        n_files = len(df.inputFiles())
    except Exception:
        n_files = 0
    if n_files >= target:
        return df
    return df.repartition(target)


# ---------------------------------------------------------------------------
# shingling
# ---------------------------------------------------------------------------

def shingles_from_tokens(toks: Column, n: int = 2) -> Column:
    """Distinct word n-gram shingles from a MATERIALIZED token-array
    column. ``toks`` must be a real attribute (not a ``split(...)``
    subexpression): Catalyst does not CSE subexpressions through
    higher-order-function lambdas, so an inline split is re-evaluated
    on every element access — O(tokens^2) per document. Callers
    materialize the split in a prior projection (see
    ``tokenized``)."""
    if n == 1:
        return F.array_distinct(toks)
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))),
        lambda i: F.concat_ws(" ", *[F.get(toks, i + j) for j in range(n)]),
    )
    return F.array_distinct(
        F.when(F.size(toks) >= n, grams).otherwise(F.array(F.concat_ws(" ", toks)))
    )


def word_shingles(text: Column, n: int = 2) -> Column:
    """Distinct word n-gram shingles of a text column. Convenience
    form for small inputs/tests; hot paths use ``tokenized`` +
    ``shingles_from_tokens`` (see that docstring for why)."""
    return shingles_from_tokens(F.split(text, r"\s+"), n)


def tokenized(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(_id, _toks) with the whitespace split materialized BEFORE the
    spread exchange — the exchange is a hard optimizer barrier, so the
    downstream shingle projection indexes a concrete array attribute
    instead of re-splitting the text per access."""
    return spread(
        df.filter(F.col(text_col).isNotNull()).select(
            _id_long(df, id_col).alias("_id"),
            F.split(F.col(text_col), r"\s+").alias("_toks"),
        )
    )


def char_ngrams(text: Column, n: int = 3) -> Column:
    """Distinct character n-grams."""
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(text) - (n - 1), F.lit(1))),
        lambda i: F.substring(text, i, n),
    )
    return F.array_distinct(grams)


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard similarity of two array columns (as double)."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return inter.cast("double") / union.cast("double")


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Hash-groupBy exact dedup: one row per distinct text with the
    minimum id as keeper and the duplicate count.

    At 100 TB: group on the md5 digest so the shuffle carries 16-byte
    keys instead of documents. (Digest collisions are ~2^-64 — the
    standard trade.)
    """
    return (
        spread(df).select(
            F.md5(F.col(text_col)).alias("text_hash"),
            _id_long(df, id_col).alias("_id"),
        )
        .groupBy("text_hash")
        .agg(
            F.min("_id").alias("keeper_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

# NOTE: there is deliberately NO single-Column "minhash_signature"
# helper: N same-shape transform(...) lambdas differing only in an
# embedded literal collapse to ONE shared result on this Spark build
# (all permutations return permutation 0 — pinned by
# tests/test_dedup.py::test_minhash_signatures_correct_and_distinct).
# Signatures go through _minhash_band_rows below, whose two hash
# families each use a formulation that evaluates correctly.


def _minhash_band_rows(
    base: DataFrame, keys: list[str], num_perm: int, bands: int, portable: bool
) -> DataFrame:
    """(*keys, band, bhash): the LSH band hashes of each row's
    distinct gram array ``_g``, b = ``bands`` bands of
    r = num_perm/bands permutation minima each.

    ``portable=False`` is the xxhash64 family: each gram STRING is
    hashed once scan-side (the length-proportional cost), then ONE
    transform lambda expands each long to its num_perm permutation
    hashes and ONE aggregate folds the per-gram arrays with
    zip_with(least) — entirely scan-side, no explode, no extra
    shuffle. Band hash = xxhash64 of the band's minima.

    ``portable=True`` is the md5 family, expressible in plain SQL:
    permutation i = min over grams of ``md5('<i>|' || gram)`` (the
    lexicographic min over 32-char lowercase hex, identical in any
    engine with a standard md5); band hash = ``md5(h_i || '|' ||
    h_j ...)``. It goes through explode + groupBy-min rather than
    HOF lambdas: md5 evaluated INSIDE a higher-order-function lambda
    miscomputes on this Spark build when several such transforms share
    a projection (layout-dependent digest-input corruption, reproduced
    at sf0.1). Top-level md5 inside an Aggregate is unaffected — and
    partial (map-side) aggregation means the shuffle carries one
    minima row per (doc, partition), not the exploded grams, so
    shuffle bytes stay ∝ docs, not grams.

    Deliberately NOT num_perm separate array_min(transform(...))
    columns on either path: same-shape lambdas differing only in the
    embedded permutation literal collapse to ONE shared result (every
    "permutation" returned permutation 0, degenerating LSH banding to
    single-hash matching — found via the sf0.1 oracle divergence of
    the md5 family). Both formulations are pinned bit-for-bit against
    the explode+groupBy-min ground truth (itself verified against
    Python hashlib for the md5 family) in
    tests/test_dedup.py::test_minhash_signatures_correct_and_distinct.
    """
    if num_perm % bands != 0:
        raise ValueError(
            f"num_perm ({num_perm}) must be divisible by bands ({bands}): "
            "banding uses b*r = num_perm; trailing permutations would be "
            "silently ignored"
        )
    rows = num_perm // bands
    if portable:
        ex = base.select(*keys, F.explode("_g").alias("_gram"))
        sig = ex.groupBy(*keys).agg(
            *[
                F.min(F.md5(F.concat(F.lit(f"{i}|"), F.col("_gram")))).alias(f"_h{i}")
                for i in range(num_perm)
            ]
        )

        def band_hash(cols: list[Column]) -> Column:
            return F.md5(F.concat_ws("|", *cols))

    else:
        _MAXL = F.lit(9223372036854775807)
        hashed = base.select(
            *keys, F.transform(F.col("_g"), lambda s: F.xxhash64(s)).alias("_hp")
        )
        persh = hashed.select(
            *keys,
            F.transform(
                F.col("_hp"),
                lambda h: F.array(*[F.xxhash64(h, F.lit(i)) for i in range(num_perm)]),
            ).alias("_hs"),
        )
        mins = persh.select(
            *keys,
            F.aggregate(
                F.col("_hs"),
                F.array_repeat(_MAXL, num_perm),
                lambda acc, x: F.zip_with(acc, x, lambda a, b: F.least(a, b)),
            ).alias("_mins"),
        )
        # element extraction: top-level F.get with literal indices (the
        # shape the embedding-LSH band keys use, oracle-proven correct)
        sig = mins.select(
            *keys, *[F.get(F.col("_mins"), i).alias(f"_h{i}") for i in range(num_perm)]
        )

        def band_hash(cols: list[Column]) -> Column:
            return F.xxhash64(*cols)

    return sig.select(
        *keys,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        band_hash(
                            [F.col(f"_h{b * rows + r}") for r in range(rows)]
                        ).alias("bhash"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select(*keys, "bk.band", "bk.bhash")


def _jaccard_verify(
    cand: DataFrame, base: DataFrame, a: str, b: str, threshold: float
) -> DataFrame:
    """Keep the candidate pairs (``a``, ``b``, ...) whose exact gram-set
    Jaccard is >= ``threshold``; appends ``jaccard`` rounded to 6.

    ``cand`` must be a lineage cut: it feeds the semi-join id side AND
    the verification join. The grams are joined back for CANDIDATE
    docs only, in two steps that keep the full corpus gram table
    ``base`` (_id, _g) out of any wide op:
    1. semi-join base against the candidate ids (a small relation AQE
       can broadcast) — the corpus-wide gram table is filtered
       scan-side, never shuffled or broadcast; no distinct on the ids,
       since left_semi ignores duplicates and the dedup would cost an
       extra shuffle;
    2. shuffle-hash join the filtered grams (≈ 2x|pairs| rows) with the
       pair list. The full base must NEVER be a broadcast build side:
       it is a computed table whose size Catalyst underestimates
       (range-derived inputs estimate near-zero), and at corpus scale
       it fits nowhere (measured OOM at 500k docs).
    The candidate gram set feeds both join sides, so it is cut too;
    both cuts are candidate-scale, never corpus-scale."""
    cand_ids = cand.select(F.explode(F.array(a, b)).alias("_id"))
    g_cand = base.join(cand_ids, "_id", "left_semi")
    g_cand = materialize(g_cand, "minhash verify: candidate grams")
    g_a = g_cand.select(F.col("_id").alias(a), F.col("_g").alias("g_a"))
    g_b = g_cand.select(F.col("_id").alias(b), F.col("_g").alias("g_b"))
    verified = (
        cand.hint("shuffle_hash")
        .join(g_a, a)
        .join(g_b, b)
        .select(*cand.columns, jaccard(F.col("g_a"), F.col("g_b")).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )
    return verified.select(*cand.columns, F.round("jaccard", 6).alias("jaccard"))


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int = 64,
    bands: int = 16,
    shingle_n: int = 2,
    threshold: float = 0.8,
    max_bucket: int = 200,
    portable: bool = False,
) -> DataFrame:
    """Near-duplicate pairs via MinHash banding, verified with exact
    Jaccard on the shingle sets.

    ``portable=False`` (the fast path) hashes distinct word
    ``shingle_n``-shingles with xxhash64. ``portable=True`` hashes
    distinct character ``shingle_n``-grams with the md5 family (see
    ``_minhash_band_rows``), so every step is expressible in plain SQL
    and the DuckDB oracle of queries.py:dedup_minhash_portable replays
    the FULL pipeline — shingling, signatures, banding, bucket cap,
    verification — bit-for-bit; minhash_lsh measured 2.27 s against
    about 5.5 s on the md5 path (r17 bench, sf0.1).

    b=16 bands of r=4 rows over 64 perms: P(candidate) = 1-(1-j^4)^16,
    ~0.97 at j=0.8 — the false-negative rate the threshold implies.
    Output: (id_a, id_b, jaccard) with id_a < id_b, jaccard >= threshold.
    """
    if portable:
        # spread the text, then n-gram: the round-robin exchange ships
        # text bytes, and the n-gramming runs in the spread tasks
        base = spread(
            df.filter(F.col(text_col).isNotNull()).select(
                _id_long(df, id_col).alias("_id"), F.col(text_col).alias("_text")
            )
        ).select("_id", char_ngrams(F.col("_text"), shingle_n).alias("_g"))
    else:
        # NOTE: no size(_g) filter — shingles_from_tokens always yields
        # a non-empty array, and a predicate on a computed alias gets
        # pushed below the spread exchange, re-evaluating the full
        # shingle expression SERIALLY on the unspread scan side
        # (measured 14x slow-down at sf0.1). Null text is filtered at
        # the scan instead.
        base = tokenized(df, id_col, text_col).select(
            "_id", shingles_from_tokens(F.col("_toks"), shingle_n).alias("_g")
        )
    band_rows = _minhash_band_rows(base, ["_id"], num_perm, bands, portable)

    # ONE shuffle builds the buckets; pairs are generated in-bucket by
    # an index-aware transform over the sorted member list. Buckets of
    # 1 produce nothing; giant buckets (non-discriminative bands, the
    # LSH skew hazard) are dropped via max_bucket.
    buckets = (
        band_rows.groupBy("band", "bhash")
        .agg(F.collect_list("_id").alias("_ids"))
        .filter((F.size("_ids") >= 2) & (F.size("_ids") <= max_bucket))
        .select(F.array_sort("_ids").alias("_ids"))
    )
    pairs = buckets.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("_ids"),
                    lambda x, i: F.transform(
                        F.slice(F.col("_ids"), i + 2, F.size(F.col("_ids"))),
                        lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
                    ),
                )
            )
        ).alias("p")
    ).select("p.id_a", "p.id_b")
    # the verify reads the candidate pairs twice and the shingle subtree
    # three times; uncut, the tokenize+shingle+hash scan and the bucket
    # shuffle re-run per consumer (r15).
    cand = pairs.dropDuplicates(["id_a", "id_b"])
    cand = materialize(cand, "minhash_lsh_pairs: candidates")
    return _jaccard_verify(cand, base, "id_a", "id_b", threshold)


def minhash_incremental_pairs(
    new_df: DataFrame,
    base_df: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int = 16,
    bands: int = 8,
    ngram_n: int = 3,
    threshold: float = 0.8,
    max_bucket: int = 200,
) -> DataFrame:
    """Append-only near-dup detection: match a NEW increment (today's
    crawl) against an existing base corpus AND against itself, without
    re-deduping the base — the shape every production ingestion
    pipeline runs daily. Emits (new_id, match_id, match_side, jaccard)
    where match_side says whether the collision is with 'base' or
    another 'new' document; base-base pairs are never generated (the
    base is assumed already deduped), so the candidate set — and the
    verify cost — scales with the INCREMENT, not the corpus.

    Hashing is the engine-portable md5 family of
    ``minhash_lsh_pairs(..., portable=True)`` (same signatures,
    banding, bucket cap, exact-Jaccard verify), so the DuckDB oracle
    in queries.py (dedup_minhash_incremental) reproduces the full
    pipeline bit-for-bit.

    Scale shape: in steady state the base side's signatures/band rows
    are computed once and persisted (recompute here for self-
    containment); the bucket join still shuffles only thin
    (id, band, bhash, side) rows, buckets with no new-side member are
    dropped BEFORE pair expansion, and ``max_bucket`` caps flooded
    buckets exactly as in the full-corpus pass.
    """
    tagged = (
        base_df.filter(F.col(text_col).isNotNull())
        .select(
            _id_long(base_df, id_col).alias("_id"),
            F.col(text_col).alias("_text"),
            F.lit(0).alias("_side"),
        )
        .unionByName(
            new_df.filter(F.col(text_col).isNotNull()).select(
                _id_long(new_df, id_col).alias("_id"),
                F.col(text_col).alias("_text"),
                F.lit(1).alias("_side"),
            )
        )
    )
    # spread the text, then n-gram (as in minhash_lsh_pairs)
    base = spread(tagged).select(
        "_id", "_side", char_ngrams(F.col("_text"), ngram_n).alias("_g")
    )
    band_rows = _minhash_band_rows(
        base, ["_id", "_side"], num_perm, bands, portable=True
    )

    # collect_list skips the NULLs the when() produces, giving the two
    # side-partitioned id lists in one aggregation pass
    buckets = (
        band_rows.groupBy("band", "bhash")
        .agg(
            F.array_sort(
                F.collect_list(F.when(F.col("_side") == 1, F.col("_id")))
            ).alias("_new"),
            F.array_sort(
                F.collect_list(F.when(F.col("_side") == 0, F.col("_id")))
            ).alias("_base"),
        )
        .filter(
            (F.size("_new") >= 1)
            & (F.size("_new") + F.size("_base") >= 2)
            & (F.size("_new") + F.size("_base") <= max_bucket)
        )
    )
    new_new = buckets.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("_new"),
                    lambda x, i: F.transform(
                        F.slice(F.col("_new"), i + 2, F.size(F.col("_new"))),
                        lambda y: F.struct(
                            x.alias("new_id"),
                            y.alias("match_id"),
                            F.lit("new").alias("match_side"),
                        ),
                    ),
                )
            )
        ).alias("p")
    )
    new_base = buckets.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("_new"),
                    lambda x: F.transform(
                        F.col("_base"),
                        lambda y: F.struct(
                            x.alias("new_id"),
                            y.alias("match_id"),
                            F.lit("base").alias("match_side"),
                        ),
                    ),
                )
            )
        ).alias("p")
    )
    cand = materialize(
        new_new.unionByName(new_base)
        .select("p.new_id", "p.match_id", "p.match_side")
        .dropDuplicates(["new_id", "match_id"]),
        "minhash_incremental_pairs: candidates",
    )
    return _jaccard_verify(cand, base.drop("_side"), "new_id", "match_id", threshold)


# ---------------------------------------------------------------------------
# n-gram Jaccard with deterministic blocking (oracle-checkable twin)
# ---------------------------------------------------------------------------

def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_cols: list[str],
    n: int = 3,
    threshold: float = 0.8,
    max_block: int | None = None,
) -> DataFrame:
    """Exact char-n-gram Jaccard over pairs within a blocking key.

    The blocking key bounds the quadratic pair space (equi-join =
    shuffle on the block key); with a selective key this is the
    SQL-expressible exact twin of minhash_lsh_pairs. ``max_block``
    (optional) drops blocks larger than the cap — the skew guard for
    corpora where the key floods (e.g. exact-duplicate runs sharing a
    fingerprint). Left off by default because dropping blocks changes
    the exact-pair contract; a mirroring oracle must apply the same
    COUNT(*) OVER (PARTITION BY key) <= cap predicate.
    """
    base = spread(df).select(
        _id_long(df, id_col).alias("_id"),
        char_ngrams(F.col(text_col), n).alias("_g"),
        *[F.col(c) for c in block_cols],
    )
    if max_block is not None:
        from pyspark.sql import Window as _W

        base = base.withColumn(
            "_bsz", F.count(F.lit(1)).over(_W.partitionBy(*block_cols))
        ).filter(F.col("_bsz") <= max_block).drop("_bsz")
    a = base.select(*block_cols, F.col("_id").alias("id_a"), F.col("_g").alias("g_a"))
    b = base.select(*block_cols, F.col("_id").alias("id_b"), F.col("_g").alias("g_b"))
    pairs = a.join(b, block_cols).filter(F.col("id_a") < F.col("id_b"))
    out = pairs.select("id_a", "id_b", jaccard(F.col("g_a"), F.col("g_b")).alias("jaccard"))
    return out.filter(F.col("jaccard") >= threshold).select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    max_bucket: int = 1000,
    portable: bool = False,
) -> DataFrame:
    """64-bit SimHash near-dup pairs with hamming <= max_hamming (<=3).

    Signature: per distinct word-bigram feature, a 64-bit hash held as
    four 16-bit quarter values; bit j of quarter q votes +1/-1 and the
    vote sign sets the signature bit. (Bigrams, not unigrams: corpora
    with a shared vocabulary make unigram simhashes collide en masse;
    bigrams restore discrimination.) ``portable=False`` (the fast
    path) takes the quarters of xxhash64, ``(h >> 16q) & 0xFFFF``;
    ``portable=True`` takes them from the FIRST 16 hex chars of
    ``md5(bigram)``, ``conv(substr(md5, 4q+1, 4), 16, 10)`` —
    non-negative small ints in any engine, so the DuckDB oracle of
    queries.py:dedup_simhash_portable replays every step. md5 is
    computed at TOP LEVEL of a projection, never inside a HOF lambda
    (see the signature-collapse note on ``_minhash_band_rows``).

    Blocking: equality on any of the 4 quarters — pigeonhole makes it
    exact for hamming <= 3. Verification: summed ``bit_count(xor)``
    over the quarters. Votes aggregate map-side, so the shuffle
    carries one 64-col vote row per (doc, partition) — bytes ∝ docs,
    not features.

    ``max_bucket`` is the same skew guard minhash/embedding LSH carry:
    a quarter value shared by more than ``max_bucket`` docs (a run of
    near-identical boilerplate) would join quadratically; such buckets
    are dropped, trading recall on flooded values for bounded work at
    O(n * 4 * max_bucket) — exact-dedup first if the corpus is
    duplicate-heavy. Within the guard the blocking remains EXACT for
    hamming <= 3.
    """
    toks = tokenized(df, id_col, text_col).select(
        "_id",
        F.explode(shingles_from_tokens(F.col("_toks"), 2)).alias("tok"),
    )
    if portable:
        quarter = lambda q: F.conv(  # noqa: E731
            F.substring(F.md5("tok"), 4 * q + 1, 4), 16, 10
        )
    else:
        toks = toks.withColumn("h", F.xxhash64("tok"))
        quarter = lambda q: F.shiftright("h", 16 * q).bitwiseAND(F.lit(0xFFFF))  # noqa: E731
    qv = toks.select(
        "_id", *[quarter(q).cast("int").alias(f"_q{q}") for q in range(4)]
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
    sig = votes.select(
        "_id",
        *[
            sum(
                [
                    F.when(F.col(f"v{q}_{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
                    for j in range(16)
                ],
                F.lit(0),
            )
            .cast("int")
            .alias(f"sq{q}")
            for q in range(4)
        ],
    )
    quarters = sig.select(
        "_id",
        "sq0",
        "sq1",
        "sq2",
        "sq3",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(q).alias("q"), F.col(f"sq{q}").alias("qval"))
                    for q in range(4)
                ]
            )
        ).alias("b"),
    ).select("_id", "sq0", "sq1", "sq2", "sq3", "b.q", "b.qval")
    # guard BEFORE the self-join: quarter buckets over max_bucket are
    # non-discriminative floods (see docstring) — one thin window pass
    # tags bucket sizes; no doc payload in the shuffle
    from pyspark.sql import Window as _W

    quarters = (
        quarters.withColumn("_bsz", F.count(F.lit(1)).over(_W.partitionBy("q", "qval")))
        .filter(F.col("_bsz") <= max_bucket)
        .drop("_bsz")
    )
    a = quarters.select(
        "q",
        "qval",
        F.col("_id").alias("id_a"),
        *[F.col(f"sq{q}").alias(f"a{q}") for q in range(4)],
    )
    b = quarters.select(
        "q",
        "qval",
        F.col("_id").alias("id_b"),
        *[F.col(f"sq{q}").alias(f"b{q}") for q in range(4)],
    )
    cand = (
        a.join(b, ["q", "qval"])
        .filter(F.col("id_a") < F.col("id_b"))
        .drop("q", "qval")
        .dropDuplicates(["id_a", "id_b"])
    )
    hamming = sum(
        [F.bit_count(F.col(f"a{q}").bitwiseXOR(F.col(f"b{q}"))) for q in range(4)],
        F.lit(0),
    ).cast("int")
    return (
        cand.select("id_a", "id_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup via hyperplane LSH blocking
# ---------------------------------------------------------------------------

def lsh_bit_coords(dim: int, n_bits: int, seed: int = 7) -> list[int]:
    """Deterministic coordinate choice for axis-aligned hyperplane LSH
    bits: bit j is ``sign(v[coords[j]])``. Axis-aligned (single float
    comparison, no arithmetic) rather than dense random projections so
    the bucketing is bit-identical in ANY engine — a dense projection's
    floating sum could round differently across engines and flip a
    bucket near zero; a single ``v[c] > 0`` cannot. Works whenever the
    embedding coordinates are roughly centered (true of the usual
    whitened/normalized model outputs); pass dense hyperplanes via
    ``embedding_lsh_pairs(mode="dense")`` otherwise."""
    import random

    rng = random.Random(seed)
    if n_bits <= dim:
        return rng.sample(range(dim), n_bits)
    return [rng.randrange(dim) for _ in range(n_bits)]


def auto_band_bits(n_rows: int) -> int:
    """Band width B from the corpus size — the docstring sizing rule
    B ~ log2(n / target_bucket) made executable: random pairs collide
    on a B-bit band with p ~ 2^-B, so keeping expected bucket size
    near 8 means B = round(log2(n)) - 3 (14 bits at 100k, 17 at 1M,
    24 at 100M). Clamped to [4, 32]: below 4 the bands are
    non-discriminative even for tiny corpora; above 32 adds nothing
    (near-dup sign bits agree anyway) while costing recall on merely
    close pairs."""
    import math

    return int(min(32, max(4, round(math.log2(max(n_rows, 2))) - 3)))


def _plan_rowcount(df: DataFrame) -> int | None:
    """Row count from the optimized plan's statistics if Catalyst can
    prove one (free — no job); None otherwise."""
    try:
        rc = df._jdf.queryExecution().optimizedPlan().stats().rowCount()
        if rc.isDefined():
            return int(str(rc.get()))
    except Exception:
        pass
    return None


def _lsh_band_coords(dim: int, bands: int, bits_per_band: int, seed: int = 7) -> list[int]:
    """Coordinate choice honoring band structure: when total bits
    exceed dim, sample WITHOUT replacement within each band (a
    repeated coordinate inside a band is a degenerate bit) while
    letting bands overlap freely. Collapses to lsh_bit_coords for the
    n_bits <= dim case so existing oracles stay stable."""
    import random

    n_bits = bands * bits_per_band
    if n_bits <= dim:
        return lsh_bit_coords(dim, n_bits, seed)
    if bits_per_band > dim:
        rng = random.Random(seed)
        return [rng.randrange(dim) for _ in range(n_bits)]
    rng = random.Random(seed)
    out: list[int] = []
    for _ in range(bands):
        out.extend(rng.sample(range(dim), bits_per_band))
    return out


def embedding_lsh_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.9,
    block_cols: list[str] | None = None,
    bands: int = 8,
    bits_per_band: int | None = None,
    max_bucket: int = 200,
    seed: int = 7,
    dim: int | None = None,
    mode: str = "coord",
    n_hint: int | None = None,
) -> DataFrame:
    """Near-duplicate vector pairs via random-hyperplane LSH banding,
    verified with exact cosine — the bounded-blocking replacement for
    the quadratic block-all-pairs join (mirrors minhash_lsh_pairs'
    structure: thin bucket shuffle, max_bucket skew guard, exact
    verification on candidates only).

    Each of ``bands`` bands is ``bits_per_band`` sign bits; a pair is
    a candidate iff some band key matches within the same
    ``block_cols`` group AND that bucket holds <= max_bucket vectors
    (larger buckets are non-discriminative — dropping them bounds the
    in-bucket pair work to O(n * bands * max_bucket), the near-linear
    scale contract; recall on such flooded buckets is sacrificed by
    design, exactly like minhash's guard).

    Collision probability per bit for angle theta is ~(1 - theta/pi):
    at cosine 0.95 a 6-bit band matches ~0.5 of the time, so 8 bands
    catch ~99.5% of true near-dups. At low thresholds (<0.5) LSH
    cannot separate signal from background — this operator is built
    for the near-dup regime.

    BAND BITS AUTO-SIZE TO THE CORPUS: random pairs collide on a
    B-bit band with p ~ 2^-B, so candidate volume is ~ n^2 * bands /
    2^B. Keeping it linear means scaling B with log2(n): B ~ log2(n /
    target_bucket_size) — 14 bits at 100k vectors, 17 at 1M, 24 at
    100M (``auto_band_bits``; coordinates sampled per band without
    replacement once bands*bits > dim). True near-dups (cos >= 0.99)
    still match a 17-bit band ~90% of the time, so a handful of bands
    keeps recall >= 99.9% while background collisions stay at a few
    per vector. With ``bits_per_band=None`` (default) B is derived
    from ``n_hint`` if given, else a free plan-statistics row count,
    else one ``count()`` job (cheap on file sources — the scan prunes
    every column; pass n_hint when ``df`` is an expensive computed
    pipeline). Pin ``bits_per_band`` explicitly when a cross-engine
    oracle must reproduce the blocking.

    Output: (id_a, id_b, cos_sim), id_a < id_b, cos_sim >= threshold.
    """
    block_cols = list(block_cols or [])
    if dim is None:
        from cascading_hive_spark.operators.similarity import _dim_of

        dim = _dim_of(df, vec_col)
    if bits_per_band is None:
        n_est = n_hint if n_hint is not None else _plan_rowcount(df)
        if n_est is None:
            n_est = df.count()
        bits_per_band = auto_band_bits(n_est)
    n_bits = bands * bits_per_band

    base = spread(
        df.filter(F.col(vec_col).isNotNull()).select(
            _id_long(df, id_col).alias("_id"),
            F.col(vec_col).alias("_v"),
            *[F.col(c) for c in block_cols],
        )
    )

    if mode == "coord":
        coords = _lsh_band_coords(dim, bands, bits_per_band, seed)
        bits = [
            F.when(F.get(F.col("_v"), c) > F.lit(0.0), 1).otherwise(0) for c in coords
        ]
    elif mode == "dense":
        import random

        rng = random.Random(seed)
        from cascading_hive_spark.operators.similarity import dot

        planes = [
            F.array(*[F.lit(rng.choice((-1.0, 1.0))) for _ in range(dim)])
            for _ in range(n_bits)
        ]
        bits = [F.when(dot(F.col("_v"), p) > 0, 1).otherwise(0) for p in planes]
    else:
        raise ValueError(f"unknown LSH mode {mode!r} (use 'coord' or 'dense')")

    band_keys = [
        sum(
            [bits[b * bits_per_band + r] * (1 << (bits_per_band - 1 - r))
             for r in range(bits_per_band)],
            F.lit(0),
        ).alias(f"_k{b}")
        for b in range(bands)
    ]
    sig = base.select("_id", *block_cols, *band_keys)
    band_rows = sig.select(
        "_id",
        *block_cols,
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band"), F.col(f"_k{b}").alias("bkey"))
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("_id", *block_cols, "bk.band", "bk.bkey")

    buckets = (
        band_rows.groupBy(*block_cols, "band", "bkey")
        .agg(F.collect_list("_id").alias("_ids"))
        .filter((F.size("_ids") >= 2) & (F.size("_ids") <= max_bucket))
        .select(F.array_sort("_ids").alias("_ids"))
    )
    pairs = buckets.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("_ids"),
                    lambda x, i: F.transform(
                        F.slice(F.col("_ids"), i + 2, F.size(F.col("_ids"))),
                        lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
                    ),
                )
            )
        ).alias("p")
    ).select("p.id_a", "p.id_b")
    # as in minhash_lsh_pairs, cand and the candidate vectors are each
    # read twice below; both cuts are candidate-scale, and they run the
    # band/bucket pipeline and the corpus scan once instead of three times
    cand = pairs.dropDuplicates(["id_a", "id_b"])
    cand = materialize(cand, "embedding_lsh_pairs: candidates")

    # Exact-cosine verification on candidates only; same two-step
    # semi-join shape as minhash (corpus vectors never broadcast or
    # shuffled wholesale — only the candidate subset moves).
    from cascading_hive_spark.operators.similarity import dot as _dot, norm as _norm

    cand_ids = cand.select(F.explode(F.array("id_a", "id_b")).alias("_id"))
    v_cand = materialize(
        base.join(cand_ids, "_id", "left_semi")
        .select("_id", F.col("_v"), _norm(F.col("_v")).alias("_n")),
        "embedding_lsh_pairs: candidate vectors",
    )
    v_a = v_cand.select(
        F.col("_id").alias("id_a"), F.col("_v").alias("va"), F.col("_n").alias("na")
    )
    v_b = v_cand.select(
        F.col("_id").alias("id_b"), F.col("_v").alias("vb"), F.col("_n").alias("nb")
    )
    # shuffle_hash hints on BOTH sides: the vector table is often
    # range-derived (synthetic corpora) or freshly computed, so
    # Catalyst's size estimate is near zero and it would pick a
    # broadcast build of millions of vectors (measured OOM at 500k).
    verified = (
        cand.hint("shuffle_hash")
        .join(v_a.hint("shuffle_hash"), "id_a")
        .join(v_b.hint("shuffle_hash"), "id_b")
        .select(
            "id_a",
            "id_b",
            (_dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))).alias("_c"),
        )
        .filter(F.col("_c") >= threshold)
    )
    return verified.select("id_a", "id_b", F.round("_c", 6).alias("cos_sim"))


def semantic_dedup_pairs(
    vectors: DataFrame,
    centroids: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dist_scale: int = 9,
    max_cell: int = 100_000,
) -> DataFrame:
    """SemDeDup-style semantic near-duplicate pairs (Abbas et al.,
    "SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication", arXiv:2303.09540): assign every vector to its
    nearest TRAINED k-means centroid (the identical portable E-step as
    kmeans_fit / kmeans_inertia — decimal-image squared-L2, argmin
    ties to the lower cid), then compare all pairs WITHIN each cell
    and keep cosine >= ``threshold``. Returns (id_a, id_b, cos_sim),
    id_a < id_b, cos_sim rounded to 6 decimals.

    Cell blocking is the paper's scale move: the quadratic sits inside
    cells — k * (n/k)^2 pair-work instead of n^2 — and pairs that
    straddle a cell boundary are deliberately out of scope (the
    paper's recall trade; for boundary-robust blocking use
    ``embedding_lsh_pairs``, whose bands overlap). ``centroids`` is
    the long-form (cid, dim, centroid) table ``kmeans_fit`` returns,
    so train-once / dedup-incrementally composes for free.

    Scale shape: one broadcast of the k*dim centroid table onto the
    exploded corpus + one id-key argmin shuffle (the trainer's E-step
    cost), then one cid-key ``applyInPandas`` whose per-task work is
    that cell's pairwise similarity — computed as CHUNKED MATRIX
    MULTIPLY (the way SemDeDup actually runs: a (block x dim) @
    (dim x cell) GEMM per block, never a per-pair fold; measured 30x
    over the expression-per-pair formulation at 100k x 16). The GEMM
    is only the CANDIDATE filter (threshold minus 1e-9 — pairwise-BLAS
    and sequential summation agree to ~1e-15 relative at these dims);
    every candidate is re-verified with the exact LEFT-TO-RIGHT double
    fold, the same summation order as similarity.dot/norm and DuckDB's
    list_sum, so the final >= threshold cut is bit-identical
    cross-engine and the full pipeline — training, assignment,
    blocking, verification — has an exact SQL oracle (queries.py:
    dedup_semantic_pairs). A runaway cell (k too small for the corpus,
    or a mass-duplicate spike) is guarded by ``max_cell`` — the guard
    RAISES inside the cell's own Arrow task rather than silently
    quadratic-ing (skyline's max_frontier discipline), so it costs no
    extra job on the happy path; per-task memory is block x cell
    similarities plus the cell's vectors, both bounded by
    ``max_cell``.
    """
    from cascading_hive_spark.operators.similarity import argmin_cell, cell_distances

    # spread(): one-file vector scans otherwise run the whole E-step
    # distance fold single-task (guide §2); assignment and cosine are
    # decimal/exact-fold arithmetic, identical under any partitioning
    base = spread(
        vectors.select(
            F.col(id_col).alias("_id"),
            F.col(vec_col).cast("array<double>").alias("_v"),
        )
    )
    # the vector rides the argmin aggregate (keep_vec/carry_vec), so
    # blocking needs no join back onto the vector table — the corpus
    # crosses one id exchange instead of two (guide §2.4)
    assigned = argmin_cell(
        cell_distances(base, centroids, dist_scale, keep_vec=True),
        carry_vec=True,
    )
    sided = assigned.select("cid", "_id", "_v")

    from pyspark.sql.types import DoubleType, StructField, StructType

    id_type = dict(zip(base.columns, [f.dataType for f in base.schema.fields]))[
        "_id"
    ]
    out_schema = StructType(
        [
            StructField("id_a", id_type),
            StructField("id_b", id_type),
            StructField("_c", DoubleType()),
        ]
    )
    thr = float(threshold)

    def _cell_pairs(pdf):
        import numpy as np
        import pandas as pd

        empty = pd.DataFrame({"id_a": [], "id_b": [], "_c": []})
        c = len(pdf)
        if max_cell is not None and c > max_cell:
            # guard raised IN the cell task (skyline's max_frontier
            # pattern) — no separate cell-size probe job, so the guard
            # costs nothing on the happy path
            raise ValueError(
                f"semantic_dedup_pairs: cell of {c} rows exceeds "
                f"max_cell={max_cell} — raise k (tighter cells), "
                "raise/disable max_cell, or pre-split the corpus"
            )
        if c < 2:
            return empty
        out_a, out_b, out_c = [], [], []
        ids = pdf["_id"].tolist()
        mat = np.asarray(
            [np.asarray(v, dtype=np.float64) for v in pdf["_v"]], dtype=np.float64
        )
        # BLAS norms/sims are the CANDIDATE filter only (epsilon-widened);
        # the exact cut below redoes both in left-to-right double order.
        nrm = np.sqrt(np.einsum("ij,ij->i", mat, mat))
        nrm[nrm == 0.0] = 1.0
        # exact square-norm folds, hoisted: cumsum's recurrence IS the
        # left-to-right IEEE sequence (out[i] = out[i-1] + x[i]), so
        # the last column is bit-for-bit the sequential Python fold it
        # replaces — once per row instead of twice per candidate pair
        sq = np.cumsum(mat * mat, axis=1)[:, -1]
        block = max(1, min(c, 8_388_608 // c))  # ~64 MB of sims per block
        for lo in range(0, c, block):
            hi = min(lo + block, c)
            sims = (mat[lo:hi] @ mat.T) / np.outer(nrm[lo:hi], nrm)
            ii, jj = np.nonzero(sims >= thr - 1e-9)
            # group candidates by their left row so the exact dot folds
            # run as ONE cumsum over (candidates x dim) per row — each
            # row of that cumsum replays the old per-pair sequential
            # fold bit-for-bit; sqrt/divide/compare are the same scalar
            # IEEE ops elementwise, so the kept pairs and their cosines
            # are unchanged to the last bit
            ii, jj = np.asarray(ii), np.asarray(jj)
            for bi in np.unique(ii).tolist():
                i = lo + bi
                if sq[i] == 0.0:
                    # zero-norm vector: cosine undefined — skip, matching
                    # the BLAS candidate filter's nrm==0 -> 1.0 convention
                    # (which yields sim 0 < thr for any positive thr).
                    continue
                js = jj[ii == bi]
                js = js[js > i]
                js = js[sq[js] != 0.0]
                if js.size == 0:
                    continue
                dots = np.cumsum(mat[i] * mat[js], axis=1)[:, -1]
                cosv = dots / (sq[i] ** 0.5 * sq[js] ** 0.5)
                keep = cosv >= thr
                for j, cos in zip(js[keep].tolist(), cosv[keep].tolist()):
                    a_, b_ = (
                        (ids[i], ids[j]) if ids[i] < ids[j] else (ids[j], ids[i])
                    )
                    out_a.append(a_)
                    out_b.append(b_)
                    out_c.append(cos)
        if not out_a:
            return empty
        return pd.DataFrame({"id_a": out_a, "id_b": out_b, "_c": out_c})

    pairs = sided.groupBy("cid").applyInPandas(_cell_pairs, out_schema)
    return pairs.select("id_a", "id_b", F.round("_c", 6).alias("cos_sim"))


# ---------------------------------------------------------------------------
# Exact duplicated-span coverage (MassiveText-style substring dedup signal)
# ---------------------------------------------------------------------------
def duplicate_span_stats(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 10,
) -> DataFrame:
    """Per-document coverage by EXACT duplicated word ``n``-gram spans
    — the signal behind exact-substring dedup (remove/penalize spans
    that appear verbatim in more than one document), at span rather
    than whole-document granularity (the gap exact_dedup and
    MinHash both leave open: a unique doc wrapping a big copied
    block).

    Output: (id, n_tokens, dup_tokens, dup_permille) for EVERY doc,
    where dup_tokens is the size of the UNION of all n-token windows
    whose text occurs in >=2 distinct documents — overlapping spans
    merged by the classic gaps-and-islands pass, so a copied 50-word
    block counts 50, not 41*10.

    Scale shape: the only wide shuffles carry (md5(gram), doc, pos) —
    16-byte digests + ints, never the text. Duplicate grams are found
    by a partial-aggregated count over the digest; the interval merge
    is two window passes over each doc's HIT spans only (copied spans,
    normally a tiny fraction of the corpus). No quadratic path: a gram
    shared by k docs costs k rows, not k^2 pairs.
    """
    toks = _span_tokens(docs, id_col, text_col)
    covered = (
        _dup_span_islands(toks, n)
        .groupBy("_id")
        .agg(F.sum(F.col("_e") - F.col("_s") + 1).alias("_covered"))
    )
    return (
        toks.join(covered, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            F.coalesce(F.col("_covered"), F.lit(0)).cast("bigint").alias("dup_tokens"),
            F.floor(
                F.coalesce(F.col("_covered"), F.lit(0)) * 1000 / F.col("n_tokens")
            ).alias("dup_permille"),
        )
    )


def _span_tokens(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(_id, _arr, n_tokens) — the single-space token split the span
    operators share (split(' ') keeps empties, matching DuckDB
    regexp_split_to_array for the oracle replays)."""
    arr = F.split(F.col(text_col), " ")
    return docs.select(
        F.col(id_col).alias("_id"), arr.alias("_arr"), F.size(arr).alias("n_tokens")
    )


def _dup_span_islands(toks: DataFrame, n: int) -> DataFrame:
    """Merged duplicated-span intervals per document: one row
    (_id, _isl, _s, _e) per maximal island of token positions covered
    by word n-grams that occur in >= 2 distinct documents. The shared
    core of duplicate_span_stats / remove_duplicate_spans; scale notes
    on duplicate_span_stats (digest-only shuffles, islands ∝ copied
    spans)."""
    from pyspark.sql import Window

    grams = (
        toks.filter(F.col("n_tokens") >= n)
        .select(
            "_id",
            F.explode(F.sequence(F.lit(1), F.col("n_tokens") - (n - 1))).alias("_p"),
            "_arr",
        )
        .select(
            "_id",
            "_p",
            F.md5(F.array_join(F.slice(F.col("_arr"), F.col("_p"), n), " ")).alias("_g"),
        )
    )
    # duplicate detection in ONE pass over the gram table (see
    # _dup_charspan_islands: the agg+join form computed and shuffled
    # the gram table twice; dense_rank's max over (_g ORDER BY _id)
    # IS the distinct-doc count, on a single exchange)
    w_gi = Window.partitionBy("_g").orderBy("_id")
    w_g = Window.partitionBy("_g")
    spans = (
        grams.withColumn("_dr", F.dense_rank().over(w_gi))
        .withColumn("_nd", F.max("_dr").over(w_g))
        .filter(F.col("_nd") >= 2)
        .select("_id", F.col("_p").alias("_s"), (F.col("_p") + (n - 1)).alias("_e"))
    )
    w_prev = (
        Window.partitionBy("_id")
        .orderBy("_s")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = Window.partitionBy("_id").orderBy("_s")
    return (
        spans.withColumn(
            "_new",
            (F.col("_s") > F.coalesce(F.max("_e").over(w_prev), F.lit(-1)) + 1).cast(
                "int"
            ),
        )
        .withColumn("_isl", F.sum("_new").over(w_run))
        .groupBy("_id", "_isl")
        .agg(F.min("_s").alias("_s"), F.max("_e").alias("_e"))
    )


def remove_duplicate_spans(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 10,
    out_col: str = "clean_text",
) -> DataFrame:
    """Exact-substring dedup REMOVAL (the MassiveText/Dolma scrub —
    duplicate_span_stats is the signal, this is the act): drop every
    token covered by a duplicated word ``n``-gram island (a maximal
    run of n-token windows whose text occurs verbatim in >= 2 distinct
    documents) and reassemble the remaining tokens, for EVERY
    document. Conservative form: the copied block is scrubbed from ALL
    its holders (shared boilerplate/licenses/navigation), not
    keep-one — whole-document keep-one is exact_dedup's job.

    Output: (id, n_tokens, kept_tokens, ``out_col``) — kept_tokens ==
    n_tokens and clean_text == text for untouched docs (single-space
    token join preserves empty tokens, so reassembly is lossless).

    Scale shape: identical to duplicate_span_stats up to the island
    table (digest-only shuffles); islands then collect per doc — a
    per-doc array bounded by copied-span count, NOT corpus-sized — and
    the scrub itself is one narrow array pass (filter tokens whose
    position falls in an island; per-token cost ∝ islands-per-doc).
    """
    toks = _span_tokens(docs, id_col, text_col)
    islands = (
        _dup_span_islands(toks, n)
        .groupBy("_id")
        .agg(
            F.collect_list(
                F.struct(F.col("_s").alias("s"), F.col("_e").alias("e"))
            ).alias("_ivs")
        )
    )
    joined = toks.join(islands, "_id", "left").withColumn(
        "_ivs2",
        F.coalesce(F.col("_ivs"), F.array().cast("array<struct<s:int,e:int>>")),
    )
    pos_toks = F.transform(
        F.col("_arr"),
        lambda x, i: F.struct(x.alias("t"), (i + F.lit(1)).alias("p")),
    )
    kept = F.filter(
        pos_toks,
        lambda st: ~F.exists(
            F.col("_ivs2"), lambda iv: (st["p"] >= iv["s"]) & (st["p"] <= iv["e"])
        ),
    )
    return joined.select(
        F.col("_id").alias(id_col),
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.size(kept).cast("bigint").alias("kept_tokens"),
        F.concat_ws(" ", F.transform(kept, lambda st: st["t"])).alias(out_col),
    )


def _dup_charspan_islands(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    min_len: int,
    stride: int,
) -> DataFrame:
    """Merged duplicated CHARACTER-span intervals per document: one
    row (_id, _s, _e) per maximal island of 1-based char positions
    covered by a length-``min_len`` character window whose text
    occurs verbatim in >= 2 distinct documents. The char-level core
    shared by duplicate_charspan_stats / remove_duplicate_charspans —
    the Lee et al. 2021 exact-substring granularity (word n-grams
    miss templated boilerplate that reflows across token boundaries;
    ~50-char windows catch it).

    ``stride`` > 1 trades recall for gram volume: windows still
    overlap while stride <= min_len so island merging is unchanged,
    but a duplicated region's first/last (stride-1) chars can fall
    outside any sampled window. stride=1 is exact.

    Scale shape (same discipline as _dup_span_islands): the only wide
    shuffles carry (md5(window), doc, pos) — 16-byte digests + ints,
    never the text; duplicate digests come from a partial-aggregated
    count; islands are two window passes over HIT spans only. A gram
    shared by k docs costs k rows, not k^2 pairs. Char stride=1 emits
    ~n_chars windows per doc (vs n_tokens for the word form) — the
    documented price of char-exactness; set stride to amortize."""
    from pyspark.sql import Window

    if stride < 1 or stride > min_len:
        raise ValueError(
            f"stride={stride} must be in [1, min_len={min_len}] so "
            "adjacent windows overlap and islands stay mergeable"
        )
    # char stride=1 hashes ~n_chars windows per doc — compute-dense
    # enough that a single-file scan serializes it; spread to cluster
    # parallelism first (a no-op on an already-wide scan)
    base = spread(docs).select(
        F.col(id_col).alias("_id"),
        F.col(text_col).alias("_txt"),
        F.length(text_col).alias("_nc"),
    )
    grams = (
        base.filter(F.col("_nc") >= min_len)
        .select(
            "_id",
            F.explode(
                F.sequence(
                    F.lit(1), F.col("_nc") - (min_len - 1), F.lit(stride)
                )
            ).alias("_p"),
            "_txt",
        )
        .select(
            "_id",
            "_p",
            F.md5(F.col("_txt").substr(F.col("_p"), F.lit(min_len))).alias("_g"),
        )
    )
    # duplicate detection in ONE pass over the gram table: dense_rank
    # over (_g ORDER BY _id) peaks at the distinct-doc count, so the
    # ">= 2 docs" filter rides the same exchange as the gram rows. The
    # previous agg+join formulation materialized the gram table twice
    # (the scan's md5-window fold is the expensive part) and shuffled
    # it twice — once into count_distinct, once into the join
    # (guide §2.4: two operations keyed the same way share one
    # exchange). Kept rows are identical: every gram row whose digest
    # occurs in >= 2 distinct documents.
    w_gi = Window.partitionBy("_g").orderBy("_id")
    w_g = Window.partitionBy("_g")
    spans = (
        grams.withColumn("_dr", F.dense_rank().over(w_gi))
        .withColumn("_nd", F.max("_dr").over(w_g))
        .filter(F.col("_nd") >= 2)
        .select(
            "_id", F.col("_p").alias("_s"), (F.col("_p") + (min_len - 1)).alias("_e")
        )
    )
    w_prev = (
        Window.partitionBy("_id")
        .orderBy("_s")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = Window.partitionBy("_id").orderBy("_s")
    return (
        spans.withColumn(
            "_new",
            (F.col("_s") > F.coalesce(F.max("_e").over(w_prev), F.lit(-1)) + 1).cast(
                "int"
            ),
        )
        .withColumn("_isl", F.sum("_new").over(w_run))
        .groupBy("_id", "_isl")
        .agg(F.min("_s").alias("_s"), F.max("_e").alias("_e"))
        .select("_id", "_s", "_e")
    )


def duplicate_charspan_stats(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    min_len: int = 50,
    stride: int = 1,
) -> DataFrame:
    """Per-document coverage by EXACT duplicated CHARACTER spans of
    length >= ``min_len`` — exact-substring dedup at the published
    granularity (Lee et al. 2021 deduplicate ~50-token/char windows;
    duplicate_span_stats above is the word-10-gram form, which misses
    boilerplate that reflows across token boundaries).

    Output: (id, n_chars, dup_chars, dup_permille) for EVERY doc,
    where dup_chars is the size of the UNION of all min_len-char
    windows whose text occurs in >= 2 distinct documents, overlaps
    merged gaps-and-islands style (a copied 200-char block counts
    200, not 151*50). Scale notes on _dup_charspan_islands."""
    base = docs.select(
        F.col(id_col).alias("_id"), F.length(text_col).alias("_nc")
    )
    covered = (
        _dup_charspan_islands(docs, id_col, text_col, min_len, stride)
        .groupBy("_id")
        .agg(F.sum(F.col("_e") - F.col("_s") + 1).alias("_covered"))
    )
    return base.join(covered, "_id", "left").select(
        F.col("_id").alias(id_col),
        F.col("_nc").cast("bigint").alias("n_chars"),
        F.coalesce(F.col("_covered"), F.lit(0)).cast("bigint").alias("dup_chars"),
        # empty text has zero chars (unlike the word form, whose
        # split('') yields one token): guard the share — ANSI would
        # otherwise CRASH the whole scan on one empty doc
        F.when(F.col("_nc") > 0, F.floor(
            F.coalesce(F.col("_covered"), F.lit(0)) * 1000 / F.col("_nc")
        )).otherwise(
            F.when(F.col("_nc") == 0, F.lit(0)).otherwise(F.lit(None))
        ).cast("bigint").alias("dup_permille"),
    )


def remove_duplicate_charspans(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    min_len: int = 50,
    stride: int = 1,
    out_col: str = "clean_text",
) -> DataFrame:
    """Exact-substring dedup REMOVAL at character granularity (the
    Lee et al. 2021 scrub — duplicate_charspan_stats is the signal,
    this is the act): delete every char inside a duplicated
    min_len-char island from ALL holders and splice the remainder,
    for EVERY document.

    Output: (id, n_chars, kept_chars, ``out_col``) — kept_chars ==
    n_chars and clean_text == text for untouched docs (char splicing
    is lossless).

    Scale shape: identical to duplicate_charspan_stats up to the
    island table (digest-only shuffles); islands then collect per doc
    — bounded by copied-span count, NOT corpus-sized — and the splice
    is ONE fold over the sorted island array emitting substr pieces
    (O(islands) substr calls per doc, never per-char work)."""
    base = docs.select(
        F.col(id_col).alias("_id"),
        F.col(text_col).alias("_txt"),
        F.length(text_col).alias("_nc"),
    )
    islands = (
        _dup_charspan_islands(docs, id_col, text_col, min_len, stride)
        .groupBy("_id")
        .agg(
            F.collect_list(
                F.struct(F.col("_s").alias("s"), F.col("_e").alias("e"))
            ).alias("_ivs")
        )
    )
    joined = base.join(islands, "_id", "left").withColumn(
        "_ivs2",
        F.array_sort(
            F.coalesce(F.col("_ivs"), F.array().cast("array<struct<s:int,e:int>>"))
        ),
    )
    # splice fold: cursor walks the doc, each (disjoint, sorted)
    # island appends the gap before it and jumps the cursor past it;
    # finish appends the tail
    acc0 = F.struct(
        F.lit("").cast("string").alias("txt"), F.lit(1).cast("int").alias("cur")
    )
    clean = F.aggregate(
        F.col("_ivs2"),
        acc0,
        lambda acc, iv: F.struct(
            F.concat(
                acc["txt"],
                F.col("_txt").substr(acc["cur"], iv["s"] - acc["cur"]),
            ).alias("txt"),
            (iv["e"] + F.lit(1)).cast("int").alias("cur"),
        ),
        lambda acc: F.concat(
            acc["txt"],
            F.col("_txt").substr(acc["cur"], F.col("_nc") - acc["cur"] + 1),
        ),
    )
    return joined.select(
        F.col("_id").alias(id_col),
        F.col("_nc").cast("bigint").alias("n_chars"),
        F.length(clean).cast("bigint").alias("kept_chars"),
        clean.alias(out_col),
    )


# ---------------------------------------------------------------------------
# Entity resolution: blocked fuzzy matching
# ---------------------------------------------------------------------------
def blocked_levenshtein_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_cols: list[str],
    max_dist: int = 2,
    max_block: int | None = 10_000,
) -> DataFrame:
    """Entity-resolution candidate pairs: records sharing a blocking
    key, kept when ``levenshtein(text_a, text_b) <= max_dist`` — the
    classic block-then-compare shape (the quadratic compare runs
    INSIDE blocks only; pick block keys so blocks stay small).

    Same scale guards as ngram_jaccard_pairs: an equi-join on the
    block key (never a cross join), ``id_a < id_b`` halves the pairs,
    and ``max_block`` drops degenerate blocks (a block of k rows
    costs k^2/2 comparisons — a 1M-row block is a plan error, not a
    workload). JVM levenshtein, engine-portable (DuckDB agrees on the
    metric)."""
    cols = [F.col(c) for c in block_cols]
    base = df.select(
        F.col(id_col).alias("_bid"), F.col(text_col).alias("_btxt"), *cols
    )
    if max_block is not None:
        sizes = base.groupBy(*block_cols).agg(F.count(F.lit(1)).alias("_bn"))
        base = base.join(
            sizes.filter(F.col("_bn") <= max_block).select(*block_cols),
            block_cols,
        )
    a = base.select(
        *block_cols,
        F.col("_bid").alias("id_a"),
        F.col("_btxt").alias("_ta"),
    )
    b = base.select(
        *block_cols,
        F.col("_bid").alias("id_b"),
        F.col("_btxt").alias("_tb"),
    )
    return (
        a.join(b, block_cols)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("distance", F.levenshtein("_ta", "_tb"))
        .filter(F.col("distance") <= max_dist)
        .select("id_a", "id_b", F.col("distance").cast("bigint").alias("distance"))
    )


def tfidf_cosine_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    ngram_n: int = 3,
    max_gram_df: int = 4,
) -> DataFrame:
    """Sparse TF-IDF cosine near-dup pairs — the WEIGHTED sibling of
    ``ngram_jaccard_pairs`` (sklearn-style document similarity, the
    fourth dedup signal family after set-Jaccard, MinHash and
    embedding cosine): docs sharing at least one RARE word
    ``ngram_n``-gram (2 <= gram doc-frequency <= ``max_gram_df``) are
    candidates; candidates are verified by exact cosine over their
    full sparse unigram TF-IDF vectors.

    Blocking on n-GRAMS, not unigrams: a low-entropy corpus (the
    synthetic documents table has ~31 distinct words, every word in
    ~80% of docs) has NO rare unigrams, but word-trigram space grows
    combinatorially, so shared trigrams are highly discriminative —
    near-identical copies share dozens of df=2 grams while unrelated
    docs collide on few.

    ENGINE-PORTABLE by construction (exact DuckDB twin in queries.py:
    dedup_tfidf_cosine): idf is the RATIONAL ratio (N+1)/(df_t+1) —
    plain IEEE +,*,/ (no ln(), whose last-ulp rounding differs across
    libm builds) — and the two order-dependent accumulations (vector
    norms, pair dot products) go through exact decimal(38,9) images of
    9-decimal-rounded term products, so similarities are bit-identical
    under any partitioning or engine. The 1e-9 quantization is far
    below any sane threshold resolution.

    Scale shape: tokenize/TF/DF are partial-aggregated narrow passes;
    candidate generation joins only rare-gram postings (each gram
    contributes <= max_gram_df^2/2 pairs — frequent grams never
    explode the join); verification joins the candidate pairs back to
    their unigram vectors (work ∝ pairs x terms/doc, never
    corpus-quadratic)."""
    toks = df.select(
        F.col(id_col).alias("_id"),
        F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("_t"),
    ).filter(F.length("_t") > 0)
    # NOTE (r17): spread() on the one-file scan was tried here and
    # REVERTED — same-JVM A/B 1.39x slower materializing the split
    # array before the exchange (fat word arrays shuffle instead of
    # text bytes) and still 1.51x slower spreading the raw text rows.
    # Unlike the dsir/bloom md5-fold scans, this pipeline is
    # EXCHANGE-bound at sf0.1 (eight shuffle stages downstream; the
    # two single-task tokenize stages run concurrently inside the
    # job), so the extra round-robin exchange is pure overhead.
    # NOTE (r16): cuts on tf/w/norms/rare were tried here and
    # REVERTED — measured 1.04-1.30x SLOWER. Each multi-consumer
    # subtree (tf under dft+w, w under norms and both dot-product
    # sides, rare under its self-join) sits behind IDENTICAL exchanges,
    # which ReusedExchange already shares (see session.materialize).
    tf = toks.groupBy("_id", "_t").agg(F.count(F.lit(1)).alias("_tf"))
    n_docs = df.count()  # plan-build-time scalar, like ivf/pq builds
    dft = tf.groupBy("_t").agg(F.count(F.lit(1)).alias("_df"))
    w = tf.join(dft, "_t").select(
        "_id",
        "_t",
        (
            F.col("_tf").cast("double")
            * (F.lit(float(n_docs + 1)) / (F.col("_df") + 1))
        ).alias("_w"),
    )

    def dec_sum(x: str):
        return f"CAST({exact_sum(x, 9, 38)} AS DOUBLE)"

    norms = w.groupBy("_id").agg(F.expr(f"sqrt({dec_sum('_w * _w')}) AS _norm"))
    arr = F.split(F.lower(F.col(text_col)), r"\s+")
    tarr = df.select(
        F.col(id_col).alias("_id"), arr.alias("_arr"), F.size(arr).alias("_n")
    )
    grams = (
        tarr.filter(F.col("_n") >= ngram_n)
        .select(
            "_id",
            F.explode(
                F.sequence(F.lit(1), F.col("_n") - (ngram_n - 1))
            ).alias("_p"),
            "_arr",
        )
        .select(
            "_id",
            F.array_join(F.slice(F.col("_arr"), F.col("_p"), ngram_n), " ").alias(
                "_g"
            ),
        )
        .distinct()
    )
    # gram doc-frequency via a window over the SAME exchange as the
    # posting rows — the agg+join form computed and shuffled the
    # (distinct) gram table twice (guide §2.4); rows kept are
    # identical: every (_id, _g) whose gram df is in [2, max_gram_df]
    from pyspark.sql import Window as _W

    rare = (
        grams.withColumn(
            "_gdf", F.count(F.lit(1)).over(_W.partitionBy("_g"))
        )
        .filter((F.col("_gdf") >= 2) & (F.col("_gdf") <= max_gram_df))
        .select("_id", "_g")
    )
    cand = (
        rare.alias("a")
        .join(rare.alias("b"), "_g")
        .filter(F.col("a._id") < F.col("b._id"))
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .distinct()
    )
    wa = w.select(F.col("_id").alias("id_a"), "_t", F.col("_w").alias("_wa"))
    wb = w.select(F.col("_id").alias("id_b"), "_t", F.col("_w").alias("_wb"))
    dots = (
        cand.join(wa, "id_a")
        .join(wb, ["id_b", "_t"])
        .groupBy("id_a", "id_b")
        .agg(F.expr(f"{dec_sum('_wa * _wb')} AS _dot"))
    )
    na = norms.select(F.col("_id").alias("id_a"), F.col("_norm").alias("_na"))
    nb = norms.select(F.col("_id").alias("id_b"), F.col("_norm").alias("_nb"))
    cos = F.col("_dot") / (F.col("_na") * F.col("_nb"))
    return (
        dots.join(na, "id_a")
        .join(nb, "id_b")
        .filter(cos >= threshold)
        .select("id_a", "id_b", F.round(cos, 6).alias("cos_sim"))
    )


# ---------------------------------------------------------------------------
# Cross-source duplicate-fingerprint overlap matrix
# ---------------------------------------------------------------------------
def source_overlap(
    docs: DataFrame,
    source_col: str,
    fingerprint: Column,
    out_count: str = "shared_fps",
) -> DataFrame:
    """Pairwise source-overlap matrix on a document fingerprint — for
    each unordered source pair (a < b), how many distinct fingerprints
    occur in BOTH sources. The corpus-curation readout behind "which
    feeds are mirrors / share boilerplate / need cross-source dedup"
    (the source-level aggregate of the same question exact_dedup
    answers per document).

    ``fingerprint`` is any deterministic Column over the doc row —
    md5 of the full text for exact mirrors, a token-prefix digest for
    template/boilerplate detection, a simhash band for near-dup feeds.

    Scale shape: ONE distinct-aggregate shuffles thin (digest, source)
    rows — never document text; the fingerprint self-join groups are
    bounded by the number of sources sharing a fingerprint (<=
    n_sources), so worst case is C(n_sources, 2) pairs per fingerprint
    and the output is at most n_sources^2 rows — metadata-sized for
    any real source count. No text ever crosses an exchange.
    """
    h = docs.select(fingerprint.alias("_fp"), F.col(source_col)).distinct()
    a = h.select(F.col("_fp"), F.col(source_col).alias("source_a"))
    b = h.select(F.col("_fp"), F.col(source_col).alias("source_b"))
    return (
        a.join(b, "_fp")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias(out_count))
    )
