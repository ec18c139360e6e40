"""Mergeable frequency sketches: Misra-Gries heavy hitters.

The reference's aggregation surface stops at exact counts
(RCFileTest.java:139 CountBy); at 100-TB corpus scale the question
"which keys exceed phi of all traffic" can't afford a full groupBy
over every distinct key (billions of distinct (user, action) pairs
shuffle for a handful of answers). Misra-Gries (and its mergeable-
summaries generalization, Agarwal et al., PODS'12) bounds pass-1
memory at O(1/phi) per partition and emits at most ceil(1/phi)
candidate keys per partition — a map-only pass whose output is
metadata-sized — then an exact recount restricted to candidates makes
the final answer EXACT, not approximate:

  pigeonhole: a key with global count > phi * n has, in at least one
  partition p, count > phi * n_p; Misra-Gries with k >= ceil(1/phi)
  counters over n_p rows retains every key whose partition count
  exceeds n_p / k <= phi * n_p. So the union of per-partition
  candidate sets is a superset of the true heavy hitters, and the
  recount + threshold filter converges on exactly
  {key : count(key) > phi * n} regardless of partitioning.

Pass 2 shuffles ONLY rows matching a broadcast candidate set — at a
phi of 1e-3 that is <= 1000 keys per partition in flight, never the
full key domain.
"""

from __future__ import annotations

from collections.abc import Iterator
from functools import reduce

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cascading_hive_spark.session import materialize


def _q_labels(probs: tuple[float, ...]) -> dict[float, int]:
    """Per-mille column labels for quantile probs: ``q<label>``.

    round(), not int-truncation — float images like 0.29*1000 =
    289.999... would otherwise label as q289 (ADVICE r11). Raises if
    two probs collide onto one label (e.g. 0.2501 and 0.2502), which
    would silently produce duplicate output columns.
    """
    labels = {p: int(round(p * 1000)) for p in probs}
    if len(set(labels.values())) != len(labels):
        raise ValueError(
            f"probs {probs} collide at per-mille label precision; "
            "use probs distinguishable at 3 decimal places"
        )
    return labels


def _mg_merge(counters: dict, add: dict, k: int) -> dict:
    """Merge new counts into a Misra-Gries summary, keeping at most
    ``k`` counters. Batched decrement (the mergeable-summaries rule):
    combine, then subtract the (k+1)-th largest count from every
    counter and drop the non-positive — equivalent to running the
    one-at-a-time decrement, and preserves the n/k error bound."""
    for key, cnt in add.items():
        counters[key] = counters.get(key, 0) + int(cnt)
    if len(counters) > k:
        # (k+1)-th largest value; subtracting it zeroes out at least
        # len - k counters, restoring the size bound in one pass
        cut = sorted(counters.values(), reverse=True)[k]
        counters = {key: c - cut for key, c in counters.items() if c > cut}
    return counters


def heavy_hitters(
    df: DataFrame, keys: list[str], phi: float, count_name: str = "cnt"
) -> DataFrame:
    """Exact keys with ``count > phi * total_rows``, two-pass.

    Pass 1 (map-only, no shuffle): per-partition Misra-Gries with
    ``k = ceil(1/phi)`` counters over Arrow batches via mapInPandas;
    each partition emits its <= k candidate key tuples. Pass 2: exact
    recount of rows matching the (metadata-sized, broadcast) candidate
    set, filtered against the true total. Output is deterministic —
    candidate supersets vary with partitioning, but the recount +
    threshold keeps exactly the true hitters (module docstring).
    """
    if not 0.0 < phi < 1.0:
        raise ValueError(f"phi must be in (0, 1), got {phi}")
    k = int(1.0 / phi) + 1
    keyed = df.select(*keys)  # column pruning reaches the scan
    schema = keyed.schema

    def _norm_key(key: object) -> tuple:
        # NULL keys arrive from pandas as NaN/NaT, and NaN != NaN would
        # split one logical key across counters — breaking the
        # pigeonhole retention bound for that key. Canonicalize every
        # null-ish element to None so the counter dict merges them.
        parts = key if isinstance(key, tuple) else (key,)
        return tuple(None if pd.isna(p) else p for p in parts)

    def mg_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counters: dict = {}
        cols = None
        for pdf in batches:
            cols = list(pdf.columns)
            grouped = pdf.groupby(cols, sort=False, dropna=False).size()
            add = {_norm_key(key): cnt for key, cnt in grouped.to_dict().items()}
            counters = _mg_merge(counters, add, k)
        if counters:
            # object dtype + None (never NaN): a NaN in an int64 key
            # column would fail the Arrow cast back to the key schema
            out = pd.DataFrame(list(counters.keys()), columns=cols, dtype=object)
            yield out.where(pd.notna(out), None)

    candidates = keyed.mapInPandas(mg_partition, schema=schema).dropDuplicates()
    total = df.groupBy().agg(F.count(F.lit(1)).alias("_hh_total"))
    # eqNullSafe per key: a plain equality semi-join would drop
    # NULL-keyed candidates that pass 1 deliberately kept (ADVICE r8)
    cand = candidates.select(*[F.col(k).alias(f"_hh_{k}") for k in keys])
    cond = reduce(
        lambda a, b: a & b, [F.col(k).eqNullSafe(F.col(f"_hh_{k}")) for k in keys]
    )
    return (
        df.join(F.broadcast(cand), cond, "left_semi")
        .groupBy(*keys)
        .agg(F.count(F.lit(1)).alias(count_name))
        .crossJoin(F.broadcast(total))
        .filter(F.col(count_name) > F.lit(phi) * F.col("_hh_total"))
        .drop("_hh_total")
    )


def histogram_quantile_merge(
    df: DataFrame,
    value_col: str,
    partial_key,
    bins: int = 128,
    probs: tuple[float, ...] = (0.5, 0.95, 0.99),
    out_scale: int = 6,
) -> DataFrame:
    """Mergeable HISTOGRAM quantile sketch — the bounded-memory
    quantile path when the exact percentile over raw rows is
    unaffordable or the data arrives in independent slices (per-day
    partitions, per-source shards): build one fixed-grid ``bins``-bin
    count histogram per ``partial_key`` group (the mergeable partial —
    merging two groups' sketches is elementwise count addition, the
    same associativity contract as relational.partial_agg), merge all
    partials, and estimate each quantile by linear interpolation
    within its bin. Returns ONE row:
    (n, n_partials, q<pp> for each prob).

    Error bound: each estimate is within one bin width of the true
    quantile — (max-min)/bins — the classic fixed-grid trade; the
    estimate arithmetic is fully deterministic (no sampling), so the
    whole pipeline replays bit-for-bit in SQL, unlike t-digest/KLL
    whose merge order changes the summary.

    Scale shape: one bounds pass (min/max, map-side combined), one
    (partial_key, bin) count aggregation — the shuffle carries at most
    groups x bins thin rows — one bins-sized merge aggregation, and a
    cumulative window over <= ``bins`` rows (metadata-scale single
    partition by construction). Raw values never shuffle.

    NULL handling (ADVICE r11): rows with a NULL value OR a NULL
    partial key are dropped up front — the fixed-grid math is only
    defined over non-null values, and keeping NULLs would diverge
    from the SQL replay (Spark windows sort NULL bins first, DuckDB
    last, corrupting the cumulative sums differently per engine).
    """
    from pyspark.sql import Window

    if not 2 <= bins <= 100_000:
        raise ValueError(f"bins must be in [2, 100000], got {bins}")
    if any(not 0.0 < p < 1.0 for p in probs):
        raise ValueError(f"probs must be in (0, 1), got {probs}")
    labels = _q_labels(probs)
    v = F.col(value_col).cast("double")
    src = df.select(v.alias("_v"), F.col(partial_key).alias("_pk") if isinstance(partial_key, str) else partial_key.alias("_pk"))
    src = src.filter(F.col("_v").isNotNull() & F.col("_pk").isNotNull())
    bounds = src.agg(F.min("_v").alias("_lo"), F.max("_v").alias("_hi"))
    width = (F.col("_hi") - F.col("_lo")) / F.lit(float(bins))
    bin_expr = F.least(
        F.lit(bins - 1),
        F.floor((F.col("_v") - F.col("_lo")) / width).cast("int"),
    ).cast("int")
    # the mergeable partial: per-group fixed-grid counts
    partials = (
        src.crossJoin(F.broadcast(bounds))
        .groupBy(F.col("_pk"), bin_expr.alias("_bin"))
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    # merge = elementwise addition across partials
    merged = partials.groupBy("_bin").agg(F.sum("_c").alias("_c"))
    n_partials = partials.select("_pk").distinct().agg(
        F.count(F.lit(1)).alias("_n_partials")
    )
    w = Window.orderBy("_bin").rowsBetween(Window.unboundedPreceding, 0)
    cum = (
        merged.withColumn("_cum", F.sum("_c").over(w))
        .withColumn("_cum_prev", F.col("_cum") - F.col("_c"))
        .crossJoin(F.broadcast(bounds))
        .crossJoin(F.broadcast(n_partials))
    )
    # materialize per-row estimates first (window over <= bins rows),
    # then one conditional-min aggregate per prob
    w_all = Window.partitionBy()
    cum = cum.withColumn("_n_total", F.max("_cum").over(w_all))
    sel = ["_bin", "_c", "_cum", "_cum_prev", "_lo", "_hi", "_n_partials", "_n_total"]
    proj = cum.select(*sel, *[
        (
            F.col("_lo")
            + ((F.col("_hi") - F.col("_lo")) / F.lit(float(bins)))
            * (
                F.col("_bin")
                + (F.lit(p) * F.col("_n_total") - F.col("_cum_prev")) / F.col("_c")
            )
        ).alias(f"_est_{labels[p]}")
        for p in probs
    ])
    final_aggs = [
        F.max("_n_total").cast("bigint").alias("n"),
        F.max("_n_partials").cast("bigint").alias("n_partials"),
    ]
    for p in probs:
        target = F.lit(p) * F.col("_n_total")
        final_aggs.append(
            (
                F.round(
                    F.min(
                        F.when(
                            (F.col("_cum") >= target) & (F.col("_cum_prev") < target),
                            F.col(f"_est_{labels[p]}"),
                        )
                    ),
                    out_scale,
                )
                + F.lit(0.0)
            ).alias(f"q{labels[p]}")
        )
    return proj.agg(*final_aggs)


def quantile_from_histogram(
    hist: DataFrame,
    lo: float,
    hi: float,
    bins: int = 128,
    probs: tuple[float, ...] = (0.5, 0.95, 0.99),
    out_scale: int = 6,
) -> DataFrame:
    """Quantile estimates from an already-merged FIXED-grid histogram
    ``(bin, c)`` — the estimator stage shared by the batch sketch
    (histogram_quantile_merge computes its own bounds) and the
    streaming form (streaming/jobs.histogram_stream, where a bounds
    pass is impossible and the grid is fixed up front). One row:
    (n, q<pp> per prob); cumulative window over <= ``bins`` rows
    (metadata-scale single partition by construction); + 0.0
    normalizes IEEE -0.0.
    """
    from pyspark.sql import Window

    labels = _q_labels(probs)
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.partitionBy()
    cum = (
        hist.select(F.col("bin"), F.col("c").cast("bigint").alias("_c"))
        .withColumn("_cum", F.sum("_c").over(w))
        .withColumn("_cum_prev", F.col("_cum") - F.col("_c"))
        .withColumn("_n_total", F.max(F.col("_cum") + F.lit(0)).over(w_all))
    )
    width = F.lit((hi - lo) / float(bins))
    proj = cum.select(
        "_cum",
        "_cum_prev",
        "_n_total",
        *[
            (
                F.lit(lo)
                + width
                * (
                    F.col("bin")
                    + (F.lit(p) * F.col("_n_total") - F.col("_cum_prev")) / F.col("_c")
                )
            ).alias(f"_est_{labels[p]}")
            for p in probs
        ],
    )
    aggs = [F.max("_n_total").cast("bigint").alias("n")]
    for p in probs:
        target = F.lit(p) * F.col("_n_total")
        aggs.append(
            (
                F.round(
                    F.min(
                        F.when(
                            (F.col("_cum") >= target) & (F.col("_cum_prev") < target),
                            F.col(f"_est_{labels[p]}"),
                        )
                    ),
                    out_scale,
                )
                + F.lit(0.0)
            ).alias(f"q{labels[p]}")
        )
    return proj.agg(*aggs)


# ---------------------------------------------------------------------------
# Bloom filter: mergeable membership sketch (decontamination at scale)
# ---------------------------------------------------------------------------
_BLOOM_WORD_BITS = 63  # bit 63 is the sign bit; DuckDB raises on 1<<63


def _bloom_positions(item, k: int, m_bits: int, seed: str, portable: bool):
    """The k bit positions of a string item: independent salted
    hashes, md5-prefix arithmetic when ``portable`` (the repo-wide
    SQL-replayable convention) else xxhash64 (the scale path)."""
    out = []
    for j in range(k):
        salted = F.concat(F.lit(f"{seed}{j}|"), item)
        if portable:
            h = F.conv(F.substring(F.md5(salted), 1, 8), 16, 10).cast("bigint")
        else:
            h = F.xxhash64(salted)
        out.append(F.pmod(h, F.lit(m_bits)))
    return out


def bloom_build(
    df: DataFrame,
    item_col: str,
    m_bits: int = 131_072,
    k: int = 3,
    seed: str = "bf14|",
    portable: bool = True,
) -> DataFrame:
    """Build a Bloom filter over a string column as a RELATIONAL
    sketch: (word_idx int, bits bigint) rows, 63 bits per word (the
    sign bit stays clear so both engines' BIGINT shifts stay in
    range). The classic membership sketch for benchmark
    DECONTAMINATION at corpus scale: build once over the benchmark's
    n-grams (m_bits/8 bytes total — kilobytes), probe 100 TB map-only.

    Mergeable by construction — bit_or is idempotent, commutative and
    associative, so partial filters from any partitioning (or from
    separate benchmark shards) union by ``bit_or`` per word_idx: the
    partial_agg discipline. The build is one narrow projection +
    one map-side-combined groupBy over at most m_bits/63 + 1 word
    rows; items never shuffle, only (word_idx, bits) partials.

    No false negatives ever; false-positive rate ~ (1 - e^{-kn/m})^k
    — size m_bits to the benchmark (n items), not the corpus. A NULL item
    is not a member: it has no positions, so it sets no bit."""
    pos = F.explode(
        F.array(*_bloom_positions(F.col(item_col), k, m_bits, seed, portable))
    ).alias("_p")
    return (
        df.filter(F.col(item_col).isNotNull())
        .select(pos)
        .select(
            (F.col("_p") / _BLOOM_WORD_BITS).cast("int").alias("word_idx"),
            _bloom_bit(F.col("_p")).alias("_b"),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("_b").alias("bits"))
    )


def _bloom_bit(p):
    """1 << (p % 63) as a Column: PySpark's shiftleft takes only a
    Python-int shift, so look the mask up in a 63-long literal table.
    F.lit(list) — a TRUE array Literal, evaluated once — not
    F.array(*lits), whose CreateArray rebuilds the table per row
    (measured 3x on the sf0.1 probe)."""
    shifts = F.lit([1 << b for b in range(63)]).cast("array<bigint>")
    return F.element_at(
        shifts, F.pmod(p, F.lit(_BLOOM_WORD_BITS)).cast("int") + 1
    )


def bloom_contains(
    item,
    filter_words: list[int],
    m_bits: int,
    k: int = 3,
    seed: str = "bf14|",
    portable: bool = True,
):
    """Column expression: is ``item`` (a string Column) in the Bloom
    filter? ``filter_words`` is the DENSE word list (index 0..
    m_bits//63, zeros for absent words — see bloom_dense_words),
    embedded as a plan literal so the probe is MAP-ONLY: no join, no
    shuffle, full codegen — the shape that lets one broadcast-free
    scan decontaminate the whole corpus."""
    # F.lit(list): one folded array Literal — CreateArray of 2081
    # F.lit scalars would be re-evaluated per probed gram
    arr = F.lit([int(w) for w in filter_words]).cast("array<bigint>")
    cond = None
    for p in _bloom_positions(item, k, m_bits, seed, portable):
        word = F.element_at(arr, (p / _BLOOM_WORD_BITS).cast("int") + 1)
        hit = word.bitwiseAND(_bloom_bit(p)) != 0
        cond = hit if cond is None else (cond & hit)
    return cond


def bloom_dense_words(bloom: DataFrame, m_bits: int) -> list[int]:
    """Collect a bloom_build result into the dense word list
    bloom_contains embeds. Metadata-sized by construction
    (m_bits/63 + 1 bigints — a 2^17-bit filter is 2081 longs)."""
    n_words = m_bits // _BLOOM_WORD_BITS + 1
    words = [0] * n_words
    for r in bloom.collect():
        if not 0 <= r["word_idx"] < n_words:
            raise ValueError(
                f"bloom_dense_words: word_idx {r['word_idx']} out of range "
                f"for m_bits={m_bits} ({n_words} words) — the filter was "
                "built with a different m_bits than the one passed here"
            )
        words[r["word_idx"]] = r["bits"]
    return words


# Above this many 63-bit words (stored in bigints; a 2^21-bit filter
# is 33,289 words, NOT m_bits//64) the dense plan literal stops being
# the fast path: Catalyst tree transforms COPY the literal on every
# rule pass, and a 2^24-bit filter (266k longs) measured 163s of pure
# planner churn (BASELINE.md, r14) where the broadcast-join leg plans
# in milliseconds. Below it, the literal probe is map-only full
# codegen and beats the join. ~10^4 words == ~80 KB of task binary.
BLOOM_LITERAL_MAX_WORDS = 10_000


def bloom_probe(
    df: DataFrame,
    item_col: str,
    bloom: DataFrame,
    m_bits: int,
    k: int = 3,
    seed: str = "bf14|",
    portable: bool = True,
    out_col: str = "bloom_hit",
) -> DataFrame:
    """ONE probe entry point that picks the physical leg on filter
    size (r14 VERDICT #7): filters up to BLOOM_LITERAL_MAX_WORDS
    63-bit words (stored in bigints) ride the plan as a dense literal
    (map-only, no join — bloom_contains), larger ones probe through k
    broadcast hash joins (bloom_probe_broadcast) so Catalyst never
    re-copies a megabit literal. Both legs share _bloom_positions, so
    the flags are identical; only the plan shape changes. Both legs
    also raise on an m_bits mismatch (word_idx out of range for the
    m_bits passed here): the literal leg via bloom_dense_words, the
    broadcast leg via its own range precheck."""
    n_words = m_bits // _BLOOM_WORD_BITS + 1
    if n_words <= BLOOM_LITERAL_MAX_WORDS:
        words = bloom_dense_words(bloom, m_bits)
        return df.withColumn(
            out_col,
            bloom_contains(
                F.col(item_col), words, m_bits, k=k, seed=seed,
                portable=portable,
            ),
        )
    return bloom_probe_broadcast(
        df, item_col, bloom, m_bits, k=k, seed=seed, portable=portable,
        out_col=out_col,
    )


def bloom_probe_broadcast(
    df: DataFrame,
    item_col: str,
    bloom: DataFrame,
    m_bits: int,
    k: int = 3,
    seed: str = "bf14|",
    portable: bool = True,
    out_col: str = "bloom_hit",
) -> DataFrame:
    """Probe via k chained BROADCAST joins against the (word_idx,
    bits) sketch table — the LARGE-filter path. bloom_contains embeds
    the words as a plan literal, which is ideal up to ~10^4 words but
    churns Catalyst (and small drivers) at megabit filter sizes: a
    2^24-bit filter is 266k longs, and tree transforms copy that
    literal on every rule pass. Here the filter stays a DataFrame:
    each of the k probe positions left-joins its word over a broadcast
    hash join — map-side, no corpus shuffle, one executor-resident
    copy of the filter — and the corpus scan stays a single stage.

    Adds ``out_col`` boolean to ``df``. Absent words read as 0 (no
    bits), preserving the no-false-negative law — which is exactly why
    an m_bits mismatch must RAISE here rather than probe: a filter
    built with a different m_bits hashes to different positions, and a
    left join against it silently yields wrong flags (including false
    negatives). The precheck below mirrors bloom_dense_words' guard on
    the literal leg (one metadata-sized agg over the sketch table)."""
    n_words = m_bits // _BLOOM_WORD_BITS + 1
    # The sketch table is metadata-sized (≤ m_bits/63 + 1 word rows)
    # but its LINEAGE is a corpus-scale scan + k md5s per gram, read by
    # the m_bits precheck below and again by the broadcast probe joins.
    bloom = materialize(bloom, "bloom_probe_broadcast: sketch words")
    rng = bloom.agg(
        F.min("word_idx").alias("lo"), F.max("word_idx").alias("hi")
    ).first()
    if rng["hi"] is not None and not (
        0 <= rng["lo"] and rng["hi"] < n_words
    ):
        raise ValueError(
            f"bloom_probe_broadcast: word_idx range [{rng['lo']}, "
            f"{rng['hi']}] out of range for m_bits={m_bits} "
            f"({n_words} words) — the filter was built with a "
            "different m_bits than the one passed here"
        )
    out = df
    cond = None
    for j in range(k):
        p = _bloom_positions(F.col(item_col), k, m_bits, seed, portable)[j]
        bj = bloom.select(
            F.col("word_idx").alias(f"_bw{j}"), F.col("bits").alias(f"_bb{j}")
        )
        out = out.withColumn(f"_bp{j}", p).join(
            F.broadcast(bj),
            (F.col(f"_bp{j}") / _BLOOM_WORD_BITS).cast("int")
            == F.col(f"_bw{j}"),
            "left",
        )
        hit = (
            F.coalesce(F.col(f"_bb{j}"), F.lit(0).cast("bigint")).bitwiseAND(
                _bloom_bit(F.col(f"_bp{j}"))
            )
            != 0
        )
        cond = hit if cond is None else (cond & hit)
    return out.withColumn(out_col, cond).drop(
        *[c for j in range(k) for c in (f"_bp{j}", f"_bw{j}", f"_bb{j}")]
    )


def bloom_flag_grams_pandas(words: list[int], m_bits: int, k: int = 3,
                            seed: str = "bf14|", portable: bool = True):
    """Arrow-batched per-document probe of an ``array<string>`` gram
    column against a LARGE dense filter: returns a pandas_udf (LONG =
    flagged-gram count per row) whose closure carries the filter as a
    numpy int64 array — the STREAMING big-filter leg. Above
    BLOOM_LITERAL_MAX_WORDS the plan-literal probe churns Catalyst
    and the broadcast-join probe needs an explode + re-aggregate
    (stateful under Structured Streaming); this leg keeps the gate
    STATELESS — one task-resident copy of the filter (a 2^24-bit
    filter is ~2 MB), no join, no shuffle, no state store. The probe
    itself is Arrow-batched Python: per gram, k hashlib.md5 position
    hashes with early-exit on the first missing bit (only the filter
    closure is numpy) — the cost model BASELINE.md's bloom figures
    measured, not a vectorized bit test.

    The position hash replicates _bloom_positions' portable
    convention bit-for-bit (md5(seed + j + '|' + item) first-8-hex as
    int, mod m_bits) — pinned against the column-expression probe by
    test_bloom_pandas_probe_matches_literal; the xxhash64 scale path
    has no public Python implementation here, so portable=False
    raises rather than silently diverging."""
    if not portable:
        raise ValueError(
            "bloom_flag_grams_pandas replicates only the portable md5 "
            "position hash; probe xxhash64 filters through "
            "bloom_contains/bloom_probe_broadcast instead"
        )
    import hashlib

    import numpy as np

    from pyspark.sql.functions import pandas_udf

    w = np.asarray([int(x) for x in words], dtype=np.int64)
    n_words = m_bits // _BLOOM_WORD_BITS + 1
    if len(w) != n_words:
        raise ValueError(
            f"filter has {len(w)} words but m_bits={m_bits} needs "
            f"{n_words} — built with a different m_bits?"
        )
    salts = [f"{seed}{j}|".encode() for j in range(k)]

    @pandas_udf("long")
    def _flagged(grams: pd.Series) -> pd.Series:
        def one(arr) -> int:
            if arr is None or len(arr) == 0:
                return 0
            n = 0
            for g in arr:
                gb = g.encode()
                hit = True
                for salt in salts:
                    p = int(
                        hashlib.md5(salt + gb).hexdigest()[:8], 16
                    ) % m_bits
                    if not (int(w[p // _BLOOM_WORD_BITS]) >> (p % _BLOOM_WORD_BITS)) & 1:
                        hit = False
                        break
                if hit:
                    n += 1
            return n

        return grams.map(one)

    return _flagged


# --- KMV (k minimum values) distinct sketch -------------------------
#
# Bar-Yossef et al. 2002 ("Counting distinct elements in a data
# stream"): keep the k smallest hash values of the set; with R_k the
# k-th smallest hash normalized to (0,1), E[distinct] ~ (k-1)/R_k.
# The sketch is mergeable (union = bottom-k of the concatenation), so
# per-source sketches roll up to a union estimate without re-reading
# the sources — the cheap cross-partition "how many distinct users
# across ALL segments" that HLL answers, but with a trivially
# portable integer algebra (md5 bottom-k, one double division) that a
# SQL oracle replays bit-for-bit. Error ~ 1/sqrt(k).


def kmv_distinct_by_key(
    df: DataFrame,
    key_col: str,
    value_col: str,
    k: int = 64,
    seed: str = "kmv16",
    union_key: str = "__ALL__",
) -> DataFrame:
    """Per-key KMV distinct estimate + a merged ``union_key`` row.

    Hashes are the first 13 hex chars of md5 (52 bits — exactly
    representable in a double, identical in Spark and DuckDB); the
    bottom-k per key is a window row_number over the DISTINCT hash
    set. Keys with fewer than k distinct values fall back to the
    exact sketch size (the standard KMV small-set branch). Exact
    distincts ride along for the rel_err column — at 100 TB you would
    drop them and keep only the sketch pass; they are here so the
    estimate is certifiable.

    Scale: the shuffle carries (key, 8-byte hash) distinct pairs —
    never values; the union row merges per-key sketches by re-ranking
    the same distinct-hash relation under one key, not by re-reading
    the input.
    """
    from pyspark.sql import Window

    h = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "|", F.lit(seed), F.col(value_col).cast("string")
                    )
                ),
                1,
                13,
            ),
            16,
            10,
        )
        .cast("bigint")
        .alias("h")
    )
    # the union row's re-distinct over a DIFFERENT key ((h) vs
    # (key, h)) cannot share the exchange with the per-key side, so
    # without a cut the scan+md5+distinct executes again for it —
    # materialize once (guide §5; measured 0.88x same-JVM)
    hashed = materialize(
        df.filter(F.col(value_col).isNotNull())
        .select(F.col(key_col).cast("string").alias("key"), h)
        .distinct(),
        "kmv_distinct_by_key: hashes",
    )
    merged = hashed.select(F.lit(union_key).alias("key"), "h").distinct()
    allh = hashed.unionByName(merged)
    w = Window.partitionBy("key").orderBy("h")
    sk = allh.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= k
    )
    stats = allh.groupBy("key").agg(
        F.count(F.lit(1)).alias("exact_distinct")
    )
    agg = sk.groupBy("key").agg(
        F.count(F.lit(1)).alias("n_sketch"),
        F.max("h").alias("_hk"),
    )
    est = F.when(
        F.col("n_sketch") < k, F.col("exact_distinct").cast("double")
    ).otherwise(
        F.lit(float(k - 1) * 2.0**52) / F.col("_hk").cast("double")
    )
    # null-safe: NULL-keyed rows are one key group, as in GROUP BY
    stats = stats.withColumnRenamed("key", "_sk")
    return (
        agg.join(stats, F.col("key").eqNullSafe(F.col("_sk")))
        .select(
            "key",
            "n_sketch",
            "exact_distinct",
            (F.round(est, 4) + F.lit(0.0)).alias("est_distinct"),
            (
                F.round(
                    est / F.col("exact_distinct").cast("double") - 1.0, 4
                )
                + F.lit(0.0)
            ).alias("rel_err"),
        )
    )
