"""Relational operators (SURVEY.md §2.B / §2.C).

Each function is a thin, declarative DataFrame transform — Catalyst
owns pruning/pushdown/join selection, so these stay whole-stage
codegen'd JVM plans with zero Python in the row loop. Reference
citations point at the Cascading usage whose semantics each reproduces.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from cascading_hive_spark.operators.exact import exact_sum
from cascading_hive_spark.session import materialize


# --- B1: projection / identity rename (HCatTapTest.java:70,177,192) ---
def project(df: DataFrame, columns: list[str]) -> DataFrame:
    """Keep + reorder named columns; unknown names fail at plan time
    (plan-time validation parity with HCatScheme.java:160-165)."""
    missing = [c for c in columns if c not in df.columns]
    if missing:
        raise ValueError(f"columns not in schema: {missing}")
    return df.select(*columns)


# --- B2: ExpressionFilter (HCatTapTest.java:122,155) ---
def expression_filter(df: DataFrame, remove_expr: str) -> DataFrame:
    """Cascading ``ExpressionFilter`` REMOVES rows matching the
    expression (HCatTapTest.java:122 keeps col1 <= 3 for "col1 > 3").
    Java primitive comparison never sees SQL NULL, so a null row is NOT
    removed; Spark's ``~expr`` would drop nulls under three-valued
    logic. ``remove_expr <=> true`` is false for NULL → null rows kept,
    matching the reference (SURVEY.md §7 risk register)."""
    return df.filter(~F.expr(remove_expr).eqNullSafe(F.lit(True)))


# --- B3: CountBy — hash aggregate count per key (RCFileTest.java:139) ---
def count_by(df: DataFrame, keys: list[str], count_name: str = "cnt") -> DataFrame:
    """Partial (map-side) + final count per key; Spark's
    HashAggregateExec does the partial/final split CountBy hand-rolls.
    Reference goldens are key-ordered (RCFileTest.java:144-150) — the
    caller adds orderBy when display order matters."""
    return df.groupBy(*keys).agg(F.count(F.lit(1)).alias(count_name))


# --- B4+B5: regex token explode + sort-group count (ORCFileTest.java:238-284) ---
def tokenize(df: DataFrame, text_col: str, pattern: str, token_name: str = "token") -> DataFrame:
    """RegexSplitGenerator parity: split on regex, one row per token,
    with JAVA ``String.split`` limit=0 semantics — interior empty
    tokens are KEPT (the reference counts "" 9 times over wc.txt,
    ORCFileTest.java:273-274) but TRAILING empty tokens are DROPPED
    (each wc.txt doc ends in '.', yet "" counts 9, not 14). Spark's
    ``split`` keeps trailing empties, so the trailing separator run is
    stripped first; an all-separator text yields no tokens, like
    Java's empty split result."""
    # non-capturing group: '+' must bind to the WHOLE pattern, not its
    # last atom (an alternation like 'ab|cd' would otherwise strip
    # only repeats of 'cd')
    cleaned = F.regexp_replace(F.col(text_col), f"(?:{pattern})+$", "")
    toks = F.when(F.length(cleaned) == 0, F.array().cast("array<string>")).otherwise(
        F.split(cleaned, pattern)
    )
    keep = [c for c in df.columns if c != text_col]
    return df.select(*keep, F.explode(toks).alias(token_name))


def wordcount(df: DataFrame, text_col: str, pattern: str = r"[ \[\]\(\),.]") -> DataFrame:
    """The reference's flagship end-to-end flow (ORCFileTest wordcount,
    ORCFileTest.java:238-284): tokenize → group → count → order by key.
    Input spread to full parallelism (tokenize+explode is compute-dense
    and the corpus may arrive as one file)."""
    from cascading_hive_spark.operators.dedup import spread

    tokens = tokenize(spread(df.select(text_col)), text_col, pattern)
    return tokens.groupBy("token").agg(F.count(F.lit(1)).alias("cnt")).orderBy("token")


# --- B6: Coerce — typed cast of named columns (HCatTapTest.java:84-86) ---
def coerce(df: DataFrame, casts: dict[str, str]) -> DataFrame:
    out = df
    for name, dtype in casts.items():
        out = out.withColumn(name, F.col(name).cast(dtype))
    return out


# --- §2.C free wins -------------------------------------------------
def join(
    left: DataFrame,
    right: DataFrame,
    on,
    how: str = "inner",
    broadcast_right: bool = False,
) -> DataFrame:
    """All join flavors (inner/left/right/full/semi/anti/cross). The
    reference has NO join of its own — it configures Hive's map-join
    with a 1 GB small-table threshold (hive-site.xml:56-59). Spark
    analog: ``broadcast_right=True`` forces a broadcast-hash join for
    dimension tables; otherwise AQE picks broadcast vs sort-merge at
    runtime from observed sizes."""
    r = F.broadcast(right) if broadcast_right else right
    return left.join(r, on, how)


def top_k(df: DataFrame, order: list[Column], k: int) -> DataFrame:
    """orderBy+limit → Spark plans TakeOrderedAndProject: per-partition
    partial top-k then a single small merge, no global sort shuffle —
    the scalable top-k at 100 TB."""
    return df.orderBy(*order).limit(k)


def dedupe_rows(df: DataFrame, subset: list[str] | None = None) -> DataFrame:
    """distinct / dropDuplicates — hash-shuffle on the key columns."""
    return df.dropDuplicates(subset) if subset else df.distinct()


def ranked(
    df: DataFrame,
    partition_by: list[str],
    order_by: list[Column],
    rank_name: str = "rnk",
) -> DataFrame:
    """Window rank within groups (absent in the reference; §2.C)."""
    w = Window.partitionBy(*partition_by).orderBy(*order_by)
    return df.withColumn(rank_name, F.rank().over(w))


# --- skew handling: salting (100 TB hygiene) ------------------------
def salted_group_count(
    df: DataFrame, keys: list[str], salt_buckets: int = 16, count_name: str = "cnt"
) -> DataFrame:
    """Two-phase aggregation for skewed keys: phase 1 groups on
    (key, salt) so a hot key spreads over ``salt_buckets`` reducers;
    phase 2 merges the partials per key. Same result as ``count_by``,
    different shuffle profile — use when one key holds >~1/parallelism
    of all rows. (AQE skew-join handles JOIN skew automatically; agg
    skew still wants explicit salt.)"""
    salt = (F.spark_partition_id() % salt_buckets).alias("_salt")
    partial = (
        df.select(*keys, salt)
        .groupBy(*keys, "_salt")
        .agg(F.count(F.lit(1)).alias("_partial"))
    )
    return partial.groupBy(*keys).agg(F.sum("_partial").cast("bigint").alias(count_name))


def salted_join_small_skewed(
    skewed: DataFrame,
    small: DataFrame,
    key: str,
    salt_buckets: int = 8,
) -> DataFrame:
    """Skew-safe equi-join: salt the skewed side with a random-ish
    bucket id and EXPLODE the small side once per bucket, so a hot key
    no longer lands on a single reducer. Deterministic output (the
    salt only routes rows). Small side grows by salt_buckets x — only
    for genuinely small dimensions."""
    salted = skewed.withColumn("_salt", F.spark_partition_id() % salt_buckets)
    replicated = small.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(salt_buckets)]))
    )
    return salted.join(replicated, [key, "_salt"]).drop("_salt")


def key_skew_stats(df: DataFrame, key_col: str, top_n: int = 20) -> DataFrame:
    """Heavy-hitter profile of a join/group key: the top-N keys by
    frequency with their permille share of all rows — the diagnostic
    you run BEFORE choosing a skew strategy (salting, AQE skew-join,
    broadcast). Share is floor(cnt*1000/total), pure-integer-valued so
    the output is hash-stable across engines.

    Scale shape: one map-side-combined count agg, then orderBy+limit
    (TakeOrderedAndProject — per-partition partial top-N, no global
    sort); the rank window runs over the N surviving rows only, and
    the total travels as a broadcast 1-row cross join."""
    from pyspark.sql import Window

    total = df.agg(F.count(F.lit(1)).alias("_total"))
    counts = df.groupBy(key_col).agg(F.count(F.lit(1)).alias("cnt"))
    top = top_k(counts, [F.col("cnt").desc(), F.col(key_col)], top_n)
    w = Window.orderBy(F.col("cnt").desc(), F.col(key_col))
    return (
        top.crossJoin(F.broadcast(total))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .select(
            key_col,
            "cnt",
            "rank",
            F.floor(F.col("cnt") * 1000 / F.col("_total")).alias("share_permille"),
        )
    )


# --- runtime filtering (100 TB hygiene) -----------------------------
def runtime_prefilter_join(
    probe: DataFrame,
    build: DataFrame,
    probe_key: str,
    build_key: str,
    how: str = "inner",
    m_bits: int = 20,
) -> DataFrame:
    """Join with an explicit bloom-style runtime filter: hash the
    build side's keys into a compact bucket set (``2**m_bits``
    buckets), broadcast-semi-join the PROBE side on its own bucket id
    to discard most non-matching rows BEFORE the join shuffle, then
    run the exact join. Semantics-transparent for inner/semi joins:
    the prefilter only ever passes a superset of the matching rows
    (hash collisions), and the real join removes the false positives.

    This is the DataFrame-level analog of Spark's own
    InjectRuntimeFilter / bloom runtime filters; making it explicit
    (a) works when the optimizer declines (non-equi follow-ups,
    pre-aggregated build sides) and (b) survives at 100 TB: the bucket
    set is at most min(|build|, 2**m_bits) ints — broadcastable at a
    few MB — while the avoided shuffle is the full probe table. False
    positive rate ≈ |build| / 2**m_bits (single hash; the classic
    k-hash bloom needs k positions ALL set, which a semi-join can't
    express without a groupBy — one wider hash is the better trade
    inside a relational plan).
    """
    if how not in ("inner", "semi", "left_semi"):
        raise ValueError(f"prefilter is only semantics-transparent for inner/semi, got {how}")
    # xxhash64 hashes the VALUE AS TYPED: int 5 and bigint 5 hash to
    # different buckets, which would silently discard matching rows
    # before the exact join (ADVICE r6). Integral keys are widened to a
    # common bigint for hashing only; any other type mix is an error.
    integral = {"tinyint", "smallint", "int", "bigint"}
    probe_dt = dict(probe.dtypes)[probe_key]
    build_dt = dict(build.dtypes)[build_key]
    if probe_dt in integral and build_dt in integral:
        probe_hash_key = probe[probe_key].cast("bigint")
        build_hash_key = build[build_key].cast("bigint")
    elif probe_dt == build_dt:
        probe_hash_key = probe[probe_key]
        build_hash_key = build[build_key]
    else:
        raise ValueError(
            f"prefilter key types must match (or both be integral): "
            f"probe {probe_key}:{probe_dt} vs build {build_key}:{build_dt}"
        )
    m = 1 << m_bits
    buckets = (
        build.select(F.pmod(F.xxhash64(build_hash_key), F.lit(m)).alias("_bucket"))
        .distinct()
    )
    pre = probe.join(
        F.broadcast(buckets),
        F.pmod(F.xxhash64(probe_hash_key), F.lit(m)) == F.col("_bucket"),
        "left_semi",
    )
    return pre.join(build, pre[probe_key] == build[build_key], how)


# --- table profiling (ANALYZE-style stats in one scan) --------------
def profile_columns(df: DataFrame, cols: list[str]) -> DataFrame:
    """Per-column profile — rows, nulls, exact distinct, min, max —
    as one row PER COLUMN: the ANALYZE TABLE / data-catalog stats
    collection every warehouse runs before planning.

    One aggregation over one scan computes every metric (Spark plans
    the multi-distinct via a single Expand + two-phase agg — still one
    pass over the data, partial-aggregated map-side); the per-column
    pivot happens on the 1-row result via ``stack``, so nothing about
    the pivot touches the data again. min/max surface as strings so
    one schema fits every column type (dates via ISO ``date_format``,
    floats should be rounded by the caller's column expression if
    cross-engine stability matters).
    """
    aggs = [F.count(F.lit(1)).alias("_n_rows")]
    for c in cols:
        aggs += [
            F.sum(F.col(c).isNull().cast("bigint")).alias(f"_nulls_{c}"),
            F.count_distinct(F.col(c)).alias(f"_dist_{c}"),
            F.min(F.col(c)).cast("string").alias(f"_min_{c}"),
            F.max(F.col(c)).cast("string").alias(f"_max_{c}"),
        ]
    one = df.agg(*aggs)
    stack_args = []
    for c in cols:
        stack_args += [
            F.lit(c),
            F.col(f"_nulls_{c}"),
            F.col(f"_dist_{c}"),
            F.col(f"_min_{c}"),
            F.col(f"_max_{c}"),
        ]
    return one.select(
        "_n_rows",
        F.stack(
            F.lit(len(cols)), *stack_args
        ).alias("column", "n_nulls", "n_distinct", "min_value", "max_value"),
    ).select(
        "column",
        F.col("_n_rows").alias("n_rows"),
        "n_nulls",
        "n_distinct",
        "min_value",
        "max_value",
    )


def partial_agg(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    scale: int = 6,
) -> DataFrame:
    """One partition's MERGEABLE aggregate state: per key, the row
    count and an exact decimal image value sum (``operators.exact``).
    The output is a tiny keyed table that
    ``merge_partial_aggs`` can re-aggregate losslessly, which is the
    incremental-pipeline contract at 100 TB: aggregate each arriving
    partition ONCE, merge states, never rescan history. (AVG is
    derived at read time from sum/count — only mergeable states are
    stored; the same discipline HLL sketches follow in
    hll_mergeable_sketches.)"""
    return df.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.expr(f"{exact_sum(f'`{value_col}`', scale, 18)} AS sum_img"),
    )


def merge_partial_aggs(*partials: DataFrame, keys: list[str] | None = None) -> DataFrame:
    """Merge ``partial_agg`` states: union + re-aggregate. Counts add;
    decimal-image sums add exactly (no float reassociation), so
    merge(partial(A), partial(B)) == partial(A ∪ B) bit-for-bit —
    the law pinned in tests/test_scale_patterns.py. The merge input
    is state-sized (one row per key per partial), not data-sized.

    ``keys`` mirrors ``partial_agg``'s signature; when omitted it is
    inferred as every column except the state columns (cnt/sum_img) —
    which would silently mis-merge a grouping key NAMED cnt/sum_img,
    so pass it explicitly in that case (ADVICE r8). Partials with
    mismatched column sets raise instead of null-filling."""
    cols = set(partials[0].columns)
    for p in partials[1:]:
        if set(p.columns) != cols:
            raise ValueError(
                f"partials disagree on columns: {sorted(cols)} vs {sorted(p.columns)}"
            )
    if keys is None:
        keys = [c for c in partials[0].columns if c not in ("cnt", "sum_img")]
    missing = [k for k in keys if k not in cols]
    if missing:
        raise ValueError(f"keys not present in partials: {missing}")
    dropped = sorted(cols - set(keys) - {"cnt", "sum_img"})
    if dropped:
        # an accidentally-omitted key must not vanish silently from the
        # merged output (ADVICE r9) — mirror the other validations
        raise ValueError(
            f"partials carry columns that are neither keys nor state "
            f"(cnt/sum_img) and would be dropped by the merge: {dropped}; "
            "list them in keys= or project them away first"
        )
    out = partials[0]
    for p in partials[1:]:
        out = out.unionByName(p)
    return out.groupBy(*keys).agg(
        F.sum("cnt").alias("cnt"),
        F.sum("sum_img").alias("sum_img"),
    )


def skyline(
    df: DataFrame,
    minimize: list[str] | None = None,
    maximize: list[str] | None = None,
    max_frontier: int | None = 100_000,
    reduce_partitions: int = 16,
) -> DataFrame:
    """Pareto frontier (skyline): rows not DOMINATED by any other row.
    Row s dominates row r when s is <= r on every minimize column and
    >= r on every maximize column, with at least one strict inequality
    — equal rows never dominate each other, so exact ties all stay on
    the frontier (the SQL NOT EXISTS definition, Börzsönyi et al.,
    ICDE'01).

    Three-phase distributed plan: a per-partition local skyline first
    (mapInPandas, incremental per Arrow batch so memory is bounded by
    |local frontier| + batch), then a tree-reduction pass over the
    survivors on ``reduce_partitions`` tasks, then the global skyline
    on one task. Local pruning is sound because dominance is
    transitive: any row dominated globally is dominated by some
    global-frontier row, and every global-frontier row survives every
    earlier pass — so each later pass sees every witness it needs.
    Both reduction passes touch only frontier rows (typically orders
    of magnitude smaller than the data); the intermediate pass prunes
    cross-partition dominated rows before anything is gathered onto a
    single task.

    ``max_frontier`` (house-style guard, like dedup's max_bucket):
    every task — local AND reduction — raises as soon as ITS running
    frontier exceeds the bound, so a weakly-discriminating criteria
    set (e.g. anti-correlated columns where the frontier is a
    constant fraction of the data) fails fast with a diagnosis
    instead of silently funneling the dataset through one task. The
    default is deliberately modest: frontier maintenance costs
    O(frontier·batch·dims) compares per Arrow batch (incremental —
    new rows screen against the standing frontier both ways, the
    frontier is never rescanned against itself), so the total work to
    REACH the bound is ~frontier²·dims/2 — ~10¹⁰ numpy element-ops at
    100k, the most a single task should ever absorb before the
    diagnosis. None disables the guard.

    Rows with NULL in any criterion column are excluded up front
    (three-valued dominance is undefined). Criteria must be numeric;
    int64 beyond 2^53 would lose exactness in the float compare, so
    such columns should be pre-scaled."""
    import numpy as np
    import pandas as pd
    from collections.abc import Iterator

    min_cols = list(minimize or [])
    max_cols = list(maximize or [])
    crit = min_cols + max_cols
    if not crit:
        raise ValueError("skyline needs at least one minimize/maximize column")
    missing = [c for c in crit if c not in df.columns]
    if missing:
        raise ValueError(f"criteria not in schema: {missing}")
    if max_frontier is not None and max_frontier < 1:
        raise ValueError(f"max_frontier must be >= 1, got {max_frontier}")
    clean = df.na.drop(subset=crit)
    schema = clean.schema

    def _vals(pdf: pd.DataFrame) -> np.ndarray:
        # canonical orientation: minimize everywhere (negate max cols)
        cols = [pdf[c].to_numpy(dtype="float64") for c in min_cols]
        cols += [-pdf[c].to_numpy(dtype="float64") for c in max_cols]
        return np.column_stack(cols)

    def _dominated_within(block: np.ndarray) -> np.ndarray:
        """Boolean mask: block rows dominated by an EARLIER block row
        (block is in lexicographic order, so a dominator always
        precedes what it dominates — the first differing coordinate is
        strictly smaller). One O(b²·d) broadcast, no Python loop."""
        le = (block[:, None, :] <= block[None, :, :]).all(axis=2)
        lt = (block[:, None, :] < block[None, :, :]).any(axis=2)
        dom = le & lt
        # only earlier rows count; lex order makes later-row dominance
        # impossible anyway, but ties (equal rows) satisfy neither
        return dom.any(axis=0)

    def _local_skyline(pdf: pd.DataFrame) -> pd.DataFrame:
        if pdf.empty:
            return pdf
        vals = _vals(pdf)
        order = np.lexsort(tuple(vals.T[::-1]))
        svals = vals[order]
        kept_idx: list[np.ndarray] = []  # chunks of surviving positions
        n_kept = 0
        # chunked vectorized scan (replaces the per-row Python loop,
        # which was itself quadratic with per-keep vstack copies —
        # ADVICE r9): each chunk is screened against the kept frontier
        # in one (f × b × d) broadcast, then intra-chunk dominance in
        # one (b × b × d) broadcast. Chunk size balances broadcast
        # temp memory (f·b·d bools per comparison) against loop
        # overhead: at the 100k max_frontier default, b=256, d=3 the
        # screening temps peak ~150 MB per task.
        b = 256
        for lo in range(0, len(svals), b):
            chunk = svals[lo : lo + b]
            alive = ~_dominated_within(chunk)
            if n_kept:
                kept = np.concatenate(kept_idx) if len(kept_idx) > 1 else kept_idx[0]
                kept_idx = [kept]
                front = svals[kept]
                le = (front[:, None, :] <= chunk[None, :, :]).all(axis=2)
                lt = (front[:, None, :] < chunk[None, :, :]).any(axis=2)
                alive &= ~(le & lt).any(axis=0)
            pos = np.flatnonzero(alive) + lo
            if len(pos):
                kept_idx.append(pos)
                n_kept += len(pos)
        if not kept_idx:
            return pdf.iloc[:0]
        surviving = np.concatenate(kept_idx)
        return pdf.iloc[np.sort(order[surviving])]

    def _dominated_by(a: np.ndarray, b: np.ndarray) -> np.ndarray:
        """Mask over b's rows: dominated by SOME row of a (no order
        assumption). b is screened in 256-row chunks so the broadcast
        temporaries stay ~|a|*256*d bools."""
        out = np.zeros(len(b), dtype=bool)
        if not len(a) or not len(b):
            return out
        for lo in range(0, len(b), 256):
            blk = b[lo : lo + 256]
            le = (a[:, None, :] <= blk[None, :, :]).all(axis=2)
            lt = (a[:, None, :] < blk[None, :, :]).any(axis=2)
            out[lo : lo + 256] = (le & lt).any(axis=0)
        return out

    def part_skyline(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # INCREMENTAL frontier maintenance: per Arrow batch, compute
        # the batch's own skyline, then cross-screen new-vs-frontier
        # BOTH ways — never rescan frontier-vs-frontier (the naive
        # concat-and-rescan is O((f+b)²·d) per batch, which on a
        # guard-bound frontier turned the fail-fast raise into minutes
        # of quadratic churn). Sound by dominance transitivity: a new
        # row eliminated by an old frontier row that is itself about
        # to die to another new row would be dominated by that new row
        # too — contradicting the batch skyline's mutual
        # non-domination — so elimination order cannot lose rows.
        fr_pdf: pd.DataFrame | None = None
        fr_vals: np.ndarray | None = None
        for pdf in batches:
            if pdf.empty:
                continue
            cand = _local_skyline(pdf)
            cv = _vals(cand)
            if fr_pdf is None:
                fr_pdf, fr_vals = cand, cv
            else:
                alive_new = ~_dominated_by(fr_vals, cv)
                if alive_new.any():
                    cand = cand.iloc[np.flatnonzero(alive_new)]
                    cv = cv[alive_new]
                    alive_old = ~_dominated_by(cv, fr_vals)
                    fr_pdf = pd.concat(
                        [fr_pdf.iloc[np.flatnonzero(alive_old)], cand]
                    )
                    fr_vals = np.concatenate([fr_vals[alive_old], cv])
            if max_frontier is not None and len(fr_vals) > max_frontier:
                raise ValueError(
                    f"skyline frontier exceeded max_frontier={max_frontier} "
                    f"on one task ({len(fr_vals)} rows kept and growing): "
                    "the criteria do not discriminate (anti-correlated or "
                    "near-tied columns). Add criteria, pre-aggregate, or "
                    "raise/disable max_frontier if a huge frontier is "
                    "genuinely wanted."
                )
        if fr_pdf is not None and not fr_pdf.empty:
            yield fr_pdf

    local = clean.mapInPandas(part_skyline, schema=schema)
    # tree reduction: prune cross-partition dominated rows on a few
    # tasks before the single-task global pass sees anything
    reduced = local.repartition(reduce_partitions).mapInPandas(
        part_skyline, schema=schema
    )
    return reduced.repartition(1).mapInPandas(part_skyline, schema=schema)


def corr_matrix(
    df: DataFrame,
    cols: list[str],
    sum_scale: int = 6,
    out_scale: int = 6,
) -> DataFrame:
    """Pearson correlation for every unordered pair of ``cols`` —
    (col_a, col_b, corr) — the profiling step before feature selection
    or leakage checks.

    ONE aggregation pass computes every moment (n, per-column sums,
    per-pair product sums): k + k(k+1)/2 aggregates, all map-side
    partial, one 1-row result — at 100 TB this is a single scan, no
    joins, no shuffle beyond the final 1-row combine. Moments
    accumulate through decimal images (inputs and pairwise products
    rounded to ``sum_scale``, summed exactly) so they are partition-
    order independent and engine-portable; the correlation itself is
    then a FIXED-ORDER double expression over those exact moments:
    (n·Sab - Sa·Sb) / (sqrt(n·Saa - Sa·Sa) · sqrt(n·Sbb - Sb·Sb)).
    The pair fan-out is a single explode over that 1-row aggregate —
    structurally no re-scan per pair.
    """
    if len(cols) < 2:
        raise ValueError("corr_matrix needs at least two columns")
    missing = [c for c in cols if c not in df.columns]
    if missing:
        raise ValueError(f"columns not in schema: {missing}")
    from cascading_hive_spark.operators.dedup import spread

    # spread(): the k(k+3)/2 decimal-image partial aggregates are the
    # scan's entire cost, and a one-file input runs them as ONE task
    # (guide §2; measured 8.0s -> 1.4s at sf0.1). Decimal sums are
    # exact and order-independent — moments identical.
    df = spread(df)

    def moment(x: str, alias: str):
        return F.expr(f"CAST({exact_sum(x, sum_scale, 38)} AS DOUBLE) AS `{alias}`")

    dbl = {c: f"CAST(`{c}` AS DOUBLE)" for c in cols}
    aggs = [F.count(F.lit(1)).cast("double").alias("_n")]
    for c in cols:
        aggs.append(moment(dbl[c], f"_s_{c}"))
    for i, a in enumerate(cols):
        for b in cols[i:]:
            aggs.append(moment(f"{dbl[a]} * {dbl[b]}", f"_p_{a}_{b}"))
    row = df.agg(*aggs)
    # All pairs are projected out of the SAME 1-row aggregate via one
    # explode — single scan-side aggregate pass by construction (a
    # union of per-pair selects would re-plan the aggregate per arm
    # and rely on exchange reuse to dedupe it; plan-gated in
    # tests/test_plans.py::test_corr_matrix_matches_numpy_and_single_scan).
    pairs = []
    for i, a in enumerate(cols):
        for b in cols[i + 1 :]:
            n = F.col("_n")
            num = n * F.col(f"_p_{a}_{b}") - F.col(f"_s_{a}") * F.col(f"_s_{b}")
            den = F.sqrt(
                n * F.col(f"_p_{a}_{a}") - F.col(f"_s_{a}") * F.col(f"_s_{a}")
            ) * F.sqrt(
                n * F.col(f"_p_{b}_{b}") - F.col(f"_s_{b}") * F.col(f"_s_{b}")
            )
            pairs.append(
                F.struct(
                    F.lit(a).alias("col_a"),
                    F.lit(b).alias("col_b"),
                    F.round(num / den, out_scale).alias("corr"),
                )
            )
    return row.select(F.explode(F.array(*pairs)).alias("_pair")).select(
        "_pair.col_a", "_pair.col_b", "_pair.corr"
    )


def funnel_conversion(
    events: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Ordered funnel analysis: for each prefix of ``steps``, how many
    users completed it IN ORDER — each step's event strictly after the
    user's first completion of the previous step (first-touch
    semantics, the standard product-analytics funnel). Returns
    (step_idx, step, n_users, conv_permille) with conv_permille =
    floor(1000 * n_users / first-step users), exact integer
    arithmetic.

    Per step: one filter + user-keyed min aggregation + one equi-join
    to the previous step's completion times — all key shuffles on the
    user column, no windows, no per-user event sorting (a
    sort-per-user formulation pays an O(events log events) window
    sort; this pays #steps thin aggregates and scales with the match
    counts, which shrink monotonically down the funnel). Step counts
    are integers, so the output is hash-exact cross-engine.
    """
    if not steps:
        raise ValueError("funnel needs at least one step")
    cur = None
    counts = []
    for i, s in enumerate(steps):
        e = events.filter(F.col(type_col) == s).select(
            F.col(user_col).alias("u"), F.col(ts_col).alias("t")
        )
        if cur is None:
            cur = e.groupBy("u").agg(F.min("t").alias("t"))
        else:
            cur = (
                e.join(cur.select("u", F.col("t").alias("_prev")), "u")
                .filter(F.col("t") > F.col("_prev"))
                .groupBy("u")
                .agg(F.min("t").alias("t"))
            )
        counts.append(
            cur.agg(F.count(F.lit(1)).alias("n_users")).select(
                F.lit(i + 1).alias("step_idx"), F.lit(s).alias("step"), "n_users"
            )
        )
    out = counts[0]
    for c in counts[1:]:
        out = out.unionByName(c)
    first = counts[0].select(F.col("n_users").alias("_n1"))
    return out.crossJoin(F.broadcast(first)).select(
        "step_idx",
        "step",
        F.col("n_users").cast("bigint").alias("n_users"),
        F.when(
            F.col("_n1") > 0, F.expr("(1000 * n_users) div _n1")
        ).cast("bigint").alias("conv_permille"),
    )


def winsorize(
    df: DataFrame,
    value_col: str,
    by: list[str] | None = None,
    lower: float = 0.05,
    upper: float = 0.95,
    out_col: str | None = None,
) -> DataFrame:
    """Winsorize: clip ``value_col`` into its per-group
    [``lower``, ``upper``] interpolated-percentile band — the outlier
    taming a metrics/feature pipeline runs before means and
    regressions (a mean over raw crawl latencies is a measure of the
    worst proxy, not the population).

    One per-group exact-percentile aggregation (thresholds are a
    group-sized table → broadcast back) + a narrow least/greatest
    clip — no window over the data rows, no sort. Spark's
    ``percentile`` and DuckDB's ``quantile_cont`` share the
    percentile_cont interpolation (the filter_by_group_percentile
    precedent), so the clip boundaries are engine-stable.
    """
    if not 0.0 <= lower < upper <= 1.0:
        raise ValueError(f"need 0 <= lower < upper <= 1, got ({lower}, {upper})")
    keys = list(by or [])
    # one array-argument percentile, not two scalar calls (r16): each
    # scalar percentile aggregate carries its own per-group
    # value->count buffer through partials and merge; the array form
    # computes both cut points from a single buffer with the same
    # percentile_cont interpolation per element — identical bounds.
    bounds = df.groupBy(*keys).agg(
        F.percentile(value_col, F.lit([float(lower), float(upper)])).alias("_b")
    ).select(
        *keys,
        F.element_at("_b", 1).alias("_lo"),
        F.element_at("_b", 2).alias("_hi"),
    )
    joined = (
        df.join(F.broadcast(bounds), keys)
        if keys
        else df.crossJoin(F.broadcast(bounds))
    )
    clipped = F.least(F.greatest(F.col(value_col), F.col("_lo")), F.col("_hi"))
    return joined.withColumn(out_col or f"{value_col}_w", clipped).drop("_lo", "_hi")


def mutual_information(
    df: DataFrame,
    col_a: str,
    col_b: str,
    term_scale: int = 9,
    out_scale: int = 6,
) -> DataFrame:
    """Mutual information (nats) between two categorical columns —
    the dependence probe where Pearson (corr_matrix) is meaningless:
    MI = sum over joint cells of (n_ab/n) * ln(n * n_ab / (n_a * n_b)).
    Returns one row (col_a, col_b, n, n_cells, mi).

    Three map-side-combined aggregations (joint, two marginals — the
    marginals are domain-sized, so both join back as broadcasts onto
    the joint table, which is itself |A|x|B| cells, not data-sized),
    then one exact decimal sum of per-cell terms rounded to
    ``term_scale``: partition-order independent and engine-portable,
    integer count ratios inside the log so the expression replays
    bit-for-bit in SQL. Cells with NULL keys participate as ordinary
    categories (groupBy keeps them, eqNullSafe-style) — NULL is a
    real category in profiling.
    """
    joint = df.groupBy(
        F.col(col_a).alias("_a"), F.col(col_b).alias("_b")
    ).agg(F.count(F.lit(1)).alias("_nab"))
    ma = df.groupBy(F.col(col_a).alias("_a")).agg(F.count(F.lit(1)).alias("_na"))
    mb = df.groupBy(F.col(col_b).alias("_b")).agg(F.count(F.lit(1)).alias("_nb"))
    tot = df.agg(F.count(F.lit(1)).alias("_n"))
    term = (
        "CAST(_nab AS DOUBLE) / _n"
        " * ln(CAST(_n AS DOUBLE) * _nab / (CAST(_na AS DOUBLE) * _nb))"
    )
    # eqNullSafe (<=>) keeps NULL-keyed cells in the joint↔marginal
    # joins — a plain equi-join would silently drop them and compute
    # MI over a sub-distribution whose mass is < 1 (oracle twin uses
    # IS NOT DISTINCT FROM for the same semantics).
    cells = (
        joint.join(F.broadcast(ma), joint["_a"].eqNullSafe(ma["_a"]))
        .drop(ma["_a"])
        .join(F.broadcast(mb), joint["_b"].eqNullSafe(mb["_b"]))
        .drop(mb["_b"])
        .crossJoin(F.broadcast(tot))
    )
    return cells.agg(
        F.max("_n").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("n_cells"),
        F.expr(
            f"round(CAST({exact_sum(term, term_scale, 38)} AS DOUBLE), {out_scale}) AS mi"
        ),
    ).select(
        F.lit(col_a).alias("col_a"),
        F.lit(col_b).alias("col_b"),
        "n",
        "n_cells",
        "mi",
    )


def resample_counts(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    grain: str = "hour",
    count_name: str = "cnt",
) -> DataFrame:
    """Regular time-grid counts per key with GAPS FILLED: truncate
    timestamps to ``grain``, count per (key, bucket), then left-join
    the counts onto each key's full min..max bucket grid so silent
    periods appear as explicit zeros — the resample step before any
    moving-average / anomaly / seasonality pass (a window over a
    gappy series silently averages the wrong neighbors).

    One count aggregation + one per-key bounds aggregation; the grid
    is built array-side (``sequence`` + explode — no driver loop, no
    cross join against a calendar table) and the final join is keyed
    on (key, bucket). Grid size is span/grain per key — data-sized
    only for keys whose lifetime spans dwarf their traffic, which is
    exactly what the explicit zeros are for.
    """
    steps = {
        "hour": "interval 1 hour",
        "day": "interval 1 day",
        "week": "interval 1 week",
        "minute": "interval 1 minute",
    }
    if grain not in steps:
        raise ValueError(f"grain must be one of {sorted(steps)}, got {grain!r}")
    t = F.date_trunc(grain, F.col(ts_col))
    actual = df.groupBy(*key_cols, t.alias("bucket")).agg(
        F.count(F.lit(1)).alias(count_name)
    )
    bounds = actual.groupBy(*key_cols).agg(
        F.min("bucket").alias("_lo"), F.max("bucket").alias("_hi")
    )
    grid = bounds.select(
        *key_cols,
        F.explode(F.expr(f"sequence(_lo, _hi, {steps[grain]})")).alias("bucket"),
    )
    return grid.join(actual, [*key_cols, "bucket"], "left").select(
        *key_cols,
        "bucket",
        F.coalesce(F.col(count_name), F.lit(0)).cast("bigint").alias(count_name),
    )


def sequence_ngrams(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    token_col: str,
    n: int = 3,
    sep: str = ">",
    out_col: str = "gram",
    count_name: str = "cnt",
) -> DataFrame:
    """Count order-n grams over per-key ordered token sequences — the
    sequence-mining primitive behind "what paths do users actually
    take" (event streams), next-action candidates beyond first-order
    Markov, and behavioral-cohort features (the event-stream twin of
    text n-gram counting). Returns (``out_col``, ``count_name``) with
    one row per distinct gram.

    Window-lead formulation: each row concatenates its token with the
    next n-1 tokens in its key's ``order_cols`` order — NO
    collect_list, no per-key array materialization, no data-sized
    driver state. One key-partitioned window sort (the shuffle
    events_sessionize/markov already pay) + one gram-keyed map-side-
    combined count. Per-key memory is the window sort buffer, never an
    in-memory sequence — a power-law user bounds at the same sort term
    the sessionizer carries, so the plan survives 100 TB unchanged.

    Grams are built with NULL-propagating concat (Spark ``concat`` ==
    SQL ``||``): a window tail (fewer than n-1 followers) or a NULL
    token anywhere in the gram yields a NULL gram, filtered on both
    engines identically — cross-engine hash-exact by construction.
    """
    if n < 2:
        raise ValueError(f"n must be >= 2, got {n}")
    if not key_cols or not order_cols:
        raise ValueError("sequence_ngrams needs key_cols and order_cols")
    w = Window.partitionBy(*key_cols).orderBy(*order_cols)
    parts: list[Column] = [F.col(token_col)]
    for i in range(1, n):
        parts.extend([F.lit(sep), F.lead(token_col, i).over(w)])
    gram = F.concat(*parts)
    return (
        df.select(gram.alias(out_col))
        .filter(F.col(out_col).isNotNull())
        .groupBy(out_col)
        .agg(F.count(F.lit(1)).cast("bigint").alias(count_name))
    )


def target_encode(
    df: DataFrame,
    cat_cols: list[str],
    target_col: str,
    m: float = 10.0,
    sum_scale: int = 4,
    out_scale: int = 6,
) -> DataFrame:
    """Smoothed target (mean) encoding of a categorical column set
    (Micci-Barreca, SIGKDD Explorations 2001) — the feature-prep
    standard for high-cardinality categoricals:
    enc(c) = (sum_c + m * global_mean) / (cnt_c + m), shrinking rare
    categories toward the global mean so a 3-row category can't
    memorize its targets. Returns (*cat_cols, cnt, enc).

    Engine discipline: both sums accumulate through a ``sum_scale``
    decimal image (order-independent, exact), the smoothing arithmetic
    is a fixed double expression over those exact images, and enc is
    rounded once to ``out_scale`` — hash-stable cross-engine.

    Scale shape: one map-side-combined groupBy on the category keys
    plus one 1-row global aggregate broadcast back — no window, no
    join against the data rows; category-key skew is irrelevant
    because partials combine before the shuffle.
    """
    t = exact_sum(f"CAST(`{target_col}` AS DOUBLE)", sum_scale, 38)
    g = df.agg(F.count(F.lit(1)).alias("_gn"), F.expr(f"{t} AS _gs"))
    per = df.groupBy(*cat_cols).agg(F.count(F.lit(1)).alias("cnt"), F.expr(f"{t} AS _s"))
    enc = (
        F.col("_s").cast("double")
        + F.lit(m) * (F.col("_gs").cast("double") / F.col("_gn"))
    ) / (F.col("cnt") + F.lit(m))
    return per.crossJoin(F.broadcast(g)).select(
        *cat_cols,
        F.col("cnt").cast("bigint").alias("cnt"),
        F.round(enc, out_scale).alias("enc"),
    )


def cusum_changepoint(
    df: DataFrame,
    key_cols: list[str],
    order_col: str,
    value_col: str,
) -> DataFrame:
    """Changepoint estimate per key by CUMULATIVE-DEVIATION CUSUM
    (Page 1954 / the cumulative-sums shift estimator): over an ordered
    integer series, the running sum of deviations from the series mean
    peaks in magnitude AT the level shift — argmax_t |sum_{i<=t}
    (x_i - mean)| estimates where the rate changed. Returns one row
    per key: (*key_cols, changepoint = the order value at the peak,
    cusum_peak, n_points), ties to the earliest point.

    PURE INTEGER arithmetic: the deviation sum is computed scaled by
    n — cusum_int_t = sum_{i<=t} (n * x_i - total) — so no mean is
    ever materialized as a float and the result is exactly portable
    to any engine (the permille-floor discipline, taken to its
    conclusion: no floats at all). Feed it a regular series
    (``resample_counts``) so silent periods count as zeros instead of
    vanishing.

    Scale shape: one per-key (n, total) aggregate broadcast back, one
    per-key ordered running-sum window (the shuffle the series already
    paid to resample), one rank pick over the SAME partitioning (no
    second shuffle) — no self-joins, no quadratic frames. Magnitudes:
    |cusum_int| <= n * total, so bigint holds through ~3e9 * 3e9 per
    key at 100 TB; beyond that switch the running sum to
    decimal(38,0) (same algebra).
    """
    keys = list(key_cols)
    stats = df.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(F.col(value_col).cast("bigint")).alias("_tot"),
    )
    w = (
        Window.partitionBy(*keys)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    dev = F.col("_n") * F.col(value_col).cast("bigint") - F.col("_tot")
    cusum = df.join(F.broadcast(stats), keys).withColumn(
        "_c", F.sum(dev).over(w)
    )
    wr = Window.partitionBy(*keys).orderBy(
        F.abs(F.col("_c")).desc(), F.col(order_col).asc()
    )
    return (
        cusum.withColumn("_rn", F.row_number().over(wr))
        .filter(F.col("_rn") == 1)
        .select(
            *keys,
            F.col(order_col).alias("changepoint"),
            F.col("_c").cast("bigint").alias("cusum_peak"),
            F.col("_n").cast("bigint").alias("n_points"),
        )
    )


def ab_test_zscore(
    df: DataFrame,
    unit_col: str,
    value_col: str,
    by: list[str] | None = None,
    val_scale: int = 4,
    out_scale: int = 6,
) -> DataFrame:
    """Two-sample experiment readout over a deterministic 50/50 hash
    split: assign each UNIT (user, session) to arm A or B by the
    Knuth multiplicative hash of its id (the same engine-portable
    assignment sampling.py uses — reproducible, no stored assignment
    table), then report per-arm n / mean and the Welch z statistic
    (unequal variances) for the metric — the A/B-test primitive an
    experimentation pipeline runs per metric per day. One row per
    ``by`` group (one global row when ``by`` is empty):
    (*by, n_a, n_b, mean_a, mean_b, z); a group seen by only one arm
    reports NULL mean/z for the missing arm rather than erroring.

    Engine discipline: per-arm sums of round(v, val_scale) and of
    round(v'*v', 2*val_scale) (v' the rounded double — identical in
    any IEEE engine) accumulate through decimal images, so n / sums
    are exact; mean, Welch variance and z are then ONE fixed double
    expression over those exact images, rounded once to ``out_scale``
    — hash-stable cross-engine, no order-dependent float accumulation
    anywhere.

    Scale shape: a single map-side-combined conditional aggregation
    over one scan — no shuffle wider than two partial rows per task,
    no join, no window; the unit hash is computed inline (pmod
    algebra, wrap-free for the full int64 range).
    """
    from cascading_hive_spark.operators.sampling import hash_order

    keys = list(by or [])
    arm = F.pmod(hash_order(F.col(unit_col)), F.lit(2))
    vr = F.round(F.col(value_col).cast("double"), val_scale)
    sq = F.round(vr * vr, 2 * val_scale)
    agg = df.select(
        *keys, arm.alias("_arm"), vr.alias("_v"), sq.alias("_q")
    ).groupBy(*keys).agg(
        F.sum(F.when(F.col("_arm") == 0, 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("_arm") == 1, 1).otherwise(0)).alias("n_b"),
        *[
            F.expr(f"{exact_sum(f'IF(_arm = {arm}, {col}, NULL)', s, 38)} AS {name}")
            for name, arm, col, s in (
                ("_sa", 0, "_v", val_scale),
                ("_sb", 1, "_v", val_scale),
                ("_qa", 0, "_q", 2 * val_scale),
                ("_qb", 1, "_q", 2 * val_scale),
            )
        ],
    )
    ma = F.col("_sa").cast("double") / F.col("n_a")
    mb = F.col("_sb").cast("double") / F.col("n_b")
    va = (F.col("_qa").cast("double") - F.col("_sa").cast("double") * ma) / (
        F.col("n_a") - 1
    )
    vb = (F.col("_qb").cast("double") - F.col("_sb").cast("double") * mb) / (
        F.col("n_b") - 1
    )
    # z only when both arms can estimate a variance (n >= 2): a 1-row
    # arm would divide by zero into engine-dependent inf/NaN
    z = F.when(
        (F.col("n_a") > 1) & (F.col("n_b") > 1),
        (mb - ma) / F.sqrt(va / F.col("n_a") + vb / F.col("n_b")),
    )
    return agg.select(
        *keys,
        F.coalesce(F.col("n_a"), F.lit(0)).cast("bigint").alias("n_a"),
        F.coalesce(F.col("n_b"), F.lit(0)).cast("bigint").alias("n_b"),
        F.round(ma, out_scale).alias("mean_a"),
        F.round(mb, out_scale).alias("mean_b"),
        F.round(z, out_scale).alias("z"),
    )


def binary_auc(
    df: DataFrame,
    score_col: str,
    label_col: str,
    micro_scale: int = 1_000_000,
) -> DataFrame:
    """Exact ROC-AUC of a score against a binary label via the
    midrank Mann-Whitney statistic (ties get the average rank — the
    textbook-exact AUC, not a trapezoid approximation):

        AUC = (Σ midrank(positives) − n_pos(n_pos+1)/2) / (n_pos·n_neg)

    — the standard evaluation for the learned quality classifier
    (text.quality_classifier_score) and any other scorer here.

    Scale shape: scores round to a ``micro_scale`` integer image, so
    the heavy pass is ONE map-side-combined groupBy(micro) over the
    corpus producing at most (score range · micro_scale) count rows;
    midranks come from a cumulative window over THAT bounded counts
    table (the packing offset-table pattern — the corpus never sorts
    globally), and everything stays in exact integer arithmetic until
    the final division. NULL scores/labels are excluded (counted in
    the output for auditability).

    Returns one row: (auc, n_pos, n_neg, n_null).
    """
    # the thin score/label projection feeds TWO aggregates (null audit,
    # micro-score counts) that share no exchange; uncut, the upstream
    # scorer (e.g. classifier_auc's md5-per-gram fold) re-runs per
    # consumer. The cut holds 12 bytes/row, never the documents.
    base = materialize(df.select(
        F.round(F.col(score_col) * micro_scale, 0).cast("bigint").alias("_s"),
        F.col(label_col).cast("int").alias("_y"),
    ), "binary_auc: scores")
    totals = base.agg(
        F.sum(
            (F.col("_s").isNull() | F.col("_y").isNull()).cast("long")
        ).alias("n_null")
    )
    counts = (
        base.filter(F.col("_s").isNotNull() & F.col("_y").isNotNull())
        .groupBy("_s")
        .agg(
            F.sum("_y").cast("long").alias("np_b"),
            F.sum(1 - F.col("_y")).cast("long").alias("nn_b"),
        )
    )
    # midrank in HALF-UNITS so every intermediate stays an exact
    # integer (a double rank_sum would be accumulation-order-dependent
    # across engines): midrank2 = 2*(count before) + (count here + 1).
    # "count before" comes from a TWO-PHASE prefix sum (the packing
    # offset-table pattern): a window partitioned by an order-
    # preserving coarse bucket of the score (arithmetic >>20 keeps
    # ordering for negatives too), plus a global offset window over
    # the per-bucket totals — a table with ~score_range/2^20 rows, so
    # no corpus- or counts-sized single-partition sort anywhere.
    bucketed = counts.withColumn("_bk", F.shiftright(F.col("_s"), 20))
    w_in = (
        Window.partitionBy("_bk")
        .orderBy("_s")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    within = F.coalesce(
        F.sum(F.col("np_b") + F.col("nn_b")).over(w_in), F.lit(0)
    )
    bucket_totals = bucketed.groupBy("_bk").agg(
        F.sum(F.col("np_b") + F.col("nn_b")).alias("_tot")
    )
    w_off = Window.orderBy("_bk").rowsBetween(Window.unboundedPreceding, -1)
    offsets = bucket_totals.select(
        "_bk", F.coalesce(F.sum("_tot").over(w_off), F.lit(0)).alias("_off")
    )
    ranked = (
        bucketed.join(F.broadcast(offsets), "_bk")
        .select(
            "np_b",
            "nn_b",
            (
                2 * (F.col("_off") + within)
                + F.col("np_b")
                + F.col("nn_b")
                + 1
            ).alias("midrank2"),
        )
    )
    agg = ranked.agg(
        F.sum("np_b").alias("n_pos"),
        F.sum("nn_b").alias("n_neg"),
        F.sum(F.col("np_b") * F.col("midrank2")).alias("rank_sum2"),
    )
    # try_divide: AUC is undefined when either class is absent (or the
    # input is empty) — return NULL auc with the audit counts instead
    # of an ANSI DIVIDE_BY_ZERO crash
    auc = F.try_divide(
        (F.col("rank_sum2") - F.col("n_pos") * (F.col("n_pos") + 1)).cast(
            "double"
        ),
        2.0 * (F.col("n_pos") * F.col("n_neg")).cast("double"),
    )
    return agg.crossJoin(F.broadcast(totals)).select(
        (F.round(auc, 6) + F.lit(0.0)).alias("auc"),
        F.coalesce(F.col("n_pos"), F.lit(0)).cast("bigint").alias("n_pos"),
        F.coalesce(F.col("n_neg"), F.lit(0)).cast("bigint").alias("n_neg"),
        F.coalesce(F.col("n_null"), F.lit(0)).cast("bigint").alias("n_null"),
    )


def global_ntile(
    df: DataFrame,
    n: int,
    order_cols: list,
    out_col: str = "ntile",
    max_rows: int | None = 1_000_000,
) -> DataFrame:
    """Global (un-partitioned) ``ntile(n)`` — the reference-semantics
    equal-count bucketing where ALL rows sort through ONE window
    partition. That is the operator's defined semantics, not a plan
    smell to fix — but it means the whole input funnels through a
    single task, so it is ONLY safe on driver-scale inputs.

    ``max_rows`` (house-style guard, like skyline's max_frontier and
    dedup's max_bucket; VERDICT r11 #3): one count() pre-pass raises
    with a diagnosis when the input exceeds the bound, instead of
    silently melting a driver on a 100x table. The scale substitute
    is ``percentile_bins`` (one partial-aggregated percentile pass +
    broadcast cut points — ties share a bin instead of ntile's forced
    equal counts); reach for it whenever this guard fires. None
    disables the guard (parity harnesses that already know their
    input is bounded).
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    if max_rows is not None:
        rows = df.count()
        if rows > max_rows:
            raise ValueError(
                f"global_ntile over {rows} rows exceeds max_rows="
                f"{max_rows}: an un-partitioned ntile sorts every row "
                "through ONE window partition. Use percentile_bins "
                "(exact-percentile binning, linear at any scale) or "
                "raise max_rows deliberately."
            )
    w = Window.orderBy(*order_cols)
    return df.withColumn(out_col, F.ntile(n).over(w).cast("bigint"))


def percentile_bins(
    df: DataFrame,
    cols: list[str],
    probs: tuple[float, ...] = (0.25, 0.50, 0.75),
    descending: bool = True,
    suffix: str = "_bin",
) -> DataFrame:
    """Exact-percentile bin label per column — the scale substitute
    for a global ``ntile`` window (which funnels the whole table
    through ONE partition; VERDICT r10 #1/#3). ONE partial-aggregated
    percentile pass computes len(probs) cut points per column, the
    (1-row) edge table broadcasts back, and every row is labeled in a
    narrow map — no window, no single-partition sort, linear at any
    scale.

    With ``descending=True`` (the ntile-DESC reading) label 1 is the
    TOP bin: value >= p_max -> 1, ... , below p_min -> len(probs)+1.
    With ``descending=False`` label 1 is the bottom bin
    (value < p_min -> 1). Ties share a bin — the semantic difference
    vs ntile's forced equal counts, and the deterministic one.

    Engine-portability note (the rfm/ntile_binned oracle contract):
    call this on INTEGER-image columns (epoch days, counts, cents) so
    the interpolated quarter-point percentiles are exactly
    representable and the >= cuts replay bit-for-bit in SQL
    (quantile_cont == Spark percentile, the filter_by_group_percentile
    precedent).

    Memory note for the cut-point pass: Spark's exact ``percentile``
    aggregate buffers a (value -> count) map, so task memory is
    bounded by DISTINCT values per column — fine for the integer
    images above (days/counts/cents are low-cardinality), but for an
    unbounded-cardinality metric at extreme scale swap the exact cut
    points for sketches.histogram_quantile_merge estimates (same
    broadcast-edges binning map, fixed O(bins) memory).
    """
    if not cols:
        raise ValueError("percentile_bins needs at least one column")
    missing = [c for c in cols if c not in df.columns]
    if missing:
        raise ValueError(f"columns not in schema: {missing}")
    ps = sorted(probs)
    if not ps or any(not 0.0 < p < 1.0 for p in ps):
        raise ValueError(f"probs must be in (0, 1), got {probs}")
    # one array-argument percentile buffer per COLUMN, not one per
    # (column, prob) (r16): the scalar form kept len(probs) identical
    # value->count maps per column through partials and merge; the
    # array form computes every cut point from a single buffer with
    # the same percentile_cont interpolation per element.
    parr = F.lit([float(p) for p in ps])
    edges = df.agg(
        *[F.percentile(c, parr).alias(f"_pb_{c}") for c in cols]
    ).select(
        *[
            F.element_at(f"_pb_{c}", i + 1).alias(f"_pb_{c}_{i}")
            for c in cols
            for i in range(len(ps))
        ]
    )
    out = df.crossJoin(F.broadcast(edges))
    k = len(ps)
    for c in cols:
        if descending:
            expr = F.when(F.col(c) >= F.col(f"_pb_{c}_{k - 1}"), 1)
            for j in range(k - 1, 0, -1):
                expr = expr.when(F.col(c) >= F.col(f"_pb_{c}_{j - 1}"), k - j + 1)
            expr = expr.otherwise(k + 1)
        else:
            expr = F.when(F.col(c) < F.col(f"_pb_{c}_0"), 1)
            for j in range(1, k):
                expr = expr.when(F.col(c) < F.col(f"_pb_{c}_{j}"), j + 1)
            expr = expr.otherwise(k + 1)
        out = out.withColumn(f"{c}{suffix}", expr.cast("bigint"))
    return out.drop(*[f"_pb_{c}_{i}" for c in cols for i in range(k)])


def sequence_similarity_topk(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    token_col,
    query_key,
    k: int = 10,
    max_len: int = 100,
) -> DataFrame:
    """Top-``k`` most similar sequences to one query sequence by EDIT
    DISTANCE over per-key ordered token streams — the trajectory/
    behavior similarity search ("which users act like user X"; the
    distributed top-k trajectory-similarity shape of REPOSE, ICDE'21,
    re-expressed relationally). ``token_col`` must render each step as
    ONE character (e.g. an event-type initial) so sequences compare as
    strings and the JVM levenshtein kernel does the DP.

    Returns (key_cols..., seq_len, distance) for the k nearest
    non-query keys, distance ties broken by key (deterministic).
    ``query_key`` must supply exactly one value per key column
    (validated); a query key matching no row yields an empty result
    (the broadcast side is empty) — callers wanting a hard error
    should ``.count()`` the result or pre-check the key, which costs
    an extra job this operator deliberately doesn't spend.

    Scale shape: one per-key aggregation builds the (<= ``max_len``
    char) sequence strings — the only data-sized shuffle; the query's
    sequence broadcasts (1 row); every distance is a narrow map-side
    O(max_len^2) DP against capped strings; the cut is
    TakeOrderedAndProject (per-partition heaps, no global sort).
    """
    if not key_cols or not order_cols:
        raise ValueError("key_cols and order_cols must be non-empty")
    # ADVICE r11: a scalar / short query_key zipped against multi-column
    # key_cols would silently truncate — is_query then matches a whole
    # key GROUP and the broadcast side stops being 1 row.
    qk = list(query_key) if isinstance(query_key, (list, tuple)) else [query_key]
    if len(qk) != len(key_cols):
        raise ValueError(
            f"query_key has {len(qk)} element(s) but key_cols has "
            f"{len(key_cols)}; provide one query value per key column"
        )
    ordered = F.array_sort(
        F.collect_list(F.struct(*[F.col(c) for c in order_cols], F.col("_tok")))
    )
    seq = F.substring(
        F.array_join(F.transform(ordered, lambda x: x["_tok"]), ""), 1, max_len
    )
    seqs = (
        df.select(*key_cols, *order_cols, token_col.alias("_tok"))
        .groupBy(*key_cols)
        .agg(seq.alias("_seq"))
    )
    is_query = None
    for c, v in zip(key_cols, qk):
        cond = F.col(c) == F.lit(v)
        is_query = cond if is_query is None else (is_query & cond)
    q = seqs.filter(is_query).select(F.col("_seq").alias("_qseq"))
    return (
        seqs.filter(~is_query)
        .crossJoin(F.broadcast(q))
        .select(
            *key_cols,
            F.length("_seq").cast("int").alias("seq_len"),
            F.levenshtein("_seq", "_qseq").cast("int").alias("distance"),
        )
        .orderBy("distance", *key_cols)
        .limit(k)
    )


def suppress_small_groups(
    agg: DataFrame,
    group_cols: list[str],
    count_col: str,
    k: int,
    label: str = "*",
) -> DataFrame:
    """Small-cell suppression — the k-anonymity publishing rule for
    aggregate releases: any group whose row count is below ``k`` must
    not be published individually (it re-identifies members), so all
    under-k groups fold into ONE ``label`` bucket whose additive
    measures are re-summed. Operates on an ALREADY-AGGREGATED table
    (group columns + one count column + additive measure columns) so
    the corpus-sized work stays in the caller's one mergeable
    aggregation; this pass touches only the bounded group table.

    All non-group, non-count columns must be additive (sums/counts) —
    means/ratios must be published as their sum+count parts and
    divided after suppression, the standard mergeable-aggregate
    discipline this repo's partial_agg follows.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    measures = [c for c in agg.columns if c not in group_cols]
    if count_col not in measures:
        raise ValueError(f"count_col {count_col!r} not in {agg.columns}")
    small = F.col(count_col) < k
    relabeled = agg.select(
        *[
            F.when(small, F.lit(label)).otherwise(F.col(c).cast("string")).alias(c)
            for c in group_cols
        ],
        *measures,
    )
    return relabeled.groupBy(*group_cols).agg(
        *[F.sum(m).alias(m) for m in measures]
    )


def group_percentile_rank(
    df: DataFrame,
    group_col: str,
    value_col: str,
    out_col: str = "pct_rank",
    scale: int = 6,
    max_distinct: int | None = 1_000_000,
) -> DataFrame:
    """Midpoint percentile rank of ``value_col`` WITHIN each group —
    the normalization that makes quality scores comparable across
    sources before a global cut (a margin of 0.2 can be top-decile
    for one crawl and median for another). pct = (2*below + ties) /
    (2*n), the midrank convention binary_auc uses, so ties share one
    rank and the result is a pure integer ratio rounded once.

    Scale shape (the AUC-midrank trick per group): counts per
    (group, value) — map-side combined — then a per-group prefix
    window over that counts table, then one join back. No window ever
    runs over corpus rows, but the counts table is bounded by DISTINCT
    (group, value) pairs: continuous scores at fine granularity can
    make one group's distinct set corpus-sized, and then its prefix
    window is a single-task sort (the window_ntile lesson). The
    ``max_distinct`` guard raises with the prescription — quantize
    the score (round to a coarser scale) or switch to the fixed-grid
    ``percentile_bins`` / histogram-sketch substitutes — instead of
    silently funneling; pass ``None`` to disable when cardinality is
    known bounded."""
    from pyspark.sql import Window

    counts = df.groupBy(group_col, value_col).agg(
        F.count(F.lit(1)).alias("_cnt")
    )
    if max_distinct is not None:
        top = (
            counts.groupBy(group_col)
            .agg(F.count(F.lit(1)).alias("_d"))
            .orderBy(F.col("_d").desc())
            .first()
        )
        if top is not None and top["_d"] > max_distinct:
            raise ValueError(
                f"group_percentile_rank: group {top[group_col]!r} has "
                f"{top['_d']} distinct {value_col!r} values (> max_distinct="
                f"{max_distinct}); its prefix window would single-task-sort "
                "them — quantize the score to a coarser scale, use "
                "percentile_bins / the histogram-quantile sketch, or pass "
                "max_distinct=None if this cardinality is intended"
            )
    w = (
        Window.partitionBy(group_col)
        .orderBy(value_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wn = Window.partitionBy(group_col)
    ranked = counts.select(
        group_col,
        value_col,
        (
            F.round(
                (
                    F.lit(2) * (F.sum("_cnt").over(w) - F.col("_cnt"))
                    + F.col("_cnt")
                ).cast("double")
                / (F.lit(2) * F.sum("_cnt").over(wn)).cast("double"),
                scale,
            )
            + F.lit(0.0)
        ).alias(out_col),
    )
    return df.join(ranked, [group_col, value_col])


def autocorrelation(
    daily: DataFrame,
    key_cols: list[str],
    bucket_col: str = "bucket",
    cnt_col: str = "cnt",
    max_lag: int = 7,
) -> DataFrame:
    """Per-key sample autocorrelation of a regular (gap-filled) count
    series at lags 1..``max_lag`` — the seasonality probe that sits
    next to ``cusum_changepoint`` in a metrics pipeline (is the daily
    series periodic before we fit a seasonal model?).

    acf_k = sum_t (x_t - mean)(x_{t-k} - mean) / sum_t (x_t - mean)^2
    computed entirely in scaled-integer algebra so the DuckDB oracle
    replays it bit-for-bit: deviations are carried as
    ``n * x_t - tot`` (integers — n and tot from one per-key
    aggregate), lag products summed as DECIMAL(38,0) exactly, and the
    single double division rounded once at the end. The n^2 scale
    factor cancels in the ratio.

    Scale: one ≤|keys|-row aggregate broadcast back, one window pass
    ordered by bucket per key (series length = days, bounded by the
    calendar not the data), one per-key aggregate. No data-sized
    state; a constant series (den = 0) yields NULL acf, not a crash
    (ANSI divide guard).
    """
    if max_lag < 1:
        raise ValueError(f"max_lag must be >= 1, got {max_lag}")
    stats = daily.groupBy(*key_cols).agg(
        F.count(F.lit(1)).alias("_n"), F.sum(cnt_col).alias("_tot")
    )
    dev = (
        (F.col("_n") * F.col(cnt_col) - F.col("_tot"))
        .cast("decimal(18,0)")
        .alias("_dev")
    )
    d = daily.join(F.broadcast(stats), key_cols).select(
        *key_cols, F.col(bucket_col), dev
    )
    w = Window.partitionBy(*key_cols).orderBy(bucket_col)
    lagged = d.select(
        *key_cols,
        "_dev",
        *[
            F.lag("_dev", k).over(w).alias(f"_dl{k}")
            for k in range(1, max_lag + 1)
        ],
    )
    agg = lagged.groupBy(*key_cols).agg(
        F.count(F.lit(1)).alias("n_points"),
        F.sum((F.col("_dev") * F.col("_dev")).cast("decimal(38,0)")).alias(
            "_den"
        ),
        *[
            F.sum(
                (F.col("_dev") * F.col(f"_dl{k}")).cast("decimal(38,0)")
            ).alias(f"_num{k}")
            for k in range(1, max_lag + 1)
        ],
    )
    pairs = ", ".join(
        f"{k}, _acf{k}" for k in range(1, max_lag + 1)
    )
    acfs = agg.select(
        *key_cols,
        "n_points",
        *[
            (
                F.when(
                    F.col("_den") != 0,
                    F.round(
                        F.col(f"_num{k}").cast("double")
                        / F.col("_den").cast("double"),
                        6,
                    )
                    + F.lit(0.0),
                ).alias(f"_acf{k}")
            )
            for k in range(1, max_lag + 1)
        ],
    )
    return acfs.select(
        *key_cols,
        "n_points",
        F.expr(f"stack({max_lag}, {pairs}) as (lag, acf)"),
    ).select(*key_cols, F.col("lag").cast("int"), "acf", "n_points")


def dow_seasonality(
    daily: DataFrame,
    key_cols: list[str],
    bucket_col: str = "bucket",
    cnt_col: str = "cnt",
) -> DataFrame:
    """Day-of-week seasonal indices via the classical-decomposition
    recipe (trend = centered 7-day moving average over the gap-filled
    daily series; seasonal index = mean detrended value per weekday).

    Exactness: interior days (full 7-row window) only; the detrended
    value is carried as the integer ``7*x_t - sum7`` so the per-dow
    mean is one DECIMAL(38,0) sum and one final rounded double
    division by ``7 * n_obs`` — bit-for-bit replayable in SQL.
    ``dow`` is DuckDB-aligned (0 = Sunday .. 6 = Saturday;
    Spark's dayofweek is 1-based).

    Scale: one window pass per key over calendar-bounded series, one
    (key, dow) aggregate — ≤ 7·|keys| output rows.
    """
    w = (
        Window.partitionBy(*key_cols)
        .orderBy(bucket_col)
        .rowsBetween(-3, 3)
    )
    t = (
        daily.withColumn("_wsum", F.sum(cnt_col).over(w))
        .withColumn("_wn", F.count(F.lit(1)).over(w))
        .filter(F.col("_wn") == 7)
    )
    dev7 = (F.lit(7) * F.col(cnt_col) - F.col("_wsum")).cast("decimal(38,0)")
    out = t.groupBy(
        *key_cols, (F.dayofweek(bucket_col) - 1).cast("int").alias("dow")
    ).agg(
        F.count(F.lit(1)).alias("n_obs"),
        F.sum(dev7).alias("_s"),
    )
    return out.select(
        *key_cols,
        "dow",
        "n_obs",
        (
            F.round(
                F.col("_s").cast("double")
                / (F.lit(7) * F.col("n_obs")).cast("double"),
                6,
            )
            + F.lit(0.0)
        ).alias("seasonal"),
    )
