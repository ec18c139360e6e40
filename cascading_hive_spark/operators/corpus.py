"""Corpus-curation operators for LLM training-data pipelines
(north-star surface; no reference counterpart — the reference stops at
wordcount-style tokenization, ORCFileTest.java:249-251).

Four operators a 100 TB curation pass needs beyond dedup/sampling:

- ``tfidf_topk_terms`` — per-document salient terms (TF-IDF top-k).
- ``gopher_quality_rules`` — the Gopher-style rule battery (word-count
  band, mean word length, symbol/word ratio, bullet and ellipsis line
  fractions, stopword presence) as one narrow scan.
- ``bigram_lm_score`` — corpus-trained add-one-smoothed bigram LM
  average log-probability per document (the cheap perplexity-ish
  quality signal used to bucket crawl data).
- ``interleave_sources`` — deterministic round-robin interleave of
  sources into one global training order.

Design rules shared with the rest of the repo: JVM built-ins only (no
Python in the hot path), integer/boolean rule arithmetic wherever a
ratio threshold is involved (``10*n_sym <= n_words`` instead of float
division) so every output is hash-stable across engines, and floats
only as *reported* scores (rounded), never as *ranking* keys.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from cascading_hive_spark.operators.exact import exact_sum, image, scaled
from cascading_hive_spark.operators.sampling import hash_order
from cascading_hive_spark.session import materialize

# Gopher-style stopword markers: the rule is "document mentions >= 2
# of these", a cheap English-prose signal. Deliberately tiny.
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def _word_array(text_col):
    """Lowercased alpha tokens; '' entries kept (callers filter) so the
    Spark and DuckDB splits agree on every edge (leading punctuation,
    empty text)."""
    return F.split(F.lower(text_col), "[^a-z]+")


def tfidf_topk_terms(
    docs: DataFrame, id_col: str, text_col: str, k: int = 5
) -> DataFrame:
    """Top-k salient terms per document by TF-IDF.

    The *ranking* is pure-integer — ``(tf DESC, df ASC, term ASC)`` —
    which orders identically to tf·idf for fixed tf and is reproducible
    bit-for-bit on any engine; the float ``tfidf`` column
    (``tf · ln((N+1)/(df+1))``, rounded) is reported alongside for
    consumers that want the score itself.

    Scale shape: tokenize is a narrow scan; ``tf`` shuffles on
    (doc, term); ``df`` is a map-side-combined agg on term whose output
    is vocabulary-sized (millions of rows at 100 TB, not billions), so
    AQE picks a broadcast for the tf⋈df join; the top-k window shuffles
    on doc id once. No driver collect — N travels as a broadcast
    1-row cross join.
    """
    toks = (
        docs.select(F.col(id_col), F.explode(_word_array(F.col(text_col))).alias("term"))
        .filter(F.col("term") != "")
    )
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    df_counts = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    w = Window.partitionBy(id_col).orderBy(
        F.col("tf").desc(), F.col("df").asc(), F.col("term").asc()
    )
    return (
        tf.join(df_counts, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .withColumn("rk", F.col("rk").cast("long"))
        .select(
            id_col,
            "term",
            "tf",
            "df",
            F.round(
                F.col("tf") * F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)), 4
            ).alias("tfidf"),
            "rk",
        )
    )


def gopher_rule_exprs(text) -> dict:
    """The Gopher rule battery as named column expressions over a text
    column — extracted from ``gopher_quality_rules`` (same arithmetic,
    single source of truth) so single-scan compositions (the curation
    funnel) can evaluate the rules alongside other per-doc stages
    without a join."""
    words = F.filter(_word_array(text), lambda x: x != F.lit(""))
    n_words = F.size(words)
    # all non-whitespace chars; mean word length band as cross-multiply
    n_chars = F.length(F.regexp_replace(text, r"\s+", ""))
    n_hash = F.length(text) - F.length(F.regexp_replace(text, "#", ""))
    n_ellipsis = F.size(F.regexp_extract_all(text, F.lit(r"\.\.\."), F.lit(0)))
    lines = F.split(text, "\n")
    n_lines = F.size(lines)
    n_bullet = F.size(F.filter(lines, lambda l: l.rlike(r"^\s*[-*]")))  # noqa: E741
    n_ell_lines = F.size(F.filter(lines, lambda l: l.rlike(r"\.\.\.\s*$")))  # noqa: E741
    n_stop = sum(
        F.when(F.lower(text).rlike(rf"\b{w}\b"), 1).otherwise(0)
        for w in GOPHER_STOPWORDS
    )
    return {
        "word_count_ok": (n_words >= 50) & (n_words <= 100_000),
        "word_len_ok": (3 * n_words <= n_chars) & (n_chars <= 10 * n_words),
        "symbol_ok": 10 * (n_hash + n_ellipsis) <= n_words,
        "bullet_ok": 10 * n_bullet <= 9 * n_lines,
        "ellipsis_ok": 10 * n_ell_lines <= 3 * n_lines,
        "stopword_ok": n_stop >= 2,
    }


def gopher_quality_rules(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Gopher-style quality rule battery as one narrow scan.

    Every threshold is integer cross-multiplication (e.g. the 0.1
    symbol-to-word cap is ``10*n_sym <= n_words``) so the booleans are
    exactly reproducible on any engine — no float ratio ever computed.
    Rules (document kept iff ALL hold):

    - ``word_count_ok``   50 <= words <= 100_000
    - ``word_len_ok``     mean word length in [3, 10]
    - ``symbol_ok``       (# '#' + # '...') / words <= 0.1
    - ``bullet_ok``       <= 90% of lines start with a bullet
    - ``ellipsis_ok``     <= 30% of lines end with '...'
    - ``stopword_ok``     >= 2 distinct GOPHER_STOPWORDS present
    """
    rules = gopher_rule_exprs(F.col(text_col))
    n_words = F.size(
        F.filter(_word_array(F.col(text_col)), lambda x: x != F.lit(""))
    )
    out = docs.select(
        F.col(id_col),
        n_words.cast("long").alias("n_words"),
        *[c.alias(name) for name, c in rules.items()],
    )
    keep = None
    for name in rules:
        keep = F.col(name) if keep is None else keep & F.col(name)
    return out.withColumn("keep", keep)


def _doc_bigrams(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, w1, w2) — word bigrams built array-side (transform +
    element_at, no positional self-join); shared by bigram_lm_score
    and lm_perplexity_buckets. Tokenize+explode is compute-dense, so
    single-file corpora go through spread() first (round-robin to
    cluster parallelism; no-op on already-wide scans)."""
    from cascading_hive_spark.operators.dedup import spread

    docs = spread(docs)
    words = F.filter(_word_array(F.col(text_col)), lambda x: x != F.lit(""))
    n = F.size(words)
    bigrams = F.transform(
        F.slice(words, 1, F.greatest(n - 1, F.lit(0))),
        lambda x, i: F.struct(
            x.alias("w1"), F.element_at(words, i.cast("int") + 2).alias("w2")
        ),
    )
    return docs.select(F.col(id_col), F.explode(bigrams).alias("bg")).select(
        id_col, F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2")
    )


def bigram_lm_score(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Average add-one-smoothed bigram log-probability per document,
    with the LM trained on the same corpus — the classic cheap
    perplexity bucket for crawl filtering.

    score(d) = mean over bigrams (w1,w2) of ln((c(w1,w2)+1)/(c(w1·)+V))
    where c(w1·) counts w1 as a bigram *context* and V is the context
    vocabulary size.

    Scale shape: bigrams are built array-side (transform + element_at —
    no positional self-join), counts are map-side-combined aggs whose
    outputs are vocabulary-sized; the two count joins shuffle on the
    bigram/context key, and at 100 TB the standard refinement is to
    keep only top-K contexts and broadcast (unseen → the smoothing
    floor), which this operator's add-one floor already makes exact.
    """
    doc_bigrams = _doc_bigrams(docs, id_col, text_col)
    # c2 is vocabulary-sized: cut it and DERIVE c1 (sum of
    # bigram counts per context == the context count, same bigints) —
    # one corpus bigram explode instead of two (guide §2.4/§5)
    c2 = materialize(
        doc_bigrams.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2")),
        "bigram_lm_score: bigram counts",
    )
    c1 = c2.groupBy("w1").agg(F.sum("c2").alias("c1"))
    vocab = c1.agg(F.count(F.lit(1)).alias("v"))
    return (
        doc_bigrams.join(c2, ["w1", "w2"])
        .join(c1, "w1")
        .crossJoin(F.broadcast(vocab))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(
                F.avg(F.log((F.col("c2") + 1.0) / (F.col("c1") + F.col("v")))), 4
            ).alias("lm_score"),
        )
    )


def lm_perplexity_buckets(
    train: DataFrame,
    score: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """CCNet-style LM perplexity filtering (Wenzek et al. 2020): train
    an add-one-smoothed bigram LM on a REFERENCE corpus, score every
    target document's negative log-likelihood against it, and bucket
    the corpus into head/middle/tail by exact NLL terciles — the
    standard crawl-quality split (keep head, review middle, drop
    tail). Unlike ``bigram_lm_score`` (in-corpus LM), the LM here is
    cross-corpus, so unseen contexts/bigrams take the smoothing floor
    ln(1/(c1+V)) with c1=0 — the path that matters when scoring a
    crawl against clean reference text.

    Determinism/oracle discipline: per-doc NLL accumulates through the
    decimal-image sum (round each ln to 9 dp, exact decimal adds —
    order-independent), divides once in double, and buckets on the
    micro-NLL integer image with interpolated terciles (the
    window_ntile_binned cents pattern) — both engines compute
    identical buckets. Docs with no bigram (<2 words) come back
    bucket='unscored' with NULL nll.

    Scale shape: count tables are vocabulary-sized map-side-combined
    aggs; scoring shuffles on the bigram key only; the tercile edges
    are ONE percentile aggregate broadcast back onto a narrow map —
    no global sort, no window. At 100 TB the reference corpus is tiny
    by definition (clean text), so c2/c1 broadcast.
    """
    tb = _doc_bigrams(train, id_col, text_col)
    # c2 is vocabulary-sized; cut it and DERIVE c1 from it
    # (sum of bigram counts per context w1 == the context count, the
    # same bigints) — the reference-corpus explode then runs ONCE
    # instead of once per count table (guide §2.4/§5)
    c2 = materialize(
        tb.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2")),
        "lm_perplexity_buckets: bigram counts",
    )
    c1 = c2.groupBy("w1").agg(F.sum("c2").alias("c1"))
    vocab = c1.agg(F.count(F.lit(1)).alias("v"))
    sb = _doc_bigrams(score, id_col, text_col)
    # try_divide: an EMPTY reference corpus has V=0, making the
    # smoothing floor 1/0 — scoring against no LM is undefined, so
    # logp (and the doc's NLL/bucket) degrade to NULL/'unscored'
    # instead of an ANSI divide-by-zero crash
    logp = F.log(
        F.try_divide(
            F.coalesce(F.col("c2"), F.lit(0)) + 1.0,
            F.coalesce(F.col("c1"), F.lit(0)) + F.col("v"),
        )
    )
    # c2/c1 are vocabulary-sized by construction (the reference corpus
    # is the small, clean side — see the scale note above), so the two
    # lookups BROADCAST: without the hint Catalyst can't estimate the
    # aggregated tables and sort-merge-joins, shuffling every scored
    # bigram twice (guide §3.1 — the big side is never shuffled by a
    # broadcast join). Join results are identical either way.
    # per_doc is one skinny row per doc, read TWICE (tercile edges + the
    # bucketing map) by NON-IDENTICAL subtrees ReusedExchange cannot
    # dedup: without the cut the whole cross-corpus scoring pass
    # executes once per consumer (guide §5 — measured 18 parquet scans
    # of `documents` in one plan)
    per_doc = materialize(
        sb.join(F.broadcast(c2), ["w1", "w2"], "left")
        .join(F.broadcast(c1), "w1", "left")
        .crossJoin(F.broadcast(vocab))
        .select(id_col, logp.alias("_lp"))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.expr(
                f"-CAST({exact_sum('_lp', 9, 30)} AS DOUBLE) / CAST(count(1) AS DOUBLE) AS _nll"
            ),
        )
        .withColumn("_micro", F.round(F.col("_nll") * 1e6, 0).cast("bigint")),
        "lm_perplexity_buckets: per-doc nll",
    )
    edges = per_doc.agg(
        F.percentile(F.col("_micro"), F.lit([1.0 / 3.0, 2.0 / 3.0])).alias("_t")
    )
    bucketed = per_doc.crossJoin(F.broadcast(edges)).select(
        id_col,
        "n_bigrams",
        (F.round(F.col("_nll"), 6) + F.lit(0.0)).alias("nll"),
        F.when(F.col("_micro").isNull(), F.lit(None).cast("string"))
        .when(F.col("_micro") <= F.element_at("_t", 1), "head")
        .when(F.col("_micro") <= F.element_at("_t", 2), "middle")
        .otherwise("tail")
        .alias("bucket"),
    )
    return (
        score.select(id_col)
        .join(bucketed, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
            "nll",
            F.coalesce("bucket", F.lit("unscored")).alias("bucket"),
        )
    )


def interleave_sources(df: DataFrame, id_col: str, source_col: str) -> DataFrame:
    """Deterministic round-robin interleave across sources: global
    training position ``(per-source hash rank - 1) * n_sources +
    source_index``. Content-addressed like the sampling module — the
    order is a pure function of ids, stable under repartitioning — and
    strided, so a prefix of the output preserves the source mix (what
    sequential training consumption needs).

    Scale shape: the per-source rank is a window partitioned by source
    (one shuffle); the source-index table is a distinct-agg of source
    names (tiny) broadcast back. No global single-partition window.
    """
    src_idx = (
        df.select(source_col).distinct()
        .withColumn(
            "src_idx",
            F.row_number().over(Window.orderBy(source_col)) - 1,
        )
        .withColumn("n_sources", F.count(F.lit(1)).over(Window.partitionBy()))
    )
    w = Window.partitionBy(source_col).orderBy(hash_order(F.col(id_col)), F.col(id_col))
    return (
        df.withColumn("src_rank", F.row_number().over(w).cast("long"))
        .join(F.broadcast(src_idx), source_col)
        .select(
            id_col,
            source_col,
            "src_rank",
            ((F.col("src_rank") - 1) * F.col("n_sources") + F.col("src_idx")).alias(
                "global_pos"
            ),
        )
    )


def _re_quote(tok: str) -> str:
    r"""Quote a BPE token for literal use inside a Java regex pattern:
    ``\Q...\E`` with any embedded ``\E`` split out and re-quoted
    (java.util.regex.Pattern.quote's algorithm) — a token containing
    ``\E`` would otherwise terminate the quoted region early."""
    return "\\Q" + tok.replace("\\E", "\\E\\\\E\\Q") + "\\E"


def _repl_quote(tok: str) -> str:
    r"""Quote a BPE token for literal use as a Java regex REPLACEMENT
    (Matcher.quoteReplacement semantics): ``\`` escapes and ``$`` group
    references must be neutralized or corpora containing them throw
    IllegalArgumentException / corrupt merges (ADVICE r6)."""
    return tok.replace("\\", "\\\\").replace("$", "\\$")


def _merge_pattern(a: str, b: str) -> str:
    return f"(?<= ){_re_quote(a)} {_re_quote(b)}(?= )"


def bpe_train(
    docs: DataFrame,
    text_col: str,
    n_merges: int = 10,
    min_count: int = 2,
) -> "list[tuple[int, str, str, int]]":
    """Learn a BPE merge table from the corpus — the tokenizer-training
    leg of an LLM data pipeline, distributed: (rank, left, right,
    pair_count) per merge, ties broken (count DESC, left, right) so
    the table is deterministic for a given corpus.

    Formulation is the classic subword-nmt one re-expressed on
    DataFrames: work on DISTINCT words with their corpus counts (the
    corpus compresses to its vocabulary before any iteration — at
    100 TB that is the difference between touching documents K times
    and touching a words table K times); each word is a space-joined
    symbol string seeded as chars + '</w>'. Per merge round:

      1. adjacent-pair counts: one explode of zipped array slices +
         one partial-aggregated sum, shuffling only (pair, count);
      2. argmax via orderBy+limit(1) (TakeOrderedAndProject — the
         single driver-side row per round IS the algorithm's output);
      3. apply the merge with one narrow ``regexp_replace``
         ('(?<= )\\Qa\\E \\Qb\\E(?= )' on space-padded segments —
         Java regex resumes after each match, giving exactly BPE's
         greedy non-overlapping left-to-right application).

    A cut per round truncates the lineage. Returns the merge list
    (driver-sized: K rows); ``bpe_merges_df``/``bpe_segment`` wrap it
    back into DataFrames.
    """
    words = (
        docs.select(F.explode(F.split(F.col(text_col), r"\s+")).alias("w"))
        .filter(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # " h e l l o </w> " — padded so the merge regex can anchor on
    # spaces with fixed-width lookarounds
    seg = F.concat(
        F.lit(" "),
        F.regexp_replace(F.col("w"), "(.)", "$1 "),
        F.lit("</w> "),
    )
    words = materialize(words.select("cnt", seg.alias("seg")), "bpe_train: words")

    merges: list[tuple[int, str, str, int]] = []
    for rank in range(n_merges):
        arr = F.split(F.trim(F.col("seg")), " ")
        n = F.size(arr)
        pairs = words.select(
            "cnt",
            F.explode(
                F.arrays_zip(
                    F.slice(arr, 1, n - 1).alias("a"),
                    F.slice(arr, 2, n - 1).alias("b"),
                )
            ).alias("p"),
        ).select(F.col("p.a").alias("a"), F.col("p.b").alias("b"), "cnt")
        best = (
            pairs.groupBy("a", "b")
            .agg(F.sum("cnt").alias("c"))
            .orderBy(F.col("c").desc(), "a", "b")
            .limit(1)
            .collect()
        )
        if not best or best[0]["c"] < min_count:
            break
        a, b, c = best[0]["a"], best[0]["b"], int(best[0]["c"])
        merges.append((rank, a, b, c))
        merged = F.regexp_replace("seg", _merge_pattern(a, b), _repl_quote(a + b))
        words = words.select("cnt", merged.alias("seg"))
        words = materialize(words, f"bpe_train: words iter {rank + 1}")
    return merges


def bpe_merges_df(spark, merges) -> DataFrame:
    """Merge list -> DataFrame(rank, left, right, pair_count)."""
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("rank", LongType()),
            StructField("left", StringType()),
            StructField("right", StringType()),
            StructField("pair_count", LongType()),
        ]
    )
    return spark.createDataFrame(
        [(int(r), a, b, int(c)) for r, a, b, c in merges], schema
    )


def bpe_segment(df: DataFrame, text_col: str, merges, out_col: str = "tokens") -> DataFrame:
    """Apply a learned merge table to a text column: per-word char
    segmentation, then every merge replayed IN RANK ORDER as the same
    anchored regexp_replace used in training — a narrow map-only
    column expression chain, no shuffle, no Python."""
    word = F.regexp_replace(F.col("_w"), "(.)", "$1 ")
    seg = F.concat(F.lit(" "), word, F.lit("</w> "))
    for _, a, b, _c in merges:
        seg = F.regexp_replace(seg, _merge_pattern(a, b), _repl_quote(a + b))
    return (
        df.select(
            "*", F.explode(F.split(F.col(text_col), r"\s+")).alias("_w")
        )
        .filter(F.length("_w") > 0)
        .select("*", F.split(F.trim(seg), " ").alias(out_col))
        .drop("_w")
    )


def bpe_segment_doc(
    df: DataFrame, text_col: str, merges, out_col: str = "tokens"
) -> DataFrame:
    """Apply a learned merge table at DOCUMENT granularity: one array
    column holding the full ordered token stream of each document —
    the shape a tokenize-then-pack pipeline consumes (packing.py
    wants per-doc streams, not exploded word rows like
    ``bpe_segment``).

    Map-only by construction: the whitespace word split, the per-word
    char seeding, and every ranked merge replay happen inside ONE
    ``transform`` lambda over the word array (same anchored
    regexp_replace chain as training — greedy non-overlapping
    left-to-right, ORCFileTest.java:249-251's token explode is the
    primitive ancestor), then ``flatten`` restores the document
    stream. No shuffle, no Python, word order preserved.
    """

    def seg_word(w):
        s = F.concat(
            F.lit(" "), F.regexp_replace(w, "(.)", "$1 "), F.lit("</w> ")
        )
        for _, a, b, _c in merges:
            s = F.regexp_replace(s, _merge_pattern(a, b), _repl_quote(a + b))
        return F.split(F.trim(s), " ")

    words = F.filter(
        F.split(F.col(text_col), r"\s+"), lambda x: F.length(x) > F.lit(0)
    )
    return df.withColumn(out_col, F.flatten(F.transform(words, seg_word)))


def _bm25_w(tf: str, df: str, k1: float, b: float) -> str:
    """SQL text of one BM25 term contribution over the bigint ``tf`` and
    ``df``, the doc length ``dl`` and the corpus stats ``n_docs`` and
    ``total_len`` (Robertson/Lucene idf)."""
    idf = f"ln(1.0D + (n_docs - {df} + 0.5D) / ({df} + 0.5D))"
    norm = f"1.0D - {b!r}D + {b!r}D * dl / (CAST(total_len AS DOUBLE) / n_docs)"
    return f"{idf} * ({tf} * ({k1!r}D + 1.0D)) / ({tf} + {k1!r}D * ({norm}))"


def bm25_topk(
    docs: DataFrame,
    query_terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    topk: int = 20,
) -> DataFrame:
    """BM25 top-k retrieval for one bag-of-words query — the relevance
    primitive a curation pipeline uses to pull topic-targeted training
    slices out of a crawl (and the classic lexical baseline next to
    the ANN embedding path in operators/similarity.py).

    score(d) = sum over query terms t of
        idf(t) * tf * (k1+1) / (tf + k1 * (1 - b + b * dl/avgdl)),
    idf(t) = ln(1 + (N - df + 0.5)/(df + 0.5))   (Robertson/Lucene).

    Hash-stable ranking (the repo's float discipline): each per-term
    contribution is a deterministic double expression over integers
    (tf, df, dl, N, total_len) rounded to 7 decimals, summed EXACTLY
    as decimal(38,7) — so the score, and therefore the (score DESC,
    id ASC) order, is reproducible bit-for-bit on any engine and any
    partitioning; a plain float sum would tie-break differently run
    to run.

    Scale shape (|q| <= 8, the retrieval norm): ONE tokenize scan —
    a single F.aggregate lambda folds each doc's word array into
    (dl, tf per query term) in one pass (one lambda with distinct
    embedded literals, the shape this Spark build evaluates correctly
    — N same-shape lambdas differing only in a literal collapse to
    one result, see minhash_lsh_pairs), checkpointed as a NARROW
    per-doc stats table (id + |q|+1 ints; at warehouse scale this
    boundary would be a parquet write, the funnel-flag-table
    precedent). Corpus stats and per-term df then come from one 1-row
    aggregate broadcast back — no token explode, no (id, term)
    exchange, and the tokenizer runs once instead of three times
    (stats scan + tf scan + df re-execution; guide §2.4/§5). The
    final order-by-limit compiles to TakeOrderedAndProject (no
    global sort). No driver collect. Larger |q| falls back to the
    explode + IN-list path (per-term fold branches stop paying off).
    """
    words = F.filter(_word_array(F.col(text_col)), lambda x: x != F.lit(""))
    nq = len(query_terms)
    if 1 <= nq <= 8:
        zero = F.struct(
            F.lit(0).cast("int").alias("dl"),
            *[F.lit(0).cast("int").alias(f"t{i}") for i in range(nq)],
        )

        def _step(acc, x):
            return F.struct(
                (acc["dl"] + F.lit(1)).alias("dl"),
                *[
                    (
                        acc[f"t{i}"]
                        + F.when(x == F.lit(t), F.lit(1)).otherwise(F.lit(0))
                    ).alias(f"t{i}")
                    for i, t in enumerate(query_terms)
                ],
            )

        per = materialize(
            docs.select(F.col(id_col), F.aggregate(words, zero, _step).alias("_f"))
            .select(
                id_col,
                F.col("_f.dl").alias("dl"),
                *[F.col(f"_f.t{i}").alias(f"t{i}") for i in range(nq)],
            ),
            "bm25_topk: per-doc term counts",
        )
        gl = per.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("dl").cast("bigint")).alias("total_len"),
            *[
                F.sum((F.col(f"t{i}") > 0).cast("bigint")).alias(f"df{i}")
                for i in range(nq)
            ],
        )
        # identical formula/operand types as the explode path: tf and
        # df are bigint, dl int — same double promotions, same IEEE ops,
        # so each 7-decimal image is bit-equal; absent terms add 0
        total = " + ".join(
            f"IF(t{i} > 0, {image(_bm25_w(f'CAST(t{i} AS BIGINT)', f'df{i}', k1, b), 7)}, 0L)"
            for i in range(nq)
        )
        n_matched = reduce(
            lambda a, c: a + c,
            [(F.col(f"t{i}") > 0).cast("int") for i in range(nq)],
        )
        any_match = reduce(
            lambda a, c: a | c, [F.col(f"t{i}") > 0 for i in range(nq)]
        )
        scored = (
            per.crossJoin(F.broadcast(gl))
            .filter(any_match)
            .select(
                id_col,
                n_matched.cast("bigint").alias("n_terms_matched"),
                F.expr(f"{scaled(total, 7)} AS _s"),
            )
        )
    else:
        stats = docs.select(F.size(words).alias("dl")).agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("dl").cast("bigint")).alias("total_len"),
        )
        toks = docs.select(
            F.col(id_col), F.size(words).alias("dl"), F.explode(words).alias("term")
        ).filter(F.col("term").isin(query_terms))
        tf = toks.groupBy(id_col, "dl", "term").agg(F.count(F.lit(1)).alias("tf"))
        df_t = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
        scored = (
            tf.join(F.broadcast(df_t), "term")
            .crossJoin(F.broadcast(stats))
            .groupBy(id_col)
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_terms_matched"),
                F.expr(f"{exact_sum(_bm25_w('tf', 'df', k1, b), 7, 38)} AS _s"),
            )
        )
    return (
        scored.orderBy(F.col("_s").desc(), F.col(id_col).asc())
        .limit(topk)
        .select(
            id_col,
            "n_terms_matched",
            # the decimal sum is an EXACT 7-decimal value; cast once to
            # double (nearest-double is deterministic) and do NOT
            # re-round — a second round(., 6) sits on a half-up
            # boundary whenever the 7th decimal is 5, where the
            # engines' double-vs-decimal rounding paths disagree
            F.col("_s").cast("double").alias("bm25"),
        )
    )


def take_token_budget(
    docs: DataFrame,
    budget: int,
    quality_col: str = "quality",
    tokens_col: str = "n_tokens",
    id_col: str = "doc_id",
    by: list[str] | None = None,
) -> DataFrame:
    """Greedy token-budget selection — the data-mixing step that fills
    a training run's token quota with the best documents first: order
    docs by (``quality_col`` DESC, ``id_col`` ASC) within each ``by``
    group and keep the strict prefix whose running ``tokens_col`` sum
    stays <= ``budget``.

    The naive plan is a GLOBAL sort + running sum over the whole
    corpus — a single-ordered-partition scan at 100 TB. This instead
    decomposes by quality bucket (``quality_col`` must be integer-
    graded, e.g. a permille score — domain-sized, not corpus-sized):

    1. aggregate tokens per (by, quality) — map-side-combined, output
       is domain-sized;
    2. running-sum that TINY table with a window to find, per group,
       the buckets that fit whole and the single threshold bucket that
       straddles the budget;
    3. whole buckets: broadcast semi-join (no sort, no shuffle of doc
       rows beyond the scan);
    4. threshold bucket only: per-doc running sum over just that
       bucket's docs — the only per-doc window, bounded by one
       bucket's population, not the corpus.

    Exactly equal to the global-sort definition (the oracle runs that
    definition directly): full buckets satisfy cum <= budget row by
    row, the threshold prefix continues the same cum, and every later
    bucket's first row already exceeds the budget.
    """
    keys = list(by or [])
    bq = keys + [quality_col]
    b = docs.groupBy(*bq).agg(F.sum(F.col(tokens_col)).alias("_btok"))
    wq = (
        Window.partitionBy(*keys).orderBy(F.col(quality_col).desc())
        if keys
        else Window.orderBy(F.col(quality_col).desc())
    ).rowsBetween(Window.unboundedPreceding, -1)
    cum = b.withColumn("_before", F.coalesce(F.sum("_btok").over(wq), F.lit(0)))
    full = cum.filter(F.col("_before") + F.col("_btok") <= budget)
    thresh = cum.filter(
        (F.col("_before") < budget) & (F.col("_before") + F.col("_btok") > budget)
    )
    whole = docs.join(F.broadcast(full.select(*bq)), bq, "left_semi")
    wid = Window.partitionBy(*bq).orderBy(id_col).rowsBetween(
        Window.unboundedPreceding, 0
    )
    part_sel = (
        docs.join(F.broadcast(thresh.select(*bq, "_before")), bq)
        .withColumn("_cum", F.col("_before") + F.sum(F.col(tokens_col)).over(wid))
        .filter(F.col("_cum") <= budget)
        .drop("_before", "_cum")
    )
    return whole.unionByName(part_sel)


def rrf_fuse(
    rankings: list[DataFrame],
    id_col: str = "doc_id",
    rank_col: str = "r",
    rrf_k: int = 60,
    topk: int | None = 20,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack/Clarke/Buettcher, SIGIR 2009)
    of several retrieval rankings — the standard hybrid-retrieval
    combiner for a lexical BM25 list and an embedding-cosine list
    (RAG-corpus curation's two pillars; queries.py: docs_hybrid_rrf
    fuses exactly those two). Each input is (``id_col``,
    ``rank_col``) with rank starting at 1; fused score(d) =
    sum over lists of 1/(rrf_k + rank_d), absent lists contribute 0.
    Returns (``id_col``, rrf_score) ordered by (score desc, id), cut
    to ``topk`` if given.

    Rank-only fusion is what makes RRF robust: no score calibration
    between BM25 magnitudes and cosine in [-1, 1] is needed. Engine
    discipline: each reciprocal is one double division of exact
    integers (bit-identical cross-engine), accumulated through a
    9-decimal image so the few-term sum never depends on engine or
    partition order.

    Scale shape: inputs are top-N lists (already tiny); the fuse is a
    unionByName + one id-key map-side-combined agg + one
    TakeOrderedAndProject — metadata-sized end to end.
    """
    if not rankings:
        raise ValueError("rrf_fuse needs at least one ranking")
    parts = [
        r.select(
            F.col(id_col),
            (F.lit(1.0) / (F.lit(rrf_k) + F.col(rank_col).cast("double"))).alias("_s"),
        )
        for r in rankings
    ]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    fused = (
        u.groupBy(id_col)
        .agg(F.expr(f"{exact_sum('_s', 9, 38)} AS _sum"))
        .select(id_col, F.col("_sum").cast("double").alias("rrf_score"))
        .orderBy(F.col("_sum").desc(), F.col(id_col))
    )
    return fused.limit(topk) if topk else fused


# ---------------------------------------------------------------------------
# DSIR — Data Selection via Importance Resampling (Xie et al. 2023)
# ---------------------------------------------------------------------------

def dsir_bucket_counts(
    docs: DataFrame,
    text_col: str,
    n_buckets: int = 128,
    n: int = 3,
    seed: str = "dsir13|",
    portable: bool = True,
) -> DataFrame:
    """Hashed char-n-gram occurrence counts per bucket — the corpus
    distribution estimate DSIR's importance weights are built from.
    Shares ``text.char_ngram_buckets`` (the classifier featurizer) so
    weight estimation and scoring can never disagree on the feature
    space. One explode + map-side-combined groupBy to ``n_buckets``
    rows — bounded output regardless of corpus size. The md5-per-gram
    hash is the scan's entire cost and small corpora arrive as ONE
    parquet file -> one task, so the input goes through ``spread()``
    first (guide §2: round-robin to cluster parallelism, no-op on
    already-wide scans); counts are exact integer sums, identical
    under any partitioning."""
    from cascading_hive_spark.operators.dedup import spread
    from cascading_hive_spark.operators.text import char_ngram_buckets

    return (
        spread(docs).select(
            F.explode(
                char_ngram_buckets(F.col(text_col), n, n_buckets, seed, portable)
            ).alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def dsir_weights(
    raw: DataFrame,
    target: DataFrame | None,
    text_col: str,
    n_buckets: int = 128,
    n: int = 3,
    seed: str = "dsir13|",
    portable: bool = True,
    target_flag=None,
) -> list[float]:
    """DSIR importance weights: per-bucket log(p_target / p_raw) under
    add-one-smoothed hashed-n-gram bag models (Xie et al. 2023, "Data
    Selection for Language Models via Importance Resampling" — the
    published alternative to classifier-based selection when what you
    have is a TARGET corpus, not labels). Dense list indexed by
    bucket; buckets unseen in both corpora still carry the nonzero
    smoothing weight log((R+B)/(T+B)) implied by the models.

    One bounded aggregation (a tagged union of the two corpora's
    gram buckets -> at most 2 * ``n_buckets`` rows) collected
    driver-side — the k-centroids/BPE-argmax precedent, never
    corpus-sized, and a single Spark job where two separate counts
    paid two scans' worth of job overhead. Weights are rounded to
    6 dp so the scoring fold's micro-unit image is exact
    cross-engine."""
    import math

    from cascading_hive_spark.operators.dedup import spread
    from cascading_hive_spark.operators.text import char_ngram_buckets

    if target_flag is not None:
        # SINGLE-SCAN path for the common "target is a slice of raw"
        # case (guide §1.2 — don't compute things twice): one gram
        # fold per document instead of re-hashing every target doc a
        # second time through the union, and one corpus scan instead
        # of two. Counts (hence weights) are identical: rc counts all
        # raw grams, tc counts the flagged subset's grams. spread()
        # first: the md5-per-gram pass over a one-file corpus would
        # otherwise run as ONE task on one core (guide §2) — at sf0.1
        # this single job was most of docs_dsir_select's wall time.
        counts = (
            spread(raw).select(
                target_flag.alias("_is_t"),
                F.explode(
                    char_ngram_buckets(F.col(text_col), n, n_buckets, seed, portable)
                ).alias("bucket"),
            )
            .groupBy("bucket")
            .agg(
                F.count(F.lit(1)).alias("_rc"),
                F.sum(F.when(F.col("_is_t"), 1).otherwise(0)).alias("_tc"),
            )
            .collect()
        )
        rc = {r["bucket"]: r["_rc"] for r in counts}
        tc = {r["bucket"]: r["_tc"] for r in counts if r["_tc"]}
    else:
        tagged = spread(
            raw.select(
                F.lit(0).alias("_side"), F.col(text_col).alias("_t")
            ).unionByName(
                target.select(F.lit(1).alias("_side"), F.col(text_col).alias("_t"))
            )
        )
        counts = (
            tagged.select(
                "_side",
                F.explode(
                    char_ngram_buckets(F.col("_t"), n, n_buckets, seed, portable)
                ).alias("bucket"),
            )
            .groupBy("_side", "bucket")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .collect()
        )
        rc = {r["bucket"]: r["cnt"] for r in counts if r["_side"] == 0}
        tc = {r["bucket"]: r["cnt"] for r in counts if r["_side"] == 1}
    big_r, big_t = sum(rc.values()), sum(tc.values())
    return [
        round(
            math.log((tc.get(b, 0) + 1) / (big_t + n_buckets))
            - math.log((rc.get(b, 0) + 1) / (big_r + n_buckets)),
            6,
        )
        for b in range(n_buckets)
    ]


def dsir_weights_df(
    raw: DataFrame,
    target: DataFrame,
    text_col: str,
    n_buckets: int = 128,
    n: int = 3,
    seed: str = "dsir13|",
    portable: bool = True,
) -> DataFrame:
    """``dsir_weights`` as a fully distributed DataFrame — (bucket,
    raw_cnt, target_cnt, weight) for every bucket observed in either
    corpus (absent-in-both buckets carry only the constant smoothing
    weight; emitting them would be n_buckets - observed rows of the
    same number). Full outer join of two bounded count tables with
    broadcast scalar totals — no driver collect at all, so this leg
    is usable inside a larger plan."""
    rc = dsir_bucket_counts(raw, text_col, n_buckets, n, seed, portable)
    tc = dsir_bucket_counts(target, text_col, n_buckets, n, seed, portable)
    rt = F.broadcast(rc.agg(F.sum("cnt").alias("_R")))
    tt = F.broadcast(tc.agg(F.sum("cnt").alias("_T")))
    joined = (
        rc.withColumnRenamed("cnt", "raw_cnt")
        .join(tc.withColumnRenamed("cnt", "target_cnt"), "bucket", "full_outer")
        .crossJoin(rt)
        .crossJoin(tt)
    )
    b = F.lit(n_buckets)
    r_cnt = F.coalesce(F.col("raw_cnt"), F.lit(0))
    t_cnt = F.coalesce(F.col("target_cnt"), F.lit(0))
    big_r = F.coalesce(F.col("_R"), F.lit(0))
    big_t = F.coalesce(F.col("_T"), F.lit(0))
    weight = F.round(
        F.log((t_cnt + 1).cast("double") / (big_t + b).cast("double"))
        - F.log((r_cnt + 1).cast("double") / (big_r + b).cast("double")),
        6,
    ) + F.lit(0.0)
    return joined.select(
        "bucket",
        r_cnt.cast("bigint").alias("raw_cnt"),
        t_cnt.cast("bigint").alias("target_cnt"),
        weight.alias("weight"),
    )


def dsir_score(
    df: DataFrame,
    id_col: str,
    text_col: str,
    weights: list[float],
    n: int = 3,
    seed: str = "dsir13|",
    portable: bool = True,
    widen: bool = True,
) -> DataFrame:
    """Per-document DSIR log importance ratio: Σ over the document's
    hashed n-grams of weight[bucket] — the log of the bag-model
    likelihood ratio p_target(doc)/p_raw(doc). Same map-only shape as
    ``text.quality_classifier_score`` (weights are a plan literal
    folded as exact BIGINT micro-units; no join, no shuffle — 100 TB
    scores in one codegen'd scan), but a SUM, not a length-normalized
    margin: DSIR resamples on the full-document ratio.

    Returns (id, n_grams, dsir_logratio)."""
    from cascading_hive_spark.operators.dedup import spread
    from cascading_hive_spark.operators.text import char_ngram_buckets

    nb = len(weights)
    # ONE array literal, not CreateArray of scalars (the r14-measured
    # 3x inside HOF lambdas, where CreateArray re-evaluates per row)
    w_arr = F.lit([int(round(w * 1_000_000)) for w in weights]).cast(
        "array<bigint>"
    )
    micro = F.aggregate(
        F.col("_bk"),
        F.lit(0).cast("bigint"),
        lambda acc, b: acc + F.element_at(w_arr, b.cast("int") + 1),
    )
    # bucket array materialized in its own projection so size() and
    # the weight fold share ONE gram-hash evaluation (the md5-per-
    # position transform is the scan's hot cost — the
    # quality_classifier_score discipline)
    bucketed = (spread(df) if widen else df).select(
        F.col(id_col),
        char_ngram_buckets(F.col(text_col), n, nb, seed, portable).alias("_bk"),
    )
    return bucketed.select(
        F.col(id_col),
        F.size(F.col("_bk")).cast("bigint").alias("n_grams"),
        (F.round(micro.cast("double") / F.lit(1_000_000.0), 6) + F.lit(0.0)).alias(
            "dsir_logratio"
        ),
    )


def dsir_gumbel_topk(
    scored: DataFrame,
    id_col: str,
    k: int,
    score_col: str = "dsir_logratio",
    seed: str = "dsirsel|",
) -> DataFrame:
    """DSIR's selection step: Gumbel top-k — adding i.i.d. Gumbel
    noise to each log-weight and taking the top k samples WITHOUT
    replacement with probability proportional to the importance
    weights (the Gumbel-max trick; what the DSIR paper implements).
    The noise here is DETERMINISTIC — Gumbel inverse-CDF of an md5
    hash of the id — so reruns, retries and cross-engine replays pick
    the same k documents (the repo-wide reproducible-sampling rule).

    The selection key is rounded to 6 dp BEFORE ranking (with the id
    as tiebreak) so engines whose ln() differs in the last ulp still
    rank identically. Plan shape: one narrow projection feeding a
    top-k (TakeOrderedAndProject) — no global sort, no full shuffle.
    """
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(seed), F.col(id_col).cast("string"))), 1, 8
        ),
        16,
        10,
    ).cast("bigint")
    u = (h.cast("double") + F.lit(0.5)) / F.lit(4294967296.0)
    g = -F.log(-F.log(u))
    key = F.round(F.col(score_col) + g, 6) + F.lit(0.0)
    return (
        scored.withColumn("gumbel_key", key)
        .orderBy(F.col("gumbel_key").desc(), F.col(id_col))
        .limit(k)
    )


def corpus_js_divergence(
    a: DataFrame,
    b: DataFrame,
    text_col: str,
    n_buckets: int = 128,
    n: int = 3,
    seed: str = "dsir13|",
    portable: bool = True,
) -> DataFrame:
    """Jensen-Shannon divergence between two corpus snapshots' hashed
    n-gram distributions — the drift monitor an ingest pipeline runs
    between yesterday's and today's crawl (the documents-level twin of
    events_psi_drift). JS rather than KL because zero-count buckets
    need no smoothing: each side's term p·ln(p/m) is defined to be 0
    at p = 0 and the mixture m is positive wherever either side is.

    One row: (js_divergence in [0, ln 2], n_grams_a, n_grams_b).
    Engine-portable: probabilities are double divisions of exact
    integer counts, per-bucket terms are 9-dp decimal images summed
    exactly (order-independent), one final rounding. Scale shape: two
    map-side-combined count passes to ``n_buckets`` rows, one bounded
    join — corpus size only ever streams through the counts.
    Degenerate inputs (an empty side) yield NULL divergence via
    try_divide, never a DIVIDE_BY_ZERO crash."""
    ca = dsir_bucket_counts(a, text_col, n_buckets, n, seed, portable)
    cb = dsir_bucket_counts(b, text_col, n_buckets, n, seed, portable)
    ta = F.broadcast(ca.agg(F.sum("cnt").alias("_Ta")))
    tb = F.broadcast(cb.agg(F.sum("cnt").alias("_Tb")))
    j = (
        ca.withColumnRenamed("cnt", "cnt_a")
        .join(cb.withColumnRenamed("cnt", "cnt_b"), "bucket", "full_outer")
        .crossJoin(ta)
        .crossJoin(tb)
    )
    cnt_a = F.coalesce(F.col("cnt_a"), F.lit(0)).cast("double")
    cnt_b = F.coalesce(F.col("cnt_b"), F.lit(0)).cast("double")
    p = F.try_divide(cnt_a, F.col("_Ta").cast("double"))
    q = F.try_divide(cnt_b, F.col("_Tb").cast("double"))
    m = (p + q) / F.lit(2.0)
    term = F.when(p > 0, p * F.log(p / m)).otherwise(F.lit(0.0)) + F.when(
        q > 0, q * F.log(q / m)
    ).otherwise(F.lit(0.0))
    return j.select(
        term.alias("_t"),
        F.coalesce(F.col("cnt_a"), F.lit(0)).alias("_ca"),
        F.coalesce(F.col("cnt_b"), F.lit(0)).alias("_cb"),
    ).agg(
        F.expr(
            f"round(CAST({exact_sum('_t', 9, 38)} AS DOUBLE) / 2.0D, 6) + 0.0D AS js_divergence"
        ),
        F.sum("_ca").cast("bigint").alias("n_grams_a"),
        F.sum("_cb").cast("bigint").alias("n_grams_b"),
    )
