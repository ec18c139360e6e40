"""Unit tests for the corpus-curation operators (operators/corpus.py,
similarity.quantize_int8). Oracle parity for the registered query
shapes is covered by test_oracle_parity; these pin the operator-level
semantics on crafted inputs (including the HOF-lambda shapes that the
round-5 MinHash collapse bug taught us to distrust)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from cascading_hive_spark.operators.corpus import (
    bigram_lm_score,
    gopher_quality_rules,
    interleave_sources,
    tfidf_topk_terms,
)
from cascading_hive_spark.operators.similarity import quantize_int8


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_gopher_rule_counts_and_no_hof_collapse(spark):
    # One doc exercising every counter; bullet and ellipsis line
    # filters are two same-shape filter(rlike) lambdas in ONE select —
    # the exact pattern family that collapsed MinHash signatures on
    # this Spark build — so their differing counts are load-bearing.
    text = "- bullet one\n* bullet two...\nplain line...\nno mark # here"
    out = gopher_quality_rules(_docs(spark, [(1, text)]), "doc_id", "text").first()
    assert out.n_words == 9
    # bullet lines: 2 of 4; ellipsis-ending lines: 2 of 4 (distinct
    # counts would both be wrong under a lambda collapse)
    assert out.bullet_ok  # 10*2 <= 9*4
    assert not out.ellipsis_ok  # 10*2 > 3*4
    assert not out.word_count_ok  # 9 < 50
    assert not out.keep


def test_gopher_stopword_and_symbol_rules(spark):
    good = " ".join(["the quick brown fox jumps over the lazy dog and that"] * 10)
    hashy = " ".join(["word"] * 50) + " " + "#" * 20
    rows = gopher_quality_rules(
        _docs(spark, [(1, good), (2, hashy)]), "doc_id", "text"
    ).collect()
    by_id = {r.doc_id: r for r in rows}
    assert by_id[1].stopword_ok and by_id[1].word_count_ok and by_id[1].keep
    assert not by_id[2].symbol_ok  # 10*20 > 50 words
    assert not by_id[2].stopword_ok


def test_gopher_empty_text_degrades(spark):
    out = gopher_quality_rules(_docs(spark, [(1, "")]), "doc_id", "text").first()
    assert out.n_words == 0
    assert not out.keep


def test_tfidf_topk_manual(spark):
    docs = _docs(
        spark,
        [
            (1, "apple apple banana"),
            (2, "apple cherry"),
            (3, "durian durian durian"),
        ],
    )
    rows = tfidf_topk_terms(docs, "doc_id", "text", k=2).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    # doc 1: apple tf=2 ranks above banana tf=1
    d1 = sorted(by_doc[1], key=lambda r: r.rk)
    assert [r.term for r in d1] == ["apple", "banana"]
    assert d1[0].tf == 2 and d1[0].df == 2
    # doc 2: tie on tf=1 → rarer term (cherry df=1) outranks apple df=2
    d2 = sorted(by_doc[2], key=lambda r: r.rk)
    assert [r.term for r in d2] == ["cherry", "apple"]
    # tfidf value: tf * ln((N+1)/(df+1)), N=3
    assert d1[0].tfidf == pytest.approx(round(2 * math.log(4 / 3), 4), abs=1e-9)
    assert by_doc[3][0].term == "durian" and by_doc[3][0].tf == 3


def test_bigram_lm_manual(spark):
    # corpus: "a b" x2 and "a c" → c(a,b)=2, c(a,c)=1, c(a·)=3, V=1
    docs = _docs(spark, [(1, "a b"), (2, "a b"), (3, "a c")])
    rows = {r.doc_id: r for r in bigram_lm_score(docs, "doc_id", "text").collect()}
    assert rows[1].n_bigrams == 1
    assert rows[1].lm_score == pytest.approx(round(math.log(3 / 4), 4), abs=1e-9)
    assert rows[3].lm_score == pytest.approx(round(math.log(2 / 4), 4), abs=1e-9)


def test_bigram_lm_short_docs_drop(spark):
    # docs with <2 tokens contribute no bigrams and produce no row
    docs = _docs(spark, [(1, "solo"), (2, ""), (3, "x y")])
    rows = bigram_lm_score(docs, "doc_id", "text").collect()
    assert {r.doc_id for r in rows} == {3}


def test_interleave_sources_strided_and_deterministic(spark):
    df = spark.createDataFrame(
        [(i, ["crawl", "books", "code"][i % 3]) for i in range(90)],
        "doc_id long, source string",
    )
    out = interleave_sources(df, "doc_id", "source").collect()
    pos = {r.doc_id: r.global_pos for r in out}
    assert len(set(pos.values())) == 90  # positions are unique
    # strided: every window of n_sources consecutive positions holds
    # one doc per source (balanced input)
    by_pos = sorted(out, key=lambda r: r.global_pos)
    for i in range(0, 90, 3):
        assert {r.source for r in by_pos[i : i + 3]} == {"crawl", "books", "code"}
    # content-addressed: same positions under a different partitioning
    out2 = interleave_sources(df.repartition(7), "doc_id", "source").collect()
    assert {r.doc_id: r.global_pos for r in out2} == pos


def test_quantize_int8_codes_and_error_bound(spark):
    emb = spark.createDataFrame(
        [(1, [1.0, -0.5, 0.25, 0.0]), (2, [0.0, 0.0, 0.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    rows = {r.vec_id: r for r in quantize_int8(emb, "vec_id").collect()}
    r1 = rows[1]
    codes = [int(c) for c in r1.q_csv.split(",")]
    assert codes[0] == 127  # max|v| maps to exactly 127
    assert all(-127 <= c <= 127 for c in codes)
    assert r1.max_err <= r1.scale / 2 + 1e-12  # nearest-code guarantee
    # all-zero vector degrades to zero codes, not a divide-by-zero
    assert rows[2].q_csv == "0,0,0,0"


def test_quantize_int8_is_map_only(spark, sf_dir):
    from cascading_hive_spark.tables import load_table

    df = quantize_int8(load_table(spark, sf_dir, "embeddings"), "vec_id")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # narrow scan: no shuffle at any scale


# --- BPE vocabulary training ----------------------------------------
def _py_bpe(word_counts, n_merges, min_count=2):
    """Pure-Python reference BPE (greedy left-to-right merge apply,
    ties count DESC then (left, right) ASC) — ground truth."""
    vocab = {tuple(list(w) + ["</w>"]): c for w, c in word_counts.items()}
    merges = []
    for rank in range(n_merges):
        pairs = {}
        for syms, c in vocab.items():
            for i in range(len(syms) - 1):
                k = (syms[i], syms[i + 1])
                pairs[k] = pairs.get(k, 0) + c
        if not pairs:
            break
        (a, b), c = min(pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        if c < min_count:
            break
        merges.append((rank, a, b, c))
        new = {}
        for syms, cnt in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new[tuple(out)] = new.get(tuple(out), 0) + cnt
        vocab = new
    return merges


def test_bpe_train_matches_python_reference(spark):
    from cascading_hive_spark.operators.corpus import bpe_train

    corpus = {
        "low": 5, "lower": 2, "newest": 6, "widest": 3, "aaaa": 2, "aa": 4,
    }
    text = " ".join(w for w, c in corpus.items() for _ in range(c))
    docs = spark.createDataFrame([(1, text)], "id long, text string")
    got = bpe_train(docs, "text", n_merges=12)
    want = _py_bpe(corpus, 12)
    assert got == want


def test_bpe_train_canonical_sennrich_shape(spark):
    from cascading_hive_spark.operators.corpus import bpe_segment, bpe_train

    text = " ".join(["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3)
    docs = spark.createDataFrame([(1, text)], "id long, text string")
    merges = bpe_train(docs, "text", n_merges=10)
    assert merges[0][1:3] == ("e", "s") and merges[1][1:3] == ("es", "t")
    seg = bpe_segment(
        spark.createDataFrame([(1, "lowest newest")], "id long, text string"),
        "text",
        merges,
    )
    toks = [r.tokens for r in seg.collect()]
    assert ["low", "est</w>"] in toks and ["newest</w>"] in toks


def test_bpe_overlapping_merge_is_greedy_left_to_right(spark):
    from cascading_hive_spark.operators.corpus import bpe_train

    # "aaaa"x2 + "aa"x4: pair (a,a) counts 2*3 + 4*1 = 10; after the
    # first merge "aaaa"->(aa)(aa), "aa"->(aa) — greedy non-overlap
    docs = spark.createDataFrame(
        [(1, "aaaa aaaa aa aa aa aa")], "id long, text string"
    )
    merges = bpe_train(docs, "text", n_merges=2)
    assert merges[0] == (0, "a", "a", 10)
    assert merges[1][1:3] == ("aa", "aa") or merges[1][1:3] == ("aa", "</w>")


def test_bpe_handles_regex_special_tokens(spark):
    """Corpora containing $ or backslash (ADVICE r6): the merged token
    flows through regexp_replace's REPLACEMENT string, where Java
    treats $ as a group reference and backslash as an escape — both
    must round-trip literally, in training AND segmentation."""
    from cascading_hive_spark.operators.corpus import bpe_segment, bpe_train

    corpus = {"$$$$": 4, "$$": 6, "a\\b": 5, "c\\b": 3}
    text = " ".join(w for w, c in corpus.items() for _ in range(c))
    docs = spark.createDataFrame([(1, text)], "id long, text string")
    got = bpe_train(docs, "text", n_merges=8)
    want = _py_bpe(corpus, 8)
    assert got == want
    # segmentation replays the same merges on unseen text
    seg = bpe_segment(
        spark.createDataFrame([(1, "$$ a\\b")], "id long, text string"),
        "text",
        got,
    )
    toks = {tuple(r.tokens) for r in seg.collect()}
    # every output token must re-concatenate to the original word+</w>
    for t in toks:
        assert "".join(t) in ("$$</w>", "a\\b</w>")


def test_bpe_segment_doc_stream_matches_word_explode(spark):
    """bpe_segment_doc (doc-granularity transform+flatten, map-only)
    must produce exactly the concatenation of bpe_segment's per-word
    token lists in word order, and its plan must contain no shuffle
    (VERDICT r11 #2 — the tokenize-then-pack shape)."""
    from cascading_hive_spark.operators.corpus import (
        bpe_segment,
        bpe_segment_doc,
        bpe_train,
    )
    from cascading_hive_spark.plans import physical_plan

    text = " ".join(["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3)
    docs = spark.createDataFrame(
        [(1, text), (2, "lowest newest  low"), (3, "w")], "id long, text string"
    )
    merges = bpe_train(docs, "text", n_merges=6)
    got = {
        r.id: r.tokens
        for r in bpe_segment_doc(docs, "text", merges, "tokens").collect()
    }
    # reference: per-word segmentation concatenated in split order
    per_word = bpe_segment(docs, "text", merges, "wt")
    want: dict = {}
    for row in docs.collect():
        toks: list = []
        for w in row.text.split():
            m = [r.wt for r in per_word.filter(
                (F.col("id") == row.id)).collect() if "".join(r.wt).replace("</w>", "") == w]
            toks.extend(m[0])
        want[row.id] = toks
    assert got == want
    plan = physical_plan(bpe_segment_doc(docs, "text", merges, "tokens"))
    assert "Exchange" not in plan, plan


def test_bpe_quote_helpers_cover_quote_edge_cases():
    """\\E inside a token would end the \\Q quote region early; the
    helper splits and re-quotes (Pattern.quote's algorithm)."""
    from cascading_hive_spark.operators.corpus import _re_quote, _repl_quote

    assert _re_quote("ab") == "\\Qab\\E"
    assert _re_quote("a\\Eb") == "\\Qa\\E\\\\E\\Qb\\E"
    assert _repl_quote("a$1\\n") == "a\\$1\\\\n"


def test_bm25_manual(spark):
    """BM25 against a hand-computed value: 4 tiny docs, query
    {apple, pear}. doc 0 matches both terms, doc 3 matches apple
    twice in a shorter doc; scores must equal the textbook formula
    evaluated in plain Python (to the 7-decimal image)."""
    import math

    from cascading_hive_spark.operators.corpus import bm25_topk

    rows = [
        (0, "apple pear plum"),
        (1, "plum plum plum plum"),
        (2, "pear plum plum plum"),
        (3, "apple apple plum"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: (r.n_terms_matched, r.bm25) for r in
           bm25_topk(df, ["apple", "pear"], topk=10).collect()}
    n, total = 4, 3 + 4 + 4 + 3
    avgdl = total / n
    k1, b = 1.2, 0.75

    def w(tf, dfr, dl):
        idf = math.log(1.0 + (n - dfr + 0.5) / (dfr + 0.5))
        return round(idf * (tf * (k1 + 1.0)) / (tf + k1 * (1.0 - b + b * dl / avgdl)), 7)

    assert got[0] == (2, round(w(1, 2, 3) + w(1, 2, 3), 7))
    assert got[3] == (1, w(2, 2, 3))
    assert got[2] == (1, w(1, 2, 4))
    assert 1 not in got  # no query term -> not retrieved
    # ranking: doc 0 (two terms) first
    top = bm25_topk(df, ["apple", "pear"], topk=1).collect()
    assert top[0].doc_id == 0


def test_bm25_plan_is_topk_with_broadcasts(spark, sf_dir):
    """The order-by-limit must compile to TakeOrderedAndProject (no
    global sort) and the df/stats joins must be broadcasts."""
    from cascading_hive_spark.operators.corpus import bm25_topk
    from cascading_hive_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    plan = bm25_topk(docs, ["spark", "query"], topk=20)._jdf.queryExecution(
    ).executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_take_token_budget_equals_global_sort_definition(spark):
    """Randomized: the bucket decomposition must equal the direct
    global-sort running-sum definition row for row, across budgets
    that land inside, exactly on, and past bucket boundaries."""
    import random

    from pyspark.sql import Window as W

    from cascading_hive_spark.operators.corpus import take_token_budget

    rng = random.Random(7)
    rows = [
        (i, "s%d" % (i % 2), rng.randint(0, 9), rng.randint(1, 50))
        for i in range(200)
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, source string, quality long, n_tokens long"
    )
    w = (
        W.partitionBy("source")
        .orderBy(F.col("quality").desc(), F.col("doc_id"))
        .rowsBetween(W.unboundedPreceding, 0)
    )
    for budget in (0, 1, 37, 500, 800, 10_000):
        got = {
            r.doc_id
            for r in take_token_budget(df, budget, by=["source"]).collect()
        }
        want = {
            r.doc_id
            for r in df.withColumn("cum", F.sum("n_tokens").over(w))
            .filter(F.col("cum") <= budget)
            .collect()
        }
        assert got == want, (budget, got ^ want)


def test_take_token_budget_exact_bucket_boundary(spark):
    """A bucket whose cumulative total lands EXACTLY on the budget is
    taken whole, and the next bucket contributes nothing."""
    from cascading_hive_spark.operators.corpus import take_token_budget

    rows = [(1, 5, 60), (2, 5, 40), (3, 4, 1)]  # quality-5 bucket == 100
    df = spark.createDataFrame(rows, "doc_id long, quality long, n_tokens long")
    got = sorted(r.doc_id for r in take_token_budget(df, 100).collect())
    assert got == [1, 2]


def test_rrf_fuse_known_ranks(spark):
    """RRF arithmetic: a doc in both lists beats any single-list doc
    at these ranks; absent lists contribute 0; ordering breaks ties by
    id; topk cuts."""
    from cascading_hive_spark.operators.corpus import rrf_fuse

    a = spark.createDataFrame([(1, 1), (2, 2), (3, 3)], "doc_id long, r int")
    b = spark.createDataFrame([(2, 1), (4, 2)], "doc_id long, r int")
    got = rrf_fuse([a, b], topk=None).collect()
    order = [r.doc_id for r in got]
    scores = {r.doc_id: r.rrf_score for r in got}
    assert order[0] == 2  # in both lists
    assert abs(scores[2] - (round(1 / 62, 9) + round(1 / 61, 9))) < 1e-12
    assert abs(scores[1] - round(1 / 61, 9)) < 1e-12
    assert abs(scores[4] - round(1 / 62, 9)) < 1e-12
    assert order == [2, 1, 4, 3]  # fused > rank1 > rank2 > rank3
    # a genuine tie (same rank, single lists) breaks by id
    c = spark.createDataFrame([(9, 1)], "doc_id long, r int")
    d = spark.createDataFrame([(7, 1)], "doc_id long, r int")
    assert [r.doc_id for r in rrf_fuse([c, d], topk=None).collect()] == [7, 9]
    assert len(rrf_fuse([a, b], topk=2).collect()) == 2


def test_perplexity_buckets_manual_floor_and_terciles(spark):
    """CCNet-style cross-corpus scoring: the LM trains on docs 1-2
    only; doc 4's bigram (x,y) is fully unseen so its logp is the
    smoothing floor ln(1/(0+V)); buckets partition scored docs into
    head/middle/tail by NLL terciles; a <2-word doc is 'unscored'."""
    from cascading_hive_spark.operators.corpus import lm_perplexity_buckets

    docs = _docs(
        spark,
        [
            (1, "a b"), (2, "a b a c"),  # train slice
            (3, "a b"), (4, "x y"), (5, "a c"), (6, "solo"),
        ],
    )
    train = docs.filter(F.col("doc_id") <= 2)
    out = {r.doc_id: r for r in
           lm_perplexity_buckets(train, docs, "doc_id", "text").collect()}
    assert set(out) == {1, 2, 3, 4, 5, 6}
    # train counts: bigrams (a,b)x2, (b,a), (a,c); c1: a->3, b->1; V=2
    assert out[3].nll == pytest.approx(-round(math.log(3 / 5), 9), abs=1e-6)
    # unseen context AND bigram -> floor ln((0+1)/(0+2))
    assert out[4].nll == pytest.approx(-round(math.log(1 / 2), 9), abs=1e-6)
    assert out[6].bucket == "unscored" and out[6].nll is None
    assert out[6].n_bigrams == 0
    scored = [r for r in out.values() if r.bucket != "unscored"]
    buckets = {r.bucket for r in scored}
    assert buckets <= {"head", "middle", "tail"}
    # the lowest-NLL doc is head, the highest is tail
    lo = min(scored, key=lambda r: r.nll)
    hi = max(scored, key=lambda r: r.nll)
    assert lo.bucket == "head" and hi.bucket == "tail"


def test_perplexity_buckets_tercile_shares(spark, sf_dir):
    """On real documents the tercile split puts ~1/3 of scored docs in
    each bucket (exact interpolated edges; ties share a bucket)."""
    from cascading_hive_spark.operators.corpus import lm_perplexity_buckets
    from cascading_hive_spark.tables import load_table

    d = load_table(spark, sf_dir, "documents")
    train = d.filter(F.pmod(F.col("doc_id"), F.lit(10)) < 3)
    out = lm_perplexity_buckets(train, d, "doc_id", "text")
    counts = {r.bucket: r.n for r in out.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    n_scored = sum(v for k, v in counts.items() if k != "unscored")
    assert n_scored >= 400
    for b in ("head", "middle", "tail"):
        assert counts[b] >= n_scored * 0.25, counts


# --- DSIR importance resampling -------------------------------------------


def test_dsir_weights_favor_target_ngrams(spark):
    """Documents built from TARGET-corpus n-grams must outscore
    documents built from raw-only n-grams — the defining property of
    an importance log-ratio."""
    from cascading_hive_spark.operators.corpus import dsir_score, dsir_weights

    target = _docs(spark, [(i, "the quick brown fox jumps") for i in range(10)])
    raw = _docs(
        spark,
        [(i, "the quick brown fox jumps") for i in range(10)]
        + [(100 + i, "zzzz qqqq kkkk wwww vvvv") for i in range(40)],
    )
    w = dsir_weights(raw, target, "text")
    scored = dsir_score(
        _docs(
            spark,
            [(1, "quick brown fox"), (2, "zzzz qqqq kkkk")],
        ),
        "doc_id",
        "text",
        w,
    ).collect()
    by_id = {r.doc_id: r.dsir_logratio for r in scored}
    assert by_id[1] > by_id[2], by_id


def test_dsir_weights_list_agrees_with_df(spark):
    """The driver-side dense list and the distributed DataFrame leg
    are two views of the same model: observed buckets must carry the
    same 6-dp weight, and unobserved buckets the constant smoothing
    weight log((R+B)/(T+B))."""
    import math

    from cascading_hive_spark.operators.corpus import (
        dsir_bucket_counts,
        dsir_weights,
        dsir_weights_df,
    )

    target = _docs(spark, [(1, "alpha beta gamma")])
    raw = _docs(spark, [(1, "alpha beta gamma"), (2, "delta epsilon zeta")])
    w = dsir_weights(raw, target, "text")
    assert len(w) == 128
    rows = dsir_weights_df(raw, target, "text").collect()
    assert rows, "no observed buckets?"
    observed = set()
    for r in rows:
        assert w[r.bucket] == pytest.approx(r.weight, abs=1e-6), r
        observed.add(r.bucket)
    big_r = sum(r["cnt"] for r in dsir_bucket_counts(raw, "text").collect())
    big_t = sum(r["cnt"] for r in dsir_bucket_counts(target, "text").collect())
    smoothing = round(
        math.log(1 / (big_t + 128)) - math.log(1 / (big_r + 128)), 6
    )
    for b in range(128):
        if b not in observed:
            assert w[b] == pytest.approx(smoothing, abs=1e-9)


def test_dsir_gumbel_topk_deterministic_and_weight_biased(spark):
    """Same input -> same k selections (hash Gumbel, no RNG state);
    and with a huge score gap the selection must be dominated by the
    high-weight group (Gumbel noise spans ~[-2, 5], so +50 in
    log-ratio can never be beaten)."""
    from cascading_hive_spark.operators.corpus import dsir_gumbel_topk

    scored = spark.createDataFrame(
        [(i, 50.0 if i < 30 else 0.0) for i in range(100)],
        "doc_id long, dsir_logratio double",
    )
    picked1 = {r.doc_id for r in dsir_gumbel_topk(scored, "doc_id", k=20).collect()}
    picked2 = {r.doc_id for r in dsir_gumbel_topk(scored, "doc_id", k=20).collect()}
    assert picked1 == picked2
    assert len(picked1) == 20
    assert picked1 <= set(range(30)), picked1


def test_dsir_degenerate_inputs(spark):
    """Empty target corpus and NULL text must not crash: smoothing
    keeps every log argument positive, and NULL featurizes as ''
    (the classifier-featurizer contract)."""
    from cascading_hive_spark.operators.corpus import (
        dsir_score,
        dsir_weights,
        dsir_weights_df,
    )

    raw = _docs(spark, [(1, "some raw text"), (2, None)])
    empty_target = raw.filter(F.col("doc_id") < 0)
    w = dsir_weights(raw, empty_target, "text")
    assert len(w) == 128 and all(x == x for x in w)  # no NaN
    out = dsir_score(raw, "doc_id", "text", w).collect()
    assert len(out) == 2  # NULL-text row scored, not dropped
    assert dsir_weights_df(raw, empty_target, "text").count() > 0


def test_dsir_score_plan_is_map_only(spark):
    """The weight table is a plan literal: scoring must add NO
    hash-partitioning Exchange (widen=False — spread's round-robin is
    the one allowed batch Exchange, exactly like the classifier)."""
    from cascading_hive_spark.operators.corpus import dsir_score

    df = _docs(spark, [(1, "abc def"), (2, "ghi jkl")])
    plan = dsir_score(
        df, "doc_id", "text", [0.1] * 128, widen=False
    )._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan, plan


# --- corpus drift (JS divergence) ------------------------------------------


def test_js_divergence_laws(spark):
    """JS(a, a) = 0; symmetric; bounded by ln 2; and a disjoint-
    alphabet pair diverges far more than a near-identical pair."""
    import math

    from cascading_hive_spark.operators.corpus import corpus_js_divergence

    a = _docs(spark, [(i, "aaa bbb ccc ddd") for i in range(20)])
    b = _docs(spark, [(i, "xxx yyy zzz www") for i in range(20)])
    a2 = _docs(spark, [(i, "aaa bbb ccc dde") for i in range(20)])
    self_js = corpus_js_divergence(a, a, "text").first()
    assert self_js["js_divergence"] == 0.0
    assert self_js["n_grams_a"] == self_js["n_grams_b"] > 0
    ab = corpus_js_divergence(a, b, "text").first()["js_divergence"]
    ba = corpus_js_divergence(b, a, "text").first()["js_divergence"]
    near = corpus_js_divergence(a, a2, "text").first()["js_divergence"]
    assert ab == ba  # symmetric by construction
    assert 0.0 < near < ab <= math.log(2) + 1e-9, (near, ab)


def test_js_divergence_empty_side_is_null(spark):
    """An empty snapshot cannot crash the monitor (ANSI divide-by-
    zero): the divergence degrades to NULL, counts stay honest."""
    from cascading_hive_spark.operators.corpus import corpus_js_divergence

    a = _docs(spark, [(1, "some text here")])
    empty = a.filter(F.col("doc_id") < 0)
    row = corpus_js_divergence(a, empty, "text").first()
    assert row["js_divergence"] is None
    assert row["n_grams_a"] > 0 and row["n_grams_b"] == 0


def test_dedupe_lines_semantics(spark):
    """First occurrence kept, order preserved, NULL passes through,
    idempotent."""
    from cascading_hive_spark.operators.text import dedupe_lines

    df = spark.createDataFrame(
        [(1, "a\nb\na\nc\nb"), (2, None), (3, ""), (4, "x\nx\nx")],
        "id long, t string",
    )
    out = {
        r.id: (r.d, r.dd)
        for r in df.select(
            "id",
            dedupe_lines(F.col("t")).alias("d"),
            dedupe_lines(dedupe_lines(F.col("t"))).alias("dd"),
        ).collect()
    }
    assert out[1][0] == "a\nb\nc"
    assert out[2][0] is None
    assert out[3][0] == ""
    assert out[4][0] == "x"
    for i in (1, 3, 4):
        assert out[i][1] == out[i][0]  # idempotent


def test_curation_funnel_monotone(spark, sf_dir):
    """The composed funnel is monotone (each stage only removes) and
    the domain-cap stage respects the hard bound n_domains * cap."""
    from cascading_hive_spark.queries import _REGISTRY

    fn, _ = _REGISTRY["pipeline_curation_funnel"]
    row = fn(spark, sf_dir).first()
    assert (
        row.n_all
        >= row.n_gopher
        >= row.n_lang
        >= row.n_classifier
        >= row.n_domain_cap
    )
    assert row.n_gopher > 0, "stage 1 must not be degenerate"
    assert row.n_lang > 0, "keep-top-language keeps the modal language"
    # the lang gate is a real filter on this corpus (5 rotating
    # pred labels), not a pass-through
    assert row.n_lang < row.n_gopher
    # 20 sources x (doc_id % 3) = at most 60 domains, cap 4 each
    assert row.n_domain_cap <= 60 * 4


def test_blocklist_obfuscation_and_guards(spark):
    """Leet/separator obfuscation is caught ('B.4.D', 'b-a-d', 'b4d'
    all hit 'bad'); clean text and NULLs pass; empty list raises."""
    from cascading_hive_spark.operators.text import blocklist_matches

    df = spark.createDataFrame(
        [
            (1, "B.4.D and b-a-d and b4d here"),
            (2, "perfectly fine prose"),
            (3, None),
            (4, "badge"),  # substring must NOT match: token-level only
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: (r.n_blocked, r.blocked) for r in
           blocklist_matches(df, "doc_id", "text", ["bad"]).collect()}
    assert out[1] == (3, True)
    assert out[2] == (0, False)
    assert out[3] == (0, False)
    assert out[4] == (0, False)
    with pytest.raises(ValueError, match="non-empty"):
        blocklist_matches(df, "doc_id", "text", [])


def test_hash_embed_laws(spark):
    """Deterministic (equal text -> equal vector), integer-exact,
    self-similar: a document is its own nearest neighbor under
    cosine, and dim/NULL behavior holds."""
    from cascading_hive_spark.operators.similarity import cosine
    from cascading_hive_spark.operators.text import hash_embed

    df = spark.createDataFrame(
        [(1, "the quick brown fox"), (2, "the quick brown fox"),
         (3, "completely different words entirely"), (4, None)],
        "id long, t string",
    )
    out = {r.id: r.v for r in df.select(
        "id", hash_embed(F.col("t"), dim=8).alias("v")).collect()}
    assert out[1] == out[2]
    assert len(out[1]) == 8 and all(isinstance(x, int) for x in out[1])
    assert out[4] is not None  # NULL featurizes like '' (one empty gram)
    # cosine(identical) = 1; cosine(different) < 1
    sim = df.alias("a").crossJoin(df.alias("b")).filter(
        "a.id = 1 AND b.id IN (2, 3)"
    ).select(
        F.col("b.id").alias("id"),
        cosine(
            hash_embed(F.col("a.t"), dim=8).cast("array<double>"),
            hash_embed(F.col("b.t"), dim=8).cast("array<double>"),
        ).alias("c"),
    ).collect()
    sims = {r.id: r.c for r in sim}
    assert abs(sims[2] - 1.0) < 1e-12
    assert sims[3] < 1.0


def test_dedupe_lines_docs_equals_column_version(spark):
    """The Arrow O(lines) scale path and the column-expression
    version agree row-for-row, including NULLs."""
    from cascading_hive_spark.operators.text import dedupe_lines, dedupe_lines_docs

    rows = [(1, "a\nb\na\nc\nb"), (2, None), (3, ""), (4, "x\nx\nx"),
            (5, "\n".join(str(i % 7) for i in range(200)))]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    col_v = {r.doc_id: r.d for r in df.select(
        "doc_id", dedupe_lines(F.col("text")).alias("d")).collect()}
    arrow_v = {r.doc_id: r.text_dedup for r in
               dedupe_lines_docs(df, "doc_id", "text").collect()}
    assert col_v == arrow_v


def test_suppress_small_groups_semantics(spark):
    """Under-k groups fold into ONE label bucket with re-summed
    measures; at-or-over-k groups publish unchanged; every published
    non-label group has count >= k (the k-anonymity law); k<1 raises."""
    from cascading_hive_spark.operators.relational import suppress_small_groups

    agg = spark.createDataFrame(
        [("a", 10, 100), ("b", 2, 20), ("c", 3, 30), ("d", 9, 90)],
        "g string, n long, s long",
    )
    out = {r.g: (r.n, r.s) for r in
           suppress_small_groups(agg, ["g"], "n", k=5).collect()}
    assert out["a"] == (10, 100) and out["d"] == (9, 90)
    assert out["*"] == (5, 50)  # b + c folded
    assert set(out) == {"a", "d", "*"}
    for g, (n, _) in out.items():
        assert g == "*" or n >= 5
    with pytest.raises(ValueError, match="k must"):
        suppress_small_groups(agg, ["g"], "n", k=0)


def test_group_percentile_rank_midrank_law(spark):
    """pct = (2*below + ties)/(2n): singletons in a 4-row group land
    at 1/8, 3/8, 5/8, 7/8; ties share one midpoint; groups are
    independent."""
    from cascading_hive_spark.operators.relational import group_percentile_rank

    df = spark.createDataFrame(
        [("s1", 1, 10.0), ("s1", 2, 20.0), ("s1", 3, 30.0), ("s1", 4, 40.0),
         ("s2", 5, 7.0), ("s2", 6, 7.0)],
        "src string, id long, v double",
    )
    out = {r.id: r.pct_rank for r in
           group_percentile_rank(df, "src", "v").collect()}
    assert out[1] == 0.125 and out[2] == 0.375
    assert out[3] == 0.625 and out[4] == 0.875
    assert out[5] == out[6] == 0.5  # two-way tie in a 2-row group


def test_group_percentile_rank_distinct_guard(spark):
    from cascading_hive_spark.operators.relational import group_percentile_rank

    df = spark.createDataFrame(
        [("s", i, float(i)) for i in range(50)], "src string, id long, v double"
    )
    with pytest.raises(ValueError, match="distinct"):
        group_percentile_rank(df, "src", "v", max_distinct=10).collect()
    # disabled guard and bounded cardinality both pass
    assert group_percentile_rank(df, "src", "v", max_distinct=None).count() == 50
    assert group_percentile_rank(df, "src", "v", max_distinct=64).count() == 50


def test_dedupe_lines_regex_metachar_separator(spark):
    """r13 ADVICE: a separator containing regex metacharacters ('.',
    '|') must split literally — and agree with the Arrow scale path
    (dedupe_lines_docs), which always split literally."""
    from cascading_hive_spark.operators.text import dedupe_lines, dedupe_lines_docs

    df = spark.createDataFrame(
        [(1, "a.b.a.c"), (2, "x|x|y")], "doc_id long, text string"
    )
    got_dot = {r.doc_id: r.clean for r in df.select(
        "doc_id", dedupe_lines(F.col("text"), sep=".").alias("clean")
    ).collect()}
    assert got_dot[1] == "a.b.c"
    got_pipe = {r.doc_id: r.clean for r in df.select(
        "doc_id", dedupe_lines(F.col("text"), sep="|").alias("clean")
    ).collect()}
    assert got_pipe[2] == "x|y"
    arrow = {r.doc_id: r.text_dedup for r in
             dedupe_lines_docs(df, "doc_id", "text", sep=".").collect()}
    assert arrow[1] == got_dot[1]


def test_dsir_weights_flag_and_union_identical(spark, sf_dir):
    """The spread()-ed single-scan target_flag path and the two-corpus
    union path count the same grams -> identical weight lists (the
    r17 adjudication invariant, VERDICT r16 #1)."""
    from cascading_hive_spark.operators.corpus import dsir_weights
    from cascading_hive_spark.tables import load_table

    d = load_table(spark, sf_dir, "documents")
    flag = dsir_weights(d, None, "text", target_flag=F.col("lang") == "en")
    union = dsir_weights(d, d.filter(F.col("lang") == "en"), "text")
    assert flag == union
    assert len(flag) == 128


def test_dedupe_lines_properties_hypothesis(spark):
    """Properties: output lines are exactly the input's distinct lines
    in first-occurrence order (pure-Python model), and the operator is
    idempotent."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from pyspark.sql import functions as F

    from cascading_hive_spark.operators.text import dedupe_lines

    line_s = st.text(
        alphabet=st.sampled_from("ab x"), min_size=0, max_size=4
    )
    docs_s = st.lists(
        st.lists(line_s, min_size=1, max_size=8), min_size=1, max_size=6
    )

    @settings(max_examples=12, deadline=None)
    @given(docs=docs_s)
    def prop(docs):
        rows = [(i, "\n".join(ls)) for i, ls in enumerate(docs)]
        df = spark.createDataFrame(rows, "id long, t string")
        out = {
            r.id: (r.d, r.dd)
            for r in df.select(
                "id",
                dedupe_lines(F.col("t")).alias("d"),
                dedupe_lines(dedupe_lines(F.col("t"))).alias("dd"),
            ).collect()
        }
        for i, ls in enumerate(docs):
            model = list(dict.fromkeys(ls))
            assert out[i][0] == "\n".join(model), (ls, out[i][0])
            assert out[i][1] == out[i][0]

    prop()


def test_hash_embed_matches_python_model_hypothesis(spark):
    """hash_embed (portable md5 leg) equals a pure-Python hashlib
    replay of bucket/sign/accumulate on arbitrary short texts —
    the cross-engine contract, modeled outside Spark entirely."""
    import hashlib

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from pyspark.sql import functions as F

    from cascading_hive_spark.operators.text import hash_embed

    def model(text, dim=8, n=3, seed="he13|"):
        t = text or ""
        n_grams = max(len(t) - (n - 1), 1)
        vec = [0] * dim
        for i in range(n_grams):
            g = t[i : i + n]
            b = int(hashlib.md5((seed + g).encode()).hexdigest()[:8], 16) % dim
            s = int(
                hashlib.md5((seed + "s|" + g).encode()).hexdigest()[:8], 16
            ) % 2
            vec[b] += 1 if s == 0 else -1
        return vec

    texts_s = st.lists(
        st.text(alphabet=st.sampled_from("abc x.z"), min_size=0, max_size=12),
        min_size=1,
        max_size=8,
    )

    @settings(max_examples=10, deadline=None)
    @given(texts=texts_s)
    def prop(texts):
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "id long, t string"
        )
        got = {
            r.id: r.v
            for r in df.select(
                "id", hash_embed(F.col("t"), dim=8).alias("v")
            ).collect()
        }
        for i, t in enumerate(texts):
            assert got[i] == model(t), (t, got[i], model(t))

    prop()
