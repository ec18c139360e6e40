"""r13 property tests: exact midrank AUC (relational.binary_auc)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cascading_hive_spark.operators.relational import binary_auc


def _df(spark, rows):
    return spark.createDataFrame(rows, "score double, y int")


def test_auc_perfect_reversed_and_tied(spark):
    # perfect separation -> 1.0; reversed -> 0.0; constant score -> 0.5
    perfect = _df(spark, [(float(i), int(i >= 5)) for i in range(10)])
    assert binary_auc(perfect, "score", "y").first().auc == 1.0
    reverse = _df(spark, [(float(-i), int(i >= 5)) for i in range(10)])
    assert binary_auc(reverse, "score", "y").first().auc == 0.0
    tied = _df(spark, [(1.0, i % 2) for i in range(10)])
    assert binary_auc(tied, "score", "y").first().auc == 0.5


def test_auc_matches_pure_python_midrank(spark):
    """Differential against a plain-Python midrank Mann-Whitney on a
    deterministic mixed-tie dataset."""
    rows = [
        (round(((i * 37) % 11) / 7.0, 3), int(((i * 53) % 13) < 6))
        for i in range(200)
    ]
    got = binary_auc(_df(spark, rows), "score", "y").first()

    # pure-python midrank AUC (micro-image, like the operator)
    micro = [(round(s * 1_000_000), y) for s, y in rows]
    from collections import Counter

    by_s: dict = {}
    for s, y in micro:
        np_b, nn_b = by_s.get(s, (0, 0))
        by_s[s] = (np_b + y, nn_b + (1 - y))
    cum = 0
    rank_sum2 = 0
    n_pos = n_neg = 0
    for s in sorted(by_s):
        np_b, nn_b = by_s[s]
        rank_sum2 += np_b * (2 * cum + np_b + nn_b + 1)
        cum += np_b + nn_b
        n_pos += np_b
        n_neg += nn_b
    want = (rank_sum2 - n_pos * (n_pos + 1)) / (2.0 * n_pos * n_neg)
    assert got.auc == round(want, 6) + 0.0
    assert (got.n_pos, got.n_neg, got.n_null) == (n_pos, n_neg, 0)
    assert Counter(y for _, y in rows)[1] == n_pos


def test_auc_excludes_nulls_and_counts_them(spark):
    rows = [(1.0, 1), (0.0, 0), (None, 1), (2.0, None)]
    df = spark.createDataFrame(rows, "score double, y int")
    got = binary_auc(df, "score", "y").first()
    assert got.n_null == 2
    assert (got.n_pos, got.n_neg) == (1, 1)
    assert got.auc == 1.0


def test_auc_degenerate_inputs_yield_null_not_crash(spark):
    """AUC is undefined without both classes: single-class and empty
    inputs must return NULL auc with audit counts — not an ANSI
    DIVIDE_BY_ZERO (the bug this test pinned)."""
    one_class = _df(spark, [(1.0, 1), (2.0, 1)])
    row = binary_auc(one_class, "score", "y").first()
    assert row.auc is None and (row.n_pos, row.n_neg) == (2, 0)
    empty = spark.createDataFrame([], "score double, y int")
    row = binary_auc(empty, "score", "y").first()
    assert row.auc is None and (row.n_pos, row.n_neg, row.n_null) == (0, 0, 0)


def test_auc_corpus_never_sorts_globally(spark, sf_dir):
    """The corpus pass is a map-side-combined groupBy; the cumulative
    midrank uses the two-phase prefix (window PARTITIONED by the
    order-preserving score bucket + a global offset window over the
    tiny per-bucket totals) — no corpus- or counts-sized single-
    partition sort in the plan."""
    from cascading_hive_spark.tables import load_table

    d = load_table(spark, sf_dir, "documents").select(
        (F.col("n_chars") / 100.0).alias("score"),
        (F.col("doc_id") % 2).cast("int").alias("y"),
    )
    out = binary_auc(d, "score", "y")
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the counts-table cumulative window is hash-partitioned by _bk
    assert "hashpartitioning(_bk" in plan, plan
    assert "HashAggregate" in plan
    assert out.first().auc is not None


def test_binary_auc_checkpoint_single_upstream_execution(spark):
    """binary_auc's thin projection is a lineage cut: the (expensive)
    upstream scorer must evaluate once per row, not once per
    consumer. Counted with an accumulator through a Python UDF."""
    from pyspark.sql.types import DoubleType

    from cascading_hive_spark.operators.relational import binary_auc

    acc = spark.sparkContext.accumulator(0)

    def scored(x: float) -> float:
        acc.add(1)
        return x

    udf = F.udf(scored, DoubleType())
    df = spark.range(100).select(
        udf((F.col("id") % 7).cast("double")).alias("score"),
        (F.col("id") % 2).alias("y"),
    )
    out = binary_auc(df, "score", "y").collect()
    assert len(out) == 1
    # one evaluation per row (the pre-r17 shape ran the scorer once
    # per consumer: >= 200)
    assert acc.value == 100


def test_mp4_timing_roundtrip_hypothesis():
    """Pure-Python property: random run-length stts tables, wrapped in
    randomly-noised ISO-BMFF containers (junk sibling boxes, optional
    largesize moov), round-trip through parse_mp4_frame_runs exactly.
    No Spark needed — this is the byte-walk contract."""
    import struct

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from cascading_hive_spark.operators.multimodal import parse_mp4_frame_runs

    def box(tag: bytes, body: bytes, largesize=False) -> bytes:
        if largesize:
            return struct.pack(">I", 1) + tag + struct.pack(">Q", 16 + len(body)) + body
        return struct.pack(">I", 8 + len(body)) + tag + body

    runs_s = st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2**31 - 1),
            st.integers(min_value=0, max_value=2**31 - 1),
        ),
        min_size=0,
        max_size=8,
    )

    @settings(max_examples=60, deadline=None)
    @given(
        runs=runs_s,
        timescale=st.integers(min_value=1, max_value=2**31 - 1),
        junk=st.binary(min_size=0, max_size=12),
        largesize=st.booleans(),
        mdhd_version=st.sampled_from([0, 1]),
    )
    def check(runs, timescale, junk, largesize, mdhd_version):
        stts_body = bytes([0, 0, 0, 0]) + struct.pack(">I", len(runs))
        for c, d in runs:
            stts_body += struct.pack(">II", c, d)
        if mdhd_version == 1:
            mdhd = box(
                b"mdhd",
                bytes([1, 0, 0, 0])
                + struct.pack(">QQIQ", 0, 0, timescale, 0)
                + b"\x00" * 4,
            )
        else:
            mdhd = box(
                b"mdhd",
                bytes([0, 0, 0, 0])
                + struct.pack(">IIII", 0, 0, timescale, 0)
                + b"\x00" * 4,
            )
        noise = box(b"free", junk)
        mdia = box(b"mdia", noise + mdhd + box(b"minf", box(b"stbl", noise + box(b"stts", stts_body))))
        moov = box(b"moov", noise + box(b"trak", mdia), largesize=largesize)
        blob = box(b"ftyp", b"isom\x00\x00\x00\x00") + noise + moov
        got_ts, got_runs = parse_mp4_frame_runs(blob)
        assert got_ts == timescale
        assert got_runs == list(runs)
        # and a truncated tail never raises (totality under corruption)
        for cut in (len(blob) - 1, len(blob) // 2, 7, 0):
            parse_mp4_frame_runs(blob[:cut])

    check()


def test_cap_per_key_equals_naive_hypothesis(spark):
    """Property (r13 continuation): on arbitrary (id, key) multisets
    and caps, the two-phase prefix selection equals the naive
    QUALIFY row_number() OVER (PARTITION BY key ORDER BY md5, id)
    definition as a SET — the prefix/boundary/bucket plumbing must
    never change WHICH rows survive."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from cascading_hive_spark.operators.sampling import cap_per_key

    rows_s = st.lists(
        st.tuples(
            st.integers(min_value=-(2**40), max_value=2**40),
            st.sampled_from(["a", "b", "c", "hot"]),
        ),
        min_size=1,
        max_size=60,
        unique_by=lambda t: t[0],
    )

    @settings(max_examples=12, deadline=None)
    @given(rows=rows_s, cap=st.integers(min_value=1, max_value=7))
    def prop(rows, cap):
        df = spark.createDataFrame(rows, "id long, domain string")
        h = F.md5(F.concat(F.lit("0|"), F.col("id").cast("string")))
        w = Window.partitionBy("domain").orderBy(h, F.col("id"))
        naive = {
            (r.id, r.domain)
            for r in df.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= cap)
            .select("id", "domain")
            .collect()
        }
        got = {
            (r.id, r.domain)
            for r in cap_per_key(df, "domain", "id", cap=cap).collect()
        }
        assert got == naive

    prop()


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


def test_wav_pcm_roundtrip_hypothesis():
    """Pure-Python property: arbitrary int16 sample lists, wrapped in
    RIFF containers with random junk chunks and optional odd-byte
    tails, decode back exactly through wav_pcm_samples."""
    import struct

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from cascading_hive_spark.operators.multimodal import wav_pcm_samples

    samples_s = st.lists(
        st.integers(min_value=-32768, max_value=32767), min_size=0, max_size=64
    )

    @settings(max_examples=80, deadline=None)
    @given(
        samples=samples_s,
        junk=st.binary(min_size=0, max_size=9),
        junk_first=st.booleans(),
        dangle=st.booleans(),
    )
    def prop(samples, junk, junk_first, dangle):
        body = b"".join(struct.pack("<h", s) for s in samples)
        fmt = struct.pack("<HHIIHH", 1, 1, 16000, 32000, 2, 16)
        fmt_chunk = b"fmt " + struct.pack("<I", len(fmt)) + fmt
        junk_chunk = b"JUNK" + struct.pack("<I", len(junk)) + junk
        if len(junk) % 2:
            junk_chunk += b"\x00"  # RIFF word alignment
        data_chunk = b"data" + struct.pack("<I", len(body)) + body
        chunks = (
            junk_chunk + fmt_chunk + data_chunk
            if junk_first
            else fmt_chunk + junk_chunk + data_chunk
        )
        b = b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks
        if dangle:
            b += b"\x07"  # trailing half-sample noise after all chunks
        assert wav_pcm_samples(b) == samples

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
