"""Streaming semantics: availableNow replay of the events table must
reproduce the batch query results (stream/batch duality)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cascading_hive_spark import queries as Q
from cascading_hive_spark.streaming import hourly_counts, sessionize_stream, stream_events
from cascading_hive_spark.streaming.jobs import run_available_now


@pytest.fixture(scope="module")
def events_stream(spark, sf_dir):
    df = stream_events(spark, sf_dir)
    assert df.isStreaming
    return df


def test_hourly_counts_matches_batch(spark, sf_dir, events_stream):
    got = run_available_now(hourly_counts(events_stream), "hourly_test")
    batch = Q.queries()["events_hourly"](spark, sf_dir)
    g = {(r.hour, r.event_type): (r.cnt, r.sum_value) for r in got.collect()}
    b = {(r.hour, r.event_type): (r.cnt, r.sum_value) for r in batch.collect()}
    # watermark may hold back the final windows in append mode until
    # no more data arrives; availableNow flushes everything, so the
    # emitted windows must agree exactly with batch
    assert g.keys() <= b.keys()
    assert len(g) >= 0.9 * len(b)
    for k, v in g.items():
        assert b[k] == v


def test_sessionize_stream_matches_batch(spark, sf_dir, events_stream):
    got = run_available_now(sessionize_stream(events_stream), "session_test")
    batch = Q.queries()["events_sessionize"](spark, sf_dir)
    # update-mode memory sink keeps every emission; the last one per
    # user is the final state
    final = (
        got.groupBy("user_id")
        .agg(F.max("n_sessions").alias("n_sessions"), F.max("n_events").alias("n_events"))
        .collect()
    )
    g = {r.user_id: (r.n_sessions, r.n_events) for r in final}
    b = {r.user_id: (r.n_sessions, r.n_events) for r in batch.collect()}
    assert g == b


def test_session_windows_stream_matches_batch_gaps_islands(spark, sf_dir, events_stream):
    """Native session_window streaming vs an INDEPENDENT batch
    formulation (gaps-and-islands over lag): same sessions, bounds,
    counts and sums. Session semantics: same session iff the gap to
    the previous event is < 30 min (Spark merges while the new event
    falls inside the open [start, last+gap) window); session_end =
    last event + gap."""
    from pyspark.sql import Window

    from cascading_hive_spark.streaming.jobs import run_available_now, session_windows_stream
    from cascading_hive_spark.tables import load_table

    got = run_available_now(
        session_windows_stream(events_stream), "swin_test", output_mode="complete"
    )
    g = {
        (r.user_id, r.session_start, r.session_end, r.n_events, r.sum_value)
        for r in got.collect()
    }

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros("ts")
    gap_us = 30 * 60 * 1_000_000
    flagged = ev.select(
        "user_id",
        "ts",
        "value",
        F.when(F.lag("ts").over(w).isNull(), 1)
        .when(us - F.lag(us).over(w) >= gap_us, 1)
        .otherwise(0)
        .alias("ns"),
        F.col("event_id"),
    )
    cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    numbered = flagged.select(
        "user_id", "ts", "value", F.sum("ns").over(cum).alias("sid")
    )
    truth = (
        numbered.groupBy("user_id", "sid")
        .agg(
            F.min("ts").alias("session_start"),
            (F.max("ts") + F.expr("INTERVAL 30 MINUTES")).alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )
    b = {
        (r.user_id, r.session_start, r.session_end, r.n_events, r.sum_value)
        for r in truth.collect()
    }
    assert g == b


def test_dedup_stream_drops_replayed_ids(spark, sf_dir, events_stream):
    from cascading_hive_spark.streaming.jobs import dedup_stream, run_available_now

    # the source has unique event_ids; a dedup pass must be lossless
    got = run_available_now(
        dedup_stream(events_stream).select("event_id"), "dedup_stream_test"
    )
    from cascading_hive_spark.tables import load_table

    n_src = load_table(spark, sf_dir, "events").count()
    assert got.count() == n_src
    assert got.distinct().count() == n_src


def test_enrich_stream_static_join(spark, sf_dir, events_stream):
    from cascading_hive_spark.streaming.jobs import enrich_stream, run_available_now
    from cascading_hive_spark.tables import load_table

    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    out = run_available_now(
        enrich_stream(events_stream, nation, "CAST(user_id % 25 AS INT)").select(
            "event_id", "n_name"
        ),
        "enrich_stream_test",
    )
    n_src = load_table(spark, sf_dir, "events").count()
    assert out.count() == n_src
    assert out.filter(F.col("n_name").isNull()).count() == 0


def test_attribute_stream_stream_join_matches_batch(spark, sf_dir, events_stream):
    """Stream-stream watermarked join vs the same join on the static
    table: every attribution pair emitted must match batch, and the
    emitted set must be (nearly) complete after an availableNow
    replay."""
    from cascading_hive_spark.streaming.jobs import attribute_stream, run_available_now
    from cascading_hive_spark.tables import load_table

    got = run_available_now(
        attribute_stream(events_stream), "attr_test", output_mode="append"
    )
    g = {(r.outcome_id, r.trigger_id) for r in got.collect()}

    ev = load_table(spark, sf_dir, "events")
    trig = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("trigger_id"), F.col("user_id").alias("t_user"),
        F.col("ts").alias("t_ts"),
    )
    out = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("outcome_id"), F.col("user_id").alias("o_user"),
        F.col("ts").alias("o_ts"),
    )
    batch = trig.join(
        out,
        (F.col("t_user") == F.col("o_user"))
        & (F.col("t_ts") <= F.col("o_ts"))
        & (F.col("t_ts") >= F.col("o_ts") - F.expr("INTERVAL 1 HOUR")),
    )
    b = {(r.outcome_id, r.trigger_id) for r in batch.collect()}
    assert g <= b  # nothing spurious
    assert len(g) >= 0.9 * len(b)  # watermark may hold back only the tail
    assert len(b) > 0


def test_upsert_sink_stream_latest_wins(spark, sf_dir, events_stream):
    """foreachBatch upsert sink: final table has one row per user with
    a complete replay's totals — equal to the batch last-event-per-user
    aggregation."""
    from pyspark.sql import Window

    from cascading_hive_spark.streaming.jobs import upsert_sink_available_now
    from cascading_hive_spark.tables import load_table

    per_user = events_stream.select("user_id", "ts", "event_id").withWatermark(
        "ts", "1 hour"
    )
    final = upsert_sink_available_now(per_user, ["user_id"])
    # availableNow on one parquet file = one batch; latest-wins dedup
    # keeps ONE arbitrary row per user — verify keys, not payloads
    assert final.count() == final.select("user_id").distinct().count()
    ev = load_table(spark, sf_dir, "events")
    assert final.count() == ev.select("user_id").distinct().count()


def test_sessionize_chunk_order_independent(spark, tmp_path):
    """Events spanning multiple Arrow chunks in NON-time order must
    still sessionize correctly: the gap scan concatenates and sorts
    all chunks per group instead of trusting per-chunk order."""
    import pandas as pd

    from cascading_hive_spark.streaming.jobs import sessionize_stream

    # one user, 40 events alternating early/late half-hours so any
    # per-chunk scan over tiny chunks miscounts the 30-min-gap sessions
    base = pd.Timestamp("2024-01-01 00:00:00")
    rows = []
    for i in range(40):
        # interleave two sessions' worth of timestamps out of order
        ts = base + pd.Timedelta(hours=(i % 2) * 3, minutes=i // 2)
        rows.append((i, ts, 1, "click", 1.0, "{}"))
    pdf = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    src = str(tmp_path / "events")
    spark.createDataFrame(pdf).write.parquet(src)

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "3")
    try:
        stream = (
            spark.readStream.schema(
                "event_id long, ts timestamp, user_id long, event_type string, "
                "value double, props string"
            ).parquet(src)
        )
        got = run_available_now(sessionize_stream(stream), "session_chunk_test")
        row = got.collect()[-1]
        # ground truth: 2 sessions (00:00-00:19 and 03:00-03:19)
        assert (row.n_sessions, row.n_events) == (2, 40)
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)


def test_transform_with_state_gated_on_protobuf(spark, sf_dir):
    """The Spark-4 transformWithState path: runs end-to-end where
    protobuf exists; raises the documented RuntimeError (instead of
    crashing the streaming driver worker) where it does not."""
    import pytest

    from cascading_hive_spark.streaming.jobs import (
        run_available_now,
        stream_events,
        totals_stream_tws,
        transform_with_state_available,
    )

    if not transform_with_state_available():
        with pytest.raises(RuntimeError, match="protobuf"):
            totals_stream_tws(stream_events(spark, sf_dir))
        return
    from pyspark.sql import functions as F

    from cascading_hive_spark.tables import load_table

    out = run_available_now(
        totals_stream_tws(stream_events(spark, sf_dir)), "tws_totals", "update"
    )
    final = {r.user_id: (r.n_events, r.max_value) for r in out.collect()}
    batch = {
        r.user_id: (r.n, r.mx)
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.max("value").alias("mx"))
        .collect()
    }
    assert final == batch


def test_checkpoint_resume_is_exactly_once(spark, tmp_path):
    """Restartability: two availableNow runs over a growing source
    with the SAME checkpointLocation must process every input file
    exactly once — the second run picks up only the new file, and the
    sink holds no duplicates. This is the property that makes a
    failed/restarted 100 TB ingestion safe to re-run."""
    import os

    from pyspark.sql import functions as F

    src, sink, ckpt = (str(tmp_path / d) for d in ("src", "sink", "ckpt"))
    os.makedirs(src)
    half1 = spark.range(0, 500).select(F.col("id").alias("event_id"))
    half1.coalesce(1).write.mode("append").parquet(src)

    def run_once():
        stream = (
            spark.readStream.schema("event_id long")
            .parquet(src)
            .withColumn("doubled", F.col("event_id") * 2)
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    assert spark.read.parquet(sink).count() == 500

    half2 = spark.range(500, 1000).select(F.col("id").alias("event_id"))
    half2.coalesce(1).write.mode("append").parquet(src)
    run_once()  # same checkpoint: must NOT reprocess the first file

    out = spark.read.parquet(sink)
    assert out.count() == 1000  # no duplicates
    assert out.select("event_id").distinct().count() == 1000
    assert out.filter(F.col("doubled") != F.col("event_id") * 2).count() == 0


def test_session_window_merges_exact_gap_boundary(spark):
    """Pins the session-merge rule both session_window oracles depend
    on (probed in r8): an event arriving at EXACTLY the gap duration
    after the previous one still merges into the session; a
    microsecond beyond starts a new one. If a Spark upgrade flips
    this, the oracles' strictly-greater flag must flip with it."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [
            (1, "2024-01-01 10:00:00"),
            (1, "2024-01-01 10:30:00"),          # exactly the 30-min gap
            (1, "2024-01-01 11:00:00.000001"),   # 1 us beyond the gap
        ],
        "u int, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = sorted(
        (r["session_window"]["start"].isoformat(), r["count"])
        for r in df.groupBy(F.session_window("ts", "30 minutes"), "u")
        .count()
        .collect()
    )
    assert out == [("2024-01-01T10:00:00", 2), ("2024-01-01T11:00:00.000001", 1)]


def test_heavy_hitters_stream_superset_and_bounded_state(spark, sf_dir):
    """Streaming Misra-Gries: after an availableNow replay of the
    events table, (1) every EXACT heavy hitter (count > phi * n) is in
    the emitted candidate set — the per-shard pigeonhole superset
    guarantee; (2) no shard ever emits more than k = ceil(1/phi)
    candidates — the bounded-state contract; (3) every estimate
    undercounts its true count by at most n_shard/k."""
    from pyspark.sql import functions as F

    from cascading_hive_spark.streaming.jobs import (
        heavy_hitters_stream,
        run_available_now,
        stream_events,
    )
    from cascading_hive_spark.tables import load_table

    phi = 0.02
    out = run_available_now(
        heavy_hitters_stream(stream_events(spark, sf_dir), phi=phi),
        "hh_stream_test",
        "update",
    )
    rows = out.collect()
    k = int(1 / phi) + 1
    per_shard = {}
    candidates = set()
    for r in rows:
        per_shard.setdefault(r.shard, []).append(r)
        candidates.add(r.key)
    for shard, rs in per_shard.items():
        assert len(rs) <= k, (shard, len(rs))

    ev = load_table(spark, sf_dir, "events")
    total = ev.count()
    exact = {
        r.key: r.cnt
        for r in ev.selectExpr(
            "concat_ws('|', user_id, event_type) AS key"
        )
        .groupBy("key")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") > phi * total)
        .collect()
    }
    assert exact, "test needs at least one true hitter at this phi"
    missing = set(exact) - candidates
    assert not missing, missing
    # undercount bound per emitted candidate
    true_cnt = {
        r.key: r.cnt
        for r in ev.selectExpr("concat_ws('|', user_id, event_type) AS key")
        .groupBy("key")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    for r in rows:
        if r.key in true_cnt:
            assert r.est <= true_cnt[r.key]
            assert true_cnt[r.key] - r.est <= r.n_shard / k + 1


def test_dedup_stream_bounded_drops_same_id_different_ts(spark, tmp_path):
    """dropDuplicatesWithinWatermark keys on event_id alone: a
    duplicate id with a DIFFERENT timestamp inside the watermark
    window is dropped (dedup_stream's (id, ts) key would keep it)."""
    import pandas as pd

    from cascading_hive_spark.streaming.jobs import (
        dedup_stream,
        dedup_stream_bounded,
        run_available_now,
    )

    base = pd.Timestamp("2024-01-01 00:00:00")
    rows = [
        (1, base, 7, "click", 1.0, "{}"),
        (1, base + pd.Timedelta(minutes=5), 7, "click", 1.0, "{}"),  # same id
        (2, base + pd.Timedelta(minutes=1), 8, "view", 2.0, "{}"),
    ]
    pdf = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    src = str(tmp_path / "events_dupe")
    spark.createDataFrame(pdf).write.parquet(src)
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    stream = spark.readStream.schema(schema).parquet(src)
    got = run_available_now(
        dedup_stream_bounded(stream), "dedup_bounded_test", "append"
    )
    assert sorted(r.event_id for r in got.collect()) == [1, 2]
    stream2 = spark.readStream.schema(schema).parquet(src)
    exact = run_available_now(dedup_stream(stream2), "dedup_exact_test", "append")
    assert len(exact.collect()) == 3  # (id, ts) key keeps both copies of id 1


def test_histogram_stream_matches_batch_grid(spark, sf_dir):
    """Streaming fixed-grid histogram drained with AvailableNow equals
    the batch fixed-grid histogram exactly (deterministic counts), and
    state is O(bins): the drained table has <= 128 rows."""
    from cascading_hive_spark.operators.sketches import quantile_from_histogram
    from cascading_hive_spark.streaming.jobs import histogram_stream, run_available_now, stream_events
    from cascading_hive_spark.tables import load_table

    stream = histogram_stream(stream_events(spark, sf_dir), lo=0.0, hi=1000.0)
    got = run_available_now(stream, "t_hist_stream", output_mode="complete")
    rows = {r.bin: r.c for r in got.collect()}
    assert len(rows) <= 128
    ev = load_table(spark, sf_dir, "events")
    batch = histogram_stream(ev, lo=0.0, hi=1000.0)  # same expr on a batch DF
    want = {r.bin: r.c for r in batch.collect()}
    assert rows == want
    est = quantile_from_histogram(got, lo=0.0, hi=1000.0).collect()[0]
    assert est.n == ev.count()
    assert 0.0 < est.q500 < est.q950 < est.q990 <= 1000.0


def test_streaming_quality_filter_equals_batch(spark, sf_dir):
    """Stateless learned-filter scoring: the streamed rows must equal
    the batch scorer's EXACTLY (same ids, margins, verdicts) — the
    shared-expression-chain duality is the whole point of running the
    quality gate at ingest time."""
    from pyspark.sql import functions as F

    from cascading_hive_spark.operators.text import quality_classifier_score
    from cascading_hive_spark.queries import _QC_BIAS_V1, _QC_WEIGHTS_V1
    from cascading_hive_spark.streaming.jobs import (
        quality_filter_stream,
        run_available_now,
        stream_documents,
    )
    from cascading_hive_spark.tables import load_table

    stream = quality_filter_stream(
        stream_documents(spark, sf_dir), _QC_WEIGHTS_V1, _QC_BIAS_V1
    )
    assert stream.isStreaming
    got = {
        r.doc_id: (r.n_grams, r.margin, r.quality_pass)
        for r in run_available_now(stream, "qc_filter_stream").collect()
    }
    batch = {
        r.doc_id: (r.n_grams, r.margin, r.quality_pass)
        for r in quality_classifier_score(
            load_table(spark, sf_dir, "documents"),
            "doc_id", "text", _QC_WEIGHTS_V1, _QC_BIAS_V1,
        ).collect()
    }
    assert got == batch
    assert len(got) == 500


def test_streaming_blocklist_gate_equals_batch(spark, sf_dir):
    """The streamed blocklist rows equal the batch scanner's rows
    exactly — the stateless-gate contract (streaming_quality_filter's
    law, for the safety gate)."""
    import uuid

    from cascading_hive_spark.operators.text import blocklist_matches
    from cascading_hive_spark.streaming.jobs import (
        blocklist_gate_stream,
        stream_documents,
    )
    from cascading_hive_spark.tables import load_table

    terms = ["join", "hash", "scan"]
    name = f"t_bl_gate_{uuid.uuid4().hex[:8]}"
    q = (
        blocklist_gate_stream(stream_documents(spark, sf_dir), terms)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    streamed = {
        (r.doc_id, r.n_blocked, r.blocked) for r in spark.table(name).collect()
    }
    batch = {
        (r.doc_id, r.n_blocked, r.blocked)
        for r in blocklist_matches(
            load_table(spark, sf_dir, "documents"), "doc_id", "text", terms
        ).collect()
    }
    assert streamed == batch and len(streamed) == 500


def test_streaming_lang_gate_equals_batch(spark, sf_dir):
    """The streamed lang-id rows equal the batch scorer's rows exactly
    — the stateless-gate contract for the language router (all five
    weight tables are plan literals in one fold; no state store)."""
    import uuid

    from cascading_hive_spark.operators.text import lang_id_scores
    from cascading_hive_spark.queries import _LID_MODELS_V1
    from cascading_hive_spark.streaming.jobs import (
        lang_gate_stream,
        stream_documents,
    )
    from cascading_hive_spark.tables import load_table

    name = f"t_lid_gate_{uuid.uuid4().hex[:8]}"
    q = (
        lang_gate_stream(stream_documents(spark, sf_dir), _LID_MODELS_V1)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    streamed = {
        (r.doc_id, r.n_grams, r.pred_lang, r.margin)
        for r in spark.table(name).collect()
    }
    batch = {
        (r.doc_id, r.n_grams, r.pred_lang, r.margin)
        for r in lang_id_scores(
            load_table(spark, sf_dir, "documents"),
            "doc_id", "text", _LID_MODELS_V1, widen=False,
        ).collect()
    }
    assert streamed == batch and len(streamed) == 500


def test_streaming_bloom_gate_equals_batch(spark, sf_dir):
    """The streamed Bloom contamination rows equal the batch query's
    exactly — the stateless-gate contract for the decontamination
    filter (plan-literal filter, no state store)."""
    import uuid

    from cascading_hive_spark.operators.sketches import (
        bloom_build,
        bloom_dense_words,
    )
    from cascading_hive_spark.queries import _REGISTRY
    from cascading_hive_spark.streaming.jobs import (
        bloom_gate_stream,
        stream_documents,
    )
    from cascading_hive_spark.tables import load_table

    M_BITS, K = 131_072, 3
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    grams = F.when(
        F.size(toks) >= 5,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 4),
            lambda p: F.array_join(F.slice(toks, p, 5), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    bench = docs.filter(F.pmod(F.col("doc_id"), F.lit(17)) == 0).select(
        F.explode(grams).alias("g")
    )
    words = bloom_dense_words(bloom_build(bench, "g", M_BITS, K), M_BITS)
    name = f"t_bloom_gate_{uuid.uuid4().hex[:8]}"
    q = (
        bloom_gate_stream(stream_documents(spark, sf_dir), words, M_BITS, K)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    streamed = {
        (r.doc_id, r.n_grams, r.n_flagged, r.contaminated)
        for r in spark.table(name).collect()
    }
    batch = {
        (r.doc_id, r.n_grams, r.n_flagged, r.contaminated)
        for r in _REGISTRY["docs_bloom_decontaminate"][0](spark, sf_dir).collect()
    }
    assert streamed == batch and len(streamed) == 500


def test_scaled_state_partitions_formula(spark, sf_dir):
    """State-store count derives from the replay source's row count,
    clamped to [1, defaultParallelism]."""
    from cascading_hive_spark.streaming.jobs import scaled_state_partitions

    # sf0.001 events: 1000 rows -> ceil(1000/250k) = 1
    assert scaled_state_partitions(spark, sf_dir) == 1
    # small rows_per_part pushes toward the core clamp
    dp = spark.sparkContext.defaultParallelism
    assert scaled_state_partitions(spark, sf_dir, rows_per_part=1) == dp


def test_state_partitions_context_restores(spark):
    from cascading_hive_spark.streaming.jobs import state_partitions

    before = spark.conf.get("spark.sql.shuffle.partitions")
    with state_partitions(spark, 3):
        assert spark.conf.get("spark.sql.shuffle.partitions") == "3"
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
