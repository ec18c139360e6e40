"""Streaming jobs over the events table.

``stream_events`` treats the driver's events parquet as a file-stream
source (the standard replay pattern for testing streaming topologies);
``hourly_counts`` is the watermarked windowed aggregate;
``sessionize_stream`` is custom stateful processing via
applyInPandasWithState, the streaming twin of the batch
``events_sessionize`` query.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from cascading_hive_spark.operators.exact import exact_sum

SESSION_GAP_US = 1_800_000_000  # 30 minutes, matching events_sessionize


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the events parquet. File-stream sources need an
    explicit schema; it comes, with the int64 ``ts`` divisor, from the
    batch loader's cache (tables.py), so the stream and ``load_table``
    read the same ``ts`` and a warm call runs no Spark job."""
    import os

    from ..tables import normalize_events_ts, table_schema

    path = os.path.join(sf_dir, "events.parquet")
    schema, divisor = table_schema(spark, path, events=True)
    if os.path.isdir(path):
        # Spark-written table: stream the directory's members directly
        raw = spark.readStream.schema(schema).parquet(path)
    else:
        raw = (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
        )
    return normalize_events_ts(raw, divisor)


def hourly_counts(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Watermarked tumbling-window counts per event type: the
    Structured Streaming form of the batch events_hourly query. Late
    rows beyond the watermark are dropped; state is bounded by
    (watermark / window) per key — safe for unbounded streams."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            # the exact decimal image sum (ARCHITECTURE.md "Cross-engine
            # determinism")
            F.expr(f"CAST(round({exact_sum('value', 6, 18)}, 2) AS DOUBLE) AS sum_value"),
        )
        .select(F.col("win.start").alias("hour"), "event_type", "cnt", "sum_value")
    )


_SESSION_OUT = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_sessions", T.LongType()),
        T.StructField("n_events", T.LongType()),
    ]
)
_SESSION_STATE = T.StructType(
    [
        T.StructField("last_ts_us", T.LongType()),
        T.StructField("n_sessions", T.LongType()),
        T.StructField("n_events", T.LongType()),
    ]
)


def sessionize_stream(events: DataFrame) -> DataFrame:
    """Stateful sessionization: per user, a new session starts after a
    30-minute silence. State is one (last_ts, counters) row per user —
    constant per key, shuffle-partitioned by user_id, the canonical
    applyInPandasWithState shape. Emits the running per-user totals
    each micro-batch (update mode semantics); the final batch of an
    availableNow replay therefore matches the batch events_sessionize
    aggregation exactly (asserted in tests/test_streaming.py).
    """

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            last_ts, n_sessions, n_events = state.get
        else:
            last_ts, n_sessions, n_events = -1, 0, 0
        # concatenate ALL Arrow chunks before the single sort: a user's
        # events may span chunks in arbitrary arrival order, and a
        # per-chunk sort would count phantom sessions at chunk seams
        chunks = list(pdfs)
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True).sort_values(["ts", "event_id"])
            for ts in pdf["ts"].astype("int64") // 1000:  # ns -> us
                if last_ts < 0 or ts - last_ts > SESSION_GAP_US:
                    n_sessions += 1
                last_ts = int(ts)
                n_events += 1
        state.update((last_ts, n_sessions, n_events))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_sessions": [n_sessions], "n_events": [n_events]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        fn, _SESSION_OUT, _SESSION_STATE, "update", GroupStateTimeout.NoTimeout
    )


def session_windows_stream(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """True per-session rows via Spark's NATIVE session_window: a
    session is a maximal run of a user's events with < ``gap`` silence
    between neighbors; the window end extends ``gap`` past the last
    event (Spark's closed-session semantics). State for closed
    sessions is evicted once the watermark passes — the
    bounded-state form of sessionization (``sessionize_stream`` keeps
    one permanent state row per user and emits running totals; this
    emits one row PER SESSION and forgets it).

    Append mode emits a session only after the watermark proves it
    closed; complete mode (used by the duality test) emits all.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id", F.session_window("ts", gap).alias("win"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.expr(f"CAST(round({exact_sum('value', 6, 18)}, 2) AS DOUBLE) AS sum_value"),
        )
        .select(
            "user_id",
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


def run_available_now(
    stream_df: DataFrame, query_name: str, output_mode: str | None = None
) -> DataFrame:
    """Execute a streaming DataFrame over all currently-available input
    (Trigger.AvailableNow) into an in-memory sink and return the result
    as a batch DataFrame — the standard pattern for asserting streaming
    semantics in tests."""
    if output_mode is None:
        output_mode = "update" if query_name.startswith("session") else "append"
    q = (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return stream_df.sparkSession.table(query_name)


def attribute_stream(
    events: DataFrame,
    trigger_type: str = "view",
    outcome_type: str = "purchase",
    horizon: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-STREAM join with watermark-bounded state: attribute each
    ``outcome_type`` event to the same user's ``trigger_type`` events
    in the preceding ``horizon`` (the canonical view->purchase
    attribution topology). Both sides carry watermarks and the join
    condition bounds the event-time range, so Spark can evict buffered
    rows once the watermark passes — state stays O(horizon), the
    requirement for an unbounded run.

    Batch twin: the same inner join on a static frame (asserted in
    tests/test_streaming.py — stream/batch duality).
    """
    trig = (
        events.filter(F.col("event_type") == trigger_type)
        .select(
            F.col("event_id").alias("trigger_id"),
            F.col("user_id").alias("t_user"),
            F.col("ts").alias("t_ts"),
        )
        .withWatermark("t_ts", watermark)
    )
    out = (
        events.filter(F.col("event_type") == outcome_type)
        .select(
            F.col("event_id").alias("outcome_id"),
            F.col("user_id").alias("o_user"),
            F.col("ts").alias("o_ts"),
            F.col("value"),
        )
        .withWatermark("o_ts", watermark)
    )
    cond = (
        (F.col("t_user") == F.col("o_user"))
        & (F.col("t_ts") <= F.col("o_ts"))
        & (F.col("t_ts") >= F.col("o_ts") - F.expr(f"INTERVAL {horizon}"))
    )
    return trig.join(out, cond).select(
        "outcome_id", "trigger_id", F.col("o_user").alias("user_id"), "o_ts", "t_ts", "value"
    )


def upsert_sink_available_now(
    stream_df: DataFrame,
    key_cols: list[str],
) -> DataFrame:
    """foreachBatch upsert sink: each micro-batch MERGEs into an
    in-memory target table by key (latest batch wins) — the canonical
    production pattern for streaming into a mutable table when the
    sink has no native merge. Runs with Trigger.AvailableNow and
    returns the final target as a batch DataFrame.

    The per-batch merge is the same dataflow as ``io.upsert``: union
    new rows over non-matching old rows — deterministic because
    micro-batches arrive in source order. (foreachBatch runs in an
    isolated session clone, so the target is returned as a DataFrame
    rather than registered as a view — register it in YOUR session if
    needed.)
    """
    from cascading_hive_spark.io import upsert
    from cascading_hive_spark.session import materialize

    spark = stream_df.sparkSession
    state = {"df": None}

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        # eager: the target outlives the micro-batch it was read from
        label = f"upsert_sink: batch {batch_id}"
        batch = materialize(batch_df.dropDuplicates(key_cols), label, eager=True)
        if state["df"] is None:
            state["df"] = batch
        else:
            merged = upsert(state["df"], batch, key_cols)
            state["df"] = materialize(merged, label, eager=True)

    q = (
        stream_df.writeStream.foreachBatch(merge)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = state["df"]
    if out is None:
        out = spark.createDataFrame([], stream_df.schema)
    return out


def sliding_counts(
    events: DataFrame,
    watermark: str = "2 hours",
    size: str = "2 hours",
    slide: str = "1 hour",
) -> DataFrame:
    """Watermarked HOPPING-window counts — ``hourly_counts`` with a
    slide smaller than the size, so each event lands in size/slide
    window instances (the streaming twin of the batch
    events_sliding_window_counts query). State is bounded by
    watermark/slide open windows; the value sum is an exact decimal
    image sum (ARCHITECTURE.md "Cross-engine determinism")."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", size, slide).alias("win"))
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.expr(f"CAST(round({exact_sum('value', 6, 18)}, 2) AS DOUBLE) AS sum_value"),
        )
        .select(F.col("win.start").alias("window_start"), "cnt", "sum_value")
    )


def dedup_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming exactly-once-per-id dedup: dropDuplicates keyed on
    event_id with a watermark bounding the dedup state (ids older than
    the watermark are evicted — without it state grows forever)."""
    return events.withWatermark("ts", watermark).dropDuplicates(["event_id", "ts"])


def dedup_stream_bounded(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming dedup on event_id ALONE with bounded state:
    dropDuplicatesWithinWatermark (Spark 4) evicts a key's state once
    the watermark passes its event time, so duplicates arriving within
    the watermark window are dropped WITHOUT keying state on the
    timestamp. Contrast with ``dedup_stream``: that one keys on
    (event_id, ts) — two copies of the same id with different
    timestamps both survive there (exact-row dedup); this one keeps
    only the first copy of each id seen within the watermark horizon
    (at-most-once-per-id delivery, the idempotent-consumer contract).
    """
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def enrich_stream(events: DataFrame, dim: DataFrame, key_expr: str) -> DataFrame:
    """Stream-static join: enrich the event stream against a static
    dimension table (planned as a broadcast per micro-batch — the
    streaming twin of the reference's map-join intent)."""
    from pyspark.sql import functions as FF

    return events.withColumn("__k", FF.expr(key_expr)).join(
        FF.broadcast(dim), FF.col("__k") == dim[dim.columns[0]]
    ).drop("__k")


def transform_with_state_available() -> bool:
    """Spark 4's transformWithStateInPandas drives its state protocol
    over protobuf; this container ships pyspark 4.1 WITHOUT the
    python `protobuf` package, so the API exists but its driver
    worker crashes importing StateMessage_pb2. Gate, don't guess."""
    try:
        import google.protobuf  # noqa: F401

        return True
    except ImportError:
        return False


def totals_stream_tws(events: DataFrame) -> DataFrame:
    """Per-user running (count, max) via Spark 4's transformWithState
    StatefulProcessor API — the successor to applyInPandasWithState
    (jobs.sessionize_stream keeps the classic shape): typed ValueState
    per key, Update output, RocksDB state store. Raises RuntimeError
    where the protobuf dependency is missing (see
    transform_with_state_available) rather than crashing the stream's
    driver worker mid-query.

    Stream/batch duality: the final availableNow replay row per user
    equals ``events.groupBy(user_id).agg(count(*), max(value))``.
    """
    if not transform_with_state_available():
        raise RuntimeError(
            "transformWithStateInPandas needs the python 'protobuf' package; "
            "not installed in this environment (use sessionize_stream's "
            "applyInPandasWithState path instead)"
        )
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

    class Totals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState("totals", "n LONG, mx DOUBLE")

        def handleInputRows(self, key, rows, timer_values):
            prev = self._state.get()
            n, mx = (prev[0], prev[1]) if prev else (0, float("-inf"))
            for pdf in rows:
                n += len(pdf)
                mx = max(mx, float(pdf["value"].max()))
            self._state.update((n, mx))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "max_value": [mx]}
            )

        def close(self) -> None:
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=Totals(),
        outputStructType="user_id long, n_events long, max_value double",
        outputMode="Update",
        timeMode="None",
    )


_HH_STATE = "keys ARRAY<STRING>, cnts ARRAY<LONG>, n LONG"
_HH_OUT = "shard INT, key STRING, est LONG, n_shard LONG"


def heavy_hitters_stream(
    events: DataFrame,
    key_expr: str = "concat_ws('|', user_id, event_type)",
    phi: float = 0.01,
    n_shards: int = 8,
) -> DataFrame:
    """Streaming Misra-Gries heavy hitters — the unbounded-stream twin
    of operators/sketches.heavy_hitters: which keys exceed ``phi`` of
    all traffic, with state FIXED at k = ceil(1/phi) counters per
    shard no matter how many distinct keys flow past (a plain
    streaming groupBy.count grows state with the key domain —
    unbounded on a crawl/event firehose).

    Keys are sharded by hash (all occurrences of a key land in ONE
    shard, so the per-shard pigeonhole bound applies: any key with
    global count > phi*n has shard count > phi*n >= phi*n_shard and
    survives its shard's sketch — the union of shard candidate sets
    is a SUPERSET of the true hitters, the same guarantee as the
    batch pass 1). Each trigger emits every shard's current
    candidates (key, est, n_shard) in update mode; ``est``
    undercounts by at most n_shard/k (Misra-Gries bound). Downstream
    either thresholds on est + n_shard/k (no false negatives) or runs
    the batch exact recount over candidate keys, exactly like pass 2.

    State per shard is three columns (keys array, counts array, row
    total) — metadata-sized, RocksDB/HDFS-friendly. Shard count
    spreads the sketch work; it does not affect the guarantee.
    """
    from cascading_hive_spark.operators.sketches import _mg_merge

    if not 0.0 < phi < 1.0:
        raise ValueError(f"phi must be in (0, 1), got {phi}")
    k = int(1.0 / phi) + 1

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            ks, cs, n = state.get
            counters = dict(zip(list(ks), [int(c) for c in cs]))
        else:
            counters, n = {}, 0
        for pdf in pdfs:
            n += len(pdf)
            add = pdf.groupby("_key", sort=False, dropna=False).size().to_dict()
            counters = _mg_merge(
                counters,
                {(None if pd.isna(kk) else kk): v for kk, v in add.items()},
                k,
            )
        state.update(
            (list(counters.keys()), [int(v) for v in counters.values()], int(n))
        )
        yield pd.DataFrame(
            {
                "shard": [key[0]] * len(counters),
                "key": list(counters.keys()),
                "est": [int(v) for v in counters.values()],
                "n_shard": [int(n)] * len(counters),
            }
        )

    keyed = events.selectExpr(f"CAST(({key_expr}) AS STRING) AS _key").select(
        F.pmod(F.xxhash64("_key"), F.lit(n_shards)).cast("int").alias("shard"),
        "_key",
    )
    return keyed.groupBy("shard").applyInPandasWithState(
        fn, _HH_OUT, _HH_STATE, "update", GroupStateTimeout.NoTimeout
    )


def histogram_stream(
    events: DataFrame,
    value_col: str = "value",
    lo: float = 0.0,
    hi: float = 1000.0,
    bins: int = 128,
) -> DataFrame:
    """Streaming fixed-grid histogram — the unbounded-stream form of
    sketches.histogram_quantile_merge's merge stage: every micro-batch
    folds its rows into <= ``bins`` counters TOTAL (complete-mode
    aggregate keyed on the bin id), so state is O(bins) regardless of
    stream length — the strongest state bound in this module (even
    MG heavy hitters keeps candidates per partition). A stream cannot
    run a bounds pass, so the grid is FIXED up front (the standard
    streaming-sketch trade); out-of-range values clamp into the edge
    bins. Feed the drained table to sketches.quantile_from_histogram
    for the estimates; with AvailableNow the result equals the batch
    fixed-grid histogram exactly (deterministic counts — the duality
    oracle, like streaming_hourly_counts).
    """
    v = F.col(value_col).cast("double")
    width = (hi - lo) / float(bins)
    bin_expr = F.greatest(
        F.lit(0),
        F.least(F.lit(bins - 1), F.floor((v - F.lit(lo)) / F.lit(width)).cast("int")),
    ).cast("int")
    return events.groupBy(bin_expr.alias("bin")).agg(F.count(F.lit(1)).alias("c"))


def scaled_state_partitions(
    spark: SparkSession,
    sf_dir: str,
    table: str = "events.parquet",
    rows_per_part: int = 250_000,
) -> int:
    """State-store partition count for a STATEFUL streaming job,
    derived from the replay source's row count instead of inherited
    from ``spark.sql.shuffle.partitions`` (guide §2.2: partitioning
    must scale with the data, not with a constant tuned for either
    mode). Every stateful operator instantiates one state store per
    shuffle partition PER MICRO-BATCH — a stream-stream join keeps
    four — so a bounded replay of a small table paid 32x4x2 store
    lifecycles for kilobytes of state (measured: the attribution
    replay dropped 7.1s -> 2.9s at sf0.1 going 32 -> 8 partitions,
    rows identical; watermark eviction and emitted rows are
    partitioning-independent). At warehouse scale the same formula
    saturates ``defaultParallelism``."""
    import math
    import os

    from ..tables import _footer_probe_path

    try:
        import pyarrow.parquet as pq

        n_rows = pq.read_metadata(
            _footer_probe_path(os.path.join(sf_dir, table))
        ).num_rows
    except Exception:
        return spark.sparkContext.defaultParallelism
    return max(
        1,
        min(
            spark.sparkContext.defaultParallelism,
            math.ceil(n_rows / rows_per_part),
        ),
    )


class state_partitions:
    """Context manager: pin ``spark.sql.shuffle.partitions`` (which
    fixes the state-store count of any stream started inside) and
    restore it afterwards. The stream must be fully consumed
    (awaitTermination) inside the block."""

    def __init__(self, spark: SparkSession, n: int):
        self._spark, self._n = spark, n

    def __enter__(self):
        self._old = self._spark.conf.get("spark.sql.shuffle.partitions")
        self._spark.conf.set("spark.sql.shuffle.partitions", str(self._n))
        return self

    def __exit__(self, *exc):
        self._spark.conf.set("spark.sql.shuffle.partitions", self._old)
        return False


def stream_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the documents parquet — the file-stream replay
    source for text-pipeline streaming (the stream_events pattern;
    file-stream sources need an explicit schema, probed from the
    static footer)."""
    import os

    path = os.path.join(sf_dir, "documents.parquet")
    schema = spark.read.parquet(path).schema
    if os.path.isdir(path):
        # Spark-written table: stream the directory's members directly
        return spark.readStream.schema(schema).parquet(path)
    return (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )


def quality_filter_stream(
    docs: DataFrame, weights: list[float], bias: float
) -> DataFrame:
    """The learned quality filter on a document STREAM: scoring is a
    stateless narrow projection (the weight table is a plan literal),
    so the exact batch expression chain runs unchanged under
    Structured Streaming — no watermark, no state store, output rows
    identical to the batch scorer on the same input (oracle-shared
    with text_quality_classifier). This is the shape of an
    ingest-time quality gate: score-as-it-lands, route on
    quality_pass."""
    from cascading_hive_spark.operators.text import quality_classifier_score

    return quality_classifier_score(
        docs, "doc_id", "text", weights, bias, widen=False
    )


def blocklist_gate_stream(docs: DataFrame, terms: list[str]) -> DataFrame:
    """The safety blocklist on a document STREAM: the term array is a
    plan literal and the normalization chain is pure column
    expressions, so the exact batch scan runs unchanged under
    Structured Streaming — stateless, no watermark, no state store;
    output rows identical to the batch scanner on the same input
    (oracle-shared with text_blocklist_scan). This is the ingest-time
    safety gate: flag-as-it-lands, route on ``blocked``."""
    from cascading_hive_spark.operators.text import blocklist_matches

    return blocklist_matches(docs, "doc_id", "text", terms)


def lang_gate_stream(docs: DataFrame, models: dict) -> DataFrame:
    """The learned lang-id on a document STREAM: all language weight
    tables are plan literals riding ONE stateless fold
    (text.lang_id_scores, widen=False — spread's inputFiles probe is
    a batch concept), so the exact batch expression chain runs
    unchanged under Structured Streaming — no watermark, no state
    store; output rows identical to the batch scorer on the same
    input (oracle-shared with text_lang_id_learned). This is the
    ingest-time language router: predict-as-it-lands, fan out by
    pred_lang."""
    from cascading_hive_spark.operators.text import lang_id_scores

    return lang_id_scores(docs, "doc_id", "text", models, widen=False)


def bloom_gate_stream(
    docs: DataFrame, filter_words: list, m_bits: int, k: int = 3
) -> DataFrame:
    """Bloom decontamination on a document STREAM: the filter rides
    the plan as a literal (sketches.bloom_contains — the small-filter
    leg; a benchmark gram set is bounded by the benchmark) and the
    5-gram scan is pure column expressions, so the exact batch chain
    runs unchanged under Structured Streaming — stateless, no
    watermark, no state store; streamed rows equal the batch query's
    (oracle-shared with docs_bloom_decontaminate). This is the
    ingest-time contamination gate: an arriving document that shares
    a benchmark 5-gram never reaches the training corpus."""
    from cascading_hive_spark.operators.sketches import bloom_contains

    toks = F.split(F.col("text"), " ")
    grams = F.when(
        F.size(toks) >= 5,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 4),
            lambda p: F.array_join(F.slice(toks, p, 5), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    flagged = F.filter(
        grams, lambda g: bloom_contains(g, filter_words, m_bits, k)
    )
    return docs.select(
        "doc_id",
        F.size(grams).cast("bigint").alias("n_grams"),
        F.size(flagged).cast("bigint").alias("n_flagged"),
        (F.size(flagged) > 0).alias("contaminated"),
    )


def bloom_gate_stream_bigfilter(
    docs: DataFrame, words: list, m_bits: int, k: int = 3
) -> DataFrame:
    """Bloom decontamination on a document STREAM against a LARGE
    filter (the megabit regime where bloom_gate_stream's plan-literal
    leg churns Catalyst and a broadcast-join probe would need an
    explode + stateful re-aggregate): the filter rides an
    Arrow-batched pandas probe's closure as a numpy array
    (sketches.bloom_flag_grams_pandas — one task-resident ~m_bits/8-
    byte copy), the 5-gram scan stays pure column expressions, and
    the gate stays STATELESS — no watermark, no state store, no
    shuffle. Streamed rows equal the batch broadcast-leg query's
    (oracle shared with docs_bloom_decontaminate_bcast)."""
    from cascading_hive_spark.operators.sketches import (
        bloom_flag_grams_pandas,
    )

    toks = F.split(F.col("text"), " ")
    grams = F.when(
        F.size(toks) >= 5,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 4),
            lambda p: F.array_join(F.slice(toks, p, 5), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    flag = bloom_flag_grams_pandas(words, m_bits, k)
    return docs.select("doc_id", grams.alias("_grams")).select(
        "doc_id",
        F.size("_grams").cast("bigint").alias("n_grams"),
        flag(F.col("_grams")).alias("n_flagged"),
    ).withColumn("contaminated", F.col("n_flagged") > 0)
