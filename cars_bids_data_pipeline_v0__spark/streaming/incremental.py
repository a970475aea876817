"""Structured Streaming incremental pipeline (SURVEY §2.10).

The reference is event-driven micro-batching: S3 put → Step Functions → one
Lambda run per file (trigger_statemachine_lambda/main.py:12-21).  The Spark
analogue is a file streaming source with ``trigger(availableNow=True)``:
each arriving raw file becomes part of a micro-batch, ``foreachBatch``
applies the SAME silver transform used in batch mode, and the merge sink
gives the reference's update-wins-by-recency semantics (D1 inside M5).
Checkpointing replaces the Step Functions execution log: exactly-once per
file, resumable.

Late/updated data: a re-arriving ``auction_id`` wins if its
``auction_date`` is newer — unbounded keyed state in pure-streaming terms,
which the reference also accepts (transform_lambda/main.py:378-386); the
merge sink keeps that state in the table itself instead of executor memory.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def silver_ingest_stream(
    spark: SparkSession,
    raw_dir: str,
    lake_path: str,
    checkpoint_dir: str,
    rescrape_path: str | None = None,
):
    """Raw-JSON directory → silver lake, incrementally.

    One ``foreachBatch`` per micro-batch runs the shared batch plan
    (`plans.silver.transform_records`) and the S5 merge — path A and the
    streaming path share one implementation, the engine's fix for the
    reference's copy-paste divergence (SURVEY §3.3).
    Returns the started query (``availableNow`` — drains pending files then
    stops).
    """
    from ..plans.silver import transform_records
    from ..sources.sinks import merge_write_partitioned, write_text_queue

    raw = spark.readStream.option("wholetext", True).text(raw_dir)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        session = batch_df.sparkSession
        parsed = batch_df.select(
            F.try_parse_json(F.col("value")).alias("v")
        ).filter(F.col("v").isNotNull())
        view = f"__stream_raw_{batch_id}"
        parsed.createOrReplaceTempView(view)
        records = session.sql(
            f"SELECT ve.key AS url_key, ve.value AS rec "
            f"FROM {view}, LATERAL variant_explode(v) AS ve"
        )
        silver, rescrape = transform_records(records)
        merge_write_partitioned(session, silver, lake_path)
        if rescrape_path is not None:
            write_text_queue(rescrape, f"{rescrape_path}/batch={batch_id}")

    return (
        raw.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


#: fallback layout for a not-yet-populated events_dir — the NANOS-as-long
#: vintage, matching the generator's current output (ts convert below
#: handles it; a MICROS dir that starts empty should pass ``schema``).
_EVENTS_FALLBACK_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.LongType()),  # nanos-as-long
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def stream_events(spark: SparkSession, events_dir: str,
                  schema: T.StructType | None = None) -> DataFrame:
    """File stream over event parquet, mirroring the batch loader's layout
    handling (sources/ingest.read_table): streams need an explicit schema,
    so infer it from a one-footer batch read of the directory instead of
    hard-coding a layout — the corpus has shipped ``ts`` both as
    TIMESTAMP(NANOS) (read as long under nanosAsLong) and as plain
    TIMESTAMP(MICROS); forcing LongType on a µs file silently yields
    µs-as-long and a 1000× time-scale error.

    ONE layout per directory is assumed: inference samples one footer, so
    a directory mixing both ``ts`` vintages would mis-read (or fail on)
    files of the non-sampled layout — keep vintages in separate dirs, or
    pass ``schema`` explicitly.  An EMPTY directory (stream started before
    any producer wrote files — the normal streaming bootstrap) falls back
    to the NANOS-as-long layout above; a MISSING directory still raises,
    from Spark's file-stream source itself, schema or not.

    The returned ``ts`` is TIMESTAMP (not the batch loader's
    timestamp_ntz) — intentional divergence: watermarks and window()
    require TIMESTAMP.  The session TZ is pinned to UTC here (as
    read_table does) so the values are numerically identical either way.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if schema is None:
        try:
            schema = spark.read.parquet(events_dir).schema
        except AnalysisException:
            # dir missing or empty — standard pattern: the stream starts
            # before the first producer write
            schema = _EVENTS_FALLBACK_SCHEMA
    df = spark.readStream.schema(schema).parquet(events_dir)
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":  # nanos-as-long → µs, same truncation as DuckDB
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def hourly_event_windows_stream(
    events: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """Watermarked tumbling-window aggregation — the streaming twin of batch
    query q40 (same expressions, same output schema).  The watermark bounds
    state: windows older than max(event time) − watermark are finalized and
    evicted; later-than-watermark events are dropped (the reference has no
    such bound — its per-day files keep state implicitly bounded)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type", "n_events", "total_value",
        )
    )


def enrich_stream(
    events: DataFrame,
    dim: DataFrame,
    stream_key: str,
    dim_key: str,
    how: str = "left",
) -> DataFrame:
    """Stream-static join: every micro-batch joins against the static
    dimension snapshot (re-read per batch for file sources, broadcast when
    small — the hot-path enrichment shape).  No watermark needed: only the
    stream side is unbounded."""
    return events.join(
        F.broadcast(dim), events[stream_key] == dim[dim_key], how
    )


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    watermark: str = "1 hour",
    max_lag: str = "30 minutes",
) -> DataFrame:
    """Watermarked stream-stream inner join: match right-side events to
    left-side events on ``key`` arriving within ``(left_ts, left_ts +
    max_lag]`` (attribution / funnel shape: click → purchase).

    Both sides carry a watermark and the join has a two-sided event-time
    bound, so Spark can evict buffered state: a left row is held only
    until ``watermark + max_lag`` past its event time — state stays
    proportional to the lag window, never to the stream length.  Without
    BOTH the watermarks and the time-range predicate, a stream-stream
    join is unbounded and will OOM at scale — this function makes the
    bound impossible to forget.
    """
    lw = left.withWatermark(left_ts, watermark)
    rw = right.withWatermark(right_ts, watermark)
    lcol, rcol = lw[left_ts], rw[right_ts]
    cond = (
        (lw[key] == rw[key])
        & (rcol > lcol)
        & (rcol <= lcol + F.expr(f"INTERVAL {max_lag}"))
    )
    return lw.join(rw, cond, "inner")


def corpus_dedup_stream(
    spark: SparkSession,
    docs_dir: str,
    out_path: str,
    fingerprint_store: str,
    checkpoint_dir: str,
    schema: T.StructType | None = None,
):
    """Incremental exact dedup: the streaming face of
    ``plans.corpus.preprocess_corpus``'s exact stage.

    Each micro-batch is deduped within itself (keep min ``doc_id``), then
    anti-joined against the persistent fingerprint store — a document whose
    normalized text has EVER been seen is dropped.  Survivors append to the
    output table and their fingerprints to the store, so the state lives in
    a table (unbounded-safe, shared with batch jobs) instead of executor
    memory — the same choice the merge sink makes for D1 state.

    At scale the store is the big side: the anti-join shuffles only the
    micro-batch's fingerprints (AQE broadcasts the batch side when small),
    and a Delta/iceberg store would add compaction; parquet-append is the
    container-friendly stand-in.

    Exactly-once across failures: both outputs land under a
    ``batch_id=<id>`` partition directory in OVERWRITE mode, so a
    checkpoint replay of a half-written batch overwrites its own
    partitions instead of appending duplicates (the two writes are not
    atomic together, but each is idempotent per batch).  The replayed
    batch excludes its own ``batch_id`` partition from the seen-store
    anti-join — otherwise the first attempt's fingerprints would dedupe
    the replay against itself and the docs overwrite would come up
    empty.  On Delta/Iceberg this is a single transactional MERGE.
    """
    import os

    from ..operators.dedup_docs import dedup_exact
    from ..operators.text import fingerprint_md5

    schema = schema or T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    stream = spark.readStream.schema(schema).json(docs_dir)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        session = batch_df.sparkSession
        batch = dedup_exact(batch_df).withColumn(
            "fingerprint", fingerprint_md5("text")
        )
        if os.path.exists(fingerprint_store):
            try:
                seen = session.read.parquet(fingerprint_store)
            except AnalysisException:  # store dir exists but holds no data
                seen = None
            if seen is not None:
                if "batch_id" in seen.columns:  # partition-pruned exclusion
                    seen = seen.filter(F.col("batch_id") != batch_id)
                batch = batch.join(
                    seen.select("fingerprint"),
                    on="fingerprint",
                    how="left_anti",
                )
        batch = batch.persist()
        batch.drop("fingerprint").write.mode("overwrite").parquet(
            f"{out_path}/batch_id={batch_id}"
        )
        batch.select("fingerprint").write.mode("overwrite").parquet(
            f"{fingerprint_store}/batch_id={batch_id}"
        )
        batch.unpersist()

    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


# output schema for stateful_latest_per_key
_LATEST_SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType()),
        T.StructField("latest_ts", T.TimestampType()),
        T.StructField("latest_value", T.DoubleType()),
        T.StructField("n_seen", T.LongType()),
    ]
)
_STATE_SCHEMA = T.StructType(
    [
        T.StructField("latest_ts", T.TimestampType()),
        T.StructField("latest_value", T.DoubleType()),
        T.StructField("n_seen", T.LongType()),
    ]
)


def stateful_latest_per_key(
    events: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: running
    keep-latest per key across micro-batches — the D1 semantic as true
    streaming state (update-wins-by-recency, plus a seen-counter).

    This is the engine's pattern slot for operators Spark lacks built-in:
    per-key arbitrary state with timeout control, Arrow-batched.
    """
    sel = events.select(
        F.col(key_col).cast("string").alias("key"),
        F.col(ts_col).cast("timestamp").alias("ts"),
        F.col(value_col).cast("double").alias("value"),
    )

    def update(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            latest_ts, latest_value, n_seen = state.get
        else:
            latest_ts, latest_value, n_seen = None, None, 0
        for pdf in pdfs:
            n_seen += len(pdf)
            idx = pdf["ts"].idxmax()
            if latest_ts is None or pdf["ts"][idx] >= pd.Timestamp(latest_ts):
                latest_ts = pdf["ts"][idx]
                latest_value = float(pdf["value"][idx])
        state.update((latest_ts, latest_value, n_seen))
        yield pd.DataFrame(
            {
                "key": [key[0]],
                "latest_ts": [latest_ts],
                "latest_value": [latest_value],
                "n_seen": [n_seen],
            }
        )

    return sel.groupBy("key").applyInPandasWithState(
        update,
        outputStructType=_LATEST_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def scd2_dim_stream(
    spark: SparkSession,
    events_dir: str,
    dim_path: str,
    checkpoint_dir: str,
    key: str = "user_id",
    tracked: str = "event_type",
    order_col: str = "ts",
    tie_col: str = "event_id",
):
    """Continuously-maintained SCD2 dimension: each micro-batch of updates
    merges into the history table via ``operators.scd2.scd2_apply`` —
    work per batch is proportional to the batch plus the history of the
    keys it touches, never the full dimension.

    The dimension lives in a table (parquet here; MERGE-capable format in
    production) rather than stream state, so batch jobs and ad-hoc
    queries read the same current/history rows the stream maintains —
    the same state-in-a-table choice as ``corpus_dedup_stream``.
    """
    import os

    from ..operators.scd2 import scd2_apply, scd2_snapshot

    events = stream_events(spark, events_dir)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        session = batch_df.sparkSession
        updates = batch_df.select(key, tracked, order_col, tie_col)
        if os.path.exists(dim_path):
            current = session.read.parquet(dim_path)
            merged = scd2_apply(
                current, updates, key, tracked, order_col, tie_col
            )
        else:
            merged = scd2_snapshot(
                updates, key, tracked, order_col, tie_col, keep_tie=True
            )
        # parquet has no MERGE: stage the new snapshot, then swap.  On a
        # transactional format this is a single MERGE INTO.
        staged = merged.persist()
        staged.count()
        staged.write.mode("overwrite").parquet(dim_path + "._staged")
        session.read.parquet(dim_path + "._staged").write.mode(
            "overwrite"
        ).parquet(dim_path)
        staged.unpersist()

    return (
        events.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def dedup_stream_within_watermark(
    events: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """At-least-once → effectively-once: drop duplicate keys arriving
    within the watermark horizon (``dropDuplicatesWithinWatermark``).

    The plain streaming ``dropDuplicates`` keeps EVERY key ever seen —
    unbounded state.  The within-watermark variant evicts a key's state
    once the watermark passes it, so state is bounded by the horizon's
    key arrival rate: the right tool when duplicates come from retries /
    redelivery (seconds apart), not from genuine re-appearance (for that,
    use the fingerprint-store pattern of ``corpus_dedup_stream``)."""
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        keys
    )


def matview_stream(
    spark: SparkSession,
    source_dir: str,
    partials_store: str,
    checkpoint_dir: str,
    keys: list[str],
    measures: dict[str, tuple[str, ...]],
    schema: T.StructType,
):
    """Streaming materialized view: each micro-batch folds into mergeable
    count/sum/min/max partials (operators/matview.py) written under a
    ``batch_id=<id>`` partition — delta-sized work per batch; history is
    never re-scanned.

    Exactly-once across checkpoint replays: a replayed batch OVERWRITES
    its own ``batch_id`` partition instead of double-counting (same
    contract as corpus_dedup_stream).  The store accumulates one partial
    set per batch; :func:`read_matview` merges on read, and
    :func:`compact_matview_store` folds old batches into one when the
    partial count grows — the parquet stand-in for what a Delta MERGE
    would do transactionally.
    """
    from ..operators.matview import matview_partials

    stream = spark.readStream.schema(schema).json(source_dir)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        matview_partials(batch_df, keys, measures).write.mode(
            "overwrite"
        ).parquet(f"{partials_store}/batch_id={batch_id}")

    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


_COMPACT_MARKER = "_compacted_through"


def _compacted_through(partials_store: str) -> int:
    import os

    marker = os.path.join(partials_store, _COMPACT_MARKER)
    if os.path.exists(marker):
        with open(marker) as f:
            return int(f.read().strip())
    return -1


def read_matview(
    spark: SparkSession,
    partials_store: str,
    avg_of: list[str] | None = None,
) -> DataFrame:
    """Merge-on-read face of a :func:`matview_stream` store: one grouped
    fold over |groups|·|batches| partial rows (never the raw data).

    Batches at or below the compaction fence are excluded — they are
    already folded into the ``batch_id=-1`` partition, and a checkpoint
    replay may lawfully re-write one of them (see
    :func:`compact_matview_store`)."""
    from ..operators.matview import matview_compact, matview_finalize

    fence = _compacted_through(partials_store)
    parts = spark.read.parquet(partials_store)
    parts = parts.filter(
        (F.col("batch_id") == -1) | (F.col("batch_id") > fence)
    ).drop("batch_id")
    return matview_finalize(matview_compact(parts), avg_of=avg_of)


def compact_matview_store(spark: SparkSession, partials_store: str) -> None:
    """Fold every per-batch partial set into a single ``batch_id=-1``
    partition, bounding merge-on-read cost; safe to run between stream
    triggers.  Distributed write to a temp path + directory swap (the
    GoldStore.overwrite pattern) — group cardinality is unbounded, so
    nothing is collected to the driver.

    Replay safety: a batch whose partials landed but whose checkpoint
    commit didn't will be REPLAYED by the restarted stream after its
    partition was folded in here — without a fence it would then count
    twice.  Compaction therefore records the highest real batch_id it
    folded (``_compacted_through``); :func:`read_matview` ignores any
    ``batch_id`` ≤ that fence, so the replayed partition is inert."""
    import os
    import shutil

    from ..operators.matview import matview_compact

    prior_fence = _compacted_through(partials_store)
    hi = spark.read.parquet(partials_store).agg(
        F.max("batch_id").alias("hi")
    ).collect()[0]["hi"]
    fence = prior_fence if hi is None else max(prior_fence, int(hi))

    tmp = partials_store.rstrip("/") + ".__compact__"
    parts = spark.read.parquet(partials_store)
    matview_compact(
        parts.filter(
            (F.col("batch_id") == -1) | (F.col("batch_id") > prior_fence)
        ).drop("batch_id")
    ).write.mode("overwrite").parquet(f"{tmp}/batch_id=-1")
    with open(os.path.join(tmp, _COMPACT_MARKER), "w") as f:
        f.write(str(fence))
    shutil.rmtree(partials_store)
    os.rename(tmp, partials_store)


def session_windows_stream(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked streaming session windows — the streaming twin of
    batch q42 (same ``session_window`` expression, same output schema).

    Sessions close when no event arrives within ``gap``; the watermark
    bounds state (an open session is finalized once event time passes
    its end + watermark) and drops later stragglers — without it,
    per-user session state grows with the stream.  Use with
    ``outputMode("append")``: only FINALIZED sessions emit.
    """
    return (
        events.filter(F.col("user_id").isNotNull())
        .withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


# output schema for running_stats_stream (transformWithState API)
_RUNNING_SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType()),
        T.StructField("n_seen", T.LongType()),
        T.StructField("total", T.DoubleType()),
        T.StructField("peak", T.DoubleType()),
    ]
)


def running_stats_stream(
    events: DataFrame,
    key_col: str = "event_type",
    value_col: str = "value",
) -> DataFrame:
    """Per-key running count/sum/max via ``transformWithStateInPandas`` —
    the Spark 4 arbitrary-state API (successor to
    ``applyInPandasWithState``): typed state handles, RocksDB-backed
    state store, Arrow-batched input.

    Each micro-batch emits the UPDATED running stats for every key it
    touched; state persists across batches through the checkpoint.
    Requires the RocksDB state store provider (set by the caller's
    session or the writeStream conf) and a working ``google.protobuf``
    (the transformWithState driver worker speaks protobuf to the JVM
    state server; environments without it should use
    :func:`stateful_latest_per_key`'s ``applyInPandasWithState`` shape
    instead — the test for this operator skips when protobuf is absent).
    """
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    sel = events.select(
        F.col(key_col).cast("string").alias("key"),
        F.col(value_col).cast("double").alias("value"),
    )
    state_schema = T.StructType(
        [
            T.StructField("n", T.LongType()),
            T.StructField("s", T.DoubleType()),
            T.StructField("mx", T.DoubleType()),
        ]
    )

    class RunningStats(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._agg = handle.getValueState("agg", state_schema)

        def handleInputRows(self, key, rows, timerValues):
            if self._agg.exists():
                n, s, mx = self._agg.get()
            else:
                n, s, mx = 0, 0.0, None
            for pdf in rows:
                # n_seen counts the same rows total/peak aggregate over
                # (non-null values) — a consumer computing total/n_seen
                # must never divide by null-padded counts
                vals = pdf["value"].dropna()
                n += len(vals)
                if len(vals):
                    s += float(vals.sum())
                    batch_max = float(vals.max())
                    mx = batch_max if mx is None else max(mx, batch_max)
            self._agg.update((n, s, mx))
            yield pd.DataFrame(
                {"key": [key[0]], "n_seen": [n], "total": [s], "peak": [mx]}
            )

        def close(self) -> None:
            pass

    return sel.groupBy("key").transformWithStateInPandas(
        statefulProcessor=RunningStats(),
        outputStructType=_RUNNING_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )


_ZSCORE_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("zscore", T.DoubleType()),
    ]
)

#: ring buffer of the last ≤5 readings per key (oldest→newest)
_ZSCORE_STATE_SCHEMA = T.StructType(
    [T.StructField("window_vals", T.ArrayType(T.DoubleType()))]
)


def stateful_zscore_stream(
    events: DataFrame,
    frame: int = 5,
    min_prior: int = 3,
    threshold: float = 2.5,
) -> DataFrame:
    """Streaming twin of batch q144 (rolling z-score anomaly detection):
    per-user state holds only the last ``frame`` readings; each arriving
    event is scored against the PRIOR window (never itself — the same
    self-excluding frame the batch query pins), then pushed into the ring
    buffer.  Emits only anomalies (|z| > threshold with ≥ min_prior
    priors), so the output stream is a tiny alert feed regardless of input
    volume.

    State is O(frame) doubles per key — the bounded-state design that
    keeps a 1000-executor deployment's state store constant-size per user
    no matter how long the stream runs.  Events are scored in (ts,
    event_id) order within each micro-batch; cross-batch order is the
    arrival order, as for any stateful stream without a watermark sort.
    """
    sel = events.select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("event_id").cast("long").alias("event_id"),
        F.col("ts").cast("timestamp").alias("ts"),
        F.col("value").cast("double").alias("value"),
    )

    def update(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        import decimal
        import math

        def round_half_up(x: float, scale: int = 4) -> float:
            # match F.round (HALF_UP over the shortest decimal rendering)
            # exactly — Python's round() is half-even and would break the
            # claimed bit-parity with the batch twin q144 on .00005 ties
            return float(
                decimal.Decimal(repr(x)).quantize(
                    decimal.Decimal(1).scaleb(-scale),
                    rounding=decimal.ROUND_HALF_UP,
                )
            )

        vals: list[float] = list(state.get[0]) if state.exists else []
        out_ids, out_z = [], []
        for pdf in pdfs:
            for row in pdf.sort_values(["ts", "event_id"]).itertuples():
                n = len(vals)
                if n >= min_prior:
                    mu = sum(vals) / n
                    var = sum((v - mu) ** 2 for v in vals) / (n - 1)
                    sigma = math.sqrt(var)
                    if sigma > 1e-12:
                        z = (row.value - mu) / sigma
                        if abs(z) > threshold:
                            out_ids.append(row.event_id)
                            out_z.append(round_half_up(z))
                vals.append(float(row.value))
                if len(vals) > frame:
                    vals.pop(0)
        state.update((vals,))
        if out_ids:
            yield pd.DataFrame(
                {
                    "user_id": [key[0]] * len(out_ids),
                    "event_id": out_ids,
                    "zscore": out_z,
                }
            )

    return sel.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=_ZSCORE_OUT_SCHEMA,
        stateStructType=_ZSCORE_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def corpus_ingest_stream(
    spark: SparkSession,
    docs_dir: str,
    table_path: str,
    checkpoint_dir: str,
    min_tokens: int = 5,
    min_alpha_ratio: float = 0.5,
    max_stopword_ratio: float = 0.7,
    near_dup_threshold: float = 0.8,
    stream_id: str = "corpus-ingest",
    export_manifest: bool = True,
    schema: T.StructType | None = None,
    log_retention_checkpoints: int | None = None,
):
    """Steady-state streaming corpus ingestion — the round-4 capstone
    composing the pieces a production training-data loop runs forever:

    every micro-batch is (1) quality-gated and deduped WITHIN the batch
    (``plans.corpus.preprocess_corpus``: q59 gate, exact min-id survivor,
    AND within-batch near-dup collapse at ``near_dup_threshold`` — two
    near-identical crawls of one page arriving together must not both
    land), (2) deduped AGAINST the accumulated corpus with
    :func:`operators.dedup_docs.dedup_incoming` — exact fingerprint plus
    near-dup anti-joins whose index join only ever pairs incoming ×
    corpus rows, never corpus × corpus — and (3) appended to the ACID
    commit-log table under an idempotence fence; finally the open-format
    symlink manifest is refreshed from the committed log so parquet-only
    consumers continuously track the corpus.

    The fence app id is ``stream_id`` scoped by an EPOCH marker stored
    inside the checkpoint directory: a restart from the SAME checkpoint
    keeps the epoch, so a crash-replay of a committed batch is a no-op —
    while a LOST/recreated checkpoint (whose batch ids restart at 0 and
    whose first batch re-delivers every file PLUS anything new) gets a
    fresh epoch and is NOT falsely fenced; content-level dedup then drops
    everything already ingested and only genuinely new documents commit
    (an all-dup re-delivery commits nothing at all).  Without the epoch
    scoping, a ``(stream_id, 0)`` token from the old checkpoint would
    silently swallow new files riding in the re-delivered batch 0 — the
    Delta ``txnAppId`` caveat.

    Dedup is against the snapshot observed at batch start: concurrent
    writers to the same table keep full commit atomicity (optimistic
    retry), but near-dups landing in a commit between this batch's read
    and its commit are not re-checked — run one ingest stream per corpus
    and reconcile backfills with the batch :func:`dedup_incoming`.
    """
    from ..operators.dedup_docs import dedup_incoming
    from ..plans.corpus import preprocess_corpus
    from ..sources.txlog import (
        CommitProposal,
        TransactionLog,
        checkpoint_epoch_app_id,
        tx_export_symlink_manifest,
        tx_read,
    )

    app_id = checkpoint_epoch_app_id(stream_id, checkpoint_dir)

    schema = schema or T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    stream = spark.readStream.schema(schema).json(docs_dir)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        session = batch_df.sparkSession
        log = TransactionLog(table_path)
        try:
            if log.txn_seen(app_id, int(batch_id)):
                return  # same-checkpoint replay of a committed batch
            fresh = preprocess_corpus(
                batch_df,
                min_tokens=min_tokens,
                min_alpha_ratio=min_alpha_ratio,
                max_stopword_ratio=max_stopword_ratio,
                near_dup_threshold=near_dup_threshold,
            )
            corpus = tx_read(session, table_path)
            if corpus is not None:
                fresh = dedup_incoming(
                    fresh,
                    corpus.select("doc_id", "text"),
                    threshold=near_dup_threshold,
                )
            fresh = fresh.persist()  # retries must not re-run the dedup
            try:
                if fresh.isEmpty():
                    return  # nothing new (e.g. an all-dup re-delivery)
                log.run_optimistic(
                    "append",
                    lambda v: CommitProposal(log.stage_dataframe(fresh), []),
                    txn={"app": app_id, "batch": int(batch_id)},
                )
            finally:
                fresh.unpersist()
            # Delta's cadence: compact the log every 10th commit so the
            # fence check and snapshot replay stay O(commits since
            # checkpoint) on a forever-running stream
            if log.version() >= 0 and log.version() % 10 == 0:
                log.checkpoint()
                # opt-in log retention (tx_truncate_log): the stream's
                # log stays bounded ON DISK too, trading time travel
                # below the kept checkpoints (which then fails loudly)
                if log_retention_checkpoints is not None:
                    from ..sources.txlog import tx_truncate_log

                    tx_truncate_log(
                        table_path,
                        keep_checkpoints=log_retention_checkpoints,
                    )
        finally:
            # refresh the manifest on EVERY exit path (fenced replays and
            # all-dup batches included): a crash between a commit and its
            # export would otherwise leave parquet-only consumers on a
            # stale snapshot with no batch ever repairing it
            if export_manifest and log.version() >= 0:
                tx_export_symlink_manifest(table_path)
            # drain the per-batch build caches: preprocess_corpus /
            # dedup_incoming track their internal persists, and a
            # forever-running stream would otherwise grow the tracked
            # list (and the cached blocks) without bound — the one
            # indefinitely-lived consumer must release per batch
            from ..cache import release_build_caches

            release_build_caches()

    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
