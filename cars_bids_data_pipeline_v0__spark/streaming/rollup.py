"""Incremental time-bucket rollup — the hypertable continuous-aggregate
pattern over commit-log tables.

A query like q40 (hourly counts/sums) re-scans all history every run; at
100 TB the history never fits a per-query scan.  This maintains the
aggregate INCREMENTALLY: each new batch aggregates to partial rows
(bucket, key, count, sum) and folds into the stored partials, so the raw
history is never re-read — work per batch is O(batch + stored
aggregate), and the aggregate has one row per (bucket, key).

Correct because count/sum are mergeable (partial aggregation algebra —
the same property AQE exploits map-side); avg derives at read time.
``read_rollup`` exposes the finished aggregate.  The store is a
commit-log table (`sources.txlog`): every fold is one `tx_overwrite`
commit, so a reader sees the rollup before or after a batch, never a
half-written one, and the streaming continuous aggregate
(``rollup_stream``) fences each micro-batch so a replay folds once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.txlog import checkpoint_epoch_app_id, tx_overwrite, tx_read
from .incremental import _fenced_appender


def _partials(events: DataFrame, ts_col: str, key_cols: list[str],
              value_col: str, bucket: str) -> DataFrame:
    return (
        events.groupBy(
            F.date_trunc(bucket, F.col(ts_col)).alias("bucket_start"),
            *key_cols,
        )
        .agg(
            F.count("*").alias("n_events"),
            F.sum(value_col).alias("sum_value"),
        )
    )


def _fold_rollup(
    spark: SparkSession,
    new_events: DataFrame,
    rollup_path: str,
    ts_col: str,
    key_cols: list[str] | None,
    value_col: str,
    bucket: str,
    txn: dict | None,
) -> None:
    key_cols = key_cols if key_cols is not None else ["event_type"]
    batch = _partials(new_events, ts_col, key_cols, value_col, bucket)

    def fold(stored: DataFrame | None) -> DataFrame:
        if stored is None:
            return batch
        return (
            stored.unionByName(batch)
            .groupBy("bucket_start", *key_cols)
            .agg(
                F.sum("n_events").alias("n_events"),
                F.sum("sum_value").alias("sum_value"),
            )
        )

    tx_overwrite(spark, rollup_path, fold, txn=txn)


def merge_rollup(
    spark: SparkSession,
    new_events: DataFrame,
    rollup_path: str,
    ts_col: str = "ts",
    key_cols: list[str] | None = None,
    value_col: str = "value",
    bucket: str = "hour",
) -> None:
    """Fold ``new_events`` into the stored rollup: the batch's partials
    are summed into the stored ones and the whole (small) aggregate is
    rewritten in one commit."""
    _fold_rollup(
        spark, new_events, rollup_path, ts_col, key_cols, value_col,
        bucket, None,
    )


def rollup_stream(
    spark: SparkSession,
    events: DataFrame,
    rollup_path: str,
    checkpoint_dir: str,
    ts_col: str = "ts",
    key_cols: list[str] | None = None,
    value_col: str = "value",
    bucket: str = "hour",
):
    """Continuous aggregate: the `merge_rollup` fold per micro-batch,
    fenced by the batch id so a batch replayed from the checkpoint is
    not counted twice."""
    app = checkpoint_epoch_app_id("rollup", checkpoint_dir)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        _fold_rollup(
            batch_df.sparkSession, batch_df, rollup_path,
            ts_col, key_cols, value_col, bucket,
            {"app": app, "batch": int(batch_id)},
        )

    return (
        events.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_rollup(spark: SparkSession, rollup_path: str) -> DataFrame:
    """The finished aggregate, with derived avg (never avg-of-avgs)."""
    r = tx_read(spark, rollup_path)
    return r.withColumn(
        "avg_value", F.col("sum_value") / F.col("n_events")
    )


# ---------------------------------------------------------------------------
# streaming M4 downsample — the continuous-aggregate twin of q193
# ---------------------------------------------------------------------------


def _m4_partials(
    events: DataFrame,
    lo_ms: int,
    hi_ms: int,
    n_buckets: int,
    ts_col: str = "ts",
    key_col: str = "event_type",
    value_col: str = "value",
    id_col: str = "event_id",
) -> DataFrame:
    """Mergeable M4 cells: min/max are trivially mergeable; first/last
    ride as lexicographic min/max over (ms, id, value) structs, so
    merging partials can never pick a different representative than a
    single-pass aggregate (the (ms, id) key is unique and totally
    ordered).  Bucket arithmetic is exact integer math shared with q193:
    ((ms - lo) * N) floor-div (hi - lo + 1).

    Events OUTSIDE the caller-fixed [lo_ms, hi_ms] window are DROPPED
    (the window is the retention contract): without the filter, a
    pre-window event's negative numerator truncates toward zero and
    pollutes bucket 0 — becoming its (ms, id)-smallest first_pt — and a
    post-window event emits bucket >= n_buckets.  Review finding, round
    4."""
    from ..functions.scalar import epoch_millis_encode

    ms = epoch_millis_encode(ts_col)
    events = events.filter(
        (ms >= F.lit(int(lo_ms))) & (ms <= F.lit(int(hi_ms)))
    )
    num = ((ms - F.lit(lo_ms)) * n_buckets).cast("long")
    den = F.lit(int(hi_ms) - int(lo_ms) + 1)
    bucket = ((num - (num % den)) / den).cast("long")
    return (
        events.select(
            F.col(key_col).alias("series"),
            bucket.alias("bucket"),
            F.struct(
                ms.alias("ms"),
                F.col(id_col).alias("id"),
                F.col(value_col).alias("v"),
            ).alias("pt"),
            F.col(value_col).alias("v"),
        )
        .groupBy("series", "bucket")
        .agg(
            F.count("*").alias("n_points"),
            F.min("v").alias("min_value"),
            F.max("v").alias("max_value"),
            F.min("pt").alias("first_pt"),
            F.max("pt").alias("last_pt"),
        )
    )


def _merge_m4_cells(cells: DataFrame) -> DataFrame:
    """One row per (series, bucket) from any number of partial rows:
    every cell statistic is mergeable."""
    return cells.groupBy("series", "bucket").agg(
        F.sum("n_points").alias("n_points"),
        F.min("min_value").alias("min_value"),
        F.max("max_value").alias("max_value"),
        F.min("first_pt").alias("first_pt"),
        F.max("last_pt").alias("last_pt"),
    )


def merge_m4(
    spark: SparkSession,
    new_events: DataFrame,
    store_path: str,
    lo_ms: int,
    hi_ms: int,
    n_buckets: int = 100,
    **cols,
) -> None:
    """Fold a batch into the stored M4 cells: the batch's partial cells
    merge with the stored ones and the store is rewritten in one
    commit."""
    batch = _m4_partials(new_events, lo_ms, hi_ms, n_buckets, **cols)
    tx_overwrite(
        spark, store_path,
        lambda stored: batch if stored is None
        else _merge_m4_cells(stored.unionByName(batch)),
    )


def m4_stream(
    spark: SparkSession,
    events: DataFrame,
    store_path: str,
    checkpoint_dir: str,
    lo_ms: int,
    hi_ms: int,
    n_buckets: int = 100,
    **cols,
):
    """Continuous M4 downsample: each micro-batch appends its mergeable
    partial cells to the store, fenced by the batch id (a replayed batch
    commits once); `read_m4` merges the partials.  Bounds are
    caller-fixed (a streaming job cannot see the global time range; in
    production they're the retention window)."""
    append = _fenced_appender(spark, store_path, "m4", checkpoint_dir)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        append(
            _m4_partials(batch_df, lo_ms, hi_ms, n_buckets, **cols),
            batch_id,
        )

    return (
        events.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_m4(spark: SparkSession, store_path: str) -> DataFrame:
    """Finished M4 cells flattened to the q193 output shape; partial
    cells (one set per `m4_stream` batch) merge on read, exactly."""
    s = _merge_m4_cells(tx_read(spark, store_path))
    return s.select(
        F.col("series").alias("event_type"),
        "bucket",
        F.col("n_points").cast("long").alias("n_points"),
        F.round("min_value", 6).alias("min_value"),
        F.round("max_value", 6).alias("max_value"),
        F.round(F.col("first_pt.v"), 6).alias("first_value"),
        F.round(F.col("last_pt.v"), 6).alias("last_value"),
    )
