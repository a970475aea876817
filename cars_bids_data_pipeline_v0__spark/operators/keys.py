"""M4 — surrogate key generation.

Reference: Postgres ``SERIAL`` ids referenced as ``sd.id``, ``vmd.id``, etc.
(update_dims.sql:80,108,128-130).

Spark-first: dense ids from a deterministic total order of the *new* rows,
offset by the existing max (the caller's ``start_at``; commit-log tables
read it from their zone maps) — NOT
``monotonically_increasing_id`` (partition-dependent, non-reproducible;
SURVEY §7 risk 8).

Scale design: a naive ``row_number() OVER (ORDER BY ...)`` is a single-
reducer stage — every row through one task.  Instead ids are assigned in
two fully-parallel phases sharing one shuffle:

1. ``repartitionByRange`` on the order columns (range exchange, ascending
   partition ids), then ``row_number`` *within* each partition — parallel
   across partitions.
2. Per-partition row counts (tiny: one row per partition) are turned into
   cumulative start offsets and broadcast back; ``global id = offset[pid]
   + local row_number``.  The offsets frame is bounded by the partition
   count, never the data volume, so its single-partition prefix-sum window
   is O(partitions); the range exchange is reused for both branches
   (ReusedExchange), so the input is shuffled once.

The global order (hence the ids) is identical to the single-reducer
formulation whenever ``order_by`` is a total order — range boundaries only
decide WHERE the order is split, not the order itself.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_PID = "__sk_pid"
_RN = "__sk_rn"
_OFF = "__sk_off"


def with_surrogate_key(
    new_rows: DataFrame,
    order_by: list[str],
    id_col: str = "id",
    start_at: int = 1,
    num_partitions: int | None = None,
) -> DataFrame:
    """Assign dense ids ``start_at, start_at+1, …`` in ``order_by`` order.

    ``num_partitions`` tunes the range exchange; pass ``1`` for
    bounded-cardinality inputs (dimension tables) — a single range
    partition needs no boundary-sampling job and no offset phase, so the
    whole assignment is one exchange + one in-partition sort, while the
    default (``spark.sql.shuffle.partitions``) keeps fact-scale inputs
    fully parallel.

    PRECONDITION for ``num_partitions=1``: an exchange must sit directly
    below ``new_rows`` (a ``distinct``, aggregate, window or shuffled
    join output, with only narrow operators above it).  The path is a
    ``coalesce(1)``, which adds no exchange of its own, so it collapses
    everything down to the nearest exchange into ONE task — with a scan
    directly below, that is the whole upstream read.
    """
    sort_cols = [F.col(c).asc_nulls_last() for c in order_by]
    cols = new_rows.columns

    if num_partitions == 1:
        # Single-partition path: a range exchange into ONE partition is
        # just "ship every row to one task" — coalesce(1) reaches the
        # same single task WITHOUT a second exchange, fusing the id
        # assignment into the upstream shuffle's read side (dim inputs
        # are distinct()/join/limit outputs — see the docstring's
        # bounded-cardinality contract; a global limit is already
        # single-partition, making this a no-op there).  The window's
        # own sort orders the partition, so ids still equal the global
        # sort order; every offset is 0 — phase 2 skipped.  One fewer
        # exchange + AQE re-plan per dimension chain (round 14,
        # q13-class job floor).
        part = new_rows.coalesce(1).withColumn(_PID, F.spark_partition_id())
        w_one = Window.partitionBy(_PID).orderBy(*sort_cols)
        return part.withColumn(
            id_col,
            (F.row_number().over(w_one) + F.lit(start_at - 1)).cast("long"),
        ).select(*cols, id_col)

    # Phase 1: range-partition on the order columns; local row numbers.
    # spark_partition_id() is non-deterministic-tagged, so Catalyst cannot
    # push it below the exchange — it reads the *post-shuffle* pid, which
    # range partitioning guarantees is ascending in the global order.
    repart = (
        new_rows.repartitionByRange(num_partitions, *sort_cols)
        if num_partitions is not None
        else new_rows.repartitionByRange(*sort_cols)
    )
    part = repart.withColumn(_PID, F.spark_partition_id())
    w_local = Window.partitionBy(_PID).orderBy(*sort_cols)

    # Phase 2: per-partition counts → cumulative offsets.  The prefix sum
    # is a triangular left self-join over the counts frame (≤ one row per
    # partition, so O(partitions²) pairs — trivial) rather than an
    # unpartitioned window, keeping every stage of the operator parallel.
    counts = part.groupBy(_PID).agg(F.count(F.lit(1)).alias("__sk_cnt"))
    lo = counts.select(
        F.col(_PID).alias("__sk_lo_pid"), F.col("__sk_cnt").alias("__sk_lo_cnt")
    )
    offsets = (
        counts.join(
            lo, F.col("__sk_lo_pid") < F.col(_PID), "left"
        )
        .groupBy(_PID)
        .agg(
            F.coalesce(F.sum("__sk_lo_cnt"), F.lit(0))
            .cast("long")
            .alias(_OFF)
        )
    )

    return (
        part.withColumn(_RN, F.row_number().over(w_local))
        .join(F.broadcast(offsets), _PID)
        .withColumn(
            id_col,
            (F.col(_RN) + F.col(_OFF) + F.lit(start_at - 1)).cast("long"),
        )
        .select(*cols, id_col)
    )

