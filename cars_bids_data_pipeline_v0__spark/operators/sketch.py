"""Mergeable sketches: pre-aggregated approximate state that rolls up.

At 100 TB you cannot re-scan raw data to answer "distinct users last
quarter" — you keep small mergeable summaries per fine-grained bucket
(day × dimension) and combine them at query time.  The algebraic property
that makes this work: ``sketch(A ∪ B) == merge(sketch(A), sketch(B))`` —
union-exact, so a rollup over partials equals the sketch you'd have built
from raw in one pass.

Built on Spark's Apache DataSketches HLL aggregates (JVM-side,
partial-aggregating, no UDFs):

* ``hll_partials``  — fine-grained buckets, one binary sketch column each;
* ``hll_rollup``    — merge partials up to any coarser grain + estimate;
* ``approx_quantiles`` — percentile_approx wrapper (single-pass GK
  summary) for the quantile analogue.

The estimates are approximate (~±1.6% at lgk=12); the MERGE is not — see
``tests/test_sketch.py::test_rollup_estimate_equals_direct_estimate``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

SKETCH_COL = "distinct_sketch"


def hll_partials(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    lgk: int = 12,
) -> DataFrame:
    """Per-bucket HLL sketch of ``value_col`` plus exact row count.

    The output is the incremental store shape: tiny (one ~2^lgk-byte
    sketch per bucket), mergeable, appendable batch-by-batch — append
    each batch's partials to a commit-log table
    (``sources.txlog.tx_append_partitioned``) and fold them at read with
    ``hll_rollup``.
    """
    return df.groupBy(*group_cols).agg(
        F.hll_sketch_agg(F.col(value_col), F.lit(lgk)).alias(SKETCH_COL),
        F.count("*").alias("n_rows"),
    )


def hll_rollup(
    partials: DataFrame,
    rollup_cols: list[str],
    estimate_col: str = "approx_distinct",
) -> DataFrame:
    """Merge fine-grained partials to a coarser grain and estimate.

    Reads ONLY the sketch store (KBs per bucket), never the raw table:
    work scales with bucket count, not event count.
    """
    agg = [
        F.hll_sketch_estimate(
            F.hll_union_agg(F.col(SKETCH_COL), F.lit(True))
        ).alias(estimate_col),
        F.sum("n_rows").alias("n_rows"),
    ]
    if rollup_cols:
        return partials.groupBy(*rollup_cols).agg(*agg)
    return partials.agg(*agg)


def approx_quantiles(
    df: DataFrame,
    value_col: str,
    probabilities: list[float],
    accuracy: int = 10_000,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Single-pass approximate quantiles (error ≤ 1/accuracy of rank).

    The scale path for q38-style distribution cuts: no global sort, no
    single-partition window — one partial-aggregating pass.
    """
    expr = F.percentile_approx(
        F.col(value_col),
        F.array(*[F.lit(p) for p in probabilities]),
        F.lit(accuracy),
    ).alias("quantiles")
    if group_cols:
        return df.groupBy(*group_cols).agg(expr)
    return df.agg(expr)


def minhash_cardinality_ratio(
    sketch_a: Column, sketch_b: Column
) -> Column:
    """Estimated |A ∪ B| from two HLL sketches (union is exact on the
    sketch lattice) — building block for approximate Jaccard overlap of
    two partitions' key sets without a join."""
    return F.hll_sketch_estimate(
        F.hll_union(sketch_a, sketch_b, F.lit(True))
    )
