"""Streaming ANN index maintenance: IVF postings as a commit-log table.

Batch IVF (``operators/similarity.py::ivf_topk``) re-assigns the whole
corpus per run; a production embedding store is append-mostly — new
vectors arrive continuously and queries want the index NOW.  This module
keeps the IVF postings in a cell-partitioned commit-log table:

* :func:`ivf_index_sink` — a ``foreachBatch`` function: assign each
  incoming vector to its nearest-centroid cell (narrow map over the
  broadcast codebook) and append, exactly-once-fenced, via
  ``tx_append_partitioned``.  The codebook is FROZEN at sink creation
  (standard IVF practice: retrain offline, then reindex); cell skew from
  drift shows up in the per-cell file layout and is re-balanced by
  ``tx_compact``/retraining, never by the hot path.
* :func:`ivf_index_probe` — the query path: compute each query's
  ``nprobe`` nearest cells, read ONLY the committed files of the probed
  cells (partition pruning straight off the commit log's metadata — at
  100 TB the scan touches nprobe/nlist of the index), then exact-cosine
  re-rank.  Results are IDENTICAL to batch ``ivf_topk`` over the full
  accumulated corpus with the same codebook (tested).

Reference parity: none (the reference has no vector surface); this
completes the similarity-search family's streaming story alongside the
corpus-ingest capstone.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.similarity import (
    as_double,
    ivf_topk,
    nearest_centroid_ids,
)
from ..sources.txlog import (
    CommitProposal,
    TransactionLog,
    _read_partitions,
    checkpoint_epoch_app_id,
    tx_append_partitioned,
    tx_read,
)

CELL_COL = "__ivf_cell"


def assign_cells(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
) -> DataFrame:
    """Add the nearest-centroid cell id — a narrow map, no shuffle."""
    return df.withColumn(
        CELL_COL,
        nearest_centroid_ids(as_double(vec_col), centroids, 1)[0],
    )


def ivf_index_sink(
    index_path: str,
    centroids: list[list[float]],
    stream_id: str = "ann-index",
    vec_col: str = "embedding",
    checkpoint_dir: str | None = None,
):
    """Exactly-once ``foreachBatch`` sink appending vectors to their cells.

    Same fencing contract as ``tx_stream_merge_sink``: the commit for
    batch N carries ``(stream_id, N)`` (epoch-scoped when
    ``checkpoint_dir`` is given), so checkpoint replays are no-ops.
    """
    app_id = (
        checkpoint_epoch_app_id(stream_id, checkpoint_dir)
        if checkpoint_dir is not None
        else stream_id
    )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        tx_append_partitioned(
            batch_df.sparkSession,
            assign_cells(batch_df, centroids, vec_col),
            index_path,
            partition_by=CELL_COL,
            txn={"app": app_id, "batch": int(batch_id)},
        )

    return process


def probed_cells(
    queries: DataFrame,
    centroids: list[list[float]],
    nprobe: int,
    q_vec: str = "q_vec",
) -> set[int]:
    """Union of every query's ``nprobe`` nearest cells (≤ nlist values —
    driver-bounded by the codebook size, never the data)."""
    rows = (
        queries.select(
            F.explode(
                nearest_centroid_ids(as_double(q_vec), centroids, nprobe)
            ).alias("cell")
        )
        .distinct()
        .collect()
    )
    return {int(r["cell"]) for r in rows}


def ivf_index_probe(
    spark: SparkSession,
    index_path: str,
    queries: DataFrame,
    centroids: list[list[float]],
    k: int = 10,
    nprobe: int = 4,
    q_id: str = "q_id",
    q_vec: str = "q_vec",
    c_id: str = "vec_id",
    vec_col: str = "embedding",
    version: int | None = None,
) -> DataFrame:
    """Top-k over the accumulated index, reading ONLY the probed cells.

    The commit log's per-file partition metadata does the pruning — no
    file of an un-probed cell is ever opened (`_read_partitions`, which
    also applies the index's deletion vectors).  Re-ranking reuses the
    batch ``ivf_topk`` candidate join on the same frozen codebook, so
    the result equals a batch run over the full accumulated corpus.
    """
    cells = probed_cells(queries, centroids, nprobe, q_vec=q_vec)
    corpus = _read_partitions(spark, index_path, cells, version=version)
    if corpus is None:
        # never-committed index: the id type comes from the query side
        qt = queries.schema[q_id].dataType.simpleString()
        corpus = spark.createDataFrame(
            [], f"{c_id} {qt}, {vec_col} array<double>"
        )
    return ivf_topk(
        queries,
        corpus.drop(CELL_COL),
        k=k,
        nlist=len(centroids),
        nprobe=nprobe,
        centroids=centroids,
        q_id=q_id,
        q_vec=q_vec,
        c_id=c_id,
        c_vec=vec_col,
    )


# ---------------------------------------------------------------------------
# IVF-PQ variant: the index stores M-byte codes, never raw vectors
# ---------------------------------------------------------------------------


def ivf_pq_index_sink(
    index_path: str,
    centroids: list[list[float]],
    codebooks,
    stream_id: str = "ann-pq-index",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    checkpoint_dir: str | None = None,
    residual: bool = False,
):
    """Exactly-once sink storing PQ CODES per cell — the billion-scale
    layout: an arriving D-float vector becomes M small ints before it
    touches disk (~16× smaller at the q95 setting), and the raw vector
    never enters the index table at all.  Codebooks are frozen with the
    coarse centroids (retrain offline → reindex).

    ``residual=True`` stores FAISS-style residual codes (quantize
    ``vec − centroid[cell]``) — still a pure function of the vector
    under the frozen codebook pair, so replays and batch re-encodes
    stay bit-identical; probes must pass the same flag."""
    from ..operators.pq import pq_encode
    from ..sources.txlog import checkpoint_epoch_app_id

    app_id = (
        checkpoint_epoch_app_id(stream_id, checkpoint_dir)
        if checkpoint_dir is not None
        else stream_id
    )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        with_cell = assign_cells(batch_df, centroids, vec_col)
        center = None
        if residual:
            cent_lit = F.array(
                *[
                    F.array(*[F.lit(float(x)) for x in c])
                    for c in centroids
                ]
            )
            center = F.element_at(cent_lit, F.col(CELL_COL) + 1)
        coded = pq_encode(
            with_cell, codebooks, vec_col=vec_col, center=center
        ).select(id_col, "pq_codes", CELL_COL)
        tx_append_partitioned(
            batch_df.sparkSession,
            coded,
            index_path,
            partition_by=CELL_COL,
            txn={"app": app_id, "batch": int(batch_id)},
        )

    return process


def ivf_pq_index_probe(
    spark: SparkSession,
    index_path: str,
    queries: DataFrame,
    centroids: list[list[float]],
    codebooks,
    k: int = 10,
    nprobe: int = 4,
    q_id: str = "q_id",
    q_vec: str = "q_vec",
    c_id: str = "vec_id",
    version: int | None = None,
    residual: bool = False,
) -> DataFrame:
    """ADC top-k over the accumulated code index, probed cells only.

    Identical to batch ``ivf_pq_topk`` over the accumulated corpus with
    the same frozen centroids + codebooks (codes — raw or residual —
    are a pure function of the vector under the frozen pair, so
    streaming and batch encodings agree bit-for-bit).  ``residual``
    must match the sink that built the index."""
    from ..operators.pq import (
        _adc_rank,
        _adc_rank_residual,
        _query_side,
    )
    from ..operators.similarity import dot

    cells = probed_cells(queries, centroids, nprobe, q_vec=q_vec)
    coded = _read_partitions(spark, index_path, cells, version=version)
    if coded is None:
        # never-committed index (see ivf_index_probe)
        qt = queries.schema[q_id].dataType.simpleString()
        coded = spark.createDataFrame(
            [], f"{c_id} {qt}, pq_codes array<int>, {CELL_COL} int"
        )
    q = _query_side(queries.select(q_id, q_vec), codebooks, q_id, q_vec)
    if residual:
        cent_lit = F.array(
            *[F.array(*[F.lit(float(x)) for x in c]) for c in centroids]
        )
        probed_q = (
            queries.select(
                F.col(q_id).alias("__jqid"),
                F.explode(
                    nearest_centroid_ids(
                        as_double(q_vec), centroids, nprobe
                    )
                ).alias(CELL_COL),
                as_double(q_vec).alias("__qv"),
            )
            .withColumn(
                "__qcdot",
                dot(
                    F.col("__qv"),
                    F.element_at(cent_lit, F.col(CELL_COL) + 1),
                ),
            )
            .drop("__qv")
            .join(q, F.col("__jqid") == F.col("__qid"))
            .drop("__jqid")
        )
        joined = coded.join(
            F.broadcast(probed_q), on=CELL_COL
        ).withColumnRenamed(CELL_COL, "cell")
        return _adc_rank_residual(
            joined, codebooks, centroids, k, q_id, c_id, "pq_codes"
        )
    probed_q = queries.select(
        F.col(q_id).alias("__jqid"),
        F.explode(
            nearest_centroid_ids(as_double(q_vec), centroids, nprobe)
        ).alias(CELL_COL),
    ).join(q, F.col("__jqid") == F.col("__qid")).drop("__jqid")
    joined = coded.join(F.broadcast(probed_q), on=CELL_COL)
    return _adc_rank(joined, codebooks, k, q_id, c_id, "pq_codes")


def ivf_reindex(
    spark: SparkSession,
    index_path: str,
    new_centroids: list[list[float]],
    vec_col: str = "embedding",
) -> int:
    """Atomically re-cluster the (raw-vector) index under a new codebook.

    The offline half of the frozen-codebook contract: retrain centroids
    elsewhere, then ONE commit swaps every live file for the re-assigned
    layout — readers see the old clustering or the new one, never a mix,
    and time travel to pre-reindex versions still resolves.  Concurrent
    appends conflict the commit and the reindex recomputes over the new
    snapshot (optimistic, like every writer here).

    Only the raw-vector index can self-reindex; the PQ variant stores
    codes without vectors, so its reindex is a re-encode from the source
    corpus through a fresh ``ivf_pq_index_sink``.  Deleted vectors
    (deletion vectors included) stay deleted.  Returns the number of
    files replaced.
    """
    log = TransactionLog(index_path)

    def build(v: int):
        if v < 0:
            return 0
        live = log.live_files(upto=v)
        if not live:
            return 0
        df = tx_read(spark, index_path, version=v).drop(CELL_COL)
        adds = log.stage_dataframe(
            assign_cells(df, new_centroids, vec_col),
            partition_by=CELL_COL,
        )
        return CommitProposal(adds, sorted(live), len(live))

    return log.run_optimistic("reindex", build)
