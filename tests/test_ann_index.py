"""Streaming IVF index maintenance (streaming/ann_index.py)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from cars_bids_data_pipeline_v0__spark.operators.similarity import (
    ivf_topk,
    kmeans_centroids,
)
from cars_bids_data_pipeline_v0__spark.sources.txlog import TransactionLog
from cars_bids_data_pipeline_v0__spark.streaming.ann_index import (
    ivf_index_probe,
    ivf_index_sink,
    probed_cells,
)

SF = "/root/testdata/sf0.001"
NLIST, NPROBE, K = 8, 3, 5


def _corpus(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def _queries(corpus):
    return corpus.filter(F.col("vec_id") % 37 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )


def test_streamed_index_probe_equals_batch_ivf(spark, tmp_path):
    corpus = _corpus(spark)
    centroids = kmeans_centroids(corpus, nlist=NLIST, iters=2)
    index = str(tmp_path / "ann_index")
    sink = ivf_index_sink(index, centroids, stream_id="ingest")

    # two micro-batches cover the corpus; a replay of batch 0 must fence
    b0 = corpus.filter(F.col("vec_id") % 2 == 0)
    b1 = corpus.filter(F.col("vec_id") % 2 == 1)
    sink(b0, 0)
    sink(b1, 1)
    n_files = len(TransactionLog(index).live_files())
    sink(b0, 0)  # fenced replay: nothing appended
    assert len(TransactionLog(index).live_files()) == n_files

    queries = _queries(corpus)
    got = {
        (r["q_id"], r["rank"]): (r["vec_id"], r["cosine_sim"])
        for r in ivf_index_probe(
            spark, index, queries, centroids, k=K, nprobe=NPROBE
        ).collect()
    }
    want = {
        (r["q_id"], r["rank"]): (r["vec_id"], r["cosine_sim"])
        for r in ivf_topk(
            queries, corpus, k=K, nlist=NLIST, nprobe=NPROBE,
            centroids=centroids,
        ).collect()
    }
    assert got == want and got


def test_probe_reads_only_probed_cells(spark, tmp_path):
    corpus = _corpus(spark)
    centroids = kmeans_centroids(corpus, nlist=NLIST, iters=2)
    index = str(tmp_path / "ann_index")
    ivf_index_sink(index, centroids, stream_id="ingest")(corpus, 0)

    one_query = _queries(corpus).limit(1)
    cells = probed_cells(one_query, centroids, NPROBE)
    assert len(cells) == NPROBE

    live = TransactionLog(index).live_files()
    parts = {int(p) for p in live.values() if p is not None}
    assert len(parts) > NPROBE, "corpus landed in too few cells to prove pruning"
    wanted = [f for f, p in live.items() if int(p) in cells]
    assert 0 < len(wanted) < len(live)  # strictly fewer files than total

    # and the pruned probe still matches the batch result for that query
    got = ivf_index_probe(
        spark, index, one_query, centroids, k=K, nprobe=NPROBE
    ).collect()
    want = ivf_topk(
        one_query, corpus, k=K, nlist=NLIST, nprobe=NPROBE,
        centroids=centroids,
    ).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_probe_empty_index_cells(spark, tmp_path):
    corpus = _corpus(spark)
    centroids = kmeans_centroids(corpus, nlist=NLIST, iters=2)
    index = str(tmp_path / "ann_index")
    # commit ONLY vectors of one cell; probe a query whose nprobe=1 cell
    # is a different one → zero files read, empty (but well-formed) result
    from cars_bids_data_pipeline_v0__spark.streaming.ann_index import (
        assign_cells,
    )

    cells_of = assign_cells(corpus, centroids)
    some_cell = cells_of.groupBy("__ivf_cell").count().orderBy(
        F.col("count").desc()
    ).first()["__ivf_cell"]
    ivf_index_sink(index, centroids, stream_id="ingest")(
        cells_of.filter(F.col("__ivf_cell") == some_cell).drop("__ivf_cell"),
        0,
    )
    other_q = (
        cells_of.filter(F.col("__ivf_cell") != some_cell)
        .select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
        .limit(1)
    )
    out = ivf_index_probe(
        spark, index, other_q, centroids, k=K, nprobe=1
    )
    # the probed cell may or may not equal the committed one; assert the
    # result is consistent with brute force over the committed subset
    committed = spark.read.parquet(
        *[os.path.join(index, f) for f in TransactionLog(index).live_files()]
    ).drop("__ivf_cell")
    want = ivf_topk(
        other_q, committed, k=K, nlist=NLIST, nprobe=1, centroids=centroids
    ).collect()
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, want))


def test_index_compaction_one_file_per_cell_probe_unchanged(spark, tmp_path):
    from cars_bids_data_pipeline_v0__spark.sources.txlog import tx_compact

    corpus = _corpus(spark)
    centroids = kmeans_centroids(corpus, nlist=NLIST, iters=2)
    index = str(tmp_path / "ann_index")
    sink = ivf_index_sink(index, centroids, stream_id="ingest")
    # 3 batches → up to 3 files per cell
    for i in range(3):
        sink(corpus.filter(F.col("vec_id") % 3 == i), i)
    before = TransactionLog(index).live_files()
    queries = _queries(corpus)
    want = sorted(
        map(tuple, ivf_index_probe(
            spark, index, queries, centroids, k=K, nprobe=NPROBE
        ).collect())
    )

    removed = tx_compact(spark, index)
    assert removed == len(before)
    after = TransactionLog(index).live_files()
    n_cells = len({p for p in after.values()})
    assert len(after) == n_cells < len(before)  # one file per cell now

    got = sorted(
        map(tuple, ivf_index_probe(
            spark, index, queries, centroids, k=K, nprobe=NPROBE
        ).collect())
    )
    assert got == want


def test_streamed_pq_index_probe_equals_batch_ivf_pq(spark, tmp_path):
    from cars_bids_data_pipeline_v0__spark.operators.pq import (
        ivf_pq_topk,
        pq_train,
    )
    from cars_bids_data_pipeline_v0__spark.streaming.ann_index import (
        ivf_pq_index_probe,
        ivf_pq_index_sink,
    )

    corpus = _corpus(spark)
    dim = len(corpus.select("embedding").first()["embedding"])
    centroids = kmeans_centroids(corpus, nlist=NLIST, iters=2)
    codebooks = pq_train(corpus, dim=dim, m=8, k=16, iters=1)

    index = str(tmp_path / "pq_index")
    sink = ivf_pq_index_sink(index, centroids, codebooks, stream_id="pq")
    sink(corpus.filter(F.col("vec_id") % 2 == 0), 0)
    sink(corpus.filter(F.col("vec_id") % 2 == 1), 1)
    sink(corpus.filter(F.col("vec_id") % 2 == 0), 0)  # fenced replay

    # the index stores codes only — no raw vector column on disk
    some_file = next(iter(TransactionLog(index).live_files()))
    stored = spark.read.parquet(os.path.join(index, some_file))
    assert set(stored.columns) == {"vec_id", "pq_codes", "__ivf_cell"}

    queries = _queries(corpus)
    got = sorted(
        map(tuple, ivf_pq_index_probe(
            spark, index, queries, centroids, codebooks, k=K, nprobe=NPROBE
        ).collect())
    )
    want = sorted(
        map(tuple, ivf_pq_topk(
            queries, corpus, codebooks, k=K, nlist=NLIST, nprobe=NPROBE,
            centroids=centroids,
        ).collect())
    )
    assert got == want and got


def test_concurrent_index_appenders_no_lost_vectors(spark, tmp_path):
    """Three streams append to one index concurrently: every vector must
    land exactly once (append commits conflict only on the version
    number; staging never restages)."""
    import threading

    from cars_bids_data_pipeline_v0__spark.sources.txlog import (
        tx_append_partitioned,
    )
    from cars_bids_data_pipeline_v0__spark.streaming.ann_index import (
        assign_cells,
    )

    corpus = _corpus(spark)
    centroids = kmeans_centroids(corpus, nlist=NLIST, iters=2)
    index = str(tmp_path / "race_index")
    batches = [
        assign_cells(corpus.filter(F.col("vec_id") % 3 == i), centroids)
        for i in range(3)
    ]
    barrier = threading.Barrier(3)
    errors = []

    def writer(i):
        try:
            barrier.wait()
            tx_append_partitioned(
                spark, batches[i], index, partition_by="__ivf_cell",
                txn={"app": f"w{i}", "batch": 0},
            )
        except Exception as exc:  # pragma: no cover
            errors.append(exc)

    threads = [threading.Thread(target=writer, args=(i,)) for i in range(3)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors
    got = {
        r["vec_id"]
        for r in spark.read.parquet(
            *[os.path.join(index, f)
              for f in TransactionLog(index).live_files()]
        ).collect()
    }
    want = {r["vec_id"] for r in corpus.select("vec_id").collect()}
    assert got == want
    assert TransactionLog(index).version() == 2  # three serialized commits


def test_reindex_swaps_clustering_atomically(spark, tmp_path):
    from cars_bids_data_pipeline_v0__spark.streaming.ann_index import (
        ivf_reindex,
    )

    corpus = _corpus(spark)
    old_c = kmeans_centroids(corpus, nlist=NLIST, iters=1)
    new_c = kmeans_centroids(corpus, nlist=NLIST, iters=3)
    index = str(tmp_path / "re_index")
    ivf_index_sink(index, old_c, stream_id="ingest")(corpus, 0)
    v_before = TransactionLog(index).version()

    n = ivf_reindex(spark, index, new_c)
    assert n > 0
    assert TransactionLog(index).version() == v_before + 1

    # probes under the NEW codebook equal batch ivf_topk with it
    queries = _queries(corpus)
    got = sorted(
        map(tuple, ivf_index_probe(
            spark, index, queries, new_c, k=K, nprobe=NPROBE
        ).collect())
    )
    want = sorted(
        map(tuple, ivf_topk(
            queries, corpus, k=K, nlist=NLIST, nprobe=NPROBE,
            centroids=new_c,
        ).collect())
    )
    assert got == want and got

    # time travel: the pre-reindex version still probes under the OLD one
    old_probe = sorted(
        map(tuple, ivf_index_probe(
            spark, index, queries, old_c, k=K, nprobe=NPROBE,
            version=v_before,
        ).collect())
    )
    old_want = sorted(
        map(tuple, ivf_topk(
            queries, corpus, k=K, nlist=NLIST, nprobe=NPROBE,
            centroids=old_c,
        ).collect())
    )
    assert old_probe == old_want


def test_probe_empty_cells_schema_matches_nonempty_path(spark, tmp_path):
    # regression: a probe hitting only empty cells must return the SAME
    # schema as the normal path, including non-long id types
    corpus = _corpus(spark).select(
        F.concat(F.lit("id-"), F.col("vec_id").cast("string")).alias("vec_id"),
        "embedding",
    )
    centroids = kmeans_centroids(corpus, nlist=NLIST, iters=1)
    index = str(tmp_path / "str_index")
    from cars_bids_data_pipeline_v0__spark.streaming.ann_index import (
        assign_cells,
    )

    cells_of = assign_cells(corpus, centroids)
    some_cell = cells_of.groupBy("__ivf_cell").count().orderBy(
        F.col("count").desc()
    ).first()["__ivf_cell"]
    ivf_index_sink(index, centroids, stream_id="ingest")(
        cells_of.filter(F.col("__ivf_cell") == some_cell).drop("__ivf_cell"),
        0,
    )
    q = corpus.limit(1).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    full = ivf_index_probe(
        spark, index, q, centroids, k=K, nprobe=NLIST
    )
    # force an all-empty probe by pointing at a version with no files? —
    # instead probe nprobe=1 repeatedly until a query misses the one
    # committed cell; schema must equal the full probe's either way
    probe = ivf_index_probe(spark, index, q, centroids, k=K, nprobe=1)
    assert probe.schema == full.schema
    # and a provably-empty probe (empty index) still matches on id type
    empty_index = str(tmp_path / "empty_index")
    from cars_bids_data_pipeline_v0__spark.sources.txlog import (
        TransactionLog as TL,
    )

    TL(empty_index)  # no commits at all
    import os as _os

    _os.makedirs(_os.path.join(empty_index, "_txlog"), exist_ok=True)
    out = ivf_index_probe(spark, empty_index, q, centroids, k=K, nprobe=1)
    assert out.count() == 0
    assert out.schema["q_id"].dataType == full.schema["q_id"].dataType
    assert out.schema["vec_id"].dataType == full.schema["vec_id"].dataType
