"""One snapshot read path (`sources/txlog.py::_scan`): every read of a
commit-log table's rows applies column mapping, declared columns,
widening and deletion vectors — the ANN probes and reindex included —
and every rewrite keeps the zone maps and Bloom sketches the files it
replaces record (`TransactionLog.sketch_columns`)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cars_bids_data_pipeline_v0__spark.operators.similarity import (
    ivf_topk,
    kmeans_centroids,
)
from cars_bids_data_pipeline_v0__spark.sources import txlog as TX
from cars_bids_data_pipeline_v0__spark.streaming.ann_index import (
    ivf_index_probe,
    ivf_index_sink,
    ivf_pq_index_probe,
    ivf_pq_index_sink,
    ivf_reindex,
)

SF = "/root/testdata/sf0.001"
NLIST, NPROBE, K = 8, 3, 5


@pytest.fixture(scope="module")
def ann(spark):
    """The sf0.001 corpus, its codebook, its query set (every 37th
    vector) and the ids of five queried vectors to erase: each is its
    own query's nearest neighbour, so a probe that ignores the erasure
    returns it."""
    corpus = spark.read.parquet(f"{SF}/embeddings.parquet")
    queries = corpus.filter(F.col("vec_id") % 37 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    gone = sorted(r["q_id"] for r in queries.select("q_id").collect())[:5]
    assert len(gone) == 5
    return {
        "corpus": corpus,
        "queries": queries,
        "centroids": kmeans_centroids(corpus, nlist=NLIST, iters=2),
        "gone": gone,
        "pred": f"vec_id IN ({', '.join(map(str, gone))})",
    }


def _returned(df, gone):
    return {r["vec_id"] for r in df.collect()} & set(gone)


def test_ivf_probe_and_reindex_honour_dv_deletes(spark, tmp_path, ann):
    corpus, queries, cents, gone = (
        ann["corpus"], ann["queries"], ann["centroids"], ann["gone"]
    )
    index = str(tmp_path / "ivf")
    ivf_index_sink(index, cents, stream_id="ingest")(corpus, 0)
    live_before = set(TX.TransactionLog(index).live_files())
    assert TX.tx_delete_where(spark, index, ann["pred"], mode="dv") == 5
    assert set(TX.TransactionLog(index).live_files()) == live_before

    kept = corpus.filter(~F.col("vec_id").isin(gone))
    probe = ivf_index_probe(spark, index, queries, cents, k=K, nprobe=NPROBE)
    assert _returned(probe, gone) == set()
    want = ivf_topk(
        queries, kept, k=K, nlist=NLIST, nprobe=NPROBE, centroids=cents
    )
    assert sorted(map(tuple, probe.collect())) == sorted(
        map(tuple, want.collect())
    )

    new_c = kmeans_centroids(corpus, nlist=NLIST, iters=3)
    assert ivf_reindex(spark, index, new_c) > 0
    ids = {r["vec_id"] for r in TX.tx_read(spark, index).collect()}
    assert ids & set(gone) == set()
    assert len(ids) == kept.count()
    probe = ivf_index_probe(spark, index, queries, new_c, k=K, nprobe=NPROBE)
    assert _returned(probe, gone) == set()


def test_ivf_pq_probe_honours_dv_deletes(spark, tmp_path, ann):
    from cars_bids_data_pipeline_v0__spark.operators.pq import (
        ivf_pq_topk,
        pq_train,
    )

    corpus, queries, cents, gone = (
        ann["corpus"], ann["queries"], ann["centroids"], ann["gone"]
    )
    dim = len(corpus.select("embedding").first()["embedding"])
    codebooks = pq_train(corpus, dim=dim, m=8, k=16, iters=1)
    index = str(tmp_path / "pq")
    ivf_pq_index_sink(index, cents, codebooks, stream_id="pq")(corpus, 0)
    assert TX.tx_delete_where(spark, index, ann["pred"], mode="dv") == 5

    probe = ivf_pq_index_probe(
        spark, index, queries, cents, codebooks, k=K, nprobe=NPROBE
    )
    assert _returned(probe, gone) == set()
    want = ivf_pq_topk(
        queries, corpus.filter(~F.col("vec_id").isin(gone)), codebooks,
        k=K, nlist=NLIST, nprobe=NPROBE, centroids=cents,
    )
    assert sorted(map(tuple, probe.collect())) == sorted(
        map(tuple, want.collect())
    )


def _altered_table(spark, tmp_path):
    """Two one-file appends recording ``id`` zone maps and Bloom sketches,
    then a rename (name -> label), a declared column with a default
    and an int -> bigint widening."""
    t = str(tmp_path / "altered")
    log = TX.TransactionLog(t)
    for v, (lo, hi) in enumerate([(0, 10), (10, 20)]):
        df = spark.createDataFrame(
            [(i, f"n{i}", i * 2) for i in range(lo, hi)],
            "id int, name string, val int",
        ).coalesce(1)
        adds = log.stage_dataframe(df, stats_cols=["id"], bloom_cols=["id"])
        assert log.try_commit(v, adds, [], "append")
    TX.tx_rename_column(spark, t, "name", "label")
    TX.tx_add_column(spark, t, "extra", "string", default="'x'")
    TX.tx_widen_column(spark, t, "val", "bigint")
    return t


def _schema(df):
    return [(f.name, f.dataType.simpleString()) for f in df.schema.fields]


LOGICAL = [
    ("id", "int"), ("label", "string"), ("val", "bigint"),
    ("extra", "string"),
]


def test_scans_with_no_surviving_file_keep_the_logical_schema(
    spark, tmp_path
):
    t = _altered_table(spark, tmp_path)
    full = TX.tx_read(spark, t)
    assert _schema(full) == LOGICAL
    assert full.count() == 20
    assert TX.tx_prunable_files(t, "id", 100, 200)[0] == []
    assert TX.tx_prunable_files_bloom(t, "id", 12345)[0] == []
    for empty in (
        TX.tx_scan(spark, t, "id", 100, 200),
        TX.tx_scan_eq(spark, t, "id", 12345),
    ):
        assert empty.count() == 0
        assert _schema(empty) == LOGICAL
    # a table with no live file at all reads its first file's schema,
    # mapped, filled and widened
    TX.tx_delete_where(spark, t, "id >= 0")
    assert TX.TransactionLog(t).live_files() == {}
    for empty in (
        TX.tx_read(spark, t),
        TX.tx_scan(spark, t, "id", 0, 5),
        TX.tx_scan_eq(spark, t, "id", 3),
    ):
        assert empty.count() == 0
        assert _schema(empty) == LOGICAL


def _stats_table(spark, tmp_path):
    """Two unpartitioned one-file appends recording ``id`` zone maps."""
    t = str(tmp_path / "stats")
    TX.tx_set_partition_spec(spark, t, None)
    for lo, hi in [(0, 15), (15, 30)]:
        TX.tx_append_partitioned(
            spark,
            spark.createDataFrame(
                [(i, i * 10) for i in range(lo, hi)], "id long, val long"
            ).coalesce(1),
            t,
            stats_cols=["id"],
        )
    return t


def _insert_only_merge(spark, t):
    TX.tx_merge_into(
        spark, t,
        spark.createDataFrame([(40, 400), (41, 410)], "id long, val long"),
        on=["id"],
    )


def _dv_then_purge(spark, t):
    TX.tx_delete_where(spark, t, "id % 4 = 1", mode="dv")
    assert TX.tx_purge_dvs(spark, t) == 2


REWRITES = {
    "compact": lambda spark, t: TX.tx_compact(spark, t),
    "delete": lambda spark, t: TX.tx_delete_where(spark, t, "id % 3 = 0"),
    "update": lambda spark, t: TX.tx_update_where(
        spark, t, {"val": "val + 1"}, "id % 3 = 1"
    ),
    "purge": _dv_then_purge,
    "overwrite": lambda spark, t: TX.tx_overwrite(
        spark, t, lambda df: df.filter("id % 2 = 0")
    ),
    "merge": lambda spark, t: TX.tx_merge_into(
        spark, t,
        spark.createDataFrame([(3, -3), (35, 350)], "id long, val long"),
        on=["id"], when_matched_update={"val": "s.val"},
    ),
    "merge_insert_only": _insert_only_merge,
    "zorder": lambda spark, t: TX.tx_optimize_zorder(
        spark, t, ["val"], num_files=2
    ),
}


@pytest.mark.parametrize("verb", sorted(REWRITES))
def test_rewrites_keep_the_recorded_zone_maps(spark, tmp_path, verb):
    t = _stats_table(spark, tmp_path)
    log = TX.TransactionLog(t)
    before = log.version()
    REWRITES[verb](spark, t)
    assert log.version() > before  # the verb committed
    live = log.live_actions()
    assert live
    for rel, a in live.items():
        assert "id" in (a.get("stats") or {}), (verb, rel)
    if verb == "zorder":
        assert all("val" in a["stats"] for a in live.values())
    ids = [r["id"] for r in TX.tx_read(spark, t).collect()]
    assert live.zone_max("id") == max(ids)


def test_rewrites_keep_bloom_sketches(spark, tmp_path):
    t = _altered_table(spark, tmp_path)
    log = TX.TransactionLog(t)
    assert TX.tx_compact(spark, t) == 2
    (a,) = log.live_actions().values()
    assert set(a["stats"]) == {"id"} and set(a["bloom"]) == {"id"}
    assert TX.tx_prunable_files_bloom(t, "id", 12345)[0] == []
    assert TX.tx_scan_eq(spark, t, "id", 7).count() == 1


def test_rewrite_that_deletes_every_row_of_a_file_stages_no_file(
    spark, tmp_path
):
    t = _stats_table(spark, tmp_path)
    log = TX.TransactionLog(t)
    first = {
        f for f, a in log.live_actions().items() if a["stats"]["id"][1] < 15
    }
    assert TX.tx_delete_where(spark, t, "id < 15") == 15
    assert not first & set(log.live_files())
    assert len(log.live_files()) == 1
    assert all(a["rows"] for a in log.live_actions().values())
    # the same through a deletion vector and its purge
    TX.tx_delete_where(spark, t, "id >= 15", mode="dv")
    assert TX.tx_purge_dvs(spark, t) == 1
    assert log.live_files() == {}
    assert TX.tx_read(spark, t).count() == 0
    assert TX.tx_fsck(t)["ok"]


def test_gold_dimension_compacted_between_batches_keeps_ids_unique(
    spark, tmp_path
):
    from cars_bids_data_pipeline_v0__spark.plans.gold import (
        GoldStore,
        build_star_schema,
        seed_state_dim,
    )
    from cars_bids_data_pipeline_v0__spark.plans.silver import (
        transform_records,
    )
    from cars_bids_data_pipeline_v0__spark.sources.ingest import (
        read_raw_auctions,
    )

    from .fixtures import write_raw_files

    raw = tmp_path / "raw"
    write_raw_files(str(raw))
    silver, _ = transform_records(read_raw_auctions(spark, str(raw)))
    silver = silver.persist()
    store = GoldStore(spark, str(tmp_path / "gold"))
    seed_state_dim(store, spark.createDataFrame(
        [(1, "Washington", "WA"), (2, "Florida", "FL")],
        "id long, state string, state_abbr string",
    ))
    build_star_schema(store, silver.filter(F.col("auction_id") == "aaa111"))
    build_star_schema(store, silver.filter(F.col("auction_id") == "bbb222"))
    make = store.path("vehicle_make_dim")
    assert len(TX.TransactionLog(make).live_files()) == 2
    for name in ("vehicle_make_dim", "vehicle_model_dim", "vehicle_dim"):
        TX.tx_compact(spark, store.path(name))
    assert len(TX.TransactionLog(make).live_files()) == 1
    build_star_schema(store, silver.filter(F.col("auction_id") == "ddd444"))
    for name, col in (
        ("vehicle_make_dim", "id"), ("vehicle_model_dim", "id"),
        ("vehicle_dim", "vehicle_id"),
    ):
        ids = [r[col] for r in store.read(name).collect()]
        assert len(ids) == 3 and len(set(ids)) == 3, (name, ids)
    silver.unpersist()
