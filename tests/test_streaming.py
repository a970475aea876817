"""Streaming tests: availableNow silver ingest equals the batch plan;
watermarked windows equal batch q40; stateful keep-latest across batches."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from cars_bids_data_pipeline_v0__spark.sources.ingest import (
    read_raw_auctions,
    read_table,
)
from cars_bids_data_pipeline_v0__spark.sources.txlog import (
    TransactionLog,
    tx_read,
    tx_read_latest,
)
from cars_bids_data_pipeline_v0__spark.plans.silver import transform_records
from cars_bids_data_pipeline_v0__spark.streaming import (
    corpus_dedup_stream,
    hourly_event_windows_stream,
    silver_ingest_stream,
    stateful_latest_per_key,
    stream_events,
)

from .fixtures import write_raw_files


def _drop_last_commit(ckpt: str) -> None:
    """Forget a stream's last completed batch, as a crash between the
    sink's commit and Spark's checkpoint commit does: the restarted
    query re-runs that batch from its logged offsets."""
    commits = os.path.join(ckpt, "commits")
    last = max(int(n) for n in os.listdir(commits) if n.isdigit())
    for name in (str(last), f".{last}.crc"):
        if os.path.exists(os.path.join(commits, name)):
            os.remove(os.path.join(commits, name))


def test_streaming_silver_ingest_matches_batch(spark, tmp_path):
    rawdir = tmp_path / "raw"
    write_raw_files(str(rawdir))
    lake = str(tmp_path / "lake")
    rescrape = str(tmp_path / "rescrape")
    ckpt = str(tmp_path / "ckpt")
    q = silver_ingest_stream(spark, str(rawdir), lake, ckpt, rescrape)
    q.awaitTermination(120)
    got = tx_read_latest(spark, lake)
    batch_silver, _ = transform_records(read_raw_auctions(spark, str(rawdir)))
    s = sorted(str(r) for r in got.drop("auction_saving_date").collect())
    b = sorted(str(r) for r in batch_silver.collect())
    assert s == b and len(s) == 3
    # restart with no new files → no-op (checkpoint replays nothing)
    q2 = silver_ingest_stream(spark, str(rawdir), lake, ckpt, rescrape)
    q2.awaitTermination(120)
    assert tx_read_latest(spark, lake).count() == 3
    # a re-run of the last batch commits nothing
    version = TransactionLog(lake).version()
    _drop_last_commit(ckpt)
    silver_ingest_stream(
        spark, str(rawdir), lake, ckpt, rescrape
    ).awaitTermination(120)
    assert TransactionLog(lake).version() == version
    assert sorted(
        str(r) for r in tx_read(spark, lake).drop(
            "auction_saving_date"
        ).collect()
    ) == b


def test_streaming_windows_match_batch_q40(spark, tmp_path):
    sf = "/root/testdata/sf0.001"
    # stream source needs a directory of its own
    srcdir = tmp_path / "events_src"
    srcdir.mkdir()
    shutil.copy(f"{sf}/events.parquet", srcdir / "events.parquet")
    events = stream_events(spark, str(srcdir))
    agg = hourly_event_windows_stream(events)
    q = (
        agg.writeStream.format("memory")
        .queryName("win_test")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    stream_rows = sorted(
        str(r) for r in spark.table("win_test").collect()
    )
    from cars_bids_data_pipeline_v0__spark.plans.queries import REGISTRY

    batch_rows = sorted(
        str(r) for r in REGISTRY["q40_hourly_event_windows"].builder(spark, sf).collect()
    )
    assert stream_rows == batch_rows and len(stream_rows) > 0


def test_stateful_latest_per_key(spark, tmp_path):
    sf = "/root/testdata/sf0.001"
    srcdir = tmp_path / "events_src"
    srcdir.mkdir()
    shutil.copy(f"{sf}/events.parquet", srcdir / "events.parquet")
    events = stream_events(spark, str(srcdir))
    latest = stateful_latest_per_key(events)
    q = (
        latest.writeStream.format("memory")
        .queryName("latest_test")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r["key"]: r for r in spark.table("latest_test").collect()}
    # oracle: batch keep-latest over the same file
    batch = read_table(spark, sf, "events")
    expect = {
        r["event_type"]: r
        for r in batch.groupBy("event_type")
        .agg(
            F.max_by("value", "ts").alias("latest_value"),
            F.max("ts").alias("latest_ts"),
            F.count("*").alias("n_seen"),
        )
        .collect()
    }
    assert set(got) == set(expect)
    for k, e in expect.items():
        assert got[k]["n_seen"] == e["n_seen"]
        assert got[k]["latest_ts"] == e["latest_ts"]
        assert got[k]["latest_value"] == pytest.approx(e["latest_value"])


def test_corpus_dedup_stream_across_arrivals(spark, tmp_path):
    import json

    docs_dir = tmp_path / "docs"
    docs_dir.mkdir()
    out = str(tmp_path / "out")
    store = str(tmp_path / "fps")
    ckpt = str(tmp_path / "ckpt")

    def write_wave(name, rows):
        with open(docs_dir / name, "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")

    # wave 1: A, B, and an in-wave exact dup of A
    write_wave("w1.json", [
        {"doc_id": 1, "text": "alpha document"},
        {"doc_id": 2, "text": "beta document"},
        {"doc_id": 3, "text": "alpha document"},
    ])
    corpus_dedup_stream(spark, str(docs_dir), out, store, ckpt).awaitTermination()

    # wave 2: a cross-wave dup of B (new id) and a fresh doc C
    write_wave("w2.json", [
        {"doc_id": 10, "text": "beta document"},
        {"doc_id": 11, "text": "gamma document"},
    ])
    corpus_dedup_stream(spark, str(docs_dir), out, store, ckpt).awaitTermination()

    kept = sorted(r["doc_id"] for r in tx_read(spark, out).collect())
    assert kept == [1, 2, 11]  # 3 deduped in-wave, 10 deduped cross-wave


def test_corpus_dedup_stream_replay_is_idempotent(spark, tmp_path, monkeypatch):
    import json

    docs_dir = tmp_path / "docs"
    docs_dir.mkdir()
    out = str(tmp_path / "out")
    store = str(tmp_path / "fps")
    ckpt = str(tmp_path / "ckpt")

    with open(docs_dir / "w1.json", "w") as f:
        for r in [{"doc_id": 1, "text": "alpha document"},
                  {"doc_id": 2, "text": "beta document"}]:
            f.write(json.dumps(r) + "\n")

    # a crash between the two commits: the docs land, the fingerprint
    # commit fails once.  The restart from the same checkpoint re-runs
    # batch 0 — it must NOT duplicate the docs, and must heal the store.
    real = TransactionLog.try_commit
    failed = []

    def fingerprint_commit_fails_once(self, version, add, remove, op, **kw):
        if self.path == store and op == "append" and not failed:
            failed.append(version)
            raise OSError("killed before the fingerprint commit")
        return real(self, version, add, remove, op, **kw)

    monkeypatch.setattr(
        TransactionLog, "try_commit", fingerprint_commit_fails_once
    )
    with pytest.raises(Exception, match="fingerprint commit"):
        corpus_dedup_stream(
            spark, str(docs_dir), out, store, ckpt
        ).awaitTermination()
    monkeypatch.undo()
    assert failed
    assert sorted(r["doc_id"] for r in tx_read(spark, out).collect()) == [1, 2]
    assert tx_read(spark, store) is None

    corpus_dedup_stream(
        spark, str(docs_dir), out, store, ckpt
    ).awaitTermination()
    assert sorted(
        r["doc_id"] for r in tx_read(spark, out).collect()
    ) == [1, 2]
    assert tx_read(spark, store).count() == 2


def test_stream_static_enrichment_matches_batch(spark, tmp_path):
    import shutil

    from cars_bids_data_pipeline_v0__spark.streaming import enrich_stream

    events_dir = tmp_path / "events"
    events_dir.mkdir()
    shutil.copy(
        "/root/testdata/sf0.001/events.parquet", events_dir / "part0.parquet"
    )
    customer = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")

    stream = stream_events(spark, str(events_dir))
    enriched = enrich_stream(stream, customer, "user_id", "c_custkey")
    agg = enriched.groupBy("c_mktsegment").agg(
        F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total")
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("enriched_agg")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        r["c_mktsegment"]: (r["n"], r["total"])
        for r in spark.sql("SELECT * FROM enriched_agg").collect()
    }

    batch = read_table(spark, "/root/testdata/sf0.001", "events").join(
        customer, F.col("user_id") == F.col("c_custkey"), "left"
    ).groupBy("c_mktsegment").agg(
        F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total")
    )
    expect = {r["c_mktsegment"]: (r["n"], r["total"]) for r in batch.collect()}
    assert got == expect


def test_incremental_rollup_equals_batch(spark, tmp_path):
    """Two arrival waves folded into the rollup must equal the one-shot
    aggregate of the union — the mergeable-partials invariant."""
    from cars_bids_data_pipeline_v0__spark.streaming.rollup import (
        merge_rollup,
        read_rollup,
    )

    e = read_table(spark, "/root/testdata/sf0.001", "events").select(
        "event_id", "ts", "event_type", "value"
    )
    wave1 = e.filter(F.col("event_id") % 2 == 0)
    wave2 = e.filter(F.col("event_id") % 2 == 1)
    rollup = str(tmp_path / "rollup")
    merge_rollup(spark, wave1, rollup)
    merge_rollup(spark, wave2, rollup)

    got = {
        (r["bucket_start"], r["event_type"]): (r["n_events"], round(r["sum_value"], 6))
        for r in read_rollup(spark, rollup).collect()
    }
    expect = {
        (r["bucket_start"], r["event_type"]): (r["n"], round(r["s"], 6))
        for r in e.groupBy(
            F.date_trunc("hour", "ts").alias("bucket_start"), "event_type"
        ).agg(F.count("*").alias("n"), F.sum("value").alias("s")).collect()
    }
    assert got == expect


def test_rollup_stream_availablenow(spark, tmp_path):
    import shutil

    from cars_bids_data_pipeline_v0__spark.streaming.rollup import (
        read_rollup,
        rollup_stream,
    )

    events_dir = tmp_path / "events"
    events_dir.mkdir()
    shutil.copy(
        "/root/testdata/sf0.001/events.parquet", events_dir / "p0.parquet"
    )
    rollup = str(tmp_path / "rollup")
    stream = stream_events(spark, str(events_dir))
    rollup_stream(
        spark, stream, rollup, str(tmp_path / "ckpt")
    ).awaitTermination()
    total = read_rollup(spark, rollup).agg(F.sum("n_events")).collect()[0][0]
    assert total == read_table(spark, "/root/testdata/sf0.001", "events").count()


def test_rollup_stream_replayed_batch_counts_once(spark, tmp_path):
    """Spark re-runs a batch whose checkpoint commit was lost; the
    rollup must equal the uninterrupted run, not count the batch
    twice."""
    from cars_bids_data_pipeline_v0__spark.streaming.rollup import (
        read_rollup,
        rollup_stream,
    )

    sf = "/root/testdata/sf0.001"
    events_dir = tmp_path / "events"
    events_dir.mkdir()
    shutil.copy(f"{sf}/events.parquet", events_dir / "p0.parquet")
    rollup = str(tmp_path / "rollup")
    ckpt = str(tmp_path / "ckpt")

    def run_and_read():
        rollup_stream(
            spark, stream_events(spark, str(events_dir)), rollup, ckpt
        ).awaitTermination()
        return sorted(tuple(r) for r in read_rollup(spark, rollup).collect())

    want = run_and_read()
    _drop_last_commit(ckpt)
    assert run_and_read() == want
    total = read_rollup(spark, rollup).agg(F.sum("n_events")).collect()[0][0]
    assert total == read_table(spark, sf, "events").count()


def test_stream_stream_join_matches_batch(spark, tmp_path):
    from cars_bids_data_pipeline_v0__spark.streaming import stream_stream_join

    sf = "/root/testdata/sf0.001"
    srcdir = tmp_path / "events_src"
    srcdir.mkdir()
    shutil.copy(f"{sf}/events.parquet", srcdir / "events.parquet")

    def side(event_type, ts_name, id_name):
        # separate readStream lineages avoid self-join column ambiguity
        return (
            stream_events(spark, str(srcdir))
            .filter(F.col("event_type") == event_type)
            .select(
                "user_id",
                F.col("ts").alias(ts_name),
                F.col("event_id").alias(id_name),
            )
        )

    types = [
        r["event_type"]
        for r in read_table(spark, sf, "events")
        .select("event_type").distinct().collect()
    ]
    t_left, t_right = sorted(types)[:2]
    joined = stream_stream_join(
        side(t_left, "l_ts", "l_id"),
        side(t_right, "r_ts", "r_id"),
        key="user_id",
        left_ts="l_ts",
        right_ts="r_ts",
        watermark="1 hour",
        max_lag="30 minutes",
    ).select("l_id", "r_id")
    q = (
        joined.writeStream.format("memory")
        .queryName("ss_join_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        (r["l_id"], r["r_id"])
        for r in spark.table("ss_join_test").collect()
    )
    # batch oracle: same predicate over the static table
    e = read_table(spark, sf, "events")
    l = e.filter(F.col("event_type") == t_left).select(
        "user_id", F.col("ts").alias("l_ts"), F.col("event_id").alias("l_id"))
    r = e.filter(F.col("event_type") == t_right).select(
        F.col("user_id").alias("r_user"), F.col("ts").alias("r_ts"),
        F.col("event_id").alias("r_id"))
    expect = sorted(
        (row["l_id"], row["r_id"])
        for row in l.join(
            r,
            (l.user_id == r.r_user)
            & (r.r_ts > l.l_ts)
            & (r.r_ts <= l.l_ts + F.expr("INTERVAL 30 minutes")),
        ).collect()
    )
    assert got == expect and len(got) > 0


def test_scd2_dim_stream_matches_batch_snapshot(spark, tmp_path):
    from cars_bids_data_pipeline_v0__spark.operators.scd2 import scd2_snapshot
    from cars_bids_data_pipeline_v0__spark.streaming import scd2_dim_stream

    sf = "/root/testdata/sf0.001"
    srcdir = tmp_path / "events_src"
    srcdir.mkdir()
    shutil.copy(f"{sf}/events.parquet", srcdir / "events.parquet")
    dim = str(tmp_path / "scd2_dim")
    ckpt = str(tmp_path / "ckpt")
    q = scd2_dim_stream(spark, str(srcdir), dim, ckpt)
    q.awaitTermination(120)
    got = sorted(map(str, tx_read(spark, dim).collect()))
    batch = scd2_snapshot(
        read_table(spark, sf, "events"),
        key="user_id", tracked="event_type", order_col="ts",
        tie_col="event_id", keep_tie=True,
    )
    expect = sorted(map(str, batch.collect()))
    assert got == expect and len(got) > 0
    # a re-run of the last batch applies once
    version = TransactionLog(dim).version()
    _drop_last_commit(ckpt)
    scd2_dim_stream(spark, str(srcdir), dim, ckpt).awaitTermination(120)
    assert TransactionLog(dim).version() == version
    assert sorted(map(str, tx_read(spark, dim).collect())) == expect


def test_dedup_stream_within_watermark(spark, tmp_path):
    from cars_bids_data_pipeline_v0__spark.streaming import (
        dedup_stream_within_watermark,
        stream_events,
    )

    sf = "/root/testdata/sf0.001"
    srcdir = tmp_path / "events_src"
    srcdir.mkdir()
    # duplicate delivery: the same file twice = every event redelivered
    shutil.copy(f"{sf}/events.parquet", srcdir / "a.parquet")
    shutil.copy(f"{sf}/events.parquet", srcdir / "b.parquet")
    events = stream_events(spark, str(srcdir))
    deduped = dedup_stream_within_watermark(events, ["event_id"])
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_wm_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.table("dedup_wm_test").count()
    distinct_ids = (
        spark.table("dedup_wm_test").select("event_id").distinct().count()
    )
    expect = read_table(spark, sf, "events").count()
    assert got == distinct_ids == expect  # every redelivery dropped


def test_matview_stream_incremental_and_compaction(spark, tmp_path):
    import json

    from pyspark.sql import types as T
    from cars_bids_data_pipeline_v0__spark.streaming.incremental import (
        compact_matview_store,
        matview_stream,
        read_matview,
    )

    src = tmp_path / "src"
    src.mkdir()
    store = str(tmp_path / "partials")
    ckpt = str(tmp_path / "ckpt")
    schema = T.StructType(
        [
            T.StructField("g", T.StringType()),
            T.StructField("x", T.DoubleType()),
        ]
    )
    kw = dict(
        keys=["g"], measures={"x": ("sum", "min", "max", "avg")}, schema=schema
    )

    def write_wave(name, rows):
        with open(src / name, "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")

    write_wave("w1.json", [{"g": "a", "x": 1.0}, {"g": "a", "x": 3.0},
                           {"g": "b", "x": 10.0}])
    matview_stream(spark, str(src), store, ckpt, **kw).awaitTermination()
    v1 = {r["g"]: (r["n_rows"], r["sum_x"], r["avg_x"])
          for r in read_matview(spark, store, avg_of=["x"]).collect()}
    assert v1 == {"a": (2, 4.0, 2.0), "b": (1, 10.0, 10.0)}

    # second arrival only processes the new file (delta-sized work)
    write_wave("w2.json", [{"g": "a", "x": 5.0}, {"g": "c", "x": 7.0}])
    matview_stream(spark, str(src), store, ckpt, **kw).awaitTermination()
    v2 = {r["g"]: (r["n_rows"], r["sum_x"], r["min_x"], r["max_x"])
          for r in read_matview(spark, store).collect()}
    assert v2 == {"a": (3, 9.0, 1.0, 5.0), "b": (1, 10.0, 10.0, 10.0),
                  "c": (1, 7.0, 7.0, 7.0)}

    # compaction folds per-batch partials into one set; view unchanged
    compact_matview_store(spark, store)
    per_batch = tx_read(spark, store)
    assert per_batch.count() == 3  # one row per group
    v3 = {r["g"]: (r["n_rows"], r["sum_x"], r["min_x"], r["max_x"])
          for r in read_matview(spark, store).collect()}
    assert v3 == v2

    # further deltas after compaction keep merging correctly
    write_wave("w3.json", [{"g": "b", "x": 2.0}])
    matview_stream(spark, str(src), store, ckpt, **kw).awaitTermination()
    v4 = {r["g"]: (r["n_rows"], r["sum_x"], r["min_x"])
          for r in read_matview(spark, store).collect()}
    assert v4["b"] == (2, 12.0, 2.0)


def test_matview_compaction_fences_out_replayed_batches(spark, tmp_path):
    import json

    from pyspark.sql import types as T
    from cars_bids_data_pipeline_v0__spark.streaming.incremental import (
        compact_matview_store,
        matview_stream,
        read_matview,
    )

    src = tmp_path / "src"
    src.mkdir()
    store = str(tmp_path / "partials")
    ckpt = str(tmp_path / "ckpt")
    schema = T.StructType(
        [T.StructField("g", T.StringType()), T.StructField("x", T.DoubleType())]
    )
    kw = dict(keys=["g"], measures={"x": ("sum",)}, schema=schema)

    with open(src / "w1.json", "w") as f:
        for r in [{"g": "a", "x": 1.0}, {"g": "b", "x": 2.0}]:
            f.write(json.dumps(r) + "\n")
    matview_stream(spark, str(src), store, ckpt, **kw).awaitTermination()
    compact_matview_store(spark, store)

    # batch 0's partials landed and were compacted, but its checkpoint
    # commit was lost: the restarted stream REPLAYS batch 0
    _drop_last_commit(ckpt)
    matview_stream(spark, str(src), store, ckpt, **kw).awaitTermination()

    v = {r["g"]: (r["n_rows"], r["sum_x"])
         for r in read_matview(spark, store).collect()}
    assert v == {"a": (1, 1.0), "b": (1, 2.0)}  # NOT double-counted

    # genuinely new batches after the fence still merge in
    with open(src / "w2.json", "w") as f:
        f.write(json.dumps({"g": "a", "x": 5.0}) + "\n")
    matview_stream(spark, str(src), store, ckpt, **kw).awaitTermination()
    v2 = {r["g"]: (r["n_rows"], r["sum_x"])
          for r in read_matview(spark, store).collect()}
    assert v2 == {"a": (2, 6.0), "b": (1, 2.0)}


class _Killed(BaseException):
    """A writer's death: no ``except Exception`` on the way catches it."""


@pytest.mark.parametrize("point", ["staged", "link"])
def test_matview_compaction_crash_leaves_view_readable(
    spark, tmp_path, monkeypatch, point
):
    """A compaction killed after staging its files, or between the
    commit body's temp write and its link (the crash points of
    tests/test_txlog.py::test_writer_crash_leaves_table_readable),
    leaves the store at its old version, reading back as before; the
    next compaction succeeds."""
    from cars_bids_data_pipeline_v0__spark.operators.matview import (
        matview_partials,
    )
    from cars_bids_data_pipeline_v0__spark.sources.txlog import (
        tx_append_partitioned,
        tx_fsck,
        tx_set_partition_spec,
    )
    from cars_bids_data_pipeline_v0__spark.streaming.incremental import (
        compact_matview_store,
        read_matview,
    )

    store = str(tmp_path / "partials")
    tx_set_partition_spec(spark, store, None)
    for rows in ([("a", 1.0), ("b", 2.0)], [("a", 5.0)]):
        tx_append_partitioned(spark, matview_partials(
            spark.createDataFrame(rows, "g string, x double"),
            ["g"], {"x": ("sum",)},
        ), store)

    def view():
        return sorted(tuple(r) for r in read_matview(spark, store).collect())

    want = view()
    log = TransactionLog(store)
    version = log.version()

    def die(*args, **kwargs):
        raise _Killed()

    if point == "staged":
        stage = TransactionLog.stage_dataframe

        def stage_then_die(self, *args, **kwargs):
            stage(self, *args, **kwargs)
            die()

        monkeypatch.setattr(TransactionLog, "stage_dataframe", stage_then_die)
    else:
        monkeypatch.setattr(os, "link", die)
    with pytest.raises(_Killed):
        compact_matview_store(spark, store)
    monkeypatch.undo()

    assert log.version() == version
    rep = tx_fsck(store)
    assert rep["ok"], rep
    assert view() == want
    compact_matview_store(spark, store)
    assert log.version() == version + 1
    assert view() == want
    assert tx_read(spark, store).count() == 2  # one row per group


def test_session_windows_stream_matches_batch(spark, tmp_path):
    from cars_bids_data_pipeline_v0__spark.sources.ingest import read_table
    from cars_bids_data_pipeline_v0__spark.streaming.incremental import (
        session_windows_stream,
        stream_events,
    )

    import shutil

    sf = "/root/testdata/sf0.001"
    srcdir = tmp_path / "events"
    srcdir.mkdir()
    shutil.copy(f"{sf}/events.parquet", srcdir / "part-0.parquet")
    out = str(tmp_path / "sessions")
    ckpt = str(tmp_path / "ckpt")
    stream = stream_events(spark, str(srcdir))
    q = (
        session_windows_stream(stream)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    batch = (
        read_table(spark, sf, "events")
        .filter(F.col("user_id").isNotNull())
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )
    got = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in spark.read.parquet(out).collect()
    }
    want = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in batch.collect()
    }
    # append mode emits only FINALIZED sessions: everything whose end has
    # passed the 2h watermark at end-of-input must appear, nothing that
    # the batch plan doesn't produce may appear, and the only misses are
    # tail sessions still inside the watermark horizon
    import datetime as dt

    max_ts = max(s[2] for s in want)
    horizon = max_ts - dt.timedelta(hours=2)
    want_final = {s for s in want if s[2] < horizon}
    assert want_final and want_final <= got <= want
    assert all(s[2] >= horizon for s in want - got)


def test_running_stats_stream_accumulates_across_batches(spark, tmp_path):
    import json

    # transformWithState's driver worker speaks protobuf to the JVM; gate
    # on a USABLE protobuf (this container ships a broken stub)
    try:
        from google.protobuf import descriptor  # noqa: F401
    except ImportError:
        pytest.skip("google.protobuf unavailable: transformWithState "
                    "needs it for its state-server protocol")

    from pyspark.sql import types as T
    from cars_bids_data_pipeline_v0__spark.streaming.incremental import (
        running_stats_stream,
    )

    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        src = tmp_path / "src"
        src.mkdir()
        out = str(tmp_path / "out")
        ckpt = str(tmp_path / "ckpt")
        schema = T.StructType(
            [
                T.StructField("event_type", T.StringType()),
                T.StructField("value", T.DoubleType()),
            ]
        )

        def run_wave(name, rows):
            with open(src / name, "w") as f:
                for r in rows:
                    f.write(json.dumps(r) + "\n")
            stream = spark.readStream.schema(schema).json(str(src))
            (
                running_stats_stream(stream)
                .writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
                .awaitTermination()
            )

        run_wave("w1.json", [
            {"event_type": "a", "value": 1.0},
            {"event_type": "a", "value": 5.0},
            {"event_type": "b", "value": 2.0},
        ])
        run_wave("w2.json", [
            {"event_type": "a", "value": 3.0},
            {"event_type": "c", "value": 7.0},
        ])

        rows = spark.read.parquet(out).collect()
        latest = {}
        for r in rows:  # keep the row with the highest n_seen per key
            cur = latest.get(r["key"])
            if cur is None or r["n_seen"] > cur["n_seen"]:
                latest[r["key"]] = r
        assert (latest["a"]["n_seen"], latest["a"]["total"],
                latest["a"]["peak"]) == (3, 9.0, 5.0)  # state crossed batches
        assert (latest["b"]["n_seen"], latest["b"]["total"]) == (1, 2.0)
        assert (latest["c"]["n_seen"], latest["c"]["peak"]) == (1, 7.0)
    finally:
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")


def test_stream_events_starts_on_missing_and_empty_dir(spark, tmp_path):
    """ADVICE r2: a stream must be constructible before any producer wrote
    files (empty events_dir) — falls back to the NANOS-as-long layout and
    still converts ts correctly once data arrives.  (A MISSING dir is
    rejected by Spark's file stream source itself regardless of schema.)"""
    import cars_bids_data_pipeline_v0__spark.streaming.incremental as INC

    empty = tmp_path / "empty_dir"
    empty.mkdir()
    df2 = INC.stream_events(spark, str(empty))
    assert dict(df2.dtypes)["ts"] == "timestamp"

    # late-arriving NANOS-vintage data flows through the fallback schema
    events_dir = str(tmp_path / "events")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    import pyarrow as pa
    import pyarrow.parquet as pq

    (tmp_path / "events").mkdir()
    tbl = pa.table({
        "event_id": pa.array([1, 2], pa.int64()),
        "ts": pa.array([1_700_000_000_000_000_000,
                        1_700_000_060_000_000_000], pa.int64()),
        "user_id": pa.array([10, 11], pa.int64()),
        "event_type": pa.array(["a", "b"]),
        "value": pa.array([1.5, 2.5], pa.float64()),
        "props": pa.array(["{}", "{}"]),
    })
    pq.write_table(tbl, f"{events_dir}/part-0.parquet")
    stream = INC.stream_events(spark, events_dir)
    q = (stream.writeStream.format("parquet")
         .option("path", out).option("checkpointLocation", ck)
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    rows = sorted(spark.read.parquet(out).collect(), key=lambda r: r["event_id"])
    assert rows[0]["ts"].year == 2023  # not 1970: nanos→µs conversion applied


def test_stateful_zscore_stream_matches_batch_q144(spark, tmp_path):
    """The streaming anomaly scorer must reproduce batch q144 exactly when
    the whole corpus arrives as one availableNow batch (same frame, same
    self-excluding window, same rounding)."""
    from cars_bids_data_pipeline_v0__spark.plans.queries import (
        REGISTRY,
        _load_extensions,
    )
    from cars_bids_data_pipeline_v0__spark.streaming import (
        stateful_zscore_stream,
    )

    sf = "/root/testdata/sf0.001"
    srcdir = tmp_path / "events_src"
    srcdir.mkdir()
    shutil.copy(f"{sf}/events.parquet", srcdir / "events.parquet")
    flagged = stateful_zscore_stream(stream_events(spark, str(srcdir)))
    q = (
        flagged.writeStream.format("memory")
        .queryName("zscore_stream_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_z"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["user_id"], r["event_id"]): r["zscore"]
        for r in spark.table("zscore_stream_test").collect()
    }
    _load_extensions()
    expect = {
        (r["user_id"], r["event_id"]): r["zscore"]
        for r in REGISTRY["q144_rolling_zscore_anomalies"]
        .builder(spark, sf)
        .collect()
    }
    assert got == expect and len(got) > 0


def test_stateful_zscore_state_survives_across_micro_batches(spark, tmp_path):
    """Priors accumulated in batch 1 must score events arriving in batch 2
    (ring-buffer state checkpointed between availableNow runs)."""
    import datetime as dt

    from pyspark.sql import Row

    from cars_bids_data_pipeline_v0__spark.streaming import (
        stateful_zscore_stream,
    )

    srcdir = tmp_path / "src"
    srcdir.mkdir()

    def write_batch(name, rows):
        spark.createDataFrame(
            [
                Row(
                    event_id=i,
                    ts=dt.datetime(2024, 1, 1) + dt.timedelta(minutes=m),
                    user_id=1,
                    event_type="view",
                    value=float(v),
                    props="{}",
                )
                for i, (m, v) in rows
            ]
        ).write.parquet(str(srcdir / name))

    out = str(tmp_path / "alerts")

    def run_once():
        # file sink (not memory): supports restart-from-checkpoint, which
        # is the whole point of this test
        flagged = stateful_zscore_stream(
            stream_events(spark, str(srcdir) + "/*")
        )
        q = (
            flagged.writeStream.format("parquet")
            .option("path", out)
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # batch 1: five flat readings — no anomaly possible yet
    write_batch("b1", [(i, (i, 10.0 + 0.1 * (i % 3))) for i in range(5)])
    run_once()
    assert spark.read.parquet(out).count() == 0
    # batch 2: a single spike — only anomalous BECAUSE batch-1 state
    write_batch("b2", [(99, (10, 500.0))])
    run_once()
    rows = spark.read.parquet(out).collect()
    assert [r["event_id"] for r in rows] == [99]
    assert rows[0]["zscore"] > 2.5


def test_corpus_ingest_stream_end_to_end(spark, tmp_path):
    """Round-4 capstone: gate → within-batch dedup → cross-corpus dedup →
    ACID append with replay fence → manifest refresh, across two
    micro-batches with planted dups, equivalent to the batch pipeline."""
    import json as _json
    import os as _os

    from cars_bids_data_pipeline_v0__spark.sources.txlog import (
        TransactionLog,
        tx_read,
        tx_read_manifest,
    )
    from cars_bids_data_pipeline_v0__spark.streaming.incremental import (
        corpus_ingest_stream,
    )

    good = ("the quick brown fox jumps over the lazy dog and runs to "
            "the old barn")
    docs_dir = tmp_path / "docs"
    docs_dir.mkdir()
    table = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ckpt")

    def write_batch(name, rows):
        with open(docs_dir / name, "w") as f:
            for r in rows:
                f.write(_json.dumps(r) + "\n")

    # batch 1: exact within-batch dup (1,2), a NEAR within-batch dup
    # pair (4,5 — same page crawled twice with a one-word diff), and a
    # gate-failing doc
    write_batch("b1.json", [
        {"doc_id": 1, "text": good + " alpha"},
        {"doc_id": 2, "text": good + " alpha"},     # within-batch dup of 1
        {"doc_id": 3, "text": "too short"},          # gated out
        {"doc_id": 4, "text": good + " bravo extra words here"},
        {"doc_id": 5, "text": good + " bravo extra words here plus"},
    ])
    q = corpus_ingest_stream(spark, str(docs_dir), table, ckpt,
                             near_dup_threshold=0.8)
    q.awaitTermination(120)
    got1 = sorted(r["doc_id"] for r in tx_read(spark, table).collect())
    assert got1 == [1, 4]

    # batch 2: exact clone of corpus doc 1, near-clone of doc 4, one
    # genuinely new doc
    write_batch("b2.json", [
        {"doc_id": 10, "text": good + " alpha"},                 # exact dup
        {"doc_id": 11, "text": good + " bravo extra words here x"},  # near
        {"doc_id": 12, "text": "completely different fresh content about "
                               "zebra quantum harpsichord velvet meridian "
                               "a of to in the is and pancake"},
    ])
    q = corpus_ingest_stream(spark, str(docs_dir), table, ckpt,
                             near_dup_threshold=0.8)
    q.awaitTermination(120)
    got2 = sorted(r["doc_id"] for r in tx_read(spark, table).collect())
    assert got2 == [1, 4, 12]

    # checkpoint LOSS: a fresh checkpoint restarts batch ids at 0 and
    # re-delivers every file — the epoch-scoped fence must NOT falsely
    # swallow it; content dedup drops everything already ingested, the
    # all-dup re-delivery commits NOTHING (version unchanged)
    v_before = TransactionLog(table).version()
    import shutil as _shutil

    _shutil.rmtree(ckpt)
    ckpt2 = str(tmp_path / "ckpt2")
    q = corpus_ingest_stream(spark, str(docs_dir), table, ckpt2,
                             near_dup_threshold=0.8)
    q.awaitTermination(120)
    assert sorted(
        r["doc_id"] for r in tx_read(spark, table).collect()
    ) == [1, 4, 12]
    assert TransactionLog(table).version() == v_before

    # a NEW file arriving after the checkpoint loss must still land —
    # the old (stream_id, 0) token would have swallowed it without the
    # epoch scoping
    write_batch("b3.json", [
        {"doc_id": 20, "text": "another genuinely new page about "
                               "glacier bassoon turquoise anvil the a "
                               "of and is to in marmalade"},
    ])
    q = corpus_ingest_stream(spark, str(docs_dir), table, ckpt2,
                             near_dup_threshold=0.8)
    q.awaitTermination(120)
    assert sorted(
        r["doc_id"] for r in tx_read(spark, table).collect()
    ) == [1, 4, 12, 20]

    # manifest tracks the latest snapshot for parquet-only consumers
    root = _os.path.join(table, "_symlink_format_manifest")
    ext = tx_read_manifest(spark, root)
    assert sorted(r["doc_id"] for r in ext.collect()) == [1, 4, 12, 20]
    meta = _json.load(open(_os.path.join(root, "manifest.json")))
    assert meta["version"] == TransactionLog(table).version()


def test_m4_stream_matches_batch_q193(spark, tmp_path):
    """Stream events in two micro-batches into the M4 store; the flattened
    cells must equal the one-shot batch aggregate over the full series
    (mergeability of min/max/first/last partials), which — when bounds
    come from the data — is exactly q193's output."""
    import shutil

    from cars_bids_data_pipeline_v0__spark.functions.scalar import (
        epoch_millis_encode,
    )
    from cars_bids_data_pipeline_v0__spark.streaming.rollup import (
        m4_stream,
        merge_m4,
        read_m4,
    )

    sf = "/root/testdata/sf0.001"
    full = read_table(spark, sf, "events")
    lo, hi = full.agg(
        F.min(epoch_millis_encode("ts")), F.max(epoch_millis_encode("ts"))
    ).collect()[0]

    # batch reference: single merge over everything
    ref_store = str(tmp_path / "m4_ref")
    merge_m4(spark, full, ref_store, int(lo), int(hi))
    ref = sorted(tuple(r) for r in read_m4(spark, ref_store).collect())

    # stream: two arrival chunks through foreachBatch
    events_dir = tmp_path / "events"
    events_dir.mkdir()
    store = str(tmp_path / "m4_store")
    ckpt = str(tmp_path / "ckpt")
    def land(df, name):
        # the file source watches FLAT files: stage the chunk, then move
        # its part-files into the watched dir under a stable name
        stage = tmp_path / f"stage_{name}"
        df.coalesce(1).write.parquet(str(stage))
        part = next(stage.glob("part-*.parquet"))
        shutil.move(str(part), str(events_dir / f"{name}.parquet"))

    h1 = full.filter(F.col("event_id") % 2 == 0)
    h2 = full.filter(F.col("event_id") % 2 == 1)
    land(h1, "chunk0")
    stream = stream_events(spark, str(events_dir))
    m4_stream(spark, stream, store, ckpt, int(lo), int(hi)).awaitTermination()
    land(h2, "chunk1")
    stream = stream_events(spark, str(events_dir))
    m4_stream(spark, stream, store, ckpt, int(lo), int(hi)).awaitTermination()

    got = sorted(tuple(r) for r in read_m4(spark, store).collect())
    assert got == ref

    # checkpoint-replay idempotence: Spark re-runs the last batch (its
    # checkpoint commit lost) — the store must not double-count it
    _drop_last_commit(ckpt)
    stream = stream_events(spark, str(events_dir))
    m4_stream(spark, stream, store, ckpt, int(lo), int(hi)).awaitTermination()
    replayed = sorted(tuple(r) for r in read_m4(spark, store).collect())
    assert replayed == ref

    # retention-window contract: events outside [lo, hi] are dropped,
    # never mis-bucketed into cell 0 or out-of-range cells
    narrow = str(tmp_path / "m4_narrow")
    merge_m4(spark, full, narrow, int(lo) + 10_000, int(hi) - 10_000)
    cells = read_m4(spark, narrow).collect()
    assert all(0 <= r["bucket"] < 100 for r in cells)
    n_inside = full.filter(
        (F.col("ts").cast("timestamp").isNotNull())
    ).count()  # sanity anchor: some rows must have been dropped
    assert sum(r["n_points"] for r in cells) < n_inside

    # and the reference equals q193 itself (bounds are data-derived here)
    from cars_bids_data_pipeline_v0__spark.plans import queries as Q

    Q.queries()
    q = sorted(
        tuple(r)
        for r in Q.REGISTRY["q193_m4_downsample"].builder(spark, sf).collect()
    )
    assert q == ref
