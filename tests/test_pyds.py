"""txlog as a Spark data source (sources/pyds.py): batch/time-travel
reads, metadata file pruning behind pushFilters, and the commit-version-
offset streaming tail."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cars_bids_data_pipeline_v0__spark.sources.pyds import (
    TxLogBatchReader,
    TxLogDataSource,
    TxLogPruningBatchReader,
    _file_survives,
    register_txlog_source,
)
from cars_bids_data_pipeline_v0__spark.sources.txlog import (
    TransactionLog,
    tx_append_partitioned,
    tx_read,
)
from pyspark.sql.datasource import EqualTo, GreaterThan, In, LessThanOrEqual


@pytest.fixture(scope="module", autouse=True)
def _registered(spark):
    register_txlog_source(spark)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _mk(spark, lo, hi):
    return spark.createDataFrame(
        [(i, f"doc{i}", i % 3) for i in range(lo, hi)],
        "id long, s string, p int",
    )


def test_batch_read_equals_tx_read_and_time_travels(spark, tmp_path):
    t = str(tmp_path / "tbl")
    tx_append_partitioned(spark, _mk(spark, 0, 10), t, partition_by="p")
    tx_append_partitioned(spark, _mk(spark, 10, 15), t, partition_by="p")

    got = spark.read.format("txlog").option("path", t).load()
    ref = tx_read(spark, t)
    assert got.schema == ref.schema
    assert _rows(got) == _rows(ref) and got.count() == 15

    old = spark.read.format("txlog").option("path", t).option("version", 0).load()
    assert _rows(old) == _rows(tx_read(spark, t, version=0))
    assert old.count() == 10


def test_batch_partitions_are_per_file_and_filters_correct(spark, tmp_path):
    t = str(tmp_path / "tbl")
    tx_append_partitioned(spark, _mk(spark, 0, 30), t, partition_by="p")
    df = spark.read.format("txlog").option("path", t).load()
    got = df.filter((F.col("p") == 1) & (F.col("id") >= 10))
    expect = [(i, f"doc{i}", 1) for i in range(10, 30) if i % 3 == 1]
    assert _rows(got) == sorted(expect)


def test_file_survives_prunes_on_partition_and_zone_maps():
    act = {"partition": "2", "partition_col": "p", "stats": {"id": [10, 19]}}
    # partition equality prunes
    assert not _file_survives(act, [EqualTo(("p",), 1)])
    assert _file_survives(act, [EqualTo(("p",), 2)])
    assert not _file_survives(act, [In(("p",), (0, 1))])
    # zone maps prune ranges
    assert not _file_survives(act, [EqualTo(("id",), 25)])
    assert _file_survives(act, [EqualTo(("id",), 12)])
    assert not _file_survives(act, [GreaterThan(("id",), 19)])
    assert _file_survives(act, [GreaterThan(("id",), 18)])
    assert not _file_survives(act, [LessThanOrEqual(("id",), 9)])
    # missing metadata keeps the file (conservative), as do unknown
    # columns and incomparable types
    assert _file_survives({}, [EqualTo(("id",), 25)])
    assert _file_survives(act, [EqualTo(("other",), 1)])
    assert _file_survives(act, [EqualTo(("id",), "not-an-int")])


def test_pushdown_prunes_files_without_changing_results(spark, tmp_path):
    t = str(tmp_path / "tbl")
    # three commits → three files per partition value bucket; stats on id
    for lo, hi in [(0, 10), (10, 20), (20, 30)]:
        log = TransactionLog(t)
        adds = log.stage_dataframe(
            _mk(spark, lo, hi), partition_by="p", stats_cols=["id"]
        )
        log.try_commit(log.version() + 1, adds, [], op="append")

    reader = TxLogPruningBatchReader({"path": t})
    n_before = len(reader._live)
    unhandled = list(reader.pushFilters([EqualTo(("p",), 1), GreaterThan(("id",), 19)]))
    assert len(unhandled) == 2  # everything handed back to Spark
    assert reader._pruned > 0 and len(reader._live) < n_before
    # what survives is exactly partition p=1 of the last commit
    for act in reader._live.values():
        assert act["partition"] == "1" and act["stats"]["id"][1] > 19

    # end-to-end: same query through the planner returns the right rows
    df = (
        spark.read.format("txlog")
        .option("path", t)
        .load()
        .filter((F.col("p") == 1) & (F.col("id") > 19))
    )
    assert _rows(df) == sorted(
        (i, f"doc{i}", 1) for i in range(20, 30) if i % 3 == 1
    )


def test_reader_degrades_without_pushdown_session(spark, tmp_path):
    t = str(tmp_path / "tbl")
    tx_append_partitioned(spark, _mk(spark, 0, 3), t, partition_by="p")
    ds = TxLogDataSource({"path": t})
    assert isinstance(ds.reader(None), TxLogPruningBatchReader)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "false")
    try:
        r = ds.reader(None)
        assert isinstance(r, TxLogBatchReader)
        assert not isinstance(r, TxLogPruningBatchReader)
    finally:
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")


def test_stream_tail_is_exactly_once_across_restarts(spark, tmp_path):
    t = str(tmp_path / "tbl")
    ck = str(tmp_path / "ck")
    seen: list[tuple[int, list[int]]] = []

    def sink(df, bid):
        seen.append((bid, sorted(r["id"] for r in df.collect())))

    def run():
        q = (
            spark.readStream.format("txlog")
            .option("path", t)
            .load()
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    tx_append_partitioned(spark, _mk(spark, 0, 5), t, partition_by="p")
    run()
    assert seen == [(0, [0, 1, 2, 3, 4])]
    run()  # nothing new: no batch at all, or an empty one
    assert [ids for _, ids in seen if ids] == [[0, 1, 2, 3, 4]]
    tx_append_partitioned(spark, _mk(spark, 5, 8), t, partition_by="p")
    tx_append_partitioned(spark, _mk(spark, 8, 9), t, partition_by="p")
    run()  # both new commits, delivered once, never the old rows again
    delivered = [i for _, ids in seen for i in ids]
    assert sorted(delivered) == list(range(9))
    assert len(delivered) == 9


def test_stream_refuses_compacted_history_unless_opted_in(spark, tmp_path):
    from cars_bids_data_pipeline_v0__spark.sources.txlog import tx_compact

    t = str(tmp_path / "tbl")
    ck = str(tmp_path / "ck")
    tx_append_partitioned(spark, _mk(spark, 0, 4), t, partition_by="p")
    tx_append_partitioned(spark, _mk(spark, 4, 8), t, partition_by="p")
    # rewrites history → remove actions in the log
    tx_compact(spark, t)

    def run(**opts):
        reader = (
            spark.readStream.format("txlog").option("path", t)
        )
        for k, v in opts.items():
            reader = reader.option(k, v)
        q = (
            reader.load()
            .writeStream.foreachBatch(lambda df, bid: df.count())
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    with pytest.raises(Exception, match="append-only|remove actions"):
        run()
    run(ignoreDeletes="true")  # opted in: succeeds


def test_schema_inference_matches_tx_read_with_timestamps(spark, tmp_path):
    t = str(tmp_path / "ts tbl")  # space in path too
    df = spark.createDataFrame(
        [("a", "2024-05-01 10:00:00", [1.0, 2.0])],
        "k string, d string, arr array<double>",
    ).select(
        "k",
        F.to_timestamp("d").alias("ts"),
        F.to_date("d").alias("dt"),
        "arr",
        F.lit(1).alias("p"),
    )
    tx_append_partitioned(spark, df, t, partition_by="p")
    got = spark.read.format("txlog").option("path", t).load()
    ref = tx_read(spark, t)
    assert got.schema == ref.schema
    assert _rows(got) == _rows(ref)


def test_partition_pruning_normalizes_booleans_and_escaped_values(spark, tmp_path):
    """Round-6 ADVICE: the stored partition value is Hive-escaped Spark
    cast-to-string output ("true", "2024-05-01 10%3A00%3A00"); the pushed
    filter value is a Python object (True, datetime).  Both sides must
    normalize or every file is wrongly pruned and rows silently vanish."""
    import datetime

    from cars_bids_data_pipeline_v0__spark.sources.pyds import (
        _filter_value_str,
        _hive_unescape,
    )

    # unit level: the normalizers agree with Spark/Hive behavior
    assert _hive_unescape("true") == "true"
    assert _hive_unescape("2024-05-01 10%3A00%3A00") == "2024-05-01 10:00:00"
    assert _hive_unescape("__HIVE_DEFAULT_PARTITION__") is None
    assert _filter_value_str(True) == "true"
    assert _filter_value_str(False) == "false"
    assert _filter_value_str(datetime.date(2024, 5, 1)) == "2024-05-01"
    assert (
        _filter_value_str(datetime.datetime(2024, 5, 1, 10, 0, 0))
        == "2024-05-01 10:00:00"
    )
    assert _filter_value_str(1.5) is None  # ambiguous → caller keeps file

    # boolean partition: str(True) == "True" used to mismatch "true"
    act = {"partition": "true", "partition_col": "flag"}
    assert _file_survives(act, [EqualTo(("flag",), True)])
    assert not _file_survives(act, [EqualTo(("flag",), False)])
    # escaped timestamp partition survives an equality on the same instant
    act = {"partition": "2024-05-01 10%3A00%3A00", "partition_col": "ts"}
    ts = datetime.datetime(2024, 5, 1, 10, 0, 0)
    assert _file_survives(act, [EqualTo(("ts",), ts)])
    assert not _file_survives(
        act, [EqualTo(("ts",), ts.replace(hour=11))]
    )
    # null-partition sentinel and unrenderable values: keep (conservative)
    assert _file_survives(
        {"partition": "__HIVE_DEFAULT_PARTITION__", "partition_col": "p"},
        [EqualTo(("p",), 1)],
    )
    assert _file_survives(
        {"partition": "1.5", "partition_col": "p"}, [EqualTo(("p",), 1.5)]
    )

    # end-to-end: boolean partition + pushdown still returns every row
    t = str(tmp_path / "booltbl")
    df = spark.createDataFrame(
        [(i, i % 2 == 0) for i in range(10)], "id long, flag boolean"
    )
    tx_append_partitioned(spark, df, t, partition_by="flag")
    got = (
        spark.read.format("txlog")
        .option("path", t)
        .load()
        .filter(F.col("flag") == True)  # noqa: E712
    )
    assert sorted(r["id"] for r in got.collect()) == [0, 2, 4, 6, 8]


def test_batch_read_reorders_evolved_column_order_by_name(spark, tmp_path):
    """Round-6 ADVICE: a live file whose columns are reordered (same
    types) must not land values in the wrong columns positionally."""
    t = str(tmp_path / "tbl")
    log = TransactionLog(t)
    a = spark.createDataFrame([(1, 100)], "x long, y long")
    adds = log.stage_dataframe(a)
    log.try_commit(log.version() + 1, adds, [], op="append")
    # second commit writes the SAME schema with swapped column order
    b = spark.createDataFrame([(200, 2)], "y long, x long")
    adds = log.stage_dataframe(b)
    log.try_commit(log.version() + 1, adds, [], op="append")

    got = spark.read.format("txlog").option("path", t).load()
    rows = {(r["x"], r["y"]) for r in got.collect()}
    assert rows == {(1, 100), (2, 200)}


def test_stream_first_batch_is_capped_by_max_versions(spark, tmp_path):
    """Round-6 ADVICE: with startingVersion=-1 on a pre-existing table the
    first micro-batch must not materialize the whole history; it advances
    at most maxVersionsPerBatch commit versions per read."""
    from cars_bids_data_pipeline_v0__spark.sources.pyds import TxLogStreamReader

    t = str(tmp_path / "tbl")
    for lo in range(0, 12, 2):  # 6 commits, versions 1..6
        tx_append_partitioned(
            spark, _mk(spark, lo, lo + 2), t, partition_by="p"
        )

    r = TxLogStreamReader({"path": t, "maxVersionsPerBatch": "2"})
    batches, off = [], r.initialOffset()
    while True:
        rows, nxt = r.read(off)
        rows = list(rows)
        if not rows and nxt == off:
            break
        batches.append((off["version"], nxt["version"], len(rows)))
        off = nxt
    # 7 versions of history (v<=-1 start): ceil advances of <=2 each
    assert all(e - s <= 2 for s, e, _n in batches)
    assert len(batches) >= 3
    assert sum(n for _s, _e, n in batches) == 12
    # streamed rows in declared column order, all present exactly once
    rows_all = list(r.readBetweenOffsets({"version": -1}, {"version": 99}))
    assert sorted(x[0] for x in rows_all) == list(range(12))


def test_stream_change_feed_tags_inserts_and_deletes(spark, tmp_path):
    """readChangeFeed=true: the stream becomes the streaming twin of
    tx_changes — appends arrive as inserts, a copy-on-write delete as
    delete rows, compaction as NOTHING (multiset arithmetic), all
    exactly-once across restarts."""
    from cars_bids_data_pipeline_v0__spark.sources.txlog import (
        tx_compact,
        tx_delete_where,
    )

    t = str(tmp_path / "tbl")
    ck = str(tmp_path / "ck")
    seen: list[tuple] = []

    def sink(df, bid):
        seen.extend(
            (r["id"], r["_change_type"], r["_commit_version"],
             r["_commit_op"])
            for r in df.collect()
        )

    def run():
        q = (
            spark.readStream.format("txlog")
            .option("path", t)
            .option("readChangeFeed", "true")
            .load()
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    tx_append_partitioned(spark, _mk(spark, 0, 6), t, partition_by="p")
    run()
    assert sorted(seen) == [(i, "insert", 0, "append") for i in range(6)]

    seen.clear()
    tx_delete_where(spark, t, "id >= 4")
    tx_compact(spark, t)  # may no-op on tiny layouts
    v_append = TransactionLog(t).version() + 1
    tx_append_partitioned(spark, _mk(spark, 6, 8), t, partition_by="p")
    run()
    dels = sorted(x for x in seen if x[1] == "delete")
    ins = sorted(x for x in seen if x[1] == "insert")
    assert dels == [(4, "delete", 1, "delete"), (5, "delete", 1, "delete")]
    # a compaction commit (if any) emitted nothing; only the append's
    # inserts arrive
    assert ins == [(6, "insert", v_append, "append"),
                   (7, "insert", v_append, "append")]
    # replay with no new commits: nothing re-delivered
    seen.clear()
    run()
    assert [x for x in seen] == []


def test_stream_change_feed_schema_and_batch_guard(spark, tmp_path):
    t = str(tmp_path / "tbl")
    tx_append_partitioned(spark, _mk(spark, 0, 2), t, partition_by="p")
    s = (
        spark.readStream.format("txlog")
        .option("path", t)
        .option("readChangeFeed", "true")
        .load()
    )
    assert s.columns == ["id", "s", "p", "_change_type", "_commit_version",
                        "_commit_op"]
    with pytest.raises(Exception, match="STREAMING option|tx_changes"):
        (
            spark.read.format("txlog")
            .option("path", t)
            .option("readChangeFeed", "true")
            .load()
            .collect()
        )
