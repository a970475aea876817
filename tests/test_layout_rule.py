"""One layout rule for every commit-log rewrite: DELETE, UPDATE, MERGE,
DV purge, overwrite, compact and Z-order stage their files under the
layout the log records (`TransactionLog.layout_column`), so partition
reads (`tx_files_in_partitions`, the IVF probe's path) keep seeing every
row after any of them.  Also: the silver lake's INT96 timestamps get
zone maps from the staged file's column."""

from __future__ import annotations

import datetime
import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from cars_bids_data_pipeline_v0__spark.sources import txlog as TX
from cars_bids_data_pipeline_v0__spark.sources.pyds import (
    TxLogBatchReader,
)

CELLS = ["0", "1", "2", "3"]


def _mk(spark, lo, hi):
    return spark.createDataFrame(
        [(i, i * 10, i % 4) for i in range(lo, hi)],
        "id long, val long, cell int",
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _table(spark, tmp_path):
    """Two cell-partitioned appends (two files per cell), no declared
    spec."""
    t = str(tmp_path / "tbl")
    TX.tx_append_partitioned(spark, _mk(spark, 0, 20), t, partition_by="cell")
    TX.tx_append_partitioned(spark, _mk(spark, 20, 40), t, partition_by="cell")
    return t


def _merge(spark, t):
    src = spark.createDataFrame(
        [(3, -3, 3), (41, 410, 1), (42, 420, 2)],
        "id long, val long, cell int",
    )
    TX.tx_merge_into(
        spark, t, src, on=["id"], when_matched_update={"val": "s.val"},
        when_not_matched_insert=True,
    )


def _purge(spark, t):
    TX.tx_delete_where(spark, t, "id % 7 = 2", mode="dv")
    assert TX.tx_purge_dvs(spark, t) >= 1


VERBS = {
    "delete": lambda spark, t: TX.tx_delete_where(spark, t, "id % 5 = 0"),
    "update": lambda spark, t: TX.tx_update_where(
        spark, t, {"val": "val + 1"}, "id % 5 = 1"
    ),
    "merge": _merge,
    "purge": _purge,
    "overwrite": lambda spark, t: TX.tx_overwrite(
        spark, t, lambda df: df.filter("id % 2 = 0")
    ),
    "compact": lambda spark, t: TX.tx_compact(spark, t),
    "zorder": lambda spark, t: TX.tx_optimize_zorder(
        spark, t, ["id", "val"], num_files=8
    ),
}


def _assert_cell_layout(spark, t):
    """Every live file records ``cell`` and its own cell value, and the
    files of all four cells hold every row of the table."""
    log = TX.TransactionLog(t)
    assert log.dvs() == {}
    live = log.live_actions()
    assert live
    for rel, a in live.items():
        assert a.get("partition_col") == "cell", rel
        cells = set(pq.read_table(os.path.join(t, rel)).column("cell").to_pylist())
        assert cells == {int(a["partition"])}, rel
    files = TX.tx_files_in_partitions(t, CELLS)
    assert set(files) == set(live)
    by_cell = spark.read.parquet(*[os.path.join(t, f) for f in sorted(files)])
    assert _rows(by_cell.select("id", "val", "cell")) == _rows(
        TX.tx_read(spark, t).select("id", "val", "cell")
    )


@pytest.mark.parametrize("verb", sorted(VERBS))
def test_rewrite_keeps_the_recorded_layout(spark, tmp_path, verb):
    t = _table(spark, tmp_path)
    before = TX.TransactionLog(t).version()
    VERBS[verb](spark, t)
    assert TX.TransactionLog(t).version() > before  # the verb rewrote
    _assert_cell_layout(spark, t)


def test_zorder_then_compact_under_declared_spec_is_a_no_op(spark, tmp_path):
    t = _table(spark, tmp_path)
    TX.tx_set_partition_spec(spark, t, "cell")
    assert TX.tx_optimize_zorder(spark, t, ["id", "val"], num_files=4) > 0
    _assert_cell_layout(spark, t)
    v = TX.TransactionLog(t).version()
    assert TX.tx_compact(spark, t) == 0
    assert TX.TransactionLog(t).version() == v


def test_layout_column_rule(spark, tmp_path):
    t = _table(spark, tmp_path)
    log = TX.TransactionLog(t)
    v = log.version()
    assert log.layout_column(v) == "cell"
    # a table appended under two columns: unpartitioned, unless a spec
    # is declared (col=None declares unpartitioned)
    TX.tx_append_partitioned(spark, _mk(spark, 40, 44), t, partition_by="id")
    assert log.layout_column(log.version()) is None
    some_cell_file = next(
        f for f, a in log.live_actions().items()
        if a.get("partition_col") == "cell"
    )
    assert log.layout_column(log.version(), [some_cell_file]) == "cell"
    TX.tx_set_partition_spec(spark, t, "val")
    assert log.layout_column(log.version(), [some_cell_file]) == "val"
    TX.tx_set_partition_spec(spark, t, None)
    assert log.layout_column(log.version(), [some_cell_file]) is None
    # an empty table has no layout
    assert TX.TransactionLog(str(tmp_path / "none")).layout_column(-1) is None


def test_spec_on_a_renamed_column_stages_by_its_physical_name(
    spark, tmp_path
):
    t = str(tmp_path / "tbl")
    TX.tx_set_partition_spec(spark, t, None)
    TX.tx_append_partitioned(spark, _mk(spark, 0, 8), t)
    TX.tx_rename_column(spark, t, "cell", "zone")
    TX.tx_set_partition_spec(spark, t, "zone")
    log = TX.TransactionLog(t)
    assert log.layout_column(log.version()) == "cell"
    assert TX.tx_compact(spark, t) > 0  # migrates to the spec
    TX.tx_delete_where(spark, t, "id = 5")
    acts = log.live_actions().values()
    assert {a["partition_col"] for a in acts} == {"cell"}
    assert sorted(a["partition"] for a in acts) == CELLS
    assert TX.tx_compact(spark, t) == 0
    assert _rows(TX.tx_read(spark, t)) == _rows(
        _mk(spark, 0, 8).filter("id != 5").withColumnRenamed("cell", "zone")
    )


def test_zorder_refuses_files_that_predate_the_spec(spark, tmp_path):
    t = str(tmp_path / "tbl")
    TX.tx_append_partitioned(spark, _mk(spark, 0, 4), t, partition_by="id")
    TX.tx_set_partition_spec(spark, t, "cell")
    with pytest.raises(ValueError, match="tx_compact"):
        TX.tx_optimize_zorder(spark, t, ["id"], num_files=4)
    assert TX.tx_compact(spark, t) == 4  # migrates to the spec
    assert TX.tx_optimize_zorder(spark, t, ["id"], num_files=4) == 4
    _assert_cell_layout(spark, t)


@pytest.mark.parametrize(
    "call",
    [
        lambda: TX.tx_delete_where(None, "t", "true", partition_by="p"),
        lambda: TX.tx_update_where(None, "t", {"a": "1"}, "true",
                                   partition_by="p"),
        lambda: TX.tx_purge_dvs(None, "t", partition_by="p"),
        lambda: TX.tx_merge_into(None, "t", None, ["id"], partition_by="p"),
        lambda: TX.tx_stream_cdc_apply_sink("t", "id", "ts",
                                            partition_by="p"),
        lambda: TX.tx_compact(None, "t", partition_by="p"),
        lambda: TX.tx_optimize_auto(None, "t", partition_by="p"),
    ],
    ids=["delete", "update", "purge", "merge", "cdc_sink", "compact",
         "optimize_auto"],
)
def test_removed_partition_by_options_refuse(call):
    with pytest.raises(TypeError, match="partition_by"):
        call()


def test_txlog_source_refuses_partition_column_option(tmp_path):
    with pytest.raises(ValueError, match="partitionColumn"):
        TxLogBatchReader({"path": str(tmp_path), "partitionColumn": "p"})


@pytest.mark.parametrize("ts_type", ["INT96", "TIMESTAMP_MICROS"])
@pytest.mark.parametrize(
    "lo,hi",
    [
        ("2024-03-03", "2024-03-03T23:59:59"),
        ("2024-03-03 00:00:00", "2024-03-03 23:59:59"),
        ("2024-03-03 10:00:00", "2024-03-03 12:00:00"),  # the day's edges
    ],
    ids=["iso-t", "iso-space", "edges"],
)
def test_silver_lake_time_range_prunes_other_dates(
    spark, tmp_path, ts_type, lo, hi
):
    """`tx_merge_partitioned` records an ``auction_date`` zone map
    whatever parquet timestamp type the session writes (Spark's default
    INT96 footer carries no min/max), so a one-day `tx_scan` opens only
    that day's file, and returns that day's rows whatever form the
    bounds take."""
    key = "spark.sql.parquet.outputTimestampType"
    old = spark.conf.get(key)
    spark.conf.set(key, ts_type)
    try:
        t = str(tmp_path / "lake")
        base = datetime.datetime(2024, 3, 1, 10, 0, 0)
        batch = spark.createDataFrame(
            [
                (f"a{d}-{k}", base + datetime.timedelta(days=d, hours=k), d)
                for d in range(5)
                for k in range(3)
            ],
            "auction_id string, auction_date timestamp, n int",
        )
        TX.tx_merge_partitioned(spark, batch, t)
    finally:
        spark.conf.set(key, old)
    files, pruned = TX.tx_prunable_files(t, "auction_date", lo, hi)
    assert (len(files), pruned) == (1, 4)
    assert TX.TransactionLog(t).live_files()[files[0]] == "2024-03-03"
    got = TX.tx_scan(spark, t, "auction_date", lo, hi)
    want = TX.tx_read(spark, t).filter(
        (F.col("auction_date") >= lo) & (F.col("auction_date") <= hi)
    )
    assert _rows(got) == _rows(want)
    assert got.count() == 3
