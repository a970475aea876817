"""Partition evolution (Iceberg-style): a declared spec is one metadata
commit; files written under earlier specs stay readable AND prunable
against the column that actually laid them out; compaction migrates old
layouts into the current spec."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cars_bids_data_pipeline_v0__spark.sources.pyds import (
    TxLogPruningBatchReader,
    _file_survives,
    register_txlog_source,
)
from cars_bids_data_pipeline_v0__spark.sources.txlog import (
    TransactionLog,
    tx_append_partitioned,
    tx_clone,
    tx_compact,
    tx_detail,
    tx_read,
    tx_set_partition_spec,
)
from pyspark.sql.datasource import EqualTo


def _mk(spark, lo, hi):
    return spark.createDataFrame(
        [(i, f"doc{i}", i % 3, i % 2) for i in range(lo, hi)],
        "id long, s string, p int, q int",
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_spec_defaults_append_and_survives_checkpoint(spark, tmp_path):
    t = str(tmp_path / "tbl")
    tx_append_partitioned(spark, _mk(spark, 0, 6), t, partition_by="p")
    tx_set_partition_spec(spark, t, "q")
    # spec-defaulted append: no partition_by at the call site
    tx_append_partitioned(spark, _mk(spark, 6, 12), t)
    log = TransactionLog(t)
    assert log.partition_spec() == "q"
    live = log.live_actions()
    cols = {a.get("partition_col") for a in live.values()}
    assert cols == {"p", "q"}  # both layouts coexist
    assert _rows(tx_read(spark, t)) == _rows(_mk(spark, 0, 12))
    # checkpoint carries the spec across log truncation
    log.checkpoint()
    assert TransactionLog(t).partition_spec() == "q"
    det = tx_detail(t)
    assert det["partition_spec"] == "q"
    assert det["partition_cols"] == ["p", "q"]


def test_spec_validates_column_against_schema(spark, tmp_path):
    t = str(tmp_path / "tbl")
    tx_append_partitioned(spark, _mk(spark, 0, 3), t, partition_by="p")
    with pytest.raises(ValueError, match="not in table schema"):
        tx_set_partition_spec(spark, t, "nope")
    # empty table: nothing to validate against, declaration allowed
    t2 = str(tmp_path / "empty")
    tx_set_partition_spec(spark, t2, "anything")
    assert TransactionLog(t2).partition_spec() == "anything"
    # appends without partition_by and without a spec refuse loudly
    t3 = str(tmp_path / "nospec")
    with pytest.raises(ValueError, match="declared"):
        tx_append_partitioned(spark, _mk(spark, 0, 3), t3)


def test_old_spec_files_never_pruned_by_new_spec_filter():
    old = {"partition": "1", "partition_col": "p"}
    new = {"partition": "1", "partition_col": "q"}
    # filter on q: q-laid files prune, p-laid files are kept conservatively
    assert _file_survives(old, [EqualTo(("q",), 0)])
    assert not _file_survives(new, [EqualTo(("q",), 0)])
    assert _file_survives(new, [EqualTo(("q",), 1)])
    # filter on p: symmetric
    assert not _file_survives(old, [EqualTo(("p",), 0)])
    assert _file_survives(new, [EqualTo(("p",), 0)])


def test_mixed_layout_reads_prune_correctly_end_to_end(spark, tmp_path):
    register_txlog_source(spark)
    t = str(tmp_path / "tbl")
    tx_append_partitioned(spark, _mk(spark, 0, 12), t, partition_by="p")
    tx_set_partition_spec(spark, t, "q")
    tx_append_partitioned(spark, _mk(spark, 12, 24), t)

    reader = TxLogPruningBatchReader({"path": t})
    n_before = len(reader._live)
    reader.pushFilters([EqualTo(("q",), 0)])
    # every p-era file kept (conservative), q=1 files of the q-era pruned
    kept_cols = [a.get("partition_col") for a in reader._live.values()]
    assert all(
        a.get("partition_col") == "p" or a.get("partition") == "0"
        for a in reader._live.values()
    )
    assert reader._pruned > 0 and len(reader._live) < n_before
    assert "p" in kept_cols  # old era survived the q-filter

    # results are exact regardless of pruning
    df = (
        spark.read.format("txlog").option("path", t).load()
        .filter(F.col("q") == 0)
    )
    assert _rows(df) == _rows(_mk(spark, 0, 24).filter(F.col("q") == 0))


def test_compact_migrates_to_declared_spec(spark, tmp_path):
    t = str(tmp_path / "tbl")
    # two p-era commits -> multiple files per value, compaction triggers
    tx_append_partitioned(spark, _mk(spark, 0, 12), t, partition_by="p")
    tx_append_partitioned(spark, _mk(spark, 12, 24), t, partition_by="p")
    tx_set_partition_spec(spark, t, "q")
    removed = tx_compact(spark, t)
    assert removed > 0
    live = TransactionLog(t).live_actions()
    assert {a.get("partition_col") for a in live.values()} == {"q"}
    assert {a.get("partition") for a in live.values()} == {"0", "1"}
    assert _rows(tx_read(spark, t)) == _rows(_mk(spark, 0, 24))


def test_clone_carries_partition_spec(spark, tmp_path):
    t = str(tmp_path / "src")
    c = str(tmp_path / "dst")
    tx_append_partitioned(spark, _mk(spark, 0, 6), t, partition_by="p")
    tx_set_partition_spec(spark, t, "q")
    tx_clone(spark, t, c)
    assert TransactionLog(c).partition_spec() == "q"
    # clone's spec-defaulted append lays out by q
    tx_append_partitioned(spark, _mk(spark, 6, 12), c)
    cols = {
        a.get("partition_col")
        for a in TransactionLog(c).live_actions().values()
    }
    assert cols == {"p", "q"}
