"""The one metadata read path: every checkpoint is a parquet sidecar,
every snapshot a `_LazyLive`, and count / prune / partition listing are
its methods.  These pin the path against the no-checkpoint replay of the
same log, the sidecar of a one-file table, and a cached snapshot whose
sidecar file is unlinked underneath it."""

from __future__ import annotations

import json
import os
import shutil
import uuid as _uuid

import pyarrow.parquet as pq
import pytest

from cars_bids_data_pipeline_v0__spark.sources import txlog as TX
from tests.fixtures import arrow_append


def _clear():
    TX._COMMIT_BODY_CACHE.clear()
    TX._CHECKPOINT_BODY_CACHE.clear()
    TX._SNAPSHOT_CACHE.clear()


def _add(i, partition):
    return {
        "path": f"data/{i:04d}-{_uuid.uuid4().hex}.parquet",
        "partition": partition,
        "partition_col": "p",
        "bytes": 1024,
        "rows": 10 + i,
        "cols": {"id": "int64"},
        "stats": {"id": [i * 10, i * 10 + 9]},
    }


def test_one_file_table_checkpoint_writes_a_sidecar(tmp_path):
    t = str(tmp_path / "tbl")
    log = TX.TransactionLog(t)
    arrow_append(log, [1, 2, 3])
    assert log.checkpoint() == 0
    body = json.load(open(log._checkpoint_path(0)))
    assert "live" not in body
    side = pq.read_table(os.path.join(log.log_dir, body["live_parquet"]))
    assert side.column("path").to_pylist() == list(log.live_files())
    assert side.column("zrows").to_pylist() == [3]
    _clear()
    snap = TX.TransactionLog(t)._live_actions_shared()
    assert len(snap._base) == 1 and not snap._overlay
    assert TX.tx_count(t) == 3


def test_cached_snapshot_serves_after_its_sidecar_is_unlinked(tmp_path):
    """The snapshot keeps its sidecar open: once `tx_truncate_log`
    deletes the checkpoint it was built on, the cached snapshot still
    reads the columns it had not touched yet."""
    t = str(tmp_path / "tbl")
    log = TX.TransactionLog(t)
    adds = [_add(i, str(i % 2)) for i in range(6)]
    assert log.try_commit(0, adds[:4], [], op="append")
    log.checkpoint()
    side = os.path.join(
        log.log_dir, json.load(open(log._checkpoint_path(0)))["live_parquet"]
    )
    assert log.try_commit(1, adds[4:], [adds[0]["path"]], op="replace")
    _clear()
    snap = TX.TransactionLog(t)._live_actions_shared()
    log.checkpoint()
    rep = TX.tx_truncate_log(t, keep_checkpoints=1)
    assert rep["checkpoints_deleted"] == 2 and not os.path.exists(side)
    assert TX.TransactionLog(t)._live_actions_shared() is snap

    live = {a["path"]: a for a in adds[1:]}
    assert dict(TX.TransactionLog(t).live_actions().items()) == live
    assert TX.tx_count(t) == sum(a["rows"] for a in live.values())
    assert TX.tx_prunable_files(t, "id", 0, 25) == (
        sorted(a["path"] for a in adds[1:3]), 3
    )


@pytest.fixture(scope="module")
def history(spark, tmp_path_factory):
    """v0 append, v1 tail append, v2 DV delete, v3 copy-on-write delete
    (remove + add), v4 restore to v2 (re-adds the paths v3 removed)."""
    t = str(tmp_path_factory.mktemp("history") / "tbl")

    def batch(lo, hi):
        return spark.range(lo, hi).selectExpr(
            "id", "CAST(id % 3 AS STRING) AS p"
        )

    TX.tx_append_partitioned(
        spark, batch(0, 30), t, partition_by="p", stats_cols=["id"]
    )
    TX.tx_append_partitioned(
        spark, batch(30, 60), t, partition_by="p", stats_cols=["id"]
    )
    TX.tx_delete_where(spark, t, "id < 4", mode="dv")
    TX.tx_delete_where(spark, t, "id >= 55")
    TX.tx_restore(spark, t, version=2)
    assert TX.TransactionLog(t).version() == 4
    return t


def _verbs(t, monkeypatch):
    """Every metadata verb at every version, each from cold caches."""
    out = {}
    for v in (None, 0, 1, 2, 3, 4):
        _clear()
        out[v] = (
            TX.tx_count(t, version=v),
            TX.tx_prunable_files(t, "id", 10, 40, version=v),
            TX.tx_files_in_partitions(t, ["0", "2"], version=v),
        )
        # warm: the same snapshot, columns resident
        assert out[v] == (
            TX.tx_count(t, version=v),
            TX.tx_prunable_files(t, "id", 10, 40, version=v),
            TX.tx_files_in_partitions(t, ["0", "2"], version=v),
        )
    picks = []
    monkeypatch.setattr(
        TX, "tx_compact",
        lambda spark, path, partitions=None:
            picks.append(partitions),
    )
    _clear()
    out["optimize"] = (TX.tx_optimize_auto(None, t, min_small_files=2), picks)
    return out


@pytest.mark.parametrize("at", [0, 1, 2, 3, 4])
def test_checkpoint_at_any_version_answers_like_replay(
    history, tmp_path, monkeypatch, at
):
    plain = str(tmp_path / "plain")
    ckpt = str(tmp_path / "ckpt")
    shutil.copytree(history, plain)
    shutil.copytree(history, ckpt)

    class _LogAt(TX.TransactionLog):
        """The log as it stood when version ``at`` was the newest."""

        def version(self) -> int:
            return at

    assert _LogAt(ckpt).checkpoint() == at
    assert TX.TransactionLog(ckpt)._checkpoint_versions() == [at]

    want = _verbs(plain, monkeypatch)
    assert [want[v][0] for v in range(5)] == [30, 60, 56, 51, 56]
    assert want["optimize"][0] == ["0", "1", "2"]
    assert _verbs(ckpt, monkeypatch) == want


def test_cold_snapshot_parses_the_sidecar_footer_once(tmp_path, monkeypatch):
    """The checkpoint loader parses the sidecar's footer to validate it;
    the snapshot that opens the sidecar reuses that parse."""
    t = str(tmp_path / "tbl")
    log = TX.TransactionLog(t)
    arrow_append(log, [1, 2, 3])
    arrow_append(log, [4])
    assert log.checkpoint() == 1
    _clear()
    TX._SIDECAR_FOOTER_CACHE.clear()

    import pyarrow.parquet.core as pq_core

    parses = []
    real = pq.ParquetFile

    def counting(source, *args, metadata=None, **kwargs):
        if metadata is None:
            parses.append(source)
        return real(source, *args, metadata=metadata, **kwargs)

    # pq.read_metadata opens its ParquetFile through the core module
    monkeypatch.setattr(pq, "ParquetFile", counting)
    monkeypatch.setattr(pq_core, "ParquetFile", counting)
    snap = TX.TransactionLog(t)._live_actions_shared()
    assert len(snap) == 2
    assert len(parses) == 1
