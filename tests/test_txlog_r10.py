"""Round-10 txlog surfaces: typed zone columns in the checkpoint
sidecar, the checkpoint loader, and columnar scan planning
(`_LazyLive.prunable`) — the 1M-live-file crossover fix.

The round-10 curve measured the driver-side dict snapshot at 19.5 s
cold for 1M live files; scan planning needs three columns of it.  The
columnar answer must be EXACT vs the reference semantics (pruning is a
correctness surface: a lost file is wrong results, an extra prune is
lost data).
"""

from __future__ import annotations

import json
import os
import uuid as _uuid

import pytest

from cars_bids_data_pipeline_v0__spark.sources import txlog as TX


def _clear():
    TX._COMMIT_BODY_CACHE.clear()
    TX._CHECKPOINT_BODY_CACHE.clear()
    TX._SNAPSHOT_CACHE.clear()


def _add(i, stats):
    return {
        "path": f"data/{_uuid.uuid4().hex}.parquet",
        "partition": str(i % 3),
        "partition_col": "p",
        "bytes": 100 + i,
        "rows": 10 + i,
        "cols": {"id": "int64"},
        "stats": stats,
    }


def _dict_prune(table, col, lo, hi, upto=None):
    """The reference pruning semantics, computed independently."""
    live = TX.TransactionLog(table)._live_actions_shared(upto=upto)
    keep, pruned = [], 0
    for f in sorted(live):
        mm = (live[f].get("stats") or {}).get(col)
        if mm is None:
            keep.append(f)
            continue
        if (lo is not None and mm[1] < lo) or (
            hi is not None and mm[0] > hi
        ):
            pruned += 1
            continue
        keep.append(f)
    return keep, pruned


@pytest.fixture()
def sidecar_table(tmp_path):
    t = str(tmp_path / "tbl")
    log = TX.TransactionLog(t)
    adds = [_add(i, {"id": [i * 10, i * 10 + 9]}) for i in range(7)]
    adds.append(_add(7, None))  # one file with no stats: never prunable
    adds.append(_add(8, {"id": [80, 89], "name": ["aa", "zz"]}))
    assert log.try_commit(0, adds, [], op="append")
    log.checkpoint()
    return t, log, adds


def test_zone_columns_written_and_named(sidecar_table):
    t, log, _adds = sidecar_table
    body = json.loads(
        open(
            os.path.join(
                log.log_dir, "00000000000000000000.checkpoint.json"
            )
        ).read()
    )
    # numeric id qualifies; string-stats name does not
    assert body["zone_cols"] == ["id"]
    import pyarrow.parquet as pq

    side = pq.read_table(os.path.join(log.log_dir, body["live_parquet"]))
    names = set(side.schema.names)
    assert {"path", "rest_json", "zrows", "zmin:id", "zmax:id"} <= names
    assert "zmin:name" not in names
    # the no-stats file carries null zones (kept by every range)
    assert side.column("zmin:id").null_count == 1
    # zrows is row-aligned with the sorted-by-path live list
    assert side.column("zrows").to_pylist() == [
        a["rows"] for a in sorted(_adds, key=lambda a: a["path"])
    ]


def test_fastpath_engages_cold_and_equals_dict_path(sidecar_table):
    t, log, _adds = sidecar_table
    for lo, hi in [(0, 25), (None, 25), (30, None), (None, None), (1000, 2000)]:
        _clear()
        cold = TX.tx_prunable_files(t, "id", lo, hi)
        assert cold == _dict_prune(t, "id", lo, hi), (lo, hi)
        # warm (columns resident) answers the same
        assert TX.tx_prunable_files(t, "id", lo, hi) == cold


def test_fastpath_tail_adds_removes_and_readds(sidecar_table):
    t, log, adds = sidecar_table
    victim = adds[2]["path"]  # in-range file removed post-checkpoint
    readd = adds[3]["path"]  # same path re-added with NEW stats
    tail = [
        _add(100, {"id": [5000, 5100]}),  # prunable tail add
        _add(101, {"id": [0, 5]}),  # in-range tail add
        dict(_add(102, {"id": [1, 2]}), path=readd),  # re-add, new zone
    ]
    assert log.try_commit(1, tail, [victim], op="replace")
    _clear()
    fast = TX.tx_prunable_files(t, "id", 0, 25)
    assert fast == _dict_prune(t, "id", 0, 25)
    assert victim not in fast[0]
    assert readd in fast[0]


def test_fastpath_time_travel_version(sidecar_table):
    t, log, adds = sidecar_table
    assert log.try_commit(1, [_add(200, {"id": [0, 1]})], [], op="append")
    _clear()
    fast = TX.tx_prunable_files(t, "id", 0, 25, version=0)
    assert fast == _dict_prune(t, "id", 0, 25, upto=0)


def test_fastpath_declines_when_it_must(sidecar_table):
    """Where the zone columns cannot answer exactly — an unqualified
    (string-stats) column, string bounds, a >2^53 int bound that would
    round in float64 — every action compares in python, exactly like
    the reference, warm or cold."""
    t, log, _adds = sidecar_table
    for col, lo, hi in [
        ("id", 0, 25),  # qualified, warm below
        ("name", None, "m"),
        ("name", None, "a"),  # prunes the one file with name stats
        ("id", 2**53 + 1, None),
    ]:
        _clear()
        assert TX.tx_prunable_files(t, col, lo, hi) == _dict_prune(
            t, col, lo, hi
        ), (col, lo, hi)
        TX.TransactionLog(t)._live_actions_shared()
        assert TX.tx_prunable_files(t, col, lo, hi) == _dict_prune(
            t, col, lo, hi
        ), (col, lo, hi)
    assert TX.tx_prunable_files(t, "name", None, "a")[1] == 1
    assert TX.tx_prunable_files(t, "id", 2**53 + 1, None)[1] == 8
    # a string bound against numeric stats fails like the reference
    with pytest.raises(TypeError):
        _dict_prune(t, "id", "0", None)
    _clear()
    with pytest.raises(TypeError):
        TX.tx_prunable_files(t, "id", "0", None)


def test_zone_column_disqualifiers(tmp_path):
    t = str(tmp_path / "tbl")
    log = TX.TransactionLog(t)
    adds = [
        _add(0, {"f": [1.5, 2.5], "big": [1, 2], "b": [True, True]}),
        _add(1, {"f": [3.0, 4.0], "big": [2**53 + 7, 2**53 + 9]}),
        _add(2, {"f": [0.0, 1.0]}),
    ]
    assert log.try_commit(0, adds, [], op="append")
    log.checkpoint()
    body = json.loads(
        open(
            os.path.join(
                log.log_dir, "00000000000000000000.checkpoint.json"
            )
        ).read()
    )
    # pure floats qualify; bools never; big ints qualify only because no
    # float shares the column (int64 is exact)
    assert "f" in body["zone_cols"]
    assert "b" not in body["zone_cols"]
    assert "big" in body["zone_cols"]
    # mixed float + >2^53 int: disqualified (float64 would round)
    t2 = str(tmp_path / "tbl2")
    log2 = TX.TransactionLog(t2)
    adds2 = [
        _add(0, {"m": [1.5, 2.5]}),
        _add(1, {"m": [2**53 + 7, 2**53 + 9]}),
        _add(2, {"m": [0, 1]}),
    ]
    assert log2.try_commit(0, adds2, [], op="append")
    log2.checkpoint()
    body2 = json.loads(
        open(
            os.path.join(
                log2.log_dir, "00000000000000000000.checkpoint.json"
            )
        ).read()
    )
    assert "m" not in body2["zone_cols"]


def test_files_in_partitions_fastpath_equals_dict(sidecar_table):
    t, log, adds = sidecar_table
    parts = {"0", "2"}

    def dict_path():
        live = TX.TransactionLog(t)._live_actions_shared()
        return {
            f: a.get("partition")
            for f, a in live.items()
            if a.get("partition") in parts
        }

    _clear()
    fast = TX.tx_files_in_partitions(t, parts)
    assert fast == dict_path()
    # tail: add into partition 0, add into an unprobed partition,
    # remove a probed file, re-add a probed file under a new partition
    victim = next(
        f for f, p in dict_path().items() if p == "0"
    )
    moved = next(f for f, p in dict_path().items() if p == "2")
    tail = [
        dict(_add(300, None), partition="0"),
        dict(_add(301, None), partition="1"),
        dict(_add(302, None), path=moved, partition="1"),  # leaves parts
    ]
    assert log.try_commit(1, tail, [victim], op="replace")
    _clear()
    fast = TX.tx_files_in_partitions(t, parts)
    assert fast == dict_path()
    assert victim not in fast and moved not in fast
    # cold == warm
    _clear()
    cold = TX.tx_files_in_partitions(t, [0, 2])
    TX.TransactionLog(t)._live_actions_shared()
    assert TX.tx_files_in_partitions(t, [0, 2]) == cold == dict_path()


def test_files_in_partitions_unpartitioned_table(tmp_path):
    # fully unpartitioned table -> all-null zpartition column: the
    # answer is {} plus any tail adds that DO carry a matching
    # partition
    t = str(tmp_path / "tbl")
    log = TX.TransactionLog(t)
    adds = [
        dict(_add(i, {"id": [i, i]}), partition=None, partition_col=None)
        for i in range(3)
    ]
    assert log.try_commit(0, adds, [], op="append")
    log.checkpoint()
    _clear()
    assert TX.tx_files_in_partitions(t, ["0"]) == {}
    extra = dict(_add(10, None), partition="0")
    assert log.try_commit(1, [extra], [], op="append")
    _clear()
    assert TX.tx_files_in_partitions(t, ["0"]) == {extra["path"]: "0"}


def test_meta_loader_never_touches_the_sidecar(sidecar_table, monkeypatch):
    """dv_state_raw/constraints/hwm consumers must not open the
    sidecar's live list: poison the sidecar reader and drive them
    cold."""
    t, log, _adds = sidecar_table

    def boom(path):
        raise AssertionError(f"sidecar resolved by a metadata verb: {path}")

    _clear()
    monkeypatch.setattr(TX, "_read_live_sidecar", boom)
    l2 = TX.TransactionLog(t)
    assert l2.dv_state_raw() == {}
    assert l2.constraints() == {}
    assert l2.row_id_hwm() == 0
    assert l2.generated_cols() == {}
    # ... while the snapshot path (which NEEDS live) does resolve it
    with pytest.raises(AssertionError, match="sidecar resolved"):
        _clear()
        TX.TransactionLog(t)._live_actions_shared()


def test_sidecar_count_equals_dict_path(sidecar_table, spark, tmp_path):
    t, log, adds = sidecar_table
    # cold == warm, through the public API
    _clear()
    fast = TX.tx_count(t)
    TX.TransactionLog(t)._live_actions_shared()
    assert TX.tx_count(t) == fast == sum(a["rows"] for a in adds)
    # tail: add + remove, then recount cold
    victim = adds[1]["path"]
    extra = _add(50, {"id": [500, 509]})
    assert log.try_commit(1, [extra], [victim], op="replace")
    _clear()
    expect = sum(a["rows"] for a in adds) - adds[1]["rows"] + extra["rows"]
    assert TX.tx_count(t) == expect
    # time travel below the tail
    _clear()
    assert TX.tx_count(t, version=0) == sum(a["rows"] for a in adds)


def test_sidecar_count_subtracts_dvs(spark, tmp_path):
    """A real table with a DV delete: the cold sidecar count must equal
    the visible row count (DV cardinality subtracted, liveness via the
    sidecar path set)."""
    t = str(tmp_path / "tbl")
    df = spark.range(0, 100).selectExpr("id", "id % 5 AS k")
    TX.tx_append_partitioned(spark, df, t, partition_by="k")
    TX.tx_delete_where(spark, t, "id < 10", mode="dv")
    TX.TransactionLog(t).checkpoint()
    _clear()
    got = TX.tx_count(t)
    assert got == 90
    assert got == TX.tx_read(spark, t).count()


def test_meta_loader_missing_sidecar_demotes_checkpoint(sidecar_table):
    t, log, _adds = sidecar_table
    body = json.loads(
        open(
            os.path.join(
                log.log_dir, "00000000000000000000.checkpoint.json"
            )
        ).read()
    )
    os.remove(os.path.join(log.log_dir, body["live_parquet"]))
    _clear()
    # no older checkpoint exists -> resolution yields nothing, exactly
    # like the torn-checkpoint fallback
    assert TX.TransactionLog(t)._latest_checkpoint_body() is None
