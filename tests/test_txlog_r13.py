"""Round-13 txlog surfaces: the LAZY columnar snapshot
(`_SidecarBase`/`_LazyLive`) and the zbytes small-file policy column.

Round 12 fixed the checkpoint WRITE side (fork-parallel sidecar
build); the cold READ remained the metadata plane's last O(n) driver
cost — 194–248 s at 10M live files, ~60 s of json parse plus ~80 s of
`_copy_tree` per cold `live_actions`.  Round 13 keeps the live set
columnar: the sidecar's columns are read on first use (its footer at
load, so torn-checkpoint semantics are unchanged) and action dicts
materialize per-verb —
point lookups bisect the path-sorted sidecar, full iterations
batch-parse in chunks, and the public `live_actions` hands out
fresh-parsed (therefore private) dicts instead of `_copy_tree` copies.

Everything here pins the lazy path EXACT against the plain replay
path, because the snapshot is the correctness root of every other
verb.
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


def _add(i, stats=None, partition=None, nbytes=None):
    return {
        "path": f"data/{i:04d}-{_uuid.uuid4().hex}.parquet",
        "partition": partition,
        "partition_col": "p" if partition is not None else None,
        "bytes": nbytes if nbytes is not None else 100 * 1024 * 1024,
        "rows": 10 + i,
        "cols": {"id": "int64"},
        "stats": stats if stats is not None else {"id": [i * 10, i * 10 + 9]},
    }


def _replay_expect(log, upto=None):
    """Ground truth: pure commit replay into a plain dict, bypassing
    checkpoints entirely."""
    live: dict = {}
    for v in log.versions():
        if upto is not None and v > upto:
            break
        act = json.load(open(log._commit_path(v)))
        for a in act.get("add", []):
            live[a["path"]] = a
        for r in act.get("remove", []):
            live.pop(r, None)
    return live


@pytest.fixture()
def lazy_table(tmp_path):
    """A sidecar-checkpointed table WITH a post-checkpoint tail that
    exercises every overlay transition: plain add, remove of a base
    path, re-add (shadow) of a base path, add-then-remove in the tail."""
    t = str(tmp_path / "tbl")
    log = TX.TransactionLog(t)
    adds = [_add(i, partition=str(i % 3)) for i in range(8)]
    assert log.try_commit(0, adds, [], op="append")
    log.checkpoint()
    # tail: remove adds[0]; re-add adds[1]'s path with new stats
    # (shadow); brand-new file; one file added then removed
    readd = dict(adds[1])
    readd["stats"] = {"id": [500, 599]}
    readd["rows"] = 999
    new = _add(100, partition="9")
    ghost = _add(101, partition="9")
    assert log.try_commit(1, [readd, new, ghost], [adds[0]["path"]], op="upsert")
    assert log.try_commit(2, [], [ghost["path"]], op="delete")
    return t, log, adds, readd, new


def test_lazy_snapshot_is_lazy_and_exact(lazy_table):
    t, log, adds, readd, new = lazy_table
    expect = _replay_expect(log)
    _clear()
    got = TX.TransactionLog(t)._live_actions_shared()
    assert isinstance(got, TX._LazyLive)
    # Mapping surface, all of it
    assert len(got) == len(expect)
    assert set(got) == set(expect)
    assert dict(got.items()) == expect
    assert sorted(got) == sorted(expect)
    for p, a in expect.items():
        assert p in got
        assert got[p] == a
        assert got.get(p) == a
    assert got.get("data/absent.parquet") is None
    with pytest.raises(KeyError):
        got["data/absent.parquet"]
    # removed base path really gone
    assert adds[0]["path"] not in got
    # shadowed path serves the overlay action, not the base row
    assert got[readd["path"]]["rows"] == 999
    # values() view agrees
    assert sorted(a["path"] for a in got.values()) == sorted(expect)
    # __eq__ both shapes
    assert got == expect
    assert not (got != expect)


def test_lazy_equals_eager_across_time_travel(lazy_table):
    t, log, adds, readd, new = lazy_table
    for v in (0, 1, 2):
        _clear()
        got = TX.TransactionLog(t)._live_actions_shared(upto=v)
        assert dict(got.items()) == _replay_expect(log, upto=v), v


def test_live_actions_handout_is_mutation_safe(lazy_table):
    t, log, adds, readd, new = lazy_table
    _clear()
    la = TX.TransactionLog(t).live_actions()
    assert isinstance(la, TX._LazyLive)
    # mutate a base-parsed action's nested stats: must not reach caches
    victim = adds[2]["path"]
    d = la[victim]
    d["stats"]["id"][0] = -777
    d["rows"] = -1
    assert TX.TransactionLog(t)._live_actions_shared()[victim]["rows"] == adds[2]["rows"]
    assert TX.TransactionLog(t).live_actions()[victim]["stats"]["id"][0] == adds[2]["stats"]["id"][0]
    # mutate an OVERLAY action (deep-copied on handout)
    d2 = la[readd["path"]]
    d2["stats"]["id"][0] = -888
    assert (
        TX.TransactionLog(t)._live_actions_shared()[readd["path"]]["stats"]["id"][0]
        == 500
    )
    # mutate the mapping itself: pop + set must stay private
    la.pop(victim)
    la[new["path"]] = {"path": new["path"], "rows": 0}
    shared = TX.TransactionLog(t)._live_actions_shared()
    assert victim in shared
    assert shared[new["path"]]["rows"] == new["rows"]


def test_live_files_matches_dict_projection(lazy_table):
    t, log, adds, readd, new = lazy_table
    expect = {
        p: a.get("partition") for p, a in _replay_expect(log).items()
    }
    _clear()
    assert TX.TransactionLog(t).live_files() == expect


def test_warm_lazy_snapshot_keeps_columnar_fast_paths(lazy_table):
    t, log, adds, readd, new = lazy_table
    # ground truth, computed independently of the snapshot methods
    expect_live = _replay_expect(log)
    keep_e, pruned_e = [], 0
    for f, a in sorted(expect_live.items()):
        mm = (a.get("stats") or {}).get("id")
        if mm is None:
            keep_e.append(f)
        elif mm[1] < 0 or mm[0] > 45:
            pruned_e += 1
        else:
            keep_e.append(f)
    _clear()
    # WARM the lazy snapshot first: the methods answer the same warm
    TX.TransactionLog(t)._live_actions_shared()
    keep, pruned = TX.tx_prunable_files(t, "id", 0, 45)
    assert (keep, pruned) == (sorted(keep_e), pruned_e)
    n = TX.tx_count(t)
    assert n == sum(a["rows"] for a in expect_live.values())
    got = TX.tx_files_in_partitions(t, ["9"])
    assert got == {
        p: a["partition"]
        for p, a in expect_live.items()
        if a.get("partition") == "9"
    }


def test_optimize_policy_columnar_matches_dict_path(tmp_path, monkeypatch):
    t = str(tmp_path / "tbl")
    log = TX.TransactionLog(t)
    adds = (
        [_add(i, partition="a", nbytes=1024) for i in range(4)]  # 4 small
        + [_add(10 + i, partition="b", nbytes=1024) for i in range(3)]  # 3 small
        + [_add(20 + i, partition="b", nbytes=256 * 1024 * 1024) for i in range(3)]
        + [_add(30, partition="c", nbytes=None)]  # bytes recorded (default)
    )
    assert log.try_commit(0, adds, [], op="append")
    log.checkpoint()
    # tail: one more small file in 'c' via overlay
    tail = [_add(40, partition="c", nbytes=1024)]
    assert log.try_commit(1, tail, [], op="append")
    _clear()
    snap = TX.TransactionLog(t)._live_actions_shared()
    assert isinstance(snap, TX._LazyLive)
    by_part = snap.small_file_counts(32 * 1024 * 1024)
    expect: dict = {}
    for a in adds + tail:
        if a["bytes"] is None or a["bytes"] < 32 * 1024 * 1024:
            expect[a["partition"]] = expect.get(a["partition"], 0) + 1
    assert by_part == expect
    # the policy itself picks only 'a' (4 small >= min 4)
    compacted = []
    monkeypatch.setattr(
        TX, "tx_compact",
        lambda spark, path, partitions=None: compacted.append(partitions),
    )
    picked = TX.tx_optimize_auto(None, t)
    assert picked == ["a"] and compacted == [["a"]]


def test_unsorted_sidecar_falls_back_to_index(tmp_path):
    """find() trusts the path-sorted layout both build paths write; an
    externally-rewritten (unsorted) sidecar must still answer every
    lookup via the dict-index fallback."""
    import pyarrow as pa

    acts = [_add(i) for i in range(7)]
    rows = sorted(acts, key=lambda a: a["path"], reverse=True)  # WRONG order
    base = TX._SidecarBase(
        pa.table(
            {
                "path": [a["path"] for a in rows],
                "rest_json": [
                    json.dumps({k: v for k, v in a.items() if k != "path"})
                    for a in rows
                ],
                "zpartition": [a.get("partition") for a in rows],
            }
        )
    )
    assert base._check_sorted() is False
    for a in acts:
        i = base.find(a["path"])
        assert i >= 0
        assert base.action_at(i) == a
    assert base.find("data/zzz-absent.parquet") == -1
    lazy = TX._LazyLive(base)
    assert dict(lazy.items()) == {a["path"]: a for a in acts}


def test_checkpoint_full_rebuild_from_lazy_snapshot(lazy_table, monkeypatch):
    """When the O(delta) extension cannot run (the previous sidecar was
    torn after the snapshot read it), checkpoint() must materialize the
    lazy snapshot and produce a byte-faithful full sidecar."""
    t, log, adds, readd, new = lazy_table
    expect = _replay_expect(log)
    _clear()
    log2 = TX.TransactionLog(t)
    snap = log2._live_actions_shared()
    assert dict(snap.items()) == expect  # base columns now resident
    body = json.load(open(log._checkpoint_path(0)))
    with open(os.path.join(log.log_dir, body["live_parquet"]), "w") as fh:
        fh.write("not parquet")
    built = []
    full_build = TX._build_live_table

    def spy(live):
        built.append(len(live))
        return full_build(live)

    monkeypatch.setattr(TX, "_build_live_table", spy)
    log2.checkpoint()
    assert built == [len(expect)]
    _clear()
    got = TX.TransactionLog(t)._live_actions_shared()
    assert dict(got.items()) == expect


def test_fsck_forked_parse_and_scan_match_serial(tmp_path, monkeypatch):
    """The forked commit-parse and existence-scan must produce the
    exact serial report — planted double-add, dangling remove, missing
    files and all."""
    t = str(tmp_path / "tbl")
    log = TX.TransactionLog(t)
    adds = [_add(i) for i in range(40)]
    assert log.try_commit(0, adds[:20], [], op="append")
    # double-add adds[3]; dangling remove of a never-added path
    assert log.try_commit(
        1, adds[20:] + [adds[3]], ["data/never-added.parquet"], op="upsert"
    )
    # one REAL file so the missing list isn't everything
    os.makedirs(os.path.join(t, "data"), exist_ok=True)
    real = adds[5]["path"]
    with open(os.path.join(t, real), "wb") as f:
        f.write(b"x")
    serial = TX.tx_fsck(t)
    monkeypatch.setattr(TX, "_FSCK_PARALLEL_MIN_BYTES", 0)
    monkeypatch.setattr(TX, "_FSCK_PARALLEL_MIN_FILES", 1)
    forked = TX.tx_fsck(t)
    assert forked == serial
    assert forked["double_adds"] == [(1, adds[3]["path"])]
    assert forked["dangling_removes"] == [(1, "data/never-added.parquet")]
    assert real not in forked["missing_files"]
    assert len(forked["missing_files"]) == 39
    assert forked["ok"] is False


def test_fsck_report_lists_are_capped_with_exact_totals(
    tmp_path, monkeypatch
):
    t = str(tmp_path / "tbl")
    log = TX.TransactionLog(t)
    adds = [_add(i) for i in range(9)]
    assert log.try_commit(0, adds, [], op="append")
    monkeypatch.setattr(TX, "_FSCK_REPORT_CAP", 3)
    rep = TX.tx_fsck(t)
    assert len(rep["missing_files"]) == 3
    assert rep["missing_files_total"] == 9
    assert rep["ok"] is False
    # under the cap: no *_total key appears (report shape unchanged)
    assert "double_adds_total" not in rep


def test_delta_export_forked_is_byte_identical(
    spark, tmp_path, monkeypatch
):
    """The forked per-file export pass (footer check + stat + NDJSON)
    must write byte-identical output to the serial path."""
    from cars_bids_data_pipeline_v0__spark.sources.txlog import (
        tx_append_partitioned, tx_export_delta_log,
    )

    t = str(tmp_path / "tbl")
    df = spark.range(0, 60).selectExpr(
        "CAST(id AS INT) AS id", "CAST(id % 5 AS STRING) AS p"
    ).repartition(6)
    tx_append_partitioned(spark, df, t, partition_by="p")
    out_a = str(tmp_path / "exp_serial")
    out_b = str(tmp_path / "exp_forked")
    tx_export_delta_log(t, out_dir=out_a)
    monkeypatch.setattr(TX, "_EXPORT_PARALLEL_MIN", 1)
    tx_export_delta_log(t, out_dir=out_b)

    def read_log(root):
        p = os.path.join(root, "_delta_log", f"{0:020d}.json")
        return open(p, "rb").read()

    a, b = read_log(out_a), read_log(out_b)
    # commitInfo carries a wall-clock timestamp: normalize it (and the
    # matching metaData createdTime) before comparing
    import re

    def norm(s):
        s = re.sub(rb'"timestamp": \d+', b'"timestamp": 0', s)
        return re.sub(rb'"createdTime": \d+', b'"createdTime": 0', s)

    assert norm(a) == norm(b)
    # and the export still round-trips through the replay reader
    from cars_bids_data_pipeline_v0__spark.sources.txlog import (
        tx_read, tx_read_delta_export,
    )

    got = tx_read_delta_export(spark, out_b)
    assert sorted(r["id"] for r in got.collect()) == list(range(60))
    assert got.count() == tx_read(spark, t).count()


def test_delta_export_forked_detects_schema_divergence(
    spark, tmp_path, monkeypatch
):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from cars_bids_data_pipeline_v0__spark.sources.txlog import (
        tx_append_partitioned, tx_export_delta_log,
    )

    t = str(tmp_path / "tbl")
    df = spark.range(0, 30).selectExpr(
        "CAST(id AS INT) AS id", "CAST(id % 3 AS STRING) AS p"
    ).repartition(3)
    tx_append_partitioned(spark, df, t, partition_by="p")
    live = sorted(TX.TransactionLog(t).live_files())
    # rewrite the LAST live file with a divergent schema
    victim = os.path.join(t, live[-1])
    pq.write_table(pa.table({"other": [1, 2]}), victim)
    monkeypatch.setattr(TX, "_EXPORT_PARALLEL_MIN", 1)
    with pytest.raises(ValueError, match="schema divergence"):
        tx_export_delta_log(t, out_dir=str(tmp_path / "exp"))


def test_lazy_snapshot_survives_log_truncation(lazy_table):
    t, log, adds, readd, new = lazy_table
    expect = _replay_expect(log)
    log.checkpoint()
    TX.tx_truncate_log(t, keep_checkpoints=1)
    _clear()
    got = TX.TransactionLog(t)._live_actions_shared()
    assert dict(got.items()) == expect


def test_dml_rewrites_over_lazy_snapshot(spark, tmp_path):
    """Rewrite verbs (DELETE/UPDATE/MERGE) and compaction must work
    unchanged when the snapshot is a _LazyLive (sidecar-backed) — the
    round-13 lazy read path feeds the same action dicts the eager path
    did."""
    t = str(tmp_path / "tbl")
    df = spark.range(0, 100).selectExpr(
        "id", "CAST(id % 4 AS STRING) AS p", "id * 2 AS v"
    ).repartition(4)
    TX.tx_append_partitioned(spark, df, t, partition_by="p",
                             stats_cols=["id"])
    log = TX.TransactionLog(t)
    log.checkpoint()
    _clear()
    snap = TX.TransactionLog(t)._live_actions_shared()
    assert isinstance(snap, TX._LazyLive)
    n_del = TX.tx_delete_where(spark, t, "id < 10")
    assert n_del == 10
    n_upd = TX.tx_update_where(spark, t, {"v": "v + 1"}, "id >= 90")
    assert n_upd == 10
    src = spark.range(95, 105).selectExpr(
        "id", "CAST(id % 4 AS STRING) AS p", "id * 100 AS v"
    )
    res = TX.tx_merge_into(
        spark, t, src, on=["id"],
        when_matched_update={"v": "s.v"},
        when_not_matched_insert=True,
    )
    assert res["updated"] == 5 and res["inserted"] == 5
    got = {
        r["id"]: r["v"] for r in TX.tx_read(spark, t).collect()
    }
    assert len(got) == 95                      # 100 - 10 del + 5 ins
    assert got[5] if 5 in got else True
    assert 0 not in got and 9 not in got
    assert got[90] == 90 * 2 + 1               # update applied
    assert got[95] == 95 * 100                 # merge overwrote update
    assert got[89] == 89 * 2                   # untouched
    assert got[104] == 104 * 100               # inserted
    # compact over the lazy snapshot, checkpoint again, replay parity
    TX.tx_compact(spark, t)
    log2 = TX.TransactionLog(t)
    log2.checkpoint()
    _clear()
    got2 = {
        r["id"]: r["v"] for r in TX.tx_read(spark, t).collect()
    }
    assert got2 == got
