"""Round-10b: O(delta) checkpoint-sidecar extension.

The sidecar WRITE was the metadata plane's last O(n) driver cost
(13–16 s rebuilding 1M rows of rest_json + zone columns already sitting
in the previous checkpoint).  `_extend_live_sidecar` reuses the prior
sidecar's rows for untouched paths and computes only the delta; these
tests pin EXACT equality against the full rebuild — a checkpoint is a
correctness surface (every reader replays from it)."""

from __future__ import annotations

import json
import os
import uuid as _uuid

import pyarrow.parquet as pq
import pytest

from cars_bids_data_pipeline_v0__spark.sources import txlog as TX


def _clear():
    TX._COMMIT_BODY_CACHE.clear()
    TX._CHECKPOINT_BODY_CACHE.clear()
    TX._SNAPSHOT_CACHE.clear()


def _add(i, stats, path=None):
    return {
        "path": path or f"data/{_uuid.uuid4().hex}.parquet",
        "partition": str(i % 3),
        "partition_col": "p",
        "bytes": 100 + i,
        "rows": 10 + i,
        "cols": {"id": "int64"},
        "stats": stats,
    }


def _sidecar_rows(log):
    body = json.load(
        open(os.path.join(log.log_dir, sorted(
            f for f in os.listdir(log.log_dir)
            if f.endswith(".checkpoint.json")
        )[-1]))
    )
    t = pq.read_table(os.path.join(log.log_dir, body["live_parquet"]))
    return body, t.to_pydict()


def _ref_prune(live, col, lo, hi):
    """The reference pruning semantics, computed independently."""
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


def _force_full_rebuild(monkeypatch, log):
    """Re-run checkpoint() with the incremental path disabled — the
    checkpoint file names are version-keyed, so this overwrites the
    incremental artifact with the full-rebuild one."""

    def boom(self, prev_ck, acts, v):
        raise RuntimeError("disabled")

    monkeypatch.setattr(TX.TransactionLog, "_extend_live_sidecar", boom)
    _clear()
    log.checkpoint()


@pytest.fixture()
def base_table(tmp_path):
    t = str(tmp_path / "tbl")
    log = TX.TransactionLog(t)
    adds = [_add(i, {"id": [i * 10, i * 10 + 9]}) for i in range(7)]
    adds.append(_add(7, None))  # no-stats file: null zones
    assert log.try_commit(0, adds, [], op="append")
    log.checkpoint()
    return t, log, adds


def test_incremental_equals_full_rebuild(base_table, monkeypatch):
    t, log, adds = base_table
    # delta: 3 new files, 2 removes, 1 RE-ADD of a surviving path with
    # CHANGED stats (the new action row must win over the stale one)
    new = [_add(10 + i, {"id": [500 + i, 509 + i]}) for i in range(3)]
    readd = dict(adds[3])
    readd["stats"] = {"id": [9000, 9001]}
    readd["rows"] = 777
    assert log.try_commit(
        1,
        new + [readd],
        [adds[0]["path"], adds[1]["path"]],
        op="mixed",
    )
    calls = []
    orig = TX._build_live_cols

    def spy(live):
        calls.append(len(live))
        return orig(live)

    monkeypatch.setattr(TX, "_build_live_cols", spy)
    _clear()
    log.checkpoint()
    # the incremental path engaged: the column builder saw only the
    # 4 touched-and-live rows, not all 10
    assert calls and max(calls) == 4, calls
    body_inc, rows_inc = _sidecar_rows(log)
    _force_full_rebuild(monkeypatch, log)
    body_full, rows_full = _sidecar_rows(log)
    assert rows_inc == rows_full
    assert body_inc["zone_cols"] == body_full["zone_cols"] == ["id"]
    assert body_inc["zone_flags"] == body_full["zone_flags"]
    # the re-added path carries its NEW action
    i = rows_inc["path"].index(readd["path"])
    assert rows_inc["zmin:id"][i] == 9000
    assert rows_inc["zrows"][i] == 777
    assert json.loads(rows_inc["rest_json"][i])["rows"] == 777
    # removed paths are gone
    assert adds[0]["path"] not in rows_inc["path"]


def test_delta_disqualifies_column_conservatively(base_table, monkeypatch):
    t, log, adds = base_table
    # delta brings a float AND a >2^53 int for "id": float64 would
    # round, so the merged flags must drop it from zone_cols
    assert log.try_commit(
        1,
        [
            _add(20, {"id": [1.5, 2.5]}),
            _add(21, {"id": [2**60, 2**60 + 1]}),
        ],
        [],
        op="append",
    )
    _clear()
    log.checkpoint()
    body, rows = _sidecar_rows(log)
    assert body["zone_cols"] == []
    assert body["zone_flags"]["id"] == [True, True, True]
    assert "zmin:id" not in rows
    # scan planning still EXACT: without zone columns every action
    # compares in python
    _clear()
    live = TX.TransactionLog(t)._live_actions_shared()
    assert TX.tx_prunable_files(t, "id", 0, 25) == _ref_prune(
        live, "id", 0, 25
    )


def test_new_column_appears_with_null_backfill(base_table, monkeypatch):
    t, log, adds = base_table
    assert log.try_commit(
        1, [_add(30, {"id": [600, 609], "w": [1, 2]})], [], op="append"
    )
    _clear()
    log.checkpoint()
    body_inc, rows_inc = _sidecar_rows(log)
    assert body_inc["zone_cols"] == ["id", "w"]
    # old rows: null w-zones; the one new row carries values
    assert rows_inc["zmin:w"].count(None) == len(adds)
    assert 1 in rows_inc["zmin:w"]
    _force_full_rebuild(monkeypatch, log)
    _body_full, rows_full = _sidecar_rows(log)
    assert rows_inc == rows_full


def test_int_column_upcasts_exactly_on_float_delta(base_table, monkeypatch):
    t, log, adds = base_table
    assert log.try_commit(
        1, [_add(40, {"id": [0.5, 1.5]})], [], op="append"
    )
    _clear()
    log.checkpoint()
    body, rows = _sidecar_rows(log)
    assert body["zone_cols"] == ["id"]
    assert body["zone_flags"]["id"] == [True, True, False]
    # reused int rows upcast exactly; the float row is verbatim
    assert 0.5 in rows["zmin:id"] and 0.0 in rows["zmin:id"]
    _force_full_rebuild(monkeypatch, log)
    _bf, rows_full = _sidecar_rows(log)
    assert rows == rows_full


def test_old_format_checkpoint_falls_back_to_full_build(
    base_table, monkeypatch
):
    t, log, adds = base_table
    # tear the v0 sidecar: the checkpoint is demoted, and the next one
    # is a full build from the commit log
    p = os.path.join(log.log_dir, "00000000000000000000.checkpoint.json")
    body = json.load(open(p))
    with open(os.path.join(log.log_dir, body["live_parquet"]), "w") as fh:
        fh.write("not parquet")
    assert log.try_commit(1, [_add(50, {"id": [1, 2]})], [], op="append")
    _clear()
    log.checkpoint()  # must not raise; full build path
    body1, rows1 = _sidecar_rows(log)
    assert body1["zone_cols"] == ["id"]
    assert len(rows1["path"]) == len(adds) + 1
    # and the NEXT checkpoint extends incrementally off the new format
    assert log.try_commit(2, [_add(51, {"id": [3, 4]})], [], op="append")
    calls = []
    orig = TX._build_live_cols

    def spy(live):
        calls.append(len(live))
        return orig(live)

    monkeypatch.setattr(TX, "_build_live_cols", spy)
    _clear()
    log.checkpoint()
    assert calls and max(calls) == 1, calls


def test_pruning_exact_after_incremental_checkpoint(base_table):
    t, log, adds = base_table
    assert log.try_commit(
        1,
        [_add(60 + i, {"id": [700 + 10 * i, 709 + 10 * i]})
         for i in range(3)],
        [adds[2]["path"]],
        op="mixed",
    )
    _clear()
    log.checkpoint()
    live = dict(TX.TransactionLog(t)._live_actions_shared().items())
    for lo, hi in [(0, 25), (700, 715), (None, None), (5000, 6000)]:
        _clear()
        assert TX.tx_prunable_files(t, "id", lo, hi) == _ref_prune(
            live, "id", lo, hi
        ), (lo, hi)


def test_incremental_after_log_truncation(base_table, monkeypatch):
    """checkpoint → truncate_log → commit → checkpoint: the extension
    only replays commits AFTER the previous checkpoint, so a truncated
    prefix is irrelevant — and the rest_json of rows reconstructed FROM
    a sidecar (post-truncation snapshots) must still byte-match."""
    t, log, adds = base_table
    assert log.try_commit(1, [_add(70, {"id": [1, 2]})], [], op="append")
    _clear()
    log.checkpoint()  # v1, incremental
    TX.tx_truncate_log(t, keep_checkpoints=1)
    _clear()
    assert log.try_commit(2, [_add(71, {"id": [3, 4]})], [], op="append")
    _clear()
    log.checkpoint()  # v2, incremental over the truncated log
    body_inc, rows_inc = _sidecar_rows(log)
    _force_full_rebuild(monkeypatch, log)
    _bf, rows_full = _sidecar_rows(log)
    assert rows_inc == rows_full
    assert len(rows_inc["path"]) == len(adds) + 2


def test_random_delta_rounds_equal_full_rebuild(tmp_path, monkeypatch):
    """Model-based: several rounds of random add/remove/re-add deltas,
    each followed by a checkpoint — after every round the incremental
    sidecar must match the forced full rebuild on the TRUE invariant:
    identical live rows (path/rest_json/zrows/zpartition), incremental
    zone_cols a subset of the full rebuild's (monotone flags are
    CONSERVATIVE: a column a since-removed file disqualified stays
    disqualified until a full rebuild), and common zone columns
    value-equal (int64 vs float64 typing may differ when the
    float-introducing file was removed).  Paths are deterministic so
    the fixed seed replays the same scenario every run."""
    import random

    rng = random.Random(20260816)
    t = str(tmp_path / "tbl")
    log = TX.TransactionLog(t)
    counter = iter(range(10_000))

    def det_add(i, stats):
        return _add(i, stats, path=f"data/f{next(counter):05d}.parquet")

    pool = [det_add(i, {"id": [i * 10, i * 10 + 9]}) for i in range(12)]
    assert log.try_commit(0, pool[:8], [], op="append")
    _clear()
    log.checkpoint()
    live = {a["path"]: a for a in pool[:8]}
    fresh = list(pool[8:])
    v = 1
    for _ in range(6):
        adds, removes = [], []
        for _ in range(rng.randint(1, 3)):
            if fresh and rng.random() < 0.7:
                a = fresh.pop()
            else:
                a = det_add(
                    rng.randint(100, 999),
                    rng.choice(
                        [
                            {"id": [rng.randint(0, 50), 60]},
                            {"id": [0.5, float(rng.randint(1, 9))]},
                            {"id": [1, 2], "w": [rng.randint(0, 9), 10]},
                            None,
                        ]
                    ),
                )
            adds.append(a)
        for p in rng.sample(sorted(live), k=min(2, len(live))):
            if rng.random() < 0.5:
                removes.append(p)
            else:  # re-add with changed stats
                r = dict(live[p])
                r["stats"] = {"id": [rng.randint(0, 99), 100]}
                adds.append(r)
        assert log.try_commit(v, adds, removes, op="mixed")
        v += 1
        for p in removes:
            live.pop(p)
        for a in adds:
            live[a["path"]] = a
        _clear()
        log.checkpoint()
        body_inc, rows_inc = _sidecar_rows(log)
        # forced full rebuild — restore the real method afterwards so
        # the NEXT round extends incrementally again
        real = TX.TransactionLog._extend_live_sidecar

        def boom(self, prev_ck, acts, vv):
            raise RuntimeError("disabled")

        TX.TransactionLog._extend_live_sidecar = boom
        try:
            _clear()
            log.checkpoint()
        finally:
            TX.TransactionLog._extend_live_sidecar = real
        body_full, rows_full = _sidecar_rows(log)
        tag = f"divergence at version {v - 1}"
        for k in ("path", "rest_json", "zrows", "zpartition"):
            assert rows_inc[k] == rows_full[k], (tag, k)
        inc_cols = set(body_inc["zone_cols"])
        full_cols = set(body_full["zone_cols"])
        # full-only columns: monotone conservatism (a since-removed
        # file disqualified it; the full rebuild re-qualifies) —
        # allowed, pruning on it just compares in python.
        # inc-only columns must be GHOSTS: every carrier was removed,
        # so the retained column is all-null — and an all-null zone
        # column prunes nothing, exactly like the python rule.
        for c in inc_cols - full_cols:
            assert all(x is None for x in rows_inc[f"zmin:{c}"]), (tag, c)
        for c in inc_cols & full_cols:
            for m in ("zmin", "zmax"):
                a = [None if x is None else float(x)
                     for x in rows_inc[f"{m}:{c}"]]
                b = [None if x is None else float(x)
                     for x in rows_full[f"{m}:{c}"]]
                assert a == b, (tag, m, c)
        assert sorted(rows_inc["path"]) == sorted(live)
