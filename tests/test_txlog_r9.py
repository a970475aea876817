"""Round-9 txlog hardening (ADVICE r8): retention vacuum respects
Delta's modification-time eligibility (fresh uncommitted files survive
a vacuum racing an in-flight commit), implicitly-retired DVs get
tombstone times (no storage leak under retention), `_alter_state`
hands out deep copies, and TIMESTAMP AS OF degrades to a linear scan
on mixed ts/mtime logs instead of bisecting to a wrong version."""

from __future__ import annotations

import json
import os
import time

import pytest

from cars_bids_data_pipeline_v0__spark.sources import txlog as TX
from cars_bids_data_pipeline_v0__spark.sources.txlog import (
    TransactionLog,
    tx_append_partitioned,
    tx_delete_where,
    tx_purge_dvs,
    tx_read,
    tx_rename_column,
)


def _mk(spark, lo, hi):
    return spark.createDataFrame(
        [(i, f"doc{i}", i % 3) for i in range(lo, hi)],
        "id int, s string, p int",
    )


def test_retention_vacuum_spares_fresh_uncommitted_files(spark, tmp_path):
    """ADVICE r8 (medium): a retention vacuum running beside an
    in-flight commit must NOT delete its freshly staged, not-yet-
    committed parquets — Delta's rule deletes unreferenced files only
    when OLDER than the window."""
    t = str(tmp_path / "tbl")
    tx_append_partitioned(spark, _mk(spark, 0, 6), t, partition_by="p")
    log = TransactionLog(t)
    staged = log.stage_dataframe(_mk(spark, 6, 12))  # in-flight commit
    staged_rel = sorted(a["path"] for a in staged)
    now = time.time()
    # the staged files are seconds old — inside any sane window
    assert (
        log.vacuum(retention_hours=1.0, now=now, dry_run=True) == []
    )
    assert log.vacuum(retention_hours=1.0, now=now) == 0
    for rel in staged_rel:
        assert os.path.exists(os.path.join(t, rel))
    # the in-flight commit can still land
    assert log.try_commit(log.version() + 1, staged, [], op="append")
    assert tx_read(spark, t).count() == 12
    # a TRUE orphan (never committed) does expire once older than the
    # window — pin the clock far forward to age everything out
    orphan = log.stage_dataframe(_mk(spark, 12, 13))
    victims = log.vacuum(
        retention_hours=1.0, now=now + 7200, dry_run=True
    )
    assert victims == sorted(a["path"] for a in orphan)
    assert log.vacuum(retention_hours=1.0, now=now + 7200) == len(orphan)
    assert tx_read(spark, t).count() == 12


def test_retention_vacuum_expires_implicitly_retired_dvs(spark, tmp_path):
    """ADVICE r8 (low): a DV retired by removing its data file (purge/
    compact commits carry no dv_state snapshot) must still get a
    tombstone time, so retention vacuum reaps it instead of keeping the
    DV parquet forever."""
    t = str(tmp_path / "tbl")
    tx_append_partitioned(spark, _mk(spark, 0, 10), t, partition_by="p")
    tx_delete_where(spark, t, "id < 3", mode="dv")
    log = TransactionLog(t)
    dv_rels = sorted(log.dvs().values())
    assert dv_rels
    # purge rewrites the DV-carrying files WITHOUT a dv_state commit —
    # the implicit-retirement path the old replay missed
    assert tx_purge_dvs(spark, t) >= 1
    assert log.dvs() == {}
    purge_ts = log._commit_ts(log.version())
    # inside the window: the retired DV survives
    inside = log.vacuum(
        retention_hours=1.0, now=purge_ts + 60, dry_run=True
    )
    assert not any(v in dv_rels for v in inside)
    # window expired: the DV parquet is among the victims and is reaped
    victims = log.vacuum(
        retention_hours=1.0, now=purge_ts + 7200, dry_run=True
    )
    assert set(dv_rels) <= set(victims)
    log.vacuum(retention_hours=1.0, now=purge_ts + 7200)
    for rel in dv_rels:
        assert not os.path.exists(os.path.join(t, rel))
    assert sorted(r["id"] for r in tx_read(spark, t).collect()) == list(
        range(3, 10)
    )


def test_alter_state_returns_deep_copies(spark, tmp_path):
    """ADVICE r8 (low): mutating tx_detail()['column_mapping'] (or the
    raw accessors' nested dicts) must not corrupt the memoized ALTER
    state — same `_copy_tree` rule live_actions got in round 8."""
    t = str(tmp_path / "tbl")
    tx_append_partitioned(spark, _mk(spark, 0, 6), t, partition_by="p")
    tx_rename_column(spark, t, "s", "body")
    log = TransactionLog(t)
    raw = log.column_mapping_raw()
    assert raw["renames"] == {"s": "body"}
    raw["renames"]["s"] = "CORRUPTED"
    raw.setdefault("dropped", []).append("ghost")
    again = TransactionLog(t).column_mapping_raw()
    assert again["renames"] == {"s": "body"}
    assert "ghost" not in (again.get("dropped") or [])
    renames, dropped = TransactionLog(t).column_mapping()
    assert renames == {"s": "body"} and "ghost" not in dropped
    assert "body" in tx_read(spark, t).columns


def test_version_at_timestamp_mixed_ts_regime_falls_back_linear(
    spark, tmp_path
):
    """ADVICE r8 (low): on a log where a pre-'ts' commit got a FRESH
    mtime (a copied table), bisection's monotonicity assumption breaks;
    the resolver must detect the tsless probe and fall back to the
    linear scan instead of silently returning a wrong version."""
    t = str(tmp_path / "tbl")
    log = TransactionLog(t)
    for v in range(5):
        adds = log.stage_dataframe(_mk(spark, v, v + 1))
        assert log.try_commit(v, adds, [], op="append")
    ts = {v: log._commit_ts(v) for v in range(5)}
    assert ts[4] > ts[0]
    # strip 'ts' from the middle commit and give it a far-future mtime
    # (what a naive file copy of an old-format log produces)
    cp = log._commit_path(2)
    body = json.loads(open(cp).read())
    body.pop("ts", None)
    with open(cp, "w") as fh:
        fh.write(json.dumps(body))
    future = time.time() + 10**6
    os.utime(cp, (future, future))
    TX._COMMIT_BODY_CACHE.clear()
    fresh = TransactionLog(t)
    # v2's clock is now the far future, so a query between v1 and v4
    # must NOT resolve to v2 or beyond-it garbage: newest qualifying
    # version under the scan is the correct answer
    assert fresh.version_at_timestamp(ts[1] + 1e-4) == 1
    # a query after every real commit resolves to the newest REAL-time
    # qualifying version (v2's fake mtime disqualifies only itself)
    assert fresh.version_at_timestamp(ts[4] + 1.0) == 4
    with pytest.raises(ValueError):
        fresh.version_at_timestamp(ts[0] - 10.0)


def test_footer_meta_cache_shape():
    """ADVICE r8 (low): the renamed cache stores (cols, n_rows) tuples
    and its annotation says so."""
    assert not hasattr(TX, "_FOOTER_COLS_CACHE")
    assert isinstance(TX._FOOTER_META_CACHE, dict)


def test_snapshot_cache_extends_and_never_aliases(spark, tmp_path):
    """The in-memory snapshot (Delta's Snapshot incrementalization):
    later versions extend the cached snapshot by replaying only the
    delta commits; time travel to an older version never evicts the hot
    head; a RECREATED table at the same path (same version numbers, new
    commit files) can never alias the stale snapshot."""
    t = str(tmp_path / "tbl")
    log = TransactionLog(t)
    a0 = log.stage_dataframe(_mk(spark, 0, 4))
    assert log.try_commit(0, a0, [], op="append")
    assert set(log.live_files()) == {a["path"] for a in a0}
    # incremental extension: v1 adds + removes on top of the cached v0
    a1 = log.stage_dataframe(_mk(spark, 4, 8))
    assert log.try_commit(1, a1, [a0[0]["path"]], op="replace")
    live1 = log._live_actions_shared()
    assert set(live1) == ({a["path"] for a in a0[1:]}
                          | {a["path"] for a in a1})
    # time travel: older snapshot is correct AND the head stays cached
    assert set(log._live_actions_shared(upto=0)) == {
        a["path"] for a in a0
    }
    assert set(TransactionLog(t)._live_actions_shared()) == set(live1)
    # public surface still hands out deep copies
    pub = TransactionLog(t).live_actions()
    next(iter(pub.values()))["partition"] = "CORRUPTED"
    assert "CORRUPTED" not in {
        a.get("partition")
        for a in TransactionLog(t)._live_actions_shared().values()
    }
    # recreate the table at the same path: same version numbers, fresh
    # commit identities -> the stale snapshot must not survive
    import shutil

    shutil.rmtree(t)
    log2 = TransactionLog(t)
    b0 = log2.stage_dataframe(_mk(spark, 100, 103))
    assert log2.try_commit(0, b0, [], op="append")
    b1 = log2.stage_dataframe(_mk(spark, 103, 106))
    assert log2.try_commit(1, b1, [], op="append")
    assert set(log2._live_actions_shared()) == (
        {a["path"] for a in b0} | {a["path"] for a in b1}
    )
    assert tx_read(spark, t).count() == 6


# ---------------------------------------------------------------------------
# hypothesis: the snapshot cache is indistinguishable from pure replay
# ---------------------------------------------------------------------------

from hypothesis import given, settings, strategies as st

# op space: commit (adds ⊆ fresh names, removes ⊆ currently-live),
# checkpoint, cache-clear, time-travel read, recreate-table
_OPS = st.lists(
    st.one_of(
        st.tuples(
            st.just("commit"),
            st.integers(min_value=0, max_value=3),  # n adds
            st.integers(min_value=0, max_value=2),  # n removes
        ),
        st.just(("checkpoint",)),
        st.just(("clear",)),
        st.tuples(st.just("read_at"), st.integers(min_value=0, max_value=30)),
        st.just(("recreate",)),
    ),
    min_size=1,
    max_size=25,
)


@settings(max_examples=40, deadline=None)
@given(_OPS)
def test_snapshot_cache_equals_pure_replay(tmp_path_factory, ops):
    """Model-based check of `_live_actions_shared` (the cache every
    metadata verb now rides): under ANY interleaving of commits,
    checkpoints, module-cache clears, time-travel reads, and full table
    recreation at the same path, the shared snapshot equals a pure
    fold over the commit history — and hands back the right version
    even when an older `upto` was read in between (the
    keep-newest-store rule)."""
    import shutil
    import uuid as _uuid

    t = str(tmp_path_factory.mktemp("snapprop") / "tbl")
    log = TX.TransactionLog(t)
    history: list[tuple[list[str], list[str]]] = []  # per-version adds/removes

    def model_live(upto: int) -> set[str]:
        live: set[str] = set()
        for adds, removes in history[: upto + 1]:
            live |= set(adds)
            live -= set(removes)
        return live

    def check(upto: int | None = None):
        v = len(history) - 1 if upto is None else upto
        if v < 0 or v >= len(history):
            return
        got = TX.TransactionLog(t)._live_actions_shared(upto=v)
        assert set(got) == model_live(v), f"v={v}"
        # shape: every action still carries its fabricated payload
        for a in got.values():
            assert a["rows"] == 7

    for op in ops:
        if op[0] == "commit":
            _, n_add, n_rm = op
            live_now = sorted(model_live(len(history) - 1))
            adds = [
                {
                    "path": f"data/{_uuid.uuid4().hex}.parquet",
                    "partition": None,
                    "bytes": 10,
                    "rows": 7,
                }
                for _ in range(n_add)
            ]
            removes = live_now[:n_rm]
            v = len(history)
            assert log.try_commit(v, adds, removes, op="append")
            history.append(([a["path"] for a in adds], removes))
            check()
        elif op[0] == "checkpoint":
            if history:
                log.checkpoint()
                check()
        elif op[0] == "clear":
            TX._COMMIT_BODY_CACHE.clear()
            TX._CHECKPOINT_BODY_CACHE.clear()
            TX._SNAPSHOT_CACHE.clear()
            check()
        elif op[0] == "read_at":
            if history:
                check(upto=min(op[1], len(history) - 1))
                check()  # the head must survive older-upto reads
        elif op[0] == "recreate":
            shutil.rmtree(t, ignore_errors=True)
            log = TX.TransactionLog(t)
            history = []
    # final sweep: every historical version still resolves exactly
    for v in range(len(history)):
        check(upto=v)


def test_parquet_checkpoint_sidecar_roundtrip_and_torn_fallback(
    spark, tmp_path, monkeypatch
):
    """Delta-format checkpoints: the live list lives in a parquet
    sidecar.  The reconstructed
    snapshot must be FIELD-EXACT vs pure replay, survive log
    truncation, and a torn sidecar must demote the whole checkpoint
    (fall back to replay) instead of half-reading."""
    import uuid as _uuid

    t = str(tmp_path / "tbl")
    log = TX.TransactionLog(t)
    adds = [
        {
            "path": f"data/{_uuid.uuid4().hex}.parquet",
            "partition": str(i % 3),
            "partition_col": "p",
            "bytes": 100 + i,
            "rows": 10 + i,
            "cols": {"id": "int64"},
            "stats": {"id": [i, i + 9]},
        }
        for i in range(8)
    ]
    assert log.try_commit(0, adds[:5], [], op="append")
    assert log.try_commit(1, adds[5:], [adds[0]["path"]], op="replace")
    expect = TX.TransactionLog(t)._live_actions_shared()
    log.checkpoint()
    side = [
        n for n in os.listdir(log.log_dir) if n.endswith(".live.parquet")
    ]
    assert side, "every checkpoint writes a sidecar"
    body = json.loads(
        open(
            os.path.join(log.log_dir, "00000000000000000001.checkpoint.json")
        ).read()
    )
    assert "live" not in body and body["live_parquet"] == side[0]
    # cold read: reconstructed snapshot == pure replay, field-exact
    TX._COMMIT_BODY_CACHE.clear()
    TX._CHECKPOINT_BODY_CACHE.clear()
    TX._SNAPSHOT_CACHE.clear()
    got = TX.TransactionLog(t)._live_actions_shared()
    assert got == expect
    # checkpoint survives log truncation (pruning metadata intact)
    for v in (0, 1):
        os.remove(log._commit_path(v))
    TX._COMMIT_BODY_CACHE.clear()
    TX._CHECKPOINT_BODY_CACHE.clear()
    TX._SNAPSHOT_CACHE.clear()
    truncated = TX.TransactionLog(t)._live_actions_shared()
    assert truncated == expect
    from cars_bids_data_pipeline_v0__spark.sources.txlog import (
        tx_prunable_files,
    )
    keep, pruned = tx_prunable_files(t, "id", lo=0, hi=5)
    assert pruned > 0 and keep


def test_parquet_checkpoint_torn_sidecar_demotes_checkpoint(
    spark, tmp_path, monkeypatch
):
    import uuid as _uuid

    t = str(tmp_path / "tbl")
    log = TX.TransactionLog(t)
    adds = [
        {"path": f"data/{_uuid.uuid4().hex}.parquet", "partition": None,
         "bytes": 1, "rows": 1}
        for i in range(6)
    ]
    assert log.try_commit(0, adds, [], op="append")
    log.checkpoint()
    side = [
        n for n in os.listdir(log.log_dir) if n.endswith(".live.parquet")
    ][0]
    # tear the sidecar: the checkpoint must be skipped wholesale and
    # the snapshot rebuilt from the (still present) commit log
    with open(os.path.join(log.log_dir, side), "w") as fh:
        fh.write("not parquet")
    TX._COMMIT_BODY_CACHE.clear()
    TX._CHECKPOINT_BODY_CACHE.clear()
    TX._SNAPSHOT_CACHE.clear()
    fresh = TX.TransactionLog(t)
    assert fresh._latest_checkpoint_body() is None
    assert set(fresh._live_actions_shared()) == {a["path"] for a in adds}


def test_tx_truncate_log_retention_and_loud_history_horizon(
    spark, tmp_path
):
    """Log retention: commits compacted into the kept checkpoint are
    deleted from disk, older checkpoints (and sidecars) go with them,
    the head still reads, the NEXT version number is preserved, vacuum
    cannot orphan-delete checkpoint-covered live files, and time travel
    below the horizon fails loudly instead of replaying a partial log."""
    import pytest as _pytest

    from cars_bids_data_pipeline_v0__spark.sources.txlog import (
        tx_truncate_log,
    )

    t = str(tmp_path / "tbl")
    log = TransactionLog(t)
    paths_v = {}
    for v in range(6):
        adds = log.stage_dataframe(_mk(spark, v * 3, v * 3 + 3))
        assert log.try_commit(v, adds, [], op="append")
        paths_v[v] = [a["path"] for a in adds]
        if v in (2, 4):
            log.checkpoint()
    info = tx_truncate_log(t, keep_checkpoints=1)
    assert info["horizon"] == 4
    # commits 0..4 gone (none was the anchor), checkpoint 2 + nothing else
    assert sorted(log.versions()) == [5]
    assert log._checkpoint_versions() == [4]
    assert info["commits_deleted"] == 5 and info["checkpoints_deleted"] >= 1
    # head reads fine and sees every row ever appended
    assert tx_read(spark, t).count() == 18
    # vacuum must NOT treat checkpoint-covered live files as orphans
    assert log.vacuum(dry_run=True) == []
    assert log.vacuum() == 0
    assert tx_read(spark, t).count() == 18
    # version continuity: the next commit claims version 6, not 0
    more = log.stage_dataframe(_mk(spark, 100, 101))
    assert log.try_commit(log.version() + 1, more, [], op="append")
    assert log.version() == 6
    # time travel at/above the horizon works; below it fails loudly
    want_v4 = {p for v in range(5) for p in paths_v[v]}
    assert set(TransactionLog(t)._live_actions_shared(upto=4)) == want_v4
    with _pytest.raises(ValueError, match="truncated"):
        TransactionLog(t)._live_actions_shared(upto=1)


def test_tx_fsck_accepts_legit_truncation_flags_forged_gap(
    spark, tmp_path
):
    """fsck distinguishes tx_truncate_log retention (checkpoint covers
    the missing prefix — healthy, reported informationally) from a
    forged gap (lost commit — not ok)."""
    from cars_bids_data_pipeline_v0__spark.sources.txlog import (
        tx_fsck,
        tx_truncate_log,
    )

    t = str(tmp_path / "tbl")
    log = TransactionLog(t)
    for v in range(4):
        adds = log.stage_dataframe(_mk(spark, v, v + 2))
        assert log.try_commit(v, adds, [], op="append")
        if v == 2:
            log.checkpoint()
    tx_truncate_log(t, keep_checkpoints=1)
    rep = tx_fsck(t)
    assert rep["ok"], rep
    assert rep["log_truncated_below"] == 3
    # forged gap in the RETAINED range: still caught
    os.remove(log._commit_path(3))
    rep2 = tx_fsck(t)
    assert not rep2["ok"]


def test_ingest_stream_opt_in_log_retention(spark, tmp_path):
    """corpus_ingest_stream(log_retention_checkpoints=1): a long-lived
    stream's auto-checkpoint cadence also truncates the log on disk —
    bounded commit files, intact head, fenced replays still work."""
    import json as _json

    from cars_bids_data_pipeline_v0__spark.streaming.incremental import (
        corpus_ingest_stream,
    )

    docs_dir = str(tmp_path / "docs")
    table = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(docs_dir)
    # 12 single-doc batches -> 12 commits -> auto-checkpoint at v10
    # (plus retention) under availableNow
    total = 0
    for b in range(12):
        with open(os.path.join(docs_dir, f"b{b}.json"), "w") as fh:
            fh.write(
                _json.dumps(
                    {
                        "doc_id": b,
                        "text": " ".join(
                            f"u{b}w{j}" if j % 3 == 0 else "steady corpus"
                            for j in range(12)
                        ),
                    }
                )
                + "\n"
            )
        total += 1
        q = corpus_ingest_stream(
            spark, docs_dir, table, ckpt,
            log_retention_checkpoints=1, export_manifest=False,
        )
        q.awaitTermination(120)
    log = TransactionLog(table)
    assert tx_read(spark, table).count() == total
    # retention ran at the checkpoint cadence: commits below the kept
    # checkpoint are gone from disk, far fewer than 12 remain
    assert len(log._checkpoint_versions()) == 1
    assert len(log.versions()) < total
    assert min(log.versions()) > 0
    # the stream keeps working after truncation
    with open(os.path.join(docs_dir, "bz.json"), "w") as fh:
        fh.write(_json.dumps({"doc_id": 99, "text": " ".join(
            f"z{j}" if j % 3 == 0 else "fresh words" for j in range(12)
        )}) + "\n")
    q = corpus_ingest_stream(
        spark, docs_dir, table, ckpt,
        log_retention_checkpoints=1, export_manifest=False,
    )
    q.awaitTermination(120)
    assert tx_read(spark, table).count() == total + 1
