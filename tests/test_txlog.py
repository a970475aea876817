"""Transactional commit-log sink (sources/txlog.py): the S5 merge under
multi-writer ACID — snapshot isolation, optimistic commit conflict/retry,
time travel, vacuum — plus parity with the parquet fallback's semantics
(same tests as test_pipeline.test_merge_sink_and_idempotence)."""

from __future__ import annotations

import os
import threading

import pytest
from pyspark.sql import functions as F

from cars_bids_data_pipeline_v0__spark.sources.txlog import (
    TransactionLog,
    tx_merge_partitioned,
    tx_read,
    tx_read_latest,
)


@pytest.fixture()
def silver(spark, tmp_path_factory):
    from cars_bids_data_pipeline_v0__spark.plans.silver import transform_records
    from cars_bids_data_pipeline_v0__spark.sources.ingest import read_raw_auctions
    from tests.fixtures import write_raw_files

    raw = tmp_path_factory.mktemp("tx_raw")
    write_raw_files(str(raw))
    out, _ = transform_records(read_raw_auctions(spark, str(raw)))
    return out


def test_tx_merge_matches_parquet_fallback_semantics(spark, silver, tmp_path):
    table = str(tmp_path / "tx_lake")
    touched = tx_merge_partitioned(spark, silver, table)
    assert touched == ["2024-03-02", "2024-03-04", "2024-03-05"]
    assert tx_read(spark, table).count() == 3

    # M5 idempotence: same batch again → same rows, one more version
    tx_merge_partitioned(spark, silver, table)
    assert tx_read(spark, table).count() == 3
    assert TransactionLog(table).version() == 1  # 0-based: two commits

    # late re-arrival under a NEW date: stale row physically kept
    # (reference parity), latest-only view shadows it
    upd = silver.filter(F.col("auction_id") == "bbb222").withColumn(
        "auction_date", F.to_timestamp(F.lit("2024-03-09 01:00:00"))
    )
    tx_merge_partitioned(spark, upd, table)
    assert tx_read(spark, table).count() == 4
    latest = tx_read_latest(spark, table)
    assert latest.count() == 3
    got = latest.filter(F.col("auction_id") == "bbb222").collect()
    assert len(got) == 1 and str(got[0]["auction_date"]).startswith("2024-03-09")

    # time travel: version 1 still shows the pre-update snapshot
    assert tx_read(spark, table, version=1).count() == 3


def test_tx_commit_conflict_detected_and_retried(spark, tmp_path):
    """Force a commit race: stage the same version from two 'writers'; the
    loser must detect FileExistsError and succeed on retry with no lost
    update."""
    table = str(tmp_path / "race")
    log = TransactionLog(table)
    df1 = spark.createDataFrame([(1, "a")], "k long, v string")
    df2 = spark.createDataFrame([(2, "b")], "k long, v string")
    a1 = log.stage_dataframe(df1)
    a2 = log.stage_dataframe(df2)
    assert log.try_commit(0, a1, [], op="append") is True
    assert log.try_commit(0, a2, [], op="append") is False  # conflict seen
    assert log.try_commit(1, a2, [], op="append") is True   # retry wins
    rows = {r["k"]: r["v"] for r in tx_read(spark, table).collect()}
    assert rows == {1: "a", 2: "b"}


def test_tx_concurrent_merges_no_lost_update(spark, tmp_path):
    """The actual round-2 gap: two concurrent merges into the SAME
    partition.  The parquet fallback loses one batch (read-modify-write
    race); the tx log must keep both."""
    table = str(tmp_path / "concurrent")
    base = [(f"id{i}", f"2024-03-0{1 + i % 3}T10:00:00Z", i) for i in range(6)]

    def mk(rows):
        return spark.createDataFrame(
            rows, "auction_id string, auction_date string, payload long"
        ).withColumn("auction_date", F.to_timestamp("auction_date"))

    tx_merge_partitioned(spark, mk(base), table)

    batches = [
        mk([(f"w{w}_{i}", "2024-03-02T12:00:00Z", 100 * w + i) for i in range(4)])
        for w in range(3)
    ]
    barrier = threading.Barrier(3)
    errors: list[Exception] = []

    def writer(b):
        try:
            barrier.wait()  # maximize commit-window overlap
            tx_merge_partitioned(spark, b, table)
        except Exception as exc:  # pragma: no cover
            errors.append(exc)

    threads = [threading.Thread(target=writer, args=(b,)) for b in batches]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors
    got = {r["auction_id"] for r in tx_read(spark, table).collect()}
    expect = {f"id{i}" for i in range(6)} | {
        f"w{w}_{i}" for w in range(3) for i in range(4)
    }
    assert got == expect  # nothing lost, nothing duplicated
    assert tx_read(spark, table).count() == len(expect)


def test_tx_vacuum_reaps_orphans_keeps_history(spark, tmp_path):
    import os

    table = str(tmp_path / "vac")
    log = TransactionLog(table)
    committed = log.stage_dataframe(
        spark.createDataFrame([(1, "a")], "k long, v string"))
    orphan = log.stage_dataframe(
        spark.createDataFrame([(9, "z")], "k long, v string"))
    assert log.try_commit(0, committed, [], op="append")
    # orphan simulates a crashed writer: staged, never committed
    n_files = len(os.listdir(log.data_dir))
    deleted = log.vacuum()
    assert deleted == len(orphan)
    assert len(os.listdir(log.data_dir)) == n_files - deleted
    assert tx_read(spark, table).count() == 1

    # replace-all commit, then full vacuum drops the old snapshot's files
    repl = log.stage_dataframe(
        spark.createDataFrame([(2, "b")], "k long, v string"))
    assert log.try_commit(1, repl, [a["path"] for a in committed], op="replace")
    assert log.vacuum(keep_history=False) == len(committed)
    assert {r["k"] for r in tx_read(spark, table).collect()} == {2}


def test_tx_checkpoint_compacts_log_replay(spark, tmp_path):
    """Checkpoint = Delta-style log compaction: live_files starts from the
    newest checkpoint ≤ target and replays only later commits; results
    are identical with and without it, including time travel around it."""
    table = str(tmp_path / "ckpt")
    log = TransactionLog(table)
    per_commit = []
    for v in range(12):
        adds = log.stage_dataframe(
            spark.createDataFrame([(v, f"v{v}")], "k long, v string"))
        per_commit.append({a["path"] for a in adds})
        assert log.try_commit(v, adds, [], op="append")
    before = log.live_files()
    assert log.checkpoint() == 11
    assert log.live_files() == before            # same answer via checkpoint
    # time travel BELOW the checkpoint still replays correctly
    assert set(log.live_files(upto=5)) == set().union(*per_commit[:6])
    assert tx_read(spark, table).count() == 12

    # commits after the checkpoint replay on top of it
    adds = log.stage_dataframe(
        spark.createDataFrame([(99, "z")], "k long, v string"))
    assert log.try_commit(12, adds, [], op="append")
    assert tx_read(spark, table).count() == 13
    assert len(log.live_files()) == len(before) + len(adds)


def test_tx_compact_one_file_per_partition_preserves_content(spark, tmp_path):
    """Small files accumulate from append-style commits (loaders that
    don't rewrite partitions); OPTIMIZE bin-packs them to one file per
    partition value in a single atomic commit."""
    from cars_bids_data_pipeline_v0__spark.sources.txlog import (
        PARTITION_COL,
        tx_compact,
    )

    table = str(tmp_path / "opt")
    log = TransactionLog(table)
    n = 0
    for w in range(3):  # 3 appends × 2 dates → 6 small files
        df = spark.createDataFrame(
            [(f"k{w}_{d}", f"2024-04-0{d}", w * 10 + d) for d in (1, 2)],
            f"auction_id string, {PARTITION_COL} string, payload long",
        )
        adds = log.stage_dataframe(df, partition_by=PARTITION_COL)
        assert log.try_commit(w, adds, [], op="append")
        n += len(adds)
    before_rows = {(r["auction_id"], r["payload"])
                   for r in tx_read(spark, table).collect()}
    assert len(log.live_files()) == n and n >= 6
    removed = tx_compact(spark, table)
    assert removed == n
    live = log.live_files()
    assert len(live) == 2                      # one file per date partition
    assert set(live.values()) == {"2024-04-01", "2024-04-02"}
    after_rows = {(r["auction_id"], r["payload"])
                  for r in tx_read(spark, table).collect()}
    assert after_rows == before_rows           # layout-only change
    assert tx_compact(spark, table) == 0       # idempotent: nothing to do
    # time travel to the pre-compaction snapshot still resolves
    assert tx_read(spark, table, version=log.version() - 1).count() == 6


def test_tx_stream_sink_replay_is_exactly_once(spark, tmp_path):
    """The foreachBatch fence: re-delivering a committed batch_id is a
    no-op; distinct batch_ids merge normally; a different stream_id is
    NOT fenced by this stream's tokens."""
    from cars_bids_data_pipeline_v0__spark.sources.txlog import (
        tx_stream_merge_sink,
    )

    table = str(tmp_path / "stream_sink")
    sink = tx_stream_merge_sink(table, stream_id="ingest")

    def mk(rows):
        return spark.createDataFrame(
            rows, "auction_id string, auction_date string, payload long"
        ).withColumn("auction_date", F.to_timestamp("auction_date"))

    b0 = mk([("a", "2024-05-01T10:00:00Z", 1), ("b", "2024-05-01T11:00:00Z", 2)])
    sink(b0, 0)
    assert tx_read(spark, table).count() == 2
    sink(b0, 0)                                   # checkpoint replay
    assert tx_read(spark, table).count() == 2     # fenced: no dup
    assert TransactionLog(table).version() == 0   # replay committed NOTHING

    sink(mk([("c", "2024-05-02T10:00:00Z", 3)]), 1)
    assert tx_read(spark, table).count() == 3

    # same batch_id from a DIFFERENT stream must not be fenced
    other = tx_stream_merge_sink(table, stream_id="backfill")
    other(mk([("d", "2024-05-03T10:00:00Z", 4)]), 0)
    assert tx_read(spark, table).count() == 4


def test_tx_stream_sink_through_real_stream_with_checkpoint_loss(spark, tmp_path):
    """End-to-end: availableNow file stream → foreachBatch tx sink.  Losing
    the CHECKPOINT (the classic duplicate-delivery failure) re-delivers
    the same files as batch 0 — the commit token fences the replay and the
    table stays exactly-once."""
    import json as _json

    from cars_bids_data_pipeline_v0__spark.sources.txlog import (
        tx_stream_merge_sink,
    )
    from pyspark.sql import types as T

    src = tmp_path / "src"
    src.mkdir()
    with open(src / "f0.json", "w") as f:
        for i in range(4):
            f.write(_json.dumps({
                "auction_id": f"s{i}",
                "auction_date": f"2024-06-0{1 + i % 2}T10:00:00",
                "payload": i,
            }) + "\n")
    schema = T.StructType([
        T.StructField("auction_id", T.StringType()),
        T.StructField("auction_date", T.TimestampType()),
        T.StructField("payload", T.LongType()),
    ])
    table = str(tmp_path / "tx_out")

    def run(ck):
        q = (
            spark.readStream.schema(schema).json(str(src))
            .writeStream.foreachBatch(
                tx_stream_merge_sink(table, stream_id="e2e"))
            .option("checkpointLocation", str(tmp_path / ck))
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(120)

    run("ck1")
    assert tx_read(spark, table).count() == 4
    run("ck2")  # fresh checkpoint: everything re-delivered as batch 0
    assert tx_read(spark, table).count() == 4   # fenced — no duplicates
    assert TransactionLog(table).version() == 0  # replay committed nothing


def test_tx_read_schema_evolution_via_merge_schema(spark, tmp_path):
    """Appends that ADD a column read back with the union schema
    (merge_schema=True): old rows null-fill, no registry needed."""
    table = str(tmp_path / "evolve")
    log = TransactionLog(table)
    a1 = log.stage_dataframe(
        spark.createDataFrame([(1, "a")], "k long, v string"))
    assert log.try_commit(0, a1, [], op="append")
    a2 = log.stage_dataframe(
        spark.createDataFrame([(2, "b", 9.5)], "k long, v string, score double"))
    assert log.try_commit(1, a2, [], op="append")

    evolved = tx_read(spark, table, merge_schema=True)
    assert set(evolved.columns) == {"k", "v", "score"}
    rows = {r["k"]: r for r in evolved.collect()}
    assert rows[1]["score"] is None and rows[2]["score"] == 9.5


def test_tx_scan_zone_map_file_skipping(spark, tmp_path):
    """Per-file min/max recorded at commit time prune files whose range
    can't match — and the pruned read returns exactly the full-scan
    answer (pruning is a superset guarantee)."""
    from cars_bids_data_pipeline_v0__spark.sources.txlog import (
        tx_prunable_files,
        tx_scan,
    )

    table = str(tmp_path / "zones")
    log = TransactionLog(table)
    # 5 commits with disjoint key ranges → 5 single-range file sets
    for w in range(5):
        df = spark.createDataFrame(
            [(w * 100 + i, f"p{w}") for i in range(100)], "k long, v string"
        ).coalesce(1)
        adds = log.stage_dataframe(df, stats_cols=["k"])
        assert all("stats" in a and "k" in a["stats"] for a in adds)
        assert log.try_commit(w, adds, [], op="append")

    files, pruned = tx_prunable_files(table, "k", lo=250, hi=310)
    assert pruned == 3 and len(files) == 2      # only ranges 200-299, 300-399
    out = tx_scan(spark, table, "k", lo=250, hi=310)
    assert out.count() == 61                     # 250..310 inclusive
    assert {r["v"] for r in out.select("v").distinct().collect()} == {"p2", "p3"}

    # point lookup prunes to one file; out-of-range prunes everything
    _, pruned_pt = tx_prunable_files(table, "k", lo=123, hi=123)
    assert pruned_pt == 4
    assert tx_scan(spark, table, "k", lo=9999).count() == 0

    # files without recorded stats are never pruned (lossless guarantee)
    extra = log.stage_dataframe(
        spark.createDataFrame([(10_000, "x")], "k long, v string"))
    assert log.try_commit(5, extra, [], op="append")
    files2, _ = tx_prunable_files(table, "k", lo=0, hi=1)
    assert any(a["path"] in files2 for a in extra)


def test_tx_delete_where_is_copy_on_write_with_time_travel(spark, tmp_path):
    from cars_bids_data_pipeline_v0__spark.sources.txlog import tx_delete_where

    table = str(tmp_path / "del_lake")
    log = TransactionLog(table)
    a = spark.createDataFrame(
        [(i, f"u{i % 3}") for i in range(10)], "id long, user string"
    )
    adds = log.stage_dataframe(a.repartition(3))
    assert log.try_commit(0, adds, [], op="append")
    files_before = set(log.live_files())

    n = tx_delete_where(spark, table, "user = 'u1'")
    assert n == 3
    latest = tx_read(spark, table)
    assert latest.filter("user = 'u1'").count() == 0
    assert latest.count() == 7
    # time travel: the pre-delete version still has every row
    assert tx_read(spark, table, version=0).count() == 10
    # copy-on-write: files without matches keep their identity
    files_after = set(log.live_files())
    untouched = files_before & files_after
    rewritten = files_before - files_after
    assert rewritten, "at least one file must have been rewritten"
    for rel in rewritten:
        # every replaced file really contained a match
        import os
        df = spark.read.parquet(os.path.join(table, rel))
        assert df.filter("user = 'u1'").count() > 0
    for rel in untouched:
        import os
        df = spark.read.parquet(os.path.join(table, rel))
        assert df.filter("user = 'u1'").count() == 0


def test_tx_delete_where_erasure_completes_on_vacuum(spark, tmp_path):
    from cars_bids_data_pipeline_v0__spark.sources.txlog import tx_delete_where

    table = str(tmp_path / "gdpr_lake")
    log = TransactionLog(table)
    a = spark.createDataFrame(
        [(i, f"u{i}") for i in range(4)], "id long, user string"
    )
    adds = log.stage_dataframe(a.coalesce(1))
    assert log.try_commit(0, adds, [], op="append")
    assert tx_delete_where(spark, table, "user = 'u2'") == 1
    # bytes persist for time travel until history is vacuumed
    assert log.vacuum(keep_history=True) == 0
    assert log.vacuum(keep_history=False) >= 1
    assert tx_read(spark, table).count() == 3
    # no-match delete is a no-op commit-wise
    v = log.version()
    assert tx_delete_where(spark, table, "user = 'nope'") == 0
    assert log.version() == v


def test_tx_export_symlink_manifest_external_read(spark, silver, tmp_path):
    from cars_bids_data_pipeline_v0__spark.sources.txlog import (
        tx_delete_where,
        tx_export_symlink_manifest,
        tx_read_manifest,
    )

    table = str(tmp_path / "tx_lake")
    tx_merge_partitioned(spark, silver, table)
    upd = silver.filter(F.col("auction_id") == "bbb222").withColumn(
        "auction_date", F.to_timestamp(F.lit("2024-03-09 01:00:00"))
    )
    tx_merge_partitioned(spark, upd, table)  # multi-version table

    root = tx_export_symlink_manifest(table)
    # manifest consumers see exactly the live snapshot (plain
    # spark.read.parquet over the file lists — no commit-log knowledge)
    ext = tx_read_manifest(spark, root)
    want = {
        (r["auction_id"], str(r["auction_date"]))
        for r in tx_read(spark, table).collect()
    }
    got = {(r["auction_id"], str(r["auction_date"])) for r in ext.collect()}
    assert got == want and len(got) == 4

    # sidecar pins the exported version; partitions are enumerated
    import json as _json
    import os as _os

    meta = _json.load(open(_os.path.join(root, "manifest.json")))
    assert meta["version"] == TransactionLog(table).version()
    assert meta["n_files"] == len(TransactionLog(table).live_files())
    assert meta["partitions"] and all("=" in p for p in meta["partitions"])

    # a delete rewrites files; re-export reflects the new snapshot and the
    # old manifest is atomically replaced, never torn
    n = tx_delete_where(spark, table, "auction_id = 'bbb222'")
    assert n == 2  # both the original and re-dated rows
    tx_export_symlink_manifest(table)
    ext2 = tx_read_manifest(spark, root)
    assert ext2.filter(F.col("auction_id") == "bbb222").count() == 0
    assert ext2.count() == 2


def test_tx_export_time_travel_version(spark, silver, tmp_path):
    from cars_bids_data_pipeline_v0__spark.sources.txlog import (
        tx_export_symlink_manifest,
        tx_read_manifest,
    )

    table = str(tmp_path / "tx_lake")
    tx_merge_partitioned(spark, silver, table)  # v0: 3 rows
    upd = silver.filter(F.col("auction_id") == "bbb222").withColumn(
        "auction_date", F.to_timestamp(F.lit("2024-03-09 01:00:00"))
    )
    tx_merge_partitioned(spark, upd, table)  # v1: 4 rows

    old = tx_export_symlink_manifest(table, version=0,
                                     out_dir=str(tmp_path / "m_v0"))
    assert tx_read_manifest(spark, old).count() == 3
    new = tx_export_symlink_manifest(table, out_dir=str(tmp_path / "m_new"))
    assert tx_read_manifest(spark, new).count() == 4


def test_tx_stream_sink_keeps_manifest_current(spark, tmp_path):
    """export_manifest=True: after every committed batch, a parquet-only
    consumer of the symlink manifest sees exactly the stream's latest
    snapshot; a fenced replay leaves the manifest untouched."""
    import json as _json
    import os as _os

    from cars_bids_data_pipeline_v0__spark.sources.txlog import (
        tx_read_manifest,
        tx_stream_merge_sink,
    )

    table = str(tmp_path / "stream_sink")
    sink = tx_stream_merge_sink(table, stream_id="ingest",
                                export_manifest=True)

    def mk(rows):
        return spark.createDataFrame(
            rows, "auction_id string, auction_date string, payload long"
        ).withColumn("auction_date", F.to_timestamp("auction_date"))

    root = _os.path.join(table, "_symlink_format_manifest")
    sink(mk([("a", "2024-05-01T10:00:00Z", 1)]), 0)
    assert tx_read_manifest(spark, root).count() == 1
    sink(mk([("b", "2024-05-02T10:00:00Z", 2)]), 1)
    assert tx_read_manifest(spark, root).count() == 2
    v_after = _json.load(open(_os.path.join(root, "manifest.json")))["version"]
    assert v_after == TransactionLog(table).version()

    sink(mk([("b", "2024-05-02T10:00:00Z", 2)]), 1)  # fenced replay
    meta = _json.load(open(_os.path.join(root, "manifest.json")))
    assert meta["version"] == v_after
    assert tx_read_manifest(spark, root).count() == 2


def test_tx_export_concurrent_exporters_serialize(spark, silver, tmp_path):
    """Three exporters racing on the same table must all succeed (or time
    out cleanly), leave NO lock or temp debris behind, and the final
    manifest must be a consistent snapshot of one committed version."""
    import json as _json
    import os as _os

    from cars_bids_data_pipeline_v0__spark.sources.txlog import (
        tx_export_symlink_manifest,
        tx_read_manifest,
    )

    table = str(tmp_path / "tx_lake")
    tx_merge_partitioned(spark, silver, table)
    upd = silver.filter(F.col("auction_id") == "bbb222").withColumn(
        "auction_date", F.to_timestamp(F.lit("2024-03-09 01:00:00"))
    )
    tx_merge_partitioned(spark, upd, table)

    barrier = threading.Barrier(3)
    errors: list[Exception] = []

    def exporter():
        try:
            barrier.wait()
            for _ in range(5):  # hammer the lock repeatedly
                tx_export_symlink_manifest(table, lock_timeout=30.0)
        except Exception as exc:  # pragma: no cover
            errors.append(exc)

    threads = [threading.Thread(target=exporter) for _ in range(3)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors
    root = _os.path.join(table, "_symlink_format_manifest")
    # lock released, no temp or broken-lock debris
    leftovers = [
        n for n in _os.listdir(root)
        if n.startswith((".export.lock", ".manifest"))
    ]
    assert leftovers == []
    # consistent snapshot of the latest version
    meta = _json.load(open(_os.path.join(root, "manifest.json")))
    assert meta["version"] == TransactionLog(table).version()
    got = {
        (r["auction_id"], str(r["auction_date"]))
        for r in tx_read_manifest(spark, root).collect()
    }
    want = {
        (r["auction_id"], str(r["auction_date"]))
        for r in tx_read(spark, table).collect()
    }
    assert got == want


def test_tx_export_stale_lock_broken_once(spark, silver, tmp_path):
    """A leaked lock older than stale_after is broken and the export
    proceeds; a FRESH lock is honored until timeout."""
    import os as _os
    import time as _time

    from cars_bids_data_pipeline_v0__spark.sources.txlog import (
        tx_export_symlink_manifest,
    )

    table = str(tmp_path / "tx_lake")
    tx_merge_partitioned(spark, silver, table)
    root = _os.path.join(table, "_symlink_format_manifest")
    _os.makedirs(root, exist_ok=True)
    lock = _os.path.join(root, ".export.lock")
    with open(lock, "w") as f:
        f.write("deadbeef")  # a crashed exporter's leftover
    old = _time.time() - 120
    _os.utime(lock, (old, old))
    # stale (> stale_after=60 here): broken, export succeeds
    tx_export_symlink_manifest(table, stale_after=60.0)
    assert not _os.path.exists(lock)
    # fresh lock: honored → TimeoutError after lock_timeout
    with open(lock, "w") as f:
        f.write("cafebabe")
    import pytest as _pytest

    with _pytest.raises(TimeoutError):
        tx_export_symlink_manifest(table, lock_timeout=0.5)
    _os.unlink(lock)


def test_tx_stream_sink_epoch_scoped_fence(spark, tmp_path):
    """With checkpoint_dir, the fence is epoch-scoped: same checkpoint →
    replays fenced; lost checkpoint → the re-delivered batch 0 is NOT
    falsely swallowed, so new rows riding in it still land."""
    from cars_bids_data_pipeline_v0__spark.sources.txlog import (
        tx_stream_merge_sink,
    )

    table = str(tmp_path / "stream_sink")
    ckpt = str(tmp_path / "ckpt")

    def mk(rows):
        return spark.createDataFrame(
            rows, "auction_id string, auction_date string, payload long"
        ).withColumn("auction_date", F.to_timestamp("auction_date"))

    sink = tx_stream_merge_sink(table, stream_id="ingest",
                                checkpoint_dir=ckpt)
    b0 = mk([("a", "2024-05-01T10:00:00Z", 1)])
    sink(b0, 0)
    sink(b0, 0)  # same-checkpoint replay: fenced
    assert tx_read(spark, table).count() == 1
    assert TransactionLog(table).version() == 0

    # checkpoint loss: new epoch, batch ids restart; the re-delivery now
    # carries a NEW row — without epoch scoping the old (ingest, 0)
    # token would swallow it
    import shutil as _shutil

    _shutil.rmtree(ckpt)
    sink2 = tx_stream_merge_sink(table, stream_id="ingest",
                                 checkpoint_dir=ckpt)
    sink2(mk([("a", "2024-05-01T10:00:00Z", 1),
              ("b", "2024-05-02T10:00:00Z", 2)]), 0)
    got = {r["auction_id"] for r in tx_read_latest(spark, table).collect()}
    assert got == {"a", "b"}


def test_tx_optimize_zorder_improves_two_column_pruning(spark, tmp_path):
    """OPTIMIZE ZORDER BY (x, y): content identical, time travel intact,
    and zone-map pruning becomes effective on BOTH columns — before, the
    arrival-ordered files each span the full y range, so a y predicate
    prunes nothing."""
    import random

    from cars_bids_data_pipeline_v0__spark.sources.txlog import (
        TransactionLog,
        tx_optimize_zorder,
        tx_prunable_files,
        tx_read,
    )

    table = str(tmp_path / "zlake")
    log = TransactionLog(table)
    rng = random.Random(7)
    # 8 commits ordered by x; y is shuffled, so every file spans ~all of y
    for w in range(8):
        rows = [
            (w * 100 + i, rng.randrange(0, 800), f"r{w}-{i}")
            for i in range(100)
        ]
        df = spark.createDataFrame(rows, "x long, y long, v string").coalesce(1)
        adds = log.stage_dataframe(df, stats_cols=["x", "y"])
        assert log.try_commit(w, adds, [], op="append")

    before = sorted(
        tuple(r) for r in tx_read(spark, table).collect()
    )
    _, pruned_x_before = tx_prunable_files(table, "x", lo=0, hi=99)
    _, pruned_y_before = tx_prunable_files(table, "y", lo=0, hi=99)
    assert pruned_x_before == 7      # x-ordered arrival prunes on x...
    assert pruned_y_before == 0      # ...but y predicates scan everything

    removed = tx_optimize_zorder(spark, table, ["x", "y"], num_files=16)
    assert removed == 8

    after = sorted(tuple(r) for r in tx_read(spark, table).collect())
    assert after == before           # layout-only rewrite

    files_x, pruned_x = tx_prunable_files(table, "x", lo=0, hi=99)
    files_y, pruned_y = tx_prunable_files(table, "y", lo=0, hi=99)
    # the morton clustering must make BOTH single-column predicates
    # skip most files
    assert pruned_x >= 8 and pruned_y >= 8, (pruned_x, pruned_y)
    assert len(files_x) <= 8 and len(files_y) <= 8

    # time travel to the pre-optimize version still resolves
    pre = sorted(
        tuple(r) for r in tx_read(spark, table, version=7).collect()
    )
    assert pre == before
    # idempotence-ish: a second optimize still succeeds and keeps content
    tx_optimize_zorder(spark, table, ["x", "y"], num_files=16)
    assert sorted(tuple(r) for r in tx_read(spark, table).collect()) == before


def test_tx_bloom_skipping_point_lookups(spark, tmp_path):
    """Per-file Bloom bitmaps prune equality lookups where zone maps
    cannot: every file spans the full key range (random hex keys), so
    min/max prunes nothing, but the sketch takes a present key to ~1
    file and an absent key to ~0, and tx_scan_eq stays exact."""
    import hashlib

    from cars_bids_data_pipeline_v0__spark.sources.txlog import (
        TransactionLog,
        tx_prunable_files_bloom,
        tx_scan_eq,
    )

    table = str(tmp_path / "bloomlake")
    log = TransactionLog(table)
    all_keys = {}
    for w in range(8):
        keys = [
            hashlib.md5(f"key-{w}-{i}".encode()).hexdigest()[:12]
            for i in range(200)
        ]
        all_keys[w] = keys
        df = spark.createDataFrame(
            [(k, w) for k in keys], "k string, src int"
        ).coalesce(1)
        adds = log.stage_dataframe(df, bloom_cols=["k"])
        assert all("bloom" in a and "k" in a["bloom"] for a in adds)
        assert log.try_commit(w, adds, [], op="append")

    # present key: its own file always survives; most others pruned
    probe = all_keys[3][17]
    files, pruned = tx_prunable_files_bloom(table, "k", probe)
    assert pruned >= 5, f"only pruned {pruned} of 8"
    out = tx_scan_eq(spark, table, "k", probe).collect()
    assert len(out) == 1 and out[0]["src"] == 3

    # absent key: everything (or nearly, false positives allowed) prunes
    _, pruned_absent = tx_prunable_files_bloom(table, "k", "nope-not-here")
    assert pruned_absent >= 6
    assert tx_scan_eq(spark, table, "k", "nope-not-here").count() == 0

    # files without a sketch are never pruned (lossless guarantee)
    extra = log.stage_dataframe(
        spark.createDataFrame([("zzz", 99)], "k string, src int")
    )
    assert log.try_commit(8, extra, [], op="append")
    files2, _ = tx_prunable_files_bloom(table, "k", probe)
    assert any(a["path"] in files2 for a in extra)
    # and the unsketched file's key is still findable exactly
    assert tx_scan_eq(spark, table, "k", "zzz").count() == 1


def test_tx_bloom_probe_type_mismatch_is_consistent_not_lossy(
    spark, tmp_path
):
    """An int column probed with a float must return the same (empty)
    result the residual filter would give over ALL files — pruner and
    filter share str-normalized semantics, so a mismatch can never
    silently drop genuinely matching rows."""
    import pytest as _pytest

    from cars_bids_data_pipeline_v0__spark.sources.txlog import (
        TransactionLog,
        tx_scan_eq,
    )

    table = str(tmp_path / "typelake")
    log = TransactionLog(table)
    df = spark.createDataFrame([(5, "a"), (7, "b")], "k long, v string")
    assert log.try_commit(0, log.stage_dataframe(df, bloom_cols=["k"]), [],
                          op="append")
    assert tx_scan_eq(spark, table, "k", 5).count() == 1    # typed probe
    assert tx_scan_eq(spark, table, "k", 5.0).count() == 0  # consistent miss
    assert tx_scan_eq(spark, table, "k", "5").count() == 1  # str form matches

    # never-committed table → None (the tx_scan contract)
    assert tx_scan_eq(spark, str(tmp_path / "never"), "k", 1) is None

    # bloom_bits must be word-aligned — rejected up front, not an
    # IndexError mid-staging
    with _pytest.raises(ValueError):
        log.stage_dataframe(df, bloom_cols=["k"], bloom_bits=1000)


def test_tx_optimize_zorder_preserves_other_column_sketches(spark, tmp_path):
    """OPTIMIZE ZORDER must not degrade skipping on non-z columns: the
    rewrite re-records zone maps and Bloom sketches for every previously
    sketched column."""
    from cars_bids_data_pipeline_v0__spark.sources.txlog import (
        TransactionLog,
        tx_optimize_zorder,
        tx_prunable_files_bloom,
        tx_scan_eq,
    )

    table = str(tmp_path / "zpreserve")
    log = TransactionLog(table)
    for w in range(4):
        df = spark.createDataFrame(
            [(w * 10 + i, (w * 10 + i) * 3 % 40, f"id-{w}-{i}")
             for i in range(10)],
            "x long, y long, k string",
        ).coalesce(1)
        adds = log.stage_dataframe(df, stats_cols=["x"], bloom_cols=["k"])
        assert log.try_commit(w, adds, [], op="append")
    tx_optimize_zorder(spark, table, ["x", "y"], num_files=4)
    meta = TransactionLog(table).live_actions()
    assert all("bloom" in a and "k" in a["bloom"] for a in meta.values())
    assert all("stats" in a for a in meta.values())
    _, pruned = tx_prunable_files_bloom(table, "k", "id-2-5")
    assert pruned >= 1
    assert tx_scan_eq(spark, table, "k", "id-2-5").count() == 1


def test_tx_pruning_metadata_survives_log_truncation_via_checkpoint(
    spark, tmp_path
):
    """Checkpoints carry the full add actions (stats + bloom), so pruning
    still works after pre-checkpoint commit files disappear."""
    import os as _os

    from cars_bids_data_pipeline_v0__spark.sources.txlog import (
        TransactionLog,
        tx_prunable_files,
        tx_prunable_files_bloom,
    )

    table = str(tmp_path / "ckptmeta")
    log = TransactionLog(table)
    for w in range(4):
        df = spark.createDataFrame(
            [(w * 100 + i, f"kk-{w}-{i}") for i in range(50)],
            "x long, k string",
        ).coalesce(1)
        adds = log.stage_dataframe(df, stats_cols=["x"], bloom_cols=["k"])
        assert log.try_commit(w, adds, [], op="append")
    log.checkpoint()
    # simulate log truncation: drop the pre-checkpoint commit bodies
    for v in range(4):
        _os.remove(log._commit_path(v))
    files, pruned = tx_prunable_files(table, "x", lo=0, hi=99)
    assert pruned == 3 and len(files) == 1
    _, pruned_b = tx_prunable_files_bloom(table, "k", "kk-2-7")
    assert pruned_b >= 2


def test_tx_optimize_zorder_handles_reserved_name_and_null_column(
    spark, tmp_path
):
    """A user column named __z survives OPTIMIZE (collision-proof key
    name), and an all-NULL z-column degenerates to a constant instead of
    crashing."""
    from cars_bids_data_pipeline_v0__spark.sources.txlog import (
        TransactionLog,
        tx_optimize_zorder,
        tx_read,
    )

    table = str(tmp_path / "zedge")
    log = TransactionLog(table)
    df = spark.createDataFrame(
        [(i, None, i * 2) for i in range(20)],
        "x long, y long, __z long",
    )
    assert log.try_commit(0, log.stage_dataframe(df), [], op="append")
    before = sorted(tuple(r) for r in tx_read(spark, table).collect())
    tx_optimize_zorder(spark, table, ["x", "y"], num_files=2)  # y all NULL
    after = sorted(tuple(r) for r in tx_read(spark, table).collect())
    assert after == before
    assert "__z" in tx_read(spark, table).columns


def test_tx_optimize_zorder_partitioned_within_partitions(spark, tmp_path):
    """On a partitioned table, OPTIMIZE ZORDER clusters within each
    partition: content and partition assignments unchanged, partition
    pruning intact, and intra-partition files carry narrow z-column
    ranges."""
    import random

    from cars_bids_data_pipeline_v0__spark.sources.txlog import (
        TransactionLog,
        tx_optimize_zorder,
        tx_read,
    )

    table = str(tmp_path / "zpart")
    log = TransactionLog(table)
    rng = random.Random(3)
    rows = [
        (f"d{i % 2}", rng.randrange(1000), rng.randrange(1000), i)
        for i in range(800)
    ]
    df = spark.createDataFrame(rows, "pt string, x long, y long, i long")
    adds = log.stage_dataframe(df, partition_by="pt", stats_cols=["x", "y"])
    assert log.try_commit(0, adds, [], op="append")
    before = sorted(tuple(r) for r in tx_read(spark, table).collect())

    removed = tx_optimize_zorder(spark, table, ["x", "y"], num_files=8)
    assert removed >= 1
    after = sorted(tuple(r) for r in tx_read(spark, table).collect())
    assert after == before

    # every rewritten file keeps its partition tag, and both partitions
    # still exist with multiple z-range files each
    live = TransactionLog(table).live_actions()
    parts = {}
    for a in live.values():
        parts.setdefault(a["partition"], []).append(a)
    assert set(parts) == {"d0", "d1"}
    assert all(len(v) >= 2 for v in parts.values())
    # intra-partition clustering: per-file x-ranges are narrower than
    # the full domain for most files
    narrow = 0
    for a in live.values():
        lo, hi = a["stats"]["x"]
        if hi - lo < 600:
            narrow += 1
    assert narrow >= len(live) // 2


def test_tx_export_delta_log_shape_and_roundtrip(spark, silver, tmp_path):
    # delta-spark isn't installable in this container, so the protocol
    # SHAPE is asserted directly against the spec (one JSON action per
    # line; protocol/metaData/add kinds) and the read path is validated
    # through the same file-list contract a Delta reader resolves.
    import json as _json
    import os as _os

    from cars_bids_data_pipeline_v0__spark.sources.txlog import (
        tx_export_delta_log,
        tx_read_delta_export,
    )

    table = str(tmp_path / "tx_lake")
    tx_merge_partitioned(spark, silver, table)
    upd = silver.filter(F.col("auction_id") == "bbb222").withColumn(
        "auction_date", F.to_timestamp(F.lit("2024-03-09 01:00:00"))
    )
    tx_merge_partitioned(spark, upd, table)  # v1: 4 rows

    root = tx_export_delta_log(table)
    commit = _os.path.join(root, "_delta_log", "0" * 20 + ".json")
    actions = [_json.loads(l) for l in open(commit)]

    protos = [a["protocol"] for a in actions if "protocol" in a]
    metas = [a["metaData"] for a in actions if "metaData" in a]
    adds = [a["add"] for a in actions if "add" in a]
    assert len(protos) == 1 and len(metas) == 1
    assert protos[0]["minReaderVersion"] == 1
    assert protos[0]["minWriterVersion"] == 2
    meta = metas[0]
    assert meta["format"]["provider"] == "parquet"
    assert meta["partitionColumns"] == []
    # schemaString is a Spark StructType JSON naming the data columns
    fields = {
        f["name"] for f in _json.loads(meta["schemaString"])["fields"]
    }
    assert {"auction_id", "auction_date"} <= fields
    # id is a stable UUID of the table (re-export of same table agrees)
    import uuid as _uuid

    _uuid.UUID(meta["id"])  # parses
    live = TransactionLog(table).live_files()
    assert len(adds) == len(live)
    for add in adds:
        assert add["path"].startswith("file://")
        assert add["partitionValues"] == {}
        assert add["size"] > 0 and add["dataChange"] is True
    # per-file stats (spec: JSON string): numRecords sums to the
    # snapshot row count — the metadata-only COUNT(*) a Delta reader
    # (and tx_count) resolves without scanning
    assert sum(
        _json.loads(a["stats"])["numRecords"] for a in adds
    ) == tx_read(spark, table).count()

    # round-trip: the add URIs resolve to exactly the live snapshot
    got = {
        (r["auction_id"], str(r["auction_date"]))
        for r in tx_read_delta_export(spark, root).collect()
    }
    want = {
        (r["auction_id"], str(r["auction_date"]))
        for r in tx_read(spark, table).collect()
    }
    assert got == want and len(got) == 4

    # exports are immutable + versioned: re-export is a no-op, older
    # versions export to their own dirs (time travel by directory)
    assert tx_export_delta_log(table) == root
    old = tx_export_delta_log(table, version=0)
    assert old != root
    assert tx_read_delta_export(spark, old).count() == 3


def test_tx_export_delta_reader_contract(spark, tmp_path):
    """The full contract a real Delta reader relies on: schemaString
    round-trips the parquet footers EXACTLY (incl. timestamp_ntz and
    array<double>), every add.size matches the file's on-disk byte size,
    and the URI encode/decode path survives spaces + unicode in the
    table path."""
    import json as _json
    import os as _os
    import urllib.parse as _up

    import pyarrow.parquet as pq
    from pyspark.sql.types import StructType

    from cars_bids_data_pipeline_v0__spark.sources.txlog import (
        tx_export_delta_log,
        tx_read_delta_export,
    )

    table = str(tmp_path / "tx läke v2")  # space + unicode in the path
    df = spark.createDataFrame(
        [
            ("a1", "2024-05-01 10:00:00", [1.0, 2.5], "2024-05-01 10:00:00"),
            ("b2", "2024-05-02 11:00:00", [0.5, -3.0], "2024-05-02 11:00:00"),
        ],
        "auction_id string, auction_date string, emb array<double>, "
        "ntz string",
    ).select(
        "auction_id",
        F.to_timestamp("auction_date").alias("auction_date"),
        "emb",
        F.col("ntz").cast("timestamp_ntz").alias("ntz"),
    )
    tx_merge_partitioned(spark, df, table)

    root = tx_export_delta_log(table)
    commit = _os.path.join(root, "_delta_log", "0" * 20 + ".json")
    actions = [_json.loads(l) for l in open(commit)]
    meta = next(a["metaData"] for a in actions if "metaData" in a)
    adds = [a["add"] for a in actions if "add" in a]

    declared = StructType.fromJson(_json.loads(meta["schemaString"]))
    # the declared types include the tricky ones
    by_name = {f.name: f.dataType.simpleString() for f in declared.fields}
    assert by_name["emb"] == "array<double>"
    assert by_name["ntz"] == "timestamp_ntz"

    for add in adds:
        assert add["path"].startswith("file://")
        local = _up.unquote(add["path"][len("file://"):])
        # URI decodes back to a real file whose size the action declared
        assert _os.path.exists(local), local
        assert add["size"] == _os.path.getsize(local)
        # schemaString describes every add file's footer EXACTLY — via
        # the Spark row metadata Spark embeds there (the Arrow view of a
        # footer cannot carry the timestamp vs timestamp_ntz distinction)
        foot = pq.read_schema(local).metadata[
            b"org.apache.spark.sql.parquet.row.metadata"
        ]
        assert StructType.fromJson(_json.loads(foot)) == declared
        # quoting round-trips (spaces/unicode never raw in the URI)
        assert " " not in add["path"]
        assert add["path"] == "file://" + _up.quote(local, safe="/")

    got = tx_read_delta_export(spark, root)
    assert got.count() == 2
    assert got.schema == declared


def test_tx_export_delta_rejects_schema_divergence(spark, tmp_path):
    """Live files with diverging footers (schema evolution across
    commits) must fail the export loudly — one metaData schemaString
    cannot describe both."""
    import pytest as _pytest

    from cars_bids_data_pipeline_v0__spark.sources.txlog import (
        tx_append_partitioned,
        tx_export_delta_log,
    )

    table = str(tmp_path / "diverged")
    a = spark.createDataFrame([("x", 1, 1.0)], "k string, p int, v double")
    b = spark.createDataFrame([("y", 2, "s")], "k string, p int, v string")
    tx_append_partitioned(spark, a, table, partition_by="p")
    tx_append_partitioned(spark, b, table, partition_by="p")
    with _pytest.raises(ValueError, match="schema divergence"):
        tx_export_delta_log(table)


def test_tx_stream_sink_keeps_delta_export_current(spark, tmp_path):
    """export_delta=True: every committed batch lands as its own immutable
    Delta export and the LATEST pointer follows; a fenced replay moves
    nothing."""
    import os as _os

    from cars_bids_data_pipeline_v0__spark.sources.txlog import (
        tx_read_delta_export,
        tx_stream_merge_sink,
    )

    table = str(tmp_path / "stream_sink_delta")
    sink = tx_stream_merge_sink(table, stream_id="ingest", export_delta=True)

    def mk(rows):
        return spark.createDataFrame(
            rows, "auction_id string, auction_date string, payload long"
        ).withColumn("auction_date", F.to_timestamp("auction_date"))

    def latest_root():
        name = open(_os.path.join(table, "_delta_export", "LATEST")).read()
        return _os.path.join(table, "_delta_export", name.strip())

    sink(mk([("a", "2024-05-01T10:00:00Z", 1)]), 0)
    r0 = latest_root()
    assert tx_read_delta_export(spark, r0).count() == 1

    sink(mk([("b", "2024-05-02T10:00:00Z", 2)]), 1)
    r1 = latest_root()
    assert r1 != r0
    assert tx_read_delta_export(spark, r1).count() == 2
    # older export is immutable: still reads version-0's single row
    assert tx_read_delta_export(spark, r0).count() == 1

    sink(mk([("b", "2024-05-02T10:00:00Z", 2)]), 1)  # fenced replay
    assert latest_root() == r1
    assert tx_read_delta_export(spark, r1).count() == 2


def test_tx_register_view_sql_time_travel(spark, silver, tmp_path):
    from cars_bids_data_pipeline_v0__spark.sources.txlog import (
        tx_register_view,
    )

    table = str(tmp_path / "tx_lake")
    tx_merge_partitioned(spark, silver, table)  # v0: 3 rows
    upd = silver.filter(F.col("auction_id") == "bbb222").withColumn(
        "auction_date", F.to_timestamp(F.lit("2024-03-09 01:00:00"))
    )
    tx_merge_partitioned(spark, upd, table)  # v1: 4 rows (history kept)

    tx_register_view(spark, table, "lake_now")
    assert spark.sql("SELECT count(*) n FROM lake_now").collect()[0]["n"] == 4

    tx_register_view(spark, table, "lake_v0", version=0)
    assert spark.sql("SELECT count(*) n FROM lake_v0").collect()[0]["n"] == 3

    tx_register_view(spark, table, "lake_latest", latest_only=True)
    got = spark.sql(
        "SELECT auction_date FROM lake_latest WHERE auction_id = 'bbb222'"
    ).collect()
    assert len(got) == 1 and str(got[0][0]).startswith("2024-03-09")


def test_tx_fsck_healthy_and_corrupted(spark, silver, tmp_path):
    import json as _json
    import os as _os

    from cars_bids_data_pipeline_v0__spark.sources.txlog import tx_fsck

    table = str(tmp_path / "tx_lake")
    tx_merge_partitioned(spark, silver, table)
    upd = silver.filter(F.col("auction_id") == "bbb222").withColumn(
        "auction_date", F.to_timestamp(F.lit("2024-03-09 01:00:00"))
    )
    tx_merge_partitioned(spark, upd, table)
    log = TransactionLog(table)
    log.checkpoint()  # fsck must validate checkpointed replay too

    rep = tx_fsck(table)
    assert rep["ok"], rep
    assert rep["version"] == 1 and not rep["orphan_files"]

    # orphan (crashed writer) is reported but NOT a corruption
    log.stage_dataframe(
        spark.createDataFrame([(1, "z")], "k long, v string")
    )
    rep = tx_fsck(table)
    assert rep["ok"] and len(rep["orphan_files"]) >= 1

    # a deleted live data file IS
    victim = sorted(log.live_files())[0]
    _os.unlink(_os.path.join(table, victim))
    rep = tx_fsck(table)
    assert not rep["ok"] and victim in rep["missing_files"]

    # a forged version gap IS
    table2 = str(tmp_path / "gap")
    tx_merge_partitioned(spark, silver, table2)
    tx_merge_partitioned(spark, upd, table2)
    log2 = TransactionLog(table2)
    _os.unlink(log2._commit_path(0))
    rep2 = tx_fsck(table2)
    assert not rep2["ok"] and not rep2["contiguous_versions"]

    # a dangling remove IS
    table3 = str(tmp_path / "dangle")
    tx_merge_partitioned(spark, silver, table3)
    log3 = TransactionLog(table3)
    v = log3.version() + 1
    body = {"version": v, "op": "bad", "add": [],
            "remove": ["data/never-added.parquet"]}
    with open(log3._commit_path(v), "w") as f:
        _json.dump(body, f)
    rep3 = tx_fsck(table3)
    assert not rep3["ok"] and rep3["dangling_removes"]


def test_delta_latest_pointer_numeric_and_monotone(tmp_path):
    import os as _os

    from cars_bids_data_pipeline_v0__spark.sources.txlog import (
        _advance_latest_pointer,
    )

    d = str(tmp_path / "exp")
    _os.makedirs(d)
    read = lambda: open(_os.path.join(d, "LATEST")).read().strip()

    _advance_latest_pointer(d, "v00005")
    assert read() == "v00005"
    _advance_latest_pointer(d, "v00004")  # older: must not regress
    assert read() == "v00005"
    # numeric, not lexicographic: v100000 > v99999 even though the
    # string compares lower
    _advance_latest_pointer(d, "v99999")
    _advance_latest_pointer(d, "v100000")
    assert read() == "v100000"
    _advance_latest_pointer(d, "v99999")  # and no regression back
    assert read() == "v100000"
    assert not _os.path.exists(_os.path.join(d, "LATEST.lock"))


# ---------------------------------------------------------------------------
# RESTORE + Change Data Feed (round 7)
# ---------------------------------------------------------------------------


def _cdf_mk(spark, lo, hi):
    return spark.createDataFrame(
        [(i, f"d{i}", i % 3) for i in range(lo, hi)],
        "id long, s string, p int",
    )


def _cdf_table(spark, tmp_path):
    """v1 append evens-ish, v2 append more, v3 delete — the standard
    restore/CDF fixture.  Returns the table path."""
    from cars_bids_data_pipeline_v0__spark.sources.txlog import (
        tx_append_partitioned,
        tx_delete_where,
    )

    t = str(tmp_path / "tbl")
    tx_append_partitioned(spark, _cdf_mk(spark, 0, 6), t, partition_by="p")
    tx_append_partitioned(spark, _cdf_mk(spark, 6, 10), t, partition_by="p")
    n = tx_delete_where(spark, t, "id % 2 = 1")
    assert n == 5
    return t


def test_tx_restore_rolls_back_as_new_commit_reusing_files(spark, tmp_path):
    from cars_bids_data_pipeline_v0__spark.sources.txlog import (
        TransactionLog,
        tx_read,
        tx_restore,
    )

    t = _cdf_table(spark, tmp_path)
    log = TransactionLog(t)
    v_del = log.version()
    before = {r["id"] for r in tx_read(spark, t).collect()}
    assert before == {0, 2, 4, 6, 8}

    files_before = set(os.listdir(log.data_dir))
    res = tx_restore(spark, t, 1)  # back to pre-delete
    assert res["version"] == v_del + 1 and res["restored_to"] == 1
    assert res["files_added"] > 0
    # O(metadata): restore staged NO new data files
    assert set(os.listdir(log.data_dir)) == files_before
    # restored snapshot == the historical snapshot, bit for bit
    now = sorted(tuple(r) for r in tx_read(spark, t).collect())
    old = sorted(tuple(r) for r in tx_read(spark, t, version=1).collect())
    assert now == old and {r[0] for r in now} == set(range(10))
    # re-added files keep their metadata (partition values survive)
    assert all(
        a.get("partition") is not None for a in log.live_actions().values()
    )
    # time travel ABOVE the restore still sees the deleted state
    mid = {r["id"] for r in tx_read(spark, t, version=v_del).collect()}
    assert mid == {0, 2, 4, 6, 8}
    # restore is itself restorable (undo the undo)
    tx_restore(spark, t, v_del)
    assert {r["id"] for r in tx_read(spark, t).collect()} == {0, 2, 4, 6, 8}
    # restoring to the current state is a no-op commit
    v = log.version()
    res = tx_restore(spark, t, v)
    assert res["files_added"] == 0 and log.version() == v


def test_tx_restore_validates_version_and_vacuumed_files(spark, tmp_path):
    from cars_bids_data_pipeline_v0__spark.sources.txlog import (
        TransactionLog,
        tx_restore,
    )

    t = _cdf_table(spark, tmp_path)
    log = TransactionLog(t)
    with pytest.raises(ValueError, match="history"):
        tx_restore(spark, t, log.version() + 1)
    with pytest.raises(ValueError, match="history"):
        tx_restore(spark, t, -1)
    # purge history below the delete, then restore must fail LOUDLY
    log.vacuum(keep_history=False)
    with pytest.raises(ValueError, match="vacuum"):
        tx_restore(spark, t, 1)


def test_tx_changes_per_version_inserts_and_deletes(spark, tmp_path):
    from cars_bids_data_pipeline_v0__spark.sources.txlog import tx_changes

    t = _cdf_table(spark, tmp_path)
    ch = tx_changes(spark, t)
    rows = [
        (r["id"], r["_change_type"], r["_commit_version"], r["_commit_op"])
        for r in ch.collect()
    ]
    ins = sorted((i, v) for i, c, v, _o in rows if c == "insert")
    dels = sorted(i for i, c, _v, _o in rows if c == "delete")
    assert ins == [(i, 0) for i in range(6)] + [(i, 1) for i in range(6, 10)]
    assert dels == [1, 3, 5, 7, 9]
    assert {o for _i, c, _v, o in rows if c == "delete"} == {"delete"}
    # window selection: only the delete version
    ch23 = tx_changes(spark, t, since=1)
    assert sorted(
        r["id"] for r in ch23.filter("_change_type = 'delete'").collect()
    ) == [1, 3, 5, 7, 9]
    assert ch23.filter("_change_type = 'insert'").count() == 0
    # empty window keeps the schema
    empty = tx_changes(spark, t, since=99)
    assert empty.count() == 0
    assert empty.columns == ["id", "s", "p", "_change_type",
                             "_commit_version", "_commit_op"]


def test_tx_changes_compaction_and_restore_are_arithmetically_clean(
    spark, tmp_path
):
    from cars_bids_data_pipeline_v0__spark.sources.txlog import (
        TransactionLog,
        tx_changes,
        tx_compact,
        tx_restore,
    )

    t = _cdf_table(spark, tmp_path)
    log = TransactionLog(t)
    v_del = log.version()
    tx_compact(spark, t)  # layout-only rewrite
    v_cmp = log.version()
    if v_cmp > v_del:  # compaction had something to do
        ch = tx_changes(spark, t, since=v_del, upto=v_cmp)
        assert ch.count() == 0  # zero by exceptAll arithmetic, not op trust
    # a restore's net row changes surface as its delete+insert pairs
    tx_restore(spark, t, 1)
    ch = tx_changes(spark, t, since=v_cmp)
    got = sorted(
        (r["id"], r["_change_type"]) for r in ch.collect()
    )
    assert got == [(i, "insert") for i in [1, 3, 5, 7, 9]]
    assert {r["_commit_op"] for r in ch.collect()} == {"restore"}


def test_tx_changes_upsert_emits_delete_insert_pair(spark, tmp_path):
    from cars_bids_data_pipeline_v0__spark.sources.txlog import (
        TransactionLog,
        tx_changes,
        tx_merge_into,
    )

    t = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        [(1, "old"), (2, "keep")], "id long, s string"
    )
    log = TransactionLog(t)
    adds = log.stage_dataframe(base)
    assert log.try_commit(0, adds, [], op="append")
    tx_merge_into(
        spark, t,
        spark.createDataFrame([(1, "new")], "id long, s string"),
        on=["id"], when_matched_update={"s": "s.s"},
    )
    ch = tx_changes(spark, t, since=0)
    got = sorted((r["id"], r["s"], r["_change_type"]) for r in ch.collect())
    assert got == [(1, "new", "insert"), (1, "old", "delete")]


def test_tx_changes_vacuumed_history_fails_loudly(spark, tmp_path):
    from cars_bids_data_pipeline_v0__spark.sources.txlog import (
        TransactionLog,
        tx_changes,
    )

    t = _cdf_table(spark, tmp_path)
    TransactionLog(t).vacuum(keep_history=False)
    with pytest.raises(ValueError, match="vacuum"):
        tx_changes(spark, t).count()


# ---------------------------------------------------------------------------
# CHECK constraints at the write boundary (round 7)
# ---------------------------------------------------------------------------


def test_tx_constraints_enforced_on_every_write_path(spark, tmp_path):
    from cars_bids_data_pipeline_v0__spark.sources.txlog import (
        ConstraintViolation,
        TransactionLog,
        tx_append_partitioned,
        tx_read,
        tx_merge_into,
        tx_set_constraint,
    )

    t = str(tmp_path / "tbl")
    tx_append_partitioned(
        spark, _cdf_mk(spark, 0, 5), t, partition_by="p"
    )
    tx_set_constraint(spark, t, "id_nonneg", "id >= 0")
    tx_set_constraint(spark, t, "s_not_null", "s IS NOT NULL")
    log = TransactionLog(t)
    assert set(log.constraints()) == {"id_nonneg", "s_not_null"}

    v = log.version()
    # violating append rejected ATOMICALLY: nothing staged, version frozen
    bad = spark.createDataFrame(
        [(-1, "x", 0), (7, "y", 1)], "id long, s string, p int"
    )
    with pytest.raises(ConstraintViolation, match="id_nonneg.*1 row"):
        tx_append_partitioned(spark, bad, t, partition_by="p")
    assert log.version() == v
    assert sorted(r["id"] for r in tx_read(spark, t).collect()) == list(
        range(5)
    )
    # NULL predicate result counts as a violation (strict gate)
    with pytest.raises(ConstraintViolation, match="s_not_null"):
        tx_append_partitioned(
            spark,
            spark.createDataFrame([(9, None, 0)], "id long, s string, p int"),
            t,
            partition_by="p",
        )
    # upsert path enforces too
    with pytest.raises(ConstraintViolation):
        tx_merge_into(
            spark, t,
            spark.createDataFrame([(-5, "z", 0)], "id long, s string, p int"),
            on=["id"], when_matched_update={"s": "s.s"},
        )
    # compliant writes pass
    tx_append_partitioned(spark, _cdf_mk(spark, 5, 7), t, partition_by="p")
    assert tx_read(spark, t).count() == 7


def test_tx_constraint_born_valid_drop_and_checkpoint_survival(
    spark, tmp_path
):
    import os as _os

    from cars_bids_data_pipeline_v0__spark.sources.txlog import (
        ConstraintViolation,
        TransactionLog,
        tx_append_partitioned,
        tx_drop_constraint,
        tx_set_constraint,
    )

    t = str(tmp_path / "tbl")
    tx_append_partitioned(spark, _cdf_mk(spark, 0, 5), t, partition_by="p")
    # a constraint the CURRENT data violates cannot be added
    with pytest.raises(ConstraintViolation, match="existing row"):
        tx_set_constraint(spark, t, "id_big", "id >= 3")
    assert TransactionLog(t).constraints() == {}
    tx_set_constraint(spark, t, "id_small", "id < 100")

    # survives checkpoint + pre-checkpoint log truncation
    log = TransactionLog(t)
    ck_v = log.checkpoint()
    for v in log.versions():
        if v < ck_v:
            _os.remove(log._commit_path(v))
    assert TransactionLog(t).constraints() == {"id_small": "id < 100"}
    with pytest.raises(ConstraintViolation):
        tx_append_partitioned(
            spark,
            spark.createDataFrame([(200, "x", 0)], "id long, s string, p int"),
            t,
            partition_by="p",
        )

    # drop restores writability; unknown drop raises
    tx_drop_constraint(spark, t, "id_small")
    with pytest.raises(ValueError, match="no constraint"):
        tx_drop_constraint(spark, t, "id_small")
    tx_append_partitioned(
        spark,
        spark.createDataFrame([(200, "x", 0)], "id long, s string, p int"),
        t,
        partition_by="p",
    )


def test_tx_constraints_enforced_on_merge_path(spark, tmp_path):
    from cars_bids_data_pipeline_v0__spark.sources.txlog import (
        ConstraintViolation,
        tx_merge_partitioned,
        tx_set_constraint,
    )

    t = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [("a1", "2024-05-01", 100.0)],
        "auction_id string, auction_date string, price double",
    ).withColumn("auction_date", F.to_date("auction_date"))
    tx_merge_partitioned(spark, df, t)
    tx_set_constraint(spark, t, "price_pos", "price > 0")
    bad = spark.createDataFrame(
        [("a2", "2024-05-02", -5.0)],
        "auction_id string, auction_date string, price double",
    ).withColumn("auction_date", F.to_date("auction_date"))
    with pytest.raises(ConstraintViolation, match="price_pos"):
        tx_merge_partitioned(spark, bad, t)


# ---------------------------------------------------------------------------
# UPDATE and MERGE INTO (round 7)
# ---------------------------------------------------------------------------


def test_tx_update_where_cow_semantics(spark, tmp_path):
    from cars_bids_data_pipeline_v0__spark.sources.txlog import (
        TransactionLog,
        tx_append_partitioned,
        tx_read,
        tx_update_where,
    )

    t = str(tmp_path / "tbl")
    tx_append_partitioned(spark, _cdf_mk(spark, 0, 6), t, partition_by="p")
    tx_append_partitioned(spark, _cdf_mk(spark, 6, 10), t, partition_by="p")
    v_before = TransactionLog(t).version()
    live_before = set(TransactionLog(t).live_files())

    n = tx_update_where(spark, t, {"s": "concat(s, '!')"}, "id >= 7")
    assert n == 3
    got = {r["id"]: r["s"] for r in tx_read(spark, t).collect()}
    assert got[7] == "d7!" and got[8] == "d8!" and got[9] == "d9!"
    assert got[0] == "d0"  # untouched
    # only the files CONTAINING matches were rewritten: v1's files survive
    live_after = set(TransactionLog(t).live_files())
    assert live_before & live_after  # untouched files kept their bytes
    # time travel below the update still shows the old values
    old = {r["id"]: r["s"]
           for r in tx_read(spark, t, version=v_before).collect()}
    assert old[7] == "d7"
    # no matches -> version unchanged, zero rows
    v = TransactionLog(t).version()
    assert tx_update_where(spark, t, {"s": "'x'"}, "id > 999") == 0
    assert TransactionLog(t).version() == v


def test_tx_update_where_simultaneous_sets_and_constraints(spark, tmp_path):
    from cars_bids_data_pipeline_v0__spark.sources.txlog import (
        ConstraintViolation,
        TransactionLog,
        tx_append_partitioned,
        tx_read,
        tx_set_constraint,
        tx_update_where,
    )

    t = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(1, 10, 20, 0)], "id long, a long, b long, p int"
    )
    tx_append_partitioned(spark, df, t, partition_by="p")
    # swap: every RHS sees the PRE-update row
    tx_update_where(spark, t, {"a": "b", "b": "a"}, "id = 1")
    r = tx_read(spark, t).collect()[0]
    assert (r["a"], r["b"]) == (20, 10)
    # unknown SET column fails loudly
    with pytest.raises(ValueError, match="not in"):
        tx_update_where(spark, t, {"nope": "1"}, "id = 1")
    # an update that would break a CHECK constraint is rejected atomically
    tx_set_constraint(spark, t, "a_pos", "a > 0")
    v = TransactionLog(t).version()
    with pytest.raises(ConstraintViolation, match="a_pos"):
        tx_update_where(spark, t, {"a": "-5"}, "id = 1")
    assert TransactionLog(t).version() == v
    assert tx_read(spark, t).collect()[0]["a"] == 20


def test_tx_merge_into_full_clause_set(spark, tmp_path):
    from cars_bids_data_pipeline_v0__spark.sources.txlog import (
        tx_append_partitioned,
        tx_merge_into,
        tx_read,
    )

    t = str(tmp_path / "tbl")
    tx_append_partitioned(spark, _cdf_mk(spark, 0, 6), t, partition_by="p")
    # source: updates 1 and 2, deletes 3, inserts 100; 4/5 untouched
    src = spark.createDataFrame(
        [(1, "U1", 1, "upd"), (2, "U2", 2, "upd"), (3, "", 0, "del"),
         (100, "NEW", 1, "ins")],
        "id long, s string, p int, act string",
    )
    res = tx_merge_into(
        spark, t, src, on=["id"],
        when_matched_update={"s": "s.s"},
        when_matched_delete="s.act = 'del'",
        when_not_matched_insert=True,
    )
    assert (res["updated"], res["deleted"], res["inserted"]) == (2, 1, 1)
    got = {r["id"]: r["s"] for r in tx_read(spark, t).collect()}
    assert got[1] == "U1" and got[2] == "U2"
    assert 3 not in got
    assert got[100] == "NEW"
    assert got[0] == "d0" and got[4] == "d4" and got[5] == "d5"
    # the extra source column never leaks into the target schema
    assert "act" not in tx_read(spark, t).columns


def test_tx_merge_into_expressions_cardinality_and_txn(spark, tmp_path):
    from cars_bids_data_pipeline_v0__spark.sources.txlog import (
        tx_append_partitioned,
        tx_merge_into,
        tx_read,
    )

    t = str(tmp_path / "tbl")
    tx_append_partitioned(
        spark,
        spark.createDataFrame(
            [(1, "a", 0), (2, "b", 1)], "id long, s string, p int"
        ),
        t, partition_by="p",
    )
    # both-side expressions: t. and s. aliases resolve
    src = spark.createDataFrame([(1, "z", 0)], "id long, s string, p int")
    tx_merge_into(
        spark, t, src, on=["id"],
        when_matched_update={"s": "concat(t.s, '-', s.s)"},
        when_not_matched_insert=False,
    )
    assert {r["id"]: r["s"] for r in tx_read(spark, t).collect()}[1] == "a-z"

    # matched duplicate keys abort; duplicate PURE INSERT keys are allowed
    dup_matched = spark.createDataFrame(
        [(2, "x", 1), (2, "y", 1)], "id long, s string, p int"
    )
    with pytest.raises(ValueError, match="multiple rows"):
        tx_merge_into(spark, t, dup_matched, on=["id"],
                      when_matched_update={"s": "s.s"})
    dup_inserts = spark.createDataFrame(
        [(50, "x", 1), (50, "y", 1)], "id long, s string, p int"
    )
    res = tx_merge_into(spark, t, dup_inserts, on=["id"],
                        when_matched_update={"s": "s.s"})
    assert res["inserted"] == 2

    # txn fencing: the same (app, batch) replayed is a no-op
    fenced = spark.createDataFrame([(9, "f", 0)], "id long, s string, p int")
    txn = {"app": "mergetest", "batch": 1}
    r1 = tx_merge_into(spark, t, fenced, on=["id"], txn=txn)
    r2 = tx_merge_into(spark, t, fenced, on=["id"], txn=txn)
    assert r1["inserted"] == 1 and r2["inserted"] == 0
    assert tx_read(spark, t).filter("id = 9").count() == 1

    # updating an ON key is refused
    with pytest.raises(ValueError, match="ON key"):
        tx_merge_into(spark, t, src, on=["id"],
                      when_matched_update={"id": "s.id + 1"})


def test_tx_merge_into_empty_target_and_cdf(spark, tmp_path):
    from cars_bids_data_pipeline_v0__spark.sources.txlog import (
        tx_changes,
        tx_merge_into,
        tx_read,
        tx_set_partition_spec,
    )

    t = str(tmp_path / "tbl")
    tx_set_partition_spec(spark, t, "p")  # version 0
    src = spark.createDataFrame(
        [(1, "a", 0), (2, "b", 1)], "id long, s string, p int"
    )
    res = tx_merge_into(spark, t, src, on=["id"])
    assert res["inserted"] == 2
    assert tx_read(spark, t).count() == 2

    upd = spark.createDataFrame([(1, "A", 0)], "id long, s string, p int")
    tx_merge_into(spark, t, upd, on=["id"], when_matched_update={"s": "s.s"})
    # CDF after the creating MERGE shows the update as its
    # delete+insert pair
    ch = tx_changes(spark, t, since=1).collect()
    pair = {(r["_change_type"], r["s"]) for r in ch if r["id"] == 1}
    assert pair == {("delete", "a"), ("insert", "A")}


# ---------------------------------------------------------------------------
# Deletion vectors (merge-on-read DELETE, round 7)
# ---------------------------------------------------------------------------


def test_dv_delete_touches_no_data_files_and_reads_correctly(
    spark, tmp_path
):
    from cars_bids_data_pipeline_v0__spark.sources.txlog import (
        TransactionLog,
        tx_append_partitioned,
        tx_delete_where,
        tx_read,
    )

    t = str(tmp_path / "tbl")
    tx_append_partitioned(spark, _cdf_mk(spark, 0, 10), t, partition_by="p")
    log = TransactionLog(t)
    files_before = set(log.live_files())

    n = tx_delete_where(spark, t, "id IN (2, 5, 7)", mode="dv")
    assert n == 3
    # metadata-only: the live data-file set is BYTE-identical
    assert set(log.live_files()) == files_before
    assert len(log.dvs()) >= 1
    got = sorted(r["id"] for r in tx_read(spark, t).collect())
    assert got == [0, 1, 3, 4, 6, 8, 9]

    # second DV delete unions into per-file DVs; already-deleted rows
    # are not re-counted
    n2 = tx_delete_where(spark, t, "id IN (5, 8)", mode="dv")
    assert n2 == 1
    assert sorted(
        r["id"] for r in tx_read(spark, t).collect()
    ) == [0, 1, 3, 4, 6, 9]
    # no matches at all -> version unchanged
    v = log.version()
    assert tx_delete_where(spark, t, "id = 999", mode="dv") == 0
    assert log.version() == v
    # time travel below the DV delete still sees all rows
    assert tx_read(spark, t, version=0).count() == 10


def test_dv_purge_compact_and_vacuum(spark, tmp_path):
    import os as _os

    from cars_bids_data_pipeline_v0__spark.sources.txlog import (
        TransactionLog,
        tx_append_partitioned,
        tx_compact,
        tx_delete_where,
        tx_purge_dvs,
        tx_read,
    )

    t = str(tmp_path / "tbl")
    tx_append_partitioned(spark, _cdf_mk(spark, 0, 10), t, partition_by="p")
    tx_delete_where(spark, t, "id < 3", mode="dv")
    log = TransactionLog(t)
    assert log.dvs()

    n_files = tx_purge_dvs(spark, t)
    assert n_files >= 1
    assert log.dvs() == {}  # retired with their data files
    assert sorted(r["id"] for r in tx_read(spark, t).collect()) == list(
        range(3, 10)
    )
    # purge with no DVs is a no-op
    assert tx_purge_dvs(spark, t) == 0

    # compact also materializes DVs
    tx_delete_where(spark, t, "id = 9", mode="dv")
    assert tx_compact(spark, t) > 0
    assert log.dvs() == {}
    assert sorted(r["id"] for r in tx_read(spark, t).collect()) == list(
        range(3, 9)
    )

    # vacuum(keep_history=False) reaps superseded DV parquets
    dv_dir = _os.path.join(t, "_dv")
    assert _os.path.isdir(dv_dir) and _os.listdir(dv_dir)
    log.vacuum(keep_history=False)
    assert not [
        n for n in _os.listdir(dv_dir) if n.endswith(".parquet")
    ]
    assert sorted(r["id"] for r in tx_read(spark, t).collect()) == list(
        range(3, 9)
    )


def test_dv_writers_respect_vectors(spark, tmp_path):
    from cars_bids_data_pipeline_v0__spark.sources.txlog import (
        tx_append_partitioned,
        tx_delete_where,
        tx_merge_into,
        tx_read,
        tx_update_where,
    )

    t = str(tmp_path / "tbl")
    tx_append_partitioned(spark, _cdf_mk(spark, 0, 6), t, partition_by="p")
    tx_delete_where(spark, t, "id = 1", mode="dv")

    # UPDATE on a DV table: deleted rows neither match nor resurrect
    assert tx_update_where(spark, t, {"s": "'U'"}, "id <= 2") == 2  # 0 and 2
    got = {r["id"]: r["s"] for r in tx_read(spark, t).collect()}
    assert 1 not in got and got[0] == "U" and got[2] == "U"

    # cow DELETE on a file carrying a DV: rewrite drops both row sets
    tx_delete_where(spark, t, "id = 3", mode="dv")
    assert tx_delete_where(spark, t, "id = 0", mode="cow") == 1
    assert sorted(r["id"] for r in tx_read(spark, t).collect()) == [2, 4, 5]

    # MERGE on a DV table: a dv-deleted key counts as NOT matched
    src = spark.createDataFrame([(3, "back", 0)], "id long, s string, p int")
    res = tx_merge_into(spark, t, src, on=["id"],
                        when_matched_update={"s": "s.s"})
    assert res["inserted"] == 1 and res["updated"] == 0
    assert sorted(r["id"] for r in tx_read(spark, t).collect()) == [2, 3, 4, 5]


def test_dv_cdf_restore_and_checkpoint(spark, tmp_path):
    import os as _os

    from cars_bids_data_pipeline_v0__spark.sources.txlog import (
        TransactionLog,
        tx_append_partitioned,
        tx_changes,
        tx_delete_where,
        tx_read,
        tx_restore,
    )

    t = str(tmp_path / "tbl")
    tx_append_partitioned(spark, _cdf_mk(spark, 0, 6), t, partition_by="p")  # v0
    v_before = TransactionLog(t).version()
    tx_delete_where(spark, t, "id IN (1, 4)", mode="dv")  # v1
    v_dv = TransactionLog(t).version()

    # CDF reports the DV delete as row-level deletes at its version
    ch = tx_changes(spark, t, since=v_before).collect()
    dels = sorted(r["id"] for r in ch if r["_change_type"] == "delete")
    assert dels == [1, 4]
    assert all(r["_commit_version"] == v_dv for r in ch)

    # RESTORE below the DV delete resurrects the rows (and CDF shows it)
    tx_restore(spark, t, v_before)
    assert tx_read(spark, t).count() == 6
    ch2 = tx_changes(spark, t, since=v_dv).collect()
    ins = sorted(r["id"] for r in ch2 if r["_change_type"] == "insert")
    assert ins == [1, 4]
    # and restoring back FORWARD to the DV version re-deletes them
    tx_restore(spark, t, v_dv)
    assert sorted(r["id"] for r in tx_read(spark, t).collect()) == [
        0, 2, 3, 5
    ]

    # DV state survives checkpoint + pre-checkpoint log truncation
    log = TransactionLog(t)
    ck = log.checkpoint()
    for v in log.versions():
        if v < ck:
            _os.remove(log._commit_path(v))
    assert TransactionLog(t).dvs()
    assert sorted(r["id"] for r in tx_read(spark, t).collect()) == [
        0, 2, 3, 5
    ]


def test_dv_guards_exports_scans_and_fsck(spark, tmp_path):
    from cars_bids_data_pipeline_v0__spark.sources.txlog import (
        tx_append_partitioned,
        tx_delete_where,
        tx_export_delta_log,
        tx_export_symlink_manifest,
        tx_fsck,
        tx_purge_dvs,
        tx_scan,
        tx_scan_eq,
    )

    t = str(tmp_path / "tbl")
    tx_append_partitioned(
        spark, _cdf_mk(spark, 0, 10), t, partition_by="p",
        stats_cols=["id"],
    )
    tx_delete_where(spark, t, "id = 4", mode="dv")

    # pruning scans apply DVs (no silent resurrection)
    got = sorted(r["id"] for r in tx_scan(spark, t, "id", 3, 6).collect())
    assert got == [3, 5, 6]
    assert tx_scan_eq(spark, t, "id", 4).count() == 0

    # file-list exports refuse while DVs are in force
    with pytest.raises(ValueError, match="deletion vectors"):
        tx_export_symlink_manifest(t)
    with pytest.raises(ValueError, match="deletion vectors"):
        tx_export_delta_log(t)

    rep = tx_fsck(t)
    assert rep["ok"] and not rep["missing_dv_files"]

    tx_purge_dvs(spark, t)
    tx_export_symlink_manifest(t)  # now fine


# ---------------------------------------------------------------------------
# Streaming CDC apply (round 7)
# ---------------------------------------------------------------------------


def _cdc_mk(spark, rows):
    return spark.createDataFrame(
        rows, "id long, v string, ts long, p int, _change_type string"
    )


def test_tx_cdc_apply_sink_semantics(spark, tmp_path):
    from cars_bids_data_pipeline_v0__spark.sources.txlog import (
        TransactionLog,
        tx_read,
        tx_set_partition_spec,
        tx_stream_cdc_apply_sink,
    )

    t = str(tmp_path / "cdc")
    tx_set_partition_spec(spark, t, "p")
    sink = tx_stream_cdc_apply_sink(t, key="id", sequence_by="ts")

    # batch 0: pure inserts — op column must NOT reach the table
    sink(_cdc_mk(spark, [
        (1, "a", 10, 0, "insert"),
        (2, "b", 10, 1, "insert"),
        (3, "c", 10, 0, "insert"),
    ]), 0)
    got = tx_read(spark, t)
    assert set(got.columns) == {"id", "v", "ts", "p"}
    assert got.count() == 3

    # batch 1: update 1, delete 2, insert 4, and a delete for a key the
    # table never had (5) — must NOT ghost-insert; within-batch
    # superseded change for 4 (older ts) must lose
    sink(_cdc_mk(spark, [
        (1, "a2", 20, 0, "update"),
        (2, "", 20, 1, "delete"),
        (4, "old", 15, 0, "insert"),
        (4, "new", 21, 0, "update"),
        (5, "", 20, 0, "delete"),
    ]), 1)
    rows = {r["id"]: (r["v"], r["ts"]) for r in tx_read(spark, t).collect()}
    assert rows == {1: ("a2", 20), 3: ("c", 10), 4: ("new", 21)}

    # checkpoint replay of batch 1 is a fenced no-op
    v = TransactionLog(t).version()
    sink(_cdc_mk(spark, [(1, "a2", 20, 0, "update")]), 1)
    assert TransactionLog(t).version() == v

    # batch 2 arriving LATE with OLDER sequence cannot roll row 1 back
    sink(_cdc_mk(spark, [(1, "stale", 5, 0, "update")]), 2)
    assert {
        r["id"]: r["v"] for r in tx_read(spark, t).collect()
    }[1] == "a2"

    # same-sequence delete outranks the update deterministically
    sink(_cdc_mk(spark, [
        (3, "zz", 30, 0, "update"),
        (3, "", 30, 0, "delete"),
    ]), 3)
    assert sorted(r["id"] for r in tx_read(spark, t).collect()) == [1, 4]


def test_tx_cdc_apply_through_real_stream(spark, tmp_path):
    import json as _json
    import os as _os

    from cars_bids_data_pipeline_v0__spark.sources.txlog import (
        tx_read,
        tx_set_partition_spec,
        tx_stream_cdc_apply_sink,
    )

    src = str(tmp_path / "in")
    ck = str(tmp_path / "ck")
    t = str(tmp_path / "cdc")
    tx_set_partition_spec(spark, t, "p")
    _os.makedirs(src)
    with open(_os.path.join(src, "b0.json"), "w") as f:
        for row in [
            {"id": 1, "v": "a", "ts": 10, "p": 0, "_change_type": "insert"},
            {"id": 2, "v": "b", "ts": 10, "p": 1, "_change_type": "insert"},
            {"id": 1, "v": "a2", "ts": 20, "p": 0, "_change_type": "update"},
            {"id": 2, "v": "", "ts": 20, "p": 1, "_change_type": "delete"},
        ]:
            f.write(_json.dumps(row) + "\n")

    schema = "id long, v string, ts long, p int, _change_type string"
    stream = spark.readStream.schema(schema).json(src)
    q = (
        stream.writeStream
        .foreachBatch(tx_stream_cdc_apply_sink(
            t, key="id", sequence_by="ts", checkpoint_dir=ck,
        ))
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {r["id"]: r["v"] for r in tx_read(spark, t).collect()}
    assert rows == {1: "a2"}


def test_tx_timestamp_as_of(spark, tmp_path):
    import os as _os
    import time as _time

    from cars_bids_data_pipeline_v0__spark.sources.txlog import (
        TransactionLog,
        tx_append_partitioned,
        tx_read,
    )

    t = str(tmp_path / "tbl")
    tx_append_partitioned(spark, _cdf_mk(spark, 0, 3), t, partition_by="p")
    t0 = _time.time()
    _time.sleep(0.05)
    tx_append_partitioned(spark, _cdf_mk(spark, 3, 7), t, partition_by="p")

    assert tx_read(spark, t, timestamp=t0).count() == 3
    assert tx_read(spark, t, timestamp=_time.time()).count() == 7
    with pytest.raises(ValueError, match="no snapshot"):
        tx_read(spark, t, timestamp=t0 - 3600)
    with pytest.raises(ValueError, match="not both"):
        tx_read(spark, t, version=0, timestamp=t0)
    # a commit file predating the ts field resolves by mtime
    log = TransactionLog(t)
    import json as _json
    p = log._commit_path(0)
    body = _json.load(open(p))
    body.pop("ts")
    _os.remove(p)
    with open(p, "w") as f:
        _json.dump(body, f)
    _os.utime(p, (t0 - 1, t0 - 1))
    assert log.version_at_timestamp(t0) == 0


def test_tx_compact_partition_scoped(spark, tmp_path):
    from cars_bids_data_pipeline_v0__spark.sources.txlog import (
        TransactionLog,
        tx_append_partitioned,
        tx_compact,
        tx_delete_where,
        tx_read,
    )

    t = str(tmp_path / "tbl")
    # three appends -> multiple small files per partition value
    for lo, hi in [(0, 6), (6, 12), (12, 18)]:
        tx_append_partitioned(
            spark, _cdf_mk(spark, lo, hi), t, partition_by="p"
        )
    log = TransactionLog(t)
    before = log.live_files()
    p0_before = {f for f, p in before.items() if p == "0"}
    p1_before = {f for f, p in before.items() if p == "1"}
    assert len(p0_before) == 3 and len(p1_before) == 3
    # a DV on an OUT-OF-SCOPE partition must survive the scoped compact
    tx_delete_where(spark, t, "id = 1", mode="dv")  # id 1 -> p=1

    removed = tx_compact(spark, t, partitions=["0"])
    assert removed == 3
    after = log.live_files()
    assert {f for f, p in after.items() if p == "0"} != p0_before
    assert len({f for f, p in after.items() if p == "0"}) == 1
    assert {f for f, p in after.items() if p == "1"} == p1_before
    assert log.dvs()  # out-of-scope DV still in force
    assert sorted(r["id"] for r in tx_read(spark, t).collect()) == [
        i for i in range(18) if i != 1
    ]
    # scoped compact of an already-compacted partition is a no-op
    assert tx_compact(spark, t, partitions=["0"]) == 0
    # unknown partition value -> nothing to do
    assert tx_compact(spark, t, partitions=["zz"]) == 0


def test_tx_clone_shallow_and_vacuum_dry_run(spark, tmp_path):
    import os as _os

    from cars_bids_data_pipeline_v0__spark.sources.txlog import (
        TransactionLog,
        tx_append_partitioned,
        tx_clone,
        tx_delete_where,
        tx_read,
        tx_set_constraint,
        tx_update_where,
    )

    src = str(tmp_path / "src")
    tx_append_partitioned(spark, _cdf_mk(spark, 0, 8), src, partition_by="p")
    tx_set_constraint(spark, src, "id_nonneg", "id >= 0")
    tx_delete_where(spark, src, "id = 2", mode="dv")
    v_pre = TransactionLog(src).version()
    tx_append_partitioned(spark, _cdf_mk(spark, 8, 10), src, partition_by="p")

    # clone the HISTORICAL snapshot (before the last append)
    clone = str(tmp_path / "clone")
    info = tx_clone(spark, src, clone, version=v_pre)
    assert info["files"] > 0 and info["dvs"] == 1
    got = sorted(r["id"] for r in tx_read(spark, clone).collect())
    assert got == [0, 1, 3, 4, 5, 6, 7]  # DV carried over, id 2 gone
    # zero bytes copied: the clone's own data dir does not exist yet
    assert not _os.path.isdir(_os.path.join(clone, "data"))
    # constraints carried over
    assert TransactionLog(clone).constraints() == {"id_nonneg": "id >= 0"}
    # row-tracking mark carries too: if the source tracked ids, the
    # clone's appends must continue the sequence, not collide
    assert (
        TransactionLog(clone).row_id_hwm()
        == TransactionLog(src).row_id_hwm(upto=v_pre)
    )

    # clone is independent: a write to it never touches the source
    tx_update_where(spark, clone, {"s": "'CLONED'"}, "id = 0")
    assert tx_read(spark, clone).filter("id=0").collect()[0]["s"] == "CLONED"
    assert tx_read(spark, src).filter("id=0").collect()[0]["s"] == "d0"
    assert tx_read(spark, src).count() == 9  # src unchanged (10 - dv'd 2)

    # existing target refuses
    with pytest.raises(ValueError, match="already exists"):
        tx_clone(spark, src, clone)

    # vacuum dry-run lists, deletes nothing
    log = TransactionLog(clone)
    victims = log.vacuum(keep_history=False, dry_run=True)
    assert isinstance(victims, list)
    for rel in victims:
        assert _os.path.isfile(_os.path.join(clone, rel))
    n = log.vacuum(keep_history=False)
    assert n == len(victims)


def test_tx_cdf_stream_replication_end_to_end(spark, tmp_path):
    """The round-7 integration capstone: replicate a txlog table into a
    second one THROUGH the streaming change feed — readStream
    readChangeFeed=true on the source, tx_stream_cdc_apply_sink on the
    replica — and the replica must equal the source snapshot.  Covers
    CDF reconstruction, the change-row contract, keep-latest folding and
    MERGE apply in one pipeline (the Delta 'table replication via CDF'
    recipe)."""
    from cars_bids_data_pipeline_v0__spark.sources.pyds import (
        register_txlog_source,
    )
    from cars_bids_data_pipeline_v0__spark.sources.txlog import (
        tx_append_partitioned,
        tx_read,
        tx_set_partition_spec,
        tx_stream_cdc_apply_sink,
    )

    register_txlog_source(spark)
    src_t = str(tmp_path / "src")
    rep_t = str(tmp_path / "rep")
    ck = str(tmp_path / "ck")
    tx_set_partition_spec(spark, rep_t, "p")

    # source history: two appends (no rewrites — the stream source's
    # append-only contract; rewriting commits are covered by the batch
    # CDF tests)
    tx_append_partitioned(spark, _cdf_mk(spark, 0, 6), src_t, partition_by="p")
    tx_append_partitioned(spark, _cdf_mk(spark, 6, 10), src_t, partition_by="p")

    changes = (
        spark.readStream.format("txlog")
        .option("path", src_t)
        .option("readChangeFeed", "true")
        .load()
    )
    # the CDF contract: _change_type / _commit_version ride along; the
    # commit version is the CDC sequence — replay-stable and monotone
    q = (
        changes.withColumn("_seq", F.col("_commit_version").cast("long"))
        .drop("_commit_version", "_commit_op")
        .writeStream.foreachBatch(
            tx_stream_cdc_apply_sink(
                rep_t, key="id", sequence_by="_seq",
                op_col="_change_type", delete_value="delete",
                checkpoint_dir=ck,
            )
        )
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    src_rows = {
        (r["id"], r["s"], r["p"]) for r in tx_read(spark, src_t).collect()
    }
    rep = tx_read(spark, rep_t)
    rep_rows = {(r["id"], r["s"], r["p"]) for r in rep.collect()}
    assert rep_rows == src_rows
    assert "_seq" in rep.columns  # the sequence column is a data column

    # incremental catch-up: new source commits flow through the SAME
    # checkpoint without re-applying history
    tx_append_partitioned(
        spark, _cdf_mk(spark, 10, 12), src_t, partition_by="p"
    )
    q2 = (
        changes.withColumn("_seq", F.col("_commit_version").cast("long"))
        .drop("_commit_version", "_commit_op")
        .writeStream.foreachBatch(
            tx_stream_cdc_apply_sink(
                rep_t, key="id", sequence_by="_seq",
                op_col="_change_type", delete_value="delete",
                checkpoint_dir=ck,
            )
        )
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(180)
    assert tx_read(spark, rep_t).count() == 12


def test_tx_dml_writers_race_serializes(spark, tmp_path):
    """Optimistic concurrency across the NEW writers: a MERGE and a DV
    delete racing from the same snapshot must serialize — both commit
    (distinct versions), no lost update, and the final state equals ONE
    of the two serial orders."""
    import threading

    from cars_bids_data_pipeline_v0__spark.sources.txlog import (
        TransactionLog,
        tx_append_partitioned,
        tx_delete_where,
        tx_merge_into,
        tx_read,
    )

    t = str(tmp_path / "tbl")
    tx_append_partitioned(spark, _cdf_mk(spark, 0, 10), t, partition_by="p")

    errs = []

    def do_merge():
        try:
            src = spark.createDataFrame(
                [(3, "M", 0), (50, "N", 1)], "id long, s string, p int"
            )
            tx_merge_into(
                spark, t, src, on=["id"],
                when_matched_update={"s": "s.s"},
            )
        except Exception as e:  # pragma: no cover
            errs.append(e)

    def do_delete():
        try:
            tx_delete_where(spark, t, "id IN (7, 8)", mode="dv")
        except Exception as e:  # pragma: no cover
            errs.append(e)

    th1 = threading.Thread(target=do_merge)
    th2 = threading.Thread(target=do_delete)
    th1.start(); th2.start(); th1.join(120); th2.join(120)
    assert not errs, errs

    log = TransactionLog(t)
    assert log.version() == 2  # both committed, serialized
    rows = {r["id"]: r["s"] for r in tx_read(spark, t).collect()}
    assert rows[3] == "M" and rows[50] == "N"
    assert 7 not in rows and 8 not in rows
    assert len(rows) == 9  # 10 - 2 deleted + 1 inserted


# ---------------------------------------------------------------------------
# Row tracking (round 7)
# ---------------------------------------------------------------------------


def test_row_tracking_assignment_and_stickiness(spark, tmp_path):
    from cars_bids_data_pipeline_v0__spark.sources.txlog import (
        TransactionLog,
        tx_append_partitioned,
        tx_read,
    )

    t = str(tmp_path / "tbl")
    tx_append_partitioned(
        spark, _cdf_mk(spark, 0, 5), t, partition_by="p",
        assign_row_ids=True,
    )
    # second append continues WITHOUT the flag (sticky tracking)
    tx_append_partitioned(spark, _cdf_mk(spark, 5, 9), t, partition_by="p")
    df = tx_read(spark, t)
    ids = sorted(r["_row_id"] for r in df.collect())
    assert ids == list(range(0, 9))  # dense, unique, continuing
    assert TransactionLog(t).row_id_hwm() == 9

    # a writer supplying its own _row_id is refused
    with pytest.raises(ValueError, match="assigned by the table"):
        tx_append_partitioned(
            spark,
            df.limit(1),
            t,
            partition_by="p",
        )


def test_row_tracking_survives_dml_and_pairs_updates(spark, tmp_path):
    from cars_bids_data_pipeline_v0__spark.sources.txlog import (
        TransactionLog,
        tx_append_partitioned,
        tx_changes,
        tx_merge_into,
        tx_read,
        tx_update_where,
    )

    t = str(tmp_path / "tbl")
    tx_append_partitioned(
        spark, _cdf_mk(spark, 0, 6), t, partition_by="p",
        assign_row_ids=True,
    )
    before = {r["id"]: r["_row_id"] for r in tx_read(spark, t).collect()}
    v0 = TransactionLog(t).version()

    # UPDATE keeps row ids
    tx_update_where(spark, t, {"s": "upper(s)"}, "id < 2")
    after = {r["id"]: r["_row_id"] for r in tx_read(spark, t).collect()}
    assert after == before
    with pytest.raises(ValueError, match="cannot be updated"):
        tx_update_where(spark, t, {"_row_id": "0"}, "id = 0")

    # MERGE: updated row keeps its id, inserted rows get FRESH ids
    src = spark.createDataFrame(
        [(3, "M", 0), (50, "N", 1), (51, "O", 2)],
        "id long, s string, p int",
    )
    tx_merge_into(spark, t, src, on=["id"],
                  when_matched_update={"s": "s.s"})
    rows = {r["id"]: r["_row_id"] for r in tx_read(spark, t).collect()}
    assert rows[3] == before[3]
    assert {rows[50], rows[51]} == {6, 7}  # continue past hwm=6
    assert TransactionLog(t).row_id_hwm() == 8
    with pytest.raises(ValueError, match="cannot be updated"):
        tx_merge_into(spark, t, src, on=["id"],
                      when_matched_update={"_row_id": "0"})

    # CDF pairing: the UPDATE's delete+insert share a _row_id and are
    # relabeled pre/postimage; the MERGE's pure inserts stay inserts
    ch = tx_changes(spark, t, since=v0, pair_updates=True).collect()
    by_type = {}
    for r in ch:
        by_type.setdefault(r["_change_type"], []).append(r)
    pre = {(r["id"], r["s"]) for r in by_type["update_preimage"]}
    post = {(r["id"], r["s"]) for r in by_type["update_postimage"]}
    assert (0, "d0") in pre and (0, "D0") in post
    assert (1, "d1") in pre and (1, "D1") in post
    assert (3, "d3") in pre and (3, "M") in post
    ins = {r["id"] for r in by_type["insert"]}
    assert ins == {50, 51}
    assert "delete" not in by_type  # every delete paired into an update
    # pre/postimage of the same row carry the SAME _row_id
    pre_ids = {r["id"]: r["_row_id"] for r in by_type["update_preimage"]}
    post_ids = {r["id"]: r["_row_id"] for r in by_type["update_postimage"]}
    assert pre_ids == post_ids

    # untracked table refuses pair_updates loudly
    t2 = str(tmp_path / "untracked")
    tx_append_partitioned(spark, _cdf_mk(spark, 0, 3), t2, partition_by="p")
    with pytest.raises(ValueError, match="row-tracked"):
        tx_changes(spark, t2, pair_updates=True)


def test_tx_optimize_auto_compacts_only_hot_partitions(spark, tmp_path):
    from cars_bids_data_pipeline_v0__spark.sources.txlog import (
        TransactionLog,
        tx_append_partitioned,
        tx_optimize_auto,
        tx_read,
    )

    t = str(tmp_path / "tbl")
    # partition p=0 accumulates 4 small files; p=1 and p=2 get 1 each
    for i in range(4):
        tx_append_partitioned(
            spark,
            spark.createDataFrame(
                [(100 + i, f"x{i}", 0)], "id long, s string, p int"
            ),
            t, partition_by="p",
        )
    tx_append_partitioned(
        spark,
        spark.createDataFrame(
            [(1, "a", 1), (2, "b", 2)], "id long, s string, p int"
        ),
        t, partition_by="p",
    )
    log = TransactionLog(t)
    p1_files = {f for f, p in log.live_files().items() if p == "1"}

    picked = tx_optimize_auto(
        spark, t, small_file_bytes=1 << 20, min_small_files=4,
    )
    assert picked == ["0"]
    live = log.live_files()
    assert len({f for f, p in live.items() if p == "0"}) == 1
    assert {f for f, p in live.items() if p == "1"} == p1_files  # untouched
    assert tx_read(spark, t).count() == 6
    # steady state: nothing qualifies, pure metadata no-op
    assert tx_optimize_auto(
        spark, t, small_file_bytes=1 << 20, min_small_files=4
    ) == []


def test_tx_generated_columns(spark, tmp_path):
    from cars_bids_data_pipeline_v0__spark.sources.txlog import (
        ConstraintViolation,
        TransactionLog,
        tx_append_partitioned,
        tx_merge_into,
        tx_read,
        tx_set_generated_column,
    )

    t = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(1, "2024-05-01T10:00:00Z", 0)], "id long, ts string, p int"
    ).select(
        "id", F.to_timestamp("ts").alias("ts"), "p"
    ).withColumn("day", F.to_date("ts"))
    tx_append_partitioned(spark, df, t, partition_by="p")
    tx_set_generated_column(spark, t, "day", "to_date(ts)")

    # a batch WITHOUT the column gets it computed
    nxt = spark.createDataFrame(
        [(2, "2024-06-02T09:00:00Z", 1)], "id long, ts string, p int"
    ).select("id", F.to_timestamp("ts").alias("ts"), "p")
    tx_append_partitioned(spark, nxt, t, partition_by="p")
    got = {r["id"]: str(r["day"]) for r in tx_read(spark, t).collect()}
    assert got == {1: "2024-05-01", 2: "2024-06-02"}

    # a batch providing a STALE value is rejected atomically
    bad = spark.createDataFrame(
        [(3, "2024-07-01T00:00:00Z", 0)], "id long, ts string, p int"
    ).select(
        "id", F.to_timestamp("ts").alias("ts"), "p",
        F.lit("1999-01-01").cast("date").alias("day"),
    )
    v = TransactionLog(t).version()
    with pytest.raises(ConstraintViolation, match="GENERATED"):
        tx_append_partitioned(spark, bad, t, partition_by="p")
    assert TransactionLog(t).version() == v

    # declaring over disagreeing existing data is refused
    with pytest.raises(ConstraintViolation, match="disagree"):
        tx_set_generated_column(spark, t, "day", "to_date(ts) + 1")

    # MERGE inserts compute the unmapped generated column
    src = spark.createDataFrame(
        [(9, "2024-08-05T00:00:00Z", 1)], "id long, ts string, p int"
    ).select("id", F.to_timestamp("ts").alias("ts"), "p")
    tx_merge_into(spark, t, src, on=["id"])
    got = {r["id"]: str(r["day"]) for r in tx_read(spark, t).collect()}
    assert got[9] == "2024-08-05"

    # checkpoint survival
    import os as _os
    log = TransactionLog(t)
    ck = log.checkpoint()
    for vv in log.versions():
        if vv < ck:
            _os.remove(log._commit_path(vv))
    assert TransactionLog(t).generated_cols() == {"day": "to_date(ts)"}


def test_tx_zorder_partition_scoped(spark, tmp_path):
    from cars_bids_data_pipeline_v0__spark.sources.txlog import (
        TransactionLog,
        tx_append_partitioned,
        tx_optimize_zorder,
        tx_read,
    )

    t = str(tmp_path / "tbl")
    for lo, hi in [(0, 8), (8, 16)]:
        tx_append_partitioned(
            spark, _cdf_mk(spark, lo, hi), t, partition_by="p"
        )
    log = TransactionLog(t)
    p2_before = {f for f, p in log.live_files().items() if p == "2"}
    n = tx_optimize_zorder(
        spark, t, zorder_by=["id"], num_files=2, partitions=["0", "1"]
    )
    assert n > 0
    after = log.live_files()
    assert {f for f, p in after.items() if p == "2"} == p2_before
    assert tx_read(spark, t).count() == 16
    assert tx_optimize_zorder(
        spark, t, zorder_by=["id"], partitions=["zz"]
    ) == 0


def test_row_tracking_with_array_columns(spark, tmp_path):
    """Row-id assignment must survive unsortable column types (arrays
    cannot key a range exchange)."""
    from cars_bids_data_pipeline_v0__spark.sources.txlog import (
        tx_append_partitioned,
        tx_read,
    )

    t = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(i, [float(i), float(i + 1)], i % 2) for i in range(6)],
        "id long, vec array<double>, p int",
    )
    tx_append_partitioned(
        spark, df, t, partition_by="p", assign_row_ids=True
    )
    ids = sorted(r["_row_id"] for r in tx_read(spark, t).collect())
    assert ids == list(range(6))


def test_tx_history_and_detail(spark, tmp_path):
    from cars_bids_data_pipeline_v0__spark.sources.txlog import (
        TransactionLog,
        tx_append_partitioned,
        tx_delete_where,
        tx_detail,
        tx_history,
        tx_set_constraint,
    )

    t = str(tmp_path / "tbl")
    tx_append_partitioned(
        spark, _cdf_mk(spark, 0, 6), t, partition_by="p",
        txn={"app": "hist", "batch": 0}, assign_row_ids=True,
    )
    tx_set_constraint(spark, t, "id_ok", "id >= 0")
    tx_delete_where(spark, t, "id = 1", mode="dv")

    h = {r["version"]: r for r in tx_history(spark, t).collect()}
    assert set(h) == {0, 1, 2}
    assert h[0]["op"] == "append" and h[0]["rows_added"] == 6
    assert h[0]["txn"] == "hist#0"
    assert h[0]["ts"] is not None and h[0]["bytes_added"] > 0
    assert "row_id_hwm" in h[0]["meta_changed"]
    assert h[1]["op"] == "set_constraint"
    assert "constraints" in h[1]["meta_changed"]
    assert h[2]["op"] == "delete_dv" and h[2]["files_added"] == 0
    assert "dv_state" in h[2]["meta_changed"]

    d = tx_detail(t)
    assert d["exists"] and d["version"] == 2
    assert d["num_files"] >= 1 and d["size_bytes"] > 0
    assert d["num_dvs"] == 1
    assert d["constraints"] == {"id_ok": "id >= 0"}
    assert d["row_id_hwm"] == 6
    assert sorted(d["partition_values"]) == ["0", "1", "2"]

    assert tx_detail(str(tmp_path / "nope"))["exists"] is False


def test_tx_append_schema_modes(spark, tmp_path):
    from cars_bids_data_pipeline_v0__spark.sources.txlog import (
        tx_append_partitioned,
        tx_read,
        tx_table_schema,
    )

    t = str(tmp_path / "tbl")
    tx_append_partitioned(
        spark, _cdf_mk(spark, 0, 3), t, partition_by="p",
        schema_mode="enforce", assign_row_ids=True,
    )
    assert tx_table_schema(t)["id"] == "bigint"

    # exact same schema passes enforce (row-id column is table-managed)
    tx_append_partitioned(
        spark, _cdf_mk(spark, 3, 5), t, partition_by="p",
        schema_mode="enforce",
    )

    # a new column is rejected under enforce, welcomed under merge
    wide = spark.createDataFrame(
        [(9, "x", 0, 1.5)], "id long, s string, p int, score double"
    )
    with pytest.raises(ValueError, match="use schema_mode='merge'"):
        tx_append_partitioned(
            spark, wide, t, partition_by="p", schema_mode="enforce"
        )
    tx_append_partitioned(
        spark, wide, t, partition_by="p", schema_mode="merge"
    )
    got = tx_read(spark, t, merge_schema=True)
    assert "score" in got.columns and got.count() == 6

    # dropping an existing column is rejected even under merge
    narrow = spark.createDataFrame([(10, 0)], "id long, p int")
    with pytest.raises(ValueError, match="missing table column"):
        tx_append_partitioned(
            spark, narrow, t, partition_by="p", schema_mode="merge"
        )
    # a type conflict is rejected under merge
    bad = spark.createDataFrame([("x", "s", 0)], "id string, s string, p int")
    with pytest.raises(ValueError, match="type conflict"):
        tx_append_partitioned(
            spark, bad, t, partition_by="p", schema_mode="merge"
        )


# -- the optimistic-commit primitive and its crash-safe publish ----------


def _ids(spark, t):
    return sorted(r["id"] for r in tx_read(spark, t).collect())


def test_torn_commit_reported_not_raised(tmp_path):
    """A zero-byte commit — what an ``O_EXCL``-create-then-write publish
    left behind when its writer died in between — is a torn commit:
    fsck reports it (and is not ok) and readers name the file instead
    of raising a bare JSONDecodeError."""
    import json

    from cars_bids_data_pipeline_v0__spark.sources.txlog import tx_fsck

    t = str(tmp_path / "tbl")
    log = TransactionLog(t)
    assert log.try_commit(0, [], [], op="noop")
    assert log.try_commit(1, [], [], op="noop")
    torn = "00000000000000000002.json"
    open(os.path.join(log.log_dir, torn), "w").close()

    rep = tx_fsck(t)
    assert rep["version"] == 2
    assert rep["torn_commits"] == [torn]
    assert rep["ok"] is False
    with pytest.raises(ValueError, match=torn) as exc:
        log.live_files()
    assert not isinstance(exc.value, json.JSONDecodeError)


def test_torn_checkpoint_sidecar_reported_count_unchanged(tmp_path):
    """A checkpoint whose sidecar is torn is demoted by every reader; fsck
    names its version under ``torn_checkpoints`` without flipping ``ok``
    (the data stays correct), and the count does not move."""
    from cars_bids_data_pipeline_v0__spark.sources import txlog as TX
    from cars_bids_data_pipeline_v0__spark.sources.txlog import (
        tx_count,
        tx_fsck,
    )

    from .fixtures import arrow_append

    t = str(tmp_path / "tbl")
    log = TransactionLog(t)
    arrow_append(log, [1, 2, 3])
    arrow_append(log, [4, 5])
    assert log.checkpoint() == 1
    arrow_append(log, [6])
    assert tx_count(t) == 6
    rep = tx_fsck(t)
    assert rep["torn_checkpoints"] == [] and rep["ok"]

    body = TX._load_checkpoint_cached(log._checkpoint_path(1))
    with open(os.path.join(log.log_dir, body["live_parquet"]), "w") as fh:
        fh.write("not parquet")
    TX._CHECKPOINT_BODY_CACHE.clear()
    TX._SNAPSHOT_CACHE.clear()
    rep = tx_fsck(t)
    assert rep["torn_checkpoints"] == [1]
    assert rep["ok"] is True
    assert tx_count(t) == 6


_CRASH_CHILD = """
import os, sys
import pyarrow.parquet as pq
from cars_bids_data_pipeline_v0__spark.sources.txlog import TransactionLog
from tests.fixtures import arrow_append

table, point = sys.argv[1:]
log = TransactionLog(table)
write, replace = pq.write_table, os.replace


def die(*args):
    os._exit(3)


def write_then_die(*args, **kwargs):
    write(*args, **kwargs)
    die()


def replace_or_die(src, dst):
    if dst.endswith(".checkpoint.json"):
        die()
    replace(src, dst)


if point == "staged":
    pq.write_table = write_then_die
elif point == "link":
    os.link = die
elif point == "checkpoint":
    os.replace = replace_or_die
    log.checkpoint()
arrow_append(log, [99])
"""


@pytest.mark.parametrize("point", ["staged", "link", "checkpoint"])
def test_writer_crash_leaves_table_readable(spark, tmp_path, point):
    """A writer process killed after staging its files, between the
    commit body's temp write and its link, or in the middle of a
    checkpoint leaves a readable table: fsck ok (orphans allowed), the
    version unmoved, the next append commits, and the change feed still
    folds to the snapshot.  The child never starts Spark."""
    import collections
    import subprocess
    import sys

    from cars_bids_data_pipeline_v0__spark.sources.txlog import (
        tx_changes,
        tx_fsck,
    )
    from tests.fixtures import arrow_append

    t = str(tmp_path / "tbl")
    log = TransactionLog(t)
    arrow_append(log, [0, 1])
    arrow_append(log, [2])
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    child = subprocess.run(
        [sys.executable, "-c", _CRASH_CHILD, t, point],
        cwd=repo, capture_output=True, text=True, timeout=120,
    )
    assert child.returncode == 3, child.stderr  # died at the crash point

    assert log.version() == 1
    assert log._checkpoint_versions() == []
    assert all(
        os.path.getsize(os.path.join(log.log_dir, n)) > 0
        for n in os.listdir(log.log_dir)
    )
    rep = tx_fsck(t)
    assert rep["ok"], rep
    if point == "staged":
        assert len(rep["orphan_files"]) == 1
    assert _ids(spark, t) == [0, 1, 2]

    assert arrow_append(log, [3]) == 2
    assert _ids(spark, t) == [0, 1, 2, 3]
    ch = tx_changes(spark, t).collect()
    folded = collections.Counter(
        r["id"] for r in ch if r["_change_type"] == "insert"
    ) - collections.Counter(
        r["id"] for r in ch if r["_change_type"] == "delete"
    )
    assert sorted(folded.elements()) == [0, 1, 2, 3]


@pytest.mark.parametrize("point", ["link", "checkpoint"])
def test_vacuum_reaps_temp_files_of_a_crashed_writer(tmp_path, point):
    """A writer that died between its commit body's link and unlink, or
    inside a checkpoint, leaves a temp file in ``_txlog/``: vacuum lists
    it in a dry run, deletes it, and touches no published name; the
    snapshot is unchanged."""
    import subprocess
    import sys

    from tests.fixtures import arrow_append

    t = str(tmp_path / "tbl")
    log = TransactionLog(t)
    arrow_append(log, [0, 1])
    arrow_append(log, [2])
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    child = subprocess.run(
        [sys.executable, "-c", _CRASH_CHILD, t, point],
        cwd=repo, capture_output=True, text=True, timeout=120,
    )
    assert child.returncode == 3, child.stderr
    names = set(os.listdir(log.log_dir))
    temps = {n for n in names if ".tmp-" in n}
    assert len(temps) == 1, names
    before = log.live_files()

    victims = log.vacuum(dry_run=True)
    assert {f"_txlog/{n}" for n in temps} <= set(victims)
    assert os.listdir(log.log_dir) and set(os.listdir(log.log_dir)) == names
    log.vacuum()
    assert set(os.listdir(log.log_dir)) == names - temps
    assert TransactionLog(t).live_files() == before
    assert log.vacuum(dry_run=True) == []


def test_run_optimistic_retry_budget_fence_and_cleanup(tmp_path):
    """The primitive alone, without Spark: a writer that always loses
    gives up after the module's constant retry budget with an error
    naming its op and leaves no staged file behind; a writer whose rival
    turns out to be its own txn replay returns the fenced value; a
    proposal that reuses its staged files across a lost race keeps
    them."""
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    from cars_bids_data_pipeline_v0__spark.sources import txlog

    t = str(tmp_path / "tbl")
    log = TransactionLog(t)
    os.makedirs(log.data_dir)

    def stage() -> dict:
        rel = f"data/{uuid.uuid4().hex}.parquet"
        pq.write_table(pa.table({"id": [1]}), os.path.join(t, rel))
        return {"path": rel, "partition": None, "rows": 1}

    calls = []

    def always_loses(v):
        calls.append(v)
        add = stage()
        assert log.try_commit(v + 1, [], [], op="rival")
        return txlog.CommitProposal([add], [], "never")

    with pytest.raises(RuntimeError, match="doomed gave up after 20 "):
        log.run_optimistic("doomed", always_loses)
    assert len(calls) == txlog._COMMIT_RETRIES == 20
    assert os.listdir(log.data_dir) == []

    txn = {"app": "stream", "batch": 7}

    def replay_wins(v):
        add = stage()
        assert log.try_commit(v + 1, [], [], op="append", txn=txn)
        return txlog.CommitProposal([add], [], "committed")

    assert log.run_optimistic(
        "append", replay_wins, txn=txn, fenced="fenced"
    ) == "fenced"
    assert os.listdir(log.data_dir) == []
    assert log.run_optimistic(
        "append", replay_wins, txn=txn, fenced="fenced"
    ) == "fenced"  # the entry fence: build never ran

    staged_once = stage()
    tries = []

    def reuses(v):
        tries.append(v)
        if len(tries) == 1:
            assert log.try_commit(v + 1, [], [], op="rival")
        return txlog.CommitProposal([staged_once], [], v + 1)

    assert log.run_optimistic("append", reuses) == tries[-1] + 1
    assert len(tries) == 2
    assert os.listdir(log.data_dir) == [
        os.path.basename(staged_once["path"])
    ]
    assert staged_once["path"] in log.live_files()


def _race_inside_build(monkeypatch, compete):
    """Make ``compete(log, v)`` publish version v + 1 right after a
    writer's first ``build(v)`` returns — its files already staged — so
    the writer loses exactly one race.  Returns the pinned versions."""
    real = TransactionLog.run_optimistic
    pins: list[int] = []

    def patched(self, op, build, txn=None, fenced=None):
        def racing(v):
            got = build(v)
            pins.append(v)
            if len(pins) == 1:
                compete(self, v)
            return got

        return real(self, op, racing, txn=txn, fenced=fenced)

    monkeypatch.setattr(TransactionLog, "run_optimistic", patched)
    return pins


def _conflict_case(spark, name):
    """(setup, compete, verb, fenced no-op value or None) per verb
    family; ``compete`` commits a plain append of rows the verb's retry
    must take into account."""
    from cars_bids_data_pipeline_v0__spark.sources.txlog import (
        PARTITION_COL,
        tx_add_column,
        tx_append_partitioned,
        tx_compact,
        tx_delete_where,
        tx_merge_into,
    )

    if name == "merge_partitioned":
        def mk(rows):
            return spark.createDataFrame(
                rows, "auction_id string, auction_date string, price long"
            ).withColumn("auction_date", F.to_timestamp("auction_date"))

        def setup(t):
            tx_merge_partitioned(spark, mk([("a1", "2024-03-02 08:00:00", 1)]), t)

        def compete(log, v):
            rival = mk([("a1", "2024-03-02 10:00:00", 999)]).withColumn(
                PARTITION_COL, F.to_date("auction_date")
            )
            adds = log.stage_dataframe(rival, partition_by=PARTITION_COL)
            assert log.try_commit(v + 1, adds, [], op="append")

        def verb(t):
            return tx_merge_partitioned(
                spark,
                mk([("a1", "2024-03-02 09:00:00", 5),
                    ("b2", "2024-03-03 09:00:00", 6)]),
                t, txn={"app": "merge", "batch": 0},
            )

        return setup, compete, verb, []

    def setup(t):  # two files per partition: something to compact
        for lo in (0, 3):
            tx_append_partitioned(
                spark, _cdf_mk(spark, lo, lo + 3), t, partition_by="p"
            )

    def compete(log, v):
        adds = log.stage_dataframe(_cdf_mk(spark, 100, 102), partition_by="p")
        assert log.try_commit(v + 1, adds, [], op="append")

    if name == "append":
        return setup, compete, lambda t: tx_append_partitioned(
            spark, _cdf_mk(spark, 50, 53), t, partition_by="p",
            txn={"app": "append", "batch": 0},
        ), 0
    if name == "merge_into":
        src = spark.createDataFrame(
            [(100, "M", 1), (2, "M", 2), (60, "N", 0)],
            "id long, s string, p int",
        )
        return setup, compete, lambda t: tx_merge_into(
            spark, t, src, on=["id"], when_matched_update={"s": "s.s"},
            txn={"app": "merge_into", "batch": 0},
        ), {
            "updated": 0, "deleted": 0, "inserted": 0,
            "files_rewritten": 0, "version": 3,
        }
    if name == "delete_dv":
        return setup, compete, lambda t: tx_delete_where(
            spark, t, "id IN (1, 100)", mode="dv"
        ), None
    if name == "compact":
        return setup, compete, lambda t: tx_compact(spark, t), None
    assert name == "add_column"
    return setup, compete, lambda t: tx_add_column(
        spark, t, "extra", "int", default="7"
    ), None


@pytest.mark.parametrize(
    "name",
    ["append", "merge_partitioned", "merge_into", "delete_dv", "compact",
     "add_column"],
)
def test_verb_retries_a_conflict_inside_build(
    spark, tmp_path, monkeypatch, name
):
    """Every verb family runs on `run_optimistic`: a rival commit landing
    while the verb builds makes it lose once, rebuild on the rival's
    snapshot and commit — the same table and result as the serial order
    (rival, then verb) — leaving no staged file unreferenced; a
    txn-fenced replay is the no-op."""
    from cars_bids_data_pipeline_v0__spark.sources.txlog import tx_fsck

    setup, compete, verb, fenced = _conflict_case(spark, name)

    def state(t):
        df = tx_read(spark, t)
        cols = sorted(df.columns)
        return sorted(
            (tuple(str(r[c]) for c in cols) for r in df.collect())
        )

    serial = str(tmp_path / "serial")
    setup(serial)
    compete(TransactionLog(serial), TransactionLog(serial).version())
    want = verb(serial)

    raced = str(tmp_path / "raced")
    setup(raced)
    v0 = TransactionLog(raced).version()
    pins = _race_inside_build(monkeypatch, compete)
    got = verb(raced)
    assert pins == [v0, v0 + 1]
    assert got == want
    assert state(raced) == state(serial)

    log = TransactionLog(raced)
    rep = tx_fsck(raced)
    assert rep["ok"] and rep["orphan_files"] == [], rep
    dv_dir = os.path.join(raced, "_dv")
    on_disk = {
        f"_dv/{n}" for n in (os.listdir(dv_dir) if os.path.isdir(dv_dir) else [])
    }
    assert on_disk == set(log.dvs().values())

    if fenced is not None:
        v = log.version()
        assert verb(raced) == fenced
        assert log.version() == v


def test_scan_exact_rows_decodes_uri_paths(spark, tmp_path):
    """A table path with a space reaches `inputFiles()` percent-encoded;
    the footer row estimate must still find the files."""
    from cars_bids_data_pipeline_v0__spark.sources.txlog import _scan_exact_rows

    src = str(tmp_path / "with space" / "src")
    spark.range(37).write.parquet(src)
    assert _scan_exact_rows(spark.read.parquet(src)) == 37
