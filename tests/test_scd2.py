"""SCD2 history operator: snapshot semantics on a known log, incremental
apply ≡ full rebuild, and stratified-sampling determinism."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from cars_bids_data_pipeline_v0__spark.operators.sampling import (
    stratified_sample,
)
from cars_bids_data_pipeline_v0__spark.operators.scd2 import (
    scd2_apply,
    scd2_snapshot,
)


def _ts(s):
    return dt.datetime.fromisoformat(s)


def _log(spark, rows):
    return spark.createDataFrame(
        [(k, v, _ts(t), i) for i, (k, v, t) in enumerate(rows)],
        "k long, v string, ts timestamp, tie long",
    )


def test_scd2_snapshot_collapses_runs_and_marks_current(spark):
    log = _log(spark, [
        (1, "a", "2024-01-01T00:00:00"),
        (1, "a", "2024-01-02T00:00:00"),   # no change → collapsed
        (1, "b", "2024-01-03T00:00:00"),
        (1, "a", "2024-01-04T00:00:00"),   # back to a → NEW interval
        (2, "x", "2024-01-01T00:00:00"),
    ])
    out = scd2_snapshot(log, "k", "v", "ts", "tie")
    rows = {(r["k"], r["valid_from"]): r for r in out.collect()}
    assert len(rows) == 4  # 3 intervals for k=1, 1 for k=2
    r1 = rows[(1, _ts("2024-01-01T00:00:00"))]
    assert (r1["v"], r1["valid_to"], r1["is_current"]) == (
        "a", _ts("2024-01-03T00:00:00"), False)
    r3 = rows[(1, _ts("2024-01-04T00:00:00"))]
    assert (r3["v"], r3["valid_to"], r3["is_current"]) == ("a", None, True)
    assert rows[(2, _ts("2024-01-01T00:00:00"))]["is_current"] is True


def test_scd2_apply_equals_full_rebuild(spark):
    base_rows = [
        (1, "a", "2024-01-01T00:00:00"),
        (1, "b", "2024-01-03T00:00:00"),
        (2, "x", "2024-01-01T00:00:00"),
        (3, "q", "2024-01-02T00:00:00"),
    ]
    upd_rows = [
        (1, "c", "2024-01-05T00:00:00"),   # new value for existing key
        (2, "x", "2024-01-06T00:00:00"),   # no-op update (same value)
        (4, "n", "2024-01-04T00:00:00"),   # brand-new key
    ]
    current = scd2_snapshot(_log(spark, base_rows), "k", "v", "ts", "tie")
    updates = _log(spark, upd_rows)
    incr = scd2_apply(current, updates, "k", "v", "ts", "tie")
    full = scd2_snapshot(
        _log(spark, base_rows + upd_rows), "k", "v", "ts", "tie"
    )
    a = sorted(map(str, incr.select("k", "v", "valid_from", "valid_to",
                                    "is_current").collect()))
    b = sorted(map(str, full.select("k", "v", "valid_from", "valid_to",
                                    "is_current").collect()))
    assert a == b
    # untouched key 3 passes through, key 2's no-op adds no interval
    per_key = {r["k"]: 0 for r in incr.collect()}
    for r in incr.collect():
        per_key[r["k"]] += 1
    assert per_key == {1: 3, 2: 1, 3: 1, 4: 1}


def test_scd2_snapshot_null_transitions(spark):
    # value→NULL and NULL→value transitions are real interval boundaries;
    # a key whose FIRST tracked value is NULL still opens an interval.
    log = _log(spark, [
        (1, "a", "2024-01-01T00:00:00"),
        (1, None, "2024-01-02T00:00:00"),  # a → NULL: new interval
        (1, None, "2024-01-03T00:00:00"),  # NULL run collapses
        (1, "b", "2024-01-04T00:00:00"),   # NULL → b: new interval
        (2, None, "2024-01-01T00:00:00"),  # first row NULL-valued
        (2, "x", "2024-01-02T00:00:00"),
    ])
    out = scd2_snapshot(log, "k", "v", "ts", "tie")
    rows = {(r["k"], r["valid_from"]): r for r in out.collect()}
    assert len(rows) == 5
    null_iv = rows[(1, _ts("2024-01-02T00:00:00"))]
    assert null_iv["v"] is None
    assert null_iv["valid_to"] == _ts("2024-01-04T00:00:00")
    assert null_iv["is_current"] is False
    assert rows[(1, _ts("2024-01-04T00:00:00"))]["is_current"] is True
    first_null = rows[(2, _ts("2024-01-01T00:00:00"))]
    assert first_null["v"] is None and first_null["is_current"] is False
    # incremental apply agrees on nullable tracked columns too
    upd = _log(spark, [(1, None, "2024-01-05T00:00:00")])
    incr = scd2_apply(out, upd, "k", "v", "ts", "tie")
    full = scd2_snapshot(
        log.unionByName(upd), "k", "v", "ts", "tie"
    )
    assert sorted(map(str, incr.collect())) == sorted(
        map(str, full.collect())
    )


def test_scd2_apply_replays_real_tie_values(spark):
    # two updates share order_col within a key; only the tie column orders
    # them.  A keep_tie snapshot lets scd2_apply replay history with the
    # real tiebreakers, so incremental == full rebuild deterministically.
    base = spark.createDataFrame(
        [(1, "a", _ts("2024-01-01T00:00:00"), 0),
         (1, "b", _ts("2024-01-01T00:00:00"), 1),
         (2, "x", _ts("2024-01-01T00:00:00"), 0)],
        "k long, v string, ts timestamp, tie long",
    )
    upd = spark.createDataFrame(
        [(1, "c", _ts("2024-01-02T00:00:00"), 2)],
        "k long, v string, ts timestamp, tie long",
    )
    current = scd2_snapshot(base, "k", "v", "ts", "tie", keep_tie=True)
    assert "tie" in current.columns
    incr = scd2_apply(current, upd, "k", "v", "ts", "tie")
    full = scd2_snapshot(
        base.unionByName(upd), "k", "v", "ts", "tie", keep_tie=True
    )
    cols = ["k", "v", "valid_from", "valid_to", "is_current", "tie"]
    assert sorted(map(str, incr.select(*cols).collect())) == sorted(
        map(str, full.select(*cols).collect())
    )
    # the b-interval opens at the SAME ts as a's but after it (tie order)
    b_row = {r["v"]: r for r in incr.filter("k = 1").collect()}
    assert b_row["a"]["valid_to"] == _ts("2024-01-01T00:00:00")
    assert b_row["b"]["valid_to"] == _ts("2024-01-02T00:00:00")
    assert b_row["c"]["is_current"] is True


def test_stratified_sample_deterministic_and_per_stratum(spark):
    df = spark.range(2000).select(
        F.col("id"),
        F.when(F.col("id") % 3 == 0, "en")
        .when(F.col("id") % 3 == 1, "fr")
        .otherwise("zz")
        .alias("lang"),
    )
    frac = {"en": 0.25, "fr": 1.0}
    s1 = stratified_sample(df, "id", "lang", frac, default_fraction=0.0)
    s2 = stratified_sample(
        df.repartition(7), "id", "lang", frac, default_fraction=0.0
    )
    ids1 = sorted(r["id"] for r in s1.collect())
    ids2 = sorted(r["id"] for r in s2.collect())
    assert ids1 == ids2  # pure function of id — partitioning-independent
    by_lang = {
        r["lang"]: r["n"]
        for r in s1.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    assert by_lang.get("zz") is None          # default 0.0 → dropped
    assert by_lang["fr"] == 667               # fraction 1.0 keeps all
    assert 100 < by_lang["en"] < 233          # ~25% of 667, md5-uniform-ish


def test_pii_redaction_kinds_and_order(spark):
    from cars_bids_data_pipeline_v0__spark.operators.text import (
        pii_counts,
        redact_pii,
    )

    df = spark.createDataFrame(
        [
            (1, "contact bob.smith+x@example.co.uk or +1 555-123-4567"),
            (2, "card 4111 1111 1111 1111 from 192.168.0.1"),
            (3, "clean text no pii"),
        ],
        "id long, text string",
    )
    out = {
        r["id"]: r
        for r in df.select(
            "id",
            redact_pii("text").alias("red"),
            *[v.alias(k) for k, v in pii_counts("text").items()],
        ).collect()
    }
    assert "[EMAIL]" in out[1]["red"] and "[PHONE]" in out[1]["red"]
    assert "@" not in out[1]["red"]
    # CARD-before-PHONE ordering: the 16-digit run is one [CARD], not a
    # phone fragment; the IP is matched as [IP], not a phone
    assert out[2]["CARD"] == 1 and out[2]["PHONE"] == 0
    assert "[CARD]" in out[2]["red"] and "[IP]" in out[2]["red"]
    assert out[3]["red"] == "clean text no pii"
    assert all(out[3][k] == 0 for k in ("EMAIL", "CARD", "PHONE", "IP"))


def test_merge_into_full_semantics(spark):
    from cars_bids_data_pipeline_v0__spark.operators.merge import merge_into

    target = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "k long, name string, amount double",
    )
    source = spark.createDataFrame(
        [(2, "B", 200.0),     # matched → update
         (3, "c", 30.0),      # matched → delete (flagged below)
         (4, "d", 40.0),      # unmatched → insert
         (4, "d-dup", 41.0)], # duplicate source key → deduped
        "k long, name string, amount double",
    )
    out = merge_into(
        target, source, on=["k"],
        when_matched_update={"name": "name"},        # take source name only
        when_matched_delete=F.col("__s.name") == "c",
    )
    rows = {r["k"]: r for r in out.collect()}
    assert set(rows) == {1, 2, 4}            # 3 deleted
    assert rows[1]["name"] == "a" and rows[1]["amount"] == 10.0   # untouched
    assert rows[2]["name"] == "B" and rows[2]["amount"] == 20.0   # update keeps unlisted cols
    # deterministic dedup: first by sorted payload (amount asc) — always 40.0
    assert rows[4]["amount"] == 40.0 and rows[4]["name"] == "d"


def test_merge_into_replace_row_and_no_insert(spark):
    from cars_bids_data_pipeline_v0__spark.operators.merge import merge_into

    target = spark.createDataFrame(
        [(1, "a", 10.0)], "k long, name string, amount double")
    source = spark.createDataFrame(
        [(1, "A", 100.0), (9, "z", 9.0)],
        "k long, name string, amount double")
    out = merge_into(
        target, source, on=["k"],
        when_matched_update=None,            # replace whole row
        when_not_matched_insert=False,       # update-only merge
    )
    rows = {r["k"]: r for r in out.collect()}
    assert set(rows) == {1}
    assert rows[1]["name"] == "A" and rows[1]["amount"] == 100.0


def test_upsert_and_insert_if_absent_deterministic_dupes(spark):
    """A batch carrying the same key twice with DIFFERENT payloads must
    upsert a stable survivor — first by sorted payload — across
    repartitionings (round-2 VERDICT defect: both entry points used
    nondeterministic dropDuplicates)."""
    from cars_bids_data_pipeline_v0__spark.operators.merge import (
        insert_if_absent,
        merge_into,
    )

    existing = spark.createDataFrame(
        [(1, "old", 1.0)], "k long, name string, amount double")
    batch_rows = [(2, "x", 99.0), (2, "a", 5.0), (3, "m", 7.0), (3, "m", 3.0)]
    for nparts in (1, 3, 7):
        batch = spark.createDataFrame(
            batch_rows, "k long, name string, amount double"
        ).repartition(nparts)

        ins = {r["k"]: r for r in insert_if_absent(existing, batch, ["k"]).collect()}
        # survivor = first by (amount asc, name asc) sorted-column order
        assert set(ins) == {2, 3}
        assert ins[2]["name"] == "a" and ins[2]["amount"] == 5.0
        assert ins[3]["amount"] == 3.0

        up = {r["k"]: r for r in merge_into(existing, batch, ["k"]).collect()}
        assert set(up) == {1, 2, 3}
        assert up[1]["name"] == "old"
        assert up[2]["name"] == "a" and up[2]["amount"] == 5.0
        assert up[3]["amount"] == 3.0
