"""Golden end-to-end: raw JSON (both vintages) → bronze → F1 split →
silver → S5 merge sink → gold star schema; plus idempotence (M1-M3) and
keep-latest (D1) semantics."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cars_bids_data_pipeline_v0__spark.plans.gold import (
    GoldStore,
    build_star_schema,
    seed_state_dim,
)
from cars_bids_data_pipeline_v0__spark.plans.silver import transform_records
from cars_bids_data_pipeline_v0__spark.schemas import SILVER, STAGING_COLUMNS
from cars_bids_data_pipeline_v0__spark.sources.ingest import read_raw_auctions
from cars_bids_data_pipeline_v0__spark.sources.sinks import write_text_queue

from .fixtures import write_raw_files


@pytest.fixture(scope="module")
def pipeline_out(spark, tmp_path_factory):
    rawdir = tmp_path_factory.mktemp("raw")
    meta = write_raw_files(str(rawdir))
    records = read_raw_auctions(spark, str(rawdir))
    silver, rescrape = transform_records(records)
    return silver.persist(), rescrape, meta


def test_schema_is_silver(pipeline_out):
    silver, _, _ = pipeline_out
    assert [f.name for f in silver.schema.fields] == STAGING_COLUMNS
    # types match; engine nullability may be stricter (e.g. fillna(0) cols)
    assert [(f.name, f.dataType) for f in silver.schema.fields] == [
        (f.name, f.dataType) for f in SILVER.fields
    ]


def test_validity_split_routes_invalid_to_rescrape(pipeline_out):
    _, rescrape, meta = pipeline_out
    urls = [r[0] for r in rescrape.collect()]
    assert urls == meta["rescrape_expected"]


def test_keep_latest_dedup(pipeline_out):
    silver, _, _ = pipeline_out
    rows = {r["auction_id"]: r for r in silver.collect()}
    # 4 auctions scraped, 1 invalid, aaa111 duplicated → 3 silver rows
    assert sorted(rows) == ["aaa111", "bbb222", "ddd444"]
    # D1: the re-scrape of aaa111 (2024-03-05, 2 bids) won
    a = rows["aaa111"]
    assert str(a["auction_date"]).startswith("2024-03-05")
    assert a["bids"] == [25000, 24000]
    assert a["auction_status"] == "Sold buyer2"  # C8 substring replace
    assert a["reserve_met"] is False  # 'sold buyer2' != 'sold'


def test_transform_column_semantics(pipeline_out):
    silver, _, _ = pipeline_out
    rows = {r["auction_id"]: r for r in silver.collect()}
    a, b, d = rows["aaa111"], rows["bbb222"], rows["ddd444"]
    assert a["mileage"] == 87000
    assert a["highest_bid_value"] == 20750.0
    assert a["view_count"] == 12345 and a["watcher_count"] == 678
    assert a["model"] == "M3"  # first line only
    assert a["seller"] == "sellerguy"  # 'Follow' dropped
    assert a["title_status_cleaned"] == "Clean" and a["title_state"] == "FL"
    assert a["city"] == "Seattle" and a["state"] == "WA"
    assert a["transmission_type"] == "Manual" and a["gears"] == 6
    assert a["drivetrain"] == "RWD"
    assert a["manufacture_year"] == 2014
    # C18 on the deduped winner: [25000, 24000]
    assert a["max_bid"] == 25000 and a["min_bid"] == 24000
    assert a["mean_bid"] == pytest.approx(24500.0)
    assert a["median_bid"] == pytest.approx(24500.0)
    assert a["bid_range"] == 1000
    # b: full-value reserve replace hit exactly
    assert b["auction_status"] == "Reserve not met"
    # list-vintage highlight/service drift still lands
    assert b["highlight_count"] == 2 and b["service_count"] == 1
    # d: C11 all-or-nothing → [] → C18 all null
    assert d["bids"] == []
    assert d["max_bid"] is None and d["median_bid"] is None


def test_merge_sink_and_idempotence(spark, pipeline_out, tmp_path):
    """The S9 rescrape queue.  The S5 merge sink's assertions (touched
    dates, M5 idempotence, newer-date re-arrival shadowed at read) run
    on the commit-log lake in
    tests/test_txlog.py::test_tx_merge_matches_parquet_fallback_semantics."""
    _silver, rescrape, _ = pipeline_out
    qdir = str(tmp_path / "queue")
    write_text_queue(rescrape, qdir)
    lines = [r[0] for r in spark.read.text(qdir).collect()]
    assert lines == ["https://carsandbids.com/auctions/ccc333/2014-ford-x"]


def test_gold_star_schema_and_idempotence(spark, pipeline_out, tmp_path):
    silver, _, _ = pipeline_out
    store = GoldStore(spark, str(tmp_path / "gold"))
    states = spark.createDataFrame(
        [(1, "Washington", "WA"), (2, "Florida", "FL")],
        "id long, state string, state_abbr string",
    )
    seed_state_dim(store, states)
    CHECK = ("auction_status_dim", "city_dim", "vehicle_make_dim",
             "vehicle_model_dim", "vehicle_dim", "auction_fact")

    def snapshot(tables):
        return {n: sorted(str(r) for r in tables[n].collect()) for n in CHECK}

    gold = build_star_schema(store, silver)
    fact = {r["auction_id"]: r for r in gold["auction_fact"].collect()}
    assert len(fact) == 3
    a = fact["aaa111"]
    # joins resolved: state via title_state abbr, city composite, dims
    assert a["auction_state"] == 2  # title_state FL
    assert a["vehicle_id"] is not None
    assert a["auction_status"] is not None and a["seller_type"] is not None
    # city_dim J1 OR-join: Seattle matched WA by abbr → state_id 1
    city = {(r["city_name"], r["state_id"]) for r in gold["city_dim"].collect()}
    assert ("Seattle", 2) in city or ("Seattle", 1) in city
    # vehicle_dim payload
    v = gold["vehicle_dim"].filter(F.col("auction_id") == "aaa111").collect()[0]
    assert v["gear_count"] == 6 and v["title_status"] == "Clean"
    snap1 = snapshot(gold)
    # rerun the whole load → identical tables (M1-M3 idempotence)
    gold2 = build_star_schema(store, silver)
    snap2 = snapshot(gold2)
    for name in CHECK:
        assert snap1[name] == snap2[name], name
    # update path (M2): change a vehicle attribute, same (vin, auction_id)
    upd = silver.withColumn(
        "engine", F.when(F.col("auction_id") == "aaa111", "SWAPPED V8")
        .otherwise(F.col("engine"))
    )
    gold3 = build_star_schema(store, upd)
    v3 = gold3["vehicle_dim"].filter(F.col("auction_id") == "aaa111").collect()[0]
    assert v3["engine"] == "SWAPPED V8"
    assert v3["vehicle_id"] == v["vehicle_id"]  # surrogate id stable
    assert gold3["auction_fact"].count() == 3  # fact insert-ignore


# -- gold on the commit log: crash + re-run, snapshot frames, raw read-back --

GOLD_TABLES = (
    "auction_status_dim", "reserve_status_dim", "body_style_dim",
    "seller_type_dim", "drivetrain_dim", "transmission_dim", "city_dim",
    "vehicle_make_dim", "vehicle_model_dim", "vehicle_dim", "auction_fact",
)


def _seeded_store(spark, root):
    store = GoldStore(spark, root)
    seed_state_dim(store, spark.createDataFrame(
        [(1, "Washington", "WA"), (2, "Florida", "FL")],
        "id long, state string, state_abbr string",
    ))
    return store


def _gold_rows(store):
    return {n: sorted(str(r) for r in store.read(n).collect())
            for n in GOLD_TABLES}


@pytest.fixture(scope="module")
def gold_batches(spark, pipeline_out, tmp_path_factory):
    """Two batches into one store — one auction first, then all three
    with that auction's engine changed (fresh dims and vehicles plus a
    matched vehicle upsert) — with the first build's frames and every
    table's rows after each build."""
    silver, _, _ = pipeline_out
    batches = [
        silver.filter(F.col("auction_id") == "bbb222"),
        silver.withColumn("engine", F.when(
            F.col("auction_id") == "bbb222", "SWAPPED V8"
        ).otherwise(F.col("engine"))),
    ]
    store = _seeded_store(spark, str(tmp_path_factory.mktemp("gold2")))
    first = build_star_schema(store, batches[0])
    rows = [_gold_rows(store)]
    build_star_schema(store, batches[1])
    rows.append(_gold_rows(store))
    return {"batches": batches, "store": store, "first": first, "rows": rows}


class _Crash(RuntimeError):
    pass


def test_gold_rebuild_after_crash_matches_uninterrupted(
    spark, gold_batches, tmp_path, monkeypatch
):
    """A build that dies after its k-th table commit, re-run, leaves every
    table equal to the uninterrupted build — ids included — and
    fsck-clean; the uninterrupted build mints no id twice and has one
    fact row per auction."""
    import threading

    from cars_bids_data_pipeline_v0__spark.sources.txlog import (
        TransactionLog,
        tx_fsck,
    )

    ref = gold_batches["store"]
    for name in GOLD_TABLES:
        df = ref.read(name)
        key = {"vehicle_dim": "vehicle_id",
               "auction_fact": "auction_id"}.get(name, "id")
        assert df.select(key).distinct().count() == df.count(), name
    assert ref.read("auction_fact").count() == 3

    real = TransactionLog.try_commit
    for crash_batch, k in [(0, 4), (0, 10), (1, 1)]:
        store = _seeded_store(spark, str(tmp_path / f"b{crash_batch}k{k}"))
        for batch in gold_batches["batches"][:crash_batch]:
            build_star_schema(store, batch)
        left, lock = [k], threading.Lock()

        def failing(self, *args, **kwargs):
            with lock:
                if not left[0]:
                    raise _Crash(f"killed after {k} commits")
                left[0] -= 1
            return real(self, *args, **kwargs)

        monkeypatch.setattr(TransactionLog, "try_commit", failing)
        with pytest.raises(_Crash):
            build_star_schema(store, gold_batches["batches"][crash_batch])
        monkeypatch.setattr(TransactionLog, "try_commit", real)
        build_star_schema(store, gold_batches["batches"][crash_batch])
        assert _gold_rows(store) == gold_batches["rows"][crash_batch], (
            crash_batch, k,
        )
        for name in GOLD_TABLES:
            assert tx_fsck(store.path(name))["ok"], (crash_batch, k, name)


def test_gold_frames_stay_readable_after_next_build(gold_batches):
    """A build's returned frames read the snapshot they were built on: the
    next build's vehicle upsert removes files from the log, not the disk."""
    first = gold_batches["first"]
    for name in GOLD_TABLES:
        got = sorted(str(r) for r in first[name].collect())
        assert got == gold_batches["rows"][0][name], name


def test_gold_fact_reads_back_exactly_without_spark(spark, gold_batches):
    """pyarrow over the fact table's directory sees exactly the committed
    rows: it skips ``_txlog/`` and ``_staged-*`` (underscore prefix), and
    the fact only ever adds files."""
    import pyarrow.parquet as pq

    from cars_bids_data_pipeline_v0__spark.sources.txlog import tx_read

    path = gold_batches["store"].path("auction_fact")
    got = pq.read_table(path, columns=["auction_id"]).column(0).to_pylist()
    want = [r["auction_id"] for r in tx_read(spark, path).collect()]
    assert sorted(got) == sorted(want) and len(got) == 3


def test_gold_null_dim_keys_reinserted_like_sql(spark, gold_batches, tmp_path):
    """A city whose title_state matches no state and a model with a NULL
    make carry a NULL key component, which matches nothing (SQL
    equality): every build inserts them again, with the next ids.  The
    expected rows are the SQL anti-join build's.  The dimension frames
    handed to the vehicle MERGE and the fact joins are driver-local
    relations, so broadcasting them scans no file."""
    odd = (
        gold_batches["batches"][1]
        .withColumn("title_state", F.when(
            F.col("auction_id") == "aaa111", "ZZ"
        ).otherwise(F.col("title_state")))
        .withColumn("make", F.when(
            F.col("auction_id") == "ddd444", F.lit(None)
        ).otherwise(F.col("make")))
    )
    store = _seeded_store(spark, str(tmp_path / "gold"))
    build_star_schema(store, odd)
    gold = build_star_schema(store, odd)

    def rows(name):
        return sorted(tuple(r) for r in store.read(name).collect())

    assert rows("city_dim") == [
        (1, "Seattle", 2), (2, "Seattle", None), (3, "Seattle", None),
    ]
    assert rows("vehicle_model_dim") == [
        (1, "911", None), (2, "M3", 2), (3, "RS4", 1), (4, "911", None),
    ]
    assert sorted(
        (r.auction_id, r.auction_city, r.auction_state)
        for r in store.read("auction_fact").collect()
    ) == [("aaa111", None, None), ("bbb222", 1, 2), ("ddd444", 1, 2)]
    assert sorted(
        (r.auction_id, r.vehicle_id, r.make_id, r.model_id)
        for r in store.read("vehicle_dim").collect()
    ) == [("aaa111", 1, 2, 2), ("bbb222", 2, 1, 3), ("ddd444", 3, None, None)]
    for name in GOLD_TABLES[:-2]:
        plan = gold[name]._jdf.queryExecution().optimizedPlan()
        assert plan.getClass().getSimpleName() == "LocalRelation", name


def test_gold_local_frame_keeps_rows_after_an_empty_chunk(spark):
    """A dimension read from its files can hold an empty chunk (a file
    with no rows) between rows; its driver-local frame keeps every row."""
    import pyarrow as pa

    from cars_bids_data_pipeline_v0__spark.plans.gold import _local_frame

    schema = pa.schema([("id", pa.int64()), ("state_abbr", pa.string())])
    table = pa.concat_tables([
        pa.table({"id": [2], "state_abbr": ["FL"]}, schema=schema),
        schema.empty_table(),
        pa.table({"id": [1], "state_abbr": ["WA"]}, schema=schema),
    ])
    got = _local_frame(spark, table).collect()
    assert sorted(tuple(r) for r in got) == [(1, "WA"), (2, "FL")]


def test_gold_dim_rival_commit_rebuilds_without_spark(spark, tmp_path, monkeypatch):
    """A rival writer commits to a dimension while its build is staging:
    the commit loses, the attempt rebuilds from the new snapshot, and
    the new key takes the id after the rival's — no id is minted twice
    and neither attempt runs a Spark job."""
    import pyarrow as pa

    from cars_bids_data_pipeline_v0__spark.plans import gold
    from cars_bids_data_pipeline_v0__spark.sources.txlog import (
        TransactionLog,
        tx_read,
    )

    store = GoldStore(spark, str(tmp_path / "gold"))
    schema = pa.schema([("id", pa.int64()), ("body_style", pa.string())])
    gold._insert_keys(store, "body_style_dim", schema, {("coupe",)})

    real = TransactionLog._stage_arrow
    rival_won = []

    def racing(self, table, stats_cols=None):
        if not rival_won:
            rival = TransactionLog(self.path)
            adds = real(rival, pa.table(
                {"id": [2], "body_style": ["wagon"]}, schema=schema
            ), ["id"])
            rival_won.append(rival.try_commit(
                rival.version() + 1, adds, [], "insert_if_absent"
            ))
        return real(self, table, stats_cols)

    monkeypatch.setattr(TransactionLog, "_stage_arrow", racing)
    sc = spark.sparkContext
    sc.setJobGroup("gold-rival", "gold-rival")
    try:
        gold._insert_keys(
            store, "body_style_dim", schema, {("coupe",), ("sedan",)}
        )
        jobs = sc.statusTracker().getJobIdsForGroup("gold-rival")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert rival_won == [True] and jobs == []
    path = store.path("body_style_dim")
    assert sorted(tuple(r) for r in tx_read(spark, path).collect()) == [
        (1, "coupe"), (2, "wagon"), (3, "sedan"),
    ]
    assert TransactionLog(path).version() == 2


def test_gold_dim_with_deletion_vector_reads_through_tx_read(
    spark, gold_batches, tmp_path, monkeypatch
):
    """A make removed from its dimension by a deletion vector is read
    through `tx_read` (the snapshot is not plain) and inserted again on
    the next build with the next id, and the model dimension follows the
    new make id — the rows the SQL anti-join build commits."""
    from cars_bids_data_pipeline_v0__spark.sources import txlog

    store = _seeded_store(spark, str(tmp_path / "gold"))
    batch = gold_batches["batches"][1]
    build_star_schema(store, batch)
    make_path = store.path("vehicle_make_dim")
    txlog.tx_delete_where(spark, make_path, "make = 'BMW'", mode="dv")

    reads = []
    real = txlog.tx_read

    def spy(spark_, path, *args, **kwargs):
        reads.append(path)
        return real(spark_, path, *args, **kwargs)

    monkeypatch.setattr(txlog, "tx_read", spy)
    build_star_schema(store, batch)
    monkeypatch.setattr(txlog, "tx_read", real)
    assert make_path in reads
    assert store.path("body_style_dim") not in reads

    def rows(name):
        return sorted(tuple(r) for r in store.read(name).collect())

    assert rows("vehicle_make_dim") == [(1, "Audi"), (3, "Porsche"), (4, "BMW")]
    assert rows("vehicle_model_dim") == [
        (1, "911", 3), (2, "M3", 2), (3, "RS4", 1), (4, "M3", 4),
    ]


def test_malformed_and_empty_raw_files_do_not_fail(spark, tmp_path):
    """PERMISSIVE ingest (SURVEY §1.3): unparseable files drop out; the
    valid file's records survive untouched."""
    import os

    from cars_bids_data_pipeline_v0__spark.plans.silver import transform_records
    from cars_bids_data_pipeline_v0__spark.sources.ingest import read_raw_auctions

    from .fixtures import write_raw_files

    rawdir = str(tmp_path / "raw")
    write_raw_files(rawdir)
    with open(os.path.join(rawdir, "broken.json"), "w") as f:
        f.write("{this is not json")
    with open(os.path.join(rawdir, "empty.json"), "w") as f:
        f.write("")
    records = read_raw_auctions(spark, rawdir)
    silver, rescrape = transform_records(records)
    # same outcome as without the junk files: 4 distinct auctions,
    # 3 valid post-dedup, 1 rescrape
    assert silver.count() == 3
    assert rescrape.count() == 1
