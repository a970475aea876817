"""Entry point B — silver→gold star-schema maintenance (SURVEY §2.9, §3.2).

The reference runs 11 SQL statements in fixed dependency order against
Postgres (update_dims.sql:1-223; order list load_lambda/main.py:16-28):
8 insert-if-absent dimension loads, 1 vehicle upsert, 1 fact insert-ignore.

Spark-first: every gold table is a commit-log table (`sources.txlog`) — the
paper's "Delta tables + MERGE INTO".  The nine small dimensions (6 enum
dims, city, make, model) are bounded-cardinality (SURVEY §2.3), so their
set algebra runs on the driver: ONE Spark pass over the batch collects
every dimension's distinct normalized candidate keys, then each dimension
is one adds-only commit whose attempt reads its pinned snapshot with
pyarrow, keeps the absent keys, mints ids and stages one parquet file —
no Spark job.  Surrogate keys follow ``with_surrogate_key``'s order
(ascending, NULLs last) offset by the largest id the snapshot's zone maps
record (M4), and a commit conflict rebuilds from the new snapshot, so no
id is minted twice.  The vehicle upsert is a MERGE that rewrites only the
files holding the batch's keys and the fact is an insert-if-absent
anti-join: both scale with the batch and stay distributed.  Every
statement is idempotent, so re-running a batch after a crash converges on
the uninterrupted result.  All dimension joins broadcast driver-local
relations; the OR-predicate state join (J1) resolves on the driver against
the seeded state rows.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.scalar import norm_key_lower, norm_key_upper
from ..operators.merge import insert_if_absent

# pyarrow and sources.txlog are imported inside each function: loading
# the query registry imports this package, and compiling txlog costs
# ~0.1 s there


class GoldStore:
    """The gold tables under one root; each ``path(name)`` is a
    commit-log table, so readers see committed snapshots and concurrent
    writers serialize through the log."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    def path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def read(self, name: str) -> DataFrame | None:
        from ..sources.txlog import tx_read

        return tx_read(self.spark, self.path(name))


def _insert_new(
    store: GoldStore, name: str, new_rows: DataFrame, key: list[str]
) -> DataFrame:
    """M3 — ``INSERT … ON CONFLICT (key) DO NOTHING`` for a batch-scaled
    table, as one commit that adds files and removes none; returns the
    table as committed.

    Each attempt anti-joins against the snapshot it pins.  The table's
    first commit keeps an empty file (it fixes the schema); a later batch
    with nothing new commits nothing and returns the snapshot it read."""
    from ..sources.txlog import CommitProposal, TransactionLog, tx_read

    log = TransactionLog(store.path(name))

    def build(v: int):
        existing = None
        if v >= 0:
            existing = tx_read(store.spark, log.path, version=v)
        adds = log.stage_dataframe(insert_if_absent(existing, new_rows, key))
        if v >= 0:
            log.discard([a for a in adds if not a["rows"]])
            adds = [a for a in adds if a["rows"]]
        return CommitProposal(adds, []) if adds else existing

    unchanged = log.run_optimistic("insert_if_absent", build)
    if unchanged is not None:
        return unchanged
    return tx_read(store.spark, log.path)


def _snapshot_arrow(spark: SparkSession, log, v: int):
    """Version ``v`` of a small table as one Arrow table: pyarrow over
    the live files of a plain snapshot — no Spark job — else through
    `tx_read`, so the rows are exactly its rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ..sources.txlog import tx_read

    files = sorted(log.live_files(upto=v))
    if not files or not log.plain(v):
        return tx_read(spark, log.path, version=v).toArrow()
    return pa.concat_tables(
        pq.read_table(os.path.join(log.path, f)).replace_schema_metadata(None)
        for f in files
    )


def _local_frame(spark: SparkSession, table) -> DataFrame:
    """``table`` as a driver-local relation.  Combined into one chunk
    first: Spark's Arrow reader stops at an empty record batch, dropping
    the rows of every chunk after it, and a data file with no rows reads
    as an empty chunk."""
    return spark.createDataFrame(table.combine_chunks())


def _nulls_last(key: tuple) -> tuple:
    # ascending with NULLs last per column, as `with_surrogate_key`
    # sorts; Python's str order is code-point order, which is Spark's
    # UTF-8 byte order
    return tuple((x is None, x) for x in key)


def _insert_keys(
    store: GoldStore, name: str, schema, keys: set[tuple]
):
    """M1 + M4 for a bounded dimension — insert the candidate ``keys``
    (tuples over ``schema``'s non-id columns) absent from the table, as
    one adds-only commit; returns the committed table as Arrow.

    The set algebra is SQL's: a key with a NULL component matches
    nothing, so it is inserted again, as the ``left_anti`` join would.
    Fresh keys get ids ``1 + zone max`` upward in key order.  The first
    commit keeps an empty file (it fixes the schema); a later batch with
    nothing new commits nothing.  An attempt on a plain snapshot
    (`TransactionLog.plain`) runs no Spark job."""
    import pyarrow as pa

    from ..sources.txlog import CommitProposal, TransactionLog

    log = TransactionLog(store.path(name))
    cols = schema.names[1:]

    def build(v: int):
        have, seen = None, set()
        if v >= 0:
            have = _snapshot_arrow(store.spark, log, v).select(schema.names)
            seen = set(zip(*(have.column(c).to_pylist() for c in cols)))
        fresh = sorted(
            (k for k in keys if None in k or k not in seen), key=_nulls_last
        )
        if have is not None and not fresh:
            return have
        target = schema if have is None else have.schema
        top = log.live_actions(upto=v).zone_max("id") if v >= 0 else None
        start = (top or 0) + 1
        new = pa.table(
            [pa.array(range(start, start + len(fresh)), target.field(0).type)]
            + [
                pa.array([k[i] for k in fresh], target.field(i + 1).type)
                for i in range(len(cols))
            ],
            schema=target,
        )
        if v < 0 or log.plain(v):
            adds = log._stage_arrow(new, stats_cols=["id"])
        else:  # logical names and declared types: the general writer maps them
            adds = log.stage_dataframe(
                _local_frame(store.spark, new), stats_cols=["id"]
            )
        result = new if have is None else pa.concat_tables([have, new])
        return CommitProposal(adds, [], result=result)

    return log.run_optimistic("insert_if_absent", build)


def _upsert_vehicles(store: GoldStore, src: DataFrame) -> DataFrame:
    """M2 — ``INSERT … ON CONFLICT (vin, auction_id) DO UPDATE`` as one
    MERGE commit: matched rows take the batch's payload and keep their
    ``vehicle_id``; fresh keys are inserted with ids minted from the
    pinned snapshot's zone max.  Only files holding the batch's keys are
    rewritten.  Returns the table as committed."""
    from ..sources.txlog import TransactionLog, _merge_into_once, tx_read

    key = ["vin", "auction_id"]
    log = TransactionLog(store.path("vehicle_dim"))
    # one deterministic survivor per key (a MERGE refuses to match a
    # target row twice); persisted because the match scan, the rewrite
    # and the insert anti-join all read it
    batch = insert_if_absent(None, src, key).persist()
    update = {c: f"s.{c}" for c in batch.columns if c not in key}

    def build(v: int):
        return _merge_into_once(
            store.spark, log, log.path, batch, key,
            when_matched_update=update, when_matched_delete=None,
            when_not_matched_insert=True, matched_condition=None,
            insert_condition=None, v=v, live=log.live_files(upto=v),
            has_txn=False, broadcast_source=True, may_have_dup_keys=False,
            id_col="vehicle_id",
        )

    try:
        log.run_optimistic("merge_into", build)
    finally:
        batch.unpersist()
    return tx_read(store.spark, log.path)


def seed_state_dim(store: GoldStore, states: DataFrame) -> None:
    """The reference assumes a pre-seeded state_dim(id, state, state_abbr)
    (update_dims.sql:82-83,216-217; not created by the repo) — one
    replace-all commit."""
    from ..sources.txlog import tx_overwrite

    tx_overwrite(store.spark, store.path("state_dim"), lambda _old: states)


def _dimension_keys(staging: DataFrame) -> dict[str, set[tuple]]:
    """One Spark pass over ``staging``: the distinct normalized candidate
    keys of the nine bounded dimensions, ``{dim: {(k1, k2), …}}``.  ``k2``
    is None for the single-column keys, the raw ``title_state`` for
    ``city_dim`` (resolved against the state rows on the driver) and the
    trimmed make for ``vehicle_model_dim`` (resolved to make ids).  Rows
    whose ``k1`` is NULL are dropped, as each statement's ``IS NOT NULL``
    filter does; the normalizations stay Spark expressions, so the string
    semantics are Spark's."""
    none = F.lit(None).cast("string")
    exprs = {
        # 6 enum dims update_dims.sql:8-69, city :79-86, make :95-101,
        # model :104-114
        "auction_status_dim": (norm_key_lower("auction_status"), none),
        "reserve_status_dim": (norm_key_lower("reserve_status"), none),
        "body_style_dim": (norm_key_lower("body_style"), none),
        "seller_type_dim": (norm_key_lower("seller_type"), none),
        "drivetrain_dim": (norm_key_upper("drivetrain"), none),
        "transmission_dim": (norm_key_lower("transmission_type"), none),
        "vehicle_make_dim": (F.trim(F.col("make")), none),
        "city_dim": (F.trim(F.col("city")), F.col("title_state")),
        "vehicle_model_dim": (F.trim(F.col("model")), F.trim(F.col("make"))),
    }
    rows = (
        staging.select(F.inline(F.array(*[
            F.struct(F.lit(d).alias("d"), k1.alias("k1"), k2.alias("k2"))
            for d, (k1, k2) in exprs.items()
        ])))
        .filter(F.col("k1").isNotNull())
        .distinct()
        .collect()
    )
    keys: dict[str, set[tuple]] = {d: set() for d in exprs}
    for d, k1, k2 in rows:
        keys[d].add((k1, k2))
    return keys


def build_star_schema(store: GoldStore, staging: DataFrame) -> dict[str, DataFrame]:
    """M6 — run the 11 merges respecting the reference's dependency order
    (load_lambda/main.py:16-28).  ``staging`` is a silver frame.

    The only REAL dependencies are make→model→vehicle→fact and {enum
    dims, city}→fact.  One Spark pass collects the nine small
    dimensions' candidate keys; their commits then run one after another
    on the driver, with no Spark job each.  The returned dimension frames
    are driver-local relations of the committed rows, so the vehicle
    MERGE and the fact broadcast them without scanning a file; the
    vehicle and fact frames read their committed snapshots.
    """
    from ..session import size_coalesced_shuffle

    # The key pass, the vehicle MERGE and the fact anti-join have tiny
    # (dimension-sized) or batch-sized shuffles; size-first AQE coalescing
    # collapses their no-op post-shuffle tasks (round-13 optimization pass
    # — see size_coalesced_shuffle's docstring for the measurement and the
    # scale argument).
    staging = staging.cache()
    try:
        with size_coalesced_shuffle(staging.sparkSession):
            return _build_star_schema_inner(store, staging)
    finally:
        staging.unpersist()


def _build_star_schema_inner(
    store: GoldStore, staging: DataFrame
) -> dict[str, DataFrame]:
    import pyarrow as pa

    from ..sources.txlog import TransactionLog

    state_log = TransactionLog(store.path("state_dim"))
    v = state_log.version()
    if v < 0:
        raise ValueError("state_dim must be seeded first (seed_state_dim)")
    states = _snapshot_arrow(store.spark, state_log, v)
    keys = _dimension_keys(staging)

    def dim_schema(*cols):
        return pa.schema([("id", pa.int64()), *cols])

    tables = {}
    for name, col in (
        ("auction_status_dim", "status"), ("reserve_status_dim", "status"),
        ("body_style_dim", "body_style"), ("seller_type_dim", "seller_type"),
        ("drivetrain_dim", "drivetrain"),
        ("transmission_dim", "transmission"), ("vehicle_make_dim", "make"),
    ):
        tables[name] = _insert_keys(
            store, name, dim_schema((col, pa.string())),
            {(k1,) for k1, _ in keys[name]},
        )

    # city: J1 OR-predicate state join (update_dims.sql:79-86) — a city
    # whose title_state matches no state keeps a NULL state_id
    state_rows = list(zip(*(
        states.column(c).to_pylist() for c in ("id", "state", "state_abbr")
    )))
    cities = set()
    for city, ts in keys["city_dim"]:
        ids = [i for i, st, ab in state_rows if ts is not None and ts in (ab, st)]
        cities.update((city, i) for i in ids or [None])
    tables["city_dim"] = _insert_keys(
        store, "city_dim",
        dim_schema(("city_name", pa.string()),
                   ("state_id", states.schema.field("id").type)),
        cities,
    )

    # model: composite key referencing the committed make ids
    # (update_dims.sql:104-114); a NULL or unknown make keeps a NULL make_id
    make = tables["vehicle_make_dim"]
    make_ids: dict[str, list] = {}
    for i, mk in zip(make.column("id").to_pylist(),
                     make.column("make").to_pylist()):
        if mk is not None:  # Spark's trim() strips spaces only
            make_ids.setdefault(mk.strip(" "), []).append(i)
    tables["vehicle_model_dim"] = _insert_keys(
        store, "vehicle_model_dim",
        dim_schema(("model", pa.string()),
                   ("make_id", make.schema.field("id").type)),
        {(m, i) for m, mk in keys["vehicle_model_dim"]
         for i in make_ids.get(mk, [None])},
    )

    spark = store.spark
    dims = {name: _local_frame(spark, t) for name, t in tables.items()}
    state_dim = _local_frame(spark, states)

    # -- vehicle_dim upsert (M2; update_dims.sql:122-177) -------------------
    vehicle_src = (
        staging.alias("s")
        .join(
            F.broadcast(
                dims["vehicle_make_dim"].select(
                    F.col("id").alias("make_id"), F.col("make").alias("__mk")
                )
            ),
            F.trim(F.col("s.make")) == F.col("__mk"), "left",
        )
        .join(
            F.broadcast(
                dims["vehicle_model_dim"].select(
                    F.col("id").alias("model_id"),
                    F.col("model").alias("__md"),
                    F.col("make_id").alias("__md_mk"),
                )
            ),
            (F.trim(F.col("s.model")) == F.col("__md"))
            & (F.col("make_id") == F.col("__md_mk")),
            "left",
        )
        .join(
            F.broadcast(
                dims["body_style_dim"].select(
                    F.col("id").alias("body_style_id"), F.col("body_style").alias("__bs")
                )
            ),
            norm_key_lower(F.col("s.body_style")) == F.col("__bs"), "left",
        )
        .join(
            F.broadcast(
                dims["transmission_dim"].select(
                    F.col("id").alias("transmission_id"),
                    F.col("transmission").alias("__tr"),
                )
            ),
            norm_key_lower(F.col("s.transmission_type")) == F.col("__tr"), "left",
        )
        .join(
            F.broadcast(
                dims["drivetrain_dim"].select(
                    F.col("id").alias("drivetrain_id"), F.col("drivetrain").alias("__dt")
                )
            ),
            norm_key_upper(F.col("s.drivetrain")) == F.col("__dt"), "left",
        )
        .select(
            F.trim(F.col("s.vin")).alias("vin"),
            F.col("s.auction_id").alias("auction_id"),
            "make_id", "model_id", "body_style_id",
            F.col("s.manufacture_year").alias("manufacture_year"),
            F.col("s.mileage").alias("mileage"),
            F.col("s.engine").alias("engine"),
            "transmission_id",
            F.col("s.gears").alias("gear_count"),
            "drivetrain_id",
            F.col("s.exterior_color").alias("exterior_color"),
            F.col("s.interior_color").alias("interior_color"),
            F.col("s.title_status_cleaned").alias("title_status"),
            F.col("s.title_state").alias("title_state"),
            F.col("s.equipment_count").alias("equipment_count"),
            F.col("s.mod_count").alias("mod_count"),
            F.col("s.flaw_count").alias("flaw_count"),
            F.col("s.service_count").alias("service_count"),
            F.col("s.included_items_count").alias("included_items_count"),
        )
    )
    dims["vehicle_dim"] = _upsert_vehicles(store, vehicle_src)

    # -- auction_fact (M3; update_dims.sql:185-223) --------------------------
    fact_src = (
        staging.alias("s")
        .filter(F.col("s.auction_id").isNotNull())
        .join(
            dims["vehicle_dim"].select(
                "vehicle_id", F.col("vin").alias("__vin"),
                F.col("auction_id").alias("__vaid"),
            ),
            (F.trim(F.col("s.vin")) == F.col("__vin"))
            & (F.col("s.auction_id") == F.col("__vaid")),
            "left",
        )
        .join(
            F.broadcast(
                dims["auction_status_dim"].select(
                    F.col("id").alias("auction_status_id"), F.col("status").alias("__as")
                )
            ),
            norm_key_lower(F.col("s.auction_status")) == F.col("__as"), "left",
        )
        .join(
            F.broadcast(
                dims["reserve_status_dim"].select(
                    F.col("id").alias("reserve_status_id"), F.col("status").alias("__rs")
                )
            ),
            norm_key_lower(F.col("s.reserve_status")) == F.col("__rs"), "left",
        )
        .join(
            F.broadcast(
                state_dim.select(
                    F.col("id").alias("auction_state"),
                    F.col("state_abbr").alias("__sab"),
                )
            ),
            norm_key_upper(F.col("s.title_state")) == F.col("__sab"), "left",
        )
        .join(
            F.broadcast(
                dims["city_dim"].select(
                    F.col("id").alias("auction_city"),
                    F.col("city_name").alias("__cn"),
                    F.col("state_id").alias("__cs"),
                )
            ),
            (F.trim(F.col("s.city")) == F.col("__cn"))
            & (F.col("auction_state") == F.col("__cs")),  # J7: depends on the state join
            "left",
        )
        .join(
            F.broadcast(
                dims["seller_type_dim"].select(
                    F.col("id").alias("seller_type_id"), F.col("seller_type").alias("__st")
                )
            ),
            norm_key_lower(F.col("s.seller_type")) == F.col("__st"), "left",
        )
        .select(
            F.col("s.auction_id").alias("auction_id"),
            F.col("s.auction_date").alias("auction_time"),  # C22 stays TimestampType
            "vehicle_id",
            F.col("auction_status_id").alias("auction_status"),
            F.col("reserve_status_id").alias("reserve_status"),
            "auction_state", "auction_city",
            F.col("seller_type_id").alias("seller_type"),
            F.col("s.view_count").alias("view_count"),
            F.col("s.watcher_count").alias("watcher_count"),
            F.col("s.bid_count").alias("bid_count"),
            F.col("s.max_bid").alias("max_bid"),
            F.col("s.min_bid").alias("min_bid"),
            F.col("s.mean_bid").alias("mean_bid"),
            F.col("s.median_bid").alias("median_bid"),
            F.col("s.bid_range").alias("bid_range"),
            F.col("s.bids").alias("bids"),
            F.col("s.highlight_count").alias("highlight_count"),
            F.col("s.video_count").alias("video_count"),
            F.col("s.auction_title").alias("auction_title"),
            F.col("s.auction_subtitle").alias("auction_subtitle"),
            F.col("s.auction_url").alias("auction_url"),
        )
    )
    dims["auction_fact"] = _insert_new(
        store, "auction_fact", fact_src, ["auction_id"]
    )

    return dims
