"""Entry point B — silver→gold star-schema maintenance (SURVEY §2.9, §3.2).

The reference runs 11 SQL statements in fixed dependency order against
Postgres (update_dims.sql:1-223; order list load_lambda/main.py:16-28):
8 insert-if-absent dimension loads, 1 vehicle upsert, 1 fact insert-ignore.

Spark-first: every gold table is a commit-log table (`sources.txlog`) — the
paper's "Delta tables + MERGE INTO".  The 8 dimension loads, the model
dimension and the fact share one insert-if-absent writer (`_insert_new`)
that commits adds only; the vehicle upsert is a MERGE that rewrites only
the files holding the batch's keys.  Surrogate keys come from
``row_number`` over the new-rows slice offset by the largest id the pinned
snapshot's zone maps record (M4) — a metadata read, no Spark job — and a
commit conflict rebuilds from the new snapshot, so no id is minted twice.
Every statement is idempotent, so re-running a batch after a crash
converges on the uninterrupted result.  All dimension joins are broadcast
(dims are tiny relative to the fact); the OR-predicate state join (J1)
stays a broadcast nested-loop join — correct and cheap at 51 rows —
mirroring Postgres' plan.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.scalar import norm_key_lower, norm_key_upper
from ..operators.keys import with_surrogate_key
from ..operators.merge import insert_if_absent

# sources.txlog is imported inside each function: loading the query
# registry imports this package, and compiling txlog costs ~0.1 s there


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
    store: GoldStore, name: str, new_rows: DataFrame, key: list[str],
    id_col: str | None = "id",
) -> DataFrame:
    """M1/M3 (+ M4 with ``id_col``) — ``INSERT … ON CONFLICT (key) DO
    NOTHING`` as one commit that adds files and removes none; returns
    the table as committed.

    Each attempt anti-joins against the snapshot it pins and mints ids
    from that snapshot's largest ``id_col`` zone max.  The table's first
    commit keeps an empty file (it fixes the schema); a later batch with
    nothing new commits nothing and returns the snapshot it read."""
    from ..sources.txlog import CommitProposal, TransactionLog, tx_read

    log = TransactionLog(store.path(name))

    def build(v: int):
        existing = None
        if v >= 0:
            existing = tx_read(store.spark, log.path, version=v)
        fresh = insert_if_absent(existing, new_rows, key)
        if id_col is not None:
            top = log.live_actions(upto=v).zone_max(id_col)
            fresh = with_surrogate_key(
                fresh,
                order_by=key,
                id_col=id_col,
                start_at=(top or 0) + 1,
                # the source's distinct() shuffle sits below (dims are
                # bounded-cardinality, SURVEY §2.3)
                num_partitions=1,
            ).select(id_col, *new_rows.columns)
        adds = log.stage_dataframe(
            fresh, stats_cols=[id_col] if id_col else None
        )
        if v >= 0:
            log.discard([a for a in adds if not a["rows"]])
            adds = [a for a in adds if a["rows"]]
        return CommitProposal(adds, []) if adds else existing

    unchanged = log.run_optimistic("insert_if_absent", build)
    if unchanged is not None:
        return unchanged
    return tx_read(store.spark, log.path)


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
            store.spark, log, log.path, batch, key, update, None, True,
            None, None, v, log.live_files(upto=v), None, False,
            broadcast_source=True, may_have_dup_keys=False,
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
    from ..sources.txlog import CommitProposal, TransactionLog

    log = TransactionLog(store.path("state_dim"))
    log.run_optimistic("overwrite", lambda v: CommitProposal(
        log.stage_dataframe(states), sorted(log.live_files(upto=v))
    ))


def build_star_schema(store: GoldStore, staging: DataFrame) -> dict[str, DataFrame]:
    """M6 — run the 11 merges respecting the reference's dependency order
    (load_lambda/main.py:16-28).  ``staging`` is a silver frame.

    The reference executes all 11 statements sequentially; the only REAL
    dependencies are make→model→vehicle→fact and {enum dims, city}→fact.
    The 8 independent merges (6 enum dims, city, make) run as concurrent
    Spark jobs from a thread pool — on a cluster each is a small job, and
    concurrent submission overlaps their scheduling + IO instead of
    serializing 8 round-trips.  The staging cache is materialized ONCE
    before the fan-out so the parallel jobs read the cache rather than
    racing to compute it.
    """
    from ..session import size_coalesced_shuffle

    # Every statement below is window/anti-join/write-shaped with tiny
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
    from concurrent.futures import ThreadPoolExecutor

    staging.count()  # materialize before concurrent consumers
    dims: dict[str, DataFrame] = {}

    def distinct_notnull(expr: F.Column, alias: str) -> DataFrame:
        return (
            staging.filter(expr.isNotNull())
            .select(expr.alias(alias))
            .distinct()
        )

    # city_dim source: J1 OR-predicate state join (update_dims.sql:79-86)
    state_dim = store.read("state_dim")
    if state_dim is None:
        raise ValueError("state_dim must be seeded first (seed_state_dim)")
    city_src = (
        staging.filter(F.col("city").isNotNull())
        .join(
            F.broadcast(
                state_dim.select(
                    F.col("id").alias("state_id"),
                    F.col("state").alias("__sd_state"),
                    F.col("state_abbr").alias("__sd_abbr"),
                )
            ),
            (F.col("title_state") == F.col("__sd_abbr"))
            | (F.col("title_state") == F.col("__sd_state")),
            "left",
        )
        .select(F.trim(F.col("city")).alias("city_name"), "state_id")
        .distinct()
    )

    # -- phase 1: the 8 independent merges, concurrent ---------------------
    # (6 enum dims update_dims.sql:8-69, city :79-86, make :95-101)
    phase1: dict[str, tuple[DataFrame, list[str]]] = {
        "auction_status_dim": (
            distinct_notnull(norm_key_lower("auction_status"), "status"),
            ["status"],
        ),
        "reserve_status_dim": (
            distinct_notnull(norm_key_lower("reserve_status"), "status"),
            ["status"],
        ),
        "body_style_dim": (
            distinct_notnull(norm_key_lower("body_style"), "body_style"),
            ["body_style"],
        ),
        "seller_type_dim": (
            distinct_notnull(norm_key_lower("seller_type"), "seller_type"),
            ["seller_type"],
        ),
        "drivetrain_dim": (
            distinct_notnull(norm_key_upper("drivetrain"), "drivetrain"),
            ["drivetrain"],
        ),
        "transmission_dim": (
            distinct_notnull(norm_key_lower("transmission_type"), "transmission"),
            ["transmission"],
        ),
        "city_dim": (city_src, ["city_name", "state_id"]),
        "vehicle_make_dim": (
            distinct_notnull(F.trim(F.col("make")), "make"), ["make"],
        ),
    }
    with ThreadPoolExecutor(max_workers=len(phase1)) as ex:
        futures = {
            name: ex.submit(_insert_new, store, name, src, key)
            for name, (src, key) in phase1.items()
        }
        for name, fut in futures.items():
            dims[name] = fut.result()

    # -- model (composite key referencing make ids; update_dims.sql:104-114)
    model_src = (
        staging.filter(F.col("model").isNotNull())
        .join(
            F.broadcast(
                dims["vehicle_make_dim"].select(
                    F.col("id").alias("make_id"), F.trim(F.col("make")).alias("__mk")
                )
            ),
            F.trim(F.col("make")) == F.col("__mk"),
            "left",
        )
        .select(F.trim(F.col("model")).alias("model"), "make_id")
        .distinct()
    )
    dims["vehicle_model_dim"] = _insert_new(
        store, "vehicle_model_dim", model_src, ["model", "make_id"]
    )

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
        store, "auction_fact", fact_src, ["auction_id"], id_col=None
    )

    return dims
