"""The benchmark workloads.  Each drives the engine only through its
public functions, one call at a time, timing every call from outside
(a span per call) and checking every output.

A workload exposes:

* ``inputs()`` — generate (or reuse) its seeded inputs and expectations;
* ``open(spark)`` — bind a (re)started session;
* ``cycle(tracer, ops)`` — one unit of repeated work (an ETL batch, a
  query pass) inside a ``cycle`` span, then its output checks;
* ``storage()`` — on-disk counts of the commit-log table it wrote.

``ops`` is the :class:`Ops` log; an operation is one ETL batch, one
release increment or one query, and it fails when its output does not
match the expectation.  An operation that raises ends the run.
"""

from __future__ import annotations

import random
import re
from dataclasses import dataclass, field
from pathlib import Path

import gen
import oracle


@dataclass
class Ops:
    records: list[tuple[str, bool, str]] = field(default_factory=list)

    def add(self, name: str, ok: bool, detail: str = "") -> None:
        self.records.append((name, bool(ok), detail))

    @property
    def attempted(self) -> int:
        return len(self.records)

    @property
    def failed(self) -> int:
        return sum(not ok for _, ok, _ in self.records)

    def failed_share(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0

    def failures(self) -> list[str]:
        return [f"{n}: {d}" for n, ok, d in self.records if not ok]


def _dir_bytes(path: Path, skip: str | None = None) -> int:
    return sum(f.stat().st_size for f in path.rglob("*")
               if f.is_file() and (skip is None or skip not in f.parts))


def txlog_storage(table: Path, input_bytes: int) -> dict[str, float]:
    """Commit-log counts read from a table directory after the run."""
    from cars_bids_data_pipeline_v0__spark.sources.txlog import (
        TransactionLog,
    )

    log_dir = table / "_txlog"
    commits = [f for f in log_dir.iterdir()
               if re.fullmatch(r"\d{20}\.json", f.name)]
    return {
        "commits": len(commits),
        "log_bytes": _dir_bytes(log_dir),
        "live_files": len(TransactionLog(str(table)).live_files()),
        "write_amp": _dir_bytes(table, skip="_txlog") / input_bytes,
    }


# ---------------------------------------------------------------------------


class EtlDaily:
    """Daily raw-JSON batches → silver → commit-log lake → rescrape queue
    → latest-only read → star schema, into one persistent lake and gold
    store; then one release increment of the day's documents into one
    release table.  The first batch loads empty tables; later ones take
    the existing-table paths (partition read-back merge, insert-if-absent
    against existing dims, vehicle upsert, fact insert-ignore, and a
    release deduplicated against everything released before)."""

    name = "etl_daily"
    # a run makes at most three cycles: cold, warm and traced warm
    N_BATCHES, PER_BATCH, FILES = 3, 500, 20
    RELEASE_DOCS = 250

    def __init__(self, seed: int, work: Path):
        self.seed, self.work = seed, work
        self.batch = 0
        self.input_bytes = 0
        self.shard_rows = 0
        self.store = None

    def inputs(self) -> None:
        self.batches, self.expected = gen.auction_batches(
            self.seed, self.N_BATCHES, self.PER_BATCH, self.FILES)
        self.docs_dir = gen.documents(
            self.seed, self.N_BATCHES * self.RELEASE_DOCS)

    def open(self, spark) -> None:
        from cars_bids_data_pipeline_v0__spark.plans.gold import (
            GoldStore,
            seed_state_dim,
        )

        self.spark = spark
        self.docs = spark.read.parquet(
            str(self.docs_dir / "documents.parquet"))
        fresh = self.store is None
        self.store = GoldStore(spark, str(self.work / "gold"))
        if fresh:
            seed_state_dim(self.store, spark.createDataFrame(
                [(1, "Washington", "WA"), (2, "Florida", "FL")],
                "id long, state string, state_abbr string"))

    def cycle(self, tr, ops: Ops) -> None:
        from pyspark.sql import functions as F

        from cars_bids_data_pipeline_v0__spark.cache import (
            release_build_caches,
        )
        from cars_bids_data_pipeline_v0__spark.plans.gold import (
            build_star_schema,
        )
        from cars_bids_data_pipeline_v0__spark.plans.release import (
            release_corpus,
        )
        from cars_bids_data_pipeline_v0__spark.plans.silver import (
            transform_records,
        )
        from cars_bids_data_pipeline_v0__spark.sources.ingest import (
            read_raw_auctions,
        )
        from cars_bids_data_pipeline_v0__spark.sources.sinks import (
            write_text_queue,
        )
        from cars_bids_data_pipeline_v0__spark.sources.txlog import (
            tx_merge_partitioned,
            tx_read_latest,
        )

        b, spark = self.batch, self.spark
        raw = self.batches / f"batch_{b:02d}"
        lake = str(self.work / "lake")
        queue = self.work / f"rescrape_{b:02d}"
        lo = b * self.RELEASE_DOCS
        offered = self.docs.filter(
            F.col("doc_id").between(lo, lo + self.RELEASE_DOCS - 1))
        with tr.span(f"batch{b}", kind="cycle"):
            with tr.span("ingest.read_raw_auctions"):
                records = read_raw_auctions(spark, str(raw))
            with tr.span("silver.transform_records"):
                silver, rescrape = transform_records(records)
            with tr.span("txlog.tx_merge_partitioned"):
                tx_merge_partitioned(spark, silver, lake)
            with tr.span("sinks.write_text_queue"):
                write_text_queue(rescrape, str(queue))
            with tr.span("txlog.tx_read_latest"):
                staging = tx_read_latest(spark, lake)
            with tr.span("gold.build_star_schema"):
                build_star_schema(self.store, staging)
            with tr.span("release.release_corpus"):
                manifest = release_corpus(
                    spark, offered, str(self.work / "release"),
                    str(self.work / "shards")).collect()
            with tr.span("cache.release_build_caches"):
                release_build_caches()
        self.batch += 1
        self.input_bytes += _dir_bytes(raw)
        self._check_gold(b, queue, ops)
        self._check_release(b, manifest, ops)

    def _check_gold(self, b: int, queue: Path, ops: Ops) -> None:
        """The gold fact table, read back from disk without Spark, has one
        row per distinct valid auction so far; the rescrape queue has one
        line per invalid record of the batch."""
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        exp = self.expected[b]
        ids = pq.read_table(self.store.path("auction_fact"),
                            columns=["auction_id"]).column(0)
        n, n_ids = len(ids), len(pc.unique(ids))
        lines = sum(len(f.read_text().splitlines())
                    for f in queue.glob("part-*"))
        ok = (n == exp["valid_total"] and n_ids == n
              and lines == exp["invalid"])
        ops.add(f"etl.batch{b}", ok,
                f"fact={n} distinct={n_ids} want={exp['valid_total']} "
                f"rescrape={lines} want={exp['invalid']}")

    def _check_release(self, b: int, manifest, ops: Ops) -> None:
        """Read back without Spark: the increment wrote shards; the shard
        files hold exactly the rows the manifests report; no ``doc_id``
        and no text is released twice; only offered documents are."""
        import pyarrow.parquet as pq

        from cars_bids_data_pipeline_v0__spark.sources.txlog import (
            TransactionLog,
        )

        n_rows = sum(r["n_rows"] for r in manifest)
        self.shard_rows += n_rows
        shards = (self.work / "shards").glob("release=*/shard=*/*.parquet")
        on_disk = sum(pq.read_metadata(f).num_rows for f in shards)
        table = self.work / "release"
        ids, texts = [], []
        for f in TransactionLog(str(table)).live_files():
            t = pq.read_table(table / f, columns=["doc_id", "text"])
            ids += t.column(0).to_pylist()
            texts += t.column(1).to_pylist()
        ok = (n_rows > 0 and on_disk == self.shard_rows
              and len(set(ids)) == len(ids) == len(set(texts))
              and max(ids) < (b + 1) * self.RELEASE_DOCS)
        ops.add(f"release.increment{b}", ok,
                f"manifest_rows={n_rows} shard_rows={on_disk} "
                f"want={self.shard_rows} released={len(ids)} "
                f"distinct_ids={len(set(ids))} "
                f"distinct_texts={len(set(texts))}")

    def storage(self) -> dict[str, float]:
        return txlog_storage(self.work / "lake", self.input_bytes)


# ---------------------------------------------------------------------------


WAREHOUSE = [
    "q01_pricing_summary", "q02_revenue_by_nation",
    "q03_order_priority_counts", "q10_keep_latest_order_per_customer",
    "q13_star_fact_assembly", "q28_bid_cleaning_and_features",
    "q40_hourly_event_windows", "q42_session_windows",
]
DEDUP = [
    "q52_exact_dup_groups", "q53_ngram_jaccard_pairs",
    "q56_minhash_lsh_near_dup", "q54_cosine_topk",
    "q59_corpus_quality_gate", "q211_jaccard_df_capped",
]


def query_ok(cols: list[str], rows, want: dict) -> bool:
    """A query's columns and rows against the expected ones."""
    return (sorted(cols) == want["columns"]
            and oracle.rows_match(want["rows"], oracle.canon(cols, rows)))


class QueryMix:
    """The 14 headline registry queries over plain parquet, no commit log;
    each pass runs all of them in a seeded order and collects every
    result to the driver."""

    name = "query_mix"
    SF = 0.01

    def __init__(self, seed: int, work: Path):
        self.seed, self.work = seed, work
        self.passes = 0
        self.first: dict[str, dict] = {}

    def inputs(self) -> None:
        from cars_bids_data_pipeline_v0__spark.plans.queries import (
            oracle_sql,
            queries,
        )

        self.sf_dir = gen.warehouse_tables(self.seed, self.SF)
        self.builders = {n: f for n, f in queries().items()
                         if n in WAREHOUSE + DEDUP}
        self.expected = oracle.query_expectations(
            self.sf_dir, oracle_sql(), WAREHOUSE + DEDUP)

    def open(self, spark) -> None:
        self.spark = spark

    def cycle(self, tr, ops: Ops) -> None:
        from cars_bids_data_pipeline_v0__spark.cache import (
            release_build_caches,
        )

        order = WAREHOUSE + DEDUP
        random.Random(self.seed * 1000 + self.passes).shuffle(order)
        self.passes += 1
        results = {}
        with tr.span(f"pass{self.passes}", kind="cycle"):
            for name in order:
                kind = "warehouse" if name in WAREHOUSE else "dedup"
                with tr.span("queries.build"):
                    df = self.builders[name](self.spark, str(self.sf_dir))
                with tr.span(f"queries.execute_{kind}"):
                    rows = df.collect()
                with tr.span("cache.release_build_caches"):
                    release_build_caches()
                results[name] = (df.columns, rows)
        for name in order:
            cols, rows = results[name]
            want = self.expected.get(name)
            if want is None:  # no DuckDB twin: must repeat its first result
                want = self.first.setdefault(name, {
                    "columns": sorted(cols), "rows": oracle.canon(cols, rows)})
            ops.add(f"query.{name}", query_ok(cols, rows, want),
                    f"{len(rows)} rows")

    def storage(self) -> dict[str, float]:
        return {}


WORKLOADS = {w.name: w for w in (EtlDaily, QueryMix)}
