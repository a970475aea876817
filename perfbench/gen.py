"""Seeded input generators for the benchmark workloads.

Everything the engine reads during a run is written here from ``--seed``;
the same seed gives byte-identical inputs.  Outputs are cached under
``perfbench/_cache/<kind>-v<GEN_VERSION>-<params>-s<seed>/`` and reused
by later runs; a ``_DONE`` marker makes a half-written cache directory
(an interrupted run) regenerate instead of being trusted.

The warehouse tables copy the schema of the engine's parquet test corpus
(TPC-H-like star plus ``events``, ``documents`` and ``embeddings``)
column for column, so every registry query runs on them unchanged.
"""

from __future__ import annotations

import json
import os
import shutil
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Bump when any generator's output changes, so stale caches regenerate.
GEN_VERSION = 1

CACHE_ROOT = Path(__file__).resolve().parent / "_cache"

_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row "
    "the agg key query a scan batch"
).split()
_SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]
_LANGS = ["en", "zh", "es", "fr", "de"]
_PART_ADJ = ["large", "hot", "blue", "old", "red", "new", "small", "shiny"]
_PART_NOUN = ["ring", "bolt", "plate", "anvil", "rod", "gear", "nut", "pipe"]
_PART_TYPES = ["LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO"]
_DAY_US = 86_400_000_000
_EPOCH_1995_US = 788_918_400_000_000  # 1995-01-01T00:00:00
_EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00


def _cached(name: str, build) -> Path:
    """Return ``CACHE_ROOT/name``, running ``build(tmp_dir)`` first if the
    directory is missing or was left half-written."""
    out = CACHE_ROOT / name
    if (out / "_DONE").exists():
        return out
    tmp = CACHE_ROOT / f".{name}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    build(tmp)
    (tmp / "_DONE").write_text("ok\n")
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


def _write(tmp: Path, name: str, cols: dict, schema: pa.Schema) -> None:
    table = pa.Table.from_pydict(cols, schema=schema)
    pq.write_table(table, tmp / f"{name}.parquet")


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _text(rng: np.random.Generator, n_tokens: int) -> str:
    return " ".join(rng.choice(_WORDS, size=n_tokens))


def warehouse_tables(seed: int, sf: float) -> Path:
    """The ten registry tables at scale ``sf`` (sf 0.1 ≈ 600k lineitem
    rows)."""
    name = f"warehouse-v{GEN_VERSION}-sf{sf:g}-s{seed}"
    return _cached(name, lambda tmp: _build_warehouse(tmp, seed, sf))


def _build_warehouse(tmp: Path, seed: int, sf: float) -> None:
    rng = np.random.default_rng([seed, 1])
    n_orders = int(1_500_000 * sf)
    n_cust = max(int(150_000 * sf), 100)
    n_part = max(int(200_000 * sf), 100)
    n_supp = max(int(10_000 * sf), 10)
    n_events = int(1_000_000 * sf)
    n_docs = max(int(50_000 * sf), 200)
    n_vecs = max(int(50_000 * sf), 200)

    _write(tmp, "region", {
        "r_regionkey": list(range(5)), "r_name": _REGIONS,
    }, pa.schema([("r_regionkey", pa.int32()), ("r_name", pa.string())]))
    _write(tmp, "nation", {
        "n_nationkey": list(range(25)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": [i % 5 for i in range(25)],
    }, pa.schema([("n_nationkey", pa.int32()), ("n_name", pa.string()),
                  ("n_regionkey", pa.int32())]))
    _write(tmp, "customer", {
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
    }, pa.schema([("c_custkey", pa.int64()), ("c_name", pa.string()),
                  ("c_nationkey", pa.int32()), ("c_acctbal", pa.float64()),
                  ("c_mktsegment", pa.string())]))
    _write(tmp, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    }, pa.schema([("s_suppkey", pa.int64()), ("s_name", pa.string()),
                  ("s_nationkey", pa.int32()), ("s_acctbal", pa.float64())]))
    part_price = 900.0 + (np.arange(n_part) % 1000) / 10.0
    _write(tmp, "part", {
        "p_partkey": np.arange(n_part, dtype="int64"),
        "p_name": [f"{a} {b}" for a, b in zip(
            rng.choice(_PART_ADJ, n_part), rng.choice(_PART_NOUN, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(_PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype("int32"),
        "p_retailprice": part_price,
    }, pa.schema([("p_partkey", pa.int64()), ("p_name", pa.string()),
                  ("p_brand", pa.string()), ("p_type", pa.string()),
                  ("p_size", pa.int32()), ("p_retailprice", pa.float64())]))

    o_date = _EPOCH_1995_US + rng.integers(0, 2405, n_orders) * _DAY_US
    _write(tmp, "orders", {
        "o_orderkey": np.arange(n_orders, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_orders),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_orders), 2),
        "o_orderdate": _ts(o_date),
        "o_orderpriority": rng.choice(_PRIORITIES, n_orders),
    }, pa.schema([("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
                  ("o_orderstatus", pa.string()),
                  ("o_totalprice", pa.float64()),
                  ("o_orderdate", pa.timestamp("us")),
                  ("o_orderpriority", pa.string())]))

    lines = rng.integers(1, 8, n_orders)
    l_order = np.repeat(np.arange(n_orders, dtype="int64"), lines)
    starts = np.cumsum(lines) - lines
    l_line = (np.arange(len(l_order)) - np.repeat(starts, lines) + 1)
    n_li = len(l_order)
    partkey = rng.integers(0, n_part, n_li)
    qty = rng.integers(1, 51, n_li).astype("float64")
    # shuffled row order: the table is not clustered by key, like a real
    # fact table, so key-range pruning cannot skip whole files for free
    perm = rng.permutation(n_li)
    _write(tmp, "lineitem", {
        "l_orderkey": l_order[perm],
        "l_partkey": partkey[perm],
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": l_line[perm].astype("int32"),
        "l_quantity": qty[perm],
        "l_extendedprice": np.round(qty * part_price[partkey], 2)[perm],
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["N", "R", "A"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _ts(
            np.repeat(o_date, lines)[perm]
            + rng.integers(-30, 122, n_li) * _DAY_US
        ),
    }, pa.schema([("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
                  ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
                  ("l_quantity", pa.float64()),
                  ("l_extendedprice", pa.float64()),
                  ("l_discount", pa.float64()), ("l_tax", pa.float64()),
                  ("l_returnflag", pa.string()),
                  ("l_linestatus", pa.string()),
                  ("l_shipdate", pa.timestamp("us"))]))

    ev_ts = np.sort(_EPOCH_2024_US + rng.integers(0, 30 * _DAY_US, n_events))
    _write(tmp, "events", {
        "event_id": np.arange(n_events, dtype="int64"),
        "ts": _ts(ev_ts),
        "user_id": rng.integers(0, max(n_events // 66, 10), n_events),
        "event_type": rng.choice(_EVENT_TYPES, n_events),
        "value": np.round(rng.exponential(50.0, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    }, pa.schema([("event_id", pa.int64()), ("ts", pa.timestamp("us")),
                  ("user_id", pa.int64()), ("event_type", pa.string()),
                  ("value", pa.float64()), ("props", pa.string())]))

    docs = _build_documents(rng, n_docs)
    _write(tmp, "documents", docs, DOCUMENTS_SCHEMA)

    emb = rng.standard_normal((n_vecs, 64)).astype("float32")
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    _write(tmp, "embeddings", {
        "vec_id": np.arange(n_vecs, dtype="int64"),
        "embedding": pa.FixedSizeListArray.from_arrays(
            emb.reshape(-1), 64).cast(pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_vecs).astype("int32"),
    }, pa.schema([("vec_id", pa.int64()),
                  ("embedding", pa.list_(pa.float32())),
                  ("label", pa.int32())]))


DOCUMENTS_SCHEMA = pa.schema([
    ("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
    ("source", pa.string()), ("n_chars", pa.int64()),
])


def _build_documents(rng: np.random.Generator, n: int) -> dict:
    """``n`` documents over a 31-word vocabulary, with planted structure
    for the dedup operators: ~1% exact copies and ~4% near-duplicates
    (one or two tokens changed) of earlier documents."""
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.01:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.05:
            toks = texts[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(1, 3))):
                toks[int(rng.integers(0, len(toks)))] = str(
                    rng.choice(_WORDS))
            texts.append(" ".join(toks))
        else:
            texts.append(_text(rng, int(rng.integers(8, 100))))
    return {
        "doc_id": np.arange(n, dtype="int64"),
        "text": texts,
        "lang": rng.choice(_LANGS, n, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    }


def documents(seed: int, n: int) -> Path:
    """A directory holding ``documents.parquet``: ``n`` documents in the
    registry's ``documents`` schema, for ``etl_daily``'s release
    increments."""
    name = f"documents-v{GEN_VERSION}-n{n}-s{seed}"
    rng = np.random.default_rng([seed, 3])
    return _cached(name, lambda tmp: _write(
        tmp, "documents", _build_documents(rng, n), DOCUMENTS_SCHEMA))


# ---------------------------------------------------------------------------
# Raw auction batches (etl_daily)
# ---------------------------------------------------------------------------

_MAKES = ["BMW", "Audi", "Ford", "Porsche", "Toyota", "Honda", "Mazda"]
_BODY = ["Coupe", "Sedan", "Convertible", "Wagon", "SUV/Crossover"]
_DRIVE = ["Rear-wheel drive", "All-wheel drive", "Front-wheel drive", "4WD"]
_TRANS = ["Manual (6-Speed)", "Automatic (8-Speed)", "Manual (5-Speed)"]
_CITIES = [("Seattle", "WA", "98101"), ("Miami", "FL", "33101"),
           ("Tacoma", "WA", "98402"), ("Orlando", "FL", "32801")]
_VALID_STATUS = ["Sold to {b}", "Reserve not met, bid to", "Canceled"]


def _auction(rng: np.random.Generator, slug: str, valid: bool, date: str,
             struct_vintage: bool) -> tuple[str, dict]:
    """One raw auction record in the scraper's shape (both list-field
    vintages), mirroring the engine's test fixture record."""
    year = 1990 + int(rng.integers(0, 35))
    make = str(rng.choice(_MAKES))
    city, state, zipc = _CITIES[int(rng.integers(0, len(_CITIES)))]
    url = f"https://carsandbids.com/auctions/{slug}/{year}-{make.lower()}-x"
    n_bids = int(rng.integers(0, 8))
    top = int(rng.integers(5, 200)) * 1000
    bids = [f"${top - j * 750:,}" for j in range(n_bids)]
    status = ("Withdrawn" if not valid else
              str(rng.choice(_VALID_STATUS)).format(b=f"buyer{slug[-2:]}"))
    rec = {
        "auction_url": url,
        "auction_title": f"{year} {make} Model-{int(rng.integers(0, 12))}",
        "auction_subtitle": "sub",
        "auction_stats": {
            "reserve_status": str(rng.choice(["Reserve", "No Reserve"])),
            "auction_status": status,
            "highest_bid_value": bids[0] if bids else "$0",
            "buyer_username": "buyer1",
            "seller_username": f"seller{int(rng.integers(0, 50))}",
            "bid_count": str(n_bids),
            "view_count": f"{int(rng.integers(100, 50000)):,}",
            "watcher_count": str(int(rng.integers(0, 900))),
            "auction_date": date,
            "bids": bids,
        },
        "auction_quick_facts": {
            "Make": make,
            "Model": f"Model-{int(rng.integers(0, 12))}\nSave",
            "Mileage": f"{int(rng.integers(1, 250)) * 1000:,} miles",
            "VIN": f"VIN{slug}",
            "Title Status": f"Clean ({state})",
            "Location": f"{city}, {state} {zipc}",
            "Seller": "sellerguy\nFollow",
            "Engine": "3.0L I6",
            "Drivetrain": str(rng.choice(_DRIVE)),
            "Transmission": str(rng.choice(_TRANS)),
            "Body Style": str(rng.choice(_BODY)),
            "Exterior Color": "Alpine White",
            "Interior Color": "Black",
            "Seller Type": str(rng.choice(["Private party", "Dealer"])),
        },
        "dougs_take": "nice car",
        "known_flaws": ["scratch"] * int(rng.integers(0, 3)),
        "included_items": ["two keys", "books"],
        "ownership_history": "2 owners",
        "seller_notes": ["note1"],
        "auction_videos": [],
        "auction_equipment": ["nav", "sunroof"][: int(rng.integers(0, 3))],
        "modifications": [],
    }
    if struct_vintage:
        rec["auction_highlights"] = {"description": "d",
                                     "bullet_points": ["h1", "h2"]}
        rec["service_history"] = {"description": "sh",
                                  "items": ["oil change"]}
    else:
        rec["auction_highlights"] = ["h1", "h2"]
        rec["services"] = ["oil change"]
    return url, rec


def auction_batches(seed: int, n_batches: int, per_batch: int,
                    files: int) -> tuple[Path, list[dict]]:
    """``n_batches`` daily raw batches under ``<dir>/batch_NN/``.

    Each batch has ``per_batch`` records over ``files`` JSON files (every
    4th file in the early dict-of-auctions vintage, the rest lists; about
    a third of records in the struct list-field vintage).  From batch 2 on
    about 20% of a batch re-lists earlier auctions under the batch's newer
    date.  About 1/7 of auctions carry a status the validity regex rejects
    (and keep it when re-listed), so they go to the rescrape queue.

    Returns the directory and per-batch expectations: ``invalid`` (the
    batch's rescrape line count) and ``valid_total`` (distinct valid
    auctions over batches 1..b = gold fact rows after batch b)."""
    name = (f"auctions-v{GEN_VERSION}-b{n_batches}x{per_batch}"
            f"f{files}-s{seed}")
    out = _cached(name, lambda tmp: _build_auctions(
        tmp, seed, n_batches, per_batch, files))
    return out, json.loads((out / "expected.json").read_text())


def _build_auctions(tmp: Path, seed: int, n_batches: int, per_batch: int,
                    files: int) -> None:
    rng = np.random.default_rng([seed, 2])
    valid_of: dict[str, bool] = {}
    expected = []
    for b in range(n_batches):
        day = f"2024-03-{b + 1:02d}"
        n_relist = int(per_batch * 0.2) if b else 0
        old = list(valid_of)
        relist = ([old[i] for i in rng.choice(len(old), n_relist,
                                              replace=False)]
                  if n_relist else [])
        fresh = [f"b{b:02d}n{i:05d}" for i in range(per_batch - n_relist)]
        for slug in fresh:
            valid_of[slug] = bool(rng.random() >= 1 / 7)
        recs = []
        for i, slug in enumerate(fresh + relist):
            date = f"{day}T{int(rng.integers(0, 24)):02d}:{i % 60:02d}:00Z"
            recs.append(_auction(rng, slug, valid_of[slug], date,
                                 struct_vintage=bool(rng.random() < 1 / 3)))
        order = rng.permutation(len(recs))
        bdir = tmp / f"batch_{b:02d}"
        bdir.mkdir()
        for f in range(files):
            chunk = [recs[int(j)] for j in order[f::files]]
            with open(bdir / f"raw{f:03d}.json", "w") as fh:
                if f % 4 == 0:
                    json.dump({u: a for u, a in chunk}, fh)
                else:
                    json.dump([a for _, a in chunk], fh)
        expected.append({
            "invalid": sum(not valid_of[s] for s in fresh + relist),
            "valid_total": sum(valid_of.values()),
        })
    (tmp / "expected.json").write_text(json.dumps(expected))
