"""Synthetic raw auction JSON fixtures — both file vintages
(dict-of-auctions and list-of-auctions) and both list-field drift forms,
mirroring the shapes handled by convert_to_list_dicts / extract_list_field
(transform_lambda/main.py:52-102)."""

from __future__ import annotations

import json
import os


def auction(
    slug: str,
    year: int = 2014,
    status: str = "Sold to buyer1",
    date: str = "2024-03-01T10:30:00Z",
    make: str = "BMW",
    model: str = "M3\nSave",
    bids: list[str] | None = None,
    highlights_vintage: str = "struct",
    **overrides,
):
    url = f"https://carsandbids.com/auctions/{slug}/{year}-{make.lower()}-x"
    rec = {
        "auction_url": url,
        "auction_title": f"{year} {make} {model.splitlines()[0]}",
        "auction_subtitle": "sub",
        "auction_stats": {
            "reserve_status": "Reserve",
            "auction_status": status,
            "highest_bid_value": "$20,750",
            "buyer_username": "buyer1",
            "seller_username": "seller1",
            "bid_count": "37",
            "view_count": "12,345",
            "watcher_count": "678",
            "auction_date": date,
            "bids": bids if bids is not None else ["$20,750", "$20,000", "$18,500"],
        },
        "auction_quick_facts": {
            "Make": make,
            "Model": model,
            "Mileage": "87,000 miles",
            "VIN": f"VIN{slug}",
            "Title Status": "Clean (FL)",
            "Location": "Seattle, WA 98101",
            "Seller": "sellerguy\nFollow",
            "Engine": "3.0L I6",
            "Drivetrain": "Rear-wheel drive",
            "Transmission": "Manual (6-Speed)",
            "Body Style": "Coupe",
            "Exterior Color": "Alpine White",
            "Interior Color": "Black",
            "Seller Type": "Private party",
        },
        "dougs_take": "nice car",
        "known_flaws": ["scratch"],
        "included_items": ["two keys", "books"],
        "ownership_history": "2 owners",
        "seller_notes": ["note1"],
        "auction_videos": [],
        "auction_equipment": ["nav", "sunroof"],
        "modifications": [],
    }
    if highlights_vintage == "struct":
        rec["auction_highlights"] = {"description": "d", "bullet_points": ["h1", "h2"]}
        rec["service_history"] = {"description": "sh", "items": ["oil change"]}
    else:  # plain-list vintage
        rec["auction_highlights"] = ["h1", "h2"]
        rec["services"] = ["oil change"]
    rec.update(overrides)
    return url, rec


def write_raw_corpus(dirpath: str, n: int = 2000, files: int = 20) -> int:
    """A larger synthetic raw corpus for end-to-end pipeline benchmarking:
    ``n`` auctions spread over ``files`` files, alternating vintages, with
    duplicates (every 13th slug re-listed under a newer date → D1 work),
    invalid statuses (every 7th → rescrape split), and varied dims."""
    os.makedirs(dirpath, exist_ok=True)
    makes = ["BMW", "Audi", "Ford", "Porsche", "Toyota"]
    recs = []
    for i in range(n):
        dup = i % 13 == 0 and i > 0
        slug = f"car{(i - 1 if dup else i):05d}"
        day = 1 + i % 27 + (1 if dup else 0)
        u, a = auction(
            slug,
            year=2000 + i % 25,
            status="Withdrawn" if i % 7 == 3 else
                   ("Sold to bidder" if i % 2 else "Reserve not met, bid to"),
            date=f"2024-03-{day:02d}T10:{i % 60:02d}:00Z",
            make=makes[i % 5],
            model=f"Model-{i % 9}\nSave",
            bids=[f"${(j + 1) * 1000 + i:,}" for j in range(i % 6)],
            highlights_vintage="struct" if i % 3 == 0 else "list",
        )
        recs.append((u, a))
    for f_idx in range(files):
        chunk = recs[f_idx::files]
        path = os.path.join(dirpath, f"raw{f_idx:03d}.json")
        with open(path, "w") as f:
            if f_idx % 4 == 0:  # early dict vintage
                json.dump({u: a for u, a in chunk}, f)
            else:
                json.dump([a for _, a in chunk], f)
    return n


def write_raw_files(dirpath: str) -> dict:
    """Two files: one dict-form (early vintage), one list-form. Includes a
    duplicate auction_id with a newer date (D1) and an invalid-status row
    (F1 rescrape)."""
    os.makedirs(dirpath, exist_ok=True)
    u1, a1 = auction("aaa111", status="Sold to buyer1",
                     date="2024-03-01T10:30:00Z", highlights_vintage="struct")
    u2, a2 = auction("bbb222", status="Reserve not met, bid to",
                     date="2024-03-02T09:00:00Z", make="Audi", model="RS4",
                     highlights_vintage="list")
    u3, a3 = auction("ccc333", status="Withdrawn",  # invalid → rescrape
                     date="2024-03-02T12:00:00Z", make="Ford", model="GT")
    # dict-form file: key is the URL and wins over the embedded field
    dict_form = {u1: a1, u2: a2, u3: a3}
    with open(os.path.join(dirpath, "early.json"), "w") as f:
        json.dump(dict_form, f)
    # list-form file: re-lists auction aaa111 with a NEWER date and a
    # different bid list → D1 must keep this one; plus a fresh auction
    _, a1b = auction("aaa111", status="Sold to buyer2",
                     date="2024-03-05T08:00:00Z",
                     bids=["$25,000", "$24,000"], highlights_vintage="list")
    u4, a4 = auction("ddd444", status="Cancelled",
                     date="2024-03-04T11:00:00Z", make="Porsche",
                     model="911", bids=["$90,000", "bad$"])  # C11 → []
    with open(os.path.join(dirpath, "late.json"), "w") as f:
        json.dump([a1b, a4], f)
    return {"urls": [u1, u2, u3, u4], "rescrape_expected": [u3]}


def arrow_append(log, ids: list[int]):
    """Append ``ids`` (one ``id bigint`` column) to a commit-log table
    without Spark: one pyarrow-written data file committed through
    `TransactionLog.run_optimistic`.  Returns the committed version."""
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    from cars_bids_data_pipeline_v0__spark.sources.txlog import CommitProposal

    def build(v: int):
        os.makedirs(log.data_dir, exist_ok=True)
        rel = f"data/{uuid.uuid4().hex}.parquet"
        pq.write_table(
            pa.table({"id": pa.array(ids, pa.int64())}),
            os.path.join(log.path, rel),
        )
        add = {"path": rel, "partition": None, "rows": len(ids)}
        return CommitProposal([add], [], v + 1)

    return log.run_optimistic("append", build)
