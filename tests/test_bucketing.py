"""Bucketed co-located join: compatibly-bucketed tables must join with NO
shuffle exchange in the physical plan (the 100 TB fact⋈fact strategy)."""

from __future__ import annotations

import io
from contextlib import redirect_stdout

from pyspark.sql import functions as F

from cars_bids_data_pipeline_v0__spark.sources.bucketed import (
    read_bucketed,
    write_bucketed,
)

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_bucketed_join_has_no_exchange(spark):
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    lineitem = spark.read.parquet(f"{SF}/lineitem.parquet")
    write_bucketed(orders, "orders_b", ["o_orderkey"], 8,
                   sort_cols=["o_orderkey"])
    write_bucketed(lineitem, "lineitem_b", ["l_orderkey"], 8,
                   sort_cols=["l_orderkey"])

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        o = read_bucketed(spark, "orders_b")
        li = read_bucketed(spark, "lineitem_b")
        joined = li.join(o, li.l_orderkey == o.o_orderkey).select(
            "l_orderkey", "o_orderdate", "l_quantity"
        )
        plan = plan_of(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan  # bucketing removed both shuffles
        # correctness unchanged vs the plain join
        plain = (
            lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
            .count()
        )
        assert joined.count() == plain
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS lineitem_b")


def test_partition_pruned_scan_on_silver_lake(spark, tmp_path):
    """A date-scoped read of the commit-log lake must prune at planning:
    the partition's files come from the log's metadata
    (`tx_files_in_partitions`), the read opens only those, and untouched
    dates never load."""
    import datetime
    import os

    from pyspark.sql import Row

    from cars_bids_data_pipeline_v0__spark.sources.txlog import (
        TransactionLog,
        tx_files_in_partitions,
        tx_merge_partitioned,
    )

    lake = str(tmp_path / "lake")
    rows = [
        Row(auction_id=f"a{i}", auction_date=f"2024-03-0{1 + i % 3}T10:00:00",
            price=float(i))
        for i in range(9)
    ]
    df = spark.createDataFrame(rows).withColumn(
        "auction_date", F.to_timestamp("auction_date")
    )
    touched = tx_merge_partitioned(spark, df, lake)
    assert touched == ["2024-03-01", "2024-03-02", "2024-03-03"]

    live = TransactionLog(lake).live_files()
    files = tx_files_in_partitions(lake, ["2024-03-02"])
    assert set(files.values()) == {"2024-03-02"}
    assert 0 < len(files) < len(live)

    pruned = spark.read.parquet(*(os.path.join(lake, f) for f in files))
    assert {os.path.basename(f) for f in pruned.inputFiles()} == {
        os.path.basename(f) for f in files
    }
    assert pruned.count() == 3
    assert {r["auction_saving_date"] for r in pruned.collect()} == {
        datetime.date(2024, 3, 2)
    }
