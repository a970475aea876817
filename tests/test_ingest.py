"""Source readers: permissive CSV with a corrupt-record audit, ORC
round-trip, and catalog views over the test corpus."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_csv_permissive_roundtrip_and_corrupt_audit(spark, tmp_path):
    from cars_bids_data_pipeline_v0__spark.sources.ingest import (
        read_csv_table,
    )

    p = tmp_path / "in.csv"
    p.write_text("id,name,amount\n1,a,10.5\n2,b,20.0\nbad-row-no-commas\n")
    # cache: Spark disallows querying only the corrupt-record column of a
    # raw CSV scan (QUERY_ONLY_CORRUPT_RECORD_COLUMN)
    df = read_csv_table(
        spark, str(p), schema="id long, name string, amount double"
    ).cache()
    good = df.filter(F.col("_corrupt_record").isNull())
    bad = df.filter(F.col("_corrupt_record").isNotNull())
    assert good.count() == 2 and bad.count() == 1
    assert {r["id"] for r in good.collect()} == {1, 2}
    assert "bad-row-no-commas" in bad.collect()[0]["_corrupt_record"]


def test_orc_roundtrip_preserves_rows(spark, tmp_path):
    from cars_bids_data_pipeline_v0__spark.sources.ingest import (
        read_table,
        write_read_orc,
    )

    nation = read_table(spark, "/root/testdata/sf0.001", "nation")
    back = write_read_orc(nation, str(tmp_path / "nation_orc"))
    assert sorted(map(str, back.collect())) == sorted(
        map(str, nation.collect())
    )


def test_register_views_enables_plain_sql(spark):
    from cars_bids_data_pipeline_v0__spark.sources import register_views

    names = register_views(spark, "/root/testdata/sf0.001")
    assert len(names) == 10
    # cross-table SQL straight through the catalog surface
    row = spark.sql(
        """
        SELECT n.n_name, round(sum(l.l_extendedprice), 2) AS rev
        FROM lineitem l
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        GROUP BY n.n_name ORDER BY rev DESC LIMIT 1
        """
    ).collect()[0]
    assert row["rev"] > 0
    # the events normalization (nanos ts -> timestamp) carries into SQL
    ts_type = dict(spark.table("events").dtypes)["ts"]
    assert ts_type in ("timestamp", "timestamp_ntz")
    assert spark.sql("SELECT max(ts) FROM events").collect()[0][0].year == 2024
