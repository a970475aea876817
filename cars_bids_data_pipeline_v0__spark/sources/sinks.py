"""Sinks (SURVEY §2.1 S6-S9).

S5 — the reference's hand-rolled per-partition merge (load_to_s3,
transform_lambda/main.py:327-399) — is the commit-log table's merge,
`sources.txlog.tx_merge_partitioned`; this module holds the plain
outputs: the rescrape queue, the JSON debug artifact, the JDBC staging
load and the training shards.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def write_text_queue(df: DataFrame, path: str, column: str = "auction_url") -> None:
    """S9 — rescrape work-queue: one URL per line
    (write_rescrape_urls_lambda/main.py:23-34)."""
    df.select(F.col(column).cast("string").alias("value")).filter(
        F.col("value").isNotNull()
    ).write.mode("overwrite").text(path)


def write_json_debug(df: DataFrame, path: str) -> None:
    """S8 — single-file JSON debug artifact (src/rescrape/main.py:117)."""
    df.coalesce(1).write.mode("overwrite").json(path)


def write_jdbc_staging(
    df: DataFrame,
    url: str,
    table: str = "staging",
    properties: dict | None = None,
    batchsize: int = 150,
    truncate_and_load: bool = True,
    varchar_strings: int | None = None,
) -> None:
    """S6 + S7 — warehouse staging load over JDBC.

    Reference: tuple-ize + ``TRUNCATE TABLE staging`` + paged
    ``execute_values(page_size=150)`` (load_lambda/main.py:83-113).  Spark
    ships rows from executors in parallel JDBC connections instead of one
    driver-side cursor; ``overwrite`` + ``truncate`` reproduces the
    truncate-and-load semantics.  The engine-native path skips Postgres and
    writes gold parquet directly (plans.gold); this sink exists for
    capability parity.  Integration-tested against embedded Derby (the
    derby jars ship with pyspark) in tests/test_jdbc.py: full silver
    staging round-trip, truncate-and-load re-run stays duplicate-free.

    Complex columns (array/struct/map — e.g. silver's ``bids``) have no
    portable JDBC type, so they ship as JSON text — the engine-agnostic
    twin of the reference's driver-side tuple-ization; a Postgres target
    can cast back with ``::jsonb``.

    ``varchar_strings=N`` declares every string column as ``VARCHAR(N)``
    at table-create time; targets whose default string mapping is a
    non-comparable LOB (Derby → CLOB) need this for predicates to work
    against the staging table.  Postgres maps string → TEXT and doesn't.
    """
    complex_cols = [
        f.name for f in df.schema.fields
        if isinstance(f.dataType, (T.ArrayType, T.StructType, T.MapType))
    ]
    for c in complex_cols:
        df = df.withColumn(c, F.to_json(F.col(c)))
    writer = (
        df.write.mode("overwrite" if truncate_and_load else "append")
        .option("truncate", truncate_and_load)
        .option("batchsize", batchsize)
    )
    if varchar_strings is not None:
        ddl = ", ".join(
            f"{f.name} VARCHAR({varchar_strings})"
            for f in df.schema.fields
            if isinstance(f.dataType, T.StringType)
        )
        if ddl:
            writer = writer.option("createTableColumnTypes", ddl)
    writer.jdbc(url, table, properties=properties or {})


def write_training_shards(
    packed: DataFrame,
    out_dir: str,
    rows_per_file: int = 100_000,
) -> DataFrame:
    """Materialize packed training sequences (operators/packing.py) as a
    shard-partitioned parquet layout a training loader can consume:
    ``out_dir/shard=N/part-*.parquet``, files capped at
    ``rows_per_file`` rows, rows clustered by ``(shard, pack_id)`` so a
    pack never straddles a row-group boundary by more than one file.

    Returns the per-shard manifest ``(shard, n_files, n_rows,
    n_packs)`` read back from the written data — what the loader uses to
    schedule workers.  One shuffle (the shard repartition); file sizing
    is the writer's ``maxRecordsPerFile``, not a driver loop.
    """
    (
        packed.repartition("shard")
        .sortWithinPartitions("shard", "pack_id")
        .write.partitionBy("shard")
        .option("maxRecordsPerFile", rows_per_file)
        .mode("overwrite")
        .parquet(out_dir)
    )
    spark = packed.sparkSession
    written = spark.read.parquet(out_dir).select(
        "shard", "pack_id", F.input_file_name().alias("__file")
    )
    return written.groupBy("shard").agg(
        F.count_distinct("__file").alias("n_files"),
        F.count(F.lit(1)).alias("n_rows"),
        F.count_distinct("pack_id").alias("n_packs"),
    )
