"""Readers + bronze normalization (SURVEY §2.1 S1-S3, §2.2 P1-P5).

S1 — whole-object JSON read.  The reference reads one S3 object and
``json.loads`` it (transform_lambda/main.py:15-37); files drift between two
vintages — ``{url: {auction}}`` dicts and ``[{auction}]`` lists
(convert_to_list_dicts, transform_lambda/main.py:97-102) — and several
fields drift between ``null | [items] | {description, items}``
(extract_list_field, :52-61).

Spark-first: parse each file into a single VARIANT (`parse_json`) and
flatten with ``LATERAL variant_explode`` — one code path covers both file
vintages *and* field-level drift via typed ``try_variant_get`` probes, with
no Python in the loop.  At scale each file is a row; thousands of raw files
fan out across executors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schemas import SILVER

# The 14 quick-facts keys (scrape_auction.py:46-61) and their P5-normalized
# column names (create_auction_df lowercases and underscores,
# transform_lambda/main.py:105-108).
_QUICK_FACTS = {
    "Make": "make",
    "Model": "model",
    "Mileage": "mileage",
    "VIN": "vin",
    "Title Status": "title_status",
    "Location": "location",
    "Seller": "seller",
    "Engine": "engine",
    "Drivetrain": "drivetrain",
    "Transmission": "transmission",
    "Body Style": "body_style",
    "Exterior Color": "exterior_color",
    "Interior Color": "interior_color",
    "Seller Type": "seller_type",
}

# auction_stats leaves (scrape_auction.py:33-45); all read as strings, typed
# in silver.  view/watcher default to 0 when missing (process_auction
# setdefault, transform_lambda/main.py:67-69).
_STATS = [
    "reserve_status",
    "auction_status",
    "highest_bid_value",
    "buyer_username",
    "seller_username",
    "bid_count",
    "view_count",
    "watcher_count",
    "auction_date",
]


def _vget(path: str, dtype: str = "string") -> F.Column:
    return F.try_variant_get(F.col("rec"), f"$.{path}", dtype)


def _list_field(name: str, list_key: str) -> F.Column:
    """P3 — extract_list_field (transform_lambda/main.py:52-61): the field
    may be null | [..] | {list_key: [..]}; always yield an array."""
    return F.coalesce(
        _vget(f"{name}.{list_key}", "array<string>"),
        _vget(name, "array<string>"),
        F.array().cast("array<string>"),
    )


def read_raw_auctions(spark: SparkSession, path: str) -> DataFrame:
    """S1 + P2 — read raw auction JSON files (either vintage) into one
    record-per-auction frame of ``(url_key, rec variant)``."""
    # PERMISSIVE-style ingest (SURVEY §1.3): try_parse_json yields null for
    # malformed files instead of failing the job; unparseable inputs drop
    # out here (the reference would route them to the rescrape loop).
    raw = (
        spark.read.option("wholetext", True)
        .text(path)
        .select(F.try_parse_json(F.col("value")).alias("v"))
        .filter(F.col("v").isNotNull())
    )
    raw.createOrReplaceTempView("__raw_variant")
    # variant_explode iterates both object entries (key = url) and array
    # elements (key = null) — the two file vintages in one pass.
    return spark.sql(
        "SELECT ve.key AS url_key, ve.value AS rec "
        "FROM __raw_variant, LATERAL variant_explode(v) AS ve"
    )


def normalize_raw(records: DataFrame) -> DataFrame:
    """P1-P5 — nested→flat normalization of exploded raw records.

    Mirrors process_auction + create_auction_df
    (transform_lambda/main.py:64-108): pick the named top-level fields,
    splat quick-facts and stats, coalesce drift-prone list fields, default
    view/watcher counts, and emit P5-normalized column names.  Output
    columns are all strings/arrays — silver does the typing.
    """
    cols: list[F.Column] = [
        # P2: dict-form key wins as the URL (process_auction url param,
        # transform_lambda/main.py:71-72)
        F.coalesce(F.col("url_key"), _vget("auction_url")).alias("auction_url"),
        _vget("auction_title").alias("auction_title"),
        _vget("auction_subtitle").alias("auction_subtitle"),
        _vget("dougs_take").alias("dougs_take"),
        # P3: highlights use bullet_points; services fall back to
        # service_history (transform_lambda/main.py:76-83).  Python's
        # truthiness (`services or service_history`) is emulated by
        # preferring a non-empty services list.
        _list_field("auction_highlights", "bullet_points").alias(
            "auction_highlights"
        ),
        F.coalesce(
            F.when(
                F.size(_list_field("services", "items")) > 0,
                _list_field("services", "items"),
            ),
            F.when(
                F.size(_list_field("service_history", "items")) > 0,
                _list_field("service_history", "items"),
            ),
            F.array().cast("array<string>"),
        ).alias("services"),
        _vget("auction_equipment", "array<string>").alias("auction_equipment"),
        _vget("modifications", "array<string>").alias("modifications"),
        _vget("known_flaws", "array<string>").alias("known_flaws"),
        _vget("included_items", "array<string>").alias("included_items"),
        _vget("ownership_history").alias("ownership_history"),
        _vget("seller_notes", "array<string>").alias("seller_notes"),
        # auction_videos defaults to [] (process_auction,
        # transform_lambda/main.py:90)
        F.coalesce(
            _vget("auction_videos", "array<string>"),
            F.array().cast("array<string>"),
        ).alias("auction_videos"),
        _vget("auction_stats.bids", "array<string>").alias("bids"),
    ]
    cols += [
        _vget(f"auction_quick_facts.{raw_name}").alias(norm)
        for raw_name, norm in _QUICK_FACTS.items()
    ]
    for s in _STATS:
        c = _vget(f"auction_stats.{s}")
        if s in ("view_count", "watcher_count"):
            # P4 — setdefault(0) (transform_lambda/main.py:67-69)
            c = F.coalesce(c, F.lit("0"))
        cols.append(c.alias(s))
    return records.select(*cols)


def read_silver_ndjson(spark: SparkSession, path: str) -> DataFrame:
    """S2 — line-delimited silver read with the explicit SILVER schema
    (reference: load_lambda/main.py:50-67, json.loads per line)."""
    return spark.read.schema(SILVER).json(path)


def read_text_lines(spark: SparkSession, path: str) -> DataFrame:
    """S3 — ``.txt`` → one trimmed, non-empty line per row
    (read_txt_from_s3, src/rescrape/main.py:13-38)."""
    return (
        spark.read.text(path)
        .select(F.trim(F.col("value")).alias("value"))
        .filter(F.length("value") > 0)
    )


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Parquet table loader for the driver's test corpus (TESTDATA.md).

    ``events.parquet`` carries TIMESTAMP(NANOS) which vanilla Spark rejects
    (PARQUET_TYPE_ILLEGAL); read nanos as long and convert to µs — the same
    truncation DuckDB applies when it reads ns into its µs timestamps.

    The session TZ is pinned UTC here (runtime-settable) so NTZ↔epoch
    conversions are identical under any caller's session — external driver
    sessions may not come up UTC.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn(
                "ts",
                F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz"),
            )
        return df
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def read_csv_table(
    spark: SparkSession,
    path: str,
    schema: "T.StructType | str | None" = None,
    **options,
) -> DataFrame:
    """CSV ingest with engine semantics: explicit schema (inference is a
    second full scan — never on by default), PERMISSIVE parse with a
    ``_corrupt_record`` audit column (matching the JSON path's
    try_parse_json policy: bad rows are routed, not fatal), header on.

    Caveat (Spark rule): cache the result before filtering ONLY on
    ``_corrupt_record`` — raw-scan queries touching just that column are
    disallowed (QUERY_ONLY_CORRUPT_RECORD_COLUMN).
    """
    opts = {"header": "true", "mode": "PERMISSIVE",
            "columnNameOfCorruptRecord": "_corrupt_record"}
    opts.update(options)
    reader = spark.read.options(**opts)
    if schema is not None:
        if isinstance(schema, str):
            schema = T.StructType.fromDDL(schema)
        # corrupt-record column must exist in the schema to be populated
        if "_corrupt_record" not in [f.name for f in schema.fields]:
            schema = schema.add("_corrupt_record", T.StringType())
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def write_read_orc(df: DataFrame, path: str) -> DataFrame:
    """ORC round-trip (columnar alternative when the downstream stack is
    Hive/ORC-native): same writer API, same predicate-pushdown and
    column-pruning behavior as parquet in this engine."""
    df.write.mode("overwrite").orc(path)
    return df.sparkSession.read.orc(path)


def register_views(spark: SparkSession, sf_dir: str,
                   names: list[str] | None = None) -> list[str]:
    """Register every test-corpus table as a temp view so users can drive
    the engine through plain ``spark.sql`` — the catalog-level surface a
    warehouse user expects next to the DataFrame API.  Reuses
    `read_table`, so the events nanos→µs normalization and UTC pinning
    apply identically in SQL-land.  Returns the registered names."""
    names = names or [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ]
    for name in names:
        read_table(spark, sf_dir, name).createOrReplaceTempView(name)
    return names
