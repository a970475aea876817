"""M1-M3 — warehouse merge operators (insert-if-absent, MERGE INTO).

Reference: Postgres ``INSERT … ON CONFLICT DO NOTHING`` for 8 dims + the
fact (update_dims.sql:8-114, 185-223) and ``DO UPDATE SET`` for vehicle_dim
(update_dims.sql:122-177).

Spark-first: each statement is DataFrame set algebra, and the commit log
(`sources.txlog`) makes it atomic — the gold star schema commits the
fact's ``insert_if_absent`` rows adds-only and runs the vehicle upsert on
`tx_merge_into`'s core, so no single-writer assumption remains:

* M1/M3 insert-if-absent  →  ``new ⟕anti existing``  then append.
* ``merge_into``          →  ``MERGE INTO`` over plain DataFrames, one
  full-outer join on the key.

At cluster scale both sides shuffle on the merge key once; dims are tiny so
Catalyst broadcasts the existing side of the anti-join automatically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def insert_if_absent(
    existing: DataFrame | None, new_rows: DataFrame, key: list[str]
) -> DataFrame:
    """M1/M3 — rows of ``new_rows`` whose key is not in ``existing``.

    Equivalent of ``ON CONFLICT (key) DO NOTHING``: returns only the rows to
    append.  ``new_rows`` is deduped on the key first (a batch can carry the
    same key twice; Postgres would reject the second insert in-statement).
    The survivor is deterministic — first row by sorted payload
    (``_dedup_source``), not whichever row a partition delivers first.
    """
    fresh = _dedup_source(new_rows, key)
    if existing is None:
        return fresh
    return fresh.join(existing.select(*key).distinct(), on=key, how="left_anti")


def _dedup_source(source: DataFrame, on: list[str]) -> DataFrame:
    """Deterministic key-dedup: first row by the payload's total order.

    ``dropDuplicates`` keeps whichever duplicate a partition happens to
    deliver first — run-to-run nondeterministic.  Ordering the window by
    every non-key column (sorted by name, NULLs first) makes the survivor
    a pure function of the data.  Arrays and structs ARE orderable in
    Spark (lexicographic / field-wise) and participate in the sort; only
    map-typed columns — at any nesting depth — are unorderable and
    skipped, so duplicates differing ONLY in a map column remain an
    arbitrary (documented) choice.
    """
    from pyspark.sql import Window
    from pyspark.sql import types as T

    def has_map(dt: T.DataType) -> bool:
        if isinstance(dt, T.MapType):
            return True
        if isinstance(dt, T.ArrayType):
            return has_map(dt.elementType)
        if isinstance(dt, T.StructType):
            return any(has_map(f.dataType) for f in dt.fields)
        return False

    orderable = [
        f.name for f in source.schema.fields
        if f.name not in on and not has_map(f.dataType)
    ]
    if not orderable:
        return source.dropDuplicates(on)
    w = Window.partitionBy(*on).orderBy(
        *[F.col(c).asc_nulls_first() for c in sorted(orderable)]
    )
    return (
        source.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def merge_into(
    target: DataFrame | None,
    source: DataFrame,
    on: list[str],
    when_matched_update: dict[str, "F.Column | str"] | None = None,
    when_matched_delete: "F.Column | None" = None,
    when_not_matched_insert: bool = True,
) -> DataFrame:
    """General ``MERGE INTO`` emulation over plain DataFrames.

    Semantics (mirrors Delta/Iceberg/ANSI MERGE, single-writer):

    * matched + ``when_matched_delete`` condition true → row dropped;
    * matched otherwise → ``when_matched_update`` assignments applied
      (``{col: Column-or-source-column-name}``); ``None`` means replace
      the whole row with the source payload;
    * unmatched source rows → inserted when ``when_not_matched_insert``;
    * unmatched target rows → kept as-is.

    Executes as ONE full-outer join on the merge key — every clause is a
    projection over the join result, so the whole merge is one shuffle
    (plus whatever the sink needs).  Returns the merged table; write it
    with dynamic partition overwrite (or a real MERGE on a transactional
    format — the signature is deliberately compatible).

    ``source`` is pre-deduped on the key: ANSI MERGE raises on duplicate
    source matches; keeping an arbitrary one of N identical keys would be
    nondeterministic, so we keep the first by sorted payload — a
    ``row_number`` window ordered by every non-key column (name order,
    NULLs first), which is a total order on the payload and therefore
    stable across runs and partitionings.
    """
    src = _dedup_source(source, on)
    if target is None:
        return src if when_not_matched_insert else source.limit(0)

    # presence markers (null payloads are legal, so isNotNull on payload
    # columns can't detect the side): tag each side before the join
    t = target.withColumn("__in_t", F.lit(1)).alias("__t")
    s = src.withColumn("__in_s", F.lit(1)).alias("__s")
    joined = t.join(s, on=on, how="full_outer")
    in_t = F.col("__in_t").isNotNull()
    in_s = F.col("__in_s").isNotNull()

    payload_cols = [c for c in target.columns if c not in on]
    out_cols: list[F.Column] = [F.col(c) for c in on]
    for c in payload_cols:
        tc = F.col(f"__t.{c}")
        sc = F.col(f"__s.{c}") if c in src.columns else F.lit(None)
        if when_matched_update is None:
            updated = sc
        elif c in when_matched_update:
            v = when_matched_update[c]
            updated = F.col(f"__s.{v}") if isinstance(v, str) else v
        else:
            updated = tc
        out_cols.append(
            F.when(in_t & in_s, updated)
            .when(in_t, tc)
            .otherwise(sc)
            .alias(c)
        )

    keep = F.lit(True)
    if when_matched_delete is not None:
        keep = ~(in_t & in_s & when_matched_delete)
    if not when_not_matched_insert:
        keep = keep & ~(in_s & ~in_t)
    return joined.filter(keep).select(*out_cols)
