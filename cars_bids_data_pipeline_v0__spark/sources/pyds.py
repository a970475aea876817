"""The commit-log table as a first-class Spark data source.

``spark.read.format("txlog")`` / ``spark.readStream.format("txlog")`` via
the Spark 4 Python DataSource API (`pyspark.sql.datasource`) — the engine's
transactional tables plug into plain Spark I/O with no helper imports at
the call site:

* **batch**: snapshot or time-travel read (``option("version", n)``); one
  input partition per live data file, so task parallelism = file layout,
  and Arrow record batches flow straight from the parquet files.
  ``pushFilters`` prunes files with the commit log's OWN metadata —
  partition values and per-column zone maps ride in the add actions, so
  equality/range filters skip files without opening them (the same
  metadata pruning ``tx_scan_eq`` does, now behind Spark's planner).
  Every filter is still returned as unhandled, so Spark re-applies them
  post-scan: pruning is an optimization, never a correctness dependency.
* **streaming**: a tail-follower whose offsets ARE commit versions —
  ``read(start)`` returns exactly the rows added in versions
  ``(start, latest]``, so checkpoint replay is exactly-once by the log's
  construction (no dedup state, no sequence guessing).  Append-only by
  contract: a remove action inside the window fails loudly (compaction
  rewrites history; a tailer must not re-read rewritten rows) unless
  ``ignoreDeletes`` is set.

Scale notes: the batch path is the convenience/interop face — at cluster
scale `tx_read` (native parquet scan over the same live-file list) stays
the hot path, and this source's per-file partitions keep the Python
overhead to Arrow batch iteration.  The stream reader is the
``SimpleDataSourceStreamReader`` variant (driver-prefetched micro-batches)
— right-sized for commit-log tailing where a micro-batch is one or a few
file-sized commits.

Reference parity: none (the reference loads into Postgres and trusts it;
this is the Spark-native face of the engine's own ACID layer).
"""

from __future__ import annotations

import os
from collections.abc import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    SimpleDataSourceStreamReader,
)
from pyspark.sql.types import StructType

from .txlog import TransactionLog, _table_schema

FORMAT_NAME = "txlog"


def register_txlog_source(spark) -> None:
    """Make ``format("txlog")`` resolvable in this session."""
    spark.dataSource.register(TxLogDataSource)


def _hive_unescape(s: str) -> str | None:
    """Invert the Hive/Spark directory-name escaping applied at write time
    (``%3A`` → ``:`` etc.); the null sentinel decodes to None."""
    import re

    if s == "__HIVE_DEFAULT_PARTITION__":
        return None
    return re.sub(
        r"%([0-9A-Fa-f]{2})", lambda m: chr(int(m.group(1), 16)), s
    )


def _filter_value_str(v) -> str | None:
    """A pushed filter value rendered with Spark's cast-to-string
    semantics (``True`` → ``"true"``, dates/timestamps ISO-style) so it
    compares against the partition directory value captured at write time.
    Returns None for types whose rendering is ambiguous (float/decimal) —
    the caller then KEEPS the file, so pruning stays conservative."""
    import datetime

    if isinstance(v, bool):  # before int: bool is an int subclass
        return "true" if v else "false"
    if isinstance(v, str):
        return v
    if isinstance(v, int):
        return str(v)
    if isinstance(v, datetime.datetime):
        s = v.strftime("%Y-%m-%d %H:%M:%S")
        if v.microsecond:
            s += f".{v.microsecond:06d}".rstrip("0")
        return s
    if isinstance(v, datetime.date):
        return v.isoformat()
    return None


def _file_survives(action: dict, filters: list[Filter]) -> bool:
    """Can this live file contain rows matching every pushed filter?

    Uses only commit-log metadata: the file's partition value and its
    per-column zone maps (``stats: {col: [lo, hi]}`` recorded by
    ``stage_dataframe(stats_cols=...)``).  Conservative by construction —
    missing metadata means KEEP, and both sides of the partition-value
    compare are normalized (Hive-unescape the stored directory value;
    Spark cast-to-string for the filter value) so a boolean/timestamp
    partition can never be wrongly pruned (round-6 ADVICE)."""
    part_val = action.get("partition")
    stats = action.get("stats") or {}
    # partition evolution: a file is pruned against the column its action
    # records as its layout only, so a file from an older spec is never
    # pruned by a filter on the new spec's column (conservative keep;
    # zone maps still skip by value)
    part_col = action.get("partition_col")

    def col_of(f) -> str | None:
        attr = getattr(f, "attribute", None)
        if attr and len(attr) == 1:
            return attr[0]
        return None

    for f in filters:
        col = col_of(f)
        if col is None:
            continue
        if col == part_col and part_val is not None:
            stored = _hive_unescape(str(part_val))
            if stored is None:
                continue  # null partition: keep (filters may be IsNull)
            if isinstance(f, EqualTo):
                fv = _filter_value_str(f.value)
                if fv is not None and fv != stored:
                    return False
            if isinstance(f, In):
                fvs = [_filter_value_str(v) for v in f.value]
                if None not in fvs and stored not in set(fvs):
                    return False
            continue
        zone = stats.get(col)
        if not zone or zone[0] is None or zone[1] is None:
            continue
        lo, hi = zone
        try:
            if isinstance(f, EqualTo) and not (lo <= f.value <= hi):
                return False
            if isinstance(f, GreaterThan) and not (hi > f.value):
                return False
            if isinstance(f, GreaterThanOrEqual) and not (hi >= f.value):
                return False
            if isinstance(f, LessThan) and not (lo < f.value):
                return False
            if isinstance(f, LessThanOrEqual) and not (lo <= f.value):
                return False
            if isinstance(f, In) and not any(
                lo <= v <= hi for v in f.value
            ):
                return False
        except TypeError:
            continue  # incomparable types: keep the file
    return True


class _FilePartition(InputPartition):
    def __init__(self, abspath: str):
        self.abspath = abspath


class TxLogBatchReader(DataSourceReader):
    """Plain reader — no ``pushFilters`` override, so it loads under any
    session (Spark refuses a Python reader that OVERRIDES pushFilters
    unless ``spark.sql.python.filterPushdown.enabled`` is true)."""

    def __init__(self, options: dict):
        self.path = options["path"]
        v = options.get("version")
        self.version = int(v) if v is not None else None
        if any(k.lower() == "partitioncolumn" for k in options):
            raise ValueError(
                "format('txlog') has no partitionColumn option: each "
                "file's add action records the column that laid it out"
            )
        log = TransactionLog(self.path)
        # a plain dict: the reader is pickled to the Python workers, and
        # the snapshot keeps its checkpoint sidecar open
        self._live = dict(log.live_actions(upto=self.version).items())
        if log.dvs(upto=self.version):
            raise ValueError(
                f"txlog table at {self.path} has deletion vectors in "
                "force — the Python data source streams raw file rows "
                "and cannot apply them; run tx_purge_dvs() first or "
                "read via tx_read"
            )
        if not log.plain(upto=self.version, dvs=False):
            raise ValueError(
                f"txlog table at {self.path} has column mapping or "
                "declared added columns in force — the Python data "
                "source yields raw physical file columns and would "
                "expose pre-rename/dropped/unfilled names; read via "
                "tx_read"
            )
        self._pruned = 0  # observable for tests/diagnostics
        # declared column ORDER, captured once on the driver: Spark's
        # Python-source worker converts Arrow batches positionally after
        # validating names only on the first batch, so every file must be
        # reordered to this before yielding (round-6 ADVICE: schema
        # evolution may legally reorder same-typed columns)
        try:
            self._names = [
                f.name for f in _table_schema(self.path, self.version).fields
            ]
        except Exception:
            self._names = None

    def partitions(self) -> list[InputPartition]:
        return [
            _FilePartition(os.path.join(self.path, rel))
            for rel in sorted(self._live)
        ]

    def read(self, partition: _FilePartition):
        import pyarrow as pa
        import pyarrow.parquet as pq

        pf = pq.ParquetFile(partition.abspath)
        arrow = pf.schema_arrow
        order = list(arrow.names)
        if self._names is not None and order != self._names:
            missing = [n for n in self._names if n not in set(order)]
            if missing:
                raise ValueError(
                    f"txlog file {partition.abspath} lacks declared "
                    f"columns {missing}; schema evolution must not drop "
                    "columns from live files"
                )
            order = self._names  # reorder by NAME to the declared schema
        # normalize timestamp units to microseconds: Spark's Arrow bridge
        # expects us-precision (INT96 footers read back as ns)
        target = pa.schema(
            [
                pa.field(
                    f.name,
                    pa.timestamp("us", tz=f.type.tz)
                    if pa.types.is_timestamp(f.type)
                    else f.type,
                    f.nullable,
                )
                for f in (arrow.field(n) for n in order)
            ]
        )
        for batch in pf.iter_batches():
            tbl = pa.Table.from_batches([batch]).select(order).cast(target)
            yield from tbl.to_batches()


class TxLogPruningBatchReader(TxLogBatchReader):
    """The pushdown-enabled variant, returned when the session allows
    Python-source filter pushdown."""

    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        before = len(self._live)
        self._live = {
            rel: act
            for rel, act in self._live.items()
            if _file_survives(act, filters)
        }
        self._pruned = before - len(self._live)
        # return EVERYTHING as unhandled: Spark re-applies the predicates
        # post-scan, so metadata pruning can never change results
        return iter(filters)


#: metadata columns the streaming change feed appends to the table schema
CDF_META_COLS = ("_change_type", "_commit_version", "_commit_op")


def _opt_true(options: dict, *names: str) -> bool:
    return any(
        str(options.get(n, "")).lower() in ("true", "1") for n in names
    )


def _freeze(v):
    """Hashable view of a row value for multiset counting (lists/dicts in
    parquet rows are unhashable as-is)."""
    if isinstance(v, (list, tuple)):
        return tuple(_freeze(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _freeze(x)) for k, x in v.items()))
    if isinstance(v, bytearray):
        return bytes(v)
    return v


class TxLogStreamReader(SimpleDataSourceStreamReader):
    """Commit-version offsets: micro-batch N+1 = rows of the files added
    in versions (start, latest] — exactly-once under checkpoint replay
    because the log itself is the offset ledger.

    With ``readChangeFeed=true`` the stream becomes a CHANGE feed
    (streaming twin of ``txlog.tx_changes``): every row carries
    ``_change_type`` / ``_commit_version`` / ``_commit_op``, appends
    stream as inserts, and rewriting commits (delete / merge / restore)
    stream their multiset difference — removed-minus-added as deletes,
    added-minus-removed as inserts — so layout-only compaction emits
    nothing and ``ignoreDeletes`` is unnecessary."""

    def __init__(self, options: dict):
        self.path = options["path"]
        self.start_version = int(
            options.get("startingversion", options.get("startingVersion", -1))
        )
        self.ignore_deletes = _opt_true(
            options, "ignoredeletes", "ignoreDeletes"
        )
        self.change_feed = _opt_true(
            options, "readchangefeed", "readChangeFeed"
        )
        # hard bound on how many commit versions one micro-batch may span:
        # with the default startingVersion=-1 on a large PRE-EXISTING
        # table, the first read would otherwise materialize the entire
        # history driver-side (round-6 ADVICE).  64 commits ≈ a few file
        # batches; tune down for very large commits or set startingVersion
        # to the current version to tail only new data.
        self.max_versions = int(
            options.get(
                "maxversionsperbatch", options.get("maxVersionsPerBatch", 64)
            )
        )
        if self.max_versions < 1:
            raise ValueError("maxVersionsPerBatch must be >= 1")
        self._names: list[str] | None = None

    def initialOffset(self) -> dict:
        return {"version": self.start_version}

    def _field_order(self) -> list[str] | None:
        """Declared column order (first live file's footer), computed once
        — every file's rows are re-indexed by NAME to this order so schema
        evolution that reorders same-typed columns cannot transpose
        values positionally (round-6 ADVICE)."""
        if self._names is None:
            try:
                self._names = [
                    f.name for f in _table_schema(self.path, None).fields
                ]
            except Exception:
                self._names = None
        return self._names

    def _load_rows(self, paths: list[str], version: int) -> list[tuple]:
        import pyarrow.parquet as pq

        order = self._field_order()
        rows: list[tuple] = []
        for p in paths:
            full = os.path.join(self.path, p)
            if not os.path.isfile(full):
                raise ValueError(
                    f"txlog stream needs file {p} of version {version} "
                    "already vacuumed away — change/tail feeds over "
                    "history require vacuum(keep_history=True)"
                )
            t = pq.read_table(full)
            names = order if order is not None else t.schema.names
            missing = [n for n in names if n not in set(t.schema.names)]
            if missing:
                raise ValueError(
                    f"txlog stream file {p} lacks declared columns {missing}"
                )
            for row in t.to_pylist():
                rows.append(tuple(row[n] for n in names))
        return rows

    def _dv_guard(self, log, since: int, upto: int) -> None:
        """Refuse a version window in which deletion-vector state CHANGED
        — those row-level deletes are invisible to a file-tailing stream
        (a restore that merely re-snapshots identical DV state passes)."""
        prev = log.dv_state_raw(upto=since) if since >= 0 else {}
        for act in log.actions(upto=upto, since=since):
            m = act.get("meta") or {}
            if "dv_state" in m and dict(m["dv_state"]) != prev:
                raise ValueError(
                    f"version {act['version']} of {self.path} changed "
                    "deletion-vector state — the txlog stream source "
                    "cannot express DV row deletes; run tx_purge_dvs() "
                    "and restart the stream, or use batch tx_changes"
                )
            prev = dict(m.get("dv_state", prev))
        if not log.plain(upto=upto, dvs=False):
            raise ValueError(
                f"{self.path} has column mapping or declared added "
                "columns in force — the txlog stream source yields raw "
                "physical file columns and would expose pre-rename/"
                "dropped/unfilled names; use batch tx_read / tx_changes"
            )

    def _added_rows(self, since: int, upto: int) -> Iterator[tuple]:
        log = TransactionLog(self.path)
        self._dv_guard(log, since, upto)
        for act in log.actions(upto=upto, since=since):
            if act.get("remove") and not self.ignore_deletes:
                raise ValueError(
                    "txlog stream source requires an append-only table: "
                    f"version window ({since}, {upto}] of {self.path} "
                    "contains remove actions (compaction/merge rewrote "
                    "history).  Tail the pre-compaction stream, set "
                    "ignoreDeletes=true to accept possible re-reads, or "
                    "set readChangeFeed=true to stream the row-level "
                    "changes themselves."
                )
            yield from self._load_rows(
                [a["path"] for a in act.get("add", [])], int(act["version"])
            )

    def _change_rows(self, since: int, upto: int) -> Iterator[tuple]:
        """Per-version row-level changes, the `tx_changes` reconstruction
        in driver-side Python: multiset difference between a commit's
        removed and added files.  Bounded by the commit's own files, the
        same materialization bound as the tail path."""
        from collections import Counter

        log = TransactionLog(self.path)
        self._dv_guard(log, since, upto)
        for act in log.actions(upto=upto, since=since):
            v = int(act["version"])
            op = str(act.get("op", ""))
            adds = [a["path"] for a in act.get("add", [])]
            rems = list(act.get("remove", []))
            if not rems:
                for r in self._load_rows(adds, v):
                    yield r + ("insert", v, op)
                continue
            added = self._load_rows(adds, v)
            removed = self._load_rows(rems, v)
            cr = Counter(_freeze(r) for r in removed)
            for r in added:
                k = _freeze(r)
                if cr[k] > 0:
                    cr[k] -= 1
                else:
                    yield r + ("insert", v, op)
            ca = Counter(_freeze(r) for r in added)
            for r in removed:
                k = _freeze(r)
                if ca[k] > 0:
                    ca[k] -= 1
                else:
                    yield r + ("delete", v, op)

    def _window_rows(self, since: int, upto: int) -> Iterator[tuple]:
        if self.change_feed:
            return self._change_rows(since, upto)
        return self._added_rows(since, upto)

    def read(self, start: dict):
        # the prefetched batch is both next()-ed by the runner's cache AND
        # pickled to executors — return a list_iterator (picklable, a real
        # iterator), never a bare list or a generator.  Materialization is
        # bounded: a micro-batch spans at most max_versions commits, so
        # catch-up over a long history arrives as a sequence of bounded
        # batches instead of one driver-resident mega-batch.
        latest = TransactionLog(self.path).version()
        s = int(start["version"])
        if latest <= s:
            return iter(()), {"version": s}
        end = min(latest, s + self.max_versions)
        return iter(list(self._window_rows(s, end))), {"version": end}

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator[tuple]:
        return iter(
            list(
                self._window_rows(int(start["version"]), int(end["version"]))
            )
        )

    def commit(self, end: dict) -> None:
        pass  # the commit log itself is the ledger; nothing to ack


class TxLogDataSource(DataSource):
    """``format("txlog")`` — batch + streaming reads of commit-log tables.

    Options: ``path`` (required), ``version`` (batch time travel),
    ``startingVersion`` (stream start, default -1 = from the beginning),
    ``maxVersionsPerBatch`` (micro-batch span bound, default 64),
    ``ignoreDeletes`` (stream past compaction rewrites),
    ``readChangeFeed`` (stream row-level changes with ``_change_type`` /
    ``_commit_version`` / ``_commit_op`` — the streaming twin of
    ``txlog.tx_changes``; batch callers use ``tx_changes`` directly)."""

    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def schema(self) -> StructType:
        from pyspark.sql import types as T

        v = self.options.get("version")
        schema = _table_schema(
            self.options["path"], int(v) if v is not None else None
        )
        if _opt_true(self.options, "readchangefeed", "readChangeFeed"):
            for c in CDF_META_COLS:
                if c in schema.fieldNames():
                    raise ValueError(
                        f"table column {c!r} collides with a change-feed "
                        "metadata column"
                    )
            schema = T.StructType(
                list(schema.fields)
                + [
                    T.StructField("_change_type", T.StringType(), True),
                    T.StructField("_commit_version", T.IntegerType(), True),
                    T.StructField("_commit_op", T.StringType(), True),
                ]
            )
        return schema

    def reader(self, schema: StructType) -> DataSourceReader:
        from pyspark.sql import SparkSession

        if _opt_true(self.options, "readchangefeed", "readChangeFeed"):
            raise ValueError(
                "readChangeFeed is a STREAMING option; batch change "
                "feeds come from txlog.tx_changes(spark, path, since, "
                "upto)"
            )
        s = SparkSession.getActiveSession()
        try:
            enabled = (
                s is not None
                and str(
                    s.conf.get(
                        "spark.sql.python.filterPushdown.enabled", "false"
                    )
                ).lower()
                == "true"
            )
        except Exception:
            enabled = False
        cls = TxLogPruningBatchReader if enabled else TxLogBatchReader
        return cls(self.options)

    def simpleStreamReader(
        self, schema: StructType
    ) -> SimpleDataSourceStreamReader:
        return TxLogStreamReader(self.options)
