"""Expected outputs, computed by DuckDB straight from the generated
parquet (never by the engine under test), cached next to the inputs.

``query_mix`` checks each registry query's rows against its DuckDB twin
(``oracle_sql()``).  Rows are compared as sorted multisets; doubles
match at a relative tolerance of ``REL_TOL`` (absolute ``ABS_TOL`` near
zero), everything else exactly.
"""

from __future__ import annotations

import datetime as dt
import json
import math
from pathlib import Path

REL_TOL = 1e-9
ABS_TOL = 1e-6

_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
           "lineitem", "events", "documents", "embeddings"]


def _con(sf_dir: Path):
    import duckdb

    con = duckdb.connect()
    for t in _TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{sf_dir / (t + '.parquet')}'")
    return con


def _norm(v):
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return [_norm(x) for x in v]
    if hasattr(v, "__float__") and not isinstance(v, (int, float, bool)):
        return float(v)  # Decimal
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    return v


def canon(columns: list[str], rows) -> list[list]:
    """Columns in name order, values JSON-normalized, rows sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [[_norm(r[i]) for i in order] for r in rows]
    out.sort(key=_sort_key)
    return out


def _sort_key(row):
    # doubles sort by a rounded value so last-digit noise cannot reorder
    return [(type(x).__name__ if x is not None else "",
             f"{x:.6g}" if isinstance(x, float) else str(x)) for x in row]


def rows_match(expected: list[list], actual: list[list]) -> bool:
    if len(expected) != len(actual):
        return False
    for e, a in zip(expected, actual):
        if len(e) != len(a):
            return False
        for x, y in zip(e, a):
            if isinstance(x, float) and isinstance(y, (int, float)):
                if not math.isclose(x, y, rel_tol=REL_TOL, abs_tol=ABS_TOL):
                    return False
            elif isinstance(y, float) and isinstance(x, int):
                if not math.isclose(x, y, rel_tol=REL_TOL, abs_tol=ABS_TOL):
                    return False
            elif x != y:
                return False
    return True


def query_expectations(sf_dir: Path, oracles: dict[str, str],
                       names: list[str]) -> dict[str, dict]:
    """``{name: {"columns": [...], "rows": canon rows}}`` for every name
    with a DuckDB twin; cached in ``sf_dir``."""
    cache = sf_dir / "_oracle_queries.json"
    if cache.exists():
        got = json.loads(cache.read_text())
        if all(n in got for n in names if n in oracles):
            return got
    con = _con(sf_dir)
    out = {}
    for name in names:
        if name not in oracles:
            continue
        res = con.execute(oracles[name])
        cols = [d[0] for d in res.description]
        out[name] = {"columns": sorted(cols),
                     "rows": canon(cols, res.fetchall())}
    cache.write_text(json.dumps(out))
    return out

