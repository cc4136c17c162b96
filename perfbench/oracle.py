"""DuckDB oracle check of the lifecycle queries' results.

The benchmark JVM writes each query's result as parquet under ``<dir>/<query>/`` and
the query's oracle SQL (``SparkEntry.oracleSql``), with the directory of the
input tables, to ``<dir>/oracle.json``.
Each oracle runs in DuckDB over the same generated input tables; the two
results must hold the same columns and the same multiset of rows, doubles
compared with a relative tolerance of 1e-9.
"""
import datetime
import decimal
import json
import math
from pathlib import Path

import duckdb

TABLES = ("customer", "orders")


def _norm(v):
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, dict):
        return tuple((k, _norm(x)) for k, x in v.items())
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, datetime.datetime) and v.tzinfo is not None:
        return v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
    return v


def _sort_key(row):
    return tuple((x is None, round(x, 3) if isinstance(x, float) else repr(x)) for x in row)


def _same(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-6)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    return a == b


def compare_rows(got, want):
    """None if the row multisets match, else a one-line reason."""
    if len(got) != len(want):
        return f"{len(got)} rows vs {len(want)} in the oracle"
    g = sorted((tuple(_norm(x) for x in r) for r in got), key=_sort_key)
    w = sorted((tuple(_norm(x) for x in r) for r in want), key=_sort_key)
    for i, (a, b) in enumerate(zip(g, w)):
        if not _same(a, b):
            return f"row {i}: {a!r} vs oracle {b!r}"
    return None


def check(result_dir: Path):
    """Return a list of (query, reason-or-None), one per query."""
    spec = json.loads((result_dir / "oracle.json").read_text())
    tpch_dir, oracle = spec["input"], spec["queries"]
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tpch_dir}/{t}.parquet/*.parquet')")
    out = []
    for name, sql in sorted(oracle.items()):
        qdir = result_dir / name
        if not qdir.is_dir():
            out.append((name, "no result written"))
            continue
        got = con.execute(f"SELECT * FROM read_parquet('{qdir}/*.parquet')")
        got_cols = [d[0] for d in got.description]
        got_rows = got.fetchall()
        want = con.execute(sql)
        want_cols = [d[0] for d in want.description]
        want_rows = want.fetchall()
        if got_cols != want_cols:
            out.append((name, f"columns {got_cols} vs oracle {want_cols}"))
        else:
            out.append((name, compare_rows(got_rows, want_rows)))
    con.close()
    return out
