"""Result checking: reference answers and the order-insensitive comparison.

Reference answers come from the engine's DuckDB ``ORACLE`` SQL run over the
canonical tables (see :mod:`gen`). Keys without oracle SQL are compared by
row count with a canonical Spark run. References are computed once per
checkout and cached as JSON under ``.cache/``, keyed by the canonical data's
fingerprint and the oracle SQL text, because the slowest oracles take minutes.

A result is reduced to ``(sorted column names, row count, sha256)`` by the
normalization rules of the engine's test harness: columns sorted by name,
floats rounded to 4 decimals with -0.0 as 0.0, NaN as NULL, timestamps as
epoch microseconds, rows sorted. Row order never matters, so a row-permuted
input must give the canonical digest.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import json
import math
import os

_EPOCH = dt.datetime(1970, 1, 1)
_US = dt.timedelta(microseconds=1)


def _norm(v) -> str:
    if v is None:
        return "None"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, (float, decimal.Decimal)):
        f = float(v)
        if math.isnan(f):
            return "None"
        f = round(f, 4)
        return repr(0.0 if f == 0.0 else f)
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return str((v - _EPOCH) // _US)
    return str(v)


def digest(columns: list[str], rows) -> dict:
    """``{"columns", "rows", "sha256"}`` of a result, independent of row order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("\x1f".join(_norm(r[i]) for i in order) for r in rows)
    h = hashlib.sha256("\x1e".join(lines).encode()).hexdigest()
    return {"columns": [columns[i] for i in order], "rows": len(lines), "sha256": h}


def compare(key: str, got: dict, ref: dict) -> str | None:
    """``None`` if ``got`` matches ``ref``, else the reason it does not."""
    if ref.get("rows_only"):
        if got["rows"] != ref["rows"]:
            return f"{key}: {got['rows']} rows, canonical run had {ref['rows']}"
        return None
    if got["columns"] != ref["columns"]:
        return f"{key}: columns {got['columns']} != oracle {ref['columns']}"
    if got["rows"] != ref["rows"]:
        return f"{key}: {got['rows']} rows != oracle {ref['rows']}"
    if got["sha256"] != ref["sha256"]:
        return f"{key}: values differ from the oracle ({ref['rows']} rows)"
    return None


def _duckdb_ref(sql: str, data_dir: str, tables) -> dict:
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("SET TimeZone='UTC'")
        for t in tables:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
            )
        cur = con.execute(sql)
        cols = [d[0] for d in cur.description]
        return digest(cols, cur.fetchall())
    finally:
        con.close()


def references(
    keys, oracle: dict, data_dir: str, tables, fp: str, cache_dir: str, spark_rows
) -> dict[str, dict]:
    """Reference digest per key, from the cache or computed and then cached.

    ``spark_rows(key)`` gives the canonical Spark row count of a key that has
    no oracle SQL.
    """
    os.makedirs(cache_dir, exist_ok=True)
    path = os.path.join(cache_dir, f"refs-{fp}.json")
    cache: dict[str, dict] = {}
    if os.path.exists(path):
        with open(path) as f:
            cache = json.load(f)
    out, dirty = {}, False
    for key in keys:
        sql = oracle.get(key)
        tag = hashlib.sha256((sql or "<rows-only>").encode()).hexdigest()[:16]
        hit = cache.get(key)
        if hit is None or hit.get("sql") != tag:
            ref = (
                _duckdb_ref(sql, data_dir, tables)
                if sql is not None
                else {"rows_only": True, "rows": spark_rows(key)}
            )
            hit = cache[key] = {**ref, "sql": tag}
            dirty = True
        out[key] = hit
    if dirty:
        tmp = f"{path}.{os.getpid()}.tmp"
        with open(tmp, "w") as f:
            json.dump(cache, f, indent=1, sort_keys=True)
        os.replace(tmp, path)
    return out
