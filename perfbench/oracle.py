"""Checks the engine's outputs against DuckDB.

Each check names a result the harness wrote (a CSV report directory or a
parquet dump of collected rows) and the oracle SQL the engine's own
builders produced for it. Both sides are compared as unordered rows over
name-sorted columns.
"""
import csv
import decimal
import glob
import math
import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq


def _canon_col(col):
    t = col.type
    if pa.types.is_timestamp(t):
        col = col.cast(pa.timestamp("us"))
    return col.to_pylist()


def _rows(names, cols):
    order = sorted(range(len(names)), key=lambda i: names[i])
    rows = [tuple(cols[i][r] for i in order) for r in range(len(cols[0]) if cols else 0)]
    rows.sort(key=lambda r: tuple((x is None, str(x)) for x in r))
    return [names[i] for i in order], rows


def _same(a, b):
    if isinstance(a, float) and isinstance(b, float):
        return a == b or (math.isnan(a) and math.isnan(b)) or math.isclose(a, b, rel_tol=1e-12)
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    if isinstance(a, dict) and isinstance(b, dict):
        return a.keys() == b.keys() and all(_same(a[k], b[k]) for k in a)
    return a == b


def _csv_text(v):
    """A DuckDB value as Spark's CSV writer prints it."""
    if v is None:
        return ""
    if isinstance(v, decimal.Decimal):
        return str(v)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return str(v)


def _engine_csv(path):
    files = sorted(glob.glob(os.path.join(path, "part-*.csv")))
    if not files:
        raise ValueError(f"no CSV part files under {path}")
    header, rows = None, []
    for f in files:
        with open(f, newline="", encoding="utf-8") as fh:
            r = list(csv.reader(fh))
        if not r:
            continue
        header = header or r[0]
        rows += r[1:]
    return header, rows


def check(con, c):
    """Return None when the engine output matches the oracle, else a reason."""
    oracle = con.execute(c["sql"]).arrow()
    if c["kind"] == "csv":
        header, rows = _engine_csv(c["path"])
        o_names = oracle.column_names
        o_cols = [[_csv_text(v) for v in oracle.column(n).to_pylist()] for n in o_names]
        e_names, e_rows = _rows(header, [list(x) for x in zip(*rows)] if rows else [[] for _ in header])
    else:
        engine = pq.read_table(c["path"])
        e_names, e_rows = _rows(engine.column_names, [_canon_col(engine.column(n)) for n in engine.column_names])
        o_names = oracle.column_names
        o_cols = [_canon_col(oracle.column(n)) for n in o_names]
    o_names, o_rows = _rows(o_names, o_cols)
    if e_names != o_names:
        return f"columns differ: engine {e_names} vs oracle {o_names}"
    if len(e_rows) != len(o_rows):
        return f"row count differs: engine {len(e_rows)} vs oracle {len(o_rows)}"
    for er, orow in zip(e_rows, o_rows):
        if not all(_same(x, y) for x, y in zip(er, orow)):
            return f"first differing row: engine {er!r} vs oracle {orow!r}"[:500]
    return None


def run_checks(setup_sql, checks):
    """Map check name -> None (match) or the reason it failed."""
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        for s in setup_sql:
            con.execute(s)
        out = {}
        for c in checks:
            try:
                out[c["name"]] = check(con, c)
            except Exception as e:  # an oracle that cannot run is a failed check
                out[c["name"]] = f"check raised: {e}"[:500]
        return out
    finally:
        con.close()
