"""Pack output check: each query's first result against the DuckDB
oracle (`SparkEntry.oracleSql`) over the same star tables, in the
canonical form of the repo's `tools/compare.py` (columns sorted by name,
rows sorted by every column)."""
import importlib.util
import json
import os

import duckdb
import pandas as pd

from .gen import STAR_TABLES


def _canon(root):
    spec = importlib.util.spec_from_file_location(
        "graft_compare", os.path.join(root, "tools", "compare.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.canon


def _same(got, exp):
    """tools/compare.py's equality rules: column names, row count, then
    per column (timestamps at µs, floats exactly with NaN = NaN, other
    values as objects). Returns None when equal, else the reason."""
    if list(got.columns) != list(exp.columns):
        return f"columns spark={list(got.columns)} duck={list(exp.columns)}"
    if len(got) != len(exp):
        return f"rows spark={len(got)} duck={len(exp)}"
    bad = []
    for c in got.columns:
        a, b = got[c], exp[c]
        if a.dtype.kind == "M" or b.dtype.kind == "M":
            eq = pd.to_datetime(a).astype("datetime64[us]").equals(
                pd.to_datetime(b).astype("datetime64[us]"))
        elif a.dtype.kind == "f" or b.dtype.kind == "f":
            af, bf = a.astype(float), b.astype(float)
            eq = ((af == bf) | (af.isna() & bf.isna())).all()
        else:
            eq = a.astype(object).equals(b.astype(object))
        if not eq:
            bad.append(c)
    return f"values differ in {bad}" if bad else None


def check(root, star_dir, results_dir, queries):
    """One check per query: {'name', 'scope', 'ok', 'detail'}. A query
    without a result (every execution failed) is left to its ops'
    errors."""
    canon = _canon(root)
    with open(os.path.join(results_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in STAR_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(star_dir, t + '.parquet')}')")
    out = []
    for q in queries:
        qdir = os.path.join(results_dir, q)
        if not os.path.isdir(qdir):
            continue
        got = pd.read_parquet(qdir)
        if q in oracle:
            try:
                why = _same(canon(got), canon(con.execute(oracle[q]).df()))
            except Exception as e:  # the oracle SQL itself failed
                why = f"oracle error: {e}"
        else:
            why = None if len(got) > 0 else "rows-only check: 0 rows"
        out.append({"name": f"oracle:{q}", "scope": q, "ok": why is None,
                    "detail": why or f"{len(got)} rows"})
    con.close()
    return out
