"""DuckDB oracle comparison for the benchmark's query results.

Each result the engine wrote as parquet is compared with the oracle SQL
run by DuckDB over the same input parquet files, in the canonical form of
the repository's tools/oracle_check.py, whose table list and `norm` it
reuses: columns sorted by name, rows sorted, the same dtype kind on both
sides, values compared exactly (missing values equal to each other).
"""
import json
import math
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "tools"))
from oracle_check import TABLES, norm  # noqa: E402


def _kind(dtype):
    """oracle_check.py's dtype kind: widths differ freely, kinds do not."""
    s = str(dtype)
    if s.startswith(("int", "uint", "Int", "UInt")):
        return "int"
    if s.startswith("float"):
        return "float"
    if s.startswith("bool"):
        return "bool"
    if s.startswith(("datetime", "timestamp")):
        return "ts"
    return s


def _missing(x):
    return x is None or (isinstance(x, float) and math.isnan(x))


def _diff(sdf, ddf):
    if list(sdf.columns) != list(ddf.columns):
        return f"columns {list(sdf.columns)} vs {list(ddf.columns)}"
    kinds = [(c, str(sdf[c].dtype), str(ddf[c].dtype)) for c in sdf.columns
             if _kind(sdf[c].dtype) != _kind(ddf[c].dtype)]
    if kinds:
        return f"dtypes {kinds}"
    if len(sdf) != len(ddf):
        return f"rows {len(sdf)} vs {len(ddf)}"
    for c in sdf.columns:
        for i, (x, y) in enumerate(zip(sdf[c].tolist(), ddf[c].tolist())):
            if _missing(x) and _missing(y):
                continue
            if _missing(x) != _missing(y) or x != y:
                return f"col={c} row={i} engine={x!r} duckdb={y!r}"
    return None


def compare(data_dir, results_dir, oracle_json):
    """Returns (number compared, list of failure messages)."""
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet')")
    with open(oracle_json) as f:
        oracle = json.load(f)
    fails = []
    for name in sorted(oracle):
        res = os.path.join(results_dir, name)
        try:
            sdf = norm(con.execute(
                f"SELECT * FROM read_parquet('{res}/*.parquet')").fetchdf())
            ddf = norm(con.execute(oracle[name]).fetchdf())
            d = _diff(sdf, ddf)
        except Exception as e:  # a result that cannot be read is wrong
            d = f"{type(e).__name__}: {e}"
        if d:
            fails.append(f"{name}: {d}")
    return len(oracle), fails
