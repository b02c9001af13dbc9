"""Oracle check of the board workload's results.

`check(out_dir, data_dir)` reads each `<out_dir>/<key>/` parquet result
and `<out_dir>/oracle_sql.json`, runs each key's oracle SQL in DuckDB over
the same parquet tables, and compares column names (sorted), row counts
and every value in row order. It returns the keys that differ, with why.
"""
import glob
import json
import math
import os


def _same(a, b):
    if hasattr(a, "tolist"):
        a = a.tolist()
    if hasattr(b, "tolist"):
        b = b.tolist()

    def null(x):
        return x is None or (isinstance(x, float) and math.isnan(x))
    if null(a) or null(b):
        return null(a) and null(b)
    if isinstance(a, float) or isinstance(b, float):
        return a == b
    return str(a) == str(b)


def check(out_dir, data_dir):
    import duckdb
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for p in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        con.execute(f"CREATE VIEW {os.path.basename(p)[:-8]} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    bad = {}
    for key, sql in oracle.items():
        files = sorted(glob.glob(os.path.join(out_dir, key, "*.parquet")))
        if not files:
            bad[key] = "no result"
            continue
        try:
            got = con.execute(f"SELECT * FROM read_parquet({files!r})").fetchdf()
            want = con.execute(sql).fetchdf()
        except Exception as e:
            bad[key] = f"error: {str(e).splitlines()[0]}"
            continue
        cols = sorted(got.columns)
        if cols != sorted(want.columns):
            bad[key] = f"columns {cols} vs {sorted(want.columns)}"
        elif len(got) != len(want):
            bad[key] = f"{len(got)} rows vs {len(want)}"
        else:
            for c in cols:
                diff = next((i for i, (a, b) in enumerate(zip(got[c], want[c])) if not _same(a, b)), None)
                if diff is not None:
                    bad[key] = f"row {diff} column {c}: {got[c].iloc[diff]!r} vs {want[c].iloc[diff]!r}"
                    break
    return len(oracle), bad
