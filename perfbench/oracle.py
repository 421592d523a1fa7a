"""DuckDB oracle check of the batch query results.

The comparison rules are those of tools/selfcheck.py (sort columns by
name, canonicalise dtypes, sort rows, floats equal within 1e-12
relative), restated here because that script runs its sweep on import.
"""
import glob
import json
import os

import duckdb
import pandas as pd

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].astype("datetime64[us]")
        elif df[c].dtype == object:
            df[c] = df[c].map(lambda v: str(v) if v is not None else None)
        elif str(df[c].dtype).startswith(("int", "uint")):
            df[c] = df[c].astype("int64")
        elif str(df[c].dtype).startswith("float"):
            df[c] = df[c].astype("float64")
    return df.sort_values(by=list(df.columns), na_position="first").reset_index(drop=True)


def compare(a: pd.DataFrame, b: pd.DataFrame):
    if sorted(a.columns) != sorted(b.columns):
        return False, f"columns differ: spark={sorted(a.columns)} oracle={sorted(b.columns)}"
    if len(a) != len(b):
        return False, f"row counts differ: spark={len(a)} oracle={len(b)}"
    a, b = norm(a), norm(b)
    for c in a.columns:
        av, bv = a[c], b[c]
        if str(av.dtype).startswith("float"):
            ok = ((av.isna() & bv.isna()) | (av == bv) |
                  ((av - bv).abs() <= 1e-12 * (av.abs() + bv.abs() + 1))).all()
        else:
            ok = ((av.isna() & bv.isna()) | (av.astype(str) == bv.astype(str))).all()
        if not ok:
            return False, f"column {c} differs"
    return True, "ok"


def check(data_dir: str, out_dir: str):
    """Compare each query output under out_dir with its oracle SQL.
    Returns (number matched, [(query, reason), ...] for the rest)."""
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    ok, bad = 0, []
    for name in sorted(oracle):
        files = glob.glob(os.path.join(out_dir, name, "*.parquet"))
        if not files:
            bad.append((name, "no output"))
            continue
        spark_df = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
        try:
            match, msg = compare(spark_df, con.sql(oracle[name]).df())
        except Exception as e:  # an oracle that cannot run is a failed check
            match, msg = False, f"oracle error {e}"
        if match:
            ok += 1
        else:
            bad.append((name, msg))
    con.close()
    return ok, bad
