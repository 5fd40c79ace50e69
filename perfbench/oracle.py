"""Output check: each gate's result against its DuckDB oracle.

The comparison follows `tools/check.py`: column names sorted, row counts
equal, int-versus-float kinds equal, rows sorted on every column, floats
compared by repr (so -0.0 and 0.0 differ), timestamps compared as text.
Oracle results are cached per (corpus, seed, oracle SQL) as parquet,
because some oracles are quadratic.
"""
import hashlib
import os

import duckdb
import pandas as pd


def _norm(df):
    df = df.reindex(sorted(df.columns), axis=1).copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].apply(
                lambda v: tuple(v) if isinstance(v, (list, tuple)) or
                type(v).__name__ == "ndarray" else v)
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].astype(str)
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    for c in df.columns:
        if df[c].dtype.kind == "f":
            df[c] = df[c].map(lambda v: None if pd.isna(v) else repr(v))
        elif df[c].dtype.kind in "iu":
            df[c] = df[c].astype("int64")
    return df


def compare(got, want):
    """None when equal, else the first reason they differ."""
    if sorted(got.columns) != sorted(want.columns):
        return f"schema {sorted(got.columns)} vs {sorted(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} vs {len(want)}"
    for c in got.columns:
        kinds = {got[c].dtype.kind, want[c].dtype.kind}
        if len(kinds) > 1 and kinds - {"i", "u"} and \
                kinds <= {"i", "u", "f", "b"}:
            return f"dtype kind of {c}: {got[c].dtype} vs {want[c].dtype}"
    g, w = _norm(got), _norm(want)
    if g.equals(w):
        return None
    bad = (~(g == w) & ~(g.isna() & w.isna())).any(axis=1)
    i = bad.idxmax()
    return (f"{int(bad.sum())} rows differ; first: spark="
            f"{g.loc[i].to_dict()} oracle={w.loc[i].to_dict()}")


def check(data_dir, check_dir, oracle_sql, cache_dir, gates):
    """{gate: (ok, rows, reason)} for every gate in `gates`."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for f in sorted(os.listdir(data_dir)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(data_dir, f)}')")
    os.makedirs(cache_dir, exist_ok=True)
    out = {}
    for g in gates:
        sql = oracle_sql.get(g)
        spark_dir = os.path.join(check_dir, g)
        if sql is None:
            out[g] = (False, 0, "no oracle")
            continue
        if not os.path.isdir(spark_dir):
            out[g] = (False, 0, "no spark output")
            continue
        key = hashlib.sha256(sql.encode()).hexdigest()[:16]
        cached = os.path.join(cache_dir, f"{g}-{key}.parquet")
        try:
            if not os.path.exists(cached):
                con.execute("CREATE OR REPLACE TEMP TABLE __want AS " + sql)
                con.execute(f"COPY __want TO '{cached}.tmp' (FORMAT PARQUET)")
                os.rename(cached + ".tmp", cached)
            want = con.execute(
                f"SELECT * FROM read_parquet('{cached}')").df()
            got = con.execute(
                f"SELECT * FROM read_parquet('{spark_dir}/*.parquet')").df()
        except Exception as e:  # an oracle or read error fails the gate
            out[g] = (False, 0, f"error: {str(e).splitlines()[0][:200]}")
            continue
        why = compare(got, want)
        out[g] = (why is None, len(got), why)
    con.close()
    return out
