"""Battery output checks against DuckDB.

The comparison rule is the repository's oracle rule (scripts/check_oracle.py):
columns sorted by name, timestamps as ns integers, rows sorted on every
column, then exact equality with dtype differences ignored.

Expected results are DuckDB's answers to `SparkEntry.oracleSql` over the
bundled testdata. They are stored under `expected/`, keyed by a digest of
the SQL text and of every input file; an entry whose key no longer
matches is recomputed into the local cache `.cache/expected/`, never
trusted.
"""
import glob
import hashlib
import json
import os

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, "data", "sf0.001")
EXPECTED = os.path.join(HERE, "expected")
CACHE = os.path.join(HERE, ".cache", "expected")


def data_digest(data_dir=DATA):
    h = hashlib.sha256()
    for p in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        h.update(os.path.basename(p).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def key(sql, digest):
    return hashlib.sha256((sql + "\0" + digest).encode()).hexdigest()[:32]


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime"):
            df[c] = df[c].astype("int64")
    return df.sort_values(by=list(df.columns), ignore_index=True)


def duckdb_answer(sql, data_dir=DATA):
    import duckdb
    con = duckdb.connect()
    for p in glob.glob(os.path.join(data_dir, "*.parquet")):
        name = os.path.basename(p)[:-8]
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")
    return con.sql(sql).df()


def load_index():
    p = os.path.join(EXPECTED, "index.json")
    return json.load(open(p)) if os.path.exists(p) else {}


def expected(name, sql, digest, index):
    """DuckDB's answer for `name`: the stored one when its key matches,
    else recomputed (and cached locally)."""
    import pandas as pd
    k = key(sql, digest)
    if index.get(name) == k:
        return pd.read_parquet(os.path.join(EXPECTED, f"{name}.parquet"))
    cached = os.path.join(CACHE, f"{name}-{k}.parquet")
    if os.path.exists(cached):
        return pd.read_parquet(cached)
    df = duckdb_answer(sql)
    os.makedirs(CACHE, exist_ok=True)
    df.to_parquet(cached)
    return df


def compare(got, want):
    """None when equal under the oracle rule, else the reason."""
    import pandas as pd
    got, want = canon(got), canon(want)
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} vs {list(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} vs {len(want)}"
    try:
        pd.testing.assert_frame_equal(got, want, check_dtype=False,
                                      check_exact=False, rtol=0, atol=0)
    except AssertionError as e:
        return str(e).splitlines()[-1][:300]
    return None


def check_outputs(out_dir):
    """Compare every battery output in `out_dir` (written by the warm-up
    pass, with its oracle_sql.json). Returns {name: None | reason}."""
    import pandas as pd
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    digest, index = data_digest(), load_index()
    verdicts = {}
    for name, sql in oracle.items():
        path = os.path.join(out_dir, name)
        if not os.path.isdir(path):
            verdicts[name] = "no output"
            continue
        try:
            verdicts[name] = compare(pd.read_parquet(path), expected(name, sql, digest, index))
        except Exception as e:  # a broken output is a mismatch, not a crash
            verdicts[name] = f"{type(e).__name__}: {e}"[:300]
    return verdicts
