"""DuckDB oracle compare for the batch workload: each query's Spark output
against its SparkEntry.oracleSql, with the rule of scripts/local_check.py
(columns sorted by name, values as strings, rows sorted, exact equality).

A DuckDB result depends only on the oracle SQL and the fixture files, so
it is kept under .bench_build/perfbench/oracle keyed by both; the
dedup-family oracles take ~10 s each to evaluate.
"""
import glob
import hashlib
import json
import os
from pathlib import Path

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _data_key(scale_dir):
    h = hashlib.sha256()
    for t in TABLES:
        h.update(Path(scale_dir, f"{t}.parquet").read_bytes())
    return h.hexdigest()


def _expected(con, sql, cache, data_key):
    path = cache / (hashlib.sha256((data_key + sql).encode()).hexdigest() + ".pkl")
    if path.exists():
        return pd.read_pickle(path)
    df = con.sql(sql).df()
    tmp = path.with_suffix(".tmp")
    df.to_pickle(tmp)
    os.replace(tmp, path)
    return df


def _same(got, exp):
    g = got[sorted(got.columns)]
    e = exp[sorted(exp.columns)]
    if list(g.columns) != list(e.columns):
        return f"columns {list(g.columns)} vs {list(e.columns)}"
    gs = g.astype(str).sort_values(by=list(g.columns)).reset_index(drop=True)
    es = e.astype(str).sort_values(by=list(e.columns)).reset_index(drop=True)
    if len(gs) != len(es):
        return f"rows {len(gs)} vs {len(es)}"
    if not gs.equals(es):
        return f"{int((gs != es).any(axis=1).sum())}/{len(gs)} rows differ"
    return None


def compare(scale_dir, out_dir, cache):
    """{query: None if equal, else the difference} for every query in
    out_dir/oracle_sql.json."""
    cache.mkdir(parents=True, exist_ok=True)
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{cache / 'duckdb-tmp'}'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{scale_dir}/{t}.parquet'")
    data_key = _data_key(scale_dir)
    oracle = json.loads(Path(out_dir, "oracle_sql.json").read_text())
    verdicts = {}
    for name, sql in sorted(oracle.items()):
        files = glob.glob(os.path.join(out_dir, name, "*.parquet"))
        if not files:
            verdicts[name] = "no spark output"
            continue
        try:
            got = con.sql(f"SELECT * FROM read_parquet({files!r})").df()
            verdicts[name] = _same(got, _expected(con, sql, cache, data_key))
        except Exception as e:  # an oracle that fails to run is a failed check
            verdicts[name] = f"error: {e}"
    return verdicts
