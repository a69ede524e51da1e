"""Hash-match of batch_mix answers against the program's DuckDB oracle SQL.

The JVM writes each query's answer to answers/<query>/ (parquet) and the
oracle SQL of every registered query to answers/oracle_sql.json. Each answer
must equal DuckDB's result of the oracle over the same tables, column by
column after sorting column names, row order included, doubles exactly.
"""
import glob
import json
import os
import sys

import duckdb
import numpy as np
import pandas as pd

TABLES = ("events", "documents", "embeddings")


def same(got, exp):
    """None when the frames match exactly, else the first difference."""
    got = got.reindex(sorted(got.columns), axis=1).reset_index(drop=True)
    exp = exp.reindex(sorted(exp.columns), axis=1).reset_index(drop=True)
    if list(got.columns) != list(exp.columns):
        return f"columns {list(got.columns)} != {list(exp.columns)}"
    if len(got) != len(exp):
        return f"{len(got)} rows != {len(exp)}"
    for c in got.columns:
        g, e = got[c], exp[c]
        if g.dtype != e.dtype:
            return f"{c}: dtype {g.dtype} != {e.dtype}"
        both_na = g.isna().values & e.isna().values
        eq = (g.values == e.values) if np.issubdtype(g.dtype, np.floating) \
            else (g.astype(object).values == e.astype(object).values)
        eq = np.asarray(eq, dtype=bool) | both_na
        if not eq.all():
            i = int(np.argmax(~eq))
            return f"{c}: {int((~eq).sum())} values differ, first at row {i}: {g.iloc[i]!r} != {e.iloc[i]!r}"
    return None


def check(data_dir, answers_dir):
    """Names of the queries whose answer is missing or differs."""
    with open(os.path.join(answers_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("SET enable_progress_bar = false")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    bad = []
    for name in sorted(oracle):
        files = sorted(glob.glob(os.path.join(answers_dir, name, "*.parquet")))
        if not files:
            bad.append(name)
            print(f"oracle: {name}: no answer", file=sys.stderr)
            continue
        got = pd.concat([pd.read_parquet(f) for f in files])
        try:
            diff = same(got, con.execute(oracle[name]).df())
        except Exception as e:  # a broken oracle is a failed check, not a crash
            diff = f"oracle failed: {e}"
        if diff:
            bad.append(name)
            print(f"oracle: {name}: {diff}", file=sys.stderr)
    return bad
