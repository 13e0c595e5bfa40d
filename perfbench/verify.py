"""Correctness checks for the benchmark's outputs, run after the timed
loop. Each returns {operation name: why it is wrong}; an empty dict
means every output matched."""
import csv
import glob
import hashlib
import json
import os
import shutil

import duckdb
import numpy as np
import pandas as pd

from gen import tsv_digest


def clear(out):
    shutil.rmtree(out, ignore_errors=True)


def check_wordcount(o, m):
    parts = [pd.read_csv(p, sep="\t", header=None, names=["word", "cnt"],
                         dtype={"word": object, "cnt": np.int64},
                         quoting=csv.QUOTE_NONE, na_filter=False)
             for p in glob.glob(f"{o['out']}/part-*")]
    df = pd.concat(parts, ignore_index=True)
    got = (int(df["cnt"].sum()), len(df), tsv_digest(df["word"], df["cnt"]))
    want = (m["tokens"], m["distinct_words"], m["tsv_digest"])
    return None if got == want else f"(tokens, distinct, digest) {got} != {want}"


def _norm(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def compare(got, want):
    """Compare a query answer with the oracle's, as graft's own oracle
    check does: columns by name, rows sorted, values exact."""
    a, b = _norm(got), _norm(want)
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} != {list(b.columns)}"
    if len(a) != len(b):
        return f"{len(a)} rows != {len(b)}"
    for c in a.columns:
        ai = np.issubdtype(a[c].dtype, np.integer)
        bi = np.issubdtype(b[c].dtype, np.integer)
        af = np.issubdtype(a[c].dtype, np.floating)
        bf = np.issubdtype(b[c].dtype, np.floating)
        if (ai and bf) or (af and bi):
            return f"column {c}: {a[c].dtype} != {b[c].dtype}"
        if af or bf:
            x, y = a[c].values.astype(float), b[c].values.astype(float)
            ok = (x == y) | (np.isnan(x) & np.isnan(y))
        else:
            ok = pd.Series(a[c].values).astype(str).eq(
                pd.Series(b[c].values).astype(str)).values
        if not ok.all():
            i = int(np.argmin(ok))
            return f"column {c} row {i}: {a[c].values[i]!r} != {b[c].values[i]!r}"
    return None


def oracle_answer(con, data, name, sql):
    """The oracle's answer to one query, cached with the inputs: they do
    not change with the seed, and some oracles take seconds in DuckDB."""
    key = hashlib.sha256(sql.encode()).hexdigest()[:16]
    path = f"{data}/oracle/{name}-{key}.pkl"
    if os.path.exists(path):
        return pd.read_pickle(path)
    df = con.execute(sql).df()
    os.makedirs(f"{data}/oracle", exist_ok=True)
    df.to_pickle(path + ".tmp")
    os.replace(path + ".tmp", path)
    return df


def check_query_mix(ops, data, out):
    """Each query's saved first answer against its oracle SQL run by
    DuckDB over the same tables; the harness has already checked that
    every timed answer equals the saved one."""
    with open(f"{out}/oracle.json") as fh:
        oracle = json.load(fh)
    con = duckdb.connect()
    for f in sorted(glob.glob(f"{data}/tables/*.parquet")):
        name = os.path.basename(f)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{f}')")
    wrong = {}
    for name in sorted({o["name"] for o in ops}):
        sql = oracle.get(name)
        files = glob.glob(f"{out}/{name}/*.parquet")
        if sql is None or not files:
            wrong[name] = "no oracle SQL" if sql is None else "no saved answer"
            continue
        try:
            got = pd.concat([pd.read_parquet(f) for f in files])
            why = compare(got, oracle_answer(con, data, name, sql))
        except Exception as e:  # a broken answer or oracle is a failure
            why = f"{type(e).__name__}: {e}"
        if why:
            wrong[name] = why
    return wrong


def check(workload, ops, manifest, data, out):
    if workload == "query_mix":
        return check_query_mix(ops, data, out)
    wrong = {}
    for o in ops:
        if o["ok"]:
            why = check_wordcount(o, manifest)
            if why:
                wrong[o["name"]] = why
        clear(o["out"])
    return wrong
