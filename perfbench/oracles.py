"""One oracle per workload. Each returns a list of mismatch messages for
the results the JVM wrote in pass 1; later passes were already checked
against pass 1 inside the JVM."""
import glob
import json
import math
import os

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq
from pandas.util import hash_pandas_object


# Sampling queries: the estimate's rank among the group's n non-null
# values may miss the upper-middle rank n//2 by at most C * n / sqrt(k).
# A uniform k-sample's median sits at a population quantile with standard
# deviation 0.5 / sqrt(k), so C = 3 is six standard deviations: a correct
# reservoir fails it with probability about 2e-9 per check.
RANK_C = 3.0


def _tsv(path: str) -> list:
    with open(path) as f:
        lines = f.read().splitlines()
    return [line.split("\t") for line in lines[1:]]


def _upper_median_str(sorted_vals: np.ndarray) -> str:
    return "%g" % sorted_vals[len(sorted_vals) // 2]


def _check_group(label: str, vals: np.ndarray, k: int, got: str) -> list:
    """vals: the group's sorted non-null values."""
    n = len(vals)
    if n == 0:
        return [] if got == "\\N" else [f"{label}: want NULL, got {got}"]
    if got == "\\N":
        return [f"{label}: got NULL for {n} values"]
    if n <= k:
        want = _upper_median_str(vals)
        return [] if got == want else [f"{label}: exact median {want}, got {got}"]
    est = float(got)
    lo = np.searchsorted(vals, est, "left")
    hi = np.searchsorted(vals, est, "right")
    target = n // 2
    err = 0 if lo <= target <= hi else min(abs(lo - target), abs(hi - target))
    bound = RANK_C * n / math.sqrt(k)
    return [] if err <= bound else [
        f"{label}: rank error {err} > {bound:.0f} (n={n}, k={k})"]


def median_agg(spec: dict, results: str) -> list:
    t = pq.read_table(spec["samples"])
    x = t["x"].to_numpy(zero_copy_only=False)
    g4, g100k = t["g4"].to_numpy(), t["g100k"].to_numpy()
    ok = ~np.isnan(x)
    out = []
    by_value = np.argsort(x[ok])
    everything = x[ok][by_value]
    for k in (100, 20000, 100000):
        rows = _tsv(f"{results}/global_k{k}.tsv")
        out += _check_group(f"global_k{k}", everything, k, rows[0][0])
    for name, keys, k in (("by4_k20000", g4, 20000), ("by100k_k100", g100k, 100)):
        # sorted by value, then stably by group key (a radix sort on ints)
        ks = keys[ok][by_value]
        by_key = np.argsort(ks, kind="stable")
        xs, ks = everything[by_key], ks[by_key]
        present = np.unique(keys)
        bounds = np.searchsorted(ks, np.append(present, present[-1] + 1))
        got = dict(_tsv(f"{results}/{name}.tsv"))
        if len(got) != len(present) or set(map(int, got)) != set(present.tolist()):
            out.append(f"{name}: group set differs")
            continue
        n = np.diff(bounds)
        exact = (n > 0) & (n <= k)
        # exact-regime groups in one vectorized pass, the rest one by one
        want = ["%g" % v for v in xs[(bounds[:-1] + n // 2)[exact]]]
        have = [got[str(g)] for g in present[exact].tolist()]
        out += [f"{name}[{g}]: exact median {w}, got {h}" for g, w, h
                in zip(present[exact].tolist(), want, have) if w != h]
        for i in np.flatnonzero(~exact):
            g = int(present[i])
            out += _check_group(f"{name}[{g}]", xs[bounds[i]:bounds[i + 1]], k,
                                got[str(g)])
    sl = np.sort(x[ok & (g100k < spec["exact_slice_keys"])])
    if len(sl) > spec["exact_k"]:
        out.append("exact_500k: slice exceeds k, the query is not exact")
    out += _check_group("exact_500k", sl, spec["exact_k"],
                        _tsv(f"{results}/exact_500k.tsv")[0][0])
    return out


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    """The repo's oracle compare rules: columns by name, ints to int64,
    floats to float64, timestamps to microseconds, rows sorted."""
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
        elif pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
    return df.sort_values(by=list(df.columns), ignore_index=True)


def _duckdb():
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    return con


def llm_pipeline(spec: dict, results: str) -> list:
    con = _duckdb()
    for t in ("documents", "customer"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{spec['dir']}/{t}.parquet')")
    with open(f"{results}/oracle_sql.json") as f:
        oracles = json.load(f)
    out = []
    for gate in spec["gates"]:
        files = glob.glob(f"{results}/{gate}/*.parquet")
        if not files:
            out.append(f"{gate}: no result")
            continue
        got = _canon(pd.concat([pd.read_parquet(f) for f in files]))
        want = _canon(con.execute(oracles[gate]).df())
        if list(got.columns) != list(want.columns):
            out.append(f"{gate}: columns {list(got.columns)} vs {list(want.columns)}")
        elif len(got) != len(want):
            out.append(f"{gate}: {len(got)} rows vs {len(want)}")
        elif (hash_pandas_object(got.astype(str), index=False).tolist()
              != hash_pandas_object(want.astype(str), index=False).tolist()):
            out.append(f"{gate}: values differ")
    return out


def _rows(con, sql: str) -> list:
    return sorted("\t".join("\\N" if v is None else str(v) for v in row)
                  for row in con.execute(sql).fetchall())


def lakehouse_rw(spec: dict, results: str) -> list:
    """Replays the same operation log on a DuckDB shadow table; every
    read and the final contents must match."""
    con = _duckdb()
    con.execute(f"CREATE TABLE li AS SELECT * FROM read_parquet('{spec['base']}')")
    out = []

    def compare(name: str, sql: str) -> None:
        path = f"{results}/{name}.tsv"
        if not os.path.exists(path):
            out.append(f"{name}: no result")
            return
        with open(path) as f:
            got = sorted(f.read().splitlines()[1:])
        if got != _rows(con, sql):
            out.append(f"{name}: differs from the shadow table")

    for r, ops in enumerate(spec["rounds"]):
        for i, op in enumerate(ops):
            if op.get("read"):
                compare(f"r{r}.{i}.{op['kind']}", op["duck"][0].replace("{T}", "li"))
            else:
                for sql in op["duck"]:
                    con.execute(sql.replace("{T}", "li"))
    compare("final", f"SELECT {spec['final_cols']} FROM li")
    return out


ORACLES = {"median_agg": median_agg, "llm_pipeline": llm_pipeline,
           "lakehouse_rw": lakehouse_rw}
