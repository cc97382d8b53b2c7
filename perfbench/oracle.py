"""DuckDB oracles for the benchmark's correctness checks."""
import glob
import json
from concurrent.futures import ThreadPoolExecutor

import duckdb
import numpy as np
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def connect(data_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


def _rounding_ties(a, b):
    """True where two unequal floats are both rounded to the same number
    of decimals d <= 4 and differ by one unit of that place: a value on a
    half-unit boundary whose float sum order decided the rounding (seen on
    q_tpch_q10, where the exact revenue ends in .xx5)."""
    a, b = a.astype(float).to_numpy(), b.astype(float).to_numpy()
    ok = np.zeros(len(a), dtype=bool)
    for d in range(1, 5):
        q = 10.0 ** -d
        ok |= ((np.round(a, d) == a) & (np.round(b, d) == b)
               & (np.abs(a - b) <= q * (1 + 1e-9)))
    return ok


def frames_equal(a, b):
    """Order-free comparison of two result frames: columns by name, rows
    sorted; floats equal within 1e-9 relative (or a rounding tie, see
    _rounding_ties), everything else exactly. Returns None when equal,
    else a one-line reason."""
    if sorted(a.columns) != sorted(b.columns):
        return f"columns {sorted(a.columns)} vs {sorted(b.columns)}"
    if len(a) != len(b):
        return f"rows {len(a)} vs {len(b)}"
    cols = sorted(a.columns)
    a = a[cols].sort_values(by=cols).reset_index(drop=True)
    b = b[cols].sort_values(by=cols).reset_index(drop=True)
    for c in cols:
        av, bv = a[c], b[c]
        if av.dtype.kind == "f" or bv.dtype.kind == "f":
            close = np.isclose(av.astype(float), bv.astype(float), rtol=1e-9,
                               atol=1e-9, equal_nan=True)
            if not (close | _rounding_ties(av, bv)).all():
                return f"column {c} differs"
        elif not av.astype(str).equals(bv.astype(str)):
            return f"column {c} differs"
    return None


def check_batch(data_dir, out_dir, names):
    """Every query output in `out_dir/<name>` against its DuckDB oracle;
    queries without one (the approximate operators) must be non-empty.
    Returns {name: reason} for each mismatch."""
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    con = connect(data_dir)

    def run(sql):
        try:
            return con.cursor().sql(sql).df(), None
        except Exception as e:  # an oracle that cannot run is a failure too
            return None, f"oracle error {type(e).__name__}: {e}"[:300]

    # the oracle queries run four at a time (DuckDB releases the GIL)
    with ThreadPoolExecutor(4) as pool:
        wanted = dict(zip(
            [n for n in names if n in oracle],
            pool.map(run, [oracle[n] for n in names if n in oracle])))
    bad = {}
    for name in names:
        files = glob.glob(f"{out_dir}/{name}/*.parquet")
        if not files:
            bad[name] = "no output"
            continue
        got = pd.concat([pd.read_parquet(f) for f in files])
        if name not in oracle:
            if len(got) == 0:
                bad[name] = "approximate query returned no rows"
            continue
        want, err = wanted[name]
        why = err or frames_equal(got, want)
        if why:
            bad[name] = why
    return bad
