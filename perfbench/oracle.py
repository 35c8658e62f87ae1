"""Output check for the batch workloads: each query's dumped result against
its DuckDB oracle SQL over the same input dir.

The comparison is tools/check.py's own (`norm`, `values_equal`), imported
from the checkout: columns sorted by name, row order as produced, exact
values, and queries without oracle SQL checked on rows only. On top of it,
a float column check.py rejects is accepted when every value is within one
unit in the last place of the oracle's, and reported, so a bit-inexact
result is surfaced rather than hidden. Anything larger fails.
"""
import glob
import importlib.util
import json
import os

import numpy as np
import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def reference():
    """tools/check.py of this checkout, as a module."""
    spec = importlib.util.spec_from_file_location(
        "graft_check", os.path.join(ROOT, "tools", "check.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def within_ulp(a, b):
    """(max abs difference, values that differ) if every value of float
    series `a` is within one ulp of `b` (NaN matching NaN), else None."""
    av = a.to_numpy(dtype=np.float64, na_value=np.nan)
    bv = b.to_numpy(dtype=np.float64, na_value=np.nan)
    same = (av == bv) | (np.isnan(av) & np.isnan(bv))
    ulp = np.spacing(np.maximum(np.abs(av), np.abs(bv)))
    if not (same | (np.abs(av - bv) <= ulp)).all():
        return None
    return float(np.nanmax(np.abs(av - bv)[~same])), int((~same).sum())


def compare(got, exp, ref=None):
    """(ok, message, notes) for two frames normalized by check.py's
    `norm`; notes name float columns accepted within one ulp that are not
    bit-identical."""
    ref = ref or reference()
    if list(got.columns) != list(exp.columns):
        return False, f"columns {list(got.columns)} vs {list(exp.columns)}", []
    notes = []
    got = got.copy()
    while True:
        ok, msg = ref.values_equal(got, exp)
        if ok:
            return True, "", notes
        c = msg.split(":", 1)[0][len("col "):] if msg.startswith("col ") else None
        if c is None or "float mismatch" not in msg:
            return False, msg, notes
        close = within_ulp(got[c], exp[c])
        if close is None:
            return False, msg, notes
        diff, n = close
        notes.append(f"col {c}: {n} values within 1 ulp, "
                     f"not bit-identical (max abs diff {diff:.3g})")
        got[c] = exp[c]  # accepted; go on with the next column


def check(data_dir, out_dir, names, tmp):
    """Returns (wrong: [(name, message)], report: [line]). DuckDB spills,
    if at all, under `tmp`."""
    import duckdb
    ref = reference()
    con = duckdb.connect()
    con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
    con.execute(f"SET temp_directory = '{tmp}'")
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    wrong, report = [], []
    for name in names:
        files = sorted(glob.glob(os.path.join(out_dir, name, "*.parquet")))
        if not files:
            wrong.append((name, "no output"))
            continue
        got = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
        if name not in oracle:
            report.append(f"ROWS-ONLY {name}: rows={len(got)}")
            continue
        try:
            exp = con.execute(oracle[name]).df()
        except Exception as e:  # the oracle itself must run
            wrong.append((name, f"oracle SQL error: {e}"))
            continue
        ok, msg, notes = compare(ref.norm(got), ref.norm(exp), ref)
        if ok:
            report.append(f"PASS {name} ({len(got)} rows)")
            report += [f"ULP {name} {n}" for n in notes]
        else:
            wrong.append((name, msg))
    con.close()
    return wrong, report
