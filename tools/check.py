#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: reads Verify output
(parquet per query + oracle_sql.json), runs each oracle in DuckDB over the
fixture tables, and diffs values with columns sorted by name.

Per-query checks are independent, so they run in a small process pool
(round-16: the serial loop took ~12 min at sf0.01 — pure idle time on a
32-core box). Each worker owns its own DuckDB connection; the checked
values and the pass/fail semantics are exactly the serial form's.

Usage: python3 tools/check.py <sfDir> <verifyOutDir> [jobs]
"""
import glob
import json
import math
import multiprocessing as mp
import sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

_CON = None
_SF = None
_OUT = None


def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)  # full precision
    return v


def frame(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return [tuple(norm_cell(r[i]) for i in order) for r in rows], \
           [cols[i] for i in order]


def _init(sf_dir, out_dir):
    global _CON, _SF, _OUT
    _SF, _OUT = sf_dir, out_dir
    _CON = duckdb.connect()
    # one DuckDB query at a time per process; cap its threads so P
    # workers don't stack P*ncpu threads
    _CON.execute("SET threads TO 4")
    for t in TABLES:
        _CON.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")


def _check_one(item):
    """Returns (name, ok, message) — printing stays in the parent so
    output order is deterministic (sorted by name, as before)."""
    name, sql = item
    con = _CON
    files = glob.glob(f"{_OUT}/{name}/*.parquet")
    if not files:
        return name, False, f"FAIL {name}: no spark output"
    if sql is None:  # rows-only query (no oracle): count, fetch nothing
        n = con.execute(
            f"SELECT count(*) FROM read_parquet({files!r})").fetchone()[0]
        if n == 0:
            return name, False, f"FAIL {name} (rows-only, 0 rows)"
        return name, True, f"ok   {name} (rows-only, {n} rows)"
    got = con.execute(
        f"SELECT * FROM read_parquet({files!r})").fetchall()
    got_cols = [d[0] for d in con.description]
    try:
        want = con.execute(sql).fetchall()
        want_cols = [d[0] for d in con.description]
    except Exception as e:
        return name, False, f"FAIL {name}: oracle error {e}"
    g, gc = frame(got, got_cols)
    w, wc = frame(want, want_cols)
    if gc != wc:
        return name, False, f"FAIL {name}: columns spark={gc} duck={wc}"
    if len(g) != len(w):
        return name, False, f"FAIL {name}: rows spark={len(g)} duck={len(w)}"
    bad = [(i, a, b) for i, (a, b) in enumerate(zip(g, w)) if a != b]
    if bad:
        i, a, b = bad[0]
        return name, False, (f"FAIL {name}: {len(bad)}/{len(g)} rows differ; "
                             f"first at {i} (cols {gc}):\n  spark={a}\n  duck ={b}")
    return name, True, f"ok   {name} ({len(g)} rows)"


def main(sf_dir, out_dir, jobs=8):
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    names = set(d.rstrip("/").split("/")[-1]
                for d in glob.glob(f"{out_dir}/*/"))
    work = [(n, oracle.get(n)) for n in sorted(set(oracle) | names)]
    with mp.Pool(jobs, initializer=_init,
                 initargs=(sf_dir, out_dir)) as pool:
        results = pool.map(_check_one, work)
    failures = 0
    for _, ok, msg in sorted(results):
        print(msg)
        if not ok:
            failures += 1
    print(f"\n{failures} failures")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2],
                  int(sys.argv[3]) if len(sys.argv) > 3 else 8))
