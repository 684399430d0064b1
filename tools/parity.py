#!/usr/bin/env python3
"""Local mimic of the driver's correctness gate: run each oracle SQL in
DuckDB over the sf tables, compare to the Verify parquet dumps
(columns sorted by name, rows sorted, exact values).

With --against, compare two Verify dumps instead (say, two commits, or
one commit at two SPARK_GRAFT_CPUS values): every query's normalized
frame must hold the same schema, dtypes and values in both; prints
equal/differ per query and exits 1 when any query differs or is missing
from one side.

Usage: python3 tools/parity.py <sfDir> <verifyOutDir>
       python3 tools/parity.py <verifyOutDir> --against <otherVerifyOutDir>
"""
import argparse, json, math, os, sys
import numpy as np
import pandas as pd

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

def sort_key(v):
    """A hashable, orderable stand-in for one cell: an array cell becomes
    a tuple of (is-null, element) pairs, so None elements never meet
    values in a comparison; any other cell is itself."""
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple((x is None, sort_key(x)) for x in v)
    return v

def norm(df):
    """Columns sorted by name, rows sorted by every column. Array cells
    sort through `sort_key`; the values themselves are left as read."""
    df = df.reindex(sorted(df.columns), axis=1).reset_index(drop=True)
    keys = df.apply(lambda c: c.map(sort_key) if c.dtype == object else c)
    return df.iloc[keys.sort_values(by=list(keys.columns)).index].reset_index(drop=True)

def query_dirs(out_dir):
    return {n for n in os.listdir(out_dir) if os.path.isdir(os.path.join(out_dir, n))}

def differs(a, b):
    """Why two normalized frames differ, or None when they are equal
    (NaN and None equal to themselves)."""
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} vs {list(b.columns)}"
    if len(a) != len(b):
        return f"rows {len(a)} vs {len(b)}"
    for c in a.columns:
        if str(a[c].dtype) != str(b[c].dtype):
            return f"dtype[{c}] {a[c].dtype} vs {b[c].dtype}"
        if not a[c].equals(b[c]):
            return f"values[{c}]"
    return None

def against(out_dir, other_dir):
    """Compare two Verify dumps query by query; True when all are equal."""
    mine, other = query_dirs(out_dir), query_dirs(other_dir)
    n_eq = 0
    for name in sorted(mine | other):
        if name not in mine or name not in other:
            why = f"missing from {out_dir if name not in mine else other_dir}"
        else:
            why = differs(norm(pd.read_parquet(os.path.join(out_dir, name))),
                          norm(pd.read_parquet(os.path.join(other_dir, name))))
        n_eq += why is None
        print(f"{'✓' if why is None else '✗'} {name}: {'equal' if why is None else 'differ: ' + why}")
    print(f"\n{n_eq}/{len(mine | other)} equal")
    return n_eq == len(mine | other)

def main(sf_dir, out_dir):
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    results = {}
    for name in sorted(os.listdir(out_dir)):
        qdir = os.path.join(out_dir, name)
        if not os.path.isdir(qdir):
            continue
        got = pd.read_parquet(qdir)
        if name not in oracle:
            results[name] = f"ROWS_ONLY rows={len(got)}" + (" EMPTY!" if len(got) == 0 else "")
            continue
        try:
            exp = con.execute(oracle[name]).fetchdf()
        except Exception as e:
            results[name] = f"ORACLE_SQL_ERROR {e}"
            continue
        g, e = norm(got.copy()), norm(exp.copy())
        if list(g.columns) != list(e.columns):
            results[name] = f"SCHEMA_MISMATCH spark={list(g.columns)} duck={list(e.columns)}"
            continue
        if len(g) != len(e):
            results[name] = f"ROWCOUNT_MISMATCH spark={len(g)} duck={len(e)}"
            continue
        bad = []
        for c in g.columns:
            gv, ev = g[c], e[c]
            if str(gv.dtype) != str(ev.dtype):
                bad.append(f"dtype[{c}]: spark={gv.dtype} duck={ev.dtype}")
            try:
                if gv.dtype == object:
                    neq = (gv.astype(str) != ev.astype(str)) & ~(gv.isna() & ev.isna())
                else:
                    neq = ~((gv == ev) | (gv.isna() & ev.isna()))
                n = int(neq.sum())
                if n:
                    i = neq.idxmax()
                    bad.append(f"value[{c}]: {n} diffs e.g. row{i} spark={gv[i]!r} duck={ev[i]!r}")
            except Exception as ex:
                bad.append(f"cmp[{c}] failed: {ex}")
        results[name] = "OK" if not bad else "FAIL " + "; ".join(bad[:3])
    n_ok = sum(1 for v in results.values() if v == "OK" or v.startswith("ROWS_ONLY rows=") and "EMPTY" not in v)
    for k, v in results.items():
        print(f"{'✓' if v=='OK' or (v.startswith('ROWS_ONLY') and 'EMPTY' not in v) else '✗'} {k}: {v}")
    print(f"\n{n_ok}/{len(results)} pass")
    missing = [q for q in oracle if q not in results]
    if missing:
        print("oracle entries with no parquet output:", missing)

if __name__ == "__main__":
    ap = argparse.ArgumentParser(description="Verify dump parity: vs the DuckDB oracle, "
                                 "or --against another dump")
    ap.add_argument("dirs", nargs="+", help="<sfDir> <verifyOutDir>, or <verifyOutDir> with --against")
    ap.add_argument("--against", metavar="OTHER_VERIFY_DIR")
    args = ap.parse_args()
    if args.against:
        if len(args.dirs) != 1:
            ap.error("--against takes exactly one <verifyOutDir>")
        sys.exit(0 if against(args.dirs[0], args.against) else 1)
    if len(args.dirs) != 2:
        ap.error("expected <sfDir> <verifyOutDir>")
    main(*args.dirs)
