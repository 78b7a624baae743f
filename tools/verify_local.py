#!/usr/bin/env python3
"""Local mimic of the driver's t2 correctness gate: reads the parquet
dumps produced by `graft.Verify <sfDir> <outDir>` plus oracle_sql.json,
runs each oracle in DuckDB over the same sf tables, and compares
(columns sorted by name, rows sorted, values hashed).

    verify_local.py <sfDir> <outDir> [name,...]

Compare mode checks two Verify dumps against each other instead — every
entry present in either dump, rows-only entries included, under the same
canon() — e.g. a dump of the parent commit against a dump of a change
that must leave the outputs unchanged:

    verify_local.py --compare <outDirA> <outDirB> [name,...]"""
import json, sys, glob, os
import duckdb
import pandas as pd

def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df):
        df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    # normalize dtypes for comparison
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = pd.to_datetime(df[c]).dt.tz_localize(None).astype('datetime64[us]')
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype('float64')  # unify int32/int64 for compare
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df

def read_dump(out_dir, name):
    """All part files of one entry's dump, or None when it has none — at
    sf>=1 a dump can span multiple parts, and files[0] alone would
    silently compare a row subset."""
    files = glob.glob(f'{out_dir}/{name}/*.parquet')
    if not files:
        return None
    return pd.concat([pd.read_parquet(f) for f in sorted(files)],
                     ignore_index=True)

def entries(out_dir):
    return {d for d in os.listdir(out_dir) if os.path.isdir(f'{out_dir}/{d}')}

def compare(dir_a, dir_b, only):
    n_same = n_diff = 0
    for name in sorted(entries(dir_a) | entries(dir_b)):
        if only and name not in only:
            continue
        a, b = read_dump(dir_a, name), read_dump(dir_b, name)
        if a is None or b is None:
            print(f'DIFF {name}: no parquet output in '
                  f'{dir_a if a is None else dir_b}'); n_diff += 1; continue
        g, w = canon(a), canon(b)
        if list(g.columns) != list(w.columns) or len(g) != len(w):
            print(f'DIFF {name}: {list(g.columns)} x {len(g)} rows vs '
                  f'{list(w.columns)} x {len(w)} rows'); n_diff += 1; continue
        try:
            pd.testing.assert_frame_equal(g, w, check_dtype=False,
                                          check_exact=True)
            print(f'SAME {name} ({len(g)} rows)'); n_same += 1
        except AssertionError as e:
            print(f'DIFF {name}: {str(e).splitlines()[0][:200]}')
            n_diff += 1
    print(f'== {n_same} same, {n_diff} differ ==')
    return n_diff == 0

def main():
    if len(sys.argv) > 1 and sys.argv[1] == '--compare':
        only = set(sys.argv[4].split(',')) if len(sys.argv) > 4 else None
        sys.exit(0 if compare(sys.argv[2], sys.argv[3], only) else 1)
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else '/root/testdata/sf0.01'
    out_dir = sys.argv[2] if len(sys.argv) > 2 else '/tmp/graft_verify'
    only = set(sys.argv[3].split(',')) if len(sys.argv) > 3 else None
    con = duckdb.connect()
    for t in ['region','nation','customer','supplier','part','orders',
              'lineitem','events','documents','embeddings']:
        p = f'{sf_dir}/{t}.parquet'
        # ScaleUp-generated SFs write directory-style parquet tables;
        # the driver testdata is single-file — glob in the dir case.
        src = f"parquet_scan('{p}/*.parquet')" if os.path.isdir(p) else f"'{p}'"
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM {src}")
    oracle = json.load(open(f'{out_dir}/oracle_sql.json'))
    n_pass = n_fail = 0
    for name in sorted(entries(out_dir)):
        if only and name not in only:
            continue
        got = read_dump(out_dir, name)
        if got is None:
            print(f'FAIL {name}: no parquet output'); n_fail += 1; continue
        if name not in oracle:
            print(f'SKIP {name}: rows-only ({len(got)} rows)'); continue
        try:
            want = con.sql(oracle[name]).df()
        except Exception as e:
            print(f'FAIL {name}: oracle error: {str(e)[:200]}'); n_fail += 1; continue
        g, w = canon(got), canon(want)
        if list(g.columns) != list(w.columns):
            print(f'FAIL {name}: columns {list(g.columns)} vs {list(w.columns)}')
            n_fail += 1; continue
        if len(g) != len(w):
            print(f'FAIL {name}: rows {len(g)} vs {len(w)}'); n_fail += 1; continue
        try:
            pd.testing.assert_frame_equal(g, w, check_dtype=False,
                                          check_exact=True)
            print(f'PASS {name} ({len(g)} rows)'); n_pass += 1
        except AssertionError as e:
            # retry with tolerance to show whether it's float jitter
            try:
                pd.testing.assert_frame_equal(g, w, check_dtype=False,
                                              check_exact=False, rtol=1e-9, atol=1e-9)
                print(f'NEAR {name}: exact mismatch but within 1e-9 '
                      f'({str(e).splitlines()[0][:120]})')
                n_fail += 1
            except AssertionError as e2:
                print(f'FAIL {name}: {str(e2).splitlines()[0][:200]}')
                n_fail += 1
    print(f'== {n_pass} pass, {n_fail} fail ==')

if __name__ == '__main__':
    main()
