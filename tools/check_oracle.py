#!/usr/bin/env python3
"""Local replica of the driver's t2 correctness gate.

Usage: python3 tools/check_oracle.py [sfDir] [outDir] [--skip-verify] [names...]

1. runs graft.Verify at sfDir -> outDir (parquet per query + oracle_sql.json);
   named queries are passed on, so Verify builds only those
2. registers each fixture table as a DuckDB view of its bare name
3. runs each oracle SQL, compares against the Spark parquet:
   columns sorted by name, rows sorted, values compared exactly.
   A named query without an oracle_sql.json entry fails the run.
"""
import json, math, subprocess, sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, list):
        return "[" + ",".join(norm(x) for x in v) + "]"
    return repr(v)


def main():
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir = args[0] if len(args) > 0 else "/root/testdata/sf0.01"
    out_dir = args[1] if len(args) > 1 else "/tmp/verify_out"
    only = set(args[2:])
    if "--skip-verify" not in sys.argv:
        subset = f" {','.join(sorted(only))}" if only else ""
        r = subprocess.run(
            ["sbt", "-batch",
             f'runMain graft.Verify {sf_dir} {out_dir}{subset}'],
            capture_output=True, text=True)
        tail = "\n".join((r.stdout + r.stderr).splitlines()[-25:])
        if r.returncode != 0:
            print(tail)
            sys.exit(1)
        for line in (r.stdout + r.stderr).splitlines():
            if "[verify]" in line:
                print(line)

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))

    n_pass = n_fail = 0
    for name in sorted(only - oracle.keys()):
        print(f"FAIL {name}: no oracle_sql.json entry")
        n_fail += 1
    for name, sql in sorted(oracle.items()):
        if only and name not in only:
            continue
        try:
            got = con.sql(
                f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')").fetchdf()
            want = con.sql(sql).fetchdf()
        except Exception as e:
            print(f"FAIL {name}: {str(e).splitlines()[0]}")
            n_fail += 1
            continue
        gc, wc = sorted(got.columns), sorted(want.columns)
        if gc != wc:
            print(f"FAIL {name}: columns spark={gc} oracle={wc}")
            n_fail += 1
            continue
        grows = sorted(tuple(norm(v) for v in row) for row in got[gc].itertuples(index=False))
        wrows = sorted(tuple(norm(v) for v in row) for row in want[wc].itertuples(index=False))
        if len(grows) != len(wrows):
            print(f"FAIL {name}: rows spark={len(grows)} oracle={len(wrows)}")
            n_fail += 1
            continue
        diffs = [(a, b) for a, b in zip(grows, wrows) if a != b]
        if diffs:
            print(f"FAIL {name}: {len(diffs)}/{len(grows)} rows differ; first: spark={diffs[0][0]} oracle={diffs[0][1]}")
            n_fail += 1
        else:
            print(f"PASS {name} ({len(grows)} rows)")
            n_pass += 1
    print(f"== {n_pass} pass, {n_fail} fail ==")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
