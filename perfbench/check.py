"""Output check of the benchmark's cold pass.

Outputs are normalised exactly as the engine's DuckDB oracle gate does
(tools/check_oracle.py): columns sorted by name, every value normalised,
rows sorted, values compared exactly. A run compares each output with an
answer pinned in expected.json: the column list, the row count and a
SHA-256 over the normalised rows. The pins are taken from the DuckDB
oracle (`SparkEntry.oracleSql`), and only from an output the oracle
agrees with:

    python3 perfbench/check.py --pin <cold-pass output dir>

(a finished run leaves it in .bench_build/run/check-<workload>). Pinning
instead of running the oracle every time keeps the check to a second;
the job-floor oracles take ~10 s in DuckDB.
"""
import hashlib
import json
import os
import sys

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
EXPECTED = os.path.join(HERE, "expected.json")
# The gate's own table list and value normalisation, imported rather than
# copied so the two cannot drift apart.
sys.dont_write_bytecode = True
sys.path.insert(0, os.path.join(os.path.dirname(HERE), "tools"))
try:
    from check_oracle import TABLES, norm
except ImportError:
    raise SystemExit("tools/check_oracle.py not found: run from the repository root")


def answer(con, sql):
    """(sorted columns, sorted normalised rows) of a query."""
    df = con.sql(sql).fetchdf()
    cols = sorted(df.columns)
    return cols, sorted(tuple(norm(v) for v in r) for r in df[cols].itertuples(index=False))


def pin(cols, rows):
    h = hashlib.sha256()
    for r in rows:
        h.update(repr(r).encode())
        h.update(b"\n")
    return {"columns": cols, "rows": len(rows), "sha256": h.hexdigest()}


def output(con, check_dir, q):
    return answer(con, f"SELECT * FROM read_parquet('{check_dir}/{q}/*.parquet')")


def verify(check_dir, queries):
    """{query: None if its output matches the pinned answer, else why}."""
    with open(EXPECTED) as f:
        expected = json.load(f)
    con = duckdb.connect()
    verdicts = {}
    for q in queries:
        if q not in expected:
            verdicts[q] = "no pinned answer"
            continue
        try:
            got = pin(*output(con, check_dir, q))
        except Exception as e:
            verdicts[q] = f"output unreadable: {str(e).splitlines()[0]}"
            continue
        want = expected[q]
        verdicts[q] = None if got == want else f"got {got}, pinned {want}"
    return verdicts


def pin_from_oracle(check_dir, fixture):
    """Compares every output in check_dir with its DuckDB oracle answer and
    pins the ones that match; returns the names that did not."""
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{fixture}/{t}.parquet')")
    with open(os.path.join(check_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    expected = {}
    if os.path.exists(EXPECTED):
        with open(EXPECTED) as f:
            expected = json.load(f)
    bad = []
    for q, sql in sorted(oracle.items()):
        want = answer(con, sql)
        if output(con, check_dir, q) == want:
            expected[q] = pin(*want)
            print(f"PASS {q} ({len(want[1])} rows), pinned")
        else:
            bad.append(q)
            print(f"FAIL {q}: output differs from the oracle; not pinned")
    with open(EXPECTED, "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")
    return bad


if __name__ == "__main__":
    if len(sys.argv) != 3 or sys.argv[1] != "--pin":
        raise SystemExit(__doc__)
    with open(os.path.join(HERE, "workloads.json")) as f:
        fixture = os.path.abspath(json.load(f)["fixture"])
    sys.exit(1 if pin_from_oracle(sys.argv[2], fixture) else 0)
