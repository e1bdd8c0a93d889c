#!/usr/bin/env python3
"""Pin the batch workload's expected results, confirmed against DuckDB.

Usage (from the repository root):

    python3 perfbench/pin.py            # check, and write perfbench/pins.txt

For each size (standard, tiny) this runs the batch workload once with
--dump, which writes the generated tables, each query's Spark result and
the queries' oracle SQL (SparkEntry.oracleSql). It then runs every oracle
in DuckDB over the same tables and compares row count, column names and
every value with the Spark result, as the engine's correctness gate does.
Only when every query matches are the Spark-side row counts and content
hashes written to pins.txt.
"""
import json
import math
import os
import re
import shutil
import subprocess
import sys

import duckdb

BENCH = os.path.join(os.getcwd(), "perfbench")
TABLES = ["lineitem", "orders", "customer", "part", "embeddings"]


def cell(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    return repr(v)


def rows_of(con, sql):
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return ([cols[i] for i in order],
            [tuple(cell(r[i]) for i in order) for r in cur.fetchall()])


def check_size(size):
    dump = os.path.join(BENCH, "target", f"pin-{size}")
    shutil.rmtree(dump, ignore_errors=True)
    os.makedirs(dump)
    cmd = [sys.executable, os.path.join(BENCH, "run.py"), "--workload",
           "batch", "--seed", "0", "--seconds", "0", "--trace", "0",
           "--dump", dump] + (["--tiny"] if size == "tiny" else [])
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                       text=True)
    pins = {}
    for m in re.finditer(r"^PIN (\S+) (\d+) (\S+)$", p.stderr, re.M):
        pins.setdefault(m.group(1), (int(m.group(2)), m.group(3)))
    if not pins:
        sys.stderr.write(p.stderr[-3000:])
        sys.exit(f"pin: the {size} dump produced no results")
    oracle = json.load(open(os.path.join(dump, "oracle_sql.json")))
    tables = os.path.join(dump, "batch2")
    con = duckdb.connect()
    con.execute("SET threads=2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{tables}/{t}.parquet/*.parquet')")
    ok = True
    for q, sql in sorted(oracle.items()):
        got_cols, got = rows_of(
            con, f"SELECT * FROM read_parquet('{dump}/{q}/*.parquet')")
        want_cols, want = rows_of(con, sql)
        key = f"{size}/{q}"
        if got_cols != want_cols or got != want:
            ok = False
            print(f"FAIL {key}: spark {len(got)} rows {got_cols} vs duckdb "
                  f"{len(want)} rows {want_cols}")
            diff = next((i for i, (a, b) in enumerate(zip(got, want))
                         if a != b), None)
            if diff is not None:
                print(f"  first difference at row {diff}:\n"
                      f"  spark : {got[diff]}\n  duckdb: {want[diff]}")
        elif pins[key][0] != len(got):
            ok = False
            print(f"FAIL {key}: pinned {pins[key][0]} rows, "
                  f"dump holds {len(got)}")
        else:
            print(f"OK   {key}: {len(got)} rows match DuckDB")
    return ok, pins


def main():
    results = [check_size(s) for s in ["standard", "tiny"]]
    if not all(ok for ok, _ in results):
        sys.exit("pin: Spark and DuckDB disagree; pins.txt left unchanged")
    with open(os.path.join(BENCH, "pins.txt"), "w") as f:
        f.write("# <size>/<query> <rows> <content hash>, written by pin.py\n"
                f"# after every result matched DuckDB {duckdb.__version__} "
                "running SparkEntry.oracleSql\n")
        for _, pins in results:
            for k in sorted(pins):
                f.write(f"{k} {pins[k][0]} {pins[k][1]}\n")
    print("pin: wrote perfbench/pins.txt")


if __name__ == "__main__":
    main()
