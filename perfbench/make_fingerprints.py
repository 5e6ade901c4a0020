#!/usr/bin/env python3
"""Writes perfbench/oracle_fingerprints.json: for every registry query the
benchmark runs, the fingerprint of DuckDB's answer to
SparkEntry.oracleSql(name) on the fixed sf0.1-shaped tables.

Some oracles take a minute or more at this scale, so the answers are
computed once, here, and only their fingerprints are stored; each run
compares against them. Rerun after changing the query sets in
workloads.json or the table generator in inputs.py:

    python3 perfbench/make_fingerprints.py
"""
import json
import os
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)

import build  # noqa: E402
import run  # noqa: E402


def main():
    import duckdb
    cfg = run.load("workloads.json")
    names = sorted({n for k, w in cfg["workloads"].items() if k != "headlines"
                    for n in w["ops"]})
    classpath = build.build()
    data = run.tables_dir()
    sql_file = os.path.join(build.build_dir(), "oracle_sql.json")
    subprocess.run([build.java(), "-XX:-UsePerfData", "-cp", classpath, "perfbench.Main", "dump-sql",
                    ",".join(names), sql_file], check=True)
    with open(sql_file) as f:
        sql = json.load(f)
    con = duckdb.connect()
    for p in sorted(os.listdir(data)):
        if p.endswith(".parquet"):
            con.execute(f"CREATE VIEW {p[:-8]} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(data, p)}')")
    out = {}
    for n in names:
        t = time.monotonic()
        out[n] = run.fingerprint(con, sql[n])
        print(f"{n}: {out[n]['rows']} rows, {time.monotonic() - t:.1f} s")
    with open(os.path.join(BENCH, "oracle_fingerprints.json"), "w") as f:
        json.dump({"tables": "inputs.write_tables (TABLE_SEED = %d)"
                   % run.inputs.TABLE_SEED, "queries": out}, f, indent=1,
                  sort_keys=True)


if __name__ == "__main__":
    main()
