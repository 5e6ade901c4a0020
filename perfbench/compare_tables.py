#!/usr/bin/env python3
"""Compares the benchmark's fixed tables (inputs.write_tables) with a
directory of sf0.1 test tables, column by column: type, rows, Parquet row
groups, distinct values, min, max and mean (mean length for strings and
lists). Exits 1 when a table's schema or row count differs.

    python3 perfbench/compare_tables.py <dir with the sf0.1 *.parquet>
"""
import os
import sys

import duckdb
import pyarrow.parquet as pq

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)

import run  # noqa: E402


def stats(con, path, col, ty):
    if ty.endswith("[]"):
        expr = f"count(DISTINCT {col}), min(len({col})), max(len({col})), avg(len({col}))"
    elif ty == "VARCHAR":
        expr = f"count(DISTINCT {col}), min({col})[:16], max({col})[:16], avg(length({col}))"
    elif ty.startswith("TIMESTAMP"):
        expr = f"count(DISTINCT {col}), min({col}), max({col}), NULL"
    else:
        expr = f"count(DISTINCT {col}), min({col}), max({col}), avg({col})"
    d, lo, hi, mean = con.execute(f"SELECT {expr} FROM read_parquet('{path}')").fetchone()
    return f"distinct={d} min={lo} max={hi}" + ("" if mean is None else f" mean={mean:.2f}")


def main():
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    ref_dir, ours = sys.argv[1], run.tables_dir()
    con = duckdb.connect()
    bad = []
    for name in sorted(f[:-8] for f in os.listdir(ours) if f.endswith(".parquet")):
        a, b = os.path.join(ours, name + ".parquet"), os.path.join(ref_dir, name + ".parquet")
        if not os.path.exists(b):
            bad.append(name)
            print(f"== {name}: missing in {ref_dir}")
            continue
        ma, mb = pq.ParquetFile(a).metadata, pq.ParquetFile(b).metadata
        sa, sb = pq.read_schema(a).remove_metadata(), pq.read_schema(b).remove_metadata()
        same = sa.equals(sb) and ma.num_rows == mb.num_rows
        if not same:
            bad.append(name)
        print(f"== {name}: rows {ma.num_rows} / {mb.num_rows}, row groups "
              f"{ma.num_row_groups} / {mb.num_row_groups}"
              + ("" if same else "  SCHEMA OR ROWS DIFFER"))
        for col, ty, *_ in con.execute(f"DESCRIBE SELECT * FROM read_parquet('{a}')").fetchall():
            ours_s, ref_s = stats(con, a, col, ty), stats(con, b, col, ty)
            mark = "  " if ours_s == ref_s else "~ "
            print(f"{mark}{col} {ty}\n    ours {ours_s}\n    ref  {ref_s}")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
