#!/usr/bin/env python3
"""Compare every table of two PipelineMain output dirs, row for row.

    python3 tools/table_diff.py DIR_A DIR_B

Each table is read with DuckDB and compared as a multiset: the rows of A
EXCEPT ALL the rows of B, and the rows of B EXCEPT ALL those of A. The
ledger is compared on its counts only (stage, rowsIn, rowsOut), since its
wall times and timestamps differ from run to run. Prints the rows and the
diff rows of each table; exits 0 only when every table is equal.
"""
import os
import sys

import duckdb

# (name, relative dir, hive-partitioned, projection)
TABLES = [
    ("transcripts", "transcripts", False, "*"),
    ("series_points", "series_points", True, "*"),
    ("chunks_raw", "chunks_raw", False, "*"),
    ("tiers/m1_full", "tiers/m1_full", False, "*"),
    ("tiers/h1_full", "tiers/h1_full", False, "*"),
    ("tiers/d1", "tiers/d1", False, "*"),
    ("tiers/m1", "tiers/m1", False, "*"),
    ("tiers/h1", "tiers/h1", False, "*"),
    ("profiles", "profiles", False, "*"),
    ("discovery", "discovery", False, "*"),
    ("ledger counts", "_ledger", False, "stage, rowsIn, rowsOut"),
]


def relation(root, rel, hive, cols):
    files = os.path.join(root, rel, "**", "*.parquet") if hive \
        else os.path.join(root, rel, "*.parquet")
    opts = ", hive_partitioning = true" if hive else ""
    return f"SELECT {cols} FROM read_parquet('{files}'{opts})"


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    a, b = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    equal = True
    print(f"{'table':<16} {'rows A':>9} {'rows B':>9} {'A-B':>7} {'B-A':>7}")
    for name, rel, hive, cols in TABLES:
        if not (os.path.isdir(os.path.join(a, rel)) and os.path.isdir(os.path.join(b, rel))):
            print(f"{name:<16} MISSING")
            equal = False
            continue
        ra, rb = relation(a, rel, hive, cols), relation(b, rel, hive, cols)
        n_a = con.execute(f"SELECT count(*) FROM ({ra})").fetchone()[0]
        n_b = con.execute(f"SELECT count(*) FROM ({rb})").fetchone()[0]
        a_b = con.execute(f"SELECT count(*) FROM ({ra} EXCEPT ALL {rb})").fetchone()[0]
        b_a = con.execute(f"SELECT count(*) FROM ({rb} EXCEPT ALL {ra})").fetchone()[0]
        ok = n_a == n_b and a_b == 0 and b_a == 0
        equal &= ok
        print(f"{name:<16} {n_a:>9} {n_b:>9} {a_b:>7} {b_a:>7}  {'equal' if ok else 'DIFFERENT'}")
    print("all tables equal" if equal else "tables differ")
    sys.exit(0 if equal else 1)


if __name__ == "__main__":
    main()
