#!/usr/bin/env python3
"""Local analog of the driver's DuckDB differential check.

Usage: after `sbt "runMain graft.Verify <sfDir> <outDir>"`, run
    python3 tools/local_verify.py <sfDir> <outDir>

For every query result parquet in outDir, runs the matching oracle SQL from
oracle_sql.json in DuckDB (with views over the same fixture parquet) and
compares with perfbench's typed comparator (`perfbench/oracle.py`): columns
matched by name, rows as a multiset, doubles within 1e-9 relative, and each
numeric column's type family (integer, floating point, decimal) equal on
both sides.  Exit status 1 when any query fails.  Dev-only tool — not part
of the library.
"""
import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "perfbench"))
from oracle import compare, connect  # noqa: E402


def main(sf_dir, out_dir):
    con = connect(sf_dir)
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    failed = []
    for name, sql in sorted(oracle.items()):
        try:
            why, n_rows = compare(con, f"{out_dir}/{name}", sql)
        except Exception as e:
            why = f"exception {e}"
        if why:
            print(f"FAIL {name}: {why}")
            n_fail += 1
            failed.append(name)
        else:
            note = " (0 rows!)" if n_rows == 0 else ""
            print(f"PASS {name}: {n_rows} rows{note}")
            n_pass += 1
    print(f"\n{n_pass} passed, {n_fail} failed")
    if failed:
        print("failed:", " ".join(failed))
        sys.exit(1)


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
