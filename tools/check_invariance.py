#!/usr/bin/env python3
"""Partition-invariance check: two graft.Verify dumps produced at
DIFFERENT parallelism (e.g. SPARK_GRAFT_CPUS=4 vs 7) must be
row-identical for every query — same normalization as the oracle gate
(float BIT PATTERNS, no tolerance). An engine whose answers depend on
the partition count cannot be oracle-gated, cached, or trusted across
cluster resizes.

Only the queries with a result directory in either dump are compared,
so two dumps of the same subset compare cleanly; a query dumped on one
side only fails.

Usage: python3 tools/check_invariance.py <outDirA> <outDirB>
"""
import os
import sys

import duckdb

from check_oracle import rows_of


def main():
    a_dir, b_dir = sys.argv[1], sys.argv[2]

    # graft.Verify lists every registered query in oracle_sql.json even
    # on a subset run, so only the result directories say what was dumped
    def dumped(d):
        return {n for n in os.listdir(d)
                if os.path.isdir(os.path.join(d, n))}

    in_a, in_b = dumped(a_dir), dumped(b_dir)
    names = sorted(in_a | in_b)
    if not names:
        print(f"FAIL: no query results in {a_dir} or {b_dir}")
        sys.exit(1)
    n_pass = n_fail = 0
    for name in names:
        if name not in in_a or name not in in_b:
            side = b_dir if name in in_a else a_dir
            print(f"FAIL {name}: no result directory in {side}")
            n_fail += 1
            continue
        try:
            ga = duckdb.sql(f"SELECT * FROM '{a_dir}/{name}/*.parquet'").df()
            gb = duckdb.sql(f"SELECT * FROM '{b_dir}/{name}/*.parquet'").df()
            ca, ra = rows_of(ga)
            cb, rb = rows_of(gb)
            if ca != cb:
                print(f"FAIL {name}: columns {ca} != {cb}")
                n_fail += 1
            elif ra != rb:
                bad = sum(1 for x, y in zip(ra, rb) if x != y) \
                    + abs(len(ra) - len(rb))
                first = next(((x, y) for x, y in zip(ra, rb) if x != y),
                             ("<row-count>", f"{len(ra)} vs {len(rb)}"))
                print(f"FAIL {name}: {bad} differing rows; first: "
                      f"a={first[0]} b={first[1]}")
                n_fail += 1
            else:
                print(f"PASS {name} ({len(ra)} rows)")
                n_pass += 1
        except Exception as e:
            print(f"ERROR {name}: {e}")
            n_fail += 1
    print(f"== {n_pass} pass, {n_fail} fail ==")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
