"""Compares query results dumped by the driver JVM (one parquet directory
per query plus `oracle_sql.json`) with the DuckDB oracle SQL of each
query run over the same input tables, with the exact cell rule of the
repository's `tools/check_oracle.py`.
"""
import json
import os
import sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def queries(dump_dir):
    with open(os.path.join(dump_dir, "oracle_sql.json")) as f:
        return json.load(f)


def compare(tables_dir, dump_dir):
    """Returns one line per query whose result differs from its oracle."""
    # imported here, so that run.py reports a tree without the repository's
    # tools/ (or engine) itself instead of failing at import
    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "tools"))
    import check_oracle
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{tables_dir}/{t}.parquet'")
    problems = []
    for name, sql in sorted(queries(dump_dir).items()):
        try:
            gc, gr = check_oracle.rows_of(con.execute(
                f"SELECT * FROM '{dump_dir}/{name}/*.parquet'").df())
            ec, er = check_oracle.rows_of(con.execute(sql).df())
            bad = [(a, b) for a, b in zip(gr, er)
                   if not all(map(check_oracle.cmp_cell, a, b))]
            if gc != ec:
                problems.append(f"{name}: columns {gc} != oracle {ec}")
            elif len(gr) != len(er):
                problems.append(f"{name}: {len(gr)} rows != oracle {len(er)}")
            elif bad:
                problems.append(f"{name}: {len(bad)} rows differ, first "
                                f"{bad[0][0]} != oracle {bad[0][1]}")
        except Exception as e:  # an oracle that cannot run is a failure too
            problems.append(f"{name}: {type(e).__name__}: {e}")
    con.close()
    return problems
