#!/usr/bin/env python3
"""Regenerates perfbench/expected_counts.json: the row count of every query
in perfbench/slate_sample.txt on perfbench/data/, computed by DuckDB from
the query's oracle SQL (graft.SparkEntry.oracleSql), not by the program.

Run from the root of a checkout, after one benchmark run has built it:

    python3 perfbench/make_expected.py
"""
import json
import os
import subprocess
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402  (the benchmark's build and launcher)

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def main():
    cp = run.build()
    sql_file = os.path.join(run.BUILD, "oracle_sql.json")
    cmd = ["java"]
    for p in run.ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    subprocess.run(cmd + ["-cp", cp, "graft.perfbench.Main", "--bench-dir", run.BENCH,
                          "--dump-oracle", sql_file], check=True, stdin=subprocess.DEVNULL)
    with open(sql_file) as fh:
        oracle = json.load(fh)
    con = duckdb.connect()
    data = os.path.join(run.BENCH, "data")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    counts = {name: con.sql(f"SELECT count(*) FROM ({sql})").fetchone()[0]
              for name, sql in sorted(oracle.items())}
    out = {"data": "perfbench/data (the sf0.01 star schema)",
           "oracle": f"duckdb {duckdb.__version__}", "counts": counts}
    with open(os.path.join(run.BENCH, "expected_counts.json"), "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"{len(counts)} expected counts written")


if __name__ == "__main__":
    main()
