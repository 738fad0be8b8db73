#!/usr/bin/env python3
"""Pin the expected output hashes of the pipeline_mix entries.

    python3 perfbench/pin_hashes.py

Generates the benchmark's tables, takes each entry's oracle SQL from
`SparkEntry.oracleSql` (dumped by `perfbench.DumpOracle`), runs it in
DuckDB over the same parquet files and writes the canonical hash of each
answer (the `tools/selfcheck.py` canonicalisation) to
perfbench/expected_hashes.json. Re-run it when the tables, the entry
list or an entry's semantics change.
"""
import json
import os
import sys

import duckdb

import run

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def main():
    os.makedirs(run.WORK, exist_ok=True)
    classpath, _ = run.build()
    data = run.tables_dir()
    sql_path = os.path.join(run.WORK, "oracle_sql.json")
    rc = run.run_bounded(run.java_cmd(classpath, "perfbench.DumpOracle", [sql_path]),
                         run.ROOT, 300, os.path.join(run.WORK, "dump_oracle.log"))
    if rc != 0:
        sys.exit(f"DumpOracle failed ({rc})")
    with open(sql_path) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    pinned = {name: run.frame_hash(con, sql) for name, sql in sorted(oracle.items())}
    with open(run.EXPECTED, "w") as f:
        json.dump(pinned, f, indent=1, sort_keys=True)
        f.write("\n")
    for name, h in pinned.items():
        print(f"{name:<40} {h['rows']:>7} rows  {h['sha256'][:16]}")


if __name__ == "__main__":
    main()
