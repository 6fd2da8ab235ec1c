#!/usr/bin/env python3
"""Regenerate perfbench/expected_sf0.01.json: the DuckDB oracle's
per-column digests for every key the benchmark runs.

    python3 perfbench/regen_expected.py

Compiles like run.py, asks the JVM for each key's oracle SQL
(`graft.SparkEntry.oracleSql`), runs it in DuckDB over the fixture
tables in perfbench/data/, and hashes the result with `col_hashes` from
scripts/check.py — the canonical form `graft.Verify.canon` mirrors, which
the harness applies to the Spark result. Run it when a key's oracle SQL
or the fixture tables change.
"""
import json
import os
import subprocess
import sys

import run

sys.path.insert(0, os.path.join(run.ROOT, "scripts"))
import check  # noqa: E402
import duckdb  # noqa: E402


def main():
    home = run.spark_home()
    os.makedirs(run.OUT, exist_ok=True)
    run.build(home)
    keys = sorted({k.split("@")[0] for w in run.WORKLOADS.values()
                   for k in w.get("keys", [])})
    cp = run.CLASSES + os.pathsep + os.path.join(home, "jars", "*")
    out = subprocess.run(["java", "-cp", cp, "graft.perfbench.OracleSql", ",".join(keys)],
                         capture_output=True, text=True, check=True, cwd=run.ROOT)
    oracle = json.loads(out.stdout.strip().splitlines()[-1])
    missing = [k for k in keys if k not in oracle]
    if missing:
        sys.exit(f"keys without oracle SQL: {missing}")
    con = duckdb.connect()
    for t in check.TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{run.DATA}/{t}.parquet'")
    expected = {}
    for k in keys:
        cols, rows = check.rows_of(con.sql(oracle[k]))
        expected[k] = {"rows": len(rows), "cols": check.col_hashes(cols, rows)}
    with open(run.EXPECTED, "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {len(expected)} keys to {run.EXPECTED}")


if __name__ == "__main__":
    main()
