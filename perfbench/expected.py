#!/usr/bin/env python3
"""Records the expected row count of every benchmark query.

    python3 perfbench/expected.py

For each query listed in perfbench/workloads.json it takes the query's
oracle SQL (SparkEntry.oracleSql, as graft.Verify writes it to
oracle_sql.json, here with SPARK_GRAFT_ONLY set to the listed queries),
runs it in DuckDB over perfbench/data and writes the row counts back into
workloads.json, which run.py checks each query's output against. Needs
the duckdb Python package (1.0.0).
"""
import json
import os
import subprocess
import tempfile
from pathlib import Path

import duckdb

import run

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main():
    path = run.HERE / "workloads.json"
    spec = json.loads(path.read_text())
    names = sorted({n for w in spec.values() for n in w["rows"]})
    cp = run.build()
    opens = [x for p in run.ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    env = dict(os.environ, SPARK_GRAFT_ONLY=",".join(names), SPARK_GRAFT_CPUS=str(os.cpu_count()))
    with tempfile.TemporaryDirectory(dir=run.HERE) as tmp:
        subprocess.run(["java", *opens, f"-Djava.io.tmpdir={tmp}", "-cp", cp, "graft.Verify",
                        str(run.HERE / "data"), tmp], env=env, cwd=tmp, check=True)
        oracle = json.loads((Path(tmp) / "oracle_sql.json").read_text())
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{run.HERE / 'data' / (t + '.parquet')}')")
    rows = {n: len(con.execute(oracle[n]).fetchall()) for n in names}
    for w in spec.values():
        w["rows"] = {n: rows[n] for n in sorted(w["rows"])}
    path.write_text(json.dumps(spec, indent=1) + "\n")
    print(f"recorded {len(names)} row counts in {path}")


if __name__ == "__main__":
    main()
