#!/usr/bin/env python3
"""Write perfbench/expected.json: each query's row count and
order-insensitive hash over the benchmark's sf0.01 tables.

    python3 perfbench/make_expected.py <engine-output-dir>

<engine-output-dir> holds one parquet directory per query, as a run leaves
under perfbench/.work/out/check (hot workloads) or .work/out/sink (cold).
Every query's expectation is its DuckDB oracle SQL (SparkEntry.oracleSql)
run over the same tables and hashed by the rule of tools/check_oracle.py.
The script prints each query whose engine output disagrees, and exits 1.
"""
import json
import subprocess
import sys
from pathlib import Path

import duckdb

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import metrics  # noqa: E402
import run  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def oracle_sql(classpath):
    out = run.WORK / "oracle"
    out.mkdir(parents=True, exist_ok=True)
    subprocess.run(["java", "-cp", classpath, "graft.Verify", "--oracle-only",
                    str(out)], check=True, stdout=subprocess.DEVNULL)
    return json.loads((out / "oracle_sql.json").read_text())


def main(engine_out):
    sql = oracle_sql(run.build())
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{run.DATA / t}.parquet')")
    path = HERE / "expected.json"
    expected = json.loads(path.read_text()) if path.exists() else {}
    bad = []
    for d in sorted(Path(engine_out).iterdir()):
        if not d.is_dir():
            continue
        q = d.name
        rows, h = metrics.parquet_fingerprint(d)
        res = con.execute(sql[q])
        cols = [c[0] for c in res.description]
        orows = res.fetchall()
        want = (len(orows), metrics.fingerprint(cols, orows))
        if want != (rows, h):
            bad.append(f"{q}: engine {rows} rows {h[:12]}, "
                       f"oracle {want[0]} rows {want[1][:12]}")
        expected[q] = {"rows": want[0], "hash": want[1]}
        print(f"{q}: {want[0]} rows")
    path.write_text(json.dumps(dict(sorted(expected.items())), indent=1) + "\n")
    for b in bad:
        print("MISMATCH", b)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1]))
