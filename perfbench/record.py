#!/usr/bin/env python3
"""Record the expected query_slice results, cross-checked once against
the DuckDB oracle.

    python3 perfbench/record.py

Runs the q01-q54 warm pass once on the benchmark's fixture tables, and
for every query that declares oracle SQL (`SparkEntry.oracleSql`) runs
that SQL in DuckDB on the same parquet files, the way tools/check.py
does. The two digests must agree, or nothing is written. Approximate
queries (no oracle) are recorded by row count only. Writes
perfbench/expected/query_slice.json.
"""
import json
import os
import shutil
import sys
import time

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import checks  # noqa: E402
import run  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main():
    classpath = run.build(time.time() + 880)
    work = os.path.join(run.WORK, "record-%d" % os.getpid())
    inputs = os.path.join(work, "inputs")
    os.makedirs(inputs)
    try:
        # one pass in declaration order is enough: only the warm pass is read
        with open(os.path.join(inputs, "order.txt"), "w") as f:
            f.write("q01_scan_filter\n")
        result, _ = run.run_jvm(classpath, "query_slice", 1, 0, inputs, work,
                                time.time() + run.JVM_TIMEOUT_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    con = duckdb.connect()
    for t in TABLES:
        con.execute("CREATE VIEW %s AS SELECT * FROM '%s/%s.parquet'" % (t, run.DATA, t))
    expected, bad = {}, []
    for name, got in sorted(result["observed"]["queries"].items()):
        if "error" in got:
            bad.append("%s: spark error %s" % (name, got["error"]))
            continue
        entry = {"module": got["module"], "rows": got["rows"]}
        if got.get("oracle"):
            cur = con.execute(got["oracle"])
            cols = [d[0] for d in cur.description]
            rows, dig = checks.digest(cols, cur.fetchall())
            if (rows, dig) != (got["rows"], got["digest"]):
                bad.append("%s: spark %d rows %s, duckdb %d rows %s" % (
                    name, got["rows"], got["digest"][:12], rows, dig[:12]))
                continue
            entry["digest"] = dig
        expected[name] = entry
    for b in bad:
        print("MISMATCH " + b)
    if bad:
        return 1
    os.makedirs(os.path.dirname(run.EXPECTED), exist_ok=True)
    with open(run.EXPECTED, "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")
    print("recorded %d queries, %d cross-checked against DuckDB" % (
        len(expected), sum("digest" in e for e in expected.values())))
    return 0


if __name__ == "__main__":
    sys.exit(main())
