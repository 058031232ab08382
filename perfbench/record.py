#!/usr/bin/env python3
"""Re-records perfbench/expected.json: the row count and content hash of
each analytics_floor query on the fixed tables (gen.fixed_tables).

    python3 perfbench/record.py      # from the checkout root

Run it only when the fixed tables (gen.FIXED_VERSION) or the query set
change, and check graft's results against the DuckDB oracle on the same
tables before committing the new values: write the tables with
`gen.fixed_tables(dir)`, run `graft.Verify dir out` with
SPARK_GRAFT_ONLY set to the query set, then `tools/check_oracle.py dir out`.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402


def main():
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", "analytics_floor",
         "--seed", "0", "--seconds", "0", "--record"],
        check=True, stdout=subprocess.PIPE, text=True).stdout
    rows = [json.loads(line) for line in out.splitlines() if line.startswith('{"name"')]
    if not rows:
        raise SystemExit("record: no query results")
    expected = {"fixed_version": gen.FIXED_VERSION,
                "queries": {r["name"]: {"rows": r["rows"], "hash": r["hash"]} for r in rows}}
    with open(os.path.join(HERE, "expected.json"), "w") as fh:
        json.dump(expected, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"recorded {len(rows)} queries")


if __name__ == "__main__":
    main()
