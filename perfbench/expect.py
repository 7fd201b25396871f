#!/usr/bin/env python3
"""Remake the stored DuckDB expectations of the battery workload.

    python3 perfbench/expect.py [oracle_sql.json]

Reads the battery's oracle SQL (by default the `oracle_sql.json` that the
last battery run wrote under perfbench/out/), runs each statement in
DuckDB over perfbench/data/sf0.001, and writes `expected/<query>.parquet`
plus `expected/index.json`, which keys each answer by a digest of its SQL
text and of the input files. Run a battery workload first when the query
subset or any oracle SQL changed.
"""
import glob
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import compare  # noqa: E402


def main():
    if len(sys.argv) > 1:
        src = sys.argv[1]
    else:
        runs = sorted(glob.glob(os.path.join(HERE, "out", "battery-*", "outputs", "oracle_sql.json")),
                      key=os.path.getmtime)
        if not runs:
            sys.exit("no oracle_sql.json: run `python3 perfbench/run.py --workload battery "
                     "--seed 1 --seconds 1 --trace 0` first")
        src = runs[-1]
    oracle = json.load(open(src))
    digest = compare.data_digest()
    os.makedirs(compare.EXPECTED, exist_ok=True)
    index = {}
    for name, sql in sorted(oracle.items()):
        df = compare.duckdb_answer(sql)
        df.to_parquet(os.path.join(compare.EXPECTED, f"{name}.parquet"))
        index[name] = compare.key(sql, digest)
        print(f"{name}: {len(df)} rows")
    with open(os.path.join(compare.EXPECTED, "index.json"), "w") as f:
        json.dump(index, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
