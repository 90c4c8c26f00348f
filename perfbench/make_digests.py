#!/usr/bin/env python3
"""Record the oracle digests the benchmark checks batch results against.

Usage (from the root of a checkout): python3 perfbench/make_digests.py [sf ...]

For each scale factor (default: 0.001 and 0.1) it generates the input
tables, takes the DuckDB oracle SQL of every batch job from the engine
(`SparkEntry.oracleSql`), runs it in DuckDB and stores the result's row
count and order-independent hash in perfbench/digests.json. Re-run it
only when gen_data.py or an oracle changes.
"""
import json
import os
import subprocess
import sys
import time

import run

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def main():
    sfs = sys.argv[1:] or ["0.001", "0.1"]
    work = os.path.join(run.HERE, ".work", "digests")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    oracle_file = os.path.join(work, "oracles.json")
    subprocess.run(run.java_cmd(run.build(), work) + ["--dump-oracles", oracle_file],
                   check=True)
    oracles = json.load(open(oracle_file))
    path = os.path.join(run.HERE, "digests.json")
    out = json.load(open(path)) if os.path.exists(path) else {}
    for sf in sfs:
        data = run.data_dir(sf)
        con = run.duck()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
        got = {}
        for name, sql in sorted(oracles.items()):
            t0 = time.time()
            got[name] = run.digest(con, f"({sql.strip().rstrip(';')})")
            print(f"sf{sf} {name}: {got[name]} ({time.time() - t0:.1f}s)", flush=True)
        out[f"sf{sf}"] = got
        with open(path, "w") as f:
            json.dump(out, f, indent=1, sort_keys=True)


if __name__ == "__main__":
    main()
