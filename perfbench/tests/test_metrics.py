#!/usr/bin/env python3
"""Smoke test of the benchmark on the tiny sf0.001 tables.

Usage (from the root of a checkout): python3 perfbench/tests/test_metrics.py

For every workload it makes an untraced and two traced runs with one
seed, and an untraced run with a second seed. Each run must end with a
result line whose outputs all check out, and must emit exactly the
metrics BENCHMARK.json names (end_to_end untraced, per_layer traced),
each a finite number; end-to-end metrics must also be above zero. The
two traced runs must agree exactly on every count (plan.*, spark.jobs,
spark.tasks, stage.fs_*_ops, stream.batches, ...), which later changes
can then cite as exact, and on stage.fs_bytes_written within 0.1%: the
bytes of the files the index writes are not exactly repeatable (two runs
of one seed have differed by 1 byte in 13.6 kB). Takes a few minutes,
almost all of it Spark start-up and the first build.
"""
import json
import math
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def run(workload, seed, trace):
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", "1", "--trace", str(trace), "--sf", "0.001"],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    assert out.returncode == 0, f"{workload} seed {seed} trace {trace}:\n{out.stderr[-3000:]}"
    return json.loads(out.stdout.strip().splitlines()[-1])


# per-layer metrics that repeat for one seed, and by what share they may
# differ: the counts (job concurrency excepted, it depends on timing)
# exactly, the bytes the index writes nearly
REPEATS = {"stage.fs_bytes_written": 1e-3}


def repeating(spec):
    return {m["name"]: REPEATS.get(m["name"], 0.0) for m in spec["per_layer"]
            if (m["unit"] == "count" and m["name"] != "spark.max_concurrent_jobs")
            or m["name"] in REPEATS}


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    repeat = repeating(spec)
    failures = []
    for w in spec["workloads"]:
        traced = []
        for seed, trace in ((1, 0), (1, 1), (1, 1), (2, 0)):
            res = run(w["name"], seed, trace)
            wanted = spec["per_layer"] if trace else spec["end_to_end"]
            names = {m["name"] for m in wanted}
            problems = []
            if set(res) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"keys {sorted(res)}")
            if not res["correct"] or res["failed"] != 0 or res["attempted"] < 1:
                problems.append(f"correct={res['correct']} failed={res['failed']}")
            if set(res["metrics"]) != names:
                problems.append(f"metric set differs: {sorted(set(res['metrics']) ^ names)}")
            for name, m in res["metrics"].items():
                v = m["value"]
                if not isinstance(v, (int, float)) or not math.isfinite(v):
                    problems.append(f"{name}={v}")
                elif not trace and v <= 0:
                    problems.append(f"{name}={v} is not above zero")
            if trace:
                traced.append(res["metrics"])
                if len(traced) == 2:
                    a, b = ({k: t[k]["value"] for k in repeat} for t in traced)
                    differ = [f"{k} {a[k]} != {b[k]}" for k, tol in sorted(repeat.items())
                              if abs(a[k] - b[k]) > tol * abs(a[k])]
                    if differ:
                        problems.append("counts differ between traced runs: " + ", ".join(differ))
            status = "ok" if not problems else "FAIL " + "; ".join(problems)
            print(f"{w['name']} seed={seed} trace={trace}: {status}", flush=True)
            if problems:
                failures.append(w["name"])
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
