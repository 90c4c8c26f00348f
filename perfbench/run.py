#!/usr/bin/env python3
"""Run one benchmark workload against the graft engine built from source.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
                             [--sf 0.1]

Workloads: etl_reports, corpus_prep, index_serve_ingest (see
BENCHMARK.json and perfbench/README.md). The first run in a checkout
compiles the engine and the harness with sbt and generates the input
tables; later runs reuse both. Every batch result the run writes is
checked against the row-count-plus-hash digest of its DuckDB oracle
(digests.json); the index workload checks its serves against fresh
compute inside the JVM. The last line of standard output is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are BENCHMARK.json's end_to_end metrics, with
--trace 1 its per_layer metrics. --sf 0.001 is a seconds-long smoke mode
for tests/test_metrics.py.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
STATE = os.path.join(HERE, ".state")
RUN_TIMEOUT_S = 170
# runnable by hand, but not in BENCHMARK.json: one pass takes 75-80 s,
# which a full benchmark round's 3420 s budget cannot hold
EXTRA_WORKLOADS = ["corpus_prep"]


class Stopped(Exception):
    """This process was asked to terminate."""


def stop(signum, _frame):
    raise Stopped(signum)


def wait_child(proc, timeout=None):
    """Wait for `proc`. If the wait ends early (timeout, or this process
    is terminated), `proc` is stopped and waited for before re-raising."""
    try:
        return proc.communicate(timeout=timeout)
    except BaseException:
        if proc.poll() is None:
            proc.terminate()  # a nested run.py passes it on to its own child
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        raise


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def engine_sources():
    return os.path.join(ROOT, "src", "main", "scala")


def fingerprint():
    h = hashlib.sha256()
    for base in (engine_sources(), os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt")):
        paths = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for p in paths:
            st = os.stat(p)
            h.update(f"{p}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compile with sbt once per source state; return the classpath."""
    stamp, cp_file = os.path.join(BUILD, "fingerprint"), os.path.join(BUILD, "classpath")
    fp = fingerprint()
    if os.path.exists(cp_file) and open(stamp).read() == fp:
        return open(cp_file).read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    for flag in ("-Dsbt.offline=true", "-Dsbt.override.build.repos=true",
                 "-Dsbt.server.autostart=false", f"-Djava.io.tmpdir={tmp}",
                 "-XX:-UsePerfData"):
        if flag not in opts:
            opts += " " + flag
    env["SBT_OPTS"] = opts.strip()
    log("building engine and harness with sbt")
    t0 = time.time()
    proc = subprocess.Popen(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
        stderr=subprocess.PIPE, text=True)
    out, err = wait_child(proc)
    lines = out.strip().splitlines()
    if proc.returncode != 0 or not lines or "scala-2.13/classes" not in lines[-1]:
        sys.stderr.write(out[-4000:] + err[-4000:])
        raise SystemExit("perfbench: build failed")
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp, "w") as f:
        f.write(fp)
    log(f"built in {time.time() - t0:.0f}s")
    return lines[-1].strip()


def data_dir(sf):
    """The input tables for scale factor `sf`, generated once per checkout."""
    out = os.path.join(HERE, ".data", f"sf{sf}")
    if not os.path.exists(os.path.join(out, "embeddings.parquet")):
        sys.path.insert(0, HERE)
        import gen_data
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        gen_data.generate(tmp, float(sf))
        shutil.rmtree(out, ignore_errors=True)
        os.rename(tmp, out)
    return out


def java_cmd(classpath, work):
    opens = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    cmd = ["java", "-Xmx4g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
           f"-Dderby.system.home={work}/derby-home", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for o in opens:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    return cmd + ["-cp", classpath, "graft.perfbench.Main"]


def run_jvm(cmd, work, timeout=RUN_TIMEOUT_S):
    """Run the JVM to completion; it is killed, and waited for, on timeout."""
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, cwd=work)
        try:
            wait_child(proc, timeout)
            rc = proc.returncode
        except subprocess.TimeoutExpired:
            rc = None
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit(f"perfbench: benchmark process {'timed out' if rc is None else f'exited {rc}'}")


def digest(con, relation):
    """(row count, order-independent hash) of a relation, columns taken in
    name order and every value compared by its text form, as
    tools/check.py compares a result with its oracle."""
    cols = sorted(con.sql(f"DESCRIBE SELECT * FROM {relation}").fetchall())
    parts = []
    for name, typ, *_ in cols:
        c = '"' + name.replace('"', '""') + '"'
        if typ.startswith("TIMESTAMP WITH TIME ZONE"):
            c = f"CAST({c} AS TIMESTAMP)"
        parts.append(f"coalesce(CAST({c} AS VARCHAR), '<null>')")
    row = "concat_ws(chr(31), " + ", ".join(parts) + ")"
    n, h = con.sql(f"SELECT count(*), coalesce(sum(hash({row})::HUGEINT), 0) "
                   f"FROM {relation}").fetchone()
    return [int(n), str(h)]


def duck():
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads=2")
    con.execute("SET TimeZone='UTC'")
    return con


def check_digests(checks, sf):
    """Count the written batch results that differ from their oracle digest."""
    if not checks:
        return 0, []
    expected = json.load(open(os.path.join(HERE, "digests.json")))[f"sf{sf}"]
    con = duck()
    bad = []
    for c in checks:
        got = digest(con, f"read_parquet('{c['path']}/*.parquet')")
        if got != expected.get(c["query"]):
            bad.append(f"{c['query']}: {got} != oracle {expected.get(c['query'])}")
    return len(bad), bad


def untraced_history(workload, sf, add=None):
    path = os.path.join(STATE, f"{workload}-sf{sf}.json")
    hist = json.load(open(path)) if os.path.exists(path) else []
    if add is not None:
        hist = (hist + [add])[-10:]
        os.makedirs(STATE, exist_ok=True)
        with open(path, "w") as f:
            json.dump(hist, f)
    return hist


def main():
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", default="0.1")
    a = ap.parse_args()
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    if a.workload not in [w["name"] for w in spec["workloads"]] + EXTRA_WORKLOADS:
        raise SystemExit(f"perfbench: unknown workload {a.workload}")
    if not os.path.isdir(engine_sources()):
        raise SystemExit("perfbench: engine sources (src/main/scala) not found")

    classpath = build()
    data = data_dir(a.sf)
    hist = untraced_history(a.workload, a.sf)
    if a.trace and not hist:
        # tracing overhead is this traced pass against untraced passes of
        # the same workload in this checkout; make one if there is none
        nested = subprocess.Popen([sys.executable, __file__, "--workload", a.workload,
                                   "--seed", str(a.seed), "--seconds", "1", "--trace", "0",
                                   "--sf", a.sf], stdout=subprocess.DEVNULL)
        wait_child(nested)
        if nested.returncode != 0:
            raise SystemExit("perfbench: untraced reference run failed")
        hist = untraced_history(a.workload, a.sf)
    work = os.path.join(HERE, ".work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    report_path = os.path.join(work, "report.json")
    cmd = java_cmd(classpath, work) + [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--data", data, "--work", work, "--out", report_path,
        "--warmup-data", data_dir("0.001")]
    run_jvm(cmd, work)
    report = json.load(open(report_path))

    n_bad, bad = check_digests(report["digest_checks"], a.sf)
    attempted = int(report["attempted"])
    failed = int(report["failed"]) + n_bad
    for e in report["errors"] + bad:
        log(f"error: {e}")
    if a.trace:
        report["layers"]["trace.overhead_frac"] = (
            report["first_cycle_s"] / statistics.median(hist) - 1)
    else:
        untraced_history(a.workload, a.sf, add=report["first_cycle_s"])

    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    values = {**report["metrics"], **report["layers"]}
    values["error_rate"] = failed / max(1, attempted)
    missing = [m["name"] for m in wanted if values.get(m["name"]) is None]
    if missing:
        raise SystemExit(f"perfbench: metrics not measured: {missing}")
    # a non-gating record of the run: seed, machine calibration, checks
    print(json.dumps({"workload": a.workload, "seed": a.seed, "sf": a.sf,
                      "cycles": report["cycles"], "cores": report["cores"],
                      "wall_s": report["wall_s"],
                      "calibration": report["calibration"],
                      "digest_checks": len(report["digest_checks"]),
                      "digest_mismatches": n_bad}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                    for m in wanted}}))


if __name__ == "__main__":
    try:
        main()
    except Stopped as e:
        sys.exit(128 + e.args[0])
