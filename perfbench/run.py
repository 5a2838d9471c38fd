#!/usr/bin/env python3
"""The repository's benchmark: the ETL's lake life cycle and a query mix.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload etl --seed 1 --seconds 5 --trace 0

Builds the harness (perfbench/build.sbt, which compiles the repository's
own sources) when the sources changed, runs one workload in one JVM on
local[<cpus>] with a single closed-loop client, checks the outputs and
prints, as the last line, one JSON object with `correct`, `attempted`,
`failed` and `metrics`: the end-to-end metrics of BENCHMARK.json with
`--trace 0`, its per-layer metrics with `--trace 1`. `etl` runs a fixed
sequence of operations whatever `--seconds` says; `query_mix` repeats
whole passes over its keys until `--seconds` have passed. The line before
the result is the run's full record (run conditions, the metrics under
their workload names, per-sample figures); it is also kept, with the spans
of a traced run, under `.perfbench/results/`. Exits non-zero when a check
fails.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
DATA = os.path.join(HERE, "data", "sf0.01")
WORKLOADS = ("etl", "query_mix")
HEAP = "3g"
JVM_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 840
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def fingerprint():
    """Hash of every input of the build: the program's and the harness's."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in os.walk(top):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile with sbt when the sources changed; returns the classpath."""
    for need in ("build.sbt", os.path.join("src", "main")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no {need} at {ROOT}: run from the root of a checkout of the repository")
    fp = fingerprint()
    out = os.path.join(STATE, "build")
    cp_file = os.path.join(out, "classpath")
    fp_file = os.path.join(out, "fingerprint")
    if os.path.exists(cp_file) and os.path.exists(fp_file) and open(fp_file).read() == fp:
        return open(cp_file).read()
    os.makedirs(out, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "-Dsbt.offline=true" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    log = os.path.join(out, "sbt.log")
    with open(log, "w") as fh:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=fh, text=True,
            timeout=BUILD_TIMEOUT_S, stdin=subprocess.DEVNULL)
        fh.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or ".jar" not in lines[-1]:
        fail(f"build failed, see {log}")
    with open(cp_file, "w") as fh:
        fh.write(lines[-1].strip())
    with open(fp_file, "w") as fh:
        fh.write(fp)
    return lines[-1].strip()


def load1():
    try:
        with open("/proc/loadavg") as fh:
            return float(fh.read().split()[0])
    except OSError:
        return None


def cpu_times():
    """(steal, total) jiffies of all CPUs, to tell host contention apart."""
    try:
        with open("/proc/stat") as fh:
            xs = [int(x) for x in fh.readline().split()[1:9]]
        return xs[7], sum(xs)
    except (OSError, IndexError, ValueError):
        return None


def git_commit():
    try:
        p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return p.stdout.strip() if p.returncode == 0 else None
    except OSError:
        return None


def run_jvm(cp, args, run_dir):
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] + [
        f"-Xmx{HEAP}", f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
        "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Main"] + args
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as fh:
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=fh, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            code = None
    return code, log


def oracle_check(dumps, run_dir):
    """Compare each dumped key with its DuckDB oracle through the
    repository's scripts/check.py; a key without an oracle must return
    rows. Returns the failure messages."""
    tmp = os.path.join(run_dir, "tmp")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ.setdefault("CHECK_DUCKDB_THREADS", "2")
    sys.dont_write_bytecode = True
    sys.path.insert(0, os.path.join(ROOT, "scripts"))
    import check
    import pandas as pd

    failures = []
    for d in dumps["keys"]:
        key, sql = d["key"], d["sql"]
        if sql is None:
            try:
                if len(pd.read_parquet(os.path.join(dumps["dir"], key))) == 0:
                    failures.append(f"{key}: no oracle and no rows")
            except Exception as e:  # an unreadable dump is a failed check
                failures.append(f"{key}: {type(e).__name__}: {e}")
            continue
        record, line = check.check_one(DATA, dumps["dir"], key, sql)
        if record["err"] is not None:
            failures.append(line)
    return failures


def measure(a, spec, cp, run_dir, results):
    """One run of the harness JVM; returns the record and the result line."""
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    load_start = load1()
    cpu_start = cpu_times()
    t0 = time.monotonic()
    code, log = run_jvm(cp, [a.workload, str(a.seed), str(a.seconds), str(a.trace), run_dir, DATA], run_dir)
    wall = time.monotonic() - t0
    cpu_end = cpu_times()
    steal = None
    if cpu_start and cpu_end and cpu_end[1] > cpu_start[1]:
        steal = (cpu_end[0] - cpu_start[0]) / (cpu_end[1] - cpu_start[1])
    shutil.copy(log, os.path.join(results, f"{tag}.log"))
    result_file = os.path.join(run_dir, "result.json")
    if code != 0 or not os.path.exists(result_file):
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail(f"harness JVM {'timed out' if code is None else f'exited with {code}'}", 1)
    with open(result_file) as fh:
        res = json.load(fh)

    failures = list(res["failures"])
    attempted = res["attempted"]
    named = res["named"]
    dumps = named.pop("oracle", None)
    if dumps is not None:
        failures += oracle_check(dumps, run_dir)
        attempted += len(dumps["keys"])
        named["oracle_checked"] = len(dumps["keys"])
        named["oracle_sql_keys"] = sum(1 for d in dumps["keys"] if d["sql"] is not None)

    if a.trace:
        shutil.copy(os.path.join(run_dir, "spans.jsonl"), os.path.join(results, f"{tag}.spans.jsonl"))
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    values = res["layers"] if a.trace else res["metrics"]
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing:
        fail(f"harness did not report {missing}", 1)
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}

    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "cpus": res["cpus"], "heap_bytes": res["heap_bytes"],
        "sf": "sf0.01" if a.workload == "query_mix" else "LogGen corpus",
        "load1_start": load_start, "load1_end": load1(), "cpu_steal_share": steal,
        "git_commit": git_commit(), "source_fingerprint": fingerprint(),
        "wall_s": wall, "measured_s": res["measured_s"], "warm_s": res["warm_s"],
        "input_gen_s": res["input_gen_s"], "check_s": res["check_s"],
        "metrics": res["metrics"], "named": named, "layers": res["layers"],
        "fail_ratio": len(failures) / attempted, "failures": failures,
    }
    if a.trace:
        # tracing overhead: this traced run against the kept untraced run
        # of the same workload and seed, if that ran the same sources
        base = os.path.join(results, f"{a.workload}-seed{a.seed}-trace0.json")
        untraced = None
        if os.path.exists(base):
            with open(base) as fh:
                untraced = json.load(fh)
        if untraced is None:
            record["trace_overhead"] = "no untraced run of this workload and seed was kept"
        elif untraced.get("source_fingerprint") != record["source_fingerprint"]:
            record["trace_overhead"] = "the kept untraced run was built from other sources"
        else:
            record["trace_overhead"] = {k: v - untraced["metrics"][k] for k, v in res["metrics"].items()
                                        if k in untraced["metrics"]}
    with open(os.path.join(results, f"{tag}.json"), "w") as fh:
        json.dump(record, fh, indent=1)
    line = {"correct": not failures, "attempted": attempted, "failed": len(failures), "metrics": metrics}
    return record, line


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()

    bench_file = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(bench_file):
        fail("no BENCHMARK.json at the root of the checkout")
    with open(bench_file) as fh:
        spec = json.load(fh)
    cp = build()

    # a fresh run dir, java.io.tmpdir included, so no scratch file or seed
    # marker of an earlier run is reused
    run_dir = os.path.join(STATE, "runs", f"{a.workload}-seed{a.seed}-trace{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    results = os.path.join(STATE, "results")
    os.makedirs(results, exist_ok=True)
    try:
        record, line = measure(a, spec, cp, run_dir, results)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    for f in record["failures"]:
        print(f"perfbench: FAILED {f}", file=sys.stderr)
    print(json.dumps(record))
    print(json.dumps(line))
    sys.exit(0 if line["correct"] else 1)


if __name__ == "__main__":
    main()
