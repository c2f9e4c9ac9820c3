#!/usr/bin/env python3
"""EWAS and curation benchmark of graft.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first call builds the library and the
benchmark with sbt (offline) into .bench_build/; later calls reuse the build
while the sources are unchanged. Each call starts one benchmark JVM on
local[N], N = min(4, cores), which generates the seeded inputs, times the
workload's chain and checks every run (see src/main/scala/perfbench/Main.scala).
For curation_e2e this script then replays each query's registered oracle SQL
in DuckDB over the same generated tables and compares the rows.

The last line of standard output is one JSON object: correct, attempted,
failed and metrics (the end-to-end metrics with --trace 0, the per-layer
metrics with --trace 1), with names and units from perfbench/manifest.json.

    python3 perfbench/run.py --write-benchmark-json

writes BENCHMARK.json at the checkout root from the same manifest.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
LAUNCH = os.path.join(BUILD, "launch.txt")
STAMP = os.path.join(BUILD, "launch.stamp")
# Sources whose change makes the build stale.
SOURCES = ["build.sbt", "project/build.properties", "src/main",
           "perfbench/build.sbt", "perfbench/project/build.properties", "perfbench/src/main"]
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170
JVM_HEAP = "3g"


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def manifest():
    with open(os.path.join(HERE, "manifest.json")) as f:
        return json.load(f)


def digest():
    h = hashlib.sha256()
    for rel in SOURCES:
        path = os.path.join(ROOT, rel)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, n) for d, _, ns in os.walk(path) for n in ns)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile library and benchmark; return (classpath, JVM options)."""
    for rel in ("build.sbt", "src/main/scala/graft"):
        if not os.path.exists(os.path.join(ROOT, rel)):
            die(f"{rel} not found: run from the root of a graft checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        die("sbt and java are needed to build the benchmark")
    os.makedirs(BUILD, exist_ok=True)
    want = digest()
    have = open(STAMP).read() if os.path.isfile(STAMP) else None
    if have != want or not os.path.isfile(LAUNCH):
        with open(os.path.join(BUILD, "build.log"), "w") as log:
            rc = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            f"-Dperfbench.launchSpec={LAUNCH}", "launchSpec"],
                           HERE, log, BUILD_TIMEOUT_S, sbt_env())
        if rc != 0:
            die(f"build failed (exit {rc}); see {os.path.join(BUILD, 'build.log')}")
        with open(STAMP, "w") as f:
            f.write(want)
    lines = open(LAUNCH).read().splitlines()
    return lines[0], [l for l in lines[1:] if l]


def run_child(cmd, cwd, log, timeout, env=None):
    """Run cmd in its own process group; kill the group on timeout."""
    proc = subprocess.Popen(cmd, cwd=cwd, stdout=log, stderr=subprocess.STDOUT,
                            env=env, start_new_session=True)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return -signal.SIGKILL
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise


def oracle_failures(work):
    """Compare each exported curation result with its oracle SQL in DuckDB,
    as the repository's oracle harness does: columns and rows sorted, dtypes
    equal, values exact."""
    import duckdb
    import pandas as pd

    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    con.sql("CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{work}/input/documents.parquet/*.parquet')")
    with open(os.path.join(work, "export", "oracle_sql.json")) as f:
        oracle = json.load(f)
    bad = []
    for name, sql in sorted(oracle.items()):
        try:
            exp = con.sql(sql).df()
            act = pd.read_parquet(os.path.join(work, "export", name))
            exp = exp.reindex(sorted(exp.columns), axis=1)
            act = act.reindex(sorted(act.columns), axis=1)
            if list(exp.columns) != list(act.columns):
                bad.append(f"{name}: columns {list(exp.columns)} != {list(act.columns)}")
                continue
            exp = exp.sort_values(by=list(exp.columns)).reset_index(drop=True)
            act = act.sort_values(by=list(act.columns)).reset_index(drop=True)
            if len(exp) != len(act):
                bad.append(f"{name}: {len(act)} rows, oracle {len(exp)}")
                continue
            dtypes = [c for c in exp.columns if exp[c].dtype != act[c].dtype]
            if dtypes:
                bad.append(f"{name}: dtypes differ in {dtypes}")
                continue
            pd.testing.assert_frame_equal(exp, act, check_dtype=False, check_exact=True)
        except AssertionError as e:
            bad.append(f"{name}: {str(e).splitlines()[0]}")
        except Exception as e:  # an oracle that cannot run is a failed check
            bad.append(f"{name}: {type(e).__name__}: {str(e)[:200]}")
    return bad


def report(per_layer):
    """Per-layer table of the traced runs, one call per line, on stderr."""
    calls = {}
    for name, value in per_layer.items():
        call, _, counter = name.rpartition(".")
        calls.setdefault(call, {})[counter] = value
    cols = ["wall_s", "driver_s", "task_s", "gc_s", "jobs", "stages", "shuffle_mb",
            "rows_per_input_row"]
    print(f"{'call':36s}" + "".join(f"{c:>12s}" for c in cols), file=sys.stderr)
    for call, counters in sorted(calls.items()):
        if call == "trace":
            continue
        print(f"{call:36s}" + "".join(
            f"{counters[c]:12.3f}" if c in counters else f"{'':12s}" for c in cols), file=sys.stderr)
    print(f"tracing overhead per run: {per_layer['trace.overhead_s']:.3f} s", file=sys.stderr)


def write_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json"), "w") as f:
        json.dump(manifest()["benchmark"], f, indent=2)
        f.write("\n")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1))
    ap.add_argument("--write-benchmark-json", action="store_true")
    args = ap.parse_args()
    if args.write_benchmark_json:
        write_benchmark_json()
        return
    if None in (args.workload, args.seed, args.seconds, args.trace):
        die("--workload, --seed, --seconds and --trace are required")
    man = manifest()
    spec = man["benchmark"]
    if args.workload not in man["workloads"]:
        die(f"unknown workload {args.workload}; known: {', '.join(man['workloads'])}")
    if not math.isfinite(args.seconds) or args.seconds <= 0:
        die("--seconds must be positive")

    cp, jvm_opts = build()
    started = time.time()
    work = os.path.join(BUILD, "runs", f"{args.workload}-{args.seed}-{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # a fixed heap, touched at start: a heap that grows or faults in pages
    # during the first runs slows them unevenly
    cmd = (["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:+AlwaysPreTouch",
            f"-Djava.io.tmpdir={work}/tmp"] + jvm_opts +
           ["-cp", cp, "perfbench.Main", "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--work", work])
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    with open(os.path.join(work, "jvm.log"), "w") as log:
        rc = run_child(cmd, ROOT, log, RUN_TIMEOUT_S - 10, env)
    result_path = os.path.join(work, "result.json")
    if rc != 0 or not os.path.isfile(result_path):
        die(f"benchmark JVM failed (exit {rc}); see {os.path.join(work, 'jvm.log')}")
    with open(result_path) as f:
        result = json.load(f)

    attempted, failed = result["attempted"], result["failed"]
    failures = list(result["gate_failures"])
    if args.workload == "curation_e2e":
        bad = oracle_failures(work)
        if bad:
            # every run returned the rows checked here, so every run fails
            failed = attempted
            failures += [f"oracle: {b}" for b in bad]
    for f in failures[:10]:
        print(f"gate: {f}", file=sys.stderr)

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    measured = result["per_layer"] if args.trace else result["end_to_end"]
    unknown = sorted(set(measured) - {m["name"] for m in wanted})
    if unknown and args.trace and args.workload in [w["name"] for w in spec["workloads"]]:
        die(f"metrics missing from manifest.json: {unknown}")
    # A call the workload does not make reads 0.
    metrics = {m["name"]: {"value": measured.get(m["name"], 0.0), "unit": m["unit"]}
               for m in wanted}
    if args.trace:
        report(measured)
    print(f"perfbench: {args.workload} seed {args.seed}: {result['measured_runs']} measured runs, "
          f"{time.time() - started:.1f} s", file=sys.stderr)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
