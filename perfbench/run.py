#!/usr/bin/env python3
"""graft benchmark: one command, three workloads, outputs checked.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Builds the library together with the harness from source (sbt, into
$CARGO_TARGET_DIR or .bench_build), generates the workload's inputs
from the seed under one temp root inside the checkout, runs the
workload in one JVM, checks its outputs, deletes the temp root and
prints the report. The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones.
See perfbench/WORKLOADS.md for what each workload measures.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPEC = os.path.join(ROOT, "BENCHMARK.json")
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src", "main", "scala")
BUILD = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
CLASSES = os.path.join(BUILD, "sbt-target", "scala-2.13", "classes")
DISK_FLOOR = 2 << 30  # bytes of free disk below which a run stops, failed
PIPELINE_SF = 0.01    # scale factor of the generated pipeline tables
JVM_TIMEOUT = 160     # seconds; the whole run must end within 180

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def source_stamp():
    h = hashlib.sha256()
    files = []
    for base in (LIB_SRC, BENCH_SRC):
        for d, _, fs in os.walk(base):
            files += [os.path.join(d, f) for f in fs if f.endswith((".scala", ".java"))]
    files += [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile library + harness unless the classes match the sources."""
    if not os.path.isdir(LIB_SRC):
        sys.exit(f"perfbench: no library sources at {os.path.relpath(LIB_SRC, ROOT)}; "
                 "run from the root of a graft checkout")
    stamp = source_stamp()
    stamp_file = os.path.join(BUILD, "classes.stamp")
    if os.path.isdir(CLASSES) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return
    os.makedirs(BUILD, exist_ok=True)
    # every JVM sbt starts (its launcher probes `java` too) skips the
    # JVM's shared perf-data file
    # sbt's global state and temp files stay in the build dir too
    tmp = os.path.join(BUILD, "sbt-tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, PERFBENCH_BUILD_DIR=BUILD, JAVA_TOOL_OPTIONS="-XX:-UsePerfData",
               TMPDIR=tmp)
    env.setdefault("COURSIER_MODE", "offline")
    t0 = time.time()
    log("perfbench: building library + harness with sbt ...")
    r = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         f"-Dsbt.global.base={os.path.join(BUILD, 'sbt-global')}",
         f"-Djava.io.tmpdir={tmp}", f"-Djna.tmpdir={tmp}", "compile"],
        cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        sys.exit(f"perfbench: build failed (sbt exit {r.returncode})")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    log(f"perfbench: built in {time.time() - t0:.1f}s")


def java_cmd(main, tmp, args, heap="3g"):
    """The benchmark JVM; its temp files go under `tmp`."""
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home:
        sys.exit("perfbench: SPARK_HOME is not set")
    return ["java", *ADD_OPENS, f"-Xmx{heap}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'conf', 'log4j2.properties')}",
            "-cp", f"{CLASSES}:{os.path.join(spark_home, 'jars', '*')}",
            main] + [x for k, v in args.items() for x in (f"--{k}", str(v))]


def generate_sf(out, seed, sf):
    """Generate the pipeline's tables with the repo's tools/gen_sf.py.

    gen_sf copies the two scale-invariant dimension tables from a
    reference directory; they are written here first (25 nations over
    5 regions) so generation reads nothing outside the checkout.
    Returns seconds taken.
    """
    import contextlib
    import importlib.util
    import pyarrow as pa
    import pyarrow.parquet as pq
    t0 = time.time()
    ref = os.path.join(out, "_dims")
    os.makedirs(ref)
    pq.write_table(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        os.path.join(ref, "nation.parquet"))
    pq.write_table(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        os.path.join(ref, "region.parquet"))
    spec = importlib.util.spec_from_file_location("gen_sf", os.path.join(ROOT, "tools", "gen_sf.py"))
    gen = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen)
    gen.REF = ref
    argv = sys.argv
    sys.argv = ["gen_sf.py", "--sf", str(sf), "--out", out, "--seed", str(seed)]
    try:
        with contextlib.redirect_stdout(sys.stderr):
            gen.main()
    finally:
        sys.argv = argv
    shutil.rmtree(ref)
    return time.time() - t0


def oracle_check(result, data, dumps):
    """Compare the cold pass's query outputs with the DuckDB oracle SQL
    through the repo's tools/check.py (exact match after sorting columns
    by name and rows by value). Every timed pass reproduced the checked
    output's digest, so a query that fails here failed in every pass.
    """
    if not os.path.exists(os.path.join(dumps, "oracle_sql.json")):
        return
    r = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check.py"), data, dumps],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    bad = [ln for ln in r.stdout.splitlines() if ln.startswith(("[FAIL", "[ERR"))]
    summary = (r.stdout.strip().splitlines() or ["no output"])[-1]
    result["notes"].append(f"oracle check: {summary}")
    if r.returncode != 0 and not bad:
        bad = [f"tools/check.py exited with {r.returncode}"]
    passes = int(result["metrics"].get("passes", {}).get("value") or 1)
    for ln in bad:
        result["notes"].append(f"FAILED: {ln}")
        result["failed"] += passes


def report_overhead(a, spec, metrics):
    """Keep this run's metrics; after a traced run, print the tracing
    overhead against the untraced run of the same workload and seed."""
    results = os.path.join(BUILD, "results")
    os.makedirs(results, exist_ok=True)
    with open(os.path.join(results, f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as fh:
        json.dump(metrics, fh)
    base_file = os.path.join(results, f"{a.workload}-seed{a.seed}-trace0.json")
    if not a.trace or not os.path.exists(base_file):
        return
    base = json.load(open(base_file))
    for m in spec["end_to_end"]:
        n = m["name"]
        if n in base and n in metrics and base[n]["value"]:
            d = metrics[n]["value"] - base[n]["value"]
            log(f"  tracing overhead {n:28s} {d:+.6g} {m['unit']} ({d / base[n]['value']:+.1%})")


def dir_bytes(path):
    total = 0
    for d, _, fs in os.walk(path):
        for f in fs:
            try:
                total += os.lstat(os.path.join(d, f)).st_size
            except OSError:
                pass
    return total


def run_jvm(cmd, scratch):
    """Run the JVM in its own process group; kill the group on timeout.
    Spark's local dirs go under `scratch` even if the environment names
    others."""
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(scratch, "spark-local"), TMPDIR=scratch)
    p = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, env=env,
                         start_new_session=True)
    try:
        return p.wait(timeout=JVM_TIMEOUT)
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def main():
    # a terminated run still stops its JVM and deletes its temp root
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.exists(SPEC):
        sys.exit("perfbench: BENCHMARK.json not found; run from the root of a graft checkout")
    spec = json.load(open(SPEC))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    # the run length the bounds in BENCHMARK.json were set for
    ap.add_argument("--seconds", type=float, default=spec["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    build()
    if a.selftest:
        tmp = os.path.join(BUILD, "selftest")
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        try:
            code = run_jvm(java_cmd("perfbench.SelfTest", tmp, {}, heap="1g"), tmp)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
        sys.exit(code)
    names = [w["name"] for w in spec["workloads"]]
    if a.workload not in names:
        sys.exit(f"perfbench: unknown workload {a.workload!r}; one of {names}")

    run_root = os.path.join(BUILD, f"run-{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_root, ignore_errors=True)
    os.makedirs(os.path.join(run_root, "jtmp"))
    result = None
    free = shutil.disk_usage(run_root).free
    try:
        if free < DISK_FLOOR:
            sys.exit(f"perfbench: only {free} bytes free, below the {DISK_FLOOR} floor")
        out = os.path.join(run_root, "result.json")
        jargs = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
                 "trace": a.trace, "root": run_root, "out": out, "disk-floor": DISK_FLOOR}
        if a.workload == "pipeline_batch":
            jargs["data"] = os.path.join(run_root, "data")
            jargs["gen-seconds"] = generate_sf(jargs["data"], a.seed, PIPELINE_SF)
        if a.trace:
            jargs["trace-file"] = os.path.join(BUILD, "traces", f"{a.workload}-seed{a.seed}.jsonl")
        t0 = time.time()
        code = run_jvm(java_cmd("perfbench.Main", os.path.join(run_root, "jtmp"), jargs), run_root)
        log(f"perfbench: JVM ran {time.time() - t0:.1f}s")
        if code != 0 or not os.path.exists(out):
            sys.exit(f"perfbench: benchmark JVM exited with {code}")
        result = json.load(open(out))
        if a.workload == "pipeline_batch":
            t0 = time.time()
            oracle_check(result, jargs["data"], os.path.join(run_root, "check"))
            log(f"perfbench: oracle check took {time.time() - t0:.1f}s")
    finally:
        shutil.rmtree(run_root, ignore_errors=True)
    leftover = dir_bytes(run_root) if os.path.exists(run_root) else 0
    result["metrics"]["disk.leftover_bytes"] = {"value": leftover, "unit": "bytes"}
    if leftover:
        result["failed"] += 1
        result["notes"].append(f"FAILED: {leftover} bytes left under the temp root")

    attempted, failed = result["attempted"], result["failed"]
    ms = result["metrics"]
    ms["failed_share"] = {"value": failed / max(1, attempted), "unit": "share"}
    for n in result["notes"]:
        log(f"  {n}")
    for k, v in ms.items():
        log(f"  {k:42s} {v['value']!s:>24} {v['unit']}")
    report_overhead(a, spec, ms)
    want = spec["per_layer" if a.trace else "end_to_end"]
    missing = [m["name"] for m in want if ms.get(m["name"], {}).get("value") is None]
    if missing:
        sys.exit(f"perfbench: run did not produce {missing}")
    verdict = {"correct": failed == 0 and attempted > 0, "attempted": attempted,
               "failed": failed,
               "metrics": {m["name"]: {"value": ms[m["name"]]["value"], "unit": m["unit"]}
                           for m in want}}
    print(json.dumps(verdict))


if __name__ == "__main__":
    main()
