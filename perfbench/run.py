#!/usr/bin/env python3
"""graft benchmark: one command, two seeded workloads.

    python3 perfbench/run.py --workload <cdc_lakehouse|curation_analytics>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the program and the
benchmark harness into .bench_build/ (see build.sh). Each run generates its
inputs from the seed, starts one JVM with a local[nproc] Spark session
(one process, one closed-loop client), measures for --seconds, checks every
output, and prints as its last stdout line one JSON object:
{"correct", "attempted", "failed", "metrics"}. Untraced (--trace 0) the
metrics are the end-to-end metrics of BENCHMARK.json; traced (--trace 1)
the per-layer ones, derived from spans around every call into a layer and
from Spark's listener APIs. The line before it is a detailed report.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)

WORKLOADS = ("cdc_lakehouse", "curation_analytics")
SETUP_REPS = 3  # input generation runs this many times; setup_s counts the median
RUN_LIMIT_S = 170  # a run, after any build, ends within this or fails
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    try:
        import pyspark
        d = os.path.join(os.path.dirname(pyspark.__file__), "jars")
        if os.path.isdir(d):
            return d
    except ImportError:
        pass
    fail("no Spark jars found: set SPARK_HOME")


def source_stamp(root):
    """Hash of every source the build compiles, so a change rebuilds."""
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True) +
                   glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True) +
                   [os.path.join(HERE, "build.sh")])
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def build(root, build_dir, jars):
    if not os.path.isdir(os.path.join(root, "src/main/scala")):
        fail("no program sources (src/main/scala) in this directory: run from the repo root")
    stamp = source_stamp(root)
    classes = os.path.join(build_dir, f"classes-{stamp}")
    if os.path.exists(os.path.join(classes, ".complete")):
        return classes, stamp
    for old in glob.glob(os.path.join(build_dir, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    os.makedirs(build_dir, exist_ok=True)
    print(f"perfbench: building {classes}", file=sys.stderr)
    r = subprocess.run(["bash", os.path.join(HERE, "build.sh"), classes, jars], cwd=root,
                       stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        fail(f"build failed ({r.returncode})")
    return classes, stamp


def run_jvm(classes, jars, run_dir, workload, seed, seconds, trace, data_dir, deadline):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
    # a fixed-size heap, so peak RSS follows what the run touches rather
    # than when the collector chose to grow the heap; no perf-data file, so
    # the JVM writes nothing outside the run directory
    opts += ["-Xms2g", "-Xmx2g", "-XX:+UseG1GC", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={tmp}",
             f"-Dspark.local.dir={os.path.join(run_dir, 'spark-local')}",
             f"-Dgraft.catalog.warehouse={os.path.join(run_dir, 'warehouse')}",
             f"-Dgraft.events.cache={os.path.join(run_dir, 'events-cache')}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             "-Dspark.driver.host=localhost", "-Dspark.driver.bindAddress=127.0.0.1"]
    cmd = (["java"] + opts + ["-cp", f"{classes}:{jars}/*", "graftbench.Main",
                               "--workload", workload, "--seed", str(seed),
                               "--seconds", str(seconds), "--trace", str(trace),
                               "--out", run_dir, "--cores", str(os.cpu_count() or 1)] +
           (["--data", data_dir] if data_dir else []))
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=log, stderr=subprocess.STDOUT)

        def stop(signum, _frame):
            p.kill()
            p.wait()
            shutil.rmtree(run_dir, ignore_errors=True)
            sys.exit(128 + signum)
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            code = p.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            code = -9
        signal.signal(signal.SIGTERM, signal.SIG_DFL)
        signal.signal(signal.SIGINT, signal.default_int_handler)
    result = os.path.join(run_dir, "result.json")
    if code != 0 or not os.path.exists(result):
        with open(log_path) as fh:
            tail = fh.read()[-4000:]
        print(tail, file=sys.stderr)
        fail(f"{workload} run exited with {code}")
    with open(result) as fh:
        return json.load(fh)


def analytics_checks(run_dir, data_dir, repeatable):
    """DuckDB oracle for the oracle-covered queries; pass-to-pass output
    hashes for the approximate ones. Returns [(name, ok, detail)]."""
    import duckdb
    from oracle import compare, rows_hash
    checks = []
    con = duckdb.connect()
    con.execute(f"SET threads = {os.cpu_count() or 1}")
    for t in sorted(os.listdir(data_dir)):
        name = t[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data_dir, t)}/*.parquet')")
    with open(os.path.join(run_dir, "oracle_sql.json")) as fh:
        oracles = json.load(fh)
    for name, sql in sorted(oracles.items()):
        files = glob.glob(os.path.join(run_dir, "outputs", name, "*.parquet"))
        ok, detail = compare(con, files, sql) if files else (False, "no engine output")
        checks.append((f"analytics.{name}_matches_duckdb", ok, detail))
    for name in repeatable:
        a = glob.glob(os.path.join(run_dir, "outputs", name, "*.parquet"))
        b = glob.glob(os.path.join(run_dir, "outputs_repeat", name, "*.parquet"))
        if not a or not b:
            checks.append((f"analytics.{name}_repeatable", False, "missing output"))
            continue
        ha, hb = rows_hash(con, a), rows_hash(con, b)
        checks.append((f"analytics.{name}_repeatable", ha == hb, f"{ha[:12]} vs {hb[:12]}"))
    return checks


def metric_specs():
    path = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")
    with open(path) as fh:
        spec = json.load(fh)
    return spec["end_to_end"], spec["per_layer"]


def one_run(args, build_dir, classes, jars, trace, deadline):
    """Generate, run and check one workload; return the merged result."""
    run_dir = os.path.join(build_dir, "runs", f"{args.workload}-{args.seed}-{os.getpid()}-{trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        data_dir, gen_times, gen_props = None, [], {}
        if args.workload == "curation_analytics":
            import gen_corpus
            for rep in range(SETUP_REPS):
                t0 = time.perf_counter()
                d = os.path.join(run_dir, f"data{rep}")
                props = gen_corpus.generate(args.seed, d)
                gen_times.append(time.perf_counter() - t0)
                if rep == 0:
                    data_dir, gen_props = d, props
                else:
                    shutil.rmtree(d)
        res = run_jvm(classes, jars, run_dir, args.workload, args.seed, args.seconds, trace,
                      data_dir, deadline)
        if gen_times:
            res["e2e"]["setup_s"] += statistics.median(gen_times)
            res["setup"]["generation_s"] = gen_times
            res["generated"].update(gen_props)
            for name, ok, detail in analytics_checks(run_dir, data_dir,
                                                     res["report"]["repeatable"]):
                res["attempted"] += 1
                res["failed"] += 0 if ok else 1
                res["checks"].append({"name": name, "ok": ok, "detail": detail})
        if trace:
            traces = os.path.join(build_dir, "traces")
            os.makedirs(traces, exist_ok=True)
            span_file = os.path.join(run_dir, "spans.jsonl")
            if os.path.exists(span_file):
                shutil.copy(span_file, os.path.join(traces, f"{args.workload}-{args.seed}.spans.jsonl"))
        return res
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    root = os.getcwd()
    e2e_spec, layer_spec = metric_specs()
    jars = spark_jars()
    build_dir = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    classes, stamp = build(root, build_dir, jars)
    deadline = time.monotonic() + RUN_LIMIT_S

    results = os.path.join(build_dir, "results")
    cache = os.path.join(results, f"{stamp}-{args.workload}-{args.seconds}-{args.seed}.json")
    if args.trace:
        # tracing overhead = traced vs untraced end-to-end numbers of the
        # same build and workload: the same seed's untraced run when one is
        # cached, else the newest cached seed, else an untraced run now
        same_build = sorted(glob.glob(os.path.join(results, f"{stamp}-{args.workload}-{args.seconds}-*.json")),
                            key=os.path.getmtime)
        if os.path.exists(cache) or same_build:
            with open(cache if os.path.exists(cache) else same_build[-1]) as fh:
                plain = json.load(fh)
        else:
            plain = one_run(args, build_dir, classes, jars, 0, deadline)
    res = one_run(args, build_dir, classes, jars, args.trace, deadline)
    if not args.trace:
        os.makedirs(os.path.dirname(cache), exist_ok=True)
        with open(cache, "w") as fh:
            json.dump(res, fh)

    if args.trace:
        layers = res["per_layer"]
        for k in ("p50_ms", "throughput_per_s"):
            layers[f"trace.overhead_{k}_pct"] = 100.0 * (res["e2e"][k] / plain["e2e"][k] - 1)
        res["report"]["trace_overhead_vs_untraced_seed"] = plain["seed"]
        metrics = {m["name"]: {"value": float(layers.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in layer_spec}
    else:
        metrics = {m["name"]: {"value": float(res["e2e"][m["name"]]), "unit": m["unit"]}
                   for m in e2e_spec}
    bad = [k for k, v in metrics.items() if not math.isfinite(v["value"])]
    if bad:
        fail(f"non-finite metrics {bad}")
    res["failed_ratio"] = res["failed"] / max(res["attempted"], 1)
    print(json.dumps({k: res[k] for k in ("workload", "seed", "traced", "failed_ratio", "setup",
                                          "samples_ms", "host_steal_share", "gc_ms", "report",
                                          "generated", "checks")}))
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
