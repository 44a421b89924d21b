#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload llm_iterative --seed 1 --seconds 35 --trace 0

Run from the root of a source checkout. The first run compiles the
engine and the harness (sbt, into perfbench/target) and generates the
input tables into perfbench/.work/data; `--seed` permutes the order of
the queries within each warm pass. The harness runs in a fresh JVM, the
outputs are checked against the engine's DuckDB oracle SQL, and the
last line of standard output is one JSON object:
`correct`, `attempted`, `failed` and `metrics` (the end-to-end metrics,
or with `--trace 1` the per-layer ones). See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen_data  # noqa: E402
import metrics  # noqa: E402

SF = 0.01
# The inputs are one fixed data set, so runs with different seeds differ
# only in query order and measure the same work.
DATA_SEED = 42
WORK = os.path.join(HERE, ".work")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "perfbench.stamp")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
DEADLINE_S = 170  # seconds a run may take after the build
# Spark runs local[N] with N half the processors: the other half is left
# to the JIT compiler, GC, the chmod/readlink helper processes Hadoop's
# local file system spawns, and other load on a shared host. At N = all
# processors a run measured that contention as much as the engine.
CPUS = max(1, (os.cpu_count() or 2) // 2)
JVM_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
UNITS = {"setup_s": "s", "cold_pass_s": "s", "warm_pass_s": "s", "query_p50_s": "s",
         "query_tail_s": "s", "rss_peak_mb": "MB", "stream_rows_per_s": "rows/s",
         "batch_p50_s": "s", "batch_tail_s": "s", "failed_frac": "fraction"}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_digest() -> str:
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in (ENGINE_SRC, os.path.join(HERE, "src")):
        for d, _, fs in os.walk(top):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build() -> None:
    digest = sources_digest()
    if os.path.isdir(CLASSES) and os.path.exists(STAMP) and open(STAMP).read() == digest:
        return
    log("compiling the engine and the harness")
    rc = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile"],
                        cwd=HERE, stdout=sys.stderr, stdin=subprocess.DEVNULL).returncode
    if rc != 0:
        sys.exit(f"perfbench: build failed (sbt exit {rc})")
    with open(STAMP, "w") as f:
        f.write(digest)


def spark_jars() -> str:
    home = os.environ.get("SPARK_HOME", "")
    jars = os.path.join(home, "jars")
    if not home or not os.path.isdir(jars):
        sys.exit("perfbench: SPARK_HOME must name a Spark distribution")
    return os.path.join(jars, "*")


def run_harness(args, jars, tables_dir, stream_dir, run_dir, budget_s) -> dict:
    record_path = os.path.join(run_dir, "record.json")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, *[f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JVM_OPENS],
           # no hsperfdata file in the system temp dir: the run writes only
           # inside the checkout
           "-Xmx2g", f"-XX:ParallelGCThreads={CPUS}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           "-cp", os.pathsep.join([CLASSES, jars]), "perfbench.Harness",
           args.workload, tables_dir, stream_dir, run_dir, str(args.seed),
           str(args.seconds), str(args.trace), str(CPUS), record_path]
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stdin=subprocess.DEVNULL, cwd=run_dir)
    try:
        rc = proc.wait(timeout=budget_s)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        sys.exit("perfbench: harness ran past its time budget")
    if rc != 0 or not os.path.exists(record_path):
        sys.exit(f"perfbench: harness failed (exit {rc})")
    with open(record_path) as f:
        return json.load(f)


def counts(record: dict, results: dict) -> tuple:
    """(attempted, failed): query executions for batch workloads, input
    rows for the stream, where a watermark-dropped row is a failure and
    a drain whose table is wrong fails every row it was fed."""
    steps = [s for p in record["passes"] for s in p["steps"]]
    bad_checks = sum(1 for v in results.values() if v)
    if record["workload"] != "stream_upsert":
        return len(steps), sum(not s["ok"] for s in steps) + bad_checks
    rows = gen_data.STREAM_ROWS
    dropped = sum(b["dropped_late"] for s in steps for b in s.get("batches", []))
    return rows * len(steps), dropped + rows * (sum(not s["ok"] for s in steps) + bad_checks)


def trace_layers(record: dict, bound: float) -> tuple:
    """Per-layer metrics of a traced run and the reconciliation misses."""
    passes = record["passes"]
    traced = [p for p in passes if p["traced"]]
    warm_traced = [p for p in traced if p["pass"] > 0]
    warm_plain = [p for p in passes if p["pass"] > 1 and not p["traced"]]
    per_pass = [metrics.pass_layers(p) for p in warm_traced]
    out = {k: statistics.median(d[k] for d in per_pass) for k in per_pass[0]}
    cold = metrics.pass_layers(passes[0])
    for k in ("operators.construct_s", "operators.construct_jobs", "spark.jobs",
              "spark.job_s", "spark.driver_only_s", "spark.codegen_compile_s",
              "sources.schema_jobs", "plans.planning_s"):
        out[f"cold.{k}"] = cold[k]
    misses = []
    for p in traced:
        for s in p["steps"]:
            for m in metrics.reconcile(s, metrics.step_layers(s), bound):
                misses.append(f"pass {p['pass']} {s['name']}: {m}")
    t_wall = statistics.median(p["wall_s"] for p in warm_traced)
    u_wall = statistics.median(p["wall_s"] for p in warm_plain)
    out["trace.warm_pass_s"] = t_wall
    out["trace.overhead_frac"] = t_wall / u_wall - 1
    out["trace.unreconciled_steps"] = len(misses)
    out["host.foreign_cpu_s"] = sum(p["foreign_cpu_s"] for p in passes)
    return out, misses


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        sys.exit(f"perfbench: unknown workload {args.workload}")
    if not os.path.isdir(ENGINE_SRC):
        sys.exit(f"perfbench: no engine sources at {os.path.relpath(ENGINE_SRC, ROOT)}; "
                 "run from the root of a source checkout")

    jars = spark_jars()
    build()
    started = time.time()  # the 180 s limit of a run excludes a first build
    data_dir = os.path.join(WORK, "data", f"seed{DATA_SEED}-sf{SF}")
    gen_data.write(data_dir, DATA_SEED, SF)
    tables_dir, stream_dir = os.path.join(data_dir, "tables"), os.path.join(data_dir, "stream")
    run_dir = os.path.join(WORK, "run", args.workload)
    subprocess.run(["rm", "-rf", run_dir], check=True)
    os.makedirs(run_dir)
    # flush earlier runs' dirty pages now, so their writeback does not
    # compete with this run's passes
    os.sync()

    record = run_harness(args, jars, tables_dir, stream_dir, run_dir,
                         DEADLINE_S - (time.time() - started))
    results = check.check(record, tables_dir, stream_dir, os.path.join(data_dir, "oracle"))
    for name, why in sorted(results.items()):
        log(f"check {name}: {why or 'OK'}")
    log(f"run finished in {time.time() - started:.1f} s")
    attempted, failed = counts(record, results)
    # an output the harness could not export for checking is a failure too
    expected = 2 if args.workload == "stream_upsert" else len(record["passes"][0]["steps"])
    failed += max(0, expected - len(results))

    e2e = metrics.end_to_end(record)
    e2e["failed_frac"] = failed / attempted
    bound = {m["name"]: m["bound"] for m in spec["end_to_end"]}["warm_pass_s"]
    for p in record["passes"]:
        print(f"pass {p['pass']} {'traced' if p['traced'] else 'untraced'}: "
              f"{p['wall_s']:.3f} s, foreign cpu {p['foreign_cpu_s']:.2f} s")
    print(f"foreign_cpu_s {sum(p['foreign_cpu_s'] for p in record['passes']):.2f} s")
    for k, unit in UNITS.items():
        if k in e2e:
            note = ""
            if "tail" in k:
                p = e2e["tail_percentile"]
                note = (f" (p{p} of {e2e['samples']} samples)" if p else
                        f" (max of {e2e['samples']} samples: too few for a percentile"
                        " with 10 beyond it)")
            print(f"{k} {e2e[k]:.6g} {unit}{note}")

    if args.trace:
        layers, misses = trace_layers(record, bound)
        for m in misses:
            log(f"unreconciled: {m}")
        names = [m["name"] for m in spec["per_layer"]]
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        for k in names:
            print(f"{k} {layers[k]:.6g} {units[k]}")
        out = {k: {"value": layers[k], "unit": units[k]} for k in names}
    else:
        out = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]} for m in spec["end_to_end"]}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": out}))


if __name__ == "__main__":
    main()
