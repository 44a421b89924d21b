"""Turn the harness's raw run record into end-to-end and per-layer metrics.

Pure functions over the record, so they are tested without Spark
(`python3 -m unittest discover -s perfbench`).
"""
import math
import statistics

SCHEMA_SITES = ("Tables.scala", "Csv.scala", "Formats.scala")
TAIL_CANDIDATES = (99, 95, 90, 75, 50)
WARM_PASSES = 3  # passes after the cold one that the warm metrics use


def union_s(intervals) -> float:
    """Length in seconds of the union of [start_ms, end_ms] intervals.
    Jobs overlap (broadcasts run beside the job that waits on them), so
    a plain sum overstates the time spent inside jobs."""
    total, end = 0, None
    for s, e in sorted((s, e) for s, e in intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total / 1e3


def percentile(values, p: float) -> float:
    """Nearest-rank percentile."""
    v = sorted(values)
    return v[max(0, math.ceil(p / 100 * len(v)) - 1)]


def tail(values):
    """(p, value) for the highest candidate percentile with at least ten
    samples beyond it; (None, max) when the sample supports none."""
    n = len(values)
    for p in TAIL_CANDIDATES:
        if n - math.ceil(p / 100 * n) >= 10:
            return p, percentile(values, p)
    return None, max(values)


def step_layers(step: dict) -> dict:
    """Per-layer values of one traced step (a query, or a drain)."""
    m0, m1, _ = step["window_ms"]
    jobs = step.get("jobs", [])
    construct_jobs = [(s, e) for s, e, _ in jobs if m0 <= s <= m1]
    schema_jobs = [(s, e) for s, e, site in jobs if any(x in site for x in SCHEMA_SITES)]
    job_s = union_s((s, e) for s, e, _ in jobs)
    construct_job_s = union_s(construct_jobs)
    get = lambda k: step.get(k, 0.0)
    out = {
        "sources.schema_jobs": len(schema_jobs),
        "sources.schema_job_s": union_s(schema_jobs),
        "sources.files_written": get("files_written"),
        "sources.bytes_written": get("bytes_written"),
        "operators.construct_s": step["construct_s"],
        "operators.construct_jobs": len(construct_jobs),
        "operators.construct_job_s": construct_job_s,
        "operators.construct_driver_s": step["construct_s"] - construct_job_s,
        "plans.analysis_s": get("analysis_s"),
        "plans.optimization_s": get("optimization_s"),
        "plans.planning_s": get("planning_s"),
        "plans.graft_rule_s": get("graft_rule_s"),
        "plans.graft_rule_invocations": get("graft_rule_invocations"),
        "plans.graft_rule_effective": get("graft_rule_effective"),
        "plans.aqe_updates": get("aqe_updates"),
        "spark.jobs": len(jobs),
        "spark.tasks": get("tasks"),
        "spark.job_s": job_s,
        "spark.driver_only_s": step["wall_s"] - job_s,
        "spark.task_cpu_s": get("task_cpu_s"),
        "spark.task_run_s": get("task_run_s"),
        "spark.shuffle_write_mb": get("shuffle_write_bytes") / 2**20,
        "spark.spill_mb": get("spill_bytes") / 2**20,
        "spark.gc_s": get("gc_s"),
        "spark.codegen_compile_s": get("codegen_compile_s"),
        "spark.cached_blocks_after": get("cached_blocks_after"),
    }
    batches = step.get("batches", [])
    dur = lambda b, k: b["durations_ms"].get(k, 0) / 1e3
    out.update({
        "streaming.add_batch_s": sum(dur(b, "addBatch") for b in batches),
        "streaming.query_planning_s": sum(dur(b, "queryPlanning") for b in batches),
        "streaming.commit_s": sum(dur(b, "walCommit") + dur(b, "commitOffsets")
                                  + b["state_commit_ms"] / 1e3 for b in batches),
        "streaming.state_rows": batches[-1]["state_rows"] if batches else 0,
        "streaming.rows_dropped_late": sum(b["dropped_late"] for b in batches),
    })
    return out


def reconcile(step: dict, layers: dict, bound: float) -> list:
    """Ways the step's trace fails to add up to its wall time by more
    than `bound` of that wall: construct + write against wall, and job
    time + driver-only time against wall (a job interval reaching
    outside the step makes driver-only time negative)."""
    wall, miss = step["wall_s"], []
    gap = abs(wall - step["construct_s"] - step["write_s"])
    if gap > bound * wall:
        miss.append(f"construct+write off wall by {gap:.3f}s")
    if layers["spark.driver_only_s"] < -bound * wall:
        miss.append(f"job_s exceeds wall by {-layers['spark.driver_only_s']:.3f}s")
    return miss


def pass_layers(pss: dict) -> dict:
    """Per-layer totals of one traced pass."""
    total = {}
    for step in pss["steps"]:
        for k, v in step_layers(step).items():
            total[k] = total.get(k, 0.0) + v
    total["sources.table_open_s"] = pss["table_open_s"]
    inv = total.pop("plans.graft_rule_invocations")
    eff = total.pop("plans.graft_rule_effective")
    total["plans.graft_rule_effective_frac"] = eff / inv if inv else 0.0
    run_s = total.pop("spark.task_run_s")
    total["spark.cores_busy"] = run_s / total["spark.job_s"] if total["spark.job_s"] else 0.0
    total["operators.construct_share"] = total["operators.construct_s"] / pss["wall_s"]
    total["streaming.add_batch_share"] = total["streaming.add_batch_s"] / pss["wall_s"]
    return total


def steady(passes: list) -> list:
    """The passes the warm metrics are taken over: the untraced ones
    among the WARM_PASSES passes after the cold one (every pass after
    the cold one if none qualifies). The JIT compiler keeps the JVM
    speeding up for minutes; a fixed stage of that warm-up repeats from
    run to run, while later passes settle at levels that differ from one
    JVM to the next and sit longer in whatever load the host has."""
    warm = [p for p in passes[1:1 + WARM_PASSES] if not p["traced"]]
    return warm or passes[1:]


def end_to_end(record: dict) -> dict:
    """User-visible metrics (seconds unless named otherwise) and the
    sample sizes behind them."""
    passes = record["passes"]
    warm = steady(passes)
    stream = record["workload"] == "stream_upsert"
    if stream:
        batches = [b for p in warm for s in p["steps"] for b in s.get("batches", [])]
        samples = [b["durations_ms"]["triggerExecution"] / 1e3 for b in batches]
    else:
        samples = [s["wall_s"] for p in warm for s in p["steps"] if s["ok"]]
    tail_p, tail_v = tail(samples)
    out = {
        "setup_s": statistics.median(record["setup_s"]),
        "cold_pass_s": passes[0]["wall_s"],
        "warm_pass_s": statistics.median(p["wall_s"] for p in warm),
        "query_p50_s": statistics.median(samples),
        "query_tail_s": tail_v,
        "rss_peak_mb": record["rss_peak_mb"],
        "tail_percentile": tail_p,
        "samples": len(samples),
    }
    if stream:
        drains = [s for p in warm for s in p["steps"]]
        rows = [sum(b["rows"] - b["dropped_late"] for b in s["batches"]) for s in drains]
        out["stream_rows_per_s"] = statistics.median(r / s["wall_s"] for r, s in zip(rows, drains))
        out["batch_p50_s"], out["batch_tail_s"] = out["query_p50_s"], out["query_tail_s"]
    return out
