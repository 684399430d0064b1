"""Turns the driver's raw measurements (result.json) into the printed
metrics: end-to-end ones from untraced runs, per-layer ones from the traced
operations of a --trace 1 run."""
from stats import median, self_times, union_length

# (name, unit) of every metric, in print order
END_TO_END = [
    ("setup_s", "s"),
    ("wall_s", "s"),
    ("write_amp", "ratio"),
]

# engine modules/objects the workloads call, named after the repo's modules
OBJECTS = ["operators.AsOf", "operators.Cleaning", "operators.Components", "operators.Dedup",
           "operators.Derive", "operators.Graph", "operators.Infer", "operators.Joins",
           "operators.LangModel", "operators.Pack", "operators.Reshape",
           "operators.Select", "operators.Split", "operators.Targets", "plans.AsOfJoin"]

PER_LAYER = [
    ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
    ("spark.single_task_job_ratio", "ratio"), ("spark.driver_outside_jobs_s", "s"),
    ("plans.executions", "count"), ("plans.analysis_s", "s"),
    ("plans.optimization_s", "s"), ("plans.planning_s", "s"),
    ("sources.call_s", "s"), ("sources.input_bytes", "bytes"),
    ("sources.input_records", "count"),
    ("spark.executor_run_s", "s"), ("spark.executor_cpu_s", "s"),
    ("spark.executor_wait_s", "s"), ("spark.scheduler_delay_s", "s"),
    ("spark.core_busy_ratio", "ratio"), ("spark.shuffle_write_bytes", "bytes"),
    ("spark.shuffle_read_bytes", "bytes"), ("spark.shuffle_fetch_wait_s", "s"),
    ("spark.spill_bytes", "bytes"), ("spark.peak_task_mem_bytes", "bytes"),
    *[(f"{o}.{m}", u) for o in OBJECTS for m, u in (("call_s", "s"), ("jobs", "count"))],
    ("operators.Targets.stage_s", "s"), ("operators.Targets.write_bytes", "bytes"),
    ("sink.call_s", "s"),
    ("spark.gc_s", "s"), ("peak_rss_mb", "MB"),
    ("spark.failed_tasks", "count"), ("spark.stage_retries", "count"),
    ("fail_ratio", "ratio"),
    ("trace.span_coverage", "ratio"), ("trace.overhead_s", "s"),
]


def failures(raws, problems):
    """(attempted, failed) over every operation of the run's drivers. An
    operation failed when it raised, when its result differs from its
    driver's first one, or when the output check found `problems`."""
    ops = [o for raw in raws for o in raw["ops"]]
    errors = sum(1 for raw in raws if raw.get("error"))
    failed = sum(1 for op in ops if problems or not op["digest_ok"]) + errors
    return max(len(ops) + errors, 1), failed


def op_layers(op, cores):
    """Per-layer values of one traced operation."""
    jobs, spans = op["jobs"], op["spans"]
    wall = op["wall_s"]
    selfs = self_times(spans)
    by_name = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(s["id"])

    def self_s(prefix):
        return sum(selfs[i] for n, ids in by_name.items() if n.startswith(prefix)
                   for i in ids) / 1e9

    def span_ids(prefix):
        return {i for n, ids in by_name.items() if n.startswith(prefix) for i in ids}

    def total(key):
        return sum(j[key] for j in jobs)

    run_s = total("run_ms") / 1000
    cpu_s = total("cpu_ns") / 1e9
    job_union_s = union_length((j["start_ms"], j["end_ms"]) for j in jobs if j["end_ms"] >= 0) / 1000
    phases = op["executions"]
    v = {
        "spark.jobs": len(jobs),
        "spark.stages": op["stages"],
        "spark.tasks": total("tasks"),
        "spark.single_task_job_ratio": (sum(1 for j in jobs if j["tasks"] == 1) / len(jobs)
                                        if jobs else 0.0),
        "spark.driver_outside_jobs_s": max(0.0, wall - job_union_s),
        "plans.executions": len(phases),
        "plans.analysis_s": sum(p["analysis_ms"] for p in phases) / 1000,
        "plans.optimization_s": sum(p["optimization_ms"] for p in phases) / 1000,
        "plans.planning_s": sum(p["planning_ms"] for p in phases) / 1000,
        "sources.call_s": self_s("sources."),
        "sources.input_bytes": total("input_bytes"),
        "sources.input_records": total("input_records"),
        "spark.executor_run_s": run_s,
        "spark.executor_cpu_s": cpu_s,
        "spark.executor_wait_s": max(0.0, run_s - cpu_s),
        "spark.scheduler_delay_s": max(0.0, (total("duration_ms") - total("run_ms")
                                             - total("deser_ms") - total("result_ser_ms")
                                             - total("getting_result_ms")) / 1000),
        "spark.core_busy_ratio": run_s / (wall * cores) if wall > 0 else 0.0,
        "spark.shuffle_write_bytes": total("shuffle_write_bytes"),
        "spark.shuffle_read_bytes": total("shuffle_read_bytes"),
        "spark.shuffle_fetch_wait_s": total("fetch_wait_ms") / 1000,
        "spark.spill_bytes": total("spill_disk_bytes"),
        "spark.peak_task_mem_bytes": max((j["peak_mem_bytes"] for j in jobs), default=0),
        "sink.call_s": self_s("sink."),
        "spark.gc_s": op["gc_ms"] / 1000,
        "spark.failed_tasks": total("failed_tasks"),
        "spark.stage_retries": op["stage_retries"],
    }
    for o in OBJECTS:
        ids = span_ids(o + ".")
        v[f"{o}.call_s"] = self_s(o + ".")
        v[f"{o}.jobs"] = sum(1 for j in jobs if j["span"] in ids)
    # Targets.run tags each stage's jobs with a "target: <stage>" description
    stages = {}
    for j in jobs:
        if j["desc"].startswith("target: ") and j["end_ms"] >= 0:
            lo, hi = stages.get(j["desc"], (j["start_ms"], j["end_ms"]))
            stages[j["desc"]] = (min(lo, j["start_ms"]), max(hi, j["end_ms"]))
    v["operators.Targets.stage_s"] = sum(hi - lo for lo, hi in stages.values()) / 1000
    v["operators.Targets.write_bytes"] = sum(j["output_bytes"] for j in jobs
                                             if j["desc"].startswith("target: "))
    roots = [s for s in spans if s["name"] == "op"]
    covered = sum(union_length((c["start_ns"], c["end_ns"]) for c in spans
                               if c["parent"] == r["id"]) for r in roots)
    length = sum(r["end_ns"] - r["start_ns"] for r in roots)
    v["trace.span_coverage"] = covered / length if length else 0.0
    return v


def summarize(raws, setups, problems):
    """The printed result line (plus provenance) from the drivers' raw
    measurements (the untraced driver, then the traced one if any), the
    set-up samples and the output-check problems."""
    attempted, failed = failures(raws, problems)
    ops = raws[0]["ops"]
    walls = [o["wall_s"] for o in ops] or [0.0]
    prov = {"ops": len(ops), "wall_samples_s": [round(w, 3) for w in walls],
            "result_digests": ops[0]["digest"] if ops else None}
    if len(raws) == 1:
        amps = [o["written_bytes"] / o["input_bytes"] for o in ops if o["input_bytes"]] or [0.0]
        values = {
            "setup_s": median(setups),
            "wall_s": median(walls),
            "write_amp": median(amps),
        }
        units = END_TO_END
    else:
        traced = raws[1]["ops"]
        cores = int(raws[1]["host"]["default_parallelism"])
        per_op = [op_layers(o, cores) for o in traced]
        values = {k: median([p[k] for p in per_op]) for k in (per_op[0] if per_op else {})}
        values["fail_ratio"] = failed / attempted
        # the untraced driver's: heap growth under G1 makes it too noisy
        # for an end-to-end bound, so it is reported without one
        values["peak_rss_mb"] = raws[0]["peak_rss_mb"]
        if traced:
            values["trace.overhead_s"] = median([o["wall_s"] for o in traced]) - median(walls)
        prov.update(traced_wall_samples_s=[round(o["wall_s"], 3) for o in traced])
        units = PER_LAYER
    metrics = {name: {"value": values.get(name, 0.0), "unit": unit} for name, unit in units}
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics, "provenance": prov}
