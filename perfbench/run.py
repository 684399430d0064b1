#!/usr/bin/env python3
"""graft benchmark: one driver process at a time, a closed loop with one
client, driving the engine's public API (GraftSession, sources.Tables,
operators.*) from outside it.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run compiles the engine and
the driver (perfbench/scala) into .bench_build/perfbench; later runs reuse
the classes. Each run generates its inputs from the seed and runs one
driver process at a time: the measured driver, then a probe process that
stops once its session is ready; setup_s is the median (the mean) of the
two cold set-up times. The driver runs operations (full passes) for
`--seconds`, the first one in the cold process, as a batch job runs; the
first result is checked against references and later ones against it.
The run prints two JSON lines: provenance (host facts, versions, commit,
seed, input sizes, tracing, raw samples), then {"correct", "attempted",
"failed", "metrics"}. With --trace 0 the metrics are the end-to-end
ones; --trace 1 also runs a traced driver after the untraced one and
prints the per-layer metrics of the traced passes.

Workloads (why each is here is recorded in BENCHMARK.json):
- etl_observations: the impc-etl spine over a seeded sf0.1-shaped
  TPC-H/events corpus, results written as Targets parquet targets; one
  operation is one full pass.
- curate_iterative: the curation chain, langid training and HITS over
  300 seeded documents and a small link graph; one operation is one
  full pass.

Layer -> end-to-end predictions:
- spark.jobs/stages/tasks, single_task_job_ratio, driver_outside_jobs_s
  and plans.* move wall_s on curate_iterative; flat on etl_observations.
- sources.*, spark executor/shuffle/spill/peak-memory metrics move wall_s
  (and peak_rss_mb, reported per layer) on etl_observations.
- operators.<Object>.call_s/jobs move wall_s on the workload that calls
  the object; operators.Targets.stage_s/write_bytes and sink.call_s also
  move write_amp.
- spark.gc_s moves wall_s (and peak_rss_mb).
- spark.failed_tasks and spark.stage_retries move fail_ratio (the
  printed failed/attempted).
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ["etl_observations", "curate_iterative"]
HEAP = "3g"
SETUP_SAMPLES = 2
JVM_TIMEOUT_S = 150

# Spark 4 on JDK 17 outside spark-submit needs these module opens
# (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def generate(workload, seed, inputs):
    """Write the workload's inputs; return their row and byte counts."""
    if workload == "etl_observations":
        return gen.gen_etl(seed, inputs, k=1, parts=8)
    return gen.gen_curate(seed, inputs, n_docs=300, graph_scale=0.05, parts=8)


def nproc():
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()


class Driver:
    """Driver JVM processes of one run, sharing a log and a deadline."""

    def __init__(self, classpath, run_dir):
        self.run_dir = run_dir
        self.log = open(os.path.join(run_dir, "driver.log"), "ab")
        self.deadline = time.time() + JVM_TIMEOUT_S
        tmp = os.path.join(run_dir, "tmp")
        os.makedirs(tmp, exist_ok=True)
        self.env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
        self.env["SPARK_GRAFT_CPUS"] = str(nproc())
        self.env["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
        # -UsePerfData: no hsperfdata files outside the checkout
        self.cmd = ["java", "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}",
                    *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
                    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
                    f"-Djava.io.tmpdir={tmp}",
                    f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
                    "-cp", os.pathsep.join(classpath), "perfbench.Main"]
        self.procs = []

    def start(self, *args):
        proc = subprocess.Popen(self.cmd + list(args), stdout=self.log,
                                stderr=subprocess.STDOUT, env=self.env, cwd=self.run_dir)
        self.procs.append(proc)
        return proc

    def wait(self, proc):
        try:
            rc = proc.wait(timeout=max(1.0, self.deadline - time.time()))
        except subprocess.TimeoutExpired:
            rc = "timeout"
        if rc != 0:
            self.fail(f"driver JVM exited with {rc}")

    def fail(self, why):
        self.close()
        with open(self.log.name, errors="replace") as lf:
            tail = lf.read()[-3000:]
        raise RuntimeError(f"{why}:\n{tail}")

    def close(self):
        for proc in self.procs:
            if proc.poll() is None:
                proc.kill()
            proc.wait()
        self.log.close()


def git_commit(root):
    try:
        out = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def run(args):
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        print(f"perfbench: {root} holds no engine sources (src/main/scala); "
              "run from the root of a graft checkout", file=sys.stderr)
        return 2
    build_root = os.path.join(root, ".bench_build", "perfbench")
    classpath = build.ensure(root, build_root)

    run_dir = os.path.join(build_root, "runs", f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        inputs = os.path.join(run_dir, "inputs")
        t0 = time.time()
        sizes = generate(args.workload, args.seed, inputs)
        gen_s = time.time() - t0

        # one driver process at a time, so that every start is cold and
        # uncontended: the measured driver, then (--trace 1) the same
        # operations traced, which gives the tracing overhead, then probes
        # that stop once their session is ready. setup_s is the median of
        # the measured driver's set-up time and the probes'. One probe: each
        # further cold start adds ~7 s to every run.
        outs = [os.path.join(run_dir, "out"), os.path.join(run_dir, "traced")][:1 + args.trace]
        probes = [os.path.join(run_dir, f"setup{k}") for k in range(SETUP_SAMPLES - 1)]
        driver = Driver(classpath, run_dir)
        try:
            for trace, out in enumerate(outs):
                os.makedirs(out)
                driver.wait(driver.start("--mode", "run", "--workload", args.workload,
                                         "--inputs", inputs, "--out", out,
                                         "--seconds", str(args.seconds), "--trace", str(trace)))
            for p in probes:
                os.makedirs(p)
                driver.wait(driver.start("--mode", "setup", "--out", p))
        finally:
            driver.close()

        def result_of(d):
            with open(os.path.join(d, "result.json")) as f:
                return json.load(f)
        raws = [result_of(out) for out in outs]
        setups = [raws[0]["setup_s"]] + [result_of(p)["setup_s"] for p in probes]

        t0 = time.time()
        refs = check.References(args.workload, inputs, raws[0]["oracles"])
        ref_s = time.time() - t0
        t0 = time.time()
        problems = [p for raw in raws if raw["ops"] for p in refs.check(raw["ops"][0]["dir"])]
        check_s = time.time() - t0
        result = metrics.summarize(raws, setups, problems)
        provenance = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": bool(args.trace), "commit": git_commit(root),
            "engine_build": os.path.basename(classpath[0]), "nproc": nproc(),
            "heap": HEAP, "host": raws[0].get("host"), "inputs": sizes,
            "setup_samples_s": setups, "generate_s": round(gen_s, 3),
            "reference_s": round(ref_s, 3), "check_s": round(check_s, 3),
            "problems": problems, "errors": [r["error"] for r in raws if r.get("error")],
            **result.pop("provenance"),
        }
        print(json.dumps({"provenance": provenance}))
        print(json.dumps(result))
        return 0
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def main():
    # a terminated run still stops its JVMs and removes its run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    sys.exit(run(ap.parse_args()))


if __name__ == "__main__":
    main()
