"""Benchmark entry point: one workload, one seed, one process.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 5 --trace 0

Run from the root of a source checkout.  Generates the workload's inputs
from the seed, starts a SparkSession on ``local[<nproc>]`` and runs the
workload's phases in turn: kg_build times one cold build pass, then
seeds a CDC target and drains micro-batches for ``--seconds``;
validate_report times one cold validate pass.  Every operation's output
is checked outside the timed region, and one JSON object is printed as
the last line of standard output.  ``--trace 1`` adds, after each
phase's untraced operation, a traced one on the same inputs with a span
around every layer call.  perfbench/README.md describes the workloads
and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
now = time.perf_counter

# the phases one workload's run is made of, in order
PHASES = {"kg_build": ["kg_build", "cdc_stream"], "validate_report": ["validate_report"]}
# the metrics BENCHMARK.json names: end-to-end (--trace 0) ...
E2E = {"setup_s": "s", "triples_per_s": "triples/s", "report_latency_s": "s"}
# ... and per-layer (--trace 1): the ones every listed workload exercises
PER_LAYER = {
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.failed_tasks": "count", "trace.wall_s": "s", "trace.overhead_s": "s",
    "shacl.validate_s": "s", "shacl.validate_jobs": "count",
    "shacl.validate_stages": "count", "shacl.validate_tasks": "count",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True,
                   choices=sorted(PHASES))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def n_cpus() -> int:
    return len(os.sched_getaffinity(0))


def configure_env(work: str) -> dict:
    """Environment for the Spark driver JVM and its Python workers;
    everything they write stays under ``work``.  Returns extra Spark
    conf for the session."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    pp = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + pp if pp else "")
    os.environ["SPARK_GRAFT_CPUS"] = str(n_cpus())
    # the session's default heap (16g) is more than a 15 GB machine has;
    # 4g leaves room for the Python workers and the OS
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    # a JVM keeps its perf-data file in /tmp, outside the checkout: off
    # for spark-submit's launcher JVM and for the driver JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    return {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }


def jvm_peak_rss_mb(spark) -> float:
    """``VmHWM`` of the driver JVM: the peak resident set so far."""
    pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM missing from /proc status")


def timing(samples: list[float]) -> dict:
    """Median, the highest percentile with at least ten samples beyond
    it (none below 20 samples), and the sample count."""
    out = {"n": len(samples), "p50": statistics.median(samples) if samples else None}
    for pct in (99.9, 99, 95, 90, 75, 50):
        if len(samples) * (1 - pct / 100) >= 10:
            out[f"p{pct:g}"] = statistics.quantiles(samples, n=1000)[int(pct * 10) - 1]
            break
    return out


def environment(spark, args, inputs: dict) -> dict:
    import pandas
    import pyarrow

    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                                capture_output=True, text=True,
                                timeout=10).stdout.strip()
    except (OSError, subprocess.TimeoutExpired):
        commit = ""
    return {
        "nproc": n_cpus(), "python": platform.python_version(),
        "spark": spark.version, "pyarrow": pyarrow.__version__,
        "pandas": pandas.__version__, "git_commit": commit or "unknown",
        "seed": args.seed, "workload": args.workload,
        "inputs": inputs, "driver_mem": os.environ["SPARK_GRAFT_DRIVER_MEM"],
        "spark_conf": dict(sorted(spark.sparkContext.getConf().getAll())),
    }


class Run:
    """The operations of one phase, their checks and failures."""

    def __init__(self, w):
        self.w = w
        self.ops: list[dict] = []
        self.failures: list[dict] = []
        self.raised = 0
        self.run_failed = False
        self.plain: dict | None = None  # the untraced operation's result
        self.traced: dict | None = None

    def record(self, fn, *args) -> dict | None:
        """One operation; its check runs after the timer stopped."""
        try:
            res = fn(*args)
        except Exception:  # noqa: BLE001 - a raising operation is a failed one
            self.raised += 1
            self.failures.append({"phase": self.w.name,
                                  "error": traceback.format_exc(limit=4)})
            return None
        errs = self.w.check(res)
        self.w.cleanup(res)
        res["failed"] = bool(errs)
        if errs:
            self.failures.append({"phase": self.w.name, "op": len(self.ops),
                                  "error": errs})
        self.ops.append(res)
        return res

    def check_run(self) -> None:
        """The once-per-run checks, on the last operation's output.  A
        mismatch fails every operation of the phase: the CDC check
        covers the final state all batches built, and every build pass
        ran the extraction the sample check recomputes."""
        errs = self.w.check_run(self.ops[-1]) if self.ops else []
        if errs:
            self.run_failed = True
            self.failures.append({"phase": self.w.name, "error": errs})

    def counts(self) -> tuple[int, int]:
        """(attempted, failed) operations; one op() of the CDC phase
        drains several micro-batches, and each is an operation."""
        def size(ops):
            return sum(o.get("batches", 1) for o in ops)

        n = size(self.ops) + self.raised
        if self.run_failed:
            return n, n
        return n, size([o for o in self.ops if o["failed"]]) + self.raised


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "shacl_spark")):
        print(f"perfbench: no shacl_spark package in {ROOT}; run it from the "
              "root of a source checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    extra_conf = configure_env(work)

    from shacl_spark.session import get_spark

    t0 = now()
    spark = get_spark(app_name=f"perfbench-{args.workload}",
                      master=f"local[{n_cpus()}]", extra_conf=extra_conf)
    try:
        result = measure(args, spark, work, t0, session_s=now() - t0)
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


def stop_spark(spark) -> None:
    """Stop the session and wait until the driver JVM (and with it the
    Python workers it forked) has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:  # the driver JVM exits when its stdin closes
        proc.stdin.close()
        proc.wait(timeout=120)


def measure(args, spark, work: str, t0: float, session_s: float) -> dict:
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS

    phases = [WORKLOADS[n](spark, os.path.join(work, n), args.seed, "full", args.seconds)
              for n in PHASES[args.workload]]
    for w in phases:
        w.setup()
    setup_s = now() - t0
    tracer = Tracer(spark.sparkContext) if args.trace else None
    runs: dict[str, Run] = {}
    for w in phases:
        t = now()
        w.prepare()
        setup_s += now() - t
        run = runs[w.name] = Run(w)
        run.plain = run.record(w.op)
        run.traced = run.record(w.traced_op, tracer) if tracer else None
        run.check_run()

    attempted = sum(r.counts()[0] for r in runs.values())
    failed = sum(r.counts()[1] for r in runs.values())
    first = runs[phases[0].name].plain
    cdc = runs.get("cdc_stream")
    cdc_plain = cdc.plain if cdc else None
    e2e = {
        "setup_s": setup_s,
        "triples_per_s": first["units"] / first["wall"] if first else 0.0,
        # input to committed report: one CDC micro-batch where the run
        # drains a feed, else the validate pass
        "report_latency_s": (statistics.median(cdc_plain["latencies"]) if cdc_plain
                             else first["wall"] if first and not cdc else 0.0),
    }
    named = {
        "setup_s": setup_s, "session_start_s": session_s,
        "peak_rss_mb": jvm_peak_rss_mb(spark),
        "failed_frac": failed / max(attempted, 1), "attempted": attempted,
        {"kg_build": "build_triples_per_s",
         "validate_report": "validate_triples_per_s"}[phases[0].name]: e2e["triples_per_s"],
    }
    if cdc_plain:
        named["cdc_batch_p50_s"] = e2e["report_latency_s"]
        named["cdc_rows_per_s"] = cdc_plain["units"] / cdc_plain["wall"]
    for name, r in runs.items():
        named[f"{name}.latency_s"] = timing([x for o in r.ops for x in o["latencies"]])
    detail: dict = {"metrics": named,
                    "failures": [f for r in runs.values() for f in r.failures],
                    "env": environment(spark, args,
                                       {w.name: w.inputs for w in phases})}
    if tracer:
        layers = tracer.report()
        detail["layers"] = layers
        detail["per_layer"] = per_layer_metrics(layers, runs)
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(out_dir, name), "w") as f:
        json.dump(dict(detail, spans=tracer.spans if tracer else []), f,
                  indent=1, default=str)
    print(json.dumps(detail, default=str))

    if args.trace == 0:
        metrics = {k: {"value": v, "unit": E2E[k]} for k, v in e2e.items()}
    else:
        pl = detail["per_layer"]
        metrics = {k: {"value": pl[k], "unit": u} for k, u in PER_LAYER.items()}
    return {"correct": not detail["failures"], "attempted": attempted,
            "failed": failed, "metrics": metrics}


# the span around one traced operation, per phase
ROOT_SPAN = {"kg_build": "kg_build.pass", "validate_report": "validate_report.pass",
             "cdc_stream": "cdc_stream.drain"}
_IDLE = {"calls": 0, "total_s": 0.0, "self_s": 0.0, "jobs": 0, "stages": 0,
         "tasks": 0, "failed_tasks": 0, "counts": {}}


def per_layer_metrics(layers: dict, runs: dict) -> dict:
    """Self time, jobs, stages, tasks and failed tasks of every layer
    span, and the named per-layer metrics.  A layer this run does not
    reach reads 0."""
    def lay(name):
        return layers.get(name, _IDLE)

    def c(name, key):
        return lay(name)["counts"].get(key, 0)

    out: dict = {}
    for name, l in sorted(layers.items()):
        for k in ("self_s", "jobs", "stages", "tasks", "failed_tasks"):
            out[f"{name}.{k}"] = l[k]
    done = [r for r in runs.values() if r.plain and r.traced]
    roots = [lay(ROOT_SPAN[name]) for name in runs]
    out.update({
        "trace.wall_s": sum(r.traced["wall"] for r in done),
        "trace.overhead_s": sum(r.traced["wall"] - r.plain["wall"] for r in done),
        **{f"spark.{k}": sum(r[k] for r in roots)
           for k in ("jobs", "stages", "tasks", "failed_tasks")},
        "sources.corpus_scan_s": lay("sources.corpus_scan")["self_s"],
        "sources.ntriples_read_s": lay("sources.ntriples_read")["self_s"],
        "sources.ntriples_rows": c("sources.ntriples_read", "rows"),
        "sources.ntriples_write_s": lay("sources.ntriples_write")["self_s"],
        "kg.extract_s": lay("kg.extract")["self_s"],
        "kg.extract_triples": c("kg.extract", "triples"),
        "kg.extract_tasks": lay("kg.extract")["tasks"],
        "kg.canon_map_s": lay("kg.canon_map")["self_s"],
        "kg.lsh_candidates": c("kg.link_probe", "lsh_candidates"),
        "kg.link_matches": c("kg.link_probe", "link_matches"),
        "kg.link_match_ratio": (c("kg.link_probe", "link_matches")
                                / max(c("kg.link_probe", "lsh_candidates"), 1)),
        "kg.lsh_dropped_rows": c("kg.canon_map", "lsh_dropped_rows"),
        "kg.cc_iterations": c("kg.canon_map", "cc_iterations"),
        "kg.canon_rewrite_s": lay("kg.canon_rewrite")["self_s"],
        "kg.canon_triples": c("kg.canon_rewrite", "triples"),
        "kg.materialize_s": lay("kg.materialize")["self_s"],
        "kg.materialize_rows": c("kg.materialize", "rows"),
        "kg.materialize_bytes": c("kg.materialize", "bytes"),
        "shacl.parse_s": lay("shacl.parse")["self_s"],
        "shacl.validate_s": lay("shacl.validate")["self_s"],
        "shacl.validate_jobs": lay("shacl.validate")["jobs"],
        "shacl.validate_stages": lay("shacl.validate")["stages"],
        "shacl.validate_tasks": lay("shacl.validate")["tasks"],
        "shacl.report_rows": c("shacl.validate", "report_rows"),
        "shacl.report_triples_s": lay("shacl.report_triples")["self_s"],
        "shacl.incremental_s": lay("shacl.incremental")["self_s"],
        "shacl.incremental_affected": c("shacl.incremental", "affected"),
        "shacl.incremental_context_nodes": c("shacl.incremental", "context_nodes"),
        "shacl.incremental_local_frac": (c("shacl.incremental", "local")
                                         / max(lay("shacl.incremental")["calls"], 1)),
    })
    traced = runs["cdc_stream"].traced if "cdc_stream" in runs else None
    if traced:
        batches = traced["batches"]
        b = lay("streaming.batch")
        add = traced["add_batch"]
        out.update({
            "streaming.add_batch_s": statistics.median(add),
            "streaming.trigger_overhead_s": statistics.median(
                [t - a for t, a in zip(traced["latencies"], add)]),
            "streaming.jobs_per_batch": b["jobs"] / batches,
            "streaming.tasks_per_batch": b["tasks"] / batches,
        })
    else:
        out.update({"streaming.add_batch_s": 0.0, "streaming.trigger_overhead_s": 0.0,
                    "streaming.jobs_per_batch": 0, "streaming.tasks_per_batch": 0})
    return out


if __name__ == "__main__":
    sys.exit(main())
