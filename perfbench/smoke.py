"""Smoke test of the benchmark harness at tiny input sizes.

    python3 perfbench/smoke.py

Runs every phase's traced operation and all of its checks in one
SparkSession, then perturbs each phase's expected output and confirms
the checks report the mismatch.  Exits 0 when all of that
holds.  Run from the root of a source checkout.
"""

from __future__ import annotations

import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    sys.path.insert(0, ROOT)
    from perfbench.run import (
        ROOT_SPAN, Run, configure_env, n_cpus, per_layer_metrics, stop_spark,
    )

    work = os.path.join(ROOT, ".perfbench_work", "smoke")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    extra = configure_env(work)

    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS
    from shacl_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench-smoke", master=f"local[{n_cpus()}]",
                      extra_conf=extra)
    problems: list[str] = []
    try:
        for name, cls in WORKLOADS.items():
            w = cls(spark, os.path.join(work, name), seed=7, size="tiny", seconds=1)
            w.setup()
            w.prepare()
            tracer = Tracer(spark.sparkContext)
            res = w.traced_op(tracer)
            errs = w.check(res) + w.check_run(res)
            if errs:
                problems.append(f"{name}: checks failed on correct output: {errs}")
            run = Run(w)
            run.plain = run.traced = res
            layers = tracer.report()
            per_layer_metrics(layers, {name: run})
            if layers[ROOT_SPAN[name]]["jobs"] <= 0:
                problems.append(f"{name}: the traced operation recorded no Spark jobs")
            w.corrupt()
            if not (w.check(res) + w.check_run(res)):
                problems.append(f"{name}: a corrupted expected output passed the checks")
            w.cleanup(res)
            print(f"smoke: {name} done, {len(problems)} problem(s) so far "
                  f"({time.perf_counter() - t0:.1f} s)", flush=True)
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    for p in problems:
        print("smoke: FAIL", p, flush=True)
    print(f"smoke: {'PASS' if not problems else 'FAIL'} in "
          f"{time.perf_counter() - t0:.1f} s")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
