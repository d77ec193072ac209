"""One workload run in its own process: session bring-up, the measured
cycles, the checks and, when traced, the layer split.

Started by ``run.py``, never by hand; writes its result as JSON to the
``--result`` path.  Spark is stopped and the JVM waited for in a
``finally`` block, whatever happened before.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import statistics
import time
import traceback

import host
import tracing
from workloads import WORKLOADS

BRING_UPS = 3
# untimed cycles before measuring: the first compiles every plan and is
# 2-3x slower than the next, and cycle times keep falling while the JIT warms
WARM_UP_CYCLES = 2


def session_conf(work_dir: str) -> dict:
    """Keep every file Spark writes inside the run's work directory, and
    the driver heap small: the host is shared."""
    tmp = os.path.join(work_dir, "tmp")
    return {
        "spark.driver.memory": "3g",
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
            f"-Dderby.system.home={work_dir}",
        "spark.local.dir": os.path.join(work_dir, "local"),
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


def start_session(master: str, work_dir: str):
    from python_hll_spark.plans.session import get_spark

    spark = get_spark("perfbench", master=master,
                      extra_conf=session_conf(work_dir),
                      checkpoint_dir=os.path.join(work_dir, "checkpoints"))
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_workers(spark, n: int) -> None:
    """One Arrow job per core: starts the Python worker daemon."""
    def passthrough(batches):
        yield from batches

    spark.range(0, n * 4, numPartitions=n).mapInArrow(passthrough, "id long").count()


def collect_garbage(spark) -> None:
    """Start each measured cycle from a collected heap, on both sides of
    py4j, so that a collection owed to the previous cycle is not charged
    to the next one."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def stop_jvm() -> None:
    """Close the py4j gateway and wait for the JVM: it exits when the
    driver closes its stdin pipe."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=30)


class Run:
    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.samples: dict[str, list[float]] = {"build_items_per_s": [],
                                                "incremental_s": [], "cycle_s": []}
        self.checks: dict[str, float] = {}
        self.layer: dict[str, float] = {}

    def op(self, what: str, fn):
        """Run one operation, counting it and any exception it raises."""
        self.attempted += 1
        try:
            return fn()
        except Exception:
            self.failed += 1
            self.failures.append(f"{what}: {traceback.format_exc(limit=3)}")
            raise

    def record_checks(self, results: dict) -> None:
        for name, (ratio, ok) in results.items():
            self.attempted += 1
            self.checks[name] = max(self.checks.get(name, 0.0), ratio)
            if not ok:
                self.failed += 1
                self.failures.append(f"check {name} failed: ratio {ratio:.4g}")

    def record_cycle(self, c, wall: float) -> None:
        self.samples["build_items_per_s"] += c.build_samples
        self.samples["incremental_s"].append(c.incremental_s)
        self.samples["cycle_s"].append(wall)
        self.record_checks(c.checks)
        for k, v in c.layer.items():
            self.layer[k] = v


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--work-dir", required=True)
    ap.add_argument("--cache-dir", required=True)
    ap.add_argument("--result", required=True)
    args = ap.parse_args()

    run = Run()
    out = {"error": None}
    n = min(4, host.cores())
    master = f"local[{n}]"
    tracer = tracing.Tracer(os.path.basename(args.work_dir), enabled=False)
    spark = None
    stops: list[float] = []
    try:
        starts, warms = [], []
        for rep in range(BRING_UPS):
            t0 = time.perf_counter()
            spark = start_session(master, args.work_dir)
            starts.append(time.perf_counter() - t0)
            t0 = time.perf_counter()
            warm_workers(spark, n)
            warms.append(time.perf_counter() - t0)
            if rep < BRING_UPS - 1:
                t0 = time.perf_counter()
                spark.stop()
                stops.append(time.perf_counter() - t0)
        tracer.sc = spark.sparkContext
        tracer.enabled = bool(args.trace)
        wl = WORKLOADS[args.workload](spark, tracer, args.seed, args.work_dir,
                                      args.cache_dir)
        gen_s = wl.inputs()
        t0 = time.perf_counter()
        run.op("prep", wl.prep)
        prep_s = time.perf_counter() - t0
        tracer.enabled = False
        warm_up = []
        for _ in range(WARM_UP_CYCLES):
            t0 = time.perf_counter()
            run.op("warm-up cycle", lambda: wl.cycle(traced=False))
            warm_up.append(time.perf_counter() - t0)
        # the JVM launch is paid once per process; the worker warm-up that
        # follows it is repeated in fresh contexts and its median taken.
        # The first, cold cycle runs the build and incremental kernels, so it
        # is reported on its own (session.first_cycle_s), not as set-up.
        setup_s = starts[0] + statistics.median(warms) + prep_s
        out.update(setup_s=setup_s, gen_s=gen_s, prep_s=prep_s, warm_up_s=warm_up,
                   session_start_s=starts[0], session_restart_s=starts[1:],
                   session_warm_s=warms)

        deadline = time.perf_counter() + args.seconds
        while True:
            collect_garbage(spark)
            t0 = time.perf_counter()
            c = run.op("cycle", lambda: wl.cycle(traced=False))
            run.record_cycle(c, time.perf_counter() - t0)
            if time.perf_counter() >= deadline:
                break
        run.record_checks(run.op("final checks", wl.final_checks))

        if args.trace:
            # the decomposed plans are new to the JVM: warm them untraced
            run.op("traced warm-up cycle", lambda: wl.cycle(traced=True))
            collect_garbage(spark)
            tracer.enabled = True
            with tracer.span("cycle"):
                c = run.op("traced cycle", lambda: wl.cycle(traced=True))
            run.record_checks(c.checks)
            run.layer.update(c.layer)
            run.layer.update(run.op("layer probes", wl.layer_probes))
            tracer.enabled = False
            out["stage"] = tracing.fetch_stage_metrics(spark.sparkContext,
                                                       tracer.groups())
            out["spans"] = tracer.spans
    except Exception:
        out["error"] = traceback.format_exc()
    finally:
        if spark is not None:
            t0 = time.perf_counter()
            spark.stop()
            stops.append(time.perf_counter() - t0)
        stop_jvm()
    out.update(attempted=run.attempted, failed=run.failed,
               failures=run.failures, samples=run.samples, checks=run.checks,
               layer=run.layer, session_stop_s=stops)
    with open(args.result, "w") as f:
        json.dump(out, f, default=float)


if __name__ == "__main__":
    main()
