"""Benchmark entry point: one workload run, printed as one JSON line.

    python3 perfbench/run.py --workload sketch_rollup --seed 1 --seconds 20 --trace 0

Run from the repository root.  The workload runs in a child process
(``child.py``) in a process group of its own, with the engine and this
directory on the workers' import path and every temporary file inside a
per-run work directory under ``.perfbench/``.  After the child exits this
process waits for the JVM and the ``pyspark.daemon`` workers to exit,
kills what outlives a grace period, and fails the run if anything had to
be killed.  A host-health stamp is taken before and after.

The last stdout line is ``{"correct", "attempted", "failed", "metrics"}``:
end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``.  The line before it carries the details (spreads, sample
counts, set-up breakdown, health stamp, failures).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import host  # noqa: E402
import metrics  # noqa: E402
import procs  # noqa: E402
import tracing  # noqa: E402

CHILD_TIMEOUT_S = 150
REAP_GRACE_S = 15
STATE_DIR = os.path.join(ROOT, ".perfbench")
# per-layer metric -> the checks it reports the worst ratio of
CHECK_METRICS = {"check.ndv_err_over_bound": ("ndv_tokens", "ndv_groups"),
                 "check.cms_err_over_bound": ("cms",),
                 "check.kll_rank_err_over_bound": ("kll",)}


def child_env(token: str, work_dir: str) -> dict:
    env = dict(os.environ)
    for var in ("SPARK_GRAFT_MASTER", "SPARK_GRAFT_CHECKPOINT_DIR", "PYSPARK_SUBMIT_ARGS"):
        env.pop(var, None)
    env.update({
        # the Python workers import the engine and these modules by path:
        # without it every task fails with ModuleNotFoundError when the
        # run starts outside the repository root
        "PYTHONPATH": os.pathsep.join([ROOT, HERE]),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "PYTHONDONTWRITEBYTECODE": "1",
        "TMPDIR": os.path.join(work_dir, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(work_dir, "local"),
        procs.MARKER: token,
    })
    return env


def run_child(args, token: str, work_dir: str) -> tuple[dict | None, str | None]:
    """Run the workload child; returns (result, error)."""
    result_path = os.path.join(work_dir, "result.json")
    cmd = [sys.executable, os.path.join(HERE, "child.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work-dir", work_dir, "--cache-dir", os.path.join(STATE_DIR, "cache"),
           "--result", result_path]
    proc = subprocess.Popen(cmd, env=child_env(token, work_dir), cwd=work_dir,
                            stdout=sys.stderr.fileno(), stderr=sys.stderr.fileno(),
                            start_new_session=True)

    def on_signal(signum, _frame):
        procs.reap(token, proc.pid, 0)
        sys.exit(128 + signum)

    previous = {sig: signal.signal(sig, on_signal)
                for sig in (signal.SIGTERM, signal.SIGINT)}
    try:
        proc.wait(timeout=CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        procs.reap(token, proc.pid, 0)
        proc.wait()
        return None, f"workload child timed out after {CHILD_TIMEOUT_S}s"
    finally:
        for sig, handler in previous.items():
            signal.signal(sig, handler)
    if proc.returncode != 0 or not os.path.exists(result_path):
        return None, f"workload child exited with {proc.returncode}"
    with open(result_path) as f:
        out = json.load(f)
    if out.get("error"):
        return None, out["error"]
    return out, None


def median_or_zero(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def end_to_end(out: dict) -> dict[str, float]:
    s = out["samples"]
    return {"setup_s": out["setup_s"],
            "build_items_per_s": statistics.median(s["build_items_per_s"]),
            "incremental_s": statistics.median(s["incremental_s"])}


def per_layer(out: dict, pre: dict, post: dict, contended: bool,
              names: list[str]) -> dict[str, float]:
    """The per-layer metrics ``names``: what the run does not produce
    reports 0, and what ``names`` does not list is left out."""
    vals = dict.fromkeys(names, 0.0)
    vals.update(out["layer"])
    vals["session.start_s"] = out["session_start_s"]
    vals["session.warm_s"] = median_or_zero(out["session_warm_s"])
    vals["session.stop_s"] = median_or_zero(out["session_stop_s"])
    vals["session.first_cycle_s"] = out["warm_up_s"][0]
    for name, checks in CHECK_METRICS.items():
        vals[name] = max(out["checks"].get(c, 0.0) for c in checks)
    spans = out["spans"]
    for name, own in tracing.self_time_by_name(spans).items():
        vals[f"{name}_s"] = own
    root = next(s for s in spans if s["name"] == "cycle")
    glue = tracing.self_times(spans)[root["id"]]
    wall = root["end"] - root["start"]
    vals["trace.wall_s"] = wall
    vals["trace.overhead_s"] = wall - median_or_zero(out["samples"]["cycle_s"])
    vals["trace.layer_share"] = 1.0 - glue / wall
    for span, fields in out["stage"].items():
        for field, v in fields.items():
            vals[f"{span}.spark.{field}"] = v
            vals[f"spark.{field}"] = vals.get(f"spark.{field}", 0.0) + v
    for when, probe in (("pre", pre), ("post", post)):
        vals[f"host.cache_melems_{when}"] = probe["cache_melems"]
        vals[f"host.dram_melems_{when}"] = probe["dram_melems"]
    vals["host.contended"] = float(contended)
    return {k: vals[k] for k in names}


def main() -> int:
    spec = metrics.load_spec()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "python_hll_spark", "__init__.py")):
        print(f"perfbench: no python_hll_spark package under {ROOT}; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2

    token = uuid.uuid4().hex[:16]
    work_dir = os.path.join(STATE_DIR, "work", token)
    os.makedirs(os.path.join(work_dir, "tmp"))
    try:
        pre = host.probe()
        out, error = run_child(args, token, work_dir)
        leaked, unkillable = procs.reap(token, None, REAP_GRACE_S)
        post = host.probe()
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)
    for line in leaked + unkillable:
        print(f"perfbench: process outlived the run: {line}", file=sys.stderr)
    if error is not None:
        print(f"perfbench: {args.workload} failed:\n{error}", file=sys.stderr)
        return 1
    if unkillable:
        return 1

    contended = host.contended(pre, post)
    if contended:
        print(f"perfbench: host contended during the run: before {pre}, after {post}",
              file=sys.stderr)
    attempted = out["attempted"] + 1   # the leftover-process check
    failed = out["failed"] + (1 if leaked else 0)
    if args.trace:
        units = metrics.units(spec, "per_layer")
        values = per_layer(out, pre, post, contended, list(units))
    else:
        values = end_to_end(out)
        units = metrics.units(spec, "end_to_end")
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "samples": {k: metrics.summarize(v) for k, v in out["samples"].items() if v},
        "setup": {k: out[k] for k in ("setup_s", "gen_s", "prep_s", "warm_up_s",
                                      "session_start_s",
                                      "session_restart_s", "session_warm_s",
                                      "session_stop_s")},
        "checks": out["checks"], "failures": out["failures"], "leaked": leaked,
        "host": {"pre": pre, "post": post, "contended": contended,
                 "cores": host.cores()},
    }
    if args.trace:
        detail["spans"] = out["spans"]
    print(json.dumps({"perfbench_detail": detail}))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": float(values[k]), "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
