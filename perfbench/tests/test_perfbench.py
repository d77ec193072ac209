"""Tests of the benchmark's own logic: self-time arithmetic, stage
attribution, metric names, the correctness checks, and the detector for
processes a run leaves behind.  No Spark session is started.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import textwrap
import time

import numpy as np
import pytest

import checks
import metrics
import procs
import run
import tracing
from conftest import BENCH, ROOT


# ------------------------------------------------------------ self time
def _span(sid, parent, start, end, name="x"):
    return {"id": sid, "name": name, "parent": parent, "run": "r",
            "start": start, "end": end}


def test_self_time_subtracts_children():
    spans = [_span(0, None, 0.0, 10.0, "root"),
             _span(1, 0, 1.0, 4.0, "a"),
             _span(2, 0, 5.0, 9.0, "b"),
             _span(3, 1, 2.0, 3.0, "c")]
    own = tracing.self_times(spans)
    assert own == pytest.approx({0: 3.0, 1: 2.0, 2: 4.0, 3: 1.0})
    # self times of a tree add up to the root's duration
    assert sum(own.values()) == pytest.approx(10.0)


def test_self_time_counts_overlapping_children_once():
    spans = [_span(0, None, 0.0, 10.0),
             _span(1, 0, 1.0, 6.0),
             _span(2, 0, 4.0, 8.0),     # overlaps 1 on [4, 6]
             _span(3, 0, 9.0, 12.0)]    # runs past the parent's end
    assert tracing.self_times(spans)[0] == pytest.approx(10.0 - 7.0 - 1.0)


def test_self_time_by_name_sums_repeated_spans():
    spans = [_span(0, None, 0.0, 10.0, "root"),
             _span(1, 0, 0.0, 2.0, "merge"),
             _span(2, 0, 3.0, 6.0, "merge")]
    assert tracing.self_time_by_name(spans) == pytest.approx(
        {"root": 5.0, "merge": 5.0})


def test_disabled_tracer_records_nothing():
    t = tracing.Tracer("r", enabled=False)
    with t.span("a"):
        pass
    assert t.spans == []


def test_enabled_tracer_nests_spans():
    t = tracing.Tracer("r", enabled=True)
    with t.span("outer"):
        with t.span("inner"):
            pass
    outer, inner = t.spans
    assert inner["parent"] == outer["id"] and outer["parent"] is None
    assert outer["start"] <= inner["start"] <= inner["end"] <= outer["end"]
    assert t.groups() == {"r-0": "outer", "r-1": "inner"}


def test_stage_attribution_charges_reused_stage_to_first_job():
    groups = {"g-0": "aggregate.token_partials", "g-1": "aggregate.token_merge"}
    jobs = [{"jobId": 1, "jobGroup": "g-1", "stageIds": [3, 4]},
            {"jobId": 0, "jobGroup": "g-0", "stageIds": [3]},
            {"jobId": 2, "jobGroup": None, "stageIds": [5]}]
    stages = [{"stageId": 3, "executorRunTime": 2000, "executorCpuTime": 10**9,
               "shuffleWriteBytes": 100},
              {"stageId": 4, "executorRunTime": 500, "shuffleReadBytes": 100,
               "numFailedTasks": 1},
              {"stageId": 5, "executorRunTime": 999}]
    out = tracing.attribute_stages(jobs, stages, groups)
    assert out["aggregate.token_partials"]["executor_run_s"] == pytest.approx(2.0)
    assert out["aggregate.token_partials"]["executor_cpu_s"] == pytest.approx(1.0)
    assert out["aggregate.token_merge"]["executor_run_s"] == pytest.approx(0.5)
    assert out["aggregate.token_merge"]["task_failures"] == 1
    assert set(out) == set(groups.values())


# --------------------------------------------------------- metric names
SPEC = metrics.load_spec()
END_TO_END = metrics.units(SPEC, "end_to_end")
PER_LAYER = metrics.units(SPEC, "per_layer")


def test_metric_names_follow_the_rule():
    names = [w["name"] for w in SPEC["workloads"]] + list(END_TO_END) + list(PER_LAYER)
    assert len(names) == len(set(names))
    assert all(metrics.valid_name(n) for n in names), \
        [n for n in names if not metrics.valid_name(n)]
    units = list(END_TO_END.values()) + list(PER_LAYER.values())
    assert all(metrics.UNIT_RE.fullmatch(u) for u in units)
    assert 1 <= len(PER_LAYER) <= 128


@pytest.mark.parametrize("bad", ["", "a b", "é", "x" * 65, "_lead", "a/b", "a:b"])
def test_metric_name_rule_rejects(bad):
    assert not metrics.valid_name(bad)


def test_benchmark_json_keys_bounds_and_directions():
    spec = SPEC
    assert set(spec["paths"]) == {os.path.basename(BENCH)}
    assert all(len(w["why"]) <= 200 and "\n" not in w["why"] for w in spec["workloads"])
    assert len(json.dumps(spec)) < 64 * 1024
    assert all(set(m) == {"name", "unit", "better", "bound"} for m in spec["end_to_end"])
    assert all(set(m) == {"name", "unit", "better"} for m in spec["per_layer"])
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    assert all(0 < b <= 0.25 for b in bounds.values())
    assert bounds["setup_s"] == max(bounds.values())
    better = {m["name"]: m["better"]
              for m in spec["end_to_end"] + spec["per_layer"]}
    assert set(better.values()) <= {"higher", "lower"}
    for name, want in [("setup_s", "lower"), ("build_items_per_s", "higher"),
                       ("incremental_s", "lower"), ("store.bytes_per_state", "lower"),
                       ("sketches.hll_full.state_bytes", "lower"),
                       ("sketches.hll_sparse.update_mvals_per_s", "higher"),
                       ("sketches.cms.deserialize_per_s", "higher"),
                       ("dedup.near_dup_recall", "higher"),
                       ("trace.layer_share", "higher"),
                       ("aggregate.token_partials_s", "lower")]:
        assert better[name] == want, name


def test_end_to_end_and_per_layer_values_cover_every_metric():
    out = {
        "setup_s": 10.0, "gen_s": 0.0, "session_start_s": 5.0,
        "session_warm_s": [2.0, 1.0, 1.5], "session_stop_s": [0.5, 0.7],
        "warm_up_s": [9.0, 4.0],
        "samples": {"build_items_per_s": [3.0, 1.0, 2.0], "incremental_s": [1.0, 2.0],
                    "cycle_s": [4.0, 5.0]},
        "checks": {"ndv_tokens": 0.5, "ndv_groups": 0.25}, "layer": {"store.files": 4},
        "spans": [_span(0, None, 0.0, 6.0, "cycle"),
                  _span(1, 0, 0.0, 3.7, "aggregate.token_partials"),
                  _span(2, 0, 3.7, 5.7, "aggregate.group_merge")],
        "stage": {"aggregate.token_partials": {k: 1.0 for k in tracing.STAGE_FIELDS},
                  "profile.token_profile": {k: 2.0 for k in tracing.STAGE_FIELDS}},
    }
    e2e = run.end_to_end(out)
    assert set(e2e) == set(END_TO_END)
    assert e2e["build_items_per_s"] == 2.0 and e2e["incremental_s"] == 1.5
    probe = {"cache_melems": 1.0, "dram_melems": 1.0}
    layer = run.per_layer(out, probe, probe, False, list(PER_LAYER))
    assert list(layer) == list(PER_LAYER)
    assert layer["session.first_cycle_s"] == 9.0
    assert layer["aggregate.token_partials_s"] == pytest.approx(3.7)
    assert layer["aggregate.group_merge_s"] == pytest.approx(2.0)
    assert layer["aggregate.scalar_partials_s"] == 0.0
    assert layer["trace.layer_share"] == pytest.approx(0.95)
    assert layer["trace.overhead_s"] == pytest.approx(1.5)
    assert layer["aggregate.token_partials.spark.executor_cpu_s"] == 1.0
    # stages of spans not listed one by one still count in the totals
    assert layer["spark.tasks"] == 3.0
    assert layer["check.ndv_err_over_bound"] == 0.5


# ---------------------------------------------------- correctness checks
def test_hll_check_bound_and_missing_group():
    ratio, ok = checks.hll_err_over_bound({"a": 1040, "b": 1000}, {"a": 1000, "b": 1000},
                                          0.01)
    assert ratio == pytest.approx(0.04 / (checks.HLL_SIGMAS * 0.01)) and ok
    assert not checks.hll_err_over_bound({"a": 1100}, {"a": 1000}, 0.01)[1]
    assert not checks.hll_err_over_bound({"a": 1000}, {"a": 1000, "b": 5}, 0.01)[1]


def test_cms_check_rejects_undercount_and_large_overcount():
    assert checks.cms_err_over_bound([10, 21], [10, 20], 0.01, 1000) == (0.1, True)
    assert not checks.cms_err_over_bound([9, 20], [10, 20], 0.01, 1000)[1]
    assert not checks.cms_err_over_bound([10, 31], [10, 20], 0.01, 1000)[1]


def test_rank_error_uses_tie_interval():
    data = np.array([1, 2, 2, 2, 3], dtype=float)
    # 2 covers ranks [0.2, 0.8]: any q in there is exact
    assert checks.rank_error(data, np.array([0.3, 0.7]), np.array([2.0, 2.0])) == 0.0
    assert checks.rank_error(data, np.array([0.9]), np.array([2.0])) == pytest.approx(0.1)


def test_dedup_outcome():
    out = checks.dedup_outcome({"a", "b", "n2"}, keep={"a", "b"}, exact_copies={"e1"},
                               near_copies={"n1", "n2"})
    assert out == {"kept_ok": True, "exact_removed_ok": True,
                   "near_removed": 1, "near_total": 2}
    assert not checks.dedup_outcome({"a"}, {"a", "b"}, set(), set())["kept_ok"]
    assert not checks.dedup_outcome({"a", "e1"}, {"a"}, {"e1"}, set())["exact_removed_ok"]


def test_token_checks_on_tiny_seed(tmp_path):
    """Exact answers of a tiny seed against sketches built driver-side with
    the engine's kernels: every check passes, and a corrupted estimate
    fails."""
    from python_hll_spark.functions.hashing import splitmix64
    from python_hll_spark.sketches.cms import CMSConfig, CMSSketch
    from python_hll_spark.sketches.hll import HLLSketch
    from python_hll_spark.sketches.kll import KLLConfig, KLLSketch
    from workloads import HLL_CFG, TokenBuild, docs_table

    docs = docs_table(np.arange(700, 1000))
    wl = TokenBuild.__new__(TokenBuild)
    wl._exact(docs, str(tmp_path))
    with open(tmp_path / "exact.json") as f:
        exact = json.load(f)
    src = np.asarray(docs["source"].to_pylist())
    lengths = docs["n_tok"].to_numpy()
    flat = docs["tokens"].combine_chunks().flatten().to_numpy().astype(np.int64)
    tok_src = np.repeat(src, lengths)
    est = {}
    for s, (toks, counts) in exact["top"].items():
        hashed = splitmix64(flat[tok_src == s])
        hll = HLLSketch(HLL_CFG)
        hll.add_hashed(hashed)
        est[s] = hll.cardinality()
        cms = CMSSketch(CMSConfig(depth=5, width=16384))
        cms.update(hashed)
        got = cms.estimate(splitmix64(np.asarray(toks, dtype=np.int64)))
        assert checks.cms_err_over_bound(got, counts, cms.cfg.eps,
                                         exact["n_values"][s])[1]
        kll = KLLSketch(KLLConfig(k=200))
        kll.update(lengths[src == s].astype(float))
        assert checks.kll_err_over_bound(np.asarray(exact["n_tok"][s]), TokenBuild.QS,
                                         kll.quantile(TokenBuild.QS),
                                         kll.cfg.rank_error)[1]
        assert counts[0] == int((flat[tok_src == s] == toks[0]).sum())
    assert checks.hll_err_over_bound(est, exact["ndv"], HLL_CFG.error_bound)[1]
    bad = dict(est, web=int(est["web"] * 1.5))
    assert not checks.hll_err_over_bound(bad, exact["ndv"], HLL_CFG.error_bound)[1]


# ------------------------------------------------- leftover processes
_SPAWNER = textwrap.dedent("""
    import os, subprocess, sys, time
    # a grandchild in a process group of its own, like pyspark.daemon
    subprocess.Popen([sys.executable, "-c", "import time; time.sleep(600)"],
                     start_new_session=True)
    time.sleep(float(sys.argv[1]))
""")


def _spawn_marked(token: str, hold: float) -> subprocess.Popen:
    env = dict(os.environ, **{procs.MARKER: token})
    return subprocess.Popen([sys.executable, "-c", _SPAWNER, str(hold)], env=env,
                            start_new_session=True)


def _wait_for(pred, timeout=10.0):
    deadline = time.monotonic() + timeout
    while not pred() and time.monotonic() < deadline:
        time.sleep(0.05)
    return pred()


def test_detector_finds_marked_processes_and_reap_kills_them():
    token = "test-" + os.urandom(4).hex()
    child = _spawn_marked(token, hold=0)
    child.wait(timeout=10)
    # the parent exited; its grandchild in another process group lives on
    assert _wait_for(lambda: len(procs.marked_pids(token)) == 1)
    other = _spawn_marked("other-" + token, hold=600)
    try:
        leaked, unkillable = procs.reap(token, None, grace=0.2)
        assert len(leaked) == 1 and "time.sleep(600)" in leaked[0]
        assert unkillable == []
        assert procs.marked_pids(token) == []
        # a process of another run is left alone
        assert other.poll() is None
    finally:
        procs.reap("other-" + token, other.pid, 0)
        other.wait(timeout=10)


def test_clean_run_reaps_nothing():
    token = "test-" + os.urandom(4).hex()
    env = dict(os.environ, **{procs.MARKER: token})
    subprocess.run([sys.executable, "-c", "pass"], env=env, check=True)
    assert procs.reap(token, None, grace=0.5) == ([], [])


def test_child_killed_at_timeout_leaves_nothing(tmp_path, monkeypatch):
    """run_child on a child that hangs: it is killed at the timeout,
    together with the grandchild that left its process group."""
    fake = tmp_path / "child.py"
    fake.write_text(_SPAWNER.replace("float(sys.argv[1])", "600"))
    monkeypatch.setattr(run, "HERE", str(tmp_path))
    monkeypatch.setattr(run, "CHILD_TIMEOUT_S", 1)
    token = "test-" + os.urandom(4).hex()
    args = type("A", (), {"workload": "near_dedup", "seed": 0, "seconds": 1,
                          "trace": 0})()
    work = tmp_path / "work"
    (work / "tmp").mkdir(parents=True)
    out, error = run.run_child(args, token, str(work))
    assert out is None and "timed out" in error
    assert procs.marked_pids(token) == []


def test_fails_without_the_package(tmp_path):
    """In a directory holding only BENCHMARK.json and the benchmark,
    run.py exits non-zero and prints no result."""
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("tests", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    res = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "near_dedup",
                          "--seed", "1", "--seconds", "1", "--trace", "0"],
                         cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert res.returncode != 0
    assert res.stdout == ""
