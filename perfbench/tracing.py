"""Spans around calls into the engine's layers, and the Spark stage
metrics of the jobs each span issued.

Spans live in the benchmark only: the engine itself is not instrumented.
Each span records its name, start, end, parent and run id; spans are
kept in memory and returned when the run ends.  A span that issues Spark
jobs sets a job group (``SparkContext.setJobGroup``) for its duration, so
the stage metrics that the driver's status REST API reports can be
attributed to it afterwards.
"""

from __future__ import annotations

import json
import time
import urllib.parse
import urllib.request
from collections import defaultdict
from contextlib import contextmanager

# Stage fields of /api/v1/applications/<app>/stages, and how to scale them
# into the reported unit (times in ms or ns become seconds).
STAGE_FIELDS = {
    "executor_run_s": ("executorRunTime", 1e-3),
    "executor_cpu_s": ("executorCpuTime", 1e-9),
    "jvm_gc_s": ("jvmGcTime", 1e-3),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "shuffle_read_bytes": ("shuffleReadBytes", 1),
    "spill_bytes": ("diskBytesSpilled", 1),
    "tasks": ("numCompleteTasks", 1),
    "task_failures": ("numFailedTasks", 1),
}


class Tracer:
    """Records nested spans.  A disabled tracer records nothing and sets
    no job group, so untraced runs pay only a context-manager call."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.sc = None  # set once a session is up: spans then set job groups
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "run": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        if self.sc is not None:
            self.sc.setJobGroup(self.group_id(sid), name)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self.sc is not None:
                if self._stack:
                    parent = self.spans[self._stack[-1]]
                    self.sc.setJobGroup(self.group_id(parent["id"]),
                                        parent["name"])
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)

    def group_id(self, sid: int) -> str:
        return f"{self.run_id}-{sid}"

    def groups(self) -> dict[str, str]:
        """Job group id -> span name."""
        return {self.group_id(s["id"]): s["name"] for s in self.spans}


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> self time: its duration minus the part of its interval
    that its direct children cover (overlapping children count once)."""
    children = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered, reach = 0.0, s["start"]
        for a, b in sorted(children[s["id"]]):
            a, b = max(a, reach), min(b, s["end"])
            if b > a:
                covered += b - a
                reach = b
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def self_time_by_name(spans: list[dict]) -> dict[str, float]:
    """Span name -> summed self time over every span of that name."""
    own = self_times(spans)
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        out[s["name"]] += own[s["id"]]
    return dict(out)


def attribute_stages(jobs: list[dict], stages: list[dict],
                     groups: dict[str, str]) -> dict[str, dict[str, float]]:
    """Sum stage metrics per span name.

    A stage that several jobs list (a reused shuffle) ran in the first of
    them; later jobs only skip it, so each stage is charged to the group
    of the lowest job id that lists it.  Every attempt of a stage counts."""
    owner: dict[int, str] = {}
    for job in sorted(jobs, key=lambda j: j["jobId"]):
        name = groups.get(job.get("jobGroup"))
        if name is None:
            continue
        for sid in job.get("stageIds", []):
            owner.setdefault(sid, name)
    out: dict[str, dict[str, float]] = {}
    for st in stages:
        name = owner.get(st["stageId"])
        if name is None:
            continue
        acc = out.setdefault(name, {k: 0.0 for k in STAGE_FIELDS})
        for key, (field, scale) in STAGE_FIELDS.items():
            acc[key] += st.get(field, 0) * scale
    return out


# longest wait for the status API to catch up with the finished jobs
STATUS_SETTLE_S = 10.0

# loopback only: never route the status API through a configured proxy
_OPENER = urllib.request.build_opener(urllib.request.ProxyHandler({}))


def _get_json(url: str):
    with _OPENER.open(url, timeout=10) as resp:
        return json.load(resp)


def fetch_stage_metrics(sc, groups: dict[str, str]) -> dict[str, dict[str, float]]:
    """Read jobs and stages back from the driver's status REST API at
    ``sc.uiWebUrl`` and attribute them to spans.  The listener that feeds
    the API runs behind the jobs, so poll until no job is running and two
    reads agree."""
    # the UI listens on every interface; read it over loopback
    port = urllib.parse.urlsplit(sc.uiWebUrl).port
    base = f"http://localhost:{port}/api/v1/applications/{sc.applicationId}"
    deadline = time.monotonic() + STATUS_SETTLE_S
    last = None
    while True:
        jobs = _get_json(f"{base}/jobs")
        stages = _get_json(f"{base}/stages")
        done = all(j["status"] != "RUNNING" for j in jobs) and \
            all(s["status"] != "ACTIVE" for s in stages)
        snapshot = (len(jobs), len(stages),
                    sum(s.get("numCompleteTasks", 0) for s in stages))
        if (done and snapshot == last) or time.monotonic() >= deadline:
            return attribute_stages(jobs, stages, groups)
        last = snapshot
        time.sleep(0.25)
