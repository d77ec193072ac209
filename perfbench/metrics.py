"""The metrics the benchmark reports, read from ``BENCHMARK.json`` at the
repository root, and the summary statistics it reports them with.

``BENCHMARK.json`` is the one list of workloads and metrics, with each
metric's unit and direction.  ``end_to_end`` metrics are what a user of
the engine sees; they are measured with tracing off.  ``per_layer``
metrics come from the traced run.  Every run prints every metric of its
mode; a layer that a workload does not exercise reports 0 (it did no
work).
"""

from __future__ import annotations

import json
import os
import re
import statistics

SPEC_PATH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                         "BENCHMARK.json")
NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT_RE = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


def load_spec() -> dict:
    """The content of BENCHMARK.json."""
    with open(SPEC_PATH) as f:
        return json.load(f)


def units(spec: dict, kind: str) -> dict[str, str]:
    """Metric name -> unit of the ``end_to_end`` or ``per_layer`` list."""
    return {m["name"]: m["unit"] for m in spec[kind]}


def valid_name(name: str) -> bool:
    return NAME_RE.fullmatch(name) is not None


def summarize(values: list[float]) -> dict:
    """Median, quartiles and sample count of one metric's samples."""
    vals = sorted(values)
    if len(vals) >= 2:
        q1, _, q3 = statistics.quantiles(vals, n=4)
    else:
        q1 = q3 = vals[0]
    return {"median": statistics.median(vals), "q1": q1, "q3": q3,
            "n": len(vals), "values": list(values)}
