"""Round-6 plan audit: dump .explain('formatted') for EVERY registered
query (at sf0.001 so eager pieces are tiny) and grep each plan for the
optimization-guide red flags — BatchEvalPython (row-at-a-time Python),
CartesianProduct, SortMergeJoin, Exchange count, missing PushedFilters —
and count its Python crossings (``MapInArrow`` nodes in the plan tree).

Usage: python scripts/plan_audit.py [outdir] [only...]
Writes <outdir>/<query>.txt and prints one summary line per query.
"""

import io
import os
import re
import sys
import contextlib

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as entrymod  # noqa: E402
from python_hll_spark.plans.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("PLAN_AUDIT_SF", "/root/testdata/sf0.001")
OUTDIR = sys.argv[1] if len(sys.argv) > 1 else "/tmp/plan_audit"
ONLY = set(sys.argv[2:])


def main():
    qs = entrymod.queries()
    if ONLY and not ONLY & qs.keys():
        sys.exit(f"no queries matched {sorted(ONLY)}")
    os.makedirs(OUTDIR, exist_ok=True)
    spark = get_spark("plan-audit", master="local[4]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    rows = []
    for name, fn in qs.items():
        if ONLY and name not in ONLY:
            continue
        try:
            df = fn(spark, SF_DIR)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            plan = buf.getvalue()
        except Exception as e:  # noqa: BLE001
            rows.append((name, f"ERROR {type(e).__name__}: {e}"))
            continue
        with open(os.path.join(OUTDIR, f"{name}.txt"), "w") as f:
            f.write(plan)
        n_ex = len(re.findall(r"\bExchange\b", plan))
        n_bep = len(re.findall(r"BatchEvalPython", plan))
        n_aep = len(re.findall(r"ArrowEvalPython", plan))
        n_smj = len(re.findall(r"SortMergeJoin", plan))
        n_cart = len(re.findall(r"CartesianProduct|BroadcastNestedLoop",
                                plan))
        n_bhj = len(re.findall(r"BroadcastHashJoin", plan))
        # the formatted plan repeats each node in its details section;
        # count the tree only
        n_mia = plan.split("\n\n", 1)[0].count("MapInArrow")
        n_shj = len(re.findall(r"ShuffledHashJoin", plan))
        flags = []
        if n_bep:
            flags.append(f"BatchEvalPython={n_bep}")
        if n_smj:
            flags.append(f"SMJ={n_smj}")
        if n_cart:
            flags.append(f"NESTEDLOOP={n_cart}")
        rows.append((name,
                     f"Exchange={n_ex} ArrowPy={n_aep} MapInArrow={n_mia} "
                     f"BHJ={n_bhj} SHJ={n_shj} "
                     + (" ".join(flags) if flags else "ok")))
    width = max(len(n) for n, _ in rows)
    for name, summary in rows:
        print(f"{name:<{width}}  {summary}")
    spark.stop()


if __name__ == "__main__":
    main()
