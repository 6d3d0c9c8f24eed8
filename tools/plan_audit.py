#!/usr/bin/env python
"""Physical-plan audit across the full query registry → PLANS.md.

For every registered query: number of shuffle exchanges, join
strategies, Python-eval presence, and whether the scan carries pushed
filters.  The generated table is the at-a-glance evidence that no
query degenerates (cartesian, nested-loop on a big side, row-Python)
as the registry grows — the per-query claims live in docstrings and
tests/test_plans.py; this is the whole-surface snapshot.

    python tools/plan_audit.py [out.md]      # default: rewrites PLANS.md

Point ``SPARK_GRAFT_SF_DIR`` at a scaled dataset (see
tools/make_scaled_sf.py) and pass an explicit output path to snapshot
the plan surface at a different SF without clobbering the sf0.01
baseline — ``diff PLANS.md PLANS_sf1.md`` then shows exactly which
joins AQE re-plans as data grows.
"""

from __future__ import annotations

import argparse
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

JOIN_OPS = [
    "BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
    "BroadcastNestedLoopJoin", "CartesianProduct",
]


def main() -> int:
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("out", nargs="?", default=os.path.join(root, "PLANS.md"))
    dst = ap.parse_args().out

    from hadoop_pcap_spark.plans import ORACLES, QUERIES, load_all
    from hadoop_pcap_spark.session import get_spark

    load_all()
    spark = get_spark(cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    rows = []
    for name, fn in QUERIES.items():
        try:
            plan = fn(spark, SF)._jdf.queryExecution().executedPlan().toString()
        except Exception as exc:  # surfaced in the doc AND the exit code
            msg = re.sub(r"[|\r\n]+", " ", str(exc))[:60]
            rows.append((name, "ERROR", msg, "ERROR", "", "ERROR"))
            continue
        # every shuffle exchange kind (hash/range/SinglePartition);
        # BroadcastExchange is not a shuffle and is excluded
        n_ex = plan.count("Exchange") - plan.count("BroadcastExchange")
        joins = "+".join(
            f"{op}×{plan.count(op)}" if plan.count(op) > 1 else op
            for op in JOIN_OPS
            if op in plan
        ) or "—"
        pushed = "yes" if re.search(r"PushedFilters: \[[^\]]", plan) else "—"
        # row-Python detection must be independent of the Arrow
        # branches — a plan can contain both, and BatchEvalPython is
        # the degeneracy this audit exists to catch
        py_kinds = []
        if "BatchEvalPython" in plan:
            py_kinds.append("BatchEvalPython!")
        if "ArrowEval" in plan:
            py_kinds.append("ArrowEval")
        if "MapInArrow" in plan or "MapInPandas" in plan or "FlatMapGroupsInPandas" in plan:
            py_kinds.append("mapInArrow/Pandas")
        py = "+".join(py_kinds) or "—"
        oracle = "oracle" if name in ORACLES else "rows-only"
        rows.append((name, oracle, str(n_ex), joins, pushed, py))

    out = [
        "# PLANS — physical-plan audit of every registered query",
        "",
        f"Auto-generated by `python tools/plan_audit.py` at {SF} "
        "(plan shapes are size-dependent: at this SF most dims fit the "
        "broadcast threshold; at scale AQE flips eligible joins to SMJ).",
        "",
        "| query | check | exchanges | joins | pushed filters | python |",
        "|---|---|---|---|---|---|",
    ]
    for r in sorted(rows):
        out.append("| " + " | ".join(r) + " |")
    bad = [
        r
        for r in rows
        if "CartesianProduct" in r[3] or "BatchEvalPython" in r[5] or r[1] == "ERROR"
    ]
    out.append("")
    out.append(
        f"{len(rows)} queries; degenerate plans (cartesian / row-Python / "
        "failed-to-plan): "
        + (", ".join(r[0] for r in bad) if bad else "none")
        + "."
    )
    with open(dst, "w") as f:
        f.write("\n".join(out) + "\n")
    print(f"wrote {dst} ({len(rows)} queries, {len(bad)} degenerate)")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
