#!/usr/bin/env python
"""Per-query isolation profiler for the bench headline rows (guide §1).

For each named query (default: bench.HEADLINE): run min-of-N with the
noop sink (times the computation, not the sink — guide §1.4), record
wall + process-tree cpu, and write the formatted physical plan to
plans/r13/<name>_<tag>.txt.

    python tools/profile_headline.py [--tag before] [--only a,b] [--runs 3]

Noop vs bench: bench.py times fn().count() (the committed baseline
methodology); this tool exists for optimization work where count()'s
column pruning would hide per-column compute.  Both numbers are
reported so a row whose noop/count ratio is large flags count()-hidden
work.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--cpus", default=os.environ.get("SPARK_GRAFT_CPUS", "32"))
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--tag", default="before")
    ap.add_argument("--only", default="")
    ap.add_argument("--plans-dir", default=os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", "r13"))
    ap.add_argument("--no-plans", action="store_true")
    args = ap.parse_args()

    os.environ.setdefault("SPARK_GRAFT_ORACLE_SF", args.sf)

    import bench
    from bench import proc_tree_cpu

    names = [n for n in args.only.split(",") if n] or list(bench.HEADLINE)

    from pyspark.sql import SparkSession

    from hadoop_pcap_spark.session import SESSION_CONF

    spark = (
        SparkSession.builder.master(f"local[{args.cpus}]")
        .appName("profile-headline")
        .config(map=SESSION_CONF)
        .config("spark.sql.shuffle.partitions", args.cpus)
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "48g"))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from hadoop_pcap_spark import plans
    from hadoop_pcap_spark.operators.cache import release_persisted

    plans.load_all()
    os.makedirs(args.plans_dir, exist_ok=True)

    out = {}
    for name in names:
        fn = plans.QUERIES[name]
        spark.sparkContext.setJobDescription(f"profile:{name}")
        best_w = best_c = None
        frames = []
        nrows = None
        for _ in range(args.runs):
            c0 = proc_tree_cpu()
            t0 = time.time()
            df = fn(spark, args.sf)
            frames.append(df)
            df.write.format("noop").mode("overwrite").save()
            w = time.time() - t0
            c = proc_tree_cpu() - c0
            best_w = w if best_w is None else min(best_w, w)
            best_c = c if best_c is None else min(best_c, c)
        # one count() run for the bench-comparable number (warm cache)
        t0 = time.time()
        c0 = proc_tree_cpu()
        df = fn(spark, args.sf)
        frames.append(df)
        nrows = df.count()
        count_w = time.time() - t0
        count_c = proc_tree_cpu() - c0
        if not args.no_plans:
            plan = frames[-1]._sc._jvm.PythonSQLUtils.explainString(
                frames[-1]._jdf.queryExecution(), "formatted")
            with open(os.path.join(args.plans_dir, f"{name}_{args.tag}.txt"), "w") as f:
                f.write(plan)
        for df in frames:
            release_persisted(df)
        out[name] = {
            "noop_wall": round(best_w, 3), "noop_cpu": round(best_c, 3),
            "count_wall": round(count_w, 3), "count_cpu": round(count_c, 3),
            "rows": nrows,
        }
        print(f"# {name}: noop {out[name]['noop_wall']}s/{out[name]['noop_cpu']}cpu"
              f"  count {out[name]['count_wall']}s/{out[name]['count_cpu']}cpu"
              f"  ({nrows} rows)", file=sys.stderr, flush=True)
    print(json.dumps(out))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
