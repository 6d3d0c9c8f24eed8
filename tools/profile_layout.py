"""Measure the layout-rewrite operators' cost scaling and pruning
payoff (operators/layout.py).

The registry queries (layout_zorder_prune / layout_compact_files)
stage their rewrite ONCE behind a _SUCCESS witness, so probing them
via scaling_probe times the cheap post-rewrite scan — this tool times
the REWRITE itself, which is what a 100 TB deployment schedules:

* write_zordered over lineitem on (l_partkey, l_suppkey), output
  grain held at ~37.5k rows/file across SFs so the fit compares the
  same per-file work;
* compact_files over a 64-shard fragmented documents copy
  (fragmentation staged outside the timed region);
* footer-stats skippable fractions for the 2-D box and the
  second-dimension-only predicate — the payoff side of the ledger.

Prints one JSON line: per-SF wall/cpu (min-of-N, bench.py's
process-tree sampler) + alpha fits over the driving row counts.

Usage:
    python tools/profile_layout.py \
        [--sfs /root/testdata/sf0.1,/tmp/spark_graft_sf1] [--runs 2]
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import proc_tree_cpu  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--sfs", default="/root/testdata/sf0.1,/tmp/spark_graft_sf1"
    )
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--cpus", default=os.environ.get("SPARK_GRAFT_CPUS", "32"))
    args = ap.parse_args()
    if args.runs < 1:
        ap.error("--runs must be >= 1")
    sfs = [d for d in args.sfs.split(",") if d]
    for d in sfs:
        if not os.path.isdir(d):
            print(f"missing SF dir {d}", file=sys.stderr)
            return 2

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from hadoop_pcap_spark.operators.layout import (
        compact_files,
        rowgroup_prune_stats,
        write_zordered,
    )
    from hadoop_pcap_spark.session import SESSION_CONF

    spark = (
        SparkSession.builder.master(f"local[{args.cpus}]")
        .config(map=SESSION_CONF)
        .config("spark.sql.shuffle.partitions", args.cpus)
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    out: dict = {"runs": args.runs, "sfs": {}}
    for sf in sfs:
        li = spark.read.parquet(os.path.join(sf, "lineitem.parquet")).select(
            "l_orderkey", "l_partkey", "l_suppkey", "l_quantity"
        )
        n_li = li.count()
        n_files = max(8, round(n_li / 37500))
        zdir = tempfile.mkdtemp(prefix="prof_zorder_")
        zw = zc = None
        for _ in range(args.runs):
            c0, t0 = proc_tree_cpu(), time.time()
            write_zordered(li, zdir, ["l_partkey", "l_suppkey"], bits=8,
                           n_files=n_files)
            dt, dc = time.time() - t0, proc_tree_cpu() - c0
            zw = dt if zw is None else min(zw, dt)
            zc = dc if zc is None else min(zc, dc)
        pk = li.agg(F.max("l_partkey")).first()[0]
        sk = li.agg(F.max("l_suppkey")).first()[0]
        box = {"l_partkey": (0.0, pk * 0.25), "l_suppkey": (0.0, sk * 0.25)}
        second = {"l_suppkey": (0.0, sk * 0.25)}
        pr_box = rowgroup_prune_stats(zdir, box)
        pr_2nd = rowgroup_prune_stats(zdir, second)
        shutil.rmtree(zdir, ignore_errors=True)

        docs_src = os.path.join(sf, "documents.parquet")
        n_docs = spark.read.parquet(docs_src).count()
        frag = tempfile.mkdtemp(prefix="prof_frag_")
        spark.read.parquet(docs_src).repartition(64).write.mode(
            "overwrite"
        ).parquet(frag)
        cdir = tempfile.mkdtemp(prefix="prof_compact_")
        cw = cc = None
        for _ in range(args.runs):
            c0, t0 = proc_tree_cpu(), time.time()
            stats = compact_files(spark, frag, cdir, target_bytes=64 << 20)
            dt, dc = time.time() - t0, proc_tree_cpu() - c0
            cw = dt if cw is None else min(cw, dt)
            cc = dc if cc is None else min(cc, dc)
        shutil.rmtree(frag, ignore_errors=True)
        shutil.rmtree(cdir, ignore_errors=True)

        out["sfs"][sf] = {
            "lineitem_rows": n_li,
            "zorder_files": n_files,
            "zorder_wall_s": round(zw, 3),
            "zorder_cpu_s": round(zc, 2),
            "prune_box": pr_box,
            "prune_second_dim": pr_2nd,
            "documents_rows": n_docs,
            "compact": stats,
            "compact_wall_s": round(cw, 3),
            "compact_cpu_s": round(cc, 2),
        }

    if len(sfs) >= 2:
        a, b = out["sfs"][sfs[0]], out["sfs"][sfs[-1]]
        for op, rows_key, cpu_key in (
            ("zorder", "lineitem_rows", "zorder_cpu_s"),
            ("compact", "documents_rows", "compact_cpu_s"),
        ):
            ratio_n = b[rows_key] / a[rows_key]
            out[f"alpha_{op}_cpu"] = round(
                math.log(b[cpu_key] / a[cpu_key]) / math.log(ratio_n), 2
            )
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
