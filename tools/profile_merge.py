"""Scale evidence for merge_cdc's bucketing composition (VERDICT r7
item 7): apply a ~1% CDC batch to a 6M-row snapshot twice — against
the snapshot stored BUCKETED on the merge key vs stored plain — and
show (a) the bucketed side's plan carries ONE exchange (the change
batch's winner window; the snapshot never shuffles) vs two, and
(b) the measured cost delta.  This is the number a 100 TB deployment
cares about: the snapshot term of the merge is scan + sort only, so
the shuffle bill is proportional to the CHANGE BATCH, not the table.

The snapshot is sf1 lineitem (6M rows) under a minted surrogate key
(the synthetic testdata's (l_orderkey, l_linenumber) is not unique),
written once to parquet so both variants and the batch derive from
identical bytes.  Results go into SCALING.md by hand with the probe's
JSON line alongside.

Usage:
    python tools/profile_merge.py [--sf /tmp/spark_graft_sf1] [--runs 3]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import calibrate, proc_tree_cpu  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/tmp/spark_graft_sf1")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--cpus", default=os.environ.get("SPARK_GRAFT_CPUS", "16"))
    ap.add_argument("--buckets", type=int, default=16)
    args = ap.parse_args()

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from hadoop_pcap_spark.session import SESSION_CONF

    spark = (
        SparkSession.builder.master(f"local[{args.cpus}]")
        .appName("profile_merge")
        .config(map=SESSION_CONF)
        .config("spark.sql.shuffle.partitions", str(args.buckets))
        .config("spark.driver.memory", "24g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from hadoop_pcap_spark.operators.bucketing import write_bucketed
    from hadoop_pcap_spark.operators.merge import merge_cdc
    from hadoop_pcap_spark.staging import ensure_staged

    # one immutable snapshot parquet; surrogate key minted HERE so
    # every variant reads the same keyed bytes
    snap_dir = ensure_staged(
        f"profile_merge_snap_{os.path.basename(args.sf)}_",
        os.path.join(args.sf, "lineitem.parquet"),
        lambda tmp: (
            spark.read.parquet(os.path.join(args.sf, "lineitem.parquet"))
            .select(
                F.monotonically_increasing_id().alias("lkey"),
                "l_partkey",
                "l_suppkey",
                F.col("l_quantity").alias("qty"),
            )
            .write.mode("overwrite")
            .parquet(tmp)
        ),
    )
    snap = spark.read.parquet(snap_dir)
    n_snap = snap.count()

    t_bucketed = f"pm_snap_b{args.buckets}"
    spark.sql(f"DROP TABLE IF EXISTS {t_bucketed}")
    wh_dir = None
    try:
        write_bucketed(snap, t_bucketed, "lkey", n_buckets=args.buckets)
        from urllib.parse import urlparse

        wh_dir = os.path.join(
            urlparse(spark.conf.get("spark.sql.warehouse.dir")).path, t_bucketed
        )

        # ~1% change batch, 10% of it deletes
        chg = snap.filter(F.col("lkey") % 100 == 0).select(
            "lkey",
            "l_partkey",
            "l_suppkey",
            (F.col("qty") + 1).alias("qty"),
            F.lit(1).cast("long").alias("_seq"),
            F.when(F.col("lkey") % 1000 == 0, F.lit("D"))
            .otherwise(F.lit("U"))
            .alias("_op"),
        )
        n_chg = chg.count()

        variants = {
            "bucketed_snapshot": lambda: merge_cdc(
                spark.table(t_bucketed), chg, ["lkey"]
            ),
            "plain_snapshot": lambda: merge_cdc(snap, chg, ["lkey"]),
        }
        out = {
            "n_snapshot": n_snap,
            "n_change_batch": n_chg,
            "buckets": args.buckets,
            "calib": calibrate(),
        }
        for name, build in variants.items():
            df = build()
            plan = df._jdf.queryExecution().executedPlan().toString()
            n_ex = plan.count("Exchange") - plan.count("BroadcastExchange")
            best = best_cpu = None
            for _ in range(args.runs):
                c0, t0 = proc_tree_cpu(), time.time()
                build().write.mode("overwrite").format("noop").save()
                dt, dc = time.time() - t0, proc_tree_cpu() - c0
                best = dt if best is None else min(best, dt)
                best_cpu = dc if best_cpu is None else min(best_cpu, dc)
            out[name] = {
                "exchanges": n_ex,
                "wall_s": round(best, 2),
                "cpu_s": round(best_cpu, 2),
            }
            print(f"# {name}: {out[name]}", file=sys.stderr, flush=True)
        out["calib_end"] = calibrate()
        print(json.dumps(out))
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {t_bucketed}")
        if wh_dir:
            shutil.rmtree(wh_dir, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
