"""Profile streaming_flow_counts' cpu cost (VERDICT r5 item 3).

BENCH_r05 charges the stateful flow counter 19.6 cpu-s for 1.3 s wall
— the heaviest row in the suite.  This script decomposes that cost by
running ablated variants of the same query shape over the same staged
events (one micro-batch, 100k rows / 1500 keys at sf0.1):

  builtin_agg    streaming groupBy count/sum (no Python, state store
                 only) — the JVM floor
  state_noop     applyInPandasWithState whose update() drains the
                 input and returns (no state, no output) — adds the
                 Arrow boundary + per-key Python call
  state_no_out   update() reads+writes state but emits nothing —
                 adds state (de)serialization
  full           the real operator — adds per-key output DataFrames

Each variant: min-of-N wall + process-tree cpu (bench.py's counters).
Run:  python tools/profile_streaming.py [--sf /root/testdata/sf0.1]
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import proc_tree_cpu  # noqa: E402


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--cpus", default=os.environ.get("SPARK_GRAFT_CPUS", "32"))
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--partitions", default=None,
                    help="shuffle partitions (default: --cpus)")
    ap.add_argument("--provider", default="hdfs", choices=["hdfs", "rocksdb"],
                    help="state-store provider. Measured at sf0.1/8 "
                         "partitions on local[32]: the full flow counter "
                         "costs 8.4 cpu-s on either; at big per-key "
                         "state rocksdb is the scalability choice "
                         "(off-heap, incremental snapshots).  NOTE: the "
                         "transformWithStateInPandas API (Spark 4's "
                         "successor to applyInPandasWithState) is "
                         "env-blocked here — its state-server protocol "
                         "needs a protobuf>=5.26 runtime this image "
                         "does not ship.")
    args = ap.parse_args()
    parts = args.partitions or args.cpus
    _PROVIDERS = {
        "hdfs": "org.apache.spark.sql.execution.streaming.state."
                "HDFSBackedStateStoreProvider",
        "rocksdb": "org.apache.spark.sql.execution.streaming.state."
                   "RocksDBStateStoreProvider",
    }

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from hadoop_pcap_spark.session import SESSION_CONF

    spark = (
        SparkSession.builder.master(f"local[{args.cpus}]")
        .appName("profile_streaming")
        .config(map=SESSION_CONF)
        .config("spark.sql.shuffle.partitions", parts)
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "48g"))
        .config("spark.sql.streaming.stateStore.providerClass",
                _PROVIDERS[args.provider])
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from hadoop_pcap_spark import plans

    stage = tempfile.mkdtemp(prefix="prof_stream_events_")
    (
        plans.table(spark, args.sf, "events")
        .select("user_id", "value")
        .repartition(int(args.cpus))
        .write.mode("overwrite")
        .parquet(stage)
    )

    def src():
        return spark.readStream.schema("user_id long, value double").parquet(stage)

    def run(name, build, output_mode):
        best = best_cpu = None
        for _ in range(args.runs):
            ckpt = tempfile.mkdtemp(prefix="prof_stream_ckpt_")
            c0 = proc_tree_cpu()
            t0 = time.time()
            q = (
                build()
                .writeStream.outputMode(output_mode)
                .format("noop")
                .option("checkpointLocation", ckpt)
                .start()
            )
            q.processAllAvailable()
            q.stop()
            dt, dc = time.time() - t0, proc_tree_cpu() - c0
            shutil.rmtree(ckpt, ignore_errors=True)
            best = dt if best is None else min(best, dt)
            best_cpu = dc if best_cpu is None else min(best_cpu, dc)
        print(f"{name:16s} wall {best:7.3f}s   cpu {best_cpu:7.3f}s", flush=True)

    OUT = "user_id LONG, n_events LONG, total_value DOUBLE, batch_events LONG"
    STATE = "n LONG, total DOUBLE"

    def builtin_agg():
        return (
            src().groupBy("user_id")
            .agg(F.count("*").alias("n_events"), F.sum("value").alias("total_value"))
        )

    def state_noop():
        def update(key, pdfs, state):
            for _ in pdfs:
                pass
            return iter(())

        return src().groupBy("user_id").applyInPandasWithState(
            update, OUT, STATE, "update", "NoTimeout"
        )

    def state_no_out():
        def update(key, pdfs, state):
            n, total = state.get if state.exists else (0, 0.0)
            for pdf in pdfs:
                n += len(pdf)
                total += float(pdf["value"].sum())
            state.update((n, float(total)))
            return iter(())

        return src().groupBy("user_id").applyInPandasWithState(
            update, OUT, STATE, "update", "NoTimeout"
        )

    def full():
        from hadoop_pcap_spark.streaming.stream import stateful_flow_counts

        return stateful_flow_counts(src())

    run("builtin_agg", builtin_agg, "update")
    run("state_noop", state_noop, "update")
    run("state_no_out", state_no_out, "update")
    run("full", full, "update")
    shutil.rmtree(stage, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
