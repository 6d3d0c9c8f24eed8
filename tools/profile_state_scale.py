"""Streaming state-store cost at realistic key cardinality (VERDICT
r11 item 6): the registry's stateful rows run at ~1.5k keys; this
probe drives the SAME operator shapes at 10k / 100k / 1M keys on the
RocksDB provider and records the per-key state cost curve, so the
SCALING.md / BASELINE.md sizing guidance rests on measurement.

Shapes probed (two micro-batches each; batch 2 re-touches EVERY key,
so its duration is the steady-state cost of loading + committing a
store holding K entries):

  builtin_agg   streaming groupBy count/sum — JVM state only, the
                floor every stateful query pays
  dedup_keys    withWatermark + dropDuplicates — the
                dedup-within-watermark state shape (one entry/key)
  flow_counts   applyInPandasWithState per-key counters — adds the
                Arrow boundary + one Python update() call PER KEY

Per (shape, K): wall + process-tree cpu for the whole run, per-batch
durations from StreamingQueryProgress, state rows from the operator
metrics, and batch-2-duration / K as per_key_us — the curve number.

Run:  python tools/profile_state_scale.py [--keys 10000,100000,1000000]
      [--partitions 8,32] [--cpus 32] [--shapes builtin_agg,dedup_keys,flow_counts]

One JSON line per measurement on stdout (# lines are progress).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import proc_tree_cpu  # noqa: E402

_ROCKSDB = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def stage_keys(spark, n_keys: int, files_per_batch: int) -> str:
    """Two identical key batches as two file groups: with
    maxFilesPerTrigger=files_per_batch the query runs exactly two
    micro-batches and batch 2 updates every existing key."""
    from pyspark.sql import functions as F

    d = tempfile.mkdtemp(prefix=f"state_scale_{n_keys}_")
    base = (
        spark.range(n_keys)
        .select(
            F.col("id").alias("user_id"),
            (F.col("id") % 997 / 997.0).alias("value"),
            F.expr(
                "timestamp'2026-01-01 00:00:00' + (id % 600) * INTERVAL 1 SECOND"
            ).alias("ts"),
        )
        .repartition(files_per_batch)
    )
    # two writes ⇒ 2×files_per_batch files; mtime order is not relied
    # on (same data either way)
    base.write.mode("overwrite").parquet(d)
    base.write.mode("append").parquet(d)
    return d


def run_shape(spark, name: str, build, output_mode: str, n_keys: int,
              partitions: str) -> dict:
    spark.conf.set("spark.sql.shuffle.partitions", partitions)
    ckpt = tempfile.mkdtemp(prefix="state_scale_ckpt_")
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
    progress = [json.loads(p.json) for p in q.recentProgress]
    q.stop()
    wall = round(time.time() - t0, 3)
    cpu = round(proc_tree_cpu() - c0, 3)
    shutil.rmtree(ckpt, ignore_errors=True)
    batches = [
        {
            "rows": p.get("numInputRows"),
            "duration_ms": p.get("durationMs", {}).get("triggerExecution"),
            "state_rows": (p.get("stateOperators") or [{}])[0].get(
                "numRowsTotal"
            ),
            "commit_ms": (p.get("stateOperators") or [{}])[0].get(
                "commitTimeMs"
            ),
        }
        for p in progress
        if p.get("numInputRows")
    ]
    steady = batches[-1]["duration_ms"] if batches else None
    return {
        "shape": name,
        "keys": n_keys,
        "partitions": int(partitions),
        "wall_s": wall,
        "cpu_s": cpu,
        "batches": batches,
        "per_key_us_steady": (
            round(steady * 1000.0 / n_keys, 3) if steady else None
        ),
    }


def run_ann_screen(spark, n_vecs: int, partitions: str,
                   batch_size: int = 200, dim: int = 16,
                   n_cells: int = 32, n_probe: int = 4) -> dict:
    """The streaming ANN screen over an index of ``n_vecs`` codes
    (initial write + one append covering the last ~10% — the
    appended-index case; corpora at or below the 2048-vector training
    floor fit entirely in the initial write and skip the append):
    two query micro-batches of ``batch_size`` vectors each.  The quantity under
    test is the screen's cost law, per-batch ≈
    O(batch × n_probe × n_vecs / n_cells) — the probed CANDIDATE
    budget: runs at the same corpus with different n_probe must scale
    ~linearly in n_probe, and the budget (not the corpus) is what a
    deployment holds flat by scaling n_cells with corpus size."""
    from pyspark.sql import functions as F

    from hadoop_pcap_spark.operators.ann_index import (
        append_ann_index,
        read_ann_index,
        write_ann_index,
    )
    from hadoop_pcap_spark.streaming.stream import streaming_ann_screen

    spark.conf.set("spark.sql.shuffle.partitions", partitions)

    def vecs(lo: int, hi: int):
        return spark.range(lo, hi).select(
            F.col("id").alias("vec_id"),
            F.transform(
                F.sequence(F.lit(1), F.lit(dim)),
                lambda j: ((F.col("id") * j % 1000) / 500.0 - 1.0),
            ).alias("embedding"),
        )

    table = f"state_scale_ann_{n_vecs}_{n_cells}"
    for t in (table, table + "__model", table + "__compacting"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    # clamp to the corpus: without min(), small --keys values would
    # index MORE vectors than the corpus holds (phantom ids silently
    # dropping at the rerank join, skewing the reported cost law —
    # review r12 finding); the append is skipped when the initial
    # write already covered everything
    cut = min(n_vecs, max(2048, int(n_vecs * 0.9)))
    t0 = time.time()
    write_ann_index(
        vecs(0, cut), table, n_cells=n_cells,
        sample_size=max(1024, 4 * n_cells),
    )
    idx = read_ann_index(spark, table)
    if cut < n_vecs:
        append_ann_index(idx, vecs(cut, n_vecs))
    build_s = round(time.time() - t0, 3)

    qdir = tempfile.mkdtemp(prefix="state_scale_annq_")
    q1 = vecs(10**9, 10**9 + batch_size).repartition(4)
    q1.write.mode("overwrite").parquet(qdir)
    vecs(2 * 10**9, 2 * 10**9 + batch_size).repartition(4).write.mode(
        "append"
    ).parquet(qdir)
    sink = tempfile.mkdtemp(prefix="state_scale_annsink_")
    ckpt = tempfile.mkdtemp(prefix="state_scale_annckpt_")
    corpus = vecs(0, n_vecs)
    c0 = proc_tree_cpu()
    t0 = time.time()
    q = (
        streaming_ann_screen(
            spark.readStream.schema(q1.schema)
            .option("maxFilesPerTrigger", 4)
            .parquet(qdir),
            idx,
            corpus,
            sink,
            n_probe=n_probe,
        )
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.processAllAvailable()
    progress = [json.loads(p.json) for p in q.recentProgress]
    q.stop()
    wall = round(time.time() - t0, 3)
    cpu = round(proc_tree_cpu() - c0, 3)
    for d in (qdir, sink, ckpt):
        shutil.rmtree(d, ignore_errors=True)
    for t in (table, table + "__model"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    batches = [
        {
            "rows": p.get("numInputRows"),
            "duration_ms": p.get("durationMs", {}).get("triggerExecution"),
        }
        for p in progress
        if p.get("numInputRows")
    ]
    return {
        "shape": "ann_screen",
        "keys": n_vecs,
        "partitions": int(partitions),
        "batch_size": batch_size,
        "n_cells": n_cells,
        "n_probe": n_probe,
        "candidates_per_query": int(n_probe * n_vecs / n_cells),
        "index_build_s": build_s,
        "wall_s": wall,
        "cpu_s": cpu,
        "batches": batches,
        # divisor is batch_size, NOT the progress numInputRows: with
        # foreachBatch the batch frame is executed more than once per
        # trigger (head(1) + the bucket-prune query collect), and
        # numInputRows sums source rows across those executions
        # (observed 453 for a 200-query batch)
        "per_query_ms_steady": (
            round(batches[-1]["duration_ms"] / batch_size, 3)
            if batches
            else None
        ),
        "per_candidate_us_steady": (
            round(
                batches[-1]["duration_ms"]
                * 1000.0
                / (batch_size * n_probe * n_vecs / n_cells),
                3,
            )
            if batches
            else None
        ),
    }


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--keys", default="10000,100000,1000000")
    ap.add_argument("--partitions", default="8,32")
    ap.add_argument("--cpus", default=os.environ.get("SPARK_GRAFT_CPUS", "32"))
    ap.add_argument(
        "--shapes", default="builtin_agg,dedup_keys,flow_counts"
    )
    ap.add_argument(
        "--with-ann", action="store_true",
        help="also probe the streaming ANN screen per --keys corpus size "
             "(initial index + one append; per-batch cost must stay flat)",
    )
    args = ap.parse_args()
    keys = [int(k) for k in args.keys.split(",")]
    parts = [p.strip() for p in args.partitions.split(",")]
    shapes = [s for s in args.shapes.split(",") if s]  # '' ⇒ ann-only run

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from hadoop_pcap_spark.session import SESSION_CONF

    spark = (
        SparkSession.builder.master(f"local[{args.cpus}]")
        .appName("profile_state_scale")
        .config(map=SESSION_CONF)
        .config(
            "spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "48g")
        )
        .config("spark.sql.streaming.stateStore.providerClass", _ROCKSDB)
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from hadoop_pcap_spark.streaming.stream import stateful_flow_counts

    files_per_batch = 8

    for n_keys in keys:
        stage = stage_keys(spark, n_keys, files_per_batch)

        def src():
            return (
                spark.readStream.schema(
                    "user_id long, value double, ts timestamp"
                )
                .option("maxFilesPerTrigger", files_per_batch)
                .parquet(stage)
            )

        builders = {
            "builtin_agg": (
                lambda: src()
                .groupBy("user_id")
                .agg(
                    F.count("*").alias("n_events"),
                    F.sum("value").alias("total_value"),
                ),
                "update",
            ),
            "dedup_keys": (
                lambda: src()
                .withWatermark("ts", "30 minutes")
                .dropDuplicates(["user_id"]),
                "append",
            ),
            "flow_counts": (
                lambda: stateful_flow_counts(src().select("user_id", "value")),
                "update",
            ),
        }
        for p in parts:
            for shape in shapes:
                build, mode = builders[shape]
                print(
                    f"# {shape} keys={n_keys} partitions={p} ...",
                    file=sys.stderr,
                    flush=True,
                )
                res = run_shape(spark, shape, build, mode, n_keys, p)
                print(json.dumps(res), flush=True)
        shutil.rmtree(stage, ignore_errors=True)
        if args.with_ann:
            for np_ in (1, 4):
                print(
                    f"# ann_screen corpus={n_keys} n_probe={np_} ...",
                    file=sys.stderr, flush=True,
                )
                print(
                    json.dumps(
                        run_ann_screen(spark, n_keys, parts[0], n_probe=np_)
                    ),
                    flush=True,
                )
    spark.stop()


if __name__ == "__main__":
    main()
