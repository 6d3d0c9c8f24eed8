"""Measure how each query's WALL time scales with core count
(VERDICT r13 item 3 in the scaling block / item 8: the driver's
8-vs-32-core comparison at sf0.1 is fixed-overhead-dominated — every
test table is one single-row-group parquet file, so scans run at
parallelism 1 and the ratio says nothing about the engine).

This probe makes the block falsifiable: point it at a SPLITTABLE
dataset (build one with
``python tools/make_scaled_sf.py --out /tmp/spark_graft_sf1_rg
--k 10 --row-group-size 16384`` — row groups are the unit
maxPartitionBytes can split, so ≥32 groups per table lets the scan
itself parallelize) and run the same queries under two core counts,
each in its OWN subprocess/session (master is fixed per JVM).

    python tools/core_scaling_probe.py [--sf DIR] [--cpus 8,32]
        [--runs 2] [--only name,name] [--out SCALING_CORES.md]

Prints one JSON line; optionally writes a markdown table with the
wall ratio t(minCPUs)/t(maxCPUs) per query (ideal = cpus ratio for a
compute-bound query at sufficient parallelism; ≈1 = fixed-cost bound
or serialized).
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Headline rows whose inputs either scale with --sf (warehouse tables)
# or are fixed capture fixtures big enough to split (the pcap rows).
DEFAULT_QUERIES = [
    "tpch_q1",
    "agg_count_by_key",
    "join_multiway",
    "window_topn_per_group",
    "dedup_exact_fingerprint",
    "dedup_minhash_lsh",
    "dedup_substring_spans",
    "docs_repetition_signals",
    "docs_dsir_importance",
    "text_bm25_topk",
    "text_quality_scores",
    "similarity_cosine_topk",
    "pcap_decode_100k",
    "pcap_decode_dns_100k",
    "pcap_decode_1file_parallel",
    "pcap_http_extract_2k",
]


def _sweep(sf: str, cpus: int, runs: int, names: list) -> dict:
    """One core count, one session — runs in the child process."""
    from bench import min_of_n
    from hadoop_pcap_spark import plans
    from hadoop_pcap_spark.operators.cache import release_persisted
    from hadoop_pcap_spark.session import get_spark

    os.environ.setdefault("SPARK_DRIVER_MEMORY", "24g")
    spark = get_spark(f"core-scaling-{cpus}", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    plans.load_all()

    def noop(df):
        df.write.mode("overwrite").format("noop").save()

    def release(frames):
        for df in frames:
            release_persisted(df)

    # JVM/codegen warm-up outside any measurement
    noop(plans.QUERIES["tpch_q1"](spark, sf))
    out = {}
    for name in names:
        fn = plans.QUERIES[name]

        def run(frames):
            frames.append(fn(spark, sf))
            noop(frames[-1])

        # the first run warms codegen and is not recorded
        min_of_n(1, run, setup=list, teardown=release)
        best_w, best_c, _ = min_of_n(runs, run, setup=list, teardown=release)
        out[name] = {"wall": round(best_w, 3), "cpu": round(best_c, 3)}
        print(
            f"# [{cpus} cores] {name}: {out[name]['wall']}s wall "
            f"/ {out[name]['cpu']}s cpu",
            file=sys.stderr,
            flush=True,
        )
    spark.stop()
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/tmp/spark_graft_sf1_rg")
    ap.add_argument("--cpus", default="8,32")
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--only", default=None)
    ap.add_argument("--out", default=None)
    ap.add_argument("--child-cpus", type=int, default=None, help=argparse.SUPPRESS)
    args = ap.parse_args()
    names = args.only.split(",") if args.only else DEFAULT_QUERIES

    if args.child_cpus is not None:
        print(json.dumps(_sweep(args.sf, args.child_cpus, args.runs, names)))
        return 0

    if not os.path.exists(os.path.join(args.sf, "lineitem.parquet")):
        print(
            f"missing SF dir {args.sf} — build a splittable one with "
            "tools/make_scaled_sf.py --row-group-size 16384",
            file=sys.stderr,
        )
        return 2

    cpu_list = [int(c) for c in args.cpus.split(",")]
    results = {}
    for n in cpu_list:
        cmd = [
            sys.executable, os.path.abspath(__file__),
            "--sf", args.sf, "--runs", str(args.runs),
            "--only", ",".join(names), "--child-cpus", str(n),
        ]
        proc = subprocess.run(
            cmd, capture_output=True, text=True,
            cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        )
        sys.stderr.write(proc.stderr)
        if proc.returncode != 0:
            print(f"child sweep at {n} cores failed", file=sys.stderr)
            return 1
        results[n] = json.loads(proc.stdout.strip().splitlines()[-1])

    lo, hi = min(cpu_list), max(cpu_list)
    report = {}
    for name in names:
        w_lo, w_hi = results[lo][name]["wall"], results[hi][name]["wall"]
        report[name] = {
            **{f"wall_{n}": results[n][name]["wall"] for n in cpu_list},
            **{f"cpu_{n}": results[n][name]["cpu"] for n in cpu_list},
            "wall_ratio": round(w_lo / w_hi, 2) if w_hi else None,
        }
    out = {
        "metric": "core_scaling",
        "sf": args.sf,
        "cpus": cpu_list,
        "runs": args.runs,
        "ideal_ratio": round(hi / lo, 2),
        "queries": report,
    }
    print(json.dumps(out))

    if args.out:
        lines = [
            "# SCALING_CORES — measured wall ratio across core counts",
            "",
            f"SF dir: {args.sf} (splittable row groups); cpus {lo} vs {hi}; "
            f"runs={args.runs} min-of-N after one warm run; noop sink.",
            f"wall_ratio = t({lo} cores) / t({hi} cores); ideal ≈ {hi // lo} "
            "for a compute-bound query, ≈1 = fixed-cost bound.",
            "",
            f"| query | wall {lo}c (s) | wall {hi}c (s) | wall_ratio | "
            f"cpu {hi}c (s) |",
            "|---|---|---|---|---|",
        ]
        for name, r in report.items():
            lines.append(
                f"| {name} | {r[f'wall_{lo}']} | {r[f'wall_{hi}']} | "
                f"{r['wall_ratio']} | {r[f'cpu_{hi}']} |"
            )
        with open(args.out, "w") as f:
            f.write("\n".join(lines) + "\n")
        print(f"# wrote {args.out}", file=sys.stderr)
    return 0


if __name__ == "__main__":
    sys.exit(main())
