"""Measure how each headline query's cost scales with data size.

The 100 TB argument needs more than "the plan looks right at one SF":
this tool runs the SF-scaling headline queries at three dataset sizes
(sf0.01, sf0.1, and the sf1-equivalent built by make_scaled_sf.py)
and fits a per-query scaling exponent

    alpha = log(t_big / t_small) / log(n_big / n_small)

over the *driving table*'s row count (lineitem for TPC-H shapes,
documents for dedup/text, embeddings for similarity, events for
event analytics).  alpha ~= 1 is linear scaling, alpha < 1 means
fixed overhead still dominates (Spark job setup is ~0.2 s at these
sizes), alpha meaningfully > 1 is the smoke signal for an operator
that would not survive 100x.

CPU-seconds (process-tree utime+stime, same sampler as bench.py) are
the primary signal on this steal-heavy host; wall is reported too.
The pcap queries are excluded by design — their fixtures are fixed
100k-packet captures that do not scale with sf_dir.

Usage:
    python tools/scaling_probe.py [--out SCALING.md] \
        [--sfs /root/testdata/sf0.01,/root/testdata/sf0.1,/tmp/spark_graft_sf1] \
        [--runs 2] [--only name,name]

Prints one JSON line with every raw number; writes a markdown report
next to it for human reading.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import min_of_n  # noqa: E402  (same timer as the bench)

# query -> the table whose row count drives its cost
DRIVER_TABLE = {
    "tpch_q1": "lineitem",
    "agg_count_by_key": "orders",
    "join_broadcast_dim": "customer",
    "join_multiway": "lineitem",
    "window_topn_per_group": "orders",
    "time_bucket_tumbling": "events",
    "topk_global": "orders",
    "dedup_exact_fingerprint": "documents",
    "dedup_incremental_epochs": "documents",
    "dedup_minhash_lsh": "documents",
    "similarity_cosine_topk": "embeddings",
    "text_quality_scores": "documents",
    "docs_boilerplate_shingles": "documents",
    "streaming_join_interval": "events",
    "corpus_vocab_topk": "documents",
    "docs_mixture_weights": "documents",
    "text_bm25_topk": "documents",
    "docs_domain_quota": "documents",
    "docs_dsir_importance": "documents",
    "docs_quality_classifier": "documents",
    "dedup_substring_spans": "documents",
    "docs_remove_dup_spans": "documents",
}


def _materialize(df):
    """Force full evaluation of every output column.

    ``.count()`` lets Catalyst prune all projection/aggregate
    expressions that don't affect the row count (ADVICE r4: the
    text_quality_scores quality math was optimized away, fitting a
    pruned plan's exponent).  The noop sink consumes every column
    without writing bytes — same trick the streaming bench uses.
    """
    df.write.mode("overwrite").format("noop").save()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--sfs",
        default="/root/testdata/sf0.01,/root/testdata/sf0.1,/tmp/spark_graft_sf1",
    )
    ap.add_argument("--out", default=None, help="markdown report path")
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--only", default=None)
    ap.add_argument("--cpus", default=os.environ.get("SPARK_GRAFT_CPUS", "32"))
    args = ap.parse_args()

    sf_dirs = [d for d in args.sfs.split(",") if d]
    if len(sf_dirs) < 2:
        print("need at least two SF dirs to fit an exponent", file=sys.stderr)
        return 2
    for d in sf_dirs:
        if not os.path.exists(os.path.join(d, "lineitem.parquet")):
            print(f"missing SF dir {d} — build it with tools/make_scaled_sf.py",
                  file=sys.stderr)
            return 2
    names = list(DRIVER_TABLE)
    if args.only:
        names = args.only.split(",")
        unknown = [n for n in names if n not in DRIVER_TABLE]
        if unknown:
            print(f"unknown --only queries {unknown}; probe-able: "
                  f"{sorted(DRIVER_TABLE)}", file=sys.stderr)
            return 2

    import duckdb

    sizes = {}  # (sf_dir, table) -> rows
    for d in sf_dirs:
        for t in set(DRIVER_TABLE.values()):
            sizes[(d, t)] = duckdb.sql(
                f"SELECT count(*) FROM '{d}/{t}.parquet'"
            ).fetchone()[0]

    from hadoop_pcap_spark.session import get_spark
    from hadoop_pcap_spark import plans

    spark = get_spark("scaling-probe", cpus=int(args.cpus))
    spark.sparkContext.setLogLevel("ERROR")
    plans.load_all()

    # warm the JVM/codegen paths once on the smallest SF so the first
    # measured query doesn't absorb session startup
    _materialize(plans.QUERIES["tpch_q1"](spark, sf_dirs[0]))

    results = {}  # name -> list of {sf, rows, wall, cpu}
    for name in names:
        fn = plans.QUERIES[name]
        rows_metric = DRIVER_TABLE[name]
        points = []
        for d in sf_dirs:
            best_w, best_c, _ = min_of_n(
                args.runs, lambda: _materialize(fn(spark, d))
            )
            points.append(
                {
                    "sf": d,
                    "rows": sizes[(d, rows_metric)],
                    "wall": round(best_w, 3),
                    "cpu": round(best_c, 3),
                }
            )
            print(
                f"# {name} @ {os.path.basename(d)}: rows={points[-1]['rows']} "
                f"wall={points[-1]['wall']}s cpu={points[-1]['cpu']}s",
                file=sys.stderr,
            )
        results[name] = points

    def alpha(p1, p2, key):
        if p2[key] <= 0 or p1[key] <= 0 or p2["rows"] == p1["rows"]:
            return None
        return round(
            math.log(p2[key] / p1[key]) / math.log(p2["rows"] / p1["rows"]), 2
        )

    report = {}
    for name, pts in results.items():
        report[name] = {
            "points": pts,
            # the jump past the tuning SF is the one that matters
            "alpha_cpu_big": alpha(pts[-2], pts[-1], "cpu"),
            "alpha_wall_big": alpha(pts[-2], pts[-1], "wall"),
            "alpha_cpu_all": alpha(pts[0], pts[-1], "cpu"),
        }

    out = {
        "metric": "scaling_exponents",
        "sfs": sf_dirs,
        "runs": args.runs,
        "queries": report,
    }
    print(json.dumps(out))

    if args.out:
        lines = [
            "# SCALING — measured per-query scaling exponents",
            "",
            f"SF dirs: {', '.join(sf_dirs)} (runs={args.runs}, min-of-N; "
            "cpu = process-tree seconds, the steal-resistant signal).",
            "alpha = log-ratio of cost over log-ratio of driving-table rows; "
            "1.0 = linear. alpha_big is fitted on the largest jump "
            "(tuning SF -> 10x), alpha_all across the full 100x.",
            "",
            "| query | driver table | "
            + " | ".join(os.path.basename(d) + " cpu s" for d in sf_dirs)
            + " | alpha_big (cpu) | alpha_big (wall) | alpha_all (cpu) |",
            "|---|---|" + "---|" * (len(sf_dirs) + 3),
        ]
        for name, rep in report.items():
            cells = " | ".join(str(p["cpu"]) for p in rep["points"])
            lines.append(
                f"| {name} | {DRIVER_TABLE[name]} | {cells} | "
                f"{rep['alpha_cpu_big']} | {rep['alpha_wall_big']} | "
                f"{rep['alpha_cpu_all']} |"
            )
        with open(args.out, "w") as f:
            f.write("\n".join(lines) + "\n")
        print(f"# wrote {args.out}", file=sys.stderr)
    return 0


if __name__ == "__main__":
    sys.exit(main())
