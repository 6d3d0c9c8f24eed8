"""Benchmark runner: headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints the contract JSON line LAST (compact, tail-survivable —
VERDICT r13 item 2):
  {"metric": "headline_suite_total", "value": <total sec>,
   "unit": "sec", "queries": {name: sec, ...}, "contended": bool,
   "drifted": bool, "runs": N, "sf": <dir>}
preceded by one detail JSON line ("metric": "headline_suite_detail")
carrying queries_cpu / value_cpu / normalized / ratios / extras /
loadavg — the bulky fields that used to truncate the single line out
of a 2000-char stdout tail.

Noise model: the host is a shared VM with severe neighbor CPU steal
(identical runs observed at 17.9 s vs 259 s).  Two defenses:

* each query runs $SPARK_GRAFT_BENCH_RUNS times (default 3) and the
  MIN wall time is reported — min-of-N measures the engine, not the
  neighbors;
* alongside wall we report *process-tree CPU seconds* (utime+stime of
  the driver, the Spark JVM and every live python worker, tracked
  per-pid at 5 Hz by CpuTracker so exiting workers' time is banked,
  not lost).  CPU-seconds are nearly steal-invariant — contention
  stretches wall but barely changes the work done — so `value_cpu` /
  `queries_cpu` is the stable regression signal; `value` stays the
  wall headline;
* the JSON additionally carries `normalized` (per-row cpu ÷ same-run
  fixed-work calibration — dimensionless, gateable even when
  `contended: true`) and `ratios` (same-run speedup comparisons,
  contention-robust by construction).
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "tpch_q1",
    "agg_count_by_key",
    "join_broadcast_dim",
    "join_multiway",
    "window_topn_per_group",
    "time_bucket_tumbling",
    "topk_global",
    "dedup_exact_fingerprint",
    "dedup_minhash_lsh",
    "similarity_cosine_topk",
    "text_quality_scores",
    # retrieval / selection family (round 8): BM25 ranked search and
    # DSIR importance weighting — new compute shapes (query-term
    # posting aggregation; hashed-feature statistics broadcast), so
    # they earn headline rows; the quota op is window-family work
    # already covered by window_topn_per_group.
    "text_bm25_topk",
    "docs_dsir_importance",
    "pcap_port_count",
    "pcap_decode_100k",
    "pcap_decode_dns_100k",
    "pcap_decode_v6ext_100k",
    # round 9: split-parallel decode of ONE ~180 MB capture — the
    # index-pass path that beats the reference's whole-file
    # constraint; the serial same-file reference run and the speedup
    # land in extras["single_file_decode"]
    "pcap_decode_1file_parallel",
    # round 10: IVF+PQ search over the PERSISTED index — run 1 of the
    # min-of-3 pays the build (train + corpus encode, warehouse-cached
    # by source identity thereafter), runs 2-3 measure the query-many
    # path the index exists for; compare against similarity_ann_ivfpq
    # below... the in-line twin is not a headline row, so the
    # amortization evidence is extras["ann_index_amortization"]
    "similarity_ann_index_persisted",
    # round 10: trained quality classifier — a new compute shape
    # (bounded-sample logistic training on the driver + a shuffle-free
    # codegen margin pass over every document), the learned-filter
    # counterpart of the rule-based text_quality_scores row
    "docs_quality_classifier",
    # round 12: sub-document duplicate-span materialization — a new
    # compute shape (positioned-shingle explode, md5-key duplicate
    # shuffle, gaps-and-islands interval merge on a doc window), the
    # suffix-array-dedup counterpart of the whole-doc minhash row
    "dedup_substring_spans",
    # round 13: L7 extraction throughput — 2000 HTTP connections from
    # one capture through decode → connection collect_list → batched
    # mapInArrow parse, every body md5-pinned; the captures→documents
    # bridge's scale shape (cost ∝ connections, not packets)
    "pcap_http_extract_2k",
]


def _openblas_threads(n: "int | None") -> "int | None":
    """Best-effort get/set of OpenBLAS's runtime thread count — the
    shared implementation lives in hadoop_pcap_spark._blas since r13
    (the driver-side trainers need the same control; see
    classify.train_lr)."""
    from hadoop_pcap_spark._blas import openblas_threads

    return openblas_threads(n)


def calibrate() -> dict:
    """Fixed-work host-speed probe, run single-threaded with numpy.

    Two numbers, each the min-of-3 of a fixed workload, in ms:

    * ``membw_ms`` — WALL time (``perf_counter``) of one ``arr.sum()``
      pass over a 128 MiB array (memory-bandwidth bound — the
      resource neighbors actually steal).  Quiet host: ~15-20 ms.
      Wall, not ``process_time``, and measured BEFORE the matmul
      probe: threaded-BLAS worker threads spin-wait after a matmul
      and ``process_time`` charges their spinning to whatever runs
      next, inflating the old post-matmul process_time measurement
      20-30x non-deterministically (observed 477-532 ms process_time
      vs 18 ms wall for the same sum; every probe number recorded
      before round 8's fix — the "~300 ms quiet / 538-908 contended"
      band — is in those polluted units and is NOT comparable).
      Min-of-3 dodges descheduling blips, so sustained neighbor
      bandwidth pressure is the only thing that moves this number.
    * ``cpu_ms``  — ``process_time`` of 5 float64 matmuls of 256x256,
      SINGLE-THREADED since round 12 (ALU/FPU bound).  Quiet band
      ~10-13 ms.  Values recorded before round 12 ran with OpenBLAS's
      default pool and are in spin-wait-polluted units (50-100 ms
      steady with 1.5-5 s outliers) — NOT comparable to the new band,
      same caveat class as the pre-r8 membw fix.

    The suite's CPU-seconds inflate up to 4-5x under neighbor
    memory-bandwidth pressure even when loadavg looks idle (observed
    value_cpu 45.9 vs 166.1 back-to-back); these probes make that
    inflation measurable so a reader can normalize BENCH numbers
    across rounds instead of guessing from loadavg."""
    import numpy as np

    arr = np.ones(16 * 1024 * 1024, dtype=np.float64)  # 128 MiB
    float(arr.sum())  # touch once: exclude first-pass page effects
    best_bw = None
    for _ in range(3):
        c0 = time.perf_counter()
        float(arr.sum())
        dt = (time.perf_counter() - c0) * 1e3
        best_bw = dt if best_bw is None else min(best_bw, dt)
    # the matmul probe runs SINGLE-THREADED: with OpenBLAS's default
    # pool, process_time charges every spin-waiting worker thread and
    # the reading explodes non-deterministically (observed 1591 ms /
    # 4907 ms against a 10-60 ms steady band on r11/r12 artifacts —
    # unusable as a normalization denominator).  One thread makes it
    # a fixed-work scalar probe: ~12.5 ms quiet, inflating only with
    # genuine neighbor pressure.  Restored afterwards so nothing else
    # in the process changes.
    prev_threads = _openblas_threads(1)
    try:
        rng = np.random.default_rng(42)
        m = rng.random((256, 256))
        _ = m @ m  # warm-up: first-call setup outside the timed window
        best_cpu = None
        for _ in range(3):
            c0 = time.process_time()
            for _ in range(5):
                m = m @ m
                m /= np.abs(m).max() + 1.0
            dt = (time.process_time() - c0) * 1e3
            best_cpu = dt if best_cpu is None else min(best_cpu, dt)
    finally:
        if prev_threads:
            _openblas_threads(prev_threads)
    return {"cpu_ms": round(best_cpu, 1), "membw_ms": round(best_bw, 1)}


class CpuTracker:
    """Monotone cumulative utime+stime (seconds) of this process and
    all descendants, surviving worker death (VERDICT r11 item 2).

    The old two-sample scheme (`after_total - before_total`) lost a
    worker's ENTIRE accumulated cpu when it exited between samples —
    the delta went negative and the r11 clamp-at-0 hid the loss
    instead of recovering it (observed: similarity_ann_index_persisted
    3.1 s wall / 0.0 cpu on a quiet host).  This tracker:

    * samples the process tree per-pid on a background thread (default
      5 Hz — one /proc walk, ~100 small reads, negligible self-cost),
      keyed by ``(pid, starttime)`` so pid reuse can't alias;
    * when a pid vanishes from the tree, BANKS its last-seen reading
      into a monotone accumulator — the loss window shrinks from
      "the whole run" to "since the last 200 ms sample";
    * ``read()`` = banked + Σ live per-pid cpu, after a fresh sample —
      monotone nondecreasing by construction, so per-query deltas are
      always ≥ 0 with no clamp and no silent signal loss.
    """

    def __init__(self, interval_s: float = 0.2, root_pid: int | None = None):
        import threading

        self._tick = os.sysconf("SC_CLK_TCK")
        self._root = root_pid if root_pid is not None else os.getpid()
        self._lock = threading.Lock()
        self._banked = 0.0
        # (pid, starttime) -> cpu already banked for that key, so a pid
        # that transiently vanishes from one /proc sample (failed stat
        # read) and reappears is only counted for cpu accrued BEYOND
        # the banked amount, never re-added in full (review r12)
        self._banked_per_key: dict = {}
        self._live: dict = {}  # (pid, starttime) -> cpu seconds
        self._stop = threading.Event()
        self._thread = threading.Thread(
            target=self._loop, args=(interval_s,), daemon=True
        )
        self._thread.start()

    def _sample_tree(self) -> dict:
        """One /proc walk: {(pid, starttime): cpu_s} for the root and
        every live descendant."""
        info = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat", "rb") as f:
                    s = f.read().decode("ascii", "replace")
            except OSError:
                continue
            rp = s.rindex(")")  # comm may contain spaces
            fields = s[rp + 2 :].split()
            info[int(d)] = (
                int(fields[1]),  # ppid
                (int(fields[11]) + int(fields[12])) / self._tick,
                int(fields[19]),  # starttime: pid-reuse disambiguator
            )
        kids: dict = {}
        for pid, (ppid, _, _) in info.items():
            kids.setdefault(ppid, []).append(pid)
        out, stack = {}, [self._root]
        while stack:
            p = stack.pop()
            if p in info:
                _, cpu, st = info[p]
                out[(p, st)] = cpu
                stack.extend(kids.get(p, []))
        return out

    def _update(self) -> float:
        # the /proc walk happens INSIDE the lock: sampling outside it
        # would let a stale sample merge after a fresher one — a
        # worker that exited between the two samples gets banked by
        # the fresh merge, resurrected into _live by the stale one,
        # and banked AGAIN on the next tick, double-counting its whole
        # accumulated cpu (review r12 finding).  Serializing the walk
        # costs the reader a few ms at 5 Hz — irrelevant next to the
        # queries being measured.
        with self._lock:
            cur = self._sample_tree()
            for key, v in self._live.items():
                if key not in cur:
                    # bank the exiting pid's last reading — per-key, so
                    # a transient /proc miss that reappears next sample
                    # only adds cpu accrued beyond the banked amount
                    self._banked += v
                    self._banked_per_key[key] = (
                        self._banked_per_key.get(key, 0.0) + v
                    )
            # max() guards against /proc read jitter; per-pid cpu is
            # monotone in the kernel
            self._live = {
                k: max(
                    max(0.0, v - self._banked_per_key.get(k, 0.0)),
                    self._live.get(k, 0.0),
                )
                for k, v in cur.items()
            }
            return self._banked + sum(self._live.values())

    def _loop(self, interval_s: float) -> None:
        while not self._stop.wait(interval_s):
            self._update()

    def read(self) -> float:
        """Fresh-sample cumulative cpu; monotone across calls."""
        return self._update()

    def close(self) -> None:
        self._stop.set()


_TRACKER: "CpuTracker | None" = None


def proc_tree_cpu() -> float:
    """Cumulative process-tree cpu via the shared CpuTracker; deltas
    between two calls are per-query cpu, worker-death-proof."""
    global _TRACKER
    if _TRACKER is None:
        _TRACKER = CpuTracker()
    return _TRACKER.read()


def min_of_n(runs: int, body, setup=None, teardown=None):
    """Run ``body`` ``runs`` times; return ``(min wall s, min
    process-tree cpu s, last result)``.  Only ``body`` is timed.
    ``setup()`` runs before each run and its value is passed to
    ``body`` and ``teardown``; ``teardown`` runs in ``finally``, so a
    failing run still cleans up and its error propagates.  Min-of-N
    measures the engine rather than the neighbors (module docstring)."""
    best_wall = best_cpu = result = None
    for _ in range(runs):
        args = (setup(),) if setup else ()
        try:
            c0 = proc_tree_cpu()
            t0 = time.time()
            result = body(*args)
            wall = time.time() - t0
            cpu = proc_tree_cpu() - c0  # CpuTracker banks exiting workers: no clamp
        finally:
            if teardown:
                teardown(*args)
        best_wall = wall if best_wall is None else min(best_wall, wall)
        best_cpu = cpu if best_cpu is None else min(best_cpu, cpu)
    return best_wall, best_cpu, result


DRIFT_SENTINELS = ("dedup_minhash_lsh", "pcap_decode_100k")


def time_headline_row(time_query, name: str, runs: int):
    """``time_query(name)`` → ``(wall, cpu, rows, ref)``; ``ref`` is a
    drift sentinel's reference ``(wall, cpu)``, else None.  The
    end-of-suite re-time runs on a warm JVM, so the reference must be
    warm too: with ``runs == 1`` the row's only run is cold, and the
    sentinel is timed once more right after it for its reference;
    with ``runs > 1`` the row's warm min is the reference."""
    wall, cpu, n = time_query(name)
    ref = None
    if name in DRIFT_SENTINELS:
        ref = time_query(name)[:2] if runs == 1 else (wall, cpu)
    return wall, cpu, n, ref


def normalized_block(extras: dict, cpu_timings: dict) -> dict:
    """Calibration-normalized per-row ratios (VERDICT r11 item 1): the
    committed artifact was contention-stamped two rounds running (r10,
    r11), forcing a judge re-run for the 2x perf gate each time.
    Dividing each row's cpu-seconds by the SAME run's fixed-work
    calibration probes yields dimensionless host-speed-normalized
    numbers — neighbor pressure inflates the row and the probe
    together, so the ratio stays a gateable relative signal even on a
    run stamped ``contended: true``.  Both normalizers are recorded
    (ALU-bound cpu probe; membw-bound wall probe) because contention
    moves them differently and the row mix spans both regimes.

    The denominator is the MIN over the window's probes (pre-backoff
    start, post-backoff start if one ran, end): probe readings are
    only ever inflated (neighbor pressure, descheduling, residual
    BLAS setup), never deflated, so min is the same estimator the
    probes use internally (min-of-3) and a single polluted edge probe
    cannot poison the denominator.

    A module-level function, not inline in main(), so the unit test
    pins THIS code rather than a copy of the math
    (tests/test_bench_cpu.py — review r12 finding)."""
    probes = [
        extras["calib_start"],
        extras.get("calib_start_retry", extras["calib_start"]),
        extras["calib_end"],
    ]
    calib_cpu_s = min(p["cpu_ms"] for p in probes) / 1000.0
    calib_membw_s = min(p["membw_ms"] for p in probes) / 1000.0
    return {
        "calib_cpu_s": round(calib_cpu_s, 4),
        "calib_membw_s": round(calib_membw_s, 4),
        "queries_cpu_over_calib": {
            k: round(v / calib_cpu_s, 1) for k, v in cpu_timings.items()
        },
        "queries_cpu_over_membw": {
            k: round(v / calib_membw_s, 1) for k, v in cpu_timings.items()
        },
    }


CORE_LINE_MAX = 1900  # survives a 2000-char stdout-tail capture


def core_json_line(
    total: float,
    timings: dict,
    contended: bool,
    drifted: bool,
    runs: int,
    sf_dir: str,
) -> str:
    """The bench's LAST stdout line: the contract fields only (metric /
    value / unit / queries / sf + the contended/drifted stamps),
    compact-separated so it stays under ~1.9 KB for the 27-row suite
    and survives a 2000-char stdout-tail capture (VERDICT r13 item 2 —
    the old single ~4 KB line truncated out of the archived tail and
    round-over-round comparison was lost).  Module-level so the unit
    test pins THIS code (the normalized_block precedent)."""
    core = {
        "metric": "headline_suite_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        # true ⇒ neighbor membw pressure measured during this
        # run; do NOT use these numbers as a regression
        # baseline (compare cpu-seconds, or re-run quiet)
        "contended": contended,
        # true ⇒ an end-of-suite sentinel re-time moved >25%
        # vs its own min: contention arrived/left mid-window
        "drifted": drifted,
        "runs": runs,
        "sf": sf_dir,
    }
    line = json.dumps(core, separators=(",", ":"))
    # the tail-survivability contract is load-bearing: an over-long
    # line must still leave a parseable last line (an assert here ran
    # only after the whole suite, and ``python -O`` stripped it), so
    # drop trailing per-query walls until it fits and say how many
    # went — the suite total and the detail line keep every row
    if len(line) > CORE_LINE_MAX:
        kept = dict(timings)
        while kept and len(line) > CORE_LINE_MAX:
            kept.popitem()
            core["queries"] = kept
            core["queries_dropped"] = len(timings) - len(kept)
            line = json.dumps(core, separators=(",", ":"))
        print(
            f"bench: core JSON line over {CORE_LINE_MAX} chars; dropped "
            f"{core['queries_dropped']} per-query walls from it (move bulky "
            "fields to the detail line)",
            file=sys.stderr,
        )
    return line


def main():
    _loadavg_start = round(os.getloadavg()[0], 2)  # before Spark starts
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))

    extras = {}
    extras["calib_start"] = calibrate()

    # Contention gate (VERDICT r7 item 2: BENCH_r07 was silently
    # inflated ~55% by neighbor memory-bandwidth pressure and only a
    # manual re-run caught it).  The wall-clock membw probe reads
    # ~15-20 ms on a quiet host; >45 ms (2.5x quiet) means neighbors
    # are saturating the LLC/memory bus and every number below will
    # embed that tax.  (Threshold re-derived in round 8 after the
    # probe fix — see calibrate(); the old 450 ms threshold was in
    # spin-wait-polluted process_time units.)
    # Defense: wait-for-quiet — back off and re-probe on a bounded loop
    # (default: every 60 s for up to 8 min; r10's committed artifact
    # was contended because a single 60 s backoff is shorter than the
    # tail of whatever ran before the bench in the same round).  If the
    # host never goes quiet within the budget, run anyway and stamp
    # `contended: true` into the JSON so no downstream regression math
    # anchors on this artifact.
    MEMBW_QUIET_MS = 45.0
    if extras["calib_start"]["membw_ms"] > MEMBW_QUIET_MS:
        # clamp ≥1: backoff=0 would make `waited += backoff` spin the
        # loop forever against max_wait (review r11 finding)
        backoff = max(
            1, int(os.environ.get("SPARK_GRAFT_BENCH_BACKOFF_S", "60"))
        )
        max_wait = int(os.environ.get("SPARK_GRAFT_BENCH_MAX_WAIT_S", "480"))
        waited = 0
        while waited < max_wait:
            probe = extras.get("calib_start_retry", extras["calib_start"])
            print(
                f"# membw {probe['membw_ms']} ms > {MEMBW_QUIET_MS}"
                f" — host contended; backing off {backoff}s and re-probing"
                f" ({waited}/{max_wait}s waited)",
                file=sys.stderr,
                flush=True,
            )
            time.sleep(backoff)
            waited += backoff
            extras["calib_start_retry"] = calibrate()
            if extras["calib_start_retry"]["membw_ms"] <= MEMBW_QUIET_MS:
                break
        extras["quiet_wait_s"] = waited

    # DNS kernel speedup: columnar (body-interned) vs scalar kernel on
    # one DNS-heavy capture file, min-of-3 process CPU each.  This is
    # the VERDICT-r3 "≥2× the scalar kernel" evidence, measured
    # directly — and BEFORE the Spark JVM exists, so nothing else is
    # scheduled in this process while it runs.
    from hadoop_pcap_spark.pcap.decode import DecodeOptions, decode_pcap
    from hadoop_pcap_spark.pcap.decode_np import decode_pcap_columnar
    from hadoop_pcap_spark.plans.pcap_queries import dns_throughput_dir

    dns_file = os.path.join(dns_throughput_dir(), "dns0.pcap")
    with open(dns_file, "rb") as f:
        dns_bytes = f.read()
    d_opts = DecodeOptions(decoder="dns")
    t_s = t_c = None
    for _ in range(3):
        c0 = time.process_time()
        sum(1 for _ in decode_pcap(dns_bytes, opts=d_opts))
        t = time.process_time() - c0
        t_s = t if t_s is None else min(t_s, t)
        c0 = time.process_time()
        decode_pcap_columnar(dns_bytes, opts=d_opts)
        t = time.process_time() - c0
        t_c = t if t_c is None else min(t_c, t)
    extras["dns_kernel_speedup"] = round(t_s / t_c, 2)

    from pyspark.sql import functions as F

    from hadoop_pcap_spark.session import get_spark

    os.environ.setdefault("SPARK_DRIVER_MEMORY", "48g")
    spark = get_spark("hadoop_pcap_spark-bench", cpus=int(cpus))
    spark.sparkContext.setLogLevel("ERROR")

    import shutil

    from hadoop_pcap_spark import plans
    from hadoop_pcap_spark.operators.cache import release_persisted

    plans.load_all()

    timings = {}
    cpu_timings = {}

    def record(name: str, wall: float, cpu: float) -> None:
        timings[name], cpu_timings[name] = round(wall, 3), round(cpu, 3)
        print(
            f"# {name}: {timings[name]}s wall / {cpu_timings[name]}s cpu",
            file=sys.stderr,
            flush=True,
        )

    def time_query(name: str):
        """Min-of-N one registry query; returns (wall, cpu, rows),
        wall and cpu rounded to ms."""
        fn = plans.QUERIES[name]
        frames = []

        def run():
            frames.append(fn(spark, sf_dir))
            return frames[-1].count()

        best, best_cpu, n = min_of_n(runs, run)
        # release the query's persisted intermediates AFTER its
        # min-of-3 loop, not inside it: Spark's CacheManager dedupes
        # identical plans, so runs 2-3 reuse run 1's cache — the same
        # warm-min semantics every recorded baseline row embeds
        # (releasing per-run turned minhash/dsir into cold runs,
        # 10.5→16.6 cpu-s, breaking r6 comparability) — while later
        # QUERIES still never run under this one's cache pressure.
        # EVERY run's frame is released, not just the last: plan dedup
        # makes the extra releases no-ops for pure-expression plans,
        # and plans containing Python UDFs (which compare by function
        # reference, so each run persists its own entry) can't strand
        # cache entries for the rest of the suite (ADVICE r8).
        for df in frames:
            release_persisted(df)
        return round(best, 3), round(best_cpu, 3), n

    sentinel_refs = {}
    for name in HEADLINE:
        timings[name], cpu_timings[name], n, ref = time_headline_row(
            time_query, name, runs
        )
        if ref is not None:
            sentinel_refs[name] = ref
        print(
            f"# {name}: {timings[name]}s wall / {cpu_timings[name]}s cpu ({n} rows)",
            file=sys.stderr,
            flush=True,
        )

    # Serial reference for the single-giant-file row: the same file
    # through the same kernel and aggregation but WITHOUT splits — one
    # task, the reference's whole-file constraint.  read_pcap splits a
    # capture larger than chunk_bytes whose index is published (the
    # parallel row just published it), so the serial read passes a
    # chunk_bytes no smaller than the capture: one whole-file task.
    # Min-of-2 (r13): the parallel row is a warm min-of-3, and a
    # single cold serial run mixes page-cache state into the ratio
    # (observed 2.9 s vs 6.9 s for identical work across bench runs);
    # run 2 reads a warm cache, so both sides of the ratio are warm.
    # Pruned to the SAME column set as the parallel query (r13: the
    # query pushes its projection into the decode), so the speedup
    # and cpu-amplification ratios compare like for like.
    from hadoop_pcap_spark.plans.pcap_queries import giant_dir
    from hadoop_pcap_spark.sources import read_pcap as _read_pcap

    giant_bytes = max(
        os.path.getsize(os.path.join(root, f))
        for root, _dirs, files in os.walk(giant_dir())
        for f in files
    )
    serial_wall, serial_cpu, _ = min_of_n(
        2,
        lambda: (
            _read_pcap(
                spark, giant_dir(), chunk_bytes=giant_bytes,
                columns=["file", "pkt_no", "protocol", "src", "len"],
            )
            .groupBy("protocol")
            .agg(F.count("*").alias("n"))
            .count()
        ),
    )
    serial_wall, serial_cpu = round(serial_wall, 3), round(serial_cpu, 3)
    extras["single_file_decode"] = {
        "serial_wall_s": serial_wall,
        "serial_cpu_s": serial_cpu,
        "parallel_wall_s": timings["pcap_decode_1file_parallel"],
        "parallel_cpu_s": cpu_timings["pcap_decode_1file_parallel"],
        "speedup": round(serial_wall / timings["pcap_decode_1file_parallel"], 2),
        "cpu_amplification": round(
            cpu_timings["pcap_decode_1file_parallel"] / serial_cpu, 2
        )
        if serial_cpu
        else None,
    }
    print(f"# single_file_decode: {extras['single_file_decode']}", file=sys.stderr, flush=True)

    # Amortization evidence for the persisted ANN index: one run of
    # the IN-LINE IVF+PQ twin (which retrains + re-encodes the corpus
    # every call) against the headline persisted-index row above.
    # One run, not min-of-N: the in-line cost is per-call BY DESIGN —
    # there is no warm path to measure.
    t0 = time.time()
    _inline_df = plans.QUERIES["similarity_ann_ivfpq"](spark, sf_dir)
    _inline_df.count()
    inline_wall = round(time.time() - t0, 3)
    # release the encoded-corpus cache the in-line operator persists —
    # this ad-hoc timing sits OUTSIDE time_query's release discipline,
    # and leaking it would distort every later measurement up to and
    # including the end-of-suite drift sentinels (r10 review finding)
    release_persisted(_inline_df)
    extras["ann_index_amortization"] = {
        "inline_ivfpq_wall_s": inline_wall,
        "indexed_wall_s": timings["similarity_ann_index_persisted"],
        "speedup": round(
            inline_wall / timings["similarity_ann_index_persisted"], 2
        ) if timings["similarity_ann_index_persisted"] else None,
    }
    print(
        f"# ann_index_amortization: {extras['ann_index_amortization']}",
        file=sys.stderr,
        flush=True,
    )

    # Layout-rewrite row: write_zordered is a WRITE operator, so the
    # registry query can't gate it (its staging reuses a _SUCCESS'd
    # copy); time the rewrite itself here — one range-shuffle +
    # per-file sort over lineitem, the cost a 100 TB deployment
    # schedules per OPTIMIZE pass (SCALING.md: α(cpu)=0.79 over 10×).
    def time_zorder() -> None:
        from hadoop_pcap_spark.operators.layout import write_zordered

        li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).select(
            "l_orderkey", "l_partkey", "l_suppkey", "l_quantity"
        )
        zdir = tempfile.mkdtemp(prefix="bench_zorder_")
        try:
            wall, cpu, _ = min_of_n(
                runs,
                lambda: write_zordered(
                    li, zdir, ["l_partkey", "l_suppkey"], bits=8, n_files=16
                ),
            )
        finally:
            shutil.rmtree(zdir, ignore_errors=True)
        record("layout_zorder_rewrite", wall, cpu)

    time_zorder()

    # Streaming micro-bench: streaming_corpus_filter (gopher rules +
    # PII scrub + dedup-within-watermark) over the staged documents
    # table, processAllAvailable to a noop sink — times the stateful
    # operator path end-to-end so regressions there are catchable.
    from hadoop_pcap_spark.streaming.stream import streaming_corpus_filter

    # key the staged copy by the source file's identity (path + mtime
    # + size), not just the basename: a regenerated documents.parquet
    # or two dataset roots sharing a basename must re-stage, or the
    # streaming timing silently measures stale/other data
    # Staged copies go through the shared protocol (identity-keyed
    # dir, _SUCCESS completion witness, atomic tmp→rename publish,
    # flock-serialized writers, guarded idle sweep —
    # hadoop_pcap_spark/staging.py, grown from ADVICE r4/r5/r6 and
    # shared with the layout demo queries).
    import contextlib

    from hadoop_pcap_spark.staging import ensure_staged, hold_stage

    # every staged dir is pinned with a hold_stage reader lease for
    # the rest of the run (VERDICT r7 item 4): the streaming timings
    # can outlive the sweep's 1h idle window on a contended host, and
    # an mtime-based keep-alive is a bound, not a guarantee
    leases = contextlib.ExitStack()

    src_parquet = os.path.join(sf_dir, "documents.parquet")
    stage_dir = ensure_staged(
        f"bench_stream_docs_{os.path.basename(sf_dir)}_",
        src_parquet,
        lambda tmp: (
            spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
            .withColumn(
                "ts",
                F.expr(
                    "timestamp'2026-01-01 00:00:00' + "
                    "(doc_id % 300) * INTERVAL 1 SECOND"
                ),
            )
            .select("doc_id", "ts", "text")
            .write.mode("overwrite")
            .parquet(tmp)
        ),
    )
    leases.enter_context(hold_stage(stage_dir))

    # State-partition sizing for the streaming rows: a stateful
    # micro-batch pays a fixed cost per state partition (a Python
    # worker for applyInPandasWithState, a state-store load and
    # commit), so state partitions are a capacity knob sized to key
    # cardinality × arrival rate, NOT to core count.  Measured min-of-3
    # at sf0.1 on local[32] (4-core host): the flow counter costs 5.1
    # cpu-s at 8 partitions vs 14.5 at 32 (~0.4 cpu-s per partition),
    # the stream join 3.2 vs 7.5, the corpus filter 2.1 vs 2.2.  The
    # corpora here carry ≤1.5k keys per batch → 8 partitions; at 100×
    # the rate the same sizing logic yields a bigger number.  spark.sql.shuffle.partitions is read at FIRST
    # query start and freezes into the checkpoint, so it is set around
    # each streaming query and restored for the batch queries.
    #
    # State store: Spark's default HDFS-backed (in-memory map) store.
    # At these state sizes it beats RocksDB on every row (same runs, 8
    # partitions: flow counter 5.1 vs 7.5 cpu-s, corpus filter 2.1 vs
    # 2.8, stream join 3.2 vs 6.5).  RocksDB's off-heap state and
    # incremental snapshots are for per-partition state far larger than
    # these corpora's (SCALING.md, "Round-12 addition: streaming state
    # at 1M keys", measures RocksDB at 10k–1M keys).
    stream_parts = os.environ.get("SPARK_GRAFT_STREAM_PARTITIONS", "8")

    def time_stream(name: str, writer, partitions: "str | None" = None) -> None:
        """Min-of-N a streaming query end-to-end (processAllAvailable,
        then stop, also when the run fails) and record it as a
        FIRST-CLASS headline row (VERDICT r4 item 8: streaming
        regressions must gate like batch ones, not live in extras).
        ``writer(tmp)`` returns the query's DataStreamWriter; each run
        gets a fresh ``tmp`` dir holding its checkpoint and any state
        the writer keeps.  ``partitions`` overrides the shared
        state-partition sizing for queries whose per-partition store
        count differs (see the stream-stream join note below)."""

        def run(tmp):
            q = writer(tmp).option(
                "checkpointLocation", os.path.join(tmp, "ckpt")
            ).start()
            try:
                q.processAllAvailable()
            finally:
                q.stop()

        spark.conf.set(
            "spark.sql.shuffle.partitions", partitions or stream_parts
        )
        try:
            wall, cpu, _ = min_of_n(
                runs,
                run,
                setup=lambda: tempfile.mkdtemp(prefix="bench_stream_"),
                teardown=lambda tmp: shutil.rmtree(tmp, ignore_errors=True),
            )
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", cpus)
        record(name, wall, cpu)

    def noop_sink(build, output_mode: str):
        return lambda _tmp: (
            build().writeStream.outputMode(output_mode).format("noop")
        )

    time_stream(
        "streaming_corpus_filter",
        noop_sink(
            lambda: streaming_corpus_filter(
                spark.readStream.schema("doc_id long, ts timestamp, text string")
                .parquet(stage_dir)
            ),
            "append",
        ),
    )

    # Stateful-operator timing: per-key running counters via
    # applyInPandasWithState over the events table (state-store path,
    # Arrow both ways) — the other streaming regression axis.
    from hadoop_pcap_spark.streaming.stream import stateful_flow_counts

    ev_parquet = os.path.join(sf_dir, "events.parquet")
    ev_stage = ensure_staged(
        f"bench_stream_events_{os.path.basename(sf_dir)}_",
        ev_parquet,
        lambda tmp: (
            plans.table(spark, sf_dir, "events")
            .select("user_id", "value")
            .repartition(int(cpus))
            .write.mode("overwrite")
            .parquet(tmp)
        ),
    )
    leases.enter_context(hold_stage(ev_stage))
    time_stream(
        "streaming_flow_counts",
        noop_sink(
            lambda: stateful_flow_counts(
                spark.readStream.schema("user_id long, value double")
                .parquet(ev_stage)
            ),
            "update",
        ),
    )

    # Cross-run incremental dedup (foreachBatch + durable fingerprint
    # snapshot, streaming/stream.py): staged as EIGHT files with
    # maxFilesPerTrigger=2 so the timing covers four epochs of the
    # real loop — snapshot probe (anti-join over earlier epochs) +
    # per-epoch fingerprint commit — not one degenerate mega-batch.
    from hadoop_pcap_spark.streaming.stream import streaming_incremental_dedup

    inc_stage = ensure_staged(
        f"bench_incdedup_docs_{os.path.basename(sf_dir)}_",
        src_parquet,
        lambda tmp: (
            spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
            .select("doc_id", "text")
            .repartition(8)
            .write.mode("overwrite")
            .parquet(tmp)
        ),
    )
    leases.enter_context(hold_stage(inc_stage))

    time_stream(
        "streaming_incremental_dedup",
        lambda tmp: streaming_incremental_dedup(
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 2)
            .parquet(inc_stage),
            os.path.join(tmp, "snap"),
        ),
    )

    # Stream-stream watermarked interval join (views ⋈ purchases by
    # user within 1 h): the two-sided join-state path — four state
    # stores per partition, eviction driven by watermark + gap — which
    # none of the rows above exercises.  All-JVM (no Python boundary),
    # so the cost model is the per-state-partition fixed term plus the
    # keyed shuffle of both sides.
    from hadoop_pcap_spark.streaming.stream import stream_stream_interval_join

    ssj_stage = ensure_staged(
        f"bench_ssj_events_{os.path.basename(sf_dir)}_",
        ev_parquet,
        lambda tmp: (
            plans.table(spark, sf_dir, "events")
            .select(
                "event_id",
                F.expr("timestamp_micros(ts)").alias("ts"),
                "user_id",
                "event_type",
            )
            .repartition(int(cpus))
            .write.mode("overwrite")
            .parquet(tmp)
        ),
    )
    leases.enter_context(hold_stage(ssj_stage))

    def _ssj_build():
        schema = "event_id long, ts timestamp, user_id long, event_type string"

        def src():
            return spark.readStream.schema(schema).parquet(ssj_stage)

        views = src().filter(F.col("event_type") == "view").select(
            "user_id", F.col("ts").alias("v_ts"), F.col("event_id").alias("view_id")
        )
        purchases = src().filter(F.col("event_type") == "purchase").select(
            "user_id", F.col("ts").alias("p_ts"), F.col("event_id").alias("purchase_id")
        )
        return stream_stream_interval_join(
            views, purchases, key="user_id", left_ts="v_ts", right_ts="p_ts",
            max_gap="1 hour", watermark="2 hours",
        )

    # State-partition sizing for the JOIN row follows the same r12
    # capacity model as `stream_parts` (partitions ∝ keys × state per
    # partition, NOT core count) with one refinement (r14): this query
    # opens FOUR state stores per partition (two sides × two
    # key-with/without-watermark stores), and the measured per-batch
    # cost is dominated by the per-STORE open/commit fixed term — so at
    # equal key cardinality the right partition count is half of the
    # single-store rows', floored at 4 for the ≤1.5k-keys corpora
    # here (≈400 users per partition, state still KBs).  Measured
    # min-of-5 at sf0.1 on local[32], 8 → 4 partitions: 1.91 s → 1.66 s
    # wall / 3.1 → 2.6 cpu-s.  Parameterised like everything else — a
    # production deployment scales it with arrival rate × gap window.
    ssj_parts = os.environ.get(
        "SPARK_GRAFT_STREAM_JOIN_PARTITIONS",
        str(max(4, int(stream_parts) // 2)),
    )
    time_stream(
        "streaming_join_interval",
        noop_sink(_ssj_build, "append"),
        partitions=ssj_parts,
    )

    leases.close()  # release the hold_stage reader leases

    # End-of-suite drift sentinel (VERDICT r8 item 1): the membw probe
    # brackets the window's EDGES; this re-times the suite's heaviest
    # batch row at the END under identical min-of-N warm-min semantics
    # and compares against its own earlier min.  Contention that
    # arrived (or left) mid-window moves the ratio; >25% off in either
    # direction stamps `drifted: true`, which folds into `contended`,
    # so a `contended: false` artifact now certifies the WHOLE window.
    # WALL is the compared signal: neighbor steal and LLC/bandwidth
    # pressure both stretch wall, which min-of-N cannot hide if the
    # pressure spans the whole re-run.  The cpu ratio is recorded for
    # forensics but deliberately NOT gated on — it is position-
    # polluted: after the streaming rows, JVM background activity
    # (GC, state-store maintenance pools) lands in the process-tree
    # delta, observed as 8.95→17.37 cpu-s with wall FLAT (1.29→1.33)
    # on a probe-quiet host.  That same mechanism is the likely source
    # of the r6–r8 minhash cpu spread (10.49/14.43/9.23): the number
    # moves with suite position and background phase, not host noise
    # alone — which is why per-row cpu is only compared against the
    # SAME row in the SAME suite order across rounds.
    # TWO sentinels since r10 (VERDICT r9 item 1): the shuffle-heavy
    # minhash row and a cheap decode probe — the r9 artifact passed its
    # single minhash wall gate by 0.024 while the decode rows rose
    # ~1.9x unadjudicated; a Python-kernel-bound sentinel catches
    # pressure that a JVM-shuffle sentinel can sit just under.
    # Each sentinel compares with its warm reference from
    # time_headline_row (a warm re-time when runs == 1).
    extras["drift_sentinel"] = []
    drifted = False
    for sentinel in DRIFT_SENTINELS:
        s_wall, s_cpu, _ = time_query(sentinel)
        ref_wall, ref_cpu = sentinel_refs[sentinel]
        ratio = s_wall / ref_wall if ref_wall else 1.0
        cpu_ratio = s_cpu / ref_cpu if ref_cpu else 1.0
        drifted = drifted or bool(max(ratio, 1.0 / ratio) > 1.25)
        extras["drift_sentinel"].append({
            "query": sentinel,
            "end_wall_s": s_wall,
            "end_cpu_s": s_cpu,
            "ref_wall_s": ref_wall,
            "ref_cpu_s": ref_cpu,
            "wall_ratio": round(ratio, 3),
            "cpu_ratio": round(cpu_ratio, 3),
        })

    extras["calib_end"] = calibrate()
    # contended iff the BEST start probe (post-backoff if one ran) or
    # the end probe exceeds the quiet threshold — a run that started
    # quiet and ended noisy is just as untrustworthy for regressions
    start_membw = min(
        extras["calib_start"]["membw_ms"],
        extras.get("calib_start_retry", extras["calib_start"])["membw_ms"],
    )
    extras["membw_quiet_ref_ms"] = MEMBW_QUIET_MS
    contended = bool(
        start_membw > MEMBW_QUIET_MS
        or extras["calib_end"]["membw_ms"] > MEMBW_QUIET_MS
        or drifted
    )
    print(f"# extras: {extras}", file=sys.stderr, flush=True)

    normalized = normalized_block(extras, cpu_timings)
    # same-run ratios promoted to first-class (they compare two
    # measurements taken under identical host conditions, so they are
    # contention-robust by construction)
    ratios = {
        "dns_kernel_speedup": extras["dns_kernel_speedup"],
        "single_file_decode_speedup": extras["single_file_decode"]["speedup"],
        "ann_index_amortization": extras["ann_index_amortization"]["speedup"],
        "drift_sentinel_wall": {
            s["query"]: s["wall_ratio"] for s in extras["drift_sentinel"]
        },
    }

    total = round(sum(timings.values()), 3)
    # Two JSON lines since r14 (VERDICT r13 item 2: the r12→r13
    # round-over-round comparison was LOST because the driver archives
    # only a 2000-char stdout tail and the old single ~4 KB line got
    # truncated out of it — BENCH_r12.json parsed:null despite rc=0).
    # Line 1 (detail, printed FIRST): everything the old line carried —
    # per-query cpu, calibration-normalized ratios, extras, forensics.
    # Line 2 (core, printed LAST): the contract fields only — metric /
    # value / unit / queries / sf plus the tiny contended/drifted
    # stamps — compact-separated, ~1 KB for 27 rows, so it survives any
    # tail capture ≥ its own length.  Nothing was dropped or renamed:
    # the union of the two lines is a superset of the old payload.
    detail = {
        "metric": "headline_suite_detail",
        "queries_cpu": cpu_timings,
        "value_cpu": round(sum(cpu_timings.values()), 3),
        # host-speed-normalized per-row cpu (dimensionless):
        # gate regressions on THESE when contended=true
        "normalized": normalized,
        # same-run contention-robust speedup ratios
        "ratios": ratios,
        "extras": extras,
        # host-contention forensics: CPU-seconds inflate with
        # neighbor memory-bandwidth pressure (BASELINE.md).
        # Sampled BEFORE the Spark session exists — sampling
        # at the end would mostly measure the bench's own
        # just-finished load
        "loadavg_start_1m": _loadavg_start,
    }
    print(json.dumps(detail))
    print(core_json_line(total, timings, contended, drifted, runs, sf_dir))
    spark.stop()


if __name__ == "__main__":
    main()
