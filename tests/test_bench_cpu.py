"""CpuTracker (bench.py): per-query cpu attribution must survive
worker death (VERDICT r11 item 2 — the old two-sample /proc scheme
lost a dying worker's whole accumulated utime and the clamp-at-0 hid
it, observed as a 3.1 s-wall / 0.0-cpu headline row on a quiet host)."""

import os
import subprocess
import sys
import time
import types

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench


def test_tracker_banks_cpu_of_exiting_child():
    """A child that burns ~0.6 cpu-s and EXITS before the end sample
    must still be attributed ≥ half its burn — the exact scenario the
    clamp used to zero out."""
    tracker = bench.CpuTracker(interval_s=0.05)
    try:
        c0 = tracker.read()
        t0 = time.time()
        subprocess.run(
            [
                sys.executable,
                "-c",
                "import time\n"
                "t = time.process_time()\n"
                "while time.process_time() - t < 0.6:\n"
                "    sum(i * i for i in range(1000))\n",
            ],
            check=True,
            timeout=120,
        )
        # child has exited; give the sampler one more tick to notice
        time.sleep(0.2)
        dc = tracker.read() - c0
        wall = time.time() - t0
        assert dc >= 0.3, (
            f"exiting child's cpu lost: delta {dc:.3f}s over {wall:.2f}s wall"
        )
    finally:
        tracker.close()


def test_tracker_monotone_and_nonnegative_deltas():
    """read() is monotone nondecreasing across arbitrary child churn —
    the property that makes the per-query delta clamp unnecessary."""
    tracker = bench.CpuTracker(interval_s=0.05)
    try:
        prev = tracker.read()
        for _ in range(3):
            subprocess.run(
                [sys.executable, "-c", "sum(i*i for i in range(200000))"],
                check=True,
                timeout=60,
            )
            cur = tracker.read()
            assert cur >= prev
            prev = cur
    finally:
        tracker.close()


def test_tracker_counts_own_process_work():
    """Work done in the tracked root itself registers (sanity: the
    tree walk includes the root, not just descendants)."""
    tracker = bench.CpuTracker(interval_s=0.05)
    try:
        c0 = tracker.read()
        t = time.process_time()
        while time.process_time() - t < 0.3:
            sum(i * i for i in range(1000))
        dc = tracker.read() - c0
        assert dc >= 0.2, dc
    finally:
        tracker.close()


def test_tracker_transient_proc_miss_no_double_count():
    """A pid that vanishes from ONE sample (failed /proc stat read)
    and reappears with the SAME (pid, starttime) key must not have its
    accumulated cpu counted twice — only cpu accrued beyond the banked
    amount may re-enter the live sum (ADVICE r12).  Simulated by
    scripting _sample_tree."""
    tracker = bench.CpuTracker(interval_s=3600)  # no background ticks
    try:
        key = (99999, 12345)
        samples = [
            {key: 5.0},   # live at 5 cpu-s
            {},           # transient miss → 5.0 banked
            {key: 5.4},   # reappears, same key, 0.4s newer
            {},           # exits for real → bank only the 0.4 excess
        ]
        it = iter(samples)
        tracker._sample_tree = lambda: next(it)
        assert tracker.read() == 5.0
        assert tracker.read() == 5.0          # banked, not lost
        assert abs(tracker.read() - 5.4) < 1e-9   # +0.4, NOT +5.4
        assert abs(tracker.read() - 5.4) < 1e-9   # final exit adds nothing new
    finally:
        tracker.close()


def test_bench_json_normalized_block_shape():
    """bench.normalized_block (the code main() actually calls — not a
    copy of its math) must keep its contract: dimensionless per-row
    cpu ÷ MIN same-run calibration probe, both normalizers present
    (VERDICT r11 item 1 — a contended artifact must still carry a
    gateable relative signal), with a polluted edge probe (the
    r11/r12 BLAS spin-up outlier mode) shrugged off by the min."""
    extras = {
        "calib_start": {"cpu_ms": 4907.3, "membw_ms": 60.0},
        "calib_start_retry": {"cpu_ms": 10.0, "membw_ms": 15.0},
        "calib_end": {"cpu_ms": 12.0, "membw_ms": 17.0},
    }
    cpu_timings = {"q1": 2.2, "q2": 0.0}
    n = bench.normalized_block(extras, cpu_timings)
    assert n["calib_cpu_s"] == 0.01
    assert n["calib_membw_s"] == 0.015
    assert n["queries_cpu_over_calib"] == {"q1": 220.0, "q2": 0.0}
    assert n["queries_cpu_over_membw"]["q1"] == round(2.2 / 0.015, 1)
    # no retry probe ⇒ start counts twice, harmlessly
    del extras["calib_start_retry"]
    n2 = bench.normalized_block(extras, cpu_timings)
    assert n2["calib_cpu_s"] == 0.012


def test_bench_core_json_line_tail_survivable():
    """core_json_line (the code main() actually prints LAST — VERDICT
    r13 item 2): must parse, carry exactly the driver-contract fields,
    and stay under a 2000-char stdout-tail capture at the real suite
    width (27 rows with realistic name lengths)."""
    import json

    timings = {
        f"similarity_ann_index_persisted_{i:02d}": round(0.123 + i, 3)
        for i in range(27)
    }
    line = bench.core_json_line(
        41.234, timings, True, False, 3, "/root/testdata/sf0.1"
    )
    assert len(line) <= 1900  # < the 2000-char archive tail
    assert "\n" not in line
    parsed = json.loads(line)
    assert parsed["metric"] == "headline_suite_total"
    assert parsed["value"] == 41.234
    assert parsed["unit"] == "sec"
    assert parsed["queries"] == timings
    assert parsed["contended"] is True
    assert parsed["drifted"] is False
    assert parsed["runs"] == 3
    assert parsed["sf"] == "/root/testdata/sf0.1"


def test_bench_core_json_line_over_limit_still_parses(capsys):
    """An over-long core line is cut down to the limit rather than
    asserted on after the suite (``python -O`` strips asserts): the
    last line still parses, keeps the contract fields, and marks how
    many per-query walls it dropped."""
    import json

    timings = {f"row_with_a_deliberately_long_name_{i:03d}": 1.5 for i in range(80)}
    line = bench.core_json_line(120.0, timings, False, False, 3, "/data/sf0.1")
    assert len(line) <= bench.CORE_LINE_MAX
    assert "\n" not in line
    parsed = json.loads(line)
    assert parsed["metric"] == "headline_suite_total"
    assert parsed["value"] == 120.0
    assert parsed["sf"] == "/data/sf0.1"
    kept = parsed["queries"]
    assert 0 < len(kept) < len(timings)
    assert parsed["queries_dropped"] == len(timings) - len(kept)
    assert all(timings[k] == v for k, v in kept.items())
    assert "dropped" in capsys.readouterr().err
    # within the limit nothing is dropped and no marker appears
    short = json.loads(bench.core_json_line(1.0, {"a": 1.0}, False, False, 3, "x"))
    assert "queries_dropped" not in short


def test_min_of_n_runs_body_n_times_and_keeps_minimums(monkeypatch):
    """bench.min_of_n (the timer every bench row and tools/ probe
    uses): the body runs exactly N times, each with its own setup
    value and teardown, and the result carries the MIN wall, the MIN
    process-tree cpu and the last run's value."""
    walls = iter([0.0, 5.0, 10.0, 12.0, 20.0, 27.0])  # 5, 2, 7
    cpus = iter([0.0, 1.0, 10.0, 10.5, 20.0, 23.0])  # 1, 0.5, 3
    # a stand-in clock for bench's module-global ``time`` only: the
    # real time.time stays untouched for every other thread
    clock = types.SimpleNamespace(time=lambda: next(walls))
    monkeypatch.setattr(bench, "time", clock)
    monkeypatch.setattr(bench, "proc_tree_cpu", lambda: next(cpus))
    seen, torn = [], []
    setups = iter(["a", "b", "c"])
    wall, cpu, result = bench.min_of_n(
        3,
        lambda s: seen.append(s) or len(seen),
        setup=lambda: next(setups),
        teardown=torn.append,
    )
    assert seen == torn == ["a", "b", "c"]
    assert (wall, cpu, result) == (2.0, 0.5, 3)


def test_min_of_n_teardown_runs_and_error_propagates():
    """A failing body still tears its run down, and the error reaches
    the caller instead of being timed as a result."""
    import pytest

    torn = []

    def body(tmp):
        raise RuntimeError(f"query failed in {tmp}")

    with pytest.raises(RuntimeError, match="query failed in d1"):
        bench.min_of_n(3, body, setup=lambda: "d1", teardown=torn.append)
    assert torn == ["d1"]


def test_drift_sentinel_reference_is_warm_with_one_run():
    """With one run per row, the row's only run is cold while the
    end-of-suite sentinel re-time is warm: a sentinel row is timed once
    more right after it and that warm run is its drift reference; the
    row keeps its own (cold) time.  With more runs the row's warm min
    is the reference and nothing is re-timed."""
    sentinel, other = bench.DRIFT_SENTINELS[0], "tpch_q1"

    def timer(walls):
        calls = []

        def time_query(name):
            calls.append(name)
            wall = walls[len(calls) - 1]
            return wall, wall * 2, 7
        return time_query, calls

    tq, calls = timer([2.0, 0.8])
    assert bench.time_headline_row(tq, sentinel, 1) == (2.0, 4.0, 7, (0.8, 1.6))
    assert calls == [sentinel, sentinel]

    tq, calls = timer([0.9])
    assert bench.time_headline_row(tq, sentinel, 3) == (0.9, 1.8, 7, (0.9, 1.8))
    assert calls == [sentinel]

    for runs in (1, 3):
        tq, calls = timer([1.5])
        assert bench.time_headline_row(tq, other, runs) == (1.5, 3.0, 7, None)
        assert calls == [other]
