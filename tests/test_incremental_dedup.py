"""Cross-run incremental dedup: the snapshot-backed foreachBatch
operator (streaming/stream.py).  Exercises the three contracts that
make it exactly-once without a transactional store: strictly-earlier
epoch visibility, overwrite-idempotent epoch commits with a
deterministic keep rule, and replay-safe offline compaction."""

import os

import pytest

import hadoop_pcap_spark.streaming.stream as STRM


def _batch(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _kept_ids(df):
    return sorted(r.doc_id for r in df.collect())


def _fp_dirs(snap):
    root = os.path.join(snap, "fps")
    return sorted(d for d in os.listdir(root)) if os.path.isdir(root) else []


WAVE0 = [
    (1, "alpha doc"),
    (2, "alpha doc"),          # within-batch dup of 1
    (3, "beta doc"),
    (4, "gamma doc"),
    (5, "  Gamma   DOC "),     # fingerprint-normalized dup of 4
    (6, "delta doc"),
]
WAVE1 = [
    (7, "alpha doc"),          # cross-epoch dup of 1
    (8, "epsilon doc"),
    (9, "epsilon doc"),        # within-batch dup of 8
    (10, "zeta doc"),
]


def test_step_semantics_and_replay_idempotence(spark, tmp_path):
    snap = str(tmp_path / "snap")

    kept0 = STRM.incremental_dedup_step(_batch(spark, WAVE0), 0, snap)
    try:
        assert _kept_ids(kept0) == [1, 3, 4, 6]  # keep-min per fingerprint
    finally:
        kept0.unpersist()

    kept1 = STRM.incremental_dedup_step(_batch(spark, WAVE1), 1, snap)
    try:
        first = _kept_ids(kept1)
    finally:
        kept1.unpersist()
    assert first == [8, 10]  # 7 is a cross-epoch dup; 9 a within-batch dup

    # crash replay: the same epoch runs again — emission must be
    # row-identical (the crashed attempt's own epoch=1 directory is
    # invisible to the anti-join, and overwrite re-commits it)
    replay = STRM.incremental_dedup_step(_batch(spark, WAVE1), 1, snap)
    try:
        assert _kept_ids(replay) == first
    finally:
        replay.unpersist()
    assert _fp_dirs(snap) == ["epoch=0", "epoch=1"]

    fps = spark.read.parquet(os.path.join(snap, "fps")).collect()
    assert len(fps) == 6  # 4 from epoch 0 + 2 from epoch 1, no doubles


def test_streaming_end_to_end_across_restart(spark, tmp_path):
    src = str(tmp_path / "src")
    snap = str(tmp_path / "snap")
    ckpt = str(tmp_path / "ckpt")
    _batch(spark, WAVE0).coalesce(1).write.mode("append").parquet(src)

    def run(collector):
        def emit(kept, epoch_id):
            collector.extend((epoch_id, r) for r in kept.collect())

        stream = spark.readStream.schema("doc_id long, text string").parquet(src)
        q = (
            STRM.streaming_incremental_dedup(stream, snap, emit=emit)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    got1 = []
    run(got1)
    assert sorted(r.doc_id for _e, r in got1) == [1, 3, 4, 6]

    # second wave lands after a full stop/start: the snapshot (not the
    # state store) must remember wave 1's fingerprints
    _batch(spark, WAVE1).coalesce(1).write.mode("append").parquet(src)
    got2 = []
    run(got2)
    new_ids = sorted(r.doc_id for _e, r in got2)
    assert new_ids == [8, 10]

    # no fingerprint is ever emitted twice across the whole run
    all_fps = [r.fp for _e, r in got1 + got2]
    assert len(all_fps) == len(set(all_fps))


def test_compaction_folds_all_but_newest_epoch(spark, tmp_path):
    snap = str(tmp_path / "snap")
    waves = [
        [(1, "a"), (2, "b")],
        [(3, "c"), (4, "a")],   # 4 dups epoch 0
        [(5, "d")],
    ]
    for epoch, rows in enumerate(waves):
        STRM.incremental_dedup_step(_batch(spark, rows), epoch, snap).unpersist()
    assert _fp_dirs(snap) == ["epoch=0", "epoch=1", "epoch=2"]

    folded = STRM.compact_fingerprint_snapshot(spark, snap)
    assert folded == 2
    assert _fp_dirs(snap) == ["epoch=1c1", "epoch=2"]

    # a replay of the NEWEST epoch after compaction sees the same
    # prior set (the folded dir is tagged epoch=1 < 2)
    replay = STRM.incremental_dedup_step(_batch(spark, waves[2]), 2, snap)
    try:
        assert _kept_ids(replay) == [5]
    finally:
        replay.unpersist()

    # new epochs keep deduping against the folded history
    nxt = STRM.incremental_dedup_step(
        _batch(spark, [(6, "b"), (7, "e")]), 3, snap
    )
    try:
        assert _kept_ids(nxt) == [7]
    finally:
        nxt.unpersist()

    # second compaction folds {1c1, 2} but never epoch=3
    assert STRM.compact_fingerprint_snapshot(spark, snap) == 2
    assert _fp_dirs(snap) == ["epoch=2c2", "epoch=3"]
    fps = spark.read.parquet(os.path.join(snap, "fps")).collect()
    assert len(fps) == 5  # a b c d e — exactly once each


def test_compaction_noop_on_single_foldable_dir(spark, tmp_path):
    snap = str(tmp_path / "snap")
    assert STRM.compact_fingerprint_snapshot(spark, snap) == 0
    STRM.incremental_dedup_step(_batch(spark, [(1, "a")]), 0, snap).unpersist()
    assert STRM.compact_fingerprint_snapshot(spark, snap) == 0
    STRM.incremental_dedup_step(_batch(spark, [(2, "b")]), 1, snap).unpersist()
    # one foldable dir (epoch=0) is not worth a rewrite
    assert STRM.compact_fingerprint_snapshot(spark, snap) == 0
    assert _fp_dirs(snap) == ["epoch=0", "epoch=1"]


def test_step_keeps_null_id_rows_and_column_order(spark, tmp_path):
    # min_by skips NULL ordering values: the keep rule must still pick
    # the NULL-id row (ascending id, NULLs first), never a NULL struct
    rows = [(None, "a"), (None, "a"), (None, "b"), (3, "b"), (5, "c")]
    kept = STRM.incremental_dedup_step(
        _batch(spark, rows), 0, str(tmp_path / "snap"), persist=False
    )
    assert kept.columns == ["doc_id", "text", "fp"]
    got = [(r.doc_id, r.text) for r in kept.collect()]
    assert len(got) == 3 and set(got) == {(None, "a"), (None, "b"), (5, "c")}

    # an input fp column keeps its place; its values are recomputed
    mid = spark.createDataFrame(
        [(1, "stale", "x"), (2, "stale", "x")], "doc_id long, fp string, text string"
    )
    kept = STRM.incremental_dedup_step(mid, 0, str(tmp_path / "snap2"), persist=False)
    assert kept.columns == ["doc_id", "fp", "text"]
    [row] = kept.collect()
    assert (row.doc_id, row.text) == (1, "x") and row.fp != "stale"
