"""Structured Streaming tests: a streaming query over a static
directory must produce exactly the batch result (batch-equivalence,
the strongest oracle available for streaming)."""

import pytest

from pyspark.sql import functions as F

from hadoop_pcap_spark.operators.flows import conn_endpoints, l7_segments
from hadoop_pcap_spark.plans import events_table
from hadoop_pcap_spark.streaming import stream as STRM

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory):
    """events with a real TimestampType ts, written as parquet for the
    file-streaming source."""
    d = str(tmp_path_factory.mktemp("events_stream"))
    df = events_table(spark, SF).withColumn(
        "ts", F.expr("timestamp_micros(ts)")
    )
    df.write.mode("overwrite").parquet(d)
    return d


def _run_stream(spark, df, name):
    q = (
        df.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
        return spark.sql(f"SELECT * FROM {name}").collect()
    finally:
        q.stop()


def test_tumbling_counts_batch_equivalence(spark, events_dir):
    schema = spark.read.parquet(events_dir).schema
    streamed = _run_stream(
        spark,
        STRM.tumbling_counts(spark.readStream.schema(schema).parquet(events_dir)),
        "tumbling_out",
    )
    batch = STRM.tumbling_counts(spark.read.parquet(events_dir)).collect()
    key = lambda r: (r.win_start, r.event_type)
    assert {key(r): r.n for r in streamed} == {key(r): r.n for r in batch}
    assert len(batch) > 0


def test_session_window_batch_equivalence(spark, events_dir):
    schema = spark.read.parquet(events_dir).schema
    streamed = _run_stream(
        spark,
        STRM.session_windows(
            spark.readStream.schema(schema).parquet(events_dir), gap="10 minutes"
        ),
        "session_out",
    )
    batch = STRM.session_windows(
        spark.read.parquet(events_dir), gap="10 minutes"
    ).collect()
    key = lambda r: (r.sess_start, r.user_id)
    assert {key(r): r.n_events for r in streamed} == {key(r): r.n_events for r in batch}


def test_dedup_within_watermark_append(spark, events_dir):
    schema = spark.read.parquet(events_dir).schema
    src = spark.readStream.schema(schema).parquet(events_dir)
    deduped = STRM.dedup_within_watermark(src, keys=["user_id", "event_type"])
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_out")
        .start()
    )
    try:
        q.processAllAvailable()
        got = spark.sql("SELECT count(*) AS n FROM dedup_out").collect()[0].n
    finally:
        q.stop()
    exact = (
        spark.read.parquet(events_dir)
        .select("user_id", "event_type")
        .distinct()
        .count()
    )
    # all data arrives in one batch → within-watermark dedup sees every
    # duplicate → must equal the exact distinct count
    assert got == exact


def test_streaming_pcap_source_incremental(spark, tmp_path):
    """spark.readStream.format('pcap'): new capture files arriving in
    the directory appear as new micro-batches."""
    import gzip as _g

    from hadoop_pcap_spark.pcap import synth as S
    from hadoop_pcap_spark.sources import register_pcap_datasource

    register_pcap_datasource(spark)
    d = str(tmp_path / "livecaps")
    import os

    os.makedirs(d)
    (tmp_path / "livecaps" / "a.pcap").write_bytes(S.dns_exchange_pcap())

    stream = (
        spark.readStream.format("pcap")
        .option("decoder", "dns")
        .option("path", d)
        .load()
    )
    assert stream.isStreaming
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("live_pcap")
        .start()
    )
    try:
        q.processAllAvailable()
        n1 = spark.sql("SELECT count(*) AS n FROM live_pcap").collect()[0].n
        assert n1 == 2
        # drop a second capture file in; next batch picks up only the delta
        (tmp_path / "livecaps" / "b.pcap").write_bytes(S.dns_exchange_pcap(ts=1317994000))
        q.processAllAvailable()
        rows = spark.sql(
            "SELECT file, count(*) AS n FROM live_pcap GROUP BY file ORDER BY file"
        ).collect()
        assert [r.n for r in rows] == [2, 2]
        assert rows[0].file.endswith("a.pcap") and rows[1].file.endswith("b.pcap")
        qnames = spark.sql(
            "SELECT DISTINCT dns_qname FROM live_pcap WHERE dns_qname IS NOT NULL"
        ).collect()
        assert [r.dns_qname for r in qnames] == ["ripe.net."]
    finally:
        q.stop()


def test_streaming_dns_tcp_reassembly_across_batches(spark, tmp_path):
    """A DNS message split across MICRO-BATCHES (not just segments) is
    emitted exactly once, when its final segment arrives; per-flow
    msg_no continues across batches."""
    import os

    from hadoop_pcap_spark.pcap import synth as S
    from hadoop_pcap_spark.sources import register_pcap_datasource

    register_pcap_datasource(spark)
    d = str(tmp_path / "tcpcaps")
    os.makedirs(d)

    q_msg = S.dns_query(0x4242, "bigzone.example", 252)
    r1 = S.dns_response(
        0x4242, "bigzone.example", 252,
        answers=[(f"h{i}.bigzone.example", 600, 1, S.a_rdata(f"10.1.{i}.1"))
                 for i in range(20)],
    )
    r2 = S.dns_response(0x4243, "bigzone.example", 6,
                        answers=[("bigzone.example", 600, 2,
                                  S.ns_rdata("ns1.bigzone.example"))])
    cli, srv = "192.0.2.10", "192.0.2.53"
    (q_seg,) = S.dns_tcp_segments([q_msg], [2 + len(q_msg)])
    rs1, rs2 = S.dns_tcp_segments([r1, r2], [120])

    # wave 1: complete query + first half of the response stream
    wave1 = (
        S.global_header(1)
        + S.record(1700000000, S.ethernet(S.ipv4(S.tcp(q_seg, 40000, 53), 6, cli, srv)))
        + S.record(1700000001, S.ethernet(S.ipv4(S.tcp(rs1, 53, 40000), 6, srv, cli)))
    )
    (tmp_path / "tcpcaps" / "w1.pcap").write_bytes(wave1)

    stream = spark.readStream.format("pcap").option("path", d).load()
    out = STRM.streaming_dns_tcp_reassembly(stream)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("tcp_reasm")
        .start()
    )
    try:
        q.processAllAvailable()
        b1 = spark.sql("SELECT * FROM tcp_reasm").collect()
        # only the query completed; the response tail is parked in state
        assert [(r.src, r.msg_no, r.dns_queryid) for r in b1] == [
            (cli, 1, 0x4242)
        ]
        # wave 2: the rest of the response stream (completes r1 AND r2)
        wave2 = S.global_header(1) + S.record(
            1700000002, S.ethernet(S.ipv4(S.tcp(rs2, 53, 40000), 6, srv, cli))
        )
        (tmp_path / "tcpcaps" / "w2.pcap").write_bytes(wave2)
        q.processAllAvailable()
        rows = spark.sql(
            "SELECT * FROM tcp_reasm ORDER BY src, msg_no"
        ).collect()
    finally:
        q.stop()

    assert [(r.src, r.msg_no, r.dns_queryid) for r in rows] == [
        (cli, 1, 0x4242), (srv, 1, 0x4242), (srv, 2, 0x4243)
    ]
    srv_rows = [r for r in rows if r.src == srv]
    assert len(srv_rows[0].dns_answer) == 20 and len(srv_rows[1].dns_answer) == 1
    assert srv_rows[0].n_segments == 2  # state carried the batch-1 segment


def test_stateful_flow_counts_accumulates_across_batches(spark, tmp_path):
    """applyInPandasWithState: state accumulates across micro-batches —
    feed two parquet files arriving separately, totals must carry over."""
    import shutil

    from pyspark.sql import functions as F
    from hadoop_pcap_spark.plans import events_table

    src_dir = str(tmp_path / "ev_stream")
    stage = str(tmp_path / "stage")
    base = (
        events_table(spark, SF)
        .withColumn("ts", F.expr("timestamp_micros(ts)"))
        .filter(F.col("user_id") < 5)
    )
    half1 = base.filter(F.col("event_id") % 2 == 0)
    half2 = base.filter(F.col("event_id") % 2 == 1)
    half1.write.mode("overwrite").parquet(src_dir)
    half2.write.mode("overwrite").parquet(stage)

    schema = spark.read.parquet(src_dir).schema
    stream = spark.readStream.schema(schema).parquet(src_dir)
    out = STRM.stateful_flow_counts(stream)
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("flow_state")
        .start()
    )
    try:
        q.processAllAvailable()
        first = {
            r.user_id: r.n_events
            for r in spark.sql("SELECT * FROM flow_state").collect()
        }
        # second batch: move half2's files into the watched dir
        import glob, os

        for i, f in enumerate(glob.glob(stage + "/part-*.parquet")):
            shutil.copy(f, os.path.join(src_dir, f"late-{i}.parquet"))
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM flow_state").collect()
    finally:
        q.stop()

    # the latest emission per user must equal the full batch counts
    latest = {}
    for r in rows:
        latest[r.user_id] = max(latest.get(r.user_id, 0), r.n_events)
    expected = {
        r.user_id: r.n
        for r in base.groupBy("user_id").agg(F.count("*").alias("n")).collect()
    }
    assert latest == expected
    # and the first batch alone was a strict subset (state really accumulated)
    assert all(first[u] < expected[u] for u in first)


def _stream_rows(rdr, start, end):
    """The rows a micro-batch from ``start`` to ``end`` delivers: every
    planned partition read, as dicts."""
    return [
        row
        for part in rdr.partitions(start, end)
        for batch in rdr.read(part)
        for row in batch.to_pylist()
    ]


def test_pcap_stream_offset_compaction(tmp_path):
    """Offset stays bounded (watermark-on-mtime prunes `recent`),
    replay between offsets is exact, legacy offsets upgrade."""
    import os

    from hadoop_pcap_spark.pcap import synth as S
    from hadoop_pcap_spark.sources.datasource import PcapStreamReader
    from hadoop_pcap_spark.sources.pcap_source import packet_schema

    d = tmp_path / "caps"
    d.mkdir()
    schema = packet_schema("ip")
    options = {"path": str(d), "offsetretentionsec": "100"}
    rdr = PcapStreamReader(schema, options)

    def write(name, age_sec):
        p = d / name
        p.write_bytes(S.dns_exchange_pcap())
        t = 1_700_000_000 - age_sec
        os.utime(p, (t, t))
        return str(p)

    o0 = rdr.initialOffset()
    a = write("a.pcap", 500)
    b = write("b.pcap", 400)
    o1 = rdr.latestOffset()
    rows1 = _stream_rows(rdr, o0, o1)
    assert len(rows1) == 4  # 2 files x 2 packets
    assert len(rdr.partitions(o0, o1)) == 2  # one partition per new file
    assert set(o1["recent"]) == {a, b}

    # batch 2: newer file advances the watermark far past a/b, so the
    # offset compacts to just the fresh window
    c = write("c.pcap", 0)
    o2 = rdr.latestOffset()
    assert len(_stream_rows(rdr, o1, o2)) == 2
    assert set(o2["recent"]) == {c}  # a,b pruned: mtime < wm
    assert o2["wm"] > o1["wm"]

    # batch 3: nothing new; a file appearing older than retention
    # behind the newest is skipped (documented maxFileAge tradeoff)
    write("late.pcap", 900)
    o3 = rdr.latestOffset()
    assert _stream_rows(rdr, o2, o3) == []
    assert set(o3["recent"]) == {c}

    # restart replay: delta between consecutive offsets is exact
    assert len(_stream_rows(rdr, o0, o1)) == 4
    assert len(_stream_rows(rdr, o1, o2)) == 2
    assert _stream_rows(rdr, o2, o3) == []

    # legacy {"seen": [...]} offsets: only the unseen file replays,
    # and the offset upgrades to the compacted shape (a restarted
    # reader resumes from the checkpointed offset Spark commits)
    legacy = {"seen": [a, b]}
    restarted = PcapStreamReader(schema, options)
    restarted.commit(legacy)
    o_l = restarted.latestOffset()
    rows_l = _stream_rows(restarted, legacy, o_l)
    assert {r["file"] for r in rows_l} == {c, str(d / "late.pcap")} - set()
    assert "wm" in o_l and "seen" not in o_l


def test_pcap_stream_live_appended_file_not_redelivered(tmp_path):
    """A file whose mtime keeps advancing (tcpdump -w style) must not
    be re-delivered when its original mtime ages past the watermark —
    its `recent` entry refreshes instead of pruning."""
    import os

    from hadoop_pcap_spark.pcap import synth as S
    from hadoop_pcap_spark.sources.datasource import PcapStreamReader
    from hadoop_pcap_spark.sources.pcap_source import packet_schema

    d = tmp_path / "caps"
    d.mkdir()
    rdr = PcapStreamReader(
        packet_schema("ip"), {"path": str(d), "offsetretentionsec": "100"}
    )
    base = 1_700_000_000

    live = d / "current.pcap"
    live.write_bytes(S.dns_exchange_pcap())
    os.utime(live, (base, base))

    o0 = rdr.initialOffset()
    o1 = rdr.latestOffset()
    assert len(_stream_rows(rdr, o0, o1)) == 2

    # 400s later: live file was appended (mtime advanced), plus a new
    # rotated file arrived — watermark jumps past the ORIGINAL mtime
    os.utime(live, (base + 400, base + 400))
    rot = d / "rotated.pcap"
    rot.write_bytes(S.dns_exchange_pcap())
    os.utime(rot, (base + 400, base + 400))

    o2 = rdr.latestOffset()
    files2 = {r["file"] for r in _stream_rows(rdr, o1, o2)}
    assert files2 == {str(rot)}  # live file NOT re-delivered
    assert str(live) in o2["recent"]  # entry refreshed, not pruned

    # once the live file goes quiet for > retention, it ages out of the
    # offset entirely and stays processed via the watermark
    far = base + 1000
    os.utime(rot, (far, far))
    fresh = d / "fresh.pcap"
    fresh.write_bytes(S.dns_exchange_pcap())
    os.utime(fresh, (far, far))
    o3 = rdr.latestOffset()
    assert {r["file"] for r in _stream_rows(rdr, o2, o3)} == {str(fresh)}
    assert str(live) not in o3["recent"]


def test_streaming_lists_remote_files(tmp_path, monkeypatch):
    """The streaming source's mtime watermark works over a remote
    (pyarrow.fs) root exactly like a local directory."""
    import pyarrow.fs as pafs

    from hadoop_pcap_spark.pcap import chunked as C
    from hadoop_pcap_spark.pcap import synth as S
    from hadoop_pcap_spark.sources import datasource as DS
    from hadoop_pcap_spark.sources.pcap_source import packet_schema

    fs = pafs.SubTreeFileSystem(str(tmp_path), pafs.LocalFileSystem())
    real = C._filesystem_for

    def fake(path):
        if path.startswith("rmt://"):
            return fs, path[len("rmt://"):]
        return real(path)

    monkeypatch.setattr(C, "_filesystem_for", fake)
    (tmp_path / "a.pcap").write_bytes(S.dns_exchange_pcap())
    (tmp_path / "b.pcap").write_bytes(S.dns_exchange_pcap(ts=1317994000))

    reader = DS.PcapStreamReader(packet_schema("ip"), {"path": "rmt://"})
    files = C.list_captures("rmt://")
    assert [p for p, _s, _m in files] == ["rmt://a.pcap", "rmt://b.pcap"]
    assert all(m > 0 for _p, _s, m in files)
    start = reader.initialOffset()
    rows = _stream_rows(reader, start, reader.latestOffset())
    assert sorted({r["file"] for r in rows}) == ["rmt://a.pcap", "rmt://b.pcap"]
    assert len(rows) == 4


def test_pcap_stream_mode_governs_bad_capture(spark, tmp_path):
    """A file that is not a capture fails a FAILFAST format("pcap")
    stream (it must not be dropped silently); PERMISSIVE skips it and
    delivers exactly the good file's rows — the batch mode contract."""
    from pyspark.errors import StreamingQueryException

    from hadoop_pcap_spark.pcap import synth as S
    from hadoop_pcap_spark.sources import register_pcap_datasource

    register_pcap_datasource(spark)
    d = tmp_path / "mixed"
    d.mkdir()
    (d / "good.pcap").write_bytes(S.dns_exchange_pcap())
    (d / "bad.pcap").write_bytes(b"this is not a capture file" * 4)

    def run(name, mode):
        stream = (
            spark.readStream.format("pcap")
            .option("path", str(d))
            .option("mode", mode)
            .load()
        )
        q = stream.writeStream.format("memory").queryName(name).start()
        try:
            q.processAllAvailable()
            return spark.sql(f"SELECT file FROM {name}").collect()
        finally:
            q.stop()

    with pytest.raises(StreamingQueryException):
        run("bad_failfast", "FAILFAST")
    rows = run("bad_permissive", "PERMISSIVE")
    assert len(rows) == 2
    assert all(r.file.endswith("good.pcap") for r in rows)


def test_pcap_stream_restart_from_checkpoint_exactly_once(spark, tmp_path):
    """A checkpointed format("pcap") stream resumes where it stopped:
    a file landing while the query is down is delivered after the
    restart, and no file is delivered twice.  A batch whose sink
    commit was lost replays with exactly its original rows."""
    import glob
    import os

    from hadoop_pcap_spark.pcap import synth as S
    from hadoop_pcap_spark.sources import register_pcap_datasource

    register_pcap_datasource(spark)
    d = tmp_path / "rot"
    d.mkdir()
    ckpt = str(tmp_path / "ckpt")
    got = []  # (batch_id, file, pkt_no) over every run

    def run():
        def sink(batch_df, batch_id):
            got.extend(
                (batch_id, os.path.basename(r.file), r.pkt_no)
                for r in batch_df.collect()
            )

        q = (
            spark.readStream.format("pcap").option("path", str(d)).load()
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    (d / "a.pcap").write_bytes(S.dns_exchange_pcap())
    run()
    (d / "b.pcap").write_bytes(S.dns_exchange_pcap(ts=1317994000))
    run()
    delivered = sorted((f, n) for _b, f, n in got)
    assert delivered == [("a.pcap", 1), ("a.pcap", 2), ("b.pcap", 1), ("b.pcap", 2)]

    # lose the last sink commit (crash between offset log and commit
    # log): the restart replays that batch from its logged offsets
    last = max(
        glob.glob(os.path.join(ckpt, "commits", "[0-9]*")),
        key=lambda p: int(os.path.basename(p)),
    )
    os.remove(last)
    crc = os.path.join(os.path.dirname(last), f".{os.path.basename(last)}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    before = list(got)
    (d / "c.pcap").write_bytes(S.dns_exchange_pcap(ts=1317995000))
    run()
    replay_id = int(os.path.basename(last))
    replayed = sorted(t for t in got[len(before):] if t[0] == replay_id)
    assert replayed == sorted(t for t in before if t[0] == replay_id)
    assert replayed and {f for _b, f, _n in replayed} == {"b.pcap"}
    once = sorted({(f, n) for _b, f, n in got})
    assert once == delivered + [("c.pcap", 1), ("c.pcap", 2)]
    assert len(got) == len(before) + len(replayed) + 2


_MANAGER_KEY = "spark.sql.streaming.checkpointFileManagerClass"
_FILE_CONTEXT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileContextBasedCheckpointFileManager"
)


def _checkpoint_manager(spark, path) -> str:
    """The class of the checkpoint manager a query on ``spark`` would
    open for ``path``, as Spark's own streaming code resolves it."""
    jvm = spark._jvm
    checkpointing = jvm.org.apache.spark.sql.execution.streaming.checkpointing
    mgr = checkpointing.CheckpointFileManager.create(
        jvm.org.apache.hadoop.fs.Path(str(path)),
        spark._jsparkSession.sessionState().newHadoopConf(),
    )
    return mgr.getClass().getName()


def test_engine_sessions_use_filesystem_checkpoint_manager(
    spark, tmp_path, monkeypatch
):
    """Checkpoints go through the FileSystem-based manager: its rename
    does no link-status lookup, so without native libhadoop it forks no
    ``readlink`` per offset-log, commit-log and state-store file.
    ``get_spark`` applies the mapping that carries it, and so does the
    test session."""
    from hadoop_pcap_spark import session as SESSION

    manager = SESSION.SESSION_CONF[_MANAGER_KEY]
    assert manager.endswith(".FileSystemBasedCheckpointFileManager")
    assert _checkpoint_manager(spark, tmp_path) == manager

    class Builder:
        def __init__(self):
            self.conf = {}

        def master(self, _m):
            return self

        def appName(self, _n):
            return self

        def config(self, key=None, value=None, *, map=None):
            self.conf.update(map or {key: value})
            return self

        def getOrCreate(self):
            return self.conf

    monkeypatch.setattr(SESSION.SparkSession, "builder", Builder())
    assert SESSION.get_spark(cpus=2)[_MANAGER_KEY] == manager


def _pcap_src_counts_two_runs(spark, tmp_path, managers):
    """A checkpointed stateful ``format("pcap")`` stream (packets per
    ``src``, update mode) run twice over one checkpoint: the first run
    under ``managers[0]``, then a capture lands while the query is down
    and the restart runs under ``managers[1]``.  Returns every
    delivered (batch_id, src, count)."""
    from hadoop_pcap_spark.pcap import synth as S
    from hadoop_pcap_spark.sources import register_pcap_datasource

    register_pcap_datasource(spark)
    d = tmp_path / "caps"
    d.mkdir(parents=True)
    ckpt = tmp_path / "ckpt"
    got = []

    def sink(batch_df, batch_id):
        got.extend((batch_id, r.src, r["count"]) for r in batch_df.collect())

    def run(manager):
        prior = spark.conf.get(_MANAGER_KEY, None)
        spark.conf.set(_MANAGER_KEY, manager)
        try:
            assert _checkpoint_manager(spark, ckpt) == manager
            q = (
                spark.readStream.format("pcap").option("path", str(d)).load()
                .groupBy("src").count()
                .writeStream.outputMode("update")
                .foreachBatch(sink)
                .option("checkpointLocation", str(ckpt))
                .start()
            )
            try:
                q.processAllAvailable()
            finally:
                q.stop()
        finally:
            if prior is None:
                spark.conf.unset(_MANAGER_KEY)
            else:
                spark.conf.set(_MANAGER_KEY, prior)

    (d / "a.pcap").write_bytes(S.dns_exchange_pcap())
    run(managers[0])
    (d / "b.pcap").write_bytes(S.dns_exchange_pcap(ts=1317994000))
    run(managers[1])
    return sorted(got)


@pytest.mark.parametrize("direction", ["file_context_to_engine",
                                       "engine_to_file_context"])
def test_checkpoint_resumes_across_checkpoint_managers(
    spark, tmp_path, direction
):
    """A checkpoint written by Spark's default FileContext-based manager
    resumes under the engine's FileSystem-based one, and the reverse:
    offsets, commits and state-store files read back, each batch is
    delivered once, and the rows equal a run under one manager."""
    from hadoop_pcap_spark.session import SESSION_CONF

    engine = SESSION_CONF[_MANAGER_KEY]
    managers = {
        "file_context_to_engine": (_FILE_CONTEXT_MANAGER, engine),
        "engine_to_file_context": (engine, _FILE_CONTEXT_MANAGER),
    }[direction]
    crossed = _pcap_src_counts_two_runs(spark, tmp_path / "crossed", managers)
    single = _pcap_src_counts_two_runs(
        spark, tmp_path / "single", (engine, engine)
    )
    assert crossed == single
    # batch 1 sees a.pcap, batch 2 only b.pcap on top of restored state
    assert crossed == [
        (0, "193.0.10.82", 1), (0, "193.0.14.129", 1),
        (1, "193.0.10.82", 2), (1, "193.0.14.129", 2),
    ]


def test_reassembly_hot_flow_guard_recovers(spark, tmp_path):
    """A flow whose buffered residual exceeds max_flow_bytes must be
    RESET, not tail-clipped: the old guard re-truncated every batch to
    the same stuck residual, silently discarding all later segments
    (review finding).  After the poisoned batch, a fresh complete
    message on the same flow must still be emitted."""
    import os

    from hadoop_pcap_spark.pcap import synth as S
    from hadoop_pcap_spark.sources import register_pcap_datasource

    register_pcap_datasource(spark)
    d = str(tmp_path / "hotcaps")
    os.makedirs(d)
    cli, srv = "192.0.2.10", "192.0.2.53"

    # wave 1: a poisoned stream — length prefix promises 0xffff bytes
    # that never arrive, and the carried residual (102 B) exceeds the
    # tiny max_flow_bytes
    poison = b"\xff\xff" + b"A" * 100
    wave1 = S.global_header(1) + S.record(
        1700000000, S.ethernet(S.ipv4(S.tcp(poison, 40000, 53), 6, cli, srv))
    )
    (tmp_path / "hotcaps" / "w1.pcap").write_bytes(wave1)

    stream = spark.readStream.format("pcap").option("path", d).load()
    out = STRM.streaming_dns_tcp_reassembly(stream, max_flow_bytes=64)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("tcp_hot")
        .start()
    )
    try:
        q.processAllAvailable()
        assert spark.sql("SELECT * FROM tcp_hot").count() == 0
        # wave 2: same flow, a complete well-formed query
        msg = S.dns_query(7, "x.example", 1)
        (seg,) = S.dns_tcp_segments([msg], [2 + len(msg)])
        wave2 = S.global_header(1) + S.record(
            1700000001, S.ethernet(S.ipv4(S.tcp(seg, 40000, 53), 6, cli, srv))
        )
        (tmp_path / "hotcaps" / "w2.pcap").write_bytes(wave2)
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM tcp_hot").collect()
    finally:
        q.stop()
    assert [(r.src, r.dns_queryid) for r in rows] == [(cli, 7)]


def test_stateful_flow_counts_crash_recovery_exactly_once(spark, tmp_path):
    """Kill-and-restart proof for the custom stateful operator
    (VERDICT r5 item 6): run batch 1 to completion, delete the SINK
    COMMIT marker for it (the crash window between state-store commit
    and sink commit — the worst case for double counting), add more
    data, and restart from the checkpoint.  Exactly-once state means
    the replayed batch re-emits IDENTICAL rows (same n_events — state
    recovery loads the pre-batch version and reprocesses
    deterministically, it must not apply the batch twice) and the
    final totals equal the one-pass batch counts."""
    import glob
    import os
    import shutil

    from hadoop_pcap_spark.plans import events_table

    src_dir = str(tmp_path / "ev_src")
    stage = str(tmp_path / "ev_stage")
    ckpt = str(tmp_path / "ev_ckpt")
    base = (
        events_table(spark, SF)
        .withColumn("ts", F.expr("timestamp_micros(ts)"))
        .filter(F.col("user_id") < 5)
    )
    half1 = base.filter(F.col("event_id") % 2 == 0)
    half2 = base.filter(F.col("event_id") % 2 == 1)
    half1.write.mode("overwrite").parquet(src_dir)
    half2.write.mode("overwrite").parquet(stage)
    schema = spark.read.parquet(src_dir).schema

    def start(collector):
        # memory sink can't recover from a checkpoint; foreachBatch can,
        # and hands us the batchId the replay assertion needs
        def sink(batch_df, batch_id):
            collector.extend((batch_id, r) for r in batch_df.collect())

        stream = spark.readStream.schema(schema).parquet(src_dir)
        return (
            STRM.stateful_flow_counts(stream)
            .writeStream.outputMode("update")
            .foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .start()
        )

    got1 = []
    q1 = start(got1)
    try:
        q1.processAllAvailable()
    finally:
        q1.stop()
    run1 = {r.user_id: (r.n_events, r.batch_events) for _b, r in got1}
    assert run1

    # crash simulation: the sink commit for the last completed batch
    # never made it to the checkpoint — on restart Spark must replay
    # that batch against the PRE-batch state version.  (The local-fs
    # checkpoint manager keeps a Hadoop .crc sidecar per commit file;
    # a real crash loses both, so both go.)
    commits = sorted(
        glob.glob(os.path.join(ckpt, "commits", "[0-9]*")),
        key=lambda p: int(os.path.basename(p)),
    )
    os.remove(commits[-1])
    crc = os.path.join(
        os.path.dirname(commits[-1]), f".{os.path.basename(commits[-1])}.crc"
    )
    if os.path.exists(crc):
        os.remove(crc)

    for i, f in enumerate(glob.glob(stage + "/part-*.parquet")):
        shutil.copy(f, os.path.join(src_dir, f"late-{i}.parquet"))

    got2 = []
    q2 = start(got2)
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()

    # run 2 saw the replayed batch (same batchId as the one whose sink
    # commit was deleted) plus the new batch: the replay must be
    # row-identical to the original emission (no double count)
    replay_id = min(b for b, _r in got2)
    replay = {
        r.user_id: (r.n_events, r.batch_events)
        for b, r in got2
        if b == replay_id
    }
    assert replay == run1, "replayed batch differs from original emission"
    # and the latest totals equal the one-pass batch aggregation
    latest = {}
    for _b, r in got2:
        latest[r.user_id] = max(latest.get(r.user_id, 0), r.n_events)
    expected = {
        r.user_id: r.n
        for r in base.groupBy("user_id").agg(F.count("*").alias("n")).collect()
    }
    assert latest == expected


def test_dedup_within_watermark_survives_restart(spark, tmp_path):
    """Streaming exact-dedup state must survive a stop/restart: keys
    seen before the restart are still duplicates after it (the
    checkpointed state store is the memory), and only genuinely new
    keys append."""
    import glob
    import os
    import shutil

    from pyspark.sql import Row

    src_dir = str(tmp_path / "dd_src")
    stage = str(tmp_path / "dd_stage")
    ckpt = str(tmp_path / "dd_ckpt")

    # controlled event times: everything inside ONE 10-minute watermark
    # window, wave 2 strictly later than wave 1 — so nothing is evicted
    # or late-dropped and the ONLY dedup mechanism in play is the
    # checkpointed state
    def mk(rows_spec, t0):
        rows = [
            Row(user_id=u, event_type=et, ts="2026-01-01 00:%02d:%02d" % divmod(t0 + i, 60))
            for i, (u, et) in enumerate(rows_spec)
        ]
        return spark.createDataFrame(rows).withColumn(
            "ts", F.col("ts").cast("timestamp")
        )

    w1_keys = [(u, et) for u in range(5) for et in ("signup", "click")]
    wave1 = mk(w1_keys + w1_keys[:3], 0)  # includes in-batch duplicates
    new_keys = [(u, "click") for u in (5, 6, 7)]
    wave2 = mk(w1_keys + new_keys, 120)  # re-sends all of wave 1 + new
    wave1.write.mode("overwrite").parquet(src_dir)
    wave2.write.mode("overwrite").parquet(stage)
    schema = spark.read.parquet(src_dir).schema

    def start(collector):
        def sink(batch_df, batch_id):
            collector.extend(
                (r.user_id, r.event_type)
                for r in batch_df.select("user_id", "event_type").collect()
            )

        stream = spark.readStream.schema(schema).parquet(src_dir)
        return (
            STRM.dedup_within_watermark(stream, keys=["user_id", "event_type"])
            .writeStream.outputMode("append")
            .foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .start()
        )

    rows1 = []
    q1 = start(rows1)
    try:
        q1.processAllAvailable()
    finally:
        q1.stop()
    got1 = set(rows1)
    assert len(rows1) == len(got1), "duplicate emission within run 1"
    exact1 = {
        (r.user_id, r.event_type)
        for r in wave1.select("user_id", "event_type").distinct().collect()
    }
    assert got1 == exact1

    for i, f in enumerate(glob.glob(stage + "/part-*.parquet")):
        shutil.copy(f, os.path.join(src_dir, f"late-{i}.parquet"))

    rows2 = []
    q2 = start(rows2)
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    got2 = set(rows2)
    assert len(rows2) == len(got2), "duplicate emission within run 2"

    # post-restart emissions: only the NEW keys — every wave-1 key in
    # wave 2 was suppressed by state recovered from the checkpoint
    exact_new = {
        (r.user_id, r.event_type)
        for r in wave2.select("user_id", "event_type").distinct().collect()
    } - exact1
    assert got2 == exact_new
    assert exact_new, "fixture must introduce new keys"


def test_streaming_corpus_filter_matches_batch(spark, tmp_path):
    """rules + scrub + exact dedup: the streaming kept-set equals the
    batch stages on a bounded input (one watermark window)."""
    import os

    from pyspark.sql import Row

    from hadoop_pcap_spark.functions.text import (
        exact_fingerprint,
        gopher_flags,
        scrub_pii,
    )

    base = "the cats sat on the mats and all was fine here today " * 3
    rows = [
        Row(doc_id=i, ts="2026-01-01 00:00:%02d" % (i % 50), text=t)
        for i, t in enumerate(
            [base, base, base + "extra tail words", "word " * 5, " ".join(["quartz"] * 40)]
            * 4
        )
    ]
    src = str(tmp_path / "docs_in")
    spark.createDataFrame(rows).withColumn(
        "ts", F.col("ts").cast("timestamp")
    ).write.parquet(src)

    stream = (
        spark.readStream.schema("doc_id long, ts timestamp, text string")
        .parquet(src)
    )
    out = STRM.streaming_corpus_filter(stream)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("corpus_stream")
        .start()
    )
    try:
        q.processAllAvailable()
        got = spark.sql("SELECT fp FROM corpus_stream").collect()
    finally:
        q.stop()

    batch = spark.createDataFrame(rows).withColumn("ts", F.col("ts").cast("timestamp"))
    flags = gopher_flags(F.col("text"))
    keep = flags["wc_ok"] & flags["mwl_ok"] & flags["sw_ok"]
    expect = (
        batch.filter(keep)
        .withColumn("text", scrub_pii(F.col("text")))
        .select(exact_fingerprint(F.col("text")).alias("fp"))
        .distinct()
        .collect()
    )
    assert sorted(r.fp for r in got) == sorted(r.fp for r in expect)
    assert len(got) >= 1


# --- stream-stream watermarked interval join ---------------------------------

_T0_US = 1704067200000000  # 2024-01-01 00:00:00 UTC in epoch µs


def _mk_events(spark, rows):
    """rows: (event_id, minutes_after_t0, user_id, event_type, value) →
    DataFrame in the staged-events shape (TimestampType ts), built via
    integer-µs arithmetic so no local-timezone conversion can leak in."""
    df = spark.createDataFrame(
        rows, "event_id long, mins long, user_id long, event_type string, value double"
    )
    return df.select(
        "event_id",
        F.expr(f"timestamp_micros({_T0_US} + mins * 60000000)").alias("ts"),
        "user_id",
        "event_type",
        "value",
    )


def _join_streams(spark, src_dir, watermark="2 hours"):
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double"

    def src():
        return spark.readStream.schema(schema).parquet(src_dir)

    views = src().filter(F.col("event_type") == "view").select(
        "user_id", F.col("ts").alias("v_ts"), F.col("event_id").alias("view_id")
    )
    purchases = src().filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("p_ts"), F.col("event_id").alias("purchase_id")
    )
    return STRM.stream_stream_interval_join(
        views, purchases, key="user_id", left_ts="v_ts", right_ts="p_ts",
        max_gap="1 hour", watermark=watermark,
    )


def test_stream_stream_join_matches_across_batches(spark, tmp_path):
    """A view arriving in batch 1 must still pair with a purchase
    arriving in batch 2 (left state persisted across micro-batches),
    and the multi-batch streaming result must equal the batch interval
    join over the union — the batch-equivalence oracle."""
    import glob
    import os
    import shutil

    src_dir = str(tmp_path / "ssj_src")
    stage = str(tmp_path / "ssj_stage")
    chunk1 = _mk_events(spark, [
        (101, 0, 1, "view", 0.0),
        (102, 5, 2, "view", 0.0),
        (201, 30, 1, "purchase", 10.0),
    ])
    chunk2 = _mk_events(spark, [
        (202, 50, 2, "purchase", 7.5),      # pairs with view 102 from batch 1
        (103, 180, 1, "view", 0.0),
        (203, 210, 1, "purchase", 3.0),     # pairs with view 103 in-batch
        (204, 240, 3, "purchase", 9.0),     # no view for user 3 → no pair
        (104, 400, 1, "view", 0.0),         # purchase 201 is 370 min earlier → no pair
    ])
    chunk1.write.mode("overwrite").parquet(src_dir)
    chunk2.write.mode("overwrite").parquet(stage)

    q = (
        _join_streams(spark, src_dir)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("ssj_out")
        .start()
    )
    try:
        q.processAllAvailable()
        n_first = spark.sql("SELECT count(*) AS n FROM ssj_out").collect()[0].n
        for i, f in enumerate(glob.glob(stage + "/part-*.parquet")):
            shutil.copy(f, os.path.join(src_dir, f"late-{i}.parquet"))
        q.processAllAvailable()
        got = {
            (r.view_id, r.purchase_id)
            for r in spark.sql("SELECT view_id, purchase_id FROM ssj_out").collect()
        }
    finally:
        q.stop()

    assert n_first == 1          # only (101, 201) is joinable inside batch 1
    assert got == {(101, 201), (102, 202), (103, 203)}

    # batch-equivalence: the same interval join over the full union
    allev = chunk1.unionByName(chunk2)
    v = allev.filter(F.col("event_type") == "view").select(
        "user_id", F.col("ts").alias("v_ts"), F.col("event_id").alias("view_id")
    )
    p = allev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"),
        F.col("event_id").alias("purchase_id"),
    )
    batch = {
        (r.view_id, r.purchase_id)
        for r in v.join(
            p,
            (v.user_id == p.p_user)
            & (p.p_ts >= v.v_ts)
            & (p.p_ts <= v.v_ts + F.expr("INTERVAL 1 hour")),
        ).collect()
    }
    assert got == batch


def test_stream_stream_join_drops_late_rows_beyond_watermark(spark, tmp_path):
    """Watermark semantics: once batch 1 advances the watermark far
    past an old view's join horizon, a purchase arriving in batch 2
    with an event time below the watermark is dropped — the streaming
    result legitimately diverges from the batch join there (bounded
    state is the point of the watermark)."""
    import glob
    import os
    import shutil

    src_dir = str(tmp_path / "ssj_late_src")
    stage = str(tmp_path / "ssj_late_stage")
    chunk1 = _mk_events(spark, [
        (101, 0, 1, "view", 0.0),
        (201, 10, 1, "purchase", 1.0),     # in-batch pair
        # both sides must advance: the global watermark is the MIN over
        # every watermarked stream (multipleWatermarkPolicy=min), so a
        # high-ts row on only one side leaves the other holding it back
        (109, 300, 9, "view", 0.0),        # views side → t0+290min
        (209, 290, 9, "purchase", 0.0),    # purchases side → t0+280min (before
                                           # the view → no (109, 209) pair)
    ])
    chunk2 = _mk_events(spark, [
        (202, 20, 1, "purchase", 2.0),     # batch-joinable, but < watermark → dropped
    ])
    chunk1.write.mode("overwrite").parquet(src_dir)
    chunk2.write.mode("overwrite").parquet(stage)

    q = (
        _join_streams(spark, src_dir, watermark="10 minutes")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("ssj_late")
        .start()
    )
    try:
        q.processAllAvailable()
        for i, f in enumerate(glob.glob(stage + "/part-*.parquet")):
            shutil.copy(f, os.path.join(src_dir, f"late-{i}.parquet"))
        q.processAllAvailable()
        got = {
            (r.view_id, r.purchase_id)
            for r in spark.sql("SELECT view_id, purchase_id FROM ssj_late").collect()
        }
    finally:
        q.stop()

    assert got == {(101, 201)}


def test_stream_stream_join_left_outer_emits_after_watermark(spark, tmp_path):
    """left_outer: an unmatched left row is held in state and emitted
    NULL-extended only once the watermark passes its join horizon
    (Spark then runs a no-data finalization batch).  Pin both halves:
    the matched pairs emit normally; the unmatched view emits with a
    NULL purchase_id after later data advances both watermarks."""
    import glob
    import os
    import shutil

    src_dir = str(tmp_path / "ssj_lo_src")
    stage = str(tmp_path / "ssj_lo_stage")
    chunk1 = _mk_events(spark, [
        (101, 0, 1, "view", 0.0),
        (201, 5, 1, "purchase", 1.0),      # pair (101, 201)
        (102, 10, 2, "view", 0.0),         # no purchase for user 2 → outer row
    ])
    chunk2 = _mk_events(spark, [
        # advance BOTH sides' watermarks far past 102's horizon
        # (10 min + 1 h gap + 10 min delay): min(300,300) − 10 = 290 min
        (110, 300, 9, "view", 0.0),
        (210, 300, 9, "purchase", 2.0),    # pair (110, 210), gap 0
    ])
    chunk1.write.mode("overwrite").parquet(src_dir)
    chunk2.write.mode("overwrite").parquet(stage)

    schema = "event_id long, ts timestamp, user_id long, event_type string, value double"

    def src():
        return spark.readStream.schema(schema).parquet(src_dir)

    views = src().filter(F.col("event_type") == "view").select(
        "user_id", F.col("ts").alias("v_ts"), F.col("event_id").alias("view_id")
    )
    purchases = src().filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("p_ts"), F.col("event_id").alias("purchase_id")
    )
    joined = STRM.stream_stream_interval_join(
        views, purchases, key="user_id", left_ts="v_ts", right_ts="p_ts",
        max_gap="1 hour", watermark="10 minutes", how="left_outer",
    )
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName("ssj_outer")
        .start()
    )
    try:
        q.processAllAvailable()
        for i, f in enumerate(glob.glob(stage + "/part-*.parquet")):
            shutil.copy(f, os.path.join(src_dir, f"late-{i}.parquet"))
        q.processAllAvailable()
        got = {
            (r.view_id, r.purchase_id)
            for r in spark.sql("SELECT view_id, purchase_id FROM ssj_outer").collect()
        }
    finally:
        q.stop()

    assert got == {(101, 201), (110, 210), (102, None)}


def test_streaming_ann_screen_verdicts_and_multibatch(spark, tmp_path):
    """The streaming ANN screen (r11): planted ±2% twins must come
    back is_neardup=True with their own original as best match,
    negated vectors is_neardup=False; and processing the same
    incoming set in MULTIPLE micro-batches (maxFilesPerTrigger=1)
    must produce exactly the single-batch result — the per-batch
    search holds no cross-batch state (it lives in the index)."""
    from hadoop_pcap_spark.operators.ann_index import read_ann_index
    from hadoop_pcap_spark.plans import load_all, table
    from hadoop_pcap_spark.plans.pipeline import _ann_index_table
    from hadoop_pcap_spark.plans import ann_oracles as ANN
    from hadoop_pcap_spark.plans.streaming_queries import (
        q_streaming_ann_neardup,
    )

    load_all()
    single = q_streaming_ann_neardup(spark, SF)
    rows = {r.vec_id: r for r in single.collect()}
    assert len(rows) == 32
    twins = [r for k, r in rows.items() if k < 3_000_000]
    novel = [r for k, r in rows.items() if k >= 3_000_000]
    assert len(twins) == 16 and len(novel) == 16
    for r in twins:
        assert r.is_neardup, r
        assert r.best_id == r.vec_id - 2_000_000, r
        assert r.best_cos > 0.999, r
    for r in novel:
        assert not r.is_neardup, r
        assert r.best_cos < 0.5, r

    # multi-batch: one file per trigger — split the staged vectors
    # into several files first (the stage itself is a single parquet)
    d = str(tmp_path / "incoming4")
    spark.read.parquet(ANN.incoming_vectors_path(SF)).repartition(
        4
    ).write.parquet(d)
    idx = read_ann_index(spark, _ann_index_table(spark, SF))
    sink = str(tmp_path / "sink")
    q = (
        STRM.streaming_ann_screen(
            spark.readStream.schema("vec_id long, embedding array<double>")
            .option("maxFilesPerTrigger", 1)
            .parquet(d),
            idx,
            table(spark, SF, "embeddings"),
            sink,
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    out = spark.read.parquet(sink)
    # one epoch partition per incoming file, no duplicate verdicts
    assert out.select("epoch").distinct().count() > 1
    multi = {r.vec_id: r for r in out.collect()}
    assert out.count() == len(multi)
    assert multi.keys() == rows.keys()
    for k, r in rows.items():
        m = multi[k]
        assert (m.best_id, m.best_cos, m.is_neardup) == (
            r.best_id, r.best_cos, r.is_neardup), k


def test_streaming_ann_screen_maintenance_epochs(spark, tmp_path):
    """maintain_every wiring (VERDICT r12 item 5): an OOD batch stream
    with a high recall threshold must trigger an in-stream retrain —
    visible as the sidecar's sample_by flipping to 'hash' — while
    verdicts keep flowing for every batch (the screen continues on the
    replaced handle)."""
    import shutil as _sh
    import os as _os
    from urllib.parse import urlparse

    from pyspark.sql import functions as F

    from hadoop_pcap_spark.operators.ann_index import (
        read_ann_index,
        write_ann_index,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    for t in ("ann_stream_maint", "ann_stream_maint__model"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        _sh.rmtree(_os.path.join(wh, t), ignore_errors=True)
    try:
        write_ann_index(emb, "ann_stream_maint", n_cells=8, sample_size=256)
        idx = read_ann_index(spark, "ann_stream_maint")
        assert idx.sample_by == "id"
        # two files of OOD vectors => two micro-batches
        ood = emb.filter(F.col("vec_id") < 64).select(
            (F.col("vec_id") + 5_000_000).alias("vec_id"),
            F.expr(
                "transform(embedding, (x, i) -> -x * (1.0 + 0.1 * i))"
            ).alias("embedding"),
        )
        d = str(tmp_path / "incoming")
        ood.repartition(2).write.parquet(d)
        sink = str(tmp_path / "sink")
        q = (
            STRM.streaming_ann_screen(
                spark.readStream.schema("vec_id long, embedding array<double>")
                .option("maxFilesPerTrigger", 1)
                .parquet(d),
                idx,
                emb,
                sink,
                maintain_every=1,
                recall_threshold=0.95,
                n_probe=4,
            )
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )
        q.processAllAvailable()
        q.stop()
        out = spark.read.parquet(sink)
        assert out.count() == 64  # every incoming vector got a verdict
        # the in-stream retrain happened: sidecar now carries the
        # maintenance trainer's hash-sample stamp
        after = read_ann_index(spark, "ann_stream_maint")
        assert after.sample_by == "hash"
    finally:
        for t in ("ann_stream_maint", "ann_stream_maint__model"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
            _sh.rmtree(_os.path.join(wh, t), ignore_errors=True)


def test_streaming_http_objects_cross_batch_exactly_once(spark, tmp_path):
    """streaming_http_objects: the rotated 3-file capture (one file per
    micro-batch, connections spanning files) yields every non-close-
    delimited object exactly once with batch-identical content; the
    close-delimited tail never emits (documented live limitation)."""
    import hashlib
    import os as _os

    from hadoop_pcap_spark.pcap import synth as S
    from hadoop_pcap_spark.sources import read_pcap_stream
    from hadoop_pcap_spark.streaming.stream import streaming_http_objects

    d = tmp_path / "rot"
    d.mkdir()
    for fi, blob in enumerate(S.http_rotated_pcaps(3)):
        p = d / f"rot{fi}.pcap"
        p.write_bytes(blob)
        t = 1700000000 + fi * 10
        _os.utime(p, (t, t))
    pkts = read_pcap_stream(
        spark, str(d), strict_reference=False, max_files_per_trigger=1,
        columns=["file", "src", "dst", "src_port", "dst_port",
                 "protocol", "ts", "pkt_no", "payload"],
    )
    sink = str(tmp_path / "sink")
    q = (
        streaming_http_objects(pkts)
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.read.parquet(sink).collect()
    truth = S.http_streaming_truth()
    assert len(rows) == len(truth)  # exactly once, close-delimited absent
    got = {(r.client, r.server_port, r.obj_no): r for r in rows}
    for t in truth:
        r = got[(t["client"], t["server_port"], t["obj_no"])]
        assert (r.method, r.url, r.status) == (
            t["method"], t["url"], t["status"]), t
        assert r.body_len == t["body_len"], t
        assert hashlib.md5(
            bytes(r.body) if r.body is not None else b""
        ).hexdigest() == t["body_md5"], t


def test_streaming_tls_clienthellos_cross_batch(spark, tmp_path):
    """streaming_tls_clienthellos: the GREASE'd flow's ClientHello
    spans the rotated-file cut and still emits exactly once with the
    spec JA3; the non-TLS flow on 443 never emits."""
    import os as _os

    from hadoop_pcap_spark.pcap import synth as S
    from hadoop_pcap_spark.sources import read_pcap_stream
    from hadoop_pcap_spark.streaming.stream import streaming_tls_clienthellos

    d = tmp_path / "rot"
    d.mkdir()
    for fi, blob in enumerate(S.tls_rotated_pcaps(2)):
        p = d / f"rot{fi}.pcap"
        p.write_bytes(blob)
        t = 1700000000 + fi * 10
        _os.utime(p, (t, t))
    pkts = read_pcap_stream(
        spark, str(d), strict_reference=False, max_files_per_trigger=1,
        columns=["file", "src", "dst", "src_port", "dst_port",
                 "protocol", "ts", "pkt_no", "payload"],
    )
    sink = str(tmp_path / "sink")
    q = (
        streaming_tls_clienthellos(pkts)
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = {r.client: r for r in spark.read.parquet(sink).collect()}
    truth = {t["client"]: t for t in S.tls_clienthello_truth()}
    assert set(rows) == set(truth)  # exactly once each; non-TLS absent
    for c, t in truth.items():
        r = rows[c]
        assert (r.sni, r.alpn, r.ja3, r.ja3_md5) == (
            t["sni"], t["alpn"], t["ja3"], t["ja3_md5"]), c


def test_streaming_dns_tcp_orders_rotated_files_by_ts_usec(spark, tmp_path):
    """Two rotated captures in ONE micro-batch: pkt_no restarts at 1 in
    each file, so same-second segments of one flow must be ordered by
    the sub-second timestamp.  Ordered by (ts, pkt_no) alone, the second
    file's response segment lands first, the flow frames garbage and
    the 20-answer response is silently lost."""
    import os

    from hadoop_pcap_spark.pcap import synth as S
    from hadoop_pcap_spark.sources import register_pcap_datasource

    register_pcap_datasource(spark)
    d = tmp_path / "rotcaps"
    os.makedirs(d)
    q_msg = S.dns_query(0x5151, "bigzone.example", 252)
    resp = S.dns_response(
        0x5151, "bigzone.example", 252,
        answers=[(f"h{i}.bigzone.example", 600, 1, S.a_rdata(f"10.2.{i}.1"))
                 for i in range(20)],
    )
    cli, srv, t = "192.0.2.10", "192.0.2.53", 1700000000
    (q_seg,) = S.dns_tcp_segments([q_msg], [2 + len(q_msg)])
    rs1, rs2 = S.dns_tcp_segments([resp], [120])
    (d / "a.pcap").write_bytes(
        S.global_header(1)
        + S.record(t, S.ethernet(S.ipv4(S.tcp(q_seg, 40000, 53), 6, cli, srv)),
                   ts_usec=100)
        + S.record(t, S.ethernet(S.ipv4(S.tcp(rs1, 53, 40000), 6, srv, cli)),
                   ts_usec=200000)
    )
    (d / "b.pcap").write_bytes(
        S.global_header(1)
        + S.record(t, S.ethernet(S.ipv4(S.tcp(rs2, 53, 40000), 6, srv, cli)),
                   ts_usec=300000)
    )
    stream = spark.readStream.format("pcap").option("path", str(d)).load()
    q = (
        STRM.streaming_dns_tcp_reassembly(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("tcp_rot_usec")
        .start()
    )
    try:
        q.processAllAvailable()
        # both files in one micro-batch
        assert [p["numInputRows"] for p in q.recentProgress
                if p["numInputRows"]] == [3]
        rows = spark.sql("SELECT * FROM tcp_rot_usec ORDER BY src").collect()
    finally:
        q.stop()
    assert [(r.src, r.msg_no, r.dns_queryid, r.dns_qr, r.n_segments)
            for r in rows] == [(cli, 1, 0x5151, False, 1),
                               (srv, 1, 0x5151, True, 2)]
    assert len(rows[1].dns_answer) == 20


def _l7_input(spark, rows):
    """A static packet frame in the pcap source's column types."""
    schema = (
        "src STRING, dst STRING, src_port INT, dst_port INT, protocol STRING, "
        "ts LONG, ts_usec LONG, pkt_no LONG, payload BINARY"
    )
    return spark.createDataFrame(
        [(s, d, sp, dp, "TCP", 1700000000, 0, i, b"x")
         for i, (s, d, sp, dp) in enumerate(rows, 1)],
        schema,
    )


def test_l7_conn_key_round_trip(spark):
    """The L7 operators' one string key (flows.l7_segments): canonical (HTTP/TLS)
    keys are direction-free with ``from_a`` marking the a-side, the
    directional (DNS) key keeps src first, a NULL port renders empty
    without shifting later fields, and IPv6 colons survive the parse."""
    v6a, v6b = "2001:db8::1", "2001:db8::2"
    rows = [
        (v6b, v6a, 50000, 443),        # IPv6, b-side sends first
        (v6a, v6b, 443, 50000),
        ("10.0.0.1", "10.0.0.2", None, 80),  # NULL port
        ("10.0.0.2", "10.0.0.1", 80, None),
        ("10.0.0.9", "10.0.0.9", 7, 7),  # self-connection
    ]
    pkts = _l7_input(spark, rows)
    canon = l7_segments(pkts, stream=True).orderBy("pkt_no").collect()
    assert [c.conn for c in canon] == [
        f"{v6a}|443|{v6b}|50000", f"{v6a}|443|{v6b}|50000",
        "10.0.0.1||10.0.0.2|80", "10.0.0.1||10.0.0.2|80",
        "10.0.0.9|7|10.0.0.9|7",
    ]
    assert [c.from_a for c in canon] == [False, True, True, False, True]
    assert [conn_endpoints(c.conn) for c in canon[1:4:2]] == [
        (v6a, 443, v6b, 50000), ("10.0.0.1", None, "10.0.0.2", 80),
    ]
    assert conn_endpoints(canon[4].conn) == ("10.0.0.9", 7, "10.0.0.9", 7)
    directed = l7_segments(pkts, directional=True, stream=True).orderBy("pkt_no")
    assert directed.columns == ["conn", "t_us", "pkt_no", "payload"]
    got = [conn_endpoints(c.conn) for c in directed.collect()]
    assert got == [(s, sp, d, dp) for s, d, sp, dp in rows]


def test_l7_segment_bytes_orders_by_time_then_pkt_no():
    """The Python half of the layout: chunks of one group are joined
    (flows.join_directions) in (t_us, pkt_no) order per direction, ties
    keep arrival order."""
    import pandas as pd

    def chunk(rows):
        return pd.DataFrame(rows, columns=["from_a", "t_us", "pkt_no", "payload"])

    first = chunk([(True, 20, 1, b"C"), (False, 10, 2, b"y")])
    second = chunk([(True, 10, 1, b"A"), (True, 10, 2, b"B"),
                    (False, 10, 1, b"x"), (True, 20, 1, b"D")])
    assert STRM._group_streams(iter([first, second])) == (b"ABCD", b"xy", 6)
    one_way = second.drop(columns="from_a")
    assert STRM._group_streams(iter([one_way])) == (b"AxBD", b"", 4)
    assert STRM._group_streams(iter([])) == (b"", b"", 0)

    # against the per-row loop it replaces (stable sort, then append)
    import random

    rng = random.Random(7)
    for _ in range(50):
        chunks = [
            chunk([(rng.random() < 0.5, rng.randrange(3), rng.randrange(3),
                    bytes([rng.randrange(256)]) * rng.randrange(1, 4))
                   for _ in range(rng.randrange(1, 6))])
            for _ in range(rng.randrange(1, 4))
        ]
        ref = pd.concat(chunks, ignore_index=True).sort_values(
            ["t_us", "pkt_no"], kind="stable")
        a = b = b""
        for _, row in ref.iterrows():
            if row["from_a"]:
                a += row["payload"]
            else:
                b += row["payload"]
        assert STRM._group_streams(iter(chunks)) == (a, b, len(ref))


def _stateful_pandas_nodes(df):
    """The FlatMapGroupsInPandasWithState nodes of a streaming frame's
    analyzed plan (a streaming plan cannot be optimized unstarted)."""
    out, todo = [], [df._jdf.queryExecution().analyzed()]
    while todo:
        node = todo.pop()
        if node.getClass().getSimpleName() == "FlatMapGroupsInPandasWithState":
            out.append(node)
        children = node.children()
        todo.extend(children.apply(i) for i in range(children.size()))
    return out


@pytest.mark.parametrize(
    "op, n_cols",
    [("streaming_http_objects", 5), ("streaming_tls_clienthellos", 5),
     ("streaming_dns_tcp_reassembly", 4)],
)
def test_l7_operators_send_narrow_layout(spark, tmp_path, op, n_cols):
    """Per-group Arrow → pandas conversion runs per column, so each L7
    operator groups by ONE key column and sends only the narrow layout
    (conn [, from_a], t_us, pkt_no, payload) to Python."""
    from hadoop_pcap_spark.sources import register_pcap_datasource

    register_pcap_datasource(spark)
    pkts = spark.readStream.format("pcap").option("path", str(tmp_path)).load()
    (node,) = _stateful_pandas_nodes(getattr(STRM, op)(pkts))
    assert node.groupingAttributes().size() == 1
    names = [a.name() for a in
             (node.child().output().apply(i)
              for i in range(node.child().output().size()))]
    expect = ["conn", "from_a", "t_us", "pkt_no", "payload"]
    assert names == [c for c in expect if n_cols == 5 or c != "from_a"]


def test_l7_checkpoint_from_four_column_key_refuses_to_resume(spark, tmp_path):
    """The key layout change is NOT resume-compatible: a checkpoint
    whose state was keyed by the four endpoint columns (a_ip, a_port,
    b_ip, b_port) must stop the one-key operator at start with Spark's
    state-schema error, delivering nothing — never resume silently
    against state it cannot look up."""
    import os as _os

    from pyspark.errors import StreamingQueryException

    from hadoop_pcap_spark.operators.flows import canonical_pair_exprs
    from hadoop_pcap_spark.pcap import synth as S
    from hadoop_pcap_spark.sources import read_pcap_stream

    d = tmp_path / "rot"
    d.mkdir()
    blobs = S.http_rotated_pcaps(3)

    def land(fi):
        p = d / f"rot{fi}.pcap"
        p.write_bytes(blobs[fi])
        t = 1700000000 + fi * 10
        _os.utime(p, (t, t))

    land(0)
    pkts = read_pcap_stream(
        spark, str(d), strict_reference=False, max_files_per_trigger=1,
        columns=["src", "dst", "src_port", "dst_port", "protocol", "ts",
                 "pkt_no", "payload"],
    )
    a_first, _src_ep, _dst_ep = canonical_pair_exprs()
    four_key = pkts.filter(
        (F.col("protocol") == "TCP") & F.col("payload").isNotNull()
    ).select(
        F.when(a_first, F.col("src")).otherwise(F.col("dst")).alias("a_ip"),
        F.when(a_first, F.col("src_port")).otherwise(F.col("dst_port"))
        .alias("a_port"),
        F.when(a_first, F.col("dst")).otherwise(F.col("src")).alias("b_ip"),
        F.when(a_first, F.col("dst_port")).otherwise(F.col("src_port"))
        .alias("b_port"),
        "src", "src_port", "ts", "pkt_no", "payload",
    )

    def keep_state(key, pdfs, state):
        for _ in pdfs:
            pass
        state.update((b"", b"", 0, 0, "[]"))
        return iter([])

    old = four_key.groupBy("a_ip", "a_port", "b_ip", "b_port") \
        .applyInPandasWithState(
            keep_state,
            outputStructType=STRM.HTTP_STREAM_OUTPUT,
            stateStructType=STRM.HTTP_STREAM_STATE,
            outputMode="append",
            timeoutConf="NoTimeout",
        )
    ckpt = str(tmp_path / "ckpt")
    delivered = []

    def run(df):
        return (
            df.writeStream.outputMode("append")
            .foreachBatch(lambda b, epoch: delivered.append((epoch, b.count())))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    run(old).awaitTermination()
    assert delivered == [(0, 0)]
    land(1)
    land(2)
    q = run(STRM.streaming_http_objects(pkts))
    with pytest.raises(StreamingQueryException,
                       match="STATE_STORE_KEY_SCHEMA_NOT_COMPATIBLE"):
        q.awaitTermination()
    assert delivered == [(0, 0)]
    assert sorted(
        f for f in _os.listdir(_os.path.join(ckpt, "commits"))
        if not f.startswith(".")
    ) == ["0"]


def test_streaming_http_objects_drops_a_desynchronized_direction(spark, tmp_path):
    """A response direction that desynchronizes in batch 1 (a start line
    that is not HTTP; a chunk size that is not hex) and keeps sending in
    batches 2-3 is dropped from state like the hot-flow guard, instead
    of being carried and re-parsed every micro-batch: after each batch
    the state holds at most that batch's bytes of it.  The objects it
    completed before the desync equal batch ``http_objects``, and the
    other connections' rows are unchanged."""
    import os as _os

    from hadoop_pcap_spark.operators.http import http_objects
    from hadoop_pcap_spark.pcap import synth as S
    from hadoop_pcap_spark.sources import read_pcap, read_pcap_stream
    from hadoop_pcap_spark.streaming.stream import streaming_http_objects

    def req(path):
        return f"GET {path} HTTP/1.1\r\nHost: d.example\r\n\r\n".encode()

    def resp(body):
        return (b"HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n"
                b"Content-Length: %d\r\n\r\n%s" % (len(body), body))

    # (client, server) -> per batch (request bytes, response bytes)
    desync = {
        ("10.9.0.1", "10.9.0.2"): [
            (req("/a") + req("/b"), resp(b"one") + b"SSH-2.0-junk\r\n" + b"x" * 40),
            (req("/c"), b"more junk\r\n" * 20),
            (b"", b"tail junk\r\n" * 30),
        ],
        ("10.9.0.3", "10.9.0.4"): [
            (req("/a") + req("/b"), resp(b"two") + b"HTTP/1.1 200 OK\r\n"
             b"Transfer-Encoding: chunked\r\n\r\n-5\r\nhello\r\n"),
            (b"", b"0\r\n\r\n" + b"y" * 300),
            (b"", b"z" * 500),
        ],
    }
    d = tmp_path / "rot"
    d.mkdir()
    for fi, blob in enumerate(S.http_rotated_pcaps(3)):
        recs = []
        for ci, ((cli, srv), batches) in enumerate(desync.items()):
            q, r = batches[fi]
            for k, (payload, src, dst, sp, dp) in enumerate(
                [(q, cli, srv, 41000 + ci, 80), (r, srv, cli, 80, 41000 + ci)]
            ):
                if payload:
                    frame = S.ethernet(S.ipv4(S.tcp(payload, sp, dp), 6, src, dst))
                    recs.append(S.record(1700000000 + fi * 10 + k, frame))
        p = d / f"rot{fi}.pcap"
        p.write_bytes(blob + b"".join(recs))
        t = 1700000000 + fi * 10
        _os.utime(p, (t, t))
    cols = ["file", "src", "dst", "src_port", "dst_port", "protocol", "ts",
            "pkt_no", "payload"]
    pkts = read_pcap_stream(
        spark, str(d), strict_reference=False, max_files_per_trigger=1,
        columns=cols,
    )
    sink, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")
    q = (
        streaming_http_objects(pkts)
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    for batch_id in range(3):
        state = spark.read.format("statestore").option("batchId", batch_id).load(ckpt)
        # a-side ip -> (a residual, b residual)
        resid = {
            r.key.conn.split("|")[0]: (r.value.groupState.a_resid,
                                       r.value.groupState.b_resid)
            for r in state.collect()
        }
        for (cli, srv), batches in desync.items():
            resp_res = resid[cli][1] if cli in resid else resid[srv][0]
            assert len(resp_res or b"") <= len(batches[batch_id][1]), (cli, batch_id)

    rows = spark.read.parquet(sink).collect()
    ours = {c for c, _ in desync}
    fields = ["client", "server", "server_port", "obj_no", "method", "url",
              "status", "content_type", "content_encoding", "chunked",
              "body_len", "body"]
    live = sorted(tuple(r[f] for f in fields) for r in rows if r.client in ours)
    whole = http_objects(read_pcap(spark, str(d), strict_reference=False, columns=cols))
    batch = [r for r in whole.collect() if r.client in ours]
    assert sorted(r.client for r in batch if r.body_truncated) == ["10.9.0.3"]
    assert live == sorted(
        tuple(r[f] for f in fields) for r in batch if not r.body_truncated
    )
    assert [r[3] for r in live] == [1, 1]
    truth = S.http_streaming_truth()
    others = [r for r in rows if r.client not in ours]
    assert len(others) == len(truth)
    got = {(r.client, r.server_port, r.obj_no): r for r in others}
    for t in truth:
        r = got[(t["client"], t["server_port"], t["obj_no"])]
        assert (r.method, r.url, r.status, r.body_len) == (
            t["method"], t["url"], t["status"], t["body_len"]), t


def test_streaming_http_objects_rules_out_a_non_http_connection(spark, tmp_path):
    """A TCP connection whose first bytes can open no HTTP message (a
    TLS-like exchange) is ruled out in the micro-batch that shows it
    and drained after: the ``statestore`` reader shows 0 residual
    bytes after each of 3 batches (the connection sends 1,003 + 2,003
    bytes per batch).  A connection that so far sent only a proper
    prefix of a method token or of ``HTTP/1.`` is kept and, once
    complete, emits; like batch ``http_objects``, the TLS-like
    connection yields no rows, and the rotated fixture's rows are
    unchanged."""
    import os as _os

    from hadoop_pcap_spark.operators.http import http_objects
    from hadoop_pcap_spark.pcap import synth as S
    from hadoop_pcap_spark.sources import read_pcap, read_pcap_stream
    from hadoop_pcap_spark.streaming.stream import streaming_http_objects

    tls_cli, tls_srv = "10.8.0.1", "10.8.0.2"
    req = b"GET /p HTTP/1.1\r\nHost: d.example\r\n\r\n"
    resp = b"HTTP/1.1 200 OK\r\nContent-Length: 2\r\n\r\nok"
    # (client, server, client port) -> per batch (client bytes, server bytes)
    conns = {
        (tls_cli, tls_srv, 42001): [
            (b"\x16\x03\x01" + bytes(1000), b"\x16\x03\x03" + bytes(2000)),
            (b"\x17\x03\x03" + bytes(1000), b"\x17\x03\x03" + bytes(2000)),
            (b"\x17\x03\x03" + bytes(1000), b"\x17\x03\x03" + bytes(2000)),
        ],
        ("10.8.0.3", "10.8.0.4", 42002): [
            (req[:2], resp[:5]),  # "GE" and "HTTP/": prefixes, not ruled out
            (req[2:], resp[5:]),
            (b"", b""),
        ],
    }
    d = tmp_path / "rot"
    d.mkdir()
    for fi, blob in enumerate(S.http_rotated_pcaps(3)):
        recs = []
        for (cli, srv, cport), batches in conns.items():
            q, r = batches[fi]
            for k, (payload, src, dst, sp, dp) in enumerate(
                [(q, cli, srv, cport, 443), (r, srv, cli, 443, cport)]
            ):
                if payload:
                    frame = S.ethernet(S.ipv4(S.tcp(payload, sp, dp), 6, src, dst))
                    recs.append(S.record(1700000000 + fi * 10 + k, frame))
        p = d / f"rot{fi}.pcap"
        p.write_bytes(blob + b"".join(recs))
        t = 1700000000 + fi * 10
        _os.utime(p, (t, t))
    cols = ["file", "src", "dst", "src_port", "dst_port", "protocol", "ts",
            "pkt_no", "payload"]
    pkts = read_pcap_stream(
        spark, str(d), strict_reference=False, max_files_per_trigger=1,
        columns=cols,
    )
    sink, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")
    q = (
        streaming_http_objects(pkts)
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    for batch_id in range(3):
        state = spark.read.format("statestore").option("batchId", batch_id).load(ckpt)
        tls = [r.value.groupState for r in state.collect()
               if set(r.key.conn.split("|")[::2]) == {tls_cli, tls_srv}]
        assert len(tls) == 1, batch_id
        g = tls[0]
        assert g.client_is_a == -1, batch_id
        assert len(g.a_resid or b"") + len(g.b_resid or b"") == 0, batch_id

    rows = spark.read.parquet(sink).collect()
    ours = {c for c, _s, _p in conns}
    fields = ["client", "server", "server_port", "obj_no", "method", "url",
              "status", "content_type", "content_encoding", "chunked",
              "body_len", "body"]
    whole = http_objects(read_pcap(spark, str(d), strict_reference=False, columns=cols))
    assert [r for r in rows if r.client == tls_cli] == []
    assert [r for r in whole.collect() if r.client == tls_cli] == []
    # the batch operator keys connections by file too, so only the live
    # operator sees the prefixed connection, which spans two files
    live = [tuple(r[f] for f in fields) for r in rows if r.client in ours]
    assert [(r[0], r[4], r[5], r[6], r[-1]) for r in live] == [
        ("10.8.0.3", "GET", "http://d.example/p", 200, b"ok")]
    truth = S.http_streaming_truth()
    others = [r for r in rows if r.client not in ours]
    assert len(others) == len(truth)
    got = {(r.client, r.server_port, r.obj_no): r for r in others}
    for t in truth:
        r = got[(t["client"], t["server_port"], t["obj_no"])]
        assert (r.method, r.url, r.status, r.body_len) == (
            t["method"], t["url"], t["status"], t["body_len"]), t
