"""Spark-level tests of the pcap sources (read_pcap + DataSource V2).

The canonical end-to-end slice is the reference README's group-by-count
job: SELECT src_port, count(*) FROM pcaps GROUP BY src_port with null
ports dropped (hadoop-pcap-lib/README.md:20-81)."""

import gzip
import os

import pytest

from pyspark.sql import functions as F

from hadoop_pcap_spark.pcap import synth as S
from hadoop_pcap_spark.sources import (
    DNS_PACKET_SCHEMA,
    read_pcap,
    register_pcap_datasource,
)

REF_FIXTURE = "/root/reference/hadoop-pcap-lib/src/test/resources/test.pcap"


@pytest.fixture(scope="module")
def pcap_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("caps")
    raw = S.dns_exchange_pcap()
    (d / "a.pcap").write_bytes(raw)
    (d / "b.pcap.gz").write_bytes(gzip.compress(raw))
    return str(d)


def test_read_pcap_schema_and_rows(spark, pcap_dir):
    df = read_pcap(spark, pcap_dir, decoder="dns")
    assert df.schema == DNS_PACKET_SCHEMA
    rows = df.orderBy("file", "pkt_no").collect()
    assert len(rows) == 4  # 2 packets × 2 files (one gzip'd)
    q = rows[0]
    assert q.pkt_no == 1 and q.ts == 1317993942
    assert q.src == "193.0.10.82" and q.dst_port == 53
    assert q.dns_qname == "ripe.net." and q.dns_qr is False
    r = rows[1]
    assert len(r.dns_answer) == 13
    assert r.dns_answer[0] == "ripe.net. 3600 IN NS a.gtld-servers.net."
    assert q.file.endswith("a.pcap") and rows[2].file.endswith("b.pcap.gz")


def test_canonical_groupby_count(spark, pcap_dir):
    """The reference README's MapReduce job, as one DataFrame line."""
    df = read_pcap(spark, pcap_dir)
    out = {
        row.src_port: row.n
        for row in (
            df.filter(F.col("src_port").isNotNull())
            .groupBy("src_port")
            .agg(F.count("*").alias("n"))
            .collect()
        )
    }
    assert out == {52938: 2, 53: 2}


def test_missing_column_projection_is_null(spark, pcap_dir):
    """Hive SerDe semantics: a declared column absent from the decode →
    NULL (PcapDeserializer.java:50-60). dns_* on non-DNS decode and
    payload_len on IPv4 packets are the natural NULL columns."""
    df = read_pcap(spark, pcap_dir)  # ip decoder: no dns columns decoded
    assert "dns_qname" not in df.columns
    vals = df.select("payload_len", "frag").distinct().collect()
    assert all(v.payload_len is None and v.frag is None for v in vals)


def test_column_pruning_into_decoder(spark, pcap_dir):
    df = read_pcap(spark, pcap_dir, columns=["file", "ts", "src", "dst"])
    assert df.columns == ["file", "ts", "src", "dst"]
    assert df.count() == 4


def test_md5_dedup_motif(spark, pcap_dir):
    """The reference's stated MD5 purpose: find duplicate packets
    (PcapReader.java:183). a.pcap and b.pcap.gz hold identical packets."""
    df = read_pcap(spark, pcap_dir, calculate_md5=True)
    assert df.count() == 4
    assert df.dropDuplicates(["md5"]).count() == 2


def test_datasource_v2_format(spark, pcap_dir):
    register_pcap_datasource(spark)
    df = (
        spark.read.format("pcap")
        .option("decoder", "dns")
        .load(os.path.join(pcap_dir, "a.pcap"))
    )
    rows = df.orderBy("pkt_no").collect()
    assert len(rows) == 2
    assert rows[0].dns_qname == "ripe.net."
    assert rows[1].dns_qr is True


def test_sql_surface_via_view(spark, pcap_dir):
    """SQL over pcaps — the Hive-DDL analog. (Note: CREATE TABLE USING a
    *Python* datasource loses OPTIONS at read time in PySpark 4.1 — the
    reader() instance receives empty options — so the supported SQL
    path is a temp view over read_pcap()/format('pcap').load().)"""
    read_pcap(spark, os.path.join(pcap_dir, "a.pcap"), decoder="dns").createOrReplaceTempView(
        "pcaps_sql"
    )
    out = spark.sql(
        "SELECT src_port, count(*) AS n FROM pcaps_sql "
        "WHERE src_port IS NOT NULL GROUP BY src_port ORDER BY src_port"
    ).collect()
    assert [(r.src_port, r.n) for r in out] == [(53, 1), (52938, 1)]


@pytest.mark.skipif(not os.path.exists(REF_FIXTURE), reason="reference fixture absent")
def test_read_reference_fixture_via_spark(spark):
    df = read_pcap(spark, REF_FIXTURE, decoder="dns", calculate_md5=True)
    rows = df.orderBy("pkt_no").collect()
    assert len(rows) == 2
    assert rows[0].dns_qname == "ripe.net."
    assert len(rows[1].dns_authority) == 13


def test_write_packets_parquet_roundtrip(spark, pcap_dir, tmp_path):
    """decode-once → date-partitioned parquet → read back: the 100 TB
    ETL pattern (write_packets_parquet)."""
    from hadoop_pcap_spark.sources import write_packets_parquet

    out = str(tmp_path / "packets_pq")
    df = read_pcap(spark, pcap_dir, decoder="dns", calculate_md5=True)
    write_packets_parquet(df, out)

    back = spark.read.parquet(out)
    assert back.count() == df.count() == 4
    # partition column derived from ts (2011-10-07 fixture date)
    assert "capture_date" in back.columns
    dates = [str(r.capture_date) for r in back.select("capture_date").distinct().collect()]
    assert dates == ["2011-10-07"]
    # partition pruning: a date predicate must prune, not scan-and-filter
    pruned = back.filter(F.col("capture_date") == "1999-01-01")
    assert pruned.count() == 0
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan or pruned.rdd.getNumPartitions() <= 1
    # values survive the round trip, incl. arrays and binary
    a = df.orderBy("file", "pkt_no").collect()
    b = back.drop("capture_date").orderBy("file", "pkt_no").collect()
    assert [r.dns_answer for r in a] == [r.dns_answer for r in b]
    assert [r.payload for r in a] == [r.payload for r in b]
    assert [r.md5 for r in a] == [r.md5 for r in b]


def test_engines_identical(spark, pcap_dir):
    """read_pcap (columnar kernel) must emit exactly the rows the
    scalar oracle kernel builds, for both decoders."""
    from hadoop_pcap_spark.pcap import DecodeOptions, decode_pcap
    from hadoop_pcap_spark.sources import packet_schema

    for decoder in ("ip", "dns"):
        names = packet_schema(decoder).fieldNames()
        got = sorted(
            (os.path.basename(r["file"]),) + tuple(r)[1:]
            for r in read_pcap(
                spark, pcap_dir, decoder=decoder, calculate_md5=True
            ).collect()
        )
        opts = DecodeOptions(decoder=decoder, calculate_md5=True)
        want = sorted(
            (name,) + tuple(pkt.get(n) for n in names[1:])
            for name in os.listdir(pcap_dir)
            for pkt in decode_pcap(
                open(os.path.join(pcap_dir, name), "rb").read(), name, opts
            )
        )
        assert names[0] == "file" and len(got) == 4
        assert got == want


def _planned_paths(reader) -> list:
    return sorted(split[0] for part in reader.partitions() for split in part.splits)


def test_datasource_file_filter_pushdown(spark, pcap_dir):
    """file-column predicates prune whole files at the source (the
    pcap partition-pruning analog; double-opt-in: session conf +
    .option('pushdown')) and results stay correct."""
    from pyspark.sql.datasource import EqualTo, GreaterThan, StringContains
    from hadoop_pcap_spark.sources.datasource import (
        PcapDataSourceReader, PcapPushdownReader)
    from hadoop_pcap_spark.sources.pcap_source import packet_schema

    # unit: pushFilters absorbs file predicates, yields the rest back
    rdr = PcapPushdownReader(packet_schema("ip"), {"path": pcap_dir})
    a_path = os.path.join(pcap_dir, "a.pcap")
    leftover = list(rdr.pushFilters([EqualTo(("file",), a_path),
                                     GreaterThan(("ts",), 0)]))
    assert [type(f).__name__ for f in leftover] == ["GreaterThan"]
    assert _planned_paths(rdr) == [a_path]
    rdr2 = PcapPushdownReader(packet_schema("ip"), {"path": pcap_dir})
    assert list(rdr2.pushFilters([StringContains(("file",), "b.pcap")])) == []
    assert [os.path.basename(p) for p in _planned_paths(rdr2)] == ["b.pcap.gz"]
    # In filter: PySpark names the tuple field .value (regression:
    # .values raised AttributeError after the filter was absorbed)
    from pyspark.sql.datasource import In
    rdr3 = PcapPushdownReader(packet_schema("ip"), {"path": pcap_dir})
    assert list(rdr3.pushFilters([In(("file",), (a_path, "/nope"))])) == []
    assert _planned_paths(rdr3) == [a_path]
    # plain reader has no pushFilters of its own -> never triggers
    # Spark's pushdown-disabled error
    assert "pushFilters" not in PcapDataSourceReader.__dict__

    # end-to-end: conf + option -> file pruned at planning time
    from hadoop_pcap_spark.sources import register_pcap_datasource
    register_pcap_datasource(spark)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    try:
        df = spark.read.format("pcap").option("pushdown", "true").load(pcap_dir)
        flt = df.filter(F.col("file") == a_path)
        rows = flt.select("file", "pkt_no").collect()
        assert len(rows) == 2 and all(r.file == a_path for r in rows)
        assert flt.rdd.getNumPartitions() == 1  # other files pruned
        plan = flt._jdf.queryExecution().executedPlan().toString()
        assert ") Filter " not in plan  # no Filter operator: fully absorbed
    finally:
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "false")


def test_datasource_columns_option_prunes_schema_and_matches(spark, pcap_dir):
    """`columns` option pushes projection into the decode kernel (the
    DSv2 analog of read_pcap(columns=...); VERDICT r2 item 3)."""
    register_pcap_datasource(spark)
    pruned = (
        spark.read.format("pcap")
        .option("decoder", "dns")
        .option("columns", "file, ts, src, dst, dns_qname")
        .load(pcap_dir)
    )
    assert pruned.columns == ["file", "ts", "src", "dst", "dns_qname"]
    full = (
        spark.read.format("pcap")
        .option("decoder", "dns")
        .load(pcap_dir)
        .select("file", "ts", "src", "dst", "dns_qname")
    )
    assert sorted(map(tuple, pruned.collect())) == sorted(map(tuple, full.collect()))


def test_datasource_user_schema_prunes(spark, pcap_dir):
    from hadoop_pcap_spark.sources.pcap_source import packet_schema

    sub = packet_schema("ip", ["file", "pkt_no", "src_port", "dst_port"])
    df = spark.read.format("pcap").schema(sub).load(pcap_dir)
    assert df.columns == ["file", "pkt_no", "src_port", "dst_port"]
    full = (
        spark.read.format("pcap")
        .load(pcap_dir)
        .select("file", "pkt_no", "src_port", "dst_port")
    )
    assert sorted(map(tuple, df.collect())) == sorted(map(tuple, full.collect()))


def test_datasource_pruning_reaches_decoder_opts():
    """Pruned schema must translate to DecodeOptions.wanted so the
    kernels skip md5/DNS/payload work (not compute-then-drop)."""
    from hadoop_pcap_spark.pcap.decode import DecodeOptions
    from hadoop_pcap_spark.pcap.decode_np import decode_pcap_columnar
    from hadoop_pcap_spark.sources.datasource import _options_plan
    from hadoop_pcap_spark.sources.pcap_source import packet_schema

    assert _options_plan({"decoder": "dns"}, packet_schema("dns"))[1].wanted is None
    sub = packet_schema("dns", ["file", "ts", "src"])
    opts = _options_plan({"decoder": "dns", "calculatemd5": "true"}, sub)[1]
    assert opts.wanted == {"file", "ts", "src"}
    # and the kernel observably skips the pruned work
    res = decode_pcap_columnar(
        S.dns_exchange_pcap(), opts=DecodeOptions(
            decoder="dns", calculate_md5=True, wanted={"file", "ts", "src"}
        ),
    )
    assert res.emit_payload is False  # payload never gathered
    assert all(v is None for v in res.objects["md5"])  # md5 never hashed
    assert all(v is None for v in res.objects["dns_qname"])  # DNS not parsed


def test_datasource_options_share_read_pcaps_decode_policy():
    """``format("pcap")`` options go through read_pcap's policy
    (``_decode_plan``), so an opt-in column outside the default schema
    (``tcp_seq``) reaches the decoder as ``wanted`` — the DataSource's
    own derivation left ``wanted`` None and rendered it NULL."""
    import pyarrow as pa

    from hadoop_pcap_spark.sources.datasource import _options_plan
    from hadoop_pcap_spark.sources.pcap_source import (
        _decode_plan,
        decode_files_to_arrow_columnar,
        packet_schema,
    )

    schema, opts = _options_plan({"columns": "pkt_no, tcp_seq", "strictreference": "false"})
    assert (schema, opts) == _decode_plan(
        "ip", ["pkt_no", "tcp_seq"], False, False, True, False, "FAILFAST"
    )
    assert schema.fieldNames() == ["pkt_no", "tcp_seq"]
    assert opts.wanted == {"pkt_no", "tcp_seq"}
    data = S.global_header() + S.record(
        1, S.ethernet(S.ipv4(S.tcp(b"x", 1, 2), 6, "10.0.0.1", "10.0.0.2"))
    )
    got = pa.Table.from_batches(
        decode_files_to_arrow_columnar([("t", data)], schema, opts)
    )
    assert got.column("tcp_seq").null_count == 0
    # the full default schema stays an unpruned decode
    _full, full_opts = _options_plan({"decoder": "dns"}, packet_schema("dns", keep_frame=True))
    assert full_opts.wanted is None and full_opts.keep_frame


def test_sql_front_door(spark):
    """The reference's Hive-QL workflow, re-homed: a packets view over
    a capture + warehouse views, queried purely via spark.sql."""
    from hadoop_pcap_spark.plans.pcap_queries import fixture_dir
    from hadoop_pcap_spark.sql import register_packets_view, register_warehouse_views

    register_packets_view(spark, fixture_dir(), decoder="dns")
    got = spark.sql(
        """SELECT dns_qname, count(*) AS n FROM packets
           WHERE dst_port = 53 AND dns_qname IS NOT NULL
           GROUP BY dns_qname"""
    ).collect()
    assert [(r.dns_qname, r.n) for r in got] == [("ripe.net.", 2)]

    register_warehouse_views(spark, "/root/testdata/sf0.001")
    n = spark.sql(
        "SELECT count(*) AS n FROM lineitem JOIN orders ON l_orderkey = o_orderkey"
    ).collect()[0].n
    assert n > 0


def test_etl_write_sorts_rows_within_files(spark, tmp_path):
    """The decode→parquet ETL must produce ts-sorted files (tight
    row-group min/max stats).  Regression for the V1Writes trap: a
    bare sortWithinPartitions(ts) before partitionBy is eliminated
    by Spark's own partition-column sort; sorting (partition, ts)
    survives."""
    import glob as _glob

    import pyarrow.parquet as pq

    from hadoop_pcap_spark.sources.pcap_source import write_packets_parquet

    df = spark.range(2000).selectExpr(
        "cast(id % 7 as long) * 86400 + 1700000000 - id as ts", "id as pkt"
    )
    out = str(tmp_path / "pq")
    write_packets_parquet(df.repartition(4), out)
    files = _glob.glob(f"{out}/capture_date=*/*.parquet")
    assert files
    for f in files:
        ts = pq.read_table(f, columns=["ts"]).column("ts").to_pylist()
        assert ts == sorted(ts), f"unsorted ts in {f}"


def test_read_pcap_stream_equals_batch(spark):
    """Streaming capture ingestion (read_pcap_stream) is row-identical
    to the batch reader over the same files — one file per
    micro-batch, so discovery/batching really happens."""
    import uuid

    from hadoop_pcap_spark.plans.pcap_queries import fixture_dir
    from hadoop_pcap_spark.sources import read_pcap, read_pcap_stream

    d = fixture_dir()
    name = "t_pcap_stream_" + uuid.uuid4().hex[:8]
    q = (
        read_pcap_stream(spark, d, calculate_md5=True, max_files_per_trigger=1)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    def key(r):
        return (r["file"], r["pkt_no"])

    got = sorted((r.asDict() for r in spark.table(name).collect()), key=key)
    spark.catalog.dropTempView(name)
    exp = sorted(
        (r.asDict() for r in read_pcap(spark, d, calculate_md5=True).collect()),
        key=key,
    )
    assert len(exp) > 0
    assert got == exp


def test_read_pcap_stream_argument_guards(spark, tmp_path):
    from hadoop_pcap_spark.sources import read_pcap_stream

    with pytest.raises(ValueError, match="streamed chunked path"):
        read_pcap_stream(spark, str(tmp_path), chunk_bytes=0)


def test_every_door_lists_the_same_files(spark, tmp_path):
    """read_pcap, format("pcap"), readStream.format("pcap") and
    read_pcap_stream read the same files of a directory and give each
    the same ``file`` value, its plain path: top-level captures only
    (no recursion into a subdirectory), ``_``/``.``-hidden names and
    empty files left out, and a glob (``path_glob``, or one in the
    path) matching leaf names."""
    from hadoop_pcap_spark.sources import read_pcap_stream

    register_pcap_datasource(spark)
    d = tmp_path / "doors"
    (d / "sub").mkdir(parents=True)
    for name in ("a.pcap", "b.pcap", "x.cap", "sub/c.pcap", "_h.pcap", ".h.pcap"):
        (d / name).write_bytes(S.dns_exchange_pcap())
    (d / "empty.pcap").write_bytes(b"")

    def files(df):
        return {r["file"]: r["count"] for r in df.groupBy("file").count().collect()}

    def streamed(df, name):
        q = df.writeStream.format("memory").queryName(name).trigger(availableNow=True).start()
        try:
            q.awaitTermination()
            return files(spark.table(name))
        finally:
            q.stop()
            spark.catalog.dropTempView(name)

    matching = {str(d / "a.pcap"): 2, str(d / "b.pcap"): 2}
    every = {**matching, str(d / "x.cap"): 2}
    glob = str(d / "*.pcap")
    assert files(read_pcap(spark, str(d), path_glob="*.pcap")) == matching
    assert files(spark.read.format("pcap").load(glob)) == matching
    assert streamed(spark.readStream.format("pcap").load(glob), "doors_ds") == matching
    assert streamed(read_pcap_stream(spark, str(d), path_glob="*.pcap"), "doors_fs") == matching
    assert files(read_pcap(spark, str(d))) == every
    assert files(spark.read.format("pcap").load(str(d))) == every
    assert streamed(spark.readStream.format("pcap").load(str(d)), "doors_ds_all") == every
    assert streamed(read_pcap_stream(spark, str(d)), "doors_fs_all") == every
    # a listing that matches nothing reads as no rows
    assert files(read_pcap(spark, str(d), path_glob="*.pcapng")) == {}
    assert files(spark.read.format("pcap").load(str(d / "*.pcapng"))) == {}


def test_dsv2_mixed_link_pcapng_nonstrict(spark, tmp_path):
    """The format('pcap') front door decodes a mixed-link pcapng
    (EN10MB + SLL interfaces, the tcpdump -i any merge) completely in
    non-strict mode — per-packet link dispatch reaches the DSv2 path,
    not just the read_pcap helper (r12)."""
    from hadoop_pcap_spark.pcap import synth as S
    from hadoop_pcap_spark.sources import register_pcap_datasource

    register_pcap_datasource(spark)
    (tmp_path / "m.pcapng").write_bytes(S.mixed_link_pcapng())
    df = (
        spark.read.format("pcap")
        .option("strictReference", "false")
        .load(str(tmp_path))
    )
    rows = df.select("pkt_no", "src", "ether_type").orderBy("pkt_no").collect()
    intents = [m for _ifid, _f, m in S.mixed_link_frames()]
    assert len(rows) == len(intents)
    assert [r.src for r in rows] == [m["src"] for m in intents]
    assert [r.ether_type for r in rows] == [m["ether_type"] for m in intents]
    # strict mode keeps the reference's reject-pcapng parity:
    # FAILFAST (the default) raises; PERMISSIVE yields zero rows
    from pyspark.errors import PythonException

    with pytest.raises(PythonException, match="PCAP"):
        spark.read.format("pcap").load(str(tmp_path)).count()
    permissive = (
        spark.read.format("pcap")
        .option("mode", "PERMISSIVE")
        .load(str(tmp_path))
    )
    assert permissive.count() == 0


def test_decode_frames_column_matches_file_path(spark, tmp_path):
    """decode_frames (packets as DataFrame rows, no files) renders
    every column identically to read_pcap over the same frames packed
    into a capture file; ts fractional parts become ts_usec; NULL
    frames are skipped; pkt_no is a per-partition running ordinal."""
    from pyspark.sql import functions as F

    from hadoop_pcap_spark.pcap import synth as S
    from hadoop_pcap_spark.sources import decode_frames, read_pcap

    frames = [f for f, _m in S.http_exchange_frames()]
    tss = [1470000000 + i + (i % 4) * 0.25 for i in range(len(frames))]
    # within 0.5 µs below a whole second: rounds up into the next second
    frames.append(frames[0])
    tss.append(1470000000.9999996)
    p = tmp_path / "ref.pcap"
    p.write_bytes(
        S.global_header(1)
        + b"".join(
            S.record(sec, f, ts_usec=usec)
            for f, (sec, usec) in zip(
                frames, (divmod(round(t * 1e6), 1_000_000) for t in tss)
            )
        )
    )
    via_file = read_pcap(spark, str(tmp_path)).drop("file").orderBy("pkt_no")

    rows = [(float(t), bytearray(f)) for t, f in zip(tss, frames)]
    rows.insert(3, (0.0, None))  # a NULL frame: skipped, not an error
    df = spark.createDataFrame(rows, "arrival double, frame binary").coalesce(1)
    via_col = (
        decode_frames(df, "frame", ts_col="arrival")
        .drop("file")
        .orderBy("pkt_no")
    )
    a, b = via_file.collect(), via_col.collect()
    assert len(a) == len(b) == len(frames)
    for ra, rb in zip(a, b):
        assert ra == rb, (ra, rb)
    assert (b[-1].ts, b[-1].ts_usec) == (1470000001, 0)


def test_decode_frames_streaming_smoke(spark, tmp_path):
    """decode_frames on a STREAMING DataFrame: frames arriving as
    parquet-file micro-batches decode to the same per-protocol counts
    as the batch path — the live message-bus shape."""
    from pyspark.sql import functions as F

    from hadoop_pcap_spark.pcap import synth as S
    from hadoop_pcap_spark.sources import decode_frames

    q = S.dns_query(7, "example.com")
    frames = [
        S.ethernet(S.ipv4(S.udp(q, 5353, 53, "10.0.0.1", "10.0.0.2"), 17,
                          "10.0.0.1", "10.0.0.2")),
        S.ethernet(S.ipv4(S.tcp(b"x" * 64, 40000, 443), 6,
                          "10.0.0.3", "10.0.0.4")),
    ]
    rows = [(float(1700000000 + i), bytearray(frames[i % 2])) for i in range(40)]
    src_dir = str(tmp_path / "incoming")
    spark.createDataFrame(rows, "arrival double, frame binary").repartition(
        2
    ).write.parquet(src_dir)
    stream = spark.readStream.schema("arrival double, frame binary").option(
        "maxFilesPerTrigger", 1
    ).parquet(src_dir)
    agg = (
        decode_frames(stream, "frame", ts_col="arrival")
        .groupBy("protocol")
        .agg(F.count("*").alias("n"))
    )
    name = "decode_frames_stream_smoke"
    qh = (
        agg.writeStream.outputMode("complete").format("memory")
        .queryName(name).trigger(availableNow=True).start()
    )
    qh.awaitTermination()
    got = {r.protocol: r.n for r in spark.table(name).collect()}
    spark.catalog.dropTempView(name)
    assert got == {"UDP": 20, "TCP": 20}


def test_sources_never_reach_scalar_kernel():
    """One decode kernel behind every Spark ingest path: no module
    under hadoop_pcap_spark/sources/ imports or names the scalar
    per-packet ``decode_pcap`` (kept as the test oracle and for the
    dump CLI only)."""
    import ast
    import pathlib

    import hadoop_pcap_spark.sources as sources_pkg

    root = pathlib.Path(sources_pkg.__file__).parent
    modules = sorted(root.glob("*.py"))
    assert {m.name for m in modules} >= {"pcap_source.py", "datasource.py"}
    offenders = []
    for mod in modules:
        for node in ast.walk(ast.parse(mod.read_text(), str(mod))):
            names = []
            if isinstance(node, (ast.Import, ast.ImportFrom)):
                names = [a.name.rsplit(".", 1)[-1] for a in node.names]
            elif isinstance(node, ast.Name):
                names = [node.id]
            elif isinstance(node, ast.Attribute):
                names = [node.attr]
            if "decode_pcap" in names:
                offenders.append(f"{mod.name}:{node.lineno}")
    assert offenders == []


def _v6_vlan_pcap() -> bytes:
    """Tagged and untagged IPv4/IPv6, an IPv6 extension chain, ARP and a
    runt frame: every branch that renders ether_type or address text."""
    recs = []
    for i in range(24):
        vlan = 10 + i if i % 3 == 0 else None
        if i % 4 == 0:
            pkt = S.ethernet(S.ipv6(S.udp(b"v6" * i, 5000 + i, 53), 17,
                                    "2001:db8::%x" % i, "fe80::1"),
                             ethertype=0x86DD, vlan=vlan)
        elif i % 4 == 1:
            pkt = S.ethernet(S.ipv6(S.tcp(b"x" * i, 443, 40000 + i), 6,
                                    "::1", "2001:db8::99",
                                    ext_headers=[(44, S.fragment_ext())]),
                             ethertype=0x86DD, vlan=vlan)
        elif i % 4 == 2:
            pkt = S.ethernet(S.ipv4(S.tcp(b"y" * i, 80, 30000 + i), 6,
                                    "10.0.0.%d" % i, "10.0.1.1"), vlan=vlan)
        else:
            pkt = S.ethernet(b"\x00" * 28, ethertype=0x0806, vlan=vlan)
        recs.append(S.record(1500000000 + i, pkt, ts_usec=i))
    recs.append(S.record(1500000100, b"\x02\x00\x00"))
    return S.global_header() + b"".join(recs)


@pytest.mark.parametrize("strict", [True, False])
@pytest.mark.parametrize(
    "decoder,columns",
    [
        ("ip", ["protocol", "dst_port", "size"]),
        ("dns", ["dns_qname"]),
        ("ip", ["md5"]),
        ("ip", ["src", "dst"]),
        ("ip", ["ether_type", "ts"]),
        ("ip", ["dst", "payload"]),
        ("dns", ["src", "protocol", "dns_qname", "dns_answer"]),
    ],
)
def test_projected_decode_equals_unprojected_columns(decoder, columns, strict):
    """A ``columns=`` read skips rendering what it did not select, and
    every column it did select equals that column of the full read."""
    import pyarrow as pa

    from hadoop_pcap_spark.sources.pcap_source import (
        _decode_plan,
        decode_files_to_arrow_columnar,
    )

    files = [
        ("dns.pcap", S.dns_exchange_pcap()),
        ("dns_tcp.pcap", S.dns_tcp_exchange_pcap()),
        ("http.pcap", S.http_exchange_pcap()),
        ("analytics.pcap", S.analytics_pcap()),
        ("v4frag.pcap", S.v4frag_pcap()),
        ("v6_vlan.pcap", _v6_vlan_pcap()),
    ]
    if not strict:
        files.append(("sll.pcap", S.sll_pcap()))  # strict rejects link 113
    if os.path.exists(REF_FIXTURE):
        with open(REF_FIXTURE, "rb") as f:
            files.append(("ref.pcap", f.read()))

    def read(cols):
        schema, opts = _decode_plan(
            decoder, cols, keep_frame=False, calculate_md5="md5" in columns,
            keep_payload=True, strict_reference=strict, mode="FAILFAST",
        )
        return pa.Table.from_batches(
            list(decode_files_to_arrow_columnar(files, schema, opts))
        )

    full = read(None)
    projected = read(columns)
    assert sorted(projected.column_names) == sorted(columns)
    assert full.num_rows > 100
    assert projected.equals(full.select(projected.column_names))
