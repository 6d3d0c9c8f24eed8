"""write_pcap sink + keep_frame read columns.

Round-trip contract: read_pcap(keep_frame=True) → filter → write_pcap
→ read_pcap yields the same decoded rows; an unfiltered single-file
single-partition round trip is byte-identical."""

import gzip
import os

import pytest
from pyspark.sql import functions as F

from hadoop_pcap_spark.pcap import synth as S
from hadoop_pcap_spark.sources import read_pcap, write_pcap


@pytest.fixture(scope="module")
def capture(tmp_path_factory):
    d = tmp_path_factory.mktemp("wp")
    raw = S.dns_exchange_pcap()
    (d / "a.pcap").write_bytes(raw)
    return str(d), raw


def test_keep_frame_columns_both_engines(spark, capture):
    """The columnar read path's keep_frame rows equal the scalar oracle
    kernel's, and the frames are the source file's record bytes."""
    from hadoop_pcap_spark.pcap import DecodeOptions, decode_pcap

    d, raw = capture
    df = read_pcap(spark, d, keep_frame=True)
    rows = df.orderBy("pkt_no").collect()
    assert len(rows) == 2
    for r in rows:
        assert r["frame"] is not None and len(r["frame"]) == r["size"]
        assert r["orig_len"] == len(r["frame"])  # synth: orig == incl
    # frame bytes are the exact record slices of the source file
    assert raw.find(bytes(rows[0]["frame"])) > 0
    names = df.columns[1:]  # all but `file`
    oracle = [
        tuple(pkt.get(n) for n in names)
        for pkt in decode_pcap(raw, "a.pcap", DecodeOptions(keep_frame=True))
    ]
    assert [tuple(r)[1:] for r in rows] == oracle


def test_default_schema_has_no_frame(spark, capture):
    d, _ = capture
    cols = read_pcap(spark, d).columns
    assert "frame" not in cols and "orig_len" not in cols
    # columns= can request it without keep_frame
    pruned = read_pcap(spark, d, columns=["pkt_no", "frame"])
    assert pruned.columns == ["pkt_no", "frame"]
    assert all(r["frame"] is not None for r in pruned.collect())


def test_unfiltered_roundtrip_byte_identical(spark, capture, tmp_path):
    d, raw = capture
    out = str(tmp_path / "out")
    files = write_pcap(read_pcap(spark, d, keep_frame=True), out)
    assert [n for _, n in files] == [2]
    assert open(files[0][0], "rb").read() == raw


def test_filtered_roundtrip_decodes_equal(spark, capture, tmp_path):
    d, _ = capture
    out = str(tmp_path / "filtered")
    src = read_pcap(spark, d, keep_frame=True).filter(F.col("src_port") == 53)
    files = write_pcap(src, out)
    assert sum(n for _, n in files) == 1
    back = read_pcap(spark, out, decoder="dns").collect()
    assert len(back) == 1
    r = back[0]
    assert r["src_port"] == 53 and r["dns_qname"] == "ripe.net."


def test_gz_input_roundtrips(spark, tmp_path):
    raw = S.dns_exchange_pcap()
    src_dir = tmp_path / "src"
    src_dir.mkdir()
    (src_dir / "c.pcap.gz").write_bytes(gzip.compress(raw))
    out = str(tmp_path / "out")
    files = write_pcap(read_pcap(spark, str(src_dir), keep_frame=True), out)
    assert open(files[0][0], "rb").read() == raw  # decompressed round trip


def test_truncated_tail_row_skipped(spark, tmp_path):
    frame = S.ethernet(S.ipv4(S.udp(b"x", 1000, 2000, "1.2.3.4", "5.6.7.8"),
                              17, "1.2.3.4", "5.6.7.8"))
    raw = S.global_header(1) + S.record(1700000000, frame)
    raw += S.record(1700000001, frame)[:20]  # truncated tail record
    src_dir = tmp_path / "src"
    src_dir.mkdir()
    (src_dir / "t.pcap").write_bytes(raw)
    df = read_pcap(spark, str(src_dir), keep_frame=True)
    assert df.count() == 2  # ts-only tail row decoded
    out = str(tmp_path / "out")
    files = write_pcap(df, out)
    assert [n for _, n in files] == [1]  # NULL-frame row skipped
    assert read_pcap(spark, out).count() == 1


def test_datasource_keepframe_option(spark, capture):
    from hadoop_pcap_spark.sources import register_pcap_datasource

    d, raw = capture
    register_pcap_datasource(spark)
    df = spark.read.format("pcap").option("keepframe", "true").load(d)
    assert "frame" in df.columns and "orig_len" in df.columns
    rows = df.orderBy("pkt_no").collect()
    assert all(len(r["frame"]) == r["size"] for r in rows)
    # columns= option can also request frame directly
    pruned = (
        spark.read.format("pcap")
        .option("columns", "pkt_no,frame")
        .load(d)
    )
    assert pruned.columns == ["pkt_no", "frame"]
    assert all(r["frame"] is not None for r in pruned.collect())


def test_write_pcap_requires_frame(spark, capture):
    d, _ = capture
    with pytest.raises(ValueError, match="keep_frame"):
        write_pcap(read_pcap(spark, d), "/tmp/never-written")


def test_multi_partition_part_files(spark, tmp_path):
    frames = [
        S.ethernet(S.ipv4(S.udp(b"p", 1000 + i, 53, "10.0.0.1", "10.0.0.2"),
                          17, "10.0.0.1", "10.0.0.2"))
        for i in range(6)
    ]
    src_dir = tmp_path / "src"
    src_dir.mkdir()
    for fi in range(2):  # 2 files → 2 read partitions → 2 part files
        data = S.global_header(1) + b"".join(
            S.record(1700000000 + i, f) for i, f in enumerate(frames[fi * 3:(fi + 1) * 3]))
        (src_dir / f"f{fi}.pcap").write_bytes(data)
    out = str(tmp_path / "out")
    files = write_pcap(read_pcap(spark, str(src_dir), keep_frame=True), out)
    assert len(files) == 2 and all(n == 3 for _, n in files)
    assert {os.path.basename(f) for f, _ in files} == {
        os.path.basename(f) for f in
        (os.path.join(out, x) for x in os.listdir(out))
    }
    back = read_pcap(spark, out)
    assert back.count() == 6
    assert {r["src_port"] for r in back.collect()} == {1000 + i for i in range(6)}
