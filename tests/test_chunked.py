"""Bounded-memory chunked ingestion (pcap/chunked.py).

The contract under test: chunked decode is byte-identical to
whole-file decode (rows, ordering, pkt_no, truncated-tail semantics)
at ANY chunk size, for both kernels, all magic variants, and through
streaming decompression — while holding peak memory at
O(chunk_bytes + max_record), the reference's DataInputStream property
(PcapReader.java:67,75-77,167-181)."""

from __future__ import annotations

import gzip
import io
import os
import shutil
import struct
import subprocess
import sys

import pytest

from hadoop_pcap_spark.pcap import synth as S
from hadoop_pcap_spark.pcap.chunked import (
    DEFAULT_CHUNK_BYTES,
    GLOBAL_HEADER_SIZE,
    RECORD_HEADER_SIZE,
    iter_capture_chunks,
    local_path,
    open_decompressed,
    stream_file_chunks,
)
from hadoop_pcap_spark.pcap.decode import DecodeOptions, decode_pcap
from hadoop_pcap_spark.pcap.decode_np import decode_pcap_columnar

REF_FIXTURE = "tests/fixtures/test.pcap"


def _pcap_many(n_pkts: int = 40, payload_size: int = 33) -> bytes:
    out = [S.global_header()]
    for i in range(n_pkts):
        frame = S.ethernet(
            S.ipv4(
                S.udp(bytes([i % 251]) * payload_size, 1000 + i, 53),
                17,
                "10.0.0.%d" % (i % 250 + 1),
                "192.168.1.1",
            )
        )
        out.append(S.record(1317993942 + i, frame, ts_usec=i * 7))
    return b"".join(out)


def _chunked_rows(data: bytes, chunk_bytes: int, opts=None):
    """Reassemble scalar-kernel rows from chunked feed with the same
    pkt_no-continuation the Spark consumers apply."""
    rows, pkt_off = [], 0
    for chunk in iter_capture_chunks(io.BytesIO(data), chunk_bytes=chunk_bytes):
        seen = 0
        for pkt in decode_pcap(chunk, name="t.pcap", opts=opts):
            pkt["pkt_no"] += pkt_off
            seen = pkt["pkt_no"] - pkt_off
            rows.append(pkt)
        pkt_off += seen
    return rows


@pytest.mark.parametrize("chunk_bytes", [7, 64, 300, 1 << 20])
def test_chunked_equals_whole_scalar(chunk_bytes):
    data = _pcap_many()
    whole = list(decode_pcap(data, name="t.pcap"))
    assert _chunked_rows(data, chunk_bytes) == whole
    assert [r["pkt_no"] for r in whole] == list(range(1, len(whole) + 1))


@pytest.mark.parametrize("chunk_bytes", [48, 512])
def test_chunked_equals_whole_columnar(chunk_bytes):
    data = _pcap_many()
    whole = decode_pcap_columnar(data, name="t.pcap").rows()
    got, pkt_off = [], 0
    for chunk in iter_capture_chunks(io.BytesIO(data), chunk_bytes=chunk_bytes):
        res = decode_pcap_columnar(chunk, name="t.pcap")
        for r in res.rows():
            r["pkt_no"] += pkt_off
            got.append(r)
        pkt_off += res.n
    assert got == whole


@pytest.mark.parametrize("chunk_bytes", [48, 512])
def test_chunked_frame_column_equals_whole(chunk_bytes):
    """frame/orig_len survive chunk boundaries in both kernels: a
    chunked decode's frame bytes equal the whole-file decode's."""
    import io

    from hadoop_pcap_spark.pcap.chunked import iter_capture_chunks
    from hadoop_pcap_spark.pcap.decode import DecodeOptions, decode_pcap

    data = _pcap_many(24)
    opts = DecodeOptions(keep_frame=True)
    whole = [
        (p.get("frame"), p.get("orig_len"))
        for p in decode_pcap(data, opts=opts)
    ]
    chunked = []
    for chunk in iter_capture_chunks(io.BytesIO(data), chunk_bytes=chunk_bytes):
        chunked.extend(
            (p.get("frame"), p.get("orig_len"))
            for p in decode_pcap(chunk, opts=opts)
        )
    assert chunked == whole and any(f for f, _ in whole)


def test_chunked_truncated_tail_only_in_last_chunk():
    data = _pcap_many(n_pkts=10) + S.record(999, b"\xab" * 50)[:30]  # cut mid-record
    whole = list(decode_pcap(data, name="t.pcap"))
    assert whole[-1] == {"pkt_no": 11, "ts": 999}  # ts-only tail row
    for cb in (16, 100, 1 << 20):
        assert _chunked_rows(data, cb) == whole


def test_chunked_empty_and_headerless():
    hdr = S.global_header()
    assert list(iter_capture_chunks(io.BytesIO(hdr), chunk_bytes=8)) == [hdr]
    assert list(iter_capture_chunks(io.BytesIO(b""), chunk_bytes=8)) == [b""]
    short = hdr[:10]
    assert list(iter_capture_chunks(io.BytesIO(short), chunk_bytes=8)) == [short]


def test_chunked_be_and_ns_variants():
    # BE framing follows the magic; equality vs whole-file in non-strict
    opts = DecodeOptions(strict_reference=False)
    frame = S.ethernet(S.ipv4(S.udp(b"x" * 21, 1234, 53), 17, "10.0.0.1", "10.0.0.2"))
    be = S.global_header_be() + b"".join(
        S.record_be(1000 + i, frame, ts_sub=i) for i in range(7)
    )
    ns = S.global_header_ns() + b"".join(
        S.record_ns(2000 + i, frame, ts_nsec=i * 1000) for i in range(7)
    )
    for data in (be, ns):
        whole = list(decode_pcap(data, name="t.pcap", opts=opts))
        assert len(whole) == 7
        for cb in (13, 200):
            assert _chunked_rows(data, cb, opts=opts) == whole


def test_chunked_pcapng_falls_back_to_single_chunk():
    data = S.pcapng_shb() + S.pcapng_idb() + S.pcapng_epb(
        0, 10**6, S.ethernet(S.ipv4(S.udp(b"p" * 9, 1, 2), 17, "1.1.1.1", "2.2.2.2")),
    )
    chunks = list(iter_capture_chunks(io.BytesIO(data), chunk_bytes=8))
    assert chunks == [data]  # stateful format: whole-stream, kernel normalizes
    opts = DecodeOptions(strict_reference=False)
    assert list(decode_pcap(chunks[0], opts=opts)) == list(decode_pcap(data, opts=opts))


def test_chunk_sizes_are_bounded():
    data = _pcap_many(n_pkts=200, payload_size=100)
    max_rec = max(
        RECORD_HEADER_SIZE + r["size"] for r in decode_pcap(data) if "size" in r
    )
    cb = 256
    for chunk in iter_capture_chunks(io.BytesIO(data), chunk_bytes=cb):
        # buffered remainder never exceeds one read + one partial record
        assert len(chunk) <= GLOBAL_HEADER_SIZE + cb + max_rec


def test_open_decompressed_streams_gzip(tmp_path):
    data = _pcap_many()
    p = tmp_path / "cap.pcap.gz"
    p.write_bytes(gzip.compress(data))
    with open_decompressed(str(p)) as f:
        rows = []
        pkt_off = 0
        for chunk in iter_capture_chunks(f, name=str(p), chunk_bytes=128):
            seen = 0
            for pkt in decode_pcap(chunk, name=str(p)):  # .gz name: magic guard
                pkt["pkt_no"] += pkt_off
                seen = pkt["pkt_no"] - pkt_off
                rows.append(pkt)
            pkt_off += seen
    assert rows == list(decode_pcap(data))


def test_local_path_strips_file_uri():
    assert local_path("file:/a/b c.pcap") == "/a/b c.pcap"
    assert local_path("file:///a/b.pcap") == "/a/b.pcap"
    assert local_path("/plain/path.pcap") == "/plain/path.pcap"
    # binaryFile paths are already unescaped: no URI decoding
    assert local_path("file:/x/cap#1.pcap") == "/x/cap#1.pcap"
    assert local_path("file:/x/a%41.pcap") == "/x/a%41.pcap"


def test_stream_file_chunks_continuation_pairs(tmp_path):
    data = _pcap_many(n_pkts=25)
    p = tmp_path / "c.pcap"
    p.write_bytes(data)
    pairs = list(stream_file_chunks([str(p)], chunk_bytes=200))
    assert len(pairs) > 1 and all(path == str(p) for path, _ in pairs)
    import pyarrow as pa

    from hadoop_pcap_spark.sources.pcap_source import (
        decode_files_to_arrow_columnar,
        packet_schema,
    )

    schema = packet_schema("ip")
    chunked = pa.Table.from_batches(
        list(decode_files_to_arrow_columnar(pairs, schema, DecodeOptions()))
    )
    whole = pa.Table.from_batches(
        list(
            decode_files_to_arrow_columnar(
                [(str(p), data)], schema, DecodeOptions()
            )
        )
    )
    assert chunked.num_rows == whole.num_rows == 25
    assert chunked.column("pkt_no").to_pylist() == list(range(1, 26))
    assert chunked.equals(whole)


# --- Spark integration -------------------------------------------------------


def test_read_pcap_streamed_equals_content_path(spark, tmp_path):
    d = tmp_path / "caps"
    d.mkdir()
    (d / "a.pcap").write_bytes(_pcap_many(n_pkts=30))
    (d / "b.pcap").write_bytes(S.dns_exchange_pcap())
    from hadoop_pcap_spark.sources import read_pcap

    streamed = read_pcap(
        spark, str(d), decoder="dns", calculate_md5=True, chunk_bytes=128,
    ).orderBy("file", "pkt_no").collect()
    whole = read_pcap(
        spark, str(d), decoder="dns", calculate_md5=True, chunk_bytes=0,
    ).orderBy("file", "pkt_no").collect()
    assert streamed == whole and len(streamed) > 0


def test_datasource_chunked_option(spark, tmp_path):
    d = tmp_path / "caps2"
    d.mkdir()
    (d / "a.pcap").write_bytes(_pcap_many(n_pkts=23))
    from hadoop_pcap_spark.sources import register_pcap_datasource

    register_pcap_datasource(spark)
    small = (
        spark.read.format("pcap").option("chunkbytes", "96").load(str(d))
    ).orderBy("pkt_no").collect()
    default = spark.read.format("pcap").load(str(d)).orderBy("pkt_no").collect()
    assert small == default and len(small) == 23


def test_datasource_splits_a_published_capture(spark, tmp_path):
    """``format("pcap")`` plans with read_pcap's planner: the first read
    decodes a capture larger than ``chunkbytes`` whole and publishes
    its index, the second plans one partition per split — same rows,
    ``pkt_no`` rebased."""
    d = tmp_path / "caps3"
    d.mkdir()
    (d / "a.pcap").write_bytes(_pcap_many(n_pkts=40, payload_size=60)[:-5])
    (d / "b.pcap").write_bytes(_pcap_many(n_pkts=2))
    from hadoop_pcap_spark.sources import register_pcap_datasource

    register_pcap_datasource(spark)

    def read():
        return spark.read.format("pcap").option("chunkbytes", "512").load(str(d))

    want = _sorted_rows(spark.read.format("pcap").load(str(d)))
    assert len(want) == 40 + 2
    cold = read()
    assert cold.rdd.getNumPartitions() == 2
    assert _sorted_rows(cold) == want
    warm = read()
    assert warm.rdd.getNumPartitions() > 3
    assert _sorted_rows(warm) == want


# --- payload batch budget (ADVICE r2 medium) ---------------------------------


def test_batch_ranges_split_by_payload_budget(monkeypatch):
    import numpy as np

    from hadoop_pcap_spark.sources import pcap_source as mod

    data = _pcap_many(n_pkts=50, payload_size=90)
    res = decode_pcap_columnar(data, name="t.pcap")
    ranges = list(mod._batch_ranges(res, batch_rows=64, np=np, limit=400))
    assert len(ranges) > 1
    assert [r[0] for r in ranges][0] == 0 and ranges[-1][1] == res.n
    for s0, s1 in ranges:
        assert s1 > s0
        assert int(mod._payload_lens(res, np)[s0:s1].sum()) <= 400
    # contiguity
    for (a0, a1), (b0, b1) in zip(ranges, ranges[1:]):
        assert a1 == b0


def test_batch_ranges_jumbo_batches_decode_identically(monkeypatch):
    import pyarrow as pa

    from hadoop_pcap_spark.sources import pcap_source as mod
    from hadoop_pcap_spark.sources.pcap_source import (
        decode_files_to_arrow_columnar,
        packet_schema,
    )

    data = _pcap_many(n_pkts=64, payload_size=120)
    schema = packet_schema("ip")
    whole = pa.Table.from_batches(
        decode_files_to_arrow_columnar([("t.pcap", data)], schema, DecodeOptions())
    )
    monkeypatch.setattr(mod, "PAYLOAD_BATCH_LIMIT", 1000)
    split = list(
        decode_files_to_arrow_columnar([("t.pcap", data)], schema, DecodeOptions())
    )
    assert len(split) > 1  # budget forced multiple batches
    assert pa.Table.from_batches(split).equals(whole)


def test_batch_ranges_single_oversized_payload_raises(monkeypatch):
    import numpy as np

    from hadoop_pcap_spark.pcap.decode import PcapFormatError
    from hadoop_pcap_spark.sources import pcap_source as mod

    data = _pcap_many(n_pkts=3, payload_size=200)
    res = decode_pcap_columnar(data, name="t.pcap")
    with pytest.raises(PcapFormatError, match="payload"):
        list(mod._batch_ranges(res, batch_rows=64, np=np, limit=50))


# --- the >2 GiB proof --------------------------------------------------------


@pytest.mark.skipif(
    shutil.disk_usage("/tmp").free < 8 * 2**30, reason="needs 8 GiB free disk"
)
def test_over_2gib_capture_bounded_memory(tmp_path, request):
    """A 2.2 GiB capture (binaryFile's content path would hard-fail at
    2 GiB) decodes via the chunked feed in a fresh subprocess whose
    peak RSS stays far below the file size.  The capture is deleted
    when the test ends, pass or fail: pytest keeps the tmp_path trees
    of the last three runs."""
    payload = bytes(range(256)) * 16  # 4 KiB
    frame = S.ethernet(S.ipv4(S.udp(payload, 5353, 53), 17, "10.1.1.1", "10.2.2.2"))
    rec = S.record(1317993942, frame, ts_usec=1)
    n_pkts = (2200 * 2**20) // len(rec) + 1
    p = tmp_path / "big.pcap"
    request.addfinalizer(lambda: p.unlink(missing_ok=True))
    with open(p, "wb") as f:
        f.write(S.global_header())
        one_mb = rec * max(1, (1 << 20) // len(rec))
        per_block = len(one_mb) // len(rec)
        written = 0
        while written + per_block <= n_pkts:
            f.write(one_mb)
            written += per_block
        f.write(rec * (n_pkts - written))
    assert p.stat().st_size > 2 * 2**30

    script = f"""
import resource, sys
sys.path.insert(0, {os.path.abspath(os.curdir)!r})
from hadoop_pcap_spark.pcap.chunked import stream_file_chunks
from hadoop_pcap_spark.pcap.decode import DecodeOptions
from hadoop_pcap_spark.sources.pcap_source import decode_files_to_arrow_columnar, packet_schema
rows = 0
last = None
early_peak = 0
target = {n_pkts} // 3
for rb in decode_files_to_arrow_columnar(
    stream_file_chunks([{str(p)!r}], 32 << 20), packet_schema("ip"), DecodeOptions()
):
    rows += rb.num_rows
    last = rb
    if rows >= target and early_peak == 0:
        early_peak = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss // 1024
peak_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss // 1024
print(rows, early_peak, peak_mb, last.column(last.schema.get_field_index("pkt_no"))[-1].as_py())
"""
    out = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True, timeout=600
    )
    assert out.returncode == 0, out.stderr[-2000:]
    rows, early_mb, peak_mb, last_pkt_no = out.stdout.split()
    assert int(rows) == n_pkts
    assert int(last_pkt_no) == n_pkts  # ordinal continued across ~70 chunks
    # bounded two ways: far below the 2.2 GiB file, AND flat — the RSS
    # at 1/3 of the file equals the final peak (no growth with offset)
    assert int(peak_mb) < 1300, f"peak RSS {peak_mb} MiB — not bounded"
    assert int(peak_mb) <= int(early_mb) * 1.2 + 64, (
        f"RSS grew with file position: {early_mb} → {peak_mb} MiB"
    )


# --- remote-URI streaming (pyarrow.fs code path over a local root) ------------


@pytest.fixture()
def fake_remote(tmp_path, monkeypatch):
    """Route the fake scheme ``rmt://`` through a real pyarrow
    FileSystem (a SubTreeFileSystem over tmp_path) — the exact remote
    branch of open_raw/stream_file_chunks, minus the network."""
    import pyarrow.fs as pafs

    from hadoop_pcap_spark.pcap import chunked as C

    fs = pafs.SubTreeFileSystem(str(tmp_path), pafs.LocalFileSystem())
    real = C._filesystem_for

    def fake(path):
        if path.startswith("rmt://"):
            return fs, path[len("rmt://"):]
        return real(path)

    monkeypatch.setattr(C, "_filesystem_for", fake)
    return tmp_path


def test_supports_scheme_matrix():
    from hadoop_pcap_spark.pcap.chunked import supports_scheme

    assert supports_scheme("") and supports_scheme("file")
    # pyarrow is baked into this environment → remote schemes stream
    assert supports_scheme("s3") and supports_scheme("s3a")
    assert supports_scheme("hdfs") and supports_scheme("gs")
    assert not supports_scheme("ftp")


def test_remote_uri_streams_record_aligned_chunks(fake_remote):
    from hadoop_pcap_spark.pcap import chunked as C

    data = _pcap_many(64)
    (fake_remote / "cap.pcap").write_bytes(data)
    local = list(C.stream_file_chunks(["%s/cap.pcap" % fake_remote], 1 << 12))
    remote = list(C.stream_file_chunks(["rmt://cap.pcap"], 1 << 12))
    assert [c for _p, c in local] == [c for _p, c in remote]
    assert len(remote) > 1  # actually chunked, not one blob
    [(path, size, mtime_ns)] = C.list_captures("rmt://cap.pcap")
    assert (path, size) == ("rmt://cap.pcap", len(data)) and mtime_ns > 0


def test_remote_uri_decodes_identically(fake_remote):
    from hadoop_pcap_spark.pcap import chunked as C

    data = _pcap_many(32)
    (fake_remote / "cap.pcap").write_bytes(data)
    whole = list(decode_pcap(data, name="cap.pcap"))
    chunked = [
        r
        for _p, chunk in C.stream_file_chunks(["rmt://cap.pcap"], 1 << 11)
        for r in decode_pcap(chunk, name="cap.pcap")
    ]
    for a, b in zip(whole, chunked):
        a.pop("pkt_no", None), b.pop("pkt_no", None)
    assert chunked == whole


def test_remote_gzip_streams_decompressed(fake_remote):
    import gzip as _gz

    from hadoop_pcap_spark.pcap import chunked as C

    data = _pcap_many(16)
    (fake_remote / "cap.pcap.gz").write_bytes(_gz.compress(data))
    out = b"".join(
        chunk[24:] for _p, chunk in C.stream_file_chunks(["rmt://cap.pcap.gz"], 1 << 11)
    )
    assert data[:24] + out == data


def test_remote_directory_listing(fake_remote, monkeypatch):
    """A remote directory lists like a local one (top-level files only,
    no recursion into ``sub/``), with the root URI kept in each path."""
    (fake_remote / "a.pcap").write_bytes(_pcap_many(4))
    (fake_remote / "sub").mkdir()
    (fake_remote / "sub" / "b.pcap").write_bytes(_pcap_many(4))
    from hadoop_pcap_spark.pcap.chunked import list_captures

    a_size = (fake_remote / "a.pcap").stat().st_size
    got = list_captures("rmt://")
    assert [(p, size) for p, size, _m in got] == [("rmt://a.pcap", a_size)]
    assert [p for p, _s, _m in list_captures("rmt://sub/")] == ["rmt://sub/b.pcap"]
    assert [p for p, _s, _m in list_captures("rmt://sub")] == ["rmt://sub/b.pcap"]
    assert list_captures("rmt://*.pcapng") == []
    with pytest.raises(FileNotFoundError):
        list_captures("rmt://absent")


def test_remote_planning_lists_once(fake_remote, monkeypatch):
    """Planning a remote read costs one info request on the root and
    one listing, never a request per file: the batch reader's
    partitions and the streaming reader's offsets and partitions take
    sizes and mtimes from the listing."""
    import pyarrow.fs as pafs

    from hadoop_pcap_spark.pcap import chunked as C
    from hadoop_pcap_spark.sources.datasource import (
        PcapDataSourceReader,
        PcapStreamReader,
    )
    from hadoop_pcap_spark.sources.pcap_source import packet_schema

    names = ["a.pcap", "b.pcap", "c.pcap"]
    for n, name in enumerate(names):
        (fake_remote / name).write_bytes(_pcap_many(4 + n))
    sizes = {f"rmt://{name}": (fake_remote / name).stat().st_size for name in names}
    fs = pafs.SubTreeFileSystem(str(fake_remote), pafs.LocalFileSystem())
    calls = []

    class CountingFileSystem:
        def get_file_info(self, what):
            calls.append("listing" if isinstance(what, pafs.FileSelector) else "info")
            return fs.get_file_info(what)

    def counting(path):
        return (CountingFileSystem(), path[len("rmt://"):]) if path.startswith("rmt://") else None

    monkeypatch.setattr(C, "_filesystem_for", counting)
    schema = packet_schema("ip")
    parts = PcapDataSourceReader(schema, {"path": "rmt://"}).partitions()
    got = sorted(split for part in parts for split in part.splits)
    assert got == [(p, -1, size, 1) for p, size in sorted(sizes.items())]
    assert calls == ["info", "listing"]

    calls.clear()
    rdr = PcapStreamReader(schema, {"path": "rmt://"})
    start = rdr.initialOffset()
    end = rdr.latestOffset()
    got = [part.splits for part in rdr.partitions(start, end)]
    assert got == [[(p, -1, size, 1)] for p, size in sorted(sizes.items())]
    assert calls == ["info", "listing"]


def test_chunk_bytes_zero_yields_whole_stream():
    """chunk_bytes<=0 = "no chunking": the whole stream as one blob
    (review finding: a read(0) loop used to yield only the global
    header — a silent empty result for .option('chunkbytes', 0))."""
    data = _pcap_many(10)
    chunks = list(iter_capture_chunks(io.BytesIO(data), chunk_bytes=0))
    assert chunks == [data]
    rows = list(decode_pcap(data, name="t"))
    via_zero = [r for c in chunks for r in decode_pcap(c, name="t")]
    assert len(via_zero) == len(rows)


def test_permissive_skips_corrupt_gzip(tmp_path):
    """A corrupt .gz capture must not kill a PERMISSIVE read: the
    chunked path now mirrors decode_pcap's mode semantics at the I/O
    layer (review finding: GzipFile errors escaped the task)."""
    from hadoop_pcap_spark.pcap.chunked import stream_file_chunks

    good = tmp_path / "good.pcap"
    good.write_bytes(_pcap_many(5))
    bad = tmp_path / "bad.pcap.gz"
    bad.write_bytes(b"\x1f\x8b\x08\x00garbage-not-really-gzip")
    paths = [str(bad), str(good)]
    with pytest.raises(OSError):
        list(stream_file_chunks(paths, 1 << 12))
    out = list(stream_file_chunks(paths, 1 << 12, permissive=True))
    assert {p for p, _c in out} == {str(good)}  # bad skipped, good intact


def test_misnamed_gz_containing_raw_pcap_decodes():
    """Magic beats extension: a raw classic pcap named *.gz must be
    read as pcap, not fed to GzipFile (review finding)."""
    from hadoop_pcap_spark.pcap.chunked import open_decompressed

    import tempfile

    data = _pcap_many(3)
    with tempfile.NamedTemporaryFile(suffix=".gz", delete=False) as f:
        f.write(data)
        name = f.name
    try:
        with open_decompressed(name) as fh:
            assert fh.read() == data
    finally:
        os.unlink(name)


def test_stream_error_types_scoped_to_codec():
    """zstd/lz4 corruption errors are permissive-skippable ONLY for
    streams those codecs opened; a bare RuntimeError from any other
    stream type must still propagate (ADVICE r3)."""
    import sys
    import types

    from hadoop_pcap_spark.pcap.chunked import stream_error_types

    base = stream_error_types(None)
    assert RuntimeError not in base  # never swallowed for plain streams

    class _FakeLZ4Reader:
        pass

    _FakeLZ4Reader.__module__ = "lz4.frame"
    assert RuntimeError in stream_error_types(_FakeLZ4Reader())

    fake_zstd = types.ModuleType("zstandard")

    class ZstdError(Exception):
        pass

    fake_zstd.ZstdError = ZstdError
    saved = sys.modules.get("zstandard")
    sys.modules["zstandard"] = fake_zstd
    try:
        class _FakeZstdReader:
            pass

        _FakeZstdReader.__module__ = "zstandard"
        assert ZstdError in stream_error_types(_FakeZstdReader())
    finally:
        if saved is None:
            del sys.modules["zstandard"]
        else:
            sys.modules["zstandard"] = saved


def test_permissive_skips_corrupt_lz4_stream(tmp_path, monkeypatch):
    """A corrupt lz4 capture raising RuntimeError mid-read is skipped in
    PERMISSIVE mode and fails the task otherwise (ADVICE r3: the old
    except list covered only zlib/lzma errors)."""
    import hadoop_pcap_spark.pcap.chunked as chunked

    good = tmp_path / "good.pcap"
    good.write_bytes(_pcap_many(5))

    class _FakeLZ4Reader:
        def __enter__(self):
            return self

        def __exit__(self, *a):
            return False

        def read(self, n=-1):
            raise RuntimeError("LZ4F_decompress failed with code: ERROR_GENERIC")

        def close(self):
            pass

    _FakeLZ4Reader.__module__ = "lz4.frame"

    real_open = chunked.open_decompressed

    def fake_open(path):
        if path.endswith(".lz4"):
            return _FakeLZ4Reader()
        return real_open(path)

    monkeypatch.setattr(chunked, "open_decompressed", fake_open)
    paths = [str(tmp_path / "bad.pcap.lz4"), str(good)]
    with pytest.raises(OSError):
        list(chunked.stream_file_chunks(paths, 1 << 12))
    out = list(chunked.stream_file_chunks(paths, 1 << 12, permissive=True))
    assert {p for p, _c in out} == {str(good)}


def test_wasb_alias_translates_blob_endpoint(monkeypatch):
    """wasb(s):// URIs must reach pyarrow with BOTH the abfs scheme and
    the dfs (Data Lake) endpoint — scheme-only swapping left the blob
    authority, which pyarrow's Azure parser mis-resolves (ADVICE r3)."""
    import pyarrow.fs as pafs

    from hadoop_pcap_spark.pcap.chunked import _filesystem_for

    seen = {}

    class _FakeFS:
        @staticmethod
        def from_uri(uri):
            seen["uri"] = uri
            return ("fs", "inner")

    monkeypatch.setattr(pafs, "FileSystem", _FakeFS)
    assert _filesystem_for(
        "wasbs://cont@acct.blob.core.windows.net/caps/x.pcap"
    ) == ("fs", "inner")
    assert seen["uri"] == "abfs://cont@acct.dfs.core.windows.net/caps/x.pcap"

    # non-Azure aliases keep their authority untouched
    _filesystem_for("s3a://bucket/key.pcap")
    assert seen["uri"] == "s3://bucket/key.pcap"


# --- split-parallel decode of one file (index_capture_splits) ---------------


def test_index_splits_cover_file(tmp_path):
    from hadoop_pcap_spark.pcap.chunked import index_capture_splits

    data = _pcap_many(50)
    p = tmp_path / "big.pcap"
    p.write_bytes(data)
    splits = index_capture_splits(str(p), split_bytes=600)
    assert len(splits) > 3
    # contiguous, record-aligned, full coverage
    assert splits[0][0] == 24
    for (o1, n1, f1), (o2, n2, f2) in zip(splits, splits[1:]):
        assert o1 + n1 == o2
        assert f2 > f1
    assert splits[-1][0] + splits[-1][1] == len(data)
    # each split is a valid standalone capture whose record count
    # matches the index's first_pkt deltas
    firsts = [f for _, _, f in splits] + [51]
    for (off, nb, f), nxt in zip(splits, firsts[1:]):
        rows = list(decode_pcap(data[:24] + data[off : off + nb], name="s"))
        assert len(rows) == nxt - f


def test_index_splits_truncated_tail_and_tiny(tmp_path):
    from hadoop_pcap_spark.pcap.chunked import index_capture_splits

    data = _pcap_many(10)
    p = tmp_path / "trunc.pcap"
    p.write_bytes(data[:-5])  # truncate mid-record
    splits = index_capture_splits(str(p), split_bytes=300)
    assert splits[-1][0] + splits[-1][1] == len(data) - 5
    # header-only file → exactly one empty split
    q = tmp_path / "empty.pcap"
    q.write_bytes(S.global_header())
    assert index_capture_splits(str(q)) == [(24, 0, 1)]


def test_index_splits_refuses_unsplittable(tmp_path):
    from hadoop_pcap_spark.pcap.chunked import index_capture_splits

    g = tmp_path / "a.pcap.gz"
    g.write_bytes(gzip.compress(_pcap_many(5)))
    assert index_capture_splits(str(g)) is None
    j = tmp_path / "junk.bin"
    j.write_bytes(b"\x00" * 100)
    assert index_capture_splits(str(j)) is None


def test_index_splits_bails_on_corrupt_incl_len(tmp_path):
    """ADVICE r9: a corrupt record header (incl_len 0xFFFFFFFF) mid-
    file must not make the walk buffer the rest of the file in memory
    and emit it as one giant split — the index bails to the serial
    streamed path (None), which handles the corrupt tail with bounded
    memory."""
    from hadoop_pcap_spark.pcap.chunked import index_capture_splits

    data = bytearray(_pcap_many(20))
    # corrupt the 5th record's incl_len field in place: walk the chain
    # to its header, then blow up the length
    pos = 24
    for _ in range(4):
        incl = int.from_bytes(data[pos + 8 : pos + 12], "little")
        pos += 16 + incl
    data[pos + 8 : pos + 12] = b"\xff\xff\xff\xff"
    p = tmp_path / "corrupt.pcap"
    p.write_bytes(bytes(data))
    assert index_capture_splits(str(p), split_bytes=300) is None
    # and the split-parallel reader consequently falls back serial:
    # read_pcap must still produce rows, not raise (exercised in the
    # read-path test below via the None fallback)


def test_split_read_equals_serial(spark, tmp_path):
    """A split read is row-identical to the serial path — incl. a
    truncated tail, pkt_no rebasing across splits, and a gz neighbor
    that is decoded whole.  The cold read decodes the capture whole
    and publishes its index; the warm read splits it."""
    from hadoop_pcap_spark.sources import read_pcap

    d = tmp_path / "caps"
    d.mkdir()
    data = _pcap_many(200, payload_size=120)
    (d / "big.pcap").write_bytes(data[:-7])  # truncated tail row
    (d / "sibling.pcap.gz").write_bytes(gzip.compress(_pcap_many(13)))

    def key(r):
        return (r["file"], r["pkt_no"])

    serial = sorted(
        (r.asDict() for r in read_pcap(spark, str(d), calculate_md5=True).collect()),
        key=key,
    )
    assert len(serial) == 200 + 13  # 199 full + 1 ts-only + 13 gz
    for _cold_then_warm in range(2):
        split = read_pcap(spark, str(d), calculate_md5=True, chunk_bytes=4096)
        rows = sorted((r.asDict() for r in split.collect()), key=key)
        assert rows == serial
    assert _partitions(split) > 2  # the warm read ran the big capture's splits


def test_read_pcap_uri_special_file_names(spark, tmp_path):
    """Capture names that URI-decoding would mangle (``#`` starts a
    fragment, ``%41`` decodes to ``A``) are read from the right file,
    serially and split — cold index and warm plan alike."""
    from hadoop_pcap_spark.sources import read_pcap

    d = tmp_path / "odd"
    d.mkdir()
    (d / "a#1.pcap").write_bytes(_pcap_many(7))
    (d / "b%41.pcap").write_bytes(_pcap_many(11))

    def counts(df):
        rows = df.groupBy("file").count().collect()
        return {os.path.basename(r["file"]): r["count"] for r in rows}

    want = {"a#1.pcap": 7, "b%41.pcap": 11}
    assert counts(read_pcap(spark, str(d))) == want
    for warm in (False, True):  # the first split read publishes the index
        split = read_pcap(spark, str(d), chunk_bytes=256)
        assert (_partitions(split) > 2) == warm
        assert counts(split) == want


def _split_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _partitions(df) -> int:
    return df._jdf.queryExecution().toRdd().getNumPartitions()


def _sorted_rows(df):
    return sorted((r.asDict() for r in df.collect()), key=lambda r: (r["file"], r["pkt_no"]))


def test_split_read_warm_plans_splits_on_driver(spark, tmp_path):
    """Cold or warm, the read is ONE decode stage over a driver-built
    LocalTableScan, with no exchange; once the index cache is warm it
    runs min(n_splits, defaultParallelism) tasks — and the same rows
    as the serial read, truncated tail and gz neighbour included.  The
    space in the file name pins that listed paths are used verbatim,
    for the ``file`` column and the index lookup alike."""
    from hadoop_pcap_spark.pcap.chunked import lookup_capture_splits
    from hadoop_pcap_spark.sources import read_pcap

    d = tmp_path / "caps"
    d.mkdir()
    data = _pcap_many(200, payload_size=120)
    (d / "big file.pcap").write_bytes(data[:-7])  # truncated tail row
    (d / "sibling.pcap.gz").write_bytes(gzip.compress(_pcap_many(13)))

    def split_read():
        return read_pcap(spark, str(d), calculate_md5=True, chunk_bytes=4096)

    serial = _sorted_rows(read_pcap(spark, str(d), calculate_md5=True))
    cold = split_read()
    assert "Exchange" not in _split_plan(cold)
    assert _partitions(cold) == 2  # one whole-file task per capture
    assert _sorted_rows(cold) == serial  # this run publishes the index

    warm = split_read()
    plan = _split_plan(warm)
    assert "Exchange" not in plan, plan
    assert plan.count("MapInArrow") == 1, plan
    assert "LocalTableScan" in plan, plan
    hit, big = lookup_capture_splits(f"file:{d / 'big file.pcap'}", 4096)
    assert hit and len(big) > 1
    n_splits = len(big) + 1  # the small gz neighbour is decoded whole
    assert _partitions(warm) == min(n_splits, spark.sparkContext.defaultParallelism)
    rows = _sorted_rows(warm)
    assert len(rows) == 200 + 13  # 199 full + 1 ts-only + 13 gz
    assert rows == serial


def test_split_read_rewritten_file_falls_back_to_index_stage(spark, tmp_path):
    """A rewrite changes the file identity (mtime alone, or size), so
    the driver lookup misses and the capture is decoded whole again —
    equal to a fresh serial read of the new bytes — which republishes
    the index for the new identity."""
    from hadoop_pcap_spark.sources import read_pcap

    d = tmp_path / "rw"
    d.mkdir()
    p = d / "r.pcap"
    p.write_bytes(_pcap_many(60, payload_size=80))

    def split_read():
        return read_pcap(spark, str(d), chunk_bytes=2048)

    split_read().collect()  # warm the index
    assert _partitions(split_read()) > 1

    st = p.stat()
    os.utime(p, ns=(st.st_atime_ns, st.st_mtime_ns + 5_000_000_000))
    touched = split_read()
    assert _split_plan(touched).count("MapInArrow") == 1
    assert _partitions(touched) == 1
    assert _sorted_rows(touched) == _sorted_rows(read_pcap(spark, str(d)))

    p.write_bytes(_pcap_many(90, payload_size=50)[:-3])
    rewritten = split_read()
    plan = _split_plan(rewritten)
    assert "Exchange" not in plan and plan.count("MapInArrow") == 1, plan
    assert _partitions(rewritten) == 1
    serial = _sorted_rows(read_pcap(spark, str(d)))
    assert len(serial) == 90
    assert _sorted_rows(rewritten) == serial
    assert _partitions(split_read()) > 1  # warm again


def _corrupt_incl_len(data: bytes, record: int = 4) -> bytes:
    """``data`` with the incl_len of record ``record`` (0-based) set to
    0xFFFFFFFF."""
    out, pos = bytearray(data), GLOBAL_HEADER_SIZE
    for _ in range(record):
        pos += RECORD_HEADER_SIZE + int.from_bytes(out[pos + 8 : pos + 12], "little")
    out[pos + 8 : pos + 12] = b"\xff\xff\xff\xff"
    return bytes(out)


def test_read_pcap_is_one_decode_over_a_local_scan(spark, tmp_path):
    """Every read_pcap plan is ONE MapInArrow over a LocalTableScan with
    no exchange — cold or warm, one file or many, with gz and pcapng
    neighbours.  The first read of a cold raw capture larger than
    chunk_bytes decodes it whole and publishes its split index; the
    second plans min(n_splits, defaultParallelism) partitions and
    returns the same rows.  A capture with a corrupt incl_len is
    published unsplittable and still reads."""
    from hadoop_pcap_spark.pcap.chunked import lookup_capture_splits
    from hadoop_pcap_spark.sources import read_pcap

    d = tmp_path / "mixed"
    d.mkdir()
    (d / "big.pcap").write_bytes(_pcap_many(120, payload_size=100))
    (d / "small.pcap").write_bytes(_pcap_many(3))
    (d / "bad.pcap").write_bytes(_corrupt_incl_len(_pcap_many(60, payload_size=100)))
    stored = gzip.compress(_pcap_many(40, payload_size=100), compresslevel=0)
    (d / "sib.pcap.gz").write_bytes(stored)
    (d / "ng.pcapng").write_bytes(S.mixed_link_pcapng())
    chunk = 2048
    parallelism = spark.sparkContext.defaultParallelism

    def read(target):
        return read_pcap(spark, target, chunk_bytes=chunk, strict_reference=False)

    def assert_one_decode(df):
        plan = _split_plan(df)
        assert "Exchange" not in plan, plan
        assert plan.count("MapInArrow") == 1, plan
        assert "LocalTableScan" in plan, plan

    def serial(target):
        return _sorted_rows(read_pcap(spark, target, strict_reference=False))

    big = str(d / "big.pcap")
    cold = read(big)
    assert_one_decode(cold)
    assert _partitions(cold) == 1
    assert lookup_capture_splits(big, chunk) == (False, None)
    assert _sorted_rows(cold) == serial(big)
    hit, splits = lookup_capture_splits(big, chunk)
    assert hit and len(splits) > 2  # published by the decode
    warm = read(big)
    assert_one_decode(warm)
    assert _partitions(warm) == min(len(splits), parallelism)
    assert _sorted_rows(warm) == serial(big)

    want = serial(str(d))
    assert len(want) == 120 + 3 + 5 + 40 + len(list(decode_pcap(
        S.mixed_link_pcapng(), "ng", DecodeOptions(strict_reference=False))))
    for _cold_then_warm in range(2):
        df = read(str(d))
        assert_one_decode(df)
        assert _sorted_rows(df) == want
    assert _partitions(df) == min(len(splits) + 4, parallelism)
    for name in ("bad.pcap", "sib.pcap.gz", "ng.pcapng"):
        assert (d / name).stat().st_size > chunk
        assert lookup_capture_splits(str(d / name), chunk) == (True, None), name
    # not larger than chunk_bytes: never looked up, nothing published
    assert lookup_capture_splits(str(d / "small.pcap"), chunk) == (False, None)


def test_whole_file_decode_publishes_the_index(tmp_path):
    """``stream_file_chunks(publish_index=True)`` publishes what the
    framing walk saw once the stream is read to its end: the chunks of
    a raw capture as its split index (a record-aligned cover whose
    splits decode to the serial rows), the unsplittable marker for a
    compressed or pcapng capture, for an incl_len past the sanity
    bound and for a stream that breaks — and nothing for a read that
    stops early."""
    from hadoop_pcap_spark.pcap.chunked import lookup_capture_splits, read_split

    data = _pcap_many(80, payload_size=60)[:-9]  # truncated tail
    raw = tmp_path / "raw.pcap"
    raw.write_bytes(data)
    it = stream_file_chunks([str(raw)], 700, publish_index=True)
    next(it)
    it.close()
    assert lookup_capture_splits(str(raw), 700) == (False, None)
    chunks = list(stream_file_chunks([str(raw)], 700, publish_index=True))
    hit, splits = lookup_capture_splits(str(raw), 700)
    assert hit and len(splits) == len(chunks) > 2
    assert splits[0][0] == GLOBAL_HEADER_SIZE
    assert splits[-1][0] + splits[-1][1] == len(data)
    rows = []
    for off, n_bytes, first in splits:
        part = list(decode_pcap(read_split(str(raw), off, n_bytes), name="raw"))
        rows += [dict(r, pkt_no=r["pkt_no"] + first - 1) for r in part]
    assert rows == list(decode_pcap(data, name="raw"))

    marked = {
        "a.pcap.gz": gzip.compress(_pcap_many(30)),
        "m.pcapng": S.mixed_link_pcapng(),
        "bad.pcap": _corrupt_incl_len(_pcap_many(30)),
    }
    for name, blob in marked.items():
        (tmp_path / name).write_bytes(blob)
        list(stream_file_chunks([str(tmp_path / name)], 256, publish_index=True))
        assert lookup_capture_splits(str(tmp_path / name), 256) == (True, None), name

    broken = tmp_path / "broken.pcap.gz"
    broken.write_bytes(gzip.compress(_pcap_many(30))[:-40])
    with pytest.raises(OSError):
        list(stream_file_chunks([str(broken)], 256, publish_index=True))
    assert lookup_capture_splits(str(broken), 256) == (True, None)

    # a capture that grows during the walk publishes nothing: the walk
    # no longer ends at the size of the identity it started from
    from hadoop_pcap_spark.pcap.chunked import _INDEX_PREFIX, _index_ident
    from hadoop_pcap_spark.staging import keyed_tmp_path

    grow = tmp_path / "grow.pcap"
    grow.write_bytes(_pcap_many(30))
    before = keyed_tmp_path(_INDEX_PREFIX, _index_ident(str(grow), 256))
    it = stream_file_chunks([str(grow)], 256, publish_index=True)
    next(it)
    with open(grow, "ab") as f:
        f.write(_pcap_many(5)[GLOBAL_HEADER_SIZE:])
    list(it)
    assert not os.path.exists(before)
    assert lookup_capture_splits(str(grow), 256) == (False, None)


def test_lookup_capture_splits_is_walk_free(tmp_path):
    """The driver-side lookup never walks and never creates the cache
    dir on a miss; it hits once a whole-file decode published the
    index, and reports a cached unsplittable file as a hit with
    ``None``."""
    from hadoop_pcap_spark.pcap.chunked import (
        _INDEX_PREFIX,
        _index_ident,
        index_capture_splits,
        lookup_capture_splits,
    )
    from hadoop_pcap_spark.staging import keyed_tmp_path

    p = tmp_path / "l.pcap"
    p.write_bytes(_pcap_many(30))
    cache_dir = keyed_tmp_path(_INDEX_PREFIX, _index_ident(str(p), 400))
    assert lookup_capture_splits(str(p), 400) == (False, None)
    assert not os.path.exists(cache_dir)
    list(stream_file_chunks([str(p)], 400, publish_index=True))
    assert os.path.isdir(cache_dir)
    splits = index_capture_splits(str(p), 400)
    assert lookup_capture_splits(str(p), 400) == (True, splits)
    assert lookup_capture_splits(f"file://{p}", 400) == (True, splits)
    assert lookup_capture_splits(str(p), 401) == (False, None)  # other size
    # unstat-able paths and remote URIs miss without touching tmp
    assert lookup_capture_splits(str(tmp_path / "absent.pcap")) == (False, None)
    assert lookup_capture_splits("s3://bucket/key.pcap") == (False, None)
    g = tmp_path / "l.pcap.gz"
    g.write_bytes(gzip.compress(_pcap_many(5)))
    assert lookup_capture_splits(str(g)) == (False, None)
    list(stream_file_chunks([str(g)], DEFAULT_CHUNK_BYTES, publish_index=True))
    assert lookup_capture_splits(str(g)) == (True, None)


def test_slice_balanced_evens_out_parallelize_slices():
    """Split descriptors are sliced into near-equal bytes and counts
    (read_pcap's LocalTableScan slices, the DataSource's partitions):
    two big splits do not share one task, and each slice gets its
    share of the small ones."""
    from hadoop_pcap_spark.sources.pcap_source import _slice_balanced

    weights = [1, 1, 1, 1, 1, 1, 100, 100]
    slices = _slice_balanced(weights, 4)
    assert sorted(i for sl in slices for i in sl) == list(range(8))
    assert [len(sl) for sl in slices] == [2, 2, 2, 2]
    assert max(sum(weights[i] for i in sl) for sl in slices) == 101
    assert _slice_balanced([], 0) == []


def test_index_split_cache_hits_and_invalidates(tmp_path):
    """What a whole-file decode publishes (``stream_file_chunks(...,
    publish_index=True)``) is what the walk-free lookup returns, keyed
    by file identity and split size: another split size or a rewrite
    misses instead of returning stale splits."""
    from hadoop_pcap_spark.pcap.chunked import (
        index_capture_splits,
        lookup_capture_splits,
    )

    def publish(path, split_bytes):
        list(stream_file_chunks([str(path)], split_bytes, publish_index=True))

    p = tmp_path / "c.pcap"
    p.write_bytes(_pcap_many(30))
    assert lookup_capture_splits(str(p), 400) == (False, None)
    publish(p, 400)
    first = index_capture_splits(str(p), split_bytes=400)
    # a hit returns the splits the framing walk computes
    assert lookup_capture_splits(str(p), 400) == (True, first)
    # different split size → different cache entry, not a stale hit
    assert lookup_capture_splits(str(p), 10**9) == (False, None)
    publish(p, 10**9)
    hit, whole = lookup_capture_splits(str(p), 10**9)
    assert hit and whole != first
    # rewrite (new size) → identity changes → a miss, then republished
    p.write_bytes(_pcap_many(31))
    assert lookup_capture_splits(str(p), 400) == (False, None)
    publish(p, 400)
    hit, again = lookup_capture_splits(str(p), 400)
    assert hit and again == index_capture_splits(str(p), split_bytes=400)
    assert sum(n for _, n, _ in again) != sum(n for _, n, _ in first)
    # unsplittable marker is cached too
    g = tmp_path / "c.pcap.gz"
    g.write_bytes(gzip.compress(_pcap_many(5)))
    assert lookup_capture_splits(str(g)) == (False, None)
    publish(g, DEFAULT_CHUNK_BYTES)
    assert lookup_capture_splits(str(g)) == (True, None)


def test_index_splits_big_endian(tmp_path):
    from hadoop_pcap_spark.pcap.chunked import index_capture_splits

    frames = [S.ethernet(S.ipv4(S.udp(b"y" * 40, 1, 53), 17, "10.0.0.1", "10.0.0.2"))]
    data = S.global_header_be() + b"".join(
        S.record_be(1700000000 + i, frames[0]) for i in range(12)
    )
    p = tmp_path / "be.pcap"
    p.write_bytes(data)
    splits = index_capture_splits(str(p), split_bytes=300)
    assert len(splits) > 1
    assert splits[-1][0] + splits[-1][1] == len(data)
    ns = DecodeOptions(strict_reference=False)  # BE is non-strict-only
    total = sum(
        len(list(decode_pcap(data[:24] + data[o : o + n], name="b", opts=ns)))
        for o, n, _ in splits
    )
    assert total == 12
