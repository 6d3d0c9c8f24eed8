"""PCAP → DataFrame source, Spark-first.

Replaces the reference's `PcapInputFormat` / `CombinePcapInputFormat` /
`PcapRecordReader` / Hive `PcapDeserializer` stack
(hadoop-pcap-lib/.../io/PcapInputFormat.java:28-75,
io/reader/PcapRecordReader.java:16-77, hadoop-pcap-serde/.../
PcapDeserializer.java:21-66) with two Spark-native paths:

1. ``read_pcap(spark, path, ...)`` — the driver lists the files and
   plans split descriptors into a byte-balanced ``LocalTableScan``
   (the small-file packing `CombinePcapInputFormat` hand-rolled), and
   one ``mapInArrow`` decodes them into a fixed wide schema.

2. a registered Python DataSource (``spark.read.format("pcap")`` /
   ``CREATE TABLE ... USING pcap``) — see :mod:`.datasource`; it packs
   the same descriptors into its partitions.

Every file-based read — both of these and ``read_pcap_stream``, batch
and streaming — lists files by one set of rules
(:func:`..pcap.chunked.list_captures`, which matches Spark's own
listing behind ``read_pcap_stream``) and gives the same ``file``
values, plans with one planner (:func:`..pcap.chunked.plan_splits`)
and decodes with one decoder (:func:`decode_splits`), on one kernel,
:func:`decode_files_to_arrow_columnar`, which ``decode_frames``
shares; the scalar per-packet kernel is kept only as the
differential oracle in tests and for the dump CLI.

Scale design (100 TB): the decode is embarrassingly parallel per
file, and per record-aligned split once a capture's split index is
published — a by-product of its first whole-file decode, so there is
no knob and no index stage (the reference's ``isSplitable → false``
is beaten, not inherited).  The recommended pipeline is decode-once →
write Parquet partitioned by capture date → query many times with
full pushdown.  Column pruning is pushed *into* the decoder via
``columns=`` (skips MD5 / DNS / payload work when those columns
aren't requested), mirroring the reference's conditional-decode
laziness (L4 only for TCP/UDP, L7 only on port 53, MD5 only if
configured).
"""

from __future__ import annotations

import os
import posixpath
from typing import Iterable, Iterator, List, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..pcap.decode import DecodeOptions, PcapFormatError

# --- the wide packet schema (SURVEY.md §1.5; FIXTURES.md §1-2) ---------------

BASE_FIELDS: List[T.StructField] = [
    T.StructField("file", T.StringType(), True),
    T.StructField("pkt_no", T.LongType(), False),
    T.StructField("ts", T.LongType(), True),
    # ts_usec: the reference drops sub-second precision (PcapReader.java:25,
    # 174 reads only ts_sec); Spark can carry it, so we expose it.
    T.StructField("ts_usec", T.LongType(), True),
    T.StructField("size", T.LongType(), True),
    T.StructField("md5", T.StringType(), True),
    T.StructField("ether_type", T.StringType(), True),
    T.StructField("ttl", T.IntegerType(), True),
    T.StructField("protocol", T.StringType(), True),
    T.StructField("src", T.StringType(), True),
    T.StructField("dst", T.StringType(), True),
    T.StructField("src_port", T.IntegerType(), True),
    T.StructField("dst_port", T.IntegerType(), True),
    T.StructField("len", T.IntegerType(), True),
    T.StructField("udpsum", T.IntegerType(), True),
    T.StructField("payload_len", T.IntegerType(), True),
    T.StructField("frag", T.BooleanType(), True),
    # v4-fragment reassembly metadata (non-strict decode; NULL off
    # fragments): datagram ident, body byte offset, MF bit, raw body
    T.StructField("ip_ident", T.IntegerType(), True),
    T.StructField("frag_offset", T.IntegerType(), True),
    T.StructField("frag_mf", T.BooleanType(), True),
    T.StructField("frag_body", T.BinaryType(), True),
    T.StructField("ext_count", T.IntegerType(), True),
    T.StructField("ext_headers", T.StringType(), True),
    T.StructField("payload", T.BinaryType(), True),
]

DNS_FIELDS: List[T.StructField] = [
    T.StructField("dns_queryid", T.IntegerType(), True),
    T.StructField("dns_flags", T.StringType(), True),
    T.StructField("dns_qr", T.BooleanType(), True),
    T.StructField("dns_opcode", T.StringType(), True),
    T.StructField("dns_rcode", T.StringType(), True),
    T.StructField("dns_qname", T.StringType(), True),
    T.StructField("dns_qtype", T.IntegerType(), True),
    T.StructField("dns_qtype_str", T.StringType(), True),
    T.StructField("dns_answer", T.ArrayType(T.StringType()), True),
    T.StructField("dns_authority", T.ArrayType(T.StringType()), True),
    T.StructField("dns_additional", T.ArrayType(T.StringType()), True),
]

PACKET_SCHEMA = T.StructType(BASE_FIELDS)
DNS_PACKET_SCHEMA = T.StructType(BASE_FIELDS + DNS_FIELDS)

# Opt-in round-trip columns (read_pcap(keep_frame=True) or columns=
# containing them): the raw captured frame bytes + the record header's
# original length — what write_pcap needs to re-emit capture files.
FRAME_FIELDS: List[T.StructField] = [
    T.StructField("frame", T.BinaryType(), True),
    T.StructField("orig_len", T.LongType(), True),
]
_FRAME_COLS = {f.name for f in FRAME_FIELDS}

# Opt-in TCP metadata columns (columns= containing them; never in the
# default schema): sequence number + flags byte — retransmission /
# out-of-order analytics and seq-aware reassembly substrate.
TCPMETA_FIELDS: List[T.StructField] = [
    T.StructField("tcp_seq", T.LongType(), True),
    T.StructField("tcp_flags", T.LongType(), True),
]


def packet_schema(
    decoder: str = "ip",
    columns: Optional[Iterable[str]] = None,
    keep_frame: bool = False,
) -> T.StructType:
    fields = list((DNS_PACKET_SCHEMA if decoder == "dns" else PACKET_SCHEMA).fields)
    if columns is None:
        if keep_frame:
            fields += FRAME_FIELDS
        return T.StructType(fields)
    wanted = set(columns)
    return T.StructType(
        [f for f in fields + FRAME_FIELDS + TCPMETA_FIELDS if f.name in wanted]
    )


def decode_files_to_arrow_columnar(
    file_rows: Iterable[tuple],
    schema: T.StructType,
    opts: DecodeOptions,
    batch_rows: int = 65536,
    pkt_base: int = 0,
):
    """(path, bytes) pairs → pyarrow RecordBatches via the vectorized
    columnar kernel (:mod:`..pcap.decode_np`): whole-file numpy column
    extraction, then zero-copy-ish Arrow construction (numeric columns
    hand over the ndarray + null mask directly).  ~3.5× the scalar
    kernel's packets/s/core — at 100 TB the decode IS the job, so this
    is the one decode behind every Spark ingest path.

    Continuation contract: consecutive pairs with the SAME path are
    record-aligned chunks of one file (see :mod:`..pcap.chunked`) —
    ``pkt_no`` continues across them, so chunked and whole-file decode
    yield identical rows.  ``pkt_base`` is added to every row's
    ``pkt_no`` (a split's or a frame batch's position in its stream).
    Missing values become NULL, mirroring the Hive SerDe's
    missing-key→NULL projection (PcapDeserializer.java:50-60)."""
    import pyarrow as pa

    from pyspark.sql.pandas.types import to_arrow_schema

    from ..pcap.decode_np import decode_pcap_columnar

    import numpy as np

    arrow_schema = to_arrow_schema(schema)
    names = [f.name for f in schema.fields]
    prev_path, pkt_off = None, 0
    for path, data in file_rows:
        if path != prev_path:
            prev_path, pkt_off = path, 0
        res = decode_pcap_columnar(data, name=path, opts=opts)
        if pkt_off + pkt_base:
            # consecutive chunks of one file continue the ordinal;
            # pkt_base shifts it as a whole
            res.numeric["pkt_no"][0][:] += pkt_off + pkt_base
        pkt_off += res.n
        for s0, s1 in _batch_ranges(res, batch_rows, np):
            arrays = []
            for n in names:
                t = arrow_schema.field(n).type
                if n == "file":
                    arrays.append(pa.array([path] * (s1 - s0), type=t))
                elif n in res.numeric:
                    vals, mask = res.numeric[n]
                    arrays.append(pa.array(vals[s0:s1], type=t, mask=mask[s0:s1]))
                elif n == "payload":
                    arrays.append(
                        _spans_arrow(
                            res, res.payload_spans, res.objects["payload"],
                            s0, s1, np, pa,
                        )
                        if res.emit_payload
                        else pa.nulls(s1 - s0, type=t)
                    )
                elif n == "frame":
                    arrays.append(
                        _spans_arrow(res, res.frame_spans, None, s0, s1, np, pa)
                        if res.emit_frame and res.frame_spans is not None
                        else pa.nulls(s1 - s0, type=t)
                    )
                else:
                    arrays.append(
                        pa.array(res.objects[n][s0:s1], type=t, from_pandas=True)
                    )
            yield pa.RecordBatch.from_arrays(arrays, schema=arrow_schema)


# Max payload bytes per Arrow RecordBatch: BinaryType uses 32-bit
# offsets, so a batch's payload column must stay under 2 GiB total.
# Batches are row-split to respect this (ADVICE r2: the old list-based
# fallback built a ChunkedArray, which RecordBatch.from_arrays rejects).
PAYLOAD_BATCH_LIMIT = (1 << 31) - (1 << 20)


def _binary_lens(res, spans, objs, np):
    """Per-row byte counts of one binary column (0 where NULL): span
    lengths for fast-path rows, ``len(bytes)`` for scalar-fallback
    rows (``objs`` may be None for span-only columns like frame)."""
    lens = np.zeros(res.n, dtype=np.int64)
    if spans is not None:
        _starts, lens_all, has_all = spans
        m = len(has_all)
        lens[:m] = np.where(has_all, lens_all, 0)
    if objs is not None:
        for i in np.nonzero(objs != None)[0].tolist():  # noqa: E711
            lens[i] = len(objs[i])
    return lens


def _payload_lens(res, np):
    return _binary_lens(res, res.payload_spans, res.objects["payload"], np)


def _batch_ranges(res, batch_rows: int, np, limit: int | None = None):
    """Row ranges [s0, s1) of ≤ batch_rows rows whose total payload
    (and frame, when emitted) bytes fit 32-bit Arrow binary offsets.
    Jumbo captures (64 KiB caplen × 65536 rows ≈ 4 GiB) split into
    multiple batches instead of crashing the from_arrays path."""
    limit = PAYLOAD_BATCH_LIMIT if limit is None else limit
    emit_frame = res.emit_frame and res.frame_spans is not None
    has_frag_body = (res.objects["frag_body"] != None).any()  # noqa: E711
    if not res.emit_payload and not emit_frame and not has_frag_body:
        for s0 in range(0, res.n, batch_rows):
            yield s0, min(s0 + batch_rows, res.n)
        return
    # budget on the widest emitted binary column: each column's batch
    # total must individually stay under the 32-bit offset limit
    lens = np.zeros(res.n, dtype=np.int64)
    if res.emit_payload:
        lens = _payload_lens(res, np)
    if emit_frame:
        lens = np.maximum(lens, _binary_lens(res, res.frame_spans, None, np))
    if has_frag_body:
        lens = np.maximum(
            lens, _binary_lens(res, None, res.objects["frag_body"], np)
        )
    s0 = 0
    while s0 < res.n:
        s1 = min(s0 + batch_rows, res.n)
        if int(lens[s0:s1].sum()) > limit:
            cum = np.cumsum(lens[s0:s1])
            cut = int(np.searchsorted(cum, limit, side="right"))
            if cut == 0:
                raise PcapFormatError(
                    f"packet {s0 + 1}: single payload of {int(lens[s0])} bytes "
                    "exceeds the 2 GiB Arrow binary batch budget; re-read with "
                    "keep_payload=False or a columns= list without 'payload'"
                )
            s1 = s0 + cut
        yield s0, s1
        s0 = s1


def _spans_arrow(res, spans, objs_col, s0: int, s1: int, np, pa):
    """A span-recorded binary column (payload or frame) as
    BinaryArray.from_buffers: fast-path rows are gathered from the
    file buffer in ONE vectorized pass (no per-row Python bytes),
    slow-path (scalar-fallback) rows — present only when ``objs_col``
    is given — copy their bytes in.  ~20% off whole-file decode vs
    per-row slicing."""
    k = s1 - s0
    if spans is None:  # e.g. a chunk holding only a truncated tail row
        z = np.zeros(0, dtype=np.int64)
        spans = (z, z, np.zeros(0, dtype=bool))
    starts_all, lens_all, has_all = spans
    m = len(has_all)
    u = np.frombuffer(res.data, dtype=np.uint8)
    if objs_col is not None:
        objs = objs_col[s0:s1]
        obj_mask = objs != None  # noqa: E711
    else:
        objs = np.full(k, None, dtype=object)
        obj_mask = np.zeros(k, dtype=bool)

    lens = np.zeros(k, dtype=np.int64)
    valid = np.zeros(k, dtype=bool)
    span_rows = np.zeros(k, dtype=bool)
    in_span = min(max(m - s0, 0), k)  # rows of this slice covered by spans
    if in_span > 0:
        sl = slice(s0, s0 + in_span)
        span_rows[:in_span] = has_all[sl]
        lens[:in_span] = np.where(has_all[sl], lens_all[sl], 0)
        valid[:in_span] = has_all[sl]
    span_rows &= ~obj_mask
    for i in np.nonzero(obj_mask)[0].tolist():
        lens[i] = len(objs[i])
        valid[i] = True

    total_bytes = int(lens.sum())
    if total_bytes > 2**31 - 1:  # _batch_ranges guarantees this never fires
        raise AssertionError(
            f"payload batch of {total_bytes} bytes overflows 32-bit Arrow "
            "offsets; _batch_ranges should have split this slice"
        )
    offsets = np.zeros(k + 1, dtype=np.int32)
    np.cumsum(lens, out=offsets[1:])
    buf = np.empty(total_bytes, dtype=np.uint8)
    sr = np.nonzero(span_rows)[0]
    if len(sr):
        starts = starts_all[s0 + sr]
        slens = lens[sr]
        # positions: for each span row, starts[j] + [0..len) laid out at
        # its offset — one big fancy-index gather
        total = int(slens.sum())
        if total:
            rel = np.arange(total, dtype=np.int64) - np.repeat(
                np.concatenate(([0], np.cumsum(slens[:-1]))), slens
            )
            src = np.repeat(starts, slens) + rel
            if not obj_mask.any():
                # span chunks tile buf contiguously (zero-length rows
                # don't perturb offsets) → pure gather, no scatter
                buf[:total] = u[src]
            else:
                dst = np.repeat(offsets[sr], slens) + rel
                buf[dst] = u[src]
    for i in np.nonzero(obj_mask)[0].tolist():
        o = offsets[i]
        buf[o : o + lens[i]] = np.frombuffer(objs[i], dtype=np.uint8)

    validity = pa.array(valid).buffers()[1]
    return pa.Array.from_buffers(
        pa.binary(),
        k,
        [validity, pa.py_buffer(offsets), pa.py_buffer(buf)],
        null_count=int((~valid).sum()),
    )


def _decode_plan(
    decoder: str,
    columns: Optional[Iterable[str]],
    keep_frame: bool,
    calculate_md5: bool,
    keep_payload: bool,
    strict_reference: bool,
    mode: str,
):
    """(output schema, DecodeOptions) for the shared arguments of every
    pcap front door (the DataSource parses its option strings into
    them): a ``columns`` list is pushed into the decoder as
    ``wanted`` unless it names the decoder's whole default schema, and
    naming a frame column turns ``keep_frame`` on."""
    schema = packet_schema(decoder, columns, keep_frame)
    names = set(schema.fieldNames())
    full = set(packet_schema(decoder).fieldNames())
    return schema, DecodeOptions(
        decoder=decoder,
        calculate_md5=calculate_md5,
        keep_payload=keep_payload,
        strict_reference=strict_reference,
        mode=mode,
        wanted=None if columns is None or names - _FRAME_COLS == full else names,
        keep_frame=keep_frame or bool(names & _FRAME_COLS),
    )


def read_pcap(
    spark: SparkSession,
    path: str,
    decoder: str = "ip",
    calculate_md5: bool = False,
    keep_payload: bool = True,
    strict_reference: bool = True,
    mode: str = "FAILFAST",
    columns: Optional[Iterable[str]] = None,
    path_glob: Optional[str] = None,
    chunk_bytes: Optional[int] = None,
    keep_frame: bool = False,
    split_single_files: Optional[bool] = None,
) -> DataFrame:
    """Read pcap file(s) into a typed DataFrame.

    ``keep_frame=True`` (or a ``columns`` list naming ``frame`` /
    ``orig_len``) adds the raw captured frame bytes and the record
    header's original length — the columns :func:`write_pcap` needs to
    round-trip filtered packets back to capture files.

    The reference's pluggable-reader conf
    (``net.ripe.hadoop.pcap.io.reader.class``) becomes the ``decoder``
    argument; ``calculateMD5`` becomes ``calculate_md5``.  Decode runs
    the vectorized columnar kernel and builds Arrow batches directly.

    Plan: the driver lists the files with the one listing every pcap
    read shares (:func:`..pcap.chunked.list_captures`: top-level
    files, ``_``/``.`` names hidden, empty files dropped; ``path_glob``
    matches leaf names; ``file`` is a local file's plain path or a
    remote file's URI), plans split descriptors
    (:func:`..pcap.chunked.plan_splits`) into a ``LocalTableScan`` of
    ``min(n_descriptors, defaultParallelism)`` byte-balanced
    partitions, and ONE ``mapInArrow`` decodes them
    (:func:`decode_splits`) — no exchange, whatever the files.  It
    reads what ``spark.read.format("pcap")`` reads, without the Python
    planner workers a Python DataSource starts in every session.

    Splitting needs no knob and beats the reference's whole-file
    constraint (io/PcapInputFormat.java:72-75): a cold capture larger
    than ``chunk_bytes`` is decoded whole by one task, whose framing
    walk publishes its record-aligned split index (cached by file
    identity); every later read plans its splits, one range-read task
    each, so one N-GB capture decodes on every core.  Compressed,
    pcapng and foreign files are always decoded whole.  A plan's
    splits are fixed when the DataFrame is built: rebuild it after
    rewriting a capture.  Rows are identical either way.

    Memory: each task streams its file through record-aligned chunks
    (``chunk_bytes``, default 64 MiB — the reference's O(1)
    DataInputStream loop, PcapReader.java:75-77); remote URIs (s3/s3a,
    gs, hdfs, abfs) stream through pyarrow.fs, other schemes raise
    ValueError.  ``chunk_bytes=0`` reads each file as one chunk and
    never splits.  ``split_single_files`` is accepted and ignored."""
    import pyarrow as pa
    from urllib.parse import urlparse

    from pyspark.sql.pandas.types import to_arrow_schema

    from ..pcap.chunked import (
        DEFAULT_CHUNK_BYTES,
        list_captures,
        plan_splits,
        supports_scheme,
    )

    if chunk_bytes is None:
        chunk_bytes = DEFAULT_CHUNK_BYTES
    if not supports_scheme(urlparse(path).scheme):
        raise ValueError(
            "read_pcap reads local paths and pyarrow.fs-reachable URIs "
            f"(s3/s3a, gs, hdfs, abfs), not {path!r}"
        )
    schema, opts = _decode_plan(
        decoder, columns, keep_frame,
        calculate_md5, keep_payload, strict_reference, mode,
    )
    files = list_captures(posixpath.join(path, path_glob) if path_glob else path)
    splits = plan_splits(files, chunk_bytes)
    slices = _slice_balanced(
        [n_bytes for _p, _off, n_bytes, _first in splits],
        max(1, min(len(splits), spark.sparkContext.defaultParallelism)),
    )
    names = SPLIT_SCHEMA.fieldNames()
    descriptors = pa.Table.from_pylist(
        [dict(zip(names, splits[i])) for sl in slices for i in sl],
        schema=to_arrow_schema(SPLIT_SCHEMA),
    )
    return spark.createDataFrame(descriptors, SPLIT_SCHEMA).mapInArrow(
        _split_decoder(schema, opts, chunk_bytes), schema
    )


# One split descriptor: a whole file is (path, -1, size, 1); a split of
# a published index is (path, offset, n_bytes, first_pkt).
SPLIT_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType(), False),
        T.StructField("offset", T.LongType(), False),
        T.StructField("n_bytes", T.LongType(), False),
        T.StructField("first_pkt", T.LongType(), False),
    ]
)


def decode_splits(
    splits: Iterable[tuple],
    schema: T.StructType,
    opts: DecodeOptions,
    chunk_bytes: int,
):
    """The one decode behind every file-based pcap read (``read_pcap``,
    ``read_pcap_stream``, ``format("pcap")`` batch and streaming):
    ``(path, offset, n_bytes, first_pkt)`` descriptors → Arrow
    RecordBatches of ``schema``, ``pkt_no`` rebased by ``first_pkt``.
    A split (``offset >= 0``) is range-read; a whole file streams
    through ``chunk_bytes`` chunks in bounded memory and, when larger
    than ``chunk_bytes``, publishes its split index on the way.
    ``mode`` governs decode errors and unreadable files alike."""
    from ..pcap.chunked import read_split, stream_file_chunks

    for path, offset, n_bytes, first_pkt in splits:
        if offset < 0:
            feed = stream_file_chunks(
                [path], chunk_bytes,
                permissive=opts.mode == "PERMISSIVE",
                publish_index=0 < chunk_bytes < n_bytes,
            )
        else:
            feed = [(path, read_split(path, offset, n_bytes))]
        # one decode call per descriptor: feeding consecutive splits of
        # one path through one call would let the chunk-continuation
        # logic count their records twice
        yield from decode_files_to_arrow_columnar(
            feed, schema, opts, pkt_base=first_pkt - 1
        )


def _split_decoder(schema, opts, chunk_bytes: int):
    """:func:`decode_splits` as a ``mapInArrow`` function over
    :data:`SPLIT_SCHEMA` rows.  binaryFile's ``file:/x/a.pcap`` paths
    (``read_pcap_stream``) become the plain path every door gives."""
    from ..pcap.chunked import local_path

    def decode(batches):
        for rb in batches:
            paths, *rest = (c.to_pylist() for c in rb.columns)
            yield from decode_splits(
                zip(map(local_path, paths), *rest), schema, opts, chunk_bytes
            )

    return decode


def decode_frames(
    df: DataFrame,
    frame_col: str = "frame",
    ts_col: Optional[str] = None,
    link_type: int = 1,
    decoder: str = "ip",
    calculate_md5: bool = False,
    keep_payload: bool = True,
    strict_reference: bool = True,
    mode: str = "FAILFAST",
    columns: Optional[Iterable[str]] = None,
) -> DataFrame:
    """Decode raw link-layer FRAMES already sitting in a DataFrame
    column — the message-bus deployment shape (packets arriving as
    Kafka/event rows, no capture files anywhere).  The reference can
    only ever read files through its InputFormat; here the decode
    kernel is a column transformation, so the same kernel serves both
    at-rest captures and in-flight packet streams (``df`` may be a
    STREAMING DataFrame — ``mapInArrow`` works identically and the
    per-partition ordinal just continues per micro-batch partition).

    Mechanics: per Arrow batch, the rows' frames are framed into ONE
    in-memory classic capture (global header + a record per row;
    ``ts_col`` supplies epoch-seconds timestamps — fractional parts
    become ts_usec — else ts=0) and run through the SAME columnar
    kernel as :func:`read_pcap`, so every column renders identically
    to the file path.  ``pkt_no`` is a 1-based ordinal per PARTITION
    (rebased across batches); ``file`` is the literal ``<frames>``.
    NULL frames are skipped.  Cost: one memcpy to assemble the
    synthetic capture, then the usual vectorized decode — no Python
    per-row work."""
    import struct as _struct

    schema, opts = _decode_plan(
        decoder, columns, False,
        calculate_md5, keep_payload, strict_reference, mode,
    )
    cols = [frame_col] + ([ts_col] if ts_col else [])
    src = df.select(*cols)
    gh = _struct.pack(
        "<IHHiIII", 0xA1B2C3D4, 2, 4, 0, 0, 65535, int(link_type)
    )

    def fn(batches):
        base = 0
        for rb in batches:
            frames = rb.column(0).to_pylist()
            if ts_col:
                tss = rb.column(1).to_pylist()
            else:
                tss = None
            parts = [gh]
            n = 0
            for i, fr in enumerate(frames):
                if fr is None:
                    continue
                t = float(tss[i]) if tss is not None and tss[i] is not None else 0.0
                # round to whole microseconds BEFORE splitting: rounding
                # only the fraction turns x.9999996 into usec=1000000
                sec, usec = divmod(int(round(t * 1_000_000)), 1_000_000)
                b = bytes(fr)
                parts.append(
                    _struct.pack("<IIII", sec, usec, len(b), len(b)) + b
                )
                n += 1
            if not n:
                continue
            yield from decode_files_to_arrow_columnar(
                iter([("<frames>", b"".join(parts))]), schema, opts,
                pkt_base=base,
            )
            base += n

    return src.mapInArrow(fn, schema)


_BINARYFILE_STREAM_SCHEMA = (
    "path string, modificationTime timestamp, length long, content binary"
)


def read_pcap_stream(
    spark: SparkSession,
    path: str,
    decoder: str = "ip",
    calculate_md5: bool = False,
    keep_payload: bool = True,
    strict_reference: bool = True,
    mode: str = "FAILFAST",
    columns: Optional[Iterable[str]] = None,
    path_glob: Optional[str] = None,
    chunk_bytes: Optional[int] = None,
    keep_frame: bool = False,
    max_files_per_trigger: Optional[int] = None,
) -> DataFrame:
    """STREAMING capture ingestion: tail a directory where rotated
    capture files land (the live deployment shape the reference's
    batch InputFormat cannot express) and emit decoded packet rows as
    a Structured Streaming DataFrame — compose with watermarked
    windows / flows / writeStream like any other stream.

    Same file-atomic arrival contract and the same columnar decode as
    the DSv2 streaming source (`spark.readStream.format("pcap")`,
    datasource.py::PcapStreamReader); the difference is discovery:
    here file listing and offsets ride Spark's own binaryFile
    FileStreamSource (checkpointed listing, maxFilesPerTrigger,
    cleanSource options all inherited), there a watermark-on-mtime
    offset the source keeps itself.  This door stays on
    FileStreamSource because Spark 4.1's Python
    ``DataSourceStreamReader`` has no read limit, so only here does
    ``max_files_per_trigger`` bound an ``availableNow`` batch.  Both
    list what batch reads list (top-level files, ``_``/``.`` names
    hidden, empty files skipped) and give the same ``file`` values.

    Mechanics: the ``binaryFile`` file STREAM discovers newly landed
    files per micro-batch; its ``path`` (``file:`` stripped) and
    ``length`` columns become whole-file descriptors (never
    ``content``), so each task streams
    its file through the same record-aligned chunked feed as the
    batch reader (O(1) memory, decompression included) — the decode
    is literally shared (:func:`decode_splits`).
    ``max_files_per_trigger`` bounds micro-batch size for steady-state
    latency.

    Semantics: a capture FILE is the atomic unit of arrival (files
    are assumed complete when they land — the standard rotation
    contract); ``pkt_no`` is per-file as in batch, so batch and
    streaming decode of the same files are row-identical
    (hash-checked by the driver via streaming_pcap_ingest and
    pytest batch-equivalence).

    Scale: discovery cost is one listing per trigger; decode
    parallelism follows files-per-batch.  Requires the streamed
    chunked path (local or pyarrow.fs-reachable URI)."""
    from urllib.parse import urlparse

    from ..pcap.chunked import DEFAULT_CHUNK_BYTES, supports_scheme

    if chunk_bytes is None:
        chunk_bytes = DEFAULT_CHUNK_BYTES
    if not (chunk_bytes and supports_scheme(urlparse(path).scheme)):
        raise ValueError(
            "read_pcap_stream requires the streamed chunked path "
            "(local path or pyarrow.fs-reachable URI, chunk_bytes > 0)"
        )
    schema, opts = _decode_plan(
        decoder, columns, keep_frame,
        calculate_md5, keep_payload, strict_reference, mode,
    )
    reader = spark.readStream.format("binaryFile").schema(
        _BINARYFILE_STREAM_SCHEMA
    )
    if path_glob:
        reader = reader.option("pathGlobFilter", path_glob)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", int(max_files_per_trigger))
    files = reader.load(path).select(
        "path",
        F.lit(-1).cast("long").alias("offset"),
        F.col("length").alias("n_bytes"),
        F.lit(1).cast("long").alias("first_pkt"),
    )
    return files.mapInArrow(_split_decoder(schema, opts, chunk_bytes), schema)


def _slice_balanced(weights: list, n_slices: int) -> list:
    """``n_slices`` lists of indices into ``weights``, with counts at
    most one apart and near-equal weight: heaviest first, into the
    lightest slice that still has room.  The counts follow
    ``ParallelCollectionRDD.slice``, so ``read_pcap``'s
    ``LocalTableScan`` cuts its rows along these slices; the DataSource
    packs its partitions with the same function."""
    n = len(weights)
    room = [(i + 1) * n // n_slices - i * n // n_slices for i in range(n_slices)]
    slices: list = [[] for _ in range(n_slices)]
    load = [0] * n_slices
    for i in sorted(range(n), key=lambda i: -weights[i]):
        j = min((k for k in range(n_slices) if room[k]), key=load.__getitem__)
        slices[j].append(i)
        room[j] -= 1
        load[j] += weights[i]
    return slices


def write_packets_parquet(
    df: DataFrame,
    out_path: str,
    partition_by: Optional[List[str]] = None,
    mode: str = "overwrite",
    sort_within: Optional[List[str]] = None,
) -> None:
    """Decode-once → Parquet, the 100 TB pattern.

    Adds a ``capture_date`` partition column derived from ``ts`` when
    ``partition_by`` is not given, so downstream queries get partition
    pruning on time predicates.  ``sort_within`` (default ``["ts"]``)
    sorts rows inside each task before writing: parquet row-group
    min/max stats then become tight, so time-predicate scans skip
    whole row groups, not just whole partitions — the cheap half of
    clustering, with no extra shuffle."""
    if partition_by is None:
        df = df.withColumn("capture_date", F.to_date(F.timestamp_seconds(F.col("ts"))))
        partition_by = ["capture_date"]
    if sort_within is None:
        sort_within = ["ts"] if "ts" in df.columns else []
    if sort_within:
        # partition cols FIRST: V1Writes inserts its own sort on the
        # partition columns above any user sort and EliminateSorts
        # drops the user's — a bare sortWithinPartitions(ts) before a
        # partitionBy write is a verified no-op.  Sorting
        # (partition, ts) survives and tightens row-group stats.
        df = df.sortWithinPartitions(*partition_by, *sort_within)
    df.write.mode(mode).partitionBy(*partition_by).parquet(out_path)


def write_pcap(
    df: DataFrame,
    out_path: str,
    snaplen: int = 65535,
    link_type: int = 1,
) -> List[tuple]:
    """Write packets back to classic LE-µs pcap capture files — the
    ``tcpdump -w`` / ``editcap`` motif (filter a capture, keep the
    result *as a capture*).  The reference has no sink at all; this is
    pure value-add over it.

    Requires ``ts`` and ``frame`` columns (read with
    ``keep_frame=True``); ``ts_usec`` and ``orig_len`` are used when
    present, else default to 0 / ``len(frame)``.  Rows with a NULL
    frame (e.g. the ts-only truncated-tail row) are skipped.

    One part file per non-empty partition is written into ``out_path``
    (``part-<partition_id>.pcap``, tmp+rename atomic), preserving row
    order within each partition — so a single-partition DataFrame
    round-trips byte-identically.  Placement contract: the directory
    must be writable from executor tasks and visible to whoever reads
    it (local mode or a shared filesystem — same contract as the pcap
    *read* path).  Returns [(file, n_packets), ...]; this is an
    action.

    Scale: the write is embarrassingly parallel (one task, one file,
    zero shuffles); repartition/sortWithinPartitions upstream to
    control file count and packet order.
    """
    cols = set(df.columns)
    if "frame" not in cols or "ts" not in cols:
        raise ValueError(
            "write_pcap needs 'ts' and 'frame' columns — read with "
            "read_pcap(..., keep_frame=True)"
        )
    sel = df.filter(F.col("frame").isNotNull()).select(
        F.col("ts").cast("long").alias("ts"),
        (F.col("ts_usec") if "ts_usec" in cols else F.lit(0))
        .cast("long").alias("ts_usec"),
        F.col("frame"),
        (F.col("orig_len") if "orig_len" in cols else F.length("frame"))
        .cast("long").alias("orig_len"),
        F.spark_partition_id().alias("_pid"),
    )
    os.makedirs(out_path, exist_ok=True)

    def write_partition(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import struct as _struct
        import tempfile as _tempfile

        # imported here, not by the module: every pcap DataSource
        # planner worker imports this module, and pandas is ~0.4 s of
        # each one's start-up
        import pandas as pd

        fh, tmp, final, n_rec = None, None, None, 0
        for pdf in it:
            if len(pdf) == 0:
                continue
            if fh is None:
                pid = int(pdf["_pid"].iloc[0])
                final = os.path.join(out_path, f"part-{pid:05d}.pcap")
                fd, tmp = _tempfile.mkstemp(dir=out_path, suffix=".tmp")
                fh = os.fdopen(fd, "wb")
                fh.write(
                    _struct.pack(
                        "<IHHiIII", 0xA1B2C3D4, 2, 4, 0, 0, snaplen, link_type
                    )
                )
            for ts, us, fr, ol in zip(
                pdf["ts"], pdf["ts_usec"], pdf["frame"], pdf["orig_len"]
            ):
                b = bytes(fr)
                us_i = 0 if us is None or us != us else int(us)
                ol_i = len(b) if ol is None or ol != ol else int(ol)
                fh.write(_struct.pack("<IIII", int(ts), us_i, len(b), ol_i))
                fh.write(b)
                n_rec += 1
        if fh is not None:
            fh.close()
            os.rename(tmp, final)
            yield pd.DataFrame({"file": [final], "n_packets": [n_rec]})

    out = sel.mapInPandas(write_partition, "file string, n_packets long").collect()
    return sorted((r["file"], r["n_packets"]) for r in out)
