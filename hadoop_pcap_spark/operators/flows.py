"""TCP flow reassembly for DNS-over-TCP.

The reference silently yields no ``dns_*`` columns for TCP DNS — its
per-packet decoder hands the raw TCP payload (2-byte length prefix
included) to dnsjava, which throws, and the exception is swallowed
[DnsPcapReader.java:53-55].  Per-packet parsing is the wrong grain for
TCP anyway: one DNS message may span several segments, and one segment
may carry several messages (RFC 1035 §4.2.2 framing).

``reassemble_dns_tcp`` is the flow-grain operator: it keeps only
port-53 TCP segments that carry bytes, shuffles ONCE on the directional
flow 5-tuple (JVM-side ``collect_list``; a batched ``mapInPandas``
then handles a whole Arrow batch of flows per Python invocation),
orders each flow's segments, concatenates their payloads, walks the
2-byte big-endian length-prefix framing, and re-parses each complete
message with the same pure-Python RFC 1035 parser the per-packet path
uses — so a message that reassembles to the bytes of a UDP message
renders identical ``dns_*`` values.

Scale notes (100 TB):

* The shuffle carries only port-53 TCP segments with payload — a tiny,
  pre-filtered slice of the capture; filter and projection happen before
  the exchange so the wide packet columns never shuffle.
* Per-flow state is the flow's DNS byte stream, not the packet stream;
  a flow group is bounded by ``max_flow_bytes`` (default 64 MiB) — a
  hot flow beyond the cap is truncated (trailing bytes dropped) rather
  than OOMing the task, mirroring the hot-bucket guard in dedup.
* On endless captures, bucket the flow key by a time window upstream
  (``F.window(ts)``) so state stays bounded; the streaming analog is
  ``applyInPandasWithState`` with the same framing walk.

Ordering uses ``pkt_no`` (the per-file capture ordinal): capture order
is the reference's implicit processing order.  TCP retransmits and
out-of-order segments are out of scope, matching the semantics of a
passive single-point capture (documented divergence, not silent).
"""

from __future__ import annotations

from typing import Iterator, List

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

REASSEMBLED_SCHEMA = T.StructType(
    [
        T.StructField("file", T.StringType(), True),
        T.StructField("src", T.StringType(), True),
        T.StructField("dst", T.StringType(), True),
        T.StructField("src_port", T.IntegerType(), True),
        T.StructField("dst_port", T.IntegerType(), True),
        T.StructField("n_segments", T.IntegerType(), True),
        T.StructField("msg_no", T.IntegerType(), True),
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
)

_FLOW_KEY = ["file", "src", "dst", "src_port", "dst_port"]


def canonical_pair_exprs():
    """The ONE definition of connection-key canonicalization, shared
    by every consumer (batch extractors here, the SQL front-door
    queries, the streaming L7 operators' ``conn`` key): returns
    ``(a_first, src_ep, dst_ep)`` where ``a_first`` is true when the (src,
    src_port) endpoint sorts first (string IP order; NULL port sorts
    as -1) and the two struct expressions are ``{ip, port}`` endpoint
    structs.  A drift between copies would silently split one
    connection into two keys — hence the single helper."""
    src_ep = F.struct(F.col("src").alias("ip"), F.col("src_port").alias("port"))
    dst_ep = F.struct(F.col("dst").alias("ip"), F.col("dst_port").alias("port"))
    a_first = (F.col("src") < F.col("dst")) | (
        (F.col("src") == F.col("dst"))
        & (F.coalesce(F.col("src_port"), F.lit(-1))
           <= F.coalesce(F.col("dst_port"), F.lit(-1)))
    )
    return a_first, src_ep, dst_ep


def connection_segments(
    packets: DataFrame,
    flow_filter=None,
    window: "str | None" = None,
    with_seq: bool = False,
) -> DataFrame:
    """Payload-bearing TCP segments grouped to CONNECTION grain: one
    row per canonical (unordered) endpoint pair with the connection's
    segments collected as ``segs: array<struct<src, src_port, pkt_no,
    payload>>`` — the shared substrate of the L7 extractors
    (:mod:`.http`, :mod:`.tls`).

    Shape matters at scale: the ``collect_list`` aggregation happens
    JVM-side (one shuffle on the pair key, whole-stage codegen), and
    downstream extractors consume the result with ``mapInPandas`` so
    ONE Python invocation parses a whole Arrow batch of connections —
    per-connection Python overhead is amortized across the batch,
    unlike per-group ``applyInPandas``, whose fixed cost per group (one
    pandas conversion per column, then a frame) dominates when
    connections are small and numerous.  The streaming HTTP operator
    pays the same per-group conversion: ~7.3 ms of Python CPU per group
    call with ten columns, ~4.7 ms with five (``pcap_stream``, 4-core
    host, per-task costs included).  ``flow_filter`` applies before
    the shuffle.

    ``window`` (a duration string, e.g. ``"5 minutes"``) adds a
    tumbling event-time bucket on ``ts`` to the group key — the
    endless-capture lever: group state is then bounded by
    connections-per-window, not capture length.  REQUIRES a ``ts``
    column (add ``"ts"`` to any pruned ``columns=`` decode).  A
    connection straddling a boundary parses per window chunk (objects
    spanning the cut are lost — the documented bounded-state
    tradeoff; size the window ≫ typical connection duration)."""
    segments = packets.filter(
        (F.col("protocol") == "TCP")
        & F.col("payload").isNotNull()
        & (F.length("payload") > 0)
    )
    if flow_filter is not None:
        segments = segments.filter(flow_filter)
    a_first, src_ep, dst_ep = canonical_pair_exprs()
    seg_fields = ["src", "src_port", "pkt_no", "payload"] + (
        ["tcp_seq"] if with_seq else []
    )
    cols = [
        "file",
        F.when(a_first, src_ep).otherwise(dst_ep).alias("_a"),
        F.when(a_first, dst_ep).otherwise(src_ep).alias("_b"),
        *seg_fields,
    ]
    keys = ["file", "_a", "_b"]
    if window is not None:
        cols.append(
            F.window(F.timestamp_seconds(F.col("ts")), window).alias("_w")
        )
        keys.append("_w")
    return (
        segments.select(*cols)
        .groupBy(*keys)
        .agg(F.collect_list(F.struct(*seg_fields)).alias("segs"))
    )


def directional_streams(segs, max_bytes: int, order: str = "capture") -> list:
    """Pure helper for the L7 extractors: a connection's collected
    segments (dicts with ``src src_port pkt_no payload``) → list of
    ``((src, src_port), stream_bytes, truncated)`` per direction,
    segments concatenated in capture (``pkt_no``) order — or, with
    ``order="seq"`` (segments then carry ``tcp_seq``), per-direction
    seq-HEALED via :func:`_seq_order` (duplicates dropped, reordering
    repaired) — each direction capped at ``max_bytes``."""
    if order == "seq":
        by_dir: dict = {}
        for s in sorted(segs, key=lambda s: s["pkt_no"]):
            port = s["src_port"]
            by_dir.setdefault(
                (s["src"], None if port is None else int(port)), []
            ).append(s)
        # the healed per-direction order MUST survive — re-sorting by
        # pkt_no below would undo the seq repair, so iterate healed
        ordered = [s for d in by_dir.values() for s in _seq_order(d)]
    else:
        ordered = sorted(segs, key=lambda s: s["pkt_no"])
    out: dict = {}
    sizes: dict = {}
    trunc: dict = {}
    for s in ordered:
        port = s["src_port"]
        dkey = (s["src"], None if port is None else int(port))
        have = sizes.get(dkey, 0)
        if have >= max_bytes:
            trunc[dkey] = True
            continue
        b = bytes(s["payload"])
        if have + len(b) > max_bytes:
            b = b[: max_bytes - have]
            trunc[dkey] = True
        out.setdefault(dkey, []).append(b)
        sizes[dkey] = have + len(b)
    return [
        (k, b"".join(v), trunc.get(k, False)) for k, v in out.items()
    ]


def _join_capped(segs, max_bytes: int) -> tuple:
    """Ordered segments' payloads joined up to ``max_bytes`` (the
    hot-flow guard) → ``(stream, truncated)``; reaching the cap exactly
    still truncates if a payload-bearing segment remains unread."""
    chunks: List[bytes] = []
    total = 0
    for si, s in enumerate(segs):
        if s["payload"] is None:
            continue
        b = bytes(s["payload"])
        if total + len(b) > max_bytes:
            chunks.append(b[: max_bytes - total])
            return b"".join(chunks), True
        chunks.append(b)
        total += len(b)
        if total >= max_bytes:
            rest = any(t["payload"] is not None for t in segs[si + 1 :])
            return b"".join(chunks), rest
    return b"".join(chunks), False


def map_rows(df: DataFrame, cols: list, fn, schema: T.StructType) -> DataFrame:
    """``fn(*values)`` → output row dicts for every row of ``df``'s
    ``cols``, in ONE ``mapInPandas`` (a Python call per Arrow batch of
    groups, not per group).  Only ``cols`` reach Python: mapInPandas
    is opaque to column pruning."""
    names = schema.fieldNames()

    def batch_fn(batches):
        for pdf in batches:
            rows = [r for vals in zip(*(pdf[c] for c in cols)) for r in fn(*vals)]
            yield pd.DataFrame(rows, columns=names)

    return df.select(*cols).mapInPandas(batch_fn, schema)


def _frame_messages(stream: bytes) -> List[bytes]:
    """Walk RFC 1035 §4.2.2 2-byte length-prefix framing; an incomplete
    trailing message (capture cut mid-flow) is dropped, not an error."""
    out: List[bytes] = []
    pos, n = 0, len(stream)
    while pos + 2 <= n:
        mlen = int.from_bytes(stream[pos : pos + 2], "big")
        if mlen == 0 or pos + 2 + mlen > n:
            break
        out.append(stream[pos + 2 : pos + 2 + mlen])
        pos += 2 + mlen
    return out


def dns_messages(frames: List[bytes], first_no: int = 1) -> Iterator[tuple]:
    """``(msg_no, parsed message)`` per framed DNS message; ``msg_no``
    counts every frame from ``first_no``, and a frame that fails to
    parse is skipped silently (parity with the per-packet path)."""
    from ..pcap import dns as _dns

    for no, raw in enumerate(frames, start=first_no):
        try:
            msg = _dns.parse_message(raw)
        except Exception:
            continue
        yield no, msg


def dns_columns(msg) -> dict:
    """A parsed DNS message's ``dns_*`` columns."""
    return {
        "dns_queryid": msg.query_id,
        "dns_flags": msg.flags_text,
        "dns_qr": msg.qr,
        "dns_opcode": msg.opcode_text,
        "dns_rcode": msg.rcode_text,
        "dns_qname": msg.qname,
        "dns_qtype": msg.qtype,
        "dns_qtype_str": msg.qtype_text,
        "dns_answer": msg.answers,
        "dns_authority": msg.authority,
        "dns_additional": msg.additional,
    }


def reassemble_dns_tcp(
    packets: DataFrame,
    max_flow_bytes: int = 64 * 1024 * 1024,
    window: "str | None" = None,
) -> DataFrame:
    """Reassemble DNS-over-TCP flows from a ``read_pcap`` DataFrame and
    return one row per complete DNS message (REASSEMBLED_SCHEMA).

    ``packets`` needs columns ``file src dst src_port dst_port protocol
    pkt_no payload`` (the default ``read_pcap`` schema; pass
    ``columns=[...]`` with exactly these for a pruned decode).

    Execution shape: JVM-side ``collect_list`` to flow grain, then one
    ``mapInPandas`` parsing a whole Arrow batch of flows per
    invocation (the :func:`connection_segments` amortization — a busy
    resolver trace is exactly the many-small-flows shape where
    per-group ``applyInPandas`` overhead dominates)."""
    segments = packets.filter(
        (F.col("protocol") == "TCP")
        & ((F.col("src_port") == 53) | (F.col("dst_port") == 53))
        & F.col("payload").isNotNull()
        & (F.length("payload") > 0)
    )
    # project BEFORE the shuffle: only the flow key + ordinal + bytes
    # (+ the optional window bucket) move
    cols = [*_FLOW_KEY, "pkt_no", "payload"]
    keys = list(_FLOW_KEY)
    if window is not None:  # endless-capture state bound (see connection_segments)
        cols.append(F.window(F.timestamp_seconds(F.col("ts")), window).alias("_w"))
        keys.append("_w")
    segments = segments.select(*cols)
    flows = segments.groupBy(*keys).agg(
        F.collect_list(F.struct("pkt_no", "payload")).alias("segs")
    )

    def _parse_flow(file, src, dst, sp, dp, segs):
        segs = sorted(segs, key=lambda s: s["pkt_no"])
        stream, _cut = _join_capped(segs, max_flow_bytes)
        for i, msg in dns_messages(_frame_messages(stream)):
            yield {
                "file": file,
                "src": src,
                "dst": dst,
                "src_port": None if pd.isna(sp) else int(sp),
                "dst_port": None if pd.isna(dp) else int(dp),
                "n_segments": int(len(segs)),
                "msg_no": i,
                **dns_columns(msg),
            }

    return map_rows(flows, [*_FLOW_KEY, "segs"], _parse_flow, REASSEMBLED_SCHEMA)


TCP_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("file", T.StringType(), True),
        T.StructField("src", T.StringType(), True),
        T.StructField("dst", T.StringType(), True),
        T.StructField("src_port", T.IntegerType(), True),
        T.StructField("dst_port", T.IntegerType(), True),
        T.StructField("n_segments", T.IntegerType(), True),
        T.StructField("first_pkt_no", T.LongType(), True),
        T.StructField("stream_len", T.IntegerType(), True),
        T.StructField("truncated", T.BooleanType(), True),
        T.StructField("stream", T.BinaryType(), True),
    ]
)


def _seq_order(segs: list) -> list:
    """Capture-ordered segments (dicts with ``tcp_seq``/``payload``) →
    seq-ordered, de-retransmitted, overlap-trimmed list.  Relative seq
    = (tcp_seq - first_seen_seq) mod 2^32, so a flow crossing the
    32-bit wrap still orders correctly (capture shorter than 2 GiB of
    in-flight span — the realistic case).  Exact duplicates drop
    (first capture wins); a segment overlapping already-delivered
    bytes is trimmed to its new suffix; segments without a seq (e.g. a
    decode cut before the field) keep capture order at their position
    by inheriting the running delivered edge."""
    first = None
    for s in segs:
        if s.get("tcp_seq") is not None:
            first = int(s["tcp_seq"])
            break
    if first is None:
        return segs
    keyed = []
    for i, s in enumerate(segs):
        seq = s.get("tcp_seq")
        rel = ((int(seq) - first) % (1 << 32)) if seq is not None else None
        keyed.append((rel, i, s))
    # stable sort: seq-less rows keep capture position via prior rel
    last_rel = 0
    for j, (rel, i, s) in enumerate(keyed):
        if rel is None:
            keyed[j] = (last_rel, i, s)
        else:
            last_rel = rel
    keyed.sort(key=lambda t: (t[0], t[1]))
    out = []
    edge = 0  # next expected relative byte
    for rel, _i, s in keyed:
        b = s["payload"]
        if b is None:
            continue
        b = bytes(b)
        if rel + len(b) <= edge:
            continue  # pure retransmission: fully delivered already
        if rel < edge:
            b = b[edge - rel:]  # overlap: keep the new suffix only
            rel = edge
        t = dict(s)
        t["payload"] = b
        out.append(t)
        edge = rel + len(b)
    return out


def reassemble_tcp_streams(
    packets: DataFrame,
    flow_filter=None,
    max_flow_bytes: int = 64 * 1024 * 1024,
    window: "str | None" = None,
    order: str = "capture",
) -> DataFrame:
    """Generic TCP stream reassembly: one row per DIRECTIONAL flow
    5-tuple with the flow's ordered payload byte stream — the
    generalization of the port-53 walk :func:`reassemble_dns_tcp`
    hard-codes, and the substrate every L7 extractor (HTTP objects,
    TLS records, custom protocols) parses.  This is the Spark-side
    analog of the reference's whole extension story — its only L7
    hook is a per-packet ``processPacketPayload`` callback
    [DnsPcapReader.java:29-57], which cannot see across segment
    boundaries; flow grain can.

    ``flow_filter`` is an optional Column predicate applied BEFORE
    the shuffle (e.g. ``(F.col("dst_port") == 80) |
    (F.col("src_port") == 80)``) — push it down so only the flows an
    extractor wants ever move.  Without it, every payload-carrying
    TCP segment shuffles.

    Scale notes (100 TB): identical contract to the DNS walk — the
    single shuffle carries (flow key, pkt_no, payload) only; per-flow
    state is the flow's byte stream, capped at ``max_flow_bytes``
    (``truncated=true`` rather than an OOM); for endless captures
    bucket the key by a time window upstream.

    Ordering: ``order="capture"`` (default) concatenates in ``pkt_no``
    capture order — the passive-single-point semantics the DNS
    reassembler documents; retransmits/reordering are then out of
    scope.  ``order="seq"`` (r13; requires decoding the opt-in
    ``tcp_seq`` column — ``columns=[..., "tcp_seq"]``) orders segments
    by TCP sequence number relative to the flow's first-seen seq
    (mod-2^32 unwrap, so wraparound mid-flow is handled), DROPS
    retransmitted duplicates (same relative seq: first capture wins)
    and TRIMS overlapping prefixes — reordered and retransmitted
    captures reassemble to the byte stream the endpoints actually
    exchanged, removing the capture-order divergence for opt-in
    callers.

    Execution shape: the group-to-flow step is a JVM-side
    ``collect_list`` (whole-stage codegen), and ONE ``mapInPandas``
    invocation assembles a whole Arrow batch of flows — the same
    per-group-overhead amortization as :func:`connection_segments`
    (per-group ``applyInPandas`` pays a fixed pandas conversion per
    column per flow, ~5-7 ms of Python CPU at five to ten columns, the
    dominant term on many-small-flow captures)."""
    if order not in ("capture", "seq"):
        raise ValueError(f"order must be 'capture' or 'seq', got {order!r}")
    if order == "seq" and "tcp_seq" not in packets.columns:
        raise ValueError(
            "order='seq' needs the opt-in tcp_seq column — decode with "
            "columns=[..., 'tcp_seq']"
        )
    segments = packets.filter(
        (F.col("protocol") == "TCP")
        & F.col("payload").isNotNull()
        & (F.length("payload") > 0)
    )
    if flow_filter is not None:
        segments = segments.filter(flow_filter)
    seg_fields = ["pkt_no", "payload"] + (["tcp_seq"] if order == "seq" else [])
    cols = [*_FLOW_KEY, *seg_fields]
    keys = list(_FLOW_KEY)
    if window is not None:  # endless-capture state bound (see connection_segments)
        cols.append(F.window(F.timestamp_seconds(F.col("ts")), window).alias("_w"))
        keys.append("_w")
    flows = (
        segments.select(*cols)
        .groupBy(*keys)
        .agg(
            F.collect_list(F.struct(*seg_fields)).alias("segs"),
        )
    )

    def _join_flow(file, src, dst, sp, dp, segs):
        segs = sorted(segs, key=lambda s: s["pkt_no"])
        if order == "seq":
            segs = _seq_order(segs)
        stream, truncated = _join_capped(segs, max_flow_bytes)
        yield {
            "file": file,
            "src": src,
            "dst": dst,
            "src_port": None if pd.isna(sp) else int(sp),
            "dst_port": None if pd.isna(dp) else int(dp),
            "n_segments": int(len(segs)),
            "first_pkt_no": int(segs[0]["pkt_no"]),
            "stream_len": len(stream),
            "truncated": truncated,
            "stream": stream,
        }

    return map_rows(flows, [*_FLOW_KEY, "segs"], _join_flow, TCP_STREAM_SCHEMA)


IPV4_REASSEMBLED_SCHEMA = T.StructType(
    [
        T.StructField("file", T.StringType(), True),
        T.StructField("src", T.StringType(), True),
        T.StructField("dst", T.StringType(), True),
        T.StructField("protocol", T.StringType(), True),
        T.StructField("ip_ident", T.IntegerType(), True),
        T.StructField("src_port", T.IntegerType(), True),
        T.StructField("dst_port", T.IntegerType(), True),
        T.StructField("n_fragments", T.IntegerType(), True),
        T.StructField("complete", T.BooleanType(), True),
        T.StructField("payload_len", T.IntegerType(), True),
        T.StructField("payload", T.BinaryType(), True),
    ]
)


def reassemble_ipv4_fragments(
    packets: DataFrame,
    max_datagram_bytes: int = 64 * 1024 * 1024,
) -> DataFrame:
    """Reassemble fragmented IPv4 datagrams at flow grain (VERDICT r12
    item 3): one row per (src, dst, protocol, ip_ident) datagram with
    the recovered L4 ports and payload — the bytes the reference
    garbles (it ignores the flags/offset word and parses "ports" out
    of mid-datagram bytes on non-first fragments, PcapReader.java:322
    region; SURVEY §1.4).

    Needs the non-strict decode's fragment metadata columns
    (``frag frag_offset frag_mf frag_body ip_ident``; strict mode
    keeps the reference quirk and emits none).  Per datagram:

    * fragments order by body byte offset (``frag_offset``; capture
      order ``pkt_no`` breaks duplicate-offset ties — first retransmit
      wins, later duplicates drop);
    * ``complete`` = offset 0 present, offsets contiguous
      (each fragment starts where the previous body ended), and the
      last fragment has MF clear;
    * the concatenated body re-parses as UDP (8-byte header) or TCP
      (data-offset × 4) to recover src/dst ports and the true L4
      payload; other protocols (or a missing first fragment) surface
      the raw reassembled bytes with NULL ports.

    Scale notes (100 TB): only FRAGMENT rows shuffle (tiny slice of a
    capture — fragmentation is rare on modern paths), projected to
    the datagram key + offset + body before the exchange.  Per-group
    state is one datagram, capped at ``max_datagram_bytes``
    (complete=false rather than an OOM).  For endless captures bucket
    the key by a time window upstream — ident is only 16 bits, so
    long captures can reuse (src,dst,ident); within a window the
    (src,dst,proto,ident,offset) tie-break keeps reuse from
    corrupting output (duplicate offsets drop deterministically).

    Execution shape: JVM-side ``collect_list`` to datagram grain, then
    one ``mapInPandas`` reassembling a whole Arrow batch of datagrams
    per Python invocation (the :func:`connection_segments`
    amortization)."""
    grouped = (
        packets.filter(F.col("frag") & F.col("frag_body").isNotNull())
        .select(
            "file", "src", "dst", "protocol", "ip_ident",
            "pkt_no", "frag_offset", "frag_mf", "frag_body",
        )
        .groupBy("file", "src", "dst", "protocol", "ip_ident")
        .agg(
            F.collect_list(
                F.struct("frag_offset", "pkt_no", "frag_mf", "frag_body")
            ).alias("frags")
        )
    )

    def _reassemble(file, src, dst, proto, ident, frag_rows):
        frag_rows = sorted(
            frag_rows, key=lambda r: (r["frag_offset"], r["pkt_no"])
        )
        seen_off = set()
        ordered = []
        for r in frag_rows:  # duplicate offsets drop — first retransmit wins
            if r["frag_offset"] in seen_off:
                continue
            seen_off.add(r["frag_offset"])
            ordered.append(r)
        chunks: List[bytes] = []
        expect = 0
        total = 0
        contiguous = True
        truncated = False
        last_mf = True
        for r in ordered:
            off = int(r["frag_offset"])
            body = bytes(r["frag_body"])
            if off != expect:
                contiguous = False
            if total + len(body) > max_datagram_bytes:
                body = body[: max_datagram_bytes - total]
                truncated = True
            chunks.append(body)
            total += len(body)
            expect = off + len(body)  # next fragment must start here
            last_mf = bool(r["frag_mf"])
            if truncated:
                break
        datagram = b"".join(chunks)
        complete = contiguous and not last_mf and not truncated
        sp = dp = None
        payload = datagram
        first_present = int(ordered[0]["frag_offset"]) == 0
        if first_present and proto == "UDP" and len(datagram) >= 8:
            sp = int.from_bytes(datagram[0:2], "big")
            dp = int.from_bytes(datagram[2:4], "big")
            payload = datagram[8:]
        elif first_present and proto == "TCP" and len(datagram) >= 20:
            sp = int.from_bytes(datagram[0:2], "big")
            dp = int.from_bytes(datagram[2:4], "big")
            doff = (datagram[12] >> 4) * 4
            payload = datagram[doff:] if doff >= 20 else datagram[20:]
        yield {
            "file": file,
            "src": src,
            "dst": dst,
            "protocol": proto,
            "ip_ident": None if pd.isna(ident) else int(ident),
            "src_port": sp,
            "dst_port": dp,
            "n_fragments": int(len(ordered)),
            "complete": complete,
            "payload_len": len(payload),
            "payload": payload,
        }

    return map_rows(
        grouped,
        ["file", "src", "dst", "protocol", "ip_ident", "frags"],
        _reassemble,
        IPV4_REASSEMBLED_SCHEMA,
    )


def flow_stats(packets: DataFrame, bidirectional: bool = True) -> DataFrame:
    """NetFlow-style flow export: one row per flow with packet/byte
    counts, time bounds and per-direction splits — the other weekly
    job of a packet engineer (the reference's README counts packets
    per port; this is the flow-grain generalization).

    ``bidirectional=True`` canonicalizes the 5-tuple so both
    directions of a conversation land in one row (endpoint A = the
    lexicographically smaller (ip, port) pair); ``False`` keeps
    unidirectional flows.  All expressions are JVM-side built-ins —
    a single groupBy shuffle on the flow key, map-side partial aggs.

    Output: (file, proto, ip_a, port_a, ip_b, port_b, n_packets,
    n_bytes, first_ts, last_ts, duration_s, a_to_b_packets,
    b_to_a_packets) — bytes = captured frame sizes (``size``).

    Scale: the flow key is high-cardinality and hash-uniform (no hot
    reducer); at 100 TB this is scan → partial agg → one exchange.
    For endless captures add a time bucket to the key upstream
    (``F.window(ts)``) — same pattern as the reassembler."""
    a_first, src_ep, dst_ep = canonical_pair_exprs()
    if bidirectional:
        ep_a = F.when(a_first, src_ep).otherwise(dst_ep)
        ep_b = F.when(a_first, dst_ep).otherwise(src_ep)
        fwd = a_first
    else:
        ep_a, ep_b, fwd = src_ep, dst_ep, F.lit(True)
    keyed = packets.filter(
        F.col("src").isNotNull() & F.col("dst").isNotNull()
    ).select(
        "file",
        F.col("protocol").alias("proto"),
        ep_a.alias("_a"),
        ep_b.alias("_b"),
        fwd.alias("_fwd"),
        "ts",
        "ts_usec",
        F.coalesce(F.col("size"), F.lit(0)).alias("size"),
    )
    us = F.col("ts") * F.lit(1_000_000) + F.coalesce(F.col("ts_usec"), F.lit(0))
    return (
        keyed.withColumn("_us", us)
        .groupBy("file", "proto", "_a", "_b")
        .agg(
            F.count("*").alias("n_packets"),
            F.sum("size").alias("n_bytes"),
            F.min("_us").alias("_first_us"),
            F.max("_us").alias("_last_us"),
            F.sum(F.when(F.col("_fwd"), 1).otherwise(0)).alias("a_to_b_packets"),
            F.sum(F.when(F.col("_fwd"), 0).otherwise(1)).alias("b_to_a_packets"),
        )
        .select(
            "file",
            "proto",
            F.col("_a.ip").alias("ip_a"),
            F.col("_a.port").alias("port_a"),
            F.col("_b.ip").alias("ip_b"),
            F.col("_b.port").alias("port_b"),
            "n_packets",
            "n_bytes",
            (F.col("_first_us") / 1e6).alias("first_ts"),
            (F.col("_last_us") / 1e6).alias("last_ts"),
            ((F.col("_last_us") - F.col("_first_us")) / 1e6).alias("duration_s"),
            "a_to_b_packets",
            "b_to_a_packets",
        )
    )
