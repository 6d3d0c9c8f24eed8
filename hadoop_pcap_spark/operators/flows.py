"""TCP flow reassembly: the L7 operators' shared segment layout and
direction join, and the DNS-over-TCP, generic TCP stream and IPv4
fragment reassemblers.

The reference silently yields no ``dns_*`` columns for TCP DNS — its
per-packet decoder hands the raw TCP payload (2-byte length prefix
included) to dnsjava, which throws, and the exception is swallowed
[DnsPcapReader.java:53-55].  Per-packet parsing is the wrong grain for
TCP anyway: one DNS message may span several segments, and one segment
may carry several messages (RFC 1035 §4.2.2 framing).

``reassemble_dns_tcp`` is the flow-grain operator: it keeps only
port-53 TCP segments that carry bytes, shuffles ONCE on the directional
flow 5-tuple (JVM-side ``collect_list``; a batched ``mapInArrow``
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


def canonical_pair_exprs():
    """The ONE definition of connection-key canonicalization, shared
    by every consumer (the ``conn`` key of :func:`l7_segments`, the SQL
    front-door queries, :func:`flow_stats`): returns ``(a_first,
    src_ep, dst_ep)`` where ``a_first`` is true when the (src,
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


# --- the L7 operators' one segment layout and one direction join -------------
#
# Every L7 operator, batch and streaming, reads payload-bearing TCP
# segments in one narrow layout (:func:`l7_segments`): ONE string key
# and a few value columns.  Batch operators collect each connection's
# segments JVM-side (``collect_list``, one shuffle) and parse whole
# Arrow batches of connections in one ``mapInArrow`` (:func:`map_rows`);
# the streaming operators group the same layout in
# ``applyInPandasWithState``.  Both join a group's payloads per
# direction with :func:`join_directions` (a numpy sort, then one
# ``b"".join`` per direction; a byte cap adds a length pass).
# Per-connection ``groupBy().applyInArrow`` was tried for the batch
# operators and measured +65-85% on the ``http_objects`` and
# ``tls_handshakes`` stages (pcap_l7 inputs, local[4]): its fixed cost
# per group dominates when connections are small and numerous.


def l7_segments(
    packets: DataFrame,
    directional: bool = False,
    flow_filter=None,
    order: str = "capture",
    window: "str | None" = None,
    stream: bool = False,
) -> DataFrame:
    """The payload-bearing TCP segments of ``packets`` in the L7
    operators' narrow layout:

    * ``file`` — batch only: a connection never spans capture files.
    * ``conn`` — ``"ip|port|ip|port"``, the one connection key.  By
      default the canonical (unordered) connection from
      :func:`canonical_pair_exprs`, a-side first; ``directional=True``
      keys the directed flow (src, src_port, dst, dst_port) instead.
      A NULL field renders as ``""`` (plain ``concat_ws`` would skip
      it and shift the later fields); :func:`conn_endpoints` parses it
      back.
    * ``from_a`` — the row's source is the key's a-side (canonical keys
      only; a self-connection puts both directions on the a-side).
    * ``t_us`` — ``stream=True`` only: ``ts`` · 10⁶ + ``ts_usec``
      (``ts_usec`` when the input carries it); with ``pkt_no`` the
      capture order, also across the rotated files of one
      micro-batch, where ``pkt_no`` restarts.
    * ``pkt_no``, ``payload``;
    * ``tcp_seq`` — ``order="seq"`` only (the opt-in decode column);
    * ``_w`` — ``window`` only: a tumbling event-time bucket on ``ts``
      (a duration string, e.g. ``"5 minutes"``), the endless-capture
      lever: group state is then bounded by connections per window.
      A connection straddling a boundary parses per window chunk.

    ``flow_filter`` (a Column predicate, e.g. a port test) applies
    before any shuffle, so only the flows an operator wants move."""
    if order not in ("capture", "seq"):
        raise ValueError(f"order must be 'capture' or 'seq', got {order!r}")
    if order == "seq" and "tcp_seq" not in packets.columns:
        raise ValueError(
            "order='seq' needs the opt-in tcp_seq column — decode with "
            "columns=[..., 'tcp_seq']"
        )
    segs = packets.filter(
        (F.col("protocol") == "TCP")
        & F.col("payload").isNotNull()
        & (F.length("payload") > 0)
    )
    if flow_filter is not None:
        segs = segs.filter(flow_filter)
    if directional:
        ends = [F.col("src"), F.col("src_port"), F.col("dst"), F.col("dst_port")]
        side = []
    else:
        a_first, src_ep, dst_ep = canonical_pair_exprs()
        a = F.when(a_first, src_ep).otherwise(dst_ep)
        b = F.when(a_first, dst_ep).otherwise(src_ep)
        ends = [a["ip"], a["port"], b["ip"], b["port"]]
        side = [F.coalesce(a_first, F.lit(False)).alias("from_a")]
    conn = F.concat_ws(
        "|", *(F.coalesce(e.cast("string"), F.lit("")) for e in ends)
    )
    cols = [] if stream else ["file"]
    cols += [conn.alias("conn"), *side]
    if stream:
        usec = (
            F.coalesce(F.col("ts_usec").cast("long"), F.lit(0))
            if "ts_usec" in packets.columns else F.lit(0)
        )
        cols.append((F.col("ts").cast("long") * 1_000_000 + usec).alias("t_us"))
    cols += [F.col("pkt_no").cast("long").alias("pkt_no"), "payload"]
    if order == "seq":
        cols.append("tcp_seq")
    if window is not None:
        cols.append(F.window(F.timestamp_seconds(F.col("ts")), window).alias("_w"))
    return segs.select(*cols)


def collect_segments(segments: DataFrame) -> DataFrame:
    """Batch :func:`l7_segments` rows → one row per ``file, conn[,
    _w]`` group with its segments collected JVM-side as ``segs:
    array<struct<pkt_no, [from_a,] payload[, tcp_seq]>>``."""
    keys = [c for c in ("file", "conn", "_w") if c in segments.columns]
    fields = [c for c in segments.columns if c not in keys]
    return segments.groupBy(*keys).agg(
        F.collect_list(F.struct(*fields)).alias("segs")
    )


def conn_endpoints(conn: str) -> tuple:
    """``conn`` key → ``(ip, port, ip, port)`` in key order; the empty
    field of a NULL endpoint part comes back as None."""
    ip1, p1, ip2, p2 = conn.split("|")
    return (
        ip1 or None, int(p1) if p1 else None,
        ip2 or None, int(p2) if p2 else None,
    )


def join_directions(keys, from_a, payload, max_bytes=None, seq=None) -> dict:
    """One group's segments → ``{side: (stream, truncated, rows)}``, one
    entry per direction in first-appearance order; ``side`` is the
    ``from_a`` value (every segment is a-side when ``from_a`` is None).

    ``keys`` are the order-key arrays, most significant first (batch:
    ``(pkt_no,)``; stream: ``(t_us, pkt_no)``); ties keep input order.
    With ``seq`` (the ``tcp_seq`` values, None/NaN where unknown) each
    direction is healed by :func:`_seq_order` first.  ``max_bytes``
    caps each direction's stream (the hot-flow guard): ``truncated`` is
    true when payload bytes past the cap were dropped — reaching the
    cap exactly still truncates if more payload follows.  ``rows`` are
    the input positions of the direction's segments in stream order
    (after healing, before the cap)."""
    import numpy as np

    order = np.lexsort(tuple(np.asarray(k) for k in reversed(keys)))
    n = len(order)
    payload = np.asarray(payload, dtype=object)
    if from_a is None:
        side, sides = np.ones(n, bool), [True] if n else []
    else:
        side = np.asarray(from_a, bool)[order]
        _vals, first = np.unique(side, return_index=True)
        sides = [bool(side[i]) for i in np.sort(first)]
    out = {}
    for s in sides:
        rows = order[side == s]
        if seq is None:
            chunks = payload[rows]
        else:
            kept, chunks = _seq_order(np.asarray(seq, dtype=float)[rows], payload[rows])
            rows = rows[kept]
        if max_bytes is not None:
            lens = np.fromiter(map(len, chunks), np.int64, len(chunks))
        if max_bytes is None or lens.sum() <= max_bytes:
            out[s] = (b"".join(chunks), False, rows)
            continue
        k = int(np.searchsorted(np.cumsum(lens), max_bytes, side="right"))
        head = b"".join(chunks[:k])
        out[s] = (head + chunks[k][: max_bytes - len(head)], True, rows)
    return out


def _seq_order(seq, payload) -> tuple:
    """One direction's capture-ordered ``tcp_seq`` (NaN where unknown)
    and payloads → ``(kept, chunks)``: the positions kept in seq order
    and their payloads, de-retransmitted and overlap-trimmed.

    Relative seq = (tcp_seq - first_seen_seq) mod 2^32, so a flow
    crossing the 32-bit wrap still orders correctly (capture shorter
    than 2 GiB of in-flight span — the realistic case).  Exact
    duplicates drop (first capture wins); a segment overlapping
    already-delivered bytes is trimmed to its new suffix; segments
    without a seq (e.g. a decode cut before the field) keep capture
    order at their position by inheriting the previous segment's
    relative seq (0 before the first known one)."""
    import numpy as np

    n = len(seq)
    known = ~np.isnan(seq)
    if not known.any():
        return np.arange(n), list(payload)
    rel = np.where(known, np.mod(seq - seq[known][0], 1 << 32), 0).astype(np.int64)
    last = np.maximum.accumulate(np.where(known, np.arange(n), -1))
    rel = np.where(last >= 0, rel[np.maximum(last, 0)], 0)
    order = np.argsort(rel, kind="stable")
    start = rel[order]
    end = start + np.fromiter(map(len, payload), np.int64, n)[order]
    # the delivered edge before each segment: every kept segment moves
    # it to its end, a dropped one lies wholly below it
    edge = np.concatenate(([0], np.maximum.accumulate(end)[:-1]))
    keep = end > edge
    trim = np.maximum(edge - start, 0)[keep]
    kept = order[keep]
    return kept, [payload[i][t:] if t else payload[i] for i, t in zip(kept, trim)]


def map_rows(df: DataFrame, cols: list, fn, schema: T.StructType) -> DataFrame:
    """``fn(*values)`` → output row dicts for every row of ``df``'s
    ``cols``, in ONE ``mapInArrow`` (a Python call per Arrow batch of
    groups, not per group).  Scalar columns arrive as Python values; a
    list-of-struct column (a :func:`collect_segments` ``segs``) arrives
    as a dict of numpy arrays, the row's slice of each child array —
    flattened once per Arrow batch.  Only ``cols`` reach Python:
    mapInArrow is opaque to column pruning."""
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(schema)

    def batch_fn(batches):
        import pyarrow as pa

        for batch in batches:
            values = [_arrow_values(c) for c in batch.columns]
            rows = [r for vals in zip(*values) for r in fn(*vals)]
            yield pa.RecordBatch.from_pylist(rows, schema=arrow_schema)

    return df.select(*cols).mapInArrow(batch_fn, schema)


def _arrow_values(arr) -> list:
    """An Arrow column's per-row values for :func:`map_rows`."""
    import pyarrow as pa

    if not (pa.types.is_list(arr.type) and pa.types.is_struct(arr.type.value_type)):
        return arr.to_pylist()
    offs = arr.offsets.to_numpy()
    offs = offs - offs[0]
    flat = arr.flatten()
    fields = {
        flat.type.field(i).name: child.to_numpy(zero_copy_only=False)
        for i, child in enumerate(flat.flatten())
    }
    return [
        {k: v[offs[i]:offs[i + 1]] for k, v in fields.items()}
        for i in range(len(arr))
    ]


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


def dns_ports():
    """The DNS-over-TCP flow filter of :func:`reassemble_dns_tcp` and
    the streaming DNS operator: either port is 53."""
    return (F.col("src_port") == 53) | (F.col("dst_port") == 53)


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

    Execution shape: the :func:`l7_segments` layout under the
    directional ``conn`` key, a JVM-side ``collect_list`` to flow grain,
    then one ``mapInArrow`` parsing a whole Arrow batch of flows per
    invocation (:func:`map_rows` — a busy resolver trace is exactly the
    many-small-flows shape where per-group Python overhead dominates)."""
    flows = collect_segments(
        l7_segments(packets, directional=True, flow_filter=dns_ports(), window=window)
    )

    def _parse_flow(file, conn, segs):
        src, src_port, dst, dst_port = conn_endpoints(conn)
        ((stream, _cut, rows),) = join_directions(
            (segs["pkt_no"],), None, segs["payload"], max_flow_bytes
        ).values()
        for i, msg in dns_messages(_frame_messages(stream)):
            yield {
                "file": file,
                "src": src,
                "dst": dst,
                "src_port": src_port,
                "dst_port": dst_port,
                "n_segments": len(rows),
                "msg_no": i,
                **dns_columns(msg),
            }

    return map_rows(flows, ["file", "conn", "segs"], _parse_flow, REASSEMBLED_SCHEMA)


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

    Execution shape: as :func:`reassemble_dns_tcp` — the
    :func:`l7_segments` layout under the directional ``conn`` key, a
    JVM-side ``collect_list``, and one ``mapInArrow`` assembling a whole
    Arrow batch of flows per invocation."""
    flows = collect_segments(
        l7_segments(
            packets, directional=True, flow_filter=flow_filter, order=order,
            window=window,
        )
    )

    def _join_flow(file, conn, segs):
        src, sp, dst, dp = conn_endpoints(conn)
        ((stream, truncated, rows),) = join_directions(
            (segs["pkt_no"],), None, segs["payload"], max_flow_bytes,
            seq=segs.get("tcp_seq"),
        ).values()
        yield {
            "file": file,
            "src": src,
            "dst": dst,
            "src_port": sp,
            "dst_port": dp,
            "n_segments": len(rows),
            "first_pkt_no": int(segs["pkt_no"][rows[0]]),
            "stream_len": len(stream),
            "truncated": truncated,
            "stream": stream,
        }

    return map_rows(flows, ["file", "conn", "segs"], _join_flow, TCP_STREAM_SCHEMA)


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
    one ``mapInArrow`` reassembling a whole Arrow batch of datagrams
    per Python invocation (:func:`map_rows`)."""
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

    def _reassemble(file, src, dst, proto, ident, frags):
        import numpy as np

        offs, mfs, bodies = frags["frag_offset"], frags["frag_mf"], frags["frag_body"]
        seen_off = set()
        ordered = []
        for i in np.lexsort((frags["pkt_no"], offs)):
            if offs[i] in seen_off:  # duplicate offsets drop — first retransmit wins
                continue
            seen_off.add(offs[i])
            ordered.append(i)
        chunks: List[bytes] = []
        expect = 0
        total = 0
        contiguous = True
        truncated = False
        last_mf = True
        for i in ordered:
            off = int(offs[i])
            body = bytes(bodies[i])
            if off != expect:
                contiguous = False
            if total + len(body) > max_datagram_bytes:
                body = body[: max_datagram_bytes - total]
                truncated = True
            chunks.append(body)
            total += len(body)
            expect = off + len(body)  # next fragment must start here
            last_mf = bool(mfs[i])
            if truncated:
                break
        datagram = b"".join(chunks)
        complete = contiguous and not last_mf and not truncated
        sp = dp = None
        payload = datagram
        first_present = int(offs[ordered[0]]) == 0
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
            "ip_ident": ident,
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
