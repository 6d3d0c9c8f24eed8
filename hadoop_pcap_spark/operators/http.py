"""HTTP/1.x object extraction from TCP flows — the captures→documents
bridge.

The reference's whole L7 extension story is a per-packet payload
callback (``DnsPcapReader.processPacketPayload``,
DnsPcapReader.java:29-57), which cannot parse a protocol whose
messages span segments.  This module works at flow grain: both
directions of a TCP connection are reassembled (ordered payload
concat, the :mod:`flows` contract), the request stream and the
response stream are parsed as HTTP/1.x message sequences
(RFC 9112 framing: Content-Length, chunked transfer coding, and
close-delimited bodies), requests are paired with responses in
pipeline order, and each pair becomes one ``(url, status,
content_type, body)`` row — the raw material of a
crawl-capture→training-corpus pipeline, feeding the existing text
(functions/text.py) and multimodal (operators/multimodal.py)
operators directly.

Scale notes (100 TB):

* The single shuffle carries only payload-bearing TCP segments that
  pass ``flow_filter`` — push a port predicate down so only candidate
  HTTP flows ever move; wide packet columns are projected away before
  the exchange.
* Per-connection state is the two directional byte streams, capped at
  ``max_flow_bytes`` each (``body_truncated`` rather than an OOM) —
  the same hot-flow guard as the DNS reassembler.
* Parsing is pure-Python over Arrow batches of connections
  (collect_list to connection grain JVM-side, then one mapInArrow —
  flows.l7_segments, flows.map_rows): bytes move once, Python invocations
  scale with batches, and the connection count — not the packet
  count — bounds task-side work.  ``window=`` adds a tumbling
  event-time bucket to the connection key for endless captures.
* Gzip/deflate content decoding uses the stdlib (deterministic, no
  optional deps); undecodable bodies are kept raw and flagged.

Ordering uses ``pkt_no`` (capture order) per direction — the passive
single-point-capture semantics documented on
:func:`..operators.flows.reassemble_dns_tcp`; TCP retransmits and
reordering are out of scope (documented divergence, not silent).
"""

from __future__ import annotations

import gzip
import re
import zlib
from typing import List, Optional, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import types as T

__all__ = [
    "HTTP_OBJECT_SCHEMA",
    "desynchronized",
    "http_objects",
    "parse_requests",
    "parse_responses",
]

HTTP_OBJECT_SCHEMA = T.StructType(
    [
        T.StructField("file", T.StringType(), True),
        T.StructField("client", T.StringType(), True),
        T.StructField("server", T.StringType(), True),
        T.StructField("server_port", T.IntegerType(), True),
        T.StructField("obj_no", T.IntegerType(), True),
        T.StructField("method", T.StringType(), True),
        T.StructField("url", T.StringType(), True),
        T.StructField("status", T.IntegerType(), True),
        T.StructField("content_type", T.StringType(), True),
        T.StructField("content_encoding", T.StringType(), True),
        T.StructField("chunked", T.BooleanType(), True),
        T.StructField("body_len", T.IntegerType(), True),
        T.StructField("body_truncated", T.BooleanType(), True),
        T.StructField("body", T.BinaryType(), True),
    ]
)

_METHODS = (
    b"GET ", b"POST ", b"PUT ", b"HEAD ", b"DELETE ", b"OPTIONS ",
    b"PATCH ", b"TRACE ", b"CONNECT ",
)

# statuses that never carry a body (RFC 9112 §6.3)
_NO_BODY_STATUS = frozenset({204, 304})


def _split_head(stream: bytes, pos: int) -> Tuple[Optional[bytes], int]:
    """(header block incl. start line, position after CRLFCRLF) or
    (None, pos) when no complete header block remains."""
    end = stream.find(b"\r\n\r\n", pos)
    if end < 0:
        return None, pos
    return stream[pos:end], end + 4


def _headers(block: bytes) -> Tuple[bytes, dict]:
    """(start line, {lowercased name: value str}) — duplicate names
    keep the LAST value (sufficient for framing headers)."""
    lines = block.split(b"\r\n")
    hdrs: dict = {}
    for ln in lines[1:]:
        c = ln.find(b":")
        if c <= 0:
            continue
        hdrs[ln[:c].strip().lower().decode("latin-1")] = (
            ln[c + 1 :].strip().decode("latin-1")
        )
    return lines[0], hdrs


_HEXDIG = re.compile(rb"[0-9A-Fa-f]+")
_DIGITS = re.compile(r"[0-9]+")


def _chunk_size(line: bytes) -> Optional[int]:
    """A chunk-size line's size (extensions dropped), or None when it is
    not ``1*HEXDIG`` (RFC 9112 §7.1 — a sign, ``0x`` or ``_`` is
    desync)."""
    tok = line.split(b";")[0].strip()
    return int(tok, 16) if _HEXDIG.fullmatch(tok) else None


def _content_length(value: str) -> Optional[int]:
    """A Content-Length value (the first of a list), or None when it is
    not ``1*DIGIT`` (RFC 9112 §8.6; anything else is desync)."""
    value = value.split(",")[0].strip()
    return int(value) if _DIGITS.fullmatch(value) else None


def _request_line_ok(line: bytes) -> bool:
    return line.startswith(_METHODS) and len(line.split(b" ")) >= 3


def _status(line: bytes) -> Optional[int]:
    """A status line's code, or None when the line is no HTTP/1.x
    status line."""
    if not line.startswith(b"HTTP/1."):
        return None
    try:
        return int(line.split(b" ")[1])
    except (IndexError, ValueError):
        return None


def _bodiless(status: int, method: Optional[str]) -> bool:
    """A response that carries no body bytes on the wire whatever its
    framing headers say (RFC 9112 §6.3)."""
    return method == "HEAD" or status in _NO_BODY_STATUS or 100 <= status < 200


def _read_chunked(stream: bytes, pos: int) -> Tuple[bytes, int, bool]:
    """Decode chunked transfer coding from ``pos``; returns (body,
    position after the terminating CRLF, complete?).  An incomplete
    tail (capture cut mid-chunk) or a chunk size that is not
    ``1*HEXDIG`` returns what decoded so far with complete=False."""
    out: List[bytes] = []
    n = len(stream)
    while True:
        eol = stream.find(b"\r\n", pos)
        if eol < 0:
            return b"".join(out), n, False
        size = _chunk_size(stream[pos:eol])
        if size is None:
            return b"".join(out), n, False
        pos = eol + 2
        if size == 0:
            # trailer section: zero or more header lines then CRLF
            end = stream.find(b"\r\n", pos)
            while end >= 0 and end != pos:  # non-empty line = trailer
                pos = end + 2
                end = stream.find(b"\r\n", pos)
            if end < 0:
                return b"".join(out), n, False
            return b"".join(out), end + 2, True
        if pos + size + 2 > n:
            out.append(stream[pos : min(pos + size, n)])
            return b"".join(out), n, False
        out.append(stream[pos : pos + size])
        pos += size + 2  # chunk data + its CRLF


def _read_body(
    stream: bytes, pos: int, hdrs: dict, to_close: bool, at_end: bool
) -> Tuple[bytes, int, bool]:
    """The body framed at ``pos`` → (body, position after it,
    complete?).  Chunked coding wins over Content-Length, which must be
    ``1*DIGIT`` (anything else is desync: incomplete).
    With neither, a response body (``to_close``) runs to stream end and
    is complete only ``at_end``; a request has none."""
    if "chunked" in hdrs.get("transfer-encoding", "").lower():
        return _read_chunked(stream, pos)
    n = len(stream)
    cl = hdrs.get("content-length")
    if cl is not None:
        cl = _content_length(cl)
        if cl is None:
            return b"", n, False
        end = pos + cl
        return stream[pos:end], min(end, n), end <= n
    if to_close:
        return stream[pos:], n, at_end
    return b"", pos, True


def _decode_body(body: bytes, enc: Optional[str]) -> Tuple[bytes, Optional[str]]:
    """Undo a gzip/deflate Content-Encoding with the stdlib → (body,
    ``<enc>;decoded``); a failure keeps the raw bytes and ``enc``, so
    an undecodable body is flagged by its encoding."""
    if enc not in ("gzip", "x-gzip", "deflate") or not body:
        return body, enc
    try:
        if enc == "deflate":
            try:
                return zlib.decompress(body), enc + ";decoded"
            except zlib.error:
                return zlib.decompress(body, -zlib.MAX_WBITS), enc + ";decoded"
        return gzip.decompress(body), enc + ";decoded"
    except (OSError, zlib.error, EOFError):
        return body, enc


def parse_requests(stream: bytes, at_end: bool = True) -> Tuple[List[dict], int]:
    """The request stream as ``(requests, consumed)``: {method, target,
    host} per request in pipeline order, and the offset parsing stopped
    at.  Request bodies (Content-Length / chunked) are consumed and
    discarded — the request contributes the URL.

    ``at_end=False`` (a live stream) stops at the first request whose
    body is incomplete, ``consumed`` at its start: the caller carries
    ``stream[consumed:]`` into the next micro-batch, so a split request
    is parsed once, when its last byte arrives.  ``at_end=True`` (the
    flow has ended) also emits a request whose body was cut."""
    out: List[dict] = []
    pos = 0
    while True:
        start_pos = pos
        block, pos = _split_head(stream, pos)
        if block is None:
            return out, start_pos
        start, hdrs = _headers(block)
        if not _request_line_ok(start):
            return out, start_pos  # desynchronized: stop rather than emit garbage
        parts = start.split(b" ")
        _body, pos, complete = _read_body(stream, pos, hdrs, False, at_end)
        if not (complete or at_end):
            return out, start_pos  # body incomplete: wait for more
        out.append(
            {
                "method": parts[0].decode("latin-1"),
                "target": parts[1].decode("latin-1"),
                "host": hdrs.get("host"),
            }
        )


def parse_responses(
    stream: bytes,
    methods: Optional[List[str]] = None,
    decode_content: bool = True,
    at_end: bool = True,
) -> Tuple[List[dict], int]:
    """The response stream as ``(responses, consumed)``: {status,
    content_type, content_encoding, chunked, body, truncated} per
    response in pipeline order, and the offset parsing stopped at.

    ``methods`` (the paired requests' methods, pipeline order) decides
    HEAD framing: a HEAD response carries headers but NO body bytes on
    the wire regardless of Content-Length (RFC 9112 §6.3).  A response
    with no Content-Length and no chunked coding is close-delimited —
    the rest of the stream (only valid as the final response).

    ``at_end=True`` (the flow has ended) emits a cut tail as
    ``truncated`` and reads a close-delimited body to stream end.
    ``at_end=False`` (a live stream) stops at the first incomplete or
    close-delimited response, ``consumed`` at its start, as
    :func:`parse_requests` does.

    ``decode_content=True`` undoes gzip/deflate Content-Encoding
    (:func:`_decode_body`)."""
    out: List[dict] = []
    pos = 0
    while True:
        start_pos = pos
        block, pos = _split_head(stream, pos)
        if block is None:
            return out, start_pos
        start, hdrs = _headers(block)
        status = _status(start)
        if status is None:
            return out, start_pos  # desynchronized
        i = len(out)
        method = methods[i] if methods and i < len(methods) else None
        if _bodiless(status, method):
            body, complete = b"", True
        else:
            body, pos, complete = _read_body(stream, pos, hdrs, True, at_end)
            if not (complete or at_end):
                return out, start_pos
        enc = hdrs.get("content-encoding", "").lower() or None
        if decode_content:
            body, enc = _decode_body(body, enc)
        out.append(
            {
                "status": status,
                "content_type": hdrs.get("content-type"),
                "content_encoding": enc,
                "chunked": "chunked" in hdrs.get("transfer-encoding", "").lower(),
                "body": body,
                "truncated": not complete,
            }
        )


def desynchronized(
    residual: bytes, request: bool, method: Optional[str] = None
) -> bool:
    """Whether a live parse stopped at ``residual`` for good, not for
    want of bytes.  ``residual`` is the stream from the ``consumed``
    offset :func:`parse_requests` (``request=True``) or
    :func:`parse_responses` returned with ``at_end=False``; ``method``
    is the request the next response answers.  True when its first
    line is complete but no HTTP start line, or its header block is
    complete and frames the body with a chunk size or Content-Length
    that is not plain digits: no later bytes can make it parse."""
    eol = residual.find(b"\r\n")
    if eol < 0:
        return False
    line = residual[:eol]
    if request:
        if not _request_line_ok(line):
            return True
    else:
        status = _status(line)
        if status is None:
            return True
        if _bodiless(status, method):
            return False
    block, pos = _split_head(residual, 0)
    if block is None:
        return False
    _start, hdrs = _headers(block)
    if "chunked" in hdrs.get("transfer-encoding", "").lower():
        while True:
            eol = residual.find(b"\r\n", pos)
            if eol < 0:
                return False
            size = _chunk_size(residual[pos:eol])
            if size is None:
                return True
            if size == 0:
                return False
            pos = eol + 2 + size + 2  # chunk data + its CRLF
    cl = hdrs.get("content-length")
    return cl is not None and _content_length(cl) is None


def request_url(rq: dict, server: Optional[str], port: Optional[int]) -> str:
    """A parsed request's URL: an absolute-form (proxy) target as is,
    else ``http://<Host><target>`` — Host-less requests fall back to
    the server endpoint ``server[:port]``."""
    target = rq["target"]
    if target.startswith(("http://", "https://")):
        return target
    host = rq["host"] or (server if port is None else f"{server}:{port}")
    return f"http://{host or ''}{target}"


def http_exchanges(
    req_stream: bytes,
    resp_stream: bytes,
    server: Optional[str],
    port: Optional[int],
    decode_content: bool = True,
    resp_cut: bool = False,
) -> List[Tuple[str, str, dict]]:
    """A finished connection's ``(method, url, response)`` objects,
    paired in pipeline order.  ``resp_cut`` (the response stream hit a
    byte cap) marks the last response truncated: a close-delimited
    body would otherwise report truncated=False."""
    requests, _ = parse_requests(req_stream)
    responses, _ = parse_responses(
        resp_stream,
        methods=[r["method"] for r in requests],
        decode_content=decode_content,
    )
    if responses and resp_cut:
        responses[-1]["truncated"] = True
    return [
        (rq["method"], request_url(rq, server, port), rs)
        for rq, rs in zip(requests, responses)
    ]


def object_fields(obj_no: int, method, url, rs: dict) -> dict:
    """One HTTP object's columns, ``obj_no`` through ``body`` in
    HTTP_OBJECT_SCHEMA order."""
    return {
        "obj_no": obj_no,
        "method": method,
        "url": url,
        "status": rs["status"],
        "content_type": rs["content_type"],
        "content_encoding": rs["content_encoding"],
        "chunked": rs["chunked"],
        "body_len": len(rs["body"]),
        "body_truncated": rs["truncated"],
        "body": rs["body"],
    }


def classify_stream(stream: bytes) -> Optional[str]:
    """A directional stream's role by CONTENT, so no port convention is
    assumed: ``"req"`` when it opens with an HTTP method token,
    ``"resp"`` when it opens with ``HTTP/1.``, else None."""
    if stream.startswith(_METHODS):
        return "req"
    if stream.startswith(b"HTTP/1."):
        return "resp"
    return None


def never_http(stream: bytes) -> bool:
    """True once a directional stream can no longer open as HTTP/1.x:
    it is non-empty and neither begins with an HTTP method token or
    ``HTTP/1.`` nor is a proper prefix of one (``GE`` and ``HTTP/``
    may still grow into one).  :func:`http_objects` emits a
    connection's rows only when one direction classifies as ``"req"``
    and the other as ``"resp"``, so a connection with such a direction
    yields no rows, whatever bytes follow."""
    return bool(stream) and not any(
        stream.startswith(t) or t.startswith(stream)
        for t in _METHODS + (b"HTTP/1.",)
    )


def http_objects(
    packets: DataFrame,
    flow_filter=None,
    max_flow_bytes: int = 64 * 1024 * 1024,
    decode_content: bool = True,
    window: "str | None" = None,
    order: str = "capture",
) -> DataFrame:
    """One row per HTTP/1.x request/response pair across all TCP
    connections in a ``read_pcap`` DataFrame (HTTP_OBJECT_SCHEMA).

    ``packets`` needs columns ``file src dst src_port dst_port
    protocol pkt_no payload`` (pass ``columns=[...]`` for a pruned
    decode).  ``flow_filter`` is pushed below the shuffle — give it a
    port predicate (e.g. 80/8080) so non-HTTP flows never move; by
    default every payload-bearing TCP flow is a candidate and
    non-HTTP connections parse to zero rows.

    The connection key is the CANONICAL (unordered) endpoint pair, so
    one shuffle co-locates both directions; request vs response
    direction is decided by stream content, not port numbers.

    Execution shape: each connection's segments in the
    :func:`..operators.flows.l7_segments` layout, collected JVM-side
    (one shuffle), then ONE ``mapInArrow`` whose each invocation parses
    a whole Arrow batch of connections — per-connection Python overhead
    amortizes across the batch (per-connection ``applyInArrow``
    measured +65-85% on this stage).

    ``order="seq"`` (needs the opt-in ``tcp_seq`` column in
    ``columns=``) heals each direction by TCP sequence number before
    parsing — retransmitted duplicates drop and reordered segments
    re-sort, so damaged crawl captures still yield correct objects;
    the default stays capture order."""
    from .flows import (
        collect_segments, conn_endpoints, join_directions, l7_segments, map_rows,
    )

    conns = collect_segments(
        l7_segments(packets, flow_filter=flow_filter, order=order, window=window)
    )

    def _parse_connection(fname, conn, segs):
        a_ip, a_port, b_ip, b_port = conn_endpoints(conn)
        ends = {True: (a_ip, a_port), False: (b_ip, b_port)}
        req = resp = None
        dirs = join_directions(
            (segs["pkt_no"],), segs["from_a"], segs["payload"], max_flow_bytes,
            seq=segs.get("tcp_seq"),
        )
        for side, (stream, cut, _rows) in dirs.items():
            role = classify_stream(stream)
            if role == "req":
                req = (ends[side], stream)
            elif role == "resp":
                resp = (ends[side], stream, cut)
        if req is None or resp is None:
            return
        (client, _cport), req_stream = req
        (server, sport), resp_stream, resp_cut = resp
        objs = http_exchanges(
            req_stream, resp_stream, server, sport, decode_content, resp_cut
        )
        for i, (method, url, rs) in enumerate(objs, start=1):
            yield {
                "file": fname,
                "client": client,
                "server": server,
                "server_port": sport,
                **object_fields(i, method, url, rs),
            }

    # the window bucket _w (when windowed) never reaches Python;
    # direction is decided by stream CONTENT
    return map_rows(
        conns, ["file", "conn", "segs"], _parse_connection, HTTP_OBJECT_SCHEMA
    )
