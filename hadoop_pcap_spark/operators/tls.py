"""TLS handshake extraction from TCP flows — SNI / ALPN / version /
cipher per connection, plus JA3/JA3S client & server fingerprints.

After HTTP/1.x objects (operators/http.py), the ClientHello is the
other thing a crawl- or telemetry-capture pipeline mines from TCP
payloads: the Server Name Indication is the only cleartext record of
WHICH site an encrypted connection went to, and the JA3 fingerprint
(the md5 of a canonical rendering of the ClientHello's cipher/
extension/curve lists — the public algorithm from Salesforce's
open-source ja3 project) is the standard passive TLS-client
identifier.  The reference's only L7 hook is a per-packet payload
callback (``DnsPcapReader.processPacketPayload``,
DnsPcapReader.java:29-57) which cannot see a ClientHello that spans
TCP segments; this operator works at flow grain on the reassembled
byte streams, so split records and split handshake messages parse
correctly.

Scale notes (100 TB):

* One shuffle on the canonical TCP endpoint pair co-locates both
  directions of a connection (the :func:`..operators.http.http_objects`
  motif); ``flow_filter`` is applied BELOW the shuffle — give it a
  port predicate (443/8443) so only candidate flows ever move.
* Per connection only the HANDSHAKE PREFIX matters: directional
  streams are capped at ``max_handshake_bytes`` (default 64 KiB —
  generous for certificate chains) long before the http-style 64 MiB
  flow cap, so application-data bytes never ship into Python.
* Parsing is pure-Python over Arrow batches of connections
  (collect_list + mapInArrow, the http_objects shape); work is
  bounded by the CONNECTION count, not packets or bytes.  ``window=``
  adds a tumbling event-time bucket for endless captures.

Direction classification is by CONTENT (ClientHello vs ServerHello as
the first handshake message), not port convention.  Passive
single-point capture semantics: segment order is ``pkt_no`` capture
order; retransmits/reordering are out of scope (same documented
divergence as the DNS/HTTP reassemblers).
"""

from __future__ import annotations

import hashlib
import struct
from typing import Iterator, List, Optional, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import types as T

__all__ = [
    "TLS_SESSION_SCHEMA",
    "tls_handshakes",
    "parse_client_hello",
    "parse_server_hello",
    "handshake_messages",
    "ja3_string",
    "ja3s_string",
]

TLS_SESSION_SCHEMA = T.StructType(
    [
        T.StructField("file", T.StringType(), True),
        T.StructField("client", T.StringType(), True),
        T.StructField("server", T.StringType(), True),
        T.StructField("server_port", T.IntegerType(), True),
        T.StructField("sni", T.StringType(), True),
        T.StructField("alpn", T.StringType(), True),          # offered, ','-joined
        T.StructField("alpn_chosen", T.StringType(), True),
        T.StructField("tls_version", T.StringType(), True),   # negotiated, named
        T.StructField("cipher_suite", T.IntegerType(), True), # server-chosen
        T.StructField("ja3", T.StringType(), True),
        T.StructField("ja3_md5", T.StringType(), True),
        T.StructField("ja3s", T.StringType(), True),
        T.StructField("ja3s_md5", T.StringType(), True),
        T.StructField("server_hello_seen", T.BooleanType(), True),
    ]
)

_HANDSHAKE = 22  # TLS record content type
_CLIENT_HELLO = 1
_SERVER_HELLO = 2

_VERSION_NAMES = {
    0x0300: "SSL 3.0",
    0x0301: "TLS 1.0",
    0x0302: "TLS 1.1",
    0x0303: "TLS 1.2",
    0x0304: "TLS 1.3",
}


def _is_grease(v: int) -> bool:
    """RFC 8701 GREASE values (0x?A?A with equal nibbles) — excluded
    from JA3 strings per the public algorithm."""
    return (v & 0x0F0F) == 0x0A0A and (v >> 8) == (v & 0xFF)


def iter_tls_records(stream: bytes) -> Iterator[Tuple[int, int, bytes]]:
    """Walk the TLS record layer: yields (content_type, legacy_version,
    fragment) for each complete record; stops silently at a truncated
    tail or at bytes that cannot be a record header (permissive —
    non-TLS streams yield nothing)."""
    pos, n = 0, len(stream)
    while pos + 5 <= n:
        ctype = stream[pos]
        ver, length = struct.unpack_from(">HH", stream, pos + 1)
        # plausibility gate: known content types, SSL3+/TLS version
        # byte, sane length — anything else means "not TLS", stop
        # max TLSCiphertext fragment is 2^14 + 2048 (RFC 8446 §5.2)
        if ctype not in (20, 21, 22, 23) or (ver >> 8) != 3 or length > (1 << 14) + 2048:
            return
        if pos + 5 + length > n:
            return  # truncated final record
        yield ctype, ver, stream[pos + 5 : pos + 5 + length]
        pos += 5 + length


def handshake_messages(stream: bytes) -> Iterator[Tuple[int, bytes]]:
    """Concatenate the handshake-record fragments of one direction and
    yield complete (msg_type, body) handshake messages — messages that
    span record boundaries (and records that span TCP segments, since
    the input is the reassembled stream) come out whole."""
    buf = b"".join(frag for ct, _v, frag in iter_tls_records(stream) if ct == _HANDSHAKE)
    pos, n = 0, len(buf)
    while pos + 4 <= n:
        msg_type = buf[pos]
        length = int.from_bytes(buf[pos + 1 : pos + 4], "big")
        if pos + 4 + length > n:
            return
        yield msg_type, buf[pos + 4 : pos + 4 + length]
        pos += 4 + length


def _parse_extensions(body: bytes, pos: int) -> List[Tuple[int, bytes]]:
    """(type, data) pairs in wire order; [] when absent/truncated."""
    out: List[Tuple[int, bytes]] = []
    if pos + 2 > len(body):
        return out
    (total,) = struct.unpack_from(">H", body, pos)
    pos += 2
    end = min(pos + total, len(body))
    while pos + 4 <= end:
        etype, elen = struct.unpack_from(">HH", body, pos)
        pos += 4
        if pos + elen > end:
            break
        out.append((etype, body[pos : pos + elen]))
        pos += elen
    return out


def parse_client_hello(body: bytes) -> Optional[dict]:
    """ClientHello body (after the 4-byte handshake header) → dict with
    ``version ciphers ext_types sni alpn groups point_formats
    supported_versions``; None when the body is malformed."""
    try:
        (version,) = struct.unpack_from(">H", body, 0)
        pos = 2 + 32  # random
        sid_len = body[pos]
        pos += 1 + sid_len
        (cs_len,) = struct.unpack_from(">H", body, pos)
        pos += 2
        ciphers = list(struct.unpack_from(f">{cs_len // 2}H", body, pos))
        pos += cs_len
        comp_len = body[pos]
        pos += 1 + comp_len
    except (struct.error, IndexError):
        return None
    exts = _parse_extensions(body, pos)
    out = {
        "version": version,
        "ciphers": ciphers,
        "ext_types": [t for t, _ in exts],
        "sni": None,
        "alpn": [],
        "groups": [],
        "point_formats": [],
        "supported_versions": [],
    }
    for etype, data in exts:
        try:
            if etype == 0 and len(data) >= 5:  # server_name
                # list_len(2) entry: type(1)=0 host_len(2) host
                if data[2] == 0:
                    (hlen,) = struct.unpack_from(">H", data, 3)
                    out["sni"] = data[5 : 5 + hlen].decode("ascii", "replace")
            elif etype == 16 and len(data) >= 2:  # ALPN
                p, end = 2, 2 + struct.unpack_from(">H", data, 0)[0]
                while p < min(end, len(data)):
                    ln = data[p]
                    out["alpn"].append(
                        data[p + 1 : p + 1 + ln].decode("ascii", "replace")
                    )
                    p += 1 + ln
            elif etype == 10 and len(data) >= 2:  # supported_groups
                (glen,) = struct.unpack_from(">H", data, 0)
                out["groups"] = list(
                    struct.unpack_from(f">{min(glen, len(data) - 2) // 2}H", data, 2)
                )
            elif etype == 11 and len(data) >= 1:  # ec_point_formats
                out["point_formats"] = list(data[1 : 1 + data[0]])
            elif etype == 43 and len(data) >= 1:  # supported_versions
                vlen = data[0]
                out["supported_versions"] = list(
                    struct.unpack_from(f">{min(vlen, len(data) - 1) // 2}H", data, 1)
                )
        except (struct.error, IndexError):
            continue
    return out


def parse_server_hello(body: bytes) -> Optional[dict]:
    """ServerHello body → dict with ``version cipher ext_types alpn
    supported_version``; None when malformed."""
    try:
        (version,) = struct.unpack_from(">H", body, 0)
        pos = 2 + 32
        sid_len = body[pos]
        pos += 1 + sid_len
        (cipher,) = struct.unpack_from(">H", body, pos)
        pos += 2 + 1  # cipher + compression
    except (struct.error, IndexError):
        return None
    exts = _parse_extensions(body, pos)
    out = {
        "version": version,
        "cipher": cipher,
        "ext_types": [t for t, _ in exts],
        "alpn": None,
        "supported_version": None,
    }
    for etype, data in exts:
        try:
            if etype == 16 and len(data) >= 3:
                ln = data[2]
                out["alpn"] = data[3 : 3 + ln].decode("ascii", "replace")
            elif etype == 43 and len(data) >= 2:
                (out["supported_version"],) = struct.unpack_from(">H", data, 0)
        except (struct.error, IndexError):
            continue
    return out


def ja3_string(ch: dict) -> str:
    """The public JA3 rendering of a parsed ClientHello:
    ``version,ciphers,extensions,groups,point_formats`` with
    dash-joined decimal lists and GREASE values removed."""
    def dashed(vals):
        return "-".join(str(v) for v in vals if not _is_grease(v))

    return ",".join(
        [
            str(ch["version"]),
            dashed(ch["ciphers"]),
            dashed(ch["ext_types"]),
            dashed(ch["groups"]),
            "-".join(str(v) for v in ch["point_formats"]),
        ]
    )


def ja3s_string(sh: dict) -> str:
    """The public JA3S rendering of a parsed ServerHello:
    ``version,cipher,extensions``."""
    exts = "-".join(str(t) for t in sh["ext_types"] if not _is_grease(t))
    return ",".join([str(sh["version"]), str(sh["cipher"]), exts])


def _md5(s: str) -> str:
    return hashlib.md5(s.encode("ascii")).hexdigest()


def _version_name(v: Optional[int]) -> Optional[str]:
    if v is None:
        return None
    return _VERSION_NAMES.get(v, f"0x{v:04x}")


def first_hellos(streams) -> tuple:
    """``(client_hello, its_direction, server_hello, its_direction)``
    of a connection's ``(direction, bytes)`` streams, classified by
    CONTENT: each stream's first handshake message decides it.  A hello
    is None when absent or malformed."""
    ch = sh = None
    ch_dir = sh_dir = None
    for direction, stream in streams:
        for msg_type, body in handshake_messages(stream):
            if msg_type == _CLIENT_HELLO and ch is None:
                ch, ch_dir = parse_client_hello(body), direction
            elif msg_type == _SERVER_HELLO and sh is None:
                sh, sh_dir = parse_server_hello(body), direction
            break  # the first handshake message classifies a direction
    return ch, ch_dir, sh, sh_dir


def session_fields(ch: dict, sh: Optional[dict]) -> dict:
    """One session's columns from its parsed hellos, ``sni`` through
    ``server_hello_seen`` in TLS_SESSION_SCHEMA order."""
    ja3 = ja3_string(ch)
    ja3s = ja3s_string(sh) if sh else None
    return {
        "sni": ch["sni"],
        "alpn": ",".join(ch["alpn"]) if ch["alpn"] else None,
        "alpn_chosen": sh["alpn"] if sh else None,
        "tls_version": _version_name(
            (sh["supported_version"] or sh["version"]) if sh else None
        ),
        "cipher_suite": sh["cipher"] if sh else None,
        "ja3": ja3,
        "ja3_md5": _md5(ja3),
        "ja3s": ja3s,
        "ja3s_md5": _md5(ja3s) if ja3s else None,
        "server_hello_seen": sh is not None,
    }


def tls_handshakes(
    packets: DataFrame,
    flow_filter=None,
    max_handshake_bytes: int = 64 * 1024,
    window: "str | None" = None,
) -> DataFrame:
    """One row per TCP connection whose client stream opens with a TLS
    ClientHello (TLS_SESSION_SCHEMA): SNI, offered/chosen ALPN,
    negotiated version (ServerHello ``supported_versions`` when
    present, else the ServerHello legacy version), server-chosen
    cipher, and JA3/JA3S fingerprints.

    ``packets`` needs columns ``file src dst src_port dst_port
    protocol pkt_no payload`` (pass ``columns=[...]`` for a pruned
    decode).  Connections with no parseable ClientHello produce no
    row; a missing/unparseable ServerHello leaves the server-side
    columns NULL with ``server_hello_seen=false``.

    Execution shape: the :func:`..operators.flows.l7_segments` layout
    collected JVM-side to connection grain + ONE ``mapInArrow`` parsing
    a whole Arrow batch of connections per invocation — the same
    amortized form as ``http_objects``."""
    from .flows import (
        collect_segments, conn_endpoints, join_directions, l7_segments, map_rows,
    )

    conns = collect_segments(
        l7_segments(packets, flow_filter=flow_filter, window=window)
    )

    def _parse_connection(fname, conn, segs):
        a_ip, a_port, b_ip, b_port = conn_endpoints(conn)
        dirs = join_directions(
            (segs["pkt_no"],), segs["from_a"], segs["payload"], max_handshake_bytes
        )
        ch, ch_a, sh, sh_a = first_hellos(
            (side, stream) for side, (stream, _tr, _rows) in dirs.items()
        )
        if ch is None:
            return
        client = a_ip if ch_a else b_ip
        # no ServerHello: the other endpoint of the pair is the server
        server_a = sh_a if sh is not None else not ch_a
        server, sport = (a_ip, a_port) if server_a else (b_ip, b_port)
        yield {
            "file": fname,
            "client": client,
            "server": server,
            "server_port": sport,
            **session_fields(ch, sh),
        }

    return map_rows(
        conns, ["file", "conn", "segs"], _parse_connection, TLS_SESSION_SCHEMA
    )
