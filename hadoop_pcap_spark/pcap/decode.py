"""Pure-Python libpcap decode kernel.

Re-implements, from the public libpcap file-format specification, the
decode semantics of the reference engine's ``PcapReader`` /
``DnsPcapReader`` (see /root/reference/hadoop-pcap-lib/src/main/java/
net/ripe/hadoop/pcap/PcapReader.java and DnsPcapReader.java — behavior
studied, no code copied).  Every quirk of the reference that is
observable through its output is preserved behind
``strict_reference=True`` (the default) and documented inline:

* classic little-endian pcap only (magic 0xA1B2C3D4 after LE decode;
  big-endian / nanosecond magics are rejected)  [PcapReader.java:21-22,
  93-108,234-236]
* ``ts`` is epoch **seconds** — ts_usec is dropped  [PcapReader.java:25,
  174] (we additionally expose ``ts_usec`` since Spark can carry it; the
  strict column set ignores it)
* link types NULL(0) / EN10MB(1) / RAW(101) / LOOP(108) only; anything
  else raises  [PcapReader.java:23,110-112,238-254].  Non-strict mode
  additionally accepts LINUX_SLL(113) — Linux "cooked" any-interface
  captures, the most common real-capture link type the reference
  family misses (16-byte pseudo-header, protocol at offset 14, one
  802.1Q tag skipped)
* empty file → zero records, no error  [PcapReader.java:94-105]
* truncated final record → a packet carrying only ``ts``
  [PcapReader.java:177-180]
* one 802.1Q VLAN tag is skipped on EN10MB  [PcapReader.java:283-303];
  ``ether_type`` still reads only offset 12, so every tagged frame
  renders as ``vlan`` (inner type shown only when
  ``strict_reference=False``)  [PcapReader.java:256-280]
* IPv4 protocol byte is read **signed**, so ids > 127 render as
  negative decimal strings  [PcapReader.java:322]
* IPv6 extension-header chain walk with Fragment detection;
  ``ext_headers`` is the concatenated ``[Name]`` list **including the
  terminal protocol** (and ``[59]`` for no-next-header); non-Fragment
  extension headers advance by the reference's buggy ``1 + len`` bytes
  (RFC-correct ``(1 + len) * 8`` only when ``strict_reference=False``);
  the key is absent (not empty) when the chain walk never ran
  [PcapReader.java:368-417]
* UDP checksum recomputed over the (possibly caplen-truncated) capture
  bytes with the reference's IPv4-style 12-byte pseudo-header built
  from offsets ``ipStart+12/+16`` and the **wire** UDP-length field —
  for IPv6 those offsets land inside the source address, so v6 udpsum
  is garbage-parity; RFC-correct pseudo-headers only when
  ``strict_reference=False``.  Key omitted when the wire checksum field
  is 0; value 0 means valid  [PcapReader.java:123-165]
* DNS parse attempted iff src or dst port is 53; parse failures are
  silently swallowed (fields stay absent)  [DnsPcapReader.java:23,38,53-55]

Divergences (conscious, documented):

* non-strict mode additionally accepts pcapng, nanosecond-classic and
  big-endian-classic captures via the normalization front-end in
  :mod:`.formats` (sub-µs timestamps truncate to µs); strict mode
  rejects them exactly like the reference  [PcapReader.java:107-108]
* IPv6 addresses render in RFC 5952 compressed lowercase form (Python
  ``ipaddress``), where Java's ``Inet6Address`` renders the full
  uncompressed form.  [SURVEY.md D15]
* DNS resource records render in our own single-spaced presentation
  format, equivalent to dnsjava's output after the reference's
  whitespace normalization for the common RR types.  [SURVEY.md N4]
"""

from __future__ import annotations

import bz2
import gzip
import hashlib
import ipaddress
import lzma
import struct
from dataclasses import dataclass, field
from typing import Any, Iterator, Optional

from . import dns as _dns

# --- constants (public libpcap / IANA values) -------------------------------

MAGIC_LE = 0xA1B2C3D4  # classic pcap, little-endian on disk: d4 c3 b2 a1
GLOBAL_HEADER_SIZE = 24
RECORD_HEADER_SIZE = 16

LINKTYPE_NULL = 0  # BSD loopback; 4-byte family header
LINKTYPE_EN10MB = 1  # Ethernet
LINKTYPE_RAW = 101  # raw IP
LINKTYPE_LOOP = 108  # OpenBSD loopback
LINKTYPE_LINUX_SLL = 113  # Linux "cooked" v1; non-strict only

# the reference's four (PcapReader.java:238-254); strict mode rejects
# anything else for parity, non-strict additionally accepts SLL(113) —
# the most common real-capture link type the reference family misses
# (any-interface tcpdump writes cooked captures)
SUPPORTED_LINK_TYPES = {LINKTYPE_NULL, LINKTYPE_EN10MB, LINKTYPE_RAW, LINKTYPE_LOOP}

ETHERTYPE_NAMES = {
    0x0800: "IPv4",
    0x0806: "arp",
    0x8035: "rarp",
    0x86DD: "IPv6",
    0x8100: "vlan",
}

# IANA protocol numbers → reference's name map [PcapReaderUtil.java:12-19]
PROTOCOL_NAMES = {
    1: "ICMP",
    6: "TCP",
    17: "UDP",
    46: "RSVP",
    47: "GRE",
    58: "ICMPv6",
}
PROTOCOL_TCP = "TCP"
PROTOCOL_UDP = "UDP"

# IPv6 extension header types the chain walk recognizes
# [PcapReaderUtil.java:21-28]
IPV6_EXT_NAMES = {
    0: "HopByHop",
    43: "Routing",
    44: "Fragment",
    50: "ESP",
    51: "AH",
    60: "Destination",
    135: "Mobility",
}
IPV6_FRAGMENT = 44
IPV6_NO_NEXT_HEADER = 59


class PcapFormatError(ValueError):
    """Raised for bad magic / unsupported link type (mirrors the
    reference's IOException paths [PcapReader.java:107-112])."""


@dataclass
class DecodeOptions:
    decoder: str = "ip"  # "ip" | "dns"   [S7 pluggable reader]
    calculate_md5: bool = False  # [D4; PcapReader.java:19,79-91]
    keep_payload: bool = True  # payload BinaryType column [D12]
    strict_reference: bool = True  # preserve signed-proto quirk etc.
    mode: str = "FAILFAST"  # FAILFAST | PERMISSIVE (bad file → 0 rows)
    # Columns requested by the caller; None = all.  Lets the Spark source
    # push column pruning into the decoder (skip md5/DNS/payload work and
    # the ether_type/src/dst text; protocol is always rendered: the DNS
    # pass reads it).
    wanted: Optional[set] = None
    # Emit the raw captured frame bytes + record orig_len (the write_pcap
    # round-trip columns).  Off by default: frame duplicates the whole
    # capture through the row path.
    keep_frame: bool = False


def _want(opts: DecodeOptions, *cols: str) -> bool:
    return opts.wanted is None or any(c in opts.wanted for c in cols)


def decompress_auto(data: bytes, name: str = "") -> bytes:
    """Transparent decompression, by extension then magic sniff.

    Parity: the reference wraps the stream in a Hadoop codec chosen by
    file extension [io/PcapInputFormat.java:46-49]; gzip in the CLI
    runner [run/PcapReaderRunner.java:36-37].
    """
    if len(data) >= 4:
        magic = int.from_bytes(data[:4], "little")
        if magic in (0xA1B2C3D4, 0xA1B23C4D, 0xD4C3B2A1, 0x4D3CB2A1, 0x0A0D0D0A):
            # already a capture (classic LE/BE × µs/ns, or pcapng) —
            # never re-decompress, whatever the filename says.  The
            # chunked feed (.gz et al streamed by chunked.py) hands
            # decompressed record-aligned chunks under the original
            # path name; no compression format starts with these bytes.
            return data
    lowered = name.lower()
    if lowered.endswith(".gz") or data[:2] == b"\x1f\x8b":
        return gzip.decompress(data)
    if lowered.endswith(".bz2") or data[:3] == b"BZh":
        return bz2.decompress(data)
    if lowered.endswith(".xz") or data[:6] == b"\xfd7zXZ\x00":
        return lzma.decompress(data)
    # optional codecs (Hadoop's CompressionCodecFactory also resolves
    # these; libraries are import-guarded — a clear error beats a
    # magic-bytes decode failure downstream)
    if lowered.endswith(".zst") or data[:4] == b"\x28\xb5\x2f\xfd":
        try:
            import zstandard
        except ImportError:
            raise OSError(f"{name}: zstd-compressed; `zstandard` not installed")
        return zstandard.ZstdDecompressor().decompress(data, max_output_size=1 << 31)
    if lowered.endswith(".lz4") or data[:4] == b"\x04\x22\x4d\x18":
        try:
            import lz4.frame
        except ImportError:
            raise OSError(f"{name}: lz4-compressed; `lz4` not installed")
        return lz4.frame.decompress(data)
    if lowered.endswith(".snappy"):
        try:
            import snappy
        except ImportError:
            raise OSError(f"{name}: snappy-compressed; `python-snappy` not installed")
        return snappy.decompress(data)
    return data


def _ipv4_text(b: bytes) -> str:
    return "%d.%d.%d.%d" % (b[0], b[1], b[2], b[3])


def _ipv6_text(b: bytes) -> str:
    # RFC 5952 compressed form (documented divergence from Java's
    # uncompressed rendering, SURVEY.md D15).
    return str(ipaddress.IPv6Address(b))


def _cksum_fold(data: bytes) -> int:
    if len(data) % 2:
        data += b"\x00"
    total = 0
    for (word,) in struct.iter_unpack(">H", data):
        total += word
    while total >> 16:
        total = (total & 0xFFFF) + (total >> 16)
    return (~total) & 0xFFFF


def _udp_checksum(src: bytes, dst: bytes, udp_segment: bytes, ipv6: bool) -> int:
    """RFC 768/2460 UDP checksum over pseudo-header + segment
    (non-strict path).  Returns 0 when the segment checksums as valid.
    Runs over the (possibly caplen-truncated) capture bytes.
    """
    length = len(udp_segment)
    proto = 17
    pseudo = src + dst
    if ipv6:
        pseudo += struct.pack(">I", length) + b"\x00\x00\x00" + bytes([proto])
    else:
        pseudo += bytes([0, proto]) + struct.pack(">H", length)
    return _cksum_fold(pseudo + udp_segment)


def _udp_checksum_strict(data: bytes, ip_start: int, l4_start: int) -> int:
    """The reference's getUdpChecksum [PcapReader.java:123-165]:
    a 12-byte IPv4-style pseudo-header built from ``ipStart+12/+16``
    (inside the source address for IPv6) and the **wire** UDP-length
    field, summed with the whole remaining capture.  Returns -1
    (⇒ key omitted) when bytes run short, mirroring the reference's
    ArrayIndexOutOfBounds catch."""
    if ip_start + 20 > len(data) or l4_start + 6 > len(data):
        return -1
    pseudo = (
        data[ip_start + 12 : ip_start + 16]
        + data[ip_start + 16 : ip_start + 20]
        + b"\x00\x11"
        + data[l4_start + 4 : l4_start + 6]
    )
    return _cksum_fold(pseudo + data[l4_start:])


def _read_payload(data: bytes, start: int, length: int) -> bytes:
    """Slice payload; out-of-range → empty (parity: readPayload warns and
    returns an empty array [PcapReader.java:453-461])."""
    if start < 0 or length < 0 or start + length > len(data):
        return b""
    return data[start : start + length]


# --- per-packet decode -------------------------------------------------------


def _decode_en10mb(packet: dict, data: bytes, opts: DecodeOptions) -> int:
    """Ethernet II header → ether_type field + IP start offset.

    Returns -1 when the frame is not IPv4/IPv6 (record then keeps only
    ts/size/ether_type[/md5], parity [PcapReader.java:191-193]).
    Skips exactly one 802.1Q tag [PcapReader.java:283-303].
    """
    if len(data) < 14:
        packet["ether_type"] = ""
        return -1
    outer = struct.unpack_from(">H", data, 12)[0]
    ethertype = outer
    ip_start = 14
    if ethertype == 0x8100:  # single VLAN tag skip
        if len(data) < 18:
            packet["ether_type"] = ETHERTYPE_NAMES[0x8100]
            return -1
        ethertype = struct.unpack_from(">H", data, 16)[0]
        ip_start = 18
    # getEtherType reads only offset 12, so tagged frames render 'vlan'
    # [PcapReader.java:256-280]; inner type shown only in non-strict mode.
    shown = outer if opts.strict_reference else ethertype
    packet["ether_type"] = ETHERTYPE_NAMES.get(shown, "0x%04x" % shown)
    if ethertype in (0x0800, 0x86DD):
        return ip_start
    return -1


def _decode_sll(packet: dict, data: bytes) -> int:
    """Linux cooked (SLL v1) pseudo-header → ether_type + IP offset.

    16 bytes: packet_type(2) ARPHRD(2) addr_len(2) addr(8)
    protocol(2, network order).  One 802.1Q tag is skipped like
    EN10MB.  Non-strict only — the reference stops at LOOP
    [PcapReader.java:238-254] — so the rendered ether_type is always
    the innermost type (no strict 'vlan' quirk to mirror)."""
    if len(data) < 16:
        packet["ether_type"] = ""
        return -1
    proto = struct.unpack_from(">H", data, 14)[0]
    ip_start = 16
    if proto == 0x8100:  # single VLAN tag skip
        if len(data) < 20:
            packet["ether_type"] = ETHERTYPE_NAMES[0x8100]
            return -1
        proto = struct.unpack_from(">H", data, 18)[0]
        ip_start = 20
    packet["ether_type"] = ETHERTYPE_NAMES.get(proto, "0x%04x" % proto)
    if proto in (0x0800, 0x86DD):
        return ip_start
    return -1


def _ip_start(link_type: int, packet: dict, data: bytes, opts: DecodeOptions) -> int:
    """IP header offset per link type (parity [PcapReaderTest offsets
    0/14or18/0/4]); non-EN10MB links leave ether_type ''."""
    if link_type == LINKTYPE_EN10MB:
        return _decode_en10mb(packet, data, opts)
    if link_type == LINKTYPE_LINUX_SLL:
        # only reachable in non-strict mode (the accept gate rejects
        # 113 under strict_reference)
        return _decode_sll(packet, data)
    packet["ether_type"] = ""
    if link_type == LINKTYPE_NULL or link_type == LINKTYPE_RAW:
        return 0
    if link_type == LINKTYPE_LOOP:
        return 4
    return -1


def _walk_ipv6_ext(data: bytes, ip_start: int, first_next: int, strict: bool) -> tuple:
    """Walk the IPv6 extension-header chain.

    Returns (terminal_protocol_id_or_None, l4_start, ext_count,
    names_list, frag_seen).  ``names_list`` includes the terminal
    protocol name (parity with findIPv6DataStart's addExtHeader calls,
    [PcapReader.java:368-417]).

    strict=True mirrors the reference exactly: the loop only runs while
    the cursor is inside the capture (so a header-only packet gets NO
    names and no protocol), type 59 appends ``[59]`` then terminates,
    Fragment advances 8 bytes, and every other extension header
    advances the buggy ``1 + hdr_ext_len`` **bytes**
    [PcapReader.java:404-411].  strict=False uses the RFC 8200 advance
    ``(1 + hdr_ext_len) * 8`` and stops cleanly at no-next-header.
    """
    next_header = first_next
    pos = ip_start + 40
    n = len(data)
    ext_count = 0
    names = []
    frag = False
    if strict:
        while pos < n:
            is_ext = next_header in IPV6_EXT_NAMES
            if is_ext:
                names.append(IPV6_EXT_NAMES[next_header])
            else:
                names.append(PROTOCOL_NAMES.get(next_header, str(next_header)))
            if next_header == IPV6_NO_NEXT_HEADER:
                return None, -1, ext_count, names, frag
            if not is_ext:
                return next_header, pos, ext_count, names, frag
            ext_count += 1
            if pos + 2 > n:
                # the reference would throw AIOOBE here; treat as truncated
                return None, -1, ext_count, names, frag
            if next_header == IPV6_FRAGMENT:
                frag = True
                next_header = data[pos]
                pos += 8
            else:
                nxt = data[pos]
                pos += 1 + data[pos + 1]  # buggy byte-advance, kept for parity
                next_header = nxt
        return None, -1, ext_count, names, frag
    while next_header in IPV6_EXT_NAMES:
        if pos + 2 > n:
            return None, -1, ext_count, names, frag
        names.append(IPV6_EXT_NAMES[next_header])
        if next_header == IPV6_FRAGMENT:
            frag = True
            hdr_len = 8
        else:
            hdr_len = (1 + data[pos + 1]) * 8
        next_header = data[pos]
        pos += hdr_len
        ext_count += 1
    if next_header == IPV6_NO_NEXT_HEADER:
        return None, -1, ext_count, names, frag
    names.append(PROTOCOL_NAMES.get(next_header, str(next_header)))
    return next_header, pos, ext_count, names, frag


def _decode_l3_l4(packet: dict, data: bytes, ip_start: int, opts: DecodeOptions) -> None:
    if ip_start < 0 or ip_start >= len(data):
        return
    version = data[ip_start] >> 4

    protocol_id: Optional[int] = None
    l4_start = -1
    ipv6 = False

    src_b = dst_b = b""
    if version == 4:
        if ip_start + 20 > len(data):
            return
        ihl = data[ip_start] & 0x0F
        packet["ttl"] = data[ip_start + 8]
        raw_proto = data[ip_start + 9]
        # Reference reads the protocol byte into a signed Java byte →
        # int, so ids > 127 become negative [PcapReader.java:322].
        protocol_id = raw_proto
        display_id = raw_proto - 256 if (opts.strict_reference and raw_proto > 127) else raw_proto
        packet["protocol"] = PROTOCOL_NAMES.get(raw_proto, str(display_id))
        src_b = data[ip_start + 12 : ip_start + 16]
        dst_b = data[ip_start + 16 : ip_start + 20]
        if _want(opts, "src"):
            packet["src"] = _ipv4_text(src_b)
        if _want(opts, "dst"):
            packet["dst"] = _ipv4_text(dst_b)
        l4_start = ip_start + ihl * 4
        if not opts.strict_reference:
            # v4 fragmentation (SURVEY §1.4): the reference ignores the
            # flags/offset word and parses "ports" out of mid-datagram
            # bytes on non-first fragments (strict keeps that quirk).
            # Non-strict: flag every fragment, and on non-first
            # fragments skip L4 entirely — there is no L4 header; the
            # raw fragment bytes become the payload (reassembly input).
            flags_frag = struct.unpack_from(">H", data, ip_start + 6)[0]
            if flags_frag & 0x3FFF:  # MF bit or nonzero offset
                packet["frag"] = True
                # fragment-reassembly metadata (VERDICT r12 item 3):
                # the (src,dst,proto,ident) datagram key, the byte
                # offset of this fragment's body, the more-fragments
                # bit, and the raw body bytes — everything
                # reassemble_ipv4_fragments needs, NULL off fragments
                if _want(opts, "ip_ident"):
                    packet["ip_ident"] = struct.unpack_from(
                        ">H", data, ip_start + 4
                    )[0]
                if _want(opts, "frag_offset"):
                    packet["frag_offset"] = (flags_frag & 0x1FFF) * 8
                if _want(opts, "frag_mf"):
                    packet["frag_mf"] = bool(flags_frag & 0x2000)
                if _want(opts, "frag_body") and l4_start <= len(data):
                    packet["frag_body"] = data[l4_start:]
            if flags_frag & 0x1FFF:  # non-first fragment
                if packet["protocol"] in (PROTOCOL_TCP, PROTOCOL_UDP) and l4_start <= len(data):
                    flen = max(0, len(data) - l4_start)
                    packet["len"] = flen
                    packet["_payload"] = _read_payload(data, l4_start, flen)
                return
    elif version == 6:
        if ip_start + 40 > len(data):
            return
        ipv6 = True
        packet["payload_len"] = struct.unpack_from(">H", data, ip_start + 4)[0]
        packet["ttl"] = data[ip_start + 7]  # hop limit stored in ttl
        src_b = data[ip_start + 8 : ip_start + 24]
        dst_b = data[ip_start + 24 : ip_start + 40]
        if _want(opts, "src"):
            packet["src"] = _ipv6_text(src_b)
        if _want(opts, "dst"):
            packet["dst"] = _ipv6_text(dst_b)
        first_next = data[ip_start + 6]
        protocol_id, l4_start, ext_count, names, frag = _walk_ipv6_ext(
            data, ip_start, first_next, opts.strict_reference
        )
        packet["ext_count"] = ext_count
        if frag:
            packet["frag"] = True
        # strict parity: addExtHeader never ran ⇒ key absent, not ''
        # [PcapReader.java:357-366]
        if names or not opts.strict_reference:
            packet["ext_headers"] = "".join(f"[{n}]" for n in names)
        if protocol_id is not None:
            # terminal protocol name already last in names [PcapReader.java:384]
            packet["protocol"] = PROTOCOL_NAMES.get(protocol_id, str(protocol_id))
        else:
            return
    else:
        return

    if protocol_id is None or l4_start < 0:
        return
    proto_name = packet.get("protocol")
    if proto_name not in (PROTOCOL_TCP, PROTOCOL_UDP):
        return
    if l4_start + 4 > len(data):
        return
    packet["src_port"] = struct.unpack_from(">H", data, l4_start)[0]
    packet["dst_port"] = struct.unpack_from(">H", data, l4_start + 2)[0]

    if proto_name == PROTOCOL_UDP:
        if l4_start + 8 > len(data):
            return
        if _want(opts, "udpsum"):
            wire_cksum = struct.unpack_from(">H", data, l4_start + 6)[0]
            # checksum field 0 = not computed by sender → key omitted
            # [PcapReader.java:129-131]
            if wire_cksum != 0:
                if opts.strict_reference:
                    ck = _udp_checksum_strict(data, ip_start, l4_start)
                    if ck >= 0:
                        packet["udpsum"] = ck
                else:
                    packet["udpsum"] = _udp_checksum(
                        src_b, dst_b, data[l4_start:], ipv6
                    )
        payload_start = l4_start + 8
    else:  # TCP: data offset in 32-bit words at byte 12 high nibble
        if l4_start + 13 > len(data):
            return
        # opt-in TCP metadata (columns= only; mirrors the columnar
        # kernel's gating so the slow-path merge stays equivalent)
        if opts.wanted is not None and "tcp_seq" in opts.wanted:
            if l4_start + 8 <= len(data):
                packet["tcp_seq"] = struct.unpack_from(">I", data, l4_start + 4)[0]
        if opts.wanted is not None and "tcp_flags" in opts.wanted:
            if l4_start + 14 <= len(data):
                packet["tcp_flags"] = data[l4_start + 13]
        data_offset = (data[l4_start + 12] >> 4) * 4
        payload_start = l4_start + data_offset

    payload_len = max(0, len(data) - payload_start)
    packet["len"] = payload_len
    payload = _read_payload(data, payload_start, payload_len)
    packet["_payload"] = payload  # internal; surfaced per keep_payload


DNS_COLUMNS = (
    "dns_queryid", "dns_flags", "dns_qr", "dns_opcode", "dns_rcode",
    "dns_qname", "dns_qtype", "dns_qtype_str",
    "dns_answer", "dns_authority", "dns_additional",
)


def _decode_dns(packet: dict, opts: DecodeOptions) -> None:
    """L7 DNS decode, attempted iff a port is 53 AND some dns_* column
    is wanted; failures silently leave the dns_* fields absent
    [DnsPcapReader.java:23,38,53-55].  The wanted-gate mirrors the
    reference's decode-only-when-asked laziness for pruned reads."""
    if not _want(opts, *DNS_COLUMNS):
        return
    if packet.get("src_port") != 53 and packet.get("dst_port") != 53:
        return
    payload = packet.get("_payload")
    if not payload:
        return
    # Parity quirk: the reference does NOT strip the 2-byte TCP length
    # prefix, so TCP DNS effectively never parses [SURVEY.md §1.4 L7].
    # We keep UDP-only semantics in strict mode; in non-strict mode we
    # strip the prefix for TCP.
    data = payload
    if packet.get("protocol") == PROTOCOL_TCP and not opts.strict_reference:
        if len(data) < 2:
            return
        data = data[2:]
    try:
        msg = _dns.parse_message(data)
    except Exception:
        return  # silent-skip parity
    packet["dns_queryid"] = msg.query_id
    packet["dns_flags"] = msg.flags_text
    packet["dns_qr"] = msg.qr
    packet["dns_opcode"] = msg.opcode_text
    packet["dns_rcode"] = msg.rcode_text
    packet["dns_qname"] = msg.qname  # lower-cased, trailing dot kept
    packet["dns_qtype"] = msg.qtype
    packet["dns_qtype_str"] = msg.qtype_text
    packet["dns_answer"] = msg.answers
    packet["dns_authority"] = msg.authority
    packet["dns_additional"] = msg.additional


# --- file-level iteration ----------------------------------------------------


def decode_pcap(
    data: bytes,
    name: str = "",
    opts: Optional[DecodeOptions] = None,
) -> Iterator[dict]:
    """Decode one pcap file's bytes into an iterator of packet dicts.

    Field semantics per SURVEY.md §1.2; absent fields are simply missing
    keys (the Spark source projects them to NULL, mirroring the Hive
    SerDe's missing-key→NULL behavior [PcapDeserializer.java:50-60]).
    """
    opts = opts or DecodeOptions()
    try:
        data = decompress_auto(data, name)
    except OSError as exc:
        if opts.mode == "PERMISSIVE":
            return
        raise PcapFormatError(f"{name}: bad compressed stream: {exc}") from exc

    per_links = None  # mixed-link pcapng: one link-type int per record
    if not opts.strict_reference:
        # accept pcapng / nanosecond / big-endian captures by rewriting
        # them to LE-µs classic (strict mode keeps the reference's
        # reject-everything-else parity [PcapReader.java:107-108]);
        # a mixed-link pcapng (tcpdump -i any merge) additionally
        # yields a per-packet link side-channel — VERDICT r11 item 3:
        # NO packet is dropped, dispatch happens per record below
        from .formats import normalize_capture_ex

        try:
            data, per_links = normalize_capture_ex(data, name)
        except ValueError as exc:
            if opts.mode == "PERMISSIVE":
                return
            raise PcapFormatError(str(exc)) from exc

    if len(data) == 0:
        return  # empty file ⇒ zero records, no error [PcapReader.java:94-105]
    if len(data) < GLOBAL_HEADER_SIZE:
        if opts.mode == "PERMISSIVE":
            return
        raise PcapFormatError(f"{name}: truncated pcap global header")

    magic = struct.unpack_from("<I", data, 0)[0]
    if magic != MAGIC_LE:
        if opts.mode == "PERMISSIVE":
            return
        raise PcapFormatError(
            f"{name}: not a (little-endian classic) PCAP file: magic=0x{magic:08x}"
        )
    link_type = struct.unpack_from("<I", data, 20)[0]
    allowed = SUPPORTED_LINK_TYPES if opts.strict_reference else (
        SUPPORTED_LINK_TYPES | {LINKTYPE_LINUX_SLL}
    )
    if per_links is None and link_type not in allowed:
        # uniform captures keep the file-level gate; mixed-link pcapng
        # dispatches per packet instead (_ip_start yields -1 for an
        # unsupported link → the row keeps ts/size only, no L3)
        if opts.mode == "PERMISSIVE":
            return
        raise PcapFormatError(f"{name}: unsupported link type {link_type}")

    dns_mode = opts.decoder == "dns"
    pos = GLOBAL_HEADER_SIZE
    pkt_no = 0
    n = len(data)
    while pos + RECORD_HEADER_SIZE <= n:
        ts_sec, ts_usec, caplen = struct.unpack_from("<III", data, pos)
        pos += RECORD_HEADER_SIZE
        pkt_no += 1
        packet: dict[str, Any] = {"pkt_no": pkt_no, "ts": ts_sec, "ts_usec": ts_usec}
        if pos + caplen > n:
            # truncated tail → record carries only ts (+ordinal)
            # [PcapReader.java:177-180]
            packet.pop("ts_usec", None)
            yield packet
            return
        pkt_data = data[pos : pos + caplen]
        pos += caplen
        packet["size"] = caplen
        if opts.keep_frame:
            if _want(opts, "frame"):
                packet["frame"] = pkt_data
            if _want(opts, "orig_len"):
                # record header field 4 (pos currently = record end)
                packet["orig_len"] = struct.unpack_from(
                    "<I", data, pos - caplen - 4
                )[0]
        if opts.calculate_md5 and _want(opts, "md5"):
            # uppercase hex, parity with convertToHexString [D16]
            packet["md5"] = hashlib.md5(pkt_data).hexdigest().upper()
        if per_links is not None and pkt_no - 1 >= len(per_links):
            # same loud contract breach as the columnar kernel
            # (decode_np raises before its masked passes): the
            # normalizer emits records and links in lockstep, so a
            # short side-channel is a framing bug, not a fallback case
            raise ValueError(
                f"per_links side-channel has {len(per_links)} entries "
                f"but record {pkt_no} was framed — normalizer "
                "contract breach"
            )
        lt = per_links[pkt_no - 1] if per_links is not None else link_type
        ip_start = _ip_start(lt, packet, pkt_data, opts)
        if not _want(opts, "ether_type"):
            del packet["ether_type"]
        _decode_l3_l4(packet, pkt_data, ip_start, opts)
        if dns_mode:
            _decode_dns(packet, opts)
        payload = packet.pop("_payload", None)
        if opts.keep_payload and payload is not None and _want(opts, "payload"):
            packet["payload"] = payload
        yield packet
