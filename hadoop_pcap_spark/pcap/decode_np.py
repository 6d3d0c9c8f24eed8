"""Vectorized (numpy columnar) pcap decode kernel.

Same observable semantics as :mod:`.decode` (the per-packet scalar
kernel, itself quirk-for-quirk with the reference's PcapReader.java —
see decode.py's header for the full parity/divergence list), but the
hot path computes whole-file *columns* instead of per-packet dicts:

1. a tight framing loop collects record offsets (the only inherently
   sequential step — each header position depends on the previous
   record's caplen);
2. every fixed-offset field (timestamps, ethertype, IPv4/v6 headers,
   ports, TCP data offset, UDP checksum) is then extracted with numpy
   gathers over a single uint8 view of the file — no per-packet Python;
3. strings (protocol / ether_type names, IP text) are built once per
   *unique* value and broadcast back with a take — captures repeat a
   tiny set of talkers, so this is ~O(uniques) not O(packets);
4. UDP checksums are summed with np.add.reduceat over parity-weighted
   byte arrays (vectorized ones'-complement fold);
5. the rare shapes that need stateful walks fall back to the scalar
   kernel per row: IPv6 extension-header chains (PcapReader.java's
   findIPv6DataStart loop), DNS payload parse (port 53 only), and MD5
   (opt-in hashlib).

Output is a column dict ready to become pyarrow RecordBatches — the
one decode behind every Spark ingest path
(``sources/pcap_source.py::decode_files_to_arrow_columnar``).
Correctness contract: for any
input bytes and options, rows here == rows from decode.decode_pcap
(tests/test_decode_columnar.py diffs both kernels field-by-field over
the golden fixtures and the property-test generators).
"""

from __future__ import annotations

import hashlib
import struct
from typing import Optional

import numpy as np

_U32 = struct.Struct("<I")

from .decode import (
    GLOBAL_HEADER_SIZE,
    LINKTYPE_EN10MB,
    LINKTYPE_LINUX_SLL,
    LINKTYPE_LOOP,
    LINKTYPE_NULL,
    LINKTYPE_RAW,
    MAGIC_LE,
    RECORD_HEADER_SIZE,
    SUPPORTED_LINK_TYPES,
    ETHERTYPE_NAMES,
    IPV6_EXT_NAMES,
    IPV6_FRAGMENT,
    IPV6_NO_NEXT_HEADER,
    PROTOCOL_NAMES,
    DecodeOptions,
    PcapFormatError,
    _decode_dns,
    _decode_l3_l4,
    _want,
    decompress_auto,
)

# columns produced by the kernel (file/dns_* handled by callers/merge)
NUMERIC_COLS = {
    "pkt_no": np.int64,
    "ts": np.int64,
    "ts_usec": np.int64,
    "size": np.int64,
    "ttl": np.int64,
    "src_port": np.int64,
    "dst_port": np.int64,
    "len": np.int64,
    "udpsum": np.int64,
    "payload_len": np.int64,
    "ext_count": np.int64,
    "orig_len": np.int64,
    "ip_ident": np.int64,
    "frag_offset": np.int64,
    "tcp_seq": np.int64,
    "tcp_flags": np.int64,
}
OBJECT_COLS = [
    "md5", "ether_type", "protocol", "src", "dst", "ext_headers", "payload",
    "frag", "frag_mf", "frag_body",
    "dns_queryid", "dns_flags", "dns_qr", "dns_opcode", "dns_rcode",
    "dns_qname", "dns_qtype", "dns_qtype_str",
    "dns_answer", "dns_authority", "dns_additional",
]


class ColumnarResult:
    """n rows; numeric → (values ndarray, null-mask ndarray); object →
    numpy object ndarray with None for NULL."""

    __slots__ = (
        "n", "numeric", "objects", "payload_spans", "data", "emit_payload",
        "frame_spans", "emit_frame",
    )

    def __init__(self, n: int):
        self.n = n
        self.numeric = {
            c: (np.zeros(n, dtype=dt), np.ones(n, dtype=bool))
            for c, dt in NUMERIC_COLS.items()
        }
        self.objects = {c: np.full(n, None, dtype=object) for c in OBJECT_COLS}
        # Fast-path payload is recorded as (abs_start, length, has) spans
        # into ``data`` instead of per-row bytes objects — consumers
        # gather the whole column in one vectorized pass (Arrow
        # from_buffers) or slice lazily.  Slow-path (scalar-fallback)
        # rows still carry bytes in objects["payload"], which takes
        # precedence over the span.
        self.payload_spans = None  # (starts[m], lens[m], has[m]), m ≤ n
        self.data = b""
        self.emit_payload = True  # False when pruned/keep_payload=False
        # Raw frame bytes as spans (same shape as payload_spans); only
        # populated when DecodeOptions.keep_frame requests them.
        self.frame_spans = None
        self.emit_frame = False

    def payload_at(self, i: int):
        """Row payload: slow-path bytes, else span slice, else None."""
        obj = self.objects["payload"][i]
        if obj is not None:
            return obj
        if self.payload_spans is not None and i < len(self.payload_spans[2]):
            starts, lens, has = self.payload_spans
            if has[i]:
                a = starts[i]
                return self.data[a : a + lens[i]]
        return None

    def set_num(self, col, idx_or_mask, values):
        # bool masks may be shorter than the arrays (a truncated-tail row
        # is appended past the framed packets) — convert to indices
        if isinstance(idx_or_mask, np.ndarray) and idx_or_mask.dtype == bool:
            idx_or_mask = np.nonzero(idx_or_mask)[0]
        vals, mask = self.numeric[col]
        vals[idx_or_mask] = values
        mask[idx_or_mask] = False

    def overlay(self, col, new):
        """Set non-None entries of ``new`` (length ≤ n) into an object
        column."""
        new = np.asarray(new, dtype=object)
        set_mask = new != None  # noqa: E711 — elementwise against object array
        self.objects[col][: len(new)][set_mask] = new[set_mask]

    def rows(self):
        """Per-row dicts with absent-keys semantics (testing/debug)."""
        out = []
        for i in range(self.n):
            r = {}
            for c, (vals, mask) in self.numeric.items():
                if not mask[i]:
                    r[c] = int(vals[i])
            for c, lst in self.objects.items():
                if c != "payload" and lst[i] is not None:
                    r[c] = lst[i]
            if self.emit_payload:
                pl = self.payload_at(i)
                if pl is not None:
                    r["payload"] = pl
            out.append(r)
        return out


def _u32le(u: np.ndarray, off: np.ndarray) -> np.ndarray:
    return (
        u[off].astype(np.int64)
        | (u[off + 1].astype(np.int64) << 8)
        | (u[off + 2].astype(np.int64) << 16)
        | (u[off + 3].astype(np.int64) << 24)
    )


def _be16(u: np.ndarray, off: np.ndarray, valid: np.ndarray) -> np.ndarray:
    """Big-endian u16 gather; invalid rows read offset 0 and return 0."""
    o = np.where(valid, off, 0)
    v = (u[o].astype(np.int64) << 8) | u[np.minimum(o + 1, len(u) - 1)].astype(np.int64)
    return np.where(valid, v, 0)


def _byte(u: np.ndarray, off: np.ndarray, valid: np.ndarray) -> np.ndarray:
    o = np.where(valid, off, 0)
    return np.where(valid, u[o].astype(np.int64), 0)


def _take_names(codes: np.ndarray, valid: np.ndarray, render) -> np.ndarray:
    """Build a string column from integer codes: render() runs once per
    unique code, results broadcast back.  Returns object ndarray with
    None on invalid rows."""
    out = np.full(len(codes), None, dtype=object)
    if not valid.any():
        return out
    idx = np.nonzero(valid)[0]
    uniq, inv = np.unique(codes[idx], return_inverse=True)
    table = np.array([render(int(c)) for c in uniq], dtype=object)
    out[idx] = table[inv]
    return out


def _pack_u64(mat: np.ndarray) -> np.ndarray:
    """(k, w≤8) uint8 → uint64 big-endian integer key per row."""
    k = mat.astype(np.uint64)
    out = np.zeros(len(mat), dtype=np.uint64)
    for j in range(mat.shape[1]):
        out = (out << np.uint64(8)) | k[:, j]
    return out


def _ip_strings(u: np.ndarray, off: np.ndarray, valid: np.ndarray, width: int, render) -> np.ndarray:
    """IP text column: gather width bytes per row, render once per
    unique address (captures repeat a tiny talker set).  Uniqueness is
    computed on packed integer keys (1-D sorts), never np.unique(axis=0)
    — the row-matrix argsort there dominated the whole kernel."""
    out = np.full(len(off), None, dtype=object)
    if not valid.any():
        return out
    idx = np.nonzero(valid)[0]
    mat = u[off[idx, None] + np.arange(width)]
    if width <= 8:
        uniq_keys, first, inv = np.unique(
            _pack_u64(mat), return_index=True, return_inverse=True
        )
    else:
        hi, lo = _pack_u64(mat[:, :8]), _pack_u64(mat[:, 8:])
        order = np.lexsort((lo, hi))
        sh, sl = hi[order], lo[order]
        newgrp = np.ones(len(order), dtype=bool)
        newgrp[1:] = (sh[1:] != sh[:-1]) | (sl[1:] != sl[:-1])
        inv = np.empty(len(order), dtype=np.int64)
        inv[order] = np.cumsum(newgrp) - 1
        first = order[newgrp]
    table = np.array([render(mat[i].tobytes()) for i in first], dtype=object)
    out[idx] = table[inv]
    return out


def _segment_sums(u: np.ndarray, starts: np.ndarray, ends: np.ndarray, chunk: int = 8192):
    """(H, L) per segment: H = sum of bytes at even offsets *relative to
    the segment start*, L = odd.  The window is split once into
    even/odd-position halves (int32 — a segment sum is ≤ 255·65535) and
    each half reduced with np.add.reduceat over halved bounds; chunked
    so temporaries stay bounded."""
    m = len(starts)
    H = np.zeros(m, dtype=np.int64)
    L = np.zeros(m, dtype=np.int64)
    for c0 in range(0, m, chunk):
        c1 = min(c0 + chunk, m)
        s, e = starts[c0:c1], ends[c0:c1]
        w0 = int(s.min()) & ~1  # even-align: relative parity == absolute
        win = u[w0 : int(e.max())].astype(np.int32)
        ev = np.append(win[0::2], 0)  # trailing 0: reduceat len-bound guard
        od = np.append(win[1::2], 0)
        rs, re = s - w0, e - w0
        # even positions p∈[rs,re) ↔ ev indices [(rs+1)//2, (re+1)//2);
        # odd  positions           ↔ od indices [rs//2, re//2)
        k = c1 - c0
        be = np.empty(2 * k, dtype=np.int64)
        be[0::2] = (rs + 1) >> 1
        be[1::2] = (re + 1) >> 1
        bo = np.empty(2 * k, dtype=np.int64)
        bo[0::2] = rs >> 1
        bo[1::2] = re >> 1
        se = np.add.reduceat(ev, be)[0::2].astype(np.int64)
        so = np.add.reduceat(od, bo)[0::2].astype(np.int64)
        se[be[0::2] >= be[1::2]] = 0  # empty half-range → reduceat echoes
        so[bo[0::2] >= bo[1::2]] = 0
        s_even = (rs & 1) == 0
        H[c0:c1] = np.where(s_even, se, so)
        L[c0:c1] = np.where(s_even, so, se)
    return H, L


def _walk_v6_chains(
    u: np.ndarray,
    end: np.ndarray,
    ip: np.ndarray,
    first_next: np.ndarray,
    walk_mask: np.ndarray,
    strict: bool,
    max_rounds: int = 40,
) -> dict:
    """Vectorized IPv6 extension-header chain walk.

    The scalar twin is decode._walk_ipv6_ext (reference semantics at
    PcapReader.java:368-417, including strict mode's buggy
    ``1 + hdr_ext_len`` BYTE advance).  A chain walk is sequential per
    packet but independent ACROSS packets, so this iterates over chain
    DEPTH (real chains are 1-3 headers) with one vectorized round per
    hop: all still-active rows gather their (next_header, len) bytes,
    classify, and advance together.  Rows still active after
    ``max_rounds`` hops (adversarial/garbage chains — strict mode can
    advance 1 byte per hop) are returned unresolved and fall back to
    the scalar kernel, bounding worst-case work without changing
    observable behavior.

    Returns a dict over the walked subset ``idx``: ``resolved`` (walk
    finished in-budget), ``ext_count``, ``frag``, ``term_proto`` /
    ``term_pos`` (-1 = no terminal L4: truncated / no-next-header /
    ran off the capture), ``names`` (the "[A][B]" rendered header
    list) and ``appended`` (names non-empty — strict mode omits the
    ext_headers key entirely when no addExtHeader call ran,
    PcapReader.java:357-366)."""
    idx = np.nonzero(walk_mask)[0]
    k = len(idx)
    pos = ip[idx] + 40
    nend = end[idx]
    nh = first_next[idx].astype(np.int64)
    ext_count = np.zeros(k, dtype=np.int64)
    frag = np.zeros(k, dtype=bool)
    term_proto = np.full(k, -1, dtype=np.int64)
    term_pos = np.full(k, -1, dtype=np.int64)
    active = np.ones(k, dtype=bool)
    ext_codes = np.array(sorted(IPV6_EXT_NAMES), dtype=np.int64)

    # per-round appended name codes (-1 = none); rendered to strings once
    name_rounds: list[np.ndarray] = []
    for _ in range(max_rounds):
        if not active.any():
            break
        codes = np.full(k, -1, dtype=np.int64)
        if strict:
            # loop guard: only rows whose cursor is inside the capture
            # take this hop; the rest terminate silently (header-only
            # packets get no names and no protocol)
            a = active & (pos < nend)
            active = a
            if not a.any():
                break
            codes[a] = nh[a]  # strict appends BEFORE any classification
            is_ext = a & np.isin(nh, ext_codes)
            terminal = a & ~is_ext & (nh != IPV6_NO_NEXT_HEADER)
            term_proto[terminal] = nh[terminal]
            term_pos[terminal] = pos[terminal]
            cont = is_ext
            ext_count[cont] += 1  # counted before the truncation check
            ok = cont & (pos + 2 <= nend)
            b0 = _byte(u, pos, ok)
            b1 = _byte(u, pos + 1, ok)
            isfrag = ok & (nh == IPV6_FRAGMENT)
            frag |= isfrag
            adv = np.where(isfrag, 8, 1 + b1)  # buggy byte advance, kept
            nh = np.where(ok, b0, nh)
            pos = np.where(ok, pos + adv, pos)
            active = ok
        else:
            a = active
            is_ext = a & np.isin(nh, ext_codes)
            terminal = a & ~is_ext & (nh != IPV6_NO_NEXT_HEADER)
            codes[terminal] = nh[terminal]  # terminal proto name appended
            term_proto[terminal] = nh[terminal]
            term_pos[terminal] = pos[terminal]
            # truncation checked BEFORE the ext name is appended (scalar
            # parity: the RFC walk returns without recording the header)
            ok = is_ext & (pos + 2 <= nend)
            codes[ok] = nh[ok]
            b0 = _byte(u, pos, ok)
            b1 = _byte(u, pos + 1, ok)
            isfrag = ok & (nh == IPV6_FRAGMENT)
            frag |= isfrag
            adv = np.where(isfrag, 8, (1 + b1) * 8)  # RFC 8200 advance
            nh = np.where(ok, b0, nh)
            pos = np.where(ok, pos + adv, pos)
            ext_count[ok] += 1
            active = ok
        name_rounds.append(codes)

    # render names: one dict probe per unique code, elementwise object
    # concat per round (chains are 1-3 hops, so this is O(hops · k))
    names = np.full(k, "", dtype=object)
    appended = np.zeros(k, dtype=bool)
    lookup = np.empty(256, dtype=object)
    for arr in name_rounds:
        has = arr >= 0
        if not has.any():
            continue
        for c in np.unique(arr[has]).tolist():
            if lookup[c] is None:
                lookup[c] = "[%s]" % (
                    IPV6_EXT_NAMES.get(c) or PROTOCOL_NAMES.get(c, str(c))
                )
        names[has] = names[has] + lookup[arr[has]]
        appended |= has

    return {
        "idx": idx,
        "resolved": ~active,
        "ext_count": ext_count,
        "frag": frag,
        "term_proto": term_proto,
        "term_pos": term_pos,
        "names": names,
        "appended": appended,
    }


def _fold16(total: np.ndarray) -> np.ndarray:
    total = total.copy()
    while (total > 0xFFFF).any():
        total = (total & 0xFFFF) + (total >> 16)
    return 0xFFFF ^ total


def decode_pcap_columnar(
    data: bytes,
    name: str = "",
    opts: Optional[DecodeOptions] = None,
) -> ColumnarResult:
    """Decode one pcap file's bytes into columns (see module header)."""
    opts = opts or DecodeOptions()
    try:
        data = decompress_auto(data, name)
    except OSError as exc:
        if opts.mode == "PERMISSIVE":
            return ColumnarResult(0)
        raise PcapFormatError(f"{name}: bad compressed stream: {exc}") from exc

    per_links = None  # mixed-link pcapng: one link-type int per record
    if not opts.strict_reference:
        # pcapng / ns / BE front-end — same rewrite as the scalar
        # kernel, including the mixed-link side-channel (VERDICT r11
        # item 3: per-interface dispatch, no packet dropped)
        from .formats import normalize_capture_ex

        try:
            data, per_links = normalize_capture_ex(data, name)
        except ValueError as exc:
            if opts.mode == "PERMISSIVE":
                return ColumnarResult(0)
            raise PcapFormatError(str(exc)) from exc

    n = len(data)
    if n == 0:
        return ColumnarResult(0)
    if n < GLOBAL_HEADER_SIZE:
        if opts.mode == "PERMISSIVE":
            return ColumnarResult(0)
        raise PcapFormatError(f"{name}: truncated pcap global header")

    magic = int.from_bytes(data[0:4], "little")
    if magic != MAGIC_LE:
        if opts.mode == "PERMISSIVE":
            return ColumnarResult(0)
        raise PcapFormatError(
            f"{name}: not a (little-endian classic) PCAP file: magic=0x{magic:08x}"
        )
    link_type = int.from_bytes(data[20:24], "little")
    allowed = SUPPORTED_LINK_TYPES if opts.strict_reference else (
        SUPPORTED_LINK_TYPES | {LINKTYPE_LINUX_SLL}
    )
    if per_links is None and link_type not in allowed:
        # uniform captures keep the file-level gate; mixed-link pcapng
        # dispatches per packet (unknown link → ts/size-only row),
        # matching the scalar kernel
        if opts.mode == "PERMISSIVE":
            return ColumnarResult(0)
        raise PcapFormatError(f"{name}: unsupported link type {link_type}")

    # --- framing: the one sequential pass (offsets only) ---------------------
    starts = []
    append = starts.append
    unpack_u32 = _U32.unpack_from  # bound struct: ~25% off the loop
    pos = GLOBAL_HEADER_SIZE
    truncated_at = -1
    while pos + RECORD_HEADER_SIZE <= n:
        caplen = unpack_u32(data, pos + 8)[0]
        if pos + RECORD_HEADER_SIZE + caplen > n:
            truncated_at = pos  # ts-only tail row [PcapReader.java:177-180]
            break
        append(pos)
        pos += RECORD_HEADER_SIZE + caplen

    m = len(starts)
    total_rows = m + (1 if truncated_at >= 0 else 0)
    res = ColumnarResult(total_rows)
    if total_rows == 0:
        return res
    if truncated_at >= 0:
        res.set_num("pkt_no", total_rows - 1, m + 1)
        res.set_num(
            "ts", total_rows - 1, int.from_bytes(data[truncated_at : truncated_at + 4], "little")
        )
    if m == 0:
        return res

    u = np.frombuffer(data, dtype=np.uint8)
    rec = np.asarray(starts, dtype=np.int64)
    rows = np.arange(m)

    res.set_num("pkt_no", rows, rows + 1)
    res.set_num("ts", rows, _u32le(u, rec))
    res.set_num("ts_usec", rows, _u32le(u, rec + 4))
    caplen = _u32le(u, rec + 8)
    res.set_num("size", rows, caplen)
    pkt = rec + RECORD_HEADER_SIZE
    end = pkt + caplen

    if opts.keep_frame:
        if _want(opts, "orig_len"):
            res.set_num("orig_len", rows, _u32le(u, rec + 12))
        res.frame_spans = (pkt, caplen, np.ones(m, dtype=bool))
        res.emit_frame = bool(_want(opts, "frame"))

    if opts.calculate_md5 and _want(opts, "md5"):
        md5col = res.objects["md5"]
        for i, (a, b) in enumerate(zip(pkt.tolist(), end.tolist())):
            md5col[i] = hashlib.md5(data[a:b]).hexdigest().upper()

    # --- L2: ip_start (relative to packet) + ether_type ----------------------
    # Computed per distinct link type under a row mask: uniform captures
    # (the overwhelmingly common case) take ONE pass with an all-true
    # mask — identical arithmetic to the historical single-link code —
    # while a mixed-link pcapng (per_links side-channel) merges one
    # masked pass per link value, so no packet is dropped or
    # mis-decoded (VERDICT r11 item 3).
    strict = opts.strict_reference
    if per_links is not None:
        # the normalizer emits records and per-record links in lockstep;
        # a length mismatch means a framing bug upstream and would
        # otherwise surface as a short boolean mask silently mis-indexing
        # (scalar kernel guards the same contract at pkt_no-1 —
        # review r12: both kernels must fail loudly and identically)
        if len(per_links) != m:
            raise ValueError(
                f"per_links side-channel has {len(per_links)} entries "
                f"for {m} framed records — normalizer contract breach"
            )
        links_arr = np.asarray(per_links, dtype=np.int64)
        distinct_links = [int(v) for v in np.unique(links_arr)]
    else:
        links_arr = None
        distinct_links = [link_type]

    ip_rel = np.full(m, -1, dtype=np.int64)
    is_ip = np.zeros(m, dtype=bool)
    # string columns a projected read did not select are never rendered
    want_et = _want(opts, "ether_type")
    want_src, want_dst = _want(opts, "src"), _want(opts, "dst")
    et_acc = np.empty(m, dtype=object)
    et_acc[:] = ""

    for lt in distinct_links:
        lmask = (
            np.ones(m, dtype=bool) if links_arr is None else links_arr == lt
        )
        if lt == LINKTYPE_EN10MB:
            has_eth = lmask & (caplen >= 14)
            et_out = _be16(u, pkt + 12, has_eth)
            vlan = has_eth & (et_out == 0x8100)
            vlan_ok = vlan & (caplen >= 18)
            vlan_short = vlan & ~vlan_ok
            et_in = np.where(vlan_ok, _be16(u, pkt + 16, vlan_ok), et_out)
            # ether_type: '' when frame <14B; 'vlan' for tagged (strict
            # reads only offset 12); inner name in non-strict
            # [PcapReader.java:256-280]
            if want_et:
                shown = et_out if strict else et_in
                shown = np.where(vlan_short, 0x8100, shown)
                names = _take_names(
                    shown, has_eth, lambda c: ETHERTYPE_NAMES.get(c, "0x%04x" % c)
                )
                et_acc[has_eth] = names[has_eth]
            ip_rel[lmask] = np.where(vlan_ok, 18, 14)[lmask]
            is_ip |= (
                has_eth & ~vlan_short & ((et_in == 0x0800) | (et_in == 0x86DD))
            )
        elif lt == LINKTYPE_LINUX_SLL:
            # Linux cooked v1 (non-strict only — the gate above rejects
            # 113 under strict_reference): protocol at offset 14 of the
            # 16-byte pseudo-header, one 802.1Q tag skipped, innermost
            # type shown (scalar twin: decode.py _decode_sll)
            has_sll = lmask & (caplen >= 16)
            proto_out = _be16(u, pkt + 14, has_sll)
            vlan = has_sll & (proto_out == 0x8100)
            vlan_ok = vlan & (caplen >= 20)
            vlan_short = vlan & ~vlan_ok
            proto_in = np.where(vlan_ok, _be16(u, pkt + 18, vlan_ok), proto_out)
            if want_et:
                shown = np.where(vlan_short, 0x8100, proto_in)
                names = _take_names(
                    shown, has_sll, lambda c: ETHERTYPE_NAMES.get(c, "0x%04x" % c)
                )
                et_acc[has_sll] = names[has_sll]
            ip_rel[lmask] = np.where(vlan_ok, 20, 16)[lmask]
            is_ip |= (
                has_sll
                & ~vlan_short
                & ((proto_in == 0x0800) | (proto_in == 0x86DD))
            )
        elif lt in (LINKTYPE_NULL, LINKTYPE_RAW, LINKTYPE_LOOP):
            ip_rel[lmask] = 4 if lt == LINKTYPE_LOOP else 0
            is_ip |= lmask
        # unknown link (reachable only via a mixed capture): row keeps
        # ts/size with ether_type '' — ip_rel stays -1, is_ip False,
        # matching the scalar kernel's _ip_start fall-through
    if want_et:
        res.overlay("ether_type", et_acc)

    # _decode_l3_l4 guard: ip_start within the packet bytes
    l3 = is_ip & (ip_rel < caplen)
    ip = pkt + ip_rel
    version = _byte(u, ip, l3) >> 4

    v4 = l3 & (version == 4) & (ip_rel + 20 <= caplen)
    v6 = l3 & (version == 6) & (ip_rel + 40 <= caplen)

    # protocol id / l4 offset (relative), filled per version below
    proto_id = np.zeros(m, dtype=np.int64)
    l4_rel = np.full(m, -1, dtype=np.int64)
    has_l4 = np.zeros(m, dtype=bool)
    ipv6_mask = np.zeros(m, dtype=bool)
    slow = np.zeros(m, dtype=bool)  # rows delegated to the scalar kernel
    nonfirst4 = np.zeros(m, dtype=bool)  # non-first v4 fragments (non-strict)

    # --- IPv4 ----------------------------------------------------------------
    if v4.any():
        ihl = _byte(u, ip, v4) & 0x0F
        res.set_num("ttl", v4, _byte(u, ip + 8, v4)[v4])
        raw = _byte(u, ip + 9, v4)
        # signed-byte display quirk [PcapReader.java:322]
        pn = _take_names(
            raw, v4,
            lambda r: PROTOCOL_NAMES.get(
                r, str(r - 256 if (strict and r > 127) else r)
            ),
        )
        res.overlay("protocol", pn)
        v4_text = lambda b: "%d.%d.%d.%d" % (b[0], b[1], b[2], b[3])  # noqa: E731
        if want_src:
            res.overlay("src", _ip_strings(u, ip + 12, v4, 4, v4_text))
        if want_dst:
            res.overlay("dst", _ip_strings(u, ip + 16, v4, 4, v4_text))
        proto_id = np.where(v4, raw, proto_id)
        l4_rel = np.where(v4, ip_rel + ihl * 4, l4_rel)
        has_l4 = has_l4 | v4
        if not strict:
            # v4 fragmentation, vectorized twin of the scalar branch:
            # flag fragments; non-first fragments get no L4 parse
            ff = _be16(u, ip + 6, v4)
            fragd = v4 & ((ff & 0x3FFF) != 0)
            nonfirst4 = nonfirst4 | (v4 & ((ff & 0x1FFF) != 0))
            if fragd.any():
                fr = np.full(m, None, dtype=object)
                fr[fragd] = True
                res.overlay("frag", fr)
                # reassembly metadata, vectorized twin of the scalar
                # branch (VERDICT r12 item 3): datagram ident, body
                # byte offset, MF bit, raw body bytes — fragment rows
                # only (rare), so the body slice loop is per-fragment
                res.set_num("ip_ident", fragd, _be16(u, ip + 4, fragd)[fragd])
                res.set_num(
                    "frag_offset", fragd, ((ff & 0x1FFF) * 8)[fragd]
                )
                mf = np.full(m, None, dtype=object)
                mfbits = (ff & 0x2000) != 0
                for i in np.nonzero(fragd)[0].tolist():
                    mf[i] = bool(mfbits[i])
                res.overlay("frag_mf", mf)
                l4_abs = pkt + l4_rel
                end_abs = pkt + caplen
                fb = res.objects["frag_body"]
                for i in np.nonzero(fragd & (l4_rel <= caplen))[0].tolist():
                    fb[i] = data[l4_abs[i] : end_abs[i]]

    # --- IPv6 ----------------------------------------------------------------
    if v6.any():
        import ipaddress as _ipa

        res.set_num("payload_len", v6, _be16(u, ip + 4, v6)[v6])
        res.set_num("ttl", v6, _byte(u, ip + 7, v6)[v6])
        v6_text = lambda b: str(_ipa.IPv6Address(b))  # noqa: E731
        if want_src:
            res.overlay("src", _ip_strings(u, ip + 8, v6, 16, v6_text))
        if want_dst:
            res.overlay("dst", _ip_strings(u, ip + 24, v6, 16, v6_text))
        first_next = _byte(u, ip + 6, v6)
        needs_walk = v6 & (
            np.isin(first_next, list(IPV6_EXT_NAMES)) | (first_next == IPV6_NO_NEXT_HEADER)
        )
        fast6 = v6 & ~needs_walk
        res.set_num("ext_count", fast6, 0)
        if strict:
            # reference loop runs only while pos < n: a header-only packet
            # gets no protocol and NO ext_headers key [PcapReader.java:374]
            terminal = fast6 & (ip_rel + 40 < caplen)
        else:
            terminal = fast6
        if terminal.any():
            pn6 = _take_names(
                first_next, terminal, lambda c: PROTOCOL_NAMES.get(c, str(c))
            )
            eh6 = _take_names(
                first_next, terminal,
                lambda c: "[%s]" % PROTOCOL_NAMES.get(c, str(c)),
            )
            res.overlay("protocol", pn6)
            res.overlay("ext_headers", eh6)
            proto_id = np.where(terminal, first_next, proto_id)
            l4_rel = np.where(terminal, ip_rel + 40, l4_rel)
            has_l4 = has_l4 | terminal
        if needs_walk.any():
            # vectorized chain walk (was: scalar per-row fallback);
            # rows the round-capped walk can't finish go to `slow`
            w = _walk_v6_chains(u, end, ip, first_next, needs_walk, strict)
            resolved = w["resolved"]
            if not resolved.all():
                slow[w["idx"][~resolved]] = True
            ridx = w["idx"][resolved]
            if len(ridx):
                res.set_num("ext_count", ridx, w["ext_count"][resolved])
                fr_idx = w["idx"][resolved & w["frag"]]
                if len(fr_idx):
                    res.objects["frag"][fr_idx] = True
                # strict parity: ext_headers key exists only if a name
                # was appended; non-strict always sets it (possibly "")
                eh_rows = resolved & w["appended"] if strict else resolved
                res.objects["ext_headers"][w["idx"][eh_rows]] = w["names"][eh_rows]
                term_w = resolved & (w["term_proto"] >= 0)
                tidx = w["idx"][term_w]
                if len(tidx):
                    tcodes = w["term_proto"][term_w]
                    uniq, inv = np.unique(tcodes, return_inverse=True)
                    table = np.array(
                        [PROTOCOL_NAMES.get(int(c), str(int(c))) for c in uniq],
                        dtype=object,
                    )
                    res.objects["protocol"][tidx] = table[inv]
                    proto_id[tidx] = tcodes
                    l4_rel[tidx] = w["term_pos"][term_w] - pkt[tidx]
                    has_l4[tidx] = True
        ipv6_mask = ipv6_mask | v6

    # --- L4: ports / udpsum / len / payload ----------------------------------
    is_tcp = has_l4 & (proto_id == 6)
    is_udp = has_l4 & (proto_id == 17)
    l4 = pkt + l4_rel
    ports_ok = (is_tcp | is_udp) & (l4_rel + 4 <= caplen) & ~slow & ~nonfirst4
    if ports_ok.any():
        res.set_num("src_port", ports_ok, _be16(u, l4, ports_ok)[ports_ok])
        res.set_num("dst_port", ports_ok, _be16(u, l4 + 2, ports_ok)[ports_ok])

    payload_start = np.full(m, -1, dtype=np.int64)

    udp_ok = is_udp & (l4_rel + 8 <= caplen) & ~slow & ~nonfirst4
    if udp_ok.any():
        if _want(opts, "udpsum"):
            wire = _be16(u, l4 + 6, udp_ok)
            ck_rows = udp_ok & (wire != 0)
            if strict:
                # reference pseudo-header: IPv4 offsets + wire length
                # [PcapReader.java:137-145]; -1 (omit) when bytes run short
                ck_ok = ck_rows & (ip_rel + 20 <= caplen) & (l4_rel + 6 <= caplen)
            else:
                ck_ok = ck_rows
            if ck_ok.any():
                idx = np.nonzero(ck_ok)[0]
                H, L = _segment_sums(u, l4[idx], end[idx])
                seg_total = (H << 8) + L
                if strict:
                    ph = np.zeros(len(idx), dtype=np.int64)
                    for woff in (12, 14, 16, 18):
                        ph += _be16(u, ip[idx] + woff, np.ones(len(idx), bool))
                    ph += 0x0011
                    ph += _be16(u, l4[idx] + 4, np.ones(len(idx), bool))
                else:
                    ph = np.zeros(len(idx), dtype=np.int64)
                    seglen = (end[idx] - l4[idx]).astype(np.int64)
                    v6i = ipv6_mask[idx]
                    # validity masks double as read guards: a masked-out
                    # row must not even gather (ip+38 can lie past the
                    # buffer when a short v4 packet ends the file)
                    # IPv4 rows: src(2w)+dst(2w)+proto+len
                    for woff in (12, 14, 16, 18):
                        ph += _be16(u, ip[idx] + woff, ~v6i)
                    # IPv6 rows: src(8w)+dst(8w)+len(2w)+proto
                    for woff in range(8, 40, 2):
                        ph += _be16(u, ip[idx] + woff, v6i)
                    ph += np.where(v6i, (seglen >> 16) + (seglen & 0xFFFF), seglen)
                    ph += 0x0011
                res.set_num("udpsum", idx, _fold16(ph + seg_total))
        payload_start = np.where(udp_ok, l4_rel + 8, payload_start)

    tcp_ok = is_tcp & (l4_rel + 13 <= caplen) & ~slow & ~nonfirst4
    if tcp_ok.any():
        doff = (_byte(u, l4 + 12, tcp_ok) >> 4) * 4
        payload_start = np.where(tcp_ok, l4_rel + doff, payload_start)

    # opt-in TCP metadata (requested via columns= only — never in the
    # default schema): sequence number + flags byte, the substrate for
    # retransmission / out-of-order analytics and seq-aware reassembly
    if opts.wanted is not None and "tcp_seq" in opts.wanted:
        seq_ok = is_tcp & (l4_rel + 8 <= caplen) & ~slow & ~nonfirst4
        if seq_ok.any():
            v = (_be16(u, l4 + 4, seq_ok) << 16) | _be16(u, l4 + 6, seq_ok)
            res.set_num("tcp_seq", seq_ok, v[seq_ok])
    if opts.wanted is not None and "tcp_flags" in opts.wanted:
        fl_ok = is_tcp & (l4_rel + 14 <= caplen) & ~slow & ~nonfirst4
        if fl_ok.any():
            res.set_num("tcp_flags", fl_ok, _byte(u, l4 + 13, fl_ok)[fl_ok])

    # non-first v4 fragments of TCP/UDP: no L4 header exists — the raw
    # fragment bytes (from the IP payload) are the payload
    frag_pl = nonfirst4 & (is_tcp | is_udp) & (l4_rel <= caplen) & ~slow
    payload_start = np.where(frag_pl, l4_rel, payload_start)

    has_payload = payload_start >= 0
    res.data = data
    plen = np.maximum(0, caplen - payload_start)
    res.payload_spans = (pkt + payload_start, plen, has_payload)
    res.emit_payload = bool(opts.keep_payload and _want(opts, "payload"))
    if has_payload.any():
        res.set_num("len", has_payload, plen[has_payload])

    # --- slow rows: scalar kernel fallback (IPv6 ext chains etc.) ------------
    if slow.any():
        for i in np.nonzero(slow)[0].tolist():
            p: dict = {}
            _decode_l3_l4(p, data[pkt[i] : end[i]], int(ip_rel[i]), opts)
            # keep the bytes unconditionally: the DNS pass below needs
            # them even when the payload column itself is pruned —
            # emission is gated by res.emit_payload at read time
            payload = p.pop("_payload", None)
            if payload is not None:
                p["payload"] = payload
            for col, val in p.items():
                if col in NUMERIC_COLS:
                    res.set_num(col, i, val)
                else:
                    res.objects[col][i] = val

    # frag column is only ever set True (scalar sets it via slow path);
    # nothing to do for fast rows.

    # --- DNS (decoder='dns'): interned parse on the port-53 subset -----------
    # wanted-gate: a pruned read without dns_* columns skips the whole
    # per-row loop, not just the inner parse.
    #
    # Message-body interning (the columnar kernel's answer to the
    # "DNS falls back to per-row Python" throughput gap): DNS traffic
    # repeats message BODIES heavily — retransmissions, the same names
    # queried over and over, cached responses — with only the 2-byte
    # query id varying per packet.  Every dns_* field except
    # dns_queryid is a pure function of the body (bytes 2..end of the
    # message), so we parse once per unique body and patch the query
    # id per row with a 2-byte read.  On a resolver-shaped capture
    # this turns 100k parses into ~#unique-bodies parses; on an
    # adversarial all-unique capture it degrades to the old per-row
    # parse plus one dict probe.
    #
    # Correctness edge: a compression pointer targeting offset 0 or 1
    # (inside the query id itself) would make the rendered names
    # depend on the id bytes.  Such a pointer wires as 0xC0 0x00 /
    # 0xC0 0x01; any message containing either byte pair (even as a
    # false positive inside rdata) is parsed per-row instead of
    # interned.  Real messages never point into the id field.
    from .decode import DNS_COLUMNS, PROTOCOL_TCP

    if opts.decoder == "dns" and _want(opts, *DNS_COLUMNS):
        sp_vals, sp_mask = res.numeric["src_port"]
        dp_vals, dp_mask = res.numeric["dst_port"]
        cand = ((~sp_mask) & (sp_vals == 53)) | ((~dp_mask) & (dp_vals == 53))
        proto_col = res.objects["protocol"]
        objects = res.objects
        strip_tcp = not opts.strict_reference
        payload_at = res.payload_at
        from_bytes = int.from_bytes

        def _row_parse(i):
            p = {
                "src_port": int(sp_vals[i]) if not sp_mask[i] else None,
                "dst_port": int(dp_vals[i]) if not dp_mask[i] else None,
                "protocol": proto_col[i],
                "_payload": payload_at(i),
            }
            _decode_dns(p, opts)
            return p

        # pass 1: group candidate rows by post-strip message BODY
        groups: dict = {}
        for i in np.nonzero(cand[:m])[0].tolist():
            pl = payload_at(i)
            if not pl:
                continue
            if strip_tcp and proto_col[i] == PROTOCOL_TCP:
                if len(pl) < 2:
                    continue  # _decode_dns's short-TCP silent skip
                msg = pl[2:]
            else:
                msg = pl
            if len(msg) < 12:
                continue  # shorter than the DNS header: parse_message
                # always fails -> silent-skip parity without the try
            g = groups.get(msg[2:])
            if g is None:
                groups[msg[2:]] = g = ([], [], i)
            g[0].append(i)
            g[1].append(from_bytes(msg[:2], "big"))

        # pass 2: one parse per unique body; column writes batched per
        # group (fancy indexing) instead of per row
        for body, (idxs, qids, i0) in groups.items():
            if b"\xc0\x00" in body or b"\xc0\x01" in body:
                # possible compression pointer INTO the query id: the
                # parse (even its success) can depend on the id bytes —
                # fall back to per-row parsing for this body
                for i in idxs:
                    p = _row_parse(i)
                    for col in DNS_COLUMNS:
                        if col in p:
                            objects[col][i] = p[col]
                continue
            p = _row_parse(i0)
            if "dns_queryid" not in p:
                continue  # parse failed -> silent skip for all rows
            if len(idxs) == 1:
                i = idxs[0]
                objects["dns_queryid"][i] = qids[0]
                for col in DNS_COLUMNS:
                    if col in p:
                        objects[col][i] = p[col]
                continue
            arr_idx = np.asarray(idxs, dtype=np.int64)
            objects["dns_queryid"][arr_idx] = qids
            for col in DNS_COLUMNS:
                if col == "dns_queryid" or col not in p:
                    continue
                val = p[col]
                if isinstance(val, list):
                    # lists broadcast elementwise under fancy assign;
                    # fill() stores the same object per slot instead
                    tmp = np.empty(len(arr_idx), dtype=object)
                    tmp.fill(val)
                    objects[col][arr_idx] = tmp
                else:
                    objects[col][arr_idx] = val

    return res
