"""DNS-over-TCP flow reassembly (operators/flows.py).

The reference yields no dns_* for TCP DNS (DnsPcapReader.java:53-55);
this operator recovers them at flow grain.  Goldens assert the
reassembled messages parse identically to direct parses of the same
message bytes.
"""

import os
import struct

import pytest

from hadoop_pcap_spark.operators.flows import (
    _frame_messages,
    reassemble_dns_tcp,
)
from hadoop_pcap_spark.pcap import dns as dnsmod
from hadoop_pcap_spark.pcap import synth as S
from hadoop_pcap_spark.sources import read_pcap


# --- pure framing-walk units -------------------------------------------------


def test_frame_messages_walks_multiple():
    m1, m2 = b"\x01" * 5, b"\x02" * 9
    stream = struct.pack(">H", 5) + m1 + struct.pack(">H", 9) + m2
    assert _frame_messages(stream) == [m1, m2]


def test_frame_messages_drops_incomplete_tail():
    m1 = b"\x01" * 5
    stream = struct.pack(">H", 5) + m1 + struct.pack(">H", 100) + b"short"
    assert _frame_messages(stream) == [m1]


def test_frame_messages_zero_length_stops():
    assert _frame_messages(struct.pack(">H", 0) + b"junk") == []
    assert _frame_messages(b"") == []
    assert _frame_messages(b"\x00") == []


def test_dns_tcp_segments_split_mid_message():
    q = S.dns_query(1, "a.example")
    r = S.dns_response(1, "a.example", 1, answers=[("a.example", 60, 1, S.a_rdata("10.0.0.1"))])
    segs = S.dns_tcp_segments([q, r], [10])
    assert len(segs) == 2 and len(segs[0]) == 10
    assert _frame_messages(b"".join(segs)) == [q, r]


# --- end-to-end over the Spark source ----------------------------------------


@pytest.fixture(scope="module")
def tcp_capture_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("tcpdns")
    (d / "tcpdns.pcap").write_bytes(S.dns_tcp_exchange_pcap())
    return str(d)


def _packets(spark, path):
    return read_pcap(
        spark,
        path,
        columns=["file", "src", "dst", "src_port", "dst_port",
                 "protocol", "pkt_no", "payload"],
        strict_reference=False,
    )


def test_reassembles_split_and_shared_segments(spark, tcp_capture_dir):
    rows = (
        reassemble_dns_tcp(_packets(spark, tcp_capture_dir))
        .orderBy("src", "msg_no")
        .collect()
    )
    # client flow: 1 query; server flow: 2 responses
    assert [(r["src"], r["msg_no"]) for r in rows] == [
        ("192.0.2.10", 1), ("192.0.2.53", 1), ("192.0.2.53", 2),
    ]
    q, r1, r2 = rows
    assert q["dns_qr"] is False and q["dns_queryid"] == 0x4242
    assert q["dns_qname"] == "bigzone.example."
    assert q["n_segments"] == 1
    # r1 spans two segments; r2 shares the second segment with r1's tail
    assert r1["n_segments"] == 2 and r2["n_segments"] == 2
    assert r1["dns_queryid"] == 0x4242 and len(r1["dns_answer"]) == 20
    assert r2["dns_queryid"] == 0x4243 and len(r2["dns_answer"]) == 1

    # golden: reassembled render == direct parse of the source bytes
    want = dnsmod.parse_message(
        S.dns_response(
            0x4242, "bigzone.example", 252,
            answers=[(f"h{i}.bigzone.example", 600, 1, S.a_rdata(f"10.1.{i}.1"))
                     for i in range(20)],
        )
    )
    assert r1["dns_answer"] == want.answers
    assert r1["dns_flags"] == want.flags_text


def test_non_dns_traffic_excluded(spark, tmp_path):
    # UDP DNS + non-53 TCP: nothing to reassemble
    frames = [
        S.ethernet(S.ipv4(S.udp(S.dns_query(9, "x.example"), 5353, 53,
                                "10.0.0.1", "10.0.0.2"),
                          17, "10.0.0.1", "10.0.0.2")),
        S.ethernet(S.ipv4(S.tcp(b"GET / HTTP/1.0\r\n", 40000, 80),
                          6, "10.0.0.3", "10.0.0.4")),
    ]
    raw = S.global_header(1) + b"".join(
        S.record(1700000000 + i, f) for i, f in enumerate(frames))
    p = tmp_path / "mixed.pcap"
    p.write_bytes(raw)
    assert reassemble_dns_tcp(_packets(spark, str(tmp_path))).count() == 0


def test_hot_flow_guard_truncates(spark, tmp_path):
    # 3 messages; cap the flow stream so only the first fits complete
    msgs = [S.dns_query(i, f"q{i}.example") for i in range(3)]
    segs = S.dns_tcp_segments(msgs, [2 + len(msgs[0]), 2 + len(msgs[1])])
    raw = S.global_header(1) + b"".join(
        S.record(1700000000 + i,
                 S.ethernet(S.ipv4(S.tcp(seg, 40000, 53), 6,
                                   "10.9.0.1", "10.9.0.2")))
        for i, seg in enumerate(segs))
    p = tmp_path / "hot.pcap"
    p.write_bytes(raw)
    cap = 2 + len(msgs[0]) + 1  # mid-second-message
    out = reassemble_dns_tcp(_packets(spark, str(tmp_path)),
                             max_flow_bytes=cap).collect()
    assert [r["dns_queryid"] for r in out] == [0]


def test_reassemble_tcp_streams_generic(spark, tmp_path):
    """The generic directional-stream reassembler (VERDICT r12 item 1
    substrate): ordered concat per directional 5-tuple, pushdown flow
    filter, and the hot-flow truncation guard."""
    from pyspark.sql import functions as F

    from hadoop_pcap_spark.operators.flows import reassemble_tcp_streams

    parts = [b"alpha-", b"bravo-", b"charlie"]
    frames = [
        S.ethernet(S.ipv4(S.tcp(seg, 40000, 9999), 6, "10.7.0.1", "10.7.0.2"))
        for seg in parts
    ] + [
        S.ethernet(S.ipv4(S.tcp(b"other-flow", 40001, 8888),
                          6, "10.7.0.3", "10.7.0.2")),
    ]
    raw = S.global_header(1) + b"".join(
        S.record(1700000000 + i, f) for i, f in enumerate(frames))
    (tmp_path / "streams.pcap").write_bytes(raw)
    pkts = _packets(spark, str(tmp_path))
    out = {
        (r.src, r.src_port): r
        for r in reassemble_tcp_streams(pkts).collect()
    }
    r = out[("10.7.0.1", 40000)]
    assert bytes(r.stream) == b"alpha-bravo-charlie"
    assert r.n_segments == 3 and not r.truncated
    assert bytes(out[("10.7.0.3", 40001)].stream) == b"other-flow"
    # pushdown filter: only the 9999 flow survives
    only = reassemble_tcp_streams(
        pkts, flow_filter=F.col("dst_port") == 9999
    ).collect()
    assert len(only) == 1
    # hot-flow guard: cap mid-second-segment
    (trunc,) = reassemble_tcp_streams(
        pkts, flow_filter=F.col("dst_port") == 9999, max_flow_bytes=8
    ).collect()
    assert bytes(trunc.stream) == b"alpha-br" and trunc.truncated


def test_reassemble_ipv4_fragments_golden(spark, tmp_path):
    """Reassembled datagrams == synthesis intent (VERDICT r12 item 3):
    ports recovered from the first fragment's L4 header, payload is
    the WHOLE pre-split datagram body, completeness certified."""
    import hashlib

    from hadoop_pcap_spark.operators.flows import reassemble_ipv4_fragments

    (tmp_path / "frags.pcap").write_bytes(S.v4frag_pcap())
    pkts = read_pcap(spark, str(tmp_path), strict_reference=False)
    got = {
        (r.src, r.ip_ident): r
        for r in reassemble_ipv4_fragments(pkts).collect()
    }
    truth = S.v4frag_reassembled_truth()
    assert len(got) == len(truth)
    for t in truth:
        r = got[(t["src"], t["ip_ident"])]
        assert (r.src_port, r.dst_port) == (t["src_port"], t["dst_port"]), t
        assert r.n_fragments == t["n_fragments"] and r.complete, t
        assert r.payload_len == t["payload_len"], t
        assert hashlib.md5(bytes(r.payload)).hexdigest() == t["payload_md5"], t


def test_reassemble_ipv4_missing_fragment_flags_incomplete(spark, tmp_path):
    """Drop the LAST fragment of one datagram: the reassembler must
    mark it incomplete (MF still set on the tail it has) while
    reassembling its neighbors fully."""
    from hadoop_pcap_spark.operators.flows import reassemble_ipv4_fragments

    frames = [f for f, m in S.v4frag_frames()]
    # frames 12..23 are the fragment pairs; drop the non-first
    # fragment of the first datagram (index 13)
    del frames[13]
    raw = S.global_header(1) + b"".join(
        S.record(1450000000 + i, f) for i, f in enumerate(frames))
    (tmp_path / "gap.pcap").write_bytes(raw)
    pkts = read_pcap(spark, str(tmp_path), strict_reference=False)
    rows = {r.ip_ident: r for r in reassemble_ipv4_fragments(pkts).collect()}
    assert not rows[100].complete and rows[100].n_fragments == 1
    # ports still recover from the surviving first fragment
    assert rows[100].src_port == 30000
    assert all(rows[100 + i].complete for i in range(1, 6))


def test_driver_query_registered(spark):
    from hadoop_pcap_spark.plans import QUERIES, load_all

    load_all()
    df = QUERIES["pcap_dns_tcp_reassembly"](spark, os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001"))
    rows = df.collect()
    assert [r["n_answers"] for r in rows] == [0, 20, 1]


# --- flow_stats --------------------------------------------------------------


def test_flow_stats_bidirectional_golden(spark, tmp_path):
    """The synth DNS exchange (query + response, same conversation)
    collapses into ONE bidirectional flow with a 1/1 direction split."""
    from hadoop_pcap_spark.operators.flows import flow_stats

    d = tmp_path / "cap"
    d.mkdir()
    (d / "x.pcap").write_bytes(S.dns_exchange_pcap())
    pkts = read_pcap(spark, str(d))
    rows = flow_stats(pkts).collect()
    assert len(rows) == 1
    r = rows[0]
    # endpoint A = lexicographically smaller (ip, port)
    assert (r["ip_a"], r["port_a"]) == ("193.0.10.82", 52938)
    assert (r["ip_b"], r["port_b"]) == ("193.0.14.129", 53)
    assert r["proto"] == "UDP"
    assert r["n_packets"] == 2
    assert r["a_to_b_packets"] == 1 and r["b_to_a_packets"] == 1
    assert r["n_bytes"] == sum(p["size"] for p in pkts.select("size").collect())
    assert r["duration_s"] == 0.0  # both packets share ts in the fixture
    # unidirectional mode splits the conversation into 2 flows
    uni = flow_stats(pkts, bidirectional=False).collect()
    assert len(uni) == 2 and all(u["n_packets"] == 1 for u in uni)


def test_flow_stats_duration_and_multiflow(spark, tmp_path):
    from hadoop_pcap_spark.operators.flows import flow_stats

    frames = [
        (1700000000, 250000, S.ethernet(S.ipv4(S.udp(b"a", 1111, 53, "10.0.0.1", "10.0.0.9"), 17, "10.0.0.1", "10.0.0.9"))),
        (1700000002, 750000, S.ethernet(S.ipv4(S.udp(b"bb", 53, 1111, "10.0.0.9", "10.0.0.1"), 17, "10.0.0.9", "10.0.0.1"))),
        (1700000005, 0, S.ethernet(S.ipv4(S.tcp(b"ccc", 2222, 80), 6, "10.0.0.1", "10.0.0.9"))),
    ]
    raw = S.global_header(1) + b"".join(
        S.record(ts, f, ts_usec=us) for ts, us, f in frames)
    d = tmp_path / "cap"
    d.mkdir()
    (d / "y.pcap").write_bytes(raw)
    rows = {r["proto"]: r for r in flow_stats(read_pcap(spark, str(d))).collect()}
    assert set(rows) == {"UDP", "TCP"}
    assert rows["UDP"]["n_packets"] == 2
    assert abs(rows["UDP"]["duration_s"] - 2.5) < 1e-9
    assert rows["TCP"]["n_packets"] == 1 and rows["TCP"]["duration_s"] == 0.0


def test_flow_stats_driver_query(spark):
    from hadoop_pcap_spark.plans import QUERIES, load_all

    load_all()
    rows = QUERIES["pcap_flow_stats"](spark, "/root/testdata/sf0.001").collect()
    # fixture_dir: same 2-packet exchange in a.pcap and b.pcap.gz → 2 flows
    assert len(rows) == 2
    assert all(r["n_packets"] == 2 and r["a_to_b_packets"] == 1 for r in rows)


def test_flows_enriched_with_prefix_dim(spark):
    """Flows join the /24-prefix dim by broadcast; unmatched prefixes
    fall back to 'unknown'."""
    from hadoop_pcap_spark.plans import QUERIES, load_all

    load_all()
    rows = QUERIES["pcap_flows_enriched"](spark, "").collect()
    assert len(rows) == 2  # one flow per fixture file
    for r in rows:
        assert (r.org, r.role) == ("ripe-ncc", "server")
        assert r.n_packets == 2


def test_windowed_reassembly_bounds_state(spark, tmp_path):
    """window= adds a tumbling event-time bucket to the group key —
    the endless-capture state bound: a flow whose packets span two
    windows reassembles per window chunk; without window it is one
    flow row.  (http_objects/tls_handshakes plumb the same knob.)"""
    from hadoop_pcap_spark.operators.flows import reassemble_tcp_streams
    from hadoop_pcap_spark.pcap import synth as S
    from hadoop_pcap_spark.sources import read_pcap

    # one TCP flow, two payload packets 10 minutes apart
    frames = [
        (S.ethernet(S.ipv4(S.tcp(b"part-one;", 40000, 80), 6,
                           "10.9.0.1", "10.9.0.2")), 1700000000),
        (S.ethernet(S.ipv4(S.tcp(b"part-two;", 40000, 80), 6,
                           "10.9.0.1", "10.9.0.2")), 1700000600),
    ]
    p = tmp_path / "slow.pcap"
    p.write_bytes(
        S.global_header(1) + b"".join(S.record(ts, f) for f, ts in frames)
    )
    pkts = read_pcap(spark, str(tmp_path), strict_reference=False)
    whole = reassemble_tcp_streams(pkts).collect()
    assert len(whole) == 1 and bytes(whole[0].stream) == b"part-one;part-two;"
    chunked = reassemble_tcp_streams(pkts, window="5 minutes").collect()
    assert sorted(bytes(r.stream) for r in chunked) == [
        b"part-one;", b"part-two;"
    ]


def test_seq_ordered_reassembly_heals_retrans_and_ooo(spark, tmp_path):
    """order='seq' (r13): retransmitted duplicates drop and
    out-of-order segments re-sort by TCP sequence number, so the
    reassembled stream equals the bytes the endpoints exchanged —
    capture order (the default) preserves the wire order instead."""
    from hadoop_pcap_spark.operators.flows import reassemble_tcp_streams
    from hadoop_pcap_spark.pcap import synth as S
    from hadoop_pcap_spark.sources import read_pcap

    p = tmp_path / "anomaly.pcap"
    p.write_bytes(S.tcp_anomaly_pcap())
    pkts = read_pcap(
        spark, str(tmp_path),
        columns=["file", "src", "dst", "src_port", "dst_port",
                 "protocol", "pkt_no", "payload", "tcp_seq"],
        strict_reference=False,
    )
    got = {
        r.src: bytes(r.stream)
        for r in reassemble_tcp_streams(pkts, order="seq").collect()
    }
    for cli, _cp, _srv, _sp, segs in S._TCPA_FLOWS:
        expect = b"".join(
            bytes((seq + i) % 256 for i in range(plen))
            for seq, plen, _fl in sorted(
                {s[0]: s for s in segs}.values()  # dedup by seq, then order
            )
        )
        assert got[cli] == expect, cli
    # capture order differs for the out-of-order flow
    cap = {
        r.src: bytes(r.stream)
        for r in reassemble_tcp_streams(pkts).collect()
    }
    assert cap["198.18.0.3"] != got["198.18.0.3"]
    # missing the opt-in column fails loudly, not silently
    import pytest as _pytest

    bare = read_pcap(
        spark, str(tmp_path),
        columns=["file", "src", "dst", "src_port", "dst_port",
                 "protocol", "pkt_no", "payload"],
        strict_reference=False,
    )
    with _pytest.raises(ValueError, match="tcp_seq"):
        reassemble_tcp_streams(bare, order="seq")


# --- the one direction join (flows.join_directions) ---------------------------


def _ref_join(segs, max_bytes=None, order="capture"):
    """Plain-Python reference: segments are dicts with src, src_port,
    pkt_no, payload[, tcp_seq]; per (src, src_port) direction in
    first-appearance order, payloads in pkt_no order (ties keep input
    order) or seq-healed, joined up to ``max_bytes`` → list of
    (direction, stream, truncated)."""
    by_dir = {}
    for s in sorted(segs, key=lambda s: s["pkt_no"]):
        by_dir.setdefault((s["src"], s["src_port"]), []).append(s)
    out = []
    for d, ds in by_dir.items():
        chunks = [s["payload"] for s in ds]
        if order == "seq" and any(s["tcp_seq"] is not None for s in ds):
            first = next(s["tcp_seq"] for s in ds if s["tcp_seq"] is not None)
            keyed, rel = [], 0
            for i, s in enumerate(ds):
                if s["tcp_seq"] is not None:
                    rel = (s["tcp_seq"] - first) % (1 << 32)
                keyed.append((rel, i, s["payload"]))
            chunks, edge = [], 0
            for rel, _i, b in sorted(keyed):
                if rel + len(b) <= edge:
                    continue  # retransmission
                chunks.append(b[max(edge - rel, 0):])
                edge = rel + len(b)
        stream, cut = b"", False
        for b in chunks:
            if max_bytes is not None and len(stream) + len(b) > max_bytes:
                stream, cut = stream + b[: max_bytes - len(stream)], True
                break
            stream += b
        out.append((d, stream, cut))
    return out


def _from_a(s):
    """The canonical a-side rule of flows.canonical_pair_exprs."""
    src, dst = s["src"], s["dst"]
    sp = -1 if s["src_port"] is None else s["src_port"]
    dp = -1 if s["dst_port"] is None else s["dst_port"]
    return src < dst or (src == dst and sp <= dp)


def _join(segs, max_bytes=None, order="capture"):
    import numpy as np

    from hadoop_pcap_spark.operators.flows import join_directions

    got = join_directions(
        (np.array([s["pkt_no"] for s in segs]),),
        np.array([_from_a(s) for s in segs]),
        [s["payload"] for s in segs],
        max_bytes,
        seq=[s["tcp_seq"] for s in segs] if order == "seq" else None,
    )
    return got


def _seg(src, sp, dst, dp, pkt_no, payload, seq=None):
    return {"src": src, "src_port": sp, "dst": dst, "dst_port": dp,
            "pkt_no": pkt_no, "payload": payload, "tcp_seq": seq}


def _check(segs, max_bytes=None, order="capture"):
    got = _join(segs, max_bytes, order)
    ref = _ref_join(segs, max_bytes, order)
    sides = {_from_a(s): (s["src"], s["src_port"]) for s in segs}
    assert [(sides[k], st, cut) for k, (st, cut, _rows) in got.items()] == ref
    return got


def test_join_directions_cases():
    """Ties keep input order, directions come in first-appearance order,
    a self-connection is one a-side stream, NULL ports key a direction,
    and reaching the cap exactly truncates only if payload follows."""
    c, s = "10.0.0.2", "10.0.0.1"  # the server sorts first: b-side client
    ties = [_seg(c, 5, s, 80, 1, b"GE"), _seg(s, 80, c, 5, 2, b"HT"),
            _seg(c, 5, s, 80, 2, b"T /"), _seg(c, 5, s, 80, 1, b"!")]
    got = _check(ties)
    assert [(k, v[0]) for k, v in got.items()] == [(False, b"GE!T /"), (True, b"HT")]
    assert list(got[False][2]) == [0, 3, 2]

    self_conn = [_seg(s, 7, s, 7, 2, b"b"), _seg(s, 7, s, 7, 1, b"a")]
    got = _check(self_conn)
    assert list(got) == [True] and got[True][0] == b"ab"

    null_ports = [_seg(c, None, s, 80, 1, b"q"), _seg(s, 80, c, None, 2, b"r"),
                  _seg(c, None, s, 80, 3, b"s")]
    got = _check(null_ports)
    assert [v[0] for v in got.values()] == [b"qs", b"r"]

    exact = [_seg(c, 5, s, 80, 1, b"abc"), _seg(c, 5, s, 80, 2, b"de")]
    assert _check(exact, 5)[False][:2] == (b"abcde", False)
    assert _check(exact, 3)[False][:2] == (b"abc", True)  # cap hit, more follows
    assert _check(exact, 4)[False][:2] == (b"abcd", True)
    assert _join([], 4) == {}


def test_join_directions_seq_heals_and_matches_reference():
    """order="seq": out-of-order segments re-sort, retransmits drop,
    overlaps trim, NULL seqs take the previous segment's seq, the 32-bit wrap
    unwraps; randomized groups match the plain-Python reference."""
    import random

    c, s = "10.0.0.1", "10.0.0.2"
    base = (1 << 32) - 3  # the flow crosses the wrap
    healed = [_seg(c, 9, s, 80, 1, b"abc", base),
              _seg(c, 9, s, 80, 2, b"ghi", (base + 6) % (1 << 32)),
              _seg(c, 9, s, 80, 3, b"def", (base + 3) % (1 << 32)),
              _seg(c, 9, s, 80, 4, b"abc", base),            # retransmit
              _seg(c, 9, s, 80, 5, b"hijk", (base + 7) % (1 << 32)),  # overlap
              _seg(c, 9, s, 80, 6, b"!", None)]  # seq-less: inherits 7, covered
    got = _check(healed, order="seq")
    assert got[True][0] == b"abcdefghijk"
    assert list(got[True][2]) == [0, 2, 1, 4]

    rng = random.Random(11)
    for _ in range(300):
        segs = []
        for i in range(rng.randrange(1, 8)):
            fwd = rng.random() < 0.5
            segs.append(_seg(
                c if fwd else s, 9 if fwd else 80, s if fwd else c,
                80 if fwd else 9, rng.randrange(4),
                bytes([rng.randrange(97, 123)]) * rng.randrange(1, 4),
                None if rng.random() < 0.2
                else (base + rng.randrange(10)) % (1 << 32),
            ))
        cap = rng.choice([None, 1, 2, 4, 7])
        _check(segs, cap)
        _check(segs, cap, order="seq")
