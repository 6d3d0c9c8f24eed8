"""TLS handshake extraction (operators/tls.py): SNI / ALPN / version /
cipher / JA3(S) per connection.

Golden contract: extractor output over the synthesized capture ==
synthesis intent (synth.tls_exchange_truth — computed from the spec
dicts; the extractor is never consulted).  The record walk, hello
parsers, GREASE stripping, and JA3 rendering are additionally
unit-pinned on the pure functions."""

import os
import struct
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hadoop_pcap_spark.operators.tls import (
    handshake_messages,
    iter_tls_records,
    ja3_string,
    parse_client_hello,
    parse_server_hello,
    tls_handshakes,
)
from hadoop_pcap_spark.pcap import synth as S
from hadoop_pcap_spark.sources import read_pcap


# --- pure-parser units --------------------------------------------------------


def _ch_stream(fl):
    return S._tls_records(
        S._tls_client_hello_body(fl["ch"]), fl["split"] == "records"
    )


def test_record_walk_stops_on_non_tls():
    assert list(iter_tls_records(b"\x00NOT TLS")) == []
    assert list(iter_tls_records(b"")) == []
    # truncated final record: complete prefix records still come out
    fl = S._TLS_FLOWS[0]
    stream = _ch_stream(fl)
    assert list(iter_tls_records(stream[:-1])) == []  # single record, cut
    two = stream + b"\x16\x03\x03\x00\x40" + b"\x00" * 10  # short second
    assert len(list(iter_tls_records(two))) == 1


def test_record_walk_rejects_oversized_length():
    bad = b"\x16\x03\x01" + struct.pack(">H", (1 << 14) + 2049) + b"\x00" * 64
    assert list(iter_tls_records(bad)) == []


def test_handshake_message_spanning_two_records():
    fl = S._TLS_FLOWS[2]  # split == "records"
    msgs = list(handshake_messages(_ch_stream(fl)))
    assert len(msgs) == 1 and msgs[0][0] == 1
    ch = parse_client_hello(msgs[0][1])
    assert ch["sni"] == fl["ch"]["sni"]


def test_client_hello_fields_and_grease_stripping():
    fl = S._TLS_FLOWS[1]  # GREASE'd TLS 1.3 hello
    (msg,) = list(handshake_messages(_ch_stream(fl)))
    ch = parse_client_hello(msg[1])
    assert ch["sni"] == "data.example.net"
    assert ch["alpn"] == ["h2"]
    assert 0x1A1A in ch["ciphers"]            # parser preserves the wire
    ja3 = ja3_string(ch)
    assert "6682" not in ja3                  # 0x1A1A stripped from JA3
    assert ja3 == S._ja3_from_spec(fl["ch"])  # independent arithmetic agrees


def test_server_hello_negotiated_version_and_alpn():
    fl = S._TLS_FLOWS[1]
    body = S._tls_server_hello_body(fl["sh"])
    (msg,) = list(handshake_messages(b"\x16\x03\x03"
                                     + struct.pack(">H", len(body)) + body))
    assert msg[0] == 2
    sh = parse_server_hello(msg[1])
    assert sh["cipher"] == 0x1301
    assert sh["supported_version"] == 0x0304  # TLS 1.3 via extension
    assert sh["alpn"] == "h2"


def test_parse_client_hello_malformed_returns_none():
    assert parse_client_hello(b"\x03\x03short") is None


# --- golden over the synthesized capture ---------------------------------------


@pytest.fixture(scope="module")
def tls_capture_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("tlscap")
    (d / "tls.pcap").write_bytes(S.tls_exchange_pcap())
    return str(d)


def _decode(spark, d):
    return read_pcap(
        spark, d,
        columns=["file", "src", "dst", "src_port", "dst_port",
                 "protocol", "pkt_no", "payload"],
        strict_reference=False,
    )


def test_tls_handshakes_golden(spark, tls_capture_dir):
    rows = tls_handshakes(_decode(spark, tls_capture_dir)).collect()
    truth = S.tls_exchange_truth()
    assert len(rows) == len(truth)  # the non-TLS 443 flow yields no row
    got = {r.client: r for r in rows}
    for t in truth:
        r = got[t["client"]]
        for k in ("server", "server_port", "sni", "alpn", "alpn_chosen",
                  "tls_version", "cipher_suite", "ja3", "ja3_md5",
                  "ja3s", "ja3s_md5", "server_hello_seen"):
            assert getattr(r, k) == t[k], (t["client"], k)


def test_tls_session_udtf_sql_matches_operator(spark, tls_capture_dir):
    """The tls_session UDTF through spark.sql LATERAL over each
    connection's two reassembled streams (in either order: direction
    is classified by content) yields the same session fields as the
    batch operator on the same capture."""
    from hadoop_pcap_spark.operators.flows import reassemble_tcp_streams
    from hadoop_pcap_spark.sql import register_pcap_udtfs

    register_pcap_udtfs(spark)
    pkts = _decode(spark, tls_capture_dir)
    reassemble_tcp_streams(pkts).createOrReplaceTempView("_tls_streams")
    rows = spark.sql(
        """
        WITH c AS (
            SELECT max(CASE WHEN substring(stream, 1, 1) = X'16'
                             AND substring(stream, 6, 1) = X'01'
                            THEN src END) AS client,
                   collect_list(stream) AS s
            FROM _tls_streams
            GROUP BY file, least(concat_ws('|', src, src_port), concat_ws('|', dst, dst_port)),
                     greatest(concat_ws('|', src, src_port), concat_ws('|', dst, dst_port))
        )
        SELECT c.client, t.*
        FROM c, LATERAL tls_session(get(c.s, 0), get(c.s, 1)) t
        """
    ).collect()
    spark.catalog.dropTempView("_tls_streams")
    fields = ["client", "sni", "alpn", "alpn_chosen", "tls_version",
              "cipher_suite", "ja3", "ja3_md5", "ja3s", "ja3s_md5",
              "server_hello_seen"]
    want = tls_handshakes(pkts).select(*fields).collect()
    assert len(want) == len(S.tls_exchange_truth())
    assert sorted(map(tuple, rows), key=repr) == sorted(map(tuple, want), key=repr)


def test_tls_handshakes_flow_filter_pushes_down(spark, tls_capture_dir):
    from pyspark.sql import functions as F

    only443 = tls_handshakes(
        _decode(spark, tls_capture_dir),
        flow_filter=(F.col("dst_port") == 443) | (F.col("src_port") == 443),
    )
    assert {r.server_port for r in only443.collect()} == {443}


def test_tls_handshakes_ignores_plain_http(spark, tmp_path):
    p = tmp_path / "web.pcap"
    p.write_bytes(S.http_exchange_pcap())
    assert tls_handshakes(_decode(spark, str(tmp_path))).count() == 0


def test_tls_handshake_prefix_cap_truncates_not_fails(spark, tls_capture_dir):
    # a 64-byte cap cuts every hello mid-message: no rows, no error
    out = tls_handshakes(
        _decode(spark, tls_capture_dir), max_handshake_bytes=64
    )
    assert out.count() == 0


def test_tls_parsers_never_crash_on_fuzz():
    """Adversarial robustness: the record walk / hello parsers must
    never raise on arbitrary bytes (they return None / stop) — the
    extractor runs on untrusted capture payloads."""
    import random

    rng = random.Random(0x7157)
    for trial in range(300):
        n = rng.randrange(0, 200)
        blob = bytes(rng.randrange(256) for _ in range(n))
        list(iter_tls_records(blob))
        list(handshake_messages(blob))
        parse_client_hello(blob)
        parse_server_hello(blob)
    # type-22-prefixed garbage exercises deeper paths
    for trial in range(300):
        n = rng.randrange(5, 120)
        blob = b"\x16\x03\x01" + bytes(
            rng.randrange(256) for _ in range(n)
        )
        list(handshake_messages(blob))
        for _t, body in handshake_messages(blob):
            parse_client_hello(body)
