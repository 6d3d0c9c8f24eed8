"""HTTP/1.x object extraction (operators/http.py) — the
captures→documents bridge (VERDICT r12 item 1).

Golden contract: extractor output over the synthesized capture ==
synthesis intent (synth.http_exchange_truth — computed from the spec
dicts, never from running the extractor).  Framing branches
(Content-Length, chunked+trailer, gzip, HEAD, 204, close-delimited)
are additionally unit-pinned on the pure parsers."""

import gzip
import hashlib
import os
import signal
import sys

import pytest
from hypothesis import given, settings, strategies as st

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hadoop_pcap_spark.operators.http import (
    desynchronized,
    http_objects,
    parse_requests,
    parse_responses,
)
from hadoop_pcap_spark.pcap import synth as S
from hadoop_pcap_spark.sources import read_pcap


# --- pure-parser units --------------------------------------------------------


def test_parse_requests_pipelined_with_post_body():
    stream = (
        b"GET /a HTTP/1.1\r\nHost: h.example\r\n\r\n"
        b"POST /b HTTP/1.1\r\nHost: h.example\r\nContent-Length: 5\r\n\r\nhello"
        b"GET /c HTTP/1.1\r\nHost: h2.example\r\n\r\n"
    )
    reqs, used = parse_requests(stream)
    assert used == len(stream)
    assert [(r["method"], r["target"], r["host"]) for r in reqs] == [
        ("GET", "/a", "h.example"),
        ("POST", "/b", "h.example"),
        ("GET", "/c", "h2.example"),
    ]


def test_parse_responses_content_length_and_truncation():
    body = b"x" * 40
    full = b"HTTP/1.1 200 OK\r\nContent-Length: 40\r\n\r\n" + body
    (r,), _ = parse_responses(full)
    assert (r["status"], r["body"], r["truncated"]) == (200, body, False)
    (r,), _ = parse_responses(full[:-10])  # capture cut mid-body
    assert r["truncated"] and r["body"] == body[:-10]


def test_parse_responses_chunked_with_trailer():
    wire = (
        b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\n"
        b"4\r\nWiki\r\n6\r\npedia \r\nb\r\nin chunks.\n\r\n"
        b"0\r\nX-T: v\r\n\r\n"
        b"HTTP/1.1 204 No Content\r\n\r\n"  # next response must still parse
    )
    rs, _ = parse_responses(wire)
    assert rs[0]["body"] == b"Wikipedia in chunks.\n"
    assert rs[0]["chunked"] and not rs[0]["truncated"]
    assert rs[1]["status"] == 204 and rs[1]["body"] == b""


def test_parse_responses_gzip_decode_and_raw_fallback():
    text = b"compressible " * 30
    wire_ok = (
        b"HTTP/1.1 200 OK\r\nContent-Encoding: gzip\r\nContent-Length: "
        + str(len(gzip.compress(text, mtime=0))).encode()
        + b"\r\n\r\n"
        + gzip.compress(text, mtime=0)
    )
    (r,), _ = parse_responses(wire_ok)
    assert r["body"] == text and r["content_encoding"] == "gzip;decoded"
    wire_bad = (
        b"HTTP/1.1 200 OK\r\nContent-Encoding: gzip\r\n"
        b"Content-Length: 9\r\n\r\nnot-gzip!"
    )
    (r,), _ = parse_responses(wire_bad)
    assert r["body"] == b"not-gzip!" and r["content_encoding"] == "gzip"


def test_parse_responses_head_suppresses_body():
    wire = (
        b"HTTP/1.1 200 OK\r\nContent-Length: 10\r\n\r\n"
        b"HTTP/1.1 200 OK\r\nContent-Length: 2\r\n\r\nok"
    )
    rs, _ = parse_responses(wire, methods=["HEAD", "GET"])
    assert rs[0]["body"] == b"" and rs[1]["body"] == b"ok"


def test_parse_desync_stops_cleanly():
    assert parse_requests(b"garbage bytes not http\r\n\r\nmore") == ([], 0)
    assert parse_responses(b"SMTP 220 hi\r\n\r\n") == ([], 0)


@pytest.mark.parametrize(
    "framing",
    [
        *(b"Transfer-Encoding: chunked\r\n\r\n" + size
          + b"\r\nxxxxxxxxxxxxxxxxxx\r\n0\r\n\r\n"
          for size in (b"-6", b"+5", b"0x4", b"1_0")),
        *(b"Content-Length: " + value + b"\r\n\r\nabcde"
          for value in (b"-5", b"+5", b"0x4", b"1_0", b"5a", b"")),
    ],
)
def test_framing_numbers_must_be_plain_digits(framing):
    """A chunk size that is not 1*HEXDIG (RFC 9112 §7.1) or a
    Content-Length that is not 1*DIGIT (§8.6) is desync: the message
    never completes, nothing is consumed on a live stream, and the
    parser returns.  ``int(tok, 16)`` accepts a sign, ``0x`` and
    ``_``; a negative chunk size moved the read back onto its own size
    line, so ``-6`` looped forever — hence the alarm."""

    def _hung(signum, frame):
        raise TimeoutError(f"parser hung on {framing!r}")

    old = signal.signal(signal.SIGALRM, _hung)
    signal.alarm(5)
    try:
        resp = b"HTTP/1.1 200 OK\r\n" + framing
        req = b"POST /u HTTP/1.1\r\nHost: h\r\n" + framing
        (rs,), used = parse_responses(resp)
        assert rs["truncated"] and rs["body"] == b"" and used == len(resp)
        (rq,), used = parse_requests(req)
        assert rq["target"] == "/u" and used == len(req)
        assert parse_responses(resp, at_end=False) == ([], 0)
        assert parse_requests(req, at_end=False) == ([], 0)
        # ... and that is desync, not a message waiting for bytes
        assert desynchronized(resp, request=False)
        assert desynchronized(req, request=True)
        assert not desynchronized(resp, request=False, method="HEAD")
    finally:
        signal.alarm(0)
        signal.signal(signal.SIGALRM, old)


def _chunked(body: bytes, sizes) -> bytes:
    """``body`` in chunked coding: chunks of ``sizes`` (lower-case hex,
    with an extension), the rest as one upper-case-hex chunk, then a
    trailer field."""
    out, pos = [], 0
    for n in sizes:
        if pos >= len(body):
            break
        piece = body[pos : pos + n]
        out.append(b"%x;ext=1\r\n" % len(piece) + piece + b"\r\n")
        pos += len(piece)
    if pos < len(body):
        out.append(b"%X\r\n" % (len(body) - pos) + body[pos:] + b"\r\n")
    return b"".join(out) + b"0\r\nX-Trailer: t\r\n\r\n"


@st.composite
def _exchange(draw, last: bool):
    """One pipelined (request bytes, response bytes, method,
    close-delimited response?)."""
    method = draw(st.sampled_from(["GET", "POST", "HEAD"]))
    target = "/" + draw(st.text("abc/", max_size=6))
    req = f"{method} {target} HTTP/1.1\r\nHost: h.example\r\n".encode()
    if method == "POST":
        rbody = draw(st.binary(max_size=40))
        if draw(st.booleans()):
            req += b"Transfer-Encoding: chunked\r\n\r\n" + _chunked(
                rbody, draw(st.lists(st.integers(1, 9), max_size=4))
            )
        else:
            req += b"Content-Length: %d\r\n\r\n" % len(rbody) + rbody
    else:
        req += b"\r\n"
    status = draw(st.sampled_from([200, 204, 404]))
    body = draw(st.binary(max_size=60)) if status != 204 else b""
    head = b"HTTP/1.1 %d X\r\nContent-Type: text/plain\r\n" % status
    if body and draw(st.booleans()):
        body = gzip.compress(body, mtime=0)
        head += b"Content-Encoding: gzip\r\n"
    framing = "length"
    if method == "HEAD" or status == 204:
        resp = head + b"Content-Length: %d\r\n\r\n" % len(body)
    else:
        framing = draw(
            st.sampled_from(["length", "chunked"] + (["close"] if last else []))
        )
        if framing == "length":
            resp = head + b"Content-Length: %d\r\n\r\n" % len(body) + body
        elif framing == "chunked":
            resp = head + b"Transfer-Encoding: chunked\r\n\r\n" + _chunked(
                body, draw(st.lists(st.integers(1, 17), max_size=5))
            )
        else:
            resp = head + b"\r\n" + body  # close-delimited: rest of the stream
    return req, resp, method, framing == "close"


def _feed(fn, stream: bytes, cuts, methods=None):
    """``fn`` over ``stream`` cut at ``cuts``, live (``at_end=False``)
    with the residual carried, then flushed at flow end → (live
    messages, flushed messages)."""
    got, resid = [], b""
    kw = lambda: {} if methods is None else {"methods": methods[len(got):]}
    bounds = [0, *sorted(cuts), len(stream)]
    for a, b in zip(bounds, bounds[1:]):
        resid += stream[a:b]
        out, used = fn(resid, at_end=False, **kw())
        assert 0 <= used <= len(resid)
        got += out
        resid = resid[used:]
    tail, _ = fn(resid, **kw())
    return got, tail


@settings(max_examples=200, deadline=None)
@given(data=st.data())
def test_split_anywhere_emits_what_the_whole_stream_does(data):
    """A live stream cut into 2 or 3 pieces at any bytes (the residual
    carried between pieces, as a streaming micro-batch does) emits
    exactly what one end-of-flow parse of the whole stream emits,
    minus a final close-delimited response, which only the flush at
    flow end can complete."""
    n = data.draw(st.integers(1, 4))
    exs = [data.draw(_exchange(last=(i == n - 1))) for i in range(n)]
    req_stream = b"".join(e[0] for e in exs)
    resp_stream = b"".join(e[1] for e in exs)
    methods = [e[2] for e in exs]
    reqs, _ = parse_requests(req_stream)
    resps, _ = parse_responses(resp_stream, methods=methods)
    assert [r["method"] for r in reqs] == methods
    assert len(resps) == n and not any(r["truncated"] for r in resps)
    for fn, stream, whole, kw in (
        (parse_requests, req_stream, reqs, {}),
        (parse_responses, resp_stream, resps, {"methods": methods}),
    ):
        cuts = data.draw(
            st.lists(st.integers(0, len(stream)), min_size=1, max_size=2)
        )
        live, flushed = _feed(fn, stream, cuts, **kw)
        close_last = fn is parse_responses and exs[-1][3]
        assert live == (whole[:-1] if close_last else whole)
        assert live + flushed == whole


def test_never_http_rules_out_only_what_cannot_open_as_http():
    """A direction is ruled out only when no bytes could make it open
    with a method token or ``HTTP/1.``: a proper prefix of one (what a
    segment boundary can leave) still may."""
    from hadoop_pcap_spark.operators.http import _METHODS, never_http

    for maybe in (b"", b"G", b"GE", b"GET", b"GET ", b"GET /x HTTP/1.1\r\n",
                  b"H", b"HTTP/", b"HTTP/1.", b"HTTP/1.1 200 OK", b"CONN",
                  b"OPTIONS * HTTP/1.1"):
        assert not never_http(maybe), maybe
    for tok in _METHODS:
        for i in range(1, len(tok) + 1):
            assert not never_http(tok[:i]), tok[:i]
    for junk in (b"\x16\x03\x01\x00\xa5", b"SSH-2.0-OpenSSH", b"get / HTTP/1.1",
                 b"HTTP/2 200", b"GETX", b" GET /", b"\r\n"):
        assert never_http(junk), junk


def test_desynchronized_tells_desync_from_incomplete():
    """The live parsers return ``([], 0)`` both for a message still
    waiting for bytes and for a stream no bytes can resynchronize;
    :func:`desynchronized` tells the two apart."""
    for junk in (b"garbage bytes not http\r\n", b"SSH-2.0-x\r\nmore",
                 b"\r\nGET / HTTP/1.1\r\n\r\n", b"GET /\r\n"):
        assert parse_requests(junk, at_end=False) == ([], 0)
        assert desynchronized(junk, request=True), junk
    for junk in (b"SMTP 220 hi\r\n", b"HTTP/1.1 abc OK\r\n", b"\x16\x03\x01\r\n"):
        assert desynchronized(junk, request=False), junk
    for waiting in (b"", b"GET /ind", b"GET /index HTTP/1.1\r\nHo",
                    b"POST / HTTP/1.1\r\nContent-Length: 9\r\n\r\nabc",
                    b"POST / HTTP/1.1\r\nTransfer-Encoding: chunked\r\n\r\n5\r\nab"):
        assert parse_requests(waiting, at_end=False) == ([], 0)
        assert not desynchronized(waiting, request=True), waiting
    for waiting in (b"HTTP/1.", b"HTTP/1.1 200 OK\r\nContent-Le",
                    b"HTTP/1.1 200 OK\r\nContent-Length: 9\r\n\r\nabc",
                    b"HTTP/1.1 200 OK\r\n\r\nclose-delimited body",
                    b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\n"
                    b"3\r\nabc\r\n4\r\nab"):
        assert parse_responses(waiting, at_end=False) == ([], 0)
        assert not desynchronized(waiting, request=False), waiting
    # a later chunk size is checked too; a bodiless response frames nothing
    bad_later = (b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\n"
                 b"3\r\nabc\r\n-1\r\n")
    assert desynchronized(bad_later, request=False)
    assert not desynchronized(bad_later, request=False, method="HEAD")
    assert not desynchronized(
        b"HTTP/1.1 304 Not Modified\r\nContent-Length: x\r\n\r\n", request=False
    )


@settings(max_examples=200, deadline=None)
@given(data=st.data())
def test_a_cut_valid_stream_is_never_desynchronized(data):
    """Wherever a valid pipelined stream is cut, what a live parse
    leaves over is waiting for bytes, never desync."""
    n = data.draw(st.integers(1, 3))
    exs = [data.draw(_exchange(last=(i == n - 1))) for i in range(n)]
    methods = [e[2] for e in exs]
    req_stream = b"".join(e[0] for e in exs)
    resp_stream = b"".join(e[1] for e in exs)
    cut = data.draw(st.integers(0, len(req_stream)))
    _, used = parse_requests(req_stream[:cut], at_end=False)
    assert not desynchronized(req_stream[used:cut], request=True)
    cut = data.draw(st.integers(0, len(resp_stream)))
    rs, used = parse_responses(resp_stream[:cut], methods=methods, at_end=False)
    nxt = methods[len(rs)] if len(rs) < n else None
    assert not desynchronized(resp_stream[used:cut], request=False, method=nxt)


# --- end-to-end golden over the synthesized capture ---------------------------


@pytest.fixture(scope="module")
def http_capture_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("httpcap")
    (d / "web.pcap").write_bytes(S.http_exchange_pcap())
    return str(d)


def test_http_objects_golden(spark, http_capture_dir):
    pkts = read_pcap(
        spark,
        http_capture_dir,
        columns=["file", "src", "dst", "src_port", "dst_port",
                 "protocol", "pkt_no", "payload"],
        strict_reference=False,
    )
    rows = http_objects(pkts).collect()
    got = {
        (r.client, r.server_port, r.obj_no): r for r in rows
    }
    truth = S.http_exchange_truth()
    assert len(rows) == len(truth)
    for t in truth:
        r = got[(t["client"], t["server_port"], t["obj_no"])]
        assert r.method == t["method"], t
        assert r.url == t["url"], t
        assert r.status == t["status"], t
        assert r.content_type == t["content_type"], t
        assert r.body_len == t["body_len"], t
        assert hashlib.md5(bytes(r.body) if r.body is not None else b"").hexdigest() == t["body_md5"], t
        assert not r.body_truncated, t


def test_http_objects_ignores_non_http_tcp(spark, tmp_path):
    # a DNS-over-TCP capture: TCP flows with payload, zero HTTP rows
    p = tmp_path / "tcpdns.pcap"
    p.write_bytes(S.dns_tcp_exchange_pcap())
    pkts = read_pcap(
        spark, str(tmp_path),
        columns=["file", "src", "dst", "src_port", "dst_port",
                 "protocol", "pkt_no", "payload"],
        strict_reference=False,
    )
    assert http_objects(pkts).count() == 0


def test_http_objects_flow_filter_pushes_down(spark, http_capture_dir):
    from pyspark.sql import functions as F

    pkts = read_pcap(
        spark,
        http_capture_dir,
        columns=["file", "src", "dst", "src_port", "dst_port",
                 "protocol", "pkt_no", "payload"],
        strict_reference=False,
    )
    only80 = http_objects(
        pkts, flow_filter=(F.col("dst_port") == 80) | (F.col("src_port") == 80)
    )
    assert {r.server_port for r in only80.collect()} == {80}


def test_http_objects_udtf_sql_matches_operator(spark, http_capture_dir):
    """The http_objects UDTF through spark.sql LATERAL over the
    reassembled request/response streams yields the same objects as the
    batch operator on the same capture."""
    from hadoop_pcap_spark.operators.flows import reassemble_tcp_streams
    from hadoop_pcap_spark.sql import register_pcap_udtfs

    register_pcap_udtfs(spark)
    pkts = read_pcap(
        spark, http_capture_dir,
        columns=["file", "src", "dst", "src_port", "dst_port",
                 "protocol", "pkt_no", "payload"],
        strict_reference=False,
    )
    reassemble_tcp_streams(pkts).createOrReplaceTempView("_http_streams")
    rows = spark.sql(
        """
        WITH d AS (
            SELECT *, substring(stream, 1, 7) = CAST('HTTP/1.' AS BINARY) AS is_resp
            FROM _http_streams
        ), c AS (
            SELECT q.src AS client, r.src AS server, r.src_port AS server_port,
                   q.stream AS req, r.stream AS resp
            FROM d q JOIN d r
              ON q.file = r.file AND q.src = r.dst AND q.src_port = r.dst_port
             AND q.dst = r.src AND q.dst_port = r.src_port
            WHERE NOT q.is_resp AND r.is_resp
        )
        SELECT c.client, c.server, c.server_port, t.*
        FROM c, LATERAL http_objects(c.req, c.resp, c.server, c.server_port) t
        """
    ).collect()
    spark.catalog.dropTempView("_http_streams")
    want = http_objects(pkts).drop("file").collect()
    assert len(want) == len(S.http_exchange_truth())
    assert sorted(map(tuple, rows), key=repr) == sorted(map(tuple, want), key=repr)


def test_dns_messages_udtf_sql(spark, tmp_path):
    """The dns_messages UDTF (SQL payload→rows explosion — SURVEY
    §2.4's @udtf row): LATERAL over reassembled DNS-over-TCP streams
    yields the same per-message rows the flow operator produces."""
    from hadoop_pcap_spark.operators.flows import reassemble_tcp_streams
    from hadoop_pcap_spark.sql import register_pcap_udtfs

    register_pcap_udtfs(spark)
    (tmp_path / "tcpdns.pcap").write_bytes(S.dns_tcp_exchange_pcap())
    pkts = read_pcap(
        spark, str(tmp_path),
        columns=["file", "src", "dst", "src_port", "dst_port",
                 "protocol", "pkt_no", "payload"],
        strict_reference=False,
    )
    reassemble_tcp_streams(pkts).createOrReplaceTempView("_dns_streams")
    rows = spark.sql(
        """
        SELECT s.src, t.msg_no, t.dns_queryid, t.dns_qname, t.dns_qr,
               t.n_answers
        FROM _dns_streams s, LATERAL dns_messages(s.stream) t
        ORDER BY s.src, t.msg_no
        """
    ).collect()
    truth = S.dns_tcp_exchange_truth()
    assert len(rows) == len(truth)
    by_key = {(t["src"], t["msg_no"]): t for t in truth}
    for r in rows:
        t = by_key[(r.src, r.msg_no)]
        assert r.dns_queryid == t["dns_queryid"]
        assert r.dns_qname == t["dns_qname"]
        assert r.dns_qr == t["dns_qr"]
        assert r.n_answers == t["n_answers"]
    spark.catalog.dropTempView("_dns_streams")


def test_http_corpus_bridge_flags_mirror_duplicate(spark, http_capture_dir):
    """The captures→corpus bridge end to end: text/* 200 bodies become
    corpus docs and the mirror host's byte-identical re-serving of
    big.txt — and only it — is flagged as the duplicate."""
    import os

    os.environ.setdefault("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    from hadoop_pcap_spark.plans import pcap_queries as PQ

    rows = {r.url: r for r in PQ.q_pcap_http_corpus(spark, "").collect()}
    truth = {t["url"] for t in S.http_corpus_truth()}
    assert set(rows) == truth
    dups = {u for u, r in rows.items() if r.is_dup}
    # first-keeper is lexicographic by url: api.example < mirror.example
    assert dups == {"http://mirror.example/mirror/big.txt"}
    assert rows["http://api.example/api/big.txt"].n_tokens == rows[
        "http://mirror.example/mirror/big.txt"
    ].n_tokens


def test_parse_requests_incremental_carries_partial():
    full = (
        b"GET /a HTTP/1.1\r\nHost: h\r\n\r\n"
        b"POST /b HTTP/1.1\r\nHost: h\r\nContent-Length: 5\r\n\r\nhello"
    )
    # cut mid-body of the POST: only GET emits; consumed points at POST
    cut = full[:-3]
    reqs, used = parse_requests(cut, at_end=False)
    assert [r["target"] for r in reqs] == ["/a"]
    assert cut[used:].startswith(b"POST ")
    # feeding the carried residual + the rest completes the POST
    reqs2, used2 = parse_requests(cut[used:] + full[-3:], at_end=False)
    assert [r["target"] for r in reqs2] == ["/b"]


def test_parse_responses_incremental_never_truncates_and_blocks_close():
    body = b"y" * 30
    r1 = b"HTTP/1.1 200 OK\r\nContent-Length: 30\r\n\r\n" + body
    close = b"HTTP/1.1 200 OK\r\nConnection: close\r\n\r\ntail..."
    # mid-body cut: nothing emits (no truncated ghosts), nothing consumed
    resps, used = parse_responses(r1[:-10], at_end=False)
    assert resps == [] and used == 0
    # complete + close-delimited: first emits, close never does
    resps, used = parse_responses(r1 + close, at_end=False)
    assert len(resps) == 1 and resps[0]["body"] == body
    assert (r1 + close)[used:] == close


def test_incremental_parsers_never_crash_and_never_overconsume():
    """Fuzz the parsers at both ``at_end`` values: arbitrary bytes
    must not raise, and consumed must never exceed the input length
    (the residual carried into the next micro-batch must be a valid
    suffix)."""
    import random

    rng = random.Random(0x4774)
    seeds = [
        b"", b"GET ", b"GET / HTTP/1.1\r\n",
        b"HTTP/1.1 200 OK\r\nContent-Length: 5\r\n\r\nab",
        b"POST /x HTTP/1.1\r\nTransfer-Encoding: chunked\r\n\r\n5\r\nab",
    ]
    for trial in range(400):
        if trial < len(seeds):
            blob = seeds[trial]
        else:
            n = rng.randrange(0, 160)
            blob = bytes(rng.randrange(256) for _ in range(n))
            if rng.random() < 0.5:
                blob = rng.choice(
                    [b"GET / HTTP/1.1\r\n", b"HTTP/1.1 200 OK\r\n"]
                ) + blob
        for fn in (parse_requests, parse_responses):
            for at_end in (False, True):
                out, used = fn(blob, at_end=at_end)
                assert 0 <= used <= len(blob), (fn.__name__, at_end, blob)


def test_http_objects_window_plumbs_through(spark, http_capture_dir):
    """window= reaches connection_segments: a 1-second window over the
    fixture (whose per-connection frames span several seconds of ts)
    splits connections into per-window chunks — more groups, each
    parsed independently — while a huge window reproduces the
    unwindowed result."""
    pkts = read_pcap(
        spark, http_capture_dir,
        columns=["file", "src", "dst", "src_port", "dst_port",
                 "protocol", "ts", "pkt_no", "payload"],
        strict_reference=False,
    )
    whole = http_objects(pkts, window="1 hour").count()
    assert whole == len(S.http_exchange_truth())
    # 1-second windows cut every multi-second connection mid-stream:
    # fewer (or zero) complete request/response pairs survive per chunk
    chunked = http_objects(pkts, window="1 second").count()
    assert chunked < whole


def test_http_objects_seq_order_heals_damaged_capture(spark, tmp_path):
    """order='seq' (r13): a capture with a retransmitted response
    segment and a swapped pair still parses every object to the
    synthesis truth; capture order (the default) cannot."""
    p = tmp_path / "damaged.pcap"
    p.write_bytes(S.http_damaged_pcap())
    cols = ["file", "src", "dst", "src_port", "dst_port",
            "protocol", "pkt_no", "payload", "tcp_seq"]
    pkts = read_pcap(spark, str(tmp_path), columns=cols,
                     strict_reference=False)
    healed = http_objects(pkts, order="seq").collect()
    truth = S.http_exchange_truth()
    assert len(healed) == len(truth)
    got = {(r.client, r.server_port, r.obj_no): r for r in healed}
    for t in truth:
        r = got[(t["client"], t["server_port"], t["obj_no"])]
        assert r.url == t["url"] and r.status == t["status"], t
        assert hashlib.md5(
            bytes(r.body) if r.body is not None else b""
        ).hexdigest() == t["body_md5"], t
    # capture order mis-parses the damaged flows
    raw = http_objects(pkts).collect()
    raw_md5 = sorted(
        hashlib.md5(bytes(r.body) if r.body is not None else b"").hexdigest()
        for r in raw
    )
    assert raw_md5 != sorted(t["body_md5"] for t in truth)
    # missing the opt-in column fails loudly
    bare = read_pcap(spark, str(tmp_path), columns=cols[:-1],
                     strict_reference=False)
    with pytest.raises(ValueError, match="tcp_seq"):
        http_objects(bare, order="seq")
