"""PCAP-source queries registered with the driver harness.

The driver's parquet tables don't include a packets table, so these
run on a deterministic synthesized capture directory.  Every query
here carries a REAL DuckDB oracle: the synthesizer emits a
ground-truth parquet of its own parameters (fixture_truth_path and
friends; the throughput corpora are template-cyclic, so their
expected aggregates are closed-form index arithmetic) and the oracle
SQL runs over that — the driver's hash compare then asserts decoder
output == synthesis intent.  Five fixture queries gained oracles in
round 5, TCP-reassembly + enriched-flows and then the three
throughput benches in round 6; reassembly semantics are additionally
golden-tested in tests/test_flows.py.

Fixture placement contract: the pcap source reads raw files BY PATH
from executor tasks, so the fixture directory must be visible to both
the driver (which writes it) and the executors (which open it).

* Default: a per-process tempdir under ``$TMPDIR`` — valid exactly
  when driver and executors share a filesystem, i.e. ``local[*]``
  mode, which is the sandbox driver's contract.
* Real cluster: set ``SPARK_GRAFT_FIXTURE_DIR`` to a shared path
  (NFS / fuse-mounted object store); builders are idempotent and
  write-atomic (tmp + rename), so concurrent drivers sharing the
  directory race benignly.
"""

from __future__ import annotations

import gzip
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import query
from ..pcap import synth as S
from ..sources import read_pcap


def _atomic_write(path: str, data: bytes) -> None:
    """Idempotent shared-dir-safe file build: skip if present, write
    via tmp + rename (atomic on POSIX) otherwise."""
    if os.path.exists(path):
        return
    fd, tmp = tempfile.mkstemp(dir=os.path.dirname(path))
    try:
        with os.fdopen(fd, "wb") as f:
            f.write(data)
        os.rename(tmp, path)
    except BaseException:
        if os.path.exists(tmp):
            os.unlink(tmp)
        raise


_ROOTS: dict = {}


def _fixture_subdir(name: str) -> str:
    """``$SPARK_GRAFT_FIXTURE_DIR/<name>`` when configured (shared-fs
    cluster mode), else a per-process tempdir (local mode — see module
    docstring for the visibility contract)."""
    if name not in _ROOTS or not os.path.isdir(_ROOTS[name]):
        shared = os.environ.get("SPARK_GRAFT_FIXTURE_DIR")
        if shared:
            d = os.path.join(shared, name)
            os.makedirs(d, exist_ok=True)
        else:
            d = tempfile.mkdtemp(prefix=f"pcap_{name}_")
        _ROOTS[name] = d
    return _ROOTS[name]


def fixture_dir() -> str:
    d = _fixture_subdir("fixture")
    paths = [os.path.join(d, "a.pcap"), os.path.join(d, "b.pcap.gz")]
    if all(os.path.exists(p) for p in paths):  # skip re-synthesis per call
        return d
    raw = S.dns_exchange_pcap()
    _atomic_write(paths[0], raw)
    _atomic_write(paths[1], gzip.compress(raw))
    return d


def _write_truth_parquet(subdir: str, rows: list, schema_fields: list) -> str:
    """Write a synthesis-intent ground-truth table as parquet (tmp +
    rename, idempotent) and return its path.  ``schema_fields`` is a
    list of (name, pyarrow-type-name) pairs — pyarrow is imported here,
    at build time, so merely importing this module needs neither
    pyarrow nor a writable tempdir (ADVICE r5: import side effects).
    Subdirs are VERSIONED (dnstput convention): bump when the schema
    changes so a shared SPARK_GRAFT_FIXTURE_DIR can't serve a stale
    layout."""
    d = _fixture_subdir(subdir)
    path = os.path.join(d, "expected.parquet")
    if os.path.exists(path):
        return path
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema(
        [(n, getattr(pa, t)()) for n, t in schema_fields]
    )
    table = pa.Table.from_pylist(rows, schema=schema)
    fd, tmp = tempfile.mkstemp(dir=d, suffix=".parquet")
    os.close(fd)
    try:
        pq.write_table(table, tmp)
        os.rename(tmp, path)
    except BaseException:
        if os.path.exists(tmp):
            os.unlink(tmp)
        raise
    return path


def fixture_truth_path() -> str:
    """Ground-truth packet table for :func:`fixture_dir`, as parquet.

    One row per (file, pkt_no), with every column computed from the
    SYNTHESIZER's parameters (synth.dns_exchange_frames intent dicts;
    md5/size from the synthesized frame bytes) — never from running
    the decoder.  This gives the pcap fixture queries a real DuckDB
    oracle (VERDICT r4 item 6): the driver's hash compare asserts
    decoder output == synthesis intent.  Lives in its own subdir — the
    pcap reader globs fixture_dir() and must not see a parquet file.

    Built lazily at oracle-resolution time (the @query oracles below
    are callables), never at import."""
    import hashlib

    frames = S.dns_exchange_frames()
    rows = []
    for fname in ("a.pcap", "b.pcap.gz"):
        for i, (frame, meta) in enumerate(frames):
            rows.append(
                {
                    "file": fname,
                    "pkt_no": i + 1,
                    "ts": meta["ts"],
                    "ts_usec": meta["ts_usec"],
                    "size": len(frame),
                    "src": meta["src"],
                    "dst": meta["dst"],
                    "src_port": meta["src_port"],
                    "dst_port": meta["dst_port"],
                    "protocol": meta["protocol"],
                    "md5": hashlib.md5(frame).hexdigest().upper(),
                    "dns_qname": meta["dns_qname"],
                    "dns_qr": meta["dns_qr"],
                    "payload_len": len(meta["payload"]),
                    "payload_magic_hex": meta["payload"][:4].hex(),
                    "payload_md5": hashlib.md5(meta["payload"]).hexdigest(),
                }
            )
    return _write_truth_parquet(
        "fixture_truth_v3",
        rows,
        [
            ("file", "string"),
            ("pkt_no", "int64"),
            ("ts", "int64"),
            ("ts_usec", "int64"),
            ("size", "int64"),
            ("src", "string"),
            ("dst", "string"),
            ("src_port", "int64"),
            ("dst_port", "int64"),
            ("protocol", "string"),
            ("md5", "string"),
            ("dns_qname", "string"),
            ("dns_qr", "bool_"),
            ("payload_len", "int64"),
            ("payload_magic_hex", "string"),
            ("payload_md5", "string"),
        ],
    )


def tcp_truth_path() -> str:
    """Ground-truth reassembled-message table for
    :func:`tcp_fixture_dir` — one row per expected DNS message, from
    synth.dns_tcp_exchange_truth (synthesis parameters + framing
    arithmetic, decoder never consulted)."""
    return _write_truth_parquet(
        "tcp_truth_v1",
        S.dns_tcp_exchange_truth(),
        [
            ("src", "string"),
            ("dst", "string"),
            ("src_port", "int64"),
            ("dst_port", "int64"),
            ("msg_no", "int64"),
            ("dns_queryid", "int64"),
            ("dns_qname", "string"),
            ("dns_qr", "bool_"),
            ("n_segments", "int64"),
            ("n_answers", "int64"),
        ],
    )


@query(
    "pcap_port_count",
    oracle=lambda: f"""
    SELECT src_port, count(*) AS n
    FROM '{fixture_truth_path()}'
    WHERE src_port IS NOT NULL
    GROUP BY src_port
    """,
)
def q_pcap_port_count(spark: SparkSession, sf: str) -> DataFrame:
    """The reference README's canonical MapReduce job
    (hadoop-pcap-lib/README.md:20-81): count packets per src_port,
    nulls dropped.  Oracle: synthesizer ground truth
    (fixture_truth_path), hash-compared."""
    return (
        read_pcap(spark, fixture_dir())
        .filter(F.col("src_port").isNotNull())
        .groupBy("src_port")
        .agg(F.count("*").alias("n"))
    )


@query(
    "pcap_dns_qname_topk",
    oracle=lambda: f"""
    SELECT dns_qname, count(*) AS n_queries
    FROM '{fixture_truth_path()}'
    WHERE dns_qname IS NOT NULL AND NOT dns_qr
    GROUP BY dns_qname
    ORDER BY n_queries DESC, dns_qname ASC
    LIMIT 10
    """,
)
def q_pcap_dns_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Top queried DNS names — the serde README's query motif over
    dns_* columns (hadoop-pcap-serde/README.md:49-60).  Oracle:
    synthesizer ground truth, hash-compared."""
    return (
        read_pcap(spark, fixture_dir(), decoder="dns")
        .filter(F.col("dns_qname").isNotNull() & (F.col("dns_qr") == False))  # noqa: E712
        .groupBy("dns_qname")
        .agg(F.count("*").alias("n_queries"))
        .orderBy(F.desc("n_queries"), F.asc("dns_qname"))
        .limit(10)
    )


@query(
    "pcap_dedup_md5",
    oracle=lambda: f"""
    SELECT md5, count(*) AS n_copies, min(pkt_no) AS first_pkt
    FROM '{fixture_truth_path()}'
    GROUP BY md5
    HAVING count(*) > 1
    """,
)
def q_pcap_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Packet dedup on the md5 column — the reference's stated MD5
    purpose (PcapReader.java:183: 'finding duplicate packets').
    Oracle: md5 of the synthesized frame bytes (computed at synthesis,
    not decode), hash-compared."""
    df = read_pcap(spark, fixture_dir(), calculate_md5=True)
    return (
        df.groupBy("md5")
        .agg(F.count("*").alias("n_copies"), F.min("pkt_no").alias("first_pkt"))
        .filter(F.col("n_copies") > 1)
    )


@query(
    "pcap_multimodal_payload",
    oracle=lambda: f"""
    SELECT file AS fname, pkt_no,
           payload_len AS payload_bytes,
           payload_magic_hex AS magic_hex,
           payload_md5
    FROM '{fixture_truth_path()}'
    WHERE payload_len IS NOT NULL
    """,
)
def q_pcap_multimodal(spark: SparkSession, sf: str) -> DataFrame:
    """Multimodal/binary-column plumbing: the payload BinaryType column
    with typed metadata extracted JVM-side (length, hex prefix, md5).
    Decode-to-features for real image/audio payloads is the same shape —
    see operators/multimodal.py for the stubbed decode UDF.  Oracle:
    payload length/magic/md5 from the synthesis-intent bytes."""
    return (
        read_pcap(spark, fixture_dir())
        .filter(F.col("payload").isNotNull())
        .select(
            F.regexp_extract("file", r"([^/]+)$", 1).alias("fname"),
            "pkt_no",
            F.length("payload").alias("payload_bytes"),
            F.lower(F.hex(F.substring("payload", 1, 4))).alias("magic_hex"),
            F.md5("payload").alias("payload_md5"),
        )
    )


def tcp_fixture_dir() -> str:
    """DNS-over-TCP capture (message split across segments + two
    messages sharing a segment).  Placement contract: module
    docstring."""
    d = _fixture_subdir("tcp_fixture")
    p = os.path.join(d, "tcpdns.pcap")
    if not os.path.exists(p):  # skip re-synthesis per call
        _atomic_write(p, S.dns_tcp_exchange_pcap())
    return d


@query(
    "pcap_dns_tcp_reassembly",
    oracle=lambda: f"""
    SELECT src, dst, msg_no, dns_queryid, dns_qname, dns_qr,
           n_segments, n_answers
    FROM '{tcp_truth_path()}'
    ORDER BY src, msg_no
    """,
)
def q_pcap_dns_tcp_reassembly(spark: SparkSession, sf: str) -> DataFrame:
    """DNS-over-TCP flow reassembly — the flow-grain operator the
    reference lacks (it silently drops TCP DNS, DnsPcapReader.java:
    53-55): port-53 TCP segments shuffle once on the flow 5-tuple,
    per-flow ordered concat + RFC 1035 §4.2.2 length-prefix framing
    walk + re-parse.  Golden assertions in tests/test_flows.py;
    oracle: synthesizer ground truth (dns_tcp_exchange_truth — message
    intents + the same framing arithmetic that sized the capture's
    segments), hash-compared since r6."""
    from ..operators.flows import reassemble_dns_tcp

    pkts = read_pcap(
        spark,
        tcp_fixture_dir(),
        columns=["file", "src", "dst", "src_port", "dst_port",
                 "protocol", "pkt_no", "payload"],
        strict_reference=False,
    )
    return (
        reassemble_dns_tcp(pkts)
        .select("src", "dst", "msg_no", "dns_queryid", "dns_qname",
                "dns_qr", "n_segments",
                F.size("dns_answer").alias("n_answers"))
        .orderBy("src", "msg_no")
    )


def http_fixture_dir() -> str:
    """HTTP/1.x capture (two pipelined connections; every RFC 9112
    framing branch — Content-Length, chunked+trailer, gzip, HEAD,
    204, close-delimited; bodies split across segments).  Placement
    contract: module docstring."""
    d = _fixture_subdir("http_v2")
    p = os.path.join(d, "web.pcap")
    if not os.path.exists(p):
        _atomic_write(p, S.http_exchange_pcap())
    return d


def http_truth_path() -> str:
    """Ground-truth HTTP object table for :func:`http_fixture_dir` —
    one row per request/response pair, from synth.http_exchange_truth
    (the synthesis spec dicts; the extractor is never consulted)."""
    return _write_truth_parquet(
        "http_truth_v2",
        S.http_exchange_truth(),
        [
            ("client", "string"),
            ("server", "string"),
            ("server_port", "int64"),
            ("obj_no", "int64"),
            ("method", "string"),
            ("url", "string"),
            ("status", "int64"),
            ("content_type", "string"),
            ("body_len", "int64"),
            ("body_md5", "string"),
        ],
    )


@query(
    "pcap_http_objects",
    oracle=lambda: f"""
    SELECT client, server, server_port, obj_no, method, url, status,
           coalesce(content_type, '') AS content_type, body_len, body_md5
    FROM '{http_truth_path()}'
    ORDER BY client, server_port, obj_no
    """,
)
def q_pcap_http_objects(spark: SparkSession, sf: str) -> DataFrame:
    """HTTP/1.x object extraction — the captures→documents bridge
    (VERDICT r12 item 1): both directions of each TCP connection
    reassemble (one shuffle on the canonical endpoint pair), the
    request/response streams parse as pipelined RFC 9112 message
    sequences (Content-Length / chunked / close-delimited framing,
    gzip content decoding, HEAD/204 body suppression), and each pair
    becomes a (url, status, content_type, body) row ready for the
    text/multimodal operators.  The reference cannot express this at
    all — its only L7 hook is per-packet
    (DnsPcapReader.java:29-57).  Oracle: synthesis-intent ground
    truth (synth.http_exchange_truth), body bytes hash-compared via
    md5.  Golden + framing-branch units in tests/test_http.py."""
    from ..operators.http import http_objects

    pkts = read_pcap(
        spark,
        http_fixture_dir(),
        columns=["file", "src", "dst", "src_port", "dst_port",
                 "protocol", "pkt_no", "payload"],
        strict_reference=False,
    )
    return (
        http_objects(pkts)
        .select(
            "client", "server",
            F.col("server_port").cast("long").alias("server_port"),
            F.col("obj_no").cast("long").alias("obj_no"),
            "method", "url",
            F.col("status").cast("long").alias("status"),
            F.coalesce("content_type", F.lit("")).alias("content_type"),
            F.col("body_len").cast("long").alias("body_len"),
            F.md5(F.coalesce(F.col("body"), F.lit(b""))).alias("body_md5"),
        )
        .orderBy("client", "server_port", "obj_no")
    )


@query(
    "pcap_http_objects_sql",
    oracle=lambda: f"""
    SELECT client, server, server_port, obj_no, method, url, status,
           coalesce(content_type, '') AS content_type, body_len, body_md5
    FROM '{http_truth_path()}'
    ORDER BY client, server_port, obj_no
    """,
)
def q_pcap_http_objects_sql(spark: SparkSession, sf: str) -> DataFrame:
    """The SAME HTTP extraction through the SQL-ONLY front door
    (VERDICT r12 item 7 — SURVEY §2.4's literal ``@udtf`` row):
    reassembled per-connection streams registered as a view, then one
    ``spark.sql`` with a LATERAL call of the registered
    ``http_objects`` UDTF explodes payload→rows.  Same synthesis-
    intent oracle as pcap_http_objects, so the UDTF path is held to
    the identical hash.  Scale: the lateral join runs the stateless
    eval per connection row wherever that row lives — same
    parallelism grain as the applyInPandas operator."""
    from ..operators.flows import reassemble_tcp_streams
    from ..sql import register_pcap_udtfs

    register_pcap_udtfs(spark)
    pkts = read_pcap(
        spark,
        http_fixture_dir(),
        columns=["file", "src", "dst", "src_port", "dst_port",
                 "protocol", "pkt_no", "payload"],
        strict_reference=False,
    )
    streams = reassemble_tcp_streams(pkts)
    from ..operators.flows import canonical_pair_exprs

    a_first, src_ep, dst_ep = canonical_pair_exprs()
    is_resp = F.expr("substring(stream, 1, 7)") == F.lit(b"HTTP/1.")
    conns = (
        streams.select(
            "file",
            F.when(a_first, src_ep).otherwise(dst_ep).alias("_a"),
            F.when(a_first, dst_ep).otherwise(src_ep).alias("_b"),
            is_resp.alias("_is_resp"),
            "src", "src_port", "stream",
        )
        .groupBy("file", "_a", "_b")
        .agg(
            F.first(F.when(~F.col("_is_resp"), F.col("src")), ignorenulls=True)
            .alias("client"),
            F.first(F.when(F.col("_is_resp"), F.col("src")), ignorenulls=True)
            .alias("server"),
            F.first(
                F.when(F.col("_is_resp"), F.col("src_port")), ignorenulls=True
            ).alias("server_port"),
            F.first(F.when(~F.col("_is_resp"), F.col("stream")), ignorenulls=True)
            .alias("req"),
            F.first(F.when(F.col("_is_resp"), F.col("stream")), ignorenulls=True)
            .alias("resp"),
        )
        .filter(F.col("req").isNotNull() & F.col("resp").isNotNull())
    )
    conns.createOrReplaceTempView("_http_conns")
    return spark.sql(
        """
        SELECT c.client, c.server,
               CAST(c.server_port AS BIGINT) AS server_port,
               CAST(t.obj_no AS BIGINT) AS obj_no, t.method, t.url,
               CAST(t.status AS BIGINT) AS status,
               coalesce(t.content_type, '') AS content_type,
               CAST(t.body_len AS BIGINT) AS body_len,
               md5(coalesce(t.body, X'')) AS body_md5
        FROM _http_conns c, LATERAL http_objects(c.req, c.resp, c.server, c.server_port) t
        ORDER BY c.client, c.server_port, t.obj_no
        """
    )


def http_damaged_dir() -> str:
    """The HTTP exchange on seq-numbered TCP segments with real-world
    damage injected (one retransmitted response segment, one swapped
    pair) — the order='seq' healing fixture."""
    d = _fixture_subdir("http_dmg_v1")
    p = os.path.join(d, "damaged.pcap")
    if not os.path.exists(p):
        _atomic_write(p, S.http_damaged_pcap())
    return d


@query(
    "pcap_http_objects_healed",
    oracle=lambda: f"""
    SELECT client, server, server_port, obj_no, method, url, status,
           coalesce(content_type, '') AS content_type, body_len, body_md5
    FROM '{http_truth_path()}'
    ORDER BY client, server_port, obj_no
    """,
)
def q_pcap_http_objects_healed(spark: SparkSession, sf: str) -> DataFrame:
    """HTTP extraction from a DAMAGED capture (retransmitted +
    reordered response segments) healed by TCP sequence numbers
    (http_objects(order="seq") over the opt-in tcp_seq column, r13):
    every object still md5-matches the UNDAMAGED synthesis truth —
    the same rows pcap_http_objects extracts from the clean capture.
    Capture-order parsing of the same bytes mis-frames the damaged
    flows (pinned in tests/test_http.py).  This closes the
    retransmit/reordering divergence for opt-in callers end to end:
    decode → seq-heal → parse in one plan."""
    from ..operators.http import http_objects

    pkts = read_pcap(
        spark,
        http_damaged_dir(),
        columns=["file", "src", "dst", "src_port", "dst_port",
                 "protocol", "pkt_no", "payload", "tcp_seq"],
        strict_reference=False,
    )
    return (
        http_objects(pkts, order="seq")
        .select(
            "client", "server",
            F.col("server_port").cast("long").alias("server_port"),
            F.col("obj_no").cast("long").alias("obj_no"),
            "method", "url",
            F.col("status").cast("long").alias("status"),
            F.coalesce("content_type", F.lit("")).alias("content_type"),
            F.col("body_len").cast("long").alias("body_len"),
            F.md5(F.coalesce(F.col("body"), F.lit(b""))).alias("body_md5"),
        )
        .orderBy("client", "server_port", "obj_no")
    )


def http_corpus_truth_path() -> str:
    """Ground-truth (url, client, text) document table for the
    captures→corpus bridge — the status-200 ``text/*`` bodies the
    HTTP fixture transfers, from synth.http_corpus_truth (spec dicts
    only)."""
    return _write_truth_parquet(
        "http_corpus_truth_v1",
        S.http_corpus_truth(),
        [
            ("url", "string"),
            ("client", "string"),
            ("text", "string"),
        ],
    )


def _corpus_bridge_oracle() -> str:
    from .pipeline import SQL_TOKENS

    return f"""
    WITH feats AS (
      SELECT url, text,
             len({SQL_TOKENS}) AS n_tokens,
             ROUND(list_sum(list_transform({SQL_TOKENS}, t -> CAST(length(t) AS DOUBLE)))
                   / NULLIF(len({SQL_TOKENS}), 0), 4) AS atl,
             ROUND(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) * 1.0
                   / NULLIF(length(text), 0), 6) AS punct_ratio,
             ROUND(len(list_filter({SQL_TOKENS},
                   t -> list_contains(['the','a','an','of','and','to','in','is','on','for'], t))) * 1.0
                   / NULLIF(len({SQL_TOKENS}), 0), 6) AS stopword_ratio
      FROM '{http_corpus_truth_path()}'
    )
    SELECT url, n_tokens,
           ROUND(
             0.4 * LEAST(n_tokens / 50.0, 1.0)
           + 0.2 * (CASE WHEN atl BETWEEN 3 AND 10 THEN 1.0 ELSE 0.5 END)
           + 0.2 * (CASE WHEN stopword_ratio >= 0.05 THEN 1.0 ELSE 0.6 END)
           + 0.2 * (CASE WHEN punct_ratio <= 0.1 THEN 1.0 ELSE 0.5 END), 6) AS quality,
           md5(text) AS fingerprint,
           (row_number() OVER (PARTITION BY md5(text) ORDER BY url)) > 1 AS is_dup
    FROM feats
    ORDER BY url
    """


@query("pcap_http_corpus", oracle=_corpus_bridge_oracle)
def q_pcap_http_corpus(spark: SparkSession, sf: str) -> DataFrame:
    """The captures→corpus bridge END TO END in one dataflow: decode
    the capture, reassemble TCP connections, extract HTTP objects
    (operators/http.py), keep the status-200 ``text/*`` documents,
    and run them straight through the training-data operators — token
    counting and quality scoring (functions/text.py, the same
    expressions the documents-table queries use) and exact dedup
    (md5 fingerprint + first-keeper window), catching the mirror
    host's cross-URL duplicate body.  This is the motif the whole
    repo exists for — "build a training corpus from crawl captures" —
    expressed as one Catalyst plan from packet bytes to corpus-ready
    rows, no intermediate materialization.  Oracle: the same metrics
    recomputed by DuckDB over the synthesis-intent document table
    (synth.http_corpus_truth)."""
    from ..functions import text as TXT
    from ..operators.http import http_objects
    from pyspark.sql import Window

    pkts = read_pcap(
        spark,
        http_fixture_dir(),
        columns=["file", "src", "dst", "src_port", "dst_port",
                 "protocol", "pkt_no", "payload"],
        strict_reference=False,
    )
    docs = (
        http_objects(pkts)
        .filter(
            (F.col("status") == 200)
            & F.col("content_type").startswith("text/")
            & (F.col("body_len") > 0)
        )
        .select("url", F.decode(F.col("body"), "UTF-8").alias("text"))
    )
    fp = F.md5(F.encode(F.col("text"), "UTF-8"))
    return (
        docs.select(
            "url",
            TXT.token_count(F.col("text")).alias("n_tokens"),
            TXT.quality_score(F.col("text")).alias("quality"),
            fp.alias("fingerprint"),
            (
                F.row_number().over(
                    Window.partitionBy(fp).orderBy("url")
                ) > 1
            ).alias("is_dup"),
        )
        .orderBy("url")
    )


def http_tput_dir(n_conns: int = 2000) -> str:
    """ONE capture with 2000 HTTP/1.x connections (~4.4 MiB, ~6k
    packets; bodies span segments; length/chunked/close framings mixed
    by index) — the scaled fixture behind the L7-extraction bench row.
    Placement contract: module docstring."""
    d = _fixture_subdir("http_tput_v1")
    p = os.path.join(d, "crawl.pcap")
    if not os.path.exists(p):
        _atomic_write(p, S.http_tput_pcap(n_conns))
    return d


def http_tput_truth_path(n_conns: int = 2000) -> str:
    return _write_truth_parquet(
        "http_tput_truth_v1",
        S.http_tput_truth(n_conns),
        [
            ("client", "string"),
            ("server", "string"),
            ("server_port", "int64"),
            ("url", "string"),
            ("status", "int64"),
            ("body_len", "int64"),
            ("body_md5", "string"),
        ],
    )


@query(
    "pcap_http_extract_2k",
    oracle=lambda: f"""
    SELECT client, server, server_port, url, status, body_len, body_md5
    FROM '{http_tput_truth_path()}'
    ORDER BY url
    """,
)
def q_pcap_http_extract_2k(spark: SparkSession, sf: str) -> DataFrame:
    """HTTP object extraction AT SCALE: 2000 connections from one
    capture file, decoded split-parallel once its split index is
    published (the first read publishes it), reassembled and parsed in
    one pass — every body md5-pinned against synthesis intent.  The
    scale shape the 3-connection branch fixture can't measure: group
    count (connections) × applyInPandas dominates, which is exactly
    the 100 TB cost model (work ∝ connections, not packets).  Also a
    bench headline row (L7-extraction throughput)."""
    from ..operators.http import http_objects

    pkts = read_pcap(
        spark,
        http_tput_dir(),
        columns=["file", "src", "dst", "src_port", "dst_port",
                 "protocol", "pkt_no", "payload"],
        strict_reference=False,
    )
    return (
        http_objects(pkts)
        .select(
            "client", "server",
            F.col("server_port").cast("long").alias("server_port"),
            "url",
            F.col("status").cast("long").alias("status"),
            F.col("body_len").cast("long").alias("body_len"),
            F.md5(F.coalesce(F.col("body"), F.lit(b""))).alias("body_md5"),
        )
        .orderBy("url")
    )


def http_rotated_dir() -> str:
    """The HTTP exchange rotated across 3 capture files with staged
    mtimes (10 s apart, so binaryFile stream batch order is pinned) —
    connections span files, so a streaming consumer must carry
    reassembly state across micro-batches."""
    d = _fixture_subdir("http_rot_v1")
    blobs = None
    for fi in range(3):
        p = os.path.join(d, f"rot{fi}.pcap")
        if not os.path.exists(p):
            if blobs is None:
                blobs = S.http_rotated_pcaps(3)
            _atomic_write(p, blobs[fi])
            t = 1700000000 + fi * 10
            os.utime(p, (t, t))
    return d


def http_streaming_truth_path() -> str:
    return _write_truth_parquet(
        "http_stream_truth_v1",
        S.http_streaming_truth(),
        [
            ("client", "string"),
            ("server", "string"),
            ("server_port", "int64"),
            ("obj_no", "int64"),
            ("method", "string"),
            ("url", "string"),
            ("status", "int64"),
            ("content_type", "string"),
            ("body_len", "int64"),
            ("body_md5", "string"),
        ],
    )


@query(
    "streaming_http_objects",
    oracle=lambda: f"""
    SELECT client, server, server_port, obj_no, method, url, status,
           coalesce(content_type, '') AS content_type, body_len, body_md5
    FROM '{http_streaming_truth_path()}'
    ORDER BY client, server_port, obj_no
    """,
)
def q_streaming_http_objects(spark: SparkSession, sf: str) -> DataFrame:
    """HTTP object extraction as a LIVE stateful streaming operator
    (streaming/stream.py::streaming_http_objects,
    applyInPandasWithState): the rotated 3-file capture arrives one
    file per micro-batch, connections span files, and per-connection
    state (directional byte residuals + the pipelined request queue)
    carries across batches so every object emits exactly once when its
    response framing completes.  The close-delimited tail object never
    emits (documented live-stream limitation) — the oracle's truth
    excludes it by synthesis intent.  The live twin of
    pcap_http_objects; same md5-pinned bodies."""
    from ..sources import read_pcap_stream
    from ..streaming.stream import streaming_http_objects
    from .streaming_queries import _run_to_memory

    pkts = read_pcap_stream(
        spark,
        http_rotated_dir(),
        strict_reference=False,
        max_files_per_trigger=1,
        columns=["file", "src", "dst", "src_port", "dst_port",
                 "protocol", "ts", "pkt_no", "payload"],
    )
    out = _run_to_memory(
        streaming_http_objects(pkts), "append", "http_stream"
    )
    return (
        out.select(
            "client", "server",
            F.col("server_port").cast("long").alias("server_port"),
            F.col("obj_no").cast("long").alias("obj_no"),
            "method", "url",
            F.col("status").cast("long").alias("status"),
            F.coalesce("content_type", F.lit("")).alias("content_type"),
            F.col("body_len").cast("long").alias("body_len"),
            F.md5(F.coalesce(F.col("body"), F.lit(b""))).alias("body_md5"),
        )
        .orderBy("client", "server_port", "obj_no")
    )


def tls_fixture_dir() -> str:
    """TLS handshake capture (four connections: plain TLS 1.2 pair,
    GREASE'd TLS 1.3 pair with the ClientHello TCP-segmented
    mid-record, ClientHello-only flow whose handshake message spans
    two TLS records, and a non-TLS flow on 443).  Placement contract:
    module docstring."""
    d = _fixture_subdir("tls_v1")
    p = os.path.join(d, "tls.pcap")
    if not os.path.exists(p):
        _atomic_write(p, S.tls_exchange_pcap())
    return d


def tls_truth_path() -> str:
    """Ground-truth TLS session table for :func:`tls_fixture_dir` —
    one row per ClientHello-bearing connection, from
    synth.tls_exchange_truth (spec dicts only; the extractor is never
    consulted — the JA3 strings are re-derived from the spec's
    cipher/extension lists by independent arithmetic)."""
    return _write_truth_parquet(
        "tls_truth_v1",
        S.tls_exchange_truth(),
        [
            ("client", "string"),
            ("server", "string"),
            ("server_port", "int64"),
            ("sni", "string"),
            ("alpn", "string"),
            ("alpn_chosen", "string"),
            ("tls_version", "string"),
            ("cipher_suite", "int64"),
            ("ja3", "string"),
            ("ja3_md5", "string"),
            ("ja3s", "string"),
            ("ja3s_md5", "string"),
            ("server_hello_seen", "bool_"),
        ],
    )


@query(
    "pcap_tls_sessions",
    oracle=lambda: f"""
    SELECT client, server, server_port, sni, alpn, alpn_chosen,
           tls_version, cipher_suite, ja3, ja3_md5, ja3s, ja3s_md5,
           server_hello_seen
    FROM '{tls_truth_path()}'
    ORDER BY client
    """,
)
def q_pcap_tls_sessions(spark: SparkSession, sf: str) -> DataFrame:
    """TLS handshake extraction (operators/tls.py): SNI / ALPN /
    negotiated version / chosen cipher plus JA3 and JA3S fingerprints
    (the public Salesforce ja3 algorithm — GREASE-stripped decimal
    renderings of the hello's cipher/extension/curve lists, md5'd),
    one row per ClientHello-bearing TCP connection.  The SNI is the
    only cleartext record of which site an encrypted connection went
    to — the L7 surface a capture-analytics user asks for right after
    HTTP.  The reference's per-packet payload hook
    (DnsPcapReader.java:29-57) cannot parse a hello that spans
    segments; flow grain can, and the fixture makes it prove that
    (mid-record TCP split + a message spanning two TLS records).
    Oracle: synthesis-intent truth (synth.tls_exchange_truth).
    Units in tests/test_tls.py."""
    from ..operators.tls import tls_handshakes

    pkts = read_pcap(
        spark,
        tls_fixture_dir(),
        columns=["file", "src", "dst", "src_port", "dst_port",
                 "protocol", "pkt_no", "payload"],
        strict_reference=False,
    )
    return (
        tls_handshakes(pkts)
        .select(
            "client", "server",
            F.col("server_port").cast("long").alias("server_port"),
            "sni", "alpn", "alpn_chosen", "tls_version",
            F.col("cipher_suite").cast("long").alias("cipher_suite"),
            "ja3", "ja3_md5", "ja3s", "ja3s_md5", "server_hello_seen",
        )
        .orderBy("client")
    )


@query(
    "pcap_tls_sessions_sql",
    oracle=lambda: f"""
    SELECT client, server, server_port, sni, alpn, alpn_chosen,
           tls_version, cipher_suite, ja3, ja3_md5, ja3s, ja3s_md5,
           server_hello_seen
    FROM '{tls_truth_path()}'
    ORDER BY client
    """,
)
def q_pcap_tls_sessions_sql(spark: SparkSession, sf: str) -> DataFrame:
    """The SAME TLS extraction through the SQL-ONLY front door: the
    registered ``tls_session`` UDTF (Arrow-optimized) over reassembled
    per-connection streams via LATERAL — held to the identical
    synthesis-intent hash as pcap_tls_sessions.  The client endpoint
    is identified in SQL by handshake content (record type 0x16 +
    handshake type 0x01 at offset 6), never by port convention; a
    ClientHello-only connection infers the server from the other
    endpoint of the canonical pair."""
    from ..operators.flows import reassemble_tcp_streams
    from ..sql import register_pcap_udtfs

    register_pcap_udtfs(spark)
    pkts = read_pcap(
        spark,
        tls_fixture_dir(),
        columns=["file", "src", "dst", "src_port", "dst_port",
                 "protocol", "pkt_no", "payload"],
        strict_reference=False,
    )
    from ..operators.flows import canonical_pair_exprs

    streams = reassemble_tcp_streams(pkts)
    a_first, src_ep, dst_ep = canonical_pair_exprs()
    is_ch = (
        (F.expr("substring(stream, 1, 1)") == F.lit(b"\x16"))
        & (F.expr("substring(stream, 6, 1)") == F.lit(b"\x01"))
    )
    conns = (
        streams.select(
            "file",
            F.when(a_first, src_ep).otherwise(dst_ep).alias("_a"),
            F.when(a_first, dst_ep).otherwise(src_ep).alias("_b"),
            is_ch.alias("_is_ch"),
            "src", "src_port", "stream",
        )
        .groupBy("file", "_a", "_b")
        .agg(
            F.first(F.when(F.col("_is_ch"), F.col("src")), ignorenulls=True)
            .alias("client"),
            F.first(
                F.when(F.col("_is_ch"), F.col("src_port")), ignorenulls=True
            ).alias("client_port"),
            F.first(F.when(F.col("_is_ch"), F.col("stream")), ignorenulls=True)
            .alias("stream_a"),
            F.first(
                F.when(~F.col("_is_ch"), F.col("stream")), ignorenulls=True
            ).alias("stream_b"),
        )
        .filter(F.col("client").isNotNull())
        .select(
            "client", "stream_a", "stream_b",
            F.when(
                (F.col("_a.ip") == F.col("client"))
                & (F.col("_a.port").eqNullSafe(F.col("client_port"))),
                F.col("_b.ip"),
            ).otherwise(F.col("_a.ip")).alias("server"),
            F.when(
                (F.col("_a.ip") == F.col("client"))
                & (F.col("_a.port").eqNullSafe(F.col("client_port"))),
                F.col("_b.port"),
            ).otherwise(F.col("_a.port")).alias("server_port"),
        )
    )
    conns.createOrReplaceTempView("_tls_conns")
    return spark.sql(
        """
        SELECT c.client, c.server,
               CAST(c.server_port AS BIGINT) AS server_port,
               t.sni, t.alpn, t.alpn_chosen, t.tls_version,
               CAST(t.cipher_suite AS BIGINT) AS cipher_suite,
               t.ja3, t.ja3_md5, t.ja3s, t.ja3s_md5, t.server_hello_seen
        FROM _tls_conns c, LATERAL tls_session(c.stream_a, c.stream_b) t
        ORDER BY c.client
        """
    )


def tls_rotated_dir() -> str:
    """TLS fixture rotated across 2 capture files with staged mtimes —
    the GREASE'd flow's ClientHello spans the file cut."""
    d = _fixture_subdir("tls_rot_v1")
    blobs = None
    for fi in range(2):
        p = os.path.join(d, f"rot{fi}.pcap")
        if not os.path.exists(p):
            if blobs is None:
                blobs = S.tls_rotated_pcaps(2)
            _atomic_write(p, blobs[fi])
            t = 1700000000 + fi * 10
            os.utime(p, (t, t))
    return d


def tls_clienthello_truth_path() -> str:
    return _write_truth_parquet(
        "tls_ch_truth_v1",
        S.tls_clienthello_truth(),
        [
            ("client", "string"),
            ("server", "string"),
            ("server_port", "int64"),
            ("sni", "string"),
            ("alpn", "string"),
            ("ja3", "string"),
            ("ja3_md5", "string"),
        ],
    )


@query(
    "streaming_tls_clienthellos",
    oracle=lambda: f"""
    SELECT client, server, server_port, sni, alpn, ja3, ja3_md5
    FROM '{tls_clienthello_truth_path()}'
    ORDER BY client
    """,
)
def q_streaming_tls_clienthellos(spark: SparkSession, sf: str) -> DataFrame:
    """LIVE TLS client telemetry (streaming/stream.py::
    streaming_tls_clienthellos, applyInPandasWithState): the rotated
    2-file TLS capture arrives one file per micro-batch with the
    GREASE'd flow's ClientHello spanning the cut; each connection
    emits its SNI / offered ALPN / JA3 exactly once, when the hello's
    last byte arrives — the what-client-went-where monitor feed.  The
    non-TLS flow on 443 never emits.  Client-side fields only by
    design (low latency; the batch tls_handshakes joins the server
    half).  Oracle: synthesis-intent truth (synth.tls_clienthello_
    truth)."""
    from ..sources import read_pcap_stream
    from ..streaming.stream import streaming_tls_clienthellos
    from .streaming_queries import _run_to_memory

    pkts = read_pcap_stream(
        spark,
        tls_rotated_dir(),
        strict_reference=False,
        max_files_per_trigger=1,
        columns=["file", "src", "dst", "src_port", "dst_port",
                 "protocol", "ts", "pkt_no", "payload"],
    )
    out = _run_to_memory(
        streaming_tls_clienthellos(pkts), "append", "tls_ch_stream"
    )
    return (
        out.select(
            "client", "server",
            F.col("server_port").cast("long").alias("server_port"),
            "sni", "alpn", "ja3", "ja3_md5",
        )
        .orderBy("client")
    )


def tcp_anomaly_dir() -> str:
    d = _fixture_subdir("tcpa_v1")
    p = os.path.join(d, "anomaly.pcap")
    if not os.path.exists(p):
        _atomic_write(p, S.tcp_anomaly_pcap())
    return d


def tcp_anomaly_truth_path() -> str:
    return _write_truth_parquet(
        "tcpa_truth_v1",
        S.tcp_anomaly_truth(),
        [
            ("src", "string"),
            ("dst", "string"),
            ("src_port", "int64"),
            ("dst_port", "int64"),
            ("n_segments", "int64"),
            ("n_retrans", "int64"),
            ("n_ooo", "int64"),
            ("has_fin", "bool_"),
        ],
    )


@query(
    "pcap_tcp_anomalies",
    oracle=lambda: f"""
    SELECT src, dst, src_port, dst_port, n_segments, n_retrans, n_ooo,
           has_fin
    FROM '{tcp_anomaly_truth_path()}'
    ORDER BY src
    """,
)
def q_pcap_tcp_anomalies(spark: SparkSession, sf: str) -> DataFrame:
    """TCP health triage per flow from the OPT-IN ``tcp_seq`` /
    ``tcp_flags`` columns (r13: requested via ``columns=`` only, never
    in the default schema; both kernels extract them at the L4 offset
    already in hand): retransmissions (a seq seen before in the flow),
    out-of-order arrivals (a first-occurrence seq below the running
    max), and FIN presence — entirely JVM-side window functions over
    the decode, no Python.  The reference decodes no TCP metadata at
    all beyond ports.  This is the substrate for seq-aware reassembly
    (capture-order reassembly is the documented divergence; these
    columns make the seq ordering available).  Oracle: closed-form
    per-flow counts from the synthesis spec."""
    from pyspark.sql import Window

    pkts = read_pcap(
        spark,
        tcp_anomaly_dir(),
        columns=["file", "src", "dst", "src_port", "dst_port",
                 "protocol", "pkt_no", "tcp_seq", "tcp_flags"],
        strict_reference=False,
    ).filter((F.col("protocol") == "TCP") & F.col("tcp_seq").isNotNull())
    flow = ["file", "src", "dst", "src_port", "dst_port"]
    w_seq = Window.partitionBy(*flow, "tcp_seq").orderBy("pkt_no")
    w_flow = (
        Window.partitionBy(*flow)
        .orderBy("pkt_no")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    seg = pkts.select(
        *flow, "tcp_seq", "tcp_flags",
        (F.row_number().over(w_seq) > 1).alias("is_retrans"),
        F.max("tcp_seq").over(w_flow).alias("prev_max"),
    ).withColumn(
        "is_ooo",
        (~F.col("is_retrans"))
        & F.col("prev_max").isNotNull()
        & (F.col("tcp_seq") < F.col("prev_max")),
    )
    return (
        seg.groupBy("src", "dst", "src_port", "dst_port")
        .agg(
            F.count("*").alias("n_segments"),
            F.sum(F.col("is_retrans").cast("long")).alias("n_retrans"),
            F.sum(F.col("is_ooo").cast("long")).alias("n_ooo"),
            F.max((F.col("tcp_flags").bitwiseAND(1) == 1)).alias("has_fin"),
        )
        .select(
            "src", "dst",
            F.col("src_port").cast("long").alias("src_port"),
            F.col("dst_port").cast("long").alias("dst_port"),
            "n_segments", "n_retrans", "n_ooo", "has_fin",
        )
        .orderBy("src")
    )


def tcp_seq_heal_truth_path() -> str:
    return _write_truth_parquet(
        "tcpa_stream_truth_v1",
        S.tcp_anomaly_stream_truth(),
        [
            ("src", "string"),
            ("dst", "string"),
            ("stream_len", "int64"),
            ("stream_md5", "string"),
        ],
    )


@query(
    "pcap_tcp_stream_seq_heal",
    oracle=lambda: f"""
    SELECT src, dst, stream_len, stream_md5
    FROM '{tcp_seq_heal_truth_path()}'
    ORDER BY src
    """,
)
def q_pcap_tcp_stream_seq_heal(spark: SparkSession, sf: str) -> DataFrame:
    """Sequence-number-HEALED stream reassembly
    (reassemble_tcp_streams(order="seq"), r13): over the anomaly
    fixture the retransmitted duplicate drops and the out-of-order
    segment re-sorts, so every flow's reassembled bytes md5-match the
    stream the endpoints actually exchanged — the capture-order
    default cannot (its ooo flow hashes differently, pinned in
    tests/test_flows.py).  This removes the documented capture-order
    divergence for callers who opt into the ``tcp_seq`` column.
    Oracle: closed-form per-flow stream bytes from the synthesis
    spec."""
    from ..operators.flows import reassemble_tcp_streams

    pkts = read_pcap(
        spark,
        tcp_anomaly_dir(),
        columns=["file", "src", "dst", "src_port", "dst_port",
                 "protocol", "pkt_no", "payload", "tcp_seq"],
        strict_reference=False,
    )
    return (
        reassemble_tcp_streams(pkts, order="seq")
        .select(
            "src", "dst",
            F.col("stream_len").cast("long").alias("stream_len"),
            F.md5(F.col("stream")).alias("stream_md5"),
        )
        .orderBy("src")
    )


def l7_mix_dir() -> str:
    """Mixed-protocol capture dir: the HTTP exchange (3 connections),
    the TLS fixture (3 TLS connections + 1 non-TLS flow on 443), and
    the DNS-over-TCP exchange (1 connection) as separate files — the
    what's-in-this-capture triage input."""
    d = _fixture_subdir("l7_mix_v1")
    parts = [
        ("web.pcap", S.http_exchange_pcap),
        ("tls.pcap", S.tls_exchange_pcap),
        ("dnstcp.pcap", S.dns_tcp_exchange_pcap),
    ]
    for name, build in parts:
        p = os.path.join(d, name)
        if not os.path.exists(p):
            _atomic_write(p, build())
    return d


def l7_mix_truth_path() -> str:
    """Closed-form connection counts per L7 class for
    :func:`l7_mix_dir`, from the synthesis specs only."""
    n_http = len(S._HTTP_FLOWS)
    n_tls = sum(1 for fl in S._TLS_FLOWS if fl["ch"] is not None)
    n_other = sum(1 for fl in S._TLS_FLOWS if fl["ch"] is None)
    n_dns = 1  # dns_tcp_exchange synthesizes one connection
    return _write_truth_parquet(
        "l7_mix_truth_v1",
        [
            {"l7_protocol": "dns", "n_connections": n_dns},
            {"l7_protocol": "http", "n_connections": n_http},
            {"l7_protocol": "other", "n_connections": n_other},
            {"l7_protocol": "tls", "n_connections": n_tls},
        ],
        [("l7_protocol", "string"), ("n_connections", "int64")],
    )


@query(
    "pcap_l7_mix",
    oracle=lambda: f"""
    SELECT l7_protocol, n_connections
    FROM '{l7_mix_truth_path()}'
    ORDER BY l7_protocol
    """,
)
def q_pcap_l7_mix(spark: SparkSession, sf: str) -> DataFrame:
    """Capture triage: classify every payload-bearing TCP connection
    as http / tls / dns / other — the what-is-in-this-capture query a
    user runs FIRST, before reaching for the protocol-specific
    extractor.  Classification is entirely JVM-side (codegen'd byte
    probes on the reassembled directional streams — HTTP start-line
    token, TLS record prefix 0x16 0x03, port 53), no Python in the
    plan beyond the decode and reassembly it already shares with every
    flow query.  Oracle: closed-form connection counts from the three
    fixtures' synthesis specs."""
    from ..operators.flows import reassemble_tcp_streams

    pkts = read_pcap(
        spark,
        l7_mix_dir(),
        columns=["file", "src", "dst", "src_port", "dst_port",
                 "protocol", "pkt_no", "payload"],
        strict_reference=False,
    )
    streams = reassemble_tcp_streams(pkts)
    head = F.expr("substring(stream, 1, 8)")
    is_http = F.lit(False)
    for tok in (b"GET ", b"POST ", b"PUT ", b"HEAD ", b"DELETE ",
                b"OPTIONS ", b"PATCH ", b"HTTP/1."):
        is_http = is_http | (
            F.expr(f"substring(stream, 1, {len(tok)})") == F.lit(tok)
        )
    is_tls = (
        (F.expr("substring(stream, 1, 1)") == F.lit(b"\x16"))
        & (F.expr("substring(stream, 2, 1)") == F.lit(b"\x03"))
    )
    is_dns = (F.col("src_port") == 53) | (F.col("dst_port") == 53)
    from ..operators.flows import canonical_pair_exprs

    a_first, src_ep, dst_ep = canonical_pair_exprs()
    return (
        streams.select(
            "file",
            F.when(a_first, src_ep).otherwise(dst_ep).alias("_a"),
            F.when(a_first, dst_ep).otherwise(src_ep).alias("_b"),
            is_http.alias("_http"), is_tls.alias("_tls"), is_dns.alias("_dns"),
        )
        .groupBy("file", "_a", "_b")
        .agg(
            F.max("_http").alias("http"),
            F.max("_tls").alias("tls"),
            F.max("_dns").alias("dns"),
        )
        .select(
            F.when(F.col("http"), "http")
            .when(F.col("tls"), "tls")
            .when(F.col("dns"), "dns")
            .otherwise("other")
            .alias("l7_protocol")
        )
        .groupBy("l7_protocol")
        .agg(F.count("*").alias("n_connections"))
        .orderBy("l7_protocol")
    )


def _flow_cte_sql() -> str:
    """The DuckDB replay of flow_stats' bidirectional 5-tuple
    canonicalization over the ground-truth packet table, as a WITH
    clause (``fl`` is the per-flow relation) — shared by the
    pcap_flow_stats and pcap_flows_enriched oracles."""
    return f"""
    WITH pk AS (
        SELECT *,
               (src < dst OR (src = dst AND
                coalesce(src_port, -1) <= coalesce(dst_port, -1))) AS fwd,
               ts * 1000000 + ts_usec AS us
        FROM '{fixture_truth_path()}'
        WHERE src IS NOT NULL AND dst IS NOT NULL
    ),
    fl AS (
        SELECT file, protocol AS proto,
               CASE WHEN fwd THEN src ELSE dst END AS ip_a,
               CASE WHEN fwd THEN src_port ELSE dst_port END AS port_a,
               CASE WHEN fwd THEN dst ELSE src END AS ip_b,
               CASE WHEN fwd THEN dst_port ELSE src_port END AS port_b,
               count(*) AS n_packets,
               CAST(sum(size) AS BIGINT) AS n_bytes,
               count(*) FILTER (WHERE fwd) AS a_to_b_packets,
               count(*) FILTER (WHERE NOT fwd) AS b_to_a_packets,
               round((max(us) - min(us)) / 1000000.0, 6) AS duration_s
        FROM pk
        GROUP BY file, proto,
                 CASE WHEN fwd THEN src ELSE dst END,
                 CASE WHEN fwd THEN src_port ELSE dst_port END,
                 CASE WHEN fwd THEN dst ELSE src END,
                 CASE WHEN fwd THEN dst_port ELSE src_port END
    )
    """


@query(
    "pcap_flow_stats",
    oracle=lambda: _flow_cte_sql() + """
    SELECT proto, ip_a, port_a, ip_b, port_b, n_packets, n_bytes,
           a_to_b_packets, b_to_a_packets, duration_s
    FROM fl
    ORDER BY proto, ip_a, port_a, ip_b, port_b
    """,
)
def q_pcap_flow_stats(spark: SparkSession, sf: str) -> DataFrame:
    """NetFlow-style flow export over the capture: canonical
    bidirectional 5-tuple → packets/bytes/time-bounds/per-direction
    counts, one groupBy shuffle, all JVM-side.  Golden assertions in
    tests/test_flows.py; oracle replays the same canonicalization
    over the synthesizer ground-truth table, hash-compared."""
    from ..operators.flows import flow_stats

    return (
        flow_stats(read_pcap(spark, fixture_dir()))
        .select("proto", "ip_a", "port_a", "ip_b", "port_b",
                "n_packets", "n_bytes", "a_to_b_packets", "b_to_a_packets",
                F.round("duration_s", 6).alias("duration_s"))
        .orderBy("proto", "ip_a", "port_a", "ip_b", "port_b")
    )


# the /24-prefix enrichment dimension, shared verbatim by the Spark
# query and its DuckDB oracle's VALUES clause
_ENRICH_DIM = [
    ("192.0.2", "corp-lan", "client"),
    ("193.0.10", "ripe-ncc", "server"),
    ("10.1.1", "backbone", "transit"),
]


def _flows_enriched_oracle() -> str:
    dim_values = ", ".join(f"('{p}', '{o}', '{r}')" for p, o, r in _ENRICH_DIM)
    return _flow_cte_sql() + f"""
    , dim(prefix24, org, role) AS (VALUES {dim_values})
    SELECT proto, ip_a, port_a, ip_b, port_b, n_packets, n_bytes,
           coalesce(org, 'unknown') AS org,
           coalesce(role, 'unknown') AS role
    FROM fl LEFT JOIN dim
      ON regexp_extract(ip_a, '^(\\d+\\.\\d+\\.\\d+)\\.', 1) = dim.prefix24
    ORDER BY proto, ip_a, port_a, ip_b, port_b
    """


@query("pcap_flows_enriched", oracle=_flows_enriched_oracle)
def q_pcap_flows_enriched(spark: SparkSession, sf: str) -> DataFrame:
    """Flows joined to an IP-prefix dimension (org/role per /24) —
    the network-warehouse motif: packet-derived facts enriched with
    business dims exactly like lineitem⋈part.  The dim here is an
    inline demo table (at scale: a real prefix table, broadcast or
    range-joined on CIDR); the join key is the string /24 prefix, a
    plain broadcast equi-join.  Scale: enrich AFTER flow aggregation
    — join cardinality is flows, not packets.  Oracle: the same
    canonicalization + VALUES dim over the synthesizer ground-truth
    table, hash-compared since r6."""
    from ..operators.flows import flow_stats

    dim = spark.createDataFrame(
        _ENRICH_DIM,
        "prefix24 string, org string, role string",
    )
    flows = flow_stats(read_pcap(spark, fixture_dir()))
    pfx = F.regexp_extract(F.col("ip_a"), r"^(\d+\.\d+\.\d+)\.", 1)
    return (
        flows.withColumn("prefix24", pfx)
        .join(F.broadcast(dim), "prefix24", "left_outer")
        .select(
            "proto", "ip_a", "port_a", "ip_b", "port_b",
            "n_packets", "n_bytes",
            F.coalesce("org", F.lit("unknown")).alias("org"),
            F.coalesce("role", F.lit("unknown")).alias("role"),
        )
        .orderBy("proto", "ip_a", "port_a", "ip_b", "port_b")
    )


def throughput_dir(n_files: int = 8, pkts_per_file: int = 12500) -> str:
    """Deterministic 100k-packet capture set (8 files → 8-way decode
    parallelism).  Placement contract: module docstring."""
    d = _fixture_subdir("tput")
    if all(
        os.path.exists(os.path.join(d, f"cap{fi}.pcap")) for fi in range(n_files)
    ):
        return d  # synthesis of 100k records isn't free; skip when built
    q = S.dns_query(7, "example.com")
    frames = [
        S.ethernet(S.ipv4(S.udp(q, 5353, 53, "10.0.0.1", "10.0.0.2"), 17, "10.0.0.1", "10.0.0.2")),
        S.ethernet(S.ipv4(S.tcp(b"x" * 200, 44000, 443), 6, "10.0.0.3", "10.0.0.4")),
        S.ethernet(S.ipv4(b"\x08\x00" + b"\x00" * 30, 1, "10.0.0.5", "10.0.0.6")),
    ]
    for fi in range(n_files):
        data = S.global_header(1) + b"".join(
            S.record(1700000000 + fi * pkts_per_file + i, frames[(fi + i) % 3])
            for i in range(pkts_per_file)
        )
        _atomic_write(os.path.join(d, f"cap{fi}.pcap"), data)
    return d


def dns_throughput_dir(
    n_files: int = 8, pkts_per_file: int = 12500, pool: int = 2048
) -> str:
    """Port-53-heavy capture set: 100k packets, resolver-shaped.

    ``pool`` unique query/response message *bodies* (distinct qnames,
    4-RR responses) repeated across the corpus with a FRESH query id
    per packet — the shape of a busy resolver trace (the reference's
    own workload, DnsPcapReader.java), where the same names recur but
    every transaction gets its own id.  This is the fixture behind
    ``pcap_decode_dns_100k``, which exists to keep the columnar
    kernel's DNS path (body-interned parse, decode_np.py) measurably
    ahead of the scalar kernel's per-row parse.

    Build is template-based: one frame per unique body with qid=0,
    then a 2-byte patch at the UDP payload start per packet — O(pool)
    DNS synthesis, O(n) byte splices."""
    # v2: checksum-valid packets (r4 fix).  The subdir is VERSIONED
    # because the existence check below early-returns on a populated
    # dir — with SPARK_GRAFT_FIXTURE_DIR on a shared fs, an unversioned
    # key would silently reuse stale pre-fix fixtures (ADVICE r4).
    # Bump the suffix whenever the emitted bytes change.
    d = _fixture_subdir("dnstput_v2")
    if all(
        os.path.exists(os.path.join(d, f"dns{fi}.pcap")) for fi in range(n_files)
    ):
        return d
    qid_off = 14 + 20 + 8  # eth + ipv4(no options) + udp header
    templates = []
    for j in range(pool):
        qname = f"host{j}.pool.example.com"
        q = S.dns_query(0, qname)
        r = S.dns_response(
            0, qname, 1,
            answers=[
                (qname, 300, 1, S.a_rdata(f"10.{(j >> 8) & 255}.{j & 255}.1")),
                (qname, 300, 1, S.a_rdata(f"10.{(j >> 8) & 255}.{j & 255}.2")),
                (qname, 300, 2, S.ns_rdata("ns1.pool.example.com")),
                (qname, 300, 1, S.a_rdata(f"10.{(j >> 8) & 255}.{j & 255}.3")),
            ],
            aa=True,
        )
        templates.append(
            S.ethernet(S.ipv4(S.udp(q, 40000 + (j & 0x3FFF), 53,
                                    "192.0.2.7", "192.0.2.53"),
                              17, "192.0.2.7", "192.0.2.53"))
        )
        templates.append(
            S.ethernet(S.ipv4(S.udp(r, 53, 40000 + (j & 0x3FFF),
                                    "192.0.2.53", "192.0.2.7"),
                              17, "192.0.2.53", "192.0.2.7"))
        )
    n_templates = len(templates)
    # The per-packet query-id splice changes one 16-bit word of the
    # UDP payload, so the template's checksum (computed over qid=0)
    # must be updated too or every emitted packet carries an invalid
    # checksum and the fixture stops being the realistic resolver
    # trace it claims to be.  One's-complement sums are word-local:
    # precompute each template's folded sum with qid=0 and the
    # per-packet checksum is fold(base + qid), still O(1) a packet.
    csum_off = 14 + 20 + 6  # eth + ipv4(no options) + UDP checksum field

    def _fold(x: int) -> int:
        while x >> 16:
            x = (x & 0xFFFF) + (x >> 16)
        return x

    base_sums = []
    for t in templates:
        ck = int.from_bytes(t[csum_off:csum_off + 2], "big")
        # sum over pseudo+segment with the checksum field zeroed is
        # the complement of the stored checksum (qid is already 0)
        base_sums.append((~ck) & 0xFFFF)
    for fi in range(n_files):
        parts = [S.global_header(1)]
        base = fi * pkts_per_file
        for i in range(pkts_per_file):
            k = (base + i) % n_templates
            t = templates[k]
            qid = (base + i) & 0xFFFF
            ck = (~_fold(base_sums[k] + qid)) & 0xFFFF
            if ck == 0:
                ck = 0xFFFF
            frame = (
                t[:csum_off] + ck.to_bytes(2, "big")
                + t[csum_off + 2:qid_off] + qid.to_bytes(2, "big")
                + t[qid_off + 2:]
            )
            parts.append(S.record(1700000000 + base + i, frame))
        _atomic_write(os.path.join(d, f"dns{fi}.pcap"), b"".join(parts))
    return d


def dns_throughput_truth_path(
    n_files: int = 8, pkts_per_file: int = 12500, pool: int = 2048
) -> str:
    """Expected (dns_qr, dns_rcode) aggregate for
    ``pcap_decode_dns_100k``, replayed from
    :func:`dns_throughput_dir`'s OWN cycle arithmetic — template index
    ``g % (2*pool)`` (even = query, odd = response), query id
    ``g & 0xFFFF``, qname ``host{k//2}.pool.example.com`` — never from
    the decoder.  Every template is a well-formed NOERROR message, so
    the whole expected aggregate is index arithmetic over the 100k
    packet ordinals (same move as the r5/r6 fixture oracles)."""
    stats = {False: [0, set(), set()], True: [0, set(), set()]}
    n_templates = 2 * pool
    for g in range(n_files * pkts_per_file):
        k = g % n_templates
        s = stats[bool(k % 2)]
        s[0] += 1
        s[1].add(k // 2)
        s[2].add(g & 0xFFFF)
    rows = [
        {
            "dns_qr": qr,
            "dns_rcode": "NOERROR",
            "n_msgs": s[0],
            "n_qnames": len(s[1]),
            "n_qids": len(s[2]),
        }
        for qr, s in stats.items()
    ]
    return _write_truth_parquet(
        "dnstput_truth_v1",
        rows,
        [
            ("dns_qr", "bool_"),
            ("dns_rcode", "string"),
            ("n_msgs", "int64"),
            ("n_qnames", "int64"),
            ("n_qids", "int64"),
        ],
    )


@query(
    "pcap_decode_dns_100k",
    oracle=lambda: f"""
    SELECT dns_qr, dns_rcode, n_msgs, n_qnames, n_qids
    FROM '{dns_throughput_truth_path()}'
    """,
)
def q_pcap_decode_dns_100k(spark: SparkSession, sf: str) -> DataFrame:
    """Full L7 DNS decode over 100k port-53 packets across 8 files —
    the reference's own workload shape (DnsPcapReaderTest.java runs the
    dns decoder over captures; this scales it).  Exercises the
    columnar kernel's body-interned DNS parse: every packet hits the
    port-53 candidate path and renders qname + 4 RR presentation
    strings.
    Scale: DNS analytics at 100 TB is decode-bound; the interning keeps
    per-packet work at a dict probe for the (dominant) repeated-body
    fraction of real resolver traffic."""
    return (
        read_pcap(spark, dns_throughput_dir(), decoder="dns")
        .filter(F.col("dns_qname").isNotNull())
        .groupBy("dns_qr", "dns_rcode")
        .agg(
            F.count("*").alias("n_msgs"),
            F.countDistinct("dns_qname").alias("n_qnames"),
            F.countDistinct("dns_queryid").alias("n_qids"),
        )
    )


def v6ext_throughput_dir(n_files: int = 8, pkts_per_file: int = 12500) -> str:
    """IPv6 extension-chain-heavy capture set: 100k packets where every
    row routes through the chain walk (decode_np._walk_v6_chains).

    Template mix covers the walk's branch space: single HopByHop,
    HopByHop→Destination double chain, Fragment (8-byte advance +
    frag flag), Routing→UDP, and a no-next-header(59) terminal.
    Deterministic bytes; versioned subdir per the dnstput convention."""
    d = _fixture_subdir("v6ext_v1")
    if all(
        os.path.exists(os.path.join(d, f"v6e{fi}.pcap")) for fi in range(n_files)
    ):
        return d
    q = S.dns_query(7, "v6.example.com")

    def hbh(nlen: int = 0) -> bytes:
        return bytes([0, nlen]) + b"\x00" * (6 + nlen * 8)

    def mk(seg, term, exts, src, dst):
        return S.ethernet(S.ipv6(seg, term, src, dst, ext_headers=exts))

    frames = [
        mk(S.udp(q, 40001, 53, "2001:db8::1", "2001:db8::53"), 17,
           [(0, hbh())], "2001:db8::1", "2001:db8::53"),
        mk(S.tcp(b"x" * 180, 44000, 443), 6,
           [(0, hbh()), (60, hbh(1))], "2001:db8::2", "2001:db8::443"),
        mk(S.udp(b"y" * 64, 5000, 6000, "2001:db8::3", "2001:db8::4"), 17,
           [(44, S.fragment_ext())], "2001:db8::3", "2001:db8::4"),
        mk(S.udp(b"z" * 32, 7000, 8000, "2001:db8::5", "2001:db8::6"), 17,
           [(43, hbh(2))], "2001:db8::5", "2001:db8::6"),
        mk(b"", 59, [(0, hbh())], "2001:db8::7", "2001:db8::8"),
    ]
    nf = len(frames)
    for fi in range(n_files):
        data = S.global_header(1) + b"".join(
            S.record(1700000000 + fi * pkts_per_file + i, frames[(fi + i) % nf])
            for i in range(pkts_per_file)
        )
        _atomic_write(os.path.join(d, f"v6e{fi}.pcap"), data)
    return d


def v6ext_truth_path(n_files: int = 8, pkts_per_file: int = 12500) -> str:
    """Expected aggregate for ``pcap_decode_v6ext_100k``: per-template
    intent rows (ext chain names/count from the RFC 8200 semantics of
    the chains the synthesizer assembled, payload lengths from the
    bytes handed to synth, terminal protocol from the next-header
    chain) × the ``(fi+i) % 5`` cycle counts.  The no-next-header(59)
    template ends L4-less: NULL protocol, NULL payload sum.  Decoder
    never consulted."""
    q = S.dns_query(7, "v6.example.com")
    intents = [
        {"ext_count": 1, "protocol": "UDP",
         "ext_headers": "[HopByHop][UDP]", "len": len(q), "frag": False},
        {"ext_count": 2, "protocol": "TCP",
         "ext_headers": "[HopByHop][Destination][TCP]", "len": 180,
         "frag": False},
        {"ext_count": 1, "protocol": "UDP",
         "ext_headers": "[Fragment][UDP]", "len": 64, "frag": True},
        {"ext_count": 1, "protocol": "UDP",
         "ext_headers": "[Routing][UDP]", "len": 32, "frag": False},
        {"ext_count": 1, "protocol": None,
         "ext_headers": "[HopByHop]", "len": None, "frag": False},
    ]
    counts = [0] * len(intents)
    for fi in range(n_files):
        for i in range(pkts_per_file):
            counts[(fi + i) % len(intents)] += 1
    rows = [
        {
            "ext_count": t["ext_count"],
            "protocol": t["protocol"],
            "ext_headers": t["ext_headers"],
            "n_packets": c,
            "n_src": 1,  # one distinct src address per template
            "total_payload_bytes": None if t["len"] is None else t["len"] * c,
            "n_frag": c if t["frag"] else 0,
        }
        for t, c in zip(intents, counts)
    ]
    return _write_truth_parquet(
        "v6ext_truth_v1",
        rows,
        [
            ("ext_count", "int64"),
            ("protocol", "string"),
            ("ext_headers", "string"),
            ("n_packets", "int64"),
            ("n_src", "int64"),
            ("total_payload_bytes", "int64"),
            ("n_frag", "int64"),
        ],
    )


@query(
    "pcap_decode_v6ext_100k",
    oracle=lambda: f"""
    SELECT ext_count, protocol, ext_headers,
           n_packets, n_src, total_payload_bytes, n_frag
    FROM '{v6ext_truth_path()}'
    """,
)
def q_pcap_decode_v6ext_100k(spark: SparkSession, sf: str) -> DataFrame:
    """Decode 100k IPv6 packets that ALL carry extension-header chains
    — the workload that used to fall back to the scalar per-row kernel
    (decode_np.py slow path) and now runs the vectorized multi-round
    walk (reference semantics: PcapReader.java:368-417).
    Scale: v6-ext-heavy captures are the columnar kernel's former
    worst case; this query gates the walk staying vectorized."""
    return (
        read_pcap(spark, v6ext_throughput_dir(), strict_reference=False)
        .groupBy("ext_count", "protocol", "ext_headers")
        .agg(
            F.count("*").alias("n_packets"),
            F.countDistinct("src").alias("n_src"),
            F.sum("len").alias("total_payload_bytes"),
            F.count("frag").alias("n_frag"),
        )
    )


def throughput_truth_path(n_files: int = 8, pkts_per_file: int = 12500) -> str:
    """Expected per-protocol aggregate for ``pcap_decode_100k``:
    :func:`throughput_dir`'s three template intents (protocol id /
    source address / L4 payload length handed to synth) × the
    ``(fi+i) % 3`` cycle counts.  The ICMP template never reaches the
    L4 slice, so its ``len`` is NULL (matching the reference's
    TCP/UDP-only payload contract, PcapReader.java) and the group sum
    is NULL.  Decoder never consulted."""
    q = S.dns_query(7, "example.com")
    intents = [
        {"protocol": "UDP", "len": len(q)},
        {"protocol": "TCP", "len": 200},
        {"protocol": "ICMP", "len": None},
    ]
    counts = [0] * len(intents)
    for fi in range(n_files):
        for i in range(pkts_per_file):
            counts[(fi + i) % len(intents)] += 1
    rows = [
        {
            "protocol": t["protocol"],
            "n_packets": c,
            "n_src": 1,  # one distinct src address per template
            "total_payload_bytes": None if t["len"] is None else t["len"] * c,
        }
        for t, c in zip(intents, counts)
    ]
    return _write_truth_parquet(
        "tput_truth_v1",
        rows,
        [
            ("protocol", "string"),
            ("n_packets", "int64"),
            ("n_src", "int64"),
            ("total_payload_bytes", "int64"),
        ],
    )


@query(
    "pcap_decode_frames_column",
    oracle=lambda: f"""
    SELECT protocol, n_packets, n_src, total_payload_bytes
    FROM '{throughput_truth_path()}'
    """,
)
def q_pcap_decode_frames_column(spark: SparkSession, sf: str) -> DataFrame:
    """Decode packets that never touched a FILE: raw link-layer frames
    in a DataFrame column (sources.decode_frames) — the message-bus
    deployment shape (packets as Kafka/event rows), which the
    reference's file InputFormat cannot express at all.  The 100k-row
    frame stream is generated entirely JVM-side (template array +
    element_at over spark.range — no driver-side materialization),
    cycling the SAME three frame intents and (file,i) arithmetic as
    the 8-file throughput corpus, so the aggregate is held to the
    IDENTICAL closed-form truth as pcap_decode_100k: column semantics
    are file-path-identical by construction AND by hash."""
    from ..sources import decode_frames

    q = S.dns_query(7, "example.com")
    frames = [
        S.ethernet(S.ipv4(S.udp(q, 5353, 53, "10.0.0.1", "10.0.0.2"), 17,
                          "10.0.0.1", "10.0.0.2")),
        S.ethernet(S.ipv4(S.tcp(b"x" * 200, 44000, 443), 6,
                          "10.0.0.3", "10.0.0.4")),
        S.ethernet(S.ipv4(b"\x08\x00" + b"\x00" * 30, 1,
                          "10.0.0.5", "10.0.0.6")),
    ]
    # (fi + i) % 3 with fi = id div 12500, i = id mod 12500 — the
    # throughput corpus cycle, so throughput_truth_path() applies
    tpl_idx = (
        (F.floor(F.col("id") / 12500) + F.col("id") % 12500) % 3 + 1
    ).cast("int")
    stream = spark.range(100_000).select(
        F.element_at(F.array(*[F.lit(b) for b in frames]), tpl_idx)
        .alias("frame"),
        (F.lit(1_700_000_000) + F.col("id")).alias("arrival_ts"),
    )
    return (
        decode_frames(
            stream, "frame", ts_col="arrival_ts",
            columns=["pkt_no", "protocol", "src", "len"],
        )
        .groupBy("protocol")
        .agg(
            F.count("*").alias("n_packets"),
            F.countDistinct("src").alias("n_src"),
            F.sum("len").alias("total_payload_bytes"),
        )
    )


def giant_dir(pkts: int = 1_200_000) -> str:
    """ONE ~180 MB capture file (template-cyclic, same three frame
    intents as :func:`throughput_dir`) — the single-giant-file shape
    behind ``pcap_decode_1file_parallel``.  The reference cannot
    parallelize inside one file at all (io/PcapInputFormat.java:72-75
    isSplitable → false); this fixture exists to prove the split path
    beats that constraint instead of inheriting it."""
    d = _fixture_subdir("giant1")
    path = os.path.join(d, "giant.pcap")
    if os.path.exists(path):
        return d
    q = S.dns_query(7, "example.com")
    frames = [
        S.ethernet(S.ipv4(S.udp(q, 5353, 53, "10.0.0.1", "10.0.0.2"), 17, "10.0.0.1", "10.0.0.2")),
        S.ethernet(S.ipv4(S.tcp(b"x" * 200, 44000, 443), 6, "10.0.0.3", "10.0.0.4")),
        S.ethernet(S.ipv4(b"\x08\x00" + b"\x00" * 30, 1, "10.0.0.5", "10.0.0.6")),
    ]
    fd, tmp = tempfile.mkstemp(dir=d)
    try:
        with os.fdopen(fd, "wb") as f:
            f.write(S.global_header(1))
            for i in range(pkts):
                f.write(S.record(1700000000 + i, frames[i % 3]))
        os.rename(tmp, path)
    except BaseException:
        if os.path.exists(tmp):
            os.unlink(tmp)
        raise
    return d


def giant_truth_path(pkts: int = 1_200_000) -> str:
    """Per-protocol synthesis-intent aggregate for the giant file —
    same closed-form template arithmetic as throughput_truth_path."""
    q = S.dns_query(7, "example.com")
    intents = [
        {"protocol": "UDP", "len": len(q)},
        {"protocol": "TCP", "len": 200},
        {"protocol": "ICMP", "len": None},
    ]
    counts = [0] * len(intents)
    for i in range(pkts):
        counts[i % len(intents)] += 1
    rows = [
        {
            "protocol": t["protocol"],
            "n_packets": c,
            "n_src": 1,
            "total_payload_bytes": None if t["len"] is None else t["len"] * c,
            "first_pkt": 1 + intents.index(t),
            "last_pkt": pkts - ((pkts - 1 - intents.index(t)) % len(intents)),
        }
        for t, c in zip(intents, counts)
    ]
    return _write_truth_parquet(
        "giant1_truth_v1",
        rows,
        [
            ("protocol", "string"),
            ("n_packets", "int64"),
            ("n_src", "int64"),
            ("total_payload_bytes", "int64"),
            ("first_pkt", "int64"),
            ("last_pkt", "int64"),
        ],
    )


@query(
    "pcap_decode_1file_parallel",
    oracle=lambda: f"""
    SELECT protocol, n_packets, n_src, total_payload_bytes,
           first_pkt, last_pkt
    FROM '{giant_truth_path()}'
    """,
)
def q_pcap_decode_1file_parallel(spark: SparkSession, sf: str) -> DataFrame:
    """Split-parallel decode of ONE giant capture (read_pcap,
    sources/pcap_source.py): once the capture's split index is
    published — a by-product of its first whole-file decode — the
    driver plans its record-aligned splits and decode range-reads them
    on every core, beating the reference's whole-file constraint
    (io/PcapInputFormat.java:72-75) rather than inheriting it (S2).  min/max(pkt_no) in the oracle pins the
    per-split ordinal REBASE, not just the row multiset: a rebase bug
    that collided or shifted ordinals would break first/last even
    with counts intact.  8 MiB splits model the production 64 MiB
    default on N-GB files.

    ``columns=`` pushes the aggregate's projection INTO the decode
    (VERDICT r12 item 6): an aggregate over 4 columns must not pay
    the udpsum checksum fold, payload span gather, or the
    worker→JVM Arrow shipping of bytes it never reads — that waste
    was ~4-5× the serial decode's whole CPU.  The keep-everything
    ETL shape (payload included) is what pcap_parquet_etl measures;
    bench's serial reference prunes identically so the speedup ratio
    stays like-for-like."""
    return (
        read_pcap(
            spark, giant_dir(), chunk_bytes=8 << 20,
            columns=["file", "pkt_no", "protocol", "src", "len"],
        )
        .groupBy("protocol")
        .agg(
            F.count("*").alias("n_packets"),
            F.countDistinct("src").alias("n_src"),
            F.sum("len").alias("total_payload_bytes"),
            F.min("pkt_no").alias("first_pkt"),
            F.max("pkt_no").alias("last_pkt"),
        )
    )


@query(
    "streaming_pcap_ingest",
    oracle=lambda: f"""
    SELECT protocol, n_packets, n_src, total_payload_bytes
    FROM '{throughput_truth_path()}'
    """,
)
def q_streaming_pcap_ingest(spark: SparkSession, sf: str) -> DataFrame:
    """STREAMING capture ingestion end-to-end
    (sources/pcap_source.py::read_pcap_stream): tail the 8-file
    throughput corpus as a binaryFile stream with maxFilesPerTrigger=2
    (4 real micro-batches — discovery, per-batch decode, complete-mode
    aggregation state all exercised), run to completion via
    AvailableNow, and hash the same per-protocol aggregate as
    pcap_decode_100k against the same closed-form synthesis-intent
    oracle.  The live-rotation shape the reference's batch InputFormat
    cannot express; decode closure shared with the batch reader, so
    streaming and batch are row-identical by construction.
    Scale: one listing per trigger; decode parallelism follows
    files-per-batch; the aggregate state is 3 rows."""
    from ..sources import read_pcap_stream
    from .streaming_queries import _run_to_memory

    agg = (
        read_pcap_stream(spark, throughput_dir(), max_files_per_trigger=2)
        .groupBy("protocol")
        .agg(
            F.count("*").alias("n_packets"),
            # countDistinct is not allowed on streams; collect_set is,
            # and the per-protocol source-address set is bounded
            F.size(F.collect_set("src")).cast("long").alias("n_src"),
            F.sum("len").alias("total_payload_bytes"),
        )
    )
    return _run_to_memory(agg, "complete", "pcap_ingest")


# --- watermarked streaming ingestion (append mode, late packets) ------------
#
# Per-file capture timestamps (epoch s) for the watermark fixture:
# event time mostly advances with arrival order (file mtimes are
# staged 10 s apart, so micro-batch order is pinned).  The script
# exercises every append-mode outcome under Spark's DUAL-WATERMARK
# micro-batch semantics, empirically pinned while building this
# fixture (recentProgress watermark trace; the SPARK-40925 design):
# batch j late-FILTERS rows whose window is already finalized under
# the watermark of batch j−1 (`watermarkForLateEvents` — one batch
# more lagged than eviction, and per-WINDOW, never per-row ts), then
# EVICTS/emits windows closed under the watermark of batch j itself
# (`watermarkForEviction` = max event time of batches < j, − delay —
# what recentProgress reports; the current batch's own rows move the
# watermark only for batch j+1, and the trailing no-data batch runs
# the final eviction over everything):
#
# * ts 1030 (batch 1, late-wm −inf): window [1020,1080) open →
#   ACCEPTED although ts < the eviction watermark 1040 — the
#   out-of-order-but-in-window acceptance case;
# * ts 1035 (batch 2, late-wm 1040): window end 1080 > 1040 →
#   ACCEPTED even though eviction-wm 1100 closes that window in this
#   same batch — it lands in the (1020,…) row emitted at batch 2;
# * ts 1005 (batch 3, late-wm 1100): window [960,1020) end 1020 ≤
#   1100, finalized two batches ago → DROPPED — the hopeless-late
#   case (were it not dropped, append would re-emit [960,1020) and
#   the hash check would see 5 rows);
# * [1240,1300) stays open at stream end (final watermark 1230) →
#   WITHHELD — the append-mode unemitted tail.
#
# Every window end sits ≥20 s from every watermark value, so no
# boundary (≤ vs <) ambiguity can flip the result.
_WMARK_FILES = [
    [1000, 1010, 1050, 1070],
    [1120, 1130, 1030],
    [1190, 1115, 1035],
    [1250, 1260, 1005],
]
_WMARK_DELAY_S = 30
_WMARK_WINDOW_S = 60


def _wmark_frame() -> bytes:
    q = S.dns_query(7, "example.com")
    return S.ethernet(
        S.ipv4(S.udp(q, 5353, 53, "10.0.0.1", "10.0.0.2"), 17,
               "10.0.0.1", "10.0.0.2")
    )


def wmark_dir() -> str:
    """Four tiny capture files with CONTROLLED mtimes (10 s apart, so
    the file stream's oldest-first discovery yields one file per
    micro-batch deterministically) and the _WMARK_FILES capture-time
    script — the late-packet fixture behind
    ``streaming_pcap_watermark``."""
    d = _fixture_subdir("wmark_v3")
    paths = [os.path.join(d, f"wm{fi}.pcap") for fi in range(len(_WMARK_FILES))]
    if all(os.path.exists(p) for p in paths):
        return d
    frame = _wmark_frame()
    for fi, tss in enumerate(_WMARK_FILES):
        data = S.global_header(1) + b"".join(S.record(ts, frame) for ts in tss)
        _atomic_write(paths[fi], data)
        t = 1700000000 + fi * 10
        os.utime(paths[fi], (t, t))
    return d


def wmark_truth_path() -> str:
    """Expected append-mode output for ``streaming_pcap_watermark``,
    replayed from the SYNTHESIS INTENT — the decoder and engine never
    consulted.  The replay encodes Spark's DUAL-WATERMARK micro-batch
    lifecycle (see the _WMARK_FILES comment; pinned empirically from
    the recentProgress watermark trace and matching SPARK-40925's
    watermarkForLateEvents / watermarkForEviction split):

    * batch j drops a row as late iff its WINDOW is already finalized
      under the watermark of batch j−1 (per-window, never per-row ts
      — a below-watermark row whose window is still open is ACCEPTED);
    * batch j then emits and evicts windows whose end is at or below
      the watermark of batch j itself (max event time of batches ≤ j,
      minus delay; the trailing no-data batch runs the final one);
    * when the AvailableNow stream ends, still-open windows are NOT
      emitted — the withheld tail ([1240,1300) here) is as much a
      part of append semantics as the late drop."""
    win, delay = _WMARK_WINDOW_S, _WMARK_DELAY_S
    plen = len(S.dns_query(7, "example.com"))
    state: dict = {}
    emitted = []

    def _evict(wm) -> None:
        for ws in sorted(w for w in state if wm is not None and w + win <= wm):
            emitted.append(
                {
                    "win_start": ws,
                    "win_end": ws + win,
                    "n_pkts": state.pop(ws),
                }
            )

    # wm_evict for batch j = max event time of batches < j, − delay
    # (what recentProgress reports as the batch's watermark); wm_late
    # lags one batch further.  Both EXCLUDE the current batch's rows.
    wm_late = wm_evict = None
    max_seen = None
    for tss in _WMARK_FILES:
        for ts in tss:
            ws = (ts // win) * win
            if wm_late is not None and ws + win <= wm_late:
                continue  # late: the window is already finalized
            state[ws] = state.get(ws, 0) + 1
        _evict(wm_evict)
        max_seen = max(tss) if max_seen is None else max(max_seen, max(tss))
        wm_late, wm_evict = wm_evict, max_seen - delay
    _evict(wm_evict)  # the trailing no-data batch's final eviction
    rows = [
        {**r, "total_len": r["n_pkts"] * plen}
        for r in sorted(emitted, key=lambda r: r["win_start"])
    ]
    return _write_truth_parquet(
        "wmark_truth_v4",
        rows,
        [
            ("win_start", "int64"),
            ("win_end", "int64"),
            ("n_pkts", "int64"),
            ("total_len", "int64"),
        ],
    )


@query(
    "streaming_pcap_watermark",
    oracle=lambda: f"""
    SELECT win_start, win_end, n_pkts, total_len FROM '{wmark_truth_path()}'
    """,
)
def q_streaming_pcap_watermark(spark: SparkSession, sf: str) -> DataFrame:
    """APPEND-mode watermarked window aggregation over capture time
    (VERDICT r9 item 7): read_pcap_stream with maxFilesPerTrigger=1
    replays 4 micro-batches of rotated capture files, the watermark
    rides the packet timestamps (withWatermark on the ts-derived
    event time), and the tumbling 60 s per-window packet/byte counts
    are emitted ONLY once the watermark passes the window — the
    late-packet semantics the complete-mode streaming_pcap_ingest row
    cannot pin.  The fixture scripts one hopeless-late packet
    (dropped) and one within-delay late packet (counted); the oracle
    replays the documented watermark lifecycle from synthesis intent,
    so the hash check pins drop, accept, emission AND the withheld
    still-open tail.
    Scale: state is one row per open window; the watermark bounds it
    regardless of stream length — the property this query certifies."""
    from ..sources import read_pcap_stream
    from .streaming_queries import _run_to_memory

    stream = read_pcap_stream(spark, wmark_dir(), max_files_per_trigger=1)
    agg = (
        stream.withColumn("ts_ts", F.timestamp_seconds(F.col("ts")))
        .withWatermark("ts_ts", f"{_WMARK_DELAY_S} seconds")
        .groupBy(F.window("ts_ts", f"{_WMARK_WINDOW_S} seconds"))
        .agg(
            F.count("*").alias("n_pkts"),
            F.sum("len").alias("total_len"),
        )
    )
    sink = _run_to_memory(agg, "append", "pcap_wmark")
    return sink.select(
        F.unix_seconds(F.col("window.start")).alias("win_start"),
        F.unix_seconds(F.col("window.end")).alias("win_end"),
        "n_pkts",
        "total_len",
    ).orderBy("win_start")


@query(
    "pcap_decode_100k",
    oracle=lambda: f"""
    SELECT protocol, n_packets, n_src, total_payload_bytes
    FROM '{throughput_truth_path()}'
    """,
)
def q_pcap_decode_100k(spark: SparkSession, sf: str) -> DataFrame:
    """Decode 100k packets across 8 capture files (the engine's core
    job: bytes → typed rows → aggregate).  Single-thread kernel runs
    ~160k pkts/s; 8 files decode in parallel tasks.
    Scale: at 100 TB this is the decode-once→parquet ETL's inner loop;
    throughput scales with file count × executor cores."""
    return (
        read_pcap(spark, throughput_dir())
        .groupBy("protocol")
        .agg(
            F.count("*").alias("n_packets"),
            F.countDistinct("src").alias("n_src"),
            F.sum("len").alias("total_payload_bytes"),
        )
    )


# --- security-analytics fixture (scan / tunnel / subnet rollup) --------------
# The detection queries a reference user layers over decoded packets
# (the serde README's "analyze PCAPs with SQL" pitch,
# hadoop-pcap-serde/README.md) — each hash-checked against synthesis
# intent, never against the decoder's own output.


def analytics_dir() -> str:
    """One plain + one gzipped copy of the analytics capture
    (synth.analytics_frames): scanner + normal clients + DNS tunnel."""
    d = _fixture_subdir("analytics_v1")
    paths = [os.path.join(d, "traffic.pcap"), os.path.join(d, "mirror.pcap.gz")]
    if all(os.path.exists(p) for p in paths):
        return d
    raw = S.analytics_pcap()
    _atomic_write(paths[0], raw)
    _atomic_write(paths[1], gzip.compress(raw))
    return d


def sll_dir() -> str:
    """One cooked (LINKTYPE_LINUX_SLL) capture — synth.sll_frames:
    plain/VLAN IPv4, IPv6, ARP, truncated pseudo-header."""
    d = _fixture_subdir("sll_v1")
    p = os.path.join(d, "cooked.pcap")
    if not os.path.exists(p):
        _atomic_write(p, S.sll_pcap())
    return d


def sll_truth_path() -> str:
    """Ground-truth packet table for :func:`sll_dir` from the
    synthesis intent dicts."""
    rows = []
    for i, (_frame, meta) in enumerate(S.sll_frames()):
        r = dict(meta)
        r["pkt_no"] = i + 1
        rows.append(r)
    return _write_truth_parquet(
        "sll_truth_v1",
        rows,
        [
            ("pkt_no", "int64"),
            ("ts", "int64"),
            ("ts_usec", "int64"),
            ("size", "int64"),
            ("ether_type", "string"),
            ("src", "string"),
            ("dst", "string"),
            ("src_port", "int64"),
            ("dst_port", "int64"),
            ("protocol", "string"),
        ],
    )


@query(
    "pcap_sll_decode",
    oracle=lambda: f"""
    SELECT ether_type,
           coalesce(protocol, '') AS protocol,
           count(*) AS n_pkts,
           CAST(sum(size) AS BIGINT) AS total_bytes,
           count(DISTINCT src) AS n_src,
           CAST(coalesce(max(dst_port), -1) AS BIGINT) AS max_dst_port
    FROM '{sll_truth_path()}'
    GROUP BY ether_type, protocol
    """,
)
def q_pcap_sll_decode(spark: SparkSession, sf: str) -> DataFrame:
    """Linux cooked-capture (LINKTYPE_LINUX_SLL, the any-interface
    tcpdump container the reference family rejects —
    PcapReader.java:238-254 stops at LOOP) decoded through the full
    Spark surface in non-strict mode: per (ether_type, protocol)
    rollup over a fixture mixing plain IPv4, VLAN-tagged IPv4, IPv6,
    ARP and a truncated pseudo-header.  Hash-checked against
    synthesis intent (never the decoder's own output).  Scale: scan +
    map-side partial agg into a tiny shuffle, same as every decode
    rollup."""
    return (
        read_pcap(spark, sll_dir(), strict_reference=False)
        .groupBy(
            "ether_type",
            F.coalesce("protocol", F.lit("")).alias("protocol"),
        )
        .agg(
            F.count("*").alias("n_pkts"),
            F.sum("size").cast("long").alias("total_bytes"),
            F.countDistinct("src").cast("long").alias("n_src"),
            F.coalesce(F.max("dst_port"), F.lit(-1))
            .cast("long")
            .alias("max_dst_port"),
        )
    )


def v4frag_dir() -> str:
    """One capture of fragmented + unfragmented IPv4 UDP traffic
    (synth.v4frag_frames — VERDICT r11 item 4)."""
    d = _fixture_subdir("v4frag_v1")
    p = os.path.join(d, "frags.pcap")
    if not os.path.exists(p):
        _atomic_write(p, S.v4frag_pcap())
    return d


def v4frag_truth_path() -> str:
    """Per-src expected rollup for :func:`v4frag_dir`, computed from
    the synthesis intent dicts (never the decoder): packet count,
    fragment count, rows carrying a parseable L4 header, and the
    payload-byte sum under the non-strict fragment contract (first
    fragment: bytes after the L4 header in THAT fragment; non-first:
    the raw fragment body, since there is no L4 header on the wire)."""
    per_src: dict = {}
    for _f, m in S.v4frag_frames():
        r = per_src.setdefault(
            m["src"],
            {"src": m["src"], "n_pkts": 0, "n_frag": 0, "n_l4": 0,
             "total_payload_bytes": 0},
        )
        r["n_pkts"] += 1
        r["n_frag"] += 1 if m["frag"] else 0
        r["n_l4"] += 1 if m["src_port"] is not None else 0
        r["total_payload_bytes"] += m["plen"] or 0
    return _write_truth_parquet(
        "v4frag_truth_v1",
        list(per_src.values()),
        [
            ("src", "string"),
            ("n_pkts", "int64"),
            ("n_frag", "int64"),
            ("n_l4", "int64"),
            ("total_payload_bytes", "int64"),
        ],
    )


@query(
    "pcap_v4frag_rate",
    oracle=lambda: f"""
    SELECT src, n_pkts, n_frag, n_l4, total_payload_bytes
    FROM '{v4frag_truth_path()}'
    """,
)
def q_pcap_v4frag_rate(spark: SparkSession, sf: str) -> DataFrame:
    """IPv4 fragmentation rate by source — the ops question behind
    fragment-based evasion/path-MTU triage.  Exercises the non-strict
    v4 fragment contract end to end (SURVEY §1.4; VERDICT r11 item 4):
    every fragment is flagged (``frag``), ports parse ONLY where an L4
    header exists on the wire (first fragments), and non-first
    fragments surface their raw body as payload instead of garbage
    ports — hash-checked against synthesis intent.  Scale: scan +
    map-side partial agg, one tiny shuffle."""
    return (
        read_pcap(spark, v4frag_dir(), strict_reference=False)
        .groupBy("src")
        .agg(
            F.count("*").alias("n_pkts"),
            F.count("frag").cast("long").alias("n_frag"),
            F.count("src_port").cast("long").alias("n_l4"),
            F.sum("len").cast("long").alias("total_payload_bytes"),
        )
    )


def v4frag_reassembled_truth_path() -> str:
    """Expected reassembled-datagram table for :func:`v4frag_dir`,
    from synth.v4frag_reassembled_truth (the shared per-datagram
    synthesis parameters; the reassembler is never consulted)."""
    return _write_truth_parquet(
        "v4frag_reasm_truth_v1",
        S.v4frag_reassembled_truth(),
        [
            ("src", "string"),
            ("dst", "string"),
            ("protocol", "string"),
            ("ip_ident", "int64"),
            ("src_port", "int64"),
            ("dst_port", "int64"),
            ("n_fragments", "int64"),
            ("complete", "bool_"),
            ("payload_len", "int64"),
            ("payload_md5", "string"),
        ],
    )


@query(
    "pcap_v4frag_reassembled",
    oracle=lambda: f"""
    SELECT src, dst, protocol, ip_ident, src_port, dst_port,
           n_fragments, complete, payload_len, payload_md5
    FROM '{v4frag_reassembled_truth_path()}'
    ORDER BY ip_ident
    """,
)
def q_pcap_v4frag_reassembled(spark: SparkSession, sf: str) -> DataFrame:
    """IPv4 fragment REASSEMBLY (VERDICT r12 item 3 — r12's
    pcap_v4frag_rate only triaged): fragments shuffle once on the
    (src,dst,proto,ident) datagram key, bodies concatenate in byte
    offset order, completeness is certified (offset-0 present,
    contiguous, last MF clear), and the recovered datagram re-parses
    as UDP to yield the ports and payload the reference garbles
    (SURVEY §1.4 — it reads "ports" out of mid-datagram bytes).
    Payload bytes hash-compared (md5) against the pre-split synthesis
    bodies.  Golden + missing-fragment tests in tests/test_flows.py."""
    from ..operators.flows import reassemble_ipv4_fragments

    return (
        reassemble_ipv4_fragments(
            read_pcap(spark, v4frag_dir(), strict_reference=False)
        )
        .select(
            "src", "dst", "protocol",
            F.col("ip_ident").cast("long").alias("ip_ident"),
            F.col("src_port").cast("long").alias("src_port"),
            F.col("dst_port").cast("long").alias("dst_port"),
            F.col("n_fragments").cast("long").alias("n_fragments"),
            "complete",
            F.col("payload_len").cast("long").alias("payload_len"),
            F.md5(F.coalesce(F.col("payload"), F.lit(b""))).alias("payload_md5"),
        )
        .orderBy("ip_ident")
    )


def mixed_link_dir() -> str:
    """One mixed-link pcapng capture (synth.mixed_link_pcapng):
    interface 0 EN10MB, interface 1 LINUX_SLL — the ``tcpdump -i any``
    merge case (VERDICT r11 item 3)."""
    d = _fixture_subdir("mixed_link_v1")
    p = os.path.join(d, "anyif.pcapng")
    if not os.path.exists(p):
        _atomic_write(p, S.mixed_link_pcapng())
    return d


def mixed_link_truth_path() -> str:
    """Ground-truth packet table for :func:`mixed_link_dir` from the
    synthesis intent dicts (includes each packet's link type)."""
    rows = []
    for i, (_if_id, _frame, meta) in enumerate(S.mixed_link_frames()):
        r = dict(meta)
        r["pkt_no"] = i + 1
        rows.append(r)
    return _write_truth_parquet(
        "mixed_link_truth_v1",
        rows,
        [
            ("pkt_no", "int64"),
            ("ts", "int64"),
            ("ts_usec", "int64"),
            ("size", "int64"),
            ("link", "int64"),
            ("ether_type", "string"),
            ("src", "string"),
            ("dst", "string"),
            ("src_port", "int64"),
            ("dst_port", "int64"),
            ("protocol", "string"),
        ],
    )


@query(
    "pcap_mixed_link_decode",
    oracle=lambda: f"""
    SELECT ether_type,
           coalesce(protocol, '') AS protocol,
           count(*) AS n_pkts,
           CAST(sum(size) AS BIGINT) AS total_bytes,
           count(DISTINCT src) AS n_src,
           CAST(coalesce(min(ts), -1) AS BIGINT) AS first_ts,
           CAST(coalesce(max(ts), -1) AS BIGINT) AS last_ts
    FROM '{mixed_link_truth_path()}'
    GROUP BY ether_type, protocol
    """,
)
def q_pcap_mixed_link_decode(spark: SparkSession, sf: str) -> DataFrame:
    """Mixed-link pcapng (EN10MB + LINUX_SLL interfaces in ONE
    capture — the ``tcpdump -i any`` merge every incident responder
    produces) decoded through the full Spark surface in non-strict
    mode: per (ether_type, protocol) rollup with first/last-seen
    timestamps.  Before round 12 packets on the non-first link type
    were silently dropped at normalization (formats.py); the oracle's
    ground truth covers EVERY synthesized packet on BOTH interfaces,
    so the hash check certifies the per-packet link dispatch end to
    end.  Scale: scan + map-side partial agg, one tiny shuffle."""
    return (
        read_pcap(spark, mixed_link_dir(), strict_reference=False)
        .groupBy(
            "ether_type",
            F.coalesce("protocol", F.lit("")).alias("protocol"),
        )
        .agg(
            F.count("*").alias("n_pkts"),
            F.sum("size").cast("long").alias("total_bytes"),
            F.countDistinct("src").cast("long").alias("n_src"),
            F.coalesce(F.min("ts"), F.lit(-1)).cast("long").alias("first_ts"),
            F.coalesce(F.max("ts"), F.lit(-1)).cast("long").alias("last_ts"),
        )
    )


def analytics_truth_path() -> str:
    """Ground-truth packet table for :func:`analytics_dir` — one row
    per (file, pkt_no) straight from the synthesis intent dicts."""
    frames = S.analytics_frames()
    rows = []
    for fname in ("traffic.pcap", "mirror.pcap.gz"):
        for i, (_frame, meta) in enumerate(frames):
            r = dict(meta)
            r["file"] = fname
            r["pkt_no"] = i + 1
            rows.append(r)
    return _write_truth_parquet(
        "analytics_truth_v1",
        rows,
        [
            ("file", "string"),
            ("pkt_no", "int64"),
            ("ts", "int64"),
            ("ts_usec", "int64"),
            ("size", "int64"),
            ("src", "string"),
            ("dst", "string"),
            ("src_port", "int64"),
            ("dst_port", "int64"),
            ("protocol", "string"),
            ("dns_qname", "string"),
            ("dns_qr", "bool_"),
        ],
    )


@query(
    "pcap_scan_detect",
    oracle=lambda: f"""
    SELECT src,
           count(*) AS n_pkts,
           count(DISTINCT dst_port) AS n_ports,
           count(DISTINCT dst) AS n_dsts,
           count(DISTINCT dst_port) >= 64 AS is_scanner
    FROM '{analytics_truth_path()}'
    WHERE protocol = 'TCP'
    GROUP BY src
    """,
)
def q_pcap_scan_detect(spark: SparkSession, sf: str) -> DataFrame:
    """Port-scan detection: per TCP source, packet count and distinct
    (dst_port, dst) fan-out; a source sweeping ≥64 distinct ports is
    flagged.  The classic many-ports/one-destination signature over
    the reference's decoded columns (PcapReader.java src/dst/ports).
    Scale: one partial-aggregated shuffle on src; distinct counts are
    per-group hash sets bounded by the port space (64k), so no skew
    blow-up even for an internet-scale scanner."""
    return (
        read_pcap(spark, analytics_dir())
        .filter(F.col("protocol") == "TCP")
        .groupBy("src")
        .agg(
            F.count("*").alias("n_pkts"),
            F.countDistinct("dst_port").cast("long").alias("n_ports"),
            F.countDistinct("dst").cast("long").alias("n_dsts"),
            (F.countDistinct("dst_port") >= 64).alias("is_scanner"),
        )
    )


@query(
    "pcap_dns_tunnel_score",
    oracle=lambda: f"""
    WITH q AS (
      SELECT src, dns_qname,
             length(dns_qname) AS qlen,
             list_max(list_transform(string_split(dns_qname, '.'),
                                     x -> length(x))) AS max_label
      FROM '{analytics_truth_path()}'
      WHERE dns_qname IS NOT NULL AND NOT dns_qr
            AND file = 'traffic.pcap')
    SELECT src,
           count(*) AS n_queries,
           max(qlen) AS max_qname_len,
           max(max_label) AS max_label_len,
           CAST(sum(CASE WHEN qlen >= 40 AND max_label >= 24
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_suspicious,
           sum(CASE WHEN qlen >= 40 AND max_label >= 24 THEN 1 ELSE 0 END) * 2
               > count(*) AS is_tunnel
    FROM q GROUP BY src
    """,
)
def q_pcap_dns_tunnel_score(spark: SparkSession, sf: str) -> DataFrame:
    """DNS-tunnel scoring: per source, qname shape statistics (name
    length, longest label) and a suspicious-query count — long first
    labels under a deep name are the iodine/dnscat exfil signature.
    Operates on the serde's dns_qname column; one file's worth so
    per-query counts stay capture-grain (the gz mirror is covered by
    the other analytics queries).  Scale: map-side shape features →
    one shuffle on src."""
    labels = F.split(F.col("dns_qname"), r"\.")
    qlen = F.length("dns_qname")
    max_label = F.array_max(F.transform(labels, lambda x: F.length(x)))
    susp = (qlen >= 40) & (max_label >= 24)
    return (
        read_pcap(spark, analytics_dir(), decoder="dns")
        .filter(
            F.col("dns_qname").isNotNull()
            & (F.col("dns_qr") == False)  # noqa: E712
            & F.col("file").endswith("traffic.pcap")
        )
        .select("src", qlen.alias("qlen"), max_label.alias("max_label"))
        .groupBy("src")
        .agg(
            F.count("*").alias("n_queries"),
            F.max("qlen").cast("long").alias("max_qname_len"),
            F.max("max_label").cast("long").alias("max_label_len"),
            F.sum(F.when(F.col("qlen") >= 40, 1)
                   .otherwise(0)
                   * F.when(F.col("max_label") >= 24, 1).otherwise(0))
            .alias("n_suspicious"),
        )
        .withColumn("is_tunnel", F.col("n_suspicious") * 2 > F.col("n_queries"))
    )


@query(
    "pcap_subnet_topk",
    oracle=lambda: f"""
    SELECT coalesce(regexp_extract(src, '^(\\d+\\.\\d+\\.\\d+)\\.', 1), '')
               AS subnet24,
           count(*) AS n_pkts,
           CAST(sum(size) AS BIGINT) AS total_bytes,
           count(DISTINCT src) AS n_hosts
    FROM '{analytics_truth_path()}'
    GROUP BY subnet24
    ORDER BY total_bytes DESC, subnet24
    LIMIT 5
    """,
)
def q_pcap_subnet_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Top-talker /24 rollup: aggregate decoded packets by source
    subnet (first three octets), rank by bytes.  The standard NetOps
    hierarchy rollup over the src column.  Scale: one shuffle on the
    derived subnet key (cardinality ≤ 2^24 — far below row count, so
    partial aggregation collapses the map side), then
    TakeOrderedAndProject for the top-k."""
    # coalesce on both sides: regexp_extract's no-match convention
    # ('' vs NULL) differs across DuckDB releases, and a NULL src
    # (non-IP frames) must land in the same group in both engines
    subnet = F.coalesce(
        F.regexp_extract("src", r"^(\d+\.\d+\.\d+)\.", 1), F.lit("")
    )
    return (
        read_pcap(spark, analytics_dir())
        .groupBy(subnet.alias("subnet24"))
        .agg(
            F.count("*").alias("n_pkts"),
            F.sum("size").alias("total_bytes"),
            F.countDistinct("src").cast("long").alias("n_hosts"),
        )
        .orderBy(F.desc("total_bytes"), F.asc("subnet24"))
        .limit(5)
    )


# LPM route table for the enrichment query: overlapping prefixes of
# four lengths (0/8/24/26) so the longest-match hierarchy is actually
# exercised — /26 beats /24 beats /8 beats the catch-all.
_LPM_ROUTES = [
    ("0.0.0.0/0", "internet"),
    ("10.0.0.0/8", "corp"),
    ("10.0.1.0/24", "dmz"),
    ("10.0.2.0/24", "lab"),
    ("10.0.3.0/26", "iot"),
    ("10.0.9.0/24", "quarantine"),
]


def _lpm_oracle() -> str:
    from ..operators.net_enrich import lpm_sql

    truth = analytics_truth_path()
    values = ", ".join(f"('{c}', '{l}')" for c, l in _LPM_ROUTES)
    return f"""
    WITH {lpm_sql(f"'{truth}'", values, "src")}
    SELECT b.label AS label,
           count(*) AS n_pkts,
           count(DISTINCT t.src) AS n_hosts,
           min(b.plen) AS plen
    FROM '{truth}' t JOIN best b ON t.src = b.addr
    GROUP BY b.label
    """


@query("pcap_lpm_route_enrich", oracle=_lpm_oracle)
def q_pcap_lpm_route_enrich(spark: SparkSession, sf: str) -> DataFrame:
    """Longest-prefix-match enrichment (operators/net_enrich.py):
    classify every packet's source by the most specific route in an
    overlapping CIDR table (/26 ⊂ /24 ⊂ /8 ⊂ /0) — the router-grade
    join Spark lacks natively, decomposed into per-prefix-length
    broadcast equi-joins over prefix-truncated keys.  Oracle replays
    the same route semantics as a sequential theta join in DuckDB.
    Scale: distinct-address dedup bounds the candidate explode; the
    route table broadcasts; the verdict joins back on the address."""
    from ..operators.net_enrich import lpm_lookup

    pk = read_pcap(spark, analytics_dir()).select("src")
    routes = spark.createDataFrame(_LPM_ROUTES, "cidr string, label string")
    looked = lpm_lookup(pk.distinct(), routes, ip_col="src")
    return (
        pk.join(F.broadcast(looked), "src")
        .groupBy("label")
        .agg(
            F.count("*").alias("n_pkts"),
            F.countDistinct("src").cast("long").alias("n_hosts"),
            F.min("plen").cast("long").alias("plen"),
        )
    )


@query(
    "pcap_beacon_detect",
    oracle=lambda: f"""
    WITH q AS (
      SELECT src,
             coalesce(regexp_extract(dns_qname,
                 '([a-z0-9-]+\\.[a-z0-9-]+\\.)$', 1), '') AS parent,
             ts * 1000 + ts_usec // 1000 AS t_ms
      FROM '{analytics_truth_path()}'
      WHERE dns_qname IS NOT NULL AND NOT dns_qr
            AND file = 'traffic.pcap'),
    g AS (
      SELECT src, parent,
             t_ms - lag(t_ms) OVER (PARTITION BY src, parent
                                    ORDER BY t_ms) AS gap_ms
      FROM q),
    s AS (
      SELECT src, parent,
             count(gap_ms) AS n_gaps,
             CAST(coalesce(sum(gap_ms), 0) AS BIGINT) AS sum_gap_ms,
             CAST(coalesce(sum(gap_ms * gap_ms), 0) AS BIGINT) AS sum_gap2
      FROM g GROUP BY src, parent)
    SELECT src, parent, n_gaps, sum_gap_ms,
           n_gaps >= 10
           AND 100 * (n_gaps * sum_gap2 - sum_gap_ms * sum_gap_ms)
               <= sum_gap_ms * sum_gap_ms AS is_beacon
    FROM s
    """,
)
def q_pcap_beacon_detect(spark: SparkSession, sf: str) -> DataFrame:
    """Beaconing detection: per (source, parent domain), the
    coefficient of variation of DNS query inter-arrival times — a
    long, near-constant-period query train is the C2/exfil heartbeat
    signature.  The CV² ≤ 1% test is cross-multiplied into EXACT
    int64 arithmetic (100·(n·Σg² − (Σg)²) ≤ (Σg)², gaps in ms), so
    the flag is hash-comparable with no float variance ordering
    issues between engines.  Scale: one shuffle for the lag window on
    (src, parent), one partial-aggregated shuffle for the stats —
    both on the same key, so AQE coalesces them; int64 holds to
    ~3·10⁵ s gaps."""
    qn = F.col("dns_qname")
    base = (
        read_pcap(spark, analytics_dir(), decoder="dns")
        .filter(
            qn.isNotNull()
            & (F.col("dns_qr") == False)  # noqa: E712
            & F.col("file").endswith("traffic.pcap")
        )
        .select(
            "src",
            # coalesce mirrors the oracle: regexp_extract's no-match
            # convention ('' vs NULL) drifts across DuckDB releases
            F.coalesce(
                F.regexp_extract(qn, r"([a-z0-9-]+\.[a-z0-9-]+\.)$", 1),
                F.lit(""),
            ).alias("parent"),
            (F.col("ts") * 1000 + F.expr("ts_usec div 1000")).alias("t_ms"),
        )
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("src", "parent").orderBy("t_ms")
    g = base.withColumn("gap_ms", F.col("t_ms") - F.lag("t_ms").over(w))
    s = g.groupBy("src", "parent").agg(
        F.count("gap_ms").alias("n_gaps"),
        F.coalesce(F.sum("gap_ms"), F.lit(0)).alias("sum_gap_ms"),
        F.coalesce(F.sum(F.col("gap_ms") * F.col("gap_ms")), F.lit(0)).alias(
            "sum_gap2"
        ),
    )
    ss, n = F.col("sum_gap_ms"), F.col("n_gaps")
    return s.select(
        "src",
        "parent",
        "n_gaps",
        "sum_gap_ms",
        (
            (n >= 10)
            & (100 * (n * F.col("sum_gap2") - ss * ss) <= ss * ss)
        ).alias("is_beacon"),
    )


@query(
    "streaming_scan_detect",
    oracle=lambda: f"""
    SELECT src,
           count(DISTINCT dst_port) AS n_ports,
           count(DISTINCT dst_port) >= 64 AS is_scanner
    FROM '{analytics_truth_path()}'
    WHERE protocol = 'TCP'
    GROUP BY src
    """,
)
def q_streaming_scan_detect(spark: SparkSession, sf: str) -> DataFrame:
    """STREAMING twin of pcap_scan_detect — security monitoring is a
    streaming problem in production.  Streaming aggregations cannot
    express count(DISTINCT), so the distinct-port fan-out is
    decomposed into Spark's stateful primitives: stream
    ``dropDuplicates`` on (src, dst_port) — state = the seen key set,
    which also collapses the mirror capture's duplicate packets
    arriving in a LATER micro-batch — feeding a complete-mode count
    per src.  Runs the two analytics capture files as separate
    micro-batches (maxFilesPerTrigger=1) via AvailableNow; the oracle
    is the same synthesis-intent ground truth as the batch twin,
    which is exactly the point: rotated-file streaming ingestion must
    converge to the batch answer.
    Scale: dedup state is one entry per distinct (src, port) — at
    most 2^16 per source; production would bound it with a watermark
    on capture time (streaming_pcap_watermark pins those
    semantics)."""
    from ..sources import read_pcap_stream
    from .streaming_queries import _run_to_memory

    stream = read_pcap_stream(
        spark, analytics_dir(), max_files_per_trigger=1
    )
    agg = (
        stream.filter(
            (F.col("protocol") == "TCP") & F.col("dst_port").isNotNull()
        )
        # the NULL filter matters for batch parity: a caplen-truncated
        # TCP header decodes with NULL ports, and dropDuplicates would
        # keep one (src, NULL) row that count(*) counts while the
        # oracle's count(DISTINCT dst_port) ignores NULLs — one
        # truncated packet at the threshold would flip is_scanner
        # (r10 review finding; latent on this fixture, real on real
        # captures)
        .select("src", "dst_port")
        .dropDuplicates(["src", "dst_port"])
        .groupBy("src")
        .agg(F.count("*").alias("n_ports"))
    )
    sink = _run_to_memory(agg, "complete", "scan_stream")
    return sink.select(
        "src",
        F.col("n_ports").cast("long").alias("n_ports"),
        (F.col("n_ports") >= 64).alias("is_scanner"),
    )
