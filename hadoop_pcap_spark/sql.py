"""The SQL front door — the reference's primary interface, re-homed.

hadoop-pcap's documented entry point is Hive QL over a SerDe table
(hadoop-pcap-serde/README.md:21-60: CREATE EXTERNAL TABLE ... ROW
FORMAT SERDE 'net.ripe.hadoop.pcap.serde.PcapDeserializer').  The
Spark twin: register the capture (and the warehouse tables) as temp
views, then every query in this package — and anything a Hive user
wrote — runs via ``spark.sql``.

(`CREATE TABLE ... USING pcap` works via the session-defaults bridge
— ``sources.datasource.set_pcap_ddl_options`` — because PySpark 4.1
drops catalog OPTIONS for Python data sources at reader() time; view
registration remains the preferred SQL path for multiple tables with
different options.  See SCALE.md known limits.)
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, SparkSession

from .plans import WAREHOUSE_TABLES


def register_warehouse_views(
    spark: SparkSession,
    sf_dir: str,
    tables: Sequence[str] = WAREHOUSE_TABLES,
) -> None:
    """One temp view per warehouse parquet table (events normalized to
    epoch-µs BIGINT ts, matching every oracle's convention)."""
    from .plans import table as _table

    for t in tables:
        _table(spark, sf_dir, t).createOrReplaceTempView(t)


def register_packets_view(
    spark: SparkSession,
    path: str,
    name: str = "packets",
    **read_pcap_kwargs,
) -> DataFrame:
    """The serde-table twin: ``packets`` as a SQL view over a capture
    path.  Filters/projections written in SQL reach the same chunked
    decode pipeline as the DataFrame API."""
    from .sources import read_pcap

    df = read_pcap(spark, path, **read_pcap_kwargs)
    df.createOrReplaceTempView(name)
    return df


def register_pcap_udtfs(spark: SparkSession) -> None:
    """SQL-callable table functions for payload→rows explosion —
    SURVEY §2.4's literal ``@udtf`` row (VERDICT r12 item 7): SQL-only
    users get the L7 extractors without the Python API, via LATERAL:

    ``SELECT c.client, t.* FROM conns c, LATERAL http_objects(
    c.req_stream, c.resp_stream) t`` — one row per HTTP
    request/response pair (the operators/http.py parsers, same
    framing/decoding semantics, RFC 9112).

    ``SELECT s.src, t.* FROM streams s, LATERAL dns_messages(
    s.stream) t`` — one row per DNS message in a reassembled
    DNS-over-TCP stream (RFC 1035 §4.2.2 framing + the package's own
    RFC 1035 parser — per-message rows the reference's per-packet
    hook can never produce).

    ``SELECT c.client, t.* FROM conns c, LATERAL tls_session(
    c.stream_a, c.stream_b) t`` — at most one row per connection:
    SNI / ALPN / negotiated version / cipher / JA3(S) from the
    handshake (operators/tls.py parsers; direction classified by
    content, argument order irrelevant).

    Each input row is processed independently (stateless eval), so
    Spark parallelizes the lateral join across partitions exactly
    like the applyInPandas operators; idempotent to re-register."""
    from pyspark.sql.functions import udtf

    @udtf(
        returnType="obj_no int, method string, url string, status int,"
        " content_type string, content_encoding string, chunked boolean,"
        " body_len int, body_truncated boolean, body binary",
        useArrow=True,  # ArrowEvalPythonUDTF, not row-serde BatchEvalPython
    )
    class HttpObjectsUdtf:
        def eval(self, req_stream, resp_stream, server=None, server_port=None):
            from hadoop_pcap_spark.operators.http import (
                http_exchanges,
                object_fields,
            )

            if req_stream is None or resp_stream is None:
                return
            # a Host-less request falls back to the server endpoint, as
            # in the batch operator (pass server/server_port as the
            # optional 3rd/4th LATERAL arguments)
            objs = http_exchanges(
                bytes(req_stream), bytes(resp_stream), server, server_port
            )
            for i, (method, url, rs) in enumerate(objs, start=1):
                yield tuple(object_fields(i, method, url, rs).values())

    @udtf(
        returnType="msg_no int, dns_queryid int, dns_qr boolean,"
        " dns_qname string, dns_qtype int, dns_rcode string,"
        " n_answers int",
        useArrow=True,
    )
    class DnsMessagesUdtf:
        def eval(self, stream):
            from hadoop_pcap_spark.operators.flows import (
                _frame_messages,
                dns_columns,
                dns_messages,
            )

            if stream is None:
                return
            for i, msg in dns_messages(_frame_messages(bytes(stream))):
                c = dns_columns(msg)
                yield (
                    i, c["dns_queryid"], c["dns_qr"], c["dns_qname"],
                    c["dns_qtype"], c["dns_rcode"], len(c["dns_answer"]),
                )

    @udtf(
        returnType="sni string, alpn string, alpn_chosen string,"
        " tls_version string, cipher_suite int, ja3 string,"
        " ja3_md5 string, ja3s string, ja3s_md5 string,"
        " server_hello_seen boolean",
        useArrow=True,
    )
    class TlsSessionUdtf:
        def eval(self, stream_a, stream_b):
            from hadoop_pcap_spark.operators.tls import (
                first_hellos,
                session_fields,
            )

            ch, _, sh, _ = first_hellos(
                (None, bytes(s)) for s in (stream_a, stream_b) if s is not None
            )
            if ch is not None:
                yield tuple(session_fields(ch, sh).values())

    spark.udtf.register("http_objects", HttpObjectsUdtf)
    spark.udtf.register("dns_messages", DnsMessagesUdtf)
    spark.udtf.register("tls_session", TlsSessionUdtf)
