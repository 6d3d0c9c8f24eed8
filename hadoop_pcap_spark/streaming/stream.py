"""Structured Streaming analogs (SURVEY.md §2.4 'streaming analogs').

The reference has no streaming story — a live capture feed would just
be more pcap files appearing in a directory.  That maps exactly to
Spark's file streaming source: same wide schema, same query shapes,
plus watermarked windows and within-watermark dedup for late/duplicate
packets.

Each builder below takes a streaming DataFrame of the packet/event
shape and returns the transformed streaming DataFrame; tests drive
them with the memory sink and assert batch-equivalence (a streaming
query over a static directory must equal the batch query — exactness
check no oracle can do better)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def tumbling_counts(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    window: str = "5 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Tumbling-window counts per key with a watermark for late data.
    Scale: streaming state is one row per (window, key); watermark
    bounds state size."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("win"), F.col(key_col))
        .agg(F.count("*").alias("n"))
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            key_col,
            "n",
        )
    )


def sliding_rates(
    events: DataFrame,
    ts_col: str = "ts",
    window: str = "10 minutes",
    slide: str = "5 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Sliding-window event rate — the top-talker monitor shape."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window, slide).alias("win"))
        .agg(F.count("*").alias("n"), F.approx_count_distinct("user_id").alias("users"))
        .select(F.col("win.start").alias("win_start"), "n", "users")
    )


def session_windows(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    gap: str = "5 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Session windows per key (gap-based) — flow/sessionization of the
    packet stream (per-flow session = same motif)."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap).alias("sess"), F.col(key_col))
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("sess.start").alias("sess_start"),
            F.col("sess.end").alias("sess_end"),
            key_col,
            "n_events",
        )
    )


def dedup_within_watermark(
    events: DataFrame,
    keys: list = ("user_id", "event_type"),
    ts_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming exact dedup — dropDuplicatesWithinWatermark, the
    streaming twin of the md5-dedup motif (state bounded by the
    watermark horizon)."""
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        list(keys)
    )


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    left_ts: str = "ts",
    right_ts: str = "ts",
    max_gap: str = "1 hour",
    watermark: str = "2 hours",
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream interval join: pair each left row
    with the right rows sharing ``key`` whose event time falls in
    ``[left_ts, left_ts + max_gap]`` — the impression→conversion /
    request→response correlation motif (for packets: SYN→response,
    query→answer across two capture feeds).

    Contract: ``left_ts`` and ``right_ts`` must be *different* column
    names and all non-``key`` columns disjoint (rename before
    calling), so the joined schema is unambiguous.  Both sides carry
    the same ``watermark`` delay; the time-range predicate on the two
    event-time columns is what lets Spark derive a state eviction
    bound from it.

    Scale: both sides shuffle once on ``key``; per-key join state
    retains only rows within ``watermark + max_gap`` of the global
    watermark, so state is bounded by the stream rate × horizon, not
    by history.  ``how='left_outer'`` is supported but emits
    NULL-extended rows only once the watermark passes a left row —
    under ``availableNow`` the tail's unmatched rows stay in state
    for the next run rather than being emitted at stream end (use
    inner for run-bounded batch equivalence)."""
    l = left.withWatermark(left_ts, watermark)
    r = right.withWatermark(right_ts, watermark)
    cond = (
        (l[key] == r[key])
        & (r[right_ts] >= l[left_ts])
        & (r[right_ts] <= l[left_ts] + F.expr(f"INTERVAL {max_gap}"))
    )
    return l.join(r, cond, how).drop(r[key])


FLOW_STATE_OUTPUT = "user_id LONG, n_events LONG, total_value DOUBLE, batch_events LONG"
FLOW_STATE_SCHEMA = "n LONG, total DOUBLE"


def stateful_flow_counts(events: DataFrame, key_col: str = "user_id") -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-key
    running event count + value total maintained across micro-batches
    (the per-flow packet/byte-counter motif — state the built-in
    windowed aggs can't express when it must accumulate forever and
    emit per-batch deltas).

    Scale: state lives in the state store partitioned by key; each
    micro-batch touches only keys present in the batch.

    Cost model (measured, see SCALING.md "streaming rows at sf10";
    100k rows / 1500 keys / 1 micro-batch, local[32] on a 4-core host,
    HDFS-backed store): the dominant term is a PER-STATE-PARTITION
    fixed cost of ~0.5 cpu-s per micro-batch.  About 0.1 of it is the JVM floor (a
    no-Python built-in streaming agg pays it too: state-store load and
    commit, task launch); the rest is the Python boundary, a worker
    per partition.  Per-ROW work, state tuple serde and the 1-row
    output frames are in the noise, and so is per-KEY work for this
    two-column input.  That last term grows with the columns sent,
    because Spark converts each group's Arrow slice to pandas one
    column at a time: the HTTP operator below measured ~7.3 ms of
    Python CPU per group call at ten columns and ~4.7 ms at five
    (see :func:`..operators.flows.l7_segments`).  So the operative knob is
    ``spark.sql.shuffle.partitions`` AT FIRST QUERY START (it freezes
    into the checkpoint): size it to key cardinality × arrival
    rate, not to the box's core count — 1500 keys want ~8 partitions
    (8.4 cpu-s end-to-end), not 32 (20.0 cpu-s).  At 100× the event
    rate the per-partition cost amortizes over 100× the rows and the
    same sizing logic simply yields a bigger number."""
    import numpy as np
    import pandas as pd

    def update(key, pdfs, state):
        n, total = state.get if state.exists else (0, 0.0)
        batch_n = 0
        for pdf in pdfs:
            batch_n += len(pdf)
            # nansum on the raw ndarray: no dropna copy per chunk
            total += float(np.nansum(pdf["value"].to_numpy()))
        n += batch_n
        state.update((n, float(total)))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "total_value": [round(float(total), 4)],
                "batch_events": [batch_n],
            }
        )

    return events.groupBy(key_col).applyInPandasWithState(
        update,
        outputStructType=FLOW_STATE_OUTPUT,
        stateStructType=FLOW_STATE_SCHEMA,
        outputMode="update",
        timeoutConf="NoTimeout",
    )


# --- the streaming L7 operators' input -------------------------------------
#
# applyInPandasWithState converts every group's Arrow slice to pandas
# one column at a time and then joins the columns per group, so the
# operators' cost per connection per micro-batch grows with the number
# of columns they send.  The three L7 operators below therefore group
# the narrow :func:`..operators.flows.l7_segments` layout by its ONE
# string key and send four value columns (three for DNS); the Python
# side joins a group's payloads with
# :func:`..operators.flows.join_directions` (numpy, no per-row loop).
# Measured on the pcap_stream benchmark (seed 71, 4 state partitions,
# 4-core host): the HTTP operator's state tasks took 2.57 cpu-s of
# Python per pass with ten columns and a per-row loop, 1.65 with this
# layout, over 353 group calls per pass.


def _group_streams(pdfs) -> tuple:
    """One group's chunks (what ``applyInPandasWithState`` hands over)
    → ``(a_bytes, b_bytes, n_segments)`` from
    :func:`..operators.flows.join_directions` in (``t_us``, ``pkt_no``)
    order.  Without a ``from_a`` column every byte is a-side."""
    import pandas as pd

    from ..operators.flows import join_directions

    chunks = list(pdfs)
    if not chunks:
        return b"", b"", 0
    seg = chunks[0] if len(chunks) == 1 else pd.concat(chunks, ignore_index=True)
    dirs = join_directions(
        (seg["t_us"].to_numpy(), seg["pkt_no"].to_numpy()),
        seg["from_a"].to_numpy(bool) if "from_a" in seg.columns else None,
        seg["payload"].to_numpy(),
    )
    a, b = (dirs[s][0] if s in dirs else b"" for s in (True, False))
    return a, b, len(seg)


DNS_TCP_OUTPUT = (
    "src STRING, dst STRING, src_port INT, dst_port INT, msg_no INT, "
    "dns_queryid INT, dns_flags STRING, dns_qr BOOLEAN, dns_opcode STRING, "
    "dns_rcode STRING, dns_qname STRING, dns_qtype INT, dns_qtype_str STRING, "
    "dns_answer ARRAY<STRING>, dns_authority ARRAY<STRING>, "
    "dns_additional ARRAY<STRING>, n_segments BIGINT"
)
DNS_TCP_STATE = "residual BINARY, n_msgs BIGINT, n_segments BIGINT"

HTTP_STREAM_OUTPUT = (
    "client STRING, server STRING, server_port INT, obj_no INT, "
    "method STRING, url STRING, status INT, content_type STRING, "
    "content_encoding STRING, chunked BOOLEAN, body_len INT, body BINARY"
)
HTTP_STREAM_STATE = (
    "a_resid BINARY, b_resid BINARY, client_is_a INT, n_objs BIGINT, "
    "pending STRING"
)


def streaming_http_objects(
    packets: DataFrame,
    max_flow_bytes: int = 64 * 1024 * 1024,
    max_pending: int = 1024,
) -> DataFrame:
    """HTTP/1.x object extraction as a custom stateful streaming
    operator (applyInPandasWithState) — the live twin of
    :func:`..operators.http.http_objects`, for tailing rotated
    capture directories: a CONNECTION that spans capture files (and
    therefore micro-batches) still yields each object exactly once,
    when its response framing completes.

    Per-connection state: the two directional byte RESIDUALS (bytes
    not yet consumed by a complete message), the request/response
    direction assignment once classified by content, the emitted
    object counter, and the parsed-but-unanswered request queue
    (method+url, JSON-encoded, capped at ``max_pending``) that pairs
    pipelined responses arriving in later batches.

    Documented streaming limitation: a CLOSE-DELIMITED response (no
    Content-Length, not chunked) has no knowable end on a live stream
    — it is never emitted here (the batch operator recovers it at
    flow end): the shared parser
    (:func:`..operators.http.parse_responses` with ``at_end=False``)
    stops at its start.
    Hot-flow guard: a residual beyond ``max_flow_bytes`` resets that
    direction (dropping buffered bytes) rather than growing state.  So
    does a direction that desynchronizes (a start line that is not
    HTTP, a chunk size or Content-Length that is not plain digits:
    :func:`..operators.http.desynchronized`), which no later bytes
    could make parse; the objects it completed before stay emitted.
    A connection that a direction rules out as HTTP before it is
    classified (:func:`..operators.http.never_http`: no method token
    or ``HTTP/1.`` can begin it any more — TLS, SSH) can never yield
    a row, as in the batch operator: its state is marked
    (``client_is_a = -1``) and its bytes are dropped, then and in
    every later micro-batch.

    Input: a streaming packet DataFrame with at least
    src/dst/src_port/dst_port/protocol/ts/pkt_no/payload; ``ts_usec``,
    when present, orders same-second segments across the rotated files
    of one micro-batch.  Each connection reaches Python in the narrow
    :func:`..operators.flows.l7_segments` layout, keyed by its canonical
    ``conn`` string, so state is keyed by that one column: a checkpoint whose state was
    keyed by the four endpoint columns (a_ip, a_port, b_ip, b_port)
    does not resume — Spark stops the query at start with
    STATE_STORE_KEY_SCHEMA_NOT_COMPATIBLE."""
    import json as _json

    import pandas as pd

    from ..operators.flows import conn_endpoints, l7_segments
    from ..operators.http import (
        classify_stream,
        desynchronized,
        never_http,
        object_fields,
        parse_requests,
        parse_responses,
        request_url,
    )

    names = [c.split()[0] for c in HTTP_STREAM_OUTPUT.split(", ")]

    def update(key, pdfs, state):
        a_ip, a_port, b_ip, b_port = conn_endpoints(key[0])
        a_res, b_res, client_is_a, n_objs, pending_json = (
            state.get if state.exists else (b"", b"", 0, 0, "[]")
        )
        pending = _json.loads(pending_json or "[]")
        a_new, b_new, _n = _group_streams(pdfs)
        a_res = bytes(a_res or b"") + a_new
        b_res = bytes(b_res or b"") + b_new
        if client_is_a == 0:
            ka, kb = classify_stream(a_res), classify_stream(b_res)
            if never_http(a_res) or never_http(b_res):
                client_is_a = -1  # not HTTP: rule out, drain from now on
            elif ka == "req" or kb == "resp":
                client_is_a = 1
            elif kb == "req" or ka == "resp":
                client_is_a = 2
        if client_is_a == -1:
            state.update((b"", b"", -1, n_objs, "[]"))
            return
        rows = []
        if client_is_a:
            if client_is_a == 1:
                req_res, resp_res = a_res, b_res
                client, server, sport = a_ip, b_ip, b_port
            else:
                req_res, resp_res = b_res, a_res
                client, server, sport = b_ip, a_ip, a_port
            if len(pending) < max_pending:
                # cap by REFUSING to consume further requests (their
                # bytes stay in the residual, bounded by the byte cap)
                # — dropping already-parsed entries would desync the
                # FIFO request/response pairing permanently
                reqs, used = parse_requests(req_res, at_end=False)
                req_res = req_res[used:]
                if desynchronized(req_res, request=True):
                    req_res = b""  # desync guard: reset, resync later
                pending.extend(
                    {"method": rq["method"], "url": request_url(rq, server, sport)}
                    for rq in reqs
                )
            resps, used = parse_responses(
                resp_res, methods=[p["method"] for p in pending], at_end=False
            )
            resp_res = resp_res[used:]
            for rs in resps:
                rq = pending.pop(0) if pending else {"method": None, "url": None}
                n_objs += 1
                rows.append(
                    {
                        "client": client,
                        "server": server,
                        "server_port": sport,
                        **object_fields(n_objs, rq["method"], rq["url"], rs),
                    }
                )
            if desynchronized(
                resp_res, request=False,
                method=pending[0]["method"] if pending else None,
            ):
                resp_res = b""
            if client_is_a == 1:
                a_res, b_res = req_res, resp_res
            else:
                b_res, a_res = req_res, resp_res
        if len(a_res) > max_flow_bytes:
            a_res = b""  # hot-flow guard: reset, resync later
        if len(b_res) > max_flow_bytes:
            b_res = b""
        state.update(
            (a_res, b_res, client_is_a, n_objs, _json.dumps(pending))
        )
        if rows:
            yield pd.DataFrame(rows, columns=names)

    return l7_segments(packets, stream=True).groupBy("conn").applyInPandasWithState(
        update,
        outputStructType=HTTP_STREAM_OUTPUT,
        stateStructType=HTTP_STREAM_STATE,
        outputMode="append",
        timeoutConf="NoTimeout",
    )


TLS_STREAM_OUTPUT = (
    "client STRING, server STRING, server_port INT, sni STRING, "
    "alpn STRING, ja3 STRING, ja3_md5 STRING"
)
TLS_STREAM_STATE = "a_resid BINARY, b_resid BINARY, done BOOLEAN"


def streaming_tls_clienthellos(
    packets: DataFrame,
    max_handshake_bytes: int = 64 * 1024,
) -> DataFrame:
    """LIVE TLS client telemetry (applyInPandasWithState): one row per
    TCP connection, emitted exactly once when its ClientHello's
    records COMPLETE — SNI / offered ALPN / JA3, the what-client-went-
    where feed a network monitor tails in real time.  A hello whose
    TCP segments span rotated capture files (micro-batches) emits when
    the last byte arrives; server-side fields are intentionally absent
    (the ServerHello may be seconds away — this is the low-latency
    client side; the batch operator :func:`..operators.tls.
    tls_handshakes` joins both halves).

    State per connection: the two directional byte residuals until the
    ClientHello parses (then cleared, ``done`` pinned so the
    connection's remaining traffic is consumed at zero state cost).  A
    direction exceeding ``max_handshake_bytes`` without a parseable
    ClientHello marks the connection done (not TLS / missed handshake
    — state bounded either way).

    Input and state key as :func:`streaming_http_objects`: one
    canonical ``conn`` key in the :func:`..operators.flows.l7_segments`
    layout, so a checkpoint keyed by the four endpoint columns does not
    resume."""
    import pandas as pd

    from ..operators.flows import conn_endpoints, l7_segments
    from ..operators.tls import first_hellos, session_fields

    names = [c.split()[0] for c in TLS_STREAM_OUTPUT.split(", ")]

    def update(key, pdfs, state):
        a_ip, a_port, b_ip, b_port = conn_endpoints(key[0])
        a_res, b_res, done = (
            state.get if state.exists else (b"", b"", False)
        )
        if done:
            for _ in pdfs:
                pass  # drain: connection already reported (or ruled out)
            state.update((b"", b"", True))
            return
        a_new, b_new, _n = _group_streams(pdfs)
        a_res = bytes(a_res or b"") + a_new
        b_res = bytes(b_res or b"") + b_new
        ch, ch_dir_a, _, _ = first_hellos(((True, a_res), (False, b_res)))
        if ch is not None:
            state.update((b"", b"", True))
            if ch_dir_a:
                client, server, sport = a_ip, b_ip, b_port
            else:
                client, server, sport = b_ip, a_ip, a_port
            row = {
                "client": client,
                "server": server,
                "server_port": None if sport is None else int(sport),
                **session_fields(ch, None),
            }
            yield pd.DataFrame([row], columns=names)
            return
        if len(a_res) > max_handshake_bytes or len(b_res) > max_handshake_bytes:
            state.update((b"", b"", True))  # not TLS / missed: rule out
            return
        state.update((a_res, b_res, False))

    return l7_segments(packets, stream=True).groupBy("conn").applyInPandasWithState(
        update,
        outputStructType=TLS_STREAM_OUTPUT,
        stateStructType=TLS_STREAM_STATE,
        outputMode="append",
        timeoutConf="NoTimeout",
    )


def streaming_dns_tcp_reassembly(
    packets: DataFrame,
    max_flow_bytes: int = 64 * 1024 * 1024,
) -> DataFrame:
    """DNS-over-TCP reassembly as a custom stateful streaming operator
    (applyInPandasWithState) — the live twin of
    :func:`..operators.flows.reassemble_dns_tcp`.

    Per-flow state is the *unconsumed byte residual* of the TCP stream
    plus message/segment counters: each micro-batch appends its
    segments in capture order, walks the RFC 1035 §4.2.2 length-prefix
    framing, emits every message that COMPLETED in this batch
    (``msg_no`` continues across batches), and carries the incomplete
    tail forward — so a message split across micro-batches is emitted
    exactly once, when its last segment arrives.

    State hygiene: after framing, a carried residual larger than
    ``max_flow_bytes`` resets the flow (dropping the buffered bytes —
    the hot-flow guard; clipping the NEW bytes instead would wedge
    the flow forever on a poisoned length prefix, since every batch
    would re-truncate back to the same stuck residual), and a zero
    length prefix (protocol violation, same wedge) clears it too.
    Production deployments should add an idle-flow TTL (timeoutConf +
    state.hasTimedOut) sized to the capture's flow timeout; NoTimeout
    keeps the demo deterministic.

    Input: a streaming packet DataFrame (``readStream.format("pcap")``
    or ``read_pcap_stream``) with at least
    src/dst/src_port/dst_port/protocol/pkt_no/ts/payload.  Segments are
    ordered by (``ts``·10⁶ + ``ts_usec``, ``pkt_no``): a micro-batch can
    carry several rotated captures, whose ``pkt_no`` restarts at 1 in
    each file.  Each flow reaches Python in the narrow
    :func:`..operators.flows.l7_segments` layout under its directional
    ``conn`` key (src|src_port|dst|dst_port); a checkpoint keyed by the four
    columns (src, dst, src_port, dst_port) does not resume.
    """
    import pandas as pd

    from ..operators.flows import (
        _frame_messages, conn_endpoints, dns_columns, dns_messages, dns_ports,
        l7_segments,
    )

    def update(key, pdfs, state):
        new, _b, n = _group_streams(pdfs)
        if n == 0:
            return
        src, src_port, dst, dst_port = conn_endpoints(key[0])
        residual, n_msgs, n_segs = (
            state.get if state.exists else (b"", 0, 0)
        )
        n_segs += n
        stream = bytes(residual or b"") + new
        msgs = _frame_messages(stream)
        consumed = sum(2 + len(m) for m in msgs)
        residual = stream[consumed:]
        if len(residual) > max_flow_bytes:
            residual = b""  # hot-flow guard: reset, resync later
        if residual[:2] == b"\x00\x00":
            residual = b""  # zero-length prefix: unstick the flow
        rows = [
            {
                "src": src, "dst": dst,
                "src_port": src_port, "dst_port": dst_port,
                "msg_no": no,
                **dns_columns(msg),
                "n_segments": n_segs,
            }
            for no, msg in dns_messages(msgs, n_msgs + 1)
        ]
        state.update((residual, n_msgs + len(msgs), n_segs))
        if rows:
            yield pd.DataFrame(rows)

    return l7_segments(
        packets, directional=True, flow_filter=dns_ports(), stream=True
    ).groupBy("conn").applyInPandasWithState(
        update,
        outputStructType=DNS_TCP_OUTPUT,
        stateStructType=DNS_TCP_STATE,
        outputMode="append",
        timeoutConf="NoTimeout",
    )


def streaming_corpus_filter(
    docs: DataFrame,
    ts_col: str = "ts",
    watermark: str = "10 minutes",
    text_col: str = "text",
) -> DataFrame:
    """The corpus build's streaming front half: Gopher-rule filter +
    PII scrub (both stateless maps) + exact dedup within the
    watermark (state bounded by watermark × arrival rate) — what you
    run on a live crawl before the batch near-dup/packing stages.

    Batch-equivalence: on any bounded input whose event times fit one
    watermark window, the kept set equals the batch pipeline's
    rules→scrub→exact-dedup stages (asserted in
    tests/test_streaming.py); near-dup needs cross-corpus state and
    stays batch (corpus_build_stats).

    Scale: rules/scrub ride the stream's map stage; the dedup state
    store holds one 128-bit fingerprint per surviving doc within the
    watermark — eviction is exactly the watermark contract."""
    from ..functions.text import exact_fingerprint, gopher_keep, scrub_pii

    cleaned = (
        docs.filter(gopher_keep(F.col(text_col)))
        .withColumn(text_col, scrub_pii(F.col(text_col)))
        .withColumn("fp", exact_fingerprint(F.col(text_col)))
    )
    return cleaned.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        ["fp"]
    )


# --- cross-run incremental dedup (snapshot-backed foreachBatch) ---------------
#
# dropDuplicatesWithinWatermark bounds its state by the watermark
# horizon — right for late/duplicate arrivals, wrong for the "daily
# crawl append" motif where today's batch must dedup against EVERY
# document ever kept.  That needs durable state outside the state
# store: a fingerprint snapshot on the data lake, anti-joined per
# micro-batch and appended to per epoch (the streaming twin of the
# batch `dedup_incremental` query, plans/pipeline.py).
#
# Exactly-once across crash/replay without a transactional store:
#   * each epoch's new fingerprints land in their own `epoch=<id>`
#     directory, written with mode=overwrite → replaying an epoch
#     rewrites the same directory instead of double-appending;
#   * the anti-join reads only STRICTLY EARLIER epochs, so a replay
#     sees exactly the pre-batch snapshot even if the crashed attempt
#     had already written its fingerprint directory;
#   * the within-batch representative is keep-min(id), not
#     dropDuplicates, so a replayed batch emits row-identical output.
#
# Scale: the snapshot is ONLY distinct 128-bit fingerprints — at
# 100 TB it lives as a bucketed table so the per-batch probe is a
# co-located join; epoch dirs are compacted offline
# (compact_fingerprint_snapshot) so file count stays bounded.

import re as _re

_EPOCH_RE = _re.compile(r"^epoch=(\d+)(?:c(\d+))?$")


def _snapshot_epoch_dirs(spark, fps_root: str) -> list:
    """List (epoch, compaction_generation, path) fingerprint
    partitions via the Hadoop FileSystem API — works on any
    filesystem Spark can reach (local, HDFS, object stores), where
    os.listdir only works on local paths."""
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(fps_root)
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(path):
        return []
    out = []
    for status in fs.listStatus(path):
        m = _EPOCH_RE.match(status.getPath().getName())
        if m and status.isDirectory():
            out.append(
                (int(m.group(1)), int(m.group(2) or 0),
                 status.getPath().toString())
            )
    return out


def incremental_dedup_step(
    batch_df: DataFrame,
    epoch_id: int,
    snapshot_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    fp_col: str = "fp",
    persist: bool = True,
) -> DataFrame:
    """One micro-batch of cross-run exact dedup: fingerprint, keep the
    min-``id_col`` representative per within-batch duplicate group,
    anti-join against every strictly-earlier epoch's fingerprints,
    and commit this epoch's survivors to ``<snapshot_dir>/fps/
    epoch=<id>`` (overwrite → replay-idempotent).  Returns the kept
    rows — PERSISTED when ``persist=True`` (the caller emits them
    downstream and unpersists); pass ``persist=False`` when nothing
    re-reads the result after the snapshot write (r14: caching a
    frame with exactly one consumer was pure memory-store overhead
    per epoch).

    Exposed separately from the stream wiring so the replay/restart
    semantics are testable without a streaming query."""
    from ..functions.text import exact_fingerprint

    spark = batch_df.sparkSession
    fps_root = snapshot_dir.rstrip("/") + "/fps"
    # keep-min(id) representative per fingerprint via min_by over ONE
    # hash aggregate (r14): map-side partial aggregation replaces the
    # former row_number window's full per-partition sort — same kept
    # rows, one exchange either way, no sort.  min_by skips NULL
    # ordering values, so order by a never-NULL struct that restores
    # the window's ascending-id, NULLs-first order.
    fingerprinted = batch_df.withColumn(fp_col, exact_fingerprint(F.col(text_col)))
    data_cols = [c for c in fingerprinted.columns if c != fp_col]
    order = F.struct(F.col(id_col).isNotNull(), F.col(id_col))
    batch = (
        fingerprinted.groupBy(fp_col)
        .agg(F.min_by(F.struct(*data_cols), order).alias("_rep"))
        .select(
            *[
                F.col(fp_col) if c == fp_col else F.col(f"_rep.{c}").alias(c)
                for c in fingerprinted.columns
            ]
        )
    )
    prior = [
        p for e, _g, p in _snapshot_epoch_dirs(spark, fps_root) if e < epoch_id
    ]
    if prior:
        # explicit schema: immune to empty/partial dirs a crashed
        # compaction may leave (they contribute extra-or-missing rows,
        # both harmless: the originals survive until the compacted
        # write has committed, so the union is always a superset)
        seen = spark.read.schema(f"{fp_col} string").parquet(*prior)
        batch = batch.join(seen, [fp_col], "left_anti")
    kept = batch.persist() if persist else batch
    kept.select(fp_col).write.mode("overwrite").parquet(
        f"{fps_root}/epoch={epoch_id}"
    )
    return kept


def streaming_incremental_dedup(
    docs: DataFrame,
    snapshot_dir: str,
    emit=None,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Wire :func:`incremental_dedup_step` into a foreachBatch sink.
    Returns a ``DataStreamWriter`` — the caller sets
    ``checkpointLocation`` and calls ``start()``.  ``emit(kept_df,
    epoch_id)`` receives each batch's survivors after the snapshot
    commit; per the standard foreachBatch contract it must itself be
    idempotent per epoch for end-to-end exactly-once.

    Single-writer contract: one stream owns a snapshot directory
    (epoch ids come from its checkpoint, and the strictly-earlier
    visibility rule assumes they are the only writers).  Concurrent
    crawls should dedup into per-stream snapshots and reconcile in a
    batch step, or share one stream via source union."""

    def _process(batch_df: DataFrame, epoch_id: int) -> None:
        # persist only when an emit callback will actually RE-READ the
        # kept frame after the snapshot write; with no emitter the
        # cache had exactly one consumer and was per-epoch overhead
        kept = incremental_dedup_step(
            batch_df, epoch_id, snapshot_dir, text_col=text_col,
            id_col=id_col, persist=emit is not None,
        )
        try:
            if emit is not None:
                emit(kept, epoch_id)
        finally:
            if emit is not None:
                kept.unpersist()

    return docs.writeStream.foreachBatch(_process)


def streaming_ann_screen(
    incoming: DataFrame,
    index,
    corpus: DataFrame,
    sink_dir: str,
    threshold: float = 0.99,
    k: int = 1,
    n_probe: int = 16,
    rerank_factor: int = 16,
    maintain_every: int = 0,
    recall_threshold: float = 0.8,
):
    """Screen a stream of NEW embedding vectors against a PERSISTED
    ANN index — the online arm of the crawl-ingest near-dup problem:
    "is this incoming document semantically already in the indexed
    corpus?".

    foreachBatch wiring (per-query top-k ranking is not expressible
    as a streaming aggregation): each micro-batch runs the SAME
    IVF+PQ search the batch path runs
    (operators/ann_index.py::cosine_topk_indexed) — zero training
    jobs, zero corpus re-encode; the frozen model routes the batch,
    the cell-bucketed codes table bounds the candidate bytes, the
    exact rerank touches only the shortlist — and appends one verdict
    row per incoming vector to ``sink_dir``:
    (vec_id, best_id, best_cos, is_neardup).

    Returns a ``DataStreamWriter``; the caller sets
    ``checkpointLocation`` and calls ``start()``.  Verdicts land in
    ``sink_dir/epoch=<id>/`` with per-epoch OVERWRITE, so a replayed
    epoch (crash after the write job committed but before the
    checkpoint commit) rewrites its own partition instead of
    appending duplicates — the idempotent-per-epoch contract
    foreachBatch requires of its sink (review r11 finding: a plain
    append would double rows on replay).  Readers of the sink root
    see an extra ``epoch`` partition column; select it away when only
    the verdicts matter.  At 100 TB the per-batch cost is
    O(batch × n_probe × corpus/n_cells) — batch times the probed
    CANDIDATE budget, with no training or corpus re-encode on the
    path; the budget is held flat as the corpus grows by scaling the
    index's n_cells with it (measured: SCALING.md, "streaming state at
    1M keys"; at n_probe=16 of n_cells=32 the probed fraction is
    1/2 and per-query cost tracks the corpus — the knob matters).

    ``maintain_every=N`` (0 = off, the default) runs
    :func:`..operators.ann_index.maintain_ann_index` every N epochs
    with the EPOCH'S OWN batch as the recall probe — drift is measured
    exactly where it arrives (VERDICT r12 item 5): a degraded model
    retrains on a corpus-wide hash sample (so the drifted region
    informs the new centroids) and the screen continues on the
    replaced handle; a healthy-but-fragmented codes table compacts.
    The maintenance job is bounded (probe = n-queries × corpus
    brute pass; rebuild = the one encode pass appends amortize) and
    runs INSIDE the foreachBatch epoch, so the sink's idempotent
    per-epoch overwrite contract still holds on replay."""
    import os

    from ..operators.ann_index import cosine_topk_indexed, maintain_ann_index

    state = {"index": index, "epochs": 0}

    def _process(batch_df: DataFrame, epoch_id: int) -> None:
        # persist the (batch-sized) query frame: _process executes it
        # three times — the emptiness probe, the bucket-prune replay's
        # collect, and the search plan itself — and without the cache
        # each execution re-reads the batch source (observed as
        # numInputRows over-counting in StreamingQueryProgress; for an
        # expensive upstream the re-read is real per-batch cost)
        batch_df = batch_df.persist()
        try:
            if not batch_df.head(1):
                return
            state["epochs"] += 1
            if maintain_every and state["epochs"] % maintain_every == 0:
                out = maintain_ann_index(
                    state["index"], corpus,
                    recall_threshold=recall_threshold,
                    queries=batch_df, k=k, n_probe=n_probe,
                    rerank_factor=rerank_factor,
                )
                state["index"] = out["index"]
            (
                cosine_topk_indexed(
                    state["index"], batch_df, corpus, k=k,
                    n_probe=n_probe, rerank_factor=rerank_factor,
                )
                .select(
                    F.col("q_id").alias("vec_id"),
                    F.col("n_id").alias("best_id"),
                    F.col("cos").alias("best_cos"),
                    (F.col("cos") >= threshold).alias("is_neardup"),
                )
                .write.mode("overwrite")
                .parquet(os.path.join(sink_dir, f"epoch={int(epoch_id)}"))
            )
        finally:
            batch_df.unpersist()

    return incoming.writeStream.foreachBatch(_process)


def compact_fingerprint_snapshot(spark, snapshot_dir: str, fp_col: str = "fp") -> int:
    """Offline snapshot housekeeping: fold every fingerprint epoch
    directory EXCEPT the newest into one ``epoch=<max-1>c<gen>``
    directory so the per-batch anti-join's file count stays bounded
    as epochs accumulate.  Run while the stream is stopped.

    The newest epoch is deliberately left unfolded: if the last batch
    crashed before its sink commit, restart REPLAYS that epoch, and
    the replay's anti-join reads only strictly-earlier epochs — a
    folded dir tagged with the replayed epoch's own id would vanish
    from its view.  Folding only ``< max`` keeps every possible
    replay's visible set byte-identical.

    Crash-safe by superset semantics: originals are deleted ONLY
    after the compacted write commits, and the anti-join is a set
    probe, so any crash leaves a state whose union equals the true
    fingerprint set (possibly with duplicates, which probe
    identically).  Returns the number of directories folded."""
    fps_root = snapshot_dir.rstrip("/") + "/fps"
    dirs = _snapshot_epoch_dirs(spark, fps_root)
    if not dirs:
        return 0
    top_epoch = max(e for e, _g, _p in dirs)
    fold = [(e, g, p) for e, g, p in dirs if e < top_epoch]
    if len(fold) <= 1:
        return 0
    next_gen = 1 + max(g for _e, g, _p in dirs)
    union = (
        spark.read.schema(f"{fp_col} string")
        .parquet(*[p for _e, _g, p in fold])
        .distinct()
    )
    union.write.mode("overwrite").parquet(
        f"{fps_root}/epoch={top_epoch - 1}c{next_gen}"
    )
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    for _e, _g, p in fold:
        hp = jvm.org.apache.hadoop.fs.Path(p)
        hp.getFileSystem(conf).delete(hp, True)
    return len(fold)
