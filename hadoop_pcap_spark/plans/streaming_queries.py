"""Driver-verifiable Structured Streaming queries.

The streaming analogs (streaming/stream.py) were pytest-verified via
batch-equivalence but invisible to the oracle harness — the driver
only hash-checks batch DataFrames.  These registrations close that
gap with the same move that made the incremental-dedup epochs
driver-checkable (pipeline.py q_dedup_incremental_epochs): each query
*runs a real streaming query to completion* (file source →
``Trigger.AvailableNow`` → memory sink) inside the callable, then
returns a deterministic batch aggregate of the sink for hashing.

Determinism contract: with no ``maxFilesPerTrigger`` the file source
takes every staged file in ONE micro-batch, so the watermark is still
at -inf while all rows are processed — nothing can be classified late,
and the streaming result equals the batch result exactly.  (Multi-batch
watermark semantics — late-row drops, state eviction, crash recovery —
are pytest territory: tests/test_streaming.py drives the same builders
with ``maxFilesPerTrigger=1`` over time-ordered files.)

Scale: these queries exist to pin SEMANTICS; rate/throughput behavior
is benched separately (bench.py streaming rows; cost model in
SCALING.md).  The state-partition sizing lesson applies:
a stateful operator pays a fixed cost per state partition per
micro-batch (state-store load and commit, plus a Python worker for
``applyInPandasWithState``), so ``spark.sql.shuffle.partitions`` at
query *start* should track key cardinality — frozen into the
checkpoint thereafter.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import events_table, query, table
from .relational import _dec_sum
from ..streaming.stream import (
    stream_stream_interval_join,
    tumbling_counts,
)

_EV_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, value double"
)


def _stage_events(spark: SparkSession, sf: str) -> str:
    """Stage the events table as TimestampType parquet for the file
    streaming source (the table convention is epoch-µs longs), via
    the shared staging protocol (staging.py: identity-keyed dir,
    ``_SUCCESS`` completion witness, idle-guarded sibling cleanup,
    reader touch)."""
    from ..staging import ensure_staged

    src = os.path.join(sf, "events.parquet")
    return ensure_staged(
        f"squery_events_{os.path.basename(sf)}_",
        src,
        lambda tmp: (
            events_table(spark, sf)
            .withColumn("ts", F.expr("timestamp_micros(ts)"))
            .select("event_id", "ts", "user_id", "event_type", "value")
            .write.mode("overwrite")
            .parquet(tmp)
        ),
    )


def _run_to_memory(joined_or_agg: DataFrame, mode: str, key: str) -> DataFrame:
    """Run a streaming DataFrame to completion (AvailableNow) into a
    memory sink, spill the sink to a tmp parquet, DROP the sink view,
    and return the parquet-backed DataFrame.  The drop matters: memory
    sink rows live on the driver for the session's lifetime, so a
    long-lived session running these queries repeatedly (plan audits,
    scaling probes) would otherwise accumulate orphaned sink tables it
    can never reclaim.  The spill dir is unique PER INVOCATION
    (ADVICE r6: a keyed-overwrite spill raced a concurrent harness
    process, and a same-session re-run raced readers of the previously
    returned DataFrame, whose lineage still reads the old spill) —
    tmp growth is bounded by staging.keyed_tmp_dir's guarded idle
    sweep instead of by overwrite: each spill is one tiny aggregate,
    and anything >1h idle with no lock held is reclaimed."""
    from ..staging import keyed_tmp_dir

    spark = joined_or_agg.sparkSession
    name = "squery_" + uuid.uuid4().hex[:12]
    q = (
        joined_or_agg.writeStream.outputMode(mode)
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    spill = keyed_tmp_dir(
        "squery_sink_",
        f"{key}|{spark.sparkContext.applicationId}|{uuid.uuid4().hex}",
    )
    spark.table(name).write.mode("overwrite").parquet(spill)
    spark.catalog.dropTempView(name)
    return spark.read.parquet(spill)


@query(
    "streaming_join_interval",
    oracle="""
    WITH v AS (
      SELECT user_id, epoch_us(ts) AS v_ts, event_id AS view_id
      FROM events WHERE event_type = 'view'),
    p AS (
      SELECT user_id, epoch_us(ts) AS p_ts, event_id AS purchase_id, value
      FROM events WHERE event_type = 'purchase')
    SELECT v.user_id,
           COUNT(*) AS n_pairs,
           COUNT(DISTINCT purchase_id) AS n_purchases,
           CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)
             AS sum_value
    FROM v JOIN p
      ON p.user_id = v.user_id
     AND p.p_ts >= v.v_ts
     AND p.p_ts <= v.v_ts + 3600000000
    GROUP BY v.user_id
    ORDER BY v.user_id
    """,
)
def q_streaming_join_interval(spark: SparkSession, sf: str) -> DataFrame:
    """Stream-stream watermarked interval join, end-to-end: a stream
    of views joined to a stream of purchases by user within 1 hour
    (streaming/stream.py stream_stream_interval_join), run to
    completion and aggregated per user for hashing.  The oracle is
    the equivalent batch interval join in exact integer µs.
    Scale: one shuffle per side on user_id; join state bounded by
    watermark + gap (2 h + 1 h of stream, not history)."""
    d = _stage_events(spark, sf)

    def src() -> DataFrame:
        return spark.readStream.schema(_EV_SCHEMA).parquet(d)

    views = src().filter(F.col("event_type") == "view").select(
        "user_id",
        F.col("ts").alias("v_ts"),
        F.col("event_id").alias("view_id"),
    )
    purchases = src().filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("p_ts"),
        F.col("event_id").alias("purchase_id"),
        "value",
    )
    joined = stream_stream_interval_join(
        views,
        purchases,
        key="user_id",
        left_ts="v_ts",
        right_ts="p_ts",
        max_gap="1 hour",
        watermark="2 hours",
    )
    sink = _run_to_memory(joined, "append", f"join_interval|{os.path.abspath(sf)}")
    return (
        sink
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_pairs"),
            F.countDistinct("purchase_id").alias("n_purchases"),
            _dec_sum(F.col("value"), "sum_value"),
        )
        .orderBy("user_id")
    )


@query(
    "streaming_window_counts",
    oracle="""
    SELECT (epoch_us(ts) // 21600000000) * 21600000000 AS win_start_us,
           event_type,
           COUNT(*) AS n
    FROM events
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def q_streaming_window_counts(spark: SparkSession, sf: str) -> DataFrame:
    """Watermarked tumbling-window counts (streaming/stream.py
    tumbling_counts) run as a real streaming query, complete mode —
    the sink's final table is the full aggregate, which must equal
    the batch 6-hour bucketing the oracle computes in integer µs
    (Spark's tumbling windows are epoch-aligned, i.e. floor
    division).  Scale: state is one row per (window, key); the
    watermark bounds it in a live run."""
    d = _stage_events(spark, sf)
    stream = spark.readStream.schema(_EV_SCHEMA).parquet(d)
    out = tumbling_counts(
        stream,
        ts_col="ts",
        key_col="event_type",
        window="6 hours",
        watermark="30 minutes",
    )
    sink = _run_to_memory(out, "complete", f"window_counts|{os.path.abspath(sf)}")
    return (
        sink
        .select(
            F.unix_micros(F.col("win_start")).alias("win_start_us"),
            "event_type",
            "n",
        )
        .orderBy("win_start_us", "event_type")
    )


@query(
    "streaming_session_windows",
    oracle="""
    WITH flagged AS (
      SELECT user_id, event_id, epoch_us(ts) AS ts_us,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                       OVER (PARTITION BY user_id ORDER BY ts, event_id) >= 1800000000
                  OR lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_sess
      FROM events),
    sessions AS (
      -- the running sum MUST use the same (ts, event_id) total order
      -- as the lag above: with ts_us alone, two events of one user in
      -- the same microsecond tie and the 0-flag row can sort before
      -- its 1-flag twin, shifting it into the previous session
      SELECT user_id, ts_us,
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sess_id
      FROM flagged)
    SELECT user_id, MIN(ts_us) AS sess_start_us,
           COUNT(*) AS n_events
    FROM sessions GROUP BY user_id, sess_id
    ORDER BY user_id, sess_start_us
    """,
)
def q_streaming_session_windows(spark: SparkSession, sf: str) -> DataFrame:
    """Gap-based session windows (streaming/stream.py session_windows)
    as a real streaming query, complete mode.  The oracle is the
    gaps-and-islands formulation (same shape as sessionize_batch's):
    Spark's session window is half-open ``[first, last + gap)``, so a
    gap of EXACTLY 30 min starts a new session — hence ``>=`` in the
    island rule (µs-resolution event times make boundary collisions a
    measure-zero concern either way, but the inequalities agree by
    construction).  Scale: streaming session merge is one shuffle on
    the key; state is one row per open session."""
    from ..streaming.stream import session_windows

    d = _stage_events(spark, sf)
    stream = spark.readStream.schema(_EV_SCHEMA).parquet(d)
    out = session_windows(
        stream, ts_col="ts", key_col="user_id", gap="30 minutes",
        watermark="1 hour",
    )
    sink = _run_to_memory(out, "complete", f"session_windows|{os.path.abspath(sf)}")
    return (
        sink
        .select(
            "user_id",
            F.unix_micros(F.col("sess_start")).alias("sess_start_us"),
            F.col("n_events"),
        )
        .orderBy("user_id", "sess_start_us")
    )


@query(
    "streaming_enrich_static",
    oracle="""
    SELECT n.n_name,
           COUNT(*) AS n_events,
           COUNT(DISTINCT e.user_id) AS n_users
    FROM events e
    JOIN customer c ON c.c_custkey = e.user_id
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    GROUP BY n.n_name
    ORDER BY n.n_name
    """,
)
def q_streaming_enrich_static(spark: SparkSession, sf: str) -> DataFrame:
    """Stream-static enrichment join: the event stream joined to the
    static customer→nation dimension (the GeoIP/asset-inventory
    enrichment motif for a live packet feed).  Stream-static joins
    are STATELESS — each micro-batch probes the current dim, so no
    watermark is involved and any batching gives the batch result;
    the dim re-resolves per batch (slowly-changing dims pick up
    updates for free).  Scale: the dim broadcasts (dimension-sized);
    the stream side is map-only — no shuffle before the aggregate."""
    d = _stage_events(spark, sf)
    stream = spark.readStream.schema(_EV_SCHEMA).parquet(d)
    dim = (
        table(spark, sf, "customer")
        .select(F.col("c_custkey").alias("user_id"), "c_nationkey")
        .join(
            table(spark, sf, "nation").select("n_nationkey", "n_name"),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("user_id", "n_name")
    )
    enriched = stream.join(F.broadcast(dim), "user_id")
    # chain a streaming aggregation on top of the enrichment join,
    # keyed (nation, user): complete mode needs no watermark, state
    # and sink are one row per active user (45k at the sf3 audit, not
    # the 3M raw enriched rows), and the batch-side finish turns it
    # into per-nation totals — COUNT(DISTINCT) is unsupported in
    # streaming, so distinct-users falls out of the grouping instead
    per_user = enriched.groupBy("n_name", "user_id").agg(
        F.count("*").alias("n")
    )
    sink = _run_to_memory(per_user, "complete", f"enrich_static|{os.path.abspath(sf)}")
    return (
        sink
        .groupBy("n_name")
        .agg(
            F.sum("n").alias("n_events"),
            F.count("*").alias("n_users"),
        )
        .orderBy("n_name")
    )


# --- streaming ANN near-dup screen (r11) ---------------------------------------


from . import ann_oracles as _ANN_ORACLES  # noqa: E402


@query("streaming_ann_neardup", oracle=_ANN_ORACLES.streaming_neardup_oracle)
def q_streaming_ann_neardup(spark: SparkSession, sf: str) -> DataFrame:
    """STREAMING near-dup screen against the PERSISTED ANN index — the
    online arm of crawl ingest: each incoming vector is IVF+PQ-routed
    through the frozen model, ADC-shortlisted against the
    cell-bucketed codes table, exactly reranked, and flagged
    is_neardup by threshold on the true cosine
    (streaming/stream.py::streaming_ann_screen, foreachBatch).  The
    incoming batch plants ground truth: ±2% twins of 16 corpus
    vectors (near-dups) and 16 negated vectors (novel), generated
    ONCE in pure Python and staged as float64 parquet that BOTH
    engines read (ann_oracles.incoming_vectors_path — no per-engine
    sin() recomputation).  Oracle retrains the identical model and
    replays the full search for the same staged queries in DuckDB
    (ann_oracles.py).  Scale: per-batch
    cost is O(batch × probed cells) — independent of corpus size,
    which is exactly why the index is persisted; state lives in the
    index table, not the stream."""
    import tempfile

    from . import ann_oracles as ANN
    from .pipeline import _ann_index_table
    from ..operators.ann_index import read_ann_index
    from ..staging import keyed_tmp_dir
    from ..streaming.stream import streaming_ann_screen

    d = ANN.incoming_vectors_path(sf)
    idx = read_ann_index(spark, _ann_index_table(spark, sf))
    stream = spark.readStream.schema(
        "vec_id long, embedding array<double>"
    ).parquet(d)
    sink = keyed_tmp_dir(
        "squery_annscreen_",
        f"{os.path.abspath(sf)}|{spark.sparkContext.applicationId}"
        f"|{uuid.uuid4().hex}",
    )
    ckpt = tempfile.mkdtemp(prefix="squery_annscreen_ckpt_")
    try:
        q = (
            streaming_ann_screen(
                stream,
                idx,
                table(spark, sf, "embeddings"),
                sink,
                threshold=ANN.NEARDUP_THRESHOLD,
                k=ANN.NEARDUP_K,
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        # one-shot AvailableNow run: the checkpoint has no restart
        # value once the sink parquet is written, and the driver
        # re-runs this query every correctness window — without the
        # cleanup /tmp accumulates a checkpoint tree per invocation
        import shutil

        shutil.rmtree(ckpt, ignore_errors=True)
    # the sink is epoch-partitioned for replay idempotency; the
    # verdict columns are the compared result
    return spark.read.parquet(sink).select(
        "vec_id", "best_id", "best_cos", "is_neardup"
    )
