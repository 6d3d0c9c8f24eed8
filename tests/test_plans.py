"""Physical-plan audits: the scale claims in SCALE.md / BASELINE.md as
mechanical assertions, so a plan regression (lost pushdown, a surprise
shuffle, a broadcast that became a sort-merge) fails CI instead of
only showing up at 100 TB.

These assert plan *shape*, not timings — stable across hosts.

``SPARK_GRAFT_PLAN_SF`` points the whole suite at a different dataset
(e.g. the tools/make_scaled_sf.py output) to prove the invariants
hold where AQE re-plans joins: every assertion here is written to be
size-robust (degenerate operators stay banned at any SF; exact
broadcast-vs-SMJ choices are asserted only where one side is a true
fixed-size dimension)."""

import os

import pytest

from pyspark.sql import functions as F

from hadoop_pcap_spark.plans import QUERIES, load_all

SF = os.environ.get("SPARK_GRAFT_PLAN_SF", "/root/testdata/sf0.01")

load_all()


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_of(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_tpch_q6_pushes_filters_and_prunes_columns(spark):
    plan = plan_of(QUERIES["tpch_q6_forecast_revenue"](spark, SF))
    assert "PushedFilters: [" in plan and "IsNotNull" in plan
    # projection pruned to the columns the query touches
    read = plan[plan.index("ReadSchema") :].splitlines()[0]
    assert "l_comment" not in read and "l_orderkey" not in read


def test_tpch_q5_broadcasts_dims_no_cartesian(spark):
    """Dims ride broadcast joins and nothing degenerates to a
    cartesian.  (Whether orders⋈lineitem is SMJ or broadcast is
    size-dependent — at sf0.01 everything fits the broadcast
    threshold, at scale AQE picks SMJ; both are correct plans.)"""
    plan = plan_of(QUERIES["tpch_q5_local_supplier_volume"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_topn_per_group_uses_window_group_limit(spark):
    plan = plan_of(QUERIES["window_topn_per_group"](spark, SF))
    assert "WindowGroupLimit" in plan


def test_topk_global_takes_ordered(spark):
    plan = plan_of(QUERIES["topk_global"](spark, SF))
    assert "TakeOrderedAndProject" in plan


def test_semi_anti_join_shapes(spark):
    assert "LeftSemi" in plan_of(QUERIES["join_semi"](spark, SF))
    assert "LeftAnti" in plan_of(QUERIES["join_anti"](spark, SF))


def test_range_join_is_not_a_nested_loop(spark):
    plan = plan_of(QUERIES["join_range_interval"](spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan


def test_flow_stats_single_exchange(spark):
    """flow_stats = scan → partial agg → ONE exchange → final agg."""
    from hadoop_pcap_spark.operators.flows import flow_stats
    from hadoop_pcap_spark.plans.pcap_queries import fixture_dir
    from hadoop_pcap_spark.sources import read_pcap

    plan = plan_of(flow_stats(read_pcap(spark, fixture_dir())))
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges == 1, plan
    assert "partial_count" in plan or "partial" in plan.lower()


def test_reassembly_single_exchange_and_early_projection(spark):
    """reassemble_dns_tcp shuffles once, and only the narrow segment
    projection (key + ordinal + payload) crosses the exchange."""
    from hadoop_pcap_spark.operators.flows import reassemble_dns_tcp
    from hadoop_pcap_spark.plans.pcap_queries import tcp_fixture_dir
    from hadoop_pcap_spark.sources import read_pcap

    pkts = read_pcap(
        spark, tcp_fixture_dir(),
        columns=["file", "src", "dst", "src_port", "dst_port",
                 "protocol", "pkt_no", "payload"],
        strict_reference=False,
    )
    plan = plan_of(reassemble_dns_tcp(pkts))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    # r13: group-to-flow is a JVM-side collect_list (ObjectHashAggregate),
    # the Python stage is the BATCHED MapInPandas — not per-group
    # FlatMapGroupsInPandas (see flows.connection_segments)
    assert "MapInPandas" in plan
    assert "FlatMapGroupsInPandas" not in plan
    assert "collect_list" in plan


def test_agg_is_partial_then_final(spark):
    plan = plan_of(QUERIES["agg_count_by_key"](spark, SF))
    assert "partial_" in plan  # map-side combine before the exchange


def test_broadcast_dim_join_does_not_shuffle_fact(spark):
    plan = plan_of(QUERIES["join_broadcast_dim"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_corpus_keep_set_no_cartesian_no_extra_scans(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    from hadoop_pcap_spark.operators.dedup import corpus_keep_set

    plan = plan_of(corpus_keep_set(docs, 0.5))
    assert "CartesianProduct" not in plan
    assert plan.count("Scan parquet") <= 2  # window rewrite keeps it at 2


def test_minhash_signature_subtree_evaluated_once(spark):
    """The md5-halves pass must EVALUATE exactly once.  The previous
    union-of-two-filters hot/cold split duplicated the entire minhash
    subtree (no common-subplan elimination across a Union — 2x CPU);
    the r5 rework moved the halves pass INSIDE the persisted relation
    (signatures + int64 verify arrays come from one projection), so
    the invariant is now structural: the conv(md5) fingerprint (2 per
    evaluation: ha + hb) appears ONLY inside the cached relation's
    subtree — which the plan text re-prints once per InMemoryTableScan
    — and the persisted relation has exactly its three consumers
    (bands + both verify sides).  Dropping the persist (scans -> 0,
    conv sites become real evaluations) or adding an evaluation
    outside the cache breaks the equality."""
    plan = plan_of(QUERIES["dedup_minhash_lsh"](spark, SF))
    scans = plan.count("InMemoryTableScan")
    assert scans == 3
    assert plan.count("conv(substring(md5(") == 2 * scans


def test_jaccard_verify_never_broadcasts_array_side(spark):
    """Both verify joins must be sort-merge: the shingle-array
    relation is corpus-sized by construction, and the static planner
    has been observed choosing it as a broadcast build side when
    upstream filters shrink its size estimate (OOM at sf1 on a 1 GiB
    driver; unrunnable at 100 TB).  The arrays side is already
    hash-partitioned on doc_id, so SMJ sorts it in place — asserting
    zero BroadcastExchange below the verify joins pins the safe
    shape at every SF."""
    plan = plan_of(QUERIES["dedup_minhash_lsh"](spark, SF))
    assert plan.count("SortMergeJoin") == 2
    assert "BroadcastHashJoin" not in plan


def test_q4_exists_decorrelates_to_semi_join(spark):
    """The correlated EXISTS must plan as a LeftSemi hash join with
    the date comparison as a residual — not a nested-loop or a
    per-row subquery."""
    plan = plan_of(QUERIES["tpch_q4_order_priority"](spark, SF))
    assert "LeftSemi" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q22_anti_join_and_broadcast_threshold(spark):
    """NOT EXISTS → LeftAnti; the 1-row scalar-subquery threshold
    rides a broadcast, never a shuffle of customer against it."""
    plan = plan_of(QUERIES["tpch_q22_idle_customers"](spark, SF))
    assert "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_q19_disjunction_keeps_hash_join(spark):
    """The brand/size/quantity disjunction must stay a residual on a
    hash join (part broadcasts); if it leaked into the join keys the
    plan would degrade to a nested loop."""
    plan = plan_of(QUERIES["tpch_q19_disjunctive"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q17_threshold_join_broadcasts(spark):
    """The decorrelated per-part threshold table (one brand's parts)
    broadcasts back onto the fact — no shuffle of lineitem on
    l_partkey beyond the aggregation's own exchange."""
    plan = plan_of(QUERIES["tpch_q17_small_qty_revenue"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_q2_correlated_min_is_window_not_subquery(spark):
    """The per-part correlated MIN decorrelates to a window over the
    (part, supplier) aggregate — one narrow exchange, no self-join of
    the cost table and no nested loop."""
    plan = plan_of(QUERIES["tpch_q2_min_cost_supplier"](spark, SF))
    assert "Window" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "TakeOrderedAndProject" in plan


def test_q8_single_fact_exchange(spark):
    """Q8's eight-table join: at the tuning SF every dimension chain
    rides the broadcast side and orders⋈lineitem is the only big-big
    join.  Above it, the planner may legitimately flip any SF-scaling
    side (part / supplier / customer) to sort-merge as it outgrows the
    broadcast threshold — nation/region joins must stay broadcast at
    ANY size, so the SMJ ceiling is the four scaling joins, and the
    degenerate shapes stay banned unconditionally."""
    plan = plan_of(QUERIES["tpch_q8_market_share"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    smj_cap = 1 if SF.endswith("sf0.01") else 4
    assert plan.count("SortMergeJoin") <= smj_cap


def test_q15_max_revenue_rides_a_broadcast(spark):
    """The MAX(total_revenue) scalar joins back by broadcast onto the
    per-supplier aggregate — never a shuffle against a 1-row table."""
    plan = plan_of(QUERIES["tpch_q15_top_supplier"](spark, SF))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_q21_double_exists_is_one_aggregate(spark):
    """The EXISTS/NOT-EXISTS pair decorrelates to a single per-order
    aggregate joined back — the lineitem fact is scanned for the agg
    and for the late lines, not once per subquery."""
    plan = plan_of(QUERIES["tpch_q21_suppliers_kept_waiting"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("Scan parquet") <= 6  # 2×lineitem + 2×orders + 2 dims


def test_gopher_filter_is_map_plus_tiny_agg(spark):
    """Rule filtering must stay a scan + map + one agg exchange —
    no joins, no windows, no Python."""
    plan = plan_of(QUERIES["docs_gopher_quality_filter"](spark, SF))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Join" not in plan and "Window" not in plan


def test_repetition_two_exchanges(spark):
    """Bigram counts shuffle on (doc, bigram); the per-doc max/sum
    re-partitions by doc; the per-source rollup rides the second
    exchange's partial aggregation.  No joins anywhere."""
    plan = plan_of(QUERIES["text_repetition_topgram"](spark, SF))
    assert plan.count("Exchange hashpartitioning") <= 3, plan
    assert "Join" not in plan


def test_pack_sequences_single_window_exchange(spark):
    """Packing = ONE window (partition on source) + its agg."""
    plan = plan_of(QUERIES["docs_pack_sequences"](spark, SF))
    assert "Window" in plan
    assert plan.count("Exchange hashpartitioning") <= 2, plan


def test_funnel_steps_broadcast_predecessors(spark):
    """Funnel steps must broadcast the shrinking user sets — the
    events fact is never shuffled against a step table."""
    plan = plan_of(QUERIES["events_funnel_conversion"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_unpivot_is_expand_not_union_of_scans(spark):
    """The wide→long reshape must be a single-scan Expand, not the
    oracle's UNION of three scans."""
    plan = plan_of(QUERIES["unpivot_long"](spark, SF))
    assert "Expand" in plan
    assert plan.count("Scan parquet") == 1, plan


def test_incremental_dedup_probe_is_single_pass(spark):
    """One corpus scan per side, fingerprint probe joined once; the
    existing side is distinct fingerprints only."""
    plan = plan_of(QUERIES["dedup_incremental"](spark, SF))
    assert plan.count("Scan parquet") <= 2, plan
    assert "CartesianProduct" not in plan


def test_no_python_row_udfs_anywhere(spark):
    """Every registered query stays Arrow-batched or JVM-side: no
    row-at-a-time BatchEvalPython in any plan (sampled over the full
    registry at the smallest SF)."""
    offenders = []
    for name, fn in QUERIES.items():
        try:
            plan = plan_of(fn(spark, "/root/testdata/sf0.001"))
        except Exception:
            continue  # pcap fixtures etc. handled in their own tests
        if "BatchEvalPython" in plan:
            offenders.append(name)
    assert not offenders, offenders


def test_no_expensive_expressions_in_scan_filters(spark):
    """No registered query may carry a tokenizer / shingle / HOF
    construction inside a parquet scan's pushed data filters.

    Catalyst's InferFiltersFromGenerate + predicate pushdown
    substitutes a computed array's FULL defining expression into the
    inferred size(arr)>0 filter, re-evaluating the construction per
    row (partly outside codegen) — measured 29-150× slowdowns on the
    shingle pipelines before round 5's explode_outer rework
    (functions.explode_computed).  The detected signature is exactly
    the inferred filter over a NON-attribute array: ``size(<computed
    expr>) > 0``.  A user predicate like ``size(tokens(text)) >= 5``
    (corpus rules) is intentional single-evaluation work and compares
    against other constants, so it doesn't match."""
    # the computed-array heads the inferred size()-filter wraps; a
    # user predicate over these compares against other constants
    # (e.g. >= 5), never the inferred "> 0"
    heads = (
        "size(array_distinct(",
        "size(transform(",
        "size(slice(",
        "size(flatten(",
        "size(CASE WHEN",
    )
    offenders = []
    for name, fn in QUERIES.items():
        try:
            plan = plan_of(fn(spark, "/root/testdata/sf0.001"))
        except Exception:
            continue  # pcap fixtures etc. handled in their own tests
        for line in plan.splitlines():
            if "Filter" not in line and "DataFilters" not in line:
                continue
            if "> 0" in line and any(h in line for h in heads):
                offenders.append((name, line.strip()[:160]))
                break
    assert not offenders, offenders


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """The 100 TB join strategy, CI-asserted: two tables bucketed on
    the join key with equal bucket counts join as SortMergeJoin with
    ZERO Exchange; the unbucketed twin of the same join shuffles."""
    from hadoop_pcap_spark.operators.bucketing import bucketed_join, write_bucketed

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        docs = spark.read.parquet(f"{SF}/documents.parquet")
        stats = docs.selectExpr("doc_id", "n_chars * 2 AS twice")
        write_bucketed(docs, "b_docs", "doc_id", n_buckets=8)
        write_bucketed(stats, "b_stats", "doc_id", n_buckets=8)
        joined = bucketed_join(spark, "b_docs", "b_stats", "doc_id")
        plan = plan_of(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan
        assert joined.count() == docs.count()
        # unbucketed twin: same join, two exchanges
        plain = docs.join(stats, "doc_id")
        assert "Exchange" in plan_of(plain)
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS b_docs")
        spark.sql("DROP TABLE IF EXISTS b_stats")


def _drop_table_and_location(spark, table):
    """Drop a test table AND its managed location: the in-memory
    catalog is session-local while locations persist on disk, so an
    interrupted earlier run leaves an orphan dir that fails the next
    saveAsTable with LOCATION_ALREADY_EXISTS."""
    import shutil
    from urllib.parse import urlparse

    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    for t in (table, table + "__model"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(os.path.join(wh, t), ignore_errors=True)


def test_ann_index_query_path_no_training_no_corpus_shuffle(spark):
    """The persisted-ANN-index query path (VERDICT r9 item 5),
    CI-asserted three ways:

    1. ZERO training jobs — read_ann_index + cosine_topk_indexed must
       never call the trainers (poison-pinned here);
    2. ZERO shuffles over the index scan — the ADC-scored stage's plan
       contains no Exchange at all (scan → filter → broadcast probe
       join → project);
    3. bucket pruning — the pruned scan reads only buckets hosting
       probed cells (SelectedBucketsCount strictly below total)."""
    import hadoop_pcap_spark.operators.similarity as SIM
    from hadoop_pcap_spark.operators.ann_index import (
        _indexed_approx,
        cosine_topk_indexed,
        read_ann_index,
        write_ann_index,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    _drop_table_and_location(spark, "ann_plan_probe")
    try:
        write_ann_index(emb, "ann_plan_probe", n_cells=8, sample_size=256)

        def _poison(*a, **k):  # noqa: ANN002
            raise AssertionError("query path must not train")

        # patch BOTH modules: ann_index bound the trainers by
        # from-import at load, so pinning only similarity's globals
        # would leave ann_index's references live (dead-pin review
        # finding, r10)
        from hadoop_pcap_spark.operators import ann_index as AIX

        orig_km, orig_pq = SIM._kmeans_centroids, SIM._pq_codebooks
        SIM._kmeans_centroids, SIM._pq_codebooks = _poison, _poison
        AIX._kmeans_centroids, AIX._pq_codebooks = _poison, _poison
        try:
            idx = read_ann_index(spark, "ann_plan_probe")
            queries = emb.filter(F.col("vec_id") < 4)
            approx = _indexed_approx(idx, queries, n_probe=2, prune_cells=True)
            plan = plan_of(approx)
            # the only Exchange allowed is the BroadcastExchange of the
            # tiny probe side; a shuffle (hash/range) over the index
            # scan is the scale-killer this test exists to ban
            assert "Exchange hashpartitioning" not in plan, plan
            assert "Exchange rangepartitioning" not in plan, plan
            assert "BroadcastHashJoin" in plan, plan
            # default planner: DisableUnnecessaryBucketedScan trades
            # the bucketed scan for parallelism (nothing downstream
            # exploits the partitioning), but the probe-cell filter
            # still pushes into the parquet scan, where the per-bucket
            # cell SORT makes it row-group-level pruning
            assert "PushedFilters: [In(cell" in plan, plan
            # with auto-bucketed-scan pinned on, the same query prunes
            # whole BUCKETS (the at-scale skip-the-files lever)
            spark.conf.set(
                "spark.sql.sources.bucketing.autoBucketedScan.enabled",
                "false",
            )
            try:
                plan_b = plan_of(
                    _indexed_approx(idx, queries, n_probe=2, prune_cells=True)
                )
            finally:
                spark.conf.unset(
                    "spark.sql.sources.bucketing.autoBucketedScan.enabled"
                )
            assert "SelectedBucketsCount: " in plan_b, plan_b
            sel = plan_b.split("SelectedBucketsCount: ")[1].splitlines()[0]
            n_sel, n_tot = sel.rstrip(")").split(" out of ")
            assert int(n_sel) < int(n_tot), sel
            # and the full query still runs + returns ranked rows
            out = cosine_topk_indexed(
                idx, queries, emb, k=3, n_probe=2
            ).collect()
            assert out and all(1 <= r.rank <= 3 for r in out)
        finally:
            SIM._kmeans_centroids, SIM._pq_codebooks = orig_km, orig_pq
            AIX._kmeans_centroids, AIX._pq_codebooks = orig_km, orig_pq
    finally:
        spark.sql("DROP TABLE IF EXISTS ann_plan_probe")
        spark.sql("DROP TABLE IF EXISTS ann_plan_probe__model")


def test_ann_index_matches_inline_bit_for_bit(spark):
    """cosine_topk_indexed over the persisted index == the in-line
    cosine_topk_ivfpq at the same params, row for row — the storage
    round-trip (norm doubles, cell ints, code arrays) loses nothing."""
    from hadoop_pcap_spark.operators.ann_index import (
        cosine_topk_indexed,
        read_ann_index,
        write_ann_index,
    )
    from hadoop_pcap_spark.operators.similarity import cosine_topk_ivfpq

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 8)
    _drop_table_and_location(spark, "ann_parity_probe")
    try:
        write_ann_index(emb, "ann_parity_probe")
        idx = read_ann_index(spark, "ann_parity_probe")
        got = sorted(
            cosine_topk_indexed(idx, queries, emb, k=5).collect(),
            key=lambda r: (r.q_id, r.rank),
        )
        want = sorted(
            cosine_topk_ivfpq(emb, queries, k=5).collect(),
            key=lambda r: (r.q_id, r.rank),
        )
        assert [tuple(r) for r in got] == [tuple(r) for r in want]
    finally:
        spark.sql("DROP TABLE IF EXISTS ann_parity_probe")
        spark.sql("DROP TABLE IF EXISTS ann_parity_probe__model")


def test_ann_index_append_matches_one_shot(spark):
    """Incremental maintenance: initial write over a prefix + appends
    of the rest == the one-shot index over everything, bit-for-bit —
    PROVIDED the training sample is the same (both train on ORDER BY
    id LIMIT sample of their initial corpus, so the prefix must cover
    the sample — it does here).  Query results over both must agree,
    and the appended table keeps its bucket spec."""
    from hadoop_pcap_spark.operators.ann_index import (
        append_ann_index,
        cosine_topk_indexed,
        read_ann_index,
        write_ann_index,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    n = emb.count()
    cut = max(256, int(n * 0.7))
    queries = emb.filter(F.col("vec_id") < 8)
    _drop_table_and_location(spark, "ann_inc_probe")
    _drop_table_and_location(spark, "ann_one_probe")
    try:
        write_ann_index(
            emb.filter(F.col("vec_id") < cut), "ann_inc_probe",
            n_cells=8, sample_size=256,
        )
        idx = read_ann_index(spark, "ann_inc_probe")
        # two appends, exercising repeated append mode
        mid = cut + (n - cut) // 2
        append_ann_index(
            idx, emb.filter((F.col("vec_id") >= cut) & (F.col("vec_id") < mid))
        )
        append_ann_index(idx, emb.filter(F.col("vec_id") >= mid))
        write_ann_index(emb, "ann_one_probe", n_cells=8, sample_size=256)
        one = read_ann_index(spark, "ann_one_probe")
        key = lambda r: (r.q_id, r.rank)  # noqa: E731
        got = sorted(
            cosine_topk_indexed(idx, queries, emb, k=5, n_probe=4).collect(),
            key=key,
        )
        want = sorted(
            cosine_topk_indexed(one, queries, emb, k=5, n_probe=4).collect(),
            key=key,
        )
        assert [tuple(r) for r in got] == [tuple(r) for r in want]
        # same stored rows either way (codes, cells, norms)
        a = spark.table("ann_inc_probe")
        b = spark.table("ann_one_probe")
        assert a.count() == b.count() == n
        assert a.exceptAll(b).count() == 0
    finally:
        _drop_table_and_location(spark, "ann_inc_probe")
        _drop_table_and_location(spark, "ann_one_probe")


def test_ann_index_compaction_preserves_buckets_and_results(spark):
    """VERDICT r11 item 7a: repeated appends fragment the bucketed
    codes table (one file per task × bucket per batch); compaction
    must (1) cut the file count back to ~one per bucket, (2) keep the
    bucket spec so pruning + the Exchange-free probe join survive,
    (3) return bit-identical query results."""
    from hadoop_pcap_spark.operators.ann_index import (
        _indexed_approx,
        append_ann_index,
        compact_ann_index,
        cosine_topk_indexed,
        read_ann_index,
        write_ann_index,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    n = emb.count()
    cut = max(256, int(n * 0.4))
    queries = emb.filter(F.col("vec_id") < 6)
    _drop_table_and_location(spark, "ann_compact_probe")
    spark.sql("DROP TABLE IF EXISTS ann_compact_probe__compacting")
    try:
        write_ann_index(
            emb.filter(F.col("vec_id") < cut), "ann_compact_probe",
            n_cells=8, sample_size=256,
        )
        idx = read_ann_index(spark, "ann_compact_probe")
        step = max(1, (n - cut) // 4)
        for lo in range(cut, n, step):  # four fragmenting append batches
            append_ann_index(
                idx,
                emb.filter(
                    (F.col("vec_id") >= lo) & (F.col("vec_id") < lo + step)
                ),
            )
        key = lambda r: (r.q_id, r.rank)  # noqa: E731
        before = sorted(
            cosine_topk_indexed(idx, queries, emb, k=5, n_probe=4).collect(),
            key=key,
        )
        stats = compact_ann_index(idx)
        assert stats["files_out"] < stats["files_in"], stats
        assert stats["files_out"] <= idx.n_buckets, stats
        assert spark.table("ann_compact_probe").count() == stats["rows"] == n
        idx2 = read_ann_index(spark, "ann_compact_probe")
        after = sorted(
            cosine_topk_indexed(idx2, queries, emb, k=5, n_probe=4).collect(),
            key=key,
        )
        assert [tuple(r) for r in before] == [tuple(r) for r in after]
        # bucket spec survived the swap: pruned bucketed scan still
        # reports SelectedBucketsCount under the pinned planner flag
        spark.conf.set(
            "spark.sql.sources.bucketing.autoBucketedScan.enabled", "false"
        )
        try:
            plan = plan_of(
                _indexed_approx(idx2, queries, n_probe=2, prune_cells=True)
            )
        finally:
            spark.conf.unset(
                "spark.sql.sources.bucketing.autoBucketedScan.enabled"
            )
        assert "SelectedBucketsCount: " in plan, plan
        assert "Exchange hashpartitioning" not in plan, plan
    finally:
        _drop_table_and_location(spark, "ann_compact_probe")
        spark.sql("DROP TABLE IF EXISTS ann_compact_probe__compacting")


def test_ann_index_maintenance_restores_recall(spark):
    """VERDICT r12 item 5: the recall probe detected drift but nothing
    acted on it.  Contract: an OOD append degrades probed recall below
    threshold → maintain_ann_index retrains (hash-ordered sample, so
    the drifted region informs the new model) → recall restores, and
    in-distribution search stays correct (indexed top-1 == brute-force
    top-1 on an in-dist query sliver)."""
    from hadoop_pcap_spark.operators.ann_index import (
        ann_recall_probe,
        append_ann_index,
        maintain_ann_index,
        read_ann_index,
        write_ann_index,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    _drop_table_and_location(spark, "ann_maint_probe")
    try:
        write_ann_index(emb, "ann_maint_probe", n_cells=8, sample_size=256)
        idx = read_ann_index(spark, "ann_maint_probe")
        assert idx.sample_by == "id" and idx.sample_size == 256
        # OOD drift: negated + per-dim skewed twins under fresh ids —
        # far from every training-era centroid/codebook
        ood = emb.filter(F.col("vec_id") < 256).select(
            (F.col("vec_id") + 10_000_000).alias("vec_id"),
            F.expr(
                "transform(embedding, (x, i) -> -x * (1.0 + 0.1 * i))"
            ).alias("embedding"),
        )
        append_ann_index(idx, ood)
        corpus = emb.unionByName(ood)
        oodq = ood.filter(F.col("vec_id") < 10_000_064)
        pre = ann_recall_probe(idx, corpus, queries=oodq, n_probe=4, k=5)
        assert pre["recall"] < 0.8, pre  # drift IS visible where it landed
        out = maintain_ann_index(
            idx, corpus, recall_threshold=0.8, queries=oodq, n_probe=4, k=5
        )
        assert out["actions"] == ["retrained"], out
        idx2 = out["index"]
        assert idx2.sample_by == "hash"  # retrain saw the mixed corpus
        post = ann_recall_probe(idx2, corpus, queries=oodq, n_probe=4, k=5)
        assert post["recall"] > pre["recall"] and post["recall"] >= 0.8, (
            pre, post,
        )
        # in-dist correctness after the swap: recall@5 on the default
        # (training-era) query sliver stays high — the retrain must not
        # trade the old region for the new one.  (Exact top-1 equality
        # is NOT the contract: the skewed-negated OOD vectors are
        # legitimate near-ties for some in-dist queries, so ADC-order
        # noise between two ~equal candidates is expected ANN behavior.)
        ind = ann_recall_probe(idx2, corpus, n_probe=4, k=5)
        assert ind["recall"] >= 0.8, ind
        # healthy index + fragmented files → compaction branch
        out2 = maintain_ann_index(
            idx2, corpus, recall_threshold=0.5, queries=oodq,
            n_probe=4, k=5, max_files_per_bucket=0.05,
        )
        assert out2["actions"] == ["compacted"], out2
    finally:
        _drop_table_and_location(spark, "ann_maint_probe")
        spark.sql("DROP TABLE IF EXISTS ann_maint_probe__compacting")


def test_ann_index_half_swap_recovery(spark):
    """ADVICE r12: a crash between compaction's DROP TABLE and
    RENAME leaves the live name missing and the full data under
    ``<table>__compacting``.  read_ann_index must detect and finish
    the rename (and a follow-up compaction must also enter cleanly),
    with query results identical to pre-crash."""
    from hadoop_pcap_spark.operators.ann_index import (
        cosine_topk_indexed,
        read_ann_index,
        write_ann_index,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 4)
    _drop_table_and_location(spark, "ann_halfswap_probe")
    spark.sql("DROP TABLE IF EXISTS ann_halfswap_probe__compacting")
    try:
        write_ann_index(emb, "ann_halfswap_probe", n_cells=8, sample_size=256)
        idx = read_ann_index(spark, "ann_halfswap_probe")
        key = lambda r: (r.q_id, r.rank)  # noqa: E731
        before = sorted(
            cosine_topk_indexed(idx, queries, emb, k=3, n_probe=4).collect(),
            key=key,
        )
        # simulate the crash window: live table renamed away exactly as
        # if compaction died after DROP + staging write, before RENAME
        spark.sql(
            "ALTER TABLE ann_halfswap_probe RENAME TO"
            " ann_halfswap_probe__compacting"
        )
        assert not spark.catalog.tableExists("ann_halfswap_probe")
        idx2 = read_ann_index(spark, "ann_halfswap_probe")  # repairs
        assert spark.catalog.tableExists("ann_halfswap_probe")
        assert not spark.catalog.tableExists("ann_halfswap_probe__compacting")
        after = sorted(
            cosine_topk_indexed(idx2, queries, emb, k=3, n_probe=4).collect(),
            key=key,
        )
        assert [tuple(r) for r in before] == [tuple(r) for r in after]
    finally:
        _drop_table_and_location(spark, "ann_halfswap_probe")
        spark.sql("DROP TABLE IF EXISTS ann_halfswap_probe__compacting")


def test_ann_recall_probe_flags_distribution_drift(spark):
    """VERDICT r11 item 7b: the frozen-model recall probe must read
    high on training-era data and visibly degrade when probed WHERE
    drifted (here: appended vectors from a disjoint orthant the
    training sample never saw), giving the rebuild trigger a
    measurable signal."""
    from hadoop_pcap_spark.operators.ann_index import (
        ann_recall_probe,
        append_ann_index,
        read_ann_index,
        write_ann_index,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    _drop_table_and_location(spark, "ann_drift_probe")
    try:
        write_ann_index(emb, "ann_drift_probe", n_cells=16, sample_size=512)
        idx = read_ann_index(spark, "ann_drift_probe")
        base = ann_recall_probe(idx, emb, n_queries=32, k=5)
        assert base["recall"] >= 0.8, base
        assert base["n_queries"] == 32
        # drifted ingest: shifted + sign-flipped copies far outside
        # the trained centroid space, appended under the frozen model
        maxid = emb.agg(F.max("vec_id")).first()[0]
        drift = emb.limit(512).select(
            (F.col("vec_id") + maxid + 1).alias("vec_id"),
            F.transform(
                "embedding", lambda x: F.lit(9.0) - x * 3.0
            ).alias("embedding"),
        )
        append_ann_index(idx, drift)
        full = emb.select("vec_id", "embedding").unionByName(drift)
        drifted = ann_recall_probe(
            idx, full, n_queries=32, k=5, queries=drift
        )
        assert drifted["recall"] < base["recall"], (base, drifted)
    finally:
        _drop_table_and_location(spark, "ann_drift_probe")


def test_scd2_history_single_exchange(spark):
    """The whole SCD2 history build — change flag, island numbering,
    per-island aggregate, validity lead — reuses ONE clustering on the
    key: exactly one hash Exchange in the plan (the groupBy(key,
    version) and both windows are satisfied by hashpartitioning(key))."""
    plan = plan_of(QUERIES["scd2_history"](spark, SF))
    assert plan.count("Exchange") - plan.count("BroadcastExchange") == 1, plan
    assert "BatchEvalPython" not in plan


def test_merge_cdc_two_exchanges_window_reused_by_join(spark):
    """merge_cdc's shuffle budget: changes once (winner window, whose
    hashpartitioning the full-outer join then REUSES) + snapshot once
    = exactly two Exchanges.  Full outer join can never broadcast, so
    the SMJ shape is size-robust."""
    plan = plan_of(QUERIES["merge_cdc_apply"](spark, SF))
    assert plan.count("Exchange") - plan.count("BroadcastExchange") == 2, plan
    assert "SortMergeJoin" in plan and "FullOuter" in plan
    assert "CartesianProduct" not in plan


def test_merge_cdc_bucketed_snapshot_side_never_shuffles(spark):
    """The 100 TB MERGE composition (merge.py docstring, SCALING.md):
    store the snapshot bucketed on the merge key and ONLY the change
    batch shuffles — the snapshot's bucketed scan feeds the SMJ with
    zero Exchange, so a 100 TB snapshot absorbs a 1% CDC batch at
    batch-sized shuffle cost."""
    from hadoop_pcap_spark.operators.bucketing import write_bucketed

    from hadoop_pcap_spark.operators.merge import merge_cdc

    try:
        snap = spark.read.parquet(f"{SF}/documents.parquet").selectExpr(
            "doc_id", "n_chars"
        )
        write_bucketed(snap, "b_merge_snap", "doc_id", n_buckets=8)
        # the ~1% change batch via a deterministic filter (a limit
        # would add its own SinglePartition exchange to the plan)
        chg = snap.filter("doc_id % 100 = 0").selectExpr(
            "doc_id",
            "n_chars + 1 AS n_chars",
            "CAST(1 AS BIGINT) AS _seq",
            "'U' AS _op",
        )
        merged = merge_cdc(spark.table("b_merge_snap"), chg, ["doc_id"])
        plan = plan_of(merged)
        # exactly ONE exchange — the change batch's winner window; the
        # snapshot side rides its bucketing straight into the SMJ
        assert plan.count("Exchange") - plan.count("BroadcastExchange") == 1, plan
        assert "SortMergeJoin" in plan
        assert merged.count() == snap.count()
    finally:
        spark.sql("DROP TABLE IF EXISTS b_merge_snap")


def test_corpus_build_composition_stays_bounded(spark):
    """The five-stage corpus build composes without degenerating:
    no cartesian, no nested-loop join, no row-Python, and the corpus
    is scanned a bounded number of times (the dedup chain's documented
    ≤2 scans plus the stage-count aggregates)."""
    plan = plan_of(QUERIES["corpus_build_stats"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan
    # raw counts + the cached rules build + the dedup chain's
    # documented bounded scans; consumers of `rules` read the cache
    assert plan.count("Scan parquet") <= 7, plan


def test_float_sensitive_queries_are_run_deterministic(spark):
    """Two executions (different shuffle partitioning the second time)
    must produce identical rows for the queries whose outputs involve
    float aggregation — partition-order nondeterminism here would make
    the driver's value-hash gate flaky."""
    names = [
        "docs_mixture_weights",
        "text_unigram_logprob",
        "text_repetition_topgram",
        "tpch_q8_market_share",
        "stats_functions",
        "docs_pack_sequences",
    ]
    for name in names:
        a = sorted(map(str, QUERIES[name](spark, SF).collect()))
        spark.conf.set("spark.sql.shuffle.partitions", "5")
        try:
            b = sorted(map(str, QUERIES[name](spark, SF).collect()))
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", "8")
        assert a == b, name


def test_dir_fingerprint_sees_rewrite_of_older_entry(tmp_path):
    """The bare-path reader memo keys a directory table on EVERY
    entry's (name, mtime_ns, size): rewriting a part-file that is not
    the newest — here restored with an even older mtime, same size —
    must change the key, or the memo serves the stale reader."""
    from types import SimpleNamespace

    from hadoop_pcap_spark.plans import _dir_fingerprint, _read_parquet_memo

    d = tmp_path / "t.parquet"
    d.mkdir()
    old, new = d / "part-0.parquet", d / "part-1.parquet"
    old.write_bytes(b"a" * 64)
    new.write_bytes(b"b" * 64)
    os.utime(old, ns=(1_000_000_000_000, 1_000_000_000_000))
    os.utime(new, ns=(2_000_000_000_000, 2_000_000_000_000))
    key0 = _dir_fingerprint(str(d), os.stat(d))

    reads = []
    fake = SimpleNamespace(
        read=SimpleNamespace(parquet=lambda p: reads.append(p) or object())
    )
    first = _read_parquet_memo(fake, str(d))
    assert _read_parquet_memo(fake, str(d)) is first  # memo hit
    dir_ns = os.stat(d).st_mtime_ns

    old.write_bytes(b"c" * 64)  # in-place rewrite: no entry added
    os.utime(old, ns=(500_000_000_000, 500_000_000_000))
    assert os.stat(d).st_mtime_ns == dir_ns  # the dir stat cannot see it
    assert _dir_fingerprint(str(d), os.stat(d)) != key0
    assert _read_parquet_memo(fake, str(d)) is not first
    assert len(reads) == 2
