"""Meta-tests for the driver contract (__spark_entry__.py): the
registry must stay structurally sound — every oracle belongs to a
query, names are stable, the flagship entry works."""

import os

import pytest

import __spark_entry__ as e

# same env knob as tests/conftest.py's SF_SMOKE (ADVICE r11: the
# hardcoded absolute path made these tests fail with a confusing
# DuckDB IO error on relocated checkouts)
SF_SMOKE = os.environ.get("SPARK_GRAFT_SF_SMOKE", "/root/testdata/sf0.001")


def _smoke_dir() -> str:
    """The smallest fixture corpus, env-overridable, skip-if-absent."""
    if not os.path.isdir(SF_SMOKE):
        pytest.skip(
            f"fixture corpus not found at {SF_SMOKE} "
            "(set SPARK_GRAFT_SF_SMOKE to its location)"
        )
    return SF_SMOKE


def test_registry_shape():
    qs = e.queries()
    os_ = e.oracle_sql()
    assert len(qs) >= 60
    assert set(os_) <= set(qs), "oracle without a query"
    rows_only = set(qs) - set(os_)
    # rows-only residue retired in round 10: the three sketch queries
    # (whose raw estimates are engine-specific) became deterministic
    # BOUND CONTRACTS — each emits per-group within-error-bound
    # verdicts computed against the exact value in the same query, so
    # every registered query now carries a hash-checkable oracle.
    # (Five fixture pcap queries gained synthesizer-ground-truth
    # oracles in round 5; TCP-reassembly + enriched-flows and the
    # three template-cyclic throughput benches in round 6; the five
    # deterministic ANN variants via generated model-replay oracles in
    # round 9 — plans/ann_oracles.py.)
    assert rows_only == set(), f"unexpected rows-only set: {sorted(rows_only)}"
    for name, fn in qs.items():
        assert callable(fn), name


def test_oracles_are_valid_duckdb_sql():
    """Every oracle must parse and run in DuckDB at the smallest SF —
    catches SQL typos without the full value comparison."""
    import duckdb

    sf = _smoke_dir()
    con = duckdb.connect()
    for t in [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ]:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'"
        )
    for name, sql in e.oracle_sql().items():
        con.execute(sql).fetchall()


def test_oracle_schemas_have_no_hazard_types():
    """No registered oracle may project a DuckDB HUGEINT/UHUGEINT
    column (VERDICT r10 item 1: an un-CAST integer SUM fetches as a
    plain int through fetchall — replica green — but as decimal128
    through Arrow or float64 through pandas, which is how five r10
    queries went driver-red while replica-green).  DESCRIBE binds
    without executing, so this sweeps all oracles cheaply."""
    import os
    import sys

    import duckdb

    sys.path.insert(
        0,
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "tools",
        ),
    )
    from compare_oracle import oracle_type_hazards

    sf = _smoke_dir()
    con = duckdb.connect()
    for t in [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ]:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'"
        )
    bad = {
        name: hz
        for name, sql in e.oracle_sql().items()
        if (hz := oracle_type_hazards(con, sql))
    }
    assert not bad, f"oracle columns with rendering-hazard types: {bad}"


def test_never_green_queries_head_rotation():
    """The driver's ~50-row window must re-check the never-green
    queries FIRST next round (VERDICT r10 item 7): queries() must open
    with exactly the set of oracle-bearing queries that have no green
    CORRECTNESS row in any committed round — a future green round must
    not rotate a still-red query out of the window."""
    import glob
    import json
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    oracles = set(e.oracle_sql())
    green = set()
    for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        with open(path) as f:
            for name, row in json.load(f).items():
                if e._green_row(row):
                    green.add(name)
    never_green = sorted(
        n for n in e.queries() if n in oracles and n not in green
    )
    names = list(e.queries())
    assert names[: len(never_green)] == never_green, (
        f"rotation head {names[:len(never_green)]} != never-green "
        f"{never_green}"
    )
    # as of r10 the five hash-red queries have no green row, so they
    # must head the rotation (alongside any r11-new queries); drop
    # this pin once CORRECTNESS_r11+ shows them green
    expected_r10_red = {
        "docs_quality_classifier", "media_video_scene_cuts",
        "pcap_beacon_detect", "pcap_dns_tunnel_score", "pcap_subnet_topk",
    }
    if not (green & expected_r10_red):
        assert expected_r10_red <= set(never_green)


def test_rotation_staleness_bounded():
    """VERDICT r11 item 8: with 160 queries and a ~50-row driver
    window, worst-case staleness is a full window cycle — verify (a)
    queries() ordering is monotone nondecreasing in last-green round
    (the structural guarantee that freshly-green queries, e.g. the
    r11-new pair, can never shadow staler ones two rounds running) and
    (b) the empirical max staleness across committed CORRECTNESS files
    stays within the cycle bound ceil(N_oracle / window)."""
    import glob
    import json
    import math
    import re

    root = os.path.dirname(os.path.abspath(e.__file__))
    last_green: dict[str, int] = {}
    latest_round = 0
    window_sizes = []
    for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        rnd = int(re.search(r"CORRECTNESS_r(\d+)\.json$", path).group(1))
        latest_round = max(latest_round, rnd)
        with open(path) as f:
            data = json.load(f)
        window_sizes.append(len(data))
        for name, row in data.items():
            if e._green_row(row):
                last_green[name] = max(last_green.get(name, 0), rnd)

    oracles = set(e.oracle_sql())
    ordered = [n for n in e.queries() if n in oracles]
    # (a) monotone: a query green in round r must never precede one
    # whose last green round is < r
    rounds_in_order = [last_green.get(n, 0) for n in ordered]
    assert rounds_in_order == sorted(rounds_in_order), (
        "queries() rotation is not stalest-first"
    )
    # (b) empirical bound — only meaningful once every query has been
    # green at least once (true since r11) and using the SMALLEST
    # committed window as the conservative cycle denominator
    greened = {n: r for n, r in last_green.items() if n in oracles}
    if len(greened) == len(oracles) and window_sizes:
        cycle = math.ceil(len(oracles) / min(window_sizes))
        max_stale = max(latest_round - r for r in greened.values())
        assert max_stale <= cycle, (
            f"max staleness {max_stale} rounds exceeds the "
            f"{cycle}-round window cycle — rotation is shadowing"
        )


def test_entry_flagship(spark):
    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {
        "source", "n_raw", "n_rules_kept", "n_exact_survivors",
        "n_final", "n_sequences", "total_tokens",
    }
    # stage counts are monotone survivors of one pipeline
    for r in rows:
        assert r.n_raw >= r.n_rules_kept >= r.n_exact_survivors >= r.n_final


def test_oracle_bearing_queries_precede_rows_only():
    """The driver caps its correctness run at N rows; every query
    inside the cap must be hash-comparable (VERDICT r2 item 2), and
    since round 6 the oracle block self-orders by staleness: any query
    with no green CORRECTNESS row yet must precede every query that
    has one, so new oracles enter the capped window immediately."""
    import glob
    import json
    import os

    names = list(e.queries())
    oracles = e.oracle_sql()
    first_rows_only = next(
        (i for i, n in enumerate(names) if n not in oracles), len(names)
    )
    assert all(n in oracles for n in names[:first_rows_only])
    assert all(n not in oracles for n in names[first_rows_only:])

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    verified = set()
    for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        with open(path) as f:
            for name, row in json.load(f).items():
                # the SAME green predicate the entry's ordering uses
                # (ADVICE r6: hash_match-alone here could disagree
                # with rows+hash+no-err there and fail spuriously)
                if e._green_row(row):
                    verified.add(name)
    oracle_block = names[:first_rows_only]
    seen_verified = False
    for n in oracle_block:
        if n in verified:
            seen_verified = True
        else:
            assert not seen_verified, (
                f"never-verified query {n!r} ordered after a verified one"
            )


def test_run_query_cli_smoke():
    """tools/run_query.py: --list names every registered query and
    --oracle prints runnable SQL without starting Spark."""
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    r = subprocess.run(
        [sys.executable, "tools/run_query.py", "--list"],
        capture_output=True, text=True, cwd=root, timeout=120,
    )
    assert r.returncode == 0
    names = {line.split()[0] for line in r.stdout.strip().splitlines()}
    assert {"tpch_q1", "corpus_build_stats", "dedup_minhash_lsh"} <= names
    r2 = subprocess.run(
        [sys.executable, "tools/run_query.py", "tpch_q1", "--oracle"],
        capture_output=True, text=True, cwd=root, timeout=120,
    )
    assert r2.returncode == 0 and "l_returnflag" in r2.stdout


@pytest.mark.parametrize(
    "script",
    [
        "compare_oracle.py",
        "scaling_probe.py",
        "core_scaling_probe.py",
        "plan_audit.py",
        "make_scaled_sf.py",
    ],
)
def test_tools_cli_help(script):
    """Every measurement/audit script imports cleanly and answers
    --help without starting Spark: SPARK_HOME points nowhere, so any
    attempt to launch the JVM fails the run."""
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, SPARK_HOME=os.path.join(root, "no-spark-here"))
    r = subprocess.run(
        [sys.executable, os.path.join("tools", script), "--help"],
        capture_output=True, text=True, cwd=root, env=env, timeout=120,
    )
    assert r.returncode == 0, r.stderr
    assert r.stdout.startswith("usage:"), r.stdout


def test_flagship_release_frees_all_blocks(spark):
    """release_persisted on the flagship must free EVERY cached block
    — the persisted rules stage AND the dedup chain's localCheckpoint
    RDDs (review finding: only _graft_persisted was propagated, so
    checkpoint blocks leaked across benchmark loops)."""
    from hadoop_pcap_spark.operators.cache import release_persisted
    from hadoop_pcap_spark.plans import QUERIES, load_all

    load_all()
    sc = spark.sparkContext._jsc.sc()
    before = sc.getPersistentRDDs().size()  # other tests' leftovers
    df = QUERIES["corpus_build_stats"](spark, "/root/testdata/sf0.001")
    df.count()
    release_persisted(df)
    # shared-session caveat: Spark's async ContextCleaner may free
    # OTHER tests' orphaned blocks concurrently, so the invariant is
    # "this query left nothing behind", not strict equality
    assert sc.getPersistentRDDs().size() <= before


def test_coverage_doc_totals_match_registry():
    """COVERAGE.md's totals line is mechanically tied to the registry
    (ADVICE r7 item 5: the doc said 125/119 while the registry was
    128/122 — totals drifted twice across rounds; now drift fails CI)."""
    import os
    import re

    from hadoop_pcap_spark import plans

    plans.load_all()
    doc = open(
        os.path.join(os.path.dirname(os.path.dirname(__file__)), "COVERAGE.md")
    ).read()
    m = re.search(r"Totals: (\d+) registered queries, (\d+) with DuckDB", doc)
    assert m, "COVERAGE.md totals line missing"
    assert (int(m.group(1)), int(m.group(2))) == (
        len(plans.QUERIES),
        len(plans.ORACLES),
    ), "COVERAGE.md totals drifted from plans.QUERIES/ORACLES"


def test_ann_oracle_constants_match_operator_defaults():
    """The generated ANN oracles (plans/ann_oracles.py) replay the
    operators at their DEFAULT parameters; a default changed on one
    side without the other would only surface as a driver hash
    mismatch a round later — pin the pairing here instead."""
    import inspect

    from hadoop_pcap_spark.operators import similarity as S
    from hadoop_pcap_spark.plans import ann_oracles as A

    def defaults(fn):
        return {
            k: v.default for k, v in inspect.signature(fn).parameters.items()
        }

    ivf = defaults(S.cosine_topk_ivf)
    assert (A.N_CELLS, A.N_PROBE, A.SAMPLE_SIZE, A.K) == (
        ivf["n_cells"], ivf["n_probe"], ivf["sample_size"], ivf["k"])
    pq = defaults(S.cosine_topk_pq)
    assert (A.M_SUB, A.K_CODES, A.RERANK_FACTOR) == (
        pq["m_sub"], pq["k_codes"], pq["rerank_factor"])
    ipq = defaults(S.cosine_topk_ivfpq)
    assert (A.IVFPQ_N_PROBE, A.IVFPQ_RERANK) == (
        ipq["n_probe"], ipq["rerank_factor"])
    lsh = defaults(S.cosine_topk_lsh)
    assert (A.N_PLANES, A.PROBE_BITS, A.DIM) == (
        lsh["n_planes"], lsh["probe_bits"], lsh["dim"])
    # the rp near-dup sizing is shared CODE (rp_band_params), not
    # constants — both sides call it, nothing to pin
