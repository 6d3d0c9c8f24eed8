"""The oracle-gate's engine-side unordered hash (tools/compare_oracle).

Results too large to collect (first hit: dedup_simhash's 75M true
near-dup pairs at the sf1 gate) are compared by pushing a 56-bit
md5-derived per-row value into each engine and comparing
(count, SUM).  That only gates correctly if the two dialect variants
of the expression hash identical logical rows to identical integers —
including NULLs, booleans, and dates — and if any single-cell change
moves the sum.
"""

from __future__ import annotations

import os
import subprocess
import sys

import duckdb
import pytest

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
)

from compare_oracle import _row_hash_sql, _spark_exact_types  # noqa: E402

ROWS_SQL = """
SELECT * FROM (VALUES
  (1, 'alpha', TRUE,  DATE '2020-01-02'),
  (2, 'beta',  FALSE, DATE '1999-12-31'),
  (3, NULL,    NULL,  NULL),
  (-7, 'x|y',  TRUE,  DATE '2020-01-02'),
  (9223372036854775807, '', FALSE, DATE '1970-01-01')
) AS t(i, s, b, d)
"""


def _duck_agg(sql_rows: str):
    con = duckdb.connect()
    expr = _row_hash_sql(["i", "s", "b", "d"], "strpos", "VARCHAR")
    return con.execute(
        f"SELECT count(*), {expr} FROM ({sql_rows})"
    ).fetchone()


def test_cross_engine_hash_identical(spark):
    sdf = spark.sql(ROWS_SQL)
    assert _spark_exact_types(sdf)
    expr = _row_hash_sql(["i", "s", "b", "d"], "instr", "STRING")
    s_n, s_hs = sdf.selectExpr("count(*)", expr).collect()[0]
    d_n, d_hs = _duck_agg(ROWS_SQL)
    assert (int(s_n), int(s_hs)) == (int(d_n), int(d_hs))


def test_single_cell_change_moves_hash():
    _, base = _duck_agg(ROWS_SQL)
    _, tweaked = _duck_agg(ROWS_SQL.replace("'beta'", "'betb'"))
    assert int(base) != int(tweaked)
    _, negated = _duck_agg(ROWS_SQL.replace("(-7,", "(7,"))
    assert int(base) != int(negated)
    # NULL and the literal string '<null>' render alike by design —
    # the same sentinel the row-collect path (norm_cell) uses; both
    # comparison modes share the collision, so neither can pass a
    # result the other would fail
    _, sentinel = _duck_agg(ROWS_SQL.replace("(3, NULL,", "(3, '<null>',"))
    assert int(base) == int(sentinel)


def test_float_results_never_take_hash_path(spark):
    sdf = spark.sql("SELECT 1.5 AS f, 2 AS i")
    assert not _spark_exact_types(sdf)
    sdf2 = spark.sql("SELECT array(1, 2) AS a")
    assert not _spark_exact_types(sdf2)


def test_strict_renderer_contract():
    """Pin the paranoid renderer (VERDICT r10 item 2): strict mode
    must distinguish value TYPES the lenient renderer collides —
    int 3 vs Decimal('3') vs 3.0 (exactly the classes a driver-side
    Arrow/pandas fetch of a DuckDB HUGEINT or DOUBLE produces) — and
    render floats at full precision instead of round-9."""
    from decimal import Decimal

    from compare_oracle import norm_cell

    # lenient collides these; strict must not
    assert norm_cell(3) == norm_cell(Decimal("3")) == "3"
    assert len({norm_cell(v, strict=True)
                for v in (3, Decimal("3"), 3.0, "3", True)}) == 5
    # full-precision floats: two doubles differing past 9 digits
    a, b = 0.1234567890123, 0.1234567890999
    assert norm_cell(a) == norm_cell(b)
    assert norm_cell(a, strict=True) != norm_cell(b, strict=True)
    # bool must not be swallowed by the int branch in strict mode
    assert norm_cell(True, strict=True) == "bool:true"
    assert norm_cell(1, strict=True) == "int:1"
    # nested lists tag recursively
    assert norm_cell([1, None], strict=True) == "[int:1,<null>]"


def test_hazard_type_detection():
    """oracle_type_hazards must flag the exact bug class that made
    five r10 queries driver-red: an un-CAST integer SUM (DuckDB
    HUGEINT — fetchall coerces to int, Arrow renders decimal128)."""
    from compare_oracle import oracle_type_hazards

    con = duckdb.connect()
    bad = "SELECT sum(x) AS s FROM (VALUES (1),(2)) t(x)"
    good = "SELECT CAST(sum(x) AS BIGINT) AS s FROM (VALUES (1),(2)) t(x)"
    assert oracle_type_hazards(con, bad) == [("s", "HUGEINT")]
    assert oracle_type_hazards(con, good) == []


def test_only_refuses_names_of_no_query():
    """``--only`` with a name that matches no registered query exits
    non-zero and names every such entry, before any query runs: a
    misspelt name must not drop its query from a gate silently."""
    sf = os.environ.get("SPARK_GRAFT_SF_SMOKE", "/root/testdata/sf0.001")
    if not os.path.isdir(sf):
        pytest.skip(f"fixture corpus not found at {sf}")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, os.path.join(repo, "tools", "compare_oracle.py"),
         "--sf", sf, "--only", "pcap_dedup,pcap_port_count,zz_absent"],
        capture_output=True, text=True, cwd=repo, timeout=600,
    )
    assert out.returncode != 0
    assert "pcap_dedup" in out.stderr and "zz_absent" in out.stderr
    assert "pcap_port_count" not in out.stderr
    assert "MATCH" not in out.stdout
