"""Local replica of the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry on Spark and its
``oracle_sql()`` twin on DuckDB over the same parquet tables, then
compares row count, column names, and an order-insensitive value
rendering.  Usage:

    python tools/compare_oracle.py [--sf /root/testdata/sf0.01] [--only name[,name]]
"""

from __future__ import annotations

import argparse
import math
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hadoop_pcap_spark.plans import WAREHOUSE_TABLES as TABLES  # noqa: E402


def norm_cell(v, strict=False):
    """Order-insensitive cell rendering.

    Default mode is the historical tolerant renderer (floats rounded
    to 9 digits).  ``strict`` renders floats at FULL precision and
    tags every cell with its Python type class, so replica-green
    implies driver-green no matter how the driver fetches/renders
    (repr-based, Arrow-based, pandas-based): any cross-engine
    difference in value bits OR in value *type* (int vs Decimal vs
    float vs bool) fails strict even when the lenient rendering
    collides (VERDICT r10 item 2 — the HUGEINT sum bug class)."""
    import decimal

    if v is None:
        return "<null>"
    if isinstance(v, bool):  # must precede int (bool subclasses int)
        return ("bool:" if strict else "") + str(bool(v)).lower()
    if isinstance(v, float):
        if math.isnan(v):
            return ("float:" if strict else "") + "nan"
        r = repr(v) if strict else repr(round(v, 9))
        return ("float:" if strict else "") + r
    if isinstance(v, decimal.Decimal):
        return ("decimal:" if strict else "") + str(v)
    if isinstance(v, int):
        return ("int:" if strict else "") + str(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm_cell(x, strict) for x in v) + "]"
    if strict:
        return f"{type(v).__name__}:{v}"
    return str(v)


def normalize(rows, cols, strict=False):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm_cell(r[i], strict) for i in order) for r in rows]
    out.sort()
    return out, [cols[i] for i in order]


# DuckDB types whose Python-fetch coercion hides a rendering hazard:
# fetchall() turns HUGEINT into a plain int (replica matches) while an
# Arrow/pandas fetch renders decimal128/float64 (driver mismatches).
# Strict mode bans them from oracle output schemas outright — cast the
# oracle column (CAST(sum(x) AS BIGINT)) instead.
HAZARD_DUCK_TYPES = ("HUGEINT", "UHUGEINT")


def oracle_type_hazards(con, sql):
    """DESCRIBE the oracle and return [(col, type)] rendering hazards."""
    desc = con.execute(f"DESCRIBE {sql}").fetchall()
    return [
        (d[0], d[1])
        for d in desc
        if any(h in str(d[1]).upper() for h in HAZARD_DUCK_TYPES)
    ]


# --- engine-side unordered hash (for results too big to collect) -------------
#
# A 100 TB-honest correctness gate cannot ship every row to the driver:
# at the sf1 gate dedup_simhash's true near-dup pair set is 75M rows
# (pair enumeration is quadratic in dup-family size on the planted
# near-dup corpus) and executeCollect OOMs any reasonable heap.  For
# results past --agg-threshold rows whose columns are all EXACT types
# (integers / strings / booleans / dates — rendered identically by
# both engines), the comparison instead pushes a per-row 56-bit
# md5-derived value down into each engine and compares
# (count, SUM(value)) — an order-insensitive fingerprint computed
# where the data lives, which is exactly how the gate would run on a
# cluster.  Float-bearing results never take this path (their
# normalization needs the tolerant renderer above).

_HEX = "0123456789abcdef"


def _row_hash_sql(cols, instr_fn: str, str_type: str) -> str:
    """Portable SQL for SUM(first-14-hex-digits-of-md5(row)) over
    canonically rendered rows.  ``instr_fn`` is the engine's
    find-substring-position function (Spark: instr, DuckDB: strpos);
    ``str_type`` its string cast target (STRING / VARCHAR).
    Digit arithmetic with literal 16^k coefficients stays exact in
    int64 (max < 2^56); each term is cast to DECIMAL(38,0) before the
    big SUM so 10^8+ rows cannot overflow."""
    # Each cell is length-prefixed ("7:example") before the join so a
    # '|' INSIDE a string cell cannot shift bytes across column
    # boundaries and alias two distinct rows (ADVICE r4).  Length
    # prefixes are injective without escape characters — important
    # because Spark and DuckDB disagree on backslash semantics in
    # string literals, so an escape-based fix would not be portable.
    def _cell(c: str) -> str:
        v = f"coalesce(CAST({c} AS {str_type}), '<null>')"
        return f"concat(CAST(length({v}) AS {str_type}), ':', {v})"

    rendered = ", ".join(_cell(c) for c in sorted(cols))
    s = f"md5(concat_ws('|', {rendered}))"
    terms = " + ".join(
        f"CAST({instr_fn}('{_HEX}', substring({s}, {i + 1}, 1)) - 1 AS BIGINT)"
        f" * {16 ** (13 - i)}"
        for i in range(14)
    )
    return f"SUM(CAST({terms} AS DECIMAL(38,0)))"


_EXACT_SPARK_TYPES = {"byte", "short", "int", "integer", "bigint", "long",
                      "string", "boolean", "date"}


def _spark_exact_types(sdf) -> bool:
    return all(t in _EXACT_SPARK_TYPES for _, t in sdf.dtypes)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.environ.get("SF_DIR", "/root/testdata/sf0.01"))
    ap.add_argument("--only", default=None)
    ap.add_argument("--cpus", default="8")
    ap.add_argument(
        "--agg-threshold", type=int,
        default=int(os.environ.get("SPARK_GRAFT_AGG_THRESHOLD", "2000000")),
        help="above this many result rows (exact-typed results only), "
        "compare by engine-side unordered hash instead of collecting",
    )
    ap.add_argument(
        "--no-strict", dest="strict", action="store_false", default=True,
        help="disable the paranoid renderer (full-precision floats, "
        "type-tagged cells, HUGEINT oracle-schema ban); strict is ON "
        "by default so replica-green implies driver-green",
    )
    args = ap.parse_args()

    # generated oracles that train model artifacts from the corpus
    # (plans/ann_oracles.py) must read the same SF this run compares at
    os.environ["SPARK_GRAFT_ORACLE_SF"] = args.sf

    import duckdb

    import __spark_entry__ as entrymod
    from hadoop_pcap_spark.session import get_spark

    qmap = entrymod.queries()
    omap = entrymod.oracle_sql()
    only = set(args.only.split(",")) if args.only else None
    # a misspelt name would otherwise drop its query from the gate
    # unnoticed: refuse before starting Spark
    unknown = sorted(only - qmap.keys()) if only else []
    if unknown:
        sys.exit("--only names no registered query: " + ", ".join(unknown))

    # get_spark's 8g default heap: pyspark's 1g is fine at sf0.01 but
    # undersized for sf1-scale runs (broadcast build + 6M-row shuffles
    # on 8 local threads OOM'd the JVM mid-suite)
    spark = get_spark("compare_oracle", cpus=int(args.cpus))
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        p = f"{args.sf}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    n_pass = n_fail = n_rowsonly = 0
    failures = []
    for name, fn in sorted(qmap.items()):
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, args.sf)
            s_cols = sdf.columns
            # exact-typed results are collected through a limit probe:
            # if more than agg-threshold rows come back, switch to the
            # engine-side unordered-hash comparison instead of pulling
            # the full result to the driver
            lim = args.agg_threshold
            if _spark_exact_types(sdf) and name in omap:
                s_rows = [tuple(r) for r in sdf.limit(lim + 1).collect()]
                huge = len(s_rows) > lim
            else:
                s_rows = [tuple(r) for r in sdf.collect()]
                huge = False
        except Exception:
            print(f"FAIL  {name}: spark raised")
            traceback.print_exc(limit=3)
            n_fail += 1
            failures.append(name)
            continue
        t_spark = time.time() - t0

        if huge:
            try:
                agg = sdf.selectExpr(
                    "count(*) AS n",
                    _row_hash_sql(s_cols, "instr", "STRING") + " AS hs",
                ).collect()[0]
                s_n, s_hs = agg["n"], agg["hs"]
            except Exception:
                print(f"FAIL  {name}: spark hash-agg raised")
                traceback.print_exc(limit=3)
                n_fail += 1
                failures.append(name)
                continue
            t_spark = time.time() - t0
            t1 = time.time()
            try:
                d_desc = con.execute(f"DESCRIBE {omap[name]}").fetchall()
                d_cols = [d[0] for d in d_desc]
                d_n, d_hs = con.execute(
                    f"SELECT count(*) AS n,"
                    f" {_row_hash_sql(d_cols, 'strpos', 'VARCHAR')} AS hs"
                    f" FROM ({omap[name]})"
                ).fetchone()
            except Exception as e:
                print(f"FAIL  {name}: duckdb hash-agg raised: {e}")
                n_fail += 1
                failures.append(name)
                continue
            msgs = []
            if sorted(s_cols) != sorted(d_cols):
                msgs.append(f"columns spark={sorted(s_cols)} duckdb={sorted(d_cols)}")
            if int(s_n) != int(d_n):
                msgs.append(f"rowcount spark={s_n} duckdb={d_n}")
            elif not msgs and int(s_hs) != int(d_hs):
                msgs.append(f"unordered row-hash differs ({s_n} rows)")
            if args.strict:
                hz = oracle_type_hazards(con, omap[name])
                if hz:
                    msgs.append(f"[strict] oracle hazard types: {hz}")
            if msgs:
                print(f"FAIL  {name}: " + "; ".join(msgs))
                n_fail += 1
                failures.append(name)
            else:
                print(
                    f"MATCH {name}: {s_n} rows [engine-side hash]  "
                    f"(spark {t_spark:.1f}s / duckdb {time.time()-t1:.1f}s)"
                )
                n_pass += 1
            continue
        if name not in omap:
            print(f"rows-only  {name}: {len(s_rows)} rows  ({t_spark:.1f}s)")
            n_rowsonly += 1
            continue
        t1 = time.time()
        try:
            cur = con.execute(omap[name])
            d_cols = [d[0] for d in cur.description]
            d_rows = cur.fetchall()
        except Exception as e:
            print(f"FAIL  {name}: duckdb raised: {e}")
            n_fail += 1
            failures.append(name)
            continue

        ok = True
        msgs = []
        if len(s_rows) != len(d_rows):
            ok = False
            msgs.append(f"rowcount spark={len(s_rows)} duckdb={len(d_rows)}")
        if sorted(s_cols) != sorted(d_cols):
            ok = False
            msgs.append(f"columns spark={sorted(s_cols)} duckdb={sorted(d_cols)}")
        if ok:
            s_norm, _ = normalize(s_rows, s_cols)
            d_norm, _ = normalize(d_rows, d_cols)
            if s_norm != d_norm:
                ok = False
                diffs = [
                    (a, b) for a, b in zip(s_norm, d_norm) if a != b
                ][:3]
                msgs.append(f"values differ; first diffs: {diffs}")
        if ok and args.strict:
            s_norm, _ = normalize(s_rows, s_cols, strict=True)
            d_norm, _ = normalize(d_rows, d_cols, strict=True)
            if s_norm != d_norm:
                ok = False
                diffs = [
                    (a, b) for a, b in zip(s_norm, d_norm) if a != b
                ][:3]
                msgs.append(f"[strict] renderings differ: {diffs}")
            hz = oracle_type_hazards(con, omap[name])
            if hz:
                ok = False
                msgs.append(f"[strict] oracle hazard types: {hz}")
        if ok:
            print(
                f"MATCH {name}: {len(s_rows)} rows  "
                f"(spark {t_spark:.1f}s / duckdb {time.time()-t1:.1f}s)"
            )
            n_pass += 1
        else:
            print(f"FAIL  {name}: " + "; ".join(msgs))
            n_fail += 1
            failures.append(name)

    print(
        f"\n== {n_pass} match, {n_rowsonly} rows-only, {n_fail} fail"
        + (f"  FAILURES: {failures}" if failures else "")
    )
    spark.stop()
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
