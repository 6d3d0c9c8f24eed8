"""Query-plan registry: the engine's demonstrated operator surface.

Every operator from SURVEY.md §2 (and the north-star pipeline ops) is
registered here as a named query: a Spark callable ``(spark, sf_dir) →
DataFrame`` plus, where SQL-expressible, a DuckDB oracle SQL string the
driver cross-checks against (row count + schema + order-insensitive
value hash).  Registration is via the ``@query`` decorator.

Conventions that keep the value-hash comparison stable:

* every computed column is aliased identically in Spark and SQL;
* money aggregates are computed per-row in DOUBLE, cast to
  DECIMAL(18,4) (deterministic round-to-nearest of an identical IEEE
  product in both engines), summed exactly, then cast back to DOUBLE —
  so sums are order-independent;
* statistical aggregates whose float error is order-dependent
  (stddev/corr/avg over many rows) are rounded to a tolerance far
  above accumulation error;
* timestamps are projected as DATE or formatted strings, never raw
  TIMESTAMP, to stay timezone-proof;
* top-k orderings always include a unique tie-break key.
"""

from __future__ import annotations

from typing import Callable, Dict, Optional, Union

from pyspark.sql import DataFrame, SparkSession

QUERIES: Dict[str, Callable[[SparkSession, str], DataFrame]] = {}
# value: DuckDB SQL string, or a zero-arg callable returning one — the
# callable form defers fixture-building side effects (tempdir writes,
# pyarrow imports) out of module import and into oracle access
# (ADVICE r5: import must stay side-effect-free)
ORACLES: Dict[str, Union[str, Callable[[], str]]] = {}

# the driver-provided warehouse tables — the single source of truth
# for every consumer (SQL view registration, the oracle gate, tools)
WAREHOUSE_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def query(name: str, oracle: Union[str, Callable[[], str], None] = None):
    """Register a named query; ``oracle`` is DuckDB SQL (a string, or a
    zero-arg callable returning one for oracles whose SQL embeds a
    lazily-built fixture path) or None for non-SQL-expressible ops
    (driver then does a rows-only check)."""

    def deco(fn):
        # a duplicate name would SILENTLY replace the earlier query
        # (and its oracle), shrinking the registry without any test
        # noticing — fail at import instead
        if name in QUERIES:
            raise ValueError(f"duplicate query registration: {name!r}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def resolved_oracles() -> Dict[str, str]:
    """ORACLES with every callable entry resolved to its SQL string —
    the form the driver contract (``oracle_sql()``) and the compare
    tools consume.  Resolution is where fixture side effects happen."""
    return {k: (v() if callable(v) else v) for k, v in ORACLES.items()}


# Per-session memo of the base warehouse-table readers, keyed by file
# identity (path, mtime_ns, size) — METADATA caching only (r13
# optimization): ``spark.read.parquet(path)`` re-infers the schema
# (a footer-reading mini-job) and re-lists the path on EVERY call,
# ~100 ms per table per query build (join_multiway touches 8 tables →
# ~0.9 s of its 1.9 s total was reader setup).  A catalog-registered
# table carries its schema; bare-path reads deserve the same.  The
# identity key re-reads a regenerated file, and no DATA or results
# are ever cached: every job still scans the parquet.
#
# Storage (r14, ADVICE r13): the memo dict hangs OFF THE SESSION
# OBJECT itself, not a module-level WeakKeyDictionary — the weak-dict
# version never actually collected anything, because its values
# (DataFrames) strongly reference the session key, making every entry
# strongly reachable from the module global for the process lifetime.
# As a session attribute the whole structure is one garbage cycle
# (session → dict → DataFrame → session) that CPython's cycle
# collector frees as soon as the session itself is unreferenced.
_MEMO_ATTR = "_hadoop_pcap_read_memo"


def _dir_fingerprint(path: str, st) -> tuple:
    """Identity key component for a DIRECTORY table: the directory's
    own stat plus every entry's (name, mtime_ns, size) — a part-file
    rewritten in place changes no directory entry count, so the bare
    dir stat would serve a stale listing/schema (ADVICE r13), and a
    rewrite of a part-file that is not the newest (e.g. restored with
    an older mtime) must change the key too, so no single "newest"
    entry stands in for the rest.  One shallow scandir; parquet dir
    tables here are flat."""
    import os

    entries = []
    try:
        with os.scandir(path) as it:
            for e in it:
                try:
                    est = e.stat()
                except OSError:
                    continue
                entries.append((e.name, est.st_mtime_ns, est.st_size))
    except OSError:
        pass
    return (st.st_mtime_ns, st.st_size, tuple(sorted(entries)))


def _read_parquet_memo(spark: SparkSession, path: str) -> DataFrame:
    import os
    import stat as _stat

    try:
        st = os.stat(path)
    except OSError:
        return spark.read.parquet(path)
    if _stat.S_ISDIR(st.st_mode):
        key = (path, _dir_fingerprint(path, st))
    else:
        key = (path, st.st_mtime_ns, st.st_size)
    per = getattr(spark, _MEMO_ATTR, None)
    if per is None:
        per = {}
        try:
            setattr(spark, _MEMO_ATTR, per)
        except Exception:  # pragma: no cover — exotic session proxy
            return spark.read.parquet(path)
    df = per.get(key)
    if df is None:
        # drop superseded identities of the same path (bounded growth)
        for k in [k for k in per if k[0] == path and k != key]:
            del per[k]
        df = spark.read.parquet(path)
        per[key] = df
    return df


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        return events_table(spark, sf_dir)
    return _read_parquet_memo(spark, f"{sf_dir}/{name}.parquet")


def events_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cross-engine convention for ``events.ts`` is *epoch-
    microsecond longs* (oracles use DuckDB ``epoch_us(ts)``), so all
    event-time arithmetic stays in exact integer µs on both engines.
    The driver's generator has shipped two physical layouts, both
    normalized here: TIMESTAMP(NANOS) (rejected by Spark's reader
    unless ``nanosAsLong`` maps it to BIGINT nanos → ``div 1000``)
    and TIMESTAMP(MICROS) (arrives as TIMESTAMP_NTZ → unix micros;
    session TZ is pinned UTC so the NTZ→LTZ cast is the identity)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = _read_parquet_memo(spark, f"{sf_dir}/events.parquet")
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, T.LongType):
        return df.withColumn("ts", F.expr("ts div 1000"))
    return df.withColumn("ts", F.unix_micros(F.col("ts").cast("timestamp")))


def load_all() -> None:
    """Import every query module so the registry is fully populated."""
    from . import relational  # noqa: F401
    from . import pipeline  # noqa: F401
    from . import pcap_queries  # noqa: F401
    from . import media_queries  # noqa: F401
    from . import scale_ops  # noqa: F401
    from . import incremental  # noqa: F401
    from . import streaming_queries  # noqa: F401
