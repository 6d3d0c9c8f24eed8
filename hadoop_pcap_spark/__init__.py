"""hadoop_pcap_spark — a PySpark-native packet-analytics engine.

A from-scratch reimplementation of the capabilities of
gconklin/hadoop-pcap (a fork of RIPE-NCC/hadoop-pcap): a libpcap
binary decoder exposed as a typed Spark DataFrame source, plus the
full relational query surface the reference delegated to Hive,
re-expressed natively on Spark SQL / DataFrame / Catalyst, and the
large-scale data-pipeline operators (dedup, similarity search,
text analysis, multimodal columns) a 100 TB deployment needs.

Layout:
  pcap/       pure-Python decode kernel (no Spark dependency)
  sources/    Spark sources: read_pcap(), the format("pcap") DataSource V2
  operators/  dedup, similarity, as-of join, top-k
  functions/  column-function libraries (text analysis, net helpers)
  plans/      the relational parity query suite + DuckDB oracles
  streaming/  Structured Streaming analogs
"""

import sys

__version__ = "0.1.0"


def _in_pyspark_worker() -> bool:
    # sys.modules only: never imports pyspark, so the Spark-free import
    # path below stays Spark-free and a driver is left untouched
    files = sys.modules.get("pyspark.files")
    spark_files = getattr(files, "SparkFiles", None)
    return bool(getattr(spark_files, "_is_running_on_worker", False))


if _in_pyspark_worker():
    # every engine Python stage unpickles a function from this package,
    # so each reused worker installs this on its first task
    from . import _pyworker

    _pyworker.install()

# The one-import user surface: session, ingest, SQL front door, ETL —
# resolved LAZILY (PEP 562) so Spark-free consumers (the pcap-dump
# debug CLI, the pure decode kernel) never pay the pyspark/pandas/
# pyarrow import cost, and the package imports cleanly without Spark.
_EXPORTS = {
    "get_spark": ("hadoop_pcap_spark.session", "get_spark"),
    "read_pcap": ("hadoop_pcap_spark.sources", "read_pcap"),
    "write_packets_parquet": (
        "hadoop_pcap_spark.sources.pcap_source", "write_packets_parquet"),
    "write_pcap": ("hadoop_pcap_spark.sources.pcap_source", "write_pcap"),
    "register_packets_view": ("hadoop_pcap_spark.sql", "register_packets_view"),
    "register_warehouse_views": ("hadoop_pcap_spark.sql", "register_warehouse_views"),
}

__all__ = [*_EXPORTS, "__version__"]


def __getattr__(name):
    try:
        mod_name, attr = _EXPORTS[name]
    except KeyError:
        raise AttributeError(f"module {__name__!r} has no attribute {name!r}") from None
    import importlib

    return getattr(importlib.import_module(mod_name), attr)
