"""SparkSession builder with the engine's recommended local config."""

from __future__ import annotations

import os
from types import MappingProxyType

from pyspark.sql import SparkSession

# The engine's session settings.  Every session the repo builds applies
# this mapping (get_spark, which bench.py and the tools/ scripts call,
# and the test fixture) and adds only its own master, partition and
# memory settings, so benchmarks, oracle gates and tests all run what
# ships.
#
# Checkpoint manager: Spark's default FileContext-based manager renames
# through ``AbstractFileSystem.rename``, which on the local filesystem
# looks up link status through ``RawLocalFileSystem.getFileLinkStatus``.
# Without native libhadoop each lookup forks a ``readlink`` process from
# the driver JVM, two per rename: offset log, commit log and every
# state-store delta, ~370 forks per pass of the pcap_stream benchmark
# on a 4-core host.  The FileSystem-based manager renames through
# ``FileSystem.rename`` (no link lookup, no fork) with the same
# exists-then-rename check for non-overwriting renames, and writes the
# same ``.<name>.crc`` checksum files, so checkpoints written by either
# manager resume under the other.  It is the manager Spark itself uses
# for every scheme without a FileContext binding; on HDFS its rename is
# atomic.
#
# Coalescing floor: AQE's parallelismFirst coalescing aims at
# shuffle_bytes / defaultParallelism per partition but never below
# ``coalescePartitions.minPartitionSize`` (Spark's default 1 MiB), so
# any shuffle under ~2 MiB folds into ONE post-shuffle task.  The batch
# L7 operators' connection shuffle is that size on small capture sets
# (~1.1 MB per op on the pcap_l7 benchmark): on a 4-core host their HTTP
# and TLS parse stages each ran as one ~220 ms Python task with 3 cores
# idle, and at a 64 KiB floor run as 4 tasks in ~105-121 ms.
# Only shuffles smaller than defaultParallelism x 1 MiB partition
# differently; larger ones still coalesce toward the 64 MB advisory
# size.  Streaming plans run without AQE and are unaffected.
#
# Call-site capture: with ``spark.python.sql.dataFrameDebugging.enabled``
# (PySpark's default) every Column/DataFrame API call records the
# caller's frame for error messages: ~5 extra py4j round trips per call
# (getActiveSession, a PySparkCurrentOrigin set and clear, conf.get),
# a stack walk and a failed ``import IPython`` that scans sys.path.
# That was half the py4j calls of building the pcap_l7 plans (7,008 ->
# 3,138 over 3 passes; profiled build 1.69 -> 1.15 s), and in plans the
# engine builds the recorded frame is an engine line (``flows.py:85``),
# never the user's.  Off, an error keeps its message and error class;
# only its ``== DataFrame ==`` block names a JVM reflection frame where
# it named a Python file and line.  The conf is static: it takes effect
# only when set before the session starts.
SESSION_CONF = MappingProxyType({
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": "64k",
    "spark.python.sql.dataFrameDebugging.enabled": "false",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.streaming.checkpointFileManagerClass":
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager",
    "spark.ui.enabled": "false",
})


def get_spark(
    app_name: str = "hadoop_pcap_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or cpus
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config(map=SESSION_CONF)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .getOrCreate()
    )
