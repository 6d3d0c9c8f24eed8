"""SparkSession builder with the engine's recommended local config."""

from __future__ import annotations

import os
from types import MappingProxyType

from pyspark.sql import SparkSession

# The engine's session settings.  Every session the repo builds applies
# this mapping (get_spark, bench.py, tools/compare_oracle.py, the test
# fixture) and adds only its own master, partition and memory settings,
# so benchmarks, oracle gates and tests all run what ships.
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
SESSION_CONF = MappingProxyType({
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
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
