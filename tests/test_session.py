"""The engine's session settings (``session.SESSION_CONF``) as the
plans see them: small shuffles spread over every core, and Column
calls skip PySpark's call-site capture."""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hadoop_pcap_spark.operators.http import http_objects
from hadoop_pcap_spark.pcap import synth as S
from hadoop_pcap_spark.sources import read_pcap

_COLS = ["file", "src", "dst", "src_port", "dst_port", "protocol", "pkt_no", "payload"]


def _plan_nodes(node):
    """Every node of an executed physical plan, query stages included."""
    yield node
    if node.nodeName().endswith("QueryStage"):
        kids = [node.plan()]
    else:
        seq = node.children()
        kids = [seq.apply(i) for i in range(seq.size())]
    for kid in kids:
        yield from _plan_nodes(kid)


def test_small_connection_shuffle_parses_on_more_than_one_task(spark, tmp_path):
    """4,500 HTTP connections write ~1.4 MiB of connection shuffle: over
    Spark's default 1 MiB coalescing floor, under twice it, so a 1 MiB
    floor folds the whole post-shuffle parse into one task."""
    n_conns = 4500
    (tmp_path / "web.pcap").write_bytes(S.http_tput_pcap(n_conns))
    df = http_objects(read_pcap(spark, str(tmp_path), columns=_COLS, strict_reference=False))
    assert len(df.collect()) == n_conns

    final = df._jdf.queryExecution().executedPlan()
    assert final.nodeName() == "AdaptiveSparkPlan"
    nodes = list(_plan_nodes(final.executedPlan()))
    written = sum(
        n.metrics().apply("shuffleBytesWritten").value()
        for n in nodes
        if n.nodeName() == "Exchange"
    )
    assert written >= 1 << 20, written
    (parse,) = [n for n in nodes if n.nodeName() == "MapInPandas"]
    assert parse.outputPartitioning().numPartitions() > 1


def test_column_calls_skip_call_site_capture(spark, monkeypatch):
    from pyspark.errors import AnalysisException
    from pyspark.errors import utils as err_utils
    from pyspark.sql import functions as F

    calls = []
    capture = err_utils._capture_call_site

    def counted(*a, **k):
        calls.append(a)
        return capture(*a, **k)

    monkeypatch.setattr(err_utils, "_capture_call_site", counted)
    # PySpark caches the conf's value process-wide on first use; read it
    # again from this session
    monkeypatch.setattr(err_utils, "_enable_debugging_cache", None)

    df = spark.range(10).select(
        F.when(F.col("id") % 2 == 0, F.col("id")).otherwise(F.lit(-1)).alias("x"),
        (F.col("id") + 1).alias("y"),
    )
    assert [r.x for r in df.collect()][:3] == [0, -1, 2]
    assert calls == []

    with pytest.raises(AnalysisException):
        spark.range(3).select(F.col("no_such_column")).collect()
