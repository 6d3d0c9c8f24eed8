"""The SQL DDL front door (VERDICT r10 item 4).

The reference's primary documented workflow is Hive DDL over the serde
(hadoop-pcap-serde/README.md:23-44: CREATE EXTERNAL TABLE … ROW FORMAT
SERDE 'net.ripe.hadoop.pcap.serde.PcapDeserializer', then plain SQL).
This module pins exactly what the Spark twin supports:

* ``CREATE TABLE … USING pcap OPTIONS (…)`` — parses and creates the
  catalog entry (schema() receives the options at CREATE time), but
  SELECT fails on Spark 4.1: the scan-time Python worker instantiates
  a fresh DataSource with an EMPTY options dict, so the path never
  reaches the reader.  Upstream limitation, verified empirically by
  dumping the options dict at each call site.  If a future Spark
  release starts forwarding catalog OPTIONS, the first test FAILS on
  purpose so the docs (sources/datasource.py, sql.py, SCALE.md) get
  updated to bless the DDL path.
* ``register_packets_view`` — the supported SQL entry: a temp view
  over the same reader, full SQL including pushdown.
* ``set_pcap_ddl_options`` — the r13 bridge for the pinned gap: a
  session-defaults side channel (file read by the scan worker, which
  imports the DataSource class by reference) that makes SELECT over a
  ``USING pcap`` table work end to end despite the empty options
  dict.  Explicit options still win; the bridge never leaks into
  suites that don't set it (the pinned-failure test requires that).
"""

import os
import re

import pytest

REF_PCAP = "/root/reference/hadoop-pcap-lib/src/test/resources/test.pcap"


def test_create_table_using_pcap_ddl(spark, tmp_path):
    """DDL parses; SELECT pins the documented upstream limitation."""
    from hadoop_pcap_spark.sources.datasource import register_pcap_datasource

    register_pcap_datasource(spark)
    spark.sql("DROP TABLE IF EXISTS _ddl_pcaps_smoke")
    spark.sql(
        f"CREATE TABLE _ddl_pcaps_smoke USING pcap "
        f"OPTIONS (path '{REF_PCAP}', decoder 'dns')"
    )
    try:
        # the catalog entry exists and carries the full decoded schema
        cols = {f.name for f in spark.table("_ddl_pcaps_smoke").schema}
        assert {"src", "dst", "dns_qname", "ts"} <= cols
        try:
            rows = spark.sql(
                "SELECT src, dns_qname FROM _ddl_pcaps_smoke"
            ).collect()
        except Exception as ex:  # the pinned 4.1 behavior
            msg = str(ex)
            # the reader's error must tell the user the supported
            # front doors, not just "path missing"
            assert "register_packets_view" in msg
            assert "CREATE TABLE" in msg
        else:
            pytest.fail(
                "CREATE TABLE … USING pcap now scans successfully "
                f"({len(rows)} rows): Spark started forwarding catalog "
                "OPTIONS to Python data source scans — update "
                "sources/datasource.py, sql.py and SCALE.md to bless "
                "the DDL front door, then invert this test."
            )
    finally:
        spark.sql("DROP TABLE IF EXISTS _ddl_pcaps_smoke")


@pytest.mark.skipif(not os.path.exists(REF_PCAP), reason="reference fixture absent")
def test_ddl_options_bridge_end_to_end(spark):
    """VERDICT r12 item 8: with session defaults set, CREATE TABLE …
    USING pcap + plain SELECT works end to end — decoder option
    included (dns_qname only exists because the 'dns' decoder reached
    the scan).  Uses the REAL default path (the scan worker's env is
    frozen at JVM launch, so an env-redirected path would not reach
    it); the finally clears the defaults so nothing leaks into other
    tests (the pinned-failure test depends on the bridge being
    absent)."""
    from hadoop_pcap_spark.sources.datasource import (
        _ddl_options_path,
        register_pcap_datasource,
        set_pcap_ddl_options,
    )

    register_pcap_datasource(spark)
    spark.sql("DROP TABLE IF EXISTS _ddl_bridge_smoke")
    # the test must use the real default path, so preserve any
    # GENUINE user defaults living there and restore them after
    cfg = _ddl_options_path()
    saved = None
    try:
        with open(cfg, "rb") as f:
            saved = f.read()
    except OSError:
        pass
    set_pcap_ddl_options(path=REF_PCAP, decoder="dns")
    try:
        spark.sql(
            f"CREATE TABLE _ddl_bridge_smoke USING pcap "
            f"OPTIONS (path '{REF_PCAP}', decoder 'dns')"
        )
        rows = spark.sql(
            "SELECT src, dns_qname FROM _ddl_bridge_smoke "
            "WHERE dns_qname IS NOT NULL ORDER BY pkt_no"
        ).collect()
        assert [r.src for r in rows] == ["193.0.10.82", "193.0.14.129"]
        assert {r.dns_qname for r in rows} == {"ripe.net."}
    finally:
        spark.sql("DROP TABLE IF EXISTS _ddl_bridge_smoke")
        set_pcap_ddl_options()  # clear
        if saved is not None:
            with open(cfg, "wb") as f:
                f.write(saved)
    if saved is None and not os.environ.get("SPARK_PCAP_DDL_OPTIONS"):
        # cleared: a fresh scan-time lookup sees no defaults again
        from hadoop_pcap_spark.sources.datasource import _ddl_default_options

        assert _ddl_default_options() == {}


@pytest.mark.skipif(not os.path.exists(REF_PCAP), reason="reference fixture absent")
def test_register_packets_view_sql_front_door(spark):
    """The supported SQL workflow end-to-end on the reference's own
    capture: view registration + plain SQL, matching the serde-table
    README example (qname/src per DNS packet)."""
    from hadoop_pcap_spark.sql import register_packets_view

    register_packets_view(spark, REF_PCAP, name="_pkts_smoke", decoder="dns")
    rows = spark.sql(
        "SELECT src, dns_qname FROM _pkts_smoke "
        "WHERE dns_qname IS NOT NULL ORDER BY pkt_no"
    ).collect()
    # packet 1 is the query from 193.0.10.82, packet 2 the response
    # from the resolver at 193.0.14.129 — both carry qname ripe.net.
    assert [r.src for r in rows] == ["193.0.10.82", "193.0.14.129"]
    assert {r.dns_qname for r in rows} == {"ripe.net."}
    spark.catalog.dropTempView("_pkts_smoke")


# The two tests above read the reference's own capture, which a checkout
# without the reference tree lacks.  Their twins below drive the same
# front doors over pcap/synth.py's ``dns_exchange_pcap()``, a capture
# of the same shape (query + response for ``ripe.net.`` between the
# same two hosts), so the DDL bridge and the view are exercised on
# every host.


@pytest.fixture
def synth_dns_pcap(tmp_path):
    from hadoop_pcap_spark.pcap.synth import dns_exchange_pcap

    p = tmp_path / "dns_exchange.pcap"
    p.write_bytes(dns_exchange_pcap())
    return str(p)


def test_ddl_options_bridge_end_to_end_synth(spark, synth_dns_pcap):
    """CREATE TABLE … USING pcap + plain SELECT through the session
    defaults bridge, over the synthesized DNS exchange; the defaults
    file at the real default path is saved and restored."""
    from hadoop_pcap_spark.sources.datasource import (
        _ddl_options_path,
        register_pcap_datasource,
        set_pcap_ddl_options,
    )

    register_pcap_datasource(spark)
    spark.sql("DROP TABLE IF EXISTS _ddl_bridge_synth")
    cfg = _ddl_options_path()
    saved = None
    try:
        with open(cfg, "rb") as f:
            saved = f.read()
    except OSError:
        pass
    set_pcap_ddl_options(path=synth_dns_pcap, decoder="dns")
    try:
        spark.sql(
            f"CREATE TABLE _ddl_bridge_synth USING pcap "
            f"OPTIONS (path '{synth_dns_pcap}', decoder 'dns')"
        )
        rows = spark.sql(
            "SELECT src, dns_qname FROM _ddl_bridge_synth "
            "WHERE dns_qname IS NOT NULL ORDER BY pkt_no"
        ).collect()
        assert [r.src for r in rows] == ["193.0.10.82", "193.0.14.129"]
        assert {r.dns_qname for r in rows} == {"ripe.net."}
    finally:
        spark.sql("DROP TABLE IF EXISTS _ddl_bridge_synth")
        set_pcap_ddl_options()  # clear
        if saved is not None:
            with open(cfg, "wb") as f:
                f.write(saved)


def test_register_packets_view_sql_front_door_synth(spark, synth_dns_pcap):
    """View registration + plain SQL over the synthesized DNS
    exchange: packet 1 is the query, packet 2 the response."""
    from hadoop_pcap_spark.sql import register_packets_view

    register_packets_view(
        spark, synth_dns_pcap, name="_pkts_synth", decoder="dns"
    )
    rows = spark.sql(
        "SELECT src, dns_qname FROM _pkts_synth "
        "WHERE dns_qname IS NOT NULL ORDER BY pkt_no"
    ).collect()
    assert [r.src for r in rows] == ["193.0.10.82", "193.0.14.129"]
    assert {r.dns_qname for r in rows} == {"ripe.net."}
    spark.catalog.dropTempView("_pkts_synth")


@pytest.mark.parametrize("bad", ["{not json", "[1, 2]", '"path"'])
def test_ddl_default_options_rejects_non_object_json(tmp_path, monkeypatch, bad):
    """A defaults channel holding invalid JSON, or JSON that is not an
    object, raises a ValueError naming the env var or the file, instead
    of being dropped (the scan would then fail with a misleading
    missing-path error, or run with other defaults).  A missing file
    stays a no-op."""
    from hadoop_pcap_spark.sources.datasource import (
        DDL_OPTIONS_ENV,
        DDL_OPTIONS_PATH_ENV,
        _ddl_default_options,
    )

    cfg = tmp_path / "ddl_options.json"
    monkeypatch.setenv(DDL_OPTIONS_PATH_ENV, str(cfg))
    monkeypatch.delenv(DDL_OPTIONS_ENV, raising=False)
    assert _ddl_default_options() == {}

    monkeypatch.setenv(DDL_OPTIONS_ENV, bad)
    with pytest.raises(ValueError, match=DDL_OPTIONS_ENV):
        _ddl_default_options()

    monkeypatch.setenv(DDL_OPTIONS_ENV, '{"Decoder": "dns"}')
    cfg.write_text(bad)
    with pytest.raises(ValueError, match=re.escape(str(cfg))):
        _ddl_default_options()

    cfg.write_text('{"path": "/caps"}')
    assert _ddl_default_options() == {"decoder": "dns", "path": "/caps"}
