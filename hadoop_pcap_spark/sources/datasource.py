"""Python DataSource V2: ``spark.read.format("pcap")``.

Spark 4's Python DataSource API
(pyspark.sql.datasource.DataSource) gives the SQL-surface parity the
reference achieved with ``STORED AS INPUTFORMAT 'net.ripe.hadoop.pcap
.io.PcapInputFormat'`` + the Hive SerDe (hadoop-pcap-serde/README.md:
23-44): after ``register_pcap_datasource(spark)`` you can

    spark.read.format("pcap").option("decoder", "dns").load("/caps/*.pcap")

SQL front doors (the reference's primary documented workflow is Hive
DDL): ``CREATE TABLE pcaps USING pcap OPTIONS (path …)`` *parses and
creates the catalog entry* on Spark 4.1 — the schema() call at CREATE
receives the options — but SELECTing the table fails, because the
scan-time Python worker instantiates a fresh DataSource with an EMPTY
options dict (catalog storage properties are not forwarded to Python
data source scans; verified empirically, see
tests/test_sql_ddl.py::test_create_table_using_pcap_ddl which pins the
behavior and will flag the upstream fix).  The supported SQL entry is
``hadoop_pcap_spark.sql.register_packets_view`` (temp view over the
same reader — full pushdown/pruning), matching the serde-table
workflow end to end.

Listing and partitioning: the one file listing
(:func:`..pcap.chunked.list_captures` — a directory's top-level
files, ``_``/``.`` names hidden, empty files dropped, a glob in the
last path component matching leaf names) feeds the one planner
(:func:`..pcap.chunked.plan_splits`): one descriptor per file, except
that a capture larger than ``chunkbytes`` whose split index is
published becomes its record-aligned splits (the reference keeps it in
one task: io/PcapInputFormat.java:72-75).  A batch read packs the
descriptors into byte-balanced partitions, the small-file packing of
the reference's ``CombinePcapInputFormat`` (``read_pcap`` plans the
same descriptors on the driver).  A streaming micro-batch plans one whole-file partition per
new file.  Every partition is decoded on an executor by the decoder
all pcap reads share (:func:`.pcap_source.decode_splits`) into Arrow
RecordBatches.
"""

from __future__ import annotations

import os
from typing import List

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import StructType

from ..pcap.chunked import list_captures, plan_splits
from .pcap_source import _decode_plan, _slice_balanced


class _PcapSplit(InputPartition):
    """One task's split descriptors, each ``(path, offset, n_bytes,
    first_pkt)``."""

    def __init__(self, splits: list):
        self.splits = splits


def _planner_cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # not on Linux
        return os.cpu_count() or 1


def _packed(splits: list, chunk_bytes: int) -> List[_PcapSplit]:
    """``splits`` packed into byte-balanced partitions, the shape of
    the reference's ``CombinePcapInputFormat``: as many as the planning
    host has CPUs, or one per ``chunk_bytes`` of input when that is
    more, and never more than there are descriptors.  (The planner
    runs in a Python worker, which cannot see ``defaultParallelism``.)"""
    n = _planner_cpus()
    if chunk_bytes > 0:
        n = max(n, -(-sum(s[2] for s in splits) // chunk_bytes))
    slices = _slice_balanced([s[2] for s in splits], min(len(splits), n))
    return [_PcapSplit([splits[i] for i in sl]) for sl in slices]


class PcapDataSourceReader(DataSourceReader):
    def __init__(self, schema: StructType, options: dict):
        self._schema = schema
        self._options = options
        self._file_preds: List = []

    def _keep_file(self, path: str) -> bool:
        from pyspark.sql.datasource import (
            EqualTo,
            In,
            StringContains,
            StringStartsWith,
        )

        for f in self._file_preds:
            if isinstance(f, EqualTo) and path != f.value:
                return False
            if isinstance(f, In) and path not in f.value:  # .value is the tuple
                return False
            if isinstance(f, StringStartsWith) and not path.startswith(f.value):
                return False
            if isinstance(f, StringContains) and f.value not in path:
                return False
        return True

    def partitions(self) -> List[InputPartition]:
        path = self._options.get("path")
        if not path:
            raise ValueError(
                "pcap datasource requires a 'path' option. If this table "
                "was created with CREATE TABLE … USING pcap, note that "
                "Spark does not forward catalog-table OPTIONS to Python "
                "data source scans — read with spark.read.format('pcap')"
                ".option('path', …) or register a SQL view via "
                "hadoop_pcap_spark.sql.register_packets_view instead."
            )
        chunk_bytes = _chunk_bytes(self._options)
        files = [f for f in list_captures(path) if self._keep_file(f[0])]
        return _packed(plan_splits(files, chunk_bytes), chunk_bytes)

    def read(self, partition: _PcapSplit):
        """Yields pyarrow RecordBatches (PySpark 4 DataSource API fast
        path) from the decoder every pcap read shares
        (:func:`.pcap_source.decode_splits`): bounded memory
        (``chunkbytes`` option, default 64 MiB), ``mode`` governing
        decode errors and unreadable files alike.  Shared by the batch
        and the streaming reader."""
        from .pcap_source import decode_splits

        if partition is None:  # Spark's one partition for an empty listing
            return
        yield from decode_splits(
            partition.splits,
            self._schema,
            _options_plan(self._options, self._schema)[1],
            _chunk_bytes(self._options),
        )


class PcapPushdownReader(PcapDataSourceReader):
    """Reader with filter pushdown, selected via ``.option("pushdown",
    "true")``.  It cannot be the default: Spark hard-errors on any
    reader that merely *defines* pushFilters while
    ``spark.sql.python.filterPushdown.enabled`` is false (the planning
    worker has no way to let the source inspect that conf), so
    pushdown is double-opt-in — the session conf plus the option."""

    def pushFilters(self, filters):
        """Absorb predicates on the ``file`` column — they prune whole
        files from the listing before any bytes are read (the pcap
        analog of partition pruning: every row of a file carries its
        path as ``file``, so path-level evaluation is EXACT and Spark
        need not re-apply the filter).  Everything else is returned
        for Spark to evaluate post-decode."""
        from pyspark.sql.datasource import (
            EqualTo,
            In,
            IsNotNull,
            StringContains,
            StringStartsWith,
        )

        self._file_preds = []
        for f in filters:
            if getattr(f, "attribute", None) != ("file",):
                yield f
            elif isinstance(f, (EqualTo, In, StringStartsWith, StringContains)):
                self._file_preds.append(f)
            elif isinstance(f, IsNotNull):
                pass  # file is the source path: never null, always true
            else:
                yield f


def _chunk_bytes(options: dict) -> int:
    from ..pcap.chunked import DEFAULT_CHUNK_BYTES

    return int(options.get("chunkbytes", DEFAULT_CHUNK_BYTES))


def _options_plan(options: dict, schema: StructType | None = None) -> tuple:
    """``(schema, DecodeOptions)`` from the DataSource's option strings,
    through the policy every pcap front door shares
    (:func:`.pcap_source._decode_plan`).  The column list is the
    ``columns`` option, or the reader's schema when given (the
    ``columns`` option's or a user-supplied ``.schema(...)``), so a
    pruned schema reaches the decoder as ``wanted``: MD5 / DNS /
    payload work is skipped entirely, matching the reference's
    conditional-decode laziness (PcapReader.java:79-91,184;
    DnsPcapReader.java:38).  The Python
    DSv2 API has no pruneColumns hook yet; when it grows one, wire it
    here and Catalyst projections will prune automatically too."""

    def flag(key: str, default: str) -> bool:
        return str(options.get(key, default)).lower() == "true"

    if schema is not None:
        columns = schema.fieldNames()
    else:
        cols = options.get("columns")
        columns = [c.strip() for c in cols.split(",")] if cols else None
    return _decode_plan(
        options.get("decoder", "ip"),
        columns,
        flag("keepframe", "false"),
        flag("calculatemd5", "false"),
        flag("keeppayload", "true"),
        flag("strictreference", "true"),
        options.get("mode", "FAILFAST"),
    )


class PcapStreamReader(DataSourceStreamReader):
    """Live-capture streaming: each micro-batch decodes the capture
    files that appeared in the directory since the last offset — the
    'live feed = more pcap files arriving' model (SURVEY §2.4
    streaming analogs).  The driver only lists files (the listing
    every pcap read shares, whose sizes it keeps) and plans one
    whole-file :class:`_PcapSplit` per new file; executors decode them
    through :meth:`PcapDataSourceReader.read`, so ``mode`` and
    ``chunkbytes`` mean what they mean for batch ``format("pcap")``.

    Offset (compacted, bounded): ``{"wm": <mtime-ns watermark>,
    "recent": {path: mtime_ns, ...}}``.  A file is *already processed*
    iff its mtime is below the watermark or it appears in ``recent``.
    Each batch advances ``wm`` to ``max_seen_mtime - retention`` and
    prunes ``recent`` entries older than the new watermark, so the
    offset size is bounded by the file-arrival rate × retention window
    instead of growing with every file ever seen (capture-rotation
    dirs run forever).  Files of the current batch are kept in
    ``recent`` unconditionally until the *next* batch, so
    ``partitions(start, end)`` is a pure function of the two offsets
    and a restart replays the exact delta (effectively-once).
    Tradeoff, same as Spark's FileStreamSource ``maxFileAge``: a file
    that first appears with an mtime older than ``retention`` behind
    the newest file is treated as already processed and skipped — set
    option ``offsetretentionsec`` (default 300) to the max expected
    arrival lateness.  Legacy ``{"seen": [...]}`` offsets from
    pre-compaction checkpoints are still understood."""

    def __init__(self, schema: StructType, options: dict):
        self._schema = schema
        self._options = options
        self._path = options.get("path")
        if not self._path:
            raise ValueError("pcap streaming source requires a path")
        self._retention_ns = int(
            float(options.get("offsetretentionsec", "300")) * 1e9
        )
        # the offset the next latestOffset() advances from; a query
        # restarting from a checkpoint seeds it through partitions()
        # (Spark replays the logged batch, or calls partitions(end,
        # end) for a committed one) or commit()
        self._current = None
        self._sizes: dict = {}

    def initialOffset(self) -> dict:
        return {"wm": 0, "recent": {}}

    @staticmethod
    def _processed(start: dict, path: str, mtime_ns: int) -> bool:
        if "seen" in start:  # legacy offset shape
            return path in set(start["seen"])
        return mtime_ns < start.get("wm", 0) or path in start.get("recent", {})

    def latestOffset(self) -> dict:
        if self._current is None:
            self._current = self.initialOffset()
        start = self._current
        listed = list_captures(self._path)
        # sizes for the next partitions(): no per-file request
        self._sizes = {p: size for p, size, _m in listed}
        cur = {p: m for p, _size, m in listed}
        new = [(p, m) for p, m in cur.items() if not self._processed(start, p, m)]
        max_m = max(cur.values(), default=0)
        wm = max(start.get("wm", 0), max_m - self._retention_ns)
        recent = {}
        if "seen" not in start:
            for p, m in start.get("recent", {}).items():
                if m >= wm:
                    recent[p] = m
                elif cur.get(p, -1) >= wm:
                    # live-appended file (e.g. `tcpdump -w current.pcap`):
                    # its mtime keeps advancing, so refresh the entry
                    # instead of pruning — pruning would make the file
                    # look unprocessed and re-deliver it wholesale.
                    # Bounded: one entry per still-being-written file.
                    recent[p] = cur[p]
        else:
            # legacy upgrade: carry the legacy paths with their real
            # mtimes (missing files pin to wm and age out immediately)
            recent.update({p: cur.get(p, wm) for p in start["seen"]})
        # batch files stay in `recent` regardless of wm so that
        # partitions(start, end) can replay them exactly
        recent.update(dict(new))
        self._current = {"wm": wm, "recent": recent}
        return self._current

    def partitions(self, start: dict, end: dict) -> List[InputPartition]:
        if self._current is None:
            self._current = end
        new = sorted(
            p for p, m in end.get("recent", {}).items()
            if not self._processed(start, p, m)
        )
        if any(p not in self._sizes for p in new):
            # a restarted query replaying a logged batch
            self._sizes = {p: size for p, size, _m in list_captures(self._path)}
        # a file gone since it was listed keeps size -1: its read
        # fails (FAILFAST) or skips it (PERMISSIVE)
        return [_PcapSplit([(p, -1, self._sizes.get(p, -1), 1)]) for p in new]

    def commit(self, end: dict) -> None:
        if self._current is None:
            self._current = end

    def read(self, partition: _PcapSplit):
        return PcapDataSourceReader(self._schema, self._options).read(partition)


DDL_OPTIONS_ENV = "SPARK_PCAP_DDL_OPTIONS"
DDL_OPTIONS_PATH_ENV = "SPARK_PCAP_DDL_OPTIONS_PATH"


def _ddl_options_path() -> str:
    return os.environ.get(
        DDL_OPTIONS_PATH_ENV,
        os.path.join(
            os.path.expanduser("~"), ".config", "hadoop_pcap_spark",
            "ddl_options.json",
        ),
    )


def _ddl_default_options() -> dict:
    """Session-default pcap options — the bridge for the pinned Spark
    4.1 gap (module docstring): scan over a ``CREATE TABLE … USING
    pcap`` table instantiates the DataSource with an EMPTY options
    dict in a separate Python worker, so without a side channel the
    path/decoder can never reach the scan.  Two channels, both read
    by the worker because this class is imported by reference there:

    * the ``SPARK_PCAP_DDL_OPTIONS`` env var (JSON) — static: workers
      inherit the JVM's env, which is fixed at JVM LAUNCH, so it only
      helps when exported before the session starts (and on clusters
      via ``spark.executorEnv.``);
    * the defaults FILE (:func:`set_pcap_ddl_options`) — dynamic: a
      driver can set it mid-session; local mode and shared-home
      clusters see it immediately, other clusters ship it with
      ``--files`` + ``SPARK_PCAP_DDL_OPTIONS_PATH``.

    Precedence: explicit reader/DDL options > file > env.  A channel
    holding anything but a JSON object raises ``ValueError`` naming
    it: dropping it would fail the scan with a misleading missing-path
    error, or run it with other defaults.  A missing file adds
    nothing."""
    import json

    def parse(text: str, source: str) -> dict:
        try:
            d = json.loads(text)
        except ValueError as e:
            raise ValueError(
                f"pcap DDL options in {source}: invalid JSON ({e})"
            ) from None
        if not isinstance(d, dict):
            raise ValueError(
                f"pcap DDL options in {source}: expected a JSON object, "
                f"got {type(d).__name__}"
            )
        return {str(k).lower(): str(v) for k, v in d.items()}

    out: dict = {}
    raw = os.environ.get(DDL_OPTIONS_ENV)
    if raw:
        out.update(parse(raw, f"${DDL_OPTIONS_ENV}"))
    path = _ddl_options_path()
    try:
        with open(path) as f:
            text = f.read()
    except FileNotFoundError:
        return out
    out.update(parse(text, path))
    return out


def set_pcap_ddl_options(**options) -> None:
    """Set session-wide default options for the ``pcap`` data source —
    what makes ``SELECT … FROM <table created with USING pcap>`` work
    on Spark 4.1 (VERDICT r12 item 8), where catalog OPTIONS are not
    forwarded to Python data source scans (pinned:
    tests/test_sql_ddl.py).

    ``set_pcap_ddl_options(path="/caps/*.pcap", decoder="dns")`` then
    ``CREATE TABLE pcaps USING pcap OPTIONS (path …, decoder 'dns')``
    (the DDL options still shape the CREATE-time schema; the defaults
    supply the SAME values at scan time — keep them in agreement) and
    plain ``SELECT`` works.  Pass no options to clear.

    Defaults are one-per-user-per-host (a JSON file under
    ``~/.config``, atomically replaced); multiple pcap tables with
    DIFFERENT options should use the fully-supported
    ``hadoop_pcap_spark.sql.register_packets_view`` front door.  On a
    multi-host cluster ship the file with ``--files`` and point
    ``SPARK_PCAP_DDL_OPTIONS_PATH`` (executor env) at it."""
    import json
    import tempfile

    path = _ddl_options_path()
    if not options:
        try:
            os.unlink(path)
        except OSError:
            pass
        return
    os.makedirs(os.path.dirname(path), exist_ok=True)
    fd, tmp = tempfile.mkstemp(dir=os.path.dirname(path))
    with os.fdopen(fd, "w") as f:
        json.dump({str(k).lower(): str(v) for k, v in options.items()}, f)
    os.replace(tmp, path)


class PcapDataSource(DataSource):
    """``format("pcap")`` — typed packet rows straight from capture
    files; batch (`spark.read`) and streaming (`spark.readStream`).

    Options resolve as explicit reader/DDL options over
    :func:`set_pcap_ddl_options` session defaults — the latter exist
    so catalog tables (``USING pcap``) survive Spark 4.1's
    empty-options scan instantiation."""

    def __init__(self, options):
        # enrich (not replace) the provided mapping: the API hands a
        # case-insensitive dict and warns against overriding __init__,
        # so defaults are folded in only where no explicit key exists
        super().__init__(options)
        for k, v in _ddl_default_options().items():
            if k not in self.options:
                self.options[k] = v

    @classmethod
    def name(cls) -> str:
        return "pcap"

    def schema(self) -> StructType:
        """Full wide schema for the decoder, or — with the ``columns``
        option (comma-separated) — the pruned subset, in canonical
        field order.  Pruning reaches the decode kernels: unrequested
        md5/DNS/payload work is skipped, not computed-then-dropped."""
        return _options_plan(self.options)[0]

    def reader(self, schema: StructType) -> PcapDataSourceReader:
        opts = dict(self.options)
        cls = (
            PcapPushdownReader
            if str(opts.get("pushdown", "false")).lower() == "true"
            else PcapDataSourceReader
        )
        return cls(schema, opts)

    def streamReader(self, schema: StructType) -> PcapStreamReader:
        return PcapStreamReader(schema, dict(self.options))


def register_pcap_datasource(spark) -> None:
    spark.dataSource.register(PcapDataSource)
