"""Python-worker start-up (hadoop_pcap_spark/_pyworker.py), installed
only inside workers: the stat-keyed ``zipimporter.invalidate_caches``
that stops every task from re-reading ``pyspark.zip``'s directory, and
the daemon ``gc`` proxy that freezes what survives each post-task
collection."""

import importlib
import os
import subprocess
import sys
import zipimport

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_workers_skip_rereading_unchanged_archives(spark):
    import hadoop_pcap_spark

    # the driver has pyspark loaded but is no worker: importing the
    # package there leaves the import system alone
    original = zipimport.zipimporter.invalidate_caches
    importlib.reload(hadoop_pcap_spark)
    assert zipimport.zipimporter.invalidate_caches is original

    def probe(batches):
        import importlib
        import zipimport

        import pyarrow as pa

        import hadoop_pcap_spark  # noqa: F401

        reads = []
        read_directory = zipimport._read_directory

        def counting(archive):
            reads.append(archive)
            return read_directory(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({"reads": [len(reads)]})

    rows = spark.range(4, numPartitions=4).mapInArrow(probe, "reads long").collect()
    # one probe per task; Python >= 3.12 re-reads lazily, so 0 there too
    assert [r.reads for r in rows] == [0, 0, 0, 0]


def test_workers_freeze_what_survives_the_post_task_collect(spark):
    """A reused worker that has run an engine task starts the next one
    with the survivors of the daemon's post-task collect frozen, so
    that collect walks only what the later tasks left alive."""

    def probe(batches):
        import gc
        import os
        import sys

        import pyarrow as pa

        # at task start, before this task imports the package: a worker
        # that ran an engine task before has collected and frozen after it
        engine_before = "hadoop_pcap_spark" in sys.modules
        frozen, tracked = gc.get_freeze_count(), len(gc.get_objects())
        import hadoop_pcap_spark  # noqa: F401

        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict(
            {"pid": [os.getpid()], "engine_before": [engine_before],
             "frozen": [frozen], "tracked": [tracked]}
        )

    schema = "pid long, engine_before boolean, frozen long, tracked long"
    rows = []
    for _ in range(3):
        rows += spark.range(4, numPartitions=4).mapInArrow(probe, schema).collect()
    reused = [r for r in rows if r.engine_before]
    assert reused, rows
    for r in reused:
        assert r.frozen > 0, r
        assert r.tracked * 10 < r.frozen, r


_SEMANTICS = r"""
import importlib, os, sys, zipfile, zipimport
from hadoop_pcap_spark import _pyworker

arc = sys.argv[1]


def build(mods):
    # rewritten in place: same inode, so only size/mtime can tell
    with zipfile.ZipFile(arc, "w") as z:
        z.writestr("zpkg/__init__.py", "")
        for m in mods:
            z.writestr(f"zpkg/{m}.py", f"NAME = {m!r}\n")


reads = []
read_directory = zipimport._read_directory


def counting(archive):
    if archive == arc:
        reads.append(archive)
    return read_directory(archive)


zipimport._read_directory = counting
build(["a", "b"])
sys.path.insert(0, arc)
import zpkg.a, zpkg.b
importers = [f for f in sys.path_importer_cache.values()
             if isinstance(f, zipimport.zipimporter) and f.archive == arc]
assert len(importers) == 2, importers  # the archive root and zpkg/

original = zipimport.zipimporter.invalidate_caches
_pyworker.install()
_pyworker.install()
assert zipimport.zipimporter.invalidate_caches is _pyworker._invalidate_caches
assert _pyworker._original is original

# unchanged archive: no re-read, every importer keeps the cached directory
del reads[:]
importlib.invalidate_caches()
assert reads == [], reads
assert all(f._files is zipimport._zip_directory_cache[arc] for f in importers)

# rewritten archive (b removed, added_mod added): one read serves both
# importers, the new module imports and the removed one does not
build(["a", "added_mod"])
importlib.invalidate_caches()
assert len(reads) == 1, reads
assert importlib.import_module("zpkg.added_mod").NAME == "added_mod"
del sys.modules["zpkg.b"]
try:
    importlib.import_module("zpkg.b")
except ModuleNotFoundError:
    pass
else:
    raise AssertionError("zpkg.b still importable after its removal")

# deleted archive: the original behaviour, the directory is dropped
os.remove(arc)
importlib.invalidate_caches()
assert arc not in zipimport._zip_directory_cache
assert all(f._files == {} for f in importers)
assert arc not in _pyworker._keys

# recreated archive: read again
build(["a", "back"])
del reads[:]
importlib.invalidate_caches()
assert len(reads) == 1, reads
assert importlib.import_module("zpkg.back").NAME == "back"
print("OK")
"""

_NOOP = r"""
import sys, zipimport
from hadoop_pcap_spark import _pyworker

if sys.version_info < (3, 12):
    sys.version_info = (3, 12, 0, "final", 0)
original = zipimport.zipimporter.invalidate_caches
_pyworker.install()
assert zipimport.zipimporter.invalidate_caches is original
assert _pyworker._keys == {}
print("OK")
"""


_GC_SEMANTICS = r"""
import gc  # the fake daemon's global, rebound by install()
import gc as gc_module, importlib.machinery, sys, weakref
from hadoop_pcap_spark import _pyworker

main = sys.modules["__main__"]
main.__spec__ = importlib.machinery.ModuleSpec("pyspark.daemon", None)
collect = gc_module.collect
_pyworker.install()
proxy = gc
assert isinstance(proxy, _pyworker._FreezingGC), proxy
assert gc_module.collect is collect  # the gc module itself is left alone
assert proxy.get_threshold() == gc_module.get_threshold()  # the rest delegates
_pyworker.install()
assert gc is proxy  # a second install is a no-op


class Node:
    pass


finalized = []


def cycle(tag):
    a, b = Node(), Node()
    a.peer, b.peer = b, a
    weakref.finalize(a, finalized.append, tag)
    return a


cycle("dead")  # garbage at the boundary: collected there
live = cycle("live")  # alive at the boundary: frozen
assert proxy.collect() >= 2
assert finalized == ["dead"], finalized
assert gc_module.get_freeze_count() > 0
assert not any(o is live for o in gc_module.get_objects())

cycle("later")  # garbage made after a freeze: collected at the next one
del live  # a frozen cycle that dies later waits for process exit
proxy.collect()
assert finalized == ["dead", "later"], finalized
print("OK")
"""

_GC_UNTOUCHED = r"""
import gc as _gc, importlib.machinery, sys
from hadoop_pcap_spark import _pyworker

main = sys.modules["__main__"]
_pyworker.install()  # not the daemon
assert not hasattr(main, "gc")
main.gc = _gc
_pyworker.install()
assert main.gc is _gc
# the daemon, but its loop no longer reads a gc global
del main.gc
main.__spec__ = importlib.machinery.ModuleSpec("pyspark.daemon", None)
_pyworker.install()
assert not hasattr(main, "gc")
assert _gc.get_freeze_count() == 0
print("OK")
"""


def _run(script, *args):
    out = subprocess.run(
        [sys.executable, "-c", script, *args],
        cwd=ROOT, capture_output=True, text=True, timeout=120,
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip() == "OK"


@pytest.mark.skipif(sys.version_info >= (3, 12), reason="install() is a no-op")
def test_install_semantics(tmp_path):
    _run(_SEMANTICS, str(tmp_path / "zpkg.zip"))


def test_install_is_noop_on_312_and_later():
    _run(_NOOP)


def test_gc_freeze_semantics():
    _run(_GC_SEMANTICS)


def test_gc_freeze_only_in_the_daemon():
    _run(_GC_UNTOUCHED)
