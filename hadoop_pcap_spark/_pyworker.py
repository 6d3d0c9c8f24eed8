"""Python-worker start-up: two fixed per-task costs of reused workers.

1. Stat-keyed zip-import invalidation.  Before every task a PySpark
   worker calls ``importlib.invalidate_caches()``
   (``pyspark/worker_util.setup_spark_files``).  On Python < 3.12,
   ``zipimport.zipimporter.invalidate_caches`` eagerly re-parses its
   archive's central directory, once per cached importer: a worker
   holds one importer per imported package directory of
   ``pyspark.zip`` (15 or more, over a 1,328-entry archive), so each
   task starts with ~0.2 cpu-s of re-reads of a file that has not
   changed.  CPython 3.12 made the re-read lazy.  The replacement is
   keyed on the archive's ``(st_ino, st_size, st_mtime_ns)``, the rule
   importlib's ``FileFinder`` applies to directories: the directory is
   re-read only when the key differs from the one recorded at that
   archive's last read, or when the stat fails; otherwise the importer
   rebinds the shared cached directory.

2. Freezing what survives the post-task collection.  After every task
   a reused worker runs a full ``gc.collect()`` in PySpark's daemon
   loop (``pyspark/daemon.py``, ``manager``), which walks every
   container object alive in the worker: the ~75k that pyspark,
   pyarrow, numpy, pandas and this package leave behind, at ~40 ms per
   task.  The loop looks up the daemon module's ``gc`` global at each
   call; that global is rebound to :class:`_FreezingGC`, whose
   ``collect()`` runs the same full collection and then moves the
   survivors to the permanent generation (``gc.freeze()``), so later
   collections (the post-task one and the automatic ones inside
   tasks) walk only what the tasks since then left alive.  Garbage
   present at a task boundary is still collected there; a reference
   cycle that was alive at one boundary and dies later is reclaimed
   only when the worker exits.  The process-wide ``gc`` module is left
   alone, so a UDF's own ``gc.collect()`` behaves as before.

The package installs both only inside PySpark workers (see
``hadoop_pcap_spark/__init__.py``); outside them nothing changes.
"""

from __future__ import annotations

import gc
import os
import sys
import zipimport

# archive path -> stat key at its last directory read
_keys: dict[str, tuple[int, int, int]] = {}
_original = None


def _stat_key(path: str) -> tuple[int, int, int]:
    st = os.stat(path)
    return (st.st_ino, st.st_size, st.st_mtime_ns)


def _invalidate_caches(self) -> None:
    """Reload the archive's file data only if the archive changed."""
    archive = self.archive
    try:
        key = _stat_key(archive)
    except OSError:
        key = None
    files = zipimport._zip_directory_cache.get(archive)
    if key is not None and files is not None and _keys.get(archive) == key:
        self._files = files
        return
    # stat before the read: a rewrite racing the read leaves a stale
    # key, which forces one more read next time, never a stale directory
    _original(self)
    if key is not None and archive in zipimport._zip_directory_cache:
        _keys[archive] = key
    else:
        _keys.pop(archive, None)


class _FreezingGC:
    """The daemon's ``gc`` global: ``collect()`` is the full collection
    followed by ``gc.freeze()``; every other attribute is ``gc``'s."""

    def collect(self, *args, **kwargs):
        found = gc.collect(*args, **kwargs)
        gc.freeze()
        return found

    def __getattr__(self, name):
        return getattr(gc, name)


def _install_zip_invalidation() -> None:
    """Install the stat-keyed ``zipimporter.invalidate_caches``.

    Idempotent.  A no-op on Python >= 3.12, whose re-read is already
    lazy.  Archives already in zipimport's directory cache are recorded
    at their current stat key: in a worker, the task that imports this
    package has just re-read every one of them in ``setup_spark_files``.
    """
    global _original
    if sys.version_info >= (3, 12):
        return
    cls = zipimport.zipimporter
    if cls.invalidate_caches is _invalidate_caches:
        return
    for archive in list(zipimport._zip_directory_cache):
        try:
            _keys[archive] = _stat_key(archive)
        except OSError:
            pass
    _original = cls.invalidate_caches
    cls.invalidate_caches = _invalidate_caches


def _install_gc_freeze() -> None:
    """Rebind the PySpark daemon's ``gc`` global to :class:`_FreezingGC`.

    Only when ``__main__`` is ``pyspark.daemon`` (a forked worker keeps
    the daemon as ``__main__``) and its ``gc`` global is still the
    ``gc`` module: a second call, another ``__main__`` or a daemon
    whose loop no longer reads that global leave everything as is.
    """
    main = sys.modules.get("__main__")
    spec = getattr(main, "__spec__", None)
    if getattr(spec, "name", None) != "pyspark.daemon":
        return
    if getattr(main, "gc", None) is gc:
        main.gc = _FreezingGC()


def install() -> None:
    """Install both worker fixes; idempotent."""
    _install_zip_invalidation()
    _install_gc_freeze()
