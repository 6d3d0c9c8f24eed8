"""Identity-keyed tmp staging for derived copies of source tables.

Several surfaces (bench.py's streaming stages, the layout demo
queries) need a derived parquet copy of a source table that is
expensive enough to reuse but must never be served half-written.
The protocol, grown across rounds (ADVICE r4/r5/r6) and in ONE place:

* the dir name is keyed by the SOURCE's identity — abspath + mtime_ns
  + size — so a regenerated table or a different dataset root
  re-stages instead of silently serving other data;
* publication is ATOMIC: :func:`ensure_staged` writes into a unique
  ``<final>.tmp.<rand>`` dir and ``os.rename``\\ s it into place, so
  the final path either doesn't exist or holds one writer's complete
  output — a reader can never observe a mix of two writers' files,
  and a crash mid-write leaves only an orphaned tmp dir (reclaimed by
  the idle sweep), never a poisoned final dir;
* concurrent writers for the SAME key serialize on an ``flock`` over
  ``<final>.lock`` — the loser re-checks completeness after acquiring
  and reuses the winner's publish instead of re-writing;
* Spark's ``_SUCCESS`` marker is the completion witness, checked in
  the tmp dir BEFORE the rename (a failed Spark write never gets
  published) and again at every reuse;
* superseded sibling dirs (same prefix, different key) and orphaned
  ``.tmp.`` dirs — including the CURRENT key's, from a crashed
  writer (ADVICE r7) — are dropped only after >1h idle AND only if
  their stage's ``.lock`` isn't currently held; resolving an
  existing stage touches its mtime, which keeps a reader's dir fresh
  for the duration of the idle window.  The idle window is a
  pragmatic bound, not a lease — readers that outlive it hold a REAL
  lease with :func:`hold_stage` (shared flock on ``<dir>.lock``,
  which every sweep probe respects), so a multi-hour read can pin
  its stage instead of re-resolving per use;
* callers scope ``prefix`` by dataset basename (e.g.
  ``f"bench_stream_docs_{os.path.basename(sf)}_"``) so tmp stays
  legible per dataset — the idle guard, not the prefix, is what makes
  eviction safe.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import shutil
import tempfile
import time
import uuid
from typing import Callable, Iterator

__all__ = [
    "source_key",
    "staged_dir",
    "is_complete",
    "ensure_staged",
    "hold_stage",
    "keyed_tmp_dir",
    "keyed_tmp_path",
]


def source_key(src_path: str, n: int = 12) -> str:
    """Identity key of a source file: md5(abspath | mtime_ns | size)."""
    st = os.stat(src_path)
    return hashlib.md5(
        f"{os.path.abspath(src_path)}|{st.st_mtime_ns}|{st.st_size}".encode()
    ).hexdigest()[:n]


def is_complete(d: str) -> bool:
    return os.path.exists(os.path.join(d, "_SUCCESS"))


def _lock_held_elsewhere(lock_path: str) -> bool:
    """True iff ``lock_path`` exists and another process holds its
    flock right now — the sweep's "don't evict an active stage" probe.
    Best-effort: platforms without fcntl report False (sweep falls
    back to the idle guard alone)."""
    try:
        import fcntl
    except ImportError:  # pragma: no cover - non-POSIX
        return False
    if not os.path.exists(lock_path):
        return False
    try:
        with open(lock_path) as f:
            try:
                fcntl.flock(f, fcntl.LOCK_EX | fcntl.LOCK_NB)
                fcntl.flock(f, fcntl.LOCK_UN)
                return False
            except OSError:
                return True
    except OSError:
        return False


def _sweep_siblings(tmp: str, prefix: str, keep_name: str) -> None:
    """Reclaim same-prefix siblings of ``keep_name`` idle >1h whose
    lock isn't held.  Covers superseded stages (stale source key),
    crashed writers' orphaned ``.tmp.`` dirs — for the current key
    too (ADVICE r7: unconditionally skipping the ``keep_name.tmp.*``
    family left a crashed writer's partial copy unreclaimable while
    its source key stayed live; a LIVE writer's tmp dir is still safe
    because that writer holds ``keep_name.lock`` and its write keeps
    the mtime fresh) — and stale lock files."""
    now = time.time()
    keep_exact = {keep_name, keep_name + ".lock"}
    for old in os.listdir(tmp):
        if not old.startswith(prefix) or old in keep_exact:
            continue  # keep_name itself and its .lock
        p = os.path.join(tmp, old)
        try:
            idle = now - os.stat(p).st_mtime
        except OSError:
            continue
        if idle <= 3600:
            continue
        stem = p[: -len(".lock")] if old.endswith(".lock") else p.split(".tmp.")[0]
        if _lock_held_elsewhere(stem + ".lock"):
            continue
        if os.path.isdir(p):
            shutil.rmtree(p, ignore_errors=True)
        else:
            try:
                os.remove(p)
            except OSError:
                pass


def staged_dir(prefix: str, src_path: str) -> str:
    """Resolve the staging dir for ``prefix`` + ``src_path``'s
    identity, touch it if it already exists (reader keep-alive for
    the idle window), and sweep superseded same-prefix siblings.
    Prefer :func:`ensure_staged`, which adds the atomic write path;
    this resolver alone is for pure readers that know the stage is
    already published."""
    tmp = tempfile.gettempdir()
    name = prefix + source_key(src_path)
    keep = os.path.join(tmp, name)
    if os.path.isdir(keep):
        try:
            os.utime(keep, None)
        except OSError:
            pass
    _sweep_siblings(tmp, prefix, name)
    return keep


def ensure_staged(
    prefix: str, src_path: str, write: Callable[[str], None]
) -> str:
    """Resolve the stage for ``src_path`` and publish it if absent:
    ``write(tmp_dir)`` (typically a Spark ``.write.parquet``) runs
    against a unique tmp dir, its ``_SUCCESS`` is verified, and the
    dir is renamed into place atomically.  Writers for the same key
    serialize on ``flock(<final>.lock)``; the loser reuses the
    winner's publish.  Returns the final dir, complete."""
    final = staged_dir(prefix, src_path)
    if is_complete(final):
        return final
    try:
        import fcntl
    except ImportError:  # pragma: no cover - non-POSIX
        fcntl = None
    lock_path = final + ".lock"
    lf = open(lock_path, "a")
    try:
        if fcntl is not None:
            fcntl.flock(lf, fcntl.LOCK_EX)
        if is_complete(final):  # lost the race: winner already published
            return final
        tmp_dir = final + ".tmp." + uuid.uuid4().hex[:8]
        write(tmp_dir)
        if not is_complete(tmp_dir):
            shutil.rmtree(tmp_dir, ignore_errors=True)
            raise RuntimeError(
                f"staging write for {final!r} produced no _SUCCESS witness"
            )
        if os.path.isdir(final):
            # an incomplete leftover (pre-protocol crash) — safe to
            # drop under the lock: no writer can be mid-write here,
            # and no reader ever reuses a _SUCCESS-less dir
            shutil.rmtree(final, ignore_errors=True)
        os.rename(tmp_dir, final)
        return final
    finally:
        if fcntl is not None:
            try:
                fcntl.flock(lf, fcntl.LOCK_UN)
            except OSError:
                pass
        lf.close()


@contextlib.contextmanager
def hold_stage(d: str) -> Iterator[str]:
    """Reader lease on a staged dir: a SHARED flock on ``<d>.lock``
    for the duration of the ``with`` block.  Every sweep probe
    (:func:`_lock_held_elsewhere`) refuses to reclaim a stage whose
    lock is held, so a read that outlives the 1h idle window keeps
    its dir — the lease the protocol docs used to tell callers to
    build themselves (VERDICT r7 item 4).  Shared mode lets any
    number of readers hold one stage concurrently while still
    serializing against :func:`ensure_staged`'s exclusive writers.
    Best-effort on platforms without fcntl (falls back to the idle
    guard alone, like the sweep probe itself)."""
    try:
        import fcntl
    except ImportError:  # pragma: no cover - non-POSIX
        fcntl = None
    lf = open(d + ".lock", "a")
    try:
        if fcntl is not None:
            fcntl.flock(lf, fcntl.LOCK_SH)
        yield d
    finally:
        if fcntl is not None:
            try:
                fcntl.flock(lf, fcntl.LOCK_UN)
            except OSError:
                pass
        lf.close()


def keyed_tmp_path(prefix: str, key: str, n: int = 12) -> str:
    """The dir :func:`keyed_tmp_dir` resolves to, computed only: no
    touch, no sweep, no mkdir — for read-only probes of a keyed
    artifact."""
    return os.path.join(
        tempfile.gettempdir(), prefix + hashlib.md5(key.encode()).hexdigest()[:n]
    )


def keyed_tmp_dir(prefix: str, key: str, n: int = 12) -> str:
    """Resolve a tmp dir named by ``prefix`` + md5(``key``) with the
    same touch + guarded idle sweep as :func:`staged_dir`, for
    derived artifacts keyed by something other than a source file
    (e.g. streaming_queries' per-invocation sink spills).  The caller
    owns the contents; this only bounds tmp growth."""
    keep = keyed_tmp_path(prefix, key, n)
    tmp, name = os.path.split(keep)
    if os.path.isdir(keep):
        try:
            os.utime(keep, None)
        except OSError:
            pass
    _sweep_siblings(tmp, prefix, name)
    return keep
