"""Bounded-memory (chunked) capture ingestion.

The reference streams every capture through a ``DataInputStream`` in
O(1) memory (PcapReader.java:67,75-77 loop / 167-181 per-record
reads); round 1-2 of this repo materialized whole files instead —
``binaryFile``'s ``content`` column caps at 2 GiB and a multi-GiB
rotated capture spiked per-task memory.  This module restores the
reference's physical property for Spark tasks:

* :func:`open_decompressed` — file-like reader with *streaming*
  decompression (gz/bz2/xz stdlib; zstd/lz4 behind import guards;
  snappy falls back to whole-buffer, it has no stdlib stream form).
* :func:`iter_capture_chunks` — yields record-aligned byte chunks,
  each a self-contained classic-pcap "file" (24-byte global header +
  whole records), so the existing scalar and columnar kernels decode
  each chunk unchanged.  Peak memory is ``chunk_bytes`` + the largest
  single record, independent of file size.
* the split index (:func:`index_capture_splits`) — the same walk's
  chunk offsets, published by a whole-file decode as a by-product —
  and :func:`list_captures` + :func:`plan_splits`, the one listing
  and the one planner of every pcap read.

Record alignment: within a chunk the framing walk
(ts_sec,ts_usec,incl_len,orig_len @ incl_len-sized hops) finds the
last complete record; the remainder is carried into the next read.
Only the *final* chunk can end mid-record, which reproduces the
reference's truncated-tail ts-only row (PcapReader.java:177-180)
exactly once, at the true end of file.

pcapng is block-structured with stateful section headers, so it is
not chunked here — the stream is drained whole and handed to the
kernel (``formats.normalize_capture`` does the rewrite).  Classic
captures in all four magic variants (LE/BE × µs/ns) chunk fine: the
framing endianness follows the magic, and the non-strict
normalization inside the kernels is per-record, hence per-chunk safe.
"""

from __future__ import annotations

import bz2
import fnmatch
import gzip
import io
import lzma
import os
import re
import stat
import struct
import zlib
from typing import BinaryIO, Iterator

GLOBAL_HEADER_SIZE = 24
RECORD_HEADER_SIZE = 16
DEFAULT_CHUNK_BYTES = 64 << 20  # 64 MiB: ~0.1 s of decode per chunk,
# small enough that 32 concurrent tasks stay ≪ executor memory

# classic magic (first 4 file bytes read as a little-endian u32: LE µs,
# LE ns, BE µs, BE ns) -> byte order of its record headers' incl_len
_FRAMING = {0xA1B2C3D4: "<I", 0xA1B23C4D: "<I", 0xD4C3B2A1: ">I", 0x4D3CB2A1: ">I"}


# URI schemes routed through pyarrow.fs (when importable).  Hadoop-ish
# aliases map onto the pyarrow-native scheme; anything else is treated
# as a local path.  Listing/opening may still fail at runtime for a
# scheme pyarrow recognises but cannot reach (no credentials, no
# libhdfs) — that surfaces as the task error it is.
_PA_SCHEME_ALIASES = {
    "s3a": "s3", "s3n": "s3", "gcs": "gs", "abfss": "abfs", "wasb": "abfs",
    "wasbs": "abfs",
}
_PA_SCHEMES = {"s3", "gs", "hdfs", "abfs", "mock"}


def uri_scheme(path: str) -> str:
    from urllib.parse import urlparse

    return urlparse(path).scheme.lower()


def supports_scheme(scheme: str) -> bool:
    """Can the chunked reader stream this scheme?  Local always; remote
    schemes when pyarrow.fs is importable."""
    scheme = _PA_SCHEME_ALIASES.get(scheme.lower(), scheme.lower())
    if scheme in ("", "file"):
        return True
    if scheme not in _PA_SCHEMES:
        return False
    try:
        import pyarrow.fs  # noqa: F401

        return True
    except ImportError:
        return False


def _filesystem_for(path: str):
    """(pyarrow FileSystem, inner_path) for a remote URI, or None for
    local paths / file: URIs."""
    scheme = uri_scheme(path)
    mapped = _PA_SCHEME_ALIASES.get(scheme, scheme)
    if mapped in ("", "file") or mapped not in _PA_SCHEMES:
        return None
    import pyarrow.fs as pafs

    if mapped != scheme:
        rest = path[len(scheme):]
        if scheme in ("wasb", "wasbs"):
            # wasb(s) addresses the Blob endpoint; pyarrow's Azure
            # filesystem parses abfs[s] authorities against the Data
            # Lake (dfs) endpoint of the same account — translate the
            # endpoint along with the scheme (ADVICE r3)
            rest = rest.replace(
                ".blob.core.windows.net", ".dfs.core.windows.net", 1
            )
        path = mapped + rest
    return pafs.FileSystem.from_uri(path)


def open_raw(path: str) -> BinaryIO:
    """Seekable binary reader for a local path, ``file:`` URI, or a
    pyarrow.fs-reachable remote URI (O(1) memory either way —
    ``open_input_file`` is a random-access stream, not a download)."""
    remote = _filesystem_for(path)
    if remote is None:
        return open(local_path(path), "rb")
    fs, inner = remote
    return fs.open_input_file(inner)


def open_decompressed(path: str) -> BinaryIO:
    """Open ``path`` with streaming decompression (magic-sniffed, same
    codec set as :func:`..decode.decompress_auto`).  The returned
    file-like only ever holds one read-window in memory."""
    raw = open_raw(path)
    try:
        magic = raw.read(6)
        raw.seek(0)
    except OSError:
        raw.close()
        raise
    lowered = path.lower()
    # a recognizable capture magic wins over a misleading extension
    # (a raw pcap named *.gz must not be fed to GzipFile)
    if len(magic) >= 4:
        if int.from_bytes(magic[:4], "little") in _FRAMING or magic[
            :4
        ] == b"\x0a\x0d\x0d\x0a":
            return raw
    if lowered.endswith(".gz") or magic[:2] == b"\x1f\x8b":
        return gzip.GzipFile(fileobj=raw)  # type: ignore[return-value]
    if lowered.endswith(".bz2") or magic[:3] == b"BZh":
        return bz2.BZ2File(raw)  # type: ignore[return-value]
    if lowered.endswith(".xz") or magic[:6] == b"\xfd7zXZ\x00":
        return lzma.LZMAFile(raw)  # type: ignore[return-value]
    if lowered.endswith(".zst") or magic[:4] == b"\x28\xb5\x2f\xfd":
        try:
            import zstandard
        except ImportError:
            raw.close()
            raise OSError(f"{path}: zstd-compressed; `zstandard` not installed")
        return zstandard.ZstdDecompressor().stream_reader(raw)  # streams
    if lowered.endswith(".lz4") or magic[:4] == b"\x04\x22\x4d\x18":
        try:
            import lz4.frame
        except ImportError:
            raw.close()
            raise OSError(f"{path}: lz4-compressed; `lz4` not installed")
        return lz4.frame.open(raw, mode="rb")
    if lowered.endswith(".snappy"):
        # no stdlib streaming form — bounded fallback: snappy block
        # format needs the whole buffer anyway
        from .decode import decompress_auto

        data = raw.read()
        raw.close()
        return io.BytesIO(decompress_auto(data, path))
    return raw


def _walk_chunks(stream: BinaryIO, chunk_bytes: int) -> Iterator[tuple]:
    """The one framing walk, behind chunked decode and the split index:
    reads ``chunk_bytes`` at a time and yields ``(offset, chunk,
    first_pkt)`` — the global header plus the complete records from
    file offset ``offset``, the first numbered ``first_pkt`` — and
    last the bytes after the last complete record (a truncated record,
    or nothing when no chunk came before).

    ``offset`` None marks a stream that cannot be split: one the walk
    cannot frame (``chunk_bytes <= 0``, pcapng, a foreign or short
    header) comes whole as ``(None, stream, None)``; the first
    ``incl_len`` past the sanity bound (a corrupt 0xFFFFFFFF) yields
    ``(None, None, None)`` before the walk reads on, so an indexer
    stops there while a decoder keeps the serial semantics."""
    if chunk_bytes <= 0:
        yield None, stream.read(), None
        return
    header = stream.read(GLOBAL_HEADER_SIZE)
    fmt = _FRAMING.get(int.from_bytes(header[:4], "little"))
    if fmt is None or len(header) < GLOBAL_HEADER_SIZE:
        # kernel decides: empty -> 0 rows, short -> error, pcapng ->
        # normalized, junk -> error
        yield None, header + stream.read(), None
        return
    unpack_u32 = struct.Struct(fmt).unpack_from
    max_incl = max(chunk_bytes, 1 << 26)
    buf = bytearray()
    offset, pkt, framed = GLOBAL_HEADER_SIZE, 1, True
    while True:
        data = stream.read(chunk_bytes)
        if not data:
            break
        buf += data
        pos, n, first = 0, len(buf), pkt
        while pos + RECORD_HEADER_SIZE <= n:
            incl = unpack_u32(buf, pos + 8)[0]
            if framed and incl > max_incl:
                framed = False
                yield None, None, None
            nxt = pos + RECORD_HEADER_SIZE + incl
            if nxt > n:
                break
            pos = nxt
            pkt += 1
        if pos:
            # single-copy assembly (header + aligned records)
            yield offset, b"".join((header, memoryview(buf)[:pos])), first
            del buf[:pos]
            offset += pos
    if buf or offset == GLOBAL_HEADER_SIZE:
        yield offset, b"".join((header, buf)), pkt


def iter_capture_chunks(
    stream: BinaryIO,
    name: str = "",
    chunk_bytes: int = DEFAULT_CHUNK_BYTES,
) -> Iterator[bytes]:
    """Yield self-contained, record-aligned classic-pcap byte chunks.

    Each yielded value starts with the file's own 24-byte global
    header, so the per-file decode kernels accept it verbatim; callers
    stitch ``pkt_no`` continuity (consecutive chunks of the same file
    continue the ordinal).  Non-classic input (pcapng, junk, short
    header) and ``chunk_bytes <= 0`` yield ONE whole-stream chunk so
    error/normalize semantics stay byte-identical with the whole-file
    path.
    """
    for _offset, chunk, _first in _walk_chunks(stream, chunk_bytes):
        if chunk is not None:
            yield chunk


def index_capture_splits(
    path: str, split_bytes: int = DEFAULT_CHUNK_BYTES
) -> "list | None":
    """Record-aligned split index of ONE classic uncompressed capture:
    ``[(offset, n_bytes, first_pkt_no), ...]`` such that each split
    starts on a record boundary and a decoder fed
    ``global_header + file[offset : offset+n_bytes]`` reproduces
    exactly records ``first_pkt_no..`` of the serial decode.

    This is the index that breaks the reference's whole-file
    constraint (io/PcapInputFormat.java:72-75 `isSplitable` → false —
    inherited by S2): pcap framing is a byte-chain (each record header
    states its own length, PcapReader.java:167-181), so SPLITTING
    requires one sequential walk — the one the chunked decode runs
    (:func:`_walk_chunks`), which is why a whole-file decode publishes
    this index as a by-product.  Returns None when the input cannot
    be range-split (compressed stream, pcapng, short/foreign header,
    an ``incl_len`` past the sanity bound).

    The truncated tail, if any, rides in the LAST split so the
    ts-only-row semantics (PcapReader.java:177-180, D3) land exactly
    once at the true end of file, byte-identical with serial decode."""
    try:
        raw = open_raw(path)
    except OSError:
        return None
    with raw:
        splits = []
        for offset, chunk, first_pkt in _walk_chunks(raw, split_bytes):
            if offset is None:
                return None
            splits.append((offset, len(chunk) - GLOBAL_HEADER_SIZE, first_pkt))
        return splits


_INDEX_PREFIX = "pcapidx_"


def _index_ident(path: str, split_bytes: int) -> "str | None":
    """Cache identity of a capture's split index (local path + size +
    mtime_ns + split_bytes), or None when the file cannot be stat'd
    locally (remote URI, vanished file)."""
    lp = local_path(path)
    try:
        st = os.stat(lp)
    except OSError:
        return None
    return f"{lp}|{st.st_size}|{st.st_mtime_ns}|{split_bytes}"


def _read_index(d: str, ident: str) -> tuple:
    """``(hit, splits)`` from ``d/splits.json``; a hit only when the
    stored ident matches (hash-collision / stale guard)."""
    import json

    try:
        with open(os.path.join(d, "splits.json")) as f:
            doc = json.load(f)
    except (OSError, ValueError):
        return False, None
    if doc.get("ident") != ident or "splits" not in doc:
        return False, None
    splits = doc["splits"]
    return True, None if splits is None else [tuple(s) for s in splits]


def _publish_index(path: str, ident: str, splits: "list | None") -> None:
    """Publish ``splits`` (None: the unsplittable marker) under
    ``ident``, taken before the walk, so a capture rewritten during it
    is published under an identity it no longer has.  One atomic
    replace in the staging tmp area (staging.py), not next to the
    capture.  Splits must cover the raw file from a classic magic to
    the identity's size: a compressed capture's walk counts
    decompressed offsets, so it gets the marker.  Best effort."""
    import json
    import tempfile

    from ..staging import keyed_tmp_dir

    if splits is not None:
        try:
            with open_raw(path) as raw:
                magic = int.from_bytes(raw.read(4), "little")
        except OSError:
            return
        if magic not in _FRAMING:
            splits = None
        elif splits[-1][0] + splits[-1][1] != int(ident.rsplit("|", 3)[1]):
            return
    d = keyed_tmp_dir(_INDEX_PREFIX, ident)
    tmp = None
    try:
        os.makedirs(d, exist_ok=True)
        fd, tmp = tempfile.mkstemp(dir=d, suffix=".json")
        with os.fdopen(fd, "w") as f:
            json.dump({"ident": ident, "splits": splits}, f)
        os.replace(tmp, os.path.join(d, "splits.json"))
    except OSError:
        if tmp is not None and os.path.exists(tmp):
            os.unlink(tmp)


def lookup_capture_splits(
    path: str, split_bytes: int = DEFAULT_CHUNK_BYTES
) -> tuple:
    """Walk-free probe of the split-index cache: ``(True, splits)`` when
    an index for this exact file identity is published (``splits`` is
    None for a file cached as unsplittable), ``(False, None)`` on a
    miss or for a file that cannot be stat'd.

    One ``os.stat`` and one small JSON read: no framing walk, no
    ``makedirs``, no sibling sweep — cheap enough to run on the
    driver for every large listed file while planning a query.  The
    only write is a best-effort mtime touch of a hit's dir, the
    staging protocol's reader keep-alive, so an index that queries
    keep hitting is not reclaimed as idle."""
    from ..staging import keyed_tmp_path

    ident = _index_ident(path, split_bytes)
    if ident is None:
        return False, None
    d = keyed_tmp_path(_INDEX_PREFIX, ident)
    hit, splits = _read_index(d, ident)
    if hit:
        try:
            os.utime(d, None)
        except OSError:
            pass
    return hit, splits


_GLOB_CHARS = re.compile(r"[*?\[]")


def list_captures(path: str) -> list:
    """The one file listing behind every pcap read: sorted ``(path,
    size, mtime_ns)`` of the capture files a read of ``path`` decodes,
    sizes and mtimes taken from the listing itself.

    ``path`` is a file, a directory (its top-level files; no
    recursion) or either with a glob in its last component
    (``/caps/*.pcap``), which matches leaf names the way Spark's
    ``pathGlobFilter`` does.  Names starting with ``_`` or ``.``
    (``_SUCCESS``, ``.crc``) are hidden and empty files dropped — the
    rules Spark's file sources apply.  A local file is given by its
    plain absolute path (``file:`` stripped), a remote file by its URI
    (scheme and authority kept).  A path that does not exist raises
    FileNotFoundError.  A remote root costs two requests (its info and
    one listing), never one per file."""
    pattern = None
    cut = path.rfind("/") + 1
    if _GLOB_CHARS.search(path[cut:]):
        path, pattern = path[:cut] or ".", path[cut:]
    remote = _filesystem_for(path)
    if remote is None:
        entries = _local_entries(os.path.abspath(local_path(path)))
    else:
        entries = _remote_entries(path, *remote)
    out = []
    for p, size, mtime_ns in entries:
        name = p.rpartition("/")[2]
        if size and not name.startswith(("_", ".")) and (
            pattern is None or fnmatch.fnmatchcase(name, pattern)
        ):
            out.append((p, size, mtime_ns))
    return sorted(out)


def _local_entries(path: str) -> list:
    st = os.stat(path)
    if not stat.S_ISDIR(st.st_mode):
        return [(path, st.st_size, st.st_mtime_ns)]
    out = []
    with os.scandir(path) as it:
        for e in it:
            if e.is_file():
                est = e.stat()
                out.append((e.path, est.st_size, est.st_mtime_ns))
    return out


def _remote_entries(path: str, fs, inner: str) -> list:
    import pyarrow.fs as pafs

    info = fs.get_file_info(inner)
    if info.type == pafs.FileType.NotFound:
        raise FileNotFoundError(f"Path does not exist: {path}")
    if info.type != pafs.FileType.Directory:
        return [(path, info.size, info.mtime_ns or 0)]
    # listed files are rebuilt as <uri>/<name>: FileInfo.path alone
    # drops the authority (hdfs://namenode:8020/…, abfss://container@…)
    base = path if path.endswith("/") else path + "/"
    return [
        (base + fi.base_name, fi.size, fi.mtime_ns or 0)
        for fi in fs.get_file_info(pafs.FileSelector(inner))
        if fi.type == pafs.FileType.File
    ]


def plan_splits(files, chunk_bytes: int = DEFAULT_CHUNK_BYTES) -> list:
    """The one split planner behind every file-based pcap read:
    :func:`list_captures` entries → ``(path, offset, n_bytes,
    first_pkt)`` descriptors.  A capture larger than ``chunk_bytes``
    whose split index is published becomes that index's splits
    (range-read by :func:`read_split`); every other file one
    whole-file descriptor ``(path, -1, size, 1)`` (streamed by
    :func:`stream_file_chunks`, which publishes a large raw capture's
    index).  Only files larger than ``chunk_bytes`` pay the lookup's
    stat and JSON read."""
    out = []
    for path, size, _mtime_ns in files:
        splits = None
        if 0 < chunk_bytes < size:
            _hit, splits = lookup_capture_splits(path, chunk_bytes)
        if splits:
            out.extend((path, off, n_bytes, first) for off, n_bytes, first in splits)
        else:
            out.append((path, -1, size, 1))
    return out


def read_split(path: str, offset: int, n_bytes: int) -> bytes:
    """One split as a self-contained capture: the global header plus
    ``n_bytes`` from ``offset`` (seek + read — at deployment scale an
    object-store range GET)."""
    with open_raw(path) as f:
        header = f.read(GLOBAL_HEADER_SIZE)
        f.seek(offset)
        return header + f.read(n_bytes)


def local_path(spark_path: str) -> str:
    """``file:/x`` / ``file:///x`` URIs (as emitted by Spark's
    binaryFile source) → a local filesystem path; other strings pass
    through untouched.  binaryFile's ``path`` column is Hadoop's
    ``Path.toString``, which is already unescaped, so only the scheme
    and an empty ``//`` authority are stripped — no URI decoding, which
    would turn ``cap#1.pcap`` into ``cap`` and ``a%41.pcap`` into
    ``aA.pcap``."""
    if spark_path.startswith("file:"):
        p = spark_path[len("file:"):]
        return p[2:] if p.startswith("///") else p
    return spark_path


def stream_error_types(stream) -> tuple:
    """Exception types that signal a broken/corrupt compressed stream
    for this specific reader.  gz/bz2/xz corruption surfaces as
    zlib.error / OSError / EOFError / lzma.LZMAError; zstd raises
    zstandard.ZstdError and python-lz4 a bare RuntimeError — both
    scoped to streams those codecs actually opened, so PERMISSIVE mode
    cannot swallow unrelated errors (ADVICE r3)."""
    errs: list = [OSError, EOFError, ValueError, zlib.error, lzma.LZMAError]
    mod = type(stream).__module__ or ""
    if mod.startswith("zstandard"):
        import zstandard

        errs.append(zstandard.ZstdError)
    elif mod.startswith("lz4"):
        errs.append(RuntimeError)
    return tuple(errs)


def stream_file_chunks(
    paths,
    chunk_bytes: int = DEFAULT_CHUNK_BYTES,
    permissive: bool = False,
    publish_index: bool = False,
) -> Iterator[tuple]:
    """(display_path, chunk_bytes) pairs for a sequence of capture
    files — the chunked drop-in for the ``(path, whole_file_bytes)``
    pairs the ``decode_files_to_*`` consumers take.  Consecutive pairs
    sharing a path are pkt_no-continued by those consumers.

    ``permissive=True`` mirrors DecodeOptions PERMISSIVE for the I/O
    layer the whole-file path never exposed: a file that cannot be
    opened or whose decompression stream breaks mid-read is skipped
    (chunks already yielded stand — the same partial-output semantics
    as a truncated raw capture) instead of failing the task.

    ``publish_index=True`` publishes each file's chunks, once read to
    the end, as its ``chunk_bytes`` split index — or the unsplittable
    marker when the walk could not split it or the stream broke."""
    for p in paths:
        ident = _index_ident(p, chunk_bytes) if publish_index else None
        try:
            f = open_decompressed(p)
        except (OSError, ValueError):
            if permissive:
                continue
            raise
        splits = []
        try:
            with f:
                for offset, chunk, first_pkt in _walk_chunks(f, chunk_bytes):
                    if offset is None:
                        splits = None
                    elif splits is not None:
                        splits.append(
                            (offset, len(chunk) - GLOBAL_HEADER_SIZE, first_pkt)
                        )
                    if chunk is not None:
                        yield p, chunk
        except stream_error_types(f) as exc:
            if ident is not None:
                _publish_index(p, ident, None)
            if permissive:
                continue
            raise OSError(f"{p}: {exc}") from exc
        if ident is not None:
            _publish_index(p, ident, splits)
