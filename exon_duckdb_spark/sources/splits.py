"""File-split planning for record-oriented readers.

The reference streams one Arrow batch pipeline per file
(rust/src/arrow_reader.rs:39-166 — single stream, consumer-side parallelism
only). Spark's unit of parallelism is the file split: the driver plans
(path, start, length) ranges, executors parse their range only — so a
100 TB directory fans out across the cluster with no driver data path.

Record-boundary rule: a split parses records that *begin* at-or-after its
start offset and continues past its end until the record closes (the
standard Hadoop input-split convention). Compressed files (gzip/zstd) are
unsplittable → one split per file, same as the reference's per-file stream.

Object-store paths: any ``scheme://`` URI (``s3://``, ``gs://``,
``file://``, ``hdfs://`` where libhdfs exists) routes through
``pyarrow.fs.FileSystem.from_uri`` — listing, sizing and seekable
byte-range reads all go through the same helpers below, and pyarrow's
filesystems are available inside Python workers (no JVM gateway needed on
executors). The reference registers object stores per-URI the same way
(rust/src/arrow_reader.rs:108; GCS in CHANGELOG.md:20-22). Plain paths
stay on the ``os``/``open`` fast path.
"""

from __future__ import annotations

import glob as _glob
import os
from dataclasses import dataclass

DEFAULT_SPLIT_BYTES = 128 * 1024 * 1024

COMPRESSION_EXTS = {".gz": "gzip", ".gzip": "gzip", ".zst": "zstd", ".zstd": "zstd"}


# ---------------------------------------------------------------------------
# Filesystem seam (local fast path / pyarrow.fs for URIs)
# ---------------------------------------------------------------------------


def is_uri(path: str) -> bool:
    return "://" in path


# scheme → factory(path) -> (pyarrow.fs.FileSystem, in-filesystem path).
# Deployment hook mirroring the reference's per-URI object-store
# registration (rust/src/arrow_reader.rs:108): lets a site route a custom
# scheme (credentialed S3 endpoint, test double, …) through the same seam
# every reader/writer below already uses. Unregistered schemes fall through
# to pyarrow's own resolution.
_FS_FACTORIES: dict = {}


def register_filesystem(scheme: str, factory) -> None:
    """Route ``scheme://`` paths through ``factory(path) -> (FileSystem,
    inner_path)`` instead of ``pyarrow.fs.FileSystem.from_uri``."""
    _FS_FACTORIES[scheme] = factory


def _fs(path: str):
    """(pyarrow FileSystem, in-filesystem path) for a scheme URI."""
    from pyarrow import fs as pafs

    scheme = path.split("://", 1)[0]
    if scheme in _FS_FACTORIES:
        return _FS_FACTORIES[scheme](path)
    return pafs.FileSystem.from_uri(path)


def file_size(path: str) -> int:
    if is_uri(path):
        fs, inner = _fs(path)
        return fs.get_file_info([inner])[0].size
    return os.path.getsize(path)


def path_exists(path: str) -> bool:
    if is_uri(path):
        from pyarrow import fs as pafs

        fs, inner = _fs(path)
        return fs.get_file_info([inner])[0].type != pafs.FileType.NotFound
    return os.path.exists(path)


def is_single_file(path: str) -> bool:
    if is_uri(path):
        from pyarrow import fs as pafs

        fs, inner = _fs(path)
        return fs.get_file_info([inner])[0].type == pafs.FileType.File
    return os.path.isfile(path)


def open_binary(path: str):
    """Seekable binary reader for a local path or a filesystem URI."""
    if is_uri(path):
        fs, inner = _fs(path)
        return fs.open_input_file(inner)
    return open(path, "rb")


def open_output(path: str):
    """Binary writer (local path or filesystem URI). Callers pass FINAL
    bytes (already BGZF/gzip/zstd-compressed when the format calls for
    it), so pyarrow's extension-sniffing compression is explicitly off —
    its 'detect' default would gzip a ``.gz`` path a SECOND time
    (caught by the s3 emulator round trip: a FASTQ written with
    compression='gzip' came back double-compressed)."""
    if is_uri(path):
        fs, inner = _fs(path)
        return fs.open_output_stream(inner, compression=None)
    return open(path, "wb")


@dataclass(frozen=True)
class FileSplit:
    """A compressed byte range [start, start + length) of one file. A
    region query's split also carries the index's virtual-offset ranges
    ``chunks`` (sources/indexes.py); its task reads exactly those."""

    path: str
    start: int
    length: int
    compression: str | None  # None = plain
    chunks: tuple[tuple[int, int], ...] = ()


def detect_compression(path: str, compression: str | None = "auto_detect") -> str | None:
    """Mirror the reference's extension sniffing
    (rust/src/arrow_reader.rs:60-91): auto_detect → by extension, or an
    explicit 'gzip'/'zstd'/'none'."""
    if compression in (None, "none", ""):
        return None
    if compression != "auto_detect":
        if compression not in ("gzip", "zstd"):
            raise ValueError(f"unsupported compression: {compression!r}")
        return compression
    ext = os.path.splitext(path)[1].lower()
    return COMPRESSION_EXTS.get(ext)


def expand_paths(path: str | list[str]) -> list[str]:
    """Path(s) → file list. A directory scans every file in it (reference:
    directory scans in test_fasta_scan.test:55-59); globs are expanded on
    local paths AND on ``scheme://`` URIs (wild final segments and wild
    intermediate directories; each wild level costs one LIST through the
    filesystem seam — bucket names must be literal). URI entries keep
    their scheme, so executors re-open them through the same filesystem.
    """
    paths = [path] if isinstance(path, str) else list(path)
    out: list[str] = []
    for p in paths:
        if is_uri(p):
            out.extend(_expand_uri(p))
            continue
        if os.path.isdir(p):
            # Hadoop hidden-file convention: _SUCCESS markers and .crc
            # checksums are not data.
            out.extend(
                os.path.join(p, f) for f in sorted(os.listdir(p))
                if os.path.isfile(os.path.join(p, f)) and not f.startswith((".", "_"))
            )
        elif any(c in p for c in "*?["):
            hits = sorted(_glob.glob(p))
            if not hits:
                raise FileNotFoundError(f"no files match {p!r}")
            out.extend(hits)
        else:
            if not os.path.isfile(p):
                raise FileNotFoundError(f"no such file: {p!r}")
            out.append(p)
    if not out:
        raise FileNotFoundError(f"no input files under {path!r}")
    return out


def _expand_uri(p: str) -> list[str]:
    import fnmatch
    import posixpath

    from pyarrow import fs as pafs

    scheme = p.split("://", 1)[0]
    if any(c in p for c in "*?["):
        # glob on a URI: list the deepest non-wild parent through the
        # SAME filesystem seam, then fnmatch the remainder (supports
        # wildcards in the final segment and in intermediate dirs, e.g.
        # s3://bkt/d*/part-*.fasta — each wild level is one LIST call).
        # The filesystem must be constructed from the WILD-FREE parent:
        # URI parsing treats '?' as a query separator and would eat it.
        raw = p.split("://", 1)[1]
        wild_at = min(i for i, c in enumerate(raw) if c in "*?[")
        cut = raw.rfind("/", 0, wild_at) + 1  # end of the non-wild parent
        fs, parent_inner = _fs(f"{scheme}://{raw[:cut]}")
        inner = posixpath.join(parent_inner, raw[cut:]) if raw[cut:] else parent_inner
        parts = inner.split("/")
        first_wild = next(
            i for i, seg in enumerate(parts) if any(c in seg for c in "*?[")
        )
        bases = ["/".join(parts[:first_wild])]
        for depth, seg in enumerate(parts[first_wild:], start=first_wild):
            nxt: list[str] = []
            last = depth == len(parts) - 1
            for base in bases:
                if not any(c in seg for c in "*?["):
                    # speculative join; the final is_file check (or the
                    # next level's allow_not_found listing) validates it
                    nxt.append(posixpath.join(base, seg))
                    continue
                kids = fs.get_file_info(
                    pafs.FileSelector(base, recursive=False, allow_not_found=True)
                )
                for k in kids:
                    if fnmatch.fnmatchcase(k.base_name, seg) and (
                        k.is_file if last else not k.is_file
                    ):
                        nxt.append(k.path)
            bases = nxt
        infos = fs.get_file_info(bases) if bases else []
        hits = sorted(f"{scheme}://{k.path}" for k in infos if k.is_file)
        if not hits:
            raise FileNotFoundError(f"no files match {p!r}")
        return hits
    fs, inner = _fs(p)
    info = fs.get_file_info([inner])[0]
    if info.type == pafs.FileType.File:
        return [p]
    if info.type == pafs.FileType.Directory:
        kids = fs.get_file_info(pafs.FileSelector(inner, recursive=False))
        return sorted(
            f"{scheme}://{k.path}"
            for k in kids
            if k.is_file and not k.base_name.startswith((".", "_"))
        )
    raise FileNotFoundError(f"no such file: {p!r}")


def plan_splits(
    path: str | list[str],
    compression: str | None = "auto_detect",
    split_bytes: int = DEFAULT_SPLIT_BYTES,
    splittable: bool = True,
) -> list[FileSplit]:
    splits: list[FileSplit] = []
    for f in expand_paths(path):
        comp = detect_compression(f, compression)
        size = file_size(f)
        if comp is not None or not splittable or size <= split_bytes:
            splits.append(FileSplit(f, 0, size, comp))
        else:
            off = 0
            while off < size:
                splits.append(FileSplit(f, off, min(split_bytes, size - off), comp))
                off += split_bytes
    return splits


def open_maybe_compressed(path: str, compression: str | None):
    """Binary file object for a (possibly compressed) file.

    zstd decodes through pyarrow's bundled codec (no external zstd package
    needed — executor-safe, same Arrow C++ codec Spark itself links);
    mirrors the reference's compression matrix (rust/src/arrow_reader.rs:
    60-91, .gz/.zst variants in test_fasta_scan.test:10-47).
    """
    import io

    if compression == "gzip":
        import gzip

        return gzip.GzipFile(fileobj=open_binary(path))
    if compression == "zstd":
        import pyarrow as pa

        if not pa.Codec.is_available("zstd"):  # pragma: no cover
            raise NotImplementedError("pyarrow built without zstd support")
        # BufferedReader gives the pyarrow stream line iteration + readline
        return io.BufferedReader(pa.CompressedInputStream(open_binary(path), "zstd"))
    f = open_binary(path)
    return io.BufferedReader(f) if is_uri(path) else f
