"""BGZF block layer shared by the BAM and BCF readers, the index builders
and BGZF text formats (.vcf.gz written by bgzip).

BGZF (SAM spec §4.1) is a series of independently-deflated gzip members
whose compressed size is recorded in a BC extra subfield — so a byte range
of the COMPRESSED file can align itself to a block boundary and decompress
just its part, which is what makes these formats cluster-splittable.

BAM and BCF share one framing — a binary header, then length-prefixed
records — and one record walker, :func:`walk_records`. It reads a split
one of two ways:

- a byte-range split (a scan) anchors on the first chain-verified block at
  or after its start, resyncs on a chain of two plausible records, and
  owns the records that start in blocks whose compressed offset lies in
  [start, end);
- a region query's split seeks to each index chunk's virtual offset, an
  exact record start, and walks until the chunk's end: no anchor search
  and no resync.

BGZF text (:func:`parse_bgzf_lines_split`) reads both kinds of split
line by line (:func:`lines_from`). The index builders walk the same
records and lines from offset 0 and take virtual offsets from
:meth:`BgzfBuf.voffset`; :func:`merge_voffset_ranges` turns a region's
index chunks into the ranges a query reads. Files that are not BGZF are
read sequentially by the first split.
"""

from __future__ import annotations

import math
import struct
import zlib
from bisect import bisect_left, bisect_right
from collections.abc import Iterator
from contextlib import contextmanager

from exon_duckdb_spark.sources.splits import (
    FileSplit,
    file_size,
    open_binary,
    open_maybe_compressed,
)

BGZF_MAGIC = b"\x1f\x8b\x08\x04"

__all__ = [
    "BGZF_MAGIC",
    "BGZF_SPLIT_BYTES",
    "bgzf_bsize",
    "bgzf_block",
    "bgzf_compress",
    "block_at",
    "find_block",
    "is_bgzf",
    "BgzfBuf",
    "open_stream",
    "owned_records",
    "walk_records",
    "lines_from",
    "parse_bgzf_lines_split",
    "merge_voffset_ranges",
]

# Split size of BAM/BCF scans, and the compressed span at which a region
# query's chunk ranges start a new task.
BGZF_SPLIT_BYTES = 64 * 1024 * 1024

DEFAULT_BGZF_BLOCK_BYTES = 60_000  # < 64 KiB decompressed, the spec ceiling


def bgzf_block(data: bytes) -> bytes:
    """One BGZF block: a gzip member with the BC/BSIZE extra subfield
    (SAM spec §4.1). ``data`` must be < 64 KiB."""
    co = zlib.compressobj(6, zlib.DEFLATED, -15)
    comp = co.compress(data) + co.flush()
    total = 18 + len(comp) + 8
    header = (
        BGZF_MAGIC + b"\x00" * 4 + b"\x00\xff"
        + struct.pack("<H", 6) + b"BC" + struct.pack("<H", 2)
        + struct.pack("<H", total - 1)
    )
    return header + comp + struct.pack("<II", zlib.crc32(data), len(data) & 0xFFFFFFFF)


def bgzf_compress(payload: bytes, block_bytes: int = DEFAULT_BGZF_BLOCK_BYTES) -> bytes:
    """Payload → BGZF stream (fixed-size blocks + the empty EOF block)."""
    out = bytearray()
    for i in range(0, len(payload), block_bytes):
        out += bgzf_block(payload[i : i + block_bytes])
    out += bgzf_block(b"")
    return bytes(out)


def bgzf_bsize(head: bytes) -> int | None:
    """Compressed block size if ``head`` begins a BGZF block, else None."""
    if head[:4] != BGZF_MAGIC or len(head) < 12:
        return None
    xlen = int.from_bytes(head[10:12], "little")
    if len(head) < 12 + xlen:
        return None
    p, endx = 12, 12 + xlen
    while p + 4 <= endx:
        si1, si2 = head[p], head[p + 1]
        slen = int.from_bytes(head[p + 2 : p + 4], "little")
        if si1 == 66 and si2 == 67 and slen == 2 and p + 6 <= endx:
            bsize = int.from_bytes(head[p + 4 : p + 6], "little") + 1
            return bsize if bsize >= 12 + xlen + 8 else None
        p += 4 + slen
    return None


def block_at(f, coffset: int, file_size: int) -> int | None:
    """bsize if a chain-verified BGZF block starts at coffset, else None."""
    f.seek(coffset)
    head = f.read(min(4096, file_size - coffset))
    bsize = bgzf_bsize(head)
    if bsize is None or coffset + bsize > file_size:
        return None
    if coffset + bsize == file_size:
        return bsize
    f.seek(coffset + bsize)
    nxt = f.read(min(4096, file_size - coffset - bsize))
    return bsize if bgzf_bsize(nxt) is not None else None


def find_block(f, start: int, file_size: int) -> int | None:
    """Compressed offset of the first chain-verified block at-or-after start."""
    pos = start
    overlap = len(BGZF_MAGIC) - 1
    while pos < file_size:
        f.seek(pos)
        window = f.read(min(1 << 20, file_size - pos))
        i = 0
        while True:
            i = window.find(BGZF_MAGIC, i)
            if i < 0:
                break
            if block_at(f, pos + i, file_size) is not None:
                return pos + i
            i += 1
        pos += len(window) - overlap
        if len(window) <= overlap:
            break
    return None


def is_bgzf(path: str) -> bool:
    size = file_size(path)
    with open_binary(path) as f:
        return block_at(f, 0, size) is not None


class BgzfBuf:
    """Sequential decompressed view over BGZF blocks from a start offset,
    tracking which compressed block each decompressed position came from."""

    def __init__(self, f, coffset: int, file_size: int):
        self.f = f
        self.file_size = file_size
        self.next_coffset = coffset
        self.buf = bytearray()
        self.base = 0  # absolute decompressed index of buf[0]
        self.marks: list[int] = []  # abs decompressed start per block
        self.mark_coffsets: list[int] = []

    def _load_block(self) -> bool:
        while True:
            if self.next_coffset >= self.file_size:
                return False
            bsize = block_at(self.f, self.next_coffset, self.file_size)
            if bsize is None:
                raise ValueError(f"corrupt BGZF stream at offset {self.next_coffset}")
            self.f.seek(self.next_coffset)
            raw = self.f.read(bsize)
            data = zlib.decompress(raw, wbits=31)
            coffset = self.next_coffset
            self.next_coffset += bsize
            if not data:
                continue  # EOF marker / empty block — keep going
            self.marks.append(self.base + len(self.buf))
            self.mark_coffsets.append(coffset)
            self.buf.extend(data)
            return True

    def get(self, abs_pos: int, n: int) -> bytes | None:
        """n bytes at absolute decompressed position, or None past EOF."""
        while self.base + len(self.buf) < abs_pos + n:
            if not self._load_block():
                return None
        lo = abs_pos - self.base
        return bytes(self.buf[lo : lo + n])

    def find(self, needle: bytes, abs_pos: int) -> int:
        """Absolute position of needle at-or-after abs_pos, or -1 at EOF."""
        while True:
            i = self.buf.find(needle, max(abs_pos - self.base, 0))
            if i >= 0:
                return self.base + i
            if not self._load_block():
                return -1

    def end_abs(self) -> int:
        return self.base + len(self.buf)

    def block_coffset_of(self, abs_pos: int) -> int:
        """Compressed offset of the block containing abs_pos (must be loaded)."""
        i = bisect_right(self.marks, abs_pos) - 1
        return self.mark_coffsets[i]

    def is_block_start(self, abs_pos: int) -> bool:
        i = bisect_right(self.marks, abs_pos) - 1
        return 0 <= i < len(self.marks) and self.marks[i] == abs_pos

    def voffset(self, abs_pos: int) -> int:
        """Virtual offset (block coffset << 16 | offset in the block) of a
        decompressed position. A position at a block boundary belongs to
        the next block at offset 0, so that block is loaded first; the end
        of the payload belongs to the last block."""
        while abs_pos >= self.base + len(self.buf) and self._load_block():
            pass
        i = bisect_right(self.marks, abs_pos) - 1
        return (self.mark_coffsets[i] << 16) | (abs_pos - self.marks[i])

    def first_block_coffset_at_or_after(self, coffset: int) -> int | None:
        """First (non-empty) loaded block with compressed offset >= coffset."""
        i = bisect_left(self.mark_coffsets, coffset)
        return self.mark_coffsets[i] if i < len(self.mark_coffsets) else None

    def drop_before(self, abs_pos: int) -> None:
        # NEVER advance base past the loaded end: callers skip over bytes
        # they don't read (BCF l_indiv genotype blocks), so abs_pos may
        # point into NOT-YET-LOADED data — setting base there would record
        # the next loaded block at a wrong absolute position and the skip
        # would land mid-genotype, yielding garbage records (silent
        # corruption; only triggered once >1 MiB accumulated, so small
        # test files never tripped it). The unloaded tail is dropped by a
        # later call once it has streamed through.
        abs_pos = min(abs_pos, self.base + len(self.buf))
        cut = abs_pos - self.base
        if cut > 1 << 20:
            keep = bisect_right(self.marks, abs_pos) - 1
            self.marks = self.marks[keep:]
            self.mark_coffsets = self.mark_coffsets[keep:]
            del self.buf[:cut]
            self.base = abs_pos


class _StreamBuf(BgzfBuf):
    """A BgzfBuf over a sequential decompressed stream (plain gzip, or no
    compression). There are no blocks to seek to, so every position
    reports compressed offset 0."""

    def _load_block(self) -> bool:
        data = self.f.read(1 << 16)
        if not data:
            return False
        self.marks.append(self.base + len(self.buf))
        self.mark_coffsets.append(0)
        self.buf.extend(data)
        return True


@contextmanager
def open_stream(path: str, compression: str | None = None) -> Iterator[BgzfBuf]:
    """Sequential decompressed view of a whole file from its first byte.
    ``compression`` None sniffs the gzip magic, so gzip (BGZF included) and
    uncompressed files both read."""
    if compression is None:
        with open_binary(path) as probe:
            compression = "gzip" if probe.read(2) == b"\x1f\x8b" else None
    with open_maybe_compressed(path, compression) as f:
        yield _StreamBuf(f, 0, 0)


def owned_records(buf: BgzfBuf, pos: int, vend: float, fmt) -> Iterator[tuple[bytes, int, int]]:
    """(payload, start, next) of each record from ``pos`` that starts before
    virtual offset ``vend``; ``next`` is where the following record starts.
    The last owned record reads past ``vend`` until it closes. Stops at EOF
    or at a truncated record."""
    prefix, frame = fmt.prefix, fmt.frame
    get, voffset, drop_before = buf.get, buf.voffset, buf.drop_before
    while True:
        head = get(pos, prefix)
        if head is None:
            return
        if voffset(pos) >= vend:
            return  # the next split (or nothing in this chunk) owns it
        n, skip = frame(head)
        payload = get(pos + prefix, n)
        if payload is None:
            return
        nxt = pos + prefix + n + skip
        yield payload, pos, nxt
        pos = nxt
        drop_before(pos)


def _resync_pos(buf: BgzfBuf, pos: int, end: int, fmt) -> int | None:
    """First position at-or-after pos that begins a chain of two plausible
    records (or one ending at EOF), in a block this split owns."""
    while buf.get(pos, fmt.prefix) is not None:
        if buf.block_coffset_of(pos) >= end:
            return None  # past our range — the next split owns it
        ln = fmt.plausible(buf, pos)
        if ln is not None:
            if fmt.plausible(buf, pos + ln) is not None:
                return pos
            # chain broken: accept only a candidate ending EXACTLY at EOF —
            # a garbage length merely overshooting the file must not win
            # (it would swallow the real records behind it)
            if buf.get(pos + ln, 1) is None and pos + ln == buf.end_abs():
                return pos
        pos += 1
    return None


def walk_records(split: FileSplit, fmt) -> Iterator[tuple[bytes, int, int]]:
    """(payload, start, next) of each length-prefixed record this split
    owns (:func:`owned_records`), for a binary header followed by records.

    ``fmt`` describes the format:

    - ``header(buf)`` parses the header at position 0 and returns the first
      record's position;
    - ``prefix`` is the length prefix's width, and ``frame(prefix_bytes)``
      returns (payload length, bytes skipped after the payload);
    - ``plausible(buf, pos)`` returns the total length of a plausible
      record at ``pos``, or None.

    A split with index ``chunks`` seeks to each chunk's start, which is an
    exact record start, and walks until the chunk's end. A byte-range split
    anchors and resyncs instead. A file that is not BGZF cannot split: the
    first split reads the whole stream and the others yield nothing.
    """
    size = file_size(split.path)
    end = split.start + split.length
    with open_binary(split.path) as f:
        if block_at(f, 0, size) is None:
            if split.start == 0:
                with open_stream(split.path, split.compression) as buf:
                    yield from owned_records(buf, fmt.header(buf), math.inf, fmt)
            return
        header_buf = BgzfBuf(f, 0, size)
        first = fmt.header(header_buf)
        if split.chunks:
            for vbeg, vend in split.chunks:
                buf = BgzfBuf(f, vbeg >> 16, size)
                yield from owned_records(buf, vbeg & 0xFFFF, vend, fmt)
            return
        if split.start == 0:
            yield from owned_records(header_buf, first, end << 16, fmt)
            return
        anchor = find_block(f, split.start, size)
        if anchor is None or anchor >= end:
            return
        # If the anchor block still holds header bytes, the header parse
        # knows where the first record starts — resync from there instead
        # of at the block start, so header bytes can't masquerade as a
        # record and the first record in a shared header/record block
        # isn't orphaned.
        if anchor <= header_buf.block_coffset_of(first - 1):
            buf, pos = header_buf, first
        else:
            buf, pos = BgzfBuf(f, anchor, size), 0
        pos = _resync_pos(buf, pos, end, fmt)
        if pos is not None:
            yield from owned_records(buf, pos, end << 16, fmt)


def lines_from(buf: BgzfBuf, pos: int) -> Iterator[tuple[int, int, str]]:
    """(start, next, text) of each line from decompressed position ``pos``
    to EOF: ``next`` is where the following line starts, and ``text`` has
    the newline stripped."""
    while buf.get(pos, 1) is not None:
        nl = buf.find(b"\n", pos)
        if nl < 0:
            end = buf.end_abs()
            yield pos, end, buf.get(pos, end - pos).decode("utf-8", "replace")
            return
        yield pos, nl + 1, buf.get(pos, nl - pos).decode("utf-8", "replace").rstrip("\r")
        pos = nl + 1
        buf.drop_before(pos)


def parse_bgzf_lines_split(split: FileSplit):
    """Lines of a BGZF text file owned by this split, as {"value": line}
    with the newline stripped, in file order.

    A split with index ``chunks`` reads, per chunk, the lines from its
    start (a line start) until its end. A byte-range split follows the
    TextInputFormat convention lifted to blocks:

    - a non-first split skips up to and including the first newline in its
      region (the spanning line belongs to the previous split);
    - a split owns lines starting in blocks with coffset in [start, end);
    - PLUS the line starting exactly at the first byte of the first block
      at-or-after ``end`` (mirror of the skip rule — the next split always
      discards its first line, even a complete one).
    """
    size = file_size(split.path)
    end = split.start + split.length
    with open_binary(split.path) as f:
        if split.chunks:
            for vbeg, vend in split.chunks:
                buf = BgzfBuf(f, vbeg >> 16, size)
                for pos, _, line in lines_from(buf, vbeg & 0xFFFF):
                    if buf.voffset(pos) >= vend:
                        break
                    yield {"value": line}
            return
        if split.start == 0:
            buf, pos = BgzfBuf(f, 0, size), 0
        else:
            anchor = find_block(f, split.start, size)
            if anchor is None or anchor >= end:
                return
            buf = BgzfBuf(f, anchor, size)
            nl = buf.find(b"\n", 0)
            if nl < 0:
                return
            pos = nl + 1

        boundary_line_taken = False
        for pos, _, line in lines_from(buf, pos):
            cpos = buf.block_coffset_of(pos)
            if cpos >= end:
                # Past our range. The one exception: a line starting exactly
                # at the first byte of the FIRST block past end — the next
                # split anchors there and unconditionally discards its first
                # line, so it's ours. Lines at later block starts are found
                # by the next split's newline skip and must NOT be taken.
                if (
                    boundary_line_taken
                    or not buf.is_block_start(pos)
                    or cpos != buf.first_block_coffset_at_or_after(end)
                ):
                    return
                boundary_line_taken = True
            yield {"value": line}


# ---------------------------------------------------------------------------
# Virtual-offset chunks (used by indexes.plan_region_splits)
# ---------------------------------------------------------------------------


def merge_voffset_ranges(chunks: list[tuple[int, int]]) -> list[tuple[int, int]]:
    """Index chunks → sorted, merged virtual-offset ranges. A chunk that
    starts in the block where the previous range ends joins it: the walk
    decodes that block anyway."""
    merged: list[list[int]] = []
    for vbeg, vend in sorted(chunks):
        if merged and vbeg >> 16 <= merged[-1][1] >> 16:
            merged[-1][1] = max(merged[-1][1], vend)
        else:
            merged.append([vbeg, vend])
    return [(vbeg, vend) for vbeg, vend in merged]
