"""BAM source — pure-Python parser over the public BAM/BGZF spec
(samtools hts-specs), producing the reference's 10 SAM columns.

Parity: reference ``read_bam_file_records`` / ``bam_query`` (exon crate via
noodles; same 10 columns as SAM per test_bam_record_scan.test:6-16).

**Byte-splittable.** BGZF is a series of independently-deflated gzip members
whose compressed size is recorded in a BC extra subfield, so a split can
align itself mid-file: scan the compressed bytes for the next BGZF block
header at-or-after the split offset (chain-verified against the following
block), decompress from there, and resync to the first plausible BAM record
(field-sanity + two-record chain validation — the Hadoop-BAM/disq recipe).
A split owns records whose containing block starts in [start, end); the
last owned record reads past ``end`` until it closes. One 300 GB BAM then
fans out across the cluster instead of serializing on one task.

Files that are gzip-but-not-BGZF (no BC subfield) can't split; the first
split detects this and parses the whole stream, others yield nothing.

``bam_query`` prunes splits to the ``.bai`` index's chunk ranges when the
index exists (sources/indexes.py, the same role it plays in the reference)
and applies the exact region-overlap predicate after the scan, so results
never depend on index precision.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession

from exon_duckdb_spark.sources.bgzf import BgzfBuf, block_at, find_block
from exon_duckdb_spark.sources.indexes import region_query
from exon_duckdb_spark.sources.reader_core import make_reader
from exon_duckdb_spark.sources.schemas import SAM_SCHEMA
from exon_duckdb_spark.sources.splits import FileSplit, open_maybe_compressed

__all__ = ["read_bam", "bam_query"]

_CIGAR_OPS = "MIDNSHP=X"
_SEQ_CODES = "=ACMGRSVTWYHKDBN"
_REF_CONSUMING = {0, 2, 3, 7, 8}  # M, D, N, =, X

DEFAULT_BAM_SPLIT_BYTES = 64 * 1024 * 1024

# BGZF block machinery shared with other BGZF formats (bgzf.py)
_block_at = block_at
_find_block = find_block
_BgzfBuf = BgzfBuf


# ---------------------------------------------------------------------------
# BAM record layer
# ---------------------------------------------------------------------------


def _read_header(buf: _BgzfBuf) -> tuple[list[str], int]:
    """Parse the BAM header from decompressed position 0; returns (refs,
    absolute position of the first alignment record)."""
    magic = buf.get(0, 4)
    if magic != b"BAM\x01":
        raise ValueError(f"not a BAM file (bad magic {magic!r})")
    (l_text,) = struct.unpack("<i", buf.get(4, 4))
    pos = 8 + l_text
    (n_ref,) = struct.unpack("<i", buf.get(pos, 4))
    pos += 4
    refs: list[str] = []
    for _ in range(n_ref):
        (l_name,) = struct.unpack("<i", buf.get(pos, 4))
        refs.append(buf.get(pos + 4, l_name)[:-1].decode())
        pos += 4 + l_name + 4
    return refs, pos


def _plausible_record(buf: _BgzfBuf, pos: int, n_ref: int) -> int | None:
    """Total on-buffer length (4 + block_size) of a plausible BAM record at
    pos, or None. Field-sanity checks per the BAM spec."""
    head = buf.get(pos, 36)
    if head is None:
        return None
    block_size, ref_id, p0, l_read_name, _mapq, _bin, n_cigar, _flag, l_seq, nref, npos = (
        struct.unpack_from("<iiiBBHHHiii", head, 0)
    )
    if not (32 <= block_size <= 64 * 1024 * 1024):
        return None
    if not (-1 <= ref_id < n_ref and -1 <= nref < n_ref):
        return None
    if not (-1 <= p0 < 2**31 - 1 and -1 <= npos < 2**31 - 1):
        return None
    if not (1 <= l_read_name <= 255):
        return None
    if l_seq < 0 or n_cigar < 0:
        return None
    need = 32 + l_read_name + 4 * n_cigar + (l_seq + 1) // 2 + l_seq
    if block_size < need:
        return None
    name = buf.get(pos + 36, l_read_name)
    if name is None or name[-1] != 0:
        return None
    if any(c < 0x21 or c > 0x7E for c in name[:-1]):
        return None
    return 4 + block_size


def _resync(buf: _BgzfBuf, start_abs: int, end_coffset: float, n_ref: int) -> int | None:
    """First absolute position at-or-after start_abs that begins a chain of
    two plausible records (or one ending at EOF), owned by this split."""
    pos = start_abs
    while True:
        if buf.get(pos, 36) is None:
            return None
        if buf.block_coffset_of(pos) >= end_coffset:
            return None  # past our range — the next split owns it
        ln = _plausible_record(buf, pos, n_ref)
        if ln is not None:
            if _plausible_record(buf, pos + ln, n_ref) is not None:
                return pos
            # chain broken: accept only a candidate ending EXACTLY at EOF —
            # a garbage length merely overshooting the file must not win
            if buf.get(pos + ln, 1) is None and pos + ln == buf.end_abs():
                return pos
        pos += 1


def _parse_bam_split(split: FileSplit) -> Iterator[dict]:
    from exon_duckdb_spark.sources.splits import file_size as _fsize
    from exon_duckdb_spark.sources.splits import open_binary

    file_size = _fsize(split.path)
    end = split.start + split.length
    with open_binary(split.path) as f:
        if _block_at(f, 0, file_size) is None:
            # gzip-but-not-BGZF: unsplittable; first split takes the stream
            if split.start == 0:
                yield from _parse_bam_stream(split)
            return

        header_buf = _BgzfBuf(f, 0, file_size)
        refs, first_rec_abs = _read_header(header_buf)

        if split.start == 0:
            buf, rec_abs = header_buf, first_rec_abs
        else:
            anchor = _find_block(f, split.start, file_size)
            if anchor is None or anchor >= end:
                return
            # If the anchor block still holds header bytes, the header parse
            # knows its exact decompressed position — start the resync right
            # after the header instead of at the block start, so header text
            # can't masquerade as a record and the first record in a shared
            # header/record block isn't orphaned.
            start_scan = 0
            header_end_coffset = (
                header_buf.block_coffset_of(first_rec_abs - 1) if first_rec_abs > 0 else -1
            )
            if anchor <= header_end_coffset:
                if anchor in header_buf.mark_coffsets:
                    idx = header_buf.mark_coffsets.index(anchor)
                    start_scan = max(first_rec_abs - header_buf.marks[idx], 0)
            buf = _BgzfBuf(f, anchor, file_size)
            rec_abs = _resync(buf, start_scan, end, len(refs))
            if rec_abs is None:
                return

        while True:
            head = buf.get(rec_abs, 4)
            if head is None:
                return
            if buf.block_coffset_of(rec_abs) >= end:
                return  # next split owns this record
            (block_size,) = struct.unpack("<i", head)
            rec = buf.get(rec_abs + 4, block_size)
            if rec is None:
                return
            yield _decode_record(rec, refs)
            rec_abs += 4 + block_size
            buf.drop_before(rec_abs)


def _parse_bam_stream(split: FileSplit) -> Iterator[dict]:
    """Sequential whole-stream parse (plain-gzip or uncompressed BAM)."""
    comp = split.compression
    if comp is None:
        # sniff: an UNCOMPRESSED .bam reaches here with compression None,
        # and force-wrapping it in gzip raised BadGzipFile instead of
        # parsing the file the docstring promises to handle
        from exon_duckdb_spark.sources.splits import open_binary

        with open_binary(split.path) as probe:
            comp = "gzip" if probe.read(2) == b"\x1f\x8b" else None
    with open_maybe_compressed(split.path, comp) as f:
        magic = f.read(4)
        if magic != b"BAM\x01":
            raise ValueError(f"{split.path}: not a BAM file (bad magic {magic!r})")
        (l_text,) = struct.unpack("<i", f.read(4))
        f.read(l_text)
        (n_ref,) = struct.unpack("<i", f.read(4))
        refs: list[str] = []
        for _ in range(n_ref):
            (l_name,) = struct.unpack("<i", f.read(4))
            refs.append(f.read(l_name)[:-1].decode())
            f.read(4)  # l_ref
        while True:
            head = f.read(4)
            if len(head) < 4:
                return
            (block_size,) = struct.unpack("<i", head)
            rec = f.read(block_size)
            if len(rec) < block_size:
                return
            yield _decode_record(rec, refs)


# C-speed decode tables (the per-base Python loops were the profiled hot
# spot of the whole BAM scan):
# - 4-bit seq codes: hex() expands each nibble to one hex digit, then a
#   str.translate maps hex digit → base letter — no per-base Python.
_SEQ_NIBBLE_TABLE = str.maketrans("0123456789abcdef", _SEQ_CODES)
# - phred+33: one bytes.translate, then latin-1 decode (identity bytes→chars)
_PHRED33_TABLE = bytes(min(q + 33, 255) for q in range(256))


def _decode_record(rec: bytes, refs: list[str]) -> dict:
    (
        ref_id,
        pos,
        l_read_name,
        mapq,
        _bin,
        n_cigar,
        flag,
        l_seq,
        next_ref_id,
        next_pos,
        _tlen,
    ) = struct.unpack_from("<iiBBHHHiiii", rec, 0)
    off = 32
    name = rec[off : off + l_read_name - 1].decode()
    off += l_read_name

    cigar_ops = struct.unpack_from(f"<{n_cigar}I", rec, off)
    off += 4 * n_cigar
    cigar = "".join(f"{c >> 4}{_CIGAR_OPS[c & 0xF]}" for c in cigar_ops) or None
    ref_len = sum(c >> 4 for c in cigar_ops if (c & 0xF) in _REF_CONSUMING)

    n_seq_bytes = (l_seq + 1) // 2
    seq_packed = rec[off : off + n_seq_bytes]
    off += n_seq_bytes
    sequence = (
        seq_packed.hex().translate(_SEQ_NIBBLE_TABLE)[:l_seq] if l_seq else None
    )

    qual = rec[off : off + l_seq]
    quality = (
        None
        if not l_seq or (qual and qual[0] == 0xFF)
        else qual.translate(_PHRED33_TABLE).decode("latin-1")
    )

    reference = refs[ref_id] if 0 <= ref_id < len(refs) else None
    mate_reference = refs[next_ref_id] if 0 <= next_ref_id < len(refs) else None
    start = pos + 1 if pos >= 0 else None
    end = start + ref_len - 1 if (start is not None and ref_len > 0) else None
    return {
        "name": name,
        "flag": flag,
        "reference": reference,
        "start": start,
        "end": end,
        "mapping_quality": str(mapq),
        "cigar": cigar,
        "mate_reference": mate_reference,
        "sequence": sequence,
        "quality_score": quality,
    }


def read_bam(
    spark: SparkSession,
    path: str | list[str],
    split_bytes: int = DEFAULT_BAM_SPLIT_BYTES,
    _splits=None,
) -> DataFrame:
    """BAM alignments as the 10-column SAM DataFrame (BGZF block-aligned
    splits; see module docstring)."""
    return make_reader(
        spark,
        path,
        SAM_SCHEMA,
        _parse_bam_split,
        compression="none",
        splittable=True,
        split_bytes=split_bytes,
        splits=_splits,
    )


def bam_query(spark: SparkSession, path: str, region: str) -> DataFrame:
    """Region query over BAM — reference ``bam_query(path, region)``
    (rust/src/bam_query_reader.rs:63): alignments overlapping the 1-based
    inclusive region, read from the ``.bai``-pruned splits when the index
    exists (see :func:`~exon_duckdb_spark.sources.indexes.region_query`)."""
    return region_query(
        spark, path, region, read_bam, lambda df: (df.reference, df.start, df.end)
    )
