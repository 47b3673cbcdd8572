"""BAM source — pure-Python parser over the public BAM/BGZF spec
(samtools hts-specs), producing the reference's 10 SAM columns.

Parity: reference ``read_bam_file_records`` / ``bam_query`` (exon crate via
noodles; same 10 columns as SAM per test_bam_record_scan.test:6-16).

**Byte-splittable.** Splits run the BGZF record walker
(:func:`~exon_duckdb_spark.sources.bgzf.walk_records`); this module gives
it the BAM header parser, the 4-byte ``block_size`` record prefix and the
field-sanity check that resync chains records on (the Hadoop-BAM/disq
recipe). One 300 GB BAM then fans out across the cluster instead of
serializing on one task. A plain-gzip or uncompressed BAM can't split: the
first split reads it whole.

``bam_query`` reads only the ``.bai`` index's chunk ranges when the index
exists (sources/indexes.py, the same role it plays in the reference) and
applies the exact region-overlap predicate after the scan, so results
never depend on index precision.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession

from exon_duckdb_spark.sources.bgzf import BGZF_SPLIT_BYTES, BgzfBuf, walk_records
from exon_duckdb_spark.sources.indexes import region_query
from exon_duckdb_spark.sources.reader_core import make_reader
from exon_duckdb_spark.sources.schemas import SAM_SCHEMA
from exon_duckdb_spark.sources.splits import FileSplit

__all__ = ["read_bam", "bam_query"]

_CIGAR_OPS = "MIDNSHP=X"
_SEQ_CODES = "=ACMGRSVTWYHKDBN"
_REF_CONSUMING = {0, 2, 3, 7, 8}  # M, D, N, =, X


# ---------------------------------------------------------------------------
# BAM record layer
# ---------------------------------------------------------------------------


class _BamRecords:
    """BAM framing for :func:`~exon_duckdb_spark.sources.bgzf.walk_records`:
    a 4-byte ``block_size`` prefix, then the record."""

    prefix = 4

    def header(self, buf: BgzfBuf) -> int:
        """Parse the BAM header from decompressed position 0 into ``refs``
        (the reference names); returns the absolute position of the first
        alignment record."""
        magic = buf.get(0, 4)
        if magic != b"BAM\x01":
            raise ValueError(f"not a BAM file (bad magic {magic!r})")
        (l_text,) = struct.unpack("<i", buf.get(4, 4))
        pos = 8 + l_text
        (n_ref,) = struct.unpack("<i", buf.get(pos, 4))
        pos += 4
        self.refs: list[str] = []
        for _ in range(n_ref):
            (l_name,) = struct.unpack("<i", buf.get(pos, 4))
            self.refs.append(buf.get(pos + 4, l_name)[:-1].decode())
            pos += 4 + l_name + 4
        return pos

    @staticmethod
    def frame(head: bytes) -> tuple[int, int]:
        return struct.unpack("<i", head)[0], 0

    def plausible(self, buf: BgzfBuf, pos: int) -> int | None:
        """Total on-buffer length (4 + block_size) of a plausible BAM record
        at pos, or None. Field-sanity checks per the BAM spec."""
        n_ref = len(self.refs)
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


def _parse_bam_split(split: FileSplit) -> Iterator[dict]:
    fmt = _BamRecords()
    for rec, _, _ in walk_records(split, fmt):
        yield _decode_record(rec, fmt.refs)


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
    split_bytes: int = BGZF_SPLIT_BYTES,
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
    inclusive region, read from the ``.bai`` chunk ranges when the index
    exists (see :func:`~exon_duckdb_spark.sources.indexes.region_query`)."""
    return region_query(spark, path, region, read_bam, ("reference", "start", "`end`"))
