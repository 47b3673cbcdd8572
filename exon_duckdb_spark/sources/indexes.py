"""Binning indexes — ``.bai`` (BAM), ``.tbi`` (tabix, bgzip'd VCF) and
``.csi`` (BCF): building them, reading them, and planning region queries
from them.

All three use one binning scheme: CSI binning with a (min_shift, depth)
pair, of which BAI and TBI are the fixed (14, 5) case (SAM spec §5.3,
tabix.tex, csi.tex). A region query is region → overlapping bins → chunk
virtual-offset ranges → one task per range group
(:func:`plan_region_splits`). Each task seeks straight to its chunks and
reads only them; the exact overlap filter runs after the scan, so results
never depend on the index (:func:`region_query`). The reference uses these
indexes the same way in its region-query TVFs
(rust/src/bam_query_reader.rs:63, vcf_query_reader.rs:31-86).

Building an index is a sequential walk of one file — the cost profile of
``samtools index`` — so it runs driver-side, streaming the BGZF blocks: BAM
and BCF records through the same walker the scans use
(:func:`~exon_duckdb_spark.sources.bgzf.owned_records`), VCF lines through
the same line walker. Only bins are emitted (no linear index or loffset
hints): the readers bound both chunk ends from the bins alone, and an
empty linear index is valid per spec.
"""

from __future__ import annotations

import gzip
import io
import math
import struct

from pyspark.sql import DataFrame, SparkSession

from exon_duckdb_spark.sources.bgzf import (
    BGZF_SPLIT_BYTES,
    BgzfBuf,
    is_bgzf,
    lines_from,
    merge_voffset_ranges,
    owned_records,
)
from exon_duckdb_spark.sources.splits import (
    FileSplit,
    file_size,
    is_single_file,
    open_binary,
    path_exists,
)
from exon_duckdb_spark.sources.vcf import parse_region, region_filter

__all__ = [
    "index_bam",
    "index_vcf",
    "index_bcf",
    "reg2bin",
    "reg2bins",
    "read_index",
    "plan_region_splits",
    "region_query",
]

Bins = dict[int, list[tuple[int, int]]]


def reg2bin(beg: int, end: int, min_shift: int = 14, depth: int = 5) -> int:
    """Smallest bin containing 0-based half-open [beg, end) (csi.tex)."""
    end -= 1
    s, t = min_shift, ((1 << depth * 3) - 1) // 7
    for level in range(depth - 1, -1, -1):
        if beg >> s == end >> s:
            return t + (beg >> s)
        s += 3
        t -= 1 << level * 3
    return 0


def reg2bins(beg: int, end: int, min_shift: int = 14, depth: int = 5) -> list[int]:
    """Every bin overlapping 0-based half-open [beg, end) (csi.tex)."""
    end -= 1
    bins: list[int] = []
    s, t = min_shift + depth * 3, 0
    for level in range(depth + 1):
        bins.extend(range(t + (beg >> s), t + (end >> s) + 1))
        t += 1 << level * 3
        s -= 3
    return bins


def _pack_bins(bins: Bins, csi: bool) -> bytes:
    out = struct.pack("<i", len(bins))
    for bin_id in sorted(bins):
        chunks = bins[bin_id]
        if csi:
            # loffset hint: smallest chunk start (readers may ignore it)
            out += struct.pack("<IQi", bin_id, min(c[0] for c in chunks), len(chunks))
        else:
            out += struct.pack("<Ii", bin_id, len(chunks))
        for beg, end in chunks:
            out += struct.pack("<QQ", beg, end)
    return out


def _add_chunk(bins: dict, bin_id: int, vbeg: int, vend: int) -> None:
    chunks = bins.setdefault(bin_id, [])
    if chunks and chunks[-1][1] >= vbeg:
        chunks[-1] = (chunks[-1][0], max(chunks[-1][1], vend))
    else:
        chunks.append((vbeg, vend))


def index_bam(path: str, out_path: str | None = None) -> str:
    """Build a .bai for a BGZF BAM file (mapped records only, bins without
    linear index). Returns the index path."""
    from exon_duckdb_spark.sources.bam import _REF_CONSUMING, _BamRecords

    fmt = _BamRecords()
    with open_binary(path) as f:
        buf = BgzfBuf(f, 0, file_size(path))
        first = fmt.header(buf)
        refs: list[Bins] = [{} for _ in fmt.refs]
        for rec, beg, nxt in owned_records(buf, first, math.inf, fmt):
            ref_id, p0, l_read_name, _mq, _bin, n_cigar = struct.unpack_from("<iiBBHH", rec, 0)
            if ref_id >= 0 and p0 >= 0:
                reflen = 0
                for c in struct.unpack_from(f"<{n_cigar}I", rec, 32 + l_read_name):
                    if (c & 0xF) in _REF_CONSUMING:
                        reflen += c >> 4
                end0 = p0 + max(reflen, 1)
                _add_chunk(refs[ref_id], reg2bin(p0, end0), buf.voffset(beg), buf.voffset(nxt))
    out = out_path or path + ".bai"
    with open(out, "wb") as f:
        f.write(b"BAI\x01" + struct.pack("<i", len(refs)))
        for bins in refs:
            f.write(_pack_bins(bins, csi=False))
            f.write(struct.pack("<i", 0))  # empty linear index
    return out


def index_vcf(path: str, out_path: str | None = None) -> str:
    """Build a tabix .tbi for a bgzip'd VCF. Returns the index path."""
    names: list[str] = []
    name_ids: dict[str, int] = {}
    refs: list[Bins] = []
    with open_binary(path) as f:
        buf = BgzfBuf(f, 0, file_size(path))
        for pos, line_end, line in lines_from(buf, 0):
            if line and not line.startswith("#"):
                fields = line.split("\t")
                chrom = fields[0]
                p1 = int(fields[1])
                ref = fields[3] if len(fields) > 3 else "N"
                rid = name_ids.get(chrom)
                if rid is None:
                    rid = len(names)
                    name_ids[chrom] = rid
                    names.append(chrom)
                    refs.append({})
                beg0 = p1 - 1
                _add_chunk(
                    refs[rid],
                    reg2bin(beg0, beg0 + max(len(ref), 1)),
                    buf.voffset(pos),
                    buf.voffset(line_end),
                )
    nm = b"".join(n.encode() + b"\x00" for n in names)
    out = out_path or path + ".tbi"
    body = b"TBI\x01" + struct.pack(
        "<8i", len(names), 2, 1, 2, 0, ord("#"), 0, len(nm)
    ) + nm
    for bins in refs:
        body += _pack_bins(bins, csi=False)
        body += struct.pack("<i", 0)  # empty linear index
    with gzip.open(out, "wb") as f:
        f.write(body)
    return out


def index_bcf(
    path: str, out_path: str | None = None, min_shift: int = 14, depth: int = 5
) -> str:
    """Build a .csi for a BGZF BCF file. Returns the index path."""
    from exon_duckdb_spark.sources.bcf import _BcfRecords, _read_header

    with open_binary(path) as f:
        buf = BgzfBuf(f, 0, file_size(path))
        text, first = _read_header(buf)
        n_contigs = text.count(b"##contig=<ID=")
        refs: list[Bins] = [{} for _ in range(n_contigs)]
        for rec, beg, nxt in owned_records(buf, first, math.inf, _BcfRecords(n_contigs)):
            rid, p0, rlen = struct.unpack_from("<iii", rec, 0)
            if 0 <= rid < n_contigs and p0 >= 0:
                _add_chunk(
                    refs[rid],
                    reg2bin(p0, p0 + max(rlen, 1), min_shift, depth),
                    buf.voffset(beg),
                    buf.voffset(nxt),
                )
    out = out_path or path + ".csi"
    body = b"CSI\x01" + struct.pack("<3i", min_shift, depth, 0)
    body += struct.pack("<i", n_contigs)
    for bins in refs:
        body += _pack_bins(bins, csi=True)
    with gzip.open(out, "wb") as f:
        f.write(body)
    return out


def read_index(path: str) -> tuple[int, int, list[str] | None, list[Bins]]:
    """Parse a .bai, .tbi or .csi: (min_shift, depth, sequence names, per
    reference {bin → [(voffset_beg, voffset_end)]}).

    BAI is raw bytes; TBI and CSI are BGZF, which gzip reads as one stream.
    Only tabix names its sequences (names is None otherwise: BAI and CSI
    count references in the data file's header order). The linear index and
    CSI's per-bin loffset are skipped — the bins bound both chunk ends.
    """
    with open_binary(path) as f:
        data = f.read()
    if data[:2] == b"\x1f\x8b":
        data = gzip.decompress(data)
    f = io.BytesIO(data)

    def unpack(fmt: str) -> tuple:
        return struct.unpack(fmt, f.read(struct.calcsize(fmt)))

    magic = f.read(4)
    if magic not in (b"BAI\x01", b"TBI\x01", b"CSI\x01"):
        raise ValueError(f"{path}: not a BAI, TBI or CSI index")
    csi = magic == b"CSI\x01"
    min_shift, depth, names = 14, 5, None
    if csi:
        min_shift, depth, l_aux = unpack("<3i")
        f.read(l_aux)
    (n_ref,) = unpack("<i")
    if magic == b"TBI\x01":
        *_, l_nm = unpack("<7i")
        names = [n.decode() for n in f.read(l_nm).rstrip(b"\x00").split(b"\x00")]
    refs = []
    for _ in range(n_ref):
        bins: Bins = {}
        for _ in range(unpack("<i")[0]):
            bin_id, *_loffset, n_chunk = unpack("<IQi" if csi else "<Ii")
            bins[bin_id] = [unpack("<QQ") for _ in range(n_chunk)]
        if not csi:
            f.read(8 * unpack("<i")[0])  # linear index
        refs.append(bins)
    return min_shift, depth, names, refs


def _sidecar(path: str) -> tuple[str, list[str] | None]:
    """(index suffix, contig names) of a BGZF file, by its payload magic:
    a BAM's .bai and a BCF's .csi count references in header order, so the
    names come from that header; a VCF's .tbi names its own sequences."""
    from exon_duckdb_spark.sources.bam import _BamRecords
    from exon_duckdb_spark.sources.bcf import bcf_bind

    with open_binary(path) as f:
        buf = BgzfBuf(f, 0, file_size(path))
        magic = buf.get(0, 4) or b""
        if magic == b"BAM\x01":
            bam = _BamRecords()
            bam.header(buf)
            return ".bai", bam.refs
    if magic.startswith(b"BCF"):
        return ".csi", bcf_bind(path)[0]
    return ".tbi", None


def plan_region_splits(
    path: str, region: str, split_bytes: int = BGZF_SPLIT_BYTES
):
    """Splits a region query over a BAM, bgzip'd VCF or BCF must read.

    - ``None``: no usable index — no sidecar next to the file, the file is
      not BGZF (virtual offsets would be meaningless), or the path is not a
      single file. The caller reads everything.
    - ``[]``: the contig is absent, so nothing can overlap.
    - otherwise the region's merged chunk ranges
      (:func:`~exon_duckdb_spark.sources.bgzf.merge_voffset_ranges`),
      grouped in file order into splits whose compressed span reaches
      ``split_bytes``: each split is one task that reads only its chunks,
      so a small file's query is one task and a huge region still fans out.
    """
    if not (is_single_file(path) and is_bgzf(path)):
        return None
    suffix, names = _sidecar(path)
    if not path_exists(path + suffix):
        return None
    min_shift, depth, index_names, refs = read_index(path + suffix)
    names = index_names if index_names is not None else names
    chrom, r_start, r_end = parse_region(region)
    if chrom not in names or names.index(chrom) >= len(refs):
        return []
    bins = refs[names.index(chrom)]
    beg0 = r_start - 1 if r_start is not None else 0
    end0 = r_end if r_end is not None else 1 << (min_shift + depth * 3)
    chunks = [
        c for b in reg2bins(beg0, end0, min_shift, depth) for c in bins.get(b, ())
    ]
    groups: list[list[tuple[int, int]]] = []
    for vbeg, vend in merge_voffset_ranges(chunks):
        if groups and (groups[-1][-1][1] >> 16) - (groups[-1][0][0] >> 16) < split_bytes:
            groups[-1].append((vbeg, vend))
        else:
            groups.append([(vbeg, vend)])
    return [
        FileSplit(path, g[0][0] >> 16, (g[-1][1] >> 16) - (g[0][0] >> 16), None, tuple(g))
        for g in groups
    ]


def region_query(
    spark: SparkSession, path: str, region: str, read, span: tuple[str, str, str]
) -> DataFrame:
    """The body of ``bam_query``/``vcf_query``/``bcf_query``: read the
    region's chunk-range splits with ``read(spark, path, _splits=...)`` (one
    task each, no shuffle), then keep records whose ``span`` = (chrom,
    first, last) SQL expressions overlap the 1-based inclusive region. The
    exact filter keeps results independent of the index."""
    splits = plan_region_splits(path, region)
    if splits == []:
        df = read(spark, path).limit(0)
    else:
        df = read(spark, path, _splits=splits)
    return df.where(region_filter(*span, region))
