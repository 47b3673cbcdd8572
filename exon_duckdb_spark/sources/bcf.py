"""BCF source (binary VCF, BCF2.2 spec).

Parity target: reference ``read_bcf_file_records`` / ``bcf_query`` — same
output schema as the VCF reader (test_vcf_record_scan.test:22-31).

Implementation: BGZF → BCF2 header text (reuses the VCF INFO header
machinery) → binary records decoded with the spec's typed-value encoding.
The INFO struct is header-driven exactly like VCF.

**Byte-splittable** like BAM (sources/bgzf.py): splits align to
chain-verified BGZF blocks and resync on a validated chain of BCF records
(l_shared/l_indiv bounds, contig id in range, sane pos/rlen/counts). A
split owns records whose containing block starts in [start, end).
``bcf_query`` prunes splits to the ``.csi`` index's chunk ranges when the
index exists, with the exact region filter applied after.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession

from exon_duckdb_spark.sources.indexes import region_query
from exon_duckdb_spark.sources.splits import FileSplit, open_maybe_compressed
from exon_duckdb_spark.sources.vcf import vcf_span

__all__ = ["read_bcf", "bcf_query"]

DEFAULT_BCF_SPLIT_BYTES = 64 * 1024 * 1024


def _decode_typed(buf: bytes, off: int):
    """Decode one BCF2 typed value; returns (value, new_offset).

    Type byte: low 4 bits = type (1=int8, 2=int16, 3=int32, 5=float,
    7=char), high 4 bits = length (15 → length follows as typed int).
    """
    type_byte = buf[off]
    off += 1
    t = type_byte & 0x0F
    n = type_byte >> 4
    if n == 15:
        n, off = _decode_typed(buf, off)
    if t == 0:
        return None, off
    if t == 1:
        vals = struct.unpack_from(f"<{n}b", buf, off)
        off += n
        vals = [None if v == -128 else v for v in vals]
    elif t == 2:
        vals = struct.unpack_from(f"<{n}h", buf, off)
        off += 2 * n
        vals = [None if v == -32768 else v for v in vals]
    elif t == 3:
        vals = struct.unpack_from(f"<{n}i", buf, off)
        off += 4 * n
        vals = [None if v == -2147483648 else v for v in vals]
    elif t == 5:
        vals = list(struct.unpack_from(f"<{n}f", buf, off))
        off += 4 * n
    elif t == 7:
        s = buf[off : off + n].decode("utf-8", "replace")
        off += n
        return s, off
    else:
        raise ValueError(f"BCF: unsupported type {t}")
    if n == 1:
        return vals[0], off
    return list(vals), off


def _parse_bcf_stream(split: FileSplit, info_meta, contigs) -> Iterator[dict]:
    """Sequential whole-stream parse (plain-gzip BCF)."""
    with open_maybe_compressed(split.path, "gzip") as f:
        magic = f.read(5)
        if magic != b"BCF\x02\x02" and not magic.startswith(b"BCF"):
            raise ValueError(f"{split.path}: not a BCF file")
        (l_text,) = struct.unpack("<I", f.read(4))
        f.read(l_text)  # header text already parsed driver-side
        while True:
            head = f.read(8)
            if len(head) < 8:
                return
            l_shared, l_indiv = struct.unpack("<II", head)
            shared = f.read(l_shared)
            f.read(l_indiv)  # FORMAT/genotype block — exposed as raw count only
            yield _decode_site(shared, info_meta, contigs)


def _plausible_bcf_record(buf, pos: int, n_contigs: int) -> int | None:
    """Total length of a plausible BCF record at decompressed pos, or None.
    Field-sanity checks per the BCF2 spec."""
    head = buf.get(pos, 32)
    if head is None:
        return None
    l_shared, l_indiv = struct.unpack_from("<II", head, 0)
    if not (24 <= l_shared <= 1 << 22) or l_indiv > 1 << 22:
        return None
    rid, p0, rlen = struct.unpack_from("<iii", head, 8)
    if not (0 <= rid < n_contigs):
        return None
    if not (-1 <= p0 < 2**31 - 2) or not (0 <= rlen < 2**29):
        return None
    n_allele_info = struct.unpack_from("<I", head, 24)[0]
    n_allele, n_info = n_allele_info >> 16, n_allele_info & 0xFFFF
    if n_allele > 1000 or n_info > 5000:
        return None
    n_fmt_sample = struct.unpack_from("<I", head, 28)[0]
    if (n_fmt_sample >> 24) > 100:  # n_fmt
        return None
    return 8 + l_shared + l_indiv


def _resync_bcf(buf, start_abs: int, end_coffset: float, n_contigs: int) -> int | None:
    """First position at-or-after start_abs beginning a chain of two
    plausible records (or one ending at EOF), owned by this split."""
    pos = start_abs
    while True:
        if buf.get(pos, 32) is None:
            return None
        if buf.block_coffset_of(pos) >= end_coffset:
            return None
        ln = _plausible_bcf_record(buf, pos, n_contigs)
        if ln is not None:
            if _plausible_bcf_record(buf, pos + ln, n_contigs) is not None:
                return pos
            # chain broken: only accept if the candidate ends EXACTLY at
            # EOF — a garbage length that merely overshoots the file must
            # not win (it would swallow the real records behind it)
            if buf.get(pos + ln, 1) is None and pos + ln == buf.end_abs():
                return pos
        pos += 1


def _parse_bcf_split(split: FileSplit, info_meta: dict[int, tuple[str, str, str]],
                     contigs: list[str]) -> Iterator[dict]:
    from exon_duckdb_spark.sources.bgzf import BgzfBuf, block_at, find_block
    from exon_duckdb_spark.sources.splits import file_size as _fsize
    from exon_duckdb_spark.sources.splits import open_binary

    file_size = _fsize(split.path)
    end = split.start + split.length
    with open_binary(split.path) as f:
        if block_at(f, 0, file_size) is None:
            if split.start == 0:
                yield from _parse_bcf_stream(split, info_meta, contigs)
            return

        header_buf = BgzfBuf(f, 0, file_size)
        magic = header_buf.get(0, 5)
        if magic is None or not magic.startswith(b"BCF"):
            raise ValueError(f"{split.path}: not a BCF file")
        (l_text,) = struct.unpack("<I", header_buf.get(5, 4))
        first_rec_abs = 9 + l_text

        if split.start == 0:
            buf, rec_abs = header_buf, first_rec_abs
        else:
            anchor = find_block(f, split.start, file_size)
            if anchor is None or anchor >= end:
                return
            # same header-block handling as BAM: if the anchor block still
            # holds header text, seed the scan right after the header
            start_scan = 0
            header_end_coffset = (
                header_buf.block_coffset_of(first_rec_abs - 1) if first_rec_abs > 0 else -1
            )
            if anchor <= header_end_coffset and anchor in header_buf.mark_coffsets:
                idx = header_buf.mark_coffsets.index(anchor)
                start_scan = max(first_rec_abs - header_buf.marks[idx], 0)
            buf = BgzfBuf(f, anchor, file_size)
            rec_abs = _resync_bcf(buf, start_scan, end, len(contigs))
            if rec_abs is None:
                return

        while True:
            head = buf.get(rec_abs, 8)
            if head is None:
                return
            if buf.block_coffset_of(rec_abs) >= end:
                return  # next split owns this record
            l_shared, l_indiv = struct.unpack("<II", head)
            shared = buf.get(rec_abs + 8, l_shared)
            if shared is None:
                return
            yield _decode_site(shared, info_meta, contigs)
            rec_abs += 8 + l_shared + l_indiv
            buf.drop_before(rec_abs)


def _decode_site(buf: bytes, info_meta, contigs) -> dict:
    chrom_id, pos, _rlen = struct.unpack_from("<iii", buf, 0)
    qual = struct.unpack_from("<f", buf, 12)[0]
    n_allele_info = struct.unpack_from("<I", buf, 16)[0]
    n_info = n_allele_info & 0xFFFF
    n_allele = n_allele_info >> 16
    # skip n_fmt_sample (3 bytes samples + 1 byte n_fmt)
    off = 24
    vid, off = _decode_typed(buf, off)
    alleles = []
    for _ in range(n_allele):
        a, off = _decode_typed(buf, off)
        alleles.append(a)
    filters, off = _decode_typed(buf, off)
    info = {}
    for _ in range(n_info):
        key_id, off = _decode_typed(buf, off)
        val, off = _decode_typed(buf, off)
        meta = info_meta.get(key_id)
        if meta is None or meta[2].startswith("__"):
            continue  # unknown id or a FILTER/FORMAT dictionary entry
        name, number, vtype = meta
        if vtype == "Flag":
            info[name] = True
        else:
            info[name] = val
    # render the decoded FILTER ids as the VCF-style ';'-joined names
    # (empty vector -> None, matching '.'); id 0 is the implicit PASS
    if filters is None or filters == []:
        filter_out = None
    else:
        ids = filters if isinstance(filters, list) else [filters]
        names = []
        for i in ids:
            meta = info_meta.get(i)
            names.append(
                meta[0] if meta is not None else ("PASS" if i == 0 else str(i))
            )
        filter_out = ";".join(names) if names else None
    # missing float qual is encoded as a specific NaN
    import math

    qual_out = None if (qual != qual or math.isnan(qual)) else qual
    ref = alleles[0] if alleles else None
    alt = alleles[1:] if len(alleles) > 1 else None
    return {
        "chrom": contigs[chrom_id] if 0 <= chrom_id < len(contigs) else str(chrom_id),
        "pos": pos + 1,
        "id": None if vid in (".", "") else vid,
        "ref": ref,
        "alt": alt,
        "qual": qual_out,
        "filter": filter_out,
        "info": info,
    }


def _coerce_info_value(v, dt):
    from pyspark.sql import types as T

    if v is None:
        return False if isinstance(dt, T.BooleanType) else None
    if isinstance(dt, T.ArrayType) and not isinstance(v, list):
        return [v]
    if isinstance(dt, T.ArrayType) and isinstance(dt.elementType, T.StringType):
        return [str(x) for x in v]
    if isinstance(dt, T.StringType):
        return str(v)
    return v


def parse_bcf_records(split: FileSplit, info_meta, contigs, info_fields) -> Iterator[dict]:
    """Records of one split with the info struct coerced to the bind-time
    schema (shared by read_bcf and the SQL UDTF surface)."""
    for rec in _parse_bcf_split(split, info_meta, contigs):
        info = rec["info"]
        rec["info"] = {
            f.name: _coerce_info_value(info.get(f.name), f.dataType)
            for f in info_fields
        }
        yield rec


def bcf_bind(path: str):
    """Bind-time BCF header read: (contigs, IDX→(name, number, type) info
    dictionary, info StructFields, full scan schema). Shared by read_bcf
    and the SQL UDTF surface."""
    import gzip as _gzip
    import re as _re

    from pyspark.sql import types as T

    from exon_duckdb_spark.sources.schemas import VCF_FIXED_FIELDS
    from exon_duckdb_spark.sources.splits import expand_paths
    from exon_duckdb_spark.sources.splits import open_binary as _ob
    from exon_duckdb_spark.sources.vcf import _INFO_RE

    f0 = expand_paths(path)[0]
    with _gzip.GzipFile(fileobj=_ob(f0)) as fh:
        if fh.read(5)[:3] != b"BCF":
            raise ValueError(f"{f0}: not a BCF file")
        (l_text,) = struct.unpack("<I", fh.read(4))
        text = fh.read(l_text).decode("utf-8", "replace")

    contigs: list[str] = []
    info_meta: dict[int, tuple[str, str, str]] = {}
    dict_idx = 0
    # Implicit-dictionary reconstruction follows the BCF2.2 / htslib
    # convention for headers WITHOUT IDX= annotations: PASS is always
    # entry 0 (whether or not a ##FILTER=<ID=PASS> line exists), ids are
    # assigned in order of first appearance across FILTER/INFO/FORMAT, and
    # an ID shared by several classes occupies ONE entry (a fresh index
    # per duplicate line would shift every later entry and silently mis-
    # map INFO keys). Explicit IDX= wins where present (our own writer's
    # contract). FILTER/FORMAT entries carry a sentinel vtype so the
    # filter column can render names without a second dictionary.
    dict_of: dict[str, int] = {"PASS": 0}
    seen_info: set[int] = set()
    for line in text.splitlines():
        if line.startswith("##contig=<ID="):
            m = _re.match(r"##contig=<ID=([^,>]+)", line)
            if m:
                contigs.append(m.group(1))
        elif line.startswith("##FILTER=") or line.startswith("##INFO=") or line.startswith("##FORMAT="):
            id_m = _re.match(r"##(FILTER|INFO|FORMAT)=<ID=([^,>]+)", line)
            if not id_m:
                continue
            kind, name = id_m.group(1), id_m.group(2)
            idm = _re.search(r"IDX=(\d+)", line)
            if idm:
                idx = int(idm.group(1))
                dict_of[name] = idx
                dict_idx = max(dict_idx, idx + 1)
            elif name in dict_of:
                idx = dict_of[name]
            else:
                idx = max(dict_idx, 1)  # 0 is the implicit PASS
                dict_of[name] = idx
                dict_idx = idx + 1
            m = _INFO_RE.match(line) if kind == "INFO" else None
            if m and idx not in seen_info:
                info_meta[idx] = (m.group(1), m.group(2), m.group(3))
                seen_info.add(idx)
            elif idx not in info_meta:
                info_meta[idx] = (name, "", f"__{kind}__")

    info_fields = []
    for _, (name, number, vtype) in sorted(info_meta.items()):
        if vtype.startswith("__"):
            continue  # FILTER/FORMAT dictionary entries, not INFO columns
        if vtype == "Flag" or number == "0":
            dt: T.DataType = T.BooleanType()
        elif number == "1":
            dt = {
                "Integer": T.IntegerType(),
                "Float": T.FloatType(),
            }.get(vtype, T.StringType())
        else:
            dt = T.ArrayType(
                {"Integer": T.IntegerType(), "Float": T.FloatType()}.get(
                    vtype, T.StringType()
                )
            )
        info_fields.append(T.StructField(name, dt, True))

    schema = T.StructType(
        VCF_FIXED_FIELDS + [T.StructField("info", T.StructType(info_fields), True)]
    )
    return contigs, info_meta, info_fields, schema


def read_bcf(
    spark: SparkSession,
    path: str,
    split_bytes: int = DEFAULT_BCF_SPLIT_BYTES,
    _splits=None,
) -> DataFrame:
    """BCF records with header-driven INFO struct (same shape as read_vcf,
    minus per-sample genotype decoding, which the reference goldens never
    exercise). BGZF block-aligned splits; see module docstring."""
    from exon_duckdb_spark.sources.reader_core import make_reader

    contigs, info_meta, info_fields, schema = bcf_bind(path)

    def parse(split: FileSplit) -> Iterator[dict]:
        yield from parse_bcf_records(split, info_meta, contigs, info_fields)

    return make_reader(
        spark, path, schema, parse, compression="none", splittable=True,
        split_bytes=split_bytes, splits=_splits,
    )


def bcf_query(spark: SparkSession, path: str, region: str) -> DataFrame:
    """CSI-region query over BCF — reference ``bcf_query(path, region)``
    (rust/src/bcf_query_reader.rs:63). Splits prune to the ``.csi`` chunk
    ranges when the index exists; the exact overlap filter keeps semantics
    index-independent."""
    return region_query(spark, path, region, read_bcf, vcf_span)
