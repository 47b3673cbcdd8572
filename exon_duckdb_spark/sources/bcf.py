"""BCF source (binary VCF, BCF2.2 spec).

Parity target: reference ``read_bcf_file_records`` / ``bcf_query`` — same
output schema as the VCF reader (test_vcf_record_scan.test:22-31).

Implementation: BGZF → BCF2 header text (reuses the VCF INFO header
machinery) → binary records decoded with the spec's typed-value encoding.
The INFO struct is header-driven exactly like VCF.

**Byte-splittable.** Splits run the BGZF record walker
(:func:`~exon_duckdb_spark.sources.bgzf.walk_records`); this module gives
it the BCF header-prefix parser, the 8-byte ``l_shared``/``l_indiv``
record prefix (the genotype block is skipped, not read) and the
field-sanity check that resync chains records on (l_shared/l_indiv
bounds, contig id in range, sane pos/rlen/counts, and typed values that
fill the shared block exactly). ``bcf_query`` reads only
the ``.csi`` index's chunk ranges when the index exists, with the exact
region filter applied after.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession

from exon_duckdb_spark.sources.bgzf import BGZF_SPLIT_BYTES, BgzfBuf, open_stream, walk_records
from exon_duckdb_spark.sources.indexes import region_query
from exon_duckdb_spark.sources.splits import FileSplit, expand_paths
from exon_duckdb_spark.sources.vcf import _INFO_RE, VCF_SPAN

__all__ = ["read_bcf", "bcf_query"]


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


# value width per type; the type byte of a single int8/16/32
_TYPE_WIDTH = {0: 0, 1: 1, 2: 2, 3: 4, 5: 4, 7: 1}
_ONE_INT_WIDTH = {0x11: 1, 0x12: 2, 0x13: 4}


def _typed_values_end(buf: bytes, off: int, count: int) -> int | None:
    """Offset just past ``count`` consecutive typed values from ``off``, or
    None when they do not decode inside ``buf``."""
    for _ in range(count):
        if off >= len(buf):
            return None
        t, n = buf[off] & 0x0F, buf[off] >> 4
        off += 1
        if n == 15:  # the length follows as one typed int
            width = _ONE_INT_WIDTH.get(buf[off]) if off < len(buf) else None
            if width is None or off + 1 + width > len(buf):
                return None
            n, off = _decode_typed(buf, off)
            if n is None or n < 0:
                return None
        if t not in _TYPE_WIDTH:
            return None
        off += n * _TYPE_WIDTH[t]
    return off if off <= len(buf) else None


def _read_header(buf: BgzfBuf) -> tuple[bytes, int]:
    """Parse the BCF magic and ``l_text`` prefix at decompressed position 0;
    returns (header text, absolute position of the first record)."""
    head = buf.get(0, 9)
    if head is None or not head.startswith(b"BCF"):
        raise ValueError("not a BCF file")
    (l_text,) = struct.unpack_from("<I", head, 5)
    text = buf.get(9, l_text)
    if text is None:
        raise ValueError("truncated BCF header")
    return text, 9 + l_text


class _BcfRecords:
    """BCF framing for :func:`~exon_duckdb_spark.sources.bgzf.walk_records`:
    an 8-byte ``l_shared``/``l_indiv`` prefix, the shared part (the
    payload), then the per-sample genotype block, which is skipped."""

    prefix = 8

    def __init__(self, n_contigs: int):
        self.n_contigs = n_contigs

    @staticmethod
    def header(buf: BgzfBuf) -> int:
        return _read_header(buf)[1]

    @staticmethod
    def frame(head: bytes) -> tuple[int, int]:
        return struct.unpack("<II", head)

    def plausible(self, buf: BgzfBuf, pos: int) -> int | None:
        """Total length of a plausible BCF record at decompressed pos, or
        None. Field-sanity checks per the BCF2 spec."""
        head = buf.get(pos, 32)
        if head is None:
            return None
        l_shared, l_indiv = struct.unpack_from("<II", head, 0)
        if not (24 <= l_shared <= 1 << 22) or l_indiv > 1 << 22:
            return None
        rid, p0, rlen = struct.unpack_from("<iii", head, 8)
        if not (0 <= rid < self.n_contigs):
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
        # the shared block's typed values (ID, alleles, FILTER, INFO
        # key/value pairs) must fill it exactly
        shared = buf.get(pos + 8, l_shared)
        if shared is None or _typed_values_end(shared, 24, 2 + n_allele + 2 * n_info) != l_shared:
            return None
        return 8 + l_shared + l_indiv


def _parse_bcf_split(split: FileSplit, info_meta: dict[int, tuple[str, str, str]],
                     contigs: list[str]) -> Iterator[dict]:
    for shared, _, _ in walk_records(split, _BcfRecords(len(contigs))):
        yield _decode_site(shared, info_meta, contigs)


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
    import re as _re

    from pyspark.sql import types as T

    from exon_duckdb_spark.sources.schemas import VCF_FIXED_FIELDS

    with open_stream(expand_paths(path)[0]) as buf:
        text = _read_header(buf)[0].decode("utf-8", "replace")

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
    split_bytes: int = BGZF_SPLIT_BYTES,
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
    (rust/src/bcf_query_reader.rs:63). It reads only the ``.csi`` chunk
    ranges when the index exists; the exact overlap filter keeps semantics
    index-independent."""
    return region_query(spark, path, region, read_bcf, VCF_SPAN)
