"""VCF source with header-driven INFO struct.

Parity: reference ``read_vcf_file_records`` — the one file-dependent schema
in the reference: INFO struct fields come from the file's ``##INFO`` header
lines, resolved at bind time (SURVEY §1.1; arrow_table_function/
module.cpp:110-119). We mirror that with a driver-side header peek at plan
time, then parse entirely with native expressions (text scan → split —
Catalyst prunes and pushes down as usual).

``vcf_query(path, region)`` reproduces the tabix-region TVF semantics
(rust/src/vcf_query_reader.rs:31-86): region 'chr' or 'chr:start-end',
1-based inclusive. With a ``.tbi`` next to a bgzip'd file, it reads only
the indexed chunk ranges (sources/indexes.py); the exact overlap filter
runs after the scan, so semantics never depend on the index. bgzip'd files
are block-splittable via sources/bgzf.py.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from exon_duckdb_spark.sources.splits import detect_compression, expand_paths

__all__ = ["read_vcf", "vcf_query", "parse_region"]

_INFO_RE = re.compile(r"##INFO=<ID=([^,>]+),Number=([^,>]+),Type=([^,>]+)")


@dataclass(frozen=True)
class InfoField:
    id: str
    number: str  # '0', '1', 'A', 'R', 'G', '.', or an int string
    type: str  # Integer | Float | Flag | Character | String


def _peek_info_fields(path: str) -> list[InfoField]:
    """Bind-time header read (first file only — the reference never scans
    multi-file VCF with differing headers; match single-file behavior)."""
    import io

    from exon_duckdb_spark.sources.splits import open_maybe_compressed

    f0 = expand_paths(path)[0]
    comp = detect_compression(f0, "auto_detect")
    # open_maybe_compressed covers the full compression matrix (gzip AND
    # zstd) — the same codec path every reader uses for data bytes.
    fh_bin = open_maybe_compressed(f0, comp)
    fields: list[InfoField] = []
    with io.TextIOWrapper(io.BufferedReader(fh_bin)) as fh:
        for line in fh:
            if not line.startswith("##"):
                break
            m = _INFO_RE.match(line)
            if m:
                fields.append(InfoField(m.group(1), m.group(2), m.group(3)))
    return fields


def _scalar_type(vcf_type: str) -> str:
    return {
        "Integer": "int",
        "Float": "float",
        "Character": "string",
        "String": "string",
    }.get(vcf_type, "string")


def _info_col(info: Column, f: InfoField) -> Column:
    """One INFO field as a typed column.

    The VCF spec's missing-value marker ``.`` (scalar or per list element,
    e.g. ``MQ=.`` / ``CAF=0.5,.``) decodes as NULL; ``try_cast`` keeps a
    malformed value in one record from aborting the whole scan under
    Spark 4's default ANSI mode (pre-ANSI null-on-error read semantics,
    matching :func:`parse_vcf_record_fields`)."""
    key = re.escape(f.id)
    if f.type == "Flag" or f.number == "0":
        return info.rlike(f"(^|;){key}(;|=|$)")
    raw = F.regexp_extract(info, f"(^|;){key}=([^;]*)", 2)
    raw = F.when((raw == "") | (raw == "."), F.lit(None)).otherwise(raw)
    st = _scalar_type(f.type)
    if f.number == "1":
        return raw.try_cast(st)
    return F.transform(
        F.split(raw, ","),
        lambda v: F.when(v == ".", F.lit(None)).otherwise(v).try_cast(st),
    )


def _vcf_lines(spark: SparkSession, path: str, splits=None) -> DataFrame:
    """DataFrame[value: string] of the file's lines.

    bgzip'd files (BGZF — what tabix-indexed pipelines produce) go through
    the block-aligned split reader so one big .vcf.gz fans out across the
    cluster (plain gzip would be one unsplittable stream); everything else
    uses Spark's native text scan. ``splits`` carries a region's index
    chunk ranges (vcf_query)."""
    from exon_duckdb_spark.sources.bgzf import is_bgzf, parse_bgzf_lines_split
    from exon_duckdb_spark.sources.reader_core import make_reader
    from pyspark.sql import types as T

    files = expand_paths(path)
    if splits is not None or all(is_bgzf(f0) for f0 in files):
        schema = T.StructType([T.StructField("value", T.StringType())])
        return make_reader(
            spark, path, schema, parse_bgzf_lines_split,
            compression="none", splittable=True, splits=splits,
        )
    return spark.read.text(path)


def vcf_schema(info_fields: list[InfoField]):
    """Spark schema of a VCF scan given its header's INFO fields (the
    bind-time file-dependent schema; mirrors _info_col's types)."""
    from pyspark.sql import types as T

    from exon_duckdb_spark.sources.schemas import VCF_FIXED_FIELDS

    def dt(f: InfoField) -> T.DataType:
        if f.type == "Flag" or f.number == "0":
            return T.BooleanType()
        scalar = {"Integer": T.IntegerType(), "Float": T.FloatType()}.get(
            f.type, T.StringType()
        )
        return scalar if f.number == "1" else T.ArrayType(scalar)

    info = T.StructType([T.StructField(f.id, dt(f), True) for f in info_fields])
    return T.StructType(
        VCF_FIXED_FIELDS
        + [
            T.StructField("info", info, True),
            T.StructField("formats", T.StringType(), True),
            T.StructField("genotypes", T.ArrayType(T.StringType()), True),
        ]
    )


def read_vcf(spark: SparkSession, path: str, _splits=None) -> DataFrame:
    """VCF records: (chrom, pos, id, ref, alt, qual, filter, info, formats,
    genotypes) with info struct fields from the ##INFO header."""
    info_fields = _peek_info_fields(path)
    # blank lines (hand-edited/concatenated files) would otherwise index
    # past the single empty token under ANSI mode — drop them with the
    # header lines; every remaining getItem is size-guarded the same way.
    lines = _vcf_lines(spark, path, _splits).where(
        (F.length(F.col("value")) > 0) & ~F.col("value").startswith("#")
    )
    p = F.split(F.col("value"), "\t")
    item = lambda i: F.when(F.size(p) > i, p.getItem(i))  # noqa: E731
    dot_null = lambda c: F.when(c == ".", F.lit(None)).otherwise(c)  # noqa: E731
    info_raw = item(7)
    info_struct = F.struct(
        *[_info_col(info_raw, f).alias(f.id) for f in info_fields]
    ) if info_fields else F.lit(None).cast("struct<>")
    return lines.select(
        p.getItem(0).alias("chrom"),
        item(1).try_cast("long").alias("pos"),
        dot_null(item(2)).alias("id"),
        item(3).alias("ref"),
        F.when(item(4) == ".", F.lit(None))
        .otherwise(F.split(item(4), ","))
        .alias("alt"),
        dot_null(item(5)).try_cast("float").alias("qual"),
        dot_null(item(6)).alias("filter"),
        info_struct.alias("info"),
        item(8).alias("formats"),
        F.when(F.size(p) > 9, F.slice(p, 10, F.greatest(F.size(p) - 9, F.lit(0))))
        .alias("genotypes"),
    )


def parse_vcf_record_fields(f: list[str], info_fields: list[InfoField]) -> dict:
    """One VCF data line (already tab-split) → record dict with
    :func:`read_vcf`'s column values — the Python form behind the SQL
    ``read_vcf_file_records``/``vcf_query``, whose ``info`` struct comes
    from each file's header (a SQL table function's schema is fixed when
    it is created)."""
    has_info = len(f) > 7
    keys: set[str] = set()
    values: dict[str, str] = {}
    if has_info and f[7] not in (".", ""):
        for part in f[7].split(";"):
            k, eq, v = part.partition("=")
            keys.add(k)
            if eq:
                values.setdefault(k, v)  # the first value wins, as in _info_col

    def _cast(v: str, t: str):
        # '.' (scalar or list element) and malformed values → None, as
        # _info_col's try_cast
        if v == ".":
            return None
        try:
            if t == "Integer":
                n = int(v)
                return n if -(2**31) <= n < 2**31 else None
            if t == "Float":
                return float(v)
        except ValueError:
            return None
        return v

    info = {}
    for fld in info_fields:
        raw = values.get(fld.id)
        if fld.type == "Flag" or fld.number == "0":
            info[fld.id] = fld.id in keys if has_info else None
        elif raw in (None, "", "."):
            # a bare '.' is whole-field-missing → None (not [None])
            info[fld.id] = None
        elif fld.number == "1":
            info[fld.id] = _cast(raw, fld.type)
        else:
            info[fld.id] = [_cast(v, fld.type) for v in raw.split(",")]

    def _try(v: str, conv):
        try:
            return conv(v)
        except ValueError:
            return None

    qual = f[5] if len(f) > 5 else "."
    return {
        "chrom": f[0],
        "pos": _try(f[1], int) if len(f) > 1 else None,
        "id": (None if f[2] == "." else f[2]) if len(f) > 2 else None,
        "ref": f[3] if len(f) > 3 else None,
        "alt": None if len(f) < 5 or f[4] == "." else f[4].split(","),
        "qual": _try(qual, float) if qual != "." else None,
        "filter": (None if f[6] == "." else f[6]) if len(f) > 6 else None,
        "info": info,
        "formats": f[8] if len(f) > 8 else None,
        "genotypes": f[9:] if len(f) > 9 else None,
    }


def parse_region(region: str) -> tuple[str, int | None, int | None]:
    """'chr' | 'chr:start-end' | 'chr:start' → (chrom, start, end), 1-based
    inclusive (reference region grammar, vcf_query_function/module.cpp)."""
    if ":" not in region:
        return region, None, None
    chrom, _, rng = region.partition(":")
    if "-" in rng:
        s, _, e = rng.partition("-")
        return chrom, int(s.replace(",", "")), int(e.replace(",", ""))
    return chrom, int(rng.replace(",", "")), None


def region_filter(chrom_col: Column, start_col: Column, end_col: Column, region: str) -> Column:
    """Interval-overlap predicate for a region string (1-based inclusive).

    ``end_col`` is the feature's last covered position; records overlap the
    region if start <= r_end and end >= r_start.
    """
    chrom, r_start, r_end = parse_region(region)
    cond = chrom_col == chrom
    if r_start is not None:
        cond = cond & (end_col >= r_start)
    if r_end is not None:
        cond = cond & (start_col <= r_end)
    return cond


def vcf_query(spark: SparkSession, path: str, region: str) -> DataFrame:
    """Region query over VCF — reference ``vcf_query(path, region)``
    (rust/src/vcf_query_reader.rs:31-86).

    A VCF record covers pos..pos+len(ref)-1; the tabix query returns records
    overlapping the region. With a ``.tbi`` next to a bgzip'd file, the scan
    reads only the indexed chunk ranges; the exact overlap filter keeps
    semantics index-independent.
    """
    from exon_duckdb_spark.sources.indexes import region_query

    return region_query(spark, path, region, read_vcf, vcf_span)


def vcf_span(df: DataFrame) -> tuple[Column, Column, Column]:
    """(chrom, first, last) position columns of VCF-shaped records."""
    return df.chrom, df.pos, df.pos + F.length(df.ref) - 1
