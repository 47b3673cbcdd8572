"""VCF source with header-driven INFO struct.

Parity: reference ``read_vcf_file_records`` — the one file-dependent schema
in the reference: INFO struct fields come from the file's ``##INFO`` header
lines, resolved at bind time (SURVEY §1.1; arrow_table_function/
module.cpp:110-119). We mirror that with a driver-side header peek at plan
time, then parse with one SQL select list over the tab-split line, built as
text (:func:`_vcf_select`, the INFO struct from :func:`_info_sql`) in the
manner of ``sources/tsv.py::LINE_FORMATS``: the text scan and the parsing
stay JVM-side in codegen, and the driver builds the plan from a few SQL
parses rather than one Py4J call per expression node.

``vcf_query(path, region)`` reproduces the tabix-region TVF semantics
(rust/src/vcf_query_reader.rs:31-86): region 'chr' or 'chr:start-end',
1-based inclusive. With a ``.tbi`` next to a bgzip'd file, it reads only
the indexed chunk ranges (sources/indexes.py); the exact overlap filter
(:func:`region_filter`, SQL text too) runs after the scan, so semantics
never depend on the index. bgzip'd files are block-splittable via
sources/bgzf.py.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

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


def _sql_str(s: str) -> str:
    """``s`` as a Spark SQL string literal."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


_INFO = "get(f, 7)"


def _info_sql(f: InfoField) -> str:
    """One INFO field as a typed SQL expression over the line's fields ``f``.

    The VCF spec's missing-value marker ``.`` (scalar or per list element,
    e.g. ``MQ=.`` / ``CAF=0.5,.``) decodes as NULL; ``try_cast`` keeps a
    malformed value in one record from aborting the whole scan under
    Spark 4's default ANSI mode (pre-ANSI null-on-error read semantics,
    matching :func:`parse_vcf_record_fields`)."""
    key = re.escape(f.id)
    if f.type == "Flag" or f.number == "0":
        return f"{_INFO} RLIKE {_sql_str(f'(^|;){key}(;|=|$)')}"
    raw = f"nullif(nullif(regexp_extract({_INFO}, {_sql_str(f'(^|;){key}=([^;]*)')}, 2), ''), '.')"
    st = _scalar_type(f.type)
    if f.number == "1":
        return f"try_cast({raw} AS {st})"
    return f"transform(split({raw}, ','), v -> try_cast(nullif(v, '.') AS {st}))"


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
    bind-time file-dependent schema; mirrors _info_sql's types)."""
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


def _vcf_select(info_fields: list[InfoField]) -> tuple[str, ...]:
    """:func:`read_vcf`'s select list over the tab-split fields ``f`` of a
    data line; ``get`` is NULL past the line's last field."""
    info = (
        "named_struct(" + ", ".join(f"{_sql_str(f.id)}, {_info_sql(f)}" for f in info_fields) + ")"
        if info_fields else "CAST(NULL AS STRUCT<>)"
    )
    return (
        "get(f, 0) AS chrom",
        "try_cast(get(f, 1) AS BIGINT) AS pos",
        "nullif(get(f, 2), '.') AS id",
        "get(f, 3) AS ref",
        "CASE WHEN get(f, 4) != '.' THEN split(get(f, 4), ',') END AS alt",
        "try_cast(nullif(get(f, 5), '.') AS FLOAT) AS qual",
        "nullif(get(f, 6), '.') AS `filter`",
        f"{info} AS info",
        "get(f, 8) AS formats",
        "CASE WHEN size(f) > 9 THEN slice(f, 10, size(f) - 9) END AS genotypes",
    )


# blank lines (hand-edited/concatenated files) are dropped with the header
# lines
_VCF_WHERE = "value != '' AND NOT startswith(value, '#')"


def read_vcf(spark: SparkSession, path: str, _splits=None) -> DataFrame:
    """VCF records: (chrom, pos, id, ref, alt, qual, filter, info, formats,
    genotypes) with info struct fields from the ##INFO header."""
    info_fields = _peek_info_fields(path)
    return (
        _vcf_lines(spark, path, _splits)
        .where(_VCF_WHERE)
        .selectExpr("split(value, '\\t') AS f")
        .selectExpr(*_vcf_select(info_fields))
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
                values.setdefault(k, v)  # the first value wins, as in _info_sql

    def _cast(v: str, t: str):
        # '.' (scalar or list element) and malformed values → None, as
        # _info_sql's try_cast
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


def region_filter(chrom: str, first: str, last: str, region: str) -> str:
    """Interval-overlap predicate for a region string (1-based inclusive),
    as SQL text over a record's (chrom, first, last) position expressions.

    ``last`` is the feature's last covered position; records overlap the
    region if first <= r_end and last >= r_start.
    """
    name, r_start, r_end = parse_region(region)
    cond = f"{chrom} = {_sql_str(name)}"
    if r_start is not None:
        cond += f" AND {last} >= {r_start}"
    if r_end is not None:
        cond += f" AND {first} <= {r_end}"
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

    return region_query(spark, path, region, read_vcf, VCF_SPAN)


# (chrom, first, last) positions of VCF-shaped records: a record covers
# pos..pos+len(ref)-1
VCF_SPAN = ("chrom", "pos", "pos + length(ref) - 1")
