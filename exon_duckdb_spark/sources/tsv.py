"""Line-oriented text formats — GFF, raw GFF, GTF, BED, SAM (text), HMMER
domtblout — each defined once, as a SQL query over a ``value STRING`` line
relation: the line's field split, a select list and a filter
(:data:`LINE_FORMATS`, keyed by the reference's SQL name).

Both entry points run that one text:

- ``read_gff(spark, path)`` etc. run it over ``spark.read.text(path)``, so
  the scan stays JVM-side and splittable (a FileSourceScan: column pruning,
  Hadoop codecs for .gz, directories and globs), with the field parsing in
  codegen;
- ``SELECT * FROM read_gff('x' [, compression])`` is a SQL table function
  whose body runs it over the ``exon_read_lines`` line UDTF
  (functions/register.py).

Field conventions: fields are tab-separated (HMMER: whitespace, the
description keeps its spaces); an empty or missing field is NULL; '.' (and
SAM '*') placeholders are NULL where the format says so. Reads are
null-on-error (session.py): numbers go through ``try_cast`` and fields
through ``get``, so a malformed line yields NULLs instead of aborting.

Parity: reference scans read_gff / read_gtf / read_bed_file /
read_sam_file_records / read_hmm_dom_tbl_out
(exon/src/exon_extension.cpp:47-58; schemas per SURVEY §1.3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from exon_duckdb_spark.functions.register import ensure_scalars
from exon_duckdb_spark.sources.schemas import HMM_DOMTAB_SCHEMA

__all__ = [
    "LINE_FORMATS",
    "read_gff",
    "read_gff_raw",
    "read_gtf",
    "read_bed",
    "read_sam",
    "read_hmm_dom_tbl",
]


def _f(i: int) -> str:
    """The i-th field; empty or missing → NULL."""
    return f"nullif(get(f, {i}), '')"


def _dot(i: int) -> str:
    return f"nullif({_f(i)}, '.')"


def _long(i: int) -> str:
    return f"try_cast(get(f, {i}) AS BIGINT)"


_TABS = "split(value, '\\t')"


def _gff_head(seqname: str) -> tuple[str, ...]:
    """The five columns every GFF-shaped scan reads the same way."""
    return (f"{_f(0)} AS {seqname}", f"{_f(1)} AS source", f"{_f(2)} AS type",
            f"{_long(3)} AS start", f"{_long(4)} AS `end`")


# A GFF3 file may end with a '##FASTA' section: its sequence lines have no
# tab-separated coordinates, so requiring both mandatory coordinates drops
# exactly them (every real feature row carries both).
_GFF_WHERE = f"NOT startswith(value, '#') AND {_long(3)} IS NOT NULL AND {_long(4)} IS NOT NULL"


def _gff_like(last_col: str, attrs_fn: str) -> tuple:
    """GFF3/GTF: '.' → NULL, score as FLOAT, attributes parsed by ``attrs_fn``."""
    return _TABS, _gff_head("seqname") + (
        "try_cast(nullif(get(f, 5), '.') AS FLOAT) AS score", f"{_dot(6)} AS strand",
        f"{_dot(7)} AS {last_col}", f"{attrs_fn}({_f(8)}) AS attributes",
    ), _GFF_WHERE


_SAM_START = f"nullif({_long(3)}, 0)"  # POS 0: unmapped
_SAM_CIGAR = f"nullif({_f(5)}, '*')"


def _hmm_col(i: int, name: str, sql_type: str) -> str:
    c = f"get(f, {i})"
    return f"{c if sql_type == 'string' else f'try_cast({c} AS {sql_type})'} AS {name}"


# SQL name → (fields, select list, filter): the query
#   SELECT <select list> FROM (SELECT value, <fields> AS f FROM <lines>) WHERE <filter>
# over a ``value STRING`` line relation; ``f`` holds the line's fields.
LINE_FORMATS: dict[str, tuple[str, tuple[str, ...], str]] = {
    # GFF3 → (seqname, source, type, start, end, score, strand, phase,
    # attributes MAP<STRING, ARRAY<STRING>>)
    "read_gff": _gff_like("phase", "gff_attributes_to_map"),
    # the nine columns with no normalization: score, strand and phase stay
    # verbatim strings ('.' included) and attributes is the unparsed text —
    # the reference's read_gff_raw (commented-out test_gff_scan.test:100-113,
    # column head ``seqid``)
    "read_gff_raw": (
        _TABS,
        _gff_head("seqid") + (f"{_f(5)} AS score", f"{_f(6)} AS strand",
                              f"{_f(7)} AS phase", f"{_f(8)} AS attributes"),
        _GFF_WHERE,
    ),
    # GTF (GFF2 ``key "value";`` attributes): the GFF shape with ``frame``
    "read_gtf": _gff_like("frame", "gtf_attributes_to_map"),
    # BED (≤12 columns): 0-based start / thick_start shifted to 1-based;
    # '.', score 0 and color 0 → NULL (test_bed_io.test:5-17)
    "read_bed_file": (
        _TABS,
        (
            f"{_f(0)} AS reference_sequence_name",
            f"{_long(1)} + 1 AS start",
            f"{_long(2)} AS `end`",
            f"{_dot(3)} AS name",
            f"nullif({_dot(4)}, '0') AS score",
            f"{_dot(5)} AS strand",
            f"{_long(6)} + 1 AS thick_start",
            f"{_long(7)} AS thick_end",
            f"nullif({_dot(8)}, '0') AS color",
            "try_cast(get(f, 9) AS INT) AS block_count",
            f"{_f(10)} AS block_sizes",
            f"{_f(11)} AS block_starts",
        ),
        "value != '' AND NOT startswith(value, '#')",
    ),
    # SAM text alignments → the reference's 10 columns: ``end`` from the
    # CIGAR's reference-consumed length (start + reflen - 1), '*'
    # placeholders → NULL, mate '=' resolves to the read's reference; '@'
    # header lines dropped
    "read_sam_file_records": (
        _TABS,
        (
            f"{_f(0)} AS name",
            "try_cast(get(f, 1) AS INT) AS flag",
            f"nullif({_f(2)}, '*') AS reference",
            f"{_SAM_START} AS start",
            f"{_SAM_START} + cigar_reference_length({_SAM_CIGAR}) - 1 AS `end`",
            f"{_f(4)} AS mapping_quality",
            f"{_SAM_CIGAR} AS cigar",
            f"CASE WHEN get(f, 6) = '=' THEN nullif({_f(2)}, '*') "
            f"ELSE nullif({_f(6)}, '*') END AS mate_reference",
            f"nullif({_f(9)}, '*') AS sequence",
            f"nullif({_f(10)}, '*') AS quality_score",
        ),
        "value != '' AND NOT startswith(value, '@')",
    ),
    # HMMER3 --domtblout: 22 whitespace-delimited columns + the free-text
    # description, which the split limit leaves with its spaces
    "read_hmm_dom_tbl_out": (
        "split(trim(value), '\\\\s+', 23)",
        tuple(_hmm_col(i, fld.name, fld.dataType.simpleString())
              for i, fld in enumerate(HMM_DOMTAB_SCHEMA.fields)),
        "trim(value) != '' AND NOT startswith(value, '#')",
    ),
}


def _scan(spark: SparkSession, name: str, path: str) -> DataFrame:
    ensure_scalars(spark)
    fields, cols, where = LINE_FORMATS[name]
    return spark.read.text(path).selectExpr("value", f"{fields} AS f").where(where).selectExpr(*cols)


def read_gff(spark: SparkSession, path: str) -> DataFrame:
    """GFF3 → (seqname, source, type, start, end, score, strand, phase,
    attributes MAP<STRING, ARRAY<STRING>>); '.' → NULL."""
    return _scan(spark, "read_gff", path)


def read_gff_raw(spark: SparkSession, path: str) -> DataFrame:
    """Raw GFF3 scan: the nine columns with no normalization (see
    :data:`LINE_FORMATS`)."""
    return _scan(spark, "read_gff_raw", path)


def read_gtf(spark: SparkSession, path: str) -> DataFrame:
    """GTF (GFF2 ``key "value";`` attributes) → same shape as GFF with
    ``frame`` in place of ``phase``."""
    return _scan(spark, "read_gtf", path)


def read_bed(spark: SparkSession, path: str) -> DataFrame:
    """BED (≤12 col) with the reference's normalizations: 0-based start /
    thick_start shifted to 1-based; '.', score 0 and color 0 → NULL
    (test_bed_io.test:5-17)."""
    return _scan(spark, "read_bed_file", path)


def read_sam(spark: SparkSession, path: str) -> DataFrame:
    """SAM text alignments → the reference's 10 columns; ``end`` is computed
    from the CIGAR's reference-consumed length (end = start + reflen - 1),
    '*' placeholders → NULL, mate '=' resolves to the read's reference."""
    return _scan(spark, "read_sam_file_records", path)


def read_hmm_dom_tbl(spark: SparkSession, path: str) -> DataFrame:
    """HMMER3 --domtblout: 22 whitespace-delimited columns + free-text
    description."""
    return _scan(spark, "read_hmm_dom_tbl_out", path)
