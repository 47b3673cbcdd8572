"""GFF scalar functions.

Parity surface of the reference's gff_functions
(exon/src/exon/gff_functions/module.cpp).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from exon_duckdb_spark.functions.register import call_scalar

__all__ = ["gff_parse_attributes", "gff_attributes_to_map", "gtf_attributes_to_map"]


def _as_col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def gff_parse_attributes(attrs: Column | str) -> Column:
    """GFF3 attribute string → MAP<STRING, STRING>.

    Split on ';', trim, split each part on '='; trailing ';' tolerated;
    a part without '=' → error (gff_functions/module.cpp:29-84; goldens
    test_gff_scan.test:79-98: 'ID=x;locus_tag=y;' → {ID→x, locus_tag→y},
    'ID' → error).
    """
    return call_scalar("gff_parse_attributes", attrs)


def gff_attributes_to_map(attrs: Column | str) -> Column:
    """GFF3 scan 'attributes' column: MAP<STRING, ARRAY<STRING>>.

    The scan schema (unlike the scalar gff_parse_attributes) holds a LIST of
    values per key — multi-valued attributes are comma-separated in GFF3
    (test_gff_scan.test:6-24 prints {gene_id=[caat1], ...}). NULL on '.'.
    """
    a = _as_col(attrs)
    cleaned = F.regexp_replace(F.trim(a), ";$", "")
    # NB: the lambda wrapper is load-bearing — a bare F.trim accepts a
    # second (trimString) argument, so transform would call it as
    # trim(element, index) and strip the part's index digit off its ends.
    parts = F.filter(
        F.transform(F.split(cleaned, ";"), lambda p: F.trim(p)), lambda p: p != ""
    )
    parsed = F.map_from_entries(
        F.transform(
            parts,
            lambda p: F.struct(
                F.regexp_extract(p, "^([^=]+)=", 1).alias("key"),
                F.split(F.regexp_extract(p, "^[^=]+=(.*)$", 1), ",").alias("value"),
            ),
        )
    )
    return F.when(a.isNull() | (F.trim(a) == "."), F.lit(None)).otherwise(parsed)


def gtf_attributes_to_map(attrs: Column | str) -> Column:
    """GTF (GFF2) attribute syntax ``key "value"; key2 "value2";`` →
    MAP<STRING, ARRAY<STRING>> matching the GFF scan column type
    (test_gtf_scan.test:6 indexes attributes['gene_id'][1]).
    """
    a = _as_col(attrs)
    pairs = F.regexp_extract_all(a, F.lit('([A-Za-z0-9_]+)\\s+"([^"]*)"'), 0)
    parsed = F.map_from_entries(
        F.transform(
            pairs,
            lambda p: F.struct(
                F.regexp_extract(p, '([A-Za-z0-9_]+)\\s+"', 1).alias("key"),
                F.array(F.regexp_extract(p, '"([^"]*)"', 1)).alias("value"),
            ),
        )
    )
    return F.when(a.isNull() | (F.trim(a) == "."), F.lit(None)).otherwise(parsed)
