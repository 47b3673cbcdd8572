"""GFF scalar functions.

Parity surface of the reference's gff_functions
(exon/src/exon/gff_functions/module.cpp).
"""

from __future__ import annotations

from pyspark.sql import Column

from exon_duckdb_spark.functions.register import call_scalar

__all__ = ["gff_parse_attributes", "gff_attributes_to_map", "gtf_attributes_to_map"]


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
    (test_gff_scan.test:6-24 prints {gene_id=[caat1], ...}). NULL on '.';
    a repeated key keeps all its values, in file order.
    """
    return call_scalar("gff_attributes_to_map", attrs)


def gtf_attributes_to_map(attrs: Column | str) -> Column:
    """GTF (GFF2) attribute syntax ``key "value"; key2 "value2";`` →
    MAP<STRING, ARRAY<STRING>> matching the GFF scan column type
    (test_gtf_scan.test:6 indexes attributes['gene_id'][1]); a repeated
    key (GENCODE's ``tag``) keeps all its values, in file order.
    """
    return call_scalar("gtf_attributes_to_map", attrs)
