"""FASTQ scalar functions.

Parity surface of the reference's fastq_functions
(exon/src/exon/fastq_functions/module.cpp).
"""

from __future__ import annotations

from pyspark.sql import Column

from exon_duckdb_spark.functions.register import call_scalar

__all__ = ["quality_score_string_to_list"]


def quality_score_string_to_list(quality: Column | str) -> Column:
    """Phred+33 decode: each char c → ord(c) - 33, as ARRAY<INT>.

    Reference: fastq_functions/module.cpp:28-54 ('!#' → [0, 2]).
    Native: one pass over split(q, '') with ascii() — stays in codegen, no
    UDF. The empty string is its own branch: split('', '') is [''].
    """
    return call_scalar("quality_score_string_to_list", quality)
