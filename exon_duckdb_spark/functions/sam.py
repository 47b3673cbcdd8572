"""SAM scalar functions: flag-bit predicates, CIGAR parsing/extraction.

Parity surface of the reference's sam_functions
(exon/src/exon/sam_functions/module.cpp + rust/src/sam_functions.rs).
Each function calls its one SQL body in ``register._scalar_defs`` — flag
predicates are single bitwise ops, CIGAR functions are regexp + higher-order
array functions.
"""

from __future__ import annotations

from pyspark.sql import Column

from exon_duckdb_spark.functions.register import SAM_FLAGS, call_scalar

__all__ = [
    "SAM_FLAGS",
    "parse_cigar",
    "extract_from_cigar",
    "cigar_reference_length",
    "is_segmented",
    "is_unmapped",
    "is_properly_aligned",
    "is_mate_unmapped",
    "is_reverse_complemented",
    "is_mate_reverse_complemented",
    "is_first_segment",
    "is_last_segment",
    "is_secondary",
    "is_quality_control_failed",
    "is_duplicate",
    "is_supplementary",
]


def _flag_predicate(name: str):
    def pred(flag: Column | str) -> Column:
        return call_scalar(name, flag)

    return pred


is_segmented = _flag_predicate("is_segmented")
is_unmapped = _flag_predicate("is_unmapped")
is_properly_aligned = _flag_predicate("is_properly_aligned")
is_mate_unmapped = _flag_predicate("is_mate_unmapped")
is_reverse_complemented = _flag_predicate("is_reverse_complemented")
is_mate_reverse_complemented = _flag_predicate("is_mate_reverse_complemented")
is_first_segment = _flag_predicate("is_first_segment")
is_last_segment = _flag_predicate("is_last_segment")
is_secondary = _flag_predicate("is_secondary")
is_quality_control_failed = _flag_predicate("is_quality_control_failed")
is_duplicate = _flag_predicate("is_duplicate")
is_supplementary = _flag_predicate("is_supplementary")


def parse_cigar(cigar: Column | str) -> Column:
    """CIGAR string → ARRAY<STRUCT<op: STRING, len: INT>>; invalid → error.

    Reference: sam_functions/module.cpp:32-75,117-131 (noodles parse; 'MMM'
    raises, test_scalar_functions.test:98-101).
    """
    return call_scalar("parse_cigar", cigar)


def extract_from_cigar(seq: Column | str, cigar: Column | str) -> Column:
    """Trim leading/trailing Insertion ops from a sequence.

    Returns STRUCT<sequence_start INT, sequence_end INT, sequence STRING>
    where start = len(first op) if it is an I else 0, end = len(seq) -
    len(last op) if it is an I else len(seq), and sequence is the substring
    [start, end) (0-based half-open, like the reference).

    Reference: rust/src/sam_functions.rs:162-200; goldens
    test_scalar_functions.test:107-119 — ('AACCAA','2I2M2I') → {2,4,'CC'}.
    """
    return call_scalar("extract_from_cigar", seq, cigar)


def cigar_reference_length(cigar: Column | str) -> Column:
    """Number of reference positions a CIGAR consumes (ops M, D, N, =, X).

    Used to compute the SAM/BAM ``end`` column: end = start + ref_len - 1
    (the reference derives ``end`` the same way via noodles alignment spans).
    """
    return call_scalar("cigar_reference_length", cigar)
