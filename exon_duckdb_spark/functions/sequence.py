"""Sequence scalar functions.

Parity surface of the reference's sequence_functions
(exon/src/exon/sequence_functions/module.cpp): gc_content, complement,
reverse_complement (with its enshrined quirk), transcribe,
reverse_transcribe, translate_dna_to_aa.

Each function calls its one SQL body in ``register._scalar_defs`` (inlined
by Catalyst: JVM-side, whole-stage codegen, no Python UDFs in the hot path).
Invalid-input semantics match the reference's "throw on bad character"
contract via ``raise_error`` on the else branch, so a full-column scan of
clean data never pays the error path.
"""

from __future__ import annotations

from pyspark.sql import Column

from exon_duckdb_spark.functions.register import CODON_TABLE, call_scalar

__all__ = [
    "gc_content",
    "complement",
    "reverse_complement",
    "reverse_complement_strict",
    "transcribe",
    "reverse_transcribe",
    "translate_dna_to_aa",
    "CODON_TABLE",
]


def gc_content(seq: Column | str, as_double: bool = False) -> Column:
    """(#G + #C) / length(seq) as FLOAT; '' → 0.0; NULL → NULL.

    Reference: sequence_functions/module.cpp:131-166. Counts uppercase G/C
    only, as the reference does. Pure codegen expression:
    length(s) - length(translate(s, 'GC', '')) counts G+C without a UDF.

    ``as_double=True`` keeps full double precision (for oracle comparison
    against engines whose division is double; the reference type is FLOAT).
    """
    return call_scalar("exon_gc_fraction" if as_double else "gc_content", seq)


def complement(seq: Column | str) -> Column:
    """DNA complement A<->T, C<->G; non-ATCG character → error.

    Reference: sequence_functions/module.cpp:81-129.
    """
    return call_scalar("complement", seq)


def reverse_complement(seq: Column | str) -> Column:
    """Reference-quirk 'reverse complement': translate(s,'ATCG','CGAT') with
    NO string reversal (A→C, T→G, C→A, G→T).

    The reference maps each base to the complement of the base at the mirrored
    alphabet position instead of reversing the string — its own golden test
    enshrines GGGG→TTTT (true revcomp would be CCCC)
    (sequence_functions/module.cpp:30-69; test_scalar_functions.test:43-47).
    We replicate the quirk for parity; use ``reverse_complement_strict`` for
    the biologically correct operation.
    """
    return call_scalar("reverse_complement", seq)


def reverse_complement_strict(seq: Column | str) -> Column:
    """Biologically correct reverse complement: reverse(complement(s))."""
    return call_scalar("reverse_complement_strict", seq)


def transcribe(seq: Column | str) -> Column:
    """DNA → RNA (T→U); non-ATCG → error.

    Reference: sequence_functions/module.cpp:215-261.
    """
    return call_scalar("transcribe", seq)


def reverse_transcribe(seq: Column | str) -> Column:
    """RNA → DNA (U→T); non-AUCG → error.

    Reference: sequence_functions/module.cpp:168-213.
    """
    return call_scalar("reverse_transcribe", seq)


def translate_dna_to_aa(seq: Column | str) -> Column:
    """DNA → amino-acid string via the standard codon table; stop = '*'.

    length % 3 != 0 → error; unknown codon → error
    (sequence_functions/module.cpp:263-370). Fully native: split into
    3-grams with a regexp, look each up in a 64-entry literal map, join.
    """
    return call_scalar("translate_dna_to_aa", seq)
