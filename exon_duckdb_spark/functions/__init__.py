"""Scalar function surface — parity with SURVEY.md §2.3.

Every function returns a ``pyspark.sql.Column`` that calls its one SQL body
in ``register._scalar_defs`` (inlined into whole-stage codegen) except the
alignment family, which is a vectorized pandas_udf, and the scan-column
helpers ``gff_attributes_to_map``/``gtf_attributes_to_map``. The first call
in a session registers the bodies in ``SparkSession.active()``; to use the
Column API on another session's DataFrame, call
``register.register_sql_functions(that_session)``.
"""

from exon_duckdb_spark.functions.alignment import (  # noqa: F401
    alignment_score,
    alignment_score_wfa_gap_affine,
    alignment_string,
    alignment_string_wfa_gap_affine,
)
from exon_duckdb_spark.functions.core import exondb_version  # noqa: F401
from exon_duckdb_spark.functions.fastq import quality_score_string_to_list  # noqa: F401
from exon_duckdb_spark.functions.gff import (  # noqa: F401
    gff_attributes_to_map,
    gff_parse_attributes,
    gtf_attributes_to_map,
)
from exon_duckdb_spark.functions.sam import (  # noqa: F401
    SAM_FLAGS,
    cigar_reference_length,
    extract_from_cigar,
    is_duplicate,
    is_first_segment,
    is_last_segment,
    is_mate_reverse_complemented,
    is_mate_unmapped,
    is_properly_aligned,
    is_quality_control_failed,
    is_reverse_complemented,
    is_secondary,
    is_segmented,
    is_supplementary,
    is_unmapped,
    parse_cigar,
)
from exon_duckdb_spark.functions.sequence import (  # noqa: F401
    CODON_TABLE,
    complement,
    gc_content,
    reverse_complement,
    reverse_complement_strict,
    reverse_transcribe,
    transcribe,
    translate_dna_to_aa,
)
