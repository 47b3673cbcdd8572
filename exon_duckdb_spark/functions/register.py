"""SQL-surface registration: the reference's UX is SQL-first (DuckDB
functions + table functions); this module makes the same statements run on a
SparkSession.

- Scalar functions are **SQL UDFs** (``CREATE TEMPORARY FUNCTION ...
  RETURN <expr>``). ``_scalar_defs`` holds the one definition of each; the
  Column API (``functions.sequence``, ``fastq``, ``sam``, ``gff``, ``core``)
  calls the same registered body through :func:`call_scalar`. Catalyst
  inlines the body, so it stays JVM-side, inside codegen, zero Python.
  A Column function registers the bodies in ``SparkSession.active()`` on
  its first call in that session; using it on another session's DataFrame
  fails with an unresolved-routine error until
  ``register_sql_functions(that_session)`` is called.
- ``alignment_string`` / ``alignment_score`` register as Arrow-batched
  Python UDFs (dynamic programming is not SQL-expressible).
- Every reference scan name is a table function, so the reference's
  ``SELECT * FROM read_fasta('path')`` runs verbatim
  (exon/src/exon_extension.cpp:47-58). The six line formats (GFF, raw GFF,
  GTF, BED, SAM, HMMER) are **SQL table functions** whose body is the
  DataFrame reader's own query (``sources/tsv.py::LINE_FORMATS``) over the
  ``exon_read_lines`` line UDTF; the split-parser formats
  (``sources/datasource.py::SPLIT_PARSERS``) and the VCF/BCF record and
  region scans are **Python UDTFs**. A UDTF invocation parses on a single
  task — the convenience path for ad-hoc SQL; large scans should use
  ``spark.read.format("fasta")`` / ``read_fasta()`` which fan out one task
  per file split.

Usage::

    from exon_duckdb_spark.functions.register import register_all
    register_all(spark)
    spark.sql("SELECT gc_content(sequence) FROM read_fasta('/data/x.fasta')")
"""

from __future__ import annotations

import weakref

from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F

__all__ = ["register_all", "register_sql_functions", "register_table_functions"]

# Bit masks in the reference's registration order
# (rust/src/sam_functions.rs:20-90; sam_functions/module.cpp:133-182).
SAM_FLAGS: dict[str, int] = {
    "is_segmented": 0x1,
    "is_unmapped": 0x4,
    "is_properly_aligned": 0x2,
    "is_mate_unmapped": 0x8,
    "is_reverse_complemented": 0x10,
    "is_mate_reverse_complemented": 0x20,
    "is_first_segment": 0x40,
    "is_last_segment": 0x80,
    "is_secondary": 0x100,
    "is_quality_control_failed": 0x200,
    "is_duplicate": 0x400,
    "is_supplementary": 0x800,
}

# Standard genetic code (public knowledge; matches the reference's 64-entry
# table at sequence_functions/module.cpp:266-330 — golden sweep in
# test_scalar_functions.test:71-74 enumerates codons in A,T,C,G order).
CODON_TABLE: dict[str, str] = {
    "AAA": "K", "AAT": "N", "AAC": "N", "AAG": "K",
    "ATA": "I", "ATT": "I", "ATC": "I", "ATG": "M",
    "ACA": "T", "ACT": "T", "ACC": "T", "ACG": "T",
    "AGA": "R", "AGT": "S", "AGC": "S", "AGG": "R",
    "TAA": "*", "TAT": "Y", "TAC": "Y", "TAG": "*",
    "TTA": "L", "TTT": "F", "TTC": "F", "TTG": "L",
    "TCA": "S", "TCT": "S", "TCC": "S", "TCG": "S",
    "TGA": "*", "TGT": "C", "TGC": "C", "TGG": "W",
    "CAA": "Q", "CAT": "H", "CAC": "H", "CAG": "Q",
    "CTA": "L", "CTT": "L", "CTC": "L", "CTG": "L",
    "CCA": "P", "CCT": "P", "CCC": "P", "CCG": "P",
    "CGA": "R", "CGT": "R", "CGC": "R", "CGG": "R",
    "GAA": "E", "GAT": "D", "GAC": "D", "GAG": "E",
    "GTA": "V", "GTT": "V", "GTC": "V", "GTG": "V",
    "GCA": "A", "GCT": "A", "GCC": "A", "GCG": "A",
    "GGA": "G", "GGT": "G", "GGC": "G", "GGG": "G",
}

_VALID_CIGAR = "^([0-9]+[MIDNSHP=X])+$"
_CIGAR_OP = "([0-9]+)([MIDNSHP=X])"


def _validated(arg: str, allowed_re: str, fname: str, result: str) -> str:
    """``result`` where ``arg`` matches ``allowed_re``, else raise — the
    reference's per-value error on invalid characters
    (sequence_functions/module.cpp:81-129 raises on non-ATCG input)."""
    return f"""CASE WHEN {arg} IS NULL THEN CAST(NULL AS STRING)
        WHEN {arg} RLIKE '{allowed_re}' THEN {result}
        ELSE raise_error(concat('{fname}: invalid character in sequence: ', {arg})) END"""


def _scalar_defs() -> dict[str, tuple[str, str, str]]:
    """name → (args DDL, return DDL, body SQL)."""
    codon_map = "map(" + ", ".join(f"'{c}', '{a}'" for c, a in CODON_TABLE.items()) + ")"
    aa_lookup = f"transform(regexp_extract_all(s, '(...)', 1), c -> element_at({codon_map}, c))"
    ec_start = (
        f"CASE WHEN regexp_extract(cigar, '^{_CIGAR_OP}', 2) = 'I' "
        f"THEN CAST(regexp_extract(cigar, '^{_CIGAR_OP}', 1) AS INT) ELSE 0 END"
    )
    ec_end = (
        f"CASE WHEN regexp_extract(cigar, '{_CIGAR_OP}$', 2) = 'I' "
        f"THEN length(seq) - CAST(regexp_extract(cigar, '{_CIGAR_OP}$', 1) AS INT) "
        f"ELSE length(seq) END"
    )
    defs: dict[str, tuple[str, str, str]] = {
        "exondb_version": ("", "STRING", "'0.3.9'"),
        # gc_content(s, as_double=True); must precede gc_content, whose
        # body calls it
        "exon_gc_fraction": (
            "s STRING",
            "DOUBLE",
            """CASE WHEN s IS NULL THEN NULL
                    WHEN length(s) = 0 THEN 0.0
                    ELSE (length(s) - length(translate(s, 'GC', ''))) / length(s)
               END""",
        ),
        "gc_content": ("s STRING", "FLOAT", "CAST(exon_gc_fraction(s) AS FLOAT)"),
        "complement": (
            "s STRING", "STRING",
            _validated("s", "^[ATCG]*$", "complement", "translate(s, 'ATCG', 'TAGC')"),
        ),
        # reference quirk: maps without reversing (SURVEY §2.3)
        "reverse_complement": (
            "s STRING", "STRING",
            _validated("s", "^[ATCG]*$", "reverse_complement", "translate(s, 'ATCG', 'CGAT')"),
        ),
        "reverse_complement_strict": (
            "s STRING", "STRING",
            _validated(
                "s", "^[ATCG]*$", "reverse_complement_strict",
                "reverse(translate(s, 'ATCG', 'TAGC'))",
            ),
        ),
        "transcribe": (
            "s STRING", "STRING",
            _validated("s", "^[ATCG]*$", "transcribe", "translate(s, 'T', 'U')"),
        ),
        "reverse_transcribe": (
            "s STRING", "STRING",
            _validated("s", "^[AUCG]*$", "reverse_transcribe", "translate(s, 'U', 'T')"),
        ),
        "translate_dna_to_aa": (
            "s STRING",
            "STRING",
            f"""CASE WHEN s IS NULL THEN CAST(NULL AS STRING)
                WHEN length(s) % 3 != 0 THEN
                  raise_error(concat('translate_dna_to_aa: length not divisible by 3: ', s))
                WHEN exists({aa_lookup}, a -> a IS NULL) THEN
                  raise_error(concat('translate_dna_to_aa: unknown codon in: ', s))
                ELSE array_join({aa_lookup}, '') END""",
        ),
        "quality_score_string_to_list": (
            "q STRING",
            "ARRAY<INT>",
            """CASE WHEN q IS NULL THEN NULL
               WHEN length(q) = 0 THEN CAST(array() AS ARRAY<INT>)
               ELSE transform(split(q, ''), c -> ascii(c) - 33)
               END""",
        ),
        "gff_parse_attributes": (
            "a STRING",
            "MAP<STRING, STRING>",
            """CASE WHEN a IS NULL THEN NULL
               WHEN forall(transform(split(regexp_replace(trim(a), ';$', ''), ';'), p -> trim(p)),
                           p -> p RLIKE '^[^=]+=[^=]*$')
               THEN map_from_entries(
                      transform(transform(split(regexp_replace(trim(a), ';$', ''), ';'),
                                          p -> trim(p)),
                                p -> named_struct('key', regexp_extract(p, '^([^=]+)=', 1),
                                                  'value', regexp_extract(p, '^[^=]+=(.*)$', 1))))
               ELSE raise_error(concat('gff_parse_attributes: invalid attribute string: ', a))
               END""",
        ),
        # (key, values) entries → map; a repeated key (GENCODE's many
        # ``tag "..."``) gets all its values, in file order. Must precede
        # the two attribute maps, whose bodies call it.
        "exon_attribute_map": (
            "es ARRAY<STRUCT<key: STRING, value: ARRAY<STRING>>>",
            "MAP<STRING, ARRAY<STRING>>",
            """map_from_arrays(
                 array_distinct(transform(es, e -> e.key)),
                 transform(array_distinct(transform(es, e -> e.key)),
                           k -> flatten(transform(filter(es, e -> e.key = k), e -> e.value))))""",
        ),
        # the GFF3/GTF scans' 'attributes' column (see functions/gff.py)
        "gff_attributes_to_map": (
            "a STRING",
            "MAP<STRING, ARRAY<STRING>>",
            """CASE WHEN a IS NULL OR trim(a) = '.' THEN NULL
               ELSE exon_attribute_map(transform(
                      filter(transform(split(regexp_replace(trim(a), ';$', ''), ';'),
                                       p -> trim(p)),
                             p -> p != ''),
                      p -> named_struct('key', regexp_extract(p, '^([^=]+)=', 1),
                                        'value', split(regexp_extract(p, '^[^=]+=(.*)$', 1), ','))))
               END""",
        ),
        "gtf_attributes_to_map": (
            "a STRING",
            "MAP<STRING, ARRAY<STRING>>",
            r"""CASE WHEN a IS NULL OR trim(a) = '.' THEN NULL
               ELSE exon_attribute_map(transform(
                      regexp_extract_all(a, '([A-Za-z0-9_]+)\\s+"([^"]*)"', 0),
                      p -> named_struct('key', regexp_extract(p, '([A-Za-z0-9_]+)\\s+"', 1),
                                        'value', array(regexp_extract(p, '"([^"]*)"', 1)))))
               END""",
        ),
        "parse_cigar": (
            "c STRING",
            "ARRAY<STRUCT<op: STRING, len: INT>>",
            f"""CASE WHEN c IS NULL THEN NULL
                WHEN c RLIKE '{_VALID_CIGAR}' THEN
                  transform(regexp_extract_all(c, '{_CIGAR_OP}', 0),
                            x -> named_struct('op', regexp_extract(x, '([MIDNSHP=X])', 1),
                                              'len', CAST(regexp_extract(x, '([0-9]+)', 1) AS INT)))
                ELSE raise_error(concat('parse_cigar: invalid CIGAR string: ', c)) END""",
        ),
        "extract_from_cigar": (
            "seq STRING, cigar STRING",
            "STRUCT<sequence_start: INT, sequence_end: INT, sequence: STRING>",
            f"""CASE WHEN seq IS NULL OR cigar IS NULL THEN NULL
                WHEN cigar RLIKE '{_VALID_CIGAR}' THEN named_struct(
                    'sequence_start', {ec_start},
                    'sequence_end', {ec_end},
                    'sequence', substring(seq, ({ec_start}) + 1, ({ec_end}) - ({ec_start})))
                ELSE raise_error(concat('extract_from_cigar: invalid CIGAR string: ', cigar))
                END""",
        ),
        "cigar_reference_length": (
            "c STRING",
            "BIGINT",
            f"""aggregate(
                  filter(regexp_extract_all(c, '{_CIGAR_OP}', 0),
                         x -> regexp_extract(x, '([MIDNSHP=X])', 1) IN ('M', 'D', 'N', '=', 'X')),
                  CAST(0 AS BIGINT),
                  (acc, x) -> acc + CAST(regexp_extract(x, '([0-9]+)', 1) AS BIGINT))""",
        ),
    }
    for name, mask in SAM_FLAGS.items():
        defs[name] = ("flag INT", "BOOLEAN", f"(flag & {mask}) != 0")
    return defs


# Sessions whose catalog holds the _scalar_defs bodies; weak, so a stopped
# session drops out and its successor registers again. Two threads racing on
# a new session both register, which CREATE OR REPLACE makes harmless.
_registered: weakref.WeakSet[SparkSession] = weakref.WeakSet()


def _register_scalars(spark: SparkSession) -> None:
    for name, (args, ret, body) in _scalar_defs().items():
        spark.sql(f"CREATE OR REPLACE TEMPORARY FUNCTION {name}({args}) RETURNS {ret} RETURN {body}")
    _registered.add(spark)


def ensure_scalars(spark: SparkSession) -> None:
    """Register the ``_scalar_defs`` bodies in ``spark`` unless done."""
    if spark not in _registered:
        _register_scalars(spark)


def call_scalar(name: str, *cols: Column | str) -> Column:
    """Column form of a ``_scalar_defs`` function: a call of its SQL body,
    registered in ``SparkSession.active()`` on the first call there."""
    ensure_scalars(SparkSession.active())
    return F.call_function(name, *cols)


def register_sql_functions(spark: SparkSession) -> None:
    """Create the scalar surface as temporary SQL UDFs + the alignment
    Python UDFs on this session."""
    _register_scalars(spark)

    from exon_duckdb_spark.functions import alignment as _al

    # Variadic row-form dispatchers: one SQL name covers the reference's
    # 2/6/7-arg bind-time arities (module.cpp:53-133) incl. the memory-model
    # argument and its 'Invalid memory model' / 'Match score must be
    # negative or zero.' error contracts. SQL-surface parity only — the
    # DataFrame API stays the Arrow-batched hot path.
    spark.udf.register("alignment_string_wfa_gap_affine", _al.sql_alignment_string, "string")
    spark.udf.register("alignment_score_wfa_gap_affine", _al.sql_alignment_score, "float")
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION alignment_string(a STRING, b STRING) "
        "RETURNS STRING RETURN alignment_string_wfa_gap_affine(a, b)"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION alignment_score(a STRING, b STRING) "
        "RETURNS FLOAT RETURN alignment_score_wfa_gap_affine(a, b)"
    )


def _make_read_udtf(schema, parse_import: str, splittable: bool):
    """UDTF class reading every record of path (single-task convenience);
    ``splittable`` as in :data:`~exon_duckdb_spark.sources.datasource.SPLIT_PARSERS`."""
    import importlib

    from pyspark.sql.functions import udtf

    ddl = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in schema.fields)
    names = [f.name for f in schema.fields]

    class _ReadUDTF:
        def eval(self, path: str, compression: str = "auto_detect"):
            mod, fn = parse_import.split(":")
            parse = getattr(importlib.import_module(mod), fn)
            from exon_duckdb_spark.sources.splits import plan_splits

            for split in plan_splits(path, compression, splittable=splittable):
                for rec in parse(split):
                    yield tuple(rec.get(n) for n in names)

    return udtf(_ReadUDTF, returnType=ddl)


def _make_lines_udtf():
    """``exon_read_lines(path, compression)``: every line of the file(s) as
    ``value STRING`` — the line relation the text-format table functions
    query. Line reads ignore byte ranges, so each file is one split."""
    from pyspark.sql.functions import udtf

    class _Lines:
        def eval(self, path: str, compression: str):
            from exon_duckdb_spark.sources.reader_core import read_split_lines
            from exon_duckdb_spark.sources.splits import plan_splits

            for split in plan_splits(path, compression, splittable=False):
                for line in read_split_lines(split):
                    yield (line.rstrip(b"\r\n").decode("utf-8", "replace"),)

    return udtf(_Lines, returnType="value string")


def _row_of(rec: dict, names: list[str]) -> tuple:
    return tuple(rec.get(n) for n in names)


def _record_format(kind: str, path: str):
    """(output schema, row iterator) of the ``vcf``/``bcf``/``bam`` record
    table functions, bound to one file's header. The iterator takes a split
    and a predicate ``keep(chrom, first, last)`` over each record's 1-based
    inclusive span and yields the rows of the records it keeps."""
    if kind == "bam":
        from exon_duckdb_spark.sources.bam import _parse_bam_split
        from exon_duckdb_spark.sources.schemas import SAM_SCHEMA

        def bam_rows(split, keep):
            for rec in _parse_bam_split(split):
                if keep(rec["reference"], rec["start"], rec["end"]):
                    yield _row_of(rec, SAM_SCHEMA.names)

        return SAM_SCHEMA, bam_rows

    if kind == "vcf":
        from exon_duckdb_spark.sources.bgzf import is_bgzf, parse_bgzf_lines_split
        from exon_duckdb_spark.sources.reader_core import read_split_lines
        from exon_duckdb_spark.sources.vcf import (
            _peek_info_fields,
            parse_vcf_record_fields,
            vcf_schema,
        )

        info_fields = _peek_info_fields(path)
        schema = vcf_schema(info_fields)

        def vcf_rows(split, keep):
            # a region query's split of a BGZF file holds index chunk
            # ranges: only the block-aware line reader seeks to them
            lines = (
                (r["value"] for r in parse_bgzf_lines_split(split))
                if split.compression is None and is_bgzf(split.path)
                else (
                    ln.rstrip(b"\r\n").decode("utf-8", "replace")
                    for ln in read_split_lines(split)
                )
            )
            for line in lines:
                if not line or line.startswith("#"):
                    continue
                rec = parse_vcf_record_fields(line.split("\t"), info_fields)
                pos = rec["pos"]
                last = None if pos is None else pos + len(rec["ref"] or "x") - 1
                if keep(rec["chrom"], pos, last):
                    rec["info"] = tuple(rec["info"].get(f.id) for f in info_fields)
                    yield _row_of(rec, schema.names)

        return schema, vcf_rows

    from exon_duckdb_spark.sources.bcf import bcf_bind, parse_bcf_records

    contigs, info_meta, info_fields, schema = bcf_bind(path)

    def bcf_rows(split, keep):
        for rec in parse_bcf_records(split, info_meta, contigs, info_fields):
            if keep(rec["chrom"], rec["pos"], rec["pos"] + len(rec["ref"] or "x") - 1):
                rec["info"] = tuple(rec["info"].get(f.name) for f in info_fields)
                yield _row_of(rec, schema.names)

    return schema, bcf_rows


def _whole_file_splits(path: str):
    from exon_duckdb_spark.sources.splits import plan_splits

    return plan_splits(path, "auto_detect", splittable=False)


def _make_records_udtf(kind: str):
    """``read_{vcf,bcf}_file_records(path)``: header-driven schema via the
    UDTF analyze() phase — the SQL mirror of the readers' bind-time header
    peek (the reference's one file-dependent schema, SURVEY §1.1)."""
    from pyspark.sql.functions import udtf
    from pyspark.sql.udtf import AnalyzeResult

    class _Read:
        @staticmethod
        def analyze(path) -> AnalyzeResult:
            return AnalyzeResult(schema=_record_format(kind, path.value)[0])

        def eval(self, path: str):
            rows = _record_format(kind, path)[1]
            for split in _whole_file_splits(path):
                yield from rows(split, lambda *_: True)

    return udtf(_Read)


def _make_region_udtf(kind: str):
    """``{vcf,bcf,bam}_query(path, region)`` — region queries as SQL table
    functions: one task reads the region's index chunk ranges
    (:func:`~exon_duckdb_spark.sources.indexes.plan_region_splits`) in
    turn, or the whole file without an index (the DataFrame API runs one
    task per range group)."""
    from pyspark.sql.functions import udtf
    from pyspark.sql.udtf import AnalyzeResult

    class _Query:
        @staticmethod
        def analyze(path, region) -> AnalyzeResult:
            return AnalyzeResult(schema=_record_format(kind, path.value)[0])

        def eval(self, path: str, region: str):
            from exon_duckdb_spark.sources.indexes import plan_region_splits
            from exon_duckdb_spark.sources.vcf import parse_region

            chrom, r_start, r_end = parse_region(region)

            def overlaps(c, s, e) -> bool:
                if c != chrom or s is None:
                    return False
                if r_start is not None and (e if e is not None else s) < r_start:
                    return False
                return not (r_end is not None and s > r_end)

            rows = _record_format(kind, path)[1]
            splits = plan_region_splits(path, region)
            for split in _whole_file_splits(path) if splits is None else splits:
                yield from rows(split, overlaps)

    return udtf(_Query)


def _make_acknowledgements_udtf():
    """``exondb_third_party_acknowledgements()`` — constant TVF naming this
    engine's third-party stack (reference surface:
    test_acknowledgements_function.test:3-14, disabled there)."""
    from pyspark.sql.functions import udtf

    class _Acks:
        def eval(self):
            from exon_duckdb_spark.functions.core import THIRD_PARTY_ACKNOWLEDGEMENTS

            yield from THIRD_PARTY_ACKNOWLEDGEMENTS

    return udtf(_Acks, returnType="name string, license string, url string")


def register_table_functions(spark: SparkSession) -> None:
    from exon_duckdb_spark.sources.datasource import SPLIT_PARSERS
    from exon_duckdb_spark.sources.tsv import LINE_FORMATS

    for name, schema, parse_import, splittable in SPLIT_PARSERS.values():
        spark.udtf.register(name, _make_read_udtf(schema, parse_import, splittable))
    # the text formats' bodies call the scalar functions
    ensure_scalars(spark)
    spark.udtf.register("exon_read_lines", _make_lines_udtf())
    for name, (fields, cols, where) in LINE_FORMATS.items():
        spark.sql(
            f"CREATE OR REPLACE TEMPORARY FUNCTION {name}(path STRING, "
            "compression STRING DEFAULT 'auto_detect') RETURNS TABLE RETURN "
            f"SELECT {', '.join(cols)} FROM (SELECT value, {fields} AS f "
            f"FROM exon_read_lines(path, compression)) WHERE {where}"
        )
    spark.udtf.register(
        "exondb_third_party_acknowledgements", _make_acknowledgements_udtf()
    )
    spark.udtf.register("read_vcf_file_records", _make_records_udtf("vcf"))
    spark.udtf.register("read_bcf_file_records", _make_records_udtf("bcf"))
    spark.udtf.register("vcf_query", _make_region_udtf("vcf"))
    spark.udtf.register("bcf_query", _make_region_udtf("bcf"))
    spark.udtf.register("bam_query", _make_region_udtf("bam"))


def register_all(spark: SparkSession) -> None:
    register_sql_functions(spark)
    register_table_functions(spark)
