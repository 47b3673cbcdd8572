"""Spark 4 Python DataSource API registration for the split-parser formats.

This is the fully idiomatic analog of the reference's table-function
registration (exon/src/exon_extension.cpp:47-58): after
``register_bio_sources(spark)``, the formats participate in the standard
reader chain —

    spark.read.format("fasta").load("/data/seqs/")          # file or dir
    spark.read.format("bam").option("compression", "none").load(p)

Catalyst treats the result like any DSv2 relation: column pruning and
filters apply after the scan (the parsers are record-oriented text/binary
formats without row-group statistics, so source-side filter pushdown buys
nothing — same conclusion as SURVEY §2.4).

Each partition is one FileSplit (splits.py plans byte-ranges on the driver),
and ``read`` yields Arrow record batches straight into Tungsten — the same
execution shape as the ``mapInArrow`` path in reader_core.py (one task per
split, no shuffle) and the same batching code. Only formats with a static schema register here; VCF/BCF
derive their ``info`` struct from each file's header at plan time, so they
stay function-style (``read_vcf``/``read_bcf``), mirroring the reference's
bind-time schema pull (module.cpp:110-119).

Registered formats: fasta, fastq, genbank, mzml, bam.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

from pyspark.sql import SparkSession
from pyspark.sql import types as T
from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

from exon_duckdb_spark.sources import schemas as S
from exon_duckdb_spark.sources.reader_core import _to_arrow_schema, record_batches
from exon_duckdb_spark.sources.splits import FileSplit, plan_splits

__all__ = ["register_bio_sources", "BIO_DATASOURCES", "SPLIT_PARSERS"]


class _SplitPartition(InputPartition):
    def __init__(self, split: FileSplit):
        self.split = split


class _SplitParserReader(DataSourceReader):
    """One DataSource partition per FileSplit; read() streams Arrow batches."""

    def __init__(
        self,
        parse: Callable[[FileSplit], Iterator[dict]],
        schema: T.StructType,
        options: dict,
        splittable: bool,
    ):
        path = options.get("path")
        if not path:
            raise ValueError("path is required (pass to .load(path))")
        self._parse = parse
        self._schema = schema
        self._path = path
        self._compression = options.get("compression", "auto_detect")
        self._splittable = splittable

    def partitions(self):
        return [
            _SplitPartition(s)
            for s in plan_splits(self._path, self._compression, splittable=self._splittable)
        ]

    def read(self, partition: _SplitPartition):
        yield from record_batches(
            self._parse(partition.split), _to_arrow_schema(self._schema)
        )


def _make_datasource(fmt: str, schema: T.StructType, parse_import: str, splittable: bool):
    """Build a DataSource subclass for one format.

    ``parse_import`` is "module:function" resolved lazily inside reader() so
    the class pickles cheaply to executors.
    """

    def _resolve():
        import importlib

        mod, fn = parse_import.split(":")
        return getattr(importlib.import_module(mod), fn)

    class _BioDataSource(DataSource):
        @classmethod
        def name(cls) -> str:
            return fmt

        def schema(self) -> T.StructType:
            return schema

        def reader(self, schema: T.StructType) -> DataSourceReader:
            return _SplitParserReader(_resolve(), schema, self.options, splittable)

    _BioDataSource.__name__ = f"{fmt.capitalize()}DataSource"
    return _BioDataSource


# format → (SQL table function, schema, "module:parser", splittable): the one
# table behind ``spark.read.format(fmt)`` and the SQL name
# (functions/register.py). ``splittable`` only where the parser honors
# FileSplit byte ranges (fasta/fastq scan ahead from split.start, bam walks
# BGZF blocks); genbank/mzml parse whole files, so planning them splittable
# would emit every record once per split — they get one split per file.
SPLIT_PARSERS = {
    "fasta": ("read_fasta", S.FASTA_SCHEMA, "exon_duckdb_spark.sources.fasta:_parse_fasta_split", True),
    "fastq": ("read_fastq", S.FASTQ_SCHEMA, "exon_duckdb_spark.sources.fastq:_parse_fastq_split", True),
    "genbank": (
        "read_genbank", S.GENBANK_SCHEMA, "exon_duckdb_spark.sources.genbank:_parse_genbank_split", False
    ),
    "mzml": ("read_mzml", S.MZML_SCHEMA, "exon_duckdb_spark.sources.mzml:_parse_mzml_split", False),
    "bam": ("read_bam_file_records", S.SAM_SCHEMA, "exon_duckdb_spark.sources.bam:_parse_bam_split", True),
}

BIO_DATASOURCES = {
    fmt: _make_datasource(fmt, schema, imp, splittable)
    for fmt, (_, schema, imp, splittable) in SPLIT_PARSERS.items()
}


def register_bio_sources(spark: SparkSession) -> None:
    """Register every static-schema format with spark.dataSource."""
    for cls in BIO_DATASOURCES.values():
        spark.dataSource.register(cls)
