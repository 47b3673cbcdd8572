"""Malformed/edge-input tolerance for the text sources, and the UDTF
split-planning contract.

Spark 4 runs with ANSI mode on (session.py): raw casts and array indexing
abort the job on bad data. The readers must instead honor the formats' own
missing-value conventions ('.' in VCF, '##FASTA' trailers in GFF, blank
lines anywhere) with null-on-error read semantics — these tests pin that,
plus the rule that whole-file parsers are never planned splittable (which
would duplicate records once per 128MB split).
"""

from __future__ import annotations

import gzip

import pytest

from exon_duckdb_spark.functions.register import register_all
from exon_duckdb_spark.sources.tsv import read_gff
from exon_duckdb_spark.sources.vcf import _peek_info_fields, parse_vcf_record_fields, read_vcf

VCF_DOTTED = (
    "##fileformat=VCFv4.2\n"
    '##INFO=<ID=MQ,Number=1,Type=Integer,Description="Mapping quality">\n'
    '##INFO=<ID=CAF,Number=A,Type=Float,Description="Allele freqs">\n'
    "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tS1\n"
    "1\t100\t.\tA\tT\t10\tPASS\tMQ=.;CAF=0.5,.\tGT\t0/1\n"
    "\n"  # blank line: spec-tolerated, must not abort the scan
    "1\t200\trs2\tG\tC\t.\t.\tMQ=60;CAF=.\tGT\t1/1\n"
)

GFF_FASTA_TRAILER = (
    "##gff-version 3\n"
    "sq0\tsrc\tgene\t8\t13\t.\t+\t.\tID=g1\n"
    "##FASTA\n"
    ">sq0\n"
    "ACGTACGTACGT\n"
)


class TestVcfMissingValues:
    def test_read_vcf_dot_info_and_blank_line(self, spark, tmp_path):
        p = tmp_path / "dotted.vcf"
        p.write_text(VCF_DOTTED)
        rows = read_vcf(spark, str(p)).orderBy("pos").collect()
        assert [r["pos"] for r in rows] == [100, 200]
        r0, r1 = rows
        assert r0["info"]["MQ"] is None  # MQ=. → NULL scalar
        assert list(r0["info"]["CAF"]) == [0.5, None]  # per-element '.'
        assert r1["info"]["MQ"] == 60
        assert r1["info"]["CAF"] is None  # bare '.' → NULL field, not [NULL]
        assert r1["qual"] is None

    def test_pyparse_mirror_matches(self):
        fields = _mk_info_fields()
        rec = parse_vcf_record_fields(
            "1\t100\t.\tA\tT\t10\tPASS\tMQ=.;CAF=0.5,.\tGT\t0/1".split("\t"), fields
        )
        assert rec["info"]["MQ"] is None
        assert rec["info"]["CAF"] == [0.5, None]
        rec2 = parse_vcf_record_fields(
            "1\t200\trs2\tG\tC\t.\t.\tMQ=60;CAF=.".split("\t"), fields
        )
        assert rec2["info"]["MQ"] == 60
        assert rec2["info"]["CAF"] is None

    def test_pyparse_malformed_numbers_null_not_crash(self):
        fields = _mk_info_fields()
        rec = parse_vcf_record_fields(
            "1\tbadpos\t.\tA\tT\tbadqual\t.\tMQ=notanint".split("\t"), fields
        )
        assert rec["pos"] is None
        assert rec["qual"] is None
        assert rec["info"]["MQ"] is None

    def test_short_line_does_not_abort(self, spark, tmp_path):
        p = tmp_path / "short.vcf"
        p.write_text(
            "##fileformat=VCFv4.2\n"
            "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\n"
            "1\t100\n"  # truncated record: nulls, not INVALID_ARRAY_INDEX
        )
        rows = read_vcf(spark, str(p)).collect()
        assert len(rows) == 1
        assert rows[0]["pos"] == 100 and rows[0]["ref"] is None

    def test_header_peek_zstd(self, tmp_path):
        import pyarrow as pa

        if not pa.Codec.is_available("zstd"):  # pragma: no cover
            pytest.skip("pyarrow without zstd")
        p = tmp_path / "dotted.vcf.zst"
        with pa.output_stream(str(p), compression="zstd") as f:
            f.write(VCF_DOTTED.encode())
        fields = _peek_info_fields(str(p))
        assert [f.id for f in fields] == ["MQ", "CAF"]

    def test_header_peek_gzip_still_works(self, tmp_path):
        p = tmp_path / "dotted.vcf.gz"
        with gzip.open(p, "wt") as f:
            f.write(VCF_DOTTED)
        assert [f.id for f in _peek_info_fields(str(p))] == ["MQ", "CAF"]


def _mk_info_fields():
    from exon_duckdb_spark.sources.vcf import InfoField

    return [InfoField("MQ", "1", "Integer"), InfoField("CAF", "A", "Float")]


class TestGffFastaTrailer:
    def test_sql_drops_trailer_like_dataframe(self, spark, tmp_path):
        p = tmp_path / "trailer.gff"
        p.write_text(GFF_FASTA_TRAILER)
        register_all(spark)
        sql_rows = spark.sql(f"SELECT seqname FROM read_gff('{p}')").collect()
        assert [r["seqname"] for r in sql_rows] == ["sq0"]
        raw_rows = spark.sql(f"SELECT seqid FROM read_gff_raw('{p}')").collect()
        assert [r["seqid"] for r in raw_rows] == ["sq0"]
        # and the DataFrame reader agrees
        df_rows = read_gff(spark, str(p)).collect()
        assert [r["seqname"] for r in df_rows] == ["sq0"]


class TestUdtfSplitPlanning:
    """Whole-file parsers must never be planned splittable (a >128MB file
    would emit every record once per split); range-honoring parsers keep
    split parallelism — in the SQL table function and the DataSource alike,
    which read one table (``datasource.SPLIT_PARSERS``)."""

    @staticmethod
    def _capture_splittable(monkeypatch, module) -> dict:
        seen: dict = {}

        def fake_plan_splits(path, compression="auto_detect", split_bytes=0, splittable=True):
            seen["splittable"] = splittable
            return []

        monkeypatch.setattr(module, "plan_splits", fake_plan_splits)
        return seen

    def _planned_splittable(self, name: str, monkeypatch) -> bool:
        from exon_duckdb_spark.functions import register as reg
        from exon_duckdb_spark.sources import splits as sp
        from exon_duckdb_spark.sources.datasource import SPLIT_PARSERS

        seen = self._capture_splittable(monkeypatch, sp)
        _, schema, parse_import, splittable = next(
            v for v in SPLIT_PARSERS.values() if v[0] == name
        )
        handler = reg._make_read_udtf(schema, parse_import, splittable).func
        list(handler().eval("dummy-path"))
        return seen["splittable"]

    @pytest.mark.parametrize("name", ["read_genbank", "read_mzml"])
    def test_whole_file_parsers_unsplittable(self, name, monkeypatch):
        assert self._planned_splittable(name, monkeypatch) is False

    @pytest.mark.parametrize("name", ["read_fasta", "read_fastq", "read_bam_file_records"])
    def test_range_parsers_stay_splittable(self, name, monkeypatch):
        assert self._planned_splittable(name, monkeypatch) is True

    @pytest.mark.parametrize("fmt", ["fasta", "fastq", "genbank", "mzml", "bam"])
    def test_datasource_plans_like_the_table_function(self, fmt, monkeypatch):
        from exon_duckdb_spark.sources import datasource as ds

        seen = self._capture_splittable(monkeypatch, ds)
        source = ds.BIO_DATASOURCES[fmt](options={"path": "dummy-path"})
        source.reader(source.schema()).partitions()
        name = ds.SPLIT_PARSERS[fmt][0]
        assert seen["splittable"] is self._planned_splittable(name, monkeypatch)
        assert seen["splittable"] is (fmt not in ("genbank", "mzml"))

    def test_line_reader_unsplittable(self, monkeypatch):
        # read_split_lines ignores byte ranges: planned as splittable, a file
        # over one split size would yield each line once per split
        from exon_duckdb_spark.functions import register as reg
        from exon_duckdb_spark.sources import splits as sp

        seen = self._capture_splittable(monkeypatch, sp)
        list(reg._make_lines_udtf().func().eval("dummy-path", "auto_detect"))
        assert seen["splittable"] is False

    def test_whole_file_parser_really_reads_whole_file(self, spark, tmp_path):
        # the text formats' table functions read lines through one
        # whole-file split: every record comes back once
        p = tmp_path / "two.gff"
        p.write_text(
            "sq0\tsrc\tgene\t1\t5\t.\t+\t.\tID=a\n"
            "sq1\tsrc\tgene\t2\t6\t.\t+\t.\tID=b\n"
        )
        register_all(spark)
        assert spark.sql(f"SELECT * FROM read_gff('{p}')").count() == 2


class TestHarnessGuards:
    """bench.py / tools robustness: no crash on custom dir names, no silent
    no-op correctness runs."""

    def test_parse_sf_variants(self):
        from bench import parse_sf

        assert parse_sf("/root/testdata/sf0.1") == 0.1
        assert parse_sf("/root/testdata/sf0.01/") == 0.01
        assert parse_sf("/tmp/spark_graft_sf1") == 1.0
        assert parse_sf("/data/events_v2") == 0.0  # no sf tag: no crash

    def test_check_oracle_rejects_unknown_names(self):
        import pytest as _pytest

        from tools.check_oracle import run_checks

        with _pytest.raises(SystemExit, match="unknown query name"):
            run_checks("/root/testdata/sf0.001", only={"q49_vcf_roundtrp"}, spark=object())
