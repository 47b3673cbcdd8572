"""The DataFrame readers and the SQL table functions of the line formats run
one definition each, so they must return the same rows — on golden lines
and on adversarial ones (empty fields, non-numeric coordinates, malformed
numbers, short rows), where reads are null-on-error. VCF keeps a Python
form for its SQL name (header-driven schema); it is pinned to ``read_vcf``
the same way."""

from __future__ import annotations

import gzip

import pytest

from exon_duckdb_spark.functions.register import register_all
from exon_duckdb_spark.sources import schemas as S
from exon_duckdb_spark.sources import tsv
from exon_duckdb_spark.sources.vcf import read_vcf

HMM_GOLDEN = (
    "t1 PF1.1 100 q1 - 50 0.5 10.5 0.25 1 2 0.5 0.5 9.5 0.1 1 20 5 25 3 30 0.9"
)
HMM_GOLDEN_ROW = (
    "t1", "PF1.1", 100, "q1", "-", 50, 0.5, 10.5, 0.25, 1, 2, 0.5, 0.5, 9.5, 0.1,
    1, 20, 5, 25, 3, 30, 0.9,
)

# (SQL name, DataFrame reader, schema, file suffix, text, expected rows)
CASES = {
    "gff_golden": (
        "read_gff", tsv.read_gff, S.GFF_SCHEMA, "gff",
        "chr1\tsrc\tgene\t10\t50\t.\t+\t.\tID=g1;Name=n1,n2\n",
        [("chr1", "src", "gene", 10, 50, None, "+", None, {"ID": ["g1"], "Name": ["n1", "n2"]})],
    ),
    "gff_empty_fields": (
        "read_gff", tsv.read_gff, S.GFF_SCHEMA, "gff",
        "chr1\t\tgene\t10\t50\t.\t\t.\tID=g2\n",
        [("chr1", None, "gene", 10, 50, None, None, None, {"ID": ["g2"]})],
    ),
    "gff_nonnumeric_start": (
        "read_gff", tsv.read_gff, S.GFF_SCHEMA, "gff",
        "chr1\tsrc\tgene\tx\t50\t.\t+\t.\tID=g3\n", [],
    ),
    "gff_malformed_score": (
        "read_gff", tsv.read_gff, S.GFF_SCHEMA, "gff",
        "chr1\tsrc\tgene\t10\t50\tabc\t+\t.\tID=g4\n",
        [("chr1", "src", "gene", 10, 50, None, "+", None, {"ID": ["g4"]})],
    ),
    "gff_five_fields": (
        "read_gff", tsv.read_gff, S.GFF_SCHEMA, "gff",
        "chr1\tsrc\tgene\t10\t50\n",
        [("chr1", "src", "gene", 10, 50, None, None, None, None)],
    ),
    "gff_fasta_trailer": (
        "read_gff", tsv.read_gff, S.GFF_SCHEMA, "gff",
        "##gff-version 3\nsq0\tsrc\tgene\t8\t13\t0.5\t-\t1\tID=a;;Note=x\n##FASTA\n>sq0\nACGT\n",
        [("sq0", "src", "gene", 8, 13, 0.5, "-", "1", {"ID": ["a"], "Note": ["x"]})],
    ),
    "gff_repeated_key": (
        "read_gff", tsv.read_gff, S.GFF_SCHEMA, "gff",
        "chr1\tsrc\tgene\t10\t50\t.\t+\t.\tID=a;Name=n;ID=b,c\n",
        [("chr1", "src", "gene", 10, 50, None, "+", None, {"ID": ["a", "b", "c"], "Name": ["n"]})],
    ),
    "gff_raw_empty_fields": (
        "read_gff_raw", tsv.read_gff_raw, S.GFF_RAW_SCHEMA, "gff",
        "chr1\t\tgene\t10\t50\t.\t\t0\tID=g2;\n",
        [("chr1", None, "gene", 10, 50, ".", None, "0", "ID=g2;")],
    ),
    "gff_raw_nonnumeric_start": (
        "read_gff_raw", tsv.read_gff_raw, S.GFF_RAW_SCHEMA, "gff",
        "chr1\tsrc\tgene\tx\t50\t.\t+\t.\tID=g3\n", [],
    ),
    "gtf_golden": (
        "read_gtf", tsv.read_gtf, S.GTF_SCHEMA, "gtf",
        'chr1\tsrc\texon\t5\t20\t1.5\t-\t0\tgene_id "g9"; transcript_id "t1";\n',
        [("chr1", "src", "exon", 5, 20, 1.5, "-", "0", {"gene_id": ["g9"], "transcript_id": ["t1"]})],
    ),
    "gtf_repeated_key": (
        "read_gtf", tsv.read_gtf, S.GTF_SCHEMA, "gtf",
        'chr1\tsrc\texon\t5\t20\t.\t+\t.\tgene_id "g9"; tag "a"; tag "b";\n',
        [("chr1", "src", "exon", 5, 20, None, "+", None, {"gene_id": ["g9"], "tag": ["a", "b"]})],
    ),
    "gtf_dots": (
        "read_gtf", tsv.read_gtf, S.GTF_SCHEMA, "gtf",
        "chr1\tsrc\texon\t5\t20\t.\t.\t.\t.\n",
        [("chr1", "src", "exon", 5, 20, None, None, None, None)],
    ),
    "bed_golden_6": (
        "read_bed_file", tsv.read_bed, S.BED_SCHEMA, "bed",
        "chr2\t99\t200\tfeat\t0\t.\n",
        [("chr2", 100, 200, "feat", None, None, None, None, None, None, None, None)],
    ),
    "bed_3_fields": (
        "read_bed_file", tsv.read_bed, S.BED_SCHEMA, "bed",
        "chr2\t99\t200\n",
        [("chr2", 100, 200, None, None, None, None, None, None, None, None, None)],
    ),
    "bed_golden_12": (
        "read_bed_file", tsv.read_bed, S.BED_SCHEMA, "bed",
        "# c\nchr2\t0\t100\tn\t960\t+\t10\t90\t255,0,0\t2\t10,20,\t0,80,\n\n",
        [("chr2", 1, 100, "n", "960", "+", 11, 90, "255,0,0", 2, "10,20,", "0,80,")],
    ),
    "bed_nonnumeric_start": (
        "read_bed_file", tsv.read_bed, S.BED_SCHEMA, "bed",
        "chr2\tx\t200\tfeat\t5\t+\n",
        [("chr2", None, 200, "feat", "5", "+", None, None, None, None, None, None)],
    ),
    "sam_golden": (
        "read_sam_file_records", tsv.read_sam, S.SAM_SCHEMA, "sam",
        "@HD\tVN:1.6\nr1\t0\tchr1\t100\t60\t5M2D3M\t=\t0\t0\tACGTACGT\tIIIIIIII\tNM:i:0\n",
        [("r1", 0, "chr1", 100, 109, "60", "5M2D3M", "chr1", "ACGTACGT", "IIIIIIII")],
    ),
    "sam_unmapped": (
        "read_sam_file_records", tsv.read_sam, S.SAM_SCHEMA, "sam",
        "r2\t4\t*\t0\t0\t*\t*\t0\t0\tACGT\t*\n",
        [("r2", 4, None, None, None, "0", None, None, "ACGT", None)],
    ),
    "sam_nonnumeric_pos": (
        "read_sam_file_records", tsv.read_sam, S.SAM_SCHEMA, "sam",
        "r3\t0\tchr1\tx\t60\t4M\tchr2\t5\t0\tACGT\tIIII\n",
        [("r3", 0, "chr1", None, None, "60", "4M", "chr2", "ACGT", "IIII")],
    ),
    "hmm_golden": (
        "read_hmm_dom_tbl_out", tsv.read_hmm_dom_tbl, S.HMM_DOMTAB_SCHEMA, "domtblout",
        f"# c\n{HMM_GOLDEN} a long  description\n",
        [HMM_GOLDEN_ROW + ("a long  description",)],
    ),
    "hmm_22_fields": (
        "read_hmm_dom_tbl_out", tsv.read_hmm_dom_tbl, S.HMM_DOMTAB_SCHEMA, "domtblout",
        f"{HMM_GOLDEN}\n", [HMM_GOLDEN_ROW + (None,)],
    ),
    "hmm_3_fields": (
        "read_hmm_dom_tbl_out", tsv.read_hmm_dom_tbl, S.HMM_DOMTAB_SCHEMA, "domtblout",
        "t1 PF1.1 100\n", [("t1", "PF1.1", 100) + (None,) * 20],
    ),
    "hmm_malformed_int": (
        "read_hmm_dom_tbl_out", tsv.read_hmm_dom_tbl, S.HMM_DOMTAB_SCHEMA, "domtblout",
        HMM_GOLDEN.replace(" 100 ", " x ") + " d\n",
        [HMM_GOLDEN_ROW[:2] + (None,) + HMM_GOLDEN_ROW[3:] + ("d",)],
    ),
}


@pytest.fixture(scope="module")
def sql_spark(spark):
    register_all(spark)
    return spark


def _rows(df) -> list[tuple]:
    return [tuple(r) for r in df.collect()]


@pytest.mark.parametrize("case", sorted(CASES))
def test_dataframe_and_sql_rows_agree(sql_spark, tmp_path, case):
    name, reader, schema, suffix, text, expected = CASES[case]
    p = tmp_path / f"x.{suffix}"
    p.write_text(text)
    df = reader(sql_spark, str(p))
    sql = sql_spark.sql(f"SELECT * FROM {name}('{p}')")
    assert df.schema == sql.schema == schema
    assert _rows(df) == _rows(sql) == expected


def test_gzip_file_both_forms(sql_spark, tmp_path):
    p = tmp_path / "x.gff.gz"
    with gzip.open(p, "wt") as f:
        f.write("chr1\tsrc\tgene\t10\t50\t.\t+\t.\tID=g1\n" * 3)
    want = [("chr1", "src", "gene", 10, 50, None, "+", None, {"ID": ["g1"]})] * 3
    assert _rows(tsv.read_gff(sql_spark, str(p))) == want
    assert _rows(sql_spark.sql(f"SELECT * FROM read_gff('{p}')")) == want
    assert _rows(sql_spark.sql(f"SELECT * FROM read_gff('{p}', 'gzip')")) == want


VCF_HEADER = (
    "##fileformat=VCFv4.2\n"
    '##INFO=<ID=DP,Number=1,Type=Integer,Description="d">\n'
    '##INFO=<ID=AF,Number=A,Type=Float,Description="d">\n'
    '##INFO=<ID=DB,Number=0,Type=Flag,Description="d">\n'
    '##INFO=<ID=NS,Number=1,Type=String,Description="d">\n'
    '##INFO=<ID=AF.1,Number=A,Type=Float,Description="d">\n'
    '##INFO=<ID=H.2,Number=0,Type=Flag,Description="d">\n'
    '##INFO=<ID=MQ,Number=1,Type=Integer,Description="d">\n'
    "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tS1\tS2\n"
)
NO_INFO = (None,) * 7
NO_FLAGS = (None, None, False, None, None, False, None)

# data line(s) → (fixed columns, info (DP, AF, DB, NS, AF.1, H.2, MQ),
# formats, genotypes); each text holds exactly one record
VCF_CASES = {
    "genotypes": (
        "1\t100\trs1\tA\tT,G\t12.5\tPASS\tDP=7;AF=0.5,0.25;DB;NS=x\tGT:DP\t0/1:3\t1/1:.",
        ("1", 100, "rs1", "A", ["T", "G"], 12.5, "PASS"),
        (7, [0.5, 0.25], True, "x", None, False, None), "GT:DP", ["0/1:3", "1/1:."],
    ),
    "truncated": ("1\t100", ("1", 100, None, None, None, None, None), NO_INFO, None, None),
    "no_info_column": (
        "1\t100\t.\tA\t.\t.\t.", ("1", 100, None, "A", None, None, None), NO_INFO, None, None,
    ),
    "dot_info": (
        "1\t100\t.\tA\t.\t.\t.\t.", ("1", 100, None, "A", None, None, None), NO_FLAGS,
        None, None,
    ),
    "malformed_values": (
        "1\tx\t.\tA\tT\tbad\t.\tDP=notanint;AF=0.5,x,.;NS=.",
        ("1", None, None, "A", ["T"], None, None),
        (None, [0.5, None, None], False, None, None, False, None), None, None,
    ),
    "malformed_integer": (
        "1\t100\t.\tA\tT\t.\t.\tDP=1x;MQ=--3",
        ("1", 100, None, "A", ["T"], None, None), NO_FLAGS, None, None,
    ),
    "repeated_key": (
        "1\t100\t.\tA\tT\t.\t.\tDP;DP=1;DP=2", ("1", 100, None, "A", ["T"], None, None),
        (1, None, False, None, None, False, None), None, None,
    ),
    "int_overflow": (
        "1\t100\t.\tA\tT\t.\t.\tDP=99999999999;AF=1e3", ("1", 100, None, "A", ["T"], None, None),
        (None, [1000.0], False, None, None, False, None), None, None,
    ),
    # '.' in an ID is a regex metacharacter: AFx1 and Hx2 must not match
    # AF.1 and H.2
    "regex_metachar_id_absent": (
        "1\t100\t.\tA\tT\t.\t.\tAFx1=0.5;Hx2;DB", ("1", 100, None, "A", ["T"], None, None),
        (None, None, True, None, None, False, None), None, None,
    ),
    "regex_metachar_id_present": (
        "1\t100\t.\tA\tT\t.\t.\tAF.1=0.25;H.2", ("1", 100, None, "A", ["T"], None, None),
        (None, None, False, None, [0.25], True, None), None, None,
    ),
    "dot_elements": (
        "1\t100\t.\tA\tT,C,G\t.\t.\tAF=.,0.5,.;MQ=.;DP=12",
        ("1", 100, None, "A", ["T", "C", "G"], None, None),
        (12, [None, 0.5, None], False, None, None, False, None), None, None,
    ),
    "eight_columns": (
        "1\t100\t.\tA\tT\t.\t.\tMQ=60", ("1", 100, None, "A", ["T"], None, None),
        (None, None, False, None, None, False, 60), None, None,
    ),
    "format_no_samples": (
        "1\t5\t.\tA\tT\t.\t.\tDP=4\tGT", ("1", 5, None, "A", ["T"], None, None),
        (4, None, False, None, None, False, None), "GT", None,
    ),
    "blank_lines": (
        "\n1\t100\t.\tA\tT\t.\t.\tDP=3\tGT\t0|1\n", ("1", 100, None, "A", ["T"], None, None),
        (3, None, False, None, None, False, None), "GT", ["0|1"],
    ),
}


@pytest.mark.parametrize("case", sorted(VCF_CASES))
def test_vcf_dataframe_and_sql_rows_agree(sql_spark, tmp_path, case):
    line, fixed, info, formats, genotypes = VCF_CASES[case]
    p = tmp_path / "x.vcf"
    p.write_text(VCF_HEADER + line + "\n")
    df = _rows(read_vcf(sql_spark, str(p)))
    sql = _rows(sql_spark.sql(f"SELECT * FROM read_vcf_file_records('{p}')"))
    assert df == sql
    (row,) = df
    assert row[:7] == fixed
    assert tuple(row[7]) == info
    assert row[8:] == (formats, genotypes)
