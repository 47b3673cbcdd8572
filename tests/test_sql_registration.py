"""SQL-surface registration tests. Each scalar function has one SQL body
(``register._scalar_defs``); the Column API calls it, so the SQL-vs-Column
checks here confirm both entry points reach the same registered body. The
registration itself is lazy (first Column call in a session) and is tested
in a fresh subprocess. The reference's SQL statements must run verbatim."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

import exon_duckdb_spark.functions as fx
from exon_duckdb_spark.functions.register import register_all

SEQS = ["ATCG", "GGGG", "", "ATG", "ATGTAA", None, "ACGTACGTA"]


@pytest.fixture(scope="module")
def sql_spark(spark):
    register_all(spark)
    return spark


def _pairs(sql_spark, inputs, sql_expr, col):
    df = sql_spark.createDataFrame([(x,) for x in inputs], "s string")
    got_sql = [r[0] for r in df.selectExpr(sql_expr).collect()]
    got_col = [r[0] for r in df.select(col).collect()]
    return got_sql, got_col


@pytest.mark.parametrize(
    "sql_expr,col_fn",
    [
        ("gc_content(s)", lambda: fx.gc_content("s")),
        ("complement(s)", lambda: fx.complement("s")),
        ("reverse_complement(s)", lambda: fx.reverse_complement("s")),
        ("reverse_complement_strict(s)", lambda: fx.reverse_complement_strict("s")),
        ("transcribe(s)", lambda: fx.transcribe("s")),
    ],
)
def test_sequence_sql_matches_column(sql_spark, sql_expr, col_fn):
    got_sql, got_col = _pairs(sql_spark, SEQS, sql_expr, col_fn())
    assert got_sql == got_col


def test_gc_content_double_and_float(sql_spark):
    df = sql_spark.createDataFrame([("GCA",)], "s string")
    out = df.select(fx.gc_content("s", as_double=True).alias("d"), fx.gc_content("s").alias("f"))
    assert dict(out.dtypes) == {"d": "double", "f": "float"}
    row = out.first()
    assert row["d"] == 2 / 3
    assert row["f"] == pytest.approx(2 / 3, abs=1e-6)


_FRESH_SESSION_SCRIPT = """
import exon_duckdb_spark.functions as fx
from exon_duckdb_spark.session import get_session

for _ in range(2):
    spark = get_session(master="local[1]", shuffle_partitions=1,
                        extra_conf={"spark.driver.memory": "1g"})
    before = spark.catalog.functionExists("gc_content")
    df = spark.createDataFrame([("GCA", "!#", 4, "1M2D")], "s string, q string, f int, c string")
    row = df.select(fx.gc_content("s", as_double=True), fx.quality_score_string_to_list("q"),
                    fx.is_unmapped("f"), fx.cigar_reference_length("c"),
                    fx.exondb_version()).first()
    print("ROW", before, spark.catalog.functionExists("gc_content"), tuple(row))
    spark.stop()
"""


def test_column_functions_register_lazily_per_session():
    """Column functions resolve in a fresh session that never called
    register_all (get_session registers nothing), and again after
    ``spark.stop()`` and a new session."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {**os.environ, "PYTHONPATH": root}
    out = subprocess.run(
        [sys.executable, "-c", _FRESH_SESSION_SCRIPT],
        cwd=root, env=env, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    rows = [ln for ln in out.stdout.splitlines() if ln.startswith("ROW ")]
    want = f"ROW False True {(2 / 3, [0, 2], True, 3, '0.3.9')}"
    assert rows == [want, want]


def test_translate_dna_to_aa_sql(sql_spark):
    inputs = ["ATGTAA", "", "AAATTTCCCGGG", None]
    got_sql, got_col = _pairs(
        sql_spark, inputs, "translate_dna_to_aa(s)", fx.translate_dna_to_aa("s")
    )
    assert got_sql == got_col == ["M*", "", "KFPG", None]


def test_quality_and_cigar_sql(sql_spark):
    row = sql_spark.sql(
        "SELECT quality_score_string_to_list('!#') AS q,"
        "       parse_cigar('1M2D3S') AS c,"
        "       cigar_reference_length('10M5I3D') AS rl,"
        "       extract_from_cigar('AACCAA', '2I2M2I') AS e,"
        "       gff_parse_attributes('ID=x;locus_tag=y;') AS g,"
        "       exondb_version() AS v"
    ).first()
    assert row["q"] == [0, 2]
    assert [(x["op"], x["len"]) for x in row["c"]] == [("M", 1), ("D", 2), ("S", 3)]
    assert row["rl"] == 13
    assert (row["e"]["sequence_start"], row["e"]["sequence_end"], row["e"]["sequence"]) == (2, 4, "CC")
    assert row["g"] == {"ID": "x", "locus_tag": "y"}
    assert row["v"] == "0.3.9"


def test_flag_predicates_sql(sql_spark):
    row = sql_spark.sql(
        "SELECT is_segmented(1) a, is_unmapped(4) b, is_supplementary(2048) c,"
        "       is_duplicate(1) d"
    ).first()
    assert (row["a"], row["b"], row["c"], row["d"]) == (True, True, True, False)


def test_sql_error_contracts(sql_spark):
    with pytest.raises(Exception, match="invalid character"):
        sql_spark.sql("SELECT complement('ABC')").collect()
    with pytest.raises(Exception, match="invalid CIGAR"):
        sql_spark.sql("SELECT parse_cigar('MMM')").collect()
    with pytest.raises(Exception, match="divisible by 3"):
        sql_spark.sql("SELECT translate_dna_to_aa('AT')").collect()


def test_alignment_sql(sql_spark):
    row = sql_spark.sql(
        "SELECT alignment_string('AACC', 'AAACC') AS s, alignment_score('AACC', 'AACC') AS c"
    ).first()
    assert row["s"] == "2M1D2M"
    assert row["c"] == 0.0


def test_alignment_sql_6_and_7_arg_forms(sql_spark):
    """Reference bind-time arities (module.cpp:53-133): 6-arg
    (mismatch, gap_open, gap_ext, memmodel) and 7-arg (+leading match),
    with the memory-model accepted-but-behaviorally-noop."""
    row = sql_spark.sql(
        "SELECT alignment_string_wfa_gap_affine("
        "  'AACC', 'AAACC', 4, 6, 2, 'memory_high') AS s6, "
        "alignment_string_wfa_gap_affine("
        "  'AACC', 'AAACC', 0, 4, 6, 2, 'memory_low') AS s7, "
        "alignment_score_wfa_gap_affine("
        "  'AACC', 'AACC', 4, 6, 2, 'memory_med') AS c6, "
        "alignment_score_wfa_gap_affine("
        "  'AACC', 'AACC', -1, 4, 6, 2, 'memory_high') AS c7"
    ).first()
    assert row["s6"] == "2M1D2M" and row["s7"] == "2M1D2M"
    assert row["c6"] == 0.0
    assert row["c7"] == 4.0  # match bonus -1 per matched base, negated penalty


def test_alignment_sql_error_contracts(sql_spark):
    """module.cpp:91 ('Invalid memory model: …') and module.cpp:99-102
    ('Match score must be negative or zero.')."""
    with pytest.raises(Exception, match="Invalid memory model: memory_hug"):
        sql_spark.sql(
            "SELECT alignment_string_wfa_gap_affine('A', 'A', 4, 6, 2, 'memory_hug')"
        ).collect()
    with pytest.raises(Exception, match="Match score must be negative or zero"):
        sql_spark.sql(
            "SELECT alignment_score_wfa_gap_affine('A', 'A', 1, 4, 6, 2, 'memory_high')"
        ).collect()
    with pytest.raises(Exception, match="takes 2, 6 or 7 arguments"):
        sql_spark.sql(
            "SELECT alignment_string_wfa_gap_affine('A', 'A', 4)"
        ).collect()


def test_read_gff_raw_tvf(sql_spark, tmp_path):
    """Mirrors the reference's disabled raw-scan golden
    (test_gff_scan.test:100-113): score stays '.', phase stays '0',
    attributes stay the unparsed string."""
    p = tmp_path / "raw-test.gff"
    p.write_text(
        "KanNP_rdsDRAFT_3085441342\tFGMP\tCDS\t2\t151\t.\t1\t0\t"
        "ID=KanNP_rdsDRAFT_3085441342.1;locus_tag=KanNP_rdsDRAFT_30854413421;\n"
    )
    r = sql_spark.sql(
        "SELECT seqid, source, type, start, `end`, score, strand, phase, attributes "
        f"FROM read_gff_raw('{p}') LIMIT 1"
    ).first()
    assert tuple(r) == (
        "KanNP_rdsDRAFT_3085441342", "FGMP", "CDS", 2, 151, ".", "1", "0",
        "ID=KanNP_rdsDRAFT_3085441342.1;locus_tag=KanNP_rdsDRAFT_30854413421;",
    )
    # the DataFrame reader runs the same definition over a text scan
    from exon_duckdb_spark.sources import read_gff_raw

    r2 = read_gff_raw(sql_spark, str(p)).first()
    assert tuple(r2) == tuple(r)


def test_acknowledgements_tvf(sql_spark):
    """Reference surface test_acknowledgements_function.test:3-14 (disabled
    there) — names reflect THIS engine's third-party stack."""
    names = [
        r["name"]
        for r in sql_spark.sql(
            "SELECT name FROM exondb_third_party_acknowledgements() ORDER BY name"
        ).collect()
    ]
    assert names == ["Apache Arrow", "Apache Spark", "NumPy", "pandas"]


def test_read_fasta_tvf(sql_spark, tmp_path):
    p = tmp_path / "t.fasta"
    p.write_text(">a description\nATCG\n>b\nGGCC\n")
    rows = sql_spark.sql(
        f"SELECT id, gc_content(sequence) AS gc FROM read_fasta('{p}') ORDER BY id"
    ).collect()
    assert [(r["id"], r["gc"]) for r in rows] == [("a", 0.5), ("b", 1.0)]


def test_read_fastq_tvf(sql_spark, tmp_path):
    p = tmp_path / "t.fastq"
    p.write_text("@r1 d\nACGT\n+\n!!!!\n")
    rows = sql_spark.sql(
        f"SELECT name, quality_score_string_to_list(quality_scores) AS q FROM read_fastq('{p}')"
    ).collect()
    assert [(r["name"], r["q"]) for r in rows] == [("r1", [0, 0, 0, 0])]


def test_read_gff_gtf_bed_sam_hmm_tvfs(sql_spark, tmp_path):
    """Every reference SQL scan name runs verbatim as a Spark UDTF."""
    gff = tmp_path / "x.gff"
    gff.write_text("chr1\tsrc\tgene\t10\t50\t.\t+\t.\tID=g1;Name=n1\n")
    r = sql_spark.sql(f"SELECT * FROM read_gff('{gff}')").collect()[0]
    assert r["seqname"] == "chr1" and r["score"] is None
    assert r["attributes"]["ID"] == ["g1"]

    gtf = tmp_path / "x.gtf"
    gtf.write_text('chr1\tsrc\texon\t5\t20\t1.5\t-\t0\tgene_id "g9";\n')
    r = sql_spark.sql(f"SELECT * FROM read_gtf('{gtf}')").collect()[0]
    assert r["attributes"]["gene_id"] == ["g9"] and r["frame"] == "0"

    bed = tmp_path / "x.bed"
    bed.write_text("chr2\t99\t200\tfeat\t0\t.\n")
    r = sql_spark.sql(f"SELECT * FROM read_bed_file('{bed}')").collect()[0]
    assert r["start"] == 100 and r["score"] is None and r["strand"] is None

    sam = tmp_path / "x.sam"
    sam.write_text(
        "@HD\tVN:1.6\n"
        "r1\t0\tchr1\t100\t60\t5M2D3M\t=\t0\t0\tACGTACGT\tIIIIIIII\n"
    )
    r = sql_spark.sql(f"SELECT * FROM read_sam_file_records('{sam}')").collect()[0]
    assert r["end"] == 100 + 5 + 2 + 3 - 1 and r["mate_reference"] == "chr1"

    hmm = tmp_path / "x.domtblout"
    hmm.write_text(
        "# comment\n"
        "t1 PF1.1 100 q1 - 50 0.5 10.5 0.25 1 2 0.5 0.5 9.5 0.1 "
        "1 20 5 25 3 30 0.9 a long description\n"
    )
    r = sql_spark.sql(f"SELECT * FROM read_hmm_dom_tbl_out('{hmm}')").collect()[0]
    assert r["tlen"] == 100 and r["description"] == "a long description"


def test_read_vcf_file_records_tvf_header_schema(sql_spark, tmp_path):
    """The VCF UDTF's analyze() derives the info struct from the file
    header — the reference's file-dependent schema, now in SQL."""
    vcf = tmp_path / "x.vcf"
    vcf.write_text(
        "##fileformat=VCFv4.2\n"
        '##INFO=<ID=DP,Number=1,Type=Integer,Description="d">\n'
        '##INFO=<ID=INDEL,Number=0,Type=Flag,Description="d">\n'
        "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\n"
        "chr1\t100\trs1\tA\tT,G\t12.5\tPASS\tDP=7;INDEL\n"
        "chr1\t200\t.\tC\t.\t.\t.\tDP=9\n"
    )
    rows = sql_spark.sql(
        f"SELECT chrom, pos, alt, qual, info.DP AS dp, info.INDEL AS indel "
        f"FROM read_vcf_file_records('{vcf}') ORDER BY pos"
    ).collect()
    assert rows[0]["dp"] == 7 and rows[0]["indel"] is True
    assert rows[0]["alt"] == ["T", "G"] and rows[0]["qual"] == 12.5
    assert rows[1]["dp"] == 9 and rows[1]["indel"] is False
    assert rows[1]["alt"] is None


def test_region_query_tvfs(sql_spark, tmp_path):
    """vcf_query / bam_query SQL TVFs: index-aware region scans."""
    from exon_duckdb_spark.sources.bgzf import bgzf_compress
    from exon_duckdb_spark.sources.indexes import index_bam, index_vcf
    from exon_duckdb_spark.sources.writers import _render_bam

    vcf = tmp_path / "q.vcf.gz"
    header = (
        "##fileformat=VCFv4.2\n"
        '##INFO=<ID=DP,Number=1,Type=Integer,Description="d">\n'
        "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\n"
    )
    body = "".join(
        f"chr1\t{i * 1000 + 1}\trs{i}\tA\tT\t.\t.\tDP={i}\n" for i in range(100)
    )
    vcf.write_bytes(bgzf_compress((header + body).encode(), block_bytes=256))
    index_vcf(str(vcf))
    rows = sql_spark.sql(
        f"SELECT pos FROM vcf_query('{vcf}', 'chr1:10001-20001') ORDER BY pos"
    ).collect()
    assert [r["pos"] for r in rows] == [i * 1000 + 1 for i in range(10, 21)]

    bam = tmp_path / "q.bam"
    rows_in = [
        {
            "name": f"r{i}", "flag": 0, "reference": "chr1", "start": i * 1000 + 1,
            "mapping_quality": "60", "cigar": "10M", "mate_reference": None,
            "sequence": "ACGTACGTAC", "quality_score": "IIIIIIIIII",
        }
        for i in range(100)
    ]
    bam.write_bytes(_render_bam(rows_in, [("chr1", 10_000_000)], block_bytes=256))
    index_bam(str(bam))
    rows = sql_spark.sql(
        f"SELECT name FROM bam_query('{bam}', 'chr1:10001-20001') ORDER BY name"
    ).collect()
    assert len(rows) == 11
