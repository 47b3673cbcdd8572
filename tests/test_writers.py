"""Writer round-trip tests: df → format text → reader → identical records."""

from __future__ import annotations

from exon_duckdb_spark.sources.fasta import read_fasta
from exon_duckdb_spark.sources.fastq import read_fastq
from exon_duckdb_spark.sources.tsv import read_gff
from exon_duckdb_spark.sources.writers import to_fasta, to_fastq, to_gff


def test_fasta_roundtrip(spark, tmp_path):
    df = spark.createDataFrame(
        [("a", "description", "ATCG"), ("b", None, "GGCC")],
        "id string, description string, sequence string",
    )
    out = str(tmp_path / "out_fasta")
    to_fasta(df, out)
    back = read_fasta(spark, out)
    assert sorted(tuple(r) for r in back.collect()) == [
        ("a", "description", "ATCG"),
        ("b", None, "GGCC"),
    ]


def test_fastq_roundtrip(spark, tmp_path):
    df = spark.createDataFrame(
        [("r1", "desc", "ACGT", "!!!!"), ("r2", None, "GGTT", "IIII")],
        "name string, description string, sequence string, quality_scores string",
    )
    out = str(tmp_path / "out_fastq")
    to_fastq(df, out)
    back = read_fastq(spark, out)
    assert sorted(tuple(r) for r in back.collect()) == [
        ("r1", "desc", "ACGT", "!!!!"),
        ("r2", None, "GGTT", "IIII"),
    ]


def test_gff_roundtrip(spark, tmp_path):
    from exon_duckdb_spark.sources.tsv import read_gff as _rg

    src = (
        "sq0\tcaat\tgene\t8\t13\t.\t+\t.\tgene_id=caat1;gene_name=gene0\n"
        "sq1\tcaat\tgene\t8\t14\t0.1\t+\t0\tgene_id=caat2\n"
    )
    p = tmp_path / "in.gff"
    p.write_text(src)
    df = _rg(spark, str(p))
    out = str(tmp_path / "out_gff")
    to_gff(df, out)
    back = read_gff(spark, out)
    a = sorted(tuple(r) for r in df.collect())
    b = sorted(tuple(r) for r in back.collect())
    assert a == b


def test_bam_writer_roundtrip_split_invariant(spark, tmp_path):
    """to_bam → read_bam round trip, identical across split sizes."""
    from pyspark.sql import functions as F

    from exon_duckdb_spark.sources.bam import read_bam
    from exon_duckdb_spark.sources.writers import to_bam

    d = spark.range(40).select(
        F.col("id").cast("string").alias("name"),
        (F.col("id") % 4096).cast("int").alias("flag"),
        F.when(F.col("id") % 5 != 0, F.lit("chrA")).alias("reference"),
        F.when(F.col("id") % 5 != 0, F.col("id") + 1).alias("start"),
        F.lit("37").alias("mapping_quality"),
        F.when(F.col("id") % 5 != 0, F.lit("4M2I3D1S")).alias("cigar"),
        F.lit(None).cast("string").alias("mate_reference"),
        F.lit("ACGTACGTAC").alias("sequence"),
        F.lit("IIIIIIIIII").alias("quality_score"),
    )
    out = str(tmp_path / "bam_out")
    assert to_bam(d, out, [("chrA", 1000), ("chrB", 500)]) == 40
    base = sorted(map(tuple, read_bam(spark, out).collect()))
    assert len(base) == 40
    # 4M2I3D1S consumes 4+3 reference bases
    mapped = [dict(zip(read_bam(spark, out).columns, t)) for t in base]
    m = [x for x in mapped if x["reference"] == "chrA"][0]
    assert m["end"] == m["start"] + 7 - 1
    for sb in (200, 1 << 20):
        got = sorted(map(tuple, read_bam(spark, out, split_bytes=sb).collect()))
        assert got == base


def test_bam_writer_packs_odd_lowercase_and_null_fields(spark, tmp_path):
    """to_bam → read_bam on odd-length, lowercase and N-rich reads with NULL
    start, mapq, flag and quality: bases outside "=ACMGRSVTWYHKDBN" pack as
    N, NULL flag/mapq as 0, NULL quality as 0xff (read back as NULL)."""
    from pyspark.sql import types as T

    from exon_duckdb_spark.sources.bam import read_bam
    from exon_duckdb_spark.sources.schemas import SAM_SCHEMA
    from exon_duckdb_spark.sources.writers import to_bam

    cols = [f for f in SAM_SCHEMA.fields if f.name != "end"]
    rows = [
        ("odd", None, "chrA", None, None, None, None, "ACGTN", "!#I+5"),
        ("lower", 16, "chrA", 10, "7", "7M", "chrA", "acgtRYk", None),
        ("nrich", None, None, None, None, None, None, "NNNNNNNNN", "!!!!!!!!!"),
        ("mixed", 0, "chrB", 3, "60", "4M", None, "N=nA", None),
    ]
    df = spark.createDataFrame(rows, T.StructType(cols))
    out = str(tmp_path / "bam_out")
    assert to_bam(df, out, [("chrA", 1000), ("chrB", 500)]) == 4
    got = {r["name"]: r.asDict() for r in read_bam(spark, out).collect()}
    assert {k: (v["sequence"], v["quality_score"]) for k, v in got.items()} == {
        "odd": ("ACGTN", "!#I+5"),
        "lower": ("NNNNRYN", None),
        "nrich": ("NNNNNNNNN", "!!!!!!!!!"),
        "mixed": ("N=NA", None),
    }
    assert {k: (v["flag"], v["mapping_quality"], v["start"]) for k, v in got.items()} == {
        "odd": (0, "0", None),
        "lower": (16, "7", 10),
        "nrich": (0, "0", None),
        "mixed": (0, "60", 3),
    }


def test_bcf_writer_roundtrip(spark, tmp_path):
    from pyspark.sql import functions as F

    from exon_duckdb_spark.sources.bcf import read_bcf
    from exon_duckdb_spark.sources.writers import to_bcf

    d = spark.range(30).select(
        F.lit("ctg1").alias("chrom"),
        (F.col("id") * 100 + 1).alias("pos"),
        F.concat(F.lit("v"), F.col("id").cast("string")).alias("id"),
        F.lit("ACGT").alias("ref"),  # >1 char: rlen = 4
        F.array(F.lit("A")).alias("alt"),
        F.when(F.col("id") % 2 == 0, F.col("id") * 1.0 + 0.5).alias("qual"),
        (F.col("id") % 42).cast("int").alias("DP"),
    )
    header = (
        "##fileformat=VCFv4.2\n"
        '##FILTER=<ID=PASS,Description="ok",IDX=0>\n'
        '##INFO=<ID=DP,Number=1,Type=Integer,Description="d",IDX=1>\n'
        "##contig=<ID=ctg1,length=100000,IDX=0>\n"
        "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO"
    )
    out = str(tmp_path / "bcf_out")
    assert to_bcf(d, out, header, ["ctg1"], {"DP": 1}) == 30
    rows = sorted(read_bcf(spark, out).collect(), key=lambda r: r["pos"])
    assert len(rows) == 30
    assert rows[3]["pos"] == 301 and rows[3]["ref"] == "ACGT"
    assert rows[3]["alt"] == ["A"] and rows[3]["info"]["DP"] == 3
    assert rows[3]["qual"] is None and rows[4]["qual"] == 4.5


def test_genbank_sequence_lines_pinned(spark, tmp_path):
    """GenBank ORIGIN lines: 60 bases per line behind a 9-wide 1-based
    offset; an empty sequence still gets one ``"        1 "`` line."""
    import glob
    import random

    from exon_duckdb_spark.sources.writers import to_genbank

    rng = random.Random(7)
    lengths = (0, 1, 60, 61, 10_000)
    rows = [
        (f"s{n}", f"A{n}", f"len {n}", "linear", "DNA",
         "".join(rng.choice("ACGT") for _ in range(n)))
        for n in lengths
    ]
    df = spark.createDataFrame(
        rows, "name string, accession string, definition string, "
        "topology string, molecule_type string, sequence string",
    )
    out = str(tmp_path / "gb_out")
    to_genbank(df, out)
    text = "".join(
        open(p).read() for p in sorted(glob.glob(f"{out}/part-*"))
    )

    def render(name, acc, definition, topo, mol, seq):
        lines = [
            f"{i + 1:>9} {seq[i:i + 60]}" for i in range(0, max(len(seq), 1), 60)
        ]
        return (
            f"LOCUS       {name:<20}{len(seq):>8} bp    {mol:<8}{topo:<9}"
            f"UNA 01-JAN-2000\nDEFINITION  {definition}\nACCESSION   {acc}\n"
            "ORIGIN\n" + "\n".join(lines) + "\n//\n"
        )

    got = sorted(r + "//\n" for r in text.split("//\n") if r)
    assert got == sorted(render(*r) for r in rows)
