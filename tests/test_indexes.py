"""Index builders (.bai/.tbi/.csi) and the region-query path: pruning fires,
indexed results equal unindexed ones, and the SQL table functions return
the same rows as the DataFrame API."""

from __future__ import annotations

import shutil

import pytest

from exon_duckdb_spark.functions.register import register_all
from exon_duckdb_spark.sources.bam import bam_query
from exon_duckdb_spark.sources.bcf import bcf_query
from exon_duckdb_spark.sources.bgzf import bgzf_compress
from exon_duckdb_spark.sources.indexes import (
    index_bam,
    index_bcf,
    index_vcf,
    plan_region_splits,
)
from exon_duckdb_spark.sources.splits import plan_splits
from exon_duckdb_spark.sources.vcf import vcf_query
from exon_duckdb_spark.sources.writers import _render_bam, _render_bcf

N = 300
REGION = "chr2:30000-60000"


def _write_bam(p: str) -> None:
    refs = [("chr1", 1_000_000), ("chr2", 1_000_000)]
    rows = [
        {
            "name": f"r{i}", "flag": 0, "reference": f"chr{i % 2 + 1}",
            "start": i * 500 + 1, "mapping_quality": "60", "cigar": "10M",
            "mate_reference": None, "sequence": "ACGTACGTAC",
            "quality_score": "IIIIIIIIII",
        }
        for i in range(N)
    ]
    rows.sort(key=lambda r: (r["reference"], r["start"]))  # coordinate-sorted
    with open(p, "wb") as f:
        f.write(_render_bam(rows, refs, block_bytes=256))


def _write_vcf(p: str) -> None:
    header = (
        "##fileformat=VCFv4.2\n"
        '##INFO=<ID=DP,Number=1,Type=Integer,Description="d">\n'
        "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\n"
    )
    recs = sorted((f"chr{i % 2 + 1}", i * 500 + 1, i) for i in range(N))
    body = "".join(
        f"{c}\t{pos}\trs{i}\tA\tT\t.\t.\tDP={i}\n" for c, pos, i in recs
    )
    with open(p, "wb") as f:
        f.write(bgzf_compress((header + body).encode(), block_bytes=256))


def _write_bcf(p: str) -> None:
    header = (
        "##fileformat=VCFv4.2\n"
        '##FILTER=<ID=PASS,Description="ok",IDX=0>\n'
        '##INFO=<ID=DP,Number=1,Type=Integer,Description="d",IDX=1>\n'
        "##contig=<ID=chr1,length=1000000,IDX=0>\n"
        "##contig=<ID=chr2,length=1000000,IDX=1>\n"
        "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO"
    )
    rows = [
        {
            "chrom": f"chr{i % 2 + 1}", "pos": i * 500 + 1, "id": f"rs{i}",
            "ref": "A", "alt": ["T"], "qual": 1.0, "DP": i,
        }
        for i in range(N)
    ]
    rows.sort(key=lambda r: (r["chrom"], r["pos"]))  # coordinate-sorted
    with open(p, "wb") as f:
        f.write(_render_bcf(rows, header, {"chr1": 0, "chr2": 1}, {"DP": 1},
                            block_bytes=256))


# format → (file name, writer, index builder, DataFrame query, row key)
FORMATS = {
    "bam": ("x.bam", _write_bam, index_bam, bam_query, "name"),
    "vcf": ("x.vcf.gz", _write_vcf, index_vcf, vcf_query, "pos"),
    "bcf": ("x.bcf", _write_bcf, index_bcf, bcf_query, "pos"),
}


@pytest.fixture(scope="module")
def sql_spark(spark):
    register_all(spark)
    return spark


@pytest.mark.parametrize("fmt", sorted(FORMATS))
def test_index_prunes_and_matches(sql_spark, tmp_path, fmt):
    name, write, index, query, key = FORMATS[fmt]
    p = str(tmp_path / name)
    write(p)
    noidx = str(tmp_path / f"noidx.{name}")
    shutil.copy(p, noidx)
    index(p)

    total = plan_splits(p, "none", splittable=True, split_bytes=400)
    pruned = plan_region_splits(p, REGION, split_bytes=400)
    assert len(total) > 6
    assert pruned is not None and 0 < len(pruned) < len(total) / 2
    assert plan_region_splits(noidx, REGION, split_bytes=400) is None
    assert plan_region_splits(p, "chr9:1-100", split_bytes=400) == []

    a = sorted(r[key] for r in query(sql_spark, p, REGION).collect())
    b = sorted(r[key] for r in query(sql_spark, noidx, REGION).collect())
    assert a == b and len(a) >= 10

    # narrow region, contig-only region, absent contig
    for region, n in ((REGION, len(a)), ("chr2", N // 2), ("chr9", 0)):
        api = sorted(query(sql_spark, p, region).collect(), key=repr)
        tvf = sorted(
            sql_spark.sql(
                f"SELECT * FROM {fmt}_query('{p}', '{region}')"
            ).collect(),
            key=repr,
        )
        assert len(api) == n
        assert tvf == api, region
