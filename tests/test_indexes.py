"""Index builders (.bai/.tbi/.csi) and the region-query path: built index
bytes are pinned, pruning fires, indexed results equal unindexed ones, and
the SQL table functions return the same rows as the DataFrame API."""

from __future__ import annotations

import gzip
import hashlib
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


def _write_bam(p: str, block_bytes: int = 256) -> None:
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
        f.write(_render_bam(rows, refs, block_bytes=block_bytes))


def _write_vcf(p: str, block_bytes: int = 256) -> None:
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
        f.write(bgzf_compress((header + body).encode(), block_bytes=block_bytes))


def _write_bcf(p: str, block_bytes: int = 256) -> None:
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
                            block_bytes=block_bytes))


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


# sha256 of each built index, pinned so that a change to the index layout
# (chunk boundaries, virtual-offset convention, bin packing) is deliberate.
# .tbi/.csi are hashed decompressed: their gzip header carries an mtime.
INDEX_SHA256 = {
    ("bam", 64): "0d0d7d9364a89f74eabda057c4793e94069b1c997aff5ede790f400381b9215d",
    ("bam", 97): "64a25b299d1c44c73dc6b94013acbec042e07fe7791af45e352e5eb01812c4ec",
    ("bam", 256): "bafc90342cbd6fc8011656f2ff519d2c33edcf2753a0d022f068e8b85ffaaf09",
    ("bam", 4096): "21c5d7af6e6a3210a3793826ab7b1e38243999c7446344ed3af170f81e16bd95",
    ("bam", 60000): "44c1869a2ba138a4df21504b7b63ed45ea5f26fcab03d48b8e862bf9cff60a9d",
    ("bcf", 64): "de83d1cc6ecbfc8f1ed55c5df21e97f6e2d3d5e8e99b836435454e1561614322",
    ("bcf", 97): "cf7ddb648290b58dab439fbd37125c53d96bce38104034230526fcd088a42c23",
    ("bcf", 256): "3fb8008a9cf325a06820fa19a5a86d58dd4df85d43779e60a4de920fd2c8db8a",
    ("bcf", 4096): "cd06bc49046476254b9957c6c988429c9b9a79296a79ac18b3d43adce10547a5",
    ("bcf", 60000): "39e770f8d2c749ceb34ac8d9859d14322cdae29e07cc162e69b7046f3d8bc255",
    ("vcf", 64): "f3440c764ec0b0b8750427d6f60ef2aaa95f683f48a42d32ea0582a0aa66d761",
    ("vcf", 97): "94c64f25bceb958a490c50ed73c45d893165ed104bf720c5afd09d98091fe175",
    ("vcf", 256): "c036d7b41bc0660ad65219a06848305ea74b5276b84943bd7d913048c5f557e2",
    ("vcf", 4096): "250a1a4ce852a75b2950eaba6694d5cf4e085c7eea32e04c62dc658547f10d93",
    ("vcf", 60000): "45321cfb262a2f48d2177b584dfed7f435c0e313da3cad205a4ef616dd40aa2e",
}


@pytest.mark.parametrize("fmt,block_bytes", sorted(INDEX_SHA256))
def test_index_bytes_pinned(tmp_path, fmt, block_bytes):
    name, write, index, *_ = FORMATS[fmt]
    p = str(tmp_path / name)
    write(p, block_bytes)
    with open(index(p), "rb") as f:
        data = f.read()
    if fmt != "bam":
        data = gzip.decompress(data)
    assert hashlib.sha256(data).hexdigest() == INDEX_SHA256[fmt, block_bytes]
