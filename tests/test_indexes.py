"""Index builders (.bai/.tbi/.csi) and the region-query path: built index
bytes are pinned, pruning fires, indexed results equal unindexed ones, and
the SQL table functions return the same rows as the DataFrame API."""

from __future__ import annotations

import gzip
import hashlib
import math
import os
import shutil
import struct

import pytest

from exon_duckdb_spark.functions.register import register_all
from exon_duckdb_spark.sources.bam import _BamRecords, bam_query, read_bam
from exon_duckdb_spark.sources.bcf import _BcfRecords, bcf_query, read_bcf
from exon_duckdb_spark.sources.bgzf import BgzfBuf, bgzf_compress, owned_records
from exon_duckdb_spark.sources.indexes import (
    index_bam,
    index_bcf,
    index_vcf,
    plan_region_splits,
    read_index,
    reg2bins,
)
from exon_duckdb_spark.sources.splits import plan_splits
from exon_duckdb_spark.sources.vcf import parse_region, read_vcf, region_filter, vcf_query
from exon_duckdb_spark.sources.writers import _render_bam, _render_bcf

N = 300
REGION = "chr2:30000-60000"


# ``long`` > 0 makes the writers' record at chr1:1001 (i = 2) cover that many
# bases, so it is binned above the 16 kb level


def _write_bam(p: str, block_bytes: int = 256, long: int = 0) -> None:
    refs = [("chr1", 1_000_000), ("chr2", 1_000_000)]
    rows = [
        {
            "name": f"r{i}", "flag": 0, "reference": f"chr{i % 2 + 1}",
            "start": i * 500 + 1, "mapping_quality": "60",
            "cigar": f"5M{long - 10}N5M" if long and i == 2 else "10M",
            "mate_reference": None, "sequence": "ACGTACGTAC",
            "quality_score": "IIIIIIIIII",
        }
        for i in range(N)
    ]
    rows.sort(key=lambda r: (r["reference"], r["start"]))  # coordinate-sorted
    with open(p, "wb") as f:
        f.write(_render_bam(rows, refs, block_bytes=block_bytes))


def _write_vcf(p: str, block_bytes: int = 256, long: int = 0) -> None:
    header = (
        "##fileformat=VCFv4.2\n"
        '##INFO=<ID=DP,Number=1,Type=Integer,Description="d">\n'
        "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\n"
    )
    recs = sorted((f"chr{i % 2 + 1}", i * 500 + 1, i) for i in range(N))
    body = "".join(
        f"{c}\t{pos}\trs{i}\t{'A' * (long if long and i == 2 else 1)}\tT\t.\t.\tDP={i}\n"
        for c, pos, i in recs
    )
    with open(p, "wb") as f:
        f.write(bgzf_compress((header + body).encode(), block_bytes=block_bytes))


def _write_bcf(p: str, block_bytes: int = 256, long: int = 0) -> None:
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
            "ref": "A" * (long if long and i == 2 else 1), "alt": ["T"], "qual": 1.0, "DP": i,
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


# format → (full read, (chrom, first, last) of a collected row)
FULL_READS = {
    "bam": (read_bam, lambda r: (r["reference"], r["start"], r["end"])),
    "vcf": (read_vcf, lambda r: (r["chrom"], r["pos"], r["pos"] + len(r["ref"]) - 1)),
    "bcf": (read_bcf, lambda r: (r["chrom"], r["pos"], r["pos"] + len(r["ref"]) - 1)),
}


def _records(p: str, fmt: str) -> list[tuple[int, int, str, int]]:
    """(decompressed start, virtual offset, chrom, pos) of every record of
    a file written above; for VCF, of every line (chrom '#' for headers)."""
    out = []
    with open(p, "rb") as f:
        buf = BgzfBuf(f, 0, os.path.getsize(p))
        if fmt == "vcf":
            pos = 0
            while buf.get(pos, 1) is not None:
                nl = buf.find(b"\n", pos)
                f = buf.get(pos, nl - pos).decode().split("\t")
                head = f[0].startswith("#")
                out.append((pos, buf.voffset(pos), "#" if head else f[0], 0 if head else int(f[1])))
                pos = nl + 1
            return out
        rf = _BamRecords() if fmt == "bam" else _BcfRecords(2)
        for rec, beg, _ in owned_records(buf, rf.header(buf), math.inf, rf):
            rid, p0 = struct.unpack_from("<ii", rec)
            out.append((beg, buf.voffset(beg), ("chr1", "chr2")[rid], p0 + 1))
    return out


def _region_chunks(p: str, fmt: str, region: str) -> list[tuple[int, int]]:
    """The region's index chunks, read straight from the sidecar."""
    suffix = {"bam": ".bai", "vcf": ".tbi", "bcf": ".csi"}[fmt]
    min_shift, depth, names, refs = read_index(p + suffix)
    chrom, r_start, r_end = parse_region(region)
    bins = refs[(names or ["chr1", "chr2"]).index(chrom)]
    return [
        c for b in reg2bins(r_start - 1, r_end, min_shift, depth) for c in bins.get(b, ())
    ]


def _block_start_layout(tmp_path, fmt: str) -> tuple[str, str, int]:
    """(path, region, pos): a file written in blocks sized so that the
    region's first index chunk begins at a record that starts at byte 0 of
    a BGZF block past the first, and that record's position."""
    name, write, index, *_ = FORMATS[fmt]
    p = str(tmp_path / name)
    write(p)
    recs = [r for r in _records(p, fmt) if r[2] != "#"]
    for (_, _, pchrom, ppos), (beg, _, chrom, pos) in zip(recs, recs[1:]):
        if pchrom == chrom and (ppos - 1) >> 14 == (pos - 1) >> 14:
            continue  # not the first record of its 16 kb bin
        for block_bytes in range(100, 2000):
            if beg % block_bytes or beg // block_bytes < 2:
                continue
            write(p, block_bytes)
            index(p)
            voff = {b: v for b, v, *_ in _records(p, fmt)}[beg]
            region = f"{chrom}:{pos}-{pos}"
            if voff & 0xFFFF == 0 and min(_region_chunks(p, fmt, region))[0] == voff:
                return p, region, pos
    raise AssertionError("no block size puts a chunk start at a block start")


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


@pytest.mark.parametrize("fmt", sorted(FORMATS))
def test_chunk_starting_at_block_start(sql_spark, tmp_path, fmt):
    """The region's first chunk begins at a record that starts at byte 0 of
    a BGZF block: the DataFrame query and the SQL table function both
    return that record, and equal a brute-force filter over a full read."""
    p, region, pos = _block_start_layout(tmp_path, fmt)
    read, span = FULL_READS[fmt]
    chrom, r_start, r_end = parse_region(region)
    want = sorted(
        (r for r in read(sql_spark, p).collect()
         if span(r)[0] == chrom and span(r)[1] <= r_end and span(r)[2] >= r_start),
        key=repr,
    )
    got = sorted(FORMATS[fmt][3](sql_spark, p, region).collect(), key=repr)
    tvf = sorted(sql_spark.sql(f"SELECT * FROM {fmt}_query('{p}', '{region}')").collect(), key=repr)
    assert got == want and tvf == want
    assert pos in [span(r)[1] for r in got]


@pytest.mark.parametrize("fmt", sorted(FORMATS))
def test_narrow_query_decodes_only_touched_blocks(tmp_path, monkeypatch, fmt):
    """A narrow query on a file of many BGZF blocks decodes at most the
    records that start in the blocks its index chunks touch."""
    from exon_duckdb_spark.sources import bam, bcf, bgzf

    name, write, index, *_ = FORMATS[fmt]
    p = str(tmp_path / name)
    write(p)
    index(p)
    region = "chr2:30000-32000"
    recs = _records(p, fmt)
    assert len({v >> 16 for _, v, *_ in recs}) >= 20
    touched = [(vbeg >> 16, vend >> 16) for vbeg, vend in _region_chunks(p, fmt, region)]
    bound = sum(
        1 for _, v, *_ in recs if any(lo <= v >> 16 <= hi for lo, hi in touched)
    )

    # count each decoded record (VCF: each line read) in this process
    tally: list[int] = []
    splits = plan_region_splits(p, region)
    if fmt == "vcf":
        lines = bgzf.lines_from
        monkeypatch.setattr(bgzf, "lines_from", lambda *a: (x for x in lines(*a) if not tally.append(1)))
        rows = [r for s in splits for r in bgzf.parse_bgzf_lines_split(s)]
    else:
        mod, fn = (bam, "_decode_record") if fmt == "bam" else (bcf, "_decode_site")
        decode = getattr(mod, fn)
        monkeypatch.setattr(mod, fn, lambda *a: tally.append(1) or decode(*a))
        if fmt == "bam":
            rows = [r for s in splits for r in bam._parse_bam_split(s)]
        else:
            contigs, info_meta, _, _ = bcf.bcf_bind(p)
            rows = [r for s in splits for r in bcf._parse_bcf_split(s, info_meta, contigs)]
    assert 0 < len(rows) <= len(tally) <= bound < len(recs) / 4


@pytest.mark.parametrize("fmt", sorted(FORMATS))
def test_region_reads_every_disjoint_chunk_range(sql_spark, tmp_path, fmt):
    """A 20 kb record binned above the 16 kb level sits far before the
    region's own records, so the region's chunks form disjoint ranges in
    one split: the query returns the records of every range."""
    name, write, index, query, _ = FORMATS[fmt]
    p = str(tmp_path / name)
    write(p, long=20_000)
    index(p)
    region = "chr1:18000-18600"
    (split,) = plan_region_splits(p, region)
    assert len(split.chunks) >= 2
    read, span = FULL_READS[fmt]
    want = sorted(
        (r for r in read(sql_spark, p).collect()
         if span(r)[0] == "chr1" and span(r)[1] <= 18600 and span(r)[2] >= 18000),
        key=repr,
    )
    assert sorted(span(r)[1] for r in want) == [1001, 18001]
    assert sorted(query(sql_spark, p, region).collect(), key=repr) == want
    tvf = sql_spark.sql(f"SELECT * FROM {fmt}_query('{p}', '{region}')").collect()
    assert sorted(tvf, key=repr) == want


def test_region_filter_quotes_contig_and_keeps_overlap(spark):
    """The overlap predicate is SQL text: a contig name holding a quote or a
    backslash is a literal, and coordinates past 2**31 compare as BIGINT."""
    rows = [("o'k\\1", 10, 20), ("o'k\\1", 21, 30), ("ok", 10, 20), ("o'k\\1", 2**32, 2**32 + 5)]
    df = spark.createDataFrame(rows, "chrom string, first bigint, last bigint")

    def hits(region):
        return sorted(r[1] for r in df.where(region_filter("chrom", "first", "last", region)).collect())

    assert hits("o'k\\1") == [10, 21, 2**32]
    assert hits("o'k\\1:15-21") == [10, 21]
    assert hits("o'k\\1:25") == [21, 2**32]
    assert hits(f"o'k\\1:{2**32 + 5}-{2**32 + 9}") == [2**32]
    assert hits("ok:21-40") == []
