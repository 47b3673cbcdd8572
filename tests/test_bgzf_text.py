"""BGZF text splitting (bgzip'd VCF) and tabix index pruning."""

from __future__ import annotations

import gzip
import struct

import pytest

from exon_duckdb_spark.sources.splits import FileSplit, plan_splits
from exon_duckdb_spark.sources.indexes import plan_region_splits
from exon_duckdb_spark.sources.vcf import read_vcf, vcf_query
from tests.test_binary_sources import _bgzf_block, _reg2bin


def _write_bgzf_text(path, text: str, block_bytes: int) -> list[int]:
    """Write text as BGZF blocks; returns each block's compressed offset."""
    payload = text.encode()
    coffsets, cpos = [], 0
    with open(path, "wb") as f:
        for i in range(0, len(payload), block_bytes):
            blk = _bgzf_block(payload[i : i + block_bytes])
            coffsets.append(cpos)
            f.write(blk)
            cpos += len(blk)
        f.write(_bgzf_block(b""))
    return coffsets


def _lines_via_splits(path, split_bytes: int) -> list[str]:
    """Run the split line parser serially over every planned split."""
    from exon_duckdb_spark.sources.bgzf import parse_bgzf_lines_split

    out = []
    for s in plan_splits(path, "none", splittable=True, split_bytes=split_bytes):
        out.extend(r["value"] for r in parse_bgzf_lines_split(s))
    return out


def test_bgzf_line_split_invariance(tmp_path):
    """Every split size yields exactly the file's lines — including splits
    landing mid-line, mid-block, and at line/block starts."""
    text = "".join(f"line_{i:04d}\tpayload_{i % 7}\n" for i in range(400))
    p = tmp_path / "t.txt.gz"
    _write_bgzf_text(p, text, block_bytes=64)
    want = text.splitlines()
    with open(p, "rb") as f:
        total = len(f.read())
    for sb in (37, 64, 128, 149, 333, total, total * 2):
        got = _lines_via_splits(str(p), sb)
        assert got == want, f"split_bytes={sb}: {len(got)} vs {len(want)}"


VCF_HEADER = (
    "##fileformat=VCFv4.2\n"
    '##INFO=<ID=DP,Number=1,Type=Integer,Description="Depth">\n'
    "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\n"
)


def _vcf_text(n: int) -> tuple[str, list[tuple[str, int]]]:
    rows, placements = [], []
    for i in range(n):
        chrom = "1" if i < n // 2 else "2"
        pos = 10_000 + (i % (n // 2)) * 20_000
        rows.append(f"{chrom}\t{pos}\t.\tG\tA\t10\tPASS\tDP={i}\n")
        placements.append((chrom, pos))
    return VCF_HEADER + "".join(rows), placements


@pytest.fixture(scope="module")
def bgzf_vcf(tmp_path_factory):
    d = tmp_path_factory.mktemp("tbx")
    p = d / "test.vcf.gz"
    text, placements = _vcf_text(60)
    coffsets = _write_bgzf_text(p, text, block_bytes=256)

    # build the matching .tbi: one chunk per record line
    payload = text.encode()
    line_offs = []
    off = 0
    for ln in text.splitlines(keepends=True):
        if not ln.startswith("#"):
            line_offs.append(off)
        off += len(ln)

    def voff(po: int) -> int:
        k = po // 256
        return (coffsets[k] << 16) | (po - k * 256)

    names = ["1", "2"]
    per_ref: list[dict[int, list[tuple[int, int]]]] = [{}, {}]
    for (chrom, pos), po, nxt in zip(
        placements, line_offs, line_offs[1:] + [len(payload)]
    ):
        b = _reg2bin(pos - 1, pos)  # record covers one base (ref 'G')
        per_ref[names.index(chrom)].setdefault(b, []).append((voff(po), voff(nxt)))

    nm = b"1\x00" + b"2\x00"
    tbi = b"TBI\x01" + struct.pack("<8i", 2, 2, 1, 2, 0, ord("#"), 0, len(nm)) + nm
    for bins in per_ref:
        tbi += struct.pack("<i", len(bins))
        for bin_id, chunks in bins.items():
            tbi += struct.pack("<Ii", bin_id, len(chunks))
            for b, e in chunks:
                tbi += struct.pack("<QQ", b, e)
        tbi += struct.pack("<i", 0)
    with gzip.open(d / "test.vcf.gz.tbi", "wb") as f:
        f.write(tbi)
    return str(p)


class TestBgzfVcf:
    def test_bgzf_read_matches_plain(self, spark, bgzf_vcf, tmp_path):
        plain = tmp_path / "plain.vcf"
        with gzip.open(bgzf_vcf, "rt") as f:
            plain.write_text(f.read())
        a = sorted(map(tuple, read_vcf(spark, bgzf_vcf).collect()))
        b = sorted(map(tuple, read_vcf(spark, str(plain)).collect()))
        assert len(a) == 60 and a == b

    def test_tbi_prunes_splits(self, bgzf_vcf):
        total = plan_splits(bgzf_vcf, "none", splittable=True, split_bytes=150)
        pruned = plan_region_splits(bgzf_vcf, "1:10000-30001", split_bytes=150)
        assert len(total) > 4
        assert 0 < len(pruned) < len(total) / 2

    def test_query_matches_unindexed(self, spark, bgzf_vcf, tmp_path):
        import shutil

        noidx = tmp_path / "noindex.vcf.gz"
        shutil.copy(bgzf_vcf, noidx)
        for region in ("1", "2:10000-250000", "1:250000-600000"):
            a = sorted(
                (r["chrom"], r["pos"]) for r in vcf_query(spark, bgzf_vcf, region).collect()
            )
            b = sorted(
                (r["chrom"], r["pos"]) for r in vcf_query(spark, str(noidx), region).collect()
            )
            assert a == b, region
        assert vcf_query(spark, bgzf_vcf, "1").count() == 30

    def test_missing_chrom(self, spark, bgzf_vcf):
        assert vcf_query(spark, bgzf_vcf, "chrZ").count() == 0


class TestBgzfBufSkipSafety:
    def test_drop_before_past_loaded_end_stays_consistent(self):
        """Round-5 review: BCF-style readers SKIP bytes they never get()
        (l_indiv genotype blocks) and then drop_before(next_record). When
        the skip target lay beyond the loaded end AND >1 MiB had
        accumulated, base jumped past unloaded data and the next block was
        recorded at a wrong absolute position — garbage records, silently.
        The clamp keeps every loaded block's absolute position truthful."""
        import io
        import random

        from exon_duckdb_spark.sources.bgzf import BgzfBuf, bgzf_compress

        data = bytes((i * 31 + (i >> 8)) & 0xFF for i in range(3 * 1024 * 1024))
        blob = bgzf_compress(data, block_bytes=4096)
        buf = BgzfBuf(io.BytesIO(blob), 0, len(blob))
        assert buf.get(0, 16) == data[:16]
        target = 2 * 1024 * 1024 + 123  # far past the loaded end
        buf.drop_before(target)
        assert buf.get(target, 64) == data[target : target + 64]
        # interleaved read/skip/drop, the BCF record-loop access pattern
        buf2 = BgzfBuf(io.BytesIO(blob), 0, len(blob))
        random.seed(2)
        pos = 0
        while pos < len(data) - 256:
            n = random.randint(1, 200)
            assert buf2.get(pos, n) == data[pos : pos + n], pos
            pos += n + random.randint(0, 5000)
            buf2.drop_before(pos)

