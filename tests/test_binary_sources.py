"""BAM / BCF / GenBank / mzML reader tests over synthesized binary fixtures
(built from the public format specs; golden values mirror FIXTURES.md)."""

from __future__ import annotations

import base64
import gzip
import struct

import pytest

from exon_duckdb_spark.sources import read_bio
from exon_duckdb_spark.sources.bam import bam_query, read_bam
from exon_duckdb_spark.sources.bcf import read_bcf, bcf_query
from exon_duckdb_spark.sources.genbank import read_genbank
from exon_duckdb_spark.sources.mzml import read_mzml

_SEQ_CODES = "=ACMGRSVTWYHKDBN"


def _bam_record(name: str, flag: int, ref_id: int, pos0: int, mapq: int,
                cigar: list[tuple[int, int]], seq: str, quals: list[int],
                next_ref: int = 0, next_pos: int = 0) -> bytes:
    nb = name.encode() + b"\x00"
    body = struct.pack(
        "<iiBBHHHiiii", ref_id, pos0, len(nb), mapq, 0, len(cigar), flag,
        len(seq), next_ref, next_pos, 0,
    )
    body += nb
    for oplen, op in cigar:
        body += struct.pack("<I", (oplen << 4) | op)
    packed = bytearray()
    for i, ch in enumerate(seq):
        code = _SEQ_CODES.index(ch)
        if i % 2 == 0:
            packed.append(code << 4)
        else:
            packed[-1] |= code
    body += bytes(packed)
    body += bytes(quals)
    return struct.pack("<i", len(body)) + body


def _example_bam() -> bytes:
    """Uncompressed payload of the two-record golden BAM."""
    header = b"BAM\x01" + struct.pack("<i", 0)
    header += struct.pack("<i", 2)  # two references
    for rname, rlen in ((b"ref1", 1000), (b"chr1", 2_000_000)):
        header += struct.pack("<i", len(rname) + 1) + rname + b"\x00"
        header += struct.pack("<i", rlen)
    recs = _bam_record("ref1_grp1_p001", 99, 0, 0, 0, [(10, 0)], "CGAGCTCGGT", [0] * 10)
    recs += _bam_record("chr1_read", 0, 1, 999, 60, [(55, 0), (13394, 3), (21, 0)],
                        "ACGT", [30] * 4)
    return header + recs


@pytest.fixture(scope="module")
def bam_file(tmp_path_factory):
    p = tmp_path_factory.mktemp("bam") / "example.bam"
    with gzip.open(p, "wb") as f:
        f.write(_example_bam())
    return str(p)


import zlib


def _bgzf_block(data: bytes) -> bytes:
    """One BGZF block (gzip member with BC/BSIZE extra subfield)."""
    co = zlib.compressobj(6, zlib.DEFLATED, -15)
    comp = co.compress(data) + co.flush()
    total = 18 + len(comp) + 8
    header = (
        b"\x1f\x8b\x08\x04" + b"\x00" * 4 + b"\x00\xff"
        + struct.pack("<H", 6) + b"BC" + struct.pack("<H", 2)
        + struct.pack("<H", total - 1)
    )
    return header + comp + struct.pack("<II", zlib.crc32(data), len(data) & 0xFFFFFFFF)


def _write_bgzf(path, payload: bytes, block_bytes: int) -> None:
    """payload chopped into BGZF blocks of block_bytes decompressed each —
    small blocks force records to span block boundaries."""
    with open(path, "wb") as f:
        for i in range(0, len(payload), block_bytes):
            f.write(_bgzf_block(payload[i : i + block_bytes]))
        f.write(_bgzf_block(b""))  # EOF marker


def _bam_payload(n_records: int) -> bytes:
    header = b"BAM\x01" + struct.pack("<i", 0)
    header += struct.pack("<i", 2)
    for rname, rlen in ((b"ref1", 1000), (b"chr1", 2_000_000)):
        header += struct.pack("<i", len(rname) + 1) + rname + b"\x00"
        header += struct.pack("<i", rlen)
    recs = b""
    for i in range(n_records):
        seq = "ACGT" * (1 + i % 5)
        recs += _bam_record(
            f"read_{i:05d}", i % 4096, i % 2, 100 + i, 60,
            [(len(seq), 0)], seq, [30] * len(seq),
        )
    return header + recs


class TestBamBgzfSplits:
    @pytest.fixture(scope="class")
    def bgzf_bam(self, tmp_path_factory):
        p = tmp_path_factory.mktemp("bgzf") / "multi.bam"
        _write_bgzf(p, _bam_payload(200), block_bytes=97)  # records span blocks
        return str(p)

    def test_whole_file(self, spark, bgzf_bam):
        rows = read_bam(spark, bgzf_bam).collect()
        assert len(rows) == 200
        assert sorted(r["name"] for r in rows) == [f"read_{i:05d}" for i in range(200)]

    def test_header_spanning_blocks(self, spark, tmp_path):
        """16-byte blocks: the BAM header spans several blocks and shares its
        last block with the first record — splits must not orphan it."""
        p = tmp_path / "tiny_blocks.bam"
        _write_bgzf(p, _bam_payload(50), block_bytes=16)
        for sb in (48, 64, 149):
            names = sorted(r["name"] for r in read_bam(spark, str(p), split_bytes=sb).collect())
            assert names == [f"read_{i:05d}" for i in range(50)], sb

    @pytest.mark.parametrize("split_bytes", [149, 512, 4096])
    def test_split_invariance(self, spark, bgzf_bam, split_bytes):
        rows = read_bam(spark, bgzf_bam, split_bytes=split_bytes).collect()
        got = sorted((r["name"], r["flag"], r["reference"], r["start"]) for r in rows)
        want = sorted(
            (r["name"], r["flag"], r["reference"], r["start"])
            for r in read_bam(spark, bgzf_bam).collect()
        )
        assert len(got) == 200
        assert got == want


def _reg2bin(beg: int, end: int) -> int:
    end -= 1
    if beg >> 14 == end >> 14:
        return ((1 << 15) - 1) // 7 + (beg >> 14)
    if beg >> 17 == end >> 17:
        return ((1 << 12) - 1) // 7 + (beg >> 17)
    if beg >> 20 == end >> 20:
        return ((1 << 9) - 1) // 7 + (beg >> 20)
    if beg >> 23 == end >> 23:
        return ((1 << 6) - 1) // 7 + (beg >> 23)
    if beg >> 26 == end >> 26:
        return ((1 << 3) - 1) // 7 + (beg >> 26)
    return 0


class TestBamBaiPruning:
    """bam_query with a .bai: splits outside the region's chunks are pruned,
    results identical to the index-less scan."""

    N, BLOCK, REF_LEN = 60, 256, 2_000_000

    @pytest.fixture(scope="class")
    def indexed_bam(self, tmp_path_factory):
        d = tmp_path_factory.mktemp("bai")
        p = d / "indexed.bam"
        header = b"BAM\x01" + struct.pack("<i", 0) + struct.pack("<i", 1)
        header += struct.pack("<i", 5) + b"chr1\x00" + struct.pack("<i", self.REF_LEN)
        recs, placements = [], []  # (payload_off, beg0, end0)
        off = len(header)
        for i in range(self.N):
            pos0 = i * 20_000  # one 16kb window each
            r = _bam_record(f"read_{i:05d}", 0, 0, pos0, 60, [(10, 0)], "ACGTACGTAC", [30] * 10)
            recs.append(r)
            placements.append((off, pos0, pos0 + 10))
            off += len(r)
        payload = header + b"".join(recs)
        # write BGZF, recording each block's compressed offset
        coffsets, cpos = [], 0
        with open(p, "wb") as f:
            for i in range(0, len(payload), self.BLOCK):
                blk = _bgzf_block(payload[i : i + self.BLOCK])
                coffsets.append(cpos)
                f.write(blk)
                cpos += len(blk)
            f.write(_bgzf_block(b""))

        def voff(payload_off: int) -> int:
            k = payload_off // self.BLOCK
            return (coffsets[k] << 16) | (payload_off - k * self.BLOCK)

        bins: dict[int, list[tuple[int, int]]] = {}
        for j, (po, beg0, end0) in enumerate(placements):
            nxt = placements[j + 1][0] if j + 1 < len(placements) else len(payload)
            bins.setdefault(_reg2bin(beg0, end0), []).append((voff(po), voff(nxt)))
        bai = b"BAI\x01" + struct.pack("<i", 1) + struct.pack("<i", len(bins))
        for bin_id, chunks in bins.items():
            bai += struct.pack("<Ii", bin_id, len(chunks))
            for b, e in chunks:
                bai += struct.pack("<QQ", b, e)
        bai += struct.pack("<i", 0)  # empty linear index (parser skips it)
        (d / "indexed.bam.bai").write_bytes(bai)
        return str(p)

    def test_pruning_reduces_splits(self, indexed_bam):
        from exon_duckdb_spark.sources.indexes import plan_region_splits
        from exon_duckdb_spark.sources.splits import plan_splits

        total = plan_splits(indexed_bam, "none", splittable=True, split_bytes=150)
        pruned = plan_region_splits(indexed_bam, "chr1:100000-120000", split_bytes=150)
        assert len(total) > 4
        assert 0 < len(pruned) < len(total) / 2

    def test_query_matches_unindexed(self, spark, indexed_bam, tmp_path):
        import shutil

        noidx = tmp_path / "noindex.bam"
        shutil.copy(indexed_bam, noidx)
        region = "chr1:100000-200000"
        a = sorted(r["name"] for r in bam_query(spark, indexed_bam, region).collect())
        b = sorted(r["name"] for r in bam_query(spark, str(noidx), region).collect())
        assert a == b and len(a) >= 5

    def test_missing_chrom_empty(self, spark, indexed_bam):
        assert bam_query(spark, indexed_bam, "chrZ").count() == 0


class TestBam:
    def test_golden_first_record(self, spark, bam_file):
        rows = read_bam(spark, bam_file).orderBy("name").collect()
        assert len(rows) == 2
        r1 = rows[1]
        assert tuple(r1) == (
            "ref1_grp1_p001", 99, "ref1", 1, 10, "0", "10M", "ref1",
            "CGAGCTCGGT", "!!!!!!!!!!",
        )
        r0 = rows[0]
        assert r0["reference"] == "chr1"
        assert r0["cigar"] == "55M13394N21M"
        assert r0["start"] == 1000 and r0["end"] == 1000 + 55 + 13394 + 21 - 1

    def test_golden_uncompressed(self, spark, bam_file, tmp_path):
        """Raw ``BAM\\x01`` bytes with no gzip layer read like the gzip file."""
        p = tmp_path / "raw.bam"
        p.write_bytes(_example_bam())
        got = read_bam(spark, str(p)).orderBy("name").collect()
        assert got == read_bam(spark, bam_file).orderBy("name").collect()
        assert len(got) == 2

    def test_bam_query_region(self, spark, bam_file):
        assert bam_query(spark, bam_file, "chr1").count() == 1
        assert bam_query(spark, bam_file, "ref1").count() == 1
        assert bam_query(spark, bam_file, "chr9").count() == 0
        assert bam_query(spark, bam_file, "chr1:1000-1001").count() == 1
        assert bam_query(spark, bam_file, "chr1:100-500").count() == 0

    def test_read_bio_dispatch(self, spark, bam_file):
        assert read_bio(spark, bam_file).count() == 2


GENBANK = """LOCUS       NC_021938              16521 bp    DNA     circular PRI 03-APR-2023
DEFINITION  Alouatta caraya mitochondrion, complete genome.
ACCESSION   NC_021938
VERSION     NC_021938.1
KEYWORDS    RefSeq.
SOURCE      mitochondrion Alouatta caraya
FEATURES             Location/Qualifiers
     source          1..16521
                     /organism="Alouatta caraya"
                     /mol_type="genomic DNA"
     gene            1..68
                     /gene="TRNF"
ORIGIN
        1 gttaatgtag cttataatat caaagcaagg cactgaaaat gcctagacgg gtaattaaaa
       61 ccccataaac
//
LOCUS       AB_000001                 20 bp    DNA     linear   PRI 01-JAN-2000
DEFINITION  test record two.
ACCESSION   AB_000001
ORIGIN
        1 acgtacgtac gtacgtacgt
//
"""


class TestGenbank:
    def test_golden(self, spark, tmp_path):
        p = tmp_path / "test.gb"
        p.write_text(GENBANK)
        rows = read_genbank(spark, str(p)).orderBy("accession").collect()
        assert len(rows) == 2
        r1 = [r for r in rows if r["accession"] == "NC_021938"][0]
        assert r1["sequence"][:5] == "gttaa"
        assert r1["topology"] == "circular"
        assert r1["name"] == "NC_021938"
        assert r1["definition"].startswith("Alouatta caraya")
        kinds = [f["kind"] for f in r1["features"]]
        assert kinds == ["source", "gene"]
        assert r1["features"][0]["qualifiers"]["organism"] == "Alouatta caraya"
        r2 = [r for r in rows if r["accession"] == "AB_000001"][0]
        assert r2["topology"] == "linear"
        assert r2["sequence"] == "acgtacgtacgtacgtacgt"


def _mzml(spectra: list[tuple[str, list[float], list[float]]]) -> str:
    """Minimal mzML doc with intensity (f32) + wavelength (f32) arrays."""
    parts = ['<?xml version="1.0"?><mzML xmlns="http://psi.hupo.org/ms/mzml"><run><spectrumList>']
    for sid, intens, wave in spectra:
        parts.append(f'<spectrum id="{sid}" defaultArrayLength="{len(intens)}">')
        parts.append('<cvParam accession="MS:1000511" name="ms level" value="1"/>')
        parts.append("<binaryDataArrayList>")
        for accs, vals in (
            (("MS:1000521", "MS:1000515"), intens),
            (("MS:1000521", "MS:1000617"), wave),
        ):
            b64 = base64.b64encode(struct.pack(f"<{len(vals)}f", *vals)).decode()
            parts.append("<binaryDataArray>")
            for a in accs:
                parts.append(f'<cvParam accession="{a}" name="x"/>')
            parts.append(f"<binary>{b64}</binary></binaryDataArray>")
        parts.append("</binaryDataArrayList></spectrum>")
    parts.append("</spectrumList></run></mzML>")
    return "".join(parts)


class TestMzml:
    def test_golden(self, spark, tmp_path):
        p = tmp_path / "test.mzML"
        intens = [float(x) for x in range(15, 0, -1)]
        wave = [float(x) for x in range(15)]
        p.write_text(_mzml([("declaration=0 collection=0 scan=0", intens, wave)]))
        r = read_mzml(spark, str(p)).collect()[0]
        assert r["id"] == "declaration=0 collection=0 scan=0"
        assert r["intensity"]["intensity"] == intens
        assert r["wavelength"]["wavelength"] == wave
        assert r["mz"] is None
        # spectrum-level cvParams only — the encoding cvParams inside
        # binaryDataArray must NOT leak into cv_params
        assert [tuple(cv) for cv in r["cv_params"]] == [
            ("MS:1000511", "ms level", "1")
        ]


def _typed_int(v: int) -> bytes:
    return bytes([0x11]) + struct.pack("<b", v)  # 1 × int8


def _typed_str(s: str) -> bytes:
    b = s.encode()
    assert len(b) < 15
    return bytes([(len(b) << 4) | 7]) + b


@pytest.fixture(scope="module")
def bcf_file(tmp_path_factory):
    d = tmp_path_factory.mktemp("bcf")
    p = d / "test.bcf"
    header_text = (
        "##fileformat=VCFv4.2\n"
        '##FILTER=<ID=PASS,Description="ok",IDX=0>\n'
        '##INFO=<ID=INDEL,Number=0,Type=Flag,Description="x",IDX=1>\n'
        '##INFO=<ID=DP,Number=1,Type=Integer,Description="x",IDX=2>\n'
        '##contig=<ID=1,length=249250621,IDX=0>\n'
        "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\n"
    ).encode() + b"\x00"
    # site: chrom 0, pos0 9999918, rlen 1, qual 0.0, 2 alleles, 1 info (DP=1)
    shared = struct.pack("<iii", 0, 9999918, 1)
    shared += struct.pack("<f", 0.0)
    shared += struct.pack("<I", (2 << 16) | 1)  # n_allele=2, n_info=1
    shared += struct.pack("<I", 0)  # n_fmt=0, n_sample=0
    shared += bytes([0x07])  # ID: 0-length string → '.'
    shared += _typed_str("G") + _typed_str("<*>")  # alleles
    shared += bytes([0x01])  # FILTER: 0-length int8 vector
    shared += _typed_int(2) + _typed_int(1)  # key=IDX2 (DP), value=1
    rec = struct.pack("<II", len(shared), 0) + shared
    body = b"BCF\x02\x02" + struct.pack("<I", len(header_text)) + header_text + rec
    with gzip.open(p, "wb") as f:
        f.write(body)
    return str(p)


def _bcf_site(rid: int, pos0: int, dp: int) -> bytes:
    """One BCF record (shared block only, no FORMAT data): DP=dp."""
    shared = struct.pack("<iii", rid, pos0, 1)
    shared += struct.pack("<f", 10.0)
    shared += struct.pack("<I", (2 << 16) | 1)  # n_allele=2, n_info=1
    shared += struct.pack("<I", 0)  # n_fmt=0, n_sample=0
    shared += bytes([0x07])  # ID '.'
    shared += _typed_str("G") + _typed_str("A")
    shared += bytes([0x01])  # FILTER empty
    shared += _typed_int(2) + bytes([0x13]) + struct.pack("<i", dp)  # DP (1×int32)
    return struct.pack("<II", len(shared), 0) + shared


_BCF_HEADER_TEXT = (
    "##fileformat=VCFv4.2\n"
    '##FILTER=<ID=PASS,Description="ok",IDX=0>\n'
    '##INFO=<ID=INDEL,Number=0,Type=Flag,Description="x",IDX=1>\n'
    '##INFO=<ID=DP,Number=1,Type=Integer,Description="x",IDX=2>\n'
    '##contig=<ID=1,length=249250621,IDX=0>\n'
    '##contig=<ID=2,length=249250621,IDX=1>\n'
    "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\n"
).encode() + b"\x00"


def _bcf_payload(n: int) -> tuple[bytes, list[tuple[int, int, int]]]:
    """(payload bytes, [(record_payload_offset, rid, pos0)])."""
    header = b"BCF\x02\x02" + struct.pack("<I", len(_BCF_HEADER_TEXT)) + _BCF_HEADER_TEXT
    recs, placements = [], []
    off = len(header)
    for i in range(n):
        rid = 0 if i < n // 2 else 1
        pos0 = 10_000 + (i % (n // 2)) * 20_000
        r = _bcf_site(rid, pos0, i)
        recs.append(r)
        placements.append((off, rid, pos0))
        off += len(r)
    return header + b"".join(recs), placements


class TestBcfBgzfSplits:
    @pytest.fixture(scope="class")
    def bgzf_bcf(self, tmp_path_factory):
        d = tmp_path_factory.mktemp("bcf_bgzf")
        p = d / "multi.bcf"
        payload, placements = _bcf_payload(60)
        coffsets, cpos = [], 0
        with open(p, "wb") as f:
            for i in range(0, len(payload), 128):
                blk = _bgzf_block(payload[i : i + 128])
                coffsets.append(cpos)
                f.write(blk)
                cpos += len(blk)
            f.write(_bgzf_block(b""))

        # matching .csi (min_shift=14, depth=5 → same binning as BAI)
        def voff(po: int) -> int:
            k = po // 128
            return (coffsets[k] << 16) | (po - k * 128)

        names = ["1", "2"]
        per_ref: list[dict[int, list[tuple[int, int]]]] = [{}, {}]
        for j, (po, rid, pos0) in enumerate(placements):
            nxt = placements[j + 1][0] if j + 1 < len(placements) else len(payload)
            b = _reg2bin(pos0, pos0 + 1)
            per_ref[rid].setdefault(b, []).append((voff(po), voff(nxt)))
        csi = b"CSI\x01" + struct.pack("<3i", 14, 5, 0) + struct.pack("<i", 2)
        for bins in per_ref:
            csi += struct.pack("<i", len(bins))
            for bin_id, chunks in bins.items():
                csi += struct.pack("<IQi", bin_id, 0, len(chunks))
                for bb, e in chunks:
                    csi += struct.pack("<QQ", bb, e)
        with gzip.open(d / "multi.bcf.csi", "wb") as f:
            f.write(csi)
        return str(p)

    @pytest.mark.parametrize("split_bytes", [100, 300, 1 << 20])
    def test_split_invariance(self, spark, bgzf_bcf, split_bytes):
        rows = read_bcf(spark, bgzf_bcf, split_bytes=split_bytes).collect()
        got = sorted((r["chrom"], r["pos"], r["info"]["DP"]) for r in rows)
        assert len(got) == 60
        assert got == sorted(
            (r["chrom"], r["pos"], r["info"]["DP"])
            for r in read_bcf(spark, bgzf_bcf).collect()
        )

    def test_csi_prunes_splits(self, bgzf_bcf):
        from exon_duckdb_spark.sources.indexes import plan_region_splits
        from exon_duckdb_spark.sources.splits import plan_splits

        total = plan_splits(bgzf_bcf, "none", splittable=True, split_bytes=120)
        pruned = plan_region_splits(bgzf_bcf, "1:10001-50001", split_bytes=120)
        assert len(total) > 4
        assert 0 < len(pruned) < len(total) / 2

    def test_query_matches_unindexed(self, spark, bgzf_bcf, tmp_path):
        import shutil

        noidx = tmp_path / "noindex.bcf"
        shutil.copy(bgzf_bcf, noidx)
        for region in ("1", "2:10001-250000", "1:250000-600010"):
            a = sorted((r["chrom"], r["pos"]) for r in bcf_query(spark, bgzf_bcf, region).collect())
            b = sorted((r["chrom"], r["pos"]) for r in bcf_query(spark, str(noidx), region).collect())
            assert a == b, region
        assert bcf_query(spark, bgzf_bcf, "1").count() == 30
        assert bcf_query(spark, bgzf_bcf, "chrZ").count() == 0

    def test_resync_rejects_false_record_chains(self, tmp_path):
        """A 40,000-record file in 4096-byte blocks read as 5000-byte
        splits: byte runs inside records also pass the fixed-field checks
        and chain, so resync must also require the shared block's typed
        values to fill it exactly. Every record comes back exactly once."""
        from collections import Counter

        from exon_duckdb_spark.sources.bcf import _parse_bcf_split, bcf_bind
        from exon_duckdb_spark.sources.splits import plan_splits
        from exon_duckdb_spark.sources.writers import _render_bcf

        n = 40_000
        header = (
            "##fileformat=VCFv4.2\n"
            '##FILTER=<ID=PASS,Description="ok",IDX=0>\n'
            '##INFO=<ID=DP,Number=1,Type=Integer,Description="d",IDX=1>\n'
            "##contig=<ID=chr1,length=1000000,IDX=0>\n"
            "##contig=<ID=chr2,length=1000000,IDX=1>\n"
            "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO"
        )
        rows = sorted(
            (
                {"chrom": f"chr{i % 2 + 1}", "pos": i * 500 + 1, "id": f"rs{i}",
                 "ref": "A", "alt": ["T"], "qual": 1.0, "DP": i}
                for i in range(n)
            ),
            key=lambda r: (r["chrom"], r["pos"]),
        )
        p = tmp_path / "large.bcf"
        p.write_bytes(_render_bcf(rows, header, {"chr1": 0, "chr2": 1}, {"DP": 1},
                                  block_bytes=4096))
        contigs, info_meta, _, _ = bcf_bind(str(p))
        seen = Counter(
            rec["info"]["DP"]
            for split in plan_splits(str(p), "none", splittable=True, split_bytes=5000)
            for rec in _parse_bcf_split(split, info_meta, contigs)
        )
        assert sorted(seen) == list(range(n))
        assert set(seen.values()) == {1}


class TestBcf:
    def test_golden(self, spark, bcf_file):
        df = read_bcf(spark, bcf_file)
        assert [f.name for f in df.schema["info"].dataType.fields] == ["INDEL", "DP"]
        r = df.collect()[0]
        assert (r["chrom"], r["pos"], r["ref"], r["alt"], r["qual"]) == (
            "1", 9999919, "G", ["<*>"], 0.0,
        )
        assert r["info"]["DP"] == 1
        assert r["info"]["INDEL"] is False

    def test_bcf_query(self, spark, bcf_file):
        assert bcf_query(spark, bcf_file, "1").count() == 1
        assert bcf_query(spark, bcf_file, "1:9999919").count() == 1
        assert bcf_query(spark, bcf_file, "2").count() == 0


class TestBcfImplicitDictionary:
    def test_no_idx_header_follows_htslib_dictionary(self, tmp_path):
        """Round-5 review: headers WITHOUT IDX= must reconstruct the
        implicit dictionary per BCF2.2/htslib — PASS is entry 0 even with
        no PASS line, ids assign in order of first appearance, and an ID
        shared across FILTER/INFO/FORMAT occupies ONE entry (the old
        fresh-index-per-line logic shifted every later id and mismapped
        INFO keys). Also covers the FILTER column decode (was hardcoded
        None)."""
        import struct

        from exon_duckdb_spark.sources.bcf import bcf_bind, parse_bcf_records
        from exon_duckdb_spark.sources.bgzf import bgzf_compress
        from exon_duckdb_spark.sources.splits import FileSplit
        from exon_duckdb_spark.sources.writers import (
            _bcf_typed_int,
            _bcf_typed_str,
        )

        header = "\n".join([
            "##fileformat=VCFv4.2",
            '##FILTER=<ID=q10,Description="low qual">',
            '##INFO=<ID=DP,Number=1,Type=Integer,Description="depth">',
            '##FORMAT=<ID=DP,Number=1,Type=Integer,Description="depth">',
            '##INFO=<ID=AF,Number=1,Type=Integer,Description="af">',
            "##contig=<ID=chr1>",
            "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO",
        ]) + "\n"
        htext = header.encode() + b"\x00"
        rec = bytearray()
        rec += struct.pack("<iii", 0, 9, 1)
        rec += struct.pack("<I", 0x7F800001)  # missing qual
        rec += struct.pack("<I", (1 << 16) | 2)  # n_allele=1, n_info=2
        rec += struct.pack("<I", 0)
        rec += b"\x07"  # id '.'
        rec += _bcf_typed_str("A")
        rec += bytes([0x21, 1, 0])  # FILTER int8 vector [q10, PASS]
        rec += _bcf_typed_int(2) + _bcf_typed_int(7)  # DP (shared idx 2)
        rec += _bcf_typed_int(3) + _bcf_typed_int(5)  # AF (idx 3)
        body = b"BCF\x02\x02" + struct.pack("<I", len(htext)) + htext
        body += struct.pack("<II", len(rec), 0) + rec
        blob = bgzf_compress(body)
        p = tmp_path / "noidx.bcf"
        p.write_bytes(blob)
        contigs, info_meta, info_fields, _schema = bcf_bind(str(p))
        assert info_meta[1][0] == "q10" and info_meta[1][2] == "__FILTER__"
        assert info_meta[2] == ("DP", "1", "Integer")  # FORMAT DP shared
        assert info_meta[3] == ("AF", "1", "Integer")
        split = FileSplit(path=str(p), start=0, length=len(blob), compression=None)
        (row,) = parse_bcf_records(split, info_meta, contigs, info_fields)
        assert row["filter"] == "q10;PASS"
        assert row["info"] == {"DP": 7, "AF": 5}
