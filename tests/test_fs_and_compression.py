"""Compression matrix (.gz/.zst via pyarrow's codec) + filesystem-URI path
(pyarrow.fs) — reference: compression sniffing rust/src/arrow_reader.rs:60-91,
.gz/.zst scan variants test_fasta_scan.test:10-47; object stores registered
per-URI arrow_reader.rs:108. file:// routes through the same
FileSystem.from_uri seam as s3://gs://, so a green file:// run proves the
remote path is config-only.
"""

from __future__ import annotations

import gzip

import pyarrow as pa
import pytest

from exon_duckdb_spark.sources.bam import read_bam
from exon_duckdb_spark.sources.fasta import read_fasta
from exon_duckdb_spark.sources.fastq import read_fastq
from exon_duckdb_spark.sources.splits import (
    expand_paths,
    file_size,
    open_binary,
    path_exists,
)

FASTA = ">a desc1\nACGT\n>b\nGGCCAA\n>c x\nTTTT\n"
FASTQ = "@r1 d\nACGT\n+\nIIII\n@r2\nGGCC\n+\nJJJJ\n"


def _golden_fasta(spark, path):
    rows = sorted(map(tuple, read_fasta(spark, path).collect()))
    assert rows == [("a", "desc1", "ACGT"), ("b", None, "GGCCAA"), ("c", "x", "TTTT")]


def test_fasta_gzip(spark, tmp_path):
    p = tmp_path / "x.fasta.gz"
    p.write_bytes(gzip.compress(FASTA.encode()))
    _golden_fasta(spark, str(p))


def test_fasta_zstd(spark, tmp_path):
    p = tmp_path / "x.fasta.zst"
    p.write_bytes(pa.Codec("zstd").compress(FASTA.encode(), asbytes=True))
    _golden_fasta(spark, str(p))


def test_fastq_zstd(spark, tmp_path):
    p = tmp_path / "x.fastq.zstd"
    p.write_bytes(pa.Codec("zstd").compress(FASTQ.encode(), asbytes=True))
    rows = sorted(map(tuple, read_fastq(spark, str(p)).collect()))
    assert rows == [("r1", "d", "ACGT", "IIII"), ("r2", None, "GGCC", "JJJJ")]


def test_mixed_compression_dir(spark, tmp_path):
    """One directory holding plain + .gz + .zst files of the same format."""
    (tmp_path / "a.fasta").write_text(FASTA)
    (tmp_path / "b.fasta.gz").write_bytes(gzip.compress(FASTA.encode()))
    (tmp_path / "c.fasta.zst").write_bytes(
        pa.Codec("zstd").compress(FASTA.encode(), asbytes=True)
    )
    assert read_fasta(spark, str(tmp_path)).count() == 9


class TestFileUri:
    """file:// exercises the pyarrow.fs code path end-to-end."""

    def test_helpers(self, tmp_path):
        p = tmp_path / "f.bin"
        p.write_bytes(b"hello world")
        uri = f"file://{p}"
        assert path_exists(uri) and not path_exists(uri + ".nope")
        assert file_size(uri) == 11
        with open_binary(uri) as f:
            f.seek(6)
            assert f.read(5) == b"world"

    def test_expand_dir_uri(self, tmp_path):
        (tmp_path / "a.fasta").write_text(FASTA)
        (tmp_path / "b.fasta").write_text(FASTA)
        (tmp_path / "_SUCCESS").write_text("")
        got = expand_paths(f"file://{tmp_path}")
        assert [g.rsplit("/", 1)[1] for g in got] == ["a.fasta", "b.fasta"]
        assert all(g.startswith("file:///") for g in got)

    def test_fasta_over_uri(self, spark, tmp_path):
        p = tmp_path / "x.fasta"
        p.write_text(FASTA)
        _golden_fasta(spark, f"file://{p}")

    def test_fasta_zstd_over_uri(self, spark, tmp_path):
        p = tmp_path / "x.fasta.zst"
        p.write_bytes(pa.Codec("zstd").compress(FASTA.encode(), asbytes=True))
        _golden_fasta(spark, f"file://{p}")

    def test_bam_split_reader_over_uri(self, spark, tmp_path):
        """Byte-range BGZF reader (seek + read) through the FS seam."""
        from pyspark.sql import functions as F

        from exon_duckdb_spark.sources.writers import to_bam

        d = spark.range(60).select(
            F.col("id").cast("string").alias("name"),
            F.lit(0).cast("int").alias("flag"),
            F.lit("chrA").alias("reference"),
            (F.col("id") + 1).alias("start"),
            F.lit("60").alias("mapping_quality"),
            F.lit("4M").alias("cigar"),
            F.lit(None).cast("string").alias("mate_reference"),
            F.lit("ACGT").alias("sequence"),
            F.lit("IIII").alias("quality_score"),
        )
        out = str(tmp_path / "bams")
        to_bam(d, out, [("chrA", 10_000)])
        plain = sorted(r["name"] for r in read_bam(spark, out).collect())
        via_uri = sorted(
            r["name"] for r in read_bam(spark, f"file://{out}", split_bytes=300).collect()
        )
        assert via_uri == plain and len(plain) == 60


@pytest.mark.parametrize("ext,codec", [("gz", "gzip"), ("zst", "zstd")])
def test_detect_compression(ext, codec):
    from exon_duckdb_spark.sources.splits import detect_compression

    assert detect_compression(f"a.fasta.{ext}") == codec
    assert detect_compression("a.fasta") is None


from pyarrow.fs import FileSystemHandler


class _CountingLocalHandler(FileSystemHandler):
    """pyarrow FileSystemHandler double: a 'remote' filesystem rooted at a
    local directory, counting every call — proving listing / sizing /
    seekable reads / writes of the binary sources go through the pyarrow.fs
    seam (splits._fs), not the os/open fast path."""

    def __init__(self, root: str):
        from pyarrow import fs as pafs

        self._fs = pafs.SubTreeFileSystem(root, pafs.LocalFileSystem())
        self.calls: dict = {}

    def _note(self, op):
        self.calls[op] = self.calls.get(op, 0) + 1

    # --- used by the seam
    def get_type_name(self):
        return "counting-local"

    def normalize_path(self, path):
        return path

    def get_file_info(self, paths):
        self._note("get_file_info")
        return self._fs.get_file_info(paths)

    def get_file_info_selector(self, selector):
        self._note("get_file_info_selector")
        return self._fs.get_file_info(selector)

    def open_input_file(self, path):
        self._note("open_input_file")
        return self._fs.open_input_file(path)

    def open_input_stream(self, path):
        self._note("open_input_stream")
        return self._fs.open_input_file(path)

    def open_output_stream(self, path, metadata=None):
        self._note("open_output_stream")
        return self._fs.open_output_stream(path)

    # --- unused surface
    def __eq__(self, other):
        return self is other

    def create_dir(self, path, recursive):
        self._fs.create_dir(path, recursive=recursive)

    def delete_dir(self, path):
        raise NotImplementedError

    def delete_dir_contents(self, path, missing_dir_ok=False):
        raise NotImplementedError

    def delete_root_dir_contents(self):
        raise NotImplementedError

    def delete_file(self, path):
        raise NotImplementedError

    def move(self, src, dest):
        raise NotImplementedError

    def copy_file(self, src, dest):
        raise NotImplementedError

    def open_append_stream(self, path, metadata=None):
        raise NotImplementedError


@pytest.fixture()
def mock_fs(tmp_path):
    """Register mock:// → the counting double rooted at tmp_path."""
    from pyarrow import fs as pafs

    from exon_duckdb_spark.sources import splits as sp

    handler = _CountingLocalHandler(str(tmp_path))
    pyfs = pafs.PyFileSystem(handler)
    sp.register_filesystem("mock", lambda p: (pyfs, p.split("://", 1)[1]))
    yield handler
    sp._FS_FACTORIES.pop("mock", None)


def test_mock_fs_listing_size_and_split_reads(tmp_path, mock_fs):
    """One binary source end-to-end through the filesystem double: directory
    listing keeps the scheme, sizing and seekable split reads all hit the
    handler, and the parsed records match the local-path read."""
    from exon_duckdb_spark.sources.bam import _parse_bam_split
    from exon_duckdb_spark.sources.splits import plan_splits

    from tests.test_indexes import _write_bam

    local = str(tmp_path / "x.bam")
    _write_bam(local)
    name = local.rsplit("/", 1)[1]

    listed = expand_paths("mock://")
    assert f"mock://{name}" in listed
    assert mock_fs.calls.get("get_file_info_selector", 0) >= 1

    assert file_size(f"mock://{name}") == file_size(local)
    assert mock_fs.calls.get("get_file_info", 0) >= 1

    # byte-range split parse: open + seek through the double
    splits_local = plan_splits(local, "none", splittable=True, split_bytes=400)
    splits_mock = plan_splits(f"mock://{name}", "none", splittable=True, split_bytes=400)
    assert len(splits_mock) == len(splits_local) > 4
    got = sorted(r["name"] for s in splits_mock for r in _parse_bam_split(s))
    want = sorted(r["name"] for s in splits_local for r in _parse_bam_split(s))
    assert got == want and len(got) > 0
    assert mock_fs.calls.get("open_input_file", 0) >= len(splits_mock)


def test_mock_fs_region_query_pruning_and_write(tmp_path, mock_fs):
    """Indexed region query through the double: the .bai is discovered and
    read remotely, split pruning fires, results match the local path; plus
    one writer pass through open_output."""
    from exon_duckdb_spark.sources.bam import _parse_bam_split
    from exon_duckdb_spark.sources.indexes import index_bam, plan_region_splits
    from exon_duckdb_spark.sources.splits import open_output, plan_splits

    from tests.test_indexes import REGION, _write_bam

    local = str(tmp_path / "x.bam")
    _write_bam(local)
    index_bam(local)
    name = local.rsplit("/", 1)[1]

    total = plan_splits(f"mock://{name}", "none", splittable=True, split_bytes=400)
    pruned = plan_region_splits(f"mock://{name}", REGION, split_bytes=400)
    assert 0 < len(pruned) < len(total)  # .bai found + used through the seam
    got = sorted(r["name"] for s in pruned for r in _parse_bam_split(s))
    want = sorted(
        r["name"] for s in plan_region_splits(local, REGION, split_bytes=400)
        for r in _parse_bam_split(s)
    )
    assert got == want

    with open_output("mock://out.bin") as f:
        f.write(b"remote-write")
    assert (tmp_path / "out.bin").read_bytes() == b"remote-write"
    assert mock_fs.calls.get("open_output_stream", 0) >= 1
