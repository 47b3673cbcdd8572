"""Sinks: FASTA / FASTQ / GFF / GTF / SAM / BED / VCF / HMMER-domtbl /
GenBank writers.

The reference's COPY TO writers exist only as fully commented-out tests
(SURVEY §2.2) — here they are live: each serializes records to their text
format with native expressions and writes through Spark's distributed text
sink (one file per partition, codec-compressible via the standard
``compression`` option). Serialization is the exact inverse of the paired
reader's normalizations (NULL→'.'/'*' placeholders, 1-based→0-based BED),
so writer→reader round trips are identity — the contract queries
q46+ hash-check that against the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "to_fasta",
    "to_fastq",
    "to_gff",
    "to_gtf",
    "to_sam",
    "to_bed",
    "to_vcf",
    "to_hmm_dom_tbl",
    "to_genbank",
    "to_mzml",
    "to_bam",
    "to_bcf",
    "write_partition_files",
]


def _write_lines(df: DataFrame, line: F.Column, path: str, compression: str | None):
    from exon_duckdb_spark.sources.splits import is_uri

    if is_uri(path) and not path.startswith("file://"):
        # object-store URIs route through the pyarrow seam (the JVM text
        # writer would need Hadoop scheme connectors the Python stack
        # doesn't require) — same per-partition sink as the binary formats
        vals = df.select(line.alias("value"))

        def render(rows: list[dict]) -> bytes:
            data = ("\n".join(r["value"] for r in rows) + "\n").encode()
            if compression == "gzip":
                import gzip as _gz

                return _gz.compress(data)
            if compression:
                import pyarrow as _pa

                return _pa.Codec(compression).compress(data, asbytes=True)
            return data

        ext = {"gzip": ".txt.gz", None: ".txt"}.get(compression, f".txt.{compression}")
        write_partition_files(vals, path, render, ext)
        return
    writer = df.select(line.alias("value")).write.mode("overwrite")
    if compression:
        writer = writer.option("compression", compression)
    writer.text(path)


def to_fasta(df: DataFrame, path: str, compression: str | None = None) -> None:
    """(id, description, sequence) → FASTA. NULL description omits the
    space-separated suffix."""
    header = F.concat(
        F.lit(">"),
        F.col("id"),
        F.when(
            F.col("description").isNotNull(), F.concat(F.lit(" "), F.col("description"))
        ).otherwise(F.lit("")),
    )
    _write_lines(df, F.concat_ws("\n", header, F.col("sequence")), path, compression)


def to_fastq(df: DataFrame, path: str, compression: str | None = None) -> None:
    """(name, description, sequence, quality_scores) → 4-line FASTQ."""
    header = F.concat(
        F.lit("@"),
        F.col("name"),
        F.when(
            F.col("description").isNotNull(), F.concat(F.lit(" "), F.col("description"))
        ).otherwise(F.lit("")),
    )
    _write_lines(
        df,
        F.concat_ws("\n", header, F.col("sequence"), F.lit("+"), F.col("quality_scores")),
        path,
        compression,
    )


def to_gff(df: DataFrame, path: str, compression: str | None = None) -> None:
    """GFF scan schema → 9-column GFF3 text; NULLs render as '.'; the
    attributes map re-serializes as k=v1,v2;… ."""
    dot = lambda c: F.coalesce(c.cast("string"), F.lit("."))  # noqa: E731
    attrs = F.when(F.col("attributes").isNull(), F.lit(".")).otherwise(
        F.array_join(
            F.transform(
                F.map_entries(F.col("attributes")),
                lambda e: F.concat(e["key"], F.lit("="), F.array_join(e["value"], ",")),
            ),
            ";",
        )
    )
    line = F.concat_ws(
        "\t",
        dot(F.col("seqname")),
        dot(F.col("source")),
        dot(F.col("type")),
        dot(F.col("start")),
        dot(F.col("end")),
        dot(F.col("score")),
        dot(F.col("strand")),
        dot(F.col("phase")),
        attrs,
    )
    _write_lines(df, line, path, compression)


def _dot(c: F.Column) -> F.Column:
    return F.coalesce(c.cast("string"), F.lit("."))


def _star(c: F.Column) -> F.Column:
    return F.coalesce(c.cast("string"), F.lit("*"))


def to_gtf(df: DataFrame, path: str, compression: str | None = None) -> None:
    """GTF scan schema → 9-column GTF text; the attributes map
    re-serializes in GFF2 ``key "value"; `` syntax (inverse of
    gtf_attributes_to_map)."""
    attrs = F.when(F.col("attributes").isNull(), F.lit(".")).otherwise(
        F.array_join(
            F.flatten(
                F.transform(
                    F.map_entries(F.col("attributes")),
                    lambda e: F.transform(
                        e["value"],
                        lambda v: F.concat(e["key"], F.lit(' "'), v, F.lit('";')),
                    ),
                )
            ),
            " ",
        )
    )
    line = F.concat_ws(
        "\t",
        _dot(F.col("seqname")),
        _dot(F.col("source")),
        _dot(F.col("type")),
        _dot(F.col("start")),
        _dot(F.col("end")),
        _dot(F.col("score")),
        _dot(F.col("strand")),
        _dot(F.col("frame")),
        attrs,
    )
    _write_lines(df, line, path, compression)


def to_sam(df: DataFrame, path: str, compression: str | None = None) -> None:
    """SAM scan schema (10 reader columns) → 11-column SAM text lines.

    Inverse of read_sam's normalizations: NULL reference/cigar/sequence/
    quality → '*', NULL start → pos 0, mate == reference → '='. The
    reader-computed ``end`` column is derived, not serialized.
    """
    mate = F.when(F.col("mate_reference").isNull(), F.lit("*")).otherwise(
        F.when(
            F.col("mate_reference") == F.col("reference"), F.lit("=")
        ).otherwise(F.col("mate_reference"))
    )
    line = F.concat_ws(
        "\t",
        F.col("name"),
        F.coalesce(F.col("flag").cast("string"), F.lit("0")),
        _star(F.col("reference")),
        F.coalesce(F.col("start").cast("string"), F.lit("0")),
        F.coalesce(F.col("mapping_quality"), F.lit("255")),
        _star(F.col("cigar")),
        mate,
        F.lit("0"),  # PNEXT (not in the scan schema)
        F.lit("0"),  # TLEN
        _star(F.col("sequence")),
        _star(F.col("quality_score")),
    )
    _write_lines(df, line, path, compression)


def to_bed(df: DataFrame, path: str, compression: str | None = None) -> None:
    """BED scan schema → 12-column BED text; inverse of read_bed's
    normalizations (1-based start/thick_start back to 0-based, NULL
    score/color → 0, NULL name/strand → '.')."""
    # NB: every element must be non-NULL — concat_ws silently drops NULLs,
    # which would shift the remaining columns left.
    zero = lambda c: F.coalesce(c.cast("string"), F.lit("0"))  # noqa: E731
    line = F.concat_ws(
        "\t",
        F.col("reference_sequence_name"),
        (F.col("start") - 1).cast("string"),
        F.col("end").cast("string"),
        _dot(F.col("name")),
        zero(F.col("score")),
        _dot(F.col("strand")),
        zero(F.col("thick_start") - 1),
        zero(F.col("thick_end")),
        zero(F.col("color")),
        zero(F.col("block_count")),
        _dot(F.col("block_sizes")),
        _dot(F.col("block_starts")),
    )
    _write_lines(df, line, path, compression)


def to_vcf(df: DataFrame, path: str, header: str, compression: str | None = None) -> None:
    """VCF records → text sink + a header file.

    ``df`` carries the *serialized* columns (chrom, pos, id, ref,
    alt ARRAY<STRING>, qual, filter, info STRING, and optionally
    formats STRING + genotypes ARRAY<STRING>); ``header`` is the
    ``##``-line block (must include the ##INFO declarations the reader's
    bind-time peek needs). The header lands in ``00000_header.vcf`` which
    sorts before the part files, matching read_vcf's first-file peek.
    """
    import os

    cols = [
        F.col("chrom").cast("string"),
        F.col("pos").cast("string"),
        _dot(F.col("id")),
        F.col("ref"),
        F.when(F.col("alt").isNull(), F.lit(".")).otherwise(
            F.array_join(F.col("alt"), ",")
        ),
        _dot(F.col("qual")),
        _dot(F.col("filter")),
        _dot(F.col("info")),
    ]
    if "formats" in df.columns:
        # NULL formats/genotypes are dropped by concat_ws → the line ends at
        # 8 fields, exactly VCF's optional-column rule.
        cols.append(F.col("formats"))
        cols.append(
            F.when(F.col("genotypes").isNull(), F.lit(None)).otherwise(
                F.array_join(F.col("genotypes"), "\t")
            )
        )
    line = F.concat_ws("\t", *cols)
    _write_lines(df, line, path, compression)
    htext = header.rstrip("\n") + "\n"
    if not header.lstrip().startswith("##"):
        raise ValueError("VCF header must start with ## meta lines")
    if "#CHROM" not in header:
        htext += "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\n"
    from exon_duckdb_spark.sources.splits import is_uri, open_output

    if is_uri(path) and not path.startswith("file://"):
        # object-store seam: a bare open() would treat the URI as a local
        # filename and fail AFTER the data part-files were written
        with open_output(path.rstrip("/") + "/00000_header.vcf") as fh:
            fh.write(htext.encode())
    else:
        p = path.removeprefix("file://")
        with open(os.path.join(p, "00000_header.vcf"), "w") as fh:
            fh.write(htext)


def to_hmm_dom_tbl(df: DataFrame, path: str, compression: str | None = None) -> None:
    """HMMER3 --domtblout: 22 space-delimited columns + free-text
    description (inverse of read_hmm_dom_tbl's whitespace split)."""
    from exon_duckdb_spark.sources.schemas import HMM_DOMTAB_SCHEMA

    cols = [_dot(F.col(f.name)) for f in HMM_DOMTAB_SCHEMA.fields]
    _write_lines(df, F.concat_ws(" ", *cols), path, compression)


def to_genbank(df: DataFrame, path: str, compression: str | None = None) -> None:
    """(name, accession, definition, topology, molecule_type, sequence) →
    GenBank flat-file records (LOCUS..//) through the text sink — each row
    renders as one multi-line record string."""
    # one regex pass cuts the 60-base lines; an empty sequence keeps its
    # single "        1 " line
    chunks = F.when(F.col("sequence") == "", F.array(F.lit(""))).otherwise(
        F.regexp_extract_all(F.col("sequence"), F.lit("(?s).{1,60}"), 0)
    )
    seq_lines = F.array_join(
        F.transform(
            chunks,
            lambda c, i: F.concat(F.lpad((i * 60 + 1).cast("string"), 9, " "), F.lit(" "), c),
        ),
        "\n",
    )
    rec = F.concat(
        F.lit("LOCUS       "),
        F.rpad(F.col("name"), 20, " "),
        F.lpad(F.length("sequence").cast("string"), 8, " "),
        F.lit(" bp    "),
        F.rpad(F.col("molecule_type"), 8, " "),
        F.rpad(F.col("topology"), 9, " "),
        F.lit("UNA 01-JAN-2000\n"),
        F.lit("DEFINITION  "), F.col("definition"), F.lit("\n"),
        F.lit("ACCESSION   "), F.col("accession"), F.lit("\n"),
        F.lit("ORIGIN\n"),
        seq_lines,
        F.lit("\n//"),
    )
    _write_lines(df, rec, path, compression)


def write_partition_files(df: DataFrame, path: str, render, ext: str) -> int:
    """Distributed sink for whole-file formats (mzML XML docs, BAM/BCF
    binaries): each partition renders its rows to ONE complete file in
    ``path`` via ``render(rows: list[dict]) -> bytes`` (Arrow rows, so a
    NULL arrives as ``None``). No driver data
    path — executors write their own partition's file, so the sink scales
    with the cluster exactly like Spark's native sinks. Returns the row
    count. Overwrites ``path``."""
    import os
    import shutil

    from exon_duckdb_spark.sources.splits import is_uri

    remote = is_uri(path) and not path.startswith("file://")
    if remote:
        from pyarrow import fs as pafs

        from exon_duckdb_spark.sources.splits import _fs

        fs, inner = _fs(path)
        if fs.get_file_info([inner])[0].type == pafs.FileType.Directory:
            fs.delete_dir(inner)
        fs.create_dir(inner, recursive=True)
        p = path.rstrip("/")
    else:
        p = path.removeprefix("file://")
        if os.path.isdir(p):
            shutil.rmtree(p)
        os.makedirs(p, exist_ok=True)

    def _write(batches):
        import pyarrow as pa
        from pyspark import TaskContext

        rows: list[dict] = []
        for batch in batches:
            rows.extend(batch.to_pylist())
        if rows:
            pid = TaskContext.get().partitionId()
            if remote:
                # executors open the object store through the same seam
                # (per-scheme factories must be registered on executors —
                # see DEPLOY.md §3)
                from exon_duckdb_spark.sources.splits import open_output

                with open_output(f"{p}/part-{pid:05d}{ext}") as fh:
                    fh.write(render(rows))
            else:
                with open(os.path.join(p, f"part-{pid:05d}{ext}"), "wb") as fh:
                    fh.write(render(rows))
        yield pa.RecordBatch.from_arrays([pa.array([len(rows)], pa.int64())], ["n"])

    from pyspark.sql import functions as _F

    n = df.mapInArrow(_write, "n long").agg(_F.sum("n")).collect()[0][0]
    return int(n or 0)


def _render_mzml(rows: list[dict]) -> bytes:
    """Rows → one mzML XML document (inverse of the reader's accessions)."""
    import base64
    import struct
    from xml.sax.saxutils import escape, quoteattr

    parts = [
        '<?xml version="1.0" encoding="utf-8"?>',
        '<mzML xmlns="http://psi.hupo.org/ms/mzml"><run><spectrumList>',
    ]
    arrays = (
        ("mz", "MS:1000523", "d", "MS:1000514", "m/z array"),
        ("intensity", "MS:1000521", "f", "MS:1000515", "intensity array"),
        ("wavelength", "MS:1000521", "f", "MS:1000617", "wavelength array"),
    )
    for r in rows:
        n = next(
            (len(r[c]) for c, *_ in arrays if r.get(c) is not None), 0
        )
        parts.append(
            f"<spectrum id={quoteattr(str(r['id']))} defaultArrayLength=\"{n}\">"
        )
        for cv in r.get("cv_params") or []:
            parts.append(
                f"<cvParam accession={quoteattr(cv['accession'] or '')}"
                f" name={quoteattr(cv['name'] or '')}"
                + (f" value={quoteattr(cv['value'])}" if cv.get("value") is not None else "")
                + "/>"
            )
        parts.append("<binaryDataArrayList>")
        for col, enc_acc, fmt, kind_acc, kind_name in arrays:
            vals = r.get(col)
            if vals is None:
                continue
            vals = list(vals)
            b64 = base64.b64encode(struct.pack(f"<{len(vals)}{fmt}", *vals)).decode()
            parts.append(
                "<binaryDataArray>"
                f'<cvParam accession="{enc_acc}" name="enc"/>'
                f"<cvParam accession={quoteattr(kind_acc)} name={quoteattr(kind_name)}/>"
                f"<binary>{escape(b64)}</binary></binaryDataArray>"
            )
        parts.append("</binaryDataArrayList></spectrum>")
    parts.append("</spectrumList></run></mzML>")
    return "".join(parts).encode()


def to_mzml(df: DataFrame, path: str) -> int:
    """(id, cv_params?, mz ARRAY<DOUBLE>?, intensity ARRAY<FLOAT>?,
    wavelength ARRAY<FLOAT>?) → one mzML document per partition."""
    return write_partition_files(df, path, _render_mzml, ".mzML")


_CIGAR_OP_CODE = {"M": 0, "I": 1, "D": 2, "N": 3, "S": 4, "H": 5, "P": 6, "=": 7, "X": 8}
# byte → the hex digit of its 4-bit BAM base code (BAM spec §4.2.3): one
# bytes.translate + bytes.fromhex packs a read, the inverse of the reader's
# hex().translate; every byte outside "=ACMGRSVTWYHKDBN" is N (15)
_SEQ_HEX = bytes(
    ord("0123456789abcdef"["=ACMGRSVTWYHKDBN".find(chr(b)) % 16]) for b in range(256)
)
# Phred+33 character → quality byte (characters below '!' are rejected)
_QUAL_SHIFT = bytes((b - 33) % 256 for b in range(256))


def _pack_seq(seq: str) -> bytes:
    # latin-1 with "replace" keeps one byte per base; '?' and 0x80-0xff are N
    hx = seq.encode("latin-1", "replace").translate(_SEQ_HEX)
    return bytes.fromhex((hx + b"0" if len(hx) % 2 else hx).decode())


def _pack_qual(qual: str) -> bytes:
    raw = qual.encode("latin-1")
    if min(raw) < 33:
        raise ValueError(f"quality character below '!' in {qual!r}")
    return raw.translate(_QUAL_SHIFT)


def _render_bam(rows: list[dict], refs: list[tuple[str, int]], block_bytes: int | None = None) -> bytes:
    """Rows (SAM scan columns) → one BGZF-compressed BAM file (BAM spec §4)."""
    import re
    import struct

    from exon_duckdb_spark.sources.bgzf import bgzf_compress

    ref_id = {name: i for i, (name, _) in enumerate(refs)}
    out = bytearray(b"BAM\x01" + struct.pack("<i", 0) + struct.pack("<i", len(refs)))
    for name, length in refs:
        nb = name.encode() + b"\x00"
        out += struct.pack("<i", len(nb)) + nb + struct.pack("<i", length)
    for r in rows:
        rid = ref_id.get(r.get("reference"), -1)
        start, mapq, flag = r.get("start"), r.get("mapping_quality"), r.get("flag")
        pos0 = -1 if start is None else int(start) - 1
        nb = str(r["name"]).encode() + b"\x00"
        cigar = r.get("cigar")
        ops = (
            [(int(n), _CIGAR_OP_CODE[op]) for n, op in re.findall(r"(\d+)([MIDNSHP=X])", cigar)]
            if cigar is not None
            else []
        )
        seq = r.get("sequence") or ""
        qual = r.get("quality_score")
        mate_rid = ref_id.get(r.get("mate_reference"), -1)
        body = struct.pack(
            "<iiBBHHHiiii",
            rid,
            pos0,
            len(nb),
            0 if mapq is None else int(mapq),
            0,  # bin (only meaningful with an index; readers ignore it)
            len(ops),
            0 if flag is None else int(flag),
            len(seq),
            mate_rid,
            -1,
            0,
        )
        body += nb
        for oplen, op in ops:
            body += struct.pack("<I", (oplen << 4) | op)
        body += _pack_seq(seq)
        body += _pack_qual(qual) if qual else b"\xff" * len(seq)
        out += struct.pack("<i", len(body)) + body
    if block_bytes is None:
        return bgzf_compress(bytes(out))
    return bgzf_compress(bytes(out), block_bytes)


def to_bam(df: DataFrame, path: str, refs: list[tuple[str, int]]) -> int:
    """SAM scan columns → BGZF-compressed BAM, one file per partition
    (``refs`` = [(name, length)] defines the header's reference dictionary;
    inverse of read_bam's record decode)."""
    return write_partition_files(
        df, path, lambda rows: _render_bam(rows, refs), ".bam"
    )


def _bcf_typed_int(v: int) -> bytes:
    import struct

    if -120 <= v <= 127:
        return b"\x11" + struct.pack("<b", v)
    if -32760 <= v <= 32767:
        return b"\x12" + struct.pack("<h", v)
    return b"\x13" + struct.pack("<i", v)


def _bcf_typed_str(s: str) -> bytes:
    b = s.encode()
    if len(b) < 15:
        return bytes([(len(b) << 4) | 7]) + b
    return bytes([0xF7]) + _bcf_typed_int(len(b)) + b


def _render_bcf(
    rows: list[dict], header_text: str, contig_ids: dict[str, int],
    info_idx: dict[str, int], block_bytes: int | None = None,
) -> bytes:
    """Rows → one BGZF-compressed BCF2.2 file (BCF spec §6). ``info_idx``
    maps df column name → header dictionary IDX; values are written as
    typed ints."""
    import struct

    from exon_duckdb_spark.sources.bgzf import bgzf_compress

    htext = header_text.encode() + b"\x00"
    out = bytearray(b"BCF\x02\x02" + struct.pack("<I", len(htext)) + htext)
    missing_qual = struct.pack("<I", 0x7F800001)  # BCF missing-float NaN
    for r in rows:
        alt = r.get("alt")
        alleles = [r["ref"]] + ([] if alt is None else list(alt))
        infos = [(idx, r[col]) for col, idx in info_idx.items() if r.get(col) is not None]
        shared = bytearray()
        shared += struct.pack("<iii", contig_ids[r["chrom"]], int(r["pos"]) - 1, len(r["ref"]))
        q = r.get("qual")
        shared += missing_qual if q is None else struct.pack("<f", float(q))
        shared += struct.pack("<I", (len(alleles) << 16) | len(infos))
        shared += struct.pack("<I", 0)  # n_fmt=0, n_sample=0
        vid = r.get("id")
        shared += b"\x07" if vid is None else _bcf_typed_str(str(vid))
        for a in alleles:
            shared += _bcf_typed_str(a)
        shared += b"\x01"  # FILTER: empty int8 vector
        for idx, val in infos:
            shared += _bcf_typed_int(idx) + _bcf_typed_int(int(val))
        out += struct.pack("<II", len(shared), 0) + shared
    if block_bytes is None:
        return bgzf_compress(bytes(out))
    return bgzf_compress(bytes(out), block_bytes)


def to_bcf(
    df: DataFrame, path: str, header_text: str, contigs: list[str],
    info_idx: dict[str, int],
) -> int:
    """(chrom, pos, id, ref, alt, qual + integer INFO columns) →
    BGZF-compressed BCF2, one file per partition. ``header_text`` must
    declare the contigs and INFO IDs with IDX= annotations matching
    ``info_idx`` (read_bcf's bind-time dictionary)."""
    cids = {c: i for i, c in enumerate(contigs)}
    return write_partition_files(
        df, path, lambda rows: _render_bcf(rows, header_text, cids, info_idx), ".bcf"
    )
