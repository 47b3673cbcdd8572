"""Multimodal column operators: images/audio/video as opaque binary columns
with typed metadata.

The Spark-side plumbing — schemas, Arrow-batched UDF signatures, partition
behavior — is real and tested. Header-level metadata extraction (PNG/JPEG
dimensions, WAV sample rate, magic-based MIME sniffing) is implemented in
pure Python from the public container specs. ``decode_image`` and
``resize_image`` are REAL for BMP, PNG, GIF (pure-Python codec in
:mod:`imagecodec` — struct + stdlib zlib + numpy, incl. a full GIF LZW
decoder) and baseline sequential JPEG (:mod:`jpegcodec` — huffman +
dequant + vectorized IDCT + YCbCr, per ITU-T T.81); ``decode_audio`` is
REAL for PCM WAV, and ``sample_frames`` extracts REAL pixels from
MJPEG-in-AVI video (RIFF chunk walk + the same JPEG codec) and from
MJPEG-in-MP4 (QuickTime 'jpeg' sample entries — every sample a complete
JFIF image). For the remaining video codecs (H.264/HEVC in MP4) the
CONTAINER layer is real:
``parse_mp4_video_samples`` walks the full ISO-BMFF sample table (stsd/
stts/stsz/stsc/stco/stss) to per-frame byte ranges, decode timestamps
and keyframe flags, ``encode_mp4_samples`` muxes the matching skeleton,
and ``sample_frames`` does sync-aware selection emitting the real CODED
bytes — only pixel decode is unclaimed (``is_real=false``). The remaining
undecodable tail (progressive/arithmetic JPEG, codec payloads) yields
per-row error strings / flagged fakes, so similarity plumbing is
exercisable without any decodable pixels and a 100 TB sweep surfaces its
undecodable tail instead of dying.
"""

from __future__ import annotations

import hashlib
import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from exon_duckdb_spark.operators import imagecodec

__all__ = [
    "sniff_mime",
    "image_dimensions",
    "wav_sample_rate",
    "mp4_duration",
    "attach_media_metadata",
    "decode_image",
    "resize_image",
    "decode_audio",
    "decode_wav",
    "encode_wav",
    "encode_wav_ima_adpcm",
    "parse_avi_mjpeg",
    "encode_avi_mjpeg",
    "parse_mp4_video_samples",
    "encode_mp4_samples",
    "image_features",
    "sample_frames",
    "MEDIA_META_SCHEMA",
]

MEDIA_META_SCHEMA = (
    "mime string, size_bytes long, width int, height int, sample_rate int"
)


def _id_field(df: DataFrame, id_col: str) -> str:
    """DDL fragment for the id column in a mapInPandas output schema, typed
    from the INPUT schema — callers may carry string/int ids; hardcoding
    `long` would cast-fail or corrupt non-long ids."""
    return f"`{id_col}` {df.schema[id_col].dataType.simpleString()}"


def _sniff(b: bytes | None) -> str | None:
    if not b:
        return None
    if b.startswith(b"\x89PNG\r\n\x1a\n"):
        return "image/png"
    if b.startswith(b"\xff\xd8\xff"):
        return "image/jpeg"
    if b.startswith(b"GIF8"):
        return "image/gif"
    if b.startswith(b"BM") and len(b) >= 54:
        return "image/bmp"
    if b.startswith(b"RIFF") and b[8:12] == b"WAVE":
        return "audio/wav"
    if b[:4] in (b"II*\x00", b"MM\x00*"):
        return "image/tiff"
    if b[4:8] == b"ftyp":
        return "video/mp4"
    return "application/octet-stream"


def _png_dims(b: bytes) -> tuple[int, int] | None:
    if len(b) >= 24 and b.startswith(b"\x89PNG"):
        w, h = struct.unpack(">II", b[16:24])
        return w, h
    return None


def _jpeg_dims(b: bytes) -> tuple[int, int] | None:
    # walk JPEG segments to the first SOF marker (public JFIF layout)
    i = 2
    while i + 9 < len(b):
        if b[i] != 0xFF:
            return None
        marker = b[i + 1]
        if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
            h, w = struct.unpack(">HH", b[i + 5 : i + 9])
            return w, h
        seg_len = struct.unpack(">H", b[i + 2 : i + 4])[0]
        i += 2 + seg_len
    return None


def _bmp_dims(b: bytes) -> tuple[int, int] | None:
    if len(b) >= 26 and b[:2] == b"BM":
        w, h = struct.unpack("<ii", b[18:26])
        return w, abs(h)
    return None


def _gif_dims(b: bytes) -> tuple[int, int] | None:
    if len(b) >= 10 and b[:4] == b"GIF8":
        w, h = struct.unpack("<HH", b[6:10])
        return w, h
    return None


def _wav_rate(b: bytes) -> int | None:
    if len(b) >= 28 and b.startswith(b"RIFF") and b[8:12] == b"WAVE":
        return struct.unpack("<I", b[24:28])[0]
    return None


def mp4_duration(b: bytes | None) -> float | None:
    """Video duration in seconds from the ISO-BMFF ``moov/mvhd`` box.

    Pure header walk (public ISO/IEC 14496-12 layout), no codec needed:
    top-level boxes are [size u32][type 4cc][payload]; ``mvhd`` v0 carries
    (timescale u32, duration u32) at payload offset 12, v1 at offset 20
    with a u64 duration."""
    if not b or len(b) < 16:
        return None

    def walk(lo: int, hi: int) -> float | None:
        i = lo
        while i + 8 <= hi:
            size = struct.unpack(">I", b[i : i + 4])[0]
            typ = b[i + 4 : i + 8]
            if size < 8 or i + size > hi:
                return None
            if typ == b"moov":
                got = walk(i + 8, i + size)
                if got is not None:
                    return got
            elif typ == b"mvhd" and i + 8 < hi:
                ver = b[i + 8]
                p = i + 12  # past version+flags
                if ver == 0 and p + 16 <= hi:
                    timescale, duration = struct.unpack(">II", b[p + 8 : p + 16])
                elif ver == 1 and p + 28 <= hi:
                    timescale = struct.unpack(">I", b[p + 16 : p + 20])[0]
                    duration = struct.unpack(">Q", b[p + 20 : p + 28])[0]
                else:
                    return None
                return duration / timescale if timescale else None
            i += size
        return None

    return walk(0, len(b))


def _iter_boxes(b: bytes, lo: int, hi: int):
    """Yield (fourcc, payload_start, box_end) for ISO-BMFF boxes in
    b[lo:hi], handling 64-bit largesize (size==1) and to-end (size==0)."""
    i = lo
    while i + 8 <= hi:
        size = struct.unpack(">I", b[i : i + 4])[0]
        typ = b[i + 4 : i + 8]
        payload = i + 8
        if size == 1:
            if i + 16 > hi:
                return
            size = struct.unpack(">Q", b[i + 8 : i + 16])[0]
            payload = i + 16
        elif size == 0:
            size = hi - i
        if size < 8 or i + size > hi:
            return
        yield typ, payload, i + size
        i += size


def parse_mp4_video_samples(b: bytes) -> dict:
    """Full ISO-BMFF (ISO/IEC 14496-12) sample-table walk for the first
    VIDEO track: returns ``{codec, width, height, timescale, duration_s,
    samples}`` where ``samples`` is a list of ``(offset, size,
    time_s, is_sync)`` — the per-frame BYTE RANGES and decode timestamps
    a 100 TB frame-sampling pipeline needs to plan ranged reads (the
    sample table is KBs; the mdat is the terabytes — never read what you
    didn't select).

    Boxes walked: moov → trak → mdia(mdhd timescale, hdlr 'vide') →
    minf/stbl: stsd (codec fourcc + visual width/height), stts (decode
    deltas), stsz (sizes), stsc (sample→chunk runs), stco/co64 (chunk
    offsets), stss (sync/keyframe table; absent = every sample sync).
    Raises ValueError when no video track carries a complete table
    (e.g. a header-only moov/mvhd stub — callers fall back to
    :func:`mp4_duration`). Codec payloads stay opaque bytes: container
    parsing is real, pixel decode is not claimed."""
    if not b or len(b) < 16:
        raise ValueError("not an ISO-BMFF file")

    def child(lo: int, hi: int, fourcc: bytes):
        for typ, p, e in _iter_boxes(b, lo, hi):
            if typ == fourcc:
                return p, e
        return None

    moov = child(0, len(b), b"moov")
    if moov is None:
        raise ValueError("no moov box")
    for typ, tlo, thi in _iter_boxes(b, *moov):
        if typ != b"trak":
            continue
        mdia = child(tlo, thi, b"mdia")
        if mdia is None:
            continue
        hdlr = child(*mdia, b"hdlr")
        if hdlr is None or b[hdlr[0] + 8 : hdlr[0] + 12] != b"vide":
            continue
        mdhd = child(*mdia, b"mdhd")
        if mdhd is None:
            continue
        p = mdhd[0]
        ver = b[p]
        timescale = struct.unpack(
            ">I", b[p + (20 if ver == 1 else 12) : p + (24 if ver == 1 else 16)]
        )[0]
        minf = child(*mdia, b"minf")
        stbl = child(*minf, b"stbl") if minf else None
        if not stbl or not timescale:
            continue
        boxes = {typ: (p0, e0) for typ, p0, e0 in _iter_boxes(b, *stbl)}
        need = (b"stsd", b"stts", b"stsz", b"stsc")
        if any(k not in boxes for k in need) or (
            b"stco" not in boxes and b"co64" not in boxes
        ):
            continue

        def u32s(lo: int, n: int, at: int) -> list[int]:
            return list(struct.unpack(f">{n}I", b[at : at + 4 * n]))

        # stsd: first visual sample entry carries fourcc + width/height
        sp = boxes[b"stsd"][0]
        entry = sp + 8  # past version/flags + entry_count
        codec = b[entry + 4 : entry + 8].decode("latin-1")
        width, height = struct.unpack(">HH", b[entry + 32 : entry + 36])
        # stts → per-sample decode times
        sp = boxes[b"stts"][0]
        n_ent = struct.unpack(">I", b[sp + 4 : sp + 8])[0]
        deltas: list[int] = []
        at = sp + 8
        for _ in range(n_ent):
            cnt, delta = struct.unpack(">II", b[at : at + 8])
            deltas.extend([delta] * cnt)
            at += 8
        # stsz → sizes
        sp = boxes[b"stsz"][0]
        uniform, n_samples = struct.unpack(">II", b[sp + 4 : sp + 12])
        sizes = (
            [uniform] * n_samples
            if uniform
            else u32s(sp, n_samples, sp + 12)
        )
        # stco/co64 → chunk offsets
        if b"stco" in boxes:
            sp = boxes[b"stco"][0]
            n_chunks = struct.unpack(">I", b[sp + 4 : sp + 8])[0]
            chunk_offs = u32s(sp, n_chunks, sp + 8)
        else:
            sp = boxes[b"co64"][0]
            n_chunks = struct.unpack(">I", b[sp + 4 : sp + 8])[0]
            chunk_offs = list(
                struct.unpack(f">{n_chunks}Q", b[sp + 8 : sp + 8 + 8 * n_chunks])
            )
        # stsc runs → samples per chunk
        sp = boxes[b"stsc"][0]
        n_ent = struct.unpack(">I", b[sp + 4 : sp + 8])[0]
        runs = [
            struct.unpack(">III", b[sp + 8 + 12 * i : sp + 20 + 12 * i])[:2]
            for i in range(n_ent)
        ]
        # stss → 1-based sync sample numbers (absent = all sync)
        if b"stss" in boxes:
            sp = boxes[b"stss"][0]
            n_sync = struct.unpack(">I", b[sp + 4 : sp + 8])[0]
            sync = set(u32s(sp, n_sync, sp + 8))
        else:
            sync = None
        # expand chunk runs → per-sample absolute offsets
        samples: list[tuple[int, int, float, bool]] = []
        s = 0
        t_acc = 0
        for c in range(n_chunks):
            per = next(
                (runs[j][1] for j in range(len(runs) - 1, -1, -1)
                 if runs[j][0] <= c + 1),
                runs[0][1],
            )
            off = chunk_offs[c]
            for _ in range(per):
                if s >= n_samples:
                    break
                t = t_acc / timescale
                t_acc += deltas[s] if s < len(deltas) else (deltas[-1] if deltas else 0)
                samples.append(
                    (off, sizes[s], t, sync is None or (s + 1) in sync)
                )
                off += sizes[s]
                s += 1
        if not samples:
            continue
        return {
            "codec": codec,
            "width": int(width),
            "height": int(height),
            "timescale": timescale,
            "duration_s": t_acc / timescale,
            "samples": samples,
        }
    raise ValueError("no video track with a complete sample table")


def encode_mp4_samples(
    samples: list[bytes],
    fps: int = 25,
    width: int = 0,
    height: int = 0,
    codec: bytes = b"avc1",
    sync_every: int = 1,
    codec_config: bytes = b"",
) -> bytes:
    """Minimal spec-shaped ISO-BMFF muxer: opaque coded ``samples`` into
    ftyp + mdat + moov(mvhd, trak(mdia(mdhd/hdlr-vide/minf(stbl)))) with
    a complete sample table (stsd/stts/stss/stsz/stsc/stco, one chunk).
    The container layer a pipeline writer needs; with real access units
    and a ``codec_config`` box (avcC/hvcC) in the sample entry it is a
    playable skeleton — this repo never claims codec encode.
    ``sync_every``: every k-th sample is marked sync (1 = all, omitting
    stss per spec)."""
    if not samples or fps <= 0:
        raise ValueError("need at least one sample and fps > 0")

    def box(typ: bytes, payload: bytes) -> bytes:
        return struct.pack(">I", 8 + len(payload)) + typ + payload

    ftyp = box(b"ftyp", b"isom" + b"\x00\x00\x02\x00")
    mdat_payload = b"".join(samples)
    mdat = box(b"mdat", mdat_payload)
    data_off = len(ftyp) + 8  # first sample = start of mdat payload
    n = len(samples)
    dur_media = n  # timescale = fps, delta 1 → duration n
    mvhd = box(
        b"mvhd",
        b"\x00" * 4 + b"\x00" * 8
        + struct.pack(">II", 1000, int(round(n * 1000 / fps)))
        + b"\x00" * 80,
    )
    mdhd = box(
        b"mdhd",
        b"\x00" * 4 + b"\x00" * 8 + struct.pack(">II", fps, dur_media)
        + b"\x00" * 4,
    )
    hdlr = box(b"hdlr", b"\x00" * 8 + b"vide" + b"\x00" * 12 + b"\x00")
    entry = box(
        codec,
        b"\x00" * 6 + struct.pack(">H", 1)          # data_reference_index
        + b"\x00" * 16                                # pre_defined/reserved
        + struct.pack(">HH", width, height)
        + struct.pack(">II", 0x00480000, 0x00480000)  # 72 dpi
        + b"\x00" * 4 + struct.pack(">H", 1)          # frame_count
        + b"\x00" * 32                                # compressorname
        + struct.pack(">Hh", 0x18, -1)
        + codec_config,
    )
    stsd = box(b"stsd", b"\x00" * 4 + struct.pack(">I", 1) + entry)
    stts = box(b"stts", b"\x00" * 4 + struct.pack(">III", 1, n, 1))
    stsz = box(
        b"stsz",
        b"\x00" * 4 + struct.pack(">II", 0, n)
        + b"".join(struct.pack(">I", len(s)) for s in samples),
    )
    stsc = box(b"stsc", b"\x00" * 4 + struct.pack(">IIII", 1, 1, n, 1))
    stco = box(b"stco", b"\x00" * 4 + struct.pack(">II", 1, data_off))
    stbl = stsd + stts + stsz + stsc + stco
    if sync_every > 1:
        syncs = list(range(1, n + 1, sync_every))
        stbl += box(
            b"stss",
            b"\x00" * 4 + struct.pack(">I", len(syncs))
            + b"".join(struct.pack(">I", x) for x in syncs),
        )
    stbl = box(b"stbl", stbl)
    minf = box(b"minf", stbl)
    mdia = box(b"mdia", mdhd + hdlr + minf)
    trak = box(b"trak", mdia)
    moov = box(b"moov", mvhd + trak)
    return ftyp + mdat + moov


def sniff_mime(b: bytes | None) -> str | None:
    return _sniff(b)


def _tiff_dims(b: bytes) -> tuple[int, int] | None:
    """(width, height) from a TIFF first IFD — tags 256/257, short/long,
    either byte order (a header walk, no strip reads)."""
    if len(b) < 8 or b[:2] not in (b"II", b"MM"):
        return None
    bo = "<" if b[:2] == b"II" else ">"
    try:
        magic, ifd = struct.unpack_from(bo + "HI", b, 2)
        if magic != 42:
            return None
        n = struct.unpack_from(bo + "H", b, ifd)[0]
        w = h = None
        for t in range(n):
            tag, typ, cnt = struct.unpack_from(bo + "HHI", b, ifd + 2 + t * 12)
            if tag in (256, 257) and typ in (3, 4) and cnt == 1:
                fmt = "H" if typ == 3 else "I"
                v = struct.unpack_from(bo + fmt, b, ifd + 2 + t * 12 + 8)[0]
                if tag == 256:
                    w = v
                else:
                    h = v
        return (w, h) if w and h else None
    except struct.error:
        return None


def _mp4_dims(b: bytes) -> tuple[int, int] | None:
    """(width, height) from an MP4's video sample entry when the file
    carries a full sample table; header-only stubs return None."""
    try:
        info = parse_mp4_video_samples(b)
    except ValueError:
        return None
    return (info["width"], info["height"]) if info["width"] else None


def image_dimensions(b: bytes) -> tuple[int, int] | None:
    return (
        _png_dims(b) or _jpeg_dims(b) or _bmp_dims(b) or _gif_dims(b)
        or _tiff_dims(b)
    )


def wav_sample_rate(b: bytes) -> int | None:
    return _wav_rate(b)


def attach_media_metadata(
    df: DataFrame, bytes_col: str = "content", keep_cols: list[str] | None = None
) -> DataFrame:
    """Add a typed metadata struct per media blob via ``mapInPandas``
    (Arrow-batched; binary never leaves the executor)."""
    keep = keep_cols if keep_cols is not None else [c for c in df.columns]
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in df.schema.fields
        if f.name in keep
    )
    out_schema += (
        ", meta struct<mime:string, size_bytes:bigint, width:int, "
        "height:int, sample_rate:int>"
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            metas = []
            for b in pdf[bytes_col]:
                b = bytes(b) if b is not None else None
                dims = (image_dimensions(b) or _mp4_dims(b)) if b else None
                metas.append(
                    {
                        "mime": _sniff(b),
                        "size_bytes": len(b) if b is not None else None,
                        "width": dims[0] if dims else None,
                        "height": dims[1] if dims else None,
                        "sample_rate": _wav_rate(b) if b else None,
                    }
                )
            out = pdf[[c for c in pdf.columns if c in keep]].copy()
            out["meta"] = metas
            yield out

    return df.mapInPandas(run, out_schema)


def decode_image(
    df: DataFrame, bytes_col: str = "content", id_col: str = "id"
) -> DataFrame:
    """Full pixel decode to raw row-major uint8 via Arrow-batched
    ``mapInPandas``: (id, content) → (id, width, height, channels,
    pixels binary, error string).

    REAL for BMP (24/32-bit uncompressed), PNG (8-bit, all filters),
    GIF (87a/89a first frame, full LZW), baseline sequential JPEG
    (SOF0: huffman + dequant + IDCT + YCbCr, 4:4:4/4:2:2/4:2:0, restart
    markers) and progressive JPEG (SOF2 spectral selection + successive
    approximation) via the pure-Python codecs in :mod:`imagecodec` /
    :mod:`jpegcodec` — no external codec library. The residual tail
    (arithmetic-coded/lossless/12-bit JPEG) yields a NULL-pixel row with
    ``error`` naming the mode, so a 100 TB sweep surfaces its
    undecodable tail instead of dying. ``pixels`` is raw RGB(A) bytes
    (row-major, top-down) rather than array<float>: 4× smaller on the wire,
    and zero-copy reshapeable to (h, w, c) uint8 in any downstream UDF."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, ws, hs, cs, pxs, errs = [], [], [], [], [], []
            for rid, b in zip(pdf[id_col], pdf[bytes_col]):
                ids.append(rid)
                try:
                    arr = imagecodec.decode_blob(bytes(b))
                    h, w, c = arr.shape
                    ws.append(w)
                    hs.append(h)
                    cs.append(c)
                    pxs.append(arr.tobytes())
                    errs.append(None)
                except Exception as exc:  # undecodable blob, not a job failure
                    ws.append(None)
                    hs.append(None)
                    cs.append(None)
                    pxs.append(None)
                    errs.append(str(exc))
            yield pd.DataFrame(
                {
                    id_col: ids,
                    "width": pd.array(ws, dtype="Int32"),
                    "height": pd.array(hs, dtype="Int32"),
                    "channels": pd.array(cs, dtype="Int32"),
                    "pixels": pxs,
                    "error": errs,
                }
            )

    return df.mapInPandas(
        run,
        f"{_id_field(df, id_col)}, width int, height int, channels int, "
        "pixels binary, error string",
    )


def resize_image(
    df: DataFrame,
    width: int,
    height: int,
    bytes_col: str = "content",
    id_col: str = "id",
) -> DataFrame:
    """Pixel resize with re-encode, via Arrow-batched ``mapInPandas``:
    (id, content) → (id, content binary, width, height, error string).

    REAL for BMP/PNG/GIF/baseline-JPEG: decode (:mod:`imagecodec` /
    :mod:`jpegcodec`), deterministic nearest-neighbor resample (floor
    index map, so oracles can recompute it arithmetically), re-encode in
    the SAME container format the blob arrived in. Undecodable formats
    pass through with ``error`` set and NULL content. Binary never leaves
    the executors."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, outs, errs = [], [], []
            for rid, b in zip(pdf[id_col], pdf[bytes_col]):
                ids.append(rid)
                try:
                    b = bytes(b)
                    arr = imagecodec.decode_blob(b)
                    if b[:2] == b"BM":
                        fmt = "image/bmp"
                    elif b[:4] == b"GIF8":
                        fmt = "image/gif"
                    elif b[:3] == b"\xff\xd8\xff":
                        fmt = "image/jpeg"
                    elif b[:4] in (b"II*\x00", b"MM\x00*"):
                        fmt = "image/tiff"
                    else:
                        fmt = "image/png"
                    small = imagecodec.resize_nearest(arr, width, height)
                    outs.append(imagecodec.encode_blob(small, fmt))
                    errs.append(None)
                except Exception as exc:
                    outs.append(None)
                    errs.append(str(exc))
            yield pd.DataFrame(
                {
                    id_col: ids,
                    bytes_col: outs,
                    "width": pd.array([width] * len(ids), dtype="Int32"),
                    "height": pd.array([height] * len(ids), dtype="Int32"),
                    "error": errs,
                }
            )

    return df.mapInPandas(
        run,
        f"{_id_field(df, id_col)}, {bytes_col} binary, width int, height int, "
        "error string",
    )


# IMA/DVI ADPCM tables (public spec: IMA Digital Audio Focus Group
# recommended practices; the MS WAVE 'DVI ADPCM' format, wFormatTag 0x11)
_IMA_INDEX = np.array(
    [-1, -1, -1, -1, 2, 4, 6, 8, -1, -1, -1, -1, 2, 4, 6, 8], np.int32
)
_IMA_STEP = np.array(
    [7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
     41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
     190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
     724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
     2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
     6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
     16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767], np.int32
)


def _g711_tables() -> tuple[np.ndarray, np.ndarray]:
    """256-entry µ-law / A-law expansion tables from the ITU-T G.711
    piecewise-linear formulas (the classic Sun g711.c integer forms:
    µ-law spans ±32124, A-law ±32256)."""
    mu = np.empty(256, np.int16)
    for b in range(256):
        u = ~b & 0xFF
        t = ((u & 0x0F) << 3) + 0x84
        t <<= (u & 0x70) >> 4
        mu[b] = (0x84 - t) if (u & 0x80) else (t - 0x84)
    al = np.empty(256, np.int16)
    for b in range(256):
        a = b ^ 0x55
        t = (a & 0x0F) << 4
        seg = (a & 0x70) >> 4
        if seg == 0:
            t += 8
        elif seg == 1:
            t += 0x108
        else:
            t = (t + 0x108) << (seg - 1)
        al[b] = t if (a & 0x80) else -t
    return mu, al


_MULAW_TABLE, _ALAW_TABLE = _g711_tables()


def _ima_step_nibbles(n, pred, idx):
    """One IMA ADPCM step, vectorized: nibble array ``n`` advances state
    arrays (pred, idx) in place-free form; returns (new_pred, new_idx).
    diff = (step>>3) + conditional step>>2 / step>>1 / step terms, negated
    on the sign bit — the exact integer recurrence from the IMA spec."""
    step = _IMA_STEP[idx]
    diff = step >> 3
    diff = diff + np.where(n & 1, step >> 2, 0)
    diff = diff + np.where(n & 2, step >> 1, 0)
    diff = diff + np.where(n & 4, step, 0)
    pred = pred + np.where(n & 8, -diff, diff)
    pred = np.clip(pred, -32768, 32767)
    idx = np.clip(idx + _IMA_INDEX[n], 0, 88)
    return pred, idx


def _ima_adpcm_decode(
    data: bytes, channels: int, block_align: int, samples_per_block: int
) -> np.ndarray:
    """IMA ADPCM 'data' payload → interleaved int16 samples, vectorized
    ACROSS blocks (blocks are independent by construction: each starts
    with a full predictor/step-index header, so the only sequential loop
    is the ~samples_per_block nibble recurrence, shared by every block).
    Block layout (MS 'DVI ADPCM'): per channel a 4-byte header
    (predictor i16, step index u8, reserved), then 4-byte sub-blocks
    (8 nibbles, low nibble first) interleaved per channel."""
    n_blocks = len(data) // block_align
    if n_blocks == 0 or channels not in (1, 2):
        raise ValueError("ADPCM payload smaller than one block")
    raw = np.frombuffer(data[: n_blocks * block_align], np.uint8).reshape(
        n_blocks, block_align
    )
    hdr = raw[:, : 4 * channels].reshape(n_blocks, channels, 4)
    pred = (
        hdr[:, :, 0].astype(np.int32)
        | (hdr[:, :, 1].astype(np.int32) << 8)
    ).astype(np.int16).astype(np.int32)  # (blocks, ch) signed predictor
    idx = np.clip(hdr[:, :, 2].astype(np.int32), 0, 88)
    # data area: interleaved 4-byte groups per channel
    body = raw[:, 4 * channels :]
    groups = body.reshape(n_blocks, -1, channels, 4)  # (blocks, g, ch, 4)
    lo = groups & 0x0F
    hi = groups >> 4
    # nibble stream per (block, ch): low/high alternate within each byte
    nib = np.empty(
        (n_blocks, groups.shape[1], channels, 8), np.uint8
    )
    nib[..., 0::2] = lo
    nib[..., 1::2] = hi
    nib = nib.transpose(0, 2, 1, 3).reshape(n_blocks, channels, -1)
    n_data = min(samples_per_block - 1, nib.shape[2])
    out = np.empty((n_blocks, channels, n_data + 1), np.int16)
    out[:, :, 0] = pred.astype(np.int16)  # header predictor IS sample 0
    for s in range(n_data):
        pred, idx = _ima_step_nibbles(nib[:, :, s].astype(np.int64), pred, idx)
        out[:, :, s + 1] = pred.astype(np.int16)
    # (blocks, ch, samples) → interleaved 1-D
    return out.transpose(0, 2, 1).reshape(-1)


def encode_wav_ima_adpcm(
    samples, rate: int, channels: int = 1, samples_per_block: int = 505
) -> bytes:
    """Encode interleaved int16 samples as an IMA ADPCM RIFF/WAVE blob
    (wFormatTag 0x11) — ~4:1 compression, deterministic. The encoder
    runs the decoder's exact state recurrence so decode is drift-free;
    input length pads with its last sample to whole blocks."""
    x = np.asarray(samples, np.int32).reshape(-1, channels)
    spb = samples_per_block
    n_blocks = max(1, -(-x.shape[0] // spb))
    if x.shape[0] < n_blocks * spb:
        pad = np.repeat(x[-1:] if len(x) else np.zeros((1, channels), np.int32),
                        n_blocks * spb - x.shape[0], axis=0)
        x = np.vstack([x, pad])
    block_align = 4 * channels + (spb - 1) * channels // 2
    blocks = []
    idx = np.zeros(channels, np.int32)
    for bi in range(n_blocks):
        blk = x[bi * spb : (bi + 1) * spb]  # (spb, ch)
        pred = blk[0].copy()
        hdr = b"".join(
            struct.pack("<hBB", int(pred[c]), int(idx[c]), 0)
            for c in range(channels)
        )
        nibs = np.empty((spb - 1, channels), np.uint8)
        for s in range(1, spb):
            step = _IMA_STEP[idx]
            d = blk[s] - pred
            code = np.where(d < 0, 8, 0).astype(np.int64)
            d = np.abs(d)
            code |= np.where(d >= step, 4, 0)
            d = d - np.where(d >= step, step, 0)
            code |= np.where(d >= step >> 1, 2, 0)
            d = d - np.where(d >= step >> 1, step >> 1, 0)
            code |= np.where(d >= step >> 2, 1, 0)
            pred, idx = _ima_step_nibbles(code, pred, idx)
            nibs[s - 1] = code
        per_ch = nibs.T.reshape(channels, -1, 8)  # (ch, groups, 8)
        packed = (per_ch[..., 0::2] | (per_ch[..., 1::2] << 4)).astype(np.uint8)
        body = packed.transpose(1, 0, 2).tobytes()  # interleave ch groups
        blocks.append(hdr + body)
    data = b"".join(blocks)
    byte_rate = rate * block_align // spb
    fmt = struct.pack(
        "<HHIIHHHH", 0x11, channels, rate, byte_rate, block_align, 4, 2, spb
    )
    body = b"WAVEfmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_wav(b: bytes):
    """Decode a RIFF/WAVE blob → (sample_rate, channels, samples) with
    ``samples`` an interleaved int16 numpy array. Pure struct walk of the
    public RIFF layout (chunks may appear in any order; 8-bit PCM is
    widened to int16 via the standard (x-128)<<8 mapping). REAL for PCM
    (tag 1, 8/16-bit), IMA/DVI ADPCM (tag 0x11 — telephony/games
    compression, decoded by :func:`_ima_adpcm_decode`), and ITU-T G.711
    A-law/µ-law (tags 6/7 — one 256-entry table lookup per byte). Raises
    ValueError on other encodings — those need a codec library."""
    if len(b) < 12 or not b.startswith(b"RIFF") or b[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE file")
    i = 12
    rate = channels = bits = fmt_tag = None
    block_align = samples_per_block = None
    data = None
    while i + 8 <= len(b):
        cid = b[i : i + 4]
        size = struct.unpack("<I", b[i + 4 : i + 8])[0]
        payload = b[i + 8 : i + 8 + size]
        if cid == b"fmt ":
            if len(payload) < 16:
                raise ValueError("truncated fmt chunk")
            fmt_tag, channels, rate = struct.unpack("<HHI", payload[:8])
            block_align = struct.unpack("<H", payload[12:14])[0]
            bits = struct.unpack("<H", payload[14:16])[0]
            if fmt_tag == 0x11:
                if len(payload) >= 20:
                    samples_per_block = struct.unpack("<H", payload[18:20])[0]
                else:
                    # derive from block layout when the extension is absent
                    samples_per_block = (
                        (block_align - 4 * channels) * 2 // channels + 1
                    )
            elif fmt_tag not in (1, 6, 7):
                raise ValueError(
                    f"unsupported WAV encoding {fmt_tag} "
                    "(PCM/IMA-ADPCM/G.711 only)"
                )
            elif fmt_tag == 1 and bits not in (8, 16):
                raise ValueError(f"unsupported PCM bit depth {bits}")
        elif cid == b"data":
            data = payload
        i += 8 + size + (size & 1)  # chunks are word-aligned
    if rate is None or data is None:
        raise ValueError("WAV missing fmt/data chunk")
    if fmt_tag == 0x11:
        return rate, channels, _ima_adpcm_decode(
            data, channels, block_align, samples_per_block
        )
    if fmt_tag in (6, 7):  # G.711 A-law / µ-law: one table lookup per byte
        table = _ALAW_TABLE if fmt_tag == 6 else _MULAW_TABLE
        return rate, channels, table[np.frombuffer(data, np.uint8)]
    if bits == 16:
        samples = np.frombuffer(data[: len(data) & ~1], np.dtype("<i2"))
    else:
        samples = (np.frombuffer(data, np.uint8).astype(np.int16) - 128) << 8
    return rate, channels, samples


def encode_wav(samples, rate: int, channels: int = 1) -> bytes:
    """Encode interleaved int16 samples as a 16-bit PCM RIFF/WAVE blob —
    deterministic byte-for-byte (fixed chunk order, no padding)."""
    samples = np.asarray(samples, np.dtype("<i2"))
    data = samples.tobytes()
    fmt = struct.pack("<HHIIHH", 1, channels, rate, rate * channels * 2, channels * 2, 16)
    body = b"WAVEfmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_audio(
    df: DataFrame, bytes_col: str = "content", id_col: str = "id"
) -> DataFrame:
    """Full sample decode of PCM WAV blobs via Arrow-batched ``mapInPandas``:
    (id, content) → (id, sample_rate, channels, n_samples, samples binary,
    error). ``samples`` is raw little-endian int16 (interleaved) —
    zero-copy reshapeable downstream, 2 bytes/sample on the wire. REAL for
    PCM (8/16-bit), IMA/DVI ADPCM (tag 0x11, block-vectorized integer
    recurrence pinned against an independent scalar spec transcription in
    pytest) and G.711 A-law/µ-law (tags 6/7, spec-anchor-pinned tables);
    other encodings yield a NULL row with ``error`` set, mirroring
    :func:`decode_image`'s undecodable-tail contract."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, rates, chs, ns, smps, errs = [], [], [], [], [], []
            for rid, b in zip(pdf[id_col], pdf[bytes_col]):
                ids.append(rid)
                try:
                    rate, channels, samples = decode_wav(bytes(b))
                    rates.append(rate)
                    chs.append(channels)
                    ns.append(len(samples) // max(channels, 1))
                    smps.append(samples.tobytes())
                    errs.append(None)
                except Exception as exc:
                    rates.append(None)
                    chs.append(None)
                    ns.append(None)
                    smps.append(None)
                    errs.append(str(exc))
            yield pd.DataFrame(
                {
                    id_col: ids,
                    "sample_rate": pd.array(rates, dtype="Int32"),
                    "channels": pd.array(chs, dtype="Int32"),
                    "n_samples": pd.array(ns, dtype="Int64"),
                    "samples": smps,
                    "error": errs,
                }
            )

    return df.mapInPandas(
        run,
        f"{_id_field(df, id_col)}, sample_rate int, channels int, "
        "n_samples long, samples binary, error string",
    )


def parse_avi_mjpeg(b: bytes) -> tuple[int, list[bytes]]:
    """Parse a RIFF/AVI container → (microseconds_per_frame, frames) where
    each frame is the raw bytes of one video chunk (MJPEG: a complete JPEG
    per chunk). Pure struct walk of the public AVI RIFF layout (MSDN
    AVIMAINHEADER / OpenDML): ``LIST hdrl`` carries ``avih`` whose first
    u32 is dwMicroSecPerFrame; ``LIST movi`` carries the stream-0 video
    chunks ``00dc``/``00db`` (optionally nested in ``rec `` lists). The
    ``idx1`` index is ignored — frames are recovered by the chunk walk
    itself, so a missing/stale index can't corrupt sampling. Raises
    ValueError on non-AVI bytes or an AVI with no video chunks."""
    if len(b) < 12 or b[:4] != b"RIFF" or b[8:12] != b"AVI ":
        raise ValueError("not a RIFF/AVI file")
    us_per_frame = 0
    frames: list[bytes] = []

    def walk(lo: int, hi: int) -> None:
        nonlocal us_per_frame
        i = lo
        while i + 8 <= hi:
            cid = b[i : i + 4]
            size = struct.unpack("<I", b[i + 4 : i + 8])[0]
            end = i + 8 + size
            if end > hi:
                break  # truncated chunk: stop rather than read garbage
            if cid == b"LIST":
                # list payload = [listtype 4cc][subchunks]
                walk(i + 12, end)
            elif cid == b"avih" and size >= 4:
                us_per_frame = struct.unpack("<I", b[i + 8 : i + 12])[0]
            elif cid in (b"00dc", b"00db"):
                frames.append(b[i + 8 : end])
            i = end + (size & 1)  # chunks are word-aligned

    walk(12, len(b))
    if not frames:
        raise ValueError("AVI has no stream-0 video chunks")
    return us_per_frame, frames


def encode_avi_mjpeg(
    frames: list[bytes],
    us_per_frame: int = 40000,
    width: int = 0,
    height: int = 0,
) -> bytes:
    """Encode JPEG frame blobs as a minimal spec-shaped MJPEG AVI —
    deterministic byte-for-byte (fixed chunk order, zero'd optional
    fields). Emits RIFF('AVI ', LIST hdrl(avih, LIST strl(strh 'vids'/
    'MJPG', strf BITMAPINFOHEADER)), LIST movi('00dc' per frame), idx1) —
    enough structure that standard players and :func:`parse_avi_mjpeg`
    agree on the frame list and timing."""

    def chunk(cid: bytes, payload: bytes) -> bytes:
        return cid + struct.pack("<I", len(payload)) + payload + b"\x00" * (
            len(payload) & 1
        )

    def lst(ltype: bytes, payload: bytes) -> bytes:
        return chunk(b"LIST", ltype + payload)

    n = len(frames)
    rate = round(1e6 / us_per_frame) if us_per_frame else 0
    avih = struct.pack(
        "<14I", us_per_frame, 0, 0, 0x10, n, 0, 1, 0, width, height, 0, 0, 0, 0
    )
    strh = (
        b"vidsMJPG"
        + struct.pack("<IHHIIIIIIII", 0, 0, 0, 0, 1, rate, 0, n, 0, 0, 0)
        + struct.pack("<4h", 0, 0, width, height)
    )
    strf = struct.pack(
        "<IiiHH4sIiiII", 40, width, height, 1, 24, b"MJPG",
        width * height * 3, 0, 0, 0, 0,
    )
    hdrl = lst(b"hdrl", chunk(b"avih", avih) + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)))
    movi_chunks = [chunk(b"00dc", f) for f in frames]
    movi = lst(b"movi", b"".join(movi_chunks))
    idx, off = [], 4  # offsets are relative to the 'movi' 4cc
    for f, c in zip(frames, movi_chunks):
        idx.append(b"00dc" + struct.pack("<III", 0x10, off, len(f)))
        off += len(c)
    body = b"AVI " + hdrl + movi + chunk(b"idx1", b"".join(idx))
    return b"RIFF" + struct.pack("<I", len(body)) + body


def sample_frames(
    df: DataFrame,
    n_frames: int = 4,
    bytes_col: str = "content",
    id_col: str = "id",
    keyframes_only: bool = False,
) -> DataFrame:
    """Uniform video frame sampling: one input row fans out to ``n_frames``
    rows (id, frame_index, timestamp_s, width, height, channels,
    frame binary, is_real boolean).

    REAL pixels for MJPEG-in-AVI, MJPEG-in-MP4 (QuickTime 'jpeg' sample
    entries — every sample a complete JFIF frame, decoded through the
    same pure-numpy T.81 codec; interlaced 'mjpa'/'mjpb' field pairs
    are excluded and stay on the coded-bytes path) and for ANIMATED
    GIF — the GIF path
    composites every frame per the GIF89a spec (GCE delays, transparency,
    disposal 0/1/2/3; :func:`imagecodec.decode_gif_frames`), timestamps
    are cumulative delays (all-zero delays fall back to the de-facto
    10 cs/frame), and the sampled slot carries the composited canvas.

    For MJPEG-in-AVI: :func:`parse_avi_mjpeg` walks the RIFF
    chunks, timing comes from ``avih.dwMicroSecPerFrame`` × chunk count,
    the source chunk for output slot ``i`` is the one under the bucket
    midpoint (``floor(total * (i + 0.5) / n)``), and its JPEG decodes
    through the pure-numpy T.81 codec (:mod:`jpegcodec`) to raw row-major
    uint8 in ``frame`` with real width/height/channels and
    ``is_real=true``. The fan-out is an Arrow-batched ``mapInPandas``
    (one-to-many, binary never leaves the executor — the shape a 100 TB
    video pipeline needs).

    Non-MJPEG codecs (ISO-BMFF/H.264 etc.): the CONTAINER layer is real —
    when the MP4 carries a full sample table,
    :func:`parse_mp4_video_samples` yields per-frame byte ranges, decode
    timestamps and keyframe flags, selection is sync-aware (nearest
    keyframe at-or-before the bucket midpoint, where a real decoder would
    start), ``frame`` carries the actual CODED sample bytes and
    width/height come from the stsd entry; only pixel decode stays
    unclaimed (``is_real=false``). A header-only moov/mvhd stub keeps the
    prior honest fallback: real duration via :func:`mp4_duration`,
    bucket-midpoint timestamps, md5-fake frame, dims NULL. An AVI chunk
    whose JPEG fails to decode (e.g. arithmetic-coded) degrades to the
    same flagged fake. Blobs that are neither (no parsable container)
    yield zero rows.

    ``keyframes_only=True`` is the MP4 fast path: the ``n_frames``
    buckets are spread over the SYNC-sample list itself instead of the
    timeline — with sparse keyframes the default's
    snap-back-to-keyframe lands several timeline buckets on the SAME
    keyframe, while this mode returns ``n_frames`` DISTINCT keyframes
    (or all of them when fewer exist) and never touches an inter-frame
    byte range, which is exactly what a decode stage that seeks
    keyframes wants. MJPEG-AVI and GIF frames are all independently
    decodable (every frame is sync), so the knob is a documented no-op
    there."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, tss = [], [], []
            ws, hs, cs, frames, reals = [], [], [], [], []
            for vid, b in zip(pdf[id_col], pdf[bytes_col]):
                b = bytes(b) if b is not None else None
                if b is None:
                    continue
                try:
                    upf, chunks = parse_avi_mjpeg(b)
                except ValueError:
                    upf, chunks = 0, None
                if chunks is not None:
                    if upf <= 0:
                        # real AVIs may write dwMicroSecPerFrame=0 and keep
                        # timing in strh only; frames are still extractable
                        # — assume the de-facto 25 fps rather than silently
                        # dropping the video from the sweep
                        upf = 40000
                    dur = len(chunks) * upf / 1e6
                    for i in range(n_frames):
                        src = min(
                            int(len(chunks) * (i + 0.5) / n_frames),
                            len(chunks) - 1,
                        )
                        ids.append(vid)
                        idxs.append(i)
                        tss.append(dur * (i + 0.5) / n_frames)
                        try:
                            arr = imagecodec.decode_blob(chunks[src])
                            h, w, c = arr.shape
                            ws.append(w)
                            hs.append(h)
                            cs.append(c)
                            frames.append(arr.tobytes())
                            reals.append(True)
                        except Exception:
                            ws.append(None)
                            hs.append(None)
                            cs.append(None)
                            frames.append(
                                hashlib.md5(b + i.to_bytes(4, "big")).digest()
                            )
                            reals.append(False)
                    continue
                # animated GIF: the third REAL-pixel family (multi-frame
                # LZW decode with GCE delay/transparency/disposal
                # compositing — imagecodec.decode_gif_frames). Frame
                # timing from cumulative delays; all-zero delays fall
                # back to the de-facto 10 cs/frame players use.
                if b[:4] == b"GIF8":
                    try:
                        delays, gframes = imagecodec.decode_gif_frames(b)
                    except Exception:
                        delays, gframes = None, None
                    if gframes:
                        eff = [d if d > 0 else 10 for d in delays]
                        starts = [0.0]
                        for d in eff[:-1]:
                            starts.append(starts[-1] + d / 100.0)
                        dur = starts[-1] + eff[-1] / 100.0
                        for i in range(n_frames):
                            target = dur * (i + 0.5) / n_frames
                            src = max(
                                (j for j in range(len(gframes))
                                 if starts[j] <= target),
                                default=0,
                            )
                            arr = gframes[src]
                            ids.append(vid)
                            idxs.append(i)
                            tss.append(starts[src])
                            hs.append(arr.shape[0])
                            ws.append(arr.shape[1])
                            cs.append(arr.shape[2])
                            frames.append(arr.tobytes())
                            reals.append(True)
                        continue
                # ISO-BMFF with a full sample table: real per-frame byte
                # ranges, decode timestamps and keyframe flags — emit the
                # CODED sample bytes (sync-aware: nearest keyframe at or
                # before the bucket midpoint, where a real decoder would
                # start). Pixels stay undecoded → is_real=false, but
                # offsets/times/dims come from the actual container.
                try:
                    mp4 = parse_mp4_video_samples(b)
                except ValueError:
                    mp4 = None
                if mp4 is not None:
                    smp = mp4["samples"]
                    dur = mp4["duration_s"] or (len(smp) / 25.0)
                    syncs = [j for j in range(len(smp)) if smp[j][3]] or [0]
                    # Motion-JPEG in ISO-BMFF (QuickTime 'jpeg' sample
                    # entry): every sample is a complete JFIF image, so
                    # this container×codec combination is within the
                    # pure-numpy T.81 codec's reach — REAL pixels, the
                    # MP4 analog of the MJPEG-AVI path (round 12).
                    # Deliberately NOT 'mjpa'/'mjpb': Motion-JPEG A/B
                    # stores two interlaced FIELD images per sample, so
                    # a plain JFIF decode would emit a half-height field
                    # marked is_real=true — those stay on the honest
                    # coded-bytes path, as do H.264/HEVC samples.
                    mjpeg = mp4["codec"] in ("jpeg", "MJPG")
                    for i in range(n_frames):
                        if keyframes_only:
                            chosen = syncs[
                                min(
                                    int(len(syncs) * (i + 0.5) / n_frames),
                                    len(syncs) - 1,
                                )
                            ]
                        else:
                            target = dur * (i + 0.5) / n_frames
                            ti = max(
                                (j for j in range(len(smp))
                                 if smp[j][2] <= target),
                                default=0,
                            )
                            chosen = next(
                                (j for j in range(ti, -1, -1) if smp[j][3]), 0
                            )
                        off, size, t, _ = smp[chosen]
                        ids.append(vid)
                        idxs.append(i)
                        tss.append(t)
                        sample = b[off : off + size]
                        decoded = None
                        if mjpeg:
                            try:
                                decoded = imagecodec.decode_blob(sample)
                            except Exception:
                                decoded = None  # e.g. arithmetic-coded
                        if decoded is not None:
                            hh, ww, cc = decoded.shape
                            ws.append(ww)
                            hs.append(hh)
                            cs.append(cc)
                            frames.append(decoded.tobytes())
                            reals.append(True)
                        else:
                            ws.append(mp4["width"] or None)
                            hs.append(mp4["height"] or None)
                            cs.append(None)
                            frames.append(sample)
                            reals.append(False)
                    continue
                dur = mp4_duration(b)
                if dur is None:
                    continue
                for i in range(n_frames):
                    ids.append(vid)
                    idxs.append(i)
                    tss.append(dur * (i + 0.5) / n_frames)
                    ws.append(None)
                    hs.append(None)
                    cs.append(None)
                    frames.append(hashlib.md5(b + i.to_bytes(4, "big")).digest())
                    reals.append(False)
            yield pd.DataFrame(
                {
                    id_col: ids,
                    "frame_index": idxs,
                    "timestamp_s": tss,
                    "width": pd.array(ws, dtype="Int32"),
                    "height": pd.array(hs, dtype="Int32"),
                    "channels": pd.array(cs, dtype="Int32"),
                    "frame": frames,
                    "is_real": pd.array(reals, dtype="boolean"),
                }
            )

    return df.mapInPandas(
        run,
        f"{_id_field(df, id_col)}, frame_index int, timestamp_s double, "
        "width int, height int, channels int, frame binary, is_real boolean",
    )


def image_features(
    df: DataFrame, bytes_col: str = "content", id_col: str = "id", dims: int = 16
) -> DataFrame:
    """Feature vector per image: REAL grid mean-pool over decoded pixels for
    every decodable format (BMP/PNG/GIF/baseline-JPEG), md5-chain FAKE
    fallback for the undecodable tail — flagged per row via ``is_real`` so
    downstream similarity can filter or weight.

    Real path: the image is partitioned into a g×g floor-boundary grid
    (g = isqrt(dims); ``dims`` must be a perfect square), cell value =
    mean over the cell's pixels and first ≤3 channels, scaled to [-1, 1]
    as ``sum/(count*127.5) - 1`` in float64 then cast float32. Fully
    deterministic integer sums underneath, so the oracle's features stage
    (q75 image pipeline) replays cells arithmetically in SQL. Grid
    boundaries clamp to ≥1 pixel per cell, so any w,h ≥ 1 works.

    Fake path (undecodable bytes): md5 chain of the blob, values in
    [-1, 1] — keeps the array<float> similarity plumbing exercisable on
    any corpus. NULL bytes → NULL features, NULL is_real."""
    g = int(dims**0.5)
    if g * g != dims:
        raise ValueError(f"dims must be a perfect square, got {dims}")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats, reals = [], []
            for b in pdf[bytes_col]:
                if b is None:
                    feats.append(None)
                    reals.append(None)
                    continue
                b = bytes(b)
                try:
                    arr = imagecodec.decode_blob(b).astype(np.int64)
                    h, w, c = arr.shape
                    plane = arr[:, :, : min(c, 3)]
                    vals = []
                    for i in range(g):
                        lo_y = (i * h) // g
                        hi_y = max(((i + 1) * h) // g, lo_y + 1)
                        for j in range(g):
                            lo_x = (j * w) // g
                            hi_x = max(((j + 1) * w) // g, lo_x + 1)
                            block = plane[lo_y:hi_y, lo_x:hi_x]
                            vals.append(
                                np.float32(
                                    int(block.sum()) / (block.size * 127.5) - 1.0
                                )
                            )
                    feats.append(vals)
                    reals.append(True)
                except Exception:
                    hsh = hashlib.md5(b).digest()
                    vals = []
                    while len(vals) < dims:
                        hsh = hashlib.md5(hsh).digest()
                        vals.extend((x - 128) / 128.0 for x in hsh)
                    feats.append(vals[:dims])
                    reals.append(False)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "features": feats,
                    "is_real": pd.array(reals, dtype="boolean"),
                }
            )

    return df.mapInPandas(
        run, f"{_id_field(df, id_col)}, features array<float>, is_real boolean"
    )


def _check_hash_grid(rows: int, cols: int) -> None:
    if rows * cols > 62 or rows * (cols - 1) > 62:
        raise ValueError(
            f"rows*cols must be <= 62 to fit a sign-safe BIGINT, got {rows}x{cols}"
        )
    if rows < 1 or cols < 2:
        raise ValueError(f"need rows >= 1 and cols >= 2, got {rows}x{cols}")


def _perceptual_hashes(arr: np.ndarray, rows: int, cols: int) -> tuple[int, int]:
    """The shared dHash/aHash decision core over an (h, w, c) uint8 array —
    :func:`image_dhash` (encoded blobs) and :func:`video_dhash` (raw
    sampled frames) must fingerprint identical pixels identically, so the
    math lives once. Integer luma, clamped floor-boundary grid, and
    cross-multiplied mean compares in arbitrary-precision Python ints
    (cell sum × count products overflow int64 at ~100 megapixels)."""
    arr = arr.astype(np.int64)
    h, w, c = arr.shape
    if c >= 3:
        luma = 299 * arr[:, :, 0] + 587 * arr[:, :, 1] + 114 * arr[:, :, 2]
    else:
        luma = 1000 * arr[:, :, 0]
    sums = [[0] * cols for _ in range(rows)]
    cnts = [[0] * cols for _ in range(rows)]
    for i in range(rows):
        lo_y = (i * h) // rows
        hi_y = max(((i + 1) * h) // rows, lo_y + 1)
        for j in range(cols):
            lo_x = (j * w) // cols
            hi_x = max(((j + 1) * w) // cols, lo_x + 1)
            block = luma[lo_y:hi_y, lo_x:hi_x]
            sums[i][j] = int(block.sum())
            cnts[i][j] = int(block.size)
    dh = 0
    for i in range(rows):
        for j in range(cols - 1):
            if sums[i][j] * cnts[i][j + 1] > sums[i][j + 1] * cnts[i][j]:
                dh |= 1 << (i * (cols - 1) + j)
    tot_s, tot_c = int(luma.sum()), h * w
    ah = 0
    for i in range(rows):
        for j in range(cols):
            if sums[i][j] * tot_c > tot_s * cnts[i][j]:
                ah |= 1 << (i * cols + j)
    return dh, ah


def image_dhash(
    df: DataFrame,
    bytes_col: str = "content",
    id_col: str = "id",
    rows: int = 7,
    cols: int = 8,
) -> DataFrame:
    """Perceptual image fingerprints for NEAR-DUP detection across formats
    and encoders: (id, dhash, ahash, error) per blob. Re-encoding the same
    picture (BMP↔PNG↔GIF, or lossless-path JPEG) leaves both hashes
    identical; small edits flip few bits — pair them up with
    :func:`~exon_duckdb_spark.operators.dedup.hamming_pairs`. No reference
    analog (the reference has no media surface); semantics follow the
    classic dHash/aHash family (Krawetz) with EXACT integer decisions so
    the SQL oracle can replay every bit.

    Decisions are integer-only so the fingerprint is bit-identical across
    engines and hosts: luma(y, x) = 299·R + 587·G + 114·B (×1000-scaled
    gray for 1/2-channel images), the image is cut into a ``rows`` ×
    ``cols`` floor-boundary grid (cells clamp to ≥1 pixel, so any w,h ≥ 1
    works — same convention as :func:`image_features`), and every
    "mean(A) > mean(B)" decision is the cross-multiplied integer compare
    sum_A·cnt_B > sum_B·cnt_A evaluated in arbitrary-precision Python ints
    (a 100-megapixel cell sum × count product overflows int64; the plants
    in the driver gate stay int64-small so the oracle replays them in
    BIGINT).

    - dhash bit (i, j) at position i·(cols−1)+j: cell(i, j) > cell(i, j+1)
      — row-wise brightness gradient, ``rows·(cols−1)`` bits.
    - ahash bit (i, j) at position i·cols+j: cell(i, j) > whole-image mean
      — ``rows·cols`` bits.

    Both bit counts must stay ≤ 62: the sign bit of the BIGINT is never
    set, so ordering, xor and popcount agree across engines. Map-only:
    decode → grid → bits fuse into one stage, pixels never leave the
    executor.
    """
    _check_hash_grid(rows, cols)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            dhs, ahs, errs = [], [], []
            for b in pdf[bytes_col]:
                if b is None:
                    dhs.append(None)
                    ahs.append(None)
                    errs.append(None)
                    continue
                try:
                    arr = imagecodec.decode_blob(bytes(b))
                    dh, ah = _perceptual_hashes(arr, rows, cols)
                    dhs.append(dh)
                    ahs.append(ah)
                    errs.append(None)
                except Exception as exc:  # undecodable blob, not a job failure
                    dhs.append(None)
                    ahs.append(None)
                    errs.append(str(exc))
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "dhash": pd.array(dhs, dtype="Int64"),
                    "ahash": pd.array(ahs, dtype="Int64"),
                    "error": errs,
                }
            )

    return df.mapInPandas(
        run, f"{_id_field(df, id_col)}, dhash long, ahash long, error string"
    )


def audio_fingerprint(
    df: DataFrame,
    bytes_col: str = "content",
    id_col: str = "id",
    frame: int = 8,
    max_bits: int = 48,
) -> DataFrame:
    """Energy-delta audio fingerprints for NEAR-DUP detection across
    containers and sample rates: (id, fingerprint, n_bits, n_frames,
    error) per WAV blob, pairable with
    :func:`~exon_duckdb_spark.operators.dedup.hamming_pairs`.

    The decoded int16 stream (interleaved as stored; PCM / IMA-ADPCM /
    G.711 all normalize to int16 via :func:`decode_wav`) is cut into
    consecutive ``frame``-sample windows (the final partial window
    counts), each scored by its integer energy Σ|x|, and bit k of the
    fingerprint is set iff energy(k+1) > energy(k) — the sign of the
    loudness gradient, the 1-D analog of dHash. Integer-only end to end,
    so the same audio re-wrapped at a different declared sample rate or
    re-encoded losslessly fingerprints IDENTICALLY, and the SQL oracle
    replays every bit. ``n_bits`` = min(max_bits, n_frames − 1) — compare
    fingerprints only within equal n_bits (shorter clips have fewer
    decisions; ``hamming_pairs`` on mixed lengths would under-count).

    Map-only: decode → frame energies → bits fuse into one stage, samples
    never leave the executor. ``max_bits`` ≤ 62 keeps the BIGINT sign bit
    clear.
    """
    if not 1 <= max_bits <= 62:
        raise ValueError(f"max_bits must be in [1, 62], got {max_bits}")
    if frame < 1:
        raise ValueError(f"frame must be >= 1, got {frame}")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            fps, nbs, nfs, errs = [], [], [], []
            for b in pdf[bytes_col]:
                if b is None:
                    fps.append(None)
                    nbs.append(None)
                    nfs.append(None)
                    errs.append(None)
                    continue
                try:
                    _rate, _ch, samples = decode_wav(bytes(b))
                    v = np.abs(samples.astype(np.int64))
                    nframes = -(-v.size // frame) if v.size else 0
                    pad = nframes * frame - v.size
                    if pad:
                        v = np.concatenate([v, np.zeros(pad, np.int64)])
                    energy = v.reshape(nframes, frame).sum(axis=1)
                    nbits = max(min(max_bits, nframes - 1), 0)
                    fp = 0
                    for k in range(nbits):
                        if int(energy[k + 1]) > int(energy[k]):
                            fp |= 1 << k
                    fps.append(fp)
                    nbs.append(nbits)
                    nfs.append(nframes)
                    errs.append(None)
                except Exception as exc:
                    fps.append(None)
                    nbs.append(None)
                    nfs.append(None)
                    errs.append(str(exc))
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "fingerprint": pd.array(fps, dtype="Int64"),
                    "n_bits": pd.array(nbs, dtype="Int32"),
                    "n_frames": pd.array(nfs, dtype="Int64"),
                    "error": errs,
                }
            )

    return df.mapInPandas(
        run,
        f"{_id_field(df, id_col)}, fingerprint long, n_bits int, "
        "n_frames long, error string",
    )


def video_dhash(
    df: DataFrame,
    bytes_col: str = "content",
    id_col: str = "id",
    n_frames: int = 4,
    rows: int = 7,
    cols: int = 8,
    keyframes_only: bool = False,
) -> DataFrame:
    """Per-frame perceptual fingerprints for VIDEO near-dup detection:
    (id, frame_index, dhash, ahash, is_real) — :func:`sample_frames`'s
    uniform slots hashed with the SAME dHash/aHash decision core as
    :func:`image_dhash`, so a video and its re-encoded/re-muxed copy
    (different container timing, lossless frame path) fingerprint
    identically slot for slot. Feed the result to
    :func:`~exon_duckdb_spark.operators.dedup.video_near_dup_pairs`.

    Slots whose pixels are REAL (MJPEG-AVI, MJPEG-MP4, animated GIF)
    hash the decoded frame; slots where only the container layer is real
    (coded H.264 samples, header-only stubs) yield NULL hashes with
    ``is_real=false`` — hashing coded bytes would pair by encoder
    artifact, not by picture. Map-only end to end: demux → decode →
    hash fuse into one stage, pixels never leave the executor; the
    output is ~16 bytes × n_frames per video."""
    _check_hash_grid(rows, cols)
    frames = sample_frames(
        df,
        n_frames=n_frames,
        bytes_col=bytes_col,
        id_col=id_col,
        keyframes_only=keyframes_only,
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            dhs, ahs = [], []
            for buf, w, h, c, real in zip(
                pdf["frame"], pdf["width"], pdf["height"],
                pdf["channels"], pdf["is_real"],
            ):
                if not real or buf is None or w is None or h is None or c is None:
                    dhs.append(None)
                    ahs.append(None)
                    continue
                try:
                    arr = np.frombuffer(bytes(buf), np.uint8).reshape(
                        int(h), int(w), int(c)
                    )
                    dh, ah = _perceptual_hashes(arr, rows, cols)
                except Exception:
                    # a frame whose buffer disagrees with its declared
                    # h*w*c (corrupt demux) must not fail the stage —
                    # emit NULL hashes like image_dhash/audio_fingerprint
                    # do for undecodable assets
                    dh, ah = None, None
                dhs.append(dh)
                ahs.append(ah)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "frame_index": pdf["frame_index"],
                    "dhash": pd.array(dhs, dtype="Int64"),
                    "ahash": pd.array(ahs, dtype="Int64"),
                    "is_real": pdf["is_real"],
                }
            )

    return frames.mapInPandas(
        run,
        f"{_id_field(frames, id_col)}, frame_index int, dhash long, "
        "ahash long, is_real boolean",
    )
