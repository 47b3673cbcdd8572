"""Multimodal near-dup fingerprints: image dHash/aHash, audio energy
fingerprints, and the generic Hamming block-join behind them.

The pinning strategy mirrors the q75/q77 plants: fingerprints are pure
integer decisions over formula-planted pixels/samples, so every expected
value here is recomputed independently in plain Python (not by calling the
operator's own math)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from exon_duckdb_spark import operators as ops
from exon_duckdb_spark.operators import imagecodec as ic
from exon_duckdb_spark.operators.multimodal import encode_wav


def _plant(did: int) -> np.ndarray:
    """The q75 image plant: pixel(y, x, c) = (x*7 + y*13 + c*29 + did) % 256."""
    w, h = did % 16 + 4, did % 12 + 4
    x, y, c = np.arange(w), np.arange(h), np.arange(3)
    return (
        (x[None, :, None] * 7 + y[:, None, None] * 13 + c[None, None, :] * 29 + did)
        % 256
    ).astype(np.uint8)


def _ref_hashes(arr: np.ndarray, rows: int = 7, cols: int = 8) -> tuple[int, int]:
    """Independent scalar transcription of the dHash/aHash contract."""
    h, w, c = arr.shape
    a = arr.astype(int)
    if c >= 3:
        luma = [
            [
                299 * a[yy][xx][0] + 587 * a[yy][xx][1] + 114 * a[yy][xx][2]
                for xx in range(w)
            ]
            for yy in range(h)
        ]
    else:
        luma = [[1000 * a[yy][xx][0] for xx in range(w)] for yy in range(h)]
    cell = {}
    for i in range(rows):
        lo_y = (i * h) // rows
        hi_y = max(((i + 1) * h) // rows, lo_y + 1)
        for j in range(cols):
            lo_x = (j * w) // cols
            hi_x = max(((j + 1) * w) // cols, lo_x + 1)
            s = sum(
                luma[yy][xx] for yy in range(lo_y, hi_y) for xx in range(lo_x, hi_x)
            )
            cell[i, j] = (s, (hi_y - lo_y) * (hi_x - lo_x))
    dh = 0
    for i in range(rows):
        for j in range(cols - 1):
            sl, cl = cell[i, j]
            sr, cr = cell[i, j + 1]
            if sl * cr > sr * cl:
                dh |= 1 << (i * (cols - 1) + j)
    tot_s = sum(sum(r) for r in luma)
    tot_c = h * w
    ah = 0
    for i in range(rows):
        for j in range(cols):
            s, cnt = cell[i, j]
            if s * tot_c > tot_s * cnt:
                ah |= 1 << (i * cols + j)
    return dh, ah


class TestImageDhash:
    def test_matches_independent_reference(self, spark):
        rows = [(did, bytearray(ic.encode_bmp(_plant(did)))) for did in range(12)]
        df = spark.createDataFrame(rows, "id long, content binary")
        got = {
            r["id"]: (r["dhash"], r["ahash"])
            for r in ops.image_dhash(df).collect()
        }
        for did in range(12):
            assert got[did] == _ref_hashes(_plant(did)), f"doc {did}"

    def test_cross_format_invariance(self, spark):
        # same pixels through BMP and PNG (all five filter types) must
        # fingerprint identically — the cross-format dedup contract
        rows = []
        for did in range(10):
            arr = _plant(did)
            rows.append((did * 2, bytearray(ic.encode_bmp(arr))))
            rows.append((did * 2 + 1, bytearray(ic.encode_png(arr, filter_type=did % 5))))
        df = spark.createDataFrame(rows, "id long, content binary")
        got = {r["id"]: (r["dhash"], r["ahash"]) for r in ops.image_dhash(df).collect()}
        for did in range(10):
            assert got[did * 2] == got[did * 2 + 1]

    def test_undecodable_yields_error_row(self, spark):
        df = spark.createDataFrame(
            [(1, bytearray(b"not an image")), (2, None)], "id long, content binary"
        )
        out = {r["id"]: r for r in ops.image_dhash(df).collect()}
        assert out[1]["dhash"] is None and out[1]["error"]
        assert out[2]["dhash"] is None and out[2]["error"] is None

    def test_bit_budget_guard(self, spark):
        df = spark.createDataFrame([(1, bytearray(b""))], "id long, content binary")
        with pytest.raises(ValueError, match="62"):
            ops.image_dhash(df, rows=8, cols=9)
        with pytest.raises(ValueError, match="cols"):
            ops.image_dhash(df, rows=1, cols=1)


class TestAudioFingerprint:
    @staticmethod
    def _ref_fp(samples: list[int], frame: int, max_bits: int) -> tuple[int, int, int]:
        energies = []
        for lo in range(0, len(samples), frame):
            energies.append(sum(abs(s) for s in samples[lo : lo + frame]))
        nbits = max(min(max_bits, len(energies) - 1), 0)
        fp = 0
        for k in range(nbits):
            if energies[k + 1] > energies[k]:
                fp |= 1 << k
        return fp, nbits, len(energies)

    def test_matches_independent_reference(self, spark):
        rows = []
        planted = {}
        for did in range(8):
            n = did % 50 + 20
            i = np.arange(n, dtype=np.int64)
            s = ((i * 13 + did * 7) % 65536 - 32768).astype(np.int16)
            planted[did] = [int(x) for x in s]
            rows.append((did, bytearray(encode_wav(s, 8000))))
        df = spark.createDataFrame(rows, "id long, content binary")
        got = {r["id"]: r for r in ops.audio_fingerprint(df, frame=8).collect()}
        for did in range(8):
            fp, nb, nf = self._ref_fp(planted[did], 8, 48)
            r = got[did]
            assert (r["fingerprint"], r["n_bits"], r["n_frames"]) == (fp, nb, nf)

    def test_rate_invariance(self, spark):
        # identical samples re-wrapped at another declared rate: same bits
        s = ((np.arange(100) * 13) % 65536 - 32768).astype(np.int16)
        df = spark.createDataFrame(
            [(1, bytearray(encode_wav(s, 8000))), (2, bytearray(encode_wav(s, 44100)))],
            "id long, content binary",
        )
        a, b = (
            r["fingerprint"]
            for r in ops.audio_fingerprint(df).orderBy("id").collect()
        )
        assert a == b

    def test_short_clip_zero_bits(self, spark):
        s = np.array([5, -3], dtype=np.int16)
        df = spark.createDataFrame(
            [(1, bytearray(encode_wav(s, 8000)))], "id long, content binary"
        )
        r = ops.audio_fingerprint(df, frame=8).collect()[0]
        assert (r["fingerprint"], r["n_bits"], r["n_frames"]) == (0, 0, 1)


class TestHammingPairs:
    def test_matches_brute_force(self, spark):
        # deterministic pseudo-random 56-bit fingerprints with planted
        # near-dups; blocking is recall-LOSSLESS so the operator must
        # equal the all-pairs scan exactly
        hashes = {}
        for i in range(80):
            h = 0
            for b in range(56):
                if (i * 2654435761 + b * 40503) % 97 < 31:
                    h |= 1 << b
            hashes[i] = h
        for i in range(0, 80, 10):  # plant ≤3-bit perturbations
            hashes[i + 1000] = hashes[i] ^ (1 << (i % 56))
        df = spark.createDataFrame(
            [(k, v) for k, v in hashes.items()], "id long, h long"
        )
        got = {
            (r["id_a"], r["id_b"], r["hamming"])
            for r in ops.hamming_pairs(df, "h", bits=56, max_hamming=3).collect()
        }
        want = set()
        ids = sorted(hashes)
        for x in range(len(ids)):
            for y in range(x + 1, len(ids)):
                d = bin(hashes[ids[x]] ^ hashes[ids[y]]).count("1")
                if d <= 3:
                    want.add((ids[x], ids[y], d))
        assert got == want
        assert len(want) >= 8  # the planted perturbations all surfaced

    def test_simhash_pairs_unchanged_by_refactor(self, spark):
        # simhash_pairs == simhash ∘ hamming_pairs (the factored form)
        docs = [(i, f"the quick brown fox {i % 7} jumps over {i % 3}") for i in range(40)]
        df = spark.createDataFrame(docs, "doc_id long, text string")
        via_op = {
            tuple(r) for r in ops.simhash_pairs(df, bits=16, max_hamming=3).collect()
        }
        sh = ops.simhash(df, bits=16).select("doc_id", "simhash")
        via_parts = {
            tuple(r)
            for r in ops.hamming_pairs(
                sh, "simhash", id_col="doc_id", bits=16, max_hamming=3
            ).collect()
        }
        assert via_op == via_parts


def _avi_plant(did: int, nframes: int = 4, shift: int = 0):
    """q45-style DC-exact MJPEG AVI: grayscale 8x8-constant blocks decode
    bit-exactly at quality 50, so frame pixels are known arithmetically."""
    import numpy as np

    from exon_duckdb_spark.operators import jpegcodec as jc
    from exon_duckdb_spark.operators.multimodal import encode_avi_mjpeg

    w, h = (did % 3 + 2) * 8, (did % 2 + 2) * 8
    bx = np.arange(w) // 8
    by = np.arange(h) // 8
    frames = [
        jc.encode_jpeg(
            (128 + 2 * ((bx[None, :] * 5 + by[:, None] * 11 + did + 7 * f + shift) % 60 - 30)).astype(np.uint8),
            quality=50,
        )
        for f in range(nframes)
    ]
    return encode_avi_mjpeg(frames, us_per_frame=40000, width=w, height=h)


class TestVideoDhash:
    def test_frames_hash_like_images(self, spark):
        # the selected AVI frame's hashes must equal image_dhash of the
        # SAME pixels routed through an independent BMP encode
        import numpy as np

        df = spark.createDataFrame(
            [(did, bytearray(_avi_plant(did))) for did in range(6)],
            "id long, content binary",
        )
        vh = {
            (r["id"], r["frame_index"]): (r["dhash"], r["ahash"])
            for r in ops.video_dhash(df, n_frames=4).collect()
        }
        rows = []
        for did in range(6):
            w, h = (did % 3 + 2) * 8, (did % 2 + 2) * 8
            bx, by = np.arange(w) // 8, np.arange(h) // 8
            for i in range(4):
                src = min(int(4 * (i + 0.5) / 4), 3)
                gray = (
                    128 + 2 * ((bx[None, :] * 5 + by[:, None] * 11 + did + 7 * src) % 60 - 30)
                ).astype(np.uint8)[:, :, None]
                rows.append((did * 10 + i, bytearray(ic.encode_bmp(
                    np.repeat(gray, 3, axis=2)))))
        # NOTE: BMP is 3-channel → luma path differs from grayscale ×1000
        # only if R=G=B (then 299+587+114 = 1000× the gray value — equal)
        bdf = spark.createDataFrame(rows, "id long, content binary")
        ih = {r["id"]: (r["dhash"], r["ahash"]) for r in ops.image_dhash(bdf).collect()}
        for did in range(6):
            for i in range(4):
                assert vh[(did, i)] == ih[did * 10 + i], (did, i)

    def test_remuxed_copy_pairs_at_zero(self, spark):
        rows = []
        for did in range(8):
            rows.append((did * 2, bytearray(_avi_plant(did))))
            if did % 2 == 0:  # re-encoded copy, same pictures
                rows.append((did * 2 + 1, bytearray(_avi_plant(did))))
        df = spark.createDataFrame(rows, "id long, content binary")
        fp = ops.video_dhash(df, n_frames=4)
        pairs = {
            (r["id_a"], r["id_b"]): (r["n_slots"], r["total_hamming"])
            for r in ops.video_near_dup_pairs(fp, min_frames=4).collect()
        }
        for did in range(0, 8, 2):
            assert pairs[(did * 2, did * 2 + 1)] == (4, 0), did

    def test_min_frames_threshold(self, spark):
        # crafted fingerprints: videos 1/2 agree on slots 0,1 only (slots
        # 2,3 differ by >max_hamming bits) — the slot-count gate decides
        rows = []
        for slot in range(4):
            rows.append((1, slot, 100 + slot))
            rows.append((2, slot, 100 + slot if slot < 2 else (100 + slot) ^ 0b11111))
        fp = spark.createDataFrame(rows, "id long, frame_index int, dhash long")
        two = ops.video_near_dup_pairs(fp, max_hamming=1, min_frames=2).collect()
        assert [(r["id_a"], r["id_b"], r["n_slots"], r["total_hamming"]) for r in two] == [
            (1, 2, 2, 0)
        ]
        three = ops.video_near_dup_pairs(fp, max_hamming=1, min_frames=3).collect()
        assert three == []

    def test_coded_only_slots_yield_null(self, spark):
        from exon_duckdb_spark.operators.multimodal import encode_mp4_samples

        blob = encode_mp4_samples([b"xx", b"yyy", b"z"], fps=5, width=8, height=8)
        df = spark.createDataFrame([(1, bytearray(blob))], "id long, content binary")
        out = ops.video_dhash(df, n_frames=2).collect()
        assert out and all(r["dhash"] is None and not r["is_real"] for r in out)


class TestMediaClusterComposition:
    def test_fingerprint_pairs_drive_cluster_and_keep(self, spark):
        """The text-dedup cluster/keep machinery accepts media fingerprint
        pairs unchanged: bmp/png twins + a cross-doc collision collapse to
        min-id representatives through dedup_clusters + near_dedup_keep_list."""
        rows = []
        for did in range(8):
            arr = _plant(did)
            rows.append((did * 2, bytearray(ic.encode_bmp(arr))))
            rows.append((did * 2 + 1, bytearray(ic.encode_png(arr, filter_type=did % 5))))
        df = spark.createDataFrame(rows, "id long, content binary")
        fp = ops.image_dhash(df)
        pairs = ops.hamming_pairs(fp.select("id", "dhash"), "dhash",
                                  id_col="id", bits=49, max_hamming=0)
        clusters = ops.dedup_clusters(pairs)
        lab = {r["doc_id"]: r["cluster_id"] for r in clusters.collect()}
        for did in range(8):  # each twin pair shares a cluster rooted at the bmp id
            assert lab[did * 2 + 1] == lab[did * 2]
        keep = ops.near_dedup_keep_list(
            df.select(F.col("id").alias("doc_id")), pairs, id_col="doc_id"
        )
        kept = {r["doc_id"] for r in keep.collect()}
        # the keep contract: exactly the min-id member of every cluster
        # survives, plus any id untouched by a pair (none here if the
        # plants all collide, which is fine — the set equality decides)
        all_ids = {did * 2 + fi for did in range(8) for fi in (0, 1)}
        want = {min(m for m, c in lab.items() if c == cid) for cid in set(lab.values())}
        want |= all_ids - set(lab)
        assert kept == want


class TestHammingIndex:
    @staticmethod
    def _hashes() -> dict[int, int]:
        hashes = {}
        for i in range(60):
            h = 0
            for b in range(49):
                if (i * 2654435761 + b * 40503) % 89 < 30:
                    h |= 1 << b
            hashes[i] = h
        return hashes

    def test_probe_matches_brute_force(self, spark, tmp_path):
        hashes = self._hashes()
        # near-dup plants across the index/batch boundary
        for i in (0, 10, 20):
            hashes[i + 1] = hashes[i] ^ (1 << (i % 49))
        corpus = {k: v for k, v in hashes.items() if k % 2 == 0}
        batch = {k: v for k, v in hashes.items() if k % 2 == 1}
        cdf = spark.createDataFrame(list(corpus.items()), "id long, dhash long")
        bdf = spark.createDataFrame(list(batch.items()), "id long, dhash long")
        path = str(tmp_path / "hidx")
        ops.hamming_index_build(cdf, path, bits=49, max_hamming=3)
        got = {
            (r["id_new"], r["id_indexed"], r["hamming"])
            for r in ops.hamming_index_probe(bdf, path, bits=49, max_hamming=3).collect()
        }
        want = {
            (bn, cn, bin(bv ^ cv).count("1"))
            for bn, bv in batch.items()
            for cn, cv in corpus.items()
            if bin(bv ^ cv).count("1") <= 3
        }
        assert got == want and len(want) >= 3

    def test_reprobe_is_idempotent(self, spark, tmp_path):
        hashes = self._hashes()
        df = spark.createDataFrame(list(hashes.items()), "id long, dhash long")
        path = str(tmp_path / "hidx2")
        ops.hamming_index_build(df, path, bits=49, max_hamming=2)
        # probing the SAME set: self-pairs excluded; result == operator
        # self-join (each unordered pair shows up in both directions)
        got = {
            (r["id_new"], r["id_indexed"])
            for r in ops.hamming_index_probe(df, path, bits=49, max_hamming=2).collect()
        }
        assert all(a != b for a, b in got)
        sym = {(min(a, b), max(a, b)) for a, b in got}
        pairs = {
            (r["id_a"], r["id_b"])
            for r in ops.hamming_pairs(df, "dhash", bits=49, max_hamming=2).collect()
        }
        assert sym == pairs

    def test_append_ingest(self, spark, tmp_path):
        hashes = self._hashes()
        day1 = {k: v for k, v in hashes.items() if k < 30}
        day2 = {k: v for k, v in hashes.items() if k >= 30}
        path = str(tmp_path / "hidx3")
        d1 = spark.createDataFrame(list(day1.items()), "id long, dhash long")
        d2 = spark.createDataFrame(list(day2.items()), "id long, dhash long")
        ops.hamming_index_build(d1, path, bits=49, max_hamming=2)
        ops.hamming_index_build(d2, path, bits=49, max_hamming=2, mode="append")
        full = spark.createDataFrame(list(hashes.items()), "id long, dhash long")
        got = {
            (r["id_new"], r["id_indexed"])
            for r in ops.hamming_index_probe(full, path, bits=49, max_hamming=2).collect()
        }
        sym = {(min(a, b), max(a, b)) for a, b in got}
        pairs = {
            (r["id_a"], r["id_b"])
            for r in ops.hamming_pairs(full, "dhash", bits=49, max_hamming=2).collect()
        }
        assert sym == pairs

    def test_index_files_follow_shuffle_bytes(self, spark, tmp_path):
        """The index write is one rebalance on ``block``: a block dir splits
        over several files once its shuffle bytes pass the advisory
        partition size, holds one file at the default, and one file with
        AQE off. The rows are identical in every layout."""
        import glob
        import os

        from exon_duckdb_spark.session import scoped_conf

        df = spark.range(0, 3000, 1, 4).select(
            F.col("id"), ((F.col("id") * 2654435761) % (1 << 49)).alias("dhash")
        )

        def build(name, **conf):
            p = str(tmp_path / name)
            with scoped_conf(spark, **conf):
                ops.hamming_index_build(df, p, bits=49, max_hamming=2)
            return p

        def files(p):
            return {
                d: len(glob.glob(f"{p}/{d}/*.parquet"))
                for d in os.listdir(p) if d.startswith("block=")
            }

        def rows(p):
            return sorted(
                tuple(r) for r in spark.read.parquet(p)
                .select(F.col("block").cast("int"), "bval", "id", "fp").collect()
            )

        small = build("small", **{
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "4096"})
        dflt = build("dflt")
        no_aqe = build("no_aqe", **{"spark.sql.adaptive.enabled": "false"})
        f_small, f_dflt = files(small), files(dflt)
        assert set(f_small) == set(f_dflt) and len(f_dflt) == 3
        assert all(v > 1 for v in f_small.values()), f_small
        assert all(v == 1 for v in f_dflt.values()), f_dflt
        assert all(v == 1 for v in files(no_aqe).values())
        want = rows(dflt)
        assert len(want) == 3 * 3000
        assert rows(small) == want and rows(no_aqe) == want


def test_video_dhash_gif_animation_path(spark):
    """video_dhash's GIF route: an animated GIF's composited frames hash
    with the same core as a BMP of the same composited pixels (decode →
    composite → hash, cross-checked through an independent encode path)."""
    import numpy as np

    from exon_duckdb_spark.operators import imagecodec as ic2

    frames = []
    for f in range(4):
        x, y = np.arange(12), np.arange(8)
        arr = ((x[None, :, None] * 3 + y[:, None, None] * 5 + f * 40) % 256).astype(
            np.uint8
        ).repeat(3, axis=2)
        frames.append(arr)
    blob = ic2.encode_gif_frames(frames, delay_cs=10)
    df = spark.createDataFrame([(1, bytearray(blob))], "id long, content binary")
    vh = {
        r["frame_index"]: (r["dhash"], r["ahash"], r["is_real"])
        for r in ops.video_dhash(df, n_frames=4).collect()
    }
    assert len(vh) == 4 and all(v[2] for v in vh.values())
    # independent route: same composited frame pixels through BMP + image_dhash
    bdf = spark.createDataFrame(
        [(i, bytearray(ic.encode_bmp(frames[i]))) for i in range(4)],
        "id long, content binary",
    )
    ih = {r["id"]: (r["dhash"], r["ahash"]) for r in ops.image_dhash(bdf).collect()}
    for i in range(4):
        assert vh[i][:2] == ih[i], i
