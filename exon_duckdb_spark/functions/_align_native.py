"""Runtime-compiled C kernel for the affine-gap alignment DP.

The reference backs alignment_* with compiled WFA2-lib C
(exon/src/exon/alignment_functions/module.cpp:181-247,
CMakeLists.txt:72-80), while the numpy engine here is a vectorized Gotoh,
slower per cell. numba/cython wheels may be absent, but a plain shared
object built with ``gcc`` and loaded through ``ctypes`` needs no Python
headers, no setuptools, and no wheel, so the kernel ships as C source and
compiles at first use.

Contract: **bit-identical** to the numpy engine (and therefore to the
scalar oracle ``_affine_align``). The C recurrences replicate the numpy
formulation exactly — including the min-plus prefix-scan form of the X
row (``X[i][j] = ge*j + min_{k<j}(M[i][k] + go - ge*k)``, seeded with the
INF boundary cell), so even never-read INF-region cells carry the same
values and every tie comparison in the traceback resolves identically.
The traceback and run-length compression are line-for-line ports of
``_traceback``. tests/test_align_native.py pins equality (scores AND
CIGARs) against the scalar oracle across penalty regimes, mutation
rates, length skews, and empty/edge inputs.

Build model: one ``gcc -O3 -fPIC -shared`` at first use, cached as
``align_<sha1(source)>.so`` under ``$SPARK_GRAFT_NATIVE_DIR`` (default: a
fixed tempdir). Concurrent builders (32 local Python workers, or one per
executor node on a cluster) compile to a pid-suffixed temp file and
``os.replace`` it into place — atomic on POSIX, so racers converge on one
file. ANY failure (no gcc, sandboxed exec, read-only tmp) degrades to
``available() == False`` and the numpy engine runs unchanged;
``SPARK_GRAFT_NO_NATIVE=1`` forces that path explicitly.

Scale note: the kernel is called inside Arrow-batched pandas UDFs, so on
a cluster each executor compiles once and alignment throughput rises
~10-40× with zero plan changes (alignment is embarrassingly parallel —
per-pair work, no shuffle).
"""

from __future__ import annotations

import ctypes
import hashlib
import os
import subprocess
import tempfile

import numpy as np

_C_SOURCE = r"""
#include <stdint.h>

static const int64_t INF = 1000000000LL;

static int64_t min2(int64_t a, int64_t b) { return a < b ? a : b; }
static int64_t min3(int64_t a, int64_t b, int64_t c) {
    int64_t t = a < b ? a : b;
    return t < c ? t : c;
}

/* Gotoh affine-gap global alignment, WFA2 penalty convention.
 * States: M = match/mismatch, X = gap in text a (consumes pattern b -> D),
 * Y = gap in pattern b (consumes text a -> I). All recurrences mirror the
 * numpy engine exactly:
 *   M[i][j] = min(M,X,Y)[i-1][j-1] + (a[i-1]==b[j-1] ? match : mismatch)
 *   Y[i][j] = min(Y[i-1][j] + ge, M[i-1][j] + go + ge)
 *   X[i][j] = ge*j + min_{k<j}(M[i][k] + go - ge*k)   (prefix scan, k from 0)
 * Boundaries: M[0][0]=0; X[0][j]=go+ge*j; Y[i][0]=go+ge*i; others INF. */

/* Score-only, rolling rows. A/Bc are (npairs, an)/(npairs, bm) int32
 * row-major code planes; per-pair true lengths in alen/blen. scratch
 * holds 6*(bm+1) int64. */
void exon_score_batch(const int32_t* A, const int32_t* Bc,
                      int64_t an, int64_t bm,
                      const int64_t* alen, const int64_t* blen,
                      int64_t npairs,
                      int64_t match, int64_t mismatch,
                      int64_t go, int64_t ge,
                      int64_t* out, int64_t* scratch)
{
    int64_t* Mp = scratch;
    int64_t* Xp = Mp + (bm + 1);
    int64_t* Yp = Xp + (bm + 1);
    int64_t* Mc = Yp + (bm + 1);
    int64_t* Xc = Mc + (bm + 1);
    int64_t* Yc = Xc + (bm + 1);
    for (int64_t p = 0; p < npairs; ++p) {
        const int32_t* a = A + p * an;
        const int32_t* b = Bc + p * bm;
        const int64_t n = alen[p], m = blen[p];
        Mp[0] = 0; Xp[0] = INF; Yp[0] = INF;
        for (int64_t j = 1; j <= m; ++j) {
            Mp[j] = INF; Xp[j] = go + ge * j; Yp[j] = INF;
        }
        for (int64_t i = 1; i <= n; ++i) {
            Mc[0] = INF; Xc[0] = INF; Yc[0] = go + ge * i;
            const int32_t ac = a[i - 1];
            int64_t acc = Mc[0] + go;      /* k = 0 scan seed (INF + go) */
            for (int64_t j = 1; j <= m; ++j) {
                const int64_t sub = (b[j - 1] == ac) ? match : mismatch;
                const int64_t mij = min3(Mp[j-1], Xp[j-1], Yp[j-1]) + sub;
                Mc[j] = mij;
                Yc[j] = min2(Yp[j] + ge, Mp[j] + go + ge);
                Xc[j] = ge * j + acc;
                const int64_t cand = mij + go - ge * j;
                if (cand < acc) acc = cand;
            }
            int64_t* t;
            t = Mp; Mp = Mc; Mc = t;
            t = Xp; Xp = Xc; Xc = t;
            t = Yp; Yp = Yc; Yc = t;
        }
        out[p] = min3(Mp[m], Xp[m], Yp[m]);
    }
}

static int64_t write_uint(char* dst, int64_t v)
{
    char tmp[24];
    int64_t k = 0;
    if (v == 0) { dst[0] = '0'; return 1; }
    while (v > 0) { tmp[k++] = (char)('0' + (v % 10)); v /= 10; }
    for (int64_t r = 0; r < k; ++r) dst[r] = tmp[k - 1 - r];
    return k;
}

/* Full-table DP + traceback + run-length compression per pair.
 * scratch: 3*(an+1)*(bm+1) int64 (M, X, Y full tables for ONE pair);
 * opsbuf: an+bm char scratch; cigars written at p*cstride, lengths in
 * clen. Traceback tie rules are a line-for-line port of _traceback:
 * start state = FIRST minimum of (M, X, Y) at the terminal; inside M,
 * prefer X then Y on backward ties; gap states fall back to M exactly
 * when the open transition reproduces the cell value. */
void exon_cigar_batch(const int32_t* A, const int32_t* Bc,
                      int64_t an, int64_t bm,
                      const int64_t* alen, const int64_t* blen,
                      int64_t npairs,
                      int64_t match, int64_t mismatch,
                      int64_t go, int64_t ge,
                      char* cigars, int64_t cstride, int64_t* clen,
                      int64_t* scratch, char* opsbuf)
{
    const int64_t W = bm + 1;
    int64_t* M = scratch;
    int64_t* X = M + (an + 1) * W;
    int64_t* Y = X + (an + 1) * W;
    for (int64_t p = 0; p < npairs; ++p) {
        const int32_t* a = A + p * an;
        const int32_t* b = Bc + p * bm;
        const int64_t n = alen[p], m = blen[p];
        M[0] = 0; X[0] = INF; Y[0] = INF;
        for (int64_t j = 1; j <= m; ++j) {
            M[j] = INF; X[j] = go + ge * j; Y[j] = INF;
        }
        for (int64_t i = 1; i <= n; ++i) {
            int64_t* Mi = M + i * W; int64_t* Mq = M + (i - 1) * W;
            int64_t* Xi = X + i * W; int64_t* Xq = X + (i - 1) * W;
            int64_t* Yi = Y + i * W; int64_t* Yq = Y + (i - 1) * W;
            Mi[0] = INF; Xi[0] = INF; Yi[0] = go + ge * i;
            const int32_t ac = a[i - 1];
            int64_t acc = Mi[0] + go;
            for (int64_t j = 1; j <= m; ++j) {
                const int64_t sub = (b[j - 1] == ac) ? match : mismatch;
                const int64_t mij = min3(Mq[j-1], Xq[j-1], Yq[j-1]) + sub;
                Mi[j] = mij;
                Yi[j] = min2(Yq[j] + ge, Mq[j] + go + ge);
                Xi[j] = ge * j + acc;
                const int64_t cand = mij + go - ge * j;
                if (cand < acc) acc = cand;
            }
        }
        /* traceback: ops written backward into opsbuf[pos..n+m) */
        int64_t i = n, j = m;
        int64_t pos = n + m;
        const int64_t vM = M[n * W + m], vX = X[n * W + m], vY = Y[n * W + m];
        int st = 0;
        int64_t best = vM;
        if (vX < best) { best = vX; st = 1; }
        if (vY < best) { best = vY; st = 2; }
        while (i > 0 || j > 0) {
            if (i == 0) { opsbuf[--pos] = 'D'; --j; }
            else if (j == 0) { opsbuf[--pos] = 'I'; --i; }
            else if (st == 0) {
                opsbuf[--pos] = 'M';
                const int64_t pm = M[(i-1) * W + (j-1)];
                const int64_t px = X[(i-1) * W + (j-1)];
                const int64_t py = Y[(i-1) * W + (j-1)];
                const int64_t lo = min3(pm, px, py);
                st = (px == lo) ? 1 : ((py == lo) ? 2 : 0);
                --i; --j;
            } else if (st == 1) {
                opsbuf[--pos] = 'D';
                if (X[i * W + j] == M[i * W + (j-1)] + go + ge) st = 0;
                --j;
            } else {
                opsbuf[--pos] = 'I';
                if (Y[i * W + j] == M[(i-1) * W + j] + go + ge) st = 0;
                --i;
            }
        }
        /* run-length compress opsbuf[pos..n+m) into the cigar slot */
        char* dst = cigars + p * cstride;
        int64_t len = 0;
        int64_t k = pos;
        const int64_t end = n + m;
        while (k < end) {
            int64_t run = 1;
            while (k + run < end && opsbuf[k + run] == opsbuf[k]) ++run;
            len += write_uint(dst + len, run);
            dst[len++] = opsbuf[k];
            k += run;
        }
        clen[p] = len;
    }
}
"""

_lib = None
_tried = False


def _cache_dir() -> str:
    # per-uid, mode-0700 default: a FIXED world-shared /tmp path would let
    # another local user pre-create the directory and plant a .so at the
    # predictable hash name (the source is public), which CDLL would then
    # load into every worker — classic tmp-dir preload. The uid suffix +
    # 0700 + the ownership check in _build() close that on multi-user
    # hosts; SPARK_GRAFT_NATIVE_DIR overrides for clusters (point it at
    # node-local, user-owned disk).
    d = os.environ.get("SPARK_GRAFT_NATIVE_DIR") or os.path.join(
        tempfile.gettempdir(), f"exon_align_native_{os.getuid()}"
    )
    os.makedirs(d, mode=0o700, exist_ok=True)
    st = os.stat(d)
    if st.st_uid != os.getuid() or (st.st_mode & 0o022):
        raise PermissionError(
            f"native cache dir {d} is not exclusively owned by this user; "
            "refusing to load compiled code from it "
            "(set SPARK_GRAFT_NATIVE_DIR to a user-owned directory)"
        )
    return d


def _build() -> ctypes.CDLL:
    h = hashlib.sha1(_C_SOURCE.encode()).hexdigest()[:12]
    cache = _cache_dir()
    so = os.path.join(cache, f"align_{h}.so")
    if not os.path.exists(so):
        src = os.path.join(cache, f"align_{h}.{os.getpid()}.c")
        tmp = os.path.join(cache, f"align_{h}.{os.getpid()}.so.tmp")
        with open(src, "w") as f:
            f.write(_C_SOURCE)
        try:
            subprocess.run(
                ["gcc", "-O3", "-fPIC", "-shared", "-o", tmp, src],
                check=True, capture_output=True, timeout=120,
            )
            os.replace(tmp, so)  # atomic: concurrent workers converge
        finally:
            for pth in (src, tmp):
                try:
                    os.remove(pth)
                except OSError:
                    pass
    lib = ctypes.CDLL(so)
    i64p = ctypes.POINTER(ctypes.c_int64)
    i32p = ctypes.POINTER(ctypes.c_int32)
    lib.exon_score_batch.argtypes = [
        i32p, i32p, ctypes.c_int64, ctypes.c_int64, i64p, i64p,
        ctypes.c_int64, ctypes.c_int64, ctypes.c_int64, ctypes.c_int64,
        ctypes.c_int64, i64p, i64p,
    ]
    lib.exon_score_batch.restype = None
    lib.exon_cigar_batch.argtypes = [
        i32p, i32p, ctypes.c_int64, ctypes.c_int64, i64p, i64p,
        ctypes.c_int64, ctypes.c_int64, ctypes.c_int64, ctypes.c_int64,
        ctypes.c_int64, ctypes.c_char_p, ctypes.c_int64, i64p, i64p,
        ctypes.c_char_p,
    ]
    lib.exon_cigar_batch.restype = None
    return lib


def available() -> bool:
    """True once the kernel compiled (or was found cached) on this process.
    Any failure — no gcc, sandbox, read-only tmp — latches False and the
    numpy engine runs instead; results are identical either way."""
    global _lib, _tried
    if _tried:
        return _lib is not None
    _tried = True
    if os.environ.get("SPARK_GRAFT_NO_NATIVE"):
        return False
    try:
        _lib = _build()
    except Exception:
        _lib = None
    return _lib is not None


def _as_i64(arr) -> np.ndarray:
    return np.ascontiguousarray(arr, dtype=np.int64)


def _ptr64(arr):
    return arr.ctypes.data_as(ctypes.POINTER(ctypes.c_int64))


def _ptr32(arr):
    return arr.ctypes.data_as(ctypes.POINTER(ctypes.c_int32))


def scores(
    a_codes: np.ndarray, b_codes: np.ndarray,
    a_lens, b_lens,
    match: int, mismatch: int, gap_open: int, gap_ext: int,
) -> np.ndarray:
    """Batch scores over encoded code planes (same inputs as
    _batch_scores); returns int64 penalties, bit-equal to the numpy
    engine."""
    a_codes = np.ascontiguousarray(a_codes, dtype=np.int32)
    b_codes = np.ascontiguousarray(b_codes, dtype=np.int32)
    al, bl = _as_i64(a_lens), _as_i64(b_lens)
    B = a_codes.shape[0]
    bm = b_codes.shape[1]
    out = np.empty(B, dtype=np.int64)
    scratch = np.empty(6 * (bm + 1), dtype=np.int64)
    _lib.exon_score_batch(
        _ptr32(a_codes), _ptr32(b_codes),
        ctypes.c_int64(a_codes.shape[1]), ctypes.c_int64(bm),
        _ptr64(al), _ptr64(bl), ctypes.c_int64(B),
        ctypes.c_int64(match), ctypes.c_int64(mismatch),
        ctypes.c_int64(gap_open), ctypes.c_int64(gap_ext),
        _ptr64(out), _ptr64(scratch),
    )
    return out


def cigars(
    a_codes: np.ndarray, b_codes: np.ndarray,
    a_lens, b_lens,
    match: int, mismatch: int, gap_open: int, gap_ext: int,
) -> list:
    """Batch CIGARs (full-table fill + traceback + RLE in C); bit-equal to
    _batch_tables + _traceback."""
    a_codes = np.ascontiguousarray(a_codes, dtype=np.int32)
    b_codes = np.ascontiguousarray(b_codes, dtype=np.int32)
    al, bl = _as_i64(a_lens), _as_i64(b_lens)
    B = a_codes.shape[0]
    an, bm = a_codes.shape[1], b_codes.shape[1]
    # worst-case cigar text: <= n+m runs, each <= 20 digits + 1 op char
    cstride = 21 * (an + bm) + 4
    cig = ctypes.create_string_buffer(max(B * cstride, 1))
    clen = np.zeros(B, dtype=np.int64)
    scratch = np.empty(3 * (an + 1) * (bm + 1), dtype=np.int64)
    opsbuf = ctypes.create_string_buffer(max(an + bm, 1))
    _lib.exon_cigar_batch(
        _ptr32(a_codes), _ptr32(b_codes),
        ctypes.c_int64(an), ctypes.c_int64(bm),
        _ptr64(al), _ptr64(bl), ctypes.c_int64(B),
        ctypes.c_int64(match), ctypes.c_int64(mismatch),
        ctypes.c_int64(gap_open), ctypes.c_int64(gap_ext),
        cig, ctypes.c_int64(cstride), _ptr64(clen), _ptr64(scratch), opsbuf,
    )
    raw = cig.raw
    return [
        raw[p * cstride : p * cstride + int(clen[p])].decode("ascii")
        for p in range(B)
    ]
