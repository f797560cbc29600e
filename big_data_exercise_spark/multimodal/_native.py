"""Optional compiled fast path for the JPEG entropy decoders.

Huffman entropy decode is inherently bit-serial — each symbol's start
position depends on the previous symbol's length — so it resists numpy
vectorization (the per-position speculative tables cost more than the
Python loop they replace at camera-frame sizes; measured round 12).
The guide's answer to per-element work Spark can't vectorize is native
code inside the task (§4.2): this module compiles a ~100-line C
translation of the *same* table-driven loops `multimodal/jpeg.py`
runs in Python — one 16-bit-lookahead LUT probe per symbol, identical
control flow, identical error semantics — with the system C compiler,
once per host and user, cached keyed by source hash.

Strictly optional: if no compiler is present, compilation fails, or
``SPARK_GRAFT_NATIVE=0``, every caller falls back to the pure-Python
loop (the reference implementation and the equivalence-test anchor —
`tests/test_jpeg_codec.py::test_native_entropy_decoder_matches_python`
pins byte-identical coefficients across random frames). Spark's local
Python workers share the compiled artifact through the cache path; the
``os.replace`` publish is atomic, so racing workers compile at most
once each and all land on the same file.

The cache is trusted only as far as it is private: it lives in a
per-user directory (``bdes_native-<uid>`` under the temp dir) that must
be owned by this user with mode 0700, and the library's sha256 —
recorded beside it at compile time — is checked before every load. A
file that fails the check (planted, truncated, or from a racing
compile) is recompiled, never loaded; a directory that fails the owner
or mode check disables the native path.
"""

from __future__ import annotations

import ctypes
import hashlib
import os
import stat
import subprocess
import tempfile

_SRC = r"""
#include <stdint.h>

/* 16-bit lookahead at bit position p of a zero-padded byte buffer
   (callers pad by >= 5 bytes, mirroring jpeg._words16). */
static inline uint32_t peek16(const uint8_t *s, long p) {
    long i = p >> 3;
    return (((uint32_t)s[i] << 16) | ((uint32_t)s[i + 1] << 8)
            | (uint32_t)s[i + 2]) >> (8 - (p & 7)) & 0xFFFF;
}

/* Baseline sequential scan over one restart segment.
   Error codes: -1 truncated entropy data, -2 invalid Huffman code,
   -3 invalid DC category, -4 AC index overflow. Exactly the Python
   loop in jpeg._decode_scan, including WHERE each check fires. */
long decode_baseline(
    const uint8_t *seg, long nbits,
    const int32_t *luts,          /* n x 65536, packed (sym<<5)|len */
    const uint8_t *dc_lut_id, const uint8_t *ac_lut_id,
    const uint8_t *comp_id, const int64_t *base,
    long nblocks, int64_t *coef, int64_t *pred)
{
    long bp = 0;
    for (long b = 0; b < nblocks; b++) {
        const int32_t *dl = luts + ((long)dc_lut_id[b] << 16);
        const int32_t *al = luts + ((long)ac_lut_id[b] << 16);
        int64_t *out = coef + base[b];
        if (bp >= nbits) return -1;
        int32_t e = dl[peek16(seg, bp)];
        int ln = e & 31;
        if (!ln) return -2;
        bp += ln;
        int t = e >> 5;
        int64_t p;
        if (t) {
            if (t > 11) return -3;
            long v = peek16(seg, bp) >> (16 - t);
            bp += t;
            if (v < (1L << (t - 1))) v += 1 - (1L << t);
            p = pred[comp_id[b]] + v;
            pred[comp_id[b]] = p;
        } else {
            p = pred[comp_id[b]];
        }
        out[0] = p;
        int k = 1;
        while (k < 64) {
            if (bp >= nbits) return -1;
            e = al[peek16(seg, bp)];
            ln = e & 31;
            if (!ln) return -2;
            bp += ln;
            int rs = e >> 5;
            int s = rs & 15;
            if (s) {
                k += rs >> 4;
                if (k > 63) return -4;
                long v = peek16(seg, bp) >> (16 - s);
                bp += s;
                if (v < (1L << (s - 1))) v += 1 - (1L << s);
                out[k] = v;
                k++;
            } else if (rs == 0xF0) {
                k += 16;
            } else {
                break;
            }
        }
    }
    if (bp > nbits) return -1;  /* final-block overrun into padding */
    return 0;
}

/* Progressive AC first pass (Ah == 0) over one restart segment for a
   single-component scan — jpeg._decode_progressive_scan's `first`
   branch, same checks in the same order. eob[0] carries the EOB run
   in/out (always 0 at segment boundaries; kept explicit to mirror the
   Python loop's structure). */
long decode_prog_ac_first(
    const uint8_t *seg, long nbits, const int32_t *alut,
    const int64_t *base, long nblocks,
    int ss, int se, int al_shift, int64_t *coef, int64_t *eob)
{
    long bp = 0;
    long eobrun = eob[0];
    for (long b = 0; b < nblocks; b++) {
        if (eobrun) { eobrun--; continue; }
        int64_t *out = coef + base[b];
        int k = ss;
        while (k <= se) {
            if (bp >= nbits) return -1;
            int32_t e = alut[peek16(seg, bp)];
            int ln = e & 31;
            if (!ln) return -2;
            bp += ln;
            int rs = e >> 5;
            int s = rs & 15;
            int r = rs >> 4;
            if (s) {
                k += r;
                if (k > se) return -4;
                long v = peek16(seg, bp) >> (16 - s);
                bp += s;
                if (v < (1L << (s - 1))) v += 1 - (1L << s);
                out[k] = v << al_shift;
                k++;
            } else if (r == 15) {
                k += 16;
            } else {
                eobrun = 1L << r;
                if (r) {
                    eobrun += peek16(seg, bp) >> (16 - r);
                    bp += r;
                }
                eobrun--;  /* this block is the run's first */
                break;
            }
        }
    }
    if (bp > nbits) return -1;
    eob[0] = eobrun;
    return 0;
}

/* Progressive AC refinement (Ah != 0) — the correction-bit control
   flow of T.81 G.2, translated line-for-line from the Python loop. */
long decode_prog_ac_refine(
    const uint8_t *seg, long nbits, const int32_t *alut,
    const int64_t *base, long nblocks,
    int ss, int se, int al_shift, int64_t *coef, int64_t *eob)
{
    long bp = 0;
    long eobrun = eob[0];
    int64_t p1 = 1L << al_shift, m1 = -(1L << al_shift);
    for (long b = 0; b < nblocks; b++) {
        int64_t *out = coef + base[b];
        int k = ss;
        if (!eobrun) {
            while (k <= se) {
                if (bp >= nbits) return -1;
                int32_t e = alut[peek16(seg, bp)];
                int ln = e & 31;
                if (!ln) return -2;
                bp += ln;
                int rs = e >> 5;
                int s = rs & 15;
                int r = rs >> 4;
                int64_t newval = 0;
                if (s) {
                    if (s != 1) return -5;  /* bad refinement magnitude */
                    if (bp >= nbits) return -1;
                    newval = ((seg[bp >> 3] >> (7 - (bp & 7))) & 1) ? p1 : m1;
                    bp += 1;
                } else if (r != 15) {
                    eobrun = 1L << r;
                    if (r) {
                        eobrun += peek16(seg, bp) >> (16 - r);
                        bp += r;
                    }
                    break;
                }
                while (k <= se) {
                    int64_t c = out[k];
                    if (c) {
                        if (bp >= nbits) return -1;
                        if ((seg[bp >> 3] >> (7 - (bp & 7))) & 1) {
                            if (!(c & p1)) out[k] = c + (c > 0 ? p1 : m1);
                        }
                        bp += 1;
                    } else {
                        if (r == 0) break;
                        r--;
                    }
                    k++;
                }
                if (newval && k <= se) out[k] = newval;
                k++;
            }
        }
        if (eobrun) {
            while (k <= se) {
                int64_t c = out[k];
                if (c) {
                    if (bp >= nbits) return -1;
                    if ((seg[bp >> 3] >> (7 - (bp & 7))) & 1) {
                        if (!(c & p1)) out[k] = c + (c > 0 ? p1 : m1);
                    }
                    bp += 1;
                }
                k++;
            }
            eobrun--;
        }
    }
    if (bp > nbits) return -1;
    eob[0] = eobrun;
    return 0;
}
"""

# error code → the exact message the Python loops raise
ERRORS = {
    -1: "truncated entropy data",
    -2: "invalid Huffman code",
    -3: "invalid DC category",
    -4: "AC index overflow",
    -5: "bad refinement magnitude",
}

_lib = None
_tried = False


def _cache_path() -> str:
    """Where the compiled library for this source lives. Creates the
    per-user cache directory (mode 0700) if needed and raises
    PermissionError unless it is a real directory owned by this user
    that no one else can read or write."""
    uid = os.getuid()
    cache_dir = os.path.join(tempfile.gettempdir(), f"bdes_native-{uid}")
    os.makedirs(cache_dir, mode=0o700, exist_ok=True)
    st = os.lstat(cache_dir)
    if not stat.S_ISDIR(st.st_mode) or st.st_uid != uid or st.st_mode & 0o077:
        raise PermissionError(f"untrusted native cache dir {cache_dir}")
    tag = hashlib.sha256(_SRC.encode()).hexdigest()[:16]
    return os.path.join(cache_dir, f"native_{tag}.so")


def _sha256(path: str) -> str:
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def _verified(so: str) -> bool:
    """True when ``so`` exists and matches the digest recorded for it."""
    try:
        with open(f"{so}.sha256", encoding="ascii") as f:
            return f.read().strip() == _sha256(so)
    except OSError:
        return False


def _compile(so: str) -> None:
    """Compile the source to ``so`` and record its digest; both files
    are published with an atomic rename."""
    tmp = f"{so}.{os.getpid()}.tmp"
    with tempfile.TemporaryDirectory() as td:
        src = os.path.join(td, "native.c")
        with open(src, "w", encoding="utf-8") as f:
            f.write(_SRC)
        subprocess.run(
            ["cc", "-O2", "-shared", "-fPIC", "-o", tmp, src],
            check=True, capture_output=True, timeout=120,
        )
    with open(f"{tmp}.sha256", "w", encoding="ascii") as f:
        f.write(_sha256(tmp))
    os.replace(tmp, so)
    os.replace(f"{tmp}.sha256", f"{so}.sha256")


def get_lib():
    """The loaded shared library, or None when the native path is
    unavailable (no compiler, compile error, untrusted cache directory,
    SPARK_GRAFT_NATIVE=0).
    Resolved once per process; every failure mode falls back."""
    global _lib, _tried
    if _tried:
        return _lib
    _tried = True
    if os.environ.get("SPARK_GRAFT_NATIVE", "1") == "0":
        return None
    try:
        so = _cache_path()
        if not _verified(so):
            _compile(so)
            if not _verified(so):
                raise OSError(f"{so} changed after compiling")
        lib = ctypes.CDLL(so)
        u8p = ctypes.POINTER(ctypes.c_uint8)
        i32p = ctypes.POINTER(ctypes.c_int32)
        i64p = ctypes.POINTER(ctypes.c_int64)
        lib.decode_baseline.restype = ctypes.c_long
        lib.decode_baseline.argtypes = [
            u8p, ctypes.c_long, i32p, u8p, u8p, u8p, i64p,
            ctypes.c_long, i64p, i64p,
        ]
        for fn in (lib.decode_prog_ac_first, lib.decode_prog_ac_refine):
            fn.restype = ctypes.c_long
            fn.argtypes = [
                u8p, ctypes.c_long, i32p, i64p, ctypes.c_long,
                ctypes.c_int, ctypes.c_int, ctypes.c_int, i64p, i64p,
            ]
        _lib = lib
    except Exception:  # noqa: BLE001 — any failure means "no fast path"
        _lib = None
    return _lib


def as_ptr(arr, ctype):
    return arr.ctypes.data_as(ctypes.POINTER(ctype))
