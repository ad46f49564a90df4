"""ctypes bindings for the native similarity kernels (optional fast path).

The C sources (payor_mdm_spark/native/jwkernels.c) implement the same
published algorithms with the same arithmetic as the pure-Python kernels;
for ASCII inputs the results are bit-identical (pinned by
tests/test_native_kernels.py property tests). Non-ASCII input and
over-long strings route to the Python fallback — C indexes bytes, Python
indexes codepoints.

Build: `gcc -O3 -shared -fPIC` at first use, cached next to the source
(atomic rename, safe under concurrent workers). No third-party packages:
ctypes is stdlib, gcc is a system compiler. If no compiler is present the
engine silently stays on the pure-Python kernels.
"""

from __future__ import annotations

import ctypes
import os
import shutil
import subprocess
import tempfile

_NATIVE_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "native")
_SRC = os.path.join(_NATIVE_DIR, "jwkernels.c")
_SO = os.path.join(_NATIVE_DIR, "_jwkernels.so")

_lib = None
_tried = False


def _build() -> str | None:
    gcc = shutil.which("gcc") or shutil.which("cc")
    if gcc is None or not os.path.exists(_SRC):
        return None
    tmp = tempfile.mktemp(suffix=".so", dir=_NATIVE_DIR)
    try:
        subprocess.run(
            [gcc, "-O3", "-shared", "-fPIC", "-o", tmp, _SRC, "-lm"],
            check=True, capture_output=True, timeout=120,
        )
        os.replace(tmp, _SO)  # atomic: concurrent builders all win
        return _SO
    except Exception:  # noqa: BLE001 — any build problem means "no fast path"
        if os.path.exists(tmp):
            os.unlink(tmp)
        return None


def get_lib():
    """Load (building if needed) the native library; None if unavailable."""
    global _lib, _tried
    if _lib is not None or _tried:
        return _lib
    _tried = True
    path = _SO if os.path.exists(_SO) else _build()
    if path is None:
        return None
    try:
        lib = ctypes.CDLL(path)
    except OSError:
        return None
    lib.jaro_winkler_c.restype = ctypes.c_double
    lib.jaro_winkler_c.argtypes = [
        ctypes.c_char_p, ctypes.c_int, ctypes.c_char_p, ctypes.c_int,
    ]
    lib.trigram_cosine_c.restype = ctypes.c_double
    lib.trigram_cosine_c.argtypes = [
        ctypes.c_char_p, ctypes.c_int, ctypes.c_char_p, ctypes.c_int,
    ]
    for fn in (lib.jaro_winkler_batch, lib.trigram_cosine_batch):
        fn.restype = None
        fn.argtypes = [
            ctypes.c_char_p, ctypes.POINTER(ctypes.c_int32),
            ctypes.c_char_p, ctypes.POINTER(ctypes.c_int32),
            ctypes.c_int, ctypes.POINTER(ctypes.c_double),
        ]
    _lib = lib
    return _lib


def native_jaro_winkler(a: str, b: str) -> float | None:
    """Bit-identical fast path for ASCII inputs; None -> use Python."""
    lib = get_lib()
    if lib is None or not (a.isascii() and b.isascii()):
        return None
    ab, bb = a.encode(), b.encode()
    r = lib.jaro_winkler_c(ab, len(ab), bb, len(bb))
    return None if r < 0.0 else r  # -1.0 = over-long sentinel


def native_trigram_cosine(a: str, b: str) -> float | None:
    lib = get_lib()
    if lib is None or not (a.isascii() and b.isascii()):
        return None
    ab, bb = a.encode(), b.encode()
    r = lib.trigram_cosine_c(ab, len(ab), bb, len(bb))
    return None if r < 0.0 else r


def _pack(strs_a, strs_b):
    """Pack two equal-length string lists into the C batch layout: one
    ASCII byte buffer and n + 1 int32 offsets per side. Returns
    ((buf_a, off_a, buf_b, off_b), fallback) where fallback[i] is True
    for the non-ASCII rows, which are packed as empty strings."""
    import numpy as np

    n = len(strs_a)
    enc_a = [b""] * n
    enc_b = [b""] * n
    fallback = np.zeros(n, dtype=bool)
    for i in range(n):
        x, y = strs_a[i], strs_b[i]
        if x.isascii() and y.isascii():
            enc_a[i] = x.encode()
            enc_b[i] = y.encode()
        else:
            fallback[i] = True
    offa = np.zeros(n + 1, dtype=np.int32)
    offb = np.zeros(n + 1, dtype=np.int32)
    np.cumsum([len(s) for s in enc_a], out=offa[1:])
    np.cumsum([len(s) for s in enc_b], out=offb[1:])
    return (b"".join(enc_a), offa, b"".join(enc_b), offb), fallback


def _run(fn, packed):
    """Call one C batch kernel over a ``_pack`` result; float64 scores."""
    import numpy as np

    bufa, offa, bufb, offb = packed
    n = len(offa) - 1
    p_i32 = ctypes.POINTER(ctypes.c_int32)
    res = np.empty(n, dtype=np.float64)
    fn(
        bufa, offa.ctypes.data_as(p_i32), bufb, offb.ctypes.data_as(p_i32),
        n, res.ctypes.data_as(ctypes.POINTER(ctypes.c_double)),
    )
    return res


def batch_jw_tri(names_a, names_b):
    """One ctypes call per Arrow batch instead of two per pair.

    Inputs: equal-length lists of ALREADY upper/stripped strings (no
    Nones). Returns (jw, tri, fallback) numpy arrays where fallback[i] is
    True for rows the C kernels cannot take (non-ASCII, >1024 bytes) —
    those rows score through the per-call Python path, keeping results
    bit-identical everywhere. None when no native library is available.
    """
    lib = get_lib()
    if lib is None:
        return None
    packed, fallback = _pack(names_a, names_b)
    jw = _run(lib.jaro_winkler_batch, packed)
    tri = _run(lib.trigram_cosine_batch, packed)
    # -1.0 = over-long sentinel from the C side
    fallback |= (jw < 0.0) | (tri < 0.0)
    return jw, tri, fallback


def batch_jw(strs_a, strs_b):
    """JW-only batch (addr component/normalized pairs): one ctypes call.
    Returns (jw, fallback) numpy arrays, or None without a native lib."""
    lib = get_lib()
    if lib is None:
        return None
    packed, fallback = _pack(strs_a, strs_b)
    jw = _run(lib.jaro_winkler_batch, packed)
    fallback |= jw < 0.0
    return jw, fallback
