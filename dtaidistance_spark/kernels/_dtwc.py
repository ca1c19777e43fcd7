"""ctypes loader for the C banded-DTW kernel (_dtw_kernel.c).

The shared object is compiled on demand (once per host, guarded by a
file lock so concurrent Spark python workers don't race) and cached
next to the source with a build-tag name, so a source edit triggers a
rebuild and a stale .so is never loaded.  A read-only package directory
builds into a per-user 0700 directory under the system tmp instead.  So
that nobody else can plant code this process loads, a .so not owned by
this user or writable by group or others is refused before ``dlopen``,
as is a per-user directory that is not private (a warning, then the
numpy path).  Any other failure — a compiler error, a dlopen error —
warns once per process with its reason and degrades to ``lib() is
None``: callers then run the numpy DP in ``kernels/dtw.py``, whose
results are bit-identical.  Tests hide the library by setting
``_lib, _tried = None, True``.
"""

from __future__ import annotations

import ctypes
import hashlib
import os
import subprocess
import tempfile
import warnings

from .._private import check_owned, private_dir

_SRC = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                    "_dtw_kernel.c")

_lib = None
_tried = False


_CFLAGS = ["-O3", "-march=native", "-ffp-contract=off",
           "-mprefer-vector-width=512"]


def _build_dir() -> str | None:
    d = os.environ.get("DTW_C_BUILD_DIR")
    if d:
        return d
    pkg = os.path.dirname(_SRC)
    if os.access(pkg, os.W_OK):
        return pkg
    # read-only checkout (e.g. a driver running the tree from a
    # protected location): build in the per-user private directory
    # instead of silently losing the C path.  None (numpy path) if that
    # directory exists but is not private to this user.
    try:
        return private_dir()
    except PermissionError as e:
        warnings.warn(f"{e}; using the numpy DTW path", RuntimeWarning,
                      stacklevel=2)
        return None


def _so_path(tag: str) -> str | None:
    d = _build_dir()
    return None if d is None else os.path.join(d, f"_dtw_kernel_{tag}.so")


def _tag() -> str:
    """Build tag: source + flags, so a flag change rebuilds too."""
    with open(_SRC, "rb") as f:
        return hashlib.sha256(
            f.read() + " ".join(_CFLAGS).encode()).hexdigest()[:16]


def _compile(tag: str) -> str | None:
    """Compile the kernel to its tagged .so path; returns the path, or
    None when there is no build directory.  A failed build raises with
    the compiler's exit status and stderr tail.  A file lock serializes
    concurrent builders; the compile writes to a temp name and renames
    atomically, so a reader never dlopens a half-written file."""
    out = _so_path(tag)
    if out is None:
        return None
    if os.path.exists(out):
        return out
    import fcntl

    with open(out + ".lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(out):
            return out
        fd, tmp = tempfile.mkstemp(suffix=".so", dir=os.path.dirname(out))
        os.close(fd)
        # -ffp-contract=off: forbid FMA contraction of d*d + m —
        # contraction changes the last ULP and breaks bit-equality
        # with the numpy path (numpy never fuses).
        # -mprefer-vector-width=512: gcc defaults to 256-bit vectors
        # on this uarch; measured +17% single-core and +5.6% at
        # 32-way saturation (no downclock penalty), ops unchanged.
        cmd = ["cc", *_CFLAGS, "-fPIC", "-shared", "-o", tmp, _SRC, "-lm"]
        try:
            r = subprocess.run(cmd, capture_output=True, timeout=120)
            if r.returncode != 0:
                tail = r.stderr.decode(errors="replace").strip()[-500:]
                raise RuntimeError(f"cc exited with status {r.returncode}: "
                                   f"{tail}")
            # whatever the umask: the load check refuses a .so that
            # is group- or world-writable
            os.chmod(tmp, 0o755)
            os.rename(tmp, out)
            return out
        finally:
            if os.path.exists(tmp):
                os.unlink(tmp)


def lib():
    """The loaded C library, or None if unavailable."""
    global _lib, _tried
    if _tried:
        return _lib
    _tried = True
    try:
        path = _compile(_tag())
        if path is None:
            return None
        try:
            check_owned(path)
        except PermissionError as e:
            warnings.warn(f"refusing to load {e}; using the numpy DTW path",
                          RuntimeWarning, stacklevel=2)
            return None
        cdll = ctypes.CDLL(path)
        fn = cdll.dtw_batch
        fn.restype = ctypes.c_int
        fn.argtypes = [
            ctypes.c_void_p, ctypes.c_void_p,          # X1, X2
            ctypes.c_long, ctypes.c_long, ctypes.c_long,  # B, r, c
            ctypes.c_long, ctypes.c_long,              # dim, window
            ctypes.c_long, ctypes.c_long,              # psi1b, psi1e
            ctypes.c_long, ctypes.c_long,              # psi2b, psi2e
            ctypes.c_double, ctypes.c_double,          # pen, max_step
            ctypes.c_int,                              # squared
            ctypes.c_void_p,                           # out
        ]
        fni = cdll.dtw_batch_idx
        fni.restype = ctypes.c_int
        fni.argtypes = [
            ctypes.c_void_p, ctypes.c_long,            # V, L
            ctypes.c_void_p, ctypes.c_void_p,          # ii, jj
            ctypes.c_long, ctypes.c_long,              # B, window
            ctypes.c_long, ctypes.c_long,              # psi1b, psi1e
            ctypes.c_long, ctypes.c_long,              # psi2b, psi2e
            ctypes.c_double, ctypes.c_double,          # pen, max_step
            ctypes.c_int,                              # squared
            ctypes.c_void_p,                           # out
        ]
        _lib = cdll
    except Exception as e:
        warnings.warn(f"C DTW kernel unavailable ({type(e).__name__}: {e}); "
                      "using the numpy DTW path", RuntimeWarning,
                      stacklevel=2)
        _lib = None
    return _lib
