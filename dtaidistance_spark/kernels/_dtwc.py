"""ctypes loader for the C banded-DTW kernel (_dtw_kernel.c).

The shared object is compiled on demand (once per host, guarded by a
file lock so concurrent Spark python workers don't race) and cached
next to the source with a build-tag name, so a source edit triggers a
rebuild and a stale .so is never loaded.  A read-only package directory
builds into a per-user 0700 directory under the system tmp instead.  So
that nobody else can plant code this process loads, a .so not owned by
this user or writable by group or others is refused before ``dlopen``,
as is a per-user directory that is not private (a warning, then the
numpy path).  Any other failure — no compiler, dlopen error — degrades
silently to ``lib() is None`` and callers fall back to the numpy path,
which is bit-identical.

Set ``DTW_C_KERNEL=0`` to disable the C path entirely (A/B harness).
"""

from __future__ import annotations

import ctypes
import hashlib
import os
import stat
import subprocess
import tempfile
import warnings

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
    # protected location): build in a per-user 0700 directory under tmp
    # instead of silently losing the C path; a shared tmp path would let
    # another user plant the .so.  None (numpy path) if that directory
    # exists but is not private to this user.
    d = os.path.join(tempfile.gettempdir(), f"dtaidistance_spark-{os.getuid()}")
    os.makedirs(d, 0o700, exist_ok=True)
    st = os.lstat(d)
    if not stat.S_ISDIR(st.st_mode) or st.st_uid != os.getuid() \
            or st.st_mode & 0o077:
        warnings.warn(f"{d} is not a directory private to this user; "
                      "using the numpy DTW path", RuntimeWarning,
                      stacklevel=2)
        return None
    return d


def _so_path(tag: str) -> str | None:
    d = _build_dir()
    return None if d is None else os.path.join(d, f"_dtw_kernel_{tag}.so")


def _tag() -> str:
    """Build tag: source + flags, so a flag change rebuilds too."""
    with open(_SRC, "rb") as f:
        return hashlib.sha256(
            f.read() + " ".join(_CFLAGS).encode()).hexdigest()[:16]


def _compile(tag: str) -> str | None:
    """Compile the kernel to its tagged .so path; returns the path or
    None.  A file lock serializes concurrent builders; the compile
    writes to a temp name and renames atomically, so a reader never
    dlopens a half-written file."""
    out = _so_path(tag)
    if out is None:
        return None
    if os.path.exists(out):
        return out
    lock_path = out + ".lock"
    try:
        import fcntl

        with open(lock_path, "w") as lock:
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
            cmd = ["cc", *_CFLAGS, "-fPIC", "-shared", "-o", tmp, _SRC,
                   "-lm"]
            try:
                r = subprocess.run(cmd, capture_output=True, timeout=120)
                if r.returncode != 0:
                    os.unlink(tmp)
                    return None
                # whatever the umask: the load check refuses a .so that
                # is group- or world-writable
                os.chmod(tmp, 0o755)
                os.rename(tmp, out)
                return out
            except Exception:
                try:
                    os.unlink(tmp)
                except OSError:
                    pass
                return None
    except Exception:
        return None


def lib():
    """The loaded C library, or None if unavailable/disabled."""
    global _lib, _tried
    if _tried:
        return _lib
    _tried = True
    if os.environ.get("DTW_C_KERNEL", "1") != "1":
        return None
    try:
        path = _compile(_tag())
        if path is None:
            return None
        st = os.stat(path)
        if st.st_uid != os.getuid() or st.st_mode & 0o022:
            warnings.warn(f"refusing to load {path}: not owned by this user "
                          "or writable by group/others; using the numpy "
                          "DTW path", RuntimeWarning, stacklevel=2)
            return None
        cdll = ctypes.CDLL(path)
        fn = cdll.dtw_batch
        fn.restype = ctypes.c_int
        fn.argtypes = [
            ctypes.c_void_p, ctypes.c_void_p,          # X1, X2
            ctypes.c_long, ctypes.c_long, ctypes.c_long,  # B, r, c
            ctypes.c_long,                             # window
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
    except Exception:
        _lib = None
    return _lib
