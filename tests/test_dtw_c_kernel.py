"""The C banded-DTW kernel (kernels/_dtw_kernel.c) must be bit-identical
to the numpy anti-diagonal DP — every setting combination, both inner
distances, ragged shapes, degenerate lengths, 1-D and n-D points."""

import os
import stat
import warnings

import numpy as np
import pytest

from dtaidistance_spark.kernels import dtw as K
from dtaidistance_spark.kernels import _dtwc


def _numpy_only(fn, *args, **kwargs):
    """Run fn with the C library hidden (forces the numpy path)."""
    saved = _dtwc._lib, _dtwc._tried
    _dtwc._lib, _dtwc._tried = None, True
    try:
        return fn(*args, **kwargs)
    finally:
        _dtwc._lib, _dtwc._tried = saved


@pytest.fixture(scope="module")
def clib():
    lib = _dtwc.lib()
    if lib is None:
        pytest.skip("C kernel unavailable (no compiler?) — numpy "
                    "fallback is the active path, nothing to compare")
    return lib


@pytest.mark.parametrize("shape", [(504, 504), (50, 50), (37, 53),
                                   (53, 37), (24, 24), (2, 5), (1, 1)])
@pytest.mark.parametrize("window", [None, 24, 3, 1])
def test_c_bitequal_shapes_windows(clib, shape, window):
    r, c = shape
    for dim in (1, 2, 3):
        rng = np.random.default_rng(7)
        ext = () if dim == 1 else (dim,)
        X1 = rng.normal(size=(9, r) + ext)
        X2 = rng.normal(size=(9, c) + ext)
        for psi in [None, 2, (1, 2, 3, 0)]:
            for pen in [None, 0.7]:
                for ms in [None, 1.5]:
                    for inner in ["squared euclidean", "euclidean"]:
                        s = K.DtwSettings(window=window, psi=psi,
                                          penalty=pen, max_step=ms,
                                          inner_dist=inner)
                        d_c = K.dtw_distance_batch(X1, X2, settings=s)
                        d_np = _numpy_only(K.dtw_distance_batch, X1, X2,
                                           settings=s)
                        assert np.array_equal(d_c, d_np), \
                            (dim, shape, window, psi, pen, ms, inner)


def test_c_bitequal_max_dist(clib):
    rng = np.random.default_rng(11)
    X1 = rng.normal(size=(16, 60))
    X2 = rng.normal(size=(16, 60))
    s = K.DtwSettings(window=8, max_dist=5.0)
    d_c = K.dtw_distance_batch(X1, X2, settings=s)
    d_np = _numpy_only(K.dtw_distance_batch, X1, X2, settings=s)
    assert np.array_equal(d_c, d_np)


def test_indexed_entry_bitequal():
    """dtw_distance_batch_indexed (zero-copy corpus-matrix path) must
    equal the stacked batch entry bit-for-bit, C or numpy."""
    import numpy as np

    from dtaidistance_spark.operators.matrix import _compute_pairs

    rng = np.random.default_rng(3)
    n, L = 60, 40
    V = rng.normal(size=(n, L))
    vals = {i: V[i].copy() for i in range(n)}
    ii = rng.integers(0, n, 500)
    jj = rng.integers(0, n, 500)
    for s in [K.DtwSettings(window=12), K.DtwSettings(psi=2, penalty=0.3),
              K.DtwSettings(window=7, inner_dist="euclidean"),
              K.DtwSettings()]:
        d_idx = K.dtw_distance_batch_indexed(V, ii, jj, settings=s)
        d_ref = K.dtw_distance_batch(V[ii], V[jj], settings=s)
        assert np.array_equal(d_idx, d_ref)
        oi, oj, od = _compute_pairs(ii, jj, vals, s)
        assert np.array_equal(np.sort(od), np.sort(d_ref))


_LANE_SETTINGS = [{}, {"psi": 2}, {"psi": (1, 2, 3, 0)}, {"penalty": 0.7},
                  {"max_step": 1.5}, {"inner_dist": "euclidean"},
                  {"psi": 2, "penalty": 0.7, "max_step": 1.5,
                   "inner_dist": "euclidean"}]


@pytest.mark.parametrize("B", [1, 7, 8, 9, 500])
@pytest.mark.parametrize("window", [None, 1, 3, 24, 160, 161, 200])
def test_indexed_lanes_bitequal(clib, B, window):
    """dtw_batch_idx runs pairs eight to a vector up to a band of 160
    (LANE_MAX_WINDOW) and pads the last group; a wider band (161, and
    None or 200 = L) runs one pair at a time.  Both must equal the numpy
    DP bit for bit, whatever B leaves in the last group."""
    rng = np.random.default_rng(B)
    n, L = 40, 200
    V = rng.normal(size=(n, L))
    ii = rng.integers(0, n, B)
    jj = rng.integers(0, n, B)
    for kw in _LANE_SETTINGS:
        s = K.DtwSettings(window=window, **kw)
        d_c = K.dtw_distance_batch_indexed(V, ii, jj, settings=s)
        d_np = _numpy_only(K.dtw_distance_batch_indexed, V, ii, jj,
                           settings=s)
        assert np.array_equal(d_c, d_np), kw


@pytest.fixture
def fresh_loader(monkeypatch, tmp_path):
    """Loader state reset, builds under tmp_path, CDLL calls recorded."""
    monkeypatch.setenv("DTW_C_BUILD_DIR", str(tmp_path))
    monkeypatch.setattr(_dtwc, "_lib", None)
    monkeypatch.setattr(_dtwc, "_tried", False)
    opened = []
    monkeypatch.setattr(_dtwc.ctypes, "CDLL", opened.append)
    return opened


def _plant(uid=None, mode=0o755):
    """A fake .so at the exact path the loader would build to."""
    path = _dtwc._so_path(_dtwc._tag())
    with open(path, "wb") as f:
        f.write(b"not an ELF")
    os.chmod(path, mode)
    if uid is not None:
        os.chown(path, uid, -1)
    return path


@pytest.mark.parametrize("mode", [0o666, 0o775, 0o757])
def test_writable_planted_so_refused(fresh_loader, mode):
    _plant(mode=mode)
    with pytest.warns(RuntimeWarning, match="refusing to load"):
        assert _dtwc.lib() is None
    assert fresh_loader == []


@pytest.mark.skipif(os.getuid() != 0, reason="chown to another user "
                    "needs root")
def test_foreign_owned_planted_so_refused(fresh_loader):
    _plant(uid=os.getuid() + 4242)
    with pytest.warns(RuntimeWarning, match="refusing to load"):
        assert _dtwc.lib() is None
    assert fresh_loader == []


def test_private_planted_so_reaches_dlopen(fresh_loader):
    """The control: an owned, non-writable .so passes the check."""
    path = _plant()
    _dtwc.lib()
    assert fresh_loader == [path]


def test_read_only_package_builds_in_private_dir(monkeypatch, tmp_path):
    monkeypatch.delenv("DTW_C_BUILD_DIR", raising=False)
    monkeypatch.setattr(_dtwc.os, "access", lambda *a: False)
    monkeypatch.setattr(_dtwc.tempfile, "tempdir", str(tmp_path))
    d = _dtwc._build_dir()
    assert d == str(tmp_path / f"dtaidistance_spark-{os.getuid()}")
    assert stat.S_IMODE(os.stat(d).st_mode) == 0o700
    os.chmod(d, 0o755)              # no longer private: refused
    with pytest.warns(RuntimeWarning, match="not a directory private"):
        assert _dtwc._build_dir() is None


def test_failed_build_warns_with_reason(fresh_loader, monkeypatch):
    """A compiler failure falls back to numpy with one warning that
    carries cc's exit status and stderr, and leaves no temp file."""
    monkeypatch.setattr(_dtwc, "_CFLAGS", [*_dtwc._CFLAGS,
                                           "-fno-such-flag-here"])
    with pytest.warns(RuntimeWarning,
                      match=r"status \d+: .*-fno-such-flag-here"):
        assert _dtwc.lib() is None
    assert not [f for f in os.listdir(os.environ["DTW_C_BUILD_DIR"])
                if f.endswith(".so")]
    assert fresh_loader == []
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        assert _dtwc.lib() is None  # once per process: no second warning


def test_dlopen_error_warns(fresh_loader, monkeypatch):
    _plant()

    def fail(path):
        raise OSError(f"{path}: invalid ELF header")

    monkeypatch.setattr(_dtwc.ctypes, "CDLL", fail)
    with pytest.warns(RuntimeWarning, match="OSError: .*invalid ELF header"):
        assert _dtwc.lib() is None
