"""Shared pytest fixtures.

Kernel parity runs against the pure-Python reference (wannesm/
dtaidistance, ``use_c=False`` paths) when it imports, from
``REFERENCE_SRC`` or the environment, and otherwise against in-repo
textbook oracles written from the documented recurrences
(tests/textbook_dtw.py, tests/textbook_oracles.py).  The ``oracle``
fixture picks one per reference module; ``ref_dtw`` (also named
``dtw_oracle``) and ``ref_ed`` are its ``dtw`` and ``ed`` modules.

Nine tests check conventions only the reference's own code fixes
(DetectKnee, the relaxed postprocessing rules, the weighted DTW profile,
LoCo, hangover, ``linearly_scale``, ``mixedlinearlogdomain``'s tuple
form).  They read the reference through ``pytest.importorskip`` and are
skipped where it does not import.
"""

import importlib
import sys

import numpy as np
import pytest

REFERENCE_SRC = "/root/reference/src"
if REFERENCE_SRC not in sys.path:
    sys.path.insert(0, REFERENCE_SRC)


@pytest.fixture(scope="session")
def oracle():
    """``oracle(name)``: the reference's ``dtaidistance.<name>`` when it
    imports, else its textbook stand-in with the same call surface for
    the calls the tests make."""
    def get(name):
        try:
            return importlib.import_module("dtaidistance." + name)
        except ImportError:
            import textbook_oracles

            return textbook_oracles.MODULES[name]

    return get


@pytest.fixture(scope="session")
def ref_dtw(oracle):
    return oracle("dtw")


@pytest.fixture(scope="session")
def dtw_oracle(ref_dtw):
    return ref_dtw


@pytest.fixture(scope="session")
def ref_ed(oracle):
    return oracle("ed")


@pytest.fixture
def numpy_dtw(monkeypatch):
    """Hide the C DTW kernel, as if it could not load: distance calls
    run the numpy DP in kernels/dtw.py."""
    from dtaidistance_spark.kernels import _dtwc

    monkeypatch.setattr(_dtwc, "_lib", None)
    monkeypatch.setattr(_dtwc, "_tried", True)


@pytest.fixture(scope="session")
def rng():
    return np.random.default_rng(42)


@pytest.fixture(scope="session")
def spark():
    """Session-scoped local SparkSession (local[4] keeps tests snappy)."""
    from dtaidistance_spark.session import get_spark

    s = get_spark(app_name="tests", cores=4, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture
def in_blocks(monkeypatch):
    """``in_blocks(nbytes, run)`` returns ``run()`` computed with the pair
    executor's corpus cut into broadcast blocks of at most ``nbytes``,
    and asserts that each matrix call in it cut at least three."""
    from dtaidistance_spark.operators import matrix as M

    def run_in_blocks(nbytes, run):
        counts = []
        cut = M._block_cuts

        def spy(sizes, cap):
            cuts = cut(sizes, cap)
            counts.append(len(cuts) - 1)
            return cuts

        with monkeypatch.context() as m:
            m.setattr(M, "_BLOCK_BYTES", nbytes)
            m.setattr(M, "_block_cuts", spy)
            out = run()
        assert counts and min(counts) >= 3, counts
        return out

    return run_in_blocks
