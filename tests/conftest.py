"""Shared pytest fixtures.

The pure-Python reference (wannesm/dtaidistance) imports with zero build
steps from /root/reference/src (verified in SURVEY.md §5); it is the
correctness oracle for all kernel tests (use_c=False paths only).  The
``dtw_oracle`` fixture falls back to a textbook DP when it is absent.
"""

import sys

import numpy as np
import pytest

REFERENCE_SRC = "/root/reference/src"
if REFERENCE_SRC not in sys.path:
    sys.path.insert(0, REFERENCE_SRC)


@pytest.fixture(scope="session")
def ref_dtw():
    from dtaidistance import dtw as ref_dtw_mod

    return ref_dtw_mod


@pytest.fixture(scope="session")
def dtw_oracle():
    """The reference's ``dtaidistance.dtw`` when it imports, else the
    in-repo textbook DP (tests/textbook_dtw.py) with the same call
    surface for distance, distance_matrix and distance_array_index."""
    try:
        from dtaidistance import dtw as ref_dtw_mod
    except ImportError:
        import textbook_dtw as ref_dtw_mod
    return ref_dtw_mod


@pytest.fixture(scope="session")
def ref_ed():
    from dtaidistance import ed as ref_ed_mod

    return ref_ed_mod


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
