"""Session defaults that need no Spark: the driver-heap sizing."""

import pytest

from dtaidistance_spark.session import default_driver_memory


@pytest.mark.parametrize("total_kb, heap", [
    (15_728_640, "7680m"),        # 15 GB host: half
    (1_048_576, "1024m"),         # 1 GB host: the 1g floor
    (268_435_456, "24576m"),      # 256 GB host: the 24g cap
])
def test_driver_memory_is_half_of_memtotal(tmp_path, total_kb, heap):
    meminfo = tmp_path / "meminfo"
    meminfo.write_text(f"MemFree:         123 kB\n"
                       f"MemTotal:       {total_kb} kB\n")
    assert default_driver_memory(str(meminfo)) == heap


def test_driver_memory_unreadable_meminfo_is_spark_default(tmp_path):
    assert default_driver_memory(str(tmp_path / "missing")) == "1024m"
    (tmp_path / "no_total").write_text("MemFree: 1 kB\n")
    assert default_driver_memory(str(tmp_path / "no_total")) == "1024m"
