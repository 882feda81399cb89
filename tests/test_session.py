"""Host-sized session defaults."""

import os

import pytest

from kawa_spark.session import _host_driver_memory


@pytest.mark.skipif(
    not os.path.exists("/proc/meminfo"), reason="needs /proc/meminfo"
)
def test_default_driver_memory_fits_host_ram():
    """The local-mode JVM heap cap leaves half the RAM to the JVM's
    off-heap memory, the Python workers and the OS."""
    with open("/proc/meminfo") as f:
        total_mb = int(f.readline().split()[1]) // 1024
    mem = _host_driver_memory()
    assert mem.endswith("m")
    assert 0 < int(mem[:-1]) <= min(48 * 1024, total_mb // 2)
