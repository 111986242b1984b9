"""Session defaults that do not need a running JVM."""

from __future__ import annotations

import pytest

from vectrain_spark.session import default_driver_memory


@pytest.mark.parametrize(
    "mem_total_kb, want",
    [
        (16_456_384, "8035m"),  # a 16 GB host: half of MemTotal
        (2 * 48 * 1024 * 1024, "24576m"),  # exactly 48 GB: half is the 24g cap
        (256 * 1024 * 1024, "24576m"),  # a 256 GB host: capped at 24g
        (2048, "1m"),
    ],
)
def test_driver_memory_is_half_of_memtotal_capped_at_24g(tmp_path, mem_total_kb, want):
    meminfo = tmp_path / "meminfo"
    meminfo.write_text(f"MemFree:  1000 kB\nMemTotal:  {mem_total_kb} kB\nCached:  0 kB\n")
    assert default_driver_memory(str(meminfo)) == want


@pytest.mark.parametrize("content", [None, "MemFree: 1000 kB\n", "MemTotal: lots\n"])
def test_driver_memory_falls_back_to_24g(tmp_path, content):
    meminfo = tmp_path / "meminfo"
    if content is not None:
        meminfo.write_text(content)
    assert default_driver_memory(str(meminfo)) == "24g"
