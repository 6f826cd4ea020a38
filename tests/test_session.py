"""Local-mode session sizing: the default driver heap follows the
machine's memory (or its cgroup limit) instead of a fixed 48 GiB, which
outgrew a 15 GiB host and got the test JVM OOM-killed."""

from __future__ import annotations

from featherstore_spark.session import default_driver_memory

GIB_KB = 1 << 20


def _meminfo(tmp_path, total_kb):
    p = tmp_path / "meminfo"
    p.write_text(f"MemTotal:       {total_kb} kB\nMemFree:        1024 kB\n")
    return str(p)


def test_heap_is_a_share_of_physical_memory(tmp_path):
    mem = _meminfo(tmp_path, 16 * GIB_KB)
    got = default_driver_memory(mem, str(tmp_path / "no-cgroup"))
    assert got == f"{int(16 * 1024 * 0.4)}m"  # 40% of 16 GiB, well under the box


def test_cgroup_limit_wins_when_smaller(tmp_path):
    mem = _meminfo(tmp_path, 64 * GIB_KB)
    cg = tmp_path / "memory.max"
    cg.write_text(f"{8 << 30}\n")
    assert default_driver_memory(mem, str(cg)) == f"{int(8 * 1024 * 0.4)}m"
    cg.write_text("max\n")  # no limit set: physical memory decides
    assert default_driver_memory(mem, str(cg)) == f"{int(64 * 1024 * 0.4)}m"


def test_heap_capped_on_large_hosts(tmp_path):
    mem = _meminfo(tmp_path, 512 * GIB_KB)
    assert default_driver_memory(mem, str(tmp_path / "none")) == f"{48 * 1024}m"


def test_unreadable_memory_info_falls_back(tmp_path):
    assert default_driver_memory(str(tmp_path / "a"), str(tmp_path / "b")) == "4g"
