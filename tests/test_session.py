"""Default driver-heap sizing of ``session.get_spark`` (no Spark needed)."""

import os

from continuousfilteringbenchmark_spark import session


def _mb(mem: str) -> int:
    assert mem.endswith("m"), mem
    return int(mem[:-1])


def test_default_driver_memory_is_half_of_physical_memory(monkeypatch):
    monkeypatch.setattr(session, "_CGROUP_MEMORY_LIMITS", ())
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert _mb(session._default_driver_memory()) == max(1024, phys // 2 // 2**20)


def test_default_driver_memory_honours_a_cgroup_limit(monkeypatch, tmp_path):
    limit, unlimited = tmp_path / "memory.max", tmp_path / "v2.max"
    limit.write_text("4294967296\n")
    unlimited.write_text("max\n")
    monkeypatch.setattr(
        session, "_CGROUP_MEMORY_LIMITS", (str(unlimited), str(limit))
    )
    assert session._default_driver_memory() == "2048m"
    limit.write_text("1073741824\n")  # half of it is under the 1g floor
    assert session._default_driver_memory() == "1024m"
