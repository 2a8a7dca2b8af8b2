"""Driver-heap default of ``get_spark``: a fixed 24g heap got the JVM
OOM-killed on hosts with less memory than that, so the default is
capped at half of physical memory."""

from mvtspark.session import default_driver_memory


def _mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise AssertionError("MemTotal missing from /proc/meminfo")


def test_driver_memory_default_is_half_of_ram_capped_at_24g(monkeypatch):
    monkeypatch.delenv("MVTSPARK_DRIVER_MEM", raising=False)
    got = default_driver_memory()
    assert got.endswith("m")
    assert int(got[:-1]) == min(24 * 1024, _mem_total_mb() // 2)


def test_driver_memory_env_override_wins(monkeypatch):
    monkeypatch.setenv("MVTSPARK_DRIVER_MEM", "3g")
    assert default_driver_memory() == "3g"
