"""Session sizing: the default driver heap fits the host (no JVM)."""
import os

from semlink.session import driver_memory


def test_driver_memory_default_within_physical_ram(monkeypatch):
    monkeypatch.delenv("SEMLINK_DRIVER_MEM", raising=False)
    mem = driver_memory()
    assert mem.endswith("m")
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert 0 < int(mem[:-1]) * 2**20 <= phys

    monkeypatch.setenv("SEMLINK_DRIVER_MEM", "3g")
    assert driver_memory() == "3g"
