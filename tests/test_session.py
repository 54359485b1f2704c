"""The driver heap default follows the host's RAM (small hosts get a heap
they can hold), capped at 64g, with ``SPARK_GRAFT_DRIVER_MEM`` as the
override."""

from __future__ import annotations

import pytest

from text_extraction_system_spark import session


def _meminfo(tmp_path, kib: int) -> str:
    p = tmp_path / "meminfo"
    p.write_text(f"MemTotal:       {kib} kB\nMemFree:        1024 kB\n")
    return str(p)


@pytest.mark.parametrize(
    "kib, want",
    [
        (16_456_436, "7g"),      # a 15.7 GiB host: half, rounded down
        (131_072_000, "62g"),    # 125 GiB
        (263_000_000, "64g"),    # 250 GiB: capped
        (1_500_000, "1g"),       # 1.4 GiB: never below 1g
    ],
)
def test_driver_memory_from_meminfo(tmp_path, monkeypatch, kib, want):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    assert session.driver_memory(_meminfo(tmp_path, kib)) == want


def test_driver_memory_unreadable_meminfo(tmp_path, monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    assert session.driver_memory(str(tmp_path / "missing")) == "64g"
    garbled = tmp_path / "garbled"
    garbled.write_text("MemTotal: lots\n")
    assert session.driver_memory(str(garbled)) == "64g"


def test_driver_memory_env_override(tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert session.driver_memory(_meminfo(tmp_path, 16_456_436)) == "3g"
