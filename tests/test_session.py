"""Session bootstrap: the driver-heap default follows the host's memory."""

from __future__ import annotations

from vers_spark.session import _driver_memory


def _meminfo(tmp_path, total_kb: int) -> str:
    p = tmp_path / "meminfo"
    p.write_text(f"MemTotal:       {total_kb} kB\nMemFree:        1024 kB\n")
    return str(p)


def test_driver_memory_is_half_the_host_capped_at_48g(tmp_path, monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    gib = 1024 * 1024  # kB
    assert _driver_memory(_meminfo(tmp_path, 16 * gib)) == "8192m"
    assert _driver_memory(_meminfo(tmp_path, 95 * gib)) == f"{95 * 512}m"
    assert _driver_memory(_meminfo(tmp_path, 96 * gib)) == "49152m"
    assert _driver_memory(_meminfo(tmp_path, 512 * gib)) == "49152m"
    # unreadable or malformed meminfo keeps the large-host default
    assert _driver_memory(str(tmp_path / "missing")) == "49152m"
    (tmp_path / "bad").write_text("MemFree: 1 kB\n")
    assert _driver_memory(str(tmp_path / "bad")) == "49152m"


def test_driver_memory_env_wins(tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "6g")
    assert _driver_memory(_meminfo(tmp_path, 16 * 1024 * 1024)) == "6g"
