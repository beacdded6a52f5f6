"""Session bootstrap: the driver-heap default follows the host's memory,
and importing vers_spark makes zip-archive cache resets lazy, in this
process and in every Spark Python worker that runs a vers_spark kernel."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

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


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    """A one-module archive on sys.path, imported once."""
    archive = tmp_path / "lazy_zip_mods.zip"
    _write_zip(archive, {"lazy_zip_a": "VALUE = 1\n"})
    monkeypatch.syspath_prepend(str(archive))
    import lazy_zip_a  # noqa: F401

    yield archive
    for name in ("lazy_zip_a", "lazy_zip_b"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(str(archive), None)
    zipimport._zip_directory_cache.pop(str(archive), None)


def _count_reads(monkeypatch) -> list[str]:
    """Archives whose central directory is read from now on."""
    calls: list[str] = []
    real = zipimport._read_directory

    def counting(archive):
        calls.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


def test_archive_is_reread_only_when_it_changes(zip_on_path, monkeypatch):
    importlib.invalidate_caches()  # a reset the importer has not yet seen reads once
    calls = _count_reads(monkeypatch)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert calls == []
    # a rewrite changes the archive's size: the next reset reads it again
    _write_zip(zip_on_path, {"lazy_zip_a": "VALUE = 1\n", "lazy_zip_b": "VALUE = 2\n"})
    importlib.invalidate_caches()
    assert calls == [str(zip_on_path)]
    import lazy_zip_b

    assert lazy_zip_b.VALUE == 2


def test_install_twice_keeps_one_hook():
    from vers_spark.session import _install_lazy_zip_invalidate

    hook = zipimport.zipimporter.invalidate_caches
    _install_lazy_zip_invalidate()
    assert zipimport.zipimporter.invalidate_caches is hook


def test_worker_reset_skips_unchanged_archives(spark, tmp_path):
    """Inside a Spark Python worker running a kernel that references a
    vers_spark module, as every kernel does, a reset after the first reads
    no archive: the worker's pyspark.zip, py4j and spark-core importers
    and a test archive it imports from."""
    from vers_spark.functions import vector_np as VN

    archive = str(tmp_path / "lazy_zip_worker.zip")
    _write_zip(archive, {"lazy_zip_worker": "VALUE = 3\n"})

    def probe(batches):
        import importlib
        import sys
        import zipimport

        import pandas as pd

        assert VN.fold_distances is not None
        sys.path.insert(0, archive)
        try:
            import lazy_zip_worker  # noqa: F401

            # PySpark's worker resets before every task; this first reset
            # stands in for it on a worker that has not run a task since
            # vers_spark was imported
            importlib.invalidate_caches()
            calls = []
            real = zipimport._read_directory

            def counting(path):
                calls.append(path)
                return real(path)

            zipimport._read_directory = counting
            try:
                importlib.invalidate_caches()
            finally:
                zipimport._read_directory = real
            zips = sum(
                isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values()
            )
        finally:
            sys.path.remove(archive)
            sys.path_importer_cache.pop(archive, None)
            sys.modules.pop("lazy_zip_worker", None)
        for _ in batches:
            pass
        yield pd.DataFrame({"reads": [len(calls)], "zips": [zips]})

    (row,) = spark.range(1, numPartitions=1).mapInPandas(probe, "reads long, zips long").collect()
    assert row["zips"] >= 1
    assert row["reads"] == 0
