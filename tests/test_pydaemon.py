"""The worker daemon: pyspark from a same-release compiled install, and a
zipimporter patch that rescans only archives that changed."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

from docling_core_spark import pydaemon


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


def test_invalidate_caches_rereads_only_changed_archives(tmp_path, monkeypatch):
    archive = tmp_path / "mods.zip"
    _write_zip(archive, {"pydaemon_probe_a": "VALUE = 'a'\n"})
    reads: list[str] = []
    real_read = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return real_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", pydaemon.invalidate_caches)
    monkeypatch.syspath_prepend(str(archive))
    for name in ("pydaemon_probe_a", "pydaemon_probe_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)

    assert importlib.import_module("pydaemon_probe_a").VALUE == "a"
    importer = sys.path_importer_cache[str(archive)]
    assert isinstance(importer, zipimport.zipimporter)

    importer.invalidate_caches()  # first sight of the archive: read and stamp it
    n = len(reads)
    importer.invalidate_caches()
    assert len(reads) == n, "unchanged archive was re-read"

    _write_zip(archive, {"pydaemon_probe_a": "VALUE = 'a'\n", "pydaemon_probe_b": "VALUE = 'b'\n"})
    importer.invalidate_caches()
    assert reads[n:] == [str(archive)], "rewritten archive was not re-read"
    assert importlib.import_module("pydaemon_probe_b").VALUE == "b"


def _version_py(version: str) -> str:
    return f"__version__: str = '{version}'\n"


def _fake_pyspark_zip(path, version: str) -> str:
    _write_zip(path, {"pyspark/__init__": "", "pyspark/version": _version_py(version)})
    return str(path)


def _fake_pyspark_install(root, version: str) -> str:
    pkg = root / "pyspark"
    pkg.mkdir(parents=True)
    (pkg / "__init__.py").write_text("")
    (pkg / "version.py").write_text(_version_py(version))
    return str(root)


def test_same_release_install_drops_the_zip(tmp_path):
    zipped = _fake_pyspark_zip(tmp_path / "pyspark.zip", "4.1.2")
    py4j = str(tmp_path / "py4j-src.zip")
    _write_zip(py4j, {"py4j_probe": ""})
    jar = str(tmp_path / "spark-core_2.13-4.1.2.jar")
    _write_zip(jar, {"Probe": ""})  # an archive without pyspark is skipped
    site = _fake_pyspark_install(tmp_path / "site", "4.1.2")
    path = [str(tmp_path / "repo"), zipped, py4j, jar, site]

    assert pydaemon.compiled_pyspark_path(path) == [str(tmp_path / "repo"), py4j, jar, site]


def test_different_release_keeps_the_zip(tmp_path):
    zipped = _fake_pyspark_zip(tmp_path / "pyspark.zip", "4.1.2")
    site = _fake_pyspark_install(tmp_path / "site", "4.1.1")
    path = [zipped, site]

    assert pydaemon.compiled_pyspark_path(path) is path


def test_no_directory_install_keeps_the_zip(tmp_path):
    zipped = _fake_pyspark_zip(tmp_path / "pyspark.zip", "4.1.2")
    path = [zipped, str(tmp_path / "missing"), str(tmp_path)]

    assert pydaemon.compiled_pyspark_path(path) is path


def test_an_archive_is_never_the_install(tmp_path):
    zipped = _fake_pyspark_zip(tmp_path / "pyspark.zip", "4.1.2")
    jar = _fake_pyspark_zip(tmp_path / "spark-core_2.13-4.1.2.jar", "4.1.2")
    assert pydaemon.compiled_pyspark_path([zipped, jar]) == [zipped, jar]

    # a shadowing jar of another release keeps every archive in place
    jar_old = _fake_pyspark_zip(tmp_path / "spark-core_2.13-4.1.1.jar", "4.1.1")
    site = _fake_pyspark_install(tmp_path / "site", "4.1.2")
    path = [zipped, jar_old, site]
    assert pydaemon.compiled_pyspark_path(path) is path


def test_spark_workers_run_under_the_daemon(spark):
    """The workers run under the daemon's zipimporter patch and, although the
    JVM puts ``pyspark.zip`` first on their path, load pyspark from the same
    directory install of the same release as the driver."""
    import pyspark

    assert os.path.isfile(pyspark.__file__), "the driver's pyspark is not a directory install"

    def loaded_from(_rows):
        import zipimport

        import pyspark

        yield zipimport.zipimporter.invalidate_caches.__module__, pyspark.__file__

    got = set(spark.sparkContext.parallelize(range(4), 4).mapPartitions(loaded_from).collect())
    assert got == {("docling_core_spark.pydaemon", pyspark.__file__)}
