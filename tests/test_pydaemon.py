"""The worker daemon's zipimporter patch: rescans only archives that changed."""

from __future__ import annotations

import importlib
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


def test_spark_workers_run_under_the_daemon(spark):
    def patched_by(_rows):
        import zipimport

        yield zipimport.zipimporter.invalidate_caches.__module__

    got = spark.sparkContext.parallelize(range(4), 4).mapPartitions(patched_by).collect()
    assert set(got) == {"docling_core_spark.pydaemon"}
