"""The Python-worker daemon (opfpg_daemon_preload.py) and the session
confs that select it.

Spark's worker sys.path starts with pyspark.zip, the py4j zip and the
spark-core jar; on Python 3.11 every task's invalidate_caches() makes
each zipimporter re-read its archive's central directory. The daemon
prunes archives an identical unpacked copy makes redundant, once,
before workers fork. These tests pin the pruning rule as a pure
function, its reporting, and the live worker's resulting sys.path.
"""

from __future__ import annotations

import os
import sys
import zipfile

import opfpg_daemon_preload as daemon
from optimal_parallel_fp_growth_spark.session import python_daemon_confs

VERSION = b"__version__ = '1.0'\n"


def _archive(path, files: dict[str, bytes]) -> str:
    with zipfile.ZipFile(path, "w") as zf:
        for name, data in files.items():
            zf.writestr(name, data)
    return str(path)


def _unpacked(root, pkg: str, version: bytes) -> str:
    (root / pkg).mkdir(parents=True)
    (root / pkg / "__init__.py").write_bytes(b"")
    (root / pkg / "version.py").write_bytes(version)
    return str(root)


def _package_zip(tmp_path, pkg: str) -> str:
    return _archive(
        tmp_path / f"{pkg}.zip",
        {f"{pkg}/__init__.py": b"", f"{pkg}/version.py": VERSION},
    )


def test_archive_without_python_is_dropped(tmp_path):
    jar = _archive(
        tmp_path / "core.jar",
        {"META-INF/MANIFEST.MF": b"", "org/apache/spark/Foo.class": b"\xca\xfe"},
    )
    site = str(tmp_path / "site")
    assert daemon.prune_archives([jar, site]) == ([site], [])


def test_archive_matching_an_unpacked_copy_is_dropped(tmp_path):
    archive = _package_zip(tmp_path, "pkg_a")
    site = _unpacked(tmp_path / "site", "pkg_a", VERSION)
    assert daemon.prune_archives([archive, site]) == ([site], [])


def test_archive_whose_version_differs_is_kept(tmp_path):
    archive = _package_zip(tmp_path, "pkg_b")
    site = _unpacked(tmp_path / "site", "pkg_b", b"__version__ = '2.0'\n")
    pruned, kept = daemon.prune_archives([archive, site])
    assert pruned == [archive, site]
    [(name, reason)] = kept
    assert name == archive and "version.py differs" in reason


def test_archive_without_unpacked_counterpart_is_kept(tmp_path):
    archive = _package_zip(tmp_path, "pkg_c")
    site = _unpacked(tmp_path / "site", "other", VERSION)
    pruned, kept = daemon.prune_archives([archive, site])
    assert pruned == [archive, site]
    [(name, reason)] = kept
    assert name == archive and "no unpacked copy" in reason


def test_prune_sys_path_reports_kept_archives_and_forgets_dropped_importers(
    tmp_path, monkeypatch, capsys
):
    jar = _archive(tmp_path / "core.jar", {"org/Foo.class": b""})
    lonely = _package_zip(tmp_path, "pkg_d")
    site = str(tmp_path / "site")
    monkeypatch.setattr(sys, "path", [jar, lonely, site])
    monkeypatch.setattr(
        sys,
        "path_importer_cache",
        {jar: object(), os.path.join(jar, "org"): object(), lonely: object()},
    )
    daemon._prune_sys_path()
    assert sys.path == [lonely, site]
    assert list(sys.path_importer_cache) == [lonely]
    err = capsys.readouterr().err.strip().splitlines()
    assert len(err) == 1 and lonely in err[0] and "no unpacked copy" in err[0]


def test_pruning_error_keeps_the_full_path_and_reports(tmp_path, monkeypatch, capsys):
    def broken(path):
        raise OSError("unreadable archive")

    path = [str(tmp_path / "a.zip"), str(tmp_path)]
    monkeypatch.setattr(sys, "path", list(path))
    monkeypatch.setattr(daemon, "prune_archives", broken)
    daemon._prune_sys_path()
    assert sys.path == path
    assert "unreadable archive" in capsys.readouterr().err


def test_live_worker_has_no_archives_on_its_path(spark):
    """Guards the per-task cost without timing it: a worker that still
    carries a zipimporter re-reads its archive on every task."""
    import pyspark

    def probe(batches):
        import sys
        import zipimport

        import pandas as pd
        import pyspark

        for _ in batches:
            pass
        yield pd.DataFrame(
            {
                "archives": [
                    [p for p in sys.path if os.path.isfile(p) and zipfile.is_zipfile(p)]
                ],
                "importers": [
                    [
                        k
                        for k, v in sys.path_importer_cache.items()
                        if isinstance(v, zipimport.zipimporter)
                    ]
                ],
                "pyspark_file": [pyspark.__file__],
            }
        )

    rows = (
        spark.range(1)
        .mapInPandas(
            probe, "archives array<string>, importers array<string>, pyspark_file string"
        )
        .collect()
    )
    for row in rows:
        assert row.archives == []
        assert row.importers == []
        assert row.pyspark_file == pyspark.__file__


def test_daemon_confs_apply_only_to_local_masters():
    for master in ("local", "local[4]", "local[*]", "local[4,2]"):
        confs = python_daemon_confs(master)
        assert set(confs) == {
            "spark.python.daemon.module",
            "spark.executorEnv.PYTHONPATH",
        }, master
    for master in ("spark://host:7077", "yarn", "k8s://https://host:443", "local-cluster[2,1,1024]"):
        assert python_daemon_confs(master) == {}, master
