"""PySpark worker daemon with a pruned ``sys.path`` and heavy libraries
pre-imported.

PySpark workers fork from a per-executor daemon process
(``pyspark.daemon``), launched as ``python -m <module>`` through the
pluggable ``spark.python.daemon.module`` hook. Everything this module
does runs once in that daemon, before any worker forks, and every
worker inherits the result through fork copy-on-write.

Archive pruning. Spark puts three archives at the front of the worker
``PYTHONPATH``: ``$SPARK_HOME/python/lib/pyspark.zip``, the py4j source
zip and the spark-core jar (thousands of class files, no Python at
all). For EVERY task the worker runs ``setup_spark_files``
(``pyspark/worker_util.py``), which ends in
``importlib.invalidate_caches()``. On Python 3.11 each cached
``zipimporter`` answers that call by re-reading its archive's whole
central directory, eagerly, and there is one importer per package path
inside each archive: ~16 directory re-reads, ~100-150 ms of Python CPU
per task on a 4-core host, paid by every ``mapInPandas`` /
``applyInPandas`` task the engine runs. Python >= 3.12 makes the
re-read lazy (deferred until the importer is next asked for a module),
so there the saving is smaller.
:func:`prune_archives` drops an archive from the daemon's ``sys.path``
(and its importers from ``sys.path_importer_cache``) when

- it provides no Python modules (the spark-core jar), or
- every top-level package it provides also resolves from an unpacked
  ``sys.path`` directory whose ``<pkg>/version.py`` is byte-identical
  to the archive's (a pip-installed pyspark matching ``SPARK_HOME``:
  the copy the driver itself imports).

Any other archive is kept, and the daemon writes one stderr line naming
it and the reason ("no unpacked copy" / "version.py differs"); workers
then behave exactly as under the stock daemon.

Preload. pandas, numpy and pyarrow are imported in the daemon, so each
fresh worker that touches an Arrow/pandas path skips the ~1 s import
chain before its first batch (measured r17 as the dominant cost of a
session's FIRST Arrow stage). None of them spawn threads or open
descriptors at import time (fork-safety): numpy's BLAS pools and
pyarrow's memory pools are created lazily, post-fork, in the worker.

Both steps are best-effort by design: a pruning error keeps the full
path and reports it, and an import failure is swallowed (a worker that
needs pandas re-raises its own ImportError with full context). The
daemon must never die over either.

This module lives at the REPO ROOT, outside the engine package, on
purpose: ``python -m`` of a package-internal module would execute the
package ``__init__`` (the entire engine, and pyspark.sql) UNGUARDED
before anything here runs, so any import-time error anywhere in the
engine would kill the daemon, and every executor daemon would carry the
whole engine module tree it never uses.
"""

from __future__ import annotations

import os
import pathlib
import sys
import zipfile

_LOG_PREFIX = "opfpg_daemon_preload:"


def _archive_verdict(archive: str, path: list[str]) -> str | None:
    """``None`` when ``archive`` can leave the path, else the reason it
    must stay."""
    with zipfile.ZipFile(archive) as zf:
        packages = {
            n.partition("/")[0] if "/" in n else n.rpartition(".")[0]
            for n in zf.namelist()
            if n.endswith((".py", ".pyc"))
        }
        for pkg in sorted(packages):
            unpacked = next(
                (
                    d
                    for d in path
                    if os.path.isfile(os.path.join(d, pkg, "__init__.py"))
                ),
                None,
            )
            if unpacked is None:
                return f"no unpacked copy of {pkg!r}"
            version = pathlib.Path(unpacked, pkg, "version.py")
            try:
                same = zf.read(f"{pkg}/version.py") == version.read_bytes()
            except (KeyError, OSError):  # either side has no version.py
                same = False
            if not same:
                return f"{pkg}/version.py differs from {version}"
    return None


def prune_archives(path: list[str]) -> tuple[list[str], list[tuple[str, str]]]:
    """Apply the pruning rule (module docstring) to a ``sys.path``-style
    list. Returns the pruned list and ``(archive, reason)`` for every
    archive that had to stay. Non-archive entries pass through in
    order."""
    verdicts: dict[str, str | None] = {}
    for entry in path:
        if (
            entry not in verdicts
            and os.path.isfile(entry)
            and zipfile.is_zipfile(entry)
        ):
            verdicts[entry] = _archive_verdict(entry, path)
    pruned = [e for e in path if e not in verdicts or verdicts[e] is not None]
    kept = [(a, r) for a, r in verdicts.items() if r is not None]
    return pruned, kept


def _prune_sys_path() -> None:
    """Prune this process's ``sys.path`` in place and forget the
    importers of every dropped archive (keys are the archive itself or
    a package path inside it)."""
    try:
        pruned, kept = prune_archives(sys.path)
    except Exception as exc:  # noqa: BLE001 — the daemon must start regardless
        print(
            f"{_LOG_PREFIX} archive pruning failed, keeping the full "
            f"worker sys.path: {exc!r}",
            file=sys.stderr,
        )
        return
    for archive, reason in kept:
        print(
            f"{_LOG_PREFIX} keeping {archive} on the worker sys.path: {reason}",
            file=sys.stderr,
        )
    dropped = set(sys.path) - set(pruned)
    sys.path[:] = pruned
    for key in list(sys.path_importer_cache):
        if any(key == a or key.startswith(a + os.sep) for a in dropped):
            del sys.path_importer_cache[key]


def _preload() -> None:
    try:  # noqa: SIM105 — the daemon must start even with no pandas
        import numpy  # noqa: F401
        import pandas  # noqa: F401
        import pyarrow  # noqa: F401
    except Exception:  # noqa: BLE001 — preload is best-effort by design
        pass


if __name__ == "__main__":
    _prune_sys_path()
    _preload()
    from pyspark.daemon import manager

    manager()
