"""SparkSession factory.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]``. The SQL config block is
the one we'd ship to a 1000-executor cluster (AQE on, adaptive skew
handling, Arrow for the few pandas-UDF paths) and holds nothing
machine-specific. The Python-daemon confs (:func:`python_daemon_confs`) are
the exception: they name a module on the driver's filesystem, so they are
applied only to ``local`` masters.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession


def get_session(app_name: str = "opfpg-spark", shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Scale stance: every knob below is sizing-relative, not absolute —
    AQE coalesces the 32 test shuffle partitions locally and would
    re-split/skew-join on a real cluster; ``maxPartitionBytes`` keeps scan
    tasks ~128 MB so a 100 TB input fans out to ~800k tasks instead of
    overloading a few.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32
    master = f"local[{cpus}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # InferFiltersFromGenerate infers `size(x)>0 AND isnotnull(x)`
        # from every explode(x), and predicate pushdown then SUBSTITUTES
        # x's defining expression below the exchange — for this engine's
        # signature pattern (explode over a derived shingle/token array)
        # that re-computes the tokenize→shingle chain 3× per row (twice
        # in the pushed filter, once in the projection), in the SCAN
        # stage. Measured r17: decontaminate 8.2 s → 2.3 s at sf0.1 with
        # the rule excluded; at 100 TB the duplication is pure CPU waste
        # on the hottest expression. The rule only ever prunes rows that
        # explode() would drop anyway (no result change), and none of
        # its inferred predicates are parquet-pushable here (guide §4.4:
        # stop the optimizer duplicating expensive expressions).
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config(map=python_daemon_confs(master))
    )
    return builder.getOrCreate()


def python_daemon_confs(master: str) -> dict[str, str]:
    """Confs that launch Python workers from the repo-root daemon module
    ``opfpg_daemon_preload`` — empty unless ``master`` is ``local`` or
    ``local[...]``.

    Python workers fork from a per-executor daemon. The module lives at
    the repo root so ``python -m`` never executes the heavy engine
    package ``__init__``; it runs once per daemon, before any worker
    forks:

    - it prunes Spark's zip/jar archives from ``sys.path`` when an
      identical unpacked pyspark/py4j resolves instead (or, for the
      spark-core jar, when the archive holds no Python at all). Every
      task's ``importlib.invalidate_caches()`` makes a Python 3.11
      ``zipimporter`` re-read its archive's whole central directory,
      ~100-150 ms of worker CPU per task for the three archives
      (Python >= 3.12 re-reads lazily); an archive that must stay is
      reported on the daemon's stderr;
    - it pre-imports pandas/numpy/pyarrow, so every forked worker
      inherits them via copy-on-write instead of paying the ~1 s import
      chain on its first Arrow batch (VERDICT r17 task #6 — the
      measured floor of a session's first Arrow stage).

    The module is found through a driver-local ``PYTHONPATH`` entry (the
    repo root), which only exists on an executor that shares the
    driver's filesystem; on a cluster it would be unimportable and every
    Python worker would fail to start, so a non-local master gets the
    stock daemon and Spark's own ``PYTHONPATH``. ``OPFPG_DAEMON_PRELOAD=0``
    restores the stock daemon locally too, for A/B.
    """
    if not re.fullmatch(r"local(\[[^\]]*\])?", master):
        return {}
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    return {
        "spark.python.daemon.module": "opfpg_daemon_preload"
        if os.environ.get("OPFPG_DAEMON_PRELOAD", "1") != "0"
        else "pyspark.daemon",
        "spark.executorEnv.PYTHONPATH": os.pathsep.join(
            filter(None, [repo_root, os.environ.get("PYTHONPATH")])
        ),
    }
