"""Scan-parallelism repair for compute-bound operators.

A parquet source is only splittable at row-group boundaries, so a
single-file/single-row-group table (the benchmark fixtures; at
production scale an unsplittable gzip text drop or a badly compacted
upstream table) scans as ONE partition — and every compute-heavy chain
built directly on that scan (tokenize → shingle → md5 → minhash,
HOF vector folds, Arrow codec batches) serializes on one core while
the rest of the cluster idles. Guide §2.5 ("input skew: one huge
unsplittable file — repartition immediately after the read") and §6.

:func:`fan_out_scan` is the shared, scale-adaptive fix, generalized
from ``multimodal._spread_for_codec`` (round 7, measured: the AVI
codec stage ran serial on the single-split fixture). It only ever
WIDENS the partition count: a healthy multi-file 100 TB scan already
fans out past the session parallelism and passes through untouched —
the exchange exists exactly when the alternative is a serial stage.

Keyed vs keyless: pass the column(s) a downstream aggregation keys on
when one exists — hash partitioning is deterministic under task retry
(guide §2.5's SPARK-38388 caveat does not apply; no rand()) and skips
the local sort every keyless round-robin repartition pays
(``spark.sql.execution.sortBeforeRepartition``). With a matching
partition count, Catalyst also reuses the exchange for a downstream
``groupBy`` on the same key, so the repaired plan still carries ONE
shuffle total.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# (application id, split confs, sorted input-file tuple, analyzed-plan
# semantic hash) → partition count. ``df.rdd.getNumPartitions()`` builds
# a SECOND physical plan on the driver per call (guide §1.2 applied to
# plan-build time — VERDICT r17 task #7), but a frame's partition
# count is a pure function of its (already-analyzed) plan and the
# session's split config, so one probe per plan shape amortizes over
# every operator built on it. The semantic hash is computed on the
# CANONICALIZED plan, so the same constructor rebuilding the same
# frame hits the memo, while a repartitioned frame over the same files
# gets its own entry — keying on the file set alone let a raw-scan
# probe (1 partition) shadow an already-repartitioned frame and
# inject a spurious exchange (caught by the pytest suite ordering:
# the minhash plan test primed the memo, then bloom_decontaminate's
# plan grew 6 hash exchanges). Keyed on the application id so a fresh
# session (possibly different parallelism) never reuses a stale count,
# and on the runtime confs that decide file splits so changing them
# mid-session re-probes. Guarded by a lock: fan_out_scan runs on any
# driver thread (e.g. a streaming foreachBatch applier), and the
# stale-entry eviction iterates the dict.
_SCAN_PARTS_MEMO: dict[tuple, int] = {}
_SCAN_PARTS_LOCK = threading.Lock()
_SPLIT_CONFS = (
    "spark.sql.files.maxPartitionBytes",
    "spark.sql.files.openCostInBytes",
    "spark.sql.files.minPartitionNum",
)


def _scan_partitions(df: DataFrame) -> int:
    """Partition count of a frame, memoized per (session, split confs,
    file set, plan shape). Frames with no resolvable input files
    (in-memory sources, local relations) or no reachable semantic hash
    fall back to the direct probe unmemoized — their plans are tiny, so
    the probe is cheap there anyway."""
    try:
        files = df.inputFiles()
        sem = df._jdf.queryExecution().analyzed().semanticHash()
    except Exception:  # noqa: BLE001 — probe fallback, never fatal
        files = []
    if not files:
        return df.rdd.getNumPartitions()
    spark = df.sparkSession
    app = spark.sparkContext.applicationId
    confs = tuple(spark.conf.get(c, None) for c in _SPLIT_CONFS)
    key = (app, confs, tuple(sorted(files)), sem)
    with _SCAN_PARTS_LOCK:
        n = _SCAN_PARTS_MEMO.get(key)
    if n is None:
        # probe outside the lock: it is a JVM round trip, and two
        # threads racing on one key store the same count
        n = df.rdd.getNumPartitions()
        with _SCAN_PARTS_LOCK:
            # entries keyed by a DEAD application id can never hit
            # again (the id is unique per session) — drop them on the
            # first insert from a new session so a long-lived process
            # cycling sessions (pytest, notebooks) doesn't accumulate
            # file-list tuples forever
            stale = [k for k in _SCAN_PARTS_MEMO if k[0] != app]
            for k in stale:
                del _SCAN_PARTS_MEMO[k]
            _SCAN_PARTS_MEMO[key] = n
    return n


def fan_out_scan(
    df: DataFrame, *key_cols: str, target: int | None = None
) -> DataFrame:
    """Re-split ``df`` to ``target`` (default: session parallelism)
    partitions when its physical plan currently has fewer — a no-op on
    inputs that already fan out. Streaming frames pass through:
    micro-batch partitioning is the source's concern.

    Callers normally pass SCAN-STAGE frames (a file source plus narrow
    projections/filters); a frame that was already repartitioned probes
    as healthy and passes through — the memo distinguishes plan shapes
    over the same files, so a raw-scan probe never shadows it."""
    if df.isStreaming:
        return df
    spark = df.sparkSession
    if target is None:
        target = spark.sparkContext.defaultParallelism
    if _scan_partitions(df) >= target:
        return df
    if key_cols:
        return df.repartition(target, *[F.col(c) for c in key_cols])
    return df.repartition(target)
