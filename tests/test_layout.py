"""fan_out_scan (r17, functions/layout.py) — the single-split scan
repair must WIDEN narrow inputs and be a literal no-op on healthy ones,
so the plan contracts in test_plan_quality.py stay true at scale."""

from __future__ import annotations

from pyspark.sql import functions as F

from optimal_parallel_fp_growth_spark.functions.layout import fan_out_scan


def test_healthy_input_passes_through_untouched(spark):
    df = spark.range(0, 1000).withColumn("k", F.col("id") % 7)
    wide = df.repartition(spark.sparkContext.defaultParallelism)
    # already at target parallelism → the SAME DataFrame object back
    # (no extra exchange in any downstream plan)
    assert fan_out_scan(wide, "k") is wide
    assert fan_out_scan(wide) is wide


def test_single_partition_input_is_widened(spark):
    one = spark.range(0, 1000).coalesce(1)
    target = spark.sparkContext.defaultParallelism
    out = fan_out_scan(one)
    assert out.rdd.getNumPartitions() == target
    assert out.count() == 1000


def test_keyed_fan_out_hash_partitions_on_the_key(spark):
    one = (
        spark.range(0, 500)
        .withColumn("k", (F.col("id") % 11).cast("int"))
        .coalesce(1)
    )
    out = fan_out_scan(one, "k")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "REPARTITION_BY_NUM" in plan and "hashpartitioning(k" in plan
    # row set unchanged
    assert out.groupBy().sum("id").collect()[0][0] == 500 * 499 // 2


def test_explicit_target_overrides_session_parallelism(spark):
    one = spark.range(0, 100).coalesce(1)
    assert fan_out_scan(one, target=3).rdd.getNumPartitions() == 3
    # target below the current width → untouched
    four = spark.range(0, 100).repartition(4)
    assert fan_out_scan(four, target=3) is four


def test_streaming_frames_pass_through(spark):
    stream = spark.readStream.format("rate").load()
    assert fan_out_scan(stream, "value") is stream


def test_scan_partition_probe_is_memoized_per_source(spark, sf_small, tmp_path):
    """r18 (VERDICT r17 task #7): the partition probe must not build a
    second physical plan per fan_out_scan call — one probe per
    (session, file set), later calls hit the memo."""
    from optimal_parallel_fp_growth_spark.functions import layout
    from optimal_parallel_fp_growth_spark.sources.catalog import load_table

    layout._SCAN_PARTS_MEMO.clear()
    docs = load_table(spark, sf_small, "documents")
    n1 = layout._scan_partitions(docs.select("doc_id"))
    assert len(layout._SCAN_PARTS_MEMO) == 1
    # the SAME shape rebuilt hits the same entry (canonicalized
    # semantic hash — fresh exprIds don't defeat the memo)
    n2 = layout._scan_partitions(
        load_table(spark, sf_small, "documents").select("doc_id")
    )
    assert n2 == n1
    assert len(layout._SCAN_PARTS_MEMO) == 1
    # memo returns what the direct probe would
    assert n1 == docs.select("doc_id").rdd.getNumPartitions()
    # a DIFFERENT file set gets its own entry
    p = str(tmp_path / "other")
    spark.range(0, 10).coalesce(1).write.parquet(p)
    other = spark.read.parquet(p)
    assert layout._scan_partitions(other) == 1
    assert len(layout._SCAN_PARTS_MEMO) == 2
    # fileless (in-memory) frames fall back unmemoized
    local = spark.range(0, 10)
    layout._scan_partitions(local)
    assert len(layout._SCAN_PARTS_MEMO) == 2


def test_memo_never_shadows_a_repartitioned_frame(spark, sf_small):
    """Regression (r18): keying the memo on the file set ALONE let a
    raw-scan probe (1 partition on the single-split fixture) shadow an
    already-repartitioned frame over the same files, so fan_out_scan
    injected a spurious second exchange (surfaced as
    test_bloom_decontaminate_plan_contract failing — 6 hash exchanges —
    whenever the minhash plan test had primed the memo first). The
    plan-shape component of the key keeps the two separate."""
    from optimal_parallel_fp_growth_spark.functions import layout
    from optimal_parallel_fp_growth_spark.sources.catalog import load_table

    layout._SCAN_PARTS_MEMO.clear()
    raw = load_table(spark, sf_small, "documents").select("doc_id", "text")
    assert layout._scan_partitions(raw) == 1  # primes the memo
    wide = raw.repartition(8)
    # the repartitioned frame must probe as ALREADY healthy...
    assert layout._scan_partitions(wide) == 8
    # ...so fan_out_scan is a no-op on it (no spurious exchange)
    assert fan_out_scan(wide, "doc_id", target=8) is wide


def test_memo_rekeys_on_split_conf_change(spark, tmp_path):
    """A runtime change to a split conf must re-probe: the rebuilt
    frame's analyzed plan (and so its semantic hash) is the same, but
    its file splits are not."""
    from optimal_parallel_fp_growth_spark.functions import layout

    p = str(tmp_path / "split")
    spark.range(0, 20000).repartition(4).write.parquet(p)
    before = layout._scan_partitions(spark.read.parquet(p))
    conf = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "4096")
    try:
        after = layout._scan_partitions(spark.read.parquet(p))
        assert after == spark.read.parquet(p).rdd.getNumPartitions()
    finally:
        spark.conf.set(conf, old)
    assert after > before
    assert layout._scan_partitions(spark.read.parquet(p)) == before


def test_memo_is_thread_safe_across_application_ids():
    """fan_out_scan runs on any driver thread; at the same time a new
    session evicts the dead application's entries. Without the lock
    the eviction scan raised 'dictionary changed size during
    iteration', or interleaved with an insert and left entries of two
    applications in the memo."""
    import sys
    import threading
    from types import SimpleNamespace

    from optimal_parallel_fp_growth_spark.functions import layout

    def frame(app: str, i: int):
        plan = SimpleNamespace(semanticHash=lambda: i)
        qe = SimpleNamespace(analyzed=lambda: plan)
        return SimpleNamespace(
            inputFiles=lambda: [f"/data/{i}.parquet"],
            _jdf=SimpleNamespace(queryExecution=lambda: qe),
            sparkSession=SimpleNamespace(
                sparkContext=SimpleNamespace(applicationId=app),
                conf=SimpleNamespace(get=lambda key, default: None),
            ),
            rdd=SimpleNamespace(getNumPartitions=lambda: i % 7 + 1),
        )

    errors: list[BaseException] = []

    def worker(t: int):
        try:
            for i in range(400):
                app = f"app-{i // 100}"  # the application id changes mid-run
                n = i * 64 + t
                assert layout._scan_partitions(frame(app, n)) == n % 7 + 1
        except BaseException as exc:  # noqa: BLE001 — re-raised below
            errors.append(exc)

    layout._SCAN_PARTS_MEMO.clear()
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(t,)) for t in range(16)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
        apps = {k[0] for k in layout._SCAN_PARTS_MEMO}
        layout._SCAN_PARTS_MEMO.clear()
    assert not any(th.is_alive() for th in threads)
    assert errors == []
    assert len(apps) == 1
