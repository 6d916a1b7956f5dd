"""FPM benchmark: basket building → FPGrowth.fit → association_rules →
transform, and grouped mining with mine_pandas_by, on seeded inputs.

One closed-loop client at ``local[2]``: each public call starts only
after the previous one returned. Run from the repository root:

    python3 fpmbench/run.py --workload dense_skewed --seed 1 --seconds 16 --trace 0
    python3 fpmbench/run.py --workload all --seed 1

The last stdout line is one JSON object (``correct``, ``attempted``,
``failed``, ``metrics``): the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``. Everything the run writes (inputs,
Spark scratch, trace files) stays under ``fpmbench/.cache``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import pathlib
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass

import gen
import spans

BENCH_DIR = pathlib.Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
CACHE = BENCH_DIR / ".cache"
# local[2] on a 4-core host: the JVM's own threads and the driver-side
# Python client then have cores of their own, and the timings measure
# the engine rather than the scheduler (local[4] gave the same
# medians with a wider spread between iterations).
CPUS = 2


@dataclass(frozen=True)
class Workload:
    builder: str            # basket builder in plans/transactions.py
    min_support: float
    min_confidence: float
    # Minimum work per iteration, so a timing of an empty mining result
    # can never pass: FPGrowth itemsets of size >= 2, rules, baskets with
    # a non-empty prediction and, on grouped workloads, grouped itemsets
    # of size >= 2.
    floors: dict
    grouped: bool = False   # corpora mined per `lang` by mine_pandas_by


WORKLOADS = {
    "dense_skewed": Workload(
        "transactions_from_events", 0.025, 0.9,
        {"itemsets": 500, "rules": 250, "predictions": 200}),
    "many_corpora": Workload(
        "transactions_from_documents_by_lang", 0.05, 0.5,
        {"itemsets": 70, "rules": 50, "predictions": 600, "grouped": 490}, grouped=True),
    # Not in BENCHMARK.json: three workloads' set-up costs do not fit the
    # run budget there. Run it with --workload sparse_retail or all.
    "sparse_retail": Workload(
        "transactions_from_lineitem", 0.006, 0.7,
        {"itemsets": 150, "rules": 150, "predictions": 300}),
}

# The end-to-end metrics of the JSON result, reported on every workload.
# fit_pfp_s times the workload's PFP-kernel mining call: the EPFP fit
# (FPGrowth kernel="pandas", balanced=True) on basket workloads, and
# mine_pandas_by on grouped ones.
E2E_UNITS = {"setup_s": "s", "pipeline_s": "s", "fit_pfp_s": "s"}
# Printed with them but kept out of the JSON result, as single calls
# too short to repeat within the bound on a shared host; pipeline_s
# carries them. baskets_per_s is baskets / pipeline_s.
PRINTED_UNITS = {"baskets_per_s": "1/s", "build_s": "s", "fit_s": "s", "rules_s": "s",
                 "predict_s": "s", "fit_grouped_s": "s"}


class CheckFailed(Exception):
    """A correctness check or minimum-work guard did not hold."""


def ensure_inputs(workload: str, seed: int) -> pathlib.Path:
    """Generate (or reuse) the workload's parquet inputs for ``seed``."""
    sizes = json.dumps(gen.SIZES[workload], sort_keys=True).encode()
    out = CACHE / "inputs" / workload / f"seed{seed}-{hashlib.sha256(sizes).hexdigest()[:12]}"
    if not (out / "meta.json").exists():
        gen.generate(workload, seed, out)
    return out


class Bench:
    def __init__(self, name: str, data_dir: pathlib.Path, traced: bool):
        from pyspark.sql import functions as F

        from optimal_parallel_fp_growth_spark.operators.fpgrowth import FPGrowth
        from optimal_parallel_fp_growth_spark.operators.pfp_kernel import mine_pandas_by
        from optimal_parallel_fp_growth_spark.plans import transactions
        from optimal_parallel_fp_growth_spark.session import get_session

        self.F, self.FPGrowth, self.mine_pandas_by = F, FPGrowth, mine_pandas_by
        self.get_session = get_session
        self.name, self.wl = name, WORKLOADS[name]
        self.build_fn = getattr(transactions, self.wl.builder)
        self.data_dir = str(data_dir)
        self.traced = traced
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.times: dict[str, list[float]] = {}
        self.traced_iters: list[dict] = []
        self.session_start_s = math.nan
        self.first_python_s = math.nan
        self.counts: dict = {}
        self.reference: dict = {}

    # -- session and set-up ------------------------------------------------

    def setup(self) -> float:
        """get_session() plus one cold warm-up iteration; returns seconds."""
        t0 = time.perf_counter()
        self.spark = self.get_session(f"fpmbench-{self.name}")
        self.session_start_s = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tracer = spans.Tracer(self.spark, traced=False)
        self.iteration("warmup", warmup=True)
        return time.perf_counter() - t0

    def stop(self) -> None:
        """Stop the session, then the JVM, and wait until it has exited."""
        from pyspark import SparkContext

        self.spark.stop()
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=60)

    # -- one iteration -------------------------------------------------------

    def _hash_sum(self, cols, where=None):
        """Order-independent sum of per-row hashes (0 over no rows)."""
        F = self.F
        h = F.shiftright(F.xxhash64(*cols), 24)
        return F.coalesce(F.sum(h if where is None else F.when(where, h)), F.lit(0))

    def _checksum(self, df, cols, *extras, phases=None) -> tuple:
        """Force ``df`` with one aggregate: (row count, hash sum over
        ``cols``, *extras). Each output is computed once, and the result
        is also the input of the agreement checks."""
        agg = df.agg(self.F.count(self.F.lit(1)), self._hash_sum(cols), *extras)
        row = tuple(agg.collect()[0])
        if phases is not None:
            for k, v in self.tracer.plan_phases(agg).items():
                phases[k] = phases.get(k, 0) + v
        return row

    def _itemsets(self, df, phases=None):
        """→ ((rows, hash sum), itemsets of size >= 2)."""
        F = self.F
        n, h, n2 = self._checksum(
            df, [F.array_sort("items"), "freq"],
            F.sum(F.when(F.size("items") >= 2, 1).otherwise(0)), phases=phases)
        return (n, h), n2

    def _rules(self, model, phases=None):
        return self._checksum(
            model.association_rules(),
            ["antecedent", "consequent", "confidence", "lift", "support"], phases=phases)

    _PREDICTED = ["items", "prediction"]

    def _predict(self, model, baskets, phases=None):
        """→ ((rows, hash sum), non-empty predictions)."""
        F = self.F
        n, h, nonempty = self._checksum(
            model.transform(baskets), self._PREDICTED,
            F.sum(F.when(F.size("prediction_items") > 0, 1).otherwise(0)), phases=phases)
        return (n, h), nonempty

    def _check(self, ok: bool, what: str) -> None:
        if not ok:
            raise CheckFailed(what)

    def _same_as_warmup(self, key: str, value) -> None:
        """The warm-up's outputs are the reference, checked there across
        both kernels; every later output must equal them."""
        ref = self.reference.setdefault(key, value)
        self._check(value == ref, f"{key} {value} != warm-up's {ref}")

    def iteration(self, it, warmup: bool = False, record: bool = True) -> None:
        """One closed-loop pass over the workload's public calls,
        checked; a raised call or failed check counts as one failure.
        Only ``record``ed iterations feed the timings."""
        record = record and not warmup
        traced = (self.traced and record
                  and len(self.traced_iters) <= len(self.times.get("pipeline_s", [])))
        self.tracer.traced = traced
        jsc = self.spark.sparkContext._jsc
        before = self._storage(jsc)
        calls: dict[str, float] = {}
        spans_before = len(self.tracer.spans)
        phases: dict[str, float] = {}
        made = []
        t0 = time.perf_counter()
        try:
            with self.tracer.call("iteration", it):
                if self.wl.grouped:
                    self._grouped_iteration(it, warmup, calls, phases, made)
                else:
                    self._basket_iteration(it, warmup, calls, phases, made)
        except CheckFailed as e:
            self._fail(f"iteration {it}: check failed: {e}")
        except Exception as e:  # noqa: BLE001 — a failed call is counted, not fatal
            self._fail(f"iteration {it}: {type(e).__name__}: {str(e)[:2000]}")
        finally:
            for obj in made:
                obj.unpersist()
        print(f"{self.name} iteration {it} ({time.perf_counter() - t0:.3f}s): " + " ".join(
            f"{c}={v:.3f}s" for c, v in calls.items())
            + f" counts={self.counts}", file=sys.stderr, flush=True)
        after = self._storage(jsc)
        if after != before:
            self._fail(f"iteration {it}: storage leak: (persistent RDDs, bytes) "
                       f"{before} -> {after}")
        if warmup:
            self.first_python_s = calls.get(self._pfp_call, math.nan)
        if not record:
            return
        pipeline = sum(calls[c] for c in self._pipeline_calls if c in calls)
        if traced:
            by_name = {span["name"]: span for span in self.tracer.spans[spans_before:]}
            self.traced_iters.append({"pipeline_s": pipeline, "phases": phases, "spans": by_name})
            return
        if all(c in calls for c in self._pipeline_calls):
            self.times.setdefault("pipeline_s", []).append(pipeline)
            self.times.setdefault("baskets_per_s", []).append(self.counts["baskets"] / pipeline)
        for c, v in calls.items():
            self.times.setdefault(f"{c}_s", []).append(v)

    def _fail(self, msg: str) -> None:
        self.failed += 1
        self.errors.append(msg)
        print(f"FAILED {self.name}: {msg}", file=sys.stderr, flush=True)

    @staticmethod
    def _storage(jsc) -> tuple[int, int]:
        infos = jsc.sc().getRDDStorageInfo()
        return (jsc.getPersistentRDDs().size(),
                sum(i.memSize() + i.diskSize() for i in infos))

    def _timed(self, calls, name, it, fn, mine=None):
        self.attempted += 1
        with self.tracer.call(name, it, mine=mine) as span:
            out = fn(span)
        calls[name] = span["wall_s"]
        return out

    @property
    def _pipeline_calls(self):
        return ("build", "fit_grouped") if self.wl.grouped else ("build", "fit", "rules", "predict")

    @property
    def _pfp_call(self):
        return "fit_grouped" if self.wl.grouped else "fit_pfp"

    def _build(self, it, calls, phases, made):
        def build(span):
            b = self.build_fn(self.spark, self.data_dir).persist()
            made.append(b)
            n, _ = self._checksum(b, ["items"], phases=phases)
            return b, n
        b, self.counts["baskets"] = self._timed(calls, "build", it, build)
        return b

    def _fit_rules_predict(self, baskets, it, warmup, calls, phases, made):
        """fit (mllib) → rules → predict, then the pandas kernel; returns
        the itemset checksum. Each output must equal the warm-up's. The
        two kernels' itemsets are compared in every iteration, their
        rules and predictions in the warm-up and traced ones."""
        wl = self.wl
        if warmup and self.traced:
            self.counts["distinct_baskets"] = baskets.select("items").distinct().count()

        def fit(kernel, balanced=True):
            def run(span):
                m = self.FPGrowth(min_support=wl.min_support, min_confidence=wl.min_confidence,
                                  kernel=kernel, balanced=balanced).fit(baskets)
                made.append(m)
                sums, n2 = self._itemsets(m.freq_itemsets, phases)
                span.update(itemsets=sums[0], itemsets_2plus=n2)
                return m, sums, n2
            return run

        m, isum, n2 = self._timed(calls, "fit", it, fit("mllib"), mine="mllib")
        self._check(n2 >= wl.floors["itemsets"],
                    f"{n2} itemsets of size >= 2 < floor {wl.floors['itemsets']}")
        self._same_as_warmup("itemsets", isum)

        def rules(span):
            rsum = self._rules(m, phases)
            span.update(itemsets_in=isum[0], rules_out=rsum[0])
            self.counts.update(itemsets=isum[0], itemsets_2plus=n2, rules=rsum[0])
            return rsum
        rsum = self._timed(calls, "rules", it, rules)
        self._check(rsum[0] >= wl.floors["rules"],
                    f"{rsum[0]} rules < floor {wl.floors['rules']}")
        self._same_as_warmup("rules", rsum)

        def predict(span):
            psum, nonempty = self._predict(m, baskets, phases)
            span.update(baskets_in=psum[0], rules_in=rsum[0],
                        distinct_baskets=self.counts.get("distinct_baskets", math.nan))
            return psum, nonempty
        psum, nonempty = self._timed(calls, "predict", it, predict)
        self.counts["predictions"] = nonempty
        self._check(nonempty >= wl.floors["predictions"],
                    f"{nonempty} non-empty predictions < floor {wl.floors['predictions']}")
        self._same_as_warmup("predictions", psum)

        m2, isum2, _ = self._timed(calls, "fit_pfp", it, fit("pandas"), mine="pfp")
        self._check(isum2 == isum, f"pandas kernel itemsets {isum2} != mllib {isum}")
        if warmup or self.tracer.traced:
            self._check(self._rules(m2) == rsum, "pandas-kernel rules != mllib rules")
            self._check(self._predict(m2, baskets)[0] == psum,
                        "pandas-kernel predictions != mllib predictions")
        if self.tracer.traced:
            # The paper's claim measured: PFP's hash group assignment on
            # the same input, next to the balanced (EPFP) one above.
            _, isum3, _ = self._timed(calls, "fit_pfp_hash", it, fit("pandas", balanced=False),
                                      mine="pfp")
            self._check(isum3 == isum, "balanced=False itemsets != balanced=True")
        return isum

    def _basket_iteration(self, it, warmup, calls, phases, made):
        b = self._build(it, calls, phases, made)
        self._fit_rules_predict(b, it, warmup, calls, phases, made)

    def _grouped_iteration(self, it, warmup, calls, phases, made):
        F = self.F
        b = self._build(it, calls, phases, made)
        if warmup:
            self.counts["corpora"] = [
                r["lang"] for r in b.groupBy("lang").count()
                .orderBy(F.desc("count"), F.asc("lang")).limit(2).collect()]

        def grouped(span):
            g = self.mine_pandas_by(b, "lang", self.wl.min_support)
            if warmup:  # filtered per corpus below
                g = g.persist()
                made.append(g)
            sums, n2 = self._itemsets(g, phases)
            span.update(rows=sums[0], itemsets_2plus=n2)
            self.counts["grouped_itemsets_2plus"] = n2
            return g, sums, n2
        g, gsum, n2 = self._timed(calls, "fit_grouped", it, grouped, mine="pfp")
        self._check(n2 >= self.wl.floors["grouped"],
                    f"{n2} grouped itemsets of size >= 2 < floor {self.wl.floors['grouped']}")
        self._same_as_warmup("grouped", gsum)

        # The two largest corpora must equal standalone FPGrowth fits.
        top, second = self.counts["corpora"]
        if warmup:
            for corpus in (top, second):
                m = self.FPGrowth(min_support=self.wl.min_support).fit(
                    b.where(F.col("lang") == corpus).select("items"))
                made.append(m)
                self._check(self._itemsets(g.where(F.col("lang") == corpus))[0]
                            == self._itemsets(m.freq_itemsets)[0],
                            f"mine_pandas_by rows for {corpus} != standalone FPGrowth")
        # A traced run also takes the largest corpus through the FPGrowth
        # path with both kernels, for the per-layer metrics of fit, rules
        # and transform.
        if self.traced and (warmup or self.tracer.traced):
            tb = b.where(F.col("lang") == top).select("items")
            self._fit_rules_predict(tb, it, warmup, calls, phases, made)

    # -- results ---------------------------------------------------------------

    def e2e_metrics(self, setup_s: float) -> dict:
        samples = dict(self.times, setup_s=[setup_s])
        samples["fit_pfp_s"] = samples.get(f"{self._pfp_call}_s")
        out = {}
        for name, unit in {**E2E_UNITS, **PRINTED_UNITS}.items():
            vals = samples.get(name) or [float("nan")]
            if name in E2E_UNITS:
                out[name] = {"value": statistics.median(vals), "unit": unit}
            elif name not in samples:
                continue
            print(f"{self.name:14s} {name:16s} median {statistics.median(vals):12.4f} {unit:4s}"
                  f" max {max(vals):12.4f}  n={len(vals)}")
        return out

    def layer_metrics(self) -> dict:
        """Median over the traced iterations of every per-layer metric."""
        rows = [self._layer_row(t) for t in self.traced_iters]
        out = {k: statistics.median(r[k] for r in rows) if rows else math.nan
               for k in LAYER_METRICS}
        out["session.start_s"] = self.session_start_s
        out["session.first_python_stage_s"] = self.first_python_s
        untraced = self.times.get("pipeline_s")
        out["trace.overhead_s"] = (
            statistics.median(t["pipeline_s"] for t in self.traced_iters)
            - statistics.median(untraced) if rows and untraced else math.nan)
        return out

    def _layer_row(self, t: dict) -> dict:
        layer_call = {"build": "build", "fit": "fit", "pfp": self._pfp_call,
                      "balanced": "fit_pfp", "hash": "fit_pfp_hash", "rules": "rules",
                      "transform": "predict"}
        row = {}
        for name in LAYER_METRICS:
            layer, _, key = name.partition(".")
            if name in t["phases"]:
                row[name] = t["phases"][name]
            elif layer in layer_call:
                span = t["spans"].get(layer_call[layer], {})
                key = _SPAN_KEYS.get(name, key)
                if key.startswith("mine."):
                    span, key = span.get("mine", {}), key[len("mine."):]
                row[name] = span.get(key, math.nan)
            else:
                row[name] = math.nan
        return row


# Per-layer metrics of a traced run. Each is read from the span of the
# call that runs the layer (build, fit, the workload's PFP-kernel call,
# fit_pfp vs fit_pfp_hash, rules, predict), or summed over the Catalyst
# phases of every DataFrame the iteration forced.
LAYER_METRICS = (
    "session.start_s", "session.first_python_stage_s",
    "build.wall_s", "build.tasks", "build.executor_cpu_ms", "build.shuffle_write_bytes",
    "fit.jobs", "fit.stages", "fit.executor_run_ms", "fit.executor_cpu_ms", "fit.gc_ms",
    "fit.shuffle_write_bytes", "fit.mining_task_max_ms",
    "pfp.jobs", "pfp.executor_run_ms", "pfp.executor_cpu_ms", "pfp.python_cpu_s",
    "pfp.cond_shuffle_records", "pfp.cond_shuffle_bytes", "pfp.mine.tasks_nonempty",
    "pfp.mine.task_p50_ms", "pfp.mine.task_max_ms", "pfp.mine.busy_share",
    "balanced.mine.task_max_ms", "hash.mine.task_max_ms",
    "balanced.mine.busy_share", "hash.mine.busy_share",
    "balanced.mine.tasks_nonempty", "hash.mine.tasks_nonempty",
    "balanced.mine.task_p50_ms", "hash.mine.task_p50_ms",
    "rules.itemsets_in", "rules.rules_out", "rules.jobs", "rules.executor_cpu_ms",
    "transform.baskets_in", "transform.distinct_baskets", "transform.rules_in",
    "transform.executor_cpu_ms", "transform.shuffle_write_bytes",
    "plan.analysis_ms", "plan.optimization_ms", "plan.planning_ms",
    "trace.overhead_s",
)
_SPAN_KEYS = {
    "build.wall_s": "wall_s",
    "fit.mining_task_max_ms": "mine.task_max_ms",
    "pfp.cond_shuffle_records": "mine.shuffle_read_records",
    "pfp.cond_shuffle_bytes": "mine.shuffle_read_bytes",
}


def run_one(args) -> dict:
    try:
        import optimal_parallel_fp_growth_spark  # noqa: F401
    except ImportError as e:
        print(f"fpmbench: the engine package is not importable from {ROOT}: {e}",
              file=sys.stderr)
        sys.exit(2)
    data_dir = ensure_inputs(args.workload, args.seed)
    scratch = CACHE / "spark"
    tmp = scratch / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(CPUS),
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "SPARK_LOCAL_DIRS": str(scratch / "local"),
        "TMPDIR": str(tmp),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": "--conf spark.ui.showConsoleProgress=false pyspark-shell",
    })
    traced = bool(args.trace)
    bench = Bench(args.workload, data_dir, traced)
    cpu0 = spans.proc_stat_cpu()
    setup_s = bench.setup()
    # One more untimed (but checked) pass: the first iteration after the
    # cold one is still warming the JIT and reads slow by up to 2x.
    bench.iteration("settle", record=False)
    deadline = time.perf_counter() + args.seconds
    # At least three timed iterations, so every timing is a median of
    # three or more; a traced run alternates traced and untraced
    # iterations to report the tracing overhead.
    k = 0
    while k < 3 or time.perf_counter() < deadline:
        bench.iteration(k)
        k += 1
    bench.stop()
    host = spans.host_cpu_shares(cpu0, spans.proc_stat_cpu())
    if traced:
        metrics = {k: {"value": v, "unit": layer_unit(k)}
                   for k, v in bench.layer_metrics().items()}
        write_trace(bench, metrics, host, args)
    else:
        metrics = bench.e2e_metrics(setup_s)
    for k, m in metrics.items():
        if not math.isfinite(m["value"]):
            bench._fail(f"metric {k} was not measured")
            m["value"] = 0.0
    correct = bench.failed == 0
    if not traced:
        print(f"{args.workload:14s} ops_failed_share {bench.failed / max(1, bench.attempted):.4f}"
              f" ({bench.failed}/{bench.attempted})")
    print(f"{args.workload:14s} cpus={os.cpu_count()} local[{CPUS}] "
          f"iowait_share={host['iowait_share']:.4f} steal_share={host['steal_share']:.4f}")
    return {"correct": correct, "attempted": bench.attempted, "failed": bench.failed,
            "metrics": metrics}


def layer_unit(name: str) -> str:
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("_share"):
        return "ratio"
    return "count"


def write_trace(bench: Bench, metrics: dict, host: dict, args) -> None:
    import pyarrow
    import pyspark

    spread = {label: {k: metrics.get(f"{label}.mine.{k}", {}).get("value")
                      for k in ("task_max_ms", "task_p50_ms", "busy_share", "tasks_nonempty")}
              for label in ("balanced", "hash")}
    env = {"cpus": os.cpu_count(), "local_cores": CPUS, "spark": pyspark.__version__,
           "pyarrow": pyarrow.__version__, **host}
    out = CACHE / "traces" / f"{args.workload}-seed{args.seed}.json"
    out.parent.mkdir(parents=True, exist_ok=True)
    out.write_text(json.dumps({
        "workload": args.workload, "seed": args.seed, "env": env,
        "layers": {k: v["value"] for k, v in metrics.items()},
        "balanced_vs_hash": spread, "spans": bench.tracer.spans,
        "errors": bench.errors,
    }, indent=1, default=str))
    for k, v in sorted(metrics.items()):
        print(f"{args.workload:14s} {k:32s} {v['value']:14.4f} {v['unit']}")
    print(f"{args.workload:14s} balanced vs hash mining stage: " + json.dumps(spread))
    print(f"{args.workload:14s} spark={env['spark']} pyarrow={env['pyarrow']} trace={out}")


def run_all(args) -> dict:
    """Every workload in turn, each in its own process."""
    total = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in WORKLOADS:
        cmd = [sys.executable, str(pathlib.Path(__file__)), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, cwd=ROOT)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            sys.exit(proc.returncode or 1)
        print("\n".join(lines[:-1]), flush=True)
        res = json.loads(lines[-1])
        total["correct"] &= res["correct"]
        total["attempted"] += res["attempted"]
        total["failed"] += res["failed"]
        total["metrics"].update({f"{name}.{k}": v for k, v in res["metrics"].items()})
    return total


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=16)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    sys.path.insert(0, str(ROOT))  # the engine package
    result = run_all(args) if args.workload == "all" else run_one(args)
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
