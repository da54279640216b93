"""Benchmark runner: one workload, one process, one timed unit at a time.

    python3 perfbench/run.py --workload etl_full --seed 1 --seconds 1 --trace 0

Run from the repository root. The run sets up three times (session start
and input generation; the last set-up is kept). With ``--trace 0`` it then
runs units one after another until ``--seconds`` have passed (at least
one), the first of them cold, and reports the end-to-end metrics as medians
over them. With ``--trace 1`` it warms up with one untimed cold execution,
runs traced units, then untraced units, for ``--seconds`` each, and reports
the per-layer metrics of the traced ones and what tracing cost; for
``etl_full`` one traced incremental unit follows. The last line
of standard output is one JSON object; progress goes to standard error.

Everything the run writes stays under ``.bench_work/`` in the repository
root; spans of a traced run are kept in ``.bench_work/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUPS = 3
T0 = time.perf_counter()

# name -> unit. Wall and CPU seconds of a unit are per-layer metrics: under
# CPU steal from other tenants of the host their spread over ten runs
# reached 0.44 and 0.30 (RECORD.md); the spreads of these counts stay
# below 0.015.
END_TO_END = {
    "setup_s": "s",
    "spark_jobs": "count",
    "disk_write_mb": "MB",
    "live_heap_mb": "MB",
}


def per_layer_units(queries: list[str], tables: list[str]) -> dict[str, str]:
    names = {
        "session.start_s": "s",
        "sources.generate_s": "s",
        "sources.rows": "count",
        "cold.first_run_s": "s",
        "unit.run_s": "s",
        "unit.cpu_s": "s",
        "trace.overhead_s": "s",
        "incremental_runner.watermark_and_cc_s": "s",
        "incremental_runner.expand_and_pin_dims_s": "s",
        "incremental_runner.merge_write_s": "s",
        "incremental_runner.branch_max_s": "s",
        **{f"incremental_runner.branch.{t}_s": "s" for t in tables},
        "incremental_runner.rows_written": "count",
        "incremental_runner.write_mb": "MB",
        "incremental_runner.read_watermark_s": "s",
        "incremental_runner.rows_changed": "count",
        "incremental_runner.rewrite_ratio": "ratio",
        "etl_incremental.run_s": "s",
        "etl_incremental.cpu_s": "s",
        "etl_incremental.spark_jobs": "count",
        "etl_incremental.graph_jobs": "count",
        "etl_incremental.write_mb": "MB",
        "graph.connected_components_s": "s",
        "graph.jobs": "count",
        "phab_pipelines.plan_s": "s",
        "phab_pipelines.stack_components_s": "s",
        "spark.jobs": "count",
        "spark.jobs_unattributed": "count",
        "spark.stages": "count",
        "spark.tasks": "count",
        "spark.executor_run_s": "s",
        "spark.executor_cpu_s": "s",
        "spark.gc_s": "s",
        "spark.shuffle_read_mb": "MB",
        "spark.shuffle_write_mb": "MB",
        "spark.spill_mb": "MB",
        "spark.busy_ratio": "ratio",
    }
    for q in queries:
        names.update({f"query.{q}_s": "s", f"query.{q}_jobs": "count", f"query.{q}_cpu_s": "s"})
    return names


def _prepare_environment(workload: str) -> str:
    """Keep every file the run writes inside the checkout: Spark's local
    dirs, the JVM's and Python's temp dirs, and the working directory
    (where Spark may create spark-warehouse/)."""
    work = os.path.join(ROOT, ".bench_work", f"{workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cores = len(os.sched_getaffinity(0))
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_GRAFT_LOCAL_DIR=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
        # -UsePerfData: no hsperfdata file in the system temp dir
        JAVA_TOOL_OPTIONS=" ".join(filter(None, [os.environ.get("JAVA_TOOL_OPTIONS"),
                                                 f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData"])),
        PYSPARK_PYTHON=sys.executable,
    )
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.chdir(work)
    sys.path[:0] = [ROOT, HERE]
    return work


def _stop(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway server exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _log(workload: str, msg: str) -> None:
    """Progress on standard error, stamped with seconds since start."""
    print(f"[{workload} +{time.perf_counter() - T0:.1f}s] {msg}", file=sys.stderr)


def _fmt(xs: list[float]) -> str:
    return " ".join(f"{x:.2f}" for x in xs)


def bench(workload: str, seed: int, seconds: float, trace: bool, work: str) -> dict:
    from counters import StatusReader, live_heap_mb
    from phabricator_etl_spark.session import get_spark
    from tracing import Tracer, unwrap, wrap_everywhere
    from workloads import TABLES, WORKLOADS, AnalyticsMix

    wl = WORKLOADS[workload](work)
    spark = None
    starts, gens = [], []
    try:
        for _ in range(SETUPS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = get_spark("perfbench")
            spark.sparkContext.setLogLevel("ERROR")
            t1 = time.perf_counter()
            wl.generate(spark, seed)
            starts.append(t1 - t0)
            gens.append(time.perf_counter() - t1)
        setup_s = statistics.median([s + g for s, g in zip(starts, gens)])
        _log(workload, f"set-up {setup_s:.2f} s (session starts {_fmt(starts)}, generation {_fmt(gens)})")

        reader = StatusReader(spark)
        cores = int(os.environ["SPARK_GRAFT_CPUS"])
        tracer = Tracer()
        attempted = failed = 0

        def run_unit(traced: bool) -> dict | None:
            nonlocal attempted, failed
            attempted += 1
            unit_id = f"unit{attempted}"
            undo = []
            try:
                wl.before_unit()
                if traced:
                    for name, f in wl.traced_functions().items():
                        undo += wrap_everywhere(tracer, f, name)
                last = reader.last_job_id()
                since = time.time()
                t0 = time.perf_counter()
                if traced:
                    with tracer.unit(unit_id):
                        wl.unit(spark, tracer)
                else:
                    wl.unit(spark, None)
                run_s = time.perf_counter() - t0
                w = reader.work_since(last)
                write_mb = wl.unit_write_mb(since)
                ok = wl.check_unit(spark)
                heap = 0.0 if trace else live_heap_mb(spark)  # an end-to-end metric only
            except Exception:  # a failed unit counts against error_rate; the run goes on
                _log(workload, f"{unit_id} failed:\n{traceback.format_exc()}")
                failed += 1
                return None
            finally:
                unwrap(undo)
            if not ok:
                _log(workload, f"{unit_id}: wrong result")
                failed += 1
            _log(workload, f"{unit_id}{' traced' if traced else ''}: {run_s:.2f} s, "
                           f"{w.jobs} jobs, executor cpu {w.executor_cpu_s:.2f} s")
            u = {"run_s": run_s, "cpu_s": w.executor_cpu_s, "spark_jobs": w.jobs,
                 "disk_write_mb": write_mb + w.shuffle_write_mb + w.spill_mb, "live_heap_mb": heap}
            if traced:
                u.update({
                    "incremental_runner.write_mb": write_mb,
                    "graph.jobs": w.jobs_by_module.get("graph", 0),
                    "spark.jobs": w.jobs,
                    "spark.jobs_unattributed": w.jobs_unattributed,
                    "spark.stages": w.stages,
                    "spark.tasks": w.tasks,
                    "spark.executor_run_s": w.executor_run_s,
                    "spark.executor_cpu_s": w.executor_cpu_s,
                    "spark.gc_s": w.gc_s,
                    "spark.shuffle_read_mb": w.shuffle_read_mb,
                    "spark.shuffle_write_mb": w.shuffle_write_mb,
                    "spark.spill_mb": w.spill_mb,
                    "spark.busy_ratio": w.executor_run_s / (run_s * cores),
                    **wl.layer_metrics(tracer.of_unit(unit_id)),
                })
            return u

        def run_for(traced: bool) -> list[dict]:
            """Units one after another until ``seconds`` have passed (at least one)."""
            units, t_end = [], time.perf_counter() + seconds
            while not units or time.perf_counter() < t_end:
                u = run_unit(traced)
                if u is None and failed > attempted // 2:
                    break
                units += [u] if u else []
            return units

        def med(units: list[dict], key: str) -> float:
            return statistics.median([u[key] for u in units])

        def incremental_unit() -> dict[str, float]:
            """etl_full's traced run ends with one traced unit of the
            nightly shape: an incremental run over the preloaded early world."""
            wl.incremental = True
            u = run_unit(traced=True)
            if u is None:
                return {}
            return {
                **{f"etl_incremental.{k}": u[k] for k in ("run_s", "cpu_s", "spark_jobs")},
                "etl_incremental.graph_jobs": u["graph.jobs"],
                "etl_incremental.write_mb": u["incremental_runner.write_mb"],
                **{f"incremental_runner.{k}": u[f"incremental_runner.{k}"]
                   for k in ("read_watermark_s", "rows_changed", "rewrite_ratio")},
            }

        if not trace:
            units = run_for(traced=False)
            metrics = {k: med(units, k) for k in END_TO_END if k != "setup_s"}
            metrics["setup_s"] = setup_s
            units_of = END_TO_END
        else:
            attempted += 1
            try:
                ok, cold_s = wl.warm_up(spark)
            except Exception:
                _log(workload, f"warm-up failed:\n{traceback.format_exc()}")
                ok, cold_s = False, 0.0
            failed += not ok
            _log(workload, f"cold warm-up: {cold_s:.2f} s")
            # traced first: the JIT is still warming over the first units, so
            # trace.overhead_s errs high rather than hiding what tracing costs
            traced, plain = run_for(traced=True), run_for(traced=False)
            units_of = per_layer_units(AnalyticsMix.QUERIES, TABLES)
            metrics = dict.fromkeys(units_of, 0.0)
            metrics.update({k: med(traced, k) for k in traced[0] if k in units_of})
            metrics.update({
                "session.start_s": starts[0],
                "sources.generate_s": statistics.median(gens),
                "sources.rows": wl.source_rows,
                "cold.first_run_s": cold_s,
                "unit.run_s": med(plain, "run_s"),
                "unit.cpu_s": med(plain, "cpu_s"),
                "trace.overhead_s": med(traced, "run_s") - med(plain, "run_s"),
            })
            if hasattr(wl, "incremental"):
                metrics.update(incremental_unit())
            traces = os.path.join(ROOT, ".bench_work", "traces")
            os.makedirs(traces, exist_ok=True)
            tracer.dump(os.path.join(traces, f"{workload}-seed{seed}.json"))
        _log(workload, f"{attempted} units, error_rate {failed / attempted:.3f}")
        return {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": float(metrics[k]), "unit": units_of[k]} for k in units_of},
        }
    finally:
        _stop(spark)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["etl_full", "analytics_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    work = _prepare_environment(args.workload)
    try:
        result = bench(args.workload, args.seed, args.seconds, bool(args.trace), work)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
