"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload interactive_sql --seed 1 --seconds 6 --trace 0

Run from the repository root. The last line of standard output is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``; the
line before it is ``{"context": ...}``: cores, scale, Spark conf,
seed, pyspark version, the parallel calibration and load average.
With ``--trace 0`` the metrics are the end-to-end set; with
``--trace 1`` they are the per-layer set, taken from traced passes
that alternate with untraced ones. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")

#: set-ups per run; ``setup_s`` is their median
SETUP_REPS = 3
#: passes measured at the least, however short ``--seconds``: pass_s
#: is a median of three at the least, and a traced run has untraced
#: and traced passes
MIN_PASSES = 3


def _keep_inside(work_dir: str) -> None:
    """Point every scratch location of Python, Spark and the JVM into
    the run's work directory (``-XX:-UsePerfData`` stops the JVM's
    monitoring file under /tmp)."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")
    os.environ["JDK_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _per_pass(ops, key) -> list[float]:
    totals: dict[int, float] = {}
    for op in ops:
        totals[op.pass_no] = totals.get(op.pass_no, 0.0) + key(op)
    return list(totals.values())


def measure(
    workload: str,
    seed: int,
    seconds: float,
    trace: bool,
    work_dir: str,
    sizes: dict | None = None,
    faults: dict | None = None,
    spans_path: str | None = None,
) -> dict:
    """Set up ``workload``, run passes for ``seconds``, and return
    ``{"context", "result"}``. ``faults`` maps a request name to
    ``"raise"`` or ``"wrong"`` to inject a failure (for the tests)."""
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    import bench
    import pyspark
    from trendengine_spark.session import get_spark

    from perfbench import harness
    from perfbench.workloads import WORKLOADS

    faults = faults or {}
    calib_s = bench._parallel_calibration()
    load_start = os.getloadavg()[0]
    rng = random.Random(seed)
    wl = WORKLOADS[workload](ROOT, work_dir, seed, **(sizes or {}))
    setup_s, session_s, setup_info = [], [], []
    ops: list = []
    pass_s = {False: [], True: []}
    with harness.RssSampler() as rss:
        spark = None
        for rep in range(SETUP_REPS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = get_spark(app_name=f"perfbench_{workload}")
            t1 = time.perf_counter()
            setup_info.append(wl.setup(spark, rep))
            setup_s.append(time.perf_counter() - t0)
            session_s.append(t1 - t0)
        conf = {
            k: v
            for k, v in spark.sparkContext.getConf().getAll()
            if k.startswith("spark.sql.") or k in ("spark.master", "spark.driver.memory")
        }
        wl.prepare_checks()
        warm_start = time.perf_counter()
        for _ in range(wl.warm_up_passes):  # untimed: first-use work, JIT
            for req in wl.requests(spark):
                op, res = harness.run_op(spark, req, -1, False, seconds, None)
                wl.after_op(spark, op, res)
                if op.error:
                    print(f"perfbench: warm-up {op.name} failed: {op.error}", file=sys.stderr)
        start = time.perf_counter()
        cpu_start = harness.cpu_times()
        pass_no = 0
        while pass_no < MIN_PASSES or time.perf_counter() - start < seconds:
            traced = trace and pass_no % 2 == 1
            if traced:
                spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
            else:
                spark.conf.unset("spark.sql.pyspark.udf.profiler")
            reqs = wl.requests(spark)
            rng.shuffle(reqs)
            this_pass = []
            for req in reqs:
                op, res = harness.run_op(
                    spark, req, pass_no, traced, seconds, faults.get(req.name)
                )
                wl.after_op(spark, op, res)
                this_pass.append(op)
                if op.error:
                    print(f"perfbench: {op.name} failed: {op.error}", file=sys.stderr)
            pass_s[traced].append(sum(op.latency_s for op in this_pass))
            ops.extend(this_pass)
            pass_no += 1
        measure_s = time.perf_counter() - start
        steal_frac = harness.steal_frac(cpu_start, harness.cpu_times())
        final_error = wl.final_check(spark)
        if final_error:
            print(f"perfbench: final check failed: {final_error}", file=sys.stderr)
        wl.close()
        _stop_spark(spark)
    if spans_path:
        harness.write_spans(spans_path, ops)

    failed = sum(op.error is not None for op in ops)
    med = harness.median
    if not trace:
        lat = [op.latency_s for op in ops]
        pct, tail_s, n = harness.tail(lat, MIN_PASSES * (len(ops) // pass_no))
        fits = [op for op in ops if op.kind in ("polytrend", "dbest")]
        metrics = {
            "setup_s": (med(setup_s), "s"),
            "pass_s": (med(pass_s[False]), "s"),
            "op_p50_ms": (1000 * med(lat), "ms"),
            "op_tail_ms": (1000 * tail_s, "ms"),
            "series_per_s": (
                sum(op.series for op in fits) / max(1e-9, sum(op.latency_s for op in fits)),
                "1/s",
            ),
            "polytrend_p50_ms": (
                1000 * med(op.latency_s for op in ops if op.kind == "polytrend"),
                "ms",
            ),
        }
        extra = {"op_tail_percentile": pct, "op_tail_samples": n}
    else:
        metrics = _layer_metrics(wl, ops, setup_info, session_s, pass_s, failed)
        metrics["proc.peak_rss_mb"] = (rss.peak_mb, "MB")
        extra = {}
    context = {
        "workload": workload,
        "seed": seed,
        "trace": int(trace),
        "cores": os.cpu_count(),
        **wl.context(),
        "conf": conf,
        "pyspark": pyspark.__version__,
        "calib_parallel_s": calib_s,
        "load_avg_start": round(load_start, 2),
        "load_avg_end": round(os.getloadavg()[0], 2),
        "passes": pass_no,
        "setup_reps": SETUP_REPS,
        "setup_total_s": round(sum(setup_s), 2),
        "warm_up_passes": wl.warm_up_passes,
        "warm_up_s": round(start - warm_start, 2),
        "setups": [
            {"session_s": round(t, 3), **{k: round(v, 3) for k, v in info.items()}}
            for t, info in zip(session_s, setup_info)
        ],
        "measure_s": round(measure_s, 2),
        "steal_frac": round(steal_frac, 4),
        "pass_s": [round(v, 3) for v in pass_s[False] + pass_s[True]],
        **extra,
    }
    result = {
        "correct": failed == 0 and final_error is None,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }
    return {"context": context, "result": result}


def _layer_metrics(wl, ops, setup_info, session_s, pass_s, failed) -> dict:
    import bench

    from perfbench.harness import median as med

    traced = [op for op in ops if op.traced]
    fitted = [op for op in traced if op.kind != "ingest"]

    def setup_med(key):
        return med(info[key] for info in setup_info if key in info)

    def pass_sum(key):
        return med(_per_pass(traced, lambda op: op.layers.get(key, 0.0)))

    def lat_ms(pred):
        return 1000 * med(op.latency_s for op in traced if pred(op))

    build_ms = 1000 * med(op.build_s for op in fitted)
    fit = _per_pass(traced, lambda op: op.layers.get("fit_stage_run_ms", 0.0))
    udf = _per_pass(traced, lambda op: op.layers.get("udf_python_ms", 0.0))
    m = {
        "session.start_s": (med(session_s), "s"),
        "session.jvm_start_s": (session_s[0], "s"),
        "tables.warm_cache_s": (setup_med("warm_cache_s"), "s"),
        "tables.cached_mb": (setup_info[-1].get("cached_mb", 0.0), "MB"),
        "queries.build_ms": (build_ms if wl.name == "interactive_sql" else 0.0, "ms"),
    }
    for name in bench.HEADLINE:
        m[f"queries.{name}.p50_ms"] = (lat_ms(lambda op: op.name == name), "ms")
    m.update(
        {
            "engine.build_ms": (build_ms if wl.name == "trend_map" else 0.0, "ms"),
            "tablelog.commit_s": (setup_med("commit_s"), "s"),
            "tablelog.publish_ms": (lat_ms(lambda op: op.kind == "ingest"), "ms"),
            "tablelog.files_per_version": (med(getattr(wl, "files_per_version", [])), "count"),
            "tablelog.files_read_frac": (med(getattr(wl, "files_read_frac", [])), "frac"),
            "functions.fit_stage_run_ms": (med(fit), "ms"),
            "functions.fit_stage_wall_ms": (pass_sum("fit_stage_wall_ms"), "ms"),
            "functions.udf_python_ms": (med(udf), "ms"),
            "functions.udf_overhead_ms": (med(f - u for f, u in zip(fit, udf)), "ms"),
            "operators.owned_caches": (
                med(_per_pass(traced, lambda op: op.owned_caches)),
                "count",
            ),
            "spark.jobs": (pass_sum("jobs"), "count"),
            "spark.stages": (pass_sum("stages"), "count"),
            "spark.tasks": (pass_sum("tasks"), "count"),
            "spark.plan_ms": (1000 * med(op.plan_s for op in fitted), "ms"),
            "spark.driver_gap_ms": (med(op.layers["driver_gap_ms"] for op in traced), "ms"),
            "spark.fetch_ms": (med(op.layers["fetch_ms"] for op in traced), "ms"),
            "spark.result_mb": (med(_per_pass(traced, lambda op: op.result_mb)), "MB"),
            "spark.executor_run_ms": (pass_sum("executor_run_ms"), "ms"),
            "spark.executor_cpu_ms": (pass_sum("executor_cpu_ms"), "ms"),
            "spark.shuffle_read_mb": (pass_sum("shuffle_read_mb"), "MB"),
            "spark.shuffle_write_mb": (pass_sum("shuffle_write_mb"), "MB"),
            "spark.spill_mb": (pass_sum("spill_mb"), "MB"),
            "trend.dbest_p50_ms": (lat_ms(lambda op: op.kind == "dbest"), "ms"),
            "trend.ingest_p50_ms": (lat_ms(lambda op: op.kind == "ingest"), "ms"),
            "bench.failed_ops_frac": (failed / max(1, len(ops)), "frac"),
            "bench.untraced_pass_s": (med(pass_s[False]), "s"),
            "bench.traced_pass_s": (med(pass_s[True]), "s"),
            "bench.trace_overhead_s": (med(pass_s[True]) - med(pass_s[False]), "s"),
        }
    )
    return m


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    try:
        import bench  # noqa: F401
        import trendengine_spark  # noqa: F401

        from perfbench.workloads import WORKLOADS
    except ImportError as exc:
        print(f"perfbench: the repository is not importable here: {exc}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    work_dir = os.path.join(WORK_ROOT, f"{args.workload}-{args.seed}-{os.getpid()}")
    _keep_inside(work_dir)
    try:
        out = measure(
            args.workload,
            args.seed,
            args.seconds,
            bool(args.trace),
            work_dir,
            spans_path=os.path.join(
                WORK_ROOT, "traces", f"{args.workload}-seed{args.seed}.jsonl"
            )
            if args.trace
            else None,
        )
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)
    print(json.dumps({"context": out["context"]}))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
