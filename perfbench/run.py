"""Benchmark of the visibility pipeline and the query registry.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. The benchmark starts the product
session (``session.get_spark()`` with its defaults), generates or
locates the workload's inputs, times its calls into the program, checks
every output, and prints as its last stdout line one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. The line before it,
prefixed ``perfbench``, holds the host fingerprint, the idle gate (host
CPU busy share and load average before and after, and the share of CPU
time stolen by the hypervisor during the run), the first output
mismatches and the per-run times.

``--trace 0`` prints the end-to-end metrics:

- ``setup_s``: process start to a ready session: imports, ``get_spark``,
  the first job and the pandas-UDF worker start (the idle probe before
  the session is not counted);
- ``cold_s``: the first pipeline run (or registry pass) in that session;
- ``warm_s``: median of the repeats after the cold one (at least the
  workload's ``min_warm`` of them);
- ``cpu_s``: median CPU seconds of the whole process tree (driver, JVM,
  Python workers) per warm run.

``--trace 1`` prints the per-layer metrics from a separate traced run
(see ``vis.py``, ``registry.py`` and ``spans.py``), and the tracing
overhead: the traced pass's time minus the mean of the untraced warm
runs just before and after it. A traced run also traces the other
workload's layers once, so every per-layer metric is measured in it.

Everything the program writes (outputs, run and autodetect logs,
staging, Spark scratch, warehouse, temp files) goes under
``.perfbench_tmp/`` in the checkout, which is removed on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

import spans

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("vis_querylevel", "registry_llmops")
# Environment knobs of the program that would change what is measured;
# the benchmark runs with none of them set.
PROGRAM_ENV_PREFIXES = ("SPARK_GRAFT_", "ETL_")
PROGRAM_ENV_NAMES = (
    "PYSPARK_SUBMIT_ARGS", "RUN_ID", "SITE_BASE", "STRIP_ALL_QUERY_PARAMS",
    "FROG_CSV_PATH", "GSC_CSV_PATH", "GA4_CSV_PATH",
)


def since_process_start() -> float:
    """Seconds since this process started (kernel start time, 10 ms ticks)."""
    with open("/proc/self/stat", "rb") as fh:
        start_ticks = int(fh.read().rsplit(b")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")


def isolate(work: str) -> None:
    """Point every path the program or Spark writes at ``work``."""
    for k in list(os.environ):
        if k.startswith(PROGRAM_ENV_PREFIXES) or k in PROGRAM_ENV_NAMES:
            del os.environ[k]
    tmp = os.path.join(work, "tmp")
    for d in ("tmp", "logs", "local", "sig"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ.update({
        "ETL_AUTODETECT_LOG_PATH": os.path.join(work, "logs", "etl_autodetect.csv"),
        "ETL_RUN_LOG_PATH": os.path.join(work, "logs", "runs.csv"),
        "SPARK_GRAFT_SIG_STAGE_ROOT": os.path.join(work, "sig"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": tmp,
        "JDK_JAVA_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        # Python workers import the package from the checkout.
        "PYTHONPATH": os.pathsep.join([ROOT, HERE]),
    })
    # Relative paths (spark-warehouse, metastore) land in ``work`` too.
    os.chdir(work)


def cleanup(work: str) -> None:
    """Remove ``work``, and ``.perfbench_tmp`` once it is empty."""
    os.chdir(ROOT)
    shutil.rmtree(work, ignore_errors=True)
    base = os.path.dirname(work)
    if os.path.isdir(base) and not os.listdir(base):
        os.rmdir(base)


def start_session(probe_s: float = 0.0) -> tuple[object, dict]:
    """The product session, its first job and its Python UDF workers,
    each timed. ``probe_s`` is time this process spent before it on
    the idle probe, which is not set-up."""
    from strategicai_visibility_loop_etl_spark.session import get_spark

    spark = get_spark()
    t_start = since_process_start() - probe_s
    t0 = time.perf_counter()
    n = spark.range(0, 100_000, 1, spark.sparkContext.defaultParallelism).selectExpr(
        "sum(id) AS s"
    ).first()["s"]
    t1 = time.perf_counter()

    from pyspark.sql.functions import col, pandas_udf

    @pandas_udf("long")
    def plus_one(x):
        return x + 1

    m = spark.range(0, 40_000, 1, spark.sparkContext.defaultParallelism).select(
        plus_one(col("id")).alias("y")
    ).selectExpr("sum(y) AS s").first()["s"]
    t2 = time.perf_counter()
    if n != 100_000 * 99_999 // 2 or m != 40_000 * 40_001 // 2:
        raise RuntimeError(f"session warm-up jobs returned {n}, {m}")
    return spark, {
        "session.start_s": t_start,
        "session.first_job_s": t1 - t0,
        "session.py_workers_s": t2 - t1,
    }


def stop_session(spark) -> None:
    """Stop Spark and the JVM, and wait until every process the
    session started has exited."""
    from pyspark import SparkContext

    kids = spans.descendants(os.getpid())
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 60
    while time.monotonic() < deadline:
        alive = [p for p in kids if os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        time.sleep(0.05)
    for p in alive:
        try:
            os.kill(p, 9)
        except ProcessLookupError:
            pass


def measure(wl, seconds: float) -> tuple[list[float], list[float], list[str]]:
    """The cold run, then warm repeats until ``seconds`` have passed,
    with at least ``wl.min_warm`` warm repeats."""
    times, cpus, bad = [], [], []
    start = time.perf_counter()
    while True:
        dt, cpu, errs = wl.run()
        times.append(dt)
        cpus.append(cpu)
        bad += errs
        enough = len(times) - 1 >= wl.min_warm
        if enough and time.perf_counter() - start + dt > seconds:
            return times, cpus, bad


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="self-test input size")
    args = ap.parse_args()

    work = os.path.join(ROOT, ".perfbench_tmp", f"{args.workload}-{os.getpid()}")
    isolate(work)
    sys.path.insert(0, ROOT)
    t0 = time.perf_counter()
    info = {
        "workload": args.workload,
        "seed": args.seed,
        "load_1m_before": spans.loadavg_1m(),
        "host_busy_before": spans.host_busy(),
    }
    jiffies = spans.cpu_jiffies()
    probe_s = time.perf_counter() - t0
    spark = None
    try:
        spark, session = start_session(probe_s)
        setup_s = since_process_start() - probe_s
        info["host"] = spans.host_fingerprint(spark)
        from registry import RegistryWorkload
        from vis import VisWorkload

        kinds = {"vis_querylevel": VisWorkload, "registry_llmops": RegistryWorkload}
        wl = kinds.pop(args.workload)(spark, args.seed, work, tiny=args.tiny)
        wl.prepare()
        if args.trace:
            (other_kind,) = kinds.values()
            other = other_kind(spark, args.seed, work, tiny=args.tiny)
            other.prepare()
            result = run_traced(spark, wl, other, session)
        else:
            result = run_e2e(wl, args.seconds, setup_s)
    finally:
        if spark is not None:
            stop_session(spark)
        cleanup(work)
    info["load_1m_after"] = spans.loadavg_1m()
    info["steal_share"] = spans.share(jiffies, spans.cpu_jiffies(), 1)
    info["host_busy_after"] = spans.host_busy()
    # Idle gate: other processes kept less than a quarter of the host
    # busy just before the session started and just after it stopped.
    info["idle"] = max(info["host_busy_before"], info["host_busy_after"]) < 0.25
    info["mismatches"] = result.pop("mismatches")[:10]
    info["detail"] = result.pop("detail")
    print("perfbench " + json.dumps(info), flush=True)
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


def run_e2e(wl, seconds: float, setup_s: float) -> dict:
    times, cpus, bad = measure(wl, seconds)
    metrics = {
        "setup_s": (setup_s, "s"),
        "cold_s": (times[0], "s"),
        "warm_s": (statistics.median(times[1:]), "s"),
        "cpu_s": (statistics.median(cpus[1:]), "s"),
    }
    detail = {"run_s": [round(t, 4) for t in times]}
    if hasattr(wl, "query_s"):
        detail["query_s"] = [{q: round(t, 3) for q, t in p.items()} for p in wl.query_s]
    return _result(metrics, len(times) * wl.ops_per_run, bad, detail)


def run_traced(spark, wl, other, session: dict) -> dict:
    """The cold run, an untraced warm run, the traced pass, and another
    untraced warm run. The tracing overhead is the traced pass minus the
    mean of the two untraced runs around it, which cancels the warm-up
    trend. Then one untraced run and one traced pass of the ``other``
    workload, so that every layer of the program is measured in every
    traced run and no per-layer metric is a constant."""
    tracer = spans.Tracer(spark)
    bad = wl.run()[2]
    before, _, errs = wl.run()
    bad += errs
    layers, errs, traced = wl.trace(tracer)
    bad += errs
    after, _, errs = wl.run()
    bad += errs
    untraced = (before + after) / 2
    bad += other.run()[2]
    other_layers, errs, _ = other.trace(tracer)
    bad += errs
    layers.update(other_layers)
    layers.update(session)
    layers["jvm.gc_s"] = spans.jvm_gc_s(spark)
    layers["peak_rss_mb"] = spans.tree_peak_rss_mb(os.getpid())
    layers["trace.overhead_s"] = traced - untraced
    metrics = {name: (layers[name], unit) for name, unit in per_layer_units().items()}
    return _result(metrics, 4 * wl.ops_per_run + 2 * other.ops_per_run, bad,
                   {"untraced_s": [round(before, 4), round(after, 4)], "traced_s": round(traced, 4)})


def per_layer_units() -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)["per_layer"]}


def _result(metrics: dict, attempted: int, bad: list[str], detail: dict) -> dict:
    return {
        "correct": not bad,
        "attempted": attempted,
        "failed": len(bad),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        "mismatches": bad,
        "detail": detail,
    }


if __name__ == "__main__":
    sys.exit(main())
