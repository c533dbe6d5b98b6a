"""Benchmark of the rindex_spark engine: build and serve workloads.

Run from the root of a checkout:

    python3 perfbench/run.py --workload build --seed 1 --seconds 1 --trace 0

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: every end-to-end
metric with ``--trace 0``, every per-layer metric with ``--trace 1``.
The line before it reports the Spark settings, CPU count and load.
Exit code 0 means the run finished (``correct`` says whether the answers
passed their checks); 2 means the engine could not be imported from the
checkout; 1 means the run itself broke.
"""

from __future__ import annotations

import time

T0 = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

E2E_UNITS = {
    "setup_s": "s",
    "latency_p50_ms": "ms",
    "throughput_per_s": "1/s",
    "storage_mb": "MiB",
    "peak_rss_mb": "MiB",
}


def spark_conf(n: int, tmp: str, trace: bool) -> dict:
    conf = {
        "spark.master": f"local[{n}]",
        "spark.app.name": "rindex-perfbench",
        "spark.driver.memory": "2g",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.local.dir": os.path.join(tmp, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.sql.shuffle.partitions": str(n),
        "spark.default.parallelism": str(n),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "true" if trace else "false",
    }
    if trace:
        conf["spark.eventLog.dir"] = "file://" + os.path.join(tmp, "eventlog")
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    return conf


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("build", "serve"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    trace = bool(args.trace)

    sys.path.insert(0, str(HERE))
    sys.path.insert(0, str(ROOT))
    try:
        import rindex_spark
    except ImportError as e:
        print(f"perfbench: cannot import rindex_spark from {ROOT}: {e}", file=sys.stderr)
        return 2
    if Path(rindex_spark.__file__).resolve().parent.parent != ROOT:
        print(f"perfbench: rindex_spark was not imported from {ROOT}", file=sys.stderr)
        return 2

    import host

    n = min(2, host.nproc())
    load_start = host.loadavg_1m()
    os.makedirs(ROOT / ".bench_tmp", exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="run-", dir=ROOT / ".bench_tmp")
    conf = spark_conf(n, tmp, trace)
    if trace:
        os.makedirs(os.path.join(tmp, "eventlog"))
    # executors' Python workers import the engine from this checkout and
    # keep their scratch files in the run's directory
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["SPARK_LOCAL_DIRS"] = conf["spark.local.dir"]
    os.environ["TMPDIR"] = tmp
    # the engine's kNN stats hook: off, except inside the hooked operations
    # of a traced run
    os.environ.pop("RINDEX_KNN_STATS", None)

    spark = None
    try:
        with host.PeakRss() as rss:
            from pyspark.sql import SparkSession

            t = time.monotonic()
            b = SparkSession.builder
            for k, v in conf.items():
                b = b.config(k, v)
            spark = b.getOrCreate()
            spark.sparkContext.setLogLevel("ERROR")
            session_s = time.monotonic() - t

            import spans as trace_mod
            import workloads

            tracer = trace_mod.Tracer(spark.sparkContext, trace)
            ctx = workloads.Ctx(spark, tracer, tmp, args.seed, args.seconds, trace, T0)
            correct = True
            try:
                res = workloads.WORKLOADS[args.workload](ctx)
            except workloads.checks.CheckFailed as e:
                print(f"perfbench: check failed: {e}", file=sys.stderr)
                correct, res = False, None
            res = res or {"e2e": {}}
            res["workload"] = args.workload
            rss.sample()
            stop_spark(spark)
            spark = None
        metrics = dict(res["e2e"])
        metrics["setup_s"] = ctx.setup_s
        metrics["peak_rss_mb"] = rss.peak_mib()
        if trace and correct:
            events = trace_mod.read_event_log(os.path.join(tmp, "eventlog"))
            counts = trace_mod.per_span_counts(events, tracer.spans)
            trace_mod.summary(tracer.spans, counts, sys.stderr)
            tracer.write(sys.stderr)
            layer = workloads.per_layer(ctx, res, counts, session_s)
            out = {k: {"value": layer[k], "unit": u} for k, u in workloads.LAYER_METRICS.items()}
        else:
            out = {
                k: {"value": metrics[k], "unit": u}
                for k, u in E2E_UNITS.items()
                if metrics.get(k) is not None
            }
        info = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "nproc": host.nproc(),
            "loadavg_1m_start": load_start,
            "loadavg_1m_end": host.loadavg_1m(),
            "spark_conf": {k: v for k, v in conf.items() if tmp not in v},
        }
        print(json.dumps({"info": info}))
        print(
            json.dumps(
                {
                    "correct": correct,
                    "attempted": ctx.attempted,
                    "failed": ctx.failed,
                    "metrics": out,
                }
            ),
            flush=True,
        )
        return 0
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(ROOT / ".bench_tmp")
        except OSError:
            pass  # another run is still using it


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers it started) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


if __name__ == "__main__":
    sys.exit(main())
