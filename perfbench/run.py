"""KG-construction benchmark: one workload per process, one JSON line out.

    python3 perfbench/run.py --workload build_entity_dense --seed 1 \
        --seconds 10 --trace 0

Run from the repository root.  ``--trace 0`` prints the end-to-end
metrics; ``--trace 1`` repeats the same workload with Spark's event log
on and the pipeline's public entry points wrapped, and prints the
per-layer metrics instead.  The last line of standard output is
``{"correct", "attempted", "failed", "metrics"}``; the exit code is 1
when any output was wrong and 2 when the program cannot be run at all.
"""

from __future__ import annotations

import time

T_PROCESS = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import procs  # noqa: E402
import stats  # noqa: E402

END_TO_END_UNITS = {
    "triples_per_s": "triples/s",
    "batch_p50_s": "s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "success_rate": "ratio",
}


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _spark_env(work: str) -> dict[str, str]:
    """Point every scratch location of Spark and its workers into the
    run's own directory; return the session settings the benchmark pins."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # every JVM (launcher and driver): temp files here, no hsperfdata files
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, *filter(None, [os.environ.get("PYTHONPATH")])]
    )
    return {
        # the inputs need far less; a small cap keeps peak RSS comparable
        "spark.driver.memory": "2g",
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


def end_to_end(ops, setup_s: float, peak_mb: float) -> dict[str, float]:
    lat = [o.latency_s for o in ops]
    return {
        "triples_per_s": sum(o.triples for o in ops) / sum(lat),
        "batch_p50_s": stats.percentile(lat, 50),
        "setup_s": setup_s,
        "peak_rss_mb": peak_mb,
        "success_rate": sum(o.ok for o in ops) / len(ops),
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "graph_importer_spark")):
        _fail(f"no graph_importer_spark package under {ROOT}")
    try:
        import workloads
    except ImportError as e:
        _fail(f"cannot import the program: {e}")
    if args.workload not in workloads.WORKLOADS:
        _fail(f"unknown workload {args.workload!r}; one of {workloads.WORKLOADS}")

    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        return _run(args, work, workloads)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.join(HERE, ".work"))
        except OSError:
            pass


def _run(args, work: str, workloads) -> int:
    from graph_importer_spark.session import get_spark

    conf = _spark_env(work)
    tracer = None
    if args.trace:
        import tracing as tr

        tracer = tr.Tracer(work)
        conf.update(tracer.spark_conf())
    cores = len(os.sched_getaffinity(0))
    with procs.RssSampler() as rss:
        t0 = time.monotonic()
        spark = get_spark(app_name="perfbench", cores=cores, extra_conf=conf)
        session_s = time.monotonic() - t0
        try:
            spark.sparkContext.setLogLevel("ERROR")
            if tracer is not None:
                tracer.attach(spark, session_s)
            wl = workloads.make(spark, work, args.workload, args.seed, tracer)
            wl.setup()
            setup_s = time.monotonic() - T_PROCESS
            ops, crashed = [], 0
            rss.armed = True
            t_start = time.monotonic()
            while time.monotonic() - t_start < args.seconds:
                try:
                    ops.extend(wl.timed_op())
                except Exception:  # an operation that raises is one failed attempt
                    traceback.print_exc()
                    crashed = 1
                    break
            rss.armed = False
        finally:
            procs.stop_spark(spark)
    failed = crashed + sum(not o.ok for o in ops)
    if crashed:
        metrics, units = {}, {}
    elif args.trace:
        metrics, units = tracer.report(ops), tr.UNITS
    else:
        metrics, units = end_to_end(ops, setup_s, rss.peak_mb), END_TO_END_UNITS
    print(
        f"perfbench: {args.workload} seed={args.seed} ops={len(ops)} "
        f"highest_supported_percentile={stats.highest_supported(len(ops))} "
        f"latencies_in_order={[round(o.latency_s, 3) for o in ops]}",
        file=sys.stderr,
    )
    out = {
        "correct": failed == 0,
        "attempted": crashed + len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    print(json.dumps(out), flush=True)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
