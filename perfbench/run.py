"""Benchmark entry point: G-Stream stream drains and an operator query mix.

    python3 perfbench/run.py --workload stream --seed 1 --seconds 10 --trace 0

Run from the repository root.  Inputs are generated from ``--seed`` into a
per-run work directory under the root, which is removed at exit.  The last
line of stdout is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` (the end-to-end metrics, or with ``--trace 1`` the
per-layer ones).  The line before it is a report with every end-to-end
figure by name and unit, failure share, sample counts and host noise.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "spark_streaming_clustering_spark"


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=("stream", "queries_mix"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _start_session(workload: str, work: str):
    from perfbench.stats import host_cpus, host_mem_mb
    from spark_streaming_clustering_spark.session import get_spark

    tmp = tempfile.gettempdir()
    spark = get_spark(
        f"perfbench-{workload}",
        # Two task threads: with as many as the host has cores, the tasks,
        # the JIT and GC threads and the host's other tenants oversubscribe
        # the cores, and the figures measure the scheduler.
        cpus=min(2, host_cpus()),
        extra_conf={
            "spark.driver.memory": f"{min(4096, host_mem_mb() // 4)}m",
            # keep every micro-batch's progress, not the last 100
            "spark.sql.streaming.numRecentProgressUpdates": "1000000",
            "spark.local.dir": tmp,
            # a fixed set of JIT compiler threads, for stats.work_cpu_s
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UseDynamicNumberOfCompilerThreads",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and the Python workers it owns)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - a JVM that ignores EOF is killed
            proc.kill()
            proc.wait(timeout=30)


def run(args, work: str) -> dict:
    from perfbench import stats
    from perfbench.queries import QueryWorkload
    from perfbench.schema import END_TO_END, PER_LAYER
    from perfbench.streams import StreamWorkload

    if args.workload == "queries_mix":
        wl = QueryWorkload(args.seed, work)
    else:
        wl = StreamWorkload(args.workload, args.seed, work)
    wl.stage()  # the benchmark's own input generation: not set-up

    steal0, load0 = stats.steal_ticks(), stats.loadavg_1m()
    t_setup = time.perf_counter()
    spark = _start_session(args.workload, work)
    session_s = time.perf_counter() - t_setup
    try:
        wl.warm(spark)
        setup_s = time.perf_counter() - t_setup
        wl.measure(spark, args.seconds, bool(args.trace))
        rss = stats.peak_rss_mb()
        steal1, load1 = stats.steal_ticks(), stats.loadavg_1m()
        wl.check(spark)
    finally:
        _stop_session(spark)

    attempted, failed = wl.ops()
    e2e = wl.end_to_end()
    figures = {
        "setup_s": (setup_s, "s"),
        **e2e,
        "peak_rss_mb": (rss, "MB"),
        "fail_frac": (failed / attempted, "ratio"),
        "steal_ticks": (None if steal0 is None else steal1 - steal0, "ticks"),
        "loadavg_1m": ([load0, load1], "load"),
    }
    report = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "figures": {k: {"value": v, "unit": u} for k, (v, u) in figures.items()}}
    print(json.dumps({"report": report}), flush=True)
    if args.trace:
        values = {name: 0.0 for name in PER_LAYER}
        values.update(wl.per_layer())
        values["setup.session_s"] = session_s
        values["setup.warm_s"] = setup_s - session_s
        units = PER_LAYER
    else:
        values = {k: v for k, (v, _) in figures.items()}
        units = END_TO_END
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    }


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE!r} not found under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # Every scratch file (Spark local dirs, operator temp layouts) stays in the
    # work dir, and executor Python workers import the package from the root.
    os.environ["TMPDIR"] = os.environ["SPARK_LOCAL_DIRS"] = tmp
    tempfile.tempdir = None
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, ROOT)
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run's work dir is still there
            pass
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
