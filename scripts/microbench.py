#!/usr/bin/env python
"""Isolated per-key micro-bench for optimization work (guide §1).

Times individual registry keys with the same methodology as bench.py
(noop sink, warm session, N samples) without paying for the full
headline sweep.  Usage::

    python scripts/microbench.py key1,key2 [--n 5] [--sf-dir DIR] [--plans OUTDIR]

With ``--plans`` it also writes each key's ``explain("formatted")``
(the registered plan proxy for driver-paced keys, plus the final
result plan where the key is a single lazy plan) to
``OUTDIR/<key>.txt``.

Each sample records, next to its wall time and job count, the driver's
own Python CPU (``py_cpu_s``, user + system from ``getrusage``) and the
py4j commands it sent to the JVM (``py4j_calls``), so driver chatter
shows up beside the Spark-side work.  ``build_jobs`` counts the jobs
that ran while the key only BUILT its DataFrame, before the noop force
(eager work in a builder: layout writes, driver-paced loops, schema
inference); ``jobs`` counts build plus execution.
"""

from __future__ import annotations

import argparse
import io
import json
import os
import resource
import sys
import time
from contextlib import redirect_stdout

import py4j.clientserver

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from spark_streaming_clustering_spark.session import get_spark  # noqa: E402

_PY4J_CALLS = 0


def _count_py4j_calls() -> None:
    """Count every command the driver sends to the JVM (this script only)."""
    send = py4j.clientserver.ClientServerConnection.send_command

    def counted(self, command):
        global _PY4J_CALLS
        _PY4J_CALLS += 1
        return send(self, command)

    py4j.clientserver.ClientServerConnection.send_command = counted


def _py_cpu_s() -> float:
    ru = resource.getrusage(resource.RUSAGE_SELF)
    return ru.ru_utime + ru.ru_stime


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("keys")
    ap.add_argument("--n", type=int, default=5)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--plans", default=None)
    args = ap.parse_args()

    from spark_streaming_clustering_spark.operators.registry import QUERIES
    from spark_streaming_clustering_spark.operators.registry import PLAN_PROXIES

    _count_py4j_calls()
    spark = get_spark("microbench")
    keys = [k.strip() for k in args.keys.split(",") if k.strip()]

    def _force(df):
        df.write.format("noop").mode("overwrite").save()

    # Warm JVM + python worker pool exactly like bench.py.
    _force(QUERIES["flagship_revenue"](spark, args.sf_dir))
    _force(spark.range(256).repartition(32).mapInPandas(lambda it: it, "id long"))

    sc = spark.sparkContext

    def _group_jobs(grp: str) -> int:
        # job starts reach the status store through the listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
        return len(sc.statusTracker().getJobIdsForGroup(grp))

    def _steal():
        try:
            with open("/proc/stat") as f:
                return int(f.readline().split()[8])
        except (OSError, IndexError, ValueError):
            return None

    out = {}
    for key in keys:
        samples = []
        # Per-sample job counts (ADVICE r13: a single overwritten value
        # silently misreports when warm-up/caching changes the count
        # across samples — e.g. a session-cached relation's first build).
        jobs_per_sample: list[int] = []
        build_jobs: list[int] = []
        py_cpu_s: list[float] = []
        py4j_calls: list[int] = []
        st0 = _steal()
        for i in range(args.n):
            build_grp, force_grp = f"mb_{key}_{i}_build", f"mb_{key}_{i}_force"
            sc.setJobGroup(build_grp, f"microbench:{key}")
            calls0, cpu0, t0 = _PY4J_CALLS, _py_cpu_s(), time.monotonic()
            df = QUERIES[key](spark, args.sf_dir)
            sc.setJobGroup(force_grp, f"microbench:{key}")
            _force(df)
            samples.append(round(time.monotonic() - t0, 3))
            py_cpu_s.append(round(_py_cpu_s() - cpu0, 3))
            py4j_calls.append(_PY4J_CALLS - calls0)
            build_jobs.append(_group_jobs(build_grp))
            jobs_per_sample.append(build_jobs[-1] + _group_jobs(force_grp))
        st1 = _steal()
        med = sorted(samples)[len(samples) // 2]
        njobs = jobs_per_sample[-1] if jobs_per_sample else None
        out[key] = {"median": med, "samples": samples, "jobs": njobs,
                    "jobs_per_sample": jobs_per_sample, "build_jobs": build_jobs,
                    "py_cpu_s": py_cpu_s, "py4j_calls": py4j_calls,
                    "steal_ticks": (st1 - st0) if st0 is not None else None}
        print(
            f"{key}: median={med} jobs={njobs} steal={out[key]['steal_ticks']}"
            f" samples={samples} jobs_per_sample={jobs_per_sample}"
            f" build_jobs={build_jobs}"
            f" py_cpu_s={py_cpu_s} py4j_calls={py4j_calls}",
            flush=True,
        )
        if args.plans:
            os.makedirs(args.plans, exist_ok=True)
            with open(os.path.join(args.plans, f"{key}.txt"), "w") as f:
                for label, fn in (
                    ("plan proxy (iteration shape)", PLAN_PROXIES.get(key)),
                    ("result plan", QUERIES[key]),
                ):
                    if fn is None:
                        continue
                    buf = io.StringIO()
                    try:
                        with redirect_stdout(buf):
                            fn(spark, args.sf_dir).explain("formatted")
                    except Exception as exc:  # noqa: BLE001
                        buf.write(f"<explain failed: {exc}>\n")
                    f.write(f"== {label} ==\n{buf.getvalue()}\n")
                    if label.startswith("plan proxy"):
                        # driver-paced keys: the result plan is a
                        # createDataFrame/checkpoint stub; proxy is the
                        # load-bearing shape, still print both.
                        pass
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
