"""SparkSession factory.

Single place where execution configuration lives so tests, the driver
contract (``__spark_entry__``) and ``bench.py`` all run with the same,
scale-aware settings.

Design notes for cluster scale (the real target is ~100 TB on O(1000)
executors; local[32] only verifies correctness):

* AQE on — runtime coalescing + skew-join splitting replace hand-tuned
  partition counts when data sizes move by 1000x.
* ``spark.sql.shuffle.partitions`` is only the *initial* number; AQE
  coalesces.  On a real cluster this would be ~2-3x total cores.
* Arrow on — every Pandas UDF / ``toPandas`` boundary is Arrow-batched.
* Session timezone pinned to UTC so timestamp semantics match the DuckDB
  oracle regardless of host timezone.
* PySpark's DataFrame call-site capture off: it only adds the Python
  ``file:line`` to error contexts (errors keep their class and message)
  and costs driver CPU, py4j round trips and memory on every ``Column``
  built.  ``extra_conf`` can turn it back on, but only for the first
  session of a process (PySpark reads the flag once per process).
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _master_and_cpus(master: str | None, cpus: int | None) -> tuple[str, int]:
    """The master URL and the task-thread count that sizes
    ``spark.sql.shuffle.partitions``.  Only ``local[N]`` and
    ``local[N,F]`` name a thread count; ``local[*]``, ``local-cluster``
    and cluster masters use ``DEFAULT_CPUS``.  ``cpus`` wins when given."""
    local = re.fullmatch(r"local\[(\d+)(?:,\d+)?\]", master or "")
    cpus = cpus or (int(local.group(1)) if local else 0) or DEFAULT_CPUS
    return master or f"local[{cpus}]", cpus


def _driver_memory() -> str:
    """``$SPARK_GRAFT_DRIVER_MEM``, else half of physical RAM, at most
    48g: a heap larger than the host lets the driver JVM grow until the
    kernel kills it instead of collecting."""
    if "SPARK_GRAFT_DRIVER_MEM" in os.environ:
        return os.environ["SPARK_GRAFT_DRIVER_MEM"]
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(ram // 2 >> 20, 48 << 10)}m"


def get_spark(
    app_name: str = "spark-streaming-clustering-spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
    master: str | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    ``master`` (when given) is passed through verbatim — a CLI user
    handing us ``spark://...`` or ``yarn`` gets exactly that cluster,
    not a silent local fallback.  For ``local[n]`` and ``local[n,f]``
    masters the thread count also sizes ``spark.sql.shuffle.partitions``.
    """
    master_url, cpus = _master_and_cpus(master, cpus)
    builder = (
        SparkSession.builder.master(master_url)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.memory", _driver_memory())
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
        # events.parquet carries TIMESTAMP(NANOS); read as long then convert
        # (tables.load_table) — Spark has no native nanos timestamp type.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Streaming offset/commit/source logs go through Hadoop's FileSystem
        # API instead of the default FileContext manager.  Without
        # libhadoop the local FS forks a subprocess per metadata call:
        # `chmod` on every create and, through FileContext's rename,
        # `readlink`.  Measured over 25-batch drains: 62-64 forks per
        # micro-batch with the default, 15-16 with this one, and each of
        # latestOffset/walCommit/commitOffsets fell from ~30 ms to ~9 ms
        # (p50, local[2] on a 4-core host).  Commits stay atomic (temp
        # file + non-overwriting FileSystem.rename on file: and HDFS,
        # what HDFSMetadataLog needs; Spark's own fallback manager) and
        # keep their .crc sidecars: `file:` stays the checksummed
        # LocalFileSystem, so do not swap in RawLocalFileSystem.
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
        # PySpark's call-site capture (pyspark.errors.utils._with_origin)
        # runs on F.col and every Column method: a Python stack walk, an
        # `import IPython` plus a failing `import ipykernel`, and ~10 py4j
        # round trips (active session, JVM class lookup, conf read, origin
        # set/clear).  The first capture loads IPython into the driver:
        # ~540 modules, +26 MB RSS, ~0.3 s CPU.  scripts/microbench.py at
        # sf0.01 (pyspark 4.1.2, 4-core host), median per warm call, on ->
        # off: py4j commands 3,032 -> 1,232 for exact_quantile_bisect and
        # 1,180 -> 485 for merge_into_upsert; driver Python CPU over the
        # six perfbench mix keys 340 -> 207 ms.  PySpark caches the flag
        # per process at the first Column built under an active session,
        # so re-enabling it via extra_conf only works before that point.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
