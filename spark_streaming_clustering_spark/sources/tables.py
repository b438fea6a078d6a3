"""Parquet table loaders for the driver-generated test tables.

Mirrors the reference's batch scan entry point (A1,
batchStreamRun.scala:37 reads the init file with ``sc.textFile``) in
Spark-native form: columnar parquet scans with Catalyst predicate
pushdown and column pruning — at 100 TB these scans are where most of
the win comes from, so every query selects columns explicitly and
filters as early as possible.

Stable inputs (the test tables and the ``_SUCCESS``-guarded write-once
layouts) are read through ``read_stable_parquet``, which pins the
schema Spark inferred for the same input earlier in the session.  A
bare ``spark.read.parquet(path)`` runs a one-task Spark job to read a
file footer for schema inference, on every call: measured on pyspark
4.1.2 (``local[2]``, 4-core host, sf0.01, warm session) that is 1 job
and 60-110 ms of process-tree CPU per ``lineitem`` load, against 0 jobs
and 0-30 ms with the schema given.  ``flagship_revenue`` ran 5 such
jobs (one per table) just building its DataFrame.  The pinned schema
is Spark's own inference, re-run when the input's files or a
schema-affecting parquet conf change, so the plan is the same one a
bare read gives; translating footers with pyarrow instead would be a
second type mapper, drifting from Spark on NANOS, INT96 and NTZ.
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame, DataFrameWriter, SparkSession
from pyspark.sql.types import StructType

from ..operators._session_cache import session_cached

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; have {TABLES}")
    if name == "events":
        # events.parquet carries TIMESTAMP(NANOS); a session without this
        # conf fails the scan outright ([PARQUET_TYPE_ILLEGAL]).  It is a
        # runtime SQL conf, so set it defensively — the driver harness
        # builds its own session and may not have it.  Same for the UTC
        # session timezone: the ts column is rebuilt with
        # timestamp_micros() (TIMESTAMP_LTZ), so collect()ed values must
        # render in UTC to match the tz-naive DuckDB oracle.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = read_stable_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # TIMESTAMP(NANOS) read as long (spark.sql.legacy.parquet.nanosAsLong);
        # floor-divide to micros == DuckDB's nanos->micros truncation.
        from pyspark.sql import functions as F

        # integer div, not '/': nanos ~1.7e18 exceed double's 53-bit mantissa
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


# Session confs that change the schema Spark infers from a parquet
# footer; their values are part of the schema cache key.
_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)


@session_cached
def _inferred_schema(
    spark: SparkSession, parent: str, name: str, fingerprint: tuple, confs: tuple
) -> StructType:
    """Spark's own schema for the parquet input ``parent/name`` (one
    footer-read job).  ``fingerprint`` and ``confs`` only key the cache."""
    return spark.read.parquet(os.path.join(parent, name)).schema


def _input_fingerprint(path: str) -> tuple:
    """(size, mtime_ns) of a file; for a directory, the sorted
    (relpath, size, mtime_ns) of every file under it."""
    if os.path.isfile(path):
        st = os.stat(path)
        return (st.st_size, st.st_mtime_ns)
    entries = []
    for root, _dirs, files in os.walk(path):
        for f in files:
            full = os.path.join(root, f)
            st = os.stat(full)
            entries.append((os.path.relpath(full, path), st.st_size, st.st_mtime_ns))
    return tuple(sorted(entries))


def read_stable_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with the schema pinned: inferred once
    per (session, path, input fingerprint, schema confs), so a warm read
    runs no footer job and a rewritten input or a flipped conf
    re-infers.  For inputs that outlive the call; an output written and
    read back once gains nothing here and would only grow the cache.
    A path that is not on the local file system (or does not exist)
    falls through to the bare read and Spark's own handling."""
    if not os.path.exists(path):
        return spark.read.parquet(path)
    parent, name = os.path.split(os.path.normpath(path))
    confs = tuple(spark.conf.get(k) for k in _SCHEMA_CONFS)
    schema = _inferred_schema(spark, parent, name, _input_fingerprint(path), confs)
    return spark.read.schema(schema).parquet(path)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def source_fingerprint(sf_dir: str, name: str) -> str:
    """Size+mtime tag of a source parquet file, for keying derived
    on-disk layouts.  A cached layout keyed only on the sf_dir STRING
    silently reuses stale data if the fixture at that path is ever
    regenerated; folding the source fingerprint into the cache path
    invalidates it instead (review finding, round 4)."""
    size, mtime_ns = _input_fingerprint(os.path.join(sf_dir, f"{name}.parquet"))
    return f"{size}_{mtime_ns}"


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every test table as a temp view for spark.sql() queries."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


# --- bounded /tmp discipline for derived on-disk layouts ----------------
#
# Every key that materializes a derived layout (partitioned rewrite,
# bucketed warehouse table, CTAS location) keys the path on
# (appId, sf tag, source fingerprint) so concurrent sessions and
# regenerated fixtures never collide — but that very keying means each
# NEW session writes a fresh copy and the old one leaks forever (review
# finding, round 5: the exact leak once fixed for sql_ddl_roundtrip,
# reintroduced one level up).  Two complementary fixes, both here so
# every call site shares them:
#
# * ``derived_layout_path`` prunes SIBLING directories (same prefix +
#   sf tag, different appId/fingerprint) at path-computation time —
#   stale copies from dead sessions are reclaimed the next time any
#   session derives that layout.  Safe in this repo because Spark
#   sessions are never run concurrently (bench/selfcheck house rule);
#   a concurrent-session deployment would key the prune on dir age.
# * every path (and every ``scratch_dir`` mkdtemp) is registered for
#   atexit removal, so even a single session leaves /tmp clean.

_SESSION_TMP_PATHS: set[str] = set()


def _cleanup_session_tmp() -> None:
    import shutil

    for p in list(_SESSION_TMP_PATHS):
        shutil.rmtree(p, ignore_errors=True)


def _track_tmp(path: str) -> str:
    import atexit

    if not _SESSION_TMP_PATHS:
        atexit.register(_cleanup_session_tmp)
    _SESSION_TMP_PATHS.add(path)
    return path


def sf_tag(sf_dir: str) -> str:
    """Filesystem-safe tag of an sf directory (single owner of the
    spelling — three operator modules used to inline it)."""
    return "".join(c if c.isalnum() else "_" for c in sf_dir.strip("/"))


def derived_layout_path(
    spark: SparkSession, prefix: str, sf_dir: str, table: str | None
) -> str:
    """Deterministic per-(session, sf, fixture) path for a derived
    on-disk layout, with leak control: stale siblings pruned, own path
    atexit-cleaned.  ``table=None`` drops the fingerprint component
    (for layouts rewritten from scratch on every call, e.g. CTAS)."""
    import re
    import shutil
    import tempfile

    tag = sf_tag(sf_dir)
    # Each prefix family lives in its own subdirectory so pruning for
    # prefix X can never touch a layout of any OTHER prefix, even one
    # spelled as a "_"-extension of X (review finding r6: a flat
    # "{prefix}_*" glob plus a greedy appId slot would let an "events"
    # prune rmtree a live "events_by_day_..." layout; appIds themselves
    # may contain underscores on YARN, so anchoring that slot is not
    # delimiter-safe either).
    fam_dir = os.path.join(tempfile.gettempdir(), "spark_graft_layouts", prefix)
    os.makedirs(fam_dir, exist_ok=True)
    parts = [spark.sparkContext.applicationId, tag]
    if table is not None:
        parts.append(source_fingerprint(sf_dir, table))
    out = os.path.join(fam_dir, "_".join(parts))
    # Exact-tag match (not substring): sf tags can be prefixes of each
    # other ("sf0_1" vs "sf0_12"), so a glob-only prune could reclaim a
    # LIVE layout of a different scale factor.
    sib_re = re.compile(rf"^.+_{re.escape(tag)}(_\d+_\d+)?$")
    for name in os.listdir(fam_dir):
        sib = os.path.join(fam_dir, name)
        if sib != out and sib_re.match(name):
            shutil.rmtree(sib, ignore_errors=True)
    return _track_tmp(out)


def write_once(path: str, writer: Callable[[], DataFrameWriter]) -> str:
    """Write a derived parquet layout at ``path`` unless a completed
    write (its ``_SUCCESS`` marker) is already there; return ``path``.
    ``writer`` builds the ``DataFrameWriter`` (partitioning, coalescing)
    and is only called when the layout is missing, so a warm call
    builds no plan."""
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        writer().mode("overwrite").parquet(path)
    return path


def scratch_dir(prefix: str) -> str:
    """mkdtemp that is removed at interpreter exit — per-invocation
    scratch for sink/source round-trip keys (each used to leak one
    directory per call across a long driver session)."""
    import tempfile

    return _track_tmp(tempfile.mkdtemp(prefix=prefix))
