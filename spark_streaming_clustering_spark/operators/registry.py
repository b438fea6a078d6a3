"""Central registry mapping query keys -> (Spark builder, DuckDB oracle SQL).

Every operator declared done in SURVEY.md section 2 registers here; the
driver contract (``__spark_entry__``) re-exports these dicts.  Builders
take ``(spark, sf_dir)`` and return a DataFrame; oracles are ANSI SQL
strings DuckDB runs over the same parquet tables.  Keys without an
oracle get the driver's weaker rows-only check (streaming / non-SQL
ops).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from .flagship import FLAGSHIP_ORACLE, flagship_revenue

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}

# Lazy stand-in plans for keys whose BUILT result cannot be audited: a
# key that localCheckpoints (or collects) internally returns a plan
# truncated to an RDD scan or a local relation, which fingerprints as
# all zeros (the drift gate was blind to dedup_connected_components,
# review finding r7).  The rule: a proxy COMPOSES the unsealed helpers
# its key executes — input derivation, initial state, one round — and
# never re-spells them, so it cannot drift from what runs.  The key
# seals those helpers' output itself; a helper that sealed inside would
# turn the proxy back into an RDD scan.  A value the key collects on the
# driver (a center vector, a bracket) becomes a fixed literal here.
PLAN_PROXIES: dict[str, QueryFn] = {}

# Keys whose builders execute work eagerly (streaming queries, trainers,
# ML fits): the returned DataFrame is only a memory-sink/file read-back,
# so it is not explainable as one lazy plan.  Every plan sweep
# (tests/test_plans.py, tests/test_plan_drift.py, scripts/plan_audit.py)
# skips this one set.
EAGER = frozenset({
    "gstream_epoch",
    "streaming_file_source",
    "streaming_window_agg",
    "stateful_running_agg",
    "mllib_kmeans_baseline",
    "streaming_chained_windows",
    "streaming_rocksdb_state",
    "stream_idempotent_sink",
    "stream_fanout_sinks",
})


def register(key: str, fn: QueryFn, oracle: str | None = None) -> None:
    if key in QUERIES:
        # A silent overwrite would drop an operator from the surface
        # while COVERAGE/SURVEY still list it — fail at import instead.
        raise ValueError(f"duplicate query key registered: {key!r}")
    QUERIES[key] = fn
    if oracle is not None:
        ORACLES[key] = oracle


def register_plan_proxy(key: str, fn: QueryFn) -> None:
    if key in PLAN_PROXIES:
        raise ValueError(f"duplicate plan proxy registered: {key!r}")
    PLAN_PROXIES[key] = fn


register("flagship_revenue", flagship_revenue, FLAGSHIP_ORACLE)

# Populated by the surface modules at import time.
from . import relational  # noqa: E402,F401
from . import vector_queries  # noqa: E402,F401
from . import builtins_surface  # noqa: E402,F401
from . import pipeline_surface  # noqa: E402,F401
from . import streaming_surface  # noqa: E402,F401
from . import scale_surface  # noqa: E402,F401
from . import quality_surface  # noqa: E402,F401
from . import analytics_surface  # noqa: E402,F401
from . import spark4_surface  # noqa: E402,F401
from . import lakehouse_surface  # noqa: E402,F401
from . import breadth_surface  # noqa: E402,F401
from . import tpch_ext  # noqa: E402,F401
from . import corpus_surface  # noqa: E402,F401
from . import timeseries_surface  # noqa: E402,F401

# extras_surface MUST stay the LAST import: its keys are the newest and
# must sort behind every earlier never-driver-verified key so the
# rotating driver window drains the old queue first (VERDICT r5 item 1).
from . import extras_surface  # noqa: E402,F401
