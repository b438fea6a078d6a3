"""Plan-drift gate over the shuffle-heaviest keys (VERDICT r6 item 5).

``scripts/plan_audit.py --prev PLANS.json`` sweeps the full surface at
close-out; this test makes the regression directions fail CI the moment
they land, not at freeze: it re-fingerprints the 25 shuffle-heaviest
keys (derived from the committed PLANS.json, so the list tracks the
artifact) and fails if any key GAINED a shuffle exchange, lost a
broadcast to a sort-merge join, re-scans a table, or acquired a
cartesian product.

Cache discipline: the committed sweep starts in a fresh session with
an empty CacheManager, so every session-cached relation is cleared
here first (``clear_all``) and the CacheManager is asserted empty —
otherwise a pytest ordering that happens to warm one would hide real
plan nodes behind InMemoryTableScans and diff against the artifact.

Improvements (fewer shuffles/scans) do NOT fail; regenerate PLANS.json
via ``python scripts/plan_audit.py`` to ratchet them in.
"""

from __future__ import annotations

import importlib.util
import json
import os

import pytest

from spark_streaming_clustering_spark.operators._session_cache import clear_all
from spark_streaming_clustering_spark.operators.registry import (
    EAGER,
    PLAN_PROXIES,
    QUERIES,
)
from spark_streaming_clustering_spark.plans import formatted_plan
from tests.conftest import SF_ORACLE
from tests.test_tables import _jobs_run

_HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

N_HEAVIEST = 25


def _plan_audit_module():
    spec = importlib.util.spec_from_file_location(
        "plan_audit", os.path.join(_HERE, "scripts", "plan_audit.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _committed():
    path = os.path.join(_HERE, "PLANS.json")
    if not os.path.exists(path):
        pytest.skip("no committed PLANS.json")
    with open(path) as fh:
        return json.load(fh)["keys"]


def test_shuffle_heaviest_keys_have_not_regressed(spark):
    audit = _plan_audit_module()
    committed = _committed()
    heavy = [
        k
        for k, _ in sorted(
            committed.items(),
            key=lambda kv: (-kv[1]["shuffle_exchanges"], kv[0]),
        )
        if k in QUERIES and k not in EAGER
    ][:N_HEAVIEST]
    assert len(heavy) == N_HEAVIEST

    clear_all()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    regressions = []
    for k in heavy:
        builder = PLAN_PROXIES.get(k, QUERIES[k])
        fp = audit.fingerprint(formatted_plan(builder(spark, SF_ORACLE)))
        for field, direction in audit.WORSE.items():
            prev = committed[k].get(field, 0)
            if (fp[field] - prev) * direction > 0:
                regressions.append((k, field, prev, fp[field]))
    assert regressions == [], (
        "plan regression vs committed PLANS.json (gained shuffle / lost "
        "broadcast / extra scan / cartesian). If intentional, regenerate "
        f"with `python scripts/plan_audit.py`: {regressions}"
    )


@pytest.mark.parametrize("key", sorted(PLAN_PROXIES))
def test_plan_proxy_is_lazy_and_unsealed(spark, key):
    """A proxy composes the unsealed helpers its key executes: once
    built, a second build runs no Spark job, and its plan still reads a
    table (a parquet scan, or a session-cached relation).  A helper that
    localCheckpointed inside would run a job here and turn the proxy
    back into an all-zero RDD scan the drift gate cannot see through."""
    audit = _plan_audit_module()
    PLAN_PROXIES[key](spark, SF_ORACLE)
    df, jobs = _jobs_run(spark, lambda: PLAN_PROXIES[key](spark, SF_ORACLE))
    assert jobs == 0
    fp = audit.fingerprint(formatted_plan(df))
    assert fp["scans"] + fp["in_memory_scans"] >= 1, fp
