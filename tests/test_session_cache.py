"""The session-cache primitive is the only cache, and ``clear_all`` empties it.

Every shared relation goes through ``operators._session_cache``: a
hand-rolled ``(applicationId, ...)`` dict elsewhere would escape
``clear_all`` and could warm the plan-drift gate's cold sweep.
"""

from __future__ import annotations

import importlib
from pathlib import Path

import spark_streaming_clustering_spark.operators as operators_pkg
from spark_streaming_clustering_spark.operators import registry  # noqa: F401  (imports every surface)
from spark_streaming_clustering_spark.operators._session_cache import (
    _REGISTRY,
    clear_all,
)

# positional args after (spark, sf_dir), per builder that takes more
_EXTRA_ARGS = {
    "_merkle_leaves": [(False,), (True,)],
    # (file name under sf_dir, input fingerprint, schema conf values);
    # the last two only key the cache
    "_inferred_schema": [("lineitem.parquet", (0, 0), ())],
}


def test_application_id_only_in_the_primitive():
    pkg_dir = Path(operators_pkg.__file__).parent
    users = sorted(
        p.name for p in pkg_dir.glob("*.py") if "applicationId" in p.read_text()
    )
    assert users == ["_session_cache.py"]


def test_clear_all_unpersists_every_cached_relation(spark, sf_dir):
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    for name in _REGISTRY:
        module, qualname = name.rsplit(".", 1)
        build = getattr(importlib.import_module(module), qualname)
        for extra in _EXTRA_ARGS.get(qualname, [()]):
            first = build(spark, sf_dir, *extra)
            assert build(spark, sf_dir, *extra) is first, name
        assert _REGISTRY[name], name
    assert not cache_manager.isEmpty()

    clear_all()
    assert all(not entries for entries in _REGISTRY.values())
    assert cache_manager.isEmpty()
