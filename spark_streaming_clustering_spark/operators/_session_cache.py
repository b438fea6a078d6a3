"""Session-scoped shared relations (leaf module, no registry imports)."""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame

# "<module>.<qualname>" of each decorated builder -> its entries,
# (applicationId, *args) -> built result.
_REGISTRY: dict[str, dict] = {}


def _frames(result) -> list:
    parts = result if isinstance(result, tuple) else (result,)
    return [p for p in parts if isinstance(p, DataFrame)]


def session_cached(build):
    """Run ``build(spark, *args)`` ONCE per (SparkContext, positional
    args); every later call in the same session gets the same object.

    A DataFrame result — or each DataFrame member of a tuple result, in
    order — is persisted at the default storage level, so sibling keys
    (and repeated consumers inside one key's plan) read one cached
    relation instead of re-deriving the subtree, and repeated calls
    never double-cache an identical plan (CacheManager "already cached"
    warning, one leaked relation per invocation).  Any other result
    (e.g. a list of pandas frames) is kept as-is.  Builders must not
    persist their own results, and are called with positional
    arguments only: they are the cache key.

    Lifetime contract: an entry lives until ``clear_all()`` (or session
    stop), which unpersists every entry of every decorated builder, so
    a caller that needs cold plans (the plan-drift gate, plan-shape
    tests) clears everything with one call.  At 100 TB the analogous
    decision is writing the shared relation to a table once and reading
    it from every consumer; persist() is the session-scale analogue.
    """
    entries = _REGISTRY.setdefault(f"{build.__module__}.{build.__qualname__}", {})

    @functools.wraps(build)
    def cached(spark, *args):
        key = (spark.sparkContext.applicationId, *args)
        result = entries.get(key)
        if result is None:
            result = build(spark, *args)
            for df in _frames(result):
                df.persist()
            entries[key] = result
        return result

    return cached


def clear_all() -> None:
    """Unpersist every cached relation and drop every entry."""
    for entries in _REGISTRY.values():
        for result in entries.values():
            for df in _frames(result):
                try:
                    df.unpersist()
                except Exception:
                    pass
        entries.clear()
