from __future__ import annotations

import importlib

import __spark_entry__ as entrymod


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert df.columns == ["r_name", "l_returnflag", "revenue", "n_items"]


def test_registry_consistency():
    importlib.reload(entrymod)
    qs, os_ = entrymod.queries(), entrymod.oracle_sql()
    assert set(os_) <= set(qs), "oracle keys must be a subset of query keys"
