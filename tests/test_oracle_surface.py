"""Every registered query key vs its DuckDB oracle at sf0.001.

Runs ``tests.util_oracle.check_key``, the protocol scripts/selfcheck.py
runs at sf0.01; keys without an oracle get the rows-only check.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from tests.util_oracle import check_key, duck_con, passed

QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()


@pytest.fixture(scope="module")
def con(sf_dir):
    c = duck_con(sf_dir)
    yield c
    c.close()


@pytest.mark.parametrize("key", sorted(QUERIES))
def test_query_vs_oracle(key, spark, sf_dir, con):
    rec = check_key(spark, con, QUERIES[key], ORACLES.get(key), sf_dir)
    assert passed(rec), f"{key}: {rec['err']} ({rec})"


@pytest.mark.parametrize("key", sorted(ORACLES))
def test_oracle_output_types_are_hash_safe(key, con):
    """Round-3 lesson, made un-mergeable: DuckDB promotes SUM(<integer>)
    to HUGEINT (int128), which pandas renders as float64 while Spark
    emits int64 — identical values, different canonical form, driver
    hash mismatch (12 keys shipped that way in r3).  Gate EVERY oracle's
    declared output types: no HUGEINT/UHUGEINT (uncast integer SUM), no
    DECIMAL (pandas object/float drift), no TIMESTAMP WITH TIME ZONE
    (Spark side is session-UTC naive).  Pure DuckDB planning check —
    runs in milliseconds per key, so a future uncast aggregate fails CI
    before it ever reaches the driver."""
    banned = ("HUGEINT", "UHUGEINT", "DECIMAL", "WITH TIME ZONE")
    desc = con.execute(f"DESCRIBE {ORACLES[key]}").fetchall()
    offenders = {
        name: typ
        for name, typ, *_ in desc
        if any(b in typ.upper() for b in banned)
    }
    assert not offenders, (
        f"oracle for {key!r} declares hash-unsafe output types {offenders}; "
        "CAST the aggregate (e.g. CAST(SUM(x) AS BIGINT))"
    )


def test_multimodal_resize_stub_math(spark):
    """Downsample math vs hand computation on one payload."""
    from spark_streaming_clustering_spark.operators.pipeline_surface import (
        GRID_H,
        GRID_W,
        RESIZE_STRIDE,
        multimodal_resize_stub,
    )
    from spark_streaming_clustering_spark.sources.tables import load_table
    from tests.conftest import SF_ORACLE

    out = {r.doc_id: r for r in multimodal_resize_stub(spark, SF_ORACLE).collect()}
    doc = load_table(spark, SF_ORACLE, "documents").select("doc_id", "text").first()
    raw = doc.text.encode()[: GRID_W * GRID_H]
    raw = raw + b"\0" * (GRID_W * GRID_H - len(raw))
    expect = [
        raw[r * GRID_W + c]
        for r in range(0, GRID_H, RESIZE_STRIDE)
        for c in range(0, GRID_W, RESIZE_STRIDE)
    ]
    got = out[doc.doc_id]
    assert (got.out_h, got.out_w) == (GRID_H // RESIZE_STRIDE, GRID_W // RESIZE_STRIDE)
    assert got.pixels == ",".join(str(v) for v in expect)
