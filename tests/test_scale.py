"""Semantic properties of the scale-surface layout operators."""

from __future__ import annotations

from spark_streaming_clustering_spark.operators.scale_surface import zorder_layout
from tests.conftest import SF_ORACLE


def test_zorder_envelopes_are_narrow(spark):
    """The point of the z-order layout: every z-range's min/max envelope
    is narrow in BOTH dimensions.  With 8-bit dims and 16 z-ranges, each
    range fixes the top 2 bits of x AND y, so both envelopes span <= 64
    of 256 — a predicate on either column prunes ~3/4 of the "files"
    from stats alone (a single-column sort leaves the other dimension's
    envelope at full width)."""
    rows = zorder_layout(spark, SF_ORACLE).collect()
    assert len(rows) > 4  # the curve actually spreads across ranges
    for r in rows:
        assert r.x_max - r.x_min <= 63, r
        assert r.y_max - r.y_min <= 63, r
