"""Semantic invariants of the timeseries_surface keys.  Oracle
equality runs in scripts/selfcheck.py."""

from __future__ import annotations

from tests.util_oracle import duck_con


def test_ohlc_bars_invariants(spark, sf_dir):
    """low <= open/close <= high per bar; bar counts sum to the event
    total; a spot-checked bucket's open equals the min-event_id value."""
    from spark_streaming_clustering_spark.operators.timeseries_surface import (
        ohlc_resample,
    )
    from spark_streaming_clustering_spark.sources.tables import load_table

    bars = ohlc_resample(spark, sf_dir).collect()
    assert bars
    for b in bars:
        assert b.low_c <= b.open_c <= b.high_c
        assert b.low_c <= b.close_c <= b.high_c
    assert sum(b.n for b in bars) == load_table(spark, sf_dir, "events").count()
    con = duck_con(sf_dir)
    b0 = max(bars, key=lambda b: b.n)
    open_c = con.execute(
        """SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) FROM events
           WHERE event_type = ? AND date_trunc('hour', ts) = ?
           ORDER BY event_id LIMIT 1""",
        [b0.event_type, b0.h_start],
    ).fetchone()[0]
    assert b0.open_c == open_c
