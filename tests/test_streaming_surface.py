"""Semantic invariants of the streaming operator keys
(operators/streaming_surface.py) beyond the oracle equality that
scripts/selfcheck.py checks, the fixture preconditions those oracles
rely on, and the ``_drain`` primitive every key drains through.
Checkpoint recovery lives in tests/test_streaming_recovery.py."""

from __future__ import annotations

import inspect
import os
import time
from pathlib import Path

import duckdb
import pytest

import spark_streaming_clustering_spark.operators as operators_pkg
from spark_streaming_clustering_spark.operators.streaming_surface import (
    _drain,
    streaming_dedup_watermark,
    streaming_window_append_final,
)
from tests.conftest import SF_SMOKE
from tests.util_oracle import duck_con

_FIXTURE_ROOT = os.path.dirname(SF_SMOKE)


def test_events_ts_monotone_in_event_id_all_fixtures():
    """PRECONDITION of every append-mode oracle: the ntile-by-event_id
    replay produces no late rows because ts is strictly monotone in
    event_id — at EVERY committed fixture scale (a new fixture must
    re-establish this or the append-mode sums go incomplete)."""
    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        n = duckdb.connect().execute(
            f"""
            WITH t AS (SELECT ts, lag(ts) OVER (ORDER BY event_id) AS pts
                       FROM read_parquet('{_FIXTURE_ROOT}/{sf}/events.parquet'))
            SELECT COUNT(*) FROM t WHERE ts < pts
            """
        ).fetchone()[0]
        assert n == 0, f"{sf}: {n} ts inversions break the no-late-rows claim"


def test_append_final_emits_each_window_once_and_drops_tail(spark, sf_dir):
    """Append-mode invariants: (a) every (window, event_type) emitted
    at most once; (b) the trailing open windows are NOT emitted (the
    contract is load-bearing: batch agg has strictly more windows);
    (c) emitted windows all end at or before max_ts - delay."""
    got = streaming_window_append_final(spark, sf_dir).collect()
    keys = [(r.w_start, r.event_type) for r in got]
    assert len(keys) == len(set(keys))  # exactly-once per window
    con = duck_con(sf_dir)
    max_ts, n_all = con.execute(
        """SELECT MAX(ts),
                  COUNT(DISTINCT (time_bucket(INTERVAL 1 HOUR, ts), event_type))
           FROM events"""
    ).fetchone()
    assert len(got) < n_all  # open tail windows withheld
    import datetime

    cutoff = max_ts - datetime.timedelta(minutes=37)
    assert all(
        r.w_start + datetime.timedelta(hours=1) <= cutoff for r in got
    )


def test_ddww_oracle_pinned_to_probed_spark_version():
    """ADVICE r12: the streaming_dedup_watermark oracle encodes an
    empirically probed, version-specific eviction lag of
    dropDuplicatesWithinWatermark (blocked at e1+1/e1+2, re-emittable
    at e1+3) measured on pyspark 4.1.2 with the default HDFS-backed
    state store.  A Spark upgrade may legitimately shift that timing;
    this guard turns the resulting opaque oracle mismatch into an
    explicit re-probe instruction."""
    import pyspark

    assert pyspark.__version__ == "4.1.2", (
        f"pyspark {pyspark.__version__} != 4.1.2: the DDWW chain-rule "
        "oracle (operators/streaming_surface.py, streaming_dedup_"
        "watermark) pins eviction-lag behavior probed on 4.1.2. "
        "Re-run the 7-min/2-min delay probes described in its "
        "docstring, update the oracle if the lag changed, then bump "
        "this pin."
    )


def test_ddww_emission_multiset_matches_oracle(spark, sf_dir):
    """The TTL invariant of the DDWW key (its oracle match is
    test_query_vs_oracle's): at least one key is emitted TWICE (eviction
    actually happened; a vacuous fixture would collapse to
    streaming_dedup's DISTINCT)."""
    rows = streaming_dedup_watermark(spark, sf_dir).collect()
    keys = [(r.uid_bucket, r.event_type) for r in rows]
    assert len(keys) > len(set(keys)), "no re-emission: TTL never fired"


def test_streaming_parquet_sink_equals_batch(spark):
    """The drained streaming-parquet roundtrip equals the same
    filter+aggregate computed in one batch pass."""
    from pyspark.sql import functions as F

    from spark_streaming_clustering_spark.operators.streaming_surface import (
        streaming_parquet_sink,
    )
    from spark_streaming_clustering_spark.sources.tables import load_table

    got = {
        r.event_type: (r.n, r.sum_value)
        for r in streaming_parquet_sink(spark, SF_SMOKE).collect()
    }
    exp = {
        r.event_type: (r.n, r.sum_value)
        for r in load_table(spark, SF_SMOKE, "events")
        .filter(F.col("value") > 100.0)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("sum_value"),
        )
        .collect()
    }
    assert got == exp and got


def test_stream_stream_outer_join_closure_rule(spark):
    """The outer join emits exactly: all inner matches, plus unmatched
    clicks whose match window closed under the final watermark
    (min(max click ts, max purchase ts) - delay > click ts + window)."""
    import datetime

    from pyspark.sql import functions as F

    from spark_streaming_clustering_spark.operators.streaming_surface import (
        SSOJ_DELAY_MIN,
        SSOJ_WINDOW_H,
        stream_stream_outer_join,
    )
    from spark_streaming_clustering_spark.sources.tables import load_table

    ev = load_table(spark, SF_SMOKE, "events").collect()
    clicks = [e for e in ev if e.event_type == "click"]
    purch = [e for e in ev if e.event_type == "purchase"]
    wm = min(max(e.ts for e in clicks), max(e.ts for e in purch)) - datetime.timedelta(minutes=SSOJ_DELAY_MIN)
    win = datetime.timedelta(hours=SSOJ_WINDOW_H)
    expect = set()
    for c in clicks:
        matches = [
            p for p in purch
            if p.user_id == c.user_id and c.ts <= p.ts <= c.ts + win
        ]
        if matches:
            expect.update((c.event_id, p.event_id) for p in matches)
        elif wm > c.ts + win:
            expect.add((c.event_id, None))
    got = {
        (r.l_id, r.r_id)
        for r in stream_stream_outer_join(spark, SF_SMOKE).collect()
    }
    assert got == expect and got
    assert any(r is None for _, r in got)  # outer rows actually present


def test_rocksdb_key_restores_session_conf(spark):
    """The RocksDB key must leave the session's state-store provider
    untouched (other streaming keys depend on the default)."""
    from spark_streaming_clustering_spark.operators.streaming_surface import (
        streaming_rocksdb_state,
    )

    key = "spark.sql.streaming.stateStore.providerClass"
    before = spark.conf.get(key, "UNSET")
    streaming_rocksdb_state(spark, SF_SMOKE).collect()
    assert spark.conf.get(key, "UNSET") == before


def test_chained_windows_emit_each_window_once(spark):
    """Append mode through two chained stateful operators must emit
    each (day, type) window exactly once — a duplicate row means the
    first-level aggregate re-emitted into a finalized day window."""
    from collections import Counter

    from spark_streaming_clustering_spark.operators.streaming_surface import (
        streaming_chained_windows,
    )

    rows = streaming_chained_windows(spark, SF_SMOKE).collect()
    keys = Counter((r.day_start, r.event_type) for r in rows)
    dups = {k: c for k, c in keys.items() if c > 1}
    assert not dups


def test_idempotent_sink_partitions_and_no_dups(spark):
    """After the deliberate batch-0 redelivery the sink still holds
    exactly one copy of every event (n == n_distinct per type)."""
    from spark_streaming_clustering_spark.operators.streaming_surface import (
        stream_idempotent_sink,
    )

    for r in stream_idempotent_sink(spark, SF_SMOKE).collect():
        assert r.n == r.n_distinct


def test_drain_timeout_stops_the_query_and_raises(spark, tmp_path):
    """A query still running at the timeout is stopped and raises
    instead of letting the caller read a partial sink."""
    in_dir = str(tmp_path / "in")
    spark.range(3).coalesce(1).write.parquet(in_dir)

    def slow_batch(df, batch_id: int) -> None:
        time.sleep(5)

    writer = (
        spark.readStream.schema("id long")
        .parquet(in_dir)
        .writeStream.queryName("drain_timeout_probe")
        .foreachBatch(slow_batch)
    )
    with pytest.raises(TimeoutError, match="drain_timeout_probe"):
        _drain(writer, str(tmp_path / "ckpt"), timeout=1)
    assert not [q for q in spark.streams.active if q.name == "drain_timeout_probe"]


def test_drain_is_the_only_availablenow_wiring():
    """No operator module starts or awaits a streaming query by hand:
    ``trigger(availableNow=True)`` and ``awaitTermination(`` appear only
    inside ``_drain`` (plus the Python-source stream's post-``stop()``
    wait, which polls a processing-time query)."""
    drain_src = inspect.getsource(_drain)
    assert "trigger(availableNow=True)" in drain_src
    assert "awaitTermination(" in drain_src
    allowed = {
        "streaming_surface.py": drain_src,
        "spark4_surface.py": "q.stop()\n    q.awaitTermination(60)",
    }
    pkg_dir = Path(operators_pkg.__file__).parent
    offenders = sorted(
        (p.name, pattern)
        for p in pkg_dir.glob("*.py")
        for pattern in ("trigger(availableNow=True)", "awaitTermination(")
        if pattern in p.read_text().replace(allowed.get(p.name, "\0"), "")
    )
    assert offenders == []
