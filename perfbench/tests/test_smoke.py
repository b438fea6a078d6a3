"""Each workload end to end at tiny size, in one shared Spark session.

Run from the repository root: ``python -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import argparse
import dataclasses
import os

import pytest

from perfbench import queries, run, streams
from perfbench.schema import END_TO_END, PER_LAYER, WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="module")
def spark():
    from spark_streaming_clustering_spark.session import get_spark

    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    return get_spark("perfbench-tests", cpus=2, extra_conf={
        "spark.driver.memory": "1g",
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
        "spark.ui.showConsoleProgress": "false",
    })


@pytest.fixture
def tiny(monkeypatch, spark):
    # the third of four files is a burst above the trainer's small_batch_rows,
    # so the distributed E-step runs once per drain
    monkeypatch.setitem(streams.SPECS, "stream", dataclasses.replace(
        streams.SPECS["stream"], rows=40, burst_rows=6000, burst_every=4, files=4,
        warm_files=2))
    monkeypatch.setattr(queries, "KEYS",
                        ("flagship_revenue", "window_frame_range", "sessionize_events"))
    monkeypatch.setattr(queries, "SF", 0.001)
    monkeypatch.setattr(run, "_start_session", lambda workload, work: spark)
    monkeypatch.setattr(run, "_stop_session", lambda s: None)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_workload_emits_every_metric_and_checks_out(tiny, tmp_path, workload, trace):
    args = argparse.Namespace(workload=workload, seed=7, seconds=0, trace=trace)
    result = run.run(args, str(tmp_path))
    assert result["correct"] is True
    assert result["failed"] == 0 and result["attempted"] >= 1
    want = PER_LAYER if trace else END_TO_END
    assert {k: m["unit"] for k, m in result["metrics"].items()} == want
    assert all(isinstance(m["value"], (int, float)) for m in result["metrics"].values())
    if not trace:
        assert all(m["value"] > 0 for m in result["metrics"].values())
    elif workload == "stream":
        assert result["metrics"]["estep_local.calls"]["value"] == 3
        assert result["metrics"]["estep_dist.calls"]["value"] == 1
        assert result["metrics"]["estep_dist.ids_returned"]["value"] == 6000
        assert result["metrics"]["snapshot.count"]["value"] >= 1
    else:
        assert result["metrics"]["query.flagship_revenue.jobs"]["value"] >= 1


def test_mismatched_stream_is_counted_failed(tiny, spark, tmp_path, monkeypatch):
    wl = streams.StreamWorkload("stream", 5, str(tmp_path))
    wl.stage()
    wl.warm(spark)
    wl.measure(spark, 0, False)
    wl.batches[0][0][0, 0] += 1.0  # corrupt the replay input
    wl.check(spark)
    attempted, failed = wl.ops()
    assert attempted == 4 * streams.SPECS["stream"].min_drains and failed == attempted
