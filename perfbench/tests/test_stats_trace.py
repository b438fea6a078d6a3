"""Percentile rule, span self time, and tracer install/restore (no Spark)."""

from __future__ import annotations

import pytest

from perfbench.stats import median, percentile
from perfbench.trace import Span, Tracer


def test_p90_needs_ten_samples_beyond_it():
    assert percentile(range(100), 0.9) == pytest.approx(89.1)
    assert percentile(range(92), 0.9) == pytest.approx(81.9)  # 82..91 above it
    assert percentile(range(91), 0.9) is None  # only 82..90 above 81.0
    assert percentile(range(50), 0.9) is None


def test_ties_at_the_percentile_do_not_count_as_beyond():
    assert percentile([1.0] * 95 + [2.0] * 9, 0.9) is None
    assert percentile([1.0] * 95 + [2.0] * 10, 0.5) == 1.0


def test_median_always_reported():
    assert median([3, 1, 2]) == 2
    assert median([4, 1, 2, 3]) == 2.5
    with pytest.raises(ValueError):
        median([])


def test_self_time_subtracts_union_of_children():
    tr = Tracer()
    tr.spans = [
        Span("step", 0.0, 1.0, None),
        Span("estep_local", 0.1, 0.3, 0),
        Span("mstep", 0.25, 0.4, 0),  # overlaps the previous child
        Span("snapshot", 0.9, 1.2, 0),  # runs past its parent: clipped
    ]
    assert tr.self_ms(0) == pytest.approx((1.0 - 0.3 - 0.1) * 1000)
    assert tr.self_ms(1) == pytest.approx(200.0)


def test_tracer_restores_every_target():
    from spark_streaming_clustering_spark.streaming import train
    from spark_streaming_clustering_spark.streaming.gstream_model import GStreamModel

    before = (train.GStreamTrainer.step, train.estep_local, train.compute_point_stats,
              train.write_snapshot, train.write_snapshot_text, GStreamModel.update)
    tr = Tracer()
    with tr.installed():
        assert train.estep_local is not before[1]
        assert train.estep_local.__wrapped__ is before[1]
    after = (train.GStreamTrainer.step, train.estep_local, train.compute_point_stats,
             train.write_snapshot, train.write_snapshot_text, GStreamModel.update)
    assert after == before


def test_tracer_records_nested_spans():
    import numpy as np

    from spark_streaming_clustering_spark.streaming import train

    tr = Tracer()
    with tr.installed():
        x = np.array([[0.0, 0.0], [1.0, 1.0], [5.0, 5.0]])
        trainer = train.GStreamTrainer(spark=None)
        trainer.model.init_two_nodes(x[0], x[2])
        import pandas as pd

        trainer.step(pd.DataFrame({"features": list(x), "id": [1, 2, 3]}))
    names = [s.name for s in tr.spans]
    assert names == ["step", "estep_local", "mstep"]
    assert tr.spans[1].parent == 0 and tr.spans[2].parent == 0
    assert tr.self_ms(0) <= tr.spans[0].ms
