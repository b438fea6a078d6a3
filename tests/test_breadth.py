"""Semantic invariants of the SQL-breadth / batch-9 operators, beyond
the oracle equality that tests/test_oracle_surface.py already pins."""

from __future__ import annotations

import math

from tests.conftest import SF_SMOKE


def test_welch_ttest_matches_manual_computation(spark):
    """t statistic and Welch-Satterthwaite dof vs a pure-Python
    recompute from the raw per-arm samples."""
    from spark_streaming_clustering_spark.operators.breadth_surface import (
        welch_ttest_q,
    )
    from spark_streaming_clustering_spark.sources.tables import load_table

    ev = load_table(spark, SF_SMOKE, "events").collect()
    arms = {"click": [], "view": []}
    for r in ev:
        if r.event_type in arms:
            arms[r.event_type].append(r.value)

    def mv(xs):
        n = len(xs)
        m = sum(xs) / n
        v = sum((x - m) ** 2 for x in xs) / (n - 1)
        return m, v, n

    (mc, vc, nc), (mw, vw, nw) = mv(arms["click"]), mv(arms["view"])
    se2 = vc / nc + vw / nw
    t = (mc - mw) / math.sqrt(se2)
    dof = se2**2 / ((vc / nc) ** 2 / (nc - 1) + (vw / nw) ** 2 / (nw - 1))
    row = welch_ttest_q(spark, SF_SMOKE).collect()[0]
    assert (row.n_click, row.n_view) == (nc, nw)
    assert abs(row.t_stat - round(t, 5)) < 1e-9
    assert abs(row.dof - round(dof, 2)) < 1e-6


def test_time_decay_score_matches_manual_computation(spark):
    """The decimal-quantized hyperbolic decay sum vs a pure-Python
    recompute using the same quantization rule."""
    from decimal import ROUND_HALF_UP, Decimal

    from spark_streaming_clustering_spark.operators.breadth_surface import (
        time_decay_score,
    )
    from spark_streaming_clustering_spark.sources.tables import load_table

    ev = load_table(spark, SF_SMOKE, "events").selectExpr(
        "event_type", "value", "unix_micros(cast(ts as timestamp)) AS us"
    ).collect()
    expect: dict[str, Decimal] = {}
    counts: dict[str, int] = {}
    for r in ev:
        age_days = (1706745600000000 - r.us) / 86400000000.0
        term = Decimal(repr(r.value / (1.0 + age_days))).quantize(
            Decimal("1.000000000"), rounding=ROUND_HALF_UP
        )
        expect[r.event_type] = expect.get(r.event_type, Decimal(0)) + term
        counts[r.event_type] = counts.get(r.event_type, 0) + 1
    got = {r.event_type: r for r in time_decay_score(spark, SF_SMOKE).collect()}
    assert set(got) == set(expect)
    for et, row in got.items():
        assert row.n == counts[et]
        assert abs(row.decay_score - float(expect[et])) < 1e-6


def test_rfm_segments_partition_all_users(spark):
    """Every user lands in exactly one (r, f, m) cell and quartile
    sizes are balanced to within one user."""
    from spark_streaming_clustering_spark.operators.breadth_surface import (
        rfm_segmentation,
    )
    from spark_streaming_clustering_spark.sources.tables import load_table

    n_users = (
        load_table(spark, SF_SMOKE, "events").select("user_id").distinct().count()
    )
    rows = rfm_segmentation(spark, SF_SMOKE).collect()
    assert sum(r.n_users for r in rows) == n_users
    for axis in ("r", "f", "m"):
        sizes: dict[int, int] = {}
        for r in rows:
            sizes[r[axis]] = sizes.get(r[axis], 0) + r.n_users
        assert set(sizes) == {1, 2, 3, 4}
        assert max(sizes.values()) - min(sizes.values()) <= 1


def test_bitmap_all_row_bounds(spark):
    """The or-merged 'ALL' distinct count is <= the per-type sum and
    >= the max per-type count (set algebra sanity)."""
    from spark_streaming_clustering_spark.operators.breadth_surface import (
        bitmap_funcs_q,
    )

    rows = {r.event_type: r.n_distinct_users for r in bitmap_funcs_q(spark, SF_SMOKE).collect()}
    total = rows.pop("ALL")
    assert max(rows.values()) <= total <= sum(rows.values())


def test_bpe_pairs_match_python_counter(spark):
    """Top pair table vs a pure-Python counter over the same corpus."""
    from collections import Counter

    from spark_streaming_clustering_spark.operators.breadth_surface import (
        BPE_TOPK,
        bpe_pair_counts,
    )
    from spark_streaming_clustering_spark.sources.tables import load_table

    docs = load_table(spark, SF_SMOKE, "documents").select("text").collect()
    cnt: Counter = Counter()
    for d in docs:
        for w in d.text.lower().split(" "):
            if w:
                for i in range(len(w) - 1):
                    cnt[w[i : i + 2]] += 1
    expect = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[:BPE_TOPK]
    got = [(r.pair, r.n) for r in bpe_pair_counts(spark, SF_SMOKE).collect()]
    assert got == expect
