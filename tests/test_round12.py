"""Round-12 batch: weighted shortest path and the analytics keys of
that round.  Oracle equality runs in scripts/selfcheck.py; these tests
pin the semantic invariants the oracles rely on.  The round's streaming
keys (DDWW, append-mode windows) are tested in
tests/test_streaming_surface.py."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.util_oracle import compare, duck_con
from spark_streaming_clustering_spark.operators.registry import ORACLES


def test_wsp_oracle_compare(spark, sf_dir):
    """Driver-shaped oracle compare for the weighted-shortest-path key."""
    from spark_streaming_clustering_spark.operators.analytics_surface import (
        graph_weighted_shortest_path,
    )

    compare(
        graph_weighted_shortest_path(spark, sf_dir),
        duck_con(sf_dir),
        ORACLES["graph_weighted_shortest_path"],
        "graph_weighted_shortest_path",
    )


def test_join_ivm_delta_self_consistency(spark, sf_dir):
    """Every row's merged view equals the from-scratch recompute, the
    delta terms are non-empty (both fact- and dim-side inserts really
    contribute), and the oracle compare mirrors CORRECTNESS."""
    from spark_streaming_clustering_spark.operators.extras_surface import (
        join_ivm_delta,
    )

    df = join_ivm_delta(spark, sf_dir)
    rows = df.collect()
    assert rows and all(r.ivm_equals_recompute for r in rows)
    assert any(r.n_delta > 0 for r in rows)
    assert all(r.n_after == r.n_base + r.n_delta for r in rows)
    compare(df, duck_con(sf_dir), ORACLES["join_ivm_delta"], "join_ivm_delta")


def test_spearman_matches_pandas_replication(spark, sf_dir):
    """Independent replication: rank both variables with the same
    deterministic (value, doc_id) tiebreak in pandas and recompute
    rho exactly; assert bounds and the strong-positive fixture signal
    (the probe rejected near-zero orders-side pairs as exhibits)."""
    from spark_streaming_clustering_spark.operators.extras_surface import (
        spearman_corr,
    )

    row = spearman_corr(spark, sf_dir).collect()[0]
    assert -1_000_000 <= row.spearman_micro <= 1_000_000
    assert row.spearman_micro > 900_000  # n_chars ~ words: real signal
    con = duck_con(sf_dir)
    df = con.execute(
        """SELECT doc_id AS k, CAST(n_chars AS BIGINT) AS x,
                  CAST(length(text) - length(replace(text,' ','')) + 1
                       AS BIGINT) AS y FROM documents"""
    ).fetchdf()
    df = df.sort_values(["x", "k"]).reset_index(drop=True)
    df["rx"] = range(1, len(df) + 1)
    df = df.sort_values(["y", "k"]).reset_index(drop=True)
    df["ry"] = range(1, len(df) + 1)
    d2 = int(((df.rx - df.ry) ** 2).sum())
    n = len(df)
    assert (row.n, row.sum_d2) == (n, d2)
    assert row.spearman_micro == 1_000_000 - (6_000_000 * d2) // (n * (n * n - 1))


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


def _kcen_python_replay(sf_dir: str):
    """Independent exact farthest-first traversal on the quantized
    vectors, straight from parquet (no Spark, no shared code)."""
    import duckdb

    con = duckdb.connect()
    rows = con.execute(
        f"""SELECT vec_id, list_transform(embedding,
              x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT))
            FROM read_parquet('{sf_dir}/embeddings.parquet')
            ORDER BY vec_id"""
    ).fetchall()
    vecs = {int(v): q for v, q in rows}
    seed = min(vecs)
    picks = [(1, seed, 0)]
    mind = {
        v: sum((a - b) * (a - b) for a, b in zip(q, vecs[seed]))
        for v, q in vecs.items()
    }
    for r in range(2, 9):
        top = min(vecs, key=lambda v: (-mind[v], v))
        picks.append((r, top, mind[top]))
        for v, q in vecs.items():
            d = sum((a - b) * (a - b) for a, b in zip(q, vecs[top]))
            if d < mind[v]:
                mind[v] = d
    return picks


def test_kcenter_matches_python_replay_and_radius_monotone(spark, sf_dir):
    """Cross-implementation pin + the k-center invariant: the selection
    radius (maxmin distance at pick time) is non-increasing after the
    seed, and all centers are distinct."""
    from spark_streaming_clustering_spark.operators.corpus_surface import (
        kcenter_diversity_select,
    )

    got = [
        (r.sel_round, r.vec_id, r.maxmin_d2q)
        for r in kcenter_diversity_select(spark, sf_dir)
        .orderBy("sel_round")
        .collect()
    ]
    assert got == _kcen_python_replay(sf_dir)
    radii = [d for _r, _v, d in got[1:]]
    assert all(a >= b for a, b in zip(radii, radii[1:]))
    assert len({v for _r, v, _d in got}) == len(got)


def test_greedy_set_cover_invariants(spark, sf_dir):
    """Submodularity: greedy gains are non-increasing; coverage is the
    strictly-increasing running sum; picks are distinct docs; every
    gain is positive (the bigram universe is non-degenerate — the
    plain-token variant was rejected by the r12 probe: one doc covered
    the whole 31-token vocabulary)."""
    from spark_streaming_clustering_spark.operators.corpus_surface import (
        greedy_set_cover,
    )

    rows = (
        greedy_set_cover(spark, sf_dir).orderBy("sel_round").collect()
    )
    gains = [r.gain for r in rows]
    assert all(g > 0 for g in gains)
    assert all(a >= b for a, b in zip(gains, gains[1:]))
    totals = [r.covered_total for r in rows]
    assert totals == [sum(gains[: i + 1]) for i in range(len(gains))]
    assert len({r.doc_id for r in rows}) == len(rows)


def test_gram_matrix_matches_numpy(spark, sf_dir):
    """Independent replication: full-precision numpy int64 Gram on the
    quantized vectors equals the distributed result exactly; 2080
    upper-triangle cells; strictly positive diagonal (no zero
    vectors in the fixture)."""
    import numpy as np

    from spark_streaming_clustering_spark.operators.corpus_surface import (
        gram_matrix_embeddings,
    )

    got = {
        (r.i, r.j): r.gram_q
        for r in gram_matrix_embeddings(spark, sf_dir).collect()
    }
    assert len(got) == 64 * 65 // 2
    con = duck_con(sf_dir)
    x = np.stack(
        con.execute("SELECT embedding FROM embeddings ORDER BY vec_id")
        .fetchdf()["embedding"]
        .to_numpy()
    ).astype(np.float64)
    q = np.floor(x * 1000 + 0.5).astype(np.int64)
    g = q.T @ q
    for (i, j), v in got.items():
        assert v == g[i - 1, j - 1], (i, j)
    assert all(got[(d, d)] > 0 for d in range(1, 65))
