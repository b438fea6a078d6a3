"""Semantic invariants of the corpus_surface selection and linear-
algebra keys (k-center, greedy set cover, Gram matrix), each pinned
against an independent replication.  Oracle equality runs in
scripts/selfcheck.py."""

from __future__ import annotations

from tests.util_oracle import duck_con


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
