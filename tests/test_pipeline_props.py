"""Semantic properties of the corpus-logistics operators.

The oracle gate proves Spark == DuckDB; these tests prove both engines
compute the RIGHT thing — the invariants a training pipeline actually
relies on (a split that partitions and stays stable, shards that
respect the packing rule, components that are a true fixpoint).
"""

from __future__ import annotations

import re
from pathlib import Path

import duckdb
import pytest

from spark_streaming_clustering_spark import operators as operators_pkg
from spark_streaming_clustering_spark.operators.pipeline_surface import (
    SHARD_TOKEN_BUDGET,
    dedup_connected_components,
    dedup_keep_best,
    dedup_minhash_lsh_capped,
    shard_by_token_budget,
    split_train_test,
    text_quality_score,
)
from spark_streaming_clustering_spark.sources.tables import load_table
from tests.conftest import SF_SMOKE


def test_split_partitions_the_corpus_and_is_stable(spark):
    total = load_table(spark, SF_SMOKE, "documents").count()
    a = {(r.split, r.lang): r.n for r in split_train_test(spark, SF_SMOKE).collect()}
    assert sum(a.values()) == total  # partition: every doc in exactly one split
    assert {s for s, _ in a} <= {"train", "val", "test"}
    # pure-hash assignment: a second invocation is byte-identical
    b = {(r.split, r.lang): r.n for r in split_train_test(spark, SF_SMOKE).collect()}
    assert a == b


def test_shard_assignment_matches_greedy_packing(spark):
    rows = sorted(
        shard_by_token_budget(spark, SF_SMOKE).collect(),
        key=lambda r: (r.lang, r.doc_id),
    )
    cum: dict[str, int] = {}
    prev_shard: dict[str, int] = {}
    for r in rows:
        excl = cum.get(r.lang, 0)
        assert r.shard == excl // SHARD_TOKEN_BUDGET  # greedy exclusive-cumsum rule
        assert r.shard >= prev_shard.get(r.lang, 0)  # monotone per lang
        cum[r.lang] = excl + r.n_tok
        prev_shard[r.lang] = r.shard


def test_connected_components_is_a_fixpoint(spark):
    pairs = dedup_minhash_lsh_capped(spark, SF_SMOKE).select("doc_a", "doc_b").collect()
    labels = {
        r.doc_id: r.component
        for r in dedup_connected_components(spark, SF_SMOKE).collect()
    }
    # fixpoint: both endpoints of every edge carry the same label
    for p in pairs:
        assert labels[p.doc_a] == labels[p.doc_b], (p.doc_a, p.doc_b)
    # canonical labels: each component's label is its smallest member
    members: dict[int, list[int]] = {}
    for node, comp in labels.items():
        members.setdefault(comp, []).append(node)
    for comp, nodes in members.items():
        assert comp == min(nodes)


def test_results_invariant_to_shuffle_partition_count(spark):
    """Distributed-correctness property: changing the shuffle partition
    count must not change any oracle-checked result (catches hidden
    partition-order dependence — first/collect_list without sort,
    unstable tie-breaks, float accumulation order)."""
    from spark_streaming_clustering_spark.operators.registry import QUERIES

    keys = [
        "flagship_revenue",
        "groupby_agg_sums",
        "dedup_minhash_lsh_capped",
        "dedup_connected_components",
        "tf_idf_topk",
        "topk_q",
        "window_frame_range",
        "shard_by_token_budget",
        "string_agg_q",
        # round-3 surface
        "sessionize_events",
        "bm25_topk",
        "quality_entropy",
        "cms_sketch_q",
        "dedup_containment",
        "grouped_map_normalize",
        "python_datasource_scan",
        # round-4 surface (incl. the golden-constant keys, whose oracles
        # are pinned rows — partition-count independence is exactly what
        # makes a golden valid on the driver's differently-sized session)
        "dedup_keep_best",
        "zorder_layout",
        "gstream_epoch",
        "mllib_kmeans_baseline",
    ]
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        results = {}
        for n in ("5", "17"):
            spark.conf.set("spark.sql.shuffle.partitions", n)
            results[n] = {
                k: sorted(map(tuple, QUERIES[k](spark, SF_SMOKE).collect()))
                for k in keys
            }
        for k in keys:
            assert results["5"][k] == results["17"][k], k
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def _recall_at_3(spark, ann_fn) -> float:
    from spark_streaming_clustering_spark.operators.pipeline_surface import (
        ann_bruteforce_topk,
    )

    truth: dict[int, set[int]] = {}
    for r in ann_bruteforce_topk(spark, SF_SMOKE).collect():
        if r.rank <= 3:
            truth.setdefault(r.q_id, set()).add(r.n_id)
    got: dict[int, set[int]] = {}
    for r in ann_fn(spark, SF_SMOKE).collect():
        if r.q_id in truth:
            got.setdefault(r.q_id, set()).add(r.n_id)
    hits = sum(len(truth[q] & got.get(q, set())) for q in truth)
    return hits / sum(len(v) for v in truth.values())


def test_ann_recall_against_bruteforce(spark):
    """Measured recall@3 of both ANN scale paths vs exact brute force
    (deterministic data + deterministic structures => constants; the
    floors guard against edits that silently gut recall).

    Measured on the synthetic near-uniform embeddings: IVF 0.90 (probes
    2/8 cells), LSH 0.17.  Uniform random vectors are random-hyperplane
    LSH's worst regime — true neighbors sit barely above the bulk
    cosine, so 8-bit sign patterns rarely collide, and the skew cap
    (required at scale) trims candidates further; real text embeddings
    cluster, which raises collision rates exactly where it matters.
    The engine's guidance (SCALE.md) is IVF for recall on weakly
    structured data, LSH where its one-pass bucketing and skew bound
    fit the pipeline."""
    from spark_streaming_clustering_spark.operators.pipeline_surface import (
        ann_ivf_topk,
        ann_lsh_bucketed,
        ann_lsh_multiprobe,
    )

    ivf = _recall_at_3(spark, ann_ivf_topk)
    lsh = _recall_at_3(spark, ann_lsh_bucketed)
    multi = _recall_at_3(spark, ann_lsh_multiprobe)
    assert ivf >= 0.8, f"IVF recall@3 collapsed: {ivf:.2f}"
    assert lsh >= 0.15, f"LSH recall@3 collapsed: {lsh:.2f}"
    # multi-probe must deliver its reason to exist: a clear lift over
    # single-probe (measured 0.43 vs 0.17)
    assert multi >= 0.4, f"multi-probe recall@3 collapsed: {multi:.2f}"
    assert multi >= lsh + 0.15, f"multi-probe lift gone: {multi:.2f} vs {lsh:.2f}"


# The banded-LSH spellings that live only in operators/_idioms.py.
_BANDED_LSH_SPELLINGS = {
    "MinHash band key": r"m\{b \* ROWS_PER_BAND",
    "row_number() bucket cap": r"\brk\b\W*<=\s*\{?(cap\b|\w*MAX_BUCKET)|\bw_cap\b",
    "in-bucket pair expansion": r'collect_list\(F\.struct\("doc_id", "sig"\)\)',
    "SQL band union": r"band_selects|AS bkey FROM sig",
}


def test_banded_lsh_is_spelled_once():
    """MinHash banding, the bucket cap, the in-bucket pair expansion and
    the DuckDB band union are written once, in ``_idioms.py``: every
    banded key (MinHash, SimHash byte bands, hyperplane tables) and its
    oracle call those helpers instead of carrying a copy."""
    pkg_dir = Path(operators_pkg.__file__).parent
    home = (pkg_dir / "_idioms.py").read_text()
    assert [w for w, rx in _BANDED_LSH_SPELLINGS.items() if not re.search(rx, home)] == []
    offenders = sorted(
        (p.name, what)
        for p in pkg_dir.glob("*.py")
        if p.name != "_idioms.py"
        for what, rx in _BANDED_LSH_SPELLINGS.items()
        if re.search(rx, p.read_text())
    )
    assert offenders == []


def test_minhash_estimate_tracks_true_jaccard(spark):
    """Statistical validity of the 16-hash MinHash estimator: for every
    emitted candidate pair, |est - true jaccard| <= 0.3 (the 16-hash
    binomial bound at ~2 sigma), and the mean absolute error is far
    tighter.  Catches coefficient/banding edits that keep the oracle in
    lockstep (both engines wrong together) but break the estimator."""
    from pyspark.sql import functions as F

    from spark_streaming_clustering_spark.operators.pipeline_surface import (
        _shingles,
        dedup_minhash_lsh_capped,
    )

    pairs = dedup_minhash_lsh_capped(spark, SF_SMOKE)
    sh = _shingles(spark, SF_SMOKE).select("doc_id", "sh").distinct()
    sets = {
        r.doc_id: set(r.s)
        for r in sh.groupBy("doc_id").agg(F.collect_set("sh").alias("s")).collect()
    }
    errs = []
    for p in pairs.collect():
        a, b = sets[p.doc_a], sets[p.doc_b]
        true_j = len(a & b) / len(a | b)
        errs.append(abs(p.est_jaccard - true_j))
    assert errs, "capped LSH emitted no pairs at smoke scale"
    assert max(errs) <= 0.3, f"worst estimate off by {max(errs):.2f}"
    assert sum(errs) / len(errs) <= 0.12, f"mean error {sum(errs)/len(errs):.3f}"


def test_repetition_flags_are_nondegenerate(spark):
    """The repetition filter must separate the corpus: both flagged and
    unflagged docs exist, and every flagged doc really exceeds a
    threshold."""
    from spark_streaming_clustering_spark.operators.quality_surface import (
        quality_repetition,
    )

    rows = quality_repetition(spark, SF_SMOKE).collect()
    flagged = [r for r in rows if r.repetitive]
    assert 0 < len(flagged) < len(rows)
    for r in flagged:
        assert r.top2_share > 0.1 or r.dup3_frac > 0.4


def test_simhash_hamming_matches_sequential_emulation(spark):
    """The distributed banded+capped+verified pipeline must equal a
    sequential driver-side emulation of the same algorithm over the same
    signatures: band by byte, keep the SIMHAM_MAX_BUCKET lowest doc_ids
    per (band, value), verify survivors at hamming <= SIMHAM_MAX_DIST."""
    from collections import defaultdict

    from spark_streaming_clustering_spark.operators._simhash import dedup_simhash
    from spark_streaming_clustering_spark.operators.quality_surface import (
        SIMHAM_MAX_BUCKET,
        SIMHAM_MAX_DIST,
        dedup_simhash_hamming,
    )

    sigs = {r.doc_id: r.simhash for r in dedup_simhash(spark, SF_SMOKE).collect()}
    buckets = defaultdict(list)
    for d in sorted(sigs):
        for band in range(4):
            buckets[(band, (sigs[d] >> (8 * band)) & 255)].append(d)
    expect = {}
    for members in buckets.values():
        kept = members[:SIMHAM_MAX_BUCKET]  # lowest doc_ids survive the cap
        for i, a in enumerate(kept):
            for b in kept[i + 1 :]:
                h = bin(sigs[a] ^ sigs[b]).count("1")
                if h <= SIMHAM_MAX_DIST:
                    expect[(a, b)] = h
    got = {(r.doc_a, r.doc_b): r.hamming for r in dedup_simhash_hamming(spark, SF_SMOKE).collect()}
    assert len(got) > 0
    assert got == expect


def test_pq_search_recall_and_self_retrieval(spark):
    """ann_pq_search vs exact L2 top-5 (numpy recompute): with the
    deliberately coarse 4-centroid codebook on near-uniform synthetic
    vectors, measured recall@5 is 0.20 — the same regime that caps
    sign-LSH at 0.17 here (real clustered embeddings and a trained
    k-means codebook raise it; the operator contract is the ADC
    mechanics, which the oracle checks exactly).  Two floors: overall
    recall, and self-retrieval — a query's OWN vector must rank first,
    since its ADC distance is pure quantization error."""
    import numpy as np
    import pyarrow.parquet as pq

    from spark_streaming_clustering_spark.operators.corpus_surface import (
        PQ_QUERY_IDS,
        ann_pq_search,
    )

    t = pq.read_table(SF_SMOKE + "/embeddings.parquet").to_pandas()
    V = np.stack(t["embedding"].map(np.asarray).values).astype(np.float64)
    ids = t["vec_id"].values

    got: dict[int, list[int]] = {}
    for r in ann_pq_search(spark, SF_SMOKE).collect():
        got.setdefault(r.q_id, []).append(r.vec_id)

    hits = 0
    for q in PQ_QUERY_IDS:
        qi = np.where(ids == q)[0][0]
        d = ((V - V[qi]) ** 2).sum(axis=1)
        truth = set(ids[np.lexsort((ids, d))[:5]].tolist())
        hits += len(truth & set(got[q][:5]))
        assert got[q][0] == q, f"query {q} does not self-retrieve: {got[q]}"
    recall = hits / (5 * len(PQ_QUERY_IDS))
    assert recall >= 0.15, f"PQ recall@5 collapsed: {recall:.2f}"


def test_results_invariant_under_aqe_toggle(spark):
    """AQE rewrites plans at runtime (coalesced partitions, demoted or
    promoted joins), which reorders float accumulation — the partition
    -count test cannot catch an order-dependence AQE exposes.  Every
    float-emitting family representative must return identical rows
    with AQE on and off (the decimal/integer-quantization discipline
    is exactly what makes this hold)."""
    from spark_streaming_clustering_spark.operators.registry import QUERIES

    keys = [
        "flagship_revenue",       # decimal-exact star aggregate
        "sql_tpch_q9",            # decimal profit over composite join
        "sql_tpch_q22",           # decimal-exact AVG threshold
        "tf_idf_topk",            # float scores, quantized rank
        "text_quality_score",     # rounded ratio scores
        "funnel_attribution",     # struct window navigation
        "window_range_value_q",   # RANGE frame aggregates
        "embed_pq_codes",         # float argmin -> int codes
        "merge_into_upsert",      # integer-cents merge arithmetic
        "graph_jaccard_neighbors",  # floor-quantized jaccard
    ]
    old = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        results = {}
        for mode in ("true", "false"):
            spark.conf.set("spark.sql.adaptive.enabled", mode)
            results[mode] = {
                k: sorted(map(tuple, QUERIES[k](spark, SF_SMOKE).collect()))
                for k in keys
            }
        for k in keys:
            assert results["true"][k] == results["false"][k], k
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old)


# --------------------------------------------------------------------------
# dedup_sorted_neighborhood
# --------------------------------------------------------------------------


SFS = ("sf0.001", "sf0.01", "sf0.1")


def _ground_truth_pairs(sf: str, jt: float = 0.5):
    """ALL-PAIRS >= jt Jaccard ground truth via the shared-shingle
    join — no window, no blocking, independent of the SNM machinery
    (only the shingle definition is shared, by contract)."""
    return {
        (a, b)
        for a, b, _ in duckdb.connect().execute(
            f"""
            WITH tok AS (SELECT doc_id, string_split(text, ' ') AS ws
                         FROM read_parquet('/root/testdata/{sf}/documents.parquet')),
            idx AS (SELECT doc_id, ws, unnest(range(1, len(ws) - 1)) AS i FROM tok),
            sh AS (SELECT DISTINCT doc_id,
                          ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS sh FROM idx),
            sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
            inter AS (SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS ni
                      FROM sh a JOIN sh b USING (sh)
                      WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
            SELECT da, db, ni * 1.0 / (sa.n + sb.n - ni) AS j
            FROM inter JOIN sizes sa ON da = sa.doc_id
                       JOIN sizes sb ON db = sb.doc_id
            WHERE ni * 1.0 / (sa.n + sb.n - ni) >= {jt}
            """
        ).fetchall()
    }


@pytest.mark.parametrize("sf", SFS)
def test_snm_probe_facts_block_and_window(sf):
    """The r13 probe facts the W=3 / plen=8 knobs rest on, re-checked
    at EVERY fixture: each ground-truth pair shares its first-8-chars
    block AND sits within rank distance <= 3 of its partner under the
    within-block (text, doc_id) order.  A new fixture must re-establish
    both or SNM recall silently drops (the events-ts-monotone
    precedent)."""
    docs = duckdb.connect().execute(
        f"SELECT doc_id, text FROM read_parquet("
        f"'/root/testdata/{sf}/documents.parquet')"
    ).fetchall()
    txt = dict(docs)
    by_blk: dict[str, list] = {}
    for doc_id, text in docs:
        by_blk.setdefault(text[:8], []).append((text, doc_id))
    rank = {}
    for blk, rows in by_blk.items():
        for i, (_, doc_id) in enumerate(sorted(rows)):
            rank[doc_id] = (blk, i)
    gt = _ground_truth_pairs(sf)
    assert gt, sf  # fixture non-degeneracy: near-dups exist
    for a, b in gt:
        assert txt[a][:8] == txt[b][:8], (sf, a, b)
        assert abs(rank[a][1] - rank[b][1]) <= 3, (sf, a, b)


@pytest.mark.parametrize("sf", SFS)
def test_snm_exact_ground_truth_equality(spark, sf):
    """SNM returns EXACTLY the all-pairs >= 0.5-Jaccard ground truth
    at every fixture: precision 1 by construction (exact verify) and
    measured recall 100% — the windowed method loses nothing on these
    corpora, at ~W*n candidates instead of n*(n-1)/2."""
    from spark_streaming_clustering_spark.operators.pipeline_surface import (
        dedup_sorted_neighborhood,
    )

    got = {
        (r.doc_a, r.doc_b)
        for r in dedup_sorted_neighborhood(
            spark, f"/root/testdata/{sf}"
        ).collect()
    }
    assert got == _ground_truth_pairs(sf), sf


# --------------------------------------------------------------------------
# short documents (``sequence(1, 0)`` is DESCENDING in Spark, so unguarded
# shingle/gram builders emit spurious rows for docs with < k tokens and
# throw INVALID_ARRAY_INDEX under ANSI mode); dedup_keep_best
# --------------------------------------------------------------------------


def test_shingles_empty_for_short_docs(spark, short_docs_dir):
    from spark_streaming_clustering_spark.operators._text import _shingles

    rows = _shingles(spark, short_docs_dir).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append((r.pos, r.sh))
    # docs 0-2 have < 3 tokens: NO shingles (not spurious [1,0] rows)
    assert 0 not in by_doc and 1 not in by_doc and 2 not in by_doc, by_doc
    assert by_doc[3] == [(1, "one two three")]
    assert len(by_doc[4]) == 4  # 6 tokens -> 4 shingles


def test_quality_repetition_short_docs_no_crash(spark, short_docs_dir):
    """<2-token docs produce no grams and are excluded by the inner-join
    semantics; nothing throws under ANSI mode."""
    from spark_streaming_clustering_spark.operators.quality_surface import (
        quality_repetition,
    )

    out = {r.doc_id: r for r in quality_repetition(spark, short_docs_dir).collect()}
    # only docs with BOTH 2-grams and 3-grams survive (oracle inner join)
    assert set(out) == {3, 4}, out
    assert out[3].n2 == 2 and out[4].n2 == 5


def test_dedup_keep_best_picks_max_quality_member(spark):
    """The kept doc is a real member of its component with the maximal
    (integer-micro) quality; component membership totals agree with CC."""
    comp = {
        r.doc_id: r.component
        for r in dedup_connected_components(spark, SF_SMOKE).collect()
    }
    qual = {
        r.doc_id: r.quality_micro
        for r in text_quality_score(spark, SF_SMOKE).collect()
    }
    kept = dedup_keep_best(spark, SF_SMOKE).collect()
    assert sum(r.n_members for r in kept) == len(comp)
    for r in kept:
        assert comp[r.kept_doc] == r.component
        members = [d for d, c in comp.items() if c == r.component]
        assert len(members) == r.n_members
        assert r.kept_quality_micro == max(qual[d] for d in members)
