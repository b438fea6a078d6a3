"""Large-scale training-data pipeline operators (SURVEY.md section 7 M7).

Beyond the reference's own surface: deduplication (exact, MinHash+LSH,
SimHash, n-gram Jaccard, embedding cosine), similarity search (brute
force + LSH-bucketed ANN), text analysis (language-ID, quality score,
token counting, winnowing fingerprints) and multimodal binary-column
plumbing.  All cross-engine hashing goes through md5-hex prefixes
parsed to BIGINT so Spark and the DuckDB oracle agree bit-for-bit; all
pseudo-randomness (MinHash coefficients, LSH hyperplanes) comes from an
integer LCG evaluated in Python and embedded as literals in BOTH the
Spark plan and the oracle SQL.

Scale notes (100 TB): every operator here is shuffle-based —
shingle/token explosion is map-side, signatures are one groupBy, LSH
candidate generation is an equi-join on (band, key) / bucket, never an
O(n^2) cross join.  The only cross joins are the explicitly-bounded
brute-force ANN baseline (10 query rows broadcast) and the bounded
pairwise jaccard verify (doc_id < 200).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import vec
from ..sources.tables import load_table
from .registry import register, register_plan_proxy
from ._session_cache import session_cached
from ._text import _DK_SHINGLES, _shingles, shared_tf
from ._text import Q_GATE_MICRO, QMICRO_DUCK as _QMICRO_DUCK, QMICRO_SPARK as _QMICRO_SPARK

# House idioms, the MinHash machinery and the banded-LSH primitive live
# in _idioms.py (leaf module, no registry cycle).
from ._idioms import (
    _DK_DOT,
    _DK_DVEC,
    _DK_HASH,
    _DK_MINHASH_CTES,
    _DK_NORM,
    _DK_SIG_AGREE,
    NUM_HASHES,
    STOPWORDS,
    _cap_buckets,
    _dk_capped,
    _dk_minhash_scored,
    _hash28,
    _minhash_bands,
    _minhash_pairs,
    _signatures,
    _tokens,
)

# Multi-table random-hyperplane LSH: N_LSH_TABLES independent tables of
# N_PLANES_PER_TABLE sign bits each (32 hyperplane bits total).  One
# 4-bit table (round 1) meant 16 unbounded buckets -> Theta(n^2/16) pair
# expansion at scale; 8-bit buckets x 4 tables gives 256 buckets per
# table for recall via table union, and LSH_MAX_BUCKET caps any
# boilerplate-heavy bucket deterministically (lowest vec_id kept).
N_LSH_TABLES = 4
N_PLANES_PER_TABLE = 8
N_PLANES = N_LSH_TABLES * N_PLANES_PER_TABLE
LSH_MAX_BUCKET = 20
PLANES = [
    [
        ((1_103_515_245 * (p * 64 + d) + 12_345) % 2_147_483_648) / 2_147_483_648.0 - 0.5
        for d in range(64)
    ]
    for p in range(N_PLANES)
]


def _duck_plane(p: int) -> str:
    vals = ", ".join(repr(v) for v in PLANES[p])
    return f"[{vals}]::DOUBLE[]"


# ==========================================================================
# Deduplication
# ==========================================================================


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on full text; keeper = min doc_id."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy(F.md5("text").alias("text_md5")).agg(
        F.min("doc_id").alias("keeper"), F.count(F.lit(1)).alias("n_copies")
    )


register(
    "dedup_exact",
    dedup_exact,
    "SELECT md5(text) AS text_md5, MIN(doc_id) AS keeper, COUNT(*) AS n_copies "
    "FROM documents GROUP BY md5(text)",
)


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signature -> banded LSH -> candidate pairs -> estimate.

    shingle -> 16 minhashes -> 8 bands x 2 rows; pairs sharing a band
    bucket are candidates (in-bucket expansion, no O(n^2)); keep pairs
    whose signature agreement >= 4/16.
    """
    return _minhash_pairs(_minhash_bands(_signatures(spark, sf_dir)))


def _minhash_oracle() -> str:
    return f"""
    WITH {_DK_MINHASH_CTES},
    {_dk_minhash_scored("bands")}
    SELECT doc_a, doc_b, est_jaccard FROM scored
    """


register("dedup_minhash_lsh", dedup_minhash_lsh, _minhash_oracle())


MAX_BUCKET = 20


def dedup_minhash_lsh_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The skew-guarded LSH variant (SCALE.md): buckets are capped at
    MAX_BUCKET members (kept deterministically by lowest doc_id), so a
    pathological bucket — boilerplate text colliding everything at
    100 TB — bounds in-bucket pair expansion at MAX_BUCKET^2 instead
    of |bucket|^2.  Semantics: recall-bounded candidate generation; the
    oracle applies the identical cap, so results stay exact.
    """
    bands = _minhash_bands(_signatures(spark, sf_dir))
    return _minhash_pairs(_cap_buckets(bands, ["band", "bkey"], "doc_id", MAX_BUCKET))


def _minhash_pairs_cte_body() -> str:
    """Shared CTE chain ending in ``scored`` (doc_a, doc_b, est_jaccard
    >= threshold) — used by the capped-LSH oracle and composed into the
    connected-components and keep-best oracles."""
    capped = _dk_capped("bands", "doc_id, band, bkey", "band, bkey", "doc_id", MAX_BUCKET)
    return f"""{_DK_MINHASH_CTES},
    {capped},
    {_dk_minhash_scored("capped")}"""


def _minhash_capped_oracle() -> str:
    return f"""
    WITH {_minhash_pairs_cte_body()}
    SELECT doc_a, doc_b, est_jaccard FROM scored
    """


register("dedup_minhash_lsh_capped", dedup_minhash_lsh_capped, _minhash_capped_oracle())


def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate CLUSTERS from the near-dup pair graph: iterative
    min-label propagation over the capped-LSH pairs until fixpoint,
    emitting (doc_id, component) with component = lowest doc_id in the
    cluster — what a dedup pipeline actually keys its keep/drop
    decision on (pairs alone can't tell A~B~C is one group).

    The loop is the standard distributed CC recipe (GraphX/Pregel
    semantics on plain DataFrames): labels start as own id, each
    iteration takes min(own, neighbors') with one join + one groupBy,
    and ``localCheckpoint`` truncates the growing lineage so iteration
    N doesn't replan iterations 1..N-1.  Iterations are bounded by
    graph diameter, which the LSH bucket cap keeps small; each step is
    a pair of shuffles on doc_id — no driver-side graph state at any
    scale.  Oracle: DuckDB recursive-CTE transitive closure over the
    identical pair CTEs, min label per node.
    """
    edges, labels = _cc_edges_labels(spark, sf_dir, checkpoint=True)
    labels = labels.localCheckpoint(eager=True)
    # Convergence probe: min-propagation is MONOTONE (every label can
    # only decrease, the node set is constant), so the labels changed
    # iff their exact total decreased — one map-side DECIMAL sum over
    # the just-checkpointed node-sized relation replaces the old
    # join+filter+count change detector (r13-opt; DECIMAL(38,0) so the
    # invariant stays exact at any node-count/id scale, the
    # spearman_corr accumulation rule).
    prev_sum = None
    for _ in range(20):  # diameter bound; bucket cap keeps clusters shallow
        new_labels = _cc_step(edges, labels).localCheckpoint(eager=True)
        new_sum = new_labels.agg(
            F.coalesce(
                F.sum(F.col("lbl").cast("decimal(38,0)")),
                F.lit(0).cast("decimal(38,0)"),
            )
        ).collect()[0][0]
        labels = new_labels
        if prev_sum is not None and new_sum == prev_sum:
            break
        prev_sum = new_sum
    return labels.select(
        F.col("node").alias("doc_id"), F.col("lbl").alias("component")
    )


def _cc_edges_labels(spark: SparkSession, sf_dir: str, checkpoint: bool = False):
    """Undirected edge list + initial own-id labels from the capped-LSH
    pair graph (shared by the executed loop and the audit proxy).

    ``checkpoint=True`` localCheckpoints EDGES before labels are
    derived, so the capped-LSH banding/join plan executes exactly once
    and the (cheap) distinct-node projection reads the checkpointed
    edges (ADVICE r8: deriving labels from the un-checkpointed lineage
    re-executed the whole pair plan a second time).  The audit proxy
    keeps the default lazy form so its plan stays fingerprintable."""
    pairs = dedup_minhash_lsh_capped(spark, sf_dir).select("doc_a", "doc_b")
    fwd = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    edges = fwd.union(fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    if checkpoint:
        edges = edges.localCheckpoint(eager=True)
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("lbl"))
    )
    return edges, labels


def _cc_step(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """One min-label propagation iteration: neighbor labels in via one
    broadcast join, min(own, neighbors') via one groupBy — the shape
    each of the <=20 loop iterations actually pays.  ``labels`` is
    node-sized and checkpoint-sealed in the executed loop (no stats),
    so the hint is explicit (the WSP/Borůvka rule) — without it each
    round plans a SortMergeJoin that shuffles the edge relation
    (r13-opt plan diff)."""
    prop = edges.join(
        F.broadcast(labels.select(F.col("node").alias("dst"), "lbl")), "dst"
    ).select(F.col("src").alias("node"), "lbl")
    return labels.union(prop).groupBy("node").agg(F.min("lbl").alias("lbl"))


def dedup_cc_iteration_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audit-only lazy plan for ``dedup_connected_components``: the
    executed operator localCheckpoints every iteration (lineage
    truncation), so the plan of its RETURNED DataFrame is a bare RDD
    scan — an all-zero fingerprint the drift gate cannot see through
    (review finding r7).  This proxy rebuilds one propagation iteration
    from the same helpers WITHOUT the checkpoint, so PLANS.json and
    tests/test_plan_drift.py pin the join+agg shape the loop runs."""
    edges, labels = _cc_edges_labels(spark, sf_dir)
    return _cc_step(edges, labels)


def _cc_oracle() -> str:
    return f"""
    WITH RECURSIVE {_minhash_pairs_cte_body()},
    edges AS (SELECT doc_a AS a, doc_b AS b FROM scored
              UNION ALL SELECT doc_b, doc_a FROM scored),
    reach AS (SELECT a AS n, a AS m FROM edges
              UNION SELECT e.b AS n, r.m AS m FROM reach r JOIN edges e ON e.a = r.n)
    SELECT n AS doc_id, MIN(m) AS component FROM reach GROUP BY n
    """


register("dedup_connected_components", dedup_connected_components, _cc_oracle())
register_plan_proxy("dedup_connected_components", dedup_cc_iteration_plan)


def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-representative selection: for each near-dup cluster
    (connected component of the capped MinHash-LSH pair graph), keep
    the highest-quality member — what a production pipeline actually
    writes back as the deduplicated corpus manifest (dropping dups is
    only half the operator; CHOOSING the survivor is the other half).

    Scale shape: CC labels (bounded-diameter label propagation, shared
    with ``dedup_connected_components``) equi-joined on doc_id to the
    per-doc quality aggregate, then one argmax window per component.
    Components are bounded by the LSH bucket cap, so the per-component
    window never sees a skewed partition; everything shuffles on
    doc_id/component only.  Tie-break on (quality_micro DESC, doc_id
    ASC) over the integer-exact score so both engines pick the same
    survivor.
    """
    labels = dedup_connected_components(spark, sf_dir)
    quality = text_quality_score(spark, sf_dir).select("doc_id", "quality_micro")
    member = labels.join(quality, "doc_id")
    w = Window.partitionBy("component")
    wr = Window.partitionBy("component").orderBy(
        F.desc("quality_micro"), F.asc("doc_id")
    )
    return (
        member.withColumn("n_members", F.count(F.lit(1)).over(w))
        .withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") == 1)
        .select(
            "component",
            "n_members",
            F.col("doc_id").alias("kept_doc"),
            F.col("quality_micro").alias("kept_quality_micro"),
        )
    )


def _keep_best_oracle() -> str:
    return f"""
    WITH RECURSIVE {_minhash_pairs_cte_body()},
    edges AS (SELECT doc_a AS a, doc_b AS b FROM scored
              UNION ALL SELECT doc_b, doc_a FROM scored),
    reach AS (SELECT a AS n, a AS m FROM edges
              UNION SELECT e.b AS n, r.m AS m FROM reach r JOIN edges e ON e.a = r.n),
    comp AS (SELECT n AS doc_id, MIN(m) AS component FROM reach GROUP BY n),
    tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
    stats AS (
      SELECT doc_id, COUNT(*) AS n_tok, COUNT(DISTINCT tok) AS n_uniq,
             SUM(length(tok)) AS sum_len,
             SUM(CASE WHEN tok IN ({_SW}) THEN 1 ELSE 0 END) AS n_stop
      FROM tok GROUP BY doc_id),
    q AS (SELECT doc_id,
                 CAST({_QMICRO_DUCK} AS BIGINT) AS quality_micro
          FROM stats),
    member AS (SELECT comp.doc_id, component, quality_micro
               FROM comp JOIN q USING (doc_id)),
    ranked AS (SELECT component, doc_id, quality_micro,
                      COUNT(*) OVER (PARTITION BY component) AS n_members,
                      row_number() OVER (PARTITION BY component
                                         ORDER BY quality_micro DESC, doc_id ASC) AS rn
               FROM member)
    SELECT component, CAST(n_members AS BIGINT) AS n_members,
           doc_id AS kept_doc, quality_micro AS kept_quality_micro
    FROM ranked WHERE rn = 1
    """


# moved to _simhash.py (leaf module) so quality_surface's banded
# Hamming variant can share it without a cycle through the registry
from ._simhash import dedup_simhash, simhash_oracle as _simhash_oracle  # noqa: E402

register("dedup_simhash", dedup_simhash, _simhash_oracle())


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard for candidate pairs among doc_id < 200.

    Pairs come from the shared-shingle equi-join (never all-pairs);
    jaccard = |A intersect B| / (|A| + |B| - |A intersect B|).
    """
    sh = (
        _shingles(spark, sf_dir)
        .filter(F.col("doc_id") < 200)
        .select("doc_id", "sh")
        .distinct()
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, F.col("a.sh") == F.col("b.sh"))
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    jac = F.col("n_inter") / (F.col("sa.n_sh") + F.col("sb.n_sh") - F.col("n_inter"))
    return (
        inter.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .select("doc_a", "doc_b", "n_inter", F.round(jac, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= 0.05)
    )


register(
    "dedup_ngram_jaccard",
    dedup_ngram_jaccard,
    f"""
    WITH sh AS (SELECT DISTINCT doc_id, sh FROM ({_DK_SHINGLES}) WHERE doc_id < 200),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
      FROM sh a JOIN sh b ON a.sh = b.sh
      WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
    SELECT doc_a, doc_b, n_inter,
           round(n_inter / (sa.n_sh + sb.n_sh - n_inter), 6) AS jaccard
    FROM inter JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id
    WHERE round(n_inter / (sa.n_sh + sb.n_sh - n_inter), 6) >= 0.05
    """,
)


# Sorted-neighborhood method knobs.  Probe (r13, both doc fixtures):
# every ground-truth pair at Jaccard >= _SNM_JT sits within rank
# distance <= 3 of its partner under ORDER BY (text, doc_id) — max
# observed distance 3 at sf0.001, 2 at sf0.01 — and shares its first
# 8 characters, so W=3 / plen=8 capture 28/28 (sf0.001) and 25/25
# (sf0.01) of the shingle-join ground truth while generating only
# ~W*n candidate pairs (vs n*(n-1)/2 ~ 125k all-pairs).
_SNM_W = 3
_SNM_PLEN = 8
_SNM_JT = 0.5


def _snm_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked-window candidate pairs (doc_a < doc_b, wdist): within
    each ``_SNM_PLEN``-char prefix block, ordered by (text, doc_id),
    every doc pairs with its next ``_SNM_W`` neighbours — ONE window
    exec evaluates all W leads."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", F.substring("text", 1, _SNM_PLEN).alias("blk")
    )
    w = Window.partitionBy("blk").orderBy("text", "doc_id")
    leads = docs.select(
        "doc_id",
        *[
            F.lead("doc_id", k).over(w).alias(f"nbr{k}")
            for k in range(1, _SNM_W + 1)
        ],
    )
    return (
        leads.select(
            "doc_id",
            F.posexplode(
                F.array(*[F.col(f"nbr{k}") for k in range(1, _SNM_W + 1)])
            ).alias("kidx", "nbr"),
        )
        .filter(F.col("nbr").isNotNull())
        .select(
            F.least("doc_id", "nbr").alias("doc_a"),
            F.greatest("doc_id", "nbr").alias("doc_b"),
            (F.col("kidx") + 1).cast("bigint").alias("wdist"),
        )
    )


def dedup_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood (SNM) near-dup detection: the SORT-based
    candidate-generation class the dedup family lacks — every other
    member blocks by hashing (MinHash bands, SimHash bytes, shared
    shingles); SNM instead sorts on a blocking key and compares each
    record only to its W successors, the classic Hernandez-Stolfo
    merge/purge windowing.

    Candidates: block on the first ``_SNM_PLEN`` chars of ``text``,
    order within each block by (text, doc_id), pair each doc with its
    next ``_SNM_W`` neighbours via ``lead`` (ONE window exec evaluates
    all W leads).  Verify: exact 3-gram Jaccard on candidates only,
    keep pairs >= ``_SNM_JT``.  Recall is bounded by the window — the
    method's documented trade — and the r13 probe measured it at 100%
    of the >= 0.5-Jaccard shingle-join ground truth on both doc
    fixtures (28/28, 25/25; see knob comment).

    Scale shape: the sort is a shuffle on ``blk`` (prefix granularity
    is the skew knob — longer prefixes split hot blocks; fixture
    blocks are <= 23 docs at plen=8), candidate volume is O(W*n), and
    the verify join touches only candidate shingles — never all-pairs.
    A GLOBAL-order window (no partition key) would funnel the corpus
    through one task; the blocked window is what survives 100 TB, and
    cross-block misses are the quantified recall cost of that choice
    (zero at every fixture).
    """
    # Verify-side pruning (r13-opt): every shingle consumer below only
    # ever looks at CANDIDATE docs, so seal the candidate pairs (one
    # bounded window job), semi-join the shingle stream down to those
    # docs BEFORE the distinct, and seal the pruned relation once —
    # the previous shape re-derived split+explode+distinct over the
    # WHOLE corpus three times (sizes, a, b: 3 corpus-wide shuffles);
    # now the corpus is shingled once and the distinct runs on the
    # candidate-bounded subset (plan: 5 documents scans -> 2).  The
    # per-doc shingle sets of candidate docs are untouched, so sizes/
    # intersections — and the result — are identical.
    cand = _snm_candidates(spark, sf_dir).localCheckpoint(eager=True)
    cdocs = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .unionAll(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    sh = (
        _shingles(spark, sf_dir)
        .join(F.broadcast(cdocs), "doc_id")
        .select("doc_id", "sh")
        .distinct()
        .localCheckpoint(eager=True)
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        cand.join(a, F.col("doc_a") == F.col("a.doc_id"))
        .join(
            b,
            (F.col("doc_b") == F.col("b.doc_id"))
            & (F.col("a.sh") == F.col("b.sh")),
        )
        .groupBy("doc_a", "doc_b", "wdist")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa, sb = sizes.alias("sa"), sizes.alias("sb")
    jac = F.col("n_inter") / (F.col("sa.n_sh") + F.col("sb.n_sh") - F.col("n_inter"))
    return (
        inter.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .select("doc_a", "doc_b", "wdist", "n_inter", F.round(jac, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= _SNM_JT)
    )


register(
    "dedup_sorted_neighborhood",
    dedup_sorted_neighborhood,
    f"""
    WITH ord AS (
      SELECT doc_id, text, substr(text, 1, {_SNM_PLEN}) AS blk,
             row_number() OVER (PARTITION BY substr(text, 1, {_SNM_PLEN})
                                ORDER BY text, doc_id) AS rn
      FROM documents),
    cand AS (
      SELECT least(a.doc_id, b.doc_id) AS doc_a,
             greatest(a.doc_id, b.doc_id) AS doc_b,
             CAST(b.rn - a.rn AS BIGINT) AS wdist
      FROM ord a JOIN ord b
        ON a.blk = b.blk AND b.rn - a.rn BETWEEN 1 AND {_SNM_W}),
    sh AS (SELECT DISTINCT doc_id, sh FROM ({_DK_SHINGLES})),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
      SELECT doc_a, doc_b, wdist, COUNT(*) AS n_inter
      FROM cand
      JOIN sh a ON a.doc_id = doc_a
      JOIN sh b ON b.doc_id = doc_b AND a.sh = b.sh
      GROUP BY 1, 2, 3)
    SELECT doc_a, doc_b, wdist, n_inter,
           round(n_inter / (sa.n_sh + sb.n_sh - n_inter), 6) AS jaccard
    FROM inter JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id
    WHERE round(n_inter / (sa.n_sh + sb.n_sh - n_inter), 6) >= {_SNM_JT}
    """,
)
register_plan_proxy("dedup_sorted_neighborhood", _snm_candidates)


N_EMB_BLOCKS = 8


def dedup_embed_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs: cosine >= 0.35 over vec_id pairs.

    All-pairs scoring via a DISTRIBUTED blocked matmul: vectors are
    assigned to B = N_EMB_BLOCKS blocks (vec_id % B), the B*(B+1)/2
    block-pair grid is broadcast, each vector is fanned out to every
    block pair it participates in (tagged with its side), and one
    ``applyInPandas`` per (ba, bb) group runs a single BLAS product over
    the two sub-matrices.  Nothing is ever collected to the driver —
    the reference's own discipline (its only collect is <= N aggregate
    rows, batchStreamModel.scala:78).

    Scale accounting: shuffle volume is O(n * (B+1)) vector copies and
    per-task memory is O((n/B) * dim * 8) bytes, so B is the knob that
    trades shuffle for task memory — at 100 TB pick
    B ~ corpus_bytes / executor_budget and every task still holds two
    bounded sub-matrices.  A crossJoin with per-element higher-order
    cosine would evaluate ~dim lambda calls per pair — interpreted,
    ~50x slower than one BLAS call per block pair.  Past brute force,
    the scale paths are ann_lsh_bucketed / ann_ivf_topk.
    """
    import numpy as np
    import pandas as pd

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", vec.to_double_array("embedding").alias("v")
    )
    emb_b = emb.withColumn(
        "blk", (F.col("vec_id") % N_EMB_BLOCKS).cast("int")
    )
    grid = spark.createDataFrame(
        [(i, j) for i in range(N_EMB_BLOCKS) for j in range(i, N_EMB_BLOCKS)],
        "ba int, bb int",
    )
    side_a = emb_b.join(F.broadcast(grid), F.col("blk") == F.col("ba")).select(
        "ba", "bb", F.lit(0).alias("side"), "vec_id", "v"
    )
    side_b = emb_b.join(F.broadcast(grid), F.col("blk") == F.col("bb")).select(
        "ba", "bb", F.lit(1).alias("side"), "vec_id", "v"
    )
    both = side_a.unionByName(side_b)

    def score(key, pdf):
        ba, bb = key
        a = pdf[pdf["side"] == 0]
        b = pdf[pdf["side"] == 1]
        if len(a) == 0 or len(b) == 0:
            return pd.DataFrame({"id_a": [], "id_b": [], "cos": []}).astype(
                {"id_a": np.int64, "id_b": np.int64, "cos": np.float64}
            )
        ids_a = a["vec_id"].to_numpy().astype(np.int64)
        ids_b = b["vec_id"].to_numpy().astype(np.int64)
        x = np.stack(a["v"].to_numpy()).astype(np.float64)
        y = np.stack(b["v"].to_numpy()).astype(np.float64)
        nx = np.sqrt((x * x).sum(axis=1))
        ny = np.sqrt((y * y).sum(axis=1))
        nn = nx[:, None] * ny[None, :]
        with np.errstate(divide="ignore", invalid="ignore"):
            c = np.where(nn == 0, 0.0, (x @ y.T) / nn)
        # Spark/DuckDB round() is half-up; np.round is half-even.
        # Kept values are all >= 0.35 > 0 so floor(x*1e6+0.5) matches.
        c = np.floor(c * 1e6 + 0.5) / 1e6
        if ba == bb:
            # diagonal block: both sides are the same set; id< orders+dedups
            keep = (c >= 0.35) & (ids_a[:, None] < ids_b[None, :])
            ai, bj = np.nonzero(keep)
            lo, hi = ids_a[ai], ids_b[bj]
        else:
            # off-diagonal: each unordered pair appears exactly once in
            # the cross; ids interleave across blocks so order by value
            keep = c >= 0.35
            ai, bj = np.nonzero(keep)
            lo = np.minimum(ids_a[ai], ids_b[bj])
            hi = np.maximum(ids_a[ai], ids_b[bj])
        return pd.DataFrame({"id_a": lo, "id_b": hi, "cos": c[ai, bj]})

    return both.groupBy("ba", "bb").applyInPandas(
        score, "id_a long, id_b long, cos double"
    )


register(
    "dedup_embed_cosine",
    dedup_embed_cosine,
    f"""
    WITH e AS (SELECT vec_id, {_DK_DVEC} AS v FROM embeddings)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round({_DK_DOT.format(a='a.v', b='b.v')}
                 / ({_DK_NORM.format(a='a.v')} * {_DK_NORM.format(a='b.v')}), 6) AS cos
    FROM e a, e b
    WHERE a.vec_id < b.vec_id
      AND round({_DK_DOT.format(a='a.v', b='b.v')}
                / ({_DK_NORM.format(a='a.v')} * {_DK_NORM.format(a='b.v')}), 6) >= 0.35
    """,
)


# ==========================================================================
# Similarity search (ANN)
# ==========================================================================


def ann_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for 10 query vectors (broadcast queries)."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", vec.to_double_array("embedding").alias("v")
    )
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv")
    )
    cos = vec.cosine("qv", "v")
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("n_id"))
    return (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", F.col("vec_id").alias("n_id"), F.round(cos, 6).alias("cos"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
    )


register(
    "ann_bruteforce_topk",
    ann_bruteforce_topk,
    f"""
    WITH e AS (SELECT vec_id, {_DK_DVEC} AS v FROM embeddings),
    q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 10),
    d AS (SELECT q_id, e.vec_id AS n_id,
                 round({_DK_DOT.format(a='qv', b='v')}
                       / ({_DK_NORM.format(a='qv')} * {_DK_NORM.format(a='v')}), 6) AS cos
          FROM e, q WHERE e.vec_id <> q_id),
    r AS (SELECT q_id, n_id, cos,
                 row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id ASC) AS rank
          FROM d)
    SELECT q_id, n_id, cos, rank FROM r WHERE rank <= 5
    """,
)


def _lsh_buckets_udf():
    """All N_LSH_TABLES bucket ids per vector in ONE Arrow-batched BLAS
    matmul — semantically identical to summing the 8 sign bits of
    ``vec.dot(v, plane) > 0`` per table, and ~10x cheaper than evaluating
    32 ``aggregate(zip_with)`` dot products per row in codegen (the
    bucket step dominated the LSH keys' wall time at sf0.1).

    Sign-exactness: numpy's pairwise summation can differ from the
    Catalyst/DuckDB sequential fold by ~1 ulp, but a bucket bit flips
    only if |dot| is within that error of 0 — measured min |dot| over
    every (vector, plane) pair is 1.5e-6 at sf0.1 (5.0e-5 at sf0.001,
    2.4e-5 at sf0.01), ten orders of magnitude above double rounding,
    so the UDF buckets are provably bit-identical to the expression
    form (and to the oracle's fold-based buckets).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _buckets(emb):
        P = np.asarray(PLANES, dtype=np.float64)  # 32 x 64
        M = np.vstack(emb.to_numpy()).astype(np.float64)  # n x 64
        bits = (M @ P.T) > 0  # n x 32 sign pattern
        weights = (1 << np.arange(N_PLANES_PER_TABLE)).astype(np.int32)
        ids = (
            bits.reshape(len(M), N_LSH_TABLES, N_PLANES_PER_TABLE) * weights
        ).sum(axis=2).astype(np.int32)
        return pd.Series(list(ids))

    # real annotation objects: `from __future__ import annotations` would
    # stringify inline hints, which pyspark's typehint parser can't resolve
    _buckets.__annotations__ = {"emb": pd.Series, "return": pd.Series}
    return pandas_udf("array<int>")(_buckets)


def _lsh_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, v, nrm, tbl, bkt): every embedding once per LSH table.

    Norms are per-vector, so they are hoisted BEFORE any pair join:
    each candidate pair then costs one dot() higher-order eval instead
    of three (dot + 2 norms), and the norm work is O(n) not O(pairs).
    """
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", vec.to_double_array("embedding").alias("v")
    )
    return emb.select(
        "vec_id", "v", vec.norm2("v").alias("nrm"),
        F.posexplode(_lsh_buckets_udf()("v")).alias("tbl", "bkt"),
    )


def _lsh_side(df: DataFrame, id_: str, v: str, n: str) -> DataFrame:
    """One side of a candidate join: (tbl, bkt, <id_>, <v>, <n>)."""
    return df.select(
        "tbl", "bkt", F.col("vec_id").alias(id_), F.col("v").alias(v), F.col("nrm").alias(n)
    )


def _lsh_top3(cand: DataFrame) -> DataFrame:
    """(q_id, n_id, cos, rank) top-3 by cosine from candidate rows
    (q_id, qv, qn, n_id, nv, nn).

    ONE shuffle from candidates to answer: per-query the candidate set
    is bounded, so dedup + rank collapse into a single groupBy(q_id)
    array aggregate — array_distinct removes cross-table pair
    collisions (cos is computed identically in every table, so
    duplicates are bitwise equal), sort_array on struct(-cos, n_id)
    gives (cos DESC, n_id ASC), slice takes the top 3.  A
    groupBy(q_id, n_id) + row_number window would cost two
    differently-keyed exchanges for the same bounded result.
    """
    nn = F.col("qn") * F.col("nn")
    cos = F.when(nn == 0, F.lit(0.0)).otherwise(vec.dot("qv", "nv") / nn)
    top = F.array_distinct(
        F.collect_list(F.struct((-F.col("cos")).alias("nc"), F.col("n_id").alias("n_id")))
    )
    return (
        cand.filter(F.col("q_id") != F.col("n_id"))
        .select("q_id", "n_id", F.round(cos, 6).alias("cos"))
        .groupBy("q_id")
        .agg(F.slice(F.sort_array(top), 1, 3).alias("top"))
        .select("q_id", F.posexplode("top").alias("pos", "s"))
        .select(
            "q_id",
            F.col("s.n_id").alias("n_id"),
            (-F.col("s.nc")).alias("cos"),
            (F.col("pos") + 1).alias("rank"),
        )
    )


def ann_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table random-hyperplane LSH ANN: candidates = same 8-bit
    sign-pattern bucket in ANY of the 4 tables, each (table, bucket)
    capped at LSH_MAX_BUCKET members (kept deterministically by lowest
    vec_id), then exact cosine rescoring and top-3 per query.

    Scale shape: pair expansion is bounded by
    tables * buckets * LSH_MAX_BUCKET^2 regardless of skew — the same
    guard dedup_minhash_lsh_capped uses — while the table union keeps
    recall (a near neighbor only needs to agree on all 8 bits of ONE
    table).  Planes are LCG literals shared with the oracle; duplicate
    candidates across tables collapse in the top-3 aggregate.
    """
    capped = _cap_buckets(_lsh_banded(spark, sf_dir), ["tbl", "bkt"], "vec_id", LSH_MAX_BUCKET)
    a = _lsh_side(capped, "q_id", "qv", "qn")
    b = _lsh_side(capped, "n_id", "nv", "nn")
    return _lsh_top3(a.join(b, ["tbl", "bkt"]))


def _lsh_bucket(t: int) -> str:
    """DuckDB 8-bit sign-pattern bucket id of ``v`` in LSH table ``t``."""
    return " + ".join(
        f"CASE WHEN {_DK_DOT.format(a='v', b=_duck_plane(t * N_PLANES_PER_TABLE + p))}"
        f" > 0 THEN {1 << p} ELSE 0 END"
        for p in range(N_PLANES_PER_TABLE)
    )


# DuckDB twins of _lsh_banded + _cap_buckets (the e / banded / capped
# CTEs) and of _lsh_top3's ranking over a (q_id, n_id, cos) CTE named d.
_DK_LSH_CTES = f"""e AS (SELECT vec_id, {_DK_DVEC} AS v FROM embeddings),
    banded AS (
""" + "\n      UNION ALL\n".join(
    f"      SELECT vec_id, v, {t} AS tbl, CAST({_lsh_bucket(t)} AS INT) AS bkt FROM e"
    for t in range(N_LSH_TABLES)
) + f"""),
    {_dk_capped("banded", "vec_id, v, tbl, bkt", "tbl, bkt", "vec_id", LSH_MAX_BUCKET)}"""
_DK_LSH_TOP3 = """r AS (SELECT q_id, n_id, cos,
                 row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id ASC) AS rank
          FROM d)
    SELECT q_id, n_id, cos, rank FROM r WHERE rank <= 3"""


def _dk_cos(a: str, b: str) -> str:
    """DuckDB cosine of two vectors, rounded like _lsh_top3's."""
    return (
        f"round({_DK_DOT.format(a=a, b=b)}\n"
        f"                       / ({_DK_NORM.format(a=a)} * {_DK_NORM.format(a=b)}), 6)"
    )


def _lsh_oracle() -> str:
    return f"""
    WITH {_DK_LSH_CTES},
    d AS (SELECT a.vec_id AS q_id, b.vec_id AS n_id,
                 max({_dk_cos("a.v", "b.v")}) AS cos
          FROM capped a JOIN capped b ON a.tbl = b.tbl AND a.bkt = b.bkt
          WHERE a.vec_id <> b.vec_id
          GROUP BY 1, 2),
    {_DK_LSH_TOP3}
    """


register("ann_lsh_bucketed", ann_lsh_bucketed, _lsh_oracle())


N_CELLS, N_PROBE = 8, 2


def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) ANN: coarse quantize -> probe nearest cells.

    The other scale path next to LSH: every vector is assigned to its
    nearest of N_CELLS coarse centroids (deterministic: the first
    N_CELLS vectors by vec_id), queries probe their N_PROBE nearest
    cells, and the search is an equi-join on cell_id — candidate count
    is sum over probed cells of |cell|, never O(n^2).  At cluster scale
    the data side would be written bucketed/partitioned BY cell_id so
    the probe join is co-located and cells prune at scan time; the
    centroid table stays broadcast-size by construction (k ~ sqrt(n)).
    """
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", vec.to_double_array("embedding").alias("v")
    )
    cells = emb.filter(F.col("vec_id") < N_CELLS).select(
        F.col("vec_id").alias("cell_id"), F.col("v").alias("cv")
    )
    d2 = vec.squared_distance("v", "cv")
    w_cell = Window.partitionBy("vec_id").orderBy("d2", "cell_id")
    asn = (
        emb.crossJoin(F.broadcast(cells))
        .select("vec_id", "v", "cell_id", d2.alias("d2"))
        .withColumn("rk", F.row_number().over(w_cell))
    )
    data_cells = asn.filter(F.col("rk") == 1).select("vec_id", "v", "cell_id")
    q_probes = asn.filter((F.col("vec_id") < 10) & (F.col("rk") <= N_PROBE)).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv"), "cell_id"
    )
    cos = vec.cosine("qv", "v")
    w_top = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("n_id"))
    return (
        data_cells.join(F.broadcast(q_probes), "cell_id")
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", F.col("vec_id").alias("n_id"), F.round(cos, 6).alias("cos"))
        .withColumn("rank", F.row_number().over(w_top))
        .filter(F.col("rank") <= 5)
    )


def _ivf_oracle() -> str:
    return f"""
    WITH e AS (SELECT vec_id, {_DK_DVEC} AS v FROM embeddings),
    cells AS (SELECT vec_id AS cell_id, v AS cv FROM e WHERE vec_id < {N_CELLS}),
    asn AS (
      SELECT vec_id, v, cell_id,
             row_number() OVER (
               PARTITION BY vec_id
               ORDER BY list_sum(list_transform(list_zip(v, cv), p -> (p[1]-p[2])*(p[1]-p[2]))),
                        cell_id) AS rk
      FROM e, cells),
    data_cells AS (SELECT vec_id, v, cell_id FROM asn WHERE rk = 1),
    q_probes AS (SELECT vec_id AS q_id, v AS qv, cell_id
                 FROM asn WHERE vec_id < 10 AND rk <= {N_PROBE}),
    d AS (SELECT q_id, dc.vec_id AS n_id,
                 round({_DK_DOT.format(a='qv', b='dc.v')}
                       / ({_DK_NORM.format(a='qv')} * {_DK_NORM.format(a='dc.v')}), 6) AS cos
          FROM data_cells dc JOIN q_probes USING (cell_id)
          WHERE dc.vec_id <> q_id),
    r AS (SELECT q_id, n_id, cos,
                 row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id ASC) AS rank
          FROM d)
    SELECT q_id, n_id, cos, rank FROM r WHERE rank <= 5
    """


register("ann_ivf_topk", ann_ivf_topk, _ivf_oracle())


# ==========================================================================
# Text analysis
# ==========================================================================


def lang_id_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID by corpus-learned token profiles.

    Profile = top-20 tokens per language by frequency (ties: token asc);
    prediction = language with max distinct-token overlap (ties: lang
    asc).  Docs with zero overlap with every profile are dropped.

    Plan shape: the profile (20 tokens x language count — bounded) is
    BROADCAST against the raw token stream, so non-profile tokens die
    map-side before any shuffle; the distinct-overlap count then runs
    as countDistinct over the surviving (matched) tokens only.  The
    naive order — distinct() over every corpus token, then join —
    shuffles the whole tokenized corpus; at 100 TB that exchange is
    the entire job, and it exists only to dedup tokens the profile
    join would discard anyway.
    """
    tok = _tokens(spark, sf_dir)
    counts = tok.groupBy("lang", "tok").agg(F.count(F.lit(1)).alias("cnt"))
    wp = Window.partitionBy("lang").orderBy(F.desc("cnt"), F.asc("tok"))
    profile = (
        counts.withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") <= 20)
        .select(F.col("lang").alias("plang"), "tok")
    )
    ov = (
        tok.select("doc_id", "lang", "tok")
        .join(F.broadcast(profile), "tok")
        .groupBy("doc_id", "lang", "plang")
        .agg(F.countDistinct("tok").alias("overlap"))
    )
    wd = Window.partitionBy("doc_id").orderBy(F.desc("overlap"), F.asc("plang"))
    return (
        ov.withColumn("rn", F.row_number().over(wd))
        .filter(F.col("rn") == 1)
        .select(
            "doc_id",
            F.col("plang").alias("pred_lang"),
            "overlap",
            F.col("lang").alias("actual_lang"),
            (F.col("plang") == F.col("lang")).alias("correct"),
        )
    )


register(
    "lang_id_ngram",
    lang_id_ngram,
    """
    WITH tok AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
                 FROM documents),
    counts AS (SELECT lang, tok, COUNT(*) AS cnt FROM tok GROUP BY lang, tok),
    profile AS (
      SELECT lang AS plang, tok FROM (
        SELECT lang, tok,
               row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, tok ASC) AS rn
        FROM counts) WHERE rn <= 20),
    doc_tok AS (SELECT DISTINCT doc_id, lang, tok FROM tok),
    ov AS (SELECT doc_id, lang, plang, COUNT(*) AS overlap
           FROM doc_tok JOIN profile USING (tok)
           GROUP BY doc_id, lang, plang),
    ranked AS (
      SELECT doc_id, plang, overlap, lang,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY overlap DESC, plang ASC) AS rn
      FROM ov)
    SELECT doc_id, plang AS pred_lang, overlap, lang AS actual_lang,
           plang = lang AS correct
    FROM ranked WHERE rn = 1
    """,
)


# Per-doc token stats: the tokenize + doc aggregate feeds
# text_quality_score itself plus the keep-best survivor pick, the
# clean-corpus gate and the pretrain-e2e funnel — the
# shared_tf/_signatures pattern applied a third time.
@session_cached
def _quality_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    tok = _tokens(spark, sf_dir)
    return tok.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tok"),
        F.countDistinct("tok").alias("n_uniq"),
        F.sum(F.length("tok")).alias("sum_len"),
        F.sum(F.when(F.col("tok").isin(*STOPWORDS), 1).otherwise(0)).alias("n_stop"),
    )


def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality: uniqueness, stopword ratio, avg token length —
    emitted as exact integer micro-units (see _QMICRO_SPARK above; the
    float formulation with round(x, 6) was retired after the sf0.1
    vintage exposed a cross-engine rounding-tie divergence)."""
    stats = _quality_stats(spark, sf_dir)
    return stats.select(
        "doc_id",
        "n_tok",
        "n_uniq",
        F.expr("(1000000*n_stop) div n_tok").cast("bigint").alias("stop_micro"),
        F.expr(_QMICRO_SPARK).cast("bigint").alias("quality_micro"),
    )


_SW = ", ".join(f"'{w}'" for w in STOPWORDS)
register(
    "text_quality_score",
    text_quality_score,
    f"""
    WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
    stats AS (
      SELECT doc_id, COUNT(*) AS n_tok, COUNT(DISTINCT tok) AS n_uniq,
             SUM(length(tok)) AS sum_len,
             SUM(CASE WHEN tok IN ({_SW}) THEN 1 ELSE 0 END) AS n_stop
      FROM tok GROUP BY doc_id)
    SELECT doc_id, n_tok, n_uniq,
           CAST((1000000*n_stop) // n_tok AS BIGINT) AS stop_micro,
           CAST({_QMICRO_DUCK} AS BIGINT) AS quality_micro
    FROM stats
    """,
)

# registered here (not next to its def) because the oracle interpolates
# the _SW stopword list defined just above
register("dedup_keep_best", dedup_keep_best, _keep_best_oracle())


def token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace tokens + regex word count + BPE-ish size estimate."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(F.split("text", " ")).alias("ws_tokens"),
        F.size(F.regexp_extract_all("text", F.lit("[a-z]+"), 0)).alias("word_tokens"),
        F.length("text").alias("n_chars"),
        F.ceil(F.length("text") / F.lit(3.5)).cast("bigint").alias("est_bpe_tokens"),
    )


register(
    "token_count",
    token_count,
    """
    SELECT doc_id,
           len(string_split(text, ' ')) AS ws_tokens,
           len(regexp_extract_all(text, '[a-z]+')) AS word_tokens,
           length(text) AS n_chars,
           CAST(ceil(length(text) / 3.5) AS BIGINT) AS est_bpe_tokens
    FROM documents
    """,
)


def tf_idf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document (smoothed idf:
    ln((N+1)/(df+1)) + 1), the classic relevance/keyword extraction
    pass of a text pipeline.

    Plan shape: tokenize map-side (regexp + explode inline with the
    scan), tf = one S(doc_id, term) aggregate, df = one S(term)
    re-aggregate of the already-distinct tf rows, then a term equi-join
    back and a per-doc top-3 window.  tf feeds two consumers (df and
    the join-back), so it is persisted — without it Spark re-scans and
    re-tokenizes the corpus per consumer (observed: 3 parquet scans in
    the physical plan; with persist: 1 + the footer-stats count).  At
    100 TB the same decision is "write tf to a table"; MEMORY_AND_DISK
    is its session-scale analogue.  The df side is vocabulary-sized —
    Zipf-bounded far below corpus size, and AQE broadcasts it when it
    fits.  Ranking uses the ROUNDED score in both engines so
    tie-breaking (term ASC) agrees exactly.
    """
    docs = load_table(spark, sf_dir, "documents")
    tf = shared_tf(spark, sf_dir)
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n"))
    score = F.round(
        F.col("tf")
        * (
            F.log(
                (F.col("n").cast("double") + 1.0) / (F.col("df").cast("double") + 1.0)
            )
            + 1.0
        ),
        6,
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        tf.join(df_, "term")
        .crossJoin(F.broadcast(n))
        .select("doc_id", "term", "tf", score.alias("score"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
    )


register(
    "tf_idf_topk",
    tf_idf_topk,
    """
    WITH toks AS (
      SELECT doc_id, unnest(regexp_extract_all(text, '[a-z]+')) AS term
      FROM documents),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
    df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
    n AS (SELECT COUNT(*) AS n FROM documents),
    scored AS (
      SELECT doc_id, term, tf,
             round(tf * (ln((n.n + 1.0) / (df.df + 1.0)) + 1.0), 6) AS score
      FROM tf JOIN df USING (term) CROSS JOIN n),
    r AS (SELECT doc_id, term, tf, score,
                 row_number() OVER (PARTITION BY doc_id
                                    ORDER BY score DESC, term ASC) AS rank
          FROM scored)
    SELECT doc_id, term, tf, score, rank FROM r WHERE rank <= 3
    """,
)


def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint: min 3-gram hash per 4-shingle window.

    fp set = distinct window-minima of the 28-bit shingle hashes;
    compact output = (count, min, exact sum) of the fingerprint set.
    """
    sh = _shingles(spark, sf_dir).select("doc_id", "pos", _hash28(F.col("sh")).alias("h"))
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.currentRow, 3)
    )
    mins = sh.select("doc_id", F.min("h").over(w).alias("m"))
    return mins.groupBy("doc_id").agg(
        F.countDistinct("m").alias("n_fp"),
        F.min("m").alias("fp_min"),
        F.sum_distinct(F.col("m")).alias("fp_sum"),
    )


register(
    "doc_fingerprint",
    doc_fingerprint,
    f"""
    WITH sh AS (SELECT doc_id, pos, {_DK_HASH.format(c='sh')} AS h FROM ({_DK_SHINGLES})),
    mins AS (SELECT doc_id,
                    MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                                 ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS m
             FROM sh)
    SELECT doc_id, COUNT(DISTINCT m) AS n_fp, MIN(m) AS fp_min,
           CAST(SUM(DISTINCT m) AS BIGINT) AS fp_sum
    FROM mins GROUP BY doc_id
    """,
)


# ==========================================================================
# Multimodal binary columns
# ==========================================================================


def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-binary plumbing: byte length, content hash, magic prefix.

    Stands in for image/audio payload handling: the payload is treated
    as opaque bytes with typed metadata alongside.
    """
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.octet_length("text").alias("n_bytes"),
        F.sha2("text", 256).alias("content_sha256"),
        F.lower(F.hex(F.substring("text", 1, 4))).alias("magic_hex"),
        "source",
    )


register(
    "multimodal_meta",
    multimodal_meta,
    """
    SELECT doc_id, octet_length(encode(text)) AS n_bytes,
           sha256(text) AS content_sha256,
           lower(hex(substr(text, 1, 4))) AS magic_hex,
           source
    FROM documents
    """,
)


def multimodal_decode_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInPandas decode pipeline over binary payloads, oracle-checked.

    Real Spark plumbing — binary column, Arrow batches, typed output
    schema — with the actual media decode STUBBED: the container has no
    image/audio libraries, so the decode step degrades to a
    deterministic fake feature vector (first 4 payload bytes / 255)
    and reports status='stubbed'.  Swap `_decode` for a real library
    call (PIL/librosa) to productionize; the distributed shape stays
    identical.
    """
    import pandas as pd

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "utf-8").alias("payload")
    )

    def _decode(payload: bytes) -> list[float]:
        raise NotImplementedError("media decode libraries not present in container")

    def batches(it):
        for pdf in it:
            feats, status = [], []
            for p in pdf["payload"]:
                raw = bytes(p)
                try:
                    f = _decode(raw)
                    status.append("decoded")
                except NotImplementedError:
                    f = [b / 255.0 for b in raw[:4]]
                    status.append("stubbed")
                feats.append(f)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": [len(bytes(p)) for p in pdf["payload"]],
                    # re-quantize the float features (x255 is exact for
                    # the stub's b/255 values) and relationalize — the
                    # house rule for set/array outputs under the
                    # value-hash, and what a feature store would
                    # persist anyway
                    "feat_q8": [
                        ",".join(str(round(v * 255)) for v in f) for f in feats
                    ],
                    "status": status,
                }
            )

    return docs.mapInPandas(
        batches, "doc_id long, n_bytes int, feat_q8 string, status string"
    )


# GRADUATED from rows-only: the stub branch is deterministic (feature =
# first 4 payload bytes / 255, payload = utf-8 text, corpus is ASCII),
# so the fake-decode contract itself is oracle-expressible — the oracle
# recomputes the quantized features from the text bytes.  When a real
# decode library lands, `_decode` stops raising, status flips to
# 'decoded', and THIS oracle goes stale by design (the gate would catch
# the swap immediately).
register(
    "multimodal_decode_stub",
    multimodal_decode_stub,
    """
    SELECT doc_id, CAST(octet_length(encode(text)) AS INT) AS n_bytes,
           array_to_string(
             list_transform(generate_series(1, least(4, length(text))),
                            i -> CAST(ascii(substr(text, i, 1)) AS VARCHAR)),
             ',') AS feat_q8,
           'stubbed' AS status
    FROM documents
    """,
)


FRAME_BYTES, FRAME_STRIDE = 16, 4


def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over opaque binary payloads via mapInPandas.

    Treats each payload as a sequence of FRAME_BYTES-byte frames and
    emits every FRAME_STRIDE-th frame — the video-frame-sampling shape
    (1 input row -> k output rows, Arrow-batched, bounded memory per
    task).  Deterministic byte math, so unlike the decode stub this one
    is oracle-checked: DuckDB reproduces it with substring arithmetic.
    """
    import pandas as pd

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "utf-8").alias("payload")
    )

    def batches(it):
        for pdf in it:
            ids, idxs, hexes = [], [], []
            for doc_id, p in zip(pdf["doc_id"], pdf["payload"]):
                raw = bytes(p)
                n_frames = (len(raw) + FRAME_BYTES - 1) // FRAME_BYTES
                for i in range(0, n_frames, FRAME_STRIDE):
                    ids.append(doc_id)
                    idxs.append(i)
                    hexes.append(raw[i * FRAME_BYTES : (i + 1) * FRAME_BYTES].hex())
            yield pd.DataFrame({"doc_id": ids, "frame_idx": idxs, "frame_hex": hexes})

    return docs.mapInPandas(batches, "doc_id long, frame_idx int, frame_hex string")


register(
    "multimodal_frame_sample",
    multimodal_frame_sample,
    f"""
    -- documents.text is pure ASCII (checked for all SFs), so VARCHAR
    -- slicing is byte slicing; DuckDB substring() has no BLOB overload.
    WITH b AS (SELECT doc_id, text, octet_length(encode(text)) AS nb FROM documents),
    f AS (SELECT doc_id, text,
                 unnest(generate_series(0, ((nb + {FRAME_BYTES - 1}) // {FRAME_BYTES}) - 1,
                                        {FRAME_STRIDE})) AS frame_idx
          FROM b)
    SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx,
           lower(hex(encode(substring(text, frame_idx * {FRAME_BYTES} + 1, {FRAME_BYTES}))))
             AS frame_hex
    FROM f
    """,
)


def pipeline_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed training-data cleaning pipeline as ONE Catalyst plan:
    exact-dedup (keep lowest doc_id per text hash) -> quality filter
    (quality >= 0.5) -> per-language corpus stats.  Demonstrates that
    the engine's operators compose declaratively — dedup, scoring, and
    reporting fuse into a single optimized job, no intermediate
    materialization.
    """
    docs = load_table(spark, sf_dir, "documents")
    keepers = docs.groupBy(F.md5("text").alias("h")).agg(F.min("doc_id").alias("doc_id"))
    q = text_quality_score(spark, sf_dir)
    kept = (
        docs.join(keepers, "doc_id")
        .join(q, "doc_id")
        .filter(F.col("quality_micro") >= Q_GATE_MICRO)
    )
    # quality_micro is integer-exact (no float path), so both the gate
    # and the micro-unit sum are order-independent by construction.
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("total_tokens"),
        F.sum("quality_micro").alias("quality_micros"),
    )


_Q_ORACLE_BODY = f"""
    WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
    stats AS (
      SELECT doc_id, COUNT(*) AS n_tok, COUNT(DISTINCT tok) AS n_uniq,
             SUM(length(tok)) AS sum_len,
             SUM(CASE WHEN tok IN ({_SW}) THEN 1 ELSE 0 END) AS n_stop
      FROM tok GROUP BY doc_id),
    quality AS (
      SELECT doc_id, n_tok,
             CAST({_QMICRO_DUCK} AS BIGINT) AS quality_micro
      FROM stats),
    keepers AS (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text))
    SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
           CAST(SUM(quality_micro) AS BIGINT) AS quality_micros
    FROM documents JOIN keepers USING (doc_id) JOIN quality USING (doc_id)
    WHERE quality_micro >= 500000
    GROUP BY lang
"""

register("pipeline_clean_corpus", pipeline_clean_corpus, _Q_ORACLE_BODY)


GRID_W, GRID_H, RESIZE_STRIDE = 16, 8, 2


def multimodal_resize_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-resize plumbing via mapInPandas, oracle-checked.

    Interprets each payload's first GRID_W x GRID_H bytes as a
    grayscale image and 2x-downsamples by striding rows and columns —
    the real memory/batch shape of a thumbnailing stage (per-task peak
    = one Arrow batch of blobs).  Swap the numpy stride for
    PIL.Image.resize to productionize; schema and partitioning stay.
    """
    import numpy as np
    import pandas as pd

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "utf-8").alias("payload")
    )
    need = GRID_W * GRID_H

    def batches(it):
        for pdf in it:
            ids, ow, oh, px = [], [], [], []
            for doc_id, p in zip(pdf["doc_id"], pdf["payload"]):
                raw = bytes(p)[:need]
                if len(raw) < need:
                    raw = raw + b"\0" * (need - len(raw))
                img = np.frombuffer(raw, dtype=np.uint8).reshape(GRID_H, GRID_W)
                small = img[::RESIZE_STRIDE, ::RESIZE_STRIDE]
                ids.append(doc_id)
                oh.append(small.shape[0])
                ow.append(small.shape[1])
                px.append(",".join(str(int(v)) for v in small.ravel()))
            yield pd.DataFrame({"doc_id": ids, "out_h": oh, "out_w": ow, "pixels": px})

    return docs.mapInPandas(
        batches, "doc_id long, out_h int, out_w int, pixels string"
    )


# GRADUATED from rows-only (same reasoning as multimodal_decode_stub):
# the strided 2x downsample over the zero-padded GRID_H x GRID_W byte
# image is pure integer arithmetic on the utf-8 text bytes, so the
# oracle regenerates every output pixel positionally.
register(
    "multimodal_resize_stub",
    multimodal_resize_stub,
    f"""
    SELECT doc_id,
           CAST({GRID_H // RESIZE_STRIDE} AS INT) AS out_h,
           CAST({GRID_W // RESIZE_STRIDE} AS INT) AS out_w,
           array_to_string(
             list_transform(
               generate_series(0, {(GRID_H // RESIZE_STRIDE) * (GRID_W // RESIZE_STRIDE) - 1}),
               k -> CAST(
                 CASE WHEN ((k // {GRID_W // RESIZE_STRIDE}) * {RESIZE_STRIDE} * {GRID_W}
                            + (k % {GRID_W // RESIZE_STRIDE}) * {RESIZE_STRIDE} + 1)
                           <= length(text)
                      THEN ascii(substr(text,
                        (k // {GRID_W // RESIZE_STRIDE}) * {RESIZE_STRIDE} * {GRID_W}
                        + (k % {GRID_W // RESIZE_STRIDE}) * {RESIZE_STRIDE} + 1, 1))
                      ELSE 0 END AS VARCHAR)),
             ',') AS pixels
    FROM documents
    """,
)


# ==========================================================================
# Corpus shaping: stratified sampling, inverted index, quantization
# ==========================================================================


def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-stratum downsampling — the standard rebalance
    step of a training-data pipeline (keep 25% of over-represented
    English, more of the rarer languages).

    The keep decision is a pure function of doc_id (md5-prefix hash mod
    100 against a per-lang rate), so it is reproducible across runs,
    engines and cluster sizes — no RNG, no sampleBy seed drift.  Plan:
    a single scan with the filter fully pushed into it; no shuffle at
    all.  At 100 TB this is the shape you want: sampling decisions made
    map-side, re-runnable with a changed rate table without re-shuffling.
    """
    docs = load_table(spark, sf_dir, "documents")
    rate = (
        F.when(F.col("lang") == "en", 25)
        .when(F.col("lang") == "es", 50)
        .when(F.col("lang") == "zh", 50)
        .otherwise(100)
    )
    h = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 7), 16, 10).cast(
        "bigint"
    )
    return docs.filter((h % 100) < rate).select("doc_id", "lang")


register(
    "sample_stratified",
    sample_stratified,
    f"""
    SELECT doc_id, lang FROM documents
    WHERE {_DK_HASH.format(c="CAST(doc_id AS VARCHAR)")} % 100 <
          CASE lang WHEN 'en' THEN 25 WHEN 'es' THEN 50 WHEN 'zh' THEN 50
               ELSE 100 END
    """,
)


def inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted index build: term -> doc-frequency + head of the sorted
    postings list (first 20 doc_ids).

    One distinct + one groupBy on term.  The head cap is the scale
    discipline: full postings for a stopword at 100 TB are a single
    giant row (memory hazard per executor); real systems shard postings
    into fixed-size blocks, and the cap models the first block while
    n_docs carries the true frequency.  Deterministic: postings sorted
    ascending in both engines before truncation.
    """
    tok = _tokens(spark, sf_dir).select("doc_id", F.col("tok").alias("term")).distinct()
    return tok.groupBy("term").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.array_join(
            F.slice(F.sort_array(F.collect_set("doc_id")), 1, 20), ","
        ).alias("postings_head"),
    )


register(
    "inverted_index",
    inverted_index,
    """
    WITH tok AS (
      SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS term
      FROM documents)
    SELECT term, COUNT(*) AS n_docs,
           array_to_string(list_sort(list(DISTINCT doc_id))[1:20], ',') AS postings_head
    FROM tok GROUP BY term
    """,
)


def embed_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar quantization of the embedding column — the storage/
    bandwidth step before ANN serving (4x smaller vectors, ~1e-2 recall
    cost).  Per-vector symmetric scale = max|x| / 127; codes emitted as
    a ','-joined string so the driver canonicalizer gets scalar cells.

    Cross-engine determinism: floor(x/scale + 0.5) instead of round()
    (whose half-case tie rule differs between engines), identical
    float64 expression order on both sides.  Pure projection — no
    shuffle, fully map-side at any scale.
    """
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", vec.to_double_array("embedding").alias("v")
    )
    scale = F.array_max(F.transform("v", lambda x: F.abs(x))) / F.lit(127.0)
    emb = emb.withColumn("scale", scale)
    codes = F.transform("v", lambda x: F.floor(x / F.col("scale") + 0.5).cast("int"))
    return emb.select(
        "vec_id",
        (F.round("scale", 6) + F.lit(0.0)).alias("scale_r"),
        F.array_join(codes, ",").alias("q8"),
    )


register(
    "embed_quantize_int8",
    embed_quantize_int8,
    f"""
    WITH e AS (SELECT vec_id, {_DK_DVEC} AS v FROM embeddings),
    s AS (SELECT vec_id, v,
                 list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
          FROM e)
    SELECT vec_id, round(scale, 6) + 0.0 AS scale_r,
           array_to_string(
             list_transform(v, x -> CAST(floor(x / scale + 0.5) AS INT)), ',') AS q8
    FROM s
    """,
)


def split_train_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment (90/5/5 by md5-prefix
    hash of doc_id) + per-split-per-lang counts — the split must be a
    pure function of the document key so it is stable across runs,
    engines, repartitions and corpus growth (a doc never migrates
    between splits when new data arrives).  Zero-shuffle assignment;
    one bounded aggregate for the audit counts.
    """
    docs = load_table(spark, sf_dir, "documents")
    h = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 7), 16, 10).cast(
        "bigint"
    ) % 100
    split = (
        F.when(h < 90, "train").when(h < 95, "val").otherwise("test")
    )
    return (
        docs.select("lang", split.alias("split"))
        .groupBy("split", "lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )


register(
    "split_train_test",
    split_train_test,
    f"""
    WITH s AS (
      SELECT lang,
             CASE WHEN {_DK_HASH.format(c="CAST(doc_id AS VARCHAR)")} % 100 < 90 THEN 'train'
                  WHEN {_DK_HASH.format(c="CAST(doc_id AS VARCHAR)")} % 100 < 95 THEN 'val'
                  ELSE 'test' END AS split
      FROM documents)
    SELECT split, lang, COUNT(*) AS n FROM s GROUP BY split, lang
    """,
)


SHARD_TOKEN_BUDGET = 2000


def shard_by_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: assign documents to training shards so each
    shard holds ~SHARD_TOKEN_BUDGET tokens, greedily in doc_id order
    per language — the batch-construction step before tokenizer/trainer
    hand-off.  shard = floor(exclusive-running-token-sum / budget).

    The running sum is a per-lang ordered window — inherently
    sequential per stratum, so one task per language processes that
    language's rows in order (fine: #langs >> skew here).  The honest
    100 TB version is two-phase: pack within partitions, then add
    per-partition token-count offsets (one tiny driver pass) — same
    outputs, no single-task bottleneck; documented here as the scale
    path, the one-window form kept for oracle parity.
    """
    docs = load_table(spark, sf_dir, "documents")
    n_tok = F.size(F.split("text", " "))
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_tok").over(w)
    return (
        docs.select("doc_id", "lang", n_tok.alias("n_tok"))
        .withColumn(
            "shard",
            F.floor((cum - F.col("n_tok")) / F.lit(SHARD_TOKEN_BUDGET)).cast("long"),
        )
    )


register(
    "shard_by_token_budget",
    shard_by_token_budget,
    f"""
    SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tok,
           CAST(floor((SUM(len(string_split(text, ' '))) OVER
                         (PARTITION BY lang ORDER BY doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       - len(string_split(text, ' '))) / {SHARD_TOKEN_BUDGET})
                AS BIGINT) AS shard
    FROM documents
    """,
)


def contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination scan: count each corpus document's
    distinct 3-token shingles that also appear in the "benchmark" set
    (stand-in: docs with doc_id < 10) — the eval-leakage audit every
    training corpus needs.

    The benchmark shingle set is tiny by construction, so it
    broadcasts; the corpus side streams through a map-side
    broadcast-semi-join + one S(doc_id) count — never a corpus-corpus
    join.  Benchmark members are excluded from the report.
    """
    sh = _shingles(spark, sf_dir).select("doc_id", "sh")
    bench_sh = (
        sh.filter(F.col("doc_id") < 10).select("sh").distinct()
    )
    return (
        sh.filter(F.col("doc_id") >= 10)
        .dropDuplicates(["doc_id", "sh"])
        .join(F.broadcast(bench_sh), "sh")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_contaminated_shingles"))
    )


register(
    "contamination_check",
    contamination_check,
    f"""
    WITH sh AS (SELECT DISTINCT doc_id, sh FROM ({_DK_SHINGLES})),
    bench AS (SELECT DISTINCT sh FROM sh WHERE doc_id < 10)
    SELECT doc_id, COUNT(*) AS n_contaminated_shingles
    FROM sh JOIN bench USING (sh)
    WHERE doc_id >= 10
    GROUP BY doc_id
    """,
)


def ann_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH ANN (Lv et al., VLDB'07): each query probes its
    own bucket PLUS the 8 single-bit-flip neighbor buckets in every
    table — buckets whose sign pattern differs by one hyperplane are
    exactly where a near neighbor lands when one marginal dot product
    flips.  9x probe cost per query for a large recall gain on weakly
    structured data (measured in tests/test_pipeline_props.py vs the
    single-probe key), with the same deterministic bucket cap on the
    data side, so worst-case candidates stay bounded:
    queries * tables * 9 * LSH_MAX_BUCKET.

    This is the standard alternative to adding tables when memory, not
    compute, is the binding constraint: probes multiply query work
    only; tables multiply the stored index.
    """
    banded = _lsh_banded(spark, sf_dir)
    data = _lsh_side(
        _cap_buckets(banded, ["tbl", "bkt"], "vec_id", LSH_MAX_BUCKET), "n_id", "nv", "nn"
    )
    probe_set = F.array(
        F.col("bkt"), *[F.expr(f"bkt ^ {1 << p}") for p in range(N_PLANES_PER_TABLE)]
    )
    queries = (
        banded.filter(F.col("vec_id") < 10)
        .select(
            F.col("vec_id").alias("q_id"), F.col("v").alias("qv"),
            F.col("nrm").alias("qn"), "tbl",
            F.explode(probe_set).alias("bkt"),
        )
    )
    return _lsh_top3(data.join(F.broadcast(queries), ["tbl", "bkt"]))


def _multiprobe_oracle() -> str:
    bits = ", ".join(f"({1 << p})" for p in range(N_PLANES_PER_TABLE))
    return f"""
    WITH {_DK_LSH_CTES},
    q AS (SELECT vec_id AS q_id, v AS qv, tbl, bkt FROM banded WHERE vec_id < 10),
    probes AS (
      SELECT q_id, qv, tbl, bkt FROM q
      UNION ALL
      SELECT q_id, qv, tbl, xor(bkt, bit) FROM q CROSS JOIN (VALUES {bits}) AS t(bit)),
    d AS (SELECT q_id, c.vec_id AS n_id,
                 max({_dk_cos("qv", "c.v")}) AS cos
          FROM capped c JOIN probes p ON c.tbl = p.tbl AND c.bkt = p.bkt
          WHERE c.vec_id <> p.q_id
          GROUP BY 1, 2),
    {_DK_LSH_TOP3}
    """


register("ann_lsh_multiprobe", ann_lsh_multiprobe, _multiprobe_oracle())


# ==========================================================================
# pipeline_pretrain_e2e — the full training-corpus funnel as ONE plan
# ==========================================================================

NEAR_DUP_T = 0.5  # est_jaccard >= 8/16 matching signature components


def pipeline_pretrain_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE pretraining-corpus preparation funnel composed as
    one declarative plan — the headline claim of the repo, stated as
    a query: raw corpus -> exact dedup (md5 keeper) -> near-dup
    removal (MinHash-LSH pairs at est_jaccard >= NEAR_DUP_T, drop the
    higher doc_id — the standard keep-first manifest) -> quality gate
    (score >= 0.5) -> per-language funnel report with survivor counts
    at every stage plus final token mass and quality micros.

    Every stage reuses an independently oracle-verified rule
    (dedup_exact's keeper, dedup_minhash_lsh's pair generator,
    text_quality_score's formula), but the funnel is computed in ONE
    pass over the corpus: stage membership becomes per-document FLAGS
    (keeper via a row_number window on the md5 partition — no
    join-back; near-dup and quality via doc_id-keyed joins), and every
    funnel count is a conditional aggregate of the same relation.  A
    naive stage-per-subquery form re-scanned documents 10x (measured);
    this shape scans it 3x — the flag base, the shingle->signature
    pipeline, and the quality tokenizer, each of which a 100 TB
    deployment would persist as its own manifest/feature table.
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    flagged = docs.select(
        "doc_id",
        "lang",
        (
            F.row_number().over(
                Window.partitionBy(F.md5("text")).orderBy("doc_id")
            )
            == 1
        ).alias("is_keeper"),
    )
    near = (
        dedup_minhash_lsh(spark, sf_dir)
        .filter(F.col("est_jaccard") >= NEAR_DUP_T)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
        .withColumn("is_near_dup", F.lit(True))
    )
    q = text_quality_score(spark, sf_dir).select("doc_id", "n_tok", "quality_micro")
    per_doc = (
        # LEFT join on quality: a document with empty/whitespace-only
        # text produces no tokenizer row — it must still count in
        # n_raw/n_exact/n_near (the oracle's raw/exact/near CTEs count
        # all documents) and simply fail the quality gate (NULL
        # quality -> final predicate NULL -> count_if skips it).
        flagged.join(near, "doc_id", "left")
        .join(q, "doc_id", "left")
        .select(
            "lang",
            "is_keeper",
            F.coalesce("is_near_dup", F.lit(False)).alias("is_near_dup"),
            "n_tok",
            "quality_micro",
        )
    )
    surviving = F.col("is_keeper") & ~F.col("is_near_dup")
    final = surviving & (F.col("quality_micro") >= Q_GATE_MICRO)
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_raw"),
        F.count_if("is_keeper").alias("n_exact"),
        F.count_if(surviving).alias("n_near"),
        F.count_if(final).alias("n_final"),
        F.sum(F.when(final, F.col("n_tok"))).alias("total_tokens"),
        F.sum(F.when(final, F.col("quality_micro"))).alias("quality_micros"),
    )


def _pretrain_e2e_oracle() -> str:
    min_eq = int(NEAR_DUP_T * NUM_HASHES)
    return f"""
    WITH {_DK_MINHASH_CTES},
    near_pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
      WHERE a.doc_id < b.doc_id),
    near AS (
      SELECT DISTINCT doc_b AS doc_id
      FROM near_pairs JOIN sig sa ON doc_a = sa.doc_id
                      JOIN sig sb ON doc_b = sb.doc_id
      WHERE ({_DK_SIG_AGREE}) >= {min_eq}),
    keepers AS (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
    tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
    stats AS (
      SELECT doc_id, COUNT(*) AS n_tok, COUNT(DISTINCT tok) AS n_uniq,
             SUM(length(tok)) AS sum_len,
             SUM(CASE WHEN tok IN ({_SW}) THEN 1 ELSE 0 END) AS n_stop
      FROM tok GROUP BY doc_id),
    quality AS (
      SELECT doc_id, n_tok,
             CAST({_QMICRO_DUCK} AS BIGINT) AS quality_micro
      FROM stats),
    exact_docs AS (SELECT d.doc_id, d.lang FROM documents d
                   JOIN keepers USING (doc_id)),
    nr_docs AS (SELECT e.doc_id, e.lang FROM exact_docs e
                WHERE e.doc_id NOT IN (SELECT doc_id FROM near)),
    fin_docs AS (SELECT n.doc_id, n.lang, q.n_tok, q.quality_micro
                 FROM nr_docs n JOIN quality q USING (doc_id)
                 WHERE q.quality_micro >= 500000),
    raw AS (SELECT lang, COUNT(*) AS n_raw FROM documents GROUP BY lang),
    ex AS (SELECT lang, COUNT(*) AS n_exact FROM exact_docs GROUP BY lang),
    nr AS (SELECT lang, COUNT(*) AS n_near FROM nr_docs GROUP BY lang),
    fin AS (SELECT lang, COUNT(*) AS n_final,
                   CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
                   CAST(SUM(quality_micro) AS BIGINT) AS quality_micros
            FROM fin_docs GROUP BY lang)
    SELECT raw.lang, n_raw,
           COALESCE(n_exact, 0) AS n_exact,
           COALESCE(n_near, 0) AS n_near,
           COALESCE(n_final, 0) AS n_final,
           total_tokens, quality_micros
    FROM raw LEFT JOIN ex USING (lang) LEFT JOIN nr USING (lang)
             LEFT JOIN fin USING (lang)
    """
    # LEFT joins from raw: the Spark side's conditional aggregates emit
    # every language with zero counts (and NULL token/micros sums) even
    # when a stage drops a language entirely; inner joins here would
    # omit the row and diverge the moment a data vintage has such a
    # language (review finding, this round).


register("pipeline_pretrain_e2e", pipeline_pretrain_e2e, _pretrain_e2e_oracle())
