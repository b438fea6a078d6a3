"""Corpus-construction operators (round 5 additions).

Three first-class training-data-pipeline operators extending the
round 2-4 families, each oracle-checked:

- ``quality_gopher_rules``  — the published Gopher-style quality rule
                              census as exact integer predicates.
- ``corpus_mixture_sample`` — deterministic hash-rate sampling to a
                              target source mixture (the data-recipe
                              step of every pretraining run).
- ``embed_pq_codes``        — product-quantization code assignment, the
                              memory path that makes billion-vector ANN
                              fit in RAM.

Cross-engine determinism follows the house rules (pipeline_surface.py):
hashing is md5-hex-prefix -> BIGINT, ratio thresholds are cross-
multiplied into INTEGER comparisons wherever possible, float reductions
share the exact same operation order on both engines.

Reference parity note: the reference (G-Stream) has no corpus surface;
these extend SURVEY.md section 2's "LLM-pipeline extensions" family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table
from ._idioms import (
    _DK_HASH,
    _DK_MINHASH_CTES,
    _DK_SIG_AGREE,
    _SW,
    STOPWORDS,
    _hash28,
    _minhash_bands,
    _sig_agree,
    _signatures,
    _tokens,
)
from ._text import QMICRO_DUCK, QMICRO_SPARK
from .registry import register, register_plan_proxy

# ==========================================================================
# quality_gopher_rules
# ==========================================================================

# Rule constants (Gopher-style bounds, adapted to the fixture corpus's
# token-soup scale).  All thresholds are cross-multiplied to integer
# comparisons so no float ratio ever reaches a boundary.
GOPHER_MIN_WORDS = 5
GOPHER_MAX_WORDS = 300
GOPHER_MIN_MEANLEN = 2  # mean word length bounds: 2 <= sum_len/n <= 10
GOPHER_MAX_MEANLEN = 10
GOPHER_MIN_STOPWORDS = 2  # distinct stopwords required
GOPHER_MAX_WORDLEN = 20  # longest token
GOPHER_TOP_SHARE_DEN = 5  # top-token share <= 1/5 of tokens


def quality_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style quality rule census (Rae et al. 2021, 'Scaling
    Language Models' appendix A: word-count bounds, mean-word-length
    bounds, stopword requirement, max-word-length and repetition
    caps), evaluated per document as EXACT integer predicates:
    every ratio threshold is cross-multiplied (mean length in [2,10]
    becomes ``2*n <= sum_len AND sum_len <= 10*n``; top-token share
    <= 1/5 becomes ``5*max_cnt <= n``), so the booleans are
    bit-identical on any engine.

    One token explode -> one (doc_id, tok) count -> one doc_id
    aggregate: two key-partitioned exchanges, everything else
    map-side.  At 100 TB the rule census is the cheap gate that runs
    BEFORE expensive dedup/scoring; emitting per-rule booleans (not
    just the conjunction) is what makes the filter auditable.
    """
    tok = _tokens(spark, sf_dir)
    per_tok = tok.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("cnt"))
    stats = per_tok.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_tok"),
        F.sum(F.length("tok") * F.col("cnt")).alias("sum_len"),
        F.max(F.length("tok")).alias("max_len"),
        F.max("cnt").alias("max_cnt"),
        F.sum(
            F.when(F.col("tok").isin(*STOPWORDS), 1).otherwise(0)
        ).alias("n_stop_kinds"),
    )
    r_words = (F.col("n_tok") >= GOPHER_MIN_WORDS) & (
        F.col("n_tok") <= GOPHER_MAX_WORDS
    )
    r_meanlen = (
        F.col("sum_len") >= GOPHER_MIN_MEANLEN * F.col("n_tok")
    ) & (F.col("sum_len") <= GOPHER_MAX_MEANLEN * F.col("n_tok"))
    r_stop = F.col("n_stop_kinds") >= GOPHER_MIN_STOPWORDS
    r_maxword = F.col("max_len") <= GOPHER_MAX_WORDLEN
    r_repeat = GOPHER_TOP_SHARE_DEN * F.col("max_cnt") <= F.col("n_tok")
    return stats.select(
        "doc_id",
        r_words.alias("r_words"),
        r_meanlen.alias("r_meanlen"),
        r_stop.alias("r_stop"),
        r_maxword.alias("r_maxword"),
        r_repeat.alias("r_repeat"),
        (r_words & r_meanlen & r_stop & r_maxword & r_repeat).alias("passes"),
    )


def _gopher_oracle() -> str:
    return f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
    per_tok AS (
      SELECT doc_id, tok, COUNT(*) AS cnt FROM tok GROUP BY doc_id, tok),
    stats AS (
      SELECT doc_id,
             SUM(cnt) AS n_tok,
             SUM(length(tok) * cnt) AS sum_len,
             MAX(length(tok)) AS max_len,
             MAX(cnt) AS max_cnt,
             SUM(CASE WHEN tok IN ({_SW}) THEN 1 ELSE 0 END) AS n_stop_kinds
      FROM per_tok GROUP BY doc_id)
    SELECT doc_id,
           (n_tok >= {GOPHER_MIN_WORDS} AND n_tok <= {GOPHER_MAX_WORDS})
             AS r_words,
           (sum_len >= {GOPHER_MIN_MEANLEN} * n_tok
            AND sum_len <= {GOPHER_MAX_MEANLEN} * n_tok) AS r_meanlen,
           (n_stop_kinds >= {GOPHER_MIN_STOPWORDS}) AS r_stop,
           (max_len <= {GOPHER_MAX_WORDLEN}) AS r_maxword,
           ({GOPHER_TOP_SHARE_DEN} * max_cnt <= n_tok) AS r_repeat,
           ((n_tok >= {GOPHER_MIN_WORDS} AND n_tok <= {GOPHER_MAX_WORDS})
            AND (sum_len >= {GOPHER_MIN_MEANLEN} * n_tok
                 AND sum_len <= {GOPHER_MAX_MEANLEN} * n_tok)
            AND n_stop_kinds >= {GOPHER_MIN_STOPWORDS}
            AND max_len <= {GOPHER_MAX_WORDLEN}
            AND {GOPHER_TOP_SHARE_DEN} * max_cnt <= n_tok) AS passes
    FROM stats
    """


register("quality_gopher_rules", quality_gopher_rules, _gopher_oracle())


# ==========================================================================
# corpus_mixture_sample
# ==========================================================================

# Target per-source keep rates in integer percent (the data recipe).
# Unlisted sources fall to the default rate.
MIXTURE_RATES = {"src0": 100, "src1": 50, "src2": 25, "src3": 10}
MIXTURE_DEFAULT_RATE = 5


def corpus_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic corpus mixture sampling: each source gets a target
    keep-rate (the pretraining data recipe — e.g. wiki at 100%, web at
    5%), and a document is kept iff its md5-prefix hash lands under the
    rate.  Pure function of (doc_id): stable across runs, engines,
    repartitions and corpus growth — a doc never flips in or out when
    other data arrives, which is what makes mixtures reproducible and
    ablations comparable.  Zero shuffle for the assignment; one
    source-cardinality aggregate for the recipe audit (n_docs, n_kept
    per source).
    """
    docs = load_table(spark, sf_dir, "documents")
    rate = F.lit(MIXTURE_DEFAULT_RATE)
    for src, pct in sorted(MIXTURE_RATES.items()):
        rate = F.when(F.col("source") == src, pct).otherwise(rate)
    h = _hash28(F.concat(F.lit("mix:"), F.col("doc_id").cast("string"))) % 100
    kept = h < rate
    return (
        docs.select("source", kept.alias("kept"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("kept"), 1).otherwise(0)).alias("n_kept"),
        )
    )


def _mixture_oracle() -> str:
    whens = "\n                  ".join(
        f"WHEN source = '{s}' THEN {p}" for s, p in sorted(MIXTURE_RATES.items())
    )
    h = _DK_HASH.format(c="concat('mix:', CAST(doc_id AS VARCHAR))")
    return f"""
    WITH s AS (
      SELECT source,
             CASE WHEN {h} % 100 <
                    CASE {whens} ELSE {MIXTURE_DEFAULT_RATE} END
                  THEN 1 ELSE 0 END AS kept
      FROM documents)
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(kept) AS BIGINT) AS n_kept
    FROM s GROUP BY source
    """


register("corpus_mixture_sample", corpus_mixture_sample, _mixture_oracle())


# ==========================================================================
# embed_pq_codes — product quantization
# ==========================================================================

PQ_SUBSPACES = 8  # 64-dim vectors -> 8 subvectors of 8 dims
PQ_SUBDIM = 8
PQ_CODEBOOK_K = 4  # centroids per subspace = subvectors of vec_id 0..3


def embed_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization (Jegou et al. 2011): split each 64-dim
    embedding into 8 subvectors of 8 dims and store, per subspace, the
    index of the nearest codebook centroid — 8 small ints instead of
    64 floats, the ~30x compression that lets billion-vector ANN
    indexes live in RAM with distances computed from lookup tables.

    Codebook here = the subvectors of reference vectors 0..3 (a
    deterministic stand-in for the k-means codebook a production
    pipeline trains offline); assignment is exact nearest-centroid by
    squared L2, ties broken toward the lower centroid id on BOTH
    engines (row_number ordered by (distance, id)).  Distances are
    summed in fixed index order with identical IEEE double ops, so the
    argmin is engine-independent.

    Plan: the 4-row codebook and 8-row subspace index broadcast onto
    the embedding scan (data x 32 expansion, all map-side), then one
    vec_id-keyed pivot aggregate.  At 100 TB: broadcast-join + single
    exchange — the same shape as ann_ivf's probe step.
    """
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    refs = (
        emb.filter(F.col("vec_id") < PQ_CODEBOOK_K)
        .select(F.col("vec_id").cast("int").alias("c"), F.col("v").alias("rv"))
    )
    subs = spark.range(PQ_SUBSPACES).select(F.col("id").cast("int").alias("j"))
    # squared L2 over the j-th 8-dim slice, accumulated in index order
    d_expr = F.expr(
        f"""aggregate(sequence(0, {PQ_SUBDIM - 1}),
                      CAST(0.0 AS DOUBLE),
                      (acc, d) -> acc + (element_at(v, {PQ_SUBDIM}*j + d + 1)
                                         - element_at(rv, {PQ_SUBDIM}*j + d + 1))
                                      * (element_at(v, {PQ_SUBDIM}*j + d + 1)
                                         - element_at(rv, {PQ_SUBDIM}*j + d + 1)))"""
    )
    from pyspark.sql.window import Window

    dists = (
        emb.crossJoin(F.broadcast(subs))
        .crossJoin(F.broadcast(refs))
        .select("vec_id", "j", "c", d_expr.alias("d"))
    )
    w = Window.partitionBy("vec_id", "j").orderBy("d", "c")
    best = dists.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") == 1)
    code_cols = [
        F.max(F.when(F.col("j") == j, F.col("c"))).alias(f"code{j}")
        for j in range(PQ_SUBSPACES)
    ]
    return best.groupBy("vec_id").agg(*code_cols)


def _pq_codes_ctes() -> str:
    """The DuckDB CTE chain computing (vec_id, code0..code7) — shared
    between the embed_pq_codes oracle and the ann_pq_search oracle."""
    codes = ",\n             ".join(
        f"MAX(CASE WHEN j = {j} THEN c END) AS code{j}"
        for j in range(PQ_SUBSPACES)
    )
    return f"""emb AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings),
    refs AS (
      SELECT CAST(vec_id AS INT) AS c, v AS rv FROM emb
      WHERE vec_id < {PQ_CODEBOOK_K}),
    subs AS (SELECT unnest(range({PQ_SUBSPACES})) AS j),
    pqdists AS (
      SELECT e.vec_id, CAST(s.j AS INT) AS j, r.c,
             list_sum(list_transform(
               generate_series(0, {PQ_SUBDIM - 1}),
               d -> (e.v[{PQ_SUBDIM}*s.j + d + 1] - r.rv[{PQ_SUBDIM}*s.j + d + 1])
                  * (e.v[{PQ_SUBDIM}*s.j + d + 1] - r.rv[{PQ_SUBDIM}*s.j + d + 1])
             )) AS d
      FROM emb e CROSS JOIN subs s CROSS JOIN refs r),
    best AS (
      SELECT vec_id, j, c,
             row_number() OVER (PARTITION BY vec_id, j ORDER BY d, c) AS rk
      FROM pqdists),
    codes AS (
      SELECT vec_id,
             {codes}
      FROM best WHERE rk = 1 GROUP BY vec_id)"""


def _pq_oracle() -> str:
    return f"WITH {_pq_codes_ctes()} SELECT * FROM codes"


register("embed_pq_codes", embed_pq_codes, _pq_oracle())


# ==========================================================================
# sql_udf_q — Spark 4 SQL-defined functions
# ==========================================================================


def sql_udf_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 SQL UDFs (CREATE TEMPORARY FUNCTION ... RETURN expr):
    a scalar function, a COMPOSED scalar function calling it, and a
    table-valued SQL function — all resolved and inlined by Catalyst
    at plan time, so the abstraction must be semantically invisible
    and cost-free (no Python boundary, full codegen).  The oracle is
    the same query with every UDF body inlined by hand (the
    sql_variables_q pattern): equality proves the inlining.

    The TVF drives a lateral repeat: each doc row joins
    ``seqn(n_chars div 100)`` — a correlated table-function argument,
    the shape DuckDB spells with an unnested range.
    """
    from ..sources.tables import register_views

    register_views(spark, sf_dir)
    spark.sql(
        """CREATE OR REPLACE TEMPORARY FUNCTION clip01(x DOUBLE)
           RETURNS DOUBLE
           RETURN CASE WHEN x < 0 THEN CAST(0 AS DOUBLE)
                       WHEN x > 1 THEN CAST(1 AS DOUBLE) ELSE x END"""
    )
    spark.sql(
        """CREATE OR REPLACE TEMPORARY FUNCTION len_score(n BIGINT)
           RETURNS DOUBLE
           RETURN clip01(CAST(n AS DOUBLE) / 400.0)"""
    )
    spark.sql(
        """CREATE OR REPLACE TEMPORARY FUNCTION seqn(n INT)
           RETURNS TABLE (i INT)
           RETURN SELECT explode(sequence(1, n)) AS i"""
    )
    # Outer round() sits ABOVE the aggregate subquery: inside the
    # aggregate projection the analyzer folds the literal scale into a
    # grouped alias and rejects it as non-foldable (Spark 4.1 analyzer
    # quirk with SQLFunctionNode in aggregates).  greatest(..., 1)
    # guards the Spark sequence(1, 0)-descends trap for short docs.
    return spark.sql(
        """
        SELECT doc_id, round(len_score(n_chars), 6) AS len_score,
               n_repeats, sum_i
        FROM (
          SELECT d.doc_id, d.n_chars,
                 CAST(COUNT(s.i) AS BIGINT) AS n_repeats,
                 CAST(SUM(s.i) AS BIGINT) AS sum_i
          FROM documents d
          JOIN LATERAL seqn(greatest(CAST(d.n_chars div 100 AS INT), 1)) s
          GROUP BY d.doc_id, d.n_chars
        )
        """
    )


register(
    "sql_udf_q",
    sql_udf_q,
    """
    SELECT d.doc_id,
           round(CASE WHEN CAST(d.n_chars AS DOUBLE) / 400.0 < 0
                        THEN CAST(0 AS DOUBLE)
                      WHEN CAST(d.n_chars AS DOUBLE) / 400.0 > 1
                        THEN CAST(1 AS DOUBLE)
                      ELSE CAST(d.n_chars AS DOUBLE) / 400.0 END, 6)
             AS len_score,
           CAST(COUNT(s.i) AS BIGINT) AS n_repeats,
           CAST(SUM(s.i) AS BIGINT) AS sum_i
    FROM documents d
    JOIN (SELECT doc_id,
                 unnest(range(1, greatest(n_chars // 100, 1) + 1)) AS i
          FROM documents) s ON s.doc_id = d.doc_id
    GROUP BY d.doc_id, d.n_chars
    """,
)


# ==========================================================================
# ann_pq_search — asymmetric-distance search over PQ codes
# ==========================================================================

PQ_QUERY_IDS = (100, 101, 102, 103)
PQ_TOPK = 5


def ann_pq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN search over the PQ-compressed index (asymmetric distance
    computation): the corpus exists ONLY as 8 codebook indices per
    vector — the query's exact subvectors are compared against the
    centroids those codes name, never against the original corpus
    floats.  This is the memory-bound regime of billion-scale ANN:
    RAM holds 8 bytes/vector, the scan is a table lookup per
    subspace, and recall is bounded by quantization error (measured
    against ann_bruteforce_topk in tests).

    Determinism: the 8 per-subspace distances are computed in fixed
    subspace order and added in fixed order (no group-by sum over
    floats anywhere), so both engines produce bit-identical doubles;
    ranking ties break on vec_id.  dist_micro = floor(d * 1e6) of an
    identical double is engine-safe.

    Plan: 4-query x corpus-codes broadcast cross join, all map-side
    expression; one window exchange for the per-query top-k.  At
    100 TB the codes relation is ~1000x smaller than the embeddings
    it replaces — the whole search reads no vector data.
    """
    from pyspark.sql.window import Window

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    codes = embed_pq_codes(spark, sf_dir)
    queries = emb.filter(F.col("vec_id").isin(*PQ_QUERY_IDS)).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv")
    )
    # codebook as a nested array literal (4 refs x 64 dims, bounded)
    refs = [
        [float(x) for x in r.v]
        for r in emb.filter(F.col("vec_id") < PQ_CODEBOOK_K)
        .orderBy("vec_id")
        .collect()
    ]
    ref_arr = F.array(*[F.array(*[F.lit(x) for x in rv]) for rv in refs])
    # per-subspace ADC term, added in FIXED j order (one expression,
    # no float aggregation across rows)
    terms = [
        f"""aggregate(sequence(0, {PQ_SUBDIM - 1}),
                      CAST(0.0 AS DOUBLE),
                      (acc, d) -> acc
                        + (element_at(qv, {PQ_SUBDIM * j} + d + 1)
                           - element_at(element_at(ref_arr, code{j} + 1),
                                        {PQ_SUBDIM * j} + d + 1))
                        * (element_at(qv, {PQ_SUBDIM * j} + d + 1)
                           - element_at(element_at(ref_arr, code{j} + 1),
                                        {PQ_SUBDIM * j} + d + 1)))"""
        for j in range(PQ_SUBSPACES)
    ]
    dist = F.expr(" + ".join(f"({t})" for t in terms))
    pairs = (
        F.broadcast(queries)
        .crossJoin(codes)
        .withColumn("ref_arr", ref_arr)
        .select("q_id", "vec_id", dist.alias("d"))
    )
    w = Window.partitionBy("q_id").orderBy("d", "vec_id")
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= PQ_TOPK)
        .select(
            "q_id",
            F.col("rank").cast("bigint").alias("rank"),
            "vec_id",
            F.floor(F.col("d") * 1e6).cast("bigint").alias("dist_micro"),
        )
    )


def _pq_search_oracle() -> str:
    qids = ", ".join(str(q) for q in PQ_QUERY_IDS)
    terms = [
        f"""(list_sum(list_transform(
               generate_series(0, {PQ_SUBDIM - 1}),
               d -> (qv[{PQ_SUBDIM * j} + d + 1]
                     - ra[code{j} + 1][{PQ_SUBDIM * j} + d + 1])
                  * (qv[{PQ_SUBDIM * j} + d + 1]
                     - ra[code{j} + 1][{PQ_SUBDIM * j} + d + 1]))))"""
        for j in range(PQ_SUBSPACES)
    ]
    dist = " + ".join(terms)
    return f"""
    WITH {_pq_codes_ctes()},
    refarr AS (SELECT list(rv ORDER BY c) AS ra FROM refs),
    q AS (SELECT vec_id AS q_id, v AS qv FROM emb WHERE vec_id IN ({qids})),
    pairs AS (
      SELECT q.q_id, c.vec_id, {dist} AS d
      FROM q CROSS JOIN codes c CROSS JOIN refarr),
    ranked AS (
      SELECT q_id, vec_id, d,
             row_number() OVER (PARTITION BY q_id ORDER BY d, vec_id) AS rank
      FROM pairs)
    SELECT q_id, CAST(rank AS BIGINT) AS rank, vec_id,
           CAST(floor(d * 1e6) AS BIGINT) AS dist_micro
    FROM ranked WHERE rank <= {PQ_TOPK}
    """


register("ann_pq_search", ann_pq_search, _pq_search_oracle())


# ==========================================================================
# dedup_incremental — new-vintage dedup against an existing corpus
# ==========================================================================

INCR_VINTAGE_MOD = 5  # hash % 5 == 0 -> "incoming" vintage (~20%)
INCR_MIN_AGREE = 4  # signature agreement floor (same as dedup_minhash_lsh)


def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dedup: an INCOMING vintage (hash-selected ~20%
    of documents — the deterministic stand-in for today's crawl) is
    checked against the EXISTING base corpus only, never against
    itself — the production shape for corpus updates, where the base
    side is a persisted signature/bucket index and the daily job's
    cost is proportional to the NEW data, not the corpus.

    Same MinHash machinery as dedup_minhash_lsh (16 hashes, 8 bands x
    2 rows), but candidates come from an incoming->base band-bucket
    equi-join instead of in-bucket pair expansion; verification keeps
    pairs with >= 4/16 signature agreement, reported as the INTEGER
    agreement count (no float ratio to diverge on).

    At 100 TB: the base bands/signatures are a bucketed table written
    once and appended per vintage; each increment shuffles only the
    incoming side's bands (one small equi-join against the index).
    """
    sig = _signatures(spark, sf_dir)
    incoming_flag = (
        _hash28(F.concat(F.lit("vin:"), F.col("doc_id").cast("string")))
        % INCR_VINTAGE_MOD
        == 0
    )
    bands = _minhash_bands(sig, incoming_flag.alias("incoming"))
    new_side = bands.filter(F.col("incoming")).select(
        F.col("doc_id").alias("new_doc"), "band", "bkey", F.col("sig").alias("nsig")
    )
    base_side = bands.filter(~F.col("incoming")).select(
        F.col("doc_id").alias("base_doc"), "band", "bkey", F.col("sig").alias("bsig")
    )
    agree = _sig_agree("nsig", "bsig").cast("bigint")
    return (
        new_side.join(base_side, ["band", "bkey"])
        .select("new_doc", "base_doc", agree.alias("agree"))
        .filter(F.col("agree") >= INCR_MIN_AGREE)
        .distinct()
    )


def _incremental_oracle() -> str:
    vin = _DK_HASH.format(c="concat('vin:', CAST(doc_id AS VARCHAR))")
    return f"""
    WITH {_DK_MINHASH_CTES},
    vin AS (SELECT doc_id,
                   CASE WHEN {vin} % {INCR_VINTAGE_MOD} = 0 THEN 1 ELSE 0 END
                     AS incoming
            FROM documents),
    cand AS (
      SELECT DISTINCT i.doc_id AS new_doc, b.doc_id AS base_doc
      FROM bands i
      JOIN vin vi ON i.doc_id = vi.doc_id AND vi.incoming = 1
      JOIN bands b ON i.band = b.band AND i.bkey = b.bkey
      JOIN vin vb ON b.doc_id = vb.doc_id AND vb.incoming = 0)
    SELECT new_doc, base_doc, CAST(({_DK_SIG_AGREE}) AS BIGINT) AS agree
    FROM cand
    JOIN sig sa ON new_doc = sa.doc_id
    JOIN sig sb ON base_doc = sb.doc_id
    WHERE ({_DK_SIG_AGREE}) >= {INCR_MIN_AGREE}
    """


register("dedup_incremental", dedup_incremental, _incremental_oracle())


# ==========================================================================
# corpus_stats_summary — the dataset-card panel
# ==========================================================================


def corpus_stats_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dataset card, as a query: per language — document count,
    token mass, byte mass (octet_length/strlen — real bytes), exact-duplicate count (docs whose text md5
    appears more than once), and integer-milli quality mass — the
    one-screen panel every corpus release ships with.  Composes the
    session-cached token-stats relation with the md5 keeper rule, so
    on a warm session the whole card costs two small aggregates; at
    100 TB each input is a manifest/feature table maintained
    incrementally and the card is a metadata query.

    All sums integer (tokens, bytes, quality millis): no float
    accumulation anywhere.
    """
    from .pipeline_surface import _quality_stats

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.md5("text").alias("h"),
        # octet_length, not length: length() counts CHARACTERS on both
        # engines, so labeling it byte mass is wrong for any multi-byte
        # text — and the oracle repeating the spelling hides it (the
        # char_ascii_q octet_length/strlen precedent; review finding r5)
        F.octet_length("text").alias("n_bytes"),
    )
    from pyspark.sql.window import Window

    dup = docs.withColumn(
        "n_copies", F.count(F.lit(1)).over(Window.partitionBy("h"))
    )
    stats = _quality_stats(spark, sf_dir)
    q = stats.select(
        "doc_id",
        "n_tok",
        # quality formula shared with text_quality_score — the exact
        # integer micro-unit rational (no float path; see
        # pipeline_surface._QMICRO_SPARK), floored to millis
        F.expr(f"({QMICRO_SPARK}) div 1000").cast("bigint").alias("q_milli"),
    )
    return (
        dup.join(q, "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("total_tokens"),
            F.sum("n_bytes").alias("total_bytes"),
            F.sum(F.when(F.col("n_copies") > 1, 1).otherwise(0)).alias(
                "n_exact_dup_docs"
            ),
            F.sum("q_milli").alias("quality_milli_sum"),
        )
    )


register(
    "corpus_stats_summary",
    corpus_stats_summary,
    f"""
    WITH d AS (
      SELECT doc_id, lang, md5(text) AS h, strlen(text) AS n_bytes
      FROM documents),
    dup AS (
      SELECT doc_id, lang, n_bytes,
             COUNT(*) OVER (PARTITION BY h) AS n_copies
      FROM d),
    tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
            FROM documents),
    stats AS (
      SELECT doc_id, COUNT(*) AS n_tok, COUNT(DISTINCT tok) AS n_uniq,
             SUM(length(tok)) AS sum_len,
             SUM(CASE WHEN tok IN ({_SW}) THEN 1 ELSE 0 END) AS n_stop
      FROM tok GROUP BY doc_id),
    q AS (
      SELECT doc_id, n_tok,
             CAST(({QMICRO_DUCK}) // 1000 AS BIGINT) AS q_milli
      FROM stats)
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
           CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
           CAST(SUM(CASE WHEN n_copies > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_exact_dup_docs,
           CAST(SUM(q_milli) AS BIGINT) AS quality_milli_sum
    FROM dup JOIN q USING (doc_id)
    GROUP BY lang
    """,
)


# ==========================================================================
# k_anonymity_check — quasi-identifier group-size audit
# ==========================================================================

K_ANON_THRESHOLD = 5


def k_anonymity_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit (Sweeney 2002): group the customer table by
    its quasi-identifier tuple (market segment, nation, account-balance
    decile) and report every group's size with a below-k flag — the
    release gate that catches rows re-identifiable by attribute
    combination even after direct identifiers are scrubbed (the
    governance sibling of pii_redact, which only handles direct
    identifiers).

    The decile uses width_bucket over a FIXED literal range; DuckDB
    has no width_bucket, so the oracle spells the identical floor
    formula (the width_bucket_q precedent — bucket edges land on
    exactly representable 2-dp doubles, so the two spellings agree).
    One group-cardinality aggregate.
    """
    cust = load_table(spark, sf_dir, "customer")
    qi = cust.select(
        "c_mktsegment",
        F.col("c_nationkey").alias("nation"),
        F.expr("width_bucket(c_acctbal, -1000.0, 10000.0, 10)").alias(
            "bal_decile"
        ),
    )
    return (
        qi.groupBy("c_mktsegment", "nation", "bal_decile")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "c_mktsegment",
            "nation",
            F.col("bal_decile").cast("bigint").alias("bal_decile"),
            "n",
            (F.col("n") >= K_ANON_THRESHOLD).alias("k_anonymous"),
        )
    )


register(
    "k_anonymity_check",
    k_anonymity_check,
    f"""
    WITH qi AS (
      SELECT c_mktsegment, CAST(c_nationkey AS INT) AS nation,
             CASE WHEN c_acctbal < -1000.0 THEN 0
                  WHEN c_acctbal >= 10000.0 THEN 11
                  ELSE CAST(floor((c_acctbal + 1000.0) / 1100.0) AS BIGINT) + 1
                  END AS bal_decile
      FROM customer)
    SELECT c_mktsegment, nation, bal_decile,
           CAST(COUNT(*) AS BIGINT) AS n,
           COUNT(*) >= {K_ANON_THRESHOLD} AS k_anonymous
    FROM qi
    GROUP BY c_mktsegment, nation, bal_decile
    """,
)


# ==========================================================================
# bpe_apply_merge (round 5, batch 3)
# ==========================================================================
#
# The tokenizer-training step AFTER ``bpe_pair_counts``: pick the most
# frequent adjacent token pair and APPLY the merge to every document's
# token stream.  The selected pair is constrained to a != b, which makes
# the greedy left-to-right merge POSITION-PARALLEL: for a != b two
# matches can never overlap (a match at i needs tok[i]=a, a match at
# i-1 forces tok[i]=b), so every occurrence merges simultaneously —
# no sequential fold, no per-document recursion, zero extra shuffle.
# (Self-pairs a = b DO need run-length tie-breaking; real BPE trainers
# hit that rarely and handle it in the run domain — out of scope for
# the single-merge step exhibited here.)

BPE_MERGE_SEP = "_"  # merged token spelling: a || '_' || b


def bpe_apply_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One BPE merge round over ``documents``: find the globally most
    frequent adjacent pair (a != b; ties broken lexicographically),
    replace every occurrence in every token stream, and report per-doc
    before/after token counts plus a 28-bit fingerprint of the merged
    stream (the value check that the merge was applied exactly).

    Scale: pair counting is explode + groupBy (map-side combinable);
    the 1-row winner broadcasts to a per-document ``transform`` +
    ``filter`` evaluated entirely inside the array domain — the merge
    itself adds NO shuffle at any corpus size.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("t")
    )
    pair = F.expr(
        "filter(transform(t, (x, i) -> IF(i < size(t) - 1,"
        " struct(x AS a, element_at(t, i + 2) AS b), NULL)),"
        " p -> p IS NOT NULL)"
    )
    top = (
        docs.select(F.explode(pair).alias("p"))
        .select("p.a", "p.b")
        .filter(F.col("a") != F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("a"), F.asc("b"))
        .limit(1)
    )
    merged = F.expr(
        f"""filter(transform(t, (x, i) -> CASE
            WHEN x = a AND i < size(t) - 1 AND element_at(t, i + 2) = b
              THEN concat(a, '{BPE_MERGE_SEP}', b)
            WHEN i > 0 AND element_at(t, i) = a AND x = b THEN NULL
            ELSE x END), y -> y IS NOT NULL)"""
    )
    return (
        docs.join(F.broadcast(top))
        .select(
            "doc_id",
            F.size("t").alias("n_before"),
            merged.alias("m"),
        )
        .select(
            "doc_id",
            "n_before",
            F.size("m").alias("n_after"),
            (F.col("n_before") - F.size("m")).alias("n_merges"),
            _hash28(F.array_join("m", " ")).alias("fp"),
        )
        .orderBy("doc_id")
    )


register(
    "bpe_apply_merge",
    bpe_apply_merge,
    f"""
    WITH docs AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    pairs AS (
      SELECT t[i] AS a, t[i + 1] AS b
      FROM docs, unnest(range(1, len(t))) AS u(i)
      WHERE t[i] <> t[i + 1]),
    top AS (
      SELECT a, b FROM (
        SELECT a, b, COUNT(*) AS cnt FROM pairs GROUP BY a, b)
      ORDER BY cnt DESC, a ASC, b ASC LIMIT 1),
    m AS (
      SELECT doc_id, CAST(len(t) AS BIGINT) AS n_before,
             list_filter(
               list_transform(t, (x, i) -> CASE
                 WHEN x = a AND i < len(t) AND t[i + 1] = b
                   THEN a || '{BPE_MERGE_SEP}' || b
                 WHEN i > 1 AND t[i - 1] = a AND x = b THEN NULL
                 ELSE x END),
               y -> y IS NOT NULL) AS m
      FROM docs CROSS JOIN top)
    SELECT doc_id, n_before, CAST(len(m) AS BIGINT) AS n_after,
           CAST(n_before - len(m) AS BIGINT) AS n_merges,
           {_DK_HASH.format(c="array_to_string(m, ' ')")} AS fp
    FROM m ORDER BY doc_id
    """,
)


# ==========================================================================
# sample_importance (round 5, batch 3)
# ==========================================================================
#
# Quality-weighted deterministic rejection sampling: every document is
# kept with probability proportional to an exact integer quality score,
# decided by a content-independent hash — the per-row-weighted
# counterpart of ``corpus_mixture_sample``'s fixed per-source rates.

IMP_SCALE = 1000  # quality granularity: acceptance threshold in millis


def sample_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance sampling of ``documents`` by lexical uniqueness:
    quality q_millis = floor(1000 * distinct_tokens / tokens) and the
    doc is kept iff ``hash28(doc_id) % 1000 < q_millis`` — i.e. with
    probability q_millis/1000, decided deterministically per row, so
    the sample is reproducible across runs/engines and needs NO global
    coordination.

    Scale: both the quality score (array ops on the split column) and
    the acceptance test are pure map-side expressions — a zero-shuffle
    corpus pass regardless of size, the property that makes hash-gated
    sampling THE way to downsample 100 TB (vs. rand(), which is
    neither reproducible nor partition-stable).
    """
    docs = load_table(spark, sf_dir, "documents")
    t = F.split("text", " ")
    q = F.expr(
        f"CAST(size(array_distinct(split(text, ' '))) * {IMP_SCALE} AS BIGINT)"
        " div size(split(text, ' '))"
    )
    keep = _hash28(F.col("doc_id").cast("string")) % IMP_SCALE < F.col(
        "q_millis"
    )
    return (
        docs.select(
            "doc_id",
            F.size(t).alias("n_tok"),
            q.alias("q_millis"),
        )
        .filter(keep)
        .orderBy("doc_id")
    )


register(
    "sample_importance",
    sample_importance,
    f"""
    WITH q AS (
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
             CAST(len(list_distinct(string_split(text, ' '))) * {IMP_SCALE}
                  AS BIGINT) // CAST(len(string_split(text, ' ')) AS BIGINT)
               AS q_millis
      FROM documents)
    SELECT doc_id, n_tok, q_millis
    FROM q
    WHERE {_DK_HASH.format(c="CAST(doc_id AS STRING)")} % {IMP_SCALE} < q_millis
    ORDER BY doc_id
    """,
)


# ==========================================================================
# kcenter_diversity_select (round 12)
# ==========================================================================

_KCEN_K = 8  # centers selected; fixed unroll shared by builder + oracle
_KCEN_Q = 1000  # element quantizer: q = floor(x * 1000 + 0.5)

_KCEN_D2_SPARK = (
    "aggregate(zip_with(q, {c}, (a, b) -> (a - b) * (a - b)),"
    " cast(0 as bigint), (acc, x) -> acc + x)"
)


def _kcen_qvec_expr() -> object:
    """Engine-identical integer quantization of the float32 embedding:
    widen to double (exact), scale, floor(x+0.5) — after this EVERY
    distance is exact bigint arithmetic (the house quantize-before-
    reduction rule), so no float summation order can diverge."""
    return F.expr(
        f"transform(embedding, x -> cast(floor(cast(x as double)"
        f" * {_KCEN_Q} + 0.5) as bigint))"
    )


def _kcen_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, q): the quantized embedding table."""
    return load_table(spark, sf_dir, "embeddings").select(
        "vec_id", _kcen_qvec_expr().alias("q")
    )


def _kcen_d2(center_q) -> object:
    """Exact squared L2 distance from ``q`` to one center, the center's
    integer vector inlined as an array literal (a map-side expression,
    no join)."""
    vec = "array(" + ",".join(f"{int(x)}L" for x in center_q) + ")"
    return F.expr(_KCEN_D2_SPARK.format(c=vec))


def _kcen_state(emb: DataFrame, seed_q) -> DataFrame:
    """(vec_id, q, mind): every point's distance to the seed center."""
    return emb.withColumn("mind", _kcen_d2(seed_q))


def _kcen_farthest(state: DataFrame) -> DataFrame:
    """The round's pick: largest min-distance, ties to the lowest
    vec_id — one TakeOrdered(1)."""
    return state.orderBy(F.desc("mind"), F.asc("vec_id")).limit(1)


def kcenter_diversity_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Farthest-first traversal (greedy k-center) over the embedding
    table — DIVERSITY-driven coreset selection, the submodular
    data-selection class the sampling family lacks (``sample_*`` draw
    by hash/weight/stratum; nothing selects points to COVER the
    embedding space).  Gonzalez's 2-approximation: seed with the
    lowest vec_id, then {K}-1 times pick the point whose squared L2
    distance to its NEAREST chosen center is LARGEST (tiebreak lowest
    vec_id) — the classic curriculum/coreset primitive for training-
    data diversity.

    Exactness: vector elements quantize to integers (x -> floor(
    x*{Q}+0.5), exact after the float32->double widening) so every
    distance is exact BIGINT arithmetic — argmax can never flip on
    float summation order.  The driver loop collects ONE row per round
    (the selected center — the bounded-collect class of the kmeans/
    gstream M-step); the per-point min-distance update is a map-side
    expression against the new center's 64-int literal, re-min'd as a
    ``least()`` layer over the ONE checkpointed (vec_id, q, mind) base
    (r13-opt: per-round localCheckpoints paid {K}-1 extra jobs to seal
    a lineage that is a pure map-side filter chain anyway — the WSP/
    kcore rule targets per-round SHUFFLES, which this loop never has).

    Scale: each round is one scan of the checkpointed (vec_id, q,
    mind) relation + one TakeOrdered(1) — no shuffle beyond the top-1
    reduce; at 1B vectors each round is one distributed pass, the
    textbook distributed k-center.
    """
    emb = _kcen_points(spark, sf_dir)
    seed = emb.orderBy("vec_id").limit(1).collect()[0]  # bounded: 1 row
    picks = [(1, int(seed.vec_id), 0)]
    state = _kcen_state(emb, seed.q).localCheckpoint(eager=True)
    for r in range(2, _KCEN_K + 1):
        top = _kcen_farthest(state).collect()[0]  # bounded: 1 row per round
        picks.append((r, int(top.vec_id), int(top.mind)))
        state = state.withColumn("mind", F.least("mind", _kcen_d2(top.q)))
    return spark.createDataFrame(
        picks, "sel_round bigint, vec_id bigint, maxmin_d2q bigint"
    )


kcenter_diversity_select.__doc__ = kcenter_diversity_select.__doc__.format(
    K=_KCEN_K, Q=_KCEN_Q
)


def _kcen_oracle() -> str:
    d2 = (
        "CAST(list_sum(list_transform(list_zip({a}, {b}),"
        " p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT)"
    )
    steps = []
    prev = "m1"
    sel = [
        "SELECT 1 AS sel_round, vec_id, CAST(0 AS BIGINT) AS maxmin_d2q FROM c1"
    ]
    for r in range(2, _KCEN_K + 1):
        steps.append(
            f"""p{r} AS MATERIALIZED (
      SELECT vec_id, q, mind FROM {prev}
      ORDER BY mind DESC, vec_id ASC LIMIT 1),
    m{r} AS MATERIALIZED (
      SELECT m.vec_id, m.q,
             LEAST(m.mind, {d2.format(a='m.q', b='p.q')}) AS mind
      FROM {prev} m, p{r} p)"""
        )
        sel.append(
            f"SELECT {r} AS sel_round, vec_id, CAST(mind AS BIGINT)"
            f" AS maxmin_d2q FROM p{r}"
        )
        prev = f"m{r}"
    steps_sql = ",\n    ".join(steps)
    sel_sql = "\n    UNION ALL\n    ".join(sel)
    return f"""
    WITH e AS MATERIALIZED (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)
               * {_KCEN_Q} + 0.5) AS BIGINT)) AS q
      FROM embeddings),
    c1 AS MATERIALIZED (SELECT vec_id, q FROM e ORDER BY vec_id LIMIT 1),
    m1 AS MATERIALIZED (
      SELECT e.vec_id, e.q, {d2.format(a='e.q', b='c.q')} AS mind
      FROM e, c1 c),
    {steps_sql}
    {sel_sql}
    """


register("kcenter_diversity_select", kcenter_diversity_select, _kcen_oracle())


# ==========================================================================
# greedy_set_cover (round 12)
# ==========================================================================

_GSC_K = 6  # greedy rounds; fixed unroll shared by builder + oracle


def _gsc_doc_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (doc_id, word-bigram) relation — the coverage universe.
    Plain whitespace tokens are DEGENERATE on this corpus (31 distinct
    tokens; one document covers all of them in round 1 — the r12
    probe's rejected variant); bigrams give a ~920-term universe with
    strictly positive, strictly decreasing greedy gains through 8
    rounds at every committed sf."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = F.expr(
        "zip_with(slice(split(text, ' '), 1, greatest(size(split(text, ' ')) - 1, 0)),"
        " slice(split(text, ' '), 2, greatest(size(split(text, ' ')) - 1, 0)),"
        " (a, b) -> struct(a AS a, b AS b))"
    )
    return (
        docs.select("doc_id", F.explode(pairs).alias("p"))
        .filter("p.a <> '' AND p.b <> ''")
        .select("doc_id", F.concat_ws("_", "p.a", "p.b").alias("tok"))
        .distinct()
    )


def _gsc_best(state: DataFrame) -> DataFrame:
    """The round's pick: the document covering the most still-uncovered
    bigrams, ties to the lowest doc_id — one count aggregate +
    TakeOrdered(1)."""
    return (
        state.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("gain"))
        .orderBy(F.desc("gain"), F.asc("doc_id"))
        .limit(1)
    )


def greedy_set_cover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy maximum-coverage document selection: {K} rounds, each
    picking the document whose bigram set covers the MOST still-
    uncovered terms (tiebreak lowest doc_id) — the submodular
    coverage-driven data-selection class (the ln(n)-approximation
    greedy of Nemhauser et al.), the vocabulary-coverage counterpart
    to ``kcenter_diversity_select``'s geometric diversity.  A training
    pipeline uses exactly this to pick a compact seed corpus that
    still exercises the vocabulary.

    Execution: the distinct (doc_id, bigram) relation is checkpointed
    ONCE; each round is one (doc_id)-keyed count aggregate +
    TakeOrdered(1) (the selected doc collects to the driver — 1
    bounded row, the k-center precedent), then the pick's OWN bigrams
    collect (bounded by one document's length — the kcenter
    center-vector-literal precedent) and the uncovered state is a
    MAP-SIDE literal NOT-IN filter over the sealed base — no per-round
    shuffle, broadcast or checkpoint (r13-opt: the former per-round
    broadcast anti-join + localCheckpoint paid 2 extra jobs per round
    for relief the <= {K}-layer filter chain over a checkpointed base
    never needs; lineage stays bounded because the base is sealed and
    each layer is a filter).  Gains are exact integers; the oracle
    unrolls the same {K} rounds with MATERIALIZED remaining-relations
    and computes the running coverage with a window over the {K}-row
    pick list.
    """
    state = _gsc_doc_bigrams(spark, sf_dir).localCheckpoint(eager=True)
    picks = []
    total = 0
    for r in range(1, _GSC_K + 1):
        top = _gsc_best(state).collect()[0]  # bounded: 1 row per round
        total += int(top.gain)
        picks.append((r, int(top.doc_id), int(top.gain), total))
        ptoks = [
            row.tok
            for row in state.filter(F.col("doc_id") == top.doc_id)
            .select("tok")
            .collect()
        ]  # bounded: one document's distinct bigrams
        state = state.filter(~F.col("tok").isin(ptoks))
    return spark.createDataFrame(
        picks,
        "sel_round bigint, doc_id bigint, gain bigint, covered_total bigint",
    )


greedy_set_cover.__doc__ = greedy_set_cover.__doc__.format(K=_GSC_K)


def _gsc_oracle() -> str:
    steps = []
    sel = []
    prev = "rem1"
    for r in range(1, _GSC_K + 1):
        steps.append(
            f"""p{r} AS MATERIALIZED (
      SELECT doc_id, COUNT(*) AS gain FROM {prev}
      GROUP BY doc_id ORDER BY gain DESC, doc_id ASC LIMIT 1),
    rem{r + 1} AS MATERIALIZED (
      SELECT x.doc_id, x.tok FROM {prev} x
      ANTI JOIN (SELECT d.tok FROM {prev} d JOIN p{r} ON d.doc_id = p{r}.doc_id)
        c ON x.tok = c.tok)"""
        )
        sel.append(f"SELECT {r} AS sel_round, doc_id, gain FROM p{r}")
        prev = f"rem{r + 1}"
    steps_sql = ",\n    ".join(steps)
    sel_sql = "\n      UNION ALL\n      ".join(sel)
    return f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    rem1 AS MATERIALIZED (
      SELECT DISTINCT doc_id, ws[i] || '_' || ws[i+1] AS tok
      FROM t, unnest(generate_series(1, len(ws) - 1)) AS g(i)
      WHERE ws[i] <> '' AND ws[i+1] <> ''),
    {steps_sql},
    picks AS (
      {sel_sql})
    SELECT CAST(sel_round AS BIGINT) AS sel_round,
           CAST(doc_id AS BIGINT) AS doc_id,
           CAST(gain AS BIGINT) AS gain,
           CAST(SUM(gain) OVER (ORDER BY sel_round) AS BIGINT) AS covered_total
    FROM picks
    """


register("greedy_set_cover", greedy_set_cover, _gsc_oracle())


def kcenter_iteration_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plan proxy: quantized scan + one min-distance update + the
    round's TakeOrdered(1); a zero vector stands in for the center the
    key collects."""
    return _kcen_farthest(_kcen_state(_kcen_points(spark, sf_dir), [0] * 64))


def gsc_iteration_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plan proxy: bigram derivation + one greedy round."""
    return _gsc_best(_gsc_doc_bigrams(spark, sf_dir))


register_plan_proxy("kcenter_diversity_select", kcenter_iteration_plan)
register_plan_proxy("greedy_set_cover", gsc_iteration_plan)


# ==========================================================================
# gram_matrix_embeddings (round 12)
# ==========================================================================

_GRAM_DIM = 64  # embedding dimensionality (all committed fixtures)


def gram_matrix_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Gram matrix X^T X over the embedding table (upper
    triangle, 1-based (i, j) with j >= i) — the covariance/PCA
    building block the vector family lacks: every batch-level
    whitening, PCA, or linear-probe fit over a 100 TB embedding store
    starts with exactly this one-pass reduction.

    Exactness: elements quantize to integers (floor(x*1000 + 0.5)
    after the exact float32->double widening, the
    ``kcenter_diversity_select`` rule), so partial Gram blocks are
    exact int64 and the final per-(i,j) SUM is order-independent —
    bit-identical to the oracle's pairwise expansion.

    Scale shape: an Arrow-batched ``mapInPandas`` computes each
    batch's 64x64 block as ONE numpy int64 matmul (Q.T @ Q — BLAS,
    never a Python loop) and emits the 2080 upper-triangle partials;
    the only shuffle carries #partitions x 2080 tiny rows into the
    final (i, j) hash aggregate.  At 1B vectors this is the textbook
    map-side-combine outer-product reduction: compute scales with
    rows, the shuffle is CONSTANT in the row count.  Overflow margin:
    |q| <= ~580, so a partial needs rows x 3.4e5 — int64 holds to
    ~2.7e13 rows per partition.
    """
    import pandas as pd

    emb = load_table(spark, sf_dir, "embeddings").select("embedding")
    dim = _GRAM_DIM

    def blocks(it):
        import numpy as np

        ii, jj = np.triu_indices(dim)
        for pdf in it:
            if pdf.empty:
                continue
            vecs = pdf["embedding"].to_numpy()
            # ADVICE r12: fail with a readable message at the first
            # batch on NULL embeddings or a dim != _GRAM_DIM fixture,
            # instead of an opaque IndexError deep in the executor.
            if any(v is None for v in vecs):
                raise ValueError(
                    "gram_matrix_embeddings: NULL embedding in batch"
                )
            x = np.stack(vecs).astype(np.float64)
            if x.ndim != 2 or x.shape[1] != dim:
                raise ValueError(
                    f"gram_matrix_embeddings: embedding dim "
                    f"{x.shape[1] if x.ndim == 2 else x.shape} != "
                    f"expected {dim} (_GRAM_DIM); update _GRAM_DIM for "
                    "this fixture"
                )
            q = np.floor(x * 1000 + 0.5).astype(np.int64)
            g = q.T @ q
            yield pd.DataFrame(
                {"i": ii + 1, "j": jj + 1, "g": g[ii, jj]}
            ).astype({"i": "int64", "j": "int64", "g": "int64"})

    partials = emb.mapInPandas(blocks, "i long, j long, g long")
    return partials.groupBy("i", "j").agg(
        F.sum("g").cast("bigint").alias("gram_q")
    )


register(
    "gram_matrix_embeddings",
    gram_matrix_embeddings,
    f"""
    WITH e AS MATERIALIZED (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)
               * 1000 + 0.5) AS BIGINT)) AS q
      FROM embeddings),
    xi AS MATERIALIZED (
      SELECT vec_id, i, q[i] AS v
      FROM e, unnest(generate_series(1, {_GRAM_DIM})) AS g(i))
    SELECT CAST(a.i AS BIGINT) AS i, CAST(b.i AS BIGINT) AS j,
           CAST(SUM(a.v * b.v) AS BIGINT) AS gram_q
    FROM xi a JOIN xi b ON a.vec_id = b.vec_id AND b.i >= a.i
    GROUP BY 1, 2
    """,
)
