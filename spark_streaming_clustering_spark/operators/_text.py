"""Shared text-shingling helpers used by pipeline_surface and
analytics_surface (kept import-cycle-free: depends only on sources).

``_shingles`` / ``_DK_SHINGLES`` are the single definition of the
3-token shingle relation both the Spark builders and the DuckDB
oracles are written against.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table
from ._session_cache import session_cached

_DK_SHINGLES = """
  SELECT doc_id, unnest(generate_series(1, greatest(len(t) - 2, 0))) AS pos,
         unnest(list_transform(generate_series(1, greatest(len(t) - 2, 0)),
                i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh
  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
"""


@session_cached
def shared_tf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, term, tf) term frequencies over ``documents``, shared by
    every consumer (tf_idf_topk, bm25_topk): tf feeds both the df
    re-aggregate and the join-back in each query, and the two queries
    are usually run in the same session, so a per-call ``persist()``
    double-caches an identical subtree and leaks one relation per
    invocation into executor storage.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(F.regexp_extract_all("text", F.lit("[a-z]+"), 0)).alias("term"),
    )
    return toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))


def _shingles(spark: SparkSession, sf_dir: str, k: int = 3) -> DataFrame:
    """(doc_id, pos, sh): k-token shingles with 1-based position."""
    docs = load_table(spark, sf_dir, "documents")
    # Materialize the token array as a bound column first: referencing
    # F.split(...) inside the lambda would re-split the text for every
    # shingle element (3 evaluations x ~tokens elements = O(tokens^2)).
    toks = docs.select("doc_id", F.split("text", " ").alias("t"))
    t = F.col("t")
    # Guard docs shorter than k tokens: sequence(1, 0) is DESCENDING in
    # Spark ([1, 0]), so the unguarded form both emits spurious shingles
    # and throws INVALID_ARRAY_INDEX under ANSI mode on t[i + 1].  The
    # DuckDB oracle's generate_series(1, 0) is empty, matching the
    # .otherwise(empty) branch here.
    idx = F.when(
        F.size(t) >= k, F.sequence(F.lit(1), F.size(t) - (k - 1))
    ).otherwise(F.array().cast("array<int>"))
    sh = F.transform(idx, lambda i: F.concat_ws(" ", t[i - 1], t[i], t[i + 1]))
    return toks.select("doc_id", F.posexplode(sh).alias("pos0", "sh")).select(
        "doc_id", (F.col("pos0") + 1).alias("pos"), "sh"
    )


# Exact INTEGER document-quality score in micro-units, shared by every
# scoring key (text_quality_score, dedup_keep_best,
# pipeline_clean_corpus, pipeline_pretrain_e2e, corpus_stats_summary).
# quality = 0.4*uniq/tok + 0.3*(1 - stop/tok) + 0.3*min(len/tok/10, 1)
# re-expressed as floor-division rationals over the integer token
# stats, so NO float path exists anywhere: the r6 second-scale vintage
# (sf0.1) caught Spark's BigDecimal-exact HALF_UP round() and DuckDB's
# multiply-based round() disagreeing by 1 micro on a tie — the same
# double, two engines, two last digits.  Integer rationals cannot tie.
# Per-engine text differs only in the floor-division spelling (Spark
# `div`, DuckDB `//`).  Lives in this LEAF module so corpus_surface can
# import it at top level (surface->surface imports break under the
# registry's import order — house discipline).
QMICRO_SPARK = (
    "((400000*n_uniq + 300000*(n_tok - n_stop)) div n_tok"
    " + least((30000*sum_len) div n_tok, 300000))"
)
QMICRO_DUCK = (
    "((400000*n_uniq + 300000*(n_tok - n_stop)) // n_tok"
    " + least((30000*sum_len) // n_tok, 300000))"
)
# the >= 0.5 quality gate in integer micro-units
Q_GATE_MICRO = 500_000
