"""House cross-engine determinism idioms, shared by the surface modules.

Extracted from pipeline_surface (which re-exports them for backward
compatibility) so that surface modules can import them without pulling
the whole pipeline module into a registry import cycle: every surface
module imports ``registry``, and registry imports every surface module,
so any DIRECT cross-surface value import must come from a leaf module
like this one.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table
from ._session_cache import session_cached

STOPWORDS = ("the", "a", "of", "to", "and", "in")

_SW = ", ".join(f"'{w}'" for w in STOPWORDS)


def _hash28(col) -> F.Column:
    """28-bit cross-engine string hash: first 7 hex chars of md5."""
    return F.conv(F.substring(F.md5(col), 1, 7), 16, 10).cast("bigint")


def _tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("tok")
    )


# --- shared DuckDB fragments ----------------------------------------------
_DK_HASH = "CAST(('0x' || substr(md5({c}), 1, 7)) AS BIGINT)"
_DK_DVEC = "list_transform(embedding, x -> CAST(x AS DOUBLE))"
_DK_DOT = "list_sum(list_transform(list_zip({a}, {b}), p -> p[1]*p[2]))"
_DK_NORM = "sqrt(list_sum(list_transform({a}, x -> x*x)))"

# --- MinHash machinery (deterministic constants + signature relation) -----
P_MINHASH = 268_435_399  # prime < 2^28; token hashes are 28-bit so a*h < 2^56


def _lcg(seed: int):
    x = seed
    while True:
        x = (1_103_515_245 * x + 12_345) % 2_147_483_648
        yield x


_g = _lcg(7)
NUM_HASHES = 16
MINHASH_AB = [
    (1 + next(_g) % (P_MINHASH - 1), next(_g) % P_MINHASH)
    for _ in range(NUM_HASHES)
]
N_BANDS, ROWS_PER_BAND = 8, 2  # 8 bands x 2 rows over the 16-component signature


# The shingle-explode + md5 + 16-min pipeline feeds SEVEN keys
# (minhash-lsh, -capped, incremental, connected-components, keep-best,
# pretrain-e2e funnel, plus in-key reuse) — the shared_tf lesson
# (_text.py): persist ONCE per session, never per call.
@session_cached
def _signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    # No distinct on shingles: MIN is duplicate-insensitive, so deduping
    # first would only add a full shuffle of the exploded shingle rows.
    # The md5 is hoisted into a pre-aggregate projection — inside the
    # agg each of the 16 min() expressions would recompute it per row.
    from ._text import _shingles

    sh = _shingles(spark, sf_dir).select("doc_id", _hash28(F.col("sh")).alias("h"))
    aggs = [
        F.min((F.lit(a) * F.col("h") + F.lit(b)) % P_MINHASH).alias(f"m{i}")
        for i, (a, b) in enumerate(MINHASH_AB)
    ]
    return sh.groupBy("doc_id").agg(*aggs)
