"""House cross-engine determinism idioms, shared by the surface modules.

Surface modules import these names from here, never from another
surface module: every surface module imports ``registry``, and registry
imports every surface module, so any DIRECT cross-surface value import
must come from a leaf module like this one.

Also the one banded-LSH primitive (MinHash banding, bucket caps and
in-bucket pair scoring), in Spark and as DuckDB oracle text.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..sources.tables import load_table
from ._session_cache import session_cached
from ._text import _DK_SHINGLES, _shingles

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


# The shingle-explode + md5 + 16-min pipeline feeds SIX keys: three read
# it directly (dedup_minhash_lsh, dedup_minhash_lsh_capped,
# dedup_incremental) and three through them (dedup_connected_components,
# dedup_keep_best, pipeline_pretrain_e2e) — the shared_tf lesson
# (_text.py): persist ONCE per session, never per call.
@session_cached
def _signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    # No distinct on shingles: MIN is duplicate-insensitive, so deduping
    # first would only add a full shuffle of the exploded shingle rows.
    # The md5 is hoisted into a pre-aggregate projection — inside the
    # agg each of the 16 min() expressions would recompute it per row.
    sh = _shingles(spark, sf_dir).select("doc_id", _hash28(F.col("sh")).alias("h"))
    aggs = [
        F.min((F.lit(a) * F.col("h") + F.lit(b)) % P_MINHASH).alias(f"m{i}")
        for i, (a, b) in enumerate(MINHASH_AB)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


# --- banded LSH: banding, bucket caps, in-bucket pairs ----------------------
# Written once here for every banded key: the MinHash keys (above) and,
# through _cap_buckets / _dk_capped, the SimHash byte bands
# (dedup_simhash_hamming) and the hyperplane tables (ann_lsh_*).


def _minhash_bands(sig: DataFrame, *extra) -> DataFrame:
    """(doc_id, *extra, sig, band, bkey): one row per (doc, band) in one
    pass over the signatures — band keys via posexplode (no 8-way union
    re-running the signature aggregate per branch), the signature
    carried along as an array so candidate pairs never join back."""
    band_keys = F.array(
        *[
            F.concat_ws(
                ",", *[f"m{b * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND)]
            )
            for b in range(N_BANDS)
        ]
    )
    sig_arr = F.array(*[f"m{i}" for i in range(NUM_HASHES)])
    return sig.select(
        "doc_id", *extra, sig_arr.alias("sig"), F.posexplode(band_keys).alias("band", "bkey")
    )


def _cap_buckets(df: DataFrame, keys: list[str], order: str, cap: int) -> DataFrame:
    """The skew guard: keep at most ``cap`` members per bucket (the
    ``keys`` columns), deterministically the lowest ``order`` values, so
    a boilerplate bucket bounds in-bucket pair expansion at cap^2."""
    w = Window.partitionBy(*keys).orderBy(order)
    return df.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= cap)


def _sig_agree(a, b) -> F.Column:
    """Number of positions at which two signature arrays agree."""
    return F.size(F.filter(F.zip_with(a, b, lambda x, y: x == y), lambda v: v))


def _minhash_pairs(bands: DataFrame) -> DataFrame:
    """(doc_a, doc_b, est_jaccard) for doc_a < doc_b sharing a band
    bucket with signature agreement >= 4/16.

    Pairs are expanded WITHIN each bucket via collect_list, so the
    signature pipeline runs once (a self-join would compute it for both
    sides).  Buckets are tiny unless docs truly collide, so the
    expansion is the standard O(sum bucket^2) LSH cost, never O(n^2).
    """
    buckets = (
        bands.groupBy("band", "bkey")
        .agg(F.sort_array(F.collect_list(F.struct("doc_id", "sig"))).alias("ms"))
        .filter(F.size("ms") >= 2)
    )
    ms = F.col("ms")
    pairs = F.flatten(
        F.transform(
            ms,
            lambda x, i: F.transform(
                F.slice(ms, i + 2, F.size(ms)), lambda y: F.struct(x.alias("a"), y.alias("b"))
            ),
        )
    )
    p = F.col("p")
    return (
        buckets.select(F.explode(pairs).alias("p"))
        .select(
            p["a"]["doc_id"].alias("doc_a"),
            p["b"]["doc_id"].alias("doc_b"),
            (_sig_agree(p["a"]["sig"], p["b"]["sig"]) / F.lit(float(NUM_HASHES))).alias(
                "est_jaccard"
            ),
        )
        .filter(F.col("est_jaccard") >= 4.0 / NUM_HASHES)
        .distinct()
    )


# DuckDB: the ``sh -> sig -> bands`` CTE chain (one UNION ALL branch per
# band), the agreement sum of two ``sig`` rows aliased ``sa`` / ``sb``,
# and the scored in-bucket pairs over a ``bands``-shaped CTE.
_DK_MINHASH_MINS = ",\n           ".join(
    f"MIN(({a} * {_DK_HASH.format(c='sh')} + {b}) % {P_MINHASH}) AS m{i}"
    for i, (a, b) in enumerate(MINHASH_AB)
)
_DK_MINHASH_CTES = f"""sh AS (SELECT DISTINCT doc_id, sh FROM ({_DK_SHINGLES})),
    sig AS (SELECT doc_id, {_DK_MINHASH_MINS} FROM sh GROUP BY doc_id),
    bands AS (
""" + "\n      UNION ALL\n".join(
    f"      SELECT doc_id, {b} AS band, "
    f"concat_ws(',', m{b * ROWS_PER_BAND}, m{b * ROWS_PER_BAND + 1}) AS bkey FROM sig"
    for b in range(N_BANDS)
) + ")"
_DK_SIG_AGREE = " + ".join(
    f"CASE WHEN sa.m{i} = sb.m{i} THEN 1 ELSE 0 END" for i in range(NUM_HASHES)
)


def _dk_minhash_scored(bands: str) -> str:
    """``pairs`` and ``scored`` (doc_a, doc_b, est_jaccard >= 4/16) CTEs
    over the CTE named ``bands`` (the ``bands`` CTE itself, or its
    ``capped`` subset)."""
    return f"""pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM {bands} a JOIN {bands} b ON a.band = b.band AND a.bkey = b.bkey
      WHERE a.doc_id < b.doc_id),
    scored AS (
      SELECT doc_a, doc_b, ({_DK_SIG_AGREE}) / {float(NUM_HASHES)} AS est_jaccard
      FROM pairs JOIN sig sa ON doc_a = sa.doc_id JOIN sig sb ON doc_b = sb.doc_id
      WHERE ({_DK_SIG_AGREE}) / {float(NUM_HASHES)} >= {4.0 / NUM_HASHES})"""


def _dk_capped(src: str, cols: str, keys: str, order: str, cap: int) -> str:
    """``capped`` CTE: the DuckDB twin of ``_cap_buckets`` over ``src``."""
    return f"""capped AS (
      SELECT {cols} FROM (
        SELECT {cols},
               row_number() OVER (PARTITION BY {keys} ORDER BY {order}) AS rk
        FROM {src}) WHERE rk <= {cap})"""
