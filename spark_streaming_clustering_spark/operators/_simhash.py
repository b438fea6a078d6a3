"""SimHash signature builder + oracle SQL (leaf module, no registry).

Shared by pipeline_surface (the ``dedup_simhash`` key) and
quality_surface (the ``dedup_simhash_hamming`` banded near-dup key);
lives in its own module so either can be imported first without a
cycle through the registry's surface-module imports.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table
from ._session_cache import session_cached


@session_cached
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash per document from token hashes (with multiplicity),
    session-cached: THREE sibling bench keys consume the identical
    signature relation (``dedup_simhash``, ``dedup_simhash_hamming``,
    and ``dedup_mis_max_retention`` via the Hamming pair graph), each
    paying the corpus explode + md5 + 32 conditional sums again without
    the cache — the ``_vopt_pref`` shared-relation rule (r13-opt)."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    h = F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("bigint")
    t = tok.select("doc_id", h.alias("h"))
    bit_sums = [
        F.sum(
            F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"s{b}")
        for b in range(32)
    ]
    sums = t.groupBy("doc_id").agg(*bit_sums)
    simhash = sum(
        F.when(F.col(f"s{b}") > 0, F.lit(1 << b)).otherwise(0) for b in range(32)
    )
    return sums.select("doc_id", simhash.cast("bigint").alias("simhash"))


def simhash_oracle() -> str:
    h = "CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT)"
    sums = ",\n           ".join(
        f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS s{b}" for b in range(32)
    )
    sim = " + ".join(f"CASE WHEN s{b} > 0 THEN {1 << b} ELSE 0 END" for b in range(32))
    return f"""
    WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
    t AS (SELECT doc_id, {h} AS h FROM tok),
    sums AS (SELECT doc_id, {sums} FROM t GROUP BY doc_id)
    SELECT doc_id, CAST({sim} AS BIGINT) AS simhash FROM sums
    """
