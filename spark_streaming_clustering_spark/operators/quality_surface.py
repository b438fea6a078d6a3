"""Corpus-quality and join-pruning operators (round 3 additions).

Four first-class training-data-pipeline operators beyond the round-2
surface, each oracle-checked:

- ``pii_redact``      — regex PII scrubbing (emails / IPv4 / phone) with
                        per-class hit counts; the pre-tokenization scrub
                        pass of every corpus pipeline.
- ``quality_repetition`` — Gopher-style repetition signals: top-2-gram
                        share and duplicate-3-gram fraction per doc.
- ``bloom_join_prune`` — explicit Bloom-filter semi-join pruning of a
                        fact table against a filtered dimension,
                        result-identical to the exact join (no false
                        negatives), bloom built executor-side and
                        broadcast as a 512-word (~4 KB) literal.
- ``dedup_simhash_hamming`` — banded SimHash near-dup candidates
                        verified at Hamming distance <= 3.

Cross-engine determinism follows the house rules (pipeline_surface.py):
all hashing is md5-hex-prefix -> BIGINT, all constants are literals
shared between the Spark plan and the DuckDB oracle SQL.

Reference parity note: the reference (G-Stream) has no text pipeline —
these extend the engine surface per SURVEY.md section 2 "LLM-pipeline
extensions"; the nearest reference op is the quasi-equality scan
(batchStreamModel.scala:420-431) which dedup generalizes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table
from ._idioms import _cap_buckets, _dk_capped, _hash28
from ._simhash import dedup_simhash, simhash_oracle as _simhash_oracle
from .registry import register, register_plan_proxy

# ==========================================================================
# PII redaction
# ==========================================================================

# RE2- and Java-regex-compatible (no lookarounds, no backrefs) so Spark
# and DuckDB see the identical pattern text.
_RE_EMAIL = r"[a-z0-9]+@[a-z]+\.com"
_RE_IPV4 = r"\d+\.\d+\.\d+\.\d+"
_RE_PHONE = r"555-\d{4}"


def pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scrub emails / IPv4s / phone numbers, count hits per class.

    The synthetic corpus is lowercase prose with no PII, so each doc is
    deterministically augmented with one email, one IP and one phone
    derived from doc_id before scrubbing — the redactor then provably
    removes them (hash + tail of the redacted text are oracle-checked).
    Order matters and is fixed: email -> IP -> phone (the email pattern
    consumes its digits before the IP pattern can see them).

    Scale shape: pure per-row projection (regexp_replace chain inside
    one whole-stage-codegen projection over the scan) — no shuffle, no
    UDF; at 100 TB this is scan-bound, exactly what a scrub pass must be.
    """
    docs = load_table(spark, sf_dir, "documents")
    aug = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.com from 10.1."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".9 call 555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    red = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(aug, _RE_EMAIL, "<EMAIL>"), _RE_IPV4, "<IP>"
        ),
        _RE_PHONE,
        "<PHONE>",
    )
    n = lambda pat: F.size(F.regexp_extract_all(aug, F.lit(pat), 0))  # noqa: E731
    return docs.select(
        "doc_id",
        n(_RE_EMAIL).alias("n_email"),
        n(_RE_IPV4).alias("n_ip"),
        n(_RE_PHONE).alias("n_phone"),
        F.md5(red).alias("redacted_md5"),
        # negative-start substring == right(str, 40); every augmented doc
        # exceeds 40 chars by construction
        F.substring(red, -40, 40).alias("redacted_tail"),
    )


register(
    "pii_redact",
    pii_redact,
    f"""
    WITH aug AS (
      SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@mail.com from 10.1.' || CAST(doc_id % 256 AS VARCHAR)
                  || '.9 call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS a
      FROM documents),
    red AS (
      SELECT doc_id, a,
             regexp_replace(regexp_replace(regexp_replace(a,
                 '{_RE_EMAIL}', '<EMAIL>', 'g'),
                 '{_RE_IPV4}', '<IP>', 'g'),
                 '{_RE_PHONE}', '<PHONE>', 'g') AS r
      FROM aug)
    SELECT doc_id,
           len(regexp_extract_all(a, '{_RE_EMAIL}')) AS n_email,
           len(regexp_extract_all(a, '{_RE_IPV4}')) AS n_ip,
           len(regexp_extract_all(a, '{_RE_PHONE}')) AS n_phone,
           md5(r) AS redacted_md5,
           right(r, 40) AS redacted_tail
    FROM red
    """,
)


# ==========================================================================
# Repetition-based quality signals (Gopher-style)
# ==========================================================================


def quality_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc repetition: top-2-gram share and duplicate-3-gram fraction.

    top2_share = count of the most frequent 2-gram / number of 2-grams;
    dup3_frac  = 1 - distinct-3-grams / 3-grams.  Both are the standard
    repetition filters (Gopher / MassiveText rules) that length- and
    stopword-based scores (text_quality_score) cannot see.

    Scale shape: the 2-gram and 3-gram paths are each one map-side
    explode + one hash aggregate keyed by doc_id; the final join is
    doc_id-to-doc_id on two already-aggregated (corpus-cardinality)
    sides.  No windows over raw grams, no driver state.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split("text", " ").alias("t"))
    t = F.col("t")

    def gram_arr(k: int):
        # Short-doc guard (cf. _text._shingles): sequence(1, 0) is
        # DESCENDING in Spark, so without the when() a doc with < k
        # tokens emits spurious grams / hits INVALID_ARRAY_INDEX under
        # ANSI, while the oracle's generate_series(1, 0) is empty.
        idx = F.when(
            F.size(t) >= k, F.sequence(F.lit(1), F.size(t) - (k - 1))
        ).otherwise(F.array().cast("array<int>"))
        return F.transform(
            idx,
            lambda i: F.struct(
                F.lit(k).alias("k"),
                F.concat_ws(" ", *[F.element_at(t, i + j) for j in range(k)]).alias(
                    "g"
                ),
            ),
        )

    # ONE scan + ONE tagged explode for both gram sizes, then two
    # chained aggregates: S(doc,k,g) -> S(doc).  The previous shape
    # (separate 2-gram and 3-gram subtrees + countDistinct + join)
    # paid two corpus scans, an extra expand phase, and a join shuffle
    # for the same answer (observed 3.5 s -> ~1.3 s at sf0.1).
    # n3d falls out for free: after the first aggregate, each distinct
    # 3-gram is exactly one row.
    cells = toks.select(
        "doc_id",
        F.explode(F.concat(gram_arr(2), gram_arr(3))).alias("kg"),
    ).select("doc_id", F.col("kg.k").alias("k"), F.col("kg.g").alias("g"))
    counts = cells.groupBy("doc_id", "k", "g").agg(F.count(F.lit(1)).alias("c"))
    per_doc = counts.groupBy("doc_id").agg(
        F.sum(F.when(F.col("k") == 2, F.col("c"))).alias("n2"),
        F.max(F.when(F.col("k") == 2, F.col("c"))).alias("top2"),
        F.sum(F.when(F.col("k") == 3, F.col("c"))).alias("n3"),
        F.sum(F.when(F.col("k") == 3, 1)).alias("n3d"),
    )
    top2_share = F.when(
        F.col("n2") > 0, F.round(F.col("top2") / F.col("n2"), 6)
    ).otherwise(F.lit(0.0))
    dup3 = F.when(
        F.col("n3") > 0, F.round(1.0 - F.col("n3d") / F.col("n3"), 6)
    ).otherwise(F.lit(0.0))
    # match the oracle's inner-join semantics exactly: a doc too short
    # for 3-grams (or 2-grams) is excluded, not zero-filled
    return per_doc.filter(
        F.col("n2").isNotNull() & F.col("n3").isNotNull()
    ).select(
        "doc_id",
        "n2",
        "top2",
        top2_share.alias("top2_share"),
        dup3.alias("dup3_frac"),
    ).withColumn(
        "repetitive",
        (F.col("top2_share") > 0.1) | (F.col("dup3_frac") > 0.4),
    )


register(
    "quality_repetition",
    quality_repetition,
    """
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    g2r AS (
      SELECT doc_id, unnest(list_transform(
               generate_series(1, greatest(len(t) - 1, 0)),
               i -> t[i] || ' ' || t[i+1])) AS g
      FROM toks),
    g2 AS (
      SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n2, MAX(c) AS top2
      FROM (SELECT doc_id, g, COUNT(*) AS c FROM g2r GROUP BY 1, 2)
      GROUP BY doc_id),
    g3r AS (
      SELECT doc_id, unnest(list_transform(
               generate_series(1, greatest(len(t) - 2, 0)),
               i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS g
      FROM toks),
    g3 AS (
      SELECT doc_id, COUNT(*) AS n3, COUNT(DISTINCT g) AS n3d
      FROM g3r GROUP BY doc_id)
    SELECT doc_id, n2, top2,
           CASE WHEN n2 > 0 THEN round(top2 / n2, 6) ELSE 0.0 END AS top2_share,
           CASE WHEN n3 > 0 THEN round(1.0 - n3d / n3, 6) ELSE 0.0 END AS dup3_frac,
           (CASE WHEN n2 > 0 THEN round(top2 / n2, 6) ELSE 0.0 END) > 0.1
             OR (CASE WHEN n3 > 0 THEN round(1.0 - n3d / n3, 6) ELSE 0.0 END) > 0.4
             AS repetitive
    FROM g2 JOIN g3 USING (doc_id)
    """,
)


# ==========================================================================
# Bloom-filter join pruning
# ==========================================================================

BLOOM_BITS = 1 << 15  # 32768 bits = 512 long words (~4 KB literal); sized
# for the sf0.01 build side (~3k keys x 3 hashes -> ~1.4% FPR); at larger
# builds size m proportionally (m ~ 10 bits/key) — the filter stays
# kilobytes while the pruned fact side shrinks by (1 - selectivity)
BLOOM_WORDS = BLOOM_BITS // 64
BLOOM_K = 3


def _bloom_positions(key_col, i: int):
    """i-th bloom bit position of a key: xxhash64(key, i) mod BLOOM_BITS.

    xxhash64, not the md5-hex house hash: the bloom never crosses to
    the DuckDB oracle (the oracle runs the plain exact join), so the
    probe side can use the cheapest JVM hash — one codegen'd long op
    per row instead of md5 string round-trips (measured ~2x on the
    fact-scan probe).
    """
    return F.pmod(F.xxhash64(key_col, F.lit(i)), F.lit(BLOOM_BITS)).cast("int")


def build_bloom(dim: DataFrame, key: str) -> list[int]:
    """Aggregate the dim keys' bloom bits executor-side; collect only the
    <= BLOOM_WORDS (word, mask) aggregate rows (~1 KB)."""
    pos = F.explode(F.array(*[_bloom_positions(F.col(key), i) for i in range(BLOOM_K)]))
    words = (
        dim.select(pos.alias("pos"))
        .select((F.col("pos") / 64).cast("int").alias("w"), (F.col("pos") % 64).alias("b"))
        .groupBy("w")
        .agg(F.bit_or(F.expr("shiftleft(cast(1 as bigint), cast(b as int))")).alias("m"))
        .collect()
    )
    bitset = [0] * BLOOM_WORDS
    for r in words:
        bitset[r["w"]] = r["m"]
    return bitset


def might_contain(bitset: list[int], key: str) -> F.Column:
    """SQL predicate: all BLOOM_K positions of ``key`` set in ``bitset``.

    Built as expression text because the shift amount is itself an
    expression (python F.shiftright only accepts a constant shift); the
    xxhash64 position formula matches _bloom_positions exactly.
    """
    arr = "array(" + ",".join(f"{w}L" for w in bitset) + ")"
    checks = []
    for i in range(BLOOM_K):
        p = f"pmod(xxhash64({key}, {i}), {BLOOM_BITS})"
        checks.append(
            f"(shiftright(element_at({arr}, cast({p} / 64 as int) + 1),"
            f" cast({p} % 64 as int)) & 1) = 1"
        )
    return F.expr(" AND ".join(checks))


def bloom_join_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-pruned fact/dim join, result-identical to the exact join.

    Build side: urgent orders' o_orderkey hashed to BLOOM_K positions in
    a BLOOM_BITS bitset.  The bitset is assembled EXECUTOR-side — one
    hash aggregate `groupBy(word).agg(bit_or(mask))` — and only the <=
    BLOOM_WORDS aggregated words (128 longs, ~1 KB) are collected and
    re-broadcast as an array literal: the same bounded-collect
    discipline as the G-Stream centroid loop (batchStreamModel.scala:78
    collects <= N aggregate rows, never raw data).

    Probe side: lineitem keeps a row only if all BLOOM_K positions are
    set, then the exact broadcast join removes bloom false positives.
    Because a Bloom filter has NO false negatives, the final aggregate
    equals the plain join byte-for-byte — which is exactly what the
    DuckDB oracle runs.  tests/test_plans.py asserts the prune is real
    (survivor fraction well below 1).

    At 100 TB this is Spark's own runtime-filter shape
    (spark.sql.optimizer.runtimeFilter.bloomFilter.enabled) made
    explicit: the bloom rides the broadcast to every scan task and
    drops non-joining fact rows before the shuffle/join, the win being
    proportional to dim selectivity (here ~1/5 of orders are urgent).
    """
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    dim = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        "o_orderkey", "o_orderpriority"
    )

    bitset = build_bloom(dim, "o_orderkey")
    pruned = li.select("l_orderkey", "l_quantity", "l_extendedprice", "l_discount").filter(
        might_contain(bitset, "l_orderkey")
    )
    return (
        pruned.join(F.broadcast(dim), pruned.l_orderkey == dim.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum("l_quantity").cast("double").alias("sum_qty"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4)
            .cast("double")
            .alias("revenue"),
        )
    )


register(
    "bloom_join_prune",
    bloom_join_prune,
    """
    SELECT o_orderpriority,
           COUNT(*) AS n_items,
           CAST(SUM(l_quantity) AS DOUBLE) AS sum_qty,
           CAST(round(SUM(l_extendedprice * (1 - l_discount)), 4) AS DOUBLE) AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderpriority = '1-URGENT'
    GROUP BY o_orderpriority
    """,
)


# ==========================================================================
# SimHash Hamming-band near-duplicate candidates
# ==========================================================================

SIMHAM_MAX_BUCKET = 50
SIMHAM_MAX_DIST = 3


def dedup_simhash_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs at SimHash Hamming distance <= 3 via byte bands.

    Pigeonhole: two 32-bit SimHashes within Hamming distance 3 agree
    exactly on at least one of their 4 bytes, so candidates are an
    equi-join on (band, byte value) — never all-pairs.  Each (band,
    value) bucket is capped at SIMHAM_MAX_BUCKET members kept
    deterministically by lowest doc_id (the skew guard every banded
    join here uses); survivors are verified exactly with
    bit_count(xor).  Duplicate pairs found by several bands collapse
    via groupBy min-distance (distance is band-independent, so this is
    pure dedup).

    Scale shape: signature is one aggregate (dedup_simhash), banding is
    a 4x map-side explode, candidate generation one equi-join with
    bounded buckets, verification a per-row bit op.  This is the
    SimHash complement of dedup_minhash_lsh_capped.
    """
    sim = dedup_simhash(spark, sf_dir)
    bands = sim.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("simhash"), 8 * b).bitwiseAND(F.lit(255))
                    for b in range(4)
                ]
            )
        ).alias("band", "val"),
    )
    capped = _cap_buckets(bands, ["band", "val"], "doc_id", SIMHAM_MAX_BUCKET)
    a = capped.select("band", "val", F.col("doc_id").alias("doc_a"), F.col("simhash").alias("ha"))
    b = capped.select("band", "val", F.col("doc_id").alias("doc_b"), F.col("simhash").alias("hb"))
    ham = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    return (
        a.join(b, ["band", "val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", ham.alias("hamming"))
        .filter(F.col("hamming") <= SIMHAM_MAX_DIST)
        .groupBy("doc_a", "doc_b")
        .agg(F.min("hamming").alias("hamming"))
    )


def _simham_oracle() -> str:
    capped = _dk_capped(
        "bands", "doc_id, simhash, band, val", "band, val", "doc_id", SIMHAM_MAX_BUCKET
    )
    return f"""
    WITH sim AS ({_simhash_oracle()}),
    bands AS (
      SELECT doc_id, simhash, b.band,
             (simhash >> (8 * b.band)) & 255 AS val
      FROM sim, (SELECT unnest(generate_series(0, 3)) AS band) b),
    {capped}
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           MIN(bit_count(xor(a.simhash, b.simhash))) AS hamming
    FROM capped a JOIN capped b ON a.band = b.band AND a.val = b.val
    WHERE a.doc_id < b.doc_id
      AND bit_count(xor(a.simhash, b.simhash)) <= {SIMHAM_MAX_DIST}
    GROUP BY 1, 2
    """


register("dedup_simhash_hamming", dedup_simhash_hamming, _simham_oracle())


# ==========================================================================
# dedup_mis_max_retention (round 11) — maximal-retention dedup keep-set
# via deterministic Luby maximal independent set on the near-dup graph
# ==========================================================================

# Unrolled Luby rounds.  Measured fixpoint (live set empty) on the
# committed fixtures: 3 rounds at sf0.001/sf0.01, 4 at sf0.1 — 8 is a
# 2x margin, and rounds past an empty live set are the identity (every
# join against the empty live relation is empty).  The replay pin in
# tests/test_quality.py fails if any fixture stops finishing within
# _MIS_ROUNDS - 2.
_MIS_ROUNDS = 8


def _mis_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric (u, v) view of the ``dedup_simhash_hamming`` pairs."""
    pairs = dedup_simhash_hamming(spark, sf_dir).select("doc_a", "doc_b")
    return pairs.unionAll(
        pairs.select(
            F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b")
        )
    ).select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))


def _mis_live(sym: DataFrame) -> DataFrame:
    """Every node live, with its md5-prefix priority h."""
    return (
        sym.select(F.col("u").alias("node"))
        .distinct()
        .select("node", _hash28(F.col("node").cast("string")).alias("h"))
    )


def _mis_chosen(sym: DataFrame, live: DataFrame) -> DataFrame:
    """Luby selection step: the live nodes whose (hash, id) priority is
    a LOCAL MINIMUM among live neighbors — one join + one anti-join
    (the shape each unrolled round pays).  ``live`` is node-sized and
    checkpoint-sealed (no stats), so the broadcast hints are explicit
    (the WSP/Borůvka rule) — without them each round plans SortMergeJoins
    that shuffle the edge relation twice (r13-opt plan diff)."""
    lu = live.select(F.col("node").alias("u"), F.col("h").alias("hu"))
    lv = live.select(F.col("node").alias("v"), F.col("h").alias("hv"))
    blocked = (
        sym.join(F.broadcast(lu), "u")
        .join(F.broadcast(lv), "v")
        .filter(
            (F.col("hv") < F.col("hu"))
            | ((F.col("hv") == F.col("hu")) & (F.col("v") < F.col("u")))
        )
        .select(F.col("u").alias("node"))
    )
    return live.join(blocked, "node", "left_anti")


def dedup_mis_max_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAXIMAL-RETENTION dedup keep-set: a maximal independent set of
    the SimHash-Hamming near-dup pair graph via DETERMINISTIC Luby
    peeling (Luby 1986 / the deterministic hash-priority variant used
    in distributed MIS practice — public): each round, every live doc
    whose md5-prefix priority is a local minimum among live neighbors
    joins the keep-set and evicts its neighbors; repeat until no doc
    is live.

    The contract ``dedup_keep_best`` (one survivor per connected
    component) cannot express: near-dup relations CHAIN (A~B, B~C,
    NOT A~C), and a component-based keeper drops every non-canonical
    member even when it duplicates nothing kept.  The MIS keep-set
    retains a maximal set of PAIRWISE-distinct docs — measured on the
    fixtures: 141 kept vs 15 components at sf0.001, 128 vs 27 at
    sf0.01, 1264 vs 107 at sf0.1 (9x the retention with the same
    no-two-near-dups-kept guarantee; independence + maximality both
    replay-pinned).

    Execution: the pair graph is the existing banded-capped
    ``dedup_simhash_hamming`` relation (bounded buckets, never
    all-pairs), localCheckpointed once; up to {R} Luby rounds
    (measured fixpoint <= 4 everywhere, 2x margin; rounds past an
    empty live set are the identity, so the loop exits at the first
    empty live set — r13-opt), each round one broadcast join + two
    broadcast anti-joins on the value-bounded live relation, chosen
    and live checkpointed per round (the ``graph_kcore_richclub``
    lineage recipe).  Oracle: {R} MATERIALIZED CTE levels with
    NOT-EXISTS blockers.  Priorities are the house 28-bit md5 prefix
    of the doc id — identical integers on both engines.
    """
    sym = _mis_graph(spark, sf_dir).localCheckpoint(eager=True)
    live = _mis_live(sym).localCheckpoint(eager=True)
    kept = []
    for _ in range(_MIS_ROUNDS):
        chosen = _mis_chosen(sym, live).localCheckpoint(eager=True)
        kept.append(chosen)
        evicted = (
            sym.join(F.broadcast(chosen.select(F.col("node").alias("u"))), "u")
            .select(F.col("v").alias("node"))
            .distinct()
        )
        live = (
            live.join(F.broadcast(chosen), "node", "left_anti")
            .join(F.broadcast(evicted), "node", "left_anti")
            .localCheckpoint(eager=True)
        )
        # Luby peeling empties the live set at the fixpoint (measured
        # <= 4 rounds at every fixture) and every later round is the
        # identity over an EMPTY relation — exit there instead of
        # paying the remaining rounds' join/checkpoint jobs (r13-opt;
        # one cheap isEmpty on the just-checkpointed node-sized
        # relation per round; result provably identical to the
        # oracle's full {R}-round unroll, whose tail rounds select
        # nothing).
        if live.isEmpty():
            break
    mis = kept[0]
    for c in kept[1:]:
        mis = mis.unionAll(c)
    deg = sym.groupBy("u").agg(
        F.count(F.lit(1)).cast("bigint").alias("deg_full")
    )
    return mis.join(deg, mis.node == deg.u).select(
        F.col("node").alias("doc_id"),
        F.col("h").alias("priority"),
        "deg_full",
    )


dedup_mis_max_retention.__doc__ = dedup_mis_max_retention.__doc__.format(
    R=_MIS_ROUNDS
)


def dedup_mis_iteration_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plan proxy: pair graph + one Luby selection round."""
    sym = _mis_graph(spark, sf_dir)
    return _mis_chosen(sym, _mis_live(sym))


def _mis_oracle() -> str:
    levels = []
    prev = "live0"
    chosen_names = []
    for i in range(1, _MIS_ROUNDS + 1):
        levels.append(
            f"""chosen{i} AS MATERIALIZED (
      SELECT l.node, l.h FROM {prev} l
      WHERE NOT EXISTS (
        SELECT 1 FROM sym e JOIN {prev} p ON p.node = e.v
        WHERE e.u = l.node
          AND (p.h < l.h OR (p.h = l.h AND p.node < l.node)))),
    live{i} AS MATERIALIZED (
      SELECT l.node, l.h FROM {prev} l
      WHERE NOT EXISTS (SELECT 1 FROM chosen{i} c WHERE c.node = l.node)
        AND NOT EXISTS (
          SELECT 1 FROM sym e JOIN chosen{i} c ON c.node = e.v
          WHERE e.u = l.node))"""
        )
        chosen_names.append(f"chosen{i}")
        prev = f"live{i}"
    levels_sql = ",\n    ".join(levels)
    mis_union = "\n      UNION ALL ".join(
        f"SELECT node, h FROM {c}" for c in chosen_names
    )
    return f"""
    WITH pairs0 AS ({_simham_oracle()}),
    sym AS MATERIALIZED (
      SELECT doc_a AS u, doc_b AS v FROM pairs0
      UNION ALL SELECT doc_b AS u, doc_a AS v FROM pairs0),
    live0 AS MATERIALIZED (
      SELECT node,
             CAST(('0x' || substr(md5(CAST(node AS STRING)), 1, 7))
                  AS BIGINT) AS h
      FROM (SELECT DISTINCT u AS node FROM sym) t),
    {levels_sql},
    mis AS ({mis_union}),
    deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS deg_full
            FROM sym GROUP BY 1)
    SELECT m.node AS doc_id, m.h AS priority, d.deg_full
    FROM mis m JOIN deg d ON d.u = m.node
    """


register(
    "dedup_mis_max_retention", dedup_mis_max_retention, _mis_oracle()
)
register_plan_proxy("dedup_mis_max_retention", dedup_mis_iteration_plan)


# ==========================================================================
# dedup_paragraph (round 4)
# ==========================================================================

# Fixed token-block width: the corpus has no sentence/paragraph
# punctuation (single-space word streams), so "paragraphs" are
# non-overlapping 10-token blocks — the block-level exact-dedup pass
# (CCNet / RefinedWeb line-dedup) reduced to the data at hand.
PARA_TOKENS = 10
PARA_DUP_FRAC = 0.6  # drop threshold on the duplicated-block fraction


def dedup_paragraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Block-level (paragraph) dedup signal: split each document into
    non-overlapping PARA_TOKENS-token blocks, find blocks occurring in
    more than one document corpus-wide, and score each document by the
    fraction of its blocks that are duplicated (``keep`` = fraction
    below PARA_DUP_FRAC).

    This is the *within-document* complement of ``dedup_exact`` (whole
    doc) and ``dedup_minhash_lsh`` (near-whole-doc): boilerplate
    paragraphs repeated across otherwise-distinct pages are what
    block-level dedup removes in production corpus pipelines.

    Plan shape: map-side block explode (no shuffle), one groupBy on the
    block string (shuffle 1) for corpus doc-frequencies, an equi-join
    back to the block relation (reuses the block-key partitioning on
    the aggregated side), and a final per-doc aggregate (shuffle 2).
    All exchanges are equi-key; at 100 TB the block strings would be
    128-bit-hashed before the shuffle to cut exchange width — grouping
    on the raw string here keeps the oracle exact.

    Guard: docs shorter than PARA_TOKENS still form one (partial)
    block; the ``greatest(..., 1)`` floor keeps sequence() ascending
    for them (sequence(1, 0) is DESCENDING in Spark — ADVICE r3).
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split("text", " ").alias("t"))
    n_blocks = F.greatest(
        F.expr(f"(size(t) + {PARA_TOKENS - 1}) div {PARA_TOKENS}"), F.lit(1)
    )
    blocks = F.transform(
        F.sequence(F.lit(0), n_blocks - 1),
        lambda i: F.array_join(
            F.slice(F.col("t"), i * PARA_TOKENS + 1, PARA_TOKENS), " "
        ),
    )
    para = toks.select("doc_id", F.explode(blocks).alias("blk"))
    df_counts = para.groupBy("blk").agg(
        F.count_distinct("doc_id").alias("n_docs")
    )
    scored = (
        para.join(df_counts, "blk")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_blocks"),
            F.sum(F.when(F.col("n_docs") > 1, 1).otherwise(0)).alias(
                "n_dup_blocks"
            ),
        )
    )
    dup_frac = F.round(
        F.col("n_dup_blocks") / F.col("n_blocks").cast("double"), 6
    )
    return scored.select(
        "doc_id",
        "n_blocks",
        "n_dup_blocks",
        dup_frac.alias("dup_frac"),
        (dup_frac < PARA_DUP_FRAC).alias("keep"),
    )


register(
    "dedup_paragraph",
    dedup_paragraph,
    f"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    para AS (
      SELECT doc_id,
             array_to_string(
               t[(i * {PARA_TOKENS} + 1):((i + 1) * {PARA_TOKENS})], ' ') AS blk
      FROM t, LATERAL (
        SELECT unnest(generate_series(
          0, greatest((len(t) + {PARA_TOKENS - 1}) // {PARA_TOKENS}, 1) - 1))
          AS i) g),
    dfc AS (
      SELECT blk, COUNT(DISTINCT doc_id) AS n_docs FROM para GROUP BY 1),
    scored AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_blocks,
             CAST(SUM(CASE WHEN n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_blocks
      FROM para JOIN dfc USING (blk) GROUP BY 1)
    SELECT doc_id, n_blocks, n_dup_blocks,
           round(n_dup_blocks / CAST(n_blocks AS DOUBLE), 6) AS dup_frac,
           round(n_dup_blocks / CAST(n_blocks AS DOUBLE), 6)
             < {PARA_DUP_FRAC} AS keep
    FROM scored
    """,
)


# ==========================================================================
# quality_perplexity (round 4)
# ==========================================================================


def quality_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LM-perplexity quality proxy: per-document cross-entropy under a
    corpus-learned token-bigram language model,
    H_d = -(1/n_d) * sum log2( c(w1 w2) / c(w1 ·) ), where both counts
    come from the corpus bigram relation itself (every observed bigram
    has c >= 1, so no smoothing term is needed).

    This is the third member of the quality family: ``quality_entropy``
    scores within-document distribution, ``quality_repetition`` scores
    within-document structure, and this key scores a document's
    *typicality under the corpus* — the classic KenLM-style filter of
    production pipelines, with the corpus itself as the reference model.

    Plan shape: one tagged bigram explode (map-side), two aggregates of
    the SAME bigram relation (corpus bigram counts; prefix counts are a
    re-aggregate of the bigram counts, not a second scan), two
    equi-joins back, one per-doc aggregate.  The count tables are
    vocabulary-sized — at 100 TB they stay orders of magnitude below
    corpus size, and AQE decides broadcast vs shuffle join at runtime.

    Float contract: log terms are log2 of exact BIGINT counts, summed
    per doc and rounded to 4 — the same arithmetic profile as the
    driver-green ``quality_entropy``.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split("text", " ").alias("t"))
    t = F.col("t")
    idx = F.when(
        F.size(t) >= 2, F.sequence(F.lit(1), F.size(t) - 1)
    ).otherwise(F.array().cast("array<int>"))
    bg = F.transform(idx, lambda i: F.concat_ws(" ", t[i - 1], t[i]))
    doc_bg = toks.select(
        "doc_id", F.explode(bg).alias("bg")
    ).withColumn("w1", F.split("bg", " ")[0])
    c_bg = doc_bg.groupBy("bg").agg(F.count(F.lit(1)).alias("c_bg"))
    c_w1 = (
        c_bg.withColumn("w1", F.split("bg", " ")[0])
        .groupBy("w1")
        .agg(F.sum("c_bg").alias("c_w1"))
    )
    term = F.log2(F.col("c_bg").cast("double")) - F.log2(
        F.col("c_w1").cast("double")
    )
    return (
        doc_bg.join(c_bg, "bg")
        .join(c_w1, "w1")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(-F.sum(term) / F.count(F.lit(1)), 4).alias(
                "cross_entropy"
            ),
        )
    )


register(
    "quality_perplexity",
    quality_perplexity,
    """
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    doc_bg AS (
      SELECT doc_id, t[i] || ' ' || t[i + 1] AS bg, t[i] AS w1
      FROM t, LATERAL (
        SELECT unnest(generate_series(1, greatest(len(t) - 1, 0))) AS i) g),
    c_bg AS (SELECT bg, CAST(COUNT(*) AS BIGINT) AS c_bg
             FROM doc_bg GROUP BY 1),
    c_w1 AS (SELECT string_split(bg, ' ')[1] AS w1,
                    CAST(SUM(c_bg) AS BIGINT) AS c_w1
             FROM c_bg GROUP BY 1)
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           round(-SUM(log2(CAST(c_bg AS DOUBLE))
                      - log2(CAST(c_w1 AS DOUBLE))) / COUNT(*), 4)
             AS cross_entropy
    FROM doc_bg JOIN c_bg USING (bg) JOIN c_w1 USING (w1)
    GROUP BY 1
    """,
)


# ==========================================================================
# cooccurrence_pmi (round 4)
# ==========================================================================

PMI_MIN_COUNT = 5
PMI_TOPK = 20


def cooccurrence_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-PMI_TOPK adjacent-token collocations by pointwise mutual
    information: PMI(a,b) = log2( p(ab) / (p(a) p(b)) ) with all
    probabilities from exact corpus counts — the association-mining
    complement of ``quality_perplexity``'s conditional model (PMI finds
    the phrases; the LM scores typicality).

    Exact-arithmetic contract: PMI decomposes into log2 of exact
    BIGINT counts (log2 c_ab + 2 log2 N_u - log2 N_bg - log2 c_a -
    log2 c_b), so no ratio is formed before the logs and both engines
    evaluate identical double terms; ranking orders by the ROUNDED
    score with a bigram tie-break, keeping top-k stable across
    engines.

    Plan: one bigram aggregate, one unigram aggregate, two
    vocabulary-sized equi-joins (AQE broadcasts them at this sf), one
    global top-k (rank-limit, partial per partition).
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split("text", " ").alias("t"))
    t = F.col("t")
    idx = F.when(
        F.size(t) >= 2, F.sequence(F.lit(1), F.size(t) - 1)
    ).otherwise(F.array().cast("array<int>"))
    bg = toks.select(
        F.explode(
            F.transform(idx, lambda i: F.concat_ws(" ", t[i - 1], t[i]))
        ).alias("bg")
    )
    uni = docs.select(
        F.explode(F.split("text", " ")).alias("term")
    ).groupBy("term").agg(F.count(F.lit(1)).alias("c_t"))
    n_u = uni.agg(F.sum("c_t").alias("n_u"))
    c_bg = bg.groupBy("bg").agg(F.count(F.lit(1)).alias("c_ab"))
    n_bg = c_bg.agg(F.sum("c_ab").alias("n_bg"))
    parts = F.split("bg", " ")
    scored = (
        c_bg.filter(F.col("c_ab") >= PMI_MIN_COUNT)
        .withColumn("a", parts[0])
        .withColumn("b", parts[1])
        .join(uni.select(F.col("term").alias("a"), F.col("c_t").alias("c_a")), "a")
        .join(uni.select(F.col("term").alias("b"), F.col("c_t").alias("c_b")), "b")
        .crossJoin(F.broadcast(n_u))
        .crossJoin(F.broadcast(n_bg))
    )
    lg = lambda c: F.log2(F.col(c).cast("double"))  # noqa: E731
    pmi = F.round(
        lg("c_ab") + 2 * lg("n_u") - lg("n_bg") - lg("c_a") - lg("c_b"), 4
    )
    return (
        scored.select("bg", "c_ab", pmi.alias("pmi"))
        .orderBy(F.desc("pmi"), F.asc("bg"))
        .limit(PMI_TOPK)
    )


register(
    "cooccurrence_pmi",
    cooccurrence_pmi,
    f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    bg AS (
      SELECT t[i] || ' ' || t[i + 1] AS bg
      FROM t, LATERAL (
        SELECT unnest(generate_series(1, greatest(len(t) - 1, 0))) AS i) g),
    uni AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS c_t
      FROM (SELECT unnest(string_split(text, ' ')) AS term FROM documents)
      GROUP BY 1),
    c_bg AS (SELECT bg, CAST(COUNT(*) AS BIGINT) AS c_ab FROM bg GROUP BY 1),
    tot AS (SELECT CAST((SELECT SUM(c_t) FROM uni) AS BIGINT) AS n_u,
                   CAST((SELECT SUM(c_ab) FROM c_bg) AS BIGINT) AS n_bg)
    SELECT bg, c_ab,
           round(log2(CAST(c_ab AS DOUBLE)) + 2 * log2(CAST(n_u AS DOUBLE))
                 - log2(CAST(n_bg AS DOUBLE)) - log2(CAST(ua.c_t AS DOUBLE))
                 - log2(CAST(ub.c_t AS DOUBLE)), 4) AS pmi
    FROM c_bg, tot
    JOIN uni ua ON ua.term = string_split(bg, ' ')[1]
    JOIN uni ub ON ub.term = string_split(bg, ' ')[2]
    WHERE c_ab >= {PMI_MIN_COUNT}
    ORDER BY pmi DESC, bg ASC LIMIT {PMI_TOPK}
    """,
)


def readability_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per document from three exact integer
    counts: words (whitespace tokens), sentences ([.!?]+ runs,
    floored at 1), and a syllable proxy (vowel-group runs per word —
    the standard dictionary-free approximation).  The score is one
    double expression over exact integers, so both engines compute
    bit-identical inputs; rounded at 3 dp.

    Readability joins entropy/repetition/stopword signals in the
    quality-gate family: template spam scores implausibly HIGH (short
    uniform sentences), OCR noise implausibly LOW (unpronounceable
    vowel runs) — both tails are filter candidates.  Pure map-side
    projection + no shuffle.
    """
    docs = load_table(spark, sf_dir, "documents")
    words = F.size(F.regexp_extract_all(F.col("text"), F.lit("[^ ]+"), 0))
    sents = F.greatest(
        F.size(F.regexp_extract_all(F.col("text"), F.lit("[.!?]+"), 0)),
        F.lit(1),
    )
    syll = F.greatest(
        F.size(F.regexp_extract_all(F.lower("text"), F.lit("[aeiouy]+"), 0)),
        F.lit(1),
    )
    w = F.greatest(words, F.lit(1)).cast("double")
    score = (
        F.lit(206.835)
        - F.lit(1.015) * (w / sents.cast("double"))
        - F.lit(84.6) * (syll.cast("double") / w)
    )
    return docs.select(
        "doc_id",
        words.cast("long").alias("n_words"),
        sents.cast("long").alias("n_sents"),
        syll.cast("long").alias("n_syll"),
        (F.round(score, 3) + F.lit(0.0)).alias("flesch"),
    )


register(
    "readability_score",
    readability_score,
    """
    WITH c AS (
      SELECT doc_id,
             len(regexp_extract_all(text, '[^ ]+')) AS n_words,
             greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS n_sents,
             greatest(len(regexp_extract_all(lower(text), '[aeiouy]+')), 1)
               AS n_syll
      FROM documents)
    SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
           CAST(n_sents AS BIGINT) AS n_sents,
           CAST(n_syll AS BIGINT) AS n_syll,
           round(206.835
                 - 1.015 * (CAST(greatest(n_words, 1) AS DOUBLE) / n_sents)
                 - 84.6 * (CAST(n_syll AS DOUBLE) / greatest(n_words, 1)), 3)
             + 0.0 AS flesch
    FROM c
    """,
)


def corpus_drift_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution drift between two corpus vintages (even vs odd
    doc_id halves): symmetric KL divergence of their term
    distributions over the SHARED vocabulary — the monitoring signal a
    training-data pipeline watches to catch a source going stale or a
    scraper breaking.

    Numerics: with Sa = sum(ca), Sb = sum(cb) over shared terms,
    KL(A||B) = (sum(ca*log2(ca)) - sum(ca*log2(cb))) / Sa
               + log2(Sb/Sa) — every term is log2 of an EXACT integer
    count, so the whole signal reduces to ONE aggregate over the
    joined term-count relation (same discipline as quality_entropy);
    rounded at 4 dp.  Cost: two vocabulary-sized aggregates, one
    equi-join, one global aggregate.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        (F.col("doc_id") % 2 == 0).alias("is_a"),
        F.explode(F.regexp_extract_all(F.col("text"), F.lit("[a-z]+"), 0)).alias(
            "term"
        ),
    )
    tf = toks.groupBy("term").agg(
        F.count_if("is_a").alias("ca"), F.count_if(~F.col("is_a")).alias("cb")
    )
    shared = tf.filter((F.col("ca") > 0) & (F.col("cb") > 0))
    ca, cb = F.col("ca").cast("double"), F.col("cb").cast("double")
    agg = shared.agg(
        F.count(F.lit(1)).alias("n_shared_terms"),
        F.sum("ca").alias("sa"),
        F.sum("cb").alias("sb"),
        F.sum(ca * F.log2(ca)).alias("ala"),
        F.sum(ca * F.log2(cb)).alias("alb"),
        F.sum(cb * F.log2(cb)).alias("blb"),
        F.sum(cb * F.log2(ca)).alias("bla"),
    )
    sa, sb = F.col("sa").cast("double"), F.col("sb").cast("double")
    kl_ab = (F.col("ala") - F.col("alb")) / sa + F.log2(sb / sa)
    kl_ba = (F.col("blb") - F.col("bla")) / sb + F.log2(sa / sb)
    return agg.select(
        "n_shared_terms",
        F.col("sa").cast("long").alias("n_tokens_a"),
        F.col("sb").cast("long").alias("n_tokens_b"),
        (F.round(kl_ab, 4) + F.lit(0.0)).alias("kl_ab"),
        (F.round(kl_ba, 4) + F.lit(0.0)).alias("kl_ba"),
    )


register(
    "corpus_drift_kl",
    corpus_drift_kl,
    """
    WITH toks AS (
      SELECT doc_id % 2 = 0 AS is_a,
             unnest(regexp_extract_all(text, '[a-z]+')) AS term
      FROM documents),
    tf AS (
      SELECT term,
             SUM(CASE WHEN is_a THEN 1 ELSE 0 END) AS ca,
             SUM(CASE WHEN is_a THEN 0 ELSE 1 END) AS cb
      FROM toks GROUP BY term),
    shared AS (SELECT * FROM tf WHERE ca > 0 AND cb > 0),
    agg AS (
      SELECT COUNT(*) AS n_shared_terms,
             SUM(ca) AS sa, SUM(cb) AS sb,
             SUM(ca * log2(CAST(ca AS DOUBLE))) AS ala,
             SUM(ca * log2(CAST(cb AS DOUBLE))) AS alb,
             SUM(cb * log2(CAST(cb AS DOUBLE))) AS blb,
             SUM(cb * log2(CAST(ca AS DOUBLE))) AS bla
      FROM shared)
    SELECT CAST(n_shared_terms AS BIGINT) AS n_shared_terms,
           CAST(sa AS BIGINT) AS n_tokens_a,
           CAST(sb AS BIGINT) AS n_tokens_b,
           round((ala - alb) / sa + log2(CAST(sb AS DOUBLE) / sa), 4) + 0.0
             AS kl_ab,
           round((blb - bla) / sb + log2(CAST(sa AS DOUBLE) / sb), 4) + 0.0
             AS kl_ba
    FROM agg
    """,
)
