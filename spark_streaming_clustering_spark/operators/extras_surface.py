"""Late-registered breadth batches (rounds 6-10).

Round 6: skyline dominance (one key — VERDICT r5 item 1 froze surface
growth until the driver-verification queue drained), chosen because it
is a CLASS of query the engine did not yet demonstrate —
multi-objective pareto dominance.  (A funnel key was drafted too and
dropped on review: ``event_funnel`` already covers ordered
multi-stage conversion.)  Round 7: the executed two-phase shard pack
and the cross-write HLL union rollup (VERDICT r6 item 6's two named
candidate classes; growth bounded at two keys so the r7 driver window
still covers all 25 previously-pending keys plus these).  Round 8:
the four candidate classes from SCALE.md's handoff (VERDICT r7 item
3) — Markov transition matrix + integer-power-iteration steady-state
check, persisted quantile-histogram sketches merged across the write
boundary, deterministic A-ES weighted reservoir sampling, and the
recursive BOM weighted roll-up; five keys, queue was empty so the r8
window covers all of them.  Round 9: the three candidate classes from
SCALE.md's r8 handoff (VERDICT r8 item 2) — PPJoin-style EXACT
set-similarity self-join (prefix/positional/length filters, lossless
by construction), order-independent table CONTENT checksum with a
ROLLUP grand total, and sketch-free join-size estimation from grouped
key counts; a second batch lands the r10 candidate classes early —
EXACT whole-corpus set-CONTAINMENT join (the asymmetric complement of
ppjoin and the scalable complement of the capped dedup_containment
scorer), incremental view maintenance of a persisted aggregate from a
signed CDC delta batch, and equi-depth histogram construction with
per-bucket NDV; a third batch lands two more refreshed r10 candidates
— the two-sample Kolmogorov-Smirnov distance in pure integer
arithmetic and the join-key skew profile (the salting-decision
artifact); queue again empty, so the r9 driver window covers all
eight.  Round 10: the two candidate classes from SCALE.md's r9
handoff (VERDICT r9 items 2-3) — the V-optimal histogram, landed by
solving its oracle problem with a bounded-B unrolled DP (three
explicit self-join levels + grouped packed argmins, the
markov_steady_state chained-CTE precedent), and the two-level Merkle
partition-diff extending table_content_checksum to the full
anti-entropy protocol (seeded deterministic mutation, fold-derived
partition level, semi-join-restricted descent); a second batch adds
two self-nominated classes — integer CUSUM change-point detection
(sequential shift location) and Hamilton largest-remainder
apportionment (exact integer budget allocation); a third batch adds
the interval MEASURE-OF-UNION sweep (coverage length, partitioned by
customer) and the zone-map skip-ratio audit (data-skipping
effectiveness across two layouts) and the Theil-Sen robust trend
(median of pairwise integer slopes) as the 300th registry key, and
isotonic calibration via the PAVA minimax closed form, Holt
recursive-CTE smoothing, and the bitemporal point-in-time query
(all three r11 handoff candidates landed early); a fifth batch
adds the KMV k-minimum-values distinct sketch (deterministic,
exact-oracle-able, mergeability pinned) and the Benford
first-digit audit; a sixth batch lands the two classes the r10
handoff named for r11 — the SQL:2011 valid-time temporal JOIN
(period-overlap join with intersection intervals, broadcast
calendar) and theta-sketch-style KMV set operations (pairwise
union/intersection/Jaccard estimates from merged sketches, the
whole estimator chain exact-oracle-checked); a seventh batch adds
two exact-integer statistical-test classes — the Mann-Whitney U
rank-sum test (doubled midranks, tie-exact) and the Pearson
chi-square independence census (expected-count model in micros over
the bounded cell relation); an eighth batch adds the Lorenz/Gini
revenue-concentration audit (rank-weighted closed form on the
dollar-quantized cell relation) and the lag-1..7 autocorrelation of
the daily revenue series (integer-centered ACF, one ordered window
of LEADs posexploded); a ninth batch adds market-basket association
rules (support/confidence/lift micros over order x brand baskets,
pair expansion bounded by the fixed brand domain) and
reciprocal-rank fusion of two per-language document rankings (the
rank-aggregation class, all windows partitioned by lang); a tenth
batch adds the Mann-Kendall trend test (exact S + tie-corrected
18*Var on the month-bounded relation — the significance complement
of theil_sen_trend) and the LOCF time-weighted average (TWAP over
exact microsecond intervals, LEAD partitioned by user); an eleventh
batch adds the p5/p95 winsorized + trimmed robust means (ceil-rank
cuts on the dollar-bounded cell relation) and the Wald-Wolfowitz
runs test of the daily revenue series (exact integer R and moment
pair, lower-median signing); a twelfth batch adds the Lincoln-
Petersen / Chapman capture-recapture population estimate (two
deterministic parity occasions, no joins) and one-way ANOVA across
event types (exact cents^2 sums-of-squares decomposition, F ratio
in micros); a thirteenth batch lands the three classes the r10
close-out named for r11 — SQL:2011 temporal AGGREGATION (the
constancy-interval timeline of open-order count/cents via the
delta sweep), the PSI scorecard-drift audit between two order
vintages (Laplace-smoothed bins, the corpus_drift_kl 4-dp float
discipline), and the deterministic mergeable Misra-Gries
heavy-hitter summary (canonical per-bucket decrement, merge,
re-decrement — the whole construction exact-oracle-checked with
its error bound as part of the output contract); a fourteenth batch
adds SQL:2011 interval COALESCING / PACK (islands-and-gaps merge of
overlapping-or-adjacent periods into maximal intervals, windows
partitioned by customer) and the EWMA control chart (recursive
exact-rational smoothing with the variance-ramp recursion and
SQUARED 3-sigma limits — no sqrt or float anywhere).

Registered from the module imported LAST so these keys sort after every
pre-existing never-driver-verified key — each driver window drains
the old queue first (VERDICT r5 item 1); new keys land behind it and
are selfcheck-verified meanwhile.

Determinism rules per the house idioms: integer micros for time,
integer cents for money, floor(x+0.5) for half-away quantization on
both engines, explicit deterministic tie-breaks, no ELSE-defaulted
golden constants.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..sources.tables import (
    derived_layout_path,
    load_table,
    read_stable_parquet,
    write_once,
)
from .registry import register, register_plan_proxy
from ._session_cache import session_cached


# --------------------------------------------------------------------------
# skyline_pareto — multi-objective dominance (pareto frontier)
# --------------------------------------------------------------------------


def skyline_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline of parts on (minimize retail price, maximize size): a
    part survives iff no other part is cheaper-or-equal AND
    larger-or-equal with at least one strict.

    The textbook formulation is a quadratic NOT EXISTS self-join (the
    oracle); the distributed plan is the sort-free two-level sweep:

    1. bucket by price band (fixed 2-dollar widths -> price-ordered,
       bounded bucket count);
    2. per-bucket cumulative running max of size -> a bucket-count
       relation, tiny, window-ordered WITHOUT touching data rows;
    3. broadcast those prefix maxima back; a row is dominated by a
       STRICTLY CHEAPER bucket iff that prefix max >= its size, and
       within its own bucket by the partitioned RANGE-frame running
       max (strictly cheaper rows) or the equal-price group max.

    Every data-sized operation is partition-parallel (groupBy bucket,
    window PARTITIONED by bucket); the only ordered scan is over the
    bucket relation — metadata-sized at any scale.  Price quantized to
    integer cents with floor(x*100 + 0.5) on both engines (half-away
    parity; Python/NumPy round are banker's).
    """
    parts = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        F.floor(F.col("p_retailprice") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("price_cents"),
        F.col("p_size").cast("bigint").alias("size"),
    )
    parts = parts.withColumn("bkt", F.expr("price_cents div 200"))
    # bucket-count relation: one row per price band
    bmax = parts.groupBy("bkt").agg(F.max("size").alias("bkt_max"))
    wprev = Window.orderBy("bkt").rowsBetween(
        Window.unboundedPreceding, -1
    )
    prev_bkt = bmax.select(
        "bkt", F.max("bkt_max").over(wprev).alias("lower_bkt_max")
    )
    wrange = (
        Window.partitionBy("bkt")
        .orderBy("price_cents")
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    weq = Window.partitionBy("bkt", "price_cents")
    flagged = (
        parts.join(F.broadcast(prev_bkt), "bkt")
        .withColumn("cheaper_in_bkt_max", F.max("size").over(wrange))
        .withColumn("eq_price_max", F.max("size").over(weq))
    )
    dominated = (
        (F.coalesce(F.col("lower_bkt_max"), F.lit(-1)) >= F.col("size"))
        | (F.coalesce(F.col("cheaper_in_bkt_max"), F.lit(-1)) >= F.col("size"))
        | (F.col("eq_price_max") > F.col("size"))
    )
    return (
        flagged.filter(~dominated)
        .select("p_partkey", "price_cents", "size")
        .orderBy("price_cents", "p_partkey")
    )


_SKYLINE_ORACLE = """
    WITH parts AS (
      SELECT p_partkey,
             CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT) AS price_cents,
             CAST(p_size AS BIGINT) AS size
      FROM part)
    SELECT p.p_partkey, p.price_cents, p.size
    FROM parts p
    WHERE NOT EXISTS (
      SELECT 1 FROM parts q
      WHERE q.price_cents <= p.price_cents AND q.size >= p.size
        AND (q.price_cents < p.price_cents OR q.size > p.size))
    ORDER BY p.price_cents, p.p_partkey
"""

register("skyline_pareto", skyline_pareto, _SKYLINE_ORACLE)


# --------------------------------------------------------------------------
# Round-7 additions (VERDICT r6 item 6: new CLASSES only, late-registered,
# bounded growth — two keys, both the 100 TB form of a capability the
# surface previously only documented)
# --------------------------------------------------------------------------


_PACK_BUDGET = 2000  # tokens per shard — matches shard_by_token_budget
_PACK_PID_WIDTH = 100  # docs per logical input split (see docstring)


def shard_pack_two_phase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The EXECUTED two-phase token-budget pack —
    ``shard_by_token_budget``'s docstring describes this as "the honest
    100 TB version"; this key runs it (VERDICT r6 item 6).

    Phase 1: exclusive running token sums within (lang, pid), where
    pid = doc_id div {width} models the contiguous doc_id range of one
    input split (at 100 TB: one file/row-group; width there is the
    ingest file size, keeping the phase-2 relation metadata-sized).
    The window is PARTITIONED by (lang, pid) — parallelism is
    #langs x #splits, not #langs, so no language-sized single task.

    Phase 2: per-(lang, pid) token totals (map-side partial aggregate
    over the same projection) -> exclusive prefix offsets over pid
    within each lang — a metadata-sized window — broadcast back.
    global running sum = offset + local exclusive sum; shard = its
    floor-division by the budget.

    Because pids are CONTIGUOUS doc_id ranges, (pid, doc_id) order ==
    doc_id order per lang, so the output provably equals the
    sequential one-window spec — which is exactly what the oracle
    checks (single global window in DuckDB vs the two-phase plan).
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.size(F.split("text", " ")).alias("n_tok"),
        F.expr(f"doc_id div {_PACK_PID_WIDTH}").alias("pid"),
    )
    w_local = (
        Window.partitionBy("lang", "pid")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local_excl = F.sum("n_tok").over(w_local) - F.col("n_tok")
    packed = docs.withColumn("local_excl", local_excl)
    totals = docs.groupBy("lang", "pid").agg(F.sum("n_tok").alias("pid_tok"))
    w_off = (
        Window.partitionBy("lang")
        .orderBy("pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.select(
        "lang",
        "pid",
        F.coalesce(F.sum("pid_tok").over(w_off), F.lit(0)).alias("off"),
    )
    return (
        packed.join(F.broadcast(offsets), ["lang", "pid"])
        .select(
            "doc_id",
            "lang",
            "pid",
            "n_tok",
            F.floor((F.col("off") + F.col("local_excl")) / F.lit(_PACK_BUDGET))
            .cast("bigint")
            .alias("shard"),
        )
    )


register(
    "shard_pack_two_phase",
    shard_pack_two_phase,
    f"""
    SELECT doc_id, lang, doc_id // {_PACK_PID_WIDTH} AS pid,
           len(string_split(text, ' ')) AS n_tok,
           CAST(floor((SUM(len(string_split(text, ' '))) OVER
                         (PARTITION BY lang ORDER BY doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       - len(string_split(text, ' '))) / {_PACK_BUDGET})
                AS BIGINT) AS shard
    FROM documents
    """,
)


def _hll_daily_layout(spark: SparkSession, sf_dir: str) -> str:
    """Write (once per session+sf) per-(event_type, day) HLL sketches
    of user_id as a parquet table of BINARY sketch blobs — the
    materialized daily-rollup table a 100 TB deployment maintains so
    distinct-count questions never rescan raw events."""
    return write_once(
        derived_layout_path(spark, "hll_daily", sf_dir, "events"),
        lambda: load_table(spark, sf_dir, "events")
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.hll_sketch_agg("user_id").alias("sk"))
        .coalesce(1)  # metadata-sized output: #types x #days rows
        .write,
    )


def hll_union_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-WRITE sketch mergeability (VERDICT r6 item 6): per-day HLL
    sketches are persisted to parquet by ``_hll_daily_layout``, read
    BACK as binary blobs, and rolled up with ``hll_union_agg`` — per
    event_type and an ALL row unioning every daily sketch.  This is the
    100 TB distinct-count story end-to-end: sketch once per
    partition/day at ingest, answer any later rollup by merging stored
    bytes (rows here = #types x #days, never the event count).

    Estimates aren't hash-comparable cross-engine, so the oracle pins
    the contract (the house hll_sketch_q protocol): the merged-sketch
    estimate must sit within 5% of the exact distinct count
    (lgConfigK=12 => ~1.6% rsd, 3x margin), plus the exact count and
    the number of daily sketches merged.  The exact companions are
    recomputed from raw events — the very scan the sketch path avoids
    at scale; determinism holds because HLL union is exactly
    order-independent and the sketch bytes roundtrip parquet
    losslessly.
    """
    sk = read_stable_parquet(spark, _hll_daily_layout(spark, sf_dir))
    events = load_table(spark, sf_dir, "events")
    per_type = sk.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"),
        F.count(F.lit(1)).alias("n_sketches"),
    )
    exact_type = events.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("exact_nd")
    )
    typed = per_type.join(F.broadcast(exact_type), "event_type")
    all_row = (
        sk.agg(
            F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"),
            F.count(F.lit(1)).alias("n_sketches"),
        )
        .crossJoin(events.agg(F.count_distinct("user_id").alias("exact_nd")))
        .select(F.lit("ALL").alias("event_type"), "est", "n_sketches", "exact_nd")
    )
    both = typed.unionByName(all_row)
    within = F.abs(F.col("est") - F.col("exact_nd")) / F.col("exact_nd") <= 0.05
    return both.select(
        "event_type", "n_sketches", "exact_nd", within.alias("est_within_5pct")
    )


register(
    "hll_union_rollup",
    hll_union_rollup,
    """
    SELECT event_type,
           CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_sketches,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_nd,
           TRUE AS est_within_5pct
    FROM events GROUP BY event_type
    UNION ALL
    SELECT 'ALL',
           (SELECT CAST(COUNT(*) AS BIGINT) FROM
              (SELECT DISTINCT event_type, CAST(ts AS DATE) FROM events)),
           CAST(COUNT(DISTINCT user_id) AS BIGINT),
           TRUE
    FROM events
    """,
)


# --------------------------------------------------------------------------
# Round-8 additions (VERDICT r7 item 3: the four candidate classes named in
# SCALE.md's round-8 handoff — Markov transition analytics with a
# steady-state check, a persisted mergeable quantile sketch rolled up
# across the write boundary, deterministic weighted reservoir sampling
# (A-ES), and a recursive bill-of-materials weighted roll-up.  Growth
# bounded at five keys; all late-registered so they sort to the front of
# the empty pending queue and the r8 driver window covers them.)
# --------------------------------------------------------------------------


def _transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-transition matrix: consecutive event pairs within
    each user's (ts, event_id)-ordered stream, counted per (from, to),
    row-normalized to integer-micro probabilities (cnt * 1e6 div
    row-total — pure integer math, engine-identical).

    Scale shape: ONE hash partition by user_id serves the lag window
    (billions of events -> one shuffle); the matrix itself is
    #event_types^2 rows — metadata-sized however large the input."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            F.lag("event_type").over(w).alias("from_type"),
            F.col("event_type").alias("to_type"),
        )
        .filter(F.col("from_type").isNotNull())
    )
    m = pairs.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    return m.select(
        "from_type",
        "to_type",
        "cnt",
        F.expr("(cnt * 1000000) div sum(cnt) over (partition by from_type)")
        .cast("bigint")
        .alias("p_micro"),
    )


_MARKOV_MATRIX_CTES = """
    t AS (SELECT event_type,
                 lag(event_type) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS prev
          FROM events),
    m AS (SELECT prev AS from_type, event_type AS to_type,
                 CAST(COUNT(*) AS BIGINT) AS cnt
          FROM t WHERE prev IS NOT NULL GROUP BY 1, 2),
    mp AS (SELECT from_type, to_type, cnt,
                  CAST(CAST(cnt * 1000000 AS BIGINT)
                       // CAST(SUM(cnt) OVER (PARTITION BY from_type)
                               AS BIGINT) AS BIGINT) AS p_micro
           FROM m)
"""

register(
    "markov_transitions",
    _transition_matrix,
    f"WITH {_MARKOV_MATRIX_CTES} SELECT from_type, to_type, cnt, p_micro FROM mp",
)


_MARKOV_ITERS = 8


def markov_steady_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Steady-state check of the learned transition chain: {iters}
    power-iteration steps pi_k+1 = pi_k @ P in INTEGER micros (sum of
    pi_micro * p_micro per target state, floor-divided by 1e6 — the
    accumulation is integer, so it is order-independent and
    engine-exact), starting uniform over the observed from-states.
    Output per state: pi after {iters} steps and the absolute gap to
    the previous iterate — gap ~ 0 certifies the chain has mixed.

    Scale shape: the heavy part (per-user lag extraction over the full
    event log) is the distributed plan audited under
    ``markov_transitions``; the matrix it produces is #event_types^2
    rows — metadata-sized by construction — so the iteration runs on
    collected rows like the house PQ codebook / bloom / model collects
    (never the event table), and the result re-enters Spark as a
    literal DataFrame.
    """
    rows = _transition_matrix(spark, sf_dir).collect()  # bounded: #types^2
    out = _markov_fold([(r["from_type"], r["to_type"], r["p_micro"]) for r in rows])
    return spark.createDataFrame(
        out, "event_type string, pi_micro bigint, gap_micro bigint"
    )


def _markov_fold(matrix: list[tuple]) -> list[tuple]:
    """The integer power iteration on (from, to, p_micro) rows — the
    exact arithmetic the chained-CTE oracle unrolls: uniform start over
    from-states, each step an inner join against the matrix (a state
    with no outgoing row contributes nothing — absorbing states leak
    mass, identically on both sides), SUM then ONE floor-division by
    1e6 per target.  Returns sorted (state, pi, |pi - prev_pi|)."""
    states = sorted({f for f, _, _ in matrix})
    base = 1_000_000 // len(states)
    pi = {s: base for s in states}
    prev = pi
    for _ in range(_MARKOV_ITERS):
        acc: dict[str, int] = {}
        for f, t, p in matrix:
            if f in pi:
                acc[t] = acc.get(t, 0) + pi[f] * p
        prev, pi = pi, {t: v // 1_000_000 for t, v in acc.items()}
    return [(s, pi[s], abs(pi[s] - prev.get(s, 0))) for s in sorted(pi)]


markov_steady_state.__doc__ = markov_steady_state.__doc__.format(iters=_MARKOV_ITERS)


def _markov_steady_oracle() -> str:
    """Chained-CTE unroll of the identical integer power iteration
    (aggregates are disallowed in a recursive CTE term on both engines,
    so the steps are generated as s1..sN)."""
    return f"WITH {_MARKOV_MATRIX_CTES},\n    {_markov_steps_sql()}"


def _markov_steps_sql() -> str:
    """s0..sN + final SELECT over an in-scope CTE ``mp(from_type,
    to_type, p_micro)`` — shared by the fixture oracle and the crafted-
    matrix equivalence test (absorbing-state join semantics pinned
    against ``_markov_fold`` on matrices the fixtures don't contain)."""
    steps = []
    for k in range(1, _MARKOV_ITERS + 1):
        steps.append(
            f"""s{k} AS (SELECT mp.to_type AS state,
                   CAST(CAST(SUM(s.pi * mp.p_micro) AS BIGINT) // 1000000
                        AS BIGINT) AS pi
            FROM s{k - 1} s JOIN mp ON mp.from_type = s.state
            GROUP BY mp.to_type)"""
        )
    joined = ",\n    ".join(steps)
    last, prev = f"s{_MARKOV_ITERS}", f"s{_MARKOV_ITERS - 1}"
    return f"""s0 AS (SELECT from_type AS state,
                  CAST(1000000 // (SELECT COUNT(DISTINCT from_type) FROM mp)
                       AS BIGINT) AS pi
           FROM mp GROUP BY from_type),
    {joined}
    SELECT a.state AS event_type, a.pi AS pi_micro,
           CAST(abs(a.pi - COALESCE(b.pi, 0)) AS BIGINT) AS gap_micro
    FROM {last} a LEFT JOIN {prev} b ON a.state = b.state
    """


register("markov_steady_state", markov_steady_state, _markov_steady_oracle())
# The returned DataFrame is a driver literal (the iteration runs on the
# metadata-sized collected matrix), so its own plan is vacuous; audit the
# distributed extraction plan that feeds it instead (same pattern as the
# dedup_connected_components proxy).
register_plan_proxy("markov_steady_state", _transition_matrix)


_QBIN_CENTS = 100_000  # $1000-wide histogram bins over o_totalprice cents
_Q_MICROS = (500_000, 900_000, 990_000)  # p50 / p90 / p99


def _quantile_daily_layout(spark: SparkSession, sf_dir: str) -> str:
    """Write (once per session+sf) per-(o_orderstatus, day) histogram
    sketches of o_totalprice — (bin, cnt) rows with fixed ${width}-wide
    bins over integer cents — as a parquet table.  The mergeable
    quantile analogue of ``_hll_daily_layout``: a 100 TB deployment
    sketches each ingest partition once and answers later percentile
    rollups from stored bins (bounded by price-range/width per group,
    metadata-sized), never rescanning raw facts."""
    return write_once(
        derived_layout_path(spark, "quantile_daily", sf_dir, "orders"),
        lambda: load_table(spark, sf_dir, "orders")
        .select(
            F.col("o_orderstatus").alias("status"),
            F.to_date("o_orderdate").alias("day"),
            F.expr(
                f"cast(floor(o_totalprice * 100 + 0.5) as bigint)"
                f" div {_QBIN_CENTS}"
            ).alias("bin"),
        )
        .groupBy("status", "day", "bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .coalesce(1)  # bounded output: #status x #days x #bins rows
        .write,
    )


_quantile_daily_layout.__doc__ = _quantile_daily_layout.__doc__.format(
    width=_QBIN_CENTS // 100
)


def _hist_quantiles(hist: DataFrame) -> DataFrame:
    """p50/p90/p99 from merged (status, bin, cnt) histograms: disc rank
    ceil(q*N) located by the cumulative bin sum, answer = the bin's
    lower edge in cents.  Pure integer math, engine-identical."""
    w_cum = (
        Window.partitionBy("status")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = hist.select(
        "status",
        "bin",
        F.sum("cnt").over(w_cum).alias("cum"),
        F.sum("cnt").over(Window.partitionBy("status")).alias("n"),
    )
    qs = F.array(*[F.lit(q) for q in _Q_MICROS])
    return (
        c.select("status", "bin", "cum", "n", F.explode(qs).alias("q_micro"))
        .filter(F.col("cum") >= F.expr("(q_micro * n + 999999) div 1000000"))
        .groupBy("status", "q_micro")
        .agg((F.min("bin") * _QBIN_CENTS).cast("bigint").alias("approx_cents"))
    )


def quantile_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-WRITE mergeable quantile sketches (the ``hll_union_rollup``
    pattern for percentiles — SCALE.md's round-8 candidate class):
    per-(status, day) fixed-bin histograms are persisted to parquet by
    ``_quantile_daily_layout``, read BACK, merged per status plus an
    ALL row (bin-wise integer count sums — histogram merge is exactly
    associative and order-independent), and answered as p50/p90/p99 at
    bin resolution.

    The oracle pins the merge-losslessness contract: the rolled-up
    answer must EQUAL the same binning computed in one pass over raw
    orders (``merged_equals_raw``; the Spark side actually computes
    both paths and compares — a sketch-write/readback corruption or a
    non-associative merge flips it to false), alongside n_sketches and
    the approx values themselves, all integer and engine-exact.
    Accuracy is static by construction (answer within one ${width} bin
    of the exact disc quantile — pinned in tests/test_extras.py against
    DuckDB's quantile_disc), so unlike the probabilistic HLL key no
    tolerance band is needed.
    """
    # Both grains (per status + ALL) from ONE scan of each base: every
    # row contributes to its own status and to 'ALL' via a 2-element
    # explode before the aggregate — a union of re-aggregations would
    # scan each base once per grain (Spark does not share subtrees
    # across union branches), and map-side partial aggregation bounds
    # the doubled pre-shuffle rows at #bins x #grains per task anyway.
    both = F.explode(F.array(F.col("status"), F.lit("ALL"))).alias("status")

    sk = read_stable_parquet(spark, _quantile_daily_layout(spark, sf_dir))
    merged = (
        sk.select(both, "bin", "cnt")
        .groupBy("status", "bin")
        .agg(F.sum("cnt").alias("cnt"))
    )
    q_merged = _hist_quantiles(merged)

    # companion path: identical binning in ONE pass over raw orders —
    # the scan the sketch path avoids at scale, kept as the contract
    raw_hist = (
        load_table(spark, sf_dir, "orders")
        .select(
            F.col("o_orderstatus").alias("status"),
            F.expr(
                f"cast(floor(o_totalprice * 100 + 0.5) as bigint)"
                f" div {_QBIN_CENTS}"
            ).alias("bin"),
        )
        .select(both, "bin")
        .groupBy("status", "bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    q_raw = _hist_quantiles(raw_hist).withColumnRenamed(
        "approx_cents", "raw_cents"
    )

    # explode AFTER the distinct: the ALL row counts every (status, day)
    # sketch merged (the pairs partition by status), not distinct days
    n_both = (
        sk.select("status", "day")
        .distinct()
        .select(both)
        .groupBy("status")
        .agg(F.count(F.lit(1)).alias("n_sketches"))
    )
    return (
        q_merged.join(q_raw, ["status", "q_micro"])
        .join(F.broadcast(n_both), "status")
        .select(
            "status",
            F.col("q_micro").cast("bigint").alias("q_micro"),
            "n_sketches",
            "approx_cents",
            (F.col("approx_cents") == F.col("raw_cents")).alias(
                "merged_equals_raw"
            ),
        )
    )


quantile_sketch_rollup.__doc__ = quantile_sketch_rollup.__doc__.format(
    width=_QBIN_CENTS // 100
)


def _quantile_rollup_oracle() -> str:
    qvals = ", ".join(f"({q})" for q in _Q_MICROS)
    return f"""
    WITH o AS (SELECT o_orderstatus AS status,
                      CAST(o_orderdate AS DATE) AS day,
                      CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                        // {_QBIN_CENTS} AS bin
               FROM orders),
    b AS (SELECT status, day, bin, CAST(COUNT(*) AS BIGINT) AS cnt
          FROM o GROUP BY 1, 2, 3),
    g AS (SELECT status, bin, CAST(SUM(cnt) AS BIGINT) AS cnt
          FROM b GROUP BY 1, 2
          UNION ALL
          SELECT 'ALL', bin, CAST(SUM(cnt) AS BIGINT) FROM b GROUP BY bin),
    d AS (SELECT status, CAST(COUNT(DISTINCT day) AS BIGINT) AS n_sketches
          FROM b GROUP BY 1
          UNION ALL
          SELECT 'ALL', CAST(COUNT(*) AS BIGINT)
          FROM (SELECT DISTINCT status, day FROM b)),
    c AS (SELECT status, bin,
                 CAST(SUM(cnt) OVER (PARTITION BY status ORDER BY bin
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      AS BIGINT) AS cum,
                 CAST(SUM(cnt) OVER (PARTITION BY status) AS BIGINT) AS n
          FROM g),
    q(q_micro) AS (VALUES {qvals}),
    a AS (SELECT c.status, CAST(q.q_micro AS BIGINT) AS q_micro,
                 CAST(MIN(c.bin) * {_QBIN_CENTS} AS BIGINT) AS approx_cents
          FROM c JOIN q
            ON c.cum >= (CAST(q.q_micro AS BIGINT) * c.n + 999999) // 1000000
          GROUP BY 1, 2)
    SELECT a.status, a.q_micro, d.n_sketches, a.approx_cents,
           TRUE AS merged_equals_raw
    FROM a JOIN d ON a.status = d.status
    """


register("quantile_sketch_rollup", quantile_sketch_rollup, _quantile_rollup_oracle())


_RESERVOIR_K = 50
_HASH_DENOM = 268_435_457.0  # 2^28 + 1: md5-prefix28 + 1 in (0, 1]


def weighted_reservoir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted reservoir sample (A-ES, Efraimidis-Spirakis) with
    DETERMINISTIC keys: each document draws u from the house md5-prefix
    hash mapped into (0, 1], and its reservoir key is -ln(u) / weight
    (equivalent to the textbook u^(1/w) by monotonicity) with weight =
    n_chars — longer documents proportionally likelier.  The global
    sample is the k smallest keys.

    Determinism: u is a pure hash of doc_id (reproducible across runs,
    engines, and partitionings — no RNG state), the key is quantized to
    integer nanos with the floor(x + 0.5) half-away idiom, and ties
    break on doc_id.  ``ln()`` is the one libm transcendental in the
    key (the class ``time_decay_score`` avoids outright): its last ulp
    is implementation-dependent, so the portability contract is pinned
    by ``test_weighted_reservoir_keys_clear_of_floor_boundaries`` —
    every fixture key sits >=5300 ulps from the nearest floor boundary,
    so any faithful (few-ulp) libm on any host/JDK selects the
    identical set; a porter swapping fixtures must re-run that guard.  Scale shape: map-side key computation + global
    top-k — Spark executes the sort+limit as TakeOrderedAndProject
    (per-partition heaps, no global sort), the same plan as
    ``orderby_limit``.  At 100 TB this is the standard one-pass
    distributed weighted sampler; per-stratum reservoirs are the same
    expression with the window partitioned by stratum
    (cf. sample_stratified for the unweighted hash variant).
    """
    docs = load_table(spark, sf_dir, "documents")
    h = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 7), 16, 10
    ).cast("bigint")
    u = (h + F.lit(1)) / F.lit(_HASH_DENOM)
    key_nano = F.floor(
        -F.log(u) / F.col("n_chars") * F.lit(1_000_000_000.0) + F.lit(0.5)
    ).cast("bigint")
    return (
        docs.select(
            "doc_id",
            F.col("n_chars").alias("weight"),
            key_nano.alias("key_nano"),
        )
        .orderBy("key_nano", "doc_id")
        .limit(_RESERVOIR_K)
    )


register(
    "weighted_reservoir_sample",
    weighted_reservoir_sample,
    f"""
    SELECT doc_id, n_chars AS weight,
           CAST(floor(-ln((CAST(('0x' || substr(md5(CAST(doc_id AS STRING)),
                                                1, 7)) AS BIGINT) + 1)
                          / {_HASH_DENOM})
                      / n_chars * 1000000000.0 + 0.5) AS BIGINT) AS key_nano
    FROM documents
    ORDER BY key_nano, doc_id
    LIMIT {_RESERVOIR_K}
    """,
)


_BOM_FANOUT = 8  # parent(p) = p div 8 — containment tree over part


def bom_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive bill-of-materials WEIGHTED roll-up (the aggregation
    class ``recursive_cte_q`` does not cover): explode the synthetic
    part-containment tree parent = p_partkey div {fanout} with per-edge
    quantity (p_partkey % 5) + 1, carrying the PATH PRODUCT of
    quantities down the recursion, then roll the tree up — per root
    assembly: component count, total required units (sum of path
    products), and total rolled cost (sum of path product x component
    price in integer cents).

    Scale shape: each recursion step is an equi-join of the frontier
    against the child relation (the engine iterates to the fixpoint;
    depth = tree height ~ log_{fanout}(#parts)); the roll-up is one
    hash aggregate over the exploded closure.  All arithmetic integer
    (path products bounded by 5^depth, costs in cents) so the oracle —
    the identical WITH RECURSIVE in DuckDB — is engine-exact.
    """
    load_table(spark, sf_dir, "part").createOrReplaceTempView("part_rc")
    return spark.sql(
        f"""
        WITH RECURSIVE bom(root, part, path_qty) AS (
          SELECT p_partkey, p_partkey, CAST(1 AS BIGINT)
          FROM part_rc WHERE p_partkey < {_BOM_FANOUT}
          UNION ALL
          SELECT b.root, p.p_partkey, b.path_qty * (p.p_partkey % 5 + 1)
          FROM part_rc p JOIN bom b ON p.p_partkey div {_BOM_FANOUT} = b.part
          WHERE p.p_partkey >= {_BOM_FANOUT}
        )
        SELECT b.root,
               CAST(COUNT(*) AS BIGINT) AS n_components,
               CAST(SUM(b.path_qty) AS BIGINT) AS total_units,
               CAST(SUM(b.path_qty * pr.price_cents) AS BIGINT)
                 AS rolled_cost_cents
        FROM bom b
        JOIN (SELECT p_partkey,
                     CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT)
                       AS price_cents
              FROM part_rc) pr
          ON pr.p_partkey = b.part
        GROUP BY b.root
        """
    )


bom_rollup.__doc__ = bom_rollup.__doc__.format(fanout=_BOM_FANOUT)

register(
    "bom_rollup",
    bom_rollup,
    f"""
    WITH RECURSIVE bom(root, part, path_qty) AS (
      SELECT p_partkey, p_partkey, CAST(1 AS BIGINT)
      FROM part WHERE p_partkey < {_BOM_FANOUT}
      UNION ALL
      SELECT b.root, p.p_partkey, b.path_qty * (p.p_partkey % 5 + 1)
      FROM part p JOIN bom b ON p.p_partkey // {_BOM_FANOUT} = b.part
      WHERE p.p_partkey >= {_BOM_FANOUT}
    )
    SELECT b.root,
           CAST(COUNT(*) AS BIGINT) AS n_components,
           CAST(SUM(b.path_qty) AS BIGINT) AS total_units,
           CAST(SUM(b.path_qty * pr.price_cents) AS BIGINT)
             AS rolled_cost_cents
    FROM bom b
    JOIN (SELECT p_partkey,
                 CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT)
                   AS price_cents
          FROM part) pr
      ON pr.p_partkey = b.part
    GROUP BY b.root
    """,
)


# --------------------------------------------------------------------------
# Round-8, second batch (three of the handoff's round-9 candidates landed
# early — the r8 driver window still covers them at positions 6-8):
# linear multi-touch attribution with exact credit conservation,
# rendezvous (HRW) resharding with the minimal-movement property, and
# sweep-line interval concurrency via delta aggregation.
# --------------------------------------------------------------------------


def funnel_attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LINEAR multi-touch attribution — the credit-SPLIT class
    (``funnel_attribution`` is last-touch, an argmax: one winner per
    conversion; this key divides each conversion's credit across ALL
    its touches).  Each purchase closes a per-user segment (touches
    since the previous purchase); every click/view in a converted
    segment gets floor(1e6 / n) micros and the LAST touch (latest
    (ts, event_id)) absorbs the remainder, so credit is conserved
    EXACTLY: sum over channels = 1e6 x #conversions (integer micros —
    float splits would leak ulps; pinned in tests/test_extras.py).
    Touchless conversions credit the 'direct' channel in full.

    Plan shape: ONE scan, NO joins.  A segment is converted iff a later
    purchase closes it, i.e. seg < the user's total purchase count — a
    full-frame window, not a join back to a conversions relation; the
    per-segment split counts and the last-touch remainder flag are
    (user_id, seg)-partitioned windows; 'direct' conversions are
    purchase rows whose own segment has zero touches (a conditional
    count over the same partition).  The join formulation (how the
    oracle SPECIFIES it) would scan the fact table five times; this
    pass pays one scan + the two keyed exchanges the windows need.
    """
    is_p = (F.col("event_type") == "purchase").cast("int")
    is_t = F.col("event_type").isin("click", "view").cast("int")
    w_before = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_user = Window.partitionBy("user_id")
    s = (
        load_table(spark, sf_dir, "events")
        .select(
            "event_id",
            "user_id",
            F.col("ts").cast("timestamp").alias("ts"),
            "event_type",
            is_p.alias("is_p"),
            is_t.alias("is_t"),
        )
        .select(
            "*",
            F.coalesce(F.sum("is_p").over(w_before), F.lit(0)).alias("seg"),
            F.sum("is_p").over(w_user).alias("n_purch"),
        )
    )
    w_seg = Window.partitionBy("user_id", "seg")
    w_seg_desc = w_seg.orderBy(F.desc("ts"), F.desc("event_id")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    s = s.select(
        "*",
        F.sum("is_t").over(w_seg).alias("n_touch"),
        F.sum("is_t").over(w_seg_desc).alias("touch_rank_desc"),
    )
    base = F.expr("1000000 div n_touch")
    credited = (F.col("is_t") == 1) & (F.col("seg") < F.col("n_purch"))
    direct = (F.col("is_p") == 1) & (F.col("n_touch") == 0)
    channel = F.when(credited, F.col("event_type")).when(direct, F.lit("direct"))
    credit = F.when(
        credited,
        base
        + F.when(
            F.col("touch_rank_desc") == 1,
            F.lit(1_000_000) - F.col("n_touch") * base,
        ).otherwise(0),
    ).when(direct, F.lit(1_000_000))
    return (
        s.select(channel.alias("channel"), credit.alias("credit"))
        .filter(F.col("channel").isNotNull())
        .groupBy("channel")
        .agg(
            F.count(F.lit(1)).alias("n_credited"),
            F.sum("credit").cast("bigint").alias("credit_micro"),
        )
    )


register(
    "funnel_attribution_linear",
    funnel_attribution_linear,
    """
    WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
                      event_type FROM events),
    s AS (SELECT *,
                 COALESCE(SUM(CASE WHEN event_type = 'purchase' THEN 1
                                   ELSE 0 END)
                          OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND 1 PRECEDING), 0) AS seg
          FROM e),
    conv AS (SELECT user_id, seg FROM s WHERE event_type = 'purchase'),
    t AS (SELECT s.user_id, s.seg, s.event_type, s.ts, s.event_id
          FROM s JOIN conv USING (user_id, seg)
          WHERE s.event_type IN ('click', 'view')),
    cr AS (SELECT event_type,
                  CAST(1000000 // n AS BIGINT)
                  + CASE WHEN rn = 1
                         THEN 1000000 - n * CAST(1000000 // n AS BIGINT)
                         ELSE 0 END AS credit
           FROM (SELECT *,
                        COUNT(*) OVER (PARTITION BY user_id, seg) AS n,
                        ROW_NUMBER() OVER (PARTITION BY user_id, seg
                                           ORDER BY ts DESC, event_id DESC)
                          AS rn
                 FROM t))
    SELECT event_type AS channel, CAST(COUNT(*) AS BIGINT) AS n_credited,
           CAST(SUM(credit) AS BIGINT) AS credit_micro
    FROM cr GROUP BY 1
    UNION ALL
    SELECT 'direct', CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(*) * 1000000 AS BIGINT)
    FROM conv c
    WHERE NOT EXISTS (SELECT 1 FROM t
                      WHERE t.user_id = c.user_id AND t.seg = c.seg)
    """,
)


_SHARDS_OLD = 16
_SHARDS_NEW = 17  # one shard added — HRW moves only 1/17 of keys


def _hrw_combined_spark(s: int):
    """h(doc_id, s) * 32 + s — the house md5-prefix28 hash of the
    key#shard string, shard packed into the low bits so equal-hash ties
    break toward the larger shard IDENTICALLY on both engines."""
    h = F.conv(
        F.substring(
            F.md5(F.concat_ws("#", F.col("doc_id").cast("string"), F.lit(str(s)))),
            1,
            7,
        ),
        16,
        10,
    ).cast("bigint")
    return h * 32 + s


def rendezvous_resharding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rendezvous (highest-random-weight) sharding with the
    minimal-movement property checked: every key's shard is
    argmax over shards of h(key, shard); growing {old} -> {new} shards
    must move ONLY keys that land on the NEW shard (everything else
    keeps its argmax — the consistent-hashing contract that a naive
    ``hash(key) % N`` violates for (N-1)/N of keys).

    Plan shape: the {new} hash expressions are one map-side projection
    (no explode — argmax via ``greatest`` over hash*32+shard packed
    bigints, ties impossible to diverge since the packing is total);
    one hash aggregate by old shard.  Per old shard: key count, moved
    count, and BOOL_AND(moved -> new == {newid}) — the contract column.
    At 100 TB this is the shuffle-free resharding PLANNER: the same
    expression assigns every row, and the moved fraction (~1/{new})
    is the data actually copied during migration.
    """
    old = F.greatest(
        *[_hrw_combined_spark(s) for s in range(_SHARDS_OLD)]
    ) % 32
    new = F.greatest(
        *[_hrw_combined_spark(s) for s in range(_SHARDS_NEW)]
    ) % 32
    docs = load_table(spark, sf_dir, "documents").select(
        old.alias("old_shard"), new.alias("new_shard")
    )
    return (
        docs.groupBy("old_shard")
        .agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.sum(
                F.when(F.col("new_shard") != F.col("old_shard"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_moved"),
            F.expr(
                f"bool_and(new_shard = old_shard or new_shard = {_SHARDS_NEW - 1})"
            ).alias("all_moves_to_new"),
        )
    )


rendezvous_resharding.__doc__ = rendezvous_resharding.__doc__.format(
    old=_SHARDS_OLD, new=_SHARDS_NEW, newid=_SHARDS_NEW - 1
)


def _hrw_combined_sql(s: int) -> str:
    return (
        f"(CAST(('0x' || substr(md5(CAST(doc_id AS STRING) || '#' || '{s}'),"
        f" 1, 7)) AS BIGINT) * 32 + {s})"
    )


def _rendezvous_oracle() -> str:
    old = "greatest(" + ", ".join(
        _hrw_combined_sql(s) for s in range(_SHARDS_OLD)
    ) + ") % 32"
    new = "greatest(" + ", ".join(
        _hrw_combined_sql(s) for s in range(_SHARDS_NEW)
    ) + ") % 32"
    return f"""
    WITH a AS (SELECT {old} AS old_shard, {new} AS new_shard FROM documents)
    SELECT old_shard, CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(CASE WHEN new_shard <> old_shard THEN 1 ELSE 0 END)
                AS BIGINT) AS n_moved,
           BOOL_AND(new_shard = old_shard OR new_shard = {_SHARDS_NEW - 1})
             AS all_moves_to_new
    FROM a GROUP BY old_shard
    """


register("rendezvous_resharding", rendezvous_resharding, _rendezvous_oracle())


def concurrent_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sweep-line interval concurrency: how many orders are OPEN on
    each event day, for synthetic lifetimes [o_orderdate,
    o_orderdate + (o_orderkey % 90 + 1) days).  The delta-aggregation
    class (``range_join_interval`` is the overlap-JOIN class — pairs;
    this counts concurrency without materializing any pair): each
    interval contributes +1 at its open day and -1 at its close day
    via a 2-element explode (ONE scan), deltas hash-aggregate by day
    (map-side partial), and the running sum over the AGGREGATED day
    relation — #distinct-days rows, metadata-sized at any input scale
    — is the only ordered operation.  The classic window-over-raw-rows
    formulation would sort the fact table; this never does.
    """
    o = load_table(spark, sf_dir, "orders").select(
        F.to_date("o_orderdate").alias("od"),
        F.date_add(
            F.to_date("o_orderdate"),
            (F.col("o_orderkey") % 90 + 1).cast("int"),
        ).alias("cd"),
    )
    deltas = o.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("od").alias("day"),
                    F.lit(1).alias("opened"),
                    F.lit(0).alias("closed"),
                ),
                F.struct(
                    F.col("cd").alias("day"),
                    F.lit(0).alias("opened"),
                    F.lit(1).alias("closed"),
                ),
            )
        ).alias("d")
    ).select("d.*")
    g = deltas.groupBy("day").agg(
        F.sum("opened").cast("bigint").alias("opened"),
        F.sum("closed").cast("bigint").alias("closed"),
    )
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return g.select(
        "day",
        "opened",
        "closed",
        F.sum(F.col("opened") - F.col("closed")).over(w).cast("bigint").alias("active"),
    )


register(
    "concurrent_intervals",
    concurrent_intervals,
    """
    WITH o AS (SELECT CAST(o_orderdate AS DATE) AS od,
                      CAST(o_orderdate AS DATE)
                        + CAST(o_orderkey % 90 + 1 AS INTEGER) AS cd
               FROM orders),
    d AS (SELECT od AS day, CAST(COUNT(*) AS BIGINT) AS opened,
                 CAST(0 AS BIGINT) AS closed
          FROM o GROUP BY od
          UNION ALL
          SELECT cd, CAST(0 AS BIGINT), CAST(COUNT(*) AS BIGINT)
          FROM o GROUP BY cd),
    g AS (SELECT day, CAST(SUM(opened) AS BIGINT) AS opened,
                 CAST(SUM(closed) AS BIGINT) AS closed
          FROM d GROUP BY day)
    SELECT day, opened, closed,
           CAST(SUM(opened - closed)
                OVER (ORDER BY day
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS active
    FROM g
    """,
)


# --------------------------------------------------------------------------
# Round-8, third batch: model-evaluation metrics — the ranking-quality
# family a training-data pipeline's eval harness needs (nothing in the
# registry evaluated a score against a label before): AUC via the
# Mann-Whitney rank-sum and the decile calibration/gains table.
# --------------------------------------------------------------------------


_AUC_CTES = """
    e AS (SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS score,
                 CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
          FROM events),
    g AS (SELECT score, CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(pos) AS BIGINT) AS n_pos
          FROM e GROUP BY score),
    c AS (SELECT score, n, n_pos,
                 CAST(COALESCE(SUM(n) OVER (ORDER BY score
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                      AS BIGINT) AS cum_below,
                 CAST(SUM(n) OVER () AS BIGINT) AS total,
                 CAST(SUM(n_pos) OVER () AS BIGINT) AS total_pos
          FROM g)
"""


def _score_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label/score groups for the eval metrics: label = the event is a
    purchase, score = value quantized to integer cents.  Grouping by
    the QUANTIZED score bounds the ordered relation at score-range x
    100 rows (~49k here) regardless of input size — the global-order
    window runs on that metadata-sized relation, never on raw events
    (the ntile-over-raw-rows formulation would globally sort the fact
    table).  Columns: score, n, n_pos, cum_below (rows with strictly
    lower scores), total, total_pos."""
    e = load_table(spark, sf_dir, "events").select(
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("score"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("pos"),
    )
    g = e.groupBy("score").agg(
        F.count(F.lit(1)).alias("n"), F.sum("pos").cast("bigint").alias("n_pos")
    )
    w_below = Window.orderBy("score").rowsBetween(Window.unboundedPreceding, -1)
    w_all = Window.partitionBy()
    return g.select(
        "score",
        "n",
        "n_pos",
        F.coalesce(F.sum("n").over(w_below), F.lit(0)).alias("cum_below"),
        F.sum("n").over(w_all).alias("total"),
        F.sum("n_pos").over(w_all).alias("total_pos"),
    )


def auc_rank_metric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AUC of `value` predicting purchase, as the Mann-Whitney rank-sum
    in pure INTEGER arithmetic: with average 1-based ranks over ties,
    2 x avg_rank(score s) = 2 x cum_below(s) + n(s) + 1, so
    ranksum2 = sum over score groups of n_pos x (2 cum_below + n + 1)
    and AUC = (ranksum2 - N1(N1+1)) / (2 N1 N0), emitted in micros via
    floor division — order-independent, engine-exact (a float rank sum
    would be accumulation-order-dependent).  Overflow headroom (ADVICE
    r8): ranksum2 <= 2N^2 fits BIGINT to N ~ 2e9, but the x1e6 micro
    multiply would overflow it at N ~ 2e6, so the ratio is computed in
    DECIMAL(38,0) (Spark) / HUGEINT (DuckDB) — exact to N ~ 1e9 per
    evaluated slice, and the FINAL quotient (<= 1e6) always fits the
    BIGINT output column.

    One scan, one bounded-relation window (see ``_score_groups``),
    one final single-row aggregate.
    """
    c = _score_groups(spark, sf_dir)
    term = F.col("n_pos") * (2 * F.col("cum_below") + F.col("n") + 1)
    return (
        c.groupBy("total", "total_pos")
        .agg(F.sum(term).cast("bigint").alias("ranksum2"))
        .select(
            F.col("total_pos").alias("n_pos"),
            (F.col("total") - F.col("total_pos")).cast("bigint").alias("n_neg"),
            F.expr(
                "(CAST(ranksum2 AS DECIMAL(38,0))"
                " - CAST(total_pos AS DECIMAL(38,0)) * (total_pos + 1)) * 1000000"
                " div (CAST(2 AS DECIMAL(38,0)) * total_pos * (total - total_pos))"
            )
            .cast("bigint")
            .alias("auc_micro"),
        )
    )


register(
    "auc_rank_metric",
    auc_rank_metric,
    f"""
    WITH {_AUC_CTES}
    SELECT total_pos AS n_pos,
           CAST(total - total_pos AS BIGINT) AS n_neg,
           CAST((CAST(SUM(n_pos * (2 * cum_below + n + 1)) AS HUGEINT)
                 - CAST(total_pos AS HUGEINT) * (total_pos + 1))
                * 1000000
                // (2 * CAST(total_pos AS HUGEINT) * (total - total_pos))
                AS BIGINT) AS auc_micro
    FROM c GROUP BY total, total_pos
    """,
)


_CAL_BUCKETS = 10


def calibration_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile calibration / gains table: rank-bucket the score into
    {b} equal-population bins (bucket = cum_below x {b} div total —
    computed on the bounded score-group relation, so NO global sort of
    raw rows; a whole tied-score group lands in one bucket, which is
    the deterministic tie policy) and report per-bucket volume,
    conversions, conversion rate, and lift vs the base rate, all in
    integer micros.  The eval-harness companion of ``auc_rank_metric``:
    AUC summarizes ranking quality in one number, this table shows
    WHERE in the score distribution the signal lives.
    """
    c = _score_groups(spark, sf_dir)
    b = c.withColumn(
        "bucket", F.expr(f"cum_below * {_CAL_BUCKETS} div total").cast("bigint")
    )
    agg = b.groupBy("bucket").agg(
        F.sum("n").cast("bigint").alias("n"),
        F.sum("n_pos").cast("bigint").alias("n_pos"),
        F.max("total").alias("total"),
        F.max("total_pos").alias("total_pos"),
    )
    return agg.select(
        "bucket",
        "n",
        "n_pos",
        F.expr("n_pos * 1000000 div n").cast("bigint").alias("rate_micro"),
        # lift vs base rate, in micros: 1e6 = exactly the base rate
        F.expr(
            "(n_pos * 1000000 div n) * 1000000 div (total_pos * 1000000 div total)"
        )
        .cast("bigint")
        .alias("lift_micro"),
    )


calibration_buckets.__doc__ = calibration_buckets.__doc__.format(b=_CAL_BUCKETS)

register(
    "calibration_buckets",
    calibration_buckets,
    f"""
    WITH {_AUC_CTES},
    b AS (SELECT *, CAST(cum_below * {_CAL_BUCKETS} // total AS BIGINT) AS bucket
          FROM c),
    a AS (SELECT bucket, CAST(SUM(n) AS BIGINT) AS n,
                 CAST(SUM(n_pos) AS BIGINT) AS n_pos,
                 MAX(total) AS total, MAX(total_pos) AS total_pos
          FROM b GROUP BY bucket)
    SELECT bucket, n, n_pos,
           CAST(n_pos * 1000000 // n AS BIGINT) AS rate_micro,
           CAST((n_pos * 1000000 // n) * 1000000
                // (total_pos * 1000000 // total) AS BIGINT) AS lift_micro
    FROM a
    """,
)


# --------------------------------------------------------------------------
# round-9 batch — the three candidate classes from SCALE.md's r8 handoff
# (VERDICT r8 item 2): PPJoin-style EXACT set-similarity self-join,
# order-independent table content checksum, and join-size estimation
# from grouped key counts.
# --------------------------------------------------------------------------


_PPJ_TNUM, _PPJ_TDEN = 1, 2  # Jaccard threshold tau = TNUM/TDEN = 1/2

# The shingle-distinct + df-join + per-doc windows subtree is consumed
# FOUR times inside one ppjoin call (both prefix sides, both
# verification sides); without the shared_tf/_signatures session-cache
# pattern the static plan re-derives it per consumer (8 corpus scans).
@session_cached
def _ppj_tok(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, sh, pos, n): each doc's distinct 3-shingles ordered
    rarest-first by (global document frequency, shingle) — a total
    order, so the per-doc prefix is well-defined without materializing
    a global rank; both windows are PARTITIONED BY doc_id."""
    sh = _shingles(spark, sf_dir).select("doc_id", "sh").distinct()
    dfr = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
    w_doc = Window.partitionBy("doc_id")
    return sh.join(dfr, "sh").select(
        "doc_id",
        "sh",
        F.row_number().over(w_doc.orderBy("df", "sh")).alias("pos"),
        F.count(F.lit(1)).over(w_doc).alias("n"),
    )


def ppjoin_set_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Jaccard set-similarity self-join over per-document
    3-shingle SETS at threshold tau = {tnum}/{tden}, PPJoin-style
    (prefix + positional + length filters; cf. Xiao et al., "Efficient
    Similarity Joins for Near Duplicate Detection", WWW'08 — public
    algorithm): unlike the dedup family (MinHash/SimHash bands, bucket
    caps — all approximate or capped), this key GUARANTEES every pair
    with jaccard >= tau is emitted, with the exact score.

    Losslessness: order each doc's shingles rarest-first by (global
    document frequency, shingle) — a total order, so no global rank
    materialization is needed; the per-doc prefix is the first
    n - ceil(tau*n) + 1 shingles.  Any pair with |A/\\B| >= tau*max(n)
    must share a prefix shingle (prefix-filter lemma), the first shared
    one passes the positional bound 1 + min(na-pa, nb-pb) >=
    ceil((na+nb)*tau/(1+tau)), and tau <= min/max gives the length
    filter — all three prune candidates only, never results; exact
    verification (intersection count on the full sets) decides.  All
    arithmetic integer: ceil via (x + d - 1) div d, jaccard as
    n_inter*1e6 div n_union.

    Scale shape: every window is PARTITIONED BY doc_id (df join is
    shingle-keyed; the vocabulary relation is orders of magnitude
    smaller than the corpus), candidates join on rare prefix shingles
    only (measured: 27 candidates / 25 results at sf0.01, 125k / 256
    at sf0.1 vs 1.13M all-shared-shingle pairs), and verification
    touches candidate pairs only.  The ranked-token relation feeds all
    four join sides, so it is session-cached (``_ppj_tok``, the
    shared_tf/_signatures pattern): ONE corpus scan, not eight — at
    100 TB the analogous decision is writing it to a table once.  At 100 TB this is the exact-dedup
    complement to ``dedup_minhash_lsh``: same shuffle keys (shingle,
    doc_id), no all-pairs stage anywhere.
    """
    tok = _ppj_tok(spark, sf_dir)
    pre = tok.filter(
        F.col("pos")
        <= F.col("n")
        - F.expr(f"(n * {_PPJ_TNUM} + {_PPJ_TDEN} - 1) div {_PPJ_TDEN}")
        + 1
    )
    pa = pre.select(
        F.col("doc_id").alias("da"), "sh", F.col("pos").alias("pa"),
        F.col("n").alias("na"),
    )
    pb = pre.select(
        F.col("doc_id").alias("db"), "sh", F.col("pos").alias("pb"),
        F.col("n").alias("nb"),
    )
    cand = (
        pa.join(pb, "sh")
        .filter(F.col("da") < F.col("db"))
        .filter(
            F.expr(
                f"na * {_PPJ_TNUM} <= nb * {_PPJ_TDEN}"
                f" AND nb * {_PPJ_TNUM} <= na * {_PPJ_TDEN}"
            )
        )
        .filter(
            F.expr(
                f"1 + least(na - pa, nb - pb)"
                f" >= ((na + nb) * {_PPJ_TNUM} + {_PPJ_TNUM} + {_PPJ_TDEN} - 1)"
                f" div ({_PPJ_TNUM} + {_PPJ_TDEN})"
            )
        )
        .select("da", "db", "na", "nb")
        .distinct()
    )
    ta = tok.select(F.col("doc_id").alias("da"), "sh")
    tb = tok.select(F.col("doc_id").alias("db"), "sh")
    inter = (
        cand.join(ta, "da")
        .join(tb, ["db", "sh"])
        .groupBy("da", "db", "na", "nb")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return (
        inter.filter(
            F.expr(
                f"n_inter * ({_PPJ_TNUM} + {_PPJ_TDEN}) >= (na + nb) * {_PPJ_TNUM}"
            )
        )
        .select(
            F.col("da").alias("doc_a"),
            F.col("db").alias("doc_b"),
            F.col("na").cast("bigint").alias("n_a"),
            F.col("nb").cast("bigint").alias("n_b"),
            F.col("n_inter").cast("bigint").alias("n_inter"),
            (F.col("na") + F.col("nb") - F.col("n_inter"))
            .cast("bigint")
            .alias("n_union"),
            F.expr("n_inter * 1000000 div (na + nb - n_inter)")
            .cast("bigint")
            .alias("jac_micro"),
        )
    )


ppjoin_set_similarity.__doc__ = ppjoin_set_similarity.__doc__.format(
    tnum=_PPJ_TNUM, tden=_PPJ_TDEN
)

# the oracle mirrors the prefix/positional/length pruning; both engines'
# candidate sets are (identical) supersets of the result and the exact
# verification step makes the RESULT independent of the pruning anyway.
from ._text import _DK_SHINGLES as _PPJ_DK  # noqa: E402
from ._text import _shingles  # noqa: E402

register(
    "ppjoin_set_similarity",
    ppjoin_set_similarity,
    f"""
    WITH sh AS (SELECT DISTINCT doc_id, sh FROM ({_PPJ_DK})),
    dfr AS (SELECT sh, CAST(COUNT(*) AS BIGINT) AS df FROM sh GROUP BY sh),
    tok AS (SELECT doc_id, sh,
                   ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY df, sh) AS pos,
                   COUNT(*) OVER (PARTITION BY doc_id) AS n
            FROM sh JOIN dfr USING (sh)),
    pre AS (SELECT * FROM tok
            WHERE pos <= n - (n * {_PPJ_TNUM} + {_PPJ_TDEN} - 1) // {_PPJ_TDEN} + 1),
    cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db, a.n AS na, b.n AS nb
             FROM pre a JOIN pre b ON a.sh = b.sh AND a.doc_id < b.doc_id
             WHERE a.n * {_PPJ_TNUM} <= b.n * {_PPJ_TDEN}
               AND b.n * {_PPJ_TNUM} <= a.n * {_PPJ_TDEN}
               AND 1 + least(a.n - a.pos, b.n - b.pos)
                   >= ((a.n + b.n) * {_PPJ_TNUM} + {_PPJ_TNUM} + {_PPJ_TDEN} - 1)
                      // ({_PPJ_TNUM} + {_PPJ_TDEN})),
    inter AS (SELECT c.da, c.db, c.na, c.nb, CAST(COUNT(*) AS BIGINT) AS n_inter
              FROM cand c JOIN tok ta ON ta.doc_id = c.da
                          JOIN tok tb ON tb.doc_id = c.db AND tb.sh = ta.sh
              GROUP BY 1, 2, 3, 4)
    SELECT da AS doc_a, db AS doc_b,
           CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
           n_inter, CAST(na + nb - n_inter AS BIGINT) AS n_union,
           CAST(n_inter * 1000000 // (na + nb - n_inter) AS BIGINT) AS jac_micro
    FROM inter
    WHERE n_inter * ({_PPJ_TNUM} + {_PPJ_TDEN}) >= (na + nb) * {_PPJ_TNUM}
    """,
)


def _canon_col(col) -> object:
    """Canonical string of one column for row checksumming: explicit
    per-column NULL sentinel (concat_ws would silently SKIP nulls,
    making ('a', NULL, 'b') collide with ('a', 'b', NULL))."""
    return F.coalesce(col.cast("string"), F.lit("<NULL>"))


# Hashed column set + per-column canonical SQL rendering for
# ``table_content_checksum``, PINNED here as the single source of truth
# (ADVICE r11: the delimiter-contract test used to regex-scrape the
# oracle string, so a harmless SQL reformat broke it).  The oracle's
# row-canon expression is GENERATED from this dict, and
# tests/test_extras.py::test_content_checksum_delimiter_contract
# asserts the key tuple verbatim — adding a column lands there first
# and must prove its rendering is '|'-free (or adopt length-prefix
# escaping before joining).
_CHECKSUM_CANON_SQL = {
    "o_orderkey": "CAST(o_orderkey AS STRING)",
    "o_custkey": "CAST(o_custkey AS STRING)",
    "o_orderstatus": "o_orderstatus",
    "o_totalprice": (
        "CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS STRING)"
    ),
    "o_orderdate": "CAST(epoch_us(o_orderdate) AS STRING)",
    "o_orderpriority": "o_orderpriority",
}
CHECKSUM_HASHED_COLUMNS = tuple(_CHECKSUM_CANON_SQL)
_CHECKSUM_ROW_CANON_SQL = " || '|' || ".join(
    f"coalesce({expr}, '<NULL>')" for expr in _CHECKSUM_CANON_SQL.values()
)


def table_content_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent CONTENT checksum of ``orders``, per partition
    (order year) + grand total in one pass — the anti-entropy /
    replica-verification class: two replicas (or a pre/post-migration
    pair) compare per-partition (n_rows, checksum_sum, checksum_xor)
    triples and re-sync only partitions that differ, without ever
    sorting or shipping rows.  Nothing else in the registry
    fingerprints table CONTENT (``tables.source_fingerprint`` hashes
    mtime+size only).

    Determinism/portability: each row canonicalizes to a '|'-joined
    string of engine-identical renderings — BIGINT keys as decimal
    text, money as integer cents (floor(x*100+0.5)), the timestamp as
    integer MICROS (unix_micros / epoch_us — the house idiom; a raw
    timestamp-to-string cast differs in fractional-second rendering),
    explicit <NULL> sentinels — then hashes with the house md5-prefix28
    (cross-engine exact).  Delimiter assumption (ADVICE r9): the
    '|'-join is unescaped, so two rows could only collide if a field
    VALUE contained '|' — true of no ``orders`` column (keys render as
    decimal digits, money as digits, status/priority are fixed enums);
    a general-deployment port hashing free-text columns must
    length-prefix or escape fields before joining.  This contract is
    PINNED: tests/test_extras.py::test_content_checksum_delimiter_contract
    fails if the hashed column set grows or any fixture value carries
    '|'.  SUM and BIT_XOR of row hashes are
    order-independent, so the checksum is invariant to partitioning,
    shuffle order, and row order — the property that makes it a
    replica-comparison primitive.  Sum of 2^28-bounded hashes needs
    ~2^28 * N: BIGINT headroom to N ~ 3e10 rows per partition (DuckDB
    SUM is HUGEINT; cast back).

    Scale shape: ONE scan, map-side hash + partial aggregation,
    ROLLUP(year) adds the grand-total grain without a second scan;
    shuffle carries one row per (partition x grouping-set).  GROUPING()
    maps the rolled-up level to 'ALL' so a genuinely NULL year cannot
    collide with the total row.
    """
    o = load_table(spark, sf_dir, "orders")
    row_hash = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    "|",
                    _canon_col(F.col("o_orderkey")),
                    _canon_col(F.col("o_custkey")),
                    _canon_col(F.col("o_orderstatus")),
                    _canon_col(
                        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast(
                            "bigint"
                        )
                    ),
                    _canon_col(
                        F.unix_micros(F.col("o_orderdate").cast("timestamp"))
                    ),
                    _canon_col(F.col("o_orderpriority")),
                )
            ),
            1,
            7,
        ),
        16,
        10,
    ).cast("bigint")
    rows = o.select(
        F.year("o_orderdate").cast("string").alias("pk"),
        row_hash.alias("row_hash"),
    )
    agg = rows.rollup("pk").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum("row_hash").cast("bigint").alias("checksum_sum"),
        F.expr("bit_xor(row_hash)").cast("bigint").alias("checksum_xor"),
        F.grouping("pk").alias("g"),
    )
    return agg.select(
        F.when(F.col("g") == 1, F.lit("ALL"))
        .otherwise(F.coalesce(F.col("pk"), F.lit("<NULL>")))
        .alias("partition_key"),
        "n_rows",
        "checksum_sum",
        "checksum_xor",
    )


register(
    "table_content_checksum",
    table_content_checksum,
    """
    WITH rows_h AS (
      SELECT CAST(year(o_orderdate) AS STRING) AS pk,
             CAST(('0x' || substr(md5(
               """
    + _CHECKSUM_ROW_CANON_SQL
    + """
             ), 1, 7)) AS BIGINT) AS row_hash
      FROM orders)
    SELECT CASE WHEN GROUPING(pk) = 1 THEN 'ALL'
                ELSE coalesce(pk, '<NULL>') END AS partition_key,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(row_hash) AS BIGINT) AS checksum_sum,
           CAST(BIT_XOR(row_hash) AS BIGINT) AS checksum_xor
    FROM rows_h GROUP BY ROLLUP(pk)
    """,
)


_JOIN_EST_PAIRS = (
    ("customer_orders", ("customer", "c_custkey"), ("orders", "o_custkey")),
    ("orders_lineitem", ("orders", "o_orderkey"), ("lineitem", "l_orderkey")),
    ("part_lineitem", ("part", "p_partkey"), ("lineitem", "l_partkey")),
    ("supplier_lineitem", ("supplier", "s_suppkey"), ("lineitem", "l_suppkey")),
)


def join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-free EXACT join-size estimation from grouped key counts —
    the optimizer-statistics class beyond ``analyze_table_q``'s row
    counts: for each of the four TPC-H equi-join edges,
    |A JOIN B on k| = SUM over common keys of cntA(k) * cntB(k),
    computed WITHOUT executing the join (for an unfiltered inner
    equi-join the formula is an identity, pinned against the real join
    in pytest; under filters it becomes the upper bound an optimizer
    uses).  Also emits both sides' distinct-key counts and the common
    count — the containment statistics a join-reordering cost model
    feeds on.

    Scale shape: per edge, the two key columns are tagged and UNIONED,
    then ONE hash aggregate keyed by k computes both sides' counts
    (map-side partials over the union), and a global aggregate folds
    the per-key rows into the statistic — the full-outer-join
    formulation this replaces paid two exchanges + two sorts + a
    SortMergeJoin per edge for the identical multiset of per-key
    (cntA, cntB) pairs: full outer is the one join shape a broadcast
    can't serve, so the r13 optimization removes the join instead
    (4 SMJ + 8 Exchange + 8 Sort -> 0 SMJ + 4 Exchange, plan-diff in
    plans/r13/).  NULL keys are filtered explicitly — the outer join
    never matched them, so they contributed to no output column (the
    TPC-H keys are non-null anyway; the filter pins the equivalence).
    BIGINT headroom: SUM(cntA*cntB) is the true join size, which a
    100 TB plan would only materialize as this very statistic.
    """
    outs = []
    for name, (lt, lk), (rt, rk) in _JOIN_EST_PAIRS:
        la = (
            load_table(spark, sf_dir, lt)
            .filter(F.col(lk).isNotNull())
            .select(F.col(lk).alias("k"), F.lit(1).alias("is_l"))
        )
        ra = (
            load_table(spark, sf_dir, rt)
            .filter(F.col(rk).isNotNull())
            .select(F.col(rk).alias("k"), F.lit(0).alias("is_l"))
        )
        per_key = (
            la.unionAll(ra)
            .groupBy("k")
            .agg(
                F.sum("is_l").cast("bigint").alias("lcnt"),
                F.sum(1 - F.col("is_l")).cast("bigint").alias("rcnt"),
            )
        )
        both = (F.col("lcnt") > 0) & (F.col("rcnt") > 0)
        outs.append(
            per_key.agg(
                F.count(F.when(F.col("lcnt") > 0, 1))
                .cast("bigint")
                .alias("n_keys_left"),
                F.count(F.when(F.col("rcnt") > 0, 1))
                .cast("bigint")
                .alias("n_keys_right"),
                F.count(F.when(both, 1)).cast("bigint").alias("n_keys_common"),
                F.coalesce(
                    F.sum(F.when(both, F.col("lcnt") * F.col("rcnt"))),
                    F.lit(0),
                )
                .cast("bigint")
                .alias("est_rows"),
            ).select(F.lit(name).alias("join_name"), "*")
        )
    out = outs[0]
    for df in outs[1:]:
        out = out.unionByName(df)
    return out


def _join_est_oracle() -> str:
    branches = []
    for name, (lt, lk), (rt, rk) in _JOIN_EST_PAIRS:
        branches.append(
            f"""
    SELECT '{name}' AS join_name,
           CAST(COUNT(lc.k) AS BIGINT) AS n_keys_left,
           CAST(COUNT(rc.k) AS BIGINT) AS n_keys_right,
           CAST(COUNT(CASE WHEN lc.k IS NOT NULL AND rc.k IS NOT NULL
                           THEN 1 END) AS BIGINT) AS n_keys_common,
           CAST(COALESCE(SUM(lc.cnt * rc.cnt), 0) AS BIGINT) AS est_rows
    FROM (SELECT {lk} AS k, COUNT(*) AS cnt FROM {lt} GROUP BY 1) lc
    FULL OUTER JOIN (SELECT {rk} AS k, COUNT(*) AS cnt FROM {rt} GROUP BY 1) rc
      ON lc.k = rc.k"""
        )
    return "\nUNION ALL\n".join(branches)


register("join_size_estimate", join_size_estimate, _join_est_oracle())


# --------------------------------------------------------------------------
# round-9 second batch — the r10 candidate classes landed early:
# set-CONTAINMENT join (prefix-index, lossless, whole-corpus — the
# scalable complement to the capped dedup_containment SCORER),
# incremental view maintenance of a persisted aggregate from a CDC
# delta batch, and equi-depth histogram construction for optimizer
# statistics.
# --------------------------------------------------------------------------


_SCJ_TNUM, _SCJ_TDEN = 9, 10  # containment threshold t = 9/10


def subset_containment_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT set-CONTAINMENT join over the WHOLE corpus: ordered pairs
    (container a, contained b), a != b, where |A/\\B| >= t*|B| with
    t = {tnum}/{tden} over per-doc distinct 3-shingle sets — including
    the strict-subset case: is_strict_subset flags |A/\\B| = |B| AND
    |B| < |A| (equal sets satisfy B subset-of A but not STRICTLY;
    ADVICE r9 — without the |B| < |A| conjunct the column overstated
    the predicate on set-equal pairs).

    The asymmetric complement of ``ppjoin_set_similarity`` (predicate
    class: containment, not symmetric similarity) and the scalable
    complement of ``dedup_containment`` (which SCORES a doc_id-capped
    candidate set precisely because its full shared-shingle join does
    not scale): here the candidate join is lossless AND uncapped.
    Containment prefix lemma: if at least t*|B| of B's shingles are in
    A, then among B's shingles ordered rarest-first the first
    |B| - ceil(t*|B|) + 1 cannot ALL be missing from A, so joining
    ONLY b's short prefix against a's full shingle list finds every
    qualifying pair (Melnik & Garcia-Molina's prefix-index containment
    family, public literature); exact verification on the full sets
    decides.  Length filter: |A| >= ceil(t*|B|).

    Scale shape: reuses the session-cached ranked-token relation
    (``_ppj_tok``); b-side prefix shingles are the rarest (bounded
    df), so the candidate join is inverted-index-sized, never
    all-pairs; verification touches candidate pairs only.  All
    arithmetic integer (containment in micros via div).
    """
    tok = _ppj_tok(spark, sf_dir)
    pre_b = tok.filter(
        F.col("pos")
        <= F.col("n")
        - F.expr(f"(n * {_SCJ_TNUM} + {_SCJ_TDEN} - 1) div {_SCJ_TDEN}")
        + 1
    ).select(F.col("doc_id").alias("db"), "sh", F.col("n").alias("nb"))
    full_a = tok.select(F.col("doc_id").alias("da"), "sh", F.col("n").alias("na"))
    cand = (
        full_a.join(pre_b, "sh")
        .filter(F.col("da") != F.col("db"))
        .filter(F.expr(f"na * {_SCJ_TDEN} >= nb * {_SCJ_TNUM}"))
        .select("da", "db", "na", "nb")
        .distinct()
    )
    ta = tok.select(F.col("doc_id").alias("da"), "sh")
    tb = tok.select(F.col("doc_id").alias("db"), "sh")
    inter = (
        cand.join(ta, "da")
        .join(tb, ["db", "sh"])
        .groupBy("da", "db", "na", "nb")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return (
        inter.filter(
            F.expr(f"n_inter * {_SCJ_TDEN} >= nb * {_SCJ_TNUM}")
        ).select(
            F.col("da").alias("doc_container"),
            F.col("db").alias("doc_contained"),
            F.col("na").cast("bigint").alias("n_container"),
            F.col("nb").cast("bigint").alias("n_contained"),
            F.col("n_inter").cast("bigint").alias("n_inter"),
            F.expr("n_inter * 1000000 div nb").cast("bigint").alias(
                "containment_micro"
            ),
            (
                (F.col("n_inter") == F.col("nb"))
                & (F.col("n_inter") < F.col("na"))
            ).alias("is_strict_subset"),
        )
    )


subset_containment_join.__doc__ = subset_containment_join.__doc__.format(
    tnum=_SCJ_TNUM, tden=_SCJ_TDEN
)

register(
    "subset_containment_join",
    subset_containment_join,
    f"""
    WITH sh AS (SELECT DISTINCT doc_id, sh FROM ({_PPJ_DK})),
    dfr AS (SELECT sh, CAST(COUNT(*) AS BIGINT) AS df FROM sh GROUP BY sh),
    tok AS (SELECT doc_id, sh,
                   ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY df, sh) AS pos,
                   COUNT(*) OVER (PARTITION BY doc_id) AS n
            FROM sh JOIN dfr USING (sh)),
    pre_b AS (SELECT doc_id AS db, sh, n AS nb FROM tok
              WHERE pos <= n - (n * {_SCJ_TNUM} + {_SCJ_TDEN} - 1) // {_SCJ_TDEN} + 1),
    cand AS (SELECT DISTINCT a.doc_id AS da, b.db, a.n AS na, b.nb
             FROM tok a JOIN pre_b b ON a.sh = b.sh AND a.doc_id <> b.db
             WHERE a.n * {_SCJ_TDEN} >= b.nb * {_SCJ_TNUM}),
    inter AS (SELECT c.da, c.db, c.na, c.nb, CAST(COUNT(*) AS BIGINT) AS n_inter
              FROM cand c JOIN tok ta ON ta.doc_id = c.da
                          JOIN tok tb ON tb.doc_id = c.db AND tb.sh = ta.sh
              GROUP BY 1, 2, 3, 4)
    SELECT da AS doc_container, db AS doc_contained,
           CAST(na AS BIGINT) AS n_container, CAST(nb AS BIGINT) AS n_contained,
           n_inter,
           CAST(n_inter * 1000000 // nb AS BIGINT) AS containment_micro,
           n_inter = nb AND n_inter < na AS is_strict_subset
    FROM inter
    WHERE n_inter * {_SCJ_TDEN} >= nb * {_SCJ_TNUM}
    """,
)


_IVM_INS_MOD = 10  # event_id % 10 == 0  -> the delta INSERT batch
_IVM_DEL_MOD = 17  # base rows with event_id % 17 == 0 -> retractions


def _ivm_cents() -> object:
    return F.expr("cast(floor(value * 100 + 0.5) as bigint)")


def _ivm_base_agg_layout(spark: SparkSession, sf_dir: str) -> str:
    """Write (once per session+sf) the maintained VIEW — per event_type
    (n, sum_cents) over the BASE slice of events — as a parquet table.
    The point of IVM is that later delta batches merge into this STORED
    state without rescanning the base."""
    return write_once(
        derived_layout_path(spark, "ivm_base_agg", sf_dir, "events"),
        lambda: load_table(spark, sf_dir, "events")
        .filter(F.col("event_id") % _IVM_INS_MOD != 0)
        .select("event_type", _ivm_cents().alias("cents"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_base"),
            F.sum("cents").cast("bigint").alias("sum_cents_base"),
        )
        .coalesce(1)  # bounded output: one row per event_type
        .write,
    )


def agg_ivm_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance of a persisted AGGREGATE from a CDC
    delta batch — the class ``cdc_apply`` (which maintains a TABLE)
    does not cover: the per-event_type (count, sum) view is stored
    once (``_ivm_base_agg_layout``), then a delta batch of inserts
    (event_id % {ins} == 0) and retractions (base rows with
    event_id % {del_} == 0) is folded in as SIGNED partial aggregates
    (+1/+cents for inserts, -1/-cents for deletes) — one scan of the
    delta, one merge join against the metadata-sized stored view,
    never a rescan of the base facts.

    COUNT and SUM are self-maintainable under deletes; MIN/MAX are NOT
    (a deleted extremum forces a base rescan) — which is exactly why
    the maintained view carries only the self-maintainable pair.  The
    checked contract (house quantile-rollup protocol) recomputes the
    view from scratch over (base - deletes) + inserts ON THE SPARK
    SIDE and emits the equality as ``ivm_equals_recompute``; the
    oracle re-derives the identical integer arithmetic.
    """
    stored = read_stable_parquet(spark, _ivm_base_agg_layout(spark, sf_dir))
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "event_id", _ivm_cents().alias("cents")
    )
    is_ins = F.col("event_id") % _IVM_INS_MOD == 0
    is_del = (F.col("event_id") % _IVM_INS_MOD != 0) & (
        F.col("event_id") % _IVM_DEL_MOD == 0
    )
    delta = (
        ev.filter(is_ins | is_del)
        .select(
            "event_type",
            F.when(is_ins, 1).otherwise(-1).alias("w"),
            "cents",
        )
        .groupBy("event_type")
        .agg(
            F.sum("w").cast("bigint").alias("dn"),
            F.sum(F.col("w") * F.col("cents")).cast("bigint").alias("dsum"),
            F.sum(F.when(F.col("w") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_ins"),
            F.sum(F.when(F.col("w") == -1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_del"),
        )
    )
    merged = (
        stored.join(delta, "event_type", "full_outer")
        .select(
            "event_type",
            F.coalesce(F.col("n_base"), F.lit(0)).alias("n_base"),
            F.coalesce(F.col("n_ins"), F.lit(0)).alias("n_ins"),
            F.coalesce(F.col("n_del"), F.lit(0)).alias("n_del"),
            (
                F.coalesce(F.col("n_base"), F.lit(0))
                + F.coalesce(F.col("dn"), F.lit(0))
            )
            .cast("bigint")
            .alias("n_after"),
            (
                F.coalesce(F.col("sum_cents_base"), F.lit(0))
                + F.coalesce(F.col("dsum"), F.lit(0))
            )
            .cast("bigint")
            .alias("sum_cents_after"),
        )
    )
    recompute = (
        ev.filter(is_ins | ~is_del)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rec"),
            F.sum("cents").cast("bigint").alias("sum_rec"),
        )
    )
    return (
        merged.join(recompute, "event_type", "full_outer")
        .select(
            "event_type",
            "n_base",
            "n_ins",
            "n_del",
            "n_after",
            "sum_cents_after",
            (
                (F.col("n_after") == F.coalesce(F.col("n_rec"), F.lit(0)))
                & (
                    F.col("sum_cents_after")
                    == F.coalesce(F.col("sum_rec"), F.lit(0))
                )
            ).alias("ivm_equals_recompute"),
        )
    )


agg_ivm_delta.__doc__ = agg_ivm_delta.__doc__.format(
    ins=_IVM_INS_MOD, del_=_IVM_DEL_MOD
)

register(
    "agg_ivm_delta",
    agg_ivm_delta,
    f"""
    WITH ev AS (SELECT event_type, event_id,
                       CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
                FROM events),
    base AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_base,
                    CAST(SUM(cents) AS BIGINT) AS sum_cents_base
             FROM ev WHERE event_id % {_IVM_INS_MOD} <> 0 GROUP BY 1),
    delta AS (SELECT event_type,
                     CAST(SUM(w) AS BIGINT) AS dn,
                     CAST(SUM(w * cents) AS BIGINT) AS dsum,
                     CAST(SUM(CASE WHEN w = 1 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_ins,
                     CAST(SUM(CASE WHEN w = -1 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_del
              FROM (SELECT event_type, cents,
                           CASE WHEN event_id % {_IVM_INS_MOD} = 0 THEN 1
                                ELSE -1 END AS w
                    FROM ev
                    WHERE event_id % {_IVM_INS_MOD} = 0
                       OR event_id % {_IVM_DEL_MOD} = 0)
              GROUP BY 1),
    merged AS (SELECT coalesce(b.event_type, d.event_type) AS event_type,
                      coalesce(b.n_base, 0) AS n_base,
                      coalesce(d.n_ins, 0) AS n_ins,
                      coalesce(d.n_del, 0) AS n_del,
                      CAST(coalesce(b.n_base, 0) + coalesce(d.dn, 0) AS BIGINT)
                        AS n_after,
                      CAST(coalesce(b.sum_cents_base, 0) + coalesce(d.dsum, 0)
                           AS BIGINT) AS sum_cents_after
               FROM base b FULL OUTER JOIN delta d
                 ON b.event_type = d.event_type),
    rec AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_rec,
                   CAST(SUM(cents) AS BIGINT) AS sum_rec
            FROM ev
            WHERE event_id % {_IVM_INS_MOD} = 0
               OR NOT (event_id % {_IVM_INS_MOD} <> 0
                       AND event_id % {_IVM_DEL_MOD} = 0)
            GROUP BY 1)
    SELECT coalesce(m.event_type, r.event_type) AS event_type,
           m.n_base, m.n_ins, m.n_del, m.n_after, m.sum_cents_after,
           m.n_after = coalesce(r.n_rec, 0)
             AND m.sum_cents_after = coalesce(r.sum_rec, 0)
             AS ivm_equals_recompute
    FROM merged m FULL OUTER JOIN rec r ON m.event_type = r.event_type
    """,
)


_EDH_BUCKETS = 8


def equi_depth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth histogram of ``o_totalprice`` in {b} buckets with
    per-bucket NDV — the optimizer-statistics ARTIFACT beyond
    ``analyze_table_q``'s row counts and ``join_size_estimate``'s key
    counts: an optimizer estimates range-predicate selectivity from
    exactly this (bucket bounds + depth + distinct values per bucket).

    Distributed shape (the ``_score_groups`` idiom): prices quantize
    to WHOLE DOLLARS, so the grouped relation is bounded by the PRICE
    RANGE — not the row count — at any input size; the global-order
    window (cum_below) runs on that resolution-bounded relation, never
    on raw fact rows (an ntile over raw rows would globally sort the
    table).  Bucket = cum_below * {b} div total, so a whole tied
    dollar-group lands in one bucket (the deterministic tie policy
    shared with ``calibration_buckets``; true equi-depth up to
    tie-group granularity).  All arithmetic integer.
    """
    o = load_table(spark, sf_dir, "orders").select(
        F.expr(
            "cast(floor(o_totalprice * 100 + 0.5) as bigint) div 100"
        ).alias("dollar")
    )
    g = o.groupBy("dollar").agg(F.count(F.lit(1)).alias("cnt"))
    w_below = Window.orderBy("dollar").rowsBetween(Window.unboundedPreceding, -1)
    c = g.select(
        "dollar",
        "cnt",
        F.coalesce(F.sum("cnt").over(w_below), F.lit(0)).alias("cum_below"),
        F.sum("cnt").over(Window.partitionBy()).alias("total"),
    )
    b = c.withColumn(
        "bucket", F.expr(f"cum_below * {_EDH_BUCKETS} div total").cast("bigint")
    )
    return b.groupBy("bucket").agg(
        F.min("dollar").cast("bigint").alias("lo_dollar"),
        F.max("dollar").cast("bigint").alias("hi_dollar"),
        F.sum("cnt").cast("bigint").alias("n_rows"),
        F.count(F.lit(1)).cast("bigint").alias("ndv_dollars"),
    )


equi_depth_histogram.__doc__ = equi_depth_histogram.__doc__.format(b=_EDH_BUCKETS)

register(
    "equi_depth_histogram",
    equi_depth_histogram,
    f"""
    WITH g AS (SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) // 100
                        AS dollar,
                      CAST(COUNT(*) AS BIGINT) AS cnt
               FROM orders GROUP BY 1),
    c AS (SELECT dollar, cnt,
                 CAST(coalesce(SUM(cnt) OVER (ORDER BY dollar
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                      AS BIGINT) AS cum_below,
                 CAST(SUM(cnt) OVER () AS BIGINT) AS total
          FROM g),
    b AS (SELECT *, CAST(cum_below * {_EDH_BUCKETS} // total AS BIGINT)
                      AS bucket
          FROM c)
    SELECT bucket, CAST(MIN(dollar) AS BIGINT) AS lo_dollar,
           CAST(MAX(dollar) AS BIGINT) AS hi_dollar,
           CAST(SUM(cnt) AS BIGINT) AS n_rows,
           CAST(COUNT(*) AS BIGINT) AS ndv_dollars
    FROM b GROUP BY bucket
    """,
)


# --------------------------------------------------------------------------
# round-9 third batch — two of the refreshed r10 candidates with clean
# lossless oracles: the two-sample distribution-DISTANCE statistic and
# the join-key skew profile (the salting-decision artifact).
# V-optimal histogram stays a named candidate: its driver-side DP has
# no tractable independent SQL oracle, and the house rule is
# oracle-backed or not landed.
# --------------------------------------------------------------------------


def ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov distance between purchase and
    non-purchase event VALUES, in pure integer arithmetic — the
    distribution-DISTANCE class (``welch_ttest_q`` compares means,
    ``corpus_drift_kl`` token distributions; nothing previously
    compared full CDFs): D = max over values of
    |cumA(v)*nB - cumB(v)*nA| / (nA*nB), the exact KS statistic
    because cross-multiplying the two empirical CDFs by the opposite
    sample size keeps every comparison in exact integer arithmetic —
    DECIMAL(38,0) / HUGEINT, since the products reach nA*nB ~ N^2/4
    which leaves BIGINT at ~6e9 total rows (no float CDFs to
    accumulate out of order).

    Distributed shape (the ``_score_groups`` idiom): values quantize
    to integer cents, so the grouped relation is bounded by the VALUE
    RANGE at any input size and the cumulative windows never touch raw
    fact rows.  The argmax value is tie-broken to the SMALLEST cents
    (conditional MIN against the gap maximum); the final ratio runs in
    DECIMAL(38,0) / HUGEINT like ``auc_rank_metric`` (cum*n products
    reach N^2/4).  One scan, one bounded-relation window pair, one
    single-row aggregate.
    """
    e = load_table(spark, sf_dir, "events").select(
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("cents"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("a"),
    )
    g = e.groupBy("cents").agg(
        F.sum("a").cast("bigint").alias("na_i"),
        F.sum(F.lit(1) - F.col("a")).cast("bigint").alias("nb_i"),
    )
    w_cum = Window.orderBy("cents").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.partitionBy()
    c = g.select(
        "cents",
        F.sum("na_i").over(w_cum).alias("cum_a"),
        F.sum("nb_i").over(w_cum).alias("cum_b"),
        F.sum("na_i").over(w_all).alias("n_a"),
        F.sum("nb_i").over(w_all).alias("n_b"),
    )
    # The cross-multiply runs in DECIMAL(38,0) / HUGEINT end to end
    # (VERDICT r9): cum*n products reach nA*nB ~ N^2/4, past BIGINT
    # once the two samples total ~6e9 rows — exactly the event-log
    # scale this key targets.  Only the final d_num column casts down.
    gap = F.abs(
        F.col("cum_a").cast("decimal(38,0)") * F.col("n_b")
        - F.col("cum_b").cast("decimal(38,0)") * F.col("n_a")
    )
    # argmax location via gmax-over-all + conditional MIN: a packed
    # gap*K+cents argmax would need the pack headroom on top of the
    # N^2 gap; the extra window runs on the same bounded relation as
    # the totals.
    k = c.select("n_a", "n_b", gap.alias("gap"), "cents").withColumn(
        "gmax", F.max("gap").over(Window.partitionBy())
    )
    return (
        k.groupBy("n_a", "n_b")
        .agg(
            F.max("gap").alias("d_num_dec"),
            F.min(F.when(F.col("gap") == F.col("gmax"), F.col("cents")))
            .cast("bigint")
            .alias("at_cents"),
        )
        .select(
            "n_a",
            "n_b",
            F.col("d_num_dec").cast("bigint").alias("d_num"),
            # nullif degenerate-sample guard (ADVICE r9): with an empty
            # sample nA*nB = 0 — Spark's div would yield NULL while
            # DuckDB's // errors, so BOTH engines route through NULLIF
            # and agree on NULL.
            F.expr(
                "CAST((d_num_dec * 1000000)"
                " div nullif(CAST(n_a AS DECIMAL(38,0)) * n_b, 0) AS BIGINT)"
            ).alias("ks_micro"),
            "at_cents",
        )
    )


register(
    "ks_two_sample",
    ks_two_sample,
    """
    WITH e AS (SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
                      CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS a
               FROM events),
    g AS (SELECT cents, CAST(SUM(a) AS BIGINT) AS na_i,
                 CAST(SUM(1 - a) AS BIGINT) AS nb_i
          FROM e GROUP BY 1),
    c AS (SELECT cents,
                 CAST(SUM(na_i) OVER (ORDER BY cents
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      AS BIGINT) AS cum_a,
                 CAST(SUM(nb_i) OVER (ORDER BY cents
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      AS BIGINT) AS cum_b,
                 CAST(SUM(na_i) OVER () AS BIGINT) AS n_a,
                 CAST(SUM(nb_i) OVER () AS BIGINT) AS n_b
          FROM g),
    k AS (SELECT n_a, n_b,
                 abs(CAST(cum_a AS HUGEINT) * n_b
                     - CAST(cum_b AS HUGEINT) * n_a) AS gap,
                 MAX(abs(CAST(cum_a AS HUGEINT) * n_b
                         - CAST(cum_b AS HUGEINT) * n_a)) OVER () AS gmax,
                 cents
          FROM c)
    SELECT n_a, n_b, CAST(MAX(gap) AS BIGINT) AS d_num,
           CAST((MAX(gap) * 1000000)
                // NULLIF(CAST(n_a AS HUGEINT) * n_b, 0) AS BIGINT) AS ks_micro,
           CAST(MIN(CASE WHEN gap = gmax THEN cents END) AS BIGINT) AS at_cents
    FROM k GROUP BY n_a, n_b
    """,
)


_SKEW_COLUMNS = (
    ("lineitem", "l_orderkey"),
    ("lineitem", "l_partkey"),
    ("lineitem", "l_suppkey"),
    ("orders", "o_custkey"),
)
# Pack modulus for the cnt*PACK+key argmax.  10^18 (not 10^9): the pack
# runs in DECIMAL(38,0) / HUGEINT (ADVICE r9 — a BIGINT cnt*1e9+key pack
# silently truncates heaviest_key and overflows once keys reach 1e9,
# i.e. TPC-H l_orderkey at SF >~ 250), so headroom is keys < 1e18
# (TPC-H orderkeys at 100 TB ~ SF 1e5 reach only ~6e11) and
# cnt <= 1e20 (DECIMAL(38,0) holds cnt*1e18 to 1e38).  The literal
# still fits BIGINT so both engines parse it as an integer.
_SKEW_PACK = 1_000_000_000_000_000_000


def join_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key SKEW profile for the four hot TPC-H join columns — the
    salting-decision artifact (the diagnostics sibling of
    ``join_size_estimate``): per column, row count, distinct keys,
    the heaviest key and its count, and the skew factor
    max_cnt / (N/D) in integer micros — the number an engine compares
    against its skew-join threshold to decide salting / AQE skew
    splitting.

    Shape: one grouped count per column (map-side partials, shuffle on
    the key) reduced by ONE aggregate — the heavy key is taken with
    the house packed-argmax idiom (cnt * 1e18 + key, ties to the
    LARGEST key; rendezvous_resharding precedent) so there is no
    join-back and no window; the pack AND the skew ratio both run in
    DECIMAL(38,0) / HUGEINT, so the headroom claim is real at 100 TB:
    keys < 1e18 and per-key counts across the full BIGINT range stay
    exact (the pack value cnt*1e18+key needs 38 digits only at
    cnt ~ 1e20, far past the BIGINT output column's own domain; ADVICE
    r9 — the old BIGINT cnt*1e9+key pack corrupted silently at
    keys >= 1e9).
    Four single-row aggregates unioned — no cartesian anywhere.
    """
    outs = []
    for table, col in _SKEW_COLUMNS:
        counts = (
            load_table(spark, sf_dir, table)
            .groupBy(F.col(col).alias("k"))
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        packed = F.col("cnt").cast("decimal(38,0)") * F.lit(_SKEW_PACK) + F.col(
            "k"
        )
        outs.append(
            counts.agg(
                F.sum("cnt").cast("bigint").alias("n_rows"),
                F.count(F.lit(1)).cast("bigint").alias("n_keys"),
                F.max(packed).alias("mp"),
            ).select(
                F.lit(f"{table}.{col}").alias("join_col"),
                "n_rows",
                "n_keys",
                F.expr(f"mp div {_SKEW_PACK}").cast("bigint").alias("max_cnt"),
                F.expr(f"mp % {_SKEW_PACK}").cast("bigint").alias("heaviest_key"),
                F.expr(
                    f"CAST((CAST(mp div {_SKEW_PACK} AS DECIMAL(38,0))"
                    " * n_keys * 1000000)"
                    " div CAST(n_rows AS DECIMAL(38,0)) AS BIGINT)"
                ).alias("skew_micro"),
            )
        )
    out = outs[0]
    for df in outs[1:]:
        out = out.unionByName(df)
    return out


def _skew_oracle() -> str:
    branches = []
    for table, col in _SKEW_COLUMNS:
        branches.append(
            f"""
    SELECT '{table}.{col}' AS join_col,
           CAST(SUM(cnt) AS BIGINT) AS n_rows,
           CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(MAX(CAST(cnt AS HUGEINT) * {_SKEW_PACK} + k)
                // {_SKEW_PACK} AS BIGINT) AS max_cnt,
           CAST(MAX(CAST(cnt AS HUGEINT) * {_SKEW_PACK} + k)
                % {_SKEW_PACK} AS BIGINT) AS heaviest_key,
           CAST((MAX(CAST(cnt AS HUGEINT) * {_SKEW_PACK} + k) // {_SKEW_PACK}
                 * COUNT(*) * 1000000)
                // CAST(SUM(cnt) AS HUGEINT) AS BIGINT) AS skew_micro
    FROM (SELECT {col} AS k, CAST(COUNT(*) AS BIGINT) AS cnt
          FROM {table} GROUP BY 1)"""
        )
    return "\nUNION ALL\n".join(branches)


register("join_key_skew_profile", join_key_skew_profile, _skew_oracle())


# --------------------------------------------------------------------------
# round-10 batch — the two candidate classes from SCALE.md's r9 handoff
# (VERDICT r9 items 2-3): the V-optimal histogram, landed by solving its
# oracle problem with a bounded-B unrolled DP (the markov_steady_state
# chained-CTE precedent: aggregates-in-recursion are banned on both
# engines, so each DP level is one explicit self-join + grouped argmin),
# and the two-level Merkle partition-diff extending table_content_checksum
# to the full anti-entropy protocol.
# --------------------------------------------------------------------------


_VOPT_B = 4  # histogram buckets; the DP unrolls B-1 = 3 join levels
_VOPT_CELL = 100_000  # cents per value cell ($1000) — bounds the domain M
_VOPT_PACK = 1_000_000  # argmin pack modulus: M << 1e6 by construction

# The DP consumes the M-row (i, v, p, pp, e1) relation on BOTH sides of
# every unrolled level plus the backtrack joins; without the session
# cache the static plan re-derives the orders scan per consumer
# (measured: 43 scans — the _ppj_tok lesson, 5th shared relation).
@session_cached
def _vopt_pref(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(i, v, p, pp, e1): $1000-cell frequencies with 1-indexed rank,
    prefix sums P = cum f and PP = cum f^2 in DECIMAL(38,0), and the
    closed-form one-bucket cost e1(i) = SSE(0..i] in micros."""
    g = (
        load_table(spark, sf_dir, "orders")
        .select(
            F.expr(
                f"cast(floor(o_totalprice * 100 + 0.5) as bigint)"
                f" div {_VOPT_CELL}"
            ).alias("v")
        )
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    w_ord = Window.orderBy("v")
    w_cum = w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return g.select(
        F.row_number().over(w_ord).cast("bigint").alias("i"),
        "v",
        F.sum("f").over(w_cum).cast("decimal(38,0)").alias("p"),
        F.sum(F.col("f").cast("decimal(38,0)") * F.col("f"))
        .over(w_cum)
        .alias("pp"),
    ).withColumn(
        "e1",
        F.expr("CAST(pp * 1000000 - (p * p * 1000000) div i AS DECIMAL(38,0))"),
    )


def v_optimal_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V-optimal histogram of ``o_totalprice`` in {b} buckets (Jagadish
    et al., "Optimal Histograms with Quality Guarantees", VLDB'98 —
    public algorithm): bucket boundaries minimizing total SSE of the
    per-cell frequencies, Sum over buckets of Sum_i (f_i - mean_f)^2 —
    the QUALITY-optimal counterpart of ``equi_depth_histogram`` (equal
    mass, no error guarantee) and the last member of the
    optimizer-statistics family.  DP recurrence
    E[i][k] = min_j E[j][k-1] + SSE(j+1..i) over prefix sums
    P = cum f, PP = cum f^2, with SSE(j..i] = (PP_i - PP_j)
    - (P_i - P_j)^2 / (i - j), unrolled to {bm1} explicit levels.

    Exact-integer determinism: costs are micros-scaled and
    floor-divided — identical on both engines — and every argmin is
    the house DECIMAL(38,0)/HUGEINT packed MIN (cost * 1e6 + j, ties
    to the SMALLEST split); the result is the exact optimum of the
    micros-rounded cost, and ANSI mode turns any headroom breach into
    a loud error, never silent corruption.

    Scale shape: prices quantize to $1000 CELLS, so the DP relation is
    bounded by the VALUE RANGE (M ~ hundreds), never the row count —
    one scan + map-side partials builds (v, f); every level is a
    broadcast nested-loop join of two M-row statistics relations
    (M^2 ~ 3e5 pairs: the quadratic runs on the resolution-bounded
    domain, the Jagadish framing), and the backtrack joins are
    metadata-sized.  The prefix relation is session-cached
    (``_vopt_pref``) so the corpus is scanned ONCE, not once per DP
    consumer (measured 43 static scans without it).
    """
    pref = _vopt_pref(spark, sf_dir)

    def _level(prev: DataFrame, ecol: str) -> DataFrame:
        """One DP level: argmin over split j of prev-level cost + SSE of
        the new rightmost bucket (j..i]; packed-MIN ties to smallest j."""
        jb = prev.select(
            F.col("i").alias("jb"),
            F.col("p").alias("pjb"),
            F.col("pp").alias("ppjb"),
            F.col(ecol).alias("ejb"),
        )
        return (
            pref.join(F.broadcast(jb), F.col("jb") < F.col("i"))
            .withColumn(
                "cost",
                F.expr(
                    "ejb + (pp - ppjb) * 1000000"
                    " - (((p - pjb) * (p - pjb)) * 1000000) div (i - jb)"
                ),
            )
            .withColumn("packed", F.expr(f"cost * {_VOPT_PACK} + jb"))
            .groupBy("i", "p", "pp")
            .agg(F.min("packed").alias("mp"))
        )

    lvl2 = _level(pref, "e1").select(
        "i",
        "p",
        "pp",
        F.expr(f"CAST(mp div {_VOPT_PACK} AS DECIMAL(38,0))").alias("e2"),
        F.expr(f"CAST(mp % {_VOPT_PACK} AS BIGINT)").alias("j1"),
    )
    lvl3 = _level(lvl2, "e2").select(
        "i",
        F.expr(f"CAST(mp div {_VOPT_PACK} AS DECIMAL(38,0))").alias("e3"),
        F.expr(f"CAST(mp % {_VOPT_PACK} AS BIGINT)").alias("j2"),
    )
    # final level: only the full-domain row i = M needs an answer
    last = (
        pref.withColumn("mx", F.max("i").over(Window.partitionBy()))
        .filter(F.col("i") == F.col("mx"))
        .drop("mx")
    )
    jb3 = lvl3.join(
        pref.select("i", F.col("p").alias("pjb"), F.col("pp").alias("ppjb")),
        "i",
    ).select(
        F.col("i").alias("jb"), "pjb", "ppjb", F.col("e3").alias("ejb"), "j2"
    )
    bt = (
        last.join(F.broadcast(jb3), F.col("jb") < F.col("i"))
        .withColumn(
            "cost",
            F.expr(
                "ejb + (pp - ppjb) * 1000000"
                " - (((p - pjb) * (p - pjb)) * 1000000) div (i - jb)"
            ),
        )
        .withColumn("packed", F.expr(f"cost * {_VOPT_PACK} + jb"))
        .groupBy(F.col("i").alias("m_i"))
        .agg(F.min("packed").alias("mp"))
        .select(
            "m_i",
            F.expr(f"CAST(mp div {_VOPT_PACK} AS BIGINT)").alias("e4_micro"),
            F.expr(f"CAST(mp % {_VOPT_PACK} AS BIGINT)").alias("j3"),
        )
        .join(F.broadcast(lvl3.select(F.col("i").alias("j3"), "j2")), "j3")
        .join(F.broadcast(lvl2.select(F.col("i").alias("j2"), "j1")), "j2")
    )
    bounds = None
    for b, lo, hi in (
        (1, F.lit(0).cast("bigint"), F.col("j1")),
        (2, F.col("j1"), F.col("j2")),
        (3, F.col("j2"), F.col("j3")),
        (4, F.col("j3"), F.col("m_i")),
    ):
        part = bt.select(
            F.lit(b).cast("bigint").alias("bucket_id"),
            lo.alias("lo_i"),
            hi.alias("hi_i"),
        )
        bounds = part if bounds is None else bounds.unionByName(part)
    zero = spark.range(1).select(
        F.lit(0).cast("bigint").alias("i"),
        F.lit(None).cast("bigint").alias("v"),
        F.lit(0).cast("decimal(38,0)").alias("p"),
        F.lit(0).cast("decimal(38,0)").alias("pp"),
    )
    pz = pref.select("i", "v", "p", "pp").unionByName(zero)
    return (
        bounds.join(
            F.broadcast(
                pz.select(
                    F.col("i").alias("lo_i"),
                    F.col("p").alias("p_lo"),
                    F.col("pp").alias("pp_lo"),
                )
            ),
            "lo_i",
        )
        .join(
            F.broadcast(
                pref.select(
                    F.col("i").alias("hi_i"),
                    F.col("v").alias("v_hi"),
                    F.col("p").alias("p_hi"),
                    F.col("pp").alias("pp_hi"),
                )
            ),
            "hi_i",
        )
        .join(
            F.broadcast(
                pref.select(
                    (F.col("i") - 1).alias("lo_i"), F.col("v").alias("v_lo")
                )
            ),
            "lo_i",
        )
        .select(
            "bucket_id",
            F.col("v_lo").cast("bigint").alias("v_lo"),
            F.col("v_hi").cast("bigint").alias("v_hi"),
            (F.col("hi_i") - F.col("lo_i")).cast("bigint").alias("n_values"),
            (F.col("p_hi") - F.col("p_lo")).cast("bigint").alias("n_rows"),
            F.expr(
                "CAST((pp_hi - pp_lo) * 1000000"
                " - (((p_hi - p_lo) * (p_hi - p_lo)) * 1000000)"
                " div (hi_i - lo_i) AS BIGINT)"
            ).alias("sse_micro"),
        )
    )


v_optimal_histogram.__doc__ = v_optimal_histogram.__doc__.format(
    b=_VOPT_B, bm1=_VOPT_B - 1
)


def _vopt_sse_sql(i: str, j: str) -> str:
    """Micros-scaled integer SSE of the bucket (j..i], HUGEINT-exact."""
    return (
        f"({i}.pp - {j}.pp) * 1000000"
        f" - (({i}.p - {j}.p) * ({i}.p - {j}.p) * 1000000) // ({i}.i - {j}.i)"
    )


register(
    "v_optimal_histogram",
    v_optimal_histogram,
    f"""
    WITH g AS (SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                        // {_VOPT_CELL} AS v,
                      CAST(COUNT(*) AS BIGINT) AS f
               FROM orders GROUP BY 1),
    pref AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY v) AS BIGINT) AS i, v,
                    CAST(SUM(f) OVER w AS HUGEINT) AS p,
                    CAST(SUM(CAST(f AS HUGEINT) * f) OVER w AS HUGEINT) AS pp
             FROM g
             WINDOW w AS (ORDER BY v
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
    p1 AS (SELECT *, pp * 1000000 - (p * p * 1000000) // i AS e1 FROM pref),
    l2 AS (SELECT a.i, a.p, a.pp,
                  MIN((b.e1 + {_vopt_sse_sql("a", "b")}) * {_VOPT_PACK} + b.i)
                    AS mp
           FROM p1 a JOIN p1 b ON b.i < a.i GROUP BY 1, 2, 3),
    l2e AS (SELECT i, p, pp, mp // {_VOPT_PACK} AS e2,
                   CAST(mp % {_VOPT_PACK} AS BIGINT) AS j1 FROM l2),
    l3 AS (SELECT a.i,
                  MIN((b.e2 + {_vopt_sse_sql("a", "b")}) * {_VOPT_PACK} + b.i)
                    AS mp
           FROM pref a JOIN l2e b ON b.i < a.i GROUP BY 1),
    l3e AS (SELECT i, mp // {_VOPT_PACK} AS e3,
                   CAST(mp % {_VOPT_PACK} AS BIGINT) AS j2 FROM l3),
    lastr AS (SELECT * FROM pref WHERE i = (SELECT MAX(i) FROM pref)),
    l3j AS (SELECT l3e.i, pref.p, pref.pp, l3e.e3, l3e.j2
            FROM l3e JOIN pref ON pref.i = l3e.i),
    l4 AS (SELECT a.i AS m_i,
                  MIN((b.e3 + {_vopt_sse_sql("a", "b")}) * {_VOPT_PACK} + b.i)
                    AS mp
           FROM lastr a JOIN l3j b ON b.i < a.i GROUP BY 1),
    bt AS (SELECT l4.m_i, CAST(l4.mp % {_VOPT_PACK} AS BIGINT) AS j3,
                  x3.j2, x2.j1
           FROM l4
           JOIN l3e x3 ON x3.i = CAST(l4.mp % {_VOPT_PACK} AS BIGINT)
           JOIN l2e x2 ON x2.i = x3.j2),
    bounds AS (SELECT CAST(1 AS BIGINT) AS bucket_id,
                      CAST(0 AS BIGINT) AS lo_i, j1 AS hi_i FROM bt
               UNION ALL SELECT 2, j1, j2 FROM bt
               UNION ALL SELECT 3, j2, j3 FROM bt
               UNION ALL SELECT 4, j3, m_i FROM bt),
    pz AS (SELECT i, v, p, pp FROM pref
           UNION ALL
           SELECT 0, NULL, CAST(0 AS HUGEINT), CAST(0 AS HUGEINT))
    SELECT b.bucket_id,
           CAST(vlo.v AS BIGINT) AS v_lo,
           CAST(hi.v AS BIGINT) AS v_hi,
           CAST(b.hi_i - b.lo_i AS BIGINT) AS n_values,
           CAST(hi.p - lo.p AS BIGINT) AS n_rows,
           CAST((hi.pp - lo.pp) * 1000000
                - ((hi.p - lo.p) * (hi.p - lo.p) * 1000000)
                  // (b.hi_i - b.lo_i) AS BIGINT) AS sse_micro
    FROM bounds b
    JOIN pz lo ON lo.i = b.lo_i
    JOIN pref hi ON hi.i = b.hi_i
    JOIN pref vlo ON vlo.i = b.lo_i + 1
    """,
)


_MRK_CHANGED = 1009  # vintage B: orderkeys % 1009 == 0 get +1 cent
_MRK_DELETED = 997  # vintage B: orderkeys % 997 == 0 are absent
_MRK_RANGE = 4_000  # orderkeys per leaf range cell

# Each vintage's leaves feed the range diff, the Merkle fold AND the
# semi-join's re-derivation of the fold; uncached, the static plan
# re-scans orders per consumer (measured 6 scans — the protocol's
# whole point is ONE scan per replica).  Bounded: #partitions x
# #ranges rows.
@session_cached
def _merkle_leaves(spark: SparkSession, sf_dir: str, vintage_b: bool) -> DataFrame:
    """Leaf checksum relation of one ``orders`` vintage at the
    (partition = order year, range = orderkey div {rng}) grain:
    (pk, range_id, n, hsum, hxor).  Vintage B is the seeded
    deterministic mutation of A — one cent added where
    o_orderkey % {chg} == 0, rows deleted where o_orderkey % {del_} ==
    0 — applied in the INTEGER cents domain (a float price nudge would
    quantize engine-divergently).  Same canonicalization + md5-prefix28
    row hash as ``table_content_checksum``.  Session-cached per
    vintage — one scan per replica."""
    o = load_table(spark, sf_dir, "orders")
    cents = F.expr("cast(floor(o_totalprice * 100 + 0.5) as bigint)")
    if vintage_b:
        o = o.filter(F.col("o_orderkey") % _MRK_DELETED != 0)
        cents = cents + F.when(
            F.col("o_orderkey") % _MRK_CHANGED == 0, F.lit(1)
        ).otherwise(F.lit(0))
    row_hash = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    "|",
                    _canon_col(F.col("o_orderkey")),
                    _canon_col(F.col("o_custkey")),
                    _canon_col(F.col("o_orderstatus")),
                    _canon_col(cents),
                    _canon_col(
                        F.unix_micros(F.col("o_orderdate").cast("timestamp"))
                    ),
                    _canon_col(F.col("o_orderpriority")),
                )
            ),
            1,
            7,
        ),
        16,
        10,
    ).cast("bigint")
    return (
        o.select(
            F.year("o_orderdate").cast("string").alias("pk"),
            F.expr(f"o_orderkey div {_MRK_RANGE}").cast("bigint").alias(
                "range_id"
            ),
            row_hash.alias("h"),
        )
        .groupBy("pk", "range_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("h").cast("bigint").alias("hsum"),
            F.expr("bit_xor(h)").cast("bigint").alias("hxor"),
        )
    )


_merkle_leaves.__doc__ = _merkle_leaves.__doc__.format(
    rng=_MRK_RANGE, chg=_MRK_CHANGED, del_=_MRK_DELETED
)


def merkle_partition_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level Merkle partition-diff between two ``orders`` vintages —
    the full anti-entropy protocol ``table_content_checksum`` is the
    primitive for (VERDICT r9 item 3; Merkle-tree replica repair as in
    Dynamo/Cassandra anti-entropy, public literature): level 1 finds
    WHICH partitions (order years) differ, level 2 narrows to which
    orderkey RANGES within exactly those partitions, so re-sync ships
    only differing ranges, never tables.  Vintage B is a seeded
    deterministic mutation of A (see ``_merkle_leaves``), so the
    expected diff is fully known and pinned row-exactly in pytest.

    Merkle shape (the scale story): each vintage is scanned ONCE, at
    the LEAF grain only — the partition level is derived by FOLDING
    the leaf relation (SUM of sums, XOR of xors compose), never by
    rescanning; in a real deployment each replica computes its leaf
    relation locally and ships just that bounded relation.  Both diff
    joins are full-outer SMJs of (#partitions x #ranges)-bounded
    checksum relations; the level-2 descent is semi-join-restricted to
    level-1-differing partitions — the protocol's narrowing step (and
    its documented failure mode: a 2^28-prefix hash collision that
    cancels ACROSS a partition's sum+xor simultaneously would mask the
    descent, the fundamental hash-anti-entropy tradeoff).  Output: one
    row per differing grain, partition rows at range_id = -1, status
    in {'changed', 'only_a', 'only_b'}.
    """
    la = _merkle_leaves(spark, sf_dir, False)
    lb = _merkle_leaves(spark, sf_dir, True)

    def _fold(leaves: DataFrame) -> DataFrame:
        return leaves.groupBy("pk").agg(
            F.sum("n").cast("bigint").alias("n"),
            F.sum("hsum").cast("bigint").alias("hsum"),
            F.expr("bit_xor(hxor)").cast("bigint").alias("hxor"),
        )

    def _sides(a: DataFrame, b: DataFrame, keys: list) -> DataFrame:
        a = a.select(
            *keys,
            F.col("n").alias("n_a"),
            F.col("hsum").alias("sum_a"),
            F.col("hxor").alias("xor_a"),
        )
        b = b.select(
            *keys,
            F.col("n").alias("n_b"),
            F.col("hsum").alias("sum_b"),
            F.col("hxor").alias("xor_b"),
        )
        same = (
            F.col("n_a").eqNullSafe(F.col("n_b"))
            & F.col("sum_a").eqNullSafe(F.col("sum_b"))
            & F.col("xor_a").eqNullSafe(F.col("xor_b"))
        )
        return a.join(b, keys, "full_outer").filter(~same)

    status = F.when(F.col("n_a").isNull(), F.lit("only_b")).when(
        F.col("n_b").isNull(), F.lit("only_a")
    ).otherwise(F.lit("changed"))
    out_cols = ["n_a", "n_b", "sum_a", "sum_b", "xor_a", "xor_b"]
    pdiff = _sides(_fold(la), _fold(lb), ["pk"])
    rdiff = _sides(la, lb, ["pk", "range_id"]).join(
        F.broadcast(pdiff.select("pk")), "pk", "left_semi"
    )
    return (
        pdiff.select(
            F.lit("partition").alias("level"),
            F.col("pk").alias("partition_key"),
            F.lit(-1).cast("bigint").alias("range_id"),
            status.alias("status"),
            *out_cols,
        )
        .unionByName(
            rdiff.select(
                F.lit("range").alias("level"),
                F.col("pk").alias("partition_key"),
                "range_id",
                status.alias("status"),
                *out_cols,
            )
        )
    )


def _merkle_leaf_sql(vintage_b: bool) -> str:
    """DuckDB leaf relation of one vintage (see ``_merkle_leaves``)."""
    where = f"WHERE o_orderkey % {_MRK_DELETED} <> 0" if vintage_b else ""
    bump = (
        f" + CASE WHEN o_orderkey % {_MRK_CHANGED} = 0 THEN 1 ELSE 0 END"
        if vintage_b
        else ""
    )
    return f"""
      SELECT pk, range_id, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(h) AS BIGINT) AS hsum,
             CAST(BIT_XOR(h) AS BIGINT) AS hxor
      FROM (SELECT CAST(year(o_orderdate) AS STRING) AS pk,
                   CAST(o_orderkey // {_MRK_RANGE} AS BIGINT) AS range_id,
                   CAST(('0x' || substr(md5(
                     coalesce(CAST(o_orderkey AS STRING), '<NULL>') || '|' ||
                     coalesce(CAST(o_custkey AS STRING), '<NULL>') || '|' ||
                     coalesce(o_orderstatus, '<NULL>') || '|' ||
                     coalesce(CAST(CAST(floor(o_totalprice * 100 + 0.5)
                                        AS BIGINT){bump} AS STRING),
                              '<NULL>') || '|' ||
                     coalesce(CAST(epoch_us(o_orderdate) AS STRING),
                              '<NULL>') || '|' ||
                     coalesce(o_orderpriority, '<NULL>')
                   ), 1, 7)) AS BIGINT) AS h
            FROM orders {where})
      GROUP BY 1, 2"""


register(
    "merkle_partition_diff",
    merkle_partition_diff,
    f"""
    WITH la AS ({_merkle_leaf_sql(False)}),
    lb AS ({_merkle_leaf_sql(True)}),
    pa AS (SELECT pk, CAST(SUM(n) AS BIGINT) AS n,
                  CAST(SUM(hsum) AS BIGINT) AS hsum,
                  CAST(BIT_XOR(hxor) AS BIGINT) AS hxor FROM la GROUP BY 1),
    pb AS (SELECT pk, CAST(SUM(n) AS BIGINT) AS n,
                  CAST(SUM(hsum) AS BIGINT) AS hsum,
                  CAST(BIT_XOR(hxor) AS BIGINT) AS hxor FROM lb GROUP BY 1),
    pd AS (SELECT coalesce(pa.pk, pb.pk) AS pk,
                  pa.n AS n_a, pb.n AS n_b, pa.hsum AS sum_a, pb.hsum AS sum_b,
                  pa.hxor AS xor_a, pb.hxor AS xor_b
           FROM pa FULL OUTER JOIN pb ON pa.pk = pb.pk
           WHERE pa.n IS DISTINCT FROM pb.n
              OR pa.hsum IS DISTINCT FROM pb.hsum
              OR pa.hxor IS DISTINCT FROM pb.hxor),
    rd AS (SELECT coalesce(la.pk, lb.pk) AS pk,
                  coalesce(la.range_id, lb.range_id) AS range_id,
                  la.n AS n_a, lb.n AS n_b, la.hsum AS sum_a, lb.hsum AS sum_b,
                  la.hxor AS xor_a, lb.hxor AS xor_b
           FROM la FULL OUTER JOIN lb
             ON la.pk = lb.pk AND la.range_id = lb.range_id
           WHERE (la.n IS DISTINCT FROM lb.n
               OR la.hsum IS DISTINCT FROM lb.hsum
               OR la.hxor IS DISTINCT FROM lb.hxor)
             AND coalesce(la.pk, lb.pk) IN (SELECT pk FROM pd))
    SELECT 'partition' AS level, pk AS partition_key,
           CAST(-1 AS BIGINT) AS range_id,
           CASE WHEN n_a IS NULL THEN 'only_b'
                WHEN n_b IS NULL THEN 'only_a'
                ELSE 'changed' END AS status,
           n_a, n_b, sum_a, sum_b, xor_a, xor_b
    FROM pd
    UNION ALL
    SELECT 'range', pk, range_id,
           CASE WHEN n_a IS NULL THEN 'only_b'
                WHEN n_b IS NULL THEN 'only_a'
                ELSE 'changed' END,
           n_a, n_b, sum_a, sum_b, xor_a, xor_b
    FROM rd
    """,
)


# --------------------------------------------------------------------------
# round-10 second batch — two self-nominated new classes: sequential
# change-point detection (CUSUM — anomaly_mad is POINTWISE outliers,
# forecast_seasonal_naive is projection; nothing previously located a
# distribution SHIFT in time) and exact integer apportionment (Hamilton /
# largest-remainder — corpus_mixture_sample draws weighted SAMPLES;
# nothing previously allocated a fixed integer budget proportionally
# with a zero-rounding-drift guarantee).
# --------------------------------------------------------------------------


def cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single change-point estimate over the daily event-value series
    via the CUSUM statistic in PURE INTEGER arithmetic (Page's CUSUM /
    the max-|S_t| mean-shift estimator, public statistics): with daily
    cents sums s_d and counts n_d cumulated over time, the deviation
    process is S_t = cum_s(t) - cum_n(t) * mu; scaling by N clears the
    rational global mean mu = T/N exactly:
    G_t = cum_s(t) * N - cum_n(t) * T, and the change day is
    argmax |G_t| (ties to the EARLIEST day).  Output carries the
    detected day, the scaled statistic, and the before/after integer
    mean cents — the artifact a data-drift monitor acts on.

    Determinism/scale (the ``ks_two_sample`` sibling): the cumulative
    windows run on the DAY-bounded grouped relation, never raw events;
    cross-multiplied products run in DECIMAL(38,0)/HUGEINT (they reach
    cum_s * N ~ total_cents x total_rows); the tie-break is a
    bounded second stage — filter to the |G|-max rows (tie rows only),
    take MIN(day), join back — the conditional-MIN idiom one level up;
    the after-mean divisor is NULLIF-guarded (a change at the final
    day has no after-segment).  One scan, one bounded window pair,
    two metadata-sized aggregates.
    """
    e = load_table(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"),
        F.expr("cast(floor(value * 100 + 0.5) as bigint)").alias("cents"),
    )
    g = e.groupBy("day").agg(
        F.sum("cents").cast("bigint").alias("s_day"),
        F.count(F.lit(1)).cast("bigint").alias("n_day"),
    )
    w_cum = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.partitionBy()
    c = g.select(
        "day",
        F.sum("s_day").over(w_cum).cast("decimal(38,0)").alias("cum_s"),
        F.sum("n_day").over(w_cum).cast("decimal(38,0)").alias("cum_n"),
        F.sum("s_day").over(w_all).cast("decimal(38,0)").alias("t_sum"),
        F.sum("n_day").over(w_all).cast("decimal(38,0)").alias("n_tot"),
        F.count(F.lit(1)).over(w_all).cast("bigint").alias("n_days"),
    ).withColumn(
        "gabs",
        F.abs(F.col("cum_s") * F.col("n_tot") - F.col("cum_n") * F.col("t_sum")),
    )
    cand = c.withColumn("gmax", F.max("gabs").over(w_all)).filter(
        F.col("gabs") == F.col("gmax")
    )
    pick = cand.groupBy().agg(F.min("day").alias("day"))
    return (
        cand.join(F.broadcast(pick), "day")
        .select(
            F.col("day").alias("change_day"),
            "n_days",
            F.col("n_tot").cast("bigint").alias("n_events"),
            F.col("gabs").cast("bigint").alias("gmax"),
            F.expr("CAST(cum_s div cum_n AS BIGINT)").alias(
                "mean_before_cents"
            ),
            F.expr(
                "CAST((t_sum - cum_s) div nullif(n_tot - cum_n, 0) AS BIGINT)"
            ).alias("mean_after_cents"),
        )
    )


register(
    "cusum_changepoint",
    cusum_changepoint,
    """
    WITH g AS (SELECT CAST(ts AS DATE) AS day,
                      CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT))
                           AS BIGINT) AS s_day,
                      CAST(COUNT(*) AS BIGINT) AS n_day
               FROM events GROUP BY 1),
    c AS (SELECT day,
                 CAST(SUM(s_day) OVER w AS HUGEINT) AS cum_s,
                 CAST(SUM(n_day) OVER w AS HUGEINT) AS cum_n,
                 CAST(SUM(s_day) OVER () AS HUGEINT) AS t_sum,
                 CAST(SUM(n_day) OVER () AS HUGEINT) AS n_tot,
                 CAST(COUNT(*) OVER () AS BIGINT) AS n_days
          FROM g
          WINDOW w AS (ORDER BY day
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
    a AS (SELECT *, abs(cum_s * n_tot - cum_n * t_sum) AS gabs FROM c),
    cand AS (SELECT * FROM a
             WHERE gabs = (SELECT MAX(gabs) FROM a)),
    pick AS (SELECT MIN(day) AS day FROM cand)
    SELECT cand.day AS change_day, n_days,
           CAST(n_tot AS BIGINT) AS n_events,
           CAST(gabs AS BIGINT) AS gmax,
           CAST(cum_s // cum_n AS BIGINT) AS mean_before_cents,
           CAST((t_sum - cum_s) // NULLIF(n_tot - cum_n, 0) AS BIGINT)
             AS mean_after_cents
    FROM cand JOIN pick ON cand.day = pick.day
    """,
)


_LRA_BUDGET = 1_000  # integer budget (shard slots) to apportion


def largest_remainder_alloc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact integer apportionment of a fixed budget of {s} shard slots
    across nations, proportional to customer count, by the largest-
    remainder (Hamilton) method — public algorithm: base_i = floor(
    S * n_i / N), then the L = S - sum(base) leftover slots go to the
    L largest SCALED remainders r_i = S*n_i - base_i*N (exact integers
    — never float fractions), ties to the smallest nation key.  The
    allocation sums to S exactly and each share is within one slot of
    exact proportionality (the quota property) — the deterministic
    complement of ``corpus_mixture_sample``'s weighted DRAWS for
    shard/budget planning.

    Scale shape: one grouped count (map-side partials) reduces
    customers to the NATION-bounded relation; every window runs on
    those ~25 rows; the name join broadcasts the 25-row nation
    dimension.  Products reach S * n_i — BIGINT-exact past 9e15
    customers.  All arithmetic integer; rank tie-break fully ordered.
    """
    g = (
        load_table(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_customers"))
    )
    w_all = Window.partitionBy()
    c = g.select(
        "nationkey",
        "n_customers",
        F.sum("n_customers").over(w_all).cast("bigint").alias("n_tot"),
    ).withColumn(
        "base", F.expr(f"n_customers * {_LRA_BUDGET} div n_tot").cast("bigint")
    ).withColumn(
        "rem",
        F.expr(f"n_customers * {_LRA_BUDGET} - base * n_tot").cast("bigint"),
    )
    ranked = c.withColumn(
        "leftover",
        F.lit(_LRA_BUDGET) - F.sum("base").over(w_all),
    ).withColumn(
        "rk",
        F.row_number().over(
            Window.orderBy(F.col("rem").desc(), F.col("nationkey"))
        ),
    )
    nat = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("nationkey"), "n_name"
    )
    return (
        ranked.join(F.broadcast(nat), "nationkey")
        .select(
            "nationkey",
            "n_name",
            "n_customers",
            F.col("base").alias("base_alloc"),
            F.col("rem").alias("remainder_scaled"),
            (
                F.col("base")
                + F.when(F.col("rk") <= F.col("leftover"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("alloc"),
        )
    )


largest_remainder_alloc.__doc__ = largest_remainder_alloc.__doc__.format(
    s=_LRA_BUDGET
)

register(
    "largest_remainder_alloc",
    largest_remainder_alloc,
    f"""
    WITH g AS (SELECT c_nationkey AS nationkey,
                      CAST(COUNT(*) AS BIGINT) AS n_customers
               FROM customer GROUP BY 1),
    c AS (SELECT nationkey, n_customers,
                 CAST(SUM(n_customers) OVER () AS BIGINT) AS n_tot
          FROM g),
    b AS (SELECT *,
                 CAST(n_customers * {_LRA_BUDGET} // n_tot AS BIGINT) AS base
          FROM c),
    r AS (SELECT *,
                 CAST(n_customers * {_LRA_BUDGET} - base * n_tot AS BIGINT)
                   AS rem,
                 CAST({_LRA_BUDGET} - SUM(base) OVER () AS BIGINT) AS leftover,
                 ROW_NUMBER() OVER (ORDER BY
                   n_customers * {_LRA_BUDGET} - base * n_tot DESC,
                   nationkey) AS rk
          FROM b)
    SELECT r.nationkey, n.n_name, r.n_customers,
           r.base AS base_alloc, r.rem AS remainder_scaled,
           CAST(r.base + CASE WHEN r.rk <= r.leftover THEN 1 ELSE 0 END
                AS BIGINT) AS alloc
    FROM r JOIN nation n ON n.n_nationkey = r.nationkey
    """,
)


# --------------------------------------------------------------------------
# round-10 third batch — two more self-nominated classes: the MEASURE OF
# UNION of intervals (concurrent_intervals counts peak overlap — nothing
# previously measured merged coverage length), and the zone-map
# skip-ratio audit (the data-skipping statistics artifact that QUANTIFIES
# why clustering/layout matters — zorder_layout/partitioned_write_prune
# produce layouts; nothing previously measured their pruning power).
# --------------------------------------------------------------------------


def interval_union_measure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer MEASURE OF UNION of order lifetimes: total days the
    customer had at least one open order, overlaps merged exactly —
    the coverage-length class (``concurrent_intervals`` is the peak-
    concurrency class: same sweep, different integral).  Lifetimes are
    the house synthetic [o_orderdate, o_orderdate + (o_orderkey % 90
    + 1) days), half-open.

    Sweep shape, fully PARTITIONED: +-1 deltas explode from each order
    (ONE scan), hash-aggregate to the (customer, day) grain (map-side
    partials), and both ordered operations — the running active count
    and the next-day lead — run in windows PARTITIONED BY customer
    over that customer's distinct delta-days, never over raw rows and
    never globally.  A segment [day, next_day) contributes its length
    while active > 0; the closing delta guarantees every active
    segment has a successor, so the lead is never NULL where it is
    consumed.  All arithmetic integer days.
    """
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"),
        F.to_date("o_orderdate").alias("od"),
        F.date_add(
            F.to_date("o_orderdate"),
            (F.col("o_orderkey") % 90 + 1).cast("int"),
        ).alias("cd"),
    )
    deltas = o.select(
        "custkey",
        F.explode(
            F.array(
                F.struct(F.col("od").alias("day"), F.lit(1).alias("delta")),
                F.struct(F.col("cd").alias("day"), F.lit(-1).alias("delta")),
            )
        ).alias("d"),
    ).select("custkey", "d.*")
    g = deltas.groupBy("custkey", "day").agg(
        F.sum("delta").cast("bigint").alias("delta"),
        F.sum(F.when(F.col("delta") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_opened"),
    )
    w_cust = Window.partitionBy("custkey").orderBy("day")
    seg = g.select(
        "custkey",
        "day",
        "n_opened",
        F.sum("delta")
        .over(w_cust.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("active"),
        F.lead("day").over(w_cust).alias("next_day"),
    )
    return seg.groupBy("custkey").agg(
        F.sum("n_opened").cast("bigint").alias("n_orders"),
        F.sum(
            F.when(
                F.col("active") > 0,
                F.datediff(F.col("next_day"), F.col("day")),
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("covered_days"),
        F.min("day").alias("first_day"),
        F.max("day").alias("last_day"),
    )


register(
    "interval_union_measure",
    interval_union_measure,
    """
    WITH o AS (SELECT o_custkey AS custkey,
                      CAST(o_orderdate AS DATE) AS od,
                      CAST(o_orderdate AS DATE)
                        + CAST(o_orderkey % 90 + 1 AS INTEGER) AS cd
               FROM orders),
    d AS (SELECT custkey, od AS day, 1 AS delta FROM o
          UNION ALL SELECT custkey, cd, -1 FROM o),
    g AS (SELECT custkey, day,
                 CAST(SUM(delta) AS BIGINT) AS delta,
                 CAST(SUM(CASE WHEN delta > 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_opened
          FROM d GROUP BY 1, 2),
    seg AS (SELECT custkey, day, n_opened,
                   SUM(delta) OVER (PARTITION BY custkey ORDER BY day
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS active,
                   LEAD(day) OVER (PARTITION BY custkey ORDER BY day)
                     AS next_day
            FROM g)
    SELECT custkey,
           CAST(SUM(n_opened) AS BIGINT) AS n_orders,
           CAST(SUM(CASE WHEN active > 0 THEN next_day - day ELSE 0 END)
                AS BIGINT) AS covered_days,
           MIN(day) AS first_day,
           MAX(day) AS last_day
    FROM seg GROUP BY custkey
    """,
)


_ZMS_BLOCK = 10_000  # orderkeys per proxy row-group in the key_order layout
_ZMS_QUARTERS = (
    ("1995Q1", "1995-01-01", "1995-04-01"),
    ("1995Q3", "1995-07-01", "1995-10-01"),
    ("1996Q1", "1996-01-01", "1996-04-01"),
    ("1996Q3", "1996-07-01", "1996-10-01"),
)


def zone_map_skip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map (min/max block statistics) SKIP-RATIO audit for
    o_orderdate range predicates under two physical layouts — the
    data-skipping effectiveness artifact: ``zorder_layout`` /
    ``partitioned_write_prune`` PRODUCE clustered layouts; this
    MEASURES the pruning power a layout gives a scan, the number an
    engine's stats advisor reports.  Layout 'key_order' blocks rows by
    o_orderkey div {blk} (the natural ingest order — dates land
    randomly in every block, so min/max spans everything and nothing
    skips); layout 'date_month' blocks by order month (the
    date-partitioned layout — every out-of-range month skips whole).
    A block is skippable for predicate [lo, hi) iff its zone
    [min_d, max_d] does not intersect.

    Scale shape: each layout's zone relation is ONE grouped aggregate
    (map-side min/max/count partials, bounded by #blocks); the
    predicate relation is a 4-row literal broadcast against the zone
    relations (bounded nested loop); output is #layouts x #predicates
    rows.  The fact table is never range-joined or sorted.
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.to_date("o_orderdate").alias("od")
    )
    zones = None
    for layout, blk_col in (
        ("key_order", F.expr(f"o_orderkey div {_ZMS_BLOCK}")),
        ("date_month", F.expr("year(od) * 12 + month(od)")),
    ):
        z = (
            o.select(blk_col.cast("bigint").alias("blk"), "od")
            .groupBy("blk")
            .agg(
                F.min("od").alias("min_d"),
                F.max("od").alias("max_d"),
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            )
            .select(F.lit(layout).alias("layout"), "blk", "min_d", "max_d", "n_rows")
        )
        zones = z if zones is None else zones.unionByName(z)
    preds = None
    for q, lo, hi in _ZMS_QUARTERS:
        p = spark.range(1).select(
            F.lit(q).alias("q"),
            F.lit(lo).cast("date").alias("lo"),
            F.lit(hi).cast("date").alias("hi"),
        )
        preds = p if preds is None else preds.unionByName(p)
    joined = zones.join(F.broadcast(preds)).withColumn(
        "skippable",
        (F.col("max_d") < F.col("lo")) | (F.col("min_d") >= F.col("hi")),
    )
    return (
        joined.groupBy("layout", "q")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_blocks"),
            F.sum(F.when(F.col("skippable"), 1).otherwise(0))
            .cast("bigint")
            .alias("blocks_skipped"),
            F.sum(F.when(F.col("skippable"), F.col("n_rows")).otherwise(0))
            .cast("bigint")
            .alias("rows_skipped"),
            F.sum("n_rows").cast("bigint").alias("n_rows_total"),
        )
        .withColumn(
            "skip_micro",
            F.expr("rows_skipped * 1000000 div n_rows_total").cast("bigint"),
        )
    )


zone_map_skip_stats.__doc__ = zone_map_skip_stats.__doc__.format(blk=_ZMS_BLOCK)


def _zms_oracle() -> str:
    preds = "), (".join(
        f"'{q}', CAST('{lo}' AS DATE), CAST('{hi}' AS DATE)"
        for q, lo, hi in _ZMS_QUARTERS
    )
    return f"""
    WITH o AS (SELECT o_orderkey, CAST(o_orderdate AS DATE) AS od FROM orders),
    zones AS (
      SELECT 'key_order' AS layout,
             CAST(o_orderkey // {_ZMS_BLOCK} AS BIGINT) AS blk,
             MIN(od) AS min_d, MAX(od) AS max_d,
             CAST(COUNT(*) AS BIGINT) AS n_rows
      FROM o GROUP BY 2
      UNION ALL
      SELECT 'date_month',
             CAST(year(od) * 12 + month(od) AS BIGINT),
             MIN(od), MAX(od), CAST(COUNT(*) AS BIGINT)
      FROM o GROUP BY 2),
    preds AS (SELECT * FROM (VALUES ({preds})) p(q, lo, hi)),
    j AS (SELECT layout, q, n_rows,
                 (max_d < lo OR min_d >= hi) AS skippable
          FROM zones CROSS JOIN preds)
    SELECT layout, q,
           CAST(COUNT(*) AS BIGINT) AS n_blocks,
           CAST(SUM(CASE WHEN skippable THEN 1 ELSE 0 END) AS BIGINT)
             AS blocks_skipped,
           CAST(SUM(CASE WHEN skippable THEN n_rows ELSE 0 END) AS BIGINT)
             AS rows_skipped,
           CAST(SUM(n_rows) AS BIGINT) AS n_rows_total,
           CAST(SUM(CASE WHEN skippable THEN n_rows ELSE 0 END) * 1000000
                // SUM(n_rows) AS BIGINT) AS skip_micro
    FROM j GROUP BY 1, 2
    """


register("zone_map_skip_stats", zone_map_skip_stats, _zms_oracle())


# Shared bounded statistics relations (the _vopt_pref rule: a relation
# consumed >2x across a key's own plan — or by sibling keys — must
# session-cache so the fact table is scanned ONCE).  Four shared
# relations live here (9th-12th): the monthly order-revenue series
# (theil_sen + mann_kendall: 5 static consumers), the daily
# events-revenue series (acf + runs test + ewma: 5), the order x
# brand basket presence (assoc_rules: 4), and the per-user event
# count relation (misra_gries: 6).
@session_cached
def _month_rev(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(x, y): month index -> order revenue cents."""
    return (
        load_table(spark, sf_dir, "orders")
        .select(
            F.expr("year(o_orderdate) * 12 + month(o_orderdate)")
            .cast("bigint")
            .alias("x"),
            F.expr("cast(floor(o_totalprice * 100 + 0.5) as bigint)").alias(
                "cents"
            ),
        )
        .groupBy("x")
        .agg(F.sum("cents").cast("bigint").alias("y"))
    )


@session_cached
def _day_rev(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(d, y): date -> events value cents sum."""
    return (
        load_table(spark, sf_dir, "events")
        .groupBy(F.to_date("ts").alias("d"))
        .agg(
            F.sum(F.expr("cast(floor(value * 100 + 0.5) as bigint)"))
            .cast("bigint")
            .alias("y")
        )
    )


def theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend of MONTHLY order revenue: the median of
    all pairwise slopes (y_j - y_i) / (x_j - x_i) over month indexes —
    the robust-regression class (public estimator; up to ~29% outlier
    contamination cannot move it, unlike ``regression_agg_q``'s
    least-squares slope, which a single corrupted month drags
    arbitrarily).  Slopes are integer micros-cents-per-month
    (truncation toward zero — verified identical on both engines for
    NEGATIVE slopes too); the median is the LOWER median selected by
    row_number over the fully tie-ordered (slope, x_i, x_j) chain —
    deterministic, no averaging of two middle elements (which would
    reintroduce fractions).

    Scale shape: one scan reduces orders to the MONTH-bounded (x, y)
    relation; the quadratic pair join runs on that ~84-row statistics
    relation (broadcast nested loop, ~3.5k pairs — the Jagadish-style
    resolution-bounded quadratic, the ``v_optimal_histogram``
    sibling); the numerator product runs in DECIMAL(38,0)/HUGEINT
    (monthly revenue cents x 1e6 leaves BIGINT at planetary scale).
    Output is one row: months, pairs, median slope, sign census.
    """
    m = _month_rev(spark, sf_dir)
    b = m.select(F.col("x").alias("bx"), F.col("y").alias("by"))
    pairs = m.join(F.broadcast(b), F.col("bx") < F.col("x")).select(
        "x",
        "bx",
        F.expr(
            "CAST((CAST(y AS DECIMAL(38,0)) - by) * 1000000"
            " div (x - bx) AS BIGINT)"
        ).alias("slope_micro"),
    )
    w_all = Window.partitionBy()
    ranked = pairs.select(
        "slope_micro",
        F.row_number()
        .over(Window.orderBy("slope_micro", "bx", "x"))
        .alias("rn"),
        F.count(F.lit(1)).over(w_all).alias("n_pairs"),
        F.sum(F.when(F.col("slope_micro") > 0, 1).otherwise(0))
        .over(w_all)
        .alias("n_pos"),
        F.sum(F.when(F.col("slope_micro") < 0, 1).otherwise(0))
        .over(w_all)
        .alias("n_neg"),
    )
    n_months = m.groupBy().agg(F.count(F.lit(1)).cast("bigint").alias("n_months"))
    return (
        ranked.filter(F.expr("rn = (n_pairs + 1) div 2"))
        .join(F.broadcast(n_months))
        .select(
            "n_months",
            F.col("n_pairs").cast("bigint").alias("n_pairs"),
            F.col("slope_micro").alias("slope_micro_median"),
            F.col("n_pos").cast("bigint").alias("n_pos_slopes"),
            F.col("n_neg").cast("bigint").alias("n_neg_slopes"),
        )
    )


register(
    "theil_sen_trend",
    theil_sen_trend,
    """
    WITH m AS (SELECT CAST(year(o_orderdate) * 12 + month(o_orderdate)
                          AS BIGINT) AS x,
                      CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5)
                                    AS BIGINT)) AS BIGINT) AS y
               FROM orders GROUP BY 1),
    pairs AS (SELECT a.x, b.x AS bx,
                     CAST((CAST(a.y AS HUGEINT) - b.y) * 1000000
                          // (a.x - b.x) AS BIGINT) AS slope_micro
              FROM m a JOIN m b ON b.x < a.x),
    ranked AS (SELECT slope_micro,
                      ROW_NUMBER() OVER (ORDER BY slope_micro, bx, x) AS rn,
                      COUNT(*) OVER () AS n_pairs,
                      SUM(CASE WHEN slope_micro > 0 THEN 1 ELSE 0 END)
                        OVER () AS n_pos,
                      SUM(CASE WHEN slope_micro < 0 THEN 1 ELSE 0 END)
                        OVER () AS n_neg
               FROM pairs)
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM m) AS n_months,
           CAST(n_pairs AS BIGINT) AS n_pairs,
           slope_micro AS slope_micro_median,
           CAST(n_pos AS BIGINT) AS n_pos_slopes,
           CAST(n_neg AS BIGINT) AS n_neg_slopes
    FROM ranked
    WHERE rn = (n_pairs + 1) // 2
    """,
)


# The M-row (i, v, w, s, cw, cs) relation feeds the window-average
# join's BOTH sides plus the final join-back; uncached, the static plan
# scans events three times (the _vopt_pref lesson, 7th shared relation).
@session_cached
def _iso_pref(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(i, v, w, s, cw, cs): dollar-cell label/weight counts with
    1-indexed rank and DECIMAL(38,0) cumulative sums."""
    e = load_table(spark, sf_dir, "events").select(
        F.expr("cast(floor(value * 100 + 0.5) as bigint) div 100").alias("v"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("pos"),
    )
    g = e.groupBy("v").agg(
        F.count(F.lit(1)).cast("bigint").alias("w"),
        F.sum("pos").cast("bigint").alias("s"),
    )
    w_ord = Window.orderBy("v")
    return g.select(
        F.row_number().over(w_ord).cast("bigint").alias("i"),
        "v",
        "w",
        "s",
        F.sum("w")
        .over(w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("decimal(38,0)")
        .alias("cw"),
        F.sum("s")
        .over(w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("decimal(38,0)")
        .alias("cs"),
    )


def isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic (monotone nondecreasing) calibration of purchase rate
    vs the DOLLAR-quantized score via the PAVA MINIMAX closed form
    (Robertson/Wright/Dykstra, public): the pool-adjacent-violators
    fit equals fit(i) = max over j <= i of min over k >= i of the
    weighted mean positive-rate of cells j..k — which turns the
    ITERATIVE algorithm into a bounded quadratic over the score-cell
    relation (the ``v_optimal_histogram`` / ``theil_sen_trend``
    pattern) and is what makes a DuckDB oracle possible at all.  The
    eval-harness completion next to ``calibration_buckets`` (which
    BUCKETS; this fits the canonical monotone calibrator).

    Quantization contract: window means are floored to MICROS before
    the minimax (exact rationals cannot flow through SQL MIN/MAX), so
    the fit is within 1 micro of the exact-rational PAVA solution and
    adjacent cells can regress by at most 2 micros — pinned in pytest
    against an exact-fraction PAVA replay; all arithmetic integer,
    identical on both engines.

    Scale shape: one scan reduces events to the ~500-row dollar-cell
    relation (session-cached — ONE events scan for its three static
    consumers, the ``_vopt_pref`` lesson); the (j, k) window-average
    relation is M^2-bounded (~125k rows); the suffix-min window is
    PARTITIONED BY j; the final max is one grouped aggregate.
    Numerators in DECIMAL(38,0)/HUGEINT.
    """
    pref = _iso_pref(spark, sf_dir)
    zero = spark.range(1).select(
        F.lit(0).cast("bigint").alias("jm1"),
        F.lit(0).cast("decimal(38,0)").alias("cwj"),
        F.lit(0).cast("decimal(38,0)").alias("csj"),
    )
    starts = pref.select(
        F.col("i").alias("jm1"), F.col("cw").alias("cwj"), F.col("cs").alias("csj")
    ).unionByName(zero)
    # window-average relation: one row per (start j = jm1+1, end k)
    win = (
        pref.select(F.col("i").alias("k"), F.col("cw").alias("cwk"), F.col("cs").alias("csk"))
        .join(F.broadcast(starts), F.col("jm1") < F.col("k"))
        .select(
            (F.col("jm1") + 1).alias("j"),
            "k",
            F.expr(
                "CAST((csk - csj) * 1000000 div (cwk - cwj) AS BIGINT)"
            ).alias("a_micro"),
        )
    )
    # suffix min over k within each start j: m(j,k) = min_{k' >= k} A(j,k')
    w_sfx = (
        Window.partitionBy("j")
        .orderBy(F.col("k").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sfx = win.select("j", "k", F.min("a_micro").over(w_sfx).alias("m"))
    # fit(k) = max over j <= k of m(j, k); every (j,k) row has j <= k
    fit = sfx.groupBy("k").agg(F.max("m").cast("bigint").alias("fit_micro"))
    return (
        pref.join(fit, pref.i == fit.k)
        .select(
            "v",
            F.col("w").alias("n"),
            F.col("s").alias("n_pos"),
            F.expr("s * 1000000 div w").cast("bigint").alias("rate_micro"),
            "fit_micro",
        )
    )


register(
    "isotonic_calibration",
    isotonic_calibration,
    """
    WITH g AS (SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) // 100 AS v,
                      CAST(COUNT(*) AS BIGINT) AS w,
                      CAST(SUM(CASE WHEN event_type = 'purchase'
                                    THEN 1 ELSE 0 END) AS BIGINT) AS s
               FROM events GROUP BY 1),
    pref AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY v) AS BIGINT) AS i, v,
                    w, s,
                    CAST(SUM(w) OVER wd AS HUGEINT) AS cw,
                    CAST(SUM(s) OVER wd AS HUGEINT) AS cs
             FROM g
             WINDOW wd AS (ORDER BY v
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
    starts AS (SELECT i AS jm1, cw AS cwj, cs AS csj FROM pref
               UNION ALL
               SELECT 0, CAST(0 AS HUGEINT), CAST(0 AS HUGEINT)),
    win AS (SELECT s.jm1 + 1 AS j, p.i AS k,
                   CAST((p.cs - s.csj) * 1000000 // (p.cw - s.cwj) AS BIGINT)
                     AS a_micro
            FROM pref p JOIN starts s ON s.jm1 < p.i),
    sfx AS (SELECT j, k,
                   MIN(a_micro) OVER (PARTITION BY j ORDER BY k DESC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS m
            FROM win),
    fit AS (SELECT k, CAST(MAX(m) AS BIGINT) AS fit_micro
            FROM sfx GROUP BY k)
    SELECT p.v, p.w AS n, p.s AS n_pos,
           CAST(p.s * 1000000 // p.w AS BIGINT) AS rate_micro,
           f.fit_micro
    FROM pref p JOIN fit f ON f.k = p.i
    """,
)


_HOLT_ANUM, _HOLT_ADEN = 1, 4  # level smoothing alpha = 1/4
_HOLT_BNUM, _HOLT_BDEN = 1, 4  # trend smoothing beta = 1/4


def holt_linear_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear-trend double exponential smoothing of the daily
    event-value series in integer MICRO-CENTS via a RECURSIVE CTE —
    the stateful-smoothing class (public method; ``forecast_seasonal_
    naive`` projects without state, ``cusum_changepoint`` locates a
    shift; nothing previously carried smoothing STATE down a series).
    With alpha = {an}/{ad}, beta = {bn}/{bd}:
    level_t = (y_t*1e6*{an} + ({ad}-{an})*(level+trend)) div {ad},
    trend_t = ((level_t - level)*{bn} + ({bd}-{bn})*trend) div {bd} —
    every step floor-divided identically on both engines (truncation
    toward zero verified for NEGATIVE trends too), so the engine's
    WITH RECURSIVE fixpoint reproduces the Python replay bit-exactly.
    This key exists because its oracle problem is the work (the
    ``v_optimal_histogram`` lesson): per-step state recursion cannot
    be a window, and aggregates-in-recursion are banned on both
    engines — a rank-join in the recursive term is the one portable
    shape (the ``recursive_cte_q`` precedent).

    Scale shape: one scan reduces events to the ~30-row day relation
    (map-side partials); the recursion is depth-#days over that
    metadata-sized relation — a driver-bounded sequential tail, the
    honest cost of any exponential smoother (state_t needs state_t-1);
    each step is a 1-row equi-join against the day relation.  BIGINT
    headroom: daily cents x 1e6 — loud ANSI failure past ~9e12 daily
    dollars, never silent corruption.  Output: day, observed cents,
    level/trend micro-cents, one-step-ahead forecast.
    """
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events_holt")
    return spark.sql(_holt_sql("events_holt", spark_side=True))


def _holt_sql(table: str, spark_side: bool) -> str:
    an, ad, bn, bd = _HOLT_ANUM, _HOLT_ADEN, _HOLT_BNUM, _HOLT_BDEN
    idiv = "div" if spark_side else "//"
    day = "CAST(ts AS DATE)"
    return f"""
    WITH RECURSIVE d AS (
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS rk,
             day, y
      FROM (SELECT {day} AS day,
                   CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT))
                        AS BIGINT) AS y
            FROM {table} GROUP BY 1)
    ),
    h(rk, lvl, trd) AS (
      SELECT rk, y * 1000000, CAST(0 AS BIGINT) FROM d WHERE rk = 1
      UNION ALL
      SELECT d.rk,
             (d.y * 1000000 * {an} + ({ad - an}) * (h.lvl + h.trd)) {idiv} {ad},
             (((d.y * 1000000 * {an} + ({ad - an}) * (h.lvl + h.trd))
               {idiv} {ad} - h.lvl) * {bn} + ({bd - bn}) * h.trd) {idiv} {bd}
      FROM d JOIN h ON d.rk = h.rk + 1
    )
    SELECT d.day, d.y AS y_cents,
           CAST(h.lvl AS BIGINT) AS level_micro,
           CAST(h.trd AS BIGINT) AS trend_micro,
           CAST(h.lvl + h.trd AS BIGINT) AS forecast_next_micro
    FROM h JOIN d ON d.rk = h.rk
    """


holt_linear_smoothing.__doc__ = holt_linear_smoothing.__doc__.format(
    an=_HOLT_ANUM, ad=_HOLT_ADEN, bn=_HOLT_BNUM, bd=_HOLT_BDEN
)

register(
    "holt_linear_smoothing",
    holt_linear_smoothing,
    _holt_sql("events", spark_side=False),
)


_BT_SYS_T0 = "1996-01-15"  # system-time AS OF (what the db knew then)
# Valid-time AS OF is BEFORE system time — the classic retroactive-
# history read (with V0 > T0 + amendment lag the amended_pre branch is
# structurally unreachable: valid_from <= V0 needs od > V0 - 30 while
# sys_from <= T0 needs od <= T0 - 20).
_BT_VALID_V0 = "1995-12-20"
_BT_CORR = 7  # orderkeys % 7 == 0: price CORRECTION recorded at +10 days
_BT_AMND = 11  # orderkeys % 11 == 0: retroactive AMENDMENT at +20 days
_BT_INF = "9999-12-31"


def _bt_version_relation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exploded bitemporal version relation (orderkey, custkey,
    version, price_cents, valid_from, valid_to, sys_from, sys_to) —
    ONE orders scan via the 4-struct delta-explode; shared by
    ``bitemporal_pit_query`` (point read) and
    ``bitemporal_temporal_join`` (interval join)."""
    o = load_table(spark, sf_dir, "orders")
    od = F.to_date("o_orderdate")
    cents = F.expr("cast(floor(o_totalprice * 100 + 0.5) as bigint)")
    key = F.col("o_orderkey")
    is_corr = key % _BT_CORR == 0
    is_amnd = key % _BT_AMND == 0
    inf = F.lit(_BT_INF).cast("date")
    corr_add = F.when(is_corr, 100).otherwise(0)

    def ver(name, price, vf, vt, sf, st):
        return F.struct(
            F.lit(name).alias("version"),
            price.cast("bigint").alias("price_cents"),
            vf.alias("valid_from"),
            vt.alias("valid_to"),
            sf.alias("sys_from"),
            st.alias("sys_to"),
        )

    versions = F.array(
        ver(
            "original",
            cents,
            od,
            inf,
            od,
            F.when(is_corr, F.date_add(od, 10))
            .when(is_amnd, F.date_add(od, 20))
            .otherwise(inf),
        ),
        F.when(
            is_corr,
            ver(
                "corrected",
                cents + 100,
                od,
                inf,
                F.date_add(od, 10),
                F.when(is_amnd, F.date_add(od, 20)).otherwise(inf),
            ),
        ),
        F.when(
            is_amnd,
            ver(
                "amended_pre",
                cents + corr_add,
                od,
                F.date_add(od, 30),
                F.date_add(od, 20),
                inf,
            ),
        ),
        F.when(
            is_amnd,
            ver(
                "amended_post",
                cents + corr_add + 200,
                F.date_add(od, 30),
                inf,
                F.date_add(od, 20),
                inf,
            ),
        ),
    )
    return o.select(
        key.alias("orderkey"),
        F.col("o_custkey").alias("custkey"),
        F.explode(F.filter(versions, lambda x: x.isNotNull())).alias("v"),
    ).select("orderkey", "custkey", "v.*")


def bitemporal_pit_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitemporal POINT-IN-TIME query: reconstruct the orders price
    table AS OF system time {t0} (what the database had recorded by
    then) x valid time {v0} (what was true in the world then) — the
    two-axis temporal class (``scd2_dimension`` tracks ONE axis;
    ``join_asof`` is event-time lookup; nothing previously separated
    'when we learned it' from 'when it was true' — the Snodgrass /
    SQL:2011 bitemporal model, public).

    The version relation derives deterministically from orders: every
    order's original price is recorded at its orderdate with valid
    [orderdate, inf); orders with key % {corr} == 0 get a CORRECTION
    (+100 cents, same validity — the recorded fact was wrong) at
    system time +10 days, closing the original's system interval;
    orders with key % {amnd} == 0 get a retroactive AMENDMENT at
    system +20 days that SPLITS validity — old price until valid
    +30 days, +200 cents after — so a system-time reader after the
    amendment sees two valid-time rows where before it saw one.  The
    PIT filter (sys_from <= T0 < sys_to AND valid_from <= V0 <
    valid_to) therefore yields AT MOST ONE row per order — uniqueness
    pinned in pytest against a Python bitemporal replay.

    Scale shape: the version relation EXPLODES from ONE scan (an array
    of up to four version structs per order, NULL branches filtered —
    the ``concurrent_intervals`` delta-explode idiom; the plan shows
    exactly one parquet scan, vs four for the naive 4-way union of
    filtered branches); both interval predicates are then row-level
    filters (at a real deployment's scale they prune via
    partition/zone stats on sys_from — see ``zone_map_skip_stats``);
    no shuffle at all until the driver collects.  All arithmetic is
    integer days and cents.
    """
    t0 = F.lit(_BT_SYS_T0).cast("date")
    vv = F.lit(_BT_VALID_V0).cast("date")
    ex = _bt_version_relation(spark, sf_dir)
    return ex.filter(
        (F.col("sys_from") <= t0)
        & (t0 < F.col("sys_to"))
        & (F.col("valid_from") <= vv)
        & (vv < F.col("valid_to"))
    ).select("orderkey", "version", "price_cents", "valid_from", "sys_from")


bitemporal_pit_query.__doc__ = bitemporal_pit_query.__doc__.format(
    t0=_BT_SYS_T0, v0=_BT_VALID_V0, corr=_BT_CORR, amnd=_BT_AMND
)


def _bt_oracle() -> str:
    inf = f"CAST('{_BT_INF}' AS DATE)"
    return f"""
    WITH base AS (SELECT o_orderkey AS orderkey,
                         CAST(o_orderdate AS DATE) AS od,
                         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS c,
                         o_orderkey % {_BT_CORR} = 0 AS is_corr,
                         o_orderkey % {_BT_AMND} = 0 AS is_amnd
                  FROM orders),
    versions AS (
      SELECT orderkey, 'original' AS version, c AS price_cents,
             od AS valid_from, {inf} AS valid_to, od AS sys_from,
             CASE WHEN is_corr THEN od + 10
                  WHEN is_amnd THEN od + 20 ELSE {inf} END AS sys_to
      FROM base
      UNION ALL
      SELECT orderkey, 'corrected', c + 100, od, {inf}, od + 10,
             CASE WHEN is_amnd THEN od + 20 ELSE {inf} END
      FROM base WHERE is_corr
      UNION ALL
      SELECT orderkey, 'amended_pre',
             c + CASE WHEN is_corr THEN 100 ELSE 0 END,
             od, od + 30, od + 20, {inf}
      FROM base WHERE is_amnd
      UNION ALL
      SELECT orderkey, 'amended_post',
             c + CASE WHEN is_corr THEN 100 ELSE 0 END + 200,
             od + 30, {inf}, od + 20, {inf}
      FROM base WHERE is_amnd)
    SELECT orderkey, version, price_cents, valid_from, sys_from
    FROM versions
    WHERE sys_from <= CAST('{_BT_SYS_T0}' AS DATE)
      AND CAST('{_BT_SYS_T0}' AS DATE) < sys_to
      AND valid_from <= CAST('{_BT_VALID_V0}' AS DATE)
      AND CAST('{_BT_VALID_V0}' AS DATE) < valid_to
    """


register("bitemporal_pit_query", bitemporal_pit_query, _bt_oracle())


_KMV_K = 32  # sketch size: k smallest hash values
_KMV_D = 268_435_456  # hash domain 2^28 (the house md5-prefix28)
# (k-1)*D precomputed in Python: 31 * 2^28 overflows an INT32
# literal multiply on BOTH engines (the 21600*1000000 lesson);
# a single BIGINT literal parses safely everywhere.
_KMV_NUM = (_KMV_K - 1) * _KMV_D


# Distinct (event_type, user, hash) relation: both grains consume it
# twice each (the hash-rank side and the exact-NDV side); uncached,
# the static plan scans events four times (8th shared relation, the
# _vopt_pref rule: a relation a key's own plan consumes >2x must
# session-cache).
@session_cached
def _kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, user_id, v): distinct users per type with the
    md5-prefix28 hash."""
    return (
        load_table(spark, sf_dir, "events")
        .select("event_type", "user_id")
        .distinct()
        .select(
            "event_type",
            F.conv(
                F.substring(F.md5(F.col("user_id").cast("string")), 1, 7),
                16,
                10,
            )
            .cast("bigint")
            .alias("v"),
            F.col("user_id"),
        )
    )


def kmv_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) distinct-count sketch of users per
    event_type + a merged 'ALL' grain — the DETERMINISTIC mergeable
    distinct estimator (Bar-Yossef et al., public): the sketch is the
    {k} smallest md5-prefix28 hash values of the distinct users;
    est = (k-1) * D div h_k (h_k = the k-th smallest hash, D = 2^28),
    exact when the group holds fewer than {k} distinct hashes.  Unlike
    ``hll_sketch_q`` (whose register blob is engine-opaque, so only
    the ESTIMATE can be contract-checked), KMV is pure order
    statistics of a deterministic hash — every sketch member, the
    k-th value, and the estimate are EXACT-oracle-checkable, and the
    union-merge (k smallest of the deduplicated union of sketches)
    is reproducible bit-for-bit: mergeability is pinned in pytest by
    replaying the merge from the per-group sketches.

    Scale shape: one distinct-reduce to (event_type, user) (map-side
    partials), hashes map-side, the rank window PARTITIONED BY
    event_type; the ALL grain reuses the same distinct-hash relation,
    which is session-cached — ONE events scan for the four static
    consumers (in a deployment it would merge persisted k-value
    sketches — the ``hll_union_rollup`` write-boundary shape).  All
    arithmetic integer; h_k = 0 guarded with greatest(1).
    """
    d = _kmv_distinct(spark, sf_dir)

    def _grain(rel: DataFrame) -> DataFrame:
        hv = rel.select("event_type", "v").distinct()
        w = Window.partitionBy("event_type").orderBy("v")
        r = hv.select(
            "event_type",
            "v",
            F.row_number().over(w).alias("rn"),
        )
        nd = rel.groupBy("event_type").agg(
            F.countDistinct("user_id").cast("bigint").alias("exact_ndv")
        )
        sk = (
            r.filter(F.col("rn") <= _KMV_K)
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_sketch"),
                F.max(F.when(F.col("rn") == _KMV_K, F.col("v")))
                .cast("bigint")
                .alias("kth_hash"),
            )
        )
        return sk.join(nd, "event_type").select(
            "event_type",
            "n_sketch",
            F.coalesce("kth_hash", F.lit(-1)).cast("bigint").alias("kth_hash"),
            F.expr(
                f"CASE WHEN n_sketch < {_KMV_K} THEN n_sketch"
                f" ELSE {_KMV_NUM}"
                f" div greatest(kth_hash, 1) END"
            )
            .cast("bigint")
            .alias("est_ndv"),
            "exact_ndv",
        )

    per = _grain(d)
    allg = _grain(d.select(F.lit("ALL").alias("event_type"), "v", "user_id"))
    return per.unionByName(allg)


kmv_distinct_sketch.__doc__ = kmv_distinct_sketch.__doc__.format(k=_KMV_K)


def _kmv_grain_sql(rel: str) -> str:
    return f"""
      SELECT s.event_type, s.n_sketch,
             coalesce(s.kth_hash, -1) AS kth_hash,
             CAST(CASE WHEN s.n_sketch < {_KMV_K} THEN s.n_sketch
                       ELSE {_KMV_NUM}
                            // greatest(s.kth_hash, 1) END AS BIGINT)
               AS est_ndv,
             x.exact_ndv
      FROM (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_sketch,
                   CAST(MAX(CASE WHEN rn = {_KMV_K} THEN v END) AS BIGINT)
                     AS kth_hash
            FROM (SELECT event_type, v,
                         ROW_NUMBER() OVER (PARTITION BY event_type
                                            ORDER BY v) AS rn
                  FROM (SELECT DISTINCT event_type, v FROM {rel}))
            WHERE rn <= {_KMV_K} GROUP BY 1) s
      JOIN (SELECT event_type,
                   CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_ndv
            FROM {rel} GROUP BY 1) x USING (event_type)"""


register(
    "kmv_distinct_sketch",
    kmv_distinct_sketch,
    f"""
    WITH d AS (SELECT DISTINCT event_type, user_id,
                      CAST(('0x' || substr(md5(CAST(user_id AS STRING)),
                                           1, 7)) AS BIGINT) AS v
               FROM events),
    da AS (SELECT 'ALL' AS event_type, user_id, v FROM d)
    {_kmv_grain_sql("d")}
    UNION ALL
    {_kmv_grain_sql("da")}
    """,
)


# Benford expected first-digit shares in integer micros: floor(log10(1
# + 1/d) * 1e6) — computed ONCE here in Python and embedded as
# literals so both engines compare against the identical constants (no
# engine log/float in the query).
import math as _math

_BENFORD_MICRO = {
    d: int(_math.log10(1 + 1 / d) * 1_000_000) for d in range(1, 10)
}


def benford_digit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-significant-digit audit of o_totalprice in
    integer cents — the data-forensics class (public law; naturally
    grown multiplicative quantities lead with 1 ~30% of the time,
    fabricated or truncated data doesn't): per digit 1-9, the observed
    count and share vs the Benford expectation, and the absolute
    deviation — all in integer micros, with the expected shares
    embedded as Python-precomputed literal constants so neither
    engine evaluates a log.

    Scale shape: first digit = first character of the integer cents
    rendering (map-side), one 9-group hash aggregate, shares against
    the window total over the 9-row relation.  Whether a column IS
    Benford-ish is the artifact's judgment call (TPC-H's uniform
    synthetic prices are NOT, and the deviations show it — that's the
    audit working); the operator's contract is the exact census.
    """
    o = load_table(spark, sf_dir, "orders").select(
        F.expr(
            "cast(substring(cast(cast(floor(o_totalprice * 100 + 0.5)"
            " as bigint) as string), 1, 1) as bigint)"
        ).alias("digit")
    )
    g = o.groupBy("digit").agg(F.count(F.lit(1)).cast("bigint").alias("n_obs"))
    w_all = Window.partitionBy()
    exp_col = F.lit(None).cast("bigint")
    expr = "CAST(CASE digit "
    for dg, micro in _BENFORD_MICRO.items():
        expr += f"WHEN {dg} THEN {micro} "
    expr += "END AS BIGINT)"
    return (
        g.withColumn("total", F.sum("n_obs").over(w_all))
        .select(
            "digit",
            "n_obs",
            F.expr("CAST(n_obs * 1000000 div total AS BIGINT)").alias(
                "obs_micro"
            ),
            F.expr(expr).alias("exp_micro"),
        )
        .withColumn(
            "dev_micro", F.abs(F.col("obs_micro") - F.col("exp_micro"))
        )
    )


def _benford_oracle() -> str:
    case = "CASE digit " + " ".join(
        f"WHEN {d} THEN {m}" for d, m in _BENFORD_MICRO.items()
    ) + " END"
    return f"""
    WITH g AS (SELECT CAST(substr(CAST(CAST(floor(o_totalprice * 100 + 0.5)
                                        AS BIGINT) AS STRING), 1, 1)
                           AS BIGINT) AS digit,
                      CAST(COUNT(*) AS BIGINT) AS n_obs
               FROM orders GROUP BY 1)
    SELECT digit, n_obs,
           CAST(n_obs * 1000000 // SUM(n_obs) OVER () AS BIGINT) AS obs_micro,
           CAST({case} AS BIGINT) AS exp_micro,
           CAST(abs(n_obs * 1000000 // SUM(n_obs) OVER ()
                    - ({case})) AS BIGINT) AS dev_micro
    FROM g
    """


register("benford_digit_audit", benford_digit_audit, _benford_oracle())


# --------------------------------------------------------------------------
# temporal_join_sql2011 — valid-time temporal inner join (overlap +
# intersection interval), the SQL:2011 join the r10 handoff named
# --------------------------------------------------------------------------

_TJ_HORIZON = "1997-01-01"  # open episodes close here (clip bound)
_TJ_PROMO_YEAR = 1995  # the promo calendar covers this year's 4 quarters


def _tj_rate_micro_expr(nk: str, q: str) -> str:
    """Deterministic promo rate in micros: ((nk*7 + q*13) % 50) * 1000 —
    pure integer arithmetic, identical literal form on both engines."""
    return f"(({nk} * 7 + {q} * 13) % 50) * 1000"


def _tj_calendar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation promo calendar ({year}'s four quarters, deterministic
    integer rate) — #nations x 4 rows at ANY scale, broadcast side of
    every temporal join; shared by ``temporal_join_sql2011`` and
    ``bitemporal_temporal_join``."""
    y = _TJ_PROMO_YEAR
    quarters = F.array(
        *[
            F.struct(
                F.lit(q).cast("bigint").alias("quarter"),
                F.lit(f"{y}-{3 * q - 2:02d}-01").cast("date").alias("p_from"),
                F.lit(
                    f"{y + 1}-01-01" if q == 4 else f"{y}-{3 * q + 1:02d}-01"
                )
                .cast("date")
                .alias("p_to"),
            )
            for q in range(1, 5)
        ]
    )
    return (
        load_table(spark, sf_dir, "nation")
        .select(
            F.col("n_nationkey").cast("bigint").alias("nationkey"),
            F.explode(quarters).alias("p"),
        )
        .select(
            "nationkey",
            "p.quarter",
            "p.p_from",
            "p.p_to",
            F.expr(_tj_rate_micro_expr("nationkey", "quarter"))
            .cast("bigint")
            .alias("rate_micro"),
        )
    )


def temporal_join_sql2011(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL:2011 valid-time temporal INNER JOIN (Snodgrass; the standard's
    period OVERLAPS semantics): customer spending EPISODES joined to a
    per-nation PROMO CALENDAR wherever their validity periods overlap,
    emitting the INTERSECTION interval — the temporal-JOIN class
    (``bitemporal_pit_query`` is a two-axis temporal READ;
    ``join_asof``/``join_range`` match points to intervals; nothing
    previously joined two interval relations period-to-period).

    Episodes derive from orders: per (custkey, orderdate) the summed
    spend in cents, valid [orderdate, next orderdate) by LEAD over the
    per-customer date sequence (dates pre-collapsed so zero-length
    intervals cannot exist), open episodes clipped at {horizon}.  The
    calendar derives from nation: four {year} quarters per nation,
    rate_micro = ((nationkey*7 + quarter*13) % 50) * 1000 — explode of
    a 4-struct literal array, NO join builds it.  Overlap predicate:
    a.valid_from < b.valid_to AND b.valid_from < a.valid_to; output
    carries greatest/least intersection bounds and the day measure.

    Scale shape: episodes are one orders scan + one window PARTITIONED
    BY custkey; nationkey arrives via the customer dim join (broadcast
    below the AQE threshold; at 100 TB the dim is still ~1e-4 of the
    fact); the temporal join itself is a BROADCAST HASH join equi-keyed
    on nationkey with the overlap residual — the calendar is
    #nations x 4 rows at ANY scale, so no shuffle and no interval
    index is needed.  All arithmetic integer days / cents / micros.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_nationkey").cast("bigint").alias("nationkey")
    )
    day_spend = (
        o.groupBy(
            F.col("o_custkey").alias("custkey"),
            F.to_date("o_orderdate").alias("valid_from"),
        )
        .agg(
            F.sum(F.expr("cast(floor(o_totalprice * 100 + 0.5) as bigint)"))
            .cast("bigint")
            .alias("spend_cents")
        )
    )
    w = Window.partitionBy("custkey").orderBy("valid_from")
    episodes = day_spend.select(
        "custkey",
        "valid_from",
        F.coalesce(
            F.lead("valid_from").over(w), F.lit(_TJ_HORIZON).cast("date")
        ).alias("valid_to"),
        "spend_cents",
    ).join(F.broadcast(c), F.col("custkey") == c.c_custkey).select(
        "custkey", "nationkey", "valid_from", "valid_to", "spend_cents"
    )
    # ADVICE r10: an open episode starting ON/AFTER the horizon clips to a
    # reversed interval (valid_to < valid_from); drop those before the
    # temporal join so no negative-overlap row can ever be emitted, whatever
    # _TJ_PROMO_YEAR / _TJ_HORIZON are set to.
    episodes = episodes.filter(F.col("valid_from") < F.col("valid_to"))
    cal = _tj_calendar(spark, sf_dir)
    j = episodes.join(
        F.broadcast(cal),
        on=[
            episodes.nationkey == cal.nationkey,
            episodes.valid_from < cal.p_to,
            cal.p_from < episodes.valid_to,
        ],
    )
    return j.select(
        "custkey",
        episodes.nationkey.alias("nationkey"),
        "quarter",
        F.greatest(episodes.valid_from, cal.p_from).alias("ivl_from"),
        F.least(episodes.valid_to, cal.p_to).alias("ivl_to"),
        F.datediff(
            F.least(episodes.valid_to, cal.p_to),
            F.greatest(episodes.valid_from, cal.p_from),
        )
        .cast("bigint")
        .alias("overlap_days"),
        "spend_cents",
        "rate_micro",
    )


temporal_join_sql2011.__doc__ = temporal_join_sql2011.__doc__.format(
    horizon=_TJ_HORIZON, year=_TJ_PROMO_YEAR
)


def _tj_oracle() -> str:
    y = _TJ_PROMO_YEAR
    qrows = ", ".join(
        f"({q}, DATE '{y}-{3 * q - 2:02d}-01', "
        f"DATE '{(y + 1 if q == 4 else y)}-"
        f"{(1 if q == 4 else 3 * q + 1):02d}-01')"
        for q in range(1, 5)
    )
    return f"""
    WITH day_spend AS (
      SELECT o_custkey AS custkey, CAST(o_orderdate AS DATE) AS valid_from,
             CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS spend_cents
      FROM orders GROUP BY 1, 2),
    episodes AS (
      SELECT d.custkey, CAST(c.c_nationkey AS BIGINT) AS nationkey,
             d.valid_from,
             coalesce(LEAD(d.valid_from) OVER (PARTITION BY d.custkey
                                               ORDER BY d.valid_from),
                      DATE '{_TJ_HORIZON}') AS valid_to,
             d.spend_cents
      FROM day_spend d JOIN customer c ON d.custkey = c.c_custkey),
    cal AS (
      SELECT CAST(n.n_nationkey AS BIGINT) AS nationkey,
             CAST(q.quarter AS BIGINT) AS quarter, q.p_from, q.p_to,
             CAST({_tj_rate_micro_expr("CAST(n.n_nationkey AS BIGINT)",
                                       "q.quarter")} AS BIGINT) AS rate_micro
      FROM nation n
      CROSS JOIN (VALUES {qrows}) AS q(quarter, p_from, p_to))
    SELECT e.custkey, e.nationkey, cal.quarter,
           greatest(e.valid_from, cal.p_from) AS ivl_from,
           least(e.valid_to, cal.p_to) AS ivl_to,
           CAST(date_diff('day', greatest(e.valid_from, cal.p_from),
                          least(e.valid_to, cal.p_to)) AS BIGINT)
             AS overlap_days,
           e.spend_cents, cal.rate_micro
    FROM episodes e JOIN cal
      ON e.nationkey = cal.nationkey
     AND e.valid_from < e.valid_to  -- drop horizon-reversed open episodes
     AND e.valid_from < cal.p_to AND cal.p_from < e.valid_to
    """


register("temporal_join_sql2011", temporal_join_sql2011, _tj_oracle())


def bitemporal_temporal_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL:2011 bitemporal TEMPORAL JOIN (VERDICT r10 item 5): the
    promo-overlap join computed AS OF a PAST SYSTEM TIME — join each
    order's valid-time price SEGMENTATION as the database knew it at
    system time {t0} to the per-nation promo calendar wherever the
    periods overlap, emitting the intersection interval and the price
    BELIEVED at {t0}.

    The distinct contract neither parent expresses:
    ``bitemporal_pit_query`` reads ONE (system, valid) point — no
    join, no intervals out; ``temporal_join_sql2011`` joins
    CURRENT-knowledge intervals — no system axis.  Here the system
    filter changes the JOINED ROWS: an amendment recorded by {t0}
    splits an order into TWO price segments whose [od, od+30) /
    [od+30, inf) bounds intersect different promo quarters at
    different prices; a correction recorded AFTER {t0} leaves the
    join reporting the original (later-falsified) price — the
    retroactive-audit read ("what promo exposure did we believe
    then"), non-vacuity pinned in pytest.

    Scale shape: version relation = ONE orders scan (the shared
    4-struct delta-explode, ``_bt_version_relation``); the system-axis
    predicate is a row-level filter at the scan; nationkey arrives via
    the broadcast customer dim; the temporal join itself is a
    BROADCAST HASH join equi-keyed on nationkey with the overlap
    residual against the #nations x 4 calendar — no shuffle at any
    scale.  All arithmetic integer days / cents / micros.
    """
    t0 = F.lit(_BT_SYS_T0).cast("date")
    ver = _bt_version_relation(spark, sf_dir).filter(
        (F.col("sys_from") <= t0) & (t0 < F.col("sys_to"))
    )
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_nationkey").cast("bigint").alias("nationkey")
    )
    ver = ver.join(F.broadcast(c), ver.custkey == c.c_custkey).select(
        "orderkey",
        "nationkey",
        "version",
        "price_cents",
        "valid_from",
        "valid_to",
    )
    cal = _tj_calendar(spark, sf_dir)
    j = ver.join(
        F.broadcast(cal),
        on=[
            ver.nationkey == cal.nationkey,
            ver.valid_from < cal.p_to,
            cal.p_from < ver.valid_to,
        ],
    )
    return j.select(
        "orderkey",
        ver.nationkey.alias("nationkey"),
        "quarter",
        "version",
        F.greatest(ver.valid_from, cal.p_from).alias("ivl_from"),
        F.least(ver.valid_to, cal.p_to).alias("ivl_to"),
        F.datediff(
            F.least(ver.valid_to, cal.p_to),
            F.greatest(ver.valid_from, cal.p_from),
        )
        .cast("bigint")
        .alias("overlap_days"),
        "price_cents",
        "rate_micro",
    )


bitemporal_temporal_join.__doc__ = bitemporal_temporal_join.__doc__.format(
    t0=_BT_SYS_T0
)


def _btj_oracle() -> str:
    y = _TJ_PROMO_YEAR
    inf = f"CAST('{_BT_INF}' AS DATE)"
    t0 = f"CAST('{_BT_SYS_T0}' AS DATE)"
    qrows = ", ".join(
        f"({q}, DATE '{y}-{3 * q - 2:02d}-01', "
        f"DATE '{(y + 1 if q == 4 else y)}-"
        f"{(1 if q == 4 else 3 * q + 1):02d}-01')"
        for q in range(1, 5)
    )
    return f"""
    WITH base AS (SELECT o_orderkey AS orderkey, o_custkey AS custkey,
                         CAST(o_orderdate AS DATE) AS od,
                         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS c,
                         o_orderkey % {_BT_CORR} = 0 AS is_corr,
                         o_orderkey % {_BT_AMND} = 0 AS is_amnd
                  FROM orders),
    versions AS (
      SELECT orderkey, custkey, 'original' AS version, c AS price_cents,
             od AS valid_from, {inf} AS valid_to, od AS sys_from,
             CASE WHEN is_corr THEN od + 10
                  WHEN is_amnd THEN od + 20 ELSE {inf} END AS sys_to
      FROM base
      UNION ALL
      SELECT orderkey, custkey, 'corrected', c + 100, od, {inf}, od + 10,
             CASE WHEN is_amnd THEN od + 20 ELSE {inf} END
      FROM base WHERE is_corr
      UNION ALL
      SELECT orderkey, custkey, 'amended_pre',
             c + CASE WHEN is_corr THEN 100 ELSE 0 END,
             od, od + 30, od + 20, {inf}
      FROM base WHERE is_amnd
      UNION ALL
      SELECT orderkey, custkey, 'amended_post',
             c + CASE WHEN is_corr THEN 100 ELSE 0 END + 200,
             od + 30, {inf}, od + 20, {inf}
      FROM base WHERE is_amnd),
    pit AS (
      SELECT v.orderkey, CAST(cu.c_nationkey AS BIGINT) AS nationkey,
             v.version, v.price_cents, v.valid_from, v.valid_to
      FROM versions v JOIN customer cu ON v.custkey = cu.c_custkey
      WHERE v.sys_from <= {t0} AND {t0} < v.sys_to),
    cal AS (
      SELECT CAST(n.n_nationkey AS BIGINT) AS nationkey,
             CAST(q.quarter AS BIGINT) AS quarter, q.p_from, q.p_to,
             CAST({_tj_rate_micro_expr("CAST(n.n_nationkey AS BIGINT)",
                                       "q.quarter")} AS BIGINT) AS rate_micro
      FROM nation n
      CROSS JOIN (VALUES {qrows}) AS q(quarter, p_from, p_to))
    SELECT p.orderkey, p.nationkey, cal.quarter, p.version,
           greatest(p.valid_from, cal.p_from) AS ivl_from,
           least(p.valid_to, cal.p_to) AS ivl_to,
           CAST(date_diff('day', greatest(p.valid_from, cal.p_from),
                          least(p.valid_to, cal.p_to)) AS BIGINT)
             AS overlap_days,
           p.price_cents, cal.rate_micro
    FROM pit p JOIN cal
      ON p.nationkey = cal.nationkey
     AND p.valid_from < cal.p_to AND cal.p_from < p.valid_to
    """


register("bitemporal_temporal_join", bitemporal_temporal_join, _btj_oracle())


# --------------------------------------------------------------------------
# kmv_set_ops — theta-sketch-style set INTERSECTION / UNION / Jaccard
# estimates between every pair of event types from their merged KMV
# sketches (the r10 handoff's second named candidate)
# --------------------------------------------------------------------------


def kmv_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch-style SET OPERATIONS over merged KMV sketches
    (Dasgupta et al. / DataSketches theta model, public): for every
    unordered pair of event types, merge the two {k}-minimum-values
    user sketches (k smallest of the deduplicated union), read theta =
    the k-th smallest merged hash, count the merged members present in
    BOTH input sketches, and estimate |A∪B| = (k-1)*D div theta and
    |A∩B| = n_match * est_union div k — every quantity pure order
    statistics of the deterministic md5-prefix28 hash, so (unlike an
    HLL register blob) the WHOLE estimator chain is exact-oracle-able.
    Exact distinct counts ride along so the artifact itself shows the
    estimation error.

    Scale shape: sketches reuse the session-cached distinct relation of
    ``kmv_distinct_sketch`` (ONE events scan across both keys); every
    relation after the rank window is #types x k rows — metadata-sized
    at any scale (a deployment merges persisted sketches, the
    ``hll_union_rollup`` write-boundary shape); the exact-side
    verification join is bounded by the distinct (type, user) relation.
    Pair enumeration is a broadcast non-equi join of the #types-row
    type relation with itself — never the data.  Division guarded with
    greatest(theta, 1); partial (n_merged < k) sketches fall back to
    their exact member counts, pinned in pytest.
    """
    d = _kmv_distinct(spark, sf_dir)
    hv = d.select("event_type", "v").distinct()
    w = Window.partitionBy("event_type").orderBy("v")
    sk = (
        hv.select("event_type", "v", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= _KMV_K)
        .select("event_type", "v")
    )
    types = sk.select("event_type").distinct()
    pairs = (
        types.alias("ta")
        .join(
            F.broadcast(types.alias("tb")),
            F.col("ta.event_type") < F.col("tb.event_type"),
        )
        .select(
            F.col("ta.event_type").alias("type_a"),
            F.col("tb.event_type").alias("type_b"),
        )
    )
    mem = pairs.join(
        F.broadcast(sk),
        (F.col("event_type") == F.col("type_a"))
        | (F.col("event_type") == F.col("type_b")),
    )
    merged = mem.groupBy("type_a", "type_b", "v").agg(
        F.max((F.col("event_type") == F.col("type_a")).cast("int")).alias(
            "in_a"
        ),
        F.max((F.col("event_type") == F.col("type_b")).cast("int")).alias(
            "in_b"
        ),
    )
    wm = Window.partitionBy("type_a", "type_b").orderBy("v")
    ranked = merged.select(
        "type_a",
        "type_b",
        "v",
        "in_a",
        "in_b",
        F.row_number().over(wm).alias("rn"),
    ).filter(F.col("rn") <= _KMV_K)
    est = ranked.groupBy("type_a", "type_b").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_merged"),
        F.coalesce(
            F.max(F.when(F.col("rn") == _KMV_K, F.col("v"))), F.lit(-1)
        )
        .cast("bigint")
        .alias("theta"),
        F.sum((F.col("in_a") * F.col("in_b")).cast("bigint"))
        .cast("bigint")
        .alias("n_match"),
    )
    est = est.select(
        "type_a",
        "type_b",
        "n_merged",
        "theta",
        "n_match",
        F.expr(
            f"CASE WHEN n_merged < {_KMV_K} THEN n_merged"
            f" ELSE {_KMV_NUM} div greatest(theta, 1) END"
        )
        .cast("bigint")
        .alias("est_union"),
    ).select(
        "*",
        F.expr(
            f"CASE WHEN n_merged < {_KMV_K} THEN n_match"
            f" ELSE n_match * est_union div {_KMV_K} END"
        )
        .cast("bigint")
        .alias("est_inter"),
    )
    e = d.select("event_type", "user_id")
    nd = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("nd")
    )
    ex_i = (
        e.alias("ea")
        .join(
            e.alias("eb"),
            (F.col("ea.user_id") == F.col("eb.user_id"))
            & (F.col("ea.event_type") < F.col("eb.event_type")),
        )
        .groupBy(
            F.col("ea.event_type").alias("type_a"),
            F.col("eb.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("exact_inter"))
    )
    exact = (
        est.select("type_a", "type_b")
        .join(F.broadcast(nd.withColumnRenamed("event_type", "type_a")), "type_a")
        .withColumnRenamed("nd", "nd_a")
        .join(F.broadcast(nd.withColumnRenamed("event_type", "type_b")), "type_b")
        .withColumnRenamed("nd", "nd_b")
        .join(F.broadcast(ex_i), ["type_a", "type_b"], "left")
        .select(
            "type_a",
            "type_b",
            F.coalesce("exact_inter", F.lit(0))
            .cast("bigint")
            .alias("exact_inter"),
            (F.col("nd_a") + F.col("nd_b") - F.coalesce("exact_inter", F.lit(0)))
            .cast("bigint")
            .alias("exact_union"),
        )
    )
    return est.join(exact, ["type_a", "type_b"]).select(
        "type_a",
        "type_b",
        "n_merged",
        "theta",
        "n_match",
        "est_union",
        "est_inter",
        F.expr("est_inter * 1000000 div greatest(est_union, 1)")
        .cast("bigint")
        .alias("est_jaccard_micro"),
        "exact_inter",
        "exact_union",
    )


kmv_set_ops.__doc__ = kmv_set_ops.__doc__.format(k=_KMV_K)


def _kmv_setops_oracle() -> str:
    return f"""
    WITH d AS (SELECT DISTINCT event_type, user_id,
                      CAST(('0x' || substr(md5(CAST(user_id AS STRING)),
                                           1, 7)) AS BIGINT) AS v
               FROM events),
    sk AS (SELECT event_type, v
           FROM (SELECT event_type, v,
                        ROW_NUMBER() OVER (PARTITION BY event_type
                                           ORDER BY v) AS rn
                 FROM (SELECT DISTINCT event_type, v FROM d))
           WHERE rn <= {_KMV_K}),
    pairs AS (SELECT ta.event_type AS type_a, tb.event_type AS type_b
              FROM (SELECT DISTINCT event_type FROM sk) ta
              JOIN (SELECT DISTINCT event_type FROM sk) tb
                ON ta.event_type < tb.event_type),
    merged AS (SELECT p.type_a, p.type_b, s.v,
                      MAX(CASE WHEN s.event_type = p.type_a
                               THEN 1 ELSE 0 END) AS in_a,
                      MAX(CASE WHEN s.event_type = p.type_b
                               THEN 1 ELSE 0 END) AS in_b
               FROM pairs p JOIN sk s
                 ON s.event_type IN (p.type_a, p.type_b)
               GROUP BY 1, 2, 3),
    ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY type_a, type_b
                                            ORDER BY v) AS rn
               FROM merged),
    est0 AS (SELECT type_a, type_b,
                    CAST(COUNT(*) AS BIGINT) AS n_merged,
                    CAST(coalesce(MAX(CASE WHEN rn = {_KMV_K} THEN v END),
                                  -1) AS BIGINT) AS theta,
                    CAST(SUM(in_a * in_b) AS BIGINT) AS n_match
             FROM ranked WHERE rn <= {_KMV_K} GROUP BY 1, 2),
    est1 AS (SELECT *,
                    CAST(CASE WHEN n_merged < {_KMV_K} THEN n_merged
                         ELSE {_KMV_NUM} // greatest(theta, 1) END
                         AS BIGINT) AS est_union
             FROM est0),
    est AS (SELECT *,
                   CAST(CASE WHEN n_merged < {_KMV_K} THEN n_match
                        ELSE n_match * est_union // {_KMV_K} END
                        AS BIGINT) AS est_inter
            FROM est1),
    nd AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS nd FROM d
           GROUP BY 1),
    ex_i AS (SELECT ea.event_type AS type_a, eb.event_type AS type_b,
                    CAST(COUNT(*) AS BIGINT) AS exact_inter
             FROM d ea JOIN d eb
               ON ea.user_id = eb.user_id
              AND ea.event_type < eb.event_type
             GROUP BY 1, 2)
    SELECT e.type_a, e.type_b, e.n_merged, e.theta, e.n_match,
           e.est_union, e.est_inter,
           CAST(e.est_inter * 1000000 // greatest(e.est_union, 1)
                AS BIGINT) AS est_jaccard_micro,
           CAST(coalesce(x.exact_inter, 0) AS BIGINT) AS exact_inter,
           CAST(na.nd + nb.nd - coalesce(x.exact_inter, 0) AS BIGINT)
             AS exact_union
    FROM est e
    JOIN nd na ON na.event_type = e.type_a
    JOIN nd nb ON nb.event_type = e.type_b
    LEFT JOIN ex_i x ON x.type_a = e.type_a AND x.type_b = e.type_b
    """


register("kmv_set_ops", kmv_set_ops, _kmv_setops_oracle())


# --------------------------------------------------------------------------
# mann_whitney_u — two-sample rank-sum test in doubled-midrank integer
# arithmetic (the nonparametric sibling of ks_two_sample)
# --------------------------------------------------------------------------


def mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) between purchase and
    non-purchase event values in PURE INTEGER arithmetic — the
    rank-test class (``ks_two_sample`` compares CDF sup-distance,
    ``welch_ttest_q`` means; the U test is the standard nonparametric
    location test).  Tie handling is exact via DOUBLED midranks: for a
    tied value group, 2*midrank = 2*(count below) + (count tied) + 1 —
    always an integer, so no fractional rank ever materializes.
    Outputs 2*U for both samples (the tie-exact doubled statistics,
    2U_A + 2U_B = 2*nA*nB pinned in pytest) and the rank-biserial
    effect size in micros.

    Shape (the ``_score_groups`` idiom, same as ks_two_sample): values
    quantize to cents so the grouped relation is bounded by the VALUE
    RANGE at any input size; one cumulative window over that bounded
    relation computes counts-below; ONE single-row aggregate forms the
    rank sum.  All products (count x rank ~ N^2) run in
    DECIMAL(38,0) / HUGEINT — past BIGINT at ~3e9 rows per sample —
    and only the final columns cast down; the effect-size division
    routes through NULLIF so a degenerate empty sample yields NULL
    identically on both engines.
    """
    e = load_table(spark, sf_dir, "events").select(
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("cents"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("a"),
    )
    g = e.groupBy("cents").agg(
        F.sum("a").cast("bigint").alias("na_i"),
        F.sum(F.lit(1) - F.col("a")).cast("bigint").alias("nb_i"),
    )
    w_lt = Window.orderBy("cents").rowsBetween(
        Window.unboundedPreceding, -1
    )
    c = g.select(
        "na_i",
        "nb_i",
        F.coalesce(
            F.sum(F.col("na_i") + F.col("nb_i")).over(w_lt), F.lit(0)
        )
        .cast("bigint")
        .alias("below"),
    )
    # 2*midrank of the tied group = 2*below + (na_i + nb_i) + 1;
    # the count x rank product runs in DECIMAL(38,0).
    r2a = F.sum(
        F.col("na_i").cast("decimal(38,0)")
        * (F.lit(2) * F.col("below") + F.col("na_i") + F.col("nb_i") + 1)
    ).alias("r2a")
    agg = c.agg(
        F.sum("na_i").cast("bigint").alias("n_a"),
        F.sum("nb_i").cast("bigint").alias("n_b"),
        r2a,
    )
    return agg.select(
        "n_a",
        "n_b",
        F.expr(
            "CAST(r2a - CAST(n_a AS DECIMAL(38,0)) * (n_a + 1) AS BIGINT)"
        ).alias("u2_a"),
        F.expr(
            "CAST(2 * CAST(n_a AS DECIMAL(38,0)) * n_b"
            " - (r2a - CAST(n_a AS DECIMAL(38,0)) * (n_a + 1)) AS BIGINT)"
        ).alias("u2_b"),
        # rank-biserial r = (2U_A - nA*nB) / (nA*nB), in micros
        F.expr(
            "CAST(((r2a - CAST(n_a AS DECIMAL(38,0)) * (n_a + 1))"
            " - CAST(n_a AS DECIMAL(38,0)) * n_b) * 1000000"
            " div nullif(CAST(n_a AS DECIMAL(38,0)) * n_b, 0) AS BIGINT)"
        ).alias("rank_biserial_micro"),
    )


register(
    "mann_whitney_u",
    mann_whitney_u,
    """
    WITH e AS (SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
                      CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS a
               FROM events),
    g AS (SELECT cents, CAST(SUM(a) AS BIGINT) AS na_i,
                 CAST(SUM(1 - a) AS BIGINT) AS nb_i
          FROM e GROUP BY 1),
    c AS (SELECT na_i, nb_i,
                 CAST(coalesce(SUM(na_i + nb_i) OVER (ORDER BY cents
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0) AS BIGINT) AS below
          FROM g),
    agg AS (SELECT CAST(SUM(na_i) AS BIGINT) AS n_a,
                   CAST(SUM(nb_i) AS BIGINT) AS n_b,
                   SUM(CAST(na_i AS HUGEINT)
                       * (2 * below + na_i + nb_i + 1)) AS r2a
            FROM c)
    SELECT n_a, n_b,
           CAST(r2a - CAST(n_a AS HUGEINT) * (n_a + 1) AS BIGINT) AS u2_a,
           CAST(2 * CAST(n_a AS HUGEINT) * n_b
                - (r2a - CAST(n_a AS HUGEINT) * (n_a + 1)) AS BIGINT) AS u2_b,
           CAST(((r2a - CAST(n_a AS HUGEINT) * (n_a + 1))
                 - CAST(n_a AS HUGEINT) * n_b) * 1000000
                // NULLIF(CAST(n_a AS HUGEINT) * n_b, 0) AS BIGINT)
             AS rank_biserial_micro
    FROM agg
    """,
)


# --------------------------------------------------------------------------
# chi_square_independence — contingency-table independence audit in
# integer micros (event_type x epoch-day-of-week)
# --------------------------------------------------------------------------


def chi_square_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square INDEPENDENCE census of event_type x day-of-
    week — the contingency-audit class (``stat_crosstab`` emits the
    raw table; this adds the expected-count model and the per-cell
    chi-square terms, all integer micros): per cell the observed
    count, expected count in micros E = RT*CT*1e6 div N, and
    term_micro = (O*1e6 - E_micro)^2 div E_micro — the summands of the
    chi-square statistic (sum pinned against a Python replay; whether
    the synthetic fixture IS independent is the artifact's finding).

    Day-of-week is days-since-epoch % 7 (0 = Thursday) — a pure
    integer derivation with NO engine weekday function, so both
    engines agree by construction.  Shape: one grouped count (map-side
    partials) to the <= #types x 7 cell relation; row/column totals
    are windows OVER THAT relation, never the data.  Headroom: dev^2
    reaches (N*1e6)^2 — inside DECIMAL(38,0)/HUGEINT to N ~ 1e13 rows,
    and ANSI mode makes any breach loud; output columns BIGINT.
    """
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.expr(
            "pmod(datediff(cast(ts as date), date'1970-01-01'), 7)"
        )
        .cast("bigint")
        .alias("dow"),
    )
    cells = e.groupBy("event_type", "dow").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_obs")
    )
    w_row = Window.partitionBy("event_type")
    w_col = Window.partitionBy("dow")
    w_all = Window.partitionBy()
    t = cells.select(
        "event_type",
        "dow",
        "n_obs",
        F.sum("n_obs").over(w_row).alias("rt"),
        F.sum("n_obs").over(w_col).alias("ct"),
        F.sum("n_obs").over(w_all).alias("n"),
    )
    return t.select(
        "event_type",
        "dow",
        "n_obs",
        F.expr(
            "CAST(CAST(rt AS DECIMAL(38,0)) * ct * 1000000"
            " div n AS BIGINT)"
        ).alias("exp_micro"),
        F.expr(
            "CAST((CAST(n_obs AS DECIMAL(38,0)) * 1000000"
            " - CAST(rt AS DECIMAL(38,0)) * ct * 1000000 div n)"
            " * (CAST(n_obs AS DECIMAL(38,0)) * 1000000"
            " - CAST(rt AS DECIMAL(38,0)) * ct * 1000000 div n)"
            " div nullif(CAST(rt AS DECIMAL(38,0)) * ct * 1000000"
            " div n, 0) AS BIGINT)"
        ).alias("term_micro"),
    )


register(
    "chi_square_independence",
    chi_square_independence,
    """
    WITH e AS (SELECT event_type,
                      CAST(date_diff('day', DATE '1970-01-01',
                                     CAST(ts AS DATE)) % 7 AS BIGINT) AS dow
               FROM events),
    cells AS (SELECT event_type, dow, CAST(COUNT(*) AS BIGINT) AS n_obs
              FROM e GROUP BY 1, 2),
    t AS (SELECT event_type, dow, n_obs,
                 SUM(n_obs) OVER (PARTITION BY event_type) AS rt,
                 SUM(n_obs) OVER (PARTITION BY dow) AS ct,
                 SUM(n_obs) OVER () AS n
          FROM cells)
    SELECT event_type, dow, n_obs,
           CAST(CAST(rt AS HUGEINT) * ct * 1000000 // n AS BIGINT)
             AS exp_micro,
           CAST((CAST(n_obs AS HUGEINT) * 1000000
                 - CAST(rt AS HUGEINT) * ct * 1000000 // n)
                * (CAST(n_obs AS HUGEINT) * 1000000
                   - CAST(rt AS HUGEINT) * ct * 1000000 // n)
                // NULLIF(CAST(rt AS HUGEINT) * ct * 1000000 // n, 0)
                AS BIGINT) AS term_micro
    FROM t
    """,
)


# --------------------------------------------------------------------------
# gini_concentration — Lorenz/Gini revenue-concentration audit over the
# dollar-quantized grouped relation (exact integer micros)
# --------------------------------------------------------------------------


def gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-customer revenue — the inequality /
    concentration-audit class (``join_key_skew_profile`` profiles a
    single heaviest key; Gini summarizes the WHOLE concentration
    curve; Lorenz 1905 / Gini 1912, public): with per-customer revenue
    quantized to whole dollars (the ``equi_depth_histogram`` /
    ``isotonic_calibration`` bounded-cell rule), customers sorted
    ascending by value occupy rank ranges per dollar cell, so
    2*sum(i * x_i) = sum over cells of v * (2*c*below + c*(c+1)) —
    exact BECAUSE ties share one value — and
    G_micro = (2*sum(i*x_i) - (n+1)*S) * 1e6 div (n*S).

    Shape: one orders scan reduced map-side to the per-customer
    relation (dimension-sized), re-grouped to the DOLLAR-bounded cell
    relation; the only ordered window runs over those cells, never
    over customers — no global sort of a data- or dimension-sized
    relation anywhere.  Rank-weighted products run in
    DECIMAL(38,0) / HUGEINT (sum i*x_i reaches n*S ~ 1e9 * 1e15 cents
    at 100 TB — far past BIGINT); the contract is the Gini OF THE
    QUANTIZED distribution, stated on both engines identically.
    """
    per_cust = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(F.expr("cast(floor(o_totalprice * 100 + 0.5) as bigint)"))
            .cast("bigint")
            .alias("cents")
        )
        .select(F.expr("(cents div 100) * 100").cast("bigint").alias("v"))
    )
    cells = per_cust.groupBy("v").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    w_lt = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    t = cells.select(
        "v",
        "c",
        F.coalesce(F.sum("c").over(w_lt), F.lit(0)).cast("bigint").alias(
            "below"
        ),
    )
    agg = t.agg(
        F.sum("c").cast("bigint").alias("n"),
        F.sum(F.col("v").cast("decimal(38,0)") * F.col("c")).alias("s"),
        F.sum(
            F.col("v").cast("decimal(38,0)")
            * (
                F.lit(2) * F.col("c") * F.col("below")
                + F.col("c") * (F.col("c") + 1)
            )
        ).alias("num2"),
    )
    return agg.select(
        "n",
        F.col("s").cast("bigint").alias("total_cents"),
        F.expr(
            "CAST((num2 - (CAST(n AS DECIMAL(38,0)) + 1) * s) * 1000000"
            " div nullif(CAST(n AS DECIMAL(38,0)) * s, 0) AS BIGINT)"
        ).alias("gini_micro"),
    )


register(
    "gini_concentration",
    gini_concentration,
    """
    WITH per_cust AS (
      SELECT (CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                   AS BIGINT) // 100) * 100 AS v
      FROM orders GROUP BY o_custkey),
    cells AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS c FROM per_cust
              GROUP BY 1),
    t AS (SELECT v, c,
                 CAST(coalesce(SUM(c) OVER (ORDER BY v
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0) AS BIGINT) AS below
          FROM cells),
    agg AS (SELECT CAST(SUM(c) AS BIGINT) AS n,
                   SUM(CAST(v AS HUGEINT) * c) AS s,
                   SUM(CAST(v AS HUGEINT)
                       * (2 * c * below + c * (c + 1))) AS num2
            FROM t)
    SELECT n, CAST(s AS BIGINT) AS total_cents,
           CAST((num2 - (CAST(n AS HUGEINT) + 1) * s) * 1000000
                // NULLIF(CAST(n AS HUGEINT) * s, 0) AS BIGINT) AS gini_micro
    FROM agg
    """,
)


# --------------------------------------------------------------------------
# acf_autocorrelation — lag-1..7 autocorrelation of the daily revenue
# series in exact integer micros
# --------------------------------------------------------------------------

_ACF_MAX_LAG = 7


def acf_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function of the daily events-revenue series at
    lags 1..{maxlag} — the serial-dependence class
    (``holt_linear_smoothing`` smooths the series,
    ``forecast_seasonal_naive`` assumes a period; the ACF is the
    diagnostic that MEASURES the period): with y_t the per-day cents
    sum over the RANK-ordered day sequence, n days and S = sum(y),
    r_k = sum_t (n*y_t - S)(n*y_(t+k) - S) / sum_t (n*y_t - S)^2 in
    micros — centering by n*y - S keeps every term integer (no float
    mean), and the shared denominator is the lag-0 sum of squares.

    Shape: one events scan reduced map-side to the day relation
    (metadata-sized at any input — the ``holt_linear_smoothing``
    rule); the seven lags come from ONE ordered window (array of
    LEADs, posexploded), so the series is traversed once; products
    (n*y ~ days x daily cents) run in DECIMAL(38,0) / HUGEINT and only
    the final micro ratios cast down; NULLIF guards the
    constant-series denominator identically on both engines.
    """
    day = _day_rev(spark, sf_dir)
    w_all = Window.partitionBy()
    w_ord = Window.orderBy("d")
    leads = F.array(
        *[F.lead("y", k).over(w_ord) for k in range(1, _ACF_MAX_LAG + 1)]
    )
    t = day.select(
        "y",
        F.sum("y").over(w_all).cast("decimal(38,0)").alias("s"),
        F.count(F.lit(1)).over(w_all).cast("decimal(38,0)").alias("n"),
        leads.alias("leads"),
    ).select(
        "y",
        "s",
        "n",
        F.posexplode("leads").alias("k0", "y2"),
    ).select(
        (F.col("k0") + 1).cast("bigint").alias("lag"),
        "y",
        "y2",
        "s",
        "n",
    )
    den = day.select(
        F.sum("y").over(w_all).cast("decimal(38,0)").alias("s"),
        F.count(F.lit(1)).over(w_all).cast("decimal(38,0)").alias("n"),
        F.col("y"),
    ).agg(
        F.sum(
            (F.col("n") * F.col("y") - F.col("s"))
            * (F.col("n") * F.col("y") - F.col("s"))
        ).alias("den")
    )
    num = (
        t.filter(F.col("y2").isNotNull())
        .groupBy("lag")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.sum(
                (F.col("n") * F.col("y") - F.col("s"))
                * (F.col("n") * F.col("y2") - F.col("s"))
            ).alias("num"),
        )
    )
    return num.join(F.broadcast(den)).select(
        "lag",
        "n_pairs",
        F.expr(
            "CAST(num * 1000000 div nullif(den, 0) AS BIGINT)"
        ).alias("acf_micro"),
    )


acf_autocorrelation.__doc__ = acf_autocorrelation.__doc__.format(
    maxlag=_ACF_MAX_LAG
)


def _acf_oracle() -> str:
    lead_cols = ", ".join(
        f"LEAD(y, {k}) OVER (ORDER BY d) AS y_{k}"
        for k in range(1, _ACF_MAX_LAG + 1)
    )
    lag_union = " UNION ALL ".join(
        f"SELECT {k} AS lag, y, y_{k} AS y2, s, n FROM t"
        for k in range(1, _ACF_MAX_LAG + 1)
    )
    return f"""
    WITH day AS (
      SELECT CAST(ts AS DATE) AS d,
             CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS y
      FROM events GROUP BY 1),
    t AS (SELECT y, {lead_cols},
                 CAST(SUM(y) OVER () AS HUGEINT) AS s,
                 CAST(COUNT(*) OVER () AS HUGEINT) AS n
          FROM day),
    den AS (SELECT SUM((n * y - s) * (n * y - s)) AS den FROM t),
    lagged AS ({lag_union})
    SELECT CAST(lag AS BIGINT) AS lag,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM((n * y - s) * (n * y2 - s)) * 1000000
                // NULLIF((SELECT den FROM den), 0) AS BIGINT) AS acf_micro
    FROM lagged WHERE y2 IS NOT NULL
    GROUP BY lag
    """


register("acf_autocorrelation", acf_autocorrelation, _acf_oracle())


# --------------------------------------------------------------------------
# assoc_rules_lift — market-basket association rules (support /
# confidence / lift in integer micros) over order x brand baskets
# --------------------------------------------------------------------------

_AR_MIN_PAIR = 5  # minimum co-occurrence count for an emitted rule


@session_cached
def _ar_pres(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(ok, b): distinct (orderkey, brand) basket presence."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .select(F.col("l_orderkey").alias("ok"), F.col("p_brand").alias("b"))
        .distinct()
    )


def assoc_rules_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules antecedent -> consequent over order baskets of
    part BRANDS — the market-basket class (Agrawal et al. SIGMOD'93,
    public; ``cooccurrence_pmi`` scores token pairs by PMI — this is
    the RULE form with the three canonical metrics): for every ordered
    brand pair co-occurring in >= {minpair} baskets, support =
    cnt_ab*1e6 div n_baskets, confidence = cnt_ab*1e6 div cnt_a, and
    lift = cnt_ab*n*1e6 div (cnt_a*cnt_b) — all integer micros.

    Shape: lineitem joins the BROADCAST part dim to brand, reduces to
    the DISTINCT (orderkey, brand) presence relation (map-side
    partials); the pair expansion is a self-equi-join ON ORDERKEY —
    per-basket output is bounded by C(#brands, 2), never |basket|^2
    in items, because brands are a fixed 25-value domain at every
    TPC-H scale; brand marginals and the basket total are
    #brand-sized relations broadcast back.  Lift products
    (cnt_ab * n ~ N^2) run in DECIMAL(38,0) / HUGEINT; both rule
    directions emit from one unordered pair count.
    """
    # 4 static consumers (pair self-join x2, marginals, basket total):
    # session-cache so lineitem is scanned ONCE, not four times
    pres = _ar_pres(spark, sf_dir)
    n_b = pres.agg(
        F.countDistinct("ok").cast("decimal(38,0)").alias("n_baskets")
    )
    marg = pres.groupBy("b").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    pair = (
        pres.alias("x")
        .join(
            pres.alias("y"),
            (F.col("x.ok") == F.col("y.ok"))
            & (F.col("x.b") < F.col("y.b")),
        )
        .groupBy(F.col("x.b").alias("ba"), F.col("y.b").alias("bb"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt_ab"))
        .filter(F.col("cnt_ab") >= _AR_MIN_PAIR)
    )
    both = pair.select("ba", "bb", "cnt_ab").unionByName(
        pair.select(
            F.col("bb").alias("ba"), F.col("ba").alias("bb"), "cnt_ab"
        )
    )
    j = (
        both.join(
            F.broadcast(marg.withColumnRenamed("b", "ba")), "ba"
        )
        .withColumnRenamed("cnt", "cnt_a")
        .join(F.broadcast(marg.withColumnRenamed("b", "bb")), "bb")
        .withColumnRenamed("cnt", "cnt_b")
        .join(F.broadcast(n_b))
    )
    return j.select(
        F.col("ba").alias("antecedent"),
        F.col("bb").alias("consequent"),
        "cnt_ab",
        "cnt_a",
        "cnt_b",
        F.expr(
            "CAST(CAST(cnt_ab AS DECIMAL(38,0)) * 1000000"
            " div n_baskets AS BIGINT)"
        ).alias("support_micro"),
        F.expr(
            "CAST(CAST(cnt_ab AS DECIMAL(38,0)) * 1000000"
            " div cnt_a AS BIGINT)"
        ).alias("confidence_micro"),
        F.expr(
            "CAST(CAST(cnt_ab AS DECIMAL(38,0)) * n_baskets * 1000000"
            " div (CAST(cnt_a AS DECIMAL(38,0)) * cnt_b) AS BIGINT)"
        ).alias("lift_micro"),
    )


assoc_rules_lift.__doc__ = assoc_rules_lift.__doc__.format(
    minpair=_AR_MIN_PAIR
)

register(
    "assoc_rules_lift",
    assoc_rules_lift,
    f"""
    WITH pres AS (SELECT DISTINCT l.l_orderkey AS ok, p.p_brand AS b
                  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
    n_b AS (SELECT CAST(COUNT(DISTINCT ok) AS HUGEINT) AS n_baskets
            FROM pres),
    marg AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS cnt FROM pres GROUP BY 1),
    pair AS (SELECT x.b AS ba, y.b AS bb,
                    CAST(COUNT(*) AS BIGINT) AS cnt_ab
             FROM pres x JOIN pres y ON x.ok = y.ok AND x.b < y.b
             GROUP BY 1, 2
             HAVING COUNT(*) >= {_AR_MIN_PAIR}),
    dirs AS (SELECT ba, bb, cnt_ab FROM pair
             UNION ALL
             SELECT bb, ba, cnt_ab FROM pair)
    SELECT t.ba AS antecedent, t.bb AS consequent, t.cnt_ab,
           ma.cnt AS cnt_a, mb.cnt AS cnt_b,
           CAST(CAST(t.cnt_ab AS HUGEINT) * 1000000
                // (SELECT n_baskets FROM n_b) AS BIGINT) AS support_micro,
           CAST(CAST(t.cnt_ab AS HUGEINT) * 1000000 // ma.cnt AS BIGINT)
             AS confidence_micro,
           CAST(CAST(t.cnt_ab AS HUGEINT) * (SELECT n_baskets FROM n_b)
                * 1000000 // (CAST(ma.cnt AS HUGEINT) * mb.cnt) AS BIGINT)
             AS lift_micro
    FROM dirs t
    JOIN marg ma ON ma.b = t.ba
    JOIN marg mb ON mb.b = t.bb
    """,
)


# --------------------------------------------------------------------------
# reciprocal_rank_fusion — fuse two per-language document rankings via
# RRF (integer micros, deterministic tie-breaks)
# --------------------------------------------------------------------------

_RRF_K = 60  # the canonical RRF constant (Cormack et al. SIGIR'09)
_RRF_TOP = 5  # fused results kept per language


def reciprocal_rank_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion of two document rankings per language —
    the rank-aggregation class used to merge retrieval backends
    (Cormack et al. SIGIR'09, public; ``tf_idf_topk``/``bm25_topk``
    each produce ONE ranking — RRF is how an engine combines them):
    ranking 1 orders by n_chars DESC, ranking 2 by whitespace token
    count DESC (the ``token_count`` measure), both tie-broken by
    doc_id ASC; rrf_micro = 1e6 div ({k}+r1) + 1e6 div ({k}+r2); the
    fused top {top} per language emit with their fused rank
    (tie-break doc_id ASC — every ordering total, so the result is a
    deterministic SET).

    Shape: one documents scan; token count is a map-side expression
    (size of a regex split — no UDF); all three windows are
    PARTITIONED BY lang, so no global sort of the corpus exists at
    any scale (per-partition top-k via rank filter); integer
    arithmetic end to end.
    """
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.col("n_chars").cast("bigint").alias("n_chars"),
        F.size(F.split(F.trim("text"), r"\s+")).cast("bigint").alias("toks"),
    )
    w1 = Window.partitionBy("lang").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    w2 = Window.partitionBy("lang").orderBy(
        F.col("toks").desc(), F.col("doc_id").asc()
    )
    r = d.select(
        "doc_id",
        "lang",
        F.row_number().over(w1).cast("bigint").alias("r1"),
        F.row_number().over(w2).cast("bigint").alias("r2"),
    ).withColumn(
        "rrf_micro",
        F.expr(
            f"CAST(1000000 div ({_RRF_K} + r1)"
            f" + 1000000 div ({_RRF_K} + r2) AS BIGINT)"
        ),
    )
    wf = Window.partitionBy("lang").orderBy(
        F.col("rrf_micro").desc(), F.col("doc_id").asc()
    )
    return (
        r.withColumn("fused_rank", F.row_number().over(wf).cast("bigint"))
        .filter(F.col("fused_rank") <= _RRF_TOP)
        .select("lang", "fused_rank", "doc_id", "r1", "r2", "rrf_micro")
    )


reciprocal_rank_fusion.__doc__ = reciprocal_rank_fusion.__doc__.format(
    k=_RRF_K, top=_RRF_TOP
)

register(
    "reciprocal_rank_fusion",
    reciprocal_rank_fusion,
    f"""
    WITH d AS (SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars,
                      CAST(len(regexp_split_to_array(trim(text), '\\s+'))
                           AS BIGINT) AS toks
               FROM documents),
    r AS (SELECT doc_id, lang,
                 CAST(ROW_NUMBER() OVER (PARTITION BY lang
                        ORDER BY n_chars DESC, doc_id ASC) AS BIGINT) AS r1,
                 CAST(ROW_NUMBER() OVER (PARTITION BY lang
                        ORDER BY toks DESC, doc_id ASC) AS BIGINT) AS r2
          FROM d),
    s AS (SELECT *, CAST(1000000 // ({_RRF_K} + r1)
                         + 1000000 // ({_RRF_K} + r2) AS BIGINT) AS rrf_micro
          FROM r)
    SELECT lang,
           CAST(ROW_NUMBER() OVER (PARTITION BY lang
                  ORDER BY rrf_micro DESC, doc_id ASC) AS BIGINT)
             AS fused_rank,
           doc_id, r1, r2, rrf_micro
    FROM s
    QUALIFY fused_rank <= {_RRF_TOP}
    """,
)


# --------------------------------------------------------------------------
# mann_kendall_trend — the Mann-Kendall trend TEST (exact S statistic +
# tie-corrected variance), the significance complement of theil_sen
# --------------------------------------------------------------------------


def mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend test over the monthly order-revenue series —
    the trend-SIGNIFICANCE class (``theil_sen_trend`` estimates the
    slope; Mann-Kendall is the distribution-free test usually paired
    with it; Mann 1945 / Kendall 1975, public): S = sum over ordered
    month pairs of sgn(y_j - y_i), and the tie-corrected variance
    kept as 18*Var = n(n-1)(2n+5) - sum_t t(t-1)(2t+5) — both exact
    integers, so no sqrt/float enters the operator (a consumer takes
    z = (S -/+ 1)/sqrt(Var) downstream).

    Shape: identical to ``theil_sen_trend`` — one scan to the
    MONTH-bounded (x, y) relation, the quadratic sign census on that
    ~84-row statistics relation (broadcast nested loop), the tie
    census a second grouped aggregate on the same relation; every
    product is counts-of-months-cubed, BIGINT-safe to ~1e6 months
    (~80k years of data) and ANSI-loud past it.
    """
    m = _month_rev(spark, sf_dir)
    b = m.select(F.col("x").alias("bx"), F.col("y").alias("by"))
    s = (
        m.join(F.broadcast(b), F.col("bx") < F.col("x"))
        .agg(
            F.sum(
                F.when(F.col("y") > F.col("by"), 1)
                .when(F.col("y") < F.col("by"), -1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("s_stat")
        )
    )
    ties = (
        m.groupBy("y")
        .agg(F.count(F.lit(1)).cast("bigint").alias("t"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_groups"),
            F.sum("t").cast("bigint").alias("n_months"),
            F.sum(
                F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
            )
            .cast("bigint")
            .alias("tie_term"),
        )
    )
    return s.join(F.broadcast(ties)).select(
        "n_months",
        "s_stat",
        F.expr(
            "CAST(n_months * (n_months - 1) * (2 * n_months + 5)"
            " - tie_term AS BIGINT)"
        ).alias("var18"),
        F.expr(
            "CASE WHEN s_stat > 0 THEN 'increasing'"
            " WHEN s_stat < 0 THEN 'decreasing' ELSE 'none' END"
        ).alias("direction"),
    )


register(
    "mann_kendall_trend",
    mann_kendall_trend,
    """
    WITH m AS (SELECT CAST(year(o_orderdate) * 12 + month(o_orderdate)
                          AS BIGINT) AS x,
                      CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5)
                                    AS BIGINT)) AS BIGINT) AS y
               FROM orders GROUP BY 1),
    s AS (SELECT CAST(SUM(CASE WHEN a.y > b.y THEN 1
                               WHEN a.y < b.y THEN -1 ELSE 0 END)
                      AS BIGINT) AS s_stat
          FROM m a JOIN m b ON b.x < a.x),
    ties AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
                    CAST(SUM(t) AS BIGINT) AS n_months,
                    CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT)
                      AS tie_term
             FROM (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM m GROUP BY y))
    SELECT ties.n_months, s.s_stat,
           CAST(ties.n_months * (ties.n_months - 1)
                * (2 * ties.n_months + 5) - ties.tie_term AS BIGINT)
             AS var18,
           CASE WHEN s.s_stat > 0 THEN 'increasing'
                WHEN s.s_stat < 0 THEN 'decreasing' ELSE 'none' END
             AS direction
    FROM s, ties
    """,
)


# --------------------------------------------------------------------------
# time_weighted_average — LOCF interval-weighted TWAP of event values
# per event_type (financial time-weighting over irregular samples)
# --------------------------------------------------------------------------


def time_weighted_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value (TWAP) per event_type — the
    irregular-sampling aggregation class (a plain AVG over-weights
    burst periods; TWAP weights each observation by how long it REMAINS
    CURRENT — the standard financial/metrics semantics):
    each event's value (cents) holds last-observation-carried-forward
    until the SAME USER's next event (``join_asof`` is this lookup's
    join form); the interval duration in exact integer MICROSECONDS weights the
    cents (second-granularity epochs round fractional seconds
    differently across engines),
    grouped by the event_type that OPENED the interval; each user's
    final event closes no interval and is excluded (the honest LOCF
    boundary).  twap_milli = sum(cents*dur) * 1000 div sum(dur) —
    integer milli-cents.

    Shape: one events scan; the LOCF successor is ONE LEAD window
    PARTITIONED BY user_id (ties broken by event_id so the order is
    total), then a 5-group aggregate; the cents x microseconds products
    run in DECIMAL(38,0) / HUGEINT (value-cents x epoch-micros passes
    BIGINT immediately); NULLIF guards the
    zero-duration degenerate group identically on both engines.
    """
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        # session tz is pinned UTC (session.py); EXACT integer
        # microseconds (unix_micros / epoch_us) — second-granularity
        # epochs round fractional seconds differently across engines
        F.expr("cast(unix_micros(cast(ts as timestamp)) as bigint)").alias(
            "sec"
        ),
        F.expr("cast(floor(value * 100 + 0.5) as bigint)").alias("cents"),
    )
    w = Window.partitionBy("user_id").orderBy("sec", "event_id")
    iv = e.select(
        "event_type",
        "cents",
        (F.lead("sec").over(w) - F.col("sec")).cast("bigint").alias("dur"),
    ).filter(F.col("dur").isNotNull())
    return (
        iv.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_intervals"),
            F.sum("dur").cast("bigint").alias("total_dur_us"),
            F.sum(F.col("cents").cast("decimal(38,0)") * F.col("dur")).alias(
                "wsum"
            ),
        )
        .select(
            "event_type",
            "n_intervals",
            "total_dur_us",
            F.expr(
                "CAST(wsum * 1000 div nullif(total_dur_us, 0) AS BIGINT)"
            ).alias("twap_milli_cents"),
        )
    )


register(
    "time_weighted_average",
    time_weighted_average,
    """
    WITH e AS (SELECT user_id, event_id, event_type,
                      CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) AS sec,
                      CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
               FROM events),
    iv AS (SELECT event_type, cents,
                  CAST(LEAD(sec) OVER (PARTITION BY user_id
                                       ORDER BY sec, event_id) - sec
                       AS BIGINT) AS dur
           FROM e)
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_intervals,
           CAST(SUM(dur) AS BIGINT) AS total_dur_us,
           CAST(SUM(CAST(cents AS HUGEINT) * dur) * 1000
                // NULLIF(CAST(SUM(dur) AS HUGEINT), 0) AS BIGINT)
             AS twap_milli_cents
    FROM iv WHERE dur IS NOT NULL
    GROUP BY event_type
    """,
)


# --------------------------------------------------------------------------
# winsorized_robust_mean — p5/p95 winsorized + trimmed means of order
# prices over the dollar-bounded cell relation
# --------------------------------------------------------------------------

_WINS_LO = 5  # lower winsorization percentile
_WINS_HI = 95  # upper winsorization percentile


def winsorized_robust_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized and trimmed means of order prices at p{lo}/p{hi} —
    the robust-location class for outlier-resistant data cleaning
    (``percentile_q`` reads quantiles; winsorizing CLAMPS the tails
    into them, trimming DROPS them — the two standard robust-mean
    constructions, Tukey, public): cut values are the smallest dollar
    cells whose cumulative count reaches ceil(n*p/100) = (n*p + 99) div 100
    (exact rank semantics under trunc division, no interpolation); means in integer micros of cents.

    Shape: one orders scan reduced map-side to the DOLLAR-bounded cell
    relation (the ``equi_depth_histogram`` rule); the cumulative
    window, both threshold selections, and the clamp-and-sum all run
    on that bounded relation; the two cut values broadcast back as a
    1-row relation.  Value x count products run in
    DECIMAL(38,0) / HUGEINT; NULLIF guards the all-trimmed degenerate
    case identically on both engines.
    """
    cells = (
        load_table(spark, sf_dir, "orders")
        .select(
            F.expr(
                "(cast(floor(o_totalprice * 100 + 0.5) as bigint)"
                " div 100) * 100"
            ).alias("v")
        )
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    w_cum = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.partitionBy()
    t = cells.select(
        "v",
        "c",
        F.sum("c").over(w_cum).cast("bigint").alias("cum"),
        F.sum("c").over(w_all).cast("bigint").alias("n"),
    )
    cuts = t.groupBy("n").agg(
        F.min(
            F.when(
                F.expr(f"cum >= (n * {_WINS_LO} + 99) div 100"), F.col("v")
            )
        )
        .cast("bigint")
        .alias("lo_v"),
        F.min(
            F.when(
                F.expr(f"cum >= (n * {_WINS_HI} + 99) div 100"), F.col("v")
            )
        )
        .cast("bigint")
        .alias("hi_v"),
    )
    j = cells.join(F.broadcast(cuts))
    clamped = F.expr(
        "CAST(CASE WHEN v < lo_v THEN lo_v"
        " WHEN v > hi_v THEN hi_v ELSE v END AS DECIMAL(38,0)) * c"
    )
    inside = F.expr("v >= lo_v AND v <= hi_v")
    return j.groupBy("n", "lo_v", "hi_v").agg(
        F.expr(
            "CAST(SUM(CAST(v AS DECIMAL(38,0)) * c) * 1000000"
            " div nullif(SUM(c), 0) AS BIGINT)"
        ).alias("raw_mean_micro"),
        F.sum(clamped)
        .cast("decimal(38,0)")
        .alias("_wsum"),
        F.sum(F.when(inside, F.col("c")).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("n_kept"),
        F.sum(
            F.when(inside, F.col("v").cast("decimal(38,0)") * F.col("c"))
        ).alias("_tsum"),
    ).select(
        "n",
        "lo_v",
        "hi_v",
        "raw_mean_micro",
        F.expr("CAST(_wsum * 1000000 div n AS BIGINT)").alias(
            "winsorized_mean_micro"
        ),
        "n_kept",
        F.expr(
            "CAST(_tsum * 1000000 div nullif(n_kept, 0) AS BIGINT)"
        ).alias("trimmed_mean_micro"),
    )


winsorized_robust_mean.__doc__ = winsorized_robust_mean.__doc__.format(
    lo=_WINS_LO, hi=_WINS_HI
)

register(
    "winsorized_robust_mean",
    winsorized_robust_mean,
    f"""
    WITH cells AS (
      SELECT (CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) // 100) * 100
               AS v,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM orders GROUP BY 1),
    t AS (SELECT v, c,
                 CAST(SUM(c) OVER (ORDER BY v
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      AS BIGINT) AS cum,
                 CAST(SUM(c) OVER () AS BIGINT) AS n
          FROM cells),
    cuts AS (SELECT n,
                    CAST(MIN(CASE WHEN cum >= (n * {_WINS_LO} + 99) // 100
                                  THEN v END) AS BIGINT) AS lo_v,
                    CAST(MIN(CASE WHEN cum >= (n * {_WINS_HI} + 99) // 100
                                  THEN v END) AS BIGINT) AS hi_v
             FROM t GROUP BY n)
    SELECT cuts.n, cuts.lo_v, cuts.hi_v,
           CAST(SUM(CAST(v AS HUGEINT) * c) * 1000000
                // NULLIF(SUM(c), 0) AS BIGINT) AS raw_mean_micro,
           CAST(SUM(CAST(CASE WHEN v < lo_v THEN lo_v
                              WHEN v > hi_v THEN hi_v
                              ELSE v END AS HUGEINT) * c) * 1000000
                // cuts.n AS BIGINT) AS winsorized_mean_micro,
           CAST(SUM(CASE WHEN v >= lo_v AND v <= hi_v THEN c ELSE 0 END)
                AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN v >= lo_v AND v <= hi_v
                         THEN CAST(v AS HUGEINT) * c END) * 1000000
                // NULLIF(SUM(CASE WHEN v >= lo_v AND v <= hi_v
                                   THEN c ELSE 0 END), 0) AS BIGINT)
             AS trimmed_mean_micro
    FROM cells CROSS JOIN cuts
    GROUP BY cuts.n, cuts.lo_v, cuts.hi_v
    """,
)


# --------------------------------------------------------------------------
# runs_test_randomness — Wald-Wolfowitz runs test of the daily revenue
# series against its median (exact integer statistics)
# --------------------------------------------------------------------------


def runs_test_randomness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test of the daily events-revenue series —
    the randomness-diagnostic class (``acf_autocorrelation`` measures
    linear serial correlation; the runs test detects ANY
    above/below-median clustering, distribution-free; Wald &
    Wolfowitz 1940, public): days at the series' lower median are
    dropped (standard practice), the rest sign as above/below, R =
    1 + number of sign CHANGES along the day order, and the exact
    moments ride along as integers/micros — E[R] = 1 + 2*n1*n2/n in
    micros and Var[R]'s exact numerator/denominator pair
    (2*n1*n2*(2*n1*n2 - n), n^2*(n-1)) so no float or sqrt enters.

    Shape: one events scan to the metadata-sized day relation; the
    median is a rank selection over that relation (lower median, the
    ``theil_sen_trend`` rule); signs, LAG, and the final single-row
    aggregate all stay on the day relation.  Products run in
    DECIMAL(38,0) / HUGEINT; NULLIF guards the constant series.
    """
    day = _day_rev(spark, sf_dir)
    w_all = Window.partitionBy()
    ranked = day.select(
        "d",
        "y",
        F.row_number().over(Window.orderBy("y", "d")).alias("rn"),
        F.count(F.lit(1)).over(w_all).alias("n_days"),
    )
    med = ranked.filter(F.expr("rn = (n_days + 1) div 2")).select(
        F.col("y").alias("med")
    )
    s = (
        day.join(F.broadcast(med))
        .filter(F.col("y") != F.col("med"))
        .select(
            "d", (F.col("y") > F.col("med")).cast("int").alias("sgn")
        )
    )
    w_ord = Window.orderBy("d")
    runs = s.select(
        "sgn",
        F.when(
            F.lag("sgn").over(w_ord).isNull()
            | (F.lag("sgn").over(w_ord) != F.col("sgn")),
            1,
        )
        .otherwise(0)
        .alias("new_run"),
    )
    agg = runs.agg(
        F.sum("new_run").cast("bigint").alias("n_runs"),
        F.sum("sgn").cast("bigint").alias("n_above"),
        F.sum(F.lit(1) - F.col("sgn")).cast("bigint").alias("n_below"),
    )
    return agg.select(
        "n_runs",
        "n_above",
        "n_below",
        F.expr(
            "CAST(1000000 + 2 * CAST(n_above AS DECIMAL(38,0)) * n_below"
            " * 1000000 div nullif(n_above + n_below, 0) AS BIGINT)"
        ).alias("exp_runs_micro"),
        F.expr(
            "CAST(2 * CAST(n_above AS DECIMAL(38,0)) * n_below"
            " * (2 * CAST(n_above AS DECIMAL(38,0)) * n_below"
            " - n_above - n_below) * 1000000"
            " div nullif(CAST(n_above + n_below AS DECIMAL(38,0))"
            " * (n_above + n_below) * (n_above + n_below - 1), 0)"
            " AS BIGINT)"
        ).alias("var_runs_micro"),
    )


register(
    "runs_test_randomness",
    runs_test_randomness,
    """
    WITH day AS (
      SELECT CAST(ts AS DATE) AS d,
             CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS y
      FROM events GROUP BY 1),
    ranked AS (SELECT d, y,
                      ROW_NUMBER() OVER (ORDER BY y, d) AS rn,
                      COUNT(*) OVER () AS n_days
               FROM day),
    med AS (SELECT y AS med FROM ranked WHERE rn = (n_days + 1) // 2),
    s AS (SELECT d, CASE WHEN y > (SELECT med FROM med) THEN 1 ELSE 0 END
                      AS sgn
          FROM day WHERE y <> (SELECT med FROM med)),
    runs AS (SELECT sgn,
                    CASE WHEN LAG(sgn) OVER (ORDER BY d) IS NULL
                              OR LAG(sgn) OVER (ORDER BY d) <> sgn
                         THEN 1 ELSE 0 END AS new_run
             FROM s),
    agg AS (SELECT CAST(SUM(new_run) AS BIGINT) AS n_runs,
                   CAST(SUM(sgn) AS BIGINT) AS n_above,
                   CAST(SUM(1 - sgn) AS BIGINT) AS n_below
            FROM runs)
    SELECT n_runs, n_above, n_below,
           CAST(1000000 + 2 * CAST(n_above AS HUGEINT) * n_below * 1000000
                // NULLIF(n_above + n_below, 0) AS BIGINT)
             AS exp_runs_micro,
           CAST(2 * CAST(n_above AS HUGEINT) * n_below
                * (2 * CAST(n_above AS HUGEINT) * n_below
                   - n_above - n_below) * 1000000
                // NULLIF(CAST(n_above + n_below AS HUGEINT)
                          * (n_above + n_below) * (n_above + n_below - 1), 0)
                AS BIGINT) AS var_runs_micro
    FROM agg
    """,
)


# --------------------------------------------------------------------------
# capture_recapture_estimate — Lincoln-Petersen / Chapman population
# estimate of the user base from two deterministic sampling occasions
# --------------------------------------------------------------------------


def capture_recapture_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capture-recapture estimate of the TOTAL user population from
    two sampling occasions — the population-estimation class (Lincoln
    1930 / Petersen 1896; Chapman 1951 bias-corrected form — all
    public; ``kmv_distinct_sketch`` estimates a SEEN distinct count,
    capture-recapture estimates the UNSEEN total): occasion 1 = users
    active on EVEN epoch-days, occasion 2 = ODD epoch-days (a
    deterministic interleaved design, robust to any fixture date
    range); with n1, n2 the occasion user counts and m the recaptured
    overlap, Lincoln-Petersen = n1*n2 div m and Chapman =
    (n1+1)*(n2+1) div (m+1) - 1 (defined even at m = 0).  The true
    distinct count rides along so the artifact shows its own error.

    Shape: one events scan reduced map-side to the DISTINCT
    (user, occasion-parity) relation; everything after is one grouped
    aggregate of per-user parity flags — no joins at all; products
    n1*n2 run in DECIMAL(38,0) / HUGEINT (user counts can be
    billions); NULLIF guards the zero-recapture LP division.
    """
    u = (
        load_table(spark, sf_dir, "events")
        .select(
            "user_id",
            F.expr(
                "pmod(datediff(cast(ts as date), date'1970-01-01'), 2)"
            ).alias("occ"),
        )
        .distinct()
    )
    per_user = u.groupBy("user_id").agg(
        F.max(F.when(F.col("occ") == 0, 1).otherwise(0)).alias("in1"),
        F.max(F.when(F.col("occ") == 1, 1).otherwise(0)).alias("in2"),
    )
    agg = per_user.agg(
        F.sum("in1").cast("bigint").alias("n1"),
        F.sum("in2").cast("bigint").alias("n2"),
        F.sum(F.col("in1") * F.col("in2")).cast("bigint").alias("m"),
        F.count(F.lit(1)).cast("bigint").alias("true_distinct"),
    )
    return agg.select(
        "n1",
        "n2",
        "m",
        F.expr(
            "CAST(CAST(n1 AS DECIMAL(38,0)) * n2 div nullif(m, 0)"
            " AS BIGINT)"
        ).alias("lincoln_petersen"),
        F.expr(
            "CAST((CAST(n1 AS DECIMAL(38,0)) + 1) * (n2 + 1)"
            " div (m + 1) - 1 AS BIGINT)"
        ).alias("chapman"),
        "true_distinct",
    )


register(
    "capture_recapture_estimate",
    capture_recapture_estimate,
    """
    WITH u AS (SELECT DISTINCT user_id,
                      CAST(date_diff('day', DATE '1970-01-01',
                                     CAST(ts AS DATE)) % 2 AS BIGINT) AS occ
               FROM events),
    per_user AS (SELECT user_id,
                        MAX(CASE WHEN occ = 0 THEN 1 ELSE 0 END) AS in1,
                        MAX(CASE WHEN occ = 1 THEN 1 ELSE 0 END) AS in2
                 FROM u GROUP BY 1),
    agg AS (SELECT CAST(SUM(in1) AS BIGINT) AS n1,
                   CAST(SUM(in2) AS BIGINT) AS n2,
                   CAST(SUM(in1 * in2) AS BIGINT) AS m,
                   CAST(COUNT(*) AS BIGINT) AS true_distinct
            FROM per_user)
    SELECT n1, n2, m,
           CAST(CAST(n1 AS HUGEINT) * n2 // NULLIF(m, 0) AS BIGINT)
             AS lincoln_petersen,
           CAST((CAST(n1 AS HUGEINT) + 1) * (n2 + 1) // (m + 1) - 1
                AS BIGINT) AS chapman,
           true_distinct
    FROM agg
    """,
)


# --------------------------------------------------------------------------
# anova_oneway — one-way ANOVA across event types in integer micros
# (exact grouped sums; per-term truncating micro division)
# --------------------------------------------------------------------------


def anova_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA of event VALUE (cents) across the k event types —
    the k-group mean-comparison class (``welch_ttest_q`` compares TWO
    groups; Fisher's F compares all k at once, public): from exact
    integer group sums S_g, counts n_g, the grand pair (T, N) and the
    raw sum of squares Q = sum(cents^2),
    ss_between = sum_g(S_g^2 div n_g) - T^2 div N and
    ss_within = Q - sum_g(S_g^2 div n_g), in raw cents^2 — each term
    one truncating integer division, identical on both engines — plus
    f_micro = (ssb div (k-1)) * 1e6 div (ssw div (N-k)), the F ratio
    alone carrying the micro scale (a micro-scaled SS would overflow
    BIGINT at ~1e13 cents^2 already; raw cents^2 is ANSI-loud past
    ~9e18).

    Shape: ONE grouped aggregate (map-side partials) to the k-row
    relation, then a single-row reduce — no window, no join except
    the final 1-row broadcast; cents^2 sums and S_g^2 products run in
    DECIMAL(38,0) / HUGEINT (cents^2 ~ 1e10 per row leaves BIGINT at
    ~1e9 rows); NULLIF guards k = 1 and the zero-variance degenerate.
    """
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.expr("cast(floor(value * 100 + 0.5) as bigint)").alias("cents"),
    )
    g = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_g"),
        F.sum("cents").cast("decimal(38,0)").alias("s_g"),
        F.sum(F.col("cents").cast("decimal(38,0)") * F.col("cents")).alias(
            "q_g"
        ),
    )
    agg = g.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("n_g").cast("bigint").alias("n"),
        F.sum("s_g").alias("t"),
        F.sum("q_g").alias("q"),
        F.sum(
            F.expr("s_g * s_g div n_g")
        ).alias("sum_sg2"),
    )
    return agg.select(
        "k",
        "n",
        F.expr("CAST(sum_sg2 - t * t div n AS BIGINT)").alias(
            "ss_between_cents2"
        ),
        F.expr("CAST(q - sum_sg2 AS BIGINT)").alias("ss_within_cents2"),
        F.expr(
            "CAST(CAST((sum_sg2 - t * t div n) div nullif(k - 1, 0)"
            " AS DECIMAL(38,0)) * 1000000"
            " div nullif(CAST((q - sum_sg2) div nullif(n - k, 0)"
            " AS DECIMAL(38,0)), 0) AS BIGINT)"
        ).alias("f_micro"),
    )


register(
    "anova_oneway",
    anova_oneway,
    """
    WITH e AS (SELECT event_type,
                      CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
               FROM events),
    g AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_g,
                 CAST(SUM(cents) AS HUGEINT) AS s_g,
                 SUM(CAST(cents AS HUGEINT) * cents) AS q_g
          FROM e GROUP BY 1),
    agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS k,
                   CAST(SUM(n_g) AS BIGINT) AS n,
                   SUM(s_g) AS t, SUM(q_g) AS q,
                   SUM(s_g * s_g // n_g) AS sum_sg2
            FROM g)
    SELECT k, n,
           CAST(sum_sg2 - t * t // n AS BIGINT) AS ss_between_cents2,
           CAST(q - sum_sg2 AS BIGINT) AS ss_within_cents2,
           CAST(((sum_sg2 - t * t // n) // NULLIF(k - 1, 0))
                * 1000000 // NULLIF((q - sum_sg2)
                                    // NULLIF(n - k, 0), 0) AS BIGINT)
             AS f_micro
    FROM agg
    """,
)


# --------------------------------------------------------------------------
# temporal_agg_sql2011 — time-varying aggregate over an interval
# relation (SQL:2011 temporal aggregation via the delta sweep)
# --------------------------------------------------------------------------

_TA_OPEN_DAYS = 30  # an order is "open" [orderdate, orderdate + 30d)


def temporal_agg_sql2011(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL:2011 temporal AGGREGATION: the time-varying COUNT and cents
    SUM of OPEN orders per priority — emit one row per constancy
    interval [valid_from, valid_to) during which the aggregate value
    does not change (the standard temporal-aggregation output form;
    Snodgrass, public).  An order is open [orderdate,
    orderdate + {open}d); `temporal_join_sql2011` joins two interval
    relations, `concurrent_intervals` reads ONE peak — this is the
    full timeline of an arbitrary measure.

    Shape: the classic +-delta sweep — every order emits (+1, +cents)
    at its start day and (-1, -cents) at its end day (map-side), the
    deltas reduce to the (priority x distinct-day) relation (bounded
    by 5 x the CALENDAR at any input size), and ONE cumulative window
    PARTITIONED BY priority produces the step function; valid_to =
    LEAD(day), with the final all-closed zero row dropped.  Cents
    sums run in BIGINT (ANSI-loud past ~9e16 open cents per
    priority).
    """
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("prio"),
        F.to_date("o_orderdate").alias("od"),
        F.expr("cast(floor(o_totalprice * 100 + 0.5) as bigint)").alias(
            "cents"
        ),
    )
    deltas = o.select(
        "prio",
        F.col("od").alias("d"),
        F.lit(1).cast("bigint").alias("dn"),
        F.col("cents").alias("dc"),
    ).unionByName(
        o.select(
            "prio",
            F.date_add("od", _TA_OPEN_DAYS).alias("d"),
            F.lit(-1).cast("bigint").alias("dn"),
            (-F.col("cents")).alias("dc"),
        )
    )
    g = deltas.groupBy("prio", "d").agg(
        F.sum("dn").cast("bigint").alias("dn"),
        F.sum("dc").cast("bigint").alias("dc"),
    )
    w = Window.partitionBy("prio").orderBy("d")
    t = g.select(
        "prio",
        F.col("d").alias("valid_from"),
        F.lead("d").over(w).alias("valid_to"),
        F.sum("dn").over(
            Window.partitionBy("prio")
            .orderBy("d")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        .cast("bigint")
        .alias("n_active"),
        F.sum("dc").over(
            Window.partitionBy("prio")
            .orderBy("d")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        .cast("bigint")
        .alias("cents_active"),
    )
    return t.filter(F.col("valid_to").isNotNull())


temporal_agg_sql2011.__doc__ = temporal_agg_sql2011.__doc__.format(
    open=_TA_OPEN_DAYS
)

register(
    "temporal_agg_sql2011",
    temporal_agg_sql2011,
    f"""
    WITH o AS (SELECT o_orderpriority AS prio,
                      CAST(o_orderdate AS DATE) AS od,
                      CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                        AS cents
               FROM orders),
    deltas AS (SELECT prio, od AS d, CAST(1 AS BIGINT) AS dn, cents AS dc
               FROM o
               UNION ALL
               SELECT prio, od + {_TA_OPEN_DAYS}, CAST(-1 AS BIGINT),
                      -cents
               FROM o),
    g AS (SELECT prio, d, CAST(SUM(dn) AS BIGINT) AS dn,
                 CAST(SUM(dc) AS BIGINT) AS dc
          FROM deltas GROUP BY 1, 2)
    SELECT prio, valid_from, valid_to, n_active, cents_active
    FROM (SELECT prio, d AS valid_from,
                 LEAD(d) OVER (PARTITION BY prio ORDER BY d) AS valid_to,
                 CAST(SUM(dn) OVER (PARTITION BY prio ORDER BY d
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      AS BIGINT) AS n_active,
                 CAST(SUM(dc) OVER (PARTITION BY prio ORDER BY d
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      AS BIGINT) AS cents_active
          FROM g)
    WHERE valid_to IS NOT NULL
    """,
)


# --------------------------------------------------------------------------
# psi_drift_vintages — Population Stability Index between two order
# vintages over fixed dollar bins (the scorecard-monitoring drift audit)
# --------------------------------------------------------------------------

_PSI_BIN_DOLLARS = 20_000  # fixed-width dollar bins
_PSI_SPLIT_YEAR = 1995  # base vintage < split, new vintage >= split


def psi_drift_vintages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index of the order-price distribution
    between two date vintages (orderdate year < {split} = base, >=
    {split} = new) over fixed {bin}-dollar bins — the scorecard/model
    drift audit (industry-standard metric, public; ``corpus_drift_kl``
    watches token distributions — PSI is the BINNED-numeric form
    risk pipelines quote, with its 0.1/0.25 action thresholds):
    per bin, term = (p - q) * ln(p / q) with Laplace +1 smoothing on
    both counts (no empty-bin infinity, deterministic), rounded at
    4 dp exactly like the KL precedent; the PSI is the term sum
    (pinned in pytest).

    Shape: one orders scan, map-side binning, ONE grouped census to
    the dollar-range-bounded bin relation; totals are windows over
    that relation; the only floats are ln() of count ratios rounded
    at 4 dp on BOTH engines (the ``corpus_drift_kl`` discipline —
    every other column integer).
    """
    o = load_table(spark, sf_dir, "orders").select(
        F.expr(
            f"cast(floor(o_totalprice) as bigint) div {_PSI_BIN_DOLLARS}"
        ).alias("bin"),
        (F.year("o_orderdate") < _PSI_SPLIT_YEAR).alias("is_base"),
    )
    cells = o.groupBy("bin").agg(
        (F.count_if("is_base") + 1).cast("bigint").alias("n_base"),
        (F.count_if(~F.col("is_base")) + 1).cast("bigint").alias("n_new"),
    )
    w_all = Window.partitionBy()
    t = cells.select(
        "bin",
        "n_base",
        "n_new",
        F.sum("n_base").over(w_all).alias("sb"),
        F.sum("n_new").over(w_all).alias("sn"),
    )
    p = F.col("n_base").cast("double") / F.col("sb").cast("double")
    q = F.col("n_new").cast("double") / F.col("sn").cast("double")
    return t.select(
        "bin",
        "n_base",
        "n_new",
        (F.round((p - q) * F.log(p / q), 4) + F.lit(0.0)).alias(
            "psi_term_4dp"
        ),
    )


psi_drift_vintages.__doc__ = psi_drift_vintages.__doc__.format(
    split=_PSI_SPLIT_YEAR, bin=_PSI_BIN_DOLLARS
)

register(
    "psi_drift_vintages",
    psi_drift_vintages,
    f"""
    WITH o AS (SELECT CAST(floor(o_totalprice) AS BIGINT)
                        // {_PSI_BIN_DOLLARS} AS bin,
                      year(o_orderdate) < {_PSI_SPLIT_YEAR} AS is_base
               FROM orders),
    cells AS (SELECT bin,
                     CAST(SUM(CASE WHEN is_base THEN 1 ELSE 0 END) + 1
                          AS BIGINT) AS n_base,
                     CAST(SUM(CASE WHEN is_base THEN 0 ELSE 1 END) + 1
                          AS BIGINT) AS n_new
              FROM o GROUP BY 1),
    t AS (SELECT bin, n_base, n_new,
                 SUM(n_base) OVER () AS sb, SUM(n_new) OVER () AS sn
          FROM cells)
    SELECT bin, n_base, n_new,
           round((CAST(n_base AS DOUBLE) / sb - CAST(n_new AS DOUBLE) / sn)
                 * ln((CAST(n_base AS DOUBLE) / sb)
                      / (CAST(n_new AS DOUBLE) / sn)), 4) + 0.0
             AS psi_term_4dp
    FROM t
    """,
)


# --------------------------------------------------------------------------
# misra_gries_topk — deterministic mergeable Misra-Gries heavy-hitter
# summary (canonical offline form, merged across hash buckets)
# --------------------------------------------------------------------------

_MG_K = 8  # counters per summary
_MG_BUCKETS = 16  # deterministic partial-summary buckets


@session_cached
def _mg_cnt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(u, c, bkt): per-user event count and its summary bucket."""
    return (
        load_table(spark, sf_dir, "events")
        .groupBy(F.col("user_id").alias("u"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .withColumn("bkt", F.expr(f"u % {_MG_BUCKETS}").cast("bigint"))
    )


def misra_gries_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable Misra-Gries heavy-hitter summary of event users — the
    deterministic frequent-items class (Misra & Gries 1982; the MERGE
    is Agarwal et al. "Mergeable Summaries" PODS'12, public;
    ``approx_top_k_q`` is the engine-native opaque sketch — this one's
    whole construction is exact-oracle-checkable): each of {b}
    deterministic hash buckets (user_id % {b} — a stand-in for
    per-partition summaries) builds the CANONICAL offline MG({k})
    summary of its counts (top {k} by (cnt, user) with every weight
    decremented by the (k+1)-th largest count — the order-free fixed
    point every stream order converges to); the bucket summaries then
    MERGE: weights sum per user, and the merged multiset is
    re-decremented by ITS (k+1)-th largest.  err_bound is the TIGHT
    per-row mergeable-summaries bound t_bucket(u) + gt — each user
    lives in exactly one bucket, so only its own bucket's threshold
    plus the merge threshold can have decremented it; the MG guarantee
    est <= true <= est + err_bound is part of the OUTPUT contract
    (true counts ride along) and is pinned in pytest together with
    the heavy-hitter completeness property.

    Shape: one grouped count (map-side partials), rank windows
    PARTITIONED BY bucket over the per-bucket count relations, then a
    {b}x{k}-row merge — after the first aggregate nothing data-sized
    moves; in a deployment the bucket summaries are what executors
    ship to the coordinator (the ``hll_union_rollup`` shape, but with
    a fully checkable artifact).
    """
    # 6 static consumers (rank chain, threshold chain, true-count join
    # back): session-cache so events is scanned ONCE (12th shared
    # relation, the _vopt_pref rule)
    cnt = _mg_cnt(spark, sf_dir)
    wb = Window.partitionBy("bkt").orderBy(
        F.col("c").desc(), F.col("u").asc()
    )
    ranked = cnt.select("bkt", "u", "c", F.row_number().over(wb).alias("rn"))
    thr = (
        ranked.filter(F.col("rn") == _MG_K + 1)
        .select("bkt", F.col("c").alias("t"))
    )
    summ = (
        ranked.filter(F.col("rn") <= _MG_K)
        .join(F.broadcast(thr), "bkt", "left")
        .select(
            "u",
            F.greatest(
                F.col("c") - F.coalesce(F.col("t"), F.lit(0)), F.lit(0)
            )
            .cast("bigint")
            .alias("w"),
        )
        .filter(F.col("w") > 0)
    )
    merged = summ.groupBy("u").agg(F.sum("w").cast("bigint").alias("w"))
    wm = Window.orderBy(F.col("w").desc(), F.col("u").asc())
    mranked = merged.select("u", "w", F.row_number().over(wm).alias("rn"))
    gthr = mranked.filter(F.col("rn") == _MG_K + 1).select(
        F.col("w").alias("gt")
    )
    # ADVICE r10: each user lives in exactly ONE bucket (u % b), so the
    # tight mergeable-summaries bound is t_bucket(u) + gt per row — not the
    # sum of every bucket's threshold.  Join the user's own bucket threshold
    # back (broadcast, <= b rows) instead of the summed bucket_decr.
    final = (
        mranked.filter(F.col("rn") <= _MG_K)
        .join(F.broadcast(gthr), how="left")
        .withColumn("bkt", F.expr(f"u % {_MG_BUCKETS}").cast("bigint"))
        .join(F.broadcast(thr), "bkt", "left")
        .select(
            "u",
            F.greatest(
                F.col("w") - F.coalesce(F.col("gt"), F.lit(0)), F.lit(0)
            )
            .cast("bigint")
            .alias("est_weight"),
            (
                F.coalesce(F.col("t"), F.lit(0))
                + F.coalesce(F.col("gt"), F.lit(0))
            )
            .cast("bigint")
            .alias("err_bound"),
        )
        .filter(F.col("est_weight") > 0)
    )
    return final.join(cnt.select("u", "c"), "u").select(
        F.col("u").alias("user_id"),
        "est_weight",
        F.col("c").alias("true_count"),
        "err_bound",
    )


misra_gries_topk.__doc__ = misra_gries_topk.__doc__.format(
    k=_MG_K, b=_MG_BUCKETS
)

register(
    "misra_gries_topk",
    misra_gries_topk,
    f"""
    WITH cnt AS (SELECT user_id AS u, CAST(COUNT(*) AS BIGINT) AS c,
                        CAST(user_id % {_MG_BUCKETS} AS BIGINT) AS bkt
                 FROM events GROUP BY 1),
    ranked AS (SELECT bkt, u, c,
                      ROW_NUMBER() OVER (PARTITION BY bkt
                                         ORDER BY c DESC, u ASC) AS rn
               FROM cnt),
    thr AS (SELECT bkt, c AS t FROM ranked WHERE rn = {_MG_K} + 1),
    summ AS (SELECT r.u,
                    CAST(greatest(r.c - coalesce(thr.t, 0), 0) AS BIGINT)
                      AS w
             FROM ranked r LEFT JOIN thr ON thr.bkt = r.bkt
             WHERE r.rn <= {_MG_K}),
    merged AS (SELECT u, CAST(SUM(w) AS BIGINT) AS w FROM summ
               WHERE w > 0 GROUP BY 1),
    mranked AS (SELECT u, w,
                       ROW_NUMBER() OVER (ORDER BY w DESC, u ASC) AS rn
                FROM merged),
    gthr AS (SELECT w AS gt FROM mranked WHERE rn = {_MG_K} + 1)
    SELECT m.u AS user_id,
           CAST(greatest(m.w - coalesce((SELECT gt FROM gthr), 0), 0)
                AS BIGINT) AS est_weight,
           c.c AS true_count,
           CAST(coalesce(thr.t, 0) + coalesce((SELECT gt FROM gthr), 0)
                AS BIGINT) AS err_bound
    FROM mranked m JOIN cnt c ON c.u = m.u
    LEFT JOIN thr ON thr.bkt = CAST(m.u % {_MG_BUCKETS} AS BIGINT)
    WHERE m.rn <= {_MG_K}
      AND greatest(m.w - coalesce((SELECT gt FROM gthr), 0), 0) > 0
    """,
)


# --------------------------------------------------------------------------
# interval_coalesce_pack — SQL:2011 PACK / interval coalescing (merge
# overlapping or adjacent same-key periods into maximal intervals)
# --------------------------------------------------------------------------


def interval_coalesce_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL:2011 interval COALESCING (the PACK operator): merge each
    customer's overlapping-or-adjacent order-open periods
    ([orderdate, orderdate + {open}d), half-open) into MAXIMAL
    disjoint intervals — the normalization primitive under every
    temporal operator (Snodgrass; PACK/NORMALIZE in the SQL:2011
    literature, public; `temporal_join_sql2011` joins periods,
    `temporal_agg_sql2011` aggregates them, `interval_union_measure`
    reads one NUMBER — PACK emits the merged intervals themselves).

    The islands-and-gaps form: per customer, order periods by start;
    a period OPENS a new island iff its start exceeds the running max
    of all prior ends (strict >, so start == prev_end coalesces —
    half-open adjacency); island id = running sum of open flags;
    one group-by emits [min start, max end) with the merged count.

    Shape: one orders scan; BOTH windows (prior-end running max,
    island-id running sum) are PARTITIONED BY custkey — no global
    order anywhere; the group-by is map-side-combinable on
    (custkey, island).  Integer dates end to end; the merged
    intervals are pinned disjoint, non-adjacent, and cover-equal to
    the input union in pytest.
    """
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"),
        F.to_date("o_orderdate").alias("s"),
        F.date_add(F.to_date("o_orderdate"), _TA_OPEN_DAYS).alias("e"),
    )
    w_prev = (
        Window.partitionBy("custkey")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = o.select(
        "custkey",
        "s",
        "e",
        F.when(
            F.col("s") > F.coalesce(F.max("e").over(w_prev), F.lit("0001-01-01").cast("date")),
            1,
        )
        .otherwise(0)
        .alias("opens"),
    )
    w_isl = (
        Window.partitionBy("custkey")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    islands = flagged.select(
        "custkey",
        "s",
        "e",
        F.sum("opens").over(w_isl).cast("bigint").alias("island"),
    )
    return islands.groupBy("custkey", "island").agg(
        F.min("s").alias("valid_from"),
        F.max("e").alias("valid_to"),
        F.count(F.lit(1)).cast("bigint").alias("n_merged"),
    )


interval_coalesce_pack.__doc__ = interval_coalesce_pack.__doc__.format(
    open=_TA_OPEN_DAYS
)

register(
    "interval_coalesce_pack",
    interval_coalesce_pack,
    f"""
    WITH o AS (SELECT o_custkey AS custkey,
                      CAST(o_orderdate AS DATE) AS s,
                      CAST(o_orderdate AS DATE) + {_TA_OPEN_DAYS} AS e
               FROM orders),
    flagged AS (SELECT custkey, s, e,
                       CASE WHEN s > coalesce(MAX(e) OVER (
                                PARTITION BY custkey ORDER BY s, e
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND 1 PRECEDING),
                              DATE '0001-01-01')
                            THEN 1 ELSE 0 END AS opens
                FROM o),
    islands AS (SELECT custkey, s, e,
                       CAST(SUM(opens) OVER (PARTITION BY custkey
                              ORDER BY s, e
                              ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND CURRENT ROW) AS BIGINT)
                         AS island
                FROM flagged)
    SELECT custkey, island, MIN(s) AS valid_from, MAX(e) AS valid_to,
           CAST(COUNT(*) AS BIGINT) AS n_merged
    FROM islands GROUP BY 1, 2
    """,
)


# --------------------------------------------------------------------------
# ewma_control_chart — recursive EWMA with exact-rational SQUARED
# control limits (no sqrt, no float)
# --------------------------------------------------------------------------

_EWMA_LNUM, _EWMA_LDEN = 1, 4  # lambda = 1/4
_EWMA_L2 = 9  # L^2 for the classic 3-sigma limit


def ewma_control_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA control chart of the daily events-revenue series — the
    process-monitoring class (Roberts 1959, public; ``cusum_changepoint``
    locates ONE shift, the EWMA chart flags every excursion as it
    happens): z_t = (lambda*y_t + (1-lambda)*z_(t-1)) with
    lambda = {ln}/{ld} as an exact rational in micro-cents via WITH
    RECURSIVE (the ``holt_linear_smoothing`` solved-oracle-problem
    precedent — per-step state cannot be a window), seeded z_0 = mu;
    the variance RAMP f_t = 1 - (1-lambda)^(2t) follows the same
    recursion (f_t = (7 + 9*f_(t-1)) div 16 in micros for
    lambda = 1/4).  The out-of-control test
    |z - mu| > L*sigma*sqrt(lambda/(2-lambda)*f_t) is applied
    SQUARED — (z-mu)^2 * (2-lambda)*{ld} > L^2 * sigma^2 * lambda *
    {ld} * f — so no sqrt or float enters; mu (micro-cents) and the
    population sigma^2 (WHOLE cents^2 — micro-cents^2 would put the
    squared deviation at ~1e27, far past BIGINT, the anova lesson)
    come from one exact integer aggregate over the day relation, and
    the squared comparison runs in DECIMAL(38,0)/HUGEINT.

    Shape: the day relation is metadata-sized (shared `_day_rev`
    cache — ONE events scan); the recursion is the honest sequential
    tail, depth-#days over that relation; DECIMAL(38,0)/HUGEINT for
    the squared products (micro-cents^2).
    """
    day = _day_rev(spark, sf_dir)
    day.createOrReplaceTempView("ewma_day")
    return spark.sql(_ewma_sql("ewma_day", spark_side=True))


def _ewma_sql(table: str, spark_side: bool) -> str:
    idiv = "div" if spark_side else "//"
    big = "DECIMAL(38,0)" if spark_side else "HUGEINT"
    ln, ld = _EWMA_LNUM, _EWMA_LDEN
    # (1-lambda)^2 = 9/16 for lambda=1/4: f_t = (7 + 9 f_{t-1}) / 16
    f_num = (ld - ln) * (ld - ln)
    f_den = ld * ld
    return f"""
    WITH RECURSIVE d AS (
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY d) AS BIGINT) AS rk, d, y
      FROM {table}
    ),
    stats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(y) AS BIGINT) AS sy,
             SUM(CAST(y AS {"DECIMAL(38,0)" if spark_side else "HUGEINT"})
                 * y) AS syy
      FROM d
    ),
    m AS (
      SELECT n, (sy * 1000000) {idiv} n AS mu_micro,
             (syy {idiv} n) - ((sy {idiv} n) * (sy {idiv} n)) AS var_c2
      FROM stats
    ),
    h(rk, z_micro, f_micro) AS (
      SELECT CAST(0 AS BIGINT), (SELECT mu_micro FROM m),
             CAST(0 AS BIGINT)
      UNION ALL
      SELECT d.rk,
             (d.y * 1000000 * {ln} + ({ld - ln}) * h.z_micro) {idiv} {ld},
             ({f_den - f_num} * 1000000 + {f_num} * h.f_micro)
               {idiv} {f_den}
      FROM d JOIN h ON d.rk = h.rk + 1
    )
    SELECT d.d AS day, d.y AS y_cents,
           CAST(h.z_micro AS BIGINT) AS z_micro,
           CAST(h.f_micro AS BIGINT) AS ramp_micro,
           CAST(
             CASE WHEN CAST(h.z_micro - m.mu_micro AS
                            {big}) * (h.z_micro - m.mu_micro)
                       * ({ld * 2 - ln})
                       > CAST({_EWMA_L2} AS {big})
                         * m.var_c2 * {ln} * h.f_micro * 1000000
                  THEN 1 ELSE 0 END AS BIGINT) AS out_of_control
    FROM h JOIN d ON d.rk = h.rk
    CROSS JOIN m
    """


ewma_control_chart.__doc__ = ewma_control_chart.__doc__.format(
    ln=_EWMA_LNUM, ld=_EWMA_LDEN
)


def _ewma_oracle() -> str:
    day = """(SELECT CAST(ts AS DATE) AS d,
                     CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT))
                          AS BIGINT) AS y
              FROM events GROUP BY 1)"""
    return _ewma_sql(day, spark_side=False)


register("ewma_control_chart", ewma_control_chart, _ewma_oracle())


# ==========================================================================
# join_ivm_delta (round 12)
# ==========================================================================

_JIVM_O_MOD = 7  # o_orderkey % 7 == 0  -> fact-side delta INSERTs
_JIVM_C_MOD = 11  # c_custkey % 11 == 0 -> dim-side delta INSERTs


def _jivm_cents() -> object:
    return F.expr("cast(floor(o_totalprice * 100 + 0.5) as bigint)")


def _jivm_base_layout(spark: SparkSession, sf_dir: str) -> str:
    """Write (once per session+sf) the maintained JOIN-AGGREGATE view —
    per (c_mktsegment, order year) (n, sum_cents) over BASE orders ⋈
    BASE customers — as parquet."""
    def writer():
        o = load_table(spark, sf_dir, "orders").filter(
            F.col("o_orderkey") % _JIVM_O_MOD != 0
        )
        c = load_table(spark, sf_dir, "customer").filter(
            F.col("c_custkey") % _JIVM_C_MOD != 0
        )
        return (
            o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
            .select(
                "c_mktsegment",
                F.year("o_orderdate").cast("bigint").alias("o_year"),
                _jivm_cents().alias("cents"),
            )
            .groupBy("c_mktsegment", "o_year")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_base"),
                F.sum("cents").cast("bigint").alias("sum_cents_base"),
            )
            .coalesce(1)  # bounded output: #segments x #years rows
            .write
        )

    return write_once(
        derived_layout_path(spark, "jivm_base", sf_dir, "orders"), writer
    )


def join_ivm_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance of a persisted JOIN-aggregate from
    insert deltas on BOTH join sides — the class ``agg_ivm_delta``
    (single-table aggregate) does not cover.  The stored view is
    per-(mktsegment, order year) (n, sum_cents) over base orders ⋈
    base customers; delta batches are fact inserts (o_orderkey %
    {om} == 0) and dim inserts (c_custkey % {cm} == 0).

    Delta-join decomposition (insert-only):
    dV = dO ⋈ C_after  UNION ALL  O_base ⋈ dC — the dO⋈dC cross term
    folds into the first join by running dO against the POST-insert
    dim.  Cost asymmetry is the real 100 TB contract: the fact-side
    delta costs |dO| with the dim BROADCAST (never a fact rescan),
    while a dim-side insert unavoidably pays one base-fact scan with
    the tiny dC broadcast — the reason production systems either batch
    dim changes or keep the fact co-partitioned on the join key (see
    ``join_bucketed``) so the dim delta prunes to matching buckets.
    Both joins here broadcast the dim side; nothing shuffles the fact.

    Integer cents arithmetic end-to-end; the output carries
    ``ivm_equals_recompute`` (merged view == from-scratch recompute
    over the post-insert tables, the agg_ivm_delta checked contract).
    """
    stored = read_stable_parquet(spark, _jivm_base_layout(spark, sf_dir))
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", F.year("o_orderdate").cast("bigint").alias("o_year"), _jivm_cents().alias("cents")
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    is_do = F.col("o_orderkey") % _JIVM_O_MOD == 0
    is_dc = F.col("c_custkey") % _JIVM_C_MOD == 0
    d_o, base_o = o.filter(is_do), o.filter(~is_do)
    d_c = c.filter(is_dc)
    # term 1: fact delta against the post-insert dim (broadcast dim)
    t1 = d_o.join(F.broadcast(c), d_o.o_custkey == c.c_custkey)
    # term 2: base fact against the dim delta (broadcast tiny delta)
    t2 = base_o.join(F.broadcast(d_c), base_o.o_custkey == d_c.c_custkey)
    delta = (
        t1.select("c_mktsegment", "o_year", "cents")
        .unionAll(t2.select("c_mktsegment", "o_year", "cents"))
        .groupBy("c_mktsegment", "o_year")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("dn"),
            F.sum("cents").cast("bigint").alias("dsum"),
        )
    )
    merged = stored.join(delta, ["c_mktsegment", "o_year"], "full_outer").select(
        "c_mktsegment",
        "o_year",
        F.coalesce(F.col("n_base"), F.lit(0)).cast("bigint").alias("n_base"),
        F.coalesce(F.col("dn"), F.lit(0)).cast("bigint").alias("n_delta"),
        (F.coalesce(F.col("n_base"), F.lit(0)) + F.coalesce(F.col("dn"), F.lit(0)))
        .cast("bigint")
        .alias("n_after"),
        (
            F.coalesce(F.col("sum_cents_base"), F.lit(0))
            + F.coalesce(F.col("dsum"), F.lit(0))
        )
        .cast("bigint")
        .alias("sum_cents_after"),
    )
    recompute = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment", "o_year")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rec"),
            F.sum("cents").cast("bigint").alias("sum_rec"),
        )
    )
    return merged.join(
        recompute, ["c_mktsegment", "o_year"], "full_outer"
    ).select(
        "c_mktsegment",
        "o_year",
        "n_base",
        "n_delta",
        "n_after",
        "sum_cents_after",
        (
            (F.col("n_after") == F.coalesce(F.col("n_rec"), F.lit(0)))
            & (F.col("sum_cents_after") == F.coalesce(F.col("sum_rec"), F.lit(0)))
        ).alias("ivm_equals_recompute"),
    )


join_ivm_delta.__doc__ = join_ivm_delta.__doc__.format(
    om=_JIVM_O_MOD, cm=_JIVM_C_MOD
)

register(
    "join_ivm_delta",
    join_ivm_delta,
    f"""
    WITH o AS (SELECT o_orderkey, o_custkey,
                      CAST(year(o_orderdate) AS BIGINT) AS o_year,
                      CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
               FROM orders),
    c AS (SELECT c_custkey, c_mktsegment FROM customer),
    base AS (
      SELECT c_mktsegment, o_year,
             CAST(COUNT(*) AS BIGINT) AS n_base,
             CAST(SUM(cents) AS BIGINT) AS sum_cents_base
      FROM o JOIN c ON o_custkey = c_custkey
      WHERE o_orderkey % {_JIVM_O_MOD} != 0 AND c_custkey % {_JIVM_C_MOD} != 0
      GROUP BY 1, 2),
    delta AS (
      SELECT c_mktsegment, o_year,
             CAST(COUNT(*) AS BIGINT) AS dn,
             CAST(SUM(cents) AS BIGINT) AS dsum
      FROM o JOIN c ON o_custkey = c_custkey
      WHERE o_orderkey % {_JIVM_O_MOD} = 0
         OR (o_orderkey % {_JIVM_O_MOD} != 0 AND c_custkey % {_JIVM_C_MOD} = 0)
      GROUP BY 1, 2),
    merged AS (
      SELECT coalesce(b.c_mktsegment, d.c_mktsegment) AS c_mktsegment,
             coalesce(b.o_year, d.o_year) AS o_year,
             CAST(coalesce(b.n_base, 0) AS BIGINT) AS n_base,
             CAST(coalesce(d.dn, 0) AS BIGINT) AS n_delta,
             CAST(coalesce(b.n_base, 0) + coalesce(d.dn, 0) AS BIGINT) AS n_after,
             CAST(coalesce(b.sum_cents_base, 0) + coalesce(d.dsum, 0)
                  AS BIGINT) AS sum_cents_after
      FROM base b FULL OUTER JOIN delta d
        ON b.c_mktsegment = d.c_mktsegment AND b.o_year = d.o_year),
    rec AS (
      SELECT c_mktsegment, o_year,
             CAST(COUNT(*) AS BIGINT) AS n_rec,
             CAST(SUM(cents) AS BIGINT) AS sum_rec
      FROM o JOIN c ON o_custkey = c_custkey
      GROUP BY 1, 2)
    SELECT m.c_mktsegment, m.o_year, m.n_base, m.n_delta, m.n_after,
           m.sum_cents_after,
           m.n_after = coalesce(r.n_rec, 0)
             AND m.sum_cents_after = coalesce(r.sum_rec, 0)
             AS ivm_equals_recompute
    FROM merged m FULL OUTER JOIN rec r
      ON m.c_mktsegment = r.c_mktsegment AND m.o_year = r.o_year
    """,
)


# ==========================================================================
# spearman_corr (round 12)
# ==========================================================================


def spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between a document's character count
    and its whitespace word count — the RANK-correlation contract the
    stats family lacks (``stats_agg_q`` has Pearson; ``mann_whitney_u``
    ranks one variable for a location test; nothing correlates two
    rankings).  Fixture probe (r12): this pair carries real signal
    (rho ~ +0.99 at every sf); the orders-side candidates
    (totalprice vs item count/quantity) all sat within +-0.02 of zero
    in the synthetic data and were rejected as exhibits.

    Ties resolve deterministically by o_orderkey (documented contract:
    Spearman over the total order (value, o_orderkey) — both engines
    rank the exact same permutation, so sum(d^2) is bit-identical and
    rho = 1 - 6*sum(d^2)/(n(n^2-1)) is exact integer arithmetic in
    micro-units, computed in DECIMAL(38,0)/HUGEINT: 6e6 * sum(d^2) ~
    2e6*n^3 passes BIGINT at ~1.7e4 rows).

    Scale shape — NO global single-partition window: rank(v, k) =
    (#rows with value < v) + row_number within the value's tie group
    ordered by key.  The counts-below term comes from a cumulative
    window over the VALUE-GROUPED relation (bounded by the distinct
    value range, the ``mann_whitney_u`` idiom) broadcast back onto the
    rows; the tie-group row_number partitions by value — distributed
    on both axes at any input size.
    """
    o = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("o_orderkey"),
        F.col("n_chars").cast("bigint").alias("x"),
        (F.size(F.split(F.col("text"), " ", -1))).cast("bigint").alias("y"),
    )

    def ranked(df, col, out):
        grouped = df.groupBy(col).agg(F.count(F.lit(1)).alias("cnt"))
        w = Window.orderBy(col).rowsBetween(Window.unboundedPreceding, -1)
        below = grouped.select(
            col, F.coalesce(F.sum("cnt").over(w), F.lit(0)).alias("below")
        )
        wt = Window.partitionBy(col).orderBy("o_orderkey")
        return (
            df.join(F.broadcast(below), col)
            .withColumn(out, (F.col("below") + F.row_number().over(wt)).cast("bigint"))
            .drop("below")
        )

    r = ranked(ranked(o, "x", "rx"), "y", "ry")
    d2 = (F.col("rx") - F.col("ry")) * (F.col("rx") - F.col("ry"))
    agg = r.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        # ADVICE r12: accumulate in DECIMAL(38,0) (matching the
        # oracle's HUGEINT), not BIGINT-then-cast — sum(d2) ~ n^3/3
        # wraps int64 near n ~ 2M rows if summed as plain BIGINT.
        F.sum(d2.cast("decimal(38,0)")).alias("sum_d2"),
    )
    return agg.select(
        "n",
        F.col("sum_d2").cast("bigint").alias("sum_d2"),
        F.expr(
            "cast(1000000 - (cast(6000000 as decimal(38,0)) * sum_d2)"
            " div (cast(n as decimal(38,0)) * (cast(n as decimal(38,0))"
            " * cast(n as decimal(38,0)) - 1)) as bigint)"
        ).alias("spearman_micro"),
    )


register(
    "spearman_corr",
    spearman_corr,
    """
    WITH pairs AS (
      SELECT doc_id AS o_orderkey,
             CAST(n_chars AS BIGINT) AS x,
             CAST(length(text) - length(replace(text, ' ', '')) + 1
                  AS BIGINT) AS y
      FROM documents),
    bx AS (SELECT x, COALESCE(SUM(COUNT(*)) OVER (ORDER BY x
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
           FROM pairs GROUP BY x),
    by_ AS (SELECT y, COALESCE(SUM(COUNT(*)) OVER (ORDER BY y
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
           FROM pairs GROUP BY y),
    r AS (
      SELECT p.o_orderkey,
             bx.below + ROW_NUMBER() OVER (PARTITION BY p.x
               ORDER BY p.o_orderkey) AS rx,
             by_.below + ROW_NUMBER() OVER (PARTITION BY p.y
               ORDER BY p.o_orderkey) AS ry
      FROM pairs p JOIN bx ON p.x = bx.x JOIN by_ ON p.y = by_.y),
    s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 SUM((rx - ry) * (rx - ry)) AS sum_d2 FROM r)
    SELECT n, CAST(sum_d2 AS BIGINT) AS sum_d2,
           CAST(1000000 - (CAST(6000000 AS HUGEINT) * sum_d2)
                // (CAST(n AS HUGEINT) * (CAST(n AS HUGEINT) * n - 1))
                AS BIGINT) AS spearman_micro
    FROM s
    """,
)


# --------------------------------------------------------------------------
# exact_quantile_bisect — exact multi-quantile selection WITHOUT a sort
# --------------------------------------------------------------------------

_EQB_PCTS = (25, 50, 75, 90, 99)
# Histogram arity per round (r14).  History of the round/width
# trade-off: 2-way CASE-chain bisection needed 26 rounds (7.1 s at
# sf0.1), 4-way 13 (5.9 s), and the r13 A/B showed WIDER CASE chains
# regress (16-way: 75 conditional sums per scan measured ~14.9 s —
# the per-scan aggregate work grew faster than the saved ~0.3 s
# round-trips).  The r14 rewrite removes the CASE chain entirely: one
# integer divide maps every in-bracket row to one of B buckets and a
# map-side-combining hash aggregate counts them, so per-row work is
# CONSTANT in B and the round count drops to ceil(logB(domain)) — 2-3
# rounds at any fixture instead of 13.  B=4096 keeps the per-round
# driver collect bounded at <= 5*4096 rows (~100 KB).
_EQB_BUCKETS = 4096


def _eqb_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``o_totalprice`` as integer cents."""
    return load_table(spark, sf_dir, "orders").select(
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents")
    )


def _eqb_histogram(cents: DataFrame, brackets: list) -> DataFrame:
    """One round's bucket counts (g, b, c): rows inside any of the
    ``brackets`` (the OR of the ranges is the pushed scan filter) are
    tagged with their bracket index g and one of ``_EQB_BUCKETS``
    equal sub-ranges b, then counted by a map-side-combining hash
    aggregate."""
    B = _EQB_BUCKETS
    scan = cents.filter(
        functools.reduce(
            lambda a, b: a | b,
            [
                (F.col("cents") >= F.lit(lo)) & (F.col("cents") <= F.lit(hi))
                for lo, hi in brackets
            ],
        )
    )
    structs = [
        F.when(
            (F.col("cents") >= F.lit(lo)) & (F.col("cents") <= F.lit(hi)),
            F.struct(
                F.lit(gi).alias("g"),
                F.expr(f"((cents - {lo}L) * {B}) div {hi - lo + 1}L").alias("b"),
            ),
        )
        for gi, (lo, hi) in enumerate(brackets)
    ]
    return (
        scan.select(F.explode(F.array_compact(F.array(*structs))).alias("gb"))
        .groupBy(F.col("gb.g").alias("g"), F.col("gb.b").alias("b"))
        .agg(F.count(F.lit(1)).alias("c"))
    )


def exact_quantile_bisect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT multi-quantile selection over ``o_totalprice`` (integer
    cents) by bisecting the VALUE DOMAIN — the selection-without-sort
    execution class the quantile family lacks: ``percentile_q`` /
    ``median_mode_q`` sort within the aggregate, and the sketch keys
    (``quantile_sketch_rollup``, ``approx_percentile_q``) are
    approximate.  The r13 probe DISPROVED the naive "approx is already
    exact at this scale" model: Spark's default-accuracy
    ``approx_percentile`` misses the exact p25 by 14386 cents at
    sf0.01 and the exact p50 by 7492 cents at sf0.1.

    Algorithm: the k-th smallest (k = max(1, n*pct//100), 1-based) is
    the smallest v with count(<= v) >= k.  Each quantile keeps a
    bracket [lo, hi] with the invariant count(<= lo-1) = base < k <=
    count(<= hi); one round histograms every ACTIVE bracket into
    {B} equal integer sub-ranges (bucket = (cents-lo)*{B} div span,
    one divide per row — constant work regardless of arity, unlike
    the r13 CASE-chain variant whose per-row cost grew linearly with
    the cut width) and picks the first bucket whose cumulative count
    reaches k.  Quantiles sharing a bracket share one histogram
    (round 1: all five).  The scan filter is the OR of the shrinking
    brackets, so parquet row-group min/max pruning reads a shrinking
    byte range as the search narrows.  Convergence is
    ceil(log{B}(hi0-lo0)) rounds — 2-3 at every fixture vs 13 for the
    4-way cut and 26 for plain bisection — data-size-independent
    (domain-bound, not row-bound).

    Scale shape: NO shuffle of the data ever happens — each round is
    one map-side partial-count pass reduced to <= {B} rows per active
    bracket (the bounded-collect class of the kmeans/gstream M-step),
    vs a global sort's full repartition of 100 TB.
    """
    cents = _eqb_cents(spark, sf_dir).persist()
    try:
        row = cents.agg(
            F.count(F.lit(1)).alias("n"),
            F.min("cents").alias("lo"),
            F.max("cents").alias("hi"),
        ).collect()[0]  # bounded: 1 row
        n = int(row["n"])
        ks = {p: max(1, (n * p) // 100) for p in _EQB_PCTS}
        brackets = {p: (int(row["lo"]), int(row["hi"])) for p in _EQB_PCTS}
        base = {p: 0 for p in _EQB_PCTS}  # count(<= lo-1), exact
        B = _EQB_BUCKETS
        while any(lo < hi for lo, hi in brackets.values()):
            # Distinct active brackets; quantiles whose brackets
            # coincide share one histogram (round 1: all five share
            # the global [lo, hi]).
            groups: dict = {}
            for p, (lo, hi) in brackets.items():
                if lo < hi:
                    groups.setdefault((lo, hi), []).append(p)
            glist = list(groups)
            # bounded: <= len(glist) * B rows per round
            hist = _eqb_histogram(cents, glist).collect()
            counts = {(int(r["g"]), int(r["b"])): int(r["c"]) for r in hist}
            for gi, (lo, hi) in enumerate(glist):
                span = hi - lo + 1
                for p in groups[(lo, hi)]:
                    # walk the histogram to the first bucket whose
                    # cumulative reach covers k; bucket b holds cents in
                    # [lo + ceil(b*span/B), lo + ceil((b+1)*span/B) - 1]
                    cum = 0
                    for b in range(B):
                        c = counts.get((gi, b), 0)
                        if base[p] + cum + c >= ks[p]:
                            base[p] += cum
                            brackets[p] = (
                                lo + (b * span + B - 1) // B,
                                min(
                                    hi,
                                    lo
                                    + ((b + 1) * span + B - 1) // B
                                    - 1,
                                ),
                            )
                            break
                        cum += c
        return spark.createDataFrame(
            [(p, ks[p], brackets[p][0]) for p in _EQB_PCTS],
            "pct bigint, k bigint, exact_cents bigint",
        )
    finally:
        cents.unpersist()


exact_quantile_bisect.__doc__ = exact_quantile_bisect.__doc__.format(
    B=_EQB_BUCKETS
)


def _eqb_round_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plan proxy: one histogram round over a fixed stand-in bracket
    (the key derives its brackets from collected counts)."""
    return _eqb_histogram(_eqb_cents(spark, sf_dir), [(100000, 25000000)])


register(
    "exact_quantile_bisect",
    exact_quantile_bisect,
    """
    WITH c AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents
               FROM orders),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS cnt FROM c),
    ks AS (SELECT CAST(pct AS BIGINT) AS pct,
                  CAST(GREATEST(1, (cnt * pct) // 100) AS BIGINT) AS k
           FROM n, (SELECT unnest([25, 50, 75, 90, 99]) AS pct)),
    ranked AS (SELECT cents, row_number() OVER (ORDER BY cents) AS rn FROM c)
    SELECT pct, k, cents AS exact_cents
    FROM ks JOIN ranked ON rn = k
    """,
)
register_plan_proxy("exact_quantile_bisect", _eqb_round_plan)


# --------------------------------------------------------------------------
# ols_normal_equations — closed-form multi-feature fit via one scan
# --------------------------------------------------------------------------


def _tdiv(a: int, b: int) -> int:
    """Truncating integer division (toward zero) — DuckDB's ``//`` and
    Spark SQL's ``div`` both truncate, while Python's ``//`` floors;
    quotients here can be negative, so the Python solve must truncate
    to stay bit-identical with the oracle."""
    q = abs(a) // abs(b)
    return q if (a >= 0) == (b >= 0) else -q


def _ols_sums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fit's 9 exact sufficient statistics over ``documents``, as
    one map-side-combined aggregate (one row)."""
    docs = load_table(spark, sf_dir, "documents").select(
        F.col("n_chars").cast("bigint").alias("x1"),
        F.size(F.split("text", " ")).cast("bigint").alias("x2"),
        F.size(F.array_distinct(F.split("text", " "))).cast("bigint").alias("y"),
    )
    return docs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x1").alias("s1"),
        F.sum("x2").alias("s2"),
        F.sum(F.col("x1") * F.col("x1")).alias("s11"),
        F.sum(F.col("x1") * F.col("x2")).alias("s12"),
        F.sum(F.col("x2") * F.col("x2")).alias("s22"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x1") * F.col("y")).alias("s1y"),
        F.sum(F.col("x2") * F.col("y")).alias("s2y"),
    )


def ols_normal_equations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-feature least squares by NORMAL EQUATIONS — the closed-
    form distributed model-fit class: ``regression_agg_q`` is the
    single-feature ``regr_*`` family, and nothing else fits a joint
    model.  y = distinct-token count, X = [1, n_chars, token count]
    over ``documents``; one scan produces the 9 sufficient statistics
    (n, Sx1, Sx2, Sx1², Sx1x2, Sx2², Sy, Sx1y, Sx2y — all exact
    BIGINT), the driver solves the 3x3 system by Cramer's rule in
    arbitrary-precision Python ints, and betas ship as micro-scaled
    truncating quotients (1e6*det_i / det, toward zero — matching
    DuckDB ``//`` / Spark ``div``).

    The r13 probe DISPROVED the naive "marginal slopes suffice" model:
    the joint beta for n_chars is 204-17323 micro across fixtures
    while the marginal ``regr_slope`` is ~36000 micro — the two
    features are collinear (the spearman_corr pair, rho ~ +0.997), so
    the joint solve is load-bearing, textbook omitted-variable bias.
    det(X^TX) != 0 at every fixture (1e13-1e16, probed); a singular
    fixture raises rather than divides by zero.

    Scale shape: the whole fit is ONE map-side-combined aggregate
    reduced to a single 9-value row (the gram_matrix_embeddings
    contract at d=3) — no shuffle of the data, no iteration; at 100 TB
    the d(d+3)/2 sums are still one pass, and exactness rests on
    integer inputs, not on float summation order.
    """
    s = _ols_sums(spark, sf_dir).collect()[0]  # bounded: 9 statistics, 1 row
    n, s1, s2 = int(s["n"]), int(s["s1"]), int(s["s2"])
    s11, s12, s22 = int(s["s11"]), int(s["s12"]), int(s["s22"])
    sy, s1y, s2y = int(s["sy"]), int(s["s1y"]), int(s["s2y"])

    def det3(m):
        return (
            m[0][0] * (m[1][1] * m[2][2] - m[1][2] * m[2][1])
            - m[0][1] * (m[1][0] * m[2][2] - m[1][2] * m[2][0])
            + m[0][2] * (m[1][0] * m[2][1] - m[1][1] * m[2][0])
        )

    a = [[n, s1, s2], [s1, s11, s12], [s2, s12, s22]]
    b = [sy, s1y, s2y]
    det = det3(a)
    if det == 0:
        raise ValueError(
            "ols_normal_equations: X^T X is singular at this fixture "
            "(det == 0) — the fit precondition probed in r13 no longer "
            "holds; re-probe before trusting this key here"
        )
    betas = []
    for i in range(3):
        ai = [row[:] for row in a]
        for r in range(3):
            ai[r][i] = b[r]
        betas.append(_tdiv(1_000_000 * det3(ai), det))
    return spark.createDataFrame(
        [(n, betas[0], betas[1], betas[2])],
        "n bigint, beta0_micro bigint, beta1_micro bigint, beta2_micro bigint",
    )


register(
    "ols_normal_equations",
    ols_normal_equations,
    """
    WITH d AS (
      SELECT CAST(n_chars AS BIGINT) AS x1,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS x2,
             CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS y
      FROM documents),
    s AS (
      SELECT CAST(COUNT(*) AS HUGEINT) AS n,
             CAST(SUM(x1) AS HUGEINT) AS s1, CAST(SUM(x2) AS HUGEINT) AS s2,
             CAST(SUM(x1*x1) AS HUGEINT) AS s11,
             CAST(SUM(x1*x2) AS HUGEINT) AS s12,
             CAST(SUM(x2*x2) AS HUGEINT) AS s22,
             CAST(SUM(y) AS HUGEINT) AS sy,
             CAST(SUM(x1*y) AS HUGEINT) AS s1y,
             CAST(SUM(x2*y) AS HUGEINT) AS s2y
      FROM d),
    dets AS (
      SELECT n,
             n*(s11*s22 - s12*s12) - s1*(s1*s22 - s12*s2)
               + s2*(s1*s12 - s11*s2) AS det,
             sy*(s11*s22 - s12*s12) - s1*(s1y*s22 - s12*s2y)
               + s2*(s1y*s12 - s11*s2y) AS det0,
             n*(s1y*s22 - s12*s2y) - sy*(s1*s22 - s12*s2)
               + s2*(s1*s2y - s1y*s2) AS det1,
             n*(s11*s2y - s1y*s12) - s1*(s1*s2y - s1y*s2)
               + sy*(s1*s12 - s11*s2) AS det2
      FROM s)
    SELECT CAST(n AS BIGINT) AS n,
           CAST((1000000 * det0) // det AS BIGINT) AS beta0_micro,
           CAST((1000000 * det1) // det AS BIGINT) AS beta1_micro,
           CAST((1000000 * det2) // det AS BIGINT) AS beta2_micro
    FROM dets
    """,
)
register_plan_proxy("ols_normal_equations", _ols_sums)
