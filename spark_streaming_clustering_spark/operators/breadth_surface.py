"""SQL-breadth surface (round-4 continuation): three more TPC-H
shapes, the full rank-family window functions, deterministic
median/mode, bitwise/boolean aggregates, and higher-moment statistics.

All keys extend the engine surface per SURVEY.md section 2 (the
reference has no relational surface at all — its only aggregate is the
hand-coded E-step reduce, pointsToObjetBatch.scala); each one is an
operator a user of a general analytics engine expects, oracle-checked
against DuckDB on identical ANSI text where both engines accept it.

Scale notes live in SCALE.md ("SQL-breadth batch"): every key here is
either dimension-broadcast star join + one group-key exchange (TPC-H
shapes) or a single hash/window exchange on the grouping key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import (
    derived_layout_path,
    load_table,
    read_stable_parquet,
    register_views,
    write_once,
)
from .registry import register

# ==========================================================================
# sql_tpch_q7 — volume shipping between two nations
# ==========================================================================

_TPCH_Q7 = """
    SELECT supp_nation, cust_nation, l_year,
           CAST(SUM(CAST(volume AS DECIMAL(18,4))) AS DOUBLE) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(extract(year FROM l_shipdate) AS BIGINT) AS l_year,
             l_extendedprice * (1 - l_discount) AS volume
      FROM supplier
      JOIN lineitem ON s_suppkey = l_suppkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
          OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
"""


def sql_tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape (volume shipping): the two-role dimension join —
    nation joined TWICE under different aliases (supplier's and
    customer's), a disjunctive cross-dimension predicate, and a
    year-extracted group key.  Catalyst broadcasts both nation aliases
    independently; the nation-pair filter prunes the fact flow before
    the single (supp, cust, year)-cardinality aggregate exchange, and
    the decimal-exact sum keeps the revenue order-independent.
    """
    register_views(spark, sf_dir)
    return spark.sql(_TPCH_Q7)


register("sql_tpch_q7", sql_tpch_q7, _TPCH_Q7)


# ==========================================================================
# sql_tpch_q10 — returned-item reporting
# ==========================================================================

_TPCH_Q10 = """
    SELECT c_custkey, c_name, n_name,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                         AS DECIMAL(18,4))) AS DOUBLE) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
"""


def sql_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape (returned-item reporting): a quarter's returned
    revenue per customer, top 20.  The date window prunes orders
    BEFORE the fact join (filter pushdown through the join), nation
    broadcasts onto the customer side, and the top-k rides a
    TakeOrdered over the customer-cardinality aggregate — no global
    sort materializes.  Decimal-exact revenue + explicit c_custkey
    tie-break keep the LIMIT deterministic.
    """
    register_views(spark, sf_dir)
    return spark.sql(_TPCH_Q10)


register("sql_tpch_q10", sql_tpch_q10, _TPCH_Q10)


# ==========================================================================
# sql_tpch_q14 — promotion effect
# ==========================================================================

_TPCH_Q14 = """
    SELECT round(
             100.0 * CAST(SUM(CASE WHEN p_type LIKE 'PROMO%'
                              THEN CAST(l_extendedprice * (1 - l_discount)
                                        AS DECIMAL(18,4))
                              ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
                   / CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                                   AS DECIMAL(18,4))) AS DOUBLE),
             6) + 0.0 AS promo_revenue_pct,
           COUNT(*) AS n_lines
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-09-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1996-10-01 00:00:00'
"""


def sql_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape (promotion effect): conditional-aggregate ratio
    over one month of shipments joined to part.  Part broadcasts; the
    month filter reaches the lineitem scan; both sums are
    decimal-exact so the ratio is bit-identical regardless of
    aggregation order, then ONE double division and a 6-dp round.
    """
    register_views(spark, sf_dir)
    return spark.sql(_TPCH_Q14)


register("sql_tpch_q14", sql_tpch_q14, _TPCH_Q14)


# ==========================================================================
# window_rank_family_q — percent_rank / cume_dist / nth_value / first / last
# ==========================================================================

_RANK_FAMILY_SQL = """
    SELECT o_orderpriority, o_orderkey,
           round(percent_rank() OVER w, 9) + 0.0 AS pct_rank,
           round(cume_dist()    OVER w, 9) + 0.0 AS cdist,
           first_value(o_orderkey) OVER w AS cheapest_k,
           nth_value(o_orderkey, 3) OVER w AS third_k,
           last_value(o_orderkey) OVER (
             PARTITION BY o_orderpriority
             ORDER BY o_totalprice, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
           ) AS priciest_k
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
"""


def window_rank_family_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The remaining rank-family window functions in one pass:
    percent_rank, cume_dist, first_value, nth_value(3), and
    last_value with the explicit UNBOUNDED FOLLOWING frame (the
    default running frame would return each row itself — the classic
    last_value trap, stated here deliberately).

    One ``S(o_orderpriority)`` exchange + in-partition sort serves all
    five functions (a single Window physical node); the ordering key
    carries o_orderkey so every ranking is total and the oracle
    deterministic.  Identical ANSI text runs on DuckDB.
    """
    register_views(spark, sf_dir)
    return spark.sql(_RANK_FAMILY_SQL)


register("window_rank_family_q", window_rank_family_q, _RANK_FAMILY_SQL)


# ==========================================================================
# median_mode_q — exact median + deterministic mode
# ==========================================================================

_MEDIAN_MODE_SQL = """
    WITH hr AS (
      SELECT event_type, CAST(extract(hour FROM ts) AS BIGINT) AS hr, value
      FROM events
    ),
    cnt AS (
      SELECT event_type, hr, COUNT(*) AS n FROM hr GROUP BY event_type, hr
    ),
    md AS (
      SELECT event_type, hr AS mode_hr FROM (
        SELECT event_type, hr,
               RANK() OVER (PARTITION BY event_type ORDER BY n DESC, hr) AS rk
        FROM cnt
      ) ranked WHERE rk = 1
    )
    SELECT h.event_type,
           round(median(h.value), 6) + 0.0 AS med_value,
           min(m.mode_hr) AS mode_hr,
           COUNT(*) AS n_events
    FROM hr h JOIN md m ON h.event_type = m.event_type
    GROUP BY h.event_type
"""


def median_mode_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated ``median()`` (Spark 3.4 built-in, = DuckDB's
    quantile_cont 0.5) plus a DETERMINISTIC mode of the event hour.

    The built-in ``mode()`` is tie-nondeterministic in both engines,
    so the mode is computed as rank-1 over (count DESC, hour ASC) — an
    explicit tie rule both engines execute identically from the same
    text.  Cost: one hour-histogram aggregate (type x 24 rows), one
    25-row window, one broadcast join back, one final aggregate.
    """
    register_views(spark, sf_dir)
    return spark.sql(_MEDIAN_MODE_SQL)


register("median_mode_q", median_mode_q, _MEDIAN_MODE_SQL)


# ==========================================================================
# bool_bit_agg_q — boolean / bitwise aggregates
# ==========================================================================

_BOOL_BIT_SQL = """
    SELECT l_returnflag,
           bool_and(l_quantity > 0)     AS all_qty_pos,
           bool_or(l_discount > 0.09)   AS any_deep_discount,
           CAST(bit_and(CAST(l_linenumber AS BIGINT)) AS BIGINT) AS band_line,
           CAST(bit_or(CAST(l_linenumber AS BIGINT))  AS BIGINT) AS bor_line,
           CAST(bit_xor(CAST(l_orderkey  AS BIGINT))  AS BIGINT) AS bxor_orders
    FROM lineitem
    GROUP BY l_returnflag
"""


def bool_bit_agg_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean (``bool_and``/``bool_or``) and bitwise
    (``bit_and``/``bit_or``/``bit_xor``) aggregates — the checksum /
    flag-consolidation family.  ``bit_xor`` over a key column is the
    classic order-independent set checksum (two table versions with
    equal row multisets xor to the same value), which is why it
    deserves a first-class key.  All five are partial+final hash
    aggregates: one group-key exchange total.  Identical text on both
    engines.
    """
    register_views(spark, sf_dir)
    return spark.sql(_BOOL_BIT_SQL)


register("bool_bit_agg_q", bool_bit_agg_q, _BOOL_BIT_SQL)


# ==========================================================================
# skew_kurt_q — higher-moment statistics
# ==========================================================================


def skew_kurt_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population skewness and excess kurtosis of l_discount and
    l_quantity per return flag via the built-in one-pass streaming
    moment aggregates (``skewness``/``kurtosis``).

    The oracle recomputes the same POPULATION formulas
    (m3/m2^1.5, m4/m2^2 - 3) two-pass from an AVG join — DuckDB's own
    ``skewness``/``kurtosis`` are the SAMPLE-corrected variants, so
    using them would be a semantics mismatch, not a tolerance issue.
    Rounded to 5 dp: the one-pass vs two-pass difference is ~1e-12
    relative on these well-conditioned (O(0.1), O(10)) columns.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        (F.round(F.skewness("l_discount"), 5) + F.lit(0.0)).alias("skew_disc"),
        (F.round(F.kurtosis("l_discount"), 5) + F.lit(0.0)).alias("kurt_disc"),
        (F.round(F.skewness("l_quantity"), 5) + F.lit(0.0)).alias("skew_qty"),
        (F.round(F.kurtosis("l_quantity"), 5) + F.lit(0.0)).alias("kurt_qty"),
    )


register(
    "skew_kurt_q",
    skew_kurt_q,
    """
    WITH mu AS (
      SELECT l_returnflag AS flag, AVG(l_discount) AS md, AVG(l_quantity) AS mq
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l.l_returnflag,
           round(AVG(POWER(l.l_discount - mu.md, 3))
                 / POWER(AVG(POWER(l.l_discount - mu.md, 2)), 1.5), 5)
             + 0.0 AS skew_disc,
           round(AVG(POWER(l.l_discount - mu.md, 4))
                 / POWER(AVG(POWER(l.l_discount - mu.md, 2)), 2) - 3.0, 5)
             + 0.0 AS kurt_disc,
           round(AVG(POWER(l.l_quantity - mu.mq, 3))
                 / POWER(AVG(POWER(l.l_quantity - mu.mq, 2)), 1.5), 5)
             + 0.0 AS skew_qty,
           round(AVG(POWER(l.l_quantity - mu.mq, 4))
                 / POWER(AVG(POWER(l.l_quantity - mu.mq, 2)), 2) - 3.0, 5)
             + 0.0 AS kurt_qty
    FROM lineitem l JOIN mu ON l.l_returnflag = mu.flag
    GROUP BY l.l_returnflag
    """,
)


# ==========================================================================
# url_funcs_q — URL parsing / encoding functions
# ==========================================================================


def url_funcs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL function family over a deterministically constructed URL per
    document: ``parse_url`` (HOST / PATH / QUERY-param) and
    ``url_encode`` — the canonicalization primitives a web-crawl
    dedup pipeline runs before hashing (strip tracking params, compare
    hosts, normalize escapes).

    Pure map-side projection — zero shuffle, scales with the scan.
    The oracle reconstructs each component from the same source fields
    (a second implementation of the parse, not a parrot of it).
    """
    docs = load_table(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit(".example.org/"),
        F.col("lang"),
        F.lit("/doc/"),
        F.col("doc_id"),
        F.lit("?ref=r"),
        F.col("doc_id") % 7,
        F.lit("&utm_source=feed"),
    )
    return docs.select(
        "doc_id",
        F.parse_url(url, F.lit("HOST")).alias("host"),
        F.parse_url(url, F.lit("PATH")).alias("path"),
        F.parse_url(url, F.lit("QUERY"), F.lit("ref")).alias("ref_param"),
        F.url_encode(F.concat_ws(" ", "lang", "source")).alias("enc"),
    )


register(
    "url_funcs_q",
    url_funcs_q,
    """
    SELECT doc_id,
           source || '.example.org' AS host,
           '/' || lang || '/doc/' || doc_id AS path,
           'r' || (doc_id % 7) AS ref_param,
           lang || '+' || source AS enc
    FROM documents
    """,
)


# ==========================================================================
# bitmap_funcs_q — exact distinct counting via bitmap aggregates
# ==========================================================================


def bitmap_funcs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact COUNT(DISTINCT) via the Spark 3.5 bitmap aggregate family
    (``bitmap_bucket_number`` / ``bitmap_bit_position`` /
    ``bitmap_construct_agg`` / ``bitmap_or_agg`` / ``bitmap_count``) —
    the scalable exact-distinct recipe: per (group, bucket) each
    partition contributes a fixed 4 KB bitmap, buckets merge by OR
    (associative + commutative), and the final count is a popcount
    sum.  Unlike exact ``COUNT(DISTINCT)`` no row-level distinct
    shuffle happens — state per group is bounded by (id_range / 32768)
    bitmaps; unlike HLL (``hll_sketch_q``) the answer is exact.

    Output: distinct users per event type, plus an 'ALL' row proving
    bitmaps COMPOSE (or-merge across types == global distinct).
    """
    ev = load_table(spark, sf_dir, "events")
    per_bucket = ev.groupBy(
        "event_type", F.bitmap_bucket_number("user_id").alias("bkt")
    ).agg(F.bitmap_construct_agg(F.bitmap_bit_position("user_id")).alias("bm"))
    per_type = per_bucket.groupBy("event_type").agg(
        F.sum(F.bitmap_count("bm")).cast("long").alias("n_distinct_users")
    )
    all_row = (
        per_bucket.groupBy("bkt")
        .agg(F.bitmap_or_agg("bm").alias("bm"))
        .agg(F.sum(F.bitmap_count("bm")).cast("long").alias("n_distinct_users"))
        .select(F.lit("ALL").alias("event_type"), "n_distinct_users")
    )
    return per_type.unionByName(all_row)


register(
    "bitmap_funcs_q",
    bitmap_funcs_q,
    """
    SELECT event_type, COUNT(DISTINCT user_id) AS n_distinct_users
    FROM events GROUP BY event_type
    UNION ALL
    SELECT 'ALL' AS event_type, COUNT(DISTINCT user_id) AS n_distinct_users
    FROM events
    """,
)


# ==========================================================================
# bpe_pair_counts — BPE-style merge-candidate statistics
# ==========================================================================

BPE_TOPK = 20


def bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The core statistic of BPE tokenizer training: adjacent
    symbol-pair frequencies weighted by word frequency — the first
    merge iteration's candidate table (top BPE_TOPK pairs).

    Scale shape: the corpus collapses to the word VOCABULARY first
    (one ``S(word)`` aggregate), and pair explosion runs over vocab
    rows weighted by count — at 100 TB the vocabulary is orders of
    magnitude smaller than the corpus, so each merge iteration costs
    one vocabulary-sized aggregate, never a corpus rescan.  The
    short-word guard keeps ``sequence`` ascending (ADVICE r3).
    """
    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(F.split(F.lower("text"), " ")).alias("w"))
        .where(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("wc"))
    )
    w = F.col("w")
    idx = F.when(
        F.length(w) >= 2, F.sequence(F.lit(1), F.length(w) - 1)
    ).otherwise(F.array().cast("array<int>"))
    pairs = words.select(
        F.explode(F.transform(idx, lambda i: w.substr(i, F.lit(2)))).alias("pair"),
        "wc",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("wc").cast("long").alias("n"))
        .orderBy(F.desc("n"), "pair")
        .limit(BPE_TOPK)
    )


register(
    "bpe_pair_counts",
    bpe_pair_counts,
    f"""
    WITH words AS (
      SELECT w, COUNT(*) AS wc FROM (
        SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents
      ) toks WHERE len(w) > 0 GROUP BY w
    ),
    pairs AS (
      SELECT substr(w, CAST(i AS INT), 2) AS pair, wc
      FROM (SELECT w, wc, unnest(generate_series(1, len(w) - 1)) AS i
            FROM words) expanded
    )
    SELECT pair, CAST(SUM(wc) AS BIGINT) AS n
    FROM pairs GROUP BY pair
    ORDER BY n DESC, pair LIMIT {BPE_TOPK}
    """,
)


# ==========================================================================
# dynamic_partition_pruning — runtime partition pruning via a dim filter
# ==========================================================================


def dynamic_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning (DPP): the fact table is
    date-partitioned on disk, the predicate lives on a DIMENSION
    (a calendar table tagging each date with its week), and Catalyst
    injects a runtime ``dynamicpruning`` subquery into the fact scan —
    the fact side reads only the week's directories even though no
    literal date predicate appears on it (asserted in
    tests/test_plans.py).

    This is the 100 TB star-schema workhorse: static pruning
    (``partitioned_write_prune``) needs the filter ON the partition
    column; DPP covers the realistic case where the filter is on dim
    attributes ("fiscal week 2") — without it the fact scan reads the
    whole table.  Reuses the same partitioned layout as
    partitioned_write_prune (written once per session+sf).
    """
    from .scale_surface import events_by_day_layout

    fact = read_stable_parquet(spark, events_by_day_layout(spark, sf_dir))
    # Calendar dimension: every date of January 2024 tagged with a week
    # index; the query filter is on week_idx, NOT on event_date.
    cal = spark.range(1, 32).select(
        F.to_date(F.concat(F.lit("2024-01-"), F.lpad("id", 2, "0"))).alias("d"),
        ((F.col("id") - 1) / 7).cast("int").alias("week_idx"),
    )
    return (
        fact.join(F.broadcast(cal), fact.event_date == cal.d)
        .where(F.col("week_idx") == 1)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("sum_value"),
        )
        .orderBy("event_type")
    )


register(
    "dynamic_partition_pruning",
    dynamic_partition_pruning,
    """
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events
    WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-08' AND DATE '2024-01-14'
    GROUP BY event_type ORDER BY event_type
    """,
)


# ==========================================================================
# running_distinct_users — cumulative distinct count (the scalable form)
# ==========================================================================


def running_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct users per event type by day — "distinct so
    far", the growth-curve metric.

    Neither engine supports COUNT(DISTINCT) OVER a running frame, and
    the naive ``size(collect_set() OVER ...)`` materializes the full
    user set per row — a per-key memory bomb at scale.  The scalable
    formulation both engines share: mark each user's FIRST day per
    type (row_number = 1 over (type, user)), aggregate first-sightings
    per day, then a running SUM window over the tiny (type x day)
    series.  State is O(1) per row after the first exchange; the
    window runs over day cardinality, never event cardinality.
    """
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    d = F.to_date("ts").alias("d")
    firsts = (
        ev.select("event_type", "user_id", d)
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("event_type", "user_id").orderBy("d")
            ),
        )
        .where(F.col("rn") == 1)
        .groupBy("event_type", "d")
        .agg(F.count(F.lit(1)).alias("new_users"))
    )
    return firsts.select(
        "event_type",
        F.col("d").alias("day"),
        "new_users",
        F.sum("new_users")
        .over(
            Window.partitionBy("event_type")
            .orderBy("d")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        .alias("cum_distinct_users"),
    )


register(
    "running_distinct_users",
    running_distinct_users,
    """
    WITH firsts AS (
      SELECT event_type, CAST(ts AS DATE) AS day, user_id,
             ROW_NUMBER() OVER (PARTITION BY event_type, user_id
                                ORDER BY CAST(ts AS DATE)) AS rn
      FROM events
    ),
    daily AS (
      SELECT event_type, day, COUNT(*) AS new_users
      FROM firsts WHERE rn = 1 GROUP BY event_type, day
    )
    SELECT event_type, day, new_users,
           CAST(SUM(new_users) OVER (PARTITION BY event_type ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cum_distinct_users
    FROM daily
    """,
)


# ==========================================================================
# graph_degree_distribution — degree histogram of the trade graph
# ==========================================================================


def graph_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the customer-supplier trade graph (the
    same symmetric edge set pagerank_trade walks): node degree ->
    how many customers/suppliers have it.  The first diagnostic run
    on any production graph (skew detection BEFORE choosing a join
    strategy — a power-law tail here is what forces the salted/capped
    variants elsewhere in this repo).

    Cost: one distinct edge aggregate, one S(node) degree count, one
    histogram aggregate over node cardinality, in one linear pipeline.
    """
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    edges = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("u"),
            (F.col("l_suppkey") * 2 + 1).alias("v"),
        )
        .distinct()
    )
    sym = edges.unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("degree"))
    return (
        deg.groupBy("degree")
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.sum(F.when(F.col("u") % 2 == 0, 1).otherwise(0))
            .cast("long")
            .alias("n_customers"),
        )
        .orderBy("degree")
    )


register(
    "graph_degree_distribution",
    graph_degree_distribution,
    """
    WITH edges AS (
      SELECT DISTINCT o_custkey * 2 AS u, l_suppkey * 2 + 1 AS v
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    sym AS (
      SELECT u, v FROM edges UNION ALL SELECT v AS u, u AS v FROM edges
    ),
    deg AS (
      SELECT u, COUNT(*) AS degree FROM sym GROUP BY u
    )
    SELECT degree, COUNT(*) AS n_nodes,
           CAST(SUM(CASE WHEN u % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_customers
    FROM deg GROUP BY degree ORDER BY degree
    """,
)


# ==========================================================================
# array_sort_comparator_q — higher-order sort with a custom comparator
# ==========================================================================


def array_sort_comparator_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``array_sort`` with a CUSTOM comparator lambda — the
    higher-order-function escape hatch for orderings the natural sort
    can't express (here: by token length, then lexicographic).

    Whole-stage-codegen lambda, zero shuffle, scales with the scan.
    The comparator returns -1/0/1 from a nested CASE; the output is
    relationalized to a joined string (array cells can't be
    value-hashed by the driver).  The oracle reproduces the ordering
    relationally: explode, ORDER BY (len, token) inside string_agg.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = F.slice(F.split(F.lower("text"), " "), 1, 12)
    cmp_sorted = F.array_sort(
        toks,
        lambda a, b: F.when(F.length(a) < F.length(b), F.lit(-1))
        .when(F.length(a) > F.length(b), F.lit(1))
        .when(a < b, F.lit(-1))
        .when(a > b, F.lit(1))
        .otherwise(F.lit(0)),
    )
    return docs.select(
        "doc_id", F.array_join(cmp_sorted, "|").alias("by_len_then_alpha")
    )


register(
    "array_sort_comparator_q",
    array_sort_comparator_q,
    """
    WITH toks AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')[1:12]) AS tok
      FROM documents
    )
    SELECT doc_id,
           string_agg(tok, '|' ORDER BY len(tok), tok) AS by_len_then_alpha
    FROM toks GROUP BY doc_id
    """,
)


# ==========================================================================
# welch_ttest_q — two-sample hypothesis test from aggregates
# ==========================================================================

_WELCH_SQL = """
    WITH g AS (
      SELECT event_type,
             AVG(value) AS m,
             var_samp(value) AS v,
             COUNT(*) AS n
      FROM events WHERE event_type IN ('click', 'view')
      GROUP BY event_type
    ),
    c AS (SELECT m, v, n FROM g WHERE event_type = 'click'),
    w AS (SELECT m, v, n FROM g WHERE event_type = 'view')
    SELECT round((c.m - w.m) / sqrt(c.v / c.n + w.v / w.n), 5) + 0.0 AS t_stat,
           round(POWER(c.v / c.n + w.v / w.n, 2)
                 / (POWER(c.v / c.n, 2) / (c.n - 1)
                    + POWER(w.v / w.n, 2) / (w.n - 1)), 2) + 0.0 AS dof,
           c.n AS n_click, w.n AS n_view
    FROM c, w
"""


def welch_ttest_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's two-sample t-test (unequal variances) comparing mean
    event value between 'click' and 'view' — the A/B-test primitive,
    computed ENTIRELY from distributed aggregates (mean, sample
    variance, count per arm) followed by scalar arithmetic on the
    two-row result.  At 100 TB the cost is one filtered partial+final
    aggregate; the test statistic itself is free.  Identical ANSI
    text on both engines; the 1x1 join of two single-row CTEs is a
    broadcast nested loop by construction.
    """
    register_views(spark, sf_dir)
    return spark.sql(_WELCH_SQL)


register("welch_ttest_q", welch_ttest_q, _WELCH_SQL)


# ==========================================================================
# time_decay_score — recency-weighted engagement (FP-exact formulation)
# ==========================================================================

_DECAY_SQL = """
    SELECT event_type,
           CAST(SUM(CAST(value / (1.0 + (CAST(1706745600000000 AS BIGINT)
                                          - epoch_us(CAST(ts AS TIMESTAMP)))
                                         / 86400000000.0)
                         AS DECIMAL(18,9))) AS DOUBLE) AS decay_score,
           COUNT(*) AS n
    FROM events GROUP BY event_type
"""


def time_decay_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-weighted engagement score per event type: each event
    contributes ``value / (1 + age_days)`` relative to a fixed anchor
    (2024-02-01 UTC) — hyperbolic decay, the recommender-feature
    shape.

    Numerics are chosen for DISTRIBUTED exactness: the per-row weight
    uses only IEEE division on identical inputs (bit-identical on any
    engine — deliberately NOT exp(), whose last-ulp differs across
    libm implementations), and per-row terms are cast to DECIMAL(18,9)
    BEFORE summing so the aggregate is order-independent.  That makes
    a float-weighted sum hash-checkable across engines and cluster
    sizes — the same discipline the decimal revenue sums use.
    """
    ev = load_table(spark, sf_dir, "events")
    # Exact MICROSECOND age: events carry sub-second timestamps, and
    # unix_timestamp() would truncate to seconds while DuckDB's epoch()
    # keeps the fraction — integer micros are identical on both engines
    # (cast through timestamp: NTZ parquet + UTC session = identity).
    anchor_us = F.lit(1706745600000000).cast("long")  # 2024-02-01 UTC
    age_days = (anchor_us - F.unix_micros(F.col("ts").cast("timestamp"))) / 86400000000.0
    term = (F.col("value") / (F.lit(1.0) + age_days)).cast("decimal(18,9)")
    return ev.groupBy("event_type").agg(
        F.sum(term).cast("double").alias("decay_score"),
        F.count(F.lit(1)).alias("n"),
    )


register("time_decay_score", time_decay_score, _DECAY_SQL)


# ==========================================================================
# rfm_segmentation — recency / frequency / monetary quartile segments
# ==========================================================================

def rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) quartile segmentation —
    the classic customer-value matrix: per-user aggregates, three
    global NTILE(4) rankings (ties broken by user_id so the
    segmentation is total and reproducible), then segment counts.

    Recency is exact integer MICROSECONDS before the fixed anchor
    (sub-second timestamps; a seconds-truncated recency would tie
    differently than the oracle).  Scale note: global NTILE is a
    total sort over USER cardinality (3-4 orders below event
    cardinality); at 100 TB the drop-in is approx_percentile cut
    points broadcast as a 3-value boundary array per metric — same
    segments modulo boundary-epsilon users, no total sort.
    """
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        (
            F.lit(1706745600000000).cast("long")
            - F.max(F.unix_micros(F.col("ts").cast("timestamp")))
        ).alias("recency_us"),
        F.count(F.lit(1)).alias("freq"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("monetary"),
    )
    scored = per_user.select(
        "user_id",
        F.ntile(4).over(Window.orderBy("recency_us", "user_id")).alias("r"),
        F.ntile(4).over(Window.orderBy(F.desc("freq"), "user_id")).alias("f"),
        F.ntile(4).over(Window.orderBy(F.desc("monetary"), "user_id")).alias("m"),
    )
    return scored.groupBy("r", "f", "m").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.min("user_id").alias("sample_user"),
    )


register(
    "rfm_segmentation",
    rfm_segmentation,
    """
    WITH per_user AS (
      SELECT user_id,
             CAST(1706745600000000 - MAX(epoch_us(CAST(ts AS TIMESTAMP)))
                  AS BIGINT) AS recency_us,
             COUNT(*) AS freq,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS monetary
      FROM events GROUP BY user_id
    ),
    scored AS (
      SELECT user_id,
             NTILE(4) OVER (ORDER BY recency_us, user_id) AS r,
             NTILE(4) OVER (ORDER BY freq DESC, user_id) AS f,
             NTILE(4) OVER (ORDER BY monetary DESC, user_id) AS m
      FROM per_user
    )
    SELECT r, f, m, COUNT(*) AS n_users,
           CAST(MIN(user_id) AS BIGINT) AS sample_user
    FROM scored GROUP BY r, f, m
    """,
)


# ==========================================================================
# distribute_sort_by_q — SQL physical-layout clauses
# ==========================================================================

_DISTSORT_SQL = """
    SELECT l_orderkey, l_linenumber, l_returnflag,
           CAST(l_shipdate AS TIMESTAMP) AS l_shipdate
    FROM lineitem WHERE l_quantity > 45
    DISTRIBUTE BY l_returnflag SORT BY l_shipdate, l_orderkey, l_linenumber
"""


def distribute_sort_by_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``DISTRIBUTE BY`` + ``SORT BY`` — the SQL spelling of the
    write-layout preparation every partitioned/sorted table write
    runs: hash-distribute rows by the partition key, sort WITHIN each
    partition (no global order, so no range-exchange sampling pass).

    Plan (pinned in tests/test_plans.py): Exchange
    hashpartitioning(l_returnflag) then Sort[global=false] — exactly
    one exchange and a local sort, the precursor shape of
    ``join_bucketed``'s sorted buckets and every sorted-parquet
    writer.  Rows (not order) are the checked value; the oracle omits
    the clauses because DuckDB has no partition-local sort concept —
    content equality is precisely the claim that DISTRIBUTE/SORT BY
    are physical, not semantic.
    """
    register_views(spark, sf_dir)
    return spark.sql(_DISTSORT_SQL)


register(
    "distribute_sort_by_q",
    distribute_sort_by_q,
    """
    SELECT l_orderkey, l_linenumber, l_returnflag,
           CAST(l_shipdate AS TIMESTAMP) AS l_shipdate
    FROM lineitem WHERE l_quantity > 45
    """,
)


# ==========================================================================
# stack_inline_q — table-generating expressions (stack / inline)
# ==========================================================================

_STACK_SQL = """
    SELECT flag, metric, CAST(val AS DOUBLE) AS val
    FROM (
      SELECT l_returnflag AS flag,
             round(SUM(CAST(l_quantity AS DECIMAL(18,2))), 2) AS qty,
             round(SUM(CAST(l_discount AS DECIMAL(18,4))), 4) AS disc,
             CAST(COUNT(*) AS DECIMAL(18,2)) AS n
      FROM lineitem GROUP BY l_returnflag
    ) wide,
    LATERAL (VALUES ('qty', qty), ('disc', disc), ('n', n)) AS t(metric, val)
"""


def stack_inline_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``stack`` — the generator-expression wide-to-long flip (the
    expression-level sibling of the ``unpivot_q`` API): a 3-metric
    aggregate row per return flag is exploded into (flag, metric,
    value) rows by a single generator, no self-union.

    Spark evaluates ``stack(3, ...)``; the DuckDB oracle spells the
    same flip as LATERAL VALUES — both are one projection over the
    3-row aggregate, so the generator costs nothing beyond the scan.
    Decimal sums keep the unpivoted doubles order-independent.
    """
    register_views(spark, sf_dir)
    # LATERAL VIEW stack: the actual stack() generator (review finding:
    # an inline(array(named_struct...)) spelling covered only inline,
    # leaving the claimed stack coverage untested).
    return spark.sql(
        """
        SELECT flag, t.metric, CAST(t.val AS DOUBLE) AS val
        FROM (
          SELECT l_returnflag AS flag,
                 round(SUM(CAST(l_quantity AS DECIMAL(18,2))), 2) AS qty,
                 round(SUM(CAST(l_discount AS DECIMAL(18,4))), 4) AS disc,
                 CAST(COUNT(*) AS DECIMAL(18,2)) AS n
          FROM lineitem GROUP BY l_returnflag
        ) wide
        LATERAL VIEW stack(3, 'qty', CAST(qty AS DOUBLE),
                           'disc', CAST(disc AS DOUBLE),
                           'n', CAST(n AS DOUBLE)) t AS metric, val
        """
    )


register("stack_inline_q", stack_inline_q, _STACK_SQL)


# ==========================================================================
# hash_binary_funcs_q — checksum / binary encoding function family
# ==========================================================================


def hash_binary_funcs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checksum and binary-encoding functions over document text:
    md5, sha2-256, base64 of the utf-8 payload head, and hex of the
    byte length — the content-addressing primitives every dedup
    manifest and artifact store builds on.  Pure map-side projection.
    """
    docs = load_table(spark, sf_dir, "documents")
    head = F.substring("text", 1, 32)
    return docs.select(
        "doc_id",
        F.md5("text").alias("md5_hex"),
        F.sha2("text", 256).alias("sha256_hex"),
        F.base64(head.cast("binary")).alias("head_b64"),
        F.lower(F.hex(F.length("text"))).alias("len_hex"),
    )


register(
    "hash_binary_funcs_q",
    hash_binary_funcs_q,
    """
    SELECT doc_id,
           md5(text) AS md5_hex,
           sha256(text) AS sha256_hex,
           to_base64(CAST(substr(text, 1, 32) AS BLOB)) AS head_b64,
           lower(to_hex(len(text))) AS len_hex
    FROM documents
    """,
)


# ==========================================================================
# regexp_extract_all_q — multi-match extraction
# ==========================================================================


def regexp_extract_all_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``regexp_extract_all`` — every match, not just the first (the
    log-mining workhorse): all 2+-letter lowercase runs per part name,
    relationalized to a joined string plus a match count (array cells
    cannot be value-hashed by the driver).  Map-side only.
    """
    part = load_table(spark, sf_dir, "part")
    matches = F.expr("regexp_extract_all(p_name, '([a-z]{2,})', 1)")
    return part.select(
        "p_partkey",
        F.array_join(matches, ",").alias("words"),
        F.size(matches).cast("long").alias("n_matches"),
    )


register(
    "regexp_extract_all_q",
    regexp_extract_all_q,
    """
    SELECT p_partkey,
           array_to_string(regexp_extract_all(p_name, '([a-z]{2,})', 1), ',')
             AS words,
           CAST(len(regexp_extract_all(p_name, '([a-z]{2,})', 1)) AS BIGINT)
             AS n_matches
    FROM part
    """,
)


# ==========================================================================
# null_semantics_q — the NULL-handling contract as data
# ==========================================================================

_NULL_SEMANTICS_SQL = """
    SELECT COALESCE(CAST(NULLIF(l_linenumber, 1) AS STRING), 'line-1')
             AS line_group,
           COUNT(*) AS n_rows,
           COUNT(NULLIF(l_discount, 0.0)) AS n_discounted,
           round(AVG(NULLIF(l_discount, 0.0)), 6) + 0.0 AS avg_nonzero_disc,
           CAST(SUM(CASE WHEN NULLIF(l_discount, 0.0) IS NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_null_disc,
           MIN(NULLIF(l_quantity, 1.0)) AS min_qty_gt1
    FROM lineitem
    GROUP BY COALESCE(CAST(NULLIF(l_linenumber, 1) AS STRING), 'line-1')
"""


def null_semantics_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The NULL-handling contract, demonstrated as checkable data:
    ``NULLIF`` manufactures NULLs deterministically, then the query
    pins that COUNT(col) skips them while COUNT(*) does not, AVG
    ignores them (not zero-fills), MIN skips them, CASE sees them,
    NULL group keys COALESCE into a named bucket, and GROUP BY treats
    NULL keys as one group.  These are the exact semantics a user
    silently relies on in every cleaning pipeline — identical ANSI
    text on both engines makes the contract itself the tested value.
    One partial+final aggregate; scales with the scan.
    """
    register_views(spark, sf_dir)
    return spark.sql(_NULL_SEMANTICS_SQL)


register("null_semantics_q", null_semantics_q, _NULL_SEMANTICS_SQL)


# ==========================================================================
# range_partition_write — repartitionByRange sorted layout
# ==========================================================================

RANGE_FILES = 8


def range_partition_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-partitioned layout (``repartitionByRange`` +
    ``sortWithinPartitions`` + write): orders are range-split on
    o_totalprice into RANGE_FILES files and the emitted relation is
    each FILE's row count and min/max price envelope read back from
    the actual parquet footprint — completing the physical-layout
    matrix (hash buckets: join_bucketed; partition dirs:
    partitioned_write_prune; space-filling curve: zorder_layout;
    range sort: here).

    The envelope table is PAIRWISE DISJOINT across ranges (that is
    what makes range layout skip files for a price predicate) — the
    oracle re-derives each range from NTILE over the same total order,
    so the written layout must land exactly on the quantile cut
    points.

    EXACT quantiles (ntile assignment) are used rather than
    ``repartitionByRange``, which SAMPLES boundaries (reservoir per
    input partition) and therefore produces only statistically
    balanced files — measured here: 1730 vs the exact 1875 rows in
    range 1 at sf0.01, which can never be oracle-exact.  Production
    uses the sampled API when approximate balance suffices; the exact
    form costs one total-order window, the same price a global sort
    write pays anyway.
    """
    from pyspark.sql import Window

    def writer():
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_totalprice"
        )
        assigned = orders.withColumn(
            "range_id",
            F.ntile(RANGE_FILES).over(
                Window.orderBy("o_totalprice", "o_orderkey")
            ),
        )
        return (
            assigned.repartition("range_id")
            .sortWithinPartitions("o_totalprice", "o_orderkey")
            .write.partitionBy("range_id")
        )

    # Layout content is deterministic per sf, so write once per session
    # and read back thereafter — plan-shape tests build every key and
    # would otherwise pay the global sort + rewrite each time.
    out = write_once(
        derived_layout_path(spark, "orders_by_price", sf_dir, "orders"), writer
    )
    return (
        read_stable_parquet(spark, out)
        .groupBy("range_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("o_totalprice").alias("price_min"),
            F.max("o_totalprice").alias("price_max"),
        )
        .withColumn("range_id", F.col("range_id").cast("long"))
    )


register(
    "range_partition_write",
    range_partition_write,
    f"""
    WITH ranked AS (
      SELECT o_totalprice, o_orderkey,
             NTILE({RANGE_FILES}) OVER (ORDER BY o_totalprice, o_orderkey)
               AS range_id
      FROM orders
    )
    SELECT range_id, COUNT(*) AS n,
           MIN(o_totalprice) AS price_min,
           MAX(o_totalprice) AS price_max
    FROM ranked GROUP BY range_id
    """,
)


# ==========================================================================
# union_by_name_q — schema-evolving union
# ==========================================================================


def union_by_name_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``unionByName(allowMissingColumns=True)`` — the schema-evolving
    union: two relations with overlapping-but-different columns (an
    old extract without `region_hint`, a new one without `legacy_score`)
    align by NAME, absent columns null-fill.  Positional UNION would
    silently misalign or reject; by-name union is how multi-vintage
    extracts concatenate in every lakehouse backfill.

    The oracle is DuckDB's native ``UNION ALL BY NAME`` — same
    semantics from the same relational idea.  Aggregated per source
    tag so the null-fill itself is the checked value.
    """
    cust = load_table(spark, sf_dir, "customer")
    old = cust.filter(F.col("c_custkey") % 2 == 0).select(
        "c_custkey",
        F.lit("old").alias("vintage"),
        (F.col("c_acctbal") * 2).alias("legacy_score"),
    )
    new = cust.filter(F.col("c_custkey") % 2 == 1).select(
        "c_custkey",
        F.lit("new").alias("vintage"),
        F.col("c_nationkey").alias("region_hint"),
    )
    both = old.unionByName(new, allowMissingColumns=True)
    return both.groupBy("vintage").agg(
        F.count(F.lit(1)).alias("n"),
        F.count("legacy_score").alias("n_legacy"),
        F.count("region_hint").alias("n_hint"),
        F.sum(F.col("legacy_score").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_legacy"),
        F.sum("region_hint").cast("long").alias("sum_hint"),
    )


register(
    "union_by_name_q",
    union_by_name_q,
    """
    WITH old AS (
      SELECT c_custkey, 'old' AS vintage, c_acctbal * 2 AS legacy_score
      FROM customer WHERE c_custkey % 2 = 0
    ),
    new AS (
      SELECT c_custkey, 'new' AS vintage, c_nationkey AS region_hint
      FROM customer WHERE c_custkey % 2 = 1
    ),
    both_v AS (SELECT * FROM old UNION ALL BY NAME SELECT * FROM new)
    SELECT vintage, COUNT(*) AS n,
           COUNT(legacy_score) AS n_legacy,
           COUNT(region_hint) AS n_hint,
           CAST(SUM(CAST(legacy_score AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_legacy,
           CAST(SUM(region_hint) AS BIGINT) AS sum_hint
    FROM both_v GROUP BY vintage
    """,
)


# ==========================================================================
# sql_tpch_q8 — national market share
# ==========================================================================

_TPCH_Q8 = """
    SELECT o_year,
           round(CAST(SUM(CASE WHEN nation = 'NATION_3'
                          THEN CAST(volume AS DECIMAL(18,4))
                          ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
                 / CAST(SUM(CAST(volume AS DECIMAL(18,4))) AS DOUBLE),
                 6) + 0.0 AS mkt_share,
           COUNT(*) AS n_lines
    FROM (
      SELECT CAST(extract(year FROM o_orderdate) AS BIGINT) AS o_year,
             l_extendedprice * (1 - l_discount) AS volume,
             n2.n_name AS nation
      FROM part
      JOIN lineitem ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation n1 ON c_nationkey = n1.n_nationkey
      JOIN region   ON n1.n_regionkey = r_regionkey
      JOIN nation n2 ON s_nationkey = n2.n_nationkey
      WHERE r_name = 'EUROPE'
        AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
        AND p_type = 'ECONOMY'
    ) all_nations
    GROUP BY o_year
    ORDER BY o_year
"""


def sql_tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape (national market share): the 8-way star join —
    nation plays both roles again (customer's region gate, supplier's
    share attribution) and the share is a conditional-over-total
    decimal-exact ratio per year.  All seven dimension joins
    broadcast; the lone exchange is the year-cardinality aggregate.
    """
    register_views(spark, sf_dir)
    return spark.sql(_TPCH_Q8)


register("sql_tpch_q8", sql_tpch_q8, _TPCH_Q8)


# ==========================================================================
# sql_tpch_q13 — customer order-count distribution
# ==========================================================================

_TPCH_Q13 = """
    SELECT c_count, COUNT(*) AS custdist
    FROM (
      SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
      FROM customer c LEFT JOIN orders o
        ON c.c_custkey = o.o_custkey
       AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey
    ) c_orders
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
"""


def sql_tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape (customer distribution): LEFT OUTER join with
    the filter in the JOIN CONDITION (moving it to WHERE would turn
    the outer join inner and silently drop zero-order customers — the
    classic outer-join filter trap, kept here deliberately), then a
    two-level aggregate: orders per customer, customers per order
    count.  COUNT(o_orderkey) over the null-extended side counts 0
    for order-less customers, which is the distribution's leftmost
    bucket.
    """
    register_views(spark, sf_dir)
    return spark.sql(_TPCH_Q13)


register("sql_tpch_q13", sql_tpch_q13, _TPCH_Q13)


# ==========================================================================
# sql_tpch_q15 — top supplier (revenue view)
# ==========================================================================

_TPCH_Q15 = """
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             SUM(CAST(l_extendedprice * (1 - l_discount)
                      AS DECIMAL(18,4))) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name,
           CAST(total_revenue AS DOUBLE) AS total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    ORDER BY s_suppkey
"""


def sql_tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape (top supplier): a named revenue view consumed
    TWICE — once joined to supplier, once inside a scalar MAX
    subquery.  Decimal-exact revenue makes the equality predicate
    against the subquery max well-defined (a float sum would make
    "= MAX" flaky by summation order — the reason Q15 is the
    canonical decimal-discipline test); ties on max revenue are all
    returned, ordered by supplier key.
    """
    register_views(spark, sf_dir)
    return spark.sql(_TPCH_Q15)


register("sql_tpch_q15", sql_tpch_q15, _TPCH_Q15)


# ==========================================================================
# sql_tpch_q17 — small-quantity-order revenue
# ==========================================================================

_TPCH_Q17 = """
    SELECT round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
                      AS DOUBLE) / 7.0, 4) + 0.0 AS avg_yearly,
           COUNT(*) AS n_lines
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#13'
      AND l_quantity < (
        SELECT 0.2 * AVG(l2.l_quantity)
        FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
"""


def sql_tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape (small-quantity revenue): a CORRELATED scalar
    aggregate subquery per part (20% of that part's average quantity)
    gating the fact rows.  Catalyst decorrelates it into a per-part
    average aggregate joined back — one pass over lineitem for the
    averages, one for the probe — instead of a per-row re-scan; the
    0.2*avg threshold is a pure double comparison identical on both
    engines.
    """
    register_views(spark, sf_dir)
    return spark.sql(_TPCH_Q17)


register("sql_tpch_q17", sql_tpch_q17, _TPCH_Q17)


# ==========================================================================
# ignore_nulls_nav_q — IGNORE NULLS navigation functions
# ==========================================================================

def ignore_nulls_nav_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``IGNORE NULLS`` navigation — the gap-filling LOCF primitive:
    ``last_value ... IGNORE NULLS`` over a running frame carries the
    most recent non-null observation forward (zero discounts
    NULLIF'ed into gaps), and the whole-partition first_value picks
    the earliest real observation.  Without IGNORE NULLS both return
    the frame-edge row verbatim, nulls included — a silently different
    answer, which is why the modifier earns its own key.

    Dialect note: Spark parses the modifier OUTSIDE the call
    (``last_value(x) IGNORE NULLS``), DuckDB INSIDE
    (``last_value(x IGNORE NULLS)``) — same ANSI semantics, two
    spellings, so this key carries separate texts.  One S(l_orderkey)
    exchange serves both windows.
    """
    register_views(spark, sf_dir)
    return spark.sql(
        """
        WITH s AS (
          SELECT l_orderkey, l_linenumber,
                 NULLIF(l_discount, 0.0) AS disc
          FROM lineitem WHERE l_orderkey < 2000
        )
        SELECT l_orderkey, l_linenumber,
               last_value(disc) IGNORE NULLS OVER w AS last_real_disc,
               first_value(disc) IGNORE NULLS OVER (
                 PARTITION BY l_orderkey ORDER BY l_linenumber
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
               ) AS first_real_disc
        FROM s
        WINDOW w AS (PARTITION BY l_orderkey ORDER BY l_linenumber
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        """
    )


register(
    "ignore_nulls_nav_q",
    ignore_nulls_nav_q,
    """
    WITH s AS (
      SELECT l_orderkey, l_linenumber,
             NULLIF(l_discount, 0.0) AS disc
      FROM lineitem WHERE l_orderkey < 2000
    )
    SELECT l_orderkey, l_linenumber,
           last_value(disc IGNORE NULLS) OVER w AS last_real_disc,
           first_value(disc IGNORE NULLS) OVER (
             PARTITION BY l_orderkey ORDER BY l_linenumber
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
           ) AS first_real_disc
    FROM s
    WINDOW w AS (PARTITION BY l_orderkey ORDER BY l_linenumber
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)


# ==========================================================================
# like_family_q — pattern-match predicate family
# ==========================================================================


def like_family_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LIKE predicate family beyond plain LIKE: case-insensitive
    ``ILIKE``, conjunctive ``LIKE ALL`` and disjunctive ``LIKE ANY``
    multi-pattern forms — censused over part names so every predicate's
    selectivity is the checked value.  The oracle spells LIKE ALL/ANY
    as explicit AND/OR chains (DuckDB has ILIKE but not the ALL/ANY
    sugar), making the key a cross-engine semantics pin rather than a
    syntax echo.  One partial+final aggregate, filters at the scan.
    """
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT COUNT(*) AS n_parts,
               CAST(SUM(CASE WHEN p_name ILIKE '%STEEL%' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_ilike_steel,
               CAST(SUM(CASE WHEN p_name LIKE ALL ('%a%', '%e%')
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_like_all_ae,
               CAST(SUM(CASE WHEN p_name LIKE ANY ('%zz%', '%qq%', 'a%')
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_like_any
        FROM part
        """
    )


register(
    "like_family_q",
    like_family_q,
    """
    SELECT COUNT(*) AS n_parts,
           CAST(SUM(CASE WHEN p_name ILIKE '%STEEL%' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_ilike_steel,
           CAST(SUM(CASE WHEN p_name LIKE '%a%' AND p_name LIKE '%e%'
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_like_all_ae,
           CAST(SUM(CASE WHEN p_name LIKE '%zz%' OR p_name LIKE '%qq%'
                         OR p_name LIKE 'a%'
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_like_any
    FROM part
    """,
)


# ==========================================================================
# xpath_funcs_q — XPath extraction family
# ==========================================================================


def xpath_funcs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The XPath function family (``xpath_string`` / ``xpath_int`` /
    ``xpath`` list form) over a deterministically constructed XML
    fragment per order — the legacy-feed extraction path next to the
    schema-typed ``from_xml_q``.  Pure map-side projection.

    The oracle reconstructs each extraction from the same source
    fields (a second implementation of the path semantics, not a
    parrot of the XML parse).
    """
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") < 2000
    )
    xml = F.concat(
        F.lit("<order id='"),
        F.col("o_orderkey"),
        F.lit("'><status>"),
        F.col("o_orderstatus"),
        F.lit("</status><prio>"),
        F.col("o_orderpriority"),
        F.lit("</prio><cust>"),
        F.col("o_custkey"),
        F.lit("</cust></order>"),
    )
    return orders.select(
        "o_orderkey",
        F.expr(f"xpath_string({_X}, '/order/status')").alias("status"),
        F.expr(f"xpath_long({_X}, '/order/cust')").alias("cust"),
        F.expr(
            f"array_join(xpath({_X}, '/order/*/text()'), '|')"
        ).alias("all_texts"),
        F.length(xml).cast("long").alias("xml_len"),
    )


_X = (
    "concat('<order id=\\'', o_orderkey, '\\'><status>', o_orderstatus,"
    "'</status><prio>', o_orderpriority, '</prio><cust>', o_custkey,"
    "'</cust></order>')"
)


register(
    "xpath_funcs_q",
    xpath_funcs_q,
    """
    SELECT o_orderkey,
           o_orderstatus AS status,
           CAST(o_custkey AS BIGINT) AS cust,
           o_orderstatus || '|' || o_orderpriority || '|' || o_custkey
             AS all_texts,
           CAST(len('<order id=''' || o_orderkey || '''><status>'
                || o_orderstatus || '</status><prio>' || o_orderpriority
                || '</prio><cust>' || o_custkey || '</cust></order>')
                AS BIGINT) AS xml_len
    FROM orders WHERE o_orderkey < 2000
    """,
)


# ==========================================================================
# aes_roundtrip_q — column encryption roundtrip
# ==========================================================================

_AES_KEY = "0123456789abcdef"  # 16-byte AES-128 test key


def aes_roundtrip_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``aes_encrypt`` / ``aes_decrypt`` roundtrip in ECB mode (the
    deterministic mode — GCM salts a random IV per call, so only ECB
    is reproducible enough to check) over customer names, plus the
    ciphertext length as evidence real encryption happened.

    The oracle is the PLAINTEXT projection: decrypt(encrypt(x)) = x is
    the contract under test, and a broken key path / charset mangling
    breaks the equality.  Column-level crypto is how PII columns ship
    in shared lakehouse tables; the key would come from a KMS, not a
    literal.  Map-side only.
    """
    cust = load_table(spark, sf_dir, "customer")
    enc = F.expr(f"aes_encrypt(c_name, '{_AES_KEY}', 'ECB')")
    dec = F.expr(
        f"CAST(aes_decrypt(aes_encrypt(c_name, '{_AES_KEY}', 'ECB'),"
        f" '{_AES_KEY}', 'ECB') AS STRING)"
    )
    return cust.select(
        "c_custkey",
        dec.alias("name_roundtrip"),
        F.length(enc).cast("long").alias("cipher_len"),
    )


register(
    "aes_roundtrip_q",
    aes_roundtrip_q,
    """
    SELECT c_custkey, c_name AS name_roundtrip,
           CAST((len(c_name) // 16 + 1) * 16 AS BIGINT) AS cipher_len
    FROM customer
    """,
)


# ==========================================================================
# inline_structs_q — the inline generator (struct-array to rows)
# ==========================================================================


def inline_structs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``inline(array(named_struct(...)))`` — the struct-array
    generator (each struct becomes a row with its fields as columns),
    the typed sibling of ``stack`` (stack_inline_q): build a (bound,
    price band) struct pair per part and inline it to rows.  One
    generator projection, no shuffle; the oracle spells the same flip
    as UNION ALL.
    """
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT p_partkey, t.bound, t.price
        FROM part
        LATERAL VIEW inline(array(
          named_struct('bound', 'floor',
                       'price', CAST(floor(p_retailprice) AS DOUBLE)),
          named_struct('bound', 'ceil',
                       'price', CAST(ceil(p_retailprice) AS DOUBLE))
        )) t AS bound, price
        WHERE p_partkey < 500
        """
    )


register(
    "inline_structs_q",
    inline_structs_q,
    """
    SELECT p_partkey, 'floor' AS bound, CAST(floor(p_retailprice) AS DOUBLE)
             AS price
    FROM part WHERE p_partkey < 500
    UNION ALL
    SELECT p_partkey, 'ceil' AS bound, CAST(ceil(p_retailprice) AS DOUBLE)
             AS price
    FROM part WHERE p_partkey < 500
    """,
)


# ==========================================================================
# array_hof_q — higher-order array functions (exists / forall / filter /
#               aggregate-with-finish)
# ==========================================================================


def array_hof_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The higher-order array-function family over token arrays:
    ``exists`` (any long token), ``forall`` (all alphabetic),
    ``filter`` (count of capitalized), and ``aggregate`` with a FINISH
    lambda (mean token length computed inside the array — accumulator
    + divisor in one expression).  All whole-stage-codegen lambdas,
    zero shuffle.  DuckDB spells them list_filter/len arithmetic.
    """
    docs = load_table(spark, sf_dir, "documents")
    t = F.split(F.col("text"), " ")
    mean_len = F.aggregate(
        t,
        F.struct(F.lit(0).cast("long").alias("s"), F.lit(0).cast("long").alias("n")),
        lambda acc, x: F.struct(
            (acc["s"] + F.length(x)).alias("s"), (acc["n"] + 1).alias("n")
        ),
        lambda acc: F.round(acc["s"] / acc["n"], 6) + F.lit(0.0),
    )
    return docs.select(
        "doc_id",
        F.exists(t, lambda x: F.length(x) > 10).alias("has_long_tok"),
        F.forall(t, lambda x: x.rlike("^[a-zA-Z]*$")).alias("all_alpha"),
        F.size(F.filter(t, lambda x: x.rlike("^[A-Z]"))).cast("long").alias(
            "n_capitalized"
        ),
        mean_len.alias("mean_tok_len"),
    )


register(
    "array_hof_q",
    array_hof_q,
    """
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
    SELECT doc_id,
           len(list_filter(toks, x -> len(x) > 10)) > 0 AS has_long_tok,
           len(list_filter(toks, x -> NOT regexp_matches(x, '^[a-zA-Z]*$')))
             = 0 AS all_alpha,
           CAST(len(list_filter(toks, x -> regexp_matches(x, '^[A-Z]')))
                AS BIGINT) AS n_capitalized,
           round(CAST(list_sum(list_transform(toks, x -> len(x))) AS DOUBLE)
                 / len(toks), 6) + 0.0 AS mean_tok_len
    FROM t
    """,
)


# ==========================================================================
# bit_shift_q — bitwise shift / single-bit functions
# ==========================================================================

def bit_shift_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise scalar operators (shifts, and/or/xor masks) — the
    flag-word and key-packing toolkit (zorder_layout's interleave is
    built from exactly these).  Spark 4 supports the ``<<``/``>>``
    operator spellings (SPARK-44160).  Dialect note: Spark spells
    xor ``^`` while DuckDB's ``^`` is EXPONENTIATION and its xor is
    the ``xor()`` function — a silent-wrong-answer trap if queries
    are ported verbatim, which is exactly why the key exists.
    Map-side only.
    """
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT l_orderkey,
               CAST(l_linenumber << 4 AS BIGINT) AS shifted_left,
               CAST(l_orderkey >> 2 AS BIGINT) AS shifted_right,
               CAST(l_orderkey & 255 AS BIGINT) AS low_byte,
               CAST(l_orderkey | 4096 AS BIGINT) AS with_flag,
               CAST(l_orderkey ^ 21845 AS BIGINT) AS xored
        FROM lineitem WHERE l_orderkey < 500
        """
    )


register(
    "bit_shift_q",
    bit_shift_q,
    """
    SELECT l_orderkey,
           CAST(l_linenumber << 4 AS BIGINT) AS shifted_left,
           CAST(l_orderkey >> 2 AS BIGINT) AS shifted_right,
           CAST(l_orderkey & 255 AS BIGINT) AS low_byte,
           CAST(l_orderkey | 4096 AS BIGINT) AS with_flag,
           CAST(xor(l_orderkey, 21845) AS BIGINT) AS xored
    FROM lineitem WHERE l_orderkey < 500
    """,
)


# ==========================================================================
# date_arith_q — calendar arithmetic family
# ==========================================================================


def date_arith_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar arithmetic: interval addition, month addition with
    end-of-month CLAMPING (2024-01-30 + 1 month = 2024-02-29 — the
    leap-year clamp both engines implement), last_day, month
    truncation, and day deltas from a fixed anchor.  Dialects differ
    (Spark add_months/datediff vs DuckDB interval arithmetic /
    date_diff), so the key carries per-engine texts for the SAME
    calendar semantics — the parity itself is what is checked.
    """
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 3000)
    d = F.to_date(F.col("ts").cast("timestamp"))
    return ev.select(
        "event_id",
        d.alias("day"),
        F.date_add(d, 45).alias("plus_45d"),
        F.add_months(d, 1).alias("plus_1m"),
        F.last_day(d).alias("month_end"),
        F.trunc(d, "MM").alias("month_start"),
        F.datediff(F.lit("2024-03-01").cast("date"), d)
        .cast("long")
        .alias("days_to_march"),
    )


register(
    "date_arith_q",
    date_arith_q,
    """
    SELECT event_id,
           CAST(ts AS DATE) AS day,
           CAST(ts AS DATE) + 45 AS plus_45d,
           CAST(CAST(ts AS DATE) + INTERVAL 1 MONTH AS DATE) AS plus_1m,
           last_day(CAST(ts AS DATE)) AS month_end,
           CAST(date_trunc('month', CAST(ts AS DATE)) AS DATE) AS month_start,
           CAST(date_diff('day', CAST(ts AS DATE), DATE '2024-03-01')
                AS BIGINT) AS days_to_march
    FROM events WHERE event_id < 3000
    """,
)


# ==========================================================================
# width_bucket_q — equi-width bucketing function
# ==========================================================================


def width_bucket_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``width_bucket(x, lo, hi, n)`` — the SQL-standard equi-width
    bucketing function (buckets 1..n, 0 below, n+1 above): order
    totals into 10 buckets over [0, 500k).  DuckDB lacks the builtin,
    so the oracle implements the standard's floor formula explicitly —
    pinning the off-by-one conventions (inclusive lower, exclusive
    upper, overflow bucket n+1) that hand-rolled histograms get wrong.
    One partial+final aggregate over bucket cardinality.
    """
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select(
            F.expr("width_bucket(o_totalprice, 0.0, 500000.0, 10)").alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


register(
    "width_bucket_q",
    width_bucket_q,
    """
    SELECT CASE WHEN o_totalprice < 0.0 THEN 0
                WHEN o_totalprice >= 500000.0 THEN 11
                ELSE CAST(floor(o_totalprice / 50000.0) AS BIGINT) + 1 END
             AS bucket,
           COUNT(*) AS n
    FROM orders GROUP BY 1
    """,
)


# ==========================================================================
# sql_variables_q — SQL session variables (Spark 4)
# ==========================================================================


def sql_variables_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL session variables (``DECLARE VARIABLE`` / ``SET VAR``,
    Spark 4): a price threshold and a priority literal are declared
    once and referenced from the query text — the parameterization
    mechanism for SQL-only deployments (dashboards, scheduled SQL)
    where a Python-side bind (``sql_parameterized``) is unavailable.
    The oracle constant-folds the same values into plain SQL, so the
    checked claim is that variable indirection is semantically
    invisible.
    """
    register_views(spark, sf_dir)
    spark.sql("DECLARE OR REPLACE VARIABLE price_floor DOUBLE DEFAULT 0.0")
    spark.sql("DECLARE OR REPLACE VARIABLE prio STRING DEFAULT ''")
    spark.sql("SET VAR price_floor = 150000.0")
    spark.sql("SET VAR prio = '1-URGENT'")
    return spark.sql(
        """
        SELECT o_orderpriority, COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS total
        FROM orders
        WHERE o_totalprice > price_floor AND o_orderpriority <> prio
        GROUP BY o_orderpriority
        """
    )


register(
    "sql_variables_q",
    sql_variables_q,
    """
    SELECT o_orderpriority, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders
    WHERE o_totalprice > 150000.0 AND o_orderpriority <> '1-URGENT'
    GROUP BY o_orderpriority
    """,
)


# ==========================================================================
# str_edit_funcs_q — string editing function family
# ==========================================================================

_STR_EDIT_SQL = """
    SELECT p_partkey,
           translate(p_name, 'aeiou', '01234') AS translated,
           repeat(substr(p_name, 1, 3), 2) AS repeated,
           reverse(p_name) AS reversed,
           left(p_name, 5) AS first5,
           right(p_name, 5) AS last5,
           replace(p_name, ' ', '_') AS snaked
    FROM part WHERE p_partkey < 500
"""


def str_edit_funcs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String editing family: translate (char-map), repeat, reverse,
    left/right slices, replace — the normalization toolkit next to
    the regexp family.  Identical ANSI text on both engines;
    map-side only.
    """
    register_views(spark, sf_dir)
    return spark.sql(_STR_EDIT_SQL)


register("str_edit_funcs_q", str_edit_funcs_q, _STR_EDIT_SQL)


# ==========================================================================
# greatest_least_q — n-ary comparison functions
# ==========================================================================

_GREATEST_LEAST_SQL = """
    SELECT l_orderkey, l_linenumber,
           greatest(l_quantity, l_discount * 100, l_tax * 100) AS g3,
           least(l_quantity, l_discount * 100, l_tax * 100) AS l3,
           greatest(l_quantity, NULLIF(l_discount, l_discount) * 0) AS g_null
    FROM lineitem WHERE l_orderkey < 500
"""


def greatest_least_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-ary ``greatest``/``least`` including the NULL rule both
    engines share (NULL arguments are SKIPPED, unlike CASE-based
    max chains which propagate them) — g_null manufactures an
    always-NULL argument to pin exactly that.  Identical ANSI text;
    map-side.
    """
    register_views(spark, sf_dir)
    return spark.sql(_GREATEST_LEAST_SQL)


register("greatest_least_q", greatest_least_q, _GREATEST_LEAST_SQL)


# ==========================================================================
# char_ascii_q — character/byte inspection functions
# ==========================================================================

_CHAR_ASCII_SQL = """
    SELECT doc_id,
           ascii(substr(text, 1, 1)) AS first_cp,
           chr(65 + CAST(doc_id % 26 AS INT)) AS cycled_char,
           CAST(length(text) AS BIGINT) AS n_chars,
           CAST(octet_length(text) AS BIGINT) AS n_bytes
    FROM documents
"""

# DuckDB only binds octet_length for BLOB/BIT; its byte-length over a
# VARCHAR is strlen().  Same semantics (UTF-8 byte count), per-engine text.
_CHAR_ASCII_ORACLE = """
    SELECT doc_id,
           ascii(substr(text, 1, 1)) AS first_cp,
           chr(65 + CAST(doc_id % 26 AS INT)) AS cycled_char,
           CAST(length(text) AS BIGINT) AS n_chars,
           CAST(strlen(text) AS BIGINT) AS n_bytes
    FROM documents
"""


def char_ascii_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character/byte inspection: ``ascii`` (first code point),
    ``chr`` (code point to char), and the char-vs-byte length pair —
    ``octet_length`` diverges from ``length`` exactly on multi-byte
    UTF-8, which is how a pipeline detects non-ASCII content without
    decoding it.  Spark text uses octet_length; the oracle spells the
    same byte count as DuckDB's strlen (octet_length only binds for
    BLOB there).  Map-side.
    """
    register_views(spark, sf_dir)
    return spark.sql(_CHAR_ASCII_SQL)


register("char_ascii_q", char_ascii_q, _CHAR_ASCII_ORACLE)


# ==========================================================================
# array_lookup_q — positional array access family
# ==========================================================================


def array_lookup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional array access: ``element_at`` (1-based),
    ``try_element_at`` (NULL instead of ANSI error on out-of-bounds —
    the safe accessor this ANSI-mode repo must use for ragged
    arrays), ``get`` (0-based, NULL on OOB), ``array_position`` and
    ``array_contains`` over token arrays.  The oracle spells the same
    lookups with DuckDB's 1-based list indexing and list_position.
    Map-side only.
    """
    docs = load_table(spark, sf_dir, "documents")
    t = F.split(F.col("text"), " ")
    return docs.select(
        "doc_id",
        F.element_at(t, 1).alias("first_tok"),
        F.try_element_at(t, F.lit(9999)).alias("oob_tok"),
        F.get(t, 1).alias("second_tok_0based"),
        F.array_position(t, "the").cast("long").alias("pos_the"),
        F.array_contains(t, "the").alias("has_the"),
    )


register(
    "array_lookup_q",
    array_lookup_q,
    """
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
    SELECT doc_id,
           toks[1] AS first_tok,
           toks[9999] AS oob_tok,
           toks[2] AS second_tok_0based,
           CAST(COALESCE(list_position(toks, 'the'), 0) AS BIGINT) AS pos_the,
           list_contains(toks, 'the') AS has_the
    FROM t
    """,
)
