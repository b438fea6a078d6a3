"""TPC-H completion batch: the ten shapes (Q2, Q4, Q9, Q11, Q12, Q16,
Q19, Q20, Q21, Q22) whose canonical columns the driver fixtures do not
carry — closed here with a DERIVED-FIXTURE layer.

The test parquet lacks ``partsupp`` and the ``l_commitdate`` /
``l_receiptdate`` / ``l_shipmode`` / ``l_shipinstruct`` / ``c_phone`` /
``p_mfgr`` / ``p_container`` / ``s_comment`` columns.  Rather than
synthesizing new files (the fixture dirs are read-only), every missing
relation/column is DERIVED deterministically from the existing tables
with pure integer arithmetic — the SAME derivation runs as Spark temp
views on one side and as DuckDB CTEs inside the oracle on the other, so
the correctness gate still compares two independent engines end-to-end.

Per-engine text exists ONLY for the date arithmetic in ``lineitem_x``
(Spark ``date_add(d, n)`` vs DuckDB ``d + n`` — DuckDB has no
int-argument date_add); every other derivation and every query BODY is
byte-identical ANSI text on both engines (precedent: date_arith_q).

Scale notes: the derived views are stateless map-side projections over
the base scans (partsupp is part x 4 via a 4-row cross join — a
broadcast nested loop over a literal, NOT a data-data cartesian), so at
100 TB they fuse into the scan stage and add zero exchanges.  Each
query's shuffle structure is the canonical TPC-H one: dimension
broadcasts + one aggregate exchange; the correlated subqueries in
Q2/Q20/Q21/Q22 decorrelate to aggregate-then-join under Catalyst
(plan-pinned in tests/test_plans.py).

Reference parity: the reference (G-Stream, batchStreamModel.scala) has
no relational surface; these keys extend the engine surface per
SURVEY.md section 2's "complete analytics engine" contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import register_views
from .registry import register, register_plan_proxy

# --------------------------------------------------------------------------
# Derived-fixture layer
# --------------------------------------------------------------------------

# partsupp: 4 suppliers per part (TPC-H cardinality), supplier keys mapped
# into the live supplier key space (0-based contiguous in the fixtures) via
# stride 17.  The 4 keys (p*4 + n*17 + 3) mod S collide exactly when S
# divides a pairwise stride difference (17, 34, or 51) — i.e. when
# S ∈ {17, 34, 51} or S ∈ {1, 2, 3} (where <4 distinct keys exist anyway);
# every other supplier count yields 4 distinct suppliers per part.  The
# fixture supplier counts (sf-scaled, not multiples of 17) are safe, and
# tests/test_tpch_ext.py pins the 4-distinct property per checked sf so a
# regenerated fixture landing on a degenerate count fails loudly rather
# than silently flattening Q2/Q9/Q11/Q16/Q20 (review finding, round 5).
# availqty/supplycost are hash-style integer arithmetic.
_PARTSUPP = """
    SELECT CAST(p_partkey AS BIGINT) AS ps_partkey,
           CAST((p_partkey * 4 + g.n * 17 + 3)
                % (SELECT COUNT(*) FROM supplier) AS BIGINT) AS ps_suppkey,
           CAST(1 + (p_partkey * 7 + g.n * 13) % 9999 AS INT) AS ps_availqty,
           CAST(1.0 + CAST((p_partkey * 31 + g.n * 29) % 99900 AS DOUBLE)
                / 100.0 AS DOUBLE) AS ps_supplycost
    FROM part
    CROSS JOIN (SELECT 0 AS n UNION ALL SELECT 1 UNION ALL
                SELECT 2 UNION ALL SELECT 3) g
"""

# lineitem_x: commit/receipt dates as deterministic day offsets from
# l_shipdate, shipmode/shipinstruct from the TPC-H domains via modulo.
# Spark spells the day shift date_add(d, n); DuckDB spells it d + n.
_LINEITEM_X_COMMON = """
           CASE CAST((l_orderkey * 7 + l_linenumber) % 7 AS INT)
             WHEN 0 THEN 'REG AIR' WHEN 1 THEN 'AIR' WHEN 2 THEN 'RAIL'
             WHEN 3 THEN 'SHIP' WHEN 4 THEN 'TRUCK' WHEN 5 THEN 'MAIL'
             ELSE 'FOB' END AS l_shipmode,
           CASE CAST((l_orderkey * 13 + l_linenumber) % 4 AS INT)
             WHEN 0 THEN 'DELIVER IN PERSON' WHEN 1 THEN 'COLLECT COD'
             WHEN 2 THEN 'NONE' ELSE 'TAKE BACK RETURN' END AS l_shipinstruct
    FROM lineitem l
"""

_LINEITEM_X_SPARK = (
    """
    SELECT l.*,
           date_add(CAST(l_shipdate AS DATE),
                    CAST((l_orderkey * 3 + l_linenumber * 11) % 61 AS INT)
                    - 30) AS l_commitdate,
           date_add(CAST(l_shipdate AS DATE),
                    CAST(1 + (l_orderkey * 5 + l_linenumber * 7) % 30 AS INT))
                    AS l_receiptdate,
"""
    + _LINEITEM_X_COMMON
)

_LINEITEM_X_DUCK = (
    """
    SELECT l.*,
           CAST(l_shipdate AS DATE)
             + (CAST((l_orderkey * 3 + l_linenumber * 11) % 61 AS INT) - 30)
             AS l_commitdate,
           CAST(l_shipdate AS DATE)
             + CAST(1 + (l_orderkey * 5 + l_linenumber * 7) % 30 AS INT)
             AS l_receiptdate,
"""
    + _LINEITEM_X_COMMON
)

_PART_X = """
    SELECT p.*,
           concat('Manufacturer#', CAST(1 + p_partkey % 5 AS STRING)) AS p_mfgr,
           CASE CAST(p_partkey % 8 AS INT)
             WHEN 0 THEN 'SM CASE' WHEN 1 THEN 'SM BOX' WHEN 2 THEN 'MED BAG'
             WHEN 3 THEN 'MED BOX' WHEN 4 THEN 'LG CASE' WHEN 5 THEN 'LG BOX'
             WHEN 6 THEN 'JUMBO PACK' ELSE 'WRAP JAR' END AS p_container
    FROM part p
"""

# c_phone: TPC-H layout "CC-NNNNNNN" with country code 10 + nationkey, so
# substr(c_phone, 1, 2) recovers the 2-digit code Q22 groups on.
_CUSTOMER_X = """
    SELECT c.*,
           concat(CAST(10 + c_nationkey AS STRING), '-',
                  lpad(CAST((c_custkey * 97 + 11) % 10000000 AS STRING),
                       7, '0')) AS c_phone
    FROM customer c
"""

_SUPPLIER_X = """
    SELECT s.*,
           CASE WHEN s_suppkey % 11 = 3
                THEN 'pending Customer paperwork Complaints linger'
                ELSE 'quiet deposits nag slyly' END AS s_comment
    FROM supplier s
"""

_SPARK_DERIVED = {
    "partsupp": _PARTSUPP,
    "lineitem_x": _LINEITEM_X_SPARK,
    "part_x": _PART_X,
    "customer_x": _CUSTOMER_X,
    "supplier_x": _SUPPLIER_X,
}

_DUCK_DERIVED = {
    "partsupp": _PARTSUPP,
    "lineitem_x": _LINEITEM_X_DUCK,
    "part_x": _PART_X,
    "customer_x": _CUSTOMER_X,
    "supplier_x": _SUPPLIER_X,
}


def register_ext_views(spark: SparkSession, sf_dir: str) -> None:
    """Base views + the five derived TPC-H views, session-scoped."""
    register_views(spark, sf_dir)
    for name, text in _SPARK_DERIVED.items():
        spark.sql(f"CREATE OR REPLACE TEMPORARY VIEW {name} AS {text}")


def _oracle(body: str, *ctes: str) -> str:
    """Prefix the query body with the DuckDB-dialect derived CTEs it
    uses; a body carrying its own WITH clause has the derived CTEs
    spliced onto the front of its list."""
    with_list = ", ".join(f"{n} AS ({_DUCK_DERIVED[n]})" for n in ctes)
    stripped = body.lstrip()
    if stripped.upper().startswith("WITH "):
        return f"WITH {with_list}, {stripped[5:]}"
    return f"WITH {with_list} {body}"


def _make(key: str, body: str, ctes: tuple[str, ...], doc: str):
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        register_ext_views(spark, sf_dir)
        return spark.sql(body)

    fn.__name__ = key
    fn.__doc__ = doc
    fn.__qualname__ = key
    register(key, fn, _oracle(body, *ctes))
    return fn


# --------------------------------------------------------------------------
# Q2 — minimum-cost supplier (correlated scalar MIN subquery)
# --------------------------------------------------------------------------

_TPCH_Q2 = """
    SELECT s_acctbal, s_name, n_name, p_partkey, p_mfgr, ps_supplycost
    FROM part_x
    JOIN partsupp ON p_partkey = ps_partkey
    JOIN supplier ON s_suppkey = ps_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE p_size % 10 = 5 AND p_type = 'STANDARD' AND r_name = 'EUROPE'
      AND ps_supplycost = (
        SELECT MIN(ps_supplycost)
        FROM partsupp, supplier, nation, region
        WHERE ps_partkey = p_partkey AND s_suppkey = ps_suppkey
          AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
          AND r_name = 'EUROPE')
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
    LIMIT 100
"""

sql_tpch_q2 = _make(
    "sql_tpch_q2",
    _TPCH_Q2,
    ("partsupp", "part_x"),
    """TPC-H Q2 shape: the correlated scalar MIN subquery — for each
    part, only its cheapest EUROPE supplier survives.  Catalyst
    decorrelates the MIN into a per-part aggregate joined back on
    (ps_partkey, min_cost); at scale that is one partsupp-cardinality
    aggregate plus broadcast dimension joins, never a per-row re-scan.
    Full ORDER BY tie-break chain keeps the LIMIT deterministic.""",
)


# --------------------------------------------------------------------------
# Q4 — order-priority checking (EXISTS semi-join)
# --------------------------------------------------------------------------

_TPCH_Q4 = """
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1996-07-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem_x
                  WHERE l_orderkey = o_orderkey
                    AND l_commitdate < l_receiptdate)
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
"""

sql_tpch_q4 = _make(
    "sql_tpch_q4",
    _TPCH_Q4,
    ("lineitem_x",),
    """TPC-H Q4 shape: EXISTS over late lineitems -> LeftSemi join,
    then a 5-group aggregate.  The date window prunes orders before
    the semi-join; the commit<receipt predicate is map-side on the
    lineitem scan, so the only exchanges are the semi-join key and the
    tiny priority aggregate.""",
)


# --------------------------------------------------------------------------
# Q9 — product-type profit measure
# --------------------------------------------------------------------------

_TPCH_Q9 = """
    SELECT nation, o_year, CAST(SUM(amount) AS DOUBLE) AS sum_profit
    FROM (
      SELECT n_name AS nation,
             CAST(extract(year FROM o_orderdate) AS BIGINT) AS o_year,
             CAST(l_extendedprice * (1 - l_discount)
                  - ps_supplycost * l_quantity AS DECIMAL(18,4)) AS amount
      FROM part_x
      JOIN lineitem ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN partsupp ON ps_partkey = l_partkey AND ps_suppkey = l_suppkey
      JOIN orders ON o_orderkey = l_orderkey
      JOIN nation ON s_nationkey = n_nationkey
      WHERE p_name LIKE '%red%'
    ) profit
    GROUP BY nation, o_year
    ORDER BY nation, o_year DESC
"""

sql_tpch_q9 = _make(
    "sql_tpch_q9",
    _TPCH_Q9,
    ("partsupp", "part_x"),
    """TPC-H Q9 shape: profit = revenue minus supply cost, joined
    through partsupp on the COMPOSITE (partkey, suppkey) key — the one
    TPC-H join that is two-column.  The p_name filter prunes part
    before it reaches the fact flow; decimal-exact amounts keep the
    per-(nation, year) sums order-independent.""",
)


# --------------------------------------------------------------------------
# Q11 — important stock identification (HAVING vs global scalar)
# --------------------------------------------------------------------------

_TPCH_Q11 = """
    SELECT ps_partkey,
           CAST(SUM(CAST(ps_supplycost * ps_availqty AS DECIMAL(18,4)))
                AS DOUBLE) AS part_value
    FROM partsupp
    JOIN supplier ON ps_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    WHERE n_name = 'NATION_7'
    GROUP BY ps_partkey
    HAVING SUM(CAST(ps_supplycost * ps_availqty AS DECIMAL(18,4))) >
      (SELECT SUM(CAST(ps_supplycost * ps_availqty AS DECIMAL(18,4))) * 0.0040
       FROM partsupp
       JOIN supplier ON ps_suppkey = s_suppkey
       JOIN nation ON s_nationkey = n_nationkey
       WHERE n_name = 'NATION_7')
    ORDER BY part_value DESC, ps_partkey
"""

sql_tpch_q11 = _make(
    "sql_tpch_q11",
    _TPCH_Q11,
    ("partsupp",),
    """TPC-H Q11 shape: per-part stock value filtered against a
    FRACTION OF THE GLOBAL TOTAL — an uncorrelated scalar subquery
    evaluated once (a 1-row broadcast at scale), not per group.
    Decimal-exact sums on BOTH sides of the > keep the threshold
    comparison engine-independent.""",
)


# --------------------------------------------------------------------------
# Q12 — shipping modes and order priority
# --------------------------------------------------------------------------

_TPCH_Q12 = """
    SELECT l_shipmode,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders
    JOIN lineitem_x ON o_orderkey = l_orderkey
    WHERE l_shipmode IN ('MAIL', 'SHIP')
      AND l_commitdate < l_receiptdate
      AND l_shipdate < l_commitdate
      AND l_receiptdate >= DATE '1996-01-01'
      AND l_receiptdate <  DATE '1997-01-01'
    GROUP BY l_shipmode
    ORDER BY l_shipmode
"""

sql_tpch_q12 = _make(
    "sql_tpch_q12",
    _TPCH_Q12,
    ("lineitem_x",),
    """TPC-H Q12 shape: conditional aggregation (pivot-style CASE
    sums) after a fact-fact join.  All four lineitem predicates are
    map-side on the derived columns, so the join input is pre-pruned;
    the aggregate is 2 groups.""",
)


# --------------------------------------------------------------------------
# Q16 — parts/supplier relationship (NOT IN subquery)
# --------------------------------------------------------------------------

_TPCH_Q16 = """
    SELECT p_brand, p_type, p_size,
           CAST(COUNT(DISTINCT ps_suppkey) AS BIGINT) AS supplier_cnt
    FROM partsupp
    JOIN part ON p_partkey = ps_partkey
    WHERE p_brand <> 'Brand#13' AND p_type <> 'PROMO'
      AND p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
      AND ps_suppkey NOT IN (SELECT s_suppkey FROM supplier_x
                             WHERE s_comment LIKE '%Customer%Complaints%')
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""

sql_tpch_q16 = _make(
    "sql_tpch_q16",
    _TPCH_Q16,
    ("partsupp", "supplier_x"),
    """TPC-H Q16 shape: COUNT(DISTINCT) per group plus a NOT IN
    anti-join against the complaints suppliers.  The anti side is
    supplier-sized (broadcastable); the distinct count is the only
    exchange beyond it.  NOT IN's three-valued NULL semantics are in
    play and must agree across engines (s_suppkey is non-null here, so
    the anti-join form is legal).""",
)


# --------------------------------------------------------------------------
# Q19 — discounted revenue (disjunctive multi-attribute predicate)
# --------------------------------------------------------------------------

_TPCH_Q19 = """
    SELECT CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                         AS DECIMAL(18,4))) AS DOUBLE) AS revenue
    FROM lineitem_x
    JOIN part_x ON p_partkey = l_partkey
    WHERE (p_brand IN ('Brand#1', 'Brand#2', 'Brand#3')
           AND p_container IN ('SM CASE', 'SM BOX')
           AND l_quantity >= 1 AND l_quantity <= 20
           AND p_size BETWEEN 1 AND 25
           AND l_shipmode IN ('AIR', 'REG AIR')
           AND l_shipinstruct = 'DELIVER IN PERSON')
       OR (p_brand IN ('Brand#10', 'Brand#11', 'Brand#12')
           AND p_container IN ('MED BAG', 'MED BOX')
           AND l_quantity >= 10 AND l_quantity <= 30
           AND p_size BETWEEN 1 AND 30
           AND l_shipmode IN ('AIR', 'REG AIR')
           AND l_shipinstruct = 'DELIVER IN PERSON')
       OR (p_brand IN ('Brand#20', 'Brand#21', 'Brand#22')
           AND p_container IN ('LG CASE', 'LG BOX')
           AND l_quantity >= 20 AND l_quantity <= 40
           AND p_size BETWEEN 1 AND 35
           AND l_shipmode IN ('AIR', 'REG AIR')
           AND l_shipinstruct = 'DELIVER IN PERSON')
"""

sql_tpch_q19 = _make(
    "sql_tpch_q19",
    _TPCH_Q19,
    ("lineitem_x", "part_x"),
    """TPC-H Q19 shape: a three-branch disjunction mixing part and
    lineitem attributes.  Catalyst extracts the common conjuncts
    (shipmode/shipinstruct) below the join and keeps the mixed OR as
    the join residual — the classic CNF-extraction test.  Single
    scalar output, decimal-exact.""",
)


# --------------------------------------------------------------------------
# Q20 — potential part promotion (nested IN + correlated scalar agg)
# --------------------------------------------------------------------------

_TPCH_Q20 = """
    SELECT s_name, s_suppkey
    FROM supplier
    JOIN nation ON s_nationkey = n_nationkey
    WHERE n_name IN ('NATION_3', 'NATION_4', 'NATION_5')
      AND s_suppkey IN (
        SELECT ps_suppkey FROM partsupp
        WHERE ps_partkey IN (SELECT p_partkey FROM part
                             WHERE p_name LIKE 'small%')
          AND ps_availqty > (
            SELECT 0.5 * SUM(l_quantity) FROM lineitem
            WHERE l_partkey = ps_partkey AND l_suppkey = ps_suppkey
              AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00')
      )
    ORDER BY s_name, s_suppkey
"""

sql_tpch_q20 = _make(
    "sql_tpch_q20",
    _TPCH_Q20,
    ("partsupp",),
    """TPC-H Q20 shape: the doubly-nested subquery — suppliers whose
    stock of 'small%' parts exceeds half a year's shipped quantity.
    The correlated SUM decorrelates to a (partkey, suppkey) aggregate
    joined back; a pair with NO shipments yields NULL and the > drops
    it (both engines share that three-valued outcome).  At scale:
    two key-partitioned aggregates and a semi-join, no re-scans.""",
)


# --------------------------------------------------------------------------
# Q21 — suppliers who kept orders waiting (EXISTS + NOT EXISTS)
# --------------------------------------------------------------------------

_TPCH_Q21 = """
    SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM supplier
    JOIN lineitem_x l1 ON s_suppkey = l1.l_suppkey
    JOIN orders ON o_orderkey = l1.l_orderkey
    JOIN nation ON s_nationkey = n_nationkey
    WHERE o_orderstatus = 'F'
      AND l1.l_receiptdate > l1.l_commitdate
      AND EXISTS (SELECT 1 FROM lineitem_x l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem_x l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_receiptdate > l3.l_commitdate)
      AND n_name IN ('NATION_1', 'NATION_2')
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 100
"""

sql_tpch_q21 = _make(
    "sql_tpch_q21",
    _TPCH_Q21,
    ("lineitem_x",),
    """TPC-H Q21 shape: the multi-correlated EXISTS / NOT EXISTS pair
    — the sole late supplier in a multi-supplier order.  Catalyst
    plans LeftSemi + LeftAnti on l_orderkey with a non-equi residual
    (l_suppkey <>), the hardest decorrelation in the suite; all three
    lineitem legs share one orderkey partitioning at scale.""",
)


# --------------------------------------------------------------------------
# Q22 — global sales opportunity (anti-join + uncorrelated AVG)
# --------------------------------------------------------------------------

_TPCH_Q22 = """
    SELECT cntrycode, CAST(COUNT(*) AS BIGINT) AS numcust,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
    FROM (
      SELECT substr(c_phone, 1, 2) AS cntrycode, c_acctbal, c_custkey
      FROM customer_x
      WHERE substr(c_phone, 1, 2) IN ('13', '17', '18', '23', '29', '30', '31')
        AND c_acctbal > (
          SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
                 / COUNT(*)
          FROM customer_x
          WHERE c_acctbal > 0.00
            AND substr(c_phone, 1, 2)
                IN ('13', '17', '18', '23', '29', '30', '31'))
        AND NOT EXISTS (SELECT 1 FROM orders
                        WHERE o_custkey = c_custkey
                          AND o_orderdate >= TIMESTAMP '2001-01-01 00:00:00')
    ) custsale
    GROUP BY cntrycode
    ORDER BY cntrycode
"""

sql_tpch_q22 = _make(
    "sql_tpch_q22",
    _TPCH_Q22,
    ("customer_x",),
    """TPC-H Q22 shape: above-average balances among customers with no
    recent orders (every fixture customer has SOME order, so the
    anti-join is date-restricted to stay non-degenerate — same plan
    shape, non-empty result).  The average is computed as
    decimal-exact SUM / COUNT so both engines derive the identical
    double threshold regardless of accumulation order; the NOT EXISTS
    is a LeftAnti on o_custkey.""",
)


# --------------------------------------------------------------------------
# graph_jaccard_neighbors — neighbor-set similarity (link prediction)
# --------------------------------------------------------------------------

_JACCARD_NEIGHBORS = """
    WITH deg AS (
      SELECT ps_suppkey AS s, COUNT(DISTINCT ps_partkey) AS n
      FROM partsupp GROUP BY ps_suppkey),
    pairs AS (
      SELECT a.ps_suppkey AS s_a, b.ps_suppkey AS s_b,
             COUNT(DISTINCT a.ps_partkey) AS n_inter
      FROM partsupp a
      JOIN partsupp b ON a.ps_partkey = b.ps_partkey
                     AND a.ps_suppkey < b.ps_suppkey
      GROUP BY a.ps_suppkey, b.ps_suppkey)
    SELECT s_a, s_b, n_inter, da.n AS n_a, db.n AS n_b,
           CAST(floor((1000.0 * n_inter) / (da.n + db.n - n_inter))
                AS BIGINT) AS jaccard_milli
    FROM pairs
    JOIN deg da ON da.s = s_a
    JOIN deg db ON db.s = s_b
    WHERE n_inter >= 3
    ORDER BY jaccard_milli DESC, s_a, s_b
"""


def _jaccard_part_sets(spark: SparkSession, sf_dir: str) -> "DataFrame":
    """(ps_partkey, ss): each part's sorted distinct supplier set."""
    register_ext_views(spark, sf_dir)
    return (
        spark.table("partsupp")
        .groupBy("ps_partkey")
        .agg(F.array_sort(F.collect_set("ps_suppkey")).alias("ss"))
    )


def _jaccard_from_sets(plist: "DataFrame") -> "DataFrame":
    """Degrees and candidate pairs off the (part -> supplier set)
    relation, joined into the scored, ordered result."""
    deg = (
        plist.select(F.explode("ss").alias("s"))
        .groupBy("s")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    pairs = (
        plist.select(
            F.explode(
                F.expr(
                    "flatten(transform(ss, (x, i) ->"
                    " transform(slice(ss, i + 2, size(ss)),"
                    " y -> struct(x AS s_a, y AS s_b))))"
                )
            ).alias("p")
        )
        .groupBy(F.col("p.s_a").alias("s_a"), F.col("p.s_b").alias("s_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
        .filter(F.col("n_inter") >= 3)
    )
    da = deg.select(F.col("s").alias("s_a"), F.col("n").alias("n_a"))
    db = deg.select(F.col("s").alias("s_b"), F.col("n").alias("n_b"))
    return (
        pairs.join(F.broadcast(da), "s_a")
        .join(F.broadcast(db), "s_b")
        .select(
            "s_a",
            "s_b",
            "n_inter",
            "n_a",
            "n_b",
            F.expr(
                "CAST(floor((1000.0 * n_inter) / (n_a + n_b - n_inter))"
                " AS BIGINT)"
            ).alias("jaccard_milli"),
        )
        .orderBy(F.desc("jaccard_milli"), "s_a", "s_b")
    )


def graph_jaccard_neighbors(spark: SparkSession, sf_dir: str) -> "DataFrame":
    """Neighbor-set Jaccard similarity over the supplier-part
    bipartite graph — the link-prediction / entity-similarity
    primitive (suppliers are 'similar' when their part catalogs
    overlap).  Candidate pairs come ONLY from suppliers sharing a
    part, which the fixture bounds at 4 suppliers per part — the same
    bounded-candidates discipline as the dedup family: no all-pairs
    expansion, ever.  The n_inter >= 3 floor prunes noise pairs before
    the degree join; jaccard_milli = floor(1000*|A∩B| / |A∪B|) stays
    integer-exact.

    r14 one-pass rewrite (§6 read-once, §2.3): the shared-SQL shape
    scanned partsupp THREE times (the deg COUNT DISTINCT plus both
    sides of the ps_partkey self-join) and paid two count-distinct
    exchanges plus a join exchange.  Instead, ONE aggregate builds the
    sealed (part -> sorted distinct supplier set) relation; degrees
    are an explode+count over it (count(*) = COUNT(DISTINCT part)
    because each part contributes a supplier at most once via the
    set), and candidate pairs are the per-part unordered combinations
    (each (s_a < s_b, part) appears exactly once, so count(*) =
    COUNT(DISTINCT part) there too — the self-join's distinct-count
    multiset, row for row).  The final expression text is byte-
    identical to the shared SQL's, so the floor-division semantics
    match the oracle exactly.  At 100 TB: one partsupp-derivation
    pass, one part-keyed exchange, two tiny pair/degree aggregates,
    two supplier-dimension broadcast joins (bounded by the supplier
    dimension — safe to hint).
    """
    return _jaccard_from_sets(
        # sealed: feeds degrees AND pairs
        _jaccard_part_sets(spark, sf_dir).localCheckpoint(eager=True)
    )


def _jaccard_onepass_plan(spark: SparkSession, sf_dir: str) -> "DataFrame":
    """Plan proxy: the key's plan with the supplier-set relation left
    unsealed (so both consumers inline its aggregate)."""
    return _jaccard_from_sets(_jaccard_part_sets(spark, sf_dir))


register(
    "graph_jaccard_neighbors",
    graph_jaccard_neighbors,
    _oracle(_JACCARD_NEIGHBORS, "partsupp"),
)
register_plan_proxy("graph_jaccard_neighbors", _jaccard_onepass_plan)
