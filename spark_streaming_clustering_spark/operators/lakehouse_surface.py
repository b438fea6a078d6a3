"""Lakehouse table-maintenance operators (round 4 additions).

Two warehouse-management shapes every 100 TB deployment ends up
needing, each oracle-checked:

- ``scd2_dimension``  — slowly-changing-dimension type-2 build from an
                        event log: change detection + validity
                        intervals + version numbers, i.e. the MERGE
                        history pattern behind every dimension table
                        fed by CDC.
- ``compaction_plan`` — the OPTIMIZE/compaction *planner*: bin-pack a
                        manifest of small files into target-size
                        output groups with a running-sum assignment.
                        Planning is manifest-level metadata (one row
                        per file), which is why the global-order
                        window here is bounded by manifest size — the
                        same driver-side-planning contract Delta and
                        Iceberg OPTIMIZE use.

Reference parity note: the reference (G-Stream) has a merge/upsert of
prototype nodes (batchStreamModel.scala:300-340, generalized by
``merge_upsert``); SCD2 extends that to *history-preserving* upsert
semantics.  Compaction has no reference counterpart — it is part of the
SURVEY.md section 2 scale-extension surface.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..sources.tables import (
    derived_layout_path,
    load_table,
    read_stable_parquet,
    write_once,
)
from .registry import register

# ==========================================================================
# scd2_dimension
# ==========================================================================


def scd2_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 slowly-changing dimension from the event log: per user,
    one row per *status change* (event_type treated as the tracked
    attribute), with ``valid_from`` / ``valid_to`` interval bounds,
    a per-user ``version`` ordinal and an ``is_current`` flag.

    Plan shape: one hash-partition by user_id serves every step — the
    change-detection lag, the post-filter lead and the row_number all
    sort on the same (user_id | ts, event_id) key, so Catalyst plans a
    single exchange end to end (the filter between the two window
    groups is within-partition).  At 100 TB this is the CDC-compaction
    shape: shuffle once by entity key, never by event.

    Determinism: ties on ts are broken by event_id in both engines.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = ev.withColumn("prev", F.lag("event_type").over(w)).filter(
        F.col("prev").isNull() | (F.col("prev") != F.col("event_type"))
    )
    return changes.select(
        "user_id",
        F.col("event_type").alias("status"),
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
        F.row_number().over(w).cast("bigint").alias("version"),
        F.lead("ts").over(w).isNull().alias("is_current"),
    )


register(
    "scd2_dimension",
    scd2_dimension,
    """
    WITH o AS (
      SELECT user_id, event_id, ts, event_type,
             lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev
      FROM events),
    c AS (SELECT * FROM o WHERE prev IS NULL OR prev <> event_type)
    SELECT user_id, event_type AS status, ts AS valid_from,
           lead(ts) OVER w AS valid_to,
           CAST(row_number() OVER w AS BIGINT) AS version,
           lead(ts) OVER w IS NULL AS is_current
    FROM c WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)


# ==========================================================================
# compaction_plan
# ==========================================================================

# Target output size for compacted files.  Estimated bytes per row and
# per-file overhead are fixed literals shared with the oracle SQL.
COMPACT_TARGET_BYTES = 65_536
BYTES_PER_ROW = 64
FILE_OVERHEAD_BYTES = 256


def compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction plan: treat each event hour as one input
    file (the classic streaming-ingest small-file pattern), estimate
    its size, and bin-pack files in time order into output groups of
    ~``COMPACT_TARGET_BYTES`` via an exclusive running sum.

    Assignment rule: a file joins the group its *preceding* cumulative
    bytes fall into (``(cum - bytes) div target``) — next-fit packing,
    deterministic, no driver loop.

    Scale note: stage 1 (the per-file stats aggregate) shuffles at
    file cardinality; stage 2's global-order window runs over the
    MANIFEST (one row per file, ~1e2 here, ~1e6-1e7 at 100 TB), not
    the data — exactly the metadata-sized planning step Delta/Iceberg
    OPTIMIZE performs driver-side.  The single-partition window is
    bounded by manifest size by construction.
    """
    ev = load_table(spark, sf_dir, "events")
    # hour index since epoch == the ingest-partition "file" id
    file_id = F.expr("unix_micros(cast(ts as timestamp)) div 3600000000")
    files = (
        ev.select(file_id.alias("file_id"))
        .groupBy("file_id")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .withColumn(
            "est_bytes",
            F.col("n_rows") * BYTES_PER_ROW + FILE_OVERHEAD_BYTES,
        )
    )
    w = Window.orderBy("file_id").rowsBetween(Window.unboundedPreceding, 0)
    cum = F.sum("est_bytes").over(w)
    # out_group derives from the SAME window expression as cum_bytes
    # (single source of truth for the frame); floor-division of
    # non-negative bigints via floor() is exact below 2^53.
    return files.select(
        "file_id",
        "n_rows",
        "est_bytes",
        cum.alias("cum_bytes"),
        F.floor((cum - F.col("est_bytes")) / F.lit(COMPACT_TARGET_BYTES))
        .cast("bigint")
        .alias("out_group"),
    )


register(
    "compaction_plan",
    compaction_plan,
    f"""
    WITH files AS (
      SELECT epoch_us(ts) // 3600000000 AS file_id,
             COUNT(*) AS n_rows
      FROM events GROUP BY 1),
    sized AS (
      SELECT file_id, CAST(n_rows AS BIGINT) AS n_rows,
             CAST(n_rows * {BYTES_PER_ROW} + {FILE_OVERHEAD_BYTES} AS BIGINT)
               AS est_bytes
      FROM files)
    SELECT file_id, n_rows, est_bytes,
           CAST(SUM(est_bytes) OVER w AS BIGINT) AS cum_bytes,
           (CAST(SUM(est_bytes) OVER w AS BIGINT) - est_bytes)
             // {COMPACT_TARGET_BYTES} AS out_group
    FROM sized WINDOW w AS (ORDER BY file_id ROWS UNBOUNDED PRECEDING)
    """,
)


# ==========================================================================
# cdc_apply (round 4)
# ==========================================================================


def cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply a CDC change feed to produce the final table state: the
    event log is interpreted as a keyed change stream (signup=insert,
    click/view/purchase=upsert, error=delete) and collapsed to
    latest-op-per-key with delete semantics — the Debezium/Delta
    CDF apply step that ``merge_upsert`` (no deletes, single batch)
    does not cover.

    Plan shape: ONE (user_id)-keyed exchange serves everything — the
    latest-op row_number AND the per-key change count are both window
    expressions over the same partitioning (the count uses the
    unbounded frame), so there is no second aggregate and no join.
    Latest-op pick is a row_number over (ts, event_id) DESC —
    deterministic under ties, and at 100 TB this is the standard
    shuffle-once compaction of a billion-row change feed.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.col("ts").cast("timestamp").alias("ts"),
        F.when(F.col("event_type") == "error", F.lit("delete"))
        .when(F.col("event_type") == "signup", F.lit("insert"))
        .otherwise(F.lit("upsert"))
        .alias("op"),
        "value",
    )
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    wall = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    latest = (
        ev.withColumn("rk", F.row_number().over(w))
        .withColumn("n_changes", F.count(F.lit(1)).over(wall))
        .filter(F.col("rk") == 1)
    )
    return latest.filter(F.col("op") != "delete").select(
        "user_id",
        F.col("op").alias("last_op"),
        F.col("ts").alias("last_ts"),
        F.round("value", 2).alias("value"),
        "n_changes",
    )


register(
    "cdc_apply",
    cdc_apply,
    """
    WITH feed AS (
      SELECT user_id, event_id, ts,
             CASE WHEN event_type = 'error' THEN 'delete'
                  WHEN event_type = 'signup' THEN 'insert'
                  ELSE 'upsert' END AS op,
             value
      FROM events),
    latest AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY user_id
                                     ORDER BY ts DESC, event_id DESC) AS rk
        FROM feed) WHERE rk = 1),
    ops AS (SELECT user_id, COUNT(*) AS n_changes FROM feed GROUP BY 1)
    SELECT l.user_id, l.op AS last_op, l.ts AS last_ts,
           round(l.value, 2) AS value, ops.n_changes
    FROM latest l JOIN ops USING (user_id)
    WHERE l.op <> 'delete'
    """,
)


# ==========================================================================
# snapshot_diff (round 4)
# ==========================================================================


def snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table-version reconciliation: diff two snapshots of the same
    per-user aggregate (week 1 vs weeks 1-2 of the event log) into
    added / removed / changed / unchanged rows — the audit primitive
    behind time travel, replication checks, and migration sign-off.

    Plan shape: both snapshots aggregate to user-cardinality, then ONE
    full outer equi-join on the key classifies every row; the census
    re-aggregates the (tiny) classification column.  At 100 TB each
    side is a partial-aggregated shuffle at key cardinality — the diff
    itself never touches raw data twice.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("timestamp").alias("ts"), "value"
    )

    def snap(upper_day: str) -> DataFrame:
        return (
            ev.filter(F.col("ts") < upper_day)
            .groupBy("user_id")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("value").cast("decimal(18,2)"))
                .cast("double")
                .alias("total"),
            )
        )

    a = snap("2024-01-08").alias("a")
    b = snap("2024-01-15").alias("b")
    j = a.join(b, F.col("a.user_id") == F.col("b.user_id"), "full_outer")
    status = (
        F.when(F.col("a.user_id").isNull(), F.lit("added"))
        .when(F.col("b.user_id").isNull(), F.lit("removed"))
        .when(
            (F.col("a.n") != F.col("b.n")) | (F.col("a.total") != F.col("b.total")),
            F.lit("changed"),
        )
        .otherwise(F.lit("unchanged"))
    )
    return j.select(
        F.coalesce(F.col("a.user_id"), F.col("b.user_id")).alias("user_id"),
        status.alias("status"),
        F.col("a.n").alias("n_v1"),
        F.col("b.n").alias("n_v2"),
        F.col("a.total").alias("total_v1"),
        F.col("b.total").alias("total_v2"),
    )


register(
    "snapshot_diff",
    snapshot_diff,
    """
    WITH a AS (
      SELECT user_id, COUNT(*) AS n,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM events WHERE ts < TIMESTAMP '2024-01-08' GROUP BY 1),
    b AS (
      SELECT user_id, COUNT(*) AS n,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM events WHERE ts < TIMESTAMP '2024-01-15' GROUP BY 1)
    SELECT COALESCE(a.user_id, b.user_id) AS user_id,
           CASE WHEN a.user_id IS NULL THEN 'added'
                WHEN b.user_id IS NULL THEN 'removed'
                WHEN a.n <> b.n OR a.total <> b.total THEN 'changed'
                ELSE 'unchanged' END AS status,
           a.n AS n_v1, b.n AS n_v2,
           a.total AS total_v1, b.total AS total_v2
    FROM a FULL OUTER JOIN b ON a.user_id = b.user_id
    """,
)


# ==========================================================================
# merge_into_upsert (round 5) — an EXECUTED merge over a writable table
# ==========================================================================

_MERGE_BUCKETS = 8


def merge_into_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO, executed: a change feed is applied to a REAL
    on-disk parquet table with all three clause kinds, and the checked
    result is the post-merge table state READ BACK FROM DISK — the
    lakehouse verb ``cdc_apply`` computes but does not execute
    (VERDICT r4 item 8).

    Target: ``customer`` materialized as a bucket-partitioned parquet
    table (bkt = c_custkey % 8), balances held as integer CENTS so the
    update arithmetic is exact on both engines.  Source: per-customer
    H2-2001 order revenue for custkeys in buckets {1, 3}, plus
    synthetic never-seen keys (k + 1_000_000 for k % 40 = 1 — the
    +1M shift is ≡ 0 mod 8, so inserts stay inside the affected
    buckets).  Clauses:

    - WHEN MATCHED AND n_orders >= 2 THEN DELETE   (churn-out)
    - WHEN MATCHED THEN UPDATE bal += rev_cents div 1000
    - WHEN NOT MATCHED THEN INSERT (k, rev_cents div 1000, 'NEW')

    Execution is partition-level COPY-ON-WRITE, the Iceberg/Delta
    strategy: the affected-bucket set is computed from the source
    (bounded by the bucket count — a metadata collect), ONLY those
    buckets are rewritten into a v2 directory, and the final table is
    {v1 untouched partitions} ∪ {v2 rewritten partitions} — exactly a
    manifest swap.  At 100 TB with time-correlated keys the untouched
    set dominates and the merge cost is proportional to touched data,
    not table size.  The full-outer join inside the rewrite is
    key-partitioned; nothing driver-side but the ≤8-row bucket list.
    """
    base = derived_layout_path(spark, "merge_tbl", sf_dir, "customer")
    v1, v2 = os.path.join(base, "v1"), os.path.join(base, "v2")

    # v1 snapshot: written once per (session, sf, fixture-fingerprint)
    write_once(
        v1,
        lambda: load_table(spark, sf_dir, "customer")
        .select(
            "c_custkey",
            F.round(F.col("c_acctbal") * 100).cast("bigint").alias("acctbal_cents"),
            "c_mktsegment",
            (F.col("c_custkey") % _MERGE_BUCKETS).alias("bkt"),
        )
        .write.partitionBy("bkt"),
    )

    src_base = (
        load_table(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= "2001-06-01")
            & ((F.col("o_custkey") % 8).isin(1, 3))
        )
        .groupBy(F.col("o_custkey").alias("k"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias(
                "rev_cents"
            ),
        )
    )
    src = src_base.unionByName(
        src_base.filter(F.col("k") % 40 == 1).withColumn(
            "k", F.col("k") + 1_000_000
        )
    ).withColumn("bkt", F.col("k") % _MERGE_BUCKETS)

    # affected-partition set: bounded by the bucket count (metadata)
    affected = sorted(
        r.bkt for r in src.select("bkt").distinct().collect()
    )

    tgt_aff = read_stable_parquet(spark, v1).filter(F.col("bkt").isin(affected))
    j = tgt_aff.alias("t").join(
        src.alias("s"), F.col("t.c_custkey") == F.col("s.k"), "full_outer"
    )
    matched = F.col("t.c_custkey").isNotNull() & F.col("s.k").isNotNull()
    merged = (
        j.filter(~(matched & (F.col("s.n_orders") >= 2)))  # DELETE clause
        .select(
            F.coalesce(F.col("t.c_custkey"), F.col("s.k")).alias("c_custkey"),
            F.when(
                matched,
                F.col("t.acctbal_cents")
                + F.expr("s.rev_cents div 1000"),  # UPDATE clause
            )
            .when(
                F.col("t.c_custkey").isNull(),
                F.expr("s.rev_cents div 1000"),  # INSERT clause
            )
            .otherwise(F.col("t.acctbal_cents"))
            .alias("acctbal_cents"),
            F.coalesce(F.col("t.c_mktsegment"), F.lit("NEW")).alias(
                "c_mktsegment"
            ),
            F.coalesce(F.col("t.bkt"), F.col("s.bkt")).alias("bkt"),
        )
    )
    # v2: only the rewritten buckets, fresh each call (deterministic)
    merged.write.mode("overwrite").partitionBy("bkt").parquet(v2)

    # manifest union: untouched v1 files + rewritten v2 files
    final = read_stable_parquet(spark, v1).filter(
        ~F.col("bkt").isin(affected)
    ).unionByName(spark.read.parquet(v2))
    return final.select("c_custkey", "acctbal_cents", "c_mktsegment")


register(
    "merge_into_upsert",
    merge_into_upsert,
    """
    WITH src AS (
      SELECT o_custkey AS k,
             CAST(COUNT(*) AS BIGINT) AS n_orders,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS rev_cents
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '2001-06-01 00:00:00'
        AND o_custkey % 8 IN (1, 3)
      GROUP BY 1),
    srcall AS (
      SELECT k, n_orders, rev_cents FROM src
      UNION ALL
      SELECT k + 1000000, n_orders, rev_cents FROM src WHERE k % 40 = 1),
    tgt AS (
      SELECT c_custkey,
             CAST(round(c_acctbal * 100) AS BIGINT) AS acctbal_cents,
             c_mktsegment
      FROM customer)
    SELECT t.c_custkey, t.acctbal_cents, t.c_mktsegment
    FROM tgt t LEFT JOIN srcall s ON t.c_custkey = s.k
    WHERE s.k IS NULL
    UNION ALL
    SELECT t.c_custkey,
           t.acctbal_cents + s.rev_cents // 1000 AS acctbal_cents,
           t.c_mktsegment
    FROM tgt t JOIN srcall s ON t.c_custkey = s.k
    WHERE s.n_orders < 2
    UNION ALL
    SELECT s.k AS c_custkey,
           s.rev_cents // 1000 AS acctbal_cents,
           'NEW' AS c_mktsegment
    FROM srcall s LEFT JOIN tgt t ON t.c_custkey = s.k
    WHERE t.c_custkey IS NULL
    """,
)
