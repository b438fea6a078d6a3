"""Physical-plan quality guards (the 100 TB story in SCALE.md, enforced).

A correctness-green query can still be a scale regression — e.g. a
dropped broadcast hint turning a bounded cross join into a cartesian
product, or a filter no longer reaching the parquet scan.  These tests
pin the plan features that matter."""

from __future__ import annotations

import pytest

from spark_streaming_clustering_spark.operators.registry import EAGER, QUERIES
from spark_streaming_clustering_spark.plans import formatted_plan
from tests.conftest import SF_ORACLE


def _plan(spark, key: str) -> str:
    return formatted_plan(QUERIES[key](spark, SF_ORACLE))


def test_no_cartesian_product_anywhere(spark):
    """No query in the surface may plan an unbroadcast cartesian
    product; bounded cross joins must broadcast the small side
    (BroadcastNestedLoopJoin is the intended shape)."""
    offenders = []
    for k in QUERIES:
        if k in EAGER:
            continue
        if "CartesianProduct" in _plan(spark, k):
            offenders.append(k)
    assert offenders == []


def test_flagship_plan_shape(spark):
    plan = _plan(spark, "flagship_revenue")
    # all four dimension joins broadcast; no sort-merge join
    assert plan.count("BroadcastHashJoin") >= 4
    assert "SortMergeJoin" not in plan
    # the shipdate filter reaches the parquet scan
    assert "LessThan(l_shipdate" in plan
    # lineitem scan is column-pruned (no l_comment-ish full reads)
    assert "l_orderkey:bigint,l_extendedprice:double,l_discount:double" in plan


@pytest.mark.parametrize(
    "key", ["dedup_minhash_lsh", "dedup_minhash_lsh_capped", "dedup_incremental"]
)
def test_minhash_lsh_single_pipeline(spark, key):
    import re

    # The shared signature relation is session-cached (_idioms._signatures);
    # if an earlier test already materialized it, the plan shows an
    # InMemoryTableScan instead of the parquet scan this test pins.
    # Clear it so the assertion sees the cold-session plan.
    from spark_streaming_clustering_spark.operators._session_cache import (
        clear_all,
    )

    clear_all()
    plan = _plan(spark, key)
    # "(n) Node" detail headers count each physical node exactly once:
    # the corpus is scanned exactly once
    assert len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M)) == 1
    # md5 hoisted below the signature aggregate: the shingle hash is
    # computed once per row in a Project, not in each of the 16 min()s
    assert re.search(r"^\(\d+\) Project\nOutput [^\n]*md5\(cast\(sh#", plan, re.M)
    if key == "dedup_minhash_lsh":
        # the signature aggregate + bucket aggregate + distinct: at most
        # 3 shuffle exchanges
        assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) <= 3


def test_ann_queries_broadcast_the_small_side(spark):
    for k in ("ann_bruteforce_topk", "ann_ivf_topk"):
        plan = _plan(spark, k)
        assert "BroadcastExchange" in plan, k


def test_groupby_partial_aggregation(spark):
    """Catalyst plans partial->final hash aggregation (map-side combine,
    the optimization the reference hand-codes with aggregateByKey)."""
    plan = _plan(spark, "groupby_agg_sums")
    assert plan.count("HashAggregate") >= 2
    assert "partial_" in plan


def test_bucketed_join_has_no_join_side_shuffle(spark):
    """join_bucketed: both sides read storage buckets in place — the
    sort-merge join gets its partitioning from the table layout, so no
    Exchange on either join key; the only shuffles belong to the final
    aggregate/sort on o_orderpriority."""
    import re

    plan = _plan(spark, "join_bucketed")
    assert "SortMergeJoin" in plan
    assert plan.count("Bucketed: true") == 2
    assert not re.search(r"hashpartitioning\((l_orderkey|o_orderkey)", plan)


def test_salted_join_key_includes_salt(spark):
    """join_salted_skew: the physical join key must be the composite
    (skew_key, salt) — that's what splits the hot key across reducers."""
    import re

    plan = _plan(spark, "join_salted_skew")
    assert re.search(r"keys \[2\]: \[skew_key#\d+L?, salt#\d+", plan)


def test_partitioned_scan_prunes_directories(spark):
    """partitioned_write_prune: the date predicate must land in
    PartitionFilters (directory-level pruning), not in a post-scan
    Filter over all files."""
    plan = _plan(spark, "partitioned_write_prune")
    assert "PartitionFilters" in plan
    assert "event_date" in plan.split("PartitionFilters", 1)[1][:200]


def test_asof_join_single_shuffle(spark):
    """The as-of join must stay a union + one window shuffle — not an
    inequality join (BroadcastNestedLoop/range explosion)."""
    import re

    plan = _plan(spark, "join_asof")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    exchanges = re.findall(r"^\(\d+\) Exchange", plan, re.M)
    assert len(exchanges) <= 1
    assert "Window" in plan


def test_exists_subquery_decorrelates_to_semi_join(spark):
    """Correlated EXISTS must become a semi join, not per-row
    re-execution of the subquery."""
    plan = _plan(spark, "subquery_exists_q")
    assert "LeftSemi" in plan


def test_grouping_sets_single_scan_single_expand(spark):
    """GROUPING SETS is one Expand + one partial/final aggregate over a
    single scan — the set list must not fan out into per-set scans."""
    import re

    plan = _plan(spark, "grouping_sets_q")
    assert len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M)) == 1
    assert plan.count("Expand") >= 1
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 1


def test_ntile_single_partition_shuffle(spark):
    """Distribution windows shuffle once on the partition key — never a
    global single-partition sort."""
    import re

    plan = _plan(spark, "ntile_q")
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 1
    assert "hashpartitioning(o_orderpriority" in plan
    assert "SinglePartition" not in plan


def test_outer_join_preaggregates_sides(spark):
    """join_outer_q joins two nation-cardinality aggregates: the
    FullOuter join must sit above per-side partial/final aggregates."""
    plan = _plan(spark, "join_outer_q")
    assert "FullOuter" in plan
    assert plan.count("HashAggregate") >= 4


def test_tf_idf_persists_shared_tf(spark):
    """tf feeds both df and the join-back; the persist must collapse
    the duplicate corpus scans (3 scans without it)."""
    import re

    plan = _plan(spark, "tf_idf_topk")
    assert "InMemoryTableScan" in plan
    # remaining parquet scans: the persisted tf build + the N count
    assert len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M)) <= 2


def test_bloom_prune_filters_before_the_join(spark):
    """The bloom predicate must reach the lineitem scan side and prune a
    meaningful fraction of fact rows.  No-false-negatives (result equals
    the exact join) is covered by the oracle; this pins that the prune
    is real, not a pass-through."""
    from pyspark.sql import functions as F

    from spark_streaming_clustering_spark.operators import quality_surface as qs
    from spark_streaming_clustering_spark.sources.tables import load_table

    plan = _plan(spark, "bloom_join_prune")
    assert "BroadcastHashJoin" in plan
    assert "xxhash64" in plan  # bloom position checks present as a filter

    orders = load_table(spark, SF_ORACLE, "orders")
    dim = orders.filter(F.col("o_orderpriority") == "1-URGENT").select("o_orderkey")
    dim_frac = dim.count() / orders.count()

    li = load_table(spark, SF_ORACLE, "lineitem")
    bitset = qs.build_bloom(dim, "o_orderkey")
    kept = li.filter(qs.might_contain(bitset, "l_orderkey")).count()
    # survivors ~ true joining fraction plus small false-positive
    # overhead — far below 1.0
    assert kept / li.count() < min(1.0, dim_frac + 0.15)


def test_sessionize_single_exchange(spark):
    """Both windows and the session aggregate share the user_id
    partitioning — the whole query must plan exactly ONE shuffle."""
    import re

    plan = _plan(spark, "sessionize_events")
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 1


def test_chunk_documents_no_shuffle(spark):
    """Chunking is map-side only: sequence + explode + substring, no
    Exchange anywhere."""
    import re

    plan = _plan(spark, "chunk_documents")
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 0


def test_bm25_persists_shared_tf(spark):
    """bm25 reuses the persisted tf for df, dl AND the join-back — the
    corpus is tokenized once."""
    plan = _plan(spark, "bm25_topk")
    assert "InMemoryTableScan" in plan


def test_lev_verify_is_equi_join(spark):
    """The blocked candidate join must be an equi join on
    (lang, length-bucket) — a nested-loop over the verify set would be
    the O(n^2) shape blocking exists to avoid."""
    plan = _plan(spark, "dedup_lev_verify")
    assert ("BroadcastHashJoin" in plan) or ("SortMergeJoin" in plan)
    assert "BroadcastNestedLoopJoin" not in plan


def test_cms_partial_aggregation(spark):
    """CMS counters must partial-aggregate map-side (the mergeability
    story): HashAggregate appears as partial+final pairs."""
    plan = _plan(spark, "cms_sketch_q")
    assert plan.count("HashAggregate") >= 4


def test_scd2_single_exchange(spark):
    """Change-detection lag, post-filter lead and row_number all sort
    on the same (user_id | ts, event_id) key — the whole SCD2 build
    must plan exactly ONE shuffle."""
    import re

    plan = _plan(spark, "scd2_dimension")
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 1


def test_dedup_paragraph_equi_joins_only(spark):
    """The block doc-frequency join-back must stay an equi-join on the
    block key (broadcast at this sf via AQE is fine); never a nested
    loop or cartesian expansion."""
    plan = _plan(spark, "dedup_paragraph")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_cdc_apply_single_exchange(spark):
    """Latest-op pick and the change count share one (user_id)
    partitioning — CDC apply must plan exactly ONE shuffle."""
    import re

    plan = _plan(spark, "cdc_apply")
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 1


def test_snapshot_diff_join_reuses_agg_partitioning(spark):
    """Both snapshots aggregate on user_id and the full outer join
    reuses that partitioning — two exchanges total (one per side),
    none for the join itself."""
    import re

    plan = _plan(spark, "snapshot_diff")
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 2


def test_tpch_q5_star_join_shape(spark):
    """Q5: every dimension broadcasts; the only shuffle is the final
    nation-cardinality aggregate (one Exchange pair max under AQE)."""
    import re

    plan = _plan(spark, "sql_tpch_q5")
    assert plan.count("BroadcastHashJoin") >= 5
    assert "SortMergeJoin" not in plan
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) <= 2


def test_tpch_q7_broadcasts_both_nation_roles(spark):
    """Q7's twice-joined nation dimension broadcasts in BOTH roles and
    the ship-date range reaches the lineitem scan."""
    plan = _plan(spark, "sql_tpch_q7")
    assert plan.count("BroadcastHashJoin") >= 4
    assert "SortMergeJoin" not in plan
    assert "GreaterThanOrEqual(l_shipdate" in plan


def test_tpch_q10_takeordered_no_global_sort(spark):
    """Q10's top-20 rides TakeOrderedAndProject over the aggregate —
    no full Sort node materializes the customer ranking."""
    plan = _plan(spark, "sql_tpch_q10")
    assert "TakeOrderedAndProject" in plan
    assert "GreaterThanOrEqual(o_orderdate" in plan


def test_rank_family_single_window_node(spark):
    """All five rank-family functions (incl. the explicit-frame
    last_value) fuse into ONE Window node over ONE
    S(o_orderpriority) exchange — the single-sort plan the 100 TB
    version wants."""
    plan = _plan(spark, "window_rank_family_q")
    assert plan.count("Window (") == 1
    assert plan.count("+- Exchange") == 1


def test_dpp_fact_scan_has_runtime_pruning_filter(spark):
    """The DPP fact scan carries a dynamicpruning partition filter even
    though the week predicate is on the calendar dimension."""
    df = QUERIES["dynamic_partition_pruning"](spark, SF_ORACLE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower()


def test_bitmap_distinct_partial_aggregation(spark):
    """The bitmap distinct-count aggregates partial+final (map-side
    bitmap construction before the group exchange)."""
    plan = _plan(spark, "bitmap_funcs_q")
    assert "partial_bitmap_construct_agg" in plan.lower() or "HashAggregate" in plan


def test_bpe_pairs_aggregate_over_vocabulary(spark):
    """BPE pair counting aggregates the corpus to the word vocabulary
    first (S(word)), then explodes pairs over vocab rows — two hash
    aggregates, and the final top-k is a TakeOrdered, not a sort."""
    plan = _plan(spark, "bpe_pair_counts")
    assert "TakeOrderedAndProject" in plan
    assert plan.count("+- Exchange") == 2


def test_distribute_sort_by_local_sort_only(spark):
    """DISTRIBUTE BY/SORT BY plans one hash exchange and a LOCAL sort
    (global=false) — never a range exchange (which a global ORDER BY
    would add)."""
    plan = _plan(spark, "distribute_sort_by_q")
    assert plan.count("+- Exchange") == 1
    assert "rangepartitioning" not in plan
    # Sort node arguments end with ", false, 0" = global=false
    assert ", false, 0" in plan


def test_pretrain_e2e_single_pass_funnel(spark):
    """The end-to-end corpus funnel computes all stage counts from ONE
    flagged relation: exactly 3 corpus scans (flag base, minhash
    shingles, quality tokenizer) — the naive stage-per-subquery form
    measured 10."""
    import re

    plan = _plan(spark, "pipeline_pretrain_e2e")
    assert len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M)) == 3
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) <= 8


def test_tpch_q8_all_broadcast_star(spark):
    """Q8's 8-way star broadcasts every dimension (nation twice); the
    only exchange is the year-cardinality aggregate."""
    plan = _plan(spark, "sql_tpch_q8")
    assert plan.count("BroadcastHashJoin") >= 6
    assert "SortMergeJoin" not in plan


def test_tpch_q13_outer_join_preserved(spark):
    """Q13's join-condition filter must keep the join LEFT OUTER —
    a WHERE placement would plan an Inner join and silently drop
    zero-order customers."""
    plan = _plan(spark, "sql_tpch_q13")
    assert "LeftOuter" in plan


def test_tpch_q17_decorrelates_no_rescan_per_row(spark):
    """Q17's correlated scalar average decorrelates to a per-part
    aggregate join-back: exactly two lineitem scans (probe + average),
    never a per-row subquery re-execution shape."""
    import re

    plan = _plan(spark, "sql_tpch_q17")
    scans = re.findall(r"^\(\d+\) Scan parquet", plan, re.M)
    assert len(scans) <= 3  # lineitem x2 + part
    assert "BroadcastNestedLoopJoin" not in plan


def test_tpch_q2_min_subquery_decorrelates(spark):
    """Q2's correlated scalar MIN decorrelates to a per-part aggregate
    joined back on ps_partkey — never a per-row partsupp re-scan (the
    plan must contain a HashAggregate computing min(ps_supplycost) and
    no nested-loop join)."""
    plan = _plan(spark, "sql_tpch_q2")
    assert "min(ps_supplycost" in plan
    assert "CartesianProduct" not in plan


def test_tpch_q21_semi_anti_pair(spark):
    """Q21's EXISTS / NOT EXISTS pair plans as LeftSemi + LeftAnti on
    l_orderkey with the l_suppkey <> residual — the decorrelation no
    other key exercises."""
    plan = _plan(spark, "sql_tpch_q21")
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_tpch_q22_anti_join_shape(spark):
    """Q22's NOT EXISTS plans as a LeftAnti on o_custkey, and the
    uncorrelated average is a scalar subquery evaluated once."""
    plan = _plan(spark, "sql_tpch_q22")
    assert "LeftAnti" in plan
    assert "Subquery" in plan or "subquery" in plan


def test_plans_helpers_read_real_plan(spark):
    """The plans package helpers parse a live formatted plan: the
    flagship query pushes its date filter to the scan and broadcasts
    dimensions."""
    from spark_streaming_clustering_spark import plans

    p = _plan(spark, "flagship_revenue")
    assert plans.count_scans(p) >= 2
    assert plans.has_broadcast_join(p)
    assert not plans.has_cartesian(p)
    assert any("l_shipdate" in f or "IsNotNull" in f for f in plans.pushed_filters(p))


def test_range_join_interval_is_bucketed_equi_join(spark):
    """range_join_interval must NEVER plan an inequality join: the
    bucketed recipe meets candidates in a (user_id, bucket) equi-join.
    A regression to a raw theta-join would plan BroadcastNestedLoopJoin
    (or CartesianProduct) — the exact scale-killer the tiling avoids."""
    plan = _plan(spark, "range_join_interval")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # the overlap predicate is applied AFTER an equi-join on the tile
    assert "Join" in plan


def test_sssp_relaxation_count(spark):
    """Bellman-Ford unrolls exactly SSSP_ITERS relax rounds: each round
    is one frontier-x-edges join; more joins would mean lineage blowup,
    fewer would change the answer."""
    from spark_streaming_clustering_spark.operators.analytics_surface import (
        SSSP_ITERS,
    )

    plan = _plan(spark, "sssp_bellman_ford")
    # SSSP_ITERS relax joins; the edge list itself is built from one
    # self-join of lineitem (the co-purchase edge construction).
    assert plan.count("SortMergeJoin") + plan.count(
        "BroadcastHashJoin"
    ) + plan.count("ShuffledHashJoin") >= SSSP_ITERS


def test_ngram_counts_takeordered_top20(spark):
    """The bigram top-20 rides TakeOrderedAndProject (per-partition
    partial top-k) — the counts relation (vocabulary^2 keys at scale)
    never funnels into a single-partition global sort; the rank window
    runs after the limit, over 20 rows."""
    plan = _plan(spark, "ngram_counts")
    assert "TakeOrderedAndProject" in plan
    # exactly one Window node, and it sits above the TakeOrdered
    assert plan.count("Window (") == 1
    assert plan.index("Window (") < plan.index("TakeOrderedAndProject")


def test_plan_audit_eager_set_in_lockstep():
    """scripts/plan_audit.py skips the same keys as the sweeps here (both
    read ``registry.EAGER``, so they cannot diverge), and its
    fingerprint() counts the node types the drift gate compares."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "plan_audit",
        os.path.join(os.path.dirname(__file__), "..", "scripts", "plan_audit.py"),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    # fingerprint() parses a representative formatted plan
    fp = mod.fingerprint(
        "(1) Scan parquet t\n(2) Exchange\n(3) BroadcastExchange\n"
        "(4) BroadcastHashJoin\n(5) Window\n(6) Sort\nTakeOrderedAndProject\n"
    )
    assert fp["shuffle_exchanges"] == 1
    assert fp["broadcast_exchanges"] == 1
    assert fp["scans"] == 1
    assert fp["take_ordered"] == 1
    assert fp["cartesian"] == 0


def test_lang_id_profile_broadcast_no_corpus_distinct(spark):
    """lang_id_ngram joins the bounded per-language profile BROADCAST
    against the raw token stream — non-profile tokens die map-side.
    The scale regression this pins against: a distinct() over every
    corpus token (an exchange carrying the whole tokenized corpus)
    upstream of the profile join."""
    plan = _plan(spark, "lang_id_ngram")
    assert "BroadcastHashJoin" in plan
    # the overlap count is a distinct-aggregate AFTER the join, so the
    # only corpus-sized shuffles are the profile build + overlap agg
    from spark_streaming_clustering_spark.plans import count_exchanges

    assert count_exchanges(plan) <= 5


def test_cms_single_scan_shape(spark):
    """The count-min sketch derives its 4 (row, pos) cells from the
    ALREADY-AGGREGATED per-key relation — no per-depth union of event
    scans (the retired shape read events 9x), and the counter table
    joins back broadcast."""
    plan = _plan(spark, "cms_sketch_q")
    from spark_streaming_clustering_spark.plans import count_scans

    assert count_scans(plan) <= 2  # static plan; AQE reuses the shuffle
    assert "Union" not in plan
    assert "BroadcastHashJoin" in plan
