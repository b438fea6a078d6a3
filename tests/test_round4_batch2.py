"""Semantic invariants of the round-4 batch-2 operators (sources, map
functions, iterative PageRank); its streaming keys are tested in
tests/test_streaming_surface.py."""

from __future__ import annotations

from tests.conftest import SF_SMOKE


def test_pagerank_matches_sequential_emulation(spark):
    """The unrolled distributed PageRank equals a pure-Python
    emulation of the same integer-scaled recurrence over the same
    symmetric edge set."""
    from collections import defaultdict

    from spark_streaming_clustering_spark.operators.analytics_surface import (
        PR_ITERS,
        PR_SCALE,
        PR_TOPK,
        pagerank_trade,
    )
    from spark_streaming_clustering_spark.sources.tables import load_table

    orders = {
        r.o_orderkey: r.o_custkey
        for r in load_table(spark, SF_SMOKE, "orders").collect()
    }
    pairs = set()
    for r in load_table(spark, SF_SMOKE, "lineitem").collect():
        ck = orders.get(r.l_orderkey)
        if ck is not None:
            pairs.add((ck * 2, r.l_suppkey * 2 + 1))
    out_edges = defaultdict(list)
    for c, s in pairs:
        out_edges[c].append(s)
        out_edges[s].append(c)
    rank = {n: PR_SCALE for n in out_edges}
    for _ in range(PR_ITERS):
        nxt = defaultdict(int)
        for u, vs in out_edges.items():
            contrib = rank[u] // len(vs)
            for v in vs:
                nxt[v] += contrib
        rank = {v: 150000 + (s * 85) // 100 for v, s in nxt.items()}
    expect = sorted(rank.items(), key=lambda kv: (-kv[1], kv[0]))[:PR_TOPK]
    rows = pagerank_trade(spark, SF_SMOKE).collect()
    assert [(r.node, r.rank) for r in rows] == expect
    for r in rows:
        assert r.kind == ("customer" if r.node % 2 == 0 else "supplier")


def test_source_roundtrips_preserve_corpus(spark):
    """Text-lines and binaryFile sources reproduce content-sensitive
    hashes of the original documents table."""
    from pyspark.sql import functions as F

    from spark_streaming_clustering_spark.operators.scale_surface import (
        _docs_subset,
        _roundtrip_check,
        source_binary_files,
        source_text_lines,
    )

    direct = {
        r.lang: (r.n, r.sum_chars, r.sum_hash)
        for r in _roundtrip_check(_docs_subset(spark, SF_SMOKE)).collect()
    }
    via_text = {
        r.lang: (r.n, r.sum_chars, r.sum_hash)
        for r in source_text_lines(spark, SF_SMOKE).collect()
    }
    assert via_text == direct and direct

    # binaryFile: each lang blob's byte length is the sum of its text
    # lengths plus the newline separators
    for r in source_binary_files(spark, SF_SMOKE).collect():
        n, sum_chars, _ = direct[r.lang]
        assert r.n_bytes == sum_chars + (n - 1)
        assert len(r.content_sha256) == 64


def test_map_funcs_counts_consistent(spark):
    """Map sizes and the relationalized key list agree; probing 'the'
    never exceeds the doc's total term count."""
    from spark_streaming_clustering_spark.operators.builtins_surface import (
        map_funcs_q,
    )

    rows = map_funcs_q(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert 0 <= r.n_freq_terms <= r.n_terms
        n_listed = len(r.freq_terms.split(",")) if r.freq_terms else 0
        assert n_listed == r.n_freq_terms
        assert r.n_the >= 0


def test_triangle_count_matches_sequential_emulation(spark):
    """Distributed a<b<c triangle enumeration equals a brute-force
    driver-side count over the same co-purchase edge set."""
    from collections import defaultdict
    from itertools import combinations

    from spark_streaming_clustering_spark.operators.analytics_surface import (
        graph_triangle_count,
    )
    from spark_streaming_clustering_spark.sources.tables import load_table

    by_order = defaultdict(set)
    for r in load_table(spark, SF_SMOKE, "lineitem").collect():
        by_order[r.l_orderkey].add(r.l_partkey)
    edges = set()
    for parts in by_order.values():
        for a, b in combinations(sorted(parts), 2):
            edges.add((a, b))
    adj = defaultdict(set)
    for a, b in edges:
        adj[a].add(b)
    tri_nodes = defaultdict(int)
    total = 0
    for a, b in edges:
        for c in adj[a] & adj[b]:  # a<b<c by construction of adj
            total += 1
            tri_nodes[a] += 1
            tri_nodes[b] += 1
            tri_nodes[c] += 1
    expect_top = sorted(tri_nodes.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    rows = graph_triangle_count(spark, SF_SMOKE).collect()
    assert (rows[0].node, rows[0].n_triangles) == (-1, total)
    assert [(r.node, r.n_triangles) for r in rows[1:]] == expect_top


def test_bfs_matches_networkless_emulation(spark):
    """4-hop multi-source BFS distances equal a queue-based emulation
    capped at 4 hops."""
    from collections import defaultdict, deque
    from itertools import combinations

    from spark_streaming_clustering_spark.operators.analytics_surface import (
        BFS_ITERS,
        BFS_SEED_MAX,
        graph_bfs,
    )
    from spark_streaming_clustering_spark.sources.tables import load_table

    by_order = defaultdict(set)
    for r in load_table(spark, SF_SMOKE, "lineitem").collect():
        by_order[r.l_orderkey].add(r.l_partkey)
    adj = defaultdict(set)
    for parts in by_order.values():
        for a, b in combinations(parts, 2):
            adj[a].add(b)
            adj[b].add(a)
    dist = {n: 0 for n in adj if n < BFS_SEED_MAX}
    q = deque(dist)
    while q:
        u = q.popleft()
        if dist[u] == BFS_ITERS:
            continue
        for v in adj[u]:
            if v not in dist:
                dist[v] = dist[u] + 1
                q.append(v)
    got = {r.node: r.dist for r in graph_bfs(spark, SF_SMOKE).collect()}
    assert got == dist and got


def test_not_in_poisoned_semantics(spark):
    """The NULL-poisoned NOT IN must return zero; the NOT EXISTS form
    returns the true complement; the null-free NOT IN agrees with it
    up to the nullif'd key."""
    from spark_streaming_clustering_spark.operators.builtins_surface import (
        subquery_not_in_q,
    )

    r = subquery_not_in_q(spark, SF_SMOKE).collect()[0]
    assert r.n_not_in_poisoned == 0
    assert r.n_not_exists > 0
    # clean NOT IN differs from NOT EXISTS only by part 1's treatment
    assert abs(r.n_not_in_clean - r.n_not_exists) <= 1


def test_pmi_scores_are_upper_bounded_by_min_count(spark):
    """PMI of a pair can never exceed log2(N_u^2 / (N_bg * c_ab)) given
    c_a, c_b >= c_ab; spot-check the top row against a direct
    recompute from corpus counts."""
    import math
    from collections import Counter

    from spark_streaming_clustering_spark.operators.quality_surface import (
        PMI_MIN_COUNT,
        PMI_TOPK,
        cooccurrence_pmi,
    )
    from spark_streaming_clustering_spark.sources.tables import load_table

    uni: Counter = Counter()
    big: Counter = Counter()
    for r in load_table(spark, SF_SMOKE, "documents").collect():
        t = r.text.split(" ")
        uni.update(t)
        big.update(f"{a} {b}" for a, b in zip(t, t[1:]))
    n_u, n_bg = sum(uni.values()), sum(big.values())

    def pmi(bg: str) -> float:
        a, b = bg.split(" ")
        return round(
            math.log2(big[bg]) + 2 * math.log2(n_u) - math.log2(n_bg)
            - math.log2(uni[a]) - math.log2(uni[b]),
            4,
        )

    rows = cooccurrence_pmi(spark, SF_SMOKE).collect()
    assert 0 < len(rows) <= PMI_TOPK
    expect = sorted(
        ((pmi(bg), bg) for bg, c in big.items() if c >= PMI_MIN_COUNT),
        key=lambda kv: (-kv[0], kv[1]),
    )[: len(rows)]
    assert [(r.pmi, r.bg) for r in rows] == expect
    for r in rows:
        assert r.c_ab >= PMI_MIN_COUNT


def test_gapfill_interpolate_semantics(spark):
    """Per type: the hour spine is contiguous min..max, observed rows
    equal the direct hourly mean, and every interpolated value lies
    between (inclusive) its neighboring observed values."""
    import datetime

    from spark_streaming_clustering_spark.operators.builtins_surface import (
        gapfill_interpolate,
    )

    rows = gapfill_interpolate(spark, SF_SMOKE).collect()
    assert rows
    by_type: dict = {}
    for r in rows:
        by_type.setdefault(r.event_type, []).append(r)
    one_hour = datetime.timedelta(hours=1)
    saw_interp = False
    for series in by_type.values():
        series.sort(key=lambda r: r.hour)
        for a, b in zip(series, series[1:]):
            assert b.hour - a.hour == one_hour  # contiguous spine
        obs_vals = [(i, r.value) for i, r in enumerate(series) if r.method == "obs"]
        obs_idx = [i for i, _ in obs_vals]
        for i, r in enumerate(series):
            assert r.value is not None
            if r.method == "interp":
                saw_interp = True
                prev_v = series[max(j for j in obs_idx if j < i)].value
                next_v = series[min(j for j in obs_idx if j > i)].value
                assert (
                    min(prev_v, next_v) - 1e-9
                    <= r.value
                    <= max(prev_v, next_v) + 1e-9
                )
            elif r.method == "nocb":
                assert all(j > i for j in obs_idx)
            elif r.method == "locf":
                assert all(j < i for j in obs_idx)
    assert saw_interp


def test_dynamic_session_matches_running_max_emulation(spark):
    """The dynamic-gap session windows equal a sequential emulation of
    the [ts, ts+gap) merge rule with per-event gaps."""
    import datetime
    from collections import defaultdict

    from spark_streaming_clustering_spark.operators.builtins_surface import (
        window_session_dynamic,
    )
    from spark_streaming_clustering_spark.sources.tables import load_table

    by_user = defaultdict(list)
    for e in load_table(spark, SF_SMOKE, "events").collect():
        by_user[e.user_id].append(e)
    expect = {}
    for uid, evs in by_user.items():
        evs.sort(key=lambda e: (e.ts, e.event_id))
        end = None
        cur = None
        for e in evs:
            gap = datetime.timedelta(
                minutes=30 if e.event_type == "error" else 120
            )
            if end is None or e.ts >= end:
                cur = e.ts
                expect[(uid, cur)] = [0, 0.0]
                end = e.ts + gap
            else:
                end = max(end, e.ts + gap)
            expect[(uid, cur)][0] += 1
            expect[(uid, cur)][1] += round(e.value, 2)
    got = {
        (r.user_id, r.sess_start): (r.n_events, round(r.total_value, 2))
        for r in window_session_dynamic(spark, SF_SMOKE).collect()
    }
    assert got == {
        k: (n, round(v, 2)) for k, (n, v) in expect.items()
    }


def test_constraint_quarantine_census_adds_up(spark):
    """clean + violated == total events; every synthesized corruption
    class fires; reason counts match a direct recompute."""
    import datetime

    from spark_streaming_clustering_spark.operators.scale_surface import (
        constraint_check_quarantine,
    )
    from spark_streaming_clustering_spark.sources.tables import load_table

    evs = load_table(spark, SF_SMOKE, "events").collect()
    expect: dict = {"user_id_null": 0, "value_range": 0, "ts_window": 0}
    n_clean = 0
    lo, hi = datetime.datetime(2024, 1, 1), datetime.datetime(2024, 2, 1)
    for e in evs:
        viol = []
        if e.user_id == 7:
            viol.append("user_id_null")
        v = e.value + 10000.0 if e.event_id % 89 == 0 else e.value
        if v < 0 or v > 1000.0:
            viol.append("value_range")
        if not (lo <= e.ts < hi):
            viol.append("ts_window")
        if viol:
            for r in viol:
                expect[r] += 1
        else:
            n_clean += 1
    got = {r.reason: r.n for r in constraint_check_quarantine(spark, SF_SMOKE).collect()}
    assert got.pop("__clean__") == n_clean
    assert got == {k: v for k, v in expect.items() if v > 0}
    assert got.get("user_id_null", 0) > 0 and got.get("value_range", 0) > 0


def test_recursive_cte_depth_equals_digit_count(spark):
    """In the div-10 hierarchy, a customer's depth is its decimal
    digit count minus one and its root is its leading digit."""
    from spark_streaming_clustering_spark.operators.spark4_surface import (
        recursive_cte_q,
    )

    rows = recursive_cte_q(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        s = str(r.custkey)
        assert r.depth == len(s) - 1
        assert r.root == int(s[0])


def test_collation_groups_union_cases(spark):
    """Case-insensitive groups must merge the upper/lower stripes:
    every group's n equals the total count of that lowercase name."""
    from collections import Counter

    from spark_streaming_clustering_spark.operators.spark4_surface import (
        collation_q,
    )
    from spark_streaming_clustering_spark.sources.tables import load_table

    names = Counter(
        r.p_name.lower()
        for r in load_table(spark, SF_SMOKE, "part").collect()
    )
    got = {r.name_ci: r.n for r in collation_q(spark, SF_SMOKE).collect()}
    assert got == dict(names)


def test_dynamic_overwrite_touches_only_restated_partitions(spark):
    """After the dynamic-overwrite restatement, untouched day
    directories contain exactly the same data files; restated ones were
    rewritten."""
    import glob
    import os
    import tempfile

    from pyspark.sql import functions as F

    from spark_streaming_clustering_spark.sources.tables import load_table

    tmp = os.path.join(tempfile.mkdtemp(prefix="dyn_test_"), "t")
    ev = load_table(spark, SF_SMOKE, "events").select(
        "event_id",
        "value",
        F.to_date(F.col("ts").cast("timestamp")).alias("event_date"),
    )
    ev.write.partitionBy("event_date").mode("overwrite").parquet(tmp)
    before = {
        d: sorted(glob.glob(os.path.join(d, "*.parquet")))
        for d in glob.glob(os.path.join(tmp, "event_date=*"))
    }
    (
        ev.filter(
            (F.col("event_date") >= "2024-01-08")
            & (F.col("event_date") <= "2024-01-14")
        )
        .withColumn("value", F.col("value") * 2.0)
        .write.partitionBy("event_date")
        .option("partitionOverwriteMode", "dynamic")
        .mode("overwrite")
        .parquet(tmp)
    )
    after = {
        d: sorted(glob.glob(os.path.join(d, "*.parquet")))
        for d in glob.glob(os.path.join(tmp, "event_date=*"))
    }
    assert set(before) == set(after)  # no partition added or dropped
    changed = unchanged = 0
    for d in before:
        day = d.rsplit("=", 1)[1]
        if "2024-01-08" <= day <= "2024-01-14":
            assert before[d] != after[d]  # rewritten
            changed += 1
        else:
            assert before[d] == after[d]  # bit-identical file set
            unchanged += 1
    assert changed > 0 and unchanged > 0


def test_arrow_kernel_handles_empty_and_sliced_lists(spark):
    """The mapInArrow kernel must be correct for empty vectors (0 sums,
    no div-by-zero) and for SLICED ListArrays (absolute offsets into
    the parent buffer) — shapes the production table never produces but
    Arrow is free to hand us."""
    import pyarrow as pa

    from spark_streaming_clustering_spark.operators.spark4_surface import (
        _arrow_stats,
    )

    lst = pa.array(
        [[9.0, 9.0], [3.0, 4.0], [], [1.0, 1.0, 1.0, 1.0]],
        type=pa.list_(pa.float32()),
    )
    sliced = lst.slice(1, 3)  # offsets window starts at 2, drops [9, 9]
    assert sliced.offsets[0].as_py() == 2  # precondition: truly sliced
    rb = pa.RecordBatch.from_arrays(
        [pa.array([10, 11, 12], type=pa.int64()), sliced],
        names=["vec_id", "embedding"],
    )
    [out] = list(_arrow_stats([rb]))
    got = {
        out.column(0)[i].as_py(): (
            out.column(1)[i].as_py(),
            out.column(2)[i].as_py(),
            out.column(3)[i].as_py(),
        )
        for i in range(out.num_rows)
    }
    # [3,4]: norm 5, mean 3.5 — would be wrong if the dropped [9,9]
    # prefix leaked in; []: all zeros, no div-by-zero; [1,1,1,1]: norm 2.
    assert got == {10: (2, 5.0, 3.5), 11: (0, 0.0, 0.0), 12: (4, 2.0, 1.0)}

    # all-empty batch (zero flat values)
    empty = pa.array([[], []], type=pa.list_(pa.float32()))
    rb2 = pa.RecordBatch.from_arrays(
        [pa.array([1, 2], type=pa.int64()), empty], names=["vec_id", "embedding"]
    )
    [out2] = list(_arrow_stats([rb2]))
    assert [out2.column(1)[i].as_py() for i in range(2)] == [0, 0]
    assert [out2.column(2)[i].as_py() for i in range(2)] == [0.0, 0.0]


def test_event_transitions_matches_emulation(spark):
    """Transition counts equal a sequential per-user replay and each
    source state's probabilities sum to 1."""
    from collections import Counter, defaultdict

    from spark_streaming_clustering_spark.operators.analytics_surface import (
        event_transitions,
    )
    from spark_streaming_clustering_spark.sources.tables import load_table

    by_user = defaultdict(list)
    for e in load_table(spark, SF_SMOKE, "events").collect():
        by_user[e.user_id].append(e)
    expect: Counter = Counter()
    for evs in by_user.values():
        evs.sort(key=lambda e: (e.ts, e.event_id))
        for a, b in zip(evs, evs[1:]):
            expect[(a.event_type, b.event_type)] += 1
    rows = event_transitions(spark, SF_SMOKE).collect()
    assert {(r.from_type, r.to_type): r.n for r in rows} == dict(expect)
    per_src = defaultdict(float)
    for r in rows:
        per_src[r.from_type] += r.p
    for s, total in per_src.items():
        assert abs(total - 1.0) < 1e-4, (s, total)


def test_anomaly_mad_census_matches_numpy(spark):
    """Median, MAD and outlier counts equal a numpy recompute."""
    import numpy as np

    from spark_streaming_clustering_spark.operators.analytics_surface import (
        MAD_K,
        anomaly_mad,
    )
    from spark_streaming_clustering_spark.sources.tables import load_table

    vals: dict = {}
    for e in load_table(spark, SF_SMOKE, "events").collect():
        vals.setdefault(e.event_type, []).append(e.value)
    rows = {r.event_type: r for r in anomaly_mad(spark, SF_SMOKE).collect()}
    assert set(rows) == set(vals)
    for t, xs in vals.items():
        a = np.asarray(xs)
        med = float(np.median(a))
        mad = float(np.median(np.abs(a - med)))
        r = rows[t]
        assert r.med == round(med, 6)
        assert r.mad == round(mad, 6)
        assert r.n == len(xs)
        assert r.n_outliers == int((np.abs(a - med) > MAD_K * mad).sum())


def test_sql_ddl_roundtrip_and_crosstab_smoke(spark):
    """DDL path runs twice in one session (idempotent catalog state);
    crosstab covers all five market segments at the smoke sf and its
    cell sums equal the join cardinality."""
    from spark_streaming_clustering_spark.operators.scale_surface import (
        sql_ddl_roundtrip,
        stat_crosstab,
    )
    from spark_streaming_clustering_spark.sources.tables import load_table

    r1 = {r.lang: (r.n, r.sum_chars) for r in sql_ddl_roundtrip(spark, SF_SMOKE).collect()}
    r2 = {r.lang: (r.n, r.sum_chars) for r in sql_ddl_roundtrip(spark, SF_SMOKE).collect()}
    assert r1 == r2 and "xx" in r1 and r1["xx"] == (2, 33)

    rows = stat_crosstab(spark, SF_SMOKE).collect()
    assert rows
    segs = ["automobile", "building", "furniture", "household", "machinery"]
    total = sum(getattr(r, s) for r in rows for s in segs)
    ev = load_table(spark, SF_SMOKE, "events").select("user_id")
    cust = load_table(spark, SF_SMOKE, "customer").select("c_custkey")
    expected = ev.join(cust, ev.user_id == cust.c_custkey).count()
    assert total == expected


def test_explode_outer_both_branches_emit(spark):
    """Calibration pin: the >= 8 token filter must keep the inner
    explode branch non-empty AND leave some docs empty (NULL rows in
    the outer branch) — the whole point of the key."""
    from spark_streaming_clustering_spark.operators.builtins_surface import (
        explode_outer_q,
    )

    rows = {r.variant: r for r in explode_outer_q(spark, SF_SMOKE).collect()}
    assert rows["explode"].n_rows > 0
    assert rows["explode_outer"].n_null_rows > 0
    assert rows["explode_outer"].n_rows == rows["explode"].n_rows + rows[
        "explode_outer"
    ].n_null_rows
