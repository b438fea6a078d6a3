"""Round-6 extras: skyline_pareto.

Brute-force property checks at sf0.001 (the oracle gate at sf0.01 is
the primary check; these pin SEMANTICS against an independent Python
reimplementation so an engine-coincident oracle bug can't hide), plus
plan-shape pins for the scale claims."""

from __future__ import annotations

import math

import duckdb
import pytest

from spark_streaming_clustering_spark.operators.extras_surface import skyline_pareto
from spark_streaming_clustering_spark.operators.registry import ORACLES
from spark_streaming_clustering_spark.plans import formatted_plan
from spark_streaming_clustering_spark.sources.tables import load_table
from tests.util_oracle import duck_con


def test_skyline_matches_bruteforce(spark, sf_dir):
    pts = [
        (r.p_partkey, int(math.floor(r.p_retailprice * 100 + 0.5)), int(r.p_size))
        for r in load_table(spark, sf_dir, "part")
        .select("p_partkey", "p_retailprice", "p_size")
        .collect()
    ]
    expect = {
        (k, pc, sz)
        for (k, pc, sz) in pts
        if not any(
            qc <= pc and qs >= sz and (qc < pc or qs > sz)
            for (_, qc, qs) in pts
        )
    }
    got = {tuple(r) for r in skyline_pareto(spark, sf_dir).collect()}
    assert got == expect and len(got) >= 1


def test_skyline_frontier_is_monotone(spark, sf_dir):
    """On the frontier, strictly increasing price must mean strictly
    increasing size (otherwise the cheaper point would dominate)."""
    rows = skyline_pareto(spark, sf_dir).collect()  # ordered by price
    for a, b in zip(rows, rows[1:]):
        assert a.price_cents <= b.price_cents
        if a.price_cents < b.price_cents:
            assert b.size > a.size


def test_skyline_plan_bucket_parallel(spark, sf_dir):
    plan = formatted_plan(skyline_pareto(spark, sf_dir))
    # prefix-maxima relation joined back via broadcast, not shuffle
    assert "BroadcastExchange" in plan
    # no quadratic path: the NOT EXISTS formulation would plan a
    # nested-loop/cartesian; the sweep must not
    assert "CartesianProduct" not in plan


# --- round-7 extras: shard_pack_two_phase / hll_union_rollup -------------


def test_two_phase_pack_equals_sequential_spec(spark, sf_dir):
    """The executed two-phase pack must reproduce the one-window
    sequential spec exactly (contiguous pids preserve doc_id order)."""
    from spark_streaming_clustering_spark.operators.extras_surface import (
        shard_pack_two_phase,
    )
    from spark_streaming_clustering_spark.operators.pipeline_surface import (
        shard_by_token_budget,
    )

    two = {
        (r.doc_id, r.lang, r.n_tok, r.shard)
        for r in shard_pack_two_phase(spark, sf_dir).collect()
    }
    one = {
        (r.doc_id, r.lang, r.n_tok, r.shard)
        for r in shard_by_token_budget(spark, sf_dir).collect()
    }
    assert two == one and len(two) > 0


def test_two_phase_pack_plan_is_split_parallel(spark, sf_dir):
    """The scale claims: data-sized window partitioned by (lang, pid),
    offsets joined back via broadcast, no unpartitioned window."""
    from spark_streaming_clustering_spark.operators.extras_surface import (
        shard_pack_two_phase,
    )

    plan = formatted_plan(shard_pack_two_phase(spark, sf_dir))
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan
    # both windows carry a partition spec (no global single-task window)
    import re

    for m in re.finditer(r"Arguments: \[[^\]]*windowspecdefinition\(([^)]*)\)", plan):
        assert "lang" in m.group(1)


def test_hll_union_rollup_contract(spark, sf_dir):
    """ALL row present; n_sketches add up; every estimate in contract;
    the layout write is once-per-session (guarded by _SUCCESS)."""
    import os

    from spark_streaming_clustering_spark.operators.extras_surface import (
        _hll_daily_layout,
        hll_union_rollup,
    )

    rows = {r.event_type: r for r in hll_union_rollup(spark, sf_dir).collect()}
    assert "ALL" in rows and len(rows) > 1
    assert all(r.est_within_5pct for r in rows.values())
    per_type_sum = sum(
        r.n_sketches for t, r in rows.items() if t != "ALL"
    )
    assert rows["ALL"].n_sketches == per_type_sum
    # exact companions: ALL distinct users <= sum over types (overlap)
    assert rows["ALL"].exact_nd <= sum(
        r.exact_nd for t, r in rows.items() if t != "ALL"
    )
    out = _hll_daily_layout(spark, sf_dir)
    mtime = os.path.getmtime(os.path.join(out, "_SUCCESS"))
    hll_union_rollup(spark, sf_dir)  # second call must not rewrite
    assert os.path.getmtime(os.path.join(out, "_SUCCESS")) == mtime


def test_hll_union_survives_write_roundtrip(spark, sf_dir):
    """Merging sketches read back from parquet must give the same
    estimate as merging the in-memory sketches (lossless blob
    roundtrip + order-independent union)."""
    from pyspark.sql import functions as F

    from spark_streaming_clustering_spark.operators.extras_surface import (
        _hll_daily_layout,
    )

    direct = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.hll_sketch_agg("user_id").alias("sk"))
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"))
        .collect()[0]
        .est
    )
    roundtrip = (
        spark.read.parquet(_hll_daily_layout(spark, sf_dir))
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"))
        .collect()[0]
        .est
    )
    assert direct == roundtrip


# --- round-8 extras: markov / quantile rollup / reservoir / BOM ----------


def test_markov_matrix_rows_are_stochastic(spark, sf_dir):
    """Rows of the transition matrix sum to ~1e6 micros (floor-division
    loses at most (#targets - 1) micros per row), counts match an
    independent Python replay of each user's ordered stream."""
    from collections import Counter

    from spark_streaming_clustering_spark.operators.extras_surface import (
        _transition_matrix,
    )

    got = {(r.from_type, r.to_type): (r.cnt, r.p_micro)
           for r in _transition_matrix(spark, sf_dir).collect()}
    ev = sorted(
        load_table(spark, sf_dir, "events")
        .select("user_id", "ts", "event_id", "event_type")
        .collect(),
        key=lambda r: (r.user_id, r.ts, r.event_id),
    )
    expect = Counter()
    for a, b in zip(ev, ev[1:]):
        if a.user_id == b.user_id:
            expect[(a.event_type, b.event_type)] += 1
    assert {k: v[0] for k, v in got.items()} == dict(expect)
    row_sums = Counter()
    row_targets = Counter()
    for (f, _t), (_c, p) in got.items():
        row_sums[f] += p
        row_targets[f] += 1
    for f, s in row_sums.items():
        assert 1_000_000 - (row_targets[f] - 1) <= s <= 1_000_000


def test_markov_steady_state_has_mixed(spark, sf_dir):
    """After 8 integer power-iteration steps the chain must have mixed:
    per-state gap to the previous iterate under 1% of mass, pi sums to
    ~1e6 (floor losses bounded by #states per step)."""
    from spark_streaming_clustering_spark.operators.extras_surface import (
        markov_steady_state,
    )

    rows = markov_steady_state(spark, sf_dir).collect()
    assert len(rows) >= 2
    assert all(r.gap_micro <= 10_000 for r in rows)
    total = sum(r.pi_micro for r in rows)
    assert 1_000_000 - 100 * len(rows) <= total <= 1_000_000


def test_quantile_rollup_contract(spark, sf_dir):
    """Merged-sketch answers equal the raw one-pass histogram
    (losslessness has teeth on the Spark side), sit within one bin of
    DuckDB's exact disc quantile, quantiles are monotone in q, and the
    layout write is once-per-session."""
    import os

    import duckdb

    from spark_streaming_clustering_spark.operators.extras_surface import (
        _QBIN_CENTS,
        _quantile_daily_layout,
        quantile_sketch_rollup,
    )

    rows = quantile_sketch_rollup(spark, sf_dir).collect()
    assert {r.status for r in rows} >= {"ALL"} and len(rows) % 3 == 0
    assert all(r.merged_equals_raw for r in rows)
    by_status: dict = {}
    for r in rows:
        by_status.setdefault(r.status, []).append((r.q_micro, r.approx_cents))
    for qs in by_status.values():
        qs.sort()
        assert [q for q, _ in qs] == [500_000, 900_000, 990_000]
        assert qs[0][1] <= qs[1][1] <= qs[2][1]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW orders AS SELECT * FROM "
        f"read_parquet('{sf_dir}/orders.parquet')"
    )
    for q_micro, approx in by_status["ALL"]:
        exact = con.execute(
            f"SELECT CAST(floor(quantile_disc(o_totalprice * 100, "
            f"{q_micro / 1e6}) + 0.5) AS BIGINT) FROM orders"
        ).fetchone()[0]
        assert approx - _QBIN_CENTS <= exact <= approx + 2 * _QBIN_CENTS
    out = _quantile_daily_layout(spark, sf_dir)
    mtime = os.path.getmtime(os.path.join(out, "_SUCCESS"))
    quantile_sketch_rollup(spark, sf_dir)  # second call must not rewrite
    assert os.path.getmtime(os.path.join(out, "_SUCCESS")) == mtime


def test_weighted_reservoir_matches_bruteforce_and_is_biased(spark, sf_dir):
    """The selected set equals an independent Python A-ES replay, and
    the weighting has teeth: mean weight of the sample exceeds the
    corpus mean (longer docs likelier)."""
    import hashlib
    import math

    from spark_streaming_clustering_spark.operators.extras_surface import (
        _HASH_DENOM,
        _RESERVOIR_K,
        weighted_reservoir_sample,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars").collect()
    keyed = []
    for r in docs:
        h = int(hashlib.md5(str(r.doc_id).encode()).hexdigest()[:7], 16)
        u = (h + 1) / _HASH_DENOM
        key = math.floor(-math.log(u) / r.n_chars * 1e9 + 0.5)
        keyed.append((key, r.doc_id, r.n_chars))
    keyed.sort()
    expect = {(d, w) for _, d, w in keyed[:_RESERVOIR_K]}
    got = {(r.doc_id, r.weight) for r in weighted_reservoir_sample(spark, sf_dir).collect()}
    assert got == expect
    sample_mean = sum(w for _, w in got) / len(got)
    corpus_mean = sum(r.n_chars for r in docs) / len(docs)
    assert sample_mean > corpus_mean


def test_weighted_reservoir_plan_is_topk(spark, sf_dir):
    """Global sort+limit must plan as TakeOrderedAndProject (per-
    partition heaps), never a global Sort."""
    from spark_streaming_clustering_spark.operators.extras_surface import (
        weighted_reservoir_sample,
    )

    plan = formatted_plan(weighted_reservoir_sample(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_bom_rollup_matches_bruteforce(spark, sf_dir):
    """Independent Python tree walk: path-product quantities and rolled
    costs per root, over the same synthetic containment tree."""
    from spark_streaming_clustering_spark.operators.extras_surface import (
        _BOM_FANOUT,
        bom_rollup,
    )

    parts = {
        r.p_partkey: int(math.floor(r.p_retailprice * 100 + 0.5))
        for r in load_table(spark, sf_dir, "part")
        .select("p_partkey", "p_retailprice")
        .collect()
    }
    agg: dict = {}

    def walk(root, node, path_qty):
        n, u, c = agg.get(root, (0, 0, 0))
        agg[root] = (n + 1, u + path_qty, c + path_qty * parts[node])
        for child in children.get(node, ()):
            walk(root, child, path_qty * (child % 5 + 1))

    children: dict = {}
    for p in parts:
        if p >= _BOM_FANOUT:
            children.setdefault(p // _BOM_FANOUT, []).append(p)
    for root in (p for p in parts if p < _BOM_FANOUT):
        walk(root, root, 1)
    got = {
        r.root: (r.n_components, r.total_units, r.rolled_cost_cents)
        for r in bom_rollup(spark, sf_dir).collect()
    }
    assert got == agg and sum(n for n, _, _ in agg.values()) == len(parts)


def test_quantile_rollup_plan_single_scan_per_base(spark, sf_dir):
    """The dual-grain (per-status + ALL) answers must come from ONE
    scan of each base — 2 sketch-parquet scans (merge + n_sketches) +
    1 raw-orders companion scan — via the pre-aggregate status explode;
    a union of re-aggregations re-plans each base per grain (6 scans,
    the shape this pin forbids)."""
    import re

    from spark_streaming_clustering_spark.operators.extras_surface import (
        quantile_sketch_rollup,
    )

    plan = formatted_plan(quantile_sketch_rollup(spark, sf_dir))
    assert len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M)) == 3
    assert "CartesianProduct" not in plan


def test_markov_steady_state_plan_proxy_registered(spark, sf_dir):
    """The steady-state key returns a driver literal (vacuous plan); the
    audit must fingerprint the distributed lag-window extraction via
    the registered proxy instead (review finding r7's blind-spot class)."""
    from spark_streaming_clustering_spark.operators.registry import PLAN_PROXIES

    assert "markov_steady_state" in PLAN_PROXIES
    plan = formatted_plan(PLAN_PROXIES["markov_steady_state"](spark, sf_dir))
    assert "windowspecdefinition(user_id" in plan  # partitioned lag window


# --- round-8 second batch: attribution split / rendezvous / sweep-line ---


def test_linear_attribution_conserves_credit(spark, sf_dir):
    """Exact conservation: total credit across channels (incl. direct)
    equals 1e6 x #purchases — the integer-remainder discipline's whole
    point; a float split would leak ulps and a missing remainder would
    leak (1e6 mod n) micros per segment."""
    from pyspark.sql import functions as F

    from spark_streaming_clustering_spark.operators.extras_surface import (
        funnel_attribution_linear,
    )

    rows = funnel_attribution_linear(spark, sf_dir).collect()
    n_purchases = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .count()
    )
    assert sum(r.credit_micro for r in rows) == 1_000_000 * n_purchases
    assert {r.channel for r in rows} <= {"click", "view", "direct"}


def test_linear_attribution_matches_bruteforce(spark, sf_dir):
    """Independent Python replay of the segment/split/remainder rules."""
    from collections import defaultdict

    from spark_streaming_clustering_spark.operators.extras_surface import (
        funnel_attribution_linear,
    )

    ev = sorted(
        load_table(spark, sf_dir, "events")
        .select("user_id", "ts", "event_id", "event_type")
        .collect(),
        key=lambda r: (r.user_id, r.ts, r.event_id),
    )
    segs = defaultdict(list)  # (user, seg) -> ordered touch types
    converted = set()
    seg_by_user = defaultdict(int)
    for r in ev:
        u, k = r.user_id, seg_by_user[r.user_id]
        if r.event_type == "purchase":
            converted.add((u, k))
            seg_by_user[u] += 1
        elif r.event_type in ("click", "view"):
            segs[(u, k)].append(r.event_type)
    credit = defaultdict(int)
    n_cred = defaultdict(int)
    for key in converted:
        touches = segs.get(key, [])
        if not touches:
            credit["direct"] += 1_000_000
            n_cred["direct"] += 1
            continue
        n = len(touches)
        base = 1_000_000 // n
        for i, t in enumerate(touches):
            # the LAST touch in (ts, event_id) order takes the remainder
            credit[t] += base + (1_000_000 - n * base if i == n - 1 else 0)
            n_cred[t] += 1
    got = {
        r.channel: (r.n_credited, r.credit_micro)
        for r in funnel_attribution_linear(spark, sf_dir).collect()
    }
    assert got == {c: (n_cred[c], credit[c]) for c in credit}


def test_rendezvous_minimal_movement(spark, sf_dir):
    """HRW contract: every key is assigned, moved keys go ONLY to the
    new shard, and the moved fraction sits near 1/17 (not the ~16/17
    a mod-N reshard would move)."""
    from spark_streaming_clustering_spark.operators.extras_surface import (
        rendezvous_resharding,
    )

    rows = rendezvous_resharding(spark, sf_dir).collect()
    n_docs = load_table(spark, sf_dir, "documents").count()
    assert sum(r.n_keys for r in rows) == n_docs
    assert all(r.all_moves_to_new for r in rows)
    frac = sum(r.n_moved for r in rows) / n_docs
    assert 0.2 / 17 <= frac <= 3.0 / 17  # expected 1/17, small-sample band


def test_rendezvous_matches_bruteforce(spark, sf_dir):
    """Independent Python HRW replay (md5-prefix28 packed argmax)."""
    import hashlib
    from collections import defaultdict

    from spark_streaming_clustering_spark.operators.extras_surface import (
        _SHARDS_NEW,
        _SHARDS_OLD,
        rendezvous_resharding,
    )

    def combined(doc_id, s):
        h = int(hashlib.md5(f"{doc_id}#{s}".encode()).hexdigest()[:7], 16)
        return h * 32 + s

    per = defaultdict(lambda: [0, 0])
    docs = load_table(spark, sf_dir, "documents").select("doc_id").collect()
    for r in docs:
        old = max(combined(r.doc_id, s) for s in range(_SHARDS_OLD)) % 32
        new = max(combined(r.doc_id, s) for s in range(_SHARDS_NEW)) % 32
        per[old][0] += 1
        per[old][1] += int(new != old)
    got = {r.old_shard: (r.n_keys, r.n_moved) for r in rendezvous_resharding(spark, sf_dir).collect()}
    assert got == {k: tuple(v) for k, v in per.items()}


def test_concurrent_intervals_sweep_invariants(spark, sf_dir):
    """Every open eventually closes (sum opened == sum closed == #orders,
    final running active == 0), concurrency never negative, and the
    whole series matches an independent Python sweep."""
    from collections import Counter

    from spark_streaming_clustering_spark.operators.extras_surface import (
        concurrent_intervals,
    )

    rows = sorted(concurrent_intervals(spark, sf_dir).collect(), key=lambda r: r.day)
    n_orders = load_table(spark, sf_dir, "orders").count()
    assert sum(r.opened for r in rows) == n_orders
    assert sum(r.closed for r in rows) == n_orders
    assert all(r.active >= 0 for r in rows)
    assert rows[-1].active == 0
    import datetime

    opened, closed = Counter(), Counter()
    for r in load_table(spark, sf_dir, "orders").select(
        "o_orderdate", "o_orderkey"
    ).collect():
        od = r.o_orderdate.date() if hasattr(r.o_orderdate, "date") else r.o_orderdate
        opened[od] += 1
        closed[od + datetime.timedelta(days=r.o_orderkey % 90 + 1)] += 1
    active = 0
    expect = []
    for day in sorted(set(opened) | set(closed)):
        active += opened[day] - closed[day]
        expect.append((day, opened[day], closed[day], active))
    assert [(r.day, r.opened, r.closed, r.active) for r in rows] == expect


def test_markov_fold_matches_sql_on_absorbing_matrix():
    """The Python integer fold and the chained-CTE SQL must agree on
    matrices the fixtures never produce — an ABSORBING state (mass in,
    no outgoing row: the inner-join semantics drop its mass every
    step) and a state reachable but never a source.  Run the oracle's
    own step SQL over a crafted VALUES matrix in DuckDB.  No Spark."""
    import duckdb

    from spark_streaming_clustering_spark.operators.extras_surface import (
        _markov_fold,
        _markov_steps_sql,
    )

    # A -> B (0.5), A -> C (0.5), B -> A (1.0); C absorbs (no outgoing)
    matrix = [
        ("A", "B", 500_000),
        ("A", "C", 500_000),
        ("B", "A", 1_000_000),
    ]
    expect = _markov_fold(matrix)
    values = ", ".join(f"('{f}', '{t}', {p})" for f, t, p in matrix)
    sql = (
        f"WITH mp(from_type, to_type, p_micro) AS (VALUES {values}),\n"
        + _markov_steps_sql()
    )
    got = sorted(map(tuple, duckdb.connect().execute(sql).fetchall()))
    assert got == sorted(expect)
    # the absorbing state keeps receiving mass but never re-emits it
    pi = dict((s, p) for s, p, _ in expect)
    assert pi["C"] > 0 and sum(pi.values()) < 1_000_000


# --- round-8 third batch: model-evaluation metrics ------------------------


def test_auc_matches_bruteforce_rank_sum(spark, sf_dir):
    """Independent Python Mann-Whitney replay: average ranks over ties,
    U / (n1 n0), floored to micros — must equal the distributed
    grouped-score formulation exactly."""
    import math

    from spark_streaming_clustering_spark.operators.extras_surface import (
        auc_rank_metric,
    )

    rows = load_table(spark, sf_dir, "events").select("value", "event_type").collect()
    scored = sorted(
        (int(math.floor(r.value * 100 + 0.5)), r.event_type == "purchase")
        for r in rows
    )
    # 2x average 1-based rank per tie group, summed over positives
    ranksum2 = 0
    i = 0
    while i < len(scored):
        j = i
        while j < len(scored) and scored[j][0] == scored[i][0]:
            j += 1
        two_avg_rank = 2 * i + (j - i) + 1  # 2*cum_below + n + 1
        ranksum2 += two_avg_rank * sum(1 for k in range(i, j) if scored[k][1])
        i = j
    n1 = sum(1 for _, p in scored if p)
    n0 = len(scored) - n1
    expect = (ranksum2 - n1 * (n1 + 1)) * 1_000_000 // (2 * n1 * n0)
    got = auc_rank_metric(spark, sf_dir).collect()
    assert len(got) == 1
    assert (got[0].n_pos, got[0].n_neg, got[0].auc_micro) == (n1, n0, expect)
    assert 0 <= got[0].auc_micro <= 1_000_000


def test_calibration_buckets_partition_and_lift(spark, sf_dir):
    """The decile table partitions the population (sum n == N, sum
    n_pos == N1), buckets are 0..9, and volume-weighted lift averages
    to ~1e6 (the base rate) within floor-division slack."""
    from spark_streaming_clustering_spark.operators.extras_surface import (
        _CAL_BUCKETS,
        calibration_buckets,
    )
    from pyspark.sql import functions as F

    rows = calibration_buckets(spark, sf_dir).collect()
    ev = load_table(spark, sf_dir, "events")
    n = ev.count()
    n_pos = ev.filter(F.col("event_type") == "purchase").count()
    assert sum(r.n for r in rows) == n
    assert sum(r.n_pos for r in rows) == n_pos
    assert {r.bucket for r in rows} <= set(range(_CAL_BUCKETS))
    assert all(0 <= r.rate_micro <= 1_000_000 for r in rows)
    w_avg_lift = sum(r.lift_micro * r.n for r in rows) / n
    assert abs(w_avg_lift - 1_000_000) < 20_000  # floor-div slack only


def test_weighted_reservoir_keys_clear_of_floor_boundaries():
    """Libm-portability pin (ADVICE r8 / VERDICT r8 #4): key_nano uses
    floor(-ln(u)/w * 1e9 + 0.5), and ln() is the one libm
    transcendental in the expression — a multi-ulp divergence between
    the JVM's, DuckDB's, and CPython's log could flip a key sitting on
    a floor boundary and change the SELECTED SET, not just a value.
    This guard proves no fixture row is anywhere near a boundary: over
    all three sf fixtures the minimum distance of the pre-floor value
    from the nearest integer must exceed 256 ulps of the largest key
    magnitude (measured margins are >=5300 ulps), so any faithful
    (<=few-ulp) libm yields the identical selection.  The same-libm
    assumption this replaces is documented in the operator docstring."""
    import hashlib
    import math

    import duckdb

    from spark_streaming_clustering_spark.operators.extras_surface import _HASH_DENOM

    con = duckdb.connect()
    for sf in ("0.001", "0.01", "0.1"):
        rows = con.execute(
            "SELECT doc_id, n_chars FROM "
            f"read_parquet('/root/testdata/sf{sf}/documents.parquet')"
        ).fetchall()
        assert rows
        min_dist, max_x = 1.0, 0.0
        for doc_id, n_chars in rows:
            h = int(hashlib.md5(str(doc_id).encode()).hexdigest()[:7], 16)
            u = (h + 1) / _HASH_DENOM
            x = -math.log(u) / n_chars * 1e9 + 0.5
            frac = x - math.floor(x)
            min_dist = min(min_dist, frac, 1.0 - frac)
            max_x = max(max_x, abs(x))
        assert min_dist > 256 * max_x * 2.0**-52, (sf, min_dist, max_x)


# --- round-9 extras: PPJoin / content checksum / join-size estimate ------


def _py_shingle_sets(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    sets = {}
    for r in docs:
        t = r.text.split(" ")
        sets[r.doc_id] = {
            " ".join(t[i : i + 3]) for i in range(max(len(t) - 2, 0))
        }
    return sets


def test_ppjoin_complete_and_exact_vs_allpairs(spark, sf_dir):
    """The losslessness claim IS the operator: an all-pairs Python
    replay over the fixture must produce exactly the same pair set and
    the same integer-micro scores — any pair the prefix/positional/
    length pruning wrongly dropped would show up here."""
    from spark_streaming_clustering_spark.operators.extras_surface import (
        _PPJ_TDEN,
        _PPJ_TNUM,
        ppjoin_set_similarity,
    )

    sets = _py_shingle_sets(spark, sf_dir)
    ids = sorted(sets)
    expect = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            inter = len(sets[a] & sets[b])
            union = len(sets[a] | sets[b])
            if union and inter * _PPJ_TDEN >= union * _PPJ_TNUM:
                expect[(a, b)] = (
                    len(sets[a]),
                    len(sets[b]),
                    inter,
                    union,
                    inter * 1_000_000 // union,
                )
    got = {
        (r.doc_a, r.doc_b): (r.n_a, r.n_b, r.n_inter, r.n_union, r.jac_micro)
        for r in ppjoin_set_similarity(spark, sf_dir).collect()
    }
    assert got == expect
    assert expect, "fixture must contain at least one qualifying pair"


def test_ppjoin_prefix_prunes_and_no_cartesian(spark, sf_dir):
    """The prefix filter must have teeth (strictly fewer prefix tokens
    than tokens) and the plan must stay cartesian-free."""
    from pyspark.sql import functions as F

    from spark_streaming_clustering_spark.operators.extras_surface import (
        _PPJ_TDEN,
        _PPJ_TNUM,
        _ppj_tok,
        ppjoin_set_similarity,
    )

    plan = formatted_plan(ppjoin_set_similarity(spark, sf_dir))
    assert "CartesianProduct" not in plan
    # Teeth (ADVICE r9): prefix_len(n) = n - ceil(n*tau) + 1; at
    # tau = 1/2 that is strictly below n for every doc with n >= 3
    # tokens, i.e. the candidate join really probes a SHORTER prefix.
    rows = (
        _ppj_tok(spark, sf_dir)
        .groupBy("doc_id")
        .agg(F.max("n").alias("n"))
        .collect()
    )
    assert any(r.n >= 3 for r in rows), "fixture too small to exercise pruning"
    for r in rows:
        prefix_len = r.n - -(-r.n * _PPJ_TNUM // _PPJ_TDEN) + 1
        if r.n >= 3:
            assert prefix_len < r.n, (r.doc_id, r.n, prefix_len)
        assert 1 <= prefix_len <= r.n


def test_content_checksum_matches_python_replay(spark, sf_dir):
    """Independent Python replay of the canonicalization + md5-prefix
    sum/xor per order-year and for the ALL row; also pins the
    roll-up consistency (ALL == fold of the per-year rows)."""
    import hashlib
    from functools import reduce

    from spark_streaming_clustering_spark.operators.extras_surface import (
        table_content_checksum,
    )

    o = load_table(spark, sf_dir, "orders").collect()
    per = {}
    for r in o:
        cents = int(math.floor(r.o_totalprice * 100 + 0.5))
        # o_orderdate is tz-naive in the fixture: micros since epoch UTC
        import calendar

        us = (
            calendar.timegm(r.o_orderdate.timetuple()) * 1_000_000
            + r.o_orderdate.microsecond
        )
        canon = "|".join(
            [
                str(r.o_orderkey),
                str(r.o_custkey),
                r.o_orderstatus,
                str(cents),
                str(us),
                r.o_orderpriority,
            ]
        )
        h = int(hashlib.md5(canon.encode()).hexdigest()[:7], 16)
        pk = str(r.o_orderdate.year)
        n, s, x = per.get(pk, (0, 0, 0))
        per[pk] = (n + 1, s + h, x ^ h)
    per["ALL"] = (
        sum(v[0] for v in per.values()),
        sum(v[1] for v in per.values()),
        reduce(lambda a, b: a ^ b, (v[2] for v in per.values()), 0),
    )
    got = {
        r.partition_key: (r.n_rows, r.checksum_sum, r.checksum_xor)
        for r in table_content_checksum(spark, sf_dir).collect()
    }
    assert got == per
    assert len(per) >= 3  # at least two years + ALL


def test_join_size_estimate_is_exact_for_inner_equijoin(spark, sf_dir):
    """For an unfiltered inner equi-join the grouped-count product IS
    the join size: pin est_rows against the executed join for every
    edge, and the key counts against distincts."""
    from spark_streaming_clustering_spark.operators.extras_surface import (
        _JOIN_EST_PAIRS,
        join_size_estimate,
    )

    got = {r.join_name: r for r in join_size_estimate(spark, sf_dir).collect()}
    assert set(got) == {name for name, _, _ in _JOIN_EST_PAIRS}
    for name, (lt, lk), (rt, rk) in _JOIN_EST_PAIRS:
        l = load_table(spark, sf_dir, lt)
        r = load_table(spark, sf_dir, rt)
        actual = l.join(r, l[lk] == r[rk]).count()
        row = got[name]
        assert row.est_rows == actual, name
        assert row.n_keys_left == l.select(lk).distinct().count()
        assert row.n_keys_right == r.select(rk).distinct().count()
        assert row.n_keys_common <= min(row.n_keys_left, row.n_keys_right)


def test_content_checksum_delimiter_contract(spark):
    """Pin the ADVICE-r9 '|'-delimiter assumption (VERDICT r10 item 7):
    the unescaped join is collision-safe ONLY while no hashed field's
    rendered value contains '|'.  Two teeth: (a) the hashed column set
    is exactly the pinned six (adding e.g. free-text o_comment must
    land here first and adopt length-prefix/escaping); (b) every text
    value actually hashed, at EVERY committed fixture scale, is
    '|'-free — the numeric fields render as decimal digits and cannot
    contain it."""
    import duckdb

    from spark_streaming_clustering_spark.operators.extras_surface import (
        CHECKSUM_HASHED_COLUMNS,
        _CHECKSUM_ROW_CANON_SQL,
    )

    # The pinned set is a module constant the oracle SQL is GENERATED
    # from (ADVICE r11: no more regex-scraping the SQL string — a
    # reformat of the oracle can no longer break or silently widen
    # this check).
    assert CHECKSUM_HASHED_COLUMNS == (
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        "o_orderdate",
        "o_orderpriority",
    ), "hashed column set changed — revisit the unescaped '|' join"
    # and the committed oracle really embeds the generated canon
    assert _CHECKSUM_ROW_CANON_SQL in ORACLES["table_content_checksum"]
    con = duckdb.connect()
    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        n = con.execute(
            "SELECT COUNT(*) FROM read_parquet("
            f"'/root/testdata/{sf}/orders.parquet') "
            "WHERE o_orderstatus LIKE '%|%' "
            "   OR o_orderpriority LIKE '%|%'"
        ).fetchone()[0]
        assert n == 0, f"{sf}: {n} orders rows carry '|' in a hashed field"


def test_content_checksum_plan_single_scan(spark, sf_dir):
    """ROLLUP must add the grand-total grain via Expand on ONE scan,
    never a union of re-aggregations."""
    from spark_streaming_clustering_spark.operators.extras_surface import (
        table_content_checksum,
    )

    import re

    plan = formatted_plan(table_content_checksum(spark, sf_dir))
    assert len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M)) == 1
    assert "Expand" in plan


def test_ppjoin_plan_scans_corpus_at_most_twice(spark, sf_dir):
    """The session-cached ranked-token relation must collapse the four
    tok consumers: without it the static plan re-derives the corpus
    subtree per consumer (observed 8 scans pre-cache)."""
    import re

    from spark_streaming_clustering_spark.operators._session_cache import (
        clear_all,
    )
    from spark_streaming_clustering_spark.operators.extras_surface import (
        ppjoin_set_similarity,
    )

    clear_all()
    plan = formatted_plan(ppjoin_set_similarity(spark, sf_dir))
    assert len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M)) <= 2


# --- round-9 second batch: containment join / IVM / equi-depth -----------


def test_subset_containment_matches_allpairs(spark, sf_dir):
    """All-pairs Python replay: every ORDERED pair (a contains >=9/10
    of b) must be found with the exact integer score — losslessness of
    the rarest-prefix candidate join is the operator's claim."""
    from spark_streaming_clustering_spark.operators.extras_surface import (
        _SCJ_TDEN,
        _SCJ_TNUM,
        subset_containment_join,
    )

    sets = _py_shingle_sets(spark, sf_dir)
    expect = {}
    for a in sets:
        for b in sets:
            if a == b:
                continue
            inter = len(sets[a] & sets[b])
            nb = len(sets[b])
            if nb and inter * _SCJ_TDEN >= nb * _SCJ_TNUM:
                # strict subset: B inside A AND B != A (ADVICE r9 —
                # equal sets are mutual subsets but not strict)
                expect[(a, b)] = (
                    len(sets[a]),
                    nb,
                    inter,
                    inter * 1_000_000 // nb,
                    inter == nb and inter < len(sets[a]),
                )
    got = {
        (r.doc_container, r.doc_contained): (
            r.n_container,
            r.n_contained,
            r.n_inter,
            r.containment_micro,
            r.is_strict_subset,
        )
        for r in subset_containment_join(spark, sf_dir).collect()
    }
    assert got == expect
    assert any(v[4] for v in expect.values())  # strict subsets exist


def test_agg_ivm_delta_contract_and_replay(spark, sf_dir):
    """The IVM contract column must hold on every row (delta-folded ==
    recomputed), the signed fold must match a Python replay, and the
    stored base view must be write-once (_SUCCESS mtime stable)."""
    import os

    from spark_streaming_clustering_spark.operators.extras_surface import (
        _IVM_DEL_MOD,
        _IVM_INS_MOD,
        _ivm_base_agg_layout,
        agg_ivm_delta,
    )

    rows = {r.event_type: r for r in agg_ivm_delta(spark, sf_dir).collect()}
    assert rows and all(r.ivm_equals_recompute for r in rows.values())
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "event_id", "value"
    ).collect()
    per = {}
    for r in ev:
        c = int(math.floor(r.value * 100 + 0.5))
        t = per.setdefault(r.event_type, [0, 0, 0, 0, 0])  # nb, ni, nd, na, sa
        ins = r.event_id % _IVM_INS_MOD == 0
        dele = (not ins) and r.event_id % _IVM_DEL_MOD == 0
        if not ins:
            t[0] += 1
        if ins:
            t[1] += 1
            t[3] += 1
            t[4] += c
        elif dele:
            t[2] += 1
            t[3] -= 1
            t[4] -= c
        else:
            t[3] += 1
            t[4] += c
    # n_after starts from the base count: fold base rows into na/sa too
    expect = {}
    for k, (nb, ni, nd, na, sa) in per.items():
        expect[k] = (nb, ni, nd)
    got = {k: (r.n_base, r.n_ins, r.n_del) for k, r in rows.items()}
    assert got == expect
    for k, r in rows.items():
        base_rows = [
            x for x in ev if x.event_type == k and x.event_id % _IVM_INS_MOD != 0
        ]
        kept = [
            x for x in base_rows if x.event_id % _IVM_DEL_MOD != 0
        ] + [x for x in ev if x.event_type == k and x.event_id % _IVM_INS_MOD == 0]
        assert r.n_after == len(kept)
        assert r.sum_cents_after == sum(
            int(math.floor(x.value * 100 + 0.5)) for x in kept
        )
    out = _ivm_base_agg_layout(spark, sf_dir)
    mtime = os.path.getmtime(os.path.join(out, "_SUCCESS"))
    agg_ivm_delta(spark, sf_dir)  # second call must not rewrite
    assert os.path.getmtime(os.path.join(out, "_SUCCESS")) == mtime


def test_equi_depth_histogram_partitions_and_replays(spark, sf_dir):
    """Buckets must partition the rows (sum == total), carry disjoint
    ordered [lo, hi] ranges, and match a Python replay of the
    cum_below * B div total assignment exactly."""
    from collections import Counter

    from spark_streaming_clustering_spark.operators.extras_surface import (
        _EDH_BUCKETS,
        equi_depth_histogram,
    )

    dollars = [
        int(math.floor(r.o_totalprice * 100 + 0.5)) // 100
        for r in load_table(spark, sf_dir, "orders")
        .select("o_totalprice")
        .collect()
    ]
    cnt = Counter(dollars)
    total = len(dollars)
    expect = {}
    cum = 0
    for d in sorted(cnt):
        b = cum * _EDH_BUCKETS // total
        lo, hi, n, ndv = expect.get(b, (d, d, 0, 0))
        expect[b] = (min(lo, d), max(hi, d), n + cnt[d], ndv + 1)
        cum += cnt[d]
    got = {
        r.bucket: (r.lo_dollar, r.hi_dollar, r.n_rows, r.ndv_dollars)
        for r in equi_depth_histogram(spark, sf_dir).collect()
    }
    assert got == expect
    assert sum(v[2] for v in got.values()) == total
    bs = sorted(got)
    for a, b in zip(bs, bs[1:]):
        assert got[a][1] < got[b][0]  # disjoint, ordered ranges


# --- round-9 third batch: KS distance / join-key skew profile ------------


def test_ks_two_sample_matches_bruteforce(spark, sf_dir):
    """Exact integer replay of the two-sample KS statistic: cum CDF
    cross-products, max gap, smallest-cents tie-break."""
    from spark_streaming_clustering_spark.operators.extras_surface import (
        ks_two_sample,
    )

    ev = load_table(spark, sf_dir, "events").select("event_type", "value").collect()
    from collections import Counter

    ca, cb = Counter(), Counter()
    for r in ev:
        cents = int(math.floor(r.value * 100 + 0.5))
        (ca if r.event_type == "purchase" else cb)[cents] += 1
    na, nb = sum(ca.values()), sum(cb.values())
    cum_a = cum_b = 0
    d_num, at = -1, None
    for v in sorted(set(ca) | set(cb)):
        cum_a += ca.get(v, 0)
        cum_b += cb.get(v, 0)
        gap = abs(cum_a * nb - cum_b * na)
        if gap > d_num:
            d_num, at = gap, v
    rows = ks_two_sample(spark, sf_dir).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.n_a, r.n_b, r.d_num, r.at_cents) == (na, nb, d_num, at)
    assert r.ks_micro == d_num * 1_000_000 // (na * nb)
    assert 0 <= r.ks_micro <= 1_000_000


def test_join_key_skew_profile_matches_bruteforce(spark, sf_dir):
    """Counter replay per column: totals, distincts, heaviest key
    (ties to the largest key), integer skew factor."""
    from collections import Counter

    from spark_streaming_clustering_spark.operators.extras_surface import (
        _SKEW_COLUMNS,
        join_key_skew_profile,
    )

    got = {r.join_col: r for r in join_key_skew_profile(spark, sf_dir).collect()}
    assert set(got) == {f"{t}.{c}" for t, c in _SKEW_COLUMNS}
    for table, col in _SKEW_COLUMNS:
        cnt = Counter(
            r[0] for r in load_table(spark, sf_dir, table).select(col).collect()
        )
        n, d = sum(cnt.values()), len(cnt)
        maxc = max(cnt.values())
        heaviest = max(k for k, v in cnt.items() if v == maxc)
        r = got[f"{table}.{col}"]
        assert (r.n_rows, r.n_keys, r.max_cnt, r.heaviest_key) == (
            n,
            d,
            maxc,
            heaviest,
        )
        assert r.skew_micro == maxc * d * 1_000_000 // n
        assert r.skew_micro >= 1_000_000  # max >= avg always


# --- round-10 ADVICE-r9 headroom pins -------------------------------------


def test_skew_pack_exact_beyond_1e9_keys(spark):
    """The DECIMAL(38,0) pack must recover (max_cnt, heaviest_key)
    EXACTLY for keys >= 1e9 — the regime where the old BIGINT
    cnt*1e9+key pack silently truncated (ADVICE r9: TPC-H l_orderkey
    crosses 1e9 at SF >~ 250).  Same expressions as
    ``join_key_skew_profile``, driven on synthetic extreme values."""
    from pyspark.sql import functions as F

    from spark_streaming_clustering_spark.operators.extras_surface import (
        _SKEW_PACK,
    )

    big_key = 123_456_789_012_345  # >> 1e9, < 1e18
    big_cnt = 9_000_000_000_000  # 9e12 rows on one key
    df = spark.createDataFrame(
        [(big_cnt, big_key), (big_cnt, big_key - 1), (5, 7)],
        "cnt long, k long",
    )
    packed = F.col("cnt").cast("decimal(38,0)") * F.lit(_SKEW_PACK) + F.col("k")
    r = (
        df.agg(F.max(packed).alias("mp"))
        .select(
            F.expr(f"mp div {_SKEW_PACK}").cast("bigint").alias("max_cnt"),
            F.expr(f"mp % {_SKEW_PACK}").cast("bigint").alias("heaviest_key"),
        )
        .collect()[0]
    )
    assert (r.max_cnt, r.heaviest_key) == (big_cnt, big_key)
    # DuckDB mirror of the oracle arithmetic on the same values.
    import duckdb

    dk = duckdb.sql(
        f"""SELECT CAST(MAX(CAST(cnt AS HUGEINT) * {_SKEW_PACK} + k)
                        // {_SKEW_PACK} AS BIGINT) AS max_cnt,
                   CAST(MAX(CAST(cnt AS HUGEINT) * {_SKEW_PACK} + k)
                        % {_SKEW_PACK} AS BIGINT) AS heaviest_key
            FROM (VALUES ({big_cnt}, {big_key}), ({big_cnt}, {big_key - 1}),
                         (5, 7)) t(cnt, k)"""
    ).fetchone()
    assert dk == (big_cnt, big_key)


def test_ks_gap_decimal_beyond_bigint(spark):
    """The KS cross-multiplied CDF gap must stay exact past the BIGINT
    boundary (VERDICT r9: cum*n reaches nA*nB ~ N^2/4, overflowing
    BIGINT at ~6e9 total rows): 4e9*6e9 - 3e9*5e9 = 9e18 > 2^63-1,
    representable only because the arithmetic runs in DECIMAL(38,0)."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(4_000_000_000, 3_000_000_000, 5_000_000_000, 6_000_000_000)],
        "cum_a long, cum_b long, n_a long, n_b long",
    )
    gap = F.abs(
        F.col("cum_a").cast("decimal(38,0)") * F.col("n_b")
        - F.col("cum_b").cast("decimal(38,0)") * F.col("n_a")
    )
    got = df.select(gap.alias("gap")).collect()[0].gap
    assert int(got) == 9_000_000_000_000_000_000
    # and the degenerate-sample guard: nA*nB = 0 -> NULL on both engines
    z = df.selectExpr(
        "CAST((CAST(1 AS DECIMAL(38,0)) * 1000000)"
        " div nullif(CAST(0 AS DECIMAL(38,0)) * n_b, 0) AS BIGINT) AS zg"
    ).collect()[0].zg
    assert z is None
    import duckdb

    assert duckdb.sql(
        "SELECT CAST((CAST(1 AS HUGEINT) * 1000000)"
        " // NULLIF(CAST(0 AS HUGEINT) * 5, 0) AS BIGINT)"
    ).fetchone()[0] is None


# --- round-10 batch: V-optimal histogram / Merkle partition-diff ----------


def test_v_optimal_histogram_matches_python_dp(spark, sf_dir):
    """Independent Python replay of the unrolled DP (same integer-micros
    cost, same smallest-j tie-break) must produce the identical bucket
    boundaries AND costs; plus the structural invariants: buckets
    partition the domain, n_rows sum to the table, per-bucket sse is
    the closed form over prefix sums, and the DP optimum equals the
    sum of the emitted per-bucket costs."""
    from spark_streaming_clustering_spark.operators.extras_surface import (
        _VOPT_B,
        _VOPT_CELL,
        v_optimal_histogram,
    )

    cnt = {}
    for r in load_table(spark, sf_dir, "orders").select("o_totalprice").collect():
        v = int(math.floor(r.o_totalprice * 100 + 0.5)) // _VOPT_CELL
        cnt[v] = cnt.get(v, 0) + 1
    vs = sorted(cnt)
    m = len(vs)
    assert m >= _VOPT_B
    p = [0] * (m + 1)
    pp = [0] * (m + 1)
    for idx, v in enumerate(vs, 1):
        p[idx] = p[idx - 1] + cnt[v]
        pp[idx] = pp[idx - 1] + cnt[v] * cnt[v]

    def sse(j, i):  # micros cost of bucket (j..i]
        return (pp[i] - pp[j]) * 1_000_000 - (
            (p[i] - p[j]) * (p[i] - p[j]) * 1_000_000
        ) // (i - j)

    # full DP (not unrolled — an independent formulation), ties to
    # the smallest split
    INF = float("inf")
    e = [[INF] * (m + 1) for _ in range(_VOPT_B + 1)]
    arg = [[None] * (m + 1) for _ in range(_VOPT_B + 1)]
    for i in range(1, m + 1):
        e[1][i] = sse(0, i)
    for k in range(2, _VOPT_B + 1):
        for i in range(k, m + 1):
            best, bj = INF, None
            for j in range(k - 1, i):
                c = e[k - 1][j] + sse(j, i)
                if c < best:
                    best, bj = c, j
            e[k][i], arg[k][i] = best, bj
    cuts = [m]
    for k in range(_VOPT_B, 1, -1):
        cuts.append(arg[k][cuts[-1]])
    cuts.append(0)
    cuts.reverse()  # [0, j1, j2, j3, m]
    expect = {}
    for b in range(1, _VOPT_B + 1):
        lo, hi = cuts[b - 1], cuts[b]
        expect[b] = (
            vs[lo],  # v_lo = value at index lo+1 (1-indexed)
            vs[hi - 1],
            hi - lo,
            p[hi] - p[lo],
            sse(lo, hi),
        )
    got = {
        r.bucket_id: (r.v_lo, r.v_hi, r.n_values, r.n_rows, r.sse_micro)
        for r in v_optimal_histogram(spark, sf_dir).collect()
    }
    assert got == expect
    assert sum(v[3] for v in got.values()) == p[m]
    assert sum(v[4] for v in got.values()) == e[_VOPT_B][m]
    # contiguous, ordered, disjoint value ranges
    bs = sorted(got)
    for a, b in zip(bs, bs[1:]):
        assert got[a][1] < got[b][0]


def test_v_optimal_beats_or_ties_equi_width_split(spark, sf_dir):
    """Optimality smoke against a non-trivial competitor: the DP total
    SSE must be <= the equal-index 4-way split's SSE (a strictly
    weaker guarantee than the replay above, but it catches a DP that
    is merely *a* partition rather than the argmin)."""
    from spark_streaming_clustering_spark.operators.extras_surface import (
        _VOPT_B,
        _VOPT_CELL,
        v_optimal_histogram,
    )

    cnt = {}
    for r in load_table(spark, sf_dir, "orders").select("o_totalprice").collect():
        v = int(math.floor(r.o_totalprice * 100 + 0.5)) // _VOPT_CELL
        cnt[v] = cnt.get(v, 0) + 1
    vs = sorted(cnt)
    m = len(vs)
    p = [0] * (m + 1)
    pp = [0] * (m + 1)
    for idx, v in enumerate(vs, 1):
        p[idx] = p[idx - 1] + cnt[v]
        pp[idx] = pp[idx - 1] + cnt[v] * cnt[v]

    def sse(j, i):
        return (pp[i] - pp[j]) * 1_000_000 - (
            (p[i] - p[j]) * (p[i] - p[j]) * 1_000_000
        ) // (i - j)

    cuts = [round(b * m / _VOPT_B) for b in range(_VOPT_B + 1)]
    naive = sum(sse(cuts[b - 1], cuts[b]) for b in range(1, _VOPT_B + 1))
    got = sum(
        r.sse_micro for r in v_optimal_histogram(spark, sf_dir).collect()
    )
    assert got <= naive


def _merkle_py_leaves(rows, vintage_b):
    """Python replay of one vintage's leaf relation (hashlib md5,
    independent of both engines)."""
    import calendar
    import hashlib

    from spark_streaming_clustering_spark.operators.extras_surface import (
        _MRK_CHANGED,
        _MRK_DELETED,
        _MRK_RANGE,
    )

    leaves = {}
    for r in rows:
        if vintage_b and r.o_orderkey % _MRK_DELETED == 0:
            continue
        cents = int(math.floor(r.o_totalprice * 100 + 0.5))
        if vintage_b and r.o_orderkey % _MRK_CHANGED == 0:
            cents += 1
        us = (
            calendar.timegm(r.o_orderdate.timetuple()) * 1_000_000
            + r.o_orderdate.microsecond
        )
        canon = "|".join(
            [
                str(r.o_orderkey),
                str(r.o_custkey),
                r.o_orderstatus,
                str(cents),
                str(us),
                r.o_orderpriority,
            ]
        )
        h = int(hashlib.md5(canon.encode()).hexdigest()[:7], 16)
        key = (str(r.o_orderdate.year), r.o_orderkey // _MRK_RANGE)
        n, s, x = leaves.get(key, (0, 0, 0))
        leaves[key] = (n + 1, s + h, x ^ h)
    return leaves


def test_merkle_partition_diff_matches_python_replay(spark, sf_dir):
    """Full Python replay of the two-level protocol: the seeded
    mutation must be localized to exactly the differing
    (partition, range) cells, partition rows must be the Merkle fold
    of their leaves, and every mutated/deleted orderkey must land in
    an emitted range cell (lossless descent on the fixture)."""
    from spark_streaming_clustering_spark.operators.extras_surface import (
        _MRK_CHANGED,
        _MRK_DELETED,
        _MRK_RANGE,
        merkle_partition_diff,
    )

    rows = (
        load_table(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            "o_totalprice",
            "o_orderdate",
            "o_orderpriority",
        )
        .collect()
    )
    la = _merkle_py_leaves(rows, False)
    lb = _merkle_py_leaves(rows, True)

    def fold(leaves):
        parts = {}
        for (pk, _rid), (n, s, x) in leaves.items():
            pn, ps, px = parts.get(pk, (0, 0, 0))
            parts[pk] = (pn + n, ps + s, px ^ x)
        return parts

    pa, pb = fold(la), fold(lb)
    exp_pdiff = {
        pk: (pa.get(pk), pb.get(pk))
        for pk in set(pa) | set(pb)
        if pa.get(pk) != pb.get(pk)
    }
    exp_rdiff = {
        k: (la.get(k), lb.get(k))
        for k in set(la) | set(lb)
        if la.get(k) != lb.get(k) and k[0] in exp_pdiff
    }
    got = merkle_partition_diff(spark, sf_dir).collect()
    got_p = {
        r.partition_key: (
            (r.n_a, r.sum_a, r.xor_a) if r.n_a is not None else None,
            (r.n_b, r.sum_b, r.xor_b) if r.n_b is not None else None,
        )
        for r in got
        if r.level == "partition"
    }
    got_r = {
        (r.partition_key, r.range_id): (
            (r.n_a, r.sum_a, r.xor_a) if r.n_a is not None else None,
            (r.n_b, r.sum_b, r.xor_b) if r.n_b is not None else None,
        )
        for r in got
        if r.level == "range"
    }
    assert got_p == exp_pdiff
    assert got_r == exp_rdiff
    assert exp_pdiff and exp_rdiff, "seeded mutation must produce a diff"
    # partition rows sit at the -1 sentinel; statuses consistent
    for r in got:
        if r.level == "partition":
            assert r.range_id == -1
        expect_status = (
            "only_b"
            if r.n_a is None
            else ("only_a" if r.n_b is None else "changed")
        )
        assert r.status == expect_status
    # lossless descent: every mutated/deleted key's cell is emitted
    emitted = set(got_r)
    touched = set()
    for r in rows:
        if r.o_orderkey % _MRK_DELETED == 0 or r.o_orderkey % _MRK_CHANGED == 0:
            touched.add((str(r.o_orderdate.year), r.o_orderkey // _MRK_RANGE))
    assert touched == emitted
    # and the narrowing is real: emitted cells are a small minority
    assert len(emitted) < len(la) // 2


def test_cusum_changepoint_matches_bruteforce(spark, sf_dir):
    """Exact integer replay: daily cumulations, G_t = cum_s*N - cum_n*T,
    argmax |G| ties to the earliest day, integer before/after means."""
    from collections import defaultdict

    from spark_streaming_clustering_spark.operators.extras_surface import (
        cusum_changepoint,
    )

    ev = load_table(spark, sf_dir, "events").select("ts", "value").collect()
    days = defaultdict(lambda: [0, 0])
    for r in ev:
        d = r.ts.date()
        days[d][0] += int(math.floor(r.value * 100 + 0.5))
        days[d][1] += 1
    t_sum = sum(v[0] for v in days.values())
    n_tot = sum(v[1] for v in days.values())
    cum_s = cum_n = 0
    best = (-1, None, None, None)  # (gabs, day, cum_s, cum_n)
    for d in sorted(days):
        cum_s += days[d][0]
        cum_n += days[d][1]
        gabs = abs(cum_s * n_tot - cum_n * t_sum)
        if gabs > best[0]:
            best = (gabs, d, cum_s, cum_n)
    rows = cusum_changepoint(spark, sf_dir).collect()
    assert len(rows) == 1
    r = rows[0]
    gabs, day, cs, cn = best
    after = (
        (t_sum - cs) // (n_tot - cn) if n_tot > cn else None
    )
    assert (
        r.change_day,
        r.n_days,
        r.n_events,
        r.gmax,
        r.mean_before_cents,
        r.mean_after_cents,
    ) == (day, len(days), n_tot, gabs, cs // cn, after)
    assert gabs > 0, "fixture series must not be perfectly flat"


def test_largest_remainder_alloc_matches_hamilton(spark, sf_dir):
    """Python Hamilton replay + the method's contracts: the allocation
    sums to the budget EXACTLY and every share satisfies the quota
    property (floor(S*n/N) <= alloc <= floor(S*n/N) + 1)."""
    from collections import Counter

    from spark_streaming_clustering_spark.operators.extras_surface import (
        _LRA_BUDGET,
        largest_remainder_alloc,
    )

    cnt = Counter(
        r[0]
        for r in load_table(spark, sf_dir, "customer")
        .select("c_nationkey")
        .collect()
    )
    n_tot = sum(cnt.values())
    base = {k: v * _LRA_BUDGET // n_tot for k, v in cnt.items()}
    rem = {k: cnt[k] * _LRA_BUDGET - base[k] * n_tot for k in cnt}
    leftover = _LRA_BUDGET - sum(base.values())
    order = sorted(cnt, key=lambda k: (-rem[k], k))
    expect = {
        k: base[k] + (1 if i < leftover else 0) for i, k in enumerate(order)
    }
    got = {
        r.nationkey: (r.n_customers, r.base_alloc, r.remainder_scaled, r.alloc)
        for r in largest_remainder_alloc(spark, sf_dir).collect()
    }
    assert {k: v[3] for k, v in got.items()} == expect
    assert {k: v[0] for k, v in got.items()} == dict(cnt)
    assert sum(v[3] for v in got.values()) == _LRA_BUDGET
    for k, (n, b, rm, a) in got.items():
        assert b == n * _LRA_BUDGET // n_tot
        assert b <= a <= b + 1
    assert leftover >= 0


def test_interval_union_measure_matches_merge_replay(spark, sf_dir):
    """Python replay: merge each customer's half-open intervals exactly
    and compare the covered-day measure, order counts, and span."""
    from collections import defaultdict
    from datetime import timedelta

    from spark_streaming_clustering_spark.operators.extras_surface import (
        interval_union_measure,
    )

    per = defaultdict(list)
    for r in (
        load_table(spark, sf_dir, "orders")
        .select("o_custkey", "o_orderdate", "o_orderkey")
        .collect()
    ):
        od = r.o_orderdate.date() if hasattr(r.o_orderdate, "date") else r.o_orderdate
        per[r.o_custkey].append(
            (od, od + timedelta(days=r.o_orderkey % 90 + 1))
        )
    expect = {}
    for ck, ivs in per.items():
        ivs.sort()
        covered = 0
        cur_lo, cur_hi = ivs[0]
        for lo, hi in ivs[1:]:
            if lo > cur_hi:
                covered += (cur_hi - cur_lo).days
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        covered += (cur_hi - cur_lo).days
        expect[ck] = (
            len(ivs),
            covered,
            min(lo for lo, _ in ivs),
            max(hi for _, hi in ivs),
        )
    got = {
        r.custkey: (r.n_orders, r.covered_days, r.first_day, r.last_day)
        for r in interval_union_measure(spark, sf_dir).collect()
    }
    assert got == expect
    # overlaps actually merged somewhere (measure < sum of lengths)
    assert any(
        v[1] < sum((hi - lo).days for lo, hi in per[k])
        for k, v in expect.items()
    )


def test_zone_map_skip_stats_semantics(spark, sf_dir):
    """Python replay of both layouts' zone maps + the artifact's point:
    the date-partitioned layout must out-skip the key-ordered layout
    on every predicate, and its skipped blocks are exactly the
    out-of-range months."""
    from collections import defaultdict
    from datetime import date

    from spark_streaming_clustering_spark.operators.extras_surface import (
        _ZMS_BLOCK,
        _ZMS_QUARTERS,
        zone_map_skip_stats,
    )

    rows = (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderdate")
        .collect()
    )
    zones = defaultdict(lambda: [date.max, date.min, 0])
    for r in rows:
        od = r.o_orderdate.date() if hasattr(r.o_orderdate, "date") else r.o_orderdate
        for layout, blk in (
            ("key_order", r.o_orderkey // _ZMS_BLOCK),
            ("date_month", od.year * 12 + od.month),
        ):
            z = zones[(layout, blk)]
            z[0], z[1], z[2] = min(z[0], od), max(z[1], od), z[2] + 1
    expect = {}
    for q, lo_s, hi_s in _ZMS_QUARTERS:
        lo = date.fromisoformat(lo_s)
        hi = date.fromisoformat(hi_s)
        for layout in ("key_order", "date_month"):
            zs = [v for (l, _b), v in zones.items() if l == layout]
            skipped = [v for v in zs if v[1] < lo or v[0] >= hi]
            tot = sum(v[2] for v in zs)
            expect[(layout, q)] = (
                len(zs),
                len(skipped),
                sum(v[2] for v in skipped),
                tot,
                sum(v[2] for v in skipped) * 1_000_000 // tot,
            )
    got = {
        (r.layout, r.q): (
            r.n_blocks,
            r.blocks_skipped,
            r.rows_skipped,
            r.n_rows_total,
            r.skip_micro,
        )
        for r in zone_map_skip_stats(spark, sf_dir).collect()
    }
    assert got == expect
    for q, _lo, _hi in _ZMS_QUARTERS:
        assert (
            got[("date_month", q)][4] > got[("key_order", q)][4]
        ), "clustered layout must out-skip the ingest-order layout"
        # date_month skips everything outside the predicate's months
        assert got[("date_month", q)][4] >= 900_000


def test_theil_sen_trend_matches_bruteforce(spark, sf_dir):
    """Python replay over all month pairs: truncated-toward-zero micros
    slopes, lower median under the full (slope, x_i, x_j) tie order,
    sign census; plus the robustness sanity that the median slope lies
    within the slope range."""
    from collections import defaultdict

    from spark_streaming_clustering_spark.operators.extras_surface import (
        theil_sen_trend,
    )

    months = defaultdict(int)
    for r in (
        load_table(spark, sf_dir, "orders")
        .select("o_orderdate", "o_totalprice")
        .collect()
    ):
        x = r.o_orderdate.year * 12 + r.o_orderdate.month
        months[x] += int(math.floor(r.o_totalprice * 100 + 0.5))
    xs = sorted(months)
    pairs = []
    for i, bx in enumerate(xs):
        for ax in xs[i + 1 :]:
            num = (months[ax] - months[bx]) * 1_000_000
            den = ax - bx
            q = abs(num) // den
            pairs.append((-q if num < 0 else q, bx, ax))
    pairs.sort()
    n = len(pairs)
    med = pairs[(n + 1) // 2 - 1][0]
    rows = theil_sen_trend(spark, sf_dir).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (
        r.n_months,
        r.n_pairs,
        r.slope_micro_median,
        r.n_pos_slopes,
        r.n_neg_slopes,
    ) == (
        len(xs),
        n,
        med,
        sum(1 for s, _, _ in pairs if s > 0),
        sum(1 for s, _, _ in pairs if s < 0),
    )
    assert pairs[0][0] <= med <= pairs[-1][0]
    assert n == len(xs) * (len(xs) - 1) // 2


def test_isotonic_calibration_matches_minimax_and_pava(spark, sf_dir):
    """Three-way pin: (1) exact equality to a Python replay of the
    micros-floored minimax; (2) within 1 micro of the exact-fraction
    PAVA fit (the quantization contract the docstring states); (3) the
    exact PAVA fit is nondecreasing and the emitted fit regresses by
    at most 2 micros between adjacent cells."""
    from collections import defaultdict
    from fractions import Fraction

    from spark_streaming_clustering_spark.operators.extras_surface import (
        isotonic_calibration,
    )

    cells = defaultdict(lambda: [0, 0])
    for r in load_table(spark, sf_dir, "events").select("value", "event_type").collect():
        v = int(math.floor(r.value * 100 + 0.5)) // 100
        cells[v][0] += 1
        cells[v][1] += 1 if r.event_type == "purchase" else 0
    vs = sorted(cells)
    m = len(vs)
    cw = [0] * (m + 1)
    cs = [0] * (m + 1)
    for idx, v in enumerate(vs, 1):
        cw[idx] = cw[idx - 1] + cells[v][0]
        cs[idx] = cs[idx - 1] + cells[v][1]
    # floored-minimax replay (what the operator computes)
    a = {}
    for j in range(1, m + 1):
        for k in range(j, m + 1):
            a[(j, k)] = (cs[k] - cs[j - 1]) * 1_000_000 // (cw[k] - cw[j - 1])
    expect_fit = {}
    for i in range(1, m + 1):
        expect_fit[i] = max(
            min(a[(j, k)] for k in range(i, m + 1)) for j in range(1, i + 1)
        )
    # exact-fraction PAVA (independent algorithm: pooling, not minimax)
    blocks = []  # (weight, sum)
    for v in vs:
        w, s = cells[v]
        blocks.append((w, s))
        while len(blocks) >= 2 and Fraction(blocks[-2][1], blocks[-2][0]) >= Fraction(
            blocks[-1][1], blocks[-1][0]
        ):
            w2, s2 = blocks.pop()
            w1, s1 = blocks.pop()
            blocks.append((w1 + w2, s1 + s2))
    # expand blocks back to cells (blocks pool whole cells)
    pava_fit = []
    bi = 0
    remaining = blocks[0][0] if blocks else 0
    for v in vs:
        while remaining < cells[v][0]:
            # cell spans blocks only if pooling broke mid-cell — impossible
            # (blocks pool whole cells); advance defensively
            bi += 1
            remaining += blocks[bi][0]
        pava_fit.append(Fraction(blocks[bi][1], blocks[bi][0]))
        remaining -= cells[v][0]
        if remaining == 0 and bi + 1 < len(blocks):
            bi += 1
            remaining = blocks[bi][0]
    got = {
        r.v: (r.n, r.n_pos, r.rate_micro, r.fit_micro)
        for r in isotonic_calibration(spark, sf_dir).collect()
    }
    assert set(got) == set(vs)
    for idx, v in enumerate(vs, 1):
        n, s = cells[v]
        assert got[v][0] == n and got[v][1] == s
        assert got[v][2] == s * 1_000_000 // n
        assert got[v][3] == expect_fit[idx]  # (1) exact minimax replay
        exact_micro = (pava_fit[idx - 1].numerator * 1_000_000) // pava_fit[
            idx - 1
        ].denominator
        assert abs(got[v][3] - exact_micro) <= 1  # (2) quantization bound
    # (3) monotonicity: exact PAVA nondecreasing; emitted fit within 2
    for p, q in zip(pava_fit, pava_fit[1:]):
        assert p <= q
    fits = [got[v][3] for v in vs]
    for p, q in zip(fits, fits[1:]):
        assert q >= p - 2


def test_holt_linear_smoothing_matches_python_state_machine(spark, sf_dir):
    """Bit-exact Python replay of the integer state recursion: the
    engine's WITH RECURSIVE fixpoint must reproduce every (level,
    trend) pair; plus the smoothing contracts — level tracks the
    series (bounded by min/max of observed micros after warmup is
    excluded... asserted via residual bound), forecast = level +
    trend."""
    from collections import defaultdict

    from spark_streaming_clustering_spark.operators.extras_surface import (
        _HOLT_ADEN,
        _HOLT_ANUM,
        _HOLT_BDEN,
        _HOLT_BNUM,
        holt_linear_smoothing,
    )

    days = defaultdict(int)
    for r in load_table(spark, sf_dir, "events").select("ts", "value").collect():
        days[r.ts.date()] += int(math.floor(r.value * 100 + 0.5))
    ds = sorted(days)

    def idiv(a, b):  # truncation toward zero, both engines' semantics
        q = abs(a) // b
        return -q if a < 0 else q

    an, ad, bn, bd = _HOLT_ANUM, _HOLT_ADEN, _HOLT_BNUM, _HOLT_BDEN
    expect = {}
    lvl, trd = days[ds[0]] * 1_000_000, 0
    expect[ds[0]] = (days[ds[0]], lvl, trd)
    for d in ds[1:]:
        new_lvl = idiv(days[d] * 1_000_000 * an + (ad - an) * (lvl + trd), ad)
        trd = idiv((new_lvl - lvl) * bn + (bd - bn) * trd, bd)
        lvl = new_lvl
        expect[d] = (days[d], lvl, trd)
    got = {
        r.day: (r.y_cents, r.level_micro, r.trend_micro, r.forecast_next_micro)
        for r in holt_linear_smoothing(spark, sf_dir).collect()
    }
    assert set(got) == set(ds)
    for d in ds:
        y, lv, tr = expect[d]
        assert got[d] == (y, lv, tr, lv + tr), d
    # the smoother actually smooths: level stays within the observed
    # envelope (true for convex-combination updates with zero init bias
    # after the first step's exact seed)
    lo = min(v * 1_000_000 for v in days.values())
    hi = max(v * 1_000_000 for v in days.values())
    # trend term can push level slightly past the envelope; bound it
    span = hi - lo
    for d in ds:
        assert lo - span <= expect[d][1] <= hi + span


def test_bitemporal_pit_matches_python_replay(spark, sf_dir):
    """Python bitemporal replay: rebuild every order's version set,
    apply both interval predicates, and require (a) exact row match,
    (b) AT MOST ONE row per order (the bitemporal partition property),
    (c) every version kind exercised by the fixture."""
    from datetime import date, timedelta

    from spark_streaming_clustering_spark.operators.extras_surface import (
        _BT_AMND,
        _BT_CORR,
        _BT_SYS_T0,
        _BT_VALID_V0,
        bitemporal_pit_query,
    )

    t0 = date.fromisoformat(_BT_SYS_T0)
    v0 = date.fromisoformat(_BT_VALID_V0)
    inf = date(9999, 12, 31)
    expect = {}
    for r in (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderdate", "o_totalprice")
        .collect()
    ):
        od = (
            r.o_orderdate.date()
            if hasattr(r.o_orderdate, "date")
            else r.o_orderdate
        )
        c = int(math.floor(r.o_totalprice * 100 + 0.5))
        k = r.o_orderkey
        is_corr = k % _BT_CORR == 0
        is_amnd = k % _BT_AMND == 0
        corr = 100 if is_corr else 0
        vers = [
            (
                "original",
                c,
                od,
                inf,
                od,
                od + timedelta(days=10)
                if is_corr
                else (od + timedelta(days=20) if is_amnd else inf),
            )
        ]
        if is_corr:
            vers.append(
                (
                    "corrected",
                    c + 100,
                    od,
                    inf,
                    od + timedelta(days=10),
                    od + timedelta(days=20) if is_amnd else inf,
                )
            )
        if is_amnd:
            vers.append(
                (
                    "amended_pre",
                    c + corr,
                    od,
                    od + timedelta(days=30),
                    od + timedelta(days=20),
                    inf,
                )
            )
            vers.append(
                (
                    "amended_post",
                    c + corr + 200,
                    od + timedelta(days=30),
                    inf,
                    od + timedelta(days=20),
                    inf,
                )
            )
        hits = [
            (name, p, vf, sf)
            for (name, p, vf, vt, sf, st) in vers
            if sf <= t0 < st and vf <= v0 < vt
        ]
        assert len(hits) <= 1, (k, hits)  # bitemporal partition property
        if hits:
            expect[k] = hits[0]
    got = {
        r.orderkey: (r.version, r.price_cents, r.valid_from, r.sys_from)
        for r in bitemporal_pit_query(spark, sf_dir).collect()
    }
    assert got == expect and expect
    kinds = {v[0] for v in expect.values()}
    assert kinds == {"original", "corrected", "amended_pre", "amended_post"}


def test_kmv_sketch_matches_replay_and_merges(spark, sf_dir):
    """hashlib replay of every grain (members, k-th value, estimate,
    exact NDV) + the mergeability theorem made exact: the k smallest
    of the deduplicated UNION of per-group sketches must equal the
    from-scratch global sketch (true because a globally-k-smallest
    hash is k-smallest within its own group) — and both must equal
    the operator's ALL row."""
    import hashlib
    from collections import defaultdict

    from spark_streaming_clustering_spark.operators.extras_surface import (
        _KMV_D,
        _KMV_K,
        kmv_distinct_sketch,
    )

    users = defaultdict(set)
    for r in (
        load_table(spark, sf_dir, "events")
        .select("event_type", "user_id")
        .collect()
    ):
        users[r.event_type].add(r.user_id)

    def hv(u):
        return int(hashlib.md5(str(u).encode()).hexdigest()[:7], 16)

    def grain(uset):
        hs = sorted({hv(u) for u in uset})
        sk = hs[:_KMV_K]
        n_sk = len(sk)
        kth = sk[-1] if n_sk == _KMV_K else -1
        est = (
            n_sk
            if n_sk < _KMV_K
            else (_KMV_K - 1) * _KMV_D // max(kth, 1)
        )
        return sk, n_sk, kth, est

    expect = {}
    for et, uset in users.items():
        sk, n_sk, kth, est = grain(uset)
        expect[et] = (n_sk, kth, est, len(uset))
    all_users = set().union(*users.values())
    sk_all, n_all, kth_all, est_all = grain(all_users)
    expect["ALL"] = (n_all, kth_all, est_all, len(all_users))
    # mergeability: k smallest of the union of per-group sketches
    merged = sorted(set().union(*(set(grain(u)[0]) for u in users.values())))[
        :_KMV_K
    ]
    assert merged == sk_all
    got = {
        r.event_type: (r.n_sketch, r.kth_hash, r.est_ndv, r.exact_ndv)
        for r in kmv_distinct_sketch(spark, sf_dir).collect()
    }
    assert got == expect
    # the estimator estimates: within 50% on every full sketch (k=32
    # gives ~18% expected relative error; 50% is a loose determinism-
    # safe bound), exact on partial sketches
    for et, (n_sk, kth, est, exact) in expect.items():
        if n_sk < _KMV_K:
            assert est == exact
        else:
            assert abs(est - exact) <= exact // 2, (et, est, exact)


def test_benford_digit_audit_matches_census(spark, sf_dir):
    """Counter replay of the first-digit census; expected shares match
    math.log10 exactly (the embedded literals); shares sum to ~1e6."""
    from collections import Counter

    from spark_streaming_clustering_spark.operators.extras_surface import (
        _BENFORD_MICRO,
        benford_digit_audit,
    )

    cnt = Counter()
    for r in load_table(spark, sf_dir, "orders").select("o_totalprice").collect():
        cents = int(math.floor(r.o_totalprice * 100 + 0.5))
        cnt[int(str(cents)[0])] += 1
    total = sum(cnt.values())
    got = {
        r.digit: (r.n_obs, r.obs_micro, r.exp_micro, r.dev_micro)
        for r in benford_digit_audit(spark, sf_dir).collect()
    }
    assert set(got) <= set(range(1, 10))
    assert {d: v[0] for d, v in got.items()} == dict(cnt)
    for d, (n, obs, exp, dev) in got.items():
        assert obs == n * 1_000_000 // total
        assert exp == _BENFORD_MICRO[d] == int(math.log10(1 + 1 / d) * 1e6)
        assert dev == abs(obs - exp)
    s = sum(v[1] for v in got.values())
    assert 1_000_000 - len(got) <= s <= 1_000_000


# ---------------------------------------------------------------- round 10
# batch 6: temporal_join_sql2011 + kmv_set_ops


def test_temporal_join_matches_interval_replay(spark, sf_dir):
    """Python interval replay: rebuild the episode relation (per
    (custkey, day) spend, LEAD validity), the 4-quarter promo calendar,
    nested-loop the overlap predicate, and require the operator's rows
    EQUAL the replay — plus the SQL:2011 intersection invariants
    (ivl_from < ivl_to, overlap_days >= 1, intersection inside both
    input periods by construction)."""
    import datetime
    from collections import defaultdict

    from spark_streaming_clustering_spark.operators.extras_surface import (
        _TJ_HORIZON,
        _TJ_PROMO_YEAR,
        temporal_join_sql2011,
    )

    nat = {
        r.c_custkey: int(r.c_nationkey)
        for r in load_table(spark, sf_dir, "customer")
        .select("c_custkey", "c_nationkey")
        .collect()
    }
    day_spend = defaultdict(int)
    for r in (
        load_table(spark, sf_dir, "orders")
        .select("o_custkey", "o_orderdate", "o_totalprice")
        .collect()
    ):
        d = r.o_orderdate.date()
        day_spend[(r.o_custkey, d)] += int(
            math.floor(r.o_totalprice * 100 + 0.5)
        )
    horizon = datetime.date.fromisoformat(_TJ_HORIZON)
    by_cust = defaultdict(list)
    for (ck, d), sp in day_spend.items():
        by_cust[ck].append((d, sp))
    episodes = []
    for ck, rows in by_cust.items():
        rows.sort()
        for i, (d, sp) in enumerate(rows):
            vt = rows[i + 1][0] if i + 1 < len(rows) else horizon
            episodes.append((ck, nat[ck], d, vt, sp))
    y = _TJ_PROMO_YEAR
    cal = []
    for nk in sorted(set(nat.values())):
        for q in range(1, 5):
            pf = datetime.date(y, 3 * q - 2, 1)
            pt = (
                datetime.date(y + 1, 1, 1)
                if q == 4
                else datetime.date(y, 3 * q + 1, 1)
            )
            cal.append((nk, q, pf, pt, ((nk * 7 + q * 13) % 50) * 1000))
    expect = set()
    for ck, nk, vf, vt, sp in episodes:
        for cnk, q, pf, pt, rate in cal:
            if cnk == nk and vf < pt and pf < vt:
                ivf, ivt = max(vf, pf), min(vt, pt)
                expect.add(
                    (ck, nk, q, ivf, ivt, (ivt - ivf).days, sp, rate)
                )
    got = {tuple(r) for r in temporal_join_sql2011(spark, sf_dir).collect()}
    assert got == expect and len(got) >= 1
    for _, _, _, ivf, ivt, days, _, _ in got:
        assert ivf < ivt and days >= 1


def test_kmv_set_ops_matches_replay(spark, sf_dir):
    """hashlib replay of the whole theta chain per pair — merged
    sketch, theta, match count, union/intersection estimates — plus
    the exact counts and the partial-sketch fallback (n_merged < k ->
    estimates ARE the exact member counts of the merged hash sets)."""
    import hashlib
    from collections import defaultdict
    from itertools import combinations

    from spark_streaming_clustering_spark.operators.extras_surface import (
        _KMV_D,
        _KMV_K,
        kmv_set_ops,
    )

    users = defaultdict(set)
    for r in (
        load_table(spark, sf_dir, "events")
        .select("event_type", "user_id")
        .collect()
    ):
        users[r.event_type].add(r.user_id)

    def hv(u):
        return int(hashlib.md5(str(u).encode()).hexdigest()[:7], 16)

    sketch = {
        et: sorted({hv(u) for u in us})[:_KMV_K] for et, us in users.items()
    }
    expect = {}
    for a, b in combinations(sorted(users), 2):
        sa, sb = set(sketch[a]), set(sketch[b])
        merged = sorted(sa | sb)[:_KMV_K]
        n_merged = len(merged)
        theta = merged[-1] if n_merged == _KMV_K else -1
        n_match = sum(1 for v in merged if v in sa and v in sb)
        if n_merged < _KMV_K:
            est_union, est_inter = n_merged, n_match
        else:
            est_union = (_KMV_K - 1) * _KMV_D // max(theta, 1)
            est_inter = n_match * est_union // _KMV_K
        exact_inter = len(users[a] & users[b])
        exact_union = len(users[a] | users[b])
        expect[(a, b)] = (
            n_merged,
            theta,
            n_match,
            est_union,
            est_inter,
            est_inter * 1_000_000 // max(est_union, 1),
            exact_inter,
            exact_union,
        )
    got = {
        (r.type_a, r.type_b): (
            r.n_merged,
            r.theta,
            r.n_match,
            r.est_union,
            r.est_inter,
            r.est_jaccard_micro,
            r.exact_inter,
            r.exact_union,
        )
        for r in kmv_set_ops(spark, sf_dir).collect()
    }
    assert got == expect and len(got) >= 1
    # the estimator estimates: union within 50% of exact on every full
    # sketch (loose determinism-safe bound, the kmv_distinct precedent)
    for key, (n_m, _, _, est_u, _, _, _, ex_u) in expect.items():
        if n_m == _KMV_K:
            assert abs(est_u - ex_u) <= ex_u // 2, (key, est_u, ex_u)


# batch 7: mann_whitney_u + chi_square_independence


def test_mann_whitney_matches_rank_replay(spark, sf_dir):
    """Doubled-midrank Python replay: sort the pooled cents sample,
    assign each tied group 2*midrank = 2*below + tied + 1, form
    2*R_A and the U identities; operator must match bit-exactly and
    2U_A + 2U_B must equal 2*nA*nB (the U identity)."""
    from collections import Counter

    from spark_streaming_clustering_spark.operators.extras_surface import (
        mann_whitney_u,
    )

    ca, cb = Counter(), Counter()
    for r in (
        load_table(spark, sf_dir, "events")
        .select("event_type", "value")
        .collect()
    ):
        cents = int(math.floor(r.value * 100 + 0.5))
        (ca if r.event_type == "purchase" else cb)[cents] += 1
    n_a, n_b = sum(ca.values()), sum(cb.values())
    below, r2a = 0, 0
    for v in sorted(set(ca) | set(cb)):
        tied = ca[v] + cb[v]
        r2a += ca[v] * (2 * below + tied + 1)
        below += tied
    u2_a = r2a - n_a * (n_a + 1)
    u2_b = 2 * n_a * n_b - u2_a
    rb = (u2_a - n_a * n_b) * 1_000_000
    rb = rb // (n_a * n_b) if rb >= 0 else -((-rb) // (n_a * n_b))
    rows = mann_whitney_u(spark, sf_dir).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.n_a, r.n_b, r.u2_a, r.u2_b) == (n_a, n_b, u2_a, u2_b)
    assert r.u2_a + r.u2_b == 2 * n_a * n_b
    assert r.rank_biserial_micro == rb


def test_chi_square_matches_census_replay(spark, sf_dir):
    """Counter replay of the contingency census with the identical
    integer-micro formulas; every cell must match and the term sum
    must equal the replay's chi-square-in-micros."""
    from collections import Counter
    import datetime

    from spark_streaming_clustering_spark.operators.extras_surface import (
        chi_square_independence,
    )

    epoch = datetime.date(1970, 1, 1)
    cells = Counter()
    for r in load_table(spark, sf_dir, "events").select("event_type", "ts").collect():
        dow = (r.ts.date() - epoch).days % 7
        cells[(r.event_type, dow)] += 1
    n = sum(cells.values())
    rt = Counter()
    ct = Counter()
    for (et, dow), c in cells.items():
        rt[et] += c
        ct[dow] += c
    expect = {}
    for (et, dow), o in cells.items():
        e_micro = rt[et] * ct[dow] * 1_000_000 // n
        dev = o * 1_000_000 - e_micro
        expect[(et, dow)] = (o, e_micro, dev * dev // e_micro)
    got = {
        (r.event_type, r.dow): (r.n_obs, r.exp_micro, r.term_micro)
        for r in chi_square_independence(spark, sf_dir).collect()
    }
    assert got == expect and len(got) >= 1
    chi2 = sum(v[2] for v in expect.values())
    assert chi2 == sum(v[2] for v in got.values()) and chi2 >= 0


# batch 8: gini_concentration + acf_autocorrelation


def test_gini_matches_sorted_replay(spark, sf_dir):
    """Python replay: per-customer revenue, dollar-quantize, sort
    ascending, exact rank-weighted Gini; also the closed-form identity
    on the cell decomposition (2*sum i*x_i computed both ways) and the
    [0, 1e6) range."""
    from collections import defaultdict

    from spark_streaming_clustering_spark.operators.extras_surface import (
        gini_concentration,
    )

    rev = defaultdict(int)
    for r in (
        load_table(spark, sf_dir, "orders")
        .select("o_custkey", "o_totalprice")
        .collect()
    ):
        rev[r.o_custkey] += int(math.floor(r.o_totalprice * 100 + 0.5))
    xs = sorted((c // 100) * 100 for c in rev.values())
    n, s = len(xs), sum(xs)
    num2 = 2 * sum(i * x for i, x in enumerate(xs, start=1))
    gini = (num2 - (n + 1) * s) * 1_000_000 // (n * s)
    rows = gini_concentration(spark, sf_dir).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.n, r.total_cents, r.gini_micro) == (n, s, gini)
    assert 0 <= r.gini_micro < 1_000_000


def test_acf_matches_series_replay(spark, sf_dir):
    """Python replay of the rank-ordered daily series: exact
    integer-centered ACF at every lag 1..7, plus the pair-count
    arithmetic (n_pairs = n - lag)."""
    from collections import defaultdict

    from spark_streaming_clustering_spark.operators.extras_surface import (
        _ACF_MAX_LAG,
        acf_autocorrelation,
    )

    daily = defaultdict(int)
    for r in load_table(spark, sf_dir, "events").select("ts", "value").collect():
        daily[r.ts.date()] += int(math.floor(r.value * 100 + 0.5))
    ys = [daily[d] for d in sorted(daily)]
    n, s = len(ys), sum(ys)
    cs = [n * y - s for y in ys]
    den = sum(c * c for c in cs)
    expect = {}
    for k in range(1, _ACF_MAX_LAG + 1):
        if k >= n:
            continue
        num = sum(cs[i] * cs[i + k] for i in range(n - k))
        q = num * 1_000_000
        acf = q // den if q >= 0 else -((-q) // den)
        expect[k] = (n - k, acf)
    got = {
        r.lag: (r.n_pairs, r.acf_micro)
        for r in acf_autocorrelation(spark, sf_dir).collect()
    }
    assert got == expect and len(got) >= 1
    for _, acf in got.values():
        assert -1_000_000 <= acf <= 1_000_000


# batch 9: assoc_rules_lift + reciprocal_rank_fusion


def test_assoc_rules_match_basket_replay(spark, sf_dir):
    """Python basket replay: distinct (order, brand) presence sets,
    unordered pair counts, both rule directions with the identical
    integer-micro metrics; also the metric identities (symmetric lift,
    confidence_a->b * cnt_a == confidence_b->a * cnt_b scaled)."""
    from collections import Counter, defaultdict
    from itertools import combinations

    from spark_streaming_clustering_spark.operators.extras_surface import (
        _AR_MIN_PAIR,
        assoc_rules_lift,
    )

    brand = {
        r.p_partkey: r.p_brand
        for r in load_table(spark, sf_dir, "part")
        .select("p_partkey", "p_brand")
        .collect()
    }
    baskets = defaultdict(set)
    for r in (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .collect()
    ):
        baskets[r.l_orderkey].add(brand[r.l_partkey])
    n = len(baskets)
    marg = Counter()
    pairs = Counter()
    for bs in baskets.values():
        for b in bs:
            marg[b] += 1
        for a, b in combinations(sorted(bs), 2):
            pairs[(a, b)] += 1
    expect = {}
    for (a, b), cab in pairs.items():
        if cab < _AR_MIN_PAIR:
            continue
        for ant, con in ((a, b), (b, a)):
            expect[(ant, con)] = (
                cab,
                marg[ant],
                marg[con],
                cab * 1_000_000 // n,
                cab * 1_000_000 // marg[ant],
                cab * n * 1_000_000 // (marg[ant] * marg[con]),
            )
    got = {
        (r.antecedent, r.consequent): (
            r.cnt_ab,
            r.cnt_a,
            r.cnt_b,
            r.support_micro,
            r.confidence_micro,
            r.lift_micro,
        )
        for r in assoc_rules_lift(spark, sf_dir).collect()
    }
    assert got == expect and len(got) >= 2
    for (a, b), v in got.items():
        assert got[(b, a)][5] == v[5]  # lift is symmetric


def test_rrf_matches_rank_replay(spark, sf_dir):
    """Python replay of both per-language rankings (total orders via
    the doc_id tie-break), the RRF integer score, and the fused
    top-5 — set-equal to the operator."""
    from collections import defaultdict

    from spark_streaming_clustering_spark.operators.extras_surface import (
        _RRF_K,
        _RRF_TOP,
        reciprocal_rank_fusion,
    )

    import re as _re

    docs = defaultdict(list)
    for r in (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "lang", "n_chars", "text")
        .collect()
    ):
        toks = len(_re.split(r"\s+", r.text.strip()))
        docs[r.lang].append((r.doc_id, int(r.n_chars), toks))
    expect = set()
    for lang, rows in docs.items():
        r1 = {
            d: i
            for i, (d, _, _) in enumerate(
                sorted(rows, key=lambda t: (-t[1], t[0])), start=1
            )
        }
        r2 = {
            d: i
            for i, (d, _, _) in enumerate(
                sorted(rows, key=lambda t: (-t[2], t[0])), start=1
            )
        }
        scored = sorted(
            (
                (
                    1_000_000 // (_RRF_K + r1[d])
                    + 1_000_000 // (_RRF_K + r2[d]),
                    d,
                )
                for d, _, _ in rows
            ),
            key=lambda t: (-t[0], t[1]),
        )
        for fr, (sc, d) in enumerate(scored[:_RRF_TOP], start=1):
            expect.add((lang, fr, d, r1[d], r2[d], sc))
    got = {tuple(r) for r in reciprocal_rank_fusion(spark, sf_dir).collect()}
    assert got == expect and len(got) >= _RRF_TOP


# batch 10: mann_kendall_trend + time_weighted_average


def test_mann_kendall_matches_pair_replay(spark, sf_dir):
    """Python pair replay of S over the monthly series, the
    tie-corrected 18*Var closed form, and the direction census."""
    from collections import Counter, defaultdict

    from spark_streaming_clustering_spark.operators.extras_surface import (
        mann_kendall_trend,
    )

    monthly = defaultdict(int)
    for r in (
        load_table(spark, sf_dir, "orders")
        .select("o_orderdate", "o_totalprice")
        .collect()
    ):
        x = r.o_orderdate.year * 12 + r.o_orderdate.month
        monthly[x] += int(math.floor(r.o_totalprice * 100 + 0.5))
    ys = [monthly[x] for x in sorted(monthly)]
    n = len(ys)
    s_stat = sum(
        (ys[j] > ys[i]) - (ys[j] < ys[i])
        for i in range(n)
        for j in range(i + 1, n)
    )
    ties = Counter(ys)
    var18 = n * (n - 1) * (2 * n + 5) - sum(
        t * (t - 1) * (2 * t + 5) for t in ties.values()
    )
    rows = mann_kendall_trend(spark, sf_dir).collect()
    assert len(rows) == 1
    r = rows[0]
    direction = (
        "increasing" if s_stat > 0 else "decreasing" if s_stat < 0 else "none"
    )
    assert (r.n_months, r.s_stat, r.var18, r.direction) == (
        n,
        s_stat,
        var18,
        direction,
    )
    assert r.var18 >= 0


def test_twap_matches_locf_replay(spark, sf_dir):
    """Python LOCF replay: per-user event sequence ordered by
    (micros, event_id), interval = gap to the next event, grouped by
    the opening event's type; exact micro-duration weighting."""
    from collections import defaultdict

    from spark_streaming_clustering_spark.operators.extras_surface import (
        time_weighted_average,
    )

    import datetime

    epoch = datetime.datetime(1970, 1, 1)
    per_user = defaultdict(list)
    for r in (
        load_table(spark, sf_dir, "events")
        .select("user_id", "event_id", "event_type", "ts", "value")
        .collect()
    ):
        us = int((r.ts - epoch).total_seconds() * 1_000_000 + 0.5)
        per_user[r.user_id].append(
            (us, r.event_id, r.event_type, int(math.floor(r.value * 100 + 0.5)))
        )
    agg = defaultdict(lambda: [0, 0, 0])  # n, dur, wsum
    for rows in per_user.values():
        rows.sort()
        for (us, _, et, cents), (us2, _, _, _) in zip(rows, rows[1:]):
            a = agg[et]
            a[0] += 1
            a[1] += us2 - us
            a[2] += cents * (us2 - us)
    expect = {
        et: (n, dur, wsum * 1000 // dur)
        for et, (n, dur, wsum) in agg.items()
        if dur
    }
    got = {
        r.event_type: (r.n_intervals, r.total_dur_us, r.twap_milli_cents)
        for r in time_weighted_average(spark, sf_dir).collect()
    }
    assert got == expect and len(got) >= 1


# batch 11: winsorized_robust_mean + runs_test_randomness


def test_winsorized_mean_matches_sorted_replay(spark, sf_dir):
    """Python replay on the dollar-quantized multiset: ceil-rank cut
    values, clamp-sum and trim-sum with exact integer division; also
    the robustness orderings (trimmed/winsorized between min and max,
    n_kept <= n)."""
    from collections import Counter

    from spark_streaming_clustering_spark.operators.extras_surface import (
        _WINS_HI,
        _WINS_LO,
        winsorized_robust_mean,
    )

    cnt = Counter()
    for r in load_table(spark, sf_dir, "orders").select("o_totalprice").collect():
        cnt[(int(math.floor(r.o_totalprice * 100 + 0.5)) // 100) * 100] += 1
    n = sum(cnt.values())
    k_lo = (n * _WINS_LO + 99) // 100
    k_hi = (n * _WINS_HI + 99) // 100
    cum = 0
    lo_v = hi_v = None
    for v in sorted(cnt):
        cum += cnt[v]
        if lo_v is None and cum >= k_lo:
            lo_v = v
        if hi_v is None and cum >= k_hi:
            hi_v = v
    raw = sum(v * c for v, c in cnt.items()) * 1_000_000 // n
    wsum = sum(min(max(v, lo_v), hi_v) * c for v, c in cnt.items())
    kept = [(v, c) for v, c in cnt.items() if lo_v <= v <= hi_v]
    n_kept = sum(c for _, c in kept)
    tsum = sum(v * c for v, c in kept)
    rows = winsorized_robust_mean(spark, sf_dir).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (
        r.n,
        r.lo_v,
        r.hi_v,
        r.raw_mean_micro,
        r.winsorized_mean_micro,
        r.n_kept,
        r.trimmed_mean_micro,
    ) == (
        n,
        lo_v,
        hi_v,
        raw,
        wsum * 1_000_000 // n,
        n_kept,
        tsum * 1_000_000 // n_kept,
    )
    assert lo_v <= hi_v and n_kept <= n


def test_runs_test_matches_series_replay(spark, sf_dir):
    """Python replay: lower median of the daily series, drop at-median
    days, count sign runs along the day order, and the exact
    E[R]/Var[R] integer-micro moments."""
    from collections import defaultdict

    from spark_streaming_clustering_spark.operators.extras_surface import (
        runs_test_randomness,
    )

    daily = defaultdict(int)
    for r in load_table(spark, sf_dir, "events").select("ts", "value").collect():
        daily[r.ts.date()] += int(math.floor(r.value * 100 + 0.5))
    days = sorted(daily)
    ys = [daily[d] for d in days]
    med = sorted(ys)[(len(ys) + 1) // 2 - 1]
    signs = [1 if y > med else 0 for y in ys if y != med]
    n1 = sum(signs)
    n2 = len(signs) - n1
    n_runs = sum(
        1
        for i, s in enumerate(signs)
        if i == 0 or signs[i - 1] != s
    )
    n = n1 + n2
    exp_micro = 1_000_000 + 2 * n1 * n2 * 1_000_000 // n
    var_micro = (
        2 * n1 * n2 * (2 * n1 * n2 - n) * 1_000_000 // (n * n * (n - 1))
    )
    rows = runs_test_randomness(spark, sf_dir).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.n_runs, r.n_above, r.n_below, r.exp_runs_micro, r.var_runs_micro) == (
        n_runs,
        n1,
        n2,
        exp_micro,
        var_micro,
    )
    assert 1 <= r.n_runs <= n


# batch 12: capture_recapture_estimate + anova_oneway


def test_capture_recapture_matches_set_replay(spark, sf_dir):
    """Python set replay of the two parity occasions, both estimators,
    and the sanity ordering m <= min(n1, n2) <= true_distinct."""
    import datetime

    from spark_streaming_clustering_spark.operators.extras_surface import (
        capture_recapture_estimate,
    )

    epoch = datetime.date(1970, 1, 1)
    occ1, occ2, allu = set(), set(), set()
    for r in load_table(spark, sf_dir, "events").select("user_id", "ts").collect():
        allu.add(r.user_id)
        if (r.ts.date() - epoch).days % 2 == 0:
            occ1.add(r.user_id)
        else:
            occ2.add(r.user_id)
    n1, n2, m = len(occ1), len(occ2), len(occ1 & occ2)
    rows = capture_recapture_estimate(spark, sf_dir).collect()
    assert len(rows) == 1
    r = rows[0]
    lp = n1 * n2 // m if m else None
    chap = (n1 + 1) * (n2 + 1) // (m + 1) - 1
    assert (r.n1, r.n2, r.m, r.lincoln_petersen, r.chapman, r.true_distinct) == (
        n1,
        n2,
        m,
        lp,
        chap,
        len(allu),
    )
    assert m <= min(n1, n2) <= len(allu)


def test_anova_matches_group_replay(spark, sf_dir):
    """Python replay of the exact grouped sums-of-squares decomposition
    (per-term truncating division) and the F ratio; also the ANOVA
    identity ssb + ssw <= Q - T^2//N + k (within per-term truncation
    slack) and non-negativity."""
    from collections import defaultdict

    from spark_streaming_clustering_spark.operators.extras_surface import (
        anova_oneway,
    )

    groups = defaultdict(list)
    for r in (
        load_table(spark, sf_dir, "events")
        .select("event_type", "value")
        .collect()
    ):
        groups[r.event_type].append(int(math.floor(r.value * 100 + 0.5)))
    k = len(groups)
    n = sum(len(v) for v in groups.values())
    t = sum(sum(v) for v in groups.values())
    q = sum(c * c for v in groups.values() for c in v)
    sum_sg2 = sum(sum(v) * sum(v) // len(v) for v in groups.values())
    ssb = sum_sg2 - t * t // n
    ssw = q - sum_sg2
    f_micro = (ssb // (k - 1)) * 1_000_000 // (ssw // (n - k))
    rows = anova_oneway(spark, sf_dir).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.k, r.n, r.ss_between_cents2, r.ss_within_cents2, r.f_micro) == (
        k,
        n,
        ssb,
        ssw,
        f_micro,
    )
    assert r.ss_between_cents2 >= 0 and r.ss_within_cents2 >= 0


# batch 13: temporal_agg_sql2011 + psi_drift_vintages + misra_gries_topk


def test_temporal_agg_matches_sweep_replay(spark, sf_dir):
    """Python delta-sweep replay per priority; also the SQL:2011
    output invariants: intervals are disjoint, cover [first, last)
    per priority, and the dropped final row is the all-closed zero."""
    from collections import defaultdict

    from spark_streaming_clustering_spark.operators.extras_surface import (
        _TA_OPEN_DAYS,
        temporal_agg_sql2011,
    )

    import datetime

    deltas = defaultdict(lambda: defaultdict(lambda: [0, 0]))
    for r in (
        load_table(spark, sf_dir, "orders")
        .select("o_orderpriority", "o_orderdate", "o_totalprice")
        .collect()
    ):
        od = r.o_orderdate.date()
        cents = int(math.floor(r.o_totalprice * 100 + 0.5))
        d = deltas[r.o_orderpriority]
        d[od][0] += 1
        d[od][1] += cents
        end = od + datetime.timedelta(days=_TA_OPEN_DAYS)
        d[end][0] -= 1
        d[end][1] -= cents
    expect = set()
    for prio, dd in deltas.items():
        days = sorted(dd)
        cn = cc = 0
        for i, day in enumerate(days):
            cn += dd[day][0]
            cc += dd[day][1]
            if i + 1 < len(days):
                expect.add((prio, day, days[i + 1], cn, cc))
            else:
                assert cn == 0 and cc == 0  # final all-closed row
    got = {tuple(r) for r in temporal_agg_sql2011(spark, sf_dir).collect()}
    assert got == expect and len(got) >= 5
    by_prio = defaultdict(list)
    for prio, vf, vt, _, _ in got:
        by_prio[prio].append((vf, vt))
    for ivls in by_prio.values():
        ivls.sort()
        for (f1, t1), (f2, _) in zip(ivls, ivls[1:]):
            assert t1 == f2 and f1 < t1  # disjoint, contiguous


def test_psi_matches_binned_replay(spark, sf_dir):
    """Python replay of the smoothed binned PSI terms (4 dp, within a
    half-ulp of the rounding grid) and the sign structure: a term is
    ~0 iff the shares match, positive otherwise (PSI terms are always
    >= 0 up to rounding)."""
    from collections import Counter

    from spark_streaming_clustering_spark.operators.extras_surface import (
        _PSI_BIN_DOLLARS,
        _PSI_SPLIT_YEAR,
        psi_drift_vintages,
    )

    base, new = Counter(), Counter()
    for r in (
        load_table(spark, sf_dir, "orders")
        .select("o_orderdate", "o_totalprice")
        .collect()
    ):
        b = int(math.floor(r.o_totalprice)) // _PSI_BIN_DOLLARS
        (base if r.o_orderdate.year < _PSI_SPLIT_YEAR else new)[b] += 1
    bins = sorted(set(base) | set(new))
    nb = {b: base[b] + 1 for b in bins}
    nn = {b: new[b] + 1 for b in bins}
    sb, sn = sum(nb.values()), sum(nn.values())
    expect = {}
    for b in bins:
        p, q = nb[b] / sb, nn[b] / sn
        expect[b] = (nb[b], nn[b], (p - q) * math.log(p / q))
    got = {
        r.bin: (r.n_base, r.n_new, r.psi_term_4dp)
        for r in psi_drift_vintages(spark, sf_dir).collect()
    }
    assert set(got) == set(expect) and len(got) >= 2
    for b, (eb, en, term) in expect.items():
        gb, gn, gt = got[b]
        assert (gb, gn) == (eb, en)
        assert abs(gt - term) <= 5.1e-5  # the 4-dp rounding grid
        assert gt >= -5.1e-5  # PSI terms are non-negative
    psi = sum(v[2] for v in got.values())
    assert psi >= 0


def test_misra_gries_matches_canonical_replay(spark, sf_dir):
    """Python replay of the whole canonical construction (per-bucket
    decrement, merge, re-decrement) plus the MG guarantees: est <=
    true <= est + err_bound for every emitted row, and every user
    whose true count exceeds err_bound is present."""
    from collections import Counter

    from spark_streaming_clustering_spark.operators.extras_surface import (
        _MG_BUCKETS,
        _MG_K,
        misra_gries_topk,
    )

    cnt = Counter()
    for r in load_table(spark, sf_dir, "events").select("user_id").collect():
        cnt[r.user_id] += 1
    summ = Counter()
    tbkt = {}  # per-bucket (k+1)-th threshold — the TIGHT bound component
    for bkt in range(_MG_BUCKETS):
        items = sorted(
            ((u, c) for u, c in cnt.items() if u % _MG_BUCKETS == bkt),
            key=lambda t: (-t[1], t[0]),
        )
        t = items[_MG_K][1] if len(items) > _MG_K else 0
        tbkt[bkt] = t
        for u, c in items[:_MG_K]:
            if c - t > 0:
                summ[u] += c - t
    mitems = sorted(summ.items(), key=lambda t: (-t[1], t[0]))
    gt = mitems[_MG_K][1] if len(mitems) > _MG_K else 0
    expect = {
        u: (w - gt, cnt[u], tbkt[u % _MG_BUCKETS] + gt)
        for u, w in mitems[:_MG_K]
        if w - gt > 0
    }
    got = {
        r.user_id: (r.est_weight, r.true_count, r.err_bound)
        for r in misra_gries_topk(spark, sf_dir).collect()
    }
    assert got == expect and len(got) >= 1
    for u, (est, true, err) in got.items():
        assert est <= true <= est + err
    # completeness under the TIGHT per-user bound: any user whose true
    # count exceeds t_bucket(u) + gt cannot have been decremented to zero
    for u, c in cnt.items():
        bound = tbkt[u % _MG_BUCKETS] + gt
        if c > bound:
            assert u in got, (u, c, bound)


# batch 14: interval_coalesce_pack + ewma_control_chart


def test_pack_matches_merge_replay(spark, sf_dir):
    """Python merge replay of the PACK semantics (overlap OR half-open
    adjacency coalesces) including island numbering; plus the output
    invariants: per customer the packed intervals are disjoint AND
    non-adjacent, and their total measure equals the replay's."""
    import datetime
    from collections import defaultdict

    from spark_streaming_clustering_spark.operators.extras_surface import (
        _TA_OPEN_DAYS,
        interval_coalesce_pack,
    )

    periods = defaultdict(list)
    for r in (
        load_table(spark, sf_dir, "orders")
        .select("o_custkey", "o_orderdate")
        .collect()
    ):
        s = r.o_orderdate.date()
        periods[r.o_custkey].append(
            (s, s + datetime.timedelta(days=_TA_OPEN_DAYS))
        )
    expect = set()
    for ck, ps in periods.items():
        ps.sort()
        island = 0
        cur_s = cur_e = None
        n = 0
        for s, e in ps:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    expect.add((ck, island, cur_s, cur_e, n))
                island += 1
                cur_s, cur_e, n = s, e, 1
            else:
                cur_e = max(cur_e, e)
                n += 1
        expect.add((ck, island, cur_s, cur_e, n))
    got = {tuple(r) for r in interval_coalesce_pack(spark, sf_dir).collect()}
    assert got == expect and len(got) >= 1
    by_cust = defaultdict(list)
    for ck, _, vf, vt, _ in got:
        by_cust[ck].append((vf, vt))
    for ivls in by_cust.values():
        ivls.sort()
        for (f1, t1), (f2, _) in zip(ivls, ivls[1:]):
            assert f2 > t1  # disjoint AND non-adjacent


def test_ewma_matches_state_replay(spark, sf_dir):
    """Python state-machine replay of the whole chart: mu, cents^2
    variance, the z and ramp recursions with truncating division, and
    the squared out-of-control comparison — bit-exact per day."""
    from collections import defaultdict

    from spark_streaming_clustering_spark.operators.extras_surface import (
        _EWMA_L2,
        _EWMA_LDEN,
        _EWMA_LNUM,
        ewma_control_chart,
    )

    daily = defaultdict(int)
    for r in load_table(spark, sf_dir, "events").select("ts", "value").collect():
        daily[r.ts.date()] += int(math.floor(r.value * 100 + 0.5))
    days = sorted(daily)
    ys = [daily[d] for d in days]
    n, sy = len(ys), sum(ys)
    syy = sum(y * y for y in ys)
    mu = sy * 1_000_000 // n
    var_c2 = syy // n - (sy // n) ** 2
    ln, ld = _EWMA_LNUM, _EWMA_LDEN
    f_num, f_den = (ld - ln) ** 2, ld * ld
    z, f = mu, 0
    expect = {}
    for d, y in zip(days, ys):
        z = (y * 1_000_000 * ln + (ld - ln) * z) // ld
        f = ((f_den - f_num) * 1_000_000 + f_num * f) // f_den
        oob = int(
            (z - mu) * (z - mu) * (ld * 2 - ln)
            > _EWMA_L2 * var_c2 * ln * f * 1_000_000
        )
        expect[d] = (y, z, f, oob)
    got = {
        r.day: (r.y_cents, r.z_micro, r.ramp_micro, r.out_of_control)
        for r in ewma_control_chart(spark, sf_dir).collect()
    }
    assert got == expect and len(got) == n
    assert all(0 <= v[2] <= 1_000_000 for v in got.values())


def _btj_python_replay(orders_rows, customers, sys_at):
    """Pure-Python bitemporal temporal-join replay: version sets,
    system-axis filter at ``sys_at`` (None = latest knowledge), then
    the overlap join against the promo calendar.  Returns the exact
    output tuple set."""
    from datetime import date, timedelta

    from spark_streaming_clustering_spark.operators.extras_surface import (
        _BT_AMND,
        _BT_CORR,
        _TJ_PROMO_YEAR,
    )

    inf = date(9999, 12, 31)
    y = _TJ_PROMO_YEAR
    cal = {}
    for nk in set(customers.values()):
        for q in range(1, 5):
            p_from = date(y, 3 * q - 2, 1)
            p_to = date(y + 1, 1, 1) if q == 4 else date(y, 3 * q + 1, 1)
            cal.setdefault(nk, []).append(
                (q, p_from, p_to, ((nk * 7 + q * 13) % 50) * 1000)
            )
    out = set()
    for k, od, price in orders_rows:
        c = price
        is_corr = k % _BT_CORR == 0
        is_amnd = k % _BT_AMND == 0
        corr = 100 if is_corr else 0
        vers = [
            (
                "original", c, od, inf, od,
                od + timedelta(days=10)
                if is_corr
                else (od + timedelta(days=20) if is_amnd else inf),
            )
        ]
        if is_corr:
            vers.append(
                ("corrected", c + 100, od, inf, od + timedelta(days=10),
                 od + timedelta(days=20) if is_amnd else inf)
            )
        if is_amnd:
            vers.append(
                ("amended_pre", c + corr, od, od + timedelta(days=30),
                 od + timedelta(days=20), inf)
            )
            vers.append(
                ("amended_post", c + corr + 200, od + timedelta(days=30),
                 inf, od + timedelta(days=20), inf)
            )
        nk = customers[k]
        for name, p, vf, vt, sf, st in vers:
            if sys_at is not None and not (sf <= sys_at < st):
                continue
            if sys_at is None and st != inf:
                continue  # latest knowledge = open system interval
            for q, pf, pt, rate in cal[nk]:
                if vf < pt and pf < vt:
                    iv_f, iv_t = max(vf, pf), min(vt, pt)
                    out.add(
                        (k, nk, q, name, iv_f, iv_t, (iv_t - iv_f).days,
                         p, rate)
                    )
    return out


def _btj_fixture_rows(sf_path: str):
    import duckdb

    orders = [
        (k, od, c)
        for k, od, c in duckdb.execute(
            "SELECT o_orderkey, CAST(o_orderdate AS DATE), "
            "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) FROM "
            f"read_parquet('{sf_path}/orders.parquet')"
        ).fetchall()
    ]
    cust_nation = dict(
        duckdb.execute(
            "SELECT c_custkey, CAST(c_nationkey AS BIGINT) FROM "
            f"read_parquet('{sf_path}/customer.parquet')"
        ).fetchall()
    )
    # map orderkey -> nationkey via custkey
    ck = dict(
        duckdb.execute(
            "SELECT o_orderkey, o_custkey FROM "
            f"read_parquet('{sf_path}/orders.parquet')"
        ).fetchall()
    )
    customers = {k: cust_nation[ck[k]] for k, _, _ in orders}
    return orders, customers


def test_bitemporal_temporal_join_matches_replay(spark, sf_dir):
    """Exact replay pin plus the amendment-split tooth: some order
    contributes BOTH amended_pre and amended_post joined rows at
    different prices (the interval×interval result bitemporal_pit's
    point read cannot emit)."""
    from datetime import date

    from spark_streaming_clustering_spark.operators.extras_surface import (
        _BT_SYS_T0,
        bitemporal_temporal_join,
    )

    orders, customers = _btj_fixture_rows(sf_dir)
    expect = _btj_python_replay(
        orders, customers, date.fromisoformat(_BT_SYS_T0)
    )
    got = {
        (r.orderkey, r.nationkey, r.quarter, r.version, r.ivl_from,
         r.ivl_to, r.overlap_days, r.price_cents, r.rate_micro)
        for r in bitemporal_temporal_join(spark, sf_dir).collect()
    }
    assert got == expect and len(got) >= 1
    by_key = {}
    for row in got:
        by_key.setdefault(row[0], set()).add((row[3], row[7]))
    splits = [
        k for k, vs in by_key.items()
        if {v for v, _ in vs} >= {"amended_pre", "amended_post"}
        and len({p for _, p in vs}) >= 2
    ]
    assert splits, "no amendment split reached the join — tooth (a) vacuous"
    assert all(r[6] >= 1 for r in got)  # no reversed/empty intersections


def test_bitemporal_temporal_join_system_axis_is_load_bearing():
    """Non-vacuity tooth (b), at the driver's oracle scale: the AS-OF
    join differs from the CURRENT-knowledge join (late-December
    amendments recorded after T0 exist in the fixture), so the system
    filter does real work rather than being a pass-through."""
    from datetime import date

    from spark_streaming_clustering_spark.operators.extras_surface import (
        _BT_SYS_T0,
    )

    orders, customers = _btj_fixture_rows("/root/testdata/sf0.01")
    asof = _btj_python_replay(
        orders, customers, date.fromisoformat(_BT_SYS_T0)
    )
    latest = _btj_python_replay(orders, customers, None)
    assert asof != latest
    only_latest = {r for r in latest if r not in asof}
    assert any(r[3] in ("amended_pre", "amended_post") for r in only_latest)


# --------------------------------------------------------------------------
# join_ivm_delta, spearman_corr
# --------------------------------------------------------------------------


def test_join_ivm_delta_self_consistency(spark, sf_dir):
    """Every row's merged view equals the from-scratch recompute and the
    delta terms are non-empty (both fact- and dim-side inserts really
    contribute)."""
    from spark_streaming_clustering_spark.operators.extras_surface import (
        join_ivm_delta,
    )

    rows = join_ivm_delta(spark, sf_dir).collect()
    assert rows and all(r.ivm_equals_recompute for r in rows)
    assert any(r.n_delta > 0 for r in rows)
    assert all(r.n_after == r.n_base + r.n_delta for r in rows)


def test_spearman_matches_pandas_replication(spark, sf_dir):
    """Independent replication: rank both variables with the same
    deterministic (value, doc_id) tiebreak in pandas and recompute
    rho exactly; assert bounds and the strong-positive fixture signal
    (the probe rejected near-zero orders-side pairs as exhibits)."""
    from spark_streaming_clustering_spark.operators.extras_surface import (
        spearman_corr,
    )

    row = spearman_corr(spark, sf_dir).collect()[0]
    assert -1_000_000 <= row.spearman_micro <= 1_000_000
    assert row.spearman_micro > 900_000  # n_chars ~ words: real signal
    con = duck_con(sf_dir)
    df = con.execute(
        """SELECT doc_id AS k, CAST(n_chars AS BIGINT) AS x,
                  CAST(length(text) - length(replace(text,' ','')) + 1
                       AS BIGINT) AS y FROM documents"""
    ).fetchdf()
    df = df.sort_values(["x", "k"]).reset_index(drop=True)
    df["rx"] = range(1, len(df) + 1)
    df = df.sort_values(["y", "k"]).reset_index(drop=True)
    df["ry"] = range(1, len(df) + 1)
    d2 = int(((df.rx - df.ry) ** 2).sum())
    n = len(df)
    assert (row.n, row.sum_d2) == (n, d2)
    assert row.spearman_micro == 1_000_000 - (6_000_000 * d2) // (n * (n * n - 1))


# --------------------------------------------------------------------------
# exact_quantile_bisect
# --------------------------------------------------------------------------


SFS = ("sf0.001", "sf0.01", "sf0.1")


def _cents(sf: str) -> list[int]:
    """Integer cents computed INDEPENDENTLY in Python (floor(x*100+0.5)
    == HALF_UP for positive doubles) from the raw parquet column."""
    vals = duckdb.connect().execute(
        f"SELECT o_totalprice FROM read_parquet("
        f"'/root/testdata/{sf}/orders.parquet')"
    ).fetchall()
    return sorted(int(math.floor(v * 100 + 0.5)) for (v,) in vals)


@pytest.mark.parametrize("sf", SFS)
def test_eqb_matches_independent_sorted_selection(spark, sf):
    """Value-for-value pin at every fixture: the domain-bisection
    returns EXACTLY the k-th smallest a Python sort selects, for all
    five quantiles — and the domain-bound round count the docstring
    claims (B-bucket histogram: ceil(logB(hi-lo)) <= 3) holds at this
    fixture's domain.  (History: 2-way bisection took 26 rounds, the
    r13 4-way CASE-chain cut 13; the r14 histogram rewrite reaches
    2-3 rounds with CONSTANT per-row work — one integer divide — so
    the round/width trade-off that killed the 8/16-way CASE variants
    no longer applies.)"""
    from spark_streaming_clustering_spark.operators.extras_surface import (
        _EQB_BUCKETS,
        exact_quantile_bisect,
    )

    cents = _cents(sf)
    n = len(cents)
    rows = exact_quantile_bisect(spark, f"/root/testdata/{sf}").collect()
    assert len(rows) == 5, sf
    for r in rows:
        k = max(1, (n * r.pct) // 100)
        assert r.k == k, (sf, r.pct)
        assert r.exact_cents == cents[k - 1], (sf, r.pct)
    assert _EQB_BUCKETS >= 1024  # keeps the round bound below
    assert math.ceil(math.log(cents[-1] - cents[0], _EQB_BUCKETS)) <= 3, sf


def test_eqb_kth_invariant_under_ties():
    """Tie semantics at sf0.1 (the fixture WITH duplicate values):
    the selected v is the smallest value whose <=-count reaches k —
    count(<= v) >= k and count(<= v-1) < k — checked definitionally,
    independent of any ordering.  Also pins that ties genuinely exist,
    so the <=-count semantics are load-bearing, not vacuous."""
    import bisect

    cents = _cents("sf0.1")
    n = len(cents)
    assert len(set(cents)) < n  # duplicate cents values exist
    for pct in (25, 50, 75, 90, 99):
        k = max(1, (n * pct) // 100)
        v = cents[k - 1]
        assert bisect.bisect_right(cents, v) >= k
        assert bisect.bisect_right(cents, v - 1) < k


def test_eqb_probe_naive_model_disproved(spark):
    """The r13 probe fact the key's existence rests on: Spark's
    default-accuracy ``approx_percentile`` is NOT exact at sf0.01
    (p25 off by 14386 cents when probed) — so the exactness guarantee
    is a real contract, not a restatement of the sketch keys."""
    from pyspark.sql import functions as F

    cents = _cents("sf0.01")
    n = len(cents)
    ap = (
        spark.read.parquet("/root/testdata/sf0.01/orders.parquet")
        .select(
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("c")
        )
        .agg(*[
            F.expr(f"approx_percentile(c, {p / 100})").alias(f"p{p}")
            for p in (25, 50, 75, 90, 99)
        ])
        .collect()[0]
    )
    exact = {p: cents[max(1, (n * p) // 100) - 1] for p in (25, 50, 75, 90, 99)}
    assert any(ap[f"p{p}"] != exact[p] for p in exact)


# --------------------------------------------------------------------------
# ols_normal_equations
# --------------------------------------------------------------------------


def _doc_xy(sf: str):
    """(x1, x2, y) rows computed INDEPENDENTLY in Python from raw
    parquet text (only the feature DEFINITION is shared, by
    contract)."""
    rows = duckdb.connect().execute(
        f"SELECT n_chars, text FROM read_parquet("
        f"'/root/testdata/{sf}/documents.parquet')"
    ).fetchall()
    out = []
    for n_chars, text in rows:
        toks = text.split(" ")
        out.append((int(n_chars), len(toks), len(set(toks))))
    return out


@pytest.mark.parametrize("sf", SFS)
def test_ols_matches_independent_fraction_elimination(spark, sf):
    """Value-for-value pin at every fixture: the Cramer/truncating-
    division solve equals an INDEPENDENT exact solve by Gaussian
    elimination over Python Fractions, micro-truncated toward zero —
    a different algorithm over the same exact rationals."""
    from fractions import Fraction

    from spark_streaming_clustering_spark.operators.extras_surface import (
        ols_normal_equations,
    )

    xy = _doc_xy(sf)
    n = len(xy)
    a = [[Fraction(0)] * 3 for _ in range(3)]
    b = [Fraction(0)] * 3
    for x1, x2, y in xy:
        v = (1, x1, x2)
        for i in range(3):
            for j in range(3):
                a[i][j] += v[i] * v[j]
            b[i] += v[i] * y
    # Gaussian elimination with exact rationals
    m = [row + [rhs] for row, rhs in zip(a, b)]
    for c in range(3):
        p = next(r for r in range(c, 3) if m[r][c] != 0)
        m[c], m[p] = m[p], m[c]
        for r in range(3):
            if r != c and m[r][c] != 0:
                f = m[r][c] / m[c][c]
                m[r] = [mv - f * cv for mv, cv in zip(m[r], m[c])]
    betas = [m[i][3] / m[i][i] for i in range(3)]

    def trunc_micro(fr: Fraction) -> int:
        v = 1_000_000 * fr
        q = abs(v.numerator) // abs(v.denominator)
        return q if v >= 0 else -q

    row = ols_normal_equations(spark, f"/root/testdata/{sf}").collect()[0]
    assert row.n == n, sf
    got = (row.beta0_micro, row.beta1_micro, row.beta2_micro)
    assert got == tuple(trunc_micro(bb) for bb in betas), sf


def test_ols_probe_marginal_slope_model_disproved():
    """The r13 probe fact the key rests on: the JOINT beta for each
    feature differs from its MARGINAL regr_slope by far more than
    rounding — the features are collinear, so per-feature regr_*
    aggregates (regression_agg_q's class) cannot substitute for the
    joint solve.  Checked at every fixture with exact integers."""
    for sf in SFS:
        xy = _doc_xy(sf)
        n = len(xy)
        s1 = sum(x1 for x1, _, _ in xy)
        s2 = sum(x2 for _, x2, _ in xy)
        s11 = sum(x1 * x1 for x1, _, _ in xy)
        s22 = sum(x2 * x2 for _, x2, _ in xy)
        s12 = sum(x1 * x2 for x1, x2, _ in xy)
        sy = sum(y for _, _, y in xy)
        s1y = sum(x1 * y for x1, _, y in xy)
        s2y = sum(x2 * y for _, x2, y in xy)
        det = (
            n * (s11 * s22 - s12 * s12)
            - s1 * (s1 * s22 - s12 * s2)
            + s2 * (s1 * s12 - s11 * s2)
        )
        assert det != 0, sf  # fit precondition (singular -> raise)
        # int128 headroom for the oracle's HUGEINT arithmetic: the
        # largest intermediate is 1e6 * det_i
        det1 = (
            n * (s1y * s22 - s12 * s2y)
            - sy * (s1 * s22 - s12 * s2)
            + s2 * (s1 * s2y - s1y * s2)
        )
        assert abs(1_000_000 * det1) < 2**127, sf
        joint_b1 = (1_000_000 * det1) // det  # positive here: // == div
        marginal_b1 = (1_000_000 * (n * s1y - s1 * sy)) // (n * s11 - s1 * s1)
        assert abs(joint_b1 - marginal_b1) > 10_000, sf  # > 0.01/char
