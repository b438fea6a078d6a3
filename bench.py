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

Every row is the minimum of ``SAMPLES`` (5) samples.  The headline keys
are sampled in 5 passes over ``HEADLINE``, one sample per key per pass,
so each key's samples are spread across the run; the two G-Stream rows
then take 5 trials each the same way.  Nothing from earlier runs'
records decides what is sampled or reported.  Every raw sample, with
the host's CPU-steal ticks across it, goes to ``BENCH_SELF_r{N}.json``.
"""

from __future__ import annotations

import functools
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

# Every row reports the minimum of this many samples.
SAMPLES = 5

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
    # path on the trade graph (driver-paced loop);
    # delta-join view maintenance (2 broadcast joins + bounded merge)
    "graph_weighted_shortest_path",
    "join_ivm_delta",
    # round-12: distributed two-axis ranking + exact-integer rho;
    # single-scan six-measure OHLC hash aggregate
    "spearman_corr",
    "ohlc_resample",
    # round-12: greedy submodular selection pair (driver-paced rounds)
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
    # (driver-paced)
    "dedup_sorted_neighborhood",
    "exact_quantile_bisect",
    # round-13: one map-side-combined sufficient-statistics aggregate
    # + driver Cramer solve (the gram contract at d=3)
    "ols_normal_equations",
]


def _force(df) -> None:
    """Execute the full plan without materializing on the driver."""
    df.write.format("noop").mode("overwrite").save()


def _wall(spark, key: str) -> float:
    """Seconds to build one headline key's plan and force it."""
    t0 = time.monotonic()
    _force(QUERIES[key](spark, SF_DIR))
    return time.monotonic() - t0


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


def _min_of_passes(rows: dict) -> tuple[dict, dict]:
    """Sample every row ``SAMPLES`` times, pass-major, and report each
    row's minimum.

    ``rows`` maps a row name to a zero-argument callable that runs the
    row once and returns its sample.  Pass p samples every row, in
    order, before pass p+1 starts, so a row's samples are spread across
    the run and one host CPU-steal burst lands on one sample of each
    row it overlaps instead of on every sample of one row.  Returns
    ``(times, methods)``: the minimum sample per row, and per row its
    samples with the steal-tick delta across each (None where the
    counter is unavailable)."""
    samples: dict[str, list] = {k: [] for k in rows}
    steal: dict[str, list] = {k: [] for k in rows}
    for _ in range(SAMPLES):
        for key, run in rows.items():
            s0 = _cpu_steal_ticks()
            samples[key].append(round(run(), 3))
            s1 = _cpu_steal_ticks()
            steal[key].append(None if s0 is None or s1 is None else s1 - s0)
    times = {k: min(v) for k, v in samples.items()}
    methods = {
        k: {"method": f"min{SAMPLES}", "samples": samples[k], "steal": steal[k]}
        for k in rows
    }
    return times, methods


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
    self-artifact."""
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


def bench_estep_distributed(spark, sf_dir: str, n_nodes: int = 50) -> float:
    """Distributed E-step wall on one LARGE batch (the 100 TB path): all
    lineitem rows as 4-d points against a 50-node model via mapInPandas
    + broadcast.  Returns seconds."""
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
    return dt


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

    # One rule for every row: the minimum of SAMPLES samples.  Host CPU
    # steal only ever adds wall time (a 3-expression JSON projection
    # once ranged 2.8 s to 49 s across identical runs), so a row's
    # minimum is the sample closest to its cost, and interleaving the
    # samples in passes keeps one steal burst from owning all of them.
    times, methods = _min_of_passes(
        {key: functools.partial(_wall, spark, key) for key in HEADLINE}
    )

    # The G-Stream rows take the same rule after the passes.
    # bench_gstream's sample is mean model-update ms per ~100-point
    # batch (the baseline metric); the 20-batch epoch row is derived
    # from its minimum.
    g_times, g_methods = _min_of_passes(
        {
            "gstream_epoch_20x100": lambda: bench_gstream(spark, SF_DIR),
            "gstream_estep_distributed": lambda: bench_estep_distributed(
                spark, SF_DIR
            ),
        }
    )
    gstream_ms = g_times["gstream_epoch_20x100"]
    times["gstream_epoch_20x100"] = round(gstream_ms * 20 / 1000.0, 3)
    times["gstream_estep_distributed"] = g_times["gstream_estep_distributed"]
    g_methods["gstream_epoch_20x100"]["unit"] = "ms per batch"
    methods.update(g_methods)
    estep_points = load_table(spark, SF_DIR, "lineitem").count()

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
        "estep_points_per_sec": int(
            estep_points / times["gstream_estep_distributed"]
        ),
    }
    # Per-key steal ticks summed over the key's samples (VERDICT r13
    # item 1: make the driver-visible line self-adjudicating about host
    # noise) — a wall whose samples saw thousands of stolen ticks is
    # storm-contaminated, not regressed.  Per-sample deltas live in the
    # self-artifact; stdout carries only the worst offenders so the
    # tail-window budget is bounded (<= 8 entries, >= 1000 ticks).
    steal_sums = {k: sum(d or 0 for d in m["steal"]) for k, m in methods.items()}
    top_steal = dict(
        sorted(
            ((k, d) for k, d in steal_sums.items() if d >= 1000),
            key=lambda kv: -kv[1],
        )[:8]
    )
    # Full record — per-key sampling method + every raw sample — goes to
    # a repo file bench.py owns: the round driver captures only a tail
    # of stdout, and embedding ~55 keys' samples in the printed line
    # outgrew that window at r7 (BENCH_r07.json "parsed": null, the
    # round's one red pytest row).  Stdout stays a compact summary line
    # the tail window always fits (r6's methods-free line was 1592
    # chars and parsed fine); auditors read the self-artifact.
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
