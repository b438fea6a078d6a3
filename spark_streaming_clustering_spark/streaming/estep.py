"""Distributed E-step: nearest-2 assignment + per-node stats aggregate.

Re-expresses the reference's map/aggregateByKey stage
(batchStreamModel.scala:63-78,111-125) Spark-first:

* the centroid matrix rides to executors once per batch (Spark
  broadcast — the reference closure-captures the whole model into
  every task, an implicit broadcast);
* ``mapInPandas`` computes distances vectorized (numpy/BLAS) and emits
  PER-PARTITION PARTIAL AGGREGATES keyed by (bmu1, bmu2) — the
  map-side combine the reference hand-codes with ``aggregateByKey``;
* the driver merges <= partitions x |observed (bmu1,bmu2)| tiny rows.

Scale: the shuffle the reference pays between map and reduce is gone
entirely — partials flow straight to the driver (bounded by N^2 per
partition, N <= ~300).  At 100 TB the same plan holds: the batch scan
is the only heavy stage and it is embarrassingly parallel.

Latency: even the trainer's ``limit().toPandas()`` probe, one small
Spark job, costs ~50 ms per batch (``step.self_ms_p50`` in perfbench's
traced stream run, local[2] on a 4-core host), so for small
micro-batches (the reference's measured regime is ~100 points per
100 ms window) the trainer uses ``estep_local`` — the same numpy kernel
run driver-side with zero Spark jobs — and only falls back to the
distributed plan when a batch exceeds the small-batch threshold.  The
reference has the same topology: its per-batch work at this scale is
driver-bound too.

Tie semantics: the reference sorts (distance, index) pairs, so equal
distances resolve to the lower node position (findTwoNearestPointDist1L,
batchStreamModel.scala:117-119).  numpy's stable argsort over the
distance row reproduces that.
"""

from __future__ import annotations

from collections import defaultdict

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .gstream_model import PointStats

PARTIAL_SCHEMA = (
    "bmu1 int, bmu2 int, cnt long, sum_d2 double, sum_vec array<double>, ids array<long>"
)


def _assign_top2(x: np.ndarray, cent: np.ndarray):
    """Vectorized nearest-2 assignment (findTwoNearestPointDist1L,
    batchStreamModel.scala:111-125).  Returns (bmu1, bmu2, d2_min).

    Deliberate deviation: the reference computes squaredDistance
    directly as sum((x-c)^2); we use the expanded BLAS form below,
    whose floating-point rounding can differ in the last ulp and flip a
    near-exact-tie bmu1/bmu2 pick relative to a reference trace.  Both
    internal paths (local + distributed) share this kernel, so the
    committed goldens are self-consistent; trace-level parity with the
    reference would require the direct form (and the reference's
    partition-dependent collect() order anyway makes its own traces
    non-deterministic)."""
    c_sq = (cent * cent).sum(axis=1)
    # ||x-c||^2 = ||x||^2 - 2 x.c + ||c||^2 (BLAS); clamp fp negatives
    d2 = np.maximum(
        (x * x).sum(axis=1)[:, None] - 2.0 * (x @ cent.T) + c_sq[None, :], 0.0
    )
    order = np.argsort(d2, axis=1, kind="stable")  # ties -> lower index
    bmu1 = order[:, 0]
    bmu2 = order[:, 1]
    d2_min = d2[np.arange(len(x)), bmu1]
    return bmu1, bmu2, d2_min


def _check_points(x: np.ndarray, widths, ids, dim: int) -> None:
    """Fail the batch, naming the first offending point id, on a point
    whose feature count differs from the model's dimension, then on a
    null or non-finite feature (an empty CSV field reads as null).
    Left in, a NaN distance makes the winner's prototype NaN for the
    rest of the run; the reference fails the batch too
    (``"".toDouble``).  A null ``widths`` entry (a null features array)
    is left to the finite check: its projected features are null."""
    widths = np.asarray(widths, dtype=np.float64)
    bad = np.isfinite(widths) & (widths != dim)
    if bad.any():
        i = np.argmax(bad)
        raise ValueError(
            f"point id {int(ids[i])} has {int(widths[i])} features,"
            f" the model has {dim}"
        )
    bad = ~np.isfinite(x).all(axis=1)
    if bad.any():
        raise ValueError(
            f"point id {int(ids[np.argmax(bad)])} has a null or non-finite feature"
        )


def _group_partials(x, ids, bmu1, bmu2, d2_min, n_cent):
    """Vectorized per-(bmu1, bmu2) partial aggregation — no per-row
    Python loop.  Yields (b1, b2, cnt, sum_d2, sum_vec, id_list)."""
    key = bmu1.astype(np.int64) * n_cent + bmu2
    uniq, inv = np.unique(key, return_inverse=True)
    k = len(uniq)
    cnt = np.bincount(inv, minlength=k)
    sum_d2 = np.bincount(inv, weights=d2_min, minlength=k)
    sum_vec = np.stack(
        [np.bincount(inv, weights=x[:, d], minlength=k) for d in range(x.shape[1])],
        axis=1,
    )
    order = np.argsort(inv, kind="stable")
    id_groups = np.split(np.asarray(ids)[order], np.cumsum(cnt)[:-1])
    for g in range(k):
        yield (
            int(uniq[g] // n_cent),
            int(uniq[g] % n_cent),
            int(cnt[g]),
            float(sum_d2[g]),
            sum_vec[g],
            id_groups[g],
        )


def _merge_partials(parts, dim: int) -> dict[int, PointStats]:
    """Fold ``(bmu1, bmu2, cnt, sum_d2, sum_vec, ids)`` partials — a
    ``_group_partials`` tuple or a collected ``PARTIAL_SCHEMA`` row —
    into the reference's pointStats keyed by winner position.  Partials
    fold in input order, so the float sums are reproducible."""
    out: dict[int, PointStats] = {}
    for b1, b2, cnt, sum_d2, sum_vec, ids in parts:
        st = out.get(b1)
        if st is None:
            st = out[b1] = PointStats(defaultdict(int), 0.0, np.zeros(dim), 0, set())
        st.bmu2_counts[b2] += cnt
        st.sum_d2 += sum_d2
        st.sum_vec = st.sum_vec + np.asarray(sum_vec)
        st.count += cnt
        st.ids.update(map(int, ids))
    return out


def estep_local(x: np.ndarray, ids: np.ndarray, centroids: np.ndarray) -> dict[int, PointStats]:
    """Driver-local E-step over an in-memory batch — zero Spark jobs.

    Identical math to the distributed path (same ``_assign_top2`` and
    ``_group_partials`` kernels), used for micro-batches below the
    trainer's small-batch threshold where job-scheduling latency would
    dominate.
    """
    x = np.ascontiguousarray(x, dtype=np.float64)
    _check_points(x, np.full(len(x), x.shape[1]), ids, centroids.shape[1])
    bmu1, bmu2, d2_min = _assign_top2(x, centroids)
    return _merge_partials(
        _group_partials(x, ids, bmu1, bmu2, d2_min, len(centroids)), x.shape[1]
    )


def _partial_stats(pdf_iter, centroids_bc):
    """Executor side: vectorized top-2 assignment + partial aggregation.

    Each batch holds one scalar double column per dimension, then the
    point's width ``n`` and ``id`` (see ``_estep_input``): the matrix is
    a cheap 2-D ``to_numpy`` over contiguous Arrow buffers, where an
    array<double> column would materialize one Python object per row.
    """
    cent = centroids_bc.value  # (n, dim) float64
    dim = cent.shape[1]
    for pdf in pdf_iter:
        if len(pdf) == 0:
            continue
        x = pdf.iloc[:, :dim].to_numpy(dtype=np.float64)
        ids = pdf["id"].to_numpy()
        _check_points(x, pdf["n"].to_numpy(dtype=np.float64), ids, dim)
        bmu1, bmu2, d2_min = _assign_top2(x, cent)
        parts = list(_group_partials(x, ids, bmu1, bmu2, d2_min, len(cent)))
        yield pd.DataFrame(
            {
                "bmu1": [p[0] for p in parts],
                "bmu2": [p[1] for p in parts],
                "cnt": [p[2] for p in parts],
                "sum_d2": [p[3] for p in parts],
                "sum_vec": [p[4].tolist() for p in parts],
                # np.tolist() yields Python ints ~10x faster than a
                # per-element int() comprehension at big-batch sizes
                "ids": [np.asarray(p[5], dtype=np.int64).tolist() for p in parts],
            }
        )


def _estep_input(batch_df: DataFrame, dim: int) -> DataFrame:
    """The E-step's input projection: ``features[0] .. features[dim-1]``
    as scalar columns, then ``size(features) AS n``, then ``id``.  When
    ``features`` is built with ``array(x0, x1, ...)``
    (``sources.points.read_points``), Catalyst folds each
    ``features[i]`` back to its source column and ``n`` to a literal,
    so the scan feeds Arrow scalar columns and no array is ever built.
    ``get`` yields null past the end of a narrower array (where ANSI
    ``features[i]`` would raise), so the width check in the executor
    names the point."""
    feats = [F.get("features", i).alias(f"features[{i}]") for i in range(dim)]
    return batch_df.select(*feats, F.size("features").alias("n"), "id")


def compute_point_stats(batch_df: DataFrame, centroids: np.ndarray) -> dict[int, PointStats]:
    """Run the E-step for one micro-batch.

    ``batch_df`` needs columns (features array<double>, id long).
    Returns the reference's pointStats keyed by winner position.
    """
    spark = batch_df.sparkSession
    centroids_bc = spark.sparkContext.broadcast(np.ascontiguousarray(centroids))
    try:
        rows = _estep_input(batch_df, centroids.shape[1]).mapInPandas(
            lambda it: _partial_stats(it, centroids_bc), PARTIAL_SCHEMA
        ).collect()
    finally:
        # destroy, not unpersist: unpersist leaves the broadcast's pickle
        # file in the driver's temp dir until the session stops
        centroids_bc.destroy()
    return _merge_partials(rows, centroids.shape[1])
