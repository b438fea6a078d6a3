"""The stream workload: closed-loop drains of a staged CSV backlog through the
CLI's path, ``sources.points.stream_points`` -> ``GStreamTrainer.fit_stream``.

A drain starts a fresh query (fresh trainer, checkpoint and snapshot dirs)
over a directory of pre-staged files, one file per micro-batch, with a
0 ms processing-time trigger so processing sets the pace, and ends when
``processAllAvailable`` returns.  Each drain's final model is compared
with an in-memory replay of the same batches through
``GStreamTrainer.step(pandas)``: within float tolerance, because the
distributed E-step on burst files reorders sums.
"""

from __future__ import annotations

import os
import shutil
import threading
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from . import data
from .stats import median, percentile, work_cpu_s
from .trace import Tracer

DRAIN_TIMEOUT_S = 120.0
PHASES = ("latestOffset", "getBatch", "walCommit", "commitOffsets", "queryPlanning", "addBatch")


@dataclass(frozen=True)
class StreamSpec:
    dim: int
    rows: int  # points per ordinary file (one file per micro-batch)
    burst_rows: int  # points per burst file, above the trainer's small_batch_rows
    burst_every: int  # one burst file in each run of this many files
    files: int  # files per drain
    warm_files: int  # files in the set-up drain
    n_blobs: int
    min_drains: int  # timed drains per run at least; with tracing, every other one traced
    nb_wind: int = 91

    def sizes(self, n_files: int) -> list[int]:
        """Points per file: ``rows``, with a burst a quarter of the way
        through each run of ``burst_every`` files, so a short set-up drain
        has one too."""
        at = self.burst_every // 4
        return [self.burst_rows if i % self.burst_every == at else self.rows
                for i in range(n_files)]


SPECS = {
    # The reference's regime, ~100 2-D points per file with text snapshots
    # on the B10 schedule: per-trigger bookkeeping and the toPandas probe
    # dominate, and the E-step runs driver-local.  One file in 25 is a
    # burst far above small_batch_rows, which takes the distributed E-step
    # (CSV scan, mapInPandas + collect of partials with point ids).
    # 4 x 25 batches: enough for a p90 with ten samples beyond it, and
    # four drains to take a median over.
    "stream": StreamSpec(dim=2, rows=100, burst_rows=20_000, burst_every=25, files=25,
                         warm_files=10, n_blobs=5, min_drains=4),
}


@dataclass
class Drain:
    wall_s: float
    cpu_s: float  # CPU of the whole process tree over the drain
    expected: int  # micro-batches the backlog holds
    applied: int  # micro-batches the trainer applied
    durations: list[dict] = field(default_factory=list)  # durationMs per non-empty batch
    jobs: int = 0
    tasks: int = 0
    error: str | None = None
    matched: bool = False
    snapshot_dirs: int = 0
    snapshot_bytes: int = 0
    traced: bool = False
    model: object = None  # the trainer's final GStreamModel

    @property
    def failed(self) -> int:
        """Batches lost to a dead query or timeout; all of them on a mismatch."""
        return self.expected if not self.matched else self.expected - self.applied


def _await_drained(q, timeout_s: float) -> str | None:
    """Block until the query has processed its backlog; return an error or None."""
    errors: list[BaseException] = []

    def wait():
        try:
            q.processAllAvailable()
        except Exception as exc:  # noqa: BLE001 - reported as a failed drain
            errors.append(exc)

    waiter = threading.Thread(target=wait, daemon=True)
    waiter.start()
    waiter.join(timeout_s)
    if waiter.is_alive():
        q.stop()
        waiter.join(30)
        return f"drain timed out after {timeout_s:.0f} s"
    if errors:
        return f"{type(errors[0]).__name__}: {errors[0]}"
    exc = q.exception()
    return None if exc is None else str(exc)


def _jobs_and_tasks(spark, group: str) -> tuple[int, int]:
    tracker = spark.sparkContext.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    tasks = 0
    for job_id in jobs:
        info = tracker.getJobInfo(job_id)
        for stage_id in info.stageIds if info else ():
            stage = tracker.getStageInfo(stage_id)
            tasks += stage.numTasks if stage else 0
    return len(jobs), tasks


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _, files in os.walk(path)
        for f in files
    )


def _new_trainer(spark, spec: StreamSpec, seed_points: np.ndarray, out_dir: str | None):
    from spark_streaming_clustering_spark.streaming.train import GStreamTrainer

    # the CLI's text snapshots: the trainer's default parquet sink costs
    # seconds a snapshot and varies by a fifth from one to the next
    trainer = GStreamTrainer(spark, out_dir=out_dir, nb_wind=spec.nb_wind,
                             snapshot_format="text")
    return trainer.init_from_seed(pd.DataFrame({"features": list(seed_points)}))


def replay(spark, spec: StreamSpec, seed_points, batches):
    """Reference model: the same batches fed in memory through ``step``."""
    trainer = _new_trainer(spark, spec, seed_points, None)
    for x, ids in batches:
        trainer.step(pd.DataFrame({"features": list(x), "id": ids}))
    return trainer.model


def models_match(a, b) -> bool:
    """Same graph exactly; same prototypes, weights, errors and ages to 1e-9."""
    if a.node_ids != b.node_ids or not np.array_equal(a.edges, b.edges):
        return False
    if len(a.outdated_nodes) != len(b.outdated_nodes):
        return False
    for x, y in ((a.nodes, b.nodes), (a.weights, b.weights), (a.errors, b.errors),
                 (a.ages, b.ages)):
        if x.shape != y.shape:
            return False
        if not np.allclose(x, y, rtol=1e-9, atol=1e-9, equal_nan=True):
            return False
    return True


def expected_snapshots(n_batches: int, nb_wind: int) -> int:
    from spark_streaming_clustering_spark.streaming.train import snapshot_due

    return sum(snapshot_due(kk, nb_wind) for kk in range(1, n_batches + 1))


class StreamWorkload:
    """One stream workload: stage inputs, warm up, drain repeatedly, check."""

    def __init__(self, name: str, seed: int, work: str):
        self.spec = SPECS[name]
        self.seed = seed
        self.work = work
        self.drains: list[Drain] = []
        self.tracer = Tracer()

    def stage(self) -> None:
        spec = self.spec
        self.in_dir = os.path.join(self.work, "in")
        self.warm_dir = os.path.join(self.work, "warm-in")
        self.seed_points, self.batches = data.stage_point_files(
            self.in_dir, self.seed, spec.sizes(spec.files), spec.dim, spec.n_blobs)
        self.warm_points, _ = data.stage_point_files(
            self.warm_dir, self.seed + 1_000_003, spec.sizes(spec.warm_files), spec.dim,
            spec.n_blobs)

    def warm(self, spark) -> None:
        """A short drain through the same path, a burst included: JIT,
        codegen and the Python workers of the distributed E-step."""
        d = self._drain(spark, self.warm_dir, self.warm_points, self.spec.warm_files, "warm")
        if d.error is not None:
            raise RuntimeError(f"warm-up drain failed: {d.error}")

    def measure(self, spark, seconds: float, trace: bool) -> None:
        """Drain the backlog until ``seconds`` have passed and ``min_drains``
        drains ran; with ``trace``, every other drain runs under the tracer."""
        t0 = time.perf_counter()
        while len(self.drains) < self.spec.min_drains or time.perf_counter() - t0 < seconds:
            traced = trace and len(self.drains) % 2 == 1
            tag = f"d{len(self.drains)}"
            if traced:
                with self.tracer.installed():
                    d = self._drain(spark, self.in_dir, self.seed_points, self.spec.files, tag)
            else:
                d = self._drain(spark, self.in_dir, self.seed_points, self.spec.files, tag)
            d.traced = traced
            self.drains.append(d)

    def check(self, spark) -> None:
        reference = replay(spark, self.spec, self.seed_points, self.batches)
        want_snaps = expected_snapshots(self.spec.files, self.spec.nb_wind)
        for d in self.drains:
            d.matched = (
                d.error is None
                and d.applied == d.expected
                and d.snapshot_dirs == want_snaps
                and models_match(d.model, reference)
            )

    def _drain(self, spark, in_dir: str, seed_points, n_files: int, tag: str) -> Drain:
        from spark_streaming_clustering_spark.sources.points import stream_points

        ckpt = os.path.join(self.work, f"ckpt-{tag}")
        out = os.path.join(self.work, f"out-{tag}")
        trainer = _new_trainer(spark, self.spec, seed_points, out)
        stream = stream_points(spark, in_dir, dim=self.spec.dim, max_files_per_trigger=1)
        cpu0, t0 = work_cpu_s(), time.perf_counter()
        q = trainer.fit_stream(stream, checkpoint_dir=ckpt, trigger_ms=0)
        try:
            error = _await_drained(q, DRAIN_TIMEOUT_S)
            wall, cpu = time.perf_counter() - t0, work_cpu_s() - cpu0
            progress = q.recentProgress
        finally:
            q.stop()
        d = Drain(wall_s=wall, cpu_s=cpu, expected=n_files, applied=trainer.kk - 1, error=error,
                  model=trainer.model)
        d.durations = [p["durationMs"] for p in progress if p["numInputRows"] > 0]
        d.jobs, d.tasks = _jobs_and_tasks(spark, str(q.runId))
        if os.path.isdir(out):
            d.snapshot_dirs = sum(1 for n in os.listdir(out) if n.startswith("Prototypes-"))
            d.snapshot_bytes = _dir_bytes(out)
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(out, ignore_errors=True)
        return d

    # --- metrics ---------------------------------------------------------
    def ops(self) -> tuple[int, int]:
        """(micro-batches attempted, micro-batches failed) over timed drains."""
        return sum(d.expected for d in self.drains), sum(d.failed for d in self.drains)

    def end_to_end(self) -> dict[str, tuple[float | None, str]]:
        """Untraced drains.  ``op_ms`` and ``cpu_ms`` are medians over drains
        of each drain's own figure, so a drain slowed by the host's other
        tenants moves them less than a pooled median would."""
        plain = [d for d in self.drains if not d.traced]
        batch_ms = [p["triggerExecution"] for d in plain for p in d.durations]
        points = sum(self.spec.sizes(self.spec.files))
        return {
            "op_ms": (median([median([p["triggerExecution"] for p in d.durations])
                              for d in plain]), "ms"),
            "cpu_ms": (median([d.cpu_s * 1000.0 / d.expected for d in plain]), "ms"),
            "wall_s": (median([d.wall_s for d in plain]), "s"),
            "points_per_s": (median([points / d.wall_s for d in plain]), "points/s"),
            "batch_ms_p50": (median(batch_ms), "ms"),
            "batch_ms_p90": (percentile(batch_ms, 0.9), "ms"),
            "batch_samples": (len(batch_ms), "count"),
            "drain_walls": ([d.wall_s for d in plain], "s"),
        }

    def per_layer(self) -> dict[str, float]:
        traced = [d for d in self.drains if d.traced]
        plain = [d for d in self.drains if not d.traced]
        n = len(traced)
        durs = [p for d in traced for p in d.durations]
        tr = self.tracer

        def med(xs):
            return median(xs) if xs else 0.0

        out = {f"trigger.{ph}_ms_p50": med([p.get(ph, 0) for p in durs]) for ph in PHASES}
        out["trigger.bookkeeping_ms_p50"] = med(
            [p["triggerExecution"] - p.get("addBatch", 0) for p in durs])
        steps = [i for i, s in enumerate(tr.spans) if s.name == "step"]
        out["step.ms_p50"] = med([tr.spans[i].ms for i in steps])
        out["step.self_ms_p50"] = med([tr.self_ms(i) for i in steps])
        for layer, name in (("estep_local", "estep_local"), ("estep_dist", "estep_dist"),
                            ("mstep", "mstep"), ("snapshot", "snapshot")):
            out[f"{layer}.ms_p50"] = med([s.ms for s in tr.named(name)])
        out["estep_local.calls"] = len(tr.named("estep_local")) / n
        out["estep_dist.calls"] = len(tr.named("estep_dist")) / n
        out["estep_dist.ids_returned"] = sum(s.count for s in tr.named("estep_dist")) / n
        out["model.nodes_final"] = self.drains[-1].model.n_nodes
        out["snapshot.count"] = len(tr.named("snapshot")) / n
        out["snapshot.bytes"] = med([d.snapshot_bytes for d in traced])
        batches = sum(d.expected for d in self.drains)
        out["spark.jobs_per_batch"] = sum(d.jobs for d in self.drains) / batches
        out["spark.tasks_per_batch"] = sum(d.tasks for d in self.drains) / batches
        out["trace.overhead_frac"] = (
            median([d.wall_s for d in traced]) / median([d.wall_s for d in plain]) - 1.0)
        add_ms = sum(p.get("addBatch", 0) for p in durs)
        out["trace.addbatch_cover_frac"] = (
            sum(tr.spans[i].ms for i in steps) / add_ms if add_ms else 0.0)
        return out
