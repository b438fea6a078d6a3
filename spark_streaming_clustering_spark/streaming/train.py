"""G-Stream trainers: batch loop and Structured Streaming wiring.

Mirrors the reference's training topology (batchStream.scala:82-121):
per micro-batch, distributed E-step -> driver M-step -> milestone
snapshots, with the B10 snapshot schedule and the B11 capped timing
buffer.  The streaming variant swaps the hand-rolled DStream loop for
``readStream.foreachBatch`` and gains checkpointed offsets for free —
the reference loses its model on driver crash.
"""

from __future__ import annotations

import os
import time
from collections.abc import Iterable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from .estep import compute_point_stats, estep_local
from .gstream_model import GStreamModel
from .params import GStreamParams


def snapshot_due(kk: int, nb_wind: int) -> bool:
    """B10 milestone predicate (batchStream.scala:95); integer division."""
    ninth = [m * nb_wind // 9 for m in range(1, 9)]
    return (
        kk == 1
        or kk in ninth
        or (kk > 8 * nb_wind // 9 + 10 and kk % 10 == 0)
        or kk >= nb_wind - 2
    )


def write_snapshot_text(model: GStreamModel, out_dir: str, kk: int,
                        time_updates: list[int]) -> None:
    """Snapshot families in the reference's own text formats
    (batchStream.scala:97-101; golden files under
    conf/test/results/DS1-200-3/): Prototypes/OutdatedProtos = vector
    components joined ', ' per line; Edges = adjacency rows printed as
    ``ArrayBuffer(...)``; Weights/timeUpdates = one number per line.
    Driver-side plain files (bounded by model size, <= ~300 rows).

    Format note: doubles are written with Python ``repr``, which agrees
    with Scala's ``Double.toString`` for ordinary magnitudes but not in
    the exponent-notation range (Python ``1e-05`` vs Scala ``1.0E-5``),
    so byte parity with the reference's goldens holds only for values
    outside that range — semantic parity is what the replay tests
    assert."""
    def vector_lines(vectors) -> list[str]:
        return [", ".join(repr(v) for v in vec.tolist()) for vec in vectors]

    protos = vector_lines(model.nodes)
    outdated = vector_lines(p.vector for p in model.outdated_nodes)
    edges = [
        "ArrayBuffer(" + ", ".join(str(int(v)) for v in row) + ")" for row in model.edges
    ]
    weights = [repr(float(w)) for w in model.weights]
    times = [str(int(t)) for t in time_updates]
    for family, lines in {
        "Prototypes": protos,
        "OutdatedProtos": outdated,
        "Edges": edges,
        "Weights": weights,
        "timeUpdates": times,
    }.items():
        d = os.path.join(out_dir, f"{family}-{kk}")
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, "part-00000"), "w") as f:
            f.write("\n".join(lines) + ("\n" if lines else ""))


def write_snapshot(spark: SparkSession, model: GStreamModel, out_dir: str, kk: int,
                   time_updates: list[int], first_batch: int = 0) -> None:
    """Snapshot families as parquet (reference writes text, batchStream.scala:97-101).

    ``first_batch`` is the absolute batch index of the capped timing
    buffer's head, so the ``batch`` column stays truthful after the
    B11 ring buffer starts dropping its front (the reference writes
    raw values with no index at all)."""
    tables = model.snapshot_tables()
    specs = {
        "Prototypes": (tables["prototypes"], "node_id long, vector array<double>"),
        "OutdatedProtos": (tables["outdated_protos"], "node_id long, vector array<double>"),
        "Edges": (tables["edges"], "src long, dst long"),
        "Weights": (tables["weights"], "node_id long, weight double"),
        "timeUpdates": (
            list(enumerate(time_updates, start=first_batch)),
            "batch int, cum_ms long",
        ),
    }
    for family, (rows, schema) in specs.items():
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(out_dir, f"{family}-{kk}")
        )


class GStreamTrainer:
    """Drives E-step + M-step over micro-batches (batch or streaming)."""

    def __init__(
        self,
        spark: SparkSession,
        params: GStreamParams | None = None,
        out_dir: str | None = None,
        nb_wind: int = 91,
        small_batch_rows: int = 5000,
        snapshot_format: str = "parquet",
        plot_snapshots: bool = False,
    ):
        self.spark = spark
        self.params = params or GStreamParams()
        self.model = GStreamModel(self.params)
        self.out_dir = out_dir
        self.nb_wind = nb_wind
        self.snapshot_format = snapshot_format
        # opt-in visual artifact at each B10 milestone — the reference's
        # {run}-{kk}_MapData.jpg counterpart (snapshot_plot.py)
        self.plot_snapshots = plot_snapshots
        self.kk = 1
        self.time_updates: list[int] = [0]  # cumulative ms, B11
        self.time_updates_base = 0  # absolute batch index of the buffer head
        # Batches at or below this row count run the E-step driver-local
        # (estep_local, zero Spark jobs); above it, distributed
        # compute_point_stats.  Probing costs one cheap limit() job.
        self.small_batch_rows = small_batch_rows

    def init_from_seed(self, seed: DataFrame | pd.DataFrame) -> "GStreamTrainer":
        """initModelObj: seed the graph with the first 2 points
        (batchStream.scala:72-78).  Accepts Spark or pandas input."""
        if isinstance(seed, pd.DataFrame):
            first_two = [seed["features"].iloc[0], seed["features"].iloc[1]]
        else:
            first_two = [r[0] for r in seed.select("features").limit(2).collect()]
        self.model.init_two_nodes(first_two[0], first_two[1])
        return self

    def step(self, batch: DataFrame | pd.DataFrame, batch_id: int | None = None) -> None:
        """One micro-batch: the foreachRDD body (batchStream.scala:86-116).

        Accepts a Spark DataFrame (columns features array<double>, id
        long) or an in-memory pandas batch with the same columns.  Spark
        input is probed with ``limit(small_batch_rows+1)`` — this doubles
        as the reference's ``count()>0`` empty guard — and small batches
        take the driver-local E-step; only genuinely large batches pay a
        distributed pass.
        """
        t0 = time.monotonic()
        pdf: pd.DataFrame | None
        if isinstance(batch, pd.DataFrame):
            pdf, big_df = batch, None
        else:
            probe = batch.select("features", "id").limit(self.small_batch_rows + 1).toPandas()
            if len(probe) <= self.small_batch_rows:
                pdf, big_df = probe, None
            else:
                pdf, big_df = None, batch
        if pdf is not None:
            if len(pdf) == 0:
                return
            x = np.stack(pdf["features"].to_numpy())
            ids = np.asarray(pdf["id"].to_numpy(), dtype=np.int64)
            stats = estep_local(x, ids, self.model.nodes)
        else:
            stats = compute_point_stats(big_df, self.model.nodes)
        self.model.update(stats, self.kk)
        elapsed_ms = int((time.monotonic() - t0) * 1000)
        self.time_updates.append(self.time_updates[-1] + elapsed_ms)
        if len(self.time_updates) > 100:
            self.time_updates.pop(0)
            self.time_updates_base += 1
        if self.out_dir and snapshot_due(self.kk, self.nb_wind):
            if self.snapshot_format == "text":
                write_snapshot_text(self.model, self.out_dir, self.kk, self.time_updates)
            else:
                write_snapshot(
                    self.spark, self.model, self.out_dir, self.kk,
                    self.time_updates, self.time_updates_base,
                )
            if self.plot_snapshots:
                from .snapshot_plot import write_snapshot_svg

                write_snapshot_svg(self.model, self.out_dir, self.kk)
        self.kk += 1

    # --- batch replay (M5) ------------------------------------------------
    def fit_batches(self, batches: Iterable[DataFrame]) -> GStreamModel:
        for df in batches:
            self.step(df)
        return self.model

    # --- structured streaming (M6) ---------------------------------------
    def fit_stream(
        self,
        stream_df: DataFrame,
        checkpoint_dir: str,
        trigger_ms: int = 100,
    ):
        """readStream -> foreachBatch(step); processing-time trigger like
        the reference's 100 ms batch interval (batchStreamRun.scala:32-34).
        Returns the running query; the caller owns its lifetime."""
        return (
            stream_df.writeStream.foreachBatch(lambda df, bid: self.step(df, bid))
            .option("checkpointLocation", checkpoint_dir)
            .trigger(processingTime=f"{trigger_ms} milliseconds")
            .start()
        )
