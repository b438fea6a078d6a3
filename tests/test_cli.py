"""End-to-end CLI test mirroring the reference's JUnit test shape
(batchStreamTest.scala:10-17: run main() on a dir of stream files with
an init file, then inspect text snapshots)."""

from __future__ import annotations

import os
import re
import time

import pytest
from pyspark.errors import StreamingQueryException

from spark_streaming_clustering_spark import cli


def test_cli_end_to_end(spark, tmp_path):
    data = tmp_path / "data"
    out = tmp_path / "out"
    data.mkdir()
    # init file: the reference's own two seed points (conf/test/resources)
    (data / "nodes2.txt").write_text("122,199,1,1\n243,434,2,2\n")
    # three stream files of 2-D points
    for b in range(3):
        lines = [
            f"{100 + 10 * b + i},{200 + 5 * i},{1 + i % 2},{b * 20 + i}"
            for i in range(20)
        ]
        (data / f"batch-{b}.csv").write_text("\n".join(lines) + "\n")

    trainer = cli.run(
        ["local[8]", str(data), str(out), "DS-test", ",", "0.9", "1.2", "3", "3"]
    )

    assert trainer.kk > 3  # processed nbWind batches
    snap = out / "DS-test-3"
    # B10: kk==1 always snapshots; nbWind=3 -> kk>=1 also hits kk>=nbWind-2
    protos = snap / "Prototypes-1" / "part-00000"
    assert protos.exists()
    first = protos.read_text().strip().splitlines()[0]
    assert len(first.split(", ")) == 2  # 2-D vectors, reference format
    edges = (snap / "Edges-1" / "part-00000").read_text().strip().splitlines()
    assert edges[0].startswith("ArrayBuffer(")
    weights = (snap / "Weights-1" / "part-00000").read_text().strip().splitlines()
    assert all(float(w) > 0 for w in weights)
    assert os.path.exists(snap / "timeUpdates-1" / "part-00000")


def test_cli_raises_when_the_query_dies(spark, tmp_path):
    """A query that dies before nbWind batches fails the run instead of
    returning a seed-only model (and exit code 0).  Here the snapshot
    dir's path is taken by a regular file, so the first snapshot
    raises inside foreachBatch."""
    data = tmp_path / "data"
    out = tmp_path / "out"
    data.mkdir()
    out.mkdir()
    (data / "nodes2.txt").write_text("122,199,1,1\n243,434,2,2\n")
    lines = [f"{100 + i},{200 + i},{i % 2},{i}" for i in range(20)]
    (data / "batch-0.csv").write_text("\n".join(lines) + "\n")
    (out / "DS-dead-3").write_text("not a directory\n")

    with pytest.raises(StreamingQueryException, match="NotADirectoryError"):
        cli.run(
            ["local[8]", str(data), str(out), "DS-dead", ",", "0.9", "1.2", "3", "3"]
        )
    assert not spark.streams.active


def test_cli_rerun_into_a_finished_checkpoint_fails_fast(spark, tmp_path):
    """A second run into the same dirSortie cannot resume (the model is
    in memory only) and its file source would see no new input, so it
    raises at once, naming the checkpoint dir, instead of waiting
    forever."""
    data = tmp_path / "data"
    out = tmp_path / "out"
    data.mkdir()
    (data / "nodes2.txt").write_text("122,199,1,1\n243,434,2,2\n")
    lines = [f"{100 + i},{200 + i},{i % 2},{i}" for i in range(20)]
    (data / "batch-0.csv").write_text("\n".join(lines) + "\n")
    argv = ["local[8]", str(data), str(out), "DS-again", ",", "0.9", "1.2", "3", "1"]
    cli.run(argv)

    t0 = time.monotonic()
    with pytest.raises(FileExistsError, match=re.escape(f"{out}/.ckpt-DS-again")):
        cli.run(argv)
    assert time.monotonic() - t0 < 5.0
    assert not spark.streams.active


def test_cli_txt_batch_files(spark, tmp_path):
    """The reference's datasets are .txt batch files next to nodes2.txt
    (README.md:4) — they must be ingested, while the init file itself is
    excluded by name (ADVICE r1: a *.csv-only glob replayed zero
    batches)."""
    data = tmp_path / "data"
    out = tmp_path / "out"
    data.mkdir()
    (data / "nodes2.txt").write_text("122,199,1,1\n243,434,2,2\n")
    lines = [f"{100 + i},{200 + i},{i % 2},{i}" for i in range(20)]
    (data / "DS1-batch0.txt").write_text("\n".join(lines) + "\n")

    trainer = cli.run(
        ["local[8]", str(data), str(out), "DS-txt", ",", "0.9", "1.2", "3", "1"]
    )
    assert trainer.kk > 1  # the .txt batch was consumed
    # init file excluded: ids 1,2 from nodes2.txt never entered the
    # stream, so total weight = 2 seeds + exactly the 20 batch points
    assert trainer.model.weights.sum() <= 2.0 + 20.0 + 1e-9


def test_cli_custom_separator(spark, tmp_path):
    """The separator arg flows through init read, dim inference, and the
    stream parse (the reference's args(4), batchStreamRun.scala:22)."""
    data = tmp_path / "data"
    out = tmp_path / "out"
    data.mkdir()
    (data / "nodes2.txt").write_text("122;199;1;1\n243;434;2;2\n")
    lines = [f"{100 + i};{200 + i};{i % 2};{i}" for i in range(20)]
    (data / "batch-0.csv").write_text("\n".join(lines) + "\n")

    trainer = cli.run(
        ["local[8]", str(data), str(out), "DS-sep", ";", "0.9", "1.2", "3", "1"]
    )
    assert trainer.kk > 1
    assert trainer.model.nodes.shape[1] == 2  # dim inferred with ';'
    # the batch was consumed: total weight grew beyond the 2 seed nodes
    assert trainer.model.weights.sum() > 2.0


def test_cli_query_subcommand(spark):
    """`cli query <key>` prints bounded JSON rows; `query list` prints
    every registered key."""
    import json

    from spark_streaming_clustering_spark.cli import run_query
    from spark_streaming_clustering_spark.operators.registry import QUERIES
    from tests.conftest import SF_SMOKE

    import io
    import contextlib

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        run_query(["count_star", SF_SMOKE, "5"])
    rows = [json.loads(line) for line in buf.getvalue().splitlines()]
    assert rows and all(isinstance(r, dict) for r in rows)

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        run_query(["list"])
    listed = buf.getvalue().split()
    assert set(listed) == set(QUERIES)
