"""Reference-compatible CLI entry point.

Mirrors ``batchStreamRun.main`` (batchStreamRun.scala:11-67) argument
for argument, so a user of the reference can run the same command
against this engine::

    python -m spark_streaming_clustering_spark.cli \
        local[2] ./data ./out DS1-200 "," 0.9 1.2 3 91

args (positional, reference order, batchStreamRun.scala:18-26):
    master dirData dirSortie DSname separator decayFactor lambdaAge
    nbNodesToAdd nbWind

Behavior parity:
* init points read from ``dirData/nodes2.txt`` (batchStreamRun.scala:37),
  dim inferred from its first line minus 2 trailing cols (:44-45);
* the stream watches ``dirData`` for new batch files (textFileStream,
  :40) — here a Structured Streaming file source matching ``*.csv`` and
  ``*.txt`` (the reference's datasets are .txt) with the ``nodes2.txt``
  init file excluded by name, since textFileStream only saw files
  created after start; a warning is printed if nothing is ingested
  after 30 s;
* model seeded from the first two init points (batchStream.scala:72-78);
* 100 ms processing-time trigger (batchStreamRun.scala:32-34);
* snapshots written in the reference's own text formats at the B10
  milestone schedule under ``dirSortie`` (batchStream.scala:95-101);
* the run stops once ``nbWind`` non-empty micro-batches are processed
  (the reference's JUnit test passes nbWind and kills the context); a
  query that dies before that raises its exception, so the process
  exits non-zero;
* a re-run into a ``dirSortie`` whose ``.ckpt-<DSname>`` already holds
  committed batches fails at once: the model lives in driver memory
  only, so it cannot resume, and the checkpoint's file-source log marks
  every input as seen, so the run would wait forever.
"""

from __future__ import annotations

import os
import sys
import time

from .session import get_spark
from .sources.points import infer_dim, read_points, stream_points
from .streaming.params import GStreamParams
from .streaming.train import GStreamTrainer


def run(argv: list[str]) -> GStreamTrainer:
    if len(argv) != 9:
        raise SystemExit(
            "usage: cli master dirData dirSortie DSname separator "
            "decayFactor lambdaAge nbNodesToAdd nbWind"
        )
    (master, dir_data, dir_sortie, ds_name, separator,
     decay_factor, lambda_age, nb_nodes_to_add, nb_wind) = argv
    decay_factor, lambda_age = float(decay_factor), float(lambda_age)
    nb_nodes_to_add, nb_wind = int(nb_nodes_to_add), int(nb_wind)
    checkpoint_dir = f"{dir_sortie}/.ckpt-{ds_name}"
    commits = os.path.join(checkpoint_dir, "commits")
    if os.path.isdir(commits) and os.listdir(commits):
        raise FileExistsError(
            f"{checkpoint_dir} holds a previous run's streaming checkpoint; "
            "the model is not persisted, so the run cannot resume from it "
            "(and would wait forever for input it has already seen): remove "
            "that directory or pick another dirSortie or DSname"
        )

    # master passes through verbatim (spark://, yarn, local[n] all work;
    # batchStreamRun.scala:29 hands its arg to SparkConf.setMaster too)
    spark = get_spark(f"gstream-{ds_name}", master=master)

    init_path = f"{dir_data}/nodes2.txt"
    dim = infer_dim(spark, init_path, sep=separator)
    init_points = read_points(spark, init_path, dim=dim, sep=separator)

    params = GStreamParams(
        decay_factor=decay_factor,
        lambda_age=lambda_age,
        nb_nodes_to_add=nb_nodes_to_add,
    )
    trainer = GStreamTrainer(
        spark,
        params,
        out_dir=f"{dir_sortie}/{ds_name}-{nb_nodes_to_add}",
        nb_wind=nb_wind,
        snapshot_format="text",
    )
    trainer.init_from_seed(init_points)

    # The reference's datasets are .txt batch files living next to the
    # nodes2.txt init file; watch both extensions and exclude the init
    # file specifically (ADVICE r1: a *.csv-only glob made reference
    # replays produce zero micro-batches and spin forever).
    stream = stream_points(
        spark, dir_data, dim=dim, max_files_per_trigger=1, sep=separator,
        glob="*.{csv,txt}", exclude_file="nodes2.txt",
    )
    query = trainer.fit_stream(stream, checkpoint_dir=checkpoint_dir)
    try:
        waited = 0.0
        warned = False
        while query.isActive and trainer.kk <= nb_wind:
            time.sleep(0.1)
            waited += 0.1
            if not warned and trainer.kk == 1 and waited >= 30.0:
                warned = True
                print(
                    f"warning: no micro-batches ingested after {waited:.0f}s; "
                    f"watching {dir_data}/*.{{csv,txt}} (nodes2.txt excluded) — "
                    "check that batch files appear there with the expected "
                    "extension",
                    file=sys.stderr,
                )
        if trainer.kk <= nb_wind:
            # the query died before nbWind batches: fail the run, do not
            # hand back a half-trained model with exit code 0
            raise query.exception() or RuntimeError(
                f"stream query stopped after {trainer.kk - 1} of {nb_wind} batches"
            )
    finally:
        query.stop()
    return trainer


def run_query(argv: list[str]) -> int:
    """``cli query <key> [sf_dir] [limit]`` — run any registered
    operator from the shell and print JSON lines (column-name keyed,
    bounded by ``limit``, default 20).  ``cli query list`` prints the
    registered keys.  This is the ad-hoc front door for the whole
    SURVEY.md section-2 surface; the reference has no equivalent (its
    only entry is the training run)."""
    import json

    from .operators.registry import QUERIES

    if not argv or argv[0] == "list":
        for k in sorted(QUERIES):
            print(k)
        return 0
    key = argv[0]
    if key not in QUERIES:
        raise SystemExit(f"unknown query key {key!r}; try 'query list'")
    sf_dir = argv[1] if len(argv) > 1 else "/root/testdata/sf0.01"
    limit = int(argv[2]) if len(argv) > 2 else 20
    spark = get_spark(f"query-{key}")
    df = QUERIES[key](spark, sf_dir)
    for row in df.limit(limit).collect():
        print(json.dumps(row.asDict(), default=str, sort_keys=True))
    return 0


def main() -> None:
    if sys.argv[1:2] == ["query"]:
        run_query(sys.argv[2:])
    else:
        run(sys.argv[1:])


if __name__ == "__main__":
    main()
