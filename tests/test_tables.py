"""Table loads pin the schema Spark inferred earlier in the session.

A bare ``spark.read.parquet`` runs a footer-read job for schema
inference on every call; ``read_stable_parquet`` (behind
``load_table``) infers once per (session, path, input fingerprint,
schema confs), so a warm load runs no Spark job, and a rewritten input
or a flipped conf still gets a fresh schema.
"""

from __future__ import annotations

import datetime
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from spark_streaming_clustering_spark.operators.registry import QUERIES
from spark_streaming_clustering_spark.sources.tables import TABLES, load_table


def _jobs_run(spark, build):
    """(result of ``build()``, Spark jobs it ran), counted through a job group."""
    sc = spark.sparkContext
    group = f"test-tables-{os.urandom(4).hex()}"
    sc.setJobGroup(group, group)
    try:
        result = build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # job starts reach the status store through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    return result, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("name", TABLES)
def test_warm_load_table_runs_no_job(spark, sf_dir, name):
    load_table(spark, sf_dir, name)
    df, jobs = _jobs_run(spark, lambda: load_table(spark, sf_dir, name))
    assert jobs == 0
    assert df.schema == spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet")).schema


def test_warm_flagship_build_runs_no_job(spark, sf_dir):
    QUERIES["flagship_revenue"](spark, sf_dir)
    _, jobs = _jobs_run(spark, lambda: QUERIES["flagship_revenue"](spark, sf_dir))
    assert jobs == 0  # one footer job per loaded table without the pinned schema


def test_rewritten_table_is_reinferred(spark, sf_dir, tmp_path):
    shutil.copy(os.path.join(sf_dir, "region.parquet"), tmp_path / "region.parquet")
    before = load_table(spark, str(tmp_path), "region")
    assert "r_name" in before.columns

    pq.write_table(
        pa.table({"r_regionkey": [7, 8], "r_label": ["a", "b"]}),
        tmp_path / "region.parquet",
    )
    after = load_table(spark, str(tmp_path), "region")
    assert after.columns == ["r_regionkey", "r_label"]
    assert sorted(r.r_label for r in after.collect()) == ["a", "b"]


def test_rewritten_directory_is_reinferred(spark, tmp_path):
    from spark_streaming_clustering_spark.sources.tables import read_stable_parquet

    out = str(tmp_path / "layout")
    spark.range(3).selectExpr("id", "id * 2 AS twice").write.parquet(out)
    assert read_stable_parquet(spark, out).columns == ["id", "twice"]

    spark.range(3).selectExpr("id", "'x' AS tag").write.mode("overwrite").parquet(out)
    back = read_stable_parquet(spark, out)
    assert back.columns == ["id", "tag"]
    assert {r.tag for r in back.collect()} == {"x"}


def test_ntz_inference_conf_is_part_of_the_key(spark, tmp_path):
    from spark_streaming_clustering_spark.sources.tables import read_stable_parquet

    path = str(tmp_path / "naive.parquet")
    pq.write_table(
        pa.table({"ts": pa.array([datetime.datetime(2024, 1, 2, 3, 4, 5)],
                                 pa.timestamp("us"))}),
        path,
    )
    conf = "spark.sql.parquet.inferTimestampNTZ.enabled"
    old = spark.conf.get(conf)
    try:
        spark.conf.set(conf, "true")
        assert dict(read_stable_parquet(spark, path).dtypes)["ts"] == "timestamp_ntz"
        spark.conf.set(conf, "false")
        assert dict(read_stable_parquet(spark, path).dtypes)["ts"] == "timestamp"
    finally:
        spark.conf.set(conf, old)


def test_missing_path_keeps_sparks_error(spark, tmp_path):
    from pyspark.errors import AnalysisException

    from spark_streaming_clustering_spark.sources.tables import read_stable_parquet

    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        read_stable_parquet(spark, str(tmp_path / "absent.parquet"))
