from __future__ import annotations

import pytest

from spark_streaming_clustering_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cpus=8, extra_conf={"spark.driver.memory": "8g"})
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE


@pytest.fixture(scope="session")
def short_docs_dir(tmp_path_factory):
    """A documents table whose texts include the degenerate lengths the
    sf corpora never exercise: empty, 1 token, 2 tokens, exactly 3."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = [
        (0, "", "en", "t", 0),
        (1, "hello", "en", "t", 5),
        (2, "hello world", "en", "t", 11),
        (3, "one two three", "en", "t", 13),
        (4, "a b c d e f", "en", "t", 11),
        (5, "solo", "fr", "t", 4),  # singleton lang group for z-score
    ]
    tbl = pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows]),
            "lang": pa.array([r[2] for r in rows]),
            "source": pa.array([r[3] for r in rows]),
            "n_chars": pa.array([r[4] for r in rows], pa.int64()),
        }
    )
    d = tmp_path_factory.mktemp("short_docs")
    pq.write_table(tbl, str(d / "documents.parquet"))
    return str(d)
