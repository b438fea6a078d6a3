"""``session.get_spark`` is the one session factory, and its sessions run
without PySpark's DataFrame call-site capture.

With ``spark.python.sql.dataFrameDebugging.enabled`` on (PySpark's
default), every ``F.col`` and ``Column`` method walks the Python stack,
imports IPython and makes ~10 py4j round trips to label error contexts
with a Python ``file:line``.  PySpark reads the flag once per process,
so the IPython check runs in a fresh interpreter.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pyspark.errors.utils as pyspark_error_utils
import pytest

import spark_streaming_clustering_spark as package
from spark_streaming_clustering_spark import session
from spark_streaming_clustering_spark.operators.registry import QUERIES

ROOT = Path(__file__).resolve().parent.parent
CAPTURE_CONF = "spark.python.sql.dataFrameDebugging.enabled"


def test_session_turns_call_site_capture_off(spark):
    assert spark.conf.get(CAPTURE_CONF) == "false"


def test_building_a_key_captures_no_call_sites(spark, sf_dir, monkeypatch):
    calls = []
    capture = pyspark_error_utils._capture_call_site

    def counted(depth):
        calls.append(depth)
        return capture(depth)

    # re-read the flag from the active session, as a fresh process would
    monkeypatch.setattr(pyspark_error_utils, "_enable_debugging_cache", None)
    monkeypatch.setattr(pyspark_error_utils, "_capture_call_site", counted)
    QUERIES["flagship_revenue"](spark, sf_dir)
    assert calls == []


_PROBE = """
import json, sys
from pyspark.sql import functions as F
from spark_streaming_clustering_spark.session import get_spark
spark = get_spark("capture-probe", cpus=1,
                  extra_conf={"spark.driver.memory": "1g", **json.loads(sys.argv[1])})
rows = spark.range(3).select((F.col("id") + 1).alias("y")).collect()
print(json.dumps({"ys": [r.y for r in rows], "ipython": "IPython" in sys.modules}))
spark.stop()
"""


@pytest.mark.parametrize(
    "extra_conf, ipython_loaded",
    [({}, False), ({CAPTURE_CONF: "true"}, True)],
    ids=["default", "extra_conf_reenables"],
)
def test_fresh_driver_never_loads_ipython(extra_conf, ipython_loaded):
    """The default session builds Columns without importing IPython;
    ``extra_conf`` can still turn capture (and the import) back on."""
    out = subprocess.run(
        [sys.executable, "-c", _PROBE, json.dumps(extra_conf)],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=300,
        check=True,
    )
    probe = json.loads(out.stdout.strip().splitlines()[-1])
    assert probe == {"ys": [1, 2, 3], "ipython": ipython_loaded}


def test_get_spark_is_the_only_session_builder():
    """Every engine session comes from ``session.get_spark``, so each one
    gets its pinned settings (capture off, checkpoint manager, UTC, ...)."""
    sources = [
        *Path(package.__file__).parent.rglob("*.py"),
        *(ROOT / "scripts").glob("*.py"),
        ROOT / "bench.py",
    ]
    users = sorted(
        str(p.relative_to(ROOT)) for p in sources if "SparkSession.builder" in p.read_text()
    )
    assert users == ["spark_streaming_clustering_spark/session.py"]


@pytest.mark.parametrize(
    "master, cpus, expected",
    [
        (None, None, (f"local[{session.DEFAULT_CPUS}]", session.DEFAULT_CPUS)),
        (None, 3, ("local[3]", 3)),
        ("local[4]", None, ("local[4]", 4)),
        ("local[4,2]", None, ("local[4,2]", 4)),
        ("local[4]", 2, ("local[4]", 2)),
        ("local[*]", None, ("local[*]", session.DEFAULT_CPUS)),
        ("local[*,3]", None, ("local[*,3]", session.DEFAULT_CPUS)),
        ("local", None, ("local", session.DEFAULT_CPUS)),
        ("local-cluster[2,1,1024]", None, ("local-cluster[2,1,1024]", session.DEFAULT_CPUS)),
        ("spark://host:7077", None, ("spark://host:7077", session.DEFAULT_CPUS)),
    ],
)
def test_master_passes_through_and_only_local_n_sets_cpus(master, cpus, expected):
    """Every valid master is passed through verbatim; only ``local[N]``
    and ``local[N,F]`` size the session by their thread count."""
    assert session._master_and_cpus(master, cpus) == expected


def test_driver_memory_default_is_half_of_ram_at_most_48g(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    page = 4096

    def host(gib):
        pages = gib * (1 << 30) // page
        return lambda name: {"SC_PAGE_SIZE": page, "SC_PHYS_PAGES": pages}[name]

    monkeypatch.setattr(session.os, "sysconf", host(16))
    assert session._driver_memory() == "8192m"
    monkeypatch.setattr(session.os, "sysconf", host(512))
    assert session._driver_memory() == "49152m"
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert session._driver_memory() == "3g"
