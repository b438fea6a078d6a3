"""Meta-tests for the one oracle check (tests.util_oracle.check_key).

A checker that silently passes on wrong results is worse than no
checker; these tests feed check_key deliberately-broken pairs and
assert each gate trips, and deliberately-equivalent pairs and assert
each tolerance holds.  (Motivated by the round-3 incident where 12
dtype-drifted keys shipped as 'self-green' because the then-checker
compared at the Python-value layer.)"""

from __future__ import annotations

import ast
import glob
import os

import pytest

from tests.conftest import SF_ORACLE
from tests.util_oracle import check_key, duck_con

_HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def con():
    return duck_con(SF_ORACLE)


def _run(spark, con, fn, sql):
    return check_key(spark, con, fn, sql, SF_ORACLE)


def test_checker_passes_on_identical(spark, con):
    rec = _run(spark, con,
               lambda s, d: s.sql("SELECT CAST(1 AS BIGINT) AS a, 'x' AS b"),
               "SELECT CAST(1 AS BIGINT) AS a, 'x' AS b")
    assert rec["hash_match"] and rec["err"] is None


def test_checker_trips_on_row_count(spark, con):
    rec = _run(spark, con,
               lambda s, d: s.sql("SELECT 1 AS a UNION ALL SELECT 2"),
               "SELECT 1 AS a")
    assert rec["rows_match"] is False


def test_checker_trips_on_column_name(spark, con):
    rec = _run(spark, con,
               lambda s, d: s.sql("SELECT 1 AS a"),
               "SELECT 1 AS b")
    assert rec["schema_match"] is False


def test_checker_trips_on_dtype_kind_drift(spark, con):
    """int64 vs float64 (the HUGEINT hazard class) must FAIL even when
    every value is numerically identical."""
    rec = _run(spark, con,
               lambda s, d: s.sql("SELECT CAST(7 AS BIGINT) AS a"),
               "SELECT CAST(7 AS DOUBLE) AS a")
    assert rec["type_match"] is False
    assert rec["hash_match"] is False


def test_checker_trips_on_value_drift(spark, con):
    rec = _run(spark, con,
               lambda s, d: s.sql("SELECT CAST(7 AS BIGINT) AS a"),
               "SELECT CAST(8 AS BIGINT) AS a")
    assert rec["hash_match"] is False
    assert "mismatch" in (rec["err"] or "")


@pytest.mark.parametrize(
    "spark_sql, duck_sql, type_match, hash_match",
    [
        # Floats compare unrounded: both print 0.123456789 under ".9g".
        pytest.param("SELECT CAST(0.1234567891 AS DOUBLE) AS a",
                     "SELECT 0.1234567892::DOUBLE AS a", True, False,
                     id="tenth_significant_digit"),
        # Uncast SUM(<integer>) is HUGEINT -> pandas float64 vs Spark
        # int64: identical values, the drift round 3 shipped 12 times.
        pytest.param("SELECT CAST(5 AS BIGINT) AS s",
                     "SELECT SUM(1) AS s FROM region", False, False,
                     id="uncast_hugeint_oracle"),
        pytest.param("SELECT CAST(5 AS BIGINT) AS s",
                     "SELECT CAST(SUM(1) AS BIGINT) AS s FROM region", True, True,
                     id="cast_bigint_oracle"),
        # DATE vs TIMESTAMP midnight hash-PASSED in CORRECTNESS_r03.
        pytest.param("SELECT DATE '2024-01-03' AS d",
                     "SELECT TIMESTAMP '2024-01-03 00:00:00' AS d", True, True,
                     id="date_vs_timestamp"),
    ],
)
def test_checker_gate(spark, con, spark_sql, duck_sql, type_match, hash_match):
    rec = _run(spark, con, lambda s, d: s.sql(spark_sql), duck_sql)
    assert (rec["type_match"], rec["hash_match"]) == (type_match, hash_match), rec


def test_checker_tolerates_int_width_drift(spark, con):
    """int32 vs int64 PASSES (driver-calibrated equivalence; r3
    evidence: ntile/ann rank keys hash-passed with width drift)."""
    rec = _run(spark, con,
               lambda s, d: s.sql("SELECT CAST(7 AS INT) AS a"),
               "SELECT CAST(7 AS BIGINT) AS a")
    assert rec["type_match"] is True
    assert rec["hash_match"] is True


def test_checker_rejects_list_cells(spark, con):
    """Sequence-typed result cells are unhashable by the driver and
    must be rejected loudly (check_key raises; main() records the
    traceback as a FAIL), never silently compared."""
    with pytest.raises(TypeError, match="unhashable"):
        _run(spark, con,
             lambda s, d: s.sql("SELECT array(1, 2) AS a"),
             "SELECT [1, 2] AS a")


def test_one_oracle_comparator():
    """selfcheck runs the very function the test suite runs, and no
    other module under tests/ defines an oracle comparator beside
    util_oracle's."""
    import scripts.selfcheck as selfcheck
    import tests.util_oracle as util_oracle

    assert selfcheck.check_key is util_oracle.check_key
    comparator = {"check_key", "compare", "_norm", "_cell", "_frame_rows",
                  "_dtype_canon"}
    assert not {"compare", "_norm"} & set(vars(util_oracle))
    for path in glob.glob(os.path.join(_HERE, "tests", "*.py")):
        if os.path.basename(path) == "util_oracle.py":
            continue
        with open(path) as fh:
            tree = ast.parse(fh.read(), path)
        defs = {n.name for n in ast.walk(tree) if isinstance(n, ast.FunctionDef)}
        assert not defs & comparator, f"{path} defines an oracle comparator"
