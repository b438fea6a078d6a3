"""The operator workload: a fixed mix of registry keys run in rounds.

Each key is built from ``operators.registry.QUERIES`` and forced with a
noop write, as ``bench.py`` and ``scripts/microbench.py`` do.  Set-up is
one cold pass over the mix; that pass collects each key's rows, which are
checked afterwards against the key's DuckDB oracle from
``__spark_entry__.oracle_sql()``.
"""

from __future__ import annotations

import math
import os
import time
from dataclasses import dataclass

from . import data
from .stats import median, work_cpu_s

# One key per plan shape; a run of each workload has to stay near 40 s.
KEYS = (
    "flagship_revenue",  # star join
    "window_frame_range",  # window
    "sessionize_events",  # events
    "dedup_minhash_lsh",  # session-cached signatures
    "exact_quantile_bisect",  # driver-paced loop
    "merge_into_upsert",  # copy-on-write write path
)
SF = 0.01
# Timed rounds per run; with tracing, the middle one is traced.  Call walls
# still fall from round to round while the JVM compiles, so each key's
# figure is its median over rounds.
MIN_ROUNDS = 3
ORACLE_TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
                 "lineitem", "events", "documents", "embeddings")


@dataclass
class Call:
    key: str
    round: int
    wall_s: float
    cpu_s: float  # CPU of the whole process tree over the call
    traced: bool
    jobs: int = 0
    error: str | None = None


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _norm(v):
    """Comparable form of one cell: floats to 9 significant digits."""
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.9g}"
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if hasattr(v, "to_pydatetime"):
        v = v.to_pydatetime()
    if getattr(v, "tzinfo", None) is not None:
        v = v.replace(tzinfo=None)
    return v


def _canon(rows) -> list[tuple]:
    normed = [tuple(_norm(v) for v in r) for r in rows]
    return sorted(normed, key=lambda r: tuple("\0" if v is None else str(v) for v in r))


def _geomean_ms(seconds) -> float:
    xs = list(seconds)
    return math.exp(sum(math.log(x * 1000.0) for x in xs) / len(xs))


class QueryWorkload:
    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.keys = KEYS
        self.sf_dir = os.path.join(work, "tables")
        self.calls: list[Call] = []
        self.cold_rows: dict[str, list] = {}
        self.cold_errors: dict[str, str] = {}
        self.mismatched: set[str] = set()

    def stage(self) -> None:
        data.write_tables(self.sf_dir, self.seed, SF)

    def warm(self, spark) -> None:
        """The cold pass: JIT, codegen, Python workers and session caches."""
        from spark_streaming_clustering_spark.operators.registry import QUERIES

        for key in self.keys:
            try:
                self.cold_rows[key] = QUERIES[key](spark, self.sf_dir).collect()
            except Exception as exc:  # noqa: BLE001 - a failed key is counted, not fatal
                self.cold_errors[key] = f"{type(exc).__name__}: {exc}"

    def measure(self, spark, seconds: float, trace: bool) -> None:
        """Whole rounds over the mix until ``seconds`` have passed and
        ``MIN_ROUNDS`` ran; with ``trace``, every other round records each
        key's jobs through a job group."""
        from spark_streaming_clustering_spark.operators.registry import QUERIES

        sc = spark.sparkContext
        t0 = time.perf_counter()
        rnd = 0
        while rnd < MIN_ROUNDS or time.perf_counter() - t0 < seconds:
            traced = trace and rnd % 2 == 1
            for key in self.keys:
                group = f"perfbench-{rnd}-{key}"
                if traced:
                    sc.setJobGroup(group, key)
                cpu0, t = work_cpu_s(), time.perf_counter()
                error = None
                try:
                    _force(QUERIES[key](spark, self.sf_dir))
                except Exception as exc:  # noqa: BLE001 - counted as a failed call
                    error = f"{type(exc).__name__}: {exc}"
                call = Call(key, rnd, time.perf_counter() - t, work_cpu_s() - cpu0, traced,
                            error=error)
                if traced:
                    call.jobs = len(sc.statusTracker().getJobIdsForGroup(group))
                    sc.setLocalProperty("spark.jobGroup.id", None)
                self.calls.append(call)
            rnd += 1

    def check(self, spark) -> None:
        """Compare each key's cold-pass rows with its DuckDB oracle."""
        import duckdb

        import __spark_entry__

        oracles = __spark_entry__.oracle_sql()
        con = duckdb.connect()
        try:
            for t in ORACLE_TABLES:
                path = os.path.join(self.sf_dir, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            for key in self.keys:
                if key in self.cold_errors or key not in oracles:
                    self.mismatched.add(key)
                    continue
                want = _canon(con.execute(oracles[key]).fetchall())
                if _canon(self.cold_rows[key]) != want:
                    self.mismatched.add(key)
        finally:
            con.close()

    def failed_calls(self) -> list[Call]:
        return [c for c in self.calls if c.error is not None or c.key in self.mismatched]

    # --- metrics ---------------------------------------------------------
    def ops(self) -> tuple[int, int]:
        """(key calls attempted, key calls failed) over timed rounds."""
        return len(self.calls), len(self.failed_calls())

    def _round_walls(self, traced: bool) -> list[float]:
        walls: dict[int, float] = {}
        for c in self.calls:
            if c.traced == traced:
                walls[c.round] = walls.get(c.round, 0.0) + c.wall_s
        return list(walls.values())

    def _key_medians(self, traced: bool, field: str = "wall_s") -> dict[str, float]:
        return {k: median([getattr(c, field) for c in self.calls
                           if c.key == k and c.traced == traced])
                for k in self.keys}

    def end_to_end(self) -> dict[str, tuple[float | None, str]]:
        """Untraced rounds.  ``op_ms`` and ``cpu_ms`` are geometric means over
        the keys of each key's median call, so every key weighs the same."""
        plain = [c.wall_s for c in self.calls if not c.traced]
        per_key = self._key_medians(False)
        cpu = self._key_medians(False, "cpu_s")
        return {
            "op_ms": (_geomean_ms(per_key.values()), "ms"),
            "cpu_ms": (_geomean_ms(cpu.values()), "ms"),
            # one typical round: each key at its median
            "wall_s": (sum(per_key.values()), "s"),
            "query_s_p50": (median(per_key.values()), "s"),
            "query_samples": (len(plain), "count"),
            "round_walls": (self._round_walls(False), "s"),
        }

    def per_layer(self) -> dict[str, float]:
        traced = self._key_medians(True)
        out: dict[str, float] = {}
        for key in self.keys:
            out[f"query.{key}.s"] = traced[key]
            out[f"query.{key}.jobs"] = median(
                [c.jobs for c in self.calls if c.traced and c.key == key])
        out["trace.overhead_frac"] = (
            sum(traced.values()) / sum(self._key_medians(False).values()) - 1.0)
        return out
