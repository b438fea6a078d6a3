"""Python Data Source (Spark 4 API): a deterministic point generator.

The reference's input is CSV files replayed into a directory
(batchStreamRun.scala:37,40 + the author's external replay scripts,
README.md:4).  This re-imagines that boundary as a first-class custom
source: ``spark.read.format("gstream_points")`` yields the same
LCG-derived 2-D points from any executor, partitioned server-side —
no files, no driver materialization, scales by adding partitions.

Determinism contract: row k is a pure function of k (the house LCG
constants), so the relation is reproducible everywhere — including in
DuckDB for the oracle — and independent of partition count (pinned in
tests/test_pipeline_props.py style by the oracle itself: the driver
compares against generate_series arithmetic).
"""

from __future__ import annotations

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)

LCG_M = 2_147_483_648
LCG_A = 1_103_515_245
LCG_B = 12_345


class PointsReader(DataSourceReader):
    def __init__(self, options):
        self.n = int(options.get("n", "1000"))
        self.parts = int(options.get("partitions", "4"))

    def partitions(self):
        return [InputPartition(i) for i in range(self.parts)]

    def read(self, partition):
        i = partition.value
        per = self.n // self.parts
        lo = i * per
        hi = self.n if i == self.parts - 1 else lo + per
        yield from _lcg_rows(lo, hi)


class PointsSource(DataSource):
    """spark.read.format("gstream_points").option("n", N).load()"""

    @classmethod
    def name(cls):
        return "gstream_points"

    def schema(self):
        return "id bigint, x double, y double"

    def reader(self, schema):
        return PointsReader(self.options)


def _lcg_rows(lo: int, hi: int) -> list[tuple]:
    # x_k, y_k in [0, 1): LCG over the even/odd index stream.  Division
    # by 2^31 is exact in binary64, so every engine computing this
    # formula gets bit-identical doubles.
    return [
        (
            k,
            ((LCG_A * (2 * k) + LCG_B) % LCG_M) / LCG_M,
            ((LCG_A * (2 * k + 1) + LCG_B) % LCG_M) / LCG_M,
        )
        for k in range(lo, hi)
    ]


class PointsStreamReader(SimpleDataSourceStreamReader):
    """Offset-tracked streaming reader over the same LCG relation:
    each micro-batch advances the offset by ``per`` rows until ``n``.

    The offset dict is the source's exactly-once contract:
    ``readBetweenOffsets`` regenerates any (start, end) range for
    replay after failure — trivially correct here because row k is a
    pure function of k (the property a real source gets from a log +
    seekable offsets).  Returns iterators (the runner advances them
    into its prefetch cache) and plain tuples (picklable).
    """

    def __init__(self, options):
        self.n = int(options.get("n", "1000"))
        self.per = int(options.get("per", "250"))

    def initialOffset(self):
        return {"i": 0}

    def read(self, start):
        lo = start["i"]
        hi = min(lo + self.per, self.n)
        return iter(_lcg_rows(lo, hi)), {"i": hi}

    def readBetweenOffsets(self, start, end):
        return iter(_lcg_rows(start["i"], end["i"]))


class PointsStreamSource(DataSource):
    """spark.readStream.format("gstream_points_stream").load()"""

    @classmethod
    def name(cls):
        return "gstream_points_stream"

    def schema(self):
        return "id bigint, x double, y double"

    def simpleStreamReader(self, schema):
        return PointsStreamReader(self.options)
