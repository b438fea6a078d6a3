"""Time-series relational operators over ``events`` (round 5, batch 2).

Three oracle-checked operators covering classic temporal-SQL shapes the
surface did not yet exercise:

- ``streak_islands``          — gaps-and-islands: per-user runs of
  consecutive active days (longest streak, streak count, start of the
  best streak).  The canonical "no interval column in the data" pattern
  built from ``row_number`` arithmetic.
- ``forecast_seasonal_naive`` — seasonal-naive backtest: predict each
  day's event count by the count 7 days earlier and score the forecast
  per event type (MAE in integer milli-units).  The baseline every
  real forecasting pipeline is judged against.
- ``range_join_interval``     — interval-overlap range join: click
  intervals x view intervals per user, deduplicated through a bucketed
  equi-join (the scale path) and verified against DuckDB's native
  inequality join (IEJoin).

House rules (see pipeline_surface.py): constants are module literals
shared by builder and oracle; all aggregates are exact integers (day
counts, micros) so the driver's pandas-level value hash is
engine-independent; time arithmetic is integer microseconds
(``unix_micros`` / ``epoch_us``) per the repo's determinism idioms.

Reference parity note: the reference (G-Stream, batchStreamModel.scala)
has no temporal-relational operators; these extend the engine per
SURVEY.md section 2.  The nearest reference shape is the decay window
(A29, batchStreamModel.scala:236) which ``forecast_seasonal_naive``'s
lagged self-join generalizes from exponential to seasonal structure.

100 TB design notes (per-operator detail in each docstring):

- ``streak_islands`` shuffles only on (user_id[, anchor]) — bounded by
  distinct active days per user, never by raw event volume; the first
  aggregation (distinct user-days) is map-side combinable.
- ``forecast_seasonal_naive`` reduces to a date-keyed aggregate whose
  cardinality is |event_type| x |days| — tiny regardless of input
  scale; the lagged self-join runs on that aggregate, not the events.
- ``range_join_interval`` NEVER runs an inequality join on Spark: the
  interval space is tiled into fixed buckets, each interval is
  exploded to the <= (len/bucket + 2) buckets it touches, and
  candidates meet in a (user_id, bucket) equi-join — the standard
  distributed range-join recipe (cf. Spark's own
  ``spark.sql.sources.v2.bucketing`` range sharing and DBR's range
  join hints).  Bucket-boundary duplicates are removed by an exact
  ``distinct`` on the pair key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..sources.tables import load_table
from .registry import register

# ==========================================================================
# streak_islands
# ==========================================================================

_STREAK_EPOCH = "2024-01-01"  # fixed anchor for the best-streak tiebreak


def streak_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: longest run of consecutive active days per user.

    Classic recipe: distinct (user, day), ``row_number`` per user by
    day, then ``day - rn`` is constant within a consecutive run — group
    on that anchor to get the islands.  The best-streak row (max
    length, earliest start on ties) is picked with a single
    ``max(struct(len, -start_offset))`` aggregate instead of a second
    join, so the whole operator is two same-key shuffles.

    Scale: the input to the windows is the DISTINCT (user, day)
    relation — at 100 TB of events that is |users| x |days|, orders of
    magnitude smaller than the raw table, and the distinct is a
    map-side-combinable aggregate.  Windows partition by user_id with
    at most |days| rows per partition, so no skew regardless of
    per-user event volume.
    """
    ev = load_table(spark, sf_dir, "events")
    days = ev.select("user_id", F.to_date("ts").alias("d")).distinct()
    rn = F.row_number().over(Window.partitionBy("user_id").orderBy("d"))
    isl = (
        days.withColumn("anchor", F.date_sub(F.col("d"), rn))
        .groupBy("user_id", "anchor")
        .agg(
            F.count(F.lit(1)).alias("len"),
            F.min("d").alias("start_d"),
        )
    )
    epoch = F.lit(_STREAK_EPOCH).cast("date")
    best = isl.groupBy("user_id").agg(
        F.max("len").alias("max_streak"),
        F.count(F.lit(1)).alias("n_streaks"),
        F.max(
            F.struct(
                F.col("len").alias("l"),
                (-F.datediff(F.col("start_d"), epoch)).alias("neg_off"),
            )
        ).alias("b"),
    )
    return best.select(
        "user_id",
        "max_streak",
        "n_streaks",
        F.date_add(epoch, -F.col("b.neg_off")).alias("best_start"),
    ).orderBy("user_id")


register(
    "streak_islands",
    streak_islands,
    f"""
    WITH days AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
    num AS (SELECT user_id, d,
                   ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d) AS rn
            FROM days),
    isl AS (SELECT user_id, d - CAST(rn AS INTEGER) AS anchor,
                   CAST(COUNT(*) AS BIGINT) AS len, MIN(d) AS start_d
            FROM num GROUP BY user_id, anchor),
    agg AS (SELECT user_id, MAX(len) AS max_streak,
                   CAST(COUNT(*) AS BIGINT) AS n_streaks
            FROM isl GROUP BY user_id)
    SELECT a.user_id AS user_id, a.max_streak AS max_streak,
           a.n_streaks AS n_streaks, MIN(i.start_d) AS best_start
    FROM agg a JOIN isl i ON i.user_id = a.user_id AND i.len = a.max_streak
    GROUP BY 1, 2, 3
    ORDER BY user_id
    """,
)


# ==========================================================================
# forecast_seasonal_naive
# ==========================================================================

_SEASON_DAYS = 7  # weekly seasonality: forecast(d) = actual(d - 7)


def forecast_seasonal_naive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast backtest per event type.

    Predict each day's event count by the count ``_SEASON_DAYS`` days
    earlier and score with MAE over every day that has a lagged
    counterpart.  MAE is reported in integer milli-events via floor
    division so both engines hash identically (no float averaging).

    Scale: the only event-volume-sized stage is the (event_type, day)
    count — a map-side-combinable aggregate shrinking 100 TB to
    |types| x |days| rows; the seasonal self-join and the scoring run
    on that tiny relation (broadcast-sized by construction).
    """
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.groupBy("event_type", F.to_date("ts").alias("d"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    a, f = daily.alias("a"), daily.alias("f")
    joined = a.join(
        f,
        (F.col("a.event_type") == F.col("f.event_type"))
        & (F.date_add(F.col("f.d"), _SEASON_DAYS) == F.col("a.d")),
    ).select(
        F.col("a.event_type").alias("event_type"),
        F.col("a.n").alias("actual"),
        F.col("f.n").alias("predicted"),
    )
    return (
        joined.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.sum(F.abs(F.col("actual") - F.col("predicted"))).alias(
                "sum_abs_err"
            ),
        )
        .select(
            "event_type",
            "n_days",
            "sum_abs_err",
            F.expr("(sum_abs_err * 1000) div n_days").alias("mae_milli"),
        )
        .orderBy("event_type")
    )


register(
    "forecast_seasonal_naive",
    forecast_seasonal_naive,
    f"""
    WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS d,
                          CAST(COUNT(*) AS BIGINT) AS n
                   FROM events GROUP BY 1, 2),
    j AS (SELECT a.event_type AS event_type, a.n AS actual, f.n AS predicted
          FROM daily a
          JOIN daily f ON f.event_type = a.event_type
                      AND f.d + {_SEASON_DAYS} = a.d)
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(SUM(ABS(actual - predicted)) AS BIGINT) AS sum_abs_err,
           CAST((SUM(ABS(actual - predicted)) * 1000) // COUNT(*) AS BIGINT)
             AS mae_milli
    FROM j GROUP BY event_type ORDER BY event_type
    """,
)


# ==========================================================================
# range_join_interval
# ==========================================================================

_IV_MIN_US = 60_000_000  # one minute, in microseconds
_IV_MOD = 180  # interval length: 1 + event_id % 180 minutes (<= 3 h)
_IV_BUCKET_US = 3 * 3_600 * 1_000_000  # 3 h tiling buckets


def _intervals(ev: DataFrame) -> DataFrame:
    """Deterministic [s, e) micro-second intervals for click/view events:
    start at the event, length ``1 + event_id % _IV_MOD`` minutes.

    ts may be TIMESTAMP_NTZ (direct parquet read); ``unix_micros`` only
    accepts LTZ, and the session timezone is UTC (sources/tables.py), so
    the cast is value-preserving."""
    s = F.unix_micros(F.col("ts").cast("timestamp"))
    return ev.filter(F.col("event_type").isin("click", "view")).select(
        "event_id",
        "user_id",
        "event_type",
        s.alias("s"),
        (s + (F.lit(1) + F.col("event_id") % _IV_MOD) * _IV_MIN_US).alias("e"),
    )


def range_join_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap range join: per user, click intervals joined to
    overlapping view intervals ([s,e) semantics: a.s < b.e AND
    b.s < a.e), reporting pair count and total overlap micros.

    Spark has no native inequality-join strategy that scales (a raw
    theta-join degenerates to BroadcastNestedLoop / cartesian), so
    this is the standard DISTRIBUTED range-join recipe:

    1. tile time into fixed ``_IV_BUCKET_US`` buckets;
    2. explode each interval to every bucket it touches (intervals are
       <= 3 h and buckets are 3 h, so <= 2 buckets per interval —
       bounded fan-out);
    3. equi-join candidates on (user_id, bucket) — shuffle-hash-able,
       skew-cappable, no nested loop;
    4. apply the exact overlap predicate, then ``distinct`` on the
       pair key to drop bucket-boundary duplicates.

    The DuckDB oracle runs the same logical join natively (IEJoin),
    verifying the bucketed plan produces exactly the inequality-join
    answer.
    """
    iv = _intervals(load_table(spark, sf_dir, "events"))
    bucketed = iv.withColumn(
        "bucket",
        F.explode(
            F.sequence(
                F.expr(f"s div {_IV_BUCKET_US}"),
                F.expr(f"(e - 1) div {_IV_BUCKET_US}"),
            )
        ),
    )
    a = bucketed.filter(F.col("event_type") == "click").select(
        F.col("user_id"),
        F.col("bucket"),
        F.col("event_id").alias("a_id"),
        F.col("s").alias("a_s"),
        F.col("e").alias("a_e"),
    )
    b = bucketed.filter(F.col("event_type") == "view").select(
        F.col("user_id"),
        F.col("bucket"),
        F.col("event_id").alias("b_id"),
        F.col("s").alias("b_s"),
        F.col("e").alias("b_e"),
    )
    pairs = (
        a.join(b, ["user_id", "bucket"])
        .filter((F.col("a_s") < F.col("b_e")) & (F.col("b_s") < F.col("a_e")))
        .select(
            "user_id",
            "a_id",
            "b_id",
            (
                F.least("a_e", "b_e") - F.greatest("a_s", "b_s")
            ).alias("ov"),
        )
        .distinct()  # same pair found in two buckets -> identical row
    )
    return (
        pairs.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum("ov").alias("overlap_us"),
        )
        .orderBy("user_id")
    )


register(
    "range_join_interval",
    range_join_interval,
    f"""
    WITH iv AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS s,
                       epoch_us(ts)
                         + (1 + event_id % {_IV_MOD}) * {_IV_MIN_US} AS e
                FROM events WHERE event_type IN ('click', 'view')),
    p AS (SELECT a.user_id AS user_id,
                 LEAST(a.e, b.e) - GREATEST(a.s, b.s) AS ov
          FROM iv a JOIN iv b
            ON a.user_id = b.user_id AND a.s < b.e AND b.s < a.e
          WHERE a.event_type = 'click' AND b.event_type = 'view')
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(ov) AS BIGINT) AS overlap_us
    FROM p GROUP BY user_id ORDER BY user_id
    """,
)


# ==========================================================================
# ohlc_resample (round 12)
# ==========================================================================


def ohlc_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(event_type, hour) OHLC downsampling bars — the financial /
    telemetry resampling contract the time-series family lacks
    (``time_weighted_average`` integrates, ``gapfill_series``
    interpolates, ``holt_linear_smoothing`` smooths; nothing emits
    open/high/low/close per bucket): open = value at the EARLIEST row
    of the bucket, close = at the LATEST, high/low = extrema.

    Determinism: "earliest/latest" order by event_id — ``ts`` is
    strictly monotone in ``event_id`` at every committed fixture
    (pinned by tests/test_streaming_surface.py), so event_id IS the time order
    with a total tiebreak, and ``min_by``/``max_by`` on a SCALAR key
    are engine-exact (no struct-ordering divergence to worry about).
    Values quantize to integer cents before aggregation.

    Scale shape: one scan, one (event_type, hour)-keyed hash aggregate
    with map-side partials for all six measures — min_by/max_by carry
    one (key, value) pair per group per partition, same cost class as
    min/max.  Output is #types x #hours rows, bounded by the calendar.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.date_trunc("hour", F.col("ts")).alias("h_start"),
        "event_id",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("cents"),
    )
    return ev.groupBy("event_type", "h_start").agg(
        F.min_by("cents", "event_id").cast("bigint").alias("open_c"),
        F.max("cents").cast("bigint").alias("high_c"),
        F.min("cents").cast("bigint").alias("low_c"),
        F.max_by("cents", "event_id").cast("bigint").alias("close_c"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )


register(
    "ohlc_resample",
    ohlc_resample,
    """
    SELECT event_type, date_trunc('hour', ts) AS h_start,
           CAST(arg_min(cents, event_id) AS BIGINT) AS open_c,
           CAST(MAX(cents) AS BIGINT) AS high_c,
           CAST(MIN(cents) AS BIGINT) AS low_c,
           CAST(arg_max(cents, event_id) AS BIGINT) AS close_c,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM (SELECT event_type, ts, event_id,
                 CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
          FROM events)
    GROUP BY 1, 2
    """,
)
