"""Sequential per-key smoothers that are NOT window-unrollable — the
grouped-recurrence operator class (Holt linear trend here; Kalman-style
filters follow the same shape).

``q_ewma_daily`` shows the window-unroll trick for smoothers whose tail
mass truncates; Holt's level+trend recurrence has no such finite unroll
(the trend feeds back), so the scalable Spark shape is a grouped Arrow
pass: ONE shuffle on the key, each group's (small, bounded) time series
smoothed sequentially inside a vectorized worker. At 100 TB the key
cardinality (millions of series) carries the parallelism; the per-series
loop is bounded by calendar days, not data volume.

Determinism contract: all state is integer cents; each half-step rounds
with ``floor((x + 1) / 2)`` (exact integer, defined identically in the
recursive-CTE oracle), so the recurrence is replayable hash-exact — the
same device that makes dedup_components' and PageRank's iterative
floats adjudicable.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame

from ..functions.selfship import self_ship

HOLT_SCHEMA = (
    "grp string, day string, y_cents long, level_cents long, "
    "trend_cents long, forecast_cents long"
)


def _half2(x: int) -> int:
    # floor((x+1)/2): exact integer halving, biased +1/2 toward +inf on
    # odd values — mirrored verbatim by FLOOR((x+1)/2.0) in the oracle
    return (x + 1) // 2


def _holt_group(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.sort_values("day").reset_index(drop=True)
    level = trend = 0
    out_l, out_b, out_f = [], [], []
    for i, y in enumerate(int(v) for v in pdf["y_cents"]):
        if i == 0:
            level, trend = y, 0
        else:
            prev_l = level
            # alpha = 1/2: new level averages the observation with the
            # previous forecast; beta = 1/2: new trend averages the level
            # delta with the previous trend
            level = _half2(y + prev_l + trend)
            trend = _half2(trend + (level - prev_l))
        out_l.append(level)
        out_b.append(trend)
        out_f.append(level + trend)
    pdf["level_cents"] = pd.Series(out_l, dtype="int64")
    pdf["trend_cents"] = pd.Series(out_b, dtype="int64")
    pdf["forecast_cents"] = pd.Series(out_f, dtype="int64")
    return pdf[
        ["grp", "day", "y_cents", "level_cents", "trend_cents", "forecast_cents"]
    ]


def holt_linear(daily: DataFrame) -> DataFrame:
    """Holt double-exponential smoothing (alpha = beta = 1/2, integer
    half-step rounding) over per-key daily series.

    ``daily`` must carry ``grp`` (series key), ``day`` (sortable string),
    ``y_cents`` (long). Output adds level/trend/one-step forecast, all
    exact integers. One shuffle (groupBy grp); the Arrow worker holds one
    series at a time.
    """
    return daily.groupBy("grp").applyInPandas(_holt_group, HOLT_SCHEMA)


HW_SCHEMA = (
    "grp string, day string, y_cents long, level_cents long, "
    "season_cents long, fitted_cents long"
)


def _hw_group(pdf: pd.DataFrame, period: int = 7) -> pd.DataFrame:
    pdf = pdf.sort_values("day").reset_index(drop=True)
    ys = [int(v) for v in pdf["y_cents"]]
    # level enters the uniform recurrence as y_0 so step 0 reproduces
    # itself exactly: half2(2*y0) = y0, s_0 = half2(0) = 0 — no special
    # anchor arithmetic anywhere (mirrored by the oracle's anchor row)
    level = ys[0] if ys else 0
    slist = [0] * period
    out_l, out_s, out_f = [], [], []
    for y in ys:
        s_prev = slist[0]
        # alpha = 1/2: new level averages the deseasonalized observation
        # with the previous level; gamma = 1/2: new seasonal averages the
        # delevelled observation with last cycle's seasonal
        level = _half2(y - s_prev + level)
        s_new = _half2(y - level + s_prev)
        slist = slist[1:] + [s_new]
        out_l.append(level)
        out_s.append(s_new)
        out_f.append(level + s_prev)
    pdf["level_cents"] = pd.Series(out_l, dtype="int64")
    pdf["season_cents"] = pd.Series(out_s, dtype="int64")
    pdf["fitted_cents"] = pd.Series(out_f, dtype="int64")
    return pdf[
        ["grp", "day", "y_cents", "level_cents", "season_cents", "fitted_cents"]
    ]


def holt_winters_add(daily: DataFrame, period: int = 7) -> DataFrame:
    """Additive Holt-Winters seasonal smoothing (alpha = gamma = 1/2, no
    trend term) over per-key daily series — the grouped-recurrence class
    member whose STATE is a ``period``-slot seasonal ring buffer, not a
    scalar: level_t = half2(y_t - s_{t-m} + level_{t-1}), s_t =
    half2(y_t - level_t + s_{t-m}), seasonals initialized to 0 (the first
    cycle learns them). All state integer cents with floor((x+1)/2)
    half-steps, so the recurrence replays hash-exact through a
    recursive-CTE oracle carrying the ring buffer as a LIST column.

    Same scale shape as holt_linear: ONE shuffle on the key; per-series
    work is calendar-bounded; key cardinality carries the parallelism.
    """
    return daily.groupBy("grp").applyInPandas(
        lambda pdf: _hw_group(pdf, period), HW_SCHEMA
    )


self_ship(__name__)


def classical_decompose(daily: DataFrame, period: int = 7) -> DataFrame:
    """CLASSICAL additive seasonal decomposition (the moving-average
    y = trend + seasonal + residual split every TS textbook opens with —
    statsmodels' seasonal_decompose) — unlike this module's recurrences it
    is fully WINDOW/JOIN-EXPRESSIBLE, so it runs as a relational plan, not
    a grouped Arrow pass: centered ``period``-day moving sum as the trend
    (odd period → exact center), per-weekday means of the detrended series
    as the seasonal component, the rest residual.

    Determinism: DIVISION-FREE like q_autocorrelation — every output is an
    integer numerator against an implied denominator: ``trend_psum`` is
    period·trend, ``dtr`` = period·(y − trend) = period·y − trend_psum,
    seasonal = seas_num/(period·seas_n), and ``resid_scaled`` =
    period·seas_n·residual = dtr·seas_n − seas_num. Exact gate: for data
    that IS linear + zero-sum weekly seasonal, resid_scaled ≡ 0
    (the moving sum of a linear sequence is period·center exactly, and
    Σ seasonal over any ``period`` consecutive days is constant).

    Input: (grp string, day date, y long). Output: one row per interior
    day — (grp, day string, y, trend_psum, weekday, seas_num, seas_n,
    resid_scaled).

    Scale: the daily pre-aggregate (callers') is the only row-scale
    shuffle; the spine, the offset self-join and the weekday agg all run
    on the #groups × #days relation, bounded by the calendar. The
    seasonal relation is #groups × period rows — broadcast back.
    """
    from pyspark.sql import functions as F

    # Round-10 ADVICE: with an EVEN period the offset window spans
    # 2*(period//2)+1 = period+1 days, so the n_in_win == period interior
    # filter never matches and the operator silently emits zero rows.
    # The classical even-period fix (a 2x-centered moving average) is a
    # different estimator with a different determinism contract; until a
    # caller needs it, misuse fails loudly here instead.
    if period % 2 != 1 or period < 3:
        raise ValueError(
            f"classical_decompose requires an odd period >= 3 (got "
            f"{period}): the centered moving window spans period+1 days "
            "for even periods and the interior filter would drop every row"
        )
    spark = daily.sparkSession
    half = period // 2
    bounds = daily.agg(F.min("day").alias("dmin"), F.max("day").alias("dmax"))
    spine = (
        daily.select("grp")
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .select(
            "grp",
            F.explode(
                F.sequence("dmin", "dmax", F.expr("interval 1 day"))
            ).alias("day"),
        )
    )
    dense = (
        spine.join(daily, ["grp", "day"], "left")
        .select(
            "grp", "day", F.coalesce("y", F.lit(0)).cast("long").alias("y")
        )
        .localCheckpoint()  # both sides of the offset join
    )
    offs = spark.range(-half, half + 1).select(
        F.col("id").cast("int").alias("off")
    )
    b = dense.select(
        F.col("grp").alias("g2"), F.col("day").alias("day2"),
        F.col("y").alias("yb"),
    )
    interior = (
        dense.crossJoin(F.broadcast(offs))
        .join(
            b.hint("shuffle_hash"),
            (F.col("g2") == F.col("grp"))
            & (F.col("day2") == F.date_add("day", F.col("off"))),
        )
        .groupBy("grp", "day", "y")
        .agg(
            F.count(F.lit(1)).alias("n_in_win"),
            F.sum("yb").cast("long").alias("trend_psum"),
        )
        .where(F.col("n_in_win") == period)
        .select(
            "grp",
            "day",
            "y",
            "trend_psum",
            F.pmod(
                F.datediff("day", F.lit("1970-01-01").cast("date")),
                F.lit(period),
            ).cast("int").alias("weekday"),
            (F.lit(period) * F.col("y") - F.col("trend_psum"))
            .cast("long")
            .alias("dtr"),
        )
        .localCheckpoint()  # feeds the seasonal agg AND the final select
    )
    seas = interior.groupBy("grp", "weekday").agg(
        F.sum("dtr").cast("long").alias("seas_num"),
        F.count(F.lit(1)).cast("long").alias("seas_n"),
    )
    return interior.join(F.broadcast(seas), ["grp", "weekday"]).select(
        "grp",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "y",
        "trend_psum",
        "weekday",
        "seas_num",
        "seas_n",
        (F.col("dtr") * F.col("seas_n") - F.col("seas_num"))
        .cast("long")
        .alias("resid_scaled"),
    )
