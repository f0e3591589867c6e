"""Time-series resampling with gap fill.

Complements the reference's ``infer_temporal_frequencies`` (which only
DETECTS gaps/duplicates, statistics/frequency.py): ``resample`` rolls an
event table up to a regular time grid and materializes empty buckets —
the step every downstream window/forecast pipeline needs before it can
assume a dense series.

Scale shape: the heavy side aggregates FIRST (map-side partial agg on
(group, bucket) — shuffle bytes scale with bucket count, not row
count); the dense grid is generated per group from one tiny min/max agg
via ``sequence`` + ``explode`` (grid rows = time-span/freq per group,
small by construction) and joined back — AQE broadcasts the grid side
when it is the small one.  No UDFs, no driver-side loops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F


def bucket_expr(ts_col: str, freq_seconds: int):
    """Epoch-aligned bucket start (in epoch seconds) for a timestamp."""
    return (
        F.floor(F.unix_micros(F.col(ts_col)) / F.lit(freq_seconds * 1_000_000))
        * freq_seconds
    ).cast("long")


def resample(
    df: DataFrame,
    ts_col: str,
    freq_seconds: int,
    group_cols=(),
    aggs: dict = None,
    fill: dict = None,
    out_ts: str = "bucket_ts",
) -> DataFrame:
    """Aggregate ``df`` onto a dense ``freq_seconds`` grid per group.

    ``aggs`` maps output name -> aggregate Column (default
    ``{"n_events": count(*)}``); ``fill`` maps output name -> literal
    used for empty buckets (default 0 for every agg — pass None values
    to keep nulls).  The grid spans each group's own [min, max] bucket
    range, inclusive, so leading/trailing silence outside a group's
    lifetime does not fabricate rows.

    Returns one row per (group, bucket) with ``{out_ts}`` (timestamp),
    ``{out_ts}_s`` (epoch seconds, join/oracle-friendly) and the aggs.
    """
    group_cols = list(group_cols)
    if aggs is None:
        aggs = {"n_events": F.count(F.lit(1))}
    if fill is None:
        fill = {name: 0 for name in aggs}
    b = bucket_expr(ts_col, freq_seconds)
    obs = (
        df.groupBy(*group_cols, b.alias("__b"))
        .agg(*[expr.alias(name) for name, expr in aggs.items()])
    )
    rng = obs.groupBy(*group_cols).agg(
        F.min("__b").alias("__mn"), F.max("__b").alias("__mx"),
    )
    grid = rng.select(
        *group_cols,
        F.explode(
            F.sequence("__mn", "__mx", F.lit(freq_seconds).cast("long")),
        ).alias("__b"),
    )
    out = grid.join(obs, group_cols + ["__b"], "left")
    for name, default in fill.items():
        if default is not None:
            out = out.withColumn(name, F.coalesce(name, F.lit(default)))
    return (
        out.withColumn(out_ts, F.timestamp_seconds(F.col("__b")))
        .withColumnRenamed("__b", f"{out_ts}_s")
    )


def rolling_features(
    df: DataFrame,
    ts_col: str,
    key_cols,
    value_col: str,
    n_events: int = 3,
) -> DataFrame:
    """Per-entity rolling features over an event stream — the standard
    feature-engineering step before training on behavioral data: for
    each event, the time since the entity's previous event and the
    rolling mean/sum of ``value_col`` over the last ``n_events`` events
    (current included).

    One partitioned window per entity (reducer per key — entity event
    counts are bounded in practice; for a pathological hot key, bucket
    by time first).  No shuffle beyond the single window exchange; all
    four features share one sort.
    """
    if n_events < 1:
        raise ValueError("n_events must be positive")
    key_cols = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    w = W.partitionBy(*key_cols).orderBy(F.col(ts_col), F.col(value_col))
    wn = w.rowsBetween(-(n_events - 1), 0)
    prev_ts = F.lag(ts_col).over(w)
    # "*": all input columns survive (event ids, payload) so the features
    # can join back to the source events
    return df.select(
        "*",
        (
            (F.unix_micros(F.col(ts_col)) - F.unix_micros(prev_ts)) / 1_000_000.0
        ).alias("secs_since_prev"),
        F.sum(value_col).over(wn).alias(f"rolling_sum_{n_events}"),
        F.avg(value_col).over(wn).alias(f"rolling_avg_{n_events}"),
        F.count(F.lit(1)).over(wn).cast("long").alias(f"rolling_n_{n_events}"),
    )


def detect_anomalies(
    df: DataFrame,
    ts_col: str,
    key_cols,
    value_col: str,
    window_events: int = 20,
    z_threshold: float = 3.0,
    min_history: int = 5,
    tie_cols=(),
) -> DataFrame:
    """Per-entity rolling z-score anomaly flags: each event is scored
    against the mean/stddev of the entity's PRECEDING ``window_events``
    events (current excluded — no self-contamination), flagged when
    |z| exceeds ``z_threshold``.  Events with fewer than ``min_history``
    preceding points are unscored (NULL z, never flagged).

    Same execution shape as ``rolling_features``: one partitioned window
    per entity sharing a single sort/exchange — monitoring-grade scoring
    over billions of events with no extra shuffle.  The window order
    tie-breaks on ``value_col`` then ``tie_cols``; pass a unique id in
    ``tie_cols`` to make the rows-frame contents fully deterministic
    when (ts, value) pairs can repeat within an entity.
    """
    if window_events < 2:
        raise ValueError("window_events must be >= 2")
    key_cols = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    w = (
        W.partitionBy(*key_cols)
        .orderBy(F.col(ts_col), F.col(value_col), *[F.col(c) for c in tie_cols])
        .rowsBetween(-window_events, -1)
    )
    mean = F.avg(value_col).over(w)
    sd = F.stddev_samp(value_col).over(w)
    n_hist = F.count(value_col).over(w)
    z = F.when(
        (n_hist >= min_history) & (sd > 0),
        (F.col(value_col) - mean) / sd,
    )
    return df.select(
        "*",
        n_hist.cast("long").alias("n_history"),
        z.alias("zscore"),
        F.coalesce(
            F.abs(z) > F.lit(float(z_threshold)), F.lit(False),
        ).alias("is_anomaly"),
    )


def detect_changepoint(
    df: DataFrame,
    ts_col: str,
    key_cols,
    value_col: str,
    min_points: int = 5,
    tie_cols=(),
) -> DataFrame:
    """Single change-point detection per entity (CUSUM): the timestamp
    where the cumulative sum of deviations from the entity's own mean
    peaks in magnitude — the classic estimator for "when did this
    series' level shift".

    One pass shape: entity means via a window aggregate, running CUSUM
    via the same sorted window, then one per-entity argmax (max_by) —
    a single sort/exchange per entity, no iteration.  Entities with
    fewer than ``min_points`` events are dropped.  Returns
    ``(key_cols..., changepoint_ts, cusum_peak, n_points)``.
    """
    key_cols = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    w_all = W.partitionBy(*key_cols)
    w_run = (
        W.partitionBy(*key_cols)
        .orderBy(F.col(ts_col), F.col(value_col), *[F.col(c) for c in tie_cols])
        .rowsBetween(W.unboundedPreceding, 0)
    )
    scored = df.select(
        *key_cols,
        F.col(ts_col).alias("__ts"),
        (
            F.sum(F.col(value_col)).over(w_run)
            - F.count(F.col(value_col)).over(w_run)
            * (F.sum(value_col).over(w_all) / F.count(value_col).over(w_all))
        ).alias("__s"),
        F.count(F.lit(1)).over(w_all).alias("__n"),
    )
    return (
        scored.where(F.col("__n") >= min_points)
        .groupBy(*key_cols)
        .agg(
            F.max_by(
                F.col("__ts"),
                F.struct(
                    F.abs("__s").alias("m"),
                    # deterministic ties: earliest peak wins
                    (-F.unix_micros(F.col("__ts"))).alias("t"),
                ),
            ).alias("changepoint_ts"),
            F.max(F.abs("__s")).alias("cusum_peak"),
            F.max("__n").alias("n_points"),
        )
    )


def interarrival_stats(
    df: DataFrame,
    ts_col: str,
    key_cols,
    min_events: int = 3,
    tie_cols=(),
) -> DataFrame:
    """Per-entity inter-arrival-time statistics: mean/stddev gap,
    coefficient of variation, and the burstiness index
    ``B = (sigma - mu)/(sigma + mu)`` (Goh & Barabási) — -1 for a
    metronome, 0 for a Poisson process, -> 1 for extreme burstiness.
    The standard behavioral fingerprint for bot detection, retention
    modeling, and traffic shaping.

    One lag window per entity (single sort/exchange, the
    ``rolling_features`` shape) then one groupBy agg — gaps never
    rematerialize.  Entities with fewer than ``min_events`` events
    (< 2 gaps) are dropped; ``tie_cols`` disambiguates repeated
    timestamps.  Returns ``(key_cols..., n_events, mean_gap_s,
    std_gap_s, cv, burstiness)``.
    """
    key_cols = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    w = W.partitionBy(*key_cols).orderBy(
        F.col(ts_col), *[F.col(c) for c in tie_cols],
    )
    gap = (
        F.unix_micros(F.col(ts_col)) - F.unix_micros(F.lag(ts_col).over(w))
    ) / 1_000_000.0
    gaps = df.select(*key_cols, gap.alias("__gap"))
    agg = gaps.groupBy(*key_cols).agg(
        (F.count(F.lit(1))).alias("n_events"),
        F.avg("__gap").alias("mean_gap_s"),
        F.stddev_samp("__gap").alias("std_gap_s"),
    )
    return (
        agg.where(F.col("n_events") >= min_events)
        .select(
            *key_cols, "n_events", "mean_gap_s", "std_gap_s",
            (F.col("std_gap_s") / F.col("mean_gap_s")).alias("cv"),
            (
                (F.col("std_gap_s") - F.col("mean_gap_s"))
                / (F.col("std_gap_s") + F.col("mean_gap_s"))
            ).alias("burstiness"),
        )
    )


def rolling_corr(
    df: DataFrame,
    ts_col: str,
    key_cols,
    x_col: str,
    y_col: str,
    n_events: int = 20,
    min_periods: int = 5,
    tie_cols=(),
) -> DataFrame:
    """Per-entity rolling Pearson correlation between two measures over
    the trailing ``n_events`` events (current included) — the co-
    movement monitor for paired signals (price/volume, latency/load).

    ``corr`` is a Spark window AGGREGATE, so the whole computation is
    one partitioned window sharing one sort per entity — the
    ``rolling_features`` execution shape; windows with fewer than
    ``min_periods`` pairs or zero variance yield NULL.
    """
    if n_events < 2:
        raise ValueError("n_events must be >= 2")
    key_cols = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    w = (
        W.partitionBy(*key_cols)
        .orderBy(F.col(ts_col), *[F.col(c) for c in tie_cols])
        .rowsBetween(-(n_events - 1), 0)
    )
    n_pairs = F.count(
        F.when(F.col(x_col).isNotNull() & F.col(y_col).isNotNull(), 1),
    ).over(w)
    return df.select(
        "*",
        n_pairs.cast("long").alias("n_pairs"),
        F.when(
            n_pairs >= min_periods, F.corr(x_col, y_col).over(w),
        ).alias(f"rolling_corr_{n_events}"),
    )


def seasonality_profile(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    period: str = "dow",
    group_cols=(),
) -> DataFrame:
    """Seasonal load profile: per period bucket (day-of-week, Spark
    convention Sunday=1..Saturday=7, or hour-of-day 0-23), the event
    count, mean value, and the seasonal
    INDEX (bucket mean / overall mean — 1.0 = flat) — the baseline
    every anomaly threshold and capacity plan starts from.

    One aggregation to the bucket table (map-side combinable); the
    overall mean joins back as a 1-row broadcast.  ``period``:
    ``"dow"`` (ISO Monday=1) or ``"hour"``.
    """
    if period == "dow":
        b = F.dayofweek(F.col(ts_col))  # Sun=1..Sat=7 (Spark native)
    elif period == "hour":
        b = F.hour(F.col(ts_col))
    else:
        raise ValueError("period must be 'dow' or 'hour'")
    group_cols = list(group_cols)
    agg = df.groupBy(*group_cols, b.cast("long").alias("period_bucket")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.avg(value_col).alias("mean_value"),
        F.sum(value_col).alias("sum_value"),
    )
    overall = df.groupBy(*group_cols).agg(
        F.avg(value_col).alias("__omean"),
    ) if group_cols else df.agg(F.avg(value_col).alias("__omean"))
    joined = (
        agg.join(F.broadcast(overall), group_cols)
        if group_cols
        else agg.crossJoin(F.broadcast(overall))
    )
    return joined.select(
        *group_cols, "period_bucket", "n_events", "mean_value", "sum_value",
        (F.col("mean_value") / F.col("__omean")).alias("seasonal_index"),
    )


def kaplan_meier(
    df: DataFrame,
    duration_col: str,
    event_col: str,
    group_cols=(),
    ci: bool = False,
    z: float = 1.959964,
) -> DataFrame:
    """Kaplan-Meier survival estimate per group — time-to-event
    analytics (time to churn/conversion/failure) with right-censoring
    done correctly: at each distinct event time t,
    ``S(t) = prod over t_i <= t of (1 - d_i / r_i)`` where ``d_i``
    counts events at t_i and ``r_i`` the at-risk population (rows with
    duration >= t_i).

    Distributed shape: rows collapse to per-(group, duration) event/
    censor counts FIRST (map-side combine — the windows below run over
    DISTINCT TIMES, not rows), the at-risk count is a suffix sum over
    one partitioned window, and the product telescopes as
    ``exp(sum(log))`` over the same sort.  With NO group columns both
    running sums route through
    :func:`~woodwork_spark.operators.rank.global_prefix_sums` (range
    shuffle + per-bucket windows — no SinglePartition exchange, the
    cox_ph_fit convention).  Censored rows reduce the at-risk set but
    never the survival step.  Returns one row per (group, duration
    with >= 1 event): ``(group..., duration, n_events, n_censored,
    at_risk, survival)``.

    ``ci=True`` appends the Greenwood standard error and the LOG-LOG
    confidence band (``se_surv``, ``ci_low``, ``ci_high`` at the
    two-sided level of ``z``; default 95%): the Greenwood sum ``g(t) =
    sum d_i / (r_i (r_i - d_i))`` rides the SAME ascending running
    sum as the survival telescoping, so the band costs no extra pass.
    Log-log (Kalbfleisch-Prentice) bounds ``S^exp(+-z sqrt(g)/|ln S|)``
    stay inside (0, 1) by construction; rows where S = 0 (last at-risk
    subject had the event) or S = 1 get NULL bounds — the band is
    undefined there.
    """
    from woodwork_spark.lifecycle import attach_persisted, persisted_frames
    from woodwork_spark.operators.rank import global_prefix_sums

    group_cols = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    caches = []
    ev = F.col(event_col).cast("int")
    counts = df.groupBy(*group_cols, F.col(duration_col).alias("duration")).agg(
        F.sum(ev).alias("n_events"),
        F.sum(1 - ev).alias("n_censored"),
        F.count(F.lit(1)).alias("__n"),
    )
    if group_cols:
        w_desc = (
            W.partitionBy(*group_cols)
            .orderBy(F.desc("duration"))
            .rowsBetween(W.unboundedPreceding, 0)
        )
        staged = counts.withColumn("at_risk", F.sum("__n").over(w_desc))
    else:
        staged = global_prefix_sums(
            counts, [F.desc("duration")], ["__n"], out_cols=["at_risk"],
            inclusive=True, small_threshold=0,
        )
        caches.extend(persisted_frames(staged))
    frac = 1.0 - F.col("n_events") / F.col("at_risk")
    # the last at-risk subject having the event drives S to exactly 0;
    # Spark's log(0) is NULL and would poison the telescoping sum, so
    # encode it as exp-underflow instead
    step = F.when(
        F.col("n_events") > 0,
        F.when(frac > 0, F.log(frac)).otherwise(F.lit(-745.0)),
    ).otherwise(F.lit(0.0))
    # Greenwood increment; +inf at r = d so the running sum poisons
    # every later cell deliberately (the band is undefined past S = 0)
    gterm = F.when(
        F.col("n_events") > 0,
        F.when(
            F.col("at_risk") > F.col("n_events"),
            F.col("n_events")
            / (F.col("at_risk")
               * (F.col("at_risk") - F.col("n_events"))),
        ).otherwise(F.lit(float("inf"))),
    ).otherwise(F.lit(0.0))
    staged = staged.withColumn("__lstep", step).withColumn("__gt", gterm)
    sum_cols = ["__lstep"] + (["__gt"] if ci else [])
    out_cols = ["__ls"] + (["__g"] if ci else [])
    if group_cols:
        w_asc = (
            W.partitionBy(*group_cols)
            .orderBy(F.asc("duration"))
            .rowsBetween(W.unboundedPreceding, 0)
        )
        for sc, oc in zip(sum_cols, out_cols):
            staged = staged.withColumn(oc, F.sum(sc).over(w_asc))
    else:
        staged = global_prefix_sums(
            staged, [F.asc("duration")], sum_cols, out_cols=out_cols,
            inclusive=True, small_threshold=0,
        )
        caches.extend(persisted_frames(staged))
    surv = F.exp(F.col("__ls"))
    cols = [
        *group_cols, "duration", "n_events", "n_censored", "at_risk",
        surv.alias("survival"),
    ]
    if ci:
        g = F.col("__g")
        band_ok = (
            (g < F.lit(float("inf"))) & (F.col("__ls") < 0)
            & (surv > 0)
        )
        se_ll = F.sqrt(g) / F.abs(F.col("__ls"))
        cols += [
            F.when(g < F.lit(float("inf")), surv * F.sqrt(g))
            .alias("se_surv"),
            F.when(band_ok, F.pow(surv, F.exp(F.lit(float(z)) * se_ll)))
            .alias("ci_low"),
            F.when(band_ok, F.pow(surv, F.exp(F.lit(-float(z)) * se_ll)))
            .alias("ci_high"),
        ]
    out = staged.where(F.col("n_events") > 0).select(*cols)
    return attach_persisted(out, *caches) if caches else out


def fill_gaps(
    df: DataFrame,
    order_col: str,
    value_col: str,
    group_cols=(),
    method: str = "ffill",
    out_col: str = None,
) -> DataFrame:
    """Fill NULL observations in an ordered series per group.

    - ``ffill``: last non-null value carried forward (leading NULLs stay
      NULL) — one ``last(ignorenulls)`` window, a single pass.
    - ``bfill``: next non-null carried backward (trailing NULLs stay
      NULL) — same window, descending.
    - ``linear``: straight line between the bracketing non-null anchors
      (``prev + (next - prev) * (t - t_prev) / (t_next - t_prev)`` on
      the numeric value of ``order_col``); leading/trailing runs fall
      back to the single available anchor (pandas
      ``interpolate(limit_direction='both')`` behavior).

    The natural post-pass to :func:`resample` with ``fill=None``: dense
    grid first, then interpolate the silent buckets.  Shape: window
    functions partitioned by group — one sort per group, arbitrarily
    parallel across groups, no iteration (the anchor-distribution trick
    makes linear interpolation a PURE window expression: both anchors
    and their positions reach every row via last/first-ignorenulls).
    """
    from pyspark.sql import Window as W

    if method not in ("ffill", "bfill", "linear"):
        raise ValueError(
            f"method must be 'ffill', 'bfill', or 'linear', got {method!r}",
        )
    out_col = out_col or value_col
    group_cols = (
        [group_cols] if isinstance(group_cols, str) else list(group_cols)
    )
    v = F.col(value_col)
    base = W.partitionBy(*group_cols) if group_cols else W.partitionBy(F.lit(1))
    fwd = base.orderBy(F.col(order_col).asc()).rowsBetween(
        W.unboundedPreceding, 0,
    )
    bwd = base.orderBy(F.col(order_col).desc()).rowsBetween(
        W.unboundedPreceding, 0,
    )
    if method == "ffill":
        return df.withColumn(out_col, F.last(v, ignorenulls=True).over(fwd))
    if method == "bfill":
        return df.withColumn(out_col, F.last(v, ignorenulls=True).over(bwd))
    t = F.col(order_col).cast("double")
    prev_v = F.last(v, ignorenulls=True).over(fwd)
    prev_t = F.last(
        F.when(v.isNotNull(), t), ignorenulls=True,
    ).over(fwd)
    next_v = F.last(v, ignorenulls=True).over(bwd)
    next_t = F.last(
        F.when(v.isNotNull(), t), ignorenulls=True,
    ).over(bwd)
    interp = F.when(v.isNotNull(), v).otherwise(
        F.when(prev_v.isNull(), next_v)
        .when(next_v.isNull(), prev_v)
        .when(next_t == prev_t, prev_v)
        .otherwise(
            prev_v + (next_v - prev_v) * (t - prev_t) / (next_t - prev_t),
        ),
    )
    return df.withColumn(out_col, interp)


def decayed_agg(
    df: DataFrame,
    ts_col: str,
    group_cols,
    value_col: str,
    half_life_seconds: float,
    ref_ts=None,
) -> DataFrame:
    """Exponential time-decay aggregates per group: each observation
    weighs ``0.5 ** (age / half_life)`` where age is measured back from
    ``ref_ts`` (default: the dataset's max timestamp, one tiny scalar
    agg) — the standard recency-weighted feature (decayed activity,
    decayed revenue) that a plain windowed sum misrepresents.

    ONE aggregation pass: the weight is a pure projection, so partial
    aggregation happens map-side and the shuffle carries one row per
    group.  Returns ``(group_cols..., n, decayed_sum, decayed_count,
    last_ts)``; ``decayed_count`` is the decayed event mass (sum of
    weights), useful as an activity score on its own.
    """
    group_cols = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    if half_life_seconds <= 0:
        raise ValueError(
            f"half_life_seconds must be > 0, got {half_life_seconds}",
        )
    if ref_ts is None:
        ref_ts = df.agg(F.max(F.col(ts_col))).first()[0]
        if ref_ts is None:
            raise ValueError("decayed_agg: no non-null timestamps")
    age = F.lit(ref_ts).cast("timestamp").cast("double") - F.col(
        ts_col,
    ).cast("double")
    w = F.pow(F.lit(0.5), age / F.lit(float(half_life_seconds)))
    v = F.col(value_col)
    return df.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(v.isNotNull(), w * v)).alias("decayed_sum"),
        F.sum(w).alias("decayed_count"),
        F.max(F.col(ts_col)).alias("last_ts"),
    )


def decompose_series(
    df: DataFrame,
    bucket_col: str,
    value_col: str,
    period: int,
    group_cols=(),
    trend_window: int = None,
) -> DataFrame:
    """Classical additive decomposition of a REGULARLY-SPACED series
    (run :func:`resample` first): ``value = trend + seasonal +
    residual``.

    - ``trend``: the classic centered moving average — an m-MA for odd
      ``period``, the textbook 2x m-MA (two half-weighted ends) for
      even ``period``, so a pure periodic component is annihilated
      EXACTLY either way.  Edges without a full window get NULL
      trend/residual.  ``trend_window`` (odd) overrides with a plain
      centered MA of that width.
    - ``seasonal``: per-phase mean of the detrended series (phase =
      bucket index mod ``period``), centered so the seasonal component
      sums to ~zero over one cycle.
    - ``residual``: what's left — the anomaly signal after trend and
      seasonality are explained away.

    Shape: one centered window per group + one phase aggregate joined
    back — no iteration, no collect; groups decompose independently in
    parallel.  ``bucket_col`` must be an integer bucket index or epoch
    divided by the step (consecutive buckets differ by 1).
    """
    from pyspark.sql import Window as W

    if period < 2:
        raise ValueError(f"period must be >= 2, got {period}")
    group_cols = (
        [group_cols] if isinstance(group_cols, str) else list(group_cols)
    )
    if trend_window is not None and (
        trend_window < 1 or trend_window % 2 == 0
    ):
        raise ValueError(
            f"trend_window must be a positive odd int, got {trend_window}",
        )
    base = (
        W.partitionBy(*group_cols) if group_cols else W.partitionBy(F.lit(1))
    ).orderBy(F.col(bucket_col).asc())
    v = F.col(value_col)
    if trend_window is not None or period % 2 == 1:
        w = trend_window or period
        win = base.rowsBetween(-(w // 2), w // 2)
        trend = F.when(F.count(v).over(win) == w, F.avg(v).over(win))
    else:
        # 2x m-MA for even periods: mean of the two m-wide windows
        # centered at t-1/2 and t+1/2 — half-weights the two extreme
        # buckets, which is what cancels an even-period seasonal exactly
        half = period // 2
        lo = base.rowsBetween(-half, half - 1)
        hi = base.rowsBetween(-half + 1, half)
        trend = F.when(
            (F.count(v).over(lo) == period) & (F.count(v).over(hi) == period),
            (F.avg(v).over(lo) + F.avg(v).over(hi)) / 2.0,
        )
    out = df.withColumn("trend", trend).withColumn(
        "__phase", F.pmod(F.col(bucket_col), F.lit(int(period))).cast("long"),
    ).withColumn("__detr", v - F.col("trend"))
    ph = out.groupBy(*group_cols, "__phase").agg(
        F.avg("__detr").alias("__ph_mean"),
    )
    ctr = ph.groupBy(*group_cols).agg(F.avg("__ph_mean").alias("__ph_ctr"))
    ph_keys = [*group_cols, "__phase"]
    joined = (
        out.join(ph, ph_keys, "left")
        .join(ctr, group_cols, "left") if group_cols
        else out.join(ph, ph_keys, "left").crossJoin(F.broadcast(ctr))
    )
    return (
        joined.withColumn(
            "seasonal", F.col("__ph_mean") - F.col("__ph_ctr"),
        )
        .withColumn("residual", v - F.col("trend") - F.col("seasonal"))
        .drop("__phase", "__detr", "__ph_mean", "__ph_ctr")
    )


def nelson_aalen(
    df: DataFrame,
    duration_col: str,
    event_col: str,
    group_cols=(),
) -> DataFrame:
    """Nelson-Aalen cumulative-hazard estimator — the robust companion
    to :func:`kaplan_meier`: ``H(t) = sum over distinct event times
    <= t of d_i / r_i`` (events over at-risk), with censored rows
    (``event_col`` false) shrinking the risk set without contributing a
    hazard step.  Preferred over -log(KM) when risk sets get small.

    Same scale shape as kaplan_meier: rows collapse to per-(group,
    duration) death/censor counts FIRST, the at-risk suffix sum and the
    cumulative hazard run over DISTINCT durations only.  Returns one
    row per (group, duration with >= 1 death): ``(group_cols...,
    duration, n_at_risk, n_events, cum_hazard)``.
    """
    from pyspark.sql import Window as W

    group_cols = (
        [group_cols] if isinstance(group_cols, str) else list(group_cols)
    )
    d = F.col(duration_col)
    ev = F.col(event_col).cast("boolean")
    per = (
        df.filter(d.isNotNull())
        .groupBy(*group_cols, d.alias("duration"))
        .agg(
            F.sum(ev.cast("long")).alias("n_events"),
            F.count(F.lit(1)).alias("n_total"),
        )
    )
    base = (
        W.partitionBy(*group_cols) if group_cols else W.partitionBy(F.lit(1))
    )
    at_risk = F.sum("n_total").over(
        base.orderBy(F.col("duration").asc())
        .rowsBetween(W.currentRow, W.unboundedFollowing),
    )
    scored = per.withColumn("n_at_risk", at_risk).withColumn(
        "cum_hazard",
        F.sum(
            F.col("n_events") / F.col("n_at_risk"),
        ).over(
            base.orderBy(F.col("duration").asc())
            .rowsBetween(W.unboundedPreceding, W.currentRow),
        ),
    )
    return scored.filter(F.col("n_events") > 0).select(
        *group_cols, "duration",
        F.col("n_at_risk").cast("long").alias("n_at_risk"),
        F.col("n_events").cast("long").alias("n_events"),
        "cum_hazard",
    )


def trend_test(
    df: DataFrame,
    x_col: str,
    y_col: str,
    group_cols=(),
) -> DataFrame:
    """Robust trend per group: Theil-Sen slope (median of all pairwise
    slopes — one wild month cannot drag it) plus the Mann-Kendall S
    statistic and its normal-approximation z — the standard
    "is this metric actually drifting" read for monitoring series,
    where least squares and its p-values are ruined by outliers.

    Pair space is O(n²) PER GROUP by definition of the estimators —
    run it on an AGGREGATED series (daily buckets via
    :func:`resample`), not raw events; 1000 buckets = ~500k pairs per
    group, fine; a raw million-event group is not.  Shape: one
    self-join per group key + one grouped aggregate (exact percentile
    for the slope median); ties in x are skipped for slopes and ties
    in y contribute 0 to S (the MK convention); the z variance uses
    the no-ties formula (documented approximation).

    Returns ``(group_cols..., n_points, n_pairs, sen_slope, s_stat,
    z_stat)``; groups with < 2 distinct points yield no row.
    """
    group_cols = (
        [group_cols] if isinstance(group_cols, str) else list(group_cols)
    )
    base = df.filter(
        F.col(x_col).isNotNull() & F.col(y_col).isNotNull(),
    ).select(*group_cols, F.col(x_col).alias("__x"), F.col(y_col).alias("__y"))
    a = base.select(
        *group_cols, F.col("__x").alias("xa"), F.col("__y").alias("ya"),
    )
    b = base.select(
        *group_cols, F.col("__x").alias("xb"), F.col("__y").alias("yb"),
    )
    pairs = (
        a.join(b, group_cols) if group_cols else a.crossJoin(b)
    ).where(F.col("xa") < F.col("xb"))
    slope = (F.col("yb") - F.col("ya")) / (
        F.col("xb").cast("double") - F.col("xa").cast("double")
    )
    sgn = F.signum(F.col("yb") - F.col("ya"))
    agg = (
        pairs.withColumn("__sl", slope)
        .withColumn("__sg", sgn)
        .groupBy(*group_cols)
        .agg(
            F.expr("percentile(__sl, 0.5)").alias("sen_slope"),
            F.sum("__sg").cast("long").alias("s_stat"),
            F.count(F.lit(1)).alias("n_pairs"),
        )
    )
    counts = base.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_points"),
    )
    n = F.col("n_points").cast("double")
    var_s = n * (n - 1) * (2 * n + 5) / 18.0
    s = F.col("s_stat").cast("double")
    z = F.when(s > 0, (s - 1) / F.sqrt(var_s)).when(
        s < 0, (s + 1) / F.sqrt(var_s),
    ).otherwise(F.lit(0.0))
    joined = (
        agg.join(counts, group_cols) if group_cols
        else agg.crossJoin(counts)
    )
    return joined.select(
        *group_cols, "n_points", "n_pairs", "sen_slope", "s_stat",
        z.alias("z_stat"),
    )


_HOLT_SCHEMA = (
    "n_points long, level double, trend double, mae double"
)


def holt_fit(
    df: DataFrame,
    x_col: str,
    y_col: str,
    group_cols,
    alpha: float = 0.5,
    beta: float = 0.3,
) -> DataFrame:
    """Holt linear (double) exponential smoothing per group — the
    workhorse short-range forecaster: level ``l_t = a*y_t +
    (1-a)*(l_{t-1} + b_{t-1})`` and trend ``b_t = B*(l_t - l_{t-1}) +
    (1-B)*b_{t-1}``, initialized ``l_1 = y_1, b_1 = y_2 - y_1``.
    The h-step forecast is ``level + h * trend`` off the returned
    state; ``mae`` is the in-sample one-step error mean over ``t >= 3``
    (the first two points feed initialization).

    The recurrence is inherently sequential, so this is one of the few
    LEGITIMATE ``applyInPandas`` operators in the library: groups fan
    out across the cluster, the per-group series (run :func:`resample`
    first — buckets, not raw events) iterates in one Arrow batch.
    Rows with NULL x/y are dropped; groups with < 2 points yield no
    row.  Returns ``(group_cols..., n_points, level, trend, mae)``.
    """
    import pandas as pd

    if not 0 < alpha <= 1 or not 0 < beta <= 1:
        raise ValueError("alpha and beta must be in (0, 1]")
    group_cols = (
        [group_cols] if isinstance(group_cols, str) else list(group_cols)
    )
    if not group_cols:
        raise ValueError("holt_fit requires group_cols")
    base = df.filter(
        F.col(x_col).isNotNull() & F.col(y_col).isNotNull(),
    ).select(*group_cols, F.col(x_col).alias("__x"), F.col(y_col).alias("__y"))

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        # stable sort with a value tiebreak: the incoming Arrow batch
        # row order is shuffle-dependent, so duplicate x values under
        # an unstable sort would make the sequential recurrence
        # nondeterministic run-to-run
        pdf = pdf.sort_values(["__x", "__y"], kind="mergesort")
        y = pdf["__y"].astype(float).to_numpy()
        keys = pdf.iloc[0][group_cols]
        if len(y) < 2:
            return pd.DataFrame(columns=[*group_cols, "n_points", "level",
                                         "trend", "mae"])
        level = y[0]
        trend = y[1] - y[0]
        abs_err = []
        for t in range(1, len(y)):
            if t >= 2:
                abs_err.append(abs(y[t] - (level + trend)))
            prev_level = level
            level = alpha * y[t] + (1 - alpha) * (level + trend)
            trend = beta * (level - prev_level) + (1 - beta) * trend
        mae = float(sum(abs_err) / len(abs_err)) if abs_err else None
        return pd.DataFrame(
            [[*keys, len(y), float(level), float(trend), mae]],
            columns=[*group_cols, "n_points", "level", "trend", "mae"],
        )

    key_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in base.select(*group_cols).schema.fields
    )
    return base.groupBy(*group_cols).applyInPandas(
        fit, f"{key_schema}, {_HOLT_SCHEMA}",
    )


def forecast_baselines(
    df: DataFrame,
    x_col: str,
    y_col: str,
    group_cols,
    period: int = None,
) -> DataFrame:
    """One-step in-sample MAE of the two standard forecast baselines
    per group — naive (ŷ_t = y_{t-1}) and, with ``period``, seasonal
    naive (ŷ_t = y_{t-period}).  The honesty check for any forecaster:
    :func:`holt_fit`'s ``mae`` (or a model's backtest) only means
    something relative to these — a model losing to last-week's-value
    is not a model.

    Pure windows (lag per group, one aggregate), no recurrence.
    Returns ``(group_cols..., n_points, mae_naive, mae_snaive)`` with
    ``mae_snaive`` NULL when ``period`` is None or the series is
    shorter than ``period + 1``.
    """
    from pyspark.sql import Window as W

    group_cols = (
        [group_cols] if isinstance(group_cols, str) else list(group_cols)
    )
    base = df.filter(
        F.col(x_col).isNotNull() & F.col(y_col).isNotNull(),
    ).select(*group_cols, F.col(x_col).alias("__x"), F.col(y_col).alias("__y"))
    w = (
        W.partitionBy(*group_cols) if group_cols else W.partitionBy(F.lit(1))
    ).orderBy(F.col("__x").asc())
    scored = base.withColumn(
        "__e1", F.abs(F.col("__y") - F.lag("__y", 1).over(w)),
    )
    if period is not None and period < 1:
        raise ValueError(f"period must be >= 1, got {period}")
    if period:
        scored = scored.withColumn(
            "__es", F.abs(F.col("__y") - F.lag("__y", int(period)).over(w)),
        )
    else:
        scored = scored.withColumn("__es", F.lit(None).cast("double"))
    return scored.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_points"),
        F.avg("__e1").alias("mae_naive"),
        F.avg("__es").alias("mae_snaive"),
    )


def acf(
    df: DataFrame,
    x_col: str,
    y_col: str,
    group_cols=(),
    max_lag: int = 10,
) -> DataFrame:
    """Sample autocorrelation function per group, lags 1..``max_lag``.

    Uses the standard biased estimator: r_k = sum_{t>k}(y_t - ȳ)(y_{t-k}
    - ȳ) / sum_t(y_t - ȳ)², with the FULL-series mean ȳ and a common
    denominator across lags, so r_k is comparable between lags and the
    usual ±1.96/√n band applies.  Assumes an evenly spaced series —
    resample first (:func:`resample` / :func:`fill_gaps`); the lag is in
    ROWS, not time units.

    Scale shape: ONE window partitioning carries everything — the
    per-group mean is an unbounded window over the same partition spec
    as the ``max_lag`` lag columns, so the whole computation is a single
    per-group sort + one grouped aggregate producing every lag's
    numerator at once (no per-lag jobs, no self-joins).  Lags then
    unpivot via ``stack``.  Per-group data must fit a partition — true
    for any aggregated series (the only kind ACF is meaningful on).

    Returns ``(group_cols..., lag, n_points, n_used, acf)`` where
    ``n_used`` counts the pairs behind lag k; groups with zero variance
    yield NULL acf.
    """
    if max_lag < 1:
        raise ValueError(f"max_lag must be >= 1, got {max_lag}")
    group_cols = (
        [group_cols] if isinstance(group_cols, str) else list(group_cols)
    )
    base = df.filter(
        F.col(x_col).isNotNull() & F.col(y_col).isNotNull(),
    ).select(*group_cols, F.col(x_col).alias("__x"), F.col(y_col).alias("__y"))
    part = (
        W.partitionBy(*group_cols) if group_cols else W.partitionBy(F.lit(1))
    )
    w_all = part.orderBy("__x").rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing,
    )
    w_lag = part.orderBy("__x")
    centered = base.withColumn("__mu", F.avg("__y").over(w_all))
    dev = F.col("__y") - F.col("__mu")
    for k in range(1, max_lag + 1):
        centered = centered.withColumn(
            f"__p{k}", dev * (F.lag("__y", k).over(w_lag) - F.col("__mu")),
        )
    agg = centered.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_points"),
        F.sum(dev * dev).alias("__den"),
        *[F.sum(f"__p{k}").alias(f"__n{k}") for k in range(1, max_lag + 1)],
        *[F.count(f"__p{k}").alias(f"__c{k}") for k in range(1, max_lag + 1)],
    )
    stack_expr = "stack({}, {}) as (lag, __num, n_used)".format(
        max_lag,
        ", ".join(
            f"{k}, __n{k}, __c{k}" for k in range(1, max_lag + 1)
        ),
    )
    tall = agg.select(*group_cols, "n_points", "__den", F.expr(stack_expr))
    r = F.when(F.col("__den") > 0, F.col("__num") / F.col("__den"))
    return tall.select(
        *group_cols, "lag", "n_points", "n_used", r.alias("acf"),
    )


def ccf(
    df: DataFrame,
    x_col: str,
    y_col: str,
    order_col: str,
    group_cols=(),
    max_lag: int = 5,
) -> DataFrame:
    """Sample cross-correlation between two series per group for lags
    -max_lag..+max_lag: r_k = sum((x_t - x̄)(y_{t-k} - ȳ)) /
    sqrt(sum((x - x̄)²) sum((y - ȳ)²)) — "does metric y LEAD metric x
    by k steps" (positive k: y's past correlates with x's present).
    The two-series companion of :func:`acf`; same evenly-spaced-series
    assumption (resample first), lag in ROWS.

    Same single-sort shape as acf: one window partitioning carries
    both means and every shifted column (lag for positive k, lead for
    negative), one aggregate emits all 2·max_lag+1 numerators,
    ``stack`` unpivots.

    Returns ``(group_cols..., lag, n_points, n_used, ccf)``; NULL when
    either series has zero variance.
    """
    if max_lag < 0:
        raise ValueError(f"max_lag must be >= 0, got {max_lag}")
    group_cols = (
        [group_cols] if isinstance(group_cols, str) else list(group_cols)
    )
    base = df.filter(
        F.col(order_col).isNotNull()
        & F.col(x_col).isNotNull() & F.col(y_col).isNotNull(),
    ).select(
        *group_cols,
        F.col(order_col).alias("__o"),
        F.col(x_col).cast("double").alias("__x"),
        F.col(y_col).cast("double").alias("__y"),
    )
    part = (
        W.partitionBy(*group_cols) if group_cols else W.partitionBy(F.lit(1))
    )
    w_all = part.orderBy("__o").rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing,
    )
    w_lag = part.orderBy("__o")
    centered = base.withColumn("__mx", F.avg("__x").over(w_all)).withColumn(
        "__my", F.avg("__y").over(w_all),
    )
    dx = F.col("__x") - F.col("__mx")
    lags = list(range(-max_lag, max_lag + 1))
    for k in lags:
        shifted = (
            F.lag("__y", k).over(w_lag) if k >= 0
            else F.lead("__y", -k).over(w_lag)
        )
        centered = centered.withColumn(
            f"__p{k + max_lag}", dx * (shifted - F.col("__my")),
        )
    agg = centered.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_points"),
        F.sum(dx * dx).alias("__dx2"),
        F.sum(
            (F.col("__y") - F.col("__my"))
            * (F.col("__y") - F.col("__my")),
        ).alias("__dy2"),
        *[F.sum(f"__p{k + max_lag}").alias(f"__n{k + max_lag}")
          for k in lags],
        *[F.count(f"__p{k + max_lag}").alias(f"__c{k + max_lag}")
          for k in lags],
    )
    stack_expr = "stack({}, {}) as (lag, __num, n_used)".format(
        len(lags),
        ", ".join(
            f"{k}, __n{k + max_lag}, __c{k + max_lag}" for k in lags
        ),
    )
    tall = agg.select(
        *group_cols, "n_points", "__dx2", "__dy2", F.expr(stack_expr),
    )
    denom = F.sqrt(F.col("__dx2") * F.col("__dy2"))
    r = F.when(denom > 0, F.col("__num") / denom)
    return tall.select(
        *group_cols, "lag", "n_points", "n_used", r.alias("ccf"),
    )


def calendar_features(
    df: DataFrame,
    ts_col: str,
    prefix: str = "",
) -> DataFrame:
    """Standard calendar feature battery from a timestamp column — the
    projection every temporal model / seasonality grouping starts
    with, in ENGINE-PORTABLE definitions (ISO day-of-week 1=Mon..7=Sun
    — Spark's ``dayofweek`` is Sunday-1, the classic silent bug):
    dow_iso, is_weekend, day, month, quarter, week_iso, hour,
    is_month_start, is_month_end.

    Pure single projection (codegen, no shuffle); NULL timestamps
    yield NULL features.  Returns the input with the features
    appended, each named ``{prefix}{feature}``.
    """
    t = F.col(ts_col)
    dow_iso = ((F.dayofweek(t) + 5) % 7) + 1
    feats = {
        "dow_iso": dow_iso.cast("int"),
        "is_weekend": (dow_iso >= 6).cast("int"),
        "day": F.dayofmonth(t).cast("int"),
        "month": F.month(t).cast("int"),
        "quarter": F.quarter(t).cast("int"),
        "week_iso": F.weekofyear(t).cast("int"),
        "hour": F.hour(t).cast("int"),
        "is_month_start": (F.dayofmonth(t) == 1).cast("int"),
        "is_month_end": (
            F.dayofmonth(t) == F.dayofmonth(F.last_day(t))
        ).cast("int"),
    }
    return df.select(
        "*", *[v.alias(f"{prefix}{k}") for k, v in feats.items()],
    )


def logrank_test(
    df: DataFrame,
    duration_col: str,
    event_col: str,
    group_col: str,
    group_a,
    group_b,
    weights: str = "logrank",
) -> DataFrame:
    """Two-group log-rank test — "do these survival curves actually
    differ", the hypothesis-test companion to :func:`kaplan_meier`.
    At each distinct event time on the POOLED time axis, the observed
    group-a events are compared to their hypergeometric expectation
    given the at-risk split; the statistic is
    ``chi2 = (sum(O - E))^2 / sum(V)``.

    Distributed shape: rows collapse to per-distinct-duration
    (rows_a, rows_b, events_a, events_b) tallies FIRST (one map-side
    combinable groupBy), the at-risk counts fall out of ONE
    range-partitioned running sum over those tallies
    (``n_a(t) = N_a - rows_a_below(t)`` — no per-group suffix window,
    no single reducer on a near-continuous time axis), and the O/E/V
    terms fold in one aggregate.  Rows with a null duration are
    excluded; censored rows (event = 0) shrink the at-risk set only.

    ``weights='wilcoxon'`` gives the Gehan-Breslow-Wilcoxon variant:
    each event time's (O - E) and V are weighted by the pooled at-risk
    count ``n_t`` (and ``n_t^2`` for V) — up-weighting EARLY
    differences, the standard choice when curves separate early and
    re-converge (where the unweighted log-rank loses power).  Same
    plan, one extra multiplication per cell.

    Returns one row: ``(n_a, n_b, events_a, events_b, o_minus_e,
    variance, chi2, p_approx)`` where ``o_minus_e`` is group-a
    observed minus expected (weighted); ``chi2`` and the exact 1-dof
    survival ``p_approx`` are null when the variance is 0 (no overlap
    in at-risk windows or a degenerate group).
    """
    from .rank import global_prefix_sums
    from ..lifecycle import attach_persisted, persisted_frames
    from .stats_tests import _chi2_sf

    if weights not in ("logrank", "wilcoxon"):
        raise ValueError(f"unknown weights {weights!r}")

    ev = F.col(event_col).cast("int")
    isa = (F.col(group_col) == F.lit(group_a)).cast("int")
    base = df.filter(
        F.col(group_col).isin([group_a, group_b])
        & F.col(duration_col).isNotNull(),
    ).select(
        F.col(duration_col).alias("__t"),
        isa.alias("__isa"),
        ev.alias("__e"),
    )
    cells = base.groupBy("__t").agg(
        F.sum("__isa").alias("__ra"),
        F.sum(1 - F.col("__isa")).alias("__rb"),
        F.sum(F.col("__isa") * F.col("__e")).alias("__da"),
        F.sum((1 - F.col("__isa")) * F.col("__e")).alias("__db"),
    )
    ranked = global_prefix_sums(
        cells, ["__t"], ["__ra", "__rb"],
        out_cols=["__ba", "__bb"], inclusive=False,
    )
    totals = ranked.agg(
        F.sum("__ra").cast("long").alias("n_a"),
        F.sum("__rb").cast("long").alias("n_b"),
    )
    j = ranked.crossJoin(F.broadcast(totals))
    n1 = (F.col("n_a") - F.col("__ba")).cast("double")
    n2 = (F.col("n_b") - F.col("__bb")).cast("double")
    nt = n1 + n2
    d = (F.col("__da") + F.col("__db")).cast("double")
    e1 = d * n1 / nt
    v = F.when(
        nt > 1,
        d * (n1 / nt) * (n2 / nt) * (nt - d) / (nt - 1),
    ).otherwise(F.lit(0.0))
    wgt = F.lit(1.0) if weights == "logrank" else nt
    agg = j.agg(
        F.max("n_a").alias("n_a"),
        F.max("n_b").alias("n_b"),
        F.sum("__da").cast("long").alias("events_a"),
        F.sum("__db").cast("long").alias("events_b"),
        F.sum(
            F.when(d > 0, wgt * (F.col("__da") - e1))
            .otherwise(F.lit(0.0)),
        ).alias("o_minus_e"),
        F.sum(
            F.when(d > 0, wgt * wgt * v).otherwise(F.lit(0.0)),
        ).alias("variance"),
    )
    chi2 = F.col("o_minus_e") * F.col("o_minus_e") / F.col("variance")
    out = agg.select(
        "n_a", "n_b", "events_a", "events_b", "o_minus_e", "variance",
        F.when(F.col("variance") > 0, chi2).alias("chi2"),
        F.when(
            F.col("variance") > 0, _chi2_sf(chi2, 1),
        ).alias("p_approx"),
    )
    return attach_persisted(out, *persisted_frames(ranked))


def rmst(
    df: DataFrame,
    duration_col: str,
    event_col: str,
    horizon: float,
    group_cols=(),
    ci: bool = False,
) -> DataFrame:
    """Restricted Mean Survival Time per group: the area under the
    Kaplan-Meier curve up to ``horizon`` — "expected event-free time in
    the first τ days", the standard censoring-safe effect size when
    median survival is undefined or hazards cross.

    Built on :func:`kaplan_meier` (same distributed shape: windows run
    over distinct EVENT TIMES, not rows).  The step integral is
    ``sum over event times t_i of S(t_{i-1}) * (min(t_i, τ) -
    min(t_{i-1}, τ))`` (with ``S(t_0) = 1, t_0 = 0``) plus the tail
    ``S(t_last) * (τ - min(t_last, τ))`` — one lag window per group +
    one fold.  Returns one row per group: ``(group..., horizon, rmst,
    n_times)``; groups with zero observed events contribute no row
    (their KM curve is flat 1.0 — RMST is trivially ``horizon``;
    documented over fabricating rows).

    ``ci=True`` appends ``se_rmst``, the standard Greenwood-type RMST
    standard error ``sqrt(sum_i A_i^2 d_i / (r_i (r_i - d_i)))`` where
    ``A_i`` is the area under the curve from ``t_i`` to the horizon —
    computed from the SAME per-cell frame with one extra full-frame
    window (cells are distinct event times, never rows).  NULL when
    any contributing cell has ``r_i = d_i`` (S hits 0 — the classic
    undefined-variance case).  :func:`rmst_diff` builds the two-group
    contrast on top.
    """
    from woodwork_spark.lifecycle import attach_persisted, persisted_frames

    if horizon <= 0:
        raise ValueError(f"horizon must be > 0, got {horizon}")
    group_cols = (
        [group_cols] if isinstance(group_cols, str) else list(group_cols)
    )
    km = kaplan_meier(df, duration_col, event_col, group_cols)
    # the ungrouped KM path persists global_prefix_sums intermediates;
    # re-attach them so lifecycle.release on OUR result frees them too
    caches = persisted_frames(km)
    w = W.partitionBy(*group_cols).orderBy("duration")
    t = F.col("duration").cast("double")
    tau = F.lit(float(horizon))
    prev_s = F.lag("survival", 1, 1.0).over(w)
    prev_t = F.lag(t, 1).over(w)
    seg = prev_s * (
        F.least(t, tau) - F.least(F.coalesce(prev_t, F.lit(0.0)), tau)
    )
    staged = km.withColumn("__seg", seg)
    if not ci:
        out = staged.groupBy(*group_cols).agg(
            F.lit(float(horizon)).alias("horizon"),
            (
                F.sum("__seg")
                + F.max_by("survival", t)
                * (tau - F.least(F.max(t), tau))
            ).alias("rmst"),
            F.count(F.lit(1)).cast("long").alias("n_times"),
        )
        return attach_persisted(out, *caches) if caches else out
    # A_i = area from t_i to tau = (total segs + tail) - cum segs(<=i);
    # one ordered cumulative + one full-frame window over CELLS
    w_cum = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    w_full = (
        W.partitionBy(*group_cols).orderBy("duration")
        .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    )
    tail = F.last("survival").over(w_full) * (
        tau - F.least(F.max(t).over(w_full), tau)
    )
    a_i = (
        F.sum("__seg").over(w_full) + tail - F.sum("__seg").over(w_cum)
    )
    d = F.col("n_events").cast("double")
    r = F.col("at_risk").cast("double")
    # cells at/past the horizon contribute no area (A_i = 0) and must
    # not poison the variance even when their r_i = d_i
    vterm = F.when(t >= tau, F.lit(0.0)).when(
        r > d, a_i * a_i * d / (r * (r - d)),
    ).otherwise(F.lit(float("inf")))
    staged = staged.withColumn("__vt", vterm)
    out = staged.groupBy(*group_cols).agg(
        F.lit(float(horizon)).alias("horizon"),
        (
            F.sum("__seg")
            + F.max_by("survival", t)
            * (tau - F.least(F.max(t), tau))
        ).alias("rmst"),
        F.count(F.lit(1)).cast("long").alias("n_times"),
        F.sum("__vt").alias("__v"),
    )
    res = out.select(
        *group_cols, "horizon", "rmst", "n_times",
        F.when(
            F.col("__v") < F.lit(float("inf")), F.sqrt(F.col("__v")),
        ).alias("se_rmst"),
    )
    return attach_persisted(res, *caches) if caches else res


def rmst_diff(
    df: DataFrame,
    duration_col: str,
    event_col: str,
    horizon: float,
    group_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """Between-group RMST difference at a horizon — the standard
    censoring-safe effect size for time-to-event A/B comparisons when
    hazards cross or medians are undefined (where the log-rank test
    loses power or interpretability): ``diff = RMST_a - RMST_b``,
    ``se = sqrt(se_a^2 + se_b^2)`` (independent groups), Wald z and
    two-sided normal p via the shared A&S polynomial.

    One :func:`rmst` pass with ``ci=True`` over both groups (cells =
    distinct event times per group), then a 2-row pivot — model-sized
    after the KM collapse.  Returns ONE row: ``(horizon, rmst_a,
    rmst_b, diff, se_diff, z_stat, p_approx)``; NULL inference when
    either group's variance is undefined or either group has no
    events."""
    from woodwork_spark.lifecycle import attach_persisted, persisted_frames
    from woodwork_spark.operators.stats_tests import (
        _std_normal_two_sided_p,
    )

    sub = df.filter(F.col(group_col).isin([group_a, group_b]))
    per = rmst(
        sub, duration_col, event_col, horizon, [group_col], ci=True,
    )
    g = F.col(group_col)
    folded = per.agg(
        F.lit(float(horizon)).alias("horizon"),
        F.max(F.when(g == group_a, F.col("rmst"))).alias("rmst_a"),
        F.max(F.when(g == group_b, F.col("rmst"))).alias("rmst_b"),
        F.max(F.when(g == group_a, F.col("se_rmst"))).alias("__sa"),
        F.max(F.when(g == group_b, F.col("se_rmst"))).alias("__sb"),
    )
    diff = F.col("rmst_a") - F.col("rmst_b")
    se = F.sqrt(
        F.col("__sa") * F.col("__sa") + F.col("__sb") * F.col("__sb"),
    )
    ok = (
        F.col("rmst_a").isNotNull() & F.col("rmst_b").isNotNull()
        & F.col("__sa").isNotNull() & F.col("__sb").isNotNull()
        & (se > 0)
    )
    z = diff / se
    res = folded.select(
        "horizon", "rmst_a", "rmst_b",
        F.when(
            F.col("rmst_a").isNotNull() & F.col("rmst_b").isNotNull(),
            diff,
        ).alias("diff"),
        F.when(ok, se).alias("se_diff"),
        F.when(ok, z).alias("z_stat"),
        F.when(ok, _std_normal_two_sided_p(z)).alias("p_approx"),
    )
    caches = persisted_frames(per)
    return attach_persisted(res, *caches) if caches else res


_HW_SCHEMA = (
    "n_points bigint, level double, trend double, s_next double, "
    "forecast_1 double, mae double"
)


def holt_winters_fit(
    df: DataFrame,
    x_col: str,
    y_col: str,
    group_cols,
    period: int,
    alpha: float = 0.5,
    beta: float = 0.3,
    gamma: float = 0.2,
) -> DataFrame:
    """Holt-Winters ADDITIVE triple exponential smoothing per group —
    :func:`holt_fit` plus a seasonal component of length ``period``:

    - ``l_t = a*(y_t - s_{t-m}) + (1-a)*(l_{t-1} + b_{t-1})``
    - ``b_t = B*(l_t - l_{t-1}) + (1-B)*b_{t-1}``
    - ``s_t = G*(y_t - l_t) + (1-G)*s_{t-m}``

    Initialization is the textbook two-full-periods scheme: ``l_m`` is
    the first period's mean, ``b_m`` the mean-to-mean slope between the
    first two periods divided by m, ``s_i = y_i - l_m`` for the first
    period.  The recursion starts at t = m+1; the one-step error
    ``e_t = y_t - (l_{t-1} + b_{t-1} + s_{t-m})`` feeds ``mae``.

    Like :func:`holt_fit`, the recurrence is inherently sequential, so
    groups fan out via ``applyInPandas`` and each series iterates in
    one Arrow batch — every arithmetic step is elementary IEEE ops in a
    fixed order, so a recursive-CTE SQL replay reproduces it bit-for-
    bit.  Groups with fewer than ``2 * period + 1`` points yield no row
    (the initializer needs two full periods plus one step).

    Returns ``(group_cols..., n_points, level, trend, s_next,
    forecast_1, mae)`` where ``s_next`` is the seasonal index that
    applies to t = n+1 and ``forecast_1 = level + trend + s_next``.
    """
    import pandas as pd

    if period < 2:
        raise ValueError(f"period must be >= 2, got {period}")
    if not 0 < alpha <= 1 or not 0 < beta <= 1 or not 0 < gamma <= 1:
        raise ValueError("alpha, beta, gamma must be in (0, 1]")
    group_cols = (
        [group_cols] if isinstance(group_cols, str) else list(group_cols)
    )
    if not group_cols:
        raise ValueError("holt_winters_fit requires group_cols")
    base = df.filter(
        F.col(x_col).isNotNull() & F.col(y_col).isNotNull(),
    ).select(*group_cols, F.col(x_col).alias("__x"), F.col(y_col).alias("__y"))
    m = int(period)

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        cols = [*group_cols, "n_points", "level", "trend", "s_next",
                "forecast_1", "mae"]
        pdf = pdf.sort_values(["__x", "__y"], kind="mergesort")
        y = [float(v) for v in pdf["__y"].to_numpy()]
        keys = pdf.iloc[0][group_cols]
        n = len(y)
        if n < 2 * m + 1:
            return pd.DataFrame(columns=cols)
        # left-to-right sums so the SQL replay's list_sum matches ulp-
        # for-ulp (numpy pairwise summation would NOT)
        mean1 = 0.0
        for v in y[:m]:
            mean1 += v
        mean1 /= m
        mean2 = 0.0
        for v in y[m:2 * m]:
            mean2 += v
        mean2 /= m
        level = mean1
        trend = (mean2 - mean1) / m
        season = [y[i] - mean1 for i in range(m)]
        abs_sum, n_err = 0.0, 0
        for t in range(m, n):
            s_old = season[t - m]
            abs_sum += abs(y[t] - (level + trend + s_old))
            n_err += 1
            prev_level = level
            level = alpha * (y[t] - s_old) + (1 - alpha) * (level + trend)
            trend = beta * (level - prev_level) + (1 - beta) * trend
            season.append(gamma * (y[t] - level) + (1 - gamma) * s_old)
        s_next = season[n - m]  # applies to t = n+1
        return pd.DataFrame(
            [[*keys, n, level, trend, s_next, level + trend + s_next,
              abs_sum / n_err]],
            columns=cols,
        )

    key_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in base.select(*group_cols).schema.fields
    )
    return base.groupBy(*group_cols).applyInPandas(
        fit, f"{key_schema}, {_HW_SCHEMA}",
    )


def _key_join(left, right, keys, broadcast=False):
    """``left.join(right, keys)`` with the keys matched null-safe, so a
    NULL key is its own group, as in the groupBy that made ``right``.
    ``right``'s keys are renamed for the join and dropped after it."""
    knames = [f"__k{i}" for i in range(len(keys))]
    rest = [c for c in right.columns if c not in keys]
    right = right.select(
        *[F.col(k).alias(kn) for k, kn in zip(keys, knames)], *rest,
    )
    if broadcast:
        right = F.broadcast(right)
    on = None
    for k, kn in zip(keys, knames):
        c = F.col(k).eqNullSafe(F.col(kn))
        on = c if on is None else on & c
    return left.join(right, on).drop(*knames)


def _local_key_codes(pdf, cols, fields):
    """Dense codes for the ``cols`` key tuples of a
    :func:`~woodwork_spark.io.collect_bounded` frame, and each code's
    key tuple as Python values of the source types.  A NULL key is its
    own group, as in Spark's ``groupBy`` (the collect keeps integers
    exact and sends real NaN to Spark, so a pandas NA is a NULL).
    Returns None for a type outside plain integers, floats, strings,
    booleans and dates."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    if not cols:
        return np.zeros(len(pdf), dtype=np.int64), [()]
    codes, values = [], []
    for c in cols:
        dt = fields[c].dataType
        if isinstance(dt, T.IntegralType):
            conv = int
        elif isinstance(dt, (T.FloatType, T.DoubleType)):
            conv = float
        elif isinstance(dt, T.BooleanType):
            conv = bool
        elif dt == T.StringType() or isinstance(dt, T.DateType):
            conv = None  # already Python str / datetime.date
        else:
            return None
        code, uniq = pd.factorize(pdf[c], use_na_sentinel=False)
        codes.append(code)
        values.append([
            None if pd.isna(v) else conv(v) if conv else v for v in uniq
        ])
    uniq, inv = np.unique(
        np.stack(codes, axis=1), axis=0, return_inverse=True,
    )
    keys = [tuple(values[i][c] for i, c in enumerate(u)) for u in uniq]
    return inv.reshape(-1), keys


def _cox_fit_local(pdf, group_cols, part_cols, fields, k, iters):
    """Whole-fit driver-local twin of :func:`_cox_fit`'s Spark path
    over the collected ``base`` rows (no NULL, NaN or inf among t, sgn,
    d and x): every Newton round and the readout in numpy, the same
    formulas per (group, partition), the signed weights included.
    Returns per group its keys, ``n``, ``n_events``, ``beta, se, z, p``
    per covariate and ``loglik`` (the caller names the columns), or None
    when the fit must run on the Spark path: a key type
    :func:`_local_key_codes` does not take, or any non-finite
    intermediate on an event cell (the Spark path's NaN/NULL expression
    semantics are not mimicked here)."""
    import math

    import numpy as np

    from woodwork_spark.operators.linalg import (
        inverse_diagonal_local,
        newton_update_local,
    )
    from woodwork_spark.operators.stats_tests import (
        _std_normal_two_sided_p_local,
    )

    t = pdf["__t"].to_numpy(dtype=np.float64)
    sgn = pdf["__sgn"].to_numpy(dtype=np.float64)
    d = pdf["__d"].to_numpy(dtype=np.float64)
    X = pdf[[f"__x{j + 1}" for j in range(k)]].to_numpy(dtype=np.float64)
    grp = _local_key_codes(pdf, group_cols, fields)
    part = _local_key_codes(pdf, part_cols, fields)
    if grp is None or part is None:
        return None
    gid, keys = grp
    pid = part[0]
    G = len(keys)
    # rows in (partition, time descending) order; a cell is one
    # (partition, distinct time), as in the Spark path's cell collapse
    order = np.lexsort((-t, pid))
    t, sgn, d, X = t[order], sgn[order], d[order], X[order]
    gid, pid = gid[order], pid[order]
    first = np.ones(len(t), dtype=bool)
    first[1:] = (pid[1:] != pid[:-1]) | (t[1:] != t[:-1])
    cid = np.cumsum(first) - 1
    C = int(cid[-1]) + 1
    cg, cp = gid[first], pid[first]
    # each partition is a run of cells in descending time, so its risk
    # sets are the run's running sums; runs of one length share an
    # index block and one cumsum along the run axis
    run0 = np.flatnonzero(np.r_[True, cp[1:] != cp[:-1]])
    run_len = np.diff(np.r_[run0, C])
    blocks = [
        run0[run_len == n_][:, None] + np.arange(n_)
        for n_ in np.unique(run_len)
    ]

    def cell_sum(w):
        return np.bincount(cid, weights=w, minlength=C)

    def group_sum(w):
        return np.bincount(cg, weights=w, minlength=G)

    dt = cell_sum(d)
    # the event gate of _counting_process_fold: a ledger cell past the
    # last exit carries no events and risk sums that cancel to ~0
    ev = dt > 0
    dx = [cell_sum(d * X[:, j]) for j in range(k)]
    n = group_sum(cell_sum((sgn > 0).astype(np.float64)))
    ne = group_sum(dt)
    pairs = [(i, j) for i in range(k) for j in range(i + 1)]

    def fold(b):
        """(loglik, score, information) per group at coefficients b."""
        br = b[gid]
        eta = br[:, 0] * X[:, 0]
        for j in range(1, k):
            eta = eta + br[:, j] * X[:, j]
        sew = sgn * np.exp(np.minimum(700.0, eta))
        V = np.column_stack(
            [cell_sum(sew)]
            + [cell_sum(X[:, j] * sew) for j in range(k)]
            + [cell_sum(X[:, i] * X[:, j] * sew) for i, j in pairs],
        )
        S = np.empty_like(V)
        for idx in blocks:
            S[idx] = np.cumsum(V[idx], axis=1)
        s0 = S[:, 0]
        if not (np.isfinite(S[ev]).all() and (s0[ev] > 0).all()):
            return None
        r = [np.where(ev, S[:, 1 + j] / s0, 0.0) for j in range(k)]
        bc = b[cg]
        lterm = bc[:, 0] * dx[0]
        for j in range(1, k):
            lterm = lterm + bc[:, j] * dx[j]
        ll = group_sum(np.where(ev, lterm - dt * np.log(s0), 0.0))
        u = [group_sum(dx[j] - dt * r[j]) for j in range(k)]
        a = {
            ij: group_sum(np.where(
                ev, dt * (S[:, 1 + k + m] / s0 - r[ij[0]] * r[ij[1]]), 0.0,
            ))
            for m, ij in enumerate(pairs)
        }
        if not all(np.isfinite(v).all() for v in [ll, *u, *a.values()]):
            return None
        return ll, np.column_stack(u), a

    b = np.zeros((G, k))
    with np.errstate(all="ignore"):
        for _ in range(int(iters)):
            f = fold(b)
            if f is None:
                return None
            _, u, a = f
            al = {ij: v.tolist() for ij, v in a.items()}
            b = np.array(newton_update_local(k, al, u.tolist(), b.tolist()))
            if not np.isfinite(b).all():
                return None
        f = fold(b)
    if f is None:
        return None
    ll, _, a = f
    inv = inverse_diagonal_local(k, {ij: v.tolist() for ij, v in a.items()}, G)
    rows = []
    for g in range(G):
        ok = inv[g] is not None and ne[g] > 0
        inv_diag = inv[g] if ok else []
        if not all(v > 0 for v in inv_diag):
            return None
        stats = [None] * (4 * k)
        for j, v in enumerate(inv_diag):
            bj, se = float(b[g, j]), math.sqrt(v)
            z = bj / se
            if not math.isfinite(z):
                return None
            stats[4 * j:4 * j + 4] = [
                bj, se, z, _std_normal_two_sided_p_local(z),
            ]
        rows.append(
            keys[g] + (int(n[g]), int(ne[g])) + tuple(stats)
            + (float(ll[g]) if ok else None,),
        )
    return rows


def _info_name(i, j):
    """Column holding entry (i, j), i >= j, of a Cox fit's information."""
    return f"__a_{i}_{j}"


def _counting_process_fold(bnames):
    """Score/information fold of the Cox engine :func:`_cox_fit` and
    of :func:`fine_gray_fit` over per-(group, time) cells carrying the
    coefficients ``bnames``, ``__nc``, ``__dt``, ``__dx<j>`` and the
    risk sums ``__S0``, ``__S1_<j>``, ``__S2_<i>_<j>``.  Every ``S0``
    division sits behind the event gate ``__dt > 0``: suffix
    cancellation drives ``S0`` to exactly 0 past the last exit, and
    those cells carry no events.  Returns the aggregates ``bnames``,
    ``__n``, ``__ne``, ``__ll``, ``__u<j>`` and ``__a_<i>_<j>``."""
    k = len(bnames)
    ev = F.col("__dt") > 0
    s0 = F.col("__S0")
    r1 = [
        F.when(ev, F.col(f"__S1_{j}") / s0).otherwise(F.lit(0.0))
        for j in range(k)
    ]
    lterm = None
    for j in range(k):
        t = F.col(bnames[j]) * F.col(f"__dx{j}")
        lterm = t if lterm is None else lterm + t
    aggs = [
        *[F.max(b).alias(b) for b in bnames],
        F.sum("__nc").alias("__n"),
        F.sum("__dt").alias("__ne"),
        F.sum(
            F.when(ev, lterm - F.col("__dt") * F.log(s0))
            .otherwise(F.lit(0.0)),
        ).alias("__ll"),
    ]
    for j in range(k):
        aggs.append(
            F.sum(F.col(f"__dx{j}") - F.col("__dt") * r1[j]).alias(f"__u{j}"),
        )
    for i in range(k):
        for j in range(i + 1):
            aggs.append(
                F.sum(
                    F.when(
                        ev,
                        F.col("__dt")
                        * (F.col(f"__S2_{i}_{j}") / s0 - r1[i] * r1[j]),
                    ).otherwise(F.lit(0.0)),
                ).alias(_info_name(i, j)),
            )
    return aggs


def _cox_wald_readout(out, group_cols, bnames, xs, multi):
    """Wald readout of a Cox-type fit from its final fold ``out``: one
    Cholesky factorization of the information solves the unit vectors
    for the inverse diagonal.  ``n``, ``n_events``, then ``beta, se,
    z_stat, p_approx`` (one covariate) or ``beta_<x>, se_<x>, z_<x>,
    p_<x>`` per covariate, then ``loglik``; every statistic is NULL
    unless the group has events and a PD information matrix, loglik
    too (it is evaluated at an un-updated beta and must not silently
    feed glm_lrt)."""
    from woodwork_spark.operators.linalg import (
        apply_layers,
        chol_solve_layers,
        pd_ok,
    )
    from woodwork_spark.operators.stats_tests import (
        _std_normal_two_sided_p,
    )

    k = len(bnames)
    rhs = {
        f"e{j}": [1.0 if m == j else 0.0 for m in range(k)]
        for j in range(k)
    }
    layers, sol, piv = chol_solve_layers(k, _info_name, rhs, pref="__se")
    ok = pd_ok(piv) & (F.col("__ne") > 0)
    names = (
        [(f"beta_{x}", f"se_{x}", f"z_{x}", f"p_{x}") for x in xs] if multi
        else [("beta", "se", "z_stat", "p_approx")]
    )
    cols = [
        F.col("__n").cast("long").alias("n"),
        F.col("__ne").cast("long").alias("n_events"),
    ]
    for j, (bn, sn, zn, pn) in enumerate(names):
        se = F.sqrt(F.col(sol[f"e{j}"][j]))
        z = F.col(bnames[j]) / se
        cols += [
            F.when(ok, F.col(bnames[j])).alias(bn),
            F.when(ok, se).alias(sn),
            F.when(ok, z).alias(zn),
            F.when(ok, _std_normal_two_sided_p(z)).alias(pn),
        ]
    cols.append(F.when(ok, F.col("__ll")).alias("loglik"))
    return apply_layers(out, layers).select(*group_cols, *cols)


def _cox_fit(base, group_cols, part_cols, xs, multi, iters):
    """The one Cox engine behind :func:`cox_ph_fit` and
    :func:`cox_ph_fit_tv`: ``iters`` guarded Newton rounds from beta = 0
    and the Wald readout, in the three tiers :func:`cox_ph_fit`
    describes.  ``base`` is persisted and holds ``part_cols`` (risk sets
    form within these; ``group_cols`` lead them), the time ``__t``, the
    ledger sign ``__sgn`` (+1 for a row entering the risk set, -1 for
    one leaving it), the event count ``__d`` and the covariates
    ``__x<j>``, with no NULL among them.  Returns the slim schema for
    one name (``multi`` false), the wide one otherwise."""
    from pyspark.sql import types as T

    from woodwork_spark.io import collect_bounded
    from woodwork_spark.lifecycle import attach_persisted, persisted_frames
    from woodwork_spark.operators.linalg import newton_step
    from woodwork_spark.operators.rank import global_prefix_sums
    from woodwork_spark.operators.scale import local_rows_df

    k = len(xs)
    pdf = collect_bounded(base)
    rows = None
    # an empty input stays on the Spark path, whose ungrouped global
    # aggregate yields one all-NULL row
    if pdf is not None and len(pdf):
        rows = _cox_fit_local(
            pdf, group_cols, part_cols, base.schema, k, iters,
        )
    if rows is not None:
        names = (
            ["beta", "se", "z_stat", "p_approx"] if not multi
            else [
                f"{s}_{name}" for name in xs
                for s in ("beta", "se", "z", "p")
            ]
        )
        schema = T.StructType(
            [base.schema[g] for g in group_cols]
            + [T.StructField(c, T.LongType()) for c in ("n", "n_events")]
            + [T.StructField(c, T.DoubleType())
               for c in names + ["loglik"]],
        )
        base.unpersist()
        return local_rows_df(base.sparkSession, rows, schema)
    bnames = [f"__b{j + 1}" for j in range(k)]
    caches = [base]

    # every Column below is loop-invariant: built once per fit, reused
    # by each round's plan
    eta = None
    for j in range(k):
        term = F.col(bnames[j]) * F.col(f"__x{j + 1}")
        eta = term if eta is None else eta + term
    # exp-overflow clamp, mirroring the GLM engine.  Factor
    # sgn * e^(b'x) through a NAMED projection (the bootstrap/
    # logistic_fit_diag convention): the exp(dot-product) tree would
    # otherwise inline into every one of the 1 + k + k(k+1)/2 cell
    # aggregates.  Same arithmetic; aggregates reference a leaf column.
    sew_col = (
        F.col("__sgn") * F.exp(F.least(F.lit(700.0), eta))
    ).alias("__sew")
    sew = F.col("__sew")
    cell_aggs = [
        *[F.max(b).alias(b) for b in bnames],
        F.sum(F.when(F.col("__sgn") > 0, 1).otherwise(0)).alias("__nc"),
        F.sum("__d").alias("__dt"),
        F.sum(sew).alias("__c0"),
    ]
    vcols, scols = ["__c0"], ["__S0"]
    for j in range(k):
        cell_aggs.append(
            F.sum(F.col("__d") * F.col(f"__x{j + 1}")).alias(f"__dx{j}"),
        )
        cell_aggs.append(F.sum(F.col(f"__x{j + 1}") * sew).alias(f"__c1_{j}"))
        vcols.append(f"__c1_{j}")
        scols.append(f"__S1_{j}")
    for i in range(k):
        for j in range(i + 1):
            cell_aggs.append(
                F.sum(
                    F.col(f"__x{i + 1}") * F.col(f"__x{j + 1}") * sew,
                ).alias(f"__c2_{i}_{j}"),
            )
            vcols.append(f"__c2_{i}_{j}")
            scols.append(f"__S2_{i}_{j}")
    suffix_sums = None
    if part_cols:
        w = (
            W.partitionBy(*part_cols)
            .orderBy(F.desc("__t"))
            .rowsBetween(W.unboundedPreceding, W.currentRow)
        )
        suffix_sums = [
            F.sum(vc).over(w).alias(sc) for vc, sc in zip(vcols, scols)
        ]

    def _risk_cells(bdf):
        """Collapse to (partition, t) cells at the broadcast beta, then
        suffix-sum the signed risk quantities in descending time."""
        if group_cols:
            cur = _key_join(
                base, bdf.select(*group_cols, *bnames), group_cols,
                broadcast=True,
            )
        else:
            cur = base.crossJoin(F.broadcast(bdf))
        cells = cur.select("*", sew_col).groupBy(*part_cols, "__t").agg(
            *cell_aggs,
        )
        if part_cols:
            return cells.select("*", *suffix_sums)
        # ungrouped/unstratified: distributed suffix sums — range
        # shuffle + bucket windows + driver offsets, never a
        # SinglePartition exchange
        out = global_prefix_sums(
            cells, [F.desc("__t")], vcols, out_cols=scols,
            inclusive=True, small_threshold=0,
        )
        caches.extend(persisted_frames(out))
        return out

    fold = _counting_process_fold(bnames)
    u_names = [f"__u{j}" for j in range(k)]
    beta_df = base.groupBy(*group_cols).agg(
        *[F.lit(0.0).alias(b) for b in bnames],
    )
    local = True
    for it in range(int(iters)):
        step = _risk_cells(beta_df).groupBy(*group_cols).agg(*fold)
        beta_df, local = newton_step(
            step, group_cols, bnames, _info_name, u_names, f"__it{it}",
            local,
        )
    # final readout: information at the FINAL beta for the Wald se
    out = _risk_cells(beta_df).groupBy(*group_cols).agg(*fold)
    res = _cox_wald_readout(out, group_cols, bnames, xs, multi)
    return attach_persisted(res, *caches)


def _cox_args(x_col, group_cols, iters):
    """Validated ``(xs, multi, group_cols)`` of a Cox fit's arguments."""
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    multi = isinstance(x_col, (list, tuple))
    xs = list(x_col) if multi else [x_col]
    if not xs or len(set(xs)) != len(xs):
        raise ValueError("x_col must be a name or non-empty unique list")
    group_cols = (
        [group_cols] if isinstance(group_cols, str) else list(group_cols)
    )
    return xs, multi, group_cols


def cox_ph_fit(
    df: DataFrame,
    time_col: str,
    event_col: str,
    x_col,
    group_cols=(),
    iters: int = 3,
    strata_cols=(),
) -> DataFrame:
    """Cox proportional-hazards fit (Breslow ties) per group via
    ``iters`` unrolled Newton steps from beta = 0 — completing the
    survival stack (Kaplan-Meier / Nelson-Aalen / log-rank / RMST
    estimate; this adds the REGRESSION member).  ``x_col`` may be one
    column name or a LIST of names (multi-covariate).

    At fixed beta the Breslow risk-set sums are SUFFIX sums over time
    order, so each Newton step first collapses rows to one CELL per
    (group, distinct time) — ``sum e^(b'x)``, ``sum x_j e^(b'x)``,
    ``sum x_i x_j e^(b'x)``, the event count d_t and the event-weighted
    covariate sums — then running-sums the cells in descending time
    (tied subjects share a cell, hence the identical risk set the RANGE
    frame used to provide), and folds score ``U_j = sum_t (dx_j - d_t
    S1_j/S0)`` and information ``I_ij = sum_t d_t (S2_ij/S0 -
    (S1_i/S0)(S1_j/S0))`` in one aggregate
    (:func:`_counting_process_fold`).  Each step is a d x d Cholesky
    solve (1 x 1 for one name; eta clamped at 700 against exp
    overflow), guarded by Sylvester's pivots-positive criterion (a
    degenerate round keeps the previous beta).  One name is the
    ``[x]`` fit under the slim column names.

    Three execution tiers, chosen per fit by the engine
    :func:`_cox_fit` (shared with :func:`cox_ph_fit_tv`):

    1. **Whole fit on the driver.**  ``base`` (the filtered, cast input)
       is collected once by :func:`~woodwork_spark.io.collect_bounded`,
       bounded by :data:`~woodwork_spark.io.LOCAL_MAX_CELLS` (1M cells:
       rows x (keys + 3 + covariates)).  When it fits and every t, d
       and x is finite, every round and the readout run in numpy
       (:func:`_cox_fit_local`) — no Spark job per round.
    2. **Per-round driver solve.**  Otherwise the rounds run as Spark
       plans from the cached ``base``, and each round steps through
       :func:`~woodwork_spark.operators.linalg.newton_step`: its
       one-row-per-group sufficient stats are collected and solved on
       the driver while they fit the same cell bound.
    3. **Layered plan.**  Above that bound the same helper keeps the
       solve in-plan as the unrolled-Cholesky layers of
       :mod:`~woodwork_spark.operators.linalg`, with an eager checkpoint
       of the group-sized beta frame per round.

    Spark-path scale shape: GROUPED fits sort cells within each group
    (one window per group over its distinct times).  UNGROUPED fits use
    the distributed suffix-sum machinery of :mod:`~woodwork_spark.
    operators.rank` (``global_prefix_sums`` ordered by time DESCENDING
    — one range shuffle + per-bucket windows + driver-folded bucket
    offsets), so no SinglePartition exchange appears in the plan.

    ``strata_cols`` gives the STRATIFIED Cox model: risk sets form
    WITHIN each stratum (each stratum has its own baseline hazard) but
    the coefficients are SHARED — the partial-likelihood score and
    information simply sum across strata, so stratification costs
    nothing beyond extra keys in the cell collapse and suffix-sum
    partitioning.  This is the standard fix when a confounder (site,
    device, era) violates proportional hazards: stratify on it instead
    of modeling it.  Per-stratum baseline curves come from
    :func:`cox_baseline_hazard` with the strata in ``group_cols``.

    Returns ``(group_cols..., n, n_events, beta, se, z_stat,
    p_approx, loglik)`` for a single covariate, or ``(group_cols...,
    n, n_events, beta_<x>, se_<x>, z_<x>, p_<x> per covariate...,
    loglik)`` for a list — se from the inverse-information diagonal,
    Wald z, two-sided normal p via the shared A&S erf polynomial,
    ``loglik`` the Breslow partial log-likelihood at the converged
    beta (nested fits feed
    :func:`~woodwork_spark.operators.regression.glm_lrt` verbatim).
    Rows with a NULL time, event or covariate are dropped; a NULL group
    key is its own group.  Groups with no events or a degenerate
    (non-PD) information matrix yield NULL statistics.  All three tiers
    return the same schema and NULL gating.
    """
    xs, multi, group_cols = _cox_args(x_col, group_cols, iters)
    strata_cols = (
        [strata_cols] if isinstance(strata_cols, str)
        else list(strata_cols)
    )
    if set(strata_cols) & set(group_cols):
        raise ValueError("strata_cols must be disjoint from group_cols")
    part_cols = group_cols + strata_cols  # risk sets form within these
    cond = F.col(time_col).isNotNull() & F.col(event_col).isNotNull()
    for c in xs:
        cond = cond & F.col(c).isNotNull()
    # persisted: the bounded collect and, above the bound, every Newton
    # round's risk-cell pass (and the final readout) re-read this frame
    base = df.filter(cond).select(
        *part_cols,
        F.col(time_col).cast("double").alias("__t"),
        F.lit(1.0).alias("__sgn"),
        F.col(event_col).cast("double").alias("__d"),
        *[
            F.col(c).cast("double").alias(f"__x{j + 1}")
            for j, c in enumerate(xs)
        ],
    ).persist()
    return _cox_fit(base, group_cols, part_cols, xs, multi, iters)


def cox_ph_fit_tv(
    df: DataFrame,
    start_col: str,
    stop_col: str,
    event_col: str,
    x_col,
    group_cols=(),
    iters: int = 6,
) -> DataFrame:
    """Cox proportional-hazards fit with TIME-VARYING covariates —
    counting-process ``(start, stop]`` rows, the standard Andersen-Gill
    formulation: a subject whose covariates change contributes one row
    per constant-covariate episode, at risk for event times ``t`` with
    ``start < t <= stop``, with the event flag on its FINAL episode.
    This is the canonical next step after the residual/LRT stack —
    "does the hazard follow the covariate as it changes?" (treatment
    switches, cumulative exposure, lagged activity).

    The risk-set identity that makes it :func:`cox_ph_fit`'s engine
    (:func:`_cox_fit`): the counting-process risk set decomposes as two
    SUFFIX sums,

    ``sum_{start < t <= stop} f  =  sum_{stop >= t} f - sum_{start >= t} f``

    so each episode row becomes TWO rows of a signed LEDGER — ``(+f``
    at ``t = stop``, ``-f`` at ``t = start)`` — built ONCE (it does
    not depend on beta) and persisted as the engine's ``base``.  Each
    Newton round collapses the ledger to one cell per (group, distinct
    time) with SIGNED weights (``sum sgn*e^(b'x)``, ``sum sgn*x_j
    e^(b'x)``, ``sum sgn*x_i x_j e^(b'x)``; event counts ``d_t`` ride
    only the positive rows) and suffix-sums in descending time.  The
    fit therefore has :func:`cox_ph_fit`'s three tiers: the whole fit
    on the driver while the ledger fits
    :data:`~woodwork_spark.io.LOCAL_MAX_CELLS`, else Spark rounds with
    the per-round driver solve or the layered in-plan solve, the
    ungrouped ones through ``global_prefix_sums`` (no SinglePartition).
    The only cost over plain Cox is 2x the ledger rows.

    Ties are Breslow, as in :func:`cox_ph_fit`.  Rows with
    ``start >= stop`` (zero-length episodes) or any NULL are dropped.
    Returns the same schema as :func:`cox_ph_fit` — slim
    ``(group..., n, n_events, beta, se, z_stat, p_approx, loglik)``
    for a single name, wide ``beta_<x>/se_<x>/z_<x>/p_<x>`` for a
    list; ``n`` counts EPISODE rows.  Groups with no events or non-PD
    information yield NULL statistics (loglik gated identically).
    """
    xs, multi, group_cols = _cox_args(x_col, group_cols, iters)
    cond = (
        F.col(start_col).isNotNull()
        & F.col(stop_col).isNotNull()
        & F.col(event_col).isNotNull()
        & (F.col(start_col).cast("double") < F.col(stop_col).cast("double"))
    )
    for c in xs:
        cond = cond & F.col(c).isNotNull()
    xcols = [
        F.col(c).cast("double").alias(f"__x{j + 1}")
        for j, c in enumerate(xs)
    ]
    episodes = df.filter(cond)
    # the signed ledger (beta-free): persisted once, re-read per round
    plus = episodes.select(
        *group_cols,
        F.col(stop_col).cast("double").alias("__t"),
        F.lit(1.0).alias("__sgn"),
        F.col(event_col).cast("double").alias("__d"),
        *xcols,
    )
    minus = episodes.select(
        *group_cols,
        F.col(start_col).cast("double").alias("__t"),
        F.lit(-1.0).alias("__sgn"),
        F.lit(0.0).alias("__d"),
        *xcols,
    )
    base = plus.unionByName(minus).persist()
    return _cox_fit(base, group_cols, group_cols, xs, multi, iters)


def fine_gray_fit(
    df: DataFrame,
    time_col: str,
    cause_col: str,
    x_col,
    group_cols=(),
    iters: int = 6,
    event_cause=1,
    censor_cause=0,
) -> DataFrame:
    """Fine-Gray competing-risks REGRESSION — the subdistribution-hazard
    model behind "which covariates move the CUMULATIVE INCIDENCE of
    cause 1 when cause 2 competes?"  (:func:`cumulative_incidence` is
    the estimator; this is its regression member, the standard
    complement to cause-specific Cox when the question is absolute
    risk.)  ``cause_col``: ``censor_cause`` = censored,
    ``event_cause`` = the event modeled, anything else = competing.

    The Fine-Gray risk set keeps competing-event subjects at risk
    FOREVER after their event, down-weighted by the IPCW censoring
    weight ``w_i(t) = G(t-) / G(T_i-)`` (G = censoring Kaplan-Meier,
    left limits).  The distributed insight: those weighted risk sums
    split into

    ``S*(t) = sum_{T_i >= t} e^(b'x)            (a SUFFIX sum)
            + G(t-) * sum_{competing, T_i < t}
                      e^(b'x) / G(T_i-)          (a PREFIX sum)``

    so each Newton round is ONE cell collapse per (group, distinct
    time) + TWO window passes over cells (descending-inclusive for the
    at-risk part, ascending-EXCLUSIVE for the competing part) — the
    exact :func:`cox_ph_fit` shape plus one extra window; ``G(t-)``
    itself is beta-free, computed ONCE via the KM log-sum telescoping
    and joined onto the persisted base.  Ungrouped fits route every
    running sum through ``rank.global_prefix_sums`` (no
    SinglePartition except the final one-row fold).

    ``G(T_i-) > 0`` always holds at observed times (subject i is
    itself still at risk at ``T_i-``), so the weights are finite by
    construction.  Ties are Breslow.  Returns the :func:`cox_ph_fit`
    schema (slim for one covariate, wide for a list); the reported
    ``se`` is the MODEL-BASED (inverse-information) standard error of
    the pseudo-partial likelihood — Fine & Gray's sandwich variance
    (which accounts for the estimated weights) is not implemented, so
    treat p-values as approximate; betas solve the exact Fine-Gray
    estimating equation.  ``loglik`` is the pseudo-partial
    log-likelihood (feeds :func:`~woodwork_spark.operators.regression.
    glm_lrt` for nested-model screens, same caveat).
    """
    from woodwork_spark.lifecycle import attach_persisted, persisted_frames
    from woodwork_spark.operators.linalg import newton_step
    from woodwork_spark.operators.rank import global_prefix_sums

    xs, multi, group_cols = _cox_args(x_col, group_cols, iters)
    k = len(xs)
    cond = F.col(time_col).isNotNull() & F.col(cause_col).isNotNull()
    for c in xs:
        cond = cond & F.col(c).isNotNull()
    rows = df.filter(cond).select(
        *group_cols,
        F.col(time_col).cast("double").alias("__t"),
        (F.col(cause_col) == F.lit(event_cause))
        .cast("double").alias("__d1"),
        (
            (F.col(cause_col) != F.lit(event_cause))
            & (F.col(cause_col) != F.lit(censor_cause))
        ).cast("double").alias("__d2"),
        (F.col(cause_col) == F.lit(censor_cause))
        .cast("double").alias("__dc"),
        *[
            F.col(c).cast("double").alias(f"__x{j + 1}")
            for j, c in enumerate(xs)
        ],
    )
    caches = []
    # ---- censoring KM: G(t-) per distinct-time cell (beta-free) ----
    ccells = rows.groupBy(*group_cols, "__t").agg(
        F.count(F.lit(1)).alias("__nt"),
        F.sum("__dc").alias("__ct"),
    )
    if group_cols:
        w_desc = (
            W.partitionBy(*group_cols).orderBy(F.desc("__t"))
            .rowsBetween(W.unboundedPreceding, 0)
        )
        ccells = ccells.withColumn("__rt", F.sum("__nt").over(w_desc))
    else:
        ccells = global_prefix_sums(
            ccells, [F.desc("__t")], ["__nt"], out_cols=["__rt"],
            inclusive=True, small_threshold=0,
        )
        caches.extend(persisted_frames(ccells))
    frac = 1.0 - F.col("__ct") / F.col("__rt")
    gstep = F.when(
        F.col("__ct") > 0,
        F.when(frac > 0, F.log(frac)).otherwise(F.lit(-745.0)),
    ).otherwise(F.lit(0.0))
    ccells = ccells.withColumn("__gstep", gstep)
    if group_cols:
        w_asc_ex = (
            W.partitionBy(*group_cols).orderBy(F.asc("__t"))
            .rowsBetween(W.unboundedPreceding, -1)
        )
        ccells = ccells.withColumn(
            "__lgm", F.coalesce(F.sum("__gstep").over(w_asc_ex), F.lit(0.0)),
        )
    else:
        ccells = global_prefix_sums(
            ccells, [F.asc("__t")], ["__gstep"], out_cols=["__lgm"],
            inclusive=False, small_threshold=0,
        )
        caches.extend(persisted_frames(ccells))
    gm = ccells.select(
        *group_cols, "__t", F.exp(F.col("__lgm")).alias("__gm"),
    )
    # persisted base: subject rows + their cell's G(t-) — every Newton
    # round re-reads this frame
    base = _key_join(rows, gm, [*group_cols, "__t"]).persist()
    caches.append(base)
    bnames = [f"__b{j + 1}" for j in range(k)]

    def _risk_cells(bdf):
        if group_cols:
            cur = _key_join(base, bdf, group_cols, broadcast=True)
        else:
            cur = base.crossJoin(F.broadcast(bdf))
        eta = None
        for j in range(k):
            term = F.col(bnames[j]) * F.col(f"__x{j + 1}")
            eta = term if eta is None else eta + term
        eta = F.least(F.lit(700.0), eta)
        # factor e^(b'x) and the mass-shifted weight through NAMED
        # projections — see _cox_fit
        cur = cur.select("*", F.exp(eta).alias("__ew"))
        cur = cur.select(
            "*",
            (F.col("__d2") * F.col("__ew") / F.col("__gm")).alias("__mw"),
        )
        ew = F.col("__ew")
        mw = F.col("__mw")
        cell_aggs = [
            F.count(F.lit(1)).alias("__nc"),
            F.sum("__d1").alias("__dt"),
            F.max("__gm").alias("__gm"),
            F.sum(ew).alias("__e0"),
            F.sum(mw).alias("__m0"),
        ]
        ecols, acols = ["__e0"], ["__A0"]
        mcols, bcols = ["__m0"], ["__B0"]
        for j in range(k):
            cell_aggs.append(
                F.sum(F.col("__d1") * F.col(f"__x{j + 1}"))
                .alias(f"__dx{j}"),
            )
            cell_aggs.append(
                F.sum(F.col(f"__x{j + 1}") * ew).alias(f"__e1_{j}"),
            )
            cell_aggs.append(
                F.sum(F.col(f"__x{j + 1}") * mw).alias(f"__m1_{j}"),
            )
            ecols.append(f"__e1_{j}")
            acols.append(f"__A1_{j}")
            mcols.append(f"__m1_{j}")
            bcols.append(f"__B1_{j}")
        for i in range(k):
            for j in range(i + 1):
                xx = F.col(f"__x{i + 1}") * F.col(f"__x{j + 1}")
                cell_aggs.append(F.sum(xx * ew).alias(f"__e2_{i}_{j}"))
                cell_aggs.append(F.sum(xx * mw).alias(f"__m2_{i}_{j}"))
                ecols.append(f"__e2_{i}_{j}")
                acols.append(f"__A2_{i}_{j}")
                mcols.append(f"__m2_{i}_{j}")
                bcols.append(f"__B2_{i}_{j}")
        cells = cur.groupBy(*group_cols, "__t").agg(
            *[F.max(b).alias(b) for b in bnames],
            *cell_aggs,
        )
        if group_cols:
            w_desc = (
                W.partitionBy(*group_cols).orderBy(F.desc("__t"))
                .rowsBetween(W.unboundedPreceding, 0)
            )
            w_asc_ex = (
                W.partitionBy(*group_cols).orderBy(F.asc("__t"))
                .rowsBetween(W.unboundedPreceding, -1)
            )
            for vc, oc in zip(ecols, acols):
                cells = cells.withColumn(oc, F.sum(vc).over(w_desc))
            for vc, oc in zip(mcols, bcols):
                cells = cells.withColumn(
                    oc,
                    F.coalesce(F.sum(vc).over(w_asc_ex), F.lit(0.0)),
                )
        else:
            cells = global_prefix_sums(
                cells, [F.desc("__t")], ecols, out_cols=acols,
                inclusive=True, small_threshold=0,
            )
            caches.extend(persisted_frames(cells))
            cells = global_prefix_sums(
                cells, [F.asc("__t")], mcols, out_cols=bcols,
                inclusive=False, small_threshold=0,
            )
            caches.extend(persisted_frames(cells))
        # S* = A* + G(t-) * B*
        s_exprs = [
            (F.col(a) + F.col("__gm") * F.col(b)).alias(
                a.replace("__A", "__S"),
            )
            for a, b in zip(acols, bcols)
        ]
        return cells.select(
            *group_cols, "__t", *bnames, "__nc", "__dt",
            *[f"__dx{j}" for j in range(k)],
            *s_exprs,
        )

    fold = _counting_process_fold(bnames)
    u_names = [f"__u{j}" for j in range(k)]
    beta_df = base.groupBy(*group_cols).agg(
        *[F.lit(0.0).alias(b) for b in bnames],
    )
    local = True
    for it in range(int(iters)):
        step = _risk_cells(beta_df).groupBy(*group_cols).agg(*fold)
        beta_df, local = newton_step(
            step, group_cols, bnames, _info_name, u_names, f"__fg{it}",
            local,
        )
    out = _risk_cells(beta_df).groupBy(*group_cols).agg(*fold)
    res = _cox_wald_readout(out, group_cols, bnames, xs, multi)
    return attach_persisted(res, *caches)


def gray_score_test(
    df: DataFrame,
    time_col: str,
    cause_col: str,
    group_col: str,
    group_a,
    group_b,
    event_cause=1,
    censor_cause=0,
) -> DataFrame:
    """Gray-type two-group test for equality of CUMULATIVE INCIDENCE
    functions under competing risks — the question log-rank cannot
    answer (log-rank compares cause-specific hazards; two groups can
    share those yet differ in incidence when the competing cause
    differs).  Implemented as the SCORE TEST of the Fine-Gray model
    with the group indicator as its single covariate, evaluated at
    ``beta = 0``: with ``e^(beta x) = 1`` the subdistribution risk
    sums collapse to IPCW-weighted COUNTS, so the whole statistic is
    one cell collapse + the suffix/prefix window pair + one fold —
    ``U = sum_t (d_bt - d_t S1/S0)``, ``V = sum_t d_t (S1/S0)(1 -
    S1/S0)``, ``chi2 = U^2 / V`` with the exact 1-df chi-square
    survival.  (Gray's 1988 statistic uses a martingale variance; the
    information variance here is the standard score-test form —
    asymptotically equivalent, documented.)  Returns ONE row:
    ``(n_a, n_b, events_a, events_b, o_minus_e, variance, chi2,
    p_value)``."""
    from woodwork_spark.lifecycle import attach_persisted, persisted_frames
    from woodwork_spark.operators.rank import global_prefix_sums
    from woodwork_spark.operators.stats_tests import _chi2_sf

    sub = df.filter(F.col(group_col).isin([group_a, group_b]))
    rows = sub.filter(
        F.col(time_col).isNotNull() & F.col(cause_col).isNotNull(),
    ).select(
        F.col(time_col).cast("double").alias("__t"),
        (F.col(cause_col) == F.lit(event_cause))
        .cast("double").alias("__d1"),
        (
            (F.col(cause_col) != F.lit(event_cause))
            & (F.col(cause_col) != F.lit(censor_cause))
        ).cast("double").alias("__d2"),
        (F.col(cause_col) == F.lit(censor_cause))
        .cast("double").alias("__dc"),
        (F.col(group_col) == F.lit(group_b))
        .cast("double").alias("__xb"),
    )
    caches = []
    # censoring KM left limits over the POOLED sample (the Fine-Gray
    # weight convention for the two-group test)
    ccells = rows.groupBy("__t").agg(
        F.count(F.lit(1)).alias("__nt"),
        F.sum("__dc").alias("__ct"),
    )
    ccells = global_prefix_sums(
        ccells, [F.desc("__t")], ["__nt"], out_cols=["__rt"],
        inclusive=True, small_threshold=0,
    )
    caches.extend(persisted_frames(ccells))
    frac = 1.0 - F.col("__ct") / F.col("__rt")
    gstep = F.when(
        F.col("__ct") > 0,
        F.when(frac > 0, F.log(frac)).otherwise(F.lit(-745.0)),
    ).otherwise(F.lit(0.0))
    ccells = ccells.withColumn("__gstep", gstep)
    ccells = global_prefix_sums(
        ccells, [F.asc("__t")], ["__gstep"], out_cols=["__lgm"],
        inclusive=False, small_threshold=0,
    )
    caches.extend(persisted_frames(ccells))
    gm = ccells.select("__t", F.exp(F.col("__lgm")).alias("__gm"))
    base = rows.join(gm, "__t")
    # at beta = 0 every e^(beta x) is 1: the cell sums are counts
    cells = base.groupBy("__t").agg(
        F.max("__gm").alias("__gm"),
        F.sum("__d1").alias("__dt"),
        F.sum(F.col("__d1") * F.col("__xb")).alias("__dxb"),
        F.count(F.lit(1)).alias("__e0"),
        F.sum("__xb").alias("__e1"),
        F.sum(F.col("__d2") / F.col("__gm")).alias("__m0"),
        F.sum(F.col("__d2") * F.col("__xb") / F.col("__gm")).alias("__m1"),
        F.sum(F.lit(1.0) - F.col("__xb")).alias("__na_c"),
        F.sum("__xb").alias("__nb_c"),
        F.sum(F.col("__d1") * (F.lit(1.0) - F.col("__xb")))
        .alias("__ea_c"),
        F.sum(F.col("__d1") * F.col("__xb")).alias("__eb_c"),
    )
    cells = global_prefix_sums(
        cells, [F.desc("__t")], ["__e0", "__e1"],
        out_cols=["__A0", "__A1"], inclusive=True, small_threshold=0,
    )
    caches.extend(persisted_frames(cells))
    cells = global_prefix_sums(
        cells, [F.asc("__t")], ["__m0", "__m1"],
        out_cols=["__B0", "__B1"], inclusive=False, small_threshold=0,
    )
    caches.extend(persisted_frames(cells))
    s0 = F.col("__A0") + F.col("__gm") * F.col("__B0")
    s1 = F.col("__A1") + F.col("__gm") * F.col("__B1")
    r1 = F.when(F.col("__dt") > 0, s1 / s0).otherwise(F.lit(0.0))
    folded = cells.agg(
        F.sum("__na_c").cast("long").alias("n_a"),
        F.sum("__nb_c").cast("long").alias("n_b"),
        F.sum("__ea_c").cast("long").alias("events_a"),
        F.sum("__eb_c").cast("long").alias("events_b"),
        F.sum(F.col("__dxb") - F.col("__dt") * r1).alias("__u"),
        F.sum(
            F.col("__dt") * r1 * (F.lit(1.0) - r1),
        ).alias("__v"),
    )
    chi2 = F.col("__u") * F.col("__u") / F.col("__v")
    ok = F.col("__v") > 0
    res = folded.select(
        "n_a", "n_b", "events_a", "events_b",
        F.col("__u").alias("o_minus_e"),
        F.when(ok, F.col("__v")).alias("variance"),
        F.when(ok, chi2).alias("chi2"),
        F.when(ok, _chi2_sf(chi2, 1)).alias("p_value"),
    )
    return attach_persisted(res, *caches) if caches else res


def cox_risk_score(
    df: DataFrame,
    model: DataFrame,
    x_col,
    group_cols=(),
    out_col: str = "risk",
) -> DataFrame:
    """Relative-risk scoring for a fitted Cox model: broadcast-join the
    one-row-per-group coefficient frame (:func:`cox_ph_fit` output,
    either schema) and add ``exp(beta' x)`` — the hazard ratio versus
    the baseline subject — as one projection.  Rows of groups with a
    degenerate (NULL-coefficient) fit get NULL risk; no rows drop."""
    multi = isinstance(x_col, (list, tuple))
    xs = list(x_col) if multi else [x_col]
    group_cols = (
        [group_cols] if isinstance(group_cols, str) else list(group_cols)
    )
    coef_names = [f"beta_{c}" for c in xs] if multi else ["beta"]
    missing = [c for c in coef_names if c not in model.columns]
    if missing:
        raise ValueError(
            f"cox_risk_score: model frame lacks {missing} — pass the "
            "cox_ph_fit output matching x_col's shape",
        )
    sel = model.select(
        *group_cols, *[F.col(c).alias(f"__m_{c}") for c in coef_names],
    )
    joined = (
        df.join(F.broadcast(sel), group_cols, "left")
        if group_cols else df.crossJoin(F.broadcast(sel))
    )
    eta = None
    for c, name in zip(xs, coef_names):
        term = F.col(f"__m_{name}") * F.col(c).cast("double")
        eta = term if eta is None else eta + term
    if multi:
        eta = F.least(F.lit(700.0), eta)  # the fit engine's clamp
    return joined.withColumn(out_col, F.exp(eta)).drop(
        *[f"__m_{c}" for c in coef_names],
    )


def cox_baseline_hazard(
    df: DataFrame,
    time_col: str,
    event_col: str,
    x_col,
    model: DataFrame,
    group_cols=(),
) -> DataFrame:
    """Breslow baseline cumulative hazard at fitted Cox coefficients —
    the piece that turns :func:`cox_ph_fit` into a full survival
    predictor: ``H0(t) = sum_{event times t_i <= t} d_i / S0(t_i)``
    with ``S0`` the at-risk sum of ``exp(beta' x)``, and the baseline
    survival ``S0(t) = exp(-H0(t))``; an individual's curve is then
    ``S(t|x) = exp(-H0(t) * risk)`` with :func:`cox_risk_score`'s
    relative risk.

    Same scale shape as the fit: one cell collapse per (group, distinct
    time), DESCENDING suffix sums for the risk denominators and
    ASCENDING prefix sums for the cumulative hazard — per-group windows
    over cells when grouped, the distributed
    :func:`~woodwork_spark.operators.rank.global_prefix_sums` machinery
    when ungrouped (no SinglePartition anywhere).  ``model`` is the
    :func:`cox_ph_fit` output; groups with a degenerate (NULL) fit
    keep their event rows with NULL hazard columns (the row set is
    data-independent, only the estimates go NULL).

    Returns one row per (group, distinct EVENT time): ``(group_cols...,
    t, n_events, s0, h_step, cum_hazard, baseline_surv)``.
    """
    from woodwork_spark.lifecycle import attach_persisted, persisted_frames
    from woodwork_spark.operators.rank import global_prefix_sums

    multi = isinstance(x_col, (list, tuple))
    xs = list(x_col) if multi else [x_col]
    group_cols = (
        [group_cols] if isinstance(group_cols, str) else list(group_cols)
    )
    coef_names = [f"beta_{c}" for c in xs] if multi else ["beta"]
    missing = [c for c in coef_names if c not in model.columns]
    if missing:
        raise ValueError(
            f"cox_baseline_hazard: model frame lacks {missing}",
        )
    cond = F.col(time_col).isNotNull() & F.col(event_col).isNotNull()
    for c in xs:
        cond = cond & F.col(c).isNotNull()
    sel = model.select(
        *group_cols, *[F.col(c).alias(f"__m_{c}") for c in coef_names],
    )
    base = df.filter(cond).select(
        *group_cols,
        F.col(time_col).cast("double").alias("__t"),
        F.col(event_col).cast("double").alias("__d"),
        *[F.col(c).cast("double").alias(f"__x{j + 1}")
          for j, c in enumerate(xs)],
    )
    joined = (
        base.join(F.broadcast(sel), group_cols, "left")
        if group_cols else base.crossJoin(F.broadcast(sel))
    )
    eta = None
    for j, name in enumerate(coef_names):
        term = F.col(f"__m_{name}") * F.col(f"__x{j + 1}")
        eta = term if eta is None else eta + term
    if multi:
        eta = F.least(F.lit(700.0), eta)
    ew = F.exp(eta)
    cells = joined.groupBy(*group_cols, "__t").agg(
        F.sum("__d").alias("__dt"),
        F.sum(ew).alias("__c0"),
    )
    caches = []
    if group_cols:
        w_desc = (
            W.partitionBy(*group_cols).orderBy(F.desc("__t"))
            .rowsBetween(W.unboundedPreceding, W.currentRow)
        )
        cells = cells.withColumn("__S0", F.sum("__c0").over(w_desc))
    else:
        cells = global_prefix_sums(
            cells, [F.desc("__t")], ["__c0"], out_cols=["__S0"],
            inclusive=True, small_threshold=0,
        )
        caches.extend(persisted_frames(cells))
    ev = cells.filter(F.col("__dt") > 0).withColumn(
        "__h", F.col("__dt") / F.col("__S0"),
    )
    # the cumulative column must NOT be named "__H": Spark resolves
    # column names case-insensitively by default, so withColumn("__H")
    # silently REPLACES "__h" and the step column becomes cumulative
    if group_cols:
        w_asc = (
            W.partitionBy(*group_cols).orderBy(F.asc("__t"))
            .rowsBetween(W.unboundedPreceding, W.currentRow)
        )
        ev = ev.withColumn("__cumh", F.sum("__h").over(w_asc))
    else:
        ev = global_prefix_sums(
            ev, [F.asc("__t")], ["__h"], out_cols=["__cumh"],
            inclusive=True, small_threshold=0,
        )
        caches.extend(persisted_frames(ev))
    # a NULL step (degenerate fit) must null the cumulative column too:
    # the ungrouped prefix-sum machinery coalesces all-null sums to 0,
    # which would read as "hazard exactly zero" instead of "unknown"
    big_h = F.when(F.col("__h").isNull(), F.lit(None)).otherwise(
        F.col("__cumh"),
    )
    out = ev.select(
        *group_cols,
        F.col("__t").alias("t"),
        F.col("__dt").cast("long").alias("n_events"),
        F.col("__S0").alias("s0"),
        F.col("__h").alias("h_step"),
        big_h.alias("cum_hazard"),
        F.exp(-big_h).alias("baseline_surv"),
    )
    return attach_persisted(out, *caches) if caches else out


def cumulative_incidence(
    df: DataFrame,
    duration_col: str,
    cause_col: str,
    group_cols=(),
) -> DataFrame:
    """Aalen-Johansen cumulative incidence under COMPETING RISKS — the
    correct replacement for "1 - KM per cause" (which overestimates
    whenever another cause can preempt: churn vs. upgrade, purchase vs.
    account deletion, part failure modes).  ``cause_col`` codes each
    subject's terminal state: 0 = right-censored, any other value = the
    cause that occurred.

    ``CIF_k(t) = sum over event times t_i <= t of S(t_i-) * d_k(t_i) /
    r(t_i)`` where ``S(t-)`` is the ALL-CAUSE Kaplan-Meier survival
    just before t (exclusive prefix product, telescoped as exp-sum-log
    exactly like :func:`kaplan_meier`), ``d_k`` the cause-k events and
    ``r`` the at-risk count.  ``sum_k CIF_k(inf) + S(inf) = 1`` holds
    by construction (asserted in tests).

    Distributed shape: rows collapse FIRST to per-(group, duration)
    all-cause cells (at-risk suffix sum + exclusive survival prefix —
    two windows over DISTINCT TIMES, the :func:`kaplan_meier`
    convention) and separately to per-(group, duration, cause) event
    counts; one join lines them up and a per-(group, cause) ascending
    prefix sum accumulates the increments.  With NO group columns the
    two all-cause sums route through
    :func:`~woodwork_spark.operators.rank.global_prefix_sums` (range
    shuffle + per-bucket windows — the cox_ph_fit convention, no
    SinglePartition exchange); the CIF accumulation always has
    ``cause`` as a partition key, so its per-partition bound is one
    cause's distinct event times, parallel across causes.  Returns one
    row per (group, cause != 0, event time of that cause):
    ``(group_cols..., cause, duration, n_events, at_risk,
    surv_before, cif)``.
    """
    from woodwork_spark.lifecycle import attach_persisted, persisted_frames
    from woodwork_spark.operators.rank import global_prefix_sums

    group_cols = (
        [group_cols] if isinstance(group_cols, str) else list(group_cols)
    )
    caches = []
    cause = F.col(cause_col).cast("long")
    base = df.filter(
        F.col(duration_col).isNotNull() & cause.isNotNull(),
    ).select(
        *group_cols,
        F.col(duration_col).cast("double").alias("duration"),
        cause.alias("__cause"),
    )
    cells = base.groupBy(*group_cols, "duration").agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum((F.col("__cause") != 0).cast("long")).alias("__dtot"),
    )
    if group_cols:
        w_desc = (
            W.partitionBy(*group_cols)
            .orderBy(F.desc("duration"))
            .rowsBetween(W.unboundedPreceding, W.currentRow)
        )
        cells = cells.withColumn("at_risk", F.sum("__n").over(w_desc))
    else:
        cells = global_prefix_sums(
            cells, [F.desc("duration")], ["__n"], out_cols=["at_risk"],
            inclusive=True, small_threshold=0,
        )
        caches.extend(persisted_frames(cells))
    # exclusive all-cause survival prefix: S(t-) — the log(0) guard is
    # kaplan_meier's exp-underflow encoding
    frac = 1.0 - F.col("__dtot") / F.col("at_risk")
    step = F.when(
        F.col("__dtot") > 0,
        F.when(frac > 0, F.log(frac)).otherwise(F.lit(-745.0)),
    ).otherwise(F.lit(0.0))
    if group_cols:
        w_excl = (
            W.partitionBy(*group_cols)
            .orderBy(F.asc("duration"))
            .rowsBetween(W.unboundedPreceding, -1)
        )
        cells = cells.withColumn(
            "surv_before",
            F.exp(F.coalesce(F.sum(step).over(w_excl), F.lit(0.0))),
        )
    else:
        cells = global_prefix_sums(
            cells.withColumn("__lstep", step),
            [F.asc("duration")], ["__lstep"], out_cols=["__lsb"],
            inclusive=False, small_threshold=0,
        )
        caches.extend(persisted_frames(cells))
        cells = cells.withColumn("surv_before", F.exp(F.col("__lsb")))
    ccounts = (
        base.filter(F.col("__cause") != 0)
        .groupBy(*group_cols, "duration", F.col("__cause").alias("cause"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    joined = ccounts.join(
        cells.select(*group_cols, "duration", "at_risk", "surv_before"),
        group_cols + ["duration"],
    ).withColumn(
        "__inc",
        F.col("surv_before") * F.col("n_events") / F.col("at_risk"),
    )
    w_cif = (
        W.partitionBy(*group_cols, "cause")
        .orderBy(F.asc("duration"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    out = joined.withColumn(
        "cif", F.sum("__inc").over(w_cif),
    ).select(
        *group_cols, "cause", "duration",
        F.col("n_events").cast("long").alias("n_events"),
        F.col("at_risk").cast("long").alias("at_risk"),
        "surv_before", "cif",
    )
    return attach_persisted(out, *caches) if caches else out


def cox_ph_diagnostic(
    df: DataFrame,
    time_col: str,
    event_col: str,
    x_col,
    model: DataFrame,
    group_cols=(),
) -> DataFrame:
    """Proportional-hazards diagnostic from Schoenfeld residuals: under
    PH the per-event residual ``r_i = x_i - xbar(t_i)`` (observed
    covariate of the subject failing at t_i minus the risk-set weighted
    mean ``S1/S0`` at the fitted beta) is uncorrelated with time; a
    systematic trend means the hazard ratio DRIFTS and the Cox
    coefficient is a time-average, not a constant effect.  This is the
    correlation form of the classic cox.zph screen with the identity
    time transform ``g(t) = t`` (documented choice — the plot-based
    screen, not Grambsch-Therneau's scaled variant): ``corr(t, r)``
    over event subjects and the t-test normal approximation ``z =
    corr * sqrt(d - 2) / sqrt(1 - corr^2)``.

    Shape: the same per-(group, time) cell collapse + descending
    suffix sums as :func:`cox_ph_fit` provide ``xbar(t)``; event
    subjects join their cell (one broadcast-size model join + one
    cell join) and everything folds in ONE centered-sums aggregate per
    (group, covariate).  Returns ``(group_cols..., covariate,
    n_events, corr, z_stat, p_approx)``; degenerate groups (NULL beta,
    < 3 events, zero variance) yield NULL statistics.
    """
    from woodwork_spark.operators.stats_tests import (
        _std_normal_two_sided_p,
    )

    multi = isinstance(x_col, (list, tuple))
    xs = list(x_col) if multi else [x_col]
    group_cols = (
        [group_cols] if isinstance(group_cols, str) else list(group_cols)
    )
    coef_names = [f"beta_{c}" for c in xs] if multi else ["beta"]
    missing = [c for c in coef_names if c not in model.columns]
    if missing:
        raise ValueError(f"cox_ph_diagnostic: model frame lacks {missing}")
    cond = F.col(time_col).isNotNull() & F.col(event_col).isNotNull()
    for c in xs:
        cond = cond & F.col(c).isNotNull()
    sel = model.select(
        *group_cols, *[F.col(c).alias(f"__m_{c}") for c in coef_names],
    )
    base = df.filter(cond).select(
        *group_cols,
        F.col(time_col).cast("double").alias("__t"),
        F.col(event_col).cast("double").alias("__d"),
        *[F.col(c).cast("double").alias(f"__x{j + 1}")
          for j, c in enumerate(xs)],
    )
    joined = (
        base.join(F.broadcast(sel), group_cols, "left")
        if group_cols else base.crossJoin(F.broadcast(sel))
    )
    eta = None
    for j, name in enumerate(coef_names):
        term = F.col(f"__m_{name}") * F.col(f"__x{j + 1}")
        eta = term if eta is None else eta + term
    if multi:
        eta = F.least(F.lit(700.0), eta)
    ew = F.exp(eta)
    cells = joined.groupBy(*group_cols, "__t").agg(
        F.sum(ew).alias("__c0"),
        *[F.sum(F.col(f"__x{j + 1}") * ew).alias(f"__c1_{j}")
          for j in range(len(xs))],
    )
    w_desc = (
        W.partitionBy(*group_cols).orderBy(F.desc("__t"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
        if group_cols else
        W.partitionBy(F.lit(1)).orderBy(F.desc("__t"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    # cell count = distinct times (already collapsed); a bounded frame,
    # so the lit(1) partition in the ungrouped case is fine here
    cells = cells.withColumn("__S0", F.sum("__c0").over(w_desc))
    for j in range(len(xs)):
        cells = cells.withColumn(
            f"__S1_{j}", F.sum(f"__c1_{j}").over(w_desc),
        )
    events = joined.filter(F.col("__d") > 0).join(
        cells.select(
            *group_cols, "__t", "__S0",
            *[f"__S1_{j}" for j in range(len(xs))],
        ),
        group_cols + ["__t"],
    )
    frames = []
    for j, name in enumerate(xs):
        r = F.col(f"__x{j + 1}") - F.col(f"__S1_{j}") / F.col("__S0")
        agg = events.groupBy(*group_cols).agg(
            F.count(F.lit(1)).alias("n_events"),
            F.avg("__t").alias("__mt"),
            F.avg(r).alias("__mr"),
            F.sum(F.col("__t") * r).alias("__str"),
            F.sum(F.col("__t") * F.col("__t")).alias("__stt"),
            F.sum(r * r).alias("__srr"),
        )
        n = F.col("n_events").cast("double")
        cov = F.col("__str") - n * F.col("__mt") * F.col("__mr")
        vt = F.col("__stt") - n * F.col("__mt") * F.col("__mt")
        vr = F.col("__srr") - n * F.col("__mr") * F.col("__mr")
        corr = cov / F.sqrt(vt * vr)
        z = corr * F.sqrt(n - 2.0) / F.sqrt(F.lit(1.0) - corr * corr)
        ok = (F.col("n_events") > 2) & (vt > 0) & (vr > 0)
        frames.append(agg.select(
            *group_cols,
            F.lit(name).alias("covariate"),
            F.col("n_events").cast("long").alias("n_events"),
            F.when(ok, corr).alias("corr"),
            F.when(ok, z).alias("z_stat"),
            F.when(ok, _std_normal_two_sided_p(z)).alias("p_approx"),
        ))
    out = frames[0]
    for fr in frames[1:]:
        out = out.unionByName(fr)
    return out


def weibull_fit_km(
    df: DataFrame,
    duration_col: str,
    event_col: str,
    group_cols=(),
) -> DataFrame:
    """Weibull survival fit from the Kaplan-Meier curve — the classic
    probability-plot estimator: under ``S(t) = exp(-(t/scale)^shape)``
    the transform ``ln(-ln S(t)) = shape * ln t - shape * ln scale`` is
    LINEAR in ``ln t``, so an event-weighted least squares over the KM
    points per group gives the parametric completion of the survival
    stack (KM says what happened; Weibull extrapolates and summarizes:
    shape < 1 infant mortality, > 1 wear-out).

    Closed-form on top of :func:`kaplan_meier`: event times with
    ``0 < S < 1`` and ``t > 0`` contribute ``(ln t, ln(-ln S))``
    weighted by their event count, and one centered-sums aggregate per
    group yields slope (= shape), intercept and the weighted R² (how
    Weibull-like the curve actually is — always inspect it; this is a
    plotting-position estimator, not the censoring-aware MLE, the
    documented trade for a collect-free closed form).

    Returns ``(group_cols..., n_points, n_events_used, shape, scale,
    r2)``; groups with < 2 usable points or zero variance yield NULLs.
    """
    from woodwork_spark.lifecycle import attach_persisted, persisted_frames

    group_cols = (
        [group_cols] if isinstance(group_cols, str) else list(group_cols)
    )
    km = kaplan_meier(df, duration_col, event_col, group_cols)
    caches = persisted_frames(km)
    pts = km.filter(
        (F.col("survival") > 0) & (F.col("survival") < 1)
        & (F.col("duration").cast("double") > 0),
    ).select(
        *group_cols,
        F.log(F.col("duration").cast("double")).alias("__x"),
        F.log(-F.log("survival")).alias("__yv"),
        F.col("n_events").cast("double").alias("__w"),
    )
    agg = pts.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_points"),
        F.sum("__w").alias("__sw"),
        F.sum(F.col("__w") * F.col("__x")).alias("__sx"),
        F.sum(F.col("__w") * F.col("__yv")).alias("__sy"),
        F.sum(F.col("__w") * F.col("__x") * F.col("__x")).alias("__sxx"),
        F.sum(F.col("__w") * F.col("__x") * F.col("__yv")).alias("__sxy"),
        F.sum(F.col("__w") * F.col("__yv") * F.col("__yv")).alias("__syy"),
    )
    sw = F.col("__sw")
    vx = F.col("__sxx") - F.col("__sx") * F.col("__sx") / sw
    vy = F.col("__syy") - F.col("__sy") * F.col("__sy") / sw
    cxy = F.col("__sxy") - F.col("__sx") * F.col("__sy") / sw
    shape = cxy / vx
    intercept = (F.col("__sy") - shape * F.col("__sx")) / sw
    scale = F.exp(-intercept / shape)
    r2 = cxy * cxy / (vx * vy)
    ok = (F.col("n_points") >= 2) & (vx > 0) & (vy > 0) & (cxy > 0)
    res = agg.select(
        *group_cols,
        F.col("n_points").cast("long").alias("n_points"),
        F.col("__sw").cast("long").alias("n_events_used"),
        F.when(ok, shape).alias("shape"),
        F.when(ok, scale).alias("scale"),
        F.when(ok, r2).alias("r2"),
    )
    return attach_persisted(res, *caches) if caches else res


def cox_residuals(
    df: DataFrame,
    time_col: str,
    event_col: str,
    x_col,
    model: DataFrame,
    baseline: DataFrame,
    group_cols=(),
    kind: str = "martingale",
    out_col: str = "resid",
) -> DataFrame:
    """Per-subject martingale / deviance residuals for a fitted Cox
    model — the outlier/functional-form diagnostic that pairs with the
    Schoenfeld PH check: ``m_i = d_i - H0(t_i) exp(beta' x_i)`` (the
    observed-minus-expected event count under the fit), and
    ``kind='deviance'`` symmetrizes it as ``sign(m) sqrt(-2 (m + d
    ln(d - m)))`` (``d ln(d - m) := 0`` at d = 0).

    Scale shape: the relative risk is :func:`cox_risk_score`'s
    broadcast projection; ``H0(t_i)`` attaches by a BACKWARD as-of
    join (:func:`~woodwork_spark.operators.relational.asof_join`)
    against the ``baseline`` frame — :func:`cox_baseline_hazard`
    output, one row per distinct EVENT time, so the join's right side
    is cell-sized.  Subjects censored before the first event time get
    ``H0 = 0`` (martingale 0).  ``group_cols`` supports at most one
    column (the as-of ``by`` key); rows with NULL risk (degenerate
    fit) or NULL inputs keep NULL residuals, nothing drops.
    ``kind='both'`` emits BOTH diagnostics (columns ``martingale``
    and ``deviance``) from the single scan + as-of join — half the
    passes of two separate calls.
    """
    from woodwork_spark.operators.relational import asof_join

    if kind not in ("martingale", "deviance", "both"):
        raise ValueError(f"unknown kind {kind!r}")
    group_cols = (
        [group_cols] if isinstance(group_cols, str) else list(group_cols)
    )
    if len(group_cols) > 1:
        raise ValueError(
            "cox_residuals supports at most one group column (the "
            "as-of join's by key)",
        )
    scored = cox_risk_score(
        df, model, x_col, group_cols=group_cols, out_col="__risk",
    ).withColumn("__ct", F.col(time_col).cast("double"))
    base = baseline.select(
        *group_cols, F.col("t").cast("double").alias("__ct"),
        F.col("cum_hazard").alias("__H0"),
    )
    joined = asof_join(
        scored, base, on="__ct",
        by=(group_cols[0] if group_cols else None),
        direction="backward",
    )
    h0 = F.coalesce(F.col("__H0_right"), F.lit(0.0))
    d = F.col(event_col).cast("double")
    m = d - h0 * F.col("__risk")
    dterm = F.when(
        (d > 0) & (d - m > 0), d * F.log(d - m),
    ).otherwise(F.lit(0.0))
    dev = F.lit(-2.0) * (m + dterm)
    rdev = F.signum(m) * F.sqrt(F.greatest(F.lit(0.0), dev))
    if kind == "martingale":
        out = joined.withColumn(out_col, m)
    elif kind == "deviance":
        out = joined.withColumn(out_col, rdev)
    else:
        # 'both': one scan + one as-of join emits both diagnostics —
        # out_col is ignored, columns are `martingale` and `deviance`
        out = joined.withColumn("martingale", m).withColumn(
            "deviance", rdev,
        )
    return out.drop("__risk", "__ct", "__H0_right")
