"""Box-plot (IQR) and medcouple outlier detection.

Reference: column_accessor.py:389-546 +
statistics_utils/_get_box_plot_info_for_column.py:19-237,
_medcouple_implementation.py:4-39, _get_medcouple_statistic.py:19-45.

Two tiers; only the source of the numbers differs (``_LocalColumn`` vs
``_SparkColumn``), the bounds, medcouple kernel and readouts are shared:

- Local: when the column fits ``io.LOCAL_MAX_CELLS`` and holds no
  NaN/inf, ONE Arrow collect brings it to the driver; quantiles (Spark's
  exact percentile arithmetic) and outlier values come from numpy — one
  Spark job per call.
- Distributed: quantiles are ONE exact-percentile aggregation; outlier
  values come back as filters on the bounds (predicate-pushed scans),
  never a full collect.

The medcouple kernel is O(N²) memory by construction, so — exactly like
the reference — it runs on a bounded sample (config
medcouple_sample_size, default 10k) on the driver: the whole column
when it is no larger than that, else Spark's seeded sample (one more
job, in either tier).

Every quantile here honors the ``profile_percentile_mode`` config
option: "exact" (default, reference parity) buffers distinct values;
"approx" swaps in the bounded-state ``percentile_approx`` sketch for
the 100 TB path (see statistics/__init__.py) and always takes the
distributed tier.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from woodwork_spark.config import config
from woodwork_spark.statistics import (
    NUMERIC_TYPES,
    local_percentile,
    local_values,
)
from woodwork_spark.statistics import profile_percentile as _pctl

_QUANTILES = [0.0, 0.25, 0.5, 0.75, 1.0]


def _numeric_col_or_raise(ww_df, column):
    cs = ww_df.schema.columns.get(column)
    if cs is None:
        from woodwork_spark.exceptions import ColumnNotPresentError

        raise ColumnNotPresentError(column)
    if not cs.is_numeric:
        raise TypeError("Cannot calculate box plot statistics for non-numeric column")
    return cs


def box_plot_stats_df(df: DataFrame, column: str, whisker=1.5) -> DataFrame:
    """Spark-native single-row DataFrame of box-plot stats for ``column``:
    (min, q1, median, q3, max, iqr, low_bound, high_bound, n_outliers).

    Bounds are clamped to [min, max] (reference
    _get_box_plot_info_for_column.py:174-206).  One aggregation for the
    quantiles + one broadcast-joined filter count for the outliers.
    """
    c = F.col(column)
    stats = df.agg(
        F.min(c).cast("double").alias("min"),
        _pctl(c, 0.25).alias("q1"),
        _pctl(c, 0.5).alias("median"),
        _pctl(c, 0.75).alias("q3"),
        F.max(c).cast("double").alias("max"),
    ).withColumn("iqr", F.col("q3") - F.col("q1"))
    stats = stats.withColumn(
        "low_bound",
        F.greatest(F.round(F.col("q1") - whisker * F.col("iqr"), 10), F.col("min")),
    ).withColumn(
        "high_bound",
        F.least(F.round(F.col("q3") + whisker * F.col("iqr"), 10), F.col("max")),
    )
    counted = (
        df.select(c.alias("__v"))
        .join(F.broadcast(stats))
        .agg(
            F.first("min").alias("min"),
            F.first("q1").alias("q1"),
            F.first("median").alias("median"),
            F.first("q3").alias("q3"),
            F.first("max").alias("max"),
            F.first("iqr").alias("iqr"),
            F.first("low_bound").alias("low_bound"),
            F.first("high_bound").alias("high_bound"),
            F.sum(
                F.when(
                    (F.col("__v") < F.col("low_bound"))
                    | (F.col("__v") > F.col("high_bound")),
                    1,
                ).otherwise(0),
            ).alias("n_outliers"),
        )
    )
    return counted


def _sampled_values(
    nonnull: DataFrame, c, sample_size: int, sample_mode: str,
    known_total: int = None,
):
    """Bounded driver-side sample for the O(N²) medcouple kernel.

    - "random" (default): seeded random sample (seed 42), mirroring the
      reference's np.random.seed(42) sample in _get_medcouple_statistic.py
      — unbiased even when the table is sorted (e.g. by time index).
    - "head": limit(n) — cheapest scan at 100 TB, but biased on sorted data.

    ``known_total`` skips the sizing count job when the caller already
    aggregated it (medcouple_dict folds it into the percentile agg).
    A NaN is dropped from the sample as missing, as the pandas
    reference's ``dropna`` does (Spark keeps it apart from NULL).
    """
    src = nonnull.select(c.alias("__v"))
    if sample_mode == "random":
        total = known_total if known_total is not None else src.count()
        if total > sample_size:
            fraction = min(1.0, sample_size / total * 1.2)
            src = src.sample(withReplacement=False, fraction=fraction, seed=42)
    from woodwork_spark.io import arrow_to_pandas

    values = arrow_to_pandas(src.limit(sample_size))["__v"].to_numpy(
        dtype="float64",
    )
    return values[~np.isnan(values)]


def _collect_outlier_values(nonnull, c, low, high, max_values):
    """Low/high outlier values.  ``max_values=None`` collects all
    (reference parity); an int caps each side at the N most extreme —
    the scale path, since a heavy-tailed column at 100 TB would
    otherwise OOM the driver."""
    low_df = nonnull.filter(c < low).select(
        c.alias("__v"), F.lit(True).alias("__is_low"),
    )
    high_df = nonnull.filter(c > high).select(
        c.alias("__v"), F.lit(False).alias("__is_low"),
    )
    if max_values is not None:
        low_df = low_df.orderBy(F.col("__v").asc()).limit(max_values)
        high_df = high_df.orderBy(F.col("__v").desc()).limit(max_values)
    # ONE collect for both sides (each side is its own scan branch in
    # the union, but the driver pays a single job/round trip)
    rows = low_df.unionAll(high_df).collect()
    low_values = [r[0] for r in rows if r[1]]
    high_values = [r[0] for r in rows if not r[1]]
    if max_values is not None:
        low_values = sorted(low_values)
        high_values = sorted(high_values)
    return low_values, high_values


class _SparkColumn:
    """Where the outlier family gets its numbers above the local bound
    (or with approximate percentiles): Spark jobs over the column's
    non-NULL rows."""

    def __init__(self, ww_df, column):
        self.c = F.col(column)
        self.nonnull = ww_df.raw.filter(self.c.isNotNull())

    def quantiles(self):
        """(non-NULL count, {fraction: quantile}) in ONE agg."""
        row = self.nonnull.agg(
            F.count(self.c).alias("n"),
            *[
                _pctl(self.c, qq).alias(f"q{int(qq * 100)}")
                for qq in _QUANTILES
            ],
        ).collect()[0]
        return row["n"], {qq: row[f"q{int(qq * 100)}"] for qq in _QUANTILES}

    def sample(self, sample_size, sample_mode, n):
        return _sampled_values(
            self.nonnull, self.c, sample_size, sample_mode, known_total=n,
        )

    def outliers(self, low, high, max_values):
        return _collect_outlier_values(
            self.nonnull, self.c, low, high, max_values,
        )


class _LocalColumn(_SparkColumn):
    """The same numbers from the column's collected non-NULL values
    (native dtype, collect order).  A medcouple sample larger than
    medcouple_sample_size still comes from Spark's seeded sample."""

    def __init__(self, ww_df, column, values):
        super().__init__(ww_df, column)
        self.values = values
        self.x = values.astype("float64")

    def quantiles(self):
        q = local_percentile(np.sort(self.x), _QUANTILES) or [None] * 5
        return self.x.size, dict(zip(_QUANTILES, q))

    def sample(self, sample_size, sample_mode, n):
        if n <= sample_size:
            return self.x
        return super().sample(sample_size, sample_mode, n)

    def outliers(self, low, high, max_values):
        low_values = self.values[self.x < low]
        high_values = self.values[self.x > high]
        if max_values is not None:
            low_values = np.sort(low_values)[:max_values]
            high_values = np.sort(high_values)[
                max(high_values.size - max_values, 0):
            ]
        return low_values.tolist(), high_values.tolist()


def _column_source(ww_df, column):
    """:class:`_LocalColumn` when exact percentiles are asked for and the
    column (integral or floating) fits ``io.LOCAL_MAX_CELLS`` with no
    NaN/inf, else :class:`_SparkColumn`."""
    from woodwork_spark.io import collect_bounded

    dtype = ww_df.raw.schema[column].dataType
    if (
        config.get_option("profile_percentile_mode") == "exact"
        and isinstance(dtype, NUMERIC_TYPES)
    ):
        pdf = collect_bounded(ww_df.raw.select(column))
        if pdf is not None:
            return _LocalColumn(ww_df, column, local_values(pdf[column]))
    return _SparkColumn(ww_df, column)


def _box_plot_empty(include_indices_and_values):
    out = {
        "low_bound": float("nan"),
        "high_bound": float("nan"),
        "quantiles": {q: float("nan") for q in _QUANTILES},
    }
    if include_indices_and_values:
        out["low_values"] = []
        out["high_values"] = []
    return out


def _box_plot_result(src, q, include_indices_and_values, max_values):
    iqr = q[0.75] - q[0.25]
    low_bound = max(round(q[0.25] - 1.5 * iqr, 10), q[0.0])
    high_bound = min(round(q[0.75] + 1.5 * iqr, 10), q[1.0])
    out = {"low_bound": low_bound, "high_bound": high_bound, "quantiles": q}
    if include_indices_and_values:
        out["low_values"], out["high_values"] = src.outliers(
            low_bound, high_bound, max_values,
        )
    return out


def box_plot_dict(
    ww_df,
    column,
    quantiles=None,
    include_indices_and_values=True,
    max_values=None,
):
    """Reference column_accessor.py:441-492 shape: quantiles dict, bounds,
    and (optionally) the low/high outlier values.  ``quantiles`` may
    pre-supply computed quantiles (dict q->value) to skip the agg, same
    as the reference's parameter.  ``max_values`` bounds each outlier
    list at the N most extreme values (None = collect all, reference
    parity)."""
    _numeric_col_or_raise(ww_df, column)
    src = None
    if quantiles is not None:
        needed = {0.0, 0.25, 0.75, 1.0} - set(quantiles)
        if needed:
            raise ValueError(
                "Input quantiles do not contain the minimum necessary quantiles",
            )
        q = dict(quantiles)
    else:
        src = _column_source(ww_df, column)
        n, q = src.quantiles()
        if n == 0:
            return _box_plot_empty(include_indices_and_values)
    if include_indices_and_values and src is None:
        src = _column_source(ww_df, column)
    return _box_plot_result(src, q, include_indices_and_values, max_values)


def _medcouple(values: np.ndarray) -> float:
    """Medcouple statistic — robust skewness kernel on a bounded sample
    (same O(N²) formulation as the reference
    _medcouple_implementation.py:4-39)."""
    x = np.sort(values)[::-1]
    n = x.shape[0]
    if n == 0:
        return float("nan")
    med = np.median(x)
    z = x - med
    upper = z[z >= 0.0]
    lower = z[z <= 0.0]
    p = upper.shape[0]
    q = lower.shape[0]
    # broadcast, don't tile: at the 10k sample cap the two materialized
    # (p×q) tiles cost ~400 MB of pure allocation before the quotient —
    # broadcasting allocates only h itself (~3x less memory, ~3x faster
    # cold kernel), with bit-identical values
    u = upper[:, None]
    v = lower[None, :]
    # preallocate the (p×q) work buffers with np.zeros and fill via
    # out= ufuncs: zeroed pages first-touch through the kernel zero-page
    # path (~GB/s) while ufunc-allocated outputs arrive from plain
    # malloc, whose first touch measures ~15 MB/s in this container —
    # the allocation, not the arithmetic, dominated a cold kernel call
    h = np.zeros((p, q))
    d = np.zeros((p, q))
    np.add(u, v, out=h)
    np.subtract(u, v, out=d)
    with np.errstate(divide="ignore", invalid="ignore"):
        np.divide(h, d, out=h)
    del d
    # ties at the median: special kernel sign matrix
    num_ties = np.sum(z == 0.0)
    if num_ties:
        sign = np.zeros((num_ties, num_ties))
        idx = np.triu_indices(num_ties, 1)
        sign[idx] = -1.0
        sign = sign - sign.T
        h[p - num_ties:, :num_ties] = sign[::-1, ::-1]
    # overwrite_input partitions h in place instead of allocating a
    # fresh (p×q) copy (same slow-malloc first touch as above)
    return float(np.median(h, overwrite_input=True))


def _sample_skewness(values: np.ndarray) -> float:
    """Biased sample skewness g1 — the reference calls
    scipy.stats.skew with the default bias=True
    (_get_box_plot_info_for_column.py:42-66); no scipy in this env, so
    compute m3/m2^1.5 directly with no bias correction."""
    mean = values.mean()
    m2 = ((values - mean) ** 2).mean()
    m3 = ((values - mean) ** 3).mean()
    if m2 == 0:
        return 0.0
    return float(m3 / m2**1.5)


def medcouple_dict(ww_df, column, sample_mode="random", max_values=None):
    """Medcouple-adjusted outlier bounds
    (reference column_accessor.py:494-546): bounds
    q1 - 1.5*exp(∓a*mc)*IQR with the skewness coefficient clamped to 3.5
    (reference _get_box_plot_info_for_column.py:42-66).  The medcouple
    kernel runs on a seeded random sample by default (reference
    _get_medcouple_statistic.py:19-45); ``max_values`` bounds the
    collected outlier lists (None = all, reference parity)."""
    _numeric_col_or_raise(ww_df, column)
    sample_size = config.get_option("medcouple_sample_size")
    # ONE agg for the non-null count (sizes the sample fraction) AND the
    # percentiles — instead of a count job, a sample job, and a separate
    # percentile job serially re-scanning the column
    src = _column_source(ww_df, column)
    n, q = src.quantiles()
    values = src.sample(sample_size, sample_mode, n)
    if values.size == 0:
        return {
            "low_bound": float("nan"),
            "high_bound": float("nan"),
            "quantiles": {q: float("nan") for q in _QUANTILES},
            "medcouple_stat": float("nan"),
            "low_values": [],
            "high_values": [],
        }
    return _medcouple_result(src, q, values, max_values)


def _medcouple_result(src, q, values, max_values, mc=None):
    """Medcouple bounds + outlier collect from an ALREADY-computed
    quantile dict and sample — shared by :func:`medcouple_dict` and
    :func:`get_outliers`, which folds its method-choice agg/sample
    into the readout instead of re-scanning.  ``mc`` accepts the raw
    medcouple if the caller already ran the O(n log n) kernel for its
    method choice (get_outliers does) — rounding happens here either
    way, so both paths report identically."""
    mc = round(_medcouple(values) if mc is None else mc, 3)
    skew = _sample_skewness(values) if values.size > 2 else 0.0
    coeff = min(abs(skew), 3.5)
    iqr = q[0.75] - q[0.25]
    # Coefficient signs flip with the skew direction (reference
    # _determine_coefficients: mc>=0 -> (-coeff, +coeff); mc<0 -> (+coeff, -coeff)).
    if mc >= 0:
        low = q[0.25] - 1.5 * np.exp(-coeff * mc) * iqr
        high = q[0.75] + 1.5 * np.exp(coeff * mc) * iqr
    else:
        low = q[0.25] - 1.5 * np.exp(coeff * mc) * iqr
        high = q[0.75] + 1.5 * np.exp(-coeff * mc) * iqr
    low = max(round(float(low), 10), q[0.0])
    high = min(round(float(high), 10), q[1.0])
    low_values, high_values = src.outliers(low, high, max_values)
    return {
        "low_bound": low,
        "high_bound": high,
        "quantiles": q,
        "medcouple_stat": mc,
        "low_values": low_values,
        "high_values": high_values,
    }


def get_outliers(ww_df, column, method="best", sample_mode="random", max_values=None):
    """Heuristic method choice (reference column_accessor.py:389-439 +
    _get_box_plot_info_for_column.py:19-39): medcouple when |mc| >=
    medcouple_threshold, else box plot."""
    if method not in ("best", "box_plot", "medcouple"):
        raise ValueError(
            f"Acceptable values for method are 'best', 'box_plot', or 'medcouple'. Got: {method}",
        )
    if method == "box_plot":
        return box_plot_dict(ww_df, column, max_values=max_values)
    if method == "medcouple":
        return medcouple_dict(ww_df, column, sample_mode=sample_mode, max_values=max_values)
    _numeric_col_or_raise(ww_df, column)
    sample_size = config.get_option("medcouple_sample_size")
    # ONE shared agg feeds everything downstream: the sample-sizing
    # count, the method-choice medcouple sample, and the quantiles BOTH
    # readouts need — 'best' used to pay a count job + its chosen
    # method's full agg + (medcouple path) a second sample over the
    # same column.
    src = _column_source(ww_df, column)
    n, q = src.quantiles()
    if n == 0:
        return _box_plot_empty(True)
    values = src.sample(sample_size, sample_mode, n)
    mc = _medcouple(values) if values.size else float("nan")
    threshold = config.get_option("medcouple_threshold")
    if np.isnan(mc) or abs(mc) < threshold:
        return _box_plot_result(src, q, True, max_values)
    return _medcouple_result(src, q, values, max_values, mc=mc)
