"""describe / describe_dict — per-column profiling.

Reference: /root/reference/woodwork/table_accessor.py:1454-1567 +
statistics_utils/_get_describe_dict.py:51-231.

Two tiers, and only the source of the numbers differs between them:

- Local (bounded input): when the described columns fit
  ``io.LOCAL_MAX_CELLS`` (1M cells) and hold no NaN/inf, ONE Arrow
  collect (``io.collect_bounded``) brings them to the driver and numpy
  computes every statistic and mode — one Spark job.
- Distributed (anything larger, or ``profile_percentile_mode`` not
  "exact"): ONE wide ``df.agg`` (count/mean/std/min/max/exact
  percentiles/bool counts), one count_distinct agg, and ONE melt-based
  job for modes — three Spark jobs for any table width.

Exact quartiles are linear interpolation like pandas (reference
`percentile` helper _get_describe_dict.py:27-48), in both tiers with
Spark's own arithmetic.  Set the ``profile_percentile_mode="approx"``
config option to route quartiles through the bounded-state
`percentile_approx` sketch instead (the 100 TB path for
high-cardinality doubles; default stays exact for reference parity).
"""

from __future__ import annotations

import datetime as _dt
import re
import zoneinfo

import numpy as np
import pandas as pd

from pyspark.sql import functions as F
from pyspark.sql import types as T

from woodwork_spark.config import config
from woodwork_spark.statistics import (
    INTEGRAL_TYPES,
    NUMERIC_TYPES,
    local_percentile,
    local_values,
)
from woodwork_spark.statistics import profile_percentile as _pctl

STAT_ORDER = [
    "physical_type",
    "logical_type",
    "semantic_tags",
    "count",
    "nunique",
    "nan_count",
    "mean",
    "mode",
    "std",
    "min",
    "first_quartile",
    "second_quartile",
    "third_quartile",
    "max",
    "num_true",
    "num_false",
]


def _classify(cs):
    if cs.is_numeric:
        return "numeric"
    if cs.is_boolean:
        return "boolean"
    if cs.is_datetime:
        return "datetime"
    if cs.is_categorical:
        return "category"
    return "other"


def describe_dict(ww_df, include=None, callback=None, results_callback=None):
    from woodwork_spark.callback import CallbackCaller

    schema = ww_df.schema
    df = ww_df.raw
    cols = list(ww_df.columns)
    if include is not None:
        matched = ww_df._filter_cols(
            include if isinstance(include, list) else [include],
        )
        cols = [c for c in cols if c in matched]
    index = schema.index
    kinds = {c: _classify(schema.columns[c]) for c in cols}

    # 1 unit of preprocessing + 1 per column, reference accounting
    # (_get_describe_dict.py:110-119) even though the Spark execution
    # batches all columns into two agg jobs
    caller = CallbackCaller(callback, "calculations", 1 + len(cols))

    dtypes = {f.name: f.dataType for f in df.schema.fields}
    local = _describe_local(df, cols, kinds, dtypes)
    if local is None:
        row = _describe_row(df, cols, kinds)
        raw_modes = _modes(df, cols)
    else:
        row, raw_modes = local
    total = row["__total"]
    caller.update(1)
    modes = {
        c: _from_string(v, dtypes[c], kinds[c]) for c, v in raw_modes.items()
    }

    phys = ww_df.physical_types
    out = {}
    for c in cols:
        kind = kinds[c]
        cs = schema.columns[c]
        stats = {
            "physical_type": phys[c].simpleString(),
            "logical_type": cs.logical_type,
            "semantic_tags": set(cs.semantic_tags),
            "count": row[f"{c}__count"],
            "nan_count": total - row[f"{c}__count"],
        }
        if f"{c}__nunique" in row:
            stats["nunique"] = row[f"{c}__nunique"]
        if kind == "numeric":
            q = row[f"{c}__quartiles"] or [None, None, None]
            stats.update(
                mean=row[f"{c}__mean"],
                std=row[f"{c}__std"],
                min=row[f"{c}__min"],
                max=row[f"{c}__max"],
                first_quartile=q[0],
                second_quartile=q[1],
                third_quartile=q[2],
            )
        elif kind == "datetime":
            us = row[f"{c}__mean_us"]
            stats.update(
                mean=(
                    _dt.datetime.utcfromtimestamp(us / 1_000_000) if us is not None else None
                ),
                min=row[f"{c}__min"],
                max=row[f"{c}__max"],
            )
        elif kind == "boolean":
            stats.update(
                num_true=row[f"{c}__num_true"] or 0,
                num_false=row[f"{c}__num_false"] or 0,
            )
        if c in modes:
            stats["mode"] = modes[c]
        out[c] = stats
        if results_callback is not None:
            # reference _get_describe_dict.py:226-229 shape: cumulative
            # frame + the column just finished
            results_callback(pd.DataFrame.from_dict(out), pd.Series(stats, name=c))
        caller.update(1)
    if index is not None and index in out:
        del out[index]
    return out


def _describe_row(df, cols, kinds):
    """Every per-column statistic as one dict keyed ``{column}__{stat}``
    (plus ``__total``): one wide agg and one count_distinct agg.

    count_distinct lives in its own agg pass: combined with exact
    percentile it forces the percentile buffers through an Expand
    (see profile.py) — two clean jobs beat one poisoned one."""
    aggs = [F.count(F.lit(1)).alias("__total")]
    distinct_aggs = []
    for c in cols:
        col = F.col(c)
        kind = kinds[c]
        aggs.append(F.count(col).alias(f"{c}__count"))
        if kind != "boolean":
            distinct_aggs.append(F.count_distinct(col).alias(f"{c}__nunique"))
        if kind == "numeric":
            aggs += [
                F.mean(col).alias(f"{c}__mean"),
                F.stddev_samp(col).alias(f"{c}__std"),
                F.min(col).alias(f"{c}__min"),
                F.max(col).alias(f"{c}__max"),
                _pctl(col, [0.25, 0.5, 0.75]).alias(f"{c}__quartiles"),
            ]
        elif kind == "datetime":
            aggs += [
                F.avg(F.unix_micros(col)).alias(f"{c}__mean_us"),
                F.min(col).alias(f"{c}__min"),
                F.max(col).alias(f"{c}__max"),
            ]
        elif kind == "boolean":
            aggs += [
                F.sum(F.when(col, 1).otherwise(0)).alias(f"{c}__num_true"),
                F.sum(F.when(~col, 1).otherwise(0)).alias(f"{c}__num_false"),
            ]
    row = df.agg(*aggs).collect()[0].asDict()
    if distinct_aggs:
        row.update(df.agg(*distinct_aggs).collect()[0].asDict())
    return row


def _modes(df, cols):
    """Most frequent value per column, as Spark's string cast, in ONE
    job via melt + window.

    Tie-break: count desc, then ``try_cast(double)`` asc, then string
    asc — smallest value first, matching pandas ``Series.mode()[0]``
    (reference _get_mode.py:1-6) for numeric columns.
    """
    from pyspark.sql import Window as W

    if not cols:
        return {}
    pairs = []
    for c in cols:
        pairs.append(F.lit(c))
        pairs.append(F.col(c).cast("string"))
    melted = df.select(
        F.stack(F.lit(len(cols)), *pairs).alias("__col", "__val"),
    ).filter(F.col("__val").isNotNull())
    counts = melted.groupBy("__col", "__val").agg(F.count(F.lit(1)).alias("__n"))
    w = W.partitionBy("__col").orderBy(
        F.desc("__n"),
        F.col("__val").try_cast("double").asc_nulls_last(),
        F.col("__val").asc(),
    )
    top = (
        counts.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("__col", "__val")
        .collect()
    )
    return {r["__col"]: r["__val"] for r in top}


# physical types each kind's local kernel handles; any other described
# column (decimal, date, array, ...) keeps the whole call on Spark
_LOCAL_TYPES = {
    "numeric": NUMERIC_TYPES,
    "boolean": (T.BooleanType,),
    "datetime": (T.TimestampType,),
    "category": (*NUMERIC_TYPES, T.BooleanType, T.StringType, T.TimestampType),
}
_LOCAL_TYPES["other"] = _LOCAL_TYPES["category"]


def _describe_local(df, cols, kinds, dtypes):
    """:func:`_describe_row` and :func:`_modes` computed on the driver
    from one bounded collect, or None when the distributed path must
    run: the input is over ``io.LOCAL_MAX_CELLS`` or holds NaN/inf, a
    column's type has no local kernel, the session time zone is not an
    IANA name, or quartiles are approximate
    (``profile_percentile_mode``)."""
    from woodwork_spark.io import collect_bounded

    if config.get_option("profile_percentile_mode") != "exact":
        return None
    if not all(isinstance(dtypes[c], _LOCAL_TYPES[kinds[c]]) for c in cols):
        return None
    zone = None
    if any(isinstance(dtypes[c], T.TimestampType) for c in cols):
        try:
            zone = zoneinfo.ZoneInfo(
                df.sparkSession.conf.get("spark.sql.session.timeZone"),
            )
        except (ValueError, zoneinfo.ZoneInfoNotFoundError):
            return None
    pdf = collect_bounded(df.select(*cols))
    if pdf is None:
        return None
    row = {"__total": len(pdf)}
    modes = {}
    for c in cols:
        kind, dtype = kinds[c], dtypes[c]
        v = local_values(pdf[c])
        n = int(v.size)
        row[f"{c}__count"] = n
        if kind != "boolean":
            row[f"{c}__nunique"] = int(np.unique(v).size)
        if kind == "numeric":
            # mean and std sum in collect order; sort only for quartiles
            x = v.astype("float64")
            lo, hi = (v.min().item(), v.max().item()) if n else (None, None)
            if n < 2:
                std = None
            elif lo == hi:
                std = 0.0  # Spark's central moments are exactly 0 here
            else:
                std = float(x.std(ddof=1))
            row.update({
                f"{c}__mean": float(x.mean()) if n else None,
                f"{c}__std": std,
                f"{c}__min": lo,
                f"{c}__max": hi,
                f"{c}__quartiles": local_percentile(
                    np.sort(x), [0.25, 0.5, 0.75],
                ),
            })
        elif kind == "datetime":
            # Row's own conversion: naive local time of the driver process
            as_row = T.TimestampType().fromInternal
            row.update({
                f"{c}__mean_us": float(v.astype("float64").mean()) if n else None,
                f"{c}__min": as_row(int(v.min())) if n else None,
                f"{c}__max": as_row(int(v.max())) if n else None,
            })
        elif kind == "boolean":
            num_true = int(v.sum())
            row[f"{c}__num_true"] = num_true
            row[f"{c}__num_false"] = n - num_true
        if n:
            modes[c] = _local_mode(v, dtype, zone)
    return row, modes


def _local_mode(v, dtype, zone):
    """:func:`_modes` for one column's non-NULL values: group by the
    value Spark's string cast would give (timestamps as wall time in the
    session zone, -0.0 apart from 0.0), keep the most frequent, and break
    ties as the window does."""
    if isinstance(dtype, T.TimestampType):
        keys = (
            pd.DatetimeIndex(v.view("datetime64[us]")).tz_localize("UTC")
            .tz_convert(zone).tz_localize(None).asi8
        )
    elif isinstance(dtype, (T.FloatType, T.DoubleType)):
        keys = v.view("int64" if v.dtype == np.float64 else "int32")
    else:
        keys = v
    uniq, counts = np.unique(keys, return_counts=True)
    tied = uniq[counts == counts.max()]
    if isinstance(dtype, (T.FloatType, T.DoubleType)):
        tied = tied.view(v.dtype)
    return min((_spark_string(x, dtype) for x in tied), key=_mode_order)


def _spark_string(x, dtype):
    """``CAST(x AS STRING)`` for one value of a locally-described column.
    Doubles and floats use Python's shortest repr, which parses back to
    the same value as Java's; timestamps arrive as wall-time micros."""
    if isinstance(dtype, T.BooleanType):
        return "true" if x else "false"
    if isinstance(dtype, INTEGRAL_TYPES):
        return str(int(x))
    if isinstance(dtype, T.DoubleType):
        return repr(float(x))
    if isinstance(dtype, T.FloatType):
        return str(np.float32(x))
    if isinstance(dtype, T.TimestampType):
        sec, us = divmod(int(x), 1_000_000)
        out = (_dt.datetime(1970, 1, 1) + _dt.timedelta(seconds=sec)).strftime(
            "%Y-%m-%d %H:%M:%S",
        )
        return out + ("." + f"{us:06d}".rstrip("0") if us else "")
    return x


def _mode_order(s):
    """Sort key of the mode window's tie-break on a string value:
    ``try_cast(double)`` asc (NaN after numbers, NULL last), then the
    string asc."""
    d = _try_double(s)
    if d is None:
        return (2, 0.0, s)
    if d != d:
        return (1, 0.0, s)
    return (0, d, s)


# Java's Double.parseDouble grammar (decimal or hex, optional f/d suffix)
_JAVA_DOUBLE = re.compile(
    r"[+-]?(?:NaN|Infinity|(?:\d+\.?\d*|\.\d+)(?:[eE][+-]?\d+)?[fFdD]?"
    r"|0[xX](?:[0-9a-fA-F]+\.?[0-9a-fA-F]*|\.[0-9a-fA-F]+)[pP][+-]?\d+[fFdD]?)",
)
# Java's String.trim() drops every char <= U+0020
_JAVA_BLANK = "".join(map(chr, range(33)))


def _try_double(s):
    """Spark's ``try_cast(s AS double)``: Java's ``Double.parseDouble``,
    then Spark's case-insensitive inf/nan literals; None for NULL."""
    t = s.strip(_JAVA_BLANK)
    if _JAVA_DOUBLE.fullmatch(t):
        if t[-1] in "fFdD":
            t = t[:-1]
        return float.fromhex(t) if "x" in t or "X" in t else float(t)
    low = t.lower()
    if low in ("inf", "+inf", "infinity", "+infinity"):
        return float("inf")
    if low in ("-inf", "-infinity"):
        return float("-inf")
    if low in ("nan", "+nan", "-nan"):
        return float("nan")
    return None


def _from_string(v, dtype, kind):
    if v is None:
        return None
    if isinstance(dtype, (T.LongType, T.IntegerType, T.ShortType, T.ByteType)):
        return int(float(v))
    if isinstance(dtype, (T.DoubleType, T.FloatType)):
        return float(v)
    if isinstance(dtype, T.BooleanType):
        return v == "true"
    if isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
        return pd.Timestamp(v)
    if isinstance(dtype, T.DateType):
        return pd.Timestamp(v).date()
    return v


def describe(ww_df, include=None, callback=None, results_callback=None):
    """Pandas DataFrame shaped like the reference's describe output:
    statistics as rows (fixed order), columns as columns
    (reference table_accessor.py:1549-1567)."""
    d = describe_dict(
        ww_df, include=include, callback=callback, results_callback=results_callback,
    )
    frame = pd.DataFrame(d)
    return frame.reindex(STAT_ORDER)


def describe_with_extra_stats(
    ww_df, include=None, bins=10, top_x=10, recent_x=10, callback=None,
):
    """describe_dict + the reference's extra stats
    (_get_describe_dict.py:199-223): numeric columns get a fixed-width
    histogram; low-range integers get full value counts; categoricals get
    top values; datetimes get recent date counts.  Extra passes are one
    job per stat FAMILY (melt/window batched), not per column."""
    from woodwork_spark.statistics.value_counts import value_counts_df

    base = describe_dict(ww_df, include=include, callback=callback)
    schema = ww_df.schema
    df = ww_df.raw

    for c, stats in base.items():
        kind = _classify(schema.columns[c])
        col = F.col(c)
        if kind == "numeric":
            mn, mx = stats.get("min"), stats.get("max")
            if mn is None or mx is None or mn == mx:
                stats["histogram"] = []
                continue
            width = (mx - mn) / bins
            hist_rows = (
                df.filter(col.isNotNull())
                .select(
                    F.least(
                        F.floor((col - F.lit(mn)) / F.lit(width)), F.lit(bins - 1),
                    ).alias("bin"),
                )
                .groupBy("bin")
                .agg(F.count(F.lit(1)).alias("count"))
                .collect()
            )
            by_bin = {int(r["bin"]): r["count"] for r in hist_rows}
            stats["histogram"] = [
                {
                    "bins": [mn + i * width, mn + (i + 1) * width],
                    "frequency": by_bin.get(i, 0),
                }
                for i in range(bins)
            ]
            # low-range integers: full value counts (reference
            # _get_numeric_value_counts_in_range)
            if (
                isinstance(stats.get("min"), (int, float))
                and float(mx - mn) <= 100
                and float(mn).is_integer()
                and float(mx).is_integer()
            ):
                counts = {
                    r[c]: r["n"]
                    for r in df.filter(col.isNotNull())
                    .groupBy(c)
                    .agg(F.count(F.lit(1)).alias("n"))
                    .collect()
                }
                stats["top_values"] = [
                    {"value": v, "count": counts.get(v, 0)}
                    for v in range(int(mn), int(mx) + 1)
                ]
        elif kind == "category":
            rows = value_counts_df(df, [c], top_n=top_x).collect()
            stats["top_values"] = [
                {"value": r["value"], "count": r["count"]} for r in rows
            ]
        elif kind == "datetime":
            rows = (
                df.filter(col.isNotNull())
                .groupBy(F.to_date(col).alias("d"))
                .agg(F.count(F.lit(1)).alias("n"))
                .orderBy(F.desc("d"))
                .limit(recent_x)
                .collect()
            )
            stats["recent_values"] = [
                {"value": r["d"], "count": r["n"]} for r in rows
            ]
    return base


def equi_depth_histogram(df, column, num_buckets: int = 10):
    """Equi-DEPTH histogram (equal row counts per bucket, varying
    widths) — the robust companion to the equal-width histogram when
    the distribution is skewed: bucket boundaries ARE the quantiles.

    Built on the distributed NTILE primitive (no single-reducer window):
    returns ``(bucket, n_rows, lo, hi)``.  NULLs are excluded.
    """
    from pyspark.sql import functions as F

    from woodwork_spark.operators.rank import global_ntile

    c = F.col(column)
    nonnull = df.select(column).where(c.isNotNull())
    binned = global_ntile(
        nonnull, [F.asc(column)], num_buckets, out_col="bucket",
    )
    return binned.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min(column).alias("lo"),
        F.max(column).alias("hi"),
    )
