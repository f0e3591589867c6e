"""Statistics subpackage.

Shared percentile-engine switch for the profiling stack: every
quartile/bound the describe / box-plot / medcouple family computes goes
through :func:`profile_percentile`, which honors the
``profile_percentile_mode`` config option — "exact" (default, Spark
``percentile``: pandas linear interpolation, reference parity) or
"approx" (``percentile_approx``: KLL-style sketch with bounded
aggregation state, the 100 TB path — exact percentile's state is a map
of every distinct value, which is the one unbounded-state aggregate in
the headline ``describe()`` path on high-cardinality doubles).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import functions as F
from pyspark.sql import types as T

from woodwork_spark.config import config

# physical types the driver-local kernels read as numpy numbers
INTEGRAL_TYPES = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
NUMERIC_TYPES = (*INTEGRAL_TYPES, T.FloatType, T.DoubleType)


def profile_percentile(col, fractions):
    """Percentile aggregate for profiling code paths.

    ``fractions`` may be a float or a list of floats; returns a
    ``double`` / ``array<double>`` column either way (the approx
    variant natively returns the INPUT type — an observed value, no
    interpolation — so it is cast for schema stability).  Accuracy of
    the approx sketch is pinned by ``profile_approx_accuracy``
    (rank error <= 1/accuracy).
    """
    mode = config.get_option("profile_percentile_mode")
    if mode == "exact":
        return F.percentile(col, F.lit(fractions))
    if mode != "approx":
        raise ValueError(
            "profile_percentile_mode must be 'exact' or 'approx', "
            f"got {mode!r}",
        )
    acc = int(config.get_option("profile_approx_accuracy"))
    out = F.percentile_approx(col, F.lit(fractions), F.lit(acc))
    if isinstance(fractions, (list, tuple)):
        return out.cast("array<double>")
    return out.cast("double")


def local_percentile(values, fractions):
    """Spark's exact ``percentile`` of the SORTED float64 ``values``,
    computed in numpy with Spark's own arithmetic, so bin edges and
    quartiles match the distributed path bit for bit: position
    ``(n - 1) * p``, and between the two neighbouring order statistics
    ``(hi_pos - pos) * lo + (pos - lo_pos) * hi``, taken as-is when the
    position is whole or both neighbours hold the same value.  A list of
    floats, or None when ``values`` is empty (Spark's NULL)."""
    n = values.size
    if n == 0:
        return None
    pos = (n - 1) * np.asarray(fractions, dtype="float64")
    lo, hi = np.floor(pos), np.ceil(pos)
    vlo, vhi = values[lo.astype("int64")], values[hi.astype("int64")]
    mixed = (hi - pos) * vlo + (pos - lo) * vhi
    return np.where((lo == hi) | (vlo == vhi), vlo, mixed).tolist()


def local_values(series):
    """The non-NULL values of a :func:`~woodwork_spark.io.collect_bounded`
    column as a numpy array of its own dtype (nullable integer and
    boolean columns unmasked, timestamps as UTC epoch microseconds)."""
    s = series.dropna()
    if isinstance(s.dtype, pd.DatetimeTZDtype):
        return s.dt.tz_convert("UTC").to_numpy(dtype="datetime64[us]").view("int64")
    return s.to_numpy(dtype=getattr(s.dtype, "numpy_dtype", None))
