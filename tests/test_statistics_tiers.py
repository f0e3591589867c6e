"""Equivalence of the statistics layer's two execution tiers.

- ``local``: one bounded Arrow collect (``io.collect_bounded``, the
  default tier at this size) and numpy kernels on the driver;
- ``spark``: the distributed aggregations (``io.LOCAL_MAX_CELLS = 0``).

``describe_dict``, ``dependence`` and the outlier family run on a frame
with NULLs, tied modes (numeric-looking strings "9"/"10" among them),
booleans, datetimes under an America/New_York session, an all-NULL
column, a zero-variance column and an index column.  Both tiers must
return the same keys, the same Python types, NULL/NaN in the same places
and values within rel 1e-9; spies on the helper show which tier ran.
"""

import datetime as dt
import math
import warnings

import numpy as np
import pandas as pd
import pytest

import woodwork_spark as ww
from woodwork_spark import io
from woodwork_spark.config import config
from woodwork_spark.exceptions import SparseDataWarning
from woodwork_spark.statistics.outliers import (
    box_plot_dict,
    get_outliers,
    medcouple_dict,
)

N = 120


@pytest.fixture(scope="module")
def new_york(spark):
    key = "spark.sql.session.timeZone"
    prev = spark.conf.get(key)
    spark.conf.set(key, "America/New_York")
    yield
    spark.conf.set(key, prev)


@pytest.fixture(scope="module")
def table(spark, new_york):
    rng = np.random.RandomState(6)
    # "9" and "10" tie for the mode; None every sixth row
    labels = ["9", "10", "abc", "9", "10", None]
    base = dt.datetime(2024, 11, 2, 22, 0, 0)
    rows = []
    for r in range(N):
        rows.append((
            r,
            None if r % 7 == 0 else int(rng.randint(0, 12)),
            None if r % 5 == 0 else float(np.round(rng.gamma(2.0, 3.0), 2)),
            float(np.round(rng.normal(), 3)) if r % 11 else None,
            3.5,
            None,
            None if r % 9 == 0 else bool(r % 3),
            labels[r % 6],
            None if r % 6 == 0 else base + dt.timedelta(minutes=37 * (r % 17)),
        ))
    # planted extremes for the outlier readouts
    rows[1] = (1, 500, 95.0, -9.0, 3.5, None, True, "10", base)
    rows[2] = (2, -400, -60.0, 8.0, 3.5, None, False, "abc", base)
    df = spark.createDataFrame(
        rows,
        "idx long, i long, x double, y double, z double, nulls double, "
        "b boolean, s string, ts timestamp",
    ).cache()
    return ww.init(
        df,
        index="idx",
        logical_types={
            "i": "IntegerNullable", "x": "Double", "y": "Double",
            "z": "Double", "nulls": "Double", "b": "BooleanNullable",
            "s": "Categorical", "ts": "Datetime",
        },
        validate=False,
    )


@pytest.fixture
def run(monkeypatch):
    """Run ``fn`` in a named tier; returns (result, what each helper call
    returned: True for a frame, False for None)."""
    seen = []
    collect = io.collect_bounded

    def spy(df):
        out = collect(df)
        seen.append(out is not None)
        return out

    monkeypatch.setattr(io, "collect_bounded", spy)

    def go(tier, fn):
        seen.clear()
        monkeypatch.setattr(
            io, "LOCAL_MAX_CELLS", 1_000_000 if tier == "local" else 0,
        )
        return fn(), list(seen)

    return go


def _assert_same(a, b, where=()):
    if isinstance(a, pd.DataFrame):
        assert list(a.columns) == list(b.columns), where
        assert len(a) == len(b), where
        key = ["column_1", "column_2"]
        ra = {tuple(r[key]): r for _, r in a.iterrows()}
        rb = {tuple(r[key]): r for _, r in b.iterrows()}
        assert ra.keys() == rb.keys(), where
        for k in ra:
            _assert_same(ra[k].to_dict(), rb[k].to_dict(), (*where, k))
        return
    assert type(a) is type(b), (where, a, b)
    if isinstance(a, dict):
        assert a.keys() == b.keys(), where
        for k in a:
            _assert_same(a[k], b[k], (*where, k))
    elif isinstance(a, list):
        assert len(a) == len(b), where
        for i, (va, vb) in enumerate(zip(a, b)):
            _assert_same(va, vb, (*where, i))
    elif isinstance(a, float):
        assert (math.isnan(a) and math.isnan(b)) or math.isclose(
            a, b, rel_tol=1e-9, abs_tol=1e-12,
        ), (where, a, b)
    elif isinstance(a, dt.datetime):
        # the datetime mean is a float mean of epoch micros
        assert abs((a - b).total_seconds()) < 1e-3, (where, a, b)
    else:
        assert a == b, (where, a, b)


def _agree(run, fn):
    local, seen_local = run("local", fn)
    spark_out, seen_spark = run("spark", fn)
    assert seen_local and all(seen_local), seen_local
    assert not any(seen_spark), seen_spark
    _assert_same(local, spark_out)
    return local


@pytest.mark.parametrize(
    "include", [None, ["numeric"], ["s", "ts", "b"]], ids=["all", "numeric", "named"],
)
def test_describe_tiers_agree(run, table, include):
    out = _agree(run, lambda: table.describe_dict(include=include))
    if include is None:
        assert "idx" not in out
        assert out["s"]["mode"] == "9"  # count tie: "9" < "10" as doubles
        assert out["z"]["std"] == 0.0
        assert out["nulls"]["count"] == 0 and "mode" not in out["nulls"]
        assert isinstance(out["i"]["min"], int)
        assert isinstance(out["ts"]["mode"], pd.Timestamp)


@pytest.mark.parametrize("nrows", [None, 50])
def test_dependence_tiers_agree(run, table, nrows):
    with pytest.warns(SparseDataWarning):  # the all-NULL column's pairs
        out = _agree(
            run,
            lambda: table.dependence(measures="all", nrows=nrows, min_shared=10),
        )
    assert {"pearson", "spearman", "mutual_info", "max"} <= set(out.columns)


def test_dependence_target_and_sparse_pairs(run, table):
    """A target column, and a pair under min_shared (NaN + warning in
    both tiers); x and y both hold NULLs, so their spearman pair takes
    the distributed tier's per-pair (slow) path."""
    with pytest.warns(SparseDataWarning):
        _agree(
            run,
            lambda: table.dependence(
                measures=["pearson", "spearman"], target_col="x",
                min_shared=200,
            ),
        )
    _agree(
        run,
        lambda: table[["x", "y"]].dependence(measures="spearman", min_shared=5),
    )


@pytest.mark.parametrize("column", ["i", "x", "y"])
def test_outliers_tiers_agree(run, table, column):
    _agree(run, lambda: box_plot_dict(table, column))
    _agree(run, lambda: box_plot_dict(table, column, max_values=1))
    _agree(run, lambda: medcouple_dict(table, column, max_values=2))
    for method in ("best", "box_plot", "medcouple"):
        _agree(run, lambda: get_outliers(table, column, method=method))


def test_outliers_all_null_column(run, table):
    for fn in (box_plot_dict, medcouple_dict, get_outliers):
        _agree(run, lambda: fn(table, "nulls"))


# the distributed medcouple of a column holding NaN warns on its own
@pytest.mark.filterwarnings("ignore::RuntimeWarning")
@pytest.mark.parametrize("bad", [float("nan"), float("inf")])
def test_non_finite_takes_spark_path(spark, run, bad):
    """Spark keeps NaN apart from NULL and pandas cannot, so a NaN or
    inf value sends the call to the distributed tier."""
    df = spark.createDataFrame(
        [(float(i),) for i in range(30)] + [(bad,), (None,)], "v double",
    )
    t = ww.init(df, logical_types={"v": "Double"}, validate=False)
    for fn in (
        lambda: t.describe_dict(),
        lambda: box_plot_dict(t, "v"),
        lambda: get_outliers(t, "v"),
    ):
        _, seen = run("local", fn)
        assert seen == [False]


def _jobs(spark, fn, name):
    sc = spark.sparkContext
    group = f"stats_tier_jobs_{name}"
    sc.setJobGroup(group, "job-count probe")
    try:
        fn()
    finally:
        sc.setJobGroup(None, None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_one_job_per_call_under_the_bound(spark, table):
    calls = {
        "describe": lambda: table.describe_dict(),
        "dependence": lambda: table.dependence(measures="all"),
        "box_plot": lambda: box_plot_dict(table, "x"),
        "medcouple": lambda: medcouple_dict(table, "x"),
        "get_outliers": lambda: get_outliers(table, "x"),
    }
    for name, fn in calls.items():
        with warnings.catch_warnings():
            warnings.simplefilter("ignore", SparseDataWarning)
            fn()  # warm
            assert _jobs(spark, fn, name) == 1, name
    # above the medcouple sample size the seeded Spark sample still runs
    with config.with_options(medcouple_sample_size=20):
        jobs = _jobs(spark, lambda: medcouple_dict(table, "x"), "sampled")
    assert jobs == 2
