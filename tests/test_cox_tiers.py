"""Equivalence of the three execution tiers of the Cox engine behind
cox_ph_fit and cox_ph_fit_tv.

- ``local``: the whole fit on the driver from one bounded collect
  (within ``io.LOCAL_MAX_CELLS``, the default tier at this size);
- ``step``: Spark rounds with the per-round driver solve (a cell bound
  between the group-statistics cells and the ``base`` cells);
- ``layered``: Spark rounds with the in-plan Cholesky layers
  (``LOCAL_MAX_CELLS = 0``).

Each fit shape (grouped, ungrouped, stratified, and the time-varying
fit grouped and ungrouped; one covariate and two) runs on data with
tied times, a group with no events, a degenerate covariate (x2
identically 0, so the information matrix is not PD), a NULL group key,
rows with a NULL covariate and, for the time-varying fit, (start, stop]
episodes whose starts tie with other episodes' stops and zero-length
episodes.  The tiers must agree on schema, row count, NULL placement
and values (rel 1e-9), and spies on the tier entry points assert which
tier ran.
"""

import math

import numpy as np
import pytest

from woodwork_spark import io
from woodwork_spark.operators import linalg, timeseries

ITERS = 4
# the step tier's cell bound: below the base frame's cells (over 1000 in
# every shape, the time-varying ledger's included), above the group
# statistics' (under 100)
STEP_CELLS = 300


@pytest.fixture(scope="module")
def cox_df(spark):
    rng = np.random.RandomState(20)
    rows = []
    for g, n in (("a", 70), ("b", 60), (None, 50), ("none", 20), ("col", 40)):
        for i in range(n):
            x1 = float(np.round(rng.normal(), 3))
            x2 = 0.0 if g == "col" else float(np.round(rng.normal(), 3))
            t = float(rng.randint(1, 15))  # few distinct times: many ties
            # episode start: ties other episodes' stops; t0 = t is a
            # zero-length episode, dropped by the time-varying fit
            t0 = min(float(i % 5), t)
            d = 0.0 if g == "none" else float(rng.uniform() < 0.7)
            s = [0, 1, None][i % 3]
            x = 0.0 if g == "col" else x1
            if g == "a" and i % 9 == 0:
                x = x1 = None  # dropped by the NULL-covariate filter
            rows.append((g, s, t0, t, d, x, x1, x2))
    return spark.createDataFrame(
        rows,
        "g string, s int, t0 double, t double, d double, x double, "
        "x1 double, x2 double",
    ).cache()


@pytest.fixture
def fit(monkeypatch):
    """Run cox_ph_fit (cox_ph_fit_tv with ``tv``) in a named tier;
    returns (frame, collected rows, the tier calls the spies saw)."""
    seen = {"local": [], "step": []}
    local_fit, step = timeseries._cox_fit_local, linalg.newton_step_local
    collect = io.collect_bounded
    frames = []  # (rows, columns) of each bounded collect

    def spy_collect(df):
        n, c = df.count(), len(df.columns)
        frames.append((n, c))
        out = collect(df)
        if (
            out is None and "__t" in df.columns
            and n <= io.LOCAL_MAX_CELLS // c
        ):
            # the base frame fits the bound but holds a NaN or inf: the
            # whole-fit tier declines it
            seen["local"].append(False)
        return out

    def spy_local(*a, **k):
        out = local_fit(*a, **k)
        seen["local"].append(out is not None)
        return out

    def spy_step(*a, **k):
        out = step(*a, **k)
        seen["step"].append(out is not None)
        return out

    monkeypatch.setattr(timeseries, "_cox_fit_local", spy_local)
    monkeypatch.setattr(linalg, "newton_step_local", spy_step)
    monkeypatch.setattr(io, "collect_bounded", spy_collect)

    def run(tier, df, x, group, strata=(), max_cells=1_000_000, tv=False):
        for v in seen.values():
            v.clear()
        frames.clear()
        bound = {"local": max_cells, "step": STEP_CELLS, "layered": 0}[tier]
        monkeypatch.setattr(io, "LOCAL_MAX_CELLS", bound)
        if tv:
            out = timeseries.cox_ph_fit_tv(
                df, "t0", "t", "d", x, group, iters=ITERS,
            )
        else:
            out = timeseries.cox_ph_fit(
                df, "t", "d", x, group, iters=ITERS, strata_cols=strata,
            )
        if tier == "step":
            # the base frame is over the bound, every round's group
            # statistics within it
            (n_base, c_base), *rounds = frames
            assert n_base > bound // c_base
            assert all(n <= bound // c for n, c in rounds)
        return out, out.collect(), {k: list(v) for k, v in seen.items()}

    return run


def _assert_same(a, b, keys):
    (df_a, rows_a), (df_b, rows_b) = a, b
    assert df_a.schema == df_b.schema
    assert len(rows_a) == len(rows_b)

    def order(r):
        return tuple((r[k] is None, r[k]) for k in keys)

    for ra, rb in zip(sorted(rows_a, key=order), sorted(rows_b, key=order)):
        for name in df_a.columns:
            va, vb = ra[name], rb[name]
            assert (va is None) == (vb is None), (name, ra, rb)
            if isinstance(va, float):
                assert math.isclose(va, vb, rel_tol=1e-9, abs_tol=1e-12) or (
                    math.isnan(va) and math.isnan(vb)
                ), (name, ra, rb)
            else:
                assert va == vb, (name, ra, rb)


# name -> (time-varying fit, group_cols, strata_cols)
SHAPES = {
    "grouped": (False, "g", ()),
    "ungrouped": (False, (), ()),
    "stratified": (False, "g", "s"),
    "tv_grouped": (True, "g", ()),
    "tv_ungrouped": (True, (), ()),
}


@pytest.mark.parametrize("x", ["x", ["x1", "x2"]], ids=["x", "x1_x2"])
@pytest.mark.parametrize("shape", list(SHAPES))
def test_tiers_agree(cox_df, fit, shape, x):
    tv, group, strata = SHAPES[shape]
    out = {}
    for tier in ("local", "step", "layered"):
        df, rows, seen = fit(tier, cox_df, x, group, strata, tv=tv)
        out[tier] = (df, rows)
        if tier == "local":
            assert seen == {"local": [True], "step": []}
        elif tier == "step":
            assert seen == {"local": [], "step": [True] * ITERS}
        else:
            # one probe per fit, not one per round
            assert seen == {"local": [], "step": [False]}
    keys = [group] if group else []
    _assert_same(out["local"], out["step"], keys)
    _assert_same(out["local"], out["layered"], keys)

    rows = out["local"][1]
    if group:
        by_g = {r["g"]: r for r in rows}
        assert set(by_g) == {"a", "b", None, "none", "col"}
        stats = [
            c for c in out["local"][0].columns
            if c not in ("g", "n", "n_events")
        ]
        # no events: n counted, every statistic NULL
        assert by_g["none"]["n_events"] == 0
        assert all(by_g["none"][c] is None for c in stats)
        # degenerate covariate: not PD, readout NULL
        assert all(by_g["col"][c] is None for c in stats)
        assert all(
            by_g[k][c] is not None for k in ("a", "b", None) for c in stats
        )
        # rows with a NULL covariate (and zero-length episodes) are
        # dropped
        kept = 70 - 8
        if tv:
            kept = cox_df.filter("g = 'a' AND x IS NOT NULL AND t0 < t")
            assert kept.count() < 70 - 8
            kept = kept.count()
        assert by_g["a"]["n"] == kept
    else:
        assert len(rows) == 1 and rows[0]["loglik"] is not None


@pytest.mark.parametrize(
    "tv, x",
    [(False, "x"), (False, ["x1", "x2"]), (True, "x"), (True, ["x1", "x2"])],
    ids=["x", "x1_x2", "tv_x", "tv_x1_x2"],
)
def test_non_finite_value_takes_spark_path(spark, cox_df, fit, tv, x):
    """One infinite time (an infinite stop for the time-varying fit):
    the local tier declines and the Spark path runs from the same
    cached frame, so the result equals the forced Spark path's."""
    bad = cox_df.filter("g = 'b'").limit(1).selectExpr(
        "g", "s", "t0", "double('inf') AS t", "d", "x", "x1", "x2",
    )
    df = cox_df.unionByName(bad)
    default, rows, seen = fit("local", df, x, "g", tv=tv)
    assert seen["local"] == [False]
    spark_df, spark_rows, _ = fit("step", df, x, "g", tv=tv)
    _assert_same((default, rows), (spark_df, spark_rows), ["g"])


def test_local_tier_skipped_above_bound(cox_df, fit):
    """More cells than LOCAL_MAX_CELLS: the kernel never runs and the
    Spark path gives the local tier's answer."""
    df, rows, seen = fit("local", cox_df, ["x1", "x2"], "g")
    assert seen == {"local": [True], "step": []}
    over = fit("local", cox_df, ["x1", "x2"], "g", max_cells=STEP_CELLS)
    assert over[2] == {"local": [], "step": [True] * ITERS}
    _assert_same((df, rows), over[:2], ["g"])


@pytest.mark.parametrize("which", ["tv", "fine_gray"])
def test_one_group_bound_probe_per_fit(spark, monkeypatch, which):
    """With the cell bound below two groups' statistics, the per-round
    driver solve misses once; the remaining rounds go straight to the
    layered plan instead of re-running the round for a discarded
    probe."""
    calls = []
    step = linalg.newton_step_local

    def spy(*a, **k):
        out = step(*a, **k)
        calls.append(out is not None)
        return out

    monkeypatch.setattr(linalg, "newton_step_local", spy)
    monkeypatch.setattr(io, "LOCAL_MAX_CELLS", 1)
    rng = np.random.RandomState(3)
    # ev: 0 censored, 1 event, 2 competing event (Fine-Gray only)
    ncause = 3 if which == "fine_gray" else 2
    rows = [
        (g, 0.0, float(rng.randint(1, 12)), int(rng.randint(ncause)),
         float(rng.normal()), float(rng.normal()))
        for g in ("a", "b") for _ in range(40)
    ]
    df = spark.createDataFrame(
        rows, "g string, t0 double, t double, ev int, x1 double, x2 double",
    )
    if which == "tv":
        timeseries.cox_ph_fit_tv(
            df, "t0", "t", "ev", ["x1", "x2"], "g", iters=3,
        ).collect()
    else:
        timeseries.fine_gray_fit(
            df, "t", "ev", ["x1", "x2"], group_cols="g", iters=3,
        ).collect()
    assert calls == [False]


def test_null_key_is_a_group_in_every_fit(spark):
    """A NULL group key is its own group in cox_ph_fit, cox_ph_fit_tv and
    fine_gray_fit alike (the key joins are null-safe)."""
    rng = np.random.RandomState(3)
    rows = []
    for i in range(60):
        t = float(rng.randint(1, 12))
        rows.append((
            "a" if i % 2 else None, 0.0, t, float(rng.uniform() < 0.7),
            int(rng.randint(0, 3)), float(np.round(rng.normal(), 3)),
        ))
    df = spark.createDataFrame(
        rows, "g string, t0 double, t double, d double, cause int, x double",
    )
    fits = {
        "cox_ph_fit": lambda: timeseries.cox_ph_fit(df, "t", "d", "x", "g"),
        "cox_ph_fit_tv": lambda: timeseries.cox_ph_fit_tv(
            df, "t0", "t", "d", "x", "g",
        ),
        "fine_gray_fit": lambda: timeseries.fine_gray_fit(
            df, "t", "cause", "x", "g",
        ),
    }
    for name, fit in fits.items():
        groups = sorted(
            (r["g"] for r in fit().collect()), key=lambda g: (g is not None, g),
        )
        assert groups == [None, "a"], name
