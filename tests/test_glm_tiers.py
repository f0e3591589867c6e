"""Equivalence of the GLM fit's three execution tiers.

- ``local``: the whole fit on the driver from one bounded collect
  (``regression._glm_fit_local``, within ``io.LOCAL_MAX_CELLS``, the
  default tier at this size);
- ``step``: Spark rounds whose one-row-per-group sufficient stats
  collect to the driver and solve there (``linalg.newton_step_local``;
  a cell bound between the group-statistics cells and the ``base``
  cells);
- ``layered``: Spark rounds with the in-plan Cholesky layers
  (``LOCAL_MAX_CELLS = 0``).

Logistic and Poisson fits on one covariate (the slim schema) and on two
run grouped and ungrouped, with a ridge penalty and with a Poisson
exposure, on data holding a degenerate group (x2 identically 0, so the
information matrix is not PD), a group with one outcome class, a NULL
group key and rows with a NULL covariate.  The tiers must agree on
schema, row count, NULL placement and values (rel 1e-9), and spies on
the tier entry points assert which tier ran.  The NULL-key tests cover
every GLM fit whose key join used to drop a NULL-key group.
"""

import math

import numpy as np
import pytest

from woodwork_spark import io
from woodwork_spark.operators import linalg, regression

ITERS = 4
GROUPS = ("a", "b", None, "one", "col")
# the step tier's cell bound: below the base frame's cells (over 450 in
# every shape), above the group statistics' (under 70)
STEP_CELLS = 300
SLIM = ["n", "intercept", "slope", "se_slope", "z_stat", "p_approx",
        "loglik", "dispersion"]


@pytest.fixture(scope="module")
def glm_df(spark):
    rng = np.random.RandomState(11)
    rows = []
    for g, n in zip(GROUPS, (70, 60, 50, 30, 40)):
        for i in range(n):
            x1 = float(np.round(rng.normal(), 3))
            x2 = 0.0 if g == "col" else float(np.round(rng.normal(), 3))
            eta = 0.3 + 0.8 * x1 - 0.5 * x2
            yb = 0.0 if g == "one" else float(rng.uniform() < 1 / (1 + math.exp(-eta)))
            expo = float(rng.randint(1, 5))
            yc = 0.0 if g == "one" else float(rng.poisson(expo * math.exp(0.2 * eta)))
            if g == "a" and i % 9 == 0:
                x1 = None  # dropped by the NULL-covariate filter
            rows.append((g, x1, x2, yb, yc, expo))
    return spark.createDataFrame(
        rows,
        "g string, x1 double, x2 double, yb double, yc double, "
        "expo double",
    ).cache()


@pytest.fixture
def fit(monkeypatch):
    """Run a GLM fit in a named tier; returns (frame, collected rows,
    the tier calls the spies saw)."""
    seen = {"local": [], "step": [], "layers": []}
    local_fit = regression._glm_fit_local
    step, layers = linalg.newton_step_local, linalg.chol_solve_layers
    collect = io.collect_bounded
    frames = []  # (rows, columns) of each bounded collect

    def spy_collect(df):
        n, c = df.count(), len(df.columns)
        frames.append((n, c))
        out = collect(df)
        if (
            out is None and "__y" in df.columns
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

    def spy_layers(*a, **k):
        pref = k.get("pref", a[3] if len(a) > 3 else "__ch")
        if pref != "__se":  # the readout's inverse-diagonal solve
            seen["layers"].append(pref)
        return layers(*a, **k)

    monkeypatch.setattr(regression, "_glm_fit_local", spy_local)
    monkeypatch.setattr(linalg, "newton_step_local", spy_step)
    monkeypatch.setattr(linalg, "chol_solve_layers", spy_layers)
    monkeypatch.setattr(io, "collect_bounded", spy_collect)

    def run(tier, family, df, group, x=("x1", "x2"), max_cells=None,
            **kw):
        for v in seen.values():
            v.clear()
        frames.clear()
        if max_cells is None:
            max_cells = {
                "local": 1_000_000, "step": STEP_CELLS, "layered": 0,
            }[tier]
        monkeypatch.setattr(io, "LOCAL_MAX_CELLS", max_cells)
        fn = (
            regression.logistic_fit if family == "logistic"
            else regression.poisson_fit
        )
        y = "yb" if family == "logistic" else "yc"
        x = list(x) if isinstance(x, tuple) else x
        out = fn(df, y, x, group, iters=ITERS, **kw)
        if tier == "step" and max_cells == STEP_CELLS:
            # the base frame is over the bound, every round's group
            # statistics within it
            (n_base, c_base), *rounds = frames
            assert n_base > max_cells // c_base
            assert all(n <= max_cells // c for n, c in rounds)
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


CASES = {
    "logistic": ("logistic", {}),
    "logistic_ridge": ("logistic", {"ridge_lambda": 0.5}),
    "poisson": ("poisson", {}),
    "poisson_exposure": ("poisson", {"exposure_col": "expo"}),
}


@pytest.mark.parametrize("group", ["g", ()], ids=["grouped", "ungrouped"])
@pytest.mark.parametrize("case", list(CASES))
def test_tiers_agree(glm_df, fit, case, group):
    _tiers_agree(glm_df, fit, case, group, ["x1", "x2"])


@pytest.mark.parametrize("group", ["g", ()], ids=["grouped", "ungrouped"])
@pytest.mark.parametrize("case", list(CASES))
def test_slim_tiers_agree(glm_df, fit, case, group):
    """One covariate name: the same engine, projected to the slim
    schema."""
    _tiers_agree(glm_df, fit, case, group, "x1")


def _tiers_agree(glm_df, fit, case, group, x):
    family, kw = CASES[case]
    out = {}
    for tier in ("local", "step", "layered"):
        df, rows, seen = fit(tier, family, glm_df, group, x, **kw)
        out[tier] = (df, rows)
        if tier == "local":
            assert seen == {"local": [True], "step": [], "layers": []}
        elif tier == "step":
            assert seen == {"local": [], "step": [True] * ITERS, "layers": []}
        else:
            # one probe per fit, not one per round
            assert seen["local"] == [] and seen["step"] == [False]
            assert len(seen["layers"]) == ITERS
    keys = [group] if group else []
    _assert_same(out["local"], out["step"], keys)
    _assert_same(out["local"], out["layered"], keys)

    df, rows = out["local"]
    if isinstance(x, str):
        assert df.columns == keys + SLIM
    if not group:
        assert len(rows) == 1 and rows[0]["loglik"] is not None
        return
    by_g = {r["g"]: r for r in rows}
    assert set(by_g) == set(GROUPS)
    stats = [
        c for c in df.columns if c not in ("g", "n", "loglik", "dispersion")
    ]
    for g in ("a", "b", None):
        assert all(by_g[g][c] is not None for c in stats), g
    if isinstance(x, list) and "ridge_lambda" not in kw:
        # x2 identically 0: the information matrix is not PD, so the
        # Wald readout is NULL; the ridge diagonal makes it PD
        assert all(by_g["col"][c] is None for c in stats)
    # rows with a NULL covariate are dropped
    assert by_g["a"]["n"] == 70 - 8


@pytest.mark.parametrize("x", ["x1", ["x1", "x2"]], ids=["x", "x1_x2"])
def test_non_finite_value_takes_spark_path(glm_df, fit, x):
    """One infinite covariate: the local tier declines and the Spark
    path runs from the same cached frame, so the result equals the
    forced Spark path's."""
    bad = glm_df.filter("g = 'b'").limit(1).selectExpr(
        "g", "double('inf') AS x1", "x2", "yb", "yc", "expo",
    )
    df = glm_df.unionByName(bad)
    default = fit("local", "logistic", df, "g", x)
    assert default[2]["local"] == [False]
    spark_path = fit("layered", "logistic", df, "g", x)
    _assert_same(default[:2], spark_path[:2], ["g"])


def test_one_name_ridge_is_the_slim_list_fit(glm_df, fit):
    """A ridge penalty on one name needs no list: it returns the slim
    projection of the ``["x1"]`` fit."""
    slim, rows, _ = fit("local", "logistic", glm_df, "g", "x1",
                        ridge_lambda=0.5)
    _, wide, _ = fit("local", "logistic", glm_df, "g", ["x1"],
                     ridge_lambda=0.5)
    assert slim.columns == ["g"] + SLIM
    key = lambda r: (r["g"] is None, r["g"])  # noqa: E731
    for s, w in zip(sorted(rows, key=key), sorted(wide, key=key)):
        assert [s[c] for c in SLIM] == [
            w[c] for c in ("n", "intercept", "coef_x1", "se_x1", "z_x1",
                           "p_x1", "loglik", "dispersion")
        ]


def test_one_group_bound_probe_per_fit(glm_df, fit):
    """With the cell bound below the five groups' statistics, the driver
    solve misses once; the remaining rounds go straight to the layered
    plan instead of re-running the round for a discarded probe."""
    _, rows, seen = fit("step", "logistic", glm_df, "g", max_cells=1)
    assert seen["local"] == [] and seen["step"] == [False]
    assert len(seen["layers"]) == ITERS
    assert len(rows) == len(GROUPS)


@pytest.fixture(scope="module")
def null_key_df(spark):
    rng = np.random.RandomState(5)
    rows = []
    for i in range(120):
        x1, x2 = (float(np.round(rng.normal(), 3)) for _ in range(2))
        rows.append((
            "a" if i % 2 else None, x1, x2,
            float(rng.uniform() < 1 / (1 + math.exp(-x1))),
            float(rng.poisson(math.exp(0.3 * x1))),
        ))
    return spark.createDataFrame(
        rows, "g string, x1 double, x2 double, yb double, yc double",
    )


def _groups(frame):
    return sorted(
        (r["g"] for r in frame.collect()), key=lambda g: (g is not None, g),
    )


@pytest.mark.parametrize("x", ["x1", ["x1", "x2"]], ids=["x", "x1_x2"])
@pytest.mark.parametrize("family", ["logistic", "poisson"])
def test_null_key_is_a_group(null_key_df, family, x):
    """A NULL group key is its own group, as in the groupBy that seeds
    the coefficients (the key joins are null-safe)."""
    if family == "logistic":
        out = regression.logistic_fit(null_key_df, "yb", x, "g", iters=3)
    else:
        out = regression.poisson_fit(null_key_df, "yc", x, "g", iters=3)
    assert _groups(out) == [None, "a"]


def test_null_key_is_a_group_in_diag_em_and_lrt(null_key_df):
    df = null_key_df
    diag = regression.logistic_fit_diag(df, "yb", ["x1", "x2"], "g", iters=3)
    assert _groups(diag) == [None, "a"]
    em = regression.gmm1d_em(df, "x1", "g", iters=2)
    assert _groups(em) == [None, "a"]
    full = regression.logistic_fit(df, "yb", ["x1", "x2"], "g", iters=3)
    reduced = regression.logistic_fit(df, "yb", "x1", "g", iters=3)
    lrt = regression.glm_lrt(full, reduced, 1, "g")
    assert _groups(lrt) == [None, "a"]
    assert all(r["lrt_stat"] is not None for r in lrt.collect())


def test_null_key_is_a_group_in_ols_by_and_theil_sen(null_key_df):
    """ols_fit_by and theil_sen_fit keep the NULL-key group too."""
    df = null_key_df
    assert _groups(regression.ols_fit_by(df, "yc", ["x1", "x2"], "g")) == [
        None, "a",
    ]
    assert _groups(regression.theil_sen_fit(df, "x1", "yc", "g")) == [
        None, "a",
    ]
