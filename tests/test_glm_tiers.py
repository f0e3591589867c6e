"""Equivalence of the GLM IRLS fit's two Newton-step tiers.

- ``step``: each round's one-row-per-group sufficient stats collect to
  the driver and solve there (``linalg.newton_step_local``), the default
  while they fit ``io.LOCAL_MAX_CELLS``;
- ``layered``: the solve stays in-plan as the unrolled Cholesky layers
  (``LOCAL_MAX_CELLS = 0``).

Logistic and Poisson fits with two covariates run grouped and
ungrouped, with a ridge penalty and with a Poisson exposure, on data
holding a degenerate group (x2 identically 0, so the information
matrix is not PD), a group with one outcome class, a NULL group key and
rows with a NULL covariate.  The tiers must agree on schema, row count,
NULL placement and values (rel 1e-9), and spies on the tier entry
points assert which tier ran.  The NULL-key tests cover every GLM fit
whose key join used to drop a NULL-key group.
"""

import math

import numpy as np
import pytest

from woodwork_spark import io
from woodwork_spark.operators import linalg, regression

ITERS = 4
GROUPS = ("a", "b", None, "one", "col")


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
    seen = {"step": [], "layers": []}
    step, layers = linalg.newton_step_local, linalg.chol_solve_layers

    def spy_step(*a, **k):
        out = step(*a, **k)
        seen["step"].append(out is not None)
        return out

    def spy_layers(*a, **k):
        pref = k.get("pref", a[3] if len(a) > 3 else "__ch")
        if pref != "__se":  # the readout's inverse-diagonal solve
            seen["layers"].append(pref)
        return layers(*a, **k)

    monkeypatch.setattr(linalg, "newton_step_local", spy_step)
    monkeypatch.setattr(linalg, "chol_solve_layers", spy_layers)

    def run(tier, family, df, group, max_cells=None, **kw):
        for v in seen.values():
            v.clear()
        if max_cells is None:
            max_cells = 1_000_000 if tier == "step" else 0
        monkeypatch.setattr(io, "LOCAL_MAX_CELLS", max_cells)
        fn = (
            regression.logistic_fit if family == "logistic"
            else regression.poisson_fit
        )
        y = "yb" if family == "logistic" else "yc"
        out = fn(df, y, ["x1", "x2"], group, iters=ITERS, **kw)
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
    family, kw = CASES[case]
    out = {}
    for tier in ("step", "layered"):
        df, rows, seen = fit(tier, family, glm_df, group, **kw)
        out[tier] = (df, rows)
        if tier == "step":
            assert seen == {"step": [True] * ITERS, "layers": []}
        else:
            assert seen["step"] == [False]
            assert len(seen["layers"]) == ITERS
    keys = [group] if group else []
    _assert_same(out["step"], out["layered"], keys)

    df, rows = out["step"]
    if not group:
        assert len(rows) == 1 and rows[0]["loglik"] is not None
        return
    by_g = {r["g"]: r for r in rows}
    assert set(by_g) == set(GROUPS)
    stats = [c for c in df.columns if c.startswith(("coef_", "se_", "z_"))]
    for g in ("a", "b", None):
        assert all(by_g[g][c] is not None for c in stats), g
    if "ridge_lambda" not in kw:
        # x2 identically 0: the information matrix is not PD, so the
        # Wald readout is NULL; the ridge diagonal makes it PD
        assert all(by_g["col"][c] is None for c in stats)
    # rows with a NULL covariate are dropped
    assert by_g["a"]["n"] == 70 - 8


def test_one_group_bound_probe_per_fit(glm_df, fit):
    """With the cell bound below the five groups' statistics, the driver
    solve misses once; the remaining rounds go straight to the layered
    plan instead of re-running the round for a discarded probe."""
    _, rows, seen = fit("step", "logistic", glm_df, "g", max_cells=1)
    assert seen["step"] == [False]
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
