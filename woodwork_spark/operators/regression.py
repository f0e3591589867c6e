"""Distributed linear regression by normal equations.

``ols_fit`` turns regression into what Spark is best at — two map-side-
combinable aggregations — and leaves only a d x d solve on the driver:

1. one pass for the column means,
2. one pass for the CENTERED cross-moments (sum (x_i - m_i)(x_j - m_j)
   for i <= j, the x-y cross terms and the y sum of squares).

Centering before the moment pass is deliberate: raw-moment normal
equations (``S_xy - S_x S_y / n``) cancel catastrophically when feature
magnitudes dwarf their variance (timestamps, prices, ids), while the
centered gram is conditioned like the correlation matrix.  The cost is
one extra (cheap, single-row) aggregation.

Scale shape: both passes are single aggregations with
``(d + 1)(d + 2) / 2`` sum expressions — map-side partial aggregation
keeps shuffle bytes at one row per partition regardless of input size,
and the driver solve is d x d.  This is the right shape for the
feature counts regression is actually used with (d up to a few
hundred); for d in the thousands use the Arrow moment path in
``operators.embedding`` (tree-reduced d x d partials) and solve those.

No equivalent exists in the reference (woodwork profiles, it does not
model); this extends the engine the way its dependence/statistics
surface (reference ``statistics_utils/_get_dependence_dict.py``) treats
column relationships, one step further to a fitted model.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from woodwork_spark.operators.scale import local_rows_df
from woodwork_spark.operators.timeseries import _key_join, _local_key_codes

_MAX_AGG_FEATURES = 200


def ols_fit(
    df: DataFrame,
    y_col: str,
    x_cols,
    ridge_lambda: float = 0.0,
    inference: bool = False,
) -> DataFrame:
    """Ordinary least squares (optionally ridge) of ``y_col`` on
    ``x_cols`` with an intercept, fully distributed.

    ``ridge_lambda > 0`` adds L2 shrinkage on the slopes (never the
    intercept — the standard centered-ridge formulation).  Rows with a
    null y or any null x are excluded.

    Returns a ONE-ROW DataFrame: ``(n, intercept, coef_<x>..., r2)``.
    ``r2`` is computed against the centered total sum of squares; for
    ``ridge_lambda > 0`` it is the in-sample R² of the shrunk fit.
    Raises on: no surviving rows, more features than
    ``_MAX_AGG_FEATURES``, or a singular centered gram (perfectly
    collinear features) when ``ridge_lambda == 0``.

    ``inference=True`` (classical OLS only — raises with ridge) adds
    the Wald readout from the SAME two passes, no extra scan:
    ``sigma2 = SSE / (n - d - 1)``, slope variances from the inverse
    centered gram (``se_j = sqrt(sigma2 * (G^-1)_jj)``), intercept
    variance ``sigma2 * (1/n + m' G^-1 m)``, t statistics and their
    two-sided p through the shared A&S normal approximation (documented
    z-approx — exact for the n this engine targets; see
    ``stats_tests._std_normal_two_sided_p``).  Output gains
    ``se_intercept`` and per-covariate ``se_<x>, t_<x>, p_<x>`` plus
    ``df_resid``.  All NULL when ``n <= d + 1`` or the fit is exact.
    """
    import numpy as np

    x_cols = [x_cols] if isinstance(x_cols, str) else list(x_cols)
    if not x_cols:
        raise ValueError("ols_fit: x_cols must be non-empty")
    if len(x_cols) > _MAX_AGG_FEATURES:
        raise ValueError(
            f"ols_fit aggregates (d+1)(d+2)/2 sums in one pass — "
            f"capped at d={_MAX_AGG_FEATURES}, got {len(x_cols)}. For "
            "wide embeddings use operators.embedding.collect_moments "
            "(tree-reduced Arrow partials) and solve those.",
        )
    if ridge_lambda < 0:
        raise ValueError(f"ridge_lambda must be >= 0, got {ridge_lambda}")
    d = len(x_cols)
    cols = [F.col(c).cast("double").alias(f"__x{i}")
            for i, c in enumerate(x_cols)]
    notnull = F.col(y_col).isNotNull()
    for c in x_cols:
        notnull = notnull & F.col(c).isNotNull()
    base = df.filter(notnull).select(
        *cols, F.col(y_col).cast("double").alias("__y"),
    )
    means = base.agg(
        F.count(F.lit(1)).alias("n"),
        *[F.avg(f"__x{i}").alias(f"m{i}") for i in range(d)],
        F.avg("__y").alias("my"),
    ).collect()[0]
    n = means["n"]
    if n == 0:
        raise ValueError("ols_fit: no rows after null filtering")
    cx = [F.col(f"__x{i}") - F.lit(float(means[f"m{i}"])) for i in range(d)]
    cy = F.col("__y") - F.lit(float(means["my"]))
    exprs = []
    for i in range(d):
        for j in range(i, d):
            exprs.append(F.sum(cx[i] * cx[j]).alias(f"s_{i}_{j}"))
        exprs.append(F.sum(cx[i] * cy).alias(f"sy_{i}"))
    exprs.append(F.sum(cy * cy).alias("syy"))
    mom = base.agg(*exprs).collect()[0]
    g = np.zeros((d, d))
    for i in range(d):
        for j in range(i, d):
            g[i, j] = g[j, i] = mom[f"s_{i}_{j}"]
    c = np.array([mom[f"sy_{i}"] for i in range(d)])
    syy = float(mom["syy"])
    a = g + ridge_lambda * np.eye(d)
    try:
        b = np.linalg.solve(a, c)
    except np.linalg.LinAlgError:
        raise ValueError(
            "ols_fit: singular centered gram (collinear features) — "
            "drop a feature or set ridge_lambda > 0",
        )
    intercept = float(means["my"]) - float(
        np.dot(b, [means[f"m{i}"] for i in range(d)]),
    )
    # SSE = Syy - 2 b'c + b'Gb (exactly Syy - b'c at lambda = 0)
    sse = syy - 2.0 * float(np.dot(b, c)) + float(b @ g @ b)
    r2 = 1.0 - sse / syy if syy > 0 else None
    row = {"n": int(n), "intercept": intercept}
    for name, coef in zip(x_cols, b):
        row[f"coef_{name}"] = float(coef)
    row["r2"] = r2
    schema_cols = ["n long", "intercept double"] + [
        f"coef_{name} double" for name in x_cols
    ] + ["r2 double"]
    if inference:
        if ridge_lambda != 0.0:
            raise ValueError(
                "ols_fit: inference requires ridge_lambda == 0 — the "
                "classical Wald readout is not valid for shrunk "
                "coefficients",
            )
        dof = int(n) - d - 1
        ok = dof > 0 and sse > 0
        sigma2 = sse / dof if ok else None
        try:
            ginv = np.linalg.inv(g)
        except np.linalg.LinAlgError:
            ok = False
            ginv = None
        mvec = np.array([means[f"m{i}"] for i in range(d)])
        row["df_resid"] = dof if dof > 0 else None
        se0 = (
            math.sqrt(sigma2 * (1.0 / n + float(mvec @ ginv @ mvec)))
            if ok else None
        )
        row["se_intercept"] = se0
        schema_cols += ["df_resid long", "se_intercept double"]
        for j, name in enumerate(x_cols):
            se = math.sqrt(sigma2 * float(ginv[j, j])) if ok else None
            t = float(b[j]) / se if se else None
            row[f"se_{name}"] = se
            row[f"t_{name}"] = t
            row[f"p_{name}"] = (
                _norm_two_sided_p_scalar(t) if t is not None else None
            )
            schema_cols += [
                f"se_{name} double", f"t_{name} double",
                f"p_{name} double",
            ]
    spark = df.sparkSession
    return local_rows_df(spark, [row], schema=", ".join(schema_cols))


def _norm_two_sided_p_scalar(z: float) -> float:
    """Driver-side scalar twin of ``stats_tests._std_normal_two_sided_p``
    — the SAME A&S 7.1.26 polynomial, so driver-computed p-values and
    SQL-replayed ones agree to the approximation's own precision."""
    x = abs(z) / math.sqrt(2.0)
    t = 1.0 / (1.0 + 0.3275911 * x)
    poly = (
        0.254829592 * t
        - 0.284496736 * t * t
        + 1.421413741 * t * t * t
        - 1.453152027 * t * t * t * t
        + 1.061405429 * t * t * t * t * t
    )
    return min(1.0, max(0.0, poly * math.exp(-x * x)))


def _glm_fit_local(pdf, group_cols, fields, k, iters, family, lam):
    """Whole-fit driver-local twin of :func:`_glm_irls_fit`'s Spark path
    over the collected ``base`` rows (no NULL, NaN or inf among y, x and
    the offset): every Newton round and the readout in numpy, the same
    formulas per group.  Returns the output rows, or None when the fit
    must run on the Spark path: a key type :func:`_local_key_codes`
    does not take, or any non-finite intermediate (the Spark path's
    NaN/NULL expression semantics are not mimicked here)."""
    import math

    import numpy as np

    from woodwork_spark.operators.linalg import (
        inverse_diagonal_local,
        newton_update_local,
    )
    from woodwork_spark.operators.stats_tests import (
        _std_normal_two_sided_p_local,
    )

    grp = _local_key_codes(pdf, group_cols, fields)
    if grp is None:
        return None
    gid, keys = grp
    G, d = len(keys), k + 1
    y = pdf["__y"].to_numpy(dtype=np.float64)
    X = np.column_stack([
        np.ones(len(y)),
        pdf[[f"__x{j}" for j in range(1, d)]].to_numpy(dtype=np.float64),
    ])
    off = pdf["__off"].to_numpy(dtype=np.float64) if "__off" in pdf else None
    n = np.bincount(gid, minlength=G)
    pairs = [(i, j) for i in range(d) for j in range(i + 1)]

    def group_sum(v):
        return np.bincount(gid, weights=v, minlength=G)

    def fold(b):
        """(eta, mu, w) per row and the penalized score and information
        per group at coefficients b, or None if any is non-finite."""
        br = b[gid]
        eta = br[:, 0]
        for j in range(1, d):
            eta = eta + br[:, j] * X[:, j]
        if off is not None:
            eta = eta + off
        if family == "logistic":
            clamped = np.minimum(30.0, np.maximum(-30.0, eta))
            mu = 1.0 / (1.0 + np.exp(-clamped))
            w = mu * (1.0 - mu)
        else:
            mu = w = np.exp(np.minimum(700.0, eta))
        u = np.column_stack([group_sum(X[:, j] * (y - mu)) for j in range(d)])
        a = {(i, j): group_sum(X[:, i] * X[:, j] * w) for i, j in pairs}
        if lam:
            u[:, 1:] = u[:, 1:] - lam * b[:, 1:]
            for j in range(1, d):
                a[(j, j)] = a[(j, j)] + lam
        if not all(np.isfinite(v).all() for v in [u, *a.values()]):
            return None
        return eta, mu, w, u.tolist(), {ij: v.tolist() for ij, v in a.items()}

    b = np.zeros((G, d))
    with np.errstate(all="ignore"):
        for _ in range(int(iters)):
            f = fold(b)
            if f is None:
                return None
            b = np.array(newton_update_local(d, f[4], f[3], b.tolist()))
            if not np.isfinite(b).all():
                return None
        f = fold(b)
        if f is None:
            return None
        eta, mu, w, _, a = f
        if family == "logistic":
            ll = group_sum(y * np.log(mu) + (1.0 - y) * np.log(1.0 - mu))
        else:
            ll = group_sum(y * eta - mu)
        # the Spark path's w > 0 guard: its sum skips the NULLed rows,
        # and a group with none left sums to NULL
        pos = w > 0
        px2 = group_sum(np.where(pos, (y - mu) * (y - mu) / w, 0.0))
        npos = np.bincount(gid[pos], minlength=G)
    if not (np.isfinite(ll).all() and np.isfinite(px2).all()):
        return None
    inv = inverse_diagonal_local(d, a, G)
    rows = []
    for g in range(G):
        stats, disp = [None] * (2 + 4 * k), None
        if inv[g] is not None:
            if not all(v > 0 for v in inv[g]):
                return None
            ses = [math.sqrt(v) for v in inv[g]]
            stats[:2] = [float(b[g, 0]), ses[0]]
            for j in range(1, d):
                bj = float(b[g, j])
                z = bj / ses[j]
                if not math.isfinite(z):
                    return None
                stats[4 * j - 2:4 * j + 2] = [
                    bj, ses[j], z, _std_normal_two_sided_p_local(z),
                ]
            if n[g] > d and npos[g]:
                disp = float(px2[g]) / (float(n[g]) - float(d))
        rows.append(keys[g] + (int(n[g]), *stats, float(ll[g]), disp))
    return rows


def _glm_irls_fit(
    df: DataFrame,
    y_col: str,
    x_cols,
    group_cols,
    iters: int,
    family: str,
    exposure_col: str = None,
    ridge_lambda: float = 0.0,
) -> DataFrame:
    """The GLM engine behind :func:`logistic_fit` and
    :func:`poisson_fit`: ``iters`` Newton (IRLS) rounds from b = 0 per
    group.  Each round folds the d-vector score ``U_j = sum x_j (y -
    mu)`` and the d(d+1)/2 lower-triangle entries of the Fisher
    information ``A_ij = sum x_i x_j w`` (d = k + 1, ``x_0 = 1``) and
    solves ``A s = U`` by Cholesky.  Ridge (``ridge_lambda > 0``) adds
    ``lam`` to the slope diagonal of A and subtracts ``lam b`` from the
    slope scores, never the intercept's.  Logistic eta is clamped to
    [-30, 30], Poisson eta to <= 700, and ``exposure_col`` adds the
    offset ``ln(exposure)``.

    The positive-definite guard (every Cholesky pivot > 0, Sylvester's
    criterion) keeps a group's previous coefficients when its design
    goes degenerate for a round, and NULLs the readout when the FINAL
    information is not PD.

    The three execution tiers of
    :func:`~woodwork_spark.operators.timeseries.cox_ph_fit`: the whole
    fit in numpy (:func:`_glm_fit_local`) when ``base`` fits
    :data:`~woodwork_spark.io.LOCAL_MAX_CELLS` through one
    :func:`~woodwork_spark.io.collect_bounded`; else Spark rounds from
    the cached ``base``, each stepping through
    :func:`~woodwork_spark.operators.linalg.newton_step` (a driver solve
    while the group stats fit the same bound, else in-plan layers).

    Returns ``(group_cols..., n, intercept, se_intercept, coef_<x>,
    se_<x>, z_<x>, p_<x> per covariate..., loglik, dispersion)``.  Wald
    standard errors come from the inverse-information diagonal (with
    ridge, of the same penalized information the steps solved), p from
    the shared A&S normal polynomial, and dispersion is Pearson X^2 /
    (n - d) over the rows with w > 0, NULL unless n > d (>> 1 flags
    overdispersion: the Wald se is then optimistic by about
    sqrt(dispersion)).  A NULL group
    key is its own group.  All three tiers return the same schema and
    NULL gating.
    """
    from pyspark.sql import types as T

    from woodwork_spark.io import collect_bounded
    from woodwork_spark.lifecycle import attach_persisted
    from woodwork_spark.operators.linalg import (
        apply_layers,
        chol_solve_layers,
        newton_step,
        pd_ok,
    )
    from woodwork_spark.operators.stats_tests import (
        _std_normal_two_sided_p,
    )

    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    if family not in ("logistic", "poisson"):
        raise ValueError(f"unknown family {family!r}")
    x_cols = list(x_cols)
    if not x_cols or len(set(x_cols)) != len(x_cols):
        raise ValueError("x_cols must be a non-empty list of unique names")
    d = len(x_cols) + 1
    group_cols = (
        [group_cols] if isinstance(group_cols, str) else list(group_cols)
    )
    if exposure_col is not None and family != "poisson":
        raise ValueError("exposure_col is a Poisson-rate concept")
    if ridge_lambda < 0:
        raise ValueError("ridge_lambda must be >= 0")
    cond = F.col(y_col).isNotNull()
    for c in x_cols:
        cond = cond & F.col(c).isNotNull()
    off_cols = []
    if exposure_col is not None:
        cond = cond & (F.col(exposure_col) > 0)
        off_cols = [
            F.log(F.col(exposure_col).cast("double")).alias("__off"),
        ]
    # persisted: the bounded collect and, above the bound, every Newton
    # round (and its eager checkpoint) re-read this frame
    base = df.filter(cond).select(
        *group_cols,
        F.col(y_col).cast("double").alias("__y"),
        *[
            F.col(c).cast("double").alias(f"__x{j + 1}")
            for j, c in enumerate(x_cols)
        ],
        *off_cols,
    ).persist()
    lam = float(ridge_lambda)
    pdf = collect_bounded(base)
    rows = None
    # an empty input stays on the Spark path, whose ungrouped global
    # aggregate yields one row
    if pdf is not None and len(pdf):
        rows = _glm_fit_local(
            pdf, group_cols, base.schema, len(x_cols), iters, family, lam,
        )
    if rows is not None:
        names = ["intercept", "se_intercept"] + [
            f"{s}_{name}" for name in x_cols for s in ("coef", "se", "z", "p")
        ] + ["loglik", "dispersion"]
        schema = T.StructType(
            [base.schema[g] for g in group_cols]
            + [T.StructField("n", T.LongType(), False)]
            + [T.StructField(c, T.DoubleType()) for c in names],
        )
        base.unpersist()
        return local_rows_df(df.sparkSession, rows, schema)

    xs = [F.lit(1.0)] + [F.col(f"__x{j}") for j in range(1, d)]
    bnames = [f"__b{j}" for j in range(d)]
    u_names = [f"__u{j}" for j in range(d)]

    def a_name(i, j):
        return f"__a_{i}_{j}"

    def _with_mu(coef):
        """``base`` joined to the coefficients, with eta and mu factored
        through NAMED projections (the logistic_fit_diag/bootstrap
        convention): the mu tree would otherwise inline into every one
        of the d + d(d+1)/2 sufficient-stat aggregates.  CollapseProject
        keeps multi-use non-cheap projections, so the layering survives
        optimization."""
        cur = (
            _key_join(base, coef, group_cols, broadcast=True) if group_cols
            else base.crossJoin(F.broadcast(coef))
        )
        eta = F.col("__b0")
        for j in range(1, d):
            eta = eta + F.col(f"__b{j}") * F.col(f"__x{j}")
        if exposure_col is not None:
            eta = eta + F.col("__off")
        cur = cur.select("*", eta.alias("__eta"))
        eta = F.col("__eta")
        if family == "logistic":
            eta = F.least(F.lit(30.0), F.greatest(F.lit(-30.0), eta))
            mu = F.lit(1.0) / (F.lit(1.0) + F.exp(-eta))
        else:
            mu = F.exp(F.least(F.lit(700.0), eta))
        return cur.select("*", mu.alias("__mu"))

    mu = F.col("__mu")
    w = mu * (F.lit(1.0) - mu) if family == "logistic" else mu
    suff_aggs = [
        F.sum(xs[j] * (F.col("__y") - mu)).alias(u_names[j])
        for j in range(d)
    ] + [
        F.sum(xs[i] * xs[j] * w).alias(a_name(i, j))
        for i in range(d) for j in range(i + 1)
    ]

    def _ridge(frame, score):
        """Ridge: ``A + lam`` on the SLOPE diagonal (never the
        intercept), and with ``score`` also ``U - lam b`` on the slopes
        — the standard penalized Newton step, so complete separation
        stays finite without clamps.  The readout takes the same
        penalized information: the raw A at the converged beta is
        near-singular in exactly the separation cases ridge exists
        for."""
        if not lam:
            return frame
        rep = {a_name(j, j): F.col(a_name(j, j)) + F.lit(lam)
               for j in range(1, d)}
        if score:
            rep.update({
                u_names[j]: F.col(u_names[j]) - F.lit(lam) * F.col(bnames[j])
                for j in range(1, d)
            })
        return frame.withColumns(rep)

    coef = base.groupBy(*group_cols).agg(
        *[F.lit(0.0).alias(b) for b in bnames],
    )
    # tiers 2 and 3: the aggregates stay distributed, newton_step picks
    # where each round's solve runs
    local = True
    for it in range(int(iters)):
        step = _ridge(_with_mu(coef).groupBy(*group_cols).agg(
            *[F.max(b).alias(b) for b in bnames], *suff_aggs,
        ), score=True)
        coef, local = newton_step(
            step, group_cols, bnames, a_name, u_names, f"__it{it}", local,
        )
    # final readout at the converged coefficients
    if family == "logistic":
        ll = F.col("__y") * F.log(mu) + (
            F.lit(1.0) - F.col("__y")
        ) * F.log(F.lit(1.0) - mu)
    else:
        ll = F.col("__y") * F.col("__eta") - mu
    # w > 0 guard: a Poisson row whose eta underflows (~ -745 on
    # ill-scaled covariates) has mu = w = 0.0 exactly; dividing gives
    # Inf/NaN and poisons the whole group's dispersion.  Skip such
    # rows (sum ignores NULL) so dispersion degrades gracefully.
    resid2 = F.when(
        w > 0, (F.col("__y") - mu) * (F.col("__y") - mu) / w,
    )
    out = _ridge(_with_mu(coef).groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n"),
        *[F.max(b).alias(b) for b in bnames],
        *suff_aggs,
        F.sum(ll).alias("loglik"),
        F.sum(resid2).alias("__px2"),
    ), score=False)
    # one factorization, d unit-vector solves -> inverse diagonal
    rhs = {
        f"e{j}": [1.0 if m == j else 0.0 for m in range(d)]
        for j in range(d)
    }
    layers, sol, piv = chol_solve_layers(d, a_name, rhs, pref="__se")
    solved = apply_layers(out, layers)
    ok = pd_ok(piv)
    ses = [F.sqrt(F.col(sol[f"e{j}"][j])) for j in range(d)]
    cols = [
        F.col("n").cast("long").alias("n"),
        F.when(ok, F.col("__b0")).alias("intercept"),
        F.when(ok, ses[0]).alias("se_intercept"),
    ]
    for j, name in enumerate(x_cols):
        b = F.col(f"__b{j + 1}")
        z = b / ses[j + 1]
        cols += [
            F.when(ok, b).alias(f"coef_{name}"),
            F.when(ok, ses[j + 1]).alias(f"se_{name}"),
            F.when(ok, z).alias(f"z_{name}"),
            F.when(ok, _std_normal_two_sided_p(z)).alias(f"p_{name}"),
        ]
    disp = F.col("__px2") / (F.col("n").cast("double") - F.lit(float(d)))
    cols += [
        F.col("loglik"),
        F.when(ok & (F.col("n") > d), disp).alias("dispersion"),
    ]
    return attach_persisted(solved.select(*group_cols, *cols), base)


def _glm_fit(df, y_col, x_col, group_cols, iters, family, **kw):
    """:func:`_glm_irls_fit` for a list of names; for one name, the
    ``[x_col]`` fit projected to the slim schema ``(group_cols..., n,
    intercept, slope, se_slope, z_stat, p_approx, loglik,
    dispersion)``."""
    from woodwork_spark.lifecycle import attach_persisted, persisted_frames

    if isinstance(x_col, (list, tuple)):
        return _glm_irls_fit(df, y_col, x_col, group_cols, iters, family,
                             **kw)
    out = _glm_irls_fit(df, y_col, [x_col], group_cols, iters, family, **kw)
    keys = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    slim = out.select(
        *keys, "n", "intercept",
        *[
            F.col(f"{s}_{x_col}").alias(name) for s, name in (
                ("coef", "slope"), ("se", "se_slope"), ("z", "z_stat"),
                ("p", "p_approx"),
            )
        ],
        "loglik", "dispersion",
    )
    # the rename select would otherwise drop the fit's persisted base
    return attach_persisted(slim, *persisted_frames(out))


def logistic_fit(
    df: DataFrame,
    y_col: str,
    x_col,
    group_cols=(),
    iters: int = 6,
    ridge_lambda: float = 0.0,
) -> DataFrame:
    """Logistic regression of a binary outcome on one or more covariates
    with an intercept, per group: ``iters`` Newton rounds of
    :func:`_glm_irls_fit`, whole on the driver while the input fits
    :data:`~woodwork_spark.io.LOCAL_MAX_CELLS`, else distributed.

    ``x_col`` may be a single column name (returns ``(group_cols..., n,
    intercept, slope, se_slope, z_stat, p_approx, loglik,
    dispersion)``) or a LIST of names (returns the wide per-covariate
    schema of :func:`_glm_irls_fit`).

    ``ridge_lambda > 0`` penalizes the SLOPES with L2 in every Newton
    step (``A + lam I`` on slope rows, ``U - lam b``), the standard fix
    that keeps completely-separated data finite; the Wald readout then
    describes the penalized fit."""
    return _glm_fit(df, y_col, x_col, group_cols, iters, "logistic",
                    ridge_lambda=ridge_lambda)


def _balanced_fold(exprs, op):
    """Fold a list of column expressions with ``op`` as a BALANCED
    binary tree (depth log2 n) instead of a left-leaning chain (depth
    n): Catalyst analysis walks expression trees recursively, and a
    256-term chained sum overflows the JVM stack before the plan even
    resolves.  Semantics identical for the associative ops used here
    (+, &)."""
    items = list(exprs)
    if not items:
        raise ValueError("empty fold")
    while len(items) > 1:
        nxt = [op(a, b) for a, b in zip(items[0::2], items[1::2])]
        if len(items) % 2:
            nxt.append(items[-1])
        items = nxt
    return items[0]


def logistic_fit_diag(
    df: DataFrame,
    y_col: str,
    x_cols,
    group_cols=(),
    iters: int = 24,
    ridge_lambda: float = 1.0,
    damping: float = 1.0,
) -> DataFrame:
    """WIDE logistic regression (hundreds of covariates) per group via
    diagonal-scaled IRLS — the scale path past :func:`_glm_irls_fit`'s
    unrolled-Cholesky ceiling (~32 covariates): each round folds only
    the d-vector score ``U_j = sum x_j (y - mu)`` and the INFORMATION
    DIAGONAL ``D_j = sum x_j^2 w`` — O(d) aggregate state instead of
    O(d^2) — then steps ``b_j += damping * (U_j - lam b_j) / (D_j +
    lam)`` (Jacobi-scaled Newton; lam never touches the intercept).

    ARRAY-NATIVE plan shape: coefficients, covariates and the per-row
    score/diagonal contributions travel as single ``array<double>`` /
    ml-Vector columns, and the cross-row elementwise sums run through
    ``pyspark.ml.stat.Summarizer`` (JVM vector aggregate with map-side
    partials) — so plan size and Catalyst analysis time are O(1) in d
    (the first cut carried d wide columns and 2d sum expressions per
    round; at d = 255 ANALYSIS alone took ~35 s/round and duplicated
    eta into every aggregate).  Same broadcast-coefficient join and
    per-round eager ``localCheckpoint`` cadence as the exact engine.

    Covariates are MEAN-CENTERED per group before the loop (one extra
    up-front aggregate + broadcast join): centering orthogonalizes the
    intercept against the slopes, which is what makes the diagonal
    approximation converge on share-style features whose means are far
    from zero; the readout un-centers the intercept exactly
    (``b0 - sum_j b_j mean_j``), so coefficients are in the ORIGINAL
    feature space and :func:`glm_predict` applies unchanged.

    Trade versus the exact engine, stated honestly: no Wald standard
    errors (the inverse-information diagonal needs the full matrix),
    and more rounds to converge (diagonal steps ignore cross-coupling
    — default 24 vs Newton's 6).  ``ridge_lambda`` defaults to 1.0
    because wide hashed designs are near-separable almost by
    construction.  Returns ``(group_cols..., n, intercept,
    coef_<x>..., loglik)``.
    """
    from pyspark.ml.functions import array_to_vector, vector_to_array
    from pyspark.ml.stat import Summarizer

    from woodwork_spark.lifecycle import attach_persisted

    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    if ridge_lambda < 0:
        raise ValueError("ridge_lambda must be >= 0")
    if not 0 < damping <= 1:
        raise ValueError("damping must be in (0, 1]")
    x_cols = list(x_cols)
    if not x_cols or len(set(x_cols)) != len(x_cols):
        raise ValueError("x_cols must be a non-empty list of unique names")
    group_cols = (
        [group_cols] if isinstance(group_cols, str) else list(group_cols)
    )
    d = len(x_cols)
    lam = float(ridge_lambda)
    damp = float(damping)
    cond = _balanced_fold(
        [F.col(y_col).isNotNull()]
        + [F.col(c).isNotNull() for c in x_cols],
        lambda a, b: a & b,
    )
    raw = df.filter(cond).select(
        *group_cols,
        F.col(y_col).cast("double").alias("__y"),
        F.array(
            *[F.col(c).cast("double") for c in x_cols]
        ).alias("__xv"),
    )
    # group-sized mean frame (kept for the readout un-centering);
    # checkpointed so neither the loop nor the readout re-derives it
    means = (
        raw.withColumn("__xvec", array_to_vector("__xv"))
        .groupBy(*group_cols)
        .agg(
            F.count(F.lit(1)).alias("__n"),
            Summarizer.mean(F.col("__xvec")).alias("__mvec"),
        )
        .select(
            *group_cols, "__n",
            vector_to_array(F.col("__mvec")).alias("__mv"),
        )
        .localCheckpoint(eager=True)
    )
    joined0 = (
        _key_join(raw, means, group_cols, broadcast=True)
        if group_cols else raw.crossJoin(F.broadcast(means))
    )
    # centered base frame: persisted once, re-read every round
    base = joined0.select(
        *group_cols,
        "__y",
        F.zip_with(
            F.col("__xv"), F.col("__mv"), lambda x, m: x - m,
        ).alias("__cv"),
    ).persist()

    def _joined(coef):
        if group_cols:
            return _key_join(base, coef, group_cols, broadcast=True)
        return base.crossJoin(F.broadcast(coef))

    def _with_mu(frame):
        """eta = b0 + slopes . cv as ONE fold expression, clamped; mu
        projected as a named column so downstream aggregates reference
        a leaf, never a copy of the dot-product tree."""
        eta = F.element_at(F.col("__bv"), 1) + F.aggregate(
            F.zip_with(
                F.col("__cv"),
                F.slice(F.col("__bv"), 2, d),
                lambda x, b: x * b,
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        eta = F.least(F.lit(30.0), F.greatest(F.lit(-30.0), eta))
        return frame.withColumn(
            "__mu", F.lit(1.0) / (F.lit(1.0) + F.exp(-eta)),
        )

    coef = means.select(
        *group_cols,
        F.expr(f"array_repeat(0.0d, {d + 1})").alias("__bv"),
    )
    # Small-d fast path: below ~16 covariates the per-round sums run
    # as plain codegen column aggregates (2d + 2 buffers — no ml-Vector
    # conversion round trips, measured ~2x faster per round); the
    # array + Summarizer path takes over where O(d) wide aggregates
    # would bloat the plan.  The Jacobi update expression is SHARED, so
    # both paths are the same algorithm by construction.
    small_d = d + 1 <= 16
    for _ in range(int(iters)):
        cur = _with_mu(_joined(coef))
        r = F.col("__y") - F.col("__mu")
        w = F.col("__mu") * (F.lit(1.0) - F.col("__mu"))
        if small_d:
            el = [F.lit(1.0)] + [
                F.element_at(F.col("__cv"), j + 1) for j in range(d)
            ]
            step = cur.groupBy(*group_cols).agg(
                F.first("__bv").alias("bv"),
                *[
                    F.sum(el[j] * r).alias(f"__u{j}")
                    for j in range(d + 1)
                ],
                *[
                    F.sum(el[j] * el[j] * w).alias(f"__w{j}")
                    for j in range(d + 1)
                ],
            ).select(
                *group_cols, "bv",
                F.array(
                    *[F.col(f"__u{j}") for j in range(d + 1)],
                ).alias("uv"),
                F.array(
                    *[F.col(f"__w{j}") for j in range(d + 1)],
                ).alias("dv"),
            )
        else:
            # score and diagonal contributions as vectors: index 0 is
            # the intercept (x_0 = 1), 1..d the centered covariates
            vec = cur.select(
                *group_cols,
                F.col("__bv"),
                array_to_vector(
                    F.concat(
                        F.array(r),
                        F.transform(F.col("__cv"), lambda x: x * r),
                    ),
                ).alias("__ucv"),
                array_to_vector(
                    F.concat(
                        F.array(w),
                        F.transform(F.col("__cv"), lambda x: x * x * w),
                    ),
                ).alias("__dcv"),
            )
            step = vec.groupBy(*group_cols).agg(
                F.first("__bv").alias("bv"),
                Summarizer.sum(F.col("__ucv")).alias("__usum"),
                Summarizer.sum(F.col("__dcv")).alias("__dsum"),
            ).select(
                *group_cols, "bv",
                vector_to_array(F.col("__usum")).alias("uv"),
                vector_to_array(F.col("__dsum")).alias("dv"),
            )
        # elementwise Jacobi step over the zipped (b, U, D) triples;
        # the 2-arg transform lambda receives (element, index)
        upd = F.expr(
            "transform(arrays_zip(bv, uv, dv), (s, i) -> CASE "
            "WHEN i = 0 THEN IF(s.dv > 0d, "
            f"s.bv + {damp}d * s.uv / s.dv, s.bv) "
            f"WHEN s.dv + {lam}d > 0d THEN s.bv + {damp}d "
            f"* (s.uv - {lam}d * s.bv) / (s.dv + {lam}d) "
            "ELSE s.bv END)",
        )
        coef = step.select(*group_cols, upd.alias("__bv"))
        # eager checkpoint of the GROUP-sized coefficient frame per
        # round — the bradley_terry convention: without it each round's
        # plan embeds the previous one and Catalyst analysis time grows
        # superlinearly in iters
        coef = coef.localCheckpoint(eager=True)
    # readout: n + loglik at the final beta, intercept un-centered
    fin = _with_mu(_joined(coef))
    mu = F.col("__mu")
    ll = F.col("__y") * F.log(mu) + (
        F.lit(1.0) - F.col("__y")
    ) * F.log(F.lit(1.0) - mu)
    out = fin.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n"),
        F.first("__bv").alias("__bv"),
        F.sum(ll).alias("loglik"),
    )
    withm = (
        _key_join(out, means.drop("__n"), group_cols, broadcast=True)
        if group_cols else out.crossJoin(F.broadcast(means.drop("__n")))
    )
    raw_b0 = F.element_at(F.col("__bv"), 1) - F.aggregate(
        F.zip_with(
            F.slice(F.col("__bv"), 2, d),
            F.col("__mv"),
            lambda b, m: b * m,
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    res = withm.select(
        *group_cols,
        F.col("n").cast("long").alias("n"),
        raw_b0.alias("intercept"),
        *[
            F.element_at(F.col("__bv"), j + 2).alias(f"coef_{x_cols[j]}")
            for j in range(d)
        ],
        F.col("loglik"),
    )
    return attach_persisted(res, base)


def poisson_fit(
    df: DataFrame,
    y_col: str,
    x_col,
    group_cols=(),
    iters: int = 6,
    exposure_col: str = None,
) -> DataFrame:
    """Poisson (log-link) regression of a count outcome on one or more
    covariates with an intercept, per group: the same engine and the
    same name-or-list schemas as :func:`logistic_fit`.  loglik omits
    the coefficient-free ln(y!) term.

    ``exposure_col`` turns the count model into a RATE model: the
    classic offset formulation ``eta = b'x + ln(exposure)`` (counts
    per observed hour/page/session); rows with null or non-positive
    exposure are excluded."""
    return _glm_fit(df, y_col, x_col, group_cols, iters, "poisson",
                    exposure_col=exposure_col)


def theil_sen_fit(
    df: DataFrame,
    x_col: str,
    y_col: str,
    group_cols=(),
    max_points: int = 20000,
) -> DataFrame:
    """Theil-Sen robust simple regression per group: slope = median of
    all pairwise slopes (x_i != x_j), intercept = median of
    ``y - slope * x`` — up to ~29%% breakdown vs OLS's 0%%, the standard
    robust trend estimator for series with outliers.

    The pairwise set is a per-group self-join (row-number inequality
    keeps each unordered pair once), so cost is O(n^2) PER GROUP —
    right for AGGREGATED series (the only kind a trend estimate is
    meaningful on), wrong for raw events; ``max_points`` fails fast
    (one cheap count) rather than letting a 1e6-row group explode into
    1e12 pairs.  Medians are exact ``percentile`` aggregates
    (``quantile_cont`` in SQL replays).

    Returns ``(group_cols..., n, n_pairs, slope, intercept)``; groups
    with < 2 distinct x yield NULL slope.  A NULL group key is its own
    group.
    """
    group_cols = (
        [group_cols] if isinstance(group_cols, str) else list(group_cols)
    )
    base = df.filter(
        F.col(x_col).isNotNull() & F.col(y_col).isNotNull(),
    ).select(
        *group_cols,
        F.col(x_col).cast("double").alias("__x"),
        F.col(y_col).cast("double").alias("__y"),
    )
    biggest = (
        base.groupBy(*group_cols).count().agg(F.max("count")).collect()[0][0]
        if group_cols
        else base.count()
    )
    if biggest and biggest > max_points:
        raise ValueError(
            f"theil_sen_fit: largest group has {biggest} rows -> "
            f"{biggest * (biggest - 1) // 2} pairs; aggregate the series "
            f"first or raise max_points (now {max_points})",
        )
    from pyspark.sql import Window as W

    part = (
        W.partitionBy(*group_cols) if group_cols else W.partitionBy(F.lit(1))
    )
    rn = base.withColumn(
        "__rn", F.row_number().over(part.orderBy("__x", "__y")),
    )
    left = rn.select(
        *group_cols, F.col("__x").alias("__xa"),
        F.col("__y").alias("__ya"), F.col("__rn").alias("__ra"),
    )
    right = rn.select(
        *group_cols, F.col("__x").alias("__xb"),
        F.col("__y").alias("__yb"), F.col("__rn").alias("__rb"),
    )
    on = [
        F.col(f"l.{c}").eqNullSafe(F.col(f"r.{c}")) for c in group_cols
    ] or [F.lit(True)]
    pairs = (
        left.alias("l")
        .join(right.alias("r"),
              on + [F.col("l.__ra") < F.col("r.__rb")])
        .filter(F.col("l.__xa") != F.col("r.__xb"))
        .select(
            *[F.col(f"l.{c}") for c in group_cols],
            (
                (F.col("r.__yb") - F.col("l.__ya"))
                / (F.col("r.__xb") - F.col("l.__xa"))
            ).alias("__s"),
        )
    )
    med_slope = pairs.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.expr("percentile(__s, 0.5)").alias("slope"),
    )
    if group_cols:
        j = _key_join(base, med_slope, group_cols, broadcast=True)
    else:
        j = base.crossJoin(F.broadcast(med_slope))
    out = j.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n"),
        F.max("n_pairs").alias("n_pairs"),
        F.max("slope").alias("slope"),
        F.expr(
            "percentile(__y - slope * __x, 0.5)",
        ).alias("intercept"),
    )
    return out.select(
        *group_cols,
        F.col("n").cast("long").alias("n"),
        F.col("n_pairs").cast("long").alias("n_pairs"),
        "slope", "intercept",
    )


def gmm1d_em(
    df: DataFrame,
    value_col: str,
    group_cols=(),
    iters: int = 5,
) -> DataFrame:
    """Two-component 1-D Gaussian mixture per group via ``iters``
    unrolled EM rounds — the distribution-decomposition member of the
    EM family (:func:`~woodwork_spark.operators.dedup.estimate_m_u` is
    the record-linkage one).

    Initialization is deterministic and engine-replayable: component
    means at the exact 25th/75th percentiles, both variances at half
    the group variance, equal weights.  Each round is pure column
    algebra: the E-step responsibility is a per-row expression of the
    current 6 parameters, the M-step ONE aggregate of (r, r*x, r*x^2)
    per component — variances via E[x^2] - mean^2, which is safe here
    because callers standardize (the headline query feeds z-scores; the
    docstring contract, as with jarque_bera, is that raw money-scale
    columns must be centered first).  The 6-parameter frame (one row
    per group) broadcasts into the next round.  Components are emitted
    with mu1 <= mu2 (a final conditional swap) so label order is
    deterministic.

    Returns ``(group_cols..., n, pi1, mu1, sigma1, mu2, sigma2,
    loglik)``.
    """
    group_cols = (
        [group_cols] if isinstance(group_cols, str) else list(group_cols)
    )
    base = df.filter(F.col(value_col).isNotNull()).select(
        *group_cols, F.col(value_col).cast("double").alias("__v"),
    )
    state = base.groupBy(*group_cols).agg(
        F.lit(0.5).alias("__pi1"),
        F.expr("percentile(__v, 0.25)").alias("__mu1"),
        F.expr("percentile(__v, 0.75)").alias("__mu2"),
        (F.var_pop("__v") / 2.0 + F.lit(1e-12)).alias("__s1"),
        (F.var_pop("__v") / 2.0 + F.lit(1e-12)).alias("__s2"),
    )

    def _joined(st):
        if group_cols:
            return _key_join(base, st, group_cols, broadcast=True)
        return base.crossJoin(F.broadcast(st))

    def _pdf(mu, var):
        z = (F.col("__v") - mu) * (F.col("__v") - mu) / var
        return F.exp(F.lit(-0.5) * z) / F.sqrt(
            F.lit(2.0 * 3.141592653589793) * var,
        )

    for _ in range(int(iters)):
        cur = _joined(state)
        p1 = F.col("__pi1") * _pdf(F.col("__mu1"), F.col("__s1"))
        p2 = (F.lit(1.0) - F.col("__pi1")) * _pdf(
            F.col("__mu2"), F.col("__s2"),
        )
        r = p1 / (p1 + p2)
        v = F.col("__v")
        agg = cur.groupBy(*group_cols).agg(
            F.count(F.lit(1)).alias("__n"),
            F.sum(r).alias("__r1"),
            F.sum(r * v).alias("__rx1"),
            F.sum(r * v * v).alias("__rxx1"),
            F.sum((F.lit(1.0) - r) * v).alias("__rx2"),
            F.sum((F.lit(1.0) - r) * v * v).alias("__rxx2"),
        )
        n = F.col("__n").cast("double")
        r2 = n - F.col("__r1")
        mu1 = F.col("__rx1") / F.col("__r1")
        mu2 = F.col("__rx2") / r2
        state = agg.select(
            *group_cols,
            (F.col("__r1") / n).alias("__pi1"),
            mu1.alias("__mu1"),
            mu2.alias("__mu2"),
            F.greatest(
                F.col("__rxx1") / F.col("__r1") - mu1 * mu1, F.lit(1e-12),
            ).alias("__s1"),
            F.greatest(
                F.col("__rxx2") / r2 - mu2 * mu2, F.lit(1e-12),
            ).alias("__s2"),
        )
    fin = _joined(state)
    p1 = F.col("__pi1") * _pdf(F.col("__mu1"), F.col("__s1"))
    p2 = (F.lit(1.0) - F.col("__pi1")) * _pdf(F.col("__mu2"), F.col("__s2"))
    out = fin.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n"),
        F.max("__pi1").alias("__pi1"),
        F.max("__mu1").alias("__mu1"),
        F.max("__mu2").alias("__mu2"),
        F.max("__s1").alias("__s1"),
        F.max("__s2").alias("__s2"),
        F.sum(F.log(p1 + p2)).alias("loglik"),
    )
    swap = F.col("__mu1") <= F.col("__mu2")
    return out.select(
        *group_cols,
        F.col("n").cast("long").alias("n"),
        F.when(swap, F.col("__pi1"))
        .otherwise(F.lit(1.0) - F.col("__pi1")).alias("pi1"),
        F.when(swap, F.col("__mu1")).otherwise(F.col("__mu2")).alias("mu1"),
        F.sqrt(
            F.when(swap, F.col("__s1")).otherwise(F.col("__s2")),
        ).alias("sigma1"),
        F.when(swap, F.col("__mu2")).otherwise(F.col("__mu1")).alias("mu2"),
        F.sqrt(
            F.when(swap, F.col("__s2")).otherwise(F.col("__s1")),
        ).alias("sigma2"),
        "loglik",
    )


def glm_predict(
    df: DataFrame,
    model: DataFrame,
    x_col,
    group_cols=(),
    family: str = "logistic",
    out_col: str = "mu",
    exposure_col: str = None,
) -> DataFrame:
    """Score a frame with a fitted GLM: broadcast-join the
    one-row-per-group coefficient frame (the output of
    :func:`logistic_fit` / :func:`poisson_fit`, either schema) and add
    the predicted mean as a pure column expression — at 100 TB the
    scoring pass costs exactly one projection on top of the scan, the
    model being model-sized by construction.

    ``x_col``: the same name-or-list passed to the fit.  A name reads
    the slim schema's ``intercept``/``slope``; a list reads
    ``intercept``/``coef_<x>``.  Link inverses use the SAME clamps as
    the fit (logistic eta in [-30, 30], Poisson eta <= 700), and
    ``exposure_col`` applies the rate offset
    symmetric to :func:`poisson_fit`.  Rows of groups absent from the
    model (or with NULL coefficients — degenerate fits) get NULL
    ``out_col``; input rows are never dropped.
    """
    multi = isinstance(x_col, (list, tuple))
    xs = list(x_col) if multi else [x_col]
    group_cols = (
        [group_cols] if isinstance(group_cols, str) else list(group_cols)
    )
    if family not in ("logistic", "poisson"):
        raise ValueError(f"unknown family {family!r}")
    if exposure_col is not None and family != "poisson":
        raise ValueError("exposure_col is a Poisson-rate concept")
    coef_names = (
        ["intercept"] + [f"coef_{c}" for c in xs] if multi
        else ["intercept", "slope"]
    )
    missing = [c for c in coef_names if c not in model.columns]
    if missing:
        raise ValueError(
            f"glm_predict: model frame lacks {missing} — pass the fit "
            "output that matches x_col's shape",
        )
    sel = model.select(
        *group_cols,
        *[F.col(c).alias(f"__m_{c}") for c in coef_names],
    )
    joined = (
        df.join(F.broadcast(sel), group_cols, "left")
        if group_cols else df.crossJoin(F.broadcast(sel))
    )
    eta = F.col("__m_intercept")
    for j, c in enumerate(xs):
        b = F.col("__m_slope") if not multi else F.col(f"__m_coef_{c}")
        eta = eta + b * F.col(c).cast("double")
    if exposure_col is not None:
        eta = eta + F.log(F.col(exposure_col).cast("double"))
    if family == "logistic":
        eta = F.least(F.lit(30.0), F.greatest(F.lit(-30.0), eta))
        mu = F.lit(1.0) / (F.lit(1.0) + F.exp(-eta))
    else:
        mu = F.exp(F.least(F.lit(700.0), eta))
    return joined.withColumn(out_col, mu).drop(
        *[f"__m_{c}" for c in coef_names],
    )


def glm_lrt(
    fit_full: DataFrame,
    fit_reduced: DataFrame,
    df_diff: int,
    group_cols=(),
) -> DataFrame:
    """Likelihood-ratio test between two NESTED GLM fits — "does adding
    those covariates matter?", the standard question after a
    multi-covariate fit.  ``lrt_stat = 2 (loglik_full -
    loglik_reduced)`` is asymptotically chi-square with ``df_diff``
    (the number of extra free coefficients); the p-value goes through
    the exact integer-df survival function
    :func:`~woodwork_spark.operators.stats_tests._chi2_sf`.

    Both inputs are one-row-per-group fit frames from
    :func:`logistic_fit` / :func:`poisson_fit` (either schema), or
    nested :func:`~woodwork_spark.operators.timeseries.cox_ph_fit`
    fits (whose ``loglik`` is the Breslow partial log-likelihood —
    the partial-likelihood ratio test) — the join is model-sized, so
    the test itself costs nothing at any data scale.  CALLER CONTRACT: the fits must be nested AND evaluated on
    the same rows — the fit engines drop rows with nulls in their OWN
    covariate list, so if the extra covariates have nulls, pre-filter
    before fitting both.  Both engines drop the same data-only loglik
    constants (Poisson ln(y!)), so the difference is exact.

    Returns ``(group_cols..., n, loglik_full, loglik_reduced,
    lrt_stat, df_diff, p_value)``; NULL stat/p where either fit was
    degenerate (NULL loglik) or the full model fits worse by more than
    float noise (non-nested misuse).  A tiny negative difference from
    finite Newton rounds clamps to 0 (p = 1).
    """
    from woodwork_spark.operators.stats_tests import _chi2_sf

    df_diff = int(df_diff)
    if df_diff < 1:
        raise ValueError(f"df_diff must be >= 1, got {df_diff}")
    group_cols = (
        [group_cols] if isinstance(group_cols, str) else list(group_cols)
    )
    lf = fit_full.select(
        *group_cols, "n", F.col("loglik").alias("loglik_full"),
    )
    lr = fit_reduced.select(
        *group_cols, F.col("loglik").alias("loglik_reduced"),
    )
    joined = (
        _key_join(lf, lr, group_cols) if group_cols
        else lf.crossJoin(F.broadcast(lr))
    )
    raw = F.lit(2.0) * (F.col("loglik_full") - F.col("loglik_reduced"))
    ok = (
        F.col("loglik_full").isNotNull()
        & F.col("loglik_reduced").isNotNull()
        # more than float noise below 0 => the models are not nested
        # (or did not converge); refuse to report a p for that
        & (raw > F.lit(-1e-6))
    )
    stat = F.greatest(F.lit(0.0), raw)
    return joined.select(
        *group_cols,
        F.col("n").cast("long").alias("n"),
        "loglik_full", "loglik_reduced",
        F.when(ok, stat).alias("lrt_stat"),
        F.lit(df_diff).cast("long").alias("df_diff"),
        F.when(ok, _chi2_sf(stat, df_diff)).alias("p_value"),
    )


def glm_residuals(
    df: DataFrame,
    model: DataFrame,
    y_col: str,
    x_col,
    group_cols=(),
    family: str = "logistic",
    kind: str = "deviance",
    out_col: str = "resid",
    exposure_col: str = None,
) -> DataFrame:
    """Per-row GLM residuals as a PURE PROJECTION on top of
    :func:`glm_predict` — broadcast the model-sized coefficient frame,
    compute ``mu``, and emit the residual column; at 100 TB this costs
    one scan, no shuffle.

    ``kind='deviance'`` (default): ``sign(y - mu) * sqrt(d_i)`` with
    the unit deviance ``d_i = -2 [y ln mu + (1-y) ln(1-mu)]``
    (logistic, y in {0,1}) or ``2 [y ln(y/mu) - (y - mu)]`` (Poisson,
    ``y ln(y/mu) := 0`` at y = 0) — the residual whose squares sum to
    the model deviance, the standard outlier/fit diagnostic.
    ``kind='pearson'``: ``(y - mu) / sqrt(V(mu))``, ``V = mu (1-mu)``
    or ``mu`` — squares sum to the dispersion numerator.  Rows with
    NULL y, a missing group, a degenerate fit, or an underflowed
    variance get NULL (never dropped)."""
    if kind not in ("deviance", "pearson"):
        raise ValueError(f"unknown kind {kind!r}")
    if family not in ("logistic", "poisson"):
        raise ValueError(f"unknown family {family!r}")
    scored = glm_predict(
        df, model, x_col, group_cols=group_cols, family=family,
        out_col="__mu", exposure_col=exposure_col,
    )
    y = F.col(y_col).cast("double")
    mu = F.col("__mu")
    if kind == "pearson":
        v = mu * (F.lit(1.0) - mu) if family == "logistic" else mu
        r = F.when(v > 0, (y - mu) / F.sqrt(v))
    elif family == "logistic":
        # the fit clamp keeps mu in (9e-14, 1 - 9e-14): logs are safe
        dev = F.lit(-2.0) * (
            y * F.log(mu) + (F.lit(1.0) - y) * F.log(F.lit(1.0) - mu)
        )
        r = F.signum(y - mu) * F.sqrt(F.greatest(F.lit(0.0), dev))
    else:
        ylog = F.when(y > 0, y * F.log(y / mu)).otherwise(F.lit(0.0))
        dev = F.lit(2.0) * (ylog - (y - mu))
        r = F.when(
            mu > 0, F.signum(y - mu) * F.sqrt(F.greatest(F.lit(0.0), dev)),
        )
    return scored.withColumn(out_col, r).drop("__mu")


def ols_fit_by(
    df: DataFrame,
    y_col: str,
    x_cols,
    group_cols,
    inference: bool = True,
) -> DataFrame:
    """Per-GROUP ordinary least squares with the Wald readout —
    :func:`ols_fit` fits one global model with a driver-side solve;
    this fits every group in ONE plan with the same in-plan
    unrolled-Cholesky machinery as the multi-covariate GLMs: a means
    pass broadcasts per-group centers back (centered grams condition
    like the correlation matrix — the module-docstring rationale), one
    aggregate folds the d(d+1)/2 centered moments + cross terms per
    group, and the solve + inverse-diagonal run as column expressions
    over the one-row-per-group frame.  No collect at any group count.

    Returns ``(group_cols..., n, intercept, coef_<x>..., r2)`` plus —
    with ``inference`` (default) — ``df_resid, se_intercept`` and
    per-covariate ``se_<x>, t_<x>, p_<x>`` (normal-approximation p via
    the shared A&S polynomial, like :func:`ols_fit`).  Groups with a
    singular centered gram, fewer than d+2 rows, or zero residual
    variance yield NULL statistics (coefficients included — there is
    no meaningful fit to report).  A NULL group key is its own group.
    """
    from woodwork_spark.operators.linalg import (
        apply_layers,
        chol_solve_layers,
        pd_ok,
    )
    from woodwork_spark.operators.stats_tests import (
        _std_normal_two_sided_p,
    )

    x_cols = [x_cols] if isinstance(x_cols, str) else list(x_cols)
    if not x_cols or len(set(x_cols)) != len(x_cols):
        raise ValueError("x_cols must be a non-empty unique list")
    group_cols = (
        [group_cols] if isinstance(group_cols, str) else list(group_cols)
    )
    if not group_cols:
        raise ValueError("ols_fit_by needs group_cols — use ols_fit "
                         "for the global model")
    d = len(x_cols)
    cond = F.col(y_col).isNotNull()
    for c in x_cols:
        cond = cond & F.col(c).isNotNull()
    base = df.filter(cond).select(
        *group_cols,
        F.col(y_col).cast("double").alias("__y"),
        *[
            F.col(c).cast("double").alias(f"__x{j}")
            for j in range(d)
            for c in [x_cols[j]]
        ],
    )
    means = base.groupBy(*group_cols).agg(
        F.avg("__y").alias("__my"),
        *[F.avg(f"__x{j}").alias(f"__m{j}") for j in range(d)],
    )
    cur = _key_join(base, means, group_cols, broadcast=True)
    cx = [F.col(f"__x{j}") - F.col(f"__m{j}") for j in range(d)]
    cy = F.col("__y") - F.col("__my")
    aggs = [
        F.count(F.lit(1)).alias("__n"),
        F.max("__my").alias("__my"),
        F.sum(cy * cy).alias("__syy"),
    ]
    for j in range(d):
        aggs.append(F.max(f"__m{j}").alias(f"__m{j}"))
        aggs.append(F.sum(cx[j] * cy).alias(f"__u{j}"))
        for i in range(j + 1):
            aggs.append(F.sum(cx[j] * cx[i]).alias(f"__a_{j}_{i}"))
    mom = cur.groupBy(*group_cols).agg(*aggs)
    a_name = lambda i, j: f"__a_{i}_{j}"  # noqa: E731
    rhs = {"s": [f"__u{j}" for j in range(d)]}
    if inference:
        for j in range(d):
            rhs[f"e{j}"] = [1.0 if m == j else 0.0 for m in range(d)]
    layers, sol, piv = chol_solve_layers(d, a_name, rhs, pref="__ols")
    solved = apply_layers(mom, layers)
    bs = [F.col(sol["s"][j]) for j in range(d)]
    # SSE = Syy - b'u (exact at the optimum of the centered system)
    sse = F.col("__syy")
    for j in range(d):
        sse = sse - bs[j] * F.col(f"__u{j}")
    icept = F.col("__my")
    for j in range(d):
        icept = icept - bs[j] * F.col(f"__m{j}")
    r2 = F.lit(1.0) - sse / F.col("__syy")
    ok = pd_ok(piv) & (F.col("__syy") > 0)
    cols = [
        F.col("__n").cast("long").alias("n"),
        F.when(ok, icept).alias("intercept"),
        *[F.when(ok, bs[j]).alias(f"coef_{x_cols[j]}") for j in range(d)],
        F.when(ok, r2).alias("r2"),
    ]
    if inference:
        dof = F.col("__n").cast("double") - F.lit(float(d + 1))
        sig2 = sse / dof
        iok = ok & (dof > 0) & (sse > 0)
        # se_intercept needs m' G^-1 m: fold the unit-vector solutions
        mgm = None
        for i in range(d):
            for j in range(d):
                term = (
                    F.col(f"__m{i}") * F.col(sol[f"e{j}"][i])
                    * F.col(f"__m{j}")
                )
                mgm = term if mgm is None else mgm + term
        cols.insert(1, F.col("__n").cast("long") - F.lit(d + 1))
        cols[1] = F.when(dof > 0, cols[1]).alias("df_resid")
        cols.append(
            F.when(
                iok,
                F.sqrt(sig2 * (F.lit(1.0) / F.col("__n") + mgm)),
            ).alias("se_intercept"),
        )
        for j in range(d):
            se = F.sqrt(sig2 * F.col(sol[f"e{j}"][j]))
            t = bs[j] / se
            cols += [
                F.when(iok, se).alias(f"se_{x_cols[j]}"),
                F.when(iok, t).alias(f"t_{x_cols[j]}"),
                F.when(iok, _std_normal_two_sided_p(t))
                .alias(f"p_{x_cols[j]}"),
            ]
    return solved.select(*group_cols, *cols)
