"""Small-system linear algebra for the Newton fits, in two twins.

The multi-covariate fitters (logistic / Poisson IRLS, Cox partial-
likelihood Newton) solve a symmetric positive-definite d x d system
per group per round, where d = covariates + intercept is small (<= ~10)
but the group count is unbounded.  On the driver,
:func:`solve_groups_local` is the one per-group Cholesky loop: the
whole-fit GLM and Cox kernels and the per-round
:func:`newton_step_local` reach it through :func:`newton_update_local`
and :func:`inverse_diagonal_local`.  In Spark, :func:`chol_solve_layers`
unrolls the same factorization and solve as LAYERS of named column
expressions over the one-row-per-group frame, so a round stays a lazy
Catalyst plan with no driver math and no collect.  :func:`newton_step`
picks between them per round, by
:data:`~woodwork_spark.io.LOCAL_MAX_CELLS`.  Both twins give
bit-identical results.

Layering matters: Cholesky entries reference earlier entries, and
inlining those references would duplicate subtrees exponentially.  Each
layer is a list of (name, Column) added via one ``select("*", ...)``;
later layers reference earlier results BY NAME, which Catalyst keeps as
shared projections (the ROUGE-L projection-layer trick).

Reference parity note: woodwork (the reference) has no regression
surface at all; this supports the beyond-reference stats stack.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def chol_solve_layers(
    d: int,
    a_name,
    rhs: dict,
    pref: str = "__ch",
):
    """Build the layered unrolled Cholesky solve of ``A x = u`` for a
    symmetric positive-definite ``d x d`` system whose entries live in
    named columns of a one-row-per-group frame.

    ``a_name(i, j)`` (i >= j) returns the column name holding A[i][j];
    ``rhs`` maps a tag to its right-hand side: a list of ``d`` column
    names (strings) or float literals — several tags share one
    factorization (e.g. the Newton step AND the d unit vectors whose
    solutions give the inverse diagonal for Wald standard errors).

    Returns ``(layers, sol, pivots)``:

    - ``layers``: list of [(name, Column)] to apply in order via
      :func:`apply_layers`;
    - ``sol``: dict tag -> list of d solution column NAMES;
    - ``pivots``: list of d pivot column names.  All pivots > 0 is
      EXACTLY Sylvester's positive-definiteness criterion — the caller
      guards the update with it (a non-PD information matrix means a
      degenerate/collinear design; the guarded row keeps its previous
      coefficients).

    Ops per solve are O(d^3): ~36 multiply-adds at d = 3, ~600 at
    d = 10 — noise next to the per-row aggregate that produced A.
    """

    def _u(tag, j):
        v = rhs[tag][j]
        return F.lit(float(v)) if isinstance(v, (int, float)) else F.col(v)

    ln = lambda i, j: f"{pref}_L_{i}_{j}"          # noqa: E731
    yn = lambda t, j: f"{pref}_y_{t}_{j}"          # noqa: E731
    xn = lambda t, j: f"{pref}_x_{t}_{j}"          # noqa: E731
    pn = lambda j: f"{pref}_p_{j}"                 # noqa: E731

    layers = []
    for j in range(d):
        # pivot + diagonal entry: p_j = a_jj - sum_{m<j} L_jm^2
        p = F.col(a_name(j, j))
        for m in range(j):
            p = p - F.col(ln(j, m)) * F.col(ln(j, m))
        layers.append([(pn(j), p), (ln(j, j), F.sqrt(p))])
        # column j below the diagonal + forward substitution for every
        # rhs (both need L_jj, hence the second layer)
        layer = []
        for i in range(j + 1, d):
            e = F.col(a_name(i, j))
            for m in range(j):
                e = e - F.col(ln(i, m)) * F.col(ln(j, m))
            layer.append((ln(i, j), F.try_divide(e, F.col(ln(j, j)))))
        for t in rhs:
            e = _u(t, j)
            for m in range(j):
                e = e - F.col(ln(j, m)) * F.col(yn(t, m))
            layer.append((yn(t, j), F.try_divide(e, F.col(ln(j, j)))))
        layers.append(layer)
    # back substitution, j = d-1 .. 0, all tags per layer
    for j in range(d - 1, -1, -1):
        layer = []
        for t in rhs:
            e = F.col(yn(t, j))
            for m in range(j + 1, d):
                e = e - F.col(ln(m, j)) * F.col(xn(t, m))
            layer.append((xn(t, j), F.try_divide(e, F.col(ln(j, j)))))
        layers.append(layer)
    sol = {t: [xn(t, j) for j in range(d)] for t in rhs}
    return layers, sol, [pn(j) for j in range(d)]


def chol_solve_local(d: int, a, rhs: dict):
    """Pure-Python twin of :func:`chol_solve_layers` for the DRIVER-side
    Newton solve over collected sufficient stats (one tiny row per
    group): identical formulas, identical left-to-right evaluation
    order, identical NULL/zero-divide semantics (``try_divide`` -> None
    on a zero divisor, None propagates through +-*), so given the same
    double inputs it produces BIT-IDENTICAL solutions and pivots to the
    layered column expressions.  ``a(i, j)`` returns A[i][j] (i >= j,
    float or None); ``rhs`` maps tag -> list of d floats/None.

    Returns ``(sol, pivots)``: sol tag -> list of d values, pivots list
    of d values.  The caller applies the same Sylvester guard as
    :func:`pd_ok` (every pivot not-None and > 0; NaN fails)."""
    import math

    def sub(x, y):
        return None if x is None or y is None else x - y

    def mul(x, y):
        return None if x is None or y is None else x * y

    def tdiv(x, y):
        if x is None or y is None or y == 0.0:
            return None
        return x / y

    L: dict = {}
    Y = {t: [None] * d for t in rhs}
    X = {t: [None] * d for t in rhs}
    P = [None] * d
    for j in range(d):
        p = a(j, j)
        for m in range(j):
            p = sub(p, mul(L.get((j, m)), L.get((j, m))))
        P[j] = p
        if p is None:
            ljj = None
        elif p < 0:
            ljj = float("nan")  # F.sqrt(negative) -> NaN, not an error
        else:
            ljj = math.sqrt(p)  # sqrt(nan) -> nan, matching Spark
        L[(j, j)] = ljj
        for i in range(j + 1, d):
            e = a(i, j)
            for m in range(j):
                e = sub(e, mul(L.get((i, m)), L.get((j, m))))
            L[(i, j)] = tdiv(e, ljj)
        for t in rhs:
            e = rhs[t][j]
            for m in range(j):
                e = sub(e, mul(L.get((j, m)), Y[t][m]))
            Y[t][j] = tdiv(e, ljj)
    for j in range(d - 1, -1, -1):
        for t in rhs:
            e = Y[t][j]
            for m in range(j + 1, d):
                e = sub(e, mul(L.get((m, j)), X[t][m]))
            X[t][j] = tdiv(e, L[(j, j)])
    return X, P


def newton_step(step, group_cols, bnames, a_name, u_names, pref, local):
    """One guarded Newton update ``b + A^-1 u`` per group over the
    one-row-per-group sufficient-stat frame ``step`` (its columns:
    ``group_cols``, the current coefficients ``bnames``, the
    lower-triangle information ``a_name(i, j)`` and the score
    ``u_names``).  Returns ``(beta_df, local)``, the new coefficient
    frame and whether the next round may try the driver again.

    While ``local`` is true, the round collects ``step`` and solves on
    the driver (:func:`newton_step_local`) if it fits
    :data:`~woodwork_spark.io.LOCAL_MAX_CELLS` (feature screens keep
    millions of groups).  Otherwise the solve stays in-plan
    as the :func:`chol_solve_layers` layers under the :func:`pd_ok`
    guard (a non-PD group keeps its coefficients), and the group-sized
    result is checkpointed eagerly, so each round's plan does not embed
    the previous one; ``local`` then turns False, so later rounds of
    the fit skip the probe collect."""
    if local:
        nb = newton_step_local(step, group_cols, bnames, a_name, u_names)
        if nb is not None:
            return nb, True
    layers, sol, piv = chol_solve_layers(
        len(bnames), a_name, {"s": u_names}, pref=pref,
    )
    ok = pd_ok(piv)
    beta_df = apply_layers(step, layers).select(
        *group_cols,
        *[
            F.when(ok, F.col(b) + F.col(s)).otherwise(F.col(b)).alias(b)
            for b, s in zip(bnames, sol["s"])
        ],
    )
    return beta_df.localCheckpoint(eager=True), False


def newton_step_local(step, group_cols, bnames, a_name, u_names):
    """The driver half of :func:`newton_step`: collect ``step`` through
    :func:`~woodwork_spark.io.collect_bounded`, update each group with
    :func:`newton_update_local` (bit-identical to the layered
    expressions), and return the new coefficient frame as a
    broadcast-ready local frame.  Returns None when the collect
    declines: over the cell bound, or a NaN or inf among the stats."""
    from pyspark.sql import types as T

    from woodwork_spark.io import collect_bounded, column_values
    from woodwork_spark.operators.scale import local_rows_df

    pdf = collect_bounded(step)
    if pdf is None:
        return None
    col = {c: column_values(pdf[c]) for c in pdf.columns}
    k = len(bnames)
    b = newton_update_local(
        k,
        {(i, j): col[a_name(i, j)] for i in range(k) for j in range(i + 1)},
        list(zip(*[col[u] for u in u_names])),
        list(zip(*[col[c] for c in bnames])),
    )
    keys = zip(*[col[g] for g in group_cols]) if group_cols else [()] * len(b)
    schema = T.StructType(
        [step.schema[g] for g in group_cols]
        + [T.StructField(c, T.DoubleType()) for c in bnames],
    )
    return local_rows_df(
        step.sparkSession,
        [tuple(kg) + tuple(bg) for kg, bg in zip(keys, b)],
        schema=schema,
    )


def solve_groups_local(k, a, rhs):
    """:func:`chol_solve_local` per group ``g``, whose information is
    ``a[(i, j)][g]`` (i >= j) and right-hand sides ``rhs[g]`` (tag -> k
    values).  Returns per group its solutions, or None when a pivot
    fails the :func:`pd_ok` guard (None, NaN or <= 0)."""
    out = []
    for g, r in enumerate(rhs):
        sol, piv = chol_solve_local(k, lambda i, j, g=g: a[(i, j)][g], r)
        ok = all(p is not None and p > 0 for p in piv)
        out.append(sol if ok else None)
    return out


def newton_update_local(k, a, u, b):
    """The guarded Newton update ``b + A^-1 u`` per group (``u[g]`` and
    ``b[g]`` hold k values); a group whose information is not PD keeps
    its coefficients, as under :func:`newton_step`'s guard.  Returns one
    list of k coefficients per group."""
    sols = solve_groups_local(k, a, [{"s": ug} for ug in u])
    return [
        list(bg) if s is None else [x + y for x, y in zip(bg, s["s"])]
        for s, bg in zip(sols, b)
    ]


def inverse_diagonal_local(k, a, groups):
    """Per group, the diagonal of ``A^-1`` from one factorization and k
    unit-vector solves (the Wald readout), or None when A is not PD."""
    unit = {j: [float(m == j) for m in range(k)] for j in range(k)}
    return [
        None if s is None else [s[j][j] for j in range(k)]
        for s in solve_groups_local(k, a, [unit] * groups)
    ]


def apply_layers(df: DataFrame, layers) -> DataFrame:
    """Apply :func:`chol_solve_layers` output: one ``select("*", ...)``
    per layer, so intra-layer entries see only earlier layers (named,
    shared — never inlined)."""
    for layer in layers:
        if layer:
            df = df.select("*", *[e.alias(n) for n, e in layer])
    return df


def pd_ok(pivots) -> "F.Column":
    """The positive-definite guard: every Cholesky pivot strictly
    positive (NULL pivots — empty sums — fail the comparison and thus
    the guard, which is the wanted NULL-propagation)."""
    ok = None
    for p in pivots:
        c = F.col(p) > 0
        ok = c if ok is None else (ok & c)
    return ok
