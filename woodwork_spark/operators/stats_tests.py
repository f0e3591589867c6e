"""Distributed two-sample / k-sample hypothesis tests.

Complements the drift battery (``curation.ks_drift``, PSI, Cramér's V /
chi-square in ``statistics.dependence``) with the classical tests a
data-quality pipeline reaches for when comparing sources or A/B
cohorts: Mann-Whitney U (distribution shift without normality
assumptions), one-way ANOVA and Welch's t (mean shift), the
distribution-free median CI, and Theil's asymmetric uncertainty
coefficient.

Scale shapes:

* ``mann_whitney_u`` never ranks raw rows.  It aggregates to DISTINCT
  values first (one map-side-combinable groupBy; cardinality is the
  number of distinct measurements, not the row count) and computes the
  tie-averaged ranks from a running sum over that distinct-value frame
  via :func:`rank.global_prefix_sums` — range-partitioned, no single
  reducer even when the measurement is near-continuous.  The tie
  correction falls out of the same aggregate.
* ``anova_oneway`` is two aggregations: one grouped pass collecting
  (n, sum, sum of squares) per group, one tiny pass folding the group
  rows into the F statistic.  Shuffle bytes scale with the number of
  groups.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from woodwork_spark.operators.scale import local_rows_df

from .rank import global_prefix_sums
from ..lifecycle import attach_persisted, persisted_frames


def mann_whitney_u(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """Mann-Whitney U test between two groups of ``group_col``.

    Returns one row: ``(n_a, n_b, u_a, u_b, rank_sum_a, tie_term,
    z_stat)`` where ``u_a`` counts (a, b) pairs with a's value lower
    (ties half); ``z_stat`` is the tie-corrected normal approximation
    WITHOUT continuity correction (document parity: DuckDB oracle and
    scipy ``method="asymptotic", use_continuity=False`` agree).

    Null values are excluded (a null measurement carries no rank).
    """
    base = df.filter(
        F.col(group_col).isin([group_a, group_b])
        & F.col(value_col).isNotNull(),
    ).select(
        F.col(value_col).alias("__v"),
        F.when(F.col(group_col) == group_a, 1).otherwise(0).alias("__isa"),
    )
    # Distinct-value tallies: t_v rows at value v, na_v of them in A.
    counts = base.groupBy("__v").agg(
        F.count(F.lit(1)).alias("__t"),
        F.sum("__isa").alias("__na"),
    )
    # Exclusive running count of rows strictly below v -> tie-averaged
    # rank of value v is below_v + (t_v + 1) / 2.
    ranked = global_prefix_sums(
        counts, ["__v"], ["__t"], out_cols=["__below"], inclusive=False,
    )
    avg_rank = F.col("__below") + (F.col("__t") + 1) / 2.0
    agg = ranked.agg(
        F.sum("__na").cast("long").alias("n_a"),
        (F.sum("__t") - F.sum("__na")).cast("long").alias("n_b"),
        F.sum(F.col("__na") * avg_rank).alias("rank_sum_a"),
        F.sum(
            F.col("__t").cast("double") * F.col("__t") * F.col("__t")
            - F.col("__t"),
        ).alias("tie_term"),
    )
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    n = na + nb
    u_a = F.col("rank_sum_a") - na * (na + 1) / 2.0
    u_b = na * nb - u_a
    # ANSI-safe: the tie correction divides by n(n-1), zero when the
    # filtered input has < 2 rows
    tie_frac = F.when(
        n > 1, F.col("tie_term") / (n * (n - 1)),
    ).otherwise(F.lit(0.0))
    sigma = F.sqrt(na * nb / 12.0 * ((n + 1) - tie_frac))
    z = F.when(sigma > 0, (u_a - na * nb / 2.0) / sigma).otherwise(
        F.lit(0.0),
    )
    out = agg.select(
        "n_a", "n_b",
        u_a.alias("u_a"), u_b.alias("u_b"),
        "rank_sum_a", "tie_term",
        z.alias("z_stat"),
    )
    return attach_persisted(out, *persisted_frames(ranked))


def anova_oneway(
    df: DataFrame,
    value_col: str,
    group_col: str,
) -> DataFrame:
    """One-way ANOVA across the levels of ``group_col``.

    Returns one row: ``(k_groups, n_total, grand_mean, ss_between,
    ss_within, f_stat)``.  Groups with a null key are excluded, as are
    null measurements.  ``f_stat`` is null when it is undefined
    (fewer than 2 groups, or zero within-group variance).
    """
    per_group = (
        df.filter(
            F.col(group_col).isNotNull() & F.col(value_col).isNotNull(),
        )
        .groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("__n"),
            # exact sums when the input is integral (long/long arithmetic
            # stays exact; float noise then enters only in the tiny
            # per-group fold, not in row-count-sized accumulations) —
            # at extreme magnitudes pre-cast the column to double
            F.sum(F.col(value_col)).alias("__s"),
            F.sum(F.col(value_col) * F.col(value_col)).alias("__ss"),
        )
    )
    folded = per_group.agg(
        F.count(F.lit(1)).cast("long").alias("k_groups"),
        F.sum("__n").cast("long").alias("n_total"),
        F.sum("__s").cast("double").alias("__sum"),
        F.sum("__ss").cast("double").alias("__sumsq"),
        F.sum(
            F.col("__s").cast("double") * F.col("__s") / F.col("__n"),
        ).alias("__gsq"),
    )
    n = F.col("n_total").cast("double")
    k = F.col("k_groups").cast("double")
    grand_mean = F.when(n > 0, F.col("__sum") / n)
    # SSB = sum n_g mean_g^2 - N grand^2 ; SSW = total SS - sum n_g mean_g^2
    ss_between = F.when(
        n > 0, F.col("__gsq") - F.col("__sum") * F.col("__sum") / n,
    )
    ss_within = F.col("__sumsq") - F.col("__gsq")
    f_stat = F.when(
        (k > 1) & (n > k) & (ss_within > 0),
        (ss_between / (k - 1)) / (ss_within / (n - k)),
    )
    return folded.select(
        "k_groups", "n_total",
        grand_mean.alias("grand_mean"),
        ss_between.alias("ss_between"),
        ss_within.alias("ss_within"),
        f_stat.alias("f_stat"),
    )


def welch_ttest(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """Welch's unequal-variance t-test between two groups: one
    conditional aggregate over the filtered rows (exact integer sums
    when the input is integral, like :func:`anova_oneway`), then pure
    arithmetic — t statistic plus the Welch-Satterthwaite degrees of
    freedom.  Returns ``(n_a, n_b, mean_a, mean_b, var_a, var_b,
    t_stat, df_welch)`` (sample variances, ddof=1); t/df are NULL when
    either group has < 2 rows or both variances are 0.
    """
    isa = F.col(group_col) == F.lit(group_a)
    base = df.filter(
        F.col(group_col).isin([group_a, group_b])
        & F.col(value_col).isNotNull(),
    )
    v = F.col(value_col)
    agg = base.agg(
        F.count(F.when(isa, 1)).alias("n_a"),
        F.count(F.when(~isa, 1)).alias("n_b"),
        F.sum(F.when(isa, v)).cast("double").alias("__sa"),
        F.sum(F.when(~isa, v)).cast("double").alias("__sb"),
        F.sum(F.when(isa, v * v)).cast("double").alias("__ssa"),
        F.sum(F.when(~isa, v * v)).cast("double").alias("__ssb"),
    )
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    # ANSI-safe: every division is gated on its denominator (a
    # degenerate group yields NULLs, not a DIVIDE_BY_ZERO)
    mean_a = F.when(na > 0, F.col("__sa") / na)
    mean_b = F.when(nb > 0, F.col("__sb") / nb)
    var_a = F.when(
        na > 1,
        (F.col("__ssa") - F.col("__sa") * F.col("__sa") / na) / (na - 1),
    )
    var_b = F.when(
        nb > 1,
        (F.col("__ssb") - F.col("__sb") * F.col("__sb") / nb) / (nb - 1),
    )
    se2 = var_a / na + var_b / nb
    t = F.when((na > 1) & (nb > 1) & (se2 > 0), (mean_a - mean_b) / F.sqrt(se2))
    dfw = F.when(
        (na > 1) & (nb > 1) & (se2 > 0),
        se2 * se2 / (
            var_a * var_a / (na * na * (na - 1))
            + var_b * var_b / (nb * nb * (nb - 1))
        ),
    )
    return agg.select(
        "n_a", "n_b",
        mean_a.alias("mean_a"), mean_b.alias("mean_b"),
        var_a.alias("var_a"), var_b.alias("var_b"),
        t.alias("t_stat"), dfw.alias("df_welch"),
    )


def median_ci(
    df: DataFrame,
    value_col: str,
    group_cols=(),
    z: float = 1.959963984540054,
) -> DataFrame:
    """Distribution-free confidence interval for the MEDIAN per group
    via binomial order statistics: ranks lo = floor((n - z*sqrt(n))/2)
    and hi = ceil(1 + (n + z*sqrt(n))/2) bracket the median with ~95%
    coverage (z = 1.96) without any normality or bootstrap — the
    standard nonparametric interval (Conover 1999 §3.2).

    Shape: one row_number window per group + one filter to the three
    ranks + one pivot agg — rows shuffled once on the group key.  The
    full per-group sort is the exact path; at 100 TB switch the
    endpoints to ``approx_percentile`` at the same rank fractions.

    Returns ``(group_cols..., n, median, ci_lo, ci_hi)``; groups where
    the rank formula degenerates (n < 6 gives lo < 1) clamp to the
    extreme order statistics.
    """
    group_cols = (
        [group_cols] if isinstance(group_cols, str) else list(group_cols)
    )
    base = df.filter(F.col(value_col).isNotNull()).select(
        *group_cols, F.col(value_col).alias("__v"),
    )
    part = (
        W.partitionBy(*group_cols) if group_cols else W.partitionBy(F.lit(1))
    )
    w = part.orderBy(F.col("__v").asc())
    n_w = part.orderBy(F.col("__v").asc()).rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing,
    )
    ranked = base.select(
        *group_cols, "__v",
        F.row_number().over(w).alias("__r"),
        F.count(F.lit(1)).over(n_w).alias("__n"),
    )
    n = F.col("__n").cast("double")
    lo_r = F.greatest(
        F.floor((n - F.lit(z) * F.sqrt(n)) / 2).cast("long"), F.lit(1),
    )
    hi_r = F.least(
        F.ceil(1 + (n + F.lit(z) * F.sqrt(n)) / 2).cast("long"), F.col("__n"),
    )
    med_r = ((F.col("__n") + 1) / 2).cast("long")  # lower median
    marked = ranked.withColumn("__lo", lo_r).withColumn(
        "__hi", hi_r,
    ).withColumn("__med", med_r)
    picked = marked.filter(
        (F.col("__r") == F.col("__lo"))
        | (F.col("__r") == F.col("__hi"))
        | (F.col("__r") == F.col("__med")),
    )
    return picked.groupBy(*group_cols).agg(
        F.max("__n").alias("n"),
        F.max(F.when(F.col("__r") == F.col("__med"), F.col("__v"))).alias(
            "median",
        ),
        F.max(F.when(F.col("__r") == F.col("__lo"), F.col("__v"))).alias(
            "ci_lo",
        ),
        F.max(F.when(F.col("__r") == F.col("__hi"), F.col("__v"))).alias(
            "ci_hi",
        ),
    )


def theils_u(
    df: DataFrame,
    cols: list,
) -> DataFrame:
    """Theil's uncertainty coefficient U(x|y) for every ORDERED pair of
    the given categorical columns: U(x|y) = (H(X) - H(X|Y)) / H(X) in
    [0, 1] — the ASYMMETRIC companion to Cramér's V (dependence.py):
    "how much of X does knowing Y remove", direction included, which a
    symmetric V cannot express.

    Shape: ONE melted pass builds every unordered pair's contingency
    table (each row explodes to p(p-1)/2 pair-keyed rows, one shuffle
    on (pair, xv, yv) — the statistics/dependence.py MI batching
    shape); the persisted joint table then feeds both directions'
    entropies through category-cardinality-sized aggregates only.
    Rows with a NULL in either column of a pair are excluded from that
    pair.

    Returns ``(col_x, col_y, n, u)`` for x != y; ``u`` is NULL when
    H(X) = 0 (constant column).
    """
    cols = list(cols)
    if len(cols) < 2:
        raise ValueError("theils_u needs at least 2 columns")
    pair_structs = []
    for i, x in enumerate(cols):
        for y in cols[i + 1:]:
            pair_structs.append(
                F.struct(
                    F.lit(f"{x}\x00{y}").alias("pk"),
                    F.col(x).cast("string").alias("xv"),
                    F.col(y).cast("string").alias("yv"),
                ),
            )
    joint = (
        df.select(F.explode(F.array(*pair_structs)).alias("__m"))
        .where(
            F.col("__m.xv").isNotNull() & F.col("__m.yv").isNotNull(),
        )
        .groupBy(
            F.col("__m.pk").alias("__pk"),
            F.col("__m.xv").alias("__xv"),
            F.col("__m.yv").alias("__yv"),
        )
        .agg(F.count(F.lit(1)).alias("__c"))
        .persist()
    )
    tot = joint.groupBy("__pk").agg(F.sum("__c").alias("__n"))
    cx = joint.groupBy("__pk", "__xv").agg(F.sum("__c").alias("__cx"))
    cy = joint.groupBy("__pk", "__yv").agg(F.sum("__c").alias("__cy"))
    hx = cx.join(F.broadcast(tot), "__pk").groupBy("__pk").agg(
        F.max("__n").alias("__n"),
        (-F.sum(
            (F.col("__cx") / F.col("__n"))
            * F.log(F.col("__cx") / F.col("__n")),
        )).alias("__hx"),
    )
    hy = cy.join(F.broadcast(tot), "__pk").groupBy("__pk").agg(
        (-F.sum(
            (F.col("__cy") / F.col("__n"))
            * F.log(F.col("__cy") / F.col("__n")),
        )).alias("__hy"),
    )
    conds = (
        joint.join(F.broadcast(cx), ["__pk", "__xv"])
        .join(F.broadcast(cy), ["__pk", "__yv"])
        .join(F.broadcast(tot), "__pk")
        .groupBy("__pk")
        .agg(
            (-F.sum(
                (F.col("__c") / F.col("__n"))
                * F.log(F.col("__c") / F.col("__cy")),
            )).alias("__hxgy"),
            (-F.sum(
                (F.col("__c") / F.col("__n"))
                * F.log(F.col("__c") / F.col("__cx")),
            )).alias("__hygx"),
        )
    )
    both = hx.join(hy, "__pk").join(conds, "__pk")
    xname = F.split(F.col("__pk"), "\x00").getItem(0)
    yname = F.split(F.col("__pk"), "\x00").getItem(1)
    fwd = both.select(
        xname.alias("col_x"), yname.alias("col_y"),
        F.col("__n").cast("long").alias("n"),
        F.when(
            F.col("__hx") > 0,
            (F.col("__hx") - F.col("__hxgy")) / F.col("__hx"),
        ).alias("u"),
    )
    rev = both.select(
        yname.alias("col_x"), xname.alias("col_y"),
        F.col("__n").cast("long").alias("n"),
        F.when(
            F.col("__hy") > 0,
            (F.col("__hy") - F.col("__hygx")) / F.col("__hy"),
        ).alias("u"),
    )
    # a pair with ZERO co-non-null rows has no joint rows at all —
    # left-join the full ordered-pair frame back so such pairs emit
    # (col_x, col_y, NULL, NULL) instead of silently vanishing (a
    # square association matrix must keep its cells)
    spark = df.sparkSession
    expected = local_rows_df(spark, 
        [(x, y) for x in cols for y in cols if x != y],
        "col_x string, col_y string",
    )
    out = expected.join(fwd.unionAll(rev), ["col_x", "col_y"], "left")
    return attach_persisted(out, joint)


def _poisson1_thresholds(max_k: int = 8):
    """Hex cutoffs of the Poisson(1) CDF: k = #{j : hash >= t_j}."""
    import math

    from .sampling import hex_cutoff

    cdf, term = 0.0, math.exp(-1.0)
    outs = []
    for j in range(max_k):
        cdf += term
        outs.append(hex_cutoff(min(cdf, 1.0)))
        term /= (j + 1)
    return outs


def bootstrap_mean_ci(
    df: DataFrame,
    value_col: str,
    key_col: str,
    group_cols=(),
    n_replicates: int = 40,
    ci: float = 0.95,
    salt: str = "boot",
) -> DataFrame:
    """Confidence interval for the MEAN via the Poisson bootstrap
    (Chamandy et al. 2012 — the bootstrap that works at terabyte
    scale: each replicate reweights every row by an independent
    Poisson(1) count, so replicates stream in ONE pass with no
    resampling shuffle), made fully DETERMINISTIC: the per-(row,
    replicate) weight is the Poisson(1) inverse CDF of a stable
    ``md5(salt|replicate|key)`` hash, compared in fixed-width hex (the
    :func:`sampling.hex_cutoff` idiom), so there is no RNG state and
    any engine reproduces the exact draw — which is what lets a SQL
    oracle value-check a bootstrap at all.

    Shape: one aggregate computes every replicate's weighted sum/count
    (2·R conditional sums, map-side combinable), ``stack`` unpivots to
    R tiny replicate-mean rows per group, one exact-percentile agg
    takes the interval.  Weights cap at 8 (CDF(8) ≈ 1 - 1.1e-6;
    the truncation is shared with the oracle by construction).

    Returns ``(group_cols..., n_rows, mean, ci_lo, ci_hi,
    n_replicates)``; groups whose replicate draws all weigh zero
    contribute NULL replicate means (excluded from the percentile).
    """
    if n_replicates < 2:
        raise ValueError(f"n_replicates must be >= 2, got {n_replicates}")
    if not 0 < ci < 1:
        raise ValueError(f"ci must be in (0, 1), got {ci}")
    group_cols = (
        [group_cols] if isinstance(group_cols, str) else list(group_cols)
    )
    thresholds = _poisson1_thresholds()
    base = df.filter(F.col(value_col).isNotNull()).select(
        *group_cols,
        F.col(value_col).cast("double").alias("__v"),
        F.col(key_col).cast("string").alias("__k"),
    )
    from .sampling import hash_bucket_expr

    # Factor each replicate's weight through TWO narrow projections
    # (hash column, then weight column) instead of inlining the md5
    # expression into every aggregate: the aggregate used to embed each
    # replicate's hash subtree ~16x (8 CDF comparisons x 2 sums), a
    # >10k-node Catalyst tree re-analyzed on every execution.  Same
    # arithmetic, same draws, ~10x smaller plan.
    hashed = base.select(
        *group_cols, "__v",
        *[
            hash_bucket_expr(F.col("__k"), f"{salt}|{r}|").alias(f"__h_{r}")
            for r in range(n_replicates)
        ],
    )
    weights = hashed.select(
        *group_cols, "__v",
        *[
            sum(
                (F.col(f"__h_{r}") >= F.lit(t)).cast("int")
                for t in thresholds
            ).alias(f"__w_{r}")
            for r in range(n_replicates)
        ],
    )
    aggs = [
        F.count(F.lit(1)).alias("__n"),
        F.sum("__v").alias("__s"),
    ]
    for r in range(n_replicates):
        aggs.append(
            F.sum(F.col(f"__w_{r}") * F.col("__v")).alias(f"__ws_{r}"),
        )
        aggs.append(F.sum(f"__w_{r}").alias(f"__ww_{r}"))
    wide = weights.groupBy(*group_cols).agg(*aggs)
    stack_expr = "stack({}, {}) as (replicate, __ws, __ww)".format(
        n_replicates,
        ", ".join(
            f"{r}, __ws_{r}, __ww_{r}" for r in range(n_replicates)
        ),
    )
    tall = wide.select(
        *group_cols, "__n", "__s", F.expr(stack_expr),
    ).withColumn(
        "__m",
        F.when(F.col("__ww") > 0, F.col("__ws") / F.col("__ww")),
    )
    lo_q, hi_q = (1 - ci) / 2, (1 + ci) / 2
    return tall.groupBy(*group_cols).agg(
        F.max("__n").cast("long").alias("n_rows"),
        (F.max("__s") / F.max("__n")).alias("mean"),
        F.percentile(F.col("__m"), F.lit(lo_q)).alias("ci_lo"),
        F.percentile(F.col("__m"), F.lit(hi_q)).alias("ci_hi"),
        F.count(F.col("__m")).cast("long").alias("n_replicates"),
    )


def proportion_ci(
    df: DataFrame,
    success_col,
    group_cols=(),
    z: float = 1.959963984540054,
) -> DataFrame:
    """Wilson score interval for a proportion per group — the
    recommended small-and-large-n CI for rates (never leaves [0, 1],
    unlike the Wald interval every dashboard naively uses).  ONE
    map-side-combinable aggregate; ``success_col`` is a boolean
    Column/column name (NULL counts as failure? no — NULL rows are
    EXCLUDED: an unknown outcome is not a failure).

    Returns ``(group_cols..., n, successes, p_hat, ci_lo, ci_hi)``.
    """
    group_cols = (
        [group_cols] if isinstance(group_cols, str) else list(group_cols)
    )
    s = (
        F.col(success_col) if isinstance(success_col, str) else success_col
    ).cast("boolean")
    base = df.where(s.isNotNull())
    agg = base.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(s.cast("long")).alias("successes"),
    )
    n = F.col("n").cast("double")
    p = F.col("successes") / n
    z2 = F.lit(z * z)
    denom = 1 + z2 / n
    center = (p + z2 / (2 * n)) / denom
    half = (
        F.lit(z)
        * F.sqrt(p * (1 - p) / n + z2 / (4 * n * n))
        / denom
    )
    return agg.select(
        *group_cols,
        F.col("n").cast("long").alias("n"),
        F.col("successes").cast("long").alias("successes"),
        p.alias("p_hat"),
        (center - half).alias("ci_lo"),
        (center + half).alias("ci_hi"),
    )


def two_proportion_ztest(
    df: DataFrame,
    success_col,
    group_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """Two-proportion z-test (pooled standard error) between two
    groups — "did the conversion rate actually move": one conditional
    aggregate, pure arithmetic.  NULL outcomes are excluded.  Returns
    one row ``(n_a, n_b, p_a, p_b, p_pool, z_stat)``; z NULL when a
    group is empty or the pooled rate is degenerate (0 or 1)."""
    s = (
        F.col(success_col) if isinstance(success_col, str) else success_col
    ).cast("boolean")
    isa = F.col(group_col) == F.lit(group_a)
    base = df.where(
        F.col(group_col).isin([group_a, group_b]) & s.isNotNull(),
    )
    agg = base.agg(
        F.count(F.when(isa, 1)).alias("n_a"),
        F.count(F.when(~isa, 1)).alias("n_b"),
        F.sum(F.when(isa & s, 1).otherwise(0)).alias("__sa"),
        F.sum(F.when(~isa & s, 1).otherwise(0)).alias("__sb"),
    )
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    pa = F.when(na > 0, F.col("__sa") / na)
    pb = F.when(nb > 0, F.col("__sb") / nb)
    pp = F.when(na + nb > 0, (F.col("__sa") + F.col("__sb")) / (na + nb))
    se = F.sqrt(pp * (1 - pp) * (1 / na + 1 / nb))
    zs = F.when((na > 0) & (nb > 0) & (pp > 0) & (pp < 1), (pa - pb) / se)
    return agg.select(
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        pa.alias("p_a"), pb.alias("p_b"), pp.alias("p_pool"),
        zs.alias("z_stat"),
    )


def kruskal_wallis(
    df: DataFrame,
    value_col: str,
    group_col: str,
) -> DataFrame:
    """Kruskal-Wallis H test — the k-group generalization of
    :func:`mann_whitney_u` (one-way ANOVA on ranks, no normality
    assumption).

    Same scale shape as mann_whitney_u: rows collapse to per-(value,
    group) counts FIRST (one map-side-combinable groupBy), per-value
    totals re-aggregate from those cells, and the tie-averaged rank of
    each distinct value comes from ONE range-partitioned running sum
    (:func:`rank.global_prefix_sums`) — no single-reducer rank window
    even when the measurement is near-continuous.  The tie correction
    ``1 - sum(t^3 - t) / (N^3 - N)`` folds out of the same frame.

    Null groups and null measurements are excluded.  Returns one row:
    ``(k_groups, n_total, h_stat, tie_term, h_corrected)``;
    ``h_corrected`` is null when every value is tied (correction = 0)
    or fewer than 2 groups survive the filter.
    """
    cells = (
        df.filter(
            F.col(group_col).isNotNull() & F.col(value_col).isNotNull(),
        )
        .groupBy(
            F.col(value_col).alias("__v"), F.col(group_col).alias("__g"),
        )
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    totals = cells.groupBy("__v").agg(F.sum("__c").alias("__t"))
    ranked = global_prefix_sums(
        totals, ["__v"], ["__t"], out_cols=["__below"], inclusive=False,
    )
    avg_rank = F.col("__below") + (F.col("__t") + 1) / 2.0
    # per-group rank sums ride a shuffle join on the distinct value —
    # cells and ranked share cardinality = distinct measurements
    per_group = (
        cells.join(ranked.select("__v", avg_rank.alias("__r")), "__v")
        .groupBy("__g")
        .agg(
            F.sum("__c").alias("__n"),
            F.sum(F.col("__c") * F.col("__r")).alias("__rs"),
        )
    )
    gfold = per_group.agg(
        F.count(F.lit(1)).cast("long").alias("k_groups"),
        F.sum("__n").cast("long").alias("n_total"),
        F.sum(
            F.col("__rs") * F.col("__rs") / F.col("__n"),
        ).alias("__rsq"),
    )
    tfold = ranked.agg(
        F.sum(
            F.col("__t").cast("double") * F.col("__t") * F.col("__t")
            - F.col("__t"),
        ).alias("tie_term"),
    )
    n = F.col("n_total").cast("double")
    h = F.when(
        n > 1,
        12.0 / (n * (n + 1)) * F.col("__rsq") - 3.0 * (n + 1),
    )
    corr = F.when(
        n > 1, 1.0 - F.col("tie_term") / (n * n * n - n),
    )
    out = gfold.crossJoin(tfold).select(
        "k_groups", "n_total",
        h.alias("h_stat"),
        "tie_term",
        F.when(
            (F.col("k_groups") > 1) & (corr > 0), h / corr,
        ).alias("h_corrected"),
    )
    return attach_persisted(out, *persisted_frames(ranked))


def levene_test(
    df: DataFrame,
    value_col: str,
    group_col: str,
    center: str = "median",
) -> DataFrame:
    """Levene's test for equal variances across groups —
    ``center="median"`` is the Brown-Forsythe variant (robust to heavy
    tails, the scipy default recommendation), ``center="mean"`` the
    classic form.  The statistic is one-way ANOVA's F applied to the
    absolute deviations from each group's center.

    Two aggregation passes: per-group centers (exact interpolated
    ``percentile`` for the median — swap to ``percentile_approx``
    driver-side if exact sort-based medians ever dominate at extreme
    group sizes), joined back (AQE broadcasts the tiny center table),
    then the same two-agg fold as :func:`anova_oneway` on the
    deviations.  Shuffle bytes scale with the number of groups.

    Returns one row: ``(k_groups, n_total, f_stat, ss_between,
    ss_within)``; ``f_stat`` null when undefined.
    """
    if center not in ("median", "mean"):
        raise ValueError(f"center must be 'median' or 'mean', got {center!r}")
    base = df.filter(
        F.col(group_col).isNotNull() & F.col(value_col).isNotNull(),
    ).select(
        F.col(group_col).alias("__g"),
        F.col(value_col).cast("double").alias("__v"),
    )
    ctr = (
        F.percentile(F.col("__v"), F.lit(0.5))
        if center == "median"
        else F.avg("__v")
    )
    centers = base.groupBy("__g").agg(ctr.alias("__ctr"))
    dev = base.join(centers, "__g").select(
        "__g", F.abs(F.col("__v") - F.col("__ctr")).alias("__z"),
    )
    res = anova_oneway(dev, "__z", "__g")
    return res.select(
        "k_groups", "n_total", "f_stat", "ss_between", "ss_within",
    )


def cliffs_delta(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """Cliff's delta (the ordinal effect size: P(a > b) - P(a < b))
    plus Cohen's d (pooled-SD standardized mean difference) between two
    groups — the "is the shift big enough to matter" companions to
    :func:`mann_whitney_u` / :func:`welch_ttest`'s "is it real".

    Never materializes pairs: rows collapse to per-distinct-value
    (count_a, count_b) tallies, ONE range-partitioned running sum gives
    the count of b-rows strictly below each value, and
    ``greater = sum(count_a * b_below)`` / ``ties = sum(count_a *
    count_b)`` fold out of the same frame; ``less`` is the remainder of
    ``n_a * n_b``.  Cohen's d reuses the tallies' moments.  Null
    measurements are excluded.

    Returns one row: ``(n_a, n_b, gt_pairs, lt_pairs, tie_pairs,
    cliffs_delta, cohens_d)``; delta/d null when a group is empty (d
    also needs pooled variance > 0 and n_a + n_b > 2).
    """
    base = df.filter(
        F.col(group_col).isin([group_a, group_b])
        & F.col(value_col).isNotNull(),
    ).select(
        F.col(value_col).alias("__v"),
        F.when(F.col(group_col) == group_a, 1).otherwise(0).alias("__isa"),
    )
    counts = base.groupBy("__v").agg(
        F.sum("__isa").alias("__ca"),
        F.sum(1 - F.col("__isa")).alias("__cb"),
    )
    ranked = global_prefix_sums(
        counts, ["__v"], ["__cb"], out_cols=["__bb"], inclusive=False,
    )
    v = F.col("__v").cast("double")
    agg = ranked.agg(
        F.sum("__ca").cast("long").alias("n_a"),
        F.sum("__cb").cast("long").alias("n_b"),
        F.sum(F.col("__ca") * F.col("__bb")).cast("long").alias("gt_pairs"),
        F.sum(F.col("__ca") * F.col("__cb")).cast("long").alias("tie_pairs"),
        F.sum(F.col("__ca") * v).alias("__sa"),
        F.sum(F.col("__ca") * v * v).alias("__ssa"),
        F.sum(F.col("__cb") * v).alias("__sb"),
        F.sum(F.col("__cb") * v * v).alias("__ssb"),
    )
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    lt = (na * nb - F.col("gt_pairs") - F.col("tie_pairs")).cast("long")
    delta = F.when(
        (na > 0) & (nb > 0),
        (F.col("gt_pairs") - lt) / (na * nb),
    )
    # pooled variance from per-group raw moments (ddof=1 each)
    var_a = (F.col("__ssa") - F.col("__sa") * F.col("__sa") / na)
    var_b = (F.col("__ssb") - F.col("__sb") * F.col("__sb") / nb)
    pooled = (var_a + var_b) / (na + nb - 2)
    d = F.when(
        (na > 1) & (nb > 1) & (pooled > 0),
        (F.col("__sa") / na - F.col("__sb") / nb) / F.sqrt(pooled),
    )
    out = agg.select(
        "n_a", "n_b", "gt_pairs", lt.alias("lt_pairs"), "tie_pairs",
        delta.alias("cliffs_delta"), d.alias("cohens_d"),
    )
    return attach_persisted(out, *persisted_frames(ranked))


def partial_correlation(
    df: DataFrame,
    x_col: str,
    y_col: str,
    control_cols,
) -> DataFrame:
    """Partial Pearson correlation of x and y controlling for one or
    more covariates — "is the x-y relationship real or is it all
    driven by z".

    ONE aggregation computes the full pairwise correlation matrix of
    (x, y, controls...) over LISTWISE-complete rows (any null among
    the involved columns drops the row, so every pairwise estimate
    sees the same sample — the statistically coherent convention);
    the partial correlation falls out of the precision matrix on the
    driver (``-P_xy / sqrt(P_xx P_yy)``), which generalizes the
    one-control textbook formula to any number of controls.

    Returns one row: ``(n, r_xy, partial_r)``; ``partial_r`` is null
    when the control matrix is singular (a control perfectly
    collinear with x or y) or n is too small (< controls + 3).
    """
    import numpy as np

    control_cols = (
        [control_cols] if isinstance(control_cols, str)
        else list(control_cols)
    )
    if not control_cols:
        raise ValueError("partial_correlation: control_cols is empty — "
                         "use a plain corr() for the marginal")
    cols = [x_col, y_col] + control_cols
    notnull = F.lit(True)
    for c in cols:
        notnull = notnull & F.col(c).isNotNull()
    base = df.filter(notnull).select(
        *[F.col(c).cast("double").alias(f"__c{i}")
          for i, c in enumerate(cols)],
    )
    k = len(cols)
    exprs = [F.count(F.lit(1)).alias("n")]
    for i in range(k):
        for j in range(i + 1, k):
            exprs.append(F.corr(f"__c{i}", f"__c{j}").alias(f"r_{i}_{j}"))
    row = base.agg(*exprs).collect()[0]
    n = row["n"]
    r = np.eye(k)
    for i in range(k):
        for j in range(i + 1, k):
            v = row[f"r_{i}_{j}"]
            r[i, j] = r[j, i] = float("nan") if v is None else v
    partial = None
    if n >= k + 1 and not np.isnan(r).any():
        try:
            p = np.linalg.inv(r)
            den = p[0, 0] * p[1, 1]
            if den > 0:
                partial = float(-p[0, 1] / np.sqrt(den))
        except np.linalg.LinAlgError:
            partial = None
    r_xy = None if np.isnan(r[0, 1]) else float(r[0, 1])
    spark = df.sparkSession
    return local_rows_df(spark, 
        [(int(n), r_xy, partial)],
        "n long, r_xy double, partial_r double",
    )


def _harmonic_number(m: int, chunk: int = 1 << 22) -> float:
    """``c(m) = sum_{i=1..m} 1/i`` accumulated smallest-terms-first
    (``i = m`` down to ``1``) in STRICTLY sequential order — the
    replayable-summation contract of :func:`bh_fdr`'s BY variant.

    ``np.cumsum`` adds left-to-right with a single accumulator, so
    seeding each chunk with the running total via ``concatenate`` makes
    the result bit-identical to the scalar loop ``for i in range(m, 0,
    -1): c += 1.0 / i`` at every ``m`` and every chunk size, while
    removing the O(m) pure-Python driver stall at feature-screening
    scale (m ~ 1e8-1e9: minutes -> seconds)."""
    import numpy as np

    c = 0.0
    for hi in range(int(m), 0, -chunk):
        lo = max(hi - chunk, 0)  # this chunk covers i = hi .. lo+1
        inv = 1.0 / np.arange(hi, lo, -1, dtype=np.float64)
        c = float(np.cumsum(np.concatenate(([c], inv)))[-1])
    return c


def bh_fdr(
    df: DataFrame,
    p_col: str,
    tiebreak=(),
    out_col: str = "q_value",
    method: str = "bh",
) -> DataFrame:
    """Benjamini-Hochberg FDR adjustment over a frame of p-values —
    the multiple-testing companion to every test in this module:
    ``q_(i) = min(1, min_{j >= i} p_(j) * m / j)`` over the m
    hypotheses ranked by ascending p.

    Fully distributed at feature-screening scale (millions of
    hypotheses): the rank comes from :func:`rank.global_row_number`
    and the trailing minimum from :func:`rank.global_running_min`
    ordered by rank DESCENDING — two range shuffles, no single-reducer
    window anywhere.  ``tiebreak`` columns make the rank (and
    therefore each tie's q) deterministic; rows with a null p are
    excluded (an unrun test is not a hypothesis).

    ``method="by"`` gives the Benjamini-Yekutieli variant: the same
    trailing-minimum machinery with ``m`` inflated by the harmonic
    number ``c(m) = sum_{i<=m} 1/i`` — valid under ARBITRARY dependence
    between the hypotheses (BH assumes independence/PRDS), at the price
    of ~ln(m)-fold conservatism.  c(m) is a driver-side constant (m is
    already collected for the rank pass), summed smallest-terms-first
    so any replayer that does the same lands on the identical double —
    via :func:`_harmonic_number`'s chunked ``np.cumsum``, which keeps
    the exact sequential add order of the naive loop at ~100x the
    speed (no O(m) pure-Python stall at screening-scale m).

    Returns the input columns plus ``out_col``.
    """
    from pyspark.sql import Window as W

    from .rank import _PID, _offset_expr, _range_partitioned

    if method not in ("bh", "by"):
        raise ValueError(f"method must be 'bh' or 'by', got {method!r}")
    tiebreak = [tiebreak] if isinstance(tiebreak, str) else list(tiebreak)
    base = df.filter(F.col(p_col).isNotNull()).persist()
    m = base.count()
    scale = float(m)
    if method == "by" and m > 0:
        scale = float(m) * _harmonic_number(m)
    # ONE range shuffle serves both passes: a range partition by
    # ascending (p, tiebreak) is simultaneously a range partition by
    # DESCENDING rank, so the trailing minimum never needs the second
    # shuffle the global_running_min primitive would pay (guide §2.4 —
    # operations keyed the same way share one exchange).  The rank
    # offsets and the per-bucket suffix minima are two tiny
    # bucket-count-sized collects folded driver-side.
    order = [F.asc(p_col)] + [F.asc(t) for t in tiebreak]
    parted = _range_partitioned(base, order)
    off = _offset_expr(parted, F.count(F.lit(1)))
    w_rn = W.partitionBy(_PID).orderBy(*order)
    raw = parted.withColumn(
        "__i", (F.row_number().over(w_rn).cast("long") - 1) + off,
    ).withColumn(
        "__raw",
        F.col(p_col) * F.lit(scale) / (F.col("__i") + 1).cast("double"),
    )
    # min of __raw over STRICTLY LATER buckets.  The RANKED frame is
    # persisted, so the per-bucket row_number window (the expensive sort
    # inside each range bucket) executes exactly ONCE: the bucket-minima
    # collect below materializes the cache, and the final query reads
    # ranked rows back without re-sorting.  The r12 in-plan variant
    # (bucket agg + suffix window + broadcast join inside one action)
    # re-executed that window in the broadcast subtree and measured
    # 1.75x SLOWER on bh_fdr in a same-session interleaved A/B; the
    # r11 collect-from-parted variant ran the window twice as well.
    # The driver fold is bucket-count-sized (scales with partition
    # count, not rows — fine at 100 TB).
    raw = raw.persist()
    brows = sorted(
        raw.groupBy(_PID).agg(F.min("__raw").alias("__bm")).collect(),
        key=lambda r: r[_PID],
    )
    items, running = [], None
    for r in reversed(brows):
        if running is not None:
            items += [F.lit(r[_PID]), F.lit(running)]
        v = r["__bm"]
        if v is not None:
            running = v if running is None else min(running, v)
    suffix_off = (
        F.create_map(*items)[F.col(_PID)] if items
        else F.lit(None).cast("double")
    )
    w_desc = (
        W.partitionBy(_PID)
        .orderBy(F.desc("__i"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    # least() skips nulls, so first-from-the-end buckets need no sentinel
    out = raw.withColumn(
        out_col,
        F.least(F.lit(1.0), F.min("__raw").over(w_desc), suffix_off),
    ).drop(_PID, "__i", "__raw")
    return attach_persisted(out, base, parted, raw)


# ---------------------------------------------------------------------------
# Two-sample ECDF battery: KS with asymptotic p, Cramér–von Mises,
# 1-D Wasserstein.  One shared scaffold: per-distinct-value conditional
# counts (map-side combinable), BOTH inclusive cumulative counts from one
# range-partitioned prefix-sum pass, totals broadcast from one tiny agg.
# ---------------------------------------------------------------------------


def _two_sample_cells(df, value_col, sample_a, small_threshold):
    """(cells, n-dropped-expr): per-distinct-value frame with
    ``__v, __a, __b`` (side counts), ``__ca, __cb`` (inclusive
    cumulatives) and ``__ta, __tb`` (totals, broadcast onto every row).
    ``sample_a`` is a boolean column/expression naming side A; rows
    with null value or null flag are excluded."""
    flag = (
        F.col(sample_a) if isinstance(sample_a, str) else sample_a
    ).cast("boolean")
    v = F.col(value_col).cast("double")
    cells = (
        df.filter(v.isNotNull() & flag.isNotNull())
        .groupBy(v.alias("__v"))
        .agg(
            F.sum(flag.cast("long")).alias("__a"),
            F.sum((~flag).cast("long")).alias("__b"),
        )
    )
    cum = global_prefix_sums(
        cells, [F.asc("__v")], ["__a", "__b"], ["__ca", "__cb"],
        inclusive=True, small_threshold=small_threshold,
    )
    tot = cum.agg(
        F.max("__ca").alias("__ta"), F.max("__cb").alias("__tb"),
    )
    # attach_persisted: lifecycle attrs do not survive the crossJoin
    # transform, so re-attach the prefix-sum pass's persisted frames to
    # the returned cells frame — otherwise every ks/cvm/wasserstein call
    # would leak a distinct-value-cardinality cached frame into the
    # session with no way for callers to release it.
    return attach_persisted(
        cum.crossJoin(F.broadcast(tot)), *persisted_frames(cum),
    )


def ks_test_2samp(
    df: DataFrame,
    value_col: str,
    sample_a,
    p_terms: int = 25,
    small_threshold: int = 100_000,
) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov TEST on one frame: D statistic
    plus the asymptotic two-sided p-value — the single-frame,
    inferential sibling of ``curation.ks_drift`` (which compares two
    corpora and reports only the distance).

    ``p_approx`` uses the Kolmogorov asymptotic series with the
    Stephens small-sample correction: ``lambda = (sqrt(ne) + 0.12 +
    0.11/sqrt(ne)) * D`` with ``ne = n_a n_b / (n_a + n_b)``, ``p = 2
    * sum_{j>=1} (-1)^(j-1) exp(-2 j^2 lambda^2)`` truncated at
    ``p_terms`` terms (the series converges like exp(-2j^2); 25 terms
    is far past double precision) and clamped to [0, 1].  The whole
    statistic folds as column expressions on a one-row aggregate — no
    driver math, so the result composes lazily like every test here.

    Returns one row ``(n_a, n_b, d_stat, p_approx)``.
    """
    cells = _two_sample_cells(df, value_col, sample_a, small_threshold)
    gap = F.abs(
        F.col("__ca") / F.col("__ta") - F.col("__cb") / F.col("__tb"),
    )
    agg = cells.agg(
        F.max("__ta").cast("long").alias("n_a"),
        F.max("__tb").cast("long").alias("n_b"),
        F.max(gap).alias("d_stat"),
    )
    ne = (
        F.col("n_a").cast("double") * F.col("n_b")
        / (F.col("n_a") + F.col("n_b"))
    )
    lam = (
        (F.sqrt(ne) + F.lit(0.12) + F.lit(0.11) / F.sqrt(ne))
        * F.col("d_stat")
    )
    series = None
    for j in range(1, max(int(p_terms), 1) + 1):
        term = F.lit(float((-1) ** (j - 1))) * F.exp(
            F.lit(-2.0 * j * j) * lam * lam,
        )
        series = term if series is None else series + term
    p = F.least(F.lit(1.0), F.greatest(F.lit(0.0), F.lit(2.0) * series))
    out = agg.select(
        "n_a", "n_b", "d_stat",
        F.when((F.col("n_a") > 0) & (F.col("n_b") > 0), p)
        .alias("p_approx"),
    )
    return attach_persisted(out, *persisted_frames(cells))


def cvm_test_2samp(
    df: DataFrame,
    value_col: str,
    sample_a,
    small_threshold: int = 100_000,
) -> DataFrame:
    """Two-sample Cramér–von Mises statistic in its ECDF form:
    ``T = (n_a n_b / (n_a + n_b)^2) * sum_x (F_a(x) - F_b(x))^2``
    summed over every OBSERVATION x (ties weighted by their
    multiplicity) — the integral-squared companion to KS: KS sees only
    the worst single gap, CvM accumulates shift across the whole
    distribution, so it catches broad small drifts a KS max misses.

    Same one-pass distributed shape as :func:`ks_test_2samp`.  Returns
    one row ``(n_a, n_b, t_stat)`` (compare against the CvM tail table
    for your alerting level; the null distribution is not a simple
    closed form, so no p column rather than a wrong one).
    """
    cells = _two_sample_cells(df, value_col, sample_a, small_threshold)
    gap = (
        F.col("__ca") / F.col("__ta") - F.col("__cb") / F.col("__tb")
    )
    agg = cells.agg(
        F.max("__ta").cast("long").alias("n_a"),
        F.max("__tb").cast("long").alias("n_b"),
        F.sum((F.col("__a") + F.col("__b")) * gap * gap).alias("__s"),
    )
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    out = agg.select(
        "n_a", "n_b",
        (na * nb / ((na + nb) * (na + nb)) * F.col("__s")).alias("t_stat"),
    )
    return attach_persisted(out, *persisted_frames(cells))


def wasserstein_1d(
    df: DataFrame,
    value_col: str,
    sample_a,
    small_threshold: int = 100_000,
) -> DataFrame:
    """1-D Wasserstein-1 (earth mover's) distance between the two
    samples' distributions: ``W1 = integral |F_a(x) - F_b(x)| dx =
    sum_i |F_a(v_i) - F_b(v_i)| * (v_{i+1} - v_i)`` over the sorted
    distinct values — the drift measure that reports HOW FAR mass
    moved in the value's own units (PSI/KS/JS are all unitless).

    The consecutive-value pairing joins the cells frame to itself on
    ``position + 1`` using the range-partitioned global row number —
    a keyed sort-merge join on an already-aggregated distinct-value
    table, no single-reducer lead() window.  Returns one row
    ``(n_a, n_b, w1)``.
    """
    from .rank import global_row_number

    cells = _two_sample_cells(df, value_col, sample_a, small_threshold)
    ranked = global_row_number(
        cells, [F.asc("__v")], out_col="__i",
        small_threshold=small_threshold,
    )
    cur = ranked.select(
        "__i", "__v",
        F.abs(
            F.col("__ca") / F.col("__ta") - F.col("__cb") / F.col("__tb"),
        ).alias("__gap"),
        "__ta", "__tb",
    )
    nxt = ranked.select(
        (F.col("__i") - 1).alias("__i"), F.col("__v").alias("__v_next"),
    )
    pair = cur.join(nxt, "__i").agg(
        F.sum(
            F.col("__gap") * (F.col("__v_next") - F.col("__v")),
        ).alias("__w"),
    )
    # n_a/n_b come from the CELLS frame, not the consecutive-pair join:
    # a single-distinct-value input has no pair at all, so the join is
    # empty and a max() over it would return NULL counts — the totals
    # agg keeps the (n_a, n_b, w1) contract intact with w1 = 0.
    tot = cells.agg(
        F.max("__ta").cast("long").alias("n_a"),
        F.max("__tb").cast("long").alias("n_b"),
    )
    out = tot.crossJoin(F.broadcast(pair)).select(
        "n_a", "n_b", F.coalesce(F.col("__w"), F.lit(0.0)).alias("w1"),
    )
    return attach_persisted(
        out, *persisted_frames(cells), *persisted_frames(ranked),
    )


def _std_normal_two_sided_p(z):
    """Two-sided p-value ``2 * (1 - Phi(|z|)) = 1 - erf(|z| / sqrt(2))``
    folded as column expressions via the Abramowitz & Stegun 7.1.26
    rational erf approximation (max abs error 1.5e-7 — far below any
    decision threshold) — Spark has no erf builtin, and this exact
    polynomial reproduces bit-comparably in the SQL oracles."""
    x = F.abs(z) / F.lit(2.0 ** 0.5)
    t = F.lit(1.0) / (F.lit(1.0) + F.lit(0.3275911) * x)
    poly = (
        F.lit(0.254829592) * t
        - F.lit(0.284496736) * t * t
        + F.lit(1.421413741) * t * t * t
        - F.lit(1.453152027) * t * t * t * t
        + F.lit(1.061405429) * t * t * t * t * t
    )
    # 1 - erf(x) = poly * exp(-x^2)
    return F.least(F.lit(1.0), F.greatest(F.lit(0.0), poly * F.exp(-x * x)))


def _std_normal_two_sided_p_local(z: float) -> float:
    """Driver-side twin of :func:`_std_normal_two_sided_p` for one
    finite float: the same polynomial in the same evaluation order."""
    import math

    x = abs(z) / 2.0 ** 0.5
    t = 1.0 / (1.0 + 0.3275911 * x)
    poly = (
        0.254829592 * t
        - 0.284496736 * t * t
        + 1.421413741 * t * t * t
        - 1.453152027 * t * t * t * t
        + 1.061405429 * t * t * t * t * t
    )
    return min(1.0, max(0.0, poly * math.exp(-x * x)))


def _chi2_sf(x, dof: int):
    """``P(chi2_dof > x)`` for a PLAN-TIME integer ``dof`` — the exact
    integer-df survival function unrolled as column expressions via the
    recurrence ``Q(k+2, x) = Q(k, x) + (x/2)^(k/2) e^(-x/2) /
    Gamma(k/2 + 1)`` from the bases ``Q(1, x) = erfc(sqrt(x/2))`` (the
    shared A&S polynomial of :func:`_std_normal_two_sided_p`) and
    ``Q(2, x) = e^(-x/2)``.  Gamma at integer/half-integer arguments
    folds to Python float literals at plan time, so for any given dof
    the whole thing is a fixed closed-form expression the SQL oracles
    repeat verbatim — no incomplete-gamma builtin needed in either
    engine."""
    import math

    dof = int(dof)
    if dof < 1:
        raise ValueError(f"dof must be >= 1, got {dof}")
    x = x.cast("double")
    half = x / F.lit(2.0)
    if dof % 2:
        q = _std_normal_two_sided_p(F.sqrt(x))
        k = 1
    else:
        q = F.exp(-half)
        k = 2
    while k + 2 <= dof:
        g = math.gamma(k / 2.0 + 1.0)
        q = q + F.pow(half, F.lit(k / 2.0)) * F.exp(-half) / F.lit(g)
        k += 2
    return F.least(F.lit(1.0), F.greatest(F.lit(0.0), q))


def mannwhitney_u(
    df: DataFrame,
    value_col: str,
    sample_a,
    small_threshold: int = 100_000,
) -> DataFrame:
    """Mann–Whitney U (Wilcoxon rank-sum) test on one frame: the
    workhorse nonparametric location test.  Midranks handle ties; the
    normal approximation uses the tie-corrected variance
    ``sigma^2 = n_a n_b / 12 * ((N + 1) - sum(t^3 - t) / (N (N - 1)))``
    and no continuity correction (documented; at corpus scale the 0.5
    shift is noise).  ``p_approx`` folds through the A&S erf polynomial
    — the whole test is column expressions on the shared
    distinct-value-cells scaffold, no driver math, no new shuffle
    beyond :func:`_two_sample_cells`.

    Returns one row ``(n_a, n_b, u_a, u_b, z, p_approx)``; ``z``/``p``
    are NULL when every value is tied (zero variance) or a side is
    empty.
    """
    cells = _two_sample_cells(df, value_col, sample_a, small_threshold)
    t_v = (F.col("__a") + F.col("__b")).cast("double")
    c_v = (F.col("__ca") + F.col("__cb")).cast("double")
    # midrank = c - (t-1)/2; sum 2*midrank instead so every summand is
    # INTEGER-valued (exact in double to 2^53) — the rank sum then has
    # no float-accumulation-order dependence and reproduces bitwise in
    # any engine
    agg = cells.agg(
        F.max("__ta").cast("long").alias("n_a"),
        F.max("__tb").cast("long").alias("n_b"),
        F.sum(
            F.col("__a").cast("double") * (2.0 * c_v - t_v + 1.0),
        ).alias("__ra2"),
        F.sum(t_v * t_v * t_v - t_v).alias("__ties"),
    )
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    n = na + nb
    u_a = F.col("__ra2") / 2.0 - na * (na + 1.0) / 2.0
    sig2 = (
        na * nb / 12.0
        * ((n + 1.0) - F.col("__ties") / (n * (n - 1.0)))
    )
    z = (u_a - na * nb / 2.0) / F.sqrt(sig2)
    valid = (F.col("n_a") > 0) & (F.col("n_b") > 0) & (sig2 > 0)
    out = agg.select(
        "n_a", "n_b",
        u_a.alias("u_a"),
        (na * nb - u_a).alias("u_b"),
        F.when(valid, z).alias("z"),
        F.when(valid, _std_normal_two_sided_p(z)).alias("p_approx"),
    )
    return attach_persisted(out, *persisted_frames(cells))


def ad_test_2samp(
    df: DataFrame,
    value_col: str,
    sample_a,
    small_threshold: int = 100_000,
) -> DataFrame:
    """Two-sample Anderson–Darling statistic in the tie-aware discrete
    ECDF form (Scholz & Stephens 1987, eq. 3, k = 2):

    ``A2 = sum_i (1/n_i) * sum_{j : B_j < N}
            l_j * (N M_ij - n_i B_j)^2 / (B_j (N - B_j) N)``

    over the distinct values, where ``l_j`` is the value's multiplicity,
    ``B_j`` the pooled inclusive cumulative count and ``M_ij`` sample
    i's inclusive cumulative count.  AD weights the ECDF gap by the
    inverse pooled variance, so it is the tail-sensitive member of the
    battery: KS sees the worst gap, CvM the integrated gap, AD the
    integrated gap with tails amplified.

    Same single-scaffold shape as the others.  Returns one row
    ``(n_a, n_b, a2_stat)``; compare against the Scholz–Stephens
    critical table for alerting (the standardizing variance needs
    O(N)-term harmonic sums, so no p column rather than a wrong one —
    the same contract as :func:`cvm_test_2samp`).
    """
    cells = _two_sample_cells(df, value_col, sample_a, small_threshold)
    n_tot = (F.col("__ta") + F.col("__tb")).cast("double")
    b_j = (F.col("__ca") + F.col("__cb")).cast("double")
    l_j = (F.col("__a") + F.col("__b")).cast("double")
    denom = b_j * (n_tot - b_j) * n_tot
    interior = b_j < n_tot
    num_a = n_tot * F.col("__ca") - F.col("__ta") * b_j
    num_b = n_tot * F.col("__cb") - F.col("__tb") * b_j
    agg = cells.agg(
        F.max("__ta").cast("long").alias("n_a"),
        F.max("__tb").cast("long").alias("n_b"),
        F.sum(F.when(interior, l_j * num_a * num_a / denom)).alias("__sa"),
        F.sum(F.when(interior, l_j * num_b * num_b / denom)).alias("__sb"),
    )
    out = agg.select(
        "n_a", "n_b",
        F.when(
            (F.col("n_a") > 0) & (F.col("n_b") > 0),
            F.coalesce(F.col("__sa"), F.lit(0.0)) / F.col("n_a")
            + F.coalesce(F.col("__sb"), F.lit(0.0)) / F.col("n_b"),
        ).alias("a2_stat"),
    )
    return attach_persisted(out, *persisted_frames(cells))


def energy_distance_1d(
    df: DataFrame,
    value_col: str,
    sample_a,
    small_threshold: int = 100_000,
) -> DataFrame:
    """1-D energy distance between the two samples:
    ``D = sqrt(2 E|X-Y| - E|X-X'| - E|Y-Y'|)`` (V-statistic
    convention, iid copies).  Like Wasserstein it reports drift in the
    value's own units, but as a proper metric with a characteristic-
    function characterization — zero iff the distributions match.

    Every pairwise mean folds over CONSECUTIVE distinct-value gaps:
    the pairs straddling gap ``(v_i, v_{i+1})`` contribute
    ``gap * (#below * #above)``, so the three O(n^2) double sums become
    one linear pass — the gap pairing reuses the same keyed
    global-row-number join as :func:`wasserstein_1d` (no single-reducer
    lead()).  Returns one row ``(n_a, n_b, e2, e_dist)``.
    """
    from .rank import global_row_number

    cells = _two_sample_cells(df, value_col, sample_a, small_threshold)
    ranked = global_row_number(
        cells, [F.asc("__v")], out_col="__i",
        small_threshold=small_threshold,
    )
    cur = ranked.select(
        "__i", "__v", "__ca", "__cb", "__ta", "__tb",
    )
    nxt = ranked.select(
        (F.col("__i") - 1).alias("__i"), F.col("__v").alias("__v_next"),
    )
    gap = F.col("__v_next") - F.col("__v")
    ca, cb = F.col("__ca").cast("double"), F.col("__cb").cast("double")
    ta, tb = F.col("__ta").cast("double"), F.col("__tb").cast("double")
    pair = cur.join(nxt, "__i").agg(
        F.sum(gap * (ca * (tb - cb) + cb * (ta - ca))).alias("__sxy"),
        F.sum(gap * ca * (ta - ca)).alias("__sxx"),
        F.sum(gap * cb * (tb - cb)).alias("__syy"),
    )
    tot = cells.agg(
        F.max("__ta").cast("long").alias("n_a"),
        F.max("__tb").cast("long").alias("n_b"),
    )
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    e2 = (
        F.lit(2.0) * F.coalesce(F.col("__sxy"), F.lit(0.0)) / (na * nb)
        - F.lit(2.0) * F.coalesce(F.col("__sxx"), F.lit(0.0)) / (na * na)
        - F.lit(2.0) * F.coalesce(F.col("__syy"), F.lit(0.0)) / (nb * nb)
    )
    out = tot.crossJoin(F.broadcast(pair)).select(
        "n_a", "n_b",
        F.when((F.col("n_a") > 0) & (F.col("n_b") > 0), e2).alias("e2"),
        F.when(
            (F.col("n_a") > 0) & (F.col("n_b") > 0),
            F.sqrt(F.greatest(e2, F.lit(0.0))),
        ).alias("e_dist"),
    )
    return attach_persisted(
        out, *persisted_frames(cells), *persisted_frames(ranked),
    )


def qq_shift_2samp(
    df: DataFrame,
    value_col: str,
    sample_a,
    ps=(0.1, 0.25, 0.5, 0.75, 0.9),
    small_threshold: int = 100_000,
) -> DataFrame:
    """Quantile–quantile shift profile: for each probability ``p`` the
    lower ECDF-inverse quantile of each side (``min { v : F(v) >= p }``,
    the exact type-1 quantile) and their difference — WHERE in the
    distribution the two samples diverge, in value units, the drilldown
    you read after KS/AD/energy says "they differ".

    One aggregation over the shared cells scaffold produces every
    quantile as ``min(when(F >= p, v))`` scalars; ``inline`` unpivots
    them to ``(p, q_a, q_b, shift)`` rows — len(ps) output rows, no
    extra shuffle.
    """
    ps = [float(p) for p in ps]
    if not ps or any(not (0.0 < p <= 1.0) for p in ps):
        raise ValueError("qq_shift_2samp: every p must be in (0, 1]")
    cells = _two_sample_cells(df, value_col, sample_a, small_threshold)
    fa = F.col("__ca") / F.col("__ta")
    fb = F.col("__cb") / F.col("__tb")
    aggs = []
    for i, p in enumerate(ps):
        aggs.append(
            F.min(F.when(fa >= F.lit(p), F.col("__v"))).alias(f"__qa_{i}"),
        )
        aggs.append(
            F.min(F.when(fb >= F.lit(p), F.col("__v"))).alias(f"__qb_{i}"),
        )
    agg = cells.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(p).alias("p"),
                F.col(f"__qa_{i}").alias("q_a"),
                F.col(f"__qb_{i}").alias("q_b"),
                (F.col(f"__qb_{i}") - F.col(f"__qa_{i}")).alias("shift"),
            )
            for i, p in enumerate(ps)
        ],
    )
    out = agg.select(F.inline(rows))
    return attach_persisted(out, *persisted_frames(cells))


def yuen_trimmed_test(
    df: DataFrame,
    value_col: str,
    sample_a,
    trim: float = 0.2,
    small_threshold: int = 100_000,
) -> DataFrame:
    """Yuen's trimmed-mean two-sample test — the robust location test
    for heavy-tailed metrics (latencies, revenues) where a mean test is
    dominated by outliers and a rank test throws away magnitude:
    compare ``trim``-trimmed means with winsorized variances,
    ``t = (mt_a - mt_b) / sqrt(d_a + d_b)`` with
    ``d_i = s2w_i (n_i - 1) / (h_i (h_i - 1))``, ``h_i = n_i - 2k_i``,
    ``k_i = floor(trim * n_i)``, and the Welch-style df.

    Everything folds over the SAME distinct-value cells scaffold as the
    rest of the battery — per-row rank-window intersections give the
    trimmed sums (``count_in_window = clamp(min(c, n-k) - max(c_prev,
    k))``), the winsorization boundary values come from two min-when
    aggregates in the same pass, and the winsorized moments assemble
    from scalars post-agg.  No sort beyond the shared prefix-sum pass,
    no driver math.

    ``p_approx`` is the NORMAL approximation through the A&S erf
    polynomial (documented: with trimmed h in the thousands the t vs
    normal difference is < 1e-3; for tiny samples read t/df against a
    t-table).  Returns one row ``(n_a, n_b, h_a, h_b, tmean_a,
    tmean_b, t_stat, df, p_approx)``.
    """
    if not (0.0 <= trim < 0.5):
        raise ValueError("trim must be in [0, 0.5)")
    cells = _two_sample_cells(df, value_col, sample_a, small_threshold)
    g = F.lit(float(trim))

    def _side(cnt, cum, tot):
        n = F.col(tot).cast("double")
        k = F.floor(g * n).cast("double")
        c = F.col(cum).cast("double")
        prev = c - F.col(cnt).cast("double")
        in_win = F.greatest(
            F.lit(0.0),
            F.least(c, n - k) - F.greatest(prev, k),
        )
        v = F.col("__v")
        return {
            "tsum": F.sum(v * in_win),
            "tsq": F.sum(v * v * in_win),
            # winsorization boundaries: values at ranks k+1 and n-k
            "vlo": F.min(F.when(c >= k + 1, v)),
            "vhi": F.min(F.when(c >= n - k, v)),
            "n": F.max(F.col(tot)).cast("long"),
        }

    a = _side("__a", "__ca", "__ta")
    b = _side("__b", "__cb", "__tb")
    agg = cells.agg(
        a["n"].alias("n_a"), b["n"].alias("n_b"),
        a["tsum"].alias("__tsa"), a["tsq"].alias("__tqa"),
        a["vlo"].alias("__loa"), a["vhi"].alias("__hia"),
        b["tsum"].alias("__tsb"), b["tsq"].alias("__tqb"),
        b["vlo"].alias("__lob"), b["vhi"].alias("__hib"),
    )

    def _stats(n_col, ts, tq, lo, hi):
        n = F.col(n_col).cast("double")
        k = F.floor(g * n).cast("double")
        h = n - 2 * k
        tmean = F.col(ts) / h
        wsum = F.col(ts) + k * (F.col(lo) + F.col(hi))
        wsq = F.col(tq) + k * (
            F.col(lo) * F.col(lo) + F.col(hi) * F.col(hi)
        )
        mw = wsum / n
        s2w = (wsq - n * mw * mw) / (n - 1.0)
        d = s2w * (n - 1.0) / (h * (h - 1.0))
        return h, tmean, d

    ha, ma, da = _stats("n_a", "__tsa", "__tqa", "__loa", "__hia")
    hb, mb, db = _stats("n_b", "__tsb", "__tqb", "__lob", "__hib")
    t = (ma - mb) / F.sqrt(da + db)
    dfree = (da + db) * (da + db) / (
        da * da / (ha - 1.0) + db * db / (hb - 1.0)
    )
    valid = (ha > 1) & (hb > 1) & (da + db > 0)
    out = agg.select(
        "n_a", "n_b",
        ha.cast("long").alias("h_a"), hb.cast("long").alias("h_b"),
        ma.alias("tmean_a"), mb.alias("tmean_b"),
        F.when(valid, t).alias("t_stat"),
        F.when(valid, dfree).alias("df"),
        F.when(valid, _std_normal_two_sided_p(t)).alias("p_approx"),
    )
    return attach_persisted(out, *persisted_frames(cells))


def ks_test_2samp_by(
    df: DataFrame,
    group_cols,
    value_col: str,
    sample_a,
    p_terms: int = 25,
    small_threshold: int = 100_000,
) -> DataFrame:
    """PER-GROUP two-sample KS test: :func:`ks_test_2samp` run
    simultaneously for every segment (source, language, date...) in ONE
    pass — the drift sweep a corpus owner runs per source, without a
    per-segment job loop.

    Scale shape: per-(group, distinct-value) conditional counts (one
    map-side-combinable groupBy), BOTH inclusive cumulatives from one
    :func:`rank.grouped_prefix_sums` range shuffle on (group, value) —
    a dominant segment spans many partitions, never one reducer — then
    one grouped fold to (D, totals) per segment and the same
    Stephens-corrected asymptotic p as the global test, all column
    expressions.

    Returns one row per group: ``(group..., n_a, n_b, d_stat,
    p_approx)``; groups missing a side get NULL d/p (no distribution
    to compare).
    """
    group_cols = (
        [group_cols] if isinstance(group_cols, str) else list(group_cols)
    )
    from .rank import grouped_prefix_sums

    flag = (
        F.col(sample_a) if isinstance(sample_a, str) else sample_a
    ).cast("boolean")
    v = F.col(value_col).cast("double")
    cells = (
        df.filter(v.isNotNull() & flag.isNotNull())
        .groupBy(*group_cols, v.alias("__v"))
        .agg(
            F.sum(flag.cast("long")).alias("__a"),
            F.sum((~flag).cast("long")).alias("__b"),
        )
    )
    cum = grouped_prefix_sums(
        cells, group_cols, [F.asc("__v")], ["__a", "__b"],
        ["__ca", "__cb"], inclusive=True, small_threshold=small_threshold,
    )
    # per-group totals as a group-cardinality frame joined back (AQE
    # broadcasts it when small) — NOT a partitionBy(group) window, which
    # would put each whole group through one reducer.  Derived from CUM
    # (max of the inclusive cumulatives), not from cells: cum's range
    # pass persisted its input, so the corpus scan happens once.
    tot = cum.groupBy(*group_cols).agg(
        F.max("__ca").alias("__ta"), F.max("__cb").alias("__tb"),
    )
    joined = cum.join(tot, group_cols)
    # try_divide: a one-sided group has total 0, and ANSI mode errors on
    # division by zero — NULL ECDF values collapse to a NULL d_stat for
    # that group (masked to NULL in the output either way)
    per = joined.groupBy(*group_cols).agg(
        F.max("__ta").cast("long").alias("n_a"),
        F.max("__tb").cast("long").alias("n_b"),
        F.max(
            F.abs(
                F.try_divide(F.col("__ca"), F.col("__ta"))
                - F.try_divide(F.col("__cb"), F.col("__tb")),
            ),
        ).alias("d_stat"),
    )
    ne = (
        F.col("n_a").cast("double") * F.col("n_b")
        / (F.col("n_a") + F.col("n_b"))
    )
    lam = (
        (F.sqrt(ne) + F.lit(0.12) + F.lit(0.11) / F.sqrt(ne))
        * F.col("d_stat")
    )
    series = None
    for j in range(1, max(int(p_terms), 1) + 1):
        term = F.lit(float((-1) ** (j - 1))) * F.exp(
            F.lit(-2.0 * j * j) * lam * lam,
        )
        series = term if series is None else series + term
    p = F.least(F.lit(1.0), F.greatest(F.lit(0.0), F.lit(2.0) * series))
    ok = (F.col("n_a") > 0) & (F.col("n_b") > 0)
    out = per.select(
        *group_cols, "n_a", "n_b",
        F.when(ok, F.col("d_stat")).alias("d_stat"),
        F.when(ok, p).alias("p_approx"),
    )
    return attach_persisted(out, *persisted_frames(cum))


def _log_factorial(n):
    """``ln(n!)`` as a column expression that reproduces bit-comparably
    across engines: exact ``log(factorial(n))`` for n < 20 (both Spark
    and DuckDB have an integer factorial builtin), the 3-term Stirling
    series above (absolute error < 4e-10 at n=20, falling as n^-5 —
    orders of magnitude below any p-value decision or 6-dp rounding).
    Neither engine exposes lgamma, and a shared explicit formula is the
    point: the SQL oracles repeat it verbatim."""
    n = n.cast("double")
    stirling = (
        n * F.log(n) - n
        + F.lit(0.5) * F.log(F.lit(2.0 * 3.141592653589793) * n)
        + F.lit(1.0) / (F.lit(12.0) * n)
        - F.lit(1.0) / (F.lit(360.0) * n * n * n)
    )
    return F.when(
        n < 20, F.log(F.factorial(n.cast("int")).cast("double")),
    ).otherwise(stirling)


# The same helper as oracle SQL (x := the count expression).
LOG_FACTORIAL_SQL = """
    CASE WHEN {x} < 20 THEN ln(CAST(factorial(CAST({x} AS INTEGER)) AS DOUBLE))
         ELSE {x} * ln(CAST({x} AS DOUBLE)) - {x}
              + 0.5 * ln(2.0 * 3.141592653589793 * {x})
              + 1.0 / (12.0 * {x})
              - 1.0 / (360.0 * {x} * {x} * {x})
    END
"""


def fisher_exact_2x2(
    df: DataFrame,
    row_cond,
    col_cond,
) -> DataFrame:
    """Fisher's exact test on the 2x2 table defined by two boolean
    column conditions.  Returns ONE row ``(a, b, c, d, n, odds_ratio,
    p_one_sided, p_two_sided)`` — ``a`` counts rows where both hold,
    ``odds_ratio`` is the sample (not conditional-MLE) ratio.

    Scale shape: ONE aggregate produces the table; the hypergeometric
    support is then enumerated with ``spark.range`` (distributed — the
    support size is min(row1, col1) - max(0, row1 + col1 - n), which
    grows with the MARGINS, not the row count) and summed in one pass.
    Log-pmfs use :func:`_log_factorial`, so the whole computation is
    engine-replayable.  The two-sided rule is the scipy convention:
    include every k whose pmf is <= pmf(observed) * (1 + 1e-7); the
    tolerance absorbs float noise on STRUCTURAL ties (symmetric
    tables), where the mathematical difference is exactly zero.  The
    4 table counts (one row) are collected to build the range — a
    bounded driver action.  For margins in the billions prefer a
    chi-squared test: the exact enumeration is meaningful (and its
    p distinguishable from chi2) only for modest margins.
    """
    spark = df.sparkSession
    row_c = row_cond.cast("boolean")
    col_c = col_cond.cast("boolean")
    cells = df.select(
        F.sum((row_c & col_c).cast("long")).alias("a"),
        F.sum((row_c & ~col_c).cast("long")).alias("b"),
        F.sum((~row_c & col_c).cast("long")).alias("c"),
        F.sum((~row_c & ~col_c).cast("long")).alias("d"),
    ).collect()[0]
    a, b, c, d = (int(cells[k] or 0) for k in ("a", "b", "c", "d"))
    n = a + b + c + d
    r1, c1 = a + b, a + c
    if n == 0:
        raise ValueError("fisher_exact_2x2: empty table")
    k_lo, k_hi = max(0, r1 + c1 - n), min(r1, c1)

    def _lp(k):
        return (
            _log_factorial(F.lit(r1))
            + _log_factorial(F.lit(n - r1))
            + _log_factorial(F.lit(c1))
            + _log_factorial(F.lit(n - c1))
            - _log_factorial(F.lit(n))
            - _log_factorial(k)
            - _log_factorial(F.lit(r1) - k)
            - _log_factorial(F.lit(c1) - k)
            - _log_factorial(F.lit(n - r1 - c1) + k)
        )
    grid = spark.range(k_lo, k_hi + 1).select(
        F.col("id").alias("k"), _lp(F.col("id")).alias("lp"),
    )
    lp_obs = _lp(F.lit(a))
    return grid.agg(
        F.lit(a).cast("long").alias("a"),
        F.lit(b).cast("long").alias("b"),
        F.lit(c).cast("long").alias("c"),
        F.lit(d).cast("long").alias("d"),
        F.lit(n).cast("long").alias("n"),
        F.when(
            F.lit(b * c > 0),
            F.lit(float(a) * d) / F.lit(float(max(b * c, 1))),
        ).alias("odds_ratio"),
        F.sum(
            F.when(F.col("k") >= a, F.exp("lp")).otherwise(0.0),
        ).alias("p_one_sided"),
        F.sum(
            F.when(
                F.col("lp") <= lp_obs + F.lit(float(_np_log1p_tol())),
                F.exp("lp"),
            ).otherwise(0.0),
        ).alias("p_two_sided"),
    )


def _np_log1p_tol() -> float:
    """ln(1 + 1e-7), spelled as a shared constant so the oracle SQL can
    repeat the literal: the scipy-convention relative tolerance for the
    two-sided inclusion rule, applied in LOG space."""
    return 9.999999505838704e-08


def jarque_bera(
    df: DataFrame,
    value_col: str,
    group_cols=(),
) -> DataFrame:
    """Jarque-Bera normality test per group: skewness / excess kurtosis
    from CENTERED power sums, ``JB = n/6 * (g1^2 + g2^2/4)``, and the
    exact chi-squared(2) p-value ``exp(-JB/2)`` (closed form — no
    approximation).  Two passes: per-group means first (a tiny frame,
    broadcast back), then one aggregate of (x-mu)^2..4 — centering
    BEFORE raising to the 4th power is what keeps money-scale columns
    (1e5^4 = 1e20) inside double precision; the naive raw-moment
    expansion is catastrophically cancellative there.

    Returns ``(group_cols..., n, skewness, kurtosis_excess, jb_stat,
    p_value)``; groups with fewer than 8 rows or zero variance yield
    NULL statistics."""
    group_cols = (
        [group_cols] if isinstance(group_cols, str) else list(group_cols)
    )
    base = df.filter(F.col(value_col).isNotNull()).select(
        *group_cols, F.col(value_col).cast("double").alias("__v"),
    )
    mu = base.groupBy(*group_cols).agg(F.avg("__v").alias("__mu"))
    joined = (
        base.join(F.broadcast(mu), group_cols)
        if group_cols
        else base.crossJoin(F.broadcast(mu))
    )
    dev = F.col("__v") - F.col("__mu")
    agg = joined.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dev * dev).alias("s2"),
        F.sum(dev * dev * dev).alias("s3"),
        F.sum(dev * dev * dev * dev).alias("s4"),
    )
    n = F.col("n").cast("double")
    m2, m3, m4 = F.col("s2") / n, F.col("s3") / n, F.col("s4") / n
    g1 = m3 / F.pow(m2, 1.5)
    g2 = m4 / (m2 * m2) - F.lit(3.0)
    jb = n / F.lit(6.0) * (g1 * g1 + g2 * g2 / F.lit(4.0))
    ok = (F.col("n") >= 8) & (F.col("s2") > 0)
    return agg.select(
        *group_cols,
        F.col("n").cast("long").alias("n"),
        F.when(ok, g1).alias("skewness"),
        F.when(ok, g2).alias("kurtosis_excess"),
        F.when(ok, jb).alias("jb_stat"),
        F.when(ok, F.exp(-jb / F.lit(2.0))).alias("p_value"),
    )


def ljung_box(
    df: DataFrame,
    x_col: str,
    y_col: str,
    group_cols=(),
    max_lag: int = 10,
) -> DataFrame:
    """Ljung-Box portmanteau test for serial correlation per group:
    ``LB = n(n+2) * sum_k r_k^2 / (n-k)`` over lags 1..``max_lag`` from
    :func:`woodwork_spark.operators.timeseries.acf` (one per-group sort
    produces every lag), with the EXACT chi-squared(max_lag) survival
    function — closed form for even df: ``exp(-x/2) * sum_{j<df/2}
    (x/2)^j / j!`` — so ``max_lag`` must be even (no approximation is
    then needed anywhere).

    Returns ``(group_cols..., n, lb_stat, df_lags, p_value)``."""
    from woodwork_spark.operators.timeseries import acf

    if max_lag % 2 != 0 or max_lag < 2:
        raise ValueError(
            f"ljung_box: max_lag must be even and >= 2 (the exact "
            f"even-df chi-squared survival is the point), got {max_lag}",
        )
    group_cols = (
        [group_cols] if isinstance(group_cols, str) else list(group_cols)
    )
    r = acf(df, x_col, y_col, group_cols, max_lag=max_lag)
    n = F.col("n_points").cast("double")
    term = (
        F.col("acf") * F.col("acf")
        / (n - F.col("lag").cast("double"))
    )
    agg = r.groupBy(*group_cols).agg(
        F.max("n_points").alias("n"),
        F.sum(term).alias("sum_terms"),
        F.count(F.when(F.col("acf").isNull(), 1)).alias("n_null"),
    )
    nn = F.col("n").cast("double")
    lb = nn * (nn + F.lit(2.0)) * F.col("sum_terms")
    half = lb / F.lit(2.0)
    # sum_{j=0}^{max_lag/2 - 1} half^j / j!, factorials as literals
    surv = None
    fact = 1.0
    for j in range(max_lag // 2):
        if j > 0:
            fact *= j
        t = F.pow(half, F.lit(float(j))) / F.lit(float(fact))
        surv = t if surv is None else surv + t
    p = F.least(
        F.lit(1.0), F.greatest(F.lit(0.0), F.exp(-half) * surv),
    )
    ok = (F.col("n_null") == 0) & (F.col("n") > max_lag + 1)
    return agg.select(
        *group_cols,
        F.col("n").cast("long").alias("n"),
        F.when(ok, lb).alias("lb_stat"),
        F.lit(max_lag).cast("long").alias("df_lags"),
        F.when(ok, p).alias("p_value"),
    )


def durbin_watson(
    df: DataFrame,
    y_col: str,
    x_col: str,
    order_col: str,
    group_cols=(),
    tie_cols=(),
) -> DataFrame:
    """Durbin-Watson statistic of the residuals of the simple OLS
    ``y ~ x`` taken in ``order_col`` order, per group: ``DW =
    sum_{t>=2}(e_t - e_{t-1})^2 / sum e_t^2``.  The slope comes from
    CENTERED sums (two aggregates: per-group means broadcast back, then
    the covariance pass — no raw-moment cancellation, no collect); the
    lag is one per-group window sort, tie-broken on ``y`` then ``x``
    then ``tie_cols`` so duplicate ``order_col`` values yield the same
    DW on every run/partitioning (pass a unique id in ``tie_cols`` for
    a fully deterministic ordering when (order, y, x) can repeat —
    the same hazard contract as ``timeseries.detect_anomalies``).
    Per-group data must fit a partition — true for the aggregated
    series DW is meaningful on.

    Returns ``(group_cols..., n, slope, intercept, dw_stat)``; DW is in
    [0, 4], ~2 means no first-order autocorrelation."""
    group_cols = (
        [group_cols] if isinstance(group_cols, str) else list(group_cols)
    )
    tie_cols = [tie_cols] if isinstance(tie_cols, str) else list(tie_cols)
    extra_ties = [c for c in tie_cols if c not in group_cols]
    base = df.filter(
        F.col(y_col).isNotNull() & F.col(x_col).isNotNull()
        & F.col(order_col).isNotNull(),
    ).select(
        *group_cols,
        *extra_ties,
        F.col(y_col).cast("double").alias("__y"),
        F.col(x_col).cast("double").alias("__x"),
        F.col(order_col).alias("__t"),
    )
    mu = base.groupBy(*group_cols).agg(
        F.avg("__y").alias("__my"), F.avg("__x").alias("__mx"),
    )
    joined = (
        base.join(F.broadcast(mu), group_cols)
        if group_cols
        else base.crossJoin(F.broadcast(mu))
    )
    cx, cy = F.col("__x") - F.col("__mx"), F.col("__y") - F.col("__my")
    stats = joined.groupBy(*group_cols).agg(
        F.sum(cx * cx).alias("__sxx"), F.sum(cx * cy).alias("__sxy"),
        F.max("__my").alias("__my"), F.max("__mx").alias("__mx"),
    )
    with_fit = (
        joined.drop("__my", "__mx").join(F.broadcast(stats), group_cols)
        if group_cols
        else joined.drop("__my", "__mx").crossJoin(F.broadcast(stats))
    )
    slope = F.col("__sxy") / F.col("__sxx")
    resid = (
        F.col("__y") - F.col("__my") - slope * (F.col("__x") - F.col("__mx"))
    )
    part = (
        W.partitionBy(*group_cols) if group_cols else W.partitionBy(F.lit(1))
    )
    order_keys = [F.col("__t"), F.col("__y"), F.col("__x")] + [
        F.col(c) for c in tie_cols
    ]
    e = with_fit.withColumn("__e", resid).withColumn(
        "__e_prev", F.lag("__e").over(part.orderBy(*order_keys)),
    )
    de = F.col("__e") - F.col("__e_prev")
    out = e.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n"),
        F.max(slope).alias("slope"),
        F.max(F.col("__my") - slope * F.col("__mx")).alias("intercept"),
        (
            F.sum(F.when(F.col("__e_prev").isNotNull(), de * de)
                  .otherwise(0.0))
            / F.sum(F.col("__e") * F.col("__e"))
        ).alias("dw_stat"),
    )
    return out.select(
        *group_cols, F.col("n").cast("long").alias("n"),
        "slope", "intercept", "dw_stat",
    )


def cochran_armitage(
    df: DataFrame,
    score_col: str,
    success_col,
) -> DataFrame:
    """Cochran-Armitage trend test: does the success probability trend
    monotonically with an ordinal score?  Row-level formulation (exactly
    the classic grouped one): ``T = sum(s*y)``, ``Z = (T - p*sum(s)) /
    sqrt(p(1-p)(sum(s^2) - sum(s)^2/N))`` with the pooled rate p; the
    two-sided p-value through the shared A&S erf polynomial.  ONE
    aggregate over (score, outcome) — no per-group pass needed.

    Returns one row ``(n, n_success, z_stat, p_approx)``."""
    y = success_col.cast("double") if hasattr(success_col, "cast") else (
        F.col(success_col).cast("boolean").cast("double")
    )
    s = F.col(score_col).cast("double")
    agg = df.filter(s.isNotNull() & y.isNotNull()).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(y).alias("ny"),
        F.sum(s).alias("ss"),
        F.sum(s * s).alias("ss2"),
        F.sum(s * y).alias("t"),
    )
    n = F.col("n").cast("double")
    p = F.col("ny") / n
    var = p * (F.lit(1.0) - p) * (
        F.col("ss2") - F.col("ss") * F.col("ss") / n
    )
    z = (F.col("t") - p * F.col("ss")) / F.sqrt(var)
    ok = (F.col("ny") > 0) & (F.col("ny") < F.col("n")) & (var > 0)
    return agg.select(
        F.col("n").cast("long").alias("n"),
        F.col("ny").cast("long").alias("n_success"),
        F.when(ok, z).alias("z_stat"),
        F.when(ok, _std_normal_two_sided_p(z)).alias("p_approx"),
    )


def breusch_pagan(
    df: DataFrame,
    y_col: str,
    x_col: str,
) -> DataFrame:
    """Breusch-Pagan LM test for heteroscedasticity of the simple OLS
    ``y ~ x``: regress squared residuals on x, ``BP = n * R^2`` of that
    auxiliary fit, chi-squared(1) p-value via the EXACT identity
    ``P(chi2_1 > x) = 2(1 - Phi(sqrt(x)))`` through the shared erf
    polynomial.  Everything is centered-sums column algebra: means pass,
    covariance pass, auxiliary pass — three aggregates, zero collects,
    no windows.

    Returns one row ``(n, slope, bp_stat, p_approx)``."""
    base = df.filter(
        F.col(y_col).isNotNull() & F.col(x_col).isNotNull(),
    ).select(
        F.col(y_col).cast("double").alias("__y"),
        F.col(x_col).cast("double").alias("__x"),
    )
    mu = base.agg(F.avg("__y").alias("__my"), F.avg("__x").alias("__mx"))
    j1 = base.crossJoin(F.broadcast(mu))
    cx, cy = F.col("__x") - F.col("__mx"), F.col("__y") - F.col("__my")
    stats = j1.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(cx * cx).alias("sxx"), F.sum(cx * cy).alias("sxy"),
        F.max("__my").alias("__my"), F.max("__mx").alias("__mx"),
    )
    j2 = base.crossJoin(F.broadcast(stats))
    slope = F.col("sxy") / F.col("sxx")
    resid = (
        F.col("__y") - F.col("__my") - slope * (F.col("__x") - F.col("__mx"))
    )
    u = resid * resid
    cx2 = F.col("__x") - F.col("__mx")
    aux = j2.agg(
        F.max("n").alias("n"),
        F.max(slope).alias("slope"),
        F.max("sxx").alias("sxx"),
        F.avg(u).alias("mu_u"),
        F.sum(cx2 * u).alias("sxu"),
        F.sum(u * u).alias("suu_raw"),
    )
    n = F.col("n").cast("double")
    # centered aux sums: suu = sum(u^2) - n*mean(u)^2; r2 = sxu^2/(sxx*suu)
    suu = F.col("suu_raw") - n * F.col("mu_u") * F.col("mu_u")
    r2 = F.col("sxu") * F.col("sxu") / (F.col("sxx") * suu)
    bp = n * r2
    ok = (suu > 0) & (F.col("sxx") > 0)
    return aux.select(
        F.col("n").cast("long").alias("n"),
        F.when(ok, F.col("slope")).alias("slope"),
        F.when(ok, bp).alias("bp_stat"),
        F.when(ok, _std_normal_two_sided_p(F.sqrt(bp))).alias("p_approx"),
    )


def kendall_tau_b(
    df: DataFrame,
    x_col: str,
    y_col: str,
    max_cells: int = 100_000,
) -> DataFrame:
    """Kendall's tau-b rank correlation with full tie handling — the
    third member of the dependence family (Pearson/Spearman live in
    statistics.dependence).

    Never ranks raw rows: the data collapses to (x, y) VALUE CELLS
    first (the mann_whitney / threshold_sweep discipline), and the
    pair statistic folds over the cell self-join — ``C - D =
    sum_{a.x < b.x} n_a * n_b * sign(b.y - a.y)`` — which is
    |cells|^2/2 work, NOT |rows|^2.  The contract is therefore about
    distinct-value structure: ratings, counts, bucketed measures.  For
    continuous columns, bin first; ``max_cells`` fails fast otherwise.
    All pair counts are EXACT integers (engine-replayable with no
    rounding guard); tau is one integer ratio.

    ``z_approx``/``p_approx`` use the classic no-ties normal
    approximation ``z = 3(C-D) / sqrt(n(n-1)(2n+5)/2)`` — documented
    as approximate under heavy ties (the tie-corrected variance is a
    four-term mess nobody replays identically; the tau itself IS
    tie-corrected).

    Returns one row ``(n, n_cells, concordant, discordant, tau_b,
    z_approx, p_approx)``.
    """
    base = df.filter(
        F.col(x_col).isNotNull() & F.col(y_col).isNotNull(),
    ).select(
        F.col(x_col).cast("double").alias("__x"),
        F.col(y_col).cast("double").alias("__y"),
    )
    cells = base.groupBy("__x", "__y").agg(
        F.count(F.lit(1)).alias("__n"),
    ).persist()
    n_cells = cells.count()
    if n_cells > max_cells:
        cells.unpersist()
        raise ValueError(
            f"kendall_tau_b: {n_cells} distinct (x, y) cells — the "
            f"pair fold is cells^2; bin the columns first or raise "
            f"max_cells (now {max_cells})",
        )
    a = cells.select(
        F.col("__x").alias("__xa"), F.col("__y").alias("__ya"),
        F.col("__n").alias("__na"),
    )
    b = cells.select(
        F.col("__x").alias("__xb"), F.col("__y").alias("__yb"),
        F.col("__n").alias("__nb"),
    )
    pairs = a.join(F.broadcast(b), F.col("__xa") < F.col("__xb")).select(
        (
            F.col("__na") * F.col("__nb")
            * F.signum(F.col("__yb") - F.col("__ya")).cast("long")
        ).alias("__s"),
        (
            F.when(F.col("__yb") > F.col("__ya"),
                   F.col("__na") * F.col("__nb")).otherwise(F.lit(0))
        ).alias("__c"),
        (
            F.when(F.col("__yb") < F.col("__ya"),
                   F.col("__na") * F.col("__nb")).otherwise(F.lit(0))
        ).alias("__d"),
    )
    cd = pairs.agg(
        F.sum("__s").alias("__cmd"),
        F.sum("__c").cast("long").alias("concordant"),
        F.sum("__d").cast("long").alias("discordant"),
    )
    margs = base.agg(F.count(F.lit(1)).alias("n"))
    tx = (
        base.groupBy("__x").agg(F.count(F.lit(1)).alias("t"))
        .agg(F.sum(F.col("t") * (F.col("t") - 1) / 2).alias("n1"))
    )
    ty = (
        base.groupBy("__y").agg(F.count(F.lit(1)).alias("t"))
        .agg(F.sum(F.col("t") * (F.col("t") - 1) / 2).alias("n2"))
    )
    j = (
        cd.crossJoin(F.broadcast(margs))
        .crossJoin(F.broadcast(tx))
        .crossJoin(F.broadcast(ty))
    )
    n = F.col("n").cast("double")
    n0 = n * (n - 1) / 2.0
    tau = F.col("__cmd").cast("double") / F.sqrt(
        (n0 - F.col("n1")) * (n0 - F.col("n2")),
    )
    z = 3.0 * F.col("__cmd").cast("double") / F.sqrt(
        n * (n - 1) * (2 * n + 5) / 2.0,
    )
    ok = (n0 > F.col("n1")) & (n0 > F.col("n2"))
    out = j.select(
        F.col("n").cast("long").alias("n"),
        F.lit(n_cells).cast("long").alias("n_cells"),
        "concordant", "discordant",
        F.when(ok, tau).alias("tau_b"),
        F.when(ok, z).alias("z_approx"),
        F.when(ok, _std_normal_two_sided_p(z)).alias("p_approx"),
    )
    from woodwork_spark.lifecycle import attach_persisted

    return attach_persisted(out, cells)


def pairwise_welch(
    df: DataFrame,
    value_col: str,
    group_col: str,
    max_groups: int = 200,
) -> DataFrame:
    """Post-hoc pairwise comparisons after an ANOVA: Welch's t for every
    group pair from ONE grouped moment aggregate (k rows) self-joined —
    the raw data is touched once regardless of how many pairs exist.
    ``p_adj`` is Bonferroni (times k(k-1)/2, capped at 1): exact, monotone,
    and engine-replayable — unlike Tukey's studentized range, whose
    quantile has no closed form either engine could share.  The
    Welch-Satterthwaite df is reported; the p-value uses the normal
    approximation through the shared erf polynomial (documented — at the
    harness's per-group sizes the t and normal tails agree to ~1e-3,
    and the df is there for exact offline lookup).

    Returns one row per unordered pair ``(group_a, group_b, n_a, n_b,
    mean_diff, se, t_stat, df_ws, p_approx, p_adj)``; a fail-fast
    ``max_groups`` guard bounds the k^2 pair frame.
    """
    base = df.filter(
        F.col(value_col).isNotNull() & F.col(group_col).isNotNull(),
    ).select(
        F.col(group_col).alias("__g"),
        F.col(value_col).cast("double").alias("__v"),
    )
    stats = base.groupBy("__g").agg(
        F.count(F.lit(1)).alias("__n"),
        F.avg("__v").alias("__m"),
        F.var_samp("__v").alias("__s2"),
    ).persist()
    k = stats.count()
    if k > max_groups:
        stats.unpersist()
        raise ValueError(
            f"pairwise_welch: {k} groups -> {k * (k - 1) // 2} pairs; "
            f"raise max_groups (now {max_groups}) if intended",
        )
    n_pairs = k * (k - 1) // 2
    a = stats.select(
        F.col("__g").alias("group_a"), F.col("__n").alias("n_a"),
        F.col("__m").alias("__ma"), F.col("__s2").alias("__sa"),
    )
    b = stats.select(
        F.col("__g").alias("group_b"), F.col("__n").alias("n_b"),
        F.col("__m").alias("__mb"), F.col("__s2").alias("__sb"),
    )
    pairs = a.join(
        F.broadcast(b), F.col("group_a") < F.col("group_b"),
    )
    va = F.col("__sa") / F.col("n_a")
    vb = F.col("__sb") / F.col("n_b")
    se = F.sqrt(va + vb)
    t = (F.col("__ma") - F.col("__mb")) / se
    dfw = (va + vb) * (va + vb) / (
        va * va / (F.col("n_a") - 1) + vb * vb / (F.col("n_b") - 1)
    )
    ok = (F.col("n_a") >= 2) & (F.col("n_b") >= 2) & (va + vb > 0)
    p = _std_normal_two_sided_p(t)
    out = pairs.select(
        "group_a", "group_b",
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        (F.col("__ma") - F.col("__mb")).alias("mean_diff"),
        F.when(ok, se).alias("se"),
        F.when(ok, t).alias("t_stat"),
        F.when(ok, dfw).alias("df_ws"),
        F.when(ok, p).alias("p_approx"),
        F.when(ok, F.least(F.lit(1.0), p * F.lit(float(n_pairs))))
        .alias("p_adj"),
    )
    from woodwork_spark.lifecycle import attach_persisted

    return attach_persisted(out, stats)


def cronbach_alpha(df: DataFrame, item_cols) -> DataFrame:
    """Cronbach's alpha internal-consistency reliability over k item
    columns: ``alpha = k/(k-1) * (1 - sum(var_i) / var(total))`` — ONE
    aggregate over rows complete in every item (listwise deletion, the
    standard convention).  Completes the agreement family (Cohen/Fleiss
    kappa rate CATEGORICAL raters; alpha rates NUMERIC item batteries).

    Returns one row ``(n, k, sum_item_var, total_var, alpha)``;
    fewer than 2 rows or zero total variance yields NULL alpha.
    """
    item_cols = (
        [item_cols] if isinstance(item_cols, str) else list(item_cols)
    )
    if len(item_cols) < 2:
        raise ValueError("cronbach_alpha needs >= 2 item columns")
    notnull = F.lit(True)
    for c in item_cols:
        notnull = notnull & F.col(c).isNotNull()
    total = None
    for c in item_cols:
        col = F.col(c).cast("double")
        total = col if total is None else total + col
    base = df.filter(notnull).select(
        *[F.col(c).cast("double").alias(c) for c in item_cols],
        total.alias("__tot"),
    )
    k = len(item_cols)
    agg = base.agg(
        F.count(F.lit(1)).alias("n"),
        *[F.var_samp(c).alias(f"__v_{i}") for i, c in enumerate(item_cols)],
        F.var_samp("__tot").alias("total_var"),
    )
    sv = None
    for i in range(k):
        v = F.col(f"__v_{i}")
        sv = v if sv is None else sv + v
    ok = (F.col("n") >= 2) & (F.col("total_var") > 0)
    return agg.select(
        F.col("n").cast("long").alias("n"),
        F.lit(k).cast("long").alias("k"),
        F.when(ok, sv).alias("sum_item_var"),
        F.when(ok, F.col("total_var")).alias("total_var"),
        F.when(
            ok,
            F.lit(k / (k - 1.0))
            * (F.lit(1.0) - sv / F.col("total_var")),
        ).alias("alpha"),
    )


def icc_oneway(df: DataFrame, value_col: str, group_col: str) -> DataFrame:
    """Intraclass correlation ICC(1,1) from the one-way ANOVA
    decomposition: ``(MSB - MSW) / (MSB + (k0 - 1) * MSW)`` with the
    unbalanced-design ``k0 = (N - sum(n_i^2)/N) / (g - 1)``.  Two
    aggregates (per-group, then fold) — the same sufficient statistics
    as anova_oneway, read out as a reliability coefficient instead of
    an F test.

    Returns one row ``(n, n_groups, k0, msb, msw, icc)``.
    """
    base = df.filter(
        F.col(value_col).isNotNull() & F.col(group_col).isNotNull(),
    ).select(
        F.col(group_col).alias("__g"),
        F.col(value_col).cast("double").alias("__v"),
    )
    per = base.groupBy("__g").agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum("__v").alias("__s"),
        F.sum(F.col("__v") * F.col("__v")).alias("__ss"),
    )
    agg = per.agg(
        F.sum("__n").alias("n"),
        F.count(F.lit(1)).alias("g"),
        F.sum("__s").alias("__ts"),
        F.sum("__ss").alias("__tss"),
        F.sum(F.col("__s") * F.col("__s") / F.col("__n")).alias("__bg"),
        F.sum(F.col("__n") * F.col("__n")).alias("__n2"),
    )
    n = F.col("n").cast("double")
    g = F.col("g").cast("double")
    ssb = F.col("__bg") - F.col("__ts") * F.col("__ts") / n
    ssw = F.col("__tss") - F.col("__bg")
    msb = ssb / (g - 1)
    msw = ssw / (n - g)
    k0 = (n - F.col("__n2") / n) / (g - 1)
    icc = (msb - msw) / (msb + (k0 - 1) * msw)
    ok = (g >= 2) & (n > g) & (msw > 0)
    return agg.select(
        F.col("n").cast("long").alias("n"),
        F.col("g").cast("long").alias("n_groups"),
        F.when(ok, k0).alias("k0"),
        F.when(ok, msb).alias("msb"),
        F.when(ok, msw).alias("msw"),
        F.when(ok, icc).alias("icc"),
    )


def mantel_haenszel(
    df: DataFrame,
    exposure_col,
    outcome_col,
    strata_cols,
) -> DataFrame:
    """Mantel-Haenszel common odds ratio across stratified 2x2 tables —
    THE classic confounder-adjusted association test (does exposure
    relate to outcome once site/age-band/era is held fixed?): per
    stratum i with cells (a=exposed outcome, b=exposed no-outcome,
    c=unexposed outcome, d=unexposed no-outcome, n=total),

    ``OR_MH = sum(a d / n) / sum(b c / n)``, and the CMH chi-squared
    (1 df, no continuity correction) ``X^2 = (sum a - sum E[a])^2 /
    sum Var(a)`` with the hypergeometric ``E[a] = r1 c1 / n`` and
    ``Var(a) = r1 r0 c1 c0 / (n^2 (n-1))``; its p-value via the exact
    identity ``P(chi2_1 > x) = 2 (1 - Phi(sqrt(x)))`` through the
    shared erf polynomial.

    ONE (strata, exposure, outcome) cell aggregation + one fold —
    stratum count never touches the driver.  Strata with n < 2 or an
    empty margin contribute nothing to the variance sum (standard).
    Returns one row: ``(n, n_strata, or_mh, chi2, p_approx)``; OR is
    NULL when ``sum(b c / n) = 0`` (no discordant evidence).
    """
    exp_c = (
        F.col(exposure_col) if isinstance(exposure_col, str)
        else exposure_col
    ).cast("boolean")
    out_c = (
        F.col(outcome_col) if isinstance(outcome_col, str) else outcome_col
    ).cast("boolean")
    strata_cols = (
        [strata_cols] if isinstance(strata_cols, str) else list(strata_cols)
    )
    base = df.filter(exp_c.isNotNull() & out_c.isNotNull()).select(
        *strata_cols,
        exp_c.cast("int").alias("__e"),
        out_c.cast("int").alias("__o"),
    )
    cells = base.groupBy(*strata_cols).agg(
        F.sum(F.col("__e") * F.col("__o")).alias("a"),
        F.sum(F.col("__e") * (1 - F.col("__o"))).alias("b"),
        F.sum((1 - F.col("__e")) * F.col("__o")).alias("c"),
        F.sum((1 - F.col("__e")) * (1 - F.col("__o"))).alias("d"),
        F.count(F.lit(1)).alias("n"),
    )
    nn = F.col("n").cast("double")
    r1 = (F.col("a") + F.col("b")).cast("double")
    r0 = (F.col("c") + F.col("d")).cast("double")
    c1 = (F.col("a") + F.col("c")).cast("double")
    c0 = (F.col("b") + F.col("d")).cast("double")
    usable = (F.col("n") >= 2) & (r1 > 0) & (r0 > 0) & (c1 > 0) & (c0 > 0)
    fold = cells.agg(
        F.sum("n").alias("n"),
        F.count(F.lit(1)).alias("n_strata"),
        F.sum(F.col("a") * F.col("d") / nn).alias("__ad"),
        F.sum(F.col("b") * F.col("c") / nn).alias("__bc"),
        F.sum(F.col("a").cast("double")).alias("__sa"),
        F.sum(F.when(usable, r1 * c1 / nn).otherwise(0.0)).alias("__se"),
        F.sum(
            F.when(
                usable,
                r1 * r0 * c1 * c0 / (nn * nn * (nn - 1.0)),
            ).otherwise(0.0),
        ).alias("__sv"),
    )
    chi2 = (
        (F.col("__sa") - F.col("__se"))
        * (F.col("__sa") - F.col("__se")) / F.col("__sv")
    )
    z = F.sqrt(chi2)
    ok = F.col("__sv") > 0
    return fold.select(
        F.col("n").cast("long").alias("n"),
        F.col("n_strata").cast("long").alias("n_strata"),
        F.when(F.col("__bc") > 0, F.col("__ad") / F.col("__bc"))
        .alias("or_mh"),
        F.when(ok, chi2).alias("chi2"),
        F.when(ok, _std_normal_two_sided_p(z)).alias("p_approx"),
    )


def mcnemar_test(
    df: DataFrame,
    before_col,
    after_col,
) -> DataFrame:
    """McNemar test for PAIRED binary outcomes (same subject judged
    twice: model A vs model B on the same examples, before/after an
    intervention): only the discordant pairs carry information,
    ``X^2 = (b - c)^2 / (b + c)`` over b = yes->no and c = no->yes
    counts (no continuity correction; documented — at the pair counts
    this engine targets the correction is noise), chi-squared(1)
    p-value via the exact erf identity.

    ONE aggregation.  Returns ``(n, n_discordant, b, c, chi2,
    p_approx)``; NULL statistics when no discordant pairs exist.
    """
    bc = (
        F.col(before_col) if isinstance(before_col, str) else before_col
    ).cast("boolean")
    ac = (
        F.col(after_col) if isinstance(after_col, str) else after_col
    ).cast("boolean")
    base = df.filter(bc.isNotNull() & ac.isNotNull()).select(
        bc.cast("int").alias("__b"), ac.cast("int").alias("__a"),
    )
    agg = base.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("__b") * (1 - F.col("__a"))).alias("b"),
        F.sum((1 - F.col("__b")) * F.col("__a")).alias("c"),
    )
    disc = (F.col("b") + F.col("c")).cast("double")
    diff = (F.col("b") - F.col("c")).cast("double")
    chi2 = diff * diff / disc
    z = F.sqrt(chi2)
    ok = disc > 0
    return agg.select(
        F.col("n").cast("long").alias("n"),
        (F.col("b") + F.col("c")).cast("long").alias("n_discordant"),
        F.col("b").cast("long").alias("b"),
        F.col("c").cast("long").alias("c"),
        F.when(ok, chi2).alias("chi2"),
        F.when(ok, _std_normal_two_sided_p(z)).alias("p_approx"),
    )
