"""Pairwise dependence measures: pearson, spearman, mutual_info, max.

Reference: table_accessor.py:882-1433 +
statistics_utils/_get_dependence_dict.py:31-299,
_calculate_dependence_measure.py:11-91,
_bin_numeric_cols_into_categories.py:4-27.

Two tiers; only the source of the numbers differs (``_LocalPairs`` vs
``_SparkPairs``), the assembly, scaling, sorting and the AMI kernel are
shared:

- Local: when the numeric view (datetimes as epoch micros, categoricals
  as Spark's string cast) fits ``io.LOCAL_MAX_CELLS`` (1M cells) and
  holds no NaN/inf, ONE Arrow collect brings it to the driver and numpy
  computes every pair — one Spark job.
- Distributed, above the bound:
  - Pearson: ALL pairs in ONE aggregation pass (`corr(a,b)` per pair
    plus shared/union row counts) — one job for the whole matrix.
  - Spearman: average-rank transform per column via groupBy(value) + a
    cumulative-count window over DISTINCT values (bounded by column
    cardinality, not row count), then the same one-pass corr.  Pairs
    where either column has nulls recompute ranks on the pair's shared
    rows (pairwise-dropna semantics, reference
    _calculate_dependence_measure).
  - Mutual info: exact quantile bin edges (one percentile agg for all
    numeric columns, parity with pd.qcut), per-pair contingency via
    groupBy(bin_a, bin_b) — contingencies are tiny (<= num_bins² or
    category cardinalities, guarded by the 800/6000 rule) and adjusted
    mutual information is computed from them in numpy on the driver.
"""

from __future__ import annotations

import warnings

import numpy as np
import pandas as pd

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from woodwork_spark.exceptions import SparseDataWarning
from woodwork_spark.lifecycle import attach_persisted, persisted_frames, release
from woodwork_spark.logical_types import (
    BooleanNullable,
    Categorical,
    Datetime,
    Ordinal,
)
from woodwork_spark.statistics import local_percentile

# pairs per grouped-contingency job: bounds the melt's explode factor
# (rows x chunk) while keeping job count O(pairs / chunk), not O(pairs)
_MI_CHUNK = 24


def _parse_measures(measures):
    """Reference _parse_measures semantics: 'all' -> every measure + max."""
    if isinstance(measures, str):
        measures = [measures]
    out = []
    for m in measures:
        if m == "all":
            return ["max", "pearson", "spearman", "mutual_info"], True
        if m not in ("pearson", "spearman", "mutual_info", "max"):
            raise ValueError(f"Unrecognized dependence measure {m}")
        out.append(m)
    if "max" in out and len(out) == 1:
        return ["max", "pearson", "spearman", "mutual_info"], False
    return out, False


def _measure_columns(ww_df, measures, include_index=False, include_time_index=False):
    """Valid columns per measure (reference utils.py:330-399): numeric +
    boolean + datetime for correlations; + categorical/ordinal for MI.
    Index/time-index columns are dropped unless explicitly included
    (reference get_valid_mi_columns flags)."""
    schema = ww_df.schema
    valid = {"pearson": [], "spearman": [], "mutual_info": []}
    for name, cs in schema.columns.items():
        if not include_index and "index" in cs.semantic_tags:
            continue
        if not include_time_index and "time_index" in cs.semantic_tags:
            continue
        lt = cs.logical_type
        # index/time-index columns carry only their reserved tag, so fall
        # back to the logical type's standard tags (the reference's
        # get_valid_mi_types check is type-based, utils.py:330-399)
        numericish = (
            cs.is_numeric
            or "numeric" in getattr(lt, "standard_tags", set())
            or isinstance(lt, BooleanNullable)
            or isinstance(lt, Datetime)
        )
        if numericish:
            valid["pearson"].append(name)
            valid["spearman"].append(name)
            valid["mutual_info"].append(name)
        elif isinstance(lt, Ordinal):
            valid["spearman"].append(name)
            valid["mutual_info"].append(name)
        elif isinstance(lt, Categorical) or cs.is_categorical:
            valid["mutual_info"].append(name)
    return valid


def _rank_column(df, col):
    """Average-rank transform (ties get mean rank, scipy.rankdata
    semantics): exclusive prefix-count over DISTINCT values + join back.
    The prefix sum is range-partitioned (operators.rank) so no single
    reducer sees all distinct values — safe for continuous columns where
    distinct ~ rows at 100 TB."""
    from woodwork_spark.operators.rank import global_prefix_sum

    counts = df.filter(F.col(col).isNotNull()).groupBy(col).agg(
        F.count(F.lit(1)).alias("__cnt"),
    )
    prefixed = global_prefix_sum(
        counts, [F.asc(col)], "__cnt", out_col="__prefix",
    )
    ranked = prefixed.select(
        F.col(col).alias("__val"),
        (F.col("__prefix") + (F.col("__cnt") + 1) / 2.0).alias("__rank"),
    )
    out = df.join(
        ranked,
        df[col].eqNullSafe(F.col("__val")),
        "left",
    ).drop("__val")
    # carry the rank primitive's persisted intermediates (plus any from a
    # chained input) so the eager consumer can release them post-agg
    return attach_persisted(
        out, *persisted_frames(df), *persisted_frames(prefixed),
    )


def _pairwise_corr(df, pairs):
    """All pair correlations + shared/union counts in ONE agg pass, plus
    ``flat_{i}``: whether either side is constant over the shared rows.

    ANSI mode makes `corr` throw DIVIDE_BY_ZERO on zero-variance columns
    where the semantics (pandas, the reference) are NaN — disable ANSI
    around this aggregation only (Welford-based corr stays numerically
    stable, unlike a naive sums formula)."""
    aggs = [F.count(F.lit(1)).alias("__n")]
    for i, (a, b) in enumerate(pairs):
        ca, cb = F.col(a), F.col(b)
        both = ca.isNotNull() & cb.isNotNull()
        either = ca.isNotNull() | cb.isNotNull()
        aggs += [
            F.corr(a, b).alias(f"corr_{i}"),
            F.sum(both.cast("long")).alias(f"shared_{i}"),
            F.sum(either.cast("long")).alias(f"union_{i}"),
            _flat(F.when(both, ca), F.when(both, cb)).alias(f"flat_{i}"),
        ]
    spark = df.sparkSession
    prev = spark.conf.get("spark.sql.ansi.enabled", "true")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        return df.agg(*aggs).collect()[0].asDict()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)


def _flat(a, b):
    """Aggregate: is either column constant over its non-NULL rows?

    Spark's ``corr`` merges partial moments through ``avg + delta / n *
    n2``, which is not exact: on a constant column it can leave a tiny
    variance and return a finite value where the exact answer (pandas,
    the reference) is NaN.  min == max is exact."""
    return (F.min(a) == F.max(a)) | (F.min(b) == F.max(b))


def _nan_if_flat(corr, flat):
    return float("nan") if flat and corr is not None else corr


def _corr_triples(df, pairs):
    """(corr, shared rows, union rows) per pair from ONE
    :func:`_pairwise_corr` pass."""
    if not pairs:
        return []
    row = _pairwise_corr(df, pairs)
    return [
        (
            _nan_if_flat(row[f"corr_{i}"], row[f"flat_{i}"]),
            row[f"shared_{i}"] or 0,
            row[f"union_{i}"] or 0,
        )
        for i in range(len(pairs))
    ]


def _spearman_pair(df, a, b):
    """Pairwise-dropna spearman for a pair with nulls: filter shared rows,
    rank both columns, correlate."""
    pair_df = df.select(a, b).filter(
        F.col(a).isNotNull() & F.col(b).isNotNull(),
    )
    ranked_a = _rank_column(pair_df.withColumnRenamed(a, "__a"), "__a")
    # renames return NEW frames — re-attach so the chained _rank_column
    # (and the final release) sees the first rank's persisted frames
    step = attach_persisted(
        ranked_a.withColumnRenamed("__rank", "__rank_a").withColumnRenamed(
            b, "__b",
        ),
        *persisted_frames(ranked_a),
    )
    ranked = _rank_column(step, "__b")
    spark = ranked.sparkSession
    prev = spark.conf.get("spark.sql.ansi.enabled", "true")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        row = ranked.agg(
            F.corr("__rank_a", "__rank").alias("c"),
            _flat(F.col("__rank_a"), F.col("__rank")).alias("flat"),
        ).collect()[0]
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)
        release(ranked)
    return _nan_if_flat(row["c"], row["flat"])


# -- adjusted mutual information (numpy; no sklearn in this env) -------------


def _entropy(counts, n):
    p = counts[counts > 0] / n
    return float(-(p * np.log(p)).sum())


# exact-table cutoff for _log_factorial_lookup: 2M doubles = 16 MB on
# the driver; beyond it the Stirling branch is cheaper than the table
_LOGFACT_TABLE_MAX = 2_000_000


def _log_factorial_lookup(n):
    """Vectorized logfact(k) = log(k!) = lgamma(k+1) for integer arrays
    with entries in [0, n].

    Small n: one cumsum table (exact to ~1e-9 absolute).  Large n: the
    table alone would be O(n) driver memory (8 GB at n=1e9), so switch
    to the Stirling series — for z = k+1 > 2e6 its truncation error is
    < 1e-25, far below double roundoff — keeping memory O(table cutoff)
    regardless of row count."""
    if n <= _LOGFACT_TABLE_MAX:
        table = np.concatenate(
            ([0.0], np.cumsum(np.log(np.arange(1, n + 1, dtype="float64")))),
        )
        return lambda k: table[k]
    small = np.concatenate(
        (
            [0.0],
            np.cumsum(
                np.log(np.arange(1, _LOGFACT_TABLE_MAX + 1, dtype="float64")),
            ),
        ),
    )
    half_log_2pi = 0.5 * np.log(2.0 * np.pi)

    def lookup(k):
        k = np.asarray(k)
        scalar = k.ndim == 0
        k = np.atleast_1d(k)
        out = np.empty(k.shape, dtype="float64")
        lo = k <= _LOGFACT_TABLE_MAX
        out[lo] = small[k[lo]]
        z = k[~lo].astype("float64") + 1.0
        out[~lo] = (
            (z - 0.5) * np.log(z)
            - z
            + half_log_2pi
            + 1.0 / (12.0 * z)
            - 1.0 / (360.0 * z**3)
            + 1.0 / (1260.0 * z**5)
        )
        return out[0] if scalar else out

    return lookup


def _expected_mutual_information(a_marg, b_marg, n):
    """E[MI] under the permutation model (hypergeometric), the quantity
    sklearn uses for AMI; fully vectorized via a log-factorial table
    (logfact[k] = lgamma(k+1)), the same device sklearn's Cython kernel
    uses.  The previous per-term Python ``math.lgamma`` comprehension
    cost ~4 lgamma calls per hypergeometric term — at n=600k and a 3×3
    table that is millions of interpreter-loop calls PER PAIR and
    dominated the whole MI computation; the table is one 8·n-byte
    cumsum."""
    from numpy import log

    emi = 0.0
    logfact = _log_factorial_lookup(n)
    for ai in a_marg:
        for bj in b_marg:
            lo = max(1, ai + bj - n)
            hi = min(ai, bj)
            if hi < lo:
                continue
            nij = np.arange(lo, hi + 1)
            fnij = nij.astype("float64")
            term1 = fnij / n * (log(fnij * n) - log(float(ai) * bj))
            base = (
                logfact(ai)
                + logfact(bj)
                + logfact(n - ai)
                + logfact(n - bj)
                - logfact(n)
            )
            logweights = base - (
                logfact(nij)
                + logfact(ai - nij)
                + logfact(bj - nij)
                + logfact(n - ai - bj + nij)
            )
            emi += float((term1 * np.exp(logweights)).sum())
    return emi


def adjusted_mutual_info_from_contingency(table: np.ndarray) -> float:
    """AMI from a contingency table (arithmetic mean normalization, same
    definition sklearn's adjusted_mutual_info_score uses — the reference
    calls that at _calculate_dependence_measure.py:76)."""
    n = table.sum()
    if n == 0:
        return float("nan")
    a_marg = table.sum(axis=1)
    b_marg = table.sum(axis=0)
    mi = 0.0
    for i in range(table.shape[0]):
        if a_marg[i] == 0:
            continue
        for j in range(table.shape[1]):
            nij = table[i, j]
            if nij == 0:
                continue
            mi += nij / n * np.log(n * nij / (a_marg[i] * b_marg[j]))
    h_a = _entropy(a_marg, n)
    h_b = _entropy(b_marg, n)
    if h_a == 0.0 and h_b == 0.0:
        # both single-cluster: define AMI = 1 (sklearn convention)
        return 1.0
    emi = _expected_mutual_information(
        a_marg.astype("int64"), b_marg.astype("int64"), int(n),
    )
    denom = (h_a + h_b) / 2 - emi
    if denom == 0:
        denom = np.finfo("float64").eps
    return float((mi - emi) / denom)


def _bin_exprs(df, numeric_cols, num_bins):
    """Exact quantile bin edges for every numeric column in ONE percentile
    agg (parity with pd.qcut: right-closed bins, duplicate edges
    dropped)."""
    if not numeric_cols:
        return {}
    qs = [i / num_bins for i in range(1, num_bins)]
    row = df.agg(
        *[F.percentile(F.col(c), F.lit(qs)).alias(c) for c in numeric_cols],
    ).collect()[0]
    exprs = {}
    for c in numeric_cols:
        edges = row[c]
        if edges is None:
            exprs[c] = F.lit(None).cast("int")
            continue
        uniq = sorted(set(edges))
        bin_expr = F.lit(0)
        for e in uniq:
            bin_expr = bin_expr + (F.col(c) > F.lit(float(e))).cast("int")
        exprs[c] = F.when(F.col(c).isNotNull(), bin_expr)
    return exprs


def dependence(
    ww_df,
    measures="all",
    num_bins=10,
    nrows=None,
    min_shared=25,
    random_seed=0,
    max_nunique=6000,
    target_col=None,
    callback=None,
):
    """Pairwise dependence DataFrame (column_1, column_2, measures...),
    sorted by |first measure| desc (reference _get_dependence_dict.py).
    Scores are scaled by shared_rows/union_rows; pairs with
    < min_shared shared rows get NaN + SparseDataWarning.

    ``callback(update, progress, total, unit, time_elapsed)`` reports
    progress in reference units (_get_dependence_dict.py:185-215): 1 for
    preprocessing, one per column for null handling, one per MI column
    for binning, one per pair per measure."""
    from woodwork_spark.callback import CallbackCaller
    from woodwork_spark.io import collect_bounded

    measures, _ = _parse_measures(measures)
    real_measures = [m for m in measures if m != "max"]
    valid = _measure_columns(ww_df, real_measures)
    union_cols = sorted(
        {c for m in real_measures for c in valid[m]},
        key=list(ww_df.columns).index,
    )
    if target_col is not None and target_col not in union_cols:
        raise ValueError(f"target_col '{target_col}' not a valid column for measures")
    df = _numeric_view_mixed(ww_df, union_cols)
    if nrows is not None:
        df = df.limit(nrows)
    pdf = collect_bounded(df)
    src = _SparkPairs(df) if pdf is None else _LocalPairs(pdf)

    # cardinality guard for MI (reference 800-unique / 6000-total rule)
    mi_cols = [c for c in union_cols if c in valid.get("mutual_info", [])]
    dropped = []
    if "mutual_info" in real_measures and mi_cols:
        card = src.distinct_counts(mi_cols)
        total = sum(card.values())
        for c in sorted(mi_cols, key=lambda c: -card[c]):
            if total <= max_nunique:
                break
            if card[c] > 800:
                dropped.append(c)
                total -= card[c]
        valid["mutual_info"] = [c for c in valid["mutual_info"] if c not in dropped]

    def pairs_for(cols):
        if target_col is not None:
            return [(target_col, c) for c in cols if c != target_col]
        return [(a, b) for i, a in enumerate(cols) for b in cols[i + 1:]]

    n_mi_pairs = len(pairs_for(valid["mutual_info"])) if "mutual_info" in real_measures else 0
    total_units = (
        1
        + len(union_cols)
        + sum(len(pairs_for(valid[m])) for m in real_measures)
        + (len(valid["mutual_info"]) if n_mi_pairs else 0)
    )
    caller = CallbackCaller(callback, "calculations", total_units)
    caller.update(1)
    caller.update(len(union_cols))

    results = {}

    def record(pair, measure, value, shared, union):
        key = pair
        d = results.setdefault(key, {})
        if shared < min_shared:
            warnings.warn(
                f"One or more pairs of columns did not share enough rows"
                f" ({shared} < {min_shared})",
                SparseDataWarning,
            )
            d[measure] = float("nan")
        elif value is None or (isinstance(value, float) and np.isnan(value)):
            d[measure] = float("nan")
        else:
            d[measure] = float(value) * (shared / union if union else 0.0)

    if "pearson" in real_measures:
        pairs = pairs_for(valid["pearson"])
        for p, (corr, shared, union) in zip(pairs, src.pearson(pairs)):
            record(p, "pearson", corr, shared, union)
            caller.update(1)

    if "spearman" in real_measures:
        pairs = pairs_for(valid["spearman"])
        got = src.spearman(valid["spearman"], pairs, min_shared)
        for p, (corr, shared, union) in zip(pairs, got):
            record(p, "spearman", corr, shared, union)
            caller.update(1)

    if "mutual_info" in real_measures:
        pairs = pairs_for(valid["mutual_info"])
        if pairs:
            schema = ww_df.schema
            numeric_like = [
                c
                for c in valid["mutual_info"]
                if schema.columns[c].is_numeric
                or isinstance(schema.columns[c].logical_type, (Datetime, BooleanNullable))
            ]
            conts = src.contingencies(
                valid["mutual_info"], numeric_like, num_bins, pairs,
            )
            caller.update(len(valid["mutual_info"]))
            for (a, b), (cells, union) in zip(pairs, conts):
                shared = sum(n for _, _, n in cells)
                if shared == 0:
                    record((a, b), "mutual_info", None, shared, union)
                    caller.update(1)
                    continue
                avals = sorted({av for av, _, _ in cells})
                bvals = sorted({bv for _, bv, _ in cells})
                table = np.zeros((len(avals), len(bvals)), dtype="int64")
                ai = {v: j for j, v in enumerate(avals)}
                bi = {v: j for j, v in enumerate(bvals)}
                for av, bv, n in cells:
                    table[ai[av], bi[bv]] = n
                ami = adjusted_mutual_info_from_contingency(table)
                record((a, b), "mutual_info", ami, shared, union)
                caller.update(1)

    src.close()
    rows = []
    for (a, b), vals in results.items():
        row = {"column_1": a, "column_2": b}
        for m in real_measures:
            row[m] = vals.get(m, float("nan"))
        if "max" in measures:
            present = [v for v in (vals.get(m) for m in real_measures) if v is not None]
            present = [v for v in present if not np.isnan(v)]
            row["max"] = max(present, key=abs) if present else float("nan")
        rows.append(row)
    out = pd.DataFrame(rows)
    if len(out):
        first = measures[0] if measures[0] != "max" or "max" in out.columns else real_measures[0]
        out = out.reindex(
            out[first].abs().sort_values(ascending=False, na_position="last").index,
        ).reset_index(drop=True)
    return out


class _SparkPairs:
    """Where :func:`dependence` gets its numbers above the local bound:
    Spark aggregations over the cached numeric view.  Every method
    returns plain Python values, aligned with the pairs it was given."""

    def __init__(self, df):
        self.df = df.cache()

    def close(self):
        self.df.unpersist()

    def distinct_counts(self, cols):
        return self.df.agg(
            *[F.count_distinct(F.col(c)).alias(c) for c in cols],
        ).collect()[0].asDict()

    def pearson(self, pairs):
        return _corr_triples(self.df, pairs)

    def spearman(self, cols, pairs, min_shared):
        """(corr, shared, union) per pair: null-free pairs rank once per
        column; a pair with NULLs ranks its own shared rows."""
        if not pairs:
            return []
        df = self.df
        nullc = df.agg(
            *[(F.count(F.lit(1)) - F.count(F.col(c))).alias(c) for c in cols],
        ).collect()[0].asDict()
        no_null_cols = [c for c in cols if nullc[c] == 0]
        fast = [p for p in pairs if p[0] in no_null_cols and p[1] in no_null_cols]
        slow = [p for p in pairs if p not in fast]
        out = {}
        if fast:
            ranked = df
            for c in sorted({c for p in fast for c in p}):
                r0 = _rank_column(ranked, c)
                ranked = attach_persisted(
                    r0.withColumnRenamed("__rank", f"__rk_{c}"),
                    *persisted_frames(r0),
                )
            rpairs = [(f"__rk_{a}", f"__rk_{b}") for a, b in fast]
            out.update(zip(fast, _corr_triples(ranked, rpairs)))
            release(ranked)
        if slow:
            # ALL slow-pair shared/union counts in ONE agg (same
            # batching as the fast path and MI) — a wide all-nullable
            # table used to issue one count job per pair, O(p^2) jobs
            su = df.agg(
                *[
                    e
                    for i, (a, b) in enumerate(slow)
                    for e in (
                        F.sum(
                            (F.col(a).isNotNull() & F.col(b).isNotNull()).cast("long"),
                        ).alias(f"s_{i}"),
                        F.sum(
                            (F.col(a).isNotNull() | F.col(b).isNotNull()).cast("long"),
                        ).alias(f"u_{i}"),
                    )
                ],
            ).collect()[0]
            for i, (a, b) in enumerate(slow):
                s, u = su[f"s_{i}"] or 0, su[f"u_{i}"] or 0
                corr = _spearman_pair(df, a, b) if s >= min_shared else None
                out[(a, b)] = (corr, s, u)
        return [out[p] for p in pairs]

    def contingencies(self, cols, numeric_like, num_bins, pairs):
        """([(a label, b label, count)], union rows) per pair: numeric
        columns binned on exact quantile edges, labels as strings."""
        df = self.df
        bins = _bin_exprs(df, numeric_like, num_bins)
        binned = df.select(
            *[
                bins[c].alias(c) if c in bins else F.col(c).cast("string").alias(c)
                for c in cols
            ],
        )
        # ALL pair union counts in ONE agg (the same batching
        # _pairwise_corr uses) — O(1) jobs instead of one per pair
        union_row = df.agg(
            *[
                F.sum(
                    (F.col(a).isNotNull() | F.col(b).isNotNull()).cast("long"),
                ).alias(f"u_{i}")
                for i, (a, b) in enumerate(pairs)
            ],
        ).collect()[0]
        # contingency tables grouped _MI_CHUNK pairs per job: melt each
        # chunk to (pair_id, a_val, b_val) and aggregate once — the
        # map-side partial agg collapses the explode to the (bounded)
        # per-pair value-combination cardinality before the shuffle
        conts = {i: [] for i in range(len(pairs))}
        for start in range(0, len(pairs), _MI_CHUNK):
            chunk = list(enumerate(pairs))[start : start + _MI_CHUNK]
            structs = [
                F.struct(
                    F.lit(i).alias("pid"),
                    F.col(a).cast("string").alias("av"),
                    F.col(b).cast("string").alias("bv"),
                )
                for i, (a, b) in chunk
            ]
            melted = (
                binned.select(F.explode(F.array(*structs)).alias("x"))
                .select("x.pid", "x.av", "x.bv")
                .filter(F.col("av").isNotNull() & F.col("bv").isNotNull())
            )
            for r in (
                melted.groupBy("pid", "av", "bv")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            ):
                conts[r["pid"]].append((r["av"], r["bv"], r["n"]))
        return [(conts[i], union_row[f"u_{i}"] or 0) for i in range(len(pairs))]


class _LocalPairs:
    """:class:`_SparkPairs` on the collected numeric view, in numpy:
    the same numbers, from one driver collect.  Doubles hold NaN only
    for NULL (``collect_bounded`` sends real NaN to Spark)."""

    def __init__(self, pdf):
        self.pdf = pdf

    def close(self):
        pass

    def distinct_counts(self, cols):
        return {c: int(self.pdf[c].nunique()) for c in cols}

    def _correlate(self, pairs, rank, min_shared=0):
        out = []
        for a, b in pairs:
            x = self.pdf[a].to_numpy(dtype="float64")
            y = self.pdf[b].to_numpy(dtype="float64")
            hx, hy = ~np.isnan(x), ~np.isnan(y)
            both = hx & hy
            shared, union = int(both.sum()), int((hx | hy).sum())
            x, y = x[both], y[both]
            if not rank:
                corr = _local_corr(x, y)
            elif shared >= min_shared:
                corr = _local_corr(_average_ranks(x), _average_ranks(y))
            else:
                corr = None
            out.append((corr, shared, union))
        return out

    def pearson(self, pairs):
        return self._correlate(pairs, rank=False)

    def spearman(self, cols, pairs, min_shared):
        return self._correlate(pairs, rank=True, min_shared=min_shared)

    def contingencies(self, cols, numeric_like, num_bins, pairs):
        qs = [i / num_bins for i in range(1, num_bins)]
        codes = {}
        for c in cols:
            s = self.pdf[c]
            if c in numeric_like:
                x = s.to_numpy(dtype="float64")
                has = ~np.isnan(x)
                edges = local_percentile(np.sort(x[has]), qs)
                # right-closed bins: the bin is the count of edges < x
                uniq = np.unique(edges or [])
                codes[c] = (
                    np.where(has, np.searchsorted(uniq, x, side="left"), -1),
                    [str(i) for i in range(uniq.size + 1)],
                )
            else:
                ca, ua = pd.factorize(s)
                codes[c] = (ca, [u if isinstance(u, str) else repr(float(u)) for u in ua])
        out = []
        for a, b in pairs:
            (ca, la), (cb, lb) = codes[a], codes[b]
            both = (ca >= 0) & (cb >= 0)
            cnt = np.bincount(
                ca[both] * len(lb) + cb[both], minlength=len(la) * len(lb),
            )
            cells = [
                (la[k // len(lb)], lb[k % len(lb)], int(cnt[k]))
                for k in np.flatnonzero(cnt)
            ]
            union = int((self.pdf[a].notna() | self.pdf[b].notna()).sum())
            out.append((cells, union))
        return out


def _local_corr(x, y):
    """Spark's ``corr`` on two NULL-free arrays: NULL below two rows,
    NaN when either side is constant (its moments are exactly 0 there)."""
    if x.size < 2:
        return None
    if x.max() == x.min() or y.max() == y.min():
        return float("nan")
    dx, dy = x - x.mean(), y - y.mean()
    return float(dx @ dy / np.sqrt((dx @ dx) * (dy @ dy)))


def _average_ranks(x):
    """Average ranks (ties share the mean rank), as :func:`_rank_column`
    computes them: the count of smaller values plus (ties + 1) / 2."""
    uniq, inv, cnt = np.unique(x, return_inverse=True, return_counts=True)
    return (np.cumsum(cnt) - cnt + (cnt + 1) / 2.0)[inv]


def _numeric_view_mixed(ww_df, cols):
    """Project each column to what the measures read: a double for
    numeric-like columns (bool -> 0/1, datetime -> epoch micros, ordinal
    -> declared rank; reference _cast_nullable_int_and_datetime_to_int.py,
    _convert_ordinal_to_numeric.py) and a string for categoricals (MI)."""
    schema = ww_df.schema
    exprs = []
    for c in cols:
        cs = schema.columns[c]
        lt = cs.logical_type
        col = F.col(c)
        if isinstance(lt, Datetime):
            exprs.append(F.unix_micros(col).cast("double").alias(c))
        elif isinstance(lt, Ordinal):
            exprs.append(lt.rank_expr(col).cast("double").alias(c))
        elif isinstance(lt, BooleanNullable):
            exprs.append(col.cast("int").cast("double").alias(c))
        elif cs.is_numeric:
            exprs.append(col.cast("double").alias(c))
        else:
            exprs.append(col.cast("string").alias(c))
    return ww_df.raw.select(*exprs)


def cramers_v(df, col_a: str, col_b: str) -> "DataFrame":
    """Chi-square independence test + Cramér's V between two
    categorical columns — the bounded [0,1] effect size the reference's
    mutual-information surface lacks (V is comparable across tables
    with different cardinalities; MI is not without normalization).

    Everything reduces BEFORE any join: one contingency aggregation
    (map-side combinable), row/column marginals re-aggregated from the
    CELLS (bounded by category-pair cardinality, never rows), and the
    chi-square uses the observed-cells identity
    ``chi2 = N * sum(n_ij^2 / (r_i * c_j)) - N`` so absent cells need
    no densification.  Null categories count as a real level.  Returns
    one row: ``(n, r_levels, c_levels, dof, chi2, cramers_v,
    p_approx)``.

    ``p_approx`` is the Wilson-Hilferty cube-root normal approximation
    ``P(chi2_dof > x) ~= 1 - Phi(((x/k)^(1/3) - 1 + 2/(9k)) *
    sqrt(9k/2))`` through the shared A&S erf polynomial — chosen over
    the exact unrolled form of ``_chi2_sf`` because the dof here is a
    RUNTIME column (category cardinalities), not a plan-time constant;
    accuracy ~1e-3 in p, ample for an independence screen.  NULL when
    dof < 1 (a degenerate 1-level table).
    """
    cells = (
        df.groupBy(
            F.col(col_a).alias("__a"), F.col(col_b).alias("__b"),
        ).agg(F.count(F.lit(1)).alias("__n"))
    ).persist()
    rows = cells.groupBy("__a").agg(F.sum("__n").alias("__r"))
    colsum = cells.groupBy("__b").agg(F.sum("__n").alias("__c"))
    joined = cells.join(rows, "__a").join(colsum, "__b")
    out = joined.agg(
        F.sum("__n").alias("n"),
        F.count_distinct("__a").alias("r_levels"),
        F.count_distinct("__b").alias("c_levels"),
        F.sum(
            F.col("__n") * F.col("__n")
            / (F.col("__r") * F.col("__c")).cast("double"),
        ).alias("__s"),
    ).select(
        "n", "r_levels", "c_levels",
        ((F.col("r_levels") - 1) * (F.col("c_levels") - 1)).alias("dof"),
        (F.col("n") * F.col("__s") - F.col("n")).alias("chi2"),
        F.sqrt(
            F.greatest(
                (F.col("n") * F.col("__s") - F.col("n"))
                / (
                    F.col("n")
                    * F.greatest(
                        F.least(F.col("r_levels"), F.col("c_levels")) - 1,
                        F.lit(1),
                    )
                ),
                F.lit(0.0),
            ),
        ).alias("cramers_v"),
    )
    from woodwork_spark.operators.stats_tests import (
        _std_normal_two_sided_p,
    )

    kk = F.col("dof").cast("double")
    x2 = F.greatest(F.col("chi2"), F.lit(0.0))
    zwh = (
        (F.pow(x2 / kk, F.lit(1.0 / 3.0))
         - (F.lit(1.0) - F.lit(2.0) / (F.lit(9.0) * kk)))
        * F.sqrt(F.lit(9.0) * kk / F.lit(2.0))
    )
    ts = _std_normal_two_sided_p(zwh)
    out = out.withColumn(
        "p_approx",
        F.when(
            F.col("dof") >= 1,
            F.when(zwh >= 0, ts / 2).otherwise(F.lit(1.0) - ts / 2),
        ),
    )
    from woodwork_spark.lifecycle import attach_persisted

    return attach_persisted(out, cells)


def functional_dependencies(df, pairs) -> "DataFrame":
    """Approximate-functional-dependency profile: for each requested
    ``(determinant, dependent)`` pair, how far the data is from
    "determinant decides dependent" — the g3 violation count (minimum
    rows to delete so the FD holds exactly: rows outside each
    determinant's majority dependent value) and the satisfaction ratio ``1 - violations / (n - n_determinant_values)``.
    The schema-understanding signal behind key inference, denormalized-
    join detection, and "is this column derivable" questions.

    Two grouped aggregations PER PAIR — (determinant, dependent) cell
    counts, then per-determinant majority — each reduces to pair/
    determinant cardinality before the tiny final agg; pairs are independent jobs
    unioned into one result.  Returns one row per pair:
    ``(determinant, dependent, n_rows, n_det_values, n_violating_rows,
    fd_strength, is_exact)``.
    """
    out = None
    for det, dep in pairs:
        # g3 semantics need per-(det, dep) ROW counts: violating rows =
        # rows outside each determinant's MAJORITY dependent value
        # (count_distinct-1 would call a 500/500 split one violation)
        cells = df.groupBy(det, dep).agg(F.count(F.lit(1)).alias("__c"))
        per = cells.groupBy(det).agg(
            F.sum("__c").alias("__n"),
            F.max("__c").alias("__maxc"),
        )
        agg = per.agg(
            F.lit(det).alias("determinant"),
            F.lit(dep).alias("dependent"),
            F.sum("__n").alias("n_rows"),
            F.count(F.lit(1)).cast("long").alias("n_det_values"),
            F.sum(F.col("__n") - F.col("__maxc"))
            .cast("long").alias("n_violating_rows"),
        ).select(
            "*",
            F.when(
                (F.col("n_rows") - F.col("n_det_values")) > 0,
                1.0
                - F.col("n_violating_rows")
                / (F.col("n_rows") - F.col("n_det_values")).cast("double"),
            ).otherwise(F.lit(1.0)).alias("fd_strength"),
            (F.col("n_violating_rows") == 0).alias("is_exact"),
        )
        out = agg if out is None else out.unionByName(agg)
    return out


def candidate_keys(df, cols) -> "DataFrame":
    """Candidate-key scan: for each column, its distinct count, null
    count, and whether it uniquely identifies rows (distinct == rows,
    no nulls) — ONE aggregation for every candidate (a single Expand
    pass computes all the count_distincts together).

    Returns one row per column: ``(column_name, n_rows, n_distinct,
    n_nulls, is_key)``.
    """
    cols = list(cols)
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        aggs += [
            F.count_distinct(F.col(c)).alias(f"__d_{c}"),
            F.sum(F.col(c).isNull().cast("long")).alias(f"__m_{c}"),
        ]
    row = df.agg(*aggs)
    structs = [
        F.struct(
            F.lit(c).alias("column_name"),
            F.col("__n").alias("n_rows"),
            F.col(f"__d_{c}").alias("n_distinct"),
            F.col(f"__m_{c}").alias("n_nulls"),
            (
                (F.col(f"__d_{c}") == F.col("__n"))
                & (F.col(f"__m_{c}") == 0)
            ).alias("is_key"),
        )
        for c in cols
    ]
    return row.select(F.explode(F.array(*structs)).alias("__s")).select("__s.*")
