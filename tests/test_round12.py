"""Round-12 additions.

1. Approximate-percentile escape hatch for the profiling stack
   (``profile_percentile_mode`` config option): approx within tolerance
   of exact on the fixtures, default stays exact for reference parity.
2. Round-11 ADVICE regression guards: persist-leak propagation in
   rmst / rmst_diff / weibull_fit_km, degenerate-group loglik gating in
   cox_ph_fit, all-zero hashed features on empty documents, medcouple
   single-kernel path in get_outliers.
"""

import numpy as np
import pytest

import woodwork_spark as ww
from woodwork_spark.config import config

from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def gauss_table(spark):
    import random

    random.seed(7)
    vals = [random.gauss(100.0, 15.0) for _ in range(5000)] + [None] * 50
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "idx long, x double",
    )
    return ww.init(df, index="idx")


class TestApproxPercentiles:
    def test_default_is_exact(self):
        assert config.get_option("profile_percentile_mode") == "exact"

    def test_describe_approx_within_tolerance(self, gauss_table):
        exact = gauss_table.describe_dict()["x"]
        with config.with_options(profile_percentile_mode="approx"):
            approx = gauss_table.describe_dict()["x"]
        # sketch rank error <= n/accuracy = 5050/10000 < 1 rank; on a
        # continuous sample adjacent order statistics differ by < 0.1
        for k in ("first_quartile", "second_quartile", "third_quartile"):
            assert approx[k] == pytest.approx(exact[k], abs=0.1)
        # non-percentile stats identical in both modes
        for k in ("count", "nan_count", "mean", "std", "min", "max"):
            assert approx[k] == exact[k]

    def test_box_plot_approx_within_tolerance(self, gauss_table):
        from woodwork_spark.statistics.outliers import box_plot_dict

        exact = box_plot_dict(gauss_table, "x", max_values=5)
        with config.with_options(profile_percentile_mode="approx"):
            approx = box_plot_dict(gauss_table, "x", max_values=5)
        assert approx["low_bound"] == pytest.approx(
            exact["low_bound"], abs=0.5,
        )
        assert approx["high_bound"] == pytest.approx(
            exact["high_bound"], abs=0.5,
        )
        # min/max quantiles are exact in BOTH modes (true min/max)
        assert approx["quantiles"][0.0] == exact["quantiles"][0.0]
        assert approx["quantiles"][1.0] == exact["quantiles"][1.0]

    def test_box_plot_stats_df_approx(self, spark, gauss_table):
        from woodwork_spark.statistics.outliers import box_plot_stats_df

        raw = gauss_table.raw.select("x")
        e = box_plot_stats_df(raw, "x").collect()[0]
        with config.with_options(profile_percentile_mode="approx"):
            a = box_plot_stats_df(raw, "x").collect()[0]
        for k in ("q1", "median", "q3"):
            assert a[k] == pytest.approx(e[k], abs=0.1)
        # outlier counts computed from near-identical bounds
        assert abs(a["n_outliers"] - e["n_outliers"]) <= 2

    def test_get_outliers_best_approx_mode(self, gauss_table):
        from woodwork_spark.statistics.outliers import get_outliers

        with config.with_options(profile_percentile_mode="approx"):
            out = get_outliers(gauss_table, "x", method="best", max_values=5)
        assert {"low_bound", "high_bound", "quantiles"} <= set(out)

    def test_invalid_mode_raises(self, gauss_table):
        with config.with_options(profile_percentile_mode="kll"):
            with pytest.raises(ValueError, match="exact.*approx"):
                gauss_table.describe_dict()

    def test_exact_unchanged_golden(self, spark):
        """The parity-critical exact path still interpolates like pandas."""
        import pandas as pd

        vals = [10.0, 20.0, 17.0, 32.0, None, 1.0, 56.0, 10.0]
        df = spark.createDataFrame(
            [(i, v) for i, v in enumerate(vals)], "idx long, v double",
        )
        t = ww.init(df, index="idx")
        d = t.describe_dict()["v"]
        s = pd.Series(vals, dtype="float64")
        assert d["first_quartile"] == pytest.approx(s.quantile(0.25))
        assert d["third_quartile"] == pytest.approx(s.quantile(0.75))


class TestAdviceRegressions:
    def test_rmst_propagates_km_caches_ungrouped(self, spark):
        """Ungrouped rmst/weibull_fit_km re-attach the persisted
        global_prefix_sums intermediates so lifecycle.release frees
        them (round-11 advice: they were dropped)."""
        from woodwork_spark.lifecycle import persisted_frames, release
        from woodwork_spark.operators.timeseries import (
            kaplan_meier,
            rmst,
            weibull_fit_km,
        )

        rows = [(float(i % 40 + 1), i % 3 != 0) for i in range(300)]
        df = spark.createDataFrame(rows, "dur double, ev boolean")
        km = kaplan_meier(df, "dur", "ev")
        n_km = len(persisted_frames(km))
        release(km)
        assert n_km > 0, "ungrouped KM should persist prefix-sum caches"

        for fn in (
            lambda: rmst(df, "dur", "ev", horizon=20.0),
            lambda: rmst(df, "dur", "ev", horizon=20.0, ci=True),
            lambda: weibull_fit_km(df, "dur", "ev"),
        ):
            out = fn()
            out.collect()
            assert len(persisted_frames(out)) == n_km
            assert release(out) == n_km

    def test_cox_loglik_gated_on_degenerate_group(self, spark):
        """A group with zero events gets NULL loglik (same gate as the
        Wald columns), so glm_lrt cannot silently consume a loglik
        evaluated at an un-updated beta."""
        from woodwork_spark.operators.timeseries import cox_ph_fit

        rows = []
        for i in range(60):
            # group 'ok': events present; group 'none': all censored
            rows.append(("ok", float(i % 17 + 1), i % 2 == 0, float(i % 5)))
            rows.append(("none", float(i % 13 + 1), False, float(i % 7)))
        df = spark.createDataFrame(rows, "g string, t double, e boolean, x double")
        out = cox_ph_fit(df, "t", "e", "x", group_cols="g").collect()
        by_g = {r["g"]: r for r in out}
        assert by_g["ok"]["loglik"] is not None
        assert by_g["ok"]["beta"] is not None
        assert by_g["none"]["loglik"] is None
        assert by_g["none"]["beta"] is None

    def test_cox_loglik_gated_multi(self, spark):
        from woodwork_spark.operators.timeseries import cox_ph_fit

        rows = []
        for i in range(60):
            rows.append(("ok", float(i % 17 + 1), i % 2 == 0,
                         float(i % 5), float(i % 3)))
            rows.append(("none", float(i % 13 + 1), False,
                         float(i % 7), float(i % 4)))
        df = spark.createDataFrame(
            rows, "g string, t double, e boolean, x1 double, x2 double",
        )
        out = cox_ph_fit(
            df, "t", "e", ["x1", "x2"], group_cols="g",
        ).collect()
        by_g = {r["g"]: r for r in out}
        assert by_g["ok"]["loglik"] is not None
        assert by_g["none"]["loglik"] is None

    def test_hashed_features_empty_doc_all_zero(self, spark):
        """Empty / whitespace-only text now genuinely produces all-zero
        features; NULL text produces NULL features (round-11 advice:
        split('','\\s+') hashed the empty token into a real bucket)."""
        from woodwork_spark.operators.text import hashed_token_features

        df = spark.createDataFrame(
            [(1, "hello world"), (2, ""), (3, "   "), (4, None)],
            "doc_id long, text string",
        )
        rows = {
            r["doc_id"]: r
            for r in hashed_token_features(df, "text", k=4).collect()
        }
        assert sum(rows[1][f"f{j}"] for j in range(4)) == pytest.approx(1.0)
        for doc in (2, 3):
            assert all(rows[doc][f"f{j}"] == 0.0 for j in range(4))
        assert all(rows[4][f"f{j}"] is None for j in range(4))

    def test_hashed_features_ngram_empty_doc(self, spark):
        from woodwork_spark.operators.text import hashed_token_features

        df = spark.createDataFrame(
            [(1, "a b c"), (2, ""), (3, "only")],
            "doc_id long, text string",
        )
        rows = {
            r["doc_id"]: r
            for r in hashed_token_features(df, "text", k=4, ngram=2).collect()
        }
        assert sum(rows[1][f"f{j}"] for j in range(4)) == pytest.approx(1.0)
        # empty doc AND sub-n doc: all-zero
        for doc in (2, 3):
            assert all(rows[doc][f"f{j}"] == 0.0 for j in range(4))

    def test_get_outliers_medcouple_single_kernel(self, gauss_table, monkeypatch):
        """get_outliers('best') runs the O(n log n)+ medcouple kernel
        ONCE when it picks the medcouple path (round-11 advice: the
        readout used to recompute it on the same sample)."""
        import woodwork_spark.statistics.outliers as out_mod

        calls = {"n": 0}
        real = out_mod._medcouple

        def counting(values):
            calls["n"] += 1
            return real(values)

        monkeypatch.setattr(out_mod, "_medcouple", counting)
        # skewed data so |mc| >= threshold chooses the medcouple path
        import random

        random.seed(3)
        vals = [random.expovariate(1.0) ** 2 for _ in range(2000)]
        spark = gauss_table.raw.sparkSession
        df = spark.createDataFrame(
            [(i, v) for i, v in enumerate(vals)], "idx long, x double",
        )
        t = ww.init(df, index="idx")
        out = out_mod.get_outliers(t, "x", method="best", max_values=3)
        assert calls["n"] == 1
        assert "medcouple_stat" in out


class TestWideQualityClassifier:
    """Round-11 verdict ask #3: quality_classifier_fit past the
    unrolled-Cholesky k-ceiling via diagonal-scaled IRLS
    (regression.logistic_fit_diag, array-native + Summarizer vector
    aggregation)."""

    def test_diag_matches_exact_on_small_k(self, spark):
        """Same problem, both solvers, same ridge: the diagonal
        solver's fixed point IS the penalized-likelihood optimum, so
        with enough rounds the coefficients must agree."""
        import random

        from woodwork_spark.operators.regression import (
            logistic_fit,
            logistic_fit_diag,
        )

        random.seed(5)
        rows = []
        for _ in range(1500):
            x1, x2, x3 = (random.gauss(0.3, 1.0) for _ in range(3))
            import math

            eta = -0.4 + 1.2 * x1 - 0.8 * x2 + 0.3 * x3
            p = 1.0 / (1.0 + math.exp(-eta))
            rows.append((float(random.random() < p), x1, x2, x3))
        df = spark.createDataFrame(
            rows, "y double, x1 double, x2 double, x3 double",
        )
        xs = ["x1", "x2", "x3"]
        exact = logistic_fit(
            df, "y", xs, iters=8, ridge_lambda=1.0,
        ).collect()[0]
        diag = logistic_fit_diag(
            df, "y", xs, iters=60, ridge_lambda=1.0,
        ).collect()[0]
        assert diag["n"] == exact["n"]
        assert diag["intercept"] == pytest.approx(
            exact["intercept"], abs=2e-3,
        )
        for c in xs:
            assert diag[f"coef_{c}"] == pytest.approx(
                exact[f"coef_{c}"], abs=2e-3,
            )
        assert diag["loglik"] == pytest.approx(exact["loglik"], abs=1e-2)

    def test_k256_recovers_planted_separation(self, spark):
        """fastText-shaped scale: k=256 hashed buckets, planted marker
        tokens; the fitted model must separate the classes."""
        import random

        from pyspark.sql import functions as F

        from woodwork_spark.lifecycle import release
        from woodwork_spark.operators.text import (
            quality_classifier_fit,
            quality_classifier_predict,
        )

        random.seed(11)
        vocab = [f"tok{i}" for i in range(400)]
        rows = []
        for i in range(1500):
            y = i % 2
            body = random.choices(vocab, k=15)
            extra = random.choices(
                ["excellent", "verified", "trusted"] if y
                else ["spam", "clickbait", "scamword"], k=5,
            )
            rows.append((i, float(y), " ".join(body + extra)))
        df = spark.createDataFrame(rows, "doc_id long, y double, text string")
        model = quality_classifier_fit(
            df, "text", "y", k=256, iters=12, solver="auto",
        )
        cols = model.columns
        # auto-dispatch picked the diag solver: no Wald columns
        assert "coef_f0" in cols and "coef_f254" in cols
        assert not any(c.startswith("se_") for c in cols)
        pred = quality_classifier_predict(df, model, "text", k=256)
        acc = pred.select(
            F.avg(
                (
                    (F.col("quality_prob") > 0.5).cast("double")
                    == F.col("y")
                ).cast("double"),
            ).alias("acc"),
        ).collect()[0]["acc"]
        assert acc >= 0.95
        assert release(model) >= 1

    def test_auto_keeps_exact_for_small_k(self, spark):
        from woodwork_spark.lifecycle import release
        from woodwork_spark.operators.text import quality_classifier_fit

        df = spark.createDataFrame(
            [(i, float(i % 2), f"w{i % 7} w{i % 3} w{i % 5}")
             for i in range(200)],
            "doc_id long, y double, text string",
        )
        model = quality_classifier_fit(df, "text", "y", k=4, iters=4)
        assert "se_f0" in model.columns  # exact solver's Wald readout
        release(model)


def _single_partition_consumers(plan):
    """Parent plan line of every Exchange SinglePartition node."""
    def indent(s):
        i = 0
        while i < len(s) and s[i] in " +-:*(0123456789)":
            i += 1
        return i

    lines = plan.split("\n")
    out = []
    for idx, ln in enumerate(lines):
        if "Exchange SinglePartition" in ln:
            dep = indent(ln)
            for j in range(idx - 1, -1, -1):
                if lines[j].strip() and indent(lines[j]) < dep:
                    out.append(lines[j])
                    break
    return out


def _cox_tv_numpy(rows, iters, k):
    """Counting-process Cox Newton reference: explicit risk sets
    (start < t <= stop), Breslow ties, readout at the final beta."""
    t0 = np.array([r[0] for r in rows])
    t1 = np.array([r[1] for r in rows])
    d = np.array([r[2] for r in rows])
    X = np.array([[r[3 + j] for j in range(k)] for r in rows])
    beta = np.zeros(k)
    evt = np.sort(np.unique(t1[d == 1]))
    last = None
    for _ in range(iters + 1):
        U = np.zeros(k)
        A = np.zeros((k, k))
        ll = 0.0
        w = np.exp(np.minimum(X @ beta, 700))
        for t in evt:
            at = (t0 < t) & (t1 >= t)
            dm = (t1 == t) & (d == 1)
            dt = dm.sum()
            S0 = w[at].sum()
            S1 = (w[at, None] * X[at]).sum(0)
            S2 = np.einsum("i,ij,il->jl", w[at], X[at], X[at])
            U += X[dm].sum(0) - dt * S1 / S0
            A += dt * (S2 / S0 - np.outer(S1 / S0, S1 / S0))
            ll += (X[dm] @ beta).sum() - dt * np.log(S0)
        last = (beta.copy(), A.copy(), ll)
        beta = beta + np.linalg.solve(A, U)
    b, A, ll = last
    return b, np.sqrt(np.diag(np.linalg.inv(A))), ll


def _mk_episodes(rng, n, k=1, split_p=0.6):
    rows = []
    for _ in range(n):
        xs = [round(rng.gauss(0, 1), 3) for _ in range(k)]
        dur = rng.expovariate(0.1) + 1
        ev = rng.random() < 0.6
        if rng.random() < split_p and dur > 3:
            mid = round(dur * rng.uniform(0.3, 0.7), 3)
            xs2 = [round(x + 0.3, 3) for x in xs]
            rows.append((0.0, mid, 0.0, *xs))
            rows.append((mid, round(dur, 3), float(ev), *xs2))
        else:
            rows.append((0.0, round(dur, 3), float(ev), *xs))
    return rows


class TestCoxTimeVarying:
    def test_single_covariate_numpy_golden(self, spark):
        import random

        from woodwork_spark.operators.timeseries import cox_ph_fit_tv

        rng = random.Random(42)
        rows = _mk_episodes(rng, 200, k=1)
        b, se, ll = _cox_tv_numpy(rows, 6, 1)
        df = spark.createDataFrame(
            rows, "tstart double, tstop double, ev double, x double",
        )
        r = cox_ph_fit_tv(df, "tstart", "tstop", "ev", "x", iters=6).collect()[0]
        assert r["beta"] == pytest.approx(b[0], abs=1e-9)
        assert r["se"] == pytest.approx(se[0], abs=1e-9)
        assert r["loglik"] == pytest.approx(ll, abs=1e-8)
        assert r["n"] == len(rows)

    def test_multi_covariate_grouped_numpy_golden(self, spark):
        import random

        from woodwork_spark.operators.timeseries import cox_ph_fit_tv

        rng = random.Random(7)
        ga = _mk_episodes(rng, 150, k=2)
        gb = _mk_episodes(rng, 120, k=2)
        na = _cox_tv_numpy(ga, 6, 2)
        nb = _cox_tv_numpy(gb, 6, 2)
        rows = [("a", *r) for r in ga] + [("b", *r) for r in gb]
        df = spark.createDataFrame(
            rows,
            "g string, tstart double, tstop double, ev double, "
            "x1 double, x2 double",
        )
        out = {
            r["g"]: r
            for r in cox_ph_fit_tv(
                df, "tstart", "tstop", "ev", ["x1", "x2"],
                group_cols="g", iters=6,
            ).collect()
        }
        for g, (b, se, ll) in (("a", na), ("b", nb)):
            r = out[g]
            for j, nm in enumerate(["x1", "x2"]):
                assert r[f"beta_{nm}"] == pytest.approx(b[j], abs=1e-9)
                assert r[f"se_{nm}"] == pytest.approx(se[j], abs=1e-9)
            assert r["loglik"] == pytest.approx(ll, abs=1e-8)

    def test_time_fixed_reduces_to_cox_ph_fit(self, spark):
        """With every episode starting at 0, the counting-process fit
        IS the standard fit — same beta/se/loglik."""
        import random

        from woodwork_spark.operators.timeseries import (
            cox_ph_fit,
            cox_ph_fit_tv,
        )

        rng = random.Random(3)
        rows = _mk_episodes(rng, 150, k=1, split_p=0.0)
        df = spark.createDataFrame(
            rows, "tstart double, tstop double, ev double, x double",
        )
        tv = cox_ph_fit_tv(df, "tstart", "tstop", "ev", "x", iters=5).collect()[0]
        std = cox_ph_fit(df, "tstop", "ev", "x", iters=5).collect()[0]
        assert tv["beta"] == pytest.approx(std["beta"], abs=1e-9)
        assert tv["se"] == pytest.approx(std["se"], abs=1e-9)
        assert tv["loglik"] == pytest.approx(std["loglik"], abs=1e-8)
        assert tv["n_events"] == std["n_events"]

    def test_degenerate_rows_dropped_and_gating(self, spark):
        from woodwork_spark.operators.timeseries import cox_ph_fit_tv

        rows = [
            ("ok", 0.0, 5.0, 1.0, 0.5),
            ("ok", 0.0, 7.0, 1.0, -0.5),
            ("ok", 2.0, 9.0, 0.0, 0.1),
            ("ok", 3.0, 3.0, 1.0, 9.9),   # zero-length: dropped
            ("ok", 5.0, 4.0, 1.0, 9.9),   # inverted: dropped
            ("none", 0.0, 4.0, 0.0, 0.2),  # no events: NULL stats
            ("none", 1.0, 6.0, 0.0, 0.3),
        ]
        df = spark.createDataFrame(
            rows, "g string, tstart double, tstop double, ev double, x double",
        )
        out = {
            r["g"]: r
            for r in cox_ph_fit_tv(
                df, "tstart", "tstop", "ev", "x", group_cols="g", iters=3,
            ).collect()
        }
        assert out["ok"]["n"] == 3
        assert out["none"]["beta"] is None
        assert out["none"]["loglik"] is None

    def test_ungrouped_plan_no_singlepartition_windows(
        self, spark, monkeypatch,
    ):
        """The cell bound is set to 0 so the fit takes the Spark path
        (below it the whole fit runs on the driver and has no plan to
        inspect)."""
        import random

        from woodwork_spark import io
        from woodwork_spark.operators.timeseries import cox_ph_fit_tv

        monkeypatch.setattr(io, "LOCAL_MAX_CELLS", 0)
        rng = random.Random(9)
        rows = _mk_episodes(rng, 300, k=1)
        df = spark.createDataFrame(
            rows, "tstart double, tstop double, ev double, x double",
        )
        res = cox_ph_fit_tv(df, "tstart", "tstop", "ev", "x", iters=2)
        plan = res._jdf.queryExecution().executedPlan().toString()
        for c in _single_partition_consumers(plan):
            assert "Window" not in c and "Sort" not in c, c


class TestStreamingProfileBoundary:
    """Round-11 verdict ask #7: the describe-class profiling aggregates
    are NOT streamable (exact percentile / count_distinct state +
    driver collect); the streaming profile path is the mergeable
    sketch family (HLL cardinality, KLL quantiles).  One test pins the
    boundary, one proves the sketch path composes stream-side."""

    def test_describe_raises_on_streaming_frame(self, spark):
        import shutil
        import uuid

        import woodwork_spark as ww
        from pyspark.errors.exceptions.captured import AnalysisException

        path = f"/tmp/ww_profstream_{uuid.uuid4().hex[:8]}"
        try:
            spark.createDataFrame(
                [(i, float(i)) for i in range(50)], "idx long, x double",
            ).write.mode("overwrite").parquet(path)
            stream = spark.readStream.schema(
                "idx long, x double",
            ).parquet(path)
            # the typed profiling layer is batch-only end to end:
            # inference and describe both run driver-collected
            # aggregations (exact percentile / distinct state), which
            # streaming sources reject at analysis — the documented
            # boundary, not an accidental crash
            with pytest.raises(AnalysisException):
                t = ww.init(stream)
                t.describe_dict()
        finally:
            shutil.rmtree(path, ignore_errors=True)

    def test_sketch_profile_composes_stream_side(self, spark):
        import shutil
        import uuid

        from woodwork_spark.streaming.events import run_stream_to_memory

        path = f"/tmp/ww_skstream_{uuid.uuid4().hex[:8]}"
        try:
            rows = [
                (f"src{i % 3}", float(i % 100), i % 40) for i in range(400)
            ]
            batch = spark.createDataFrame(
                rows, "src string, v double, k int",
            )
            batch.write.mode("overwrite").parquet(path)
            stream = spark.readStream.schema(
                "src string, v double, k int",
            ).parquet(path)
            # the streaming profile: HLL distinct + KLL quantile
            # sketches per group — bounded state, mergeable downstream
            agg = stream.groupBy("src").agg(
                F.hll_sketch_estimate(
                    F.hll_sketch_agg(F.col("k"), F.lit(12)),
                ).alias("distinct_est"),
                F.expr(
                    "kll_sketch_get_quantile_double("
                    "kll_sketch_agg_double(v, 2048), 0.5)",
                ).alias("median_est"),
            )
            got = {
                r["src"]: r
                for r in run_stream_to_memory(
                    agg, f"skprof_{uuid.uuid4().hex[:8]}",
                ).collect()
            }
            exact = {
                r["src"]: r
                for r in batch.groupBy("src").agg(
                    F.count_distinct("k").alias("d"),
                    F.percentile(F.col("v"), F.lit(0.5)).alias("m"),
                ).collect()
            }
            assert set(got) == set(exact)
            for s_key in got:
                assert abs(got[s_key]["distinct_est"] - exact[s_key]["d"]) \
                    <= max(2, 0.05 * exact[s_key]["d"])
                assert abs(got[s_key]["median_est"] - exact[s_key]["m"]) \
                    <= 5.0
        finally:
            shutil.rmtree(path, ignore_errors=True)


def _fg_numpy(rows, iters, k):
    """Independent Fine-Gray reference: per-subject IPCW risk-set loops
    (weights G(t-)/G(T_i-), left-limit censoring KM), Breslow ties,
    readout at final beta — deliberately NOT the suffix+prefix
    decomposition the operator uses."""
    T = np.array([r[0] for r in rows])
    C = np.array([r[1] for r in rows])
    X = np.array([[r[2 + j] for j in range(k)] for r in rows])
    times = np.sort(np.unique(T))
    Gm = {}
    g = 1.0
    for t in times:
        Gm[t] = g
        r = (T >= t).sum()
        c = ((T == t) & (C == 0)).sum()
        if c > 0:
            frac = 1 - c / r
            g = g * frac if frac > 0 else g * np.exp(-745)
    beta = np.zeros(k)
    ev_times = np.sort(np.unique(T[C == 1]))
    last = None
    for _ in range(iters + 1):
        U = np.zeros(k)
        A = np.zeros((k, k))
        ll = 0.0
        w = np.exp(np.minimum(X @ beta, 700))
        for t in ev_times:
            wt = np.where(T >= t, 1.0, 0.0)
            late = (C == 2) & (T < t)
            wt[late] = Gm[t] / np.array([Gm[ti] for ti in T[late]])
            dm = (T == t) & (C == 1)
            dt = dm.sum()
            ww = wt * w
            S0 = ww.sum()
            S1 = (ww[:, None] * X).sum(0)
            S2 = np.einsum("i,ij,il->jl", ww, X, X)
            U += X[dm].sum(0) - dt * S1 / S0
            A += dt * (S2 / S0 - np.outer(S1 / S0, S1 / S0))
            ll += (X[dm] @ beta).sum() - dt * np.log(S0)
        last = (beta.copy(), A.copy(), ll)
        beta = beta + np.linalg.solve(A, U)
    b, A, ll = last
    return b, np.sqrt(np.diag(np.linalg.inv(A))), ll


def _mk_competing(rng, n, k=1):
    rows = []
    for _ in range(n):
        xs = [round(rng.gauss(0, 1), 3) for _ in range(k)]
        t = round(rng.expovariate(0.15) + 0.5, 3)
        u = rng.random()
        cause = 1 if u < 0.4 else (2 if u < 0.65 else 0)
        rows.append((t, cause, *xs))
    return rows


class TestFineGray:
    def test_single_covariate_numpy_golden(self, spark):
        import random

        from woodwork_spark.operators.timeseries import fine_gray_fit

        rng = random.Random(21)
        rows = _mk_competing(rng, 250)
        b, se, ll = _fg_numpy(rows, 6, 1)
        df = spark.createDataFrame(rows, "t double, cause int, x double")
        r = fine_gray_fit(df, "t", "cause", "x", iters=6).collect()[0]
        assert r["beta"] == pytest.approx(b[0], abs=1e-9)
        assert r["se"] == pytest.approx(se[0], abs=1e-9)
        assert r["loglik"] == pytest.approx(ll, abs=1e-8)
        assert r["n"] == 250

    def test_multi_covariate_grouped_numpy_golden(self, spark):
        import random

        from woodwork_spark.operators.timeseries import fine_gray_fit

        rng = random.Random(31)
        ga = _mk_competing(rng, 220, k=2)
        gb = _mk_competing(rng, 180, k=2)
        na = _fg_numpy(ga, 5, 2)
        nb = _fg_numpy(gb, 5, 2)
        rows = [("a", *r) for r in ga] + [("b", *r) for r in gb]
        df = spark.createDataFrame(
            rows, "g string, t double, cause int, x1 double, x2 double",
        )
        out = {
            r["g"]: r
            for r in fine_gray_fit(
                df, "t", "cause", ["x1", "x2"], group_cols="g", iters=5,
            ).collect()
        }
        for g, (b, se, ll) in (("a", na), ("b", nb)):
            r = out[g]
            for j, nm in enumerate(["x1", "x2"]):
                assert r[f"beta_{nm}"] == pytest.approx(b[j], abs=1e-9)
                assert r[f"se_{nm}"] == pytest.approx(se[j], abs=1e-9)
            assert r["loglik"] == pytest.approx(ll, abs=1e-8)

    def test_no_competing_reduces_to_cox(self, spark):
        """With zero competing events the Fine-Gray risk set IS the Cox
        risk set — the fits must agree exactly."""
        import random

        from woodwork_spark.operators.timeseries import (
            cox_ph_fit,
            fine_gray_fit,
        )

        rng = random.Random(5)
        rows = [
            (round(rng.expovariate(0.1) + 1, 3),
             1 if rng.random() < 0.6 else 0,
             round(rng.gauss(0, 1), 3))
            for _ in range(200)
        ]
        df = spark.createDataFrame(rows, "t double, cause int, x double")
        fg = fine_gray_fit(df, "t", "cause", "x", iters=5).collect()[0]
        cox = cox_ph_fit(
            df.withColumn("ev", (F.col("cause") == 1).cast("double")),
            "t", "ev", "x", iters=5,
        ).collect()[0]
        assert fg["beta"] == pytest.approx(cox["beta"], abs=1e-9)
        assert fg["se"] == pytest.approx(cox["se"], abs=1e-9)
        assert fg["loglik"] == pytest.approx(cox["loglik"], abs=1e-8)

    def test_no_censoring_equals_infinite_followup_cox(self, spark):
        """With no censoring, every IPCW weight is 1: Fine-Gray equals
        a standard Cox where competing subjects stay at risk forever
        (time pushed past the last event, event flag 0)."""
        import random

        from woodwork_spark.operators.timeseries import (
            cox_ph_fit,
            fine_gray_fit,
        )

        rng = random.Random(13)
        rows = [
            (round(rng.expovariate(0.15) + 0.5, 3),
             1 if rng.random() < 0.55 else 2,
             round(rng.gauss(0, 1), 3))
            for _ in range(200)
        ]
        df = spark.createDataFrame(rows, "t double, cause int, x double")
        fg = fine_gray_fit(df, "t", "cause", "x", iters=5).collect()[0]
        tmax = max(r[0] for r in rows)
        shifted = df.select(
            F.when(F.col("cause") == 2, F.lit(tmax + 100.0))
            .otherwise(F.col("t")).alias("t"),
            (F.col("cause") == 1).cast("double").alias("ev"),
            "x",
        )
        cox = cox_ph_fit(shifted, "t", "ev", "x", iters=5).collect()[0]
        assert fg["beta"] == pytest.approx(cox["beta"], abs=1e-9)
        assert fg["se"] == pytest.approx(cox["se"], abs=1e-9)

    def test_ungrouped_plan_no_singlepartition_windows(self, spark):
        import random

        from woodwork_spark.operators.timeseries import fine_gray_fit

        rng = random.Random(9)
        rows = _mk_competing(rng, 300)
        df = spark.createDataFrame(rows, "t double, cause int, x double")
        res = fine_gray_fit(df, "t", "cause", "x", iters=2)
        plan = res._jdf.queryExecution().executedPlan().toString()
        for c in _single_partition_consumers(plan):
            assert "Window" not in c and "Sort" not in c, c

    def test_release_frees_caches(self, spark):
        import random

        from woodwork_spark.lifecycle import release
        from woodwork_spark.operators.timeseries import fine_gray_fit

        rng = random.Random(3)
        rows = _mk_competing(rng, 100)
        df = spark.createDataFrame(rows, "t double, cause int, x double")
        out = fine_gray_fit(df, "t", "cause", "x", iters=2)
        out.collect()
        assert release(out) >= 1


class TestGrayScoreTest:
    def test_matches_numpy_ipcw_reference(self, spark):
        import random

        from woodwork_spark.operators.timeseries import gray_score_test

        rng = random.Random(77)
        rows = []
        for i in range(300):
            g = "a" if i % 2 else "b"
            t = round(rng.expovariate(0.2 if g == "a" else 0.15) + 0.5, 3)
            u = rng.random()
            cause = (
                1 if u < (0.45 if g == "b" else 0.35)
                else (2 if u < 0.65 else 0)
            )
            rows.append((g, t, cause))
        T = np.array([r[1] for r in rows])
        C = np.array([r[2] for r in rows])
        XB = np.array([1.0 if r[0] == "b" else 0.0 for r in rows])
        Gm, g = {}, 1.0
        for t in np.sort(np.unique(T)):
            Gm[t] = g
            r = (T >= t).sum()
            c = ((T == t) & (C == 0)).sum()
            if c > 0:
                frac = 1 - c / r
                g = g * frac if frac > 0 else g * np.exp(-745)
        U = V = 0.0
        for t in np.sort(np.unique(T[C == 1])):
            wt = np.where(T >= t, 1.0, 0.0)
            late = (C == 2) & (T < t)
            wt[late] = Gm[t] / np.array([Gm[ti] for ti in T[late]])
            dm = (T == t) & (C == 1)
            dt = dm.sum()
            S0, S1 = wt.sum(), (wt * XB).sum()
            U += XB[dm].sum() - dt * S1 / S0
            V += dt * (S1 / S0) * (1 - S1 / S0)
        df = spark.createDataFrame(rows, "g string, t double, cause int")
        r = gray_score_test(df, "t", "cause", "g", "a", "b").collect()[0]
        assert r["o_minus_e"] == pytest.approx(U, abs=1e-9)
        assert r["variance"] == pytest.approx(V, abs=1e-9)
        assert r["chi2"] == pytest.approx(U * U / V, abs=1e-9)
        assert r["n_a"] == 150 and r["n_b"] == 150

    def test_no_competing_equals_logrank_chi2_direction(self, spark):
        """With zero competing events the Gray score test IS the
        log-rank score test (same U; the variance is the score-test
        form, equal to the hypergeometric one without ties-correction
        when each cell has d <= 1)."""
        import random

        from woodwork_spark.operators.timeseries import gray_score_test, logrank_test

        rng = random.Random(41)
        rows = []
        used = set()
        for i in range(240):
            g = "a" if i % 2 else "b"
            # unique times -> every cell has d = 1, where the
            # information and hypergeometric variances coincide
            while True:
                t = round(rng.expovariate(0.2) + rng.random() * 1e-3, 6)
                if t not in used:
                    used.add(t)
                    break
            cause = 1 if rng.random() < 0.6 else 0
            rows.append((g, t, cause))
        df = spark.createDataFrame(rows, "g string, t double, cause int")
        gray = gray_score_test(df, "t", "cause", "g", "a", "b").collect()[0]
        lr = logrank_test(
            df.withColumn("ev", (F.col("cause") == 1).cast("int")),
            "t", "ev", "g", "a", "b",
        ).collect()[0]
        # logrank folds O-E on group a; the score test uses group b —
        # same magnitude, opposite sign
        assert abs(gray["o_minus_e"]) == pytest.approx(
            abs(lr["o_minus_e"]), abs=1e-9,
        )
        assert gray["chi2"] == pytest.approx(lr["chi2"], abs=1e-9)


class TestDsir:
    def test_weights_favor_target_distribution(self, spark):
        """Documents drawn from the target vocabulary must out-score
        documents from a disjoint vocabulary."""
        import random

        from woodwork_spark.operators.sampling import dsir_log_weights

        rng = random.Random(19)
        tgt_vocab = [f"good{i}" for i in range(50)]
        oth_vocab = [f"junk{i}" for i in range(50)]
        raw = []
        for i in range(300):
            vocab = tgt_vocab if i % 2 == 0 else oth_vocab
            raw.append((i, " ".join(rng.choices(vocab, k=12))))
        target = [
            (1000 + i, " ".join(rng.choices(tgt_vocab, k=12)))
            for i in range(100)
        ]
        raw_df = spark.createDataFrame(raw, "doc_id long, text string")
        tgt_df = spark.createDataFrame(target, "doc_id long, text string")
        w = dsir_log_weights(raw_df, tgt_df, "text", "doc_id", k=512)
        rows = {r["id"]: r["log_weight"] for r in w.collect()}
        tgt_like = [rows[i] for i in range(0, 300, 2)]
        oth_like = [rows[i] for i in range(1, 300, 2)]
        assert min(tgt_like) > max(oth_like)

    def test_empty_and_null_docs_score_zero(self, spark):
        from woodwork_spark.operators.sampling import dsir_log_weights

        raw = spark.createDataFrame(
            [(1, "alpha beta"), (2, ""), (3, None)],
            "doc_id long, text string",
        )
        tgt = spark.createDataFrame(
            [(9, "alpha beta alpha")], "doc_id long, text string",
        )
        rows = {
            r["id"]: r
            for r in dsir_log_weights(
                raw, tgt, "text", "doc_id", k=64,
            ).collect()
        }
        assert rows[2]["n_grams"] == 0 and rows[2]["log_weight"] == 0.0
        assert rows[3]["n_grams"] == 0 and rows[3]["log_weight"] == 0.0
        assert rows[1]["n_grams"] == 3  # 2 unigrams + 1 bigram

    def test_sample_deterministic_and_weighted(self, spark):
        from woodwork_spark.operators.sampling import dsir_sample

        w = spark.createDataFrame(
            [(i, 4, float(5.0 if i < 20 else -5.0)) for i in range(200)],
            "id long, n_grams long, log_weight double",
        )
        s1 = sorted(r["id"] for r in dsir_sample(w, 25).collect())
        s2 = sorted(r["id"] for r in dsir_sample(w, 25).collect())
        assert s1 == s2  # hash-deterministic, no RNG state
        # the 20 high-weight docs dominate the 25-draw sample
        assert sum(1 for i in s1 if i < 20) >= 18


class TestMedcoupleKernelPreallocated:
    """Round-12 optimization: the medcouple kernel preallocates its
    (p x q) work buffers (np.zeros + out= ufuncs, in-place median)
    instead of letting each ufunc malloc a fresh ~200 MB temporary —
    first-touch of plain-malloc pages measures ~15 MB/s in this
    container, so allocation dominated a cold kernel call (29 s -> 0.4 s
    at the 10k sample cap).  Values must stay bit-identical to the
    reference O(N^2) formulation."""

    @staticmethod
    def _naive(values):
        x = np.sort(values)[::-1]
        n = x.shape[0]
        if n == 0:
            return float("nan")
        med = np.median(x)
        z = x - med
        upper = z[z >= 0.0]
        lower = z[z <= 0.0]
        p = upper.shape[0]
        with np.errstate(divide="ignore", invalid="ignore"):
            h = (upper[:, None] + lower[None, :]) / (
                upper[:, None] - lower[None, :]
            )
        num_ties = np.sum(z == 0.0)
        if num_ties:
            sign = np.zeros((num_ties, num_ties))
            idx = np.triu_indices(num_ties, 1)
            sign[idx] = -1.0
            sign = sign - sign.T
            h[p - num_ties:, :num_ties] = sign[::-1, ::-1]
        return float(np.median(h))

    def test_bit_identical_to_naive_formulation(self):
        from woodwork_spark.statistics.outliers import _medcouple

        rng = np.random.default_rng(0)
        for n in (1, 2, 5, 100, 999, 2048):
            v = rng.normal(size=n)
            got = _medcouple(v.copy())
            want = self._naive(v.copy())
            assert got == want, (n, got, want)
        # skewed sample (the shape the statistic exists for)
        v = rng.exponential(size=1500)
        assert _medcouple(v.copy()) == self._naive(v.copy())

    def test_bit_identical_median_ties_path(self):
        from woodwork_spark.statistics.outliers import _medcouple

        # repeated median values exercise the special sign-matrix block
        v = np.repeat([1.0, 2.0, 2.0, 2.0, 3.0], 40)
        assert _medcouple(v.copy()) == self._naive(v.copy())
        v = np.array([5.0] * 9)  # all values AT the median
        assert _medcouple(v.copy()) == self._naive(v.copy())

    def test_empty_returns_nan(self):
        from woodwork_spark.statistics.outliers import _medcouple

        assert np.isnan(_medcouple(np.array([])))


class TestPrepPinsArrow:
    """_prep must pin Arrow driver transfers ON in an unknown driver
    session (OSS default is off): local_rows_df's JVM local-relation
    fast path gates on the session conf, and every oracle-verified
    configuration (bench.py, conftest, profiler) runs with it on."""

    def test_prep_sets_arrow_conf(self, spark):
        import __spark_entry__ as entry

        key = "spark.sql.execution.arrow.pyspark.enabled"
        prev = spark.conf.get(key, "false")
        try:
            spark.conf.set(key, "false")
            entry._prep(spark)
            assert spark.conf.get(key) == "true"
        finally:
            spark.conf.set(key, prev)

    def test_local_rows_fast_path_engages_after_prep(self, spark):
        import __spark_entry__ as entry
        from woodwork_spark.operators.scale import local_rows_df

        entry._prep(spark)
        df = local_rows_df(
            spark, [(1, "a"), (2, "b")], "id bigint, s string",
        )
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        # JVM local relation, not a pickled PythonRDD scan
        assert "LocalRelation" in plan or "LocalTableScan" in plan
        assert df.rdd.getNumPartitions() == 1
