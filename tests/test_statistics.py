"""Statistics goldens (reference test_statistics.py analog, fixtures
F3/F4/F5): exact values checked against pandas-computed references."""

import numpy as np
import pandas as pd
import pytest

import woodwork_spark as ww


@pytest.fixture()
def numeric_table(spark):
    vals = [10.0, 20.0, 17.0, 32.0, None, 1.0, 56.0, 10.0]
    df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)], "idx long, numeric_col double")
    return ww.init(df, index="idx"), pd.Series(vals, dtype="float64")


def test_describe_numeric_golden(numeric_table):
    t, s = numeric_table
    d = t.describe_dict()
    stats = d["numeric_col"]
    assert stats["count"] == 7
    assert stats["nan_count"] == 1
    assert stats["nunique"] == 6
    assert stats["mean"] == pytest.approx(s.mean())
    assert stats["std"] == pytest.approx(s.std())
    assert stats["min"] == s.min()
    assert stats["max"] == s.max()
    assert stats["first_quartile"] == pytest.approx(s.quantile(0.25))
    assert stats["second_quartile"] == pytest.approx(s.quantile(0.5))
    assert stats["third_quartile"] == pytest.approx(s.quantile(0.75))
    assert stats["mode"] == 10.0


def test_describe_boolean_and_categorical(spark):
    df = spark.createDataFrame(
        [(True, "red"), (False, "red"), (True, "blue"), (None, None)],
        "b boolean, c string",
    )
    t = ww.init(
        df,
        logical_types={"b": "BooleanNullable", "c": "Categorical"},
        validate=False,
    )
    d = t.describe_dict()
    assert d["b"]["num_true"] == 2
    assert d["b"]["num_false"] == 1
    assert d["b"]["nan_count"] == 1
    assert d["c"]["nunique"] == 2
    assert d["c"]["mode"] == "red"


def test_box_plot_golden(spark):
    vals = [93.0, 42.0, 37.0, -16.0, 49.0, 42.0, 36.0, 57.0, 60.0, 23.0]
    s = pd.Series(vals)
    df = spark.createDataFrame([(v,) for v in vals], "has_outliers double")
    t = ww.init(df, validate=False)
    out = t.box_plot_dict("has_outliers")
    q1, med, q3 = s.quantile(0.25), s.quantile(0.5), s.quantile(0.75)
    iqr = q3 - q1
    assert out["quantiles"][0.25] == pytest.approx(q1)
    assert out["quantiles"][0.75] == pytest.approx(q3)
    assert out["low_bound"] == pytest.approx(max(q1 - 1.5 * iqr, s.min()))
    assert out["high_bound"] == pytest.approx(min(q3 + 1.5 * iqr, s.max()))
    assert sorted(out["low_values"]) == [-16.0]
    assert sorted(out["high_values"]) == [93.0]


def test_box_plot_non_numeric_raises(spark):
    df = spark.createDataFrame([("a",)], "s string")
    t = ww.init(df, validate=False)
    with pytest.raises(TypeError):
        t.box_plot_dict("s")


def test_medcouple_skewed(spark):
    vals = [1.0] * 2 + [2.0] * 6 + [3.0] * 20 + [4.0] * 12 + [5.0] * 8 + [8.0] * 2
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    t = ww.init(df, validate=False)
    out = t.medcouple_dict("x")
    assert "medcouple_stat" in out
    best = t.get_outliers("x", method="best")
    assert "quantiles" in best


def test_value_counts(spark):
    df = spark.createDataFrame(
        [("a",), ("a",), ("b",), ("c",), ("a",), ("b",)], "cat string",
    )
    t = ww.init(df, logical_types={"cat": "Categorical"}, validate=False)
    vc = t.value_counts()
    assert vc["cat"][0] == {"value": "a", "count": 3}
    assert vc["cat"][1] == {"value": "b", "count": 2}


def test_dependence_pearson_spearman_match_pandas(spark):
    rng = np.random.default_rng(7)
    x = rng.random(60)
    y = 2 * x + rng.random(60) * 0.1
    z = rng.random(60)
    pdf = pd.DataFrame({"x": x, "y": y, "z": z})
    t = ww.init(spark.createDataFrame(pdf), validate=False)
    dep = t.dependence(measures=["pearson", "spearman"])
    got = {
        (r.column_1, r.column_2): (r.pearson, r.spearman) for r in dep.itertuples()
    }
    for a, b in [("x", "y"), ("x", "z"), ("y", "z")]:
        key = (a, b) if (a, b) in got else (b, a)
        assert got[key][0] == pytest.approx(pdf[a].corr(pdf[b]), abs=1e-9)
        # spearman == pearson on average ranks (no scipy in this env)
        expected_sp = pdf[a].rank().corr(pdf[b].rank())
        assert got[key][1] == pytest.approx(expected_sp, abs=1e-9)


def test_dependence_spearman_with_nulls(spark):
    pdf = pd.DataFrame(
        {
            "a": [1.0, 2.0, None, 4.0, 5.0, 6.0, 7.0, 8.0] * 5,
            "b": [2.0, 4.0, 6.0, None, 10.0, 12.0, 14.0, 16.0] * 5,
        },
    )
    t = ww.init(spark.createDataFrame(pdf), validate=False)
    dep = t.dependence(measures=["spearman"], min_shared=5)
    mask = pdf["a"].notna() & pdf["b"].notna()
    expected = pdf.loc[mask, "a"].rank().corr(pdf.loc[mask, "b"].rank())
    assert dep.iloc[0]["spearman"] == pytest.approx(
        expected * (30 / 40), abs=1e-9,  # scaled by shared/union rows
    )


def test_dependence_mutual_info_detects_dependency(spark):
    # strs2 perfectly dependent with ints (fixture F4 semantics)
    pdf = pd.DataFrame(
        {
            "ints": [1, 2, 1] * 12,
            "strs2": ["bye", "hi", "bye"] * 12,
            "rand": list(np.random.default_rng(0).integers(0, 100, 36)),
        },
    )
    df = spark.createDataFrame(pdf)
    t = ww.init(
        df, logical_types={"strs2": "Categorical"}, validate=False,
    )
    dep = t.mutual_information()
    got = {frozenset((r.column_1, r.column_2)): r.mutual_info for r in dep.itertuples()}
    strong = got[frozenset(("ints", "strs2"))]
    assert strong == pytest.approx(1.0, abs=0.01)
    assert abs(got[frozenset(("ints", "rand"))]) < 0.3


def test_dependence_min_shared_nan(spark):
    pdf = pd.DataFrame(
        {
            "a": [1.0] * 5 + [None] * 35,
            "b": [None] * 35 + [2.0] * 5,
        },
    )
    t = ww.init(spark.createDataFrame(pdf), validate=False)
    with pytest.warns(Warning):
        dep = t.dependence(measures=["pearson"])
    assert np.isnan(dep.iloc[0]["pearson"])


def test_frequency_inference_clean(spark):
    idx = pd.date_range("2020-01-01", periods=80, freq="D")
    df = spark.createDataFrame([(ts.to_pydatetime(),) for ts in idx], "ts timestamp")
    t = ww.init(df, validate=False)
    out = t.infer_temporal_frequencies()
    assert out["ts"] == "D"


def test_frequency_inference_corrupted_debug(spark):
    # long enough that the clean windows dominate the 0.9 vote threshold
    idx = list(pd.date_range("2020-01-01", periods=300, freq="D"))
    corrupted = idx[:150] + idx[155:]  # 5-day missing range
    df = spark.createDataFrame([(ts.to_pydatetime(),) for ts in corrupted], "ts timestamp")
    t = ww.init(df, validate=False)
    out = t.infer_temporal_frequencies(debug=True)
    freq, debug = out["ts"]
    assert freq is None
    assert debug["estimated_freq"] == "D"
    assert len(debug["missing_values"]) == 1
    assert debug["missing_values"][0]["range"] == 5


def test_describe_with_extra_stats(spark):
    import datetime

    from woodwork_spark.statistics.describe import describe_with_extra_stats

    df = spark.createDataFrame(
        [
            (float(i), ["red", "blue"][i % 2], datetime.datetime(2020, 1, 1 + i))
            for i in range(20)
        ],
        "num double, cat string, dt timestamp",
    )
    t = ww.init(df, logical_types={"cat": "Categorical"}, validate=False)
    d = describe_with_extra_stats(t)
    hist = d["num"]["histogram"]
    assert len(hist) == 10
    assert sum(h["frequency"] for h in hist) == 20
    assert d["cat"]["top_values"][0]["count"] == 10
    recents = d["dt"]["recent_values"]
    assert recents[0]["value"] == datetime.date(2020, 1, 20)
    assert len(recents) == 10


def test_passthrough_join_unwraps_typed_tables(spark):
    a = ww.init(spark.createDataFrame([(1, "x")], "id long, a string"), validate=False)
    b = ww.init(spark.createDataFrame([(1, "y")], "id long, b string"), validate=False)
    joined = a.join(b, "id")
    assert set(joined.columns) == {"id", "a", "b"}


def test_dependence_reference_goldens(spark):
    """Exact golden values from the reference's df_mi fixture
    (reference tests/accessor/test_statistics.py:144-190,
    conftest.py:409-422): 12 rows, every measure."""
    pdf = pd.DataFrame(
        {
            "ints": [1, 2, 1] * 4,
            "ints2": [2, 2, 2] * 4,
            "bools": [True, False, True] * 4,
            "strs2": ["bye", "hi", "bye"] * 4,
            "strs": ["hi", "hi", "hi"] * 4,
            "dates": ["2020-01-01", "2020-01-01", "1997-01-04"] * 4,
        },
    )
    t = ww.init(
        spark.createDataFrame(pdf),
        logical_types={
            "dates": "Datetime",
            "strs": "Categorical",
            "strs2": "Categorical",
        },
        validate=False,
    )
    dep = t.dependence(measures="all", min_shared=12)
    assert sorted(dep.columns) == [
        "column_1", "column_2", "max", "mutual_info", "pearson", "spearman",
    ]
    assert len(dep) == 15  # MI pairs; pearson/spearman only on numeric-like

    got = {
        frozenset((r.column_1, r.column_2)): r for r in dep.itertuples()
    }

    def val(a, b, m):
        return getattr(got[frozenset((a, b))], m)

    assert val("ints", "bools", "mutual_info") == pytest.approx(1.0, abs=1e-3)
    assert val("ints", "bools", "pearson") == pytest.approx(-1.0, abs=1e-9)
    assert val("ints", "bools", "spearman") == pytest.approx(-1.0, abs=1e-9)
    assert val("ints", "strs", "mutual_info") == pytest.approx(0.0, abs=1e-3)
    assert val("strs", "bools", "mutual_info") == pytest.approx(0.0, abs=1e-3)
    assert val("dates", "ints", "pearson") == pytest.approx(0.5, abs=1e-9)
    assert val("dates", "bools", "pearson") == pytest.approx(-0.5, abs=1e-9)
    assert val("dates", "ints", "spearman") == pytest.approx(0.5, abs=1e-9)
    assert val("dates", "bools", "spearman") == pytest.approx(-0.5, abs=1e-9)
    # AMI goldens from the reference's sklearn-based implementation
    assert val("dates", "ints", "mutual_info") == pytest.approx(0.208, abs=1e-2)
    assert val("dates", "bools", "mutual_info") == pytest.approx(0.208, abs=1e-2)


def test_box_plot_with_precomputed_quantiles(spark):
    df = spark.createDataFrame([(float(i),) for i in range(100)], "x double")
    t = ww.init(df, validate=False)
    out = t.box_plot_dict(
        "x", quantiles={0.0: 0.0, 0.25: 24.75, 0.5: 49.5, 0.75: 74.25, 1.0: 99.0},
    )
    assert out["low_bound"] == 0.0 and out["high_bound"] == 99.0
    with pytest.raises(ValueError, match="minimum necessary"):
        t.box_plot_dict("x", quantiles={0.5: 49.5})


def test_dependence_same_reference_golden(spark):
    """Reference df_same_mi (conftest.py:390-406): all-null and
    natural-language columns excluded; aligned nulls; perfect
    dependence = 1.0 on the one valid pair."""
    pdf = pd.DataFrame(
        {
            "ints": [2.0, None, 5.0, 2.0],
            "floats": [1.0, None, 100.0, 1.0],
            "nans": pd.Series([None, None, None, None], dtype="float64"),
            "nat_lang": [
                "this is a very long sentence inferred as a string",
                None,
                "test",
                "test",
            ],
        },
    )
    t = ww.init(
        spark.createDataFrame(pdf),
        logical_types={"ints": "IntegerNullable", "nat_lang": "NaturalLanguage"},
        validate=False,
    )
    dep = t.dependence(measures=["pearson"], min_shared=3)
    cols_used = set(dep["column_1"]) | set(dep["column_2"])
    assert "nat_lang" not in cols_used
    assert len(dep) == 1  # nans has no valid values -> shared=0 pair is NaN? ints-floats only meaningful
    row = dep[
        (dep.column_1.isin(["ints", "floats"])) & (dep.column_2.isin(["ints", "floats"]))
    ].iloc[0]
    assert row["pearson"] == pytest.approx(1.0, abs=1e-9)


def test_dependence_unique_cols_reference(spark):
    """Reference df_mi_unique: all-unique categoricals give AMI ~ 0
    after the expected-MI adjustment."""
    pdf = pd.DataFrame(
        {
            "unique": ["hi", "bye", "hello", "goodbye"] * 5,
            "ints": [1, 2, 1, 2] * 5,
        },
    )
    # make 'unique' genuinely unique per row
    pdf["unique"] = [f"{v}_{i}" for i, v in enumerate(pdf["unique"])]
    t = ww.init(
        spark.createDataFrame(pdf),
        logical_types={"unique": "Categorical"},
        validate=False,
    )
    dep = t.mutual_information(min_shared=10)  # 20 rows < default 25
    val = dep.iloc[0]["mutual_info"]
    assert abs(val) < 0.05  # unique labels carry no adjusted information


def test_numeric_profile_approx_mode(spark):
    from woodwork_spark.statistics.profile import numeric_profile_df

    df = spark.createDataFrame([(float(i),) for i in range(1000)], "x double")
    exact = numeric_profile_df(df, ["x"]).collect()[0]
    approx = numeric_profile_df(df, ["x"], percentile_mode="approx").collect()[0]
    assert approx["count"] == exact["count"]
    # sketch quantiles land within ~1% of exact on uniform data
    for q in ("q1", "median", "q3"):
        assert abs(approx[q] - exact[q]) <= 10
    assert abs(approx["nunique"] - 1000) <= 50


def test_medcouple_left_skew_coefficient_signs(spark):
    """For mc<0 the bounds use flipped coefficient signs (reference
    _determine_coefficients): low uses exp(+coeff*mc), high exp(-coeff*mc)."""
    import numpy as np

    from woodwork_spark.statistics.outliers import _medcouple, _sample_skewness

    vals = [2.0] * 2 + [5.0] * 8 + [6.0] * 12 + [7.0] * 20 + [8.0] * 6 + [9.0] * 2
    arr = np.array(vals)
    mc = round(_medcouple(arr), 3)
    assert mc < 0  # left-skewed fixture
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    t = ww.init(df, validate=False)
    out = t.medcouple_dict("x")
    coeff = min(abs(_sample_skewness(arr)), 3.5)
    q1, q3 = np.percentile(arr, 25), np.percentile(arr, 75)
    iqr = q3 - q1
    exp_low = max(round(q1 - 1.5 * np.exp(coeff * mc) * iqr, 10), arr.min())
    exp_high = min(round(q3 + 1.5 * np.exp(-coeff * mc) * iqr, 10), arr.max())
    assert out["low_bound"] == pytest.approx(exp_low)
    assert out["high_bound"] == pytest.approx(exp_high)


def test_sample_skewness_matches_biased_moment(spark):
    import numpy as np

    from woodwork_spark.statistics.outliers import _sample_skewness

    rng = np.random.RandomState(7)
    arr = rng.exponential(size=500)
    m = arr.mean()
    expected = ((arr - m) ** 3).mean() / (((arr - m) ** 2).mean()) ** 1.5
    assert _sample_skewness(arr) == pytest.approx(expected)


def test_mutual_info_job_count_is_batched(spark):
    """A wide frame's MI pass must issue O(pairs/chunk) Spark jobs, not
    O(pairs): all union counts in one agg, contingencies grouped."""
    import random
    import uuid

    random.seed(3)
    ncols = 12  # 66 pairs -> old code issued 132+ jobs
    rows = [
        tuple(random.choice("abc") for _ in range(ncols)) for _ in range(300)
    ]
    df = spark.createDataFrame(rows, ", ".join(f"c{i} string" for i in range(ncols)))
    t = ww.init(
        df,
        logical_types={f"c{i}": "Categorical" for i in range(ncols)},
        validate=False,
    )
    sc = spark.sparkContext
    # one group per run: the test also runs as its Spark-tier twin
    group = f"mi_batch_test_{uuid.uuid4().hex}"
    sc.setJobGroup(group, "mi job counting")
    try:
        out = t.dependence(measures="mutual_info")
    finally:
        sc.setJobGroup(None, None)
    tracker = sc.statusTracker()
    njobs = len(tracker.getJobIdsForGroup(group))
    assert len(out) == 66
    assert njobs <= 12, f"MI pass issued {njobs} jobs for 66 pairs"


def test_outlier_max_values_cap(spark):
    """max_values bounds the collected outlier lists at the N most
    extreme on each side (scale path — avoids unbounded driver collect)."""
    vals = [50.0] * 40 + [-100.0, -90.0, -80.0, 200.0, 210.0, 220.0]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    t = ww.init(df, validate=False)
    full = t.box_plot_dict("x")
    assert sorted(full["low_values"]) == [-100.0, -90.0, -80.0]
    assert sorted(full["high_values"]) == [200.0, 210.0, 220.0]
    capped = t.box_plot_dict("x", max_values=2)
    assert capped["low_values"] == [-100.0, -90.0]  # most extreme lows
    assert capped["high_values"] == [210.0, 220.0]  # most extreme highs
    assert capped["low_bound"] == full["low_bound"]
    assert capped["high_bound"] == full["high_bound"]
    mc_capped = t.medcouple_dict("x", max_values=1)
    assert len(mc_capped["low_values"]) <= 1
    assert len(mc_capped["high_values"]) <= 1


def test_medcouple_random_sampling_unbiased_on_sorted_data(spark):
    """Default sample_mode='random' must not take just the head: on data
    sorted ascending with the sample size smaller than the table, a head
    sample would see only small values and misjudge the skew direction."""
    import numpy as np

    from woodwork_spark.config import config

    rng = np.random.RandomState(11)
    # right-skewed distribution, sorted ascending
    arr = np.sort(rng.exponential(scale=10.0, size=4000))
    df = spark.createDataFrame([(float(v),) for v in arr], "x double")
    t = ww.init(df, validate=False)
    old = config.get_option("medcouple_sample_size")
    config.set_option("medcouple_sample_size", 500)
    try:
        out = t.medcouple_dict("x")
    finally:
        config.set_option("medcouple_sample_size", old)
    # a random sample of an exponential has clearly positive medcouple;
    # the head (smallest 500 of 4000, a thin left slice) does not reflect it
    assert out["medcouple_stat"] > 0


class MockCallback:
    """Same shape as the reference test helper (tests/conftest.py:658-669)."""

    def __init__(self):
        self.progress_history = []
        self.total_update = 0
        self.total_elapsed_time = 0

    def __call__(self, update, progress, total, unit, time_elapsed):
        self.total_update += update
        self.total = total
        self.progress_history.append(progress)
        self.unit = unit
        self.total_elapsed_time = time_elapsed


def test_describe_callback(spark):
    """Reference test_describe_callback: 1 preprocessing unit + 1 per
    column; progress ends exactly at total with elapsed > 0."""
    df = spark.createDataFrame(
        [(1, 1.5, "a", True), (2, 2.5, "b", False), (3, 3.5, "a", None)],
        "idx long, num double, cat string, flag boolean",
    )
    t = ww.init(
        df,
        index="idx",
        logical_types={"cat": "Categorical", "flag": "BooleanNullable"},
        validate=False,
    )
    cb = MockCallback()
    t.describe(callback=cb)
    ncalls = 1 + 4  # preprocessing + one per column (index included)
    assert cb.unit == "calculations"
    assert len(cb.progress_history) == ncalls
    assert cb.progress_history[0] == 1
    assert cb.progress_history[1] == 2
    assert cb.total == ncalls
    assert cb.total_update == ncalls
    assert cb.progress_history[-1] == ncalls
    assert cb.total_elapsed_time > 0


def test_dependence_callback(spark):
    """Progress ends exactly at the declared total for every measure mix
    (reference test_dependence_callback shape)."""
    df = spark.createDataFrame(
        [(float(i), float(i * 2 % 7), "ab"[i % 2]) for i in range(40)],
        "x double, y double, c string",
    )
    t = ww.init(df, logical_types={"c": "Categorical"}, validate=False)
    for measures in ("pearson", "spearman", "mutual_info", "all"):
        cb = MockCallback()
        t.dependence(measures=measures, callback=cb)
        assert cb.unit == "calculations"
        assert cb.progress_history[0] == 1
        assert cb.total_update == cb.total, measures
        assert cb.progress_history[-1] == cb.total, measures
        assert cb.total_elapsed_time > 0
    # accounting detail: pearson on (x, y) = 1 preprocessing + 2 valid
    # columns + 1 pair
    cb = MockCallback()
    t.dependence(measures="pearson", callback=cb)
    assert cb.total == 1 + 2 + 1


def test_describe_results_callback(spark):
    """Reference results_callback contract: called once per column with
    (cumulative DataFrame, just-finished Series)."""
    df = spark.createDataFrame(
        [(1, 2.5, "a"), (2, 3.5, "b")], "idx long, num double, cat string",
    )
    t = ww.init(df, logical_types={"cat": "Categorical"}, validate=False)
    seen = []
    t.describe_dict(results_callback=lambda so_far, recent: seen.append(
        (so_far.shape[1], recent.name),
    ))
    assert [n for _, n in seen] == ["idx", "num", "cat"]
    assert [w for w, _ in seen] == [1, 2, 3]  # frame grows a column each call


def test_theta_set_report_exact_and_contract(spark):
    """Theta set algebra on planted overlapping groups: exact counts
    match hand computation and every sketch estimate lands within the
    contract (exact below the sampling threshold)."""
    from woodwork_spark.operators.cardinality import distinct_set_report

    rows = (
        [(f"u{i}", "a") for i in range(100)]          # a: u0..u99
        + [(f"u{i}", "b") for i in range(60, 160)]    # b: u60..u159
        + [(f"u{i}", "a") for i in range(50)]         # dup a rows
    )
    df = spark.createDataFrame(rows, "user string, g string")
    rep = {
        r["measure"]: (r["exact"], r["sketch_ok"])
        for r in distinct_set_report(df, "user", "g", "a", "b").collect()
    }
    assert rep == {
        "a": (100, True), "b": (100, True), "union": (160, True),
        "intersection": (40, True), "a_minus_b": (60, True),
    }


def test_grouped_quantile_sketches_merge_accuracy(spark):
    """Per-group KLL quantiles and the merged rollup land within a 2%
    rank window of the exact quantiles."""
    from pyspark.sql import functions as F

    from woodwork_spark.lifecycle import release
    from woodwork_spark.operators.cardinality import (
        grouped_quantile_sketches,
    )

    rows = [(["x", "y"][i % 2], float((i * 37) % 10_000)) for i in range(20_000)]
    df = spark.createDataFrame(rows, "g string, v double")
    sk = grouped_quantile_sketches(df, "v", "g", quantiles=(0.5,))
    got = {r["group"]: r["q_50"] for r in sk.collect()}
    release(sk)
    assert set(got) == {"x", "y", "__total__"}
    for grp, val in got.items():
        sub = df if grp == "__total__" else df.where(F.col("g") == grp)
        lo, hi = sub.agg(
            F.percentile("v", F.lit(0.48)), F.percentile("v", F.lit(0.52)),
        ).first()
        assert lo <= val <= hi, (grp, val, lo, hi)


# The tests above run the default tier: every frame is small, so
# describe, dependence and the outlier family take the bounded
# driver-local kernels.  Each one listed here runs again with
# ``io.LOCAL_MAX_CELLS = 0``, so the distributed twin keeps the same
# goldens.
SPARK_TIER_TWINS = [
    test_describe_numeric_golden,
    test_describe_boolean_and_categorical,
    test_box_plot_golden,
    test_medcouple_skewed,
    test_dependence_pearson_spearman_match_pandas,
    test_dependence_spearman_with_nulls,
    test_dependence_mutual_info_detects_dependency,
    test_dependence_min_shared_nan,
    test_describe_with_extra_stats,
    test_dependence_reference_goldens,
    test_box_plot_with_precomputed_quantiles,
    test_dependence_same_reference_golden,
    test_dependence_unique_cols_reference,
    test_medcouple_left_skew_coefficient_signs,
    test_mutual_info_job_count_is_batched,
    test_outlier_max_values_cap,
    test_medcouple_random_sampling_unbiased_on_sorted_data,
    test_describe_callback,
    test_dependence_callback,
    test_describe_results_callback,
]


@pytest.mark.parametrize(
    "case", SPARK_TIER_TWINS, ids=[f.__name__ for f in SPARK_TIER_TWINS],
)
def test_spark_tier(case, request, monkeypatch):
    import inspect

    from woodwork_spark import io

    monkeypatch.setattr(io, "LOCAL_MAX_CELLS", 0)
    case(**{
        name: request.getfixturevalue(name)
        for name in inspect.signature(case).parameters
    })
