"""Classify → DIFF end-to-end on the reference's flagship fixture shape:
the `sample` table with 20 planted (CAN, v3) low-usage outliers must explain
to exactly that combination (UnsupervisedCSVTest semantics,
/root/reference/lib/src/test/java/.../UnsupervisedCSVTest.java:21-56)."""

import math

import pytest
from pyspark.sql import functions as F

from macrobase_spark.fixtures.sample import synth_sample
from macrobase_spark.operators.classify import (
    classify_percentile,
    classify_predicate,
    classify_count_mean_shift,
)
from macrobase_spark.operators.diff import diff, diff_split, explanation_columns


@pytest.fixture(scope="module")
def sample(spark):
    return synth_sample(spark).cache()


def test_percentile_classifier_tail_counts(spark, sample):
    out = classify_percentile(sample, "usage", percentile=1.0)
    n = out.filter(F.col("_OUTLIER") == 1.0).count()
    # 1% two-sided on 1020 rows → ≈ 20 planted + ~10 tail inliers
    assert 15 <= n <= 40


def test_diff_finds_planted_combination(spark, sample):
    labeled = classify_percentile(sample, "usage", percentile=2.5, include_high=False)
    expl = diff(labeled, ["location", "version"], min_support=0.5,
                ratio_metric="global_ratio", min_ratio=3.0, max_order=2)
    rows = expl.collect()
    assert rows, "expected at least one explanation"
    top = rows[0]
    assert (top["location"], top["version"]) == ("CAN", "v3")
    # all 20 planted outliers are (CAN, v3) → support vs outlier total ≈ 1
    assert top["support"] >= 0.6
    assert top["outlier_count"] >= 20


def test_diff_metrics_against_python(spark, sample):
    """Cross-check global_ratio / risk_ratio / prevalence_ratio values against
    a direct pandas computation (reference formulas)."""
    labeled = classify_predicate(sample, "location", "==", "CAN")
    pdf = labeled.toPandas()
    g_out = pdf["_OUTLIER"].sum()
    g_tot = float(len(pdf))
    sub = pdf[pdf["version"] == "v3"]
    eo, et = sub["_OUTLIER"].sum(), float(len(sub))

    for metric, expected in [
        ("global_ratio", (eo / et) / (g_out / g_tot)),
        ("risk_ratio", (eo / et) / ((g_out - eo) / (g_tot - et))),
        ("prevalence_ratio", (eo / (et - eo)) / (g_out / (g_tot - g_out))),
    ]:
        expl = diff(labeled, ["version"], min_support=0.0,
                    ratio_metric=metric, min_ratio=0.0, max_order=1)
        got = {r["version"]: r[metric] for r in expl.collect()}
        assert math.isclose(got["v3"], expected, rel_tol=1e-9), (metric, got["v3"], expected)


def test_diff_split(spark, sample):
    expl = diff_split(sample, F.col("usage") < 20.0, ["location", "version"],
                      min_support=0.5, min_ratio=2.0, max_order=2)
    top = expl.collect()[0]
    assert (top["location"], top["version"]) == ("CAN", "v3")


def test_explanation_columns_auto(spark, sample):
    cols = explanation_columns(sample)
    assert set(cols) == {"location", "version"}


def test_count_mean_shift_columns(spark, sample):
    out = classify_count_mean_shift(sample, "location", "latency", "==", "CAN")
    row = out.agg(
        F.sum("_OUTLIERCOUNT").alias("oc"), F.sum("_INLIERCOUNT").alias("ic")
    ).collect()[0]
    assert row["oc"] + row["ic"] == sample.count()


def _plan_simple(df) -> str:
    jvm = df.sparkSession._jvm
    return df._jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple"))


def test_diff_high_cardinality_stays_off_driver(spark):
    """A 10^5-cardinality attribute must NOT be collected to the driver:
    with min_support>0 the encoder-style prefilter auto-enables (lattice
    shrinks to ≤1/min_support values/attr, result-identical per
    AttributeEncoder.java:97-108); with min_support=0 the plan stays fully
    distributed (Expand visible in the RETURNED plan, i.e. no collect)."""
    n = 100_000
    df = (spark.range(n)
          .withColumn("uid", F.concat(F.lit("u"), F.col("id")))
          .withColumn("grp", F.when(F.col("id") % 100 < 2, "hot")
                      .otherwise(F.concat(F.lit("g"), F.col("id") % 50)))
          .withColumn("_OUTLIER",
                      F.when((F.col("id") % 100 < 2) & (F.col("id") % 2 == 0),
                             1.0).otherwise(0.0)))

    # auto-prefilter path: high-cardinality uid values are dropped before the
    # grouping-sets pass; the planted 'hot' group must still surface
    expl = diff(df, ["uid", "grp"], min_support=0.2, min_ratio=2.0, max_order=2)
    rows = expl.collect()
    assert rows and rows[0]["grp"] == "hot" and rows[0]["uid"] is None

    # distributed path: min_support=0 disables the prefilter → the lattice is
    # too large to collect, so the returned plan must still contain the
    # grouping-sets Expand (nothing was materialized on the driver)
    expl2 = diff(df, ["uid"], min_support=0.0, min_ratio=1e9, max_order=1)
    assert "Expand" in _plan_simple(expl2)
    assert expl2.count() == 0  # nothing passes a 1e9 ratio floor


def test_diff_prefilter_matches_plain(spark, sample):
    """prefilter_min_support (one exploded aggregation pass) is
    result-identical to the plain lattice at the same thresholds."""
    labeled = classify_percentile(sample, "usage", percentile=2.5,
                                  include_high=False)
    plain = diff(labeled, ["location", "version"], min_support=0.2,
                 min_ratio=1.5, max_order=2)
    pre = diff(labeled, ["location", "version"], min_support=0.2,
               min_ratio=1.5, max_order=2, prefilter_min_support=True)
    k = ["location", "version"]

    def rows(df):
        return sorted(
            (tuple(r[c] for c in k) + (round(r["support"], 9),
             round(r["global_ratio"], 9)) for r in df.collect()),
            key=repr)

    assert rows(plain) == rows(pre)


def test_count_mean_shift_java_ieee_zero_semantics(spark):
    """diff_count_mean_shift must mirror the reference's Java-double
    divisions (MeanShiftQualityMetric.java:33-35) under ANSI Spark:
    a combo with no inliers or no outliers is dropped (NaN in Java), and a
    zero inlier mean with a positive outlier mean is +Infinity (kept)."""
    import math as _math

    from macrobase_spark.operators.diff import diff_count_mean_shift

    rows = [
        # grp a: outliers mean 10, inliers mean 0 -> shift = +Inf (kept)
        ("a", 2.0, 0.0, 20.0, 0.0), ("a", 0.0, 3.0, 0.0, 0.0),
        # grp b: only outliers -> ic = 0 -> NaN -> dropped
        ("b", 4.0, 0.0, 12.0, 0.0),
        # grp c: normal finite shift 2.0
        ("c", 1.0, 1.0, 8.0, 4.0),
    ]
    df = spark.createDataFrame(
        rows, "grp string, _OUTLIERCOUNT double, _INLIERCOUNT double,"
              " _OUTLIERMEANSUM double, _INLIERMEANSUM double")
    got = {r["grp"]: r["mean_shift"]
           for r in diff_count_mean_shift(df, ["grp"], min_support=0.0,
                                          min_mean_shift=1.5).collect()
           if r["grp"] is not None}
    assert _math.isinf(got["a"]) and got["a"] > 0
    assert "b" not in got           # NaN-equivalent: dropped
    assert _math.isclose(got["c"], 2.0, rel_tol=1e-12)


def test_degenerate_inputs_java_semantics(spark):
    """Operators must survive degenerate-but-legal inputs under ANSI Spark
    with the reference's Java-double behavior: constant columns -> NaN
    scores (zscore), NaN normalize (all-zero column), +Inf reciprocal for a
    zero low-bounded metric, and empty explanations when there is nothing
    to explain (zero variance / zero outliers / empty input)."""
    import math as _math

    from macrobase_spark.operators.diff import (diff_count_mean_shift,
                                                diff_mean, diff_mean_cubed)
    from macrobase_spark.operators.transform import (low_metric_transform,
                                                     normalize_col, zscore)

    const = spark.createDataFrame([("a", 5.0), ("b", 5.0)], "g string, x double")
    assert all(_math.isnan(r["_SCORE"]) for r in zscore(const, "x").collect())

    zeros = spark.createDataFrame([("a", 0.0), ("b", 0.0)], "g string, x double")
    assert all(r["x"] is None or _math.isnan(r["x"])
               for r in normalize_col(zeros, "x").collect())

    lm = low_metric_transform(
        spark.createDataFrame([("a", 0.0), ("b", 2.0)], "g string, x double"),
        "x").collect()
    vals = {r["g"]: r["x"] for r in lm}
    assert _math.isinf(vals["a"]) and vals["a"] > 0
    assert _math.isclose(vals["b"], 0.5)

    # constant metric: zero global variance -> empty explanation, no error
    assert diff_mean(const, ["g"], "x", min_support=0.0,
                     min_mean_dev=0.1).count() == 0
    cube = spark.createDataFrame([("a", 3.0, 5.0, 0.0), ("b", 2.0, 5.0, 0.0)],
                                 "g string, count double, mean double, std double")
    assert diff_mean_cubed(cube, ["g"], min_support=0.0,
                           min_std_dev=0.1).count() == 0

    # no outliers anywhere -> empty, no divide-by-zero
    no_out = spark.createDataFrame(
        [("a", 0.0, 2.0, 0.0, 8.0), ("b", 0.0, 1.0, 0.0, 3.0)],
        "g string, _OUTLIERCOUNT double, _INLIERCOUNT double,"
        " _OUTLIERMEANSUM double, _INLIERMEANSUM double")
    assert diff_count_mean_shift(no_out, ["g"], min_support=0.0,
                                 min_mean_shift=0.0).count() == 0

    # empty input -> empty explanation
    assert diff_mean(const.limit(0), ["g"], "x").count() == 0


def test_arithmetic_cubed_degenerate_std(spark):
    """A cube group with std 0 (one metric / all equal) must not error:
    ArithmeticClassifier.java:53-59 counts ALL of it as outliers when its
    mean is beyond highCutoff (the reference tests the includeLow branch
    against highCutoff too — quirk replicated), else none."""
    from macrobase_spark.operators.classify import classify_arithmetic_cubed

    rows = [("a", 100.0, 50.0, 5.0), ("b", 100.0, 55.0, 4.0),
            ("c", 100.0, 52.0, 6.0), ("deg_mid", 10.0, 53.0, 0.0),
            ("deg_low", 10.0, 1.0, 0.0)]
    df = spark.createDataFrame(
        rows, "g string, count double, mean double, std double")
    out = {r["g"]: r["_OUTLIER"] for r in classify_arithmetic_cubed(
        df, "count", "mean", "std", percentile=1.0,
        include_high=False, include_low=True).collect()}
    # includeLow-only: degenerate groups with mean < highCutoff are ALL
    # outliers per the reference's branch; none error
    assert out["deg_low"] == 10.0
    assert out["deg_mid"] == 10.0
    assert all(v >= 0 for v in out.values())


def test_prevalence_ratio_all_outliers_no_crash(spark):
    """r4 review: an all-outlier relation made the prevalence base divide by
    zero on the driver; Java semantics give base=+Inf and ratio 0.0."""
    from macrobase_spark.operators.diff import diff

    df = spark.createDataFrame(
        [("a", 1.0)] * 30 + [("b", 1.0)] * 20, "x string, _OUTLIER double")
    out = diff(df, ["x"], ratio_metric="prevalence_ratio",
               min_support=0.0, min_ratio=0.0, max_order=1).collect()
    assert {r["x"] for r in out} == {"a", "b"}
    assert all(r["prevalence_ratio"] == 0.0 for r in out)


def test_diff_quoted_reserved_word_attrs(spark):
    """r4 review: attr names that are SQL reserved words (or contain
    spaces) must survive the generated GROUPING SETS SQL."""
    from macrobase_spark.operators.diff import diff

    df = spark.createDataFrame(
        [("x", "p", 1.0), ("x", "q", 1.0), ("y", "p", 0.0), ("y", "q", 0.0)],
        "`order` string, `user id` string, _OUTLIER double")
    out = diff(df, ["order", "user id"], min_support=0.0, min_ratio=0.0,
               max_order=2).collect()
    assert any(r["order"] == "x" for r in out)


def test_classify_percentile_nan_values_are_inliers(spark):
    """r4 review: Spark's NaN-is-largest total order labeled NaN metric
    rows outliers on the high side; Java comparisons with NaN are false."""
    from macrobase_spark.operators.classify import classify_percentile

    rows = [(i, float(i)) for i in range(100)] + [(100, float("nan"))]
    df = spark.createDataFrame(rows, "id long, m double")
    out = classify_percentile(df, "m", percentile=5.0)
    nan_row = out.filter(F.col("id") == 100).collect()[0]
    assert nan_row["_OUTLIER"] == 0.0
    assert out.filter(F.col("_OUTLIER") > 0).count() == 10  # 5% each tail


def test_quantile_cubed_flat_segment(spark):
    """r4 review: a flat quantile segment at the cutoff divided by zero →
    NULL → F.least skipped it → whole group counted as outliers."""
    from macrobase_spark.operators.classify import classify_quantile_cubed

    # group g2's curve is FLAT at value 10 (min=med=max=10); group g1
    # spans 0..100 — cutoffs land strictly inside g1's range
    df = spark.createDataFrame(
        [("g1", 80.0, 0.0, 50.0, 100.0), ("g2", 20.0, 10.0, 10.0, 10.0)],
        "g string, count double, q0 double, q50 double, q100 double")
    out = {r["g"]: r["_OUTLIER"] for r in classify_quantile_cubed(
        df, "count", {0.0: "q0", 0.5: "q50", 1.0: "q100"},
        percentile=5.0).collect()}
    # flat group: its single value is far from both global cutoffs → its
    # interpolated outlier mass must be bounded, never the whole group
    assert out["g2"] < 20.0
    assert 0.0 <= out["g1"] <= 80.0


def test_arithmetic_cubed_empty_input(spark):
    from macrobase_spark.operators.classify import classify_arithmetic_cubed

    df = spark.createDataFrame([], "g string, count double, mean double, std double")
    assert classify_arithmetic_cubed(df, "count", "mean", "std").count() == 0


def test_diff_join_counts_stay_integer(spark):
    """r4 review: diff_join routed counts through (w/t)*t float division;
    with outlier_is_count the emitted counts are exact integers."""
    from macrobase_spark.operators.diff import diff_join

    out_fk = spark.createDataFrame([(1,)] * 1 + [(2,)] * 3, "k long")
    in_fk = spark.createDataFrame([(1,)] * 48 + [(2,)] * 7, "k long")
    dim = spark.createDataFrame([(1, "a"), (2, "b")], "k long, attr string")
    res = diff_join(out_fk, in_fk, dim, "k", ["attr"],
                    min_support=0.0, min_ratio=0.0, max_order=1).collect()
    by = {r["attr"]: r for r in res}
    assert by["a"]["outlier_count"] == 1.0  # exactly, not 0.9999999999999999
    assert by["a"]["total_count"] == 49.0
    assert by["b"]["outlier_count"] == 3.0


@pytest.mark.parametrize("kw", [
    {},                                   # fused single-pass path
    {"prefilter_min_support": True},      # two-pass path
    {"containment": True},                # two-pass path
])
def test_diff_empty_input_raises_no_outliers(spark, kw):
    """Zero input rows leave GROUPING SETS without a grand-total row; every
    path must raise the documented error, not StopIteration."""
    df = spark.createDataFrame([], "location string, version string, "
                                   "_OUTLIER double")
    with pytest.raises(ValueError, match="no outliers"):
        diff(df, ["location", "version"], **kw)
