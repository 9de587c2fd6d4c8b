"""DIFF — MacroBase's explanation operator, Spark-first.

Given a relation with a 0/1 (or weighted) outlier column, find attribute-value
combinations (order 1..max_order) over-represented among outliers.

Reference semantics:
- lattice/kernel: lib/.../summary/aplinear/APrioriLinear.java:79-401
- orchestration: lib/.../summary/aplinear/APLSummarizer.java:57-101,
  APLOutlierSummarizer.java:25-92
- quality metrics: lib/.../summary/util/qualitymetrics/*.java (support =
  outlier_count/global_outlier_count; global_ratio; risk_ratio with the 0/∞
  edge cases of lib/.../summary/fpg/RiskRatio.java:4-55; prevalence_ratio
  with +1 smoothing, PrevalenceRatioQualityMetric.java:20-40)
- output relation: lib/.../summary/aplinear/APLExplanation.java:84-142
  (one row per surviving itemset; ON-columns NULL where attribute absent;
  metric cols; outlier_count / total_count)

Spark plan (NOT a port of the multithreaded hash-table kernel):
ONE shuffle — `GROUP BY GROUPING SETS` over all attribute subsets of size
1..max_order — with map-side partial aggregation; metrics are codegen'd
column expressions over the grouped result; thresholds are filters. The
reference's per-thread FastFixedHashTable + merge (APrioriLinear.java:113-338)
is exactly Spark's partial/final hash aggregate, so Catalyst supplies the
physical strategy. Apriori's between-order support pruning is unnecessary
here: grouping-sets computes all orders in the single pass and prunes by
filter afterwards (same result set; at 100 TB the single wide-key shuffle
with partial aggregation beats 3 dependent shuffles).

Scale notes:
- grouped cardinality = Σ_combos Π cardinalities — for explanation-style
  categorical attrs (the operator's contract) this is ≪ row count, so the
  shuffle is tiny after map-side combine.
- skewed attr values are handled by partial aggregation (each map task
  pre-collapses its rows; no hot-key row shuffle survives).
- optional `prefilter_min_support` drops below-support order-1 values before
  the grouping-sets pass (AttributeEncoder.encodeAttributesWithSupport
  semantics, lib/.../summary/util/AttributeEncoder.java:61-181) — useful when
  attribute cardinality is huge.
"""

from __future__ import annotations

import uuid
from itertools import combinations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

RATIO_METRICS = ("global_ratio", "risk_ratio", "prevalence_ratio")


def _metric_value(metric: str, oc: float, tc: float, g_out: float, g_tot: float) -> float:
    """Python twin of _metric_expr (same float64 op order) for the
    driver-side containment pass."""
    if metric == "global_ratio":
        if tc == 0:
            return float("nan")  # zero-weight group: dropped like Java NaN
        return (oc / tc) / (g_out / g_tot)
    if metric == "risk_ratio":
        if tc == 0 or g_tot - tc == 0:
            return 0.0
        if g_out - oc == 0:
            return float("inf")
        return (oc / tc) / ((g_out - oc) / (g_tot - tc))
    if metric == "prevalence_ratio":
        base_out = g_out if g_out != 0.0 else 1.0
        # all-outlier relation (g_tot == base_out): Java's double division
        # gives base = +Inf and every ratio becomes 0.0 — not a crash
        base = (float("inf") if g_tot - base_out == 0.0
                else base_out / (g_tot - base_out))
        denom = (tc + 1.0 if tc == oc else tc) - oc
        return (oc / denom) / base
    raise ValueError(f"unknown ratio metric {metric!r}")


def _metric_expr(
    metric: str,
    out_cnt: Column,
    tot_cnt: Column,
    g_out: float,
    g_tot: float,
) -> Column:
    """Quality-metric column expressions, replicating reference edge cases."""
    g_in = g_tot - g_out
    if metric == "global_ratio":
        # GlobalRatioQualityMetric.java:22-30; a zero-weight group (possible
        # with zero count_col weights) is NaN in Java -> NULL here, dropped
        # by the threshold filter either way
        base = g_out / g_tot
        return F.try_divide(out_cnt, tot_cnt) / F.lit(base)
    if metric == "risk_ratio":
        # RiskRatio.java:4-33 edge cases: no exposure → 0; everything exposed
        # → 0; all outliers exposed → +Inf
        unexposed_out = F.lit(g_out) - out_cnt
        total_minus_exposed = F.lit(g_tot) - tot_cnt
        return (
            F.when(tot_cnt == 0, 0.0)
            .when(total_minus_exposed == 0, 0.0)
            .when(unexposed_out == 0, float("inf"))
            .otherwise((out_cnt / tot_cnt) / (unexposed_out / total_minus_exposed))
        )
    if metric == "prevalence_ratio":
        # PrevalenceRatioQualityMetric.java:20-40: +1 smoothing on zero
        # denoms; an all-outlier relation makes base +Inf (Java double
        # semantics) so every ratio is 0.0 — never a driver-side
        # ZeroDivisionError
        base_out = g_out if g_out != 0.0 else 1.0
        base = (float("inf") if g_tot - base_out == 0.0
                else base_out / (g_tot - base_out))
        denom = F.when(tot_cnt == out_cnt, tot_cnt + 1.0).otherwise(tot_cnt) - out_cnt
        return (out_cnt / denom) / F.lit(base)
    raise ValueError(f"unknown ratio metric {metric!r} (want one of {RATIO_METRICS})")


def _bt(name: str) -> str:
    """Backtick-quote an attribute for generated SQL (reserved words,
    spaces, hyphens)."""
    return "`" + name.replace("`", "``") + "`"


def _sql_over_view(base: DataFrame, tag: str, sql_for_view) -> DataFrame:
    """Run generated SQL over a UNIQUE temp view and drop the view as soon
    as the result is analyzed — per-call uuid names make concurrent diff
    calls on one session safe (a combos-hash name could collide across
    threads and silently read the other call's data), and the catalog no
    longer accumulates one leaked view per call."""
    view = f"_mb_{tag}_{uuid.uuid4().hex[:12]}"
    base.createOrReplaceTempView(view)
    out = base.sparkSession.sql(sql_for_view(view))
    out.schema  # force analysis; the resolved plan no longer needs the view
    base.sparkSession.catalog.dropTempView(view)
    return out


def _grouping_sets_sql(attrs: list[str], max_order: int,
                       fd_pairs: list[tuple[str, str]] | None) -> list[tuple[str, ...]]:
    """All attribute subsets of size 1..max_order, minus combos containing a
    functional-dependency pair (APrioriLinear.java:231-233, 258-267)."""
    fd = {frozenset(p) for p in (fd_pairs or [])}
    out = []
    for k in range(1, min(max_order, len(attrs)) + 1):
        for combo in combinations(attrs, k):
            if any(f <= set(combo) for f in fd):
                continue
            out.append(combo)
    return out


def explanation_columns(df: DataFrame, candidates: list[str] | None = None,
                        sample_rows: int = 1000, max_distinct_frac: float = 0.25) -> list[str]:
    """`ON *` auto-selection: sample rows, keep string columns whose distinct
    count is < max_distinct_frac of the sample.
    Reference: sql/.../QueryEngine.java:489-512."""
    string_cols = [f.name for f in df.schema.fields
                   if f.dataType.simpleString() == "string"
                   and not f.name.startswith("_")
                   and (candidates is None or f.name in candidates)]
    if not string_cols:
        return []
    sample = df.select(string_cols).limit(sample_rows)
    aggs = [F.approx_count_distinct(c).alias(c) for c in string_cols]
    row = sample.agg(*aggs).collect()[0]
    n = sample.count()
    return [c for c in string_cols if row[c] < max_distinct_frac * max(n, 1)]


def diff(
    df: DataFrame,
    attrs: list[str] | None,
    outlier_col: str = "_OUTLIER",
    count_col: str | None = None,
    min_support: float = 0.2,
    ratio_metric: str = "global_ratio",
    min_ratio: float = 1.5,
    max_order: int = 3,
    fd_pairs: list[tuple[str, str]] | None = None,
    prefilter_min_support: bool = False,
    containment: bool = False,
    collect_threshold: int = 65536,
    outlier_is_count: bool = False,
) -> DataFrame:
    """Explanation relation: attrs (NULL = absent) + support + <ratio_metric>
    + outlier_count + total_count, filtered to support ≥ min_support and
    ratio ≥ min_ratio, ordered by the ratio metric descending.

    Defaults (0.2 support / 1.5 ratio / order ≤ 3) per the SQL layer:
    sql/.../tree/DiffQuerySpecification.java:31-36,112-115.

    containment=True replicates the reference APriori's containment pruning
    (APrioriLinear.java:340-383 + BitmapHelperFunctions.java:63-68): an
    itemset that passes BOTH thresholds is emitted and its values are
    withdrawn from higher-order exploration (Action.KEEP vs NEXT), so a
    (CAN, v1) pair is suppressed when (CAN) alone already explains the
    outliers; order-3 candidates additionally require every order-2 subset
    to be in the NEXT set (allPairsValid, APrioriLinear.java:404-421).
    Default False emits the FULL passing lattice — more informative and the
    same single-shuffle cost.

    Scale guard: the grouped lattice is only collected to the driver when
    its ESTIMATED cardinality (Σ_combos Π approx-distinct) is ≤
    collect_threshold; above it the plan stays fully distributed (filters in
    Spark), and — mirroring the reference encoder, which drops below-support
    values before the lattice (AttributeEncoder.java:97-108) — the order-1
    min-support prefilter is auto-enabled so a high-cardinality attribute
    (user ids, day-grain dates) can never OOM the driver OR blow up the
    shuffle."""
    if attrs is None:
        attrs = explanation_columns(df)
    combos = _grouping_sets_sql(attrs, max_order, fd_pairs)
    if not combos:
        raise ValueError("no attribute combinations to explain")

    w = F.col(count_col).cast("double") if count_col else F.lit(1.0)
    o = F.col(outlier_col).cast("double")
    # cube classifiers (arithmetic/quantile/predicate-cube) emit an outlier
    # column that is ALREADY an absolute per-row outlier count (reference
    # ArithmeticClassifier.java:59-69 numOutliers = count·mass); pass
    # outlier_is_count=True so it is not re-weighted by count_col. The
    # default (0/1 labels × row weight) matches the row-level classifiers.
    base = df.select(
        *[F.col(a) for a in attrs],
        (o if outlier_is_count else o * w).alias("_ocnt"),
        w.alias("_tcnt"),
    )
    # r6 (guide §2.3 "aggregate before you shuffle"): collapse to the FULL
    # attribute tuple first — every requested grouping set is a coarsening
    # of it, so the GROUPING SETS Expand multiplies the (tiny) finest-grain
    # group relation instead of every raw row (the Expand×|combos| over 10⁶+
    # rows was the dominant CPU of the lattice stage). Map-side partial
    # aggregation makes this pre-pass a near-free narrow shuffle; sums of
    # the integer-valued count weights re-aggregate exactly, so every
    # downstream statistic is unchanged (same argument as diff_join's
    # weighted input).
    base = base.groupBy(*[F.col(a) for a in attrs]).agg(
        F.sum("_ocnt").alias("_ocnt"), F.sum("_tcnt").alias("_tcnt"))
    all_absent = (1 << len(attrs)) - 1
    attr_list = ", ".join(_bt(a) for a in attrs)

    # FUSED single-pass path: the grand-total () grouping set rides the SAME
    # GROUPING SETS shuffle that builds the lattice, so g_out/g_tot need no
    # separate full-data pre-pass (its grouping_id is all_absent, dropped by
    # the existing gid filter downstream). One probe collect bounds driver
    # traffic: an explanation-scale lattice (the operator's contract) fits
    # and continues driver-local; an oversized one falls back to the
    # two-pass encoder-prefilter shape below. Sums of integer-valued doubles
    # are exact under any aggregation order, so g_out/g_tot are identical to
    # the old dedicated aggregate.
    if not containment and not (prefilter_min_support and min_support > 0.0):
        sets_sql = ", ".join(
            ["(" + ", ".join(_bt(a) for a in c) + ")" for c in combos]
            + ["()"])
        grouped = _sql_over_view(base, "diff", lambda view: f"""
            SELECT {attr_list},
                   sum(_ocnt) AS outlier_count,
                   sum(_tcnt) AS total_count,
                   grouping_id({attr_list}) AS _gid
            FROM {view}
            GROUP BY GROUPING SETS ({sets_sql})
            """)
        rows = grouped.limit(collect_threshold + 2).collect()
        if len(rows) <= collect_threshold + 1:
            # empty input: GROUPING SETS emits no grand-total row at all
            total_row = next((r for r in rows if r["_gid"] == all_absent),
                             None)
            g_out = float(total_row["outlier_count"] or 0.0) if total_row else 0.0
            g_tot = float(total_row["total_count"] or 0.0) if total_row else 0.0
            if g_out == 0.0:
                raise ValueError("no outliers — nothing to explain")
            grouped = df.sparkSession.createDataFrame(rows, grouped.schema)
            return _diff_result(grouped, attrs, all_absent, ratio_metric,
                                min_support, min_ratio, g_out, g_tot)
        # lattice overflowed the probe: re-plan with the encoder prefilter
        # (high-cardinality attributes); result-identical (q46 contract)
        prefilter_min_support = True

    # TWO-PASS path (explicit/auto prefilter, or containment): narrow
    # pre-pass for the global weights + approx per-attr cardinalities.
    pre = base.agg(
        F.sum("_ocnt").alias("_go"), F.sum("_tcnt").alias("_gt"),
        *[F.approx_count_distinct(a).alias(f"_c{i}") for i, a in enumerate(attrs)],
    ).collect()[0]
    g_out = float(pre["_go"] or 0.0)
    g_tot = float(pre["_gt"] or 0.0)
    if g_out == 0.0:
        raise ValueError("no outliers — nothing to explain")
    card = {a: max(int(pre[f"_c{i}"]), 1) for i, a in enumerate(attrs)}

    def _est_lattice(c: dict[str, int]) -> int:
        total = 0
        for combo in combos:
            p = 1
            for a in combo:
                p = min(p * c[a], 1 << 62)
            total += p
        return total

    if (not prefilter_min_support and min_support > 0.0
            and _est_lattice(card) > collect_threshold):
        prefilter_min_support = True  # encoder-style pruning, auto

    if prefilter_min_support and min_support > 0.0:
        # Order-1 min-support pushdown (AttributeEncoder semantics): NULL out
        # attr values whose outlier-weighted count < min_support*g_out so they
        # can't form candidates at any order. ONE exploded aggregation covers
        # every attribute; each attr's passing set is ≤ 1/min_support values
        # (each passing value owns ≥ min_support·g_out of the g_out outlier
        # weight), so the sets are driver-safe by construction.
        kv = base.select(
            "_ocnt",
            F.explode(F.array(*[
                F.struct(F.lit(a).alias("a"), F.col(a).cast("string").alias("v"))
                for a in attrs])).alias("kv"),
        )
        passing = (
            kv.filter(F.col("kv.v").isNotNull())
            .groupBy(F.col("kv.a").alias("a"), F.col("kv.v").alias("v"))
            .agg(F.sum("_ocnt").alias("oc"))
            .filter(F.col("oc") >= min_support * g_out)
            .select("a", "v")
            .collect()
        )
        ok_by_attr: dict[str, list[str]] = {}
        for r in passing:
            ok_by_attr.setdefault(r["a"], []).append(r["v"])
        for a in attrs:
            vals = sorted(ok_by_attr.get(a, ()))
            base = base.withColumn(
                a, F.when(F.col(a).cast("string").isin(vals), F.col(a)))
        card = {a: max(len(ok_by_attr.get(a, ())), 1) for a in attrs}

    sets_sql = ", ".join(
        "(" + ", ".join(_bt(a) for a in c) + ")" for c in combos)
    grouped = _sql_over_view(base, "diff", lambda view: f"""
        SELECT {attr_list},
               sum(_ocnt) AS outlier_count,
               sum(_tcnt) AS total_count,
               grouping_id({attr_list}) AS _gid
        FROM {view}
        GROUP BY GROUPING SETS ({sets_sql})
        """)
    small = _est_lattice(card) <= collect_threshold
    if containment:
        # the emit/explore pass is a driver-side post-pass by nature, but the
        # support PRUNE is monotonic and applied distributed BEFORE collect —
        # below-support rows are never NEXT candidates, so filtering them
        # first is result-identical and bounds driver traffic.
        survivors = grouped.filter(
            F.col("outlier_count") >= F.lit(min_support * g_out))
        hard_cap = 1_000_000
        rows = survivors.limit(hard_cap + 1).collect()
        if len(rows) > hard_cap:
            raise ValueError(
                f"containment lattice exceeds {hard_cap} passing itemsets; "
                "raise min_support or enable prefilter_min_support")
        return _containment_result(
            df.sparkSession, rows, grouped.schema, attrs, all_absent,
            ratio_metric, min_support, min_ratio, g_out, g_tot)
    if small:
        # Explanation-scale lattice: collect once and continue on a
        # driver-local DataFrame — the shuffle executes exactly once and no
        # cache entry is left behind (no persist leak).
        grouped = df.sparkSession.createDataFrame(grouped.collect(),
                                                  grouped.schema)
    return _diff_result(grouped, attrs, all_absent, ratio_metric,
                        min_support, min_ratio, g_out, g_tot)


def _diff_result(grouped: DataFrame, attrs: list[str], all_absent: int,
                 ratio_metric: str, min_support: float, min_ratio: float,
                 g_out: float, g_tot: float) -> DataFrame:
    """Shared tail: gid disambiguation, metric expressions, thresholds,
    ordering — applied to the grouped lattice (driver-local or distributed).
    grouping_id disambiguates "NULL because attribute absent from this
    grouping set" from a genuine NULL data value: keep only rows where every
    NULL attr is a grouped-out attr, and null-valued groups are dropped
    (reference encoder never emits a NULL item); the grand-total () row
    (gid == all_absent) is dropped by the same condition."""
    present = [
        (a, F.when(F.shiftright("_gid", len(attrs) - 1 - i).bitwiseAND(F.lit(1)) == 0, True)
             .otherwise(False))
        for i, a in enumerate(attrs)
    ]
    cond = F.col("_gid") != all_absent
    for a, is_grouped in present:
        cond = cond & (F.when(is_grouped, F.col(a).isNotNull()).otherwise(F.col(a).isNull()))
    grouped = grouped.filter(cond)

    oc, tc = F.col("outlier_count"), F.col("total_count")
    result = (
        grouped.withColumn("support", oc / F.lit(g_out))
        .withColumn(ratio_metric, _metric_expr(ratio_metric, oc, tc, g_out, g_tot))
        .filter((F.col("support") >= min_support) & (F.col(ratio_metric) >= min_ratio))
        .select(*attrs, "support", ratio_metric, "outlier_count", "total_count")
        .orderBy(F.col(ratio_metric).desc(), *[F.col(a).asc_nulls_last() for a in attrs])
    )
    return result


def _containment_result(spark, rows, grouped_schema, attrs, all_absent,
                        metric, min_support, min_ratio, g_out, g_tot) -> DataFrame:
    """Reference-faithful APriori emit/explore pass over the (driver-local,
    explanation-scale) grouped relation. Action semantics per
    QualityMetric.java:42-59 + Action.combine: PRUNE if support < min_support
    (support is monotonic), KEEP if both thresholds pass (emit, withdraw from
    exploration), else NEXT (explore supersets). An order-k candidate is only
    considered when every (k−1)-subset is in the NEXT set of its order —
    singleNextArray gating (BitmapHelperFunctions.java:63-68) + allPairsValid
    (APrioriLinear.java:404-421), generalized."""
    n_attrs = len(attrs)
    by_order: dict[int, list] = {}
    for r in rows:
        gid = r["_gid"]
        if gid == all_absent:
            continue
        vals = tuple(
            (a, r[a]) for i, a in enumerate(attrs)
            if not (gid >> (n_attrs - 1 - i)) & 1
        )
        if any(v is None for _, v in vals):  # encoder never emits NULL items
            continue
        by_order.setdefault(len(vals), []).append(
            (vals, float(r["outlier_count"]), float(r["total_count"])))

    from itertools import combinations as _comb

    next_sets: dict[int, set] = {}
    emitted: list[tuple] = []
    for k in sorted(by_order):
        next_k: set = set()
        prev = next_sets.get(k - 1)
        for vals, oc, tc in by_order[k]:
            if k > 1 and any(frozenset(sub) not in prev
                             for sub in _comb(vals, k - 1)):
                continue
            support = oc / g_out
            if support < min_support:
                continue  # PRUNE: support is monotonic
            ratio = _metric_value(metric, oc, tc, g_out, g_tot)
            if ratio >= min_ratio:
                emitted.append((dict(vals), support, ratio, oc, tc))  # KEEP
            else:
                next_k.add(frozenset(vals))  # NEXT
        next_sets[k] = next_k

    from pyspark.sql.types import DoubleType, StructField, StructType

    attr_fields = {f.name: f for f in grouped_schema.fields}
    schema = StructType(
        [attr_fields[a] for a in attrs]
        + [StructField("support", DoubleType()),
           StructField(metric, DoubleType()),
           StructField("outlier_count", DoubleType()),
           StructField("total_count", DoubleType())]
    )
    data = [
        tuple(vals.get(a) for a in attrs) + (support, ratio, oc, tc)
        for vals, support, ratio, oc, tc in emitted
    ]
    out = spark.createDataFrame(data, schema)
    return out.orderBy(F.col(metric).desc(),
                       *[F.col(a).asc_nulls_last() for a in attrs])


def diff_split(
    df: DataFrame,
    where: Column,
    attrs: list[str] | None,
    **kwargs,
) -> DataFrame:
    """SPLIT form: one relation + predicate → outlier column → diff.
    Reference: sql/.../QueryEngine.java:203-212."""
    labeled = df.withColumn("_OUTLIER", F.when(where, 1.0).otherwise(0.0))
    return diff(labeled, attrs, outlier_col="_OUTLIER", **kwargs)


def diff_mean(
    df: DataFrame,
    attrs: list[str],
    metric_col: str,
    min_support: float = 0.01,
    min_mean_dev: float = 1.0,
    max_order: int = 3,
) -> DataFrame:
    """Mean-deviation summarizer: find attribute combos whose subgroup mean
    deviates from the global mean by ≥ min_mean_dev global standard
    deviations.

    Reference: lib/.../aplinear/APLMeanSummarizer.java:29-70 (sufficient
    statistics count / m1=Σx / m2=Σx²) + MeanDevQualityMetric.java
    (|subMean − globalMean| / globalStd). One grouping-sets shuffle with
    map-side partial sums — the classic partial+final aggregation.
    """
    combos = _grouping_sets_sql(attrs, max_order, None)
    base = df.select(
        *attrs,
        F.col(metric_col).cast("double").alias("_x"),
    )
    g = base.agg(
        F.count("*").alias("n"), F.sum("_x").alias("m1"),
        F.sum(F.col("_x") * F.col("_x")).alias("m2"),
    ).collect()[0]
    g_n = float(g["n"] or 0.0)
    if g_n == 0.0:
        return df.sparkSession.createDataFrame(
            [], ", ".join([f"`{a}` string" for a in attrs]
                          + ["support double", "mean_deviation double",
                             "total_count double"]))
    g_mean = float(g["m1"]) / g_n
    g_std = (max(0.0, float(g["m2"]) / g_n - g_mean * g_mean)) ** 0.5
    if g_std == 0.0:
        # zero global variance: every subgroup mean equals the global mean,
        # so the reference's |0|/0.0 is NaN for every row — nothing passes
        # the threshold (Java drops NaN in comparisons; ANSI Spark would
        # instead error on the /0, so short-circuit to the faithful result)
        return df.sparkSession.createDataFrame(
            [], ", ".join([f"`{a}` string" for a in attrs]
                          + ["support double", "mean_deviation double",
                             "total_count double"]))

    sets_sql = ", ".join(
        "(" + ", ".join(_bt(a) for a in c) + ")" for c in combos)
    attr_list = ", ".join(_bt(a) for a in attrs)
    grouped = _sql_over_view(base, "diffmean", lambda view: f"""
        SELECT {attr_list}, count(*) AS cnt, sum(_x) AS m1,
               grouping_id({attr_list}) AS _gid
        FROM {view}
        GROUP BY GROUPING SETS ({sets_sql})
        """)
    mean_dev = F.abs(F.col("m1") / F.col("cnt") - F.lit(g_mean)) / F.lit(g_std)
    return (
        grouped.withColumn("support", F.col("cnt") / F.lit(g_n))
        .withColumn("mean_deviation", mean_dev)
        .filter((F.col("support") >= min_support)
                & (F.col("mean_deviation") >= min_mean_dev))
        .select(*attrs, "support", "mean_deviation",
                F.col("cnt").alias("total_count"))
        .orderBy(F.col("mean_deviation").desc(),
                 *[F.col(a).asc_nulls_last() for a in attrs])
    )


def diff_mean_cubed(
    df: DataFrame,
    attrs: list[str],
    count_col: str = "count",
    mean_col: str = "mean",
    std_col: str = "std",
    min_support: float = 0.01,
    min_std_dev: float = 3.0,
    max_order: int = 3,
) -> DataFrame:
    """Cube-input mean-deviation summarizer (the reference CubePipeline's
    'meanshift' classifier): each pre-aggregated row carries (count, mean,
    std), and the sufficient statistics are the count-weighted
    n = Σcount, m1 = Σ mean·count, m2 = Σ (std² + mean²)·count
    (APLMeanSummarizer.java:45-66). mean_deviation =
    |subMean − globalMean| / globalStd (MeanDevQualityMetric.java:40-44),
    support = subgroup count / total count; thresholds (min_support,
    min_std_dev) mirror CubePipeline.java:275-283 where minStdDev is fed
    from the config's minRatioMetric. Same single GROUPING SETS shuffle
    with map-side partial sums as diff_mean."""
    combos = _grouping_sets_sql(attrs, max_order, None)
    base = df.select(
        *attrs,
        F.col(count_col).cast("double").alias("_n"),
        (F.col(mean_col) * F.col(count_col)).cast("double").alias("_m1"),
        ((F.col(std_col) * F.col(std_col)
          + F.col(mean_col) * F.col(mean_col))
         * F.col(count_col)).cast("double").alias("_m2"),
    )
    g = base.agg(F.sum("_n").alias("n"), F.sum("_m1").alias("m1"),
                 F.sum("_m2").alias("m2")).collect()[0]
    g_n = float(g["n"] or 0.0)
    if g_n == 0.0:
        return df.sparkSession.createDataFrame(
            [], ", ".join([f"`{a}` string" for a in attrs]
                          + ["support double", "mean_deviation double",
                             "total_count double"]))
    g_mean = float(g["m1"]) / g_n
    g_std = (max(0.0, float(g["m2"]) / g_n - g_mean * g_mean)) ** 0.5
    if g_std == 0.0:
        # same NaN-for-every-row short-circuit as diff_mean (Java IEEE
        # semantics under ANSI Spark)
        return df.sparkSession.createDataFrame(
            [], ", ".join([f"`{a}` string" for a in attrs]
                          + ["support double", "mean_deviation double",
                             "total_count double"]))

    sets_sql = ", ".join(
        "(" + ", ".join(_bt(a) for a in c) + ")" for c in combos)
    attr_list = ", ".join(_bt(a) for a in attrs)
    grouped = _sql_over_view(base, "diffmeancube", lambda view: f"""
        SELECT {attr_list}, sum(_n) AS cnt, sum(_m1) AS m1
        FROM {view}
        GROUP BY GROUPING SETS ({sets_sql})
        """)
    # zero-count groups (all-zero count_col rows): Java 0/0 subgroup mean is
    # NaN -> dropped; try_divide reproduces via NULL
    mean_dev = F.abs(F.try_divide(F.col("m1"), F.col("cnt")) - F.lit(g_mean)) / F.lit(g_std)
    return (
        grouped.withColumn("support", F.col("cnt") / F.lit(g_n))
        .withColumn("mean_deviation", mean_dev)
        .filter((F.col("support") >= min_support)
                & (F.col("mean_deviation") >= min_std_dev))
        .select(*attrs, "support", "mean_deviation",
                F.col("cnt").alias("total_count"))
        .orderBy(F.col("mean_deviation").desc(),
                 *[F.col(a).asc_nulls_last() for a in attrs])
    )


def diff_count_mean_shift(
    df: DataFrame,
    attrs: list[str],
    min_support: float = 0.2,
    min_mean_shift: float = 1.2,
    max_order: int = 3,
) -> DataFrame:
    """Count-mean-shift summarizer over the 4 sufficient-statistic columns
    produced by classify_count_mean_shift: support(outlier) + mean_shift =
    (outMeanSum/outCount)/(inMeanSum/inCount).

    Reference: lib/.../aplinear/APLCountMeanShiftSummarizer.java:27-90,
    MeanShiftQualityMetric.java:33-36.
    """
    combos = _grouping_sets_sql(attrs, max_order, None)
    base = df.select(*attrs, "_OUTLIERCOUNT", "_INLIERCOUNT",
                     "_OUTLIERMEANSUM", "_INLIERMEANSUM")
    g = base.agg(F.sum("_OUTLIERCOUNT").alias("o")).collect()[0]
    g_out = float(g["o"] or 0.0)
    if g_out == 0.0:
        # no outliers anywhere: every support is Java 0.0/0.0 = NaN ->
        # nothing passes; short-circuit instead of ANSI-erroring
        return df.sparkSession.createDataFrame(
            [], ", ".join([f"`{a}` string" for a in attrs]
                          + ["support double", "mean_shift double",
                             "outlier_count double", "total_count double"]))
    sets_sql = ", ".join(
        "(" + ", ".join(_bt(a) for a in c) + ")" for c in combos)
    attr_list = ", ".join(_bt(a) for a in attrs)
    grouped = _sql_over_view(base, "diffcms", lambda view: f"""
        SELECT {attr_list},
               sum(_OUTLIERCOUNT) AS oc, sum(_INLIERCOUNT) AS ic,
               sum(_OUTLIERMEANSUM) AS oms, sum(_INLIERMEANSUM) AS ims
        FROM {view}
        GROUP BY GROUPING SETS ({sets_sql})
        """)
    # Java double semantics under Spark's ANSI mode: the reference computes
    # (oms/oc)/(ims/ic) with IEEE doubles (MeanShiftQualityMetric.java:33-35)
    # — oc==0 or ic==0 yields NaN (dropped by the threshold filter), while
    # ims/ic == 0 with a positive outlier mean yields +Infinity (kept).
    out_mean = F.try_divide(F.col("oms"), F.col("oc"))
    in_mean = F.try_divide(F.col("ims"), F.col("ic"))
    shift = F.when(
        in_mean == 0, F.when(out_mean > 0, F.lit(float("inf")))
    ).otherwise(F.try_divide(out_mean, in_mean))
    return (
        grouped.withColumn("support", F.col("oc") / F.lit(g_out))
        .withColumn("mean_shift", shift)
        .filter((F.col("support") >= min_support)
                & (F.col("mean_shift") >= min_mean_shift))
        .select(*attrs, "support", "mean_shift",
                F.col("oc").alias("outlier_count"),
                (F.col("oc") + F.col("ic")).alias("total_count"))
        .orderBy(F.col("mean_shift").desc(),
                 *[F.col(a).asc_nulls_last() for a in attrs])
    )


def diff_join(
    outlier_fk: DataFrame,
    inlier_fk: DataFrame,
    dim: DataFrame,
    fk_col: str,
    attrs: list[str],
    min_support: float = 0.2,
    ratio_metric: str = "global_ratio",
    min_ratio: float = 1.5,
    max_order: int = 3,
) -> DataFrame:
    """DIFF-JOIN co-optimization: DIFF (R⋈T),(S⋈T) ON attrs without
    materializing either join.

    Reference algorithm (sql/.../QueryEngine.java:271-318, foreignKeyDiff
    :370-396, semiJoinAndMerge :398-453): (1) aggregate FK frequencies on the
    outlier/inlier sides; (2) keep only keys passing the ratio threshold;
    (3) join the small surviving-key set against the dimension.

    Spark plan (r6, guide §2.4 — remove shuffles outright): the two sides
    are tagged (1/0) and UNIONED so ONE groupBy(fk) with map-side partial
    aggregation produces both counts — replacing the old two-aggregation +
    full_outer-join shape (two shuffles + a join) with a single fk shuffle;
    sums of 1.0/0.0 doubles are exact, so the counts are bit-identical to
    the old count()+fillna(0) pair. Survivors then join `dim` (broadcast
    when small) and the normal grouping-sets DIFF over attrs runs on
    (keys × attrs) weighted by counts. The row tables are touched exactly
    once each, aggregated by FK — this is the skew-safe version of the
    PK-FK join (hot FKs collapse map-side).
    """
    tagged = outlier_fk.select(
        F.col(fk_col), F.lit(1.0).alias("_o"), F.lit(0.0).alias("_i"),
    ).unionByName(inlier_fk.select(
        F.col(fk_col), F.lit(0.0).alias("_o"), F.lit(1.0).alias("_i")))
    keys = tagged.groupBy(fk_col).agg(F.sum("_o").alias("_ocnt"),
                                      F.sum("_i").alias("_icnt"))
    with_dim = keys.join(dim.select(fk_col, *attrs), fk_col, "inner")
    weighted = with_dim.select(
        *attrs,
        F.col("_ocnt").alias("_OUTLIER_W"),
        (F.col("_ocnt") + F.col("_icnt")).alias("_TOTAL_W"),
    )
    # reuse diff() on the sufficient statistics directly: _OUTLIER_W is
    # already an absolute per-row outlier count, so outlier_is_count=True
    # avoids the (w/t)*t float round-trip that made counts non-integer
    # (1/49*49 != 1.0) and could flip exact threshold comparisons
    return diff(
        weighted,
        attrs,
        outlier_col="_OUTLIER_W",
        count_col="_TOTAL_W",
        outlier_is_count=True,
        min_support=min_support,
        ratio_metric=ratio_metric,
        min_ratio=min_ratio,
        max_order=max_order,
    )
