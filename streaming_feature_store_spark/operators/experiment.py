"""Large-scale experimentation readouts: grouped z-tests, multiple-testing
control, difference-in-differences, and delta-method ratio metrics.

The reference ships a single fraud-score A/B notebook habit; at feature-
store scale the real workload is THOUSANDS of simultaneous readouts
(every experiment × segment × metric), which makes three things
first-class that a notebook ignores:

- **Multiple-testing control** (:func:`bh_fdr`) — with 1 000 readouts at
  α=0.05, ~50 false discoveries are expected; Benjamini–Hochberg bounds
  the false-discovery RATE instead.  Pure rank logic over the tiny
  per-hypothesis frame.
- **Ratio metrics** (:func:`ratio_metric_delta`) — revenue-per-session
  style metrics violate the i.i.d.-rows assumption (sessions cluster
  within users); the delta method on per-UNIT sums is the industry-
  standard fix, and it is two exact aggregation passes.
- **Quasi-experiments** (:func:`diff_in_diff`) — when arms aren't
  randomized, the pre/post × treat/control double difference removes
  time-invariant group bias; one conditional-aggregate pass.

Everything is closed form (moments + the Abramowitz–Stegun erfc
polynomial shared with operators/drift.py), so DuckDB oracles recompute
the full decision chain — statistic, p-value, rejection — exactly.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from streaming_feature_store_spark.operators.drift import _erfc, t_sf2

_SQRT2 = 2.0 ** 0.5


def normal_sf2(z_abs: Column) -> Column:
    """Two-sided normal tail probability P(|Z| > z) = erfc(z/√2) for
    z ≥ 0 — the large-sample p-value for any z/t statistic (A&S 7.1.26
    polynomial, |err| < 1.5e-7, far inside 6-dp rounding).

    NULL-guarded explicitly: Spark's least/greatest SKIP nulls (unlike
    arithmetic), so without the when() a NULL statistic would clamp to
    p = 0.0 — a spurious maximally-significant readout."""
    return F.when(
        z_abs.isNotNull(),
        F.least(F.lit(1.0), F.greatest(F.lit(0.0), _erfc(z_abs / _SQRT2))),
    )


def grouped_ztest(
    df: DataFrame,
    group_cols: list[str],
    variant_col,
    value_col: str,
    small_arm_n: int = 30,
) -> DataFrame:
    """Per-group two-sample z-test between variant False/True arms: the
    Welch statistic z = (m_b − m_a)/√(v_a/n_a + v_b/n_b) with a
    two-sided p-value — one hypothesis PER GROUP, all computed in one
    conditional-aggregate pass (map-side combined; no per-arm
    subqueries).  ``variant_col`` is a boolean column or expression
    (False = control arm A, True = treatment arm B).

    Small arms auto-dispatch: the normal approximation over-rejects when
    an arm is thin, and thousand-segment readouts ALWAYS contain thin
    segments — so groups with min(n_a, n_b) < ``small_arm_n`` read the
    p-value from the Student-t tail at the Welch–Satterthwaite df
    (:func:`operators.drift.t_sf2`, Hill's CACM-395 closed form — still
    SQL-oracle-exact) instead of the normal tail; the dispatch is one
    F.when over moments the aggregate already computed.  The emitted
    ``small_arm`` flag says which tail priced each row.  Groups where
    either arm has < 2 values yield NULL z/p (variance undefined) —
    feed through :func:`bh_fdr`, which ranks NULL p-values last and
    never rejects them.
    """
    t = F.col(variant_col) if isinstance(variant_col, str) else variant_col
    v = F.col(value_col)
    # order-independent moments: per-row decimal casts, exact decimal sums
    # (the repo's dsum policy) — raw double AVG/VAR_SAMP would make the
    # 6-dp p-value partial-order-dependent.
    g = df.groupBy(*group_cols).agg(
        F.count(F.when(~t, v)).alias("n_a"),
        F.count(F.when(t, v)).alias("n_b"),
        F.sum(F.when(~t, v).cast("decimal(18,4)"))
        .cast("double")
        .alias("_sa"),
        F.sum(F.when(t, v).cast("decimal(18,4)"))
        .cast("double")
        .alias("_sb"),
        F.sum(F.when(~t, v * v).cast("decimal(38,8)"))
        .cast("double")
        .alias("_ssa"),
        F.sum(F.when(t, v * v).cast("decimal(38,8)"))
        .cast("double")
        .alias("_ssb"),
    )
    na, nb = F.col("n_a"), F.col("n_b")
    ma = F.col("_sa") / na
    mb = F.col("_sb") / nb
    va = F.when(
        na > 1, (F.col("_ssa") - F.col("_sa") * F.col("_sa") / na) / (na - 1)
    )
    vb = F.when(
        nb > 1, (F.col("_ssb") - F.col("_sb") * F.col("_sb") / nb) / (nb - 1)
    )
    # se2 == 0.0 (both arms constant — routine in thin segments) must
    # yield NULL z/df/p, not an ANSI divide-by-zero job failure.
    # Statistics are materialized through intermediate PROJECTIONS, not
    # inlined: t_sf2/normal_sf2 expand their arguments ~7-20x inside the
    # Hill/erfc polynomials, and inlining the full moment trees there
    # multiplied the plan to driver-choking size (measured: q196
    # 0.89 -> 13.6 s at sf0.1, all of it plan analysis).  CollapseProject
    # keeps multi-use non-cheap aliases as separate projections.
    m = g.select(
        *group_cols,
        "n_a",
        "n_b",
        ma.alias("_ma"),
        mb.alias("_mb"),
        F.when(va / na + vb / nb > 0, va / na + vb / nb).alias("_se2"),
        (va / na).alias("_van"),
        (vb / nb).alias("_vbn"),
    )
    se2 = F.col("_se2")
    z = (F.col("_mb") - F.col("_ma")) / F.sqrt(se2)
    dof = (se2 * se2) / (
        F.col("_van") ** 2 / (na - 1) + F.col("_vbn") ** 2 / (nb - 1)
    )
    s = m.select(
        *group_cols,
        "n_a",
        "n_b",
        "_ma",
        "_mb",
        z.alias("_z"),
        dof.alias("_dof"),
    )
    small = F.least(na, nb) < small_arm_n
    zc = F.col("_z")
    p = F.when(small, t_sf2(F.abs(zc), F.col("_dof"))).otherwise(
        normal_sf2(F.abs(zc))
    )
    return s.select(
        *group_cols,
        "n_a",
        "n_b",
        F.round("_ma", 4).alias("mean_a"),
        F.round("_mb", 4).alias("mean_b"),
        F.round(zc, 4).alias("z_stat"),
        F.round(p, 6).alias("p_value"),
        small.alias("small_arm"),
    )


def bh_fdr(
    df: DataFrame,
    p_col: str,
    tiebreak_cols: list[str],
    alpha: float = 0.05,
) -> DataFrame:
    """Benjamini–Hochberg step-up FDR control over one frame of
    hypotheses: rank p-values ascending, find the largest rank k with
    p_(k) ≤ k·α/m, reject ranks 1..k.  Also emits the BH-adjusted
    p-value p_adj_(i) = min_{j≥i}(m·p_(j)/j) clamped to 1, so callers
    can re-threshold without re-ranking.

    Rank ties are pinned by ``tiebreak_cols`` (cross-engine determinism).
    NULL p-values sort last, never satisfy the step-up condition, and
    get NULL p_adj with rejected = false.

    The input is the per-hypothesis frame — |experiments × segments|
    rows, thousands at most, already aggregated down from the raw data —
    so the single-partition windows here move hypothesis rows, never
    fact rows.  The step-up "largest passing rank" is a global MAX
    window; the adjusted-p suffix minimum is a reverse running MIN.
    """
    order = [F.col(p_col).asc_nulls_last()] + [
        F.col(c) for c in tiebreak_cols
    ]
    w = Window.orderBy(*order)
    wall = Window.partitionBy()
    wsuffix = w.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    m = F.count(p_col).over(wall)  # NULL p-values are not hypotheses
    ranked = df.withColumn(
        "_rk", F.row_number().over(w).cast("long")
    ).withColumn("_m", m)
    passing = F.when(
        F.col(p_col) <= F.col("_rk") * F.lit(alpha) / F.col("_m"),
        F.col("_rk"),
    )
    cutoff = F.max(passing).over(wall)
    p_adj = F.least(
        F.lit(1.0),
        F.min(F.col("_m") * F.col(p_col) / F.col("_rk")).over(wsuffix),
    )
    return (
        ranked.withColumn(
            "p_adj",
            F.when(F.col(p_col).isNotNull(), F.round(p_adj, 6)),
        )
        .withColumn(
            "rejected",
            F.coalesce(F.col("_rk") <= cutoff, F.lit(False))
            & F.col(p_col).isNotNull(),
        )
        .withColumnRenamed("_rk", "p_rank")
        .drop("_m")
    )


def diff_in_diff(
    df: DataFrame,
    group_cols: list[str],
    treat_col,
    post_col,
    value_col: str,
) -> DataFrame:
    """Difference-in-differences per group: the 2×2 cell means over
    (treat × post) and the DiD estimate
    (m_t,post − m_t,pre) − (m_c,post − m_c,pre), with the large-sample
    standard error √(Σ v_cell/n_cell) and normal z/p — the canonical
    quasi-experimental readout when treatment wasn't randomized.

    One conditional-aggregate pass builds all four cells per group
    (map-side combined, |groups| output rows); groups with any cell
    under 2 observations yield NULL se/z/p.
    """
    t = F.col(treat_col) if isinstance(treat_col, str) else treat_col
    p = F.col(post_col) if isinstance(post_col, str) else post_col
    v = F.col(value_col)
    cells = {
        "c_pre": ~t & ~p,
        "c_post": ~t & p,
        "t_pre": t & ~p,
        "t_post": t & p,
    }
    aggs = []
    for name, cond in cells.items():
        aggs += [
            F.count(F.when(cond, v)).alias(f"n_{name}"),
            F.sum(F.when(cond, v).cast("decimal(18,4)"))
            .cast("double")
            .alias(f"_s_{name}"),
            F.sum(F.when(cond, v * v).cast("decimal(38,8)"))
            .cast("double")
            .alias(f"_ss_{name}"),
        ]
    g = df.groupBy(*group_cols).agg(*aggs)

    def mean(name):
        return F.col(f"_s_{name}") / F.col(f"n_{name}")

    def var(name):
        n = F.col(f"n_{name}")
        s = F.col(f"_s_{name}")
        return F.when(
            n > 1, (F.col(f"_ss_{name}") - s * s / n) / (n - 1)
        )

    did = (mean("t_post") - mean("t_pre")) - (
        mean("c_post") - mean("c_pre")
    )
    se = F.sqrt(sum(var(n) / F.col(f"n_{n}") for n in cells))
    # all-constant cells -> se == 0.0: NULL z/p, not an ANSI div-by-zero
    z = did / F.when(se > 0, se)
    return g.select(
        *group_cols,
        *[F.col(f"n_{n}") for n in cells],
        *[F.round(mean(n), 4).alias(f"mean_{n}") for n in cells],
        F.round(did, 4).alias("did"),
        F.round(se, 4).alias("se"),
        F.round(z, 4).alias("z_stat"),
        F.round(normal_sf2(F.abs(z)), 6).alias("p_value"),
    )


def ratio_metric_delta(
    df: DataFrame,
    unit_col: str,
    group_cols: list[str],
    num_col: str,
    den_col,
    z_crit: float = 1.96,
) -> DataFrame:
    """Delta-method confidence interval for a RATIO metric
    R = Σ num / Σ den per group, where rows cluster within randomization
    units (users): revenue-per-event, CTR, items-per-session.  Treating
    rows as i.i.d. understates the variance whenever units contribute
    multiple rows; the correct unit-level variance is

        Var(R) ≈ (s_x² − 2R·s_xy + R²·s_y²) / (n · ȳ²)

    over per-unit sums (x_u, y_u) — the standard delta-method linearization.

    Two exact aggregation passes: rows → per-unit decimal sums (the only
    fact shuffle, map-side combined on (group, unit)), then unit sums →
    group moments including the cross-moment Σxy for the covariance.
    ``den_col`` may be a column name or an expression (e.g. ``F.lit(1)``
    to read R as a per-unit mean).  Emits R, se, and the ±z_crit CI.
    """
    d = F.col(den_col) if isinstance(den_col, str) else den_col
    zero = F.lit(0).cast("decimal(18,4)")
    units = df.groupBy(*group_cols, unit_col).agg(
        F.coalesce(
            F.sum(F.col(num_col).cast("decimal(18,4)")), zero
        ).alias("_x"),
        F.coalesce(F.sum(d.cast("decimal(18,4)")), zero).alias("_y"),
    )
    x = F.col("_x").cast("double")
    y = F.col("_y").cast("double")
    g = units.groupBy(*group_cols).agg(
        F.count("*").alias("n_units"),
        F.sum("_x").cast("double").alias("_sx"),
        F.sum("_y").cast("double").alias("_sy"),
        F.sum((x * x).cast("decimal(38,8)")).cast("double").alias("_sxx"),
        F.sum((y * y).cast("decimal(38,8)")).cast("double").alias("_syy"),
        F.sum((x * y).cast("decimal(38,8)")).cast("double").alias("_sxy"),
    )
    n = F.col("n_units")
    # a zero denominator sum (all units' y sum to exactly 0 — the decimal
    # accumulation makes "exactly" well-defined) means the ratio metric is
    # undefined: NULL through, never an ANSI divide-by-zero
    sx = F.col("_sx")
    sy = F.when(F.col("_sy") != 0, F.col("_sy"))
    r = sx / sy
    ybar = sy / n
    # sample (co)variances from merged moments; the n > 1 guard is ANSI
    # load-bearing — at n = 1 the numerator is a NON-null 0.0, so the
    # (n-1) division would be a job-killing 0/0, not a quiet NULL
    nm1 = F.when(n > 1, n - 1)
    vxx = (F.col("_sxx") - sx * sx / n) / nm1
    vyy = (F.col("_syy") - sy * sy / n) / nm1
    vxy = (F.col("_sxy") - sx * sy / n) / nm1
    var_r = (vxx - 2.0 * r * vxy + r * r * vyy) / (n * ybar * ybar)
    # null-guarded clamp: greatest() SKIPS nulls, so a single-unit group
    # (n=1 → NULL sample variance) would otherwise clamp to se = 0.0 and
    # emit a confidently zero-width CI instead of NULL — the same skip-null
    # bug class normal_sf2 guards (experiment.py:41-47)
    se = F.when(var_r.isNotNull(), F.sqrt(F.greatest(F.lit(0.0), var_r)))
    return g.select(
        *group_cols,
        "n_units",
        F.round(r, 6).alias("ratio"),
        F.round(se, 6).alias("se"),
        F.round(r - z_crit * se, 6).alias("ci_lo"),
        F.round(r + z_crit * se, 6).alias("ci_hi"),
    )


def uplift_deciles(
    df: DataFrame,
    treat_col,
    score_col: str,
    response_col,
    tiebreak_cols: list[str],
    n_buckets: int = 10,
) -> DataFrame:
    """Uplift (Qini) readout by model-score decile: bucket the population
    into exact score ntiles, then per bucket compare response rates
    between treatment and control, plus the cumulative incremental-gain
    curve walking DOWN from the highest-score bucket —

        qini_cum(k) = Σ_{top k buckets} (resp_t − resp_c · n_t / n_c)

    the area under which is the standard uplift-model quality number.

    Exact ntiles come from ``behavior.distributed_ntile`` (range-
    partitioned global row numbers — no single-partition sort, the same
    machinery the q160/q169 oracles pin), so bucket assignment is
    cross-engine deterministic given the (score, tiebreak) total order.
    The per-bucket pass is one conditional aggregate; the cumulative
    curve is a prefix sum over the |buckets|-row frame with terms cast
    to decimal(18,6) first (windowed double SUMs may reassociate —
    decimal accumulation is order-free).
    """
    from streaming_feature_store_spark.operators.behavior import (
        distributed_ntile,
    )

    t = F.col(treat_col) if isinstance(treat_col, str) else treat_col
    r = (
        F.col(response_col)
        if isinstance(response_col, str)
        else response_col
    )
    # project to the four needed columns BEFORE the ntile: the
    # distributed ranking localCheckpoints its input, so frame width is
    # checkpoint bytes — the full fact frame would be written verbatim
    # (measured 87 s -> 17 s at 1e7 rows x 8 cols; PERFORMANCE.md
    # "Round-7 third batch")
    slim = df.select(
        F.col(score_col),
        *[F.col(c) for c in tiebreak_cols],
        t.alias("_trt"),
        r.cast("long").alias("_resp"),
    )
    tc = F.col("_trt")
    # NULLS LAST pins cross-engine bucket assignment on nullable scores:
    # Spark sorts NULL first ascending, DuckDB's NTILE ORDER BY defaults
    # to NULLS LAST — without the modifier the operator contract would
    # silently depend on the caller pre-filtering NULL scores
    order = [F.col(score_col).asc_nulls_last()] + [
        F.col(c) for c in tiebreak_cols
    ]
    b = distributed_ntile(slim, order, n_buckets, "bucket")
    g = b.groupBy("bucket").agg(
        F.count(F.when(tc, 1)).alias("n_t"),
        F.count(F.when(~tc, 1)).alias("n_c"),
        F.sum(F.when(tc, F.col("_resp"))).alias("resp_t"),
        F.sum(F.when(~tc, F.col("_resp"))).alias("resp_c"),
    )
    rate_t = F.col("resp_t") / F.col("n_t")
    rate_c = F.col("resp_c") / F.col("n_c")
    term = (
        F.col("resp_t")
        - F.col("resp_c") * F.col("n_t") / F.col("n_c")
    ).cast("decimal(18,6)")
    w = Window.orderBy(F.col("bucket").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return g.select(
        "bucket",
        "n_t",
        "n_c",
        "resp_t",
        "resp_c",
        F.round(rate_t, 6).alias("rate_t"),
        F.round(rate_c, 6).alias("rate_c"),
        F.round(rate_t - rate_c, 6).alias("uplift"),
        F.round(F.sum(term).over(w).cast("double"), 4).alias("qini_cum"),
    )


def cuped_adjusted_effect(
    df: DataFrame,
    group_cols: list[str],
    unit_col: str,
    treat_col,
    pre_col: str,
    metric_col: str,
) -> DataFrame:
    """CUPED variance-reduced treatment effect per group: adjust each
    unit's metric Y by its PRE-experiment covariate X,

        Y' = Y − θ·(X − X̄),   θ = cov_pooled(X, Y) / var_pooled(X),

    then read the arm difference on Y' — same expectation as the raw
    difference (X precedes assignment, so E[X|arm] is equal), but with
    variance shrunk by the squared X–Y correlation.  The single most
    used sensitivity lever in large-scale experimentation: weeks of
    extra traffic traded for one covariate column.

    Everything reduces to per-(group, arm) moments of (X, Y): because
    Y' is linear in (X, Y), mean/var of Y' per arm are closed forms of
    (n, Σx, Σy, Σx², Σy², Σxy) — so the whole estimator is ONE
    unit-level aggregation (the only fact shuffle, per-unit decimal
    sums) plus ONE conditional-moment pass to |groups| rows.  No second
    scan to apply the adjustment.  Emits the adjusted effect, its SE,
    the raw (unadjusted) SE, the variance-reduction fraction, and the
    erfc-form normal p-value.
    """
    t = F.col(treat_col) if isinstance(treat_col, str) else treat_col
    zero = F.lit(0).cast("decimal(18,4)")
    units = df.groupBy(*group_cols, unit_col).agg(
        F.coalesce(
            F.sum(F.col(pre_col).cast("decimal(18,4)")), zero
        ).alias("_x"),
        F.coalesce(
            F.sum(F.col(metric_col).cast("decimal(18,4)")), zero
        ).alias("_y"),
        F.max(t).alias("_t"),
    )
    x = F.col("_x").cast("double")
    y = F.col("_y").cast("double")
    tc = F.col("_t")

    def m(cond, expr, name):
        return (
            F.sum(F.when(cond, expr).cast("decimal(38,8)"))
            .cast("double")
            .alias(name)
        )

    g = units.groupBy(*group_cols).agg(
        F.count(F.when(~tc, 1)).alias("n_a"),
        F.count(F.when(tc, 1)).alias("n_b"),
        m(~tc, x, "_sxa"), m(tc, x, "_sxb"),
        m(~tc, y, "_sya"), m(tc, y, "_syb"),
        m(~tc, x * x, "_sxxa"), m(tc, x * x, "_sxxb"),
        m(~tc, y * y, "_syya"), m(tc, y * y, "_syyb"),
        m(~tc, x * y, "_sxya"), m(tc, x * y, "_sxyb"),
    )
    na, nb = F.col("n_a"), F.col("n_b")
    n = na + nb
    sx = F.col("_sxa") + F.col("_sxb")
    sy = F.col("_sya") + F.col("_syb")
    sxx = F.col("_sxxa") + F.col("_sxxb")
    sxy = F.col("_sxya") + F.col("_sxyb")
    # ANSI-load-bearing guards: at n = 1 the centered numerators are a
    # NON-null 0.0, so the (n-1) divisions would be job-killing 0/0s;
    # a zero pooled X variance (constant covariate) makes θ undefined —
    # NULL through, never divide-by-zero
    nm1 = F.when(n > 1, n - 1)
    var_x_pool = (sxx - sx * sx / n) / nm1
    cov_pool = (sxy - sx * sy / n) / nm1
    theta = cov_pool / F.when(var_x_pool > 0, var_x_pool)
    xbar = sx / n

    def arm(suffix, cnt):
        cm1 = F.when(cnt > 1, cnt - 1)
        mx = F.col(f"_sx{suffix}") / cnt
        my = F.col(f"_sy{suffix}") / cnt
        vx = (
            F.col(f"_sxx{suffix}")
            - F.col(f"_sx{suffix}") * F.col(f"_sx{suffix}") / cnt
        ) / cm1
        vy = (
            F.col(f"_syy{suffix}")
            - F.col(f"_sy{suffix}") * F.col(f"_sy{suffix}") / cnt
        ) / cm1
        cxy = (
            F.col(f"_sxy{suffix}")
            - F.col(f"_sx{suffix}") * F.col(f"_sy{suffix}") / cnt
        ) / cm1
        mean_adj = my - theta * (mx - xbar)
        var_adj = vy - 2.0 * theta * cxy + theta * theta * vx
        return mean_adj, var_adj, vy

    mean_a, var_a, vy_a = arm("a", na)
    mean_b, var_b, vy_b = arm("b", nb)
    effect = mean_b - mean_a
    # constant-metric arms -> zero se: NULL z/p/var_reduction, never an
    # ANSI divide-by-zero
    se = F.sqrt(var_a / na + var_b / nb)
    se_raw = F.sqrt(vy_a / na + vy_b / nb)
    z = effect / F.when(se > 0, se)
    return g.select(
        *group_cols,
        "n_a",
        "n_b",
        F.round(theta, 6).alias("theta"),
        F.round(effect, 4).alias("adj_effect"),
        F.round(se, 4).alias("se_adj"),
        F.round(se_raw, 4).alias("se_raw"),
        F.round(
            1.0 - (se * se) / F.when(se_raw > 0, se_raw * se_raw), 4
        ).alias("var_reduction"),
        F.round(z, 4).alias("z_stat"),
        F.round(normal_sf2(F.abs(z)), 6).alias("p_value"),
    )


def minimum_detectable_effect(
    df: DataFrame,
    group_cols: list[str],
    variant_col,
    value_col: str,
    z_alpha: float = 1.96,
    z_power: float = 0.8416,
) -> DataFrame:
    """Experiment planning per group: the smallest true effect the
    CURRENT arm sizes and variances would detect with the given
    two-sided α and power —

        MDE = (z_{α/2} + z_{power}) · √(v_a/n_a + v_b/n_b)

    (defaults 1.96 + 0.8416 → α=0.05, power=0.80).  Emitted absolute
    and relative to the control mean, so "is this experiment big enough
    for the effect we care about" is one pass over the same
    order-independent decimal moments as :func:`grouped_ztest`.
    """
    t = F.col(variant_col) if isinstance(variant_col, str) else variant_col
    v = F.col(value_col)
    g = df.groupBy(*group_cols).agg(
        F.count(F.when(~t, v)).alias("n_a"),
        F.count(F.when(t, v)).alias("n_b"),
        F.sum(F.when(~t, v).cast("decimal(18,4)"))
        .cast("double")
        .alias("_sa"),
        F.sum(F.when(~t, v * v).cast("decimal(38,8)"))
        .cast("double")
        .alias("_ssa"),
        F.sum(F.when(t, v * v).cast("decimal(38,8)"))
        .cast("double")
        .alias("_ssb"),
        F.sum(F.when(t, v).cast("decimal(18,4)"))
        .cast("double")
        .alias("_sb"),
    )
    na, nb = F.col("n_a"), F.col("n_b")
    va = F.when(
        na > 1, (F.col("_ssa") - F.col("_sa") * F.col("_sa") / na) / (na - 1)
    )
    vb = F.when(
        nb > 1, (F.col("_ssb") - F.col("_sb") * F.col("_sb") / nb) / (nb - 1)
    )
    mde = (z_alpha + z_power) * F.sqrt(va / na + vb / nb)
    mean_a = F.col("_sa") / na
    return g.select(
        *group_cols,
        "n_a",
        "n_b",
        F.round(mean_a, 4).alias("mean_control"),
        F.round(mde, 4).alias("mde_abs"),
        # zero control mean -> relative MDE undefined (NULL, not div0)
        F.round(mde / F.when(mean_a != 0, mean_a), 6).alias("mde_rel"),
    )


def srm_check(
    df: DataFrame,
    group_cols: list[str],
    variant_col,
    unit_col: str | None = None,
    expected_b: float = 0.5,
    alpha: float = 0.001,
) -> DataFrame:
    """Sample-ratio-mismatch guardrail per group: is the observed
    treatment share consistent with the designed split?  The #1
    validity check run BEFORE any A/B readout — a biased split (broken
    assignment, lossy logging, bot filtering hitting one arm) silently
    invalidates every downstream p-value, and the conventional α here
    is 0.001 (an SRM alarm should be near-certain, not borderline).

    Exact normal test on the binomial count: z = (n_b − N·p) / √(N·p·(1−p)),
    two-sided erfc p-value — equivalent to the 1-dof chi-square GOF but
    entirely in the closed forms both engines share.  When ``unit_col``
    is given, units (users) are counted once via COUNT DISTINCT — the
    assignment is per-unit, so per-ROW counting would weight heavy
    users and mask or fake mismatches; otherwise rows are counted.
    One aggregate pass either way.
    """
    t = F.col(variant_col) if isinstance(variant_col, str) else variant_col
    if unit_col is None:
        cnt_a = F.count(F.when(~t, 1))
        cnt_b = F.count(F.when(t, 1))
    else:
        cnt_a = F.count_distinct(F.when(~t, F.col(unit_col)))
        cnt_b = F.count_distinct(F.when(t, F.col(unit_col)))
    g = df.groupBy(*group_cols).agg(
        cnt_a.alias("n_a"), cnt_b.alias("n_b")
    )
    n = F.col("n_a") + F.col("n_b")
    p = F.lit(expected_b)
    z = (F.col("n_b") - n * p) / F.sqrt(n * p * (1.0 - p))
    pv = normal_sf2(F.abs(z))
    return g.select(
        *group_cols,
        "n_a",
        "n_b",
        F.round(F.col("n_b") / n, 6).alias("share_b"),
        F.round(z, 4).alias("z_stat"),
        F.round(pv, 6).alias("p_value"),
        (pv < F.lit(alpha)).alias("srm_detected"),
    )


def beta_posterior_readout(
    df: DataFrame,
    arm_cols: list[str],
    success_col,
    alpha0: float = 1.0,
    beta0: float = 1.0,
) -> DataFrame:
    """Bayesian bandit readout per arm: Beta(α₀, β₀) prior + binomial
    observations → the exact posterior Beta(α₀+s, β₀+n−s), summarized as
    posterior mean, posterior standard deviation, and a ±1.96·sd normal-
    approximation credible interval (clamped to [0, 1]) — the numbers a
    Thompson-sampling allocator reads every batch to re-weight traffic.

    All closed form over one conditional-count aggregate (map-side
    combined, |arms| output rows):

        mean = (α₀+s)/(α₀+β₀+n)
        var  = mean·(1−mean)/(α₀+β₀+n+1)

    so a SQL oracle recomputes the whole readout exactly.  ``success_col``
    is a boolean column or expression; NULL successes are not counted in
    either s or n (an unlabeled trial is not a failure).
    """
    s = F.col(success_col) if isinstance(success_col, str) else success_col
    g = df.groupBy(*arm_cols).agg(
        F.count(F.when(s | ~s, 1)).alias("n_trials"),
        F.count(F.when(s, 1)).alias("n_success"),
    )
    n = F.col("n_trials")
    a = F.lit(alpha0) + F.col("n_success")
    b = F.lit(beta0) + (n - F.col("n_success"))
    mean = a / (a + b)
    var = mean * (1.0 - mean) / (a + b + 1.0)
    sd = F.sqrt(var)
    return g.select(
        *arm_cols,
        "n_trials",
        "n_success",
        F.round(mean, 6).alias("post_mean"),
        F.round(sd, 6).alias("post_sd"),
        F.round(F.greatest(F.lit(0.0), mean - 1.96 * sd), 6).alias("cred_lo"),
        F.round(F.least(F.lit(1.0), mean + 1.96 * sd), 6).alias("cred_hi"),
    )


def always_valid_pvalue(
    df: DataFrame,
    group_cols: list[str],
    variant_col,
    value_col: str,
    tau: float = 1.0,
) -> DataFrame:
    """Always-valid (anytime) p-value for the arm-mean difference via the
    mixture sequential probability ratio test (mSPRT, Johari-Koomen-
    Pekelis-Walsh 2017): with θ̂ = m_b − m_a, V = v_a/n_a + v_b/n_b and a
    N(0, τ²) mixture over alternatives,

        Λ = √(V/(V+τ²)) · exp(θ̂²·τ² / (2·V·(V+τ²)))
        p = min(1, 1/Λ)

    valid at EVERY interim look — the fix for the peeking problem that
    invalidates fixed-horizon z-tests on continuously-monitored
    experiments.  (The anytime guarantee is over the running minimum of
    p across looks; a single snapshot of this column is itself a
    conservative valid p.)

    Same one-pass order-independent decimal moments as
    :func:`grouped_ztest`; everything downstream is closed form
    (√/exp), so DuckDB oracles recompute statistic → p → decision
    exactly.  Degenerate arms (n < 2) or zero pooled variance yield
    NULL, never a clamp (the repo's skip-null discipline).
    """
    t = F.col(variant_col) if isinstance(variant_col, str) else variant_col
    v = F.col(value_col)
    g = df.groupBy(*group_cols).agg(
        F.count(F.when(~t, v)).alias("n_a"),
        F.count(F.when(t, v)).alias("n_b"),
        F.sum(F.when(~t, v).cast("decimal(18,4)"))
        .cast("double")
        .alias("_sa"),
        F.sum(F.when(t, v).cast("decimal(18,4)"))
        .cast("double")
        .alias("_sb"),
        F.sum(F.when(~t, v * v).cast("decimal(38,8)"))
        .cast("double")
        .alias("_ssa"),
        F.sum(F.when(t, v * v).cast("decimal(38,8)"))
        .cast("double")
        .alias("_ssb"),
    )
    na, nb = F.col("n_a"), F.col("n_b")
    ma = F.col("_sa") / na
    mb = F.col("_sb") / nb
    va = F.when(
        na > 1, (F.col("_ssa") - F.col("_sa") * F.col("_sa") / na) / (na - 1)
    )
    vb = F.when(
        nb > 1, (F.col("_ssb") - F.col("_sb") * F.col("_sb") / nb) / (nb - 1)
    )
    bigv = F.when(va / na + vb / nb > 0, va / na + vb / nb)
    theta = mb - ma
    t2 = F.lit(tau * tau)
    log_lam = 0.5 * F.log(bigv / (bigv + t2)) + (
        theta * theta * t2 / (2.0 * bigv * (bigv + t2))
    )
    # least() SKIPS nulls: without the guard a NULL statistic (degenerate
    # arms) would clamp to p = 1.0 instead of propagating NULL
    p = F.when(
        log_lam.isNotNull(), F.least(F.lit(1.0), F.exp(-log_lam))
    )
    return g.select(
        *group_cols,
        "n_a",
        "n_b",
        F.round(theta, 4).alias("effect"),
        F.round(F.sqrt(bigv), 6).alias("se"),
        F.round(p, 6).alias("p_always_valid"),
    )


def jackknife_ratio_se(
    df: DataFrame,
    unit_col: str,
    group_cols: list[str],
    num_col: str,
    den_col,
) -> DataFrame:
    """Leave-one-unit-out jackknife standard error for a ratio metric —
    the resampling cross-check for :func:`ratio_metric_delta`'s
    linearization (the two agreeing is the standard validation that the
    delta approximation holds on this data; diverging flags heavy-tailed
    units that dominate the ratio):

        R      = Σx / Σy           over per-unit sums (x_u, y_u)
        R_(i)  = (Σx − x_i) / (Σy − y_i)
        SE²    = (n−1)/n · Σ_i (R_(i) − mean(R_(·)))²

    Unlike bootstrap, the jackknife is CLOSED FORM over per-unit sums:
    one unit-level aggregation (the only fact shuffle), one tiny
    group-totals frame joined back broadcast, one moment pass over the
    R_(i) — fully deterministic, no RNG, SQL-oracle-exact.  Every R_(i)
    is a pure function of exact decimal sums, so both engines compute
    identical doubles; the R_(i) moments accumulate decimal(38,12).

    Units whose removal zeroes the denominator (Σy == y_i) have
    undefined R_(i) and are excluded from the moments (n counts the
    defined ones); groups with n < 2 defined pseudo-values yield NULL
    se.
    """
    d = F.col(den_col) if isinstance(den_col, str) else den_col
    zero = F.lit(0).cast("decimal(18,4)")
    units = df.groupBy(*group_cols, unit_col).agg(
        F.coalesce(
            F.sum(F.col(num_col).cast("decimal(18,4)")), zero
        ).alias("_x"),
        F.coalesce(F.sum(d.cast("decimal(18,4)")), zero).alias("_y"),
    )
    totals = units.groupBy(*group_cols).agg(
        F.sum("_x").alias("_sx"), F.sum("_y").alias("_sy")
    )
    j = units.join(F.broadcast(totals), group_cols)
    sx = F.col("_sx").cast("double")
    sy = F.col("_sy").cast("double")
    loo_den = (F.col("_sy") - F.col("_y")).cast("double")
    ri = (F.col("_sx") - F.col("_x")).cast("double") / F.when(
        loo_den != 0, loo_den
    )
    g = j.select(*group_cols, sx.alias("_dsx"), sy.alias("_dsy"),
                 ri.alias("_ri")).groupBy(*group_cols).agg(
        F.max("_dsx").alias("_gx"),
        F.max("_dsy").alias("_gy"),
        F.count("_ri").alias("n_loo"),
        F.sum(F.col("_ri").cast("decimal(38,12)"))
        .cast("double")
        .alias("_sr"),
        F.sum((F.col("_ri") * F.col("_ri")).cast("decimal(38,12)"))
        .cast("double")
        .alias("_srr"),
    )
    n = F.col("n_loo")
    mean_r = F.col("_sr") / n
    ss = F.col("_srr") - F.col("_sr") * F.col("_sr") / n
    se = F.sqrt(
        F.when((n > 1) & (ss >= 0), ss * (n - 1) / n)
    )
    ratio = F.col("_gx") / F.when(F.col("_gy") != 0, F.col("_gy"))
    return g.select(
        *group_cols,
        n.alias("n_units"),
        F.round(ratio, 6).alias("ratio"),
        F.round(se, 6).alias("se_jack"),
    )


def rate_ratio_test(
    df: DataFrame,
    group_cols: list[str],
    variant_col,
    unit_col: str,
) -> DataFrame:
    """Count-metric A/B readout: per group, compare EVENT RATES between
    arms with the log rate-ratio Wald test (the Poisson-regression
    two-arm special case) —

        rate_i = events_i / units_i
        z      = ln(rate_b / rate_a) / √(1/c_a + 1/c_b)

    where c_i is the arm's event count.  The right test when the metric
    is "how often" rather than "how much" (sessions per user, alerts per
    device): a mean-based t/z on per-unit counts also works, but the log
    rate ratio is variance-stabilized for skewed counts and reads out as
    a multiplicative lift.  Exposure is unit counts (COUNT DISTINCT per
    arm — assignment is per-unit, the SRM discipline).

    One aggregate pass; closed form (ln/√) so the oracle recomputes
    statistic → p exactly.  Arms with zero events yield NULL z/p
    (log undefined) — guarded, never a clamp or divide-by-zero.
    """
    t = F.col(variant_col) if isinstance(variant_col, str) else variant_col
    g = df.groupBy(*group_cols).agg(
        F.count(F.when(~t, 1)).alias("c_a"),
        F.count(F.when(t, 1)).alias("c_b"),
        F.count_distinct(F.when(~t, F.col(unit_col))).alias("u_a"),
        F.count_distinct(F.when(t, F.col(unit_col))).alias("u_b"),
    )
    ca, cb = F.col("c_a"), F.col("c_b")
    ua, ub = F.col("u_a"), F.col("u_b")
    rate_a = ca / F.when(ua > 0, ua)
    rate_b = cb / F.when(ub > 0, ub)
    ratio = F.when((rate_a > 0) & (rate_b > 0), rate_b / rate_a)
    # zero-event arms must yield NULL, not an ANSI 1/0 job failure
    z = F.log(ratio) / F.sqrt(
        1.0 / F.when(ca > 0, ca) + 1.0 / F.when(cb > 0, cb)
    )
    return g.select(
        *group_cols,
        "c_a",
        "c_b",
        "u_a",
        "u_b",
        F.round(rate_a, 6).alias("rate_a"),
        F.round(rate_b, 6).alias("rate_b"),
        F.round(ratio, 6).alias("rate_ratio"),
        F.round(z, 4).alias("z_stat"),
        F.round(normal_sf2(F.abs(z)), 6).alias("p_value"),
    )


def proportions_ztest(
    df: DataFrame,
    group_cols: list[str],
    variant_col,
    success_col,
) -> DataFrame:
    """Two-sample pooled-variance proportions z-test per group — the
    conversion-rate readout (did the treatment move the click/convert
    probability?):

        p̂ = (s_a + s_b) / (n_a + n_b)
        z = (p_b − p_a) / √(p̂·(1−p̂)·(1/n_a + 1/n_b))

    The pooled variance is the H₀-correct denominator for proportions
    (a mean-based Welch z on 0/1 values uses the unpooled one — valid
    but not the textbook test auditors expect to reproduce).  One
    conditional-count pass, closed form, NULL when either arm is empty
    or the pooled rate is degenerate (0 or 1 ⇒ zero variance) — guarded,
    never an ANSI divide-by-zero.  NULL successes count as neither trial
    nor success.
    """
    t = F.col(variant_col) if isinstance(variant_col, str) else variant_col
    s = F.col(success_col) if isinstance(success_col, str) else success_col
    g = df.groupBy(*group_cols).agg(
        F.count(F.when(~t & s.isNotNull(), 1)).alias("n_a"),
        F.count(F.when(t & s.isNotNull(), 1)).alias("n_b"),
        F.count(F.when(~t & s, 1)).alias("s_a"),
        F.count(F.when(t & s, 1)).alias("s_b"),
    )
    na, nb = F.col("n_a"), F.col("n_b")
    pa = F.col("s_a") / F.when(na > 0, na)
    pb = F.col("s_b") / F.when(nb > 0, nb)
    pool = (F.col("s_a") + F.col("s_b")) / F.when(na + nb > 0, na + nb)
    var = (
        pool
        * (1.0 - pool)
        * (1.0 / F.when(na > 0, na) + 1.0 / F.when(nb > 0, nb))
    )
    z = (pb - pa) / F.sqrt(F.when(var > 0, var))
    return g.select(
        *group_cols,
        "n_a",
        "n_b",
        F.round(pa, 6).alias("rate_a"),
        F.round(pb, 6).alias("rate_b"),
        F.round(z, 4).alias("z_stat"),
        F.round(normal_sf2(F.abs(z)), 6).alias("p_value"),
    )
