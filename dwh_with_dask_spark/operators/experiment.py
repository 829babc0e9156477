"""A/B experiment analysis: deterministic assignment + two-proportion z-test.

ABSENT-IN-REFERENCE (SURVEY.md §2B north-star): the analytics layer a
warehouse's event tables exist to feed. Both halves follow the repo's
determinism contract:

- **assignment** is the md5-draw idiom (``curation.md5_prefix``): a unit
  keeps its arm forever, across re-partitions, re-runs, and corpus
  growth — the property an experiment actually needs (an RNG assignment
  re-randomizes on every run and silently contaminates arms);
- **the test statistic** uses only IEEE +,-,*,/ and ``sqrt`` (all
  correctly rounded per IEEE-754, unlike ``ln``/``exp``), in one FIXED
  expression tree mirrored by the SQL oracle — so the z-score is
  bit-identical cross-engine with no rounding idiom.

Scale shape: assignment is a stateless map-side expression (no shuffle);
the test is one unit-keyed aggregate (the per-unit conversion rollup)
plus a 4-counter global aggregate — at 100 TB the whole analysis is one
pass over the fact with map-side partial counts.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from dwh_with_dask_spark.operators.curation import frac_to_hex, md5_prefix


def ab_assign(
    unit: Column | str,
    salt: str = "exp",
    treat_frac: float = 0.5,
    control: str = "control",
    treatment: str = "treatment",
) -> Column:
    """Deterministic two-arm assignment from the md5 draw on the unit
    key: stable, stateless, uniform up to 1/16⁴ granularity — the
    ``hash_split`` contract specialized to experiments (salt = the
    experiment id, so concurrent experiments get independent draws)."""
    draw = md5_prefix(unit, 4, salt)
    return F.when(
        draw < F.lit(frac_to_hex(treat_frac, 4)), F.lit(treatment)
    ).otherwise(F.lit(control))


def _pos(x):
    """NULL-guard a denominator: x when > 0 else NULL. NULL propagates
    through arithmetic instead of tripping ANSI division-by-zero —
    Spark's vectorized evaluation does not reliably short-circuit
    division subterms under CASE WHEN (round-9 review: an empty frame's
    0-counts raised where NULL counts used to flow through)."""
    return F.when(x > 0, x)


def two_proportion_ztest(
    units: DataFrame,
    arm_col: str = "arm",
    converted_col: str = "converted",
    control: str = "control",
    treatment: str = "treatment",
    by: list[str] | None = None,
) -> DataFrame:
    """Pooled two-proportion z-test over a per-UNIT frame (one row per
    experimental unit with its arm and boolean conversion) — the
    standard conversion-rate readout. ``by`` groups the readout (one
    test per key — e.g. one row per METRIC of a multi-metric readout,
    the frame ``benjamini_hochberg`` consumes; the aggregate gains the
    group keys, everything else is unchanged). Returns ONE row (per
    ``by`` group):
    (n_control, x_control, rate_control, n_treatment, x_treatment,
    rate_treatment, abs_lift, z_score).

    ``z = (rate_t - rate_c) / sqrt(p·(1-p)·(1/n_c + 1/n_t))`` with the
    pooled rate ``p``; NULL when an arm is empty or the pooled rate is
    degenerate (0 or 1 ⇒ zero standard error — division by zero would
    otherwise raise under ANSI mode). Every operation is an IEEE
    correctly-rounded +,-,*,/,sqrt in a fixed tree, so the oracle
    hash-matches exactly, no round() needed. Sign convention: positive
    z means the TREATMENT converts more.

    The caller owns unit-level rollup (e.g. ``max(event == 'purchase')``
    per user) — the test consumes one row per unit, which is what keeps
    the variance formula valid (event-level rows would be correlated
    within a unit)."""
    is_c = F.col(arm_col) == control
    is_t = F.col(arm_col) == treatment
    conv = F.col(converted_col).cast("long")
    # coalesce: a SUM over ZERO rows is NULL, and a counters row must
    # read 0, not NULL (round-9 review)
    z0 = F.lit(0).cast("long")
    counters = [
        F.coalesce(F.sum(F.when(is_c, 1).otherwise(0)), z0).alias("n_control"),
        F.coalesce(F.sum(F.when(is_c, conv).otherwise(0)), z0).alias("x_control"),
        F.coalesce(F.sum(F.when(is_t, 1).otherwise(0)), z0).alias("n_treatment"),
        F.coalesce(F.sum(F.when(is_t, conv).otherwise(0)), z0).alias("x_treatment"),
    ]
    agg = units.groupBy(*by).agg(*counters) if by else units.agg(*counters)
    n_c = F.col("n_control").cast("double")
    n_t = F.col("n_treatment").cast("double")
    x_c = F.col("x_control").cast("double")
    x_t = F.col("x_treatment").cast("double")
    rate_c = x_c / _pos(n_c)
    rate_t = x_t / _pos(n_t)
    p = (x_c + x_t) / _pos(n_c + n_t)
    se = F.sqrt(
        p * (F.lit(1.0) - p)
        * (F.lit(1.0) / _pos(n_c) + F.lit(1.0) / _pos(n_t))
    )
    ok = (
        (F.col("n_control") > 0)
        & (F.col("n_treatment") > 0)
        & (p > 0)
        & (p < 1)
    )
    return agg.select(
        *(by or []),
        "n_control",
        "x_control",
        F.when(F.col("n_control") > 0, rate_c).alias("rate_control"),
        "n_treatment",
        "x_treatment",
        F.when(F.col("n_treatment") > 0, rate_t).alias("rate_treatment"),
        F.when(ok, rate_t - rate_c).alias("abs_lift"),
        F.when(ok, (rate_t - rate_c) / se).alias("z_score"),
    )


def cuped_welch_report(
    units: DataFrame,
    arm_col: str = "arm",
    metric_col: str = "metric",
    covariate_col: str = "covariate",
    control: str = "control",
    treatment: str = "treatment",
    metric_decimals: int = 2,
    scope=None,
) -> DataFrame:
    """Welch two-sample t-test on a continuous per-unit metric, raw AND
    CUPED-adjusted (Deng, Xu, Kohavi & Walker 2013) — the standard
    variance-reduction readout for revenue-style experiment metrics.
    Returns TWO rows, ``variant ∈ {'raw', 'cuped'}``:
    (variant, n_control, n_treatment, mean_control, mean_treatment,
    lift, t_stat, dof, theta, var_reduction).

    CUPED: ``y_adj = y − θ·(x − E[x])`` with the pooled
    ``θ = cov(x, y) / var(x)`` over a pre-experiment covariate x that
    assignment cannot affect; the adjustment removes the covariate-
    explained variance, shrinking the standard error at the SAME
    sample size. ``var_reduction`` = 1 − (se²_adj / se²_raw) on the
    Welch standard error.

    Determinism contract (what makes both rows hash-match a DuckDB
    oracle): every SUM runs in exact DECIMAL(25, metric_decimals) —
    25 digits so products stay inside both engines' int128 decimal
    kernels (DuckDB's DECIMAL(18) multiply is int64 and overflows on
    squared per-unit revenue) — and the per-unit adjusted metric is
    ROUNDED back to ``metric_decimals`` and re-cast to DECIMAL before
    its sums, so no double ever rides an order-dependent fold;
    θ, means, variances, t, and dof are then fixed double expression
    trees over those exact sums (IEEE correctly-rounded ops only), and
    every reported statistic is round(,6). Degenerate inputs (an arm
    with n ≤ 1, zero covariate variance) yield NULLs, never an ANSI
    division error.

    Scale shape: one pass for the pooled θ sums (broadcast 1 row), one
    map-side adjustment expression, one global conditional-sum
    aggregate — the units frame is scanned by TWO jobs (θ, then the
    report), so it is PERSISTED through both: the frame is usually the
    output of a fact rollup (a join + groupBy at 100 TB) and
    recomputing that rollup under each pass doubled the operator's
    cost (measured round 10: the sf10 driver row read 2.66× of its
    DuckDB oracle unshared). ``scope`` follows the repo's
    caller-owned-cache contract (operators.caching): pass a
    ``CacheScope`` to control release; without one the persist stays
    until ``spark.catalog.clearCache()``.
    """
    from dwh_with_dask_spark.operators.caching import CacheScope

    scope = scope or CacheScope()
    d = metric_decimals
    y_dec = F.col(metric_col).cast(f"decimal(25,{d})")
    x_dec = F.col(covariate_col).cast(f"decimal(25,{d})")
    u = scope.persist(
        units.select(
            F.col(arm_col).alias("__arm"),
            y_dec.alias("__y"),
            x_dec.alias("__x"),
        )
    )
    # pooled theta + covariate mean from exact sums
    st = u.agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum("__x").alias("__sx"),
        F.sum("__y").alias("__sy"),
        F.sum(F.col("__x") * F.col("__y")).alias("__sxy"),
        F.sum(F.col("__x") * F.col("__x")).alias("__sxx"),
    )
    n = _pos(F.col("__n").cast("double"))
    sx = F.col("__sx").cast("double")
    sy = F.col("__sy").cast("double")
    sxy = F.col("__sxy").cast("double")
    sxx = F.col("__sxx").cast("double")
    var_x = sxx - sx * sx / n
    st = st.select(
        F.when(var_x > 0, (sxy - sx * sy / n) / var_x).alias("__theta"),
        (sx / n).alias("__mean_x"),
    )
    u = u.crossJoin(F.broadcast(st))
    adj = F.when(
        F.col("__theta").isNotNull(),
        F.col("__y").cast("double")
        - F.col("__theta")
        * (F.col("__x").cast("double") - F.col("__mean_x")),
    ).otherwise(F.col("__y").cast("double"))
    u = u.withColumn("__a", F.round(adj, d).cast(f"decimal(25,{d})"))

    is_c = F.col("__arm") == control
    is_t = F.col("__arm") == treatment

    # SUM over ZERO rows is NULL — coalesce the counters to 0 so an
    # empty units frame reads n=0 like the z-test/SRM siblings
    # (ADVICE r9), not NULL.
    z0 = F.lit(0).cast("long")
    agg = u.agg(
        F.coalesce(F.sum(F.when(is_c, 1).otherwise(0)), z0).alias("nc"),
        F.coalesce(F.sum(F.when(is_t, 1).otherwise(0)), z0).alias("nt"),
        F.sum(F.when(is_c, F.col("__y"))).alias("syc"),
        F.sum(F.when(is_t, F.col("__y"))).alias("syt"),
        F.sum(F.when(is_c, F.col("__y") * F.col("__y"))).alias("syyc"),
        F.sum(F.when(is_t, F.col("__y") * F.col("__y"))).alias("syyt"),
        F.sum(F.when(is_c, F.col("__a"))).alias("sac"),
        F.sum(F.when(is_t, F.col("__a"))).alias("sat"),
        F.sum(F.when(is_c, F.col("__a") * F.col("__a"))).alias("saac"),
        F.sum(F.when(is_t, F.col("__a") * F.col("__a"))).alias("saat"),
        F.first("__theta").alias("theta_raw"),
    )

    def welch(s1c, s2c, s1t, s2t):
        nc = _pos(F.col("nc").cast("double"))
        nt = _pos(F.col("nt").cast("double"))
        mc = s1c.cast("double") / nc
        mt = s1t.cast("double") / nt
        vc = (s2c.cast("double") - s1c.cast("double") * s1c.cast("double") / nc) / _pos(nc - F.lit(1.0))
        vt = (s2t.cast("double") - s1t.cast("double") * s1t.cast("double") / nt) / _pos(nt - F.lit(1.0))
        se2 = vc / nc + vt / nt
        ok = (F.col("nc") > 1) & (F.col("nt") > 1) & (se2 > 0)
        t = F.when(ok, (mt - mc) / F.sqrt(se2))
        dof = F.when(
            ok,
            se2 * se2
            / ((vc / nc) * (vc / nc) / (nc - F.lit(1.0))
               + (vt / nt) * (vt / nt) / (nt - F.lit(1.0))),
        )
        return mc, mt, t, dof, F.when(ok, se2)

    mc_r, mt_r, t_r, dof_r, se2_r = welch(
        F.col("syc"), F.col("syyc"), F.col("syt"), F.col("syyt")
    )
    mc_a, mt_a, t_a, dof_a, se2_a = welch(
        F.col("sac"), F.col("saac"), F.col("sat"), F.col("saat")
    )

    def row(variant, mc, mt, t, dof, theta, var_red):
        return F.struct(
            F.lit(variant).alias("variant"),
            F.col("nc").alias("n_control"),
            F.col("nt").alias("n_treatment"),
            F.round(mc, 6).alias("mean_control"),
            F.round(mt, 6).alias("mean_treatment"),
            F.round(mt - mc, 6).alias("lift"),
            F.round(t, 6).alias("t_stat"),
            F.round(dof, 6).alias("dof"),
            F.round(theta, 6).alias("theta"),
            F.round(var_red, 6).alias("var_reduction"),
        )

    var_red = F.when(
        se2_r.isNotNull() & se2_a.isNotNull(),
        F.lit(1.0) - se2_a / se2_r,
    )
    # Both report rows explode out of the SAME 1-row aggregate — a
    # union of two selects would recompute the whole pipeline (theta
    # pass included) once per branch.
    return agg.select(
        F.explode(
            F.array(
                row(
                    "raw", mc_r, mt_r, t_r, dof_r,
                    F.lit(None).cast("double"), F.lit(None).cast("double"),
                ),
                row(
                    "cuped", mc_a, mt_a, t_a, dof_a,
                    F.col("theta_raw"), var_red,
                ),
            )
        ).alias("__r")
    ).select("__r.*")


def mann_whitney_u(
    units: DataFrame,
    arm_col: str = "arm",
    metric_col: str = "metric",
    control: str = "control",
    treatment: str = "treatment",
) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) test — the standard ROBUST
    A/B readout for heavy-tailed metrics (revenue, latency), where the
    Welch t-test's mean is hostage to outliers. Returns ONE row:
    (n_control, n_treatment, u_stat, mu, z_score) with the normal
    approximation and the textbook tie correction; positive z means
    the treatment's values rank higher. No continuity correction
    (documented; both engines then share one exact formula).

    Exactness: mid-ranks are computed VALUE-GROUP-wise —
    ``midrank(v) = (# rows < v) + (count(v)+1)/2`` — so every rank is
    an exact multiple of 0.5 and every rank sum is exact in a double
    (halves stay exact far past any realistic N); the tie term
    ``Σ(t³−t)`` runs in DECIMAL(38,0). U and z are then fixed IEEE
    trees over exact ingredients — bit-identical cross-engine, no
    rounding idiom (z is rounded to 6 dp only as belt-and-braces).

    Scale shape — NO global row window (the single-partition trap of
    naive ranking): rows aggregate to per-(value, arm) counts, the
    ordered cumulative count runs over the DISTINCT VALUES only
    (bounded by metric cardinality, tiny for fixed-scale money), and
    the rank sums are one more aggregate. Three shuffles of
    value-cardinality-sized frames; input rows are touched once.
    """
    m = F.col(metric_col).cast("double")
    is_t = F.col(arm_col) == treatment
    is_c = F.col(arm_col) == control
    # NULL metrics are EXCLUDED (unmeasured units have no rank; Spark
    # would otherwise sort them NULLS-FIRST into the lowest rank group
    # while a SQL oracle's ORDER BY ranks them last — round-9 review)
    per_val = (
        units.filter((is_t | is_c) & m.isNotNull())
        .select(m.alias("__v"), is_t.alias("__t"))
        .groupBy("__v")
        .agg(
            F.count(F.lit(1)).alias("__cnt"),
            F.sum(F.when(F.col("__t"), 1).otherwise(0)).alias("__cnt_t"),
        )
    )
    w = (
        Window.orderBy("__v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ranked = per_val.withColumn(
        "__below", F.sum("__cnt").over(w) - F.col("__cnt")
    ).withColumn(
        "__midrank",
        F.col("__below").cast("double")
        + (F.col("__cnt").cast("double") + F.lit(1.0)) / F.lit(2.0),
    )
    cnt_dec = F.col("__cnt").cast("decimal(38,0)")
    agg = ranked.agg(
        F.coalesce(F.sum("__cnt"), F.lit(0).cast("long")).alias("n_all"),
        F.coalesce(F.sum("__cnt_t"), F.lit(0).cast("long")).alias("n_t"),
        F.sum(F.col("__cnt_t").cast("double") * F.col("__midrank")).alias(
            "rank_sum_t"
        ),
        F.sum(cnt_dec * cnt_dec * cnt_dec - cnt_dec).alias("tie_term"),
    )
    n_all = F.col("n_all").cast("double")
    n_t = F.col("n_t").cast("double")
    n_c = n_all - n_t
    u = F.col("rank_sum_t") - n_t * (n_t + F.lit(1.0)) / F.lit(2.0)
    mu = n_c * n_t / F.lit(2.0)
    var = n_c * n_t * (n_all + F.lit(1.0)) / F.lit(12.0) - n_c * n_t * F.col(
        "tie_term"
    ).cast("double") / _pos(F.lit(12.0) * n_all * (n_all - F.lit(1.0)))
    ok = (F.col("n_t") > 0) & (F.col("n_all") - F.col("n_t") > 0) & (var > 0)
    return agg.select(
        (F.col("n_all") - F.col("n_t")).alias("n_control"),
        F.col("n_t").alias("n_treatment"),
        u.alias("u_stat"),
        mu.alias("mu"),
        F.round(F.when(ok, (u - mu) / F.sqrt(var)), 6).alias("z_score"),
    )


def srm_check(
    units: DataFrame,
    arm_col: str = "arm",
    expected_treat_frac: float = 0.5,
    control: str = "control",
    treatment: str = "treatment",
    alarm_z: float = 3.0,
) -> DataFrame:
    """Sample-ratio-mismatch guardrail — the FIRST thing a trustworthy
    experiment pipeline checks: if the realized arm split deviates from
    the designed fraction beyond randomization noise, the assignment or
    logging is broken and every downstream readout is invalid
    (Fabijan et al. 2019 call SRM the most common corrupted-experiment
    symptom). One row: (n_control, n_treatment, expected_treat_frac,
    srm_z, srm_alarm) — a one-proportion z against the design fraction,
    ``z = (n_t − N·f) / sqrt(N·f·(1−f))``, alarm at |z| > ``alarm_z``
    (≈3 ⇔ the usual p < 0.003 bar). Fixed IEEE tree over exact counts —
    bit-identical cross-engine; the alarm compares the ROUNDED z.

    Scale shape: one 2-counter aggregate with map-side partials — one
    pass, no shuffle beyond it."""
    is_c = F.col(arm_col) == control
    is_t = F.col(arm_col) == treatment
    z0 = F.lit(0).cast("long")
    agg = units.filter(is_c | is_t).agg(
        F.coalesce(F.sum(F.when(is_c, 1).otherwise(0)), z0).alias("n_control"),
        F.coalesce(F.sum(F.when(is_t, 1).otherwise(0)), z0).alias("n_treatment"),
    )
    f = F.lit(float(expected_treat_frac))
    n = (F.col("n_control") + F.col("n_treatment")).cast("double")
    nt = F.col("n_treatment").cast("double")
    ok = (n > 0) & (f > 0) & (f < 1)
    z = F.round(
        F.when(ok, (nt - n * f) / _pos(F.sqrt(n * f * (F.lit(1.0) - f)))), 6
    )
    return agg.select(
        "n_control",
        "n_treatment",
        f.alias("expected_treat_frac"),
        z.alias("srm_z"),
        (F.abs(z) > F.lit(float(alarm_z))).alias("srm_alarm"),
    )


def normal_two_sided_p(z: Column) -> Column:
    """Two-sided normal p-value from a z-score, as a pure Column
    expression both engines can evaluate: the Zelen & Severo polynomial
    approximation of the normal survival function (Abramowitz & Stegun
    26.2.17, |error| < 7.5e-8 — far below any decision threshold a
    readout uses), ``p = 2·φ(|z|)·poly(t)``, ``t = 1/(1+0.2316419|z|)``,
    in ONE fixed Horner tree. ``exp`` is implementation-defined at the
    last ulp (unlike +,-,*,/,sqrt), so the result is rounded to 9 dp —
    the md5-draw-threshold idiom: a 1e-9-rounded probability cannot
    disagree across engines' last-ulp ``exp`` differences. NULL z
    (degenerate test) propagates to NULL p."""
    az = F.abs(z)
    t = F.lit(1.0) / (F.lit(1.0) + F.lit(0.2316419) * az)
    phi = F.exp(-(az * az) / F.lit(2.0)) / F.lit(2.5066282746310002)
    poly = t * (
        F.lit(0.319381530)
        + t * (
            F.lit(-0.356563782)
            + t * (
                F.lit(1.781477937)
                + t * (F.lit(-1.821255978) + t * F.lit(1.330274429))
            )
        )
    )
    return F.round(F.lit(2.0) * phi * poly, 9)


def normal_two_sided_p_sql(z_expr: str) -> str:
    """The DuckDB twin of ``normal_two_sided_p`` — the SAME constants
    and the SAME Horner association over ``z_expr``, rounded to the
    same 9 dp, so oracle p-values hash-match."""
    az = f"abs({z_expr})"
    t = f"(1.0 / (1.0 + 0.2316419 * {az}))"
    phi = f"(exp(-({az} * {az}) / 2.0) / 2.5066282746310002)"
    poly = (
        f"({t} * (0.319381530 + {t} * (-0.356563782 + {t} * "
        f"(1.781477937 + {t} * (-1.821255978 + {t} * 1.330274429)))))"
    )
    return f"ROUND(2.0 * {phi} * {poly}, 9)"


def benjamini_hochberg(
    results: DataFrame,
    p_col: str = "p_value",
    alpha: float = 0.05,
    tie_cols: list[str] | None = None,
    method: str = "bh",
) -> DataFrame:
    """Benjamini-Hochberg FDR correction over a (test, p-value) frame —
    the standard consumer of a MULTI-metric experiment readout
    (Benjamini & Hochberg 1995): testing 20 metrics at α=0.05 expects a
    false positive per experiment; BH caps the expected FALSE DISCOVERY
    RATE at α instead. Adds (p_rank, p_adj, reject):
    ``p_adj(i) = min_{j>=i} p(j)·m/j`` capped at 1 over the ascending-p
    ranking (the step-up monotonization), ``reject = p_adj <= alpha``.

    ``method`` selects the correction family (all published):

    - ``'bh'`` (default) — Benjamini-Hochberg step-up, FDR control
      under independence/PRDS;
    - ``'by'`` — Benjamini-Yekutieli 2001: BH with the factor inflated
      by the harmonic sum ``c(m) = Σ_{i<=m} 1/i``, FDR control under
      ARBITRARY dependence (the conservative default for correlated
      metrics, which real experiment metrics are);
    - ``'holm'`` — Holm 1979 step-DOWN, ``p_adj(i) = max_{j<=i}
      p(j)·(m−j+1)`` capped at 1: controls the stricter FAMILYWISE
      error rate, uniformly more powerful than plain Bonferroni.

    Determinism: rank ties break on ``tie_cols`` (default: every other
    column, ascending) so the ranking is total; the per-rank factor is
    two IEEE ops on an already-rounded p; the running min (bh/by) and
    max (holm) are EXACT (no addition, order-free result) — so
    ``p_adj`` needs no rounding idiom beyond the p input's own, except
    'by', whose harmonic sum is an ordered double fold and is rounded
    to 9 dp before use (the md5-rate idiom — engines' fold orders
    cannot disagree past 1e-9 at report sizes). NULL p rows (degenerate
    tests) pass through with NULL rank/p_adj and ``reject = false``; m
    counts only real p-values.

    Scale note: this is a REPORT operator — the input is
    metrics-count-sized (one row per tested metric), so the two global
    windows are driver-trivial by construction; it is not meant for
    fact-table inputs (the heavy lifting happened in the per-metric
    tests upstream)."""
    if method not in ("bh", "by", "holm"):
        raise ValueError(f"unknown correction method {method!r}")
    tie_cols = (
        [c for c in results.columns if c != p_col]
        if tie_cols is None
        else tie_cols
    )
    # ONE consumer of `results` (plan-audit round 10): a valid/invalid
    # filter split re-derived the whole upstream per-metric pipeline —
    # a fact rollup — once per branch. Instead rank with NULLS LAST
    # (Spark's asc_nulls_last), count only real p-values for m, and
    # NULL-out the outputs on NULL-p rows; the running min/max windows
    # skip the NULL q's on their own.
    valid = F.col(p_col).isNotNull()
    w_all = Window.partitionBy(F.lit(1))
    w_rank = Window.orderBy(
        F.col(p_col).asc_nulls_last(), *[F.col(c).asc() for c in tie_cols]
    )
    ranked = results.withColumn(
        "p_rank", F.when(valid, F.row_number().over(w_rank).cast("long"))
    ).withColumn(
        "__m", F.count(F.when(valid, 1)).over(w_all)
    )
    p_d = F.col(p_col).cast("double")
    m_d = F.col("__m").cast("double")
    rank_d = F.col("p_rank").cast("double")
    if method == "holm":
        # step-down: running MAX of p·(m−rank+1) from the TOP rank
        # (NULL ranks order last under asc_nulls_last, after every
        # real rank — their q is NULL and max() skips it)
        q = p_d * (m_d - rank_d + F.lit(1.0))
        w_cum = Window.orderBy(F.col("p_rank").asc_nulls_last()).rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        adj = F.least(F.lit(1.0), F.max(q).over(w_cum))
    else:
        factor = m_d
        if method == "by":
            # harmonic sum over the ranked frame itself (1/i for every
            # real rank is exactly the Σ 1/i over i <= m), rounded
            ranked = ranked.withColumn(
                "__cm",
                F.round(
                    F.sum(F.when(valid, F.lit(1.0) / rank_d)).over(w_all), 9
                ),
            )
            factor = m_d * F.col("__cm")
        q = p_d * factor / rank_d
        # NULL ranks first under desc_nulls_first == before every real
        # rank — their NULL q never pollutes the running min
        w_cum = Window.orderBy(
            F.col("p_rank").desc_nulls_first()
        ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
        adj = F.least(F.lit(1.0), F.min(q).over(w_cum))
    return (
        ranked.withColumn("p_adj", F.when(valid, adj))
        .withColumn(
            "reject",
            F.coalesce(F.col("p_adj") <= F.lit(float(alpha)), F.lit(False)),
        )
        .drop("__m", *(["__cm"] if method == "by" else []))
    )


def msprt_always_valid(
    units: DataFrame,
    arm_col: str = "arm",
    converted_col: str = "converted",
    control: str = "control",
    treatment: str = "treatment",
    tau: float = 0.1,
    alpha: float = 0.05,
) -> DataFrame:
    """Always-valid (peeking-safe) two-proportion readout via the
    mixture Sequential Probability Ratio Test (Johari, Koomen, Pekelis
    & Walsh 2017/2022 — the 'always-valid inference' construction
    behind continuous-monitoring A/B platforms): unlike the fixed-n
    z-test, the mSPRT p-value may be inspected after EVERY new unit
    without inflating the false-positive rate, because 1/Λ_n is a
    supermartingale under H0.

    Normal-mixture likelihood ratio over the effect estimate
    ``θ̂ = rate_t − rate_c`` with variance ``V = p̂(1−p̂)(1/n_c+1/n_t)``
    and a N(0, τ²) mixing prior on the effect::

        Λ = sqrt(V / (V + τ²)) · exp(θ̂²·τ² / (2·V·(V + τ²)))
        p_always_valid = min(1, 1/Λ),  reject ⇔ p <= alpha

    ``τ`` encodes the expected effect scale (0.1 ≈ ten-point lifts);
    mis-setting it costs power, never validity. One row:
    (n_control, x_control, n_treatment, x_treatment, abs_lift,
    lambda_stat, p_always_valid, reject).

    Determinism: the counters are exact longs; V, θ̂, Λ are one fixed
    IEEE tree; ``exp`` is implementation-defined at the last ulp, so
    Λ and p round to 9 dp (the md5-rate idiom — same treatment as
    ``normal_two_sided_p``). Degenerate inputs (empty arm, pooled rate
    0/1) yield NULL statistics and ``reject = false``, never an ANSI
    error. Scale shape: identical to ``two_proportion_ztest`` — one
    4-counter aggregate with map-side partials; the monitoring loop
    re-reads counters, never units (compose with
    ``streaming.incremental_agg_sink`` exactly like the SRM leg)."""
    is_c = F.col(arm_col) == control
    is_t = F.col(arm_col) == treatment
    conv = F.col(converted_col).cast("long")
    z0 = F.lit(0).cast("long")
    agg = units.agg(
        F.coalesce(F.sum(F.when(is_c, 1).otherwise(0)), z0).alias("n_control"),
        F.coalesce(F.sum(F.when(is_c, conv).otherwise(0)), z0).alias("x_control"),
        F.coalesce(F.sum(F.when(is_t, 1).otherwise(0)), z0).alias("n_treatment"),
        F.coalesce(F.sum(F.when(is_t, conv).otherwise(0)), z0).alias("x_treatment"),
    )
    n_c = F.col("n_control").cast("double")
    n_t = F.col("n_treatment").cast("double")
    x_c = F.col("x_control").cast("double")
    x_t = F.col("x_treatment").cast("double")
    theta = x_t / _pos(n_t) - x_c / _pos(n_c)
    p = (x_c + x_t) / _pos(n_c + n_t)
    v = p * (F.lit(1.0) - p) * (F.lit(1.0) / _pos(n_c) + F.lit(1.0) / _pos(n_t))
    t2 = F.lit(float(tau) * float(tau))
    lam = F.sqrt(v / (v + t2)) * F.exp(
        theta * theta * t2 / (F.lit(2.0) * v * (v + t2))
    )
    ok = (
        (F.col("n_control") > 0)
        & (F.col("n_treatment") > 0)
        & (p > 0)
        & (p < 1)
    )
    lam_r = F.round(F.when(ok, lam), 9)
    p_av = F.round(F.when(ok, F.least(F.lit(1.0), F.lit(1.0) / lam)), 9)
    return agg.select(
        "n_control",
        "x_control",
        "n_treatment",
        "x_treatment",
        F.when(ok, theta).alias("abs_lift"),
        lam_r.alias("lambda_stat"),
        p_av.alias("p_always_valid"),
        F.coalesce(p_av <= F.lit(float(alpha)), F.lit(False)).alias("reject"),
    )
