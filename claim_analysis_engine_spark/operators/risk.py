"""Risk scoring operators (SURVEY.md §2.9) — the reference's
RiskScoringEngine (core/analytics.py:58-388) re-expressed Spark-first.

Substrate: zero-filled monthly count series per (o_orderstatus,
o_orderpriority) — the TPC-H stand-in for the reference's per-(plant,
category, grade) claim series. Grade mapping: priority 1-URGENT/2-HIGH
plays the critical grades (reference CRITICAL_GRADES_SET,
core/analytics.py:56).

Design split:

* One per-series feature frame (``_features``, the "risk_features"
  artifact) derives every statistic the risk scores read: history
  mean/std/variance, zero ratio, the current and previous counts,
  Nelson rules 2/3, the EWMA, the seasonal decomposition, the plain
  and STL z-scores, the Poisson/NB tail p-value, the partial-month
  penalty and momentum. It is window/aggregate math over the series
  frame, so nothing needs Python.
* Each sub-score of the decision tree is a standalone relational
  operator with an exact DuckDB oracle, and each is a filter plus a
  select over that frame. The scoring formulas the sub-scores and the
  relational tree (risk_tree.py) share — control limit, warn band,
  rule-1 score, base score, grade bands, noise cap, tail score, safe
  zone — are the Column functions below, so each has one definition.
* The full interacting tree also runs per series via
  `groupBy(keys).applyInPandas` over `risk_engine.score_series`
  (rs_wrapper) — an independent implementation the relational tree is
  tested against, rows-only at the driver.

Determinism: the reference keys partial-month logic off datetime.now()
(core/analytics.py:69-82); here the as-of day is a fixed injected
constant (`AS_OF_DAY`) so every run and both engines agree.

Scale notes (100 TB): every op starts with ONE hash aggregate of the
fact table into per-(key, month) counts — map-side combine collapses
each input partition to ≤ |keys|×|months| rows before the exchange.
Everything after (spine join, windows, applyInPandas) runs on that
tiny aggregated frame, partitioned by series key. No global windows,
no collect, no Python in the per-row hot path.
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from claim_analysis_engine_spark import artifacts
from claim_analysis_engine_spark.registry import OpRegistry
from claim_analysis_engine_spark.tables import load, pinned_conf

REG = OpRegistry()

# injected as-of day-of-month for partial-month logic (see module doc)
AS_OF_DAY = 15

_CRIT = ("1-URGENT", "2-HIGH")
_CRIT_SQL = "priority IN ('1-URGENT', '2-HIGH')"

# Shared oracle substrate: zero-filled per-key monthly series + target
# month (mirrors _series/_target below; reference zero-fill semantics
# core/storage.py:567-571).
_SERIES_CTE = """
    WITH bounds AS (
      SELECT min(date_trunc('month', o_orderdate)) AS lo,
             max(date_trunc('month', o_orderdate)) AS hi
      FROM orders
    ),
    spine AS (
      SELECT CAST(unnest(generate_series(lo::TIMESTAMP, hi::TIMESTAMP,
                                         INTERVAL 1 MONTH)) AS DATE) AS month
      FROM bounds
    ),
    keys AS (
      SELECT DISTINCT o_orderstatus AS status, o_orderpriority AS priority
      FROM orders
    ),
    counts AS (
      SELECT o_orderstatus AS status, o_orderpriority AS priority,
             CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
             count(*) AS n
      FROM orders GROUP BY 1, 2, 3
    ),
    series AS (
      SELECT k.status, k.priority, s.month, coalesce(c.n, 0) AS n
      FROM keys k CROSS JOIN spine s
      LEFT JOIN counts c
        ON c.status = k.status AND c.priority = k.priority AND c.month = s.month
    ),
    tgt AS (SELECT max(month) AS target FROM counts)
"""


def _series(
    spark: SparkSession, sf_dir: str, orders: DataFrame | None = None
) -> DataFrame:
    """Zero-filled monthly series per (status, priority): one agg of the
    fact table, then a broadcast spine/keys grid left-joined back
    (same pattern as pivots.spine_zero). ``orders`` overrides the fact
    table — the incremental-refresh path scores a MERGED corpus
    (hub + upload batch) through the identical plan."""
    o = (orders if orders is not None else load(spark, sf_dir, "orders")).select(
        F.col("o_orderstatus").alias("status"),
        F.col("o_orderpriority").alias("priority"),
        F.trunc("o_orderdate", "month").alias("month"),
    )
    counts = o.groupBy("status", "priority", "month").agg(F.count(F.lit(1)).alias("n"))
    spine = (
        o.agg(F.min("month").alias("lo"), F.max("month").alias("hi"))
        .select(F.explode(F.sequence("lo", "hi", F.expr("interval 1 month"))).alias("month"))
    )
    grid = o.select("status", "priority").distinct().crossJoin(F.broadcast(spine))
    return grid.join(counts, ["status", "priority", "month"], "left").select(
        "status", "priority", "month", F.coalesce("n", F.lit(0)).alias("n")
    )


def _with_target(
    spark: SparkSession, sf_dir: str, orders: DataFrame | None = None
) -> DataFrame:
    """Series frame + target month (global max) as a broadcast 1-row
    join — never a collect, never a global window. The default
    substrate (``orders is None``) is the "series" artifact: built and
    localCheckpointed once per version of sf_dir, then shared by every
    risk, tree, alert and forecast consumer."""
    if orders is None:
        return artifacts.get_or_build(
            "series",
            spark,
            sf_dir,
            lambda: _target_join(spark, sf_dir).localCheckpoint(),
        )
    return _target_join(spark, sf_dir, orders)


def _target_join(
    spark: SparkSession, sf_dir: str, orders: DataFrame | None = None
) -> DataFrame:
    s = _series(spark, sf_dir, orders)
    tgt = (
        (orders if orders is not None else load(spark, sf_dir, "orders"))
        .agg(F.max(F.trunc("o_orderdate", "month")).alias("target"))
    )
    return s.crossJoin(F.broadcast(tgt))


def _features(
    spark: SparkSession, sf_dir: str, orders: DataFrame | None = None
) -> DataFrame:
    """One row per series with every statistic a risk score reads (see
    the module docstring). The default substrate is the "risk_features"
    artifact; ``orders`` builds the same frame over a substituted fact
    table from its own checkpoint of the series."""
    if orders is None:
        return artifacts.get_or_build(
            "risk_features",
            spark,
            sf_dir,
            lambda: _build_features(spark, _with_target(spark, sf_dir)),
        )
    return _build_features(spark, _with_target(spark, sf_dir, orders).localCheckpoint())


def _build_features(spark: SparkSession, base: DataFrame) -> DataFrame:
    key = ["status", "priority"]
    kp = W.partitionBy(*key)
    kw = kp.orderBy("month")
    hist_m = F.col("month") < F.col("target")
    hist_n = F.when(hist_m, F.col("n"))
    at = lambda off: F.max(  # noqa: E731
        F.when(F.col("month") == F.add_months(F.col("target"), off), F.col("n"))
    )
    # raw history aggregates: NULL where the history is too short, as
    # the sub-scores print them
    stats = base.groupBy(*key).agg(
        F.count(F.when(hist_m, 1)).alias("n_obs"),
        F.avg(hist_n).alias("mean_h"),
        F.stddev_samp(hist_n).alias("std_h"),
        F.var_samp(hist_n).alias("v"),
        F.avg(F.when(hist_m, (F.col("n") == 0).cast("double"))).alias("zero_ratio"),
        at(0).alias("x"),
        at(-1).alias("prev1"),
        at(-2).alias("prev2"),
        (F.lit(AS_OF_DAY) / F.dayofmonth(F.last_day(F.any_value("target")))).alias(
            "progress"
        ),
    )

    # Nelson rules on the FULL series (reference uses self.series):
    # rule 2, the last 9 months all above the history mean; rule 3, the
    # last 6 strictly rising. A month with no comparison (no history
    # mean, no previous month) counts as not satisfying the rule, as in
    # the numpy engine, which skips both rules on shorter series.
    def every(window: F.Column, cond: F.Column) -> F.Column:
        return F.min(F.when(window, F.when(cond, 1).otherwise(0))) == 1

    rules = (
        base.withColumn("r", F.row_number().over(kp.orderBy(F.col("month").desc())))
        .withColumn("diff", F.col("n") - F.lag("n").over(kw))
        .withColumn("mean_h", F.avg(hist_n).over(kp))
        .groupBy(*key)
        .agg(
            every(F.col("r") <= 9, F.col("n") > F.col("mean_h")).alias("rule2"),
            every(F.col("r") <= 5, F.col("diff") > 0).alias("rule3"),
        )
    )

    # EWMA, λ=0.2 adjust=False (reference core/analytics.py:281-283):
    # the recursion y_t = 0.8·y_{t-1} + 0.2·x_t has the closed form
    # Σ w_i·x_i with w_0 = 0.8^T, w_i = 0.2·0.8^(T-i)
    idxd = base.withColumn("idx", F.row_number().over(kw) - 1).withColumn(
        "t_max", F.count(F.lit(1)).over(kp) - 1
    )
    weight = F.pow(0.8, F.col("t_max") - F.col("idx")) * F.when(
        F.col("idx") == 0, 1.0
    ).otherwise(0.2)
    ewma = idxd.groupBy(*key).agg(F.sum(F.col("n") * weight).alias("ewma"))

    # Seasonal decomposition (reference core/analytics.py:144-167 calls
    # statsmodels seasonal_decompose(additive, period=12)): trend =
    # centered 13-point MA with half end-weights, seasonal = de-meaned
    # per-calendar-month averages of the detrended history, expected =
    # last trend + the target month's seasonal.
    hist = (
        base.where(hist_m)
        .withColumn("idx", F.row_number().over(kw) - 1)
        .withColumn("moy", F.month("month"))
    )
    trend = (
        F.sum("n").over(kw.rowsBetween(-5, 5))
        + 0.5 * F.lag("n", 6).over(kw)
        + 0.5 * F.lead("n", 6).over(kw)
    ) / 12.0
    detr = hist.withColumn("trend", trend).withColumn("d", F.col("n") - F.col("trend"))
    savg = detr.groupBy(*key, "moy").agg(F.avg("d").alias("savg"))
    smean = savg.groupBy(*key).agg(F.avg("savg").alias("grand"))
    seasonal = savg.join(smean, key).select(
        *key, "moy", (F.col("savg") - F.col("grand")).alias("seasonal")
    )
    resid = detr.join(seasonal, [*key, "moy"]).select(
        *key, "idx", "trend", (F.col("d") - F.col("seasonal")).alias("r")
    )
    stl_key = resid.groupBy(*key).agg(
        F.avg("r").alias("resid_mean"),
        F.stddev_samp("r").alias("resid_std"),
        F.expr("max_by(trend, CASE WHEN trend IS NOT NULL THEN idx END)").alias(
            "last_trend"
        ),
    )
    cur = (
        base.where(F.col("month") == F.col("target"))
        .groupBy(*key)
        .agg(F.max(F.month("month")).alias("tmoy"))
    )
    stl = (
        stl_key.join(cur, key)
        .join(seasonal.withColumnRenamed("moy", "tmoy"), [*key, "tmoy"])
        .select(
            *key,
            (F.col("last_trend") + F.col("seasonal")).alias("expected"),
            "resid_mean",
            "resid_std",
        )
    )

    # the tree's coalesced statistics (mu/sd/vr) beside the raw ones
    feat = (
        stats.join(rules, key)
        .join(ewma, key)
        .join(stl, key, "left")
        .withColumns(
            {
                "mu": F.coalesce("mean_h", F.lit(0.0)),
                "sd": F.coalesce("std_h", F.lit(0.0)),
                "vr": F.coalesce("v", F.lit(0.0)),
                "crit": F.col("priority").isin(*_CRIT),
                "use_nb": (F.col("n_obs") >= 6) & (F.col("v") > 1.2 * F.col("mean_h")),
            }
        )
    )
    used_stl = (F.col("n_obs") >= 24) & (F.col("sd") > 0) & F.col("expected").isNotNull()
    expected_cur = F.col("mu") * F.col("progress")
    partial_penalty = (
        F.when(F.col("x") <= 1, 0)
        .when(
            (F.col("x") >= F.col("mu")) & (F.col("mu") > 0) & (F.col("progress") < 0.7),
            30,
        )
        .when(
            (F.col("progress") >= 0.2)
            & (expected_cur > 0.5)
            & (F.col("x") > expected_cur * 4.0),
            40,
        )
        .when(
            (F.col("progress") >= 0.2)
            & (expected_cur > 0.5)
            & (F.col("x") > expected_cur * 2.5)
            & F.col("crit"),
            30,
        )
        .otherwise(0)
    )

    # Poisson / NB tail p-value (reference core/analytics.py:101-129):
    # overdispersed (var > 1.2·mean, n ≥ 6) → NB(r, p) with
    # p = mean/var, else Poisson(mean). The CDFs are exact series sums
    # folded with `F.aggregate` over a `sequence` — term recurrences
    # term_j = term_{j-1}·mu/j (Poisson) and
    # term_j = term_{j-1}·(j+r-1)/j·(1-p) (NB), the sums scipy
    # evaluates. x is a month-level count, so the sequence is short.
    k = (F.col("x") - 1).cast("int")

    def _cdf(term0: F.Column, ratio) -> F.Column:
        init = F.struct(term0.alias("cum"), term0.alias("term"))
        step = lambda acc, j: F.struct(  # noqa: E731
            (acc["cum"] + acc["term"] * ratio(j.cast("double"))).alias("cum"),
            (acc["term"] * ratio(j.cast("double"))).alias("term"),
        )
        return F.when(k < 0, F.lit(0.0)).otherwise(
            F.when(k == 0, term0).otherwise(
                F.aggregate(F.sequence(F.lit(1), k), init, step)["cum"]
            )
        )

    p_est = F.col("mu") / F.col("vr")
    r_est = (F.col("mu") * p_est) / (1 - p_est)
    pois_cdf = _cdf(F.exp(-F.col("mu")), lambda j: F.col("mu") / j)
    nb_cdf = _cdf(F.pow(p_est, r_est), lambda j: (j + r_est - 1) / j * (1 - p_est))
    p_val = F.when(F.col("mu") == 0, F.lit(None)).otherwise(
        F.when(F.col("use_nb"), 1.0 - nb_cdf).otherwise(1.0 - pois_cdf)
    )

    calc = feat.withColumns(
        {
            "sparse": _is_sparse(F.col("mu")),
            "z_plain": _z(F.col("mean_h"), F.col("std_h")),
            "z": F.when(used_stl, _stl_z()).otherwise(_z(F.col("mu"), F.col("sd"))),
            "used_stl": used_stl,
            "partial_penalty": partial_penalty,
            "momentum": (F.col("n_obs") >= 2) & _rising(),
            "p_val": p_val,
        }
    )
    # Checkpointed under a tiny-frame shuffle width (|keys|x|months|
    # rows; 32 scheduler rounds per join stage measured ~2 s of pure
    # task overhead at sf0.1 — the propagate_min_labels lesson).
    # Consumers then read the checkpointed rows through narrow projects
    # only. The checkpoint is also a CollapseProject barrier for the
    # tree: without it the tree's score/reason/band columns each
    # re-inline z, the tail folds and the penalty cases, and the
    # collapsed Project's generated code crosses the JVM's 64 KB method
    # limit (measured: the 2-doc alerts write took 5.5 s warm).
    with pinned_conf(spark, "spark.sql.shuffle.partitions", "8"):
        return calc.localCheckpoint()


# ------------------------------------------- scoring shared with the tree
# Column functions over _features columns, read by the sub-scores below
# and by the relational tree (risk_tree.py). Where the two differ they
# differ in the inputs they pass: the sub-scores print the raw, NULL-
# able statistics (mean_h, std_h, z_plain), the tree scores the
# coalesced ones (mu, sd, z).


def _is_sparse(mean: F.Column) -> F.Column:
    """Sparse regime: history mean < 1.0 or zero-month ratio > 0.5
    (reference core/analytics.py:96-99)."""
    return (mean < 1.0) | (F.col("zero_ratio") > 0.5)


def _z(mean: F.Column, sd: F.Column) -> F.Column:
    return (F.col("x") - mean) / (sd + 1e-6)


def _stl_z() -> F.Column:
    return ((F.col("x") - F.col("expected")) - F.col("resid_mean")) / (
        F.col("resid_std") + 1e-6
    )


def _rising() -> F.Column:
    """x(t) > x(t-1) > x(t-2) and x(t) ≥ 3 (reference
    core/analytics.py:131-142)."""
    return (
        (F.col("x") > F.col("prev1")) & (F.col("prev1") > F.col("prev2")) & (F.col("x") >= 3)
    )


def _sparse_method() -> F.Column:
    return F.when(F.col("mu") == 0, "희소유형 돌발 발생").otherwise("분포 이탈")


def _tail_score() -> F.Column:
    """clip(-log10(p) · 25, 0, 100); a first breakout (mean = 0) with a
    count scores 100."""
    return (
        F.when(F.col("mu") == 0, F.when(F.col("x") > 0, 100.0).otherwise(0.0))
        .when(F.col("p_val") < 1e-5, 100.0)
        .otherwise(
            F.least(F.lit(100.0), F.greatest(F.lit(0.0), -F.log10("p_val") * 25))
        )
    )


def _cv(mean: F.Column, sd: F.Column) -> F.Column:
    return F.when(mean > 0, sd / mean).otherwise(0.0)


def _limit_z(cv: F.Column, mean: F.Column) -> F.Column:
    """CV-adaptive control limit (reference core/analytics.py:169-190)."""
    return (
        F.when((cv < 0.1) & (mean > 1.0), 2.0)
        .when(cv > 0.5, 3.5)
        .otherwise(F.when(F.col("crit"), 2.5).otherwise(3.0))
    )


def _warn_z(limit: F.Column) -> F.Column:
    return F.greatest(F.lit(1.5), limit - 1.0)


def _rule1_score(z: F.Column, limit: F.Column) -> F.Column:
    """Rule 1: |z| beyond the limit +30, in the warn band +15."""
    return (
        F.when(F.abs(z) > limit, 30.0).when(F.abs(z) > _warn_z(limit), 15.0).otherwise(0.0)
    )


def _rule_points(rule: str) -> F.Column:
    """+20 for a fired pattern rule (rule2 / rule3)."""
    return F.when(F.col(rule), 20.0).otherwise(0.0)


def _ewma_z(mean: F.Column, sd: F.Column) -> F.Column:
    return (F.col("ewma") - mean) / (sd * math.sqrt(0.2 / 1.8) + 1e-6)


def _ewma_score(z_ewma: F.Column) -> F.Column:
    return F.when(F.abs(z_ewma) > 3.0, 15.0).otherwise(0.0)


def _base_score(z: F.Column) -> F.Column:
    """Grade-aware start sigma: 0.5 for critical grades, else 1.0."""
    start_sigma = F.when(F.col("crit"), 0.5).otherwise(1.0)
    return F.least(F.lit(50.0), F.greatest(F.lit(0.0), (z - start_sigma) * 25.0))


def _crit_bonus(total: F.Column) -> F.Column:
    """+10 on any positive critical-grade score, capped at 100."""
    return F.least(
        F.lit(100.0), total + F.when(F.col("crit") & (total > 0), 10.0).otherwise(0.0)
    )


def _band(total: F.Column) -> F.Column:
    """Red/yellow thresholds 75/50 for critical grades, 85/60 else."""
    thr_red = F.when(F.col("crit"), 75).otherwise(85)
    thr_yel = F.when(F.col("crit"), 50).otherwise(60)
    return F.when(total >= thr_red, "🔴").when(total >= thr_yel, "🟡").otherwise("⚪")


def _noise_cap(first: F.Column, rare: F.Column) -> F.Column:
    """Single-count cap: a first occurrence / rare breakout caps general
    grades at 59, any other single count caps at 30. NULL = no cap."""
    none = F.lit(None).cast("int")
    return (
        F.when(F.col("x") != 1, none)
        .when(first | rare, F.when(F.col("crit"), none).otherwise(59))
        .otherwise(30)
    )


def _safe_zone(z: F.Column, pattern: F.Column) -> F.Column:
    """Dense-regime safe zone: count < 3, z < 0.8 and no pattern rule
    fired (reference core/analytics.py:304-319)."""
    return (F.col("x") < 3) & (z < 0.8) & ~pattern


# ------------------------------------------------------------- rs_regime

@REG.op(
    "rs_regime",
    oracle=_SERIES_CTE
    + """
    SELECT status, priority, count(*) AS n_obs,
           round(avg(n), 6) AS mean_hist,
           round(avg(CASE WHEN n = 0 THEN 1.0 ELSE 0.0 END), 6) AS zero_ratio,
           (avg(n) < 1.0 OR avg(CASE WHEN n = 0 THEN 1.0 ELSE 0.0 END) > 0.5)
             AS is_sparse
    FROM series, tgt WHERE month < target
    GROUP BY 1, 2
    """,
)
def rs_regime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse/dense regime split: sparse if history mean < 1.0 or
    zero-month ratio > 0.5 (reference core/analytics.py:96-99)."""
    return (
        _features(spark, sf_dir)
        .where(F.col("n_obs") > 0)
        .select(
            "status",
            "priority",
            "n_obs",
            F.round("mean_h", 6).alias("mean_hist"),
            F.round("zero_ratio", 6).alias("zero_ratio"),
            _is_sparse(F.col("mean_h")).alias("is_sparse"),
        )
    )


# ----------------------------------------------------------- rs_momentum

@REG.op(
    "rs_momentum",
    oracle=_SERIES_CTE
    + """
    SELECT status, priority,
           max(CASE WHEN month = target THEN n END) AS x_t,
           max(CASE WHEN month = target - INTERVAL 1 MONTH THEN n END) AS x_t1,
           max(CASE WHEN month = target - INTERVAL 2 MONTH THEN n END) AS x_t2,
           CASE WHEN max(CASE WHEN month = target THEN n END)
                     > max(CASE WHEN month = target - INTERVAL 1 MONTH THEN n END)
                 AND max(CASE WHEN month = target - INTERVAL 1 MONTH THEN n END)
                     > max(CASE WHEN month = target - INTERVAL 2 MONTH THEN n END)
                 AND max(CASE WHEN month = target THEN n END) >= 3
                THEN 15 ELSE 0 END AS momentum_score
    FROM series, tgt
    GROUP BY 1, 2
    """,
)
def rs_momentum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-month strict-rise momentum: x(t) > x(t-1) > x(t-2) and
    x(t) ≥ 3 → +15 (reference core/analytics.py:131-142)."""
    return _features(spark, sf_dir).select(
        "status",
        "priority",
        F.col("x").alias("x_t"),
        F.col("prev1").alias("x_t1"),
        F.col("prev2").alias("x_t2"),
        F.when(F.col("momentum"), 15).otherwise(0).alias("momentum_score"),
    )


# --------------------------------------------------------------- rs_ewma

@REG.op(
    "rs_ewma",
    oracle=_SERIES_CTE
    + """
    , idxed AS (
      SELECT status, priority, n,
             row_number() OVER (PARTITION BY status, priority ORDER BY month) - 1
               AS idx,
             count(*) OVER (PARTITION BY status, priority) - 1 AS t_max
      FROM series
    ),
    agg AS (
      SELECT status, priority,
             sum(n * CASE WHEN idx = 0 THEN pow(0.8, t_max)
                          ELSE 0.2 * pow(0.8, t_max - idx) END) AS ewma,
             avg(CASE WHEN idx < t_max THEN n END) AS mean_h,
             stddev_samp(CASE WHEN idx < t_max THEN n END) AS std_h
      FROM idxed GROUP BY 1, 2
    )
    SELECT status, priority, round(ewma, 6) AS ewma,
           round((ewma - mean_h) / (std_h * sqrt(0.2 / 1.8) + 1e-6), 6) AS z_ewma,
           CASE WHEN abs((ewma - mean_h) / (std_h * sqrt(0.2 / 1.8) + 1e-6)) > 3.0
                THEN 15.0 ELSE 0.0 END AS ewma_score
    FROM agg
    """,
)
def rs_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA control chart, λ=0.2 adjust=False (reference
    core/analytics.py:281-283), standardized against the history mean
    and std (the closed-form EWMA is built in _features)."""
    z = _ewma_z(F.col("mean_h"), F.col("std_h"))
    return _features(spark, sf_dir).select(
        "status",
        "priority",
        F.round("ewma", 6).alias("ewma"),
        F.round(z, 6).alias("z_ewma"),
        _ewma_score(z).alias("ewma_score"),
    )


# -------------------------------------------------------- rs_sparse_tail

@REG.op(
    "rs_sparse_tail",
    oracle=_SERIES_CTE
    + """
    , stats AS (
      SELECT s.status, s.priority,
             count(*) FILTER (month < target) AS n_obs,
             avg(n) FILTER (month < target) AS mu,
             var_samp(n) FILTER (month < target) AS v,
             avg(CASE WHEN n = 0 AND month < target THEN 1.0
                      WHEN month < target THEN 0.0 END) AS zero_ratio,
             max(CASE WHEN month = target THEN n END) AS x
      FROM series s, tgt GROUP BY 1, 2
    ),
    branch AS (
      SELECT *, (n_obs >= 6 AND v > 1.2 * mu) AS use_nb,
             mu / v AS p_est, (mu * mu / v) / (1 - mu / v) AS r_est
      FROM stats
      WHERE (mu < 1.0 OR zero_ratio > 0.5) AND x > 0
    ),
    pval AS (
      SELECT status, priority, x, n_obs, use_nb,
        CASE WHEN mu = 0 THEN 0.0
             WHEN use_nb THEN 1.0 - coalesce(list_sum(list_transform(
                    generate_series(0, CAST(x AS INT) - 1),
                    j -> exp(lgamma(j + r_est) - lgamma(r_est) - lgamma(j + 1)
                             + r_est * ln(p_est) + j * ln(1 - p_est)))), 0.0)
             ELSE 1.0 - coalesce(list_sum(list_transform(
                    generate_series(0, CAST(x AS INT) - 1),
                    j -> exp(-mu + CASE WHEN j = 0 THEN 0.0 ELSE j * ln(mu) END
                             - lgamma(j + 1)))), 0.0)
        END AS p_val,
        (mu = 0) AS first_breakout
      FROM branch
    )
    SELECT status, priority, x, n_obs, use_nb,
           CASE WHEN first_breakout THEN '희소유형 돌발 발생' ELSE '분포 이탈' END
             AS method,
           round(CASE WHEN first_breakout THEN 100.0
                      WHEN p_val < 1e-5 THEN 100.0
                      ELSE least(100.0, greatest(0.0, -log10(p_val) * 25)) END, 4)
             AS tail_score
    FROM pval
    """,
)
def rs_sparse_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson / negative-binomial tail p-value score for sparse series
    with a current count (reference core/analytics.py:101-129):
    score = clip(-log10(1 - cdf(x-1)) · 25, 0, 100), breakout
    (mean = 0) → 100. The p-value is built in _features."""
    return (
        _features(spark, sf_dir)
        .where(_is_sparse(F.col("mean_h")) & (F.col("x") > 0))
        .select(
            "status",
            "priority",
            "x",
            "n_obs",
            "use_nb",
            _sparse_method().alias("method"),
            F.round(_tail_score(), 4).alias("tail_score"),
        )
    )


# -------------------------------------------------------------- rs_stl_z

@REG.op(
    "rs_stl_z",
    oracle=_SERIES_CTE
    + """
    , hist AS (
      SELECT s.status, s.priority, s.month, s.n,
             row_number() OVER (PARTITION BY s.status, s.priority
                                ORDER BY s.month) - 1 AS idx,
             date_part('month', s.month) AS moy
      FROM series s, tgt WHERE s.month < target
    ),
    trended AS (
      SELECT *,
             (sum(n) OVER (PARTITION BY status, priority ORDER BY month
                           ROWS BETWEEN 5 PRECEDING AND 5 FOLLOWING)
              + 0.5 * lag(n, 6) OVER (PARTITION BY status, priority ORDER BY month)
              + 0.5 * lead(n, 6) OVER (PARTITION BY status, priority ORDER BY month)
             ) / 12.0 AS trend
      FROM hist
    ),
    detr AS (SELECT *, n - trend AS d FROM trended),
    savg AS (
      SELECT status, priority, moy, avg(d) AS savg
      FROM detr GROUP BY 1, 2, 3
    ),
    smean AS (
      SELECT status, priority, avg(savg) AS grand FROM savg GROUP BY 1, 2
    ),
    seasonal AS (
      SELECT s.status, s.priority, s.moy, s.savg - m.grand AS seasonal
      FROM savg s JOIN smean m USING (status, priority)
    ),
    resid AS (
      SELECT d.status, d.priority, d.idx, d.trend, d.d - s.seasonal AS r
      FROM detr d JOIN seasonal s
        ON s.status = d.status AND s.priority = d.priority AND s.moy = d.moy
    ),
    per_key AS (
      SELECT status, priority,
             avg(r) AS resid_mean, stddev_samp(r) AS resid_std,
             arg_max(trend, CASE WHEN trend IS NOT NULL THEN idx END) AS last_trend
      FROM resid GROUP BY 1, 2
    ),
    cur AS (
      SELECT s.status, s.priority, max(s.n) AS x,
             max(date_part('month', s.month)) AS tmoy
      FROM series s, tgt WHERE s.month = target GROUP BY 1, 2
    )
    SELECT p.status, p.priority,
           round(p.last_trend + se.seasonal, 5) AS expected,
           round(((c.x - (p.last_trend + se.seasonal)) - p.resid_mean)
                 / (p.resid_std + 1e-6), 5) AS z_stl
    FROM per_key p
    JOIN cur c ON c.status = p.status AND c.priority = p.priority
    JOIN seasonal se
      ON se.status = p.status AND se.priority = p.priority AND se.moy = c.tmoy
    """,
)
def rs_stl_z(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-decomposition z-score (reference core/analytics.py:144-167):
    the standardized current residual against expected = last trend +
    target-month seasonal (the decomposition is built in _features).
    A series has a seasonal value for the target's calendar month once
    its history covers 12 months."""
    return (
        _features(spark, sf_dir)
        .where(F.col("n_obs") >= 12)
        .select(
            "status",
            "priority",
            F.round("expected", 5).alias("expected"),
            F.round(_stl_z(), 5).alias("z_stl"),
        )
    )


# ------------------------------------------------------------- rs_nelson

@REG.op(
    "rs_nelson",
    oracle=_SERIES_CTE
    + """
    , enriched AS (
      SELECT s.status, s.priority, s.month, s.n, t.target,
             row_number() OVER (PARTITION BY s.status, s.priority
                                ORDER BY s.month DESC) AS r,
             n - lag(n) OVER (PARTITION BY s.status, s.priority
                              ORDER BY s.month) AS diff,
             avg(CASE WHEN s.month < t.target THEN n END)
               OVER (PARTITION BY s.status, s.priority) AS mean_h,
             stddev_samp(CASE WHEN s.month < t.target THEN n END)
               OVER (PARTITION BY s.status, s.priority) AS std_h
      FROM series s, tgt t
    ),
    agg AS (
      SELECT status, priority, any_value(mean_h) AS mean_h,
             any_value(std_h) AS std_h,
             max(CASE WHEN month = target THEN n END) AS x,
             min(CASE WHEN r <= 9 THEN CASE WHEN n > mean_h THEN 1 ELSE 0 END END)
               = 1 AS rule2,
             min(CASE WHEN r <= 5 THEN CASE WHEN diff > 0 THEN 1 ELSE 0 END END)
               = 1 AS rule3
      FROM enriched GROUP BY 1, 2
    ),
    cved AS (
      SELECT *,
             (x - mean_h) / (std_h + 1e-6) AS z,
             CASE WHEN mean_h > 0 THEN std_h / mean_h ELSE 0 END AS cv
      FROM agg
    ),
    lim AS (
      SELECT *,
             CASE WHEN cv < 0.1 AND mean_h > 1.0 THEN 2.0
                  WHEN cv > 0.5 THEN 3.5
                  ELSE CASE WHEN """ + _CRIT_SQL + """ THEN 2.5 ELSE 3.0 END
             END AS limit_z
      FROM cved
    )
    SELECT status, priority, round(z, 5) AS z, round(cv, 5) AS cv,
           limit_z, greatest(1.5, limit_z - 1.0) AS warn_z,
           CASE WHEN abs(z) > limit_z THEN 30.0
                WHEN abs(z) > greatest(1.5, limit_z - 1.0) THEN 15.0
                ELSE 0.0 END
             + CASE WHEN rule2 THEN 20 ELSE 0 END
             + CASE WHEN rule3 THEN 20 ELSE 0 END AS nelson_score,
           rule2, rule3
    FROM lim
    """,
)
def rs_nelson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson-rule pattern checks with CV-adaptive control limit
    (reference core/analytics.py:169-212): Rule 1 |z| beyond the
    adaptive limit (+30, half in the warn band), Rule 2 last 9 months
    all above the mean (+20), Rule 3 last 6 strictly rising (+20).
    z here is the plain standardized score; the tree composes the
    STL variant. Rules scan the FULL series including the current month
    (reference uses self.series)."""
    z = F.col("z_plain")
    cv = _cv(F.col("mean_h"), F.col("std_h"))
    limit_z = _limit_z(cv, F.col("mean_h"))
    score = _rule1_score(z, limit_z) + _rule_points("rule2") + _rule_points("rule3")
    return _features(spark, sf_dir).select(
        "status",
        "priority",
        F.round(z, 5).alias("z"),
        F.round(cv, 5).alias("cv"),
        limit_z.alias("limit_z"),
        _warn_z(limit_z).alias("warn_z"),
        score.alias("nelson_score"),
        "rule2",
        "rule3",
    )


# ------------------------------------------------------------ rs_partial

@REG.op(
    "rs_partial",
    oracle=_SERIES_CTE
    + f"""
    , stats AS (
      SELECT s.status, s.priority,
             avg(n) FILTER (month < target) AS mean_h,
             max(CASE WHEN month = target THEN n END) AS x,
             {AS_OF_DAY} * 1.0
               / date_part('day', last_day(any_value(target))) AS progress
      FROM series s, tgt GROUP BY 1, 2
    )
    SELECT status, priority, x, round(mean_h, 6) AS mean_h,
           round(progress, 6) AS progress,
           CASE
             WHEN x <= 1 THEN 0
             WHEN x >= mean_h AND mean_h > 0 AND progress < 0.7 THEN 30
             WHEN progress >= 0.2 AND mean_h * progress > 0.5
                  AND x > mean_h * progress * 4.0 THEN 40
             WHEN progress >= 0.2 AND mean_h * progress > 0.5
                  AND x > mean_h * progress * 2.5
                  AND {_CRIT_SQL} THEN 30
             ELSE 0
           END AS partial_penalty
    FROM stats
    """,
)
def rs_partial(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial-month velocity guards (reference core/analytics.py:64-82,
    219-240): early-excess +30 when the month already matches the mean
    before 70% progress; velocity surge +40 beyond 4× the progress-
    scaled expectation (guarded to ≥20% progress); critical-grade warn
    +30 beyond 2.5×. The as-of day is the injected AS_OF_DAY constant,
    never datetime.now()."""
    return _features(spark, sf_dir).select(
        "status",
        "priority",
        "x",
        F.round("mean_h", 6).alias("mean_h"),
        F.round("progress", 6).alias("progress"),
        "partial_penalty",
    )


# --------------------------------------------------------- rs_cold_start

@REG.op(
    "rs_cold_start",
    oracle=_SERIES_CTE
    + f"""
    , short AS (
      SELECT s.status, s.priority,
             count(*) FILTER (month < target) AS n_obs,
             max(CASE WHEN month = target THEN n END) AS x
      FROM series s, tgt
      WHERE month >= target - INTERVAL 2 MONTH
      GROUP BY 1, 2
    )
    SELECT status, priority, n_obs, x,
           CASE WHEN {_CRIT_SQL} THEN
                  CASE WHEN x >= 2 THEN 100 ELSE NULL END
                ELSE CASE WHEN x >= 3 THEN 50 ELSE 0 END
           END AS score,
           CASE WHEN {_CRIT_SQL} THEN
                  CASE WHEN x >= 2 THEN '🔴' ELSE 'fallthrough' END
                ELSE CASE WHEN x >= 3 THEN '🟡' ELSE '⚪' END
           END AS risk_status
    FROM short
    """,
)
def rs_cold_start(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-scarcity rules on a truncated (< 3-month history) series
    (reference core/analytics.py:247-257). Replicates the reference
    quirk that a critical-grade series with x < 2 falls THROUGH to
    regular scoring instead of returning — surfaced as 'fallthrough'.
    On the contiguous spine, min(n_obs, 2) is the number of months in
    [target-2, target)."""
    crit = F.col("crit")
    score = F.when(
        crit, F.when(F.col("x") >= 2, 100).otherwise(F.lit(None).cast("int"))
    ).otherwise(F.when(F.col("x") >= 3, 50).otherwise(0))
    status = F.when(
        crit, F.when(F.col("x") >= 2, "🔴").otherwise("fallthrough")
    ).otherwise(F.when(F.col("x") >= 3, "🟡").otherwise("⚪"))
    return _features(spark, sf_dir).select(
        "status",
        "priority",
        F.least("n_obs", F.lit(2)).alias("n_obs"),
        "x",
        score.alias("score"),
        status.alias("risk_status"),
    )


# ---------------------------------------------------------- rs_safe_zone

@REG.op(
    "rs_safe_zone",
    oracle=_SERIES_CTE
    + """
    , enriched AS (
      SELECT s.status, s.priority, s.month, s.n, t.target,
             row_number() OVER (PARTITION BY s.status, s.priority
                                ORDER BY s.month DESC) AS r,
             n - lag(n) OVER (PARTITION BY s.status, s.priority
                              ORDER BY s.month) AS diff,
             avg(CASE WHEN s.month < t.target THEN n END)
               OVER (PARTITION BY s.status, s.priority) AS mean_h,
             stddev_samp(CASE WHEN s.month < t.target THEN n END)
               OVER (PARTITION BY s.status, s.priority) AS std_h,
             avg(CASE WHEN s.month < t.target AND n = 0 THEN 1.0
                      WHEN s.month < t.target THEN 0.0 END)
               OVER (PARTITION BY s.status, s.priority) AS zero_ratio
      FROM series s, tgt t
    ),
    agg AS (
      SELECT status, priority, any_value(mean_h) AS mean_h,
             any_value(std_h) AS std_h, any_value(zero_ratio) AS zero_ratio,
             max(CASE WHEN month = target THEN n END) AS x,
             max(CASE WHEN month = target - INTERVAL 1 MONTH THEN n END) AS x1,
             max(CASE WHEN month = target - INTERVAL 2 MONTH THEN n END) AS x2,
             min(CASE WHEN r <= 9 THEN CASE WHEN n > mean_h THEN 1 ELSE 0 END END)
               = 1 AS rule2,
             min(CASE WHEN r <= 5 THEN CASE WHEN diff > 0 THEN 1 ELSE 0 END END)
               = 1 AS rule3
      FROM enriched GROUP BY 1, 2
    )
    SELECT status, priority, x,
           round((x - mean_h) / (std_h + 1e-6), 5) AS z,
           (rule2 OR rule3 OR (x > x1 AND x1 > x2 AND x >= 3)) AS has_pattern,
           (x < 3 AND (x - mean_h) / (std_h + 1e-6) < 0.8
            AND NOT (rule2 OR rule3 OR (x > x1 AND x1 > x2 AND x >= 3)))
             AS is_safe
    FROM agg
    WHERE NOT (mean_h < 1.0 OR zero_ratio > 0.5)
    """,
)
def rs_safe_zone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional safe zone, dense regime only (reference
    core/analytics.py:304-319): score forced to 0 when the current
    count is < 3, z < 0.8, and no pattern rule (bias/trend/momentum)
    fired. Rule-1 warn-band hits don't block the safe zone (they are
    score-only, never appended to the trigger list)."""
    has_pattern = F.col("rule2") | F.col("rule3") | _rising()
    return (
        _features(spark, sf_dir)
        .where(~_is_sparse(F.col("mean_h")))
        .select(
            "status",
            "priority",
            "x",
            F.round("z_plain", 5).alias("z"),
            has_pattern.alias("has_pattern"),
            _safe_zone(F.col("z_plain"), has_pattern).alias("is_safe"),
        )
    )


# ---------------------------------------------------------- rs_noise_cap

@REG.op(
    "rs_noise_cap",
    oracle=_SERIES_CTE
    + f"""
    , stats AS (
      SELECT s.status, s.priority,
             avg(n) FILTER (month < target) AS mean_h,
             avg(CASE WHEN n = 0 AND month < target THEN 1.0
                      WHEN month < target THEN 0.0 END) AS zero_ratio,
             max(CASE WHEN month = target THEN n END) AS x,
             max(CASE WHEN month = target - INTERVAL 1 MONTH THEN n END) AS prev
      FROM series s, tgt GROUP BY 1, 2
    )
    SELECT status, priority, x,
           (mean_h = 0) AS first_occurrence,
           ((mean_h < 1.0 OR zero_ratio > 0.5) AND prev = 0) AS rare_breakout,
           CASE WHEN x <> 1 THEN NULL
                WHEN (mean_h = 0) OR ((mean_h < 1.0 OR zero_ratio > 0.5) AND prev = 0)
                THEN CASE WHEN {_CRIT_SQL} THEN NULL ELSE 59 END
                ELSE 30
           END AS score_cap
    FROM stats
    """,
)
def rs_noise_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-count suppression (reference core/analytics.py:321-333):
    when exactly 1 occurred, a first occurrence / rare breakout caps the
    score at 59 for general grades (threshold_yellow_general − 1;
    critical grades keep full score), any other single count caps at
    30. NULL cap = no cap applies."""
    first = F.col("mean_h") == 0
    rare = _is_sparse(F.col("mean_h")) & (F.col("prev1") == 0)
    return _features(spark, sf_dir).select(
        "status",
        "priority",
        "x",
        first.alias("first_occurrence"),
        rare.alias("rare_breakout"),
        _noise_cap(first, rare).alias("score_cap"),
    )


# --------------------------------------------------- rs_grade_thresholds

@REG.op(
    "rs_grade_thresholds",
    oracle=_SERIES_CTE
    + f"""
    , stats AS (
      SELECT s.status, s.priority,
             avg(n) FILTER (month < target) AS mean_h,
             stddev_samp(n) FILTER (month < target) AS std_h,
             max(CASE WHEN month = target THEN n END) AS x
      FROM series s, tgt GROUP BY 1, 2
    ),
    scored AS (
      SELECT *, (x - mean_h) / (std_h + 1e-6) AS z,
             CASE WHEN {_CRIT_SQL} THEN 0.5 ELSE 1.0 END AS start_sigma,
             ({_CRIT_SQL}) AS crit
      FROM stats
    ),
    banded AS (
      SELECT status, priority, crit,
             least(100.0,
               least(50.0, greatest(0.0, (z - start_sigma) * 25.0))
               + CASE WHEN crit
                       AND least(50.0, greatest(0.0, (z - start_sigma) * 25.0)) > 0
                      THEN 10 ELSE 0 END) AS total
      FROM scored
    )
    SELECT status, priority,
           CAST(floor(total) AS INT) AS score,
           CASE WHEN total >= CASE WHEN crit THEN 75 ELSE 85 END THEN '🔴'
                WHEN total >= CASE WHEN crit THEN 50 ELSE 60 END THEN '🟡'
                ELSE '⚪' END AS risk_status
    FROM banded
    """,
)
def rs_grade_thresholds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grade-aware banding (reference core/analytics.py:34-50,273-302,
    372-380): critical grades get a lower start-sigma (0.5 vs 1.0), a
    +10 bonus on any positive score, and lower red/yellow thresholds
    (75/50 vs 85/60). Applied here to the base z-score component."""
    total = _crit_bonus(_base_score(F.col("z_plain")))
    return _features(spark, sf_dir).select(
        "status",
        "priority",
        F.floor(total).cast("int").alias("score"),
        _band(total).alias("risk_status"),
    )


# ----------------------------------------------------- f_month_end_pred

@REG.op(
    "f_month_end_pred",
    oracle=_SERIES_CTE
    + f"""
    , feat AS (
      SELECT s.status, s.priority,
             max(CASE WHEN month = target THEN n END) AS x_cur,
             max(CASE WHEN month = target - INTERVAL 12 MONTH THEN n END) AS yoy_last,
             max(CASE WHEN month = target - INTERVAL 24 MONTH THEN n END) AS yoy_before,
             regr_slope(CASE WHEN date_part('year', month)
                                 = date_part('year', target) - 1 THEN n END,
                        CASE WHEN date_part('year', month)
                                 = date_part('year', target) - 1
                             THEN date_part('month', month) - 1 END) AS slope_yoy,
             max(CASE WHEN month = target - INTERVAL 1 MONTH THEN n END)
               - max(CASE WHEN month = target - INTERVAL 2 MONTH THEN n END)
               AS slope_recent,
             {AS_OF_DAY} AS days_passed,
             date_part('day', last_day(any_value(target))) AS dim
      FROM series s, tgt GROUP BY 1, 2
    ),
    preds AS (
      SELECT *,
             x_cur * 1.0 / days_passed * dim AS pred_baseline,
             yoy_last + CASE WHEN abs(slope_yoy) > 0.001
                             THEN slope_yoy * (days_passed * 1.0 / dim)
                             ELSE 0 END AS pred_yoy,
             yoy_before + CASE WHEN abs(slope_recent) > 0.001
                               THEN slope_recent * (days_passed * 1.0 / dim)
                               ELSE 0 END AS pred_2y,
             (CASE WHEN x_cur > 0 THEN 1 ELSE 0 END
              + CASE WHEN yoy_last > 0 THEN 1 ELSE 0 END
              + CASE WHEN yoy_before > 0 THEN 1 ELSE 0 END) AS valid_years
      FROM feat
    )
    SELECT status, priority,
           round(greatest(0.0,
             CASE WHEN valid_years >= 2
                  THEN 0.4 * pred_baseline + 0.4 * pred_yoy + 0.2 * pred_2y
                  ELSE 0.7 * pred_baseline + 0.2 * pred_yoy + 0.1 * pred_2y
             END), 4) AS predicted,
           CASE WHEN yoy_last > 0 AND yoy_before > 0
                     AND (abs(slope_yoy) > 0.001 OR abs(slope_recent) > 0.001)
                THEN '높음'
                WHEN yoy_last > 0 OR (yoy_before > 0
                     AND (abs(slope_yoy) > 0.001 OR abs(slope_recent) > 0.001))
                THEN '중간'
                ELSE '낮음' END AS confidence
    FROM preds
    """,
)
def f_month_end_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-end blended forecast (reference app.py:156-248): weighted
    blend of run-rate extrapolation, YoY level + last-year trend slope,
    and 2-years-ago level + recent-2-month slope; weights (0.4,0.4,0.2)
    when ≥2 of the YoY values are positive else (0.7,0.2,0.1); Korean
    confidence label from data availability. Slopes via the built-in
    regr_slope aggregate (np.polyfit degree-1 equivalence)."""
    tcol = F.col("target")
    last_year = F.year("month") == (F.year(tcol) - 1)
    feat = (
        _with_target(spark, sf_dir)
        .groupBy("status", "priority")
        .agg(
            F.max(F.when(F.col("month") == tcol, F.col("n"))).alias("x_cur"),
            F.max(F.when(F.col("month") == F.add_months(tcol, -12), F.col("n"))).alias(
                "yoy_last"
            ),
            F.max(F.when(F.col("month") == F.add_months(tcol, -24), F.col("n"))).alias(
                "yoy_before"
            ),
            F.regr_slope(
                F.when(last_year, F.col("n")).cast("double"),
                F.when(last_year, F.month("month") - 1).cast("double"),
            ).alias("slope_yoy"),
            (
                F.max(F.when(F.col("month") == F.add_months(tcol, -1), F.col("n")))
                - F.max(F.when(F.col("month") == F.add_months(tcol, -2), F.col("n")))
            ).alias("slope_recent"),
            F.dayofmonth(F.last_day(F.any_value("target"))).alias("dim"),
        )
    )
    days_passed = F.lit(AS_OF_DAY)
    frac = days_passed / F.col("dim")
    pred_baseline = F.col("x_cur") / days_passed * F.col("dim")
    pred_yoy = F.col("yoy_last") + F.when(
        F.abs(F.col("slope_yoy")) > 0.001, F.col("slope_yoy") * frac
    ).otherwise(0.0)
    pred_2y = F.col("yoy_before") + F.when(
        F.abs(F.col("slope_recent")) > 0.001, F.col("slope_recent") * frac
    ).otherwise(0.0)
    valid_years = (
        (F.col("x_cur") > 0).cast("int")
        + (F.col("yoy_last") > 0).cast("int")
        + (F.col("yoy_before") > 0).cast("int")
    )
    blended = F.when(
        valid_years >= 2, 0.4 * pred_baseline + 0.4 * pred_yoy + 0.2 * pred_2y
    ).otherwise(0.7 * pred_baseline + 0.2 * pred_yoy + 0.1 * pred_2y)
    has_trend = (F.abs(F.col("slope_yoy")) > 0.001) | (
        F.abs(F.col("slope_recent")) > 0.001
    )
    confidence = (
        F.when((F.col("yoy_last") > 0) & (F.col("yoy_before") > 0) & has_trend, "높음")
        .when((F.col("yoy_last") > 0) | ((F.col("yoy_before") > 0) & has_trend), "중간")
        .otherwise("낮음")
    )
    return feat.select(
        "status",
        "priority",
        F.round(F.greatest(F.lit(0.0), blended), 4).alias("predicted"),
        confidence.alias("confidence"),
    )


# ------------------------------------------------------------ rs_wrapper

_WRAPPER_SCHEMA = (
    "status string, priority string, grade string, "
    "risk_status string, score int, reason string"
)


@REG.op("rs_wrapper")  # full decision tree — not ANSI-SQL-expressible
def rs_wrapper(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series entry point: the COMPLETE interacting decision tree
    (reference core/analytics.py:214-426) over every series via
    `groupBy(keys).applyInPandas(risk_engine.score_series)`.

    Scale shape: the Python stage consumes the post-aggregation series
    frame (|keys| × |months| rows), already shuffled by series key —
    at 100 TB the fact table collapses in the JVM monthly-count
    aggregate first; Arrow moves only the tiny series matrix."""
    from claim_analysis_engine_spark.risk_engine import score_series

    s = _with_target(spark, sf_dir)

    def score_group(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("month")
        target = pdf["target"].iloc[0]
        grade = "중대" if pdf["priority"].iloc[0] in _CRIT else "일반"
        sub = pdf[pdf["month"] <= target]
        import calendar

        dim = calendar.monthrange(target.year, target.month)[1]
        r = score_series(
            sub["n"].to_numpy(),
            sub["month"].map(lambda d: d.month).to_numpy(),
            grade=grade,
            progress_ratio=AS_OF_DAY / dim,
            is_partial_month=True,
        )
        return pd.DataFrame(
            [
                {
                    "status": pdf["status"].iloc[0],
                    "priority": pdf["priority"].iloc[0],
                    "grade": grade,
                    "risk_status": r["status"],
                    "score": r["score"],
                    "reason": r["reason"],
                }
            ]
        )

    # plain applyInPandas (no fanout_apply): the per-series numpy risk
    # scoring is sub-millisecond, so the one-partition AQE collapse that
    # serializes the model-FITTING ops is harmless here and the packing
    # aggregate would only add overhead (measured 0.7 s vs 1.15 s at
    # sf0.1)
    return s.groupBy("status", "priority").applyInPandas(score_group, _WRAPPER_SCHEMA)
