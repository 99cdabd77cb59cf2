"""The COMPLETE risk-scoring decision tree (reference
core/analytics.py:214-426) as one relational query with a full DuckDB
value oracle — no Python in the scoring path.

operators/risk.py builds one per-series feature frame (risk._features)
and proves every sub-score as a projection of it, each against its own
oracle. This module composes those same proven pieces — regime split,
Poisson/NB tails, seasonal-decomposition z, Nelson rules, EWMA,
momentum, partial-month guards, cold start, safe zone, noise caps,
grade thresholds — from the same frame and the same scoring Column
functions, and adds the Korean reason-string consolidation. So the
flagship semantics get a value-level correctness check, and
tests/test_risk_tree.py asserts it agrees row-for-row with the numpy
engine behind rs_wrapper, on the sf0.001/sf0.01 series and on branch
fixtures (short spines, sparse tails, breakouts, single counts,
seasonal spikes).

Scale shape: identical to the sub-ops — one monthly-count aggregate of
the fact table, then window/column math over the |keys|×|months|
series frame, checkpointed once as per-series features.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from claim_analysis_engine_spark import artifacts
from claim_analysis_engine_spark.operators.risk import (
    AS_OF_DAY,
    _CRIT_SQL,
    _SERIES_CTE,
    _band,
    _base_score,
    _crit_bonus,
    _cv,
    _ewma_score,
    _ewma_z,
    _features,
    _limit_z,
    _noise_cap,
    _rule1_score,
    _rule_points,
    _safe_zone,
    _sparse_method,
    _tail_score,
)
from claim_analysis_engine_spark.registry import OpRegistry

REG = OpRegistry()

_PVAL_SQL = """
      CASE WHEN mu = 0 THEN NULL
           WHEN n_obs >= 6 AND vr > 1.2 * mu THEN
             1.0 - coalesce(list_sum(list_transform(
               generate_series(0, CAST(x AS INT) - 1),
               j -> exp(lgamma(j + (mu * mu / vr) / (1 - mu / vr))
                        - lgamma((mu * mu / vr) / (1 - mu / vr)) - lgamma(j + 1)
                        + ((mu * mu / vr) / (1 - mu / vr)) * ln(mu / vr)
                        + j * ln(1 - mu / vr)))), 0.0)
           ELSE
             1.0 - coalesce(list_sum(list_transform(
               generate_series(0, CAST(x AS INT) - 1),
               j -> exp(-mu + CASE WHEN j = 0 THEN 0.0 ELSE j * ln(mu) END
                        - lgamma(j + 1)))), 0.0)
      END
"""

# split into CTE body + final SELECT so composed queries (the EP2 risk
# radar oracle in dashboards.py) can reuse the scored frame as a CTE
_TREE_CTES = (
    _SERIES_CTE
    + f"""
    , stats AS (
      SELECT s.status, s.priority,
             count(*) FILTER (month < target) AS n_obs,
             coalesce(avg(n) FILTER (month < target), 0.0) AS mu,
             coalesce(stddev_samp(n) FILTER (month < target), 0.0) AS sd,
             coalesce(var_samp(n) FILTER (month < target), 0.0) AS vr,
             coalesce(avg(CASE WHEN n = 0 AND month < target THEN 1.0
                               WHEN month < target THEN 0.0 END), 0.0)
               AS zero_ratio,
             max(CASE WHEN month = target THEN n END) AS x,
             max(CASE WHEN month = target - INTERVAL 1 MONTH THEN n END) AS prev1,
             max(CASE WHEN month = target - INTERVAL 2 MONTH THEN n END) AS prev2,
             {AS_OF_DAY} * 1.0 / date_part('day', last_day(any_value(target)))
               AS progress
      FROM series s, tgt GROUP BY 1, 2
    ),
    rules AS (
      SELECT status, priority,
             min(CASE WHEN r <= 9 THEN CASE WHEN n > mean_h THEN 1 ELSE 0 END END)
               = 1 AS rule2,
             min(CASE WHEN r <= 5 THEN CASE WHEN diff > 0 THEN 1 ELSE 0 END END)
               = 1 AS rule3
      FROM (
        SELECT s.status, s.priority, s.n,
               row_number() OVER (PARTITION BY s.status, s.priority
                                  ORDER BY s.month DESC) AS r,
               n - lag(n) OVER (PARTITION BY s.status, s.priority
                                ORDER BY s.month) AS diff,
               avg(CASE WHEN s.month < t.target THEN n END)
                 OVER (PARTITION BY s.status, s.priority) AS mean_h
        FROM series s, tgt t
      ) GROUP BY 1, 2
    ),
    ewma AS (
      SELECT status, priority,
             sum(n * CASE WHEN idx = 0 THEN pow(0.8, t_max)
                          ELSE 0.2 * pow(0.8, t_max - idx) END) AS ewma_val
      FROM (
        SELECT status, priority, n,
               row_number() OVER (PARTITION BY status, priority
                                  ORDER BY month) - 1 AS idx,
               count(*) OVER (PARTITION BY status, priority) - 1 AS t_max
        FROM series
      ) GROUP BY 1, 2
    ),
    hist AS (
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
      SELECT status, priority, moy, avg(d) AS savg FROM detr GROUP BY 1, 2, 3
    ),
    smean AS (SELECT status, priority, avg(savg) AS grand FROM savg GROUP BY 1, 2),
    seasonal AS (
      SELECT s.status, s.priority, s.moy, s.savg - m.grand AS seasonal
      FROM savg s JOIN smean m USING (status, priority)
    ),
    resid AS (
      SELECT d.status, d.priority, d.idx, d.trend, d.d - s.seasonal AS r
      FROM detr d JOIN seasonal s
        ON s.status = d.status AND s.priority = d.priority AND s.moy = d.moy
    ),
    stl_key AS (
      SELECT status, priority, avg(r) AS resid_mean, stddev_samp(r) AS resid_std,
             arg_max(trend, CASE WHEN trend IS NOT NULL THEN idx END) AS last_trend
      FROM resid GROUP BY 1, 2
    ),
    cur AS (
      SELECT s.status, s.priority, max(date_part('month', s.month)) AS tmoy
      FROM series s, tgt WHERE s.month = target GROUP BY 1, 2
    ),
    stl AS (
      SELECT p.status, p.priority,
             p.last_trend + se.seasonal AS expected,
             p.resid_mean, p.resid_std
      FROM stl_key p
      JOIN cur c ON c.status = p.status AND c.priority = p.priority
      JOIN seasonal se
        ON se.status = p.status AND se.priority = p.priority AND se.moy = c.tmoy
    ),
    feat AS (
      SELECT st.*, r.rule2 AS raw_rule2, r.rule3 AS raw_rule3, e.ewma_val,
             z.expected, z.resid_mean, z.resid_std,
             (st.priority IN ('1-URGENT', '2-HIGH')) AS crit,
             (st.mu < 1.0 OR st.zero_ratio > 0.5) AS sparse
      FROM stats st
      JOIN rules r ON r.status = st.status AND r.priority = st.priority
      JOIN ewma e ON e.status = st.status AND e.priority = st.priority
      LEFT JOIN stl z ON z.status = st.status AND z.priority = st.priority
    ),
    calc AS (
      SELECT *,
        CASE WHEN n_obs >= 24 AND sd > 0 AND expected IS NOT NULL
             THEN ((x - expected) - resid_mean) / (resid_std + 1e-6)
             ELSE (x - mu) / (sd + 1e-6) END AS z,
        (n_obs >= 24 AND sd > 0 AND expected IS NOT NULL) AS used_stl,
        CASE WHEN x <= 1 THEN 0
             WHEN x >= mu AND mu > 0 AND progress < 0.7 THEN 30
             WHEN progress >= 0.2 AND mu * progress > 0.5
                  AND x > mu * progress * 4.0 THEN 40
             WHEN progress >= 0.2 AND mu * progress > 0.5
                  AND x > mu * progress * 2.5 AND ({_CRIT_SQL}) THEN 30
             ELSE 0 END AS partial_penalty,
        (n_obs >= 2 AND x > prev1 AND prev1 > prev2 AND x >= 3) AS momentum,
        {_PVAL_SQL} AS p_val
      FROM feat
    ),
    scored AS (
      SELECT *,
        CASE WHEN partial_penalty > 0 THEN '상승세 가속' ELSE '' END AS partial_reason,
        CASE WHEN NOT sparse THEN 0.0
             WHEN mu = 0 THEN CASE WHEN x > 0 THEN 100.0 ELSE 0.0 END
             WHEN p_val < 1e-5 THEN 100.0
             ELSE least(100.0, greatest(0.0, -log10(p_val) * 25)) END
          + CASE WHEN sparse AND prev1 > 0 AND x * 1.0 / prev1 >= 3.0 AND x >= 3
                 THEN 20.0 ELSE 0.0 END AS sparse_core,
        CASE WHEN sparse THEN 0.0 ELSE
          least(50.0, greatest(0.0,
            (CASE WHEN n_obs >= 24 AND sd > 0 AND expected IS NOT NULL
                  THEN ((x - expected) - resid_mean) / (resid_std + 1e-6)
                  ELSE (x - mu) / (sd + 1e-6) END
             - CASE WHEN crit THEN 0.5 ELSE 1.0 END) * 25.0)) END AS base_score,
        CASE WHEN mu > 0 THEN sd / mu ELSE 0.0 END AS cv
      FROM calc
    ),
    limits AS (
      SELECT *,
        CASE WHEN cv < 0.1 AND mu > 1.0 THEN 2.0
             WHEN cv > 0.5 THEN 3.5
             ELSE CASE WHEN crit THEN 2.5 ELSE 3.0 END END AS limit_z
      FROM scored
    ),
    totals AS (
      SELECT *,
        (NOT sparse AND abs(z) > limit_z) AS rule1_trig,
        (NOT sparse AND raw_rule2) AS rule2,
        (NOT sparse AND raw_rule3) AS rule3,
        CASE WHEN sparse THEN sparse_core ELSE
          base_score
          + CASE WHEN abs(z) > limit_z THEN 30.0
                 WHEN abs(z) > greatest(1.5, limit_z - 1.0) THEN 15.0
                 ELSE 0.0 END
          + CASE WHEN raw_rule2 THEN 20.0 ELSE 0.0 END
          + CASE WHEN raw_rule3 THEN 20.0 ELSE 0.0 END
          + CASE WHEN abs((ewma_val - mu)
                          / (sd * sqrt(0.2 / 1.8) + 1e-6)) > 3.0
                 THEN 15.0 ELSE 0.0 END
        END AS core
      FROM limits
    ),
    agg1 AS (
      SELECT *,
        least(100.0,
          CASE WHEN crit
                    AND core + CASE WHEN momentum THEN 15.0 ELSE 0.0 END
                        + partial_penalty > 0
               THEN core + CASE WHEN momentum THEN 15.0 ELSE 0.0 END
                    + partial_penalty + 10.0
               ELSE core + CASE WHEN momentum THEN 15.0 ELSE 0.0 END
                    + partial_penalty END) AS total0
      FROM totals
    ),
    capped AS (
      SELECT *,
        CASE WHEN x <> 1 THEN total0
             WHEN (mu = 0) OR (sparse AND prev1 = 0) THEN
               CASE WHEN NOT crit THEN least(total0, 59.0) ELSE total0 END
             ELSE least(total0, 30.0) END AS total1,
        CASE WHEN x = 1 AND NOT ((mu = 0) OR (sparse AND prev1 = 0))
             THEN '' ELSE
               CASE WHEN partial_penalty > 0 THEN '상승세 가속' ELSE '' END
        END AS partial_reason2
      FROM agg1
    ),
    reasons AS (
      SELECT *,
        (partial_reason2 <> '' OR rule1_trig OR rule2 OR rule3 OR momentum)
          AS has_parts,
        concat_ws(', ', nullif(partial_reason2, ''),
          CASE WHEN rule2 THEN '지속적 상승 - 9개월' END,
          CASE WHEN rule3 THEN '지속적 상승 - (6개월)' END,
          CASE WHEN momentum THEN '연속 상승 모멘텀' END) AS mom_detail,
        CASE WHEN sparse THEN
               CASE WHEN mu = 0 THEN '희소유형 돌발 발생' ELSE '분포 이탈' END
             WHEN used_stl THEN '정상패턴 이탈'
             ELSE '평균 대비 급증' END AS method_str
      FROM capped
    ),
    labeled AS (
      SELECT *,
        CASE WHEN has_parts THEN
               concat_ws(' / ',
                 CASE WHEN rule1_trig THEN '📊추세이탈(정상범위 이탈)' END,
                 CASE WHEN mom_detail <> '' THEN '📈급증감지(' || mom_detail || ')' END)
             WHEN sparse THEN '⚡돌발감지(' || method_str || ')'
             ELSE '📊추세이탈(' || method_str || ')' END AS alert_reason,
        CASE WHEN total1 >= CASE WHEN crit THEN 75 ELSE 85 END THEN '🔴'
             WHEN total1 >= CASE WHEN crit THEN 50 ELSE 60 END THEN '🟡'
             ELSE '⚪' END AS band
      FROM reasons
    )
    """
)

_TREE_SELECT = """
    SELECT status, priority,
           CASE WHEN crit THEN '중대' ELSE '일반' END AS grade,
           CASE
             WHEN x = 0 THEN ''
             WHEN n_obs < 3 AND crit AND x >= 2 THEN '🔴'
             WHEN n_obs < 3 AND NOT crit AND x >= 3 THEN '🟡'
             WHEN n_obs < 3 AND NOT crit THEN '⚪'
             WHEN NOT sparse AND x < 3 AND z < 0.8
                  AND NOT (rule1_trig OR rule2 OR rule3 OR momentum)
                  AND partial_reason = '' THEN '⚪'
             WHEN sparse AND x = 2 AND crit AND mu >= 0.5 THEN '🟡'
             ELSE band
           END AS risk_status,
           CAST(CASE
             WHEN x = 0 THEN 0
             WHEN n_obs < 3 AND crit AND x >= 2 THEN 100
             WHEN n_obs < 3 AND NOT crit AND x >= 3 THEN 50
             WHEN n_obs < 3 AND NOT crit THEN 0
             WHEN NOT sparse AND x < 3 AND z < 0.8
                  AND NOT (rule1_trig OR rule2 OR rule3 OR momentum)
                  AND partial_reason = '' THEN 0
             ELSE floor(total1)
           END AS INT) AS score,
           CASE
             WHEN x = 0 THEN '발생 없음'
             WHEN n_obs < 3 AND crit AND x >= 2
               THEN '초기급증(' || partial_reason || ')'
             WHEN n_obs < 3 AND NOT crit AND x >= 3
               THEN '초기주의(' || partial_reason || ')'
             WHEN n_obs < 3 AND NOT crit THEN '데이터 부족'
             WHEN NOT sparse AND x < 3 AND z < 0.8
                  AND NOT (rule1_trig OR rule2 OR rule3 OR momentum)
                  AND partial_reason = '' THEN '정상범주'
             WHEN (CASE WHEN sparse AND x = 2 AND crit AND mu >= 0.5 THEN '🟡'
                        ELSE band END) = '⚪' THEN '정상범주'
             ELSE alert_reason
           END AS reason
    FROM labeled
"""

_TREE_ORACLE = _TREE_CTES + _TREE_SELECT


@REG.op("rs_tree_relational", oracle=_TREE_ORACLE)
def rs_tree_relational(
    spark: SparkSession, sf_dir: str, orders: DataFrame | None = None
) -> DataFrame:
    """The full decision tree as Column math (see module docstring).
    Output schema matches rs_wrapper exactly; tests assert the two
    implementations agree row for row. ``orders`` substitutes the fact
    table (incremental-refresh path scores hub + upload batch).

    The default-substrate frame is the "risk_tree" artifact: building
    it costs ~3.7 s of driver-side Py4J round trips (hundreds of Column
    objects) before anything executes, and p6_rule_engine (through it
    ep5_p2_summary) consumes it too."""
    if orders is None:
        return artifacts.get_or_build(
            "risk_tree", spark, sf_dir, lambda: _tree(_features(spark, sf_dir))
        )
    return _tree(_features(spark, sf_dir, orders))


def _tree(calc: DataFrame) -> DataFrame:
    # calc is the checkpointed feature frame. From here down the
    # score/band/reason pyramid is STAGED into withColumns levels
    # instead of one nested Column expression. A Column is a TREE, not
    # a DAG: writing `total1` inline nests `total0` several times, and
    # the final select then references `total1` five more times — the
    # single collapsed Project's generated code crossed the JVM's 64 KB
    # method limit and every execution paid a failed Janino compile +
    # interpreted fallback (measured: the 2-doc alerts write took 5.5 s
    # warm at sf0.1). Staged columns become attribute refs — each heavy
    # subtree is generated and evaluated exactly once per level.
    sparse_core = F.when(~F.col("sparse"), 0.0).otherwise(
        _tail_score()
        + F.when(
            (F.col("prev1") > 0)
            & (F.col("x") / F.col("prev1") >= 3.0)
            & (F.col("x") >= 3),
            20.0,
        ).otherwise(0.0)
    )
    core = F.when(F.col("sparse"), F.col("sparse_core")).otherwise(
        F.col("base_score")
        + F.col("rule1_score")
        + _rule_points("rule2")
        + _rule_points("rule3")
        + F.col("ewma_score")
    )
    pre_bonus = (
        F.col("core")
        + F.when(F.col("momentum"), 15.0).otherwise(0.0)
        + F.col("partial_penalty")
    )
    partial_reason = F.when(F.col("partial_penalty") > 0, "상승세 가속").otherwise("")
    partial_reason2 = F.when(
        (F.col("x") == 1) & ~(F.col("first_occ") | F.col("rare")), ""
    ).otherwise(F.col("partial_reason"))
    triggered = (
        F.col("rule1_trig")
        | F.col("rule2_trig")
        | F.col("rule3_trig")
        | F.col("momentum")
    )
    mom_detail = F.concat_ws(
        ", ",
        F.nullif(F.col("partial_reason2"), F.lit("")),
        F.when(F.col("rule2_trig"), "지속적 상승 - 9개월"),
        F.when(F.col("rule3_trig"), "지속적 상승 - (6개월)"),
        F.when(F.col("momentum"), "연속 상승 모멘텀"),
    )
    method_str = (
        F.when(F.col("sparse"), _sparse_method())
        .when(F.col("used_stl"), "정상패턴 이탈")
        .otherwise("평균 대비 급증")
    )
    alert_reason = (
        F.when(
            (F.col("partial_reason2") != "") | triggered,
            F.concat_ws(
                " / ",
                F.when(F.col("rule1_trig"), "📊추세이탈(정상범위 이탈)"),
                F.when(
                    F.col("mom_detail") != "",
                    F.concat(F.lit("📈급증감지("), F.col("mom_detail"), F.lit(")")),
                ),
            ),
        )
        .when(
            F.col("sparse"),
            F.concat(F.lit("⚡돌발감지("), F.col("method_str"), F.lit(")")),
        )
        .otherwise(F.concat(F.lit("📊추세이탈("), F.col("method_str"), F.lit(")")))
    )
    safe = (
        ~F.col("sparse")
        & _safe_zone(F.col("z"), triggered)
        & (F.col("partial_reason") == "")
    )
    sparse_yellow = (
        F.col("sparse") & (F.col("x") == 2) & F.col("crit") & (F.col("mu") >= 0.5)
    )

    # dependency-levelled staging (see comment above): every column in
    # a level references only calc columns or columns from EARLIER
    # levels, so no heavy subtree is ever duplicated inside one
    # expression tree
    staged = (
        calc.withColumns(
            {
                "sparse_core": sparse_core,
                "base_score": F.when(F.col("sparse"), 0.0).otherwise(
                    _base_score(F.col("z"))
                ),
                "cv": _cv(F.col("mu"), F.col("sd")),
                "first_occ": F.col("mu") == 0,
                "rare": F.col("sparse") & (F.col("prev1") == 0),
                "cold": F.col("n_obs") < 3,
                "partial_reason": partial_reason,
                "sparse_yellow": sparse_yellow,
                "method_str": method_str,
                "rule2_trig": ~F.col("sparse") & F.col("rule2"),
                "rule3_trig": ~F.col("sparse") & F.col("rule3"),
                "ewma_score": _ewma_score(_ewma_z(F.col("mu"), F.col("sd"))),
            }
        )
        .withColumns(
            {
                "limit_z": _limit_z(F.col("cv"), F.col("mu")),
                "partial_reason2": partial_reason2,
            }
        )
        .withColumns(
            {
                "rule1_score": _rule1_score(F.col("z"), F.col("limit_z")),
                "rule1_trig": ~F.col("sparse") & (F.abs("z") > F.col("limit_z")),
            }
        )
        .withColumns({"core": core, "mom_detail": mom_detail})
        .withColumns({"pre_bonus": pre_bonus, "safe": safe, "alert_reason": alert_reason})
        .withColumns({"total0": _crit_bonus(F.col("pre_bonus"))})
        .withColumns(
            {
                "total1": F.least(
                    F.col("total0"), _noise_cap(F.col("first_occ"), F.col("rare"))
                )
            }
        )
        .withColumns({"band": _band(F.col("total1"))})
    )

    risk_status = (
        F.when(F.col("x") == 0, "")
        .when(F.col("cold") & F.col("crit") & (F.col("x") >= 2), "🔴")
        .when(F.col("cold") & ~F.col("crit") & (F.col("x") >= 3), "🟡")
        .when(F.col("cold") & ~F.col("crit"), "⚪")
        .when(F.col("safe"), "⚪")
        .when(F.col("sparse_yellow"), "🟡")
        .otherwise(F.col("band"))
    )
    score = (
        F.when(F.col("x") == 0, 0)
        .when(F.col("cold") & F.col("crit") & (F.col("x") >= 2), 100)
        .when(F.col("cold") & ~F.col("crit") & (F.col("x") >= 3), 50)
        .when(F.col("cold") & ~F.col("crit"), 0)
        .when(F.col("safe"), 0)
        .otherwise(F.floor(F.col("total1")))
        .cast("int")
    )
    reason = (
        F.when(F.col("x") == 0, "발생 없음")
        .when(
            F.col("cold") & F.col("crit") & (F.col("x") >= 2),
            F.concat(F.lit("초기급증("), F.col("partial_reason"), F.lit(")")),
        )
        .when(
            F.col("cold") & ~F.col("crit") & (F.col("x") >= 3),
            F.concat(F.lit("초기주의("), F.col("partial_reason"), F.lit(")")),
        )
        .when(F.col("cold") & ~F.col("crit"), "데이터 부족")
        .when(F.col("safe"), "정상범주")
        .when(
            F.when(F.col("sparse_yellow"), F.lit("🟡")).otherwise(F.col("band"))
            == "⚪",
            "정상범주",
        )
        .otherwise(F.col("alert_reason"))
    )

    return staged.select(
        "status",
        "priority",
        F.when(F.col("crit"), "중대").otherwise("일반").alias("grade"),
        risk_status.alias("risk_status"),
        score.alias("score"),
        reason.alias("reason"),
    )
