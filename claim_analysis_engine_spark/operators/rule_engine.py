"""P6 rule engine — the reference's documented-but-never-built
detection surface (docs/project_master.md:12-24 "Rule-based (P6 & P2)",
docs/milestone.md:13-21 "P6 감지 대상 관리 / P2 통합 요약 / alerts.json")
composed from parts this engine already proves:

* the full risk decision tree (operators/risk_tree.rs_tree_relational,
  reference core/analytics.py:214-426) supplies the statistical
  warning path;
* user-defined rules — "사용자가 설정한 조건(예: 특정 제품 건수 > N건)"
  — evaluated as a trailing-3-month count threshold per series key,
  with per-plant presets in the plant_settings document shape
  (reference data/plant_settings.json: grade filters + saved rules);
* the union of both paths is written as an alerts.json-shaped document
  sink (one doc per plant: {plant, as_of, n_alerts, alerts[...]}) and
  read back — the op certifies the WRITTEN artifact, not the pre-write
  frame.

Scale notes: the tree and the trailing counts are both one hash
aggregate of the fact table into |keys|×|months| rows; settings are a
tiny broadcast; the doc sink is a distributed JSON write (never a
driver loop). The whole scan is a single Catalyst plan per batch —
the "batch series scanner" (reference docs/milestone.md Phase 4) with
no per-series Python loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from claim_analysis_engine_spark import artifacts
from claim_analysis_engine_spark.operators.risk import _with_target
from claim_analysis_engine_spark.operators.risk_tree import (
    _TREE_CTES,
    _TREE_SELECT,
    rs_tree_relational,
)
from claim_analysis_engine_spark.registry import OpRegistry
from claim_analysis_engine_spark.tables import load
from claim_analysis_engine_spark.tmputil import fresh_dir

REG = OpRegistry()

AS_OF = "2026-08-13"

# Per-plant presets in the reference's plant_settings.json shape:
# which grades the plant watches, plus the user rule threshold
# ("건수 > N건" over the trailing 3 calendar months). Plant P has no
# preset — the engine must skip unconfigured plants entirely.
P6_SETTINGS = [
    {"plant": "F", "filter_grade": ["중대", "일반"], "min_count": 5},
    {"plant": "O", "filter_grade": ["중대"], "min_count": 20},
]

_ALERT_STRUCT = (
    "priority:string,grade:string,risk_status:string,score:int,"
    "reason:string,trailing_count:bigint,rule_hit:boolean,"
    "warning_level:int,alert_source:string"
)
_DOC_SCHEMA = (
    "plant string, as_of string, n_alerts int, "
    f"alerts array<struct<{_ALERT_STRUCT}>>"
)


def load_settings(spark: SparkSession, settings_dir: str) -> DataFrame:
    """Read plant_settings-shaped JSON docs and normalize to one row
    per (plant, grade, min_count) — the relational form the rule scan
    joins on."""
    schema = "plant string, filter_grade array<string>, min_count int"
    raw = spark.read.schema(schema).json(settings_dir)
    return raw.select(
        "plant", F.explode("filter_grade").alias("grade"), "min_count"
    )


def compose_alerts(
    tree: DataFrame, trail: DataFrame, settings: DataFrame, as_of: str
) -> DataFrame:
    """Hybrid detection (reference docs/project_master.md §2: rule-based
    P6 + scored warning marking) over pre-aggregated inputs:

    * ``tree``  — (status, priority, grade, risk_status, score, reason)
      from the decision tree;
    * ``trail`` — (status, priority, trailing_count) trailing-3-month
      claim counts;
    * ``settings`` — (plant, grade, min_count) normalized presets.

    Emits one alerts.json-shaped document per plant holding every
    series key that is either tree-flagged (🔴/🟡) or rule-hit
    (trailing_count ≥ min_count), restricted to the plant's configured
    grades. warning_level: 🔴→2, 🟡→1, rule-only→1."""
    flagged = flag_alerts(tree, trail, settings)
    alert = F.struct(
        "priority",
        "grade",
        "risk_status",
        "score",
        "reason",
        "trailing_count",
        "rule_hit",
        "warning_level",
        "alert_source",
    )
    return flagged.groupBy("plant").agg(
        F.lit(as_of).alias("as_of"),
        F.count(F.lit(1)).cast("int").alias("n_alerts"),
        # deterministic doc content: alerts sorted by (priority) inside
        # each plant document
        F.array_sort(F.collect_list(alert)).alias("alerts"),
    )


def flag_alerts(
    tree: DataFrame, trail: DataFrame, settings: DataFrame
) -> DataFrame:
    """The flat alert rows (one per flagged series key) before document
    assembly — shared by the full scan (compose_alerts) and the
    incremental refresh path."""
    tree_level = (
        F.when(F.col("risk_status") == "🔴", 2)
        .when(F.col("risk_status") == "🟡", 1)
        .otherwise(0)
    )
    flagged = (
        tree.join(trail, ["status", "priority"])
        .join(
            F.broadcast(settings),
            (tree["status"] == settings["plant"]) & (tree["grade"] == settings["grade"]),
        )
        .withColumn("rule_hit", F.col("trailing_count") >= F.col("min_count"))
        .withColumn("tree_level", tree_level)
        .where((F.col("tree_level") > 0) | F.col("rule_hit"))
        .select(
            F.col("status").alias("plant"),
            "priority",
            tree["grade"].alias("grade"),
            "risk_status",
            "score",
            "reason",
            "trailing_count",
            "rule_hit",
            F.greatest(
                F.col("tree_level"), F.when(F.col("rule_hit"), 1).otherwise(0)
            )
            .cast("int")
            .alias("warning_level"),
            F.when((F.col("tree_level") > 0) & F.col("rule_hit"), "both")
            .when(F.col("tree_level") > 0, "tree")
            .otherwise("rule")
            .alias("alert_source"),
        )
    )
    return flagged


# CTE chain ending in `alerts` — shared by the p6 gate oracle and the
# P2 integrated-summary oracle
_P6_CTES = (
    _TREE_CTES
    + ", tree AS ("
    + _TREE_SELECT
    + """
    ),
    trail AS (
      SELECT status, priority, CAST(sum(n) AS BIGINT) AS trailing_count
      FROM series, tgt WHERE month >= target - INTERVAL 2 MONTH
      GROUP BY 1, 2
    ),
    settings(plant, grade, min_count) AS (
      VALUES ('F', '중대', 5), ('F', '일반', 5), ('O', '중대', 20)
    ),
    joined AS (
      SELECT t.status AS plant, t.priority, t.grade, t.risk_status,
             t.score, t.reason, tr.trailing_count,
             tr.trailing_count >= s.min_count AS rule_hit,
             CASE WHEN t.risk_status = '🔴' THEN 2
                  WHEN t.risk_status = '🟡' THEN 1 ELSE 0 END AS tree_level
      FROM tree t
      JOIN trail tr ON tr.status = t.status AND tr.priority = t.priority
      JOIN settings s ON s.plant = t.status AND s.grade = t.grade
    ),
    alerts AS (
      SELECT plant, priority, grade, risk_status, score, reason,
             trailing_count, rule_hit,
             CAST(greatest(tree_level, CASE WHEN rule_hit THEN 1 ELSE 0 END)
                  AS INT) AS warning_level,
             CASE WHEN tree_level > 0 AND rule_hit THEN 'both'
                  WHEN tree_level > 0 THEN 'tree'
                  ELSE 'rule' END AS alert_source
      FROM joined
      WHERE tree_level > 0 OR rule_hit
    )
    """
)

_P6_ORACLE = _P6_CTES + " SELECT * FROM alerts"


def _staged_settings(spark: SparkSession) -> DataFrame:
    """Write the P6_SETTINGS presets as real settings-JSON docs and
    read them back normalized — every scan consumes the document form,
    never the in-memory fixture directly."""
    settings_dir = fresh_dir("cae_spark_p6_settings_")
    spark.createDataFrame(P6_SETTINGS).write.mode("overwrite").json(settings_dir)
    return load_settings(spark, settings_dir)


def _trailing_counts(base: DataFrame) -> DataFrame:
    """Trailing-3-calendar-month claim counts per series key over a
    _with_target frame — the user-rule feature ("건수 > N건")."""
    return (
        base.where(F.col("month") >= F.add_months(F.col("target"), -2))
        .groupBy("status", "priority")
        .agg(F.sum("n").cast("bigint").alias("trailing_count"))
    )


@REG.op("p6_rule_engine", oracle=_P6_ORACLE)
def p6_rule_engine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The batch series scanner end-to-end: settings docs → decision
    tree + trailing-count rules → alerts.json doc sink → read-back.
    The returned frame is the FLATTENED read-back of the written
    alerts documents, so the oracle certifies what a consumer of
    alerts.json would actually see. The read-back is the "alerts"
    artifact: ep5_p2_summary joins the same written documents instead
    of re-running settings staging, tree, sink and read-back."""
    return artifacts.get_or_build("alerts", spark, sf_dir, lambda: _alerts(spark, sf_dir))


def _alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    settings = _staged_settings(spark)
    tree = rs_tree_relational(spark, sf_dir)
    trail = _trailing_counts(_with_target(spark, sf_dir))

    docs = compose_alerts(tree, trail, settings, AS_OF)
    out = fresh_dir("cae_spark_p6_alerts_")
    docs.write.mode("overwrite").json(out)

    back = spark.read.schema(_DOC_SCHEMA).json(out)
    a = F.explode("alerts").alias("a")
    flat = back.select("plant", a).select(
        "plant",
        F.col("a.priority").alias("priority"),
        F.col("a.grade").alias("grade"),
        F.col("a.risk_status").alias("risk_status"),
        F.col("a.score").alias("score"),
        F.col("a.reason").alias("reason"),
        F.col("a.trailing_count").alias("trailing_count"),
        F.col("a.rule_hit").alias("rule_hit"),
        F.col("a.warning_level").alias("warning_level"),
        F.col("a.alert_source").alias("alert_source"),
    )
    return flat


# ------------------------------------------------------- ep5_p2_summary

@REG.op(
    "ep5_p2_summary",
    oracle=_P6_CTES
    + """
    , cur_m AS (
      SELECT status AS plant, CAST(sum(n) AS BIGINT) AS current_month_claims
      FROM series, tgt WHERE month = target GROUP BY 1
    )
    SELECT c.plant, c.current_month_claims,
           count(a.priority) AS n_alerts,
           CAST(coalesce(max(a.warning_level), 0) AS INT) AS max_warning_level,
           CAST(coalesce(max(a.score), 0) AS INT) AS top_score,
           count(CASE WHEN a.alert_source IN ('rule', 'both') THEN 1 END)
             AS n_rule_hits
    FROM cur_m c LEFT JOIN alerts a ON a.plant = c.plant
    GROUP BY 1, 2
    """,
)
def ep5_p2_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2 integrated summary (reference docs/milestone.md Phase 3:
    "최신 현황 요약 및 P6 규칙 기반 고위험 리스트 출력" — latest-status
    rollup plus the P6-rule high-risk list): one row per plant with the
    target-month claim total and the plant's alert profile (count, max
    warning level, top score, rule-hit count) from the SAME written
    alerts documents the p6 gate certifies. Plants with no preset and
    no alerts still appear (left join) — the summary page lists every
    plant, alerting or not."""
    base = _with_target(spark, sf_dir)
    cur = (
        base.where(F.col("month") == F.col("target"))
        .groupBy(F.col("status").alias("plant"))
        .agg(F.sum("n").cast("bigint").alias("current_month_claims"))
    )
    alerts = p6_rule_engine(spark, sf_dir)
    profile = (
        cur.join(alerts, "plant", "left")
        .groupBy("plant", "current_month_claims")
        .agg(
            F.count("priority").alias("n_alerts"),
            F.coalesce(F.max("warning_level"), F.lit(0))
            .cast("int")
            .alias("max_warning_level"),
            F.coalesce(F.max("score"), F.lit(0)).cast("int").alias("top_score"),
            F.count(
                F.when(F.col("alert_source").isin("rule", "both"), 1)
            ).alias("n_rule_hits"),
        )
    )
    return profile


# ------------------------------------------------ ep5_alerts_incremental

# The synthetic "upload": the 20 highest-key plant-F claims land again
# as NEW claims (fresh ids, same dates) — late-arriving claims for
# historical months, the exact shape the reference's incremental
# trigger handles (docs/project_master.md §4). Deterministic on both
# engines: ORDER BY o_orderkey DESC LIMIT 20.
_BATCH_KEY_OFFSET = 100_000_000

_MERGED_ORDERS_CTE = f"""
    WITH orders AS (
      SELECT * FROM main.orders
      UNION ALL
      SELECT * REPLACE (o_orderkey + {_BATCH_KEY_OFFSET} AS o_orderkey)
      FROM (SELECT * FROM main.orders WHERE o_orderstatus = 'F'
            ORDER BY o_orderkey DESC LIMIT 20)
    ),
"""

_INCR_ORACLE = (
    _MERGED_ORDERS_CTE
    + _P6_CTES.lstrip().removeprefix("WITH")
    + " SELECT * FROM alerts WHERE plant = 'F'"
)


@REG.op("ep5_alerts_incremental", oracle=_INCR_ORACLE)
def ep5_alerts_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integration Logic end-to-end (reference docs/project_master.md §4:
    upload → refresh affected series → re-scan → updated P2 list): an
    upload batch touching only plant F merges into the corpus, and the
    alert scan re-runs FOR THE TOUCHED PLANT ONLY over the merged data
    — the emitted rows must equal what a full rescan would produce for
    that plant, which is exactly the incremental contract (the same
    equivalence snk_series_refresh pins for the series mart).

    Scale note: the tree here consumes the full merged corpus because
    the month spine and target month are global aggregates; a
    production refresh injects the known spine bounds and prunes the
    fact scan to the touched plant's partitions (the pattern
    storage.refresh_series_incremental demonstrates) — the per-plant
    restriction below pushes into the aggregates either way since
    plant is a grouping key everywhere."""
    o = load(spark, sf_dir, "orders")
    batch = (
        o.where(F.col("o_orderstatus") == "F")
        .orderBy(F.col("o_orderkey").desc())
        .limit(20)
        .withColumn("o_orderkey", F.col("o_orderkey") + _BATCH_KEY_OFFSET)
    )
    merged = o.unionByName(batch)
    # bounded: batch is limit(20); distinct statuses are fewer still
    touched = [r[0] for r in batch.select("o_orderstatus").distinct().collect()]

    settings = _staged_settings(spark)
    tree = rs_tree_relational(spark, sf_dir, orders=merged)
    trail = _trailing_counts(_with_target(spark, sf_dir, orders=merged))
    return flag_alerts(tree, trail, settings).where(
        F.col("plant").isin(touched)
    )
