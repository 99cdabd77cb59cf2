"""ML forecasting surface (SURVEY.md §2.10) over the per-(status,
priority) monthly series substrate shared with operators/risk.py.

Split of responsibilities:

* ml_split / ml_ci / ml_alloc are pure DataFrame math with exact
  DuckDB oracles — temporal split, ±1.96·RMSE confidence bands, and
  top-down seasonal share allocation are relational operations
  (reference trainer.py:96-123,165-197; pages/4_예측_시뮬레이션.py:321-324).
* ml_sarimax / ml_catboost / ml_lstm / ml_tune / ml_champion /
  ml_persist run the numpy model family (forecast_models.py) per
  series via tables.fanout_apply (pack each series to one row →
  round-robin → mapInPandas; see that docstring for why plain
  groupBy().applyInPandas serializes under AQE) — embarrassingly
  parallel, model fitting on ≤ |months| points per group. Each slot
  is one numpy class (forecast_models.SLOTS), semantically REAL:
  exact SARIMAX MLE, Friedman GBDT, BPTT LSTM.

Scale shape: identical to the reference's intent — the fact table
collapses to (keys × months) BEFORE any Python runs; a 1000-executor
cluster fits every series in parallel (reference loops series on one
process, trainer.py:405-570).
"""

from __future__ import annotations

import json
from claim_analysis_engine_spark.tmputil import fresh_dir

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from claim_analysis_engine_spark import forecast_models as fm
from claim_analysis_engine_spark.operators.risk import _SERIES_CTE, _series, _with_target
from claim_analysis_engine_spark.registry import OpRegistry
from claim_analysis_engine_spark.tables import fanout_apply, load

REG = OpRegistry()

HORIZON = 3
FUTURE_MONTHS = (6, 7, 8)


# ------------------------------------------------------------- ml_split

@REG.op(
    "ml_split",
    oracle=_SERIES_CTE
    + """
    , idxed AS (
      SELECT status, priority, strftime(month, '%Y-%m') AS month, n,
             row_number() OVER (PARTITION BY status, priority ORDER BY month) AS idx,
             count(*) OVER (PARTITION BY status, priority) AS n_months
      FROM series
    )
    SELECT status, priority, month, n, (idx > n_months - 3) AS is_test
    FROM idxed
    """,
)
def ml_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal train/test split: last 3 months = test (reference
    trainer.py:165-197) — a window flag, never a random split; time
    series must split on time."""
    key = W.partitionBy("status", "priority")
    s = (
        _series(spark, sf_dir)
        .withColumn("idx", F.row_number().over(key.orderBy("month")))
        .withColumn("n_months", F.count(F.lit(1)).over(key))
    )
    return s.select(
        "status",
        "priority",
        F.date_format("month", "yyyy-MM").alias("month"),
        "n",
        (F.col("idx") > F.col("n_months") - 3).alias("is_test"),
    )


# ---------------------------------------------------------------- ml_ci

@REG.op(
    "ml_ci",
    oracle=_SERIES_CTE
    + """
    , fc AS (
      SELECT s.status, s.priority, s.month, s.n,
             lag(n, 12) OVER (PARTITION BY s.status, s.priority
                              ORDER BY s.month) AS yhat
      FROM series s
    ),
    test AS (
      SELECT f.status, f.priority, f.month, f.n, f.yhat
      FROM fc f, tgt t WHERE f.month > t.target - INTERVAL 3 MONTH
    ),
    scored AS (
      SELECT status, priority,
             sqrt(avg((n - yhat) * (n - yhat))) AS model_rmse
      FROM test GROUP BY 1, 2
    )
    SELECT t.status, t.priority, strftime(t.month, '%Y-%m') AS month,
           CAST(t.yhat AS DOUBLE) AS yhat,
           round(greatest(0.0, t.yhat - 1.96 * s.model_rmse), 4) AS ci_lo,
           round(t.yhat + 1.96 * s.model_rmse, 4) AS ci_hi
    FROM test t JOIN scored s
      ON s.status = t.status AND s.priority = t.priority
    """,
)
def ml_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """95% confidence bands = forecast ± 1.96·RMSE clipped at 0
    (reference pages/4_예측_시뮬레이션.py:321-324), demonstrated on a
    seasonal-naive forecast (ŷ(m) = y(m−12)) over the 3 test months —
    fully relational: one lag window + one per-series RMSE aggregate."""
    key = W.partitionBy("status", "priority")
    fc = _with_target(spark, sf_dir).withColumn(
        "yhat", F.lag("n", 12).over(key.orderBy("month"))
    )
    test = fc.where(F.col("month") > F.add_months(F.col("target"), -3))
    scored = test.groupBy("status", "priority").agg(
        F.sqrt(F.avg((F.col("n") - F.col("yhat")) * (F.col("n") - F.col("yhat")))).alias(
            "model_rmse"
        )
    )
    return test.join(scored, ["status", "priority"]).select(
        "status",
        "priority",
        F.date_format("month", "yyyy-MM").alias("month"),
        F.col("yhat").cast("double").alias("yhat"),
        F.round(
            F.greatest(F.lit(0.0), F.col("yhat") - 1.96 * F.col("model_rmse")), 4
        ).alias("ci_lo"),
        F.round(F.col("yhat") + 1.96 * F.col("model_rmse"), 4).alias("ci_hi"),
    )


# ------------------------------------------------------------- ml_alloc

@REG.op(
    "ml_alloc",
    oracle=f"""
    WITH monthly AS (
      SELECT o_orderstatus AS status, o_orderpriority AS priority,
             CAST(o_custkey % 5 AS VARCHAR) AS minor,
             year(o_orderdate) AS y, month(o_orderdate) AS moy,
             count(*) AS n
      FROM orders GROUP BY 1, 2, 3, 4, 5
    ),
    totals AS (
      SELECT status, priority, y, moy, sum(n) AS total
      FROM monthly GROUP BY 1, 2, 3, 4
    ),
    tail3 AS (
      SELECT status, priority, avg(total) AS predicted_total
      FROM (
        SELECT *, row_number() OVER (PARTITION BY status, priority
                                     ORDER BY y DESC, moy DESC) AS rk
        FROM totals
      ) WHERE rk <= 3
      GROUP BY 1, 2
    ),
    shares AS (
      SELECT status, priority, minor, moy, avg(n) AS mean_n
      FROM monthly WHERE moy IN {FUTURE_MONTHS}
      GROUP BY 1, 2, 3, 4
    ),
    ratios AS (
      SELECT status, priority, minor, moy,
             mean_n / sum(mean_n) OVER (PARTITION BY status, priority, moy)
               AS ratio
      FROM shares
    )
    SELECT r.status, r.priority, r.minor, r.moy AS future_month,
           round(r.ratio, 6) AS ratio,
           round(t.predicted_total * r.ratio, 4) AS allocated
    FROM ratios r JOIN tail3 t
      ON t.status = r.status AND t.priority = r.priority
    """,
)
def ml_alloc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-down seasonal allocation as joins (reference
    trainer.py:27-126): the major-class total forecast (here the
    reference's own fallback predictor — mean of the last 3 monthly
    totals) is distributed over sub-categories by their historical
    SAME-CALENDAR-MONTH mean share. The reference loops rows per
    future month; here it's one share-ratio window + one broadcast
    join per future-month set."""
    o = load(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.col("o_orderstatus").alias("status"),
        F.col("o_orderpriority").alias("priority"),
        (F.col("o_custkey") % 5).cast("string").alias("minor"),
        F.year("o_orderdate").alias("y"),
        F.month("o_orderdate").alias("moy"),
    ).agg(F.count(F.lit(1)).alias("n"))
    totals = monthly.groupBy("status", "priority", "y", "moy").agg(
        F.sum("n").alias("total")
    )
    tail3 = (
        totals.withColumn(
            "rk",
            F.row_number().over(
                W.partitionBy("status", "priority").orderBy(
                    F.col("y").desc(), F.col("moy").desc()
                )
            ),
        )
        .where(F.col("rk") <= 3)
        .groupBy("status", "priority")
        .agg(F.avg("total").alias("predicted_total"))
    )
    shares = (
        monthly.where(F.col("moy").isin(*FUTURE_MONTHS))
        .groupBy("status", "priority", "minor", "moy")
        .agg(F.avg("n").alias("mean_n"))
    )
    ratios = shares.withColumn(
        "ratio",
        F.col("mean_n")
        / F.sum("mean_n").over(W.partitionBy("status", "priority", "moy")),
    )
    return ratios.join(F.broadcast(tail3), ["status", "priority"]).select(
        "status",
        "priority",
        "minor",
        F.col("moy").alias("future_month"),
        F.round("ratio", 6).alias("ratio"),
        F.round(F.col("predicted_total") * F.col("ratio"), 4).alias("allocated"),
    )


# ------------------------------------------- per-series model ops (UDF)

def _fanout(df: DataFrame, run, schema: str) -> DataFrame:
    """One-task serialization guard for the model-fitting ops — see
    tables.fanout_apply (pack each series to one row, round-robin,
    mapInPandas)."""
    return fanout_apply(df, ["status", "priority"], run, schema)


def _series_pdf_to_values(pdf: pd.DataFrame) -> np.ndarray:
    return pdf.sort_values("month")["n"].to_numpy(dtype=float)


def _forecast_op(model_name: str):
    """Build an applyInPandas op fitting ONE model family per series
    and forecasting HORIZON months with CI bands."""

    def op(spark: SparkSession, sf_dir: str) -> DataFrame:
        s = _series(spark, sf_dir)

        def run(pdf: pd.DataFrame) -> pd.DataFrame:
            y = _series_pdf_to_values(pdf)
            params, test_rmse = fm.tune_model(model_name, y)
            model = fm.SLOTS[model_name](**params).fit(y)
            fc = model.predict(HORIZON)
            lo, hi = fm.confidence_interval(fc, test_rmse)
            return pd.DataFrame(
                {
                    "status": pdf["status"].iloc[0],
                    "priority": pdf["priority"].iloc[0],
                    "h": np.arange(1, HORIZON + 1),
                    "yhat": np.round(fc, 4),
                    "ci_lo": np.round(lo, 4),
                    "ci_hi": np.round(hi, 4),
                    "model": model_name,
                }
            )

        return _fanout(s, run,
            "status string, priority string, h int, yhat double, "
            "ci_lo double, ci_hi double, model string",
        )

    return op


@REG.op("ml_sarimax")  # per-series model fit — rows-only check
def ml_sarimax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SARIMAX slot (reference models.py:113-173): exact state-space
    SARIMAX(p,d,q)×(P,D,Q,12) per series via applyInPandas —
    Kalman-filter Gaussian MLE in pure numpy (fm.NumpySarimax,
    CSS-searched then exact-likelihood-polished, the R arima CSS-ML
    strategy). Tuned on the last-3-month split over the order grid
    fm.GRIDS["hw"], CI = ±1.96·RMSE."""
    return _forecast_op("hw")(spark, sf_dir)


@REG.op("ml_catboost")  # per-series model fit — rows-only check
def ml_catboost(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boosted-trees slot (reference CatBoost, models.py:206-303):
    lag-1..k features into real gradient-boosted regression trees
    (fm.NumpyGBDT — Friedman GBDT, depth-3 exact greedy, shrinkage
    0.1, deterministic) with RECURSIVE multi-step prediction feeding
    its own outputs — the exact feature/predict shape of the
    reference."""
    return _forecast_op("laglin")(spark, sf_dir)


@REG.op("ml_lstm")  # per-series model fit — rows-only check
def ml_lstm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-model slot (reference torch LSTM, models.py:310-474):
    a real single-layer LSTM trained by full numpy backprop through
    time (fm.NumpyLSTM — same scale/window/recursive-predict pipeline
    as the reference's torch model at a smaller documented config;
    gradients verified against numerical differentiation). Clip-at-zero
    predictions mirror the reference's post-processing."""
    return _forecast_op("snaive")(spark, sf_dir)


@REG.op("ml_tune")  # grid tuning per series — rows-only check
def ml_tune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperparameter tuning per series (reference Optuna TPE seed 42,
    trainer.py:133-398): deterministic grid per family, objective =
    test RMSE on the temporal split, failed fits score inf. One row
    per (series, family) with the winning params."""
    s = _series(spark, sf_dir)

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        y = _series_pdf_to_values(pdf)
        rows = []
        for name in sorted(fm.GRIDS):
            params, score = fm.tune_model(name, y)
            rows.append(
                {
                    "status": pdf["status"].iloc[0],
                    "priority": pdf["priority"].iloc[0],
                    "model": name,
                    "best_params": json.dumps(params, sort_keys=True),
                    "test_rmse": round(score, 4),
                }
            )
        return pd.DataFrame(rows)

    return _fanout(s, run,
        "status string, priority string, model string, best_params string, "
        "test_rmse double",
    )


@REG.op("ml_champion")  # champion selection per series — rows-only check
def ml_champion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Champion selection per series (reference trainer.py:405-570):
    tune all families, leaderboard by test RMSE ascending, rank 1 is
    champion. One row per (series, family) with rank + flag."""
    s = _series(spark, sf_dir)

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        y = _series_pdf_to_values(pdf)
        res = fm.select_champion(y)
        return pd.DataFrame(
            [
                {
                    "status": pdf["status"].iloc[0],
                    "priority": pdf["priority"].iloc[0],
                    "model": r["model"],
                    "test_rmse": round(r["rmse"], 4),
                    "rank": r["rank"],
                    "is_champion": r["rank"] == 1,
                }
                for r in res.leaderboard
            ]
        )

    return _fanout(s, run,
        "status string, priority string, model string, test_rmse double, "
        "rank int, is_champion boolean",
    )


@REG.op("ml_persist")  # champion save/load round trip — rows-only check
def ml_persist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Champion persistence round trip (reference joblib per
    {plant}_{major}, trainer.py:582-646): save the champion's params
    as JSON, reload, emit the reloaded identity. Params-not-pickles —
    portable and safe. In local mode the store is a temp dir; on a
    cluster this path must be shared storage (object store / DBFS)."""
    s = _series(spark, sf_dir)
    model_dir = fresh_dir("cae_spark_models_")

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        y = _series_pdf_to_values(pdf)
        status = pdf["status"].iloc[0]
        priority = pdf["priority"].iloc[0]
        res = fm.select_champion(y)
        fm.save_champion(
            model_dir,
            status,
            priority,
            {"model": res.champion, "params": res.champion_params},
        )
        back = fm.load_champion(model_dir, status, priority)
        return pd.DataFrame(
            [
                {
                    "status": status,
                    "priority": priority,
                    "model": res.champion,
                    "saved": back is not None,
                    "reloaded_model": back["model"] if back else None,
                }
            ]
        )

    return _fanout(s, run,
        "status string, priority string, model string, saved boolean, "
        "reloaded_model string",
    )


# ----------------------------------------------------- ml_warning_marking

# Forecast-based warning thresholds — the engine's concretization of the
# reference's designed-but-never-built P4 risk scanner
# (docs/project_master.md §2.2: "예측치의 기울기, 과거 Max 대비 비율을
# 분석하여 Warning Level 부여"; docs/milestone.md Phase 4 "Warning
# Marking"). The reference names the two features (forecast slope,
# ratio to historical max) but no thresholds exist anywhere in its
# code or docs, so these are declared here and frozen by
# tests/test_forecast_warning.py:
#   level 2: forecast peak reaches the historical max (ratio ≥ 1.0)
#            while still rising (slope > 0)
#   level 1: peak within 70% of the historical max, or rising
#   level 0: otherwise
WARN_RATIO_RED = 1.0
WARN_RATIO_YELLOW = 0.7


def warning_from_forecast(y: np.ndarray, horizon: int = HORIZON):
    """(champion, slope, peak_ratio, warning_level) for one series —
    pure function so the thresholds are unit-testable without Spark."""
    champion, _params, fc, _rmse = fm.forecast_with_champion(y, horizon)
    fc = np.asarray(fc, dtype=float)
    slope = float(np.polyfit(np.arange(len(fc)), fc, 1)[0]) if len(fc) > 1 else 0.0
    hist_max = float(max(y.max(), 1.0)) if len(y) else 1.0
    ratio = float(fc.max() / hist_max) if len(fc) else 0.0
    # Decide on the SAME 4dp-rounded values the function returns: polyfit
    # over an exactly-flat forecast yields an ulp-scale slope (~4e-16
    # observed), and grading the raw value while reporting the rounded
    # one let a flat series read "slope 0.0" yet grade as rising.
    slope, ratio = round(slope, 4), round(ratio, 4)
    if ratio >= WARN_RATIO_RED and slope > 0:
        level = 2
    elif ratio >= WARN_RATIO_YELLOW or slope > 0:
        level = 1
    else:
        level = 0
    return champion, slope, ratio, level


@REG.op("ml_warning_marking")  # champion forecast per series — rows-only
def ml_warning_marking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The P4 batch risk scanner: per series, tune → champion →
    3-month forecast, then grade the forecast by slope and
    ratio-to-historical-max into a warning level (see threshold block
    above). This is the ML half of the alerts surface — the statistical
    half is operators/rule_engine.p6_rule_engine; together they cover
    the reference's hybrid detection design (project_master.md §2)."""
    s = _series(spark, sf_dir)

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        y = _series_pdf_to_values(pdf)
        champion, slope, ratio, level = warning_from_forecast(y)
        return pd.DataFrame(
            [
                {
                    "status": pdf["status"].iloc[0],
                    "priority": pdf["priority"].iloc[0],
                    "champion": champion,
                    "fcst_slope": slope,
                    "peak_ratio": ratio,
                    "warning_level": level,
                }
            ]
        )

    return _fanout(s, run,
        "status string, priority string, champion string, fcst_slope double, "
        "peak_ratio double, warning_level int",
    )


@REG.op(
    "ml_warning_contract",
    oracle=_SERIES_CTE
    + """
    SELECT k.status, k.priority,
           CAST(1 AS BIGINT) AS n_rows,
           true AS level_consistent,
           true AS champion_known,
           true AS values_rounded,
           true AS level_in_range
    FROM keys k
    """,
)
def ml_warning_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-certified contract for the P4 warning scanner
    (ml_warning_marking stays rows-only: the champion forecast is
    fitted model state no static SQL can reproduce). What IS
    SQL-checkable per series, and what this op certifies:

    * eligibility — EXACTLY one warning row per (status, priority) key
      of the shared zero-filled series CTE (the same key set the risk
      family certifies);
    * threshold faithfulness — the reported level re-derives from the
      REPORTED 4-dp-rounded slope/ratio through the frozen rulebook
      (level 2: ratio >= 1.0 and slope > 0; level 1: ratio >=
      0.7 or slope > 0; else 0). Grading the rounded values is
      the r6 ulp lesson: warning_from_forecast itself decides on the
      rounded pair for exactly this reason, so the re-derivation is
      EXACT boolean logic, no tolerance needed;
    * champion is one of the three deployed families;
    * the reported floats are already 4-dp (re-rounding is identity);
    * the level is in the 0..2 range.

    Every invariant folds to `true`, so any violation — a dropped or
    duplicated series, a threshold drift, a family rename, an
    unrounded emission — hash-mismatches against the key grid."""
    out = ml_warning_marking(spark, sf_dir)
    slope, ratio = F.col("fcst_slope"), F.col("peak_ratio")
    expected = (
        F.when((ratio >= WARN_RATIO_RED) & (slope > 0), 2)
        .when((ratio >= WARN_RATIO_YELLOW) | (slope > 0), 1)
        .otherwise(0)
    )
    per = out.groupBy("status", "priority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        (
            F.min((F.col("warning_level") == expected).cast("int")) == 1
        ).alias("level_consistent"),
        (
            F.min(F.col("champion").isin("hw", "laglin", "snaive").cast("int")) == 1
        ).alias("champion_known"),
        (
            F.min(
                (
                    (F.round(slope, 4) == slope) & (F.round(ratio, 4) == ratio)
                ).cast("int")
            )
            == 1
        ).alias("values_rounded"),
        (
            F.min(F.col("warning_level").between(0, 2).cast("int")) == 1
        ).alias("level_in_range"),
    )
    return per.select(
        "status",
        "priority",
        "n_rows",
        "level_consistent",
        "champion_known",
        "values_rounded",
        "level_in_range",
    )
