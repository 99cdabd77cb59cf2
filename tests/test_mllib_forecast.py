"""MLlib GBT forecaster (operators/mllib_forecast.py) — everything the
rows-only standing can't see: the recursion actually feeds its own
predictions forward, short histories are refused, and the global model
earns its compute against the seasonal-naive floor on the SAME series
substrate (the honest leaderboard the round-9 verdict asked for).
The contract op's oracle parity runs in test_oracle_parity like every
oracle-bearing op."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from claim_analysis_engine_spark.operators import mllib_forecast as mf
from claim_analysis_engine_spark.operators.risk import _series
from tests.conftest import SF_SMALL


def test_recursion_feeds_its_own_predictions(spark):
    """Drive _recursive_forecast with a stub 'model' whose prediction
    is lag1 + 100: if step h consumed actuals instead of the h−1
    prediction, the outputs would NOT compound by +100 per step."""

    class IdentityAssembler:
        def transform(self, df):
            return df

    class Lag1Plus100:
        def transform(self, df):
            return df.withColumn("prediction", F.col("lag1") + 100.0)

    hist = spark.createDataFrame(
        [("A", "p", i, float(i)) for i in range(1, 16)],
        "status string, priority string, idx int, n double",
    )
    import datetime

    preds = mf._recursive_forecast(
        IdentityAssembler(),
        Lag1Plus100(),
        hist,
        start_idx=15,
        first_month=datetime.date(1992, 1, 1),
        steps=3,
    ).collect()
    got = {r.h: r.yhat for r in preds}
    # h=1: lag1 = n(15) = 15 → 115; h=2: lag1 = 115 → 215; h=3 → 315
    assert got == {1: 115.0, 2: 215.0, 3: 315.0}


def test_short_history_is_refused(spark, monkeypatch, tmp_path):
    """A spine shorter than MIN_MONTHS (lag-12 never lands inside the
    train span) must yield an EMPTY frame with the full output schema —
    the exact mirror of the contract oracle's m >= MIN_MONTHS guard."""
    short = spark.createDataFrame(
        [
            ("A", "p", m, float(m))
            for m in range(mf.MIN_MONTHS - 1)  # MIN_MONTHS - 1 months
        ],
        "status string, priority string, moff int, n double",
    ).select(
        "status",
        "priority",
        F.add_months(F.lit("1995-01-01").cast("date"), F.col("moff")).alias("month"),
        "n",
    )
    monkeypatch.setattr(mf, "_series", lambda spark_, sf_dir_: short)
    # the stored training is keyed by the input dir's files, so the
    # (unread) input dir must exist
    (tmp_path / "orders.parquet").write_bytes(b"")
    out = mf._gbt_forecast_frame(spark, str(tmp_path))
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "status", "priority", "h", "yhat", "ci_lo", "ci_hi", "model",
    ]


@pytest.fixture(scope="module")
def gbt_out(spark):
    return mf.ml_gbt_mllib(spark, SF_SMALL).cache()


def test_output_shape_and_bands(spark, gbt_out):
    """Every series key × every horizon exactly once; bands priced by a
    finite per-series RMSE (ci_hi > yhat would fail only if the
    backtest produced zero residual everywhere — impossible on real
    count data, and a zero/NaN RMSE would break the CI contract)."""
    rows = gbt_out.collect()
    keys = {(r.status, r.priority) for r in rows}
    expect_keys = {
        (r.status, r.priority)
        for r in _series(spark, SF_SMALL).select("status", "priority").distinct().collect()
    }
    assert keys == expect_keys
    per = {}
    for r in rows:
        per.setdefault((r.status, r.priority), []).append(r)
        assert r.model == "gbt_mllib"
        assert r.yhat >= 0.0 and r.ci_lo >= 0.0
        assert r.ci_lo <= r.yhat + 1e-9 or r.ci_lo <= r.ci_hi
        assert math.isfinite(r.yhat) and math.isfinite(r.ci_hi)
    for hs in per.values():
        assert sorted(x.h for x in hs) == [1, 2, 3]


def test_beats_or_honestly_loses_to_seasonal_naive(spark, gbt_out):
    """The round-9 verdict's ask: agg_backtest_snaive is the accuracy
    floor — compare the GBT's recursive backtest RMSE (recovered from
    the band: (ci_hi − yhat)/1.96, constant per series) to seasonal
    naive (ŷ(m) = y(m−12)) scored on the IDENTICAL held-out months.
    Measured at sf0.001: the pooled GBT beats snaive in aggregate
    (mean RMSE ratio ≈ 0.5-0.8). Pinned honestly: the aggregate ratio
    must stay < 1.0 (model earns its compute) and never collapse below
    0.05 (a too-good ratio means the backtest is leaking the answer)."""
    gbt_rmse = {
        (r.status, r.priority): (r.ci_hi - r.yhat) / 1.96
        for r in gbt_out.where(F.col("h") == 1).collect()
    }
    s = mf._lag_features(_series(spark, SF_SMALL))
    m = s.agg(F.max("idx")).first()[0]
    snaive = (
        s.where(F.col("idx") > m - mf.HORIZON)
        .groupBy("status", "priority")
        .agg(F.sqrt(F.avg((F.col("n") - F.col("lag12")) ** 2)).alias("rmse"))
        .collect()
    )
    snaive_rmse = {(r.status, r.priority): r.rmse for r in snaive}
    assert set(gbt_rmse) == set(snaive_rmse)
    tot_gbt = sum(gbt_rmse.values())
    tot_naive = sum(snaive_rmse.values())
    ratio = tot_gbt / tot_naive
    assert ratio < 1.0, f"global GBT lost to seasonal naive: ratio={ratio:.3f}"
    assert ratio > 0.05, f"suspiciously perfect backtest: ratio={ratio:.3f}"


# ------------------------------------------------- 4-way champion election

def test_champion4_election_is_deterministic_and_complete(spark):
    """The 4-way election (3 per-series numpy families + the pooled
    MLlib GBT) pinned: two invocations produce IDENTICAL boards (the
    tie-break by model name plus deterministic training makes the
    election a function of the data), every series fields all 4
    candidates with a complete 1..4 rank permutation and exactly one
    champion, the champion's RMSE is the per-series minimum, and the
    pooled entrant is on every ballot."""
    b1 = sorted(
        mf.ml_champion4(spark, SF_SMALL).collect(),
        key=lambda r: (r.status, r.priority, r.rank),
    )
    b2 = sorted(
        mf.ml_champion4(spark, SF_SMALL).collect(),
        key=lambda r: (r.status, r.priority, r.rank),
    )
    assert [r.asDict() for r in b1] == [r.asDict() for r in b2]
    assert b1, "empty election board"

    by_series: dict[tuple, list] = {}
    for r in b1:
        by_series.setdefault((r.status, r.priority), []).append(r)
    for key, rows in by_series.items():
        models = sorted(r.model for r in rows)
        assert models == ["gbt_mllib", "hw", "laglin", "snaive"], (key, models)
        assert sorted(r.rank for r in rows) == [1, 2, 3, 4], key
        champs = [r for r in rows if r.is_champion]
        assert len(champs) == 1, key
        assert champs[0].rank == 1, key
        assert champs[0].test_rmse == min(r.test_rmse for r in rows), key


def test_champion4_pooled_entry_uses_the_shared_training(spark):
    """The pooled entrant's RMSE must be the SAME backtest RMSE the
    forecast bands are priced with (one training per session, memo-
    shared) — not a second fit that could silently diverge."""
    from claim_analysis_engine_spark import artifacts

    rows = mf._gbt_rmse_frame(spark, SF_SMALL).collect()  # fills the training
    fits = artifacts.stats()["gbt"]["misses"]
    memo_rmse = {(r.status, r.priority): round(r.bt_rmse, 4) for r in rows}
    board_rmse = {
        (r.status, r.priority): r.test_rmse
        for r in mf.ml_champion4(spark, SF_SMALL).collect()
        if r.model == "gbt_mllib"
    }
    assert artifacts.stats()["gbt"]["misses"] == fits, "the election refit"
    assert board_rmse == memo_rmse


def test_ep14_emits_exactly_the_elected_champion_per_series(spark):
    """The seam ep14 closes, asserted directly: the per-series model on
    every forecast row equals the election's is_champion row, every
    elected series emits exactly HORIZON rows, and the bands are
    ordered with the documented clip-at-zero symmetry."""
    champs = {
        (r.status, r.priority): r.model
        for r in mf.ml_champion4(spark, SF_SMALL).collect()
        if r.is_champion
    }
    rows = mf.ep14_champion_forecast_e2e(spark, SF_SMALL).collect()
    assert rows, "no forecast emitted"
    per_series: dict[tuple, list] = {}
    for r in rows:
        key = (r.status, r.priority)
        assert champs[key] == r.model, (key, r.model, champs[key])
        assert r.ci_lo <= r.ci_hi
        assert abs(r.ci_lo - max(0.0, 2 * r.yhat - r.ci_hi)) < 1e-3
        per_series.setdefault(key, []).append(r.h)
    assert set(per_series) == set(champs), "series set drifted"
    for key, hs in per_series.items():
        assert sorted(hs) == [1, 2, 3], key


def test_ep14_contract_flips_on_a_non_elected_model(spark, monkeypatch):
    """Sensitivity: swap the emitted forecast's model name on one
    series (the shape of a lifecycle bug where the forecast comes from
    a non-elected family) and model_matches_election must flip — the
    contract watches the seam, not just the shape."""
    from pyspark.sql import functions as F

    real = mf._ep14_frame

    def swapped(spark_, sf_dir):
        out = real(spark_, sf_dir)
        first = out.select("status", "priority").first()
        return out.withColumn(
            "model",
            F.when(
                (F.col("status") == first["status"])
                & (F.col("priority") == first["priority"]),
                F.lit("not_the_champion"),
            ).otherwise(F.col("model")),
        )

    monkeypatch.setattr(mf, "_ep14_frame", swapped)
    rows = mf.ep14_champion_forecast_contract(spark, SF_SMALL).collect()
    bad = [r for r in rows if not r.model_matches_election]
    assert len(bad) == 1, "exactly the swapped series must flip"
