"""Pin the DOCUMENTED DEVIATION from the reference's tuner.

The reference tunes each model family with Optuna's TPE sampler
(seed 42, default 20 trials, objective = test RMSE on the last-3-month
temporal split; core/engine/trainer.py:133-398). Optuna is not
installable in this environment and TPE's trial sequence is an
implementation detail of the optuna package, so this engine DEVIATES
by design: an exhaustive deterministic grid per family
(forecast_models.GRIDS), fixed trial order, first minimum wins, failed
fit scores inf — same objective, same split, same leaderboard/champion
machinery, different search strategy.

Consequences pinned here:
* the search is exhaustive over the declared grid, so results are
  reproducible bit-for-bit across runs and machines (TPE with a seed is
  reproducible only within an optuna version);
* a user comparing against the reference may see different winning
  hyperparameters when TPE samples a point outside our grid — the
  LEADERBOARD below is the frozen contract of what this engine picks.

If a grid, family, split, or tie-break changes, these goldens MUST be
re-derived deliberately — silent drift of champion selection is the
failure mode this test exists to catch.

Re-derived in round 6: the hw slot changed from the Holt-Winters
smoother to NumpySarimax (exact state-space SARIMAX MLE — the
reference's statsmodels family in numpy), and its grid changed from
12 smoothing triples to 4 SARIMAX orders drawn from the reference's
search space. The sparse-bursts golden was
unaffected (both slots fit exact periodicity at RMSE 0); the other two
moved because SARIMAX fits the deterministic seasonal+trend series
exactly (RMSE 0, now champion by the name tie-break) and scores
0.981804 on the short flat series (its only differencing-feasible
config there is (1,0,0)×(1,0,1,12)). Later in round 6 the laglin slot
also changed (lag-k OLS → NumpyGBDT boosted trees, the real stand-in
for the CatBoost family), moving laglin's RMSEs: trees don't fit the
linear trend exactly (0.186075 on seasonal_trend), near-fit the
periodic bursts (3.9e-05), and tie snaive at 0.816497 on the short
flat series — where the name tie-break now makes laglin champion.
Finally the snaive slot became NumpyLSTM (real BPTT sequence model,
grid = 2 lookbacks), so snaive's RMSEs are now learned-model scores
(1.165786 / 0.680621 / 0.830958) instead of the naive baseline's.
"""

from __future__ import annotations

import math

import numpy as np

import claim_analysis_engine_spark.forecast_models as fm

TWO_PI = 2 * math.pi


def _leaderboard(y: np.ndarray) -> list[tuple[int, str, float]]:
    res = fm.select_champion(y)
    return [(r["rank"], r["model"], round(r["rmse"], 6)) for r in res.leaderboard]


def test_grid_champion_frozen_seasonal_trend():
    y = np.array(
        [float(10 + 2 * (i // 12) + 5 * math.sin(TWO_PI * (i % 12) / 12)) for i in range(36)]
    ).round(4)
    res = fm.select_champion(y)
    # SARIMAX(1,1,1)×(1,1,1,12) reproduces the deterministic
    # trend+seasonal series exactly; so does lag-12 OLS — the 0.0 RMSE
    # tie breaks by model name ascending (hw < laglin)
    assert res.champion == "hw"
    assert res.leaderboard[0]["params"] == {
        "order": (1, 1, 1),
        "seasonal_order": (1, 1, 1, 12),
    }
    assert _leaderboard(y) == [
        (1, "hw", 0.0),
        (2, "laglin", 0.186075),
        (3, "snaive", 1.165786),
    ]


def test_grid_champion_frozen_sparse_bursts():
    y = np.array([0, 0, 1, 0, 0, 3, 0, 0, 0, 2, 0, 0] * 3, dtype=float)
    res = fm.select_champion(y)
    # three-way RMSE tie at 0.0 — the deterministic tie-break is model
    # name ascending (reference TPE has no defined cross-model
    # tie-break; this is part of the deviation contract)
    assert res.champion == "hw"
    assert _leaderboard(y) == [
        (1, "hw", 0.0),
        (2, "laglin", 3.9e-05),
        (3, "snaive", 0.680621),
    ]


def test_grid_champion_frozen_short_flat():
    y = np.array([4.0, 5.0, 4.0, 5.0, 4.0, 5.0])
    res = fm.select_champion(y)
    assert res.champion == "laglin"
    assert res.leaderboard[0]["params"] == {"lags": 2}
    assert _leaderboard(y) == [
        (1, "laglin", 0.816497),
        (2, "snaive", 0.830958),
        (3, "hw", 0.981804),
    ]


def test_grid_is_the_declared_search_space():
    """The deviation is 'exhaustive over THIS grid' — freeze the grid
    cardinalities so a silent grid edit re-derives the goldens."""
    assert {name: len(g) for name, g in fm.GRIDS.items()} == {
        "hw": 4,  # 4 SARIMAX orders from the reference's search space
        "laglin": 4,  # lags 2, 3, 6, 12
        "snaive": 2,  # LSTM lookbacks 6, 12
    }
    # trial order is list order and first-minimum-wins: the first grid
    # entry is the fallback when every fit fails (reference: failed
    # trial -> inf, study still returns a best)
    params, score = fm.tune_model("hw", np.array([]))  # empty: all fits fail
    assert params == fm.GRIDS["hw"][0]
    assert score == math.inf
