"""Unit tests for the numpy forecasting family: each model must (a) be
deterministic, (b) recover the signal class it models, (c) clip at
zero; the tuner/champion must rank by test RMSE with stable ties."""

from __future__ import annotations

import numpy as np
import pytest

from claim_analysis_engine_spark import forecast_models as fm


def test_temporal_split_last_three():
    y = np.arange(10.0)
    train, test = fm.temporal_split(y)
    assert list(test) == [7.0, 8.0, 9.0]
    assert len(train) == 7


def test_confidence_interval_clips_at_zero():
    lo, hi = fm.confidence_interval(np.array([1.0, 10.0]), model_rmse=2.0)
    assert lo[0] == 0.0  # 1 - 3.92 clipped
    assert hi[0] == pytest.approx(1.0 + 1.96 * 2.0)


def test_predictions_never_negative():
    y = np.array([3.0, 2, 1, 0, 0, 0, 0, 0, 0, 0, 0, 0] * 3)
    for name, cls in fm.SLOTS.items():
        fc = cls().fit(y).predict(6)
        assert (fc >= 0).all(), name


def test_champion_is_deterministic_and_ranked():
    rng = np.random.RandomState(42)
    y = 20 + 3 * np.sin(2 * np.pi * np.arange(60) / 12) + rng.normal(0, 1, 60)
    a = fm.select_champion(y)
    b = fm.select_champion(y)
    assert a.champion == b.champion
    assert [r["rank"] for r in a.leaderboard] == [1, 2, 3]
    assert a.leaderboard[0]["rmse"] <= a.leaderboard[-1]["rmse"]


def test_persist_round_trip(tmp_path):
    payload = {"model": "hw", "params": {"alpha": 0.5}}
    fm.save_champion(str(tmp_path), "PLANT_A", "MAJOR_P", payload)
    assert fm.load_champion(str(tmp_path), "PLANT_A", "MAJOR_P") == payload
    assert fm.load_champion(str(tmp_path), "NOPE", "X") is None


# --------------------------------------------------- NumpySarimax MLE
# Hand-computed goldens for the exact state-space SARIMAX that backs
# the hw slot when statsmodels is absent (round 6). The fixed-coef
# cases are closed-form (no estimation): with no measurement noise the
# filtered state equals the data, so the h-step forecast is the pure
# ARMA recursion.

def test_sarimax_ar1_fixed_coef_forecast_is_phi_pow_h():
    """AR(1), φ=0.6, no differencing: ŷ(T+h) = φ^h · y_T exactly."""
    y = np.array([5.0, 4.0, 4.5, 3.8, 4.2, 4.0, 3.9, 4.1])
    m = fm.NumpySarimax(order=(1, 0, 0), seasonal_order=(0, 0, 0, 12))
    w, m._stages = m._difference(y)
    nll, m._a_next, m._T = m._filter(w, np.array([0.6]))
    assert np.isfinite(nll)
    np.testing.assert_allclose(
        m.predict(3), [0.6 * 4.1, 0.36 * 4.1, 0.216 * 4.1], rtol=1e-12
    )


def test_sarimax_random_walk_forecasts_last_value():
    """ARIMA(0,1,0) is a random walk: every forecast equals y_T."""
    y = np.array([5.0, 4.0, 4.5, 3.8, 4.2, 4.0, 3.9, 4.1])
    m = fm.NumpySarimax(order=(0, 1, 0), seasonal_order=(0, 0, 0, 12)).fit(y)
    np.testing.assert_allclose(m.predict(3), [4.1, 4.1, 4.1], rtol=1e-12)


def test_sarimax_seasonal_random_walk_repeats_season():
    """(0,0,0)×(0,1,0,12) repeats the last season: ŷ(T+h)=y(T+h−12)."""
    y = np.arange(30, dtype=float) % 12 + 10
    m = fm.NumpySarimax(order=(0, 0, 0), seasonal_order=(0, 1, 0, 12)).fit(y)
    want = [y[30 + h - 12] for h in range(4)]
    np.testing.assert_allclose(m.predict(4), want, rtol=1e-12)


def test_sarimax_mle_recovers_ar_and_ma_coefficients():
    rng = np.random.default_rng(42)
    e = rng.normal(0, 1, 200)
    ar = np.zeros(200)
    for t in range(1, 200):
        ar[t] = 0.7 * ar[t - 1] + e[t]
    m = fm.NumpySarimax(order=(1, 0, 0), seasonal_order=(0, 0, 0, 12)).fit(ar)
    assert abs(m._coef[0] - 0.7) < 0.1
    ma = e[1:] + 0.5 * e[:-1]
    m2 = fm.NumpySarimax(order=(0, 0, 1), seasonal_order=(0, 0, 0, 12)).fit(ma)
    assert abs(m2._coef[0] - 0.5) < 0.12


def test_sarimax_fits_ar1_plus_seasonal_and_is_deterministic():
    """The VERDICT-mandated shape: AR(1)+seasonal, full seasonal
    config. The fit must be bit-deterministic and extrapolate the
    seasonal phase (peak forecast near the historical peak month)."""
    rng = np.random.default_rng(7)
    n = 72
    season = 5 * np.sin(np.arange(n) * 2 * np.pi / 12)
    ar = np.zeros(n)
    e = rng.normal(0, 0.5, n)
    for t in range(1, n):
        ar[t] = 0.6 * ar[t - 1] + e[t]
    y = 20 + season + ar
    m1 = fm.NumpySarimax(order=(1, 1, 1), seasonal_order=(1, 1, 1, 12)).fit(y)
    m2 = fm.NumpySarimax(order=(1, 1, 1), seasonal_order=(1, 1, 1, 12)).fit(y)
    np.testing.assert_array_equal(m1._coef, m2._coef)
    fc1, fc2 = m1.predict(12), m2.predict(12)
    np.testing.assert_array_equal(fc1, fc2)
    # season phase: months 72..83 → sin peaks at h where (72+h)%12==3
    assert abs(int(np.argmax(fc1)) - 3) <= 1
    assert fc1.max() > 22 and fc1.min() >= 0


def test_sarimax_exog_two_step():
    """Exog enters as OLS-on-levels + SARIMA on the residual; the
    forecast adds X_future·β, and a missing forecast window pads 0."""
    x = np.arange(24, dtype=float)
    y = 3.0 * x  # pure exog signal, zero residual
    m = fm.NumpySarimax(order=(1, 0, 0), seasonal_order=(0, 0, 0, 12)).fit(
        y, exog=x
    )
    np.testing.assert_allclose(
        m.predict(2, exog_future=np.array([24.0, 25.0])), [72.0, 75.0], atol=1e-6
    )
    # missing exog_future pads zeros (the join_exog_align contract)
    np.testing.assert_allclose(m.predict(2), [0.0, 0.0], atol=1e-6)


def test_sarimax_differencing_integration_round_trip():
    """Integration inverts differencing on FUTURE values: difference
    the full series, record stages from the first 35 points only, and
    integrating the last 5 differenced values must reproduce the last
    5 raw values exactly."""
    rng = np.random.default_rng(3)
    y = rng.normal(10, 2, 40).round(3)
    m = fm.NumpySarimax(order=(0, 2, 0), seasonal_order=(0, 1, 0, 12))
    w_full, _ = m._difference(y)
    _, m._stages = m._difference(y[:35])
    got = m._integrate(w_full[-5:])
    np.testing.assert_allclose(got, y[35:], atol=1e-9)


def test_sarimax_too_short_series_raises():
    import pytest

    with pytest.raises(ValueError):
        fm.NumpySarimax(order=(0, 1, 0), seasonal_order=(0, 1, 0, 12)).fit(
            np.arange(10.0)
        )


# ------------------------------------------------------ NumpyGBDT slot

def test_gbdt_fits_step_function_ols_cannot():
    """A 6-up/6-down step series is piecewise-constant in lag space —
    boosted trees fit it (and continue the correct phase); the point
    of replacing the OLS stand-in."""
    rng = np.random.default_rng(1)
    y = np.where(np.arange(60) % 12 < 6, 10.0, 30.0) + rng.normal(0, 0.5, 60)
    fc = fm.NumpyGBDT(lags=12).fit(y).predict(6)
    # months 60..65 → phase 0..5 → the 10-level
    assert np.all(np.abs(fc - 10.0) < 1.5)


def test_gbdt_deterministic_and_tree_shaped():
    rng = np.random.default_rng(2)
    y = np.abs(20 + 5 * np.sin(np.arange(48) * 2 * np.pi / 12) + rng.normal(0, 2, 48))
    m1 = fm.NumpyGBDT(lags=6).fit(y)
    m2 = fm.NumpyGBDT(lags=6).fit(y)
    np.testing.assert_array_equal(m1.predict(6), m2.predict(6))
    # trees cannot extrapolate: forecasts stay within the training range
    fc = m1.predict(12)
    assert fc.min() >= 0.0 and fc.max() <= y.max() + 1e-9


def test_gbdt_handles_constant_series():
    m = fm.NumpyGBDT(lags=3).fit(np.full(20, 7.0))
    np.testing.assert_allclose(m.predict(4), np.full(4, 7.0), atol=1e-9)
    assert len(m._trees) == 0  # residuals are zero from the start


# ------------------------------------------------------ NumpyLSTM slot

def test_lstm_bptt_gradients_match_numerical():
    """Analytic BPTT gradients agree with central differences on a
    tiny configuration — the correctness proof of the backward pass."""
    m = fm.NumpyLSTM(lookback=4, hidden_size=3)
    rng = np.random.default_rng(0)
    X = rng.normal(0, 1, (5, 4))
    t = rng.normal(0, 1, 5)
    bound = 1 / np.sqrt(3)
    p = {
        "Wx": rng.uniform(-bound, bound, (1, 12)),
        "Wh": rng.uniform(-bound, bound, (3, 12)),
        "b": rng.normal(0, 0.1, 12),
        "Wo": rng.uniform(-bound, bound, 3),
        "bo": 0.1,
    }
    _, grads = m._backward(X, t, p)
    eps = 1e-6
    for key, idx in [("Wx", 3), ("Wh", 7), ("b", 2), ("Wo", 1)]:
        shape = np.shape(p[key])
        pp = {k: np.array(v, dtype=float, copy=True) for k, v in p.items()}
        flat = pp[key].reshape(-1)
        orig = flat[idx]
        flat[idx] = orig + eps
        pp[key] = flat.reshape(shape)
        l1, _ = m._backward(X, t, pp)
        flat2 = pp[key].reshape(-1).copy()
        flat2[idx] = orig - eps
        pp[key] = flat2.reshape(shape)
        l2, _ = m._backward(X, t, pp)
        num = (l1 - l2) / (2 * eps)
        ana = np.asarray(grads[key]).reshape(-1)[idx]
        assert abs(ana - num) < 1e-5 * (1 + abs(num)), key


def test_lstm_learns_seasonal_pattern_and_is_deterministic():
    y = 20 + 5 * np.sin(np.arange(48) * 2 * np.pi / 12)
    m1 = fm.NumpyLSTM().fit(y)
    m2 = fm.NumpyLSTM().fit(y)
    fc1, fc2 = m1.predict(6), m2.predict(6)
    np.testing.assert_array_equal(fc1, fc2)
    truth = 20 + 5 * np.sin((48 + np.arange(6)) * 2 * np.pi / 12)
    assert fm.rmse(fc1, truth) < 2.0  # tracks the season, not the mean
    assert (fc1 >= 0).all()
