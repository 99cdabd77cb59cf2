"""Property-based tests (hypothesis) for the pure engines — the
robustness layer the reference never had (SURVEY §5): for ANY series
the risk engine must return a well-formed verdict, the tail CDFs must
behave like CDFs, and the forecasting family must stay finite and
non-negative."""

from __future__ import annotations

import math

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from claim_analysis_engine_spark import forecast_models as fm
from claim_analysis_engine_spark.risk_engine import (
    nbinom_cdf,
    poisson_cdf,
    score_series,
)

series_strategy = st.lists(st.integers(min_value=0, max_value=200), min_size=0, max_size=60)
grade_strategy = st.sampled_from([None, "중대", "위험", "사고", "일반", "기타"])


@settings(max_examples=200, deadline=None)
@given(
    values=series_strategy,
    grade=grade_strategy,
    progress=st.floats(min_value=0.01, max_value=1.0),
    partial=st.booleans(),
)
def test_risk_engine_total(values, grade, progress, partial):
    months = [(i % 12) + 1 for i in range(len(values))]
    r = score_series(
        values, months, grade=grade, progress_ratio=progress, is_partial_month=partial
    )
    assert 0 <= r["score"] <= 100
    assert r["status"] in {"", "⚪", "🟡", "🔴"}
    assert isinstance(r["reason"], str) and r["reason"]
    # no occurrence ⇒ always the quiet verdict
    if values and values[-1] == 0:
        assert (r["score"], r["reason"]) == (0, "발생 없음")


@settings(max_examples=100, deadline=None)
@given(
    mu=st.floats(min_value=1e-6, max_value=50),
    k=st.integers(min_value=-1, max_value=80),
)
def test_poisson_cdf_is_a_cdf(mu, k):
    v = poisson_cdf(k, mu)
    assert -1e-9 <= v <= 1 + 1e-9
    if k >= 0:
        assert v >= poisson_cdf(k - 1, mu) - 1e-12  # monotone in k


@settings(max_examples=100, deadline=None)
@given(
    r=st.floats(min_value=0.1, max_value=20),
    p=st.floats(min_value=0.05, max_value=0.95),
    k=st.integers(min_value=-1, max_value=60),
)
def test_nbinom_cdf_is_a_cdf(r, p, k):
    v = nbinom_cdf(k, r, p)
    assert -1e-9 <= v <= 1 + 1e-9
    if k >= 0:
        assert v >= nbinom_cdf(k - 1, r, p) - 1e-12


@settings(max_examples=50, deadline=None)
@given(
    values=st.lists(
        st.floats(min_value=0, max_value=1000, allow_nan=False), min_size=6, max_size=48
    ),
    steps=st.integers(min_value=1, max_value=6),
)
def test_models_finite_and_nonnegative(values, steps):
    """Every slot either fits (finite, non-negative, right length) or
    refuses with ValueError — the contract the tuner relies on (failed
    fit → inf score). The SARIMAX slot's default (1,1,1)×(1,1,1,12)
    legitimately refuses series shorter than its differencing needs
    (simple-differencing deviation, documented in NumpySarimax);
    silent garbage is the only failure mode this property forbids."""
    y = np.asarray(values)
    for name, cls in fm.SLOTS.items():
        try:
            fc = cls().fit(y).predict(steps)
        except ValueError:
            continue
        assert len(fc) == steps, name
        assert np.isfinite(fc).all(), name
        assert (fc >= 0).all(), name


@settings(max_examples=50, deadline=None)
@given(
    values=st.lists(
        st.floats(min_value=0, max_value=1000, allow_nan=False), min_size=8, max_size=48
    )
)
def test_champion_leaderboard_well_formed(values):
    res = fm.select_champion(np.asarray(values))
    assert [r["rank"] for r in res.leaderboard] == [1, 2, 3]
    rmses = [r["rmse"] for r in res.leaderboard]
    assert all(
        a <= b or (math.isinf(a) and math.isinf(b))
        for a, b in zip(rmses, rmses[1:])
    )
    assert res.champion == res.leaderboard[0]["model"]


def _py_interleave(bx: int, by: int) -> int:
    z = 0
    for i in range(8):
        z |= ((bx >> i) & 1) << (2 * i + 1)
        z |= ((by >> i) & 1) << (2 * i)
    return z


@settings(max_examples=200, deadline=None)
@given(bx=st.integers(0, 255), by=st.integers(0, 255))
def test_morton_interleave_is_a_bijection_with_locality(bx, by):
    """The z-order key must decode back to its inputs (bijection — a
    lossy code would silently merge cells) and preserve the prefix
    property sort_zorder's sharding relies on: the top 2k z-bits pin
    the top k bits of BOTH dimensions."""
    z = _py_interleave(bx, by)
    assert 0 <= z < 1 << 16
    back_x = sum(((z >> (2 * i + 1)) & 1) << i for i in range(8))
    back_y = sum(((z >> (2 * i)) & 1) << i for i in range(8))
    assert (back_x, back_y) == (bx, by)
    # the pinning sort_zorder's 16 shards rely on: the shard id IS the
    # top-2 bits of each dimension, interleaved
    shard = z >> 12
    assert shard == (
        ((bx >> 7) << 3)
        | ((by >> 7) << 2)
        | (((bx >> 6) & 1) << 1)
        | ((by >> 6) & 1)
    )


@settings(max_examples=200, deadline=None)
@given(
    sql_terms=st.integers(0, 255),
    by=st.integers(0, 255),
)
def test_morton_sql_and_python_agree(sql_terms, by):
    """The DuckDB oracle expression and the Column builder must encode
    the same function; evaluate the SQL string form in DuckDB against
    the reference Python bit math."""
    import duckdb

    from claim_analysis_engine_spark.operators.scale_patterns import (
        _interleave_sql,
    )

    bx = sql_terms
    got = duckdb.sql(
        f"SELECT {_interleave_sql(str(bx), str(by))} AS z"
    ).fetchone()[0]
    assert got == _py_interleave(bx, by)


def _scd2_model(rows):
    """Pure-python SCD2 reference: rows = (event_id, ts_s, user, attr).
    Same contract as joins_temporal.scd2_versions — max event_id wins a
    same-second tie, consecutive repeats compress, lead() closes
    intervals, sentinel open end."""
    from claim_analysis_engine_spark.operators.joins_temporal import (
        SCD2_OPEN_END,
    )

    out = []
    by_user: dict = {}
    for eid, ts, user, attr in rows:
        by_user.setdefault(user, []).append((ts, eid, attr))
    for user, evs in by_user.items():
        # keep max event_id per second, then time order
        per_sec: dict = {}
        for ts, eid, attr in evs:
            if ts not in per_sec or eid > per_sec[ts][0]:
                per_sec[ts] = (eid, attr)
        versions = []
        for ts in sorted(per_sec):
            attr = per_sec[ts][1]
            if not versions or versions[-1][1] != attr:
                versions.append((ts, attr))
        for i, (ts, attr) in enumerate(versions):
            nxt = versions[i + 1][0] if i + 1 < len(versions) else SCD2_OPEN_END
            out.append((user, attr, i + 1, ts, nxt, nxt == SCD2_OPEN_END))
    return sorted(out)


@settings(max_examples=12, deadline=None)
@given(
    events=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=20),  # ts_s (narrow: ties)
            st.integers(min_value=0, max_value=2),  # user_id
            st.sampled_from(["A", "B", "C"]),  # attr
        ),
        min_size=1,
        max_size=24,
    )
)
def test_scd2_builder_matches_pure_model(spark, events):
    """Differential property: for ANY event sequence (same-second
    collisions, repeats, interleaved users) the Spark window program
    must equal the obvious sequential SCD2 model."""
    from pyspark.sql import functions as F

    from claim_analysis_engine_spark.operators.joins_temporal import (
        scd2_versions,
    )

    rows = [(i, ts, u, a) for i, (ts, u, a) in enumerate(events)]
    e = spark.createDataFrame(
        rows, "event_id long, ts_s long, user_id long, event_type string"
    )
    got = sorted(
        (r.user_id, r.attr, r.version, r.valid_from, r.valid_to, r.is_current)
        for r in scd2_versions(e).collect()
    )
    assert got == _scd2_model(rows)
