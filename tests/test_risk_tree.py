"""The risk sub-scores and the relational decision tree against their
DuckDB oracles, and the tree against the numpy engine behind
rs_wrapper — two independent implementations of reference
core/analytics.py:214-426, one in Column math, one in Python.

The sf0.001/sf0.01 series are long and dense, so they leave whole
branches unexercised (no sparse series with a current count, no short
spine). The branch fixtures below are copies of sf0.001 whose
orders.parquet is rewritten to hold hand-built monthly series: short
rising spines (Nelson rules 2/3 over fewer than 9/6 months), a
one-month spine, sparse Poisson and overdispersed NB tails, first
breakouts, single counts, and dense seasonal series with a spike at
the target month (the STL path, rule 1 and EWMA), under both critical
and general priorities."""

from __future__ import annotations

import datetime as dt
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from claim_analysis_engine_spark import artifacts
from claim_analysis_engine_spark.operators.risk import rs_wrapper
from claim_analysis_engine_spark.operators.risk_tree import rs_tree_relational
from claim_analysis_engine_spark.registry import registry
from tests.conftest import SF_ORACLE, SF_SMALL
from tests.oracle_harness import compare, duck_connection

SUB_OPS = (
    "rs_regime",
    "rs_momentum",
    "rs_ewma",
    "rs_sparse_tail",
    "rs_stl_z",
    "rs_nelson",
    "rs_partial",
    "rs_cold_start",
    "rs_safe_zone",
    "rs_noise_cap",
    "rs_grade_thresholds",
)
ORACLE_OPS = (*SUB_OPS, "rs_tree_relational")


def _tree_vs_engine(spark, sf_dir: str) -> dict:
    rel = {
        (r.status, r.priority): (r.grade, r.risk_status, r.score, r.reason)
        for r in rs_tree_relational(spark, sf_dir).collect()
    }
    ref = {
        (r.status, r.priority): (r.grade, r.risk_status, r.score, r.reason)
        for r in rs_wrapper(spark, sf_dir).collect()
    }
    assert rel.keys() == ref.keys()
    return {k: (rel[k], ref[k]) for k in ref if rel[k] != ref[k]}


@pytest.mark.parametrize("sf_dir", [SF_SMALL, SF_ORACLE])
def test_tree_matches_numpy_engine(spark, sf_dir):
    diffs = _tree_vs_engine(spark, sf_dir)
    assert not diffs, f"tree vs engine mismatches: {diffs}"


# ------------------------------------------------------ branch fixtures


def _seasonal(months: int, level: float, amp: float, spike: int) -> list[int]:
    """A dense series with a 12-month cycle, a little deterministic
    jitter, and ``spike`` as the target (last) month's count."""
    shape = (0, 2, 4, 5, 4, 2, 0, -2, -4, -5, -4, -2)
    jitter = (1, -1, 0, 2, -2, 1, 0, -1)
    body = [
        round(level + amp * shape[i % 12] / 5 + jitter[i % 8])
        for i in range(months - 1)
    ]
    return [*body, spike]


def _every(months: int, period: int, count: int, last: int) -> list[int]:
    """A sparse series: ``count`` every ``period``-th month, zero
    otherwise, and ``last`` in the target month."""
    return [count if i % period == period - 1 else 0 for i in range(months - 1)] + [last]


_LONG = 36
# fixture name -> {(status, priority): monthly counts, oldest first}.
# Every series of a fixture spans the same spine, so each fixture
# fixes the spine length.
FIXTURES = {
    # the Nelson windows over spines shorter than 9/6 months
    "spine1": {
        ("O", "1-URGENT"): [2],
        ("O", "3-MEDIUM"): [3],
        ("F", "2-HIGH"): [1],
        ("F", "5-LOW"): [1],
    },
    "rise2": {
        ("O", "3-MEDIUM"): [1, 3],
        ("O", "1-URGENT"): [2, 1],
        ("F", "2-HIGH"): [0, 1],
    },
    "rise4": {
        ("O", "3-MEDIUM"): [1, 2, 3, 5],
        ("O", "1-URGENT"): [1, 2, 3, 5],
        ("F", "4-NOT SPECIFIED"): [2, 2, 2, 1],
    },
    "rise7": {
        ("O", "3-MEDIUM"): [1, 1, 1, 2, 3, 4, 6],
        ("O", "2-HIGH"): [1, 2, 3, 4, 5, 6, 7],
        ("F", "5-LOW"): [3, 0, 0, 2, 0, 0, 1],
    },
    # 13 months of history: seasonal rows exist, the trend does not yet
    # cover the target's calendar month
    "mid14": {
        ("O", "3-MEDIUM"): _seasonal(14, 12, 4, 30),
        ("O", "1-URGENT"): _seasonal(14, 8, 3, 9),
        ("F", "5-LOW"): _every(14, 5, 1, 2),
    },
    "long": {
        # dense seasonal, spike at the target: STL z, rule 1, EWMA
        ("O", "3-MEDIUM"): _seasonal(_LONG, 20, 6, 60),
        ("O", "1-URGENT"): _seasonal(_LONG, 20, 6, 45),
        # sparse, var <= 1.2·mean: Poisson tail. The sparse series
        # repeat with periods that do not divide 12: a 12-periodic one
        # decomposes exactly, its residual std is 0 up to rounding, and
        # its STL z (divided by that std + 1e-6) is rounding noise x 1e6.
        ("F", "3-MEDIUM"): _every(_LONG, 5, 1, 3),
        # sparse, var > 1.2·mean over >= 6 months: NB tail
        ("F", "5-LOW"): _every(_LONG, 7, 4, 5),
        ("F", "1-URGENT"): _every(_LONG, 5, 3, 2),
        # first breakouts: zero history, x > 0
        ("F", "2-HIGH"): [0] * (_LONG - 1) + [2],
        ("F", "4-NOT SPECIFIED"): [0] * (_LONG - 1) + [1],
        # single counts: dense (cap 30) and a critical rare breakout
        ("P", "3-MEDIUM"): _seasonal(_LONG, 5, 2, 1),
        ("P", "1-URGENT"): _every(_LONG, 7, 1, 1)[:-2] + [0, 1],
        # level shift over the last 9 months: rule 2
        ("P", "2-HIGH"): [4, 5, 4, 6, 5, 4] * 4 + [9, 8, 9, 10, 9, 8, 9, 9, 10, 9, 8, 9],
        # three-month strict rise: momentum
        ("O", "4-NOT SPECIFIED"): _seasonal(_LONG - 2, 6, 1, 5) + [7, 9],
        # no occurrence in the target month
        ("O", "5-LOW"): _seasonal(_LONG - 1, 6, 2, 6) + [0],
        # sparse with a tripling over the previous month
        ("P", "5-LOW"): _every(_LONG - 1, 5, 1, 1) + [4],
        # flat dense series: tight limit, safe zone
        ("O", "2-HIGH"): [2] * _LONG,
    },
}


def _orders(series: dict, schema: pa.Schema) -> pa.Table:
    """One order row per counted claim; every series ends in the same
    (target) month, 2001-08."""
    months = len(next(iter(series.values())))
    first = 2001 * 12 + 7 - (months - 1)
    rows = {name: [] for name in schema.names}
    key = 0
    for (status, priority), counts in series.items():
        assert len(counts) == months
        for i, c in enumerate(counts):
            y, m = divmod(first + i, 12)
            for j in range(c):
                key += 1
                rows["o_orderkey"].append(key)
                rows["o_custkey"].append(1 + key % 7)
                rows["o_orderstatus"].append(status)
                rows["o_totalprice"].append(100.0 + key)
                rows["o_orderdate"].append(dt.datetime(y, m + 1, 1 + j % 28))
                rows["o_orderpriority"].append(priority)
    return pa.table(rows, schema=schema)


@pytest.fixture(scope="module")
def branch_dirs(tmp_path_factory):
    schema = pq.read_schema(os.path.join(SF_SMALL, "orders.parquet"))
    dirs = {}
    for name, series in FIXTURES.items():
        d = tmp_path_factory.mktemp(f"risk_{name}")
        for f in os.listdir(SF_SMALL):
            if f != "orders.parquet":
                shutil.copyfile(os.path.join(SF_SMALL, f), d / f)
        pq.write_table(_orders(series, schema), d / "orders.parquet")
        dirs[name] = str(d)
    return dirs


@pytest.mark.parametrize("fixture", list(FIXTURES))
def test_branch_fixture_matches_oracles(spark, branch_dirs, fixture):
    sf = branch_dirs[fixture]
    reg = registry()
    con = duck_connection(sf)
    try:
        failed = {}
        for op in ORACLE_OPS:
            ok, why = compare(reg[op].query(spark, sf), con, reg[op].oracle)
            if not ok:
                failed[op] = why[:300]
    finally:
        con.close()
    assert not failed, f"{fixture}: oracle mismatches: {failed}"


@pytest.mark.parametrize("fixture", list(FIXTURES))
def test_branch_fixture_tree_matches_numpy_engine(spark, branch_dirs, fixture):
    diffs = _tree_vs_engine(spark, branch_dirs[fixture])
    assert not diffs, f"{fixture}: tree vs engine mismatches: {diffs}"


def test_sparse_tail_covers_both_branches(spark, branch_dirs):
    rows = registry()["rs_sparse_tail"].query(spark, branch_dirs["long"]).collect()
    assert {r.use_nb for r in rows} == {True, False}
    assert {r.method for r in rows} == {"희소유형 돌발 발생", "분포 이탈"}


def test_sub_ops_and_tree_share_one_feature_frame(spark):
    """The eleven sub-scores and the tree are projections of one
    per-series feature frame, built once per version of the input."""
    artifacts.clear()
    reg = registry()
    for op in (*SUB_OPS, "rs_tree_relational"):
        reg[op].query(spark, SF_SMALL)
    assert artifacts.stats()["risk_features"] == {"hits": 11, "misses": 1}
