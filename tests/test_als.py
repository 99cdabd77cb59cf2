"""ALS recommender (ml_als_recs / ml_als_contract): planted-preference
separation on a block-structured purchase graph, and the contract's
accounting sensitivity. Scores stay rows-only (MLlib ALS's
block-seeded init is not reproducible across session layouts), so
these tests pin the claims the driver hash cannot."""

from __future__ import annotations

import pytest

from claim_analysis_engine_spark import artifacts
from claim_analysis_engine_spark.operators.recommend import (
    ALS_K,
    ml_als_recs,
)


@pytest.fixture(scope="module")
def planted_sf(spark, tmp_path_factory) -> str:
    """ONE planted purchase graph for the module: the recommendation
    memo is keyed by (session, sf_dir), so all three tests share a
    single ALS fit instead of paying it per test."""
    return _planted_purchases(spark, tmp_path_factory.mktemp("als"))


def _planted_purchases(spark, tmp_path) -> str:
    """Two disjoint taste blocks: customers 0-9 buy only parts 100-104,
    customers 10-19 only parts 200-204 (3 orders each, deterministic
    part cycling). A recommender that learns anything at all must keep
    each block's recommendations inside its own catalog half."""
    orders, lines = [], []
    ok = 0
    for c in range(20):
        base = 100 if c < 10 else 200
        for j in range(3):
            ok += 1
            orders.append((ok, c))
            for l in range(2):
                lines.append((ok, base + (c * 2 + j + l) % 5))
    spark.createDataFrame(
        orders, "o_orderkey long, o_custkey long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/orders.parquet")
    spark.createDataFrame(
        lines, "l_orderkey long, l_partkey long"
    ).coalesce(1).write.mode("overwrite").parquet(
        f"{tmp_path}/lineitem.parquet"
    )
    return str(tmp_path)


def test_als_recommendations_respect_planted_taste_blocks(spark, planted_sf):
    rows = ml_als_recs(spark, planted_sf).collect()
    assert rows, "no recommendations emitted"
    per_user: dict[int, list] = {}
    for r in rows:
        per_user.setdefault(r.custkey, []).append(r)
    assert set(per_user) == set(range(20)), "every customer modeled"
    in_block = 0
    total = 0
    for c, recs in per_user.items():
        assert len(recs) == ALS_K
        assert sorted(x.rank for x in recs) == list(range(1, ALS_K + 1))
        lo, hi = (100, 104) if c < 10 else (200, 204)
        for x in recs:
            total += 1
            if lo <= x.partkey <= hi:
                in_block += 1
    # disjoint blocks: cross-block factor affinity is pure noise, so
    # essentially all top-k mass stays in-block
    assert in_block / total >= 0.9, f"{in_block}/{total} in-block"


def test_als_contract_accounting_is_population_exact(spark, planted_sf):
    """Oracle replay on the planted corpus: the modeled-population
    VALUES (users, items, interaction rows) come from the same
    two-fact join both engines state."""
    import duckdb

    from claim_analysis_engine_spark.registry import registry
    from tests.oracle_harness import compare

    sf = planted_sf
    op = registry()["ml_als_contract"]
    con = duckdb.connect()
    for t in ("orders", "lineitem"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet/*.parquet'"
        )
    try:
        result = op.query(spark, sf).toPandas()
        ok, msg = compare(result, con, op.oracle)
        assert ok, msg
        assert int(result["n_users_modeled"].iloc[0]) == 20
        assert int(result["n_items_modeled"].iloc[0]) == 10
    finally:
        con.close()


def test_als_memo_serves_identical_rows_per_session(spark, planted_sf):
    """The parquet-path artifact (the docvec pattern): two reads in
    one session return byte-identical recommendations — the
    gate-stability property that lets the e2e op and its contract
    share one fit."""
    sf = planted_sf
    a = sorted(
        map(tuple, ml_als_recs(spark, sf).collect()),
    )
    hits = artifacts.stats()["als_recs"]["hits"]
    b = sorted(map(tuple, ml_als_recs(spark, sf).collect()))
    assert artifacts.stats()["als_recs"]["hits"] == hits + 1, "memo not filled"
    assert a == b


def test_memo_eviction_defers_then_bounds_disk(tmp_path, monkeypatch):
    """The r13 advice pair on parquet-path memo eviction: an evicted
    dir must NOT be removed immediately (a pre-eviction frame may still
    lazily read it) but must not accumulate unbounded either — the
    tmputil queue keeps the newest _DEFER_GRACE evictees on disk and
    sweeps anything older on later evictions."""
    import os

    from claim_analysis_engine_spark import tmputil

    monkeypatch.setattr(tmputil, "_deferred", [])
    dirs = []
    for i in range(5):
        d = tmp_path / f"memo{i}"
        d.mkdir()
        (d / "part-0.parquet").write_bytes(b"x")
        dirs.append(str(d))

    tmputil.defer_delete(dirs[0])
    tmputil.defer_delete(dirs[1])
    # within grace: both evictees still readable
    assert os.path.isdir(dirs[0]) and os.path.isdir(dirs[1])
    tmputil.defer_delete(dirs[2])
    assert not os.path.isdir(dirs[0]), "oldest evictee must be swept"
    tmputil.defer_delete(dirs[3])
    tmputil.defer_delete(dirs[4])
    alive = [d for d in dirs if os.path.isdir(d)]
    assert alive == dirs[3:], f"queue unbounded or overswept: {alive}"
