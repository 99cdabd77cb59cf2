"""Every registered operator with an oracle must hash-match DuckDB on
sf0.01 — a local replica of the driver's CORRECTNESS gate. Ops without
an oracle must at least run and return a stable schema.

The oracle check calls ``op.query``, so every oracle op also runs
through the registry's memo; the wall-time guard's retries and the
rows-only runs call ``op.query.__wrapped__``, which re-executes the op
instead of replaying a stored result."""

from __future__ import annotations

import pytest

from claim_analysis_engine_spark.registry import registry
from tests.conftest import SF_ORACLE
from tests.oracle_harness import compare, duck_connection

REG = registry()
WITH_ORACLE = sorted(op_id for op_id, op in REG.items() if op.oracle)
NO_ORACLE = sorted(op_id for op_id, op in REG.items() if not op.oracle)


@pytest.fixture(scope="module")
def duck():
    con = duck_connection(SF_ORACLE)
    yield con
    con.close()


# Per-op wall-time guard at sf0.01: the driver's correctness gate runs
# a rotating sample of registry ops at this SF, so every op must stay
# cheap here or rotation stops being viable. The cap is deliberately
# loose (suite runs share one local JVM with heavy parallel contention)
# — it exists to catch pathological regressions (an accidental O(n²)
# plan, a lost broadcast, an uncached double scan), not to benchmark.
OP_WALL_TIME_CAP_S = 30.0


def _assert_no_cache_entry(spark, op_id: str) -> None:
    """No op may leave a CacheManager entry: the CacheManager matches a
    later read of the same path by plan, so an entry would keep serving
    its old blocks after the table is rewritten in place."""
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty(), (
        f"{op_id} left a CacheManager entry"
    )


@pytest.mark.parametrize("op_id", WITH_ORACLE)
def test_oracle_parity(spark, duck, op_id):
    import time

    op = REG[op_id]
    spark.catalog.clearCache()
    # the guard times ONLY the Spark side (build + execute + collect);
    # the DuckDB oracle below can itself be expensive (tree CTEs) and
    # is not what driver rotation pays for
    t0 = time.perf_counter()
    left = op.query(spark, SF_ORACLE).toPandas()
    elapsed = time.perf_counter() - t0
    _assert_no_cache_entry(spark, op_id)
    ok, msg = compare(left, duck, op.oracle)
    assert ok, f"{op_id}: {msg}"
    if elapsed >= OP_WALL_TIME_CAP_S:
        # One retry before failing: the cap hunts plan pathologies
        # (O(n²) joins, lost broadcasts), which are slow EVERY run —
        # a first-run-of-boot JIT/page-cache blip or a contended
        # neighbour JVM is not, and has tripped this guard spuriously
        # on value-green ops (r14 round close adjudicated three).
        # r15 (ADVICE): warn loudly so chronic near-cap ops stay
        # observable, and re-compare the retry result — a free
        # determinism check on the re-execution.
        import warnings

        warnings.warn(
            f"{op_id}: first run {elapsed:.1f}s exceeded the "
            f"{OP_WALL_TIME_CAP_S}s cap, retrying once",
            stacklevel=1,
        )
        t0 = time.perf_counter()
        # past the registry's memo: the retry re-executes the op
        retry = op.query.__wrapped__(spark, SF_ORACLE).toPandas()
        elapsed = time.perf_counter() - t0
        ok, msg = compare(retry, duck, op.oracle)
        assert ok, f"{op_id} (retry run drifted — nondeterministic op): {msg}"
    assert elapsed < OP_WALL_TIME_CAP_S, (
        f"{op_id}: {elapsed:.1f}s at sf0.01 exceeds the {OP_WALL_TIME_CAP_S}s "
        "per-op guard on a retry — driver rotation needs every op cheap "
        "at this SF"
    )


@pytest.mark.parametrize("op_id", NO_ORACLE)
def test_runs_rows_only(spark, op_id):
    import time

    op = REG[op_id]
    spark.catalog.clearCache()
    t0 = time.perf_counter()
    # past the registry's memo, here and in the retry: `limit(5)` on a
    # memoized frame would compute every row to store it
    df = op.query.__wrapped__(spark, SF_ORACLE)
    assert df.columns, f"{op_id}: no columns"
    df.limit(5).collect()  # must execute without error
    elapsed = time.perf_counter() - t0
    _assert_no_cache_entry(spark, op_id)
    if elapsed >= OP_WALL_TIME_CAP_S:
        # same retry-once rationale (and r15 warning) as above
        import warnings

        warnings.warn(
            f"{op_id}: first run {elapsed:.1f}s exceeded the "
            f"{OP_WALL_TIME_CAP_S}s cap, retrying once",
            stacklevel=1,
        )
        t0 = time.perf_counter()
        op.query.__wrapped__(spark, SF_ORACLE).limit(5).collect()
        elapsed = time.perf_counter() - t0
    assert elapsed < OP_WALL_TIME_CAP_S, (
        f"{op_id}: {elapsed:.1f}s at sf0.01 exceeds the {OP_WALL_TIME_CAP_S}s "
        "per-op guard on a retry — driver rotation needs every op cheap "
        "at this SF"
    )
