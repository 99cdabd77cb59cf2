"""Behavior tests for the late-round-8 batch C operators: planted
known-answer inputs for the analytic ops (the oracle proves
cross-engine agreement; these prove the MATH), and structural
assertions for the storage-layout ops (pruning actually pruned,
time travel actually isolated versions)."""

from __future__ import annotations

import datetime
import hashlib
import tempfile

from tests.conftest import SF_SMALL


def _stage(df, tmp: str, name: str) -> str:
    df.coalesce(1).write.mode("overwrite").parquet(f"{tmp}/{name}.parquet")
    return tmp


# ------------------------------------------------------ prune_file_stats

def test_file_stats_skipping_actually_prunes(spark):
    from claim_analysis_engine_spark.operators.scale_patterns import (
        prune_file_stats,
    )

    row = prune_file_stats(spark, SF_SMALL).collect()[0]
    # the layout clusters ~83 ship months into one file each; the
    # 3-month predicate must read a small fraction, never everything
    assert row["n_files_total"] > 20
    assert 1 <= row["n_files_read"] <= 6
    assert row["n_files_read"] < row["n_files_total"]
    assert row["n_rows"] > 0


# ------------------------------------------------ snk_manifest_timetravel

def test_timetravel_versions_are_isolated(spark):
    from claim_analysis_engine_spark.operators.storage_ops import (
        snk_manifest_timetravel,
    )
    from claim_analysis_engine_spark.tables import load

    out = {
        r["version"]: r for r in snk_manifest_timetravel(spark, SF_SMALL).collect()
    }
    n_all = load(spark, SF_SMALL, "orders").count()
    # v1 is a strict prefix; v2 sees every order and NOT the planted
    # torn orphan (which would double-count part of batch 2)
    assert 0 < out[1]["n_orders"] < n_all
    assert out[2]["n_orders"] == n_all


# ---------------------------------------------------------- evt_path_topk

def test_path_topk_counts_overlapping_trigrams(spark):
    from claim_analysis_engine_spark.operators.events import evt_path_topk

    tmp = tempfile.mkdtemp(prefix="cae_planted_path_")
    base = datetime.datetime(2024, 1, 1)
    rows = []
    eid = 0
    # user 1: view click purchase view click purchase  -> trigrams:
    # v>c>p, c>p>v, p>v>c, v>c>p  (v>c>p twice)
    for i, t in enumerate(["view", "click", "purchase"] * 2):
        eid += 1
        rows.append((eid, base + datetime.timedelta(seconds=10 * i), 1, t, 1.0, "{}"))
    # user 2: error error error -> e>e>e once
    for i in range(3):
        eid += 1
        rows.append((eid, base + datetime.timedelta(seconds=10 * i), 2, "error", 1.0, "{}"))
    events = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    _stage(events, tmp, "events")
    out = {r["path"]: r for r in evt_path_topk(spark, tmp).collect()}
    assert out["view>click>purchase"]["n"] == 2
    assert out["error>error>error"]["n"] == 1
    # 5 trigrams total -> shares 4000 / 2000 bp
    assert out["view>click>purchase"]["share_bp"] == 4000
    assert out["error>error>error"]["share_bp"] == 2000


# ------------------------------------------------------------ evt_ab_lift

def test_ab_lift_assignment_matches_md5_and_rates(spark):
    from claim_analysis_engine_spark.operators.events import AB_SALT, evt_ab_lift

    tmp = tempfile.mkdtemp(prefix="cae_planted_ab_")
    base = datetime.datetime(2024, 1, 1)

    def arm(uid: int) -> str:
        h = hashlib.md5(f"{AB_SALT}{uid}".encode()).hexdigest()
        return "A" if h[0] < "8" else "B"

    rows = []
    eid = 0
    converters = {"A": 0, "B": 0}
    users = {"A": 0, "B": 0}
    for uid in range(1, 41):
        a = arm(uid)
        users[a] += 1
        eid += 1
        rows.append((eid, base, uid, "view", 1.0, "{}"))
        if uid % 2 == 0:  # every second user purchases once, value 10.00
            converters[a] += 1
            eid += 1
            rows.append((eid, base, uid, "purchase", 10.0, "{}"))
    events = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    _stage(events, tmp, "events")
    out = {r["arm"]: r for r in evt_ab_lift(spark, tmp).collect()}
    for a in ("A", "B"):
        assert out[a]["n_users"] == users[a]
        assert out[a]["n_converters"] == converters[a]
        assert out[a]["conv_bp"] == converters[a] * 10000 // users[a]
        assert out[a]["revenue"] == 10.0 * converters[a]


# ----------------------------------------------------- agg_backtest_snaive

def test_backtest_snaive_exact_ape_and_bias(spark):
    from claim_analysis_engine_spark.operators.sales import agg_backtest_snaive

    tmp = tempfile.mkdtemp(prefix="cae_planted_bt_")
    customer = spark.createDataFrame(
        [(1, "c1", 1, 0.0, "GROW"), (2, "c2", 1, 0.0, "SHRINK")],
        "c_custkey long, c_name string, c_nationkey long, c_acctbal double, "
        "c_mktsegment string",
    )
    orders = []
    ok = 0
    for m in range(1, 13):
        for year, grow_rev, shrink_rev in ((2023, 100.0, 200.0), (2024, 110.0, 150.0)):
            ok += 1
            orders.append((ok, 1, "F", grow_rev, datetime.date(year, m, 15), "1-URGENT"))
            ok += 1
            orders.append((ok, 2, "F", shrink_rev, datetime.date(year, m, 15), "1-URGENT"))
    odf = spark.createDataFrame(
        orders,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate date, o_orderpriority string",
    )
    _stage(customer, tmp, "customer")
    _stage(odf, tmp, "orders")
    out = {r["segment"]: r for r in agg_backtest_snaive(spark, tmp).collect()}
    # GROW: actual 110 vs naive 100 -> ape = 1000*10000//11000 = 909, never over
    assert out["GROW"]["n_backtests"] == 12
    assert out["GROW"]["mape_bp"] == 909
    assert out["GROW"]["n_over_forecast"] == 0
    # SHRINK: actual 150 vs naive 200 -> ape = 5000*10000//15000 = 3333, always over
    assert out["SHRINK"]["mape_bp"] == 3333
    assert out["SHRINK"]["n_over_forecast"] == 12


# ------------------------------------------------------- agg_rolling_slope

def test_rolling_slope_exact_on_linear_revenue(spark):
    from claim_analysis_engine_spark.operators.aggregates import (
        SLOPE_WIN,
        agg_rolling_slope,
    )

    tmp = tempfile.mkdtemp(prefix="cae_planted_slope_")
    customer = spark.createDataFrame(
        [(1, "c1", 1, 0.0, "LIN")],
        "c_custkey long, c_name string, c_nationkey long, c_acctbal double, "
        "c_mktsegment string",
    )
    # contiguous months, revenue exactly 1000 + 7*k dollars at month k
    orders = []
    for k in range(12):
        orders.append(
            (
                k + 1,
                1,
                "F",
                float(1000 + 7 * k),
                datetime.date(2024 + (k // 12), k % 12 + 1, 10),
                "1-URGENT",
            )
        )
    odf = spark.createDataFrame(
        orders,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate date, o_orderpriority string",
    )
    _stage(customer, tmp, "customer")
    _stage(odf, tmp, "orders")
    rows = agg_rolling_slope(spark, tmp).collect()
    # 12 contiguous months -> 12 - (SLOPE_WIN-1) full windows
    assert len(rows) == 12 - (SLOPE_WIN - 1)
    # unit-spaced x: den = n^2(n^2-1)/12 = 105 for n=6; slope exactly 7
    for r in rows:
        assert r["slope_den"] == SLOPE_WIN**2 * (SLOPE_WIN**2 - 1) // 12
        assert r["slope_num"] == 7 * r["slope_den"]
        assert r["trend"] == "rising"


# ---------------------------------------- physical-read proof assertions

def test_file_skipping_plan_reads_only_survivor_files(spark):
    """The docstring's claim — the pruned read plans over only the
    surviving files — checked at the PHYSICAL level: the result frame's
    input files must number exactly n_files_read, not n_files_total."""
    from claim_analysis_engine_spark.operators.scale_patterns import (
        prune_file_stats,
    )

    df = prune_file_stats(spark, SF_SMALL)
    row = df.collect()[0]
    files = [f for f in df.inputFiles() if "fileskip" in f]
    assert len(files) == row["n_files_read"]
    assert len(files) < row["n_files_total"]


def test_timetravel_reads_never_touch_the_orphan(spark):
    from claim_analysis_engine_spark.operators.storage_ops import (
        snk_manifest_timetravel,
    )

    df = snk_manifest_timetravel(spark, SF_SMALL)
    df.collect()
    assert not any("orphan" in f for f in df.inputFiles())


def test_path_topk_is_take_ordered_not_global_sort(spark):
    from claim_analysis_engine_spark.operators.events import evt_path_topk

    plan = evt_path_topk(spark, SF_SMALL)._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "TakeOrderedAndProject" in plan


# --------------------------------------------------------- prune_zorder_2d

def test_zorder_skipping_prunes_on_both_dims(spark):
    """The z-layout's point: BOTH single-dim predicates skip files —
    each must read at most half of the shard files (the predicate pins
    at least one leading bit of its dimension), never everything. The
    exact shard population is data-dependent (sf0.001's narrower date
    band materializes 6 shards: bx reads 2, by reads 3), so the
    assertion is on the skipping RATIO, not a fixed count."""
    from claim_analysis_engine_spark.operators.scale_patterns import (
        prune_zorder_2d,
    )

    out = {r["dim"]: r for r in prune_zorder_2d(spark, SF_SMALL).collect()}
    assert len(out) == 2
    for r in out.values():
        assert r["n_files_total"] >= 4
        assert 1 <= r["n_files_read"] <= r["n_files_total"] // 2
        assert r["n_rows"] > 0


# ------------------------------------------------------ evt_alert_throttle

def test_alert_throttle_anchors_on_last_fired_not_last_event(spark):
    """Errors at 0h, 3h, 5h, 7h with a 6h cooldown: greedy keeps 0h and
    7h (7h >= 0h+6h). A gap-from-previous-EVENT rule would suppress 7h
    too (2h after the 5h error) — this is the case that separates
    throttling from sessionization."""
    from claim_analysis_engine_spark.operators.events import evt_alert_throttle

    tmp = tempfile.mkdtemp(prefix="cae_planted_throttle_")
    base = datetime.datetime(2024, 1, 1)
    rows = [
        (i + 1, base + datetime.timedelta(hours=h), 1, "error", 1.0, "{}")
        for i, h in enumerate([0, 3, 5, 7])
    ]
    rows.append((99, base, 1, "click", 1.0, "{}"))  # non-errors never alert
    events = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    _stage(events, tmp, "events")
    kept = sorted(r["event_id"] for r in evt_alert_throttle(spark, tmp).collect())
    assert kept == [1, 4]


# -------------------------------------------------------- emb_pca_project

def test_pca_model_is_orthonormal_ordered_and_deterministic(spark):
    import numpy as np

    from claim_analysis_engine_spark import artifacts
    from claim_analysis_engine_spark.operators import similarity as S

    m1 = S._pca_fit(spark, SF_SMALL)
    artifacts.clear()
    m2 = S._pca_fit(spark, SF_SMALL)
    assert artifacts.stats()["pca"] == {"hits": 0, "misses": 1}
    mu1, comps1, shares1 = m1
    mu2, comps2, shares2 = m2
    # refit without the memo must reproduce the model bit-for-bit
    # (covariance quantization heals partial-sum ulp drift)
    assert np.array_equal(mu1, mu2)
    assert all(np.array_equal(a, b) for a, b in zip(comps1, comps2))
    assert shares1 == shares2
    # orthonormal basis, variance shares sorted and sane
    for i, ci in enumerate(comps1):
        for j, cj in enumerate(comps1):
            expect = 1.0 if i == j else 0.0
            assert abs(float(np.dot(ci, cj)) - expect) < 1e-6
    assert shares1 == sorted(shares1, reverse=True)
    assert 0 < sum(shares1) <= 10000


def test_pca_projection_output_shape(spark):
    from claim_analysis_engine_spark.operators.similarity import (
        PCA_K,
        emb_pca_project,
    )
    from claim_analysis_engine_spark.tables import load

    rows = emb_pca_project(spark, SF_SMALL).collect()
    n_labels = load(spark, SF_SMALL, "embeddings").select("label").distinct().count()
    assert len(rows) == n_labels * PCA_K
    # every label sees every component with the same global share
    shares = {r["component"]: r["var_share_bp"] for r in rows}
    assert len(shares) == PCA_K


# --------------------------------------------------- cdc_extract_roundtrip

def test_cdc_extract_classifies_planted_changes(spark):
    """26 keys in the 1997 snapshot: every 13th deleted (13, 26), every
    7th not deleted updated (7, 14, 21), two 1998 inserts — the diff
    must classify exactly that and the round-trip must close."""
    from claim_analysis_engine_spark.operators.relational import (
        cdc_extract_roundtrip,
    )

    tmp = tempfile.mkdtemp(prefix="cae_planted_cdc_")
    rows = [
        (k, 1, "F", 100.0 + k, datetime.date(1997, 6, 15), "1-URGENT")
        for k in range(1, 27)
    ] + [
        (k, 1, "F", 500.0, datetime.date(1998, 2, 1), "1-URGENT")
        for k in (100, 101)
    ]
    odf = spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate date, o_orderpriority string",
    )
    _stage(odf, tmp, "orders")
    out = {r["op"]: r for r in cdc_extract_roundtrip(spark, tmp).collect()}
    assert out["I"]["n_changes"] == 2
    assert out["D"]["n_changes"] == 2
    assert out["U"]["n_changes"] == 3
    assert all(r["recon_matches"] for r in out.values())


# --------------------------------------------------- corpus_chunk_overlap

def test_chunk_overlap_covers_and_overlaps_exactly(spark):
    """A 100-token doc with window 64 / stride 48 chunks at starts
    1, 49, 97 -> lengths 64, 52, 4; consecutive full chunks share
    exactly window-stride = 16 tokens, and every token is covered."""
    from claim_analysis_engine_spark.operators.pipeline_ops import (
        RAG_CHUNK_STRIDE,
        RAG_CHUNK_TOKENS,
        corpus_chunk_overlap,
    )

    tmp = tempfile.mkdtemp(prefix="cae_planted_chunk_")
    text = " ".join(f"t{i}" for i in range(1, 101))
    docs = spark.createDataFrame(
        [(1, text, "en", "src1", len(text))],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    _stage(docs, tmp, "documents")
    rows = sorted(
        corpus_chunk_overlap(spark, tmp).collect(), key=lambda r: r["chunk_idx"]
    )
    assert [(r["start_tok"], r["n_tokens"]) for r in rows] == [
        (1, 64),
        (49, 52),
        (97, 4),
    ]
    # coverage: last token of the final chunk is token 100
    assert rows[-1]["start_tok"] + rows[-1]["n_tokens"] - 1 == 100
    # overlap between consecutive full chunks is window - stride
    assert RAG_CHUNK_TOKENS - RAG_CHUNK_STRIDE == 16
    assert rows[0]["start_tok"] + rows[0]["n_tokens"] - rows[1]["start_tok"] == 16


# ------------------------------------------------- agg_hll_intersection

def test_hll_intersection_error_bounded(spark):
    from claim_analysis_engine_spark.operators.scale_patterns import (
        agg_hll_intersection,
    )

    row = agg_hll_intersection(spark, SF_SMALL).collect()[0]
    exact = row["exact_intersection"]
    assert exact > 0
    # inclusion-exclusion compounds the ~2% per-sketch error; 10% is a
    # loose cap that still catches a broken union or a sign mistake
    assert abs(row["est_intersection"] - exact) / exact < 0.10
    assert row["est_union"] <= row["est_a"] + row["est_b"]


# ------------------------------------------------ src_partition_evolution

def test_partition_evolution_prunes_only_the_fine_generation(spark):
    from claim_analysis_engine_spark.operators.storage_ops import (
        src_partition_evolution,
    )

    out = {r["gen"]: r for r in src_partition_evolution(spark, SF_SMALL).collect()}
    coarse, fine = out["year-only"], out["year-month"]
    # the coarse generation cannot prune a month query: reads every dir
    assert coarse["n_dirs_read"] == coarse["n_dirs_total"]
    # the fine generation reads exactly its month=6 dirs — one per year
    assert 1 <= fine["n_dirs_read"] < fine["n_dirs_total"]
    assert fine["n_dirs_total"] >= 12 * fine["n_dirs_read"] - 12
    assert coarse["n_rows"] > 0 and fine["n_rows"] > 0


# --------------------------------------------- sales_interpolate_linear

def test_interpolation_is_exact_on_a_planted_gap(spark):
    """Bucket with 10 orders in Jan and 30 in May 1997, nothing
    between: Feb/Mar/Apr interpolate to 15/20/25 (milli 15000/20000/
    25000); months outside the observed span are 'edge' with null."""
    from claim_analysis_engine_spark.operators.sales import (
        sales_interpolate_linear,
    )

    tmp = tempfile.mkdtemp(prefix="cae_planted_interp_")
    rows = []
    ok = 0
    for _ in range(10):
        ok += 1
        rows.append((ok, 5, "F", 100.0, datetime.date(1997, 1, 15), "1-URGENT"))
    for _ in range(30):
        ok += 1
        rows.append((ok, 5, "F", 100.0, datetime.date(1997, 5, 15), "1-URGENT"))
    # a second bucket extends the global spine beyond bucket 5's span
    ok += 1
    rows.append((ok, 6, "F", 100.0, datetime.date(1996, 12, 1), "1-URGENT"))
    odf = spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate date, o_orderpriority string",
    )
    _stage(odf, tmp, "orders")
    out = {
        (r["bucket"], r["serial"]): r
        for r in sales_interpolate_linear(spark, tmp).collect()
    }
    jan = 1997 * 12 + 1
    assert out[(5, jan)]["src"] == "obs"
    assert out[(5, jan)]["value_milli"] == 10_000
    for off, milli in ((1, 15_000), (2, 20_000), (3, 25_000)):
        assert out[(5, jan + off)]["src"] == "interp"
        assert out[(5, jan + off)]["value_milli"] == milli
    assert out[(5, jan + 4)]["value_milli"] == 30_000
    # Dec 1996 precedes bucket 5's first observation -> edge, null
    assert out[(5, jan - 1)]["src"] == "edge"
    assert out[(5, jan - 1)]["value_milli"] is None


def test_dp_release_noise_is_bounded_and_nonnegative(spark):
    """The deterministic Laplace draw: released counts are clamped
    non-negative and within a 10-scale tail of the exact counts
    (b = 1/eps = 2 -> |noise| > 20 has probability < 5e-5; the fixed
    salted draw realizes well inside it)."""
    from pyspark.sql import functions as F

    from claim_analysis_engine_spark.operators.aggregates import (
        agg_dp_release,
    )
    from claim_analysis_engine_spark.tables import load
    from tests.conftest import SF_ORACLE

    exact = {
        r["event_type"]: r["n"]
        for r in load(spark, SF_ORACLE, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    rel = {
        r["event_type"]: r["n_released"]
        for r in agg_dp_release(spark, SF_ORACLE).collect()
    }
    assert set(rel) == set(exact)
    for k, v in rel.items():
        assert v >= 0.0
        assert abs(v - exact[k]) <= 20.0, (k, v, exact[k])
