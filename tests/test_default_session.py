"""Default-session conformance: the driver's correctness gate hands
registry queries its OWN SparkSession, which carries NONE of
session.get_spark's tuned confs. Round 7 shipped a silent-data-loss
bug exactly through that gap — storage.merge_upsert assumed
``spark.sql.sources.partitionOverwriteMode=dynamic`` (set only by the
builder's session factory), so under the driver's default (static)
session the second upload truncated every hub partition it didn't
touch (CORRECTNESS_r07 ep1_ingest_e2e: 4 rows vs oracle 7).

This file closes the whole bug class: a fixture strips every
runtime-settable conf session.py sets, then (a) replays the two-batch
upsert and asserts no partition is lost, and (b) runs every
sink-writing / sink-reading registry op against its DuckDB oracle on
the stripped session. Ops must self-heal any conf their semantics
depend on (the tables._load_events pattern, now also
tables.pinned_conf).
"""

from __future__ import annotations

import tempfile

import pytest

from claim_analysis_engine_spark import storage
from claim_analysis_engine_spark.registry import registry

from tests.conftest import SF_SMALL
from tests.oracle_harness import compare, duck_connection

# Every runtime-settable conf session.get_spark tunes (spark.ui.enabled
# is static — a default session differs there too but it can't affect
# results). Unset → Spark defaults: shuffle.partitions=200, AQE on,
# JVM timezone, Arrow off, partitionOverwriteMode=STATIC, nanosAsLong
# off — the exact environment the driver's gate runs in.
TUNED_CONFS = (
    "spark.sql.shuffle.partitions",
    "spark.sql.adaptive.enabled",
    "spark.sql.adaptive.coalescePartitions.enabled",
    "spark.sql.adaptive.skewJoin.enabled",
    "spark.sql.session.timeZone",
    "spark.sql.execution.arrow.pyspark.enabled",
    "spark.sql.sources.partitionOverwriteMode",
    "spark.sql.legacy.parquet.nanosAsLong",
)


@pytest.fixture()
def default_conf_spark(spark):
    saved = {k: spark.conf.get(k, None) for k in TUNED_CONFS}
    try:
        for k in TUNED_CONFS:
            spark.conf.unset(k)
        yield spark
    finally:
        # ops are allowed (encouraged) to self-heal confs mid-test, so
        # restore unconditionally to the tuned values other tests expect
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _claims(spark, rows):
    return spark.createDataFrame(
        rows,
        "claim_id string, plant string, reception_year int, "
        "reception_month int, load_seq int",
    )


def test_two_batch_upsert_keeps_untouched_partitions(default_conf_spark):
    """The round-7 FAIL, replayed on a static-overwrite session: batch 1
    spans 7 years, batch 2 touches only the last 2 — all 7 year
    partitions must survive the second write."""
    spark = default_conf_spark
    assert (
        spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static").lower()
        == "static"
    )
    hub = tempfile.mkdtemp(prefix="cae_default_hub_") + "/hub"
    b1 = _claims(
        spark,
        [(f"C{y}", "P1", y, 1, 1) for y in range(2019, 2026)],  # 7 years
    )
    storage.merge_upsert(spark, hub, b1)
    b2 = _claims(spark, [("C2024", "P2", 2024, 1, 2), ("C2025", "P2", 2025, 1, 2)])
    storage.merge_upsert(spark, hub, b2)

    back = spark.read.parquet(hub)
    got = {r["reception_year"]: r["plant"] for r in back.collect()}
    assert sorted(got) == list(range(2019, 2026)), "partitions were lost"
    assert got[2024] == "P2" and got[2025] == "P2", "overlap rows not replaced"
    assert got[2019] == "P1"
    # and the op restored the caller's conf afterwards
    assert (
        spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static").lower()
        == "static"
    )


# Every registry op that writes or reads a sink (parquet/orc/json/
# excel/csv hub, mart, alerts, stream sinks) — the surface where
# ambient-conf assumptions can change RESULTS, not just plans.
SINK_OPS = [
    "ep1_ingest_e2e",
    "snk_parquet_part",
    "snk_parquet_flat",
    "snk_json_series",
    "snk_series_refresh",
    "snk_excel",
    "snk_mart_diff",
    "snk_compaction",
    "src_csv",
    "src_excel",
    "src_parquet_flat",
    "src_json_settings",
    "src_orc_roundtrip",
    "src_schema_evolution",
    "util_clear",
    "p6_rule_engine",
    "ep5_p2_summary",
    "ep5_alerts_incremental",
    "evt_tumbling_stream",
    "evt_sessionize_stream",
    "evt_dedup_stream",
    "evt_join_stream",
    "evt_mart_refresh_stream",
    "evt_scd2_refresh_stream",
    # round-8 sink/layout surface
    "src_jsonl_roundtrip",
    "snk_csv_roundtrip",
    "src_logs_parse",
    "dedup_audit_hub",
    "snk_manifest_publish",
    "snk_manifest_timetravel",
    "prune_file_stats",
    "prune_zorder_2d",
    "src_partition_evolution",
    "evt_enrich_stream",
    "evt_outer_join_stream",
    "evt_pydatasource_stream",
    "ml_gbt_persist",
    # pattern-rule completion (see test_sink_ops_list_cannot_lag):
    # testdata readers + the partition-pruned scan + the CDC merge
    "src_parquet_part",
    "src_parquet_cols",
    "prune_partition",
    "merge_cdc_tombstone",
    # round-9 lakehouse surface
    "snk_vacuum_retention",
    # round-9 Python DataSource (generates its own data — the gate
    # proves registration + scan work on a default-conf session)
    "src_pydatasource_corpus",
    # round-12: the span-dedup gate stages waves + maintains a gram
    # index through foreachBatch parquet writes — exactly the
    # conf-sensitive sink surface this file exists for (the newer
    # r10-r11 gates earned their default-session evidence as driver
    # rows; this one gets it here before its first driver window)
    "evt_span_dedup_stream",
    # round-12: the Python DataSource WRITE path (two-phase commit)
    "snk_pydatasource_jsonl",
    # round-14: the sales-page capstone persists its long frame through
    # a fixed-column-order parquet save and certifies the READ-BACK
    # schema on the Total row — the save/read half must hold on a
    # default-conf session before its first driver window
    "ep16_sales_management",
]


def test_sink_ops_list_cannot_lag():
    """Registry-driven completeness rule: any op whose id says it
    writes or reads a sink/layout (snk_/src_/prune_/merge_) MUST be in
    SINK_OPS — a new sink op added without default-session coverage is
    exactly how the round-7 bug class would sneak back in. (Stream
    gates and e2e capstones don't share a prefix; they're enumerated
    above by hand.)"""
    import re

    pat = re.compile(r"^(snk_|src_|prune_|merge_)")
    lagging = [o for o in registry() if pat.match(o) and o not in SINK_OPS]
    assert not lagging, f"sink-pattern ops missing from SINK_OPS: {lagging}"


@pytest.fixture(scope="module")
def duck():
    con = duck_connection(SF_SMALL)
    yield con
    con.close()


@pytest.mark.parametrize("op_id", SINK_OPS)
def test_sink_op_on_default_session(default_conf_spark, duck, op_id):
    ops = registry()
    assert op_id in ops, f"{op_id} missing from registry"
    op = ops[op_id]
    # past the registry's memo: its key holds no conf, so a result an
    # earlier test stored on the tuned session would be replayed here
    out = op.query.__wrapped__(default_conf_spark, SF_SMALL).toPandas()
    if op.oracle is not None:
        ok, msg = compare(out, duck, op.oracle)
        assert ok, f"{op_id} on default-conf session: {msg}"
    else:
        assert len(out) >= 0  # rows-only ops: must at least run clean
