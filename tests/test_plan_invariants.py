"""Registry-wide physical-plan invariant: Python appears ONLY in
Arrow-batched form (ArrowEvalPython / FlatMapGroupsInPandas /
MapInPandas). A BatchEvalPython node — the row-at-a-time Python UDF —
anywhere in any registered operator's plan is a hot-path bug: it
serializes row by row through pickle instead of Arrow batches and is
the single biggest self-inflicted slowdown a PySpark pipeline can ship.

Runs at sf0.001 so the ops that execute work when invoked (sink
round-trips, the k-means trainer) stay cheap; the assertion reads the
ANALYZED plan string, execution results are discarded. An op's plan
here is its final formatted plan plus the plans of the frames it
localCheckpoints while it builds (scripts/plan_audit.checkpoint_plans):
checkpointed work shows up in the final plan only as `Scan ExistingRDD`.
Each op is built cold and past the registry's memo
(scripts/plan_audit.build_cold), so the plan holds the scans of every
artifact the op reads, whichever ops the session built before it.
"""

from __future__ import annotations

import os
import sys

import pytest

from claim_analysis_engine_spark.registry import registry

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "scripts"))
from plan_audit import explain_formatted  # noqa: E402

ALL_OPS = sorted(registry())

# ONE build + explain per op (the `cold_plan` fixture in conftest.py),
# shared by the invariant tests below and the scan-location test in
# tests/test_artifacts.py (r12 verdict ask #3: the two parametrized
# tests each rebuilt and re-explained every op — 678 query()
# invocations, and for sink/e2e ops query() EXECUTES its staging
# work; the plan string is identical either way, so pay it once).


@pytest.mark.parametrize("op_id", ALL_OPS)
def test_no_row_at_a_time_python(cold_plan, op_id):
    plan = cold_plan(op_id)
    assert "BatchEvalPython" not in plan, (
        f"{op_id} ships a row-at-a-time Python UDF:\n{plan}"
    )


# Ops whose plans legitimately contain a cartesian/unconditioned cross
# product: the broadcast of a 1-row global scalar or a tiny
# query/centroid/total frame (BroadcastNestedLoopJoin over a broadcast
# side is the SANCTIONED pattern; what must never appear is a
# CartesianProduct over two large sides).
_CARTESIAN_FORBIDDEN = "CartesianProduct"


@pytest.mark.parametrize("op_id", ALL_OPS)
def test_no_unbroadcast_cartesian(cold_plan, op_id):
    """A CartesianProduct node means two NON-broadcast sides are being
    pair-joined — quadratic shuffle IO at scale. Every intentional
    cross join in the registry broadcasts its small side, which plans
    as BroadcastNestedLoopJoin instead; assert the bad node never
    appears anywhere in the surface."""
    plan = cold_plan(op_id)
    assert _CARTESIAN_FORBIDDEN not in plan, (
        f"{op_id} plans a non-broadcast cartesian product:\n{plan}"
    )


def test_every_collect_site_is_annotated_bounded():
    """The per-round manual audit, machine-enforced (r14): a
    ``.collect()`` in the package is only legitimate when the collected
    frame is provably NOT corpus-proportional — model/vocab/k-result/
    1-row-sized, or count-capped. Every site must say so in place: the
    line itself or the 4 lines above must carry a boundedness
    annotation. A new unannotated collect fails here, so a
    rate-proportional driver pull (the r13 PQ-sample flag's class)
    can't land silently."""
    import pathlib
    import re

    import claim_analysis_engine_spark as pkg

    marker = re.compile(
        r"bounded|[a-z_]+-sized|-grain|keys ×|1-row|count-capped", re.I
    )
    offenders = []
    for p in pathlib.Path(pkg.__file__).parent.rglob("*.py"):
        lines = p.read_text().splitlines()
        for i, ln in enumerate(lines):
            if ".collect()" not in ln or ln.lstrip().startswith("#"):
                continue
            window = lines[max(0, i - 4) : i + 1]
            if not any(marker.search(w) for w in window):
                offenders.append(f"{p.name}:{i + 1}")
    assert not offenders, (
        f"unannotated .collect() sites (document the size bound in "
        f"place or restructure): {offenders}"
    )


def test_every_crossjoin_is_a_documented_tiny_frame_and_no_topandas():
    """Companion audits, machine-enforced (r14): (1) a crossJoin is
    only legitimate against a broadcast-small frame — 1-row stats,
    plane bits, centroids, bounded model state — and must show that on
    the line or within the 3 lines above (the AQE-off plan check in
    PLANS.md separately proves no CartesianProduct survives); (2) the
    package ships zero toPandas() — corpus-to-driver conversions are
    banned outright, not annotated."""
    import pathlib
    import re

    import claim_analysis_engine_spark as pkg

    marker = re.compile(
        r"broadcast|1-row|stats|plane|centroid|bounded|tiny|vocab|model",
        re.I,
    )
    offenders, topandas = [], []
    for p in pathlib.Path(pkg.__file__).parent.rglob("*.py"):
        lines = p.read_text().splitlines()
        for i, ln in enumerate(lines):
            if "toPandas()" in ln:
                topandas.append(f"{p.name}:{i + 1}")
            if "crossJoin" not in ln or ln.lstrip().startswith("#"):
                continue
            # +1 below: a multi-line crossJoin(...) often carries its
            # F.broadcast on the continuation line
            window = lines[max(0, i - 3) : i + 2]
            if not any(marker.search(w) for w in window):
                offenders.append(f"{p.name}:{i + 1}")
    assert not topandas, f"toPandas() in the package: {topandas}"
    assert not offenders, (
        f"crossJoin sites without a documented tiny-frame rationale: "
        f"{offenders}"
    )


# r15 (r14 verdict ask #5): machine-guard the r14 one-pass rewrites.
# Each entry pins the MAXIMUM parquet-scan references per named table
# and Generate (explode) nodes the op's formatted plan may contain —
# the counts the rewrites achieved. A future edit that re-introduces a
# duplicated corpus subtree (the batch-5/6/9 pathology class) fails
# here before it can ship silently. Ceilings equal the counts measured
# at sf0.001 on the shipped tree.
_SCAN_CEILINGS: dict[str, tuple[dict[str, int], int]] = {
    # op: ({table: max scan refs}, max Generate nodes)
    "dedup_merge": ({"orders": 1}, 1),
    "agg_lag_stats": ({"lineitem": 1, "orders": 1}, 0),
    "agg_backtest_snaive": ({"orders": 1, "customer": 1}, 0),
    "ep4_corpus_e2e": ({"documents": 1}, 1),
    "corpus_remove_dup_spans": ({"documents": 3}, 2),
    "ep13_span_curation_e2e": ({"documents": 3}, 2),
    "ep9_growth_e2e": ({"orders": 1}, 0),
    "ep11_rag_e2e": ({"documents": 1}, 4),
    "agg_cycle_time": ({"lineitem": 1, "orders": 1}, 0),
    "ep10_ops_e2e": ({"lineitem": 1, "orders": 2}, 0),
    "agg_hll_error_contract": ({"orders": 2}, 0),
    # one-scan series mart: no spine explode, no per-level re-reads
    "snk_series_refresh": ({"orders": 1}, 0),
}


@pytest.mark.parametrize("op_id", sorted(_SCAN_CEILINGS))
def test_one_pass_rewrites_keep_their_scan_counts(cold_plan, op_id):
    import re

    plan = cold_plan(op_id)
    max_refs, max_generates = _SCAN_CEILINGS[op_id]
    refs: dict[str, int] = {}
    for m in re.finditer(
        r"Location: [A-Za-z]*FileIndex[^\n]*/(\w+)\.parquet", plan
    ):
        refs[m.group(1)] = refs.get(m.group(1), 0) + 1
    # formatted explain names only the FIRST root path of a multi-path
    # scan ("[p1, ... N entries]"), whatever spark.sql.maxMetadataStringLength
    # says, so the paths it hides could be uncounted re-reads
    hidden = sum(map(int, re.findall(r"Location: [^\n]*, \.\.\. (\d+) entries\]", plan)))
    assert not hidden, (
        f"{op_id}: {hidden} scan paths hidden by abbreviated Location "
        f"lines cannot be checked against the ceilings"
    )
    for tbl, ceiling in max_refs.items():
        # a plan that shows no scan of the table checks nothing
        assert refs.get(tbl, 0) >= 1, (
            f"{op_id}: no parquet scan of {tbl} in its plan (refs: {refs})"
        )
        assert refs.get(tbl, 0) <= ceiling, (
            f"{op_id}: {refs.get(tbl, 0)} parquet scans of {tbl} exceed "
            f"the rewrite's ceiling {ceiling} — a duplicated subtree "
            f"crept back in (refs: {refs})"
        )
    n_gen = len(re.findall(r"\(\d+\) Generate(?:\s|$)", plan, re.M))
    assert n_gen <= max_generates, (
        f"{op_id}: {n_gen} Generate (explode) nodes exceed the "
        f"rewrite's ceiling {max_generates}"
    )


def test_series_mart_reads_its_hub_once(spark, tmp_path):
    """build_series_mart is one scan and three aggregations: its plan
    over a parquet hub holds exactly one parquet scan, and no Window or
    Generate node (the zero-fill runs in higher-order functions)."""
    import datetime
    import re

    from claim_analysis_engine_spark import storage

    hub = str(tmp_path / "hub")
    spark.createDataFrame(
        [("P", "C", "M", "S", datetime.date(2024, m, 3), m, True) for m in (1, 3)],
        "plant string, product_category2 string, major_category string, "
        "middle_category string, reception_date date, lag_days int, "
        "lag_valid boolean",
    ).write.parquet(hub)
    plan = explain_formatted(
        storage.build_series_mart(spark.read.parquet(hub), as_of="2024-03-31")
    )
    assert len(re.findall(r"\(\d+\) Scan parquet ", plan)) == 1, plan
    assert not re.search(r"\(\d+\) (Window|Generate)\b", plan), plan
