"""Generate PLANS.md: a per-operator physical-plan audit over the whole
registry — the legible artifact behind tests/test_plan_invariants.py's
machine checks. For every registered op, build the plan at sf0.001 (no
execution for pure queries; ops that materialize sinks/streams inside
query() do run their writes) and record:

  - exchanges:   # Exchange nodes (shuffles) in the formatted plan
  - bcast:       # BroadcastExchange / BroadcastHashJoin sides
  - bnlj:        # BroadcastNestedLoopJoin (sanctioned 1-row cross)
  - smj:         # SortMergeJoin
  - codegen:     # distinct whole-stage-codegen spans (`*(n)` markers
                 in simple-mode explain; formatted+AQE hides them)
  - pushed:      whether any scan carries non-empty PushedFilters
  - pyeval:      Arrow/Pandas eval nodes (the sanctioned Python path);
                 row-at-a-time BatchEvalPython is FORBIDDEN and the
                 suite fails before this report could record one

Work an op localCheckpoints while query() builds shows up in its final
plan as a `Scan ExistingRDD`; `checkpoint_plans()` records each such
frame's formatted plan, and the audit reads the final plan plus those
records. `build_cold()` builds each op from an empty artifact store
and past the registry's memo, so a row does not depend on which ops
were built before it.

Usage: python scripts/plan_audit.py [sf_dir] > /dev/null && cat PLANS.md
"""

from __future__ import annotations

import contextlib
import io
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, ".")

from claim_analysis_engine_spark import artifacts  # noqa: E402
from claim_analysis_engine_spark.registry import registry  # noqa: E402
from claim_analysis_engine_spark.session import get_spark  # noqa: E402


def explain_formatted(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@contextlib.contextmanager
def checkpoint_plans():
    """Yield a list that collects the formatted plan of every frame
    localCheckpointed inside the block. The session's frames are the
    classic DataFrame subclass, which overrides localCheckpoint, so the
    patch goes there and not on pyspark.sql.DataFrame."""
    from pyspark.sql.classic.dataframe import DataFrame

    original = DataFrame.localCheckpoint
    plans: list[str] = []

    def recording(self, *args, **kwargs):
        plans.append(explain_formatted(self))
        return original(self, *args, **kwargs)

    DataFrame.localCheckpoint = recording
    try:
        yield plans
    finally:
        DataFrame.localCheckpoint = original


def build_cold(spark, op, sf_dir: str):
    """Build ``op``'s frame from an empty artifact store, so the plans
    of the shared artifacts it reads are recorded in its own row
    whichever ops were built before it, and skip the registry's memo,
    whose replay would plan as one `Scan ExistingRDD`. Returns the
    frame and the checkpointed frames' formatted plans."""
    artifacts.clear()
    with checkpoint_plans() as checkpointed:
        df = op.query.__wrapped__(spark, sf_dir)
    return df, checkpointed


def audit(plan: str, formatted: str | None = None) -> dict:
    """`plan` is formatted+simple explain concatenated (the historical
    counters tolerate the duplication — both modes print the same node
    names once per node); the r15 scan/explode counters need exactly-
    once node counting, so they read the FORMATTED section alone."""
    fmt = formatted if formatted is not None else plan

    def count(pat: str) -> int:
        return len(re.findall(pat, plan))

    # r15 (r14 verdict ask #5): per-table parquet scan references and
    # explode nodes, so the batch-5/9 duplicate-scan rewrites are
    # regression-guarded by the committed table itself. Named tables
    # only (.../<table>.parquet Locations) — staged sink/stream
    # read-back dirs are per-run scratch, not corpus re-reads.
    tbl_refs: dict[str, int] = {}
    for m in re.finditer(r"Location: [A-Za-z]*FileIndex[^\n]*/(\w+)\.parquet", fmt):
        tbl_refs[m.group(1)] = tbl_refs.get(m.group(1), 0) + 1
    # formatted explain names only the FIRST root path of a multi-path
    # scan ("[p1, ... N entries]"), whatever spark.sql.maxMetadataStringLength
    # says; count the hidden paths under "?" so they cannot vanish
    for n_hidden in re.findall(r"Location: [^\n]*, \.\.\. (\d+) entries\]", fmt):
        tbl_refs["?"] = tbl_refs.get("?", 0) + int(n_hidden)

    return {
        "exchanges": count(r"\bExchange\b|\n\s*\+- Exchange"),
        "bcast": count(r"BroadcastExchange"),
        "bnlj": count(r"BroadcastNestedLoopJoin"),
        "smj": count(r"SortMergeJoin"),
        "codegen": len(set(re.findall(r"\*\((\d+)\)", plan))),
        "pushed": bool(re.search(r"PushedFilters: \[[^\]]", plan)),
        "pyeval": count(r"ArrowEvalPython|FlatMapGroupsInPandas|"
                        r"MapInPandas|FlatMapGroupsInPandasWithState"),
        "batch_eval": count(r"BatchEvalPython"),  # must stay 0
        "scans": len(re.findall(r"\(\d+\) Scan parquet ", fmt)),
        "tbl_refs": tbl_refs,
        "explodes": len(
            re.findall(r"\(\d+\) Generate(?:\s|$)", fmt, re.M)
        ),
    }


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark(app_name="plan-audit", shuffle_partitions=8)
    # AQE wraps unexecuted plans in AdaptiveSparkPlan(isFinalPlan=false),
    # which hides the `*(n)` codegen markers until runtime — audit the
    # STATIC plan instead (at runtime AQE only improves on it: coalesced
    # partitions, broadcast conversions, skew splits)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    rows = []
    for op_id, op in registry().items():
        try:
            df, checkpointed = build_cold(spark, op, sf_dir)
            fmt = explain_formatted(df) + "".join(checkpointed)
            buf = io.StringIO()
            with redirect_stdout(buf):
                # simple mode carries the `*(n)` whole-stage-codegen
                # markers that formatted+AQE hides
                df.explain()
            rows.append((op_id, audit(fmt + buf.getvalue(), fmt), None))
        except Exception as ex:  # noqa: BLE001 — report, don't die
            rows.append((op_id, None, f"{type(ex).__name__}: {str(ex)[:80]}"))
        print(op_id, "done", file=sys.stderr, flush=True)
    spark.stop()

    out = [
        "# PLANS.md — physical-plan audit (generated by scripts/plan_audit.py)",
        "",
        f"STATIC plans built at `{sf_dir}`, shuffle.partitions=8, AQE off",
        "for the audit only (AQE wraps unexecuted plans and hides codegen",
        "markers; at runtime it only improves on the static shape —",
        "coalesced partitions, broadcast conversions, skew splits; every",
        "query EXECUTES with AQE on). Machine-enforced",
        "invariants behind this table: zero `BatchEvalPython` (row-at-a-time",
        "Python) and zero `CartesianProduct` across the whole registry",
        "(tests/test_plan_invariants.py). `pyeval` counts the SANCTIONED",
        "Arrow-batched Python stages (applyInPandas/mapInPandas/pandas_udf).",
        "`bnlj` is the broadcast 1-row-scalar cross-join pattern. Sink/e2e",
        "ops show the plan of their RETURNED read-back frame; their write",
        "plans execute inside query() and are covered by value oracles.",
        "",
        "`scans` counts parquet scan NODES in the formatted plan plus the",
        "plans of the frames the op localCheckpoints while it builds (each",
        "op is built from an empty artifact store, so every op that reads",
        "an artifact counts its scans);",
        "`table refs` the per-named-table Location references;",
        "`explodes` the Generate nodes. Together they",
        "regression-guard the r14 batch-5/9 one-pass rewrites",
        "(tests/test_plan_invariants.py pins ceilings for those ops).",
        "",
        "| op | exchanges | bcast | bnlj | smj | codegen | pushed filters | arrow-py stages | scans | table refs | explodes |",
        "|---|---|---|---|---|---|---|---|---|---|---|",
    ]
    n_err = 0
    for op_id, a, err in rows:
        if a is None:
            out.append(
                f"| {op_id} | — | — | — | — | — | ERROR: {err} | — | — | — | — |"
            )
            n_err += 1
            continue
        assert a["batch_eval"] == 0, f"{op_id} plans BatchEvalPython"
        refs = (
            " ".join(
                f"{t}×{n}" for t, n in sorted(a["tbl_refs"].items())
            )
            or "—"
        )
        out.append(
            f"| {op_id} | {a['exchanges']} | {a['bcast']} | {a['bnlj']} | "
            f"{a['smj']} | {a['codegen']} | "
            f"{'yes' if a['pushed'] else '—'} | {a['pyeval'] or '—'} | "
            f"{a['scans'] or '—'} | {refs} | {a['explodes'] or '—'} |"
        )
    out.append("")
    out.append("## Known-heavy plans (by design, adjudicated in SURVEY §6)")
    out.append("")
    KNOWN_HEAVY = {
        "graph_pagerank": "10 power-iteration rounds — each is a tiny "
        "dst-keyed shuffle + broadcast of the rank vector; iterative floor",
        "rs_tree_relational": "the risk decision tree and the 11 rs_* "
        "sub-scores plan as projections of the checkpointed risk_features "
        "frame; its build (windows, decomposition joins, tail folds) runs "
        "once per input version inside risk._features, outside this plan",
        "sim_nprobe_sweep": "4 probe/search passes over one trained "
        "quantizer (the tuning curve costs its points)",
        "sim_nprobe_contract": "same sweep + the exact-truth branch",
        "txt_containment_sparse": "fixture generation + candidate + "
        "verify in one lineage (fixture rows stored per session)",
        "cdc_extract_roundtrip": "snapshot-diff CDC: two snapshot "
        "builds + the diff + the round-trip audit in one plan",
    }
    for op_id, reason in KNOWN_HEAVY.items():
        out.append(f"- `{op_id}` — {reason}")
    out.append("")
    out.append(f"{len(rows)} ops audited, {n_err} errors.")
    with open("PLANS.md", "w") as fh:
        fh.write("\n".join(out) + "\n")
    print(f"PLANS.md written: {len(rows)} ops, {n_err} errors", file=sys.stderr)


if __name__ == "__main__":
    main()
