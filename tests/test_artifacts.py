"""The artifact store (claim_analysis_engine_spark.artifacts).

Part 1: operators whose results the store (or Spark's CacheManager)
could replay must serve the NEW data after a table is rewritten in
place under the same path mid-session; repeat requests replay the
registry's op memo, and every file an op scans lies under the
directory that keys it. Part 2: the store's own contract, on a stub
session with no Spark."""

from __future__ import annotations

import os
import re
import shutil
import tempfile
from types import SimpleNamespace

import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from claim_analysis_engine_spark.registry import registry
from tests.conftest import SF_SMALL
from tests.oracle_harness import compare, duck_connection

# every artifact family the dashboard path reads (the series substrate,
# the tree, the alerts read-back, the CC labels), ops that reuse a
# frame within one call (dedup_simhash's signatures, the gram, term,
# shingle and band frames of the text ops and the ep4 funnel) and
# ep15. Every request goes through `query`, so each op's own result
# memo must miss after the rewrite too.
REWRITE_OPS = (
    "rs_tree_relational",
    "p6_rule_engine",
    "ep5_p2_summary",
    "rs_wrapper",
    "f_month_end_pred",
    "ep2_risk_radar",
    "dedup_cluster_cc",
    "dedup_simhash",
    "ep15_plant_analysis",
    "txt_idf_topterms",
    "txt_ngram_novelty",
    "dedup_minhash_lsh",
    "corpus_contamination",
    "ep4_corpus_e2e",
)
# rows-only ops checked against their relational twin's oracle
ORACLE_OF = {"rs_wrapper": "rs_tree_relational"}


def _rewrite_in_place(path: str, keep) -> None:
    """Replace a parquet file with a filtered copy: written under a
    temporary name, then renamed over the original."""
    table = pq.read_table(path)
    tmp = path + ".tmp"
    pq.write_table(table.filter(keep(table)), tmp)
    os.replace(tmp, path)


def test_in_place_rewrite_serves_the_new_data(spark, tmp_path):
    sf = tmp_path / "sf"
    sf.mkdir()
    for name in os.listdir(SF_SMALL):
        shutil.copyfile(os.path.join(SF_SMALL, name), sf / name)
    sf = str(sf)
    reg = registry()
    for op in REWRITE_OPS:
        reg[op].query(spark, sf).toPandas()

    # half the orders (every series' counts move) and every other
    # document (the near-dup graph loses nodes)
    _rewrite_in_place(
        f"{sf}/orders.parquet",
        lambda t: pc.equal(pc.bit_wise_and(t["o_orderkey"], 1), 0),
    )
    _rewrite_in_place(
        f"{sf}/documents.parquet",
        lambda t: pc.equal(pc.bit_wise_and(t["doc_id"], 1), 1),
    )

    con = duck_connection(sf)
    try:
        failed = {}
        for op in REWRITE_OPS:
            ok, why = compare(
                reg[op].query(spark, sf), con, reg[ORACLE_OF.get(op, op)].oracle
            )
            if not ok:
                failed[op] = why[:200]
    finally:
        con.close()
    assert not failed, f"stale results after an in-place rewrite: {failed}"


def test_repeat_requests_replay_the_op_memo(spark, tmp_path):
    """Three requests of one dashboard op on unchanged files: the first
    misses and computes, the others replay its stored blocks in one
    job each, and all three equal the oracle."""
    from claim_analysis_engine_spark import artifacts

    sf = str(tmp_path / "sf")
    shutil.copytree(SF_SMALL, sf)
    op = registry()["ppm"]
    before = artifacts.stats().get("op:ppm", {"hits": 0, "misses": 0})
    sc = spark.sparkContext
    con = duck_connection(sf)
    try:
        for i in range(3):
            group = f"op_memo_request_{i}"
            sc.setJobGroup(group, "ppm")
            try:
                result = op.query(spark, sf).toPandas()
                jobs = sc.statusTracker().getJobIdsForGroup(group)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            ok, why = compare(result, con, op.oracle)
            assert ok, f"request {i}: {why}"
            if i:
                assert len(jobs) <= 1, f"repeat request {i} ran {len(jobs)} jobs"
    finally:
        con.close()
    after = artifacts.stats()["op:ppm"]
    assert (after["misses"] - before["misses"], after["hits"] - before["hits"]) == (1, 2)


# The op memo keys a result by the files under sf_dir, so it is sound
# only if every file an op reads lies there, or in the staging it
# writes itself. Checked on the cold plans (the `cold_plan` fixture:
# built from an empty store and past the memo, so every artifact's
# scans are in the plan of each op that reads it).
_LOCATION = re.compile(r"Location: [A-Za-z]*FileIndex[^\n]*?\[([^\]]*)\]")


@pytest.mark.parametrize("op_id", sorted(registry()))
def test_every_scan_lies_under_the_keyed_dir_or_the_staging_root(cold_plan, op_id):
    sf, staging = os.path.realpath(SF_SMALL), os.path.realpath(tempfile.gettempdir())

    def under(path: str, root: str) -> bool:
        local = os.path.realpath(path.removeprefix("file:"))
        return local == root or local.startswith(root + os.sep)

    outside = []
    for listing in _LOCATION.findall(cold_plan(op_id)):
        shown = [p for p in listing.split(", ") if not p.startswith("... ")]
        outside += [p for p in shown if not (under(p, sf) or under(p, staging))]
        # explain abbreviates a scan of several paths to "p1, ... N
        # entries"; the hidden ones are let pass only in the op's own
        # staging (the layout ops' file lists), never beside sf_dir
        if len(shown) < len(listing.split(", ")) and not under(shown[0], staging):
            outside.append(listing)
    assert not outside, f"{op_id} scans files outside {sf} and {staging}: {outside}"


# ------------------------------------------------ the store, no Spark


def _stub_session(app: str = "app-1", start: int = 1):
    return SimpleNamespace(
        sparkContext=SimpleNamespace(applicationId=app, startTime=start)
    )


@pytest.fixture
def store():
    from claim_analysis_engine_spark import artifacts

    artifacts.clear()
    yield artifacts
    artifacts.clear()


@pytest.fixture
def inputs(tmp_path):
    d = tmp_path / "in"
    d.mkdir()
    (d / "a.parquet").write_bytes(b"aaaa")
    (d / "sub").mkdir()
    (d / "sub" / "b.parquet").write_bytes(b"bb")
    return d


def test_unchanged_inputs_hit_and_changed_size_or_mtime_miss(store, inputs):
    spark = _stub_session()
    builds = []

    def build():
        builds.append(1)
        return len(builds)

    assert store.get_or_build("k", spark, str(inputs), build) == 1
    assert store.get_or_build("k", spark, str(inputs), build) == 1
    assert store.stats() == {"k": {"hits": 1, "misses": 1}}

    (inputs / "sub" / "b.parquet").write_bytes(b"bbb")  # size changes
    assert store.get_or_build("k", spark, str(inputs), build) == 2

    st = os.stat(inputs / "a.parquet")  # same size, newer mtime
    os.utime(inputs / "a.parquet", ns=(st.st_atime_ns, st.st_mtime_ns + 1000))
    assert store.get_or_build("k", spark, str(inputs), build) == 3

    # params, kind and session are all part of the key
    assert store.get_or_build("k", spark, str(inputs), build, params=(1,)) == 4
    assert store.get_or_build("k2", spark, str(inputs), build) == 5
    assert store.get_or_build("k", _stub_session(start=2), str(inputs), build) == 6
    assert store.stats()["k"] == {"hits": 1, "misses": 5}


def test_missing_or_empty_dir_raises_and_none_skips_the_fingerprint(
    store, tmp_path
):
    spark = _stub_session()
    with pytest.raises(FileNotFoundError):
        store.get_or_build("k", spark, str(tmp_path / "absent"), lambda: 1)
    (tmp_path / "empty").mkdir()
    with pytest.raises(FileNotFoundError):
        store.get_or_build("k", spark, str(tmp_path / "empty"), lambda: 1)
    assert store.get_or_build("fixture", spark, None, lambda: "v") == "v"
    assert store.get_or_build("fixture", spark, None, lambda: "w") == "v"


def test_lru_eviction_at_the_bound_runs_on_evict(store, inputs, monkeypatch):
    monkeypatch.setattr(store, "MAX_ENTRIES", 2)
    spark, d = _stub_session(), str(inputs)
    evicted = []
    store.get_or_build("a", spark, d, lambda: "A", on_evict=evicted.append)
    store.get_or_build("b", spark, d, lambda: "B", on_evict=evicted.append)
    store.get_or_build("a", spark, d, lambda: "A2")  # a is now most recent
    store.get_or_build("c", spark, d, lambda: "C", on_evict=evicted.append)
    assert evicted == ["B"], "the least-recently-used entry must go"
    assert store.get_or_build("a", spark, d, lambda: "A2") == "A"
    assert store.get_or_build("b", spark, d, lambda: "B2") == "B2"
    assert evicted == ["B", "C"]


def test_clear_runs_on_evict_and_resets_stats(store, inputs):
    spark, d = _stub_session(), str(inputs)
    evicted = []
    store.get_or_build("a", spark, d, lambda: "A", on_evict=evicted.append)
    store.get_or_build("a", spark, d, lambda: "A")
    assert store.stats() == {"a": {"hits": 1, "misses": 1}}
    store.clear()
    assert evicted == ["A"]
    assert store.stats() == {}
    assert store.get_or_build("a", spark, d, lambda: "A2") == "A2"


class _Frame:
    """The two DataFrame members the registry's memo reads."""

    def __init__(self, streaming: bool) -> None:
        self.isStreaming = streaming

    def localCheckpoint(self, eager: bool = True):
        # lazy: the caller's first action computes and stores it once
        assert not eager
        return ("checkpointed", self)


def test_op_memo_keys_the_session_and_returns_streaming_frames_unmemoized(
    store, inputs
):
    from claim_analysis_engine_spark.registry import OpRegistry

    reg = OpRegistry()
    builds = []

    @reg.op("batch")
    def batch(spark, sf_dir):
        builds.append("batch")
        return _Frame(streaming=False)

    @reg.op("stream")
    def stream(spark, sf_dir):
        builds.append("stream")
        return _Frame(streaming=True)

    # the decorator hands back the raw function; the registry memoizes
    assert batch(None, None).isStreaming is False
    assert reg.ops["batch"].query.__wrapped__ is batch
    builds.clear()

    query, d = reg.ops["batch"].query, str(inputs)
    first = query(_stub_session(), d)
    assert first[0] == "checkpointed"
    assert query(_stub_session(), d) is first
    second_session = query(_stub_session(start=2), d)
    assert second_session is not first
    assert builds == ["batch", "batch"]
    assert store.stats()["op:batch"] == {"hits": 1, "misses": 2}

    builds.clear()
    frames = [reg.ops["stream"].query(_stub_session(), d) for _ in range(2)]
    assert all(isinstance(f, _Frame) and f.isStreaming for f in frames)
    assert frames[0] is not frames[1]
    assert builds == ["stream", "stream"]
