"""Storage-layer behavior tests: hub merge-upsert keep-last semantics
with partition-scoped rewrite, the series-mart golden document
(reference scripts/run_phase1_verification.py fixture style), guarded
cleanup, and the gated Excel bridge."""

from __future__ import annotations

import datetime
import os
import random
import tempfile

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

from claim_analysis_engine_spark import etl, storage
from tests.oracle_harness import compare

_MART_COLS = (
    "plant string, product_category2 string, major_category string, "
    "middle_category string, reception_date date, lag_days int, lag_valid boolean"
)


def _claims(spark, rows):
    return spark.createDataFrame(
        rows,
        "claim_id string, plant string, reception_year int, reception_month int, "
        "load_seq int",
    )


def test_merge_upsert_keep_last_and_partition_scope(spark):
    hub = tempfile.mkdtemp(prefix="cae_test_hub_")
    first = _claims(
        spark,
        [
            ("C1", "OLD", 2024, 1, 0),
            ("C2", "KEEP", 2024, 2, 0),
            ("C3", "KEEP", 2023, 12, 0),
        ],
    )
    storage.write_hub(first, hub)

    # second upload: updates C1 (same partition) and adds C4
    batch = _claims(spark, [("C1", "NEW", 2024, 1, 1), ("C4", "ADD", 2024, 1, 1)])
    storage.merge_upsert(spark, hub, batch)

    got = {
        r["claim_id"]: r["plant"] for r in spark.read.parquet(hub).collect()
    }
    assert got == {"C1": "NEW", "C2": "KEEP", "C3": "KEEP", "C4": "ADD"}

    periods = {
        (r["reception_year"], r["reception_month"]): r["n_rows"]
        for r in storage.available_periods(spark, hub).collect()
    }
    assert periods == {(2023, 12): 1, (2024, 1): 2, (2024, 2): 1}


def _hub_rows(spark, hub):
    return sorted(
        (r["claim_id"], r["plant"], r["reception_year"], r["reception_month"])
        for r in spark.read.parquet(hub).collect()
    )


def test_merge_upsert_moved_claim_keeps_one_row(spark, tmp_path):
    """A re-upload that moves a claim to another month replaces its old
    row: the partition that held it is read and rewritten too, and a
    partition left without rows disappears."""
    hub = str(tmp_path / "hub")
    storage.write_hub(_claims(spark, [("C1", "OLD", 2024, 1, 0)]), hub)
    storage.merge_upsert(spark, hub, _claims(spark, [("C1", "NEW", 2024, 2, 1)]))
    assert _hub_rows(spark, hub) == [("C1", "NEW", 2024, 2)]
    assert not (tmp_path / "hub" / "reception_year=2024" / "reception_month=1").exists()


def test_merge_upsert_keeps_undated_claims(spark, tmp_path):
    """A batch of undated claims (null partition keys) merges into the
    hub's null-key partition; the undated claims already there stay."""
    hub = str(tmp_path / "hub")
    storage.write_hub(
        _claims(spark, [("C1", "U", None, None, 0), ("C2", "D", 2024, 1, 0)]), hub
    )
    storage.merge_upsert(spark, hub, _claims(spark, [("C3", "U", None, None, 1)]))
    assert _hub_rows(spark, hub) == [
        ("C1", "U", None, None), ("C2", "D", 2024, 1), ("C3", "U", None, None)
    ]


def test_merge_upsert_job_budget_and_scan_scope(spark, tmp_path):
    """A one-month batch merged into a 36-month hub: at most 8 Spark
    jobs; only the claim_id column is read from the whole hub, all
    columns only from the directories it rewrites; every hub directory
    holds one file."""
    import re

    hub = tmp_path / "hub"
    months = [(2021 + m // 12, m % 12 + 1) for m in range(36)]
    storage.write_hub(
        _claims(spark, [(f"C{i}", "OLD", y, m, 0) for i, (y, m) in enumerate(months * 3)]),
        str(hub),
    )
    # C5 moves from 2021-06 into the batch's month, 2023-12
    batch = _claims(
        spark, [("C5", "NEW", 2023, 12, 1), ("C900", "ADD", 2023, 12, 1)]
    ).localCheckpoint()
    sc = spark.sparkContext
    store = spark._jsparkSession.sharedState().statusStore()

    def executions() -> list:
        # the store keeps only the newest executions; select by id
        ex = store.executionsList()
        return [ex.apply(i) for i in range(ex.size())]

    first = max((e.executionId() for e in executions()), default=-1)
    sc.setJobGroup("merge_upsert_budget", "merge_upsert")
    try:
        storage.merge_upsert(spark, str(hub), batch)
        jobs = sc.statusTracker().getJobIdsForGroup("merge_upsert_budget")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(jobs) <= 8, f"merge_upsert launched {len(jobs)} jobs"

    scans = [
        (loc, schema)
        for e in executions()
        if e.executionId() > first
        for loc, schema in re.findall(
            r"Location: \w+ \[([^\]]*)\]\n(?:[^\n]*\n)*?ReadSchema: (\S+)",
            e.physicalPlanDescription(),
        )
    ]
    rewritten = {
        f"{hub.as_uri()}/reception_year={y}/reception_month={m}".replace("file:///", "file:/")
        for y, m in ((2021, 6), (2023, 12))
    }

    def paths(loc: str) -> tuple[str, int]:
        """(first path, path count): a multi-path Location names its
        first path, then "... <n> entries"."""
        first, _, more = loc.partition(", ... ")
        return first, 1 + (int(more.split()[0]) if more else 0)

    full = [paths(loc) for loc, schema in scans if schema != "struct<claim_id:string>"]
    assert full and all(p in rewritten and n == len(rewritten) for p, n in full), scans
    assert any(schema == "struct<claim_id:string>" for _, schema in scans), scans

    files = {}
    for f in hub.rglob("*.parquet"):
        files.setdefault(f.parent, []).append(f)
    assert len(files) == 36 and all(len(v) == 1 for v in files.values())
    got = {r["claim_id"]: (r["plant"], r["reception_month"]) for r in spark.read.parquet(str(hub)).collect()}
    assert len(got) == 109 and got["C5"] == ("NEW", 12) and got["C900"] == ("ADD", 12)


def test_series_mart_golden(spark):
    # the reference dummy-fixture scenario: one group, 3-month spine,
    # mixed valid/invalid lag, two middle categories
    rows = [
        ("PLANT_A", "CAT2_X", "MAJOR_P", "M1", datetime.date(2024, 1, 5), 5, True),
        ("PLANT_A", "CAT2_X", "MAJOR_P", "M1", datetime.date(2024, 1, 9), -1, False),
        ("PLANT_A", "CAT2_X", "MAJOR_P", "M2", datetime.date(2024, 2, 2), 10, True),
        ("PLANT_A", "CAT2_X", "MAJOR_P", "M1", datetime.date(2024, 3, 7), 3, True),
    ]
    df = spark.createDataFrame(
        rows,
        "plant string, product_category2 string, major_category string, "
        "middle_category string, reception_date date, lag_days int, lag_valid boolean",
    )
    docs = storage.build_series_mart(df, as_of="2024-03-15").collect()
    assert len(docs) == 1
    doc = docs[0]
    assert doc["key"] == "PLANT_A_CAT2_X_MAJOR_P"
    assert doc["meta"]["last_updated"] == "2024-03-15"
    assert doc["meta"]["champion_model"] is None

    # zero-filled parent history: all-row counts [2, 1, 1]
    hist = [(h["date"], h["count"]) for h in doc["data"]["history"]]
    assert hist == [("2024-01", 2), ("2024-02", 1), ("2024-03", 1)]
    assert doc["data"]["forecast"] == []

    # stats over VALID counts [1, 1, 1]: mean 1, std 0, slope 0;
    # avg_lag = (5 + 10 + 3) / 3 = 6.0
    ps = doc["meta"]["parent_stats"]
    assert ps["mean"] == pytest.approx(1.0)
    assert ps["std"] == pytest.approx(0.0)
    assert ps["slope"] == pytest.approx(0.0)
    assert ps["avg_lag_days"] == pytest.approx(6.0)

    # children sorted by sub_key; M1 all-counts [2,0,1], valid [1,0,1]
    kids = {c["sub_key"]: c for c in doc["children"]}
    assert list(kids) == ["M1", "M2"]
    m1 = kids["M1"]
    assert [(h["date"], h["count"]) for h in m1["history"]] == [
        ("2024-01", 2),
        ("2024-02", 0),
        ("2024-03", 1),
    ]
    assert m1["stats"]["mean"] == pytest.approx(round(2 / 3, 6))
    assert m1["stats"]["std"] == pytest.approx(0.57735)
    assert m1["stats"]["slope"] == pytest.approx(0.0)
    assert m1["stats"]["avg_lag_days"] == pytest.approx(4.0)
    m2 = kids["M2"]
    assert m2["stats"]["avg_lag_days"] == pytest.approx(10.0)


def test_incremental_refresh_rebuilds_only_touched_groups(spark):
    rows = [
        ("PLANT_A", "C", "M1", "S1", datetime.date(2024, 1, 5), 5, True),
        ("PLANT_A", "C", "M1", "S1", datetime.date(2024, 2, 5), 4, True),
        ("PLANT_B", "C", "M2", "S1", datetime.date(2024, 1, 9), 3, True),
        ("PLANT_B", "C", "M2", "S1", datetime.date(2024, 2, 9), 2, True),
    ]
    schema = (
        "plant string, product_category2 string, major_category string, "
        "middle_category string, reception_date date, lag_days int, lag_valid boolean"
    )
    full = spark.createDataFrame(rows, schema)
    # upload touches only PLANT_A/C/M1 (a new claim within the spine)
    batch = spark.createDataFrame(
        [("PLANT_A", "C", "M1", "S1", datetime.date(2024, 2, 20), 7, True)], schema
    )
    merged = full.unionByName(batch)
    docs = storage.refresh_series_incremental(merged, batch, as_of="2024-02-28")
    keys = sorted(d["key"] for d in docs.collect())
    assert keys == ["PLANT_A_C_M1"]  # PLANT_B untouched → not rebuilt
    doc = docs.collect()[0]
    hist = [(h["date"], h["count"]) for h in doc["data"]["history"]]
    assert hist == [("2024-01", 1), ("2024-02", 2)]  # batch row included


def test_incremental_refresh_detects_spine_extension(spark):
    """A batch whose rows create a NEW boundary month extends the
    global zero-fill spine, which changes untouched documents too —
    the function must detect this itself and produce documents
    identical to a full rebuild."""
    rows = [
        ("PLANT_A", "C", "M1", "S1", datetime.date(2024, 1, 5), 5, True),
        ("PLANT_A", "C", "M1", "S1", datetime.date(2024, 2, 5), 4, True),
        ("PLANT_B", "C", "M2", "S1", datetime.date(2024, 1, 9), 3, True),
        ("PLANT_B", "C", "M2", "S1", datetime.date(2024, 2, 9), 2, True),
    ]
    schema = (
        "plant string, product_category2 string, major_category string, "
        "middle_category string, reception_date date, lag_days int, lag_valid boolean"
    )
    full = spark.createDataFrame(rows, schema)
    # the upload's 2024-04 row extends the spine beyond the hub's max
    batch = spark.createDataFrame(
        [("PLANT_A", "C", "M1", "S1", datetime.date(2024, 4, 2), 7, True)], schema
    )
    merged = full.unionByName(batch)
    inc = storage.refresh_series_incremental(merged, batch, as_of="2024-04-30")
    fullbuild = storage.build_series_mart(merged, as_of="2024-04-30")
    inc_rows = {r["key"]: r.asDict(recursive=True) for r in inc.collect()}
    full_rows = {r["key"]: r.asDict(recursive=True) for r in fullbuild.collect()}
    assert inc_rows == full_rows  # includes untouched PLANT_B
    # every document's spine now runs Jan..Apr (zero-filled Mar)
    hist_b = [
        (h["date"], h["count"]) for h in inc_rows["PLANT_B_C_M2"]["data"]["history"]
    ]
    assert hist_b == [("2024-01", 1), ("2024-02", 1), ("2024-03", 0), ("2024-04", 0)]


def test_incremental_refresh_uses_full_hub_spine_for_narrow_groups(spark):
    """A touched group narrower than the hub range must still zero-fill
    over the FULL hub spine (injected bounds), matching a full rebuild
    for that group exactly."""
    rows = [
        ("PLANT_A", "C", "M1", "S1", datetime.date(2024, 2, 5), 5, True),
        ("PLANT_B", "C", "M2", "S1", datetime.date(2024, 1, 9), 3, True),
        ("PLANT_B", "C", "M2", "S1", datetime.date(2024, 3, 9), 2, True),
    ]
    schema = (
        "plant string, product_category2 string, major_category string, "
        "middle_category string, reception_date date, lag_days int, lag_valid boolean"
    )
    full = spark.createDataFrame(rows, schema)
    # batch touches only PLANT_A, whose own rows span just 2024-02
    batch = spark.createDataFrame(
        [("PLANT_A", "C", "M1", "S1", datetime.date(2024, 2, 20), 7, True)], schema
    )
    merged = full.unionByName(batch)
    inc = {r["key"]: r.asDict(recursive=True)
           for r in storage.refresh_series_incremental(
               merged, batch, as_of="2024-03-31").collect()}
    assert set(inc) == {"PLANT_A_C_M1"}  # PLANT_B untouched
    fullbuild = {r["key"]: r.asDict(recursive=True)
                 for r in storage.build_series_mart(
                     merged, as_of="2024-03-31").collect()}
    assert inc["PLANT_A_C_M1"] == fullbuild["PLANT_A_C_M1"]
    hist = [(h["date"], h["count"]) for h in inc["PLANT_A_C_M1"]["data"]["history"]]
    assert hist == [("2024-01", 0), ("2024-02", 2), ("2024-03", 0)]


def _mart_fixture(n_months: int) -> list[tuple]:
    """Seeded claims over an ``n_months`` spine starting 2023-11, plus
    the edge rows the mart must handle: a null and an empty middle
    category, a series with no valid lag, a series present only at the
    spine's ends, a valid row without lag days, undated rows and a
    null plant."""
    rng = random.Random(n_months)
    spine = [
        datetime.date(2023 + (10 + i) // 12, (10 + i) % 12 + 1, 1)
        for i in range(n_months)
    ]

    def day(m: datetime.date) -> datetime.date:
        return m.replace(day=rng.randint(1, 28))

    rows = []
    for _ in range(240):
        lag = rng.randint(-3, 30)
        rows.append((
            rng.choice(["P1", "P2", "P3"]), rng.choice(["C1", "C2"]),
            rng.choice(["M1", "M2"]), rng.choice(["S1", "S2", "S3", "", None]),
            day(rng.choice(spine)), lag, lag >= 0,
        ))
    first, last = spine[0], spine[-1]
    rows += [
        ("PZ", "C1", "M1", "S1", day(first), -2, False),  # no valid lag
        ("PZ", "C1", "M1", "S2", day(last), -1, False),
        ("PE", "C1", "M1", "S1", day(first), 4, True),  # spine ends only
        ("PE", "C1", "M1", "S1", day(last), 6, True),
        ("PE", "C1", "M1", None, day(last), 9, True),
        ("P1", "C1", "M1", "S1", day(first), None, True),  # valid, no lag days
        ("PN", "C1", "M1", None, day(first), 2, True),  # no named child
        ("P1", "C1", "M1", "S1", None, 3, True),  # undated: dropped
        ("PD", "C1", "M1", "S1", None, 1, True),
        (None, "C1", "M1", "S1", day(first), 5, True),  # null plant
    ]
    return rows


# DuckDB oracle of the series mart. Spine: every month from the first to
# the last dated claim. A parent series holds every dated row of a
# (plant, cat2, major) with no null key; each non-null middle category
# is a child series; a parent without a child has no document. History
# counts all rows; mean/std/slope use Lag_Valid counts (slope over the
# last three spine months); avg_lag_days averages valid lag days.
_MART_ORACLE = """
WITH base AS (
  SELECT plant, product_category2 AS cat2, major_category AS major,
         middle_category AS middle, strftime(reception_date, '%Y-%m') AS month,
         lag_days, lag_valid
  FROM claims WHERE reception_date IS NOT NULL
),
spine AS (
  SELECT strftime(m, '%Y-%m') AS month,
         row_number() OVER (ORDER BY m) AS idx, count(*) OVER () AS n
  FROM (SELECT unnest(generate_series(
          min(date_trunc('month', reception_date))::TIMESTAMP,
          max(date_trunc('month', reception_date))::TIMESTAMP,
          INTERVAL 1 MONTH)) AS m
        FROM claims)
),
members AS (
  SELECT plant, cat2, major, middle AS sub_key, month, lag_days, lag_valid
  FROM base WHERE middle IS NOT NULL
  UNION ALL
  SELECT plant, cat2, major, NULL, month, lag_days, lag_valid FROM base
),
series AS (
  SELECT DISTINCT plant, cat2, major, sub_key FROM members m
  WHERE plant IS NOT NULL AND cat2 IS NOT NULL AND major IS NOT NULL
    AND EXISTS (SELECT 1 FROM base b WHERE b.plant = m.plant
                AND b.cat2 = m.cat2 AND b.major = m.major
                AND b.middle IS NOT NULL)
),
counts AS (
  SELECT plant, cat2, major, sub_key, month, count(*) AS n_all,
         count(*) FILTER (WHERE lag_valid) AS n_valid
  FROM members GROUP BY ALL
),
zf AS (
  SELECT s.plant, s.cat2, s.major, s.sub_key, p.month, p.idx, p.n,
         coalesce(c.n_all, 0) AS n_all, coalesce(c.n_valid, 0) AS n_valid
  FROM series s CROSS JOIN spine p
  LEFT JOIN counts c ON c.plant = s.plant AND c.cat2 = s.cat2
   AND c.major = s.major AND c.sub_key IS NOT DISTINCT FROM s.sub_key
   AND c.month = p.month
),
stats AS (
  SELECT plant, cat2, major, sub_key,
         round(avg(n_valid), 6) AS mean,
         round(coalesce(stddev_samp(n_valid), 0.0), 6) AS std,
         round(coalesce(regr_slope(CASE WHEN idx > n - 3 THEN n_valid END,
                                   CASE WHEN idx > n - 3 THEN idx END), 0.0), 6)
           AS slope
  FROM zf GROUP BY ALL
),
lag AS (
  SELECT plant, cat2, major, sub_key,
         round(coalesce(avg(lag_days) FILTER (WHERE lag_valid), 0.0), 1)
           AS avg_lag_days
  FROM members GROUP BY ALL
)
"""

_MART_ORACLE_STATS = _MART_ORACLE + """
SELECT concat_ws('_', s.plant, s.cat2, s.major) AS key, s.sub_key,
       CAST(CASE WHEN s.sub_key IS NULL THEN 0 ELSE row_number() OVER (
         PARTITION BY s.plant, s.cat2, s.major, s.sub_key IS NULL
         ORDER BY s.sub_key) END AS BIGINT) AS pos,
       s.mean, s.std, s.slope, l.avg_lag_days
FROM stats s JOIN lag l ON l.plant = s.plant AND l.cat2 = s.cat2
 AND l.major = s.major AND l.sub_key IS NOT DISTINCT FROM s.sub_key
"""

_MART_ORACLE_HISTORY = _MART_ORACLE + """
SELECT concat_ws('_', plant, cat2, major) AS key, sub_key, idx, month,
       n_all AS "count"
FROM zf
"""


def test_series_mart_matches_oracle_per_child(spark):
    """Every field of every mart document, parent and child, against
    the DuckDB oracle: history, mean, std, slope, avg_lag_days and the
    children's order. One- and two-month spines pin the degenerate
    std/slope cases."""
    for n_months in (7, 2, 1):
        rows = _mart_fixture(n_months)
        docs = storage.build_series_mart(
            spark.createDataFrame(rows, _MART_COLS), as_of="2024-06-01"
        ).collect()
        stats, history = [], []
        for d in docs:
            assert d["meta"]["last_updated"] == "2024-06-01"
            assert d["meta"]["warning_level"] == 0
            assert d["meta"]["champion_model"] is None
            assert d["data"]["forecast"] == []
            series = [(None, 0, d["meta"]["parent_stats"], d["data"]["history"])]
            series += [
                (c["sub_key"], i, c["stats"], c["history"])
                for i, c in enumerate(d["children"], 1)
            ]
            for sub_key, pos, s, hist in series:
                stats.append((d["key"], sub_key, pos, s["mean"], s["std"],
                              s["slope"], s["avg_lag_days"]))
                history += [(d["key"], sub_key, i, h["date"], h["count"])
                            for i, h in enumerate(hist, 1)]

        con = duckdb.connect()
        con.execute(
            "CREATE TABLE claims (plant VARCHAR, product_category2 VARCHAR, "
            "major_category VARCHAR, middle_category VARCHAR, "
            "reception_date DATE, lag_days INTEGER, lag_valid BOOLEAN)"
        )
        con.executemany("INSERT INTO claims VALUES (?, ?, ?, ?, ?, ?, ?)", rows)
        got = pd.DataFrame(stats, columns=["key", "sub_key", "pos", "mean", "std",
                                           "slope", "avg_lag_days"])
        ok, msg = compare(got, con, _MART_ORACLE_STATS)
        assert ok, f"{n_months}-month spine, stats: {msg}"
        got = pd.DataFrame(history, columns=["key", "sub_key", "idx", "month", "count"])
        ok, msg = compare(got, con, _MART_ORACLE_HISTORY)
        assert ok, f"{n_months}-month spine, history: {msg}"


def _docs(df) -> dict[str, dict]:
    return {r["key"]: r.asDict(recursive=True) for r in df.collect()}


def _boundary_correction(spark, tmp_path):
    """A parquet hub over 2024-01..03 after PLANT_A re-uploaded its
    March claims; PLANT_B's March rows stay, so the spine cannot move.
    Returns (post-merge hub frame, batch)."""
    rows = [
        ("A1", "PLANT_A", "C", "M1", "S1", datetime.date(2024, 1, 5), 5, True, 0),
        ("A2", "PLANT_A", "C", "M1", "S2", datetime.date(2024, 3, 5), 4, True, 0),
        ("B1", "PLANT_B", "C", "M2", "S1", datetime.date(2024, 1, 9), 3, True, 0),
        ("B2", "PLANT_B", "C", "M2", "S1", datetime.date(2024, 3, 9), -2, False, 0),
    ]
    schema = "claim_id string, " + _MART_COLS + ", load_seq int"
    batch = spark.createDataFrame(
        [
            ("A2", "PLANT_A", "C", "M1", "S1", datetime.date(2024, 3, 6), 7, True, 1),
            ("A3", "PLANT_A", "C", "M1", "S1", datetime.date(2024, 3, 8), 2, True, 1),
        ],
        schema,
    )
    parts = [F.year("reception_date").alias("reception_year"),
             F.month("reception_date").alias("reception_month")]
    hub = str(tmp_path / "hub")
    storage.write_hub(spark.createDataFrame(rows, schema).select("*", *parts), hub)
    storage.merge_upsert(spark, hub, batch.select("*", *parts))
    return storage.read_hub(spark, hub), batch


def test_incremental_refresh_empty_batch_writes_nothing(spark):
    claims = spark.createDataFrame(_mart_fixture(3), _MART_COLS)
    docs = storage.refresh_series_incremental(claims, claims.limit(0), as_of="2024-02-01")
    assert docs.collect() == []


def test_incremental_refresh_undated_batch_keeps_spine(spark):
    """Reception dates the engine cannot parse become null; such a batch
    adds no month, so the refresh stays incremental over the hub's
    spine and rebuilds only the series it touches."""
    hub = spark.createDataFrame(_mart_fixture(3), _MART_COLS)
    batch = spark.createDataFrame(
        [("P2", "C1", "M1", "S1", d, 4, True) for d in ("N/A", "2023-02-30", "??")],
        _MART_COLS.replace("reception_date date", "reception_date string"),
    ).withColumn("reception_date", etl.safe_date_parse(F.col("reception_date")))
    claims = hub.unionByName(batch)
    inc = _docs(storage.refresh_series_incremental(claims, batch, as_of="2024-02-01"))
    full = _docs(storage.build_series_mart(claims, as_of="2024-02-01"))
    assert set(inc) == {"P2_C1_M1"} and len(full) > 1
    assert inc["P2_C1_M1"] == full["P2_C1_M1"]
    assert [h["date"] for h in inc["P2_C1_M1"]["data"]["history"]] == [
        "2023-11", "2023-12", "2024-01"
    ]


def test_incremental_refresh_boundary_month_correction_stays_incremental(spark, tmp_path):
    claims, batch = _boundary_correction(spark, tmp_path)
    inc = _docs(storage.refresh_series_incremental(claims, batch, as_of="2024-03-31"))
    full = _docs(storage.build_series_mart(claims, as_of="2024-03-31"))
    assert set(inc) == {"PLANT_A_C_M1"} and set(full) == {"PLANT_A_C_M1", "PLANT_B_C_M2"}
    assert inc["PLANT_A_C_M1"] == full["PLANT_A_C_M1"]
    hist = [(h["date"], h["count"]) for h in inc["PLANT_A_C_M1"]["data"]["history"]]
    assert hist == [("2024-01", 1), ("2024-02", 0), ("2024-03", 2)]


def test_incremental_refresh_correction_launches_two_jobs(spark, tmp_path):
    """The refresh decision is two small collects, one Spark job each;
    the documents themselves stay lazy until the caller writes them."""
    claims, batch = _boundary_correction(spark, tmp_path)
    sc = spark.sparkContext
    sc.setJobGroup("mart_refresh_decision", "refresh_series_incremental")
    try:
        storage.refresh_series_incremental(claims, batch, as_of="2024-03-31")
        jobs = sc.statusTracker().getJobIdsForGroup("mart_refresh_decision")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(jobs) <= 2, f"refresh decision launched {len(jobs)} jobs"


def test_util_clear_guards(tmp_path):
    target = tmp_path / "data" / "store"
    target.mkdir(parents=True)
    (target / "f.txt").write_text("x")
    # refuses without confirm
    assert storage.util_clear(str(target)) is False
    assert target.exists()
    assert storage.util_clear(str(target), confirm=True) is True
    assert not target.exists()
    # refuses suspicious short paths even with confirm
    with pytest.raises(ValueError):
        storage.util_clear("/tmp", confirm=True)


def test_excel_round_trip(spark):
    # the zip-of-XML xlsx writer and reader; values — including special
    # XML characters — must round-trip
    out = os.path.join(tempfile.mkdtemp(), "t.xlsx")
    df = spark.createDataFrame(
        [("a", "1"), ("b & <c>", "2"), ("유형", "3")], "name string, v string"
    )
    storage.write_excel(df, out)
    back = storage.read_excel(spark, out)
    assert back.columns == ["name", "v"]
    assert sorted((r.name, r.v) for r in back.collect()) == [
        ("a", "1"),
        ("b & <c>", "2"),
        ("유형", "3"),
    ]


def test_xlsx_helpers_low_level(tmp_path):
    p = str(tmp_path / "x.xlsx")
    storage.xlsx_write_rows(p, ["h1", "h2"], [("r1", None), ("r2", "v")])
    header, rows = storage.xlsx_read_rows(p)
    assert header == ["h1", "h2"]
    assert rows == [("r1", ""), ("r2", "v")]


_EXCEL_HEADER_ROW = (
    '<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c>'
    '<c r="C1" t="s"><v>2</v></c></row>'
)


def _hand_built_xlsx(path: str, rows_xml: str) -> None:
    """A workbook as Excel writes it: a shared-strings table and the
    given sheet rows, whose cells carry their references."""
    import zipfile

    main = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    strings = ["상담번호", "플랜트", "수량", "C001", "P2"]
    shared = f'<sst xmlns="{main}">' + "".join(
        f"<si><t>{t}</t></si>" for t in strings
    ) + "</sst>"
    sheet = f'<worksheet xmlns="{main}"><sheetData>{rows_xml}</sheetData></worksheet>'
    with zipfile.ZipFile(path, "w") as z:
        for name, content in storage._XLSX_STATIC.items():
            z.writestr(name, content)
        z.writestr("xl/sharedStrings.xml", shared)
        z.writestr("xl/worksheets/sheet1.xml", sheet)


def test_xlsx_reader_places_cells_by_reference(spark, tmp_path):
    """Excel omits empty cells and skipped rows. Omitted cells must not
    shift later cells left: C2's quantity stays under 수량 and B4's
    plant under 플랜트, every row is padded to the header's width, the
    skipped row 3 yields no row, and cells without a reference follow
    the previous cell. A cell right of the header is refused."""
    p = str(tmp_path / "excel_written.xlsx")
    _hand_built_xlsx(
        p,
        _EXCEL_HEADER_ROW
        + '<row r="2"><c r="A2" t="s"><v>3</v></c><c r="C2"><v>7</v></c></row>'
        '<row r="4"><c r="B4" t="s"><v>4</v></c></row>'
        '<row r="5"><c t="inlineStr"><is><t>C009</t></is></c>'
        '<c t="inlineStr"><is><t>P9</t></is></c></row>',
    )
    header, rows = storage.xlsx_read_rows(p)
    assert header == ["상담번호", "플랜트", "수량"]
    assert rows == [("C001", None, "7"), (None, "P2", None), ("C009", "P9", None)]
    back = storage.read_excel(spark, p)
    assert back.columns == header
    assert [tuple(r) for r in back.collect()] == rows

    _hand_built_xlsx(p, _EXCEL_HEADER_ROW + '<row r="2"><c r="D2"><v>1</v></c></row>')
    with pytest.raises(ValueError, match="right of the header"):
        storage.xlsx_read_rows(p)

    # empty header cells get pandas' names, so two gaps stay distinct
    _hand_built_xlsx(
        p,
        '<row r="1"><c r="A1" t="s"><v>0</v></c><c r="C1" t="s"><v>2</v></c>'
        '<c r="E1" t="s"><v>1</v></c></row><row r="2"><c r="E2" t="s"><v>4</v></c></row>',
    )
    header, rows = storage.xlsx_read_rows(p)
    assert header == ["상담번호", "Unnamed: 1", "수량", "Unnamed: 3", "플랜트"]
    assert rows == [(None, None, None, None, "P2")]


def test_mart_diff_exercises_all_change_classes(spark):
    """The version diff must surface every change class on this data
    (overlapping year windows + the version-B row drop) and its delta
    arithmetic must be internally consistent per class."""
    from claim_analysis_engine_spark.operators.storage_ops import snk_mart_diff
    from tests.conftest import SF_SMALL

    rows = snk_mart_diff(spark, SF_SMALL).collect()
    classes = {r.change_type for r in rows}
    assert classes == {"added", "removed", "changed", "unchanged"}
    for r in rows:
        assert r.delta == r.n_after - r.n_before
        if r.change_type == "added":
            assert r.n_before == 0 and r.n_after > 0
        elif r.change_type == "removed":
            assert r.n_after == 0 and r.n_before > 0
        elif r.change_type == "unchanged":
            assert r.n_before == r.n_after > 0
        else:
            assert 0 < r.n_after != r.n_before > 0


def test_pydatasource_corpus_golden_and_partition_invariant(spark):
    """The Python-DataSource generator's two contracts: the stats row
    is frozen (any generation drift, lost partition, or double-read
    flips a value — xxhash64-XOR is order-free, so only CONTENT
    matters), and the data is byte-identical under any partition count
    (per-doc seeding): reading at 3 partitions must reproduce the
    8-partition row exactly."""
    from claim_analysis_engine_spark.operators.storage_ops import (
        src_pydatasource_corpus,
    )
    from claim_analysis_engine_spark.pydatasource import register_zipfcorpus
    from tests.conftest import SF_SMALL

    row = src_pydatasource_corpus(spark, SF_SMALL).collect()[0].asDict()
    assert row == {
        "n_docs": 2000,
        "total_chars": 1906062,
        "n_distinct_words": 12477,
        "text_hash_xor": 1476364833668600688,
    }, row

    register_zipfcorpus(spark)
    alt = (
        spark.read.format("zipfcorpus")
        .option("n_docs", 2000)
        .option("n_parts", 3)
        .load()
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.length("text")).alias("total_chars"),
            F.bit_xor(F.xxhash64("text")).alias("text_hash_xor"),
        )
        .collect()[0]
    )
    assert (alt["n_docs"], alt["total_chars"], alt["text_hash_xor"]) == (
        row["n_docs"],
        row["total_chars"],
        row["text_hash_xor"],
    )


def test_jsonl_shard_sink_abort_removes_partial_output(spark, tmp_path):
    """The two-phase-commit claim the jsonlshards sink exists to
    demonstrate: a task failure mid-job must leave NO shards and NO
    manifest — the abort path removes what partial tasks wrote, so a
    reader keyed on the manifest can never observe torn output."""
    import os

    from pyspark.sql import functions as F

    from claim_analysis_engine_spark.pydatasource import (
        _MANIFEST,
        register_jsonlshards,
    )

    register_jsonlshards(spark)
    out = str(tmp_path / "sink")
    os.makedirs(out)
    # partition 0 writes fine; a later partition throws mid-write
    df = spark.range(100).withColumn(
        "boom",
        F.when(F.col("id") == 77, F.lit(1) / F.lit(0)).otherwise(F.lit(0.0)),
    ).repartition(4)
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        with __import__("pytest").raises(Exception):
            df.write.format("jsonlshards").option("path", out).mode(
                "append"
            ).save()
    finally:
        spark.conf.unset("spark.sql.ansi.enabled")
    assert not os.path.exists(os.path.join(out, _MANIFEST)), (
        "manifest published despite a failed task"
    )
    leftover = [f for f in os.listdir(out) if f.endswith(".jsonl")]
    assert not leftover, f"partial shards survived abort: {leftover}"


def test_jsonl_shard_sink_overwrite_replaces_and_append_accumulates(spark, tmp_path):
    """Mode semantics with job-tokenized shard names (r13 review): an
    'overwrite' save into a used directory must leave EXACTLY the new
    job's shards (a second job with fewer partitions used to strand the
    surplus), while 'append' leaves prior shards on disk with the
    manifest describing the latest job only."""
    import glob
    import json as _json
    import os

    from claim_analysis_engine_spark.pydatasource import (
        _MANIFEST,
        register_jsonlshards,
    )

    register_jsonlshards(spark)
    out = str(tmp_path / "sink")
    os.makedirs(out)

    def save(n_rows, n_parts, mode):
        df = spark.range(n_rows).selectExpr("id AS doc_id").repartition(n_parts)
        df.write.format("jsonlshards").option("path", out).mode(mode).save()

    save(8, 4, "append")
    assert len(glob.glob(f"{out}/shard-*.jsonl")) == 4
    # overwrite with FEWER partitions: the old failure mode stranded 2
    save(6, 2, "overwrite")
    shards = glob.glob(f"{out}/shard-*.jsonl")
    assert len(shards) == 2, f"stale shards survived overwrite: {shards}"
    manifest = _json.load(open(f"{out}/{_MANIFEST}"))
    assert manifest["n_rows"] == 6
    n_lines = sum(1 for p in shards for _ in open(p))
    assert n_lines == 6
    # append into the used dir: both jobs' shards on disk, manifest
    # covers the latest job only
    save(5, 3, "append")
    assert len(glob.glob(f"{out}/shard-*.jsonl")) == 5
    manifest = _json.load(open(f"{out}/{_MANIFEST}"))
    assert manifest["n_rows"] == 5


def test_jsonl_shard_sink_failed_overwrite_keeps_prior_output(spark, tmp_path):
    """Overwrite must be atomic at the manifest level (r13 advice): the
    old writer deleted prior shards + manifest at construction, so a
    failed overwrite job destroyed committed output. Now cleanup is
    deferred to commit() — a failed overwrite leaves the prior manifest
    and every shard it names intact."""
    import glob
    import json as _json
    import os

    from pyspark.sql import functions as F

    from claim_analysis_engine_spark.pydatasource import (
        _MANIFEST,
        register_jsonlshards,
    )

    register_jsonlshards(spark)
    out = str(tmp_path / "sink")
    os.makedirs(out)
    spark.range(8).selectExpr("id AS doc_id").repartition(4).write.format(
        "jsonlshards"
    ).option("path", out).mode("overwrite").save()
    before = _json.load(open(f"{out}/{_MANIFEST}"))
    assert before["n_rows"] == 8

    bad = spark.range(50).withColumn(
        "boom",
        F.when(F.col("id") == 13, F.lit(1) / F.lit(0)).otherwise(F.lit(0.0)),
    ).repartition(4)
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        with __import__("pytest").raises(Exception):
            bad.write.format("jsonlshards").option("path", out).mode(
                "overwrite"
            ).save()
    finally:
        spark.conf.unset("spark.sql.ansi.enabled")

    after = _json.load(open(f"{out}/{_MANIFEST}"))
    assert after == before, "failed overwrite mutated the manifest"
    on_disk = {os.path.basename(p) for p in glob.glob(f"{out}/shard-*.jsonl")}
    named = {s["shard"] for s in before["shards"]}
    assert named <= on_disk, (
        f"failed overwrite deleted committed shards: {named - on_disk}"
    )
