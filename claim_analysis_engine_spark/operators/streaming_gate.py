"""Registered STREAMING operators under the correctness gate: each op
stages the events parquet as a file-source stream, runs the real
Structured Streaming job (availableNow trigger, parquet sink with a
checkpoint), reads the sink back, and returns a frame whose values a
DuckDB oracle reproduces from the batch table — so the driver's hash
gate certifies actual streaming execution, not a batch stand-in.

The founding three jobs (later joined by the stream-stream interval
join, the foreachBatch mart/SCD2 maintainers, and the stream-static
enrichment join — see each op's docstring):
* evt_dedup_stream — dropDuplicatesWithinWatermark over a stage dir
  holding TWO copies of every event (a synthetic at-least-once bus);
  the deduped stream must aggregate exactly like the single-copy batch.
* evt_sessionize_stream — the applyInPandasWithState sessionizer; its
  append output is provably the batch sessionization minus each
  user's final (still-open) session, which IS ANSI-expressible.
* evt_tumbling_stream — the watermarked tumbling aggregation in append
  mode; emitted rows are exactly the hourly windows the final
  watermark finalized, a boundary the oracle reproduces relationally.

Scale notes: both jobs keep per-key state (event-id fingerprints
bounded by the watermark horizon; one open-session tuple per user) and
shuffle once on their state key — the identical plan a cluster runs
against a message bus, with the file source swapped in.
"""

from __future__ import annotations

import os
import shutil
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from claim_analysis_engine_spark import streaming
from claim_analysis_engine_spark.registry import OpRegistry
from claim_analysis_engine_spark.tables import pinned_conf
from claim_analysis_engine_spark.tmputil import fresh_dir

REG = OpRegistry()


def _stage_events(sf_dir: str, copies: int) -> str:
    stage = Path(fresh_dir("cae_stream_stage_"))
    for i in range(copies):
        shutil.copy(f"{sf_dir}/events.parquet", stage / f"part-{i:03d}.parquet")
    return str(stage)


# State partition count for the gate streams. A stateful streaming
# query creates ONE state store (+ per-batch checkpoint commit files)
# per shuffle partition, locked in at query start — so at gate scale
# the fixed per-store overhead dominates: the stream-stream join ran
# 5.5 s with the session's 32 partitions and 2.4 s with 8, identical
# results. This is the real production knob too (sized to the cluster
# and keyspace, not inherited from the batch default); 8 stores is
# right for the gate's data volume.
STREAM_STATE_PARTITIONS = 8


def _state_partitions(spark: SparkSession):
    """Run the enclosed stream at STREAM_STATE_PARTITIONS shuffle
    partitions, restoring the caller's width afterwards."""
    return pinned_conf(
        spark, "spark.sql.shuffle.partitions", str(STREAM_STATE_PARTITIONS)
    )


def _drain_to_parquet(
    spark: SparkSession,
    result: DataFrame,
    out: str | None = None,
    ckpt: str | None = None,
    read_back: bool = True,
) -> DataFrame | None:
    """Run an append-mode stream to a parquet sink and read it back.
    Callers that RESTART a query across runs (the checkpoint-recovery
    gate) pass their own sink/checkpoint pair and skip the read-back
    on the pre-restart leg (its sink legitimately holds only a prefix
    of the finalized windows at that point)."""
    out = out or fresh_dir("cae_stream_out_")
    ckpt = ckpt or fresh_dir("cae_stream_ckpt_")
    with _state_partitions(spark):
        q = (
            result.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    if not read_back:
        return None
    back = spark.read.parquet(out)
    # An append-mode stateful stream that finalizes nothing writes an
    # empty sink — indistinguishable downstream from "no alerts". Every
    # gate op here expects closed sessions / finalized windows / deduped
    # events, so an empty sink is always a broken run (wrong schema
    # coercion, watermark never advancing): fail loudly, never let it
    # flow into an oracle compare as a plausible 0-row result.
    if back.isEmpty():
        raise RuntimeError(
            "streaming sink came back empty — append-mode finalization "
            f"never fired (sink={out})"
        )
    return back


# ----------------------------------------------------- evt_dedup_stream

@REG.op(
    "evt_dedup_stream",
    oracle="""
    SELECT event_type, count(*) AS n_events,
           CAST(sum(event_id) AS BIGINT) AS id_sum
    FROM events GROUP BY 1
    """,
)
def evt_dedup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup certified by the batch oracle: the stage dir
    holds every event TWICE (two copies of the file — an at-least-once
    redelivery inside the watermark), the watermarked
    dropDuplicatesWithinWatermark stream must collapse them, and the
    sink's per-type counts and id-sums must equal the single-copy
    batch aggregate."""
    stage = _stage_events(sf_dir, copies=2)
    stream = streaming.read_events_stream(spark, stage)
    deduped = streaming.dedup_within_watermark(stream)
    back = _drain_to_parquet(spark, deduped)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("event_id").alias("id_sum"),
    )


# ------------------------------------------------- evt_sessionize_stream

@REG.op(
    "evt_sessionize_stream",
    oracle=f"""
    WITH ordered AS (
      SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s, event_id
      FROM events
    ),
    flagged AS (
      SELECT *,
             CASE WHEN ts_s - lag(ts_s) OVER w > {streaming.SESSION_GAP_S}
                    OR lag(ts_s) OVER w IS NULL
                  THEN 1 ELSE 0 END AS is_start
      FROM ordered
      WINDOW w AS (PARTITION BY user_id ORDER BY ts_s, event_id)
    ),
    sess AS (
      SELECT *, CAST(sum(is_start) OVER (PARTITION BY user_id
                                         ORDER BY ts_s, event_id)
                     AS BIGINT) AS sid
      FROM flagged
    ),
    agg AS (
      SELECT user_id, sid,
             CAST(min(ts_s) AS BIGINT) AS session_start,
             count(*) AS n_events,
             CAST(max(ts_s) - min(ts_s) AS BIGINT) AS duration_s,
             CAST(max(sid) OVER (PARTITION BY user_id) AS BIGINT) AS last_sid
      FROM sess GROUP BY user_id, sid
    )
    SELECT user_id, session_start, n_events, duration_s
    FROM agg WHERE sid < last_sid
    """,
)
def evt_sessionize_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The custom stateful streaming operator under the hash gate:
    applyInPandasWithState sessionization emits exactly the CLOSED
    sessions, and "batch sessionization minus each user's final
    session" is plain ANSI SQL — so a genuinely non-relational
    streaming program still gets a value-level oracle."""
    stage = _stage_events(sf_dir, copies=1)
    stream = streaming.read_events_stream(spark, stage)
    sessions = streaming.sessionize_stateful(stream)
    back = _drain_to_parquet(spark, sessions)
    return back.select("user_id", "session_start", "n_events", "duration_s")


# ------------------------------------------------ evt_tumbling_stream

TUMBLING_WM = "1 hour"


@REG.op(
    "evt_tumbling_stream",
    oracle="""
    WITH wm AS (
      SELECT max(ts) - INTERVAL 1 HOUR AS horizon FROM events
    )
    SELECT event_type,
           strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS window_start,
           count(*) AS n_events,
           round(sum(value), 4) AS total_value
    FROM events, wm
    GROUP BY 1, 2, horizon
    HAVING date_trunc('hour', min(ts)) + INTERVAL 1 HOUR <= horizon
    """,
)
def evt_tumbling_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The watermarked tumbling-window aggregation as a REAL streaming
    run under the hash gate. Append mode only emits FINALIZED windows
    — those whose end precedes the final watermark (max event time
    minus the 1-hour delay) — and that boundary is itself relational:
    the oracle keeps exactly the hourly groups whose window end is
    within the horizon. So the gate certifies not just the aggregate
    values but Structured Streaming's late-data finalization contract
    on real data."""
    stage = _stage_events(sf_dir, copies=1)
    stream = streaming.read_events_stream(spark, stage)
    result = streaming.tumbling_counts(stream, watermark=TUMBLING_WM)
    return _drain_to_parquet(spark, result)


# ---------------------------------------- evt_pydatasource_stream

PYDS_STREAM_BATCHES = 3  # real data micro-batches (plus the EOF flush
# batch) — enough to prove the watermark advances across batches while
# keeping the per-batch state-store floor (~2 s each at gate scale)
# from dominating the correctness-gate budget


@REG.op(
    "evt_pydatasource_stream",
    oracle="""
    WITH wm AS (
      SELECT max(ts) - INTERVAL 1 HOUR AS horizon FROM events
    )
    SELECT event_type,
           strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS window_start,
           count(*) AS n_events,
           round(sum(value), 4) AS total_value
    FROM events, wm
    GROUP BY 1, 2, horizon
    HAVING date_trunc('hour', min(ts)) + INTERVAL 1 HOUR <= horizon
    """,
)
def evt_pydatasource_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The NINTH streaming gate, closing the loop the round-9 batch
    source opened: a custom Spark 4 Python DataSource STREAMING source
    (pyspark.sql.datasource simpleStreamReader — see
    pydatasource.EventsReplayStreamReader) replays the events table in
    ts order as {PYDS_STREAM_BATCHES} real micro-batches, feeding the
    already-certified watermarked tumbling-counts sink. The oracle is
    evt_tumbling_stream's finalization boundary, so the hash gate
    certifies the SOURCE semantics end-to-end: a duplicated or skipped
    offset range, a type corruption through the Arrow boundary, or a
    batch served out of ts order (making real rows late and dropped)
    all flip counts, values, or the emitted window set.

    Unlike the file gates (where one staged file is one batch unless
    maxFilesPerTrigger splits it), the offset granularity here is the
    ROW RANGE — the shape of a queue/bus source, implemented in ~40
    lines of Python against the engine's newest extension API.
    tests/test_streaming.py pins that the run really executed multiple
    micro-batches and that recovery re-reads (readBetweenOffsets)
    reproduce read() byte-for-byte."""
    import pyarrow.parquet as pq

    from claim_analysis_engine_spark.pydatasource import register_eventsreplay

    register_eventsreplay(spark)
    stage = _stage_events(sf_dir, copies=1)
    f = str(Path(stage) / "part-000.parquet")
    n_rows = pq.ParquetFile(f).metadata.num_rows
    batch_rows = -(-n_rows // PYDS_STREAM_BATCHES)
    stream = (
        spark.readStream.format("eventsreplay")
        .option("path", f)
        .option("batch_rows", batch_rows)
        .load()
    )
    result = streaming.tumbling_counts(stream, watermark=TUMBLING_WM)
    return _drain_until_eof(spark, result)


def _drain_until_eof(spark: SparkSession, result: DataFrame) -> DataFrame:
    """Drain a PYTHON-DATASOURCE stream to parquet and read it back.
    availableNow can't drive the simple stream reader (the prefetch
    wrapper snapshots ONE read() as the 'available' end offset —
    measured: a 4-batch replay terminated after batch 0 with an empty
    sink), so this runs a processingTime trigger and polls until the
    committed end offset carries the reader's EOF sentinel — the empty
    batch that flushes the last watermark-finalized windows."""
    import time

    out = fresh_dir("cae_stream_out_")
    ckpt = fresh_dir("cae_stream_ckpt_")
    with _state_partitions(spark):
        q = (
            result.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(processingTime="0 seconds")
            .start()
        )
        try:
            deadline = time.time() + 300
            while time.time() < deadline:
                q.processAllAvailable()
                lp = q.lastProgress
                if lp and lp["sources"]:
                    # offset rendering isn't stable JSON across versions
                    # (observed single-quoted dict repr) — substring-match
                    # the sentinel key instead of parsing
                    if "eof" in (lp["sources"][0]["endOffset"] or ""):
                        break
                time.sleep(0.2)
            else:
                raise RuntimeError(
                    "python-datasource stream never reached EOF"
                )
        finally:
            # stop on EVERY exit path (incl. a poll-loop exception) so a
            # failed drain can't leak a live query into the session
            q.stop()
        q.awaitTermination()
    back = spark.read.parquet(out)
    if back.isEmpty():
        raise RuntimeError(
            "streaming sink came back empty — append-mode finalization "
            f"never fired (sink={out})"
        )
    return back


# ---------------------------------------- evt_restart_recovery_stream

RESTART_SPLIT = 4    # ts-contiguous source files (one micro-batch each)
RESTART_PREFIX = 2   # files processed before the engine is stopped


@REG.op(
    "evt_restart_recovery_stream",
    oracle="""
    WITH wm AS (
      SELECT max(ts) - INTERVAL 1 HOUR AS horizon FROM events
    )
    SELECT event_type,
           strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS window_start,
           count(*) AS n_events,
           round(sum(value), 4) AS total_value
    FROM events, wm
    GROUP BY 1, 2, horizon
    HAVING date_trunc('hour', min(ts)) + INTERVAL 1 HOUR <= horizon
    """,
)
def evt_restart_recovery_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once ACROSS A RESTART, as a driver-hash fact: the tenth
    streaming gate stops the certified tumbling-counts query after a
    committed prefix of its micro-batches and restarts a brand-new
    query from the SAME checkpoint and sink; the accumulated sink must
    equal the single-run batch oracle (evt_tumbling_stream's
    finalization boundary).

    Stage: events sorted by ts and split into {RESTART_SPLIT}
    contiguous files, one micro-batch each (maxFilesPerTrigger=1).
    Run 1 sees only the first {RESTART_PREFIX} files and drains to
    completion — the engine shuts down with the source offset log,
    watermark, and the PARTIAL counts of every unfinalized window
    committed to the checkpoint. The remaining files are then moved in
    WITHOUT removing the processed ones — deliberate redelivery bait:
    the restarted query's file listing contains every already-consumed
    file. Run 2 must (a) skip the consumed files via the checkpoint's
    seen-file log — a re-read double-counts every pre-restart window;
    (b) restore the state store so windows straddling the restart
    boundary emit WHOLE counts — a state loss emits partial rows run 1
    never finalized; and (c) not re-emit run-1's already-appended
    windows. Any of the three failure modes flips the hash.

    Scale: this is the recovery discipline a 1000-executor cluster
    relies on after any executor/driver loss — checkpointed offsets +
    state-store restore, certified here at gate scale with the exact
    production mechanism (no test doubles)."""
    import pyarrow.parquet as pq

    stage = Path(fresh_dir("cae_stream_restart_stage_"))
    pending = Path(fresh_dir("cae_stream_restart_pending_"))
    table = pq.read_table(f"{sf_dir}/events.parquet").sort_by([("ts", "ascending")])
    per = -(-table.num_rows // RESTART_SPLIT)
    for i in range(RESTART_SPLIT):
        dest = stage if i < RESTART_PREFIX else pending
        pq.write_table(table.slice(i * per, per), str(dest / f"part-{i:03d}.parquet"))

    out = fresh_dir("cae_stream_out_")
    ckpt = fresh_dir("cae_stream_ckpt_")

    def run(read_back: bool) -> DataFrame | None:
        stream = streaming.read_events_stream(
            spark, str(stage), max_files_per_trigger=1
        )
        result = streaming.tumbling_counts(stream, watermark=TUMBLING_WM)
        return _drain_to_parquet(spark, result, out=out, ckpt=ckpt, read_back=read_back)

    run(read_back=False)  # pre-restart leg: RESTART_PREFIX micro-batches
    for f in sorted(pending.glob("*.parquet")):
        os.rename(f, stage / f.name)  # same-fs rename: files appear atomically
    back = run(read_back=True)  # restart from the same checkpoint
    assert back is not None
    return back


# --------------------------------------------------- evt_join_stream

@REG.op(
    "evt_join_stream",
    oracle=f"""
    SELECT a.user_id,
           a.event_id AS view_id,
           b.event_id AS purchase_id,
           CAST(floor(epoch(b.ts)) - floor(epoch(a.ts)) AS BIGINT)
             AS secs_to_purchase
    FROM events a
    JOIN events b
      ON a.user_id = b.user_id
     AND a.event_type = 'view'
     AND b.event_type = 'purchase'
     AND b.ts >= a.ts
     AND b.ts <= a.ts + INTERVAL {streaming.ATTRIB_WINDOW_S} SECONDS
    """,
)
def evt_join_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join under the hash gate: the staged
    event stream self-joins views to same-user purchases within 1 hour
    (attribution), both branches watermarked so join state is bounded
    — the fourth Structured Streaming capability certified by a batch
    oracle (after dedup, custom state, and watermark finalization).
    Inner matches emit as soon as both rows arrive, so the drained
    sink must equal the batch interval join row-for-row."""
    stage = _stage_events(sf_dir, copies=1)
    stream = streaming.read_events_stream(spark, stage)
    joined = streaming.attribution_join(stream)
    back = _drain_to_parquet(spark, joined)
    return back.select("user_id", "view_id", "purchase_id", "secs_to_purchase")


# ---------------------------------------------- evt_outer_join_stream

@REG.op(
    "evt_outer_join_stream",
    oracle=f"""
    WITH mx AS (SELECT max(ts) AS m FROM events),
    v AS (SELECT user_id, event_id AS view_id, ts FROM events
          WHERE event_type = 'view'),
    p AS (SELECT user_id, event_id AS purchase_id, ts FROM events
          WHERE event_type = 'purchase'),
    matched AS (
      SELECT v.user_id, v.view_id, p.purchase_id,
             CAST(floor(epoch(p.ts)) - floor(epoch(v.ts)) AS BIGINT)
               AS secs_to_purchase
      FROM v JOIN p
        ON v.user_id = p.user_id
       AND p.ts >= v.ts
       AND p.ts <= v.ts + INTERVAL {streaming.ATTRIB_WINDOW_S} SECONDS
    ),
    unmatched AS (
      SELECT v.user_id, v.view_id,
             CAST(NULL AS BIGINT) AS purchase_id,
             CAST(NULL AS BIGINT) AS secs_to_purchase
      FROM v, mx
      WHERE NOT EXISTS (
        SELECT 1 FROM p
        WHERE p.user_id = v.user_id
          AND p.ts >= v.ts
          AND p.ts <= v.ts + INTERVAL {streaming.ATTRIB_WINDOW_S} SECONDS)
        AND v.ts + INTERVAL {streaming.ATTRIB_WINDOW_S} SECONDS
            < m - INTERVAL 7200 SECONDS
    )
    SELECT * FROM matched UNION ALL SELECT * FROM unmatched
    """,
)
def evt_outer_join_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join under the hash gate —
    the eighth Structured Streaming capability certified by a batch
    oracle, and the subtlest: inner matches emit as soon as both rows
    arrive, but a view with NO purchase in its window can only
    null-emit once the GLOBAL watermark passes v_ts + window (the
    engine's proof that no future purchase can match), and views
    whose window is still open when the stream ends are NEVER emitted
    (state is discarded, not finalized). The oracle reproduces that
    boundary relationally: unmatched views qualify iff
    v_ts + window < max(ts) − watermark_delay — so the hash gate
    certifies Spark's outer-join state-eviction semantics themselves,
    not just the join predicate. A funnel built on this join is the
    'abandoned view' feed — rows that arrive EXACTLY when abandonment
    is provable, no batch re-scan.

    Scale: same bounded state as evt_join_stream (one exchange
    hash-partitioned on user_id; view state evictable at
    v_ts + window, purchase state at its own ts) plus the outer
    finalization buffer the watermark bounds on both sides."""
    stage = _stage_events(sf_dir, copies=1)
    stream = streaming.read_events_stream(spark, stage)
    joined = streaming.attribution_join(stream, how="left_outer")
    back = _drain_to_parquet(spark, joined)
    return back.select(
        "user_id", "view_id", "purchase_id", "secs_to_purchase"
    )


# ------------------------------------------------ evt_mart_refresh_stream

MART_REFRESH_SPLITS = 3


def _stage_events_split(sf_dir: str, n_files: int) -> str:
    """Stage the events table as n disjoint files (row-range slices via
    pyarrow, logical types preserved) so maxFilesPerTrigger=1 yields n
    REAL micro-batches of distinct data — the shape of n successive
    uploads hitting an incremental-refresh job."""
    import pyarrow.parquet as pq

    stage = Path(fresh_dir("cae_stream_stage_"))
    t = pq.read_table(f"{sf_dir}/events.parquet")
    step = -(-t.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(t.slice(i * step, step), stage / f"part-{i:03d}.parquet")
    return str(stage)


@REG.op(
    "evt_mart_refresh_stream",
    oracle="""
    SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
           count(*) AS n_events
    FROM events GROUP BY 1, 2
    """,
)
def evt_mart_refresh_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-aggregate maintenance — the streaming
    form of the reference's designed-but-never-built incremental
    series refresh (docs/project_master.md:24), certified by the batch
    oracle. The staged stream arrives as THREE disjoint files processed
    one per micro-batch (maxFilesPerTrigger=1); an un-watermarked
    update-mode aggregation keeps running (event_type, day) counts, and
    each batch's foreachBatch applies ONLY the keys that batch touched
    onto the mart (anti-join the previous version, union the updates,
    write a new version — the lakehouse MERGE shape; at scale the
    rewrite is partition-scoped on the touched keys exactly like
    storage.merge_upsert's touched-directory overwrite). The returned
    frame reads the FINAL mart version, so the hash check proves
    batch-by-batch key-scoped refresh converges to the full batch
    aggregate. State bound: one running count per (type, day) —
    keyspace-sized, not stream-sized. tests/test_streaming.py asserts
    the run really was incremental (≥ 2 versions, each re-stating only
    touched keys)."""
    stage = _stage_events_split(sf_dir, MART_REFRESH_SPLITS)
    mart_root = Path(fresh_dir("cae_stream_mart_"))
    ckpt = fresh_dir("cae_stream_ckpt_")
    versions: list[str] = []

    stream = streaming.read_events_stream(
        spark, stage, max_files_per_trigger=1
    )
    counts = stream.groupBy(
        "event_type", F.date_format("ts", "yyyy-MM-dd").alias("day")
    ).agg(F.count(F.lit(1)).alias("n_events"))

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        upd = batch_df
        if versions:
            prev = batch_df.sparkSession.read.parquet(versions[-1])
            keys = upd.select("event_type", "day").distinct()
            carried = prev.join(
                F.broadcast(keys), ["event_type", "day"], "left_anti"
            )
            upd = carried.unionByName(upd)
        v = str(mart_root / f"v{len(versions):03d}")
        upd.write.mode("overwrite").parquet(v)
        versions.append(v)

    with _state_partitions(spark):
        q = (
            counts.writeStream.foreachBatch(apply_batch)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    if not versions:
        raise RuntimeError("mart refresh stream produced no versions")
    # surface the version trail for the incrementality contract test
    evt_mart_refresh_stream.last_versions = versions  # type: ignore[attr-defined]
    return spark.read.parquet(versions[-1])


# ------------------------------------------------ evt_scd2_refresh_stream

@REG.op(
    "evt_scd2_refresh_stream",
    # identical contract to the batch dim_scd2 — the hash proves the
    # incremental maintenance converged to the full batch build
    oracle=None,  # set below: composed from joins_temporal after import
)
def evt_scd2_refresh_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental SCD2 dimension maintenance: the events stream
    arrives as three disjoint files processed one per micro-batch, and
    each foreachBatch merge keeps the versioned dimension current —
    the streaming form of a feature store's dimension-history upkeep,
    certified against the batch dim_scd2 oracle.

    SCD2 cannot be maintained append-only under out-of-order arrival
    (a late event can split an existing interval), so each batch does
    a KEY-SCOPED recompute — the same shape as evt_mart_refresh_stream
    and storage.merge_upsert: append the batch to the event history,
    re-derive versions for the users this batch TOUCHED via the exact
    batch construction (joins_temporal.scd2_versions — stream and
    batch share the code, so they cannot drift), and merge them onto
    the previous dimension version (left_anti on touched users +
    union). Untouched users' rows are carried forward byte-identical;
    at scale the recompute is bounded by sum(touched users' history),
    not table size, and the touched-user filter is a semi-join (shown
    broadcast here at gate scale). The returned frame reads the FINAL
    version: the driver hash against dim_scd2's oracle proves the
    batch-by-batch maintenance converged to the from-scratch build.
    tests/test_streaming.py pins genuine incrementality (one version
    per micro-batch; untouched users carried unchanged)."""
    from claim_analysis_engine_spark.operators.joins_temporal import (
        scd2_versions,
    )

    stage = _stage_events_split(sf_dir, MART_REFRESH_SPLITS)
    dim_root = Path(fresh_dir("cae_stream_scd2_"))
    hist_dir = str(dim_root / "history")
    ckpt = fresh_dir("cae_stream_ckpt_")
    versions: list[str] = []

    stream = streaming.read_events_stream(spark, stage, max_files_per_trigger=1)

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        s = batch_df.sparkSession
        batch_df.select(
            "event_id", "user_id", "ts", "event_type"
        ).write.mode("append").parquet(hist_dir)
        touched = batch_df.select("user_id").distinct()
        hist = s.read.parquet(hist_dir).join(F.broadcast(touched), "user_id")
        recomputed = scd2_versions(
            hist.select(
                "user_id",
                F.col("ts").cast("long").alias("ts_s"),
                "event_id",
                "event_type",
            )
        )
        upd = recomputed
        if versions:
            prev = s.read.parquet(versions[-1])
            upd = prev.join(
                F.broadcast(touched), "user_id", "left_anti"
            ).unionByName(recomputed)
        v = str(dim_root / f"v{len(versions):03d}")
        upd.write.mode("overwrite").parquet(v)
        versions.append(v)

    with _state_partitions(spark):
        q = (
            stream.writeStream.foreachBatch(apply_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    if not versions:
        raise RuntimeError("scd2 refresh stream produced no versions")
    evt_scd2_refresh_stream.last_versions = versions  # type: ignore[attr-defined]
    return spark.read.parquet(versions[-1])


def _install_scd2_oracle() -> None:
    """The gate's oracle IS the batch dim_scd2 oracle (final state must
    equal the from-scratch build). Composed at import via replacement
    because the Op dataclass is frozen and joins_temporal must not be
    imported at this module's top level (registry owns module wiring)."""
    from dataclasses import replace

    from claim_analysis_engine_spark.operators import joins_temporal

    op = REG.ops["evt_scd2_refresh_stream"]
    REG.ops["evt_scd2_refresh_stream"] = replace(
        op, oracle=joins_temporal.REG.ops["dim_scd2"].oracle
    )


_install_scd2_oracle()


# ----------------------------------------------------- evt_enrich_stream

ENRICH_SALT = "tier1:"  # md5-digit tier assignment, evt_ab_lift's idiom


@REG.op(
    "evt_enrich_stream",
    oracle=f"""
    WITH wm AS (
      SELECT max(ts) - INTERVAL 1 HOUR AS horizon FROM events
    ), dim AS (
      SELECT DISTINCT user_id,
             CASE WHEN substr(md5('{ENRICH_SALT}' || CAST(user_id AS VARCHAR)),
                              1, 1) < '6' THEN 'gold'
                  WHEN substr(md5('{ENRICH_SALT}' || CAST(user_id AS VARCHAR)),
                              1, 1) < 'b' THEN 'silver'
                  ELSE 'bronze' END AS tier
      FROM events
    )
    SELECT d.tier,
           strftime(date_trunc('day', e.ts), '%Y-%m-%d') AS window_start,
           count(*) AS n_purchases,
           round(sum(e.value), 4) AS revenue
    FROM events e JOIN dim d ON d.user_id = e.user_id, wm
    WHERE e.event_type = 'purchase'
    GROUP BY 1, 2, horizon
    HAVING date_trunc('day', min(e.ts)) + INTERVAL 1 DAY <= horizon
    """,
)
def evt_enrich_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STATIC enrichment under the hash gate — the remaining
    fundamental Structured Streaming join shape after the
    stream-stream gate (evt_join_stream): each micro-batch of the
    purchase stream joins a STATIC dimension (user → loyalty tier, an
    md5-digit assignment so the oracle can rebuild the dim
    relationally), then a watermarked daily window aggregates revenue
    per tier in append mode. The static side needs no watermark and no
    state — Spark re-plans it into every micro-batch as a broadcast —
    so the gate certifies the join is stateless while the downstream
    aggregation still honors the finalization contract (only windows
    whose end precedes the final watermark emit, the boundary the
    oracle reproduces with the same HAVING idiom as
    evt_tumbling_stream).

    Scale: this is THE nightly-dim enrichment pattern (prices, user
    profiles, geo tables) — dim updates swap the static frame between
    restarts; state cost stays exactly the window-aggregation state,
    never the dim."""
    stage = _stage_events(sf_dir, copies=1)
    dim = (
        spark.read.parquet(stage)
        .select("user_id")
        .distinct()
        .withColumn(
            "tier",
            F.when(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit(ENRICH_SALT), F.col("user_id").cast("string")
                        )
                    ),
                    1,
                    1,
                )
                < "6",
                "gold",
            )
            .when(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit(ENRICH_SALT), F.col("user_id").cast("string")
                        )
                    ),
                    1,
                    1,
                )
                < "b",
                "silver",
            )
            .otherwise("bronze"),
        )
    )
    stream = streaming.read_events_stream(spark, stage)
    purchases = (
        stream.where(F.col("event_type") == "purchase")
        .withWatermark("ts", "1 hour")
        .join(F.broadcast(dim), "user_id")
    )
    result = (
        purchases.groupBy(F.window("ts", "1 day"), "tier")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.round(F.sum("value"), 4).alias("revenue"),
        )
        .select(
            "tier",
            F.date_format(F.col("window.start"), "yyyy-MM-dd").alias(
                "window_start"
            ),
            "n_purchases",
            "revenue",
        )
    )
    return _drain_to_parquet(spark, result)


# ------------------------------------------------------ evt_cms_stream

CMS_STREAM_SPLITS = 3


def _cms_oracle() -> str:
    from claim_analysis_engine_spark.operators.scale_patterns import (
        CMS_ORACLE,
    )

    return CMS_ORACLE


@REG.op(
    "evt_cms_stream",
    # identical contract to the batch agg_cms_heavy_hitters — the hash
    # proves the incrementally maintained sketch CONVERGED to the batch
    # sketch (oracle string installed below, after module definitions,
    # to keep the cross-module import out of decorator-evaluation time)
    oracle=None,
)
def evt_cms_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ELEVENTH streaming gate: incremental sketch maintenance.
    Because the CMS is a DataFrame of exact counts (sketch-as-
    DataFrame, see scale_patterns._cms_table), streaming maintenance
    is just union + re-sum per micro-batch — no custom merge code, no
    approximation drift across batches: the streamed sketch is
    EXACTLY the batch sketch, which is what the shared oracle
    certifies. The events table arrives as three disjoint staged
    files, one micro-batch each (maxFilesPerTrigger=1); each
    foreachBatch computes the batch's increment table and merges it
    onto the running version (the evt_mart_refresh_stream version
    trail — at scale the merge rewrite is bounded by the sketch size
    D*W, never the stream). The returned frame certifies the FINAL
    sketch against the exact top-k truth with the same booleans and
    the same SQL as the batch op, so a dropped batch, a double-applied
    increment, or a bucket-merge bug hash-mismatches at the driver.
    State bound: the sketch table itself — D*W rows regardless of
    stream length; no watermark needed (the sketch is a monoid)."""
    from claim_analysis_engine_spark.operators.scale_patterns import (
        _cms_certify,
        _cms_table,
    )

    stage = _stage_events_split(sf_dir, CMS_STREAM_SPLITS)
    root = Path(fresh_dir("cae_stream_cmsv_"))
    ckpt = fresh_dir("cae_stream_ckpt_")
    versions: list[str] = []

    stream = streaming.read_events_stream(
        spark, stage, max_files_per_trigger=1
    )

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        inc = _cms_table(batch_df.select("user_id"))
        if versions:
            prev = batch_df.sparkSession.read.parquet(versions[-1])
            inc = (
                prev.unionByName(inc)
                .groupBy("i", "bucket")
                .agg(F.sum("cnt").alias("cnt"))
            )
        v = str(root / f"v{len(versions):03d}")
        inc.write.mode("overwrite").parquet(v)
        versions.append(v)

    with _state_partitions(spark):
        q = (
            stream.writeStream.foreachBatch(apply_batch)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    if len(versions) < 2:
        raise RuntimeError(
            f"cms stream produced {len(versions)} versions — expected one "
            f"per staged file ({CMS_STREAM_SPLITS}); maintenance was not "
            "incremental"
        )
    # surface the version trail for the incrementality test
    evt_cms_stream.last_versions = versions  # type: ignore[attr-defined]
    sketch = spark.read.parquet(versions[-1])
    from claim_analysis_engine_spark.tables import load

    ev = load(spark, sf_dir, "events").select("user_id")
    return _cms_certify(ev, sketch)


def _install_cms_stream_oracle() -> None:
    REG.ops["evt_cms_stream"] = type(REG.ops["evt_cms_stream"])(
        "evt_cms_stream",
        REG.ops["evt_cms_stream"].query,
        _cms_oracle(),
        REG.ops["evt_cms_stream"].doc,
    )


_install_cms_stream_oracle()


# ------------------------------------------------ evt_mart_restart_stream

MART_RESTART_SPLIT = 4   # ts-contiguous files, one micro-batch each
MART_RESTART_PREFIX = 2  # files processed before the engine stops


@REG.op(
    "evt_mart_restart_stream",
    # the batch mart oracle — the hash proves incremental maintenance
    # CONVERGED across an engine restart
    oracle="""
    SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
           count(*) AS n_events
    FROM events GROUP BY 1, 2
    """,
)
def evt_mart_restart_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Restart-safety for the foreachBatch maintenance path — the
    TWELFTH gate, completing the restart story evt_restart_recovery_
    stream began for append sinks: the key-scoped mart refresh
    (evt_mart_refresh_stream's update-mode running counts +
    foreachBatch merge) is STOPPED after a committed prefix of its
    micro-batches, and a brand-new query restarts from the same
    checkpoint with the already-consumed files still listed
    (redelivery bait). Two properties must BOTH survive the boundary
    or the hash flips: the state store's running totals (a state loss
    resets post-restart totals and the merged mart undercounts every
    key touched on both sides of the restart) and the offset log (a
    re-read double-counts). Crucially, the version trail is recovered
    from DISK, not driver memory — apply_batch discovers the latest
    committed version by listing the mart root, because a real
    restart loses every in-process structure (the closure-held list
    the non-restart gate uses would silently hide that).

    Scale: the recovery contract a long-running incremental
    materialization job actually depends on — state + offsets +
    on-disk version discovery, certified with the production
    mechanism at gate scale."""
    import pyarrow.parquet as pq

    stage = Path(fresh_dir("cae_stream_mrestart_stage_"))
    pending = Path(fresh_dir("cae_stream_mrestart_pending_"))
    table = pq.read_table(f"{sf_dir}/events.parquet").sort_by(
        [("ts", "ascending")]
    )
    per = -(-table.num_rows // MART_RESTART_SPLIT)
    for i in range(MART_RESTART_SPLIT):
        dest = stage if i < MART_RESTART_PREFIX else pending
        pq.write_table(
            table.slice(i * per, per), str(dest / f"part-{i:03d}.parquet")
        )

    mart_root = Path(fresh_dir("cae_stream_mrestart_mart_"))
    ckpt = fresh_dir("cae_stream_ckpt_")

    def latest_version() -> str | None:
        vs = sorted(mart_root.glob("v*"))
        return str(vs[-1]) if vs else None

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        upd = batch_df
        prev_path = latest_version()  # DISK discovery — restart-safe
        n = len(list(mart_root.glob("v*")))
        if prev_path is not None:
            prev = batch_df.sparkSession.read.parquet(prev_path)
            keys = upd.select("event_type", "day").distinct()
            carried = prev.join(
                F.broadcast(keys), ["event_type", "day"], "left_anti"
            )
            upd = carried.unionByName(upd)
        upd.write.mode("overwrite").parquet(str(mart_root / f"v{n:03d}"))

    def run_leg() -> None:
        stream = streaming.read_events_stream(
            spark, str(stage), max_files_per_trigger=1
        )
        counts = stream.groupBy(
            "event_type", F.date_format("ts", "yyyy-MM-dd").alias("day")
        ).agg(F.count(F.lit(1)).alias("n_events"))
        q = (
            counts.writeStream.foreachBatch(apply_batch)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    with _state_partitions(spark):
        run_leg()  # pre-restart leg
        n_pre = len(list(mart_root.glob("v*")))
        for f in sorted(pending.glob("*.parquet")):
            os.rename(f, stage / f.name)  # atomic same-fs appearance
        run_leg()  # restart from the same checkpoint
    n_post = len(list(mart_root.glob("v*")))
    if not (0 < n_pre < n_post):
        raise RuntimeError(
            f"restart legs produced {n_pre}/{n_post} versions — the run "
            "was not split across the boundary"
        )
    evt_mart_restart_stream.versions = (n_pre, n_post)  # type: ignore[attr-defined]
    final = latest_version()
    assert final is not None
    return spark.read.parquet(final)


# ------------------------------------------------------ evt_hll_stream

HLL_STREAM_SPLITS = 3
HLL_STREAM_ERR_CAP_BP = 800  # 4-sigma cap at lgConfigK=12, matching the
# batch sketch contracts (agg_hll_error_contract); at gate-scale
# cardinalities the Datasketches HLL is still in sparse/exact mode and
# the realized error is 0 bp — the cap is the production bound


@REG.op(
    "evt_hll_stream",
    oracle=f"""
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
           {HLL_STREAM_ERR_CAP_BP} AS err_cap_bp,
           TRUE AS stream_est_ok,
           TRUE AS matches_batch_sketch
    FROM events GROUP BY 1
    """,
)
def evt_hll_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The THIRTEENTH gate: incremental DISTINCT-COUNT maintenance with
    the engine's NATIVE sketch family — the built-in-Datasketches
    complement to evt_cms_stream's hand-rolled frequency table. Each
    micro-batch sketches its per-type distinct users (hll_sketch_agg),
    and foreachBatch merges the increment onto the running version by
    re-aggregating the unioned sketch rows with hll_union_agg — the
    mergeability agg_hll_union_rollup certifies batch-side, exercised
    here across micro-batch boundaries where it actually earns its
    keep (a re-scan-based distinct count would reprocess the whole
    history every batch; the sketch merge touches bytes per group).

    Certified per event type against the exact SQL distinct count:
    the streamed sketch's estimate lands within the production error
    cap, AND it agrees with the single-pass batch sketch over the same
    rows within the same cap — a dropped batch, a double-merged
    increment, or a sketch-state corruption flips the booleans.
    State bound: one sketch blob per event type, stream-length-
    independent, no watermark (sketch union is a monoid, the
    evt_cms_stream argument with the engine's own sketch algebra)."""
    stage = _stage_events_split(sf_dir, HLL_STREAM_SPLITS)
    root = Path(fresh_dir("cae_stream_hllv_"))
    ckpt = fresh_dir("cae_stream_ckpt_")
    versions: list[str] = []

    stream = streaming.read_events_stream(
        spark, stage, max_files_per_trigger=1
    )

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        inc = batch_df.groupBy("event_type").agg(
            F.hll_sketch_agg("user_id").alias("sk")
        )
        if versions:
            prev = batch_df.sparkSession.read.parquet(versions[-1])
            inc = (
                prev.unionByName(inc)
                .groupBy("event_type")
                .agg(F.hll_union_agg("sk").alias("sk"))
            )
        v = str(root / f"v{len(versions):03d}")
        inc.write.mode("overwrite").parquet(v)
        versions.append(v)

    with _state_partitions(spark):
        q = (
            stream.writeStream.foreachBatch(apply_batch)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    if len(versions) < 2:
        raise RuntimeError(
            f"hll stream produced {len(versions)} versions — expected one "
            f"per staged file ({HLL_STREAM_SPLITS})"
        )
    streamed = spark.read.parquet(versions[-1]).select(
        "event_type", F.hll_sketch_estimate("sk").alias("stream_est")
    )
    from claim_analysis_engine_spark.tables import load

    ev = load(spark, sf_dir, "events").select("event_type", "user_id")
    batch = ev.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("batch_est"),
        F.countDistinct("user_id").cast("bigint").alias("exact_users"),
    )
    cap = F.lit(HLL_STREAM_ERR_CAP_BP)
    return streamed.join(batch, "event_type").select(
        "event_type",
        "exact_users",
        cap.alias("err_cap_bp"),
        (
            F.abs(F.col("stream_est") - F.col("exact_users")) * 10000
            <= cap * F.col("exact_users")
        ).alias("stream_est_ok"),
        (
            F.abs(F.col("stream_est") - F.col("batch_est")) * 10000
            <= cap * F.col("exact_users")
        ).alias("matches_batch_sketch"),
    )


# --------------------------------------------------- evt_span_dedup_stream

SPAN_STREAM_SPLITS = 3  # arrival waves staged as one file per micro-batch


def _span_stream_oracle() -> str:
    """The streaming semantic as one SQL statement: an arrival doc
    (doc_id % MOD == 0, wave b = (doc_id div MOD) % SPLITS) is checked
    against the gram set of the OLD corpus plus every EARLIER wave —
    first_b encodes when each gram entered the index (old corpus = -1;
    an arrival gram becomes visible only to waves strictly AFTER its
    own, because the maintainer appends a wave's grams after stripping
    it). Islands/spans as in dedup_span_incremental."""
    from claim_analysis_engine_spark.operators.dedup_text import (
        SPAN_GRAM,
        SPAN_INC_MOD,
        _SPAN_TOKS_SQL,
    )

    mod, k = SPAN_INC_MOD, SPAN_GRAM
    return f"""
    WITH t AS (SELECT doc_id, {_SPAN_TOKS_SQL} AS toks FROM documents),
    p AS (SELECT doc_id, toks,
                 unnest(generate_series(1, len(toks) - {k - 1})) AS pos
          FROM t WHERE len(toks) >= {k}),
    g AS (SELECT doc_id, pos,
                 md5(array_to_string(toks[pos:pos + {k - 1}], ' ')) AS h
          FROM p),
    idx AS (SELECT h,
                   min(CASE WHEN doc_id % {mod} <> 0 THEN -1
                            ELSE (doc_id // {mod}) % {SPAN_STREAM_SPLITS}
                       END) AS first_b
            FROM g GROUP BY h),
    d AS (SELECT g.doc_id, g.pos FROM g
          JOIN idx USING (h)
          WHERE g.doc_id % {mod} = 0
            AND idx.first_b < (g.doc_id // {mod}) % {SPAN_STREAM_SPLITS}),
    isl AS (SELECT doc_id, pos,
                   pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
                     AS grp
            FROM d),
    runs AS (SELECT doc_id, min(pos) AS span_start,
                    max(pos) + {k - 1} AS span_end
             FROM isl GROUP BY doc_id, grp)
    SELECT r.doc_id,
           CAST((r.doc_id // {mod}) % {SPAN_STREAM_SPLITS} AS INT)
             AS arrival_batch,
           CAST(r.span_start AS BIGINT) AS span_start,
           CAST(r.span_end AS BIGINT) AS span_end,
           CAST(r.span_end - r.span_start + 1 AS BIGINT) AS span_tokens,
           md5(array_to_string(t.toks[r.span_start:r.span_end], ' '))
             AS span_md5
    FROM runs r JOIN t USING (doc_id)
    """


def _install_span_stream_oracle() -> None:
    """The oracle interpolates dedup_text's span constants, so it is
    built by a call at module bottom (the _install_scd2_oracle pattern)
    rather than at decoration time — keeping every dedup_text import
    function-local and the constants single-sourced."""
    op = REG.ops["evt_span_dedup_stream"]
    REG.ops["evt_span_dedup_stream"] = type(op)(
        op.id, op.query, _span_stream_oracle(), op.doc
    )


@REG.op("evt_span_dedup_stream")  # oracle installed below (deferred
# import); the driver and parity suite both see the final SQL
def evt_span_dedup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FOURTEENTH streaming gate — substring dedup as a streaming
    maintainer, composing round 11's span family with the foreachBatch
    index pattern (the crawler-ingest shape dedup_span_incremental's
    docstring promises): arrival docs (doc_id % MOD == 0) are staged
    as {SPAN_STREAM_SPLITS} wave files replayed one per micro-batch
    (maxFilesPerTrigger=1, mtimes force wave order); a PERSISTED gram
    index starts as the old corpus's distinct gram hashes, each wave
    is span-stripped against the index AS OF ITS ARRIVAL (left_semi on
    the gram hash, gaps-and-islands per doc — dedup_span_incremental's
    exact join, per batch), and the wave's own grams are appended to
    the index AFTER stripping — so docs arriving together never check
    against each other (no new-vs-new within a wave), while later
    waves see everything before them. The oracle reproduces the full
    arrival-order semantic relationally (first_b strictly-less rule),
    so the driver hash certifies actual incremental maintenance, not
    a batch stand-in.

    Scale: the index is the append-only distinct-gram table (grows
    with corpus novelty, not stream length — Heaps-sublinear); each
    micro-batch's work is arrival-sized grams semi-joined against it
    on the uniform md5 key; islands window only the arriving docs.
    Exactly the shape a crawler runs against an object-store gram
    index, with the file source standing in for the bus."""
    import time

    from claim_analysis_engine_spark.operators.dedup_text import (
        SPAN_GRAM,
        SPAN_INC_MOD,
        _span_grams,
    )
    from claim_analysis_engine_spark.tables import load

    docs = load(spark, sf_dir, "documents")
    toks = F.array_remove(F.split("text", " "), "").alias("toks")

    # stage: one parquet FILE per arrival wave, strictly increasing
    # mtimes so the file source (oldest-first) replays wave order
    import pandas as pd  # noqa: F401 — via pyarrow below
    import pyarrow as pa
    import pyarrow.parquet as pq

    stage = Path(fresh_dir("cae_stream_spanstage_"))
    full = pq.read_table(f"{sf_dir}/documents.parquet").to_pandas()
    arrivals = full[full.doc_id % SPAN_INC_MOD == 0]
    now = time.time()
    for b in range(SPAN_STREAM_SPLITS):
        wave = arrivals[(arrivals.doc_id // SPAN_INC_MOD) % SPAN_STREAM_SPLITS == b]
        f = stage / f"wave-{b:03d}.parquet"
        pq.write_table(pa.Table.from_pandas(wave, preserve_index=False), f)
        os.utime(f, (now + 10 * b, now + 10 * b))

    # the persisted gram index, seeded with the OLD corpus
    index_root = fresh_dir("cae_stream_spanidx_")
    old_g = (
        _span_grams(
            docs.where(F.col("doc_id") % SPAN_INC_MOD != 0).select(
                "doc_id", toks
            )
        )
        .select("h")
        .distinct()
    )
    old_g.write.mode("overwrite").parquet(index_root)

    result_dir = fresh_dir("cae_stream_spanout_")
    ckpt = fresh_dir("cae_stream_ckpt_")
    from pyspark.sql import Window as W

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        bdocs = batch_df.select("doc_id", toks)
        g = _span_grams(bdocs)
        idx = sess.read.parquet(index_root)
        d = g.join(idx, "h", "left_semi").select("doc_id", "pos")
        isl = d.select(
            "doc_id",
            "pos",
            (
                F.col("pos")
                - F.row_number().over(W.partitionBy("doc_id").orderBy("pos"))
            ).alias("grp"),
        )
        runs = isl.groupBy("doc_id", "grp").agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + (SPAN_GRAM - 1)).alias("span_end"),
        )
        spans = runs.join(bdocs, "doc_id").select(
            "doc_id",
            F.expr(
                f"CAST((doc_id div {SPAN_INC_MOD}) % {SPAN_STREAM_SPLITS} "
                "AS INT)"
            ).alias("arrival_batch"),
            F.col("span_start").cast("bigint").alias("span_start"),
            F.col("span_end").cast("bigint").alias("span_end"),
            (F.col("span_end") - F.col("span_start") + 1)
            .cast("bigint")
            .alias("span_tokens"),
            F.md5(
                F.concat_ws(
                    " ",
                    F.slice(
                        "toks",
                        F.col("span_start").cast("int"),
                        (F.col("span_end") - F.col("span_start") + 1).cast(
                            "int"
                        ),
                    ),
                )
            ).alias("span_md5"),
        )
        spans.write.mode("append").parquet(result_dir)
        # index append AFTER stripping: this wave's grams become
        # visible only to later waves (set semantics via the reader's
        # left_semi; within-wave dups collapsed here)
        g.select("h").distinct().write.mode("append").parquet(index_root)

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(stage))
    )
    n_batches = 0

    def counted(batch_df: DataFrame, batch_id: int) -> None:
        nonlocal n_batches
        n_batches += 1
        apply_batch(batch_df, batch_id)
    with _state_partitions(spark):
        q = (
            stream.writeStream.foreachBatch(counted)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    if n_batches != SPAN_STREAM_SPLITS:
        raise RuntimeError(
            f"span dedup stream ran {n_batches} micro-batches — expected "
            f"one per staged wave ({SPAN_STREAM_SPLITS})"
        )
    return spark.read.parquet(result_dir)


_install_span_stream_oracle()
