"""Explicit at-scale execution patterns, demonstrated as verifiable
operators: bucketed co-located joins, skew salting, and storage-level
partition pruning. Each op's RESULT is oracle-checked; its PLAN is
asserted by tests/test_scale_patterns.py (no Exchange before a
bucketed join; salted pre-aggregation stages).

These complement AQE rather than replace it: AQE handles runtime skew
splitting and small-partition coalescing, but bucket layout and
deliberate two-stage aggregation are design-time decisions a 100 TB
deployment makes up front.
"""

from __future__ import annotations

import shutil
import uuid

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from claim_analysis_engine_spark import artifacts
from claim_analysis_engine_spark.registry import OpRegistry
from claim_analysis_engine_spark.tables import load
from claim_analysis_engine_spark.tmputil import defer_delete, fresh_dir

REG = OpRegistry()

N_BUCKETS = 8
N_SALTS = 16

# (name, path) of the bucketed tables this session has created (see
# join_bucketed — each invocation drops its predecessor's pair)
_BUCKETED_TABLES: list[tuple[str, str]] = []


# ------------------------------------------------------ join_bucketed

@REG.op(
    "join_bucketed",
    oracle="""
    SELECT o.o_custkey, count(*) AS n_orders,
           round(CAST(sum(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2)
             AS total_qty
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY 1
    """,
)
def join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-fact join via BUCKETED tables: both sides are written
    bucketBy(8, orderkey) + sortBy, so the join needs NO shuffle of
    either side — the layout investment that makes repeated fact-fact
    joins affordable at 100 TB (verified by plan assertion in tests:
    zero Exchange between the scans and the SortMergeJoin). Tables get
    unique names per invocation so concurrent sessions can't collide.
    Their files are staged in a fresh temp dir (external tables), like
    every other op's staging, not in the session's warehouse dir,
    which outlives the process; THIS session's previous pair is
    dropped and its files removed first."""
    for stale, path in _BUCKETED_TABLES:
        spark.sql(f"DROP TABLE IF EXISTS {stale}")
        shutil.rmtree(path, ignore_errors=True)
    _BUCKETED_TABLES.clear()
    tag = uuid.uuid4().hex[:8]
    t_orders, t_lineitem = f"b_orders_{tag}", f"b_lineitem_{tag}"
    sides = (
        (t_orders, "o_orderkey", load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")),
        (
            t_lineitem,
            "l_orderkey",
            load(spark, sf_dir, "lineitem").select(
                "l_orderkey", F.col("l_quantity").cast("decimal(18,2)").alias("qty")
            ),
        ),
    )
    for table, key, frame in sides:
        path = fresh_dir(f"cae_{table}_")
        _BUCKETED_TABLES.append((table, path))
        (
            frame.write.bucketBy(N_BUCKETS, key)
            .sortBy(key)
            .mode("overwrite")
            .option("path", path)
            .saveAsTable(table)
        )
    o = spark.table(t_orders)
    li = spark.table(t_lineitem)
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("qty").cast("double"), 2).alias("total_qty"),
        )
    )


# -------------------------------------------------------- agg_salted

@REG.op(
    "agg_salted",
    oracle="""
    SELECT o_orderstatus, count(*) AS n,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
             AS total
    FROM orders GROUP BY 1
    """,
)
def agg_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe two-stage aggregation: o_orderstatus is heavily skewed
    (two values carry ~97% of rows), so stage 1 aggregates on
    (key, salt) — spreading each hot key over 16 reducers — and stage 2
    folds the partials. Decimal sums make the result identical to the
    direct aggregation regardless of folding order. (Spark's map-side
    partial aggregation covers this case too; explicit salting is the
    pattern for the cases it can't, e.g. collect_list/exact distinct
    on skewed keys.)"""
    o = load(spark, sf_dir, "orders").withColumn(
        "salt", (F.col("o_orderkey") % N_SALTS).cast("int")
    )
    partial = o.groupBy("o_orderstatus", "salt").agg(
        F.count(F.lit(1)).alias("pn"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("pt"),
    )
    return partial.groupBy("o_orderstatus").agg(
        F.sum("pn").alias("n"),
        F.round(F.sum("pt").cast("double"), 2).alias("total"),
    )


# ----------------------------------------------------- prune_partition

@REG.op(
    "prune_partition",
    oracle="""
    SELECT o_orderstatus, count(*) AS n FROM orders
    WHERE year(o_orderdate) = 1997 AND month(o_orderdate) = 6
    GROUP BY 1
    """,
)
def prune_partition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-pruned read against a freshly written (year, month)
    hub: the filter lands on partition COLUMNS, so the scan lists only
    the 1997/06 directory — the access pattern every dashboard query
    rides on (reference filtered dataset scans,
    core/storage.py:171-193). Plan-asserted in tests: the scan's
    partition filters carry the year/month predicates."""
    hub = fresh_dir("cae_spark_prune_")
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.year("o_orderdate").alias("y"),
        F.month("o_orderdate").alias("m"),
    )
    o.write.partitionBy("y", "m").mode("overwrite").parquet(hub)
    back = spark.read.parquet(hub).where((F.col("y") == 1997) & (F.col("m") == 6))
    return back.groupBy("o_orderstatus").agg(F.count(F.lit(1)).alias("n"))


# --------------------------------------------------- approx aggregates

@REG.op("agg_approx_distinct")  # rows-only: HLL estimates are engine-
# specific; tests/test_scale_patterns.py bounds the relative error vs
# the exact count instead
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct counting per group (rsd 2%) beside the
    exact count — at 100 TB the exact distinct is a full shuffle of the
    key universe while the sketch is a fixed few-KB buffer per group
    that map-side combines; this op reports both so the error is
    observable, a production pipeline keeps only the sketch."""
    o = load(spark, sf_dir, "orders").select("o_orderstatus", "o_custkey")
    # r14: approx and exact in SEPARATE aggregates joined on the group
    # key. Mixed distinct + non-distinct aggregates plan as Expand +
    # a partial aggregate keyed (status, custkey) — which instantiates
    # one HLL buffer PER DISTINCT KEY (~50k sketch buffers) instead of
    # per group (3). Splitting keeps each aggregate in its natural
    # shape (guide §2.3 "aggregate before you shuffle"); measured
    # 1.42 s → 0.35 s on the contract twin, values identical.
    ap = o.groupBy("o_orderstatus").agg(
        F.approx_count_distinct("o_custkey", rsd=0.02).alias("approx_custs")
    )
    ex = o.groupBy("o_orderstatus").agg(
        F.countDistinct("o_custkey").alias("exact_custs")
    )
    return ap.join(F.broadcast(ex), "o_orderstatus")


@REG.op("agg_sketch_quantiles")  # rows-only: approx quantile sketches
# are engine-specific; error bounded in tests vs exact percentiles
def agg_sketch_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile sketch (percentile_approx, accuracy 10000)
    over order totals per status, beside the exact percentile — the
    distributed substitute for exact quantiles when a group's values
    no longer fit one reducer (the exact path holds the whole group's
    values in memory; the sketch is bounded and map-side mergeable)."""
    o = load(spark, sf_dir, "orders").select(
        "o_orderstatus", F.col("o_totalprice").cast("double").alias("v")
    )
    return o.groupBy("o_orderstatus").agg(
        F.round(F.percentile_approx("v", 0.5, 10000), 2).alias("approx_p50"),
        F.round(F.percentile("v", F.lit(0.5)), 2).alias("exact_p50"),
        F.round(F.percentile_approx("v", 0.99, 10000), 2).alias("approx_p99"),
        F.round(F.percentile("v", F.lit(0.99)), 2).alias("exact_p99"),
    )


# ----------------------------------------------- agg_hll_error_contract

HLL_RSD = 0.02          # approx_count_distinct relative standard dev
HLL_ERR_CAP_BP = 800    # |est − exact|/exact must stay under 8% (4·rsd)
# — HLL++ error is probabilistic (rsd is ONE σ), so the certified cap
# is 4σ: astronomically safe for a deterministic-seed sketch while
# still catching an implementation/merge regression outright


@REG.op(
    "agg_hll_error_contract",
    oracle=f"""
    SELECT o_orderstatus,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS exact_custs,
           {HLL_ERR_CAP_BP} AS err_cap_bp,
           TRUE AS err_ok
    FROM orders GROUP BY 1
    """,
)
def agg_hll_error_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-level partial oracle for the rows-only HLL family (the
    ep3_forecast_contract pattern): the sketch ESTIMATE is
    engine-specific, but its error contract is not. Per status, Spark
    computes approx_count_distinct(rsd {HLL_RSD}) AND the exact
    distinct, measures the relative error in basis points, and emits
    whether it clears the {HLL_ERR_CAP_BP}-bp cap (4× the configured
    rsd); the oracle recomputes the exact count and asserts TRUE. A
    broken sketch merge or a silent rsd regression hash-mismatches at
    the driver gate instead of hiding behind rows-only. Scale: the
    exact count is the audit half (full key shuffle — the thing the
    sketch exists to avoid); production keeps the sketch and runs
    this contract on sampled partitions."""
    o = load(spark, sf_dir, "orders").select("o_orderstatus", "o_custkey")
    # r14: same split as agg_approx_distinct — the mixed-distinct plan
    # (Expand + per-custkey-group HLL buffers) cost 1.42 s isolated;
    # two natural-shape aggregates + a 3-row broadcast join read
    # 0.35 s with identical values (sketch merge is order- and
    # partitioning-insensitive, so the estimate cannot move).
    ex = o.groupBy("o_orderstatus").agg(
        F.countDistinct("o_custkey").alias("exact_custs")
    )
    ap = o.groupBy("o_orderstatus").agg(
        F.approx_count_distinct("o_custkey", rsd=HLL_RSD).alias("approx_custs")
    )
    m = ex.join(F.broadcast(ap), "o_orderstatus")
    err_bp = F.expr(
        "CAST(abs(approx_custs - exact_custs) * 10000 AS BIGINT) div exact_custs"
    )
    return m.select(
        "o_orderstatus",
        "exact_custs",
        F.lit(HLL_ERR_CAP_BP).alias("err_cap_bp"),
        (err_bp <= HLL_ERR_CAP_BP).alias("err_ok"),
    )


# ------------------------------------------- agg_quantile_rank_contract

QSK_ACC = 10000          # percentile_approx accuracy → ε = 1/QSK_ACC
QSK_Q_BP = (5000, 9900)  # quantiles certified, in basis points


@REG.op(
    "agg_quantile_rank_contract",
    oracle=f"""
    WITH n AS (
      SELECT o_orderstatus, count(*) AS n_rows FROM orders GROUP BY 1
    )
    SELECT o_orderstatus, q_bp, CAST(n_rows AS BIGINT) AS n_rows,
           CAST((q_bp - 1) * n_rows AS BIGINT) // 10000 - 1 AS rank_lo,
           CAST((q_bp + 1) * n_rows AS BIGINT) // 10000 + 2 AS rank_hi,
           TRUE AS rank_ok
    FROM n, (VALUES ({QSK_Q_BP[0]}), ({QSK_Q_BP[1]})) AS t(q_bp)
    """,
)
def agg_quantile_rank_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-level partial oracle for the rows-only quantile sketch
    (the ep3_forecast_contract pattern): the sketch ESTIMATE is
    engine- and partitioning-specific, but its accuracy guarantee is
    not — a Greenwald-Khanna/KLL φ-quantile at accuracy {QSK_ACC}
    must return a value whose rank interval overlaps
    [(φ−ε)·n, (φ+ε)·n]. Spark MEASURES it: per order status and
    quantile, compute the approx estimate, then its exact rank
    interval in the data (count(< est)+1 .. count(≤ est) — the
    interval form makes duplicate values first-class), and emit the
    boolean; the oracle recomputes n and the integer-exact bounds
    (same div-10000 arithmetic both engines, ±1/+2 cushions for the
    closed-interval ends) and asserts TRUE. A sketch whose error
    exceeds its contract hash-mismatches at the driver gate instead
    of hiding behind rows-only. Scale: one aggregate to the status
    grain for estimates, one broadcast-join re-scan for ranks."""
    o = load(spark, sf_dir, "orders").select(
        "o_orderstatus", F.col("o_totalprice").cast("double").alias("v")
    )
    est = o.groupBy("o_orderstatus").agg(
        F.percentile_approx("v", QSK_Q_BP[0] / 10000.0, QSK_ACC).alias("e_a"),
        F.percentile_approx("v", QSK_Q_BP[1] / 10000.0, QSK_ACC).alias("e_b"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    ranks = (
        o.join(F.broadcast(est), "o_orderstatus")
        .groupBy("o_orderstatus")
        .agg(
            F.first("n_rows").alias("n_rows"),
            F.sum((F.col("v") < F.col("e_a")).cast("long")).alias("lt_a"),
            F.sum((F.col("v") <= F.col("e_a")).cast("long")).alias("le_a"),
            F.sum((F.col("v") < F.col("e_b")).cast("long")).alias("lt_b"),
            F.sum((F.col("v") <= F.col("e_b")).cast("long")).alias("le_b"),
        )
    )
    per_q = ranks.select(
        "o_orderstatus",
        "n_rows",
        F.explode(
            F.array(
                F.struct(
                    F.lit(QSK_Q_BP[0]).alias("q_bp"),
                    F.col("lt_a").alias("r_lt"),
                    F.col("le_a").alias("r_le"),
                ),
                F.struct(
                    F.lit(QSK_Q_BP[1]).alias("q_bp"),
                    F.col("lt_b").alias("r_lt"),
                    F.col("le_b").alias("r_le"),
                ),
            )
        ).alias("x"),
    ).select("o_orderstatus", F.col("x.q_bp").alias("q_bp"), "n_rows", "x.r_lt", "x.r_le")
    return per_q.select(
        "o_orderstatus",
        "q_bp",
        "n_rows",
        F.expr("CAST((q_bp - 1) * n_rows AS BIGINT) div 10000 - 1").alias("rank_lo"),
        F.expr("CAST((q_bp + 1) * n_rows AS BIGINT) div 10000 + 2").alias("rank_hi"),
        (
            (F.col("r_le") >= F.expr("CAST((q_bp - 1) * n_rows AS BIGINT) div 10000 - 1"))
            & (F.col("r_lt") + 1 <= F.expr("CAST((q_bp + 1) * n_rows AS BIGINT) div 10000 + 2"))
        ).alias("rank_ok"),
    )


# ------------------------------------------------- sort_global_shards

N_RANGE_SHARDS = 8


def sorted_export_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The frame sort_global_shards writes: rows keyed to deterministic
    range shards, range-repartitioned so each shard is one partition in
    shard order, sorted within partitions. Exposed separately so the
    plan test can assert the WRITE plan's rangepartitioning exchange
    (the op's returned profile reads the files back, by which point the
    exchange has already executed)."""
    o = load(spark, sf_dir, "orders").select("o_orderkey")
    mx = o.agg(F.max("o_orderkey").alias("mk"))
    keyed = o.crossJoin(F.broadcast(mx)).select(
        "o_orderkey",
        F.least(
            F.floor(
                F.col("o_orderkey") * float(N_RANGE_SHARDS) / (F.col("mk") + 1)
            ).cast("int"),
            F.lit(N_RANGE_SHARDS - 1),
        ).alias("shard"),
    )
    return keyed.repartitionByRange(N_RANGE_SHARDS, "shard").sortWithinPartitions(
        "shard", "o_orderkey"
    )


@REG.op(
    "sort_global_shards",
    oracle=f"""
    WITH mx AS (SELECT max(o_orderkey) AS mk FROM orders),
    keyed AS (
      SELECT o_orderkey,
             least(CAST(floor(o_orderkey * {N_RANGE_SHARDS}.0 / (mk + 1))
                        AS INT), {N_RANGE_SHARDS - 1}) AS shard
      FROM orders, mx
    )
    SELECT shard, count(*) AS n_rows,
           CAST(min(o_orderkey) AS BIGINT) AS min_key,
           CAST(max(o_orderkey) AS BIGINT) AS max_key
    FROM keyed GROUP BY 1
    """,
)
def sort_global_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Globally ordered export without a single reducer — the pattern
    for writing a 100 TB table in total key order: deterministic range
    boundaries (fixed fractions of the key maximum, so both engines
    replicate them) assign each row a shard, `repartitionByRange` puts
    each shard's rows on one partition IN SHARD ORDER, rows sort
    within partitions, and the sink writes one run per shard. The
    returned per-shard (n_rows, min_key, max_key) profile proves the
    total order: shard ranges are disjoint and increasing, which
    tests/test_scale_patterns.py asserts along with the plan's
    rangepartitioning exchange. (Spark's own repartitionByRange
    samples its boundaries — run-dependent — which is why the SHARD
    column, not the sampler, carries the contract here.)"""
    out = fresh_dir("cae_spark_sorted_")
    sorted_export_frame(spark, sf_dir).write.mode("overwrite").parquet(out)
    back = spark.read.parquet(out)
    return back.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
    )


# ----------------------------------------------------------- sort_zorder

Z_BITS = 8          # bits kept per dimension (bx, by ∈ [0, 255])
Z_SHARDS = 16       # top 4 z-bits → 2 leading bits of EACH dimension


def _interleave_sql(bx: str, by: str) -> str:
    """DuckDB expression interleaving the low Z_BITS of two ints:
    bit i of bx lands at position 2i+1, bit i of by at 2i."""
    terms = []
    for i in range(Z_BITS):
        terms.append(f"(({bx} >> {i}) & 1) * {1 << (2 * i + 1)}")
        terms.append(f"(({by} >> {i}) & 1) * {1 << (2 * i)}")
    return " + ".join(terms)


def _interleave_col(bx: F.Column, by: F.Column) -> F.Column:
    out = F.lit(0)
    for i in range(Z_BITS):
        out = out + F.shiftright(bx, i).bitwiseAND(F.lit(1)) * F.lit(1 << (2 * i + 1))
        out = out + F.shiftright(by, i).bitwiseAND(F.lit(1)) * F.lit(1 << (2 * i))
    return out


@REG.op(
    "sort_zorder",
    oracle=f"""
    WITH keyed AS (
      SELECT o_orderkey,
             CAST(o_custkey % 256 AS INT) AS bx,
             CAST((year(o_orderdate) * 12 + month(o_orderdate) - 1) % 256
                  AS INT) AS by
      FROM orders
    ),
    z AS (
      SELECT o_orderkey, bx, by,
             CAST({_interleave_sql('bx', 'by')} AS INT) AS zval
      FROM keyed
    )
    SELECT CAST(zval >> {16 - 4} AS INT) AS shard, count(*) AS n_rows,
           CAST(min(bx) AS INT) AS min_bx, CAST(max(bx) AS INT) AS max_bx,
           CAST(min(by) AS INT) AS min_by, CAST(max(by) AS INT) AS max_by
    FROM z GROUP BY 1
    """,
)
def sort_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering for multi-dimension data skipping:
    interleave the low 8 bits of two frequently-filtered dimensions
    (customer bucket, month index), range-shard on the z-value, sort
    within shards, and write — so each output file's min/max footer
    stats are TIGHT in BOTH dimensions (a linear sort is tight in one
    and spans the full range in the other). The returned per-shard
    profile proves it: with 16 shards (top 4 z-bits = 2 leading bits
    of each dimension), every shard spans ≤ a quarter of EACH dim's
    range — asserted in tests/test_scale_patterns.py, alongside the
    skipping contrast vs a single-dim sort. At 100 TB this is the
    layout that lets a scan on either predicate prune ~15/16 of files
    without any index."""
    out = fresh_dir("cae_spark_zorder_")
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        (F.col("o_custkey") % 256).cast("int").alias("bx"),
        (
            (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1) % 256
        ).cast("int").alias("by"),
    )
    z = o.withColumn("zval", _interleave_col(F.col("bx"), F.col("by")).cast("int"))
    sharded = z.withColumn(
        "shard", F.shiftright("zval", 2 * Z_BITS - 4).cast("int")
    )
    (
        sharded.repartitionByRange(Z_SHARDS, "shard")
        .sortWithinPartitions("shard", "zval")
        .write.mode("overwrite")
        .parquet(out)
    )
    back = spark.read.parquet(out)
    return back.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("bx").alias("min_bx"),
        F.max("bx").alias("max_bx"),
        F.min("by").alias("min_by"),
        F.max("by").alias("max_by"),
    )


# -------------------------------------------------------- snk_compaction

FRAGMENT_FILES = 64          # staged small-file count (the problem)
COMPACT_ROWS_PER_FILE = 4096  # target rows/file — stands in for the
# 128 MB byte target a production compactor sizes from sampled row
# width; a row-count contract keeps the oracle engine-independent
# (byte sizes vary with compression/writer version)


# (frag_dir, compacted_dir) of the most recent invocation — lets the
# test cross-check the engine-side file counts against the filesystem
_LAST_COMPACTION_DIRS: list[str] = []


@REG.op(
    "snk_compaction",
    oracle=f"""
    SELECT count(*) AS n_rows,
           {FRAGMENT_FILES} AS n_files_before,
           CAST(ceil(count(*) / {COMPACT_ROWS_PER_FILE}.0) AS INT)
             AS n_files_after,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
             AS total
    FROM orders
    """,
)
def snk_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction — the maintenance job every long-lived
    100 TB table needs: streaming/incremental writers leave thousands
    of KB-sized files whose per-file open/footer cost dominates scans.
    Stage the problem (round-robin write into 64 fragments), then
    compact: read back, round-robin `repartition(ceil(rows/target))`
    (AQE leaves explicit round-robin repartitions alone — measured in
    round 6), rewrite. File counts are measured ENGINE-SIDE (distinct
    `input_file_name()`, which works on any filesystem Spark can read,
    not just local paths) and the decimal sum proves content equality
    through both rewrites. Tests additionally assert the physical
    file counts on disk match the reported ones."""
    frag = fresh_dir("cae_spark_frag_")
    compacted = fresh_dir("cae_spark_compact_")
    _LAST_COMPACTION_DIRS[:] = [frag, compacted]
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    o.repartition(FRAGMENT_FILES).write.mode("overwrite").parquet(frag)

    staged = spark.read.parquet(frag)
    n_rows = staged.count()
    n_target = -(-n_rows // COMPACT_ROWS_PER_FILE)  # ceil
    staged.repartition(n_target).write.mode("overwrite").parquet(compacted)

    def n_files(path: str):
        return (
            spark.read.parquet(path)
            .select(F.input_file_name().alias("f"))
            .distinct()
            .count()
        )

    final = spark.read.parquet(compacted)
    return final.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.lit(n_files(frag)).alias("n_files_before"),
        F.lit(n_files(compacted)).alias("n_files_after"),
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double"), 2
        ).alias("total"),
    )


# --------------------------------------------------- join_skew_salted

@REG.op(
    "join_skew_salted",
    oracle="""
    WITH dim AS (
      SELECT l_returnflag,
             round(avg(CAST(l_discount AS DOUBLE)), 6) AS ref_discount
      FROM lineitem GROUP BY 1
    )
    SELECT l.l_returnflag, count(*) AS n_rows,
           round(sum(abs(CAST(l.l_discount AS DOUBLE) - d.ref_discount)), 2)
             AS total_abs_dev
    FROM lineitem l JOIN dim d ON d.l_returnflag = l.l_returnflag
    GROUP BY 1
    """,
)
def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted shuffle join on a pathologically skewed key: l_returnflag
    has 3 values (one carrying ~half the rows), so a plain shuffle join
    lands whole key populations on single reducers. The salt spreads
    each key over 16 reducers: the fact side salts by row hash, the dim
    side replicates each key x 16 salts, and the join runs on
    (key, salt) — the standard fix when the dim side is TOO BIG to
    broadcast (here it is tiny, so the broadcast path is disabled via
    a SHUFFLE_HASH hint to keep the demonstrated plan honest; the plan
    assertion pins the salted keys and the absence of a broadcast).
    AQE's skew-join split covers sort-merge cases adaptively; explicit
    salting is the design-time form that also covers aggregates and
    works under any join strategy."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        F.col("l_discount").cast("double").alias("disc"),
    )
    dim = li.groupBy("l_returnflag").agg(
        F.round(F.avg("disc"), 6).alias("ref_discount")
    )
    salted_dim = dim.select(
        "l_returnflag",
        "ref_discount",
        F.explode(F.array(*[F.lit(s) for s in range(N_SALTS)])).alias("salt"),
    )
    # deterministic per-row salt from the line's natural key
    fact = li.withColumn(
        "salt",
        F.pmod(F.xxhash64("l_orderkey", "l_linenumber"), F.lit(N_SALTS)).cast(
            "int"
        ),
    )
    joined = fact.join(
        salted_dim.hint("SHUFFLE_HASH"), ["l_returnflag", "salt"]
    )
    return joined.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum(F.abs(F.col("disc") - F.col("ref_discount"))), 2).alias(
            "total_abs_dev"
        ),
    )


# ------------------------------------------------------------ join_dpp

@REG.op(
    "join_dpp",
    oracle="""
    WITH dim AS (
      SELECT DISTINCT year(o_orderdate) AS y
      FROM orders WHERE o_orderpriority = '1-URGENT'
        AND year(o_orderdate) >= 2000
    )
    SELECT f.y, f.o_orderstatus, count(*) AS n
    FROM (SELECT year(o_orderdate) AS y, o_orderstatus FROM orders) f
    JOIN dim ON dim.y = f.y
    GROUP BY 1, 2
    """,
)
def join_dpp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning — the third pruning mode after static
    partition filters (prune_partition) and column pruning: the fact
    side is partitioned by year, the dim side's qualifying years are
    only known at RUNTIME (a non-partition predicate selects them), and
    Spark injects the dim's build-side keys as a runtime filter into
    the fact SCAN, so unqualified year directories are never read. At
    100 TB this is the difference between scanning 25 years and the 2
    the dim actually selects — with no static predicate available to
    write. The plan assertion in tests/test_scale_patterns.py pins the
    `dynamicpruningexpression` on the fact scan's partition filters."""
    hub = fresh_dir("cae_spark_dpp_")
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        "o_orderpriority",
        F.year("o_orderdate").alias("y"),
    )
    o.write.partitionBy("y").mode("overwrite").parquet(hub)
    fact = spark.read.parquet(hub)
    dim = (
        fact.where(
            (F.col("o_orderpriority") == "1-URGENT") & (F.col("y") >= 2000)
        )
        .select("y")
        .distinct()
    )
    joined = fact.join(F.broadcast(dim), "y")
    return joined.groupBy("y", "o_orderstatus").agg(F.count(F.lit(1)).alias("n"))


# ---------------------------------------------- agg_hll_union_rollup

@REG.op("agg_hll_union_rollup")  # rows-only: HLL estimates are
# engine-specific; tests/test_scale_patterns.py bounds the error AND
# asserts the union path equals re-sketching (mergeability)
def agg_hll_union_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The property that makes sketches matter at 100 TB: MERGEABILITY.
    Distinct customers are sketched once per (status, year) — the fine
    grain — and the yearly rollup comes from `hll_union_agg` over the
    stored sketches, never from re-scanning the fact table. The op
    emits, per status: the union-of-sketches estimate, the direct
    one-pass sketch estimate over the same rows, and the exact count —
    so both the merge identity (union ≈ direct, same sketch family)
    and the error bound are observable. A production pipeline
    materializes the fine-grain sketch table and answers every
    coarser distinct-count rollup from it in sketch space: bytes per
    group instead of a key-universe shuffle per question."""
    o = load(spark, sf_dir, "orders").select(
        "o_orderstatus", "o_custkey", F.year("o_orderdate").alias("y")
    )
    fine = o.groupBy("o_orderstatus", "y").agg(
        F.hll_sketch_agg("o_custkey").alias("sk")
    )
    unioned = fine.groupBy("o_orderstatus").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("union_est")
    )
    direct = o.groupBy("o_orderstatus").agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("o_custkey")).alias("direct_est"),
        F.countDistinct("o_custkey").alias("exact"),
    )
    return unioned.join(direct, "o_orderstatus").select(
        "o_orderstatus", "union_est", "direct_est", "exact"
    )


# ----------------------------------------------- agg_hll_merge_contract

HLL_MERGE_ERR_CAP_BP = 800    # same 4σ cap as agg_hll_error_contract
HLL_MERGE_AGREE_BP = 200      # |union − direct| / exact: the two paths
# estimate the same set through different internal representations
# (union promotes sparse→dense), so they agree closely but not
# bit-exactly — measured ≤ 70 bp across sf0.001–0.1; 200 bp is margin


@REG.op(
    "agg_hll_merge_contract",
    oracle=f"""
    SELECT o_orderstatus,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS exact_custs,
           {HLL_MERGE_ERR_CAP_BP} AS err_cap_bp,
           TRUE AS union_err_ok,
           TRUE AS merge_agreement_ok
    FROM orders GROUP BY 1
    """,
)
def agg_hll_merge_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-level partial oracle for agg_hll_union_rollup's
    MERGEABILITY claim — the property that makes sketches matter at
    100 TB. Spark sketches distinct customers per (status, year),
    unions the fine-grain sketches up to status, and measures two
    booleans the oracle asserts TRUE: the union estimate clears the
    same 4σ error cap vs the exact distinct (merging loses no
    accuracy budget), and the union estimate agrees with the direct
    one-pass sketch estimate over the same rows to within
    {HLL_MERGE_AGREE_BP} bp (NOT bit-equality — the union path
    promotes the sketch representation, so the two estimates of the
    same set differ by ulps of the estimator, measured ≤ 70 bp; a
    broken merge drifts by orders of magnitude more). Exact counts
    are recomputed by the oracle. A regression in sketch merge,
    serialization, or precision defaults hash-mismatches at the
    driver gate instead of hiding behind rows-only."""
    o = load(spark, sf_dir, "orders").select(
        "o_orderstatus", "o_custkey", F.year("o_orderdate").alias("y")
    )
    fine = o.groupBy("o_orderstatus", "y").agg(
        F.hll_sketch_agg("o_custkey").alias("sk")
    )
    unioned = fine.groupBy("o_orderstatus").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("union_est")
    )
    direct = o.groupBy("o_orderstatus").agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("o_custkey")).alias("direct_est"),
        F.countDistinct("o_custkey").alias("exact_custs"),
    )
    err_bp = F.expr(
        "CAST(abs(union_est - exact_custs) * 10000 AS BIGINT) div exact_custs"
    )
    agree_bp = F.expr(
        "CAST(abs(union_est - direct_est) * 10000 AS BIGINT) div exact_custs"
    )
    return unioned.join(direct, "o_orderstatus").select(
        "o_orderstatus",
        "exact_custs",
        F.lit(HLL_MERGE_ERR_CAP_BP).alias("err_cap_bp"),
        (err_bp <= HLL_MERGE_ERR_CAP_BP).alias("union_err_ok"),
        (agree_bp <= HLL_MERGE_AGREE_BP).alias("merge_agreement_ok"),
    )


# ----------------------------------------------- join_bloom_prefilter

BLOOM_BITS_PER_KEY = 10  # ~1% false-positive rate at 7 hashes
BLOOM_NUM_HASHES = 7
_BLOOM_SALT = 0xA5A5A5A5A5A5A5A5

# stale broadcast handles from earlier invocations in this session —
# destroyed on the next call so repeated bench runs don't accumulate
# executor-side bitmap copies
_BLOOM_STALE: list = []


def _mix64(x):
    """splitmix64 finalizer over a uint64 numpy array (public-domain
    constants; same avalanche quality as Murmur3 fmix64). Unsigned
    numpy arithmetic wraps mod 2^64 by definition — exactly what the
    hash wants."""
    x = x + np.uint64(0x9E3779B97F4A7C15)
    x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return x ^ (x >> np.uint64(31))


def _bloom_positions(keys, m_bits: int):
    """Yield BLOOM_NUM_HASHES uint64 index arrays via Kirsch-
    Mitzenmacher double hashing: pos_i = (h1 + i*h2) mod m."""
    x = keys.astype(np.int64).astype(np.uint64)
    h1 = _mix64(x)
    h2 = _mix64(x ^ np.uint64(_BLOOM_SALT)) | np.uint64(1)
    for i in range(BLOOM_NUM_HASHES):
        yield (h1 + np.uint64(i) * h2) % np.uint64(m_bits)


@REG.op(
    "join_bloom_prefilter",
    oracle="""
    SELECT c.c_nationkey, count(*) AS n_orders,
           round(CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
             AS total_price
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    WHERE c.c_mktsegment = 'BUILDING'
    GROUP BY 1
    """,
)
def join_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime-filter join: a Bloom filter built DISTRIBUTED over the
    filtered dim side's keys prefilters the fact side BEFORE its
    shuffle, then the real join runs — false positives are removed by
    the join itself, so the result is exact (the oracle is the plain
    join). This is the pattern for the 100 TB case where the dim side
    is too big to broadcast as a hash relation but its key FINGERPRINT
    (10 bits/key) still fits everywhere: fact rows that fail the bloom
    never enter the exchange, cutting shuffle volume by the join's
    selectivity (~80% here).

    Mechanics: one pass over the dim keys via mapInPandas emits ONE
    partial bitmap per partition (numpy uint8, OR-merged driver-side —
    a tree-reduce at real partition counts), broadcast as bytes; the
    probe is a vectorized pandas UDF (splitmix64 double hashing, 7
    probes/key, no per-row Python). Spark's own AQE runtime filters
    cover the simple cases; doing it as data keeps the technique
    composable (e.g. pre-filtering a streaming source by a static dim).
    """
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    while _BLOOM_STALE:
        _BLOOM_STALE.pop().destroy()

    dim = (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey", "c_nationkey")
    )
    n_keys = max(dim.count(), 1)  # one cheap count job sizes the filter
    m_bits = max(1024, BLOOM_BITS_PER_KEY * n_keys)
    m_bits += (-m_bits) % 8

    def build(batches):
        bits = np.zeros(m_bits // 8, dtype=np.uint8)
        seen = False
        for pdf in batches:
            keys = pdf["c_custkey"].to_numpy()
            if len(keys):
                seen = True
                for pos in _bloom_positions(keys, m_bits):
                    # unbuffered |=: plain fancy-index assignment drops
                    # all but one update when two keys land in the same
                    # BYTE within a batch (last write wins) — silently
                    # losing bits, i.e. bloom FALSE NEGATIVES
                    np.bitwise_or.at(
                        bits,
                        (pos >> np.uint64(3)).astype(np.int64),
                        np.uint8(1) << (pos & np.uint64(7)).astype(np.uint8),
                    )
        if seen:
            yield pd.DataFrame({"bitmap": [bits.tobytes()]})

    partials = dim.select("c_custkey").mapInPandas(
        build, schema=T.StructType([T.StructField("bitmap", T.BinaryType())])
    )
    merged = np.zeros(m_bits // 8, dtype=np.uint8)
    # bounded: one m_bits/8-byte bitmap per input partition
    for row in partials.collect():
        merged |= np.frombuffer(row["bitmap"], dtype=np.uint8)
    bc = spark.sparkContext.broadcast(merged.tobytes())
    _BLOOM_STALE.append(bc)

    @pandas_udf("boolean")
    def might_contain(keys: pd.Series) -> pd.Series:
        bits = np.frombuffer(bc.value, dtype=np.uint8)
        k = keys.to_numpy()
        ok = np.ones(len(k), dtype=bool)
        for pos in _bloom_positions(k, m_bits):
            ok &= (
                bits[(pos >> np.uint64(3)).astype(np.int64)]
                >> (pos & np.uint64(7)).astype(np.uint8)
            ) & np.uint8(1) == 1
        return pd.Series(ok)

    fact = load(spark, sf_dir, "orders").filter(might_contain(F.col("o_custkey")))
    # deliberately NOT broadcast: the scenario is a dim too big to ship
    # as a hash relation — the join is the exact post-filter
    return (
        fact.join(dim, fact.o_custkey == dim.c_custkey)
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double"), 2
            ).alias("total_price"),
        )
    )


# -------------------------------------------------- agg_heavy_hitters

HH_FRACTION = 0.006  # a key is "heavy" above this share of all rows


@REG.op(
    "agg_heavy_hitters",
    oracle=f"""
    SELECT user_id, count(*) AS n_events
    FROM events GROUP BY 1
    HAVING count(*) > {HH_FRACTION} * (SELECT count(*) FROM events)
    """,
)
def agg_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT heavy hitters (keys above {HH_FRACTION:.1%} of all rows)
    via candidate pruning: pass 1 keeps, per pandas batch, only keys
    whose LOCAL count exceeds the same fraction of the batch — by
    pigeonhole any key with global count > s·N must exceed s·n_b in
    at least one batch, so no true heavy hitter is lost. Pass 2
    semi-joins the (tiny, distinct) candidate set back and counts
    exactly, applying the global threshold.

    Why not one groupBy: at 100 TB with billions of distinct keys the
    full aggregate shuffles every key ever seen; the candidate pass
    shrinks the exact shuffle to keys that are locally frequent
    anywhere — the distributed form of Misra-Gries with the summary
    capacity expressed as a frequency floor instead of a fixed k. The
    global row count N is an aggregate scalar cross-joined back (one
    broadcast), never a driver literal; the candidate set is
    broadcast into a semi join so pass 2 adds no extra shuffle of the
    fact table."""
    from pyspark.sql import types as T

    e = load(spark, sf_dir, "events").select("user_id")

    def local_frequent(batches):
        for pdf in batches:
            vc = pdf["user_id"].value_counts()
            keep = vc[vc > HH_FRACTION * len(pdf)]
            if len(keep):
                yield pd.DataFrame({"user_id": keep.index.to_numpy()})

    candidates = e.mapInPandas(
        local_frequent,
        schema=T.StructType([T.StructField("user_id", T.LongType())]),
    ).distinct()

    n_total = e.agg(F.count(F.lit(1)).alias("n_total"))
    return (
        e.join(F.broadcast(candidates), "user_id", "left_semi")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .crossJoin(F.broadcast(n_total))
        .filter(F.col("n_events") > HH_FRACTION * F.col("n_total"))
        .select("user_id", "n_events")
    )


# -------------------------------------------------- prune_file_stats

FS_D1 = "1998-03-15"  # predicate window for the skipping demo
FS_D2 = "1998-06-15"

@REG.op(
    "prune_file_stats",
    oracle=f"""
    WITH li AS (
        SELECT CAST(l_shipdate AS DATE) AS ship_d, l_extendedprice
        FROM lineitem
    ), agg AS (
        SELECT count(*) AS n_rows,
               round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
                          AS DOUBLE), 2) AS revenue
        FROM li
        WHERE ship_d BETWEEN DATE '{FS_D1}' AND DATE '{FS_D2}'
    ), per_file AS (
        SELECT date_trunc('month', ship_d) AS grp,
               min(ship_d) AS mn, max(ship_d) AS mx
        FROM li GROUP BY 1
    ), files AS (
        SELECT CAST(count(*) AS BIGINT) AS n_files_total,
               CAST(sum(CASE WHEN mx >= DATE '{FS_D1}'
                              AND mn <= DATE '{FS_D2}'
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_files_read
        FROM per_file
    )
    SELECT n_files_total, n_files_read, n_rows, revenue FROM files, agg
    """,
)
def prune_file_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILE-level min/max data skipping — the lakehouse scan-pruning
    mode that needs no partition directories and no table format:
    lineitem is laid out clustered by ship month (one file per month,
    the write-side clustering a 100 TB table does anyway for sort
    locality), a stats table of per-FILE min/max l_shipdate is
    collected, and a date-range query reads ONLY the files whose
    [min, max] interval intersects the predicate, with the residual
    filter applied to the survivors. Delta/Iceberg keep exactly these
    stats in their metadata layer; here they are derived with one
    aggregate over input_file_name (at scale: straight from parquet
    footers, no data scan).

    The op emits the pruning DECISION (files total vs files read)
    next to the query answer, and the oracle recomputes BOTH from the
    raw table — a wrong layout, wrong stats, or wrong interval test
    hash-mismatches at the gate rather than silently reading extra.

    Scale: the stats frame is file-count-sized (thousands of rows for
    a 100 TB table — KBs), so collecting the surviving file list to
    drive an explicit-path read is the same driver-side cost Spark's
    own FileIndex pays; the pruned read plans over ~5% of the files
    for this 3-month predicate with zero directory listing. The
    clustered layout + stats are the "fileskip_layout" artifact,
    written once per version of the input, because
    layout-once-query-many is the access pattern this op demonstrates;
    re-clustering the table per query would charge the amortized write
    to every read."""
    out, stats = artifacts.get_or_build(
        "fileskip_layout",
        spark,
        sf_dir,
        lambda: _fileskip_layout(spark, sf_dir),
        on_evict=lambda v: defer_delete(v[0]),
    )
    d1, d2 = F.lit(FS_D1).cast("date"), F.lit(FS_D2).cast("date")
    import datetime

    lo = datetime.date.fromisoformat(FS_D1)
    hi = datetime.date.fromisoformat(FS_D2)
    survivors = [r["file"] for r in stats if r["mx"] >= lo and r["mn"] <= hi]
    n_total, n_read = len(stats), len(survivors)

    pruned = spark.read.option("basePath", out).parquet(*survivors)
    return (
        pruned.where(F.col("ship_d").between(d1, d2))
        .agg(
            F.lit(n_total).cast("long").alias("n_files_total"),
            F.lit(n_read).cast("long").alias("n_files_read"),
            F.count(F.lit(1)).alias("n_rows"),
            F.round(
                F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast(
                    "double"
                ),
                2,
            ).alias("revenue"),
        )
    )


def _fileskip_layout(spark: SparkSession, sf_dir: str) -> tuple[str, list]:
    """Write lineitem clustered by ship month; return (dir, per-file
    min/max stats rows)."""
    out = fresh_dir("cae_spark_fileskip_")
    li = load(spark, sf_dir, "lineitem").select(
        F.col("l_shipdate").cast("date").alias("ship_d"),
        "l_extendedprice",
    )
    clustered = li.withColumn(
        "file_grp",
        (F.year("ship_d") * 12 + F.month("ship_d")).cast("int"),
    )
    # one task owns each group -> exactly one file per month dir
    (
        clustered.repartition("file_grp")
        .write.mode("overwrite")
        .partitionBy("file_grp")
        .parquet(out)
    )

    # stats collection: per-file min/max of the clustering column.
    # (A real deployment reads these from parquet footers; the
    # one-pass aggregate here keeps the demo self-contained.)
    back = spark.read.option("basePath", out).parquet(out)
    stats = (
        back.groupBy(F.input_file_name().alias("file"))
        .agg(
            F.min("ship_d").alias("mn"),
            F.max("ship_d").alias("mx"),
        )
        .collect()  # file-count-sized (83 rows here; KBs at 100 TB)
    )
    return out, stats


# ------------------------------------------------------ prune_zorder_2d

# quarter-range predicates: shards are keyed by the 2 leading bits of
# EACH dimension, so a quarter-range on a dim pins that dim's 2 bits
# and intersects only the shard files sharing them. The by range sits
# inside the data's actual month-serial band (1995-2001 → by ∈
# [132, 211], top bit constant — only 8 of the 16 possible shards
# materialize; the oracle counts the real ones)
ZP_BX_LO, ZP_BX_HI = 0, 63
ZP_BY_LO, ZP_BY_HI = 128, 191

@REG.op(
    "prune_zorder_2d",
    oracle=f"""
    WITH keyed AS (
      SELECT o_orderkey,
             CAST(o_custkey % 256 AS INT) AS bx,
             CAST((year(o_orderdate) * 12 + month(o_orderdate) - 1) % 256
                  AS INT) AS by
      FROM orders
    ),
    z AS (
      SELECT o_orderkey, bx, by,
             CAST({_interleave_sql('bx', 'by')} AS INT) >> {2 * Z_BITS - 4}
               AS shard
      FROM keyed
    ),
    stats AS (
      SELECT shard, min(bx) AS mnx, max(bx) AS mxx,
                    min(by) AS mny, max(by) AS mxy
      FROM z GROUP BY 1
    )
    SELECT 'bx' AS dim,
           (SELECT CAST(count(*) AS BIGINT) FROM stats) AS n_files_total,
           (SELECT CAST(count(*) AS BIGINT) FROM stats
             WHERE mxx >= {ZP_BX_LO} AND mnx <= {ZP_BX_HI}) AS n_files_read,
           count(*) AS n_rows,
           CAST(sum(o_orderkey) AS BIGINT) AS key_sum
    FROM z WHERE bx BETWEEN {ZP_BX_LO} AND {ZP_BX_HI}
    UNION ALL
    SELECT 'by' AS dim,
           (SELECT CAST(count(*) AS BIGINT) FROM stats) AS n_files_total,
           (SELECT CAST(count(*) AS BIGINT) FROM stats
             WHERE mxy >= {ZP_BY_LO} AND mny <= {ZP_BY_HI}) AS n_files_read,
           count(*) AS n_rows,
           CAST(sum(o_orderkey) AS BIGINT) AS key_sum
    FROM z WHERE by BETWEEN {ZP_BY_LO} AND {ZP_BY_HI}
    """,
)
def prune_zorder_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PAYOFF of sort_zorder's layout: file-level min/max skipping
    that works for predicates on EITHER dimension of the same table.
    The z-clustered layout (one file per 4-leading-z-bit shard — the 2
    leading bits of each dimension) gives every file stats that are
    tight in BOTH bx (customer bucket) and by (month index); a
    quarter-range predicate on either one pins that dimension's two
    leading bits and prunes every file that differs in them (here: the
    bx query reads 2 of 8 materialized files, the by query 4 of 8),
    where a linear sort on bx would answer the by-query by reading
    everything. Both pruned reads run against the same stats table
    and the oracle recomputes the DECISION (files read per dim) and
    the ANSWER (row count + key-sum witness) from the raw rows — a
    layout bug, a stats bug, or a pruning bug each break the hash.

    Scale: same shape as prune_file_stats — stats are file-count-sized
    and the explicit-path read skips directory listing; the layout is
    the "zorder_layout" artifact, written once per version of the
    table and amortized, exactly like a nightly OPTIMIZE ZORDER BY job.
    This is the op a 100 TB deployment runs when TWO columns both
    appear in hot predicates and partitioning can only serve one."""
    out, stats = artifacts.get_or_build(
        "zorder_layout",
        spark,
        sf_dir,
        lambda: _zorder_layout(spark, sf_dir),
        on_evict=lambda v: defer_delete(v[0]),
    )
    n_total = len(stats)

    def branch(dim: str, lo: int, hi: int):
        if dim == "bx":
            survivors = [
                r["file"] for r in stats if r["mxx"] >= lo and r["mnx"] <= hi
            ]
        else:
            survivors = [
                r["file"] for r in stats if r["mxy"] >= lo and r["mny"] <= hi
            ]
        pruned = spark.read.option("basePath", out).parquet(*survivors)
        return pruned.where(F.col(dim).between(lo, hi)).agg(
            F.lit(dim).alias("dim"),
            F.lit(n_total).cast("long").alias("n_files_total"),
            F.lit(len(survivors)).cast("long").alias("n_files_read"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("o_orderkey").cast("long").alias("key_sum"),
        )

    return branch("bx", ZP_BX_LO, ZP_BX_HI).unionByName(
        branch("by", ZP_BY_LO, ZP_BY_HI)
    )


def _zorder_layout(spark: SparkSession, sf_dir: str) -> tuple[str, list]:
    """Write orders z-clustered into shard files; return (dir, per-file
    min/max stats rows)."""
    out = fresh_dir("cae_spark_zprune_")
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        (F.col("o_custkey") % 256).cast("int").alias("bx"),
        (
            (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1)
            % 256
        ).cast("int").alias("by"),
    )
    z = o.withColumn(
        "shard",
        F.shiftright(
            _interleave_col(F.col("bx"), F.col("by")).cast("int"),
            2 * Z_BITS - 4,
        ).cast("int"),
    )
    # one task owns each shard -> one file per shard dir
    (
        z.repartition("shard")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(out)
    )
    back = spark.read.option("basePath", out).parquet(out)
    stats = (
        back.groupBy(F.input_file_name().alias("file"))
        .agg(
            F.min("bx").alias("mnx"),
            F.max("bx").alias("mxx"),
            F.min("by").alias("mny"),
            F.max("by").alias("mxy"),
        )
        .collect()  # bounded: 1-row min/max bounds
    )
    return out, stats


# ---------------------------------------------- agg_hll_intersection

@REG.op("agg_hll_intersection")  # rows-only: sketch estimates are
# engine-specific; tests bound the intersection error vs the exact
# semi-join count
def agg_hll_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience OVERLAP from sketches — the question HLL union alone
    can't answer (returning-customer counts, cross-campaign reach,
    retention between periods): |A∩B| estimated by inclusion-exclusion
    over three HLL estimates (|A| + |B| − |A∪B|, clipped at 0), with
    the exact semi-join count beside it so the error is observable.
    At 100 TB the exact path re-shuffles both periods' key universes
    for EVERY pair of periods anyone asks about; the sketch path
    answers any pair from the stored per-period sketch table in
    sketch space — the same materialize-once argument as
    agg_hll_union_rollup, extended from rollups to intersections.

    Caveat the op makes measurable: inclusion-exclusion compounds
    sketch error when the true intersection is small relative to the
    sets — the emitted exact column is the audit for exactly that."""
    o = load(spark, sf_dir, "orders").select(
        "o_custkey", F.year("o_orderdate").alias("y")
    )
    a = o.where(F.col("y") == 1996).select("o_custkey")
    b = o.where(F.col("y") == 1997).select("o_custkey")
    sk = (
        # two 1-row sketch frames — the stats-crossJoin pattern
        a.agg(F.hll_sketch_agg("o_custkey").alias("sk_a"))
        .crossJoin(b.agg(F.hll_sketch_agg("o_custkey").alias("sk_b")))
        .select(
            F.hll_sketch_estimate("sk_a").alias("est_a"),
            F.hll_sketch_estimate("sk_b").alias("est_b"),
            F.hll_sketch_estimate(
                F.hll_union("sk_a", "sk_b")
            ).alias("est_union"),
        )
        .select(
            "est_a",
            "est_b",
            "est_union",
            F.greatest(
                F.col("est_a") + F.col("est_b") - F.col("est_union"),
                F.lit(0),
            ).alias("est_intersection"),
        )
    )
    exact = (
        a.distinct()
        .join(b.distinct(), "o_custkey", "left_semi")
        .agg(F.count(F.lit(1)).alias("exact_intersection"))
    )
    return sk.crossJoin(F.broadcast(exact))


# ------------------------------------------- agg_cms_heavy_hitters

CMS_W = 2048       # sketch width (buckets per row)
CMS_D = 4          # sketch depth (independent hash rows)
CMS_TOP_K = 20     # heavy hitters certified against exact counts
# one-sided overestimate slack: a CountMin row overestimates a key by
# the colliding mass in its bucket — E[excess] = N/W per row, and the
# min over D rows exceeds ceil(3N/W) with probability < (1/3)^D per
# key (Markov per row, rows independent). The gate hard-codes the
# slack boolean TRUE in the shared oracle, so its failure budget must
# be understood: the Markov UNION bound over the top-20 certified keys
# is 20*(1/3)^4 ~ 25%, which sounds alarming but is loose by orders of
# magnitude — Markov charges the whole row's expected mass to one
# tail, while the actual excess is a sum over ~n_keys/W independent
# light colliders (Chernoff-concentrated around N/W) plus a heavy
# collider only with probability ~ top_k/W per row, ^D across rows
# (~1e-8 at these shapes). tests/test_scale_patterns.py pins the
# MEASURED worst-key excess at <= 1x N/W on both committed scale
# factors, a 3x margin under the certified bound, so a new sf would
# have to triple the observed collision mass before the hard-coded
# TRUE could trip. Integer arithmetic (SQL `div`) so both engines
# agree exactly on the ceil((3N + W - 1)/W) bound.
CMS_SLACK_NUM = 3


def _cms_depth_col() -> F.Column:
    return F.explode(F.array(*[F.lit(i) for i in range(CMS_D)])).alias("i")


def _cms_bucket_col() -> F.Column:
    return F.pmod(F.xxhash64("user_id", F.col("i")), F.lit(CMS_W)).alias(
        "bucket"
    )


def _cms_table(ev: DataFrame) -> DataFrame:
    """The CMS as a DataFrame: (i, bucket, cnt) — one groupBy over the
    depth-exploded stream. Shared by the batch sketch op and the
    streaming maintainer (evt_cms_stream), whose per-batch increments
    are THIS table over each micro-batch, merged by union + re-sum."""
    return (
        ev.select("user_id", _cms_depth_col())
        .select("i", _cms_bucket_col())
        .groupBy("i", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _cms_certify(ev: DataFrame, table: DataFrame) -> DataFrame:
    """Contract rows for a CMS table against the exact event stream:
    per true top-CMS_TOP_K key, the exact count plus the one-sided and
    slack booleans (see agg_cms_heavy_hitters)."""
    from pyspark.sql import Window as W

    exact = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact_cnt"))
    topk = exact.select(
        "user_id",
        "exact_cnt",
        F.row_number()
        .over(W.orderBy(F.desc("exact_cnt"), "user_id"))
        .alias("rnk"),
    ).where(F.col("rnk") <= CMS_TOP_K)
    coords = topk.select("rnk", "user_id", "exact_cnt", _cms_depth_col()).select(
        "rnk", "user_id", "exact_cnt", "i", _cms_bucket_col()
    )
    est = (
        coords.join(F.broadcast(table), ["i", "bucket"])
        .groupBy("rnk", "user_id", "exact_cnt")
        .agg(F.min("cnt").alias("cms_est"))
    )
    n_total = ev.agg(F.count(F.lit(1)).alias("n_total"))
    return est.crossJoin(F.broadcast(n_total)).select(
        F.col("rnk").cast("int").alias("rnk"),
        "user_id",
        F.col("exact_cnt").cast("bigint").alias("exact_cnt"),
        (F.col("cms_est") >= F.col("exact_cnt")).alias("cms_ge_exact"),
        # ceil(SLACK*N/W) in pure bigint arithmetic: `div` is SQL
        # integral division, so the bound is exactly the documented
        # ceiling — `/` here would be double division on bigints,
        # a (slightly looser) float bound masquerading as the ceil
        (
            F.col("cms_est")
            <= F.col("exact_cnt")
            + F.expr(
                f"({CMS_SLACK_NUM} * n_total + {CMS_W - 1}) div {CMS_W}"
            )
        ).alias("cms_within_slack"),
    )


# the oracle is shared with evt_cms_stream: the streaming maintainer
# must converge to EXACTLY this table, so its contract rows — and the
# SQL that checks them — are identical
CMS_ORACLE = f"""
    WITH c AS (SELECT user_id, count(*) AS exact_cnt FROM events GROUP BY 1),
    r AS (SELECT user_id, exact_cnt,
                 row_number() OVER (ORDER BY exact_cnt DESC, user_id) AS rnk
          FROM c)
    SELECT CAST(rnk AS INT) AS rnk, user_id,
           CAST(exact_cnt AS BIGINT) AS exact_cnt,
           TRUE AS cms_ge_exact, TRUE AS cms_within_slack
    FROM r WHERE rnk <= {CMS_TOP_K}
    """


@REG.op(
    "agg_cms_heavy_hitters",
    oracle=CMS_ORACLE,
)
def agg_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min point-frequency sketch, built SKETCH-AS-DATAFRAME —
    the third certified sketch family (HLL distinct counts, GK
    quantile ranks, now CMS frequencies). The sketch is a {CMS_D}×
    {CMS_W} count table materialized as a DataFrame: every event
    contributes to one bucket per depth row (xxhash64 seeded by the
    row index), ONE groupBy produces the whole table, and estimation
    is a broadcast join of key coordinates against it with a min-
    aggregate — no driver-side sketch object, so two sketches merge
    by unioning their tables and re-summing (mergeability is the
    groupBy's associativity, free by construction, unlike object
    sketches that need custom merge code). Estimates are EXACT sums
    of exact counts — deterministic under any partitioning, which is
    what lets the accuracy claims be driver-hash booleans rather than
    seeds-and-prayers.

    Certified per true top-{CMS_TOP_K} key (exact counts and ranks
    SQL-recomputed by the oracle): the CMS estimate is >= the exact
    count (one-sided guarantee: the key's own count is a summand in
    every row it hashes to) and within ceil({CMS_SLACK_NUM}N/{CMS_W})
    above it (see CMS_SLACK_NUM).

    Scale (100 TB): the depth-explode multiplies the stream by
    {CMS_D}, map-side partial aggregation collapses it to <= D*W =
    {CMS_D * CMS_W} groups before the shuffle — the sketch build is
    one cheap pass regardless of corpus size, and the key-grain exact
    rank pass exists only because the CONTRACT needs truth (a
    production consumer reads the sketch table alone). The rank
    window runs on the key-grain aggregate, never the event stream."""
    ev = load(spark, sf_dir, "events").select("user_id")
    return _cms_certify(ev, _cms_table(ev))
