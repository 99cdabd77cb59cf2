"""Composed dashboard entry points (SURVEY §3): the reference's
top-level query lifecycles as single registered queries, so a user of
the reference can run their whole dashboard — not just its pieces —
against this engine.

* ep1_ingest_e2e — the upload/save pipeline (pages/1:107-126): two
  overlapping batches through merge-upsert keep-last into the
  partitioned hub, read back and profiled (hash-checked upsert).
* ep2_risk_radar — the risk dashboard (app.py:262-324): monthly
  series → per-series decision-tree score → alert rows with a 6-month
  trend string, sorted by severity.
* ep2_trend_3yr — the 3-year overlay trend (app.py:381-434): month-of-
  year rows × last-3-years columns, expressed through the spark.sql
  surface over registered views (the engine's SQL API, same Catalyst
  plan as the DataFrame form).
* ep3_forecast_e2e — the forecast simulation (pages/4_예측_시뮬레이션.py:
  179-247): series prep → exog key-join → champion selection →
  horizon forecast with CI bands, per series in one applyInPandas.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from claim_analysis_engine_spark import forecast_models as fm
from claim_analysis_engine_spark.operators.risk import (
    AS_OF_DAY,
    _CRIT,
    _series,
    _with_target,
    rs_wrapper,
)
from claim_analysis_engine_spark.operators.risk_tree import (
    _TREE_CTES,
    _TREE_SELECT,
)
from claim_analysis_engine_spark.operators.storage_ops import _CLAIMS_SQL
from claim_analysis_engine_spark.registry import OpRegistry
from claim_analysis_engine_spark.tables import fanout_apply, load

REG = OpRegistry()


# ------------------------------------------------------ ep2_risk_radar

# The radar's value oracle composes the FULL relational decision-tree
# oracle (risk_tree._TREE_ORACLE, proven row-identical to the numpy
# engine behind rs_wrapper) as a CTE, plus the 6-month trend string
# from the same zero-filled series substrate — so the flagship composed
# dashboard gets a hash-level check, not just a row count.
_RADAR_ORACLE = (
    _TREE_CTES
    + ", radar_scored AS ("
    + _TREE_SELECT
    + """
    ),
    trend AS (
      SELECT status, priority,
             string_agg(CAST(n AS VARCHAR), ' → ' ORDER BY month) AS trend_6m
      FROM (
        SELECT status, priority, month, n,
               row_number() OVER (PARTITION BY status, priority
                                  ORDER BY month DESC) AS r
        FROM series
      ) WHERE r <= 6 GROUP BY 1, 2
    )
    SELECT s.status, s.priority, s.grade, s.risk_status, s.score, s.reason,
           t.trend_6m
    FROM radar_scored s
    JOIN trend t ON t.status = s.status AND t.priority = s.priority
    WHERE s.score > 0
    """
)


@REG.op("ep2_risk_radar", oracle=_RADAR_ORACLE)
def ep2_risk_radar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The executive risk radar (reference load_and_scan_risks,
    app.py:262-324): score every series with the full decision tree,
    keep score > 0 rows, attach the 6-month trend string
    ("n₁ → n₂ → …", app.py:303-304), sort by score descending.
    The trend string builds from the SAME zero-filled series frame the
    scorer consumes — one substrate, two consumers. The oracle runs the
    relational tree (risk_tree.py) composed with the trend build, so
    this hash check ALSO re-proves numpy-engine ↔ SQL-tree agreement
    through the driver gate."""
    scored = rs_wrapper(spark, sf_dir)
    s = _with_target(spark, sf_dir)
    key = W.partitionBy("status", "priority")
    last6 = (
        s.withColumn(
            "r", F.row_number().over(key.orderBy(F.col("month").desc()))
        )
        .where(F.col("r") <= 6)
        .groupBy("status", "priority")
        .agg(
            F.concat_ws(
                " → ",
                # collect_list has no ordering guarantee — sort by the
                # rank field, then reverse to oldest→latest
                F.reverse(
                    F.array_sort(F.collect_list(F.struct("r", "n"))).getField("n")
                ),
            ).alias("trend_6m")
        )
    )
    return (
        scored.where(F.col("score") > 0)
        .join(last6, ["status", "priority"])
        .orderBy(F.col("score").desc(), "status", "priority")
    )


# ------------------------------------------------------ ep2_trend_3yr

@REG.op(
    "ep2_trend_3yr",
    oracle="""
    WITH monthly AS (
      SELECT year(o_orderdate) AS y, month(o_orderdate) AS moy, count(*) AS n
      FROM orders GROUP BY 1, 2
    ), mx AS (SELECT max(y) AS max_y FROM monthly)
    SELECT moy,
           CAST(coalesce(sum(n) FILTER (y = max_y - 2), 0) AS BIGINT) AS y_minus_2,
           CAST(coalesce(sum(n) FILTER (y = max_y - 1), 0) AS BIGINT) AS y_minus_1,
           CAST(coalesce(sum(n) FILTER (y = max_y), 0) AS BIGINT) AS y_current
    FROM monthly, mx GROUP BY moy
    """,
)
def ep2_trend_3yr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-year overlay trend (reference app.py:381-434): month-of-year
    rows against the last three years as columns. Expressed through
    the spark.sql surface over registered views — the engine's SQL API
    produces the same Catalyst plan as the DataFrame form."""
    load(spark, sf_dir, "orders").createOrReplaceTempView("_ep2_orders")
    return spark.sql(
        """
        WITH monthly AS (
          SELECT year(o_orderdate) AS y, month(o_orderdate) AS moy,
                 count(*) AS n
          FROM _ep2_orders GROUP BY 1, 2
        ), mx AS (SELECT max(y) AS max_y FROM monthly)
        SELECT moy,
               coalesce(sum(CASE WHEN y = max_y - 2 THEN n END), 0) AS y_minus_2,
               coalesce(sum(CASE WHEN y = max_y - 1 THEN n END), 0) AS y_minus_1,
               coalesce(sum(CASE WHEN y = max_y THEN n END), 0) AS y_current
        FROM monthly, mx GROUP BY moy
        """
    )


# --------------------------------------------------- ep3_forecast_e2e

@REG.op("ep3_forecast_e2e")  # composes model fitting — rows-only
def ep3_forecast_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The forecast-simulation lifecycle end-to-end (reference
    pages/4_예측_시뮬레이션.py:179-247): per-series monthly counts with
    a (year, month) key-joined sales exog column → champion selection
    over the model family → 3-month forecast with ±1.96·RMSE bands.
    The reference runs this for ONE user-picked series; here every
    series trains in parallel — the embarrassingly-parallel shape
    called out in SURVEY §3/EP3."""
    s = _series(spark, sf_dir)
    exog = (
        load(spark, sf_dir, "lineitem")
        .groupBy(F.trunc("l_shipdate", "month").alias("month"))
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("exog_qty"))
    )
    joined = s.join(F.broadcast(exog), "month", "left").select(
        "status",
        "priority",
        "month",
        "n",
        F.coalesce(F.col("exog_qty").cast("double"), F.lit(0.0)).alias("exog"),
    )

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("month")
        y = pdf["n"].to_numpy(dtype=float)
        # min-12-months guard (reference pages/4:72-73)
        if len(y) < 12:
            return pd.DataFrame(
                columns=[
                    "status", "priority", "h", "yhat", "ci_lo", "ci_hi", "model"
                ]
            )
        # exog rides along: the SARIMAX slot regresses on it two-step,
        # the GBDT and LSTM slots ignore it (zeros pad the 3-month
        # forecast window, matching join_exog_align's contract)
        exog = pdf["exog"].to_numpy(dtype=float)
        model, params, fc, test_rmse = fm.forecast_with_champion(y, steps=3, exog=exog)
        lo, hi = fm.confidence_interval(fc, test_rmse)
        return pd.DataFrame(
            {
                "status": pdf["status"].iloc[0],
                "priority": pdf["priority"].iloc[0],
                "h": np.arange(1, 4),
                "yhat": np.round(fc, 4),
                "ci_lo": np.round(lo, 4),
                "ci_hi": np.round(hi, 4),
                "model": model,
            }
        )

    return fanout_apply(
        joined,
        ["status", "priority"],
        run,
        "status string, priority string, h int, yhat double, ci_lo double, "
        "ci_hi double, model string",
    )


# ------------------------------------------- ep3_forecast_contract

from claim_analysis_engine_spark.operators.risk import _SERIES_CTE  # noqa: E402


@REG.op(
    "ep3_forecast_contract",
    oracle=_SERIES_CTE
    + """
    , months AS (SELECT count(*) AS m FROM spine)
    SELECT k.status, k.priority,
           CAST(3 AS BIGINT) AS n_horizons,
           true AS h_complete,
           true AS band_const,
           true AS lo_clipped_sym,
           true AS band_ordered
    FROM keys k, months WHERE m >= 12
    """,
)
def ep3_forecast_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-level gate for the DETERMINISTIC half of the forecast
    lifecycle (ep3_forecast_e2e itself stays rows-only: yhat comes
    from fitted model state no static SQL can reproduce). What IS
    SQL-checkable, and what this op hash-certifies per series:

    * eligibility — exactly the (status, priority) keys whose
      zero-filled series has >= 12 months produce output (the
      reference's min-12 guard, pages/4:72-73);
    * shape — exactly 3 horizon rows (h = 1, 2, 3) per series;
    * CI arithmetic (reference pages/4:321-324) — the upper margin
      ci_hi - yhat = 1.96*rmse is CONSTANT across a series' horizons,
      ci_lo = max(0, 2*yhat - ci_hi) (symmetry with clipping at 0),
      and ci_lo <= ci_hi everywhere.

    Tolerances are 1e-3 against the op's 4-dp rounding. The oracle
    recomputes the eligible-key set from the same series CTE the risk
    family certifies, with every invariant folded to `true` — so any
    violation (wrong key set, missing horizon, asymmetric band)
    hash-mismatches."""
    out = ep3_forecast_e2e(spark, sf_dir)
    hi_margin = F.col("ci_hi") - F.col("yhat")
    lo_expect = F.greatest(F.lit(0.0), F.lit(2.0) * F.col("yhat") - F.col("ci_hi"))
    per = out.groupBy("status", "priority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_horizons"),
        F.array_sort(F.collect_list("h")).alias("hs"),
        (F.max(hi_margin) - F.min(hi_margin)).alias("margin_spread"),
        F.max(F.abs(F.col("ci_lo") - lo_expect)).alias("lo_err"),
        F.min((F.col("ci_lo") <= F.col("ci_hi")).cast("int")).alias("ord_min"),
    )
    return per.select(
        "status",
        "priority",
        "n_horizons",
        (F.col("hs") == F.array(F.lit(1), F.lit(2), F.lit(3))).alias("h_complete"),
        (F.col("margin_spread") < 1e-3).alias("band_const"),
        (F.col("lo_err") < 1e-3).alias("lo_clipped_sym"),
        (F.col("ord_min") == 1).alias("band_ordered"),
    )


# ------------------------------------------------------ ep1_ingest_e2e

@REG.op(
    "ep1_ingest_e2e",
    oracle="WITH "
    + _CLAIMS_SQL
    + """
    , b1 AS (
      SELECT *, 1 AS load_seq FROM claims WHERE reception_year < 1999
    ),
    b2 AS (
      SELECT claim_id, plant, product_category2, major_category,
             'RE-' || middle_category AS middle_category,
             reception_date, reception_year, reception_month,
             lag_days, lag_valid, 2 AS load_seq
      FROM claims WHERE reception_year >= 1998
    ),
    merged AS (
      SELECT * FROM b1 UNION ALL BY NAME SELECT * FROM b2
    ),
    kept AS (
      SELECT *, row_number() OVER (PARTITION BY claim_id
                                   ORDER BY load_seq DESC) AS rn
      FROM merged
    )
    SELECT reception_year AS y, count(*) AS n_rows,
           count(*) FILTER (load_seq = 2) AS n_from_batch2
    FROM kept WHERE rn = 1 GROUP BY 1
    """,
)
def ep1_ingest_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ingest lifecycle end-to-end (reference upload page save
    button, pages/1_데이터_업로드.py:107-126 / SURVEY EP1): two uploads
    hit the hub in sequence — batch 1 (years < 1999), then an
    overlapping re-upload (years ≥ 1998, higher load_seq, modified
    rows) — through merge_upsert's keep-last window + dynamic partition
    overwrite; the hub is then read BACK and profiled per year. The
    oracle recomputes the same keep-last union in SQL, so the hash
    check proves the 1998 overlap rows were REPLACED by batch 2 and
    everything else survived — the upsert contract, not just a write.

    Scale: merge_upsert reads the whole hub's claim_id column only,
    reads in full just the directories batch 2 touches or whose claims
    it re-uploads (named by a small driver-side manifest, read by path), and
    rewrites only those — the reference's full-hub rewrite cliff never
    occurs."""
    from claim_analysis_engine_spark.tmputil import fresh_dir as _fresh_dir

    from claim_analysis_engine_spark import storage
    from claim_analysis_engine_spark.operators.storage_ops import (
        _claims_from_orders,
    )

    claims = _claims_from_orders(spark, sf_dir)
    b1 = claims.where(F.col("reception_year") < 1999).withColumn(
        "load_seq", F.lit(1)
    )
    b2 = (
        claims.where(F.col("reception_year") >= 1998)
        .withColumn("middle_category", F.concat(F.lit("RE-"), "middle_category"))
        .withColumn("load_seq", F.lit(2))
    )
    hub = _fresh_dir("cae_spark_ep1_hub_") + "/hub"
    storage.merge_upsert(spark, hub, b1)
    storage.merge_upsert(spark, hub, b2)
    back = spark.read.parquet(hub)
    return back.groupBy(F.col("reception_year").alias("y")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.when(F.col("load_seq") == 2, 1)).alias("n_from_batch2"),
    )


# ------------------------------------------------------ ep4_corpus_e2e

# the LLM training-corpus curation lifecycle, composed from the
# registered stage operators' own CTE fragments so the flagship
# pipeline is hash-checked end to end
from claim_analysis_engine_spark.operators.dedup_text import (  # noqa: E402
    _BLOCKS_SQL as _SH_BLOCKS_SQL,
)
from claim_analysis_engine_spark.operators.dedup_text import (  # noqa: E402
    _SIMHASH_SQL as _SH_SIG_SQL,
)
from claim_analysis_engine_spark.operators.dedup_text import (  # noqa: E402
    HAMMING_T,
    SIMHASH_BITS,
    SIMHASH_BLOCK_BITS,
    SIMHASH_BLOCKS,
)
from claim_analysis_engine_spark.operators.pipeline_ops import (  # noqa: E402
    _SPLIT_SQL,
    _TOKENS_SQL,
    MAX_TOKENS,
    MIN_AVG_TOKLEN,
    MIN_TOKENS,
    MAX_AVG_TOKLEN,
    _split_col,
    _tokens_col,
)


@REG.op(
    "ep4_corpus_e2e",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, text, {_TOKENS_SQL} AS toks FROM documents
    ),
    gated AS (
      SELECT doc_id, text, len(toks) AS n_tokens,
             list_sum(list_transform(toks, x -> length(x))) * 1.0
               / greatest(1, len(toks)) AS avg_len
      FROM t
    ),
    flagged AS (
      SELECT *,
             n_tokens BETWEEN {MIN_TOKENS} AND {MAX_TOKENS}
               AND avg_len BETWEEN {MIN_AVG_TOKLEN} AND {MAX_AVG_TOKLEN}
               AS pass_quality
      FROM gated
    ),
    ex AS (
      SELECT *, row_number() OVER (PARTITION BY md5(text)
                                   ORDER BY doc_id) AS copy_rank
      FROM flagged WHERE pass_quality
    ),
    exk AS (SELECT doc_id, text, n_tokens FROM ex WHERE copy_rank = 1),
    toks2 AS (
      SELECT doc_id,
             list_distinct(list_filter(string_split(text, ' '),
                                       x -> x <> '')) AS toks
      FROM exk
    ),
    hashed AS (
      SELECT doc_id, list_transform(toks, x -> md5(x)) AS hashes FROM toks2
    ),
    sigs AS (SELECT doc_id, {_SH_SIG_SQL} AS sig FROM hashed),
    blocks AS ({_SH_BLOCKS_SQL}),
    near_dup AS (
      SELECT DISTINCT b.doc_id
      FROM blocks a JOIN blocks b
        ON a.k = b.k AND a.blk = b.blk AND a.doc_id < b.doc_id
      WHERE bit_count(xor(a.sig, b.sig)) <= {HAMMING_T}
    ),
    survivors0 AS (
      SELECT e.doc_id, e.n_tokens
      FROM exk e LEFT JOIN near_dup n ON n.doc_id = e.doc_id
      WHERE n.doc_id IS NULL
    ),
    survivors AS (
      SELECT doc_id, n_tokens, {_SPLIT_SQL} AS stage FROM survivors0
    ),
    funnel AS (
      SELECT 'dropped_quality' AS stage, count(*) AS n_docs,
             CAST(coalesce(sum(n_tokens), 0) AS BIGINT) AS n_tokens
      FROM flagged WHERE NOT pass_quality
      UNION ALL
      SELECT 'dropped_exact', count(*),
             CAST(coalesce(sum(n_tokens), 0) AS BIGINT)
      FROM ex WHERE copy_rank > 1
      UNION ALL
      SELECT 'dropped_near', count(*),
             CAST(coalesce(sum(e.n_tokens), 0) AS BIGINT)
      FROM exk e JOIN near_dup n ON n.doc_id = e.doc_id
      UNION ALL
      SELECT stage, count(*), CAST(sum(n_tokens) AS BIGINT)
      FROM survivors GROUP BY 1
    )
    SELECT * FROM funnel
    """,
)
def ep4_corpus_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EP4 — the training-corpus curation lifecycle end-to-end, the
    LLM-pipeline counterpart of EP1-EP3: quality gates → exact-hash
    dedup (keep first) → simhash near-dup removal (pigeonhole blocks,
    drop any doc with a surviving lower-id neighbor) → deterministic
    train/val/test split, with token-weighted drop accounting at every
    stage. Every stage reuses the REGISTERED operator's own semantics
    (same thresholds, same signature math, same split hash), so the
    composed pipeline can't drift from its parts, and the whole thing
    is value-hash-checked against one composed SQL oracle.

    Scale shape: gates are per-row projections; exact dedup is one
    md5-key window; near-dup is the bounded pigeonhole block join over
    survivors only; the split is a hash projection. No stage sees
    more than one shuffle, and the funnel report is 6 rows."""
    t = load(spark, sf_dir, "documents").select(
        "doc_id", "text", _tokens_col().alias("toks")
    )
    total_len = F.aggregate("toks", F.lit(0), lambda acc, x: acc + F.length(x))
    flagged = t.select(
        "doc_id",
        "text",
        F.size("toks").alias("n_tokens"),
        (total_len / F.greatest(F.lit(1), F.size("toks"))).alias("avg_len"),
    ).withColumn(
        "pass_quality",
        F.col("n_tokens").between(MIN_TOKENS, MAX_TOKENS)
        & F.col("avg_len").between(MIN_AVG_TOKLEN, MAX_AVG_TOKLEN),
    )
    # r14 (guide §2.4/§7.2, the evt_funnel collapse): the funnel used
    # to be a 4-branch union re-deriving flagged/ex per branch — the
    # before plan scans documents 3× and ends in a SortMergeJoin anti
    # (plans/r14/ep4_corpus_e2e_before.txt). Now ONE window labels
    # every doc (partitioning by (pass_quality, md5) leaves the ranks
    # of pass rows untouched — the window was previously computed on
    # the pass-only subset), the labeled frame is checkpointed once, and the
    # whole funnel is ONE hash aggregate over a CASE stage label.
    wmd5 = W.partitionBy("pass_quality", F.md5("text")).orderBy("doc_id")
    labeled = flagged.withColumn(
        "copy_rank", F.row_number().over(wmd5)
    ).localCheckpoint()
    exk = labeled.where(F.col("pass_quality") & (F.col("copy_rank") == 1)).select(
        "doc_id", "text", "n_tokens"
    )

    toks2 = F.array_distinct(F.array_remove(F.split("text", " "), ""))
    hashed = exk.select("doc_id", F.transform(toks2, F.md5).alias("hashes"))

    def bit(b: int) -> F.Column:
        vote = F.aggregate(
            "hashes",
            F.lit(0),
            lambda acc, h: acc
            + F.when(F.substring(h, b + 1, 1) >= "8", 1).otherwise(-1),
        )
        return F.when(vote > 0, F.lit(1 << b)).otherwise(F.lit(0))

    sig = sum((bit(b) for b in range(SIMHASH_BITS)), F.lit(0)).cast("bigint")
    sigs = hashed.select("doc_id", sig.alias("sig"))
    mask = (1 << SIMHASH_BLOCK_BITS) - 1
    blocks = sigs.select(
        "doc_id",
        "sig",
        F.posexplode(
            F.array(
                *[
                    F.shiftright("sig", k * SIMHASH_BLOCK_BITS).bitwiseAND(F.lit(mask))
                    for k in range(SIMHASH_BLOCKS)
                ]
            )
        ).alias("k", "blk"),
    ).localCheckpoint()
    a = blocks.select("k", "blk", F.col("doc_id").alias("da"), F.col("sig").alias("sa"))
    b = blocks.select("k", "blk", F.col("doc_id").alias("doc_id"), F.col("sig").alias("sb"))
    near_dup = (
        a.join(b, ["k", "blk"])
        .where(
            (F.col("da") < F.col("doc_id"))
            & (F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))) <= HAMMING_T)
        )
        .select("doc_id")
        .distinct()
    )
    # Stage label per doc — the four union branches were mutually
    # exclusive and exhaustive by construction (near_dup ⊆ pass∧rank1),
    # so a CASE reproduces them exactly. near_dup membership attaches
    # with one small left join; rows are never duplicated (near_dup is
    # distinct doc_ids).
    stage = (
        F.when(~F.col("pass_quality"), F.lit("dropped_quality"))
        .when(F.col("copy_rank") > 1, F.lit("dropped_exact"))
        .when(F.col("is_near"), F.lit("dropped_near"))
        .otherwise(_split_col("doc_id"))
    )
    lab2 = labeled.join(
        near_dup.withColumn("is_near", F.lit(True)), "doc_id", "left"
    ).select(stage.alias("stage"), F.lit(1).alias("w"), "n_tokens")
    # The three drop stages must appear even when empty (the union
    # branches were GROUP-BY-less aggregates, the oracle emits them
    # unconditionally): zero-weight seed rows keep the groups present
    # without a second pass over the aggregate.
    seed = spark.createDataFrame(
        [(s, 0, 0) for s in ("dropped_quality", "dropped_exact", "dropped_near")],
        "stage string, w int, n_tokens int",
    )
    return (
        lab2.unionByName(seed)
        .groupBy("stage")
        .agg(
            F.sum("w").cast("bigint").alias("n_docs"),
            F.coalesce(F.sum(F.col("w") * F.col("n_tokens")), F.lit(0))
            .cast("bigint")
            .alias("n_tokens"),
        )
    )


# --------------------------------------------------- ep7_retrieval_e2e

def _ep7_oracle() -> str:
    from claim_analysis_engine_spark.operators.similarity import (
        ANN_K,
        QUERY_MOD,
        REG as SREG,
    )

    exact_sql = SREG.ops["sim_topk_brute"].oracle
    ann_sql = SREG.ops["sim_ann_int8_rerank"].oracle
    qz_sql = SREG.ops["emb_quantize_int8"].oracle
    return f"""
    WITH exact AS (SELECT * FROM ({exact_sql})),
    ann AS (SELECT * FROM ({ann_sql})),
    qz AS (SELECT * FROM ({qz_sql})),
    q AS (SELECT vec_id, label FROM embeddings
          WHERE vec_id % {QUERY_MOD} = 0),
    hits AS (
      SELECT a.query_id, count(*) AS n_hit
      FROM ann a JOIN exact e ON e.query_id = a.query_id
        AND e.neighbor_id = a.neighbor_id AND e.rank <= {ANN_K}
      GROUP BY 1
    ),
    top1 AS (SELECT query_id, cosine FROM exact WHERE rank = 1)
    SELECT q.label, count(*) AS n_queries,
           CAST(sum(coalesce(h.n_hit, 0)) AS BIGINT) AS n_hits,
           round(sum(coalesce(h.n_hit, 0))
                 / CAST(count(*) * {ANN_K} AS DOUBLE), 4) AS recall_at_k,
           round(avg(t.cosine), 4) AS avg_top1_cos,
           round(avg(z.mse_e6), 2) AS avg_mse_e6
    FROM q
    LEFT JOIN hits h ON h.query_id = q.vec_id
    JOIN top1 t ON t.query_id = q.vec_id
    JOIN qz z ON z.vec_id = q.vec_id
    GROUP BY 1
    """


@REG.op("ep7_retrieval_e2e", oracle=_ep7_oracle())
def ep7_retrieval_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-retrieval capstone: the quantize → coarse-ANN →
    exact-rerank → evaluate lifecycle composed into one per-label
    quality report — the dashboard a vector-corpus owner watches
    (recall of the cheap int8 path vs exact, retrieval margin, and
    quantization loss, sliced by label segment). Composes three
    oracle-checked ops — `sim_ann_int8_rerank`'s top-k against
    `sim_topk_brute`'s ground truth, with `emb_quantize_int8`'s error
    profile on the query vectors — and the oracle composes those ops'
    OWN oracles as derived tables, so the e2e numbers are value-checked
    through every stage. Scale: the expensive stages are the two ops'
    existing bounded plans (broadcast query set, no corpus×corpus
    join); the composition adds only query-set-sized joins and one
    final label aggregate."""
    from claim_analysis_engine_spark.operators.similarity import (
        ANN_K,
        QUERY_MOD,
        emb_quantize_int8,
        sim_ann_int8_rerank,
        sim_topk_brute,
    )

    exact = sim_topk_brute(spark, sf_dir)
    ann = sim_ann_int8_rerank(spark, sf_dir)
    qz = emb_quantize_int8(spark, sf_dir)
    q = (
        load(spark, sf_dir, "embeddings")
        .where(F.col("vec_id") % QUERY_MOD == 0)
        .select("vec_id", "label")
    )
    # r14 (guide §7.2, duplicated subtrees): `exact` used to feed TWO
    # consumers (the rank<=k id set and the rank==1 cosine), so the
    # whole brute-force scoring plan executed twice per pass. One
    # left join of the ANN hits onto the rank<=k rows, then ONE
    # aggregate per query, derives both from a single brute pass:
    # n_hit = count of matched ann pairs (0 when none, exactly the
    # old coalesce(left-join, 0)), top-1 cosine = max over the
    # rank==1 row (every query has ranks 1..k, so the old inner top1
    # join kept the same queries).
    exact3 = exact.where(F.col("rank") <= ANN_K).select(
        "query_id", "neighbor_id", "cosine", "rank"
    )
    per_query = (
        exact3.join(
            ann.select("query_id", "neighbor_id").withColumn("_hit", F.lit(1)),
            ["query_id", "neighbor_id"],
            "left",
        )
        .groupBy("query_id")
        .agg(
            F.count("_hit").alias("n_hit"),
            F.max(F.when(F.col("rank") == 1, F.col("cosine"))).alias("cosine"),
        )
    )
    joined = (
        q.join(per_query, q.vec_id == per_query.query_id)
        .drop("query_id")
        .join(qz.select("vec_id", "mse_e6"), "vec_id")
    )
    return joined.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_queries"),
        F.sum(F.coalesce("n_hit", F.lit(0))).cast("bigint").alias("n_hits"),
        F.round(
            F.sum(F.coalesce("n_hit", F.lit(0)))
            / (F.count(F.lit(1)) * ANN_K).cast("double"),
            4,
        ).alias("recall_at_k"),
        F.round(F.avg("cosine"), 4).alias("avg_top1_cos"),
        F.round(F.avg("mse_e6"), 2).alias("avg_mse_e6"),
    )


# ----------------------------------------------- ep8_hybrid_retrieval

HYBRID_QUERY_VEC = 0  # semantic query: this vector's embedding
HYBRID_RRF_K = 60  # standard reciprocal-rank-fusion constant
HYBRID_TOP = 10


def _ep8_oracle() -> str:
    from claim_analysis_engine_spark.operators.similarity import _cos_sql
    from claim_analysis_engine_spark.operators.textops import (
        BM25_TOP_K,
        REG as TREG,
    )

    bm25_sql = TREG.ops["txt_search_bm25"].oracle
    return f"""
    WITH lex AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY score DESC, doc_id) AS lex_rank
      FROM ({bm25_sql})
    ),
    q AS (SELECT embedding FROM embeddings WHERE vec_id = {HYBRID_QUERY_VEC}),
    sem0 AS (
      SELECT c.vec_id AS doc_id,
             round({_cos_sql('q', 'c')}, 6) AS cos
      FROM q, embeddings c WHERE c.vec_id <> {HYBRID_QUERY_VEC}
    ),
    sem AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY cos DESC, doc_id) AS sem_rank
      FROM sem0 ORDER BY cos DESC, doc_id LIMIT {BM25_TOP_K}
    ),
    fused AS (
      SELECT coalesce(l.doc_id, s.doc_id) AS doc_id,
             CAST(coalesce(l.lex_rank, 0) AS BIGINT) AS lex_rank,
             CAST(coalesce(s.sem_rank, 0) AS BIGINT) AS sem_rank,
             coalesce(1.0 / ({HYBRID_RRF_K} + l.lex_rank), 0)
               + coalesce(1.0 / ({HYBRID_RRF_K} + s.sem_rank), 0) AS rrf
      FROM lex l FULL OUTER JOIN sem s ON s.doc_id = l.doc_id
    )
    SELECT doc_id, round(rrf, 6) AS rrf_score, lex_rank, sem_rank
    FROM fused
    ORDER BY round(rrf, 6) DESC, doc_id
    LIMIT {HYBRID_TOP}
    """


@REG.op("ep8_hybrid_retrieval", oracle=_ep8_oracle())
def ep8_hybrid_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval capstone: fuse the lexical ranking
    (txt_search_bm25) with a semantic cosine ranking over the
    embedding corpus by reciprocal rank fusion — the standard
    two-tower search stack (BM25 + dense retriever, RRF at k=60),
    composed entirely from oracle-checked parts; the oracle embeds the
    BM25 op's own SQL as a derived table so every stage stays
    value-checked through the fusion.

    Scale: each branch keeps its own bounded plan (posting-pruned BM25
    with TakeOrdered top-k; one broadcast query vector against the
    corpus — O(N), no pairwise), and the fusion itself joins two
    k-row frames — constant work however large the corpus. Docs
    missing from one branch carry rank 0 and contribute only the other
    branch's reciprocal."""
    from claim_analysis_engine_spark.operators.similarity import _cos, _emb
    from claim_analysis_engine_spark.operators.textops import (
        BM25_TOP_K,
        txt_search_bm25,
    )

    wl = W.orderBy(F.col("score").desc(), "doc_id")
    lex = txt_search_bm25(spark, sf_dir).select(
        "doc_id", F.row_number().over(wl).alias("lex_rank")
    )
    emb = _emb(spark, sf_dir)
    q = emb.where(F.col("vec_id") == HYBRID_QUERY_VEC).select(
        F.col("embedding").alias("eq")
    )
    sem0 = (
        emb.where(F.col("vec_id") != HYBRID_QUERY_VEC)
        .crossJoin(F.broadcast(q))
        .select(
            F.col("vec_id").alias("doc_id"),
            F.round(_cos("eq", "embedding"), 6).alias("cos"),
        )
    )
    top_sem = sem0.orderBy(F.col("cos").desc(), "doc_id").limit(BM25_TOP_K)
    ws = W.orderBy(F.col("cos").desc(), "doc_id")
    sem = top_sem.select("doc_id", F.row_number().over(ws).alias("sem_rank"))
    fused = lex.join(sem, "doc_id", "full").select(
        "doc_id",
        F.coalesce("lex_rank", F.lit(0)).cast("bigint").alias("lex_rank"),
        F.coalesce("sem_rank", F.lit(0)).cast("bigint").alias("sem_rank"),
        (
            F.coalesce(1.0 / (HYBRID_RRF_K + F.col("lex_rank")), F.lit(0.0))
            + F.coalesce(1.0 / (HYBRID_RRF_K + F.col("sem_rank")), F.lit(0.0))
        ).alias("rrf"),
    )
    return (
        fused.select(
            "doc_id",
            F.round("rrf", 6).alias("rrf_score"),
            "lex_rank",
            "sem_rank",
        )
        .orderBy(F.col("rrf_score").desc(), "doc_id")
        .limit(HYBRID_TOP)
    )


# ------------------------------------------------------- ep9_growth_e2e

@REG.op(
    "ep9_growth_e2e",
    oracle="""
    WITH o AS (
        SELECT o_custkey, year(o_orderdate) * 12 + month(o_orderdate) AS ms,
               CAST(o_totalprice AS DECIMAL(18,2)) AS rev
        FROM orders
    ), f AS (
        SELECT o_custkey, min(ms) AS m0 FROM o GROUP BY 1
    ), j AS (
        SELECT f.m0, o.o_custkey, o.ms - f.m0 AS age_m, o.rev
        FROM o JOIN f ON f.o_custkey = o.o_custkey
    ), cohort AS (
        SELECT m0, count(DISTINCT o_custkey) AS n_customers FROM j GROUP BY 1
    ), ret AS (
        SELECT m0, count(DISTINCT o_custkey) AS m3_buyers
        FROM j WHERE age_m BETWEEN 1 AND 3 GROUP BY 1
    ), ltv AS (
        SELECT m0, CAST(sum(rev) * 100 AS BIGINT) AS rev3_cents
        FROM j WHERE age_m <= 3 GROUP BY 1
    ), spend AS (
        SELECT m0, o_custkey, sum(rev) AS x FROM j GROUP BY 1, 2
    ), ranked AS (
        SELECT m0, x,
               row_number() OVER (PARTITION BY m0 ORDER BY x DESC, o_custkey)
                 AS rk,
               count(*) OVER (PARTITION BY m0) AS n
        FROM spend
    ), conc AS (
        SELECT m0,
               CAST(sum(CASE WHEN rk * 10 <= n THEN x ELSE 0 END) * 100
                    AS BIGINT) AS top_cents,
               CAST(sum(x) * 100 AS BIGINT) AS total_cents
        FROM ranked GROUP BY m0
    )
    SELECT concat(CAST((c.m0 - 1) // 12 AS VARCHAR), '-',
                  lpad(CAST((c.m0 - 1) % 12 + 1 AS VARCHAR), 2, '0'))
             AS cohort_month,
           c.n_customers,
           coalesce(r.m3_buyers, 0) AS m3_buyers,
           CAST(coalesce(r.m3_buyers, 0) * 10000 // c.n_customers AS BIGINT)
             AS ret_m3_bp,
           CAST(l.rev3_cents // c.n_customers AS BIGINT) AS ltv_m3_cents,
           CAST(k.top_cents * 10000 // k.total_cents AS BIGINT)
             AS top_decile_share_bp
    FROM cohort c
    LEFT JOIN ret r ON r.m0 = c.m0
    JOIN ltv l ON l.m0 = c.m0
    JOIN conc k ON k.m0 = c.m0
    """,
)
def ep9_growth_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Growth dashboard capstone composing this round's analytics
    family into one cohort panel: acquisition size, 3-month repeat
    rate, 3-month LTV, and intra-cohort revenue concentration — the
    summary view over agg_cohort_ltv / evt_retention / agg_pareto's
    machinery (same CTE skeleton, one panel).

    Hash-discipline showcase: the ENTIRE result is integers and
    strings — rates in basis points via integer floor division, money
    in cents, never a float anywhere — so no rounding-tie can exist
    between engines by construction (the lesson agg_cohort_ltv's
    first attempt paid for).

    Scale: one custkey shuffle (the first-order month comes from a
    min-over-window on the same exchange the per-customer rollup then
    reuses — hashpartitioning(custkey) satisfies the (m0, custkey)
    grouping because custkey ⊆ the grouping key), then one m0 shuffle
    shared by the concentration window AND the final cohort aggregate.
    Every cohort statistic folds into that per-customer grain first:
    n_customers = count of per-customer rows, m3_buyers = sum of a
    0/1 any-purchase-in-months-1..3 flag, rev3 = exact decimal sums
    re-summed per cohort (decimal addition is associative, so the
    two-level sum is bit-identical to the flat sum the oracle takes).
    One orders scan, two exchanges — the first cut joined a separate
    first-order aggregate back and fanned j into four aggregate
    branches, planning the orders subtree 8x."""
    o = load(spark, sf_dir, "orders").select(
        "o_custkey",
        (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("ms"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("rev"),
    )
    m0 = F.min("ms").over(W.partitionBy("o_custkey"))
    j = o.select(
        "o_custkey", "rev", m0.alias("m0"), (F.col("ms") - m0).alias("age_m")
    )
    per_cust = j.groupBy("m0", "o_custkey").agg(
        F.sum("rev").alias("x"),
        F.max(
            F.when(F.col("age_m").between(1, 3), F.lit(1)).otherwise(F.lit(0))
        ).alias("is_m3"),
        F.sum(F.when(F.col("age_m") <= 3, F.col("rev"))).alias("rev3"),
    )
    wm = W.partitionBy("m0")
    ranked = per_cust.select(
        "m0",
        "x",
        "is_m3",
        "rev3",
        F.row_number().over(wm.orderBy(F.desc("x"), "o_custkey")).alias("rk"),
        F.count(F.lit(1)).over(wm).alias("n"),
    )
    return (
        ranked.groupBy("m0")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("is_m3").alias("m3_buyers"),
            (F.sum("rev3") * 100).cast("long").alias("rev3_cents"),
            (
                F.sum(
                    F.when(F.col("rk") * 10 <= F.col("n"), F.col("x")).otherwise(
                        F.lit(0).cast("decimal(18,2)")
                    )
                )
                * 100
            )
            .cast("long")
            .alias("top_cents"),
            (F.sum("x") * 100).cast("long").alias("total_cents"),
        )
        .select(
            F.concat(
                ((F.col("m0") - 1) / 12).cast("int").cast("string"),
                F.lit("-"),
                F.lpad(((F.col("m0") - 1) % 12 + 1).cast("string"), 2, "0"),
            ).alias("cohort_month"),
            "n_customers",
            F.coalesce("m3_buyers", F.lit(0)).alias("m3_buyers"),
            F.expr("CAST(coalesce(m3_buyers, 0) * 10000 AS BIGINT) div n_customers").alias(
                "ret_m3_bp"
            ),
            F.expr("rev3_cents div n_customers").alias("ltv_m3_cents"),
            F.expr("CAST(top_cents * 10000 AS BIGINT) div total_cents").alias(
                "top_decile_share_bp"
            ),
        )
    )


# --------------------------------------------------------- ep10_ops_e2e

SLA_DAYS_SQL = """CASE o_orderpriority
        WHEN '1-URGENT' THEN 540
        WHEN '2-HIGH' THEN 640
        WHEN '3-MEDIUM' THEN 730
        WHEN '4-NOT SPECIFIED' THEN 800
        ELSE 900 END"""


@REG.op(
    "ep10_ops_e2e",
    oracle=f"""
    WITH cyc AS (
        SELECT o.o_orderkey, o.o_orderpriority,
               date_diff('day', o.o_orderdate, max(l.l_shipdate)) AS cycle_d
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_orderkey, o.o_orderpriority, o.o_orderdate
    ), sla AS (
        SELECT o_orderpriority AS priority, count(*) AS n_orders,
               round(quantile_cont(cycle_d, 0.5), 4) AS p50_days,
               max({SLA_DAYS_SQL}) AS sla_days,
               count(*) FILTER (cycle_d > {SLA_DAYS_SQL}) AS n_breach
        FROM cyc GROUP BY 1
    ), backlog AS (
        SELECT o_orderpriority AS priority,
               count(*) AS n_open,
               CAST(coalesce(sum(CAST(o_totalprice AS DECIMAL(18,2))), 0) * 100
                    AS BIGINT) AS open_cents
        FROM orders WHERE o_orderstatus = 'O' GROUP BY 1
    )
    SELECT s.priority, CAST(s.n_orders AS BIGINT) AS n_orders,
           s.p50_days, CAST(s.sla_days AS BIGINT) AS sla_days,
           CAST(s.n_breach AS BIGINT) AS n_breach,
           CAST(s.n_breach * 10000 // s.n_orders AS BIGINT) AS breach_bp,
           CAST(coalesce(b.n_open, 0) AS BIGINT) AS n_open,
           coalesce(b.open_cents, 0) AS open_cents
    FROM sla s LEFT JOIN backlog b ON b.priority = s.priority
    """,
)
def ep10_ops_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fulfillment-operations capstone: per priority, the cycle-time
    median, tiered SLA threshold, breach count and rate, and the open
    backlog (count + value in cents) — composing agg_cycle_time,
    agg_backlog_aging's filter, and an SLA rulebook into the single
    panel an ops review opens with (URGENT carries the tightest SLA,
    so equal cycle times show as unequal breach rates — the point of
    tiering). Breach rates in basis points by integer floor division;
    money in cents; the only float is the interpolated median,
    round(4).

    Plan: one orderkey-grain aggregate for cycles (map-side max), one
    exact-percentile + conditional-count aggregate on the 5-value
    priority key, one filtered scan for the backlog, one broadcast
    join — the fact table is read twice (cycle grain vs open filter),
    never shuffled twice on the same key."""
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    sla_col = F.expr(SLA_DAYS_SQL)
    # r14: same pre-aggregation as agg_cycle_time — lineitem reduces to
    # its orderkey grain before the join, so the exchange moves narrow
    # (key, max-date) rows; o_orderkey is the orders PK, so the
    # join-then-group form grouped exactly one order per key.
    last = li.groupBy("l_orderkey").agg(F.max("l_shipdate").alias("last_ship"))
    cyc = last.join(o, last.l_orderkey == o.o_orderkey).select(
        "o_orderpriority",
        F.datediff("last_ship", "o_orderdate").alias("cycle_d"),
        sla_col.alias("sla_days"),
    )
    sla = cyc.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.percentile("cycle_d", F.lit(0.5)), 4).alias("p50_days"),
        F.max("sla_days").cast("long").alias("sla_days"),
        F.count(F.when(F.col("cycle_d") > F.col("sla_days"), 1)).alias("n_breach"),
    )
    backlog = (
        o.where(F.col("o_orderstatus") == "O")
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count(F.lit(1)).alias("n_open"),
            (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
            .cast("long")
            .alias("open_cents"),
        )
    )
    return (
        sla.join(F.broadcast(backlog), "priority", "left")
        .select(
            "priority",
            "n_orders",
            "p50_days",
            "sla_days",
            "n_breach",
            F.expr("CAST(n_breach * 10000 AS BIGINT) div n_orders").alias(
                "breach_bp"
            ),
            F.coalesce("n_open", F.lit(0)).alias("n_open"),
            F.coalesce("open_cents", F.lit(0)).alias("open_cents"),
        )
    )


# ---------------------------------------------------------- ep11_rag_e2e

RAG_TOP_K = 10


def _ep11_oracle() -> str:
    from claim_analysis_engine_spark.operators.pipeline_ops import _CHUNKS_SQL
    from claim_analysis_engine_spark.operators.textops import (
        BM25_B,
        BM25_K1,
        BM25_TERMS,
    )

    return f"""
    WITH {_CHUNKS_SQL},
    ctoks AS (
        SELECT doc_id, chunk_idx, unnest(ctoks) AS tok FROM chunks
    ),
    cl AS (
        SELECT doc_id, chunk_idx, count(*) AS clen
        FROM ctoks GROUP BY 1, 2
    ),
    stats AS (
        SELECT CAST(count(*) AS DOUBLE) AS n_chunks, avg(clen) AS avgcl
        FROM cl
    ),
    tf AS (
        SELECT doc_id, chunk_idx, tok, count(*) AS tf FROM ctoks
        WHERE tok IN {BM25_TERMS!r} GROUP BY 1, 2, 3
    ),
    df AS (SELECT tok, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
    scored AS (
        SELECT t.doc_id, t.chunk_idx,
               round(sum(
                 ln((s.n_chunks - d.df + 0.5) / (d.df + 0.5) + 1)
                 * t.tf * ({BM25_K1} + 1)
                 / (t.tf + {BM25_K1}
                    * (1 - {BM25_B} + {BM25_B} * l.clen / s.avgcl))
               ), 6) AS score
        FROM tf t
        JOIN df d USING (tok)
        JOIN cl l USING (doc_id, chunk_idx), stats s
        GROUP BY 1, 2
    ),
    best AS (
        SELECT doc_id, chunk_idx, score,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY score DESC, chunk_idx) AS rk
        FROM scored
    )
    SELECT b.doc_id, b.chunk_idx, c.start_tok, b.score,
           md5(array_to_string(c.ctoks, ' ')) AS chunk_md5
    FROM best b JOIN chunks c
      ON c.doc_id = b.doc_id AND c.chunk_idx = b.chunk_idx
    WHERE b.rk = 1
    ORDER BY b.score DESC, b.doc_id LIMIT {RAG_TOP_K}
    """


@REG.op("ep11_rag_e2e", oracle=_ep11_oracle())
def ep11_rag_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG retrieval capstone at PASSAGE granularity: the overlapping
    chunk table (corpus_chunk_overlap's shared builder) is scored with
    BM25 at the CHUNK grain — chunk-level df/avg-length statistics,
    not document-level, because retrieval quality at 100 TB lives or
    dies on passage scoring — then each document is represented by its
    BEST chunk (max score, earliest chunk on ties) and the top-10
    documents return WITH PROVENANCE: which chunk, its token offset,
    and its content md5, exactly what a generation stage needs to
    quote its source. Composes the chunker's oracle CTE and the BM25
    formula the doc-level op certified, so the whole passage pipeline
    sits under one hash.

    Scale: chunking is shuffle-free; ONE exploded pass computes the
    chunk length and every query term's tf in the same chunk-grain
    aggregate (the per-term counts are conditional counts, so the
    posting prune happens inside the aggregate instead of as a second
    explode); chunk stats are broadcast-sized; the per-(chunk,term)
    posting frame is a stack() over that checkpointed chunk-grain table, so
    df, the idf join and the score rollup all reuse its
    (doc, chunk) partitioning with no further corpus pass; the
    best-chunk window partitions by doc_id; the final top-k is
    TakeOrderedAndProject. Nothing in the plan holds more than the
    postings of three terms. (The first cut exploded the corpus three
    times — clen pass, tf pass, and the stats re-plan — and re-joined
    clen onto tf by key; folding them into one aggregate removed two
    corpus explodes and that join.)"""
    from claim_analysis_engine_spark.operators.pipeline_ops import chunk_frame
    from claim_analysis_engine_spark.operators.textops import (
        BM25_B,
        BM25_K1,
        BM25_TERMS,
    )

    chunks = chunk_frame(spark, sf_dir).localCheckpoint()
    ctoks = chunks.select(
        "doc_id", "chunk_idx", F.explode("ctoks").alias("tok")
    )
    # chunk-grain: clen + one conditional tf per query term, one pass
    per_chunk = ctoks.groupBy("doc_id", "chunk_idx").agg(
        F.count(F.lit(1)).alias("clen"),
        *[
            F.count(F.when(F.col("tok") == t, True)).alias(f"tf_{i}")
            for i, t in enumerate(BM25_TERMS)
        ],
    ).localCheckpoint()
    stats = per_chunk.agg(
        F.count(F.lit(1)).cast("double").alias("n_chunks"),
        F.avg("clen").alias("avgcl"),
    )
    stack_args = ", ".join(
        f"'{t}', tf_{i}" for i, t in enumerate(BM25_TERMS)
    )
    tf = per_chunk.select(
        "doc_id",
        "chunk_idx",
        "clen",
        F.expr(f"stack({len(BM25_TERMS)}, {stack_args}) AS (tok, tf)"),
    ).where(F.col("tf") > 0)
    df = tf.groupBy("tok").agg(F.count(F.lit(1)).cast("double").alias("df"))
    idf = F.log(
        (F.col("n_chunks") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1
    )
    norm = F.col("tf") + BM25_K1 * (
        1 - BM25_B + BM25_B * F.col("clen") / F.col("avgcl")
    )
    scored = (
        tf.join(F.broadcast(df), "tok")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id", "chunk_idx")
        .agg(F.round(F.sum(idf * F.col("tf") * (BM25_K1 + 1) / norm), 6).alias("score"))
    )
    best = scored.withColumn(
        "rk",
        F.row_number().over(
            W.partitionBy("doc_id").orderBy(F.desc("score"), "chunk_idx")
        ),
    ).where(F.col("rk") == 1)
    return (
        best.join(chunks, ["doc_id", "chunk_idx"])
        .select(
            "doc_id",
            "chunk_idx",
            "start_tok",
            "score",
            F.md5(F.concat_ws(" ", "ctoks")).alias("chunk_md5"),
        )
        .orderBy(F.desc("score"), "doc_id")
        .limit(RAG_TOP_K)
    )


# ------------------------------------------------- ep15_plant_analysis

# The plant-analysis page capstone (reference pages/3_플랜트_분석.py, the
# heaviest page at 645 LoC): filter funnel → month pivot with subtotal
# rows → hybrid old-year/recent-month view → per-row risk diagnosis →
# lag tab, ALL under one hash. Fixed funnel parameters (the page's
# interactive widgets, pinned so both engines agree):
_EP15_PLANT = "F"  # Step 1 plant select (pages/3:82-86)
_EP15_MODE_EXCL = "AUTOMOBILE"  # Step 2 mode filter (pages/3:117-155),
# expressed as a segment exclusion KEPT IN SYNC with the history frame
# — the page's "[Sync] History Data" blocks are the semantic to pin
_EP15_START = "1997-01-01"  # Step 1 date window
_EP15_END_EXCL = "1999-07-01"  # exclusive: window end month = 1999-06
# hybrid cutoff = end - 23 months (pages/3:336-338): recent months are
# raw columns, older months collapse to per-year 'sum(avg)' text
_EP15_RECENT = (
    [(1997, m) for m in range(7, 13)]
    + [(1998, m) for m in range(1, 13)]
    + [(1999, m) for m in range(1, 7)]
)
_EP15_MONTH_NAMES = [f"m{y}_{m:02d}" for y, m in _EP15_RECENT]
# sum(avg) denominators — reference semantics (pages/3:355-383): the
# OLD-year column sums only that year's PRE-CUTOFF months (1997 Jan-
# Jun; Jul+ appear as raw columns, never double-counted), while the
# ly/ty SUMMARY columns sum ALL of that year's months in the window;
# averages divide by the month-COLUMN count, so empty months count
_EP15_DENOM = {1997: 6, 1998: 12, 1999: 6}


def _ep15_sumavg_sql(s: str, denom: int) -> str:
    """'<sum>(<avg to 1 dp>)' in PURE integer arithmetic (tenths via
    floor division) — the ep9 discipline: no float can round-tie."""
    t = f"(({s}) * 10 // {denom})"
    return (
        f"CAST({s} AS VARCHAR) || '(' || CAST({t} // 10 AS VARCHAR)"
        f" || '.' || CAST({t} % 10 AS VARCHAR) || ')'"
    )


def _ep15_oracle() -> str:
    month_filters = ",\n             ".join(
        f"count(*) FILTER (y = {y} AND m = {m}) AS m{y}_{m:02d}"
        for y, m in _EP15_RECENT
    )
    month_cols = ",\n           ".join(f"p.{n}" for n in _EP15_MONTH_NAMES)
    return (
        f"""
    WITH orders AS (
      SELECT c.c_mktsegment AS o_orderstatus,
             CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                  THEN '1-URGENT' ELSE '3-MEDIUM' END AS o_orderpriority,
             o.o_orderdate
      FROM main.orders o JOIN main.customer c ON c.c_custkey = o.o_custkey
      WHERE o.o_orderstatus = '{_EP15_PLANT}'
        AND c.c_mktsegment <> '{_EP15_MODE_EXCL}'
        AND o.o_orderdate < DATE '{_EP15_END_EXCL}'
    ),"""
        + _TREE_CTES.lstrip().removeprefix("WITH")
        + f""",
    risk AS ({_TREE_SELECT}),
    win AS (
      SELECT o.o_orderkey, o.o_orderdate,
             c.c_mktsegment AS segment,
             CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                  THEN '중대' ELSE '일반' END AS grade,
             year(o.o_orderdate) AS y, month(o.o_orderdate) AS m
      FROM main.orders o JOIN main.customer c ON c.c_custkey = o.o_custkey
      WHERE o.o_orderstatus = '{_EP15_PLANT}'
        AND c.c_mktsegment <> '{_EP15_MODE_EXCL}'
        AND o.o_orderdate >= DATE '{_EP15_START}'
        AND o.o_orderdate < DATE '{_EP15_END_EXCL}'
    ),
    pvt AS (
      SELECT coalesce(grade, 'Total') AS grade,
             CASE WHEN GROUPING(segment) = 1 AND GROUPING(grade) = 0
                  THEN '전체 합계'
                  WHEN GROUPING(grade) = 1 THEN '' ELSE segment END AS segment,
             GROUPING(grade) AS gg, GROUPING(segment) AS gs,
             count(*) FILTER (y = 1997 AND m <= 6) AS s1997,
             count(*) FILTER (y = 1998) AS s1998,
             count(*) FILTER (y = 1999) AS s1999,
             {month_filters},
             count(*) AS total
      FROM win GROUP BY ROLLUP (grade, segment)
    ),
    lagv AS (
      SELECT date_diff('day', w.o_orderdate, l.l_shipdate) AS lag_days
      FROM win w JOIN main.lineitem l ON l.l_orderkey = w.o_orderkey
      WHERE date_diff('day', w.o_orderdate, l.l_shipdate) >= 0
    ),
    lagstat AS (
      SELECT count(*) AS lag_n,
             round(avg(lag_days), 4) AS lag_mean,
             round(median(lag_days), 1) AS lag_p50
      FROM lagv
    ),
    laghist AS (
      SELECT string_agg(CAST(b AS VARCHAR) || ':' || CAST(n AS VARCHAR),
                        ',' ORDER BY b) AS lag_hist
      FROM (SELECT lag_days // 10 AS b, count(*) AS n FROM lagv GROUP BY 1)
    )
    SELECT p.grade, p.segment,
           {_ep15_sumavg_sql('p.s1997', _EP15_DENOM[1997])} AS y1997,
           {month_cols},
           {_ep15_sumavg_sql('p.s1998', _EP15_DENOM[1998])} AS ly_1998,
           {_ep15_sumavg_sql('p.s1999', _EP15_DENOM[1999])} AS ty_1999,
           CAST(p.total AS BIGINT) AS total,
           CASE WHEN p.gg = 0 AND p.gs = 0
                THEN coalesce(r.risk_status, '⚪') ELSE '' END AS risk_status,
           CASE WHEN p.gg = 0 AND p.gs = 0
                THEN coalesce(r.score, 0) END AS score,
           CASE WHEN p.gg = 0 AND p.gs = 0
                THEN coalesce('[' || CAST(r.score AS VARCHAR) || '점] '
                              || r.reason, '데이터 없음')
                ELSE '' END AS reason,
           CASE WHEN p.gg = 1 THEN s.lag_n END AS lag_n,
           CASE WHEN p.gg = 1 THEN s.lag_mean END AS lag_mean,
           CASE WHEN p.gg = 1 THEN s.lag_p50 END AS lag_p50,
           CASE WHEN p.gg = 1 THEN h.lag_hist END AS lag_hist
    FROM pvt p
    LEFT JOIN risk r ON p.gg = 0 AND p.gs = 0
                    AND r.status = p.segment AND r.grade = p.grade
    CROSS JOIN lagstat s CROSS JOIN laghist h
    """
    )


def _ep15_crit() -> F.Column:
    return F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")


def _ep15_claims(spark: SparkSession, sf_dir: str, *, window: bool) -> DataFrame:
    """The page's filter funnel (pages/3:82-195). ``window=False`` is
    the '[Sync] History Data' frame: SAME plant + mode + dimension
    filters, NO window-start bound (whole plant history up to the
    window end — calculate_advanced_risk_score truncates the series at
    the target month, core/analytics.py:411-419)."""
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority", "o_orderdate"
    )
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    df = (
        o.where(
            (F.col("o_orderstatus") == _EP15_PLANT)
            & (F.col("o_orderdate") < F.lit(_EP15_END_EXCL).cast("date"))
        )
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .where(F.col("c_mktsegment") != _EP15_MODE_EXCL)
    )
    if window:
        df = df.where(F.col("o_orderdate") >= F.lit(_EP15_START).cast("date"))
    return df


def _ep15_sumavg_col(s: str, denom: int) -> F.Column:
    t = f"(({s}) * 10) div {denom}"
    return F.concat(
        F.col(s).cast("string"),
        F.lit("("),
        F.expr(f"({t}) div 10").cast("string"),
        F.lit("."),
        F.expr(f"({t}) % 10").cast("string"),
        F.lit(")"),
    )


@REG.op("ep15_plant_analysis", oracle=_ep15_oracle())
def ep15_plant_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EP15 — the plant-analysis page (reference pages/3_플랜트_분석.py,
    SURVEY §3 'EP4 honorable mention') composed end-to-end under one
    hash, the ep9/ep10 panel pattern over already-certified parts:

    * filter funnel (pages/3:82-195): plant + date window + mode
      filter, with the mode/dimension filters KEPT IN SYNC between the
      display frame and the risk-history frame ([Sync] blocks);
    * month pivot with 소계/전체 합계 subtotal rows (pages/3:270-326 →
      pvt_subtotals' ROLLUP machinery) over (grade, segment) — grade
      forced first, the page's '등급기준 is always pivot_indices[0]';
    * hybrid view (pages/3:335-371 → pvt_hybrid): months ≥ end-23mo as
      raw columns, older months collapsed to per-year 'sum(avg)' text
      (integer-tenths arithmetic — no float rounding anywhere), plus
      the ly/ty summary columns and window Total;
    * per-row risk diagnosis AGAINST WHOLE-PLANT HISTORY, not the
      filtered window (pages/3:115-195 whole_history_df — THE subtle
      semantic: stats/mu/sd come from all months up to the target even
      when the display window starts later; rs_tree_relational runs on
      the history frame with segment/grade as the series key), with
      subtotal rows skipped exactly as the page skips them
      (pages/3:385-394) and the page's '[{score}점] {reason}' string;
    * lag tab (pages/3:629-643 → agg_lag_stats + agg_hist): count /
      mean / exact median plus a 10-day-bucket histogram string, on
      the grand-total row only.

    Scale: the tree input is ONE hash-aggregate of the filtered fact
    table (map-side combine to |keys|×|months|); the pivot is one
    ROLLUP over the same scan; risk results are segment×grade-sized
    and broadcast back; lag reuses the bounded-domain exact-median
    histogram (the agg_lag_stats plan). Planted divergence tests:
    tests/test_ep15.py."""
    from claim_analysis_engine_spark.operators.risk_tree import rs_tree_relational

    hist = _ep15_claims(spark, sf_dir, window=False).select(
        F.col("c_mktsegment").alias("o_orderstatus"),
        F.when(_ep15_crit(), F.lit("1-URGENT"))
        .otherwise(F.lit("3-MEDIUM"))
        .alias("o_orderpriority"),
        "o_orderdate",
    )
    risk = rs_tree_relational(spark, sf_dir, orders=hist).select(
        F.col("status").alias("r_segment"),
        F.col("grade").alias("r_grade"),
        F.col("risk_status").alias("r_status"),
        F.col("score").alias("r_score"),
        F.col("reason").alias("r_reason"),
    )

    win = _ep15_claims(spark, sf_dir, window=True).select(
        "o_orderkey",
        "o_orderdate",
        F.col("c_mktsegment").alias("segment"),
        F.when(_ep15_crit(), F.lit("중대")).otherwise(F.lit("일반")).alias("grade"),
        F.year("o_orderdate").alias("y"),
        F.month("o_orderdate").alias("m"),
    )

    def cnt(cond: F.Column) -> F.Column:
        return F.count(F.when(cond, 1))

    month_aggs = [
        cnt((F.col("y") == y) & (F.col("m") == m)).alias(f"m{y}_{m:02d}")
        for y, m in _EP15_RECENT
    ]
    pvt = (
        win.rollup("grade", "segment")
        .agg(
            cnt((F.col("y") == 1997) & (F.col("m") <= 6)).alias("s1997"),
            cnt(F.col("y") == 1998).alias("s1998"),
            cnt(F.col("y") == 1999).alias("s1999"),
            *month_aggs,
            F.count(F.lit(1)).alias("total"),
            F.grouping("grade").alias("gg"),
            F.grouping("segment").alias("gs"),
        )
        .select(
            F.coalesce("grade", F.lit("Total")).alias("grade"),
            F.when((F.col("gs") == 1) & (F.col("gg") == 0), F.lit("전체 합계"))
            .when(F.col("gg") == 1, F.lit(""))
            .otherwise(F.col("segment"))
            .alias("segment"),
            "gg",
            "gs",
            "s1997",
            "s1998",
            "s1999",
            *_EP15_MONTH_NAMES,
            "total",
        )
    )

    # lag tab: exact stats over the bounded integer lag domain (the
    # agg_lag_stats plan: per-value histogram, cumulative-rank median)
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    lag = (
        win.select("o_orderkey", "o_orderdate")
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            F.datediff("l_shipdate", "o_orderdate").cast("bigint").alias("lag_days")
        )
        .where(F.col("lag_days") >= 0)
    )
    hist_l = lag.groupBy("lag_days").agg(F.count(F.lit(1)).alias("cnt"))
    wcum = W.orderBy("lag_days").rowsBetween(W.unboundedPreceding, 0)
    h = hist_l.withColumn("cum", F.sum("cnt").over(wcum))
    h2 = h.crossJoin(F.broadcast(h.agg(F.sum("cnt").alias("n_all"))))
    m1 = F.min(
        F.when(F.col("cum") >= F.floor((F.col("n_all") + 1) / 2), F.col("lag_days"))
    )
    m2 = F.min(
        F.when(F.col("cum") >= F.floor(F.col("n_all") / 2) + 1, F.col("lag_days"))
    )
    sum1 = F.sum(F.col("cnt") * F.col("lag_days"))
    # empty-lag alignment: DuckDB count(*) over zero rows is 0, a max
    # over an empty Spark frame is NULL — coalesce so the engines agree
    # even on a corpus with no valid lag pairs
    lagstat = h2.agg(
        F.coalesce(F.max("n_all"), F.lit(0).cast("bigint")).alias("lag_n_v"),
        F.round(sum1.cast("double") / F.max("n_all"), 4).alias("lag_mean_v"),
        F.round((m1 + m2) / 2.0, 1).alias("lag_p50_v"),
    )
    laghist = (
        lag.groupBy(F.expr("lag_days div 10").alias("b"))
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(
            F.expr(
                # nullif('') mirrors string_agg-over-zero-rows = NULL
                "nullif(array_join(transform(array_sort(collect_list(struct(b, n))),"
                " s -> concat(cast(s.b as string), ':', cast(s.n as string))), ','), '')"
            ).alias("lag_hist_v")
        )
    )

    leaf = (F.col("gg") == 0) & (F.col("gs") == 0)
    grand = F.col("gg") == 1
    out = (
        pvt.join(
            F.broadcast(risk),
            leaf
            & (F.col("r_segment") == F.col("segment"))
            & (F.col("r_grade") == F.col("grade")),
            "left",
        )
        .crossJoin(F.broadcast(lagstat))
        .crossJoin(F.broadcast(laghist))
        .select(
            "grade",
            "segment",
            _ep15_sumavg_col("s1997", _EP15_DENOM[1997]).alias("y1997"),
            *_EP15_MONTH_NAMES,
            _ep15_sumavg_col("s1998", _EP15_DENOM[1998]).alias("ly_1998"),
            _ep15_sumavg_col("s1999", _EP15_DENOM[1999]).alias("ty_1999"),
            F.col("total").cast("bigint").alias("total"),
            F.when(leaf, F.coalesce("r_status", F.lit("⚪")))
            .otherwise(F.lit(""))
            .alias("risk_status"),
            F.when(leaf, F.coalesce(F.col("r_score"), F.lit(0)))
            .cast("int")
            .alias("score"),
            F.when(
                leaf,
                F.coalesce(
                    F.concat(
                        F.lit("["),
                        F.col("r_score").cast("string"),
                        F.lit("점] "),
                        F.col("r_reason"),
                    ),
                    F.lit("데이터 없음"),
                ),
            )
            .otherwise(F.lit(""))
            .alias("reason"),
            F.when(grand, F.col("lag_n_v")).alias("lag_n"),
            F.when(grand, F.col("lag_mean_v")).alias("lag_mean"),
            F.when(grand, F.col("lag_p50_v")).alias("lag_p50"),
            F.when(grand, F.col("lag_hist_v")).alias("lag_hist"),
        )
    )
    return out


# --------------------------------------------- ep16_sales_management

# The sales-management page capstone (reference pages/2_매출수량_관리.py,
# 292 LoC — the last reference page without a one-hash composition):
# Smart Sync of claim keys onto the saved sales file → latest-ID-per-
# plant mapping → CSV batch upsert → trailing-3-month gap estimation →
# fixed-column-order save → long↔pivot round trip, ALL under one hash
# over the already-certified parts (join_claims_sales, join_latest_id,
# sales_gap_fill, unpvt_melt, union_append, snk_parquet_flat).
#
# Stand-in mapping (the sales.py conventions): plant = c_mktsegment via
# the orders⟕customer broadcast join; the user-maintained sales FILE is
# the monthly claim-count aggregate restricted to months BEFORE the
# sales cutoff (the user hasn't entered recent months — the unsynced
# claims↔sales state Smart Sync exists to resolve), with every 7th
# serial month NULLed (missing manual entries) and the month's max
# orderkey as the row's editable ID. Fixed page parameters, pinned so
# both engines agree:
_EP16_START = "1997-01-01"  # claim-key window (pages/2:69 get_claim_keys)
_EP16_END_EXCL = "1998-09-01"  # orders end 1998-08
_EP16_SALES_LIMIT = 1998 * 12 + 1  # sales file covers serials < 1998-01
_EP16_MONTHS = [(1997, m) for m in range(1, 13)] + [(1998, m) for m in range(1, 10)]
_EP16_MONTH_NAMES = [f"m{y}_{m:02d}" for y, m in _EP16_MONTHS]
# the CSV batch (pages/2:148-204 merge_csv_data): one UPDATE row per
# plant for 1998-06 (qty = latest_id % 1000 — deterministic, ID-keyed
# like the reference's ID-first matching) and one NEW row for 1998-09
# (beyond the claim keys → appended, the union_append half)
_EP16_CSV_UPD = (1998, 6)
_EP16_CSV_NEW = (1998, 9)
_EP16_CSV_NEW_QTY = 77
# the reference's fixed save schema order (pages/2:53-64 BASE_COLUMNS
# + is_estimated, reindex-enforced)
_EP16_SAVED_COLS = "id,plant,y,m,qty,is_estimated"


def _ep16_oracle() -> str:
    month_cells = ",\n             ".join(
        f"max(qf) FILTER (y = {y} AND m = {m}) AS m{y}_{m:02d}"
        for y, m in _EP16_MONTHS
    )
    month_tot = ",\n           ".join(
        f"round(sum(CAST(round(qf * 10000) AS BIGINT))"
        f" FILTER (y = {y} AND m = {m}) / 10000.0, 4) AS m{y}_{m:02d}"
        for y, m in _EP16_MONTHS
    )
    plant_cols = ",\n           ".join(f"g.m{y}_{m:02d}" for y, m in _EP16_MONTHS)
    return f"""
    WITH claims AS (
      SELECT c.c_mktsegment AS plant, o.o_orderkey AS ok,
             year(o.o_orderdate) AS y, month(o.o_orderdate) AS m
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      WHERE o.o_orderdate >= DATE '{_EP16_START}'
        AND o.o_orderdate < DATE '{_EP16_END_EXCL}'
    ),
    sales AS (
      SELECT plant, y, m, max(ok) AS id,
             CASE WHEN (y * 12 + m) % 7 = 0 THEN NULL ELSE count(*) END AS qty
      FROM claims WHERE y * 12 + m < {_EP16_SALES_LIMIT}
      GROUP BY 1, 2, 3
    ),
    latest AS (
      SELECT plant, id AS latest_id FROM (
        SELECT plant, id, row_number() OVER (
          PARTITION BY plant ORDER BY y * 12 + m DESC, id DESC) AS rn
        FROM sales) WHERE rn = 1
    ),
    keys AS (SELECT DISTINCT plant, y, m FROM claims),
    synced AS (
      SELECT k.plant, k.y, k.m, l.latest_id, s.qty
      FROM keys k
      LEFT JOIN latest l ON l.plant = k.plant
      LEFT JOIN sales s ON s.plant = k.plant AND s.y = k.y AND s.m = k.m
    ),
    csv AS (
      SELECT plant, latest_id, {_EP16_CSV_UPD[0]} AS y, {_EP16_CSV_UPD[1]} AS m,
             CAST(latest_id % 1000 AS BIGINT) AS qty
      FROM latest
      UNION ALL
      SELECT plant, latest_id, {_EP16_CSV_NEW[0]}, {_EP16_CSV_NEW[1]},
             CAST({_EP16_CSV_NEW_QTY} AS BIGINT)
      FROM latest
    ),
    merged AS (
      SELECT s.plant, s.y, s.m, s.latest_id, coalesce(c.qty, s.qty) AS qty
      FROM synced s
      LEFT JOIN csv c ON c.plant = s.plant AND c.y = s.y AND c.m = s.m
      UNION ALL
      SELECT c.plant, c.y, c.m, c.latest_id, c.qty FROM csv c
      WHERE NOT EXISTS (SELECT 1 FROM keys k
                        WHERE k.plant = c.plant AND k.y = c.y AND k.m = c.m)
    ),
    filled AS (
      SELECT plant, latest_id, y, m,
             round(coalesce(CAST(qty AS DOUBLE),
                   avg(CAST(qty AS DOUBLE)) OVER (
                     PARTITION BY plant ORDER BY y * 12 + m
                     ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING)), 4) AS qf,
             (qty IS NULL AND avg(CAST(qty AS DOUBLE)) OVER (
                PARTITION BY plant ORDER BY y * 12 + m
                ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING) IS NOT NULL) AS est
      FROM merged
    ),
    grid AS (
      SELECT plant, max(latest_id) AS latest_id,
             {month_cells},
             CAST(count(*) FILTER (est) AS BIGINT) AS n_estimated,
             sum(CAST(round(qf * 10000) AS BIGINT)) AS total_m
      FROM filled GROUP BY 1
    ),
    melted AS (
      SELECT plant, sum(CAST(round(v * 10000) AS BIGINT)) AS melt_m
      FROM (SELECT plant, unnest([{", ".join(_EP16_MONTH_NAMES)}]) AS v
            FROM grid)
      GROUP BY 1
    ),
    plants AS (
      SELECT g.plant, g.latest_id,
           {plant_cols},
           g.n_estimated,
           round(g.total_m / 10000.0, 4) AS total,
           (coalesce(m.melt_m, 0) = coalesce(g.total_m, 0)) AS roundtrip_ok,
           CAST(NULL AS BIGINT) AS saved_rows,
           CAST(NULL AS VARCHAR) AS saved_cols
      FROM grid g JOIN melted m ON m.plant = g.plant
    )
    SELECT * FROM plants
    UNION ALL
    SELECT 'Total', CAST(NULL AS BIGINT),
           {month_tot},
           CAST(count(*) FILTER (est) AS BIGINT) AS n_estimated,
           round(sum(CAST(round(qf * 10000) AS BIGINT)) / 10000.0, 4) AS total,
           (SELECT coalesce(bool_and(roundtrip_ok), true) FROM plants),
           (SELECT CAST(count(*) AS BIGINT) FROM merged),
           '{_EP16_SAVED_COLS}'
    FROM filled
    """


@REG.op("ep16_sales_management", oracle=_ep16_oracle())
def ep16_sales_management(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EP16 — the sales-management page (reference pages/2_매출수량_관리.py)
    composed end-to-end under one hash, the ep15 panel pattern over
    already-certified parts:

    * Smart Sync (pages/2:66-99): the claim-key spine (distinct plant ×
      year × month from the claims hub, the get_claim_keys contract)
      LEFT-joins the saved sales file on (plant, y, m) — claim months
      the user never entered surface with NULL quantity instead of
      silently missing (the unsynced claims↔sales divergence the page
      exists to resolve), via join_claims_sales' broadcast-dim funnel;
    * latest-ID mapping (pages/2:81-85): per plant, the ID of the most
      recent sales row (row_number DESC — join_latest_id's machinery)
      stamped onto every synced row;
    * CSV batch upsert (pages/2:148-204): matching (plant, y, m) rows
      take the CSV value (ID-keyed update), rows beyond the claim keys
      APPEND (union_append) — one deterministic update + one new month
      per plant;
    * gap estimation (core/storage.py:364-458 → sales_gap_fill): NULL
      quantities fill with the SAME plant's trailing-3-month mean and
      flag is_estimated;
    * fixed-column-order save (pages/2:53-64): the long frame persists
      through parquet in the reference's exact BASE_COLUMNS order
      (snk_parquet_flat), and the READ-BACK schema + row count land on
      the Total row — the engine certifies what it actually wrote;
    * pivot ↔ long round trip (pages/2:101-142): per-plant month
      columns (long_to_pivot), then a REAL stack() melt back
      (unpvt_melt / pivot_to_long) whose integer-milli totals must
      re-equal the long frame's — emitted as roundtrip_ok.

    Scale: claims aggregate once to (plant, month) grain — everything
    downstream (sync spine, latest-ID window, upsert, gap fill, pivot,
    melt) runs on grain-sized frames independent of fact size; the dim
    join broadcasts; the save is one grain-sized parquet write."""
    from claim_analysis_engine_spark.tables import load as _load
    from claim_analysis_engine_spark.tmputil import fresh_dir as _fresh_dir

    o = _load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    c = _load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    claims = (
        o.where(
            (F.col("o_orderdate") >= F.lit(_EP16_START).cast("date"))
            & (F.col("o_orderdate") < F.lit(_EP16_END_EXCL).cast("date"))
        )
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .select(
            F.col("c_mktsegment").alias("plant"),
            F.col("o_orderkey").alias("ok"),
            F.year("o_orderdate").alias("y"),
            F.month("o_orderdate").alias("m"),
        )
    )
    serial = F.col("y") * 12 + F.col("m")
    sales = (
        claims.where(serial < _EP16_SALES_LIMIT)
        .groupBy("plant", "y", "m")
        .agg(F.max("ok").alias("id"), F.count(F.lit(1)).alias("cnt"))
        .select(
            "plant",
            "y",
            "m",
            "id",
            F.when(serial % 7 == 0, F.lit(None))
            .otherwise(F.col("cnt"))
            .cast("long")
            .alias("qty"),
        )
    )
    wl = W.partitionBy("plant").orderBy(serial.desc(), F.col("id").desc())
    latest = (
        sales.withColumn("rn", F.row_number().over(wl))
        .where(F.col("rn") == 1)
        .select("plant", F.col("id").alias("latest_id"))
    )
    keys = claims.select("plant", "y", "m").distinct()
    synced = keys.join(F.broadcast(latest), "plant", "left").join(
        F.broadcast(sales.select("plant", "y", "m", "qty")),
        ["plant", "y", "m"],
        "left",
    )
    csv = latest.select(
        "plant",
        "latest_id",
        F.lit(_EP16_CSV_UPD[0]).alias("y"),
        F.lit(_EP16_CSV_UPD[1]).alias("m"),
        (F.col("latest_id") % 1000).cast("long").alias("qty"),
    ).unionByName(
        latest.select(
            "plant",
            "latest_id",
            F.lit(_EP16_CSV_NEW[0]).alias("y"),
            F.lit(_EP16_CSV_NEW[1]).alias("m"),
            F.lit(_EP16_CSV_NEW_QTY).cast("long").alias("qty"),
        )
    )
    upd = synced.join(
        F.broadcast(csv.select("plant", "y", "m", F.col("qty").alias("csv_qty"))),
        ["plant", "y", "m"],
        "left",
    ).select(
        "plant", "y", "m", "latest_id", F.coalesce("csv_qty", "qty").alias("qty")
    )
    appended = csv.join(keys, ["plant", "y", "m"], "left_anti").select(
        "plant", "y", "m", "latest_id", "qty"
    )
    merged = upd.unionByName(appended)

    tw = W.partitionBy("plant").orderBy(serial).rowsBetween(-3, -1)
    trail = F.avg(F.col("qty").cast("double")).over(tw)
    filled = merged.select(
        "plant",
        "latest_id",
        "y",
        "m",
        F.round(F.coalesce(F.col("qty").cast("double"), trail), 4).alias("qf"),
        (F.col("qty").isNull() & trail.isNotNull()).alias("est"),
    )

    # fixed-column-order save through parquet, then READ BACK — the
    # emitted schema/count certify the write, not the intent
    out_dir = _fresh_dir("cae_spark_ep16_")
    filled.select(
        F.coalesce(F.col("latest_id").cast("string"), F.lit("")).alias("id"),
        "plant",
        "y",
        "m",
        F.col("qf").alias("qty"),
        F.col("est").alias("is_estimated"),
    ).write.mode("overwrite").parquet(out_dir)
    back = spark.read.parquet(out_dir)
    saved_rows = back.count()
    saved_cols = ",".join(back.columns)

    milli = F.round(F.col("qf") * 10000).cast("long")
    grid = filled.groupBy("plant").agg(
        F.max("latest_id").alias("latest_id"),
        *[
            F.max(
                F.when((F.col("y") == y) & (F.col("m") == m), F.col("qf"))
            ).alias(f"m{y}_{m:02d}")
            for y, m in _EP16_MONTHS
        ],
        F.count(F.when(F.col("est"), 1)).alias("n_estimated"),
        F.sum(milli).alias("total_m"),
    )
    stack_expr = "stack({n}, {args}) AS (ym, v)".format(
        n=len(_EP16_MONTHS),
        args=", ".join(f"'{nm}', {nm}" for nm in _EP16_MONTH_NAMES),
    )
    melted = (
        grid.select("plant", F.expr(stack_expr))
        .groupBy("plant")
        .agg(F.sum(F.round(F.col("v") * 10000).cast("long")).alias("melt_m"))
    )
    plants = grid.join(melted, "plant").select(
        "plant",
        "latest_id",
        *_EP16_MONTH_NAMES,
        "n_estimated",
        F.round(F.col("total_m") / 10000.0, 4).alias("total"),
        (
            F.coalesce("melt_m", F.lit(0)) == F.coalesce("total_m", F.lit(0))
        ).alias("roundtrip_ok"),
        F.lit(None).cast("long").alias("saved_rows"),
        F.lit(None).cast("string").alias("saved_cols"),
    )
    rt = plants.agg(
        F.coalesce(F.bool_and("roundtrip_ok"), F.lit(True)).alias("rt_all")
    )
    total_row = (
        filled.agg(
            *[
                F.round(
                    F.sum(F.when((F.col("y") == y) & (F.col("m") == m), milli))
                    / 10000.0,
                    4,
                ).alias(f"m{y}_{m:02d}")
                for y, m in _EP16_MONTHS
            ],
            F.count(F.when(F.col("est"), 1)).alias("n_estimated"),
            F.round(F.sum(milli) / 10000.0, 4).alias("total"),
        )
        .crossJoin(F.broadcast(rt))
        .select(
            F.lit("Total").alias("plant"),
            F.lit(None).cast("long").alias("latest_id"),
            *_EP16_MONTH_NAMES,
            "n_estimated",
            "total",
            F.col("rt_all").alias("roundtrip_ok"),
            F.lit(saved_rows).cast("long").alias("saved_rows"),
            F.lit(saved_cols).alias("saved_cols"),
        )
    )
    return plants.unionByName(total_row)
