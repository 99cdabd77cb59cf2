"""Canonical ETL chain (reference core/etl.py): canonicalizing
projection to the 54-field contract, cascade date parsing, reception-
date assembly, keep-last dedup with an explicit sequence, and lag
derivation.

``canonicalize`` and the date helpers are pure Column transformations,
composable with any source: Catalyst prunes unused canonical columns
right back out when a downstream query only reads a few, so
canonicalizing to 54 columns costs nothing at scan time unless all 54
are consumed. ``preprocess`` ends the chain in ONE materialization (a
``localCheckpoint``): an upload's consumers -- the hub merge, the mart
refresh -- read the prepared batch, never its source again.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from claim_analysis_engine_spark.config import CANONICAL_COLS, KOREAN_TO_ASCII


def canonicalize(df: DataFrame, keep: tuple[str, ...] = ()) -> DataFrame:
    """Reindex any input frame to exactly the 54 canonical columns
    (reference extract_54_fields, core/etl.py:50-71) in one projection:
    each field reads its Korean source name or its ASCII name, missing
    fields become typed nulls, extra columns are dropped. 1 row in = 1
    row out. ``keep`` names passthrough metadata columns (e.g. an
    ingest load_seq) to carry alongside the canonical 54.

    An input holding a field under BOTH names is refused with a
    ValueError: which of the two the user meant is not knowable."""
    present = set(df.columns)
    both = [f"{kr}/{en}" for kr, en in KOREAN_TO_ASCII.items() if kr in present and en in present]
    if both:
        raise ValueError(f"input holds both the Korean and the ASCII name of: {', '.join(both)}")
    source = {c: c for c in CANONICAL_COLS if c in present}
    source.update({en: kr for kr, en in KOREAN_TO_ASCII.items() if kr in present})
    return df.select(
        *[
            (F.col(source[c]).cast("string") if c in source else F.lit(None).cast("string")).alias(c)
            for c in CANONICAL_COLS
        ],
        *[F.col(c) for c in keep],
    )


def safe_date_parse(col: Column) -> Column:
    """3-format cascade parse: yyyy/MM/dd → yyyy-MM-dd → yyyy.MM.dd,
    unparseable → null (reference safe_date_parse, core/etl.py:149-178)."""
    return F.coalesce(
        F.try_to_timestamp(col, F.lit("yyyy/MM/dd")).cast("date"),
        F.try_to_timestamp(col, F.lit("yyyy-MM-dd")).cast("date"),
        F.try_to_timestamp(col, F.lit("yyyy.MM.dd")).cast("date"),
    )


def assemble_reception_date(year: Column, month: Column, day: Column) -> Column:
    """y+m+d → date only when all three parts are numeric-coercible
    (reference core/etl.py:217-227); make_date nulls invalid calendar
    combinations the way the reference's strict %Y-%m-%d parse does."""
    y = year.cast("int")
    m = month.cast("int")
    d = day.cast("int")
    return F.when(
        y.isNotNull() & m.isNotNull() & d.isNotNull(), F.make_date(y, m, d)
    )


def preprocess(df: DataFrame, load_seq: str | None = None) -> DataFrame:
    """The reference preprocess_data chain (core/etl.py:181-280) on a
    canonicalized frame:

    1. trim claim_id, drop null-id rows (flag-don't-drop applies to
       lag validity, NOT to the primary key);
    2. keep-LAST dedup per claim_id — ordered by the explicit
       ``load_seq`` column (callers ingesting multiple uploads must
       provide one; pandas relied on implicit row order, which a
       distributed engine must never do — SURVEY §7 hard parts);
    3. assemble reception_date from y/m/d parts;
    4. cascade-parse manufacture_date / expiry_date;
    5. lag_days = reception − manufacture (days); lag_valid = both
       present AND lag ≥ 0 — invalid rows are FLAGGED, never dropped;
    6. coerce partition ints reception_year/month (the reference's
       all-NaN backfill from reception_date, core/etl.py:270-277, can
       only ever yield nulls — see below).

    The chain runs ONCE, here: the result is a ``localCheckpoint`` (one
    Spark action over the source), so every consumer of the batch reads
    the materialized rows, never the source again.
    """
    out = df.withColumn("claim_id", F.trim("claim_id")).where(
        F.col("claim_id").isNotNull() & (F.col("claim_id") != "")
    )
    if load_seq is None:
        load_seq = "_load_seq"
        out = out.withColumn(load_seq, F.lit(0))
    w = W.partitionBy("claim_id").orderBy(F.col(load_seq).desc())
    out = (
        out.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )

    out = out.withColumn(
        "reception_date",
        assemble_reception_date(
            F.col("reception_year"), F.col("reception_month"), F.col("reception_day")
        ),
    )
    out = out.withColumn("manufacture_date_parsed", safe_date_parse(F.col("manufacture_date")))
    out = out.withColumn("expiry_date_parsed", safe_date_parse(F.col("expiry_date")))

    lag = F.datediff("reception_date", "manufacture_date_parsed")
    out = out.withColumn("lag_days", lag).withColumn(
        "lag_valid",
        F.col("reception_date").isNotNull()
        & F.col("manufacture_date_parsed").isNotNull()
        & (lag >= 0),
    )

    # partition ints. The reference back-derives a wholly missing
    # year/month column from reception_date (core/etl.py:270-277), but
    # reception_date is assembled from these very columns: where one is
    # wholly null, every reception_date is null too, so the derivation
    # yields exactly the nulls the cast gives.
    return out.withColumns({
        c: F.col(c).cast("int") for c in ("reception_year", "reception_month")
    }).localCheckpoint()
