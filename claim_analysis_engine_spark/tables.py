"""Access to the driver-generated synthetic tables (TESTDATA.md), plus
the execution helpers operators share (fanout_apply, spread_scan,
pinned_conf).

Reads are plain `spark.read.parquet` so Catalyst gets full pushdown and
pruning. Nothing here caches: a frame reused across requests is an
artifact (artifacts.py), keyed by the files it was computed from.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    if name == "events":
        return _load_events(spark, sf_dir)
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet stores ts as TIMESTAMP(NANOS), which Spark's
    vectorized parquet reader rejects. Read nanos as long and convert
    with integer division (ts div 1000 → micros) — truncation matches
    how micro-precision engines (DuckDB) read the same column. Double
    division would be wrong: 1.7e18 ns exceeds 2^53."""
    from pyspark.sql import functions as F

    # set-once guard: sessions built by session.get_spark already carry
    # this conf; external sessions (the driver's) get it on first events
    # read. The value only ever goes false→true, never flips back, so
    # no other query's plan changes mid-session.
    if spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") != "true":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    if dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz")
        )
    return df


@contextmanager
def pinned_conf(spark: SparkSession, key: str, value: str):
    """Pin a SQL conf for the enclosed block, restoring the caller's
    value afterwards. The one place operators set session conf: ops
    never assume ambient conf (see _load_events), so a mode a result
    depends on — dynamic partition overwrite for the hub merge-upsert,
    a small shuffle width for a tiny frame or a stateful gate — is
    asserted at the site itself."""
    prev = spark.conf.get(key)
    if prev.lower() == value:
        yield
        return
    spark.conf.set(key, value)
    try:
        yield
    finally:
        spark.conf.set(key, prev)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view (for spark.sql-style ops)."""
    for name in TABLES:
        load(spark, sf_dir, name).createOrReplaceTempView(name)


def fanout_apply(df, keys: list[str], run, schema: str):
    """Compute-parallel replacement for ``groupBy(keys).applyInPandas``
    when per-group CPU (model fitting) dwarfs per-group bytes.

    The naive shape serializes: AQE coalesces the grouping shuffle to
    ONE partition because it optimizes shuffle BYTES, not downstream
    CPU — a few KB of per-series rows can feed seconds of fitting per
    group, and 15 series then fit serially in one task. Hash
    repartitions don't help: this Spark's AQE coalesces
    ``repartition(n, cols)`` exchanges too (measured: 1 partition at
    sf0.1 either way). The only explicit repartition AQE leaves alone
    is round-robin ``repartition(n)`` — but round-robin scatters a
    group's rows.

    So: PACK each group to one row first (collect_list of the non-key
    columns — the packing aggregate is cheap and welcome to collapse
    to one partition), round-robin the one-row-per-group frame across
    defaultParallelism partitions (perfectly balanced, no hash
    collisions), and run the group function via mapInPandas, where
    each packed row IS a complete group — reconstructed into exactly
    the pandas frame applyInPandas would have delivered. ``run`` is
    unchanged caller code; it must not depend on intra-group row order
    (every caller sorts by its own time column).

    Measured: ml_champion 11.3 s → ~2 s at sf0.1 on local[32]."""
    import pandas as pd
    from pyspark.sql import functions as F

    others = [c for c in df.columns if c not in keys]
    packed = df.groupBy(*keys).agg(
        F.collect_list(F.struct(*others)).alias("_rows")
    )
    sc = df.sparkSession.sparkContext
    rep = packed.repartition(sc.defaultParallelism)

    def process(batches):
        for pdf in batches:
            for _, row in pdf.iterrows():
                g = pd.DataFrame([dict(r) for r in row["_rows"]])
                for k in keys:
                    g[k] = row[k]
                yield run(g)

    return rep.mapInPandas(process, schema)


def spread_scan(df):
    """Degenerate-layout guard for compute-heavy scans: the synthetic
    documents/embeddings parquet arrives as ONE row group, so a scan
    yields one split and everything up to the first shuffle (per-pair
    cosine scoring, per-doc simhash folds) runs as a single task on a
    32-core machine. Repartition round-robin to the default parallelism
    — but ONLY when the scan yields fewer splits than cores: a real
    100 TB corpus arrives in thousands of row-group splits and must NOT
    pay a full-corpus shuffle here (this guard is then a no-op)."""
    sc = df.sparkSession.sparkContext
    n = sc.defaultParallelism
    if df.rdd.getNumPartitions() < min(n, 8):
        return df.repartition(n)
    return df
