"""Storage layer (reference core/storage.py re-expressed Spark-first):
partitioned parquet hub with merge-upsert, partition-pruned reads,
the nested series mart, JSON/Excel sinks, and guarded store cleanup.

Key scalability inversion vs the reference: the reference rewrites the
ENTIRE hub on every upload (core/storage.py:94-130 full-load → concat
→ rewrite — its documented cliff). Here the merge-upsert reads in full
only the partition directories it rewrites (the batch's months and the
months that hold one of its claim ids), named by a small driver-side
manifest, and the write pins dynamic partition overwrite at the write site so
untouched (year, month) directories are never rewritten — on ANY
session. Every hub write leaves one file per (year, month) directory.

The series mart reads the hub in one scan and builds every document in
three aggregations (cell → child → parent), zero-filling the month
spine with higher-order functions (HOF) and writing the documents
distributed — never a driver-side per-group loop. Its incremental
refresh decides on the driver, from two small collects, whether the
spine grew (rebuild everything) or only the touched series change.
"""

from __future__ import annotations

import shutil
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from claim_analysis_engine_spark.config import PARTITION_COLS
from claim_analysis_engine_spark.tables import pinned_conf

HUB_PARTITIONS = list(PARTITION_COLS)

_OVERWRITE_MODE_KEY = "spark.sql.sources.partitionOverwriteMode"
_AQE_KEY = "spark.sql.adaptive.enabled"
_NULL_PARTITION = "__HIVE_DEFAULT_PARTITION__"


def _collect_small(df: DataFrame) -> list:
    """Collect a driver-decision frame as ONE Spark job. Adaptive
    execution would submit every shuffle stage as a job of its own; on
    frames this small (1-row or keys × months) that per-job launch cost
    is all the collect costs."""
    with pinned_conf(df.sparkSession, _AQE_KEY, "false"):
        # bounded: callers pass 1-row or keys × months aggregates
        return df.collect()


# ------------------------------------------------------------------ hub

def write_hub(df: DataFrame, hub_path: str) -> None:
    """Partitioned hub write → <hub>/reception_year=YYYY/reception_month=MM/
    (reference ds.write_dataset with DirectoryPartitioning,
    core/storage.py:47-69), one file per directory. Dynamic partition
    overwrite is pinned at the write site, so only partitions present
    in ``df`` are replaced regardless of how the caller's session was
    configured.

    The rows are re-clustered on the partition keys first: straight
    from any other shuffle, EVERY task holds rows of EVERY (year,
    month) and the sink writes tasks × dirs files (the small-file
    explosion snk_compaction exists to clean up). One exchange makes
    each directory the product of exactly one task. (AQE may coalesce
    the exchange when volumes are small; coalesced buckets keep whole
    (year, month) groups together, so the one-file-per-dir property
    survives.)"""
    with pinned_conf(df.sparkSession, _OVERWRITE_MODE_KEY, "dynamic"):
        df.repartition(*HUB_PARTITIONS).write.partitionBy(*HUB_PARTITIONS).mode(
            "overwrite"
        ).parquet(hub_path)


def _partition_dir(hub_path: str, key: tuple) -> Path:
    """The directory of one (year, month) hub partition; a null key is
    Hive's default partition name, as the partitioned writer spells it."""
    return Path(hub_path).joinpath(*(
        f"{c}={_NULL_PARTITION if v is None else v}" for c, v in zip(HUB_PARTITIONS, key)
    ))


def read_hub(
    spark: SparkSession,
    hub_path: str,
    year: int | None = None,
    month: int | None = None,
) -> DataFrame:
    """Hub read with optional partition pruning (reference filtered
    dataset scan, core/storage.py:171-193) — filters on the partition
    columns prune directories before any file is opened."""
    df = spark.read.parquet(hub_path)
    if year is not None:
        df = df.where(F.col("reception_year") == year)
    if month is not None:
        df = df.where(F.col("reception_month") == month)
    return df


def merge_upsert(
    spark: SparkSession, hub_path: str, new_batch: DataFrame, load_seq: str = "load_seq"
) -> None:
    """Hub merge-upsert with keep-last semantics (reference
    core/storage.py:94-130): every claim_id ends up in exactly one hub
    row, the one with the highest ``load_seq`` (the new batch must
    carry a higher seq than stored rows), while only the partitions
    that can change are read and rewritten.

    A small manifest, collected on the driver, names those partitions:
    the batch's own (year, month) keys plus every partition now holding
    one of its claim ids (a claim_id-only scan of the hub, so a claim
    that moved month leaves its old partition, and null keys match as
    Hive's default partition). Only their directories are read in
    full, by path; the union is deduped per claim_id and written back
    through ``write_hub``. A read partition that keeps no row is
    deleted, since a dynamic overwrite only replaces partitions it
    writes. Pass a materialized batch (``etl.preprocess`` returns one):
    the manifest and the merge both read it."""
    merged, dirs = new_batch, []
    if Path(hub_path).exists():
        hub = spark.read.parquet(hub_path)
        held = hub.select("claim_id", *HUB_PARTITIONS).join(
            F.broadcast(new_batch.select("claim_id")), "claim_id", "left_semi"
        )
        manifest = new_batch.select(*HUB_PARTITIONS).union(held.select(*HUB_PARTITIONS))
        dirs = [_partition_dir(hub_path, tuple(r)) for r in _collect_small(manifest.distinct())]
        dirs = [d for d in dirs if d.exists()]
        if dirs:
            # an explicit schema keeps the partition types of the whole
            # hub (a null-key directory alone would infer them as void)
            existing = spark.read.schema(hub.schema).option("basePath", hub_path).parquet(
                *map(str, dirs)
            )
            merged = existing.unionByName(new_batch, allowMissingColumns=True)
    w = W.partitionBy("claim_id").orderBy(F.col(load_seq).desc())
    deduped = (
        merged.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )
    read = {d: list(d.glob("*.parquet")) for d in dirs}
    write_hub(deduped, hub_path)
    # the overwrite replaced the files of every partition it wrote; a
    # read partition whose files are all still there kept no row
    for d, files in read.items():
        if files and all(f.exists() for f in files):
            shutil.rmtree(d)


def available_periods(spark: SparkSession, hub_path: str) -> DataFrame:
    """(year, month, n_rows) inventory (reference get_available_periods
    + footer counts, core/storage.py:218-262) — a metadata-only
    aggregate over partition columns."""
    return (
        spark.read.parquet(hub_path)
        .groupBy(*HUB_PARTITIONS)
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .orderBy(*HUB_PARTITIONS)
    )


# ---------------------------------------------------------- series mart

def sanitize_filename(col: F.Column) -> F.Column:
    """Reference _sanitize_filename (core/storage.py:465-469)."""
    return F.regexp_replace(col, r'[\\/:\*\?"<>\|]', "-")


def _month_range(lo: str | None, hi: str | None) -> list[str]:
    """Every "yyyy-MM" month from ``lo`` to ``hi``; empty when unbounded."""
    if lo is None or hi is None:
        return []
    first, last = (int(b[:4]) * 12 + int(b[5:7]) - 1 for b in (lo, hi))
    return [f"{i // 12:04d}-{i % 12 + 1:02d}" for i in range(first, last + 1)]


def build_series_mart(
    claims: DataFrame,
    as_of: str,
    plant_col: str = "plant",
    cat2_col: str = "product_category2",
    major_col: str = "major_category",
    middle_col: str = "middle_category",
    date_col: str = "reception_date",
    spine_bounds: tuple[str, str] | None = None,
) -> DataFrame:
    """Nested monthly series documents, one row per (plant, cat2,
    major) — the reference's generate_nested_series
    (core/storage.py:504-653) as one scan and three aggregations:
    (plant, cat2, major, middle, month) cells; children, whose
    month→cell maps are zero-filled over the spine array with
    higher-order functions (HOF), with no spine join and no window; and
    parents, whose arrays and lag sums are the element-wise sums of
    their children's — exact, since every term is an integer count.

    * month spine = global min..max month of the dataset (zero-fill
      substrate, core/storage.py:472-483), one 1-row collect unless
      ``spine_bounds`` ("yyyy-MM", "yyyy-MM") injects it;
    * history counts ALL rows; stats (mean, ddof-1 std, last-3-month
      slope) count only Lag_Valid rows (core/storage.py:557-573). The
      slope's x values are consecutive, so its least-squares value is
      (y[n] - y[n-2]) / 2, or y[n] - y[n-1] when n = 2;
    * avg_lag_days = mean of valid lag days rounded to 1dp;
    * a null middle category counts toward its parent but forms no
      child; a parent without a child, or with a null key, has no doc;
    * `last_updated` is the injected ``as_of`` (never datetime.now()).

    Stats are rounded to 6dp at build time so doc round-trips are
    value-stable. Output schema: key, meta{...}, data{history[],
    forecast[]}, children[] — exactly the reference JSON shape.
    """
    base = claims.select(
        F.col(plant_col).alias("plant"),
        F.col(cat2_col).alias("cat2"),
        F.col(major_col).alias("major"),
        F.col(middle_col).alias("middle"),
        F.date_format(F.col(date_col), "yyyy-MM").alias("month"),
        F.col("lag_days"),
        F.col("lag_valid"),
    ).where(F.col("month").isNotNull())
    if spine_bounds is None:
        spine_bounds = _collect_small(base.agg(F.min("month"), F.max("month")))[0]
    spine = _month_range(*spine_bounds)
    n = len(spine)
    months = F.array(*map(F.lit, spine)).cast("array<string>")
    pkeys = ["plant", "cat2", "major"]
    valid = F.col("lag_valid")

    # 1. cells: one row per (series key, middle, month)
    cells = (
        base.dropna(subset=pkeys)
        .groupBy(*pkeys, "middle", "month")
        .agg(
            F.count(F.lit(1)).alias("n_all"),
            F.count(F.when(valid, 1)).alias("n_valid"),
            F.sum(F.when(valid, F.col("lag_days"))).alias("lag_sum"),
            F.count(F.when(valid, F.col("lag_days"))).alias("lag_n"),
        )
    )
    # 2. children: each month→cell map zero-filled over the spine
    by_month = F.map_from_entries(F.collect_list(F.struct("month", F.struct("n_all", "n_valid"))))
    child = (
        cells.groupBy(*pkeys, "middle")
        .agg(by_month.alias("cells"), F.sum("lag_sum").alias("lag_sum"),
             F.sum("lag_n").alias("lag_n"))
        .withColumns({
            f: F.transform(months, lambda m: F.coalesce(F.col("cells")[m][f], F.lit(0)))
            for f in ("n_all", "n_valid")
        })
    )

    # history and stats of one series, from its zero-filled n_all and
    # n_valid arrays and its lag sum and count: the same expressions
    # build each child (inside the parent aggregation) and each parent
    y = F.col("n_valid")
    mean = F.aggregate(y, F.lit(0).cast("long"), lambda a, v: a + v) / max(n, 1)  # n=0: no rows
    sq = F.aggregate(y, F.lit(0.0), lambda a, v: a + (v - mean) * (v - mean))
    k = min(n, 3)  # the slope's window: the spine's last k months
    slope = (F.element_at(y, -1) - F.element_at(y, -k)) / (k - 1) if k >= 2 else F.lit(0.0)
    avg_lag = F.when(F.col("lag_n") > 0, F.col("lag_sum") / F.col("lag_n"))
    stats = F.struct(
        F.round(mean, 6).alias("mean"),
        (F.round(F.sqrt(sq / (n - 1)), 6) if n >= 2 else F.lit(0.0)).alias("std"),
        F.round(slope, 6).alias("slope"),
        F.round(F.coalesce(avg_lag, F.lit(0.0)), 1).alias("avg_lag_days"),
    )
    history = F.zip_with(
        months, F.col("n_all"), lambda m, c: F.struct(m.alias("date"), c.alias("count"))
    )

    # 3. parents: element-wise sums of their children's arrays
    zeros = F.array_repeat(F.lit(0).cast("long"), n)

    def summed(col: str) -> F.Column:
        return F.aggregate(
            F.collect_list(col), zeros, lambda acc, a: F.zip_with(acc, a, lambda x, v: x + v)
        ).alias(col)

    kid = F.struct(
        F.col("middle").alias("sub_key"), stats.alias("stats"), history.alias("history")
    )
    parent = (
        child.groupBy(*pkeys)
        .agg(
            # collect_list skips nulls: a null middle category forms no child
            F.array_sort(F.collect_list(F.when(F.col("middle").isNotNull(), kid)))
            .alias("children"),
            summed("n_all"),
            summed("n_valid"),
            F.sum("lag_sum").alias("lag_sum"),
            F.sum("lag_n").alias("lag_n"),
        )
        .where(F.size("children") > 0)
    )
    return parent.select(
        F.concat_ws("_", *pkeys).alias("key"),
        F.struct(
            F.lit(as_of).alias("last_updated"),
            F.lit(0).alias("warning_level"),
            F.lit(None).cast("string").alias("champion_model"),
            stats.alias("parent_stats"),
        ).alias("meta"),
        F.struct(
            history.alias("history"),
            F.array().cast("array<struct<date:string,count:long>>").alias("forecast"),
        ).alias("data"),
        F.col("children"),
    )


def refresh_series_incremental(
    claims: DataFrame, batch: DataFrame, as_of: str, **mart_kwargs
) -> DataFrame:
    """Incremental series-mart refresh (the reference's designed-but-
    unimplemented P6 item, docs/project_master.md:24): rebuild ONLY the
    (plant, cat2, major) groups the new batch touches, instead of all
    4,774 documents on every upload.

    ``claims`` is the full post-merge hub frame; ``batch`` the newly
    ingested rows. The decision runs on the driver from two small
    collects, one Spark job each: the batch's (month, plant, cat2,
    major) counts, which evaluate the batch once, and the hub's
    per-month counts. Both branches zero-fill over the FULL hub's month
    range (``spine_bounds``), so a partial rebuild equals a full one
    for the touched groups. When the upload EXTENDS that range, every
    untouched document's spine changes too, so every document is
    rebuilt. The test is exact: a hub boundary month is new iff it
    consists solely of batch rows. Otherwise the touched keys broadcast
    into a left-semi join, so the build reads only affected groups'
    rows — at 100 TB an upload touching 3 plants recomputes 3 plants.
    """
    keys = [
        mart_kwargs.get("plant_col", "plant"),
        mart_kwargs.get("cat2_col", "product_category2"),
        mart_kwargs.get("major_col", "major_category"),
    ]
    month = F.date_format(F.col(mart_kwargs.get("date_col", "reception_date")), "yyyy-MM")
    new = _collect_small(batch.groupBy(month.alias("m"), *keys).count())
    hub = {m: c for m, c in _collect_small(claims.groupBy(month.alias("m")).count()) if m}
    added: dict[str, int] = {}
    for r in new:
        added[r.m] = added.get(r.m, 0) + r["count"]
    bounds = (min(hub), max(hub)) if hub else (None, None)
    kept = [m for m, c in hub.items() if c > added.get(m, 0)]
    if not kept or (min(kept), max(kept)) != bounds:
        # a boundary month exists only because of this batch: the spine
        # grew, every document's history array changes — full rebuild
        return build_series_mart(claims, as_of, spine_bounds=bounds, **mart_kwargs)

    touched = claims.sparkSession.createDataFrame(
        list({tuple(r[k] for k in keys) for r in new}), batch.select(*keys).schema
    )
    affected = claims.join(F.broadcast(touched), keys, "left_semi")
    return build_series_mart(affected, as_of, spine_bounds=bounds, **mart_kwargs)


def write_series_docs(docs: DataFrame, out_dir: str) -> None:
    """Series-mart sink: one JSON document per line, written
    distributed (reference writes 4,774 files in a driver loop,
    core/storage.py:642-650 — a scale anti-pattern replaced here by a
    parallel JSON write)."""
    docs.write.mode("overwrite").json(out_dir)


# ------------------------------------------------------------- cleanup

def util_clear(path: str, *, confirm: bool = False) -> bool:
    """Guarded recursive store delete (reference clear_all_data,
    core/storage.py:274-293): refuses without confirm=True, refuses
    obviously-wrong targets (root/short paths)."""
    p = Path(path).resolve()
    if not confirm:
        return False
    if len(p.parts) < 3:
        raise ValueError(f"refusing to delete suspicious path {p}")
    if p.exists():
        shutil.rmtree(p)
        return True
    return False


# ------------------------------------------------------------- excel

# Minimal dependency-free xlsx support: an .xlsx file is a zip of XML
# parts; a single sheet with inline strings needs four fixed parts plus
# the sheet. Enough for the reference's ingestion (core/etl.py:39-40)
# and download-card export (app.py:509-516) surfaces — both small,
# driver-side datasets. This is the only Excel path: every cell lands
# as a string, and the canonical layer types it (same contract as CSV).

_XLSX_STATIC = {
    "[Content_Types].xml": (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
        '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
        '<Default Extension="xml" ContentType="application/xml"/>'
        '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
        '<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
        "</Types>"
    ),
    "_rels/.rels": (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>'
        "</Relationships>"
    ),
    "xl/workbook.xml": (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
        'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
        '<sheets><sheet name="Sheet1" sheetId="1" r:id="rId1"/></sheets></workbook>'
    ),
    "xl/_rels/workbook.xml.rels": (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>'
        "</Relationships>"
    ),
}


def xlsx_write_rows(path: str, header: list[str], rows: list[tuple]) -> None:
    """Write a single-sheet .xlsx with inline strings (stdlib only)."""
    import xml.sax.saxutils as sx
    import zipfile

    def row_xml(cells) -> str:
        return (
            "<row>"
            + "".join(
                f'<c t="inlineStr"><is><t>{sx.escape("" if v is None else str(v))}</t></is></c>'
                for v in cells
            )
            + "</row>"
        )

    sheet = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
        "<sheetData>"
        + row_xml(header)
        + "".join(row_xml(r) for r in rows)
        + "</sheetData></worksheet>"
    )
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        for name, content in _XLSX_STATIC.items():
            z.writestr(name, content)
        z.writestr("xl/worksheets/sheet1.xml", sheet)


def _xlsx_col(ref: str) -> int:
    """0-based column index of a cell reference ("C2" -> 2, "AB7" -> 27)."""
    col = 0
    for ch in ref:
        if not ch.isalpha():
            break
        col = col * 26 + ord(ch.upper()) - 64
    return col - 1


def xlsx_read_rows(path: str) -> tuple[list[str], list[tuple]]:
    """Read the first sheet of an .xlsx (inline or shared strings).

    Excel omits empty cells and skipped rows, and marks each written cell
    with its reference (``r="C2"``). A cell lands in the column its
    reference names (a cell without one follows the previous cell), and
    every data row is padded to the header's width with None. A skipped
    row yields no tuple. An empty header cell is named ``Unnamed: <i>``,
    as pandas names it."""
    import xml.etree.ElementTree as ET
    import zipfile

    ns = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
    with zipfile.ZipFile(path) as z:
        shared: list[str] = []
        if "xl/sharedStrings.xml" in z.namelist():
            root = ET.fromstring(z.read("xl/sharedStrings.xml"))
            shared = ["".join(t.text or "" for t in si.iter(f"{ns}t")) for si in root]
        sheet = ET.fromstring(z.read("xl/worksheets/sheet1.xml"))
        out: list[list] = []
        for row in sheet.iter(f"{ns}row"):
            cells: list = []
            for c in row.iter(f"{ns}c"):
                ref = c.get("r")
                col = _xlsx_col(ref) if ref else len(cells)
                if c.get("t") == "inlineStr":
                    value = "".join(t.text or "" for t in c.iter(f"{ns}t"))
                elif c.get("t") == "s":
                    v = c.find(f"{ns}v")
                    value = shared[int(v.text)] if v is not None else ""
                else:
                    v = c.find(f"{ns}v")
                    value = v.text if v is not None else None
                cells.extend([None] * (col + 1 - len(cells)))
                cells[col] = value
            out.append(cells)
    if not out:
        return [], []
    header = [f"Unnamed: {i}" if h is None else str(h) for i, h in enumerate(out[0])]
    rows = []
    for cells in out[1:]:
        if len(cells) > len(header):
            raise ValueError(
                f"{path}: a data cell lies right of the header's "
                f"{len(header)} columns"
            )
        rows.append(tuple(cells + [None] * (len(header) - len(cells))))
    return header, rows


def read_excel(spark: SparkSession, path: str) -> DataFrame:
    """Excel source (reference pd.read_excel, core/etl.py:39-40) via
    the built-in xlsx reader above. All columns land as strings — the
    canonical layer types them (same contract as CSV)."""
    header, rows = xlsx_read_rows(path)
    return spark.createDataFrame(rows, schema=", ".join(f"`{h}` string" for h in header))


def write_excel(df: DataFrame, path: str) -> None:
    """Excel export (reference app.py:509-516 download cards):
    driver-side, small result sets only — the reference exports
    filtered alert cards, never raw facts."""
    # bounded: panel-sized export frames only (see docstring)
    rows = [tuple(r) for r in df.collect()]
    xlsx_write_rows(path, list(df.columns), rows)
