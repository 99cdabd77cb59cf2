"""upload_cycle: the user's write path, one upload at a time.

Set-up writes the seeded base history (36 months) into a partitioned
hub. The timed uploads come in pairs: a new month, then a correction of
a month already in the hub. Each upload runs

    spark.read.csv -> etl.canonicalize -> etl.preprocess
    -> storage.merge_upsert
    -> storage.refresh_series_incremental + storage.write_series_docs
    -> risk_engine.score_series on every refreshed series document

and a new month then forecasts a seeded sample of the refreshed series
(one per core: dense, sparse and short) through ``tables.fanout_apply``
and ``forecast_models.forecast_with_champion``. A new month grows the
month spine, so the mart is rebuilt in full; a correction takes the
incremental path. Each upload writes its documents into a new mart
generation directory; a reader takes a key from the newest generation
holding it, and a generation holding every key makes the older ones
obsolete.

Checks, outside the timed region:
* after every upload, the hub holds exactly the generated non-null
  claim ids, each in its last uploaded version and with that upload's
  ``load_seq``; every written document was scored, and each score,
  status and reason equals ``score_series`` rerun in the Spark driver
  process;
* after a new month, one seeded series of the forecast sample, rerun
  through ``forecast_with_champion`` in the Spark driver process, gives
  the same champion, parameters, RMSE and forecast;
* after each pair, one full ``build_series_mart`` over the hub: the
  correction's documents equal it, and so do the new month's documents
  for every key the correction did not write; every series an upload
  touched was written (every series, for a new month).
"""

from __future__ import annotations

import json
import math
import os
import random
import shutil
import sys
import traceback
from dataclasses import dataclass
from pathlib import Path

import duckdb
import numpy as np
from pyspark.sql import functions as F

import gen
from claim_analysis_engine_spark import etl, storage
from claim_analysis_engine_spark.forecast_models import forecast_with_champion
from claim_analysis_engine_spark.risk_engine import score_series
from claim_analysis_engine_spark.tables import fanout_apply
from spans import median

N_SERIES = 600
N_UPLOADS = 8
AS_OF = "2026-01-31"
DOC_SCHEMA = "key string, data struct<history:array<struct<date:string,count:bigint>>>"
SCORE_SCHEMA = "key string, score int, status string, reason string"
FORECAST_STEPS = 3
FORECAST_SCHEMA = (
    "key string, champion string, params string, forecast array<double>, "
    "rmse double, fit_s double"
)
C_ID, C_RESULT = gen._COL["상담번호"], gen._COL["분석결과"]
C_PLANT, C_CAT2, C_MAJOR = gen._COL["플랜트"], gen._COL["제품범주2"], gen._COL["대분류"]


@dataclass(frozen=True)
class Sent:
    """What the checks need of one uploaded file, kept instead of its rows."""

    seq: int
    kind: str
    path: Path
    rows: int
    claims: list[tuple[str, str]]  # (claim_id, 분석결과) of rows with an id, in file order
    keys: frozenset[str]  # series keys of those rows


def ingest(bench, spark, path: Path, seq: int):
    """CSV file -> canonical 54 -> preprocessed batch (lazy)."""
    tr = bench.tracer
    with tr.span("io.read_csv"):
        raw = (
            spark.read.option("header", True).option("escape", '"').csv(str(path))
            .withColumn("load_seq", F.lit(seq))
        )
    with tr.span("etl.canonicalize"):
        canon = etl.canonicalize(raw, keep=("load_seq",))
    with tr.span("etl.preprocess"):
        return etl.preprocess(canon, load_seq="load_seq")


def score_docs(spark, doc_dir: Path) -> list:
    """risk_engine.score_series over every document in ``doc_dir``, in
    Spark's Python workers; returns the collected scores."""
    from pyspark.sql import functions as F

    def score(batches):
        import pandas as pd

        from claim_analysis_engine_spark.risk_engine import score_series

        for pdf in batches:
            rows = []
            for key, hist in zip(pdf["key"], pdf["history"]):
                values = [h["count"] for h in hist]
                months = [int(h["date"][5:7]) for h in hist]
                r = score_series(values, months)
                rows.append((key, r["score"], r["status"], r["reason"]))
            yield pd.DataFrame(rows, columns=["key", "score", "status", "reason"])

    docs = spark.read.schema(DOC_SCHEMA).json(str(doc_dir))
    return docs.select("key", F.col("data.history").alias("history")).mapInPandas(
        score, SCORE_SCHEMA
    ).collect()


def score_ok(doc: dict, row) -> bool:
    """``score_series`` rerun in the Spark driver process agrees with a worker's score row."""
    hist = doc["data"]["history"]
    r = score_series([h["count"] for h in hist], [int(h["date"][5:7]) for h in hist])
    return (r["score"], r["status"], r["reason"]) == (row.score, row.status, row.reason)


def files_of(root: Path) -> dict[str, tuple[int, int]]:
    out = {}
    for dirpath, _, names in os.walk(root):
        for n in names:
            p = os.path.join(dirpath, n)
            st = os.stat(p)
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def read_docs(doc_dir: Path) -> dict[str, dict]:
    docs = {}
    for p in sorted(doc_dir.glob("part-*")):
        for line in p.read_text(encoding="utf-8").splitlines():
            d = json.loads(line)
            docs[d["key"]] = d
    return docs


def series_key(row: list[str]) -> str:
    return "_".join((row[C_PLANT], row[C_CAT2], row[C_MAJOR]))


def forecast_input(doc: dict) -> list[float]:
    """A document's monthly counts from its first non-zero month on (a
    cold-start series is short)."""
    counts = [h["count"] for h in doc["data"]["history"]]
    first = next((i for i, c in enumerate(counts) if c), len(counts) - 1)
    return [float(c) for c in counts[first:]]


def forecast_sample(docs: dict[str, dict], rng: random.Random, k: int) -> list[str]:
    """k keys: half dense (mean >= 1), then sparse, then short (< 12
    months since the first claim), seeded."""
    kinds = {"dense": [], "sparse": [], "short": []}
    for key in sorted(docs):
        y = forecast_input(docs[key])
        kind = "short" if len(y) < 12 else "dense" if sum(y) / len(y) >= 1 else "sparse"
        kinds[kind].append(key)
    want = [("dense", max(1, k // 2)), ("sparse", max(1, k // 4)), ("short", k)]
    out: list[str] = []
    for kind, n in want:
        pool = [x for x in kinds[kind] if x not in out]
        out += rng.sample(pool, min(n, len(pool), k - len(out)))
    return out


def forecast(bench, spark, docs: dict[str, dict], keys: list[str]) -> list:
    """Champion selection and forecasting for ``keys`` in Spark's Python
    workers, one group per series through ``tables.fanout_apply``."""
    rows = [(k, i, n) for k in keys for i, n in enumerate(forecast_input(docs[k]))]
    df = spark.createDataFrame(rows, "key string, idx int, n double")

    def fit(pdf):
        import json as _json
        import time as _time

        import pandas as pd

        from claim_analysis_engine_spark.forecast_models import forecast_with_champion

        g = pdf.sort_values("idx")
        t0 = _time.perf_counter()
        name, params, fc, rmse = forecast_with_champion(g["n"].to_numpy(), FORECAST_STEPS)
        return pd.DataFrame([{
            "key": g["key"].iloc[0], "champion": name,
            "params": _json.dumps(params, sort_keys=True),
            "forecast": [float(x) for x in fc], "rmse": float(rmse),
            "fit_s": _time.perf_counter() - t0,
        }])

    with bench.tracer.span("tables.fanout_apply"):
        return fanout_apply(df, ["key"], fit, FORECAST_SCHEMA).collect()


def forecast_ok(docs: dict[str, dict], key: str, row) -> bool:
    name, params, fc, rmse = forecast_with_champion(
        np.asarray(forecast_input(docs[key])), FORECAST_STEPS
    )
    same_rmse = (math.isinf(rmse) and math.isinf(row.rmse)) or math.isclose(
        rmse, row.rmse, rel_tol=1e-9, abs_tol=1e-12
    )
    return (
        name == row.champion
        and json.dumps(params, sort_keys=True) == row.params
        and same_rmse
        and np.allclose(fc, row.forecast, rtol=1e-9, atol=1e-12)
    )


def prepare(bench) -> tuple[Sent, list[Sent]]:
    """Write the seeded base history and uploads as CSV files; keep only
    what the checks need of their rows."""
    plan = gen.ClaimPlan(bench.seed, n_series=N_SERIES)
    inputs = bench.work / "inputs"
    inputs.mkdir(parents=True)
    sent = []
    for up in [plan.base(), *plan.uploads(N_UPLOADS)]:
        path = inputs / f"upload{up.seq:03d}.csv"
        path.write_bytes(up.csv_bytes())
        with_id = [r for r in up.rows if r[C_ID].strip()]
        sent.append(Sent(up.seq, up.kind, path, len(up.rows),
                         [(r[C_ID].strip(), r[C_RESULT]) for r in with_id],
                         frozenset(series_key(r) for r in with_id)))
    bench.log("inputs generated")
    return sent[0], sent[1:]


def build(bench, spark, d: Path) -> tuple[Path, Path]:
    """The starting state: the base history written into a new hub, and
    one Python worker per core started with the engine's scoring and
    forecasting modules imported, as a running session has them (Spark
    reuses its Python workers), so the timed uploads find them started."""
    base = bench.work / "inputs" / "upload000.csv"
    storage.write_hub(ingest(bench, spark, base, 0), str(d / "hub"))

    def load(batches):
        import claim_analysis_engine_spark.forecast_models  # noqa: F401
        import claim_analysis_engine_spark.risk_engine  # noqa: F401

        yield from batches

    spark.range(bench.cores, numPartitions=bench.cores).mapInPandas(load, "id long").collect()
    return d / "hub", d / "mart"


def run(bench, inputs: tuple[Sent, list[Sent]], state: tuple[Path, Path]) -> int:
    """Run the workload on ``bench``; returns the claim rows uploaded."""
    base, uploads = inputs
    hub, mart = state
    spark = bench.spark
    tr = bench.tracer
    rng = random.Random(f"{bench.seed}/forecast")

    expected: dict[str, tuple[int, str]] = {cid: (0, ar) for cid, ar in base.claims}
    input_bytes = base.path.stat().st_size
    rows_in = 0
    stats = {k: [] for k in ("parts", "bytes", "share", "scored", "fit_sum", "fit_max",
                             "busy", "inf")}
    refresh_by_kind: dict[str, list[float]] = {"new_month": [], "correction": []}
    con = duckdb.connect()
    pending: list = []  # (record, upload, written docs) awaiting the pair's mart check

    for i, up in enumerate(uploads):
        if i and i % 2 == 0 and bench.done():
            break
        gen_dir = mart / f"g{up.seq:03d}"
        before = files_of(hub)
        scores = refresh = fanout = fc_rows = None
        with bench.op("upload", kind=up.kind) as rec:
            try:
                batch = ingest(bench, spark, up.path, up.seq)
                with tr.span("storage.merge_upsert"):
                    storage.merge_upsert(spark, str(hub), batch)
                with tr.span("storage.mart_refresh") as refresh:
                    docs = storage.refresh_series_incremental(
                        storage.read_hub(spark, str(hub)), batch, AS_OF
                    )
                    storage.write_series_docs(docs, str(gen_dir))
                with tr.span("risk_engine.score"):
                    scores = score_docs(spark, gen_dir)
                if up.kind == "new_month":
                    with tr.span("forecast") as fanout:
                        written = read_docs(gen_dir)
                        keys = forecast_sample(written, rng, bench.cores)
                        fc_rows = forecast(bench, spark, written, keys)
            except Exception:  # noqa: BLE001 -- a failed upload is counted, the run goes on
                traceback.print_exc(file=sys.stderr)
        if refresh is not None:
            refresh_by_kind[up.kind].append(refresh.seconds)
        rows_in += up.rows
        input_bytes += up.path.stat().st_size
        expected.update((cid, (up.seq, ar)) for cid, ar in up.claims)
        if scores is None or (up.kind == "new_month" and fc_rows is None):
            for rec_p, *_ in pending:  # its pair cannot be checked: both count failed
                rec_p["ok"] = False
            pending.clear()
            continue

        # ---- checks (untimed)
        after = files_of(hub)
        changed = {p for p, v in after.items() if before.get(p) != v}
        stats["parts"].append(len({os.path.dirname(p) for p in changed if p.endswith(".parquet")}))
        stats["bytes"].append(
            sum(after[p][0] for p in changed) + sum(v[0] for v in files_of(gen_dir).values())
        )
        hub_rows = con.execute(
            "SELECT claim_id, load_seq, analysis_result FROM read_parquet(?, hive_partitioning=true)",
            [str(hub / "*" / "*" / "*.parquet")],
        ).fetchall()
        ids = {cid for cid, _, _ in hub_rows}
        hub_ok = len(ids) == len(hub_rows) == len(expected) and all(
            expected.get(cid) == (seq, ar) for cid, seq, ar in hub_rows
        )
        written = read_docs(gen_dir)
        by_key = {s.key: s for s in scores}
        scores_ok = (len(scores) == len(by_key) and by_key.keys() == written.keys()
                     and all(score_ok(written[k], by_key[k]) for k in written))
        fc_ok = True
        if fc_rows is not None:
            by_key = {r.key: r for r in fc_rows}
            probe = rng.choice(sorted(keys))
            fc_ok = sorted(by_key) == sorted(keys) and forecast_ok(written, probe, by_key[probe])
            fits = [r.fit_s for r in fc_rows]
            stats["fit_sum"].append(sum(fits))
            stats["fit_max"].append(max(fits))
            stats["inf"].append(sum(1 for r in fc_rows if not math.isfinite(r.rmse)))
            if fanout is not None:
                span = next(s for s in bench.tracer.children(fanout) if s.name == "tables.fanout_apply")
                stats["busy"].append(sum(fits) / (span.seconds * bench.cores))
        stats["scored"].append(len(scores))
        rec["ok"] = hub_ok and scores_ok and fc_ok
        if not rec["ok"]:
            print(f"upload {up.seq} ({up.kind}) failed its checks: hub={hub_ok} "
                  f"scores={scores_ok} forecast={fc_ok}", file=sys.stderr)
        pending.append((rec, up, written))
        if up.kind == "new_month":
            continue
        # The mart is checked once per pair, against one full build over
        # the hub after the correction: the correction's documents, and
        # the new month's documents for every key the correction did
        # not write (the new month wrote every key that existed then).
        full = {}
        for line in storage.build_series_mart(storage.read_hub(spark, str(hub)), AS_OF).toJSON().collect():
            d = json.loads(line)
            full[d["key"]] = d
        for rec_p, up_p, written_p in pending:
            if up_p.kind == "new_month":
                need = set(full) - set(written)  # the correction may add a series
                compared = {k: d for k, d in written_p.items() if k not in written}
            else:
                need = up_p.keys & set(full)
                compared = written_p
            wrong = sorted(k for k, d in compared.items() if full.get(k) != d)
            mart_ok = need <= set(written_p) and not wrong
            rec_p["ok"] = rec_p["ok"] and mart_ok
            if up_p.kind == "correction":  # a new month always writes the full mart
                stats["share"].append(len(written_p) / max(len(full), 1))
            if not mart_ok:
                print(f"upload {up_p.seq} ({up_p.kind}) failed its mart check: "
                      f"{len(need - set(written_p))} touched series not written, "
                      f"{len(wrong)} documents differ from a full build", file=sys.stderr)
                for k in wrong[:2]:
                    print(f"  {k}\n    written: {json.dumps(compared[k])[:600]}\n"
                          f"    full:    {json.dumps(full.get(k))[:600]}", file=sys.stderr)
        pending.clear()
        for old in mart.iterdir():  # the last full generation supersedes older ones
            if old.name < f"g{up.seq - 1:03d}":
                shutil.rmtree(old)
        bench.log(f"uploads {up.seq - 1}-{up.seq} checked")

    store = sum(v[0] for v in files_of(hub).values()) + sum(v[0] for v in files_of(mart).values())
    L = bench.layer
    span_s = lambda name: median(s.seconds for s in bench.spans_named(name))  # noqa: E731
    L["io.read_csv_s"] = span_s("io.read_csv")
    L["etl.canonicalize_s"] = span_s("etl.canonicalize")
    L["etl.preprocess_s"] = span_s("etl.preprocess")
    L["storage.merge_upsert_s"] = span_s("storage.merge_upsert")
    L["storage.merge_upsert_jobs"] = median(s.jobs for s in bench.spans_named("storage.merge_upsert"))
    L["storage.mart_refresh_s"] = span_s("storage.mart_refresh")
    L["storage.mart_refresh_new_month_s"] = median(refresh_by_kind["new_month"])
    L["storage.mart_refresh_correction_s"] = median(refresh_by_kind["correction"])
    L["storage.partitions_rewritten"] = median(stats["parts"])
    L["storage.bytes_written"] = median(stats["bytes"])
    L["storage.hub_files"] = sum(1 for p in files_of(hub) if p.endswith(".parquet"))
    L["storage.mart_docs_written_share"] = median(stats["share"])
    L["storage.store_bytes_per_input_byte"] = store / input_bytes
    L["risk_engine.score_s"] = span_s("risk_engine.score")
    L["risk_engine.series_scored"] = median(stats["scored"])
    L["forecast_models.fit_s_sum"] = median(stats["fit_sum"])
    L["forecast_models.fit_s_max"] = median(stats["fit_max"])
    L["forecast_models.inf_rmse_families"] = sum(stats["inf"])
    L["tables.fanout_apply_s"] = span_s("tables.fanout_apply")
    L["tables.fanout_busy_share"] = median(stats["busy"])
    return rows_in
