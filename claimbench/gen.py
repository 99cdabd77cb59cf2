"""Seeded inputs for the claim-pipeline benchmark.

This module imports numpy, pyarrow and the standard library only, never
the engine: the program under test receives nothing but the files
written here. The same seed gives byte-identical files; a different
seed gives different ones (``test_gen.py`` checks both).

Two families of inputs:

* claim uploads -- CSV files with the 54 canonical columns under their
  Korean headers (FIXTURES.md F2): ~5% exact duplicate rows, ~2% null
  ``claim_id``, the three manufacture-date formats plus garbage, rows
  manufactured after reception, and dense, sparse and cold-start
  (plant, product_category2, major_category) series. ``ClaimPlan``
  yields a base history plus an alternating sequence of new-month
  uploads and corrections (one plant's re-upload of a month already
  loaded).
* TPC-H-shaped tables (customer, orders, lineitem) for the dashboard
  operators, plus append batches of new orders and their lineitems.
"""

from __future__ import annotations

import calendar
import csv
import datetime as dt
import io
import random
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The 54 canonical claim fields, Korean header per field, in declaration
# order (FIXTURES.md F2). Spelled out here rather than imported so the
# generator shares no code with the program it feeds.
KOREAN_HEADERS = (
    "접수년", "접수월", "접수일", "접수경로", "사업부문", "상담번호",
    "제품명", "제품코드", "제품군", "제품범주1", "제품범주2", "제품범주3",
    "제품구분1", "제품구분2", "제목", "요구사항", "분석결과", "등급기준",
    "불만원인", "대분류", "중분류", "소분류", "유통기한", "유통기한-년",
    "유통기한-월", "유통기한-일", "제조일자", "제조-년", "제조-월", "제조-일",
    "구입일자", "구입경로", "구입처", "플랜트", "개선부서명", "조치방법",
    "방문일자", "주소1", "성별", "연령", "총처리액", "보상액", "택배비용",
    "보상액(자소)", "기타비용", "LOT", "이물신고대상", "신고일자", "행정처분",
    "발생일자", "인체피해", "중대보고공유", "신속공유", "이물신고체크",
)
assert len(KOREAN_HEADERS) == 54 and len(set(KOREAN_HEADERS)) == 54
_COL = {h: i for i, h in enumerate(KOREAN_HEADERS)}

BASE_START = (2022, 1)  # first month of the pre-built hub
DATE_FORMATS = ("%Y/%m/%d", "%Y-%m-%d", "%Y.%m.%d")
GARBAGE_DATES = ("N/A", "2023-02-30", "20231301", "미상", "??")
GRADES = ("일반", "중대", "위험", "사고")
CAUSES = ("제조불만", "고객불만족", "구매불만", "유통불만", "기타")
UNITS = ("식품", "B2B식품", "외식", "수출")
CHANNELS = ("전화", "홈페이지", "이메일", "방문")

# Rates no source gives; each is an assumption, listed with its reason
# in README.md.
# Share of series per kind: most series are sparse, as the risk
# engine's sparse path expects; enough are dense for the trend and
# seasonal paths and cold for the cold-start path. The shares are exact
# for every seed (the seed only decides which series gets which kind),
# so a month's claim volume varies little from seed to seed.
SERIES_MIX = (("dense", 0.20), ("sparse", 0.65), ("cold", 0.15))
# Chance that a series of the re-uploading plant gains one late claim in
# the corrected month, so that a correction changes some counts.
LATE_CLAIM_CHANCE = 0.2


def month_of(index: int) -> tuple[int, int]:
    """(year, month) of the month ``index`` months after BASE_START."""
    y, m = BASE_START
    k = y * 12 + (m - 1) + index
    return k // 12, k % 12 + 1


@dataclass(frozen=True)
class Series:
    plant: str
    cat2: str
    major: str
    middles: tuple[str, ...]
    kind: str  # "dense" | "sparse" | "cold"
    rates: np.ndarray = field(compare=False, repr=False)  # per month index


@dataclass(frozen=True)
class Upload:
    seq: int  # load sequence; the base history is 0
    kind: str  # "base" | "new_month" | "correction"
    rows: list[list[str]] = field(repr=False)

    def csv_bytes(self) -> bytes:
        buf = io.StringIO()
        w = csv.writer(buf, lineterminator="\n")
        w.writerow(KOREAN_HEADERS)
        w.writerows(self.rows)
        return buf.getvalue().encode("utf-8")


class ClaimPlan:
    """The seeded claim universe and its upload sequence.

    ``n_series`` (plant, cat2, major) series over ``base_months`` months
    of history; ``uploads(k)`` yields k uploads after the base,
    alternating a new month (every plant's claims of the month after the
    newest; it extends the month spine) with a correction: one plant's
    re-upload of a month already in the hub, the way an upload batch
    touches one plant (SURVEY.md, ``ep5_alerts_incremental``). The
    re-uploaded file holds all of that plant's claims of the month, each
    with a new ``분석결과`` version, plus a few late claims.
    """

    def __init__(self, seed: int, n_series: int = 600, base_months: int = 36,
                 max_uploads: int = 64):
        self.seed = seed
        self.base_months = base_months
        self.horizon = base_months + max_uploads
        rng = np.random.default_rng([seed, 1])
        plants = [f"PLANT_{c}" for c in "ABCDEFGH"] + ["플랜트없음"]
        n_cat2 = max(4, int(np.ceil(np.sqrt(n_series / len(plants)) * 1.6)))
        n_major = n_cat2
        combos = [(p, c, m) for p in plants for c in range(n_cat2) for m in range(n_major)]
        pick = rng.choice(len(combos), size=min(n_series, len(combos)), replace=False)
        kinds = [k for k, share in SERIES_MIX[:-1] for _ in range(round(share * len(pick)))]
        kinds += [SERIES_MIX[-1][0]] * (len(pick) - len(kinds))
        rng.shuffle(kinds)
        self.series: list[Series] = []
        for j, ci in enumerate(sorted(pick.tolist())):
            p, c, m = combos[ci]
            kind = kinds[j]
            rates = np.zeros(self.horizon)
            if kind == "dense":
                start, rate = 0, rng.uniform(1.5, 5.0)
            elif kind == "sparse":
                start, rate = 0, rng.uniform(0.08, 0.8)
            else:  # cold start: appears in the last base months or later
                start = int(rng.integers(base_months - 2, base_months + 12))
                rate = rng.uniform(1.0, 3.0)
            rates[start:] = rate
            if kind == "dense" and j % 7 == 0:  # rising tail (Nelson trend rule)
                rates[base_months - 6: base_months] *= np.linspace(1.3, 3.0, 6)
            n_mid = int(rng.integers(1, 4))
            middles = tuple(f"MID_{m:02d}_{k}" for k in range(n_mid))
            self.series.append(
                Series(p, f"CAT2_{c:02d}", f"MAJ_{m:02d}", middles, kind, rates)
            )
        self._month_rows: dict[int, list[list[str]]] = {}

    # ------------------------------------------------------------ rows

    def _claim_row(self, rng: random.Random, s: Series, mi: int,
                   claim_id: str) -> list[str]:
        y, m = month_of(mi)
        day = rng.randint(1, calendar.monthrange(y, m)[1])
        recv = dt.date(y, m, day)
        serial = rng.randrange(10**6)
        row = [""] * 54

        def put(h: str, v) -> None:
            row[_COL[h]] = "" if v is None else str(v)

        put("접수년", y)
        put("접수월", m)
        put("접수일", day)
        put("접수경로", rng.choice(CHANNELS))
        put("사업부문", rng.choice(UNITS))
        put("상담번호", claim_id)
        prod = rng.randrange(400)
        put("제품명", f"PRODUCT_{prod:03d}")
        put("제품코드", None if rng.random() < 0.1 else 880000 + prod)
        put("제품군", f"GROUP_{prod % 9}")
        put("제품범주1", f"CAT1_{prod % 5}")
        put("제품범주2", s.cat2)
        put("제품범주3", f"CAT3_{prod % 11}")
        put("제품구분1", None if rng.random() < 0.5 else f"DIV1_{prod % 3}")
        put("제품구분2", None if rng.random() < 0.6 else f"DIV2_{prod % 4}")
        put("제목", f"title {serial % 997}")
        put("요구사항", None if rng.random() < 0.4 else "refund")
        put("분석결과", "v0")
        g = rng.random()
        put("등급기준", None if g < 0.05 else GRADES[0] if g < 0.85 else rng.choice(GRADES[1:]))
        put("불만원인", rng.choice(CAUSES))
        put("대분류", s.major)
        put("중분류", rng.choice(s.middles))
        put("소분류", f"MIN_{rng.randrange(6)}")
        # manufacture date: lag 0..300 days before reception, ~3% after it
        lag = rng.randrange(300) if rng.random() >= 0.03 else -rng.randint(1, 59)
        mfg = recv - dt.timedelta(days=lag)
        put("제조일자", self._date_text(rng, mfg))
        put("제조-년", mfg.year)
        put("제조-월", mfg.month)
        put("제조-일", mfg.day)
        exp = mfg + dt.timedelta(days=rng.randint(90, 719))
        put("유통기한", self._date_text(rng, exp))
        put("유통기한-년", exp.year)
        put("유통기한-월", exp.month)
        put("유통기한-일", exp.day)
        put("구입일자", None if rng.random() < 0.5 else (recv - dt.timedelta(days=3)).isoformat())
        put("구입경로", None if rng.random() < 0.5 else "mart")
        put("구입처", None if rng.random() < 0.6 else f"store {prod % 50}")
        put("플랜트", s.plant)
        put("개선부서명", None if rng.random() < 0.5 else "QA")
        put("조치방법", None if rng.random() < 0.5 else "exchange")
        put("주소1", None if rng.random() < 0.3 else f"city {prod % 17}")
        put("성별", rng.choice(("M", "F")))
        put("연령", rng.randint(18, 79))
        for h in ("총처리액", "보상액", "택배비용", "보상액(자소)", "기타비용"):
            put(h, None if rng.random() < 0.7 else round(rng.uniform(0, 50000), 2))
        put("LOT", f"LOT{mfg:%y%m%d}")
        return row

    @staticmethod
    def _date_text(rng: random.Random, d: dt.date) -> str | None:
        u = rng.random()
        if u < 0.05:
            return None
        if u < 0.10:
            return rng.choice(GARBAGE_DATES)
        return d.strftime(rng.choice(DATE_FORMATS))

    def _rows_for_month(self, mi: int) -> list[list[str]]:
        """All claims received in month ``mi`` (memoized: corrections
        re-upload earlier rows)."""
        if mi not in self._month_rows:
            counts = np.random.default_rng([self.seed, 2, mi]).poisson(
                [s.rates[mi] for s in self.series]
            )
            rng = random.Random(f"{self.seed}/month/{mi}")
            rows = []
            for s, n in zip(self.series, counts.tolist()):
                for _ in range(n):
                    rows.append(self._claim_row(rng, s, mi, f"CL{mi:03d}-{len(rows):06d}"))
            self._month_rows[mi] = rows
        return self._month_rows[mi]

    @staticmethod
    def _dirty(rng: random.Random, rows: list[list[str]]) -> list[list[str]]:
        """~2% of rows lose their claim_id; ~5% are duplicated verbatim
        at a random later position."""
        out = [list(r) for r in rows]
        for r in out:
            if rng.random() < 0.02:
                r[_COL["상담번호"]] = ""
        for i in sorted(rng.sample(range(len(out)), len(out) // 20), reverse=True):
            out.insert(rng.randint(i + 1, len(out)), list(out[i]))
        return out

    # --------------------------------------------------------- uploads

    def base(self) -> Upload:
        rng = random.Random(f"{self.seed}/base")
        rows = [r for mi in range(self.base_months) for r in self._rows_for_month(mi)]
        return Upload(0, "base", self._dirty(rng, rows))

    def uploads(self, k: int) -> list[Upload]:
        out = []
        for i in range(k):
            seq = i + 1
            rng = random.Random(f"{self.seed}/upload/{i}")
            if i % 2 == 0:
                mi = self.base_months + i // 2
                rows = self._rows_for_month(mi)
                out.append(Upload(seq, "new_month", self._dirty(rng, rows)))
                continue
            mi = rng.randrange(self.base_months)
            month = self._rows_for_month(mi)
            plant = rng.choice(sorted({r[_COL["플랜트"]] for r in month}))
            fixed = []
            for r in month:
                if r[_COL["플랜트"]] == plant:
                    r = list(r)
                    r[_COL["분석결과"]] = f"v{seq}"
                    fixed.append(r)
            late_rng = random.Random(f"{self.seed}/late/{i}")
            for s in self.series:
                if s.plant == plant and s.rates[mi] > 0 and late_rng.random() < LATE_CLAIM_CHANCE:
                    fixed.append(self._claim_row(
                        late_rng, s, mi, f"CL{mi:03d}-L{seq:03d}-{len(fixed):05d}"))
            out.append(Upload(seq, "correction", self._dirty(rng, fixed)))
        return out


# ------------------------------------------------------------ TPC-H shape

_EPOCH = dt.datetime(1970, 1, 1)
ORDER_LO = dt.datetime(1995, 1, 1)
ORDER_HI = dt.datetime(2001, 8, 1)
STATUSES = np.array(["P", "O", "F"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
RETURN_FLAGS = np.array(["A", "N", "R"])
LINE_STATUS = np.array(["O", "F"])
TABLE_NAMES = ("customer", "orders", "lineitem")


def _ts(values: np.ndarray) -> pa.Array:
    return pa.array(values.astype("int64"), type=pa.int64()).cast(pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def orders_count(sf: float) -> int:
    return max(int(150000 * sf), 200)


def tpch_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """customer, orders and lineitem at scale ``sf`` (orders =
    150,000·sf, lineitem = 600,000·sf rows), with the value domains of
    the repository's TPC-H-shaped test tables. The dashboard operators
    read only these three."""
    rng = np.random.default_rng([seed, 10])
    n_cust, n_ord = max(int(15000 * sf), 50), orders_count(sf)
    customer = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": SEGMENTS[rng.integers(0, 5, n_cust)],
    })
    lo_day, hi_day = (ORDER_LO - _EPOCH).days, (ORDER_HI - _EPOCH).days
    orders = _orders(rng, np.arange(n_ord), rng.integers(lo_day, hi_day + 1, n_ord), n_cust)
    lineitem = _lineitems(rng, rng.integers(0, n_ord, n_ord * 4), None, sf,
                          ship_lo=lo_day + 1, ship_hi=hi_day + 95)
    return {"customer": customer, "orders": orders, "lineitem": lineitem}


def _orders(rng, keys: np.ndarray, days: np.ndarray, n_cust: int) -> pa.Table:
    n = len(keys)
    return pa.table({
        "o_orderkey": pa.array(keys, pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n), pa.int64()),
        "o_orderstatus": STATUSES[rng.integers(0, 3, n)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n),
        "o_orderdate": _ts(days * 86_400_000_000),
        "o_orderpriority": PRIORITIES[rng.integers(0, 5, n)],
    })


def _lineitems(rng, orderkeys: np.ndarray, order_days, sf: float,
               ship_lo: int = 0, ship_hi: int = 0) -> pa.Table:
    n = len(orderkeys)
    n_part, n_supp = max(int(20000 * sf), 50), max(int(1000 * sf), 10)
    qty = rng.integers(1, 51, n).astype(float)
    if order_days is None:
        ship = rng.integers(ship_lo, ship_hi + 1, n)
    else:
        ship = order_days + rng.integers(1, 90, n)
    return pa.table({
        "l_orderkey": pa.array(orderkeys, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n), 2),
        "l_discount": np.round(rng.integers(0, 11, n) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, n) / 100, 2),
        "l_returnflag": RETURN_FLAGS[rng.integers(0, 3, n)],
        "l_linestatus": LINE_STATUS[rng.integers(0, 2, n)],
        "l_shipdate": _ts(ship * 86_400_000_000),
    })


def append_batch(seed: int, k: int, tables: dict[str, pa.Table], sf: float,
                 n: int) -> dict[str, pa.Table]:
    """The k-th append: ``n`` new orders, half dated in the month after
    the newest order and half late arrivals spread over the whole order
    history, each with 1-7 lineitems. Returns the new rows of ``orders``
    and ``lineitem`` only."""
    rng = np.random.default_rng([seed, 20, k])
    orders, n_cust = tables["orders"], tables["customer"].num_rows
    last_us = max(orders.column("o_orderdate").cast(pa.int64()).to_pylist())
    last = _EPOCH + dt.timedelta(microseconds=last_us)
    y, m = (last.year + last.month // 12, last.month % 12 + 1)
    first_day = (dt.datetime(y, m, 1) - _EPOCH).days
    n_days = calendar.monthrange(y, m)[1]
    start_key = max(orders.column("o_orderkey").to_pylist()) + 1
    keys = np.arange(start_key, start_key + n)
    lo_day = (ORDER_LO - _EPOCH).days
    days = np.where(
        rng.random(n) < 0.5,
        first_day + rng.integers(0, n_days, n),
        rng.integers(lo_day, first_day, n),
    )
    new_orders = _orders(rng, keys, days, n_cust)
    per = rng.integers(1, 8, n)
    lkeys = np.repeat(keys, per)
    ldays = np.repeat(days, per)
    new_lines = _lineitems(rng, lkeys, ldays, sf)
    return {"orders": new_orders, "lineitem": new_lines}


def write_parquet(table: pa.Table, path: str) -> None:
    """Deterministic single-file parquet write (same table, same bytes)."""
    pq.write_table(table, path, compression="snappy")
