"""The benchmark's own test: its inputs depend on the seed and nothing else.

    python3 -m pytest claimbench/test_gen.py -q
"""

from __future__ import annotations

import sys
from collections import Counter
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import gen  # noqa: E402


def claim_files(seed: int) -> list[bytes]:
    plan = gen.ClaimPlan(seed, n_series=60)
    return [u.csv_bytes() for u in [plan.base(), *plan.uploads(4)]]


def table_files(seed: int, d: Path) -> list[bytes]:
    d.mkdir()
    tables = gen.tpch_tables(seed, 0.001)
    batch = gen.append_batch(seed, 0, tables, 0.001, 10)
    out = []
    for name, table in [*tables.items(), *((f"append_{k}", v) for k, v in batch.items())]:
        gen.write_parquet(table, str(d / f"{name}.parquet"))
        out.append((d / f"{name}.parquet").read_bytes())
    return out


def test_same_seed_gives_identical_bytes(tmp_path):
    assert claim_files(7) == claim_files(7)
    assert table_files(7, tmp_path / "a") == table_files(7, tmp_path / "b")


def test_another_seed_changes_every_input(tmp_path):
    a, b = claim_files(7), claim_files(8)
    assert all(x != y for x, y in zip(a, b))
    ta, tb = table_files(7, tmp_path / "a"), table_files(8, tmp_path / "b")
    changed = [x != y for x, y in zip(ta, tb)]
    assert changed[gen.TABLE_NAMES.index("orders")] and changed[gen.TABLE_NAMES.index("lineitem")]
    assert changed[-2:] == [True, True]  # the appended orders and lineitems


def test_claims_carry_the_planted_defects():
    plan = gen.ClaimPlan(3, n_series=200)
    base = plan.base()
    ups = plan.uploads(4)
    assert [u.kind for u in ups] == ["new_month", "correction"] * 2
    assert base.csv_bytes().decode("utf-8").split("\n", 1)[0].split(",") == list(gen.KOREAN_HEADERS)
    rows = base.rows
    cid, mfg = gen._COL["상담번호"], gen._COL["제조일자"]
    ids = Counter(r[cid] for r in rows)
    assert 0.01 < ids[""] / len(rows) < 0.03  # ~2% null claim ids
    dups = sum(n - 1 for k, n in ids.items() if k)
    assert 0.03 < dups / len(rows) < 0.07  # ~5% duplicate rows
    texts = [r[mfg] for r in rows]
    assert any("/" in t for t in texts) and any("." in t for t in texts)
    assert any(t in gen.GARBAGE_DATES for t in texts)
    y, m, d = gen._COL["제조-년"], gen._COL["제조-월"], gen._COL["제조-일"]
    ry, rm, rd = gen._COL["접수년"], gen._COL["접수월"], gen._COL["접수일"]
    assert any(
        (int(r[y]), int(r[m]), int(r[d])) > (int(r[ry]), int(r[rm]), int(r[rd])) for r in rows
    )
    assert {s.kind for s in plan.series} == {"dense", "sparse", "cold"}
    # a correction is one plant's re-upload of a month already in the hub
    fixed = {r[cid] for r in ups[1].rows if r[cid]}
    assert fixed & set(ids)
    assert len({r[gen._COL["플랜트"]] for r in ups[1].rows}) == 1
