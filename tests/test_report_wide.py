"""Differential test of ``plans.report.wide_report`` against a
pure-Python restatement of the report semantics (A8/F7):

- one column per slowstart level, holding the 2-dp rounded cell;
- ``best_slowstart`` = argmin/argmax over the ROUNDED cells of every
  slowstart of the dataset, levels or not, ties comma-joined ascending;
- a dataset with no non-null cell (or a null dataset key) has no best
  and is dropped; the 'N/A' form keeps every dataset.

The seeded long frames carry ties that only exist after rounding
(``1.0`` vs ``1.004``), null cells, an all-null dataset, an off-level
slowstart (``0.3``), datasets with missing levels and a null dataset
key, in shuffled row order so that tie order is not input order.
"""

from __future__ import annotations

import random
from decimal import ROUND_HALF_UP, Decimal

import pytest

from mapreduce511_spark.plans.report import SLOWSTART_LEVELS, wide_report

LEVEL_COLS = [str(lvl) for lvl in SLOWSTART_LEVELS]
SCHEMA = "dataset string, slowstart double, total_s double"
SEEDS = (3, 17, 2024)


def _round2(x: float | None) -> float | None:
    """Spark's ``round(x, 2)``: HALF_UP on the double's decimal form."""
    if x is None:
        return None
    return float(Decimal(repr(x)).quantize(Decimal("0.01"), rounding=ROUND_HALF_UP))


def _long_rows(seed: int) -> list[tuple]:
    rng = random.Random(seed)
    rows = []
    for i in range(12):
        ds = f"{(i + 1) * 100}MB"
        cells = [
            (ds, lvl, None if rng.random() < 0.15 else round(rng.uniform(1.0, 4.0), 3))
            for lvl in SLOWSTART_LEVELS
            if rng.random() < 0.8
        ]
        present = [v for _, _, v in cells if v is not None]
        if present and rng.random() < 0.5:
            # an off-level cell 0.004 above the lowest: mostly a 2-dp tie
            cells.append((ds, 0.3, min(present) + 0.004))
        rows += cells
    rows += [
        ("1G", 0.5, 1.0), ("1G", 1.0, 1.004), ("1G", 0.2, 9.0), ("1G", 0.8, 0.996),
        ("2G", 0.2, None), ("2G", 0.5, None),  # all-null dataset
        ("5G", 0.3, 2.0), ("5G", 0.5, 2.001), ("5G", 0.8, 7.5),  # off-level 0.3
        ("9G", 0.3, 4.25),  # only an off-level cell
        (None, 0.5, 1.0),  # null dataset key
    ]
    rng.shuffle(rows)
    return rows


def _expected(rows: list[tuple], direction: str | None) -> list[tuple]:
    by_ds: dict = {}
    for ds, ss, v in rows:
        by_ds.setdefault(ds, []).append((ss, _round2(v)))
    out = []
    for ds, cells in by_ds.items():
        wide = [next((v for ss, v in cells if ss == lvl), None) for lvl in SLOWSTART_LEVELS]
        if direction is None:
            out.append((ds, *wide, "N/A"))
            continue
        vals = [v for _, v in cells if v is not None]
        if ds is None or not vals:
            continue
        best = min(vals) if direction == "min" else max(vals)
        ties = sorted(ss for ss, v in cells if v == best)
        out.append((ds, *wide, ",".join(str(ss) for ss in ties)))
    return out


def _sort_key(row: tuple) -> tuple:
    return (row[0] is not None, row[0] or "")


@pytest.mark.parametrize("seed", SEEDS)
@pytest.mark.parametrize("direction", ["min", "max", None])
def test_wide_report_matches_python_restatement(spark, seed, direction):
    rows = _long_rows(seed)
    got = wide_report(spark.createDataFrame(rows, SCHEMA), "total_s", direction)

    assert got.columns == ["dataset", *LEVEL_COLS, "best_slowstart"]
    assert [(f.name, f.dataType.simpleString()) for f in got.schema] == [
        ("dataset", "string"),
        *((c, "double") for c in LEVEL_COLS),
        ("best_slowstart", "string"),
    ]
    assert not got.schema["best_slowstart"].nullable
    assert all(got.schema[c].nullable for c in LEVEL_COLS)

    want = sorted(_expected(rows, direction), key=_sort_key)
    assert sorted((tuple(r) for r in got.collect()), key=_sort_key) == want


def test_restatement_exercises_the_edge_cases():
    """Guards the generator: every edge case the differential test
    claims to cover is present in each seeded frame."""
    for seed in SEEDS:
        rows = _long_rows(seed)
        keys = {(ds, ss) for ds, ss, _ in rows}
        got = {r[0]: r for r in _expected(rows, "min")}
        assert got["1G"][-1] == "0.5,0.8,1.0"  # 2-dp ties, ascending
        assert "2G" not in got  # all-null dataset dropped
        assert got["5G"][-1] == "0.3,0.5"  # off-level slowstart competes
        assert got["9G"][1:] == (None, None, None, None, "0.3")
        assert None not in got
        assert any((ds, lvl) not in keys for ds in got for lvl in SLOWSTART_LEVELS)
        assert any(v is None and ds != "2G" for ds, _, v in rows)  # null cells
