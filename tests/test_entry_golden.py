"""Golden snapshot of the flagship entry() query — the driver's smoke
check pinned to exact values so a regression in the relational spine
(scan → filter → join → agg → sort) is caught before the driver sees it.
"""

from __future__ import annotations

import json
import os

import __spark_entry__ as entry_mod

GOLDEN = os.path.join(os.path.dirname(__file__), "golden_entry.json")


def _snapshot(spark):
    rows = entry_mod.entry(spark).collect()
    return [
        {k: (v if not hasattr(v, "isoformat") else v.isoformat()) for k, v in r.asDict().items()}
        for r in rows
    ]


def test_entry_matches_golden(spark):
    got = _snapshot(spark)
    assert len(got) > 0
    if not os.path.exists(GOLDEN):  # first run records the snapshot
        with open(GOLDEN, "w") as f:
            json.dump(got, f, indent=1, sort_keys=True)
    with open(GOLDEN) as f:
        expected = json.load(f)
    assert got == expected
