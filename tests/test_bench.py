"""bench.py's final stdout line: the only line the driver parses, read
from a 2000-char tail capture."""

from __future__ import annotations

import json

import bench


def test_compact_val_stays_within_five_chars():
    for v in (0.004, 99.994, 99.996, 999.94, 999.95, 999.96, 1000.4, 99999.4):
        assert len(json.dumps(bench._compact_val(v))) <= 5, v
    assert bench._compact_val(999.95) == 1000


def test_final_line_fits_tail_capture_at_worst_case():
    worst = 99999.4  # widest value _compact_val keeps at 5 chars
    times = {k: worst for k in bench.BENCH_EXTRAS}
    line = bench._final_line(times, worst, worst, [99.999, 99.999], 0.001)
    assert len(line) <= 2000
    out = json.loads(line)
    assert out["value"] == out["tpch_full_22_total"] == 99999
    assert sorted(out["queries"]) == sorted(bench.BENCH_EXTRAS)
