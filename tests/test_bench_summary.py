"""bench.py stdout contract: the one JSON line the driver parses.

The driver keeps only a 2000-byte tail of bench stdout and diffs
successive rounds' inline `queries` maps — a name that vanishes is
reported as a dropped query (PERF_r12.json recorded 181 of them when
the inline map was the per-run top-15). These tests pin the r13 fix:
every historically-parsed name is emitted unconditionally, the line
always fits the tail capture, and hard failures cannot crash the
summary into printing nothing.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import bench


def _fake_timings(n: int = 196) -> dict[str, float]:
    # all pinned names plus filler queries, deterministic times
    names = list(bench._PINNED_SUMMARY) + [
        f"q_filler_{i:03d}" for i in range(n - len(bench._PINNED_SUMMARY))
    ]
    return {name: 0.05 + (i * 7919 % 400) / 100 for i, name in enumerate(names)}


def test_every_pinned_name_always_emitted():
    timings = _fake_timings()
    line = bench.summary_line(timings, 123.4, 0.1, "f.json", {}, {})
    queries = json.loads(line)["queries"]
    missing = [k for k in bench._PINNED_SUMMARY if k not in queries]
    assert missing == [], f"pinned names dropped from the line: {missing}"


def test_line_fits_driver_tail_capture():
    timings = _fake_timings()
    line = bench.summary_line(timings, 123.4, 0.1, "f.json", {}, {})
    assert len(line) <= bench._SUMMARY_BUDGET <= 1990
    parsed = json.loads(line)
    assert parsed["value"] == 123.4
    assert parsed["n_queries"] == len(timings)
    # budget is topped up beyond the pinned set with the slowest rest
    assert len(parsed["queries"]) > len(bench._PINNED_SUMMARY)
    inline = set(parsed["queries"])
    excluded_max = max(
        v for k, v in timings.items() if k not in inline
    )
    included_extra_min = min(
        v for k, v in timings.items()
        if k in inline and k not in bench._PINNED_SUMMARY
    )
    assert included_extra_min >= excluded_max, (
        "top-up must take the slowest remaining queries first"
    )


def test_slow_host_timings_keep_every_pinned_name_within_budget():
    # 10x the timings (sf1, or a slow host) lengthens every inline
    # value; only top-up names may give way
    timings = {k: 10 * v for k, v in _fake_timings().items()}
    line = bench.summary_line(timings, 1234.5, 1.0, "f.json", {}, {})
    assert len(line) <= bench._SUMMARY_BUDGET
    queries = json.loads(line)["queries"]
    assert set(bench._PINNED_SUMMARY) <= set(queries)
    assert all(v == round(v, 2) for v in queries.values())


def test_hard_failures_truncate_instead_of_crashing():
    timings = _fake_timings()
    errors = {f"q_fail_{i}": "X" * 200 for i in range(12)}
    line = bench.summary_line(timings, 9.9, 0.01, "f.json", errors, {})
    assert len(line) <= bench._SUMMARY_BUDGET
    parsed = json.loads(line)
    assert set(parsed["errors"]) == set(errors)
    assert all(len(v) <= 60 for v in parsed["errors"].values())


def test_pinned_set_matches_every_driver_parsed_record():
    # the historical driver records are committed; the pinned set must
    # cover every name any of them ever parsed inline
    repo = Path(__file__).resolve().parent.parent
    seen: set[str] = set()
    for p in sorted(repo.glob("BENCH_r[0-9][0-9].json")):
        rec = json.loads(p.read_text())
        parsed = rec.get("parsed") or {}
        seen |= set(parsed.get("queries") or {})
    assert seen <= set(bench._PINNED_SUMMARY), (
        f"driver-parsed names missing from _PINNED_SUMMARY: "
        f"{sorted(seen - set(bench._PINNED_SUMMARY))}"
    )
