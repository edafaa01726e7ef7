"""Full physical-plan sweep as a pytest.

``pytest -m plan_audit`` explains EVERY registered query at the test
fixture scale (``explain_audit.sweep``: each built alone after
``clearCache()``) and asserts two things: the audit (exchange budgets,
text-payload shuffles, unpartitioned windows, cartesian products,
row-at-a-time UDFs, codegen presence) flags nothing, and every live
row equals its committed row in PLANS.md, so a plan change cannot land
without its record. Excluded from the default run by pytest.ini
addopts — the sweep builds ~196 plans (~1 min at 4 cores).
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "scripts"))

from explain_audit import committed_rows, plan_row, sweep  # noqa: E402

from pyanamo_spark.registry import QUERIES  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def live(spark):
    return sweep(spark, SF_DIR, sorted(QUERIES))


@pytest.mark.plan_audit
def test_every_declared_plan_passes_the_audit(live):
    flagged = {name: flags for name, (flags, _, _) in live.items() if flags}
    assert not flagged, f"{len(flagged)} plans flagged: {flagged}"


@pytest.mark.plan_audit
def test_every_plan_matches_its_committed_row(live):
    rows = {name: plan_row(name, *row) for name, row in live.items()}
    committed = committed_rows()
    stale = sorted(
        n for n in rows.keys() | committed.keys() if rows.get(n) != committed.get(n)
    )
    assert not stale, (
        f"{len(stale)} plan rows differ from PLANS.md: {stale} — rerun "
        f"`python scripts/explain_audit.py` and commit PLANS.md"
    )
