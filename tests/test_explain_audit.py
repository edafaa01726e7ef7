"""Unit tests for the plan-audit checks themselves (scripts/
explain_audit.py) on synthetic formatted plans: the audit must flag a
deliberately-broken plan and pass the healthy shapes, or a silent
auditor regression would let real plan regressions through unflagged."""

from __future__ import annotations

import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "scripts"))

from explain_audit import (  # noqa: E402
    audit_plan,
    count_exchanges,
    plan_fingerprint,
    text_hash_exchanges,
)

#: a candidate join that drags the raw text column through a
#: hash-partitioned exchange — the 100 TB killer the payload check
#: exists to catch
_LEAKY = """\
* Project (5)
+- * SortMergeJoin Inner (4)
   :- Exchange (2)
   :  +- Scan parquet (1)
   +- Exchange (3)

(2) Exchange
Input [3]: [doc_id#1L, band_hash#7L, text#2]
Arguments: hashpartitioning(band_hash#7L, 32), ENSURE_REQUIREMENTS, [plan_id=5]

(3) Exchange
Input [2]: [doc_id#9L, band_hash#8L]
Arguments: hashpartitioning(band_hash#8L, 32), ENSURE_REQUIREMENTS, [plan_id=6]
"""

#: the healthy form of the same join: digests/ids only through the
#: hash exchanges; full text rides a round-robin rebalance (spread)
_CLEAN = """\
* Project (5)
+- * SortMergeJoin Inner (4)
   :- Exchange (2)
   :  +- Exchange (1)
   +- Exchange (3)

(1) Exchange
Input [2]: [doc_id#1L, text#2]
Arguments: RoundRobinPartitioning(32), REPARTITION_BY_NUM, [plan_id=4]

(2) Exchange
Input [2]: [doc_id#1L, band_hash#7L]
Arguments: hashpartitioning(band_hash#7L, 32), ENSURE_REQUIREMENTS, [plan_id=5]

(3) Exchange
Input [2]: [doc_id#9L, band_hash#8L]
Arguments: hashpartitioning(band_hash#8L, 32), ENSURE_REQUIREMENTS, [plan_id=6]
"""

#: text hash-shuffled INSIDE a cached subtree: charged to the cache
#: build (audited where the cache is built), not to every consumer
_CACHED = """\
* Project (6)
+- InMemoryTableScan (1)
      +- InMemoryRelation (2)
            +- * Sort (5)
               +- Exchange (4)
                  +- Scan parquet (3)

(4) Exchange
Input [2]: [doc_id#1L, text#2]
Arguments: hashpartitioning(doc_id#1L, 32), ENSURE_REQUIREMENTS, [plan_id=9]
"""


def test_payload_check_flags_text_through_hash_exchange():
    assert text_hash_exchanges(_LEAKY) == [2]
    flags = audit_plan("q_synthetic", _LEAKY)
    assert any("raw text hash-shuffled" in f for f in flags), flags


def test_payload_check_passes_digest_only_and_roundrobin_text():
    assert text_hash_exchanges(_CLEAN) == []
    assert not any(
        "raw text" in f for f in audit_plan("q_synthetic", _CLEAN)
    )


def test_payload_check_skips_cached_lineage():
    assert text_hash_exchanges(_CACHED) == []


def test_exchange_counter_still_counts_live_nodes():
    # the counter tallies tree + detail mentions (the historical
    # budget calibration): 2 live exchanges print 4 mentions; the
    # cached fixture's exchange is inside the InMemoryRelation span
    assert count_exchanges(_LEAKY) == 4
    assert count_exchanges(_CACHED) == 0


def test_no_similar_column_false_positive():
    plan = _LEAKY.replace("text#2", "subtext#2").replace(
        ", text#", ", context#"
    )
    assert text_hash_exchanges(plan) == []


def test_fingerprint_ignores_ids_and_sees_an_added_exchange():
    ops, digest = plan_fingerprint(_CLEAN)
    assert ops == "Exchange×3,Project×1,SortMergeJoin Inner×1", ops
    assert len(digest) == 12
    # renumbered nodes and expression ids: the same plan shape
    renumbered = re.sub(
        r"\((\d+)\)", lambda m: f"({int(m.group(1)) + 40})", _CLEAN
    )
    renumbered = re.sub(r"#(\d+)", lambda m: f"#{int(m.group(1)) + 7}", renumbered)
    assert renumbered != _CLEAN
    assert plan_fingerprint(renumbered) == (ops, digest)
    # one more Exchange line in the tree is a different plan
    grown = _CLEAN.replace(
        "   +- Exchange (3)\n", "   +- Exchange (3)\n      +- Exchange (6)\n"
    )
    assert grown != _CLEAN
    assert plan_fingerprint(grown)[1] != digest
