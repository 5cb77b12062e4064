"""Physical-plan regression tests for the round-7 session-2 operators:
the scale properties each docstring promises are asserted against the
actual plan, so a refactor that silently reintroduces a corpus-wide
single-partition window, a second corpus scan, or a real cartesian
product fails CI.
"""

from __future__ import annotations

import pytest

from sdg_data_catalog_spark.plans import inspect as P
from sdg_data_catalog_spark.queries.registry import all_queries


@pytest.fixture(scope="module")
def r7_plans(module_spark, sf_dir):
    qs = all_queries()
    return {
        name: P.formatted_plan(qs[name](module_spark, sf_dir))
        for name in (
            "text_gopher_rules",
            "curation_domain_mix",
            "ml_split_stump",
            "join_point_in_polygon",
            "agg_welch_ttest",
            "agg_diff_in_diff",
            "dq_benford_digits",
            "win_event_sequence",
        )
    }


def test_gopher_rules_is_one_scan_map_side(r7_plans):
    """The rule battery must stay a single documents scan feeding a
    hash aggregate — no joins, no windows, no Python."""
    plan = r7_plans["text_gopher_rules"]
    assert plan.count("documents.parquet") == 1
    assert "WindowExec" not in plan and "Window " not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "HashAggregate" in plan


def test_domain_mix_broadcasts_the_total(r7_plans):
    """The 1-row total joins back via broadcast, never a shuffled join."""
    plan = r7_plans["curation_domain_mix"]
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_split_stump_is_one_events_scan(r7_plans):
    """All 45 thresholds score from ONE conditionally-aggregated pass —
    the broadcast grid must not multiply scans. The scored table is
    localCheckpointed (45 rows, two consumers), so the visible plan
    starts at the checkpoint RDD; the invariant here is that NOTHING
    rescans events downstream and no cartesian product appears."""
    plan = r7_plans["ml_split_stump"]
    assert plan.count("events.parquet") == 0  # behind the checkpoint
    assert "Scan ExistingRDD" in plan
    assert "CartesianProduct" not in plan


def test_point_in_polygon_broadcasts_edges(r7_plans):
    """The edge table is broadcast; the corpus side never shuffles
    before the parity aggregate's partial phase."""
    plan = r7_plans["join_point_in_polygon"]
    assert plan.count("customer.parquet") == 1
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_welch_and_did_single_scan_with_broadcast_total(r7_plans):
    """Complement/effect moments come from the broadcast total, not a
    second scan of events."""
    for name in ("agg_welch_ttest", "agg_diff_in_diff"):
        plan = r7_plans[name]
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, name


def test_benford_windows_only_on_tiny_grid(r7_plans):
    """The per-(type, digit) census is checkpointed once; its three
    consumers (types grid, join, totals) must NOT rescan events — the
    corpus appears at most once in the plan (zero when fully behind the
    checkpoint)."""
    plan = r7_plans["dq_benford_digits"]
    assert plan.count("events.parquet") == 0
    assert "Scan ExistingRDD" in plan


def test_event_sequence_single_window_pass(r7_plans):
    """Pattern detection is LEADs over ONE per-user window — exactly one
    events scan, no self-joins."""
    plan = r7_plans["win_event_sequence"]
    assert plan.count("events.parquet") == 1
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
