"""Catalog-wide plan-shape invariants (tools/plan_lint.py): no query may
plan a CartesianProduct, use BroadcastNestedLoopJoin without a documented
bounded build side, or cross into Python without a justified Arrow
kernel.  This is the mechanized version of the per-query scale audit —
a new query that silently plans a pairwise blowup fails here, not in a
100 TB run."""

from __future__ import annotations

import sys

sys.path.insert(0, "/root/repo")

from tools.plan_lint import audit  # noqa: E402

SF = "/root/testdata/sf0.01"


def test_catalog_plan_invariants(spark):
    report, problems = audit(spark, SF)
    assert len(report) >= 119  # every registered query built a plan
    assert not problems, "\n".join(problems)
    # the committed audit artifact must stay in sync with the catalog
    import json

    with open("/root/repo/PLANAUDIT.json") as f:
        committed = json.load(f)
    assert set(committed) == set(report), (
        "PLANAUDIT.json stale — rerun tools/plan_lint.py"
    )


def test_allowlists_name_known_queries():
    """Every plan-lint allowlist entry must name a registered or staged
    draft query; an entry for a deleted query is a stale exemption
    waiting to be reused by an unrelated plan of the same name."""
    import importlib

    from pedri_analysis_spark.plans import registry
    from tests.conftest import STAGED_DRAFT_MODULES
    from tools.plan_lint import _BNLJ_ALLOWED, _EAGER_EXECUTING, _PYTHON_ALLOWED

    known = set(registry.all_queries())
    for mod in STAGED_DRAFT_MODULES:
        known |= set(
            importlib.import_module(f"pedri_analysis_spark.plans.{mod}").QUERIES
        )
    stale = {
        label: sorted(allowed - known)
        for label, allowed in (
            ("_BNLJ_ALLOWED", _BNLJ_ALLOWED),
            ("_PYTHON_ALLOWED", _PYTHON_ALLOWED),
            ("_EAGER_EXECUTING", _EAGER_EXECUTING),
        )
        if allowed - known
    }
    assert not stale, f"allowlist entries naming no known query: {stale}"
