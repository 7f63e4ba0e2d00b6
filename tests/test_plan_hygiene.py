"""Global plan-hygiene sweep: no driver-facing query may plan a
CartesianProduct. Every 1-row crossJoin in the repo carries a broadcast
hint (BroadcastNestedLoopJoin of big × 1 — fine); an unhinted cartesian is
always a bug at scale, and this sweep catches one introduced ANYWHERE in
the 50-query registry or the parity extras, not just where a local test
thought to assert.

Physical planning only (queryExecution().executedPlan()) — jobs don't run,
except the driver-side collects some operators legitimately perform during
construction (centroid samples, graph fixpoints), which sf0.001 keeps cheap.
"""

from __future__ import annotations

import pytest

from conftest import SF001 as SF_DIR


def _pairs():
    import __spark_entry__ as e

    from schemamap_spark.suite.extra import EXTRA_SPARK_QUERIES

    qs = {**e.queries(), **EXTRA_SPARK_QUERIES}
    return sorted(qs.items())


@pytest.mark.parametrize("name,fn", _pairs(), ids=[n for n, _ in _pairs()])
def test_no_cartesian_product(spark, name, fn):
    from schemamap_spark.suite.llm import GoldenScaleMismatch

    try:
        df = fn(spark, SF_DIR)
    except GoldenScaleMismatch:
        pytest.skip("sf0.01-pinned golden query")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, f"{name} plans a CartesianProduct:\n{plan}"
