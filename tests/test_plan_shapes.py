"""Physical-plan shape invariants for every driver query.

These are the properties that make the engine viable at 100 TB; a code
change that silently breaks one (e.g. predicate pushdown cloning the
parse UDF into a filter — caught live in round 2) would keep every
correctness test green while doubling the dominant cost. Locking the
plan shape here makes that class of regression a test failure.
"""

from __future__ import annotations

import pytest

SF_DIR = "/root/testdata/sf0.001"

FORBIDDEN = ("CartesianProduct", "BroadcastNestedLoopJoin")


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def query_plans(spark):
    import __spark_entry__ as E

    return {
        name: _plan(fn(spark, SF_DIR)) for name, fn in E.queries().items()
    }


def test_at_most_one_python_stage_per_query(query_plans):
    """The parse is the only Python stage and must be planned ONCE —
    two ArrowEvalPython/MapInArrow nodes means the optimizer cloned the
    UDF (the filter+project pushdown bug) and every line parses twice."""
    bad = {
        name: (p.count("ArrowEvalPython"), p.count("MapInArrow"),
               p.count("MapInPandas"))
        for name, p in query_plans.items()
        if p.count("ArrowEvalPython") > 1
        or p.count("MapInArrow") > 1
        or p.count("MapInPandas") > 1
    }
    assert not bad, f"queries planning >1 Python stage: {bad}"


def test_format_cascade_is_one_scalar_arrow_udf(query_plans):
    """The multi-format cascade runs as one scalar Arrow UDF over the
    line column (passthrough columns stay JVM-side), not a
    ``mapInArrow`` that ships every column through Python."""
    p = query_plans["matched_format_counts_multi"]
    assert p.count("ArrowEvalPython") == 1, p
    assert "MapInArrow" not in p, p


def test_no_cartesian_or_nested_loop_joins(query_plans):
    bad = {
        name: [f for f in FORBIDDEN if f in p]
        for name, p in query_plans.items()
        if any(f in p for f in FORBIDDEN)
    }
    assert not bad, f"queries with unbounded join strategies: {bad}"


def test_enrichment_is_broadcast_only(query_plans):
    """The three dim joins must be BroadcastHashJoins — a shuffle of the
    fact side here would be the dominant cost at scale."""
    p = query_plans["enriched_counts"]
    assert p.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in p


def test_lsh_pair_join_is_bucket_keyed(query_plans):
    """The LSH self-join must key on (band_id, band_hash) — the plan
    must contain a hash exchange on those keys and no cross product."""
    p = query_plans["lsh_pairs"]
    assert "band_hash" in p
    assert not any(f in p for f in FORBIDDEN)
