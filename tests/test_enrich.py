"""Enrichment dims: inline relations broadcast without a Python task."""

from __future__ import annotations

import pytest

from logparser_spark.operators import enrich as E

DIMS = [
    (E.lang_dim, E.LANG_DIM, "lang STRING, lang_name STRING, lang_family STRING"),
    (E.tld_dim, E.TLD_DIM, "tld STRING, region STRING, is_cc BOOLEAN"),
    (E.status_dim, E.STATUS_DIM, "level STRING, severity INT, is_error BOOLEAN"),
]


@pytest.mark.parametrize("dim,rows,ddl", DIMS, ids=["lang", "tld", "status"])
def test_dim_is_a_local_relation(spark, dim, rows, ddl):
    """Each dim is a ``LocalRelation`` (no Python RDD behind it) with the
    names and types of its schema string, and holds exactly its rows."""
    from pyspark.sql.types import StructType

    df = dim(spark)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert "LocalRelation" in analyzed
    assert "LogicalRDD" not in analyzed and "ExistingRDD" not in analyzed
    want = StructType.fromDDL(ddl)
    assert [(f.name, f.dataType) for f in df.schema] == \
        [(f.name, f.dataType) for f in want]
    assert sorted(tuple(r) for r in df.collect()) == sorted(rows)


def test_sql_literal_round_trips_quotes(spark):
    """A quote or backslash in a dim value reads back unchanged."""
    got = E._inline_dim(spark, [("it's", "a\\b")], "a STRING, b STRING").collect()
    assert [tuple(r) for r in got] == [("it's", "a\\b")]


def _stage_rdd_graphs(spark, group: str) -> list[str]:
    """The RDD operation graph (as DOT text) of every stage of every job
    run under job group ``group``."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    graph = spark._jvm.org.apache.spark.ui.scope.RDDOperationGraph
    return [
        graph.makeDotFile(store.operationGraphForStage(sid))
        for jid in sc.statusTracker().getJobIdsForGroup(group)
        for sid in sc.statusTracker().getJobInfo(jid).stageIds
    ]


def test_enrich_all_runs_no_python_task(spark):
    """``enrich_all`` plus one action: three broadcast hash joins whose
    build sides are local table scans, and no job under the group runs a
    Python RDD (the dims used to be ``createDataFrame`` RDDs, one
    Python-task job per dim)."""
    fact = spark.sql(
        "SELECT * FROM VALUES "
        "('http://a.example.de/x', 'en', named_struct('Level', 'INFO')), "
        "('http://b.example.com/y', 'zz', named_struct('Level', 'WARN')) "
        "AS t(url, lang, parsed)")
    out = E.enrich_all(fact, spark)
    group = "test_enrich_all_runs_no_python_task"
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        got = {(r["lang_name"], r["region"], r["severity"])
               for r in out.collect()}
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert got == {("English", "europe", 1), (None, "global", 3)}
    final = out._jdf.queryExecution().executedPlan().executedPlan().toString()
    assert final.count("BroadcastHashJoin") == 3
    assert "ExistingRDD" not in final
    graphs = _stage_rdd_graphs(spark, group)
    assert graphs
    assert not [g for g in graphs if "PythonRDD" in g]
