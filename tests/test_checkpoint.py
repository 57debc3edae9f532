"""Checkpoint/lineage + idempotent resume (north rule: 'resumable from
checkpoint with per-partition lineage + metrics') and skew helpers."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def parsed(spark):
    from logparser_spark.functions.formats import DEFAULT_FORMAT, compile_format
    from logparser_spark.operators.parse import explode_lines, parse_lines
    from logparser_spark.sources.pages import build_pages_from_documents

    spec = compile_format(DEFAULT_FORMAT)
    pages = build_pages_from_documents(spark, SF_DIR)
    lines = explode_lines(pages, keep_cols=["doc_id", "url", "lang"])
    return parse_lines(lines, spec).persist(), spec


@pytest.fixture()
def base():
    d = tempfile.mkdtemp(prefix="ckpt_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _sinks():
    from logparser_spark.operators.route import SinkSpec

    return [SinkSpec("s_info", "Level EQ INFO"), SinkSpec("s_all", None)]


def test_clean_run_then_noop(spark, parsed, base):
    from logparser_spark.plans import checkpoint as C

    df, spec = parsed
    r1 = C.route_checkpointed(df, _sinks(), spec, base, buckets=8)
    assert len(r1["processed"]) == 8 and not r1["skipped"]

    n_info = C.read_routed(spark, base, "s_info").count()
    n_all = C.read_routed(spark, base, "s_all").count()
    assert n_all == df.count()
    # oracle: INFO routed = wf&INFO + malformed (accept_bad_format)
    wf = F.col("parsed.well_formed")
    expected = df.filter(
        (~wf) | (wf & (F.col("parsed.Level") == "INFO"))
    ).count()
    assert n_info == expected

    # second run is a no-op
    r2 = C.route_checkpointed(df, _sinks(), spec, base, buckets=8)
    assert r2["processed"] == [] and len(r2["skipped"]) == 8
    assert C.read_routed(spark, base, "s_info").count() == n_info

    m = C.lineage_metrics(base)
    assert m["buckets"] == 8 and m["rows"] == df.count()
    assert m["well_formed_rows"] == df.filter(wf).count()


def test_kill_and_rerun_exact_counts(spark, parsed, base):
    from logparser_spark.plans import checkpoint as C

    df, spec = parsed
    # crash after 3 of 8 bucket commits
    with pytest.raises(RuntimeError, match="injected failure"):
        C.route_checkpointed(
            df, _sinks(), spec, base, buckets=8, fail_after_buckets=3
        )
    partial = C.lineage_metrics(base)
    assert partial["buckets"] == 3

    # resume: only the 5 unpublished buckets are reprocessed
    r = C.route_checkpointed(df, _sinks(), spec, base, buckets=8)
    assert len(r["processed"]) == 5 and len(r["skipped"]) == 3

    # exact-count invariant: neither duplicated nor dropped
    assert C.read_routed(spark, base, "s_all").count() == df.count()
    ids_routed = (
        C.read_routed(spark, base, "s_all")
        .select("doc_id", "line_no")
        .distinct()
        .count()
    )
    assert ids_routed == df.select("doc_id", "line_no").distinct().count()


def _row_sets(spark, base, names):
    from logparser_spark.plans import checkpoint as C

    return {
        n: sorted(
            (r["doc_id"], r["line_no"])
            for r in C.read_routed(spark, base, n)
            .select("doc_id", "line_no").collect()
        )
        for n in names
    }


@pytest.fixture(scope="module")
def clean_run(spark, parsed):
    """A crash-free 8-bucket run: the reference the crash tests compare
    row sets and lineage histograms against."""
    from logparser_spark.plans import checkpoint as C

    df, spec = parsed
    d = tempfile.mkdtemp(prefix="ckpt_clean_")
    C.route_checkpointed(df, _sinks(), spec, d, buckets=8)
    yield {"rows": _row_sets(spark, d, ["s_info", "s_all"]),
           "hists": C.sink_histograms(d)}
    shutil.rmtree(d, ignore_errors=True)


def _crash_mid_rename(monkeypatch, after: int):
    """Makes the route's directory renames fail after ``after`` of them."""
    from logparser_spark.plans import checkpoint as C

    real = C.os.rename
    calls = []

    def rename(src, dst):
        if len(calls) >= after:
            raise OSError("injected crash mid-rename")
        calls.append(src)
        real(src, dst)

    monkeypatch.setattr(C.os, "rename", rename)


@pytest.mark.parametrize("crash", ["mid_rename", "before_publish", "mid_publish"])
def test_crash_then_rerun_matches_clean_run(spark, parsed, base, clean_run,
                                            monkeypatch, crash):
    """A crash at each point of the route — while staged bucket
    directories are renamed into place, after all sink data is in place
    but before any lineage publish, and between lineage publishes —
    then a re-run: exact per-sink row sets and histograms of a clean
    run, the lineage's per-sink row counts equal to the rows read back,
    and no staging directory left behind."""
    import os

    from logparser_spark.plans import checkpoint as C

    df, spec = parsed
    if crash == "mid_rename":
        with monkeypatch.context() as m:
            _crash_mid_rename(m, after=3)
            with pytest.raises(OSError, match="injected"):
                C.route_checkpointed(df, _sinks(), spec, base, buckets=8)
        assert any(fn.startswith(C.STAGING_PREFIX) for fn in os.listdir(base))
    else:
        n = 0 if crash == "before_publish" else 3
        with pytest.raises(RuntimeError, match="injected failure"):
            C.route_checkpointed(df, _sinks(), spec, base, buckets=8,
                                 fail_after_buckets=n)
        assert C.lineage_metrics(base)["buckets"] == n
    # data not yet published is invisible
    assert C.read_routed(spark, base, "s_all").count() == sum(
        e["rows"] for e in C.completed_buckets(base).values())

    r = C.route_checkpointed(df, _sinks(), spec, base, buckets=8)
    assert len(r["processed"]) + len(r["skipped"]) == 8
    assert _row_sets(spark, base, ["s_info", "s_all"]) == clean_run["rows"]
    assert C.sink_histograms(base) == clean_run["hists"]
    entries = C.completed_buckets(base).values()
    for name, rows in clean_run["rows"].items():
        assert sum(e["sinks"][name]["rows"] for e in entries) == len(rows)
    assert not any(fn.startswith(C.STAGING_PREFIX) for fn in os.listdir(base))


def test_lineage_histograms_match_spark(spark, parsed, base):
    """The per-sink histograms summed from the lineage equal
    aggregate.field_histogram over the rows read back."""
    from logparser_spark.operators.aggregate import field_histogram
    from logparser_spark.plans import checkpoint as C

    df, spec = parsed
    C.route_checkpointed(df, _sinks(), spec, base, buckets=4)
    for name in ("s_info", "s_all"):
        want = {(r["Level"], r["n"]) for r in
                field_histogram(C.read_routed(spark, base, name), "Level").collect()}
        assert {tuple(p) for p in C.sink_histograms(base)[name]} == want


def test_empty_sink_reads_back_empty(spark, parsed, base):
    """A sink no row matches leaves no directory, yet reads back as an
    empty frame with the other sinks' schema."""
    from logparser_spark.operators.route import SinkSpec
    from logparser_spark.plans import checkpoint as C

    df, spec = parsed
    sinks = _sinks() + [SinkSpec("s_none", "Level EQ NO_SUCH_LEVEL",
                                 accept_bad_format=False)]
    C.route_checkpointed(df, sinks, spec, base, buckets=4)
    none = C.read_routed(spark, base, "s_none")
    assert none.count() == 0
    assert none.schema == C.read_routed(spark, base, "s_all").schema
    assert C.sink_histograms(base)["s_none"] == []


def test_changed_config_raises(spark, parsed, base):
    """A lineage written for another bucket count or filter must not be
    resumed: buckets 4 -> 8 duplicated rows and INFO -> TRACE kept the
    old output before the lineage carried a fingerprint."""
    from logparser_spark.operators.route import SinkSpec
    from logparser_spark.plans import checkpoint as C

    df, spec = parsed
    C.route_checkpointed(df, _sinks(), spec, base, buckets=4)
    before = C.lineage_metrics(base)
    with pytest.raises(ValueError, match="buckets"):
        C.route_checkpointed(df, _sinks(), spec, base, buckets=8)
    trace = [SinkSpec("s_info", "Level EQ TRACE"), SinkSpec("s_all", None)]
    with pytest.raises(ValueError, match="sinks"):
        C.route_checkpointed(df, trace, spec, base, buckets=4)
    with pytest.raises(ValueError, match="key_col"):
        C.route_checkpointed(df, _sinks(), spec, base, buckets=4,
                             key_col="line_no")
    assert C.lineage_metrics(base) == before
    # an equivalent spelling of the same filter is the same fingerprint
    same = [SinkSpec("s_info", "Level  EQ INFO"), SinkSpec("s_all", None)]
    assert C.route_checkpointed(df, same, spec, base, buckets=4)["processed"] == []


def _files_per_bucket_dir(base, sinks):
    import os

    return {
        (s, b): sum(fn.startswith("part-") and fn.endswith(".parquet")
                    for fn in os.listdir(os.path.join(base, s, b)))
        for s in sinks if os.path.isdir(os.path.join(base, s))
        for b in os.listdir(os.path.join(base, s)) if b.startswith("__bucket=")
    }


def test_one_file_per_sink_bucket(spark, parsed, base):
    """Rows are hash-distributed by bucket before the write, so every
    ``<sink>/__bucket=<b>`` holds exactly one data file — also after a
    crash and a resume that redoes some buckets."""
    from logparser_spark.plans import checkpoint as C

    df, spec = parsed
    df = df.repartition(3)
    names = [s.name for s in _sinks()]
    C.route_checkpointed(df, _sinks(), spec, base, buckets=8)
    files = _files_per_bucket_dir(base, names)
    assert len(files) == 16 and set(files.values()) == {1}

    redo = tempfile.mkdtemp(prefix="ckpt_redo_")
    try:
        with pytest.raises(RuntimeError, match="injected failure"):
            C.route_checkpointed(df, _sinks(), spec, redo, buckets=8,
                                 fail_after_buckets=3)
        r = C.route_checkpointed(df, _sinks(), spec, redo, buckets=8)
        assert len(r["processed"]) == 5
        files = _files_per_bucket_dir(redo, names)
        assert len(files) == 16 and set(files.values()) == {1}
    finally:
        shutil.rmtree(redo, ignore_errors=True)


def _plan_nodes(plan) -> list[str]:
    """Node names of a final AQE plan, children only: the result stage is
    unwrapped, any other query stage is a leaf, and the cached plan under
    an InMemoryTableScan is not walked."""
    if plan.nodeName() == "ResultQueryStage":
        plan = plan.plan()
    out = [plan.nodeName()]
    children = plan.children()
    for i in range(children.size()):
        out += _plan_nodes(children.apply(i))
    return out


def test_bucket_stats_read_the_cache_without_exchange(spark, parsed):
    """The bucket-stats aggregate groups by ``__bucket`` first, and the
    persisted frame is already hash-distributed by it: the final AQE
    plan has no exchange between the aggregate and the cache scan, so
    a route run shuffles its rows once."""
    from logparser_spark.plans import checkpoint as C

    df, spec = parsed
    work = C._bucketed(df, "doc_id", 8, list(range(8))).persist()
    try:
        agg = C._stats_frame(work, _sinks(), spec, "parsed")
        agg.collect()
        final = agg._jdf.queryExecution().executedPlan().executedPlan()
        nodes = _plan_nodes(final)
    finally:
        work.unpersist()
    assert "HashAggregate" in nodes
    assert any(n in ("InMemoryTableScan", "TableCacheQueryStage") for n in nodes)
    assert not [n for n in nodes if "Exchange" in n or "ShuffleQueryStage" in n], nodes


def test_salted_count_equals_plain(spark, parsed):
    from logparser_spark.operators.enrich import url_host
    from logparser_spark.plans.skew import salted_count

    df, _ = parsed
    hosts = df.withColumn("host", url_host(F.col("url")))
    plain = {
        r["host"]: r["n"]
        for r in hosts.groupBy("host").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    salted = {
        r["host"]: r["n"] for r in salted_count(hosts, "host", k=16).collect()
    }
    assert salted == plain
    # the fixture skew really is there: the 3 hot hosts (x6 TLD variants)
    # own ~70% of all lines
    hot = sum(n for h, n in plain.items() if h.startswith("hot"))
    assert hot / sum(plain.values()) > 0.6


def test_salted_distinct_count(spark, parsed):
    from logparser_spark.operators.enrich import url_host
    from logparser_spark.plans.skew import salted_distinct_count

    df, _ = parsed
    hosts = df.filter(F.col("parsed.well_formed")).select(
        url_host(F.col("url")).alias("host"),
        F.col("parsed.Level").alias("level"),
    )
    plain = {
        r["host"]: r["n"]
        for r in hosts.groupBy("host")
        .agg(F.countDistinct("level").alias("n"))
        .collect()
    }
    got = {
        r["host"]: r["n_distinct"]
        for r in salted_distinct_count(hosts, "host", "level").collect()
    }
    assert got == plain
