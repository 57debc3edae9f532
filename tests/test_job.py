"""Config-driven job runner (plans/job.py) + sink abstraction."""

from __future__ import annotations

import shutil
import tempfile

import pytest


@pytest.fixture()
def work(spark):
    d = tempfile.mkdtemp(prefix="job_")
    from logparser_spark.sources.pages import build_pages_from_documents

    build_pages_from_documents(spark, "/root/testdata/sf0.001").write.parquet(
        f"{d}/pages"
    )
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_job_run_and_resume(spark, work):
    from logparser_spark.plans.job import JobConfig, run_job

    cfg = JobConfig.from_dict(
        {
            "input": f"parquet:{work}/pages",
            "output": f"{work}/out",
            "sinks": [
                {"name": "info", "filter": "Level EQ INFO"},
                {"name": "all", "filter": None},
            ],
            "buckets": 8,
        }
    )
    m1 = run_job(spark, cfg)
    assert m1["buckets"] == 8 and m1["rows"] == 15634
    assert m1["well_formed_rows"] == 14626
    # idempotent re-run
    m2 = run_job(spark, cfg)
    assert m2 == m1

    hist = spark.read.parquet(f"{work}/out/_agg/info_level_hist").collect()
    assert {(r["Level"], r["n"]) for r in hist} == {("INFO", 2521)}


def _cfg(work, out, **kw):
    from logparser_spark.plans.job import JobConfig

    return JobConfig.from_dict({
        "input": f"parquet:{work}/pages",
        "output": f"{work}/{out}",
        "sinks": [
            {"name": "info", "filter": "Level EQ INFO"},
            {"name": "all", "filter": None},
        ],
        "buckets": 8,
        **kw,
    })


def _jobs_in(spark, group, fn):
    """Runs ``fn`` under job group ``group``; returns (result, Spark
    jobs it launched)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_job_complete_lineage_launches_no_spark_job(spark, work):
    """A fresh job launches a handful of Spark jobs (one aggregate, one
    write, plus planning); re-running it over its complete lineage
    launches none and returns the same metrics."""
    from logparser_spark.plans.job import run_job

    cfg = _cfg(work, "out")
    m1, fresh = _jobs_in(spark, "job-fresh", lambda: run_job(spark, cfg))
    m2, resumed = _jobs_in(spark, "job-resume", lambda: run_job(spark, cfg))
    assert m2 == m1 and set(m1) == {"buckets", "rows", "well_formed_rows"}
    assert 0 < fresh <= 10
    assert resumed == 0


def test_job_restores_the_session_options(spark, work, monkeypatch):
    """The route runs under the AQE skew profile; afterwards each of its
    options reads as before the job: a set one keeps its value and an
    unset one is unset again."""
    from logparser_spark.plans import checkpoint as C
    from logparser_spark.plans.job import run_job
    from logparser_spark.plans.skew import AQE_SKEW_CONFS

    factor = "spark.sql.adaptive.skewJoin.skewedPartitionFactor"
    others = [k for k in AQE_SKEW_CONFS if k != factor]
    before = {k: spark.conf.get(k, None) for k in others}
    seen = {}
    route = C.route_checkpointed

    def recording(*a, **kw):
        seen.update({k: spark.conf.get(k, None) for k in AQE_SKEW_CONFS})
        return route(*a, **kw)

    monkeypatch.setattr(C, "route_checkpointed", recording)
    spark.conf.set(factor, "3")
    try:
        run_job(spark, _cfg(work, "out"))
        assert seen == AQE_SKEW_CONFS
        assert spark.conf.get(factor, None) == "3"
        assert {k: spark.conf.get(k, None) for k in others} == before
    finally:
        spark.conf.unset(factor)


def test_job_only_checkpoint_strategy(spark, work):
    from logparser_spark.plans.job import run_job

    with pytest.raises(ValueError, match="route_strategy"):
        run_job(spark, _cfg(work, "out", route_strategy="single_pass"))


def test_job_changed_config_or_input_raises(spark, work):
    """Each change that would make the lineage lie raises instead of
    resuming: buckets 4 -> 8 (duplicated rows before), Level EQ INFO ->
    Level EQ TRACE (kept the old output before), the format, and the
    input files."""
    import glob
    import os

    from logparser_spark.plans import checkpoint as C
    from logparser_spark.plans.job import run_job

    m = run_job(spark, _cfg(work, "out", buckets=4))
    with pytest.raises(ValueError, match="buckets"):
        run_job(spark, _cfg(work, "out", buckets=8))
    with pytest.raises(ValueError, match="sinks"):
        run_job(spark, _cfg(work, "out", buckets=4, sinks=[
            {"name": "info", "filter": "Level EQ TRACE"},
            {"name": "all", "filter": None},
        ]))
    with pytest.raises(ValueError, match="format"):
        run_job(spark, _cfg(work, "out", buckets=4,
                            format="{INT:Date} {INT:Time} {STR:Level} {STR:Mesg}"))
    part = sorted(glob.glob(f"{work}/pages/part-*"))[0]
    st = os.stat(part)
    os.utime(part, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    with pytest.raises(ValueError, match="different input"):
        run_job(spark, _cfg(work, "out", buckets=4))
    assert C.lineage_metrics(f"{work}/out") == m


def _agg(spark, base, name):
    return sorted(tuple(r) for r in
                  spark.read.parquet(f"{base}/_agg/{name}_level_hist").collect())


@pytest.mark.parametrize("after", [0, 3])
def test_job_crash_then_rerun_matches_clean_run(spark, work, monkeypatch, after):
    """A job killed after the sink data is in place (0 lineage entries
    published) or mid-publish (3 of 8), then re-run: the same per-sink
    row sets and ``_agg`` histograms as a clean run."""
    from logparser_spark.plans import checkpoint as C
    from logparser_spark.plans.job import run_job

    clean = run_job(spark, _cfg(work, "clean"))

    real = C._write_lineage
    calls = []

    def crashing(base, entry):
        if len(calls) >= after:
            raise RuntimeError("injected crash mid-publish")
        calls.append(entry["bucket"])
        real(base, entry)

    with monkeypatch.context() as m:
        m.setattr(C, "_write_lineage", crashing)
        with pytest.raises(RuntimeError, match="injected"):
            run_job(spark, _cfg(work, "crashed"))
    assert C.lineage_metrics(f"{work}/crashed")["buckets"] == after
    assert run_job(spark, _cfg(work, "crashed")) == clean

    for name in ("info", "all"):
        rows = {
            b: sorted((r["doc_id"], r["line_no"]) for r in
                      C.read_routed(spark, f"{work}/{b}", name)
                      .select("doc_id", "line_no").collect())
            for b in ("clean", "crashed")
        }
        assert rows["crashed"] == rows["clean"], name
        assert _agg(spark, f"{work}/crashed", name) == _agg(spark, f"{work}/clean", name)


def test_sink_target_parse_and_iceberg_gate(spark):
    from logparser_spark.sources.sinks import SinkTarget, write_sink

    assert SinkTarget.parse("/tmp/x").kind == "parquet"
    assert SinkTarget.parse("parquet:/tmp/x").location == "/tmp/x"
    t = SinkTarget.parse("iceberg:cat.db.tbl")
    assert t.kind == "iceberg" and t.location == "cat.db.tbl"

    df = spark.range(1)
    with pytest.raises(RuntimeError, match="Iceberg runtime"):
        write_sink(df, t)


def test_job_multi_format_cascade(spark, work):
    """extra_formats in the job config runs the first-match cascade:
    hex-dump lines (malformed under the primary format) are tagged with
    the secondary format, and primary-format routing is unchanged."""
    from pyspark.sql import functions as F

    from logparser_spark.plans.job import JobConfig, run_job

    cfg = JobConfig.from_dict(
        {
            "input": f"parquet:{work}/pages",
            "output": f"{work}/out_mf",
            "extra_formats": {
                "hexdump": ("{INT:B0}x{STR:H0} {INT:B1}x{STR:H1} "
                            "{INT:B2}x{STR:H2} {INT:B3}x{STR:H3} "
                            "{STR:Tag}"),
            },
            "sinks": [
                {"name": "info", "filter": "Level EQ INFO"},
                {"name": "all", "filter": None},
            ],
            "buckets": 4,
        }
    )
    m = run_job(spark, cfg)
    assert m["rows"] == 15634
    assert m["well_formed_rows"] == 14626  # primary-format well-formed

    from logparser_spark.plans.checkpoint import read_routed

    routed = read_routed(spark, f"{work}/out_mf", "all")
    counts = {
        r["matched_format"]: r["count"]
        for r in routed.groupBy("matched_format").count().collect()
    }
    assert counts["default"] == 14626
    assert counts["hexdump"] == 1008  # every hex line matched the 2nd spec
    # the info sink's routing (primary-format filter) is unchanged
    info = read_routed(spark, f"{work}/out_mf", "info")
    assert info.filter(F.col("parsed.Level") == "INFO").count() == 2521
