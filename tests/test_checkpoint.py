"""Checkpoint/lineage + idempotent resume (north rule: 'resumable from
checkpoint with per-partition lineage + metrics') and skew helpers."""

from __future__ import annotations

import os
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


def test_null_key_is_routed_not_dropped(spark, base):
    """A line whose bucket key is NULL goes to bucket 0: the lineage
    counts every input line, each sink holds the rows ``route_mask``
    routes to it, and a rerun is a no-op."""
    from logparser_spark.functions.formats import DEFAULT_FORMAT, compile_format
    from logparser_spark.operators.parse import explode_lines, parse_lines
    from logparser_spark.operators.route import route_mask
    from logparser_spark.plans import checkpoint as C

    with open(os.path.join(os.path.dirname(__file__), "data",
                           "sample.log")) as f:
        log = f.read().splitlines()
    spec = compile_format(DEFAULT_FORMAT)
    pages = spark.createDataFrame(
        [(0, "\n".join(log[3:5])), (1, log[12]), (None, log[14])],
        "doc_id long, text string")
    df = parse_lines(explode_lines(pages, keep_cols=["doc_id"]), spec)
    assert df.count() == 4

    r1 = C.route_checkpointed(df, _sinks(), spec, base, buckets=4)
    assert r1["processed"] == [0, 1, 2, 3]
    assert C.lineage_metrics(base)["rows"] == 4
    masked = route_mask(df, _sinks(), spec)
    for s in _sinks():
        got = C.read_routed(spark, base, s.name)
        want = masked.filter(F.col(f"route_{s.name}"))
        assert got.count() == want.count(), s.name
        assert got.filter(F.col("doc_id").isNull()).count() == \
            want.filter(F.col("doc_id").isNull()).count() == 1, s.name
    r2 = C.route_checkpointed(df, _sinks(), spec, base, buckets=4)
    assert r2["processed"] == [] and r2["skipped"] == [0, 1, 2, 3]
    assert C.lineage_metrics(base)["rows"] == 4


@pytest.mark.parametrize("buckets", [0, -3, "16"])
def test_buckets_below_one_raise_before_any_work(base, buckets):
    """With no bucket to route to, a job reported success without
    reading its input. Both entry points now raise before any Spark job
    (no session is given) and write nothing."""
    from logparser_spark.functions.formats import DEFAULT_FORMAT, compile_format
    from logparser_spark.plans import checkpoint as C
    from logparser_spark.plans.job import JobConfig, run_job

    cfg = JobConfig.from_dict({
        "input": "parquet:/nonexistent/pages",
        "output": f"{base}/out",
        "sinks": [{"name": "all", "filter": None}],
        "buckets": buckets,
    })
    with pytest.raises(ValueError, match="buckets must be an int >= 1"):
        run_job(None, cfg)
    with pytest.raises(ValueError, match="buckets must be an int >= 1"):
        C.route_checkpointed(None, _sinks(), compile_format(DEFAULT_FORMAT),
                             f"{base}/out", buckets=buckets)
    assert os.listdir(base) == []


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


def _plan_nodes(plan) -> list:
    """Every node of an executed plan: adaptive plans and query stages are
    unwrapped, so the nodes below a shuffle are listed too."""
    name = plan.nodeName()
    if name == "AdaptiveSparkPlan":
        return _plan_nodes(plan.executedPlan())
    if name.endswith("QueryStage"):
        return _plan_nodes(plan.plan())
    out = [plan]
    children = plan.children()
    for i in range(children.size()):
        out += _plan_nodes(children.apply(i))
    return out


@pytest.mark.parametrize("parse", ["single", "multi"])
def test_route_run_plans_one_shuffle_and_one_writer_stage(spark, base, monkeypatch,
                                                          parse):
    """A route run over an unpersisted parse is one Spark job: the rows
    are shuffled once (hash on ``__bucket``), the parse runs once
    (``ArrowEvalPython``) and one ``MapInArrow`` stage writes every sink
    and counts the lineage, with no cache in between. The multi-format
    cascade (``run_job``'s ``extra_formats`` shape) plans the same."""
    from logparser_spark.functions.formats import DEFAULT_FORMAT, compile_format
    from logparser_spark.operators.parse import (
        explode_lines,
        parse_lines,
        parse_lines_multi,
    )
    from logparser_spark.plans import checkpoint as C
    from logparser_spark.sources.pages import build_pages_from_documents

    spec = compile_format(DEFAULT_FORMAT)
    pages = build_pages_from_documents(spark, SF_DIR)
    lines = explode_lines(pages, keep_cols=["doc_id"])
    if parse == "single":
        df = parse_lines(lines, spec)
    else:
        hexdump = compile_format(
            "{INT:B0}x{STR:H0} {INT:B1}x{STR:H1} {INT:B2}x{STR:H2} "
            "{INT:B3}x{STR:H3} {STR:Tag}", "hexdump")
        df = parse_lines_multi(lines, [spec, hexdump]).withColumnRenamed(
            "parsed_default", "parsed")
    stages = []
    real = C._writer_stage

    def writer_stage(*args):
        stages.append(real(*args))
        return stages[-1]

    monkeypatch.setattr(C, "_writer_stage", writer_stage)
    C.route_checkpointed(df, _sinks(), spec, base, buckets=8)
    assert C.lineage_metrics(base)["rows"] == 15634
    nodes = _plan_nodes(stages[0]._jdf.queryExecution().executedPlan())
    names = [n.nodeName() for n in nodes]
    exchanges = [n for n in nodes if "Exchange" in n.nodeName()]
    assert len(exchanges) == 1, names
    assert "hashpartitioning(__bucket" in exchanges[0].outputPartitioning().toString()
    assert names.count("ArrowEvalPython") == 1, names
    assert names.count("MapInArrow") == 1, names
    assert not [n for n in names if "InMemory" in n], names


def test_fingerprint_encodes_inversion(spark, parsed, base):
    """Inverting a sink's filter, at the root or at an inner node, changes
    the fingerprint (``to_string`` drops the flag, as the reference's
    does), so a resume after an inversion raises instead of mixing the
    outputs of two filters."""
    from logparser_spark.operators.filters import parse_filter
    from logparser_spark.operators.route import SinkSpec
    from logparser_spark.plans import checkpoint as C

    df, spec = parsed

    def fp(f):
        return C.fingerprint(spec, [SinkSpec("s", f)], 8, "doc_id")

    plain = parse_filter("Level EQ TRACE", spec)
    root = parse_filter("Level EQ TRACE", spec).invert()
    assert root.to_string(spec) == plain.to_string(spec)
    assert fp(root) != fp(plain)

    both = "(Level EQ TRACE) AND (Time GT 1)"
    inner = parse_filter(both, spec)
    inner.left.invert()
    assert inner.to_string(spec) == parse_filter(both, spec).to_string(spec)
    assert fp(inner) != fp(parse_filter(both, spec))
    assert fp(inner) != fp(parse_filter(both, spec).invert())

    with pytest.raises(RuntimeError, match="injected failure"):
        C.route_checkpointed(df, [SinkSpec("s", plain, accept_bad_format=False)],
                             spec, base, buckets=8, fail_after_buckets=3)
    with pytest.raises(ValueError, match="sinks"):
        C.route_checkpointed(df, [SinkSpec("s", root, accept_bad_format=False)],
                             spec, base, buckets=8)
    assert C.lineage_metrics(base)["buckets"] == 3


def _writer(staging):
    """A writer stage for two sinks over rows ``(doc_id, parsed{Level,
    well_formed})``, with the batches it reads."""
    import pyarrow as pa

    from logparser_spark.plans import checkpoint as C

    parsed = pa.struct([("Level", pa.string()), ("well_formed", pa.bool_())])
    schema = pa.schema([("doc_id", pa.int64()), ("parsed", parsed)])
    counts = pa.schema([("partition", pa.int32()), ("bucket", pa.int32()),
                        ("wf", pa.bool_()), ("level", pa.string()),
                        ("n", pa.int64()), ("s0", pa.int64()), ("s1", pa.int64())])
    batches = []
    for start in (0, 6):
        ids = list(range(start, start + 6))
        batches.append(pa.RecordBatch.from_pydict({
            "doc_id": pa.array(ids, pa.int64()),
            "parsed": pa.array([{"Level": "INFO" if i % 3 else "WARN",
                                 "well_formed": i != 4} for i in ids], parsed),
            "__bucket": pa.array([i % 2 for i in ids], pa.int32()),
            "__sink_0": pa.array([i % 3 != 0 for i in ids]),
            "__sink_1": pa.array([True] * len(ids)),
        }))
    return C._SinkWriter(staging, ("a", "b"), schema, counts, "snappy", "parsed"), batches


def test_writer_rerun_replaces_its_files(base):
    """The writer run twice over the same batches into one staging
    directory, as a retried task attempt would: each (sink, bucket) still
    holds one ``part-00000.parquet`` with its rows once, and no hidden
    file is left."""
    import os

    import pyarrow.parquet as pq

    writer, batches = _writer(base)
    first = list(writer.run(iter(batches), 0))
    second = list(writer.run(iter(batches), 0))
    assert [b.to_pylist() for b in first] == [b.to_pylist() for b in second]
    for sink, keep in (("a", lambda i: i % 3 != 0), ("b", lambda i: True)):
        for b in (0, 1):
            d = os.path.join(base, f"sink={sink}", f"__bucket={b}")
            assert os.listdir(d) == ["part-00000.parquet"]
            f = pq.ParquetFile(os.path.join(d, "part-00000.parquet"))
            assert f.metadata.num_row_groups == 1
            ids = f.read()["doc_id"]
            assert ids.to_pylist() == [i for i in range(12) if i % 2 == b and keep(i)]
    counts = {(r["bucket"], r["wf"], r["level"]): (r["n"], r["s0"], r["s1"])
              for b in first for r in b.to_pylist()}
    assert counts == {(0, True, "WARN"): (2, 0, 2), (0, True, "INFO"): (3, 3, 3),
                      (0, False, "INFO"): (1, 1, 1), (1, True, "WARN"): (2, 0, 2),
                      (1, True, "INFO"): (4, 4, 4)}


def test_writer_flushes_its_largest_buffer_past_the_task_budget(base, monkeypatch):
    """Past the task's buffer budget the largest buffer is flushed as a
    row group: with no budget every batch's rows become their own row
    group, and the file still holds each row once."""
    import pyarrow.parquet as pq

    from logparser_spark.plans import checkpoint as C

    monkeypatch.setattr(C, "TASK_BUFFER_BYTES", 0)
    writer, batches = _writer(base)
    list(writer.run(iter(batches), 0))
    f = pq.ParquetFile(os.path.join(base, "sink=b", "__bucket=0", "part-00000.parquet"))
    assert f.metadata.num_row_groups == 2
    assert f.read()["doc_id"].to_pylist() == [0, 2, 4, 6, 8, 10]


def test_bucket_split_across_tasks_raises(spark, parsed, base, monkeypatch):
    """Rows not distributed by bucket put one bucket in two tasks, which
    would write the same (sink, bucket) file: the route raises before
    anything is committed."""
    from logparser_spark.plans import checkpoint as C

    df, spec = parsed

    def round_robin(parsed_df, key_col, buckets, todo):
        return parsed_df.withColumn(
            "__bucket", F.pmod(F.col(key_col), F.lit(buckets)).cast("int")
        ).repartition(4)

    monkeypatch.setattr(C, "_bucketed", round_robin)
    with pytest.raises(RuntimeError, match="written by partitions"):
        C.route_checkpointed(df, _sinks(), spec, base, buckets=8)
    assert C.lineage_metrics(base)["buckets"] == 0
    assert not any(os.path.isdir(os.path.join(base, s.name)) for s in _sinks())


def test_no_hidden_files_after_a_run(spark, parsed, base):
    """A run, and a crash then a resume, leave no file whose name starts
    with ``.`` (temporary data files, checksum files)."""
    from logparser_spark.plans import checkpoint as C

    df, spec = parsed
    with pytest.raises(RuntimeError, match="injected failure"):
        C.route_checkpointed(df, _sinks(), spec, base, buckets=8,
                             fail_after_buckets=2)
    C.route_checkpointed(df, _sinks(), spec, base, buckets=8)
    hidden = [os.path.join(d, n) for d, _, names in os.walk(base)
              for n in names if n.startswith(".")]
    assert not hidden, hidden[:5]


ROUND_TRIP_FORMAT = "{DATE:Day} {DBL:Val} {STR:Level} :{STR:Msg} {INT:N}"
ROUND_TRIP_PAGES = [
    "2024-02-29 1.5 INFO :plain 7\n2024-03-01 2.25e3 WARN :x 8\n"
    "2023-12-31 3 INFO :ünïcödé✓ 9\r\n2020-01-01 0.5 INFO",
    "garbage line\n\n2024-02-30 1 INFO :bad date 1\n"
    "1999-09-09 12.75 ERROR :日本語のログ 123\n2001-01-01 1e-3 INFO :",
    "2010-10-10 99999999999999999999 INFO :huge 5\n2011-11-11 4 TRACE\n"
    "2012-12-12 2.5 INFO :tail\n0001-01-01 1 INFO :ancient 2",
]


def test_round_trip_types_and_schema(spark, base):
    """DATE and DBL fields, trailing unset fields, malformed lines and
    multi-byte text through the route: every sink reads back exactly the
    rows ``route_mask`` routes to it, a schema-less read of a sink
    directory reports the schema Spark's own writer gives the frame, and
    the files use the session's parquet codec."""
    import pyarrow.parquet as pq

    from logparser_spark.functions.formats import compile_format
    from logparser_spark.operators.filters import parse_filter
    from logparser_spark.operators.parse import explode_lines, parse_lines
    from logparser_spark.operators.route import SinkSpec, route_mask
    from logparser_spark.plans import checkpoint as C

    spec = compile_format(ROUND_TRIP_FORMAT)
    pages = spark.createDataFrame(
        [(i, ROUND_TRIP_PAGES[i % 3]) for i in range(40)], "doc_id long, text string")
    df = parse_lines(explode_lines(pages, keep_cols=["doc_id"]), spec)
    sinks = [
        SinkSpec("info", "Level EQ INFO"),
        SinkSpec("big", "Val GT 2", accept_bad_format=False),
        SinkSpec("cjk", "Msg CT ログ"),
        SinkSpec("not_info", parse_filter("Level EQ INFO", spec).invert(),
                 accept_bad_format=False),
        SinkSpec("all", None),
    ]
    codec = spark.conf.get("spark.sql.parquet.compression.codec")
    spark.conf.set("spark.sql.parquet.compression.codec", "zstd")
    try:
        C.route_checkpointed(df, sinks, spec, base, buckets=4)
    finally:
        spark.conf.set("spark.sql.parquet.compression.codec", codec)
    data = os.path.join(base, "all", "__bucket=0", "part-00000.parquet")
    assert pq.ParquetFile(data).metadata.row_group(0).column(0).compression == "ZSTD"

    def rows(frame):
        return sorted(frame.select(df.columns).collect(),
                      key=lambda r: (r["doc_id"], r["line_no"]))

    masked = route_mask(df, sinks, spec)
    for s in sinks:
        assert rows(C.read_routed(spark, base, s.name)) == \
            rows(masked.filter(F.col(f"route_{s.name}"))), s.name
    assert rows(C.read_routed(spark, base, "all")) == rows(df)

    spark_dir = os.path.join(base, "_spark_written")
    df.withColumn("__bucket", F.pmod(F.col("doc_id"), F.lit(4)).cast("int")) \
        .write.partitionBy("__bucket").parquet(spark_dir)
    want = spark.read.parquet(spark_dir).schema
    for s in sinks:
        assert spark.read.parquet(os.path.join(base, s.name)).schema == want, s.name


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
