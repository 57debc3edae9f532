"""Structured Streaming pipeline: stream == batch equality on the same
input, watermarked windowed counts."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture()
def work(spark):
    d = tempfile.mkdtemp(prefix="stream_")
    from logparser_spark.sources.pages import build_pages_from_documents

    # two "arriving" files
    pages = build_pages_from_documents(spark, SF_DIR).filter(
        F.col("doc_id") < 120
    )
    pages.filter(F.col("doc_id") < 60).coalesce(1).write.parquet(f"{d}/in/p1")
    pages.filter(F.col("doc_id") >= 60).coalesce(1).write.parquet(f"{d}/in/p2")
    # streaming source reads the directory of parquet files
    import glob
    import os

    os.makedirs(f"{d}/src", exist_ok=True)
    for i, f in enumerate(
        glob.glob(f"{d}/in/p1/*.parquet") + glob.glob(f"{d}/in/p2/*.parquet")
    ):
        shutil.copy(f, f"{d}/src/part{i}.parquet")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_stream_routes_equal_batch(spark, work):
    from logparser_spark.functions.formats import DEFAULT_FORMAT, compile_format
    from logparser_spark.operators.parse import explode_lines, parse_lines
    from logparser_spark.operators.route import SinkSpec, sink_column
    from logparser_spark.streaming import pipeline as SP

    spec = compile_format(DEFAULT_FORMAT)
    sinks = [SinkSpec("s_info", "Level EQ INFO"), SinkSpec("s_all", None)]

    stream = SP.stream_pages(spark, f"{work}/src", max_files=3)
    parsed = SP.parse_stream(stream, spec)
    q = SP.route_stream(
        parsed, sinks, spec, f"{work}/out", f"{work}/ckpt"
    ).start()
    q.awaitTermination(120)

    # batch reference over the same files
    batch_pages = spark.read.parquet(f"{work}/src")
    b_lines = explode_lines(batch_pages, keep_cols=["doc_id", "url", "lang"])
    b_parsed = parse_lines(b_lines, spec)

    for s in sinks:
        got = spark.read.parquet(f"{work}/out/{s.name}")
        want = b_parsed.filter(sink_column(s, spec))
        assert got.count() == want.count(), s.name
        gk = {(r["doc_id"], r["line_no"]) for r in
              got.select("doc_id", "line_no").collect()}
        wk = {(r["doc_id"], r["line_no"]) for r in
              want.select("doc_id", "line_no").collect()}
        assert gk == wk, s.name


def test_windowed_counts_watermark(spark, work):
    from logparser_spark.functions.formats import DEFAULT_FORMAT, compile_format
    from logparser_spark.streaming import pipeline as SP

    spec = compile_format(DEFAULT_FORMAT)
    stream = SP.stream_pages(spark, f"{work}/src", max_files=1)
    parsed = SP.parse_stream(stream, spec, keep_cols=["doc_id", "warc_ts"])
    # 120 docs span 120s of warc_ts; watermark must be shorter than the
    # span or no window ever closes in append mode
    agg = SP.windowed_format_counts(parsed, window="30 seconds",
                                    watermark="10 seconds")
    q = (
        agg.writeStream.format("memory")
        .queryName("wincounts")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM wincounts").collect()
    # warc_ts = base + doc_id seconds -> 500 docs span ~9 windows; with
    # append mode + watermark, closed windows are emitted
    assert len(rows) > 0
    total = sum(r["n"] for r in rows if r["matched_format"] == "default")
    assert total > 0


def test_replayed_batch_is_idempotent(spark, work):
    """The at-least-once hazard: foreachBatch may re-deliver a micro-batch
    after a partial sink write. Re-invoking the writer with the SAME
    batch_id must leave each sink's contents unchanged (dynamic partition
    overwrite keyed by __batch_id replaces exactly that partition)."""
    from logparser_spark.functions.formats import DEFAULT_FORMAT, compile_format
    from logparser_spark.operators.parse import explode_lines, parse_lines
    from logparser_spark.operators.route import SinkSpec
    from logparser_spark.streaming.pipeline import make_batch_writer

    spec = compile_format(DEFAULT_FORMAT)
    sinks = [SinkSpec("s_info", "Level EQ INFO"), SinkSpec("s_all", None)]

    pages = spark.read.parquet(f"{work}/src")
    parsed = parse_lines(
        explode_lines(pages, keep_cols=["doc_id", "url", "lang"]), spec
    )
    fn = make_batch_writer(sinks, spec, f"{work}/out2")

    fn(parsed, 7)       # first delivery of batch 7
    first = {
        s.name: spark.read.parquet(f"{work}/out2/{s.name}").count()
        for s in sinks
    }
    assert all(v > 0 for v in first.values())
    fn(parsed, 7)       # REPLAY of batch 7 (simulated retry)
    second = {
        s.name: spark.read.parquet(f"{work}/out2/{s.name}").count()
        for s in sinks
    }
    assert second == first  # no duplicates

    fn(parsed, 8)       # a genuinely new batch appends
    third = {
        s.name: spark.read.parquet(f"{work}/out2/{s.name}").count()
        for s in sinks
    }
    assert third == {k: 2 * v for k, v in first.items()}
