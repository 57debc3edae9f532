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


def test_dedup_stream_watermark_bounded(spark):
    """Streaming exact dedup: duplicates inside the watermark horizon
    are suppressed (in-batch AND cross-batch); once the watermark has
    advanced past the old state's expiry, the same key re-emits —
    the bounded-state contract, not an ever-growing global set."""
    import os
    import tempfile
    import shutil
    import datetime

    from logparser_spark.streaming.pipeline import dedup_stream

    d = tempfile.mkdtemp(prefix="sdedup_")
    try:
        t0 = datetime.datetime(2026, 1, 1, 0, 0, 0)

        def mkfile(name, base_s, mtime, prefix="t"):
            rows = [
                (100 * base_s + i,
                 t0 + datetime.timedelta(seconds=base_s + i),
                 f"{prefix}{i % 5}")
                for i in range(10)
            ]
            df = spark.createDataFrame(
                rows, "doc_id bigint, warc_ts timestamp, text string"
            )
            df.coalesce(1).write.parquet(f"{d}/tmp_{name}")
            import glob
            src = glob.glob(f"{d}/tmp_{name}/*.parquet")[0]
            os.makedirs(f"{d}/src", exist_ok=True)
            dst = f"{d}/src/{name}.parquet"
            shutil.copy(src, dst)
            os.utime(dst, (mtime, mtime))

        # f1 at t0 (each text twice); f2 two hours later with FRESH
        # keys (advances the watermark without touching t* state — a
        # duplicate arrival would extend its expiry); f3 four hours
        # later repeats f1's texts, whose state has long expired.
        # Distinct mtimes fix the file-source processing order.
        mkfile("part0", 0, 1_000_000)
        mkfile("part1", 7200, 1_000_100, prefix="u")
        mkfile("part2", 14400, 1_000_200)
        mkfile("part3", 21600, 1_000_300)

        stream = (
            spark.readStream.schema(
                "doc_id bigint, warc_ts timestamp, text string"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{d}/src")
        )
        out = dedup_stream(stream, watermark="1 minute")
        q = (
            out.writeStream.format("parquet")
            .option("path", f"{d}/out")
            .option("checkpointLocation", f"{d}/ckpt")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

        got = spark.read.parquet(f"{d}/out").collect()
        by_text: dict = {}
        for r in got:
            by_text.setdefault(r["text"], []).append(r["doc_id"])
        # every batch's internal duplicate pair collapsed to one row
        assert set(by_text) == (
            {f"t{i}" for i in range(5)} | {f"u{i}" for i in range(5)}
        )
        # batch 1 emits its 5 distinct t*; batch 2 its 5 fresh u*
        # (advancing the watermark hours past the t* state expiry);
        # the t* keys then re-emit exactly once more (state evicted —
        # the engine applies eviction at batch end, so the re-emit
        # lands in batch 3 or 4 depending on that ordering) -> each t*
        # key appears exactly twice, each u* once: bounded state, not
        # an ever-growing global set
        assert len(got) == 15, sorted(
            (r["text"], r["doc_id"]) for r in got
        )
        for text, ids in by_text.items():
            assert len(ids) == (2 if text.startswith("t") else 1), text
            ids = sorted(ids)
            if text.startswith("t"):
                assert ids[0] < 10          # original batch-1 keeper
                assert ids[1] >= 1_440_000  # re-emitted after eviction
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_dedup_stream_null_keys_distinct(spark):
    """NULL-text and empty-text rows must NOT dedup against each other
    (concat_ws would silently skip the NULL and collide the keys)."""
    import datetime
    import glob
    import os
    import shutil
    import tempfile

    from logparser_spark.streaming.pipeline import dedup_stream

    d = tempfile.mkdtemp(prefix="sdedupn_")
    try:
        t0 = datetime.datetime(2026, 1, 1)
        rows = [(1, t0, None), (2, t0, ""), (3, t0, None), (4, t0, "")]
        df = spark.createDataFrame(
            rows, "doc_id bigint, warc_ts timestamp, text string"
        )
        os.makedirs(f"{d}/src")
        df.coalesce(1).write.parquet(f"{d}/tmp")
        shutil.copy(glob.glob(f"{d}/tmp/*.parquet")[0],
                    f"{d}/src/p0.parquet")
        stream = spark.readStream.schema(
            "doc_id bigint, warc_ts timestamp, text string"
        ).parquet(f"{d}/src")
        q = (
            dedup_stream(stream, watermark="1 minute").writeStream
            .format("parquet").option("path", f"{d}/out")
            .option("checkpointLocation", f"{d}/ckpt")
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination(90)
        got = spark.read.parquet(f"{d}/out").collect()
        # one NULL-text keeper AND one empty-text keeper survive
        assert len(got) == 2
        assert {r["text"] for r in got} == {None, ""}
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_sessionize_stream_matches_batch(spark):
    """Custom stateful sessionization (applyInPandasWithState):
    streamed closed sessions must equal the batch lag+running-sum
    sessionization of the same events, with still-open sessions (the
    far-future sentinel's) withheld."""
    import datetime
    import glob
    import os
    import shutil
    import tempfile

    from logparser_spark.streaming.pipeline import sessionize_stream

    d = tempfile.mkdtemp(prefix="sess_")
    try:
        t0 = datetime.datetime(2026, 1, 1, 0, 0, 0)

        def ts(minute):
            return t0 + datetime.timedelta(minutes=minute)

        def mkfile(name, rows, mtime):
            df = spark.createDataFrame(
                rows, "user_id bigint, ts timestamp"
            )
            df.coalesce(1).write.parquet(f"{d}/tmp_{name}")
            src = glob.glob(f"{d}/tmp_{name}/*.parquet")[0]
            os.makedirs(f"{d}/src", exist_ok=True)
            dst = f"{d}/src/{name}.parquet"
            shutil.copy(src, dst)
            os.utime(dst, (mtime, mtime))

        users = range(3)
        # session A: 4 events 5 min apart; session B (90 min later,
        # beyond the 30-min gap): 2 events; staggered per user
        f1 = [(u, ts(u + 5 * k)) for u in users for k in range(4)]
        f2 = [(u, ts(u + 90 + 7 * k)) for u in users for k in range(2)]
        # sentinel far in the future: closes everything via watermark,
        # then stays open itself (never emitted)
        f3 = [(u, ts(24 * 60)) for u in users]
        mkfile("p0", f1, 1_000_000)
        mkfile("p1", f2, 1_000_100)
        mkfile("p2", f3, 1_000_200)

        stream = (
            spark.readStream.schema("user_id bigint, ts timestamp")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{d}/src")
        )
        out = sessionize_stream(stream, gap_minutes=30)
        q = (
            out.writeStream.format("parquet")
            .option("path", f"{d}/out")
            .option("checkpointLocation", f"{d}/ckpt")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

        got = {
            (r["user_id"], r["session_start"]): (
                r["session_end"], r["n_events"]
            )
            for r in spark.read.parquet(f"{d}/out").collect()
        }

        def us(minute):
            return int(ts(minute).timestamp() * 1_000_000)

        expect = {}
        for u in users:
            expect[(u, us(u))] = (us(u + 15), 4)
            expect[(u, us(u + 90))] = (us(u + 97), 2)
        assert got == expect
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_cms_stream_equals_batch_and_replay_idempotent(spark):
    """Streaming CMS maintenance: the merged sketch after consuming N
    source files equals the batch sketch over all rows (the union-sum
    merge law, incrementally applied), and re-invoking the writer with
    the last batch id is a no-op (at-least-once foreachBatch ->
    effectively-once counters)."""
    import os
    import shutil
    import tempfile

    from logparser_spark.operators.sketch import cms_build
    from logparser_spark.streaming import pipeline as SP

    d = tempfile.mkdtemp(prefix="scms_")
    try:
        texts = []
        for f in range(3):
            rows = [(f * 100 + i,
                     f"alpha beta{i % 4} gamma{(f + i) % 3} alpha")
                    for i in range(12)]
            texts.extend(t for _i, t in rows)
            spark.createDataFrame(
                rows, "doc_id bigint, text string"
            ).coalesce(1).write.mode(
                "append" if f else "overwrite"
            ).parquet(f"{d}/src")

        stream = SP.stream_pages(spark, f"{d}/src", max_files=1,
                                 schema="doc_id bigint, text string")
        q = SP.cms_stream(stream, d, depth=4, width=32).start()
        q.awaitTermination(120)

        got = {
            (r["r"], r["bucket"]): r["cnt"]
            for r in spark.read.parquet(f"{d}/cms_sketch").collect()
        }
        all_docs = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)],
            "doc_id bigint, text string",
        )
        want = {
            (r["r"], r["bucket"]): r["cnt"]
            for r in cms_build(all_docs, depth=4, width=32).collect()
        }
        assert got == want

        # replay the LAST batch id directly: detected and skipped
        last_id = spark.read.parquet(f"{d}/cms_sketch") \
            .select("__batch_id").head()["__batch_id"]
        merger = SP.make_cms_merger(d, depth=4, width=32)
        batch_df = spark.createDataFrame(
            [(999, "alpha alpha alpha")], "doc_id bigint, text string"
        )
        merger(batch_df, last_id)
        got2 = {
            (r["r"], r["bucket"]): r["cnt"]
            for r in spark.read.parquet(f"{d}/cms_sketch").collect()
        }
        assert got2 == want

        # a NEW batch id must merge (alpha count rises by 3 in every
        # row of alpha's buckets)
        merger(batch_df, last_id + 1)
        got3 = {
            (r["r"], r["bucket"]): r["cnt"]
            for r in spark.read.parquet(f"{d}/cms_sketch").collect()
        }
        assert sum(got3.values()) == sum(want.values()) + 3 * 4
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_cms_stream_checkpoint_reset_raises(spark):
    """Resetting a stream's checkpoint restarts its batch ids at 0 while
    the merged sketch still carries the last applied id: the merger must
    raise (naming the reset), not drop the restarted batches as replays."""
    import os
    import shutil
    import tempfile

    from pyspark.errors import StreamingQueryException

    from logparser_spark.streaming import pipeline as SP

    d = tempfile.mkdtemp(prefix="scms_reset_")
    try:
        for f in range(2):
            spark.createDataFrame(
                [(f * 10 + i, f"alpha beta{i}") for i in range(4)],
                "doc_id bigint, text string",
            ).coalesce(1).write.mode(
                "append" if f else "overwrite"
            ).parquet(f"{d}/src")

        def run():
            stream = SP.stream_pages(spark, f"{d}/src", max_files=1,
                                     schema="doc_id bigint, text string")
            q = SP.cms_stream(stream, d, depth=4, width=32).start()
            q.awaitTermination(120)

        run()
        before = sorted(tuple(r) for r in
                        spark.read.parquet(f"{d}/cms_sketch").collect())
        shutil.rmtree(os.path.join(d, "_ckpt"))
        with pytest.raises(StreamingQueryException,
                           match="checkpoint was reset"):
            run()
        after = sorted(tuple(r) for r in
                       spark.read.parquet(f"{d}/cms_sketch").collect())
        assert after == before
    finally:
        shutil.rmtree(d, ignore_errors=True)
