"""Streaming keep-latest upsert: the incrementally-maintained winners
table equals the batch keep_latest over the full revision history, and
an at-least-once replay of a micro-batch is a detected no-op."""

from __future__ import annotations

import datetime
import glob
import os
import shutil
import tempfile

import pytest


SCHEMA = "url string, warc_ts timestamp, text string"


def _rows():
    t0 = datetime.datetime(2026, 1, 1)

    def ts(d):
        return t0 + datetime.timedelta(days=d)

    return [
        # u1: three revisions spread across batches, winner in batch 2
        ("u1", ts(0), "v1"), ("u1", ts(1), "v2"), ("u1", ts(2), "v3"),
        # u2: winner arrives EARLY (batch 0), later batches are older
        ("u2", ts(9), "late-wins"), ("u2", ts(1), "old"),
        ("u2", ts(2), "older"),
        # u3: single revision
        ("u3", ts(5), "only"),
    ]


def _write_batches(spark, d, rows, n_files=3):
    os.makedirs(f"{d}/revs", exist_ok=True)
    chunk = max(1, (len(rows) + n_files - 1) // n_files)
    for fi in range(n_files):
        part = rows[fi * chunk:(fi + 1) * chunk]
        if not part:
            continue
        df = spark.createDataFrame(part, SCHEMA)
        tmp = f"{d}/tmp_{fi}"
        df.coalesce(1).write.parquet(tmp)
        src = glob.glob(f"{tmp}/*.parquet")[0]
        dst = f"{d}/revs/f{fi}.parquet"
        shutil.copy(src, dst)
        os.utime(dst, (1_000_000 + fi, 1_000_000 + fi))


def _winners(spark, out):
    df = spark.read.parquet(f"{out}/latest").drop("__batch_id")
    return {
        r.url: (r.warc_ts, r.digest, r.n_revisions, r.text)
        for r in df.collect()
    }


def test_stream_keep_latest_equals_batch(spark):
    from logparser_spark.operators.diffsnap import keep_latest
    from logparser_spark.streaming.pipeline import keep_latest_stream

    d = tempfile.mkdtemp(prefix="sklatest_")
    try:
        rows = _rows()
        _write_batches(spark, d, rows)
        stream = (
            spark.readStream.schema(SCHEMA)
            .option("maxFilesPerTrigger", 1).parquet(f"{d}/revs")
        )
        out = f"{d}/out"
        q = keep_latest_stream(stream, out, carry=("text",)).start()
        q.awaitTermination(120)

        batch = {
            r.url: (r.warc_ts, r.digest, r.n_revisions, r.text)
            for r in keep_latest(
                spark.createDataFrame(rows, SCHEMA),
                "url", "warc_ts", cols=("text",), carry=("text",)
            ).collect()
        }
        got = _winners(spark, out)
        assert got == batch
        assert got["u1"][3] == "v3" and got["u1"][2] == 3
        assert got["u2"][3] == "late-wins" and got["u2"][2] == 3
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_keep_latest_merger_replay_is_noop(spark):
    from logparser_spark.streaming.pipeline import make_keep_latest_merger

    d = tempfile.mkdtemp(prefix="sklreplay_")
    try:
        rows = _rows()
        merger = make_keep_latest_merger(d, carry=("text",))
        b0 = spark.createDataFrame(rows[:4], SCHEMA)
        b1 = spark.createDataFrame(rows[4:], SCHEMA)
        merger(b0, 0)
        merger(b1, 1)
        before = _winners(spark, d)
        merger(b1, 1)  # at-least-once replay
        assert _winners(spark, d) == before
        # an OLDER batch id is never a Structured Streaming replay (the
        # checkpoint was reset): it raises instead of double-counting
        # n_revisions or silently dropping a new batch
        with pytest.raises(ValueError, match="checkpoint was reset"):
            merger(b0, 0)
        assert _winners(spark, d) == before
        # a genuinely new batch still merges
        t9 = datetime.datetime(2026, 3, 1)
        merger(spark.createDataFrame([("u3", t9, "newer")], SCHEMA), 2)
        after = _winners(spark, d)
        assert after["u3"][3] == "newer" and after["u3"][2] == 2
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_merge_latest_is_order_invariant(spark):
    from logparser_spark.operators.diffsnap import keep_latest, merge_latest

    rows = _rows()
    a = keep_latest(spark.createDataFrame(rows[:3], SCHEMA),
                    "url", "warc_ts", cols=("text",), carry=("text",))
    b = keep_latest(spark.createDataFrame(rows[3:], SCHEMA),
                    "url", "warc_ts", cols=("text",), carry=("text",))
    ab = {tuple(r) for r in
          merge_latest(a, b, carry=("text",)).collect()}
    ba = {tuple(r) for r in
          merge_latest(b, a, carry=("text",)).collect()}
    full = {tuple(r) for r in keep_latest(
        spark.createDataFrame(rows, SCHEMA), "url", "warc_ts",
        cols=("text",), carry=("text",)).collect()}
    assert ab == ba == full
