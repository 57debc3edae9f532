"""Structured Streaming variant of the parse→enrich→route pipeline.

The reference is strictly batch+interactive (no tail -f, SURVEY §2.8),
and the north rule mandates a batch pipeline — this module exists so the
same compiled format specs, filter DSL and routing semantics run
unchanged over a stream (e.g. pages landing in an object-store prefix,
the streaming analog of a crawl feed):

- the parse stage is the SAME Arrow UDF (vectorized UDFs are
  streaming-safe: stateless, per-batch);
- routing fans out inside ``foreachBatch``: one micro-batch is persisted
  once and each sink writes the rows its ``route.sink_column`` verdict
  accepts (the same predicate the batch writer and ``route_mask`` use);
- watermarked per-window aggregates handle late data for the
  matched-format counts.

Checkpointing uses Spark's own streaming checkpoint (offsets + state),
orthogonal to the batch lineage protocol in plans/checkpoint.py.
"""

from __future__ import annotations

from typing import Optional

from ..functions.formats import FormatSpec
from ..operators.route import SinkSpec, check_sink_names, sink_column


def stream_pages(spark, path: str, schema=None, max_files: int = 10):
    """readStream over a parquet directory of pages (schema required by
    streaming; defaults to the canonical pages schema)."""
    from pyspark.sql import types as T

    if schema is None:
        schema = T.StructType(
            [
                T.StructField("url", T.StringType()),
                T.StructField("warc_ts", T.TimestampType()),
                T.StructField("html", T.BinaryType()),
                T.StructField("text", T.StringType()),
                T.StructField("lang", T.StringType()),
                T.StructField("doc_id", T.LongType()),
            ]
        )
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files)
        .parquet(path)
    )


def parse_stream(stream_df, spec: FormatSpec,
                 keep_cols: Optional[list] = None):
    """explode + parse on a streaming DataFrame (same operators as
    batch; both are stateless projections so Structured Streaming
    accepts them unchanged)."""
    from ..operators.parse import explode_lines, parse_lines

    lines = explode_lines(
        stream_df, keep_cols=keep_cols or ["doc_id", "url", "lang"]
    )
    return parse_lines(lines, spec)


def make_batch_writer(sinks: list[SinkSpec], spec: FormatSpec,
                      base_path: str):
    """The foreachBatch writer, exposed for direct (re)invocation in
    tests: routes one micro-batch to every sink from a single cached
    parse result.

    Effectively-once per sink: foreachBatch alone is at-least-once (a
    retried micro-batch after a partial sink write would duplicate rows
    under plain appends), so each sink is written partitionBy
    ``__batch_id`` with DYNAMIC partition overwrite — a replayed batch
    id atomically replaces exactly its own partition, leaving every
    other batch's data untouched. Readers need no dedup.

    Sink names are checked here, when the writer is built (so
    ``route_stream`` raises before the stream starts): a duplicate name
    would make one sink's overwrite replace another's rows.
    """
    check_sink_names(sinks)

    def write_batch(batch_df, batch_id: int):
        from pyspark.sql import functions as F

        batch_df = batch_df.persist()
        try:
            for s in sinks:
                out = batch_df.filter(sink_column(s, spec))
                (
                    out.withColumn("__batch_id", F.lit(batch_id))
                    .write.mode("overwrite")
                    .option("partitionOverwriteMode", "dynamic")
                    .partitionBy("__batch_id")
                    .parquet(f"{base_path}/{s.name}")
                )
        finally:
            batch_df.unpersist()

    return write_batch


def route_stream(parsed_stream, sinks: list[SinkSpec], spec: FormatSpec,
                 base_path: str, checkpoint_dir: str):
    """Fan-out streaming sink: one foreachBatch writer per micro-batch
    (see ``make_batch_writer`` for the effectively-once semantics)."""
    return (
        parsed_stream.writeStream.foreachBatch(
            make_batch_writer(sinks, spec, base_path)
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )


def dedup_stream(stream_df, ts_col: str = "warc_ts",
                 watermark: str = "10 minutes",
                 key_cols: tuple = ("text",)):
    """Streaming exact dedup with BOUNDED state — the streaming analog
    of ``operators.dedup.exact_dedup``.

    Two scale properties a naive ``dropDuplicates`` lacks:

    - state stores a 32-byte md5 digest of the key columns, never the
      document bodies (the same digests-not-bodies rule as the batch
      dedup shuffle);
    - ``dropDuplicatesWithinWatermark`` evicts state once the
      event-time watermark passes the first occurrence plus the delay,
      so state size is O(rows per watermark horizon), not O(all rows
      ever seen) — the only viable contract for an unbounded crawl
      feed. Duplicates farther apart than the horizon deliberately
      re-emit (eviction is applied at micro-batch end, so the re-emit
      can lag one batch; cross-horizon dedup belongs to a periodic
      batch compaction over the sink).

    First occurrence (in arrival order) wins, matching the batch
    keep-first rule within any watermark window.
    """
    from pyspark.sql import functions as F

    df = stream_df.withWatermark(ts_col, watermark)
    # null-safe key: concat_ws SKIPS nulls, so (NULL) and ('') — or
    # ('a', NULL) and (NULL, 'a') — would collide; tag every part as
    # either the null marker or "v"+value so distinct tuples stay
    # distinct (values always start with "v", the marker never does)
    parts = [
        F.when(F.col(c).isNull(), F.lit("\x00"))
        .otherwise(F.concat(F.lit("v"), F.col(c).cast("string")))
        for c in key_cols
    ]
    digest = F.md5(F.concat_ws("\x1f", *parts))
    return (
        df.withColumn("__k", digest)
        .dropDuplicatesWithinWatermark(["__k"])
        .drop("__k")
    )


def windowed_format_counts(parsed_stream, ts_col: str = "warc_ts",
                           window: str = "1 minute",
                           watermark: str = "2 minutes"):
    """Watermarked per-window matched-format counts (late rows beyond
    the watermark are dropped deterministically)."""
    from pyspark.sql import functions as F

    return (
        parsed_stream.withWatermark(ts_col, watermark)
        .groupBy(
            F.window(ts_col, window).alias("win"),
            F.col("matched_format"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("win.start").alias("win_start"),
            "matched_format",
            "n",
        )
    )


SESSION_SCHEMA = (
    "user_id long, session_start long, session_end long, n_events long"
)
_SESSION_STATE_SCHEMA = "start long, last long, n long"


def sessionize_stream(events, user_col: str = "user_id",
                      ts_col: str = "ts", gap_minutes: int = 30,
                      watermark: str = "1 minute"):
    """Streaming session windows with a custom stateful operator
    (``applyInPandasWithState`` + event-time timeout) — the gap rule
    Spark's built-in ``session_window`` aggregate can't express once a
    pipeline needs per-session payloads beyond simple aggregates, and
    the streaming analog of the batch lag+running-sum sessionization
    (``q_events_sessions``).

    Semantics: per user, events closer than ``gap_minutes`` chain into
    one session; a session CLOSES (and is emitted exactly once, in
    append mode) when the event-time watermark passes its last event
    plus the gap. In-flight sessions hold state of three longs —
    O(active users), not O(events) — and late events beyond the
    watermark are dropped by the engine before reaching the operator.

    Output rows: ``(user_id, session_start, session_end, n_events)``
    with timestamps as epoch microseconds (integer-exact across
    engines).

    Scale shape: one shuffle on ``user_col`` (the grouping the
    semantics force); state is per-key constant-size; timeouts make
    progress even on idle keys (no data needed to flush a closed
    session — an eviction-at-watermark contract like
    ``dedup_stream``'s, so emission can lag one micro-batch after the
    watermark passes).
    """
    import pandas as pd

    from pyspark.sql.streaming.state import (
        GroupState,
        GroupStateTimeout,
    )

    gap_us = gap_minutes * 60 * 1_000_000
    cols = ["user_id", "session_start", "session_end", "n_events"]

    def fn(key, pdfs, state: GroupState):
        (uid,) = key
        if state.hasTimedOut:
            s, last, n = state.get
            state.remove()
            yield pd.DataFrame([(uid, s, last, n)], columns=cols)
            return
        ts_us: list[int] = []
        for pdf in pdfs:
            ts_us.extend(
                pd.to_datetime(pdf[ts_col])
                .astype("datetime64[us]").astype("int64").tolist()
            )
        ts_us.sort()
        if state.exists:
            s, last, n = state.get
        else:
            s = last = None
            n = 0
        closed = []
        for t in ts_us:
            if s is None:
                s = last = t
                n = 1
            elif t - last > gap_us:
                closed.append((uid, s, last, n))
                s = last = t
                n = 1
            else:
                last = max(last, t)
                n += 1
        if s is not None:
            wm_ms = state.getCurrentWatermarkMs()
            timeout_ms = (last + gap_us) // 1000
            if timeout_ms <= wm_ms:
                # the watermark already passed this session's horizon
                # (e.g. it closed within this batch's own span): emit
                # now — a timeout for the past would be rejected
                closed.append((uid, s, last, n))
                if state.exists:
                    state.remove()
            else:
                state.update((s, last, n))
                state.setTimeoutTimestamp(timeout_ms)
        yield pd.DataFrame(closed, columns=cols)

    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(user_col)
        .applyInPandasWithState(
            fn,
            outputStructType=SESSION_SCHEMA,
            stateStructType=_SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def cms_stream(stream_df, out_dir: str, depth: int = 4,
               width: int = 64, text_col: str = "text"):
    """Streaming count-min sketch maintenance: every micro-batch
    builds its own bounded sketch (``sketch.cms_build``, shuffle ≤
    depth × width rows per map partition) and MERGES it into the
    persisted sketch table with the documented merge law —
    ``union → groupBy(r, bucket) → sum`` — inside ``foreachBatch``.
    The merged table is overwritten atomically per batch alongside a
    ``__batch_id`` column, so a replayed micro-batch (foreachBatch is
    at-least-once) detects itself and SKIPS the merge instead of
    double-counting: effectively-once counters, the same dynamic-
    overwrite idempotency contract as ``make_batch_writer``.

    State size is the sketch itself (depth × width rows) — constant
    in stream length, the whole point of sketching a stream."""
    import os

    return (
        stream_df.writeStream.foreachBatch(
            make_cms_merger(out_dir, depth=depth, width=width,
                            text_col=text_col)
        )
        .option("checkpointLocation", os.path.join(out_dir, "_ckpt"))
        .trigger(availableNow=True)
    )


def _is_replay(batch_id: int, applied, out_dir: str) -> bool:
    """Replay check for the ``__batch_id``-stamped merge tables. Batch
    ids are monotone, so ``batch_id == applied`` is an at-least-once
    replay of the last merged batch (a no-op). A SMALLER id is never a
    Structured Streaming replay: the stream's checkpoint was reset (or
    deleted) while its merged table was kept, so ids restarted at 0.
    Dropping it would lose new data and merging it could double-count
    re-read data, so it raises."""
    if applied is None or batch_id > applied:
        return False
    if batch_id == applied:
        return True
    raise ValueError(
        f"batch {batch_id} arrived after batch {applied} was merged into "
        f"{out_dir!r}: batch ids went backwards, which means the stream's "
        "checkpoint was reset; start the reset stream with a new out_dir "
        "(or remove the merged table) instead of reusing this one"
    )


def make_cms_merger(out_dir: str, depth: int = 4, width: int = 64,
                    text_col: str = "text"):
    """The ``foreachBatch`` merger behind :func:`cms_stream`, exposed
    for direct (re)invocation — the replay-idempotency tests call it
    with a repeated batch id and assert the sketch is untouched."""
    import os

    from pyspark.sql import functions as F

    from ..operators.sketch import cms_build

    sk_path = os.path.join(out_dir, "cms_sketch")

    def merge_batch(batch_df, batch_id: int):
        from pyspark.errors import AnalysisException

        spark = batch_df.sparkSession
        new = cms_build(batch_df, depth=depth, width=width,
                        text_col=text_col)
        try:
            # eager localCheckpoint: materialize BEFORE overwriting the
            # same path (Spark refuses to overwrite a path still in the
            # read plan); the sketch is depth x width rows by contract,
            # so the materialized copy is O(1)
            prev = spark.read.parquet(sk_path).localCheckpoint(eager=True)
        except AnalysisException:
            # ONLY the first-batch case (sketch path does not exist yet)
            # seeds from the new batch alone; any OTHER read failure
            # (transient IO, corrupt footer) must propagate — falling
            # back there would silently RESET the accumulated sketch to
            # one batch's counts
            merged = prev = None
        if prev is not None:
            # batch ids are monotone, so the whole-table stamp is the
            # max APPLIED id
            applied = prev.agg(
                F.max("__batch_id").alias("m")).first()["m"]
            if _is_replay(batch_id, applied, out_dir):
                return  # replay of the last merged batch: no-op
            merged = (
                prev.select("r", "bucket", "cnt").unionAll(new)
                .groupBy("r", "bucket")
                .agg(F.sum("cnt").cast("long").alias("cnt"))
            )
        else:
            merged = new
        (
            merged.withColumn("__batch_id", F.lit(batch_id))
            .coalesce(1)
            .write.mode("overwrite").parquet(sk_path)
        )

    return merge_batch


def interval_join_streams(left, right,
                          key: str = "user_id",
                          left_ts: str = "l_ts", right_ts: str = "r_ts",
                          horizon_secs: int = 60,
                          watermark_secs: int = 120):
    """Stream-stream interval join — the attribution shape (impression
    stream ⋈ click stream: a click joins the impression it followed
    within ``horizon_secs``). Both sides are watermarked so Spark can
    BOUND the join state: without watermarks + a time-range condition a
    stream-stream join must buffer both streams forever; with them,
    rows older than (watermark + horizon) are evicted — state is
    O(rate × horizon) regardless of stream length, the property that
    keeps this runnable on an unbounded crawl feed.

    The join condition is ``key equality AND right_ts ∈ [left_ts,
    left_ts + horizon_secs]`` — equality keys partition state, the
    range bounds eviction. Inner join: late rows past the watermark are
    dropped by construction (the documented trade; the batch
    equivalent of this operator sees them, which is why the pytest
    replays stream == batch only within the watermark).
    """
    from pyspark.sql import functions as F

    lw = left.withWatermark(left_ts, f"{watermark_secs} seconds")
    rw = right.withWatermark(right_ts, f"{watermark_secs} seconds")
    cond = (
        (lw[key] == rw[key])
        & (rw[right_ts] >= lw[left_ts])
        & (rw[right_ts] <= lw[left_ts]
           + F.expr(f"INTERVAL {int(horizon_secs)} SECONDS"))
    )
    return lw.join(rw, cond, "inner").select(
        lw[key].alias(key),
        lw[left_ts].alias(left_ts),
        rw[right_ts].alias(right_ts),
    )


def keep_latest_stream(stream_df, out_dir: str, key_col: str = "url",
                       ts_col: str = "warc_ts", cols: tuple = ("text",),
                       carry: tuple = ()):
    """Streaming keep-latest upsert — the crawl-feed revision table
    maintained incrementally: every micro-batch reduces to its own
    winners (``diffsnap.keep_latest``) and folds into the persisted
    winners table with the mergeable-summary law
    (``diffsnap.merge_latest``: winners combine by
    ``max(struct(ts, digest, carry...))``, revision counts ADD) inside
    ``foreachBatch``. The ``__batch_id`` column makes an at-least-once
    replay a detected no-op — without it a replay would double-count
    ``n_revisions`` even though the winner itself is max-idempotent.

    State is the winners table: one row per key, never the revision
    history — constant in stream length per key."""
    import os

    return (
        stream_df.writeStream.foreachBatch(
            make_keep_latest_merger(out_dir, key_col=key_col,
                                    ts_col=ts_col, cols=cols,
                                    carry=carry)
        )
        .option("checkpointLocation", os.path.join(out_dir, "_ckpt"))
        .trigger(availableNow=True)
    )


def make_keep_latest_merger(out_dir: str, key_col: str = "url",
                            ts_col: str = "warc_ts",
                            cols: tuple = ("text",), carry: tuple = ()):
    """The ``foreachBatch`` merger behind :func:`keep_latest_stream`,
    exposed for direct (re)invocation — replay-idempotency tests call
    it with a repeated batch id and assert the winners are untouched.
    Same first-batch-only seed / eager-localCheckpoint-before-overwrite
    contract as :func:`make_cms_merger`.

    Replay detection: batch ids are MONOTONE (Structured Streaming's
    contract; direct callers inherit it), so the whole-table
    ``__batch_id`` stamp written by the last merge IS the max applied
    id. An incoming ``batch_id == max`` is a detected replay and a
    no-op; a smaller one means the stream's checkpoint was reset and
    raises ``ValueError`` (see :func:`_is_replay`)."""
    import os

    from pyspark.sql import functions as F

    from ..operators.diffsnap import keep_latest, merge_latest

    win_path = os.path.join(out_dir, "latest")

    def merge_batch(batch_df, batch_id: int):
        from pyspark.errors import AnalysisException

        spark = batch_df.sparkSession
        new = keep_latest(batch_df, key_col, ts_col,
                          cols=cols, carry=carry)
        try:
            prev = spark.read.parquet(win_path).localCheckpoint(
                eager=True)
        except AnalysisException:
            prev = None  # first batch only; other read errors propagate
        if prev is not None:
            applied = prev.agg(
                F.max("__batch_id").alias("m")).first()["m"]
            if _is_replay(batch_id, applied, out_dir):
                return  # replay of the last merged batch: no-op
            merged = merge_latest(prev, new, key_col=key_col,
                                  ts_col=ts_col, carry=carry)
        else:
            merged = new
        (
            merged.withColumn("__batch_id", F.lit(batch_id))
            .write.mode("overwrite").parquet(win_path)
        )

    return merge_batch
