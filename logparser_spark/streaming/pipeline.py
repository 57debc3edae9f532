"""The log route over a stream: parse → route on Structured Streaming.

The reference is strictly batch+interactive (no tail -f, SURVEY §2.8),
and the north rule mandates a batch pipeline. This module runs the same
compiled format specs, filter DSL and routing semantics unchanged over
a stream of pages landing in a parquet directory, and holds nothing
else:

- ``stream_pages`` reads the pages table as a stream;
- ``parse_stream`` is the batch explode + parse (the parse stage is the
  SAME Arrow UDF; vectorized UDFs are streaming-safe: stateless,
  per-batch);
- ``route_stream`` fans out inside ``foreachBatch``
  (``make_batch_writer``): one micro-batch is persisted once and each
  sink writes the rows its ``route.sink_column`` verdict accepts (the
  same predicate the batch writer and ``route_mask`` use);
- ``windowed_format_counts`` is the watermarked per-window
  matched-format count, which handles late data.

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
