"""Per-sink aggregates: matched-format counts, field histograms,
per-partition tallies, and parse-success metrics.

Generalizes the reference's test-style counts (SURVEY.md §2.6:
``tests/test_filtered_file_reader.cpp:29,207``) to groupBy aggregates.
All pure Catalyst: partial (map-side) aggregation comes free, so each
aggregate is one shuffle of pre-combined partials — the only scalable
shape at 10^12 rows.
"""

from __future__ import annotations

from typing import Optional

from ..functions.formats import FormatSpec


def counts_by_matched_format(df, col: str = "matched_format"):
    from pyspark.sql import functions as F

    return df.groupBy(col).agg(F.count(F.lit(1)).alias("n"))


def field_histogram(df, field: str, parsed_col: str = "parsed",
                    well_formed_only: bool = True):
    """Value histogram of one parsed field (e.g. Level)."""
    from pyspark.sql import functions as F

    base = df
    if well_formed_only:
        base = base.filter(F.col(f"{parsed_col}.well_formed"))
    return base.groupBy(F.col(f"{parsed_col}.{field}").alias(field)).agg(
        F.count(F.lit(1)).alias("n")
    )


def partition_tally(df):
    """Rows per physical partition — the skew diagnostic
    (spark_partition_id is execution-dependent; for oracle-checkable
    tallies use :func:`bucket_tally`)."""
    from pyspark.sql import functions as F

    return df.groupBy(F.spark_partition_id().alias("partition_id")).agg(
        F.count(F.lit(1)).alias("n")
    )


def bucket_tally(df, key_col: str = "doc_id", buckets: int = 32):
    """Deterministic stand-in for partition tallies: rows per
    ``key % buckets`` bucket. Engine-independent, so DuckDB can verify it."""
    from pyspark.sql import functions as F

    return df.groupBy((F.col(key_col) % buckets).alias("bucket")).agg(
        F.count(F.lit(1)).alias("n")
    )


def parse_metrics(df, parsed_col: str = "parsed"):
    """Aggregate parse-success metrics (total / well-formed / malformed).
    For streaming-free observability attach with ``df.observe`` instead."""
    from pyspark.sql import functions as F

    wf = F.col(f"{parsed_col}.well_formed")
    return df.agg(
        F.count(F.lit(1)).alias("total_lines"),
        F.sum(wf.cast("long")).alias("well_formed_lines"),
        F.sum((~wf).cast("long")).alias("malformed_lines"),
    )


def observe_parse_metrics(df, name: str = "parse_metrics",
                          parsed_col: str = "parsed"):
    """Attach zero-cost accumulator-style metrics to the plan; read them
    from the QueryExecutionListener / ``Observation`` after the action.
    This is the Spark analog of the reference's memoized scan counters
    (SURVEY.md §2.6 lineage row)."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation(name)
    wf = F.col(f"{parsed_col}.well_formed")
    out = df.observe(
        obs,
        F.count(F.lit(1)).alias("total_lines"),
        F.sum(wf.cast("long")).alias("well_formed_lines"),
    )
    return out, obs


def sink_count_frame(parsed_df, sinks, spec: FormatSpec, spark,
                     parsed_col: str = "parsed"):
    """All sink counts in ONE pass: sum each route mask column. No persist
    needed, single parse-UDF evaluation, one job — the scalable shape when
    only counts are required. Each sum is aliased by sink name, so the
    names :func:`~logparser_spark.operators.route.check_sink_names`
    rejects raise ``ValueError``."""
    from pyspark.sql import functions as F

    from .route import check_sink_names, sink_column

    check_sink_names(sinks)
    aggs = [
        F.sum(sink_column(s, spec, parsed_col).cast("long")).alias(s.name)
        for s in sinks
    ]
    row = parsed_df.agg(*aggs).collect()[0]
    data = [(s.name, int(row[s.name] or 0)) for s in sinks]
    return spark.createDataFrame(data, "sink STRING, n BIGINT")
