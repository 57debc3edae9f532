"""Skew handling: AQE configuration + salting recipes for hot keys.

The synthesized corpus is deliberately Zipf-skewed (70% of pages live on
3 hot hosts — sources/pages.py), mirroring real Common-Crawl host
distributions. Any groupBy/join keyed on ``url_host`` therefore has
three partitions carrying ~23% of all rows each. Two standard fixes,
both here:

- **AQE** (`skew_profile`, for one block of work): adaptive skew-join
  splitting + partition coalescing — zero code changes, works when skew
  appears at join time.
- **Salting** (`salted_count`, `add_salt`): pre-aggregate on
  (key, salt) so every reducer sees ~rows/K of any hot key, then
  combine. The classic two-stage aggregation; Catalyst's partial
  aggregation already does this for simple counts, so explicit salting
  matters for high-cardinality payload aggs (collect_set, percentile)
  and for joins against per-key tables.
"""

from __future__ import annotations

from contextlib import contextmanager

AQE_SKEW_CONFS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8m",
}


@contextmanager
def skew_profile(spark):
    """The AQE skew profile on ``spark`` inside the ``with`` block only:
    afterwards each option reads as it did before, and one that was unset
    is unset again."""
    before = {k: spark.conf.get(k, None) for k in AQE_SKEW_CONFS}
    for k, v in AQE_SKEW_CONFS.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in before.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def add_salt(df, key_col: str, k: int = 16, salt_col: str = "__salt",
             row_col: str = "line_no"):
    """Deterministic salt in [0, k): spreads each hot key over k
    reducers. Derived from a row-level column (not random) so re-runs
    are reproducible and the checkpoint/resume path stays idempotent."""
    from pyspark.sql import functions as F

    return df.withColumn(
        salt_col, F.pmod(F.col(row_col), F.lit(k)).cast("int")
    )


def salted_count(df, key_col: str, k: int = 16, row_col: str = "line_no"):
    """Two-stage skew-proof count by key: groupBy(key, salt) partials,
    then groupBy(key) sum. Returns (key, n)."""
    from pyspark.sql import functions as F

    salted = add_salt(df, key_col, k, row_col=row_col)
    partial = salted.groupBy(key_col, "__salt").agg(
        F.count(F.lit(1)).alias("pn")
    )
    return partial.groupBy(key_col).agg(F.sum("pn").cast("long").alias("n"))


def salted_distinct_count(df, key_col: str, value_col: str, k: int = 16):
    """Skew-proof countDistinct(value) per key: stage 1 dedups
    (key, salt, value) partials, stage 2 dedups (key, value), stage 3
    counts — no single reducer ever holds a hot key's full value set."""
    from pyspark.sql import functions as F

    salted = df.withColumn(
        "__salt",
        F.pmod(F.abs(F.hash(F.col(value_col))), F.lit(k)).cast("int"),
    )
    s1 = salted.select(key_col, "__salt", value_col).distinct()
    s2 = s1.select(key_col, value_col).distinct()
    return s2.groupBy(key_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_distinct")
    )
