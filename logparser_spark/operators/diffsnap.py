"""Snapshot diff — change detection between two crawl/corpus
snapshots (the incremental-recrawl primitive: what was added, what
vanished, what changed content, what is byte-identical). Joins by id
and compares CONTENT DIGESTS, so the shuffle carries ids + fixed-width
md5 hex, never document bodies.

Status semantics (pinned for the oracle):

- ``added``      — id only in ``new``;
- ``removed``    — id only in ``old``;
- ``changed``    — id in both, digest differs (NULL content counts as
  a distinct digest value via the null marker, so NULL→value and
  value→NULL are changes);
- ``unchanged``  — id in both, digest equal.

Scale shape: one full-outer hash join on the id (both sides reduced
to (id, digest) projections first — column pruning keeps the scan
narrow), then a map-only status expression. At 10^12 rows this is the
minimal possible shape for an exact diff; pre-bucketed snapshot tables
make it co-located.
"""

from __future__ import annotations

from typing import Sequence


def snapshot_diff(old, new, id_col: str = "doc_id",
                  cols: Sequence[str] = ("text",)):
    """Row-level diff: ``(id_col, status)`` for every id in either
    snapshot, plus ``old_digest`` / ``new_digest`` (md5 hex of the
    null-marked concatenation of ``cols``)."""
    from pyspark.sql import functions as F

    def digest(df):
        parts = []
        for c in cols:
            parts.append(
                F.coalesce(F.col(c).cast("string"), F.lit("\x00null"))
            )
            parts.append(F.lit("\x1f"))  # unit separator between cols
        return df.select(
            F.col(id_col).alias("__id"),
            F.md5(F.concat(*parts)).alias("digest"),
        )

    o = digest(old).withColumnRenamed("digest", "old_digest")
    n = digest(new).withColumnRenamed("digest", "new_digest")
    j = o.join(n, "__id", "full_outer")
    status = (
        F.when(F.col("old_digest").isNull(), F.lit("added"))
        .when(F.col("new_digest").isNull(), F.lit("removed"))
        .when(F.col("old_digest") == F.col("new_digest"),
              F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return j.select(
        F.col("__id").alias(id_col),
        status.alias("status"),
        "old_digest",
        "new_digest",
    )


def keep_latest(df, key_col: str = "url", ts_col: str = "warc_ts",
                cols: Sequence[str] = ("text",),
                carry: Sequence[str] = ()):
    """Revision dedup for multi-snapshot crawls: keep exactly ONE row
    per ``key_col`` — the latest ``ts_col``, ties broken by the md5
    digest of ``cols`` (byte-wise hex compare, identical in Spark and
    DuckDB) so re-runs are deterministic even when two captures of a
    URL share a timestamp.

    Output: ``(key_col, ts_col, digest, n_revisions, *carry)`` where
    ``carry`` columns come from the winning revision.

    Scale shape: ONE key-hashed shuffle with full map-side combine —
    the winner is ``max(struct(ts, digest, carry...))``, which partial-
    aggregates per input partition before anything moves, so the
    shuffle carries one candidate row per (partition, key), not the
    revision history. ``carry`` payload rides inside that struct; for
    very wide payloads at 10^12-row scale leave ``carry`` empty (the
    shuffle is then ids + fixed-width digests only) and join winners
    back to the revision store by (key, digest)."""
    from pyspark.sql import functions as F

    parts = []
    for c in cols:
        parts.append(
            F.coalesce(F.col(c).cast("string"), F.lit("\x00null"))
        )
        parts.append(F.lit("\x1f"))
    digest = F.md5(F.concat(*parts))
    fields = [F.col(ts_col).alias("__ts"), digest.alias("__digest")]
    fields += [F.col(c).alias(f"__c_{c}") for c in carry]
    agg = df.groupBy(key_col).agg(
        F.max(F.struct(*fields)).alias("__w"),
        F.count(F.lit(1)).cast("long").alias("n_revisions"),
    )
    out = [
        F.col(key_col),
        F.col("__w.__ts").alias(ts_col),
        F.col("__w.__digest").alias("digest"),
        F.col("n_revisions"),
    ] + [F.col(f"__w.__c_{c}").alias(c) for c in carry]
    return agg.select(*out)


def diff_summary(old, new, id_col: str = "doc_id",
                 cols: Sequence[str] = ("text",)):
    """Aggregate form: one row per status with its count."""
    from pyspark.sql import functions as F

    return (
        snapshot_diff(old, new, id_col, cols)
        .groupBy("status")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
