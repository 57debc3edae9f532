"""Per-partition lineage + idempotent resume for the route stage.

The reference's moral ancestor is the memoized ``line_passes`` bitmap +
``valid_line_index`` (SURVEY.md §2.4 V1/V3: never re-evaluate a verdict
once known). At cluster scale that becomes: bucket the input on a stable
key, write each sink's output partitioned by bucket, and record a
lineage entry per bucket AFTER its data is fully committed. A re-run
(after any failure) consults the lineage and reprocesses only buckets
without an entry (write-audit-publish light — on Iceberg this maps to
snapshot/WAP, here to a staged write renamed into place).

One route pass reads its input once and shuffles it once: the to-do rows
are hash-distributed by ``__bucket`` (every bucket in one partition) and
persisted, ONE grouped aggregate over the cache, with no exchange of its
own, gives every per-bucket count the lineage records (rows, well-formed
rows, and per sink its rows and its well-formed level histogram), and
ONE write, dynamic-partitioned by ``(sink, __bucket)``, lands every
sink's rows in a staging directory, one file per (sink, bucket). Each
``sink=<name>/__bucket=<b>`` directory is then renamed to
``{base}/<name>/__bucket=<b>`` after every to-do bucket's old target has
been cleared, and only then are the lineage entries published.

Lineage entry (``{base}/_lineage/bucket_<b>.json``)::

    {"bucket": 3, "rows": 7812, "well_formed_rows": 7313,
     "fingerprint": {"format": ..., "sinks": [[name, filter, accept_bad_format], ...],
                     "buckets": 16, "key_col": "doc_id"},
     "source": "<sha256 of the input identity>" | null,
     "sinks": {"sink_info": {"rows": 1203, "levels": [["INFO", 1013]]}, ...}}

Guarantees (tested in tests/test_checkpoint.py and tests/test_job.py):
- resume after a crash at any point neither duplicates nor drops rows;
- a re-run over a complete lineage is a no-op (0 buckets processed, no
  Spark job);
- a lineage written for another format, sink set, filter, bucket count,
  key or input raises ``ValueError`` instead of being reused;
- per-bucket parse-success metrics (total/well-formed) are recorded in
  the lineage entries — the north rule's "per-partition lineage +
  parse-success metrics".

Scale notes: lineage is O(buckets) driver-side JSON (choose buckets ~
10-100x executor count; at 10^12 rows you'd use 10k-100k buckets and an
Iceberg lineage table instead of JSON files — the protocol is
identical). A run writes at most sinks x buckets data files, whatever
the input's task count; written straight from the input's tasks it
would be up to tasks x sinks x buckets small files (Iceberg's hash write
distribution clusters by partition key for the same reason). The bucket
column is pmod(key, buckets) so the same row always lands in the same
bucket across runs — the precondition for idempotent redo.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import uuid
from collections import Counter
from typing import Optional
from urllib.parse import unquote

from ..functions.formats import FormatSpec
from ..operators.route import (
    SinkSpec,
    check_sink_names,
    routed_sink_ids,
    sink_column,
)

LINEAGE_DIR = "_lineage"
STAGING_PREFIX = "_staging_"
# the field each sink's histogram counts (well-formed rows only)
HIST_FIELD = "Level"


def _lineage_path(base: str) -> str:
    return os.path.join(base, LINEAGE_DIR)


def _schema_path(base: str) -> str:
    return os.path.join(_lineage_path(base), "schema.json")


def _canonical(obj):
    """``obj`` as it reads back from a lineage entry (tuples -> lists)."""
    return json.loads(json.dumps(obj, sort_keys=True))


def fingerprint(spec: FormatSpec, sinks: list[SinkSpec], buckets: int,
                key_col: str) -> dict:
    """What a lineage entry promises: the format, each sink's name,
    canonical filter and malformed-acceptance flag, the bucket count
    and the bucket key. Raises ``ValueError`` for sink names that
    :func:`~logparser_spark.operators.route.check_sink_names` rejects."""
    check_sink_names(sinks)

    def filter_text(s: SinkSpec):
        ast = s.ast(spec)
        return ast.to_string(spec) if ast is not None else None

    return _canonical({
        "format": spec.source,
        "sinks": [[s.name, filter_text(s), s.accept_bad_format] for s in sinks],
        "buckets": buckets,
        "key_col": key_col,
    })


def _source_digest(source: dict) -> str:
    """Digest of an input identity, as stored in each lineage entry."""
    return hashlib.sha256(
        json.dumps(source, sort_keys=True).encode()).hexdigest()


def completed_buckets(base: str) -> dict[int, dict]:
    """bucket_id -> lineage entry, for buckets fully committed."""
    d = _lineage_path(base)
    out: dict[int, dict] = {}
    if not os.path.isdir(d):
        return out
    for fn in os.listdir(d):
        if fn.startswith("bucket_") and fn.endswith(".json"):
            with open(os.path.join(d, fn)) as f:
                e = json.load(f)
            out[int(e["bucket"])] = e
    return out


def verified_buckets(base: str, fp: dict,
                      source: Optional[dict] = None) -> dict[int, dict]:
    """:func:`completed_buckets`, after checking that every entry was
    written for fingerprint ``fp`` (and, when given, for the input
    ``source``). A mismatch raises ``ValueError``: resuming would mix
    outputs of two configurations (e.g. a changed bucket count
    duplicates rows, a changed filter keeps the old rows)."""
    entries = completed_buckets(base)
    want_src = _source_digest(source) if source is not None else None
    for e in entries.values():
        got = e.get("fingerprint") or {}
        changed = sorted(k for k in fp if got.get(k) != fp[k])
        if changed:
            raise ValueError(
                f"lineage under {base!r} was written with a different "
                f"{', '.join(changed)} ({got or 'no fingerprint'} != {fp}); "
                "write to a new output or remove the old one"
            )
        if want_src is not None and e.get("source") != want_src:
            raise ValueError(
                f"lineage under {base!r} was written for a different input "
                "(path, file sizes or mtimes changed); write to a new output "
                "or remove the old one"
            )
    return entries


def _nullable(node):
    """A schema's JSON with every field nullable — the schema a parquet
    scan of the sink reports, so an empty sink reads back the same."""
    if isinstance(node, dict):
        return {k: True if k in ("nullable", "containsNull", "valueContainsNull")
                else _nullable(v) for k, v in node.items()}
    if isinstance(node, list):
        return [_nullable(v) for v in node]
    return node


def _publish(path: str, text: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = os.path.join(os.path.dirname(path), f".{os.path.basename(path)}.tmp")
    with open(tmp, "w") as f:
        f.write(text)
    os.replace(tmp, path)  # atomic publish


def _write_lineage(base: str, entry: dict) -> None:
    _publish(os.path.join(_lineage_path(base), f"bucket_{entry['bucket']}.json"),
             json.dumps(entry))


def _pairs(hist: Counter) -> list:
    """A histogram as [[level, n], ...] in a fixed order (a JSON object
    cannot key a NULL level)."""
    return [[k, n] for k, n in
            sorted(hist.items(), key=lambda kv: (kv[0] is None, str(kv[0])))]


def _bucketed(parsed_df, key_col: str, buckets: int, todo: list[int]):
    """The to-do rows with their ``__bucket``, hash-distributed by it: each
    bucket's rows sit in one partition, so the write makes one file per
    (sink, bucket) whatever the input's task count, and an aggregate
    grouped by ``__bucket`` needs no exchange of its own."""
    from pyspark.sql import functions as F

    return parsed_df.withColumn(
        "__bucket", F.pmod(F.col(key_col), F.lit(buckets)).cast("int")
    ).filter(F.col("__bucket").isin(todo)).repartition(F.col("__bucket"))


def _stats_frame(work, sinks: list[SinkSpec], spec: FormatSpec,
                 parsed_col: str):
    """ONE aggregate over the bucketed frame, grouped by (bucket,
    well_formed, level): the row count and, per sink, its routed rows."""
    from pyspark.sql import functions as F

    wf = F.col(f"{parsed_col}.well_formed")
    level = (F.col(f"{parsed_col}.{HIST_FIELD}")
             if HIST_FIELD in spec.column_names() else F.lit(None))
    return work.groupBy(
        "__bucket", wf.alias("wf"), level.alias("level")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        *[F.sum(sink_column(s, spec, parsed_col).cast("long")).alias(f"s{i}")
          for i, s in enumerate(sinks)],
    )


def _bucket_stats(work, sinks: list[SinkSpec], spec: FormatSpec,
                  parsed_col: str, todo: list[int]) -> dict[int, dict]:
    """Per bucket its rows and well-formed rows, and per sink its rows and
    its well-formed level histogram, from :func:`_stats_frame`."""
    rows = _stats_frame(work, sinks, spec, parsed_col).collect()

    stats = {b: {"rows": 0, "well_formed_rows": 0,
                 "sinks": {s.name: [0, Counter()] for s in sinks}}
             for b in todo}
    for r in rows:
        st = stats[r["__bucket"]]
        st["rows"] += r["n"]
        if r["wf"]:
            st["well_formed_rows"] += r["n"]
        for i, s in enumerate(sinks):
            k = r[f"s{i}"]
            sink = st["sinks"][s.name]
            sink[0] += k
            if r["wf"] and k:
                sink[1][r["level"]] += k
    return stats


def _write_staged(work, sinks: list[SinkSpec], spec: FormatSpec, base: str,
                  todo: list[int], parsed_col: str) -> None:
    """ONE write of every sink's rows, partitioned by (sink, bucket), into
    a staging directory; then every (sink, to-do bucket) target is cleared
    (also where the redo wrote no rows) and the staged bucket directories
    are renamed into ``{base}/<sink>/__bucket=<b>``."""
    from pyspark.sql import functions as F

    staging = os.path.join(base, f"{STAGING_PREFIX}{uuid.uuid4().hex}")
    (
        work.withColumn("sink", F.explode(routed_sink_ids(sinks, spec, parsed_col)))
        .write.partitionBy("sink", "__bucket").parquet(staging)
    )
    for s in sinks:
        for b in todo:
            target = os.path.join(base, s.name, f"__bucket={b}")
            if os.path.isdir(target):
                shutil.rmtree(target)
    for sink_dir in os.listdir(staging):
        if not sink_dir.startswith("sink="):
            continue
        dst = os.path.join(base, unquote(sink_dir[len("sink="):]))
        os.makedirs(dst, exist_ok=True)
        for bucket_dir in os.listdir(os.path.join(staging, sink_dir)):
            if bucket_dir.startswith("__bucket="):
                os.rename(os.path.join(staging, sink_dir, bucket_dir),
                          os.path.join(dst, bucket_dir))
    shutil.rmtree(staging)


def route_checkpointed(
    parsed_df,
    sinks: list[SinkSpec],
    spec: FormatSpec,
    base: str,
    buckets: int = 32,
    key_col: str = "doc_id",
    parsed_col: str = "parsed",
    fail_after_buckets: Optional[int] = None,
    source: Optional[dict] = None,
):
    """Run the fan-out route stage with per-bucket lineage.

    Returns {"processed": [...], "skipped": [...]}. Buckets already in
    the lineage are filtered out BEFORE the parse output is scanned
    (predicate on the bucket column — at scale, partition pruning); when
    none is left, no Spark job runs. ``source`` identifies the input
    (``run_job`` passes its path, file sizes and mtimes); it is recorded
    in each entry and, when given, must match the existing lineage.
    ``fail_after_buckets`` injects a crash after N bucket commits (0 =
    after the sink data is in place, before any lineage publish) — the
    test hook for the kill-and-rerun invariant.
    """
    fp = fingerprint(spec, sinks, buckets, key_col)
    done = set(verified_buckets(base, fp, source))
    todo = [b for b in range(buckets) if b not in done]
    if not todo:
        return {"processed": [], "skipped": sorted(done)}

    # a crashed run's staging directories hold nothing published
    if os.path.isdir(base):
        for fn in os.listdir(base):
            if fn.startswith(STAGING_PREFIX):
                shutil.rmtree(os.path.join(base, fn))

    work = _bucketed(parsed_df, key_col, buckets, todo).persist()
    try:
        stats = _bucket_stats(work, sinks, spec, parsed_col, todo)
        _publish(_schema_path(base), json.dumps(_nullable(work.schema.jsonValue())))
        _write_staged(work, sinks, spec, base, todo, parsed_col)
        src = _source_digest(source) if source is not None else None
        for committed, b in enumerate(todo):
            if fail_after_buckets is not None and committed >= fail_after_buckets:
                raise RuntimeError(
                    f"injected failure after {committed} bucket commits"
                )
            st = stats[b]
            _write_lineage(base, {
                "bucket": b,
                "rows": st["rows"],
                "well_formed_rows": st["well_formed_rows"],
                "fingerprint": fp,
                "source": src,
                "sinks": {name: {"rows": n, "levels": _pairs(levels)}
                          for name, (n, levels) in st["sinks"].items()},
            })
    finally:
        work.unpersist()
    return {"processed": todo, "skipped": sorted(done)}


def read_routed(spark, base: str, sink_name: str):
    """Read one sink's committed output, restricted to buckets with a
    published lineage entry (uncommitted partial writes are invisible —
    the read-side half of write-audit-publish). A sink no row matched
    reads back as an empty frame with the route's schema."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    done = sorted(completed_buckets(base))
    with open(_schema_path(base)) as f:
        schema = StructType.fromJson(json.load(f))
    path = os.path.join(base, sink_name)
    if os.path.isdir(path):
        df = spark.read.schema(schema).parquet(path)
    else:
        df = spark.createDataFrame([], schema)
    return df.filter(F.col("__bucket").isin(done))


def lineage_metrics(base: str) -> dict:
    """Aggregate parse-success metrics across committed buckets."""
    entries = completed_buckets(base).values()
    return {
        "buckets": len(entries),
        "rows": sum(e["rows"] for e in entries),
        "well_formed_rows": sum(e["well_formed_rows"] for e in entries),
    }


def sink_histograms(base: str) -> dict[str, list]:
    """sink name -> [[level, rows], ...] over the committed buckets: each
    sink's well-formed ``HIST_FIELD`` histogram, summed from the lineage
    entries (no Spark job)."""
    out: dict[str, Counter] = {}
    for e in completed_buckets(base).values():
        for name, st in e["sinks"].items():
            hist = out.setdefault(name, Counter())
            for level, n in st["levels"]:
                hist[level] += n
    return {name: _pairs(h) for name, h in out.items()}
