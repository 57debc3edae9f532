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
are hash-distributed by ``__bucket`` (every bucket in one partition), and
ONE ``mapInArrow`` stage over them both writes and counts. Each sink's
predicate is a Catalyst boolean column; the Python side splits each
Arrow batch per (sink, bucket) with ``pyarrow.compute``, streams the rows
into one parquet file per (sink, bucket) under a staging directory, and
returns per ``(bucket, well_formed, Level)`` the row count and each
sink's rows, so the lineage counts exactly the rows written. Each
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
- a lineage written for another format, sink set, filter (an inverted
  node included), bucket count, key or input raises ``ValueError``
  instead of being reused;
- a retried or speculative task attempt replaces the files it writes
  and never adds a second copy, and a bucket that two tasks report
  raises before anything is committed;
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
column is pmod(key, buckets), or 0 for a NULL key, so the same row always
lands in the same bucket across runs — the precondition for idempotent
redo.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import uuid
from collections import Counter
from dataclasses import dataclass
from typing import Optional
from urllib.parse import quote, unquote

from ..functions.formats import FormatSpec
from ..operators.filters import CombinedFilter
from ..operators.route import SinkSpec, check_sink_names, sink_column

LINEAGE_DIR = "_lineage"
STAGING_PREFIX = "_staging_"
# the one data file of each (sink, bucket) directory
DATA_FILE = "part-00000.parquet"
# a writer flushes its buffered rows as one row group at this size, and
# a task flushes its largest buffer when all of them together pass the
# task budget
ROW_GROUP_BYTES = 64 << 20
TASK_BUFFER_BYTES = 256 << 20
# spark.sql.parquet.compression.codec -> pyarrow's name for the codec
PARQUET_CODECS = {"none": "none", "uncompressed": "none", "snappy": "snappy",
                  "gzip": "gzip", "zstd": "zstd", "brotli": "brotli",
                  "lz4": "lz4", "lz4_raw": "lz4"}
# the field each sink's histogram counts (well-formed rows only)
HIST_FIELD = "Level"
# what the writer stage counts rows by
COUNT_KEYS = ["bucket", "wf", "level"]


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
    canonical filter (:func:`_filter_text`) and malformed-acceptance
    flag, the bucket count and the bucket key. Raises ``ValueError`` for
    sink names that :func:`~logparser_spark.operators.route.check_sink_names`
    rejects and unless ``buckets`` is an int >= 1 (with no bucket to
    route to, a job would report success without reading its input)."""
    check_sink_names(sinks)
    if isinstance(buckets, bool) or not isinstance(buckets, int) or buckets < 1:
        raise ValueError(f"buckets must be an int >= 1, got {buckets!r}")

    def filter_text(s: SinkSpec):
        ast = s.ast(spec)
        return _filter_text(ast, spec) if ast is not None else None

    return _canonical({
        "format": spec.source,
        "sinks": [[s.name, filter_text(s), s.accept_bad_format] for s in sinks],
        "buckets": buckets,
        "key_col": key_col,
    })


def _filter_text(node, spec: FormatSpec) -> str:
    """``to_string`` with every inverted node written ``NOT (<node>)``:
    ``to_string`` drops the invert flag, as the reference's does. A
    filter with no inverted node reads the same as its ``to_string``."""
    if isinstance(node, CombinedFilter):
        text = (f"({_filter_text(node.left, spec)}) {node.op} "
                f"({_filter_text(node.right, spec)})")
    else:
        text = node.to_string(spec)
    return f"NOT ({text})" if node.inverted else text


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
    bucket's rows sit in one partition, so one task writes each (sink,
    bucket) file, whatever the input's task count. A NULL key goes to
    bucket 0, so every run buckets its rows the same way and none is
    dropped."""
    from pyspark.sql import functions as F

    bucket = F.coalesce(F.pmod(F.col(key_col), F.lit(buckets)), F.lit(0))
    return parsed_df.withColumn(
        "__bucket", bucket.cast("int")
    ).filter(F.col("__bucket").isin(todo)).repartition(F.col("__bucket"))


class _SinkFile:
    """One (sink, bucket) parquet file of a writer task. Added rows are
    buffered and flushed as one row group; the file is written under a
    hidden name unique to this writer and renamed to ``DATA_FILE`` when
    closed."""

    def __init__(self, directory: str, schema, compression: str):
        self.path = os.path.join(directory, DATA_FILE)
        self.tmp = os.path.join(directory, f".{DATA_FILE}.{uuid.uuid4().hex}")
        self.schema = schema
        self.compression = compression
        self.pending: list = []
        self.nbytes = 0
        self.writer = None

    def add(self, rows) -> None:
        self.pending.append(rows)
        self.nbytes += rows.nbytes
        if self.nbytes >= ROW_GROUP_BYTES:
            self.flush()

    def flush(self) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        if not self.pending:
            return
        if self.writer is None:
            os.makedirs(os.path.dirname(self.path), exist_ok=True)
            self.writer = pq.ParquetWriter(self.tmp, self.schema,
                                           compression=self.compression)
        table = pa.Table.from_batches(self.pending, self.schema)
        self.writer.write_table(table, row_group_size=table.num_rows)
        self.pending, self.nbytes = [], 0

    def close(self) -> None:
        self.flush()
        self.writer.close()
        self.writer = None
        os.replace(self.tmp, self.path)

    def discard(self) -> None:
        if self.writer is not None:
            self.writer.close()
            os.remove(self.tmp)


@dataclass(frozen=True)
class _SinkWriter:
    """The route's writer stage: ``mapInArrow`` runs it once per task over
    the bucketed rows plus one boolean ``__sink_<i>`` column per sink.

    Each Arrow batch is split per (sink, bucket) with ``pyarrow.compute``
    and streamed into one :class:`_SinkFile` per (sink, bucket) the task
    holds, ``{staging}/sink=<name>/__bucket=<b>/part-00000.parquet``: a
    retried or speculative attempt replaces the file and never adds a
    second copy. The task then returns, per ``(bucket, well_formed,
    level)``, its partition id, the row count and each sink's rows, so
    the lineage counts exactly the rows written."""

    staging: str
    sinks: tuple            # names, in the order of the __sink_<i> columns
    schema: object          # pa.Schema of the rows as written
    counts_schema: object   # pa.Schema of the returned counts
    compression: str
    parsed_col: str

    def __call__(self, batches):
        from pyspark import TaskContext

        return self.run(batches, TaskContext.get().partitionId())

    def run(self, batches, partition: int):
        import pyarrow as pa
        import pyarrow.compute as pc

        files: dict = {}
        counts = []
        try:
            for batch in batches:
                if not batch.num_rows:
                    continue
                counts.append(self._counts(batch))
                rows = batch.select(self.schema.names).cast(self.schema)
                bucket = batch.column("__bucket")
                routes = batch.select([f"__sink_{i}" for i in range(len(self.sinks))])
                for b in pc.unique(bucket).to_pylist():
                    in_b = pc.equal(bucket, b)
                    rows_b, routes_b = rows.filter(in_b), routes.filter(in_b)
                    for i, name in enumerate(self.sinks):
                        part = rows_b.filter(routes_b.column(i))
                        if not part.num_rows:
                            continue
                        if (name, b) not in files:
                            files[name, b] = _SinkFile(
                                os.path.join(self.staging,
                                             f"sink={quote(name, safe='')}",
                                             f"__bucket={b}"),
                                self.schema, self.compression)
                        files[name, b].add(part)
                while sum(f.nbytes for f in files.values()) > TASK_BUFFER_BYTES:
                    max(files.values(), key=lambda f: f.nbytes).flush()
            for f in files.values():
                f.close()
        except BaseException:
            for f in files.values():
                f.discard()
            raise
        if counts:
            total = _sum_by(pa.concat_tables(counts), COUNT_KEYS)
            yield from pa.Table.from_arrays(
                [pa.array([partition] * total.num_rows, pa.int32()), *total.columns],
                schema=self.counts_schema).to_batches()

    def _counts(self, batch):
        """The batch's rows and each sink's rows per (bucket, well_formed,
        level)."""
        import pyarrow as pa
        import pyarrow.compute as pc

        parsed = batch.column(self.parsed_col)
        if parsed.type.get_field_index(HIST_FIELD) >= 0:
            level = pc.struct_field(parsed, HIST_FIELD)
        else:
            level = pa.nulls(batch.num_rows, self.counts_schema.field("level").type)
        cols = {"bucket": batch.column("__bucket"),
                "wf": pc.struct_field(parsed, "well_formed"), "level": level,
                "n": pa.repeat(pa.scalar(1, pa.int64()), batch.num_rows)}
        for i in range(len(self.sinks)):
            cols[f"s{i}"] = batch.column(f"__sink_{i}").cast(pa.int64())
        return _sum_by(pa.table(cols), COUNT_KEYS)


def _sum_by(table, keys: list[str]):
    """``table`` grouped by ``keys``, every other column summed: the keys
    first, then the sums under their own names."""
    sums = [c for c in table.column_names if c not in keys]
    out = table.group_by(keys).aggregate([(c, "sum") for c in sums])
    return out.select(keys + [f"{c}_sum" for c in sums]).rename_columns(keys + sums)


def _writer_stage(work, sinks: list[SinkSpec], spec: FormatSpec,
                  staging: str, parsed_col: str):
    """The route's one Spark job over the bucketed frame: every sink's
    predicate as a Catalyst boolean column, then :class:`_SinkWriter`.
    The files match Spark's own writer: the frame's columns minus
    ``__bucket``, all nullable, in the session's
    ``spark.sql.parquet.compression.codec``."""
    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import to_arrow_schema

    spark = work.sparkSession
    codec = spark.conf.get("spark.sql.parquet.compression.codec").lower()
    if codec not in PARQUET_CODECS:
        raise ValueError(
            f"spark.sql.parquet.compression.codec {codec!r} is not supported "
            f"by the route's writer (one of {sorted(PARQUET_CODECS)})"
        )
    data = T.StructType.fromJson(_nullable(T.StructType(
        [f for f in work.schema if f.name != "__bucket"]).jsonValue()))
    schema = to_arrow_schema(data)
    parsed_type = work.schema[parsed_col].dataType
    level = (parsed_type[HIST_FIELD].dataType
             if HIST_FIELD in parsed_type.names else T.StringType())
    counts = T.StructType(
        [T.StructField("partition", T.IntegerType()),
         T.StructField("bucket", T.IntegerType()),
         T.StructField("wf", T.BooleanType()),
         T.StructField("level", level),
         T.StructField("n", T.LongType())]
        + [T.StructField(f"s{i}", T.LongType()) for i in range(len(sinks))])
    writer = _SinkWriter(staging, tuple(s.name for s in sinks), schema,
                         to_arrow_schema(counts), PARQUET_CODECS[codec],
                         parsed_col)
    return work.withColumns({
        f"__sink_{i}": sink_column(s, spec, parsed_col)
        for i, s in enumerate(sinks)
    }).mapInArrow(writer, counts)


def _fold_counts(counts, sinks: list[SinkSpec], todo: list[int]) -> dict[int, dict]:
    """Per bucket its rows and well-formed rows, and per sink its rows and
    its well-formed level histogram, from the writer's count table
    (Arrow).

    Raises ``RuntimeError`` when two partitions report one bucket: both
    tasks wrote that bucket's files, so one replaced the other's rows."""
    owner: dict[int, int] = {}
    stats = {b: {"rows": 0, "well_formed_rows": 0,
                 "sinks": {s.name: [0, Counter()] for s in sinks}}
             for b in todo}
    for r in counts.to_pylist():
        b = r["bucket"]
        if owner.setdefault(b, r["partition"]) != r["partition"]:
            raise RuntimeError(
                f"bucket {b} was written by partitions {owner[b]} and "
                f"{r['partition']}; the route needs each bucket in one task"
            )
        st = stats[b]
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


def _commit_staged(staging: str, sinks: list[SinkSpec], base: str,
                   todo: list[int]) -> None:
    """Clears every (sink, to-do bucket) target, also where the redo wrote
    no rows, then renames the staged bucket directories into
    ``{base}/<sink>/__bucket=<b>``."""
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

    work = _bucketed(parsed_df, key_col, buckets, todo)
    _publish(_schema_path(base), json.dumps(_nullable(work.schema.jsonValue())))
    staging = os.path.join(base, f"{STAGING_PREFIX}{uuid.uuid4().hex}")
    os.makedirs(staging)
    stats = _fold_counts(
        _writer_stage(work, sinks, spec, staging, parsed_col).toArrow(),
        sinks, todo)
    _commit_staged(staging, sinks, base, todo)
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
