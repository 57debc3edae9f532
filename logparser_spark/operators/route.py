"""Fan-out routing: one parsed DataFrame -> N sink predicates -> N outputs.

Generalizes the reference's filter-composition algebra (SURVEY.md §2.3 F13:
one filter = one visible view) to multi-sink routing. Every sink predicate
is wrapped in the malformed-acceptance rule (F10,
``filtered_file_reader.cpp:258-262``).

Physical strategies (SURVEY.md §4 custom item 3):

- :func:`route` — persist the parsed DF once, then N filtered views.
  Right for small N (each sink is a cheap scan of the cached parse
  result; without the persist, Catalyst re-runs the parse UDF per sink —
  verified via .explain, see .claude/skills/verify/SKILL.md).
- :func:`route_mask` — single pass producing one boolean column per sink
  (plus a packed bitmask); right for large N or when sinks feed one
  aggregate pass instead of N writers.
- :func:`write_routes_single_pass` — one scan, each row exploded to the
  sinks it matches (:func:`routed_sink_ids`), one write partitioned by
  sink. ``plans/checkpoint.route_checkpointed`` explodes nothing: it
  hash-distributes rows by lineage bucket, adds each sink's
  :func:`sink_column` as a boolean column, and one ``mapInArrow`` stage
  splits every Arrow batch per (sink, bucket) and writes the files.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Optional, Union

from ..functions.formats import FormatSpec
from .filters import Filter, accept_expr, parse_filter, to_column


@dataclass
class SinkSpec:
    """One route: a name, a filter (DSL string, AST, or None = pass-all
    well-formed), and the accept_bad_format flag."""

    name: str
    filter: Union[str, Filter, None] = None
    accept_bad_format: bool = True

    def ast(self, spec: FormatSpec) -> Optional[Filter]:
        if self.filter is None or isinstance(self.filter, str):
            return parse_filter(self.filter or "", spec)
        return self.filter


def check_sink_names(sinks: list[SinkSpec]) -> None:
    """Raises ``ValueError`` unless every sink name is non-empty, unique
    and does not start with ``_``. A name becomes a column
    (``route_<name>``) and an output directory (``{base}/<name>``): a
    duplicate overwrites another sink's column or merges two sinks'
    rows, and ``_`` names the job's own directories (``_agg``,
    ``_lineage``, ``_staging_*``), which a resume may delete."""
    seen = set()
    for s in sinks:
        if not s.name or s.name.startswith("_"):
            raise ValueError(
                f"sink name {s.name!r} must be non-empty and must not "
                "start with '_'"
            )
        if s.name in seen:
            raise ValueError(f"duplicate sink name {s.name!r}")
        seen.add(s.name)


# The seven fixture sinks (FIXTURES.md §4) exercising every comparator
# class, boolean op, inversion, line ranges, and the badfmt-only view.
def fixture_sinks() -> list[SinkSpec]:
    from .filters import parse_filter as pf

    return [
        SinkSpec("sink_info", "Level EQ INFO"),
        SinkSpec("sink_late", "Time GREATER_EQ 085409"),
        SinkSpec("sink_rsvp", "Source CT_CI RSVP AND Mesg BW state"),
        SinkSpec(
            "sink_mixed",
            "(Level EQ INFO OR Level EQ EVENT) XOR Time ST 085353",
        ),
        SinkSpec("sink_window", "line_num CT 10,50"),
        SinkSpec("sink_not", _inverted("Level EQ TRACE")),
        # malformed-only view: None filter never passes for well-formed rows
        # is not expressible in the DSL; model it as a raw False filter with
        # accept_bad_format=True -> only malformed rows route.
        SinkSpec("sink_badfmt", "Level EQ INFO AND Level EQ TRACE",
                 accept_bad_format=True),
    ]


def _inverted(dsl: str):
    f = parse_filter(dsl)
    return f.invert()


def sink_column(sink: SinkSpec, spec: FormatSpec, parsed_col: str = "parsed"):
    """The full routing predicate for one sink (filter + acceptance rule),
    coalesced to false so NULL verdicts neither route nor poison masks."""
    from pyspark.sql import functions as F

    ast = sink.ast(spec)
    base = to_column(ast, spec, parsed_col=parsed_col) if ast is not None else None
    wf = F.col(f"{parsed_col}.well_formed")
    if base is None:
        expr = (~wf & F.lit(sink.accept_bad_format)) | wf
    else:
        expr = accept_expr(base, wf, sink.accept_bad_format)
    return F.coalesce(expr, F.lit(False))


def route_mask(parsed_df, sinks: list[SinkSpec], spec: FormatSpec,
               parsed_col: str = "parsed"):
    """Single-pass: adds ``route_<name>`` boolean per sink and a packed
    ``route_bits`` long (bit i = sink i). One projection, one parse-UDF
    evaluation, no data movement.

    Raises ``ValueError`` for the names :func:`check_sink_names` rejects
    and for a sink named ``bits``, whose ``route_bits`` column the packed
    mask would overwrite."""
    from pyspark.sql import functions as F

    check_sink_names(sinks)
    if any(s.name == "bits" for s in sinks):
        raise ValueError(
            "sink name 'bits' collides with route_mask's packed "
            "'route_bits' column"
        )
    cols = {f"route_{s.name}": sink_column(s, spec, parsed_col) for s in sinks}
    bits = F.lit(0).cast("long")
    for i, c in enumerate(cols.values()):
        bits = bits + F.when(c, F.lit(1 << i)).otherwise(0)
    return parsed_df.withColumns({**cols, "route_bits": bits})


def route(parsed_df, sinks: list[SinkSpec], spec: FormatSpec,
          parsed_col: str = "parsed", persist: bool = True):
    """Classic fan-out: returns {sink_name: filtered DataFrame}.

    Persists the parsed DF (MEMORY_AND_DISK) so the parse UDF runs exactly
    once across all sinks; caller owns unpersist via the returned handle.

    SMALL-N ONLY: persisting the full parse output is not viable at
    10^12 rows. At that scale use :func:`write_routes_single_pass`
    (one streamed pass, no persist) for writers, or
    :func:`route_mask` / ``aggregate.sink_count_frame`` when the sinks
    feed aggregates.
    """
    check_sink_names(sinks)
    if persist:
        from pyspark.storagelevel import StorageLevel

        parsed_df = parsed_df.persist(StorageLevel.MEMORY_AND_DISK)
    return {
        s.name: parsed_df.filter(sink_column(s, spec, parsed_col))
        for s in sinks
    }, parsed_df


def routed_sink_ids(sinks: list[SinkSpec], spec: FormatSpec,
                    parsed_col: str = "parsed"):
    """Array column of the sink names whose predicate accepts the row
    (empty array = row routes nowhere)."""
    from pyspark.sql import functions as F

    return F.array_compact(F.array(*[
        F.when(sink_column(s, spec, parsed_col), F.lit(s.name))
        for s in sinks
    ]))


def write_routes_single_pass(parsed_df, sinks: list[SinkSpec],
                             spec: FormatSpec, base_path: str,
                             fmt: str = "parquet", mode: str = "overwrite",
                             parsed_col: str = "parsed"):
    """Large-N fan-out writer (SURVEY §4 custom item 3's
    route_mask+explode shape): ONE scan of the parse output, every sink
    predicate evaluated in a single projection, each row exploded to its
    matching sink names, one write dynamic-partitioned by ``sink``.

    Layout: ``{base_path}/sink=<name>/part-*`` — per-sink reads are
    single-directory scans via partition pruning
    (:func:`read_routed_sink`).

    Why this exists: writing each :func:`route` view on its own persists
    the full parse output and scans it N times — impossible at 10^12
    rows (nothing that size fits a cache tier, and N re-scans of cold
    parquet re-pay the IO N times). Here rows flow
    source→parse→explode→writer exactly once; a row matching k sinks is
    duplicated k times AT THE WRITER ONLY — the same total output bytes
    N per-sink writes produce, without persisting or re-scanning the
    input. Rows matching no sink are dropped by the explode (no
    pass-through cost)."""
    from pyspark.sql import functions as F

    check_sink_names(sinks)
    out = parsed_df.withColumn(
        "sink", F.explode(routed_sink_ids(sinks, spec, parsed_col))
    )
    out.write.format(fmt).mode(mode).partitionBy("sink").save(base_path)
    return base_path


def read_routed_sink(spark, base_path: str, name: str,
                     fmt: str = "parquet"):
    """Read one sink's rows from a :func:`write_routes_single_pass`
    layout; the ``sink = name`` filter prunes to one partition
    directory, so this scans only that sink's files."""
    from pyspark.sql import functions as F

    return (
        spark.read.format(fmt).load(base_path)
        .filter(F.col("sink") == name)
        .drop("sink")
    )
