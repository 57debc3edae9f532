"""Fan-out routing: one parsed DataFrame -> N sink predicates -> N outputs.

Generalizes the reference's filter-composition algebra (SURVEY.md §2.3 F13:
one filter = one visible view) to multi-sink routing. Every sink predicate
is wrapped in the malformed-acceptance rule (F10,
``filtered_file_reader.cpp:258-262``).

A sink is decided in one place: :func:`sink_column` is its full routing
predicate (one boolean verdict per line, like the reference's
``line_passes``), and :func:`route_mask` adds every sink's verdict to the
parsed DataFrame in one projection. The consumers build on those:
``plans/checkpoint.route_checkpointed`` (the batch writer) hash-distributes
rows by lineage bucket, adds each sink's :func:`sink_column`, and one
``mapInArrow`` stage splits every Arrow batch per (sink, bucket) and writes
the files; ``aggregate.sink_count_frame`` sums the verdicts.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Optional, Union

from ..functions.formats import FormatSpec
from .filters import Filter, accept_sql, parse_filter, sql_ident, to_sql

# route_mask's bit i is sink i, and bit 63 of a long is its sign
ROUTE_BITS_MAX_SINKS = 63


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
    """Raises ``ValueError`` unless every sink name is non-empty, unique,
    does not start with ``_``, contains no ``/`` or NUL and is not ``.``
    or ``..``. A name becomes a column (``route_<name>``) and an output
    directory (``{base}/<name>``): a duplicate overwrites another sink's
    column or merges two sinks' rows, ``_`` names the job's own
    directories (``_agg``, ``_lineage``, ``_staging_*``), which a resume
    may delete, and a path separator or a dot name would put the sink's
    files (and a resume's cleanup) outside ``{base}``."""
    seen = set()
    for s in sinks:
        if not s.name or s.name.startswith("_"):
            raise ValueError(
                f"sink name {s.name!r} must be non-empty and must not "
                "start with '_'"
            )
        if "/" in s.name or "\0" in s.name or s.name in (".", ".."):
            raise ValueError(
                f"sink name {s.name!r} must not contain '/' or NUL and "
                "must not be '.' or '..'"
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


def sink_sql(sink: SinkSpec, spec: FormatSpec, parsed_col: str = "parsed") -> str:
    """The full routing predicate for one sink as Spark SQL text: the
    filter (:func:`filters.to_sql`) inside the malformed-acceptance rule
    (:func:`filters.accept_sql`)."""
    ast = sink.ast(spec)
    return accept_sql(
        None if ast is None else to_sql(ast, spec, parsed_col),
        f"{sql_ident(parsed_col)}.`well_formed`",
        sink.accept_bad_format,
    )


def sink_column(sink: SinkSpec, spec: FormatSpec, parsed_col: str = "parsed"):
    """:func:`sink_sql` as a Column: one ``F.expr``."""
    from pyspark.sql import functions as F

    return F.expr(sink_sql(sink, spec, parsed_col))


def route_mask(parsed_df, sinks: list[SinkSpec], spec: FormatSpec,
               parsed_col: str = "parsed"):
    """Single-pass: adds ``route_<name>`` boolean per sink and a packed
    ``route_bits`` long (bit i = sink i). One projection, one parse-UDF
    evaluation, no data movement; each column is one SQL expression.

    Raises ``ValueError`` for the names :func:`check_sink_names` rejects,
    for a sink named ``bits``, whose ``route_bits`` column the packed
    mask would overwrite, and for more than 63 sinks, the bits of a
    non-negative long."""
    check_sink_names(sinks)
    if any(s.name == "bits" for s in sinks):
        raise ValueError(
            "sink name 'bits' collides with route_mask's packed "
            "'route_bits' column"
        )
    if len(sinks) > ROUTE_BITS_MAX_SINKS:
        raise ValueError(
            f"route_mask packs one bit per sink into the 'route_bits' long, "
            f"so it takes at most {ROUTE_BITS_MAX_SINKS} sinks, "
            f"got {len(sinks)}"
        )
    preds = [sink_sql(s, spec, parsed_col) for s in sinks]
    bits = " + ".join(
        [f"IF({p}, {1 << i}L, 0L)" for i, p in enumerate(preds)] or ["0L"])
    new = {f"route_{s.name}": p for s, p in zip(sinks, preds)}
    new["route_bits"] = bits
    # like withColumns, a column of the same name is replaced in place
    cols = [f"{new.pop(c)} AS {sql_ident(c)}" if c in new else sql_ident(c)
            for c in parsed_df.columns]
    return parsed_df.selectExpr(
        *cols, *(f"{v} AS {sql_ident(k)}" for k, v in new.items()))
