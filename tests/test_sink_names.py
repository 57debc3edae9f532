"""Sink names are checked before any routing: duplicate, empty or
``_``-prefixed names, names containing ``/`` or NUL and the names ``.``
and ``..`` raise ``ValueError`` in ``route_mask``, ``route_checkpointed``,
``run_job`` and ``sink_count_frame``.

A name is a column (``route_<name>``) and an output directory
(``{base}/<name>``). Two sinks named ``dup`` would share one column in
``route_mask`` (the later predicate wins), one directory in
``route_checkpointed`` (both sinks' rows merged), and one sum alias in
``sink_count_frame`` (both read the first sink's count). A
sink named ``_staging_x`` would be deleted by the next resume's staging
cleanup while its lineage says it is done. A sink named ``../escaped``
would write ``{base}/../escaped`` and a resume would delete its bucket
directories there; ``a/b``, ``.`` and ``..`` likewise leave or alias the
sink's own directory. ``route_mask`` also rejects ``bits``:
``route_bits`` is its packed mask column."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest

from logparser_spark.functions.formats import DEFAULT_FORMAT, compile_format
from logparser_spark.operators.route import (
    SinkSpec,
    check_sink_names,
    fixture_sinks,
)

SPEC = compile_format(DEFAULT_FORMAT)
SAMPLE = os.path.join(os.path.dirname(__file__), "data", "sample.log")

BAD = {
    "duplicate": [SinkSpec("dup", "Level EQ INFO"),
                  SinkSpec("dup", "Level EQ TRACE")],
    "empty": [SinkSpec("", "Level EQ INFO")],
    "agg": [SinkSpec("ok", None), SinkSpec("_agg", "Level EQ INFO")],
    "staging": [SinkSpec("_staging_x", "Level EQ INFO")],
    "parent": [SinkSpec("ok", None), SinkSpec("../escaped", "Level EQ INFO")],
    "slash": [SinkSpec("a/b", "Level EQ INFO")],
    "nul": [SinkSpec("a\0b", "Level EQ INFO")],
    "dot": [SinkSpec(".", "Level EQ INFO")],
    "dotdot": [SinkSpec("..", "Level EQ INFO")],
}
MESSAGE = ("duplicate sink name|must be non-empty and must not start with '_'"
           "|must not contain '/' or NUL")


@pytest.fixture(scope="module")
def parsed(spark):
    from logparser_spark.operators.parse import explode_lines, parse_lines

    with open(SAMPLE) as f:
        pages = spark.createDataFrame([(0, f.read())], "doc_id long, text string")
    return parse_lines(explode_lines(pages, keep_cols=["doc_id"]), SPEC)


@pytest.fixture()
def base():
    d = tempfile.mkdtemp(prefix="sinknames_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_valid_names_pass():
    check_sink_names(fixture_sinks())
    check_sink_names([SinkSpec("a_", None), SinkSpec("a", None),
                      SinkSpec("x_agg", None)])
    check_sink_names([])


@pytest.mark.parametrize("case", sorted(BAD))
def test_route_mask_and_route_reject(parsed, case):
    from logparser_spark.operators.route import route_mask

    with pytest.raises(ValueError, match=MESSAGE):
        route_mask(parsed, BAD[case], SPEC)


@pytest.mark.parametrize("case", sorted(BAD))
def test_route_checkpointed_rejects_before_writing(parsed, base, case):
    from logparser_spark.plans.checkpoint import route_checkpointed

    with pytest.raises(ValueError, match=MESSAGE):
        route_checkpointed(parsed, BAD[case], SPEC, base, buckets=4)
    assert os.listdir(base) == []


@pytest.mark.parametrize("case", sorted(BAD))
def test_run_job_rejects_before_reading_input(spark, base, case):
    """The input does not exist: the job must raise on the sink names
    before it looks at the input at all."""
    from logparser_spark.plans.job import JobConfig, run_job

    cfg = JobConfig.from_dict({
        "input": f"parquet:{base}/missing",
        "output": f"{base}/out",
        "sinks": [{"name": s.name, "filter": s.filter} for s in BAD[case]],
        "buckets": 4,
    })
    with pytest.raises(ValueError, match=MESSAGE):
        run_job(spark, cfg)
    assert os.listdir(base) == []


@pytest.mark.parametrize("case", sorted(BAD))
def test_sink_count_frame_rejects(spark, parsed, case):
    from logparser_spark.operators.aggregate import sink_count_frame

    with pytest.raises(ValueError, match=MESSAGE):
        sink_count_frame(parsed, BAD[case], SPEC, spark)


def test_route_mask_rejects_bits(parsed):
    """``route_bits`` would overwrite the ``bits`` sink's boolean column
    with the packed mask. Only ``route_mask`` adds that column, so
    ``check_sink_names`` (and the other routes) still accept ``bits``."""
    from logparser_spark.operators.route import route_mask

    sinks = [SinkSpec("ok", None), SinkSpec("bits", "Level EQ INFO")]
    check_sink_names(sinks)
    with pytest.raises(ValueError, match="'bits'"):
        route_mask(parsed, sinks, SPEC)


def test_route_mask_takes_at_most_63_sinks(parsed):
    """``route_bits`` is a long with bit i for sink i: 63 sinks fill its
    non-negative range and a 64th raises a ``ValueError`` naming the
    limit. The other routes store no packed mask, so the fingerprint of
    ``route_checkpointed`` and ``run_job`` takes 64 sinks."""
    from pyspark.sql import functions as F

    from logparser_spark.operators.route import route_mask
    from logparser_spark.plans.checkpoint import fingerprint

    sinks = [SinkSpec(f"s{i}", None) for i in range(64)]
    assert len(fingerprint(SPEC, sinks, 4, "doc_id")["sinks"]) == 64
    with pytest.raises(ValueError, match="at most 63 sinks"):
        route_mask(parsed, sinks, SPEC)
    [row] = (route_mask(parsed, sinks[:63], SPEC)
             .agg(F.max("route_bits").alias("m")).collect())
    assert row["m"] == (1 << 63) - 1
