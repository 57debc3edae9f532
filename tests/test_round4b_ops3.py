"""Round-4b batch 3: unigram drift."""

from __future__ import annotations


def test_unigram_drift_detects_shift(spark):
    from logparser_spark.operators.textstats import unigram_drift

    a = spark.createDataFrame(
        [(1, "alpha beta gamma " * 10)], ["doc_id", "text"]
    )
    b = spark.createDataFrame(
        [(2, "alpha beta DELTA " * 10)], ["doc_id", "text"]
    )
    got = {r.word: r for r in unigram_drift(a, b, 1000).collect()}
    # gamma: 333333 ppm -> 0; DELTA: 0 -> 333333; alpha/beta unchanged
    assert set(got) == {"gamma", "DELTA"}
    assert got["gamma"].ppm_a == 333_333 and got["gamma"].ppm_b == 0
    assert got["DELTA"].cnt_a == 0 and got["DELTA"].cnt_b == 10
    assert got["gamma"].delta_ppm == 333_333


def test_unigram_drift_integer_ppm_trunc(spark):
    """ppm is trunc(count*1e6/total) — 1/3 must be 333333, never a
    rounded 333334 (the cross-engine division contract)."""
    from logparser_spark.operators.textstats import unigram_drift

    a = spark.createDataFrame([(1, "x y z")], ["doc_id", "text"])
    b = spark.createDataFrame([(2, "x x x")], ["doc_id", "text"])
    got = {r.word: r for r in unigram_drift(a, b, 0).collect()}
    assert got["x"].ppm_a == 333_333
    assert got["x"].ppm_b == 1_000_000
    assert got["y"].delta_ppm == 333_333
