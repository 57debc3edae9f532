"""Round-4b operator batch: n-gram containment (quote detection),
PMI collocations and exact weighted systematic sampling.

Each test pins the operator against an independent pure-Python
recomputation of the documented rule on a hand-built corpus — the same
differential style as the parse-kernel tests.
"""

from __future__ import annotations

import pytest


# ── containment ──────────────────────────────────────────────────────


def test_containment_detects_quote(spark):
    """A short doc quoted verbatim inside a long one: cont_a == 1.0
    even though Jaccard is low — the operator's reason to exist."""
    from logparser_spark.operators.dedup import containment_pairs

    quote = "the quick brown fox jumps over the lazy dog"
    long_doc = ("PREAMBLE PREAMBLE " + quote
                + " EPILOGUE EPILOGUE EPILOGUE WITH MUCH MORE TEXT "
                + "PADDING PADDING PADDING PADDING PADDING")
    other = "completely unrelated content zzz qqq www eee rrr ttt"
    df = spark.createDataFrame(
        [(1, quote), (2, long_doc), (3, other)], ["doc_id", "text"]
    )
    rows = {(r.id_a, r.id_b): r for r in
            containment_pairs(df, n=8, min_inter=3, max_df=10).collect()}
    assert (1, 2) in rows
    r = rows[(1, 2)]
    # every one of A's shingles appears in B
    assert r.cont_a == 1.0
    assert r.n_inter == r.sz_a
    assert r.cont_b < 1.0
    # the unrelated doc pairs with nobody
    assert not any(3 in k for k in rows)


def test_containment_matches_bruteforce(spark):
    """Exact differential: operator output == python set arithmetic on
    the same shingle definition (distinct char n-grams, df cap)."""
    from logparser_spark.operators.dedup import containment_pairs

    texts = {
        1: "abcdefgh shared-segment-one abcdefgh",
        2: "xx shared-segment-one yy shared-segment-two",
        3: "shared-segment-two plus some extra tail here",
        4: "shared-segment-one shared-segment-two both in here",
    }
    n, max_df, min_inter = 5, 3, 2

    def shingles(t):
        if len(t) < n:
            return {t}
        return {t[i:i + n] for i in range(len(t) - n + 1)}

    sets = {k: shingles(v) for k, v in texts.items()}
    from collections import Counter
    dfreq = Counter(s for ss in sets.values() for s in ss)
    capped = {k: {s for s in ss if dfreq[s] <= max_df}
              for k, ss in sets.items()}
    expected = {}
    ids = sorted(texts)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            inter = len(capped[a] & capped[b])
            if inter >= min_inter:
                sa, sb = len(sets[a]), len(sets[b])
                expected[(a, b)] = (
                    inter, sa, sb,
                    (2_000_000 * inter + sa) // (2 * sa) / 1e6,
                    (2_000_000 * inter + sb) // (2 * sb) / 1e6,
                )

    df = spark.createDataFrame(
        [(k, v) for k, v in texts.items()], ["doc_id", "text"]
    )
    got = {
        (r.id_a, r.id_b): (r.n_inter, r.sz_a, r.sz_b, r.cont_a, r.cont_b)
        for r in containment_pairs(
            df, n=n, min_inter=min_inter, max_df=max_df
        ).collect()
    }
    assert got == expected


# ── collocations ─────────────────────────────────────────────────────


def test_collocations_lift(spark):
    """Differential vs hand-counted bigram table: counts, positional
    marginals, and the integer lift formula."""
    from logparser_spark.operators.textstats import collocations

    docs = [
        (1, "new york is not old york"),
        (2, "new york new york city"),
        (3, "old york was new once more than once"),
    ]
    from collections import Counter
    pair = Counter()
    for _, t in docs:
        w = [x for x in t.split(" ") if x]
        for a, b in zip(w, w[1:]):
            pair[(a, b)] += 1
    m = sum(pair.values())
    left = Counter()
    right = Counter()
    for (a, b), c in pair.items():
        left[a] += c
        right[b] += c
    min_count = 2
    expected = {
        (a, b): (c, (2_000_000 * c * m + left[a] * right[b])
                 // (2 * left[a] * right[b]))
        for (a, b), c in pair.items() if c >= min_count
    }
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {(r.w1, r.w2): (r.n_pair, r.lift_ppm)
           for r in collocations(df, min_count=min_count).collect()}
    assert got == expected
    # "new york" (3/9 bigrams, strong attraction) must score > 1e6
    assert got[("new", "york")][1] > 1_000_000


def test_collocations_empty_corpus(spark):
    from logparser_spark.operators.textstats import collocations

    df = spark.createDataFrame([(1, ""), (2, "one")], ["doc_id", "text"])
    assert collocations(df).count() == 0


# ── weighted systematic sampling ─────────────────────────────────────


def _brute_systematic(weights, n_target):
    total = sum(max(w, 0) for _, w in weights)
    step = max(total // n_target, 1)
    out = []
    cum = 0
    for i, w in sorted(weights):
        w = max(w, 0)
        prev = cum
        cum += w
        if w > 0 and cum // step > prev // step:
            out.append((i, w, cum))
    return out


@pytest.mark.parametrize("n_target", [1, 3, 7, 100])
def test_weighted_systematic_matches_rule(spark, n_target):
    from logparser_spark.operators.corpus import sample_weighted_systematic

    weights = [(i, (7 * i) % 13) for i in range(1, 40)]  # some zeros
    df = spark.createDataFrame(weights, ["doc_id", "w"])
    got = sorted(
        (r.doc_id, r.weight, r.cum_weight)
        for r in sample_weighted_systematic(
            df, n_target, weight_col="w", bucket_width=8
        ).collect()
    )
    assert got == _brute_systematic(weights, n_target)


def test_weighted_systematic_proportionality(spark):
    """A document heavier than the step is always selected; total
    sample size is total_weight div step."""
    from logparser_spark.operators.corpus import sample_weighted_systematic

    weights = [(1, 1000)] + [(i, 1) for i in range(2, 102)]
    df = spark.createDataFrame(weights, ["doc_id", "w"])
    rows = sample_weighted_systematic(df, 10, weight_col="w").collect()
    ids = {r.doc_id for r in rows}
    assert 1 in ids  # the heavy doc cannot be missed
    # without-replacement semantics: the heavy doc spans ticks
    # 110..990 but is selected ONCE; the weight-1 run 1001..1100
    # contains only the tick at 1100, landing on doc 101
    assert ids == {1, 101}


def test_weighted_systematic_deterministic(spark):
    from logparser_spark.operators.corpus import sample_weighted_systematic

    weights = [(i, i % 5) for i in range(1, 60)]
    df = spark.createDataFrame(weights, ["doc_id", "w"])
    a = sorted(r.doc_id for r in
               sample_weighted_systematic(df, 8, weight_col="w").collect())
    b = sorted(r.doc_id for r in
               sample_weighted_systematic(df, 8, weight_col="w").collect())
    assert a == b

