"""Deduplication operators for training-data pipelines.

Exact (hash-groupBy), MinHash+LSH (shingle → minhash → band → bucket
join), SimHash, n-gram Jaccard verification, and bottom-k fingerprint
sketches — the standard near-dup stack for Common-Crawl-scale corpora
(beyond the reference's scope; mandated by the build brief as first-class
components).

Engine-portability: every hash is derived from md5 (identical in Spark
and DuckDB) — exact dedup keys on the FULL 128-bit hex digest; the
sketch ops use ``hash64`` = first 15 hex chars of md5 as a bigint
(collisions are by design there) — so the DuckDB oracle reproduces
results bit-for-bit. No murmur/xxhash (engine-specific). All randomness
is deterministic: the k minhash permutations use fixed (a_i, b_i)
constants derived below.

Scale notes (100 TB): shingle explode is linear and map-side combined
into per-doc signatures (one shuffle keyed by doc). The LSH join shuffles
only (band_id, band_hash) buckets — never the cross product. Exact dedup
is one hash-groupBy. Jaccard verification joins only candidate pairs.
"""

from __future__ import annotations

MERSENNE31 = 2_147_483_647  # 2^31 - 1; keeps a*h+b inside int64 range

# deterministic "permutation" constants for k=16 minhashes
MINHASH_K = 16
MINHASH_A = [2 * i + 1 for i in range(1, MINHASH_K + 1)]  # odd multipliers
MINHASH_B = [7919 * i % MERSENNE31 for i in range(1, MINHASH_K + 1)]

SHINGLE_N = 8  # char n-gram width
SIMHASH_BITS = 32
FINGERPRINT_K = 4  # bottom-k sketch width

# LSH buckets above this size are dropped before the pair join: a
# degenerate bucket (empty/boilerplate docs sharing a band hash) emits
# O(b²) pairs, and AQE skew-join splits partitions but cannot bound the
# OUTPUT cardinality. Docs in an over-cap bucket are near-identical
# boilerplate; real near-dup pairs among them still surface through the
# other (bands-1) bands unless those are degenerate too.
LSH_MAX_BUCKET = 500


def hash64(col):
    """Portable 60-bit hash of a string column: int(md5[:15], 16).
    Same value in DuckDB via ``('0x' || substr(md5(e),1,15))::BIGINT``.

    For SKETCH ops only (minhash/simhash/fingerprint — collisions are by
    design there). Exact dedup must NOT use it: at 10^12 rows the
    birthday bound on 60 bits yields ~10^5 expected collisions."""
    from pyspark.sql import functions as F

    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def md5_s64_pair(col):
    """Full 128-bit md5 of a string column as TWO signed int64 columns
    (hi = bits 127..64, lo = bits 63..0, each biased by -2^63 into
    signed range). Exact in both engines: Spark ``conv(hex,16,10)``
    yields the unsigned decimal string, the DECIMAL(20,0) subtraction is
    lossless, and DuckDB mirrors it with
    ``(('0x'||substr(md5(x),1,16))::UBIGINT::HUGEINT
    - 9223372036854775808)::BIGINT`` (and ``substr(...,17,16)``).

    This is the exact-dedup shuffle key: 16 fixed-width bytes per row
    instead of a 32-char hex string (+UTF8String overhead) — halves
    dedup shuffle volume at 10^12 rows and compares as two long ints
    rather than a byte-string."""
    from pyspark.sql import functions as F

    md5 = F.md5(col)
    bias = F.lit("9223372036854775808").cast("decimal(20,0)")

    def s64(hexcol):
        return (
            F.conv(hexcol, 16, 10).cast("decimal(20,0)") - bias
        ).cast("long")

    return s64(F.substring(md5, 1, 16)), s64(F.substring(md5, 17, 16))


# ── exact dedup ───────────────────────────────────────────────────────


def exact_dedup(df, text_col: str = "text", id_col: str = "doc_id"):
    """Hash-groupBy exact dedup: one row per distinct text with the
    canonical (min) id and the duplicate count. One shuffle keyed by the
    FULL 128-bit md5 split into two signed BIGINTs (``md5_hi``/``md5_lo``,
    see :func:`md5_s64_pair`) — at 10^12 rows a truncated 60-bit key
    would silently merge ~10^5 distinct documents (birthday bound), so
    all 128 bits key the shuffle; and two fixed-width longs (16 bytes)
    shuffle/compare cheaper than the 32-char hex string. Never
    ``dropDuplicates`` on the raw text — the digest is what shuffles,
    not document bodies."""
    from pyspark.sql import functions as F

    hi, lo = md5_s64_pair(F.col(text_col))
    return (
        df.select(F.col(id_col), hi.alias("md5_hi"), lo.alias("md5_lo"))
        .groupBy("md5_hi", "md5_lo")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


#: Pinned accent-fold map for :func:`normalize_for_dedup` — a fixed
#: latin-1 subset, deliberately NOT locale-aware so every engine folds
#: identically (DuckDB ``translate`` uses the same code-point map).
_ACCENT_FROM = "áàâäéèêëíìîïóòôöúùûüçñ"
_ACCENT_TO = "aaaaeeeeiiiioooouuuucn"


def normalize_for_dedup(col):
    """CCNet-style text normalization ahead of exact dedup (Wenzek et
    al. 2020 fold: case, accents, digits, punctuation — so trivially
    re-styled copies hash identically): lowercase → fold accents
    (pinned map) → every digit run char to '0' → every remaining
    non-[a-z0 ] char to a space → collapse space runs → trim. Pure
    codegen string expressions; deterministic and engine-portable."""
    from pyspark.sql import functions as F

    t = F.lower(col)
    t = F.translate(t, _ACCENT_FROM, _ACCENT_TO)
    t = F.regexp_replace(t, "[0-9]", "0")
    t = F.regexp_replace(t, "[^a-z0 ]", " ")
    t = F.regexp_replace(t, " +", " ")
    return F.trim(t)


def norm_exact_dedup(df, text_col: str = "text", id_col: str = "doc_id"):
    """Exact dedup over the NORMALIZED text (:func:`normalize_for_dedup`)
    — catches the re-styled near-copies (case/punctuation/accent/digit
    edits) that byte-exact dedup misses while staying a pure
    hash-groupBy: same 128-bit two-long digest key and scale shape as
    :func:`exact_dedup`; the normalization itself is map-side codegen,
    so nothing but fixed-width digests ever shuffles."""
    from pyspark.sql import functions as F

    norm = normalize_for_dedup(F.col(text_col))
    hi, lo = md5_s64_pair(norm)
    return (
        df.select(F.col(id_col), hi.alias("md5_hi"), lo.alias("md5_lo"))
        .groupBy("md5_hi", "md5_lo")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def incremental_dedup(docs, seen_df, text_col: str = "text",
                      id_col: str = "doc_id"):
    """Incremental (batch-over-ledger) exact dedup — the crawl-ingest
    shape: a new batch arrives, anything whose digest is already in the
    persisted ``seen_df`` ledger (columns ``md5_hi``/``md5_lo``, the
    :func:`md5_s64_pair` key) is dropped, and within the batch the
    canonical (min id) row wins. Returns one row per NOVEL digest:
    ``(md5_hi, md5_lo, canonical_id, n_copies)`` — exactly the rows a
    caller appends to the ledger before the next batch.

    Scale shape: digests-not-bodies on both sides; one left_anti join
    against the ledger (digest-keyed, AQE picks broadcast while the
    ledger is small and SMJ once it is not) + the in-batch groupBy.
    Nothing rescans or reshuffles the historical corpus — the ledger is
    16 bytes/distinct-doc, the only state the pipeline carries forward.
    """
    from pyspark.sql import functions as F

    hi, lo = md5_s64_pair(F.col(text_col))
    keyed = docs.select(
        F.col(id_col), hi.alias("md5_hi"), lo.alias("md5_lo")
    )
    novel = keyed.join(
        seen_df.select("md5_hi", "md5_lo"), ["md5_hi", "md5_lo"],
        "left_anti",
    )
    return novel.groupBy("md5_hi", "md5_lo").agg(
        F.min(id_col).alias("canonical_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


def _bloom_positions(hi, lo, n_bits: int, n_hashes: int):
    """Kirsch-Mitzenmacher double hashing over the md5 halves: the
    digest is already uniform, so position i = (hi + i*lo) mod n_bits
    gives k independent-enough probes with zero extra hashing.
    ``hi``/``lo`` are int64 numpy arrays; returns (k, n) uint64
    positions. n_bits must be a power of two."""
    import numpy as np

    h = hi.astype(np.uint64)
    d = lo.astype(np.uint64)
    mask = np.uint64(n_bits - 1)
    return np.stack([
        (h + np.uint64(i) * d) & mask for i in range(n_hashes)
    ])


def build_digest_bloom(seen_df, n_bits: int = 1 << 23,
                       n_hashes: int = 4) -> bytes:
    """Bloom bitmap over the ledger's (md5_hi, md5_lo) digests —
    the pre-filter state for :func:`incremental_dedup_bloom`.

    Shape: one map-only pass over the ledger builds a partial bitmap
    per partition (numpy bitwise-or inside Arrow batches); the driver
    ORs the partials. Driver traffic is #partitions × n_bits/8 bytes
    of BITMAP — never row data — the same bounded-collect budget as
    the lineage/metrics checkpoints (and exactly how Spark's own
    ``df.stat.bloomFilter`` treeAggregate works). n_bits must be a
    power of two; at the default 2^23 the bitmap is 1 MiB and holds
    ~1M ledger digests at ~2% false-positive rate — size it to the
    ledger (FPR ≈ (1 - e^(-k·n/m))^k)."""
    import numpy as np
    import pandas as pd

    assert n_bits & (n_bits - 1) == 0, "n_bits must be a power of two"

    def fn(batches):
        bm = np.zeros(n_bits // 8, dtype=np.uint8)
        any_rows = False
        for pdf in batches:
            if not len(pdf):
                continue
            any_rows = True
            pos = _bloom_positions(
                pdf["md5_hi"].to_numpy(np.int64),
                pdf["md5_lo"].to_numpy(np.int64),
                n_bits, n_hashes,
            ).ravel()
            np.bitwise_or.at(
                bm, (pos >> np.uint64(3)).astype(np.int64),
                (np.uint8(1) << (pos & np.uint64(7)).astype(np.uint8)),
            )
        if any_rows:
            yield pd.DataFrame({"bm": [bm.tobytes()]})

    partials = (
        seen_df.select("md5_hi", "md5_lo")
        .mapInPandas(fn, "bm binary")
        .collect()
    )
    import numpy as np  # noqa: F811 — local scope for the reduce

    out = np.zeros(n_bits // 8, dtype=np.uint8)
    for r in partials:
        out |= np.frombuffer(r["bm"], dtype=np.uint8)
    return out.tobytes()


def incremental_dedup_bloom(docs, seen_df, text_col: str = "text",
                            id_col: str = "doc_id",
                            n_bits: int = 1 << 23, n_hashes: int = 4,
                            bloom: bytes = None):
    """:func:`incremental_dedup` with a broadcast Bloom pre-filter —
    the 10^12-row shape: rows whose digest the bloom rejects are
    DEFINITELY novel (a Bloom filter has no false negatives) and skip
    the ledger anti-join entirely; only the bloom-positive sliver
    (true dups + the FPR) shuffles against the ledger for exact
    verification, so join traffic scales with the dup rate instead of
    the batch size. Output is row-for-row identical to
    :func:`incremental_dedup` — the bloom only routes, never decides.

    Plan shape: the digest+bloom stage appears in BOTH union branches
    (Catalyst does not share subtrees across a union) — a deliberate
    scan-twice / shuffle-only-candidates trade: the repeated work is a
    map-only projection over the scan, the avoided work is shuffling
    the whole batch into the anti-join. Runtime bloom filters cannot
    express this for ANTI joins (non-matching rows are the OUTPUT, so
    a pre-join filter may not drop them); the explicit split is the
    correct formulation.

    Pass ``bloom=`` to reuse a bitmap across batches (the steady-state
    ingest loop builds it once per ledger compaction)."""
    import numpy as np
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    if bloom is None:
        bloom = build_digest_bloom(seen_df, n_bits, n_hashes)
    sc = docs.sparkSession.sparkContext
    b_bloom = sc.broadcast(bloom)

    @pandas_udf("boolean")
    def maybe_seen(hi, lo):
        import pandas as pd

        bm = np.frombuffer(b_bloom.value, dtype=np.uint8)
        pos = _bloom_positions(
            hi.to_numpy(np.int64), lo.to_numpy(np.int64),
            n_bits, n_hashes,
        )
        byte = (pos >> np.uint64(3)).astype(np.int64)
        bit = (np.uint8(1) << (pos & np.uint64(7)).astype(np.uint8))
        return pd.Series(((bm[byte] & bit) != 0).all(axis=0))

    hi, lo = md5_s64_pair(F.col(text_col))
    keyed = docs.select(
        F.col(id_col), hi.alias("md5_hi"), lo.alias("md5_lo")
    ).withColumn("__maybe", maybe_seen("md5_hi", "md5_lo"))
    sure_new = keyed.where(~F.col("__maybe")).drop("__maybe")
    candidates = keyed.where(F.col("__maybe")).drop("__maybe")
    verified_new = candidates.join(
        seen_df.select("md5_hi", "md5_lo"), ["md5_hi", "md5_lo"],
        "left_anti",
    )
    return sure_new.unionByName(verified_new).groupBy(
        "md5_hi", "md5_lo"
    ).agg(
        F.min(id_col).alias("canonical_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


def near_dup_clusters(docs, pairs, id_col: str = "doc_id",
                      max_iter: int = 20):
    """Connected components over near-dup candidate pairs — the final
    step of a production dedup pipeline: transitively-linked documents
    form one cluster and the cluster keeps one canonical copy. Returns
    ``(doc_id, cluster_id)`` for EVERY document (singletons cluster to
    themselves); ``cluster_id`` is the minimum doc id in the component,
    so the labeling is deterministic and the canonical row is
    ``doc_id == cluster_id``.

    Algorithm: min-label propagation (the GraphX/GraphFrames CC shape
    restated in DataFrame ops). Each round, every node takes the min of
    its own label and its neighbors\' labels — one digest-sized shuffle
    per round over the EDGE list only (never document bodies), and the
    loop stops as soon as a round changes nothing (an O(1) count per
    round). Rounds needed = component diameter; near-dup components are
    short chains, so this converges in a handful of rounds — and the
    label table is persisted each round so round N+1 never recomputes
    round N. At 10^12 docs the labels table is (id, id) longs and every
    join is key-partitioned; for adversarial long-chain graphs swap in
    alternating large-star/small-star, which this loop structure
    accommodates without changing callers.
    """
    from pyspark.sql import functions as F

    # symmetric edges once; self-edges are unnecessary (own label is
    # carried by the left join below)
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionAll(
            pairs.select(F.col("id_b").alias("src"),
                         F.col("id_a").alias("dst"))
        )
        .persist()
    )
    # localCheckpoint, not persist: each round's table references the
    # previous one TWICE (via nbr_min and via the left join), so with
    # plain persist the LOGICAL plan doubles per round — exponential in
    # rounds (a 10-round run produced a 2 GiB plan string)
    # even though the data is cached. localCheckpoint truncates lineage
    # so plan size stays O(1) per round; the round's `changed` count
    # materializes the table anyway, so eager checkpointing adds no
    # extra pass. (Cluster note: localCheckpoint trades lineage
    # recovery for bounded plans — the canonical choice for iterative
    # label propagation.)
    labels = docs.select(
        F.col(id_col).alias("node"), F.col(id_col).alias("lbl")
    ).localCheckpoint(eager=True)
    converged = False
    for _ in range(max_iter):
        nbr_min = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src").agg(F.min("lbl").alias("nbr_lbl"))
        )
        new_labels = (
            labels.join(nbr_min, labels.node == nbr_min.src, "left")
            .select(
                "node",
                F.least(F.col("lbl"), F.coalesce("nbr_lbl", F.col("lbl")))
                .alias("lbl"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), F.col("n.node") == F.col("o.node"))
            .filter(F.col("n.lbl") != F.col("o.lbl"))
            .limit(1).count()
        )
        labels = new_labels
        if changed == 0:
            converged = True
            break
    edges.unpersist()
    if not converged:
        # silent fall-through would return partial (k-hop) minima —
        # multiple "canonical" rows per component with no signal
        raise RuntimeError(
            f"near_dup_clusters did not converge in {max_iter} rounds "
            "(a component's diameter exceeds max_iter); raise max_iter "
            "or pre-split giant components"
        )
    return labels.select(F.col("node").alias(id_col),
                         F.col("lbl").alias("cluster_id"))


def cluster_representatives(clusters, docs, score_col: str = "n_chars",
                            id_col: str = "doc_id"):
    """Pick the row a near-dup cluster KEEPS — the quality-argmax
    policy (keep the longest/highest-scoring member) rather than
    ``near_dup_clusters``'s positional canonical (min doc id). The
    winner is max ``score_col``, ties to the SMALLEST id so re-runs
    are deterministic.

    Output: ``(cluster_id, rep_id, rep_score, n_members)``.

    Scale shape: one id-keyed join to fetch scores (both sides narrow:
    (id, cluster) × (id, score)), then ONE cluster-keyed shuffle whose
    winner is ``max(struct(score, -id))`` — partial-aggregated
    map-side, so the shuffle carries one candidate per (partition,
    cluster), never the membership list."""
    from pyspark.sql import functions as F

    j = clusters.join(docs.select(id_col, score_col), id_col)
    agg = j.groupBy("cluster_id").agg(
        F.max(
            F.struct(
                F.col(score_col).alias("__s"),
                (-F.col(id_col)).alias("__nid"),
            )
        ).alias("__w"),
        F.count(F.lit(1)).cast("long").alias("n_members"),
    )
    return agg.select(
        "cluster_id",
        (-F.col("__w.__nid")).cast("long").alias("rep_id"),
        F.col("__w.__s").alias("rep_score"),
        "n_members",
    )


# ── shingling + minhash + LSH ─────────────────────────────────────────


def shingle_hashes(df, text_col: str = "text", id_col: str = "doc_id",
                   n: int = SHINGLE_N):
    """(id, shingle_hash) — one row per char n-gram position, hashed.
    Pure Catalyst: sequence+transform+explode, no UDF."""
    from pyspark.sql import functions as F

    grams = F.expr(
        f"transform(sequence(1, greatest(length({text_col}) - {n - 1}, 1)), "
        f"i -> substr({text_col}, i, {n}))"
    )
    out = df.select(
        F.col(id_col), F.explode(grams).alias("shingle")
    )
    return out.select(
        id_col, hash64(F.col("shingle")).alias("shingle_hash")
    ).distinct()


def minhash_signature(df, text_col: str = "text", id_col: str = "doc_id",
                      k: int = MINHASH_K, shingle_df=None):
    """Per-doc minhash signature: k columns ``mh0..mh{k-1}``, each
    ``min((a_i * (h % p) + b_i) % p)`` over the doc's shingle set.
    groupBy gets map-side partial mins for free.

    ``shingle_df``: precomputed :func:`shingle_hashes` output. At scale
    the shingle explode (~len(text) rows/doc) dominates the near-dup
    stack's cost — compute it ONCE, persist (or write) it, and pass it
    to every consumer (signatures, sizes, both jaccard join sides)
    instead of re-deriving it per stage; Spark's ReusedExchange only
    catches bit-identical subtrees, not logically-equal recomputes."""
    from pyspark.sql import functions as F

    sh = (shingle_df if shingle_df is not None
          else shingle_hashes(df, text_col, id_col))
    h = F.col("shingle_hash") % MERSENNE31
    aggs = [
        F.min((MINHASH_A[i] * h + MINHASH_B[i]) % MERSENNE31).alias(f"mh{i}")
        for i in range(k)
    ]
    return sh.groupBy(id_col).agg(*aggs)


def lsh_bands(sig_df, id_col: str = "doc_id", bands: int = 4,
              rows: int = 4):
    """Signature → (id, band_id, band_hash): hash each band of ``rows``
    consecutive signature values. Docs sharing any (band_id, band_hash)
    bucket are candidate near-dups.

    Shape note: ONE ``explode(array(struct...))`` over the signature
    table, NOT a union of per-band selects. The union form lets column
    pruning push each band's 4-column projection into its own copy of
    the signature aggregation — canonically different subtrees, so
    exchange reuse can't dedupe them and the shingle→signature groupBy
    (the stack's big shuffle) runs ``bands``× per consumer. The explode
    form keeps a single signature subtree; its exchange is planned once
    and ReusedExchange-shared across every downstream use."""
    from pyspark.sql import functions as F

    band_structs = [
        F.struct(
            F.lit(b).alias("band_id"),
            hash64(F.concat_ws("-", *[
                F.col(f"mh{b * rows + r}").cast("string")
                for r in range(rows)
            ])).alias("band_hash"),
        )
        for b in range(bands)
    ]
    return (
        sig_df.select(
            F.col(id_col), F.explode(F.array(*band_structs)).alias("__bb")
        )
        .select(id_col, "__bb.band_id", "__bb.band_hash")
    )


def lsh_candidate_pairs(df, text_col: str = "text", id_col: str = "doc_id",
                        bands: int = 4, rows: int = 4,
                        max_bucket: int | None = LSH_MAX_BUCKET,
                        shingle_df=None):
    """Distinct candidate pairs (id_a < id_b) sharing an LSH bucket.
    The join key is (band_id, band_hash): only same-bucket rows shuffle
    together — the whole point of LSH at 10^12 docs. Skewed buckets
    are handled twice over: AQE skew-join splits oversized partitions,
    and buckets larger than ``max_bucket`` members are DROPPED before
    the pair join (a left-semi against the under-cap bucket keys) — the
    cap bounds output cardinality at ``max_bucket²/2`` pairs per bucket,
    which AQE alone cannot do. ``max_bucket=None`` disables the cap."""
    from pyspark.sql import functions as F

    bands_df = lsh_bands(
        minhash_signature(df, text_col, id_col, shingle_df=shingle_df),
        id_col, bands, rows,
    )
    if max_bucket is not None:
        ok = (
            bands_df.groupBy("band_id", "band_hash")
            .agg(F.count(F.lit(1)).alias("__bn"))
            .filter(F.col("__bn") <= max_bucket)
            .select("band_id", "band_hash")
        )
        # the bands exchange is identical on both sides -> ReusedExchange;
        # the cap costs one extra agg over bucket keys, no extra scan
        bands_df = bands_df.join(ok, ["band_id", "band_hash"], "left_semi")
    a = bands_df.select(
        F.col("band_id"), F.col("band_hash"), F.col(id_col).alias("id_a")
    )
    b = bands_df.select(
        F.col("band_id"), F.col("band_hash"), F.col(id_col).alias("id_b")
    )
    return (
        a.join(b, ["band_id", "band_hash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def ngram_jaccard_pairs(df, pairs_df, text_col: str = "text",
                        id_col: str = "doc_id", shingle_df=None):
    """Exact n-gram Jaccard similarity for given candidate pairs:
    |A ∩ B| / |A ∪ B| over distinct shingle-hash sets. Joins shingles
    only for candidate ids (semi-join pushdown), never all-pairs.

    Pass a persisted ``shingle_df`` (see :func:`minhash_signature`) so
    the shingle explode — the stack's dominant cost at 100 TB — is
    computed once for ``sa``, ``sb``, ``sizes`` AND the caller's LSH
    pipeline, instead of up to 3x here plus once upstream."""
    from pyspark.sql import functions as F

    sh = (shingle_df if shingle_df is not None
          else shingle_hashes(df, text_col, id_col))
    sa = sh.select(F.col(id_col).alias("id_a"), "shingle_hash")
    sb = sh.select(F.col(id_col).alias("id_b"), "shingle_hash")
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))

    inter = (
        pairs_df.join(sa, "id_a")
        .join(sb, ["id_b", "shingle_hash"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    out = (
        inter.join(sizes.withColumnRenamed(id_col, "id_a")
                   .withColumnRenamed("sz", "sz_a"), "id_a")
        .join(sizes.withColumnRenamed(id_col, "id_b")
              .withColumnRenamed("sz", "sz_b"), "id_b")
    )
    # exact half-up rounding to 6 decimals IN INTEGER SPACE: jaccard is
    # a small-denominator rational, so double ROUND ties are common and
    # engines break them differently (Spark half-up, DuckDB half-even —
    # a real mismatch surfaced at sf0.1). DIV on int64 is bit-exact in
    # both engines; the final /1e6 maps equal integers to equal doubles.
    jac = F.expr(
        "(2000000 * n_inter + (sz_a + sz_b - n_inter))"
        " div (2 * (sz_a + sz_b - n_inter))"
    ) / F.lit(1_000_000.0)
    return out.select(
        "id_a", "id_b",
        jac.alias("jaccard"),
    )


def incremental_lsh_pairs(docs, ledger_bands, ledger_shingles,
                          text_col: str = "text",
                          id_col: str = "doc_id",
                          bands: int = 4, rows: int = 4,
                          max_bucket: int | None = LSH_MAX_BUCKET,
                          shingle_df=None):
    """Incremental (batch-over-ledger) NEAR-dup detection — the LSH
    analog of :func:`incremental_dedup`, for recrawl pipelines that
    must near-dedupe every new snapshot against everything already
    ingested WITHOUT re-pairing the historical corpus against itself.

    Ledger state (what a caller persists between batches — both are
    exactly the tables the batch stack already materializes):

    - ``ledger_bands``: all previous docs' LSH band buckets
      (:func:`lsh_bands` output, ~``bands``·24 bytes per doc) — the
      candidate router;
    - ``ledger_shingles``: all previous docs' shingle hashes
      (:func:`shingle_hashes` output) — the exact-verify side. Large,
      but verification only ever JOINS it on candidate ids (semi-join
      pushdown below), never rescans it; at 100 TB store it bucketed
      by ``doc_id`` so the candidate fetch prunes to the touched
      buckets.

    Returns verified pairs ``(id_a, id_b, jaccard)``, ``id_a < id_b``,
    where AT LEAST ONE side is from the new batch — ledger-internal
    pairs were reported when their own batches arrived (the law the
    pytest pins: incremental output == batch output over the union
    minus the old-old pairs). Appending the batch's
    :func:`lsh_bands`/:func:`shingle_hashes` rows to the two ledgers
    is the caller's commit step, same as :func:`incremental_dedup`'s
    digest append.

    Scale shape: the new batch's bands join (band_id, band_hash)
    against ledger+self — only same-bucket rows shuffle together, so
    per-batch cost is O(batch + touched buckets), independent of
    corpus size. The ``max_bucket`` cap is evaluated over LEDGER+BATCH
    bucket population (a boilerplate bucket stays dropped forever, it
    does not sneak back one batch at a time); Jaccard sizes are
    computed only over candidate docs' shingles."""
    from pyspark.sql import functions as F

    batch_sh = (shingle_df if shingle_df is not None
                else shingle_hashes(docs, text_col, id_col))
    batch_bands = lsh_bands(
        minhash_signature(docs, text_col, id_col, shingle_df=batch_sh),
        id_col, bands, rows,
    )
    all_bands = ledger_bands.select(
        id_col, "band_id", "band_hash"
    ).unionAll(batch_bands.select(id_col, "band_id", "band_hash"))
    if max_bucket is not None:
        ok = (
            all_bands.groupBy("band_id", "band_hash")
            .agg(F.count(F.lit(1)).alias("__bn"))
            .filter(F.col("__bn") <= max_bucket)
            .select("band_id", "band_hash")
        )
        batch_bands = batch_bands.join(
            ok, ["band_id", "band_hash"], "left_semi")
        all_bands = all_bands.join(
            ok, ["band_id", "band_hash"], "left_semi")
    a = batch_bands.select(
        "band_id", "band_hash", F.col(id_col).alias("__na"))
    b = all_bands.select(
        "band_id", "band_hash", F.col(id_col).alias("__nb"))
    pairs = (
        a.join(b, ["band_id", "band_hash"])
        .filter(F.col("__na") != F.col("__nb"))
        .select(
            F.least("__na", "__nb").alias("id_a"),
            F.greatest("__na", "__nb").alias("id_b"),
        )
        .distinct()
    )
    union_sh = ledger_shingles.select(
        id_col, "shingle_hash"
    ).unionAll(batch_sh.select(id_col, "shingle_hash"))
    cand_ids = (
        pairs.select(F.col("id_a").alias(id_col))
        .unionAll(pairs.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    sh_cand = union_sh.join(cand_ids, id_col, "left_semi")
    return ngram_jaccard_pairs(docs, pairs, text_col, id_col,
                               shingle_df=sh_cand)


# ── asymmetric containment (quote / subset detection) ────────────────

# Shingles appearing in more than this many documents are dropped
# before the containment pair join: a corpus-wide boilerplate shingle
# ("Copyright ©", nav chrome) would otherwise shuffle O(N) rows to one
# key and emit O(N²) candidate rows. Dropping high-document-frequency
# shingles is the standard containment-search move (they carry no
# quote signal by definition); the cap bounds the join's per-key
# fan-out at CONTAIN_MAX_DF² regardless of corpus size.
CONTAIN_MAX_DF = 64


def containment_pairs(df, text_col: str = "text", id_col: str = "doc_id",
                      n: int = SHINGLE_N, min_inter: int = 3,
                      max_df: int = CONTAIN_MAX_DF, shingle_df=None):
    """Asymmetric n-gram containment — quote/subset detection, the
    complement of :func:`ngram_jaccard_pairs`: a short document quoted
    verbatim inside a long one has LOW Jaccard (the union is dominated
    by the long doc) but containment ``|A∩B| / |A|`` ≈ 1, so
    MinHash/LSH never surfaces it.  This is the Broder (1997) resemblance
    vs containment distinction; dedup pipelines need both.

    Candidate generation joins documents on SHARED RARE SHINGLES rather
    than LSH bands: keep only shingles whose document frequency is
    ≤ ``max_df`` (see :data:`CONTAIN_MAX_DF`), self-join on the shingle
    hash, and keep pairs sharing ≥ ``min_inter`` surviving shingles.
    Output per pair: the intersection size over the capped shingle
    pool, each side's FULL distinct-shingle count, and both directional
    containment ratios (``cont_a`` = how much of A appears in B) —
    half-up-rounded to 6 decimals in integer space (the
    :func:`ngram_jaccard_pairs` cross-engine contract).  The capped
    intersection understates the true one only on df-heavy shingles,
    which is the documented trade for a bounded join.

    Scale shape: one groupBy over shingle hashes (map-side combined)
    for the df cap, one equality self-join keyed on the shingle hash
    with per-key fan-out ≤ max_df², one pair-keyed aggregate.  Never
    all-pairs; no windows.
    """
    from pyspark.sql import functions as F

    sh = (shingle_df if shingle_df is not None
          else shingle_hashes(df, text_col, id_col, n=n))
    rare = (
        sh.groupBy("shingle_hash")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") <= int(max_df))
        .select("shingle_hash")
    )
    # the shingle exchange is identical on both sides → ReusedExchange
    shc = sh.join(rare, "shingle_hash", "left_semi")
    inter = (
        shc.select(F.col(id_col).alias("id_a"), "shingle_hash")
        .join(shc.select(F.col(id_col).alias("id_b"), "shingle_hash"),
              "shingle_hash")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
        .filter(F.col("n_inter") >= int(min_inter))
    )
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    out = (
        inter.join(sizes.withColumnRenamed(id_col, "id_a")
                   .withColumnRenamed("sz", "sz_a"), "id_a")
        .join(sizes.withColumnRenamed(id_col, "id_b")
              .withColumnRenamed("sz", "sz_b"), "id_b")
    )
    # integer-space half-up rounding to 6 decimals (double ROUND ties
    # split differently across engines — same rationale as jaccard)
    cont_a = F.expr("(2000000 * n_inter + sz_a) div (2 * sz_a)") \
        / F.lit(1_000_000.0)
    cont_b = F.expr("(2000000 * n_inter + sz_b) div (2 * sz_b)") \
        / F.lit(1_000_000.0)
    return out.select(
        "id_a", "id_b", "n_inter", "sz_a", "sz_b",
        cont_a.alias("cont_a"), cont_b.alias("cont_b"),
    )


# ── simhash ───────────────────────────────────────────────────────────


def simhash(df, text_col: str = "text", id_col: str = "doc_id",
            bits: int = SIMHASH_BITS):
    """Per-doc SimHash over whitespace-token hashes: bit j of the result
    is 1 iff sum over tokens of ±1 (by bit j of the token hash) is > 0.
    Pure Catalyst: explode + groupBy with ``bits`` conditional sums."""
    from pyspark.sql import functions as F

    toks = df.select(
        F.col(id_col),
        F.explode(F.split(F.col(text_col), r"\s+")).alias("tok"),
    ).filter(F.length("tok") > 0)
    toks = toks.select(id_col, hash64(F.col("tok")).alias("th"))
    aggs = [
        F.sum(
            F.when(F.shiftright(F.col("th"), j).bitwiseAND(1) == 1, 1)
            .otherwise(-1)
        ).alias(f"b{j}")
        for j in range(bits)
    ]
    per_bit = toks.groupBy(id_col).agg(*aggs)
    val = F.lit(0).cast("long")
    for j in range(bits):
        val = val + F.when(F.col(f"b{j}") > 0, F.lit(1 << j)).otherwise(0)
    return per_bit.select(id_col, val.alias("simhash"))


# ── fingerprint sketch ────────────────────────────────────────────────


def doc_fingerprint(df, text_col: str = "text", id_col: str = "doc_id",
                    k: int = FINGERPRINT_K, shingle_df=None):
    """Bottom-k sketch: k salted minima over the doc's shingle-hash set
    (columns ``fp0..fp{k-1}``). Equal sketches ⇒ near-identical content;
    the streaming-friendly cousin of winnowing fingerprints."""
    from pyspark.sql import functions as F

    sh = (shingle_df if shingle_df is not None
          else shingle_hashes(df, text_col, id_col))
    h = F.col("shingle_hash") % MERSENNE31
    aggs = [
        F.min((MINHASH_A[i] * h + 17 * (i + 1)) % MERSENNE31).alias(f"fp{i}")
        for i in range(k)
    ]
    return sh.groupBy(id_col).agg(*aggs)


def simhash_near_dup_pairs(df, text_col: str = "text",
                           id_col: str = "doc_id",
                           max_hamming: int = 3, bands: int = 4,
                           max_bucket: int | None = LSH_MAX_BUCKET,
                           sim_df=None):
    """SimHash near-dup pairs (Charikar 2002 + the Manku/Jain/Sarma
    pigeonhole trick): split the ``SIMHASH_BITS``-bit fingerprint into
    ``bands`` equal bit-bands — any pair within Hamming distance
    ``max_hamming < bands`` shares at least one band VERBATIM — so
    candidates come from an equality join on (band_id, band_value),
    never an all-pairs scan, and the exact ``bit_count(xor)`` check
    verifies each candidate. Same bounded-bucket treatment as LSH:
    buckets over ``max_bucket`` members are dropped before the pair
    join (output stays ≤ max_bucket²/2 per bucket).

    Output: distinct ``(id_a, id_b, hamming)`` with id_a < id_b and
    hamming <= max_hamming. Pass ``sim_df`` to reuse persisted
    fingerprints."""
    from pyspark.sql import functions as F

    if max_hamming >= bands:
        raise ValueError(
            "pigeonhole needs max_hamming < bands "
            f"(got {max_hamming} >= {bands})"
        )
    if SIMHASH_BITS % bands:
        raise ValueError("bands must divide SIMHASH_BITS")
    width = SIMHASH_BITS // bands
    mask = (1 << width) - 1
    sims = sim_df if sim_df is not None else simhash(df, text_col, id_col)
    banded = sims.select(
        F.col(id_col), F.col("simhash"),
        F.explode(F.array(*[
            F.struct(
                F.lit(b).alias("band_id"),
                F.shiftright(F.col("simhash"), b * width)
                .bitwiseAND(mask).alias("band_val"),
            )
            for b in range(bands)
        ])).alias("p"),
    ).select(id_col, "simhash",
             F.col("p.band_id").alias("band_id"),
             F.col("p.band_val").alias("band_val"))
    if max_bucket is not None:
        ok = (
            banded.groupBy("band_id", "band_val")
            .agg(F.count(F.lit(1)).alias("__bn"))
            .filter(F.col("__bn") <= max_bucket)
            .select("band_id", "band_val")
        )
        banded = banded.join(ok, ["band_id", "band_val"], "left_semi")
    a = banded.select("band_id", "band_val",
                      F.col(id_col).alias("id_a"),
                      F.col("simhash").alias("__sa"))
    b = banded.select("band_id", "band_val",
                      F.col(id_col).alias("id_b"),
                      F.col("simhash").alias("__sb"))
    return (
        a.join(b, ["band_id", "band_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b",
            F.bit_count(
                F.col("__sa").bitwiseXOR(F.col("__sb"))
            ).cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )
