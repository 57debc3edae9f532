"""URL canonicalization for crawl dedup/partitioning — pure Catalyst
(regexp + array expressions inside whole-stage codegen, no UDF).

Canonical form follows the common crawl-dedup conventions (RFC 3986
normalization plus tracker stripping): lowercase scheme and host, drop
the fragment, drop default ports (http:80 / https:443), drop ``utm_*``
tracking parameters, sort the remaining query parameters, drop an
empty query outright, and normalize an empty path to ``/``. Two URLs that differ only in those aspects
canonicalize identically, which is what makes the canonical string a
valid dedup / partition key at 10^12 pages.

Scale shape: map-only projection over the scan — no shuffle, no state;
the canonical key then feeds the same digest-keyed dedup shuffles as
document text (`dedup.exact_dedup` on ``canonical_url``).
"""

from __future__ import annotations

_URL_RX = r"^([A-Za-z][A-Za-z0-9+.\-]*)://([^/?#]*)([^?#]*)(?:\?([^#]*))?(?:#.*)?$"


def canonicalize_url(df, url_col: str = "url", out_col: str = "canonical_url"):
    """Add ``out_col`` (the canonical form) plus ``host`` (lowercased,
    port stripped) to ``df``. Rows that do not look like absolute URLs
    canonicalize to NULL (callers route them to a reject sink)."""
    from pyspark.sql import functions as F

    u = F.col(url_col)
    scheme = F.lower(F.regexp_extract(u, _URL_RX, 1))
    # userinfo ("user:pass@") is dropped from the canonical form — two
    # fetches of the same page with and without credentials must share
    # a dedup key, and the host must join host-keyed tables
    authority = F.regexp_replace(
        F.lower(F.regexp_extract(u, _URL_RX, 2)), r"^[^@]*@", ""
    )
    path = F.regexp_extract(u, _URL_RX, 3)
    query = F.regexp_extract(u, _URL_RX, 4)

    host = F.regexp_replace(authority, r":\d+$", "")
    port = F.regexp_extract(authority, r":(\d+)$", 1)
    keep_port = (port != "") & ~(
        ((scheme == "http") & (port == "80"))
        | ((scheme == "https") & (port == "443"))
    )
    norm_auth = F.when(keep_port, F.concat(host, F.lit(":"), port)) \
        .otherwise(host)

    # query: split on '&', drop empties and utm_* trackers, sort, rejoin
    params = F.array_sort(
        F.filter(
            F.split(query, "&"),
            lambda p: (F.length(p) > 0) & ~p.startswith("utm_"),
        )
    )
    norm_query = F.when(
        (query == "") | (F.size(params) == 0), F.lit("")
    ).otherwise(F.concat(F.lit("?"), F.array_join(params, "&")))

    canon = F.when(
        (scheme == "") | (host == ""), F.lit(None).cast("string")
    ).otherwise(
        F.concat(
            scheme, F.lit("://"), norm_auth,
            F.when(path == "", F.lit("/")).otherwise(path),
            norm_query,
        )
    )
    return df.withColumn(out_col, canon).withColumn("host", host)


def parse_robots(robots, host_col: str = "host", txt_col: str = "robots_txt"):
    """robots.txt text → one rule row per
    ``(host, path_prefix, rule_len, rule_rx, is_allow)``: pure Catalyst
    (split lines → explode → regexp_extract), the shape a crawl
    pipeline materializes once per host and broadcasts.

    The RFC 9309 rule surface that path filtering needs: ``Allow:`` /
    ``Disallow:`` lines (case-insensitive keys, inline ``#`` comments
    stripped, whitespace trimmed), with the mandatory ``*`` wildcard
    and end-of-URL ``$`` specials compiled into ``rule_rx`` (all other
    regex metacharacters escaped). ``rule_len`` is the rule's octet
    length — RFC 9309's "most specific = most octets" tiebreak key.
    Group attribution (User-agent sections) is intentionally out of
    scope here — the caller pre-filters to its agent's section; an
    empty Disallow value ("allow all") yields no rule row, matching
    the spec."""
    from pyspark.sql import functions as F

    line = F.explode(F.split(F.col(txt_col), "\r?\n")).alias("line")
    rx = r"(?i)^\s*(allow|disallow)\s*:\s*([^#]*)"
    kind = F.lower(F.regexp_extract("line", rx, 1))
    path = F.trim(F.regexp_extract("line", rx, 2))
    base = (
        robots.select(F.col(host_col), line)
        .select(host_col, kind.alias("__kind"), path.alias("path_prefix"))
        .where((F.col("__kind") != "") & (F.col("path_prefix") != ""))
    )
    # compile the rule to an anchored regex: a trailing '$' means
    # end-of-URL (handled before escaping), '*' becomes '.*', every
    # other metacharacter is escaped literally
    ends = F.col("path_prefix").endswith("$")
    body = F.when(
        ends, F.expr("substring(path_prefix, 1, length(path_prefix) - 1)")
    ).otherwise(F.col("path_prefix"))
    esc = F.regexp_replace(body, r"([\\.\[\]\{\}\(\)\+\?\^\$\|])", r"\\$1")
    rule_rx = F.concat(
        F.lit("^"),
        F.regexp_replace(esc, r"\*", ".*"),
        F.when(ends, F.lit("$")).otherwise(F.lit("")),
    )
    return base.select(
        host_col,
        "path_prefix",
        F.length("path_prefix").cast("int").alias("rule_len"),
        rule_rx.alias("rule_rx"),
        (F.col("__kind") == "allow").alias("is_allow"),
    )


def robots_crawl_delay(robots, host_col: str = "host",
                       txt_col: str = "robots_txt",
                       default_s: int = 1):
    """``Crawl-delay:`` extraction from robots.txt — the de-facto
    directive (not in RFC 9309, honored by Bing/Yandex and most
    polite crawlers) that sets the per-host request spacing a frontier
    scheduler must respect.

    Pinned rule: case-insensitive key, inline ``#`` comments stripped,
    value is a non-negative decimal number — fractional delays (e.g.
    ``Crawl-delay: 2.5``, common in real robots.txt) are honored by
    taking the CEILING (exact ``decimal(18,9)`` arithmetic, no float),
    so a declared fractional spacing is never undercut; garbage values
    are ignored — the conservative read of a malformed line. Like
    :func:`parse_robots` this extractor is section-agnostic, so
    when a file carries several valid lines (multiple User-agent
    sections) the MAXIMUM wins — the conservative choice: never hit a
    host faster than any section allows. Hosts with no valid directive
    — INCLUDING hosts whose ``robots_txt`` is NULL (fetch failure) —
    get ``default_s``: the explode is ``explode_outer`` precisely so a
    NULL file still yields its one output row (inner-join consumers
    like :func:`crawl_schedule` must never silently lose a host).

    Output: one row per input host, ``(host, crawl_delay_s)``. Pure
    Catalyst (split → explode → regexp) plus one host-keyed min/max
    agg over directive rows only — broadcastable next to the rule
    table at any scale."""
    from pyspark.sql import functions as F

    line = F.explode_outer(F.split(F.col(txt_col), "\r?\n")) \
        .alias("line")
    val = F.regexp_extract(
        "line",
        r"(?i)^\s*crawl-delay\s*:\s*([0-9]+(?:\.[0-9]+)?)\s*(?:#.*)?$",
        1,
    )
    per_line = (
        robots.select(F.col(host_col), line)
        .select(host_col, val.alias("__v"))
        .withColumn(
            "__d",
            F.when(
                F.col("__v") != "",
                F.ceil(F.col("__v").cast("decimal(18,9)"))
                .cast("long"),
            ),
        )
    )
    return per_line.groupBy(host_col).agg(
        F.coalesce(F.max("__d"), F.lit(int(default_s)).cast("long"))
        .alias("crawl_delay_s")
    )


def crawl_schedule(df, delays, url_col: str = "url",
                   host_col: str = "host", default_s: int = 1,
                   order_df=None):
    """The frontier scheduler's actual output: politeness-ordered
    fetch slots (:func:`politeness_order`) joined with each host's
    ``Crawl-delay`` (:func:`robots_crawl_delay`) into a concrete
    dispatch offset — ``dispatch_s = slot * crawl_delay_s``, the
    earliest second (relative to the host's first fetch) at which the
    URL may be fetched without violating the host's declared spacing.
    Hosts absent from ``delays`` get ``default_s``.

    Output: ``(url, host, slot, position, crawl_delay_s, dispatch_s)``.

    Scale shape: inherits politeness_order's two-level salted ranks
    (no unbounded window partitions); the delay table is one row per
    host — broadcastable up to ~10^8 hosts, a plain key join past
    that. The scheduler downstream orders by (dispatch_s, position),
    both already computed here.

    A caller that already materialized :func:`politeness_order` output
    (``url, host, slot, position``) passes it as ``order_df`` and the
    schedule becomes just the delay join + the slot×delay projection —
    skipping the two-level re-rank entirely (the round-4 plan audit
    counted xchg×11 when it was always re-derived; the fed path is the
    ~xchg×3 increment). ``df``/``url_col`` are ignored when
    ``order_df`` is given."""
    from pyspark.sql import functions as F

    ordered = politeness_order(df, url_col) if order_df is None \
        else order_df
    j = ordered.join(
        F.broadcast(delays.select(host_col, "crawl_delay_s")),
        host_col, "left",
    )
    delay = F.coalesce(
        F.col("crawl_delay_s"), F.lit(int(default_s)).cast("long")
    )
    return j.select(
        "url", host_col, "slot", "position",
        delay.alias("crawl_delay_s"),
        (F.col("slot") * delay).cast("long").alias("dispatch_s"),
    )


def robots_filter(pages, rules, host_col: str = "host",
                  path_col: str = "path"):
    """Longest-match robots evaluation (RFC 9309): for each page, among
    the host's rules whose compiled pattern matches the page path, the
    one with the most octets wins; on a tie ``Allow`` wins; no matching
    rule (or no rules / NULL host at all) means allowed. Adds
    ``allowed`` (bool, never NULL).

    Scale shape: ZERO page-side shuffles — the per-host rule lists
    (~10 rules/host) are collected once and broadcast, so evaluation is
    a map-side join plus a per-row array argmax; the page table is
    scanned exactly once and never grouped or self-joined."""
    from pyspark.sql import functions as F

    per_host = rules.groupBy(host_col).agg(
        F.collect_list(
            F.struct("rule_rx", "rule_len", "is_allow")
        ).alias("__rules")
    )
    joined = pages.join(F.broadcast(per_host), host_col, "left")
    matching = F.filter(
        F.col("__rules"),
        lambda r: F.regexp_like(F.col(path_col), r["rule_rx"]),
    )
    best = F.array_max(
        F.transform(
            matching,
            lambda r: F.struct(r["rule_len"].alias("l"),
                               r["is_allow"].alias("a")),
        )
    )
    return joined.withColumn(
        "allowed",
        F.when(F.col("__rules").isNull() | best.isNull(), F.lit(True))
        .otherwise(best["a"]),
    ).drop("__rules")


_HREF_RX = r'href="([^"]*)"'


def extract_outlinks(pages, html_col: str = "html",
                     src_host_col: str = "host", id_col: str = "doc_id"):
    """Outlink edge extraction — the map-only stage that turns a crawl
    into a host-level web graph. Pure Catalyst: one
    ``regexp_extract_all`` over the page, an explode, and per-link
    classification expressions (no UDF, no shuffle).

    Per ``href`` value:

    - absolute ``http(s)://…`` → destination host (lowercased, port
      and userinfo stripped, same normalization as
      :func:`canonicalize_url`);
    - protocol-relative ``//host/…`` → that host;
    - root-relative ``/path`` → the page's own host (an internal edge);
    - everything else (``mailto:``, ``javascript:``, ``#anchor``,
      path-relative ``page.html`` — which needs the page path to
      resolve) is dropped.

    Output: ``(id_col, src_host, dst_host, href, is_internal)``, one
    row per resolved link, document order preserved within a page.
    """
    from pyspark.sql import functions as F

    links = pages.select(
        F.col(id_col),
        F.col(src_host_col).alias("src_host"),
        F.explode(
            F.regexp_extract_all(F.col(html_col), F.lit(_HREF_RX), F.lit(1))
        ).alias("href"),
    )
    return (
        links.withColumn(
            "dst_host", _dst_host_expr(F.col("href"), F.col("src_host"))
        )
        .where(F.col("dst_host").isNotNull() & (F.col("dst_host") != ""))
        .withColumn("is_internal", F.col("dst_host") == F.col("src_host"))
    )


def _dst_host_expr(h, src_host):
    """href → destination host (the shared classification rule of
    :func:`extract_outlinks`, reused verbatim by
    :func:`extract_anchors`): absolute/protocol-relative hosts are
    lowercased with userinfo and port stripped, root-relative links
    resolve to the page's own host, everything else is NULL."""
    from pyspark.sql import functions as F

    abs_auth = F.regexp_extract(h, r"^(?i:https?)://([^/?#]*)", 1)
    rel_auth = F.regexp_extract(h, r"^//([^/?#]+)", 1)

    def _host(auth):
        return F.regexp_replace(
            F.regexp_replace(F.lower(auth), r"^[^@]*@", ""), r":\d+$", ""
        )

    return (
        F.when(abs_auth != "", _host(abs_auth))
        .when(rel_auth != "", _host(rel_auth))
        .when(h.startswith("/") & ~h.startswith("//"), src_host)
        .otherwise(F.lit(None).cast("string"))
    )


# one whole <a …>…</a> element; (?s) so anchors spanning lines match
_ANCHOR_ELEM_RX = r'(?s)<a\b[^>]*href="[^"]*"[^>]*>.*?</a>'


def extract_anchors(pages, html_col: str = "html",
                    src_host_col: str = "host", id_col: str = "doc_id"):
    """Anchor-text extraction — the signal Common Crawl ships as its
    anchor-text corpus and search/ranking pipelines train on: for
    every resolvable link, the VISIBLE text of the ``<a>`` element,
    cleaned (inner tags stripped, the five named HTML entities
    unescaped, whitespace collapsed and trimmed).

    Destination-host resolution is byte-identical to
    :func:`extract_outlinks` (shared ``_dst_host_expr``); links that
    don't resolve (mailto/javascript/#fragment/path-relative) are
    dropped.

    Output: ``(id_col, src_host, dst_host, anchor)`` — one row per
    resolved anchor, ``anchor`` possibly empty (image links).

    Scale shape: pure Catalyst, map-only — one ``regexp_extract_all``
    + explode + per-row regexes; no UDF, no shuffle. The downstream
    aggregate (:func:`anchor_text_stats`) owns the shuffle."""
    from pyspark.sql import functions as F

    elems = pages.select(
        F.col(id_col),
        F.col(src_host_col).alias("src_host"),
        F.explode(
            F.regexp_extract_all(
                F.col(html_col), F.lit(_ANCHOR_ELEM_RX), F.lit(0)
            )
        ).alias("__a"),
    )
    a = F.col("__a")
    href = F.regexp_extract(a, r'href="([^"]*)"', 1)
    inner = F.regexp_extract(a, r"(?s)^<a\b[^>]*>(.*)</a>$", 1)
    text = F.trim(F.regexp_replace(F.regexp_replace(
        _unescape_entities(F.regexp_replace(inner, r"(?s)<[^>]*>", " ")),
        r"\s+", " "), r"^\s+|\s+$", ""))
    return (
        elems.select(
            id_col,
            "src_host",
            _dst_host_expr(href, F.col("src_host")).alias("dst_host"),
            text.alias("anchor"),
        )
        .where(F.col("dst_host").isNotNull() & (F.col("dst_host") != ""))
    )


def _unescape_entities(col):
    """Unescape the five named HTML entities; numeric refs are out of
    scope, since anchors only need the named five."""
    from pyspark.sql import functions as F

    for ent, ch in (("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
                    ("&#39;", "'"), ("&amp;", "&")):
        col = F.replace(col, F.lit(ent), F.lit(ch))
    return col


def anchor_text_stats(anchors):
    """Per-destination-host anchor-text profile: total inbound
    anchors, distinct texts, and the most frequent text (ties → the
    lexicographically smallest, so the result is deterministic).

    Output: ``(dst_host, n_anchors, n_unique_texts, top_anchor,
    top_n)``.

    Scale shape: two aggregates — (dst_host, anchor) partial counts,
    then one per-host fold where the top text is a ``min(struct(-n,
    anchor))`` (an aggregate with map-side combine, NOT a per-host
    row_number window — a mega-host's million distinct anchor texts
    fold in parallel instead of sorting in one task)."""
    from pyspark.sql import functions as F

    counts = anchors.groupBy("dst_host", "anchor").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    top = F.min(F.struct((-F.col("n")).alias("neg_n"), "anchor"))
    return counts.groupBy("dst_host").agg(
        F.sum("n").cast("long").alias("n_anchors"),
        F.count(F.lit(1)).cast("long").alias("n_unique_texts"),
        top.getField("anchor").alias("top_anchor"),
        (-top.getField("neg_n")).cast("long").alias("top_n"),
    )


def host_link_degrees(edges):
    """Host-level link-graph degree table from an edge list:
    ``(dst_host, in_degree, n_src_hosts, n_internal)`` — total inbound
    links, distinct referring hosts, and how many inbound links are
    the host linking to itself.

    One aggregate with map-side partials; ``n_src_hosts`` is an exact
    distinct (a second partial-aggregate pass on (dst, src), still one
    logical shuffle key). At web scale dst_host is Zipfian — the
    standard salting/AQE-skew handling from ``plans.skew`` applies
    unchanged since the key is a plain string column.
    """
    from pyspark.sql import functions as F

    return edges.groupBy("dst_host").agg(
        F.count("*").cast("long").alias("in_degree"),
        F.countDistinct("src_host").cast("long").alias("n_src_hosts"),
        F.sum(F.col("is_internal").cast("long")).cast("long")
        .alias("n_internal"),
    )


PAGERANK_SCALE = 1_000_000_000_000  # ranks in parts-per-trillion


def host_pagerank(edges, iters: int = 3, damping_pct: int = 85):
    """Host-level PageRank (the crawl-curation signal behind Common
    Crawl's host ranks), kept INTEGER-EXACT so any engine reproduces
    every rank bit for bit: ranks live in parts-per-trillion of the
    total mass, and each iteration computes

        r'(v) = base + (damping_pct * sum_{u->v} (r(u) div outdeg(u)))
                       div 100
        base  = ((100 - damping_pct) * SCALE div 100) div N

    with integer division throughout — no float sums to reorder under
    partitioning. Dangling mass is not redistributed (the standard
    simplification; a constant per-iteration leak that rescales, not
    reorders, the ranking). Self-loops and multi-edges are collapsed
    to the simple directed graph first.

    Output: ``(host, rank)`` over all vertices (sources and sinks).

    Scale shape: the edge list is joined ONCE to the out-degree table
    (outside the loop); each iteration is then one shuffle join
    (rank ⋈ edges on src) + one aggregate (on dst) — the canonical
    distributed PageRank step. Both shuffles key on host strings;
    pre-bucketing edges by src and dst host (written once, reused
    every iteration) removes the per-iteration edge shuffle on a real
    cluster, and AQE's skew split handles the Zipfian hub hosts.
    ``iters`` unrolls into the logical plan, so keep it small (<=6) or
    checkpoint between iterations; web-graph practice converges the
    ORDERING in a handful of iterations.
    """
    from pyspark.sql import functions as F

    e = edges.select("src_host", "dst_host").distinct()
    verts = (
        e.select(F.col("src_host").alias("host"))
        .union(e.select(F.col("dst_host").alias("host")))
        .distinct()
    )
    out = e.groupBy("src_host").agg(
        F.count("*").cast("long").alias("outdeg")
    )
    e_out = e.join(out, "src_host")  # one join, reused every iteration

    n = int(verts.count())
    base = ((100 - damping_pct) * PAGERANK_SCALE // 100) // n
    r = verts.select("host", F.lit(PAGERANK_SCALE // n).cast("long")
                     .alias("rank"))
    for _ in range(iters):
        contrib = (
            e_out.join(r, e_out["src_host"] == r["host"])
            .select(
                F.col("dst_host").alias("host"),
                F.expr("rank div outdeg").alias("__c"),
            )
            .groupBy("host")
            .agg(F.sum("__c").cast("long").alias("__c"))
        )
        r = verts.join(contrib, "host", "left").select(
            "host",
            (F.lit(base)
             + F.expr(f"({damping_pct} * coalesce(__c, 0)) div 100"))
            .cast("long").alias("rank"),
        )
    return r


HITS_SCALE = 1_000_000  # hub/authority scores in ppm of the per-iteration max


def host_hits(edges, iters: int = 3):
    """HITS hubs-and-authorities (Kleinberg 1999) over the host graph —
    the complementary centrality to :func:`host_pagerank`: authorities
    are hosts many good hubs point TO, hubs are hosts that point to
    many good authorities. Crawl curation uses both (PageRank for
    global importance, HITS for topical directory/resource detection).

    Kept INTEGER-EXACT so any engine reproduces every score bit for
    bit: scores live in ppm of the iteration's maximum (max-norm
    replaces the usual L2 norm — same fixpoint direction, no sqrt, no
    float accumulation order), and each iteration computes

        auth'(v) = (Σ_{u→v} hub(u)) · SCALE div max_v(Σ hub)
        hub'(u)  = (Σ_{u→v} auth'(v)) · SCALE div max_u(Σ auth')

    with trunc integer division throughout. Multi-edges/self-loops are
    collapsed to the simple directed graph first; vertices with no
    in-links (out-links) get authority (hub) 0. The ·SCALE products go
    through DECIMAL(38,0): Σ hub ≤ N·SCALE, so the product overflows
    int64 past ~9·10⁶ hosts — routine at web scale.

    Output: ``(host, authority, hub)`` for all vertices.

    Scale shape: each iteration is two shuffle join+aggregate steps
    over the edge list (the canonical distributed HITS step) plus one
    O(1) scalar max per step (a driver literal — two tiny jobs per
    iteration). ``iters`` unrolls into
    the logical plan, so keep it small (≤6) or checkpoint between
    iterations — the same contract as :func:`host_pagerank`.
    """
    from pyspark.sql import functions as F

    e = edges.select("src_host", "dst_host").distinct().persist()
    verts = (
        e.select(F.col("src_host").alias("host"))
        .union(e.select(F.col("dst_host").alias("host")))
        .distinct()
        .persist()
    )
    hub = verts.select(
        "host", F.lit(HITS_SCALE).cast("long").alias("hub")
    )
    auth = None
    for _ in range(iters):
        raw_a = (
            e.join(hub, e["src_host"] == hub["host"])
            .groupBy(F.col("dst_host").alias("host"))
            .agg(F.sum("hub").cast("long").alias("__s"))
        )
        amax = raw_a.agg(F.max("__s")).collect()[0][0] or 1
        auth = verts.join(raw_a, "host", "left").select(
            "host",
            F.expr(
                f"(CAST(coalesce(__s, 0) AS DECIMAL(38,0))"
                f" * {HITS_SCALE}) div {int(amax)}"
            ).cast("long").alias("authority"),
        )
        raw_h = (
            e.join(auth, e["dst_host"] == auth["host"])
            .groupBy(F.col("src_host").alias("host"))
            .agg(F.sum("authority").cast("long").alias("__s"))
        )
        hmax = raw_h.agg(F.max("__s")).collect()[0][0] or 1
        hub = verts.join(raw_h, "host", "left").select(
            "host",
            F.expr(
                f"(CAST(coalesce(__s, 0) AS DECIMAL(38,0))"
                f" * {HITS_SCALE}) div {int(hmax)}"
            ).cast("long").alias("hub"),
        )
    return auth.join(hub, "host").select("host", "authority", "hub")


def surt_key(canonical_url_col, host_col):
    """SURT (Sort-friendly URI Reordering Transform) key from a
    canonicalized URL: reversed-host joined with commas, ``)``, then
    the path+query — ``com,example,www)/path?q=1``. Grouping every
    host's (and domain's) captures contiguously is what makes one
    sorted index answer both per-host and per-domain lookups."""
    from pyspark.sql import functions as F

    rest = F.regexp_replace(
        canonical_url_col, r"^[a-z][a-z0-9+.\-]*://[^/?#]*", ""
    )
    return F.concat(
        F.array_join(F.reverse(F.split(host_col, r"\.")), ","),
        F.lit(")"),
        rest,
    )


def build_cdx(pages, url_col: str = "url", id_col: str = "doc_id",
              prefix_len: int = 10, bucket_cap: int = 1_000_000,
              ext_len: int = 16):
    """CDX-style globally ranked capture index (the web-archive lookup
    structure): canonicalize every URL, derive its SURT key, and
    assign each capture its ordinal in the GLOBAL SURT sort order —
    without ever running a single-partition global window.

    Rank = two-level prefix sum keyed by the SURT key's own prefix:
    because lexicographic order is prefix-consistent (a < b ⇒
    prefix(a) ≤ prefix(b)), the first ``prefix_len`` characters split
    the key space into contiguous, DETERMINISTIC buckets — unlike
    ``repartitionByRange``'s sampled boundaries or
    ``spark_partition_id``, which can differ between the two passes
    (count pass + rank pass) and silently corrupt ordinals. Within a
    bucket a bounded window ranks by (key, id); bucket totals are
    prefix-summed on the tiny bucket table and broadcast back — the
    same shape as ``parse.with_global_line_id``.

    ``prefix_len`` tunes bucket granularity: longer prefixes = more,
    smaller buckets. The reversed-host layout concentrates ``com,``
    prefixes, so production deployments size it past the domain (the
    CDX convention of per-host index shards is exactly this with
    prefix = whole host). Rows whose URL does not canonicalize
    (NULL) are excluded — they belong to a reject sink.

    Hot-key guard: a mega-host (SURT keys start with the reversed
    host, so one host = one prefix bucket) would otherwise collapse
    into ONE window partition sorted by one task. Any bucket whose
    count exceeds ``bucket_cap`` is SUB-SPLIT by extending its prefix
    ``ext_len`` more characters — order-preserving, because a bucket
    either extends wholesale or not at all (the condition depends only
    on the bucket's count), so mixed-length bucket ids never share a
    10-char prefix and still sort lexicographically with the rank
    order. A bucket that stays oversized after extension (keys
    identical past ``prefix_len + ext_len`` chars) degrades to one
    big partition — correct, just unsplit; size ``ext_len`` past the
    hottest host's shared path prefix.

    Output: ``(rank, surt_key, doc_id)``, rank 1-based and dense over
    the kept rows, bit-equal to ``row_number() OVER (ORDER BY
    surt_key, doc_id)``.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    canon = canonicalize_url(pages, url_col=url_col)
    base = (
        canon.where(F.col("canonical_url").isNotNull())
        .select(
            F.col(id_col),
            surt_key(F.col("canonical_url"), F.col("host"))
            .alias("surt_key"),
        )
        .withColumn("__b0", F.substring("surt_key", 1, prefix_len))
    )
    b0tot = base.groupBy("__b0").agg(F.count(F.lit(1)).alias("__bn"))
    split = base.join(F.broadcast(b0tot), "__b0").withColumn(
        "__b",
        F.when(
            F.col("__bn") > int(bucket_cap),
            F.substring("surt_key", 1, prefix_len + ext_len),
        ).otherwise(F.col("__b0")),
    ).drop("__b0", "__bn")
    w_in = Window.partitionBy("__b").orderBy("surt_key", id_col)
    local = split.withColumn("__r", F.row_number().over(w_in))
    btot = split.groupBy("__b").agg(F.count(F.lit(1)).alias("__bn"))
    w_b = Window.orderBy("__b").rowsBetween(
        Window.unboundedPreceding, -1
    )
    boff = btot.withColumn(
        "__boff", F.coalesce(F.sum("__bn").over(w_b), F.lit(0))
    ).select("__b", "__boff")
    return (
        local.join(F.broadcast(boff), "__b")
        .select(
            (F.col("__boff") + F.col("__r")).cast("long").alias("rank"),
            "surt_key",
            id_col,
        )
    )


def cdx_lookup(cdx, prefix: str, id_col: str = "doc_id"):
    """All captures under a SURT prefix (the CDX query primitive:
    ``com,example)`` = one host, ``com,example`` = the whole domain
    incl. subdomains — the reversed-host layout makes both a single
    contiguous key range), in index order. Map-only prefix filter; on
    a table written with ``write_cdx_partitioned`` the same predicate
    prunes partitions instead (see ``cdx_lookup_pruned``)."""
    from pyspark.sql import functions as F

    return (
        cdx.where(F.col("surt_key").startswith(prefix))
        .select("rank", "surt_key", id_col)
        .orderBy("rank")
    )


def write_cdx_partitioned(cdx, path: str, prefix_len: int = 10,
                          id_col: str = "doc_id"):
    """Persist the CDX index PARTITIONED BY the same deterministic
    SURT-key prefix that ranked it — every prefix lookup then reads
    only the directories whose bucket value can match (Spark evaluates
    the partition-column predicate against directory values, never
    opening non-matching files). This is the web-archive layout where
    per-host/per-prefix CDX shards serve lookups without touching the
    rest of the index."""
    from pyspark.sql import functions as F

    (
        cdx.withColumn("__b", F.substring("surt_key", 1, prefix_len))
        .repartition("__b")
        .write.mode("overwrite").partitionBy("__b").parquet(path)
    )


def cdx_lookup_pruned(spark, path: str, prefix: str, prefix_len: int = 10,
                      id_col: str = "doc_id"):
    """Prefix lookup against a ``write_cdx_partitioned`` table: the
    bucket predicate (``__b`` starts with the lookup prefix truncated
    to the partition prefix, or equals it when the lookup is longer)
    is a PARTITION filter — only matching directories are listed and
    read — and the exact ``surt_key`` prefix filter then applies
    inside them."""
    from pyspark.sql import functions as F

    df = spark.read.parquet(path)
    bucket_pred = (
        F.col("__b") == prefix[:prefix_len]
        if len(prefix) >= prefix_len
        else F.col("__b").startswith(prefix)
    )
    return (
        df.where(bucket_pred)
        .where(F.col("surt_key").startswith(prefix))
        .select("rank", "surt_key", id_col)
        .orderBy("rank")
    )


def politeness_order(df, url_col: str = "url"):
    """Crawl-frontier POLITENESS ordering: assign every URL a fetch
    position such that same-host URLs are maximally spaced — the
    classic frontier scheduler (one fetch slot per host per round).
    ``slot`` = the URL's 0-based round within its host, ordered by
    (md5(url), url) — the hash order doubles as the salting key, see
    below; ``position`` = the global 1-based fetch rank by
    (slot, md5(host), url) — all of round 0 first, hosts shuffled
    within a round by the hash so no host monopolizes a window even
    in lexicographic url sets.

    Output: ``(url, host, slot, position)``.

    Scale shape — NO unbounded window partitions anywhere. Both ranks
    are two-level prefix sums (the ``with_global_line_id``
    construction), and both bucket an ordering key by ITS OWN PREFIX,
    which is simultaneously order-preserving (lexicographic order is
    prefix-consistent) and balanced (the key is a hash, so bucket
    sizes are binomial, never a mega-host):

    * slot: within-host order key is md5(url); bucket = its first 2
      hex chars → 256 even sub-buckets per host; row_number per
      (host, bucket) + per-host bucket-offset window (≤256 rows per
      partition).
    * position: within-slot order key is md5(host); bucket = its
      first 2 hex chars; row_number per (slot, bucket) + per-slot
      bucket offsets (≤256 rows) + the global slot-offset window
      (one row per round — bounded by the busiest host's URL count,
      the frontier's intrinsic round count)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    # Case-insensitive scheme + lowercased host, matching
    # canonicalize_url — an uppercase-scheme URL (HTTP://…) must NOT
    # collapse into host '' and be scheduled as one giant pseudo-host.
    host = F.lower(F.regexp_extract(
        F.col(url_col), "^[A-Za-z][A-Za-z0-9+.-]*://([^/]+)", 1
    ))
    base = df.select(
        F.col(url_col).alias("url"), host.alias("host"),
        F.md5(F.col(url_col)).alias("__uh"),
    ).withColumn("__ub", F.substring("__uh", 1, 2))

    # slot = two-level rank within host, ordered by (md5(url), url).
    hb_counts = base.groupBy("host", "__ub").agg(
        F.count("*").alias("__n")
    )
    hb_off = hb_counts.select(
        "host", "__ub",
        (F.sum("__n").over(
            Window.partitionBy("host").orderBy("__ub")
            .rowsBetween(Window.unboundedPreceding, 0)
        ) - F.col("__n")).alias("__hoff"),
    )
    within_h = F.row_number().over(
        Window.partitionBy("host", "__ub").orderBy("__uh", "url")
    )
    d1 = (
        base.join(hb_off, ["host", "__ub"])
        .select(
            "url", "host",
            (F.col("__hoff") + within_h - 1).cast("long").alias("slot"),
            F.md5("host").alias("__hh"),
        )
        .withColumn("__hb", F.substring("__hh", 1, 2))
    )

    # position = two-level rank by (slot, md5(host), url): per-(slot,
    # host-hash-bucket) row_number + per-slot bucket offsets + global
    # slot offsets.
    sb_counts = d1.groupBy("slot", "__hb").agg(F.count("*").alias("__n"))
    slot_off = (
        sb_counts.groupBy("slot").agg(F.sum("__n").alias("__sn"))
        .select(
            "slot",
            (F.sum("__sn").over(
                Window.orderBy("slot")
                .rowsBetween(Window.unboundedPreceding, 0)
            ) - F.col("__sn")).alias("__soff"),
        )
    )
    sb_off = sb_counts.select(
        "slot", "__hb",
        (F.sum("__n").over(
            Window.partitionBy("slot").orderBy("__hb")
            .rowsBetween(Window.unboundedPreceding, 0)
        ) - F.col("__n")).alias("__boff"),
    )
    within_g = F.row_number().over(
        Window.partitionBy("slot", "__hb").orderBy("__hh", "url")
    )
    return (
        d1.join(sb_off, ["slot", "__hb"])
        .join(F.broadcast(slot_off), "slot")
        .select(
            "url", "host", "slot",
            (F.col("__soff") + F.col("__boff") + within_g)
            .cast("long").alias("position"),
        )
    )


# one <url>…</url> or <sitemap>…</sitemap> entry block
_SITEMAP_ENTRY_RX = r"(?s)<(?:url|sitemap)>.*?</(?:url|sitemap)>"


def parse_sitemaps(sitemaps, xml_col: str = "xml",
                   id_col: str = "sitemap_id"):
    """Sitemap-protocol parser (sitemaps.org 0.9, the discovery
    channel robots.txt points crawlers at): handles both document
    kinds — ``<urlset>`` leaves (one row per ``<url>`` entry with
    ``loc`` / optional ``lastmod`` / optional ``priority``) and
    ``<sitemapindex>`` nodes (one row per child ``<sitemap>``
    pointer, ``is_index=true``, lastmod kept, priority NULL — the
    index element has none). ``loc`` values are XML-unescaped
    (``&amp;`` etc — the spec REQUIRES escaping ampersands in URLs).
    Entries missing ``<loc>`` are dropped (spec: required element).

    Output: ``(sitemap_id, is_index, seq, loc, lastmod, priority)``
    — ``seq`` the 0-based ordinal of the entry BLOCK within its
    document (a dropped loc-less block keeps its ordinal, so seq can
    have gaps — positions stay stable for diffing two fetches),
    ``priority`` in parts-per-thousand (integer — '0.5' → 500) so
    cross-engine comparison is exact.

    Scale shape: pure Catalyst, map-only — one ``regexp_extract_all``
    + ``posexplode`` + per-entry regexes; a 50k-URL sitemap (the spec
    max) is one row in, 50k out, no shuffle anywhere."""
    from pyspark.sql import functions as F

    entries = sitemaps.select(
        F.col(id_col),
        F.col(xml_col).rlike(r"(?s)<sitemapindex[\s>]")
        .alias("is_index"),
        F.posexplode(
            F.regexp_extract_all(
                F.col(xml_col), F.lit(_SITEMAP_ENTRY_RX), F.lit(0)
            )
        ).alias("seq", "__e"),
    )
    e = F.col("__e")
    loc_raw = F.regexp_extract(e, r"(?s)<loc>\s*(.*?)\s*</loc>", 1)
    loc = loc_raw
    for ent, ch in (("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
                    ("&apos;", "'"), ("&amp;", "&")):
        loc = F.replace(loc, F.lit(ent), F.lit(ch))
    lastmod = F.regexp_extract(
        e, r"(?s)<lastmod>\s*(.*?)\s*</lastmod>", 1
    )
    prio = F.regexp_extract(
        e, r"(?s)<priority>\s*([0-9.]+)\s*</priority>", 1
    )
    return entries.select(
        id_col,
        "is_index",
        F.col("seq").cast("long"),
        loc.alias("loc"),
        F.when(lastmod != "", lastmod).alias("lastmod"),
        F.when(
            ~F.col("is_index") & (prio != ""),
            F.round(prio.cast("double") * 1000).cast("long"),
        ).alias("priority_ppk"),
    ).where(F.col("loc") != "")


def robots_sitemaps(robots, host_col: str = "host",
                    txt_col: str = "robots_txt"):
    """``Sitemap:`` directives from robots.txt (RFC 9309 §2.3 allows
    them anywhere in the file, outside any User-agent group;
    case-insensitive key, absolute URL value) — the discovery link
    between the robots gate (:func:`parse_robots`) and the sitemap
    parser (:func:`parse_sitemaps`).

    Output: ``(host, sitemap_url)``, one row per directive, duplicates
    preserved (a fetch scheduler dedups on the URL key). Map-only."""
    from pyspark.sql import functions as F

    line = F.explode(F.split(F.col(txt_col), "\r?\n")).alias("line")
    rx = r"(?i)^\s*sitemap\s*:\s*(\S+)"
    url = F.regexp_extract("line", rx, 1)
    return (
        robots.select(F.col(host_col), line)
        .select(host_col, url.alias("sitemap_url"))
        .where(F.col("sitemap_url") != "")
    )


# A compact public-suffix subset (publicsuffix.org list, public
# domain): multi-label suffixes a crawl most often meets. The full
# PSL is a data file a deployment drops in via `extra_suffixes`; the
# ALGORITHM (longest matching suffix wins, registrable domain = one
# label more) is the standard one and is what's under test.
PSL_MULTI = [
    "co.uk", "org.uk", "ac.uk", "gov.uk", "com.au", "net.au",
    "org.au", "co.jp", "or.jp", "ne.jp", "com.br", "com.cn",
    "com.mx", "co.in", "co.kr", "com.tr", "com.ar", "co.za",
    "com.sg", "com.hk",
]


def registrable_domain(df, host_col: str = "host",
                       out_col: str = "etld1",
                       extra_suffixes: list | None = None):
    """eTLD+1 (registrable domain) extraction — the aggregation key
    web-scale dedup/mixing actually wants (``site7.co.uk`` and
    ``www.site7.co.uk`` are one publisher; ``host`` alone over-splits,
    TLD alone over-merges).

    Longest-match against the public-suffix set: if the host ends in
    a known multi-label suffix, take suffix + one label; else the
    classic last-two-labels fallback. Single-label hosts (localhost,
    IPs are out of scope) pass through unchanged. Pure Catalyst —
    one regexp per multi-label suffix arm folded into a CASE chain,
    map-only, no UDF.

    Scale note: the suffix set is a compile-time constant folded into
    codegen (the full PSL ~9k entries would instead broadcast-join a
    suffix table keyed by the host's last two labels; same shape,
    bigger dimension — this operator pins the algorithm and the
    hot-path form)."""
    from pyspark.sql import functions as F

    suffixes = sorted(
        set(PSL_MULTI) | set(extra_suffixes or []),
        key=lambda s: -s.count("."),
    )
    h = F.lower(F.col(host_col))
    expr = F.regexp_extract(h, r"([^.]+\.[^.]+)$", 1)
    for suf in suffixes:
        pat = r"([^.]+\." + suf.replace(".", r"\.") + r")$"
        expr = F.when(
            h.rlike(r"(^|\.)" + suf.replace(".", r"\.") + r"$")
            & h.rlike(pat),
            F.regexp_extract(h, pat, 1),
        ).otherwise(expr)
    out = F.when(h.contains("."), expr).otherwise(h)
    return df.withColumn(out_col, out)
