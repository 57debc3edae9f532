"""Broadcast-hash-join enrichment: lang / TLD / status dictionaries.

The reference has no joins (SURVEY.md §2.6); BASELINE.json mandates
dictionary enrichment as the Spark-side generalization. Dimensions are
tiny, deterministic and defined in-code (FIXTURES.md §3). Each is an
inline ``VALUES`` relation (a ``LocalRelation``), so its broadcast is
built from the plan's literals by a JVM-only job: no RDD of pickled rows,
no Python task, no Python worker. Each is joined with an explicit
``F.broadcast`` hint so the plan is a BroadcastHashJoin with no shuffle of
the fact side — the only join strategy that survives a 10^12-row fact
table with dictionary dims.
"""

from __future__ import annotations

from .filters import sql_string

# lang -> (name, family); 'zh'/'zz' deliberately absent to exercise the
# left-join null path
LANG_DIM = [
    ("en", "English", "Germanic"),
    ("de", "German", "Germanic"),
    ("fr", "French", "Romance"),
    ("es", "Spanish", "Romance"),
]

# tld -> (region, is_cc)
TLD_DIM = [
    ("com", "global", False),
    ("org", "global", False),
    ("net", "global", False),
    ("de", "europe", True),
    ("fr", "europe", True),
    ("io", "europe", True),
]

# level -> (severity, is_error); keyed by the parsed Level field
STATUS_DIM = [
    ("TRACE", 0, False),
    ("INFO", 1, False),
    ("EVENT", 2, False),
    ("WARN", 3, True),
    ("ERROR", 4, True),
]


def _sql_literal(v) -> str:
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    return sql_string(str(v))


def _inline_dim(spark, rows: list[tuple], schema: str):
    """``rows`` as a ``VALUES`` relation with ``schema``'s column names and
    types. The rows are rendered as SQL literals: positional ``spark.sql``
    args bind out of order inside ``VALUES`` on Spark 4.1, and
    ``createDataFrame`` would plan a Python RDD."""
    cols = [c.split() for c in schema.split(",")]
    values = ", ".join(
        "(" + ", ".join(_sql_literal(v) for v in r) + ")" for r in rows)
    select = ", ".join(
        f"CAST(col{i} AS {typ}) AS {name}" for i, (name, typ) in enumerate(cols, 1))
    return spark.sql(f"SELECT {select} FROM VALUES {values}")


def lang_dim(spark):
    return _inline_dim(
        spark, LANG_DIM, "lang STRING, lang_name STRING, lang_family STRING")


def tld_dim(spark):
    return _inline_dim(spark, TLD_DIM, "tld STRING, region STRING, is_cc BOOLEAN")


def status_dim(spark):
    return _inline_dim(
        spark, STATUS_DIM, "level STRING, severity INT, is_error BOOLEAN")


def url_host(col):
    """Host component of a URL column (pure Catalyst; parse_url is
    codegen-able JVM)."""
    from pyspark.sql import functions as F

    return F.parse_url(col, F.lit("HOST"))


def url_tld(col):
    """TLD = substring after the last '.' of the host."""
    from pyspark.sql import functions as F

    return F.substring_index(url_host(col), ".", -1)


def page_host_cols(pages, url_col: str = "url"):
    """Derive host/tld ONCE per page, BEFORE the line explode: the
    classic push-computation-above-the-fan-out move — at ~30 lines/page
    this is 30x fewer parse_url evaluations, and short host/tld strings
    replace the full url through every downstream operator (including
    the Arrow boundary of the parse stage)."""
    from pyspark.sql import functions as F

    return pages.withColumn("host", url_host(F.col(url_col))).withColumn(
        "tld", F.substring_index(F.col("host"), ".", -1)
    )


def enrich_lang(df, spark, lang_col: str = "lang"):
    from pyspark.sql import functions as F

    return df.join(F.broadcast(lang_dim(spark)), on=lang_col, how="left")


def enrich_tld(df, spark, url_col: str = "url"):
    """Joins the tld dim; reuses a pre-derived ``tld`` column when
    present (see :func:`page_host_cols`), else derives it from the url."""
    from pyspark.sql import functions as F

    out = df
    if "tld" not in df.columns:
        out = out.withColumn("tld", url_tld(F.col(url_col)))
    return out.join(F.broadcast(tld_dim(spark)), on="tld", how="left")


def enrich_status(df, spark, level_col: str = "parsed.Level"):
    from pyspark.sql import functions as F

    out = df.withColumn("level", F.col(level_col))
    return out.join(F.broadcast(status_dim(spark)), on="level", how="left")


def enrich_all(df, spark, url_col: str = "url", lang_col: str = "lang",
               level_col: str = "parsed.Level"):
    """All three dictionary joins; each is a broadcast, so the fact side
    streams through a single stage with zero shuffles. Works whether the
    tld was pre-derived per page (preferred) or must come from the url."""
    out = enrich_lang(df, spark, lang_col)
    out = enrich_tld(out, spark, url_col)
    return enrich_status(out, spark, level_col)
